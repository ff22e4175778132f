"""The benchmark's metric catalogue: every name it reports, with its unit.

``BENCHMARK.json`` at the checkout root lists the same names; a test in
``perfbench/tests`` keeps the two in step.
"""

from __future__ import annotations

from replay import PHASES

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "worker_rss_mib": "MiB",
    "ok_frac": "ratio",
}

DEDUP_OPS = ("dedup.dedup_exact", "dedup.minhash_lsh_candidates",
             "dedup.duplicate_components", "dedup.dedup_survivors",
             "textstats.text_quality")

PER_LAYER = {f"{p}.ms_per_doc": "ms" for p in PHASES}
PER_LAYER.update({
    "kernel.extract_document_bytes.ms_per_doc": "ms",
    "kernel.replay_coverage": "ratio",
    "kernel.retry_share": "ratio",
    "dom.elements_per_doc": "count",
    "dom.depth_max": "count",
    "dom.elements_x_depth.p50": "count",
    "dom.elements_x_depth.max": "count",
    "pipeline.tasks": "count",
    "pipeline.task_p50_s": "s",
    "pipeline.task_max_s": "s",
    "pipeline.task_skew": "ratio",
    "pipeline.executor_run_s": "s",
    "pipeline.executor_cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.python_bytes_in_per_doc": "bytes",
    "pipeline.python_bytes_out_per_doc": "bytes",
    "pipeline.overhead_ms_per_doc": "ms",
    "pipeline.scaling_eff_1to4": "ratio",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.traced_docs_per_s": "docs/s",
    "trace.overhead": "ratio",
    "jvm_rss_mib": "MiB",
    "manifest.crash_s": "s",
    "manifest.resume_s": "s",
    "manifest.groups_run": "count",
    "manifest.redo_docs": "count",
    "manifest.wall_s_per_group": "s",
    "sinks.bytes_written_per_doc": "bytes",
})
for _op in DEDUP_OPS:
    PER_LAYER.update({
        f"{_op}.s": "s",
        f"{_op}.shuffle_write_bytes": "bytes",
        f"{_op}.shuffle_read_bytes": "bytes",
        f"{_op}.spill_bytes": "bytes",
        f"{_op}.peak_exec_mem_bytes": "bytes",
    })
PER_LAYER.update({
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "ratio",
    "dedup.survivors": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.ms_per_state_key": "ms",
    "streaming.dedup_exact_stream_watermark.s": "s",
    "streaming.minhash_lsh_stream.s": "s",
})
