"""defuddle-spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload extract_flat --seed 1 \
        --seconds 15 --trace 0

Runs from the root of a checkout and writes only under ``.bench_work/``
there. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload again with the Spark event log on, job groups and spans
around each public call, a ``local[1]`` scaling pass and the in-process
kernel replay, and prints the per-layer metrics. The last line of
standard output is one JSON object; earlier lines record the settings,
the input size and the per-pass figures. The exit code is 1 when any
output check fails and 2 when the checkout is incomplete.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
REPLAY_SAMPLE = 240


def info(tag: str, payload) -> None:
    print(json.dumps({tag: payload}, sort_keys=True), flush=True)


def measure(wl, spark, spans, seconds: float) -> list:
    import harness
    return harness.timed_passes(seconds, lambda: wl.run_pass(spark, spans))


def rate(outcomes) -> float:
    return statistics.median(o.docs / o.seconds for o in outcomes)


def read_memory() -> dict:
    import procmem
    procs = procmem.spark_processes(os.getpid())
    return {"worker_rss_mib": procmem.high_water_mib(procs.workers),
            "jvm_rss_mib": procmem.high_water_mib(procs.jvm),
            "workers": len(procs.workers), "daemons": len(procs.daemons)}


def set_up(wl, conf: dict, cores: int, reps: int):
    """Start the JVM and the Python workers and run one primed pass on a
    few pages (paid once per process), then set the input up ``reps``
    times: write it, read it back, cache it. setup_s = session start +
    the median input set-up."""
    import harness
    spark = harness.start_session(conf, cores)
    jvm_s = time.perf_counter() - T_START
    wl.prime(spark)
    session_s = time.perf_counter() - T_START
    reps_s = []
    for _ in range(reps):
        wl.release()
        t = time.perf_counter()
        wl.build(spark)
        reps_s.append(time.perf_counter() - t)
    parts = {"jvm_start_s": jvm_s, "prime_s": session_s - jvm_s,
             "session_start_s": session_s, "input_setup_s": reps_s}
    return spark, session_s + statistics.median(reps_s), parts


def run_untraced(wl, args, conf, cores) -> dict:
    import harness
    spark, setup_s, parts = set_up(wl, conf, cores, SETUP_REPS)
    info("setup", parts)
    wl.prepare_checks(spark)
    info("input", {"pages": wl.input_pages})
    outcomes = measure(wl, spark, harness.NoSpans(), args.seconds)
    mem = read_memory()
    spark.stop()
    info("memory", mem)
    info("passes", [[o.seconds, o.docs, o.failed, o.cpu_s, o.steal_s]
                    for o in outcomes])
    attempted = sum(o.docs for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    metrics = {
        "docs_per_s": rate(outcomes),
        "setup_s": setup_s,
        "worker_rss_mib": mem["worker_rss_mib"],
        "ok_frac": 1.0 - failed / attempted,
    }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def run_traced(wl, args, conf_for, cores) -> dict:
    import eventlog
    import harness
    import metrics
    import replay

    # untraced reference: the same passes with no event log or spans
    spark, _, _ = set_up(wl, conf_for(cores, None), cores, 1)
    wl.prepare_checks(spark)
    untraced = measure(wl, spark, harness.NoSpans(), args.seconds / 2)
    sample = wl.sample_pages(REPLAY_SAMPLE)
    wl.load(spark, fraction_mod=4)
    subset_n = rate_subset(wl, spark, passes=2)
    wl.release()
    spark.stop()

    # traced: event log on, job group + span around each public call
    log_dir = os.path.join(args.work, "eventlog")
    os.makedirs(log_dir)
    spark = harness.start_session(conf_for(cores, log_dir), cores)
    wl.load(spark)
    wl.warm(spark)
    spans = harness.Spans(spark)
    traced = measure(wl, spark, spans, args.seconds / 2)
    layers = wl.layer_metrics(spark, spans)
    mem = read_memory()
    wl.release()
    spark.stop()
    spans.write(os.path.join(args.work, "spans.jsonl"))
    info("span_s", {n: spans.seconds(n) for n in sorted(
        {rec[0] for rec in spans.records})})

    # one core: the N -> 1 scaling pair on the same subset
    spark = harness.start_session(conf_for(1, None), 1)
    wl.load(spark, fraction_mod=4)
    wl.warm(spark)
    subset_1 = rate_subset(wl, spark, passes=1)
    wl.release()
    spark.stop()

    report = replay.replay_sample(sample)
    if report.mismatches:
        info("replay_mismatches", report.mismatches[:20])
    info("largest_kernel_phase", {wl.name: report.largest_phase})
    groups = eventlog.parse_dir(log_dir)
    info("job_groups", sorted(groups))

    info("input", {"pages": wl.input_pages})
    untraced_rate, traced_rate = rate(untraced), rate(traced)
    docs = sum(o.docs for o in traced)
    kernel_groups = [g for name, g in groups.items()
                     if name.startswith("pipeline.")]
    py = eventlog.StageStats()
    for g in kernel_groups:
        py.add(g.total(python_only=True))
    m = report.metrics()
    m.update({
        "pipeline.tasks": py.tasks / len(traced),
        "pipeline.task_p50_s": py.task_p50_s,
        "pipeline.task_max_s": py.task_max_s,
        "pipeline.task_skew": py.task_max_s / max(py.task_p50_s, 1e-3),
        "pipeline.executor_run_s": py.run_s / len(traced),
        "pipeline.executor_cpu_s": py.cpu_s / len(traced),
        "pipeline.gc_s": py.gc_s / len(traced),
        "pipeline.python_bytes_in_per_doc": py.python_bytes_in / docs,
        "pipeline.python_bytes_out_per_doc": py.python_bytes_out / docs,
        "pipeline.overhead_ms_per_doc":
            1000.0 * py.run_s / docs - report.direct_ms,
        "pipeline.scaling_eff_1to4": subset_n / subset_1 / cores,
        "trace.untraced_docs_per_s": untraced_rate,
        "trace.traced_docs_per_s": traced_rate,
        "trace.overhead": 1.0 - traced_rate / untraced_rate,
        "jvm_rss_mib": mem["jvm_rss_mib"],
    })
    m.update(layers)
    for op in metrics.DEDUP_OPS:
        g = groups.get(op)
        if g is None:
            continue
        s = g.total()
        m[f"{op}.s"] = spans.seconds(op)
        m[f"{op}.shuffle_write_bytes"] = float(s.shuffle_write_bytes)
        m[f"{op}.shuffle_read_bytes"] = float(s.shuffle_read_bytes)
        m[f"{op}.spill_bytes"] = float(s.spill_bytes)
        m[f"{op}.peak_exec_mem_bytes"] = float(s.peak_execution_memory)

    failed = (sum(o.failed for o in untraced + traced) + wl.layer_failed
              + len(report.mismatches))
    attempted = (sum(o.docs for o in untraced + traced) + wl.layer_attempted
                 + report.docs)
    # layers a workload does not exercise read 0 (the curation layers run
    # in extract_flat's traced run only)
    return {"attempted": attempted, "failed": failed,
            "metrics": {k: float(m.get(k, 0.0)) for k in metrics.PER_LAYER}}


def rate_subset(wl, spark, passes: int) -> float:
    """Pages per second of plain extraction (noop sink) on ``wl.df``."""
    rates = []
    for _ in range(passes):
        t = time.perf_counter()
        wl.extract(wl.df).write.format("noop").mode("overwrite").save()
        rates.append(wl.n_pages / (time.perf_counter() - t))
    return statistics.median(rates)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "defuddle_spark", "__init__.py")):
        print(f"perfbench: no defuddle_spark package under {ROOT}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import harness
    import metrics
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args.work = work
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    cores = harness.host_cores()

    def conf_for(n_cores, log_dir):
        return harness.settings(work, ROOT, n_cores, log_dir)

    info("settings", {"workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace,
                      "cores": cores, "host_mem_mib": harness.host_mem_mib(),
                      "master": f"local[{cores}]",
                      "PYTHONPATH": os.environ["PYTHONPATH"],
                      "conf": conf_for(cores, None)})
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    wl = workloads.WORKLOADS[args.workload](args.seed, work, cores)
    try:
        if args.trace:
            result = run_traced(wl, args, conf_for, cores)
        else:
            result = run_untraced(wl, args, conf_for(cores, None), cores)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in sorted(result["metrics"].items())},
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
