"""The benchmark workloads: inputs, one timed pass, output checks.

Each workload is closed-loop: the benchmark submits one job at a time and
the next only after the previous finished. A pass is the unit that is
timed; checks run after the clock stops and count failing pages.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from harness import NoSpans

NEST_PREFIX = inputs.NEST_URL.split("{")[0]


@dataclass
class PassOutcome:
    seconds: float
    docs: int
    failed: int
    cpu_s: float = 0.0      # host busy CPU seconds during the pass
    steal_s: float = 0.0    # host stolen CPU seconds during the pass


def _digest_columns():
    return [
        "url", "error", F.xxhash64("extracted_text").alias("text_hash"),
        F.when(F.col("url").startswith(NEST_PREFIX),
               F.sha2(F.concat_ws("\u0000", "content", "extracted_text"), 256))
        .alias("nest_digest"),
    ]


class Workload:
    """Subclasses set ``name`` and implement ``_texts``/``run_pass``."""

    name = ""
    files = 16          # parquet files the pages are written as
    replicate = 1       # synthesize_pages replicas per document
    limit = None        # documents written while priming; None = all
    layer_attempted = layer_failed = 0  # pages checked by layer_metrics

    def __init__(self, seed: int, work: str, cores: int) -> None:
        self.seed = seed
        self.work = work
        self.cores = cores
        self.docs_dir = os.path.join(work, "documents")
        self.pages_dir = os.path.join(work, "pages")
        self.nested = {}            # url -> depth
        self.df = None
        self.n_pages = 0

    def _pages(self, spark):
        from defuddle_spark.spark.pages import synthesize_pages
        inputs.write_documents(self.docs_dir, self._texts()[:self.limit])
        pages = synthesize_pages(spark, self.docs_dir,
                                 replicate=self.replicate)
        pages = pages.select("url", "html", "text")
        nested = sorted(self.nested.items())
        if self.limit:
            nested = nested[:1]
        if nested:
            pages = pages.unionByName(spark.createDataFrame(
                [(u, inputs.nested_html(d), None) for u, d in nested],
                "url string, html binary, text string"))
        return pages

    def build(self, spark) -> None:
        """Write the inputs as parquet, read them back and cache them."""
        (self._pages(spark)
         .repartition(self.files, F.xxhash64("url"))
         .write.mode("overwrite").parquet(self.pages_dir))
        self.load(spark)

    def load(self, spark, fraction_mod: int = 1) -> None:
        """Read the written pages (every ``fraction_mod``-th url by hash),
        spread them over ``files`` partitions by url hash and materialise
        them in the cache."""
        if self.df is not None:
            self.df.unpersist()
        df = spark.read.parquet(self.pages_dir)
        if fraction_mod > 1:
            df = df.filter(F.pmod(F.xxhash64("url"), F.lit(fraction_mod)) == 0)
        self.df = df.repartition(self.files, F.xxhash64("url")).cache()
        self.n_pages = self.df.count()

    def prime(self, spark) -> None:
        """Set up a few pages and extract them: the JVM's one-off class
        loading for the input path and the Python workers' start land in
        session start-up, before the repeated input set-ups."""
        dirs = self.docs_dir, self.pages_dir
        self.docs_dir, self.pages_dir = (
            os.path.join(self.work, "prime-" + os.path.basename(d))
            for d in dirs)
        self.limit = 24
        try:
            self.build(spark)
            self.warm(spark)
        finally:
            self.docs_dir, self.pages_dir = dirs
            self.limit = None
            self.release()

    def warm(self, spark) -> None:
        """Start and import every Python worker with a small extraction."""
        from defuddle_spark.spark.pipeline import extract_pages
        (extract_pages(self.df.limit(16 * self.cores),
                       salt_partitions=self.cores)
         .write.format("noop").mode("overwrite").save())

    def release(self) -> None:
        if self.df is not None:
            self.df.unpersist()
            self.df = None

    def prepare_checks(self, spark) -> None:
        """Expected per-url outputs (outside every timed region)."""
        self.golden = inputs.load_golden()
        self.expected = {r[0]: r[1] for r in self.df.select(
            "url", F.xxhash64("text")).collect()}
        self.input_pages = len(self.expected)

    def check_rows(self, rows) -> int:
        """Failing pages among result rows (url, error, text_hash,
        nest_digest): errors, wrong outputs, duplicates, missing urls."""
        failed, seen = 0, set()
        for url, error, text_hash, nest_digest in rows:
            if url in seen or url not in self.expected:
                failed += 1
                continue
            seen.add(url)
            if error is not None:
                failed += 1
            elif url in self.nested:
                failed += nest_digest != self.golden[self.nested[url]]
            elif text_hash != self.expected[url]:
                failed += 1
        return failed + len(self.expected.keys() - seen)

    def sample_pages(self, n: int) -> list:
        """A seeded sample of (url, html) for the kernel replay."""
        urls = sorted(self.expected)
        pick = set(random.Random(self.seed).sample(urls, min(n, len(urls))))
        rows = (self.df.filter(F.col("url").isin(list(pick)))
                .select("url", "html").collect())
        return sorted((r[0], bytes(r[1])) for r in rows)

    def layer_metrics(self, spark, spans) -> dict:
        """Workload-specific layer work done once in the traced run; its
        checked pages go to ``layer_attempted`` / ``layer_failed``."""
        return {}


class _Extract(Workload):
    """One pass = one extract_pages job over the cached pages, with the
    default arguments, whose per-url digest is collected and checked.
    (extract_pages spreads a cached frame over one task per core.)"""

    def extract(self, df):
        from defuddle_spark.spark.pipeline import extract_pages
        return extract_pages(df)

    def run_pass(self, spark, spans) -> PassOutcome:
        t0 = time.perf_counter()
        with spans.span("pipeline.extract_pages"):
            rows = self.extract(self.df).select(*_digest_columns()).collect()
        seconds = time.perf_counter() - t0
        return PassOutcome(seconds, self.n_pages, self.check_rows(rows))


class ExtractFlat(_Extract):
    """Flat contract pages, steady-state kernel throughput."""

    name = "extract_flat"
    n_docs = 1000
    replicate = 3

    def _texts(self) -> list:
        return inputs.flat_texts(self.seed, self.n_docs)

    def layer_metrics(self, spark, spans) -> dict:
        """The control's traced run also measures the curation layers
        (manifest, sinks, dedup, textstats, streaming) on a corpus of
        their own; see CurateProbe."""
        probe = CurateProbe(self.seed, os.path.join(self.work, "curate"),
                            self.cores)
        try:
            return probe.measure(spark, spans)
        finally:
            self.layer_attempted, self.layer_failed = (probe.attempted,
                                                       probe.failed)
            probe.release()


class ExtractHeavyTail(_Extract):
    """Pareto-sized pages plus a share of deeply nested unclosed tags."""

    name = "extract_heavy_tail"
    n_docs = 1000
    replicate = 1
    nested_share = 0.015
    giant_threshold_bytes = 8192

    def __init__(self, seed, work, cores) -> None:
        super().__init__(seed, work, cores)
        self.tail = inputs.heavy_tail(seed, self.n_docs, self.nested_share)
        self.nested = self.tail.nested

    def _texts(self) -> list:
        return self.tail.texts

    def extract(self, df):
        from defuddle_spark.spark.pipeline import extract_pages
        return extract_pages(df,
                             giant_threshold_bytes=self.giant_threshold_bytes)


class CurateProbe(Workload):
    """Crash-and-resume extraction job, then the dedup and quality chain
    over the committed parquet, then the committed documents as a stream.

    One chain costs ~9 s of Spark job overhead at any input size here, so
    it runs in a traced run only (twice: once to compile, once tagged)
    rather than as an end-to-end workload of its own."""

    corpus_pages = 600
    num_buckets = 4
    group_size = 2
    crash_after_groups = 1          # half of num_buckets / group_size

    def __init__(self, seed, work, cores) -> None:
        super().__init__(seed, work, cores)
        self.corpus = inputs.curated(seed, self.corpus_pages)
        self.out_dir = os.path.join(work, "curated")
        self.manifest_dir = os.path.join(work, "manifest")
        self.last = {}
        self.attempted = self.failed = 0

    def _texts(self) -> list:
        return self.corpus.texts

    def _committed_docs(self, spark):
        """Committed results as (doc_id, text); doc_id is the page id the
        synthesized url carries (``.../<doc_id>-r0``)."""
        return (spark.read.parquet(self.out_dir).select(
            F.regexp_extract("url", r"/(\d+)-r\d+$", 1).cast("long")
            .alias("doc_id"),
            F.col("extracted_text").alias("text")))

    def run_pass(self, spark, spans) -> PassOutcome:
        from defuddle_spark.ops.dedup import (
            DedupCache, dedup_exact, dedup_survivors, duplicate_components,
            minhash_lsh_candidates)
        from defuddle_spark.ops.textstats import text_quality
        from defuddle_spark.spark.manifest import run_extraction_job

        for d in (self.out_dir, self.manifest_dir):
            shutil.rmtree(d, ignore_errors=True)
        pages = self.df.select("url", "html")
        job = dict(num_buckets=self.num_buckets, group_size=self.group_size,
                   salt_partitions=self.cores)
        cache = DedupCache()
        t0 = time.perf_counter()
        with spans.span("manifest.run_extraction_job.crash"):
            crash = run_extraction_job(
                spark, pages, self.out_dir, self.manifest_dir,
                fail_after_groups=self.crash_after_groups, **job)
        with spans.span("manifest.run_extraction_job.resume"):
            resume = run_extraction_job(spark, pages, self.out_dir,
                                        self.manifest_dir, **job)
        docs = self._committed_docs(spark)
        with spans.span("dedup.dedup_exact"):
            exact = dedup_exact(docs).count()
        with spans.span("dedup.minhash_lsh_candidates"):
            pairs = minhash_lsh_candidates(docs, cache=cache).persist()
            n_pairs = pairs.count()
        with spans.span("dedup.duplicate_components"):
            components = (duplicate_components(pairs)
                          .select("component").distinct().count())
        with spans.span("dedup.dedup_survivors"):
            survivors = dedup_survivors(docs, pairs).count()
        with spans.span("textstats.text_quality"):
            quality = text_quality(docs).agg(
                F.avg("quality_score")).collect()[0][0]
        seconds = time.perf_counter() - t0

        pair_ids = pairs.select("id_a", "id_b").collect()
        pairs.unpersist()
        cache.release()
        failed = self.check_rows(spark.read.parquet(self.out_dir)
                                 .select(*_digest_columns()).collect())
        groups = self._manifest_groups()
        records = [r for g in groups for r in g]
        buckets = [r["bucket"] for r in records]
        committed = sum(r["doc_count"] for r in records)
        redo = (crash["docs_processed"] + resume["docs_processed"]
                - self.n_pages)
        ok = (sorted(buckets) == list(range(self.num_buckets))
              and committed == self.n_pages and redo == 0
              and crash["groups_run"] == self.crash_after_groups
              and exact == self.corpus.distinct_texts
              and components <= survivors <= exact
              and quality is not None)
        if not ok:
            failed = self.n_pages
        true_pairs = sum(self.corpus.true_pair(a, b) for a, b in pair_ids)
        self.last = {
            "groups_run": crash["groups_run"] + resume["groups_run"],
            "redo_docs": redo,
            "group_walls": [g[0]["wall_s"] for g in groups if g],
            "candidate_pairs": n_pairs,
            "pair_precision": true_pairs / n_pairs if n_pairs else 0.0,
            "survivors": survivors,
            "exact_survivors": exact,
        }
        return PassOutcome(seconds, self.n_pages, failed)

    def _manifest_groups(self) -> list:
        """Commit records, one list per manifest file (one file per group)."""
        groups = []
        for name in sorted(os.listdir(self.manifest_dir)):
            with open(os.path.join(self.manifest_dir, name)) as f:
                groups.append([json.loads(line) for line in f if line.strip()])
        return groups

    def measure(self, spark, spans) -> dict:
        """Manifest, sink and dedup figures of a tagged pass after an
        untagged one, and the streaming ingest of its committed documents."""
        self.build(spark)
        self.prepare_checks(spark)
        passes = [self.run_pass(spark, NoSpans()), self.run_pass(spark, spans)]
        self.attempted = sum(p.docs for p in passes)
        self.failed = sum(p.failed for p in passes)
        last = self.last
        out_bytes = sum(os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(self.out_dir) for f in fs
                        if f.endswith(".parquet"))
        metrics = {
            "manifest.groups_run": float(last["groups_run"]),
            "manifest.redo_docs": float(last["redo_docs"]),
            "manifest.wall_s_per_group": statistics.fmean(last["group_walls"]),
            "sinks.bytes_written_per_doc": out_bytes / self.n_pages,
            "dedup.candidate_pairs": float(last["candidate_pairs"]),
            "dedup.pair_precision": last["pair_precision"],
            "dedup.survivors": float(last["survivors"]),
            "manifest.crash_s": spans.seconds(
                "manifest.run_extraction_job.crash"),
            "manifest.resume_s": spans.seconds(
                "manifest.run_extraction_job.resume"),
        }
        metrics.update(self._stream(spark, spans))
        return metrics

    stream_files = 8
    files_per_trigger = 2

    def _stream(self, spark, spans) -> dict:
        """Stage the committed documents as small files with event times
        and drain them through both streaming dedup operators."""
        from defuddle_spark.spark.streaming import (
            dedup_exact_stream_watermark, minhash_lsh_stream)
        rows = sorted(self._committed_docs(spark).collect())
        stage = os.path.join(self.work, "stream-in")
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        t_base = 1_704_067_200_000_000  # 2024-01-01, microseconds
        per_file = -(-len(rows) // self.stream_files)
        for i in range(self.stream_files):
            chunk = rows[i * per_file:(i + 1) * per_file]
            pq.write_table(pa.table({
                "doc_id": pa.array([r[0] for r in chunk], pa.int64()),
                "text": pa.array([r[1] for r in chunk], pa.string()),
                "ts": pa.array([t_base + r[0] * 1_000_000 for r in chunk],
                               pa.timestamp("us", tz="UTC")),
            }), os.path.join(stage, f"part-{i:04d}.parquet"))
            # file-source order follows modification time
            os.utime(os.path.join(stage, f"part-{i:04d}.parquet"),
                     (1_700_000_000 + i, 1_700_000_000 + i))
        progress = []
        outs = {}
        for name, op in (("dedup_exact_stream_watermark",
                          dedup_exact_stream_watermark),
                         ("minhash_lsh_stream", minhash_lsh_stream)):
            out = os.path.join(self.work, f"stream-{name}")
            ckpt = out + "-ckpt"
            with spans.span(f"streaming.{name}"):
                q = op(spark, stage, out, ckpt, available_now=True,
                       max_files_per_trigger=self.files_per_trigger)
                q.awaitTermination()
            progress += [p for p in q.recentProgress if p["numInputRows"]]
            outs[name] = out
        # one emitted row per distinct text hash, and no other
        emitted = spark.read.parquet(outs["dedup_exact_stream_watermark"])
        distinct = emitted.select("text_md5").distinct().count()
        self.attempted += 1
        self.failed += not (emitted.count() == distinct
                            == self.corpus.distinct_texts)

        def pooled(key):
            return [p["durationMs"].get(key, 0) / 1000.0 for p in progress]

        ops = [s for p in progress for s in p["stateOperators"]]
        updated = sum(s["numRowsUpdated"] for s in ops)
        return {
            "streaming.batches": float(len(progress)),
            "streaming.batch_p50_s": statistics.median(
                pooled("triggerExecution")),
            "streaming.add_batch_s": statistics.median(pooled("addBatch")),
            "streaming.commit_s": statistics.median(pooled("commitOffsets")),
            "streaming.state_rows": float(max(s["numRowsTotal"] for s in ops)),
            "streaming.state_memory_bytes": float(
                max(s["memoryUsedBytes"] for s in ops)),
            "streaming.rows_dropped_by_watermark": float(
                sum(s.get("numRowsDroppedByWatermark", 0) for s in ops)),
            "streaming.ms_per_state_key": (
                1000.0 * sum(pooled("addBatch")) / max(updated, 1)),
            "streaming.dedup_exact_stream_watermark.s": spans.seconds(
                "streaming.dedup_exact_stream_watermark"),
            "streaming.minhash_lsh_stream.s": spans.seconds(
                "streaming.minhash_lsh_stream"),
        }


WORKLOADS = {w.name: w for w in (ExtractFlat, ExtractHeavyTail)}
