"""Per-partition lineage manifests + resume-after-failure.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Mechanism (Iceberg-style commit log approximated on parquet —
the sandbox has no Iceberg catalog; on a real deployment the same
protocol rides Iceberg snapshot commits / WAP):

- the corpus is bucketed by ``pmod(xxhash64(url), num_buckets)``;
- buckets are processed in groups; each group is one Spark job that
  writes its rows under ``out_dir`` partitioned by bucket, in dynamic
  partition-overwrite mode: the write replaces exactly the group's
  bucket directories and leaves every other bucket alone;
- the group's stats (doc count, error count, content bytes) are read
  back from those directories, and one atomic manifest file per group
  (bucket id, stats, wall seconds, kernel version and kernel options) is
  the commit record — a bucket without a manifest row is not committed,
  whatever its directory holds;
- resume = re-run the same call: committed buckets are read from the
  manifest and skipped, and the rest are redone. Bucket membership is
  a pure function of the url, so a redo overwrites whatever a crashed
  attempt left in its buckets (a crash after the write but before the
  record included), and each url appears exactly once. A resume under
  other kernel options than the committed records' is refused before
  any group runs: its buckets would mix two extractions.

Each group still filters the whole input on the computed ``bucket``,
so a job reads its input ``ceil(num_buckets / group_size)`` times.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import extract_pages

KERNEL_VERSION = "0.1.0"


def with_bucket(pages: DataFrame, num_buckets: int) -> DataFrame:
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(num_buckets)).cast("int"))


def committed_buckets(spark: SparkSession, manifest_dir: str) -> set:
    return set(_committed(spark, manifest_dir))


def _committed(spark: SparkSession, manifest_dir: str) -> dict:
    """bucket -> the kernel options its commit record names (canonical
    JSON; records written before options were recorded ran the defaults,
    "{}")."""
    if not os.path.isdir(manifest_dir) or not os.listdir(manifest_dir):
        return {}
    records = spark.read.json(manifest_dir)
    options = (F.col("kernel_options") if "kernel_options" in records.columns
               else F.lit(None))
    rows = records.select(
        "bucket", F.coalesce(options, F.lit("{}")).alias("options")
    ).distinct().collect()
    return {r["bucket"]: r["options"] for r in rows}


def _canonical_options(kernel_options: Optional[dict]) -> str:
    """``kernel_options`` as JSON without the fields left at their
    ``kernel.Options`` defaults, keys sorted: equal options, equal text.
    An unknown key raises here."""
    from dataclasses import fields

    from defuddle_spark.kernel import Options

    opts = Options(**(kernel_options or {}))
    return json.dumps({f.name: getattr(opts, f.name) for f in fields(opts)
                       if getattr(opts, f.name) != f.default},
                      sort_keys=True)


def _append_manifest(manifest_dir: str, records: list) -> None:
    os.makedirs(manifest_dir, exist_ok=True)
    path = os.path.join(manifest_dir, f"manifest-{uuid.uuid4().hex}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    os.rename(tmp, path)  # atomic commit record


def run_extraction_job(spark: SparkSession, pages: DataFrame, out_dir: str,
                       manifest_dir: str, num_buckets: int = 64,
                       group_size: int = 16,
                       salt_partitions: Optional[int] = None,
                       fail_after_groups: Optional[int] = None,
                       kernel_options: Optional[dict] = None) -> dict:
    """Extract all pages bucket-group by bucket-group with commit records.

    ``kernel_options`` are passed to ``extract_pages`` and recorded in
    every commit record; a resume under other options than the committed
    ones raises ValueError before any group runs. ``fail_after_groups``
    simulates a mid-job crash (used by the resume test). Returns job
    metrics.
    """
    options = _canonical_options(kernel_options)
    bucketed = with_bucket(pages, num_buckets).select("url", "html", "bucket")
    committed = _committed(spark, manifest_dir)
    other = sorted(set(committed.values()) - {options})
    if other:
        raise ValueError(
            f"{manifest_dir} holds buckets committed with kernel_options "
            f"{', '.join(other)}; this run has kernel_options {options}. "
            "Resume with the committed options, or start a new output and "
            "manifest directory.")
    done = set(committed)
    todo = sorted(set(range(num_buckets)) - done)

    metrics = {"groups_run": 0, "buckets_done_before": len(done),
               "docs_processed": 0, "errors": 0}
    groups = [todo[i:i + group_size] for i in range(0, len(todo), group_size)]
    for gi, group in enumerate(groups):
        if fail_after_groups is not None and gi >= fail_after_groups:
            break
        t0 = time.monotonic()
        part = bucketed.filter(F.col("bucket").isin(group))
        result = extract_pages(part.select("url", "html"),
                               salt_partitions=salt_partitions,
                               with_routing_column=False,
                               kernel_options=kernel_options)
        result = with_bucket(result, num_buckets)
        (result.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(out_dir))

        stats = (spark.read.parquet(out_dir)
                 .filter(F.col("bucket").isin(group))
                 .groupBy("bucket")
                 .agg(F.count("*").alias("doc_count"),
                      F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_count"),
                      F.sum(F.length("content")).alias("content_bytes"))
                 .collect())
        wall = time.monotonic() - t0
        committed_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        stamp = {"wall_s": round(wall, 3), "kernel_version": KERNEL_VERSION,
                 "kernel_options": options, "committed_at": committed_at}
        records = [{
            "bucket": int(r["bucket"]),
            "doc_count": int(r["doc_count"]),
            "error_count": int(r["error_count"] or 0),
            "content_bytes": int(r["content_bytes"] or 0),
            **stamp,
        } for r in stats]
        # buckets with zero rows still need commit records
        seen = {r["bucket"] for r in records}
        for b in group:
            if b not in seen:
                records.append({"bucket": b, "doc_count": 0, "error_count": 0,
                                "content_bytes": 0, **stamp})
        _append_manifest(manifest_dir, records)
        metrics["groups_run"] += 1
        metrics["docs_processed"] += sum(r["doc_count"] for r in records)
        metrics["errors"] += sum(r["error_count"] for r in records)
    return metrics
