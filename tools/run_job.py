"""spark-submit entry point for the extraction job (north_rule S4).

Packaging + launch (the engine ships as a zip via --py-files so executors
import defuddle_spark without a cluster-wide install):

    cd /root/repo && zip -qr /tmp/defuddle_spark.zip defuddle_spark
    spark-submit --master local[16] \
        --py-files /tmp/defuddle_spark.zip \
        tools/run_job.py \
        --input /root/testdata/sf0.1 --synthesize \
        --output /tmp/defuddle_out --manifest /tmp/defuddle_manifest \
        --buckets 64 --group-size 16

The shipped zip costs no per-task rescan: PySpark invalidates the import
caches at every task start, which re-reads each cached zipimporter's
archive directory, and every Python stage function drops those importers
first (``spark.session.drop_zip_importers``), the --py-files zip's
included.

On a real cluster --input points at the Iceberg/parquet pages table of
shape (url, warc_ts, html, text, lang); --synthesize is the sandbox path
that derives pages from the documents table. Re-running with the same
--output/--manifest resumes: buckets with a manifest record are skipped,
and the rest are redone, each group overwriting its own bucket
directories (so rows a crashed attempt left behind are replaced, not
duplicated).

Mirrors the reference CLI surface (cmd/defuddle/main.go:38-120) at job
granularity: input selection, output destination, option flags.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description="defuddle-spark extraction job")
    ap.add_argument("--input", required=True,
                    help="pages table path (parquet dir), or sf dir with --synthesize")
    ap.add_argument("--synthesize", action="store_true",
                    help="derive pages from <input>/documents.parquet (sandbox)")
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--output", required=True, help="output parquet dir")
    ap.add_argument("--manifest", required=True, help="manifest/commit-log dir")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--group-size", type=int, default=16)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--remove-images", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("defuddle-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from defuddle_spark.spark.manifest import run_extraction_job
    from defuddle_spark.spark.pages import synthesize_pages

    if args.synthesize:
        pages = synthesize_pages(spark, args.input, replicate=args.replicate)
    else:
        pages = spark.read.parquet(args.input)
    pages = pages.select("url", "html")

    t0 = time.monotonic()
    metrics = run_extraction_job(
        spark, pages, args.output, args.manifest,
        num_buckets=args.buckets, group_size=args.group_size,
        salt_partitions=args.salt_partitions)
    metrics["wall_s"] = round(time.monotonic() - t0, 2)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
