"""Extraction pipeline: pages DataFrame → results DataFrame.

Physical plan (deliberately minimal — everything non-trivial lives in the
Arrow-batched kernel, everything structural is native so Catalyst can
prune/push/coalesce):

    scan → filter(html nonempty) → [salted repartition by xxhash64(url)]
         → mapInPandas(kernel, extractor route included) → sink

The kernel's registry lookup is the one routing decision: it already
dispatches each url, so it also reports the route as a column, and the
driver builds no routing expression.

Skew handling (SURVEY.md §4.2): HTML sizes are heavy-tailed; salting by
url-hash spreads giant docs across partitions instead of letting a
lexicographic url range concentrate them. Kernel cost is linear in page
bytes, so one kernel wave over byte-balanced partitions needs no giant
tier. At cluster scale set ``salt_partitions`` ≈ 2-3x total cores; AQE
re-coalesces afterwards.
"""

from __future__ import annotations

import warnings
from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from .session import drop_zip_importers

RESULT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("title", StringType()),
    StructField("description", StringType()),
    StructField("domain", StringType()),
    StructField("favicon", StringType()),
    StructField("image", StringType()),
    StructField("published", StringType()),
    StructField("author", StringType()),
    StructField("site", StringType()),
    StructField("content", StringType()),
    StructField("extracted_text", StringType()),
    StructField("word_count", IntegerType()),
    StructField("parse_time_ms", LongType()),
    StructField("extractor_type", StringType()),
    StructField("schema_org", StringType()),
    StructField("meta_tags", ArrayType(StructType([
        StructField("name", StringType()),
        StructField("property", StringType()),
        StructField("content", StringType()),
    ]))),
    StructField("retry_used", BooleanType()),
    StructField("error", StringType()),
    # JSON-serialized debug.Info (types.go:89 debugInfo omitempty) —
    # null unless kernel_options={"debug": True}; a null string column
    # costs nothing in Tungsten row layout.
    StructField("debug_json", StringType()),
    # ContentMarkdown (defuddle.go:476-482) — null unless
    # kernel_options={"markdown": True} (or separate_markdown); same
    # null-column economics as debug_json.
    StructField("content_markdown", StringType()),
])

# RESULT_SCHEMA plus the registry name of each url's extractor
# (``kernel.Result.extractor_route``), for with_routing_column=True.
ROUTED_SCHEMA = StructType(
    RESULT_SCHEMA.fields + [StructField("extractor_route", StringType())])


def _extract_batches(batches: Iterator[pd.DataFrame], options,
                     fields: List[str]) -> Iterator[pd.DataFrame]:
    """Arrow-batch kernel loop: one Python call per batch, one kernel call
    per doc, every doc under the same ``kernel.Options``. Emits the
    ``fields`` columns of each ``kernel.Result``, in that order.

    Imported lazily on executors; selector tables compile once per worker
    process (module-level caches in defuddle_spark.selectors).
    """
    import json as _json

    from defuddle_spark.kernel import extract_document_bytes

    drop_zip_importers()
    for pdf in batches:
        rows = []
        for url, html in zip(pdf["url"].values, pdf["html"].values):
            if html is None:
                html = b""
            if isinstance(html, memoryview):
                html = bytes(html)
            r = extract_document_bytes(html, url=url, options=options)
            debug_json = None if r.debug_info is None else _json.dumps(
                r.debug_info, ensure_ascii=False, separators=(",", ":"))
            row = dict(vars(r), url=url, debug_json=debug_json)
            rows.append([row[f] for f in fields])
        yield pd.DataFrame(rows, columns=fields)
    drop_zip_importers()


def extract_pages(pages: DataFrame,
                  salt_partitions: Optional[int] = None,
                  with_routing_column: bool = True,
                  giant_threshold_bytes: Optional[int] = None,
                  kernel_options: Optional[dict] = None) -> DataFrame:
    """Run the extraction kernel over a pages DataFrame.

    Input must carry (url string, html binary); extra columns are pruned
    (column pruning reaches the parquet scan — only url+html are read).

    Skew defense (SURVEY.md §4.2, north_rule "skew handled explicitly"):
    ``salt_partitions`` repartitions on xxhash64(url) so giant docs
    scatter instead of clustering in a url range; without it, narrow
    inputs are spread the same way and wide inputs keep their byte-sized
    splits. The kernel then runs as one ``mapInPandas`` over that frame.

    ``with_routing_column`` adds ``extractor_route``: the registry name
    of the extractor each url routes to (``extractors.lookup``), or null.

    ``kernel_options`` are ``kernel.Options`` fields (for example
    ``{"remove_images": True}``); an unknown key raises here, before any
    job runs. ``giant_threshold_bytes`` is deprecated and has no effect.
    """
    from defuddle_spark.kernel import Options

    options = Options(**(kernel_options or {}))
    if giant_threshold_bytes is not None:
        warnings.warn(
            "giant_threshold_bytes is ignored: the two-tier giant split was "
            "removed because kernel cost is linear in page bytes, so one "
            "salted kernel wave balances giant pages at lower cost",
            DeprecationWarning, stacklevel=2)
    df = pages.select("url", "html").filter(
        F.col("html").isNotNull() & (F.length(F.col("html")) > 0))

    # Without an explicit salt_partitions, spread narrow inputs (which
    # would run the kernel on one core; see spark.partitions) salted by
    # url-hash, the same skew defense as the explicit path. Inputs that
    # already carry a tuned shuffle partitioning should pass
    # salt_partitions explicitly.
    if salt_partitions:
        df = df.repartition(salt_partitions, F.xxhash64(F.col("url")))
    elif not df.isStreaming:
        from defuddle_spark.spark.partitions import spread_narrow
        df = spread_narrow(df, F.xxhash64(F.col("url")))

    schema = ROUTED_SCHEMA if with_routing_column else RESULT_SCHEMA
    fields = schema.fieldNames()
    return df.mapInPandas(lambda it: _extract_batches(it, options, fields),
                          schema=schema)
