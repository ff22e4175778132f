"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation set (the GPT-3 appendix-C / Llama style check every
LLM-data pipeline runs before training).

Normalization is the published shape: lowercase, whitespace-split
(explicit ASCII charclass — see textstats._tokens for the \\s parity
trap), n-gram = n consecutive tokens joined with a single space, hashed
to 64 bits JVM-side. Within-document repeats collapse (array_distinct)
so overlap counts are per distinct n-gram, matching the usual "any
13-gram collision" contract.

Scale shape: the benchmark side is tiny by nature (an eval suite is
10^4-10^6 n-grams, a few MB of 64-bit hashes) so it broadcasts; the
corpus side is one row-local projection (tokenize -> grams -> hashes),
an explode, a map-side broadcast hash join, and a single groupBy(doc)
whose shuffle carries only (doc_id, two longs) after partial
aggregation. No corpus-side self-join, no window, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from defuddle_spark.spark.partitions import spread_narrow

# the shared ASCII-whitespace tokenizer class (never \s — see the
# textstats.ASCII_WS_RE parity note)
from .textstats import ASCII_WS_RE


def _gram_hashes(text_col: str, n: int) -> F.Column:
    """array<long> of xxhash64 over the distinct lowercase n-grams of a
    document. Docs with fewer than ``n`` tokens have no n-grams."""
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                ASCII_WS_RE),
        lambda t: t != "")
    n_grams = F.size(toks) - (n - 1)
    grams = F.when(n_grams > 0, F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i, n), " "))
    )).otherwise(F.array().cast("array<long>"))
    return F.array_distinct(grams)


def benchmark_grams(benchmark: DataFrame, n: int = 13,
                    text_col: str = "text") -> DataFrame:
    """The distinct n-gram hash set of an eval suite: one column
    ``gram_hash`` (long). Materialize/cache this once per suite and
    reuse it across corpus shards."""
    return (benchmark
            .select(F.explode(_gram_hashes(text_col, n)).alias("gram_hash"))
            .distinct())


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text",
                  broadcast_bench: bool = True) -> DataFrame:
    """Per-document overlap against an eval set: (doc_id, n_ngrams,
    n_hit, contamination_frac, contaminated). Every input doc keeps a
    row (docs shorter than ``n`` tokens report 0 n-grams, frac 0.0) so
    the drop decision stays auditable downstream.

    ``contaminated`` is the strict published rule: any distinct n-gram
    collision flags the doc; ``contamination_frac`` (hits / distinct
    doc n-grams) supports threshold policies. Set
    ``broadcast_bench=False`` only for pathologically large benchmark
    unions — the join then shuffles both sides on gram_hash.
    """
    bench = benchmark_grams(benchmark, n, bench_text_col)
    if broadcast_bench:
        bench = F.broadcast(bench)
    hit = bench.withColumn("_hit", F.lit(1))
    exploded = spread_narrow(docs).select(
        F.col(id_col),
        F.explode_outer(_gram_hashes(text_col, n)).alias("gram_hash"))
    stats = (exploded
             .join(hit, "gram_hash", "left")
             .groupBy(id_col)
             .agg(F.count("gram_hash").alias("n_ngrams"),
                  F.count("_hit").alias("n_hit")))
    frac = (F.col("n_hit").cast("double")
            / F.greatest(F.col("n_ngrams"), F.lit(1)).cast("double"))
    return stats.select(
        id_col,
        F.col("n_ngrams").cast("int").alias("n_ngrams"),
        F.col("n_hit").cast("int").alias("n_hit"),
        F.round(frac, 6).alias("contamination_frac"),
        (F.col("n_hit") > 0).alias("contaminated"))


def contamination_pairs(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                        id_col: str = "doc_id", text_col: str = "text",
                        bench_id_col: str = "bench_id",
                        bench_text_col: str = "text",
                        broadcast_bench: bool = True) -> DataFrame:
    """Which eval document each training doc collides with: distinct
    (doc_id, bench_id) pairs — the audit trail behind a drop list.
    Same broadcast join shape as decontaminate (and the same
    ``broadcast_bench=False`` escape hatch — this side is strictly
    larger, per-bench_id gram rows rather than a distinct hash set);
    the distinct is the only corpus-keyed shuffle and it carries id
    pairs only."""
    bench = (benchmark
             .select(F.col(bench_id_col),
                     F.explode(_gram_hashes(bench_text_col, n))
                     .alias("gram_hash"))
             .distinct())
    if broadcast_bench:
        bench = F.broadcast(bench)
    exploded = spread_narrow(docs).select(
        F.col(id_col),
        F.explode(_gram_hashes(text_col, n)).alias("gram_hash"))
    return (exploded
            .join(bench, "gram_hash")
            .select(id_col, bench_id_col)
            .distinct())
