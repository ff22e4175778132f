"""Narrow-input spreading: the one place the engine decides to widen a
frame to the session's parallelism before row-amplifying or kernel work.

The decision is plan-only (no jobs, no AQE stage materialization).
``df.rdd.getNumPartitions()`` finalizes the physical plan; under AQE that
MATERIALIZES any upstream shuffle stages before the real job runs — paying
them twice — and burns driver CPU re-planning complex queries. The probe
here looks only at the analyzed plan's leaf scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def _is_narrow(df: DataFrame, target: int) -> bool:
    """True when ``df`` should be widened to ``target`` partitions.

    Every leaf input file contributes at least one scan partition, so
    ``len(inputFiles()) >= target`` proves the input is wide enough without
    touching the scheduler. Frames with few or no input files (a single
    parquet file, an in-memory synthesized relation) are treated as narrow —
    repartitioning those is the point of the probe. Two documented
    imprecisions, both erring toward an extra (skew-defending) repartition:

    - a single LARGE file splits into many scan partitions
      (spark.sql.files.maxPartitionBytes), which this undercounts;
    - a shuffle-bearing input is judged by its leaves, not by the shuffle's
      partitioning — callers with pre-shuffled inputs should pass an
      explicit partition count / widen flag instead of relying on the probe.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return True
    return len(files) < target


def spread_narrow(df: DataFrame, *cols: Column) -> DataFrame:
    """Repartition a narrow ``df`` to ``defaultParallelism`` — round-robin,
    or hashed on ``cols`` when given — and return any other frame as is.

    A single parquet file (or a freshly synthesized frame) scans as ONE
    partition, which serializes explode-heavy operators and the Arrow
    kernel onto one core (measured: 64-perm MinHash over 5k docs took
    5.4 s single-partition vs sub-second parallel). At cluster scale the
    input already has thousands of files and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _is_narrow(df, target):
        return df.repartition(target, *cols)
    return df
