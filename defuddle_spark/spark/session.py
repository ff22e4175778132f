"""SparkSession factory tuned for MB-scale HTML rows.

Scale rationale (100 TB / 1000-executor design; tested on local[N]):
- AQE on: runtime coalescing + skew splitting for the post-kernel stages.
- Arrow batches capped BOTH ways: 512 rows AND 32 MB (Spark 4's
  maxBytesPerBatch closes a batch when either limit hits). Rows alone
  is wrong twice over: tiny batches (64 rows) spend so much time in
  per-batch JVM<->Python overhead that 2->8-core scaling efficiency
  drops from 0.97 to 0.72 (measured, BENCH/BASELINE.md), while
  unbounded-byte batches of multi-MB CC pages would hold GBs per
  Python worker. The byte cap keeps heavy-tailed pages safe at any
  row cap.
- shuffle partitions default to 2x cores locally; on a real cluster this
  is overridden to ~2-3x total executor cores.
- cores and the driver heap default from the host (host_resources,
  default_driver_heap); ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY``
  override them.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def drop_zip_importers() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    Every function Spark runs in Python calls this first, after its own
    imports. PySpark's worker calls ``importlib.invalidate_caches()`` at
    the start of every task (``pyspark/worker_util.py``), and on CPython
    3.11 and 3.12 that makes each cached ``zipimporter`` (the pyspark and
    py4j zips and the spark-core jar on the worker path, one per package
    directory inside them, and any ``--py-files`` zip) re-read its
    archive's directory: most of the ~0.3 host CPU-s a Python task costs
    before it runs any code. With none cached, the next task's sweep has
    nothing to re-read; ``PathFinder`` rebuilds an importer on demand
    from ``zipimport._zip_directory_cache`` without reading the archive.
    Batch generators call it once more when their input runs out: a
    worker's first batch makes PySpark import modules lazily (Arrow to
    pandas pulls in ``concurrent.futures``), which caches root importers
    again after the first call.

    That cache cannot go stale: on PySpark 4.1.2, Spark does not
    overwrite a path already added with ``--py-files``/``addPyFile``
    (``SparkContext.addFile`` logs "has been added already. Overwriting
    of added paths is not supported" and keeps the first file), so no
    archive changes under a running worker.

    Delete this once workers run CPython >= 3.13, whose ``zipimporter``
    re-reads its directory lazily, on the next lookup after an
    invalidation, instead of inside ``invalidate_caches()``.
    """
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


ROCKSDB_STATE_CONF = {
    # Per-executor-disk state instead of JVM-heap HDFSBackedStateStore:
    # a crawl-scale streaming dedup holds one row per distinct hash seen
    # inside the watermark — heap-resident state OOMs long before the
    # watermark does. Changelog checkpointing uploads per-batch deltas
    # instead of full RocksDB snapshots, which is the difference between
    # O(state) and O(batch) checkpoint traffic at 10^9 keys.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}


def default_driver_heap(mem_total_mib: int | None) -> str:
    """min(16g, 60% of MemTotal); 16g when the host memory is unknown.

    In local mode the driver JVM hosts EVERY executor thread, so its
    heap is the whole cluster's unified memory pool: 8g for 32
    concurrent tasks plus a cached corpus measurably GC-throttled the
    shuffle/state-heavy queries (full-bench A/B at sf0.1 on a 32-core
    host: 106.7 s at 8g -> 91.9 s at 16g). The 60% leaves the Python
    workers and the OS room on smaller hosts. On a real cluster this
    conf sizes only the driver."""
    cap = 16 * 1024
    return f"{cap if mem_total_mib is None else min(cap, mem_total_mib * 6 // 10)}m"


def host_resources() -> tuple[int, int | None]:
    """(CPUs this process may run on, MemTotal in MiB or None)."""
    n_cpus = (len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
              else os.cpu_count() or 1)
    try:
        with open("/proc/meminfo") as f:
            return n_cpus, next(int(line.split()[1]) // 1024 for line in f
                                if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return n_cpus, None


def get_spark(cores: int | None = None,
              shuffle_partitions: int | None = None,
              app_name: str = "defuddle-spark",
              arrow_batch_rows: int = 512,
              arrow_batch_bytes: int = 32 * 1024 * 1024,
              rocksdb_state_store: bool = False,
              extra_conf: dict | None = None) -> SparkSession:
    """``rocksdb_state_store=True`` applies :data:`ROCKSDB_STATE_CONF`
    (the crawl-scale streaming-state setup every stateful dedup
    docstring points at) — kept as a named flag so the conf shape can't
    drift from the documentation; exercised for real in
    tests/test_streaming.py (Spark 4 bundles rocksdbjni)."""
    host_cpus, host_mem_mib = host_resources()
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", host_cpus))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(arrow_batch_bytes))
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY",
                               default_driver_heap(host_mem_mib)))
        .config("spark.ui.enabled", "false")
    )
    if rocksdb_state_store:
        for k, v in ROCKSDB_STATE_CONF.items():
            builder = builder.config(k, v)
    # last-wins overrides, e.g. spark.ui.enabled=true for tools that
    # read per-task metrics off the REST API, or an event log directory
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
