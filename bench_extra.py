"""Per-query isolation bench (guide §1.4): times individual declared
queries with the noop sink, optionally capturing .explain("formatted")
to a file per query. Supplementary to the FROZEN bench.py — numbers
from here are cited in OPTIMIZATION_r08.md, never in the driver line.

Usage:
  python bench_extra.py [query ...]            # default: all queries
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_EXPLAIN_DIR=plans/r08 SPARK_GRAFT_EXPLAIN_SUFFIX=_before \
  python bench_extra.py repetition_stats dedup_clusters

Each query first runs one untimed warm-up rep, so the timed reps exclude
JVM start-up and the query's code generation.

Prints one JSON line: {"queries": {name: [secs per rep, ...]},
"warmup": {name: secs}, "sf": ...}
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from defuddle_spark.spark.session import get_spark, host_resources
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", host_resources()[0]))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    explain_dir = os.environ.get("SPARK_GRAFT_EXPLAIN_DIR")
    suffix = os.environ.get("SPARK_GRAFT_EXPLAIN_SUFFIX", "")

    if hasattr(os, "sched_setaffinity"):
        try:
            os.sched_setaffinity(0, set(range(cpus)))
        except OSError:
            pass

    import __spark_entry__ as entry
    from defuddle_spark.ops.dedup import release_cached

    spark = get_spark(cores=cpus, app_name="defuddle-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, fn) -> float:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        t = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        secs = round(time.monotonic() - t, 3)
        release_cached()
        spark.sparkContext.setJobDescription(None)
        return secs

    fns = entry.queries()
    names = sys.argv[1:] or list(fns)
    out: dict = {}
    warmup: dict = {}
    for name in names:
        fn = fns[name]
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(f"{explain_dir}/{name}{suffix}.txt", "w") as fh:
                fh.write(buf.getvalue())
            release_cached()
        warmup[name] = run(name, fn)
        out[name] = [run(name, fn) for _ in range(reps)]
        print(f"## {name}: {out[name]} (warm-up {warmup[name]})",
              file=sys.stderr)
    print(json.dumps({"queries": out, "warmup": warmup, "sf": sf_dir,
                      "cpus": cpus, "reps": reps}))
    spark.stop()


if __name__ == "__main__":
    main()
