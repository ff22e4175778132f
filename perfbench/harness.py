"""Session settings, spans and timing helpers shared by the workloads."""

from __future__ import annotations

import contextlib
import json
import os
import time

# Every value get_spark would otherwise take from its own defaults is
# pinned here, so a later change to those defaults cannot move the
# benchmark's configuration.
ARROW_BATCH_ROWS = 512
ARROW_BATCH_BYTES = 32 * 1024 * 1024
PINNED_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.execution.arrow.maxBytesPerBatch": str(ARROW_BATCH_BYTES),
    "spark.sql.files.maxPartitionBytes": "64m",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.python.worker.reuse": "true",
}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mib(mem_mib: int) -> int:
    """A quarter of host memory, at most 8 GiB: the host is shared, and
    the local-mode JVM holds the Spark driver and every executor thread."""
    return min(8192, mem_mib // 4)


def settings(work: str, root: str, cores: int,
             event_log_dir: str | None = None) -> dict:
    """The full session configuration, recorded in the run's output."""
    tmp = os.path.join(work, "tmp")
    conf = dict(PINNED_CONF)
    conf.update({
        "spark.driver.memory": f"{driver_heap_mib(host_mem_mib())}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": root,
        "spark.sql.shuffle.partitions": str(max(2 * cores, 8)),
    })
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(conf: dict, cores: int):
    from defuddle_spark.spark.session import get_spark
    spark = get_spark(
        cores=cores,
        shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
        app_name="perfbench",
        arrow_batch_rows=ARROW_BATCH_ROWS,
        arrow_batch_bytes=ARROW_BATCH_BYTES,
        rocksdb_state_store=False,
        extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut the py4j gateway and wait until the JVM and its Python daemon
    and workers have exited. The JVM exits when its stdin closes, the
    daemon when the JVM goes; without this they would outlive this Python
    process for a moment."""
    from pyspark import SparkContext

    import procmem
    gateway = SparkContext._gateway
    if gateway is None:
        return
    procs = procmem.spark_processes(os.getpid())
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in procs.daemons + procs.workers:
        while procmem.alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


class Spans:
    """In-memory spans (name, start, end, parent) around public calls.
    Each span also sets the Spark job group to its name, so the event log
    attributes the call's tasks to it. Written out once, at the end."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.records = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)
        self._stack.append(name)
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            self._stack.pop()
            self.records.append((name, start, end, parent))
            if self.spark is not None:
                if parent is not None:
                    self.spark.sparkContext.setJobGroup(parent, parent)
                else:
                    self.spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", None)

    def seconds(self, name: str) -> float:
        return sum(e - s for n, s, e, _ in self.records if n == name) / 1e9

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent in self.records:
                f.write(json.dumps({"name": name, "start_ns": start,
                                    "end_ns": end, "parent": parent}) + "\n")


class NoSpans(Spans):
    """Untraced runs: same interface, records nothing, tags nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield


def host_cpu_ticks() -> tuple:
    """(busy, steal) clock ticks summed over all CPUs, from /proc/stat.
    Busy counts user, nice, system, irq and softirq time of every process
    on the host; steal is time the hypervisor ran something else."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return user + nice + system + irq + softirq, steal


TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def timed_passes(seconds: float, run_pass, min_passes: int = 3) -> list:
    """Run ``run_pass`` until ``seconds`` of timed work and ``min_passes``
    passes are done; returns the PassOutcome list, each with the host's
    busy and stolen CPU seconds during the pass."""
    outcomes = []
    spent = 0.0
    while spent < seconds or len(outcomes) < min_passes:
        busy0, steal0 = host_cpu_ticks()
        out = run_pass()
        busy1, steal1 = host_cpu_ticks()
        out.cpu_s = (busy1 - busy0) / TICKS_PER_S
        out.steal_s = (steal1 - steal0) / TICKS_PER_S
        outcomes.append(out)
        spent += out.seconds
    return outcomes
