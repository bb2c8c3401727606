"""Shared plumbing: where the program lives, the Spark session the
benchmark builds through the program's own factory, peak RSS from
``/proc``, and the result every workload returns."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: The checkout root: the directory that holds ``perfbench/``.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Everything a run writes lives under here (inputs, Spark scratch, traces).
OUT_DIR = os.path.join(ROOT, ".perfbench")
CORES = os.cpu_count() or 1


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "forgettable_spark", "__init__.py"))


def confine_to(workdir: str) -> None:
    """Point every temp and scratch location of this process, its Spark
    JVM and Spark's Python workers inside ``workdir``, and let the
    workers import the program."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(workdir: str):
    """``local[nproc]`` with shuffle partitions = nproc, through the
    program's session factory (the ``session`` layer)."""
    from forgettable_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait for it: the JVM exits
    once its stdin, a pipe from this process, is closed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def spark_version() -> str:
    import pyspark

    return pyspark.__version__


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(c) for c in fh.read().split()]
    except OSError:
        return []


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Peak RSS (``VmHWM``) of this Python process plus its Spark JVM."""
    pid = os.getpid()
    total = _status_kb(pid, "VmHWM")
    frontier = _children(pid)
    while frontier:
        child = frontier.pop()
        if _is_java(child):
            total += _status_kb(child, "VmHWM")
        else:
            frontier.extend(_children(child))
    return total / 1024.0


def warm_session(spark, data_dir: str) -> None:
    """Untimed warm-up before the timed suite: the parquet reader on each
    source table, then one non-registry plan with the machinery the
    registered queries compile (shuffle and broadcast joins, a window,
    explode + aggregate, md5/array/higher-order-function codegen), so the
    first timed entry does not pay the session's one-time JIT."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from forgettable_spark.sources import load_table

    for name in ("events", "documents", "embeddings"):
        load_table(spark, data_dir, name).count()
    block = spark.range(0, 20_000, 1, CORES).select(
        "id",
        F.md5(F.col("id").cast("string")).alias("h"),
        (F.col("id") % 97).alias("k"),
        F.array_sort(F.array(F.col("id") % 7, F.col("id") % 11, F.col("id") % 13)).alias("arr"),
        F.split(F.repeat(F.concat(F.col("id").cast("string"), F.lit(" t")), 8), " ").alias("toks"),
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10).cast("bigint").alias("hk"),
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda i: (i * F.col("id") % 17).cast("double")).alias("vec"),
    )
    agg = block.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    (
        block.join(agg, "k")
        .join(F.broadcast(agg.limit(10).withColumnRenamed("c", "bc")), "k", "left")
        .withColumn("e", F.explode("arr"))
        .withColumn("gram", F.concat_ws(" ", F.slice("toks", 1, 2)))
        .withColumn("fold", F.aggregate("vec", F.lit(0.0), lambda a, x: a + x))
        .withColumn("bits", F.shiftright(F.col("hk"), 4).bitwiseAND(F.lit(15)))
        .withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy(F.desc("h"))))
        .filter(F.col("rn") <= 5)
        .write.format("noop").mode("overwrite").save()
    )
    (
        block.select("id", F.explode("toks").alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    spark.catalog.clearCache()


#: Longest a spinner of :func:`busy_cores` runs: longer than any timed window.
SPIN_LIMIT_S = 150
#: A spinner of :func:`busy_cores`: a busy loop at idle priority that
#: ends when its parent goes away or after ``argv[1]`` seconds.
_SPIN = """
import os, sys, time
os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
parent, end = os.getppid(), time.monotonic() + float(sys.argv[1])
while os.getppid() == parent and time.monotonic() < end:
    for _ in range(100_000):
        pass
"""


@contextmanager
def busy_cores():
    """Keep every core of the machine busy at idle priority while the
    block runs, so the cores never halt.

    On a virtual machine a halted core is woken by the host, and that
    wake-up waits for the host's scheduler. A point read hands off between
    threads and processes (HTTP handler, Python, py4j, the Spark
    scheduler) many times, so on an idle guest its latency follows the
    host's load: on 4 cores read p50 went from 290 ms to 520 ms in runs
    where such waits made up 10-15% of the CPU time (``steal``). An
    idle-priority spinner gives way to any other thread of the guest at
    once, but keeps its core running, so the hand-offs stay inside the
    guest and those waits fall to ~0. Every workload's timed window runs
    inside it.
    """
    procs = [
        subprocess.Popen([sys.executable, "-c", _SPIN, str(SPIN_LIMIT_S)], stdin=subprocess.DEVNULL)
        for _ in range(CORES)
    ]
    try:
        yield
    finally:
        for p in procs:
            p.kill()
        for p in procs:
            p.wait()


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (``cpu`` line of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_ticks` readings that the
    hypervisor gave to other guests (the 8th counter, ``steal``). Wall-clock
    metrics of a run with a high share are slowed by the host, not the program."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0


@dataclass
class Result:
    """What one workload run measured.

    ``metrics`` holds the end-to-end metrics (name -> value), ``samples``
    the sample count behind each, ``layers`` the per-layer metrics of a
    traced run, and ``detail`` everything else worth keeping (per-route
    and per-entry numbers, checks, spans).
    """

    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def set_up(self, started: float) -> None:
        """``setup_s``: wall time from the start of the process
        (``started``, a ``perf_counter`` reading) to now, the start of
        the timed window. Call it once, right before timing starts."""
        self.metrics["setup_s"] = time.perf_counter() - started
        self.samples["setup_s"] = 1
