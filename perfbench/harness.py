"""Pieces shared by the workloads: machine facts, Spark session lifetime,
spans, percentiles, peak memory, the fixed calibration canary and the
record of what a run measured.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``,
including Spark's scratch space and the JVM's temp directory.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Machine:
    nproc: int
    mem_total_gb: float

    @property
    def driver_memory(self) -> str:
        # a quarter of physical memory, 1..8 GB: the package default (48g)
        # oversubscribes small boxes shared with other work
        return f"{max(1, min(8, int(self.mem_total_gb // 4)))}g"


def machine() -> Machine:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return Machine(nproc=len(os.sched_getaffinity(0)), mem_total_gb=kb / 2**20)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_session(work: str, mach: Machine, event_log_dir: str | None):
    """Start Spark on ``local[nproc]``; return (session, seconds taken).

    With ``event_log_dir`` set, Spark writes one uncompressed, non-rolling
    JSON event log there (the traced run's source of executor metrics)."""
    scratch = fresh_dir(os.path.join(work, "spark-local"))
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    from dibimbing_case_study_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{mach.nproc}]",
        shuffle_partitions=mach.nproc,
        driver_memory=mach.driver_memory,
        extra_conf=conf,
    )
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    with contextlib.suppress(OSError):
        for tid in os.listdir(f"/proc/{pid}/task"):
            with contextlib.suppress(OSError), open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(k) for k in f.read().split()]
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    live descendant: the Python driver, the JVM and Spark's Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        with contextlib.suppress(OSError), open(f"/proc/{pid}/status") as f:
            total_kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
    return total_kb / 1024


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM it launched and wait for every child process."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while (alive := [p for p in kids if os.path.exists(f"/proc/{p}")]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive interpolation between ranks)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans around calls into the engine, kept in memory for the run.

    Disabled (``sc=None``) it records nothing and tags no job, so untraced
    runs time the engine alone. Enabled, each span also sets Spark's job
    group to ``<parent>/<name>``, which ties the event log's jobs back to
    the span that started them."""

    sc: object | None = None
    spans: list[Span] = field(default_factory=list)

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        if not self.enabled:
            yield
            return
        group = f"{parent}/{name}" if parent else name
        self.sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time(), parent))
            self.sc.setJobGroup("", "")

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)


def calibration_seconds(spark) -> float:
    """Best of two timings of a fixed, data-independent Spark pipeline.

    The pipeline is the calibration canary of the repository's ``bench.py``
    (join + window + explode + hash aggregate + sort over 200k synthetic
    rows). Runs on other machines or at other times can be normalized by it.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    def once() -> float:
        t0 = time.perf_counter()
        df = spark.range(200_000).select(
            "id", (F.col("id") % 97).alias("k"), (F.col("id") * 0.001).alias("v")
        )
        dim = spark.range(97).select(F.col("id").alias("k"), F.lit("x").alias("name"))
        (
            df.join(dim, "k")
            .withColumn("rn", F.row_number().over(W.partitionBy("k").orderBy("id")))
            .withColumn("arr", F.array("id", "k"))
            .select("*", F.explode("arr").alias("e"))
            .groupBy("k")
            .agg(
                F.sum(F.call_function("rint", F.col("v") * 100).cast("bigint")).alias("s"),
                F.avg("v").alias("a"),
                F.count(F.lit(1)).alias("c"),
            )
            .orderBy("s")
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        return time.perf_counter() - t0

    return min(once(), once())


@dataclass
class Outcome:
    """What one workload run measured, filled in by the workload module."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    setup_s: float = 0.0
    op_s: list[float] = field(default_factory=list)  # latency of each timed operation
    pass_s: list[float] = field(default_factory=list)  # wall time of each full pass
    per_op: dict[str, float] = field(default_factory=dict)  # median wall by operation name
    reported: list[tuple[str, float, str]] = field(default_factory=list)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)  # workload state its ``layers`` step reads

    def fail(self, message: str) -> None:
        self.failed += 1
        self.failures.append(message)

    def begin_timed(self, process_start: float) -> None:
        self.setup_s = time.perf_counter() - process_start

    def report(self, name: str, value: float, unit: str) -> None:
        self.reported.append((name, value, unit))

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (value, unit)

    def note(self, text: str) -> None:
        self.notes.append(text)
