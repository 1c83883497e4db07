"""Session set-up, CPU and span bookkeeping shared by the workloads."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import procstat
import sparkstatus
import stats

SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end.

    Disabled tracers record nothing; ``overhead_s`` accumulates the time
    spent in instrumentation that only a traced run performs.
    """

    enabled: bool
    spans: list = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list = field(default_factory=list)

    def add(self, name: str, start: float, end: float | None, parent=None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        """Span around the block; spans opened inside it get it as parent.
        Spans of one unit of work share its ``unit`` attr."""
        if not self.enabled:
            yield
            return
        sid = self.add(name, time.perf_counter(), None,
                       self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    @contextmanager
    def instrumentation(self):
        """Time spent here is tracing cost, not work of the program."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0


class Session:
    """Owns the one SparkSession of a run and its working directories."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.start_s: list[float] = []
        self.warmup_s: list[float] = []
        self.setup_s: list[float] = []

    def _conf(self) -> dict[str, str]:
        """Keep Spark's temporary files inside the work directory."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # read by the JVM at launch (it wins over spark.local.dir) and by
        # Python's tempfile in the driver and the workers
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        return {
            **sparkstatus.SPARK_CONF,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }

    def setup(self, warmup) -> None:
        """Set the session up SETUP_REPEATS times, keeping the last one.

        One set-up is session start, ``configure_runtime``, registry import
        and ``warmup(spark)``. The first pays the JVM launch; the others
        restart the SparkContext inside that JVM.
        """
        from kafka_clickhouse_example_spark.session import configure_runtime, get_spark

        for i in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=cores(), driver_memory=DRIVER_MEMORY,
                              extra_conf=self._conf())
            configure_runtime(spark)
            spark.sparkContext.setLogLevel("ERROR")
            from kafka_clickhouse_example_spark.registry import all_queries

            all_queries()
            t1 = time.perf_counter()
            warmup(spark, i)
            t2 = time.perf_counter()
            self.spark = spark
            self.start_s.append(t1 - t0)
            self.warmup_s.append(t2 - t1)
            self.setup_s.append(t2 - t0)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self, timeout: float = 60.0) -> None:
        """End the JVM PySpark launched and wait for it. The JVM exits when
        its stdin closes; its Python workers exit with it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is None or proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=timeout)
        SparkContext._gateway = SparkContext._jvm = None

    @property
    def setup_median(self) -> float:
        return statistics.median(self.setup_s)


class CpuWindow:
    """Process-tree CPU, and the host's steal time, over an interval."""

    def __enter__(self):
        self.start = procstat.sample()
        self.steal_start = procstat.steal_seconds()
        return self

    def __exit__(self, *exc):
        self.used = procstat.sample() - self.start
        self.steal = procstat.steal_seconds() - self.steal_start
        return False

    def split(self) -> dict[str, float]:
        u = self.used
        return {"driver": u.driver, "jvm": u.jvm, "jit": u.jit, "pyworker": u.pyworker}


def end_to_end(session: Session, cpu: CpuWindow, op_cpu_ms, wall: float, rows: int,
               op_ms) -> dict:
    """Metrics named alike on every workload: the end-to-end ones and the
    run-level wall-clock and per-operation figures (``run.*``)."""
    return {
        "setup_s": session.setup_median,
        "cpu_s": cpu.used.tree,
        "jvm.jit_cpu_s": cpu.used.jit,
        "run.op_cpu_ms_p50": stats.tail(op_cpu_ms, 0.5),
        "run.wall_s": wall,
        "run.rows_per_s": rows / wall,
        "run.op_ms_p50": stats.tail(op_ms, 0.5),
    }


def shared_layers(session: Session, cpu: CpuWindow, tracer: Tracer,
                  usage: sparkstatus.Usage, wall: float) -> dict:
    """Per-layer metrics every workload reports the same way."""
    return {
        "session.start_s": statistics.median(session.start_s),
        "session.warmup_s": statistics.median(session.warmup_s),
        **usage.metrics(wall, cores()),
        "pyworker.cpu_s": cpu.used.pyworker,
        "host.steal_s": cpu.steal,
        "trace.overhead_s": tracer.overhead_s,
        "trace.overhead_share": tracer.overhead_s / wall,
    }

