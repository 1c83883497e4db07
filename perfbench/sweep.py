"""``query_sweep``: registry queries built and executed once each, in one
closed loop on a fresh session.

Each query is ``registry.all_queries()[name](spark, sf_dir)`` consumed by
the noop-write action ``bench.py`` times, with a count observed on the
written rows. The count is checked against ``expected_counts.json``: the
DuckDB oracle's row count on the same parquet files, or Spark's recorded
count for the queries that have no oracle (``record_counts.py``). A
mismatch or an exception fails that query.

The query set is an evenly spaced slice of the sorted registry (every
family is represented); the seed only orders it. The session has run only
the warm-up trio before the pass, so memo builds fall inside the pass, on
whichever consumer the order puts first.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time

import procstat
import sparkstatus
from harness import CpuWindow, Session, Tracer, end_to_end, shared_layers

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
WARMUP_QUERIES = ("q1_pricing_summary", "top_talkers", "text_token_stats")
# The pass holds at least this many queries, so the median has >= 10 beyond it.
MIN_QUERIES = 20
# Queries per second of the pass on a 4-core host when the benchmark was
# defined; the pass is sized so it lasts about --seconds there, floor first.
NOMINAL_QUERIES_PER_S = 0.7


def select(names: list[str], n: int) -> list[str]:
    """``n`` names evenly spaced over the sorted registry."""
    names = sorted(names)
    n = min(n, len(names))
    return [names[i * len(names) // n] for i in range(n)]


def oracle_counts(names: list[str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle on SF_DIR (absent: no oracle)."""
    import duckdb

    from kafka_clickhouse_example_spark.registry import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for path in glob.glob(os.path.join(SF_DIR, "*.parquet")):
            table = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        return {n: len(con.execute(oracles[n]).fetchall()) for n in names if n in oracles}
    finally:
        con.close()


class Py4jCounter:
    """Counts py4j round-trips from the driver while ``active``."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.active = False
        self._lock = threading.Lock()
        send = self.client.send_command

        def counting_send(*a, **kw):
            if self.active:
                with self._lock:
                    self.calls += 1
            return send(*a, **kw)

        self.client.send_command = counting_send

    def close(self) -> None:
        del self.client.send_command


def _phases(df) -> dict[str, float]:
    """Catalyst phase times of planning ``df`` once (QueryExecution.tracker)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _execute_counted(df, label: str) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(label)
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
    return int(obs.get["rows"])


def run(args, work: str) -> dict:
    from kafka_clickhouse_example_spark.registry import all_queries

    tracer = Tracer(enabled=bool(args.trace))
    with open(os.path.join(HERE, "expected_counts.json")) as fh:
        recorded = json.load(fh)
    expected = {**recorded["duckdb_oracle"], **recorded["spark_no_oracle"]}

    def warmup(spark, i):
        queries = all_queries()
        for name in WARMUP_QUERIES:
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    session = Session(work)
    try:
        session.setup(warmup)
        spark = session.spark
        queries = all_queries()
        n = max(MIN_QUERIES, round(args.seconds * NOMINAL_QUERIES_PER_S))
        order = select(list(queries), n)
        random.Random(args.seed).shuffle(order)
        counter = Py4jCounter(spark) if args.trace else None
        times: dict[str, float] = {}
        cpu_ms: dict[str, float] = {}
        rows: dict[str, int] = {}
        construct: dict[str, float] = {}
        phases: dict[str, dict] = {}
        errors: dict[str, str] = {}
        with CpuWindow() as cpu:
            t_pass = time.perf_counter()
            for i, name in enumerate(order):
                c0 = procstat.sample().tree
                t0 = time.perf_counter()
                try:
                    with tracer.span("query", unit=name):
                        with tracer.span("plans.construct", unit=name):
                            if counter:
                                counter.active = True
                            try:
                                df = queries[name](spark, SF_DIR)
                            finally:
                                if counter:
                                    counter.active = False
                        construct[name] = time.perf_counter() - t0
                        if args.trace:
                            with tracer.instrumentation():
                                sparkstatus.mark(spark, f"construct:{name}")
                                with tracer.span("plans.catalyst", unit=name):
                                    phases[name] = _phases(df)
                        with tracer.span("exec.noop_write", unit=name):
                            rows[name] = _execute_counted(df, f"perfbench_rows_{i}")
                except Exception as exc:  # a failing query is a failed operation
                    errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
                times[name] = time.perf_counter() - t0
                cpu_ms[name] = (procstat.sample().tree - c0) * 1e3
                if args.trace:
                    with tracer.instrumentation():
                        sparkstatus.mark(spark, f"execute:{name}")
            wall = time.perf_counter() - t_pass
        if counter:
            counter.close()
        usage = sparkstatus.by_marker(*sparkstatus.snapshot(spark)) if args.trace else {}
    finally:
        session.stop()
        session.shutdown_jvm()

    mismatched = {n: (rows[n], expected.get(n)) for n in rows if rows[n] != expected.get(n)}
    failed = set(errors) | set(mismatched)
    op_ms = [times[n] * 1e3 for n in order]
    result = {
        "correct": not failed,
        "attempted": len(order),
        "failed": len(failed),
        "detail": {"queries": len(order), "steal_s": cpu.steal, "cpu_split": cpu.split(),
                   "query_ms": {n: round(times[n] * 1e3, 1) for n in order}, "errors": errors,
                   "mismatched": {n: list(v) for n, v in mismatched.items()}},
        "spans": tracer.spans,
    }
    verified_rows = sum(rows[n] for n in rows if n not in failed)
    result["metrics"] = end_to_end(session, cpu, [cpu_ms[n] for n in order], wall,
                                   verified_rows, op_ms)
    if args.trace:
        total = sparkstatus.Usage()
        construct_jobs = 0
        for label, u in usage.items():
            total.add(u)
            if label.startswith("construct:"):
                construct_jobs += u.jobs
        result["metrics"].update(shared_layers(session, cpu, tracer, total, wall))
        result["metrics"].update({
            "plans.construct_s": sum(construct.values()),
            "plans.construct_jobs": construct_jobs,
            "plans.py4j_calls": counter.calls,
            **{f"plans.{p}_ms": sum(ph[p] for ph in phases.values())
               for p in ("analysis", "optimization", "planning")},
        })
    return result
