"""``flows_backlog`` / ``flows_dirty``: the shipped streaming app's path.

The drain runs exactly what ``streaming/app.py`` runs with ``--filesource``:
``read_file_flows`` (default files per trigger) -> ``normalized_stream``
(the ``from_json`` decode) -> ``start_clickhouse_export``. The one stand-in
is the batch writer: instead of a JDBC append it runs one Spark aggregate
per micro-batch that counts the rows and sums their checksum, so the
benchmark can check every delivered row without a ClickHouse server.

The whole corpus is in place before the stream starts, as after the
reference's earliest-offset restart (``ingest_kafka.go:20``), and the run
times the drain of that backlog.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

import corpus
import procstat
import sparkstatus
import stats
from harness import CpuWindow, Session, Tracer, end_to_end, shared_layers

ROWS_PER_FILE = 2000
# At least this many data batches, so the median has >= 10 batches beyond it.
MIN_BATCHES = 24
# Files drained per second on a 4-core host when the benchmark was defined;
# the corpus is sized so a drain lasts about --seconds there, floor first.
NOMINAL_FILES_PER_S = 2.4
WARMUP_FILES = 1
DIRTY_RATE = 0.01


class CheckingSink:
    """foreachBatch writer: per batch, one aggregate with the row count and
    the order-insensitive checksum of the 12 normalized columns. It also
    samples the process tree's CPU as each batch's write ends."""

    def __init__(self):
        self.batches: dict[int, dict] = {}

    def write(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        key = F.concat_ws(
            corpus.SEP,
            F.col("start").cast("bigint").cast("string"),
            F.col("end").cast("bigint").cast("string"),
            "src_ip", "dst_ip", "src_name", "dst_name", "src_kind", "dst_kind",
            "src_namespace", "dst_namespace",
            F.col("bytes").cast("string"), F.col("packets").cast("string"),
        )
        row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32(key)).alias("c")).collect()[0]
        t1 = time.perf_counter()
        self.batches[batch_id] = {"rows": row["n"], "checksum": row["c"] or 0,
                                  "writer_ms": (t1 - t0) * 1e3, "start": t0, "end": t1,
                                  "cpu_end": procstat.sample().tree}


def _start_drain(spark, src: str, checkpoint: str, writer):
    from kafka_clickhouse_example_spark.sinks.clickhouse import start_clickhouse_export
    from kafka_clickhouse_example_spark.sources.kafka import read_file_flows
    from kafka_clickhouse_example_spark.streaming.pipeline import normalized_stream

    flows = normalized_stream(read_file_flows(spark, src))
    return start_clickhouse_export(flows, checkpoint, writer)


def _files_by_batch(checkpoint: str) -> dict[int, list[str]]:
    """Batch id -> input file names, from the file source's metadata log."""
    out: dict[int, set[str]] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    return {b: sorted(v) for b, v in out.items()}


def run(args, work: str) -> dict:
    dirty = args.workload == "flows_dirty"
    tracer = Tracer(enabled=bool(args.trace))
    files = max(MIN_BATCHES, round(args.seconds * NOMINAL_FILES_PER_S))
    src = os.path.join(work, "corpus")
    expected = corpus.write_corpus(src, args.seed, files=files, rows_per_file=ROWS_PER_FILE,
                                   malformed_rate=DIRTY_RATE if dirty else 0.0)
    warm_src = os.path.join(work, "warm-corpus")
    corpus.write_corpus(warm_src, 0, files=WARMUP_FILES, rows_per_file=ROWS_PER_FILE,
                        malformed_rate=DIRTY_RATE)

    def warmup(spark, i):
        q = _start_drain(spark, warm_src, os.path.join(work, f"ckpt-warm-{i}"),
                         CheckingSink().write)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    session = Session(work)
    try:
        session.setup(warmup)
        spark = session.spark
        sink = CheckingSink()
        checkpoint = os.path.join(work, "ckpt")
        with CpuWindow() as cpu:
            t0 = time.perf_counter()
            q = _start_drain(spark, src, checkpoint, sink.write)
            try:
                q.processAllAvailable()
                wall = time.perf_counter() - t0
            finally:
                q.stop()
        progress = [json.loads(p.json) for p in q.recentProgress]
        usage = sparkstatus.by_batch(*sparkstatus.snapshot(spark)) if args.trace else {}
    finally:
        session.stop()
        session.shutdown_jvm()

    data = [p for p in progress if p["numInputRows"] > 0]
    batch_files = _files_by_batch(checkpoint)
    failed = 0
    for batch_id, names in batch_files.items():
        got = sink.batches.get(batch_id)
        want_rows = sum(expected.per_file[n][0] for n in names)
        want_sum = sum(expected.per_file[n][1] for n in names)
        if got is None or (got["rows"], got["checksum"]) != (want_rows, want_sum):
            failed += 1
    rows_out = sum(b["rows"] for b in sink.batches.values())
    rows_in = sum(p["numInputRows"] for p in data)
    checksum = sum(b["checksum"] for b in sink.batches.values())
    correct = (
        failed == 0
        and rows_out == expected.rows
        and checksum == expected.checksum
        and rows_in - rows_out == expected.malformed
        and sum(len(v) for v in batch_files.values()) == expected.files
    )
    trigger = [p["durationMs"]["triggerExecution"] for p in data]
    result = {
        "correct": correct,
        "attempted": len(batch_files),
        "failed": failed,
        "detail": {"rows": rows_out, "expected_rows": expected.rows,
                   "malformed": expected.malformed, "dropped": rows_in - rows_out,
                   "checksum_ok": checksum == expected.checksum, "batches": len(data),
                   "files": expected.files, "trigger_ms": trigger,
                   "steal_s": cpu.steal, "cpu_split": cpu.split()},
    }
    # tree CPU between consecutive batch ends: one full trigger each
    marks = [cpu.start.tree] + [sink.batches[b]["cpu_end"] for b in sorted(sink.batches)]
    op_cpu_ms = [(b - a) * 1e3 for a, b in zip(marks, marks[1:])]
    result["metrics"] = end_to_end(session, cpu, op_cpu_ms, wall, rows_out, trigger)
    if args.trace:
        drain = sparkstatus.Usage()
        for u in usage.values():
            drain.add(u)
        result["metrics"].update(shared_layers(session, cpu, tracer, drain, wall))
        result["metrics"].update(_layers(data, sink, drain, expected, batch_files, rows_in,
                                         rows_out, tracer))
    result["spans"] = tracer.spans
    return result


def _layers(data, sink, drain, expected, batch_files, rows_in, rows_out, tracer) -> dict:
    d = [p["durationMs"] for p in data]
    # spans: one per trigger from the progress clock, the sink call under it
    offset = time.perf_counter() - time.time()
    for p in data:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() + offset
        tid = tracer.add("streaming.trigger", start, start + p["durationMs"]["triggerExecution"] / 1e3,
                         unit=p["batchId"])
        b = sink.batches.get(p["batchId"])
        if b:
            tracer.add("sinks.write", b["start"], b["end"], tid, unit=p["batchId"])
    return {
        "sources.files_per_batch": sum(len(v) for v in batch_files.values()) / len(batch_files),
        "sources.input_rows": rows_in,
        "sources.input_bytes": expected.bytes,
        "streaming.trigger_ms": stats.median([x["triggerExecution"] for x in d]),
        "streaming.overhead_ms": stats.median([x["triggerExecution"] - x.get("addBatch", 0) for x in d]),
        "streaming.plan_ms": stats.median([x.get("queryPlanning", 0) for x in d]),
        "streaming.log_ms": stats.median([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
        "normalize.rows_in": rows_in,
        "normalize.rows_out": rows_out,
        "normalize.rows_dropped": rows_in - rows_out,
        "normalize.exec_cpu_ms": drain.cpu_s * 1e3,
        "sinks.add_batch_ms": stats.median([x.get("addBatch", 0) for x in d]),
        "sinks.writer_ms": stats.median([b["writer_ms"] for b in sink.batches.values()]),
    }
