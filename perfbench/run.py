"""Benchmark entry point.

    python3 perfbench/run.py --workload flows_backlog --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics. ``--trace 1`` is a separate, traced run: it
reports the per-layer metrics and writes its spans to
``.perfbench_out/trace-<workload>-<seed>.json``. A layer the workload does
not use reports 0. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("flows_backlog", "flows_dirty", "query_sweep")

END_TO_END = {"setup_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "run.wall_s": "s", "run.rows_per_s": "1/s", "run.op_ms_p50": "ms",
    "run.op_cpu_ms_p50": "ms", "jvm.jit_cpu_s": "s",
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.files_per_batch": "count", "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "streaming.trigger_ms": "ms", "streaming.overhead_ms": "ms",
    "streaming.plan_ms": "ms", "streaming.log_ms": "ms",
    "normalize.rows_in": "count", "normalize.rows_out": "count",
    "normalize.rows_dropped": "count", "normalize.exec_cpu_ms": "ms",
    "sinks.add_batch_ms": "ms", "sinks.writer_ms": "ms",
    "plans.construct_s": "s", "plans.construct_jobs": "count", "plans.py4j_calls": "count",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "exec.cpu_s": "s", "exec.run_s": "s", "exec.slot_util": "ratio", "exec.jobs": "count",
    "exec.tasks": "count", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.gc_s": "s",
    "pyworker.cpu_s": "s", "host.steal_s": "s",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "kafka_clickhouse_example_spark")):
        print("perfbench: run from the repository root (kafka_clickhouse_example_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    # Spark's Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        if args.workload == "query_sweep":
            import sweep as workload
        else:
            import flows as workload
        result = workload.run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-{args.seed}"
    untraced = os.path.join(out_dir, f"run-{tag}.json")
    if args.trace and os.path.exists(untraced):
        # whole-run cost of tracing, against the untraced run of this seed
        with open(untraced) as fh:
            base = json.load(fh)["metrics"]["run.wall_s"]
        result["detail"]["traced_wall_over_untraced"] = result["metrics"]["run.wall_s"] / base
    with open(os.path.join(out_dir, f"{'trace' if args.trace else 'run'}-{tag}.json"), "w") as fh:
        json.dump({k: result[k] for k in ("detail", "spans", "metrics")}, fh)
    print(json.dumps(result["detail"]), file=sys.stderr)
    units = PER_LAYER if args.trace else END_TO_END
    line = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": result["metrics"].get(k, 0), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
