"""Record ``expected_counts.json``: the row count each registry query must
produce on ``data/sf0.01``.

    python3 perfbench/record_counts.py    # from the repository root

For a query with a DuckDB oracle the count is the oracle's, run here on the
same parquet files (some dedup oracles take minutes in DuckDB, which is why
the benchmark reads them from this file instead of running them each time).
For a query without one it is Spark's own count, and the script refuses to
write if the two counts disagree for any query that has both.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import sweep
    from kafka_clickhouse_example_spark.registry import all_queries
    from kafka_clickhouse_example_spark.session import configure_runtime, get_spark

    spark = get_spark("perfbench-record", cpus=4, driver_memory="2g")
    try:
        configure_runtime(spark)
        spark.sparkContext.setLogLevel("ERROR")
        queries = all_queries()
        names = sorted(queries)
        spark_counts = {n: sweep._execute_counted(queries[n](spark, sweep.SF_DIR), f"rec_{i}")
                        for i, n in enumerate(names)}
    finally:
        spark.stop()
    oracle = sweep.oracle_counts(names)
    bad = {n: (spark_counts[n], c) for n, c in oracle.items() if spark_counts[n] != c}
    if bad:
        print(f"record_counts: Spark and oracle disagree: {bad}", file=sys.stderr)
        return 1
    out = {
        "duckdb_oracle": oracle,
        "spark_no_oracle": {n: c for n, c in spark_counts.items() if n not in oracle},
    }
    with open(os.path.join(HERE, "expected_counts.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
