#!/usr/bin/env python3
"""Make golden.json: the expected output of every timed query.

For each query in the timed sets, the DuckDB oracle SQL runs on the staged
sf0.1 layout and its result is reduced to row count + sorted column names
+ the canonical value hash of tests/oracle.py. A query without oracle SQL
records the Spark row count only. The Spark result is compared on the
spot and any mismatch is printed (and makes the exit code 1), so a golden
record is only written from an engine that agrees with the oracle.

    python3 perfbench/golden.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from workloads import TIMED  # noqa: E402


def main() -> int:
    harness.isolate_env()
    from pixels_spark.queries import load_all_modules
    from tests.oracle import duckdb_connection

    registry = load_all_modules()
    spark = harness.start_session()
    try:
        staged, _ = harness.prepare(spark, derived=True)
        golden, bad = {}, 0
        con = duckdb_connection(staged)
        for name in sorted({q for qs in TIMED.values() for q in qs}):
            dq = registry[name]
            sdf = dq.fn(spark, staged)
            spark_d = harness.digest(sdf.columns, [tuple(r) for r in sdf.collect()])
            spark.catalog.clearCache()
            if dq.sql is None:
                golden[name] = {"rows": spark_d["rows"], "sha256": None}
                continue
            rel = con.sql(dq.sql)
            golden[name] = harness.digest(rel.columns, rel.fetchall())
            same = golden[name] == spark_d
            bad += not same
            print(f"{name}: {golden[name]['rows']} rows, spark {'matches' if same else 'DIFFERS'}", flush=True)
        con.close()
    finally:
        harness.stop_session()
    with open(os.path.join(harness.HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
