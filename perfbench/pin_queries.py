#!/usr/bin/env python3
"""Regenerate the query pins in expected.json from DuckDB: each HEADLINE
query's oracle_sql() runs over perfbench/data/sf0.01, and its row count
and tools/check_oracle.value_hash are recorded. Spark plays no part, so
the pins never come from the code the benchmark times.

    python3 perfbench/pin_queries.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def main() -> int:
    import duckdb

    import __spark_entry__
    from oracle import value_hash_fn
    from workloads import QUERIES, SF_DIR

    value_hash = value_hash_fn()
    con = duckdb.connect()
    for fn in sorted(os.listdir(SF_DIR)):
        con.execute(
            f"create view {fn.removesuffix('.parquet')} as "
            f"select * from '{os.path.join(SF_DIR, fn)}'"
        )
    oracles = __spark_entry__.oracle_sql()
    pins = {}
    for name in QUERIES:
        pdf = con.execute(oracles[name]).fetchdf()
        pins[name] = {"rows": len(pdf), "hash": value_hash(pdf)}
        print(f"{name:24s} rows={pins[name]['rows']:6d} hash={pins[name]['hash']}")
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        exp = json.load(f)
    exp["queries_sf0.01"] = pins
    with open(path, "w") as f:
        json.dump(exp, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
