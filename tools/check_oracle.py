"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark AND its oracle_sql() on DuckDB
over the same parquet tables; compare row count, sorted-column schema,
and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Runs at local[$SPARK_GRAFT_CPUS], the session factory's default.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf) -> str:
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    # canonicalize: floats rounded, everything stringified, rows sorted
    def canon(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return str(v)

    rows = sorted(
        "|".join(canon(v) for v in row) for row in pdf.itertuples(index=False)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from entity_resolution__spark.session import get_spark

    spark = get_spark("check-oracle")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        spdf = sdf.toPandas()
        if name not in oracles:
            print(f"{name:32s} rows={len(spdf):7d}  (rows-only check, no oracle)")
            continue
        opdf = con.execute(oracles[name]).fetchdf()
        ok_rows = len(spdf) == len(opdf)
        ok_schema = sorted(map(str.lower, spdf.columns)) == sorted(
            map(str.lower, opdf.columns)
        )
        h1, h2 = value_hash(spdf), value_hash(opdf)
        ok_hash = h1 == h2
        status = "OK " if (ok_rows and ok_schema and ok_hash) else "FAIL"
        schema_msg = (
            "OK" if ok_schema else f"{sorted(spdf.columns)}!={sorted(opdf.columns)}"
        )
        hash_msg = "OK" if ok_hash else f"{h1}!={h2}"
        print(
            f"{name:32s} {status} rows={len(spdf)}/{len(opdf)} "
            f"schema={schema_msg} hash={hash_msg}"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_hash and ok_rows and ok_schema:
                # show a diff sample
                cols = sorted(spdf.columns)
                a = spdf.reindex(columns=cols).sort_values(cols).head(3)
                b = opdf.reindex(columns=cols).sort_values(cols).head(3)
                print("  spark:", a.to_dict("records"))
                print("  duck :", b.to_dict("records"))
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all checked queries OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
