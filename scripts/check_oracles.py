"""Local stand-in for the driver's correctness gate: run every
`queries()` entry on Spark and its `oracle_sql()` twin on DuckDB over
the same parquet fixtures, compare row count + schema + an
order-insensitive value hash. Prints each query's seconds (Spark run,
DuckDB run and compare) and the total wall time of the sweep.

Usage: python scripts/check_oracles.py [sf_dir] [name ...]
Env: KG_VANILLA_SESSION=1 uses a default-config SparkSession (no kg
tuning) to mimic the driver's own session.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, rows sorted by all
    columns, values stringified (floats repr'd)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(
            lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else repr(v)
        )
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    t_start = time.monotonic()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    if os.environ.get("KG_VANILLA_SESSION"):
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from kg.session import build_session

        spark = build_session(master="local[8]", shuffle_partitions=16)
    # local gate checks the driver-facing 50 AND the extra tier
    queries = entrymod.all_queries()
    oracles = entrymod.oracle_sql()
    n_driver = len(entrymod.queries())
    print(f"{n_driver} driver-facing queries, {len(queries)} total with extras")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            try:
                sdf = fn(spark, sf_dir).toPandas()
            except Exception as e:
                print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
                failed.append(name)
                continue
            if name not in oracles:
                print(f"ok   {name}: rows-only check, rows={len(sdf)}")
                continue
            try:
                odf = con.sql(oracles[name]).df()
            except Exception as e:
                print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
                failed.append(name)
                continue
            problems = []
            if len(sdf) != len(odf):
                problems.append(f"rowcount spark={len(sdf)} duck={len(odf)}")
            if sorted(sdf.columns) != sorted(odf.columns):
                problems.append(
                    f"columns spark={sorted(sdf.columns)} duck={sorted(odf.columns)}"
                )
            if not problems:
                cs, co = canon(sdf), canon(odf)
                if not cs.equals(co):
                    neq = (cs != co).any(axis=1)
                    ex = []
                    for i in cs.index[neq][:3]:
                        ex.append(f"row{i}: spark={cs.loc[i].to_dict()} duck={co.loc[i].to_dict()}")
                    problems.append("values differ; " + " | ".join(ex))
            if problems:
                print(f"FAIL {name}: " + "; ".join(problems))
                failed.append(name)
            else:
                print(f"ok   {name}: rows={len(sdf)} exact match")
        finally:
            print(f"time {name}: {time.monotonic() - t0:.2f}s")
    print(f"total wall {time.monotonic() - t_start:.1f}s")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
