"""Self-check of the driver correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same
parquet tables, compare row count, column names, and an order-
insensitive value hash (columns sorted by name, rows sorted by all
columns, values stringified) — the same comparison shape the driver
uses. Usage:  python tools/check_oracles.py [sf_dir] [query ...]

DuckDB spills to a temp dir of its own, removed at exit, with
max_temp_directory_size set to a quarter of that filesystem's free
space. DuckDB 1.0 does not hold every operator to that cap: the sf0.1
corpus_pipeline_funnel oracle still spills past it.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.round(6) if any(df.dtypes == "float64") else df
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> int:
    return hash(tuple(
        tuple(str(v) for v in row) for row in df.itertuples(index=False)
    ))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from llogtail_spark.session import get_spark

    spark = get_spark("oracle-check", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spill = tempfile.mkdtemp(prefix="check_oracles_duckdb_")
    try:
        run(spark, sf_dir, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def run(spark, sf_dir: str, spill: str) -> None:
    import __spark_entry__ as entry

    con = duckdb.connect(config={
        "temp_directory": spill,
        "max_temp_directory_size": f"{shutil.disk_usage(spill).free // 4 >> 20}MiB",
    })
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    only = set(sys.argv[2:])
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    failures = []
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:200]}", flush=True)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows-only  {name}: {len(got)} rows", flush=True)
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR {e}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}", flush=True)
            continue
        g, w = norm(got), norm(want)
        if list(g.columns) != list(w.columns):
            failures.append((name, f"columns {list(g.columns)} vs {list(w.columns)}"))
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(w.columns)}", flush=True)
        elif len(g) != len(w):
            failures.append((name, f"rows {len(g)} vs {len(w)}"))
            print(f"FAIL  {name}: rows {len(g)} vs {len(w)}", flush=True)
        elif value_hash(g) != value_hash(w):
            failures.append((name, "value hash mismatch"))
            diff = (g != w).any(axis=1) if g.shape == w.shape else None
            print(f"FAIL  {name}: value hash mismatch", flush=True)
            if diff is not None and diff.any():
                i = diff.idxmax()
                print(f"  first diff row {i}:\n  got  {g.iloc[i].to_dict()}\n  want {w.iloc[i].to_dict()}", flush=True)
        else:
            print(f"OK    {name}: {len(g)} rows", flush=True)
    print(f"\n{len(qs) - len(failures)}/{len(qs)} pass", flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
