"""Drive the grading-driver contract end-to-end: every queries() entry vs
its DuckDB oracle on one scale-factor directory (sf0.01 by default),
exactly like the driver compares them (sorted column names, row count,
values sorted by all columns).

Usage:  python scripts/verify_driver.py [--sf DIR] [query-name ...]
        (no names = all queries)
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb
import pandas as pd

import __spark_entry__ as E
from pyspark.sql import SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def cell(v) -> str:
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "<NULL>"
    if isinstance(v, float):
        return repr(round(v, 6))
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update("|".join(cell(v) for v in row).encode())
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="scale-factor directory")
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    args = ap.parse_args()
    sf, only = args.sf, set(args.names)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n = E.entry(spark).count()
    print(f"MARKER sf={sf} entry_rows={n}")
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"MARKER unknown query names: {unknown}")
        return 2
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as ex:  # noqa: BLE001
            fails.append((name, f"SPARK-ERROR {type(ex).__name__}: {ex}"))
            print(f"MARKER {name} SPARK-ERROR {ex}")
            continue
        if name not in oracles:
            fails.append((name, "NO-ORACLE"))
            print(f"MARKER {name} NO-ORACLE rows={len(sdf)}")
            continue
        try:
            odf = con.execute(oracles[name]).fetch_df()
        except Exception as ex:  # noqa: BLE001
            fails.append((name, f"ORACLE-ERROR {type(ex).__name__}: {ex}"))
            print(f"MARKER {name} ORACLE-ERROR {ex}")
            continue
        s, o = norm(sdf), norm(odf)
        cols_ok = list(s.columns) == list(o.columns)
        rows_ok = len(s) == len(o)
        hash_ok = cols_ok and rows_ok and value_hash(s) == value_hash(o)
        status = "OK" if (cols_ok and rows_ok and hash_ok) else "FAIL"
        print(
            f"MARKER {name} {status} rows={len(s)}/{len(o)} cols_ok={cols_ok} hash_ok={hash_ok}"
        )
        if status == "FAIL":
            detail = ""
            if not cols_ok:
                detail = f"spark_cols={list(s.columns)} oracle_cols={list(o.columns)}"
            elif rows_ok:
                diff = s.compare(o) if s.shape == o.shape else None
                detail = f"first-diff:\n{diff.head(5) if diff is not None else 'shape'}"
            fails.append((name, detail))
    print(f"MARKER summary fails={len(fails)}")
    for name, d in fails:
        print(f"MARKER FAILED {name}: {d}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
