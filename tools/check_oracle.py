"""Local emulation of the driver's correctness gate: run each registry entry
on Spark AND its DuckDB oracle at sf0.01, compare row-count + column set +
order-insensitive values.

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

from elasticsearch_spark.registry import ORACLES, QUERIES  # noqa: E402
from elasticsearch_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].round(6)
        elif str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    only = set(sys.argv[1:])
    unknown = sorted(only - set(QUERIES))
    if unknown:
        print(f"unknown registry entries: {unknown}")
        return 1
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    spark = get_spark(app_name="check_oracle", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        sql = ORACLES.get(name)
        if sql is None:
            print(f"ok?  {name}: no oracle (rows-only), {len(got)} rows")
            continue
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        g, e_ = norm(got), norm(exp)
        if sorted(g.columns) != sorted(e_.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e_.columns)}")
            failures.append(name)
        elif len(g) != len(e_):
            print(f"FAIL {name}: rows {len(g)} vs {len(e_)}")
            failures.append(name)
        elif not g.equals(e_):
            diff = (g != e_).any(axis=1)
            print(f"FAIL {name}: value mismatch at rows {list(g.index[diff][:5])}")
            print("  spark:", g[diff].head(3).to_dict("records"))
            print("  duck :", e_[diff].head(3).to_dict("records"))
            failures.append(name)
        else:
            print(f"PASS {name} ({len(g)} rows)")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
