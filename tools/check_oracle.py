"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables, compare row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, floats rounded to 9 decimal
places before hashing — a slightly STRICTER check than the driver's).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pdf[c].dtype == "float64" or pdf[c].dtype == "float32":
            pdf[c] = pdf[c].astype("float64").round(9)
        # normalize ints across engines
        if str(pdf[c].dtype).startswith(("int", "uint", "Int")):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        issues.append(f"schema: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return issues
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"rows: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                          rtol=0, atol=1e-8)
        except AssertionError as e:
            issues.append(f"values: {str(e).splitlines()[-1][:300]}")
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # data-dependent oracle generators (emb_ann_ivf's codebook) must
    # train on the SAME scale this run compares at; the driver uses the
    # default (sf0.01)
    os.environ["DPOSS_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entrymod
    from data_prep_opensearch_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        wall = time.monotonic() - t0
        if name not in sqls:
            print(f"ok   {name}: rows-only ({len(spark_pdf)} rows, {wall:.1f}s)")
            if len(spark_pdf) == 0 and name != "mm_features":
                print(f"WARN {name}: 0 rows in rows-only query")
            continue
        try:
            duck_pdf = con.execute(sqls[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        issues = compare(name, spark_pdf, duck_pdf)
        if issues:
            failures += 1
            print(f"FAIL {name} ({len(spark_pdf)} vs {len(duck_pdf)} rows, {wall:.1f}s)")
            for i in issues:
                print(f"     {i}")
        else:
            print(f"ok   {name}: match ({len(spark_pdf)} rows, {wall:.1f}s)")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
