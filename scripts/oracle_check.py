"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the same sf, compare
row count, sorted-column schema, and an order-insensitive value hash.

Usage: python3 scripts/oracle_check.py [sf_dir] [names...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in cols:
        if pdf[c].dtype == object or str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype(str)
        elif pdf[c].dtype == bool:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(6).map(lambda x: f"{x:.6f}")
        else:
            pdf[c] = pdf[c].astype("Int64").astype(str)
    rows = sorted("\x1f".join(r) for r in pdf.astype(str).itertuples(index=False))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry
    from hdfs_anomaly_detection_spark.session import get_spark

    spark = get_spark(parallelism=8, shuffle_partitions=16, app_name="oracle-check")
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, os_ = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows-only) — {len(sdf)} rows")
            continue
        try:
            ddf = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        ok_rows = len(sdf) == len(ddf)
        ok_schema = sorted(sdf.columns) == sorted(ddf.columns)
        ok_hash = ok_schema and value_hash(sdf) == value_hash(ddf)
        if ok_rows and ok_schema and ok_hash:
            print(f"OK   {name}: {len(sdf)} rows")
        else:
            failures += 1
            print(f"FAIL {name}: rows {len(sdf)}/{len(ddf)} schema={ok_schema} hash={ok_hash}")
            if ok_schema and not ok_hash:
                cols = sorted(sdf.columns)
                a = sdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
                b = ddf[cols].astype(str).sort_values(cols).reset_index(drop=True)
                diff = a.compare(b) if len(a) == len(b) else None
                if diff is not None and len(diff):
                    print(diff.head(6))
                elif len(a) != len(b):
                    print("  spark head:", a.head(3).to_dict("records"))
                    print("  duck  head:", b.head(3).to_dict("records"))
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
