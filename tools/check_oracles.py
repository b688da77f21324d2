"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count, column names, and order-insensitive values (columns sorted by
name, rows sorted)."""

from __future__ import annotations

import os
import sys
import time

import os

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from s2_geometry_library_java_spark.plans import cache  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:  # DuckDB HUGEINT sums arrive as Python ints in object cols
                df[c] = pd.to_numeric(df[c], errors="raise")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main(sf_dir: str, only: list[str]):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("check-oracles")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    sc = spark.sparkContext
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # the gate's Spark jobs, plan build and action, under its own group
        sc.setJobGroup(f"gate-{name}", name)
        try:
            with cache.scope():  # each gate releases what it held
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        finally:
            sc.setJobGroup(None, None)
        cost = (
            f"({time.time()-t0:.1f}s, "
            f"{len(sc.statusTracker().getJobIdsForGroup(f'gate-{name}'))} jobs)"
        )
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows  {cost}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        a, b = canon(sdf), canon(odf)
        status = []
        if list(a.columns) != list(b.columns):
            status.append(f"schema {list(a.columns)} != {list(b.columns)}")
        elif len(a) != len(b):
            status.append(f"rows {len(a)} != {len(b)}")
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            status.append(f"{int(neq.sum())} differing rows of {len(a)}")
            ex = a[neq].head(3)
            print("  spark:", ex.to_dict("records"))
            print("  duck :", b[neq].head(3).to_dict("records"))
        if status:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(status)}  {cost}")
        else:
            print(f"OK   {name}: {len(a)} rows  {cost}")
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.exit(main(sf, sys.argv[2:]))
