"""Oracle check of the gate queries: the one place the engine-vs-DuckDB
compare lives.

Usage: python scripts/check_queries.py [sf_dir ...] [q_name ...]

Leading absolute paths are scale-factor dirs (default: the sf0.01 test
data); the rest are query names (default: every registered query).  For each dir and query it runs the Spark query and
the DuckDB oracle over the same parquet and compares row count, sorted
column names and the value hash of :func:`norm_frame`.  A query without
an oracle prints ``rows-only`` and counts as a FAIL, like a mismatch.
Prints one ``RESULT:`` line per dir; exits 1 if any dir fails.
"""
import glob
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

def norm_frame(p: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive normal form: columns sorted by name, floats
    rounded to 9 dp, rows sorted, every value as its string."""
    p = p[sorted(p.columns)].copy()
    for c in p.columns:
        if p[c].dtype == "float64":
            p[c] = p[c].round(9)
    p = p.sort_values(by=list(p.columns)).reset_index(drop=True)
    return p.astype(str)


def vh(p: pd.DataFrame) -> str:
    """Value hash of :func:`norm_frame`."""
    return hashlib.sha256(
        pd.util.hash_pandas_object(norm_frame(p), index=False).values.tobytes()
    ).hexdigest()


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as m

    args = sys.argv[1:]
    sf = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    sfs = [sf]
    while args and args[0].startswith("/"):
        sfs.append(args.pop(0))
    names = args or sorted(m.queries().keys())
    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    failed = False
    for sf in sfs:
        bad = check_sf(spark, m, sf, names)
        print("RESULT:", os.path.basename(sf.rstrip("/")), "ALL MATCH" if not bad else bad, flush=True)
        failed |= bool(bad)
    sys.exit(1 if failed else 0)


def check_sf(spark, m, sf: str, names: list[str]) -> list[str]:
    """Compare each query with its oracle at one SF dir; returns the
    failing names."""
    import duckdb

    # DuckDB's default limit is 80 % of RAM, beside a running Spark JVM:
    # at sf0.1 q_adaptive_grid's oracle alone grew past 12 GB unbounded
    con = duckdb.connect(config={"memory_limit": "3GB"})
    for f in glob.glob(f"{sf}/*.parquet"):
        con.execute(
            f"CREATE VIEW {os.path.basename(f)[:-8]} AS "
            f"SELECT * FROM read_parquet('{f}')"
        )
    bad = []
    for name in names:
        got = m.queries()[name](spark, sf).toPandas()
        o = m.oracle_sql().get(name)
        if o is None:
            print(name, "rows-only", len(got), "FAIL")
            bad.append(name)
            continue
        try:
            want = con.execute(o).df()
        except Exception as e:  # noqa: BLE001
            print(name, "ORACLE ERR", e)
            bad.append(name)
            continue
        ok = (
            len(got) == len(want)
            and sorted(got.columns) == sorted(want.columns)
            and vh(got) == vh(want)
        )
        print(name, len(got), len(want), "match" if ok else "MISMATCH")
        if not ok:
            bad.append(name)
            if sorted(got.columns) != sorted(want.columns):
                print("  spark cols:", sorted(got.columns))
                print("  oracle cols:", sorted(want.columns))
    return bad


if __name__ == "__main__":
    main()
