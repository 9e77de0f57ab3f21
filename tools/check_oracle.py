"""Local differential harness: run every registered query on Spark AND its
DuckDB oracle, canonicalize both frames, and diff — the pre-flight for the
driver's CORRECTNESS gate.

Usage: python tools/check_oracle.py [--sf SF_DIR] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_poc_spark import registry
from data_ingestion_poc_spark.catalog import TABLES
from data_ingestion_poc_spark.session import get_spark

#: DuckDB's memory cap: a quarter of physical memory.
_DUCK_MEMORY_MB = (
    os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 4 // 2**20
)


def _dtype_kind(dt: str) -> str:
    """Collapse a pandas dtype string to its comparison KIND. Driver
    evidence across r1-r3 (win_rank, text_stats, fn_string all passed
    schema_match with Spark int32 vs DuckDB int64) shows integer/float
    WIDTH differences are tolerated; what has actually bitten is
    cross-kind drift (decimal-as-object vs double, int vs float)."""
    if dt.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if dt.startswith(("float", "Float")):
        return "float"
    if dt.startswith("datetime64"):
        return "datetime"
    return dt


def dtype_mismatches(sp: pd.DataFrame, du: pd.DataFrame) -> tuple[list[str], list[str]]:
    """(hard, soft) dtype differences column by column: hard = different
    KIND (fails the check), soft = same kind, different width (warn
    only — the driver tolerates these)."""
    hard, soft = [], []
    for col in sorted(set(sp.columns) & set(du.columns)):
        a, b = str(sp[col].dtype), str(du[col].dtype)
        if a == b:
            continue
        diff = f"{col}: spark={a} duckdb={b}"
        (soft if _dtype_kind(a) == _dtype_kind(b) else hard).append(diff)
    return hard, soft


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    out = {}
    for col in sorted(df.columns):
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            s = s.map(
                lambda v: "NULL"
                if v is None or (isinstance(v, float) and math.isnan(v))
                else f"{float(v):.6f}"
            )
        elif s.dtype == object:
            s = s.map(lambda v: "NULL" if v is None else str(v))
        s = s.astype(str)
        out[col] = s
    res = pd.DataFrame(out)
    return res.sort_values(list(res.columns)).reset_index(drop=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("DIP_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession (no session.builder confs) to simulate "
        "the correctness driver's environment",
    )
    ap.add_argument("--first", type=int, default=0,
                    help="check only the first N entries of the driver-ordered "
                    "queries() dict (0 = all requested)")
    ap.add_argument("--sp", type=int, default=8,
                    help="spark.sql.shuffle.partitions for the sweep session. "
                    "Non-default values (prime/odd) are the parallelism-"
                    "robustness axis: a cluster never runs at the partition "
                    "count the fixtures were tuned at, so any tie-break or "
                    "float-order nondeterminism shows up as a diff here")
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[] thread count (0 = session default); pairs "
                    "with --sp for the parallelism-robustness sweep")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V",
                    help="runtime SQL conf override applied after session "
                    "build (spark.conf.set), e.g. "
                    "--conf spark.sql.adaptive.enabled=false for the "
                    "static-plan (no-AQE) robustness axis; repeatable. Only "
                    "runtime-settable confs take effect")
    args = ap.parse_args()

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{args.cpus or 8}]")
            .appName("check-oracle-vanilla")
            .config("spark.sql.shuffle.partitions", str(args.sp))
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(
            shuffle_partitions=args.sp, **({"cpus": args.cpus} if args.cpus else {})
        )
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
    # DuckDB takes most of host memory by default; capped, an oversize
    # oracle fails its own query with OutOfMemoryException instead of
    # getting the process (and a concurrent Spark JVM) OOM-killed.
    con = duckdb.connect(config={"memory_limit": f"{_DUCK_MEMORY_MB}MB"})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = registry.all_queries()
    if args.first:
        import __spark_entry__ as entry

        names = list(entry.queries())[: args.first]
    else:
        names = args.names or sorted(qs)
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        q = qs[name]
        t0 = time.time()
        try:
            sp = q.fn(spark, args.sf).toPandas()
            oracle = q.oracle_at(args.sf)
            if oracle is None:
                n_rowsonly += 1
                print(f"  ROWS-ONLY {name}: {len(sp)} rows [{time.time()-t0:.1f}s]")
                continue
            du = con.execute(oracle).df()
            hard_diff, soft_diff = dtype_mismatches(sp, du)
            if hard_diff:
                raise AssertionError(f"dtype mismatch: {'; '.join(hard_diff)}")
            if soft_diff:
                print(f"  width?    {name}: {'; '.join(soft_diff)}")
            a, b = canonicalize(sp), canonicalize(du)
            if sorted(a.columns) != sorted(b.columns):
                raise AssertionError(f"columns differ: {list(a.columns)} vs {list(b.columns)}")
            if len(a) != len(b):
                raise AssertionError(f"row counts differ: spark={len(a)} duckdb={len(b)}")
            if not a.equals(b):
                neq = (a != b).any(axis=1)
                diff = pd.concat(
                    [a[neq].head(5).add_prefix("spark_"), b[neq].head(5).add_prefix("duck_")],
                    axis=1,
                )
                raise AssertionError(f"{int(neq.sum())} rows differ:\n{diff.to_string()}")
            n_pass += 1
            print(f"  PASS      {name}: {len(sp)} rows [{time.time()-t0:.1f}s]")
        except Exception as e:
            n_fail += 1
            msg = str(e) if isinstance(e, AssertionError) else traceback.format_exc(limit=25)
            print(f"  FAIL      {name}: {msg}")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
