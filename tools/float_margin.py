"""Float parity-margin report: how close is each value-oracled query to
the 1e-6 canonicalization cliff?

The differential harness compares floats at %.6f; a query can pass while
its engines disagree by 4.9e-7 — one fixture regeneration away from a
flake. This tool re-runs every value-oracled query on Spark and DuckDB,
aligns rows exactly as check_oracle's canonicalizer does, and reports
the MAX absolute difference over all float cells per query. Queries are
bucketed:

  exact      max diff == 0          (bit-identical doubles)
  safe       max diff <= 1e-9       (ulp-level noise, 3 decades of margin)
  watch      1e-9 < max diff < 1e-7 (one decade of margin)
  fragile    max diff >= 1e-7       (within 5x of the cliff — fix these)

Usage: python tools/float_margin.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_poc_spark import registry
from data_ingestion_poc_spark.catalog import TABLES
from data_ingestion_poc_spark.session import get_spark


def max_float_diff(
    sp: pd.DataFrame, du: pd.DataFrame
) -> tuple[float, int] | str:
    """Align rows via the canonical sort order, then max |spark - duck|
    across float columns. Returns (max_diff, nan_xor_count); a string
    is a skip reason (row-count mismatch / no shared float columns) —
    callers must surface it, not drop it (ADVICE r10)."""
    float_cols = sorted(
        c
        for c in set(sp.columns) & set(du.columns)
        if pd.api.types.is_float_dtype(sp[c]) or pd.api.types.is_float_dtype(du[c])
    )
    if not float_cols:
        return "no shared float columns"
    if len(sp) != len(du):
        return f"row-count mismatch {len(sp)} vs {len(du)}"
    if len(sp) == 0:
        return "empty result"

    # the same string-canonical sort check_oracle.canonicalize applies,
    # but keeping the original-row permutation so raw floats can be
    # compared pairwise after alignment. Rows that tie at %.6f precision
    # on every column are the near-cliff cases this tool targets, so the
    # sort is tie-broken by the RAW float values — mergesort falling
    # back to each engine's arbitrary row order could mispair them and
    # mis-state the margin (ADVICE r10).
    def order(df: pd.DataFrame) -> np.ndarray:
        c = df.copy()
        out = {}
        for col in sorted(c.columns):
            s = c[col]
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
            out[col] = s.astype(str)
        key = pd.DataFrame(out)
        sort_cols = list(key.columns)
        for col in float_cols:
            raw = c[col].astype(float).fillna(-math.inf)
            key[f"__raw_{col}"] = raw
            sort_cols.append(f"__raw_{col}")
        return key.sort_values(sort_cols, kind="mergesort").index.to_numpy()

    sp2 = sp.iloc[order(sp)].reset_index(drop=True)
    du2 = du.iloc[order(du)].reset_index(drop=True)
    worst = 0.0
    nan_xor = 0
    for c in float_cols:
        a = sp2[c].astype(float).to_numpy()
        b = du2[c].astype(float).to_numpy()
        # NaN-in-one-engine-only is a real disagreement, not a cell to
        # mask: count it so the caller flags the query (ADVICE r10).
        nan_xor += int((np.isnan(a) ^ np.isnan(b)).sum())
        both = ~(np.isnan(a) | np.isnan(b))
        if both.any():
            worst = max(worst, float(np.abs(a[both] - b[both]).max()))
    return worst, nan_xor


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )
    qs = registry.all_queries()
    names = args.names or sorted(qs)
    rows = []
    for name in names:
        q = qs[name]
        oracle = q.oracle_at(args.sf)
        if oracle is None:
            continue
        try:
            sp = q.fn(spark, args.sf).toPandas()
            du = con.execute(oracle).df()
            res = max_float_diff(sp, du)
        except Exception as e:  # report, keep sweeping
            print(f"  ERROR     {name}: {e}")
            continue
        if isinstance(res, str):
            if res != "no shared float columns":
                # a float-margin tool skipping a query for row mismatch
                # is itself a finding — never vanish silently
                print(f"  SKIP      {name}: {res}")
            continue
        rows.append((res[0], res[1], name))
    rows.sort(reverse=True)
    buckets = {"fragile": 0, "watch": 0, "safe": 0, "exact": 0}
    for d, nan_xor, name in rows:
        b = (
            "fragile"
            if d >= 1e-7 or nan_xor
            else "watch" if d > 1e-9 else "safe" if d > 0 else "exact"
        )
        buckets[b] += 1
        if nan_xor:
            print(f"  fragile   {name}: {nan_xor} NaN-vs-value cell(s)")
        elif b in ("fragile", "watch"):
            print(f"  {b:8s}  {name}: max |spark-duck| = {d:.3e}")
    print(
        f"\n{len(rows)} float-bearing queries: "
        + ", ".join(f"{k}={v}" for k, v in buckets.items())
    )
    return 1 if buckets["fragile"] else 0


if __name__ == "__main__":
    sys.exit(main())
