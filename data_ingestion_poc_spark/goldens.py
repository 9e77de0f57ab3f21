"""Golden-VALUES oracle builders computed from the fixtures ON DISK.

Some operators read the fixture files themselves (binaryFile scans,
multimodal decode stages) or apply engine-native hashes DuckDB cannot
replay. Their strongest possible oracle is a VALUES table of the exact
expected rows, derived from the same bytes the query will read.
Computing the goldens dynamically (instead of hardcoding, as r2's
scan_binary_meta did) keeps them correct when the driver regenerates
TESTDATA between rounds — which happened in r3 (events.ts switched from
TIMESTAMP(NANOS) to timestamp[us], shifting several file sizes).

Each builder takes the scale-factor directory it reads (`sf_dir`) and is
registered uncalled (``@register(name, oracle=_builder)``); the registry
calls it the first time that query's oracle is asked for at a scale and
memoizes the string per (name, sf_dir), so importing or registering
computes nothing. ``Query.oracle`` resolves at ORACLE_SF_DIR (the
driver's correctness gate runs at sf0.01; SPARK_GRAFT_ORACLE_SF_DIR
overrides that default); tools resolve at the scale they run with
``Query.oracle_at(sf_dir)``. Builders return None when the fixtures are
missing, which downgrades the query to a rows-only check.
"""

from __future__ import annotations

import glob
import os

#: The scale-factor directory ``Query.oracle`` resolves golden builders at.
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def fixture_parquets(sf_dir: str) -> list[str]:
    """Sorted fixture parquet paths (the blobs binaryFile scans read)."""
    return sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))


def sql_str(v: object) -> str:
    """Render a Python value as a DuckDB literal."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def values_oracle(
    rows: list[tuple],
    columns: list[str],
    order_by: str | None = None,
    casts: dict[str, str] | None = None,
) -> str | None:
    """Build `SELECT ... FROM (VALUES ...) t(cols)` from computed rows.

    `casts` maps column -> SQL type so integer literals can be widened to
    BIGINT etc. (DuckDB types bare VALUES ints as INT32; Spark columns are
    usually LongType, and the driver's schema check compares dtypes).
    """
    if not rows:
        return None
    casts = casts or {}
    body = ",\n      ".join("(" + ", ".join(sql_str(v) for v in r) + ")" for r in rows)
    proj = ", ".join(
        f"CAST({c} AS {casts[c]}) AS {c}" if c in casts else c for c in columns
    )
    sql = (
        f"    SELECT {proj} FROM (VALUES\n      {body})\n"
        f"    AS t({', '.join(columns)})"
    )
    if order_by:
        sql += f"\n    ORDER BY {order_by}"
    return sql
