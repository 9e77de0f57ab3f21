"""Registry hygiene: properties every registered query must satisfy for
the driver's compare to be meaningful. Schema-level only (no actions) for
the batch queries; streaming queries execute on construction and are
covered by their own oracle checks, so they are skipped here."""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

import pytest

from data_ingestion_poc_spark import registry

from conftest import SF_CORRECT

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SKIP_PREFIXES = ("stream_",)  # constructing these executes a streaming query
SKIP_EXPENSIVE = {"ingest_observe"}  # runs an action internally


def _batch_queries():
    return {
        n: q
        for n, q in registry.all_queries().items()
        if not n.startswith(SKIP_PREFIXES) and n not in SKIP_EXPENSIVE
    }


def test_names_are_wellformed():
    for name in registry.all_queries():
        assert re.fullmatch(r"[a-z][a-z0-9_]*", name), name


def test_oracles_reference_known_views():
    """Every oracle must only read the pre-registered fixture views (or
    inline VALUES) — anything else fails in the driver's DuckDB."""
    known = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name, q in registry.all_queries().items():
        if q.oracle is None:
            continue
        # CTE names, including the column-list form `name(c1, c2) AS (`
        # used by recursive CTEs
        ctes = set(
            re.findall(
                r"([a-z_][a-z_0-9]*)\s*(?:\([^()]*\))?\s+AS\s*\(", q.oracle, re.I
            )
        )
        # derived-table aliases: only `FROM (subquery) alias` / `JOIN
        # (subquery) alias` count — paren-match from each FROM/JOIN (so a
        # stray `COUNT(*) AS n` cannot whitelist `n` as a table name)
        aliases = set()
        for m in re.finditer(r"(?:FROM|JOIN)\s*\(", q.oracle, re.I):
            depth, i = 1, m.end()
            while i < len(q.oracle) and depth:
                depth += {"(": 1, ")": -1}.get(q.oracle[i], 0)
                i += 1
            tail = re.match(
                r"\s*(?:AS\s+)?([a-z_][a-z_0-9]*)\b", q.oracle[i:], re.I
            )
            if tail:
                aliases.add(tail.group(1).lower())
        # `IS NOT DISTINCT FROM x.k` / `FROM x.y`: dotted refs are alias
        # uses, not table reads — treated below via the \b word boundary
        # builtin DuckDB table functions usable without any registration
        table_fns = {"range", "unnest", "generate_series"}
        for tbl in re.findall(r"(?:FROM|JOIN)\s+([a-z_][a-z_0-9]*)\b", q.oracle):
            ok = tbl in known or tbl in ctes or tbl in aliases or tbl == "t"
            assert ok or tbl in table_fns, (name, tbl)


@pytest.mark.parametrize("name", sorted(_batch_queries()))
def test_output_columns_unique_and_named(spark, sf_dir, name):
    """Duplicate or auto-generated output column names silently corrupt
    the driver's sorted-column value hash — every query must emit unique,
    explicitly-aliased columns."""
    df = registry.get(name).fn(spark, sf_dir)
    cols = df.columns
    assert len(cols) == len(set(cols)), (name, cols)
    for c in cols:
        assert re.fullmatch(r"[A-Za-z][A-Za-z0-9_]*", c), (name, c)


def test_rows_only_queries_have_rationale():
    """Every oracle=None query needs a written rationale in
    registry.ROWS_ONLY_RATIONALE (and no stale entries for queries that
    since gained an oracle) — the checklist that keeps rows-only checks an
    explicit, justified exception rather than silent verification debt.

    Golden-VALUES oracles are computed from the fixture dir on demand and
    degrade to None when it is absent; on a machine without the fixtures
    the exact-set assertion is meaningless, so only assert the documented
    names are a subset and skip the staleness half."""
    import os

    from data_ingestion_poc_spark.goldens import ORACLE_SF_DIR

    rows_only = {n for n, q in registry.all_queries().items() if q.oracle is None}
    documented = set(registry.ROWS_ONLY_RATIONALE)
    if not os.path.isdir(ORACLE_SF_DIR):
        assert documented <= rows_only, (
            f"stale rationale: {sorted(documented - rows_only)}"
        )
        pytest.skip(
            f"fixture dir {ORACLE_SF_DIR} missing — golden-oracle queries "
            "degrade to rows-only, exact-set check not meaningful"
        )
    assert rows_only == documented, (
        f"missing rationale: {sorted(rows_only - documented)}; "
        f"stale rationale: {sorted(documented - rows_only)}"
    )


def test_cli_list_and_unknown_query(capsys):
    """`list` prints every registered query with its oracle kind;
    `run` with an unknown name exits 2 without starting Spark."""
    from data_ingestion_poc_spark import registry
    from data_ingestion_poc_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in ("agg_hash_group", "dedup_minhash", "join_geo_distance"):
        assert name in out
    assert out.count("\n") == len(registry.all_queries())
    assert main(["run", "no_such_query"]) == 2


def test_registering_computes_no_golden(tmp_path):
    """Importing every module computes no golden oracle: with the default
    oracle scale pointed at a directory that does not exist yet, the
    goldens resolve from the fixtures copied there AFTER import_all()."""
    names = ["dedup_minhash", "multimodal_audio_framestats", "scan_binary_meta"]
    target = tmp_path / "sf"
    script = (
        "import json, shutil, sys\n"
        "from data_ingestion_poc_spark import registry\n"
        "registry.import_all()\n"
        f"shutil.copytree({SF_CORRECT!r}, {str(target)!r})\n"
        f"print(json.dumps({{n: registry.get(n).oracle for n in {names!r}}}))\n"
    )
    env = dict(os.environ, SPARK_GRAFT_ORACLE_SF_DIR=str(target))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env,
        capture_output=True, text=True, check=True,
    ).stdout
    got = json.loads(out.splitlines()[-1])
    for name in names:
        want = registry.get(name).oracle_at(SF_CORRECT)
        assert want is not None, name
        assert got[name] == want, name


def _import_time_golden_sites(root: str) -> list[str]:
    """'path:line: what' for every package call to a function that takes
    `sf_dir` made at import time (module body, decorators, defaults), and
    every use of ORACLE_SF_DIR outside goldens.py and registry.py."""
    paths = glob.glob(
        os.path.join(root, "data_ingestion_poc_spark", "**", "*.py"),
        recursive=True,
    )
    trees = {}
    for path in paths:
        with open(path) as f:
            trees[os.path.relpath(path, root)] = ast.parse(f.read())
    takes_sf = {
        node.name
        for tree in trees.values()
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and "sf_dir" in [a.arg for a in node.args.args + node.args.kwonlyargs]
    }

    def import_time(node):
        """`node` and its descendants that run when the module is
        imported: decorators and defaults, never function bodies."""
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            args = node.args
            for expr in node.decorator_list + args.defaults + args.kw_defaults:
                if expr is not None:
                    yield from import_time(expr)
            return
        if isinstance(node, ast.Lambda):
            return
        yield node
        for child in ast.iter_child_nodes(node):
            yield from import_time(child)

    found = []
    for rel, tree in trees.items():
        for node in import_time(tree):
            func = getattr(node, "func", None)
            name = getattr(func, "id", getattr(func, "attr", None))
            if isinstance(node, ast.Call) and name in takes_sf:
                found.append(f"{rel}:{node.lineno}: {name}() at import")
        if rel.endswith(("/goldens.py", "/registry.py")):
            continue
        for node in ast.walk(tree):
            if "ORACLE_SF_DIR" in {getattr(node, k, None) for k in ("id", "attr", "name")}:
                found.append(f"{rel}:{getattr(node, 'lineno', '?')}: ORACLE_SF_DIR")
    return found


def test_golden_builders_are_registered_uncalled():
    """Regrowth guard: a golden builder takes `sf_dir` and is registered
    uncalled (`oracle=_builder`), so the registry alone decides which
    fixture it reads and when; only goldens.py and registry.py name the
    default scale ORACLE_SF_DIR."""
    assert _import_time_golden_sites(REPO) == []
