"""Tests for the graph/CDF operators: fixed-point PageRank conserves
mass and ranks hubs above leaves on a planted star; the change feed
classifies every key by the deterministic evolution rules."""

from __future__ import annotations

import ast
import glob
import inspect
import os

from data_ingestion_poc_spark import catalog, registry
from data_ingestion_poc_spark.operators.graph import PAGERANK_ITERS, TOTAL_MASS

from conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_trees():
    for path in glob.glob(
        os.path.join(REPO, "data_ingestion_poc_spark", "**", "*.py"),
        recursive=True,
    ):
        with open(path) as f:
            yield os.path.relpath(path, REPO), ast.parse(f.read())


def _local_checkpoints(node: ast.AST):
    """The `<x>.localCheckpoint()` calls under `node`."""
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "localCheckpoint"
    ]


def test_pagerank_mass_and_hub_on_planted_star(spark, tmp_path):
    """Star: customers 1-4 all buy from supplier 1; customer 1 also buys
    from supplier 2. s1 must outrank s2 and every customer; the
    symmetric customers 2-4 must tie exactly (integer arithmetic)."""
    orders = [(k, k, None) for k in range(1, 5)]  # o_orderkey == o_custkey
    lineitem = [(k, 1) for k in range(1, 5)] + [(1, 2)]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_pad string"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lineitem, "l_orderkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    ranks = {
        r["node"]: r["rank_units"]
        for r in registry.get("graph_pagerank").fn(spark, str(tmp_path)).collect()
    }
    assert set(ranks) == {"c1", "c2", "c3", "c4", "s1", "s2"}
    assert ranks["s1"] == max(ranks.values())
    assert ranks["c2"] == ranks["c3"] == ranks["c4"]
    assert ranks["s2"] < ranks["s1"] and ranks["c1"] > ranks["c2"]
    # Fixed-point floors only ever LOSE mass, at most ~1 unit per node
    # per round plus the teleport floor; total stays within rounding of
    # TOTAL_MASS.
    total = sum(ranks.values())
    assert total <= TOTAL_MASS
    assert total >= TOTAL_MASS - len(ranks) * (PAGERANK_ITERS + 1) * 40


def test_pagerank_mass_conserved_on_fixture(spark):
    out = registry.get("graph_pagerank").fn(spark, SF_SMOKE).collect()
    total = sum(r["rank_units"] for r in out)
    assert 0.99 * TOTAL_MASS <= total <= TOTAL_MASS


def test_change_feed_classifies_every_rule(spark):
    out = registry.get("sink_change_feed").fn(spark, SF_SMOKE).collect()
    by_op: dict[str, set[int]] = {"insert": set(), "delete": set(), "update": set()}
    for r in out:
        by_op[r["op"]].add(r["c_custkey"])
        if r["op"] == "update":
            assert abs(r["new_acctbal"] - r["old_acctbal"] - 25.0) < 1e-6
        elif r["op"] == "insert":
            assert r["old_acctbal"] is None and r["c_custkey"] >= 2_000_000
        else:
            assert r["new_acctbal"] is None
    keys = {
        r["c_custkey"]
        for r in spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        .select("c_custkey")
        .collect()
    }
    assert by_op["delete"] == {k for k in keys if k % 101 == 0}
    assert by_op["insert"] == {k + 2_000_000 for k in keys if k % 97 == 0}
    assert by_op["update"] == {
        k for k in keys if k % 7 == 0 and k % 101 != 0
    }


def test_ewma_closed_form_on_planted_series(spark, tmp_path):
    """win_ewma with half decay: constant series stays constant; [0, 2]
    gives (0.5*0 + 1*2) / 1.5 = 1.333333 at the second row (adjust=True
    normalization)."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), 1, "a", 0.0, "{}"),
        (2, datetime(2024, 1, 1, 0, 1, 0), 1, "a", 2.0, "{}"),
        (3, datetime(2024, 1, 1, 0, 0, 0), 2, "a", 5.0, "{}"),
        (4, datetime(2024, 1, 1, 0, 1, 0), 2, "a", 5.0, "{}"),
        (5, datetime(2024, 1, 1, 0, 2, 0), 2, "a", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["event_id"]: r["ewma"]
        for r in registry.get("win_ewma").fn(spark, str(tmp_path)).collect()
    }
    assert out[1] == 0.0
    assert abs(out[2] - 4.0 / 3.0) < 1e-6
    assert out[3] == out[4] == out[5] == 5.0


def test_neighbor_jaccard_on_planted_bipartite(spark, tmp_path):
    """Suppliers 1,2 share customers {10,20} of {10,20,30} ∪ {10,20,40}
    -> jaccard 2/4 = 0.5; supplier 3 shares only one customer with
    anyone, below JACCARD_MIN_COMMON -> no pair emitted."""
    from data_ingestion_poc_spark import registry

    # edges via one order per (cust, supp) line
    orders, lines = [], []
    ok = 0
    for supp, custs in ((1, [10, 20, 30]), (2, [10, 20, 40]), (3, [10])):
        for c in custs:
            ok += 1
            orders.append((ok, c))
            lines.append((ok, supp))
    spark.createDataFrame(
        [(o, c, "O", 1.0, "1995-01-01", "p") for o, c in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(o, 1, s, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-02") for o, s in lines],
        "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double,"
        " l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate string",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    rows = registry.get("graph_jaccard_neighbors").fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["supp_a"], r["supp_b"]) == (1, 2)
    assert (r["n_common"], r["n_a"], r["n_b"]) == (2, 3, 3)
    assert abs(r["jaccard"] - 0.5) < 1e-9


def test_one_round_barrier_in_the_package():
    """Regrowth guard: a `.localCheckpoint()` inside a for/while body is
    a hand-written round barrier, and the package has exactly one —
    catalog.iterate's. Run the rounds through it instead of writing a
    loop."""
    found = [
        (path, cp.lineno)
        for path, tree in _package_trees()
        for loop in ast.walk(tree)
        if isinstance(loop, (ast.For, ast.While))
        for stmt in loop.body + loop.orelse
        for cp in _local_checkpoints(stmt)
    ]
    lines, start = inspect.getsourcelines(catalog.iterate)
    own = {
        ("data_ingestion_poc_spark/catalog.py", line)
        for line in range(start, start + len(lines))
    }
    stray = [f"{path}:{line}" for path, line in found if (path, line) not in own]
    assert stray == [], f"per-round localCheckpoint outside catalog.iterate: {stray}"
    assert len(found) == 1


def _is_backbone_call(node: ast.AST) -> bool:
    if isinstance(node, ast.Subscript):
        node = node.value
    return isinstance(node, ast.Call) and (
        getattr(node.func, "id", None) == "_backbone"
        or getattr(node.func, "attr", None) == "_backbone"
    )


def test_backbone_is_materialized_once():
    """Regrowth guard: graph._backbone returns its edges already
    checkpointed, so no caller checkpoints a `_backbone(...)` result
    again, directly or through a name bound to it."""
    found = []
    for path, tree in _package_trees():
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            bound = {
                n.id
                for stmt in ast.walk(fn)
                if isinstance(stmt, ast.Assign) and _is_backbone_call(stmt.value)
                for target in stmt.targets
                for n in ast.walk(target)
                if isinstance(n, ast.Name)
            }
            found += [
                f"{path}:{cp.lineno}"
                for cp in _local_checkpoints(fn)
                if _is_backbone_call(cp.func.value)
                or getattr(cp.func.value, "id", None) in bound
            ]
    assert found == [], f"re-checkpointed backbone: {found}"
