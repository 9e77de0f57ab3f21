"""Round 15 optimization equivalence pins.

Pinned here: the size-dispatched broadcast hint of the iterative graph
family (VERDICT r14 item 1) — the forced-shuffle path (cap=0) must emit
the identical rows the broadcast path emits — plus the label-prop codes,
the fanout no-op, the profile_table Expand split and the worker-daemon
preload list. The tiled cosine kernel pins live in test_llm_kernels.py.
"""

from __future__ import annotations

from data_ingestion_poc_spark import registry

SF_SMOKE = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_graph_bcast_shuffle_path_emits_identical_rows(spark, monkeypatch):
    """VERDICT r14 item 1 'done' axis: with the broadcast cap forced to
    0 every node-sized frame takes the partitioned-edges shuffle join
    instead of the (size-checked) broadcast, and the results must be
    row-identical."""
    from data_ingestion_poc_spark.operators import graph as graph_mod

    for name in (
        "graph_pagerank",
        "graph_label_propagation",
        "graph_bfs_distance",
        "graph_kcore",
        "graph_hits",
        "graph_katz_centrality",
    ):
        fn = registry.get(name).fn
        base = _rows(fn(spark, SF_SMOKE))
        monkeypatch.setenv("DIP_GRAPH_BCAST_MAX_NODES", "0")
        shuffled = _rows(fn(spark, SF_SMOKE))
        monkeypatch.delenv("DIP_GRAPH_BCAST_MAX_NODES")
        assert shuffled == base, name


def test_lp_code_is_order_isomorphic_and_invertible(spark):
    """The label-prop integer code must sort exactly like the node-id
    STRINGS (the tie-break domain the oracle replays: 'c1' < 'c10' <
    'c2' < 's1') and decode back to the identical strings."""
    from data_ingestion_poc_spark.operators.graph import _lp_code, _lp_decode

    ids = [
        f"{p}{n}"
        for p in "cs"
        for n in [1, 2, 9, 10, 11, 19, 20, 100, 101, 999, 1000, 15000,
                  999999, 1500000, 9999999999999]
    ]
    df = spark.createDataFrame([(s,) for s in ids], "node string")
    out = (
        df.select("node", _lp_code("node").alias("code"))
        .withColumn("back", _lp_decode("code"))
        .collect()
    )
    assert all(r.back == r.node for r in out)
    by_string = sorted(out, key=lambda r: r.node)
    assert [r.code for r in by_string] == sorted(r.code for r in out)


def test_fanout_repartition_noops_on_presplit_input(spark):
    """VERDICT r14 item 3 'done' axis: the scale-adaptive helper must
    not add an Exchange when the input already has >= par partitions
    (the 100 TB arrival shape), and must keep the r14 round-robin
    spread for the single-split local fixture shape."""
    from data_ingestion_poc_spark.catalog import fanout_repartition

    wide = spark.range(1000).repartition(64)
    out = fanout_repartition(wide, 32)
    assert out is wide  # no new plan node at all
    assert out.rdd.getNumPartitions() == 64

    narrow = spark.range(1000, numPartitions=1)
    out2 = fanout_repartition(narrow, 32)
    assert out2 is not narrow
    assert out2.rdd.getNumPartitions() == 32
    assert "Exchange" in out2._jdf.queryExecution().executedPlan().toString()


def test_node_bcast_dispatches_on_table_stats(spark):
    """The hint is F.broadcast below the cap and the identity above it —
    the §3.1 fits-in-memory condition is CHECKED, not asserted."""
    from pyspark.sql import functions as F

    from data_ingestion_poc_spark.operators.graph import _node_bcast

    assert _node_bcast(spark, SF_SMOKE) is F.broadcast
    import os

    os.environ["DIP_GRAPH_BCAST_MAX_NODES"] = "0"
    try:
        bc = _node_bcast(spark, SF_SMOKE)
        assert bc is not F.broadcast
        df = spark.range(3)
        assert bc(df) is df
    finally:
        del os.environ["DIP_GRAPH_BCAST_MAX_NODES"]


def test_profile_table_splits_the_multi_distinct_expand(spark):
    """profile_table (r15): five countDistinct columns fused in one
    aggregate force the multi-distinct Expand — every orders row
    replicated x6 through SortAggregates keyed on all five profiled
    columns. The split spelling (plain count/min/max aggregate +
    one partial-distinct aggregate per column, cross-joined 1-row
    frames) must produce the identical profile with no Expand node."""
    from pyspark.sql import functions as F

    fn = registry.get("profile_table").fn
    df = fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan

    from data_ingestion_poc_spark.catalog import load
    from data_ingestion_poc_spark.operators.profile import _COLS

    t = load(spark, SF_SMOKE)
    aggs = []
    for c in _COLS:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.countDistinct(c).alias(f"{c}__d"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    fused = t.orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__d, {c}__min, {c}__max" for c in _COLS
    )
    ref = fused.selectExpr(
        f"stack({len(_COLS)}, {stack_args}) AS "
        "(column_name, n_nonnull, n_distinct, min_s, max_s)"
    )
    assert _rows(df) == _rows(ref)
    assert df.schema == ref.schema


def test_daemon_preload_modules_all_import():
    """The worker daemon preloads engine modules whose kernel helpers
    ship by reference in UDF closures (r15: _topk_ids_tiled pickles as
    (module, qualname), so a fresh forked worker re-imports ~0.8 s of
    engine modules on its first kernel task — measured 4x on
    embed_hubness_ivf's cell stage). The preload loop skips a module
    whose import fails by design, so this test is the only thing that
    catches a typo'd or bit-rotted module name. It imports the modules in
    the driver's environment only; an executor whose Python environment
    lacks one of them still skips it silently."""
    import importlib

    from data_ingestion_poc_spark.daemon_preload import PRELOAD_MODULES

    assert "data_ingestion_poc_spark.llm.similarity" in PRELOAD_MODULES
    for mod in PRELOAD_MODULES:
        importlib.import_module(mod)
