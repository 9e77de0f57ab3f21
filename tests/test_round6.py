"""Semantics tests for the round-6 additions: one-way ANOVA,
delta-method ratio CI, last-touch attribution, Holt linear smoothing,
soft dedup reweighting. Oracle parity is covered by check_oracle /
the driver; these pin hand-computable values and edge behavior."""

from __future__ import annotations

import datetime

from data_ingestion_poc_spark import registry
from conftest import module_spark


spark = module_spark(shuffle_partitions=4)


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, minutes_offset, user_id, event_type, value)."""
    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(minutes=m), uid, et, float(v), None)
        for eid, m, uid, et, v in rows
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def _write_documents(spark, tmp_path, docs):
    spark.createDataFrame(docs, "doc_id long, text string").selectExpr(
        "doc_id",
        "text",
        "'en' AS lang",
        "'test' AS source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def test_anova_separated_groups_significant(spark, tmp_path):
    """Groups A=(1,1,2,2) B=(3,3,4,4) C=(5,5,6,6): SSW = 1 per group
    (3 total), group means 1.5/3.5/5.5, grand 3.5, SSB = 4*(4+0+4) = 32,
    F = (32/2)/(3/9) = 48, eta^2 = 32/35; dof1=2 -> crit 2.9957 ->
    significant."""
    rows = []
    eid = 0
    for et, vals in [("a", [1, 1, 2, 2]), ("b", [3, 3, 4, 4]),
                     ("c", [5, 5, 6, 6])]:
        for v in vals:
            rows.append((eid, eid, 1, et, v))
            eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in registry.get("agg_anova_oneway")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {"a", "b", "c"}
    r = out["a"]
    assert r["n"] == 4 and r["mean_value"] == 1.5
    assert r["f_stat"] == 48.0
    assert r["dof1"] == 2 and r["dof2"] == 9
    assert r["eta_sq"] == round(32 / 35, 4)
    assert r["significant"]


def test_anova_identical_groups_not_significant(spark, tmp_path):
    """Identical distributions in both arms: SSB = 0 -> F = 0."""
    rows = [(i, i, 1, "a", v) for i, v in enumerate([1, 2, 3, 4])]
    rows += [(10 + i, 10 + i, 1, "b", v) for i, v in enumerate([1, 2, 3, 4])]
    _write_events(spark, tmp_path, rows)
    out = registry.get("agg_anova_oneway").fn(spark, str(tmp_path)).collect()
    assert all(r["f_stat"] == 0.0 and not r["significant"] for r in out)


def test_ratio_delta_ci_brackets_ratio(spark, tmp_path):
    """3 users: (purchase sums, event counts) = (10,2), (20,3), (30,4):
    ratio = 60/9; CI must bracket the ratio symmetrically (se > 0)."""
    rows = [
        (0, 0, 1, "purchase", 10), (1, 1, 1, "view", 0),
        (2, 2, 2, "purchase", 20), (3, 3, 2, "view", 0), (4, 4, 2, "view", 0),
        (5, 5, 3, "purchase", 30), (6, 6, 3, "view", 0), (7, 7, 3, "view", 0),
        (8, 8, 3, "view", 0),
    ]
    _write_events(spark, tmp_path, rows)
    (r,) = registry.get("agg_ratio_delta_ci").fn(spark, str(tmp_path)).collect()
    assert r["n_users"] == 3
    assert r["ratio"] == round(60 / 9, 6)
    assert r["se"] > 0
    assert r["ci_lo"] < r["ratio"] < r["ci_hi"]
    assert round(r["ratio"] - r["ci_lo"], 4) == round(r["ci_hi"] - r["ratio"], 4)


def test_attribution_last_touch_window(spark, tmp_path):
    """Purchase 10 min after the LAST of two clicks credits that click;
    a purchase 8 days after its only click is organic; a click AFTER the
    purchase never attributes (strictly-preceding frame)."""
    day = 1440
    rows = [
        # user 1: click(e0) at t0, click(e1) at t5, purchase(e2) at t15
        (0, 0, 1, "click", 0), (1, 5, 1, "click", 0), (2, 15, 1, "purchase", 9),
        # user 2: click at t0, purchase 8 days later -> outside lookback
        (3, 0, 2, "click", 0), (4, 8 * day, 2, "purchase", 5),
        # user 3: purchase first, click later -> organic
        (5, 0, 3, "purchase", 7), (6, 10, 3, "click", 0),
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r["purchase_id"]: r
        for r in registry.get("q_attribution_last_touch")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {2, 4, 5}
    assert out[2]["attributed"] and out[2]["click_id"] == 1
    assert out[2]["gap_us"] == 10 * 60 * 1_000_000
    assert not out[4]["attributed"] and out[4]["click_id"] is None
    assert out[4]["gap_us"] is None
    assert not out[5]["attributed"] and out[5]["click_id"] is None


def test_holt_linear_constant_and_ramp(spark, tmp_path):
    """Constant series: level = the constant, trend = 0 everywhere.
    Linear ramp v_t = t: the trend estimate is positive and the
    forecast always leads the level."""
    rows = [(i, i, 1, "view", 5.0) for i in range(6)]
    rows += [(10 + i, 10 + i, 2, "view", float(i)) for i in range(8)]
    _write_events(spark, tmp_path, rows)
    out = registry.get("win_holt_linear").fn(spark, str(tmp_path)).collect()
    const = [r for r in out if r["user_id"] == 1]
    ramp = sorted(
        (r for r in out if r["user_id"] == 2), key=lambda r: r["event_id"]
    )
    assert all(r["holt_level"] == 5.0 and r["holt_trend"] == 0.0 for r in const)
    assert all(r["forecast_next"] == 5.0 for r in const)
    # after a couple of warmup rows the ramp's trend is strictly positive
    assert all(r["holt_trend"] > 0 for r in ramp[2:])
    assert all(r["forecast_next"] > r["holt_level"] for r in ramp[2:])


def test_soft_reweight_duplicate_halves_weight(spark, tmp_path):
    """Two identical docs (every shingle df=2): commonness = 1 bit ->
    weight 0.5. A unique doc: commonness 0 -> weight 1. A 2-word doc has
    no shingles -> weight 1 with null commonness."""
    docs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "unique words only here now"),
        (4, "too short"),
    ]
    _write_documents(spark, tmp_path, docs)
    out = {
        r["doc_id"]: r
        for r in registry.get("dedup_soft_reweight")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_shingles"] == 2 and out[1]["commonness"] == 1.0
    assert out[1]["sample_weight"] == 0.5
    assert out[2]["sample_weight"] == 0.5
    assert out[3]["commonness"] == 0.0 and out[3]["sample_weight"] == 1.0
    assert out[4]["n_shingles"] == 0 and out[4]["commonness"] is None
    assert out[4]["sample_weight"] == 1.0


def test_geohash_known_point(spark, tmp_path, monkeypatch=None):
    """c_custkey = 1 derives lat = ((7919 % 12000)/100 - 60) = 19.19,
    lon = ((104729 % 34000)/100 - 170) = -142.71 — encode must match a
    reference geohash implementation bit for bit."""
    spark.createDataFrame(
        [(1, "x", "addr", 0, "p", 0.0, "mkt", "c")],
        "c_custkey long, c_name string, c_address string, c_nationkey long,"
        " c_phone string, c_acctbal double, c_mktsegment string,"
        " c_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    (r,) = registry.get("fn_geohash").fn(spark, str(tmp_path)).collect()
    assert r["lat"] == 19.19 and r["lon"] == -142.71

    # pure-python reference encoder
    def ref_geohash(lat, lon, length=8):
        alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
        lat_q = int((lat + 90.0) / 180.0 * (1 << 20))
        lon_q = int((lon + 180.0) / 360.0 * (1 << 20))
        bits = 0
        for p in range(40):
            src = lon_q if p % 2 == 0 else lat_q
            bit = (src >> (19 - p // 2)) & 1
            bits = (bits << 1) | bit
        return "".join(
            alphabet[(bits >> (35 - 5 * j)) & 31] for j in range(length)
        )

    assert r["geohash"] == ref_geohash(19.19, -142.71)
    assert r["gh_prefix4"] == r["geohash"][:4]


def test_label_propagation_two_cliques(spark, tmp_path):
    """Two disconnected purchase cliques (customers 1,2 x suppliers
    10,20 and customers 5,6 x suppliers 50,60) must converge to two
    communities labeled by each clique's smallest node string."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    orders, lines = [], []
    ok = 0
    for custs, supps in [((1, 2), (10, 20)), ((5, 6), (50, 60))]:
        for c in custs:
            for s in supps:
                ok += 1
                orders.append((ok, c, "O", 1.0, base, "P"))
                lines.append((ok, s, 1, 1.0, 0.0, base, "N", 1, 1.0))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_suppkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linenumber long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r["node"]: r
        for r in registry.get("graph_label_propagation")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert len(out) == 8
    com_a = {out[n]["community"] for n in ["c1", "c2", "s10", "s20"]}
    com_b = {out[n]["community"] for n in ["c5", "c6", "s50", "s60"]}
    assert len(com_a) == 1 and len(com_b) == 1
    assert com_a != com_b
    assert all(r["community_size"] == 4 for r in out.values())


def test_kalman_constant_series_converges(spark, tmp_path):
    """Constant observations: the estimate equals the constant at every
    step and the error variance p strictly decreases toward the
    steady-state value of the (q=1/4, r=1) filter."""
    rows = [(i, i, 1, "view", 7.5) for i in range(10)]
    _write_events(spark, tmp_path, rows)
    out = sorted(
        registry.get("win_kalman_1d").fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["event_id"],
    )
    assert all(r["kalman_x"] == 7.5 for r in out)
    ps = [r["kalman_p"] for r in out]
    assert all(a >= b for a, b in zip(ps, ps[1:]))
    # steady state p* solves p = (1-k)(p+q): ~0.39 for q=.25, r=1
    assert 0.3 < ps[-1] < 0.5


def test_survival_km_hand_computed(spark, tmp_path):
    """4 orders shipping after 1, 1, 2, and 70 days (the last censored
    at the 60-day horizon): S(1) = 1 - 2/4 = 0.5, S(2) = 0.5 * (1 - 1/2)
    = 0.25, then one censored row at t=60 with survival unchanged."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    orders, lines = [], []
    for ok, days in [(1, 1), (2, 1), (3, 2), (4, 70)]:
        orders.append((ok, 1, "O", 1.0, base, "P"))
        lines.append(
            (ok, 1, 1, 1.0, 0.0, base + datetime.timedelta(days=days),
             "N", 1, 1.0)
        )
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_suppkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linenumber long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r["t_days"]: r
        for r in registry.get("agg_survival_km").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 60}
    assert out[1]["n_risk"] == 4 and out[1]["n_events"] == 2
    assert out[1]["survival"] == 0.5
    assert out[2]["n_risk"] == 2 and out[2]["survival"] == 0.25
    assert out[60]["n_censored"] == 1 and out[60]["n_events"] == 0
    assert out[60]["survival"] == 0.25


def test_funnel_path_strict_order(spark, tmp_path):
    """User 1 completes view->click->purchase in order (elapsed = 10
    min); user 2's purchase PRECEDES the click so the path must not
    complete; user 3's click precedes the first view so only the view
    matches."""
    rows = [
        (0, 0, 1, "view", 0), (1, 5, 1, "click", 0), (2, 10, 1, "purchase", 1),
        (3, 0, 2, "view", 0), (4, 5, 2, "purchase", 1), (5, 10, 2, "click", 0),
        (6, 0, 3, "click", 0), (7, 5, 3, "view", 0),
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r["user_id"]: r
        for r in registry.get("q_pattern_funnel_path")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out[1]["completed"] and out[1]["elapsed_us"] == 10 * 60 * 1_000_000
    assert not out[2]["completed"] and out[2]["purchase_us"] is None
    assert out[2]["click_us"] is not None  # click after view matches stage 2
    assert not out[3]["completed"] and out[3]["click_us"] is None


def test_cluster_histogram_counts_singletons(spark, tmp_path):
    """Two identical docs form one size-2 cluster; the unrelated doc is
    the singleton row; n_docs sums to the corpus and pct to 1."""
    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "completely different words in this document here"),
    ]
    _write_documents(spark, tmp_path, docs)
    out = {
        r["cluster_size"]: r
        for r in registry.get("dedup_cluster_histogram")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {1, 2}
    assert out[2]["n_clusters"] == 1 and out[2]["n_docs"] == 2
    assert out[1]["n_clusters"] == 1 and out[1]["n_docs"] == 1
    assert out[2]["pct_corpus"] == 0.6667 and out[1]["pct_corpus"] == 0.3333


def test_hll_intersection_bound_identity(spark):
    """On the sf0.001 fixture: exact_intersection must equal
    a + b - union by identity, and the sketch verdict must hold."""
    (r,) = (
        registry.get("agg_hll_intersection_bound")
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert r["exact_intersection"] == r["exact_a"] + r["exact_b"] - r["exact_union"]
    assert 0 <= r["exact_intersection"] <= min(r["exact_a"], r["exact_b"])
    assert r["within_tolerance"]


def test_dedup_manifest_ladder(spark, tmp_path):
    """Doc 2 is an exact copy of doc 1 -> drop_exact(1); doc 3 is a
    near-dup of doc 1 (one word changed) -> drop_near(1); doc 4 is
    unrelated -> keep."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base),
        (3, base.replace("kappa", "lambda")),
        (4, "totally unrelated words fill this separate document body"),
    ]
    _write_documents(spark, tmp_path, docs)
    out = {
        r["doc_id"]: r
        for r in registry.get("corpus_dedup_manifest")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert len(out) == 4
    assert out[1]["action"] == "keep" and out[1]["canonical_id"] == 1
    assert out[2]["action"] == "drop_exact" and out[2]["canonical_id"] == 1
    assert out[3]["action"] == "drop_near" and out[3]["canonical_id"] == 1
    assert out[4]["action"] == "keep" and out[4]["canonical_id"] == 4


def test_bq_hamming_zero_for_identical_sign_pattern(spark, tmp_path):
    """A vector and its positive scaling share every sign bit ->
    Hamming 0 and cosine 1; an all-negated copy is at Hamming 64. BQ's
    candidate set must surface the scaled twin at rank 1."""
    import random

    rng = random.Random(3)
    dim = 64
    base = [rng.uniform(-1, 1) or 0.1 for _ in range(dim)]
    rows = [
        (0, [float(x) for x in base], 0),
        (100, [float(2.5 * x) for x in base], 0),       # same signs
        (200, [float(-x) for x in base], 0),            # all signs flipped
    ] + [
        (10 + i, [float(rng.uniform(-1, 1)) for _ in range(dim)], 0)
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = [
        r
        for r in registry.get("sim_search_bq").fn(spark, str(tmp_path)).collect()
        if r["query_id"] == 0
    ]
    by_rank = {r["rk"]: r for r in out}
    assert by_rank[1]["neighbor_id"] == 100
    assert by_rank[1]["hamming"] == 0
    assert by_rank[1]["cosine"] == 1.0
    flipped = [r for r in out if r["neighbor_id"] == 200]
    if flipped:  # if 200 survives candidate selection it's Hamming 64
        assert flipped[0]["hamming"] == 64


def test_bq_recall_bounds(spark):
    """Recall per query is in [0, 100] and exact_k = 10 on the smoke
    fixture; with rescoring over 32 candidates recall should be high."""
    rows = (
        registry.get("sim_search_bq_recall")
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert len(rows) == 5
    assert all(r["exact_k"] == 10 for r in rows)
    assert all(0 <= r["recall_pct"] <= 100 for r in rows)
    assert sum(r["bq_hits"] for r in rows) >= 25  # >= 50% aggregate recall


def test_sequence_rules_confidence(spark, tmp_path):
    """Customer buys brand A (order 1) then brand B (order 2), repeated
    across 6 customers -> rule (A -> B) with confidence 1; reverse rule
    must not exist (strictly consecutive, ordered)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    orders, lines = [], []
    ok = 0
    for c in range(1, 7):
        for day, part in [(0, 1), (10, 2)]:  # part 1 = brand A, 2 = brand B
            ok += 1
            orders.append(
                (ok, c, "O", 1.0, base + datetime.timedelta(days=day), "P")
            )
            lines.append((ok, 1, 1, 1.0, 0.0, base, "N", part, 1.0))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    # lineitem needs l_partkey; reuse l_linenumber slot order: write with
    # explicit schema naming partkey
    spark.createDataFrame(
        [(o, 1, 1, 1.0, 0.0, base, "N", p, 1.0) for (o, _, _, _, _, _, _, p, _) in lines],
        "l_orderkey long, l_suppkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_partkey long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, "Brand#A"), (2, "Brand#B")], "p_partkey long, p_brand string"
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    out = {
        (r["brand_then"], r["brand_next"]): r
        for r in registry.get("q_basket_sequence_rules")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert ("Brand#A", "Brand#B") in out
    r = out[("Brand#A", "Brand#B")]
    assert r["n_pairs"] == 6 and r["confidence"] == 1.0
    assert ("Brand#B", "Brand#A") not in out


def test_power_analysis_scales_with_variance(spark, tmp_path):
    """Low-variance metric needs fewer samples than a high-variance one
    with the same mean; a metric with huge n_observed is powered."""
    rows = [(i, i, 1, "tight", 100 + (i % 2)) for i in range(40)]
    rows += [(100 + i, 100 + i, 1, "wide", 100 + 50 * (i % 2)) for i in range(40)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in registry.get("agg_power_analysis")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out["tight"]["n_required_per_arm"] < out["wide"]["n_required_per_arm"]
    assert not out["wide"]["powered_today"]
    assert out["tight"]["stddev"] < 1.0


def test_cuped_perfect_covariate(spark, tmp_path):
    """Post-period purchase value = 2x pre-period activity per user:
    the covariate explains ~all variance -> theta ~= 2, reduction ~100%."""
    rows = []
    eid = 0
    for u in range(1, 9):
        rows.append((eid, 0, u, "view", 10.0 * u)); eid += 1          # pre
        rows.append((eid, 30 * 1440, u, "purchase", 20.0 * u)); eid += 1  # post
    _write_events(spark, tmp_path, rows)
    (r,) = registry.get("agg_cuped_adjustment").fn(spark, str(tmp_path)).collect()
    assert r["n_users"] == 8
    assert abs(r["theta"] - 2.0) < 1e-6
    assert r["var_reduction_pct"] > 99.9
    assert r["var_adjusted"] < r["var_y"]


def test_seasonal_baseline_flags_wrong_hour_value(spark, tmp_path):
    """35 events at hour 0 valued ~10 plus one at 500: the spike is
    anomalous FOR THAT HOUR; a 10-obs cell never flags (cold guard)."""
    rows = [(i, i % 50, 1, "view", 10.0 + (i % 3)) for i in range(35)]
    rows.append((100, 7, 1, "view", 500.0))
    rows += [(200 + i, 6 * 60 + i, 1, "click", 100.0 * (i % 2)) for i in range(10)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_id"]: r
        for r in registry.get("win_seasonal_baseline")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out[100]["is_anomaly"]
    assert not any(out[200 + i]["is_anomaly"] for i in range(10))
    assert all(not out[i]["is_anomaly"] for i in range(35))


def test_theil_sen_robust_to_spike(spark, tmp_path):
    """Pure ramp v_t = 3t: every pairwise slope is 3 -> median 3. With
    one spiked point the median slope stays exactly 3 (OLS would not)."""
    rows = [(i, i, 1, "view", 3.0 * i) for i in range(9)]
    spiked = [(10 + i, 10 + i, 2, "view", 3.0 * i if i != 4 else 500.0)
              for i in range(9)]
    _write_events(spark, tmp_path, rows + spiked)
    out = sorted(
        registry.get("win_theil_sen").fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["event_id"],
    )
    ramp_last = [r for r in out if r["user_id"] == 1][-1]
    assert ramp_last["n_slopes"] == 36
    assert ramp_last["theil_sen_slope"] == 3.0
    spike_last = [r for r in out if r["user_id"] == 2][-1]
    assert spike_last["theil_sen_slope"] == 3.0
    first = [r for r in out if r["user_id"] == 1][0]
    assert first["n_slopes"] == 0 and first["theil_sen_slope"] is None


def test_bfs_distance_rounds_bound(spark, tmp_path):
    """c10-s1 edge puts c10 at dist 1 from seed s1; a chain hanging off
    it (s99-c11-s98) reaches dist 2 and 3; nodes further than 3 hops
    (c12 via s98) stay unreported within the 3-round budget."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    # chain s1 - c10 - s99 - c11 - s98 - c12 - s97 via (custkey, suppkey)
    links = [(10, 1), (10, 99), (11, 99), (11, 98), (12, 98), (12, 97)]
    orders, lines = [], []
    for ok, (c, s) in enumerate(links, start=1):
        orders.append((ok, c, "O", 1.0, base, "P"))
        lines.append((ok, s, 1, 1.0, 0.0, base, "N", 1, 1.0))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_suppkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linenumber long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r["node"]: r["dist"]
        for r in registry.get("graph_bfs_distance").fn(spark, str(tmp_path)).collect()
    }
    # chain: s1(0) - c10(1) - s99(2) - c11(3) - s98(4: beyond budget)
    assert out["s1"] == 0
    assert out["c10"] == 1
    assert out["s99"] == 2
    assert out["c11"] == 3
    assert "s98" not in out and "c12" not in out and "s97" not in out


def test_hard_negatives_exclude_near_dups(spark, tmp_path):
    """A planted near-duplicate of the anchor (cos ~ 1) must NOT appear
    as a hard negative; the returned set is the top-5 below the band
    and every cos is < 0.40."""
    import random

    rng = random.Random(11)
    dim = 64
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = [(0, [float(x) for x in base], 0),
            (99, [float(x + rng.uniform(-0.01, 0.01)) for x in base], 0)]
    rows += [
        (10 + i, [float(rng.uniform(-1, 1)) for _ in range(dim)], 0)
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = [
        r
        for r in registry.get("embed_hard_negatives")
        .fn(spark, str(tmp_path))
        .collect()
        if r["anchor_id"] == 0
    ]
    assert len(out) == 5
    assert all(r["cos"] < 0.40 for r in out)
    assert all(r["negative_id"] != 99 for r in out)


def test_source_drift_detects_shifted_lengths(spark, tmp_path):
    """src0 docs ~40 chars, src1 docs ~400 chars: KS D ~= 1 ->
    drift_detected; identical distributions -> no drift."""
    docs = [(i, "a" * 40) for i in range(30)]
    docs += [(100 + i, "b" * 400) for i in range(30)]
    rows = [(d, t, "en", "src0" if d < 100 else "src1", len(t)) for d, t in docs]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    (r,) = registry.get("text_source_drift").fn(spark, str(tmp_path)).collect()
    assert r["n_a"] == 30 and r["n_b"] == 30
    assert r["ks_d"] == 1.0 and r["drift_detected"]


def test_winsorized_mean_caps_whale(spark, tmp_path):
    """19 line items at 100 plus one whale at 10000: the raw mean is
    dragged to ~595 while the winsorized mean stays near 100 (clamped
    at p95); winsorized <= raw always."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    lines = [(i, 1, 1, 100.0, 0.0, base, "N", 1, 1.0) for i in range(19)]
    lines.append((19, 1, 1, 10000.0, 0.0, base, "N", 1, 1.0))
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_suppkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linenumber long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    (r,) = registry.get("agg_winsorized_mean").fn(spark, str(tmp_path)).collect()
    assert r["raw_mean"] == 595.0
    assert r["winsorized_mean"] < r["raw_mean"]
    assert r["winsorized_mean"] < 600


def test_bollinger_constant_then_jump(spark, tmp_path):
    """19 constant values -> bands null (frame not full); at row 20 the
    frame is full and sigma = 0 -> bands collapse onto the mid, %B null.
    A later +100 jump widens the band and puts the jump row above it."""
    rows = [(i, i, 1, "view", 50.0) for i in range(25)]
    rows.append((25, 25, 1, "view", 150.0))
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_id"]: r
        for r in registry.get("win_bollinger").fn(spark, str(tmp_path)).collect()
    }
    assert out[18]["boll_mid"] is None
    assert out[19]["boll_mid"] == 50.0
    assert out[19]["boll_upper"] == 50.0 and out[19]["boll_lower"] == 50.0
    assert out[19]["pct_b"] is None
    jump = out[25]
    assert jump["boll_mid"] == 55.0  # 19 * 50 + 150 over 20
    assert jump["boll_upper"] > 55.0 and jump["boll_lower"] < 55.0
    assert jump["pct_b"] > 1.0  # above the upper band


def test_rsi_monotonic_ramp_saturates(spark, tmp_path):
    """Strictly rising values: every diff is a gain -> RSI 100 and
    overbought once 14 diffs exist; strictly falling -> RSI 0 and
    oversold. Warmup rows (< 14 diffs) emit null RSI, false flags."""
    up = [(i, i, 1, "view", 10.0 + i) for i in range(20)]
    down = [(100 + i, i, 2, "view", 100.0 - i) for i in range(20)]
    _write_events(spark, tmp_path, up + down)
    out = {
        r["event_id"]: r
        for r in registry.get("win_rsi").fn(spark, str(tmp_path)).collect()
    }
    assert out[13]["rsi"] is None and not out[13]["is_overbought"]
    assert out[14]["n_diffs"] == 14 and out[14]["rsi"] == 100.0
    assert out[19]["is_overbought"] and not out[19]["is_oversold"]
    assert out[114]["rsi"] == 0.0
    assert out[119]["is_oversold"] and not out[119]["is_overbought"]


def test_srm_detects_lopsided_assignment(spark, tmp_path):
    """The md5-nibble split is ~50/50 on many users (no SRM on 400
    balanced users); chi2 and ratio are consistent with the counts."""
    rows = [(i, i % 60, i % 400, "view", 1.0) for i in range(800)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["arm"]: r
        for r in registry.get("agg_srm_check").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"treatment", "control"}
    n = sum(r["n_users"] for r in out.values())
    assert n == 400
    for r in out.values():
        assert abs(r["ratio"] - r["n_users"] / n) < 1e-9
    assert not out["treatment"]["srm_detected"]  # balanced hash split
    assert out["treatment"]["chi2"] == out["control"]["chi2"]


def test_freshness_flags_dead_logger(spark, tmp_path):
    """'click' stops 3 days before the high-water mark -> stale;
    'view' IS the high-water mark -> 0 minutes behind, fresh."""
    rows = [(i, i * 1440, 1, "view", 1.0) for i in range(10)]       # days 0..9
    rows += [(100 + i, i * 1440, 2, "click", 1.0) for i in range(7)]  # stops day 6
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in registry.get("quality_freshness").fn(spark, str(tmp_path)).collect()
    }
    assert not out["view"]["is_stale"] and out["view"]["minutes_behind"] == 0
    assert out["click"]["is_stale"]
    assert out["click"]["minutes_behind"] == 3 * 1440
    assert out["view"]["last_event_at"].startswith("2024-01-10")


def _write_purchase_graph(spark, tmp_path, links):
    """links: (custkey, suppkey) pairs, repeats = edge weight."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    orders, lines = [], []
    for ok, (c, s) in enumerate(links, start=1):
        orders.append((ok, c, "O", 1.0, base, "P"))
        lines.append((ok, s, 1, 1.0, 0.0, base, "N", 1, 1.0))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_suppkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linenumber long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))


def test_hits_hub_and_authority_ordering(spark, tmp_path):
    """c1 buys 3x from s1; c2 buys once each from s1, s2. s1 is the
    stronger authority (more weighted in-links from the stronger hub),
    c1 the stronger hub; round maxima pin to HITS_SCALE exactly."""
    from data_ingestion_poc_spark.operators.graph import HITS_SCALE

    _write_purchase_graph(
        spark, tmp_path, [(1, 1), (1, 1), (1, 1), (2, 1), (2, 2)]
    )
    out = {
        (r["role"], r["node"]): r["score_units"]
        for r in registry.get("graph_hits").fn(spark, str(tmp_path)).collect()
    }
    assert out[("hub", "c1")] == HITS_SCALE
    assert out[("authority", "s1")] == HITS_SCALE
    assert out[("hub", "c2")] < out[("hub", "c1")]
    assert out[("authority", "s2")] < out[("authority", "s1")]
    assert all(v > 0 for v in out.values())


def test_kcore_peels_pendant_keeps_clique(spark, tmp_path):
    """Complete bipartite 4x4 (every node degree 4) survives the
    4-core; a pendant customer c9-s1 dies in round 1 and s1 falls back
    to degree 4 once it does. All 8 core nodes report degree 4."""
    links = [(c, s) for c in (1, 2, 3, 4) for s in (1, 2, 3, 4)]
    links.append((9, 1))
    _write_purchase_graph(spark, tmp_path, links)
    out = {
        r["node"]: r["core_degree"]
        for r in registry.get("graph_kcore").fn(spark, str(tmp_path)).collect()
    }
    assert "c9" not in out
    assert set(out) == {f"c{i}" for i in (1, 2, 3, 4)} | {
        f"s{i}" for i in (1, 2, 3, 4)
    }
    assert all(v == 4 for v in out.values())


def test_fd_audit_canary_holds_violations_counted(spark, tmp_path):
    """nation_to_region (schema-true) holds; supp_nation_to_name is
    violated by two same-nation suppliers with different names, and the
    violating-group count is exactly the one shared nation."""
    spark.createDataFrame(
        [(i, f"n{i}", i % 3, "c") for i in range(6)],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(1, "acme", "a", 7, "p", 0.0, "c"), (2, "other", "a", 7, "p", 0.0, "c"),
         (3, "solo", "a", 8, "p", 0.0, "c")],
        "s_suppkey long, s_name string, s_address string, s_nationkey long,"
        " s_phone string, s_acctbal double, s_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(1, "x", "a", 0, "p", 0.0, "BUILDING", "c")],
        "c_custkey long, c_name string, c_address string, c_nationkey long,"
        " c_phone string, c_acctbal double, c_mktsegment string, c_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(1, 1, 1, 1.0, 0.0, datetime.datetime(2024, 1, 1), "N", 1, 0.0)],
        "l_orderkey long, l_suppkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linenumber long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r["fd"]: r
        for r in registry.get("profile_fd_audit").fn(spark, str(tmp_path)).collect()
    }
    assert out["nation_to_region"]["holds"]
    assert out["nation_to_region"]["n_violating"] == 0
    supp = out["supp_nation_to_name"]
    assert not supp["holds"]
    assert supp["n_groups"] == 2 and supp["n_violating"] == 1


def test_stickiness_bounds(spark, tmp_path):
    """User 1 active all 4 observed days, user 2 on one day:
    DAU sum = 5 over 4 days, MAU 2 -> stickiness 0.625. A month where
    everyone shows up daily scores exactly 1.0."""
    rows = [(i, i * 1440, 1, "view", 1.0) for i in range(4)]       # Jan, u1 daily
    rows.append((10, 2 * 1440, 2, "view", 1.0))                    # u2 once
    rows += [(20 + i, 45 * 1440 + i * 1440, j, "view", 1.0)
             for i in range(3) for j in (5, 6)]                    # Feb: both daily
    _write_events(spark, tmp_path, rows)
    out = {
        r["month"]: r
        for r in registry.get("q_stickiness_dau_mau").fn(spark, str(tmp_path)).collect()
    }
    jan, feb = out["2024-01"], out["2024-02"]
    assert jan["n_days"] == 4 and jan["mau"] == 2
    assert jan["avg_dau"] == 1.25 and jan["stickiness"] == 0.625
    assert feb["stickiness"] == 1.0


def test_bigram_lm_repetition_scores_higher(spark, tmp_path):
    """A doc that repeats the corpus's dominant bigram is less
    surprising (higher avg log2 P, lower perplexity) than one made of
    bigrams seen only once; ppl = 2^-avg_log2p within floor error; a
    one-token doc has no bigrams and is absent."""
    docs = [
        (1, "the cat the cat the cat the cat"),
        (2, "a dog runs far away today"),
        (3, "solo"),
    ]
    _write_documents(spark, tmp_path, docs)
    out = {
        r["doc_id"]: r
        for r in registry.get("text_bigram_lm").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_bigrams"] == 7 and out[2]["n_bigrams"] == 5
    assert out[1]["avg_log2p"] > out[2]["avg_log2p"]
    assert out[1]["perplexity"] < out[2]["perplexity"]
    for r in out.values():
        assert abs(r["perplexity"] - 2 ** (-r["avg_log2p"])) < 0.05


def test_embed_outlier_flags_far_vector(spark, tmp_path):
    """19 vectors near [1, 0] and one at [-1, 0]: the antipode's
    centroid-cosine z-score is far below the pack -> flagged; the pack
    is not."""
    import math

    vecs = []
    for i in range(19):
        a = 0.05 * math.sin(i)  # small wiggle so sigma > 0
        vecs.append((i, [math.cos(a), math.sin(a)], "p"))
    vecs.append((99, [-1.0, 0.0], "p"))
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["vec_id"]: r
        for r in registry.get("embed_outlier_centroid").fn(spark, str(tmp_path)).collect()
    }
    assert out[99]["is_outlier"] and out[99]["z"] < -3
    assert not any(out[i]["is_outlier"] for i in range(19))
    assert all(-1.0 <= r["cos_centroid"] <= 1.0 for r in out.values())


def test_autocorr_alternating_series(spark, tmp_path):
    """A strictly alternating series 0,10,0,10,...: lag-1 ACF = -1,
    lag-2 ACF = +1 (exact, every pair identical in the pooled frame)."""
    rows = [(i, i, 1, "view", 10.0 * (i % 2)) for i in range(40)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["lag"]: r
        for r in registry.get("agg_autocorr").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # floor-scaled display: an exact +/-1 may land one micro-step low
    assert abs(out[1]["acf"] + 1) <= 2e-6 and abs(out[2]["acf"] - 1) <= 2e-6
    assert abs(out[3]["acf"] + 1) <= 2e-6 and abs(out[4]["acf"] - 1) <= 2e-6
    assert out[1]["n_pairs"] == 39 and out[5]["n_pairs"] == 35


def test_curriculum_phases_partition_corpus(spark, tmp_path):
    """16 docs with lengths spread over 4 clear tiers: each quartile
    phase gets 4 docs, phases are length-disjoint and ordered, doc and
    token shares sum to the corpus."""
    docs = [
        (i, " ".join(["w"] * (10 * (1 + i // 4) + i % 4))) for i in range(16)
    ]
    _write_documents(spark, tmp_path, docs)
    out = sorted(
        registry.get("corpus_curriculum_phases").fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["phase"],
    )
    assert [r["phase"] for r in out] == [1, 2, 3, 4]
    assert all(r["n_docs"] == 4 for r in out)
    for a, b in zip(out, out[1:]):
        assert a["len_hi"] < b["len_lo"]
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 0.001
    assert sum(r["n_tokens"] for r in out) == sum(
        10 * (1 + i // 4) + i % 4 for i in range(16)
    )


def test_changepoint_locates_level_shift(spark, tmp_path):
    """User 1: 10 values at 10 then 10 at 200 -> split at position 10
    with a detected shift. User 2: constant -> nothing detected. User 3:
    7 events (< 2 * CP_MIN_SIDE) emits no row."""
    rows = [(i, i, 1, "view", 10.0) for i in range(10)]
    rows += [(10 + i, 10 + i, 1, "view", 200.0) for i in range(10)]
    rows += [(100 + i, i, 2, "view", 50.0) for i in range(12)]
    rows += [(200 + i, i, 3, "view", float(i)) for i in range(7)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["user_id"]: r
        for r in registry.get("win_changepoint_scan").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["split_pos"] == 10 and out[1]["changepoint_detected"]
    assert not out[2]["changepoint_detected"]
    assert out[2]["scan_stat"] == 0.0


def test_expire_snapshots_vacuum_set(spark, tmp_path):
    """4 orders per priority (2 even keys): v1 files over half the
    rows; URGENT/HIGH rewritten in v2, MEDIUM in v3. Retaining the
    last 2 snapshots, only v1's URGENT/HIGH files lose every live
    reference -> delete; v1's shared LOW/NOT files and every rewrite
    stay keep."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = [
        (4 * p + i, 1, "O", 10.0, base, pri)
        for p, pri in enumerate(pris)
        for i in range(4)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {
        r["file_id"]: r
        for r in registry.get("sink_expire_snapshots").fn(spark, str(tmp_path)).collect()
    }
    assert out["v1/1-URGENT"]["action"] == "delete"
    assert out["v1/2-HIGH"]["action"] == "delete"
    assert out["v1/1-URGENT"]["live_refs"] == 0
    assert out["v1/5-LOW"]["action"] == "keep"
    assert out["v1/5-LOW"]["live_refs"] == 2
    assert out["v2/1-URGENT"]["action"] == "keep"
    assert out["v3/3-MEDIUM"]["action"] == "keep"
    assert out["v2/1-URGENT"]["n_rows"] == 4  # rewrite covers ALL keys
    assert out["v1/5-LOW"]["n_rows"] == 2     # shared half-key file


def test_trimmed_mean_resists_tail(spark, tmp_path):
    """20 values at 10 plus outliers 0 and 1000: floor(22/10) = 2 per
    side trims both extremes -> mean exactly 10. Counts line up."""
    rows = [(i, i, 1, "view", 10.0) for i in range(20)]
    rows += [(100, 100, 1, "view", 0.0), (101, 101, 1, "view", 1000.0)]
    _write_events(spark, tmp_path, rows)
    (r,) = registry.get("udf_grouped_trimmed_mean").fn(spark, str(tmp_path)).collect()
    assert r["n"] == 22 and r["n_kept"] == 18
    assert r["trimmed_mean"] == 10.0


def test_importance_weights_uniform_target(spark, tmp_path):
    """Buckets with 6/2 docs (shares .75/.25, target .5 each): weights
    2/3 and 2; Kish ESS fraction = 64/(6*4/9+2*4)/8 = 0.75."""
    docs = [(i, "x" * 150) for i in range(6)] + [(10 + i, "y" * 250) for i in range(2)]
    spark.createDataFrame(docs, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["bucket"]: r
        for r in registry.get("corpus_importance_weights").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_docs"] == 6 and out[1]["corpus_share"] == 0.75
    assert out[1]["target_share"] == 0.5
    assert abs(out[1]["weight"] - 2 / 3) < 1e-6
    assert out[2]["weight"] == 2.0
    assert all(r["ess_fraction"] == 0.75 for r in out.values())


def test_code_detect_routes_code_vs_prose(spark, tmp_path):
    """A snippet with braces, keywords, and multiple lines routes to
    code; plain prose (no symbols, one line) does not; two weak signals
    alone (multi-line prose) stay below the 2-of-3 vote."""
    docs = [
        (1, "def f(x) {\n return x; \n}\n var y = f(2);"),
        (2, "the cat sat on a mat and looked at the dog"),
        (3, "a plain line\nanother plain line\na third plain line"),
    ]
    _write_documents(spark, tmp_path, docs)
    out = {
        r["doc_id"]: r
        for r in registry.get("text_code_detect").fn(spark, str(tmp_path)).collect()
    }
    assert out[1]["is_code"]
    assert out[1]["keyword_hits"] >= 2 and out[1]["symbol_ratio"] > 0.03
    assert not out[2]["is_code"] and out[2]["keyword_hits"] == 0
    assert not out[3]["is_code"] and out[3]["n_lines"] == 3


def test_scalar_quant_half_step_bound(spark, tmp_path):
    """Vectors spanning [0, 255] per dim: step = 1, every value an
    integer -> zero reconstruction error; a value at x.5 errs exactly
    half a step and the bound flag still holds. A constant dim has
    scale 0 and contributes no error."""
    vecs = [
        (1, [0.0, 0.0, 7.0], "a"),
        (2, [255.0, 0.0, 7.0], "a"),
        (3, [100.0, 0.0, 7.0], "a"),
        (4, [12.5, 0.0, 7.0], "a"),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["vec_id"]: r
        for r in registry.get("embed_scalar_quant").fn(spark, str(tmp_path)).collect()
    }
    assert all(r["within_half_step"] for r in out.values())
    assert out[1]["max_abs_err"] == 0.0 and out[1]["mse"] == 0.0
    assert out[3]["max_abs_err"] == 0.0
    assert abs(out[4]["max_abs_err"] - 0.5) < 1e-6  # exact half-step


def test_seasonal_strength_pure_cycle_vs_noise(spark, tmp_path):
    """'cyc': value is a pure function of hour-of-day -> residual
    variance 0, strength ~1. 'flat': same value at every hour ->
    zero total variance handled (strength clamped into [0, 1])."""
    rows = []
    eid = 0
    for d in range(4):
        for h in range(4):
            rows.append((eid, d * 1440 + h * 60, 1, "cyc", 10.0 * (h + 1)))
            eid += 1
            rows.append((eid, d * 1440 + h * 60, 1, "mix", 10.0 * (eid % 7)))
            eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in registry.get("agg_seasonal_strength").fn(spark, str(tmp_path)).collect()
    }
    cyc = out["cyc"]
    assert cyc["var_resid"] == 0.0 and cyc["var_total"] > 0
    assert cyc["seasonal_strength"] >= 0.9999
    mix = out["mix"]
    assert 0.0 <= mix["seasonal_strength"] < 1.0
    assert mix["var_resid"] > 0


def test_assortativity_hub_and_spoke_negative(spark, tmp_path):
    """A star (one customer hub buying from 6 leaf suppliers) is
    maximally disassortative: every edge pairs degree 6 with degree 1,
    but with zero variance on each side r is undefined -> add a second
    small component to give the pooled frame variance; r < 0."""
    links = [(1, s) for s in range(1, 7)] + [(2, 10), (2, 11), (3, 10)]
    _write_purchase_graph(spark, tmp_path, links)
    (r,) = registry.get("graph_assortativity").fn(spark, str(tmp_path)).collect()
    assert r["n_directed_edges"] == 2 * 9
    assert r["assortativity"] < 0


def test_markov_transitions_rows_normalize(spark, tmp_path):
    """User journey v->c->v->c->p: transitions v->c x2, c->v, c->p.
    Row v sums to 1 with P(c|v) = 1; row c splits 0.5/0.5."""
    rows = [
        (0, 0, 1, "v", 1.0), (1, 1, 1, "c", 1.0), (2, 2, 1, "v", 1.0),
        (3, 3, 1, "c", 1.0), (4, 4, 1, "p", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        (r["cur"], r["nxt"]): r
        for r in registry.get("agg_markov_transitions").fn(spark, str(tmp_path)).collect()
    }
    assert out[("v", "c")]["n"] == 2 and out[("v", "c")]["p_transition"] == 1.0
    assert out[("c", "v")]["p_transition"] == 0.5
    assert out[("c", "p")]["p_transition"] == 0.5
    assert ("p", "v") not in out  # p is terminal; no wraparound pair


def test_revenue_deciles_concentration(spark, tmp_path):
    """20 customers, one order each, revenues 1..19 plus a 1000 whale:
    every decile holds 2 customers; the top decile carries most of the
    revenue; cumulative share is monotone ending at 1."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    revs = list(range(1, 20)) + [1000]
    orders = [
        (i, i, "O", float(r), base, "P") for i, r in enumerate(revs)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = sorted(
        registry.get("q_revenue_deciles").fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in out] == list(range(1, 11))
    assert all(r["n_customers"] == 2 for r in out)
    shares = [r["cum_revenue_share"] for r in out]
    assert all(a < b for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-9
    assert out[-1]["revenue"] / sum(r["revenue"] for r in out) > 0.8


def test_repurchase_interval_quartiles(spark, tmp_path):
    """One BUILDING customer ordering on days 0/10/30/60: gaps
    10/20/30 -> median 20, mean 20; a single-order customer
    contributes no gap."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    orders = [
        (i, 1, "O", 5.0, base + datetime.timedelta(days=d), "P")
        for i, d in enumerate([0, 10, 30, 60])
    ]
    orders.append((9, 2, "O", 5.0, base, "P"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, "x", "a", 0, "p", 0.0, "BUILDING", "c"),
         (2, "y", "a", 0, "p", 0.0, "BUILDING", "c")],
        "c_custkey long, c_name string, c_address string, c_nationkey long,"
        " c_phone string, c_acctbal double, c_mktsegment string, c_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    (r,) = registry.get("q_repurchase_interval").fn(spark, str(tmp_path)).collect()
    assert r["segment"] == "BUILDING" and r["n_gaps"] == 3
    assert r["median_days"] == 20.0 and r["mean_days"] == 20.0
    assert r["p25_days"] == 15.0 and r["p75_days"] == 25.0


def test_tokenizer_fertility_punctuation_inflates(spark, tmp_path):
    """'clean': 4 plain words -> 4 tokens / 4 words = fertility 1.
    'noisy': each word carries punctuation that splits into extra
    tokens -> fertility 2."""
    docs = [(1, "alpha beta gamma delta")]
    spark.createDataFrame(docs, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'clean' AS source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    d2 = [(2, "alpha! beta? gamma; delta,")]
    spark.createDataFrame(d2, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'noisy' AS source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).write.mode("append").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["source"]: r
        for r in registry.get("corpus_tokenizer_fertility").fn(spark, str(tmp_path)).collect()
    }
    assert out["clean"]["fertility"] == 1.0
    assert out["noisy"]["fertility"] == 2.0
    assert out["clean"]["n_words"] == 4 and out["noisy"]["n_tokens"] == 8


def test_cohort_ltv_accumulates_per_user(spark, tmp_path):
    """Jan cohort: 2 users; purchases 10 (Jan) and 30 (Feb) -> LTV/user
    5.0 then 20.0. Feb cohort: 1 user buying 8 in Feb (age 0). A
    non-purchase event never adds revenue."""
    rows = [
        (0, 0, 1, "purchase", 10.0),
        (1, 10, 2, "view", 999.0),            # Jan cohort, no revenue
        (2, 40 * 1440, 1, "purchase", 30.0),  # Feb, age 1
        (3, 40 * 1440, 3, "purchase", 8.0),   # Feb cohort, age 0
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        (r["cohort"], r["age_months"]): r
        for r in registry.get("q_cohort_ltv").fn(spark, str(tmp_path)).collect()
    }
    jan0 = out[("2024-01", 0)]
    assert jan0["cohort_users"] == 2 and jan0["revenue"] == 10.0
    assert jan0["cum_ltv_per_user"] == 5.0
    jan1 = out[("2024-01", 1)]
    assert jan1["revenue"] == 30.0 and jan1["cum_ltv_per_user"] == 20.0
    feb0 = out[("2024-02", 0)]
    assert feb0["cohort_users"] == 1 and feb0["cum_ltv_per_user"] == 8.0


def test_category_drift_mix_shift(spark, tmp_path):
    """Before: 8 views + 2 clicks; after: 2 views + 8 clicks -> TV
    distance = 0.6, well over the 5% line."""
    rows = [(i, i, 1, "view", 1.0) for i in range(8)]
    rows += [(10 + i, i, 1, "click", 1.0) for i in range(2)]
    rows += [(20 + i, 20 * 1440 + i, 1, "view", 1.0) for i in range(2)]
    rows += [(30 + i, 20 * 1440 + i, 1, "click", 1.0) for i in range(8)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in registry.get("agg_category_drift").fn(spark, str(tmp_path)).collect()
    }
    v = out["view"]
    assert v["n_before"] == 8 and v["n_after"] == 2
    assert v["share_before"] == 0.8 and v["share_after"] == 0.2
    assert v["tv_distance"] == 0.6
    assert all(r["drift_detected"] for r in out.values())


def test_lsh_tuning_tradeoff_ordering(spark, tmp_path):
    """Near-exact duplicate pairs (s ~ 1) are caught by every config;
    sharper configs (more rows per band) recall near-threshold pairs
    less. With dup pairs at s ~ 0.5: recall(r2b16) > recall(r8b4)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    w = base.split()
    docs = [(1, base), (2, base)]                      # s = 1 pair
    half = " ".join(w[:5] + ["x1", "x2", "x3", "x4", "x5"])
    docs += [(3, base), (4, half)]                     # partial overlap
    docs += [(10 + i, f"unique{i} " * 5) for i in range(3)]
    _write_documents(spark, tmp_path, docs)
    out = {
        r["config"]: r
        for r in registry.get("dedup_lsh_tuning").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"r2b16", "r4b8", "r8b4"}
    assert out["r2b16"]["n_dup_pairs"] == out["r8b4"]["n_dup_pairs"]
    for r in out.values():
        assert r["exp_recall_dups"] is None or 0 <= r["exp_recall_dups"] <= 1
    # wider bands (fewer rows per band) always recall at least as much
    assert out["r2b16"]["exp_recall_dups"] >= out["r4b8"]["exp_recall_dups"]
    assert out["r4b8"]["exp_recall_dups"] >= out["r8b4"]["exp_recall_dups"]


def test_rescaled_range_trend_vs_alternation(spark, tmp_path):
    """A monotone ramp (persistent, H near 1) scores a higher Hurst
    than a strict alternation (anti-persistent, H near 0); both users
    carry exactly 32 events; a 10-event user emits nothing."""
    rows = [(i, i, 1, "view", 10.0 + i) for i in range(32)]
    rows += [(100 + i, i, 2, "view", 10.0 * (i % 2)) for i in range(32)]
    rows += [(200 + i, i, 3, "view", float(i)) for i in range(10)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["user_id"]: r
        for r in registry.get("win_rescaled_range").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["hurst"] > 0.8
    assert out[2]["hurst"] < out[1]["hurst"]
    assert out[1]["rs_full"] > out[1]["rs_half"]


def _write_customers(spark, tmp_path, rows):
    """rows: (custkey, nationkey, mktsegment, acctbal)."""
    spark.createDataFrame(
        [(ck, f"c{ck}", "a", nk, "p", float(b), seg, "x")
         for ck, nk, seg, b in rows],
        "c_custkey long, c_name string, c_address string, c_nationkey long,"
        " c_phone string, c_acctbal double, c_mktsegment string, c_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))


def test_k_anonymity_flags_singleton_class(spark, tmp_path):
    """6 customers share one QI class, one customer is alone in
    another: k-anonymity = 1, the singleton's row is the at-risk
    share 1/7."""
    rows = [(i, 1, "B", 100.0) for i in range(6)]
    rows.append((9, 2, "M", 100.0))
    _write_customers(spark, tmp_path, rows)
    out = {
        r["class_size"]: r
        for r in registry.get("privacy_k_anonymity").fn(spark, str(tmp_path)).collect()
    }
    assert out[6]["n_classes"] == 1 and not out[6]["at_risk"]
    assert out[1]["at_risk"]
    assert all(r["k_anonymity"] == 1 for r in out.values())
    assert abs(out[1]["risk_row_share"] - 1 / 7) < 1e-6


def test_l_diversity_homogeneous_class_fails(spark, tmp_path):
    """Class A's two customers only ever order priority P1 ->
    homogeneous (l = 1, fails); class B's orders span two
    priorities."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    _write_customers(spark, tmp_path, [(1, 1, "B", 0.0), (2, 1, "B", 0.0),
                                       (3, 2, "M", 0.0)])
    orders = [
        (1, 1, "O", 1.0, base, "P1"), (2, 2, "O", 1.0, base, "P1"),
        (3, 3, "O", 1.0, base, "P1"), (4, 3, "O", 1.0, base, "P2"),
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    (r,) = registry.get("privacy_l_diversity").fn(spark, str(tmp_path)).collect()
    assert r["n_classes"] == 2
    assert r["l_diversity"] == 1 and not r["passes"]
    assert r["n_homogeneous_classes"] == 1
    assert abs(r["homogeneous_row_share"] - 0.5) < 1e-9


def test_dp_counts_reproducible_and_bounded(spark, tmp_path):
    """Seeded noise: two runs release identical counts; the noise
    magnitude on a 100-customer nation is Laplace(1)-sized (within a
    loose 15 of truth at these seeds), never negative."""
    rows = [(i, i % 3, "B", 0.0) for i in range(300)]
    _write_customers(spark, tmp_path, rows)
    run1 = {
        r["c_nationkey"]: r["dp_count"]
        for r in registry.get("privacy_dp_counts").fn(spark, str(tmp_path)).collect()
    }
    run2 = {
        r["c_nationkey"]: r["dp_count"]
        for r in registry.get("privacy_dp_counts").fn(spark, str(tmp_path)).collect()
    }
    assert run1 == run2  # reproducible release
    assert set(run1) == {0, 1, 2}
    for nk, n in run1.items():
        assert n >= 0 and abs(n - 100) <= 15


def test_growth_accounting_states(spark, tmp_path):
    """u1 active Jan+Feb (retained), u2 Jan only, u3 Jan then a gap to
    Mar (resurrected), u4 joins Feb (new)."""
    day = 1440
    rows = [
        (0, 0, 1, "v", 1.0), (1, 35 * day, 1, "v", 1.0),
        (2, 0, 2, "v", 1.0),
        (3, 0, 3, "v", 1.0), (4, 65 * day, 3, "v", 1.0),
        (5, 35 * day, 4, "v", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        (r["month"], r["state"]): r["n_users"]
        for r in registry.get("q_growth_accounting").fn(spark, str(tmp_path)).collect()
    }
    assert out[("2024-01", "new")] == 3
    assert out[("2024-02", "retained")] == 1
    assert out[("2024-02", "new")] == 1
    assert out[("2024-03", "resurrected")] == 1
    assert ("2024-03", "retained") not in out


def test_best_keeper_prefers_quality(spark, tmp_path):
    """Two near-dup docs where doc 2 is longer (higher quality score):
    the cluster keeps doc 2 even though doc 1 has the lower id (the
    min-id manifest would keep doc 1)."""
    base = ("the cat and the dog walked to the park and sat on a mat "
            "near the old oak tree by the river bank today")
    docs = [
        (1, base),
        (2, base + " then more careful unique prose extends this copy "
            "with extra informative detail about the afternoon"),
        (9, "entirely different text about other topics"),
    ]
    _write_documents(spark, tmp_path, docs)
    out = {
        r["doc_id"]: r
        for r in registry.get("corpus_dedup_best_keeper").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2}  # only cluster members emit
    assert out[2]["quality"] > out[1]["quality"]
    assert out[1]["keeper_id"] == 2 and out[2]["is_keeper"]
    assert not out[1]["is_keeper"]
    assert out[1]["keeper_quality"] == out[2]["quality"]


def test_hill_alpha_pareto_vs_bounded(spark, tmp_path):
    """Orders drawn from a deterministic Pareto(alpha = 2) quantile
    grid: Hill recovers alpha ~ 2 (infinite-variance verdict true at
    the boundary); the estimator needs only the tail scan."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    n = 2000
    # x_i = (1 - u)^(-1/2) for u on a uniform grid -> exact Pareto(2)
    orders = [
        (i, 1, "O", (1 - (i + 0.5) / n) ** -0.5 * 100.0, base, "P")
        for i in range(n)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    (r,) = registry.get("agg_hill_tail_index").fn(spark, str(tmp_path)).collect()
    assert r["n_tail"] == 20
    assert 1.5 < r["hill_alpha"] < 2.6
    assert r["infinite_variance"] == (r["hill_alpha"] <= 2)


def test_partition_evolution_unifies_layouts(spark, tmp_path):
    """Orders split by key % 3 across two physical layouts must
    reassemble into the logical table exactly: per (month, gen) counts
    sum to the input, and both generations appear."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    orders = [
        (k, 1, "O", 10.0, base + datetime.timedelta(days=k % 40), "P")
        for k in range(60)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = registry.get("scan_partition_evolution").fn(spark, str(tmp_path)).collect()
    assert sum(r["n_orders"] for r in out) == 60
    gens = {r["layout_gen"] for r in out}
    assert gens == {1, 2}
    g2 = sum(r["n_orders"] for r in out if r["layout_gen"] == 2)
    assert g2 == 20  # keys % 3 == 0


def test_calendar_gaps_finds_missing_tuesday(spark, tmp_path):
    """Events on 10 consecutive days except day 4: one missing day,
    completeness 0.9, complete = False."""
    rows = [(i, d * 1440, 1, "v", 1.0) for i, d in enumerate(
        [0, 1, 2, 3, 5, 6, 7, 8, 9])]
    _write_events(spark, tmp_path, rows)
    (r,) = registry.get("quality_calendar_gaps").fn(spark, str(tmp_path)).collect()
    assert r["month"] == "2024-01"
    assert r["expected_days"] == 10 and r["observed_days"] == 9
    assert r["missing_days"] == 1 and not r["complete"]
    assert r["completeness"] == 0.9


def test_mips_transform_contract_holds(spark, tmp_path):
    """MIPS vs cosine disagree on raw vectors (a long vector beats a
    same-direction short one on IP), but the augmented transform must
    make cosine order match IP order for every query."""
    import math

    vecs = [(0, [1.0, 0.0], "q")]
    vecs += [(1, [0.9, 0.1], "c"), (2, [3.0, 1.0], "c"),
             (3, [0.1, 2.9], "c"), (4, [2.0, -0.5], "c")]
    vecs += [(10 + i, [math.cos(i), math.sin(i)], "c") for i in range(6)]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["query_id"]: r
        for r in registry.get("sim_search_mips").fn(spark, str(tmp_path)).collect()
    }
    assert all(r["transform_preserves_top1"] for r in out.values())
    assert out[0]["ip_top1"] == 2  # the long vector wins on IP


def test_price_elasticity_recovers_slope(spark, tmp_path):
    """Lineitems built on an exact log-log line (quantity quarters as
    price quadruples): the estimator recovers slope -1 and flags the
    brand elastic; a flat brand (same q at every price) scores ~0."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    lines = []
    # exact log-log line: (p, q) = (1, 16), (4, 4), (16, 1) -> slope -1
    for i, (p, q) in enumerate([(1.0, 16), (4.0, 4), (16.0, 1)]):
        lines.append((i, 1, q, p * q, 0.0, base, "N", 1, 0.0))
    for i, q in enumerate([7, 7, 7]):
        lines.append((10 + i, 2, q, (2.0 ** i) * q, 0.0, base, "N", 1, 0.0))
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linenumber long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, "ELASTIC", 0.0), (2, "FLAT", 0.0)],
        "p_partkey long, p_brand string, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    out = {
        r["p_brand"]: r
        for r in registry.get("q_price_elasticity").fn(spark, str(tmp_path)).collect()
    }
    assert abs(out["ELASTIC"]["elasticity"] + 1.0) < 0.001
    assert out["ELASTIC"]["is_elastic"]
    assert abs(out["FLAT"]["elasticity"]) < 0.001
    assert not out["FLAT"]["is_elastic"]


def test_abc_classes_partition_revenue(spark, tmp_path):
    """One dominant brand (60% of revenue) is the whole A class (it
    crosses the 50% line from below it); MID (prev 60%) and T1 (prev
    79%, crossing 80%) are B; T2 (prev 90%) is C. cum_share ends at
    1."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    brands = [("BIG", 60.0), ("MID", 19.0), ("T1", 11.0), ("T2", 10.0)]
    lines, parts = [], []
    for pk, (b, rev) in enumerate(brands, start=1):
        parts.append((pk, b, 0.0))
        lines.append((pk, pk, 1, rev, 0.0, base, "N", 1, 0.0))
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linenumber long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        parts, "p_partkey long, p_brand string, p_retailprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    out = {
        r["p_brand"]: r
        for r in registry.get("q_abc_classification").fn(spark, str(tmp_path)).collect()
    }
    assert out["BIG"]["abc_class"] == "A"
    assert out["MID"]["abc_class"] == "B"
    assert out["T1"]["abc_class"] == "B"  # prev cum 0.79 crosses 0.8
    assert out["T2"]["abc_class"] == "C"
    assert abs(out["T2"]["cum_share"] - 1.0) < 1e-9


def test_scalar_iter_udf_matches_formula(spark, tmp_path):
    """The iterator UDF's score equals the closed-form polynomial on
    (n_chars, n_words) for every doc."""
    import math

    docs = [(1, "one two three"), (2, "a much longer document " * 4)]
    _write_documents(spark, tmp_path, docs)
    out = {
        r["doc_id"]: r["model_score"]
        for r in registry.get("udf_scalar_iter").fn(spark, str(tmp_path)).collect()
    }
    from data_ingestion_poc_spark.functions.udfs import ITER_MODEL_W

    w0, w1, w2 = ITER_MODEL_W
    for doc_id, text in docs:
        expect = math.floor(
            (w0 + w1 * math.log1p(len(text)) + w2 * len(text.split(" ")))
            * 10_000
        ) / 10_000
        assert out[doc_id] == expect


def test_cross_source_matrix_finds_mirror(spark, tmp_path):
    """Source m2 mirrors m1's two docs verbatim: the (m1, m2) cell
    carries 2 pairs at overlap_rate 1.0; the unique source u never
    appears in any pair."""
    texts = ["alpha beta gamma delta epsilon zeta",
             "one two three four five six seven"]
    docs = []
    for i, txt in enumerate(texts):
        docs.append((i, txt, "m1"))
        docs.append((10 + i, txt, "m2"))
    docs.append((20, "totally unrelated content here now", "u"))
    spark.createDataFrame(docs, "doc_id long, text string, source string").selectExpr(
        "doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        (r["source_a"], r["source_b"]): r
        for r in registry.get("dedup_cross_source_matrix").fn(spark, str(tmp_path)).collect()
    }
    cell = out[("m1", "m2")]
    assert cell["n_dup_pairs"] == 2 and cell["overlap_rate"] == 1.0
    assert not cell["within_source"]
    assert not any("u" in k for k in out)


def test_expected_shortfall_tail_mean(spark, tmp_path):
    """Daily purchase revenue 100, 100, ..., with one crash day (-80
    swing) among small ±10 swings: CVaR95 equals the worst loss and
    exceeds VaR95; the tail holds exactly one day."""
    rows = []
    eid = 0
    revs = [100, 110, 100, 110, 100, 110, 100, 110, 100, 110,
            100, 110, 100, 110, 100, 110, 100, 110, 100, 20]
    for d, r in enumerate(revs):
        rows.append((eid, d * 1440, 1, "purchase", float(r)))
        eid += 1
    _write_events(spark, tmp_path, rows)
    (r,) = registry.get("agg_expected_shortfall").fn(spark, str(tmp_path)).collect()
    assert r["n_days"] == 19
    assert r["n_tail_days"] == 1
    assert r["cvar_95"] == 80.0
    assert r["var_95"] <= r["cvar_95"]


def test_post_dedup_mix_survival(spark, tmp_path):
    """Source 'dup' is two identical docs (one survives -> 50% token
    survival); source 'uniq' keeps everything; kept shares re-normalize
    over surviving tokens."""
    docs = [
        (1, "alpha beta gamma delta epsilon", "dup"),
        (2, "alpha beta gamma delta epsilon", "dup"),
        (3, "one two three four five six", "uniq"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string, source string").selectExpr(
        "doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["source"]: r
        for r in registry.get("corpus_post_dedup_mix").fn(spark, str(tmp_path)).collect()
    }
    dup = out["dup"]
    assert dup["raw_tokens"] == 10 and dup["kept_tokens"] == 5
    assert dup["survival_rate"] == 0.5
    uniq = out["uniq"]
    assert uniq["survival_rate"] == 1.0
    assert abs(dup["kept_share"] + uniq["kept_share"] - 1.0) < 1e-9
    assert dup["raw_share"] == 0.625  # 10 of 16 raw tokens


def test_activity_streaks_islands(spark, tmp_path):
    """User 1 active days 0-2 and 5-9 (two islands, longest 5 days
    starting day 5); user 2 active once -> streak 1, one island."""
    rows = [(i, d * 1440, 1, "v", 1.0) for i, d in enumerate([0, 1, 2, 5, 6, 7, 8, 9])]
    rows.append((50, 3 * 1440, 2, "v", 1.0))
    _write_events(spark, tmp_path, rows)
    out = {
        r["user_id"]: r
        for r in registry.get("q_activity_streaks").fn(spark, str(tmp_path)).collect()
    }
    u1 = out[1]
    assert u1["longest_streak_days"] == 5 and u1["n_streaks"] == 2
    assert u1["streak_start"] == "2024-01-06" and u1["streak_end"] == "2024-01-10"
    assert out[2]["longest_streak_days"] == 1 and out[2]["n_streaks"] == 1


def test_full_star_rollup_reconciles(spark, tmp_path):
    """A tiny fully-specified star: 2 lineitems for one customer in
    region R1 reconcile revenue and distinct counts exactly."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    spark.createDataFrame([(1, "R1", "c")], "r_regionkey long, r_name string, r_comment string").write.mode("overwrite").parquet(str(tmp_path / "region.parquet"))
    spark.createDataFrame([(1, "N1", 1, "c")], "n_nationkey long, n_name string, n_regionkey long, n_comment string").write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(1, "cu", "a", 1, "p", 0.0, "B", "c")],
        "c_custkey long, c_name string, c_address string, c_nationkey long,"
        " c_phone string, c_acctbal double, c_mktsegment string, c_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(1, 1, "O", 1.0, base, "P")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, 1, 1, 2, 100.0, 0.1, base, "N", 1, 0.0),
         (1, 1, 2, 1, 50.0, 0.0, base, "N", 2, 0.0)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_quantity long,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linenumber long, l_tax double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, "BR1", 0.0)], "p_partkey long, p_brand string, p_retailprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(
        [(1, "s1", "a", 1, "p", 0.0, "c"), (2, "s2", "a", 1, "p", 0.0, "c")],
        "s_suppkey long, s_name string, s_address string, s_nationkey long,"
        " s_phone string, s_acctbal double, s_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))
    (r,) = registry.get("q_full_star_rollup").fn(spark, str(tmp_path)).collect()
    assert r["region"] == "R1" and r["p_brand"] == "BR1"
    assert r["n_lines"] == 2 and r["n_customers"] == 1 and r["n_suppliers"] == 2
    assert r["revenue"] == 140.0  # 100*0.9 + 50


def test_sprt_walk_decides_h1_on_high_conversion(spark, tmp_path):
    """Treatment users (md5-nibble arm) converting at ~100% daily push
    the LLR walk up; after enough days it crosses +ln(19) and the
    decision flips to accept_h1 and stays there; the walk is monotone
    here (every day adds positive evidence)."""
    import hashlib

    treat = [u for u in range(200)
             if hashlib.md5(f"srm:{u}".encode()).hexdigest()[0] in "01234567"]
    rows, eid = [], 0
    for d in range(6):
        for u in treat[:20]:
            rows.append((eid, d * 1440, u, "purchase", 1.0)); eid += 1
    _write_events(spark, tmp_path, rows)
    out = sorted(
        registry.get("agg_sprt_monitor").fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["day"],
    )
    llrs = [r["cum_llr"] for r in out]
    assert all(a < b for a, b in zip(llrs, llrs[1:]))
    assert out[0]["cum_n"] == 20 and out[-1]["cum_n"] == 120
    assert out[-1]["decision"] == "accept_h1"
    first_h1 = next(i for i, r in enumerate(out) if r["decision"] == "accept_h1")
    assert all(r["decision"] == "accept_h1" for r in out[first_h1:])


def test_calibration_perfect_vs_off(spark, tmp_path):
    """Events at value 50 score p = 0.5 exactly: if exactly half of
    them are purchases the 0.5-bucket is perfectly calibrated and ECE
    ~ 0; flipping all outcomes to non-purchase pushes ECE to ~0.5."""
    rows = [(i, i, 1, "purchase" if i % 2 == 0 else "view", 50.0)
            for i in range(40)]
    _write_events(spark, tmp_path, rows)
    out = registry.get("agg_calibration_ece").fn(spark, str(tmp_path)).collect()
    (r,) = out
    assert r["bucket"] == 5 and r["n"] == 40
    assert r["mean_predicted"] == 0.5 and r["actual_rate"] == 0.5
    assert r["ece"] == 0.0
    rows2 = [(i, i, 1, "view", 50.0) for i in range(40)]
    _write_events(spark, tmp_path, rows2)
    (r2,) = registry.get("agg_calibration_ece").fn(spark, str(tmp_path)).collect()
    assert r2["actual_rate"] == 0.0 and r2["ece"] == 0.5


def test_gumbel_return_level_exceeds_mean(spark, tmp_path):
    """Daily maxima over 30 days with modest spread: the fitted
    100-day return level sits well above the block-max mean, and
    beta/mu recover the moment identities."""
    import math

    rows = []
    eid = 0
    for d in range(30):
        for k in range(5):
            rows.append((eid, d * 1440 + k, 1, "view",
                         100.0 + 10.0 * ((d * 7 + k) % 13)))
            eid += 1
    _write_events(spark, tmp_path, rows)
    (r,) = registry.get("agg_gumbel_maxima").fn(spark, str(tmp_path)).collect()
    assert r["n_blocks"] == 30
    assert r["return_level_100"] > r["block_max_mean"]
    assert r["gumbel_beta"] > 0
    # moment identity: mu = mean - gamma * beta (within floor error)
    assert abs(r["gumbel_mu"]
               - (r["block_max_mean"] - 0.5772156649 * r["gumbel_beta"])) < 0.001


def test_spc_rules_fire_on_patterns(spark, tmp_path):
    """Mixed series per type 'm': mostly 50s with wiggle; one extreme
    spike trips rule 1; a run of 8 slightly-above-center points trips
    rule 4 without any single point extreme."""
    rows = []
    eid = 0
    # wiggle to set sigma, alternating around 50
    for i in range(30):
        rows.append((eid, eid, 1, "m", 50.0 + (3 if i % 2 else -3))); eid += 1
    rows.append((100, 100, 1, "m", 500.0))             # rule 1 spike
    for i in range(8):                                  # rule 4 run, user 2
        rows.append((200 + i, 200 + i, 2, "m", 52.0))
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_id"]: r
        for r in registry.get("win_spc_rules").fn(spark, str(tmp_path)).collect()
    }
    assert out[100]["rule1_beyond_3s"] and out[100]["out_of_control"]
    assert out[207]["rule4_run_of_8"]            # 8th consecutive above center
    assert not out[206]["rule4_run_of_8"]        # only 7 so far
    assert not out[0]["out_of_control"]


def test_oov_rate_flags_foreign_doc(spark, tmp_path):
    """Common words fill the vocabulary; a doc of never-repeated junk
    tokens is mostly OOV (vocab still admits them once if K is large,
    so use K-saturating common words: here every word appears many
    times except the junk doc's)."""
    from data_ingestion_poc_spark.llm.textstats import TOP_VOCAB_K

    # saturate the vocabulary with TOP_VOCAB_K distinct frequent words
    common = [f"w{i}" for i in range(TOP_VOCAB_K)]
    docs = [(d, " ".join(common[d * 100:(d + 1) * 100] * 3)) for d in range(10)]
    docs.append((99, "zzq1 zzq2 zzq3 zzq4"))  # junk appears once each
    _write_documents(spark, tmp_path, docs)
    out = {
        r["doc_id"]: r
        for r in registry.get("text_oov_rate").fn(spark, str(tmp_path)).collect()
    }
    assert out[0]["oov_rate"] == 0.0 and not out[0]["mostly_oov"]
    junk = out[99]
    assert junk["n_tokens"] == 4 and junk["n_oov"] == 4
    assert junk["oov_rate"] == 1.0 and junk["mostly_oov"]


def test_ivf_balance_skew_and_spill(spark, tmp_path):
    """Labels A (8 tight vectors) and B (2 vectors, one of which sits
    ON label A's centroid direction): the A list over-fills, the
    imbalance factor exceeds 1, and the misplaced vector counts as
    spill."""
    import math

    vecs = [(i, [math.cos(0.01 * i), math.sin(0.01 * i)], "A")
            for i in range(8)]
    vecs.append((20, [0.0, 1.0], "B"))
    vecs.append((21, [1.0, 0.02], "B"))  # nearest centroid is A's
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["list_id"]: r
        for r in registry.get("sim_search_ivf_balance").fn(spark, str(tmp_path)).collect()
    }
    assert out["A"]["n_vectors"] == 9 and out["B"]["n_vectors"] == 1
    assert out["A"]["imbalance_factor"] == 1.8  # 9 / mean(5)
    assert abs(out["A"]["spill_rate"] - 0.1) < 1e-9
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-9


def test_mann_kendall_monotone_vs_flat(spark, tmp_path):
    """Strictly rising daily revenue: S = C(n,2), trend detected.
    A constant series: S = 0, z = 0, no trend."""
    rows = [(i, i * 1440, 1, "view", 10.0 * (i + 1)) for i in range(14)]
    _write_events(spark, tmp_path, rows)
    (r,) = registry.get("agg_mann_kendall").fn(spark, str(tmp_path)).collect()
    assert r["n_days"] == 14 and r["mk_s"] == 14 * 13 // 2
    assert r["trend_detected"] and r["mk_z"] > 1.96
    rows2 = [(i, i * 1440, 1, "view", 10.0) for i in range(14)]
    _write_events(spark, tmp_path, rows2)
    (r2,) = registry.get("agg_mann_kendall").fn(spark, str(tmp_path)).collect()
    assert r2["mk_s"] == 0 and r2["mk_z"] == 0.0 and not r2["trend_detected"]


def test_join_skew_profile_flags_hot_key(spark, tmp_path):
    """99 customers with 1 order each plus one whale with 100: mean
    ~1.99, max 100 -> skew factor ~50, salting recommended. A uniform
    table scores factor 1 and no advisory."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    orders = [(i, i, "O", 1.0, base, "P") for i in range(99)]
    orders += [(1000 + i, 999, "O", 1.0, base, "P") for i in range(100)]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    (r,) = registry.get("profile_join_skew").fn(spark, str(tmp_path)).collect()
    assert r["n_keys"] == 100 and r["max_rows_per_key"] == 100
    assert r["skew_factor"] > 49 and r["recommend_salting"]
    assert r["p50_rows_per_key"] == 1.0


def test_overdispersion_clumped_vs_uniform(spark, tmp_path):
    """'uniform': every user has exactly 3 events -> variance 0, ratio
    0, not overdispersed. 'clumped': counts 1,1,1,1,16 -> var >> mean,
    overdispersed."""
    rows = []
    eid = 0
    for u in range(1, 6):
        for _ in range(3):
            rows.append((eid, eid, u, "uniform", 1.0)); eid += 1
    for u, c in zip(range(1, 6), [1, 1, 1, 1, 16]):
        for _ in range(c):
            rows.append((eid, eid, u, "clumped", 1.0)); eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in registry.get("agg_overdispersion").fn(spark, str(tmp_path)).collect()
    }
    uni = out["uniform"]
    assert uni["mean_count"] == 3.0 and uni["var_count"] == 0.0
    assert uni["dispersion_ratio"] == 0.0 and not uni["overdispersed"]
    clu = out["clumped"]
    assert clu["mean_count"] == 4.0 and clu["overdispersed"]
    assert clu["dispersion_ratio"] > 10


def test_markov_stationary_sink_state(spark, tmp_path):
    """A chain where every state funnels into 'end' (which self-loops):
    after 3 power steps nearly all mass sits on 'end'."""
    rows = []
    eid = 0
    for u in range(1, 21):
        for et in ("a", "b", "end", "end", "end", "end"):
            rows.append((eid, eid, u, et, 1.0)); eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r["state"]: r
        for r in registry.get("agg_markov_stationary").fn(spark, str(tmp_path)).collect()
    }
    assert out["end"]["stationary_share"] > 0.9
    assert sum(r["stationary_share"] for r in out.values()) > 0.999


def test_class_balance_cuts_to_minority(spark, tmp_path):
    """Types with 30/10/5 rows each cut to 5 kept; the selection is
    reproducible run-to-run (identical fingerprint)."""
    rows = [(i, i, 1, "big", 1.0) for i in range(30)]
    rows += [(100 + i, i, 1, "mid", 1.0) for i in range(10)]
    rows += [(200 + i, i, 1, "small", 1.0) for i in range(5)]
    _write_events(spark, tmp_path, rows)
    run1 = {
        r["event_type"]: r
        for r in registry.get("sample_class_balance").fn(spark, str(tmp_path)).collect()
    }
    run2 = {
        r["event_type"]: r["kept_id_sum"]
        for r in registry.get("sample_class_balance").fn(spark, str(tmp_path)).collect()
    }
    assert run1["big"]["n_rows"] == 30 and run1["big"]["n_kept"] == 5
    assert run1["big"]["n_dropped"] == 25
    assert run1["small"]["n_dropped"] == 0
    assert {k: v["kept_id_sum"] for k, v in run1.items()} == run2
