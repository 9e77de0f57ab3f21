"""Semantics tests for the round-7 additions: effect size, variance
homogeneity, Theil index, rank correlation, t-closeness, stochastic
oscillator, ulcer index, VWAP, clustering coefficient, degree power
law, systematic sampling, and the end-to-end curation ladder. Oracle
parity is covered by check_oracle / the driver; these pin
hand-computable values and edge behavior."""

from __future__ import annotations

import datetime
import math

import pytest

from data_ingestion_poc_spark import registry
from conftest import module_spark

SF001 = "/root/testdata/sf0.001"


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


# --- agg_cohens_d


def test_cohens_d_identical_arms_zero(spark, tmp_path):
    rows = [(i, i, 1, "purchase", v) for i, v in enumerate([1, 2, 3])]
    rows += [(10 + i, 10 + i, 1, "click", v) for i, v in enumerate([1, 2, 3])]
    _write_events(spark, tmp_path, rows)
    r = registry.get("agg_cohens_d").fn(spark, str(tmp_path)).collect()[0]
    assert r["cohens_d"] == 0.0 and r["magnitude"] == "negligible"


def test_cohens_d_separated_arms_large(spark, tmp_path):
    """purchase (10,10,12,12): mean 11, var 4/3; click (1,1,3,3): mean 2,
    var 4/3 -> pooled sd sqrt(4/3), d = 9/sqrt(4/3) = 7.7942 (large)."""
    rows = [(i, i, 1, "purchase", v) for i, v in enumerate([10, 10, 12, 12])]
    rows += [(10 + i, 10 + i, 1, "click", v) for i, v in enumerate([1, 1, 3, 3])]
    _write_events(spark, tmp_path, rows)
    r = registry.get("agg_cohens_d").fn(spark, str(tmp_path)).collect()[0]
    assert r["n_a"] == 4 and r["n_b"] == 4
    assert r["cohens_d"] == round(9 / math.sqrt(4 / 3), 4)
    assert r["magnitude"] == "large"


# --- agg_levene_test


def test_levene_unequal_spread_flags(spark, tmp_path):
    """a = (1,2,3): z = (1,0,1) in value units; b = (0,5,10): z =
    (5,0,5). SSB = 32/3, SSW = 52/3, W = 4*32/52 = 2.4615. r12 fix:
    the crit is now keyed on the OBSERVED k-1 (this k=2 design judges
    against chi2(1) = 3.8415, not the old hard-wired dof-4 2.3719), so
    this W correctly does NOT flag; a wider spread (b scaled 10x) must
    flag against the same dof-1 crit."""
    rows = [(i, i, 1, "a", v) for i, v in enumerate([1, 2, 3])]
    rows += [(10 + i, 10 + i, 1, "b", v) for i, v in enumerate([0, 5, 10])]
    _write_events(spark, tmp_path, rows)
    r = registry.get("agg_levene_test").fn(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 6 and r["k"] == 2
    assert r["w_stat"] == round(4 * 32 / 52, 4)
    assert not r["variances_differ"]  # 2.4615 < 3.8415 = chi2(1)
    # 100x the spread gap: z_b = (500,0,500); W approaches its
    # two-arm-3-point limit of 4.0 (~3.98 here), past the dof-1 crit,
    # and the flag must fire
    rows = [(i, i, 1, "a", v) for i, v in enumerate([1, 2, 3])]
    rows += [
        (10 + i, 10 + i, 1, "b", v)
        for i, v in enumerate([0.0, 500.0, 1000.0])
    ]
    _write_events(spark, tmp_path, rows)
    r = registry.get("agg_levene_test").fn(spark, str(tmp_path)).collect()[0]
    assert r["w_stat"] > 3.8415 and r["variances_differ"]


def test_levene_equal_spread_passes(spark, tmp_path):
    rows = [(i, i, 1, "a", v) for i, v in enumerate([1, 2, 3])]
    rows += [(10 + i, 10 + i, 1, "b", v) for i, v in enumerate([7, 8, 9])]
    _write_events(spark, tmp_path, rows)
    r = registry.get("agg_levene_test").fn(spark, str(tmp_path)).collect()[0]
    assert r["w_stat"] == 0.0 and not r["variances_differ"]


# --- agg_theil_index


def test_theil_equal_values_zero(spark, tmp_path):
    rows = [(i, i, 1, "a", 2.0) for i in range(4)]
    _write_events(spark, tmp_path, rows)
    r = registry.get("agg_theil_index").fn(spark, str(tmp_path)).collect()[0]
    assert r["theil_t"] == 0.0


def test_theil_two_point_value(spark, tmp_path):
    """values (1, 3): mu = 2; T = (0.5*ln0.5 + 1.5*ln1.5)/2 with each
    cell term floor-quantized at 1e-6 before the fold."""
    _write_events(spark, tmp_path, [(0, 0, 1, "a", 1.0), (1, 1, 1, "a", 3.0)])
    t1 = math.floor(0.5 * math.log(0.5) * 1e6)
    t2 = math.floor(1.5 * math.log(1.5) * 1e6)
    expected = (t1 + t2) / 1e6 / 2
    r = registry.get("agg_theil_index").fn(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 2 and r["mean_value"] == 2.0
    # engine rounds HALF_UP at 6 dp; Python round() is half-even, so
    # compare within half an ulp of the lattice instead
    assert r["theil_t"] == pytest.approx(expected, abs=5.1e-7)


# --- agg_spearman_corr / agg_jarque_bera (real fixture sanity)


def test_spearman_bounded(spark):
    rows = registry.get("agg_spearman_corr").fn(spark, SF001).collect()
    assert rows and all(-1.0 <= r["spearman_rho"] <= 1.0 for r in rows)


def test_jarque_bera_nonnegative(spark):
    rows = registry.get("agg_jarque_bera").fn(spark, SF001).collect()
    assert rows and all(r["jb_stat"] >= 0 for r in rows)


# --- privacy_t_closeness


def _write_release_tables(spark, tmp_path, orders, customers):
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderpriority string"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        customers,
        "c_custkey long, c_nationkey long, c_mktsegment string,"
        " c_acctbal double",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))


def test_t_closeness_skewed_class_fails(spark, tmp_path):
    """Two classes, each 100% one priority while the global split is
    50/50: ordinal EMD per class = |1 - 0.5| / (2 - 1) = 0.5 > 0.2."""
    _write_release_tables(
        spark,
        tmp_path,
        orders=[(1, 1, "1-URGENT"), (2, 1, "1-URGENT"),
                (3, 2, "2-HIGH"), (4, 2, "2-HIGH")],
        customers=[(1, 0, "AUTO", 100.0), (2, 1, "AUTO", 100.0)],
    )
    rows = registry.get("privacy_t_closeness").fn(spark, str(tmp_path)).collect()
    assert len(rows) == 2
    assert all(r["emd"] == 0.5 and not r["t_close_ok"] for r in rows)


def test_t_closeness_matching_class_passes(spark, tmp_path):
    """A class whose distribution equals the global one has EMD 0."""
    _write_release_tables(
        spark,
        tmp_path,
        orders=[(1, 1, "1-URGENT"), (2, 1, "2-HIGH"),
                (3, 2, "1-URGENT"), (4, 2, "2-HIGH")],
        customers=[(1, 0, "AUTO", 100.0), (2, 1, "AUTO", 100.0)],
    )
    rows = registry.get("privacy_t_closeness").fn(spark, str(tmp_path)).collect()
    assert all(r["emd"] == 0.0 and r["t_close_ok"] for r in rows)


# --- win_stochastic_oscillator / win_ulcer_index


def test_stochastic_rising_stream_pegs_at_100(spark, tmp_path):
    rows = [(i, i, 1, "view", float(i + 1)) for i in range(20)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_id"]: r
        for r in registry.get("win_stochastic_oscillator")
        .fn(spark, str(tmp_path))
        .collect()
    }
    # before a full 14-row lookback: null
    assert out[5]["pct_k"] is None
    # a strictly rising stream sits at the top of its channel
    assert out[15]["pct_k"] == 100.0
    assert out[19]["pct_d"] == 100.0


def test_stochastic_flat_channel_null(spark, tmp_path):
    rows = [(i, i, 1, "view", 5.0) for i in range(20)]
    _write_events(spark, tmp_path, rows)
    out = registry.get("win_stochastic_oscillator").fn(spark, str(tmp_path))
    assert all(r["pct_k"] is None for r in out.collect())


def test_ulcer_monotone_stream_zero(spark, tmp_path):
    rows = [(i, i, 1, "view", float(i + 1)) for i in range(20)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_id"]: r["ulcer_index"]
        for r in registry.get("win_ulcer_index").fn(spark, str(tmp_path)).collect()
    }
    assert out[5] is None  # warmup
    assert out[19] == 0.0  # never below the running peak


def test_ulcer_drawdown_positive(spark, tmp_path):
    rows = [(i, i, 1, "view", 10.0) for i in range(14)]
    rows += [(14 + i, 14 + i, 1, "view", 5.0) for i in range(6)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_id"]: r["ulcer_index"]
        for r in registry.get("win_ulcer_index").fn(spark, str(tmp_path)).collect()
    }
    assert out[19] > 0.0


# --- win_vwap


def test_vwap_final_row_is_total_ratio(spark):
    rows = registry.get("win_vwap").fn(spark, SF001).collect()
    assert rows
    last_per_part: dict = {}
    for r in rows:
        cur = last_per_part.get(r["l_partkey"])
        if cur is None or r["cum_qty"] > cur["cum_qty"]:
            last_per_part[r["l_partkey"]] = r
    for r in last_per_part.values():
        expected = math.floor(r["cum_cents"] / 100.0 / r["cum_qty"] * 1e4) / 1e4
        assert r["vwap"] == expected


# --- graph additions


def test_clustering_coefficient_bounds(spark):
    rows = registry.get("graph_clustering_coefficient").fn(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["degree"] >= 1
        if r["local_cc"] is not None:
            assert 0.0 <= r["local_cc"] <= 1.0
        else:
            assert r["degree"] == 1


def test_degree_powerlaw_fit_columns(spark):
    rows = registry.get("graph_degree_powerlaw").fn(spark, SF001).collect()
    assert rows
    assert all(r["n_nodes"] >= 1 for r in rows)
    r2 = rows[0]["fit_r2"]
    assert r2 is None or 0.0 <= r2 <= 1.0


# --- sample_systematic


def test_systematic_exact_rate(spark, tmp_path):
    rows = [(i, i, 1, "view", 1.0) for i in range(100)]
    rows += [(100 + i, 100 + i, 1, "click", 1.0) for i in range(25)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in registry.get("sample_systematic").fn(spark, str(tmp_path)).collect()
    }
    assert out["view"]["n_kept"] == 10  # exactly 1-in-10
    assert out["click"]["n_kept"] == 3  # ceil(25/10)
    assert 0 < out["view"]["kept_id_sum"] < sum(range(100))


# --- corpus_curate_e2e funnel consistency


def test_curate_e2e_funnel_adds_up(spark):
    rows = registry.get("corpus_curate_e2e").fn(spark, SF001).collect()
    assert rows
    total_share = 0.0
    for r in rows:
        assert (
            r["n_drop_url"] + r["n_drop_exact"] + r["n_drop_near"]
            + r["n_drop_quality"] + r["n_kept"] == r["n_docs"]
        )
        assert 0 <= r["kept_tokens"] <= r["raw_tokens"]
        assert 0.0 <= r["survival_rate"] <= 1.0
        total_share += r["kept_share"]
    assert abs(total_share - 1.0) < 1e-3


# --- agg_kruskal_wallis


def test_kruskal_identical_arms_near_zero(spark, tmp_path):
    rows = [(i, i, 1, "a", v) for i, v in enumerate([1, 2, 3, 4])]
    rows += [(10 + i, 10 + i, 1, "b", v) for i, v in enumerate([1, 2, 3, 4])]
    _write_events(spark, tmp_path, rows)
    r = registry.get("agg_kruskal_wallis").fn(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 8 and r["k"] == 2
    assert r["h_stat"] == 0.0 and not r["distributions_differ"]


def test_kruskal_separated_arms_flags(spark, tmp_path):
    """a = ranks 1..5 (all smaller), b = ranks 6..10: maximal H for
    n=10, k=2: H = 12/(10*11) * (5*(3-5.5)^2 + 5*(8-5.5)^2) = 6.818 —
    above the chi2(4) 9.4877? No — but above chi2(1) 3.84. The
    operator's verdict line is pinned at dof=4 (the 5-arm production
    domain), so only assert the statistic value here."""
    rows = [(i, i, 1, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5])]
    rows += [
        (10 + i, 10 + i, 1, "b", float(v))
        for i, v in enumerate([6, 7, 8, 9, 10])
    ]
    _write_events(spark, tmp_path, rows)
    r = registry.get("agg_kruskal_wallis").fn(spark, str(tmp_path)).collect()[0]
    assert r["h_stat"] == round(12 / 110 * (5 * 6.25 + 5 * 6.25), 4)


# --- quality_fk_orphans


def test_fk_orphans_clean_fixture_intact(spark):
    rows = registry.get("quality_fk_orphans").fn(spark, SF001).collect()
    assert len(rows) == 4
    assert all(r["intact"] and r["coverage"] == 1.0 for r in rows)


def test_fk_orphans_detects_break(spark, tmp_path):
    spark.createDataFrame(
        [(1, 10, "1-URGENT"), (2, 99, "2-HIGH")],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(10, 0, "AUTO", 1.0)],
        "c_custkey long, c_nationkey long, c_mktsegment string,"
        " c_acctbal double",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    # empty-but-valid other tables so the remaining edges still run
    spark.createDataFrame(
        [], "l_orderkey long, l_partkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame([], "p_partkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame([], "s_suppkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "supplier.parquet"))
    rows = {
        r["fk"]: r
        for r in registry.get("quality_fk_orphans").fn(spark, str(tmp_path)).collect()
    }
    edge = rows["orders.o_custkey->customer"]
    assert edge["n_orphans"] == 1 and not edge["intact"]
    assert edge["coverage"] == 0.5


# --- embed_cluster_purity / q_seasonal_order_heatmap


def test_cluster_purity_bounds(spark):
    r = registry.get("embed_cluster_purity").fn(spark, SF001).collect()[0]
    assert 0.0 < r["purity"] <= 1.0
    assert 0.0 <= r["nmi"] <= 1.0 + 1e-6
    assert r["k_cells"] >= 1


def test_seasonal_heatmap_shares_sum_to_one(spark):
    rows = registry.get("q_seasonal_order_heatmap").fn(spark, SF001).collect()
    assert rows
    assert all(1 <= r["month"] <= 12 and 1 <= r["dow"] <= 7 for r in rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-3
    assert all(r["lift"] > 0 for r in rows)


# --- batch 3: corpus_mix_kl / agg_capability_index / agg_odds_ratio


def test_mix_kl_nonnegative_total(spark):
    rows = registry.get("corpus_mix_kl").fn(spark, SF001).collect()
    assert rows
    # KL(kept || raw) >= 0 up to the 1e-9 per-term floor quantization
    assert rows[0]["kl_total"] >= -1e-6 * len(rows)
    assert abs(sum(r["kept_share"] for r in rows) - 1.0) < 1e-3


def test_capability_centered_process(spark, tmp_path):
    """values tightly centered at 250 inside [50, 450]: sd = 1 over
    (249, 250, 251, 250) -> Cp = 400/6 = 66.67, comfortably capable."""
    rows = [
        (i, i, 1, "view", v) for i, v in enumerate([249.0, 250.0, 251.0, 250.0])
    ]
    _write_events(spark, tmp_path, rows)
    r = registry.get("agg_capability_index").fn(spark, str(tmp_path)).collect()[0]
    assert r["mean_value"] == 250.0
    # sd = sqrt(var_samp) = sqrt(2/3); engine computes cp from the
    # UNROUNDED sd, so compare against the exact expression
    assert r["cp"] == pytest.approx(400 / (6 * math.sqrt(2 / 3)), abs=1e-3)
    assert r["capable"]


def test_odds_ratio_independent_near_one(spark, tmp_path):
    """Balanced 2x2 (every exposure/outcome combination once): OR = 1
    and the CI straddles 1 -> not significant."""
    orders = [
        (1, 1, "1-URGENT"), (2, 1, "1-URGENT"),
        (3, 1, "5-LOW"), (4, 1, "5-LOW"),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderpriority string"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    lines = [(1, "R"), (2, "N"), (3, "R"), (4, "N")]
    spark.createDataFrame(
        lines, "l_orderkey long, l_returnflag string"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = registry.get("agg_odds_ratio").fn(spark, str(tmp_path)).collect()[0]
    assert r["odds_ratio"] == 1.0
    assert r["ci_lo"] < 1.0 < r["ci_hi"]
    assert not r["significant"]


# --- batch 4: wilson / xyz / language mix / intrinsic dim


def test_wilson_small_sample_ranks_below_big_evidence(spark, tmp_path):
    """Supplier 1: 2/2 clean; supplier 2: 198/200 clean. Raw rate says
    supplier 1 wins; the Wilson lower bound must rank supplier 2 first."""
    lines = [(1, 1, "N"), (2, 1, "N")]
    lines += [(100 + i, 2, "N" if i < 198 else "R") for i in range(200)]
    spark.createDataFrame(
        [(i + 1, s, f) for i, (_, s, f) in enumerate(lines)],
        "l_orderkey long, l_suppkey long, l_returnflag string",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r["l_suppkey"]: r
        for r in registry.get("q_supplier_wilson_score")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out[1]["clean_rate"] == 1.0
    assert out[2]["clean_rate"] == 0.99
    assert out[2]["wilson_lower"] > out[1]["wilson_lower"]
    assert out[2]["reliability_rank"] == 1


def test_xyz_classes_valid(spark):
    rows = registry.get("q_xyz_variability").fn(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["xyz_class"] in ("X", "Y", "Z")
        assert r["cv"] >= 0
        if r["cv"] < 0.5:
            assert r["xyz_class"] == "X"


def test_language_mix_shares_and_entropy(spark):
    rows = registry.get("text_language_mix").fn(spark, SF001).collect()
    assert rows
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src_rows in by_src.values():
        assert abs(sum(r["lang_share"] for r in src_rows) - 1.0) < 1e-3
        ent = src_rows[0]["lang_entropy_bits"]
        assert all(r["lang_entropy_bits"] == ent for r in src_rows)
        n_langs = len(src_rows)
        assert -1e-6 <= ent <= math.log2(max(n_langs, 2)) + 1e-6


def test_intrinsic_dim_positive_and_below_ambient(spark):
    r = registry.get("embed_intrinsic_dim").fn(spark, SF001).collect()[0]
    assert r["n_sample"] > 0
    # the fixture embeddings are 64-dim; a TwoNN estimate must be a
    # positive number and cannot meaningfully exceed the ambient dim
    assert 0 < r["intrinsic_dim"] < 128


# --- batch 5: runs test / Parkinson volatility


def test_runs_alternating_sequence_oscillates(spark, tmp_path):
    """Daily revenue alternating high/low around the median: maximal
    runs -> large positive z (oscillating, nonrandom)."""
    orders = [
        (i, 1, "1-URGENT",
         datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
         100.0 if i % 2 == 0 else 10.0)
        for i in range(40)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderpriority string,"
        " o_orderdate date, o_totalprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    r = registry.get("agg_runs_test").fn(spark, str(tmp_path)).collect()[0]
    assert r["n_runs"] == 40  # every day flips sign
    assert r["z_stat"] > 1.96 and r["nonrandom"]


def test_runs_block_sequence_trends(spark, tmp_path):
    """20 low days then 20 high days: 2 runs -> large negative z."""
    orders = [
        (i, 1, "1-URGENT",
         datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
         10.0 if i < 20 else 100.0)
        for i in range(40)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderpriority string,"
        " o_orderdate date, o_totalprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    r = registry.get("agg_runs_test").fn(spark, str(tmp_path)).collect()[0]
    assert r["n_runs"] == 2
    assert r["z_stat"] < -1.96 and r["nonrandom"]


def test_parkinson_flat_day_zero_vol(spark, tmp_path):
    """All events the same value: ln(H/L) = 0 -> vol 0."""
    rows = [(i, i, 1, "view", 5.0) for i in range(10)]
    _write_events(spark, tmp_path, rows)
    r = registry.get("win_parkinson_volatility").fn(spark, str(tmp_path)).collect()[0]
    assert r["parkinson_vol"] == 0.0


def test_parkinson_known_range(spark, tmp_path):
    """One day, H = 200 cents, L = 100 cents: sigma = sqrt(ln(2)^2 /
    (4 ln 2)) = sqrt(ln2/4), with the 1e-8 term quantization."""
    rows = [(0, 0, 1, "view", 1.0), (1, 1, 1, "view", 2.0)]
    _write_events(spark, tmp_path, rows)
    r = registry.get("win_parkinson_volatility").fn(spark, str(tmp_path)).collect()[0]
    units = math.floor(math.log(2.0) ** 2 * 1e8)
    expected = math.sqrt(units / 1e8 / (4 * math.log(2.0)))
    assert r["parkinson_vol"] == pytest.approx(expected, abs=5.1e-7)


# --- batch 6: dynamic overwrite / OBV / entropy rate


def test_dynamic_overwrite_only_touches_month3(spark):
    rows = {
        r["month"]: r
        for r in registry.get("sink_dynamic_partition_overwrite")
        .fn(spark, SF001)
        .collect()
    }
    assert set(rows) == set(range(1, 13))
    assert rows[3]["was_rewritten"]
    # months other than 3 keep their original revenue; month 3 is 90%
    import duckdb

    exp = {
        int(m): int(c)
        for m, c in duckdb.sql(
            "SELECT month(o_orderdate) m,"
            " CAST(ROUND(SUM(o_totalprice)*100) AS BIGINT) c"
            f" FROM '{SF001}/orders.parquet' GROUP BY 1"
        ).fetchall()
    }
    for m in range(1, 13):
        if m != 3:
            assert rows[m]["rev_cents"] == exp[m]


def test_obv_monotone_stream_counts_upmoves(spark, tmp_path):
    rows = [(i, i, 1, "view", float(i + 1)) for i in range(10)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_id"]: r["obv"]
        for r in registry.get("win_obv").fn(spark, str(tmp_path)).collect()
    }
    assert out[0] == 0 and out[9] == 9


def test_entropy_rate_deterministic_chain_zero(spark, tmp_path):
    """a -> b -> a -> b ...: each state has exactly one successor, so
    every conditional entropy (and the rate) is 0 bits."""
    rows = [(i, i, 1, "a" if i % 2 == 0 else "b", 1.0) for i in range(20)]
    _write_events(spark, tmp_path, rows)
    out = registry.get("agg_entropy_rate").fn(spark, str(tmp_path)).collect()
    assert out
    assert all(r["conditional_entropy_bits"] == 0.0 for r in out)
    assert all(r["entropy_rate_bits"] == 0.0 for r in out)


def test_entropy_rate_uniform_chain_one_bit(spark, tmp_path):
    """From 'a' the successor alternates b/c evenly: H(next|a) = 1 bit
    (up to the 1e-6 floor quantization)."""
    seq = []
    for i in range(40):
        seq.append("a")
        seq.append("b" if i % 2 == 0 else "c")
    rows = [(i, i, 1, et, 1.0) for i, et in enumerate(seq)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["from_type"]: r
        for r in registry.get("agg_entropy_rate").fn(spark, str(tmp_path)).collect()
    }
    assert out["a"]["conditional_entropy_bits"] == pytest.approx(1.0, abs=1e-5)


# --- stream_quality_gate


def test_stream_quality_gate_matches_batch_filter(spark):
    """The streaming gate's per-source totals must equal the batch
    corpus_quality_filter's verdicts on the same corpus."""
    stream_rows = {
        r["source"]: r
        for r in registry.get("stream_quality_gate").fn(spark, SF001).collect()
    }
    batch_kept: dict = {}
    for r in registry.get("corpus_quality_filter").fn(spark, SF001).collect():
        batch_kept[r["source"]] = batch_kept.get(r["source"], 0) + 1
    assert stream_rows
    for src, r in stream_rows.items():
        assert r["n_kept"] == batch_kept.get(src, 0)
        assert 0 <= r["n_kept"] <= r["n_docs"]


# --- batch 7: shingle-df histogram / McNemar


def test_shingle_df_histogram_consistent(spark):
    rows = registry.get("dedup_shingle_df_histogram").fn(spark, SF001).collect()
    assert rows
    share = rows[0]["postings_dropped_share"]
    assert all(r["postings_dropped_share"] == share for r in rows)
    assert 0.0 <= share <= 1.0
    for r in rows:
        assert r["n_postings"] >= r["n_shingles"]  # df >= 1 per shingle
        assert r["n_shingles_capped"] <= r["n_shingles"]


def test_mcnemar_symmetric_discordance_zero(spark, tmp_path):
    """b == c -> chi2 = 0, not significant. Order 1: returned only
    (ships on time); order 2: late only (no return)."""
    base = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, base), (2, base)],
        "o_orderkey long, o_orderdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    late = base + datetime.timedelta(days=120)
    ontime = base + datetime.timedelta(days=10)
    spark.createDataFrame(
        [(1, "R", ontime), (2, "N", late)],
        "l_orderkey long, l_returnflag string, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = registry.get("agg_mcnemar_test").fn(spark, str(tmp_path)).collect()[0]
    assert r["n_returned_only"] == 1 and r["n_late_only"] == 1
    assert r["mcnemar_chi2"] == 0.0 and not r["rates_differ"]


# --- batch 8: threshold sweep / dim spectrum / median CI


def test_threshold_sweep_monotone(spark):
    rows = {
        r["tau"]: r
        for r in registry.get("dedup_threshold_sweep").fn(spark, SF001).collect()
    }
    assert set(rows) == {0.3, 0.5, 0.8}
    # raising tau can only shrink the surviving pair set
    assert rows[0.3]["n_pairs"] >= rows[0.5]["n_pairs"] >= rows[0.8]["n_pairs"]
    for r in rows.values():
        if r["n_pairs"] > 0:
            assert r["mean_jaccard"] >= r["tau"] - 1e-4


def test_dim_spectrum_shares(spark):
    rows = sorted(
        registry.get("embed_dim_variance_spectrum").fn(spark, SF001).collect(),
        key=lambda r: r["var_rank"],
    )
    assert len(rows) == 64
    assert all(r["variance"] >= 0 for r in rows)
    # variance is sorted descending by rank; cumulative share ends at 1
    for a, b in zip(rows, rows[1:]):
        assert a["variance"] >= b["variance"] - 1e-9
        assert a["cum_explained"] <= b["cum_explained"] + 1e-9
    assert rows[-1]["cum_explained"] == pytest.approx(1.0, abs=1e-4)


def test_median_ci_brackets_median(spark):
    rows = registry.get("agg_median_ci").fn(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["ci_lo"] <= r["median"] <= r["ci_hi"]


# --- batch 9: generalization ladder / ewma crossover / word PMI


def test_generalization_ladder_monotone(spark):
    rows = {
        r["band_width"]: r
        for r in registry.get("privacy_generalization_ladder")
        .fn(spark, SF001)
        .collect()
    }
    assert set(rows) == {500, 1000, 2000, 4000}
    # coarser bands can only merge classes: k never decreases, class
    # count never increases
    ks = [rows[b]["k_anonymity"] for b in (500, 1000, 2000, 4000)]
    ns = [rows[b]["n_classes"] for b in (500, 1000, 2000, 4000)]
    assert ks == sorted(ks)
    assert ns == sorted(ns, reverse=True)


def test_ewma_crossover_flags_flip(spark, tmp_path):
    """A stream that dives then rallies must print a death cross on the
    way down and a golden cross on the way back up."""
    vals = [100.0] * 16 + [10.0] * 16 + [100.0] * 16
    rows = [(i, i, 1, "view", v) for i, v in enumerate(vals)]
    _write_events(spark, tmp_path, rows)
    out = registry.get("win_ewma_crossover").fn(spark, str(tmp_path)).collect()
    crosses = [r["crossover"] for r in out if r["crossover"]]
    assert "death_cross" in crosses and "golden_cross" in crosses


def test_word_pmi_ranked_and_supported(spark):
    rows = registry.get("text_word_pmi").fn(spark, SF001).collect()
    assert 0 < len(rows) <= 20
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert all(r["n_pair"] >= 5 for r in rows)


# --- batch 10: centroid margin / source JS / Weibull


def test_centroid_margin_bounds(spark):
    rows = registry.get("embed_centroid_margin").fn(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["mean_margin"] >= -1e-6  # top1 >= top2 by construction
        assert 0 <= r["n_boundary"] <= r["n_vectors"]
        assert 0.0 <= r["boundary_share"] <= 1.0


def test_source_js_symmetric_bounds(spark):
    rows = registry.get("text_source_similarity_js").fn(spark, SF001).collect()
    assert rows
    # JS divergence (natural log) lives in [0, ln 2]
    for r in rows:
        assert -1e-6 <= r["js_divergence"] <= math.log(2.0) + 1e-6
        assert r["source_a"] < r["source_b"]


def test_weibull_fit_sane(spark):
    r = registry.get("agg_weibull_fit").fn(spark, SF001).collect()[0]
    assert r["n_intervals"] > 0
    assert r["weibull_shape"] > 0
    assert r["weibull_scale_days"] > 0
    assert 0.0 <= r["fit_r2"] <= 1.0


# --- batch 11: poisson rate / band migration / lead time


def test_poisson_ci_brackets_rate(spark):
    rows = registry.get("agg_poisson_rate_ci").fn(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["rate_ci_lo"] <= r["rate_per_day"] <= r["rate_ci_hi"]
        assert r["n_days"] >= 1


def test_band_migration_shares_rowstochastic(spark):
    rows = registry.get("q_customer_band_migration").fn(spark, SF001).collect()
    assert rows
    by_from: dict = {}
    for r in rows:
        by_from.setdefault(r["band_from"], 0.0)
        by_from[r["band_from"]] += r["transition_share"]
    for s in by_from.values():
        assert abs(s - 1.0) < 1e-3


def test_lead_time_percentile_order(spark):
    rows = registry.get("q_supplier_lead_time").fn(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["p50_days"] <= r["p95_days"] <= r["max_days"]
        assert 0.0 <= r["late_share"] <= 1.0


# --- batch 12: EB shrinkage / isotropy / burstiness


def test_eb_shrinkage_pulls_toward_prior(spark):
    rows = registry.get("agg_eb_shrinkage").fn(spark, SF001).collect()
    assert rows
    a, b = rows[0]["prior_alpha"], rows[0]["prior_beta"]
    assert a > 0 and b > 0
    prior_mean = a / (a + b)
    for r in rows:
        # the posterior sits between the raw rate and the prior mean
        lo, hi = sorted((r["raw_rate"], prior_mean))
        assert lo - 1e-6 <= r["shrunk_rate"] <= hi + 1e-6


def test_isotropy_bounds(spark):
    r = registry.get("embed_isotropy").fn(spark, SF001).collect()[0]
    assert r["n_vectors"] > 1
    assert -1.0 <= r["mean_pairwise_cosine"] <= 1.0
    assert 0.0 <= r["mean_vector_norm"] <= 1.0 + 1e-9


def test_burstiness_positive(spark):
    rows = registry.get("text_word_burstiness").fn(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["burstiness"] >= 0
        assert r["n_docs_with"] <= r["n_occurrences"]
        assert r["content_like"] == (r["burstiness"] > 2.0)


# --- q_time_to_convert


def test_time_to_convert_known_case(spark, tmp_path):
    """User 1 views at t=0, purchases at t=30 min; user 2 views only.
    Rate = 1/2, p50 = p90 = 30 minutes."""
    rows = [
        (0, 0, 1, "view", 1.0),
        (1, 30, 1, "purchase", 1.0),
        (2, 0, 2, "view", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    r = registry.get("q_time_to_convert").fn(spark, str(tmp_path)).collect()[0]
    assert r["n_viewers"] == 2 and r["n_converted"] == 1
    assert r["conversion_rate"] == 0.5
    assert r["p50_minutes"] == 30 and r["p90_minutes"] == 30


# --- dedup_candidate_budget


def test_candidate_budget_cap_never_grows(spark):
    r = registry.get("dedup_candidate_budget").fn(spark, SF001).collect()[0]
    assert 0 <= r["candidates_capped"] <= r["candidates_uncapped"]
    assert 0.0 <= r["volume_saved_share"] <= 1.0
    assert r["n_postings"] > 0


# --- stream_hourly_active_users


def test_stream_hourly_active_users_parity(spark):
    import duckdb

    stream_rows = {
        r["window_start"]: r["active_users"]
        for r in registry.get("stream_hourly_active_users")
        .fn(spark, SF001)
        .collect()
    }
    assert stream_rows
    # spot-check the batch distinct for the busiest hour
    exp = duckdb.sql(
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'),"
        " COUNT(DISTINCT user_id)"
        f" FROM '{SF001}/events.parquet' GROUP BY 1"
    ).fetchall()
    for ws, n in exp:
        assert stream_rows.get(ws) == n
