"""Tests for the round-4c additions: PQ ANN semantics, count-min
guarantees, triangle counting on a planted graph, LM perplexity
ordering, weighted sampling proportionality, and epoch interleaving."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_ingestion_poc_spark import registry
from data_ingestion_poc_spark.llm.similarity import PQ_K, PQ_M

from conftest import SF_SMOKE

SF_MID = "/root/testdata/sf0.01"


def test_pq_codes_are_valid_and_topk_shape(spark):
    out = registry.get("sim_search_pq").fn(spark, SF_MID).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rows in by_q.items():
        assert len(rows) == 10
        rks = sorted(r["rk"] for r in rows)
        assert rks == list(range(1, 11))
        # distances non-decreasing in rank, self excluded
        dists = [r["approx_dist2"] for r in sorted(rows, key=lambda r: r["rk"])]
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != q for r in rows)


def test_pq_exact_for_codebook_vectors(spark, tmp_path):
    """A codebook vector's own subvectors quantize to themselves, so the
    PQ approximate distance between two CODEBOOK vectors is the true
    squared L2. 11 vectors total => every neighbor is in the top-10, so
    the (2, 4) pair is guaranteed present."""
    import random

    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], f"l{i % 3}")
        for i in range(11)
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    true_d2 = sum((a - b) ** 2 for a, b in zip(vecs[2][1], vecs[4][1]))
    out = registry.get("sim_search_pq").fn(spark, str(tmp_path)).collect()
    row = [r for r in out if r["query_id"] == 2 and r["neighbor_id"] == 4]
    assert row, "with 11 vectors every neighbor is in top-10"
    assert math.isclose(row[0]["approx_dist2"], true_d2, rel_tol=1e-6, abs_tol=1e-4)


def test_pq_recall_bounds(spark):
    rows = registry.get("sim_search_pq_recall").fn(spark, SF_MID).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["exact_k"] == 10
        assert 0 <= r["pq_hits"] <= 10
        assert abs(r["recall_pct"] - r["pq_hits"] * 10.0) < 1e-9


def test_countmin_never_underestimates_and_depth_helps(spark):
    rows = registry.get("agg_countmin_sketch").fn(spark, SF_MID).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["no_underestimate"], r
        assert r["est_n"] >= r["exact_n"]
        # CM error is bounded by colliding mass; with N=60k rows over
        # 256 buckets a row's expected extra mass is ~234 rows x count
        # scale — sanity-bound the min-over-depth estimate at 3x exact
        assert r["est_n"] <= 3 * r["exact_n"] + 2000


def test_triangle_count_on_planted_graph(spark, tmp_path):
    """K4 on suppliers 1-4 (4 triangles, each node in 3) plus a pendant
    edge 4-5 (no triangle): plant one part per needed edge."""
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    li = []
    for i, (a, b) in enumerate(edges):
        li.append((100 + i, a))
        li.append((100 + i, b))
    spark.createDataFrame(
        li, "l_partkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r["node"]: r["n_triangles"]
        for r in registry.get("graph_triangle_count")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_perplexity_flags_shuffled_text_higher(spark, tmp_path):
    """A corpus of one repeated fluent sentence + one scrambled doc: the
    scrambled doc must score strictly higher perplexity (its bigrams are
    rare under the corpus LM)."""
    fluent = "the quick brown fox jumps over the lazy dog"
    docs = [(i, fluent) for i in range(20)] + [
        (99, "dog the over fox quick jumps brown lazy the")
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r["ppl"]
        for r in registry.get("text_perplexity_ngram")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert rows[99] > rows[0]
    assert all(rows[i] == rows[0] for i in range(20))


def test_weighted_sample_prefers_heavy_rows(spark, tmp_path):
    """1000 rows, 10 with 1000x weight: E-S sampling of k=100 must pick
    essentially all heavy rows (each heavy row's inclusion probability
    is ~1)."""
    rows = [(i, 500000.0 if i < 10 else 500.0) for i in range(1000)]
    spark.createDataFrame(rows, "o_orderkey long, o_totalprice double").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    out = registry.get("sample_weighted").fn(spark, str(tmp_path)).collect()
    assert len(out) == 100
    heavy = [r for r in out if r["o_orderkey"] < 10]
    assert len(heavy) >= 9


def test_interleave_epochs_permutations_differ_and_cover(spark):
    from data_ingestion_poc_spark.llm.corpus import INTERLEAVE_EPOCHS

    out = registry.get("corpus_interleave_epochs").fn(spark, SF_SMOKE).collect()
    by_epoch: dict[int, dict[int, tuple]] = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], {})[r["doc_id"]] = (
            r["shard_id"],
            r["ord_in_shard"],
        )
    assert set(by_epoch) == set(range(INTERLEAVE_EPOCHS))
    docs0 = set(by_epoch[0])
    # every epoch covers the same full corpus exactly once
    for e in by_epoch:
        assert set(by_epoch[e]) == docs0
    # at least one doc changes position between epochs (different salt
    # => different permutation)
    assert any(by_epoch[0][d] != by_epoch[1][d] for d in docs0)
    # ord_in_shard is dense 1..n per (epoch, shard)
    per_shard: dict[tuple, list] = {}
    for r in out:
        per_shard.setdefault((r["epoch"], r["shard_id"]), []).append(
            r["ord_in_shard"]
        )
    for k, v in per_shard.items():
        assert sorted(v) == list(range(1, len(v) + 1)), k


def test_zscore_anomaly_on_planted_spike(spark, tmp_path):
    """Flat series with one spike: only the spike is flagged, with the
    right sign and a huge z."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        v = 1000.0 if i == 30 else 10.0 + (i % 3) * 0.5
        rows.append((i, base + datetime.timedelta(minutes=i), 7, "view", v, None))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = registry.get("win_zscore_anomaly").fn(spark, str(tmp_path)).collect()
    assert [r["event_id"] for r in out] == [30]
    assert out[0]["z"] > 100


def test_moments_match_numpy(spark):
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(SF_MID + "/lineitem.parquet", columns=["l_returnflag", "l_extendedprice"]).to_pandas()
    rows = registry.get("agg_moments").fn(spark, SF_MID).collect()
    for r in rows:
        x = tbl[tbl.l_returnflag == r["l_returnflag"]].l_extendedprice.values
        assert r["n"] == len(x)
        assert abs(r["mean_price"] - x.mean()) < 0.02
        assert abs(r["var_pop"] - x.var()) / x.var() < 1e-6
        m2 = x.var()
        skew = ((x - x.mean()) ** 3).mean() / m2 ** 1.5
        kurt = ((x - x.mean()) ** 4).mean() / m2 ** 2 - 3
        assert abs(r["skewness"] - skew) < 1e-4
        assert abs(r["excess_kurtosis"] - kurt) < 1e-4


def test_market_basket_invariants(spark):
    rows = registry.get("q_market_basket").fn(spark, SF_MID).collect()
    assert rows
    for r in rows:
        assert r["item_a"] < r["item_b"]
        assert r["n_pair"] >= 5
        assert 0 < r["support"] <= 1
        assert 0 < r["conf_a_to_b"] <= 1
        assert r["lift"] > 0


def test_distinct_rolling_bounds(spark):
    rows = registry.get("win_distinct_rolling").fn(spark, SF_MID).collect()
    for r in rows[:2000]:
        assert 1 <= r["distinct_types_20"] <= min(r["n_frame"], 5)


def test_stream_outer_join_emits_unmatched(spark):
    out = registry.get("stream_outer_join_watermark").fn(spark, SF_MID).collect()
    matched = [r for r in out if r["matched"]]
    nulls = [r for r in out if not r["matched"]]
    assert matched and nulls
    for r in nulls:
        assert r["click_id"] is None
    # every purchase appears at most once as unmatched
    ids = [r["purchase_id"] for r in nulls]
    assert len(ids) == len(set(ids))


def test_pq_train_assignment_partition(spark):
    from data_ingestion_poc_spark.llm.similarity import PQ_K, PQ_M

    rows = registry.get("embed_pq_train").fn(spark, SF_MID).collect()
    assert len(rows) == PQ_M * PQ_K
    n_vecs = spark.read.parquet(SF_MID + "/embeddings.parquet").count()
    by_m: dict[int, int] = {}
    for r in rows:
        by_m[r["m"]] = by_m.get(r["m"], 0) + r["n_assigned"]
        assert r["n_assigned"] >= 1  # each codeword claims at least itself
        assert r["centroid_norm"] > 0
        assert r["centroid_drift"] >= 0
    # every vector's subvector is assigned exactly once per subspace
    assert by_m == {m: n_vecs for m in range(PQ_M)}


def test_sql_scalar_udf_inlines(spark):
    df = registry.get("sql_scalar_udf").fn(spark, SF_MID)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert {r["tier"] for r in rows} <= {"negative", "standard", "premium"}


def test_audio_framestats_exact_on_planted_pcm(spark, tmp_path):
    """Synthesize a known int16 square wave as the 'blob' (written as a
    file binaryFile picks up) and check frame stats exactly."""
    import struct

    from data_ingestion_poc_spark.llm.multimodal import AUDIO_FRAME

    samples = ([1000] * 8 + [-1000] * 8) * 64  # 1024 samples, period 16
    blob = b"".join(struct.pack("<h", s) for s in samples)
    p = tmp_path / "tone.parquet"  # extension only matters for the glob
    p.write_bytes(blob)
    out = registry.get("multimodal_audio_framestats").fn(
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1024 // AUDIO_FRAME
    for r in out:
        assert r["n_samples"] == AUDIO_FRAME
        assert r["sum_sq"] == 1000 * 1000 * AUDIO_FRAME
        assert r["peak_abs"] == 1000
        # 2 flips per 16-sample period, minus the frame-final pair that
        # has no successor inside the frame
        assert r["zero_crossings"] == AUDIO_FRAME // 8 - 1
        assert abs(r["rms"] - 1000.0) < 1e-9


def test_ols_recovers_planted_coefficients(spark, tmp_path):
    """y = 3 + 2*q - 50*d exactly (no noise): OLS must recover the
    coefficients to rounding precision."""
    rows = [
        (float(q), d / 10.0, 3.0 + 2.0 * q - 50.0 * (d / 10.0))
        for q in range(1, 21)
        for d in range(0, 5)
    ]
    spark.createDataFrame(
        rows, "l_quantity double, l_discount double, l_extendedprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = registry.get("agg_ols_two_factor").fn(spark, str(tmp_path)).collect()[0]
    assert abs(r["beta_qty"] - 2.0) < 1e-3
    assert abs(r["beta_disc"] + 50.0) < 1e-3
    assert abs(r["intercept"] - 3.0) < 1e-3
    assert r["n"] == 100


def test_rolling_median_is_robust_to_outlier(spark, tmp_path):
    """Constant series with one huge outlier: the rolling median stays at
    the constant for every frame (the outlier never wins a 21-row
    median), which is exactly why it beats the mean for monitoring."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, "view",
         9999.0 if i == 25 else 7.0, None)
        for i in range(60)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = registry.get("win_median_rolling").fn(spark, str(tmp_path)).collect()
    for r in out:
        if r["event_id"] != 25 or r["n_frame"] > 2:
            assert r["med_21"] == 7.0, r


def test_length_buckets_conserve_docs_and_tokens(spark):
    import pyarrow.parquet as pq

    rows = registry.get("corpus_length_buckets").fn(spark, SF_MID).collect()
    total_docs = sum(r["n_docs"] for r in rows)
    assert total_docs == 500
    for r in rows:
        # power-of-two buckets, floor 8
        assert r["bucket"] >= 8 and (r["bucket"] & (r["bucket"] - 1)) == 0
        assert r["pad_tokens"] >= 0
        assert 0 <= r["pad_pct"] < 100


def test_alignment_audit_counts(spark):
    r = registry.get("embed_text_alignment").fn(spark, SF_MID).collect()[0]
    assert r["n_docs"] == 500 and r["n_vecs"] == 500
    assert r["n_paired"] == r["n_docs"] - r["docs_unembedded"]
    assert r["n_paired"] == r["n_vecs"] - r["vecs_orphaned"]
    assert -1.0 <= r["corr_len_proj"] <= 1.0


def test_bpe_encode_counts_consistent(spark):
    rows = registry.get("text_bpe_encode").fn(spark, SF_MID).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["n_tok_after"] <= r["n_tok_before"]
        assert r["n_merges_applied"] == r["n_tok_before"] - r["n_tok_after"]
        assert 0 < r["ratio"] <= 1.0
    # the learned merges must fire somewhere
    assert sum(r["n_merges_applied"] for r in rows) > 0


def test_consensus_flags_consistent(spark):
    rows = registry.get("dedup_consensus").fn(spark, SF_MID).collect()
    assert rows
    for r in rows:
        flags = [r["by_exact"], r["by_jaccard"], r["by_minhash"], r["by_simhash"]]
        assert r["n_methods"] == sum(flags)
        assert r["n_methods"] >= 1  # every emitted pair fired somewhere
        assert r["doc_a"] < r["doc_b"]
        # exact dup implies jaccard dup (identical shingle sets)
        if r["by_exact"]:
            assert r["by_jaccard"]


def test_expectations_catch_planted_violations(spark, tmp_path):
    """Corpus with a duplicate PK, an orphan FK, and an out-of-range
    quantity: exactly those rules fail with the right counts."""
    orders = [(1, 10, "O", 100.0), (2, 10, "O", 200.0), (2, 11, "F", 300.0),
              (3, 99, "F", 400.0)]  # dup PK 2; custkey 99 missing
    cust = [(10, "a"), (11, "b")]
    li = [(1, 5.0), (1, 99.0), (7, 10.0)]  # qty 99 out of range; okey 7 orphan
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(cust, "c_custkey long, c_name string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        li, "l_orderkey long, l_quantity double"
    ).withColumn("l_discount", F.lit(0.0)).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = {
        r["expectation"]: (r["n_violations"], r["passed"])
        for r in registry.get("quality_expectations")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out["orders_pk_unique"] == (1, False)
    assert out["orders_custkey_fk"] == (1, False)
    assert out["lineitem_orderkey_fk"] == (1, False)
    assert out["lineitem_qty_range"] == (1, False)
    assert out["orders_pk_not_null"] == (0, True)
    assert out["orders_price_positive"] == (0, True)


def test_wap_publish_idempotent_and_complete(spark):
    df1 = registry.get("sink_wap_publish").fn(spark, SF_MID)
    rows1 = {r["o_orderstatus"]: r["n_orders"] for r in df1.collect()}
    # re-running reads the already-published snapshot (no double publish)
    rows2 = {
        r["o_orderstatus"]: r["n_orders"]
        for r in registry.get("sink_wap_publish").fn(spark, SF_MID).collect()
    }
    assert rows1 == rows2
    total = spark.read.parquet(SF_MID + "/orders.parquet").count()
    assert sum(rows1.values()) == total


def test_cached_table_serves_both_branches(spark):
    df = registry.get("scan_cached_table").fn(spark, SF_MID)
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert all(r["dim_rows"] == 25 for r in rows)
    assert sum(r["n_nations"] for r in rows) == 25


def test_rfm_segments_partition_customers(spark):
    rows = registry.get("q_rfm_segmentation").fn(spark, SF_MID).collect()
    segs = {r["segment"] for r in rows}
    assert segs <= {
        a + b + c
        for a in ("R0", "R1")
        for b in ("F0", "F1")
        for c in ("M0", "M1")
    }
    n_cust = (
        spark.read.parquet(SF_MID + "/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    # median cuts put the >= side at at least half on each dimension
    top = sum(r["n_customers"] for r in rows if r["segment"].startswith("R1"))
    assert top >= n_cust // 2


def test_image_dedup_pairs_every_reencode(spark):
    rows = registry.get("multimodal_image_dedup").fn(spark, SF_MID).collect()
    pairs = {(r["file_a"], r["file_b"]) for r in rows}
    # every fixture file must pair with its planted re-encode variant
    from data_ingestion_poc_spark.goldens import fixture_parquets

    for p in fixture_parquets(SF_MID):
        name = p.rsplit("/", 1)[-1]
        assert (name, name + "#v") in pairs, name
    for r in rows:
        assert 0 <= r["hamming"] <= 3


def test_cusum_catches_slow_drift_zscore_misses(spark, tmp_path):
    """A +15 step change (well under the 3-sigma z-score bar for noise
    sigma ~5) accumulates into a CUSUM alarm — the complementary-detector
    claim made executable."""
    import datetime

    from data_ingestion_poc_spark.operators.windows import CUSUM_H, CUSUM_K

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(300):
        # mean 50 before the change point, 75 after (drift +15 over K=60)
        mean = 50.0 if i < 100 else 75.0
        v = mean + (i % 7 - 3)  # bounded "noise"
        rows.append((i, base + datetime.timedelta(minutes=i), 1, "view", v, None))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = registry.get("win_cusum_drift").fn(spark, str(tmp_path)).collect()
    assert out, "drift must trigger the CUSUM alarm"
    # alarms only after the change point, and cusum grows past H
    assert all(r["event_id"] >= 100 for r in out)
    assert max(r["cusum"] for r in out) > CUSUM_H
    # z-score detector stays silent on the same data (no 3-sigma point)
    z = registry.get("win_zscore_anomaly").fn(spark, str(tmp_path)).collect()
    assert [r for r in z if r["event_id"] < 100] == []


def test_cube_covers_all_grouping_streams(spark):
    rows = registry.get("agg_cube").fn(spark, SF_MID).collect()
    streams = {(r["g_flag"], r["g_status"]) for r in rows}
    assert streams == {(0, 0), (0, 1), (1, 0), (1, 1)}
    total = [r for r in rows if r["g_flag"] == 1 and r["g_status"] == 1]
    assert len(total) == 1
    detail_sum = sum(
        r["n_rows"] for r in rows if (r["g_flag"], r["g_status"]) == (0, 0)
    )
    assert detail_sum == total[0]["n_rows"]


def test_ntile_buckets_balanced_per_segment(spark):
    rows = registry.get("win_ntile_quartiles").fn(spark, SF_MID).collect()
    per_seg: dict[str, dict[int, int]] = {}
    for r in rows:
        per_seg.setdefault(r["c_mktsegment"], {}).setdefault(
            r["balance_quartile"], 0
        )
        per_seg[r["c_mktsegment"]][r["balance_quartile"]] += 1
    for seg, buckets in per_seg.items():
        assert set(buckets) == {1, 2, 3, 4}, seg
        assert max(buckets.values()) - min(buckets.values()) <= 1, seg


def test_ntile_window_partition_is_bounded(spark):
    """Scale pin (VERDICT r4 item 2): the NTILE rewrite must not window
    on c_mktsegment alone — cardinality 5, so each window partition
    would hold ~20% of the TABLE and grow linearly with data. Every
    window spec in the executed plan has to include the range `bucket`
    key, which caps the per-task sort at ~_NTILE_BUCKET_ROWS rows
    regardless of table size."""
    df = registry.get("win_ntile_quartiles").fn(spark, SF_MID)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = [
        ln for ln in plan.splitlines() if "windowspecdefinition(" in ln
    ]
    assert specs, "expected a Window node in the NTILE plan"
    for ln in specs:
        spec = ln[ln.index("windowspecdefinition(") :]
        assert "bucket#" in spec, (
            "window partition keys must include the range bucket — a "
            f"segment-only window scales with table size: {spec[:200]}"
        )


def test_containment_catches_subset_docs_jaccard_misses(spark, tmp_path):
    """The r5 asymmetric operator's reason to exist: a small doc quoted
    whole inside a much larger doc must pair under containment (~1.0)
    while staying far below the Jaccard threshold."""
    small = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i}" for i in range(200))
    rows = [
        (1, "en", "web", small, len(small)),
        (2, "en", "web", filler + " " + small, len(filler) + len(small) + 1),
        (3, "en", "web", "totally unrelated text about nothing", 36),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, text string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in registry.get("dedup_containment").fn(spark, str(tmp_path)).collect()
    }
    assert cont.get((1, 2)) == 1.0
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in registry.get("dedup_ngram_jaccard").fn(spark, str(tmp_path)).collect()
    }
    assert (1, 2) not in jac, "Jaccard should miss the subset pair"


def test_matryoshka_recall_accounting(spark):
    rows = registry.get("embed_matryoshka_recall").fn(spark, SF_MID).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["exact_k"] == 10
        assert 0 <= r["trunc_hits"] <= 10
        assert r["recall_pct"] == round(r["trunc_hits"] * 100.0 / 10, 2)
    # truncation to a quarter of the dims must still retrieve something
    assert sum(r["trunc_hits"] for r in rows) > 0


def test_mad_flags_repeated_spikes_zscore_masks(spark, tmp_path):
    """Robustness rationale made concrete: a burst of FIVE equal spikes
    inside 60 events inflates mean/stddev enough that the plain z-score
    detector misses some or all of them, while median/MAD (50% breakdown
    point) flags every spike and nothing else."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    spikes = {20, 25, 30, 35, 40}
    rows = []
    for i in range(60):
        v = 500.0 if i in spikes else 10.0 + (i % 5) * 0.3
        rows.append((i, base + datetime.timedelta(minutes=i), 7, "view", v, None))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    mad = {
        r["event_id"]
        for r in registry.get("win_mad_anomaly").fn(spark, str(tmp_path)).collect()
    }
    assert mad == spikes
    z = {
        r["event_id"]
        for r in registry.get("win_zscore_anomaly").fn(spark, str(tmp_path)).collect()
    }
    assert len(z & spikes) < len(spikes), (
        "z-score should mask at least one repeated spike (sigma inflated "
        f"by earlier spikes); flagged {sorted(z)}"
    )


def test_bootstrap_se_tracks_analytic_se(spark):
    """The Poisson-bootstrap SE must estimate the classical analytic
    standard error of the mean (sd/sqrt(n)). B=8 replicates makes the
    estimator noisy (chi-square with 7 dof: sd ~ 27% of truth), so bound
    it loosely within [0.4x, 2.5x] — a broken weighting (all-equal
    weights -> SE ~ 0, or per-replicate correlated draws -> SE inflated)
    lands far outside."""
    import math

    import pyarrow.parquet as pq

    rows = registry.get("agg_bootstrap_ci").fn(spark, SF_MID).collect()
    tbl = pq.read_table(
        SF_MID + "/lineitem.parquet", columns=["l_returnflag", "l_extendedprice"]
    ).to_pandas()
    assert len(rows) == 3
    for r in rows:
        x = tbl[tbl.l_returnflag == r["l_returnflag"]].l_extendedprice
        analytic = x.std(ddof=1) / math.sqrt(len(x))
        assert 0.4 * analytic < r["boot_se"] < 2.5 * analytic, (
            r["l_returnflag"], r["boot_se"], analytic
        )
        assert r["ci_lo"] < r["mean_price"] < r["ci_hi"]


def _write_events(spark, tmp_path, values, user_id=1):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), user_id, "view", float(v), None)
        for i, v in enumerate(values)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def test_drawdown_tracks_peak_and_worst(spark, tmp_path):
    """Series 100 -> 80 -> 120 -> 60: peak follows the running max, the
    60 tick is a 50% drawdown, and max_drawdown never decreases."""
    _write_events(spark, tmp_path, [100, 80, 120, 60])
    out = sorted(
        registry.get("win_drawdown").fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["event_id"],
    )
    assert [r["peak"] for r in out] == [100.0, 100.0, 120.0, 120.0]
    assert [r["drawdown"] for r in out] == [0.0, 0.2, 0.0, 0.5]
    assert [r["max_drawdown"] for r in out] == [0.0, 0.2, 0.2, 0.5]


def test_vshape_matches_strict_local_minima_only(spark, tmp_path):
    """Plateaus and endpoints must not match; the two strict troughs
    must, with depth = the SHALLOWER side of the V."""
    #         idx: 0    1   2    3   4   4->troughs at idx 1 and 4
    _write_events(spark, tmp_path, [10, 4, 12, 12, 5, 9])
    out = {
        r["event_id"]: r
        for r in registry.get("win_pattern_vshape").fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 4}
    assert out[1]["depth"] == 6.0 and out[1]["rebound"] == 8.0
    assert out[4]["depth"] == 4.0 and out[4]["rebound"] == 4.0


def test_semdedup_prunes_planted_semantic_dup(spark, tmp_path):
    """Two near-identical vectors (cos ~ 1) must resolve as keep-earlier
    / prune-later with dup_of pointing at the earlier id; orthogonal
    vectors must all be kept."""
    import random

    rng = random.Random(7)
    dim = 64

    def noisy(base, eps):
        return [v + rng.uniform(-eps, eps) for v in base]

    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = []
    # 12 well-separated "distinct" vectors (random directions)
    for i in range(12):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)], 0))
    # planted near-dup pair: ids 100 and 200 (same direction, tiny noise)
    rows.append((100, noisy(base, 0.01), 1))
    rows.append((200, noisy(base, 0.01), 1))
    spark.createDataFrame(
        [(i, [float(x) for x in v], lbl) for i, v, lbl in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["vec_id"]: r
        for r in registry.get("dedup_semantic").fn(spark, str(tmp_path)).collect()
    }
    assert len(out) == 14
    assert not out[100]["is_dup"]
    assert out[200]["is_dup"] and out[200]["dup_of"] == 100
    assert out[200]["dup_cos"] > 0.99
    # same direction => same nearest seed cell
    assert out[100]["cell"] == out[200]["cell"]
    # random directions in 64-d are near-orthogonal: none pruned
    assert all(not out[i]["is_dup"] for i in range(12))


def test_ivfpq_scores_probed_cell_monotonically(spark):
    """Every neighbor must come from the probed cell, distances must be
    non-decreasing in rank, and each of the 5 queries returns a full
    top-10 (cells hold ~60 vectors at sf0.01)."""
    from data_ingestion_poc_spark.catalog import load

    rows = registry.get("sim_search_ivfpq").fn(spark, SF_MID).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    labels = {
        r["vec_id"]: r["label"]
        for r in load(spark, SF_MID).embeddings.select("vec_id", "label").collect()
    }
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rk"])
        assert len(rs) == 10
        assert all(r["probe_label"] == rs[0]["probe_label"] for r in rs)
        for r in rs:
            assert labels[r["neighbor_id"]] == r["probe_label"]
            assert r["neighbor_id"] != q
        dists = [r["approx_dist2"] for r in rs]
        assert dists == sorted(dists)


def test_rolling_regression_recovers_exact_line(spark, tmp_path):
    """Values on the exact line v = 2.25 + 0.25*rn must fit slope 0.25 /
    intercept 2.25 at every emitted row (integer-cent arithmetic keeps
    this exact, no tolerance needed beyond the 4-dp floor)."""
    _write_events(spark, tmp_path, [2.25 + 0.25 * (i + 1) for i in range(10)])
    out = sorted(
        registry.get("win_rolling_regression").fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["event_id"],
    )
    assert [r["n_frame"] for r in out] == [5, 6, 7, 8, 9, 10]
    for r in out:
        assert r["trend_slope"] == 0.25
        assert r["trend_intercept"] == 2.25


def test_ivfpq_and_semantic_recall_reports(spark):
    """Recall reports are well-formed: exact_k = 10 per query, hits
    bounded by k, and the semantic report's flagged count never exceeds
    the quadratic truth (precision 1 by construction)."""
    rows = registry.get("sim_search_ivfpq_recall").fn(spark, SF_MID).collect()
    assert [r["query_id"] for r in rows] == [0, 1, 2, 3, 4]
    for r in rows:
        assert r["exact_k"] == 10 and 0 <= r["ivfpq_hits"] <= 10
        assert r["recall_pct"] == round(r["ivfpq_hits"] * 10.0, 2)
    (s,) = registry.get("dedup_semantic_recall").fn(spark, SF_MID).collect()
    assert s["n_flagged"] <= s["n_true_dups"]
    assert 0 <= s["recall_pct"] <= 100
