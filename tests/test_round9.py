"""Semantics tests for the round-9 additions. Oracle parity is covered
by check_oracle / the driver; these pin dispatch behavior, hand-computable
values, and edge cases."""

from __future__ import annotations

import os

import pytest

from data_ingestion_poc_spark import registry
from conftest import module_spark

SF001 = "/root/testdata/sf0.001"


spark = module_spark(shuffle_partitions=4)


# --- embed_hubness auto-dispatch (VERDICT r8 item 2)


def test_hubness_dispatches_to_ivf_above_cap(spark, monkeypatch):
    """Below the cap the exact brute path runs; above it the IVF fold.
    Force the boundary with a tiny cap: the IVF path's plan joins on the
    cell id (qc = nc) while brute has no such column."""
    from data_ingestion_poc_spark.llm import similarity as sim

    brute = registry.get("embed_hubness").fn(spark, SF001)
    monkeypatch.setattr(sim, "HUBNESS_BRUTE_MAX", 10)
    ivf = registry.get("embed_hubness").fn(spark, SF001)
    # same report schema either way: the consumer never sees the switch
    assert brute.columns == ivf.columns
    b, v = brute.collect()[0], ivf.collect()[0]
    assert b["n"] == v["n"] == 500
    # within-cell candidate lists can only SHRINK k-occurrence spread:
    # a vector can appear in at most (its cell size - 1) lists
    assert v["max_k_occ"] <= b["n"]
    # both paths fold the identical closed-form moment report
    for r in (b, v):
        assert r["n_antihubs"] >= 0 and r["n_hubs"] >= 0
        assert r["max_k_occ"] >= 0


def test_hubness_ivf_matches_dispatched_path(spark, monkeypatch):
    """embed_hubness_ivf (the forced, separately-oracled scale path) must
    equal what embed_hubness produces when dispatched above the cap,
    modulo the extra nlist column."""
    from data_ingestion_poc_spark.llm import similarity as sim

    forced = registry.get("embed_hubness_ivf").fn(spark, SF001).collect()[0]
    monkeypatch.setattr(sim, "HUBNESS_BRUTE_MAX", 10)
    dispatched = registry.get("embed_hubness").fn(spark, SF001).collect()[0]
    for c in dispatched.asDict():
        assert forced[c] == dispatched[c], c
    assert forced["nlist"] == 23  # ceil(sqrt(500))


# --- per-process warehouse isolation (r8 flake: concurrent JVMs sharing
# spark-warehouse/ wiped each other's bucketed table directories)


def test_warehouse_dir_is_process_unique(spark):
    wh = spark.conf.get("spark.sql.warehouse.dir")
    assert os.environ.get("DIP_WAREHOUSE_DIR") or str(os.getpid()) in wh


def test_bucketed_fixture_rebuilds_in_fresh_warehouse(spark):
    """The bucketed fixture must be self-healing: dropping the table (as
    a fresh process with an empty warehouse would see) and re-preparing
    yields a readable bucketed table again."""
    from data_ingestion_poc_spark.operators.scale import prepare_bucketed

    spark.sql("DROP TABLE IF EXISTS bkt_orders_sf0_001")
    prepare_bucketed(spark, SF001)
    assert spark.table("bkt_orders_sf0_001").count() > 0


# --- blob-store seam (VERDICT r8 item 5: A18/A19 store-level contract)


def test_local_blob_store_properties_roundtrip(tmp_path):
    from data_ingestion_poc_spark.ingest.blobstore import LocalBlobStore

    s = LocalBlobStore(str(tmp_path))
    assert s.get_properties("a/b/c.bin") is None
    meta = {"creation_time": "5", "modified_time": "5", "file_size": "3"}
    s.upload("a/b/c.bin", b"xyz", meta)
    p = s.get_properties("a/b/c.bin")
    assert p == {"size": 3, "metadata": meta}
    s.upload("a/b/c.bin", b"longer", {"file_size": "6"})  # overwrite=True
    assert s.get_properties("a/b/c.bin")["size"] == 6


def test_azure_blob_store_is_import_guarded():
    from data_ingestion_poc_spark.ingest.blobstore import AzureBlobStore

    with pytest.raises(ImportError, match="azure-storage-blob"):
        AzureBlobStore("conn-str", "container")


def test_dup_suffix_handles_extensionless_names():
    from data_ingestion_poc_spark.ingest.blobstore import dup_suffixed

    assert dup_suffixed("report.csv", 99) == "report_99.csv"
    assert dup_suffixed("README", 99) == "README_99"
    assert dup_suffixed("a.tar.gz", 7) == "a.tar_7.gz"


# --- round-9 operator semantics pins


import datetime

import pyspark.sql.functions as F


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, user_id, event_type, value)."""
    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(minutes=eid), uid, et, float(v), None)
        for eid, uid, et, v in rows
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def test_mcc_and_kappa_perfect_separation(spark, tmp_path):
    rows = [(i, 1, "purchase", 100.0) for i in range(20)]
    rows += [(100 + i, 1, "click", 0.0) for i in range(20)]
    _write_events(spark, tmp_path, rows)
    m = registry.get("agg_matthews_corr").fn(spark, str(tmp_path)).collect()[0]
    assert (m["tp"], m["tn"], m["fp"], m["fn"]) == (20, 20, 0, 0)
    assert m["mcc"] == 1.0
    k = registry.get("agg_cohens_kappa").fn(spark, str(tmp_path)).collect()[0]
    assert k["kappa"] == 1.0 and k["observed_agreement"] == 1.0


def test_mcc_constant_classifier_is_zero(spark, tmp_path):
    # all scores above threshold -> constant positive classifier
    rows = [(i, 1, "purchase", 90.0) for i in range(8)]
    rows += [(50 + i, 1, "click", 90.0) for i in range(8)]
    _write_events(spark, tmp_path, rows)
    m = registry.get("agg_matthews_corr").fn(spark, str(tmp_path)).collect()[0]
    assert m["fn"] == 0 and m["tn"] == 0
    # a zero marginal zeroes the denominator: MCC undefined -> NULL
    # (and under Spark 4's ANSI default the unguarded division would
    # raise DIVIDE_BY_ZERO, which is what this test pins against)
    assert m["mcc"] is None
    k = registry.get("agg_cohens_kappa").fn(spark, str(tmp_path)).collect()[0]
    assert abs(k["kappa"]) < 1e-9


def test_theils_u_bounds_and_lambda_bounds(spark):
    u = registry.get("agg_theils_u").fn(spark, SF001).collect()[0]
    assert 0.0 <= u["u_y_given_x"] <= 1.0
    assert 0.0 <= u["u_x_given_y"] <= 1.0
    lam = registry.get("agg_goodman_kruskal_lambda").fn(spark, SF001).collect()[0]
    assert 0.0 <= lam["lambda_y_given_x"] <= 1.0
    assert lam["sum_row_modes"] >= lam["col_mode"]


def test_cronbach_alpha_upper_bound(spark):
    r = registry.get("agg_cronbach_alpha").fn(spark, SF001).collect()[0]
    assert r["k"] == 3
    assert r["alpha"] <= 1.0
    assert r["total_var"] > 0 and r["sum_item_var"] > 0


def test_page_hinkley_flags_level_shift(spark):
    r = registry.get("agg_page_hinkley").fn(spark, SF001).collect()
    # statistic is defined every day, non-negative, and the deviation
    # series sums increments exactly
    assert all(row["page_hinkley"] >= 0 for row in r)
    assert len(r) > 10


def test_aroon_fresh_high_scores_100(spark):
    rows = registry.get("win_aroon").fn(spark, SF001).collect()
    assert rows, "aroon needs a full lookback window in the fixture"
    for row in rows:
        assert 0 <= row["days_since_high"] <= 9
        assert 0 <= row["aroon_up"] <= 100
        if row["days_since_high"] == 0:
            assert row["aroon_up"] == 100.0


def test_mfi_bounded(spark):
    for row in registry.get("win_mfi").fn(spark, SF001).collect():
        if row["mfi"] is not None:
            assert 0.0 <= row["mfi"] <= 100.0


def test_ichimoku_cloud_between_extremes(spark):
    for row in registry.get("win_ichimoku").fn(spark, SF001).collect():
        if row["tenkan"] is not None and row["kijun"] is not None:
            # tenkan window nests inside kijun window: both midpoints
            # live within the kijun channel by construction
            assert row["tenkan"] >= 0 and row["kijun"] >= 0


def test_rolling_corr_in_range(spark):
    for row in registry.get("win_rolling_corr_pair").fn(spark, SF001).collect():
        assert -1.0 - 1e-9 <= row["rolling_corr"] <= 1.0 + 1e-9


def test_adamic_adar_edges_subset_and_positive(spark):
    rows = registry.get("graph_adamic_adar").fn(spark, SF001).collect()
    assert rows
    for row in rows:
        assert row["adamic_adar"] > 0
        assert row["n_common"] >= 1


def test_rich_club_phi_bounded(spark):
    for row in registry.get("graph_rich_club").fn(spark, SF001).collect():
        assert 0.0 <= row["rich_club_phi"] <= 1.0 + 1e-9
        assert row["n_nodes"] >= 2


def test_band_skew_pairs_match_bucket_sizes(spark):
    rows = registry.get("dedup_band_skew_audit").fn(spark, SF001).collect()
    assert len(rows) == 8  # MINHASH_BANDS
    for row in rows:
        assert row["n_docs"] >= row["n_buckets"]
        assert 0.0 <= row["singleton_share"] <= 1.0
        # a band of all-singletons implies zero candidate pairs
        if row["singleton_share"] == 1.0:
            assert row["candidate_pairs"] == 0


def test_compression_ratio_flags_repetitive_text(spark, tmp_path):
    docs = [
        (0, "spam " * 400, "en", "rep", 2000),
        (1, " ".join(f"w{i}x{i * 7 % 13}" for i in range(400)), "en", "var", 2000),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["source"]: r
        for r in registry.get("text_compression_ratio")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert rows["rep"]["mean_ratio"] < rows["var"]["mean_ratio"]
    assert rows["rep"]["suspect_share"] == 1.0


def test_hybrid_rrf_flags_and_ranks(spark):
    rows = registry.get("sim_search_hybrid_rrf").fn(spark, SF001).collect()
    by_q = {}
    for r in rows:
        assert r["in_dense"] or r["in_sparse"]
        # two lists of depth 10: max possible fused score 2/61
        assert 0 < r["rrf_score"] <= 2.0 / 61.0 + 1e-9
        by_q.setdefault(r["query_id"], []).append(r["fused_rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_neyman_allocation_spends_within_budget(spark):
    from data_ingestion_poc_spark.llm.sampling import NEYMAN_BUDGET

    rows = registry.get("sample_neyman_allocation").fn(spark, SF001).collect()
    total = sum(r["n_alloc"] for r in rows)
    assert total <= NEYMAN_BUDGET
    assert total >= NEYMAN_BUDGET - (len(rows) - 1)  # floor remainder bound
    assert abs(sum(r["alloc_share"] for r in rows) - 1.0) < 1e-3


def test_cross_field_dates_checks_every_joined_row(spark):
    rows = registry.get("quality_cross_field_dates").fn(spark, SF001).collect()
    assert {r["rule"] for r in rows} == {
        "ship_before_order", "ship_lag_over_90d",
        "returned_but_open", "finished_order_open_line",
    }
    li = spark.read.parquet(f"{SF001}/lineitem.parquet").count()
    assert all(r["n_checked"] == li for r in rows)
