"""Multimodal plumbing tests: the codec is a deterministic stub, so these
pin what IS real — schema, 1->1 / 1->N batch shape, quarantine-not-crash
error rows, and the aspect-preserving resize math a drop-in codec must
reproduce."""

from __future__ import annotations

from data_ingestion_poc_spark import registry
from data_ingestion_poc_spark.llm.multimodal import (
    FRAMES_PER_FILE,
    RESIZE_LONGEST_EDGE,
    _fake_resize,
)


def test_feature_extract_one_row_per_file(spark, sf_dir):
    df = registry.get("multimodal_binary").fn(spark, sf_dir)
    rows = df.collect()
    n_files = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet").count()
    assert len(rows) == n_files
    assert all(r["feature_crc"] is not None for r in rows)
    assert all(r["magic_hex"] == "50415231" for r in rows)  # 'PAR1'


def test_framesample_fanout(spark, sf_dir):
    df = registry.get("multimodal_framesample").fn(spark, sf_dir)
    rows = df.collect()
    n_files = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet").count()
    assert len(rows) == n_files * FRAMES_PER_FILE
    per_file: dict[str, list[int]] = {}
    for r in rows:
        per_file.setdefault(r["file_name"], []).append(r["frame_idx"])
    assert all(sorted(v) == list(range(FRAMES_PER_FILE)) for v in per_file.values())


def test_resize_preserves_aspect(spark, sf_dir):
    df = registry.get("multimodal_resize").fn(spark, sf_dir)
    for r in df.collect():
        assert max(r["dst_width"], r["dst_height"]) == RESIZE_LONGEST_EDGE
        # aspect ratio preserved within rounding of the shorter edge
        expected_short = min(r["src_width"], r["src_height"]) * r["scale"]
        assert abs(min(r["dst_width"], r["dst_height"]) - expected_short) <= 0.5


def test_resize_quarantines_bad_blob():
    """The stub math itself: a tiny blob still resizes (dims clamped >= 1)."""
    src_w, src_h, dst_w, dst_h, scale, thumb = _fake_resize(b"x", 128)
    assert dst_w >= 1 and dst_h >= 1
    assert max(dst_w, dst_h) == 128


def test_scenecut_matches_python_replay_and_fires(spark):
    """Spark window segmentation must equal the pure-Python replay for
    every fixture blob, and the threshold must actually fire (a silent
    detector would still hash-match a degenerate golden)."""
    from data_ingestion_poc_spark import registry
    from data_ingestion_poc_spark.goldens import ORACLE_SF_DIR
    from data_ingestion_poc_spark.llm.multimodal import (
        _read_fixture_blobs,
        _scene_rows,
    )

    sf = ORACLE_SF_DIR
    got = [
        (r["file_name"], r["frame_idx"], r["frame_ts_ms"], r["frame_mean"],
         r["is_cut"], r["scene_id"])
        for r in registry.get("multimodal_video_scenecut").fn(spark, sf).collect()
    ]
    expect = []
    for name, blob in _read_fixture_blobs(sf):
        expect.extend(_scene_rows(name, blob))
    assert sorted(got) == sorted(expect)
    assert any(r[4] for r in got), "no scene cut fired on the fixtures"
    # scene ids restart per file and only advance on cuts
    for name in {r[0] for r in got}:
        frames = sorted(r for r in got if r[0] == name)
        assert frames[0][5] == 1
        for a, b in zip(frames, frames[1:]):
            assert b[5] - a[5] == (1 if b[4] else 0)


def test_audio_vad_matches_python_replay(spark):
    """Spark VAD segmentation equals the pure-Python replay, finds at
    least one segment, and every segment is a maximal active run."""
    from data_ingestion_poc_spark import registry
    from data_ingestion_poc_spark.goldens import ORACLE_SF_DIR
    from data_ingestion_poc_spark.llm.multimodal import (
        _fake_samples,
        _read_fixture_blobs,
        _vad_rows,
    )

    got = [
        (r["file_name"], r["seg_id"], r["start_frame"], r["end_frame"],
         r["n_frames"], r["seg_sum_sq"])
        for r in registry.get("multimodal_audio_vad").fn(spark, ORACLE_SF_DIR).collect()
    ]
    expect = []
    for name, blob in _read_fixture_blobs(ORACLE_SF_DIR):
        expect.extend(_vad_rows(name, _fake_samples(blob)))
    assert sorted(got) == sorted(expect)
    assert got, "threshold produced no segments on the fixtures"
    by_file = {}
    for r in sorted(got):
        by_file.setdefault(r[0], []).append(r)
    for segs in by_file.values():
        for a, b in zip(segs, segs[1:]):
            assert b[2] > a[3] + 1  # a silent gap separates segments
        for s in segs:
            assert s[3] - s[2] + 1 == s[4]
