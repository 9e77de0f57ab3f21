"""Streaming semantics tests: watermark late-drop behavior (promised by
stream_watermark_late's docstring) and stream/batch parity spot checks.
Cross-engine value parity for the SQL-expressible stream ops lives in
tools/check_oracle.py."""

from __future__ import annotations

import ast
import glob
import inspect
import os

import conftest
import pytest
from pyspark.sql import functions as F

from data_ingestion_poc_spark import registry, session
from data_ingestion_poc_spark.catalog import load
from data_ingestion_poc_spark.streaming import core

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def test_watermark_drops_late_rows(spark, sf_dir):
    """The staged two-micro-batch replay must drop the late (pre-cutoff)
    rows: every emitted window starts at/after the cutoff hour, and the
    total event count is strictly less than the full table's."""
    res = registry.get("stream_watermark_late").fn(spark, sf_dir)
    rows = res.collect()
    assert rows, "watermark query emitted nothing"
    assert all(r["window_start"] >= "2024-01-06 00:00:00" for r in rows), rows[:5]
    total = sum(r["n_events"] for r in rows)
    n_all = load(spark, sf_dir).events.count()
    n_recent = load(spark, sf_dir).events.where(F.col("ts") >= "2024-01-06").count()
    assert total <= n_recent < n_all


def test_stream_tumbling_matches_batch(spark, sf_dir):
    """Stream aggregation (AvailableNow over the same file) must equal the
    batch groupBy — the parity the oracle checks cross-engine, pinned here
    Spark-vs-Spark."""
    streamed = {
        r["window_start"]: (r["n_events"], r["sum_value"])
        for r in registry.get("stream_tumbling_agg").fn(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir).events
    batch = {
        r["window_start"]: (r["n"], r["s"])
        for r in ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert streamed == batch


def test_stream_stream_join_bounded_and_correct(spark, sf_dir):
    """Every joined click must fall in the (p_ts - 10min, p_ts] interval of
    its purchase and share the user — verified row by row against batch."""
    res = registry.get("stream_stream_join").fn(spark, sf_dir)
    got = {(r["purchase_id"], r["click_id"]) for r in res.collect()}
    ev = load(spark, sf_dir).events
    p = ev.where("event_type='purchase'").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    c = ev.where("event_type='click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("cts") <= F.col("pts")),
        ).collect()
    }
    assert got == want
    assert want, "fixture produced no purchase-click pairs"


def test_rocksdb_state_store_toggle():
    """enable_rocksdb_state_store must set the provider + changelog
    checkpointing on the builder (checked via the builder's options, not a
    live session — the shared test session already exists and a second
    getOrCreate would just return it)."""
    from data_ingestion_poc_spark.session import builder, enable_rocksdb_state_store

    b = enable_rocksdb_state_store(builder(app_name="rocksdb-toggle-test"))
    opts = b._options
    assert (
        opts["spark.sql.streaming.stateStore.providerClass"]
        == "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    assert (
        opts["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"]
        == "true"
    )


def test_transform_with_state_guard_or_parity(spark, sf_dir):
    """stream_transform_with_state is env-gated (its state server needs
    google.protobuf, absent here). Without protobuf the guard must raise
    a clear NotImplementedError BEFORE starting a stream; with protobuf
    present the result must match the batch aggregate."""
    import pytest

    from data_ingestion_poc_spark.streaming.batch_parity import (
        stream_transform_with_state,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            stream_transform_with_state(spark, sf_dir)
        return
    got = stream_transform_with_state(spark, sf_dir)
    from data_ingestion_poc_spark.catalog import load
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir).events
    exp = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.max("value"), 2).alias("max_value"),
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_dynamic_gap_purchase_bridges_session(spark, tmp_path):
    """A purchase's 60-min window must bridge a 40-min silence that a
    15-min view gap would break: plant view(t0), purchase(t0+5m),
    view(t0+45m) -> ONE session; without the purchase -> TWO."""
    import datetime

    from data_ingestion_poc_spark import registry

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def write(events, path):
        # single parquet FILE (the driver's testdata layout) — the file
        # stream source does not recurse into Spark-written directories
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = pd.DataFrame(
            events,
            columns=[
                "event_id", "ts", "user_id", "event_type", "value", "props"
            ],
        )
        pdf["props"] = pdf["props"].astype("string")
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(path / "events.parquet"),
        )

    d1 = tmp_path / "with_purchase"
    d1.mkdir()
    write(
        [
            (1, base, 1, "view", 1.0, None),
            (2, base + datetime.timedelta(minutes=5), 1, "purchase", 9.0, None),
            (3, base + datetime.timedelta(minutes=45), 1, "view", 1.0, None),
        ],
        d1,
    )
    out1 = registry.get("stream_session_dynamic_gap").fn(spark, str(d1)).collect()
    assert len(out1) == 1 and out1[0]["n_events"] == 3
    assert out1[0]["n_purchases"] == 1

    d2 = tmp_path / "views_only"
    d2.mkdir()
    write(
        [
            (1, base, 1, "view", 1.0, None),
            (2, base + datetime.timedelta(minutes=5), 1, "view", 1.0, None),
            (3, base + datetime.timedelta(minutes=45), 1, "view", 1.0, None),
        ],
        d2,
    )
    out2 = registry.get("stream_session_dynamic_gap").fn(spark, str(d2)).collect()
    assert len(out2) == 2


def test_stream_state_partitions_follow_the_cores(spark, sf_dir):
    """A new checkpoint's stateful operators run on
    min(shuffle partitions, defaultParallelism) state stores, read from
    the progress finish_stream keeps, and the session's batch knob reads
    its own value again once the streams are done."""
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    start = len(core.STREAM_PROGRESS)
    for name in ("stream_tumbling_agg", "stream_dedup"):
        registry.get(name).fn(spark, sf_dir).collect()
    recorded = core.STREAM_PROGRESS[start:]
    assert len(recorded) == 2
    parts = {
        op["numShufflePartitions"]
        for _name, progress in recorded
        for batch in progress
        for op in batch["stateOperators"]
    }
    assert parts == {min(int(before), spark.sparkContext.defaultParallelism)}
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before


def test_stream_start_error_restores_conf(spark, sf_dir):
    """A start that raises (complete mode without an aggregation is
    rejected by .start()) leaves the session's shuffle partitions as
    they were."""
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    sdf = core.events_stream(spark, sf_dir).select("event_id")
    with pytest.raises(Exception, match="(?i)complete"):
        core.run_available_now(sdf, "complete")
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before


def test_modules_leave_the_suite_shuffle_partitions(spark):
    """A module that wants its own shuffle-partition count scopes it
    (conftest.module_spark) instead of re-asking get_spark for it, so a
    module that runs after the 4-partition ones still reads the suite's
    count."""
    assert spark.conf.get(SHUFFLE_PARTITIONS) == str(conftest.SHUFFLE_PARTITIONS)


def test_scoped_conf_unsets_what_was_unset(spark):
    key = "spark.dip.test.scopedConf"
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    with pytest.raises(RuntimeError):
        with session.scoped_conf(spark, {key: "1", SHUFFLE_PARTITIONS: "3"}):
            assert spark.conf.get(key) == "1"
            assert spark.conf.get(SHUFFLE_PARTITIONS) == "3"
            raise RuntimeError("body failed")
    assert spark.conf.get(key, None) is None
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before


def _attribute_sites(root: str, attr: str, owner: str | None) -> list[tuple[str, int]]:
    """(path, line) of every `<x>.<attr>` in the package under `root`,
    where `<x>` ends in `.<owner>` when `owner` is given."""
    found = []
    for path in glob.glob(
        os.path.join(root, "data_ingestion_poc_spark", "**", "*.py"),
        recursive=True,
    ):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == attr
                and (owner is None or getattr(node.value, "attr", None) == owner)
            ):
                found.append((os.path.relpath(path, root), node.lineno))
    return found


@pytest.mark.parametrize(
    "attr, owner, module, helper_name",
    [
        ("writeStream", None, core, "run_stream"),
        ("unset", "conf", session, "scoped_conf"),
    ],
    ids=["writeStream", "conf.unset"],
)
def test_one_stream_start_and_one_conf_restore(attr, owner, module, helper_name):
    """Regrowth guard: streams start only in streaming.core.run_stream
    (which sizes their state partitions) and runtime confs are unset
    only in session.scoped_conf. Start or scope through those instead
    of writing a copy."""
    helper = getattr(module, helper_name)
    lines, first = inspect.getsourcelines(inspect.unwrap(helper))
    home = os.path.relpath(inspect.getsourcefile(inspect.unwrap(helper)), REPO)
    span = range(first, first + len(lines))
    sites = _attribute_sites(REPO, attr, owner)
    stray = [f"{p}:{n}" for p, n in sites if p != home or n not in span]
    assert stray == [], f"`.{attr}` outside {helper_name}: {stray}"
    assert sites
