"""Streaming operators with batch-parity oracles (SURVEY.md section 2 B9).

Each query REALLY streams (file source, Trigger.AvailableNow, memory sink)
and is checked against the equivalent batch SQL in DuckDB — mirroring how
the reference equated cron-rerun with continuity (README.md:106-119).

Scale/state notes: tumbling/sliding aggs keep one state row per (window,
key); session windows merge state per user; watermarks bound ALL of it —
without them state grows forever on a real stream. Complete mode is used
only where the full result is the contract (dashboard-style aggs);
update/append elsewhere.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import register
from ..session import scoped_conf
from .core import events_stream, run_available_now, run_stream


@register(
    "stream_tumbling_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows over the event stream (epoch-aligned, same
    grid as date_trunc). Complete mode: every window is in the sink."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, "complete")


@register(
    "stream_sliding_agg",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '15 minutes', ts) - to_minutes(15 * k),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    GROUP BY 1
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 15 minutes: each event lands in exactly
    4 windows (the oracle expands them with a k=0..3 cross join)."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, "complete")


@register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL '30 minutes',
                    '%Y-%m-%d %H:%M:%S.%f')          AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute gap). The batch oracle is the
    classic gap-islands rewrite; Spark's session_window end = last event +
    gap, which the oracle reproduces. Complete mode (update is unsupported
    for session windows): the sink holds every merged session."""
    sdf = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        sdf.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )
    return run_available_now(agg, "complete")


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming dedup on (user_id, event_type) within the
    watermark (the checkpointed upgrade of the reference's at-least-once
    cron + dedup-probe idempotency, A16/A17). Key-only output keeps the
    kept-row choice deterministic."""
    sdf = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = sdf.select("user_id", "event_type", "ts").dropDuplicates(
        ["user_id", "event_type"]
    ).select("user_id", "event_type")
    return run_available_now(deduped, "append")


_STATE_SCHEMA = "n_events bigint, sum_value double, n_purchases bigint"
_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, sum_value double, n_purchases bigint"
)


def _user_counters(key, pdfs, state: GroupState):
    """applyInPandasWithState update function: running per-user counters.
    State = (n_events, sum_value, n_purchases); emits current totals each
    batch (single batch here => final totals)."""
    n, s, p = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        p += int((pdf["event_type"] == "purchase").sum())
    state.update((n, s, p))
    yield pd.DataFrame(
        [{"user_id": key[0], "n_events": n, "sum_value": s, "n_purchases": p}]
    )


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via applyInPandasWithState (custom
    per-user counters the built-in aggs can't express in one operator).
    Arrow-batched; state is a fixed-width tuple per user — bounded."""
    sdf = events_stream(spark, sf_dir)
    counters = sdf.groupBy("user_id").applyInPandasWithState(
        _user_counters,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    final = run_available_now(counters, "update")
    return final.select(
        "user_id",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "n_purchases",
    )


@register(
    "stream_watermark_late",
    # Closed-form watermark semantics (same derivation as
    # stream_append_mode's oracle): the staged late file arrives after the
    # filter watermark has passed 2024-01-06, so ALL pre-cutoff rows are
    # dropped; append mode then emits exactly the hourly windows over the
    # surviving rows whose end <= max(surviving ts) - 10min (AvailableNow's
    # closing no-data batch flushes state up to the final watermark).
    oracle="""
    WITH ev AS (
      SELECT ts FROM events WHERE ts >= TIMESTAMP '2024-01-06 00:00:00'
    ),
    mx AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM ev),
    w AS (
      SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n_events
      FROM ev GROUP BY date_trunc('hour', ts)
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, n_events
    FROM w, mx
    WHERE ws + INTERVAL 1 HOUR <= wm
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data drop, made observable: the events table is
    restaged as THREE files (recent data split in two, stragglers last)
    and consumed one file per micro-batch. Spark's late-event filter uses
    a watermark that lags the eviction watermark by one batch (so data
    arriving in the same batch that advances the watermark isn't
    over-dropped) — hence the split: after batch 0 the eviction watermark
    reaches max(first recent half) - 10min, batch 1 promotes it to the
    late-event filter, and batch 2's pre-cutoff stragglers are finally
    DROPPED from the tumbling aggregation. Append mode emits only
    watermark-finalized windows. The oracle encodes the closed form of
    these semantics (all pre-cutoff rows dropped, windows finalized up to
    max(ts)-10min); tests/test_streaming.py additionally pins the drop
    behavior batch by batch."""
    import os
    import tempfile

    from ..catalog import load

    batch = load(spark, sf_dir).events  # ns->us normalized timestamps
    cutoff = "2024-01-06 00:00:00"
    mid = "2024-01-18 00:00:00"
    # staging key includes the source file's identity so regenerated
    # fixtures can never pair with stale staging
    src = os.path.join(sf_dir, "events.parquet")
    # nanosecond mtime: a regenerated fixture of identical size within
    # the same second must NOT reuse stale staging (ADVICE r4)
    ident = f"{os.stat(src).st_mtime_ns}_{os.path.getsize(src)}"
    stage = os.path.join(
        tempfile.gettempdir(),
        f"dip_stream_late3_{os.path.basename(sf_dir)}_{ident}",
    )
    recent_dir = os.path.join(stage, "in")
    if not os.path.exists(os.path.join(stage, "_STAGED")):
        parts = [
            ("recent_a", (F.col("ts") >= cutoff) & (F.col("ts") < mid)),
            ("recent_b", F.col("ts") >= mid),
            ("late", F.col("ts") < cutoff),
        ]
        for sub, cond in parts:
            batch.where(cond).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(stage, sub)
            )
        os.makedirs(recent_dir, exist_ok=True)
        # file source orders by modification time: stage in replay order
        import glob
        import shutil

        for i, (sub, _) in enumerate(parts):
            for f in glob.glob(os.path.join(stage, sub, "*.parquet")):
                dst = os.path.join(recent_dir, f"{i}_{sub}.parquet")
                shutil.copy(f, dst)
                mtime = 1_000_000 * (i + 1)
                os.utime(dst, (mtime, mtime))
        open(os.path.join(stage, "_STAGED"), "w").close()
    sdf = (
        spark.readStream.schema(spark.read.parquet(recent_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(recent_dir)
    )
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )
    return run_available_now(agg, "append")


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases matched to same-user clicks in
    the preceding 10 minutes. Both sides are watermarked and the join
    carries an event-time range, so state for either side is dropped once
    the watermark passes its window — bounded memory on an unbounded
    stream (without the time bound, stream-stream join state grows
    forever). Batch-parity oracle: the identical interval join in SQL."""
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id")
    return run_available_now(joined, "append")


@register(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sink pattern: foreachBatch writes each micro-batch
    to a partitioned parquet sink keyed by batch id (idempotent on
    retry — a re-run of batch N overwrites exactly partition N, which is
    how exactly-once file sinks are built from at-least-once callbacks).
    The returned DataFrame re-scans the sink and aggregates; parity with
    the batch oracle proves no rows were lost or duplicated."""
    import os
    import shutil
    import tempfile
    import uuid

    sink = os.path.join(tempfile.gettempdir(), f"dip_fb_sink_{uuid.uuid4().hex[:8]}")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(sink)
        )

    sdf = events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    run_stream(sdf, sink=write_batch, checkpoint=sink + "_ckpt")
    shutil.rmtree(sink + "_ckpt", ignore_errors=True)
    back = spark.read.parquet(sink)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "stream_file_ingest_clean",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def stream_file_ingest_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming ingest with source cleanup (SURVEY.md B9
    last row; the reference's staging cleanup A20 child.py:151-158 /
    child.py:223-232): files land in an inbox, the stream consumes them
    with Trigger.AvailableNow (the checkpointed cron-rerun), and
    cleanSource=delete removes committed files so the inbox never grows.
    Cleanup is asynchronous post-commit — the COUNTS are the correctness
    contract (batch parity via the oracle); deletion is best-effort by
    design (Spark logs and moves on if a file is already gone)."""
    import os
    import shutil
    import tempfile
    import uuid

    from ..catalog import normalize_event_ts, table_schema

    run = os.path.join(tempfile.gettempdir(), f"dip_ingest_clean_{uuid.uuid4().hex[:8]}")
    inbox = os.path.join(run, "inbox")
    os.makedirs(inbox, exist_ok=True)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(inbox, "drop0.parquet"))
    schema = table_schema(spark, sf_dir, "events")
    sdf = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("cleanSource", "delete")
        .parquet(inbox)
    )
    counts = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = "mem_clean_" + uuid.uuid4().hex[:8]
    run_stream(counts, "complete", name=name, checkpoint=os.path.join(run, "ckpt"))
    return spark.table(name)


@register(
    "stream_rollup_upsert",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bhour,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY bhour, event_type
    """,
)
def stream_rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate MAINTENANCE (the hypertable rollup kept fresh
    by the stream): events arrive as three separate file drops consumed
    one per micro-batch (maxFilesPerTrigger=1), and foreachBatch upserts
    each batch's per-(hour, type) partials into a versioned state table —
    read previous state, union partials, re-aggregate, write state_v{N}.
    Partials are DECIMAL so the merge is exactly associative: three
    incremental upserts == one global aggregate, which is precisely what
    the batch oracle checks. At 100 TB the state write becomes a Delta
    MERGE / dynamic-partition overwrite of only the touched hours; the
    read-union-reaggregate-swap shown here is the format-agnostic core."""
    import os
    import shutil
    import tempfile
    import uuid

    from ..catalog import normalize_event_ts, table_schema

    run = os.path.join(tempfile.gettempdir(), f"dip_rollup_{uuid.uuid4().hex[:8]}")
    inbox = os.path.join(run, "inbox")
    os.makedirs(inbox, exist_ok=True)
    ev = spark.read.schema(table_schema(spark, sf_dir, "events")).parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    for i in range(3):
        slice_dir = os.path.join(run, f"slice{i}")
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.parquet(slice_dir)
        part = next(
            f for f in os.listdir(slice_dir) if f.endswith(".parquet")
        )
        shutil.move(
            os.path.join(slice_dir, part), os.path.join(inbox, f"drop{i}.parquet")
        )
    state = {"dir": None}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("bhour", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
        )
        if state["dir"] is not None:
            prev = batch_df.sparkSession.read.parquet(state["dir"])
            partial = (
                prev.unionByName(partial)
                .groupBy("bhour", "event_type")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("sum_value").alias("sum_value"),
                )
            )
        new_dir = os.path.join(run, f"state_v{batch_id}")
        partial.write.mode("overwrite").parquet(new_dir)
        state["dir"] = new_dir

    schema = ev.schema
    sdf = normalize_event_ts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inbox)
    ).select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "bhour"
        ),
        "event_type",
        "value",
    )
    run_stream(sdf, sink=upsert, checkpoint=os.path.join(run, "ckpt"))
    final = spark.read.parquet(state["dir"]).select(
        "bhour",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )
    shutil.rmtree(os.path.join(run, "ckpt"), ignore_errors=True)
    return final


@register(
    "stream_append_mode",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS whour,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
            <= (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTES
    GROUP BY date_trunc('hour', ts)
    """,
)
def stream_append_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked aggregation: a window row is emitted
    exactly once, only after the watermark passes its end — the semantic
    that makes streaming aggregates safe to append to immutable sinks
    (files, Kafka), vs update/complete's in-place rewrites used by the
    other stream_* ops.

    Events are staged as three TIME-ORDERED drops (split at 2024-01-06 /
    2024-01-11), one per micro-batch, so the watermark ratchets up
    monotonically and windows emit incrementally across batches. After
    the last drop, AvailableNow runs a closing no-data micro-batch
    (noDataMicroBatches, on by default) that flushes everything the
    FINAL watermark finalized — so the emitted set is every hourly
    window whose end <= max(ts) - 10 min, exactly what the batch oracle
    selects. Only the windows inside the final 10-minute lateness
    allowance stay in state (they would surface on the next AvailableNow
    run from the checkpoint — the cron-rerun upgrade of
    README.md:106-119)."""
    import os
    import shutil
    import tempfile
    import uuid

    from ..catalog import table

    run = os.path.join(tempfile.gettempdir(), f"dip_append_{uuid.uuid4().hex[:8]}")
    inbox = os.path.join(run, "inbox")
    os.makedirs(inbox, exist_ok=True)
    evn = table(spark, sf_dir, "events")
    cuts = ["2024-01-06 00:00:00", "2024-01-11 00:00:00"]
    slices = [
        evn.where(F.col("ts") < cuts[0]),
        evn.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        evn.where(F.col("ts") >= cuts[1]),
    ]
    for i, sl in enumerate(slices):
        slice_dir = os.path.join(run, f"slice{i}")
        sl.coalesce(1).write.parquet(slice_dir)
        part = next(f for f in os.listdir(slice_dir) if f.endswith(".parquet"))
        shutil.move(
            os.path.join(slice_dir, part), os.path.join(inbox, f"drop{i}.parquet")
        )
    schema = spark.read.parquet(inbox).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("whour"),
            "n",
        )
    )
    return run_available_now(sdf, "append")


@register(
    "stream_checkpoint_resume",
    # Two-run closed form: run 1 sees only pre-2024-01-11 drops, so it
    # emits windows finalized by wm1 = max(early ts) - 10min; run 2 (same
    # checkpoint, same sink) ingests the last drop and flushes the rest up
    # to wm2 = max(all ts) - 10min. emitted_in_run is therefore a pure
    # function of the window end vs the two watermarks.
    oracle="""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n
      FROM events GROUP BY date_trunc('hour', ts)
    ),
    mx1 AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events
            WHERE ts < TIMESTAMP '2024-01-11 00:00:00'),
    mx2 AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS whour,
           CAST(n AS BIGINT) AS n,
           CASE WHEN ws + INTERVAL 1 HOUR <= (SELECT wm FROM mx1)
                THEN 1 ELSE 2 END AS emitted_in_run
    FROM w
    WHERE ws + INTERVAL 1 HOUR <= (SELECT wm FROM mx2)
    """,
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume across TWO AvailableNow runs — the cron-rerun
    continuity upgrade of the reference's scheduler model (README.md:
    106-119): run 1 ingests the early drops and appends the windows its
    final watermark finalized; the 10-minute-lateness tail stays in
    CHECKPOINTED state. Run 2 — a brand-new query object over the same
    checkpoint and file sink — ingests only the unseen drop (the source
    log remembers processed files), resumes the watermark from state, and
    appends exactly the held-back windows once. No overlap, no gap, no
    recomputation: the two sink snapshots partition the append-mode
    output, which `emitted_in_run` makes observable and the oracle pins
    in closed form."""
    import os
    import shutil
    import tempfile
    import uuid

    from ..catalog import table

    run = os.path.join(tempfile.gettempdir(), f"dip_resume_{uuid.uuid4().hex[:8]}")
    inbox = os.path.join(run, "inbox")
    sink = os.path.join(run, "sink")
    ckpt = os.path.join(run, "ckpt")
    os.makedirs(inbox, exist_ok=True)
    evn = table(spark, sf_dir, "events")
    cut = "2024-01-11 00:00:00"
    slices = [
        evn.where(F.col("ts") < "2024-01-06 00:00:00"),
        evn.where((F.col("ts") >= "2024-01-06 00:00:00") & (F.col("ts") < cut)),
        evn.where(F.col("ts") >= cut),
    ]
    staged = []
    for i, sl in enumerate(slices):
        slice_dir = os.path.join(run, f"slice{i}")
        sl.coalesce(1).write.parquet(slice_dir)
        part = next(f for f in os.listdir(slice_dir) if f.endswith(".parquet"))
        staged.append((os.path.join(slice_dir, part), f"drop{i}.parquet"))

    schema = evn.schema

    def one_run() -> None:
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inbox)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "whour"
                ),
                "n",
            )
        )
        run_stream(sdf, sink="parquet", path=sink, checkpoint=ckpt)

    # run 1: early drops only -> tail windows held back in state
    for src, dst in staged[:2]:
        shutil.move(src, os.path.join(inbox, dst))
    one_run()
    first = (
        spark.read.parquet(sink)
        .select("whour")
        .distinct()
        .withColumn("emitted_in_run", F.lit(1))
    )
    first_rows = first.collect()  # snapshot BEFORE run 2 appends
    # run 2: the remaining drop, same checkpoint + sink
    shutil.move(staged[2][0], os.path.join(inbox, staged[2][1]))
    one_run()
    first_df = spark.createDataFrame(first_rows, "whour string, emitted_in_run int")
    return (
        spark.read.parquet(sink)
        .join(first_df, "whour", "left")
        .select(
            "whour",
            "n",
            F.coalesce("emitted_in_run", F.lit(2)).alias("emitted_in_run"),
        )
    )


#: Provider conf of the two RocksDB-state stream queries.
_ROCKSDB_PROVIDER = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


@register(
    "stream_stateful_rocksdb",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stateful executed on the RocksDB state-store provider
    (session.enable_rocksdb_state_store's runtime-settable half): state
    spills to local disk with changelog checkpointing instead of living
    in executor heap — the 100 TB configuration, where a watermarked
    dedup/session state holds hundreds of millions of keys per executor.
    Same oracle as stream_stateful: the provider swap must be invisible
    to results. The conf is restored afterward so sibling stream queries
    keep the default provider."""
    with scoped_conf(spark, _ROCKSDB_PROVIDER):
        sdf = events_stream(spark, sf_dir)
        counters = sdf.groupBy("user_id").applyInPandasWithState(
            _user_counters,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        final = run_available_now(counters, "update")
    return final.select(
        "user_id",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "n_purchases",
    )


@register(
    "stream_static_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS lifetime_events,
             ROUND(SUM(value), 2) AS lifetime_value
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type,
           d.lifetime_events, d.lifetime_value
    FROM events e JOIN dim d USING (user_id)
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the third join regime next to
    stream_stream_join (both sides moving) and batch joins (neither):
    each micro-batch joins against a STATIC dimension snapshot, no
    watermark or join state needed because the static side is re-read
    per batch (Spark re-plans it each micro-batch — which is also why a
    slowly-changing dim picks up updates between batches). The standard
    enrichment topology: events stream x per-user profile table. The
    dim here is itself derived from the batch events table, so the
    oracle is closed-form SQL."""
    from ..catalog import load

    dim = (
        load(spark, sf_dir)
        .events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("lifetime_events"),
            F.round(F.sum("value"), 2).alias("lifetime_value"),
        )
    )
    sdf = events_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    joined = sdf.join(dim, "user_id").select(
        "event_id", "user_id", "event_type", "lifetime_events", "lifetime_value"
    )
    return run_available_now(joined, "append")


class _ProfileProcessor:
    """StatefulProcessor for stream_transform_with_state: per-user profile
    built from TWO typed state handles — a ValueState (fixed-width
    counters) and a MapState keyed by event_type (open-ended distinct-type
    tracking, the part applyInPandasWithState's single state tuple cannot
    model without serializing a growing collection into one value).
    Defined as a plain class and registered lazily: StatefulProcessor is
    imported inside stream_transform_with_state so module import stays
    Spark-3-safe."""

    def init(self, handle) -> None:
        self._counters = handle.getValueState(
            "counters", "n_events bigint, max_value double"
        )
        self._types = handle.getMapState(
            "types", "event_type string", "n bigint"
        )

    def handleInputRows(self, key, rows, timer_values):
        n, mx = (
            self._counters.get() if self._counters.exists() else (0, float("-inf"))
        )
        for pdf in rows:
            n += len(pdf)
            mx = max(mx, float(pdf["value"].max()))
            for etype, cnt in pdf["event_type"].value_counts().items():
                prev = (
                    self._types.getValue((etype,))[0]
                    if self._types.containsKey((etype,))
                    else 0
                )
                self._types.updateValue((etype,), (prev + int(cnt),))
        self._counters.update((n, mx))
        n_types = sum(1 for _ in self._types.keys())
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_events": n,
                    "n_types": n_types,
                    "max_value": mx,
                }
            ]
        )

    def close(self) -> None:
        pass


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via Spark 4's transformWithState API
    (SPARK-49770) — the successor surface to applyInPandasWithState used
    by stream_stateful: a StatefulProcessor object with init/close
    lifecycle and MULTIPLE typed state handles per key (ValueState +
    MapState here; ListState and timers also exist), instead of one
    state tuple threaded through a function. State lives in RocksDB
    (the API requires the RocksDB provider — also the 100 TB
    configuration; conf restored after the run like
    stream_stateful_rocksdb). Batch parity: per-user event count,
    distinct event-type count (MapState keys), and max value.

    Registered via a FEATURE PROBE (module bottom): the
    transformWithState state server speaks protobuf between the JVM and
    the Python worker, and `google.protobuf` is absent from this
    environment (no pip installs), so the stream would fail at worker
    init — the same env-constraint class as pycurl (CurlFetcher) and the
    multimodal codecs. On an environment where the probe finds protobuf
    + the Spark-4 StatefulProcessor API, the query self-registers with
    the batch-parity oracle below; here the guard raises a clear
    NotImplementedError and the name stays out of the registry.
    tests/test_streaming.py exercises whichever side the env provides,
    and the registered stream_stateful / stream_stateful_rocksdb pair
    covers the same semantics on the applyInPandasWithState surface with
    a full oracle (identical expected output shape: COUNT(*),
    COUNT(DISTINCT event_type), ROUND(MAX(value),2) per user)."""
    # single source of truth with the registration probe at module
    # bottom: the registry gate and this runtime guard can never
    # disagree on what "available" means
    if not _transform_with_state_available():
        raise NotImplementedError(
            "transformWithState requires Spark 4's StatefulProcessor API "
            "and google.protobuf in the worker environment (state-server "
            "protocol); not available here"
        )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # subclass created here so importing this module never requires the
    # Spark-4-only base class
    proc = type(
        "ProfileProcessor", (_ProfileProcessor, StatefulProcessor), {}
    )()
    with scoped_conf(spark, _ROCKSDB_PROVIDER):
        sdf = events_stream(spark, sf_dir)
        profiles = sdf.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=(
                "user_id bigint, n_events bigint, n_types bigint, "
                "max_value double"
            ),
            outputMode="Update",
            timeMode="None",
        )
        final = run_available_now(profiles, "update")
    return final.select(
        "user_id",
        "n_events",
        "n_types",
        F.round("max_value", 2).alias("max_value"),
    )


@register(
    "stream_outer_join_watermark",
    oracle="""
    WITH mx AS (
      SELECT LEAST(
        (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT MAX(ts) FROM events WHERE event_type = 'click')) AS m
    ),
    p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
          FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, p.user_id,
           strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS p_ts_s,
           c.click_id,
           c.click_id IS NOT NULL AS matched
    FROM p
    LEFT JOIN c ON p.user_id = c.c_user
      AND c.c_ts >= p.p_ts - INTERVAL '10 minutes' AND c.c_ts <= p.p_ts
    CROSS JOIN mx
    WHERE p.p_ts <= mx.m - INTERVAL '11 minutes'
    """,
)
def stream_outer_join_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join with watermark-driven null emission:
    purchases joined to same-user clicks in the preceding 10 minutes;
    a purchase with NO click in its window is emitted null-extended only
    once the watermark proves no future click can match — the semantics
    that make funnel drop-off computable on an unbounded stream.

    The stream is staged as three files consumed one per micro-batch
    (the stream_watermark_late pattern) so the watermark actually
    advances across batches and state eviction/null emission happen the
    way they would in production, not as an end-of-stream artifact;
    Trigger.AvailableNow then flushes the final watermark's remaining
    state (measured: every unmatched purchase outside the last watermark
    window emits).

    Both the streamed result and the batch oracle are restricted to the
    FINALIZED region p_ts <= min(max purchase ts, max click ts) - 11 min.
    Why that bound: each withWatermark node tracks the max event time of
    the rows that flow THROUGH it (post-filter), and the query's global
    watermark is the MIN over nodes — measured here: the final flush
    evicts left state up to min(max_click, max_purchase) - 10 min, so
    the last trailing purchase (beyond the purchase-side max - 10 min)
    stays in state forever on this finite stream. Rows inside the region
    are provably past eviction; the 1-minute guard keeps millisecond
    watermark truncation off the contract boundary. State note: each
    side's state is bounded by (watermark delay + join window) of data
    per user — without the time bound in the join condition, left-outer
    join state never evicts."""
    import glob
    import os
    import shutil
    import tempfile

    from ..catalog import load

    batch = load(spark, sf_dir).events
    t1, t2 = "2024-01-12 00:00:00", "2024-01-25 00:00:00"
    src = os.path.join(sf_dir, "events.parquet")
    # nanosecond mtime: a regenerated fixture of identical size within
    # the same second must NOT reuse stale staging (ADVICE r4)
    ident = f"{os.stat(src).st_mtime_ns}_{os.path.getsize(src)}"
    stage = os.path.join(
        tempfile.gettempdir(),
        f"dip_stream_loj3_{os.path.basename(sf_dir.rstrip('/'))}_{ident}",
    )
    in_dir = os.path.join(stage, "in")
    if not os.path.exists(os.path.join(stage, "_STAGED")):
        parts = [
            ("a", F.col("ts") < t1),
            ("b", (F.col("ts") >= t1) & (F.col("ts") < t2)),
            ("c", F.col("ts") >= t2),
        ]
        for i, (sub, cond) in enumerate(parts):
            batch.where(cond).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(stage, sub)
            )
        os.makedirs(in_dir, exist_ok=True)
        for i, (sub, _) in enumerate(parts):
            for f in glob.glob(os.path.join(stage, sub, "*.parquet")):
                dst = os.path.join(in_dir, f"{i}_{sub}.parquet")
                shutil.copy(f, dst)
                mtime = 1_000_000 * (i + 1)
                os.utime(dst, (mtime, mtime))
        open(os.path.join(stage, "_STAGED"), "w").close()

    from ..catalog import normalize_event_ts

    sdf = normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    clicks = (
        sdf.where(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        sdf.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    )
    out = run_available_now(
        joined.select("purchase_id", "user_id", "p_ts", "click_id"), "append"
    )
    mx = batch.groupBy().agg(
        F.least(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        ).alias("m")
    )
    return (
        out.crossJoin(F.broadcast(mx))
        .where(F.col("p_ts") <= F.col("m") - F.expr("INTERVAL 11 MINUTES"))
        .select(
            "purchase_id",
            "user_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("p_ts_s"),
            "click_id",
            F.col("click_id").isNotNull().alias("matched"),
        )
    )


@register(
    "stream_session_dynamic_gap",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_type,
             CASE WHEN event_type = 'purchase'
                  THEN INTERVAL '60 minutes' ELSE INTERVAL '15 minutes'
             END AS gap
      FROM events
    ),
    ends AS (SELECT *, ts + gap AS w_end FROM g),
    flagged AS (
      SELECT *, CASE WHEN prev_end IS NULL OR ts > prev_end
                     THEN 1 ELSE 0 END AS new_session
      FROM (
        SELECT *, MAX(w_end) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_end
        FROM ends
      )
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f')    AS session_start,
           strftime(MAX(w_end), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC, per-event gap (Spark 3.2+
    session_window with a Column gap): purchases hold the session open
    for 60 minutes, everything else for 15 — the 'a conversion extends
    engagement' semantics product analytics actually wants, impossible
    with a fixed gap. Each event contributes [ts, ts+gap(event)); the
    state store merges overlapping windows per user, so session end =
    MAX(ts + gap) over the merged events.

    Batch-parity oracle: the gap-islands rewrite generalized to variable
    gaps — a session break is ts > running MAX of all previous events'
    window ends (a plain lag(ts) diff is WRONG here: an old long-gap
    purchase can bridge over a short-gap event). Complete mode; state
    per user bounded by the watermark as in stream_session_window."""
    sdf = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    # string durations (not INTERVAL literals): session_window's dynamic
    # gap requires CalendarIntervalType, which string gaps parse to
    gap = F.when(F.col("event_type") == "purchase", "60 minutes").otherwise(
        "15 minutes"
    )
    agg = (
        sdf.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_purchases"
            ),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
            "n_purchases",
        )
    )
    return run_available_now(agg, "complete")


def _transform_with_state_available() -> bool:
    """Feature probe for the transformWithState surface: the Spark-4
    StatefulProcessor API plus google.protobuf in the worker environment
    (the JVM<->Python state-server protocol). See the
    stream_transform_with_state docstring for why this is env-gated."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
    except ImportError:
        return False
    return True


if _transform_with_state_available():  # pragma: no cover - env-dependent
    register(
        "stream_transform_with_state",
        oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
               ROUND(MAX(value), 2) AS max_value
        FROM events
        GROUP BY user_id
        """,
    )(stream_transform_with_state)


from ..llm.textstats import _STOP_SQL as _QG_STOP_SQL  # noqa: E402

_QUALITY_GATE_ORACLE = f"""
    WITH scored AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_tok,
             floor((
               0.4 * least(len(string_split(text, ' ')) / 200.0, 1.0)
             + 0.3 * (len(list_filter(string_split(text, ' '),
                                      w -> w IN ({_QG_STOP_SQL})))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE))
             + 0.3 * (len(list_distinct(string_split(text, ' ')))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)))
               * 10000) / 10000 >= 0.28
             AND length(text) BETWEEN 100 AND 2000 AS kept
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM scored GROUP BY source
"""


@register("stream_quality_gate", oracle=_QUALITY_GATE_ORACLE)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation quality gate AS A STREAM: documents land in an
    inbox, each micro-batch scores them with the corpus_quality_filter
    expressions (heuristic quality >= 0.28 AND length in [100, 2000])
    and the sink accumulates per-source keep/drop counts + surviving
    tokens — the continuous-ingest form of the batch gate, which is how
    a crawl pipeline actually runs it (score-at-ingest, not
    score-the-lake). Batch parity: the oracle is the SAME filter run as
    one batch SQL, so the micro-batch boundary provably does not change
    a single verdict (the per-row predicate is stateless — the easy,
    and therefore safe, thing to stream).

    Scale/state: the aggregate keeps one state row per source (bounded
    by the source domain); the predicate itself needs no state at all.
    Complete mode because the per-source totals ARE the contract."""
    import os
    import shutil
    import tempfile
    import uuid

    from ..catalog import table_schema

    run = os.path.join(
        tempfile.gettempdir(), f"dip_quality_gate_{uuid.uuid4().hex[:8]}"
    )
    inbox = os.path.join(run, "inbox")
    os.makedirs(inbox, exist_ok=True)
    src = os.path.join(sf_dir, "documents.parquet")
    dst = os.path.join(inbox, "drop0.parquet")
    # testdata ships single parquet FILES; probe fixtures are
    # Spark-written DIRECTORIES — stage either shape into the inbox
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy(src, dst)
    schema = table_schema(spark, sf_dir, "documents")
    sdf = spark.readStream.schema(schema).parquet(inbox)

    from ..llm.textstats import STOPWORDS

    words = F.split("text", " ")
    n_words = F.size(words).cast("double")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    n_distinct = F.size(F.array_distinct(words))
    raw = (
        0.4 * F.least(F.size(words) / F.lit(200.0), F.lit(1.0))
        + 0.3 * (n_stop / n_words)
        + 0.3 * (n_distinct / n_words)
    )
    quality = F.floor(raw * 10000) / 10000
    kept = (
        (quality >= 0.28)
        & (F.length("text") >= 100)
        & (F.length("text") <= 2000)
    )
    scored = sdf.select(
        "source",
        F.size(words).alias("n_tok"),
        kept.alias("kept"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("kept").cast("long")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )
    name = "mem_qgate_" + uuid.uuid4().hex[:8]
    run_stream(agg, "complete", name=name, checkpoint=os.path.join(run, "ckpt"))
    shutil.rmtree(run, ignore_errors=True)
    return spark.table(name)


@register(
    "stream_hourly_active_users",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
    FROM events GROUP BY 1
    """,
)
def stream_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly ACTIVE USERS as a stream — the realtime DAU-style tile.
    Streaming COUNT(DISTINCT) is unsupported outright, and the exact
    rewrite IS the lesson: dropDuplicates on (hour, user) — one state
    row per pair, expired by the watermark — CHAINED into a plain
    per-hour count (two stateful operators in one query, the Spark 3.4+
    multi-stateful pipeline). approx_count_distinct is the sketch
    alternative when +-2% is acceptable; this operator keeps the exact
    semantics so the batch-parity oracle can hold bit-for-bit.

    Scale/state: dedup state = (hour, user) pairs inside the watermark
    horizon; the downstream count collapses them per hour. Append mode
    out of the dedup, update-style final counts via the complete sink."""
    sdf = events_stream(spark, sf_dir)
    hours = (
        sdf.withWatermark("ts", "2 hours")
        .select(F.date_trunc("hour", "ts").alias("hour"), "user_id", "ts")
        .dropDuplicates(["hour", "user_id"])
    )
    agg = (
        hours.groupBy("hour")
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_users"))
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "active_users",
        )
    )
    return run_available_now(agg, "complete")


#: Leaderboard depth for the windowed top-k stream.
STREAM_TOPK = 3


@register(
    "stream_topk_per_window",
    oracle=f"""
    SELECT window_start, event_type, n_events, rk FROM (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type, COUNT(*) AS n_events,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY COUNT(*) DESC, event_type) AS rk
      FROM events GROUP BY date_trunc('hour', ts), event_type
    ) WHERE rk <= {STREAM_TOPK}
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly top-{STREAM_TOPK} event types by count, as a stream — the
    realtime leaderboard tile. Window functions are unsupported inside
    a streaming query, and the split IS the lesson: the STREAM holds
    only the per-(window, type) counts (stateful agg, complete mode —
    bounded state: hours x types), and the RANK runs batch-side on the
    sink table at read time, exactly where a dashboard would compute
    it. Ties break by event_type so the leaderboard is stable
    run-to-run.

    Scale/state: state rows = (hour x event_type) — domain-bounded, not
    event-bounded; the rank's window sorts the same bounded frame."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )
    from pyspark.sql.window import Window

    sunk = run_available_now(agg, "complete")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return sunk.select(
        "window_start",
        "event_type",
        "n_events",
        F.row_number().over(w).alias("rk"),
    ).where(F.col("rk") <= STREAM_TOPK)


#: Error bound the streaming HLL active-user count must hold against
#: the exact batch count: 10% relative (double the default 5% rsd) OR
#: an absolute slack of {abs} on tiny windows — at cardinality ~11 a
#: perfectly in-spec sketch misses by 2-3 absolute, which is 20%+
#: relative; the floor keeps the gate about real breakage.
STREAM_HLL_BOUND = 0.10
STREAM_HLL_ABS_SLACK = 5


@register(
    "stream_hll_active_users_bound",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY 1
    """,
)
def stream_hll_active_users_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly active users via a STREAMING HLL sketch, gated by a
    contract against the exact count — the sketch alternative
    stream_hourly_active_users' docstring promises: where the exact op
    holds one state row per (hour, user), approx_count_distinct keeps
    ONE bounded sketch per hour (state is O(windows), not O(users) —
    the 100 TB shape when +-5% is acceptable). The oracle-checked
    output carries the exact count and the bound VERDICT, not the raw
    sketch value (HLL implementations differ across engines by design;
    the contract is what's portable — agg_approx_distinct_bound's
    doctrine).

    rsd=0.01 (not the 0.05 default) makes the +-10% gate a >=10-sigma
    event per window: the r10 full-registry sf0.1 sweep caught the
    default's 2-sigma gate failing 2 of 720 hourly windows — a
    STATISTICAL certainty at that window count, invisible at sf0.01's
    smaller grid. agg_approx_distinct_bound's 5-sigma margin over 2
    values was already safe; a per-window contract over hundreds of
    windows needs the wider margin (and at these per-hour
    cardinalities HLL++ with p~16 stays in its near-exact sparse
    regime anyway).

    Scale/state: one HLL sketch per hour window, merged map-side
    (register-max is order-independent, so the micro-batch merge is
    deterministic); the batch side recomputes the exact count at read
    time to price the sketch's error."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", 0.01).cast("bigint").alias(
                "approx_users"
            )
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "approx_users",
        )
    )
    sunk = run_available_now(agg, "complete")
    from ..catalog import load

    ev = load(spark, sf_dir).events
    exact = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        )
    ).agg(F.countDistinct("user_id").cast("bigint").alias("exact_users"))
    return exact.join(sunk, "window_start", "left").select(
        "window_start",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(
                STREAM_HLL_BOUND * F.col("exact_users"),
                F.lit(STREAM_HLL_ABS_SLACK),
            )
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# r13: streaming near-duplicate detection — the banded-MinHash index
# maintained as streaming state (VERDICT r12 item 4).
# ---------------------------------------------------------------------------


def _stream_minhash_oracle(sf_dir: str) -> str | None:
    """Golden-VALUES oracle from the pure-Python pipeline replay
    (dedup.py _replay_band_buckets — the same bit-exact xxhash64 +
    murmur3 band keys the batch dedup_minhash oracle pins): the
    expected collision buckets, keeper and candidate-pair count per
    (band, key)."""
    from ..goldens import values_oracle
    from ..llm.dedup import _replay_band_buckets

    replay = _replay_band_buckets(sf_dir)
    if replay is None:
        return None
    _, buckets = replay
    rows = []
    for (band, key), ids in sorted(buckets.items()):
        if len(ids) < 2:
            continue
        n = len(ids)
        rows.append((band, key, n, min(ids), max(ids), n * (n - 1) // 2))
    return values_oracle(
        rows,
        ["band", "key", "n_docs", "keeper_doc", "max_doc", "candidate_pairs"],
        casts={
            "band": "INTEGER",
            "key": "INTEGER",
            "n_docs": "BIGINT",
            "keeper_doc": "BIGINT",
            "max_doc": "BIGINT",
            "candidate_pairs": "BIGINT",
        },
    )


@register("stream_dedup_minhash", oracle=_stream_minhash_oracle)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection: the banded-MinHash LSH index
    (dedup_minhash's shingle -> 32 xxhash64 minhashes -> 8 band keys,
    the SAME band_keys Column pipeline) maintained as streaming
    aggregation state per (band, key) bucket, emitting the collision
    buckets with their first-writer keeper (min doc_id — the
    deterministic exactly-once analog of stream_dedup's key-only
    contract) and the candidate-pair budget each bucket implies.
    Suppression downstream is one anti-join against keeper_doc, the
    dedup_minhash_incremental shape. This is the streaming half of
    VERDICT r12 item 4: a corpus ingested continuously keeps its LSH
    index hot instead of re-sharding history per batch.

    State/watermark note: state is one row per OBSERVED band bucket —
    bounded by distinct band keys, not documents. The fixture docs
    carry no event time, so this AvailableNow single-batch run needs
    no watermark for correctness (complete-mode agg, exactly-once by
    construction); a production stream bounds the same state with a
    TTL watermark on ingest time exactly as stream_hourly_active_users
    does.

    Scale/determinism: the band shuffle carries (doc_id, band, key)
    ints only (the dedup_minhash discipline — shingle arrays never
    ride the x8 explode); bucket aggregation is combinable min/max/
    count. The oracle is the bit-exact pure-Python replay of the
    whole pipeline (pyhash.py), so even the streaming path is
    value-checked, not rows-only."""
    from ..llm.dedup import band_keys, shingle_array
    from .core import docs_stream

    sdf = docs_stream(spark, sf_dir)
    shingled = sdf.select(
        "doc_id",
        F.array_distinct(
            shingle_array(F.split(F.lower("text"), " "), 3)
        ).alias("shingles"),
    ).where(F.size("shingles") > 0)
    bands = band_keys(shingled)
    agg = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("keeper_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )
    sunk = run_available_now(agg, "complete")
    return sunk.where(F.col("n_docs") >= 2).select(
        "band",
        "key",
        "n_docs",
        "keeper_doc",
        "max_doc",
        (F.col("n_docs") * (F.col("n_docs") - 1) / 2)
        .cast("bigint")
        .alias("candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# r14: checkpoint state introspection — the Spark 4 state data source
# (VERDICT r13 item 5's named exhibit).
# ---------------------------------------------------------------------------


@register(
    "stream_state_reader",
    oracle="""
    SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store introspection (Spark 4 `statestore` data source):
    run a stateful streaming aggregation (per-lang totals over the
    document stream) to a durable checkpoint, then read the
    AGGREGATION STATE back out of the checkpoint as a batch DataFrame
    — key struct, value struct (sum/count partials), partition id —
    and emit the per-lang totals FROM THE STATE, not from the sink.
    This is the operational debugging surface every production stream
    eventually needs ("what is IN my state store?" — skew hunts, state
    bloat audits, corrupted-key forensics) that was impossible before
    the Spark 4 reader; the oracle proves end to end that checkpointed
    state equals the batch answer on the same corpus.

    Scale/determinism: the stream is one AvailableNow pass (file
    source, complete mode); state = one row per lang (bounded by key
    cardinality); the state read is checkpoint-file-local per
    partition, no shuffle until the k-row sort. The checkpoint is
    keyed by the fixture's identity (path digest + mtime) — a
    regenerated fixture can never pair with stale state (the
    scan_partition_pruned staging doctrine) — and by the session's
    applicationId, so each process aggregates the stream once itself
    rather than finding a checkpoint an earlier process left in the
    temp dir (whose AvailableNow run then reads nothing, and whose
    plan shows no state operator). The AvailableNow query ALWAYS runs
    (a no-op when the checkpoint is current):
    skipping it in a fresh session leaves no StateStoreCoordinator
    RPC endpoint on the driver and the state read dies with
    CANNOT_LOAD_STATE_STORE (found the hard way at sf0.1 — the state
    source only works in a session where some streaming query has
    registered the coordinator)."""
    import hashlib
    import os
    import tempfile
    import uuid as _uuid

    from .core import docs_stream

    src = os.path.join(sf_dir, "documents.parquet")
    ident = hashlib.md5(
        f"{os.path.abspath(src)}_{os.stat(src).st_mtime_ns}"
        f"_{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:12]
    ck = os.path.join(
        tempfile.gettempdir(), f"dip_state_reader_ck_{ident}"
    )
    sdf = docs_stream(spark, sf_dir)
    agg = sdf.groupBy("lang").agg(
        F.sum("n_chars").alias("total_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    run_stream(
        agg, "complete", name="mem_state_rdr_" + _uuid.uuid4().hex[:8], checkpoint=ck
    )
    st = spark.read.format("statestore").load(ck)
    return st.select(
        F.col("key.lang").alias("lang"),
        F.col("value.sum").cast("bigint").alias("total_chars"),
        F.col("value.count").cast("bigint").alias("n_docs"),
    ).orderBy("lang")
