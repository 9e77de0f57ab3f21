"""Window functions (SURVEY.md section 2 B5). All extensions (no windows in
the reference; win_topk_per_group k=1 is the 'keep-first' shape of the A16
dedup-rename policy).

Scale notes: a window = one shuffle on partitionBy keys + per-partition
sort. Never use Window.orderBy without partitionBy on big data (single
task); the only such use here is sort_multi_key's position column on a
filtered slice. Running frames are incremental; range frames include peer
rows so no unique-tiebreak is needed there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import register


@register(
    "win_rank",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           rank()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk,
           dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk,
           row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM customer
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank per partition (tie-stable by definition) plus
    row_number over a total order (unique c_custkey tiebreak keeps it
    deterministic)."""
    t = load(spark, sf_dir)
    w_ties = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    w_total = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return t.customer.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.row_number().over(w_total).alias("rn"),
    )


@register(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. Spark pushes a per-partition limit below
    the final sort for rank<=k filters (WindowGroupLimit), so each task
    keeps only k rows per key before the shuffle — the scalable top-k-per-
    group idiom. (A16's dedup-rename is this with k=1.)"""
    t = load(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t.orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           COUNT(*) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_orders_so_far
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame per customer over order time (unique o_orderkey
    tiebreak makes the running values deterministic)."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("n_orders_so_far"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id, event_type,
           lag(event_type)  OVER w AS prev_type,
           lead(event_type) OVER w AS next_type,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT)
             - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) OVER w
             AS secs_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic offsets over each user's event timeline; the epoch delta is
    integer seconds (events have whole-second spacing at us precision is
    not guaranteed, so compute on BIGINT epoch to dodge float drift)."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    return t.events.select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (epoch - F.lag(epoch).over(w)).alias("secs_since_prev"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS n_in_band,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW), 2) AS sum_in_band
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame (peers included, so tie-safe without a
    tiebreaker). Expressed via SQL window syntax through selectExpr —
    same Catalyst plan as the Window API."""
    t = load(spark, sf_dir)
    frame = (
        "OVER (PARTITION BY o_custkey ORDER BY o_totalprice "
        "RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)"
    )
    return t.orders.selectExpr(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        f"count(*) {frame} AS n_in_band",
        f"round(sum(o_totalprice) {frame}, 2) AS sum_in_band",
    )


@register(
    "win_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey)  OVER w AS last_key,
           nth_value(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation functions over the FULL partition frame — the explicit
    UNBOUNDED FOLLOWING matters: the default frame ends at CURRENT ROW,
    which silently turns last_value into 'current value' (a classic
    window-frame bug this query pins). Unique (date, key) ordering keeps
    nth_value deterministic."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


@register(
    "win_moving_frame",
    oracle="""
    SELECT user_id, event_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
             AS mov_avg4,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING), 6)
             AS prior_sum2
    FROM events
    """,
)
def win_moving_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS frames (moving average over the last 4 events; sum of
    the 2 rows strictly before current) — the physical-offset complement
    of win_range_frame's value-based window. ROWS frames require a total
    order to be deterministic, hence the (ts, event_id) tiebreak; the
    strictly-preceding frame is NULL on each partition's first row, which
    both engines must agree on."""
    t = load(spark, sf_dir)
    order = [F.col("ts"), F.col("event_id")]
    w4 = Window.partitionBy("user_id").orderBy(*order).rowsBetween(-3, 0)
    w_prior = Window.partitionBy("user_id").orderBy(*order).rowsBetween(-2, -1)
    return t.events.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w4), 6).alias("mov_avg4"),
        F.round(F.sum("value").over(w_prior), 6).alias("prior_sum2"),
    )


@register(
    "win_time_range",
    oracle="""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           ROUND(SUM(value) OVER w, 6)     AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: each event sees the user's trailing
    1-hour window (rate-limiting / rolling-engagement shape). Spark's
    DataFrame rangeBetween needs a NUMERIC ordering, so the frame runs
    over epoch MICROSECONDS with a 3.6e9-wide frame — exactly the
    oracle's RANGE INTERVAL at full timestamp precision (events carry
    sub-second parts; a seconds-granular ordering would silently shift
    frame edges for boundary rows). RANGE includes ts-peers on both
    engines, so no unique tiebreak is needed."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return t.events.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 6).alias("sum_last_hour"),
    )


@register(
    "win_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_no
    FROM flagged
    """,
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap-islands): a session break is a >30 min
    silence; the running sum of break flags numbers each user's sessions
    1..k. This entry point AUTO-SWITCHES between the two physically
    different plans with identical semantics (and one shared oracle):

    - balanced timelines -> the plain per-user window (`_sessionize_plain`,
      ONE shuffle, single Exchange+sort serving both window passes; the
      batch twin of stream_session_window's session_window());
    - hot-key skew -> the (user, hour-bucket) chunk+stitch rewrite
      (`_sessionize_salted`) once the hottest user's event count exceeds
      SESSIONIZE_SKEW_THRESHOLD (the measured ~5 M-event crossover in
      BASELINE.md, where the plain window's single-core straggler costs
      more than the rewrite's two extra small shuffles).

    The dispatch signal is max-events-per-user from a dedicated
    count aggregate — shuffle volume is per-user partial counts, not
    events, and at 100 TB you would read the same number from table
    stats/NDV instead of a scan. AQE cannot make this choice: its skew
    handling rewrites joins only, and a window partition cannot be split
    adaptively, so the plan must be chosen before execution — exactly
    what this operator does."""
    t = load(spark, sf_dir)
    hot = (
        t.events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    if hot is not None and hot > SESSIONIZE_SKEW_THRESHOLD:
        return _sessionize_salted(t)
    return _sessionize_plain(t)


#: Per-user event count above which win_sessionize switches to the
#: chunk+stitch plan. BASELINE.md's events-skew probe measures the
#: crossover at roughly 5 M events on the hottest key at local[32];
#: below it the plain window's single Exchange wins, above it the
#: straggler core dominates.
SESSIONIZE_SKEW_THRESHOLD = 5_000_000


def _sessionize_plain(t) -> DataFrame:
    """One-shuffle gap-islands sessionization (balanced-key plan)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # µs-exact gap test: a seconds-granular cast would disagree with the
    # oracle's INTERVAL comparison when a gap straddles 1800s by <1s
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > 1_800_000_000),
        1,
    ).otherwise(0)
    return t.events.select(
        "user_id",
        "event_id",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )


@register(
    "win_gapfill_locf",
    oracle="""
    WITH obs AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_events, AVG(value) AS hour_avg
      FROM events WHERE user_id < 40
      GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM obs GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    ),
    j AS (
      SELECT g.user_id, g.bucket, obs.n_events, obs.hour_avg
      FROM grid g
      LEFT JOIN obs ON g.user_id = obs.user_id AND g.bucket = obs.bucket
    )
    SELECT user_id,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
           COALESCE(n_events, 0) AS n_events,
           ROUND(hour_avg, 4) AS hour_avg,
           ROUND(last_value(hour_avg IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS locf_avg,
           (n_events IS NULL) AS is_gap
    FROM j
    """,
)
def win_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gap filling with last-observation-carried-forward: the
    hypertable `time_bucket_gapfill(...) + locf(...)` shape (TimescaleDB)
    the reference's cron-driven world has no answer to. Per user, densify
    the hourly grid between first and last observation via
    sequence()+explode, left-join the observed hourly aggregate, then
    carry the last non-null average forward with last(ignorenulls) over a
    running frame (leading gaps before the first observation stay NULL —
    standard LOCF).

    Scale shape: ONE shuffle total and NO join. The naive plan (dense
    grid LEFT JOIN observed) re-shuffles both join sides on
    (user_id, bucket) — requireAllClusterKeysForCoPartition rejects the
    hash(user_id) subset for joins — then re-shuffles AGAIN for the LOCF
    window: three exchanges of grid-sized data. Instead, gap rows are
    generated FROM the observed rows: lag() exposes the previous bucket
    and the carried average, and each observed row explodes into
    [its missing predecessor hours] + [itself], with the LOCF value
    attached at generation time. Everything after the single
    repartition("user_id") — the (user_id, bucket) aggregate (subset
    rule), both window columns, the explode — stays on that one
    partitioning; pinned in tests. The dense grid is O(users x
    active-hours), generated AFTER the aggregate — never a blow-up of
    the raw event stream."""
    t = load(spark, sf_dir)
    ev = (
        t.events.where(F.col("user_id") < 40)
        .select(
            "user_id", F.date_trunc("hour", "ts").alias("bucket"), "value"
        )
        .repartition("user_id")
    )
    obs = ev.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"), F.avg("value").alias("hour_avg")
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    # carried_excl: last non-null average STRICTLY BEFORE this bucket
    # (what a gap row inherits); carried_incl: including this bucket
    # (what the observed row itself reports under LOCF).
    obs = obs.select(
        "user_id",
        "bucket",
        "n_events",
        "hour_avg",
        F.lag("bucket").over(w).alias("prev_bucket"),
        F.last("hour_avg", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("carried_excl"),
        F.last("hour_avg", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("carried_incl"),
    )
    hour = F.expr("INTERVAL 1 HOUR")
    gap_rows = F.when(
        F.col("prev_bucket").isNotNull()
        & (F.col("bucket") > F.col("prev_bucket") + hour),
        F.transform(
            F.sequence(
                F.col("prev_bucket") + hour, F.col("bucket") - hour, hour
            ),
            lambda b: F.struct(
                b.alias("bucket"),
                F.lit(None).cast("long").alias("n_events"),
                F.lit(None).cast("double").alias("hour_avg"),
                F.col("carried_excl").alias("locf_raw"),
                F.lit(True).alias("is_gap"),
            ),
        ),
    ).otherwise(F.array())
    self_row = F.array(
        F.struct(
            F.col("bucket").alias("bucket"),
            F.col("n_events").alias("n_events"),
            F.col("hour_avg").alias("hour_avg"),
            F.col("carried_incl").alias("locf_raw"),
            F.lit(False).alias("is_gap"),
        )
    )
    dense = obs.select(
        "user_id", F.explode(F.concat(gap_rows, self_row)).alias("r")
    )
    return dense.select(
        "user_id",
        F.date_format("r.bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        F.coalesce("r.n_events", F.lit(0)).alias("n_events"),
        F.round("r.hour_avg", 4).alias("hour_avg"),
        F.round("r.locf_raw", 4).alias("locf_avg"),
        F.col("r.is_gap").alias("is_gap"),
    )


@register(
    "win_ignore_nulls",
    oracle="""
    WITH sparse AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value_n
      FROM events
    )
    SELECT user_id, event_id, value_n,
           lag(value_n IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id)  AS prev_nn,
           lead(value_n IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id)  AS next_nn,
           nth_value(value_n, 2 IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_nn
    FROM sparse
    """,
)
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS navigation over a sparse measure (every 5th reading
    nulled): lag/lead skip to the adjacent NON-NULL observation and
    nth_value(2) tracks the second non-null seen so far — the sensor-
    readback idiom (previous good reading / next good reading) that plain
    lag/lead cannot express without nested CASE pyramids. lag/lead go
    through SQL expression strings (PySpark's Column API exposes
    ignoreNulls only for nth_value/first/last); all three run in the one
    user_id window sort."""
    t = load(spark, sf_dir)
    sparse = t.events.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value_n"),
    )
    over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sparse.select(
        "user_id",
        "event_id",
        "value_n",
        F.expr(f"lag(value_n) IGNORE NULLS {over}").alias("prev_nn"),
        F.expr(f"lead(value_n) IGNORE NULLS {over}").alias("next_nn"),
        F.nth_value("value_n", 2, ignoreNulls=True).over(w).alias("second_nn"),
    )


@register(
    "win_ratio_to_report",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 OVER (PARTITION BY o_custkey) AS DOUBLE), 6) AS spend_share,
           ROUND(o_totalprice / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 OVER () AS DOUBLE), 10) AS global_share
    FROM orders
    """,
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ratio_to_report: each order's share of its customer's spend and of
    global spend (the BI contribution metric). The per-customer ratio is
    one hash window. The GLOBAL denominator is deliberately NOT an
    unpartitioned window — ``sum().over(Window.partitionBy())`` makes
    WindowExec move the ENTIRE table into one partition (the r4 plan
    audit caught exactly that) — but a 1-row scalar aggregate
    cross-joined back as a broadcast: the only SinglePartition exchange
    left carries one partial-sum row per upstream partition. Both
    denominators are summed as DECIMAL(18,2) (order-independent, exact)
    and only then cast to double, so the sole float step is one
    division — no cross-engine float-sum dependence."""
    t = load(spark, sf_dir)
    w_cust = Window.partitionBy("o_custkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    total = t.orders.agg(F.sum(price_dec).alias("_g_total"))
    return t.orders.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.col("o_totalprice")
            / F.sum(price_dec).over(w_cust).cast("double"),
            6,
        ).alias("spend_share"),
        F.round(
            F.col("o_totalprice") / F.col("_g_total").cast("double"),
            10,
        ).alias("global_share"),
    )


@register(
    "win_sessionize_salted",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_no
    FROM flagged
    """,
)
def win_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-immune sessionization: identical semantics (and oracle) to
    win_sessionize, but the heavy window runs on (user_id, hour-bucket)
    instead of user_id alone, so ONE HOT USER spreads over as many tasks
    as their timeline spans hours — the regime where the plain per-user
    window serializes onto a single straggler core (AQE's skew splitting
    only rewrites joins; a window partition cannot be split adaptively,
    which is exactly why this rewrite exists). Registered standalone so
    the skewed plan stays independently driver-checkable; win_sessionize
    dispatches to the same implementation above its skew threshold.

    Phase 1: per (user, hour) local session numbering (the big shuffle,
    hot-key-free since the bucket width 1h > the 30min gap keeps the
    stitch logic one-hop). Phase 2: per-user window over the per-bucket
    SUMMARY rows (first/last ts, local session count) — data shrunk by
    the events-per-bucket factor — computes whether each bucket's first
    local session continues the previous bucket's last one, and the
    cumulative global session offset. Phase 3: join the offsets back on
    (user, bucket): global_no = cum_prev + local_no - merge. Two extra
    tiny shuffles buy the removal of the per-user straggler; see the
    events-skew probe in BASELINE.md for the measured effect."""
    return _sessionize_salted(load(spark, sf_dir))


def _sessionize_salted(t) -> DataFrame:
    """Chunk+stitch gap-islands sessionization (hot-key plan)."""
    gap_us = 1_800_000_000
    ev = t.events.select(
        "user_id", "event_id", "ts", F.date_trunc("hour", F.col("ts")).alias("bkt")
    )
    wl = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(wl)
    local_break = F.when(
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > gap_us),
        1,
    ).otherwise(0)
    local = ev.withColumn(
        "local_no",
        F.sum(local_break).over(
            wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    summary = local.groupBy("user_id", "bkt").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.max("local_no").alias("n_local"),
    )
    ws = Window.partitionBy("user_id").orderBy("bkt")
    prev_last = F.lag("last_ts").over(ws)
    merge = F.when(
        prev_last.isNotNull()
        & (F.unix_micros("first_ts") - F.unix_micros(prev_last) <= gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    offsets = summary.withColumn("merge", merge).withColumn(
        "cum_prev",
        F.coalesce(
            F.sum(F.col("n_local") - F.col("merge")).over(
                ws.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    return (
        local.join(
            offsets.select("user_id", "bkt", "merge", "cum_prev"),
            ["user_id", "bkt"],
        )
        .select(
            "user_id",
            "event_id",
            (F.col("cum_prev") + F.col("local_no") - F.col("merge")).alias(
                "session_no"
            ),
        )
    )


@register(
    "win_session_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(COUNT(*) AS BIGINT)                      AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts))         AS duration_us,
           ROUND(SUM(value), 2)                          AS sum_value
    FROM sess
    GROUP BY user_id, session_no
    """,
)
def win_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level rollup — the report sessionization exists to feed
    (events per session, dwell time, per-session value): win_sessionize's
    gap-islands numbering followed by a (user, session) aggregate. The
    aggregate's clustered distribution is satisfied by the window's
    hash(user_id) partitioning (subset key), so the rollup adds ZERO
    Exchanges on top of the one sessionization shuffle — the two-level
    window-then-aggregate chain runs in a single partitioning."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > 1_800_000_000),
        1,
    ).otherwise(0)
    sess = t.events.select(
        "user_id",
        "ts",
        "value",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


#: EWMA frame width and the decay. HALF decay is load-bearing for the
#: oracle: 0.5^k and the weight sum 2 - 2^(1-n) are EXACT dyadic doubles,
#: and x * 0.5^k is a pure exponent shift (no mantissa rounding) — so as
#: long as both engines fold the frame in the same order, the EWMA is
#: bit-identical cross-engine with NO float-tolerance escape hatch. A
#: production α comes from a half-life; the plan is unchanged.
EWMA_FRAME = 16


def _half_life_ewma(frame):
    """Half-decay EWMA of an array Column (oldest element first):
    sum(frame[i] * 0.5^(n-1-i)) folded in frame order, over the weight
    sum 2 - 0.5^(n-1). The one copy of the fold the win_ewma oracles
    replay (EWMA_FRAME note)."""
    n = F.size(frame)
    weighted = F.aggregate(
        F.zip_with(
            frame,
            F.sequence(F.lit(0), n - 1),
            lambda x, i: x * F.pow(F.lit(0.5), (n - 1 - i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return weighted / (F.lit(2.0) - F.pow(F.lit(0.5), (n - 1).cast("double")))


@register(
    "win_ewma",
    oracle=f"""
    WITH framed AS (
      SELECT event_id, user_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
             ROUND(value, 2) AS value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN {EWMA_FRAME - 1} PRECEDING
                                        AND CURRENT ROW) AS frame
      FROM events
    )
    SELECT event_id, user_id, ts, value,
           ROUND(
             list_sum([frame[i + 1] * pow(0.5, len(frame) - 1 - i)
                       FOR i IN range(len(frame))])
             / (2 - pow(0.5, len(frame) - 1)), 6) AS ewma
    FROM framed
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over a bounded trailing
    frame (the monitoring/forecasting smoother; pandas ewm with
    adjust=True, truncated to the last {EWMA_FRAME} rows per user).

    The frame is collected per row by the SAME windowing machinery as
    any ROWS frame (one user_id shuffle + sort, shared with every other
    per-user window), then the weighted fold is a pure Column expression
    — no UDF, no second shuffle. The unbounded-history EWMA recursion
    does not distribute (each row depends on all predecessors);
    truncating at {EWMA_FRAME} terms discards weight < 0.5^{EWMA_FRAME}
    ≈ 1.5e-5 of the mass, which is the standard streaming-systems
    tradeoff that turns the recursion into a frame aggregate."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_FRAME - 1), Window.currentRow)
    )
    framed = t.events.select(
        "event_id", "user_id", "ts", "value",
        F.collect_list("value").over(w).alias("frame"),
    ).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.round("value", 2).alias("value"),
        "frame",
    )
    return framed.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(_half_life_ewma(F.col("frame")), 6).alias("ewma"),
    )


#: Rolling-baseline geometry for the anomaly detector: each event is
#: scored against the user's previous ZSCORE_LOOKBACK events (current row
#: EXCLUDED — scoring a point against a baseline that contains it dilutes
#: the signal), and a score only counts once the baseline has
#: ZSCORE_MIN_N points (stddev over 3 events is noise, not a baseline).
ZSCORE_LOOKBACK = 20
ZSCORE_MIN_N = 10
ZSCORE_CUTOFF = 3.0

_ZSCORE_ORACLE = f"""
    WITH scored AS (
      SELECT event_id, user_id, ts, value,
             COUNT(*)      OVER w AS n_baseline,
             AVG(value)    OVER w AS mu,
             STDDEV_SAMP(value) OVER w AS sd
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           ROUND(value, 6) AS value,
           CAST(n_baseline AS BIGINT) AS n_baseline,
           ROUND((value - mu) / sd, 3) AS z
    FROM scored
    WHERE n_baseline >= {ZSCORE_MIN_N} AND sd > 0
      AND abs((value - mu) / sd) > {ZSCORE_CUTOFF}
"""


@register("win_zscore_anomaly", oracle=_ZSCORE_ORACLE)
def win_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection — each event scored against the
    mean/stddev of the SAME USER's trailing ZSCORE_LOOKBACK events
    (strictly preceding frame, so the point never contaminates its own
    baseline), emitting only |z| > 3 outliers past a minimum baseline
    size. The metric-monitoring primitive (fraud spikes, sensor faults,
    engagement anomalies) as one window pass.

    Scale shape: one shuffle on user_id, then a bounded ROWS frame —
    per-partition state is O(LOOKBACK) however long a user's history
    gets, and the (ts, event_id) tiebreak makes the frame deterministic
    under shuffle nondeterminism. Output is outliers only, so the
    result is tiny however big the input."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZSCORE_LOOKBACK, -1)
    )
    scored = t.events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.count(F.lit(1)).over(w).alias("n_baseline"),
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return scored.where(
        (F.col("n_baseline") >= ZSCORE_MIN_N)
        & (F.col("sd") > 0)
        & (F.abs(z) > ZSCORE_CUTOFF)
    ).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 6).alias("value"),
        "n_baseline",
        F.round(z, 3).alias("z"),
    )


_DISTINCT_ROLLING_ORACLE = """
    SELECT event_id, user_id,
           CAST(COUNT(DISTINCT event_type) OVER w AS BIGINT)
             AS distinct_types_20,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_frame
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


@register("win_distinct_rolling", oracle=_DISTINCT_ROLLING_ORACLE)
def win_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct count over a moving ROWS frame — behavioral-diversity
    scoring (how many distinct event types in the user's last 20
    actions). Spark's window aggregates reject DISTINCT outright, so the
    operator composes it: collect_set over the frame, then size() — the
    engine-gap pattern this repo exists to catalogue. State cost is the
    frame's distinct set per row, bounded by min(frame width, type
    cardinality); the plan stays one user_id shuffle + per-partition
    sort, identical to any other bounded ROWS frame. (For wide frames
    over high-cardinality values, swap the exact set for approx: a
    per-frame HLL via aggregate-then-join.) The oracle uses DuckDB's
    native COUNT(DISTINCT) OVER — same semantics, different engine
    affordance."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    return t.events.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("bigint").alias(
            "distinct_types_20"
        ),
        F.count(F.lit(1)).over(w).alias("n_frame"),
    )


_MEDIAN_ROLLING_ORACLE = """
    SELECT event_id, user_id,
           ROUND(MEDIAN(value) OVER w, 6) AS med_21,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_frame
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
"""


@register("win_median_rolling", oracle=_MEDIAN_ROLLING_ORACLE)
def win_median_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median over a 21-row trailing frame — the robust
    smoother monitoring pipelines prefer over moving averages (one
    outlier moves a mean, not a median). Spark window aggregates cannot
    compute percentiles over a frame, so the operator composes it:
    collect_list over the frame -> array_sort -> midpoint pick (even
    frames average the two middle elements, matching MEDIAN()). Same
    composed-frame family as win_distinct_rolling/win_ewma: one user_id
    shuffle, O(frame) state per row, and the engine-gap documented
    rather than papered over. For wide frames swap the exact sort for
    two approx_percentile passes."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    med = F.when(n % 2 == 1, mid_hi).otherwise((mid_lo + mid_hi) / 2.0)
    return t.events.select(
        "event_id",
        "user_id",
        F.round(med, 6).alias("med_21"),
        F.count(F.lit(1)).over(w).alias("n_frame"),
    )


#: CUSUM drift detector: reference level (drift target + slack) and the
#: decision threshold, in value units. Tuned so the synthetic events
#: corpus produces a meaningful (nonempty, selective) alarm set.
CUSUM_K = 60.0
CUSUM_H = 400.0

_CUSUM_ORACLE = f"""
    WITH d AS (
      SELECT user_id, event_id, ts, value - {CUSUM_K} AS dev
      FROM events
    ),
    p AS (
      SELECT *, SUM(dev) OVER w AS prefix
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT *,
             prefix - LEAST(COALESCE(MIN(prefix) OVER wprev, 0), 0) AS cusum
      FROM p
      WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           ROUND(cusum, 4) AS cusum
    FROM s WHERE cusum > {CUSUM_H}
"""


@register("win_cusum_drift", oracle=_CUSUM_ORACLE)
def win_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection (Page 1954) per user: alarms when
    the cumulative excess over the reference level CUSUM_K exceeds
    CUSUM_H — the change-point detector that catches SLOW drifts a
    per-point z-score (win_zscore_anomaly) misses entirely.

    The CUSUM recursion S_i = max(0, S_{{i-1}} + dev_i) looks
    sequential, but distributes via the prefix-min identity:
    S_i = P_i - min(0, min_{{j<i}} P_j) where P is the running sum of
    deviations — TWO cumulative frames over the same (user_id) window
    shuffle, no UDF, no per-row recursion. (The strictly-preceding min
    can undershoot the textbook S_i only when P_i is itself the prefix
    minimum — where S_i = 0 — so on the emitted cusum > H rows the two
    definitions are exactly equal.) Both engines evaluate the prefix
    sums over the identical (ts, event_id) order, so the floats agree
    to rounding."""
    t = load(spark, sf_dir)
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = t.events.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("value") - CUSUM_K).alias("dev"),
    ).withColumn("prefix", F.sum("dev").over(w_cum))
    cusum = F.col("prefix") - F.least(
        F.coalesce(F.min("prefix").over(w_prev), F.lit(0.0)), F.lit(0.0)
    )
    return (
        p.withColumn("cusum", cusum)
        .where(F.col("cusum") > CUSUM_H)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.round("cusum", 4).alias("cusum"),
        )
    )


_NTILE_ORACLE = """
    SELECT c_custkey, c_mktsegment,
           ROUND(c_acctbal, 2) AS c_acctbal,
           CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey) AS BIGINT)
             AS balance_quartile
    FROM customer
"""


#: Target rows per range bucket for the two-phase exact NTILE: caps the
#: per-task sort at a constant regardless of table size (bucket count
#: grows with the data instead).
_NTILE_BUCKET_ROWS = 2048


@register("win_ntile_quartiles", oracle=_NTILE_ORACLE)
def win_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment balance quartiles, exact NTILE(4) semantics WITHOUT a
    table-scale window partition. A naive
    ``Window.partitionBy(c_mktsegment)`` has parallelism = |segments| = 5
    and each window partition holds ~20% of the TABLE — partition SIZE
    grows linearly with data even though partition COUNT is bounded, so
    at 100x it is five single-task sorts of the whole customer table.

    Two-phase form instead: range-bucket every row by its sort key —
    ``floor((c_acctbal - lo) / span)``, a pure function of the VALUE, so
    acctbal ties always share a bucket — and take per-segment bucket
    offsets and segment totals from sorts.prefix_offsets; ``row_number``
    under ``Window.partitionBy(segment, bucket)`` (each window task sorts
    <= ~_NTILE_BUCKET_ROWS rows) adds the within-bucket rank. The tile
    is NTILE's exact closed form: base = N div 4, rem = N mod 4, the
    first ``rem`` tiles get base+1 rows (remainder rows go to the LOWEST
    tiles in strict order, which is why the (c_acctbal, c_custkey)
    tiebreak must be total). Caveat shared with every range-bucket
    prefix-sum here: a single acctbal VALUE holding most of a segment
    would concentrate its bucket; balances are near-uniform, and the
    skew cure would be the win_sessionize_salted sub-split with
    offset re-fold."""
    from .sorts import prefix_offsets  # sorts registers after windows

    t = load(spark, sf_dir)
    cust = t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
    b = cust.agg(
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n_buckets = max(8, min(4096, int(b["n"]) // _NTILE_BUCKET_ROWS + 1))
    span = max((float(b["hi"]) - float(b["lo"])) / n_buckets, 1e-9)
    bucket = F.least(
        F.floor((F.col("c_acctbal") - float(b["lo"])) / span),
        F.lit(n_buckets - 1),
    ).alias("bucket")
    bucketed = cust.select("c_custkey", "c_mktsegment", "c_acctbal", bucket)
    w = Window.partitionBy("c_mktsegment", "bucket").orderBy(
        "c_acctbal", "c_custkey"
    )
    ranked = prefix_offsets(
        bucketed, ["c_mktsegment"], "bucket", F.lit(1)
    ).withColumn("rk0", F.row_number().over(w) - 1 + F.col("_off"))
    base = F.floor(F.col("_total") / 4)
    rem = F.col("_total") % 4
    tile = F.when(
        F.col("rk0") < rem * (base + 1), F.floor(F.col("rk0") / (base + 1)) + 1
    ).otherwise(
        rem
        + 1
        + F.floor((F.col("rk0") - rem * (base + 1)) / F.greatest(base, F.lit(1)))
    )
    return ranked.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        tile.cast("bigint").alias("balance_quartile"),
    )


#: Robust-anomaly knobs: consistency constant sigma ~= 1.4826 * MAD for
#: Gaussian data; 3.5 is the conventional robust-z cutoff (Iglewicz &
#: Hoaglin's modified z-score uses 3.5 on 0.6745*(x-med)/MAD, which is
#: the same test written with the reciprocal constant).
MAD_SIGMA = 1.4826
MAD_CUTOFF = 3.5

_MAD_ORACLE = f"""
    WITH f AS (
      SELECT event_id, user_id, value, list(value) OVER w AS frame
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
    ),
    m AS (
      SELECT event_id, user_id, value,
             list_aggregate(frame, 'median') AS med,
             list_aggregate(
               list_transform(frame,
                              x -> abs(x - list_aggregate(frame, 'median'))),
               'median') AS mad
      FROM f
    )
    SELECT event_id, user_id,
           ROUND(med, 6) AS med_21,
           ROUND(mad, 6) AS mad_21,
           ROUND((value - med) / ({MAD_SIGMA} * mad), 3) AS robust_z
    FROM m
    WHERE mad > 0 AND abs(value - med) > {MAD_CUTOFF} * {MAD_SIGMA} * mad
"""


@register("win_mad_anomaly", oracle=_MAD_ORACLE)
def win_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation anomaly flags over a trailing 21-row
    frame (r5) — the ROBUST sibling of win_zscore_anomaly: mean/stddev
    move with the outlier being tested (masking: one huge spike inflates
    sigma enough to hide the next one), while median/MAD have a 50%
    breakdown point, so repeated spikes keep getting flagged. Flag when
    |value - med| > 3.5 * 1.4826 * MAD (the Iglewicz-Hoaglin modified
    z-score test), skipping frames with MAD = 0 (a flat frame makes any
    deviation infinite-z; zscore's sd>0 guard, same policy).

    Composition: Spark window aggregates cannot compute percentiles over
    a frame, so the frame is collected once (collect_list over ONE
    user_id window — single shuffle) and both medians come from the
    sorted array: med by midpoint pick, MAD by re-sorting the absolute
    deviations (per-row O(w log w), the win_median_rolling family's
    documented trade; wide frames would swap in a two-pass approx). The
    oracle reproduces the exact same composition with DuckDB's
    list()-over-window + list_aggregate('median')."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, 0)
    )

    def arr_median(arr):
        n = F.size(arr)
        hi = F.element_at(arr, (n / 2 + 1).cast("int"))
        lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
        return F.when(n % 2 == 1, hi).otherwise((lo + hi) / 2.0)

    frame = F.array_sort(F.collect_list("value").over(w))
    base = t.events.select(
        "event_id", "user_id", "value", frame.alias("frame")
    ).withColumn("med", arr_median(F.col("frame")))
    devs = F.array_sort(
        F.transform(F.col("frame"), lambda x: F.abs(x - F.col("med")))
    )
    # r13 --all sweep find (8.9 s -> ~1.5 s at sf0.1, output identical):
    # the optimizer pushes the anomaly filter below these projections
    # and inlines the whole expression tree into the Filter condition —
    # and because higher-order functions run interpreted (outside
    # whole-stage codegen, no subexpression elimination), every column
    # reference re-sorts the 21-element frame, ~20 sorts PER INPUT ROW.
    # The localCheckpoint materializes the five scalar columns once, so
    # the filter reads columns instead of re-deriving them. At scale
    # this adds one narrow (40 B/row) local write on top of the window
    # shuffle that already moves the full table — a small constant
    # factor, unlike the 20x interpreted re-evaluation it removes.
    scored = (
        base.withColumn("devs", devs)
        .withColumn("mad", arr_median(F.col("devs")))
        .select("event_id", "user_id", "value", "med", "mad")
        .localCheckpoint()
    )
    return scored.where(
        (F.col("mad") > 0)
        & (F.abs(F.col("value") - F.col("med")) > MAD_CUTOFF * MAD_SIGMA * F.col("mad"))
    ).select(
        "event_id",
        "user_id",
        F.round("med", 6).alias("med_21"),
        F.round("mad", 6).alias("mad_21"),
        F.round(
            (F.col("value") - F.col("med")) / (MAD_SIGMA * F.col("mad")), 3
        ).alias("robust_z"),
    )


_DRAWDOWN_ORACLE = """
    WITH p AS (
      SELECT event_id, user_id, ts, value,
             MAX(value) OVER w AS peak
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    d AS (
      SELECT *, (peak - value) / peak AS dd FROM p
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           ROUND(value, 6) AS value,
           ROUND(peak, 6) AS peak,
           ROUND(dd, 6) AS drawdown,
           ROUND(MAX(dd) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW), 6) AS max_drawdown
    FROM d
"""


@register("win_drawdown", oracle=_DRAWDOWN_ORACLE)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running maximum drawdown per user: each event's value scored
    against the user's all-time running peak, with the cumulative worst
    relative drop carried alongside. The canonical risk/health metric
    for any monotone-hoped series (portfolio equity, engagement score,
    throughput) — "how far below the best-so-far are we, and what is
    the worst it has ever been".

    The sequential-looking recursion (peak depends on all history,
    max-drawdown on all drawdowns) distributes as two stacked
    cumulative frames over ONE user_id shuffle — the same prefix-
    identity trick as win_cusum_drift: running MAX(value) gives the
    peak, then running MAX over the derived drawdown column gives the
    worst-case, both in the same window sort. State per partition is
    O(1); the (ts, event_id) tiebreak pins cross-engine order. Values
    are strictly positive in this schema, so relative drawdown
    (peak-value)/peak is well-defined; a production variant over signed
    P&L would switch to absolute peak-value."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max("value").over(w)
    d = t.events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        peak.alias("peak"),
    ).withColumn("dd", (F.col("peak") - F.col("value")) / F.col("peak"))
    return d.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 6).alias("value"),
        F.round("peak", 6).alias("peak"),
        F.round("dd", 6).alias("drawdown"),
        F.round(F.max("dd").over(w), 6).alias("max_drawdown"),
    )


_VSHAPE_ORACLE = """
    WITH s AS (
      SELECT event_id, user_id, ts, value,
             LAG(value) OVER w AS v_prev,
             LEAD(value) OVER w AS v_next
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           ROUND(v_prev, 6) AS v_prev,
           ROUND(value, 6) AS v_trough,
           ROUND(v_next, 6) AS v_next,
           ROUND(least(v_prev, v_next) - value, 6) AS depth,
           ROUND(v_next - value, 6) AS rebound
    FROM s
    WHERE v_prev > value AND v_next > value
"""


@register("win_pattern_vshape", oracle=_VSHAPE_ORACLE)
def win_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching, MATCH_RECOGNIZE-style: detect the simplest
    interesting pattern — PATTERN (DOWN UP), a strict local minimum
    (prev > trough < next) — per user over event time, emitting one row
    per match with the matched triple and its measures (depth, rebound).
    Spark has no MATCH_RECOGNIZE clause (Flink CEP / Snowflake do);
    fixed-length patterns compile exactly to lag/lead predicates like
    this, and variable-length patterns (A B+ C) compile to the
    run-boundary + prefix-count composition win_sessionize already
    demonstrates — this registers the fixed-length half of that story.

    One user_id shuffle, one window sort, two O(1) frame lookups per
    row; matches-only output keeps the result tiny at any scale. The
    (ts, event_id) tiebreak pins which rows are neighbors, so the match
    set is deterministic under shuffle nondeterminism."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = t.events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("v_prev"),
        F.lead("value").over(w).alias("v_next"),
    )
    return s.where(
        (F.col("v_prev") > F.col("value")) & (F.col("v_next") > F.col("value"))
    ).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("v_prev", 6).alias("v_prev"),
        F.round("value", 6).alias("v_trough"),
        F.round("v_next", 6).alias("v_next"),
        F.round(F.least("v_prev", "v_next") - F.col("value"), 6).alias("depth"),
        F.round(F.col("v_next") - F.col("value"), 6).alias("rebound"),
    )


#: Rolling-trend frame: OLS over the user's trailing 20 events, emitted
#: once the frame holds at least 5 points.
TREND_FRAME = 20
TREND_MIN_N = 5

_ROLLING_REGR_ORACLE = f"""
    WITH seq AS (
      SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS vu,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    sums AS (
      SELECT event_id, user_id,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             SUM(rn) OVER w AS sx,
             SUM(vu) OVER w AS sy,
             SUM(rn * vu) OVER w AS sxy,
             SUM(rn * rn) OVER w AS sxx
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN {TREND_FRAME - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           n AS n_frame,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100 * 10000)
             / 10000 AS trend_slope,
           floor((CAST(sy AS DOUBLE) / 100
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE) / 100
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) * 10000) / 10000 AS trend_intercept
    FROM sums
    WHERE n >= {TREND_MIN_N}
"""


@register("win_rolling_regression", oracle=_ROLLING_REGR_ORACLE)
def win_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend per user: slope/intercept of value against the
    user's event sequence number over a trailing TREND_FRAME-row frame —
    the "is this metric trending up" primitive behind burn-rate alerts
    and engagement trajectories, strictly stronger than a moving-average
    delta (it weights the whole frame, not two endpoints).

    Engine-gap exhibit: DuckDB evaluates regr_slope natively OVER a
    window; Spark's regr_* are grouped-only, so the operator composes
    the regression from five frame sums (n, Sx, Sy, Sxy, Sxx) in ONE
    window pass and applies the closed form — same single user_id
    shuffle + sort as any bounded frame, O(1) state per row. The
    regressor is the per-user ROW INDEX, not epoch seconds, keeping
    x-magnitudes tiny (Sx^2 ~ 1e5, not 1e21) so the closed form is
    well-conditioned. Cross-engine parity is engineered in two steps,
    both measured necessary: DuckDB's native regr_* window accumulator
    is Welford-style and drifts from naive sums at the 4th decimal, so
    the oracle replays the same five-sums closed form — and even then
    Spark's sliding-frame summation vs DuckDB's segment tree differ by
    ulps that occasionally straddle a rounding boundary, so the sums
    are made EXACT by scaling the 2-dp values to integer cents (the
    graph_pagerank fixed-point rule applied to regression): BIGINT
    sums, doubles only in the final division."""
    t = load(spark, sf_dir)
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("vu"),
        F.row_number().over(wseq).alias("rn"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-(TREND_FRAME - 1), 0)
    )
    x, y = F.col("rn"), F.col("vu")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum(x).over(w)
    sy = F.sum(y).over(w)
    sxy = F.sum(x * y).over(w)
    sxx = F.sum(x * x).over(w)
    # all five sums are BIGINT-exact, so the two engines agree bit-for-
    # bit; doubles appear only in the final two divisions (slope is in
    # value units: /100 undoes the cent scaling), and floor-at-4dp maps
    # identical doubles identically (round ties would not).
    num = (n * sxy - sx * sy).cast("double")
    den = (n * sxx - sx * sx).cast("double")
    slope = num / den / 100
    intercept = (
        sy.cast("double") / 100 - slope * sx.cast("double")
    ) / n.cast("double")
    return (
        seq.select(
            "event_id",
            "user_id",
            n.cast("bigint").alias("n_frame"),
            (F.floor(slope * 10000) / 10000).alias("trend_slope"),
            (F.floor(intercept * 10000) / 10000).alias("trend_intercept"),
        )
        .where(F.col("n_frame") >= TREND_MIN_N)
    )


#: Holt's linear smoothing parameters — DYADIC rationals (1/2, 1/4,
#: 3/4 are exact doubles), so every fold step is exact IEEE arithmetic
#: applied in the same order in both engines: the fold is bit-identical
#: cross-engine BEFORE the display rounding, the win_ewma doctrine.
HOLT_FRAME_ROWS = 16

_HOLT_ORACLE = """
    WITH framed AS (
      SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
               AS frame
      FROM events
    ),
    folded AS (
      SELECT user_id, event_id,
             list_reduce(list_transform(frame, x -> [x, 0.0]),
               (acc, e) -> [
                 e[1] * 0.5 + (acc[1] + acc[2]) * 0.5,
                 (e[1] * 0.5 + (acc[1] + acc[2]) * 0.5 - acc[1]) * 0.25
                   + acc[2] * 0.75
               ]) AS st
      FROM framed
    )
    SELECT user_id, event_id,
           floor(st[1] * 1000000) / 1000000 AS holt_level,
           floor(st[2] * 1000000) / 1000000 AS holt_trend,
           floor((st[1] + st[2]) * 1000000) / 1000000 AS forecast_next
    FROM folded
"""


@register("win_holt_linear", oracle=_HOLT_ORACLE)
def win_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over a bounded
    trailing frame — the trend-aware upgrade of win_ewma (which damps
    level only and lags any trending series): level l = a*x + (1-a)(l+t)
    and trend t = b*(l-l_prev) + (1-b)*t with a=1/2, b=1/4, initialized
    at the frame's first observation (l0 = x0, t0 = 0, the standard
    init); forecast_next = l + t is the one-step-ahead forecast a
    monitoring/capacity pipeline alerts on. The recursion over an
    unbounded history does not distribute; the 16-row frame truncation
    is the same trade win_ewma documents (geometric decay makes the
    discarded mass < 2^-16 of the weight).

    Plan: one user_id shuffle; collect_list over the ROWS frame (O(16)
    state per row), then a pure Column fold — zip each value with a
    zero trend seed, aggregate() threads the [level, trend] pair, NO
    UDF. Dyadic coefficients make the fold exact IEEE arithmetic in
    fold order, so Spark and DuckDB (list_reduce) agree bit-for-bit
    before the 6-dp display rounding."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(HOLT_FRAME_ROWS - 1), 0)
    )
    framed = t.events.select(
        "user_id",
        "event_id",
        F.collect_list("value").over(w).alias("frame"),
    )
    pairs = F.transform(F.col("frame"), lambda x: F.array(x, F.lit(0.0)))

    def _step(acc, e):
        new_l = e[0] * 0.5 + (acc[0] + acc[1]) * 0.5
        new_t = (new_l - acc[0]) * 0.25 + acc[1] * 0.75
        return F.array(new_l, new_t)

    st = F.aggregate(
        F.slice(pairs, F.lit(2), F.greatest(F.size(pairs) - 1, F.lit(0))),
        F.element_at(pairs, 1),
        _step,
    )
    # floor-scaling instead of ROUND: the fold's exact-dyadic outputs sit
    # ON half-ulp decimal boundaries where Spark's BigDecimal HALF_UP and
    # DuckDB's double-multiply rounding disagree; floor of the identical
    # double product is deterministic (the agg_mann_whitney z_stat trick).
    return framed.select(
        "user_id",
        "event_id",
        (F.floor(st[0] * 1_000_000) / 1_000_000).alias("holt_level"),
        (F.floor(st[1] * 1_000_000) / 1_000_000).alias("holt_trend"),
        (F.floor((st[0] + st[1]) * 1_000_000) / 1_000_000).alias(
            "forecast_next"
        ),
    )


#: 1-D Kalman filter noise parameters — process noise q=1/4, observation
#: noise r=1 (dyadic / unit, so the only inexact steps are the gain
#: division and its products, computed as the SAME IEEE ops in the same
#: fold order on both engines — bit-identical results, floor-scaled
#: outputs like win_holt_linear).
KALMAN_Q = 0.25

_KALMAN_ORACLE = """
    WITH framed AS (
      SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
               AS frame
      FROM events
    ),
    folded AS (
      SELECT user_id, event_id,
             list_reduce(list_transform(frame, x -> [x, 1.0]),
               (acc, e) -> [
                 acc[1] + ((acc[2] + 0.25) / (acc[2] + 0.25 + 1.0))
                            * (e[1] - acc[1]),
                 (1.0 - (acc[2] + 0.25) / (acc[2] + 0.25 + 1.0))
                   * (acc[2] + 0.25)
               ]) AS st
      FROM framed
    )
    SELECT user_id, event_id,
           floor(st[1] * 1000000) / 1000000 AS kalman_x,
           floor(st[2] * 1000000) / 1000000 AS kalman_p
    FROM folded
"""


@register("win_kalman_1d", oracle=_KALMAN_ORACLE)
def win_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D random-walk Kalman filter per user over the trailing 16-row
    frame — the optimal-under-Gaussian-noise smoother that ADAPTS its
    gain (win_ewma's alpha is fixed; the Kalman gain k = p/(p+r) starts
    high while the state is uncertain and settles to the steady-state
    EWMA as p converges — the standard sensor/metric denoiser). State
    per step: estimate x and error variance p; predict p+q, gain
    k = (p+q)/(p+q+r), update x += k*(z-x), p = (1-k)(p+q); init at the
    first observation with p = 1 (the observation-noise prior).

    Plan: identical machinery to win_holt_linear — one user_id shuffle,
    collect_list ROWS frame, pure Column fold threading the [x, p] pair
    (no UDF), frame truncation discards geometrically-decayed history.
    Both engines run the same IEEE ops in the same order, so the fold
    is bit-exact; outputs are floor-scaled (the half-ulp ROUND lesson
    from win_holt_linear)."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(HOLT_FRAME_ROWS - 1), 0)
    )
    framed = t.events.select(
        "user_id",
        "event_id",
        F.collect_list("value").over(w).alias("frame"),
    )
    pairs = F.transform(F.col("frame"), lambda x: F.array(x, F.lit(1.0)))

    def _step(acc, e):
        p_pred = acc[1] + KALMAN_Q
        k = p_pred / (p_pred + 1.0)
        return F.array(acc[0] + k * (e[0] - acc[0]), (1.0 - k) * p_pred)

    st = F.aggregate(
        F.slice(pairs, F.lit(2), F.greatest(F.size(pairs) - 1, F.lit(0))),
        F.element_at(pairs, 1),
        _step,
    )
    return framed.select(
        "user_id",
        "event_id",
        (F.floor(st[0] * 1_000_000) / 1_000_000).alias("kalman_x"),
        (F.floor(st[1] * 1_000_000) / 1_000_000).alias("kalman_p"),
    )


_SEASONAL_ORACLE = """
    WITH hod AS (
      SELECT event_type, hour(ts) AS hour_of_day,
             COUNT(*) AS n,
             ROUND(SUM(value), 2) AS s1,
             ROUND(SUM(value * value), 2) AS s2
      FROM events GROUP BY event_type, hour(ts)
    ),
    base AS (
      SELECT event_type, hour_of_day,
             s1 / n AS mu,
             sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sigma,
             n
      FROM hod
    )
    SELECT e.event_id, e.event_type,
           CAST(b.hour_of_day AS BIGINT) AS hour_of_day,
           e.value,
           floor(b.mu * 10000) / 10000 AS seasonal_mean,
           floor((e.value - b.mu) * 10000) / 10000 AS residual,
           b.n >= 30 AND abs(e.value - b.mu) > 3 * b.sigma AS is_anomaly
    FROM events e
    JOIN base b ON b.event_type = e.event_type
                AND b.hour_of_day = hour(e.ts)
"""


@register("win_seasonal_baseline", oracle=_SEASONAL_ORACLE)
def win_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: score every event against
    the mean/stddev of ITS OWN (event type, hour-of-day) cell — the
    decomposition-lite monitor that catches "value is normal for 3 am
    but wild for 3 pm", which the trailing-window detectors
    (win_zscore_anomaly, win_mad_anomaly) structurally cannot (their
    baseline mixes hours). Cells need >= 30 observations before they
    may flag (cold-cell guard).

    Scale shape: the baseline is a map-side-combinable groupBy bounded
    by the SEASONAL DOMAIN (|event types| x 24 rows at any corpus
    size), broadcast back onto one scan — NO per-user shuffle at all,
    the cheapest anomaly plan in the family. Determinism: cell
    sufficient stats on the 2-dp lattice (the agg_anova_oneway
    doctrine); residuals are single identical expressions; the sigma
    gate compares identically computed doubles."""
    t = load(spark, sf_dir)
    hod = F.hour("ts")
    cells = t.events.groupBy(
        "event_type", hod.alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("s1"),
        F.round(F.sum(F.col("value") * F.col("value")), 2).alias("s2"),
    )
    mu = F.col("s1") / F.col("n")
    sigma = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    base = cells.select(
        F.col("event_type").alias("bt"),
        "hour_of_day",
        mu.alias("mu"),
        sigma.alias("sigma"),
        "n",
    )
    return (
        t.events.select("event_id", "event_type", hod.alias("hod"), "value")
        .join(
            F.broadcast(base),
            (F.col("event_type") == F.col("bt"))
            & (F.col("hod") == F.col("hour_of_day")),
        )
        .select(
            "event_id",
            "event_type",
            F.col("hour_of_day").cast("bigint").alias("hour_of_day"),
            "value",
            (F.floor(F.col("mu") * 10_000) / 10_000).alias("seasonal_mean"),
            (
                F.floor((F.col("value") - F.col("mu")) * 10_000) / 10_000
            ).alias("residual"),
            (
                (F.col("n") >= 30)
                & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"))
            ).alias("is_anomaly"),
        )
    )


#: Theil-Sen frame: 9 trailing rows -> C(9,2) = 36 pairwise slopes per
#: row, a constant bounded by the frame, never the partition.
THEIL_SEN_FRAME = 9

_THEIL_SEN_ORACLE = f"""
    WITH framed AS (
      SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN {THEIL_SEN_FRAME - 1} PRECEDING
                               AND CURRENT ROW) AS a
      FROM events
    ),
    slopes AS (
      SELECT user_id, event_id, a,
             list_sort(flatten(list_transform(range(1, len(a)), i ->
               list_transform(range(i + 1, len(a) + 1), j ->
                 (a[j] - a[i]) / (j - i))))) AS s
      FROM framed
    )
    SELECT user_id, event_id,
           CAST(len(s) AS BIGINT) AS n_slopes,
           CASE WHEN len(s) = 0 THEN NULL
                WHEN len(s) % 2 = 1
                  THEN floor(s[(len(s) + 1) // 2] * 1000000) / 1000000
                ELSE floor((s[len(s) // 2] + s[len(s) // 2 + 1]) / 2
                           * 1000000) / 1000000
           END AS theil_sen_slope
    FROM slopes
"""


@register("win_theil_sen", oracle=_THEIL_SEN_ORACLE)
def win_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate per event: the MEDIAN of all
    pairwise slopes over the trailing 9-row frame — up to 29.3%
    contaminated points cannot move it (win_rolling_regression's OLS
    slope chases a single spike; this is the robust-statistics sibling,
    same family as win_mad_anomaly vs win_zscore_anomaly). Positions
    inside the frame serve as the x axis, so the slope is per-STEP.

    Scale shape: one user_id shuffle; per row the C(9,2) = 36 slopes
    come from a nested transform + flatten + array_sort — pure Column
    exprs, state bounded by the FRAME (never the partition), no UDF.
    Determinism: each slope is one division of identically-computed
    doubles (bit-equal both engines), sorting bit-equal values is
    order-stable, and outputs are floor-scaled (the win_holt_linear
    half-ulp lesson)."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(THEIL_SEN_FRAME - 1), 0)
    )
    framed = t.events.select(
        "user_id",
        "event_id",
        F.collect_list("value").over(w).alias("a"),
    )
    n = F.size(F.col("a"))
    # guard n = 1: Spark's sequence(1, 0) DESCENDS instead of emitting
    # empty (DuckDB's range(1, 1) is empty) — a cross-engine trap.
    slopes = F.when(
        n >= 2,
        F.array_sort(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, n),
                        lambda j: (
                            F.element_at(F.col("a"), j)
                            - F.element_at(F.col("a"), i)
                        )
                        / (j - i).cast("double"),
                    ),
                )
            )
        ),
    ).otherwise(F.array().cast("array<double>"))
    s = framed.select("user_id", "event_id", slopes.alias("s"))
    ln = F.size(F.col("s"))
    mid_odd = F.element_at(F.col("s"), ((ln + 1) / 2).cast("int"))
    mid_even = (
        F.element_at(F.col("s"), (ln / 2).cast("int"))
        + F.element_at(F.col("s"), (ln / 2 + 1).cast("int"))
    ) / 2
    med = F.when(ln == 0, F.lit(None).cast("double")).otherwise(
        F.when(ln % 2 == 1, mid_odd).otherwise(mid_even)
    )
    return s.select(
        "user_id",
        "event_id",
        ln.cast("bigint").alias("n_slopes"),
        (F.floor(med * 1_000_000) / 1_000_000).alias("theil_sen_slope"),
    )


#: Bollinger geometry: the classic 20-row mid band with K = 2 sigma
#: envelopes. Bands are null until the frame is FULL (n = BOLL_FRAME)
#: — a half-warm band is a different statistic, not a noisier one.
BOLL_FRAME = 20
BOLL_K = 2

_BOLL_ORACLE = f"""
    WITH c AS (
      SELECT event_id, user_id, ts, ROUND(value * 100) AS vc
      FROM events
    ),
    f AS (
      SELECT event_id, user_id, vc,
             COUNT(vc) OVER w AS n,
             SUM(vc) OVER w AS s1,
             SUM(vc * vc) OVER w AS s2
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {BOLL_FRAME - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, vc / 100 AS value,
           CASE WHEN n = {BOLL_FRAME}
                THEN floor(s1 / 100 / n * 10000) / 10000 END AS boll_mid,
           CASE WHEN n = {BOLL_FRAME}
                THEN floor((s1 / 100 / n + {BOLL_K} * sqrt(GREATEST(
                       (s2 / 10000 - (s1 / 100) * (s1 / 100) / n) / (n - 1),
                       0))) * 10000) / 10000
           END AS boll_upper,
           CASE WHEN n = {BOLL_FRAME}
                THEN floor((s1 / 100 / n - {BOLL_K} * sqrt(GREATEST(
                       (s2 / 10000 - (s1 / 100) * (s1 / 100) / n) / (n - 1),
                       0))) * 10000) / 10000
           END AS boll_lower,
           CASE WHEN n = {BOLL_FRAME}
                 AND sqrt(GREATEST((s2 / 10000 - (s1 / 100) * (s1 / 100) / n)
                                   / (n - 1), 0)) > 0
                THEN floor((vc / 100 - (s1 / 100 / n - {BOLL_K} * sqrt(GREATEST(
                       (s2 / 10000 - (s1 / 100) * (s1 / 100) / n) / (n - 1),
                       0))))
                     / (2 * {BOLL_K} * sqrt(GREATEST(
                       (s2 / 10000 - (s1 / 100) * (s1 / 100) / n) / (n - 1),
                       0))) * 10000) / 10000
           END AS pct_b
    FROM f
"""


@register("win_bollinger", oracle=_BOLL_ORACLE)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands per user: trailing-{BOLL_FRAME} mean with
    +/- {BOLL_K} sigma envelopes and %B (where the current value sits
    inside the band: < 0 below, > 1 above) — the volatility-envelope
    monitor for metric streams (win_zscore_anomaly flags points; this
    tracks the evolving band itself, the squeeze/expansion signal).
    Bands are null until the frame is FULL.

    Scale shape: one user_id shuffle shared with the whole win_ family.
    Determinism: the value quantizes to integer CENTS first, so the
    frame sums s1 = sum(vc) and s2 = sum(vc^2) are sums of exact
    integer-valued doubles — EXACT and association-order-independent
    in both engines (no segment-tree-vs-sequential ulp; the 2-dp ROUND
    of raw-double sums collided on a half-up boundary in testing).
    Mean/sigma are then identical expressions over bit-equal inputs;
    variance clamps at 0 before sqrt; outputs floor-scaled (the
    win_holt_linear half-ulp lesson)."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(BOLL_FRAME - 1), 0)
    )
    c = t.events.select(
        "event_id", "user_id", "ts", F.round(F.col("value") * 100).alias("vc")
    )
    f = c.select(
        "event_id",
        "user_id",
        "vc",
        F.count("vc").over(w).alias("n"),
        F.sum("vc").over(w).alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).over(w).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1") / 100, F.col("s2") / 10_000
    mid = s1 / n
    sigma = F.sqrt(F.greatest((s2 - s1 * s1 / n) / (n - 1), F.lit(0.0)))
    full = n == BOLL_FRAME
    fs = lambda c: F.floor(c * 10_000) / 10_000  # noqa: E731
    return f.select(
        "event_id",
        "user_id",
        (F.col("vc") / 100).alias("value"),
        F.when(full, fs(mid)).alias("boll_mid"),
        F.when(full, fs(mid + BOLL_K * sigma)).alias("boll_upper"),
        F.when(full, fs(mid - BOLL_K * sigma)).alias("boll_lower"),
        F.when(
            full & (sigma > 0),
            fs((F.col("vc") / 100 - (mid - BOLL_K * sigma)) / (2 * BOLL_K * sigma)),
        ).alias("pct_b"),
    )


#: RSI lookback: Cutler's simple-average variant over the trailing 14
#: one-step differences (Wilder's smoothed variant is the unbounded
#: recursion the win_ewma docstring rules out; Cutler's is the standard
#: frame-expressible form). Null until 14 diffs exist in the frame.
RSI_FRAME = 14

_RSI_ORACLE = f"""
    WITH d AS (
      SELECT event_id, user_id, ts,
             ROUND(value - lag(value) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id), 2)
               AS diff
      FROM events
    ),
    f AS (
      SELECT event_id, user_id,
             COUNT(diff) OVER w AS n_diffs,
             ROUND(SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w, 2)
               AS sg,
             ROUND(SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w, 2)
               AS sl
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {RSI_FRAME - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, CAST(n_diffs AS BIGINT) AS n_diffs,
           CASE WHEN n_diffs = {RSI_FRAME} AND sg + sl > 0
                THEN floor(100 * sg / (sg + sl) * 10000) / 10000
           END AS rsi,
           COALESCE(CASE WHEN n_diffs = {RSI_FRAME} AND sg + sl > 0
                         THEN 100 * sg / (sg + sl) > 70 END, FALSE)
             AS is_overbought,
           COALESCE(CASE WHEN n_diffs = {RSI_FRAME} AND sg + sl > 0
                         THEN 100 * sg / (sg + sl) < 30 END, FALSE)
             AS is_oversold
    FROM f
"""


@register("win_rsi", oracle=_RSI_ORACLE)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index per user (Cutler's simple-average RSI
    over the trailing {RSI_FRAME} one-step differences): the
    momentum-regime indicator — RSI > 70 = overbought (rises dominate
    the lookback), < 30 = oversold. On metric streams this reads as
    "sustained one-directional drift", complementing win_cusum_drift
    (cumulative shift) with a bounded 0-100 scale.

    Scale shape: the diff is one lag on the shared user_id shuffle;
    gain/loss sums are combinable frame aggregates on the 2-dp lattice
    (diffs of 2-dp values rounded back onto it); warmup is gated by
    COUNT(diff) — null-skipping in BOTH engines, so the first
    {RSI_FRAME} rows per user emit null RSI identically. The regime
    flags compare the same unfloored ratio in both engines; the
    emitted RSI is floor-scaled."""
    t = load(spark, sf_dir)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = wl.rowsBetween(-(RSI_FRAME - 1), 0)
    diff = F.round(F.col("value") - F.lag("value").over(wl), 2)
    d = t.events.select("event_id", "user_id", "ts", diff.alias("diff"))
    f = d.select(
        "event_id",
        "user_id",
        F.count("diff").over(w).alias("n_diffs"),
        F.round(
            F.sum(F.when(F.col("diff") > 0, F.col("diff")).otherwise(0.0)).over(w), 2
        ).alias("sg"),
        F.round(
            F.sum(F.when(F.col("diff") < 0, -F.col("diff")).otherwise(0.0)).over(w), 2
        ).alias("sl"),
    )
    ready = (F.col("n_diffs") == RSI_FRAME) & (F.col("sg") + F.col("sl") > 0)
    rsi = 100 * F.col("sg") / (F.col("sg") + F.col("sl"))
    return f.select(
        "event_id",
        "user_id",
        F.col("n_diffs").cast("bigint").alias("n_diffs"),
        F.when(ready, F.floor(rsi * 10_000) / 10_000).alias("rsi"),
        F.when(ready, rsi > 70).otherwise(F.lit(False)).alias("is_overbought"),
        F.when(ready, rsi < 30).otherwise(F.lit(False)).alias("is_oversold"),
    )


#: Changepoint scan geometry: the LATEST CP_WINDOW events per user,
#: splits with at least CP_MIN_SIDE points per side, and the scan
#: statistic threshold (in pooled-sigma units) for the detection flag.
CP_WINDOW = 32
CP_MIN_SIDE = 4
CP_THRESHOLD = 3.0

_CP_ORACLE = f"""
    WITH ranked AS (
      SELECT user_id, ts, event_id, ROUND(value * 100) AS vc,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    win AS (
      SELECT user_id, list(vc ORDER BY ts, event_id) AS a
      FROM ranked WHERE rn <= {CP_WINDOW} GROUP BY user_id
    ),
    scanned AS (
      SELECT user_id, len(a) AS n,
             list_sum(a) AS tot,
             list_sum([x * x FOR x IN a]) AS tot2,
             list_max([
               CAST(floor(
                 abs(list_sum(a[1:s]) / CAST(s AS DOUBLE)
                     - (list_sum(a) - list_sum(a[1:s]))
                       / CAST(len(a) - s AS DOUBLE))
                 * sqrt(s * (len(a) - s) / CAST(len(a) AS DOUBLE))
                 * 1000000) AS BIGINT) * 64 + (63 - s)
               FOR s IN range({CP_MIN_SIDE}, len(a) - {CP_MIN_SIDE} + 1)])
               AS best_key
      FROM win WHERE len(a) >= {2 * CP_MIN_SIDE}
    )
    SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(63 - best_key % 64 AS BIGINT) AS split_pos,
           (best_key // 64) / 100000000.0 AS scan_stat,
           (best_key // 64) / 1000000.0 / 100.0
             > {CP_THRESHOLD} * sqrt(GREATEST(
                 (tot2 - tot * (tot / CAST(n AS DOUBLE))) / (n - 1), 1e-9))
               / 100.0 AS changepoint_detected
    FROM scanned
"""


@register("win_changepoint_scan", oracle=_CP_ORACLE)
def win_changepoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint scan per user (binary segmentation, round 1):
    over the user's latest {CP_WINDOW} events, find the split
    maximizing |mean(before) - mean(after)| * sqrt(s(n-s)/n) — the
    two-sample scan statistic whose max is the classic mean-shift
    changepoint estimator. Flags when the max exceeds
    {CP_THRESHOLD} pooled sigmas: win_cusum_drift answers "is the
    level drifting NOW", this answers "WHERE did the level break" —
    the localization step an incident review runs after the alert.

    Scale/determinism: one user_id shuffle; the window array is
    ts-ordered integer CENTS so every prefix sum is exact; the
    argmax packs floor-scaled stat and split into ONE BIGINT key
    (stat * 64 + (63 - s), preferring larger stat then EARLIER split)
    so cross-engine tie-breaks are integer comparisons, never float
    ones. The detection flag compares the micro-unit stat against the
    pooled sigma from exact (sum, sumsq); users with fewer than
    {2 * CP_MIN_SIDE} points emit nothing (no valid split)."""
    t = load(spark, sf_dir)
    wdesc = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = t.events.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).alias("vc"),
        F.row_number().over(wdesc).alias("rn"),
    ).where(F.col("rn") <= CP_WINDOW)
    win = ranked.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "vc"))),
            lambda x: x["vc"],
        ).alias("a")
    )
    a = F.col("a")
    n = F.size(a)
    tot = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)
    tot2 = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)

    def _key(s):
        p = F.aggregate(F.slice(a, 1, s), F.lit(0.0), lambda acc, x: acc + x)
        gap = F.abs(
            p / s.cast("double") - (tot - p) / (n - s).cast("double")
        ) * F.sqrt(s * (n - s) / n.cast("double"))
        return F.floor(gap * 1_000_000).cast("bigint") * 64 + (63 - s)

    keys = F.transform(
        F.sequence(F.lit(CP_MIN_SIDE), n - CP_MIN_SIDE), _key
    )
    scanned = win.where(n >= 2 * CP_MIN_SIDE).select(
        "user_id",
        n.alias("n"),
        tot.alias("tot"),
        tot2.alias("tot2"),
        F.array_max(keys).alias("best_key"),
    )
    stat_u = F.col("best_key").cast("bigint") / 64
    stat_cents = F.floor(stat_u) / 1_000_000.0
    sigma = F.sqrt(
        F.greatest(
            (F.col("tot2") - F.col("tot") * (F.col("tot") / F.col("n").cast("double")))
            / (F.col("n") - 1),
            F.lit(1e-9),
        )
    )
    return scanned.select(
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        (63 - F.col("best_key") % 64).cast("bigint").alias("split_pos"),
        (F.floor(stat_u) / 100_000_000.0).alias("scan_stat"),
        (stat_cents / 100.0 > CP_THRESHOLD * sigma / 100.0).alias(
            "changepoint_detected"
        ),
    )


#: Rescaled-range geometry: the two-point Hurst estimate compares R/S
#: on the user's latest RS_WINDOW events vs its trailing half.
RS_WINDOW = 32

_RS_EXPR_SQL = """
      list_transform(range(1, len({a}) + 1),
        i -> list_sum({a}[1:i]) - i * (list_sum({a}) / len({a})))
"""


def _rs_sql(a: str) -> str:
    devs = _RS_EXPR_SQL.format(a=a)
    return f"""
      CASE WHEN sqrt(GREATEST(
             (list_sum([x * x FOR x IN {a}])
              - list_sum({a}) * (list_sum({a}) / len({a}))) / len({a}), 0))
             > 0
           THEN (list_max({devs}) - list_min({devs}))
                / sqrt(GREATEST(
                    (list_sum([x * x FOR x IN {a}])
                     - list_sum({a}) * (list_sum({a}) / len({a})))
                    / len({a}), 0))
      END
"""


_RS_ORACLE = f"""
    WITH ranked AS (
      SELECT user_id, ts, event_id, ROUND(value * 100) AS vc,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    win AS (
      SELECT user_id, list(vc ORDER BY ts, event_id) AS a
      FROM ranked WHERE rn <= {RS_WINDOW} GROUP BY user_id
      HAVING COUNT(*) = {RS_WINDOW}
    ),
    halves AS (
      SELECT user_id, a, a[{RS_WINDOW // 2 + 1}:{RS_WINDOW}] AS h FROM win
    )
    SELECT user_id,
           floor(({_rs_sql("h")}) * 10000) / 10000 AS rs_half,
           floor(({_rs_sql("a")}) * 10000) / 10000 AS rs_full,
           floor(log2(({_rs_sql("a")}) / ({_rs_sql("h")})) * 10000) / 10000
             AS hurst
    FROM halves
    WHERE ({_rs_sql("a")}) IS NOT NULL AND ({_rs_sql("h")}) IS NOT NULL
      AND ({_rs_sql("h")}) > 0
"""


@register("win_rescaled_range", oracle=_RS_ORACLE)
def win_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-point Hurst estimate per user via rescaled-range (R/S)
    analysis over the latest {RS_WINDOW} events: R/S on the full
    window vs its trailing half, H = log2(RS_full / RS_half) — the
    long-memory fingerprint (H ~ 0.5 random walk / white noise,
    H > 0.5 trending/persistent, H < 0.5 mean-reverting), the
    multi-scale companion of agg_autocorr's fixed-lag view. Users
    without a full window, or with a degenerate (zero-variance) half,
    emit nothing.

    Determinism/scale: one user_id shuffle; the window array is
    ts-ordered integer CENTS so list prefix sums are exact integers,
    cumulative deviations are identical expressions over them, and
    both engines compute bit-equal R and S before one log2 on equal
    doubles (the agg_mutual_info precedent); outputs floor-scaled."""
    t = load(spark, sf_dir)
    wdesc = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    win = (
        t.events.select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value") * 100).alias("vc"),
            F.row_number().over(wdesc).alias("rn"),
        )
        .where(F.col("rn") <= RS_WINDOW)
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "vc"))),
                lambda x: x["vc"],
            ).alias("a"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == RS_WINDOW)
        .select(
            "user_id",
            "a",
            F.slice("a", RS_WINDOW // 2 + 1, RS_WINDOW // 2).alias("h"),
        )
    )

    def _rs(a):
        # ANSI mode: divisions must be safe even on rows the count
        # filter will drop — Catalyst can evaluate this projection
        # before that filter, and an empty half-slice has size 0.
        n = F.greatest(F.size(a), F.lit(1))
        tot = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)
        tot2 = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
        mean = tot / n
        devs = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.aggregate(
                F.slice(a, 1, i), F.lit(0.0), lambda acc, x: acc + x
            )
            - i * mean,
        )
        sd = F.sqrt(F.greatest((tot2 - tot * mean) / n, F.lit(0.0)))
        return F.when(
            sd > 0, (F.array_max(devs) - F.array_min(devs)) / sd
        )

    rs_f = _rs(F.col("a"))
    rs_h = _rs(F.col("h"))
    return (
        win.select("user_id", rs_h.alias("rsh"), rs_f.alias("rsf"))
        .where(F.col("rsh").isNotNull() & F.col("rsf").isNotNull() & (F.col("rsh") > 0))
        .select(
            "user_id",
            (F.floor(F.col("rsh") * 10_000) / 10_000).alias("rs_half"),
            (F.floor(F.col("rsf") * 10_000) / 10_000).alias("rs_full"),
            F.when(
                F.col("rsh") > 0,
                F.floor(F.log2(F.col("rsf") / F.col("rsh")) * 10_000) / 10_000,
            ).alias("hurst"),
        )
    )


#: SPC rule frames (Western Electric): rule 1 = point beyond 3 sigma;
#: rule 2 = 2 of 3 consecutive beyond 2 sigma (same side); rule 4 =
#: 8 consecutive on one side of the center line.
SPC_RUN = 8

_SPC_ORACLE = f"""
    WITH base AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(value * 100) AS BIGINT)
                 * CAST(ROUND(value * 100) AS BIGINT)) AS s2
      FROM events GROUP BY event_type
    ),
    lim AS (
      SELECT event_type,
             s1 / 100.0 / n AS mu,
             sqrt((s2 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n)
                  / (n - 1)) AS sigma
      FROM base
    ),
    scored AS (
      SELECT e.event_id, e.event_type, e.user_id,
             CASE WHEN e.value > l.mu THEN 1
                  WHEN e.value < l.mu THEN -1 ELSE 0 END AS side,
             CAST(abs(e.value - l.mu) > 3 * l.sigma AS INTEGER) AS beyond3,
             CASE WHEN e.value - l.mu > 2 * l.sigma THEN 1
                  WHEN l.mu - e.value > 2 * l.sigma THEN -1
                  ELSE 0 END AS beyond2,
             row_number() OVER w AS rn
      FROM events e JOIN lim l USING (event_type)
      WINDOW w AS (PARTITION BY e.user_id, e.event_type
                   ORDER BY e.ts, e.event_id)
    ),
    rules AS (
      SELECT event_id, event_type, user_id,
             beyond3 = 1 AS rule1_beyond_3s,
             (SUM(CASE WHEN beyond2 = 1 THEN 1 ELSE 0 END) OVER w3 >= 2
              OR SUM(CASE WHEN beyond2 = -1 THEN 1 ELSE 0 END) OVER w3 >= 2)
               AS rule2_two_of_three,
             (SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER w8 = {SPC_RUN}
              OR SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END) OVER w8
                 = {SPC_RUN}) AND rn >= {SPC_RUN} AS rule4_run_of_8
      FROM scored
      WINDOW w3 AS (PARTITION BY user_id, event_type ORDER BY rn
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             w8 AS (PARTITION BY user_id, event_type ORDER BY rn
                    ROWS BETWEEN {SPC_RUN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, user_id,
           rule1_beyond_3s, rule2_two_of_three, rule4_run_of_8,
           rule1_beyond_3s OR rule2_two_of_three OR rule4_run_of_8
             AS out_of_control
    FROM rules
"""


@register("win_spc_rules", oracle=_SPC_ORACLE)
def win_spc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control (Western Electric rules) per user
    stream against each event type's global control limits: rule 1 =
    one point beyond 3 sigma, rule 2 = two of three consecutive beyond
    2 sigma on the same side, rule 4 = {SPC_RUN} consecutive on one
    side of the center line — the PATTERN-based monitor that catches
    shifts win_zscore_anomaly's single-point threshold misses (a
    process can drift out of control without any one point being
    extreme; that is exactly what rules 2 and 4 exist for).

    Scale/determinism: control limits come from exact integer-CENTS
    sufficient stats on the TYPE domain, broadcast back; the rule
    windows are short ROWS frames over the shared (user, type) shuffle
    counting exact -1/0/+1 side flags — integer comparisons end to
    end, no float folds anywhere past the (identical) limit
    arithmetic."""
    t = load(spark, sf_dir)
    vc = F.round(F.col("value") * 100).cast("bigint")
    base = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vc).alias("s1"),
        F.sum(vc * vc).alias("s2"),
    )
    mu = F.col("s1") / 100.0 / F.col("n")
    sigma = F.sqrt(
        (F.col("s2") / 10_000.0 - (F.col("s1") / 100.0) * (F.col("s1") / 100.0) / F.col("n"))
        / (F.col("n") - 1)
    )
    lim = base.select("event_type", mu.alias("mu"), sigma.alias("sigma"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    scored = t.events.join(F.broadcast(lim), "event_type").select(
        "event_id",
        "event_type",
        "user_id",
        F.when(F.col("value") > F.col("mu"), 1)
        .when(F.col("value") < F.col("mu"), -1)
        .otherwise(0)
        .alias("side"),
        (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"))
        .cast("int")
        .alias("beyond3"),
        F.when(F.col("value") - F.col("mu") > 2 * F.col("sigma"), 1)
        .when(F.col("mu") - F.col("value") > 2 * F.col("sigma"), -1)
        .otherwise(0)
        .alias("beyond2"),
        F.row_number().over(w).alias("rn"),
    )
    wr = Window.partitionBy("user_id", "event_type").orderBy("rn")
    w3 = wr.rowsBetween(-2, 0)
    w8 = wr.rowsBetween(-(SPC_RUN - 1), 0)
    r1 = F.col("beyond3") == 1
    r2 = (
        F.sum(F.when(F.col("beyond2") == 1, 1).otherwise(0)).over(w3) >= 2
    ) | (F.sum(F.when(F.col("beyond2") == -1, 1).otherwise(0)).over(w3) >= 2)
    r4 = (
        (F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).over(w8) == SPC_RUN)
        | (
            F.sum(F.when(F.col("side") == -1, 1).otherwise(0)).over(w8)
            == SPC_RUN
        )
    ) & (F.col("rn") >= SPC_RUN)
    return scored.select(
        "event_id",
        "event_type",
        "user_id",
        r1.alias("rule1_beyond_3s"),
        r2.alias("rule2_two_of_three"),
        r4.alias("rule4_run_of_8"),
        (r1 | r2 | r4).alias("out_of_control"),
    )


#: Stochastic-oscillator lookback (the classic 14) and %D smoothing (3).
STOCH_N = 14
STOCH_D = 3

_STOCH_ORACLE = f"""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    k AS (
      SELECT user_id, event_id,
             CASE WHEN COUNT(*) OVER w = {STOCH_N}
                       AND MAX(cents) OVER w > MIN(cents) OVER w
                  THEN floor(100.0 * (cents - MIN(cents) OVER w)
                             / (MAX(cents) OVER w - MIN(cents) OVER w)
                             * 10000) / 10000
             END AS pct_k,
             ts
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {STOCH_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, pct_k,
           CASE WHEN COUNT(pct_k) OVER d = {STOCH_D}
                THEN ROUND(AVG(pct_k) OVER d, 4) END AS pct_d
    FROM k
    WINDOW d AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {STOCH_D - 1} PRECEDING AND CURRENT ROW)
"""


@register("win_stochastic_oscillator", oracle=_STOCH_ORACLE)
def win_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K/%D per user event stream: %K = position
    of the current value inside its trailing {STOCH_N}-row min/max
    channel (0 = at the low, 100 = at the high), %D = {STOCH_D}-period
    average of %K — the RANGE-relative momentum gauge beside win_rsi's
    gain/loss-relative one (RSI says how one-sided recent moves are;
    %K says where the price sits in its recent envelope). Null until a
    full lookback, and null %K when the channel is flat (max == min —
    division undefined; both engines agree via the same guard).

    Scale/determinism: one (user_id) shuffle, two stacked ROWS windows;
    the channel min/max are exact integer cents, %K floor-quantizes to
    the 4-dp lattice BEFORE %D averages it (3 exact lattice points ->
    one identical division), the win_ewma doctrine."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    order = [F.col("ts"), F.col("event_id")]
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(-(STOCH_N - 1), 0)
    )
    wd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(-(STOCH_D - 1), 0)
    )
    c = t.events.select("user_id", "event_id", "ts", cents.alias("cents"))
    hi, lo = F.max("cents").over(w), F.min("cents").over(w)
    pct_k = F.when(
        (F.count(F.lit(1)).over(w) == STOCH_N) & (hi > lo),
        F.floor(
            100.0 * (F.col("cents") - lo) / (hi - lo) * 10_000
        )
        / 10_000,
    )
    k = c.select("user_id", "event_id", "ts", pct_k.alias("pct_k"))
    pct_d = F.when(
        F.count("pct_k").over(wd) == STOCH_D,
        F.round(F.avg("pct_k").over(wd), 4),
    )
    return k.select(
        "user_id", "event_id", "pct_k", pct_d.alias("pct_d")
    )


#: Ulcer-index lookback (Peter Martin's 14-period convention).
ULCER_N = 14

_ULCER_ORACLE = f"""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    dd AS (
      SELECT user_id, event_id, ts,
             CAST(floor(
               POWER(100.0 * (MAX(cents) OVER p - cents)
                     / MAX(cents) OVER p, 2) * 10000) AS BIGINT) AS dd2_units
      FROM c
      WINDOW p AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CASE WHEN COUNT(*) OVER w = {ULCER_N}
                THEN ROUND(sqrt(SUM(dd2_units) OVER w
                                / ({ULCER_N} * 10000.0)), 6)
           END AS ulcer_index
    FROM dd
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {ULCER_N - 1} PRECEDING AND CURRENT ROW)
"""


@register("win_ulcer_index", oracle=_ULCER_ORACLE)
def win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index per user stream: root-mean-square of the trailing
    {ULCER_N} percentage drawdowns from the running peak — the
    DEPTH-AND-DURATION risk measure win_drawdown's single max-drawdown
    number cannot give (two streams with the same max drawdown differ
    enormously in how long they sat underwater; UI prices that). The
    denominator convention is drawdown from the RUNNING peak, so UI is
    monotone-invariant to scale.

    Scale/determinism: one (user_id) shuffle, running-max + one ROWS
    window on top; each squared-drawdown quantizes to integer 1e-4
    units BEFORE the rolling sum (exact integer fold), sqrt of one
    identical division at the end."""
    t = load(spark, sf_dir)
    order = [F.col("ts"), F.col("event_id")]
    wp = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(-(ULCER_N - 1), 0)
    )
    c = t.events.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    peak = F.max("cents").over(wp)
    dd2 = (
        F.floor(
            F.pow(100.0 * (peak - F.col("cents")) / peak, 2) * 10_000
        )
        .cast("bigint")
        .alias("dd2_units")
    )
    dd = c.select("user_id", "event_id", "ts", dd2)
    ui = F.when(
        F.count(F.lit(1)).over(w) == ULCER_N,
        F.round(
            F.sqrt(F.sum("dd2_units").over(w) / (ULCER_N * 10_000.0)), 6
        ),
    )
    return dd.select("user_id", "event_id", ui.alias("ulcer_index"))


_VWAP_ORACLE = """
    SELECT l_partkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) OVER w
                AS BIGINT) AS cum_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS cum_qty,
           floor(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) OVER w
                 / 100.0
                 / SUM(CAST(l_quantity AS BIGINT)) OVER w * 10000) / 10000
             AS vwap
    FROM lineitem
    WINDOW w AS (PARTITION BY l_partkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("win_vwap", oracle=_VWAP_ORACLE)
def win_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running volume-weighted average price per part, in ship-date
    order: cumulative revenue / cumulative quantity — the execution-
    quality benchmark of every trading desk, mapped onto the catalog
    ("what has a unit of this part actually sold for so far?"), and the
    weighted complement of win_running_sum's unweighted prefix sums.
    l_extendedprice IS price x quantity in TPC-H, so revenue/quantity
    is the quantity-weighted unit price by construction.

    Scale/determinism: one (l_partkey) shuffle — partitions are
    catalog-keyed and shallow (per-part line counts are bounded by
    order fan-in, no hot key); both prefix sums are exact integers
    (cents, units); VWAP is their single division on the 4-dp round."""
    t = load(spark, sf_dir)
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    qty = F.col("l_quantity").cast("bigint")
    cum_c = F.sum(cents).over(w)
    cum_q = F.sum(qty).over(w)
    return t.lineitem.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        cum_c.cast("bigint").alias("cum_cents"),
        cum_q.cast("bigint").alias("cum_qty"),
        # floor-scaled, not round: the quotient can land a hair under
        # a .5 lattice point where HALF_UP (Spark) and DuckDB disagree
        (F.floor(cum_c / 100.0 / cum_q * 10_000) / 10_000).alias("vwap"),
    )


_PARKINSON_ORACLE = """
    WITH bars AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS hi,
             MIN(CAST(ROUND(value * 100) AS BIGINT)) AS lo,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    t AS (
      SELECT user_id, day, hi, lo, n_events,
             CAST(floor(POWER(ln(hi / CAST(lo AS DOUBLE)), 2) * 100000000)
                  AS BIGINT) AS lnhl2_units
      FROM bars WHERE lo > 0 AND n_events >= 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(sqrt(SUM(lnhl2_units) / 100000000.0
                      / (4.0 * ln(2.0) * COUNT(*))), 6)
             AS parkinson_vol
    FROM t GROUP BY user_id
"""


@register("win_parkinson_volatility", oracle=_PARKINSON_ORACLE)
def win_parkinson_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson range-based volatility per user: sigma_P =
    sqrt(mean(ln(H/L)^2) / (4 ln 2)) over DAILY high/low value bars —
    the estimator that extracts ~5x more information per bar than
    close-to-close stddev by using the intraday RANGE (win_bollinger's
    sigma sees only sampled closes; two streams with identical closes
    but wildly different intra-day swings get the same Bollinger bands
    and very different Parkinson vol). Single-event days are excluded
    (no range).

    Scale/determinism: events reduce to the (user x DAY) bar frame
    with combinable integer-cents MIN/MAX; each ln^2 term quantizes to
    1e-8 units before the exact per-user fold; one identical
    sqrt-division at the end."""
    t = load(spark, sf_dir)
    bars = t.events.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.max(F.round(F.col("value") * 100).cast("bigint")).alias("hi"),
        F.min(F.round(F.col("value") * 100).cast("bigint")).alias("lo"),
        F.count(F.lit(1)).alias("n_events"),
    )
    lnhl2 = F.floor(
        F.pow(F.log(F.col("hi") / F.col("lo").cast("double")), 2)
        * 100_000_000
    ).cast("bigint")
    tt = bars.where((F.col("lo") > 0) & (F.col("n_events") >= 2)).select(
        "user_id", lnhl2.alias("lnhl2_units")
    )
    n = F.count(F.lit(1))
    return tt.groupBy("user_id").agg(
        n.cast("bigint").alias("n_days"),
        F.round(
            F.sqrt(
                F.sum("lnhl2_units")
                / 100_000_000.0
                / (4.0 * F.log(F.lit(2.0)) * n)
            ),
            6,
        ).alias("parkinson_vol"),
    )


_OBV_ORACLE = """
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    sgn AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(cents) OVER w IS NULL THEN 0
                  WHEN cents > lag(cents) OVER w THEN 1
                  WHEN cents < lag(cents) OVER w THEN -1
                  ELSE 0 END AS flow
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(SUM(flow) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS obv
    FROM sgn
"""


@register("win_obv", oracle=_OBV_ORACLE)
def win_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per user stream (unit-volume form): the
    cumulative count of up-moves minus down-moves — the
    accumulation/distribution pressure gauge whose DIVERGENCE from the
    value level is the classic early-warning signal (value flat while
    OBV climbs = pressure building; win_rsi measures magnitude
    one-sidedness, OBV measures persistent direction). Flat ticks and
    each stream's first row contribute zero.

    Scale/determinism: one (user_id) shuffle shared by the lag and the
    running sum (same ordering, subset frames); the flow is an exact
    integer sign per row, so the prefix sum is an exact integer fold."""
    t = load(spark, sf_dir)
    order = [F.col("ts"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = t.events.select("user_id", "event_id", "ts", cents.alias("cents"))
    prev = F.lag("cents").over(w)
    flow = (
        F.when(prev.isNull(), 0)
        .when(F.col("cents") > prev, 1)
        .when(F.col("cents") < prev, -1)
        .otherwise(0)
    )
    sgn = c.select("user_id", "event_id", "ts", flow.alias("flow"))
    return sgn.select(
        "user_id",
        "event_id",
        F.sum("flow").over(w_run).cast("bigint").alias("obv"),
    )


#: Crossover frame lengths: the "fast" and "slow" truncated EWMAs (both
#: alpha = 0.5 so every weight stays an exact dyadic, the win_ewma
#: determinism trick — speed comes from the frame depth, not the decay).
CROSS_FAST = 4
CROSS_SLOW = 16


def _ewma_sql(frame: int) -> str:
    return f"""
             list_sum([f{frame}[i + 1] * pow(0.5, len(f{frame}) - 1 - i)
                       FOR i IN range(len(f{frame}))])
             / (2 - pow(0.5, len(f{frame}) - 1))"""


_CROSSOVER_ORACLE = f"""
    WITH framed AS (
      SELECT event_id, user_id, ts,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN {CROSS_FAST - 1} PRECEDING
                                        AND CURRENT ROW) AS f{CROSS_FAST},
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN {CROSS_SLOW - 1} PRECEDING
                                        AND CURRENT ROW) AS f{CROSS_SLOW}
      FROM events
    ),
    sig AS (
      SELECT event_id, user_id, ts,
             CASE WHEN floor(({_ewma_sql(CROSS_FAST)}) * 10000)
                       > floor(({_ewma_sql(CROSS_SLOW)}) * 10000) THEN 1
                  WHEN floor(({_ewma_sql(CROSS_FAST)}) * 10000)
                       < floor(({_ewma_sql(CROSS_SLOW)}) * 10000) THEN -1
                  ELSE 0 END AS stance
      FROM framed
    )
    SELECT event_id, user_id, stance,
           CASE WHEN lag(stance) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NOT NULL
                     AND lag(stance) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) <> stance
                     AND stance <> 0
                THEN (CASE WHEN stance = 1 THEN 'golden_cross'
                           ELSE 'death_cross' END)
           END AS crossover
    FROM sig
"""


@register("win_ewma_crossover", oracle=_CROSSOVER_ORACLE)
def win_ewma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast/slow EWMA crossover signal per user stream: stance = sign
    of (EWMA-{CROSS_FAST} minus EWMA-{CROSS_SLOW}) on the 4-dp lattice,
    with golden/death-cross events where the stance flips — the classic
    trend-following trigger built from win_ewma's machinery (both
    smoothers keep alpha = 1/2 so every weight is an exact DYADIC and
    the fold is bit-stable cross-engine; fast-vs-slow comes from frame
    DEPTH, which is the truncated-EWMA version of the 12/26 MACD split
    whose non-dyadic decays cannot be pinned across engines).

    Scale/determinism: one user_id shuffle; both frames collect off the
    same window sort; the weighted folds are identical Column
    expressions; stances compare FLOORED lattice values so sub-lattice
    drift cannot flip a cross."""
    t = load(spark, sf_dir)
    order = [F.col("ts"), F.col("event_id")]

    def ewma_col(frame_len: int):
        w = (
            Window.partitionBy("user_id")
            .orderBy(*order)
            .rowsBetween(-(frame_len - 1), 0)
        )
        return _half_life_ewma(F.collect_list("value").over(w))

    fast = F.floor(ewma_col(CROSS_FAST) * 10_000)
    slow = F.floor(ewma_col(CROSS_SLOW) * 10_000)
    stance = (
        F.when(fast > slow, 1).when(fast < slow, -1).otherwise(0)
    )
    sig = t.events.select(
        "event_id", "user_id", "ts", stance.alias("stance")
    )
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    prev = F.lag("stance").over(w_lag)
    crossover = F.when(
        prev.isNotNull() & (prev != F.col("stance")) & (F.col("stance") != 0),
        F.when(F.col("stance") == 1, "golden_cross").otherwise("death_cross"),
    )
    return sig.select(
        "event_id", "user_id", "stance", crossover.alias("crossover")
    )


#: ATR smoothing span in daily bars (Wilder's classic 14).
ATR_SPAN = 14

_ATR_ORACLE = f"""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    bars AS (
      SELECT event_type, day, MAX(c) AS hi, MIN(c) AS lo,
             MAX(CASE WHEN rn = 1 THEN c END) AS cls
      FROM c GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day,
             GREATEST(
               hi - lo,
               ABS(hi - LAG(cls) OVER w),
               ABS(lo - LAG(cls) OVER w)
             ) AS tr_c
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(tr_c / 100.0, 2) AS true_range,
           ROUND(AVG(tr_c) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN {ATR_SPAN - 1} PRECEDING
                                 AND CURRENT ROW) / 100.0, 4) AS atr
    FROM tr WHERE tr_c IS NOT NULL
"""


@register("win_atr", oracle=_ATR_ORACLE)
def win_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range over daily value bars per event type
    (Wilder's volatility unit, {ATR_SPAN}-bar simple smoothing): true
    range = max(high-low, |high-prev_close|, |low-prev_close|) — the
    gap-aware range that plain high-low misses, and the denominator
    every breakout/stop-distance rule in the win_bollinger/win_rsi
    family quotes. The first bar has no previous close, so its
    TR is plain high-low (Wilder's own seeding; both engines'
    GREATEST skips the null lag identically).

    Scale/determinism: events reduce to the (type x DAY)-domain bar
    frame via combinable min/max/min_by/max_by cents partials
    (rollup_ohlc_bars doctrine) BEFORE any window; the lag and the
    {ATR_SPAN}-row mean run on that bounded frame; integer cents
    throughout, two final divisions."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        t.events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            cents.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.max("c").alias("hi"),
            F.min("c").alias("lo"),
            F.max_by("c", key).alias("cls"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev_cls = F.lag("cls").over(w)
    tr_c = F.greatest(
        F.col("hi") - F.col("lo"),
        F.abs(F.col("hi") - prev_cls),
        F.abs(F.col("lo") - prev_cls),
    )
    tr = bars.select(
        "event_type", "day", tr_c.alias("tr_c")
    ).where(F.col("tr_c").isNotNull())
    w_atr = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(ATR_SPAN - 1), 0)
    )
    return tr.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.round(F.col("tr_c") / 100.0, 2).alias("true_range"),
        F.round(F.avg("tr_c").over(w_atr) / 100.0, 4).alias("atr"),
    )


#: Donchian channel lookback in daily bars.
DONCHIAN_SPAN = 20

_DONCHIAN_ORACLE = f"""
    WITH bars AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS hi,
             MIN(CAST(ROUND(value * 100) AS BIGINT)) AS lo
      FROM events GROUP BY 1, 2
    ),
    chan AS (
      SELECT event_type, day, hi, lo,
             MAX(hi) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN {DONCHIAN_SPAN} PRECEDING
                           AND 1 PRECEDING) AS ch_hi,
             MIN(lo) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN {DONCHIAN_SPAN} PRECEDING
                           AND 1 PRECEDING) AS ch_lo
      FROM bars
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(ch_hi / 100.0, 2) AS channel_high,
           ROUND(ch_lo / 100.0, 2) AS channel_low,
           hi > ch_hi AS breakout_up,
           lo < ch_lo AS breakout_down
    FROM chan WHERE ch_hi IS NOT NULL
"""


@register("win_donchian", oracle=_DONCHIAN_ORACLE)
def win_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel per event type: the trailing {DONCHIAN_SPAN}-day
    high/low band EXCLUDING today, plus breakout flags when today's bar
    escapes it — the oldest breakout system and the band win_bollinger
    prices statistically, here as pure order statistics (no mean/std
    assumption, so one wild day widens the channel for {DONCHIAN_SPAN}
    days instead of inflating a std estimate). First day drops — an
    empty trailing window has no channel.

    Scale/determinism: events reduce to the (type x DAY)-domain bar
    frame (combinable min/max cents) before the windows; the
    1-PRECEDING frame end keeps today out of its own channel (the
    classic off-by-one that turns a breakout rule into a tautology);
    integer cents until two final divisions."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    bars = (
        t.events.select(
            "event_type", F.to_date("ts").alias("day"), cents.alias("c")
        )
        .groupBy("event_type", "day")
        .agg(F.max("c").alias("hi"), F.min("c").alias("lo"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-DONCHIAN_SPAN, -1)
    )
    chan = bars.select(
        "event_type",
        "day",
        "hi",
        "lo",
        F.max("hi").over(w).alias("ch_hi"),
        F.min("lo").over(w).alias("ch_lo"),
    )
    return chan.where(F.col("ch_hi").isNotNull()).select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.round(F.col("ch_hi") / 100.0, 2).alias("channel_high"),
        F.round(F.col("ch_lo") / 100.0, 2).alias("channel_low"),
        (F.col("hi") > F.col("ch_hi")).alias("breakout_up"),
        (F.col("lo") < F.col("ch_lo")).alias("breakout_down"),
    )


#: Pivot confirmation width: a bar is a pivot high/low when it beats
#: the K bars on BOTH sides (so detection lags K days — the forward
#: frame is the point of the operator).
PIVOT_K = 3

_PIVOT_ORACLE = f"""
    WITH bars AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS hi,
             MIN(CAST(ROUND(value * 100) AS BIGINT)) AS lo
      FROM events GROUP BY 1, 2
    ),
    flags AS (
      SELECT event_type, day, hi, lo,
             COUNT(*) OVER w AS n_win,
             MAX(hi) OVER w AS max_hi, MIN(lo) OVER w AS min_lo,
             SUM(CASE WHEN 1=1 THEN 1 END)
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {PIVOT_K} PRECEDING AND 1 PRECEDING)
               AS n_before
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {PIVOT_K} PRECEDING
                   AND {PIVOT_K} FOLLOWING)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(hi / 100.0, 2) AS high,
           ROUND(lo / 100.0, 2) AS low,
           hi = max_hi AS pivot_high,
           lo = min_lo AS pivot_low
    FROM flags
    WHERE n_win = 2 * {PIVOT_K} + 1
"""


@register("win_pivot_points", oracle=_PIVOT_ORACLE)
def win_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractal pivot highs/lows per event type: a day whose bar beats
    the {PIVOT_K} days on BOTH sides — the swing points every
    support/resistance and zig-zag construction starts from, and the
    family's one FORWARD-frame exemplar (win_pattern_vshape looks back;
    a pivot is only confirmable {PIVOT_K} days late, which the
    FOLLOWING frame makes explicit rather than hiding behind a lagged
    join). Edge days without a full two-sided window drop — a pivot
    claim needs all 2K+1 bars.

    Scale/determinism: the (type x DAY)-domain bar frame (combinable
    min/max cents) carries one symmetric ROWS window; the completeness
    guard counts window rows, so both engines drop the same edges;
    ties (equal max in the window) CONFIRM the pivot on both bars,
    documented and identical."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    bars = (
        t.events.select(
            "event_type", F.to_date("ts").alias("day"), cents.alias("c")
        )
        .groupBy("event_type", "day")
        .agg(F.max("c").alias("hi"), F.min("c").alias("lo"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-PIVOT_K, PIVOT_K)
    )
    flags = bars.select(
        "event_type",
        "day",
        "hi",
        "lo",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.max("hi").over(w).alias("max_hi"),
        F.min("lo").over(w).alias("min_lo"),
    )
    return flags.where(F.col("n_win") == 2 * PIVOT_K + 1).select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.round(F.col("hi") / 100.0, 2).alias("high"),
        F.round(F.col("lo") / 100.0, 2).alias("low"),
        (F.col("hi") == F.col("max_hi")).alias("pivot_high"),
        (F.col("lo") == F.col("min_lo")).alias("pivot_low"),
    )


#: Ichimoku spans (tenkan/kijun/senkou-B lookbacks + displacement),
#: the classic 9/26/52/26 scaled to the fixture's month-long event
#: window. Production tunes these; the plan shape is span-invariant.
ICHIMOKU_T, ICHIMOKU_K, ICHIMOKU_B, ICHIMOKU_D = 5, 10, 20, 5

_ICHIMOKU_ORACLE = f"""
    WITH bars AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS hi,
             MIN(CAST(ROUND(value * 100) AS BIGINT)) AS lo
      FROM events GROUP BY 1, 2
    ),
    lines AS (
      SELECT event_type, day,
             CASE WHEN COUNT(*) OVER wt = {ICHIMOKU_T}
                  THEN (MAX(hi) OVER wt + MIN(lo) OVER wt) END AS tenkan2,
             CASE WHEN COUNT(*) OVER wk = {ICHIMOKU_K}
                  THEN (MAX(hi) OVER wk + MIN(lo) OVER wk) END AS kijun2,
             CASE WHEN COUNT(*) OVER wb = {ICHIMOKU_B}
                  THEN (MAX(hi) OVER wb + MIN(lo) OVER wb) END AS senkou_b2
      FROM bars
      WINDOW wt AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {ICHIMOKU_T - 1} PRECEDING AND CURRENT ROW),
             wk AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {ICHIMOKU_K - 1} PRECEDING AND CURRENT ROW),
             wb AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {ICHIMOKU_B - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(tenkan2 / 200.0, 3) AS tenkan,
           ROUND(kijun2 / 200.0, 3) AS kijun,
           ROUND(LAG(tenkan2 + kijun2, {ICHIMOKU_D})
                 OVER (PARTITION BY event_type ORDER BY day) / 400.0, 4)
             AS senkou_a,
           ROUND(LAG(senkou_b2, {ICHIMOKU_D})
                 OVER (PARTITION BY event_type ORDER BY day) / 200.0, 3)
             AS senkou_b
    FROM lines
    ORDER BY event_type, day
"""


@register("win_ichimoku", oracle=_ICHIMOKU_ORACLE)
def win_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku lines per event type: tenkan/kijun (short/medium
    trailing channel MIDPOINTS — order statistics, not means, so one
    wild day moves them at most half a channel) and the senkou A/B
    cloud (their average and the long channel midpoint, both DISPLACED
    {ICHIMOKU_D} bars forward — today's cloud was computed D days ago,
    which is what makes cloud crosses leading rather than repainting).
    The midpoint family complements win_donchian (same channels, edges
    instead of midpoints) and win_ewma_crossover (mean-based lines).

    Scale/determinism: events reduce to the (type x DAY)-domain bar
    frame before any window (combinable min/max cents); three stacked
    ROWS frames + two LAGs on that bounded frame; midpoints stay in
    integer 2x-cents (hi+lo) until one final /200 division; full-window
    guards null the warmup rows identically in both engines."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    bars = (
        t.events.select(
            "event_type", F.to_date("ts").alias("day"), cents.alias("c")
        )
        .groupBy("event_type", "day")
        .agg(F.max("c").alias("hi"), F.min("c").alias("lo"))
    )

    def _chan(n: int):
        w = (
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(-(n - 1), 0)
        )
        return F.when(
            F.count(F.lit(1)).over(w) == n,
            F.max("hi").over(w) + F.min("lo").over(w),
        )

    lines = bars.select(
        "event_type",
        "day",
        _chan(ICHIMOKU_T).alias("tenkan2"),
        _chan(ICHIMOKU_K).alias("kijun2"),
        _chan(ICHIMOKU_B).alias("senkou_b2"),
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    return lines.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.round(F.col("tenkan2") / 200.0, 3).alias("tenkan"),
        F.round(F.col("kijun2") / 200.0, 3).alias("kijun"),
        F.round(
            F.lag(F.col("tenkan2") + F.col("kijun2"), ICHIMOKU_D).over(wlag)
            / 400.0,
            4,
        ).alias("senkou_a"),
        F.round(
            F.lag("senkou_b2", ICHIMOKU_D).over(wlag) / 200.0, 3
        ).alias("senkou_b"),
    ).orderBy("event_type", "day")


#: Keltner lookback (Chester Keltner's original 10-day rule).
KELTNER_N = 10

_KELTNER_ORACLE = f"""
    WITH bars AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS hi,
             MIN(CAST(ROUND(value * 100) AS BIGINT)) AS lo
      FROM events GROUP BY 1, 2
    ),
    k AS (
      SELECT event_type, day, hi, lo,
             CASE WHEN COUNT(*) OVER w = {KELTNER_N} THEN
               CAST(SUM(hi + lo) OVER w AS BIGINT) END AS s_mid2,
             CAST(SUM(hi - lo) OVER w AS BIGINT) AS s_rng
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {KELTNER_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(s_mid2 / (2.0 * {KELTNER_N}) / 100.0, 4) AS center,
           ROUND((s_mid2 / (2.0 * {KELTNER_N}) + s_rng / CAST({KELTNER_N} AS DOUBLE))
                 / 100.0, 4) AS upper_band,
           ROUND((s_mid2 / (2.0 * {KELTNER_N}) - s_rng / CAST({KELTNER_N} AS DOUBLE))
                 / 100.0, 4) AS lower_band,
           (hi > s_mid2 / (2.0 * {KELTNER_N}) + s_rng / CAST({KELTNER_N} AS DOUBLE))
             AS break_upper,
           (lo < s_mid2 / (2.0 * {KELTNER_N}) - s_rng / CAST({KELTNER_N} AS DOUBLE))
             AS break_lower
    FROM k WHERE s_mid2 IS NOT NULL
    ORDER BY event_type, day
"""


@register("win_keltner", oracle=_KELTNER_ORACLE)
def win_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channel per event type: {KELTNER_N}-day moving average
    of the bar MIDPOINT, banded by the same-window average daily RANGE
    (Chester Keltner's original 10-day rule, midpoint standing in for
    the close-dependent typical price — documented deviation, close
    needs an argmax the bar fold deliberately avoids). The
    volatility-scaled band beside win_donchian's order-statistic
    channel and win_bollinger's std band: range-average bands widen
    smoothly with volatility instead of jumping with one extreme
    (Donchian) or squaring it (Bollinger).

    Scale/determinism: (type x DAY)-domain bars first; ONE ROWS frame
    computes both integer sums (sum(hi+lo), sum(hi-lo)); bands are two
    exact-integer divisions combined in one identical double
    expression; warmup rows drop via the full-window guard."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    bars = (
        t.events.select(
            "event_type", F.to_date("ts").alias("day"), cents.alias("c")
        )
        .groupBy("event_type", "day")
        .agg(F.max("c").alias("hi"), F.min("c").alias("lo"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(KELTNER_N - 1), 0)
    )
    k = bars.select(
        "event_type",
        "day",
        "hi",
        "lo",
        F.when(
            F.count(F.lit(1)).over(w) == KELTNER_N,
            F.sum(F.col("hi") + F.col("lo")).over(w).cast("bigint"),
        ).alias("s_mid2"),
        F.sum(F.col("hi") - F.col("lo")).over(w).cast("bigint").alias("s_rng"),
    )
    center = F.col("s_mid2") / (2.0 * KELTNER_N)
    band = F.col("s_rng") / float(KELTNER_N)
    return (
        k.where(F.col("s_mid2").isNotNull())
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            F.round(center / 100.0, 4).alias("center"),
            F.round((center + band) / 100.0, 4).alias("upper_band"),
            F.round((center - band) / 100.0, 4).alias("lower_band"),
            (F.col("hi") > center + band).alias("break_upper"),
            (F.col("lo") < center - band).alias("break_lower"),
        )
        .orderBy("event_type", "day")
    )


#: Aroon lookback (bars incl. today); days-since counts run 0..N-1.
AROON_N = 10
#: Composite-encode base for the argmax trick: idx < this, so
#: hi * BASE + idx orders by (hi, idx) — ties pick the LARGER idx,
#: i.e. the most recent extreme, the charting convention. The day
#: domain stays < 100k rows per type for three centuries of dailies.
_AROON_BASE = 100_000

_AROON_ORACLE = f"""
    WITH bars AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS hi,
             MIN(CAST(ROUND(value * 100) AS BIGINT)) AS lo
      FROM events GROUP BY 1, 2
    ),
    idxed AS (
      SELECT event_type, day, hi, lo,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS idx
      FROM bars
    ),
    am AS (
      SELECT event_type, day, idx,
             CASE WHEN COUNT(*) OVER w = {AROON_N} THEN
               MAX(hi * {_AROON_BASE} + idx) OVER w END AS hi_am,
             CASE WHEN COUNT(*) OVER w = {AROON_N} THEN
               MAX((99999999 - lo) * {_AROON_BASE} + idx) OVER w END AS lo_am
      FROM idxed
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {AROON_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(idx - ((hi_am % {_AROON_BASE} + {_AROON_BASE})
                       % {_AROON_BASE}) AS BIGINT)
             AS days_since_high,
           CAST(idx - ((lo_am % {_AROON_BASE} + {_AROON_BASE})
                       % {_AROON_BASE}) AS BIGINT)
             AS days_since_low,
           ROUND(100.0 * ({AROON_N - 1}
                 - (idx - (hi_am % {_AROON_BASE} + {_AROON_BASE})
                          % {_AROON_BASE}))
                 / {AROON_N - 1}, 4) AS aroon_up,
           ROUND(100.0 * ({AROON_N - 1}
                 - (idx - (lo_am % {_AROON_BASE} + {_AROON_BASE})
                          % {_AROON_BASE}))
                 / {AROON_N - 1}, 4) AS aroon_down
    FROM am WHERE hi_am IS NOT NULL
    ORDER BY event_type, day
"""


@register("win_aroon", oracle=_AROON_ORACLE)
def win_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon oscillator inputs per event type: bars since the trailing
    {AROON_N}-bar high/low and the aroon_up/down lines (100 = the
    extreme is TODAY, 0 = it is about to age out) — trend-freshness as
    pure order statistics, reading beside win_donchian (which tells you
    WHERE the channel is; aroon tells you HOW STALE its edges are).

    Scale/determinism: bar-domain fold first; the rolling ARGMAX needs
    no self-join — each extreme and its recency encode into ONE integer
    (hi * base + idx, and (C - lo) * base + idx for the min so both
    scan as MAX), so the frame fold stays a combinable MAX; ties pick
    the most recent bar in both engines by construction. The lo
    complement constant C bounds |cents| at 1e8-1 (values may be
    NEGATIVE: the composite is then negative too, so index recovery
    uses pmod — truncated % would return a negative remainder); idx is
    bounded by the day domain (< 1e5 for three centuries), so the
    composite fits bigint with 5 orders of headroom."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    bars = (
        t.events.select(
            "event_type", F.to_date("ts").alias("day"), cents.alias("c")
        )
        .groupBy("event_type", "day")
        .agg(F.max("c").alias("hi"), F.min("c").alias("lo"))
    )
    idxed = bars.select(
        "event_type",
        "day",
        "hi",
        "lo",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("idx"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(AROON_N - 1), 0)
    )
    full = F.count(F.lit(1)).over(w) == AROON_N
    hi_am = F.when(
        full, F.max(F.col("hi") * _AROON_BASE + F.col("idx")).over(w)
    )
    lo_am = F.when(
        full,
        F.max((99999999 - F.col("lo")) * _AROON_BASE + F.col("idx")).over(w),
    )
    am = idxed.select(
        "event_type", "day", "idx", hi_am.alias("hi_am"), lo_am.alias("lo_am")
    )
    # pmod, not %: a negative daily value makes the composite negative
    # and truncated % would return a negative remainder, corrupting the
    # recovered index (ADVICE r9); the oracle uses ((x % b) + b) % b
    dsh = F.col("idx") - F.pmod(F.col("hi_am"), F.lit(_AROON_BASE))
    dsl = F.col("idx") - F.pmod(F.col("lo_am"), F.lit(_AROON_BASE))
    n1 = AROON_N - 1
    return (
        am.where(F.col("hi_am").isNotNull())
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            dsh.cast("bigint").alias("days_since_high"),
            dsl.cast("bigint").alias("days_since_low"),
            F.round(100.0 * (n1 - dsh) / n1, 4).alias("aroon_up"),
            F.round(100.0 * (n1 - dsl) / n1, 4).alias("aroon_down"),
        )
        .orderBy("event_type", "day")
    )


#: Money-flow lookback (the 14-period convention).
MFI_N = 14

_MFI_ORACLE = f"""
    WITH bars AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             MAX(CAST(ROUND(value * 100) AS BIGINT))
               + MIN(CAST(ROUND(value * 100) AS BIGINT)) AS mp2,
             CAST(COUNT(*) AS BIGINT) AS vol
      FROM events GROUP BY 1, 2
    ),
    flows AS (
      SELECT event_type, day,
             CASE WHEN mp2 > LAG(mp2) OVER o THEN mp2 * vol ELSE 0 END
               AS pos_mf2,
             CASE WHEN mp2 < LAG(mp2) OVER o THEN mp2 * vol ELSE 0 END
               AS neg_mf2,
             CASE WHEN LAG(mp2) OVER o IS NULL THEN 0 ELSE 1 END AS def_
      FROM bars
      WINDOW o AS (PARTITION BY event_type ORDER BY day)
    ),
    s AS (
      SELECT event_type, day,
             CASE WHEN SUM(def_) OVER w = {MFI_N} THEN
               CAST(SUM(pos_mf2) OVER w AS BIGINT) END AS pos_sum2,
             CAST(SUM(neg_mf2) OVER w AS BIGINT) AS neg_sum2
      FROM flows
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {MFI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(pos_sum2 / 200.0, 3) AS positive_flow,
           ROUND(neg_sum2 / 200.0, 3) AS negative_flow,
           CASE WHEN pos_sum2 + neg_sum2 > 0 THEN
             FLOOR(100.0 * pos_sum2 / (pos_sum2 + neg_sum2) * 10000)
               / 10000 END AS mfi
    FROM s WHERE pos_sum2 IS NOT NULL
    ORDER BY event_type, day
"""


@register("win_mfi", oracle=_MFI_ORACLE)
def win_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money-flow index per event type: each bar's money flow (midpoint
    x event volume) is signed by whether the midpoint rose or fell vs
    the prior bar, and MFI = 100 x positive share of the trailing
    {MFI_N}-bar flow — the VOLUME-weighted momentum gauge beside
    win_rsi (same up/down-share shape, but a thin one-event day can
    barely move MFI while it moves RSI fully). Midpoint stands in for
    the close-dependent typical price (the win_keltner deviation,
    documented); equal-midpoint bars contribute to neither flow (the
    classic convention).

    Scale/determinism: bar-domain fold first (combinable min/max/count
    — at 100 TB the only pass over events); one LAG + one ROWS frame
    on the bounded frame; flows are exact integer products in 2x-cents
    x count units until two final divisions (flows round at 3 dp - the x/200 quotient has exactly 3 decimals, so 2 dp would sit on the half-cent tie); warmup needs {MFI_N}
    DEFINED flow bars (the lag-undefined first bar doesn't count),
    enforced identically via the def_ counter."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    bars = (
        t.events.select(
            "event_type", F.to_date("ts").alias("day"), cents.alias("c")
        )
        .groupBy("event_type", "day")
        .agg(
            (F.max("c") + F.min("c")).alias("mp2"),
            F.count(F.lit(1)).cast("bigint").alias("vol"),
        )
    )
    o = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("mp2").over(o)
    flows = bars.select(
        "event_type",
        "day",
        F.when(F.col("mp2") > prev, F.col("mp2") * F.col("vol"))
        .otherwise(F.lit(0))
        .alias("pos_mf2"),
        F.when(F.col("mp2") < prev, F.col("mp2") * F.col("vol"))
        .otherwise(F.lit(0))
        .alias("neg_mf2"),
        F.when(prev.isNull(), F.lit(0)).otherwise(F.lit(1)).alias("def_"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(MFI_N - 1), 0)
    )
    s = flows.select(
        "event_type",
        "day",
        F.when(
            F.sum("def_").over(w) == MFI_N,
            F.sum("pos_mf2").over(w).cast("bigint"),
        ).alias("pos_sum2"),
        F.sum("neg_mf2").over(w).cast("bigint").alias("neg_sum2"),
    )
    tot = F.col("pos_sum2") + F.col("neg_sum2")
    return (
        s.where(F.col("pos_sum2").isNotNull())
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            F.round(F.col("pos_sum2") / 200.0, 3).alias("positive_flow"),
            F.round(F.col("neg_sum2") / 200.0, 3).alias("negative_flow"),
            # floor, not round: the flow ratio's denominator is an
            # arbitrary integer, so exactly-representable rounding ties
            # (1/128-style) are possible and the engines' half-rounding
            # disagrees there (the graph_jaccard_neighbors convention)
            F.when(
                tot > 0,
                F.floor(100.0 * F.col("pos_sum2") / tot * 10_000) / 10_000,
            ).alias("mfi"),
        )
        .orderBy("event_type", "day")
    )


#: Rolling cross-correlation lookback (days).
XCORR_N = 14
#: The two daily series whose co-movement the monitor tracks.
XCORR_A, XCORR_B = "purchase", "click"

_XCORR_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = '{XCORR_A}'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN event_type = '{XCORR_B}'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS b
      FROM events
      WHERE event_type IN ('{XCORR_A}', '{XCORR_B}')
      GROUP BY 1
    ),
    s AS (
      SELECT day, a, b,
             CASE WHEN COUNT(*) OVER w = {XCORR_N} THEN
               CAST(COUNT(*) OVER w AS BIGINT) END AS n,
             CAST(SUM(a) OVER w AS BIGINT) AS sa,
             CAST(SUM(b) OVER w AS BIGINT) AS sb,
             CAST(SUM(a * a) OVER w AS DECIMAL(38,0)) AS saa,
             CAST(SUM(b * b) OVER w AS DECIMAL(38,0)) AS sbb,
             CAST(SUM(a * b) OVER w AS DECIMAL(38,0)) AS sab
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN {XCORR_N - 1} PRECEDING
                   AND CURRENT ROW)
    )
    SELECT CAST(day AS VARCHAR) AS day,
           ROUND(a / 100.0, 2) AS rev_a,
           ROUND(b / 100.0, 2) AS rev_b,
           CASE WHEN n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa > 0
                 AND n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb > 0
           THEN
             ROUND((n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb)
                   / (SQRT(n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
                      * SQRT(n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb)),
                   6) END AS rolling_corr
    FROM s WHERE n IS NOT NULL
    ORDER BY day
"""


@register("win_rolling_corr_pair", oracle=_XCORR_ORACLE)
def win_rolling_corr_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {XCORR_N}-day Pearson correlation between the
    '{XCORR_A}' and '{XCORR_B}' daily revenue series — the co-movement
    monitor (does the funnel still convert? a correlation breakdown
    between click and purchase revenue is an incident signal before
    either series alone alarms). Complements win_rolling_regression
    (one series vs time) with the two-series case, and agg_stats_corr
    (one global number) with the drifting view.

    Scale/determinism: events fold to ONE day-domain frame carrying
    both series (conditional sums — no self-join, one pass); the
    rolling frame computes five combinable sums; squares/products go
    to decimal(38,0) inside the window (the agg_bartlett_test overflow
    doctrine: daily cents at 100 TB square past bigint) and the
    correlation is one identical closed-form double expression,
    rounded 6 dp. Days with neither series present cost nothing; a
    day with one series zero is a real 0-revenue reading."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (
        t.events.where(F.col("event_type").isin(XCORR_A, XCORR_B))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == XCORR_A, cents).otherwise(0)
            ).cast("bigint").alias("a"),
            F.sum(
                F.when(F.col("event_type") == XCORR_B, cents).otherwise(0)
            ).cast("bigint").alias("b"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-(XCORR_N - 1), 0)
    s = daily.select(
        "day",
        "a",
        "b",
        F.when(
            F.count(F.lit(1)).over(w) == XCORR_N,
            F.count(F.lit(1)).over(w).cast("bigint"),
        ).alias("n"),
        F.sum("a").over(w).cast("bigint").alias("sa"),
        F.sum("b").over(w).cast("bigint").alias("sb"),
        F.sum((F.col("a") * F.col("a")).cast("decimal(38,0)")).over(w).alias("saa"),
        F.sum((F.col("b") * F.col("b")).cast("decimal(38,0)")).over(w).alias("sbb"),
        F.sum((F.col("a") * F.col("b")).cast("decimal(38,0)")).over(w).alias("sab"),
    )
    num = F.col("n") * F.col("sab").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sb")
    den = F.sqrt(
        F.col("n") * F.col("saa").cast("double")
        - F.col("sa").cast("double") * F.col("sa")
    ) * F.sqrt(
        F.col("n") * F.col("sbb").cast("double")
        - F.col("sb").cast("double") * F.col("sb")
    )
    var_a = F.col("n") * F.col("saa").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sa")
    var_b = F.col("n") * F.col("sbb").cast("double") - F.col("sb").cast(
        "double"
    ) * F.col("sb")
    return (
        s.where(F.col("n").isNotNull())
        .select(
            F.col("day").cast("string").alias("day"),
            F.round(F.col("a") / 100.0, 2).alias("rev_a"),
            F.round(F.col("b") / 100.0, 2).alias("rev_b"),
            # NULL for a zero-variance window (a constant or all-zero
            # revenue run makes the correlation undefined, and ANSI mode
            # would raise DIVIDE_BY_ZERO instead of returning NaN)
            F.when(
                (var_a > 0) & (var_b > 0), F.round(num / den, 6)
            ).alias("rolling_corr"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Round 10: the three remaining classical bar indicators over the
# win_atr daily-bar frame — deviation-normalized level (CCI), multi-
# horizon buying pressure (Ultimate Oscillator), and directional-
# movement balance (Vortex). All fold events to the (type x DAY) bar
# domain first (rollup_ohlc_bars doctrine), stay in exact integer cents
# until one final division, and floor outputs on the documented
# lattice.
# ---------------------------------------------------------------------------

#: CCI frame length (Lambert's classic 20 daily bars).
CCI_SPAN = 20

_CCI_ORACLE = f"""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    bars AS (
      SELECT event_type, day,
             MAX(c) + MIN(c) + MAX(CASE WHEN rn = 1 THEN c END) AS tp3
      FROM c GROUP BY 1, 2
    ),
    frames AS (
      SELECT event_type, day, tp3,
             SUM(tp3) OVER w AS s,
             list(tp3) OVER w AS frm,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {CCI_SPAN - 1} PRECEDING AND CURRENT ROW)
    ),
    mad AS (
      SELECT event_type, day, tp3, s, rn,
             CAST(list_sum(list_transform(
               frm, x -> abs({CCI_SPAN} * x - s))) AS BIGINT) AS madn
      FROM frames
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(tp3 / 300.0, 4) AS typical_price,
           CASE WHEN madn > 0
                THEN floor(({CCI_SPAN} * tp3 - s) * 4000.0 / (3.0 * madn)
                           * 10000) / 10000 END AS cci
    FROM mad WHERE rn >= {CCI_SPAN}
"""


@register("win_cci", oracle=_CCI_ORACLE)
def win_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity Channel Index per event type over {CCI_SPAN} daily
    bars: CCI = (TP - SMA(TP)) / (0.015 * mean|TP_i - SMA(TP)|) with
    TP = (high+low+close)/3 (Lambert 1980) — the deviation-NORMALIZED
    level gauge: win_bollinger scales by the stddev, CCI by the mean
    ABSOLUTE deviation, so one spike bar inflates its denominator far
    less — the robust overbought/oversold screen.

    Scale/determinism: bars via combinable cents partials; TP stays on
    the exact x3 lattice (tp3 = hi+lo+cls — never /3); the frame's MAD
    needs every member against the CURRENT row's mean, so the
    {CCI_SPAN}-element frame rides a collect_list window and folds as
    sum(|{CCI_SPAN}*tp3_i - sum|) in EXACT integers (a higher-order
    aggregate, zero Python); CCI reduces algebraically to
    (20*tp3 - s) * 4000 / (3 * madn) — one exact-integer ratio entering
    doubles once, floored at 1e-4. Full-frame gating (rn >= span);
    a zero MAD (constant frame) nulls CCI on both engines."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        t.events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            cents.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(
            (F.max("c") + F.min("c") + F.max_by("c", key)).alias("tp3")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(CCI_SPAN - 1), 0)
    )
    w_rn = Window.partitionBy("event_type").orderBy("day")
    frames = bars.select(
        "event_type",
        "day",
        "tp3",
        F.sum("tp3").over(w).alias("s"),
        F.collect_list("tp3").over(w).alias("frm"),
        F.row_number().over(w_rn).alias("rn"),
    )
    madn = F.aggregate(
        F.col("frm"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.abs(F.lit(CCI_SPAN) * x - F.col("s")),
    )
    num = F.lit(CCI_SPAN) * F.col("tp3") - F.col("s")
    m = frames.select(
        "event_type", "day", "tp3", "s", "rn", madn.alias("madn")
    ).where(F.col("rn") >= CCI_SPAN)
    return m.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.round(F.col("tp3") / 300.0, 4).alias("typical_price"),
        F.when(
            F.col("madn") > 0,
            F.floor(num * 4000.0 / (3.0 * F.col("madn")) * 10000) / 10000,
        ).alias("cci"),
    )


#: Ultimate Oscillator horizons (Williams' classic 7/14/28) and weights.
UO_SPANS = (7, 14, 28)

_UO_ORACLE = f"""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    bars AS (
      SELECT event_type, day, MAX(c) AS hi, MIN(c) AS lo,
             MAX(CASE WHEN rn = 1 THEN c END) AS cls
      FROM c GROUP BY 1, 2
    ),
    bp AS (
      SELECT event_type, day,
             cls - LEAST(lo, LAG(cls) OVER w) AS bp,
             GREATEST(hi, LAG(cls) OVER w)
               - LEAST(lo, LAG(cls) OVER w) AS tr,
             ROW_NUMBER() OVER w AS rn
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    sums AS (
      SELECT event_type, day, rn,
             SUM(bp) OVER w7 AS b7, SUM(tr) OVER w7 AS t7,
             SUM(bp) OVER w14 AS b14, SUM(tr) OVER w14 AS t14,
             SUM(bp) OVER w28 AS b28, SUM(tr) OVER w28 AS t28
      FROM bp
      WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {UO_SPANS[0] - 1} PRECEDING
                    AND CURRENT ROW),
             w14 AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {UO_SPANS[1] - 1} PRECEDING
                     AND CURRENT ROW),
             w28 AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {UO_SPANS[2] - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CASE WHEN t7 > 0 AND t14 > 0 AND t28 > 0
                THEN floor(100.0 * (4.0 * b7 / t7 + 2.0 * b14 / t14
                                    + CAST(b28 AS DOUBLE) / t28) / 7.0
                           * 10000) / 10000 END AS ultimate_osc
    FROM sums WHERE rn >= {UO_SPANS[2] + 1}
"""


@register("win_ultimate_oscillator", oracle=_UO_ORACLE)
def win_ultimate_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams' Ultimate Oscillator per event type: buying pressure
    BP = close - min(low, prev_close) over true range, blended across
    three horizons UO = 100*(4*avg7 + 2*avg14 + avg28)/7 where
    avgK = sum(BP,K)/sum(TR,K) — the multi-timeframe momentum gauge
    that fixes single-span oscillators' (win_rsi / win_stochastic)
    divergence whipsaws by requiring short-, mid- and long-horizon
    agreement.

    Scale/determinism: the win_atr daily-bar fold, then one lag and
    three ROWS frames over the bounded (type x day) domain — all sums
    of exact integer cents; UO enters doubles in the single final
    blend written identically on both engines, floored at 1e-4. Rows
    gate at rn >= 29 so every frame is FULL (and the lag non-null);
    a zero true-range sum (flat {UO_SPANS[2]}-bar stretch) nulls UO on
    both sides."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        t.events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            cents.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.max("c").alias("hi"),
            F.min("c").alias("lo"),
            F.max_by("c", key).alias("cls"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev_cls = F.lag("cls").over(w)
    bp = bars.select(
        "event_type",
        "day",
        (F.col("cls") - F.least(F.col("lo"), prev_cls)).alias("bp"),
        (
            F.greatest(F.col("hi"), prev_cls)
            - F.least(F.col("lo"), prev_cls)
        ).alias("tr"),
        F.row_number().over(w).alias("rn"),
    )

    def fsum(col: str, span: int):
        wf = (
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(-(span - 1), 0)
        )
        return F.sum(col).over(wf)

    sums = bp.select(
        "event_type",
        "day",
        "rn",
        fsum("bp", UO_SPANS[0]).alias("b7"),
        fsum("tr", UO_SPANS[0]).alias("t7"),
        fsum("bp", UO_SPANS[1]).alias("b14"),
        fsum("tr", UO_SPANS[1]).alias("t14"),
        fsum("bp", UO_SPANS[2]).alias("b28"),
        fsum("tr", UO_SPANS[2]).alias("t28"),
    ).where(F.col("rn") >= UO_SPANS[2] + 1)
    ok = (F.col("t7") > 0) & (F.col("t14") > 0) & (F.col("t28") > 0)
    uo = (
        100.0
        * (
            4.0 * F.col("b7") / F.col("t7")
            + 2.0 * F.col("b14") / F.col("t14")
            + F.col("b28").cast("double") / F.col("t28")
        )
        / 7.0
    )
    return sums.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.when(ok, F.floor(uo * 10000) / 10000).alias("ultimate_osc"),
    )


#: Vortex indicator span (Botes & Siepman's classic 14 bars).
VORTEX_SPAN = 14

_VORTEX_ORACLE = f"""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    bars AS (
      SELECT event_type, day, MAX(c) AS hi, MIN(c) AS lo,
             MAX(CASE WHEN rn = 1 THEN c END) AS cls
      FROM c GROUP BY 1, 2
    ),
    vm AS (
      SELECT event_type, day,
             ABS(hi - LAG(lo) OVER w) AS vmp,
             ABS(lo - LAG(hi) OVER w) AS vmm,
             GREATEST(hi - lo, ABS(hi - LAG(cls) OVER w),
                      ABS(lo - LAG(cls) OVER w)) AS tr,
             ROW_NUMBER() OVER w AS rn
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    sums AS (
      SELECT event_type, day, rn,
             SUM(vmp) OVER wf AS svp, SUM(vmm) OVER wf AS svm,
             SUM(tr) OVER wf AS str
      FROM vm
      WINDOW wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {VORTEX_SPAN - 1} PRECEDING
                    AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CASE WHEN str > 0
                THEN floor(CAST(svp AS DOUBLE) / str * 10000) / 10000
           END AS vi_plus,
           CASE WHEN str > 0
                THEN floor(CAST(svm AS DOUBLE) / str * 10000) / 10000
           END AS vi_minus,
           CASE WHEN str > 0 THEN svp > svm END AS uptrend
    FROM sums WHERE rn >= {VORTEX_SPAN + 1}
"""


@register("win_vortex", oracle=_VORTEX_ORACLE)
def win_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex indicator per event type over {VORTEX_SPAN} daily bars:
    VI+ = sum|high - prev_low| / sum(TR), VI- = sum|low - prev_high| /
    sum(TR) — upward and downward range MOVEMENT normalized by total
    true range; the VI+/VI- cross is the trend-change signal, the
    directional complement to win_atr's magnitude-only volatility.

    Scale/determinism: win_atr's bar fold and lag on the bounded
    (type x day) domain; vortex movements and true range are exact
    integer cents summed over a ROWS frame; the two ratios enter
    doubles once each, floored at 1e-4; trend compares EXACT integer
    sums (never the floored quotients). Gating rn >= {VORTEX_SPAN + 1}
    keeps only full frames with a valid lag; a zero range sum nulls
    the indicator on both engines."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        t.events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            cents.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.max("c").alias("hi"),
            F.min("c").alias("lo"),
            F.max_by("c", key).alias("cls"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    vm = bars.select(
        "event_type",
        "day",
        F.abs(F.col("hi") - F.lag("lo").over(w)).alias("vmp"),
        F.abs(F.col("lo") - F.lag("hi").over(w)).alias("vmm"),
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.lag("cls").over(w)),
            F.abs(F.col("lo") - F.lag("cls").over(w)),
        ).alias("tr"),
        F.row_number().over(w).alias("rn"),
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(VORTEX_SPAN - 1), 0)
    )
    sums = vm.select(
        "event_type",
        "day",
        "rn",
        F.sum("vmp").over(wf).alias("svp"),
        F.sum("vmm").over(wf).alias("svm"),
        F.sum("tr").over(wf).alias("str"),
    ).where(F.col("rn") >= VORTEX_SPAN + 1)
    ok = F.col("str") > 0
    return sums.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.when(
            ok,
            F.floor(F.col("svp").cast("double") / F.col("str") * 10000)
            / 10000,
        ).alias("vi_plus"),
        F.when(
            ok,
            F.floor(F.col("svm").cast("double") / F.col("str") * 10000)
            / 10000,
        ).alias("vi_minus"),
        F.when(ok, F.col("svp") > F.col("svm")).alias("uptrend"),
    )


# ---------------------------------------------------------------------------
# r11 indicator batch: candle-body and weighted-moving-average family.
# Shared daily-bar fold (the win_cci/win_atr recipe): events reduce to the
# bounded (event_type x day) domain with exact integer-cent OHLC before any
# window — open = first value of the day, close = last (ts, event_id) order.


def _ohlc_bars(t) -> DataFrame:
    """Daily OHLCV bars per event type on the exact cents lattice.

    open/close pick the first/last event by the total (ts, event_id)
    order (min_by/max_by on a struct key — the same tiebreak the
    oracles' ROW_NUMBER() ... ORDER BY ts, event_id takes), so both
    engines agree even when a day's boundary timestamps collide.
    Combinable partial aggregates: the fold is one map-side-combinable
    shuffle on (type, day) however large the event table."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        t.events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            cents.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.max("c").alias("hi"),
            F.min("c").alias("lo"),
            F.min_by("c", key).alias("opn"),
            F.max_by("c", key).alias("cls"),
            F.count(F.lit(1)).alias("vol"),
        )
    )


_OHLC_BARS_SQL = """
    c AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rnc,
             ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts ASC, event_id ASC) AS rno
      FROM events
    ),
    bars AS (
      SELECT event_type, day, MAX(c) AS hi, MIN(c) AS lo,
             MAX(CASE WHEN rno = 1 THEN c END) AS opn,
             MAX(CASE WHEN rnc = 1 THEN c END) AS cls,
             COUNT(*) AS vol
      FROM c GROUP BY 1, 2
    )
"""

#: Qstick lookback (Chande's 8-period convention).
QSTICK_SPAN = 8

_QSTICK_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    q AS (
      SELECT event_type, day,
             SUM(cls - opn) OVER w AS body_sum,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {QSTICK_SPAN - 1} PRECEDING
                   AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           floor(body_sum / ({QSTICK_SPAN} * 100.0) * 10000)
             / 10000 AS qstick,
           body_sum > 0 AS net_bullish
    FROM q WHERE rn >= {QSTICK_SPAN}
"""


@register("win_qstick", oracle=_QSTICK_ORACLE)
def win_qstick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande's Qstick per event type: the {QSTICK_SPAN}-day average
    candle BODY (close - open) — the quantified candlestick question
    "are days closing above or below their opens lately". Complements
    win_chande_momentum (CMO reads close-to-close moves; Qstick reads
    INTRADAY direction — a market can grind up close-to-close while
    every day closes under its open, and only Qstick sees it).

    Scale/determinism: the shared _ohlc_bars fold to the bounded
    (type x day) domain, then one exact-integer body sum per ROWS
    frame; the single division at emission (4 dp on dollars). The
    net_bullish flag compares the exact integer sum with zero, not the
    rounded quotient. Full-frame gating at rn >= {QSTICK_SPAN}."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(QSTICK_SPAN - 1), 0)
    )
    w_rn = Window.partitionBy("event_type").orderBy("day")
    q = bars.select(
        "event_type",
        "day",
        F.sum(F.col("cls") - F.col("opn")).over(w).alias("body_sum"),
        F.row_number().over(w_rn).alias("rn"),
    ).where(F.col("rn") >= QSTICK_SPAN)
    return q.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        (
            F.floor(
                F.col("body_sum") / (QSTICK_SPAN * 100.0) * 10000
            )
            / 10000
        ).alias("qstick"),
        (F.col("body_sum") > 0).alias("net_bullish"),
    )


#: Balance-of-power smoothing span (Livermore/TradingView 14 default).
BOP_SPAN = 14

_BOP_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    b AS (
      SELECT event_type, day,
             CASE WHEN hi > lo
                  THEN floor((cls - opn) * 1.0 / (hi - lo) * 10000)
                       / 10000 END AS bop
      FROM bars
    ),
    s AS (
      SELECT event_type, day, bop,
             CASE WHEN COUNT(bop) OVER w = {BOP_SPAN}
                  THEN ROUND(AVG(bop) OVER w, 4) END AS bop_sma
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {BOP_SPAN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, bop, bop_sma
    FROM s WHERE bop_sma IS NOT NULL
"""


@register("win_balance_of_power", oracle=_BOP_ORACLE)
def win_balance_of_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance of Power per event type: BOP = (close - open) /
    (high - low) per daily bar — where inside the day's range the
    session settled, +1 = closed at the high off the low — smoothed by
    a {BOP_SPAN}-day SMA. The RANGE-normalized sibling of win_qstick
    (Qstick keeps the body in dollars, so wide days dominate; BOP
    divides each body by its own range, so every day votes equally).

    Scale/determinism: _ohlc_bars fold; per-bar BOP floor-quantizes to
    the 4-dp lattice BEFORE the SMA averages it (the stochastic %D
    doctrine — {BOP_SPAN} exact lattice points -> one identical
    division). A flat bar (hi == lo) yields a null BOP on both engines
    and the SMA gates on {BOP_SPAN} NON-NULL members."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    bop = F.when(
        F.col("hi") > F.col("lo"),
        F.floor(
            (F.col("cls") - F.col("opn"))
            / (F.col("hi") - F.col("lo")).cast("double")
            * 10000
        )
        / 10000,
    )
    b = bars.select("event_type", "day", bop.alias("bop"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(BOP_SPAN - 1), 0)
    )
    sma = F.when(
        F.count("bop").over(w) == BOP_SPAN, F.round(F.avg("bop").over(w), 4)
    )
    return (
        b.select("event_type", "day", "bop", sma.alias("bop_sma"))
        .where(F.col("bop_sma").isNotNull())
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "bop",
            "bop_sma",
        )
    )


#: Awesome Oscillator spans. Bill Williams' classic pair is 5/34; the
#: slow span is 21 here because the events fixture spans exactly 30
#: calendar days at every SF -- a 34-bar frame would never fill and the
#: operator would emit zero rows at any scale (the ratio 1:4 of the
#: classic 5:34 stays close at 5:21).
AO_FAST, AO_SLOW = 5, 21

_AO_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    m AS (
      SELECT event_type, day, hi + lo AS mid2,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM bars
    ),
    s AS (
      SELECT event_type, day, rn,
             SUM(mid2) OVER wf AS s_fast,
             SUM(mid2) OVER ws AS s_slow
      FROM m
      WINDOW wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {AO_FAST - 1} PRECEDING AND CURRENT ROW),
             ws AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {AO_SLOW - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           floor(({AO_SLOW} * s_fast - {AO_FAST} * s_slow)
                 / (2.0 * {AO_FAST} * {AO_SLOW} * 100.0) * 10000)
             / 10000 AS awesome_osc,
           {AO_SLOW} * s_fast > {AO_FAST} * s_slow AS above_zero
    FROM s WHERE rn >= {AO_SLOW}
"""


@register("win_awesome_oscillator", oracle=_AO_ORACLE)
def win_awesome_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill Williams' Awesome Oscillator per event type: SMA({AO_FAST})
    minus SMA({AO_SLOW}) of the bar MIDPOINT (high+low)/2 — the
    momentum histogram that reads trend from where daily RANGES sit,
    ignoring closes entirely (win_macd-style dual-average momentum
    without EMAs, so it is exactly window-expressible).

    Scale/determinism: midpoints stay on the exact x2 lattice
    (mid2 = hi + lo, never /2); the subtraction clears denominators
    algebraically — AO = ({AO_SLOW}*S_fast - {AO_FAST}*S_slow) /
    (2*{AO_FAST}*{AO_SLOW}) — so the whole statistic is ONE exact
    integer entering doubles in a single final division (floored at
    1e-4); the sign flag compares the exact integer numerator with
    zero. Full-frame gating at rn >= {AO_SLOW}."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w_rn = Window.partitionBy("event_type").orderBy("day")
    wf = w_rn.rowsBetween(-(AO_FAST - 1), 0)
    ws = w_rn.rowsBetween(-(AO_SLOW - 1), 0)
    m = bars.select(
        "event_type",
        "day",
        (F.col("hi") + F.col("lo")).alias("mid2"),
        F.row_number().over(w_rn).alias("rn"),
    )
    s = m.select(
        "event_type",
        "day",
        "rn",
        F.sum("mid2").over(wf).alias("s_fast"),
        F.sum("mid2").over(ws).alias("s_slow"),
    ).where(F.col("rn") >= AO_SLOW)
    num = AO_SLOW * F.col("s_fast") - AO_FAST * F.col("s_slow")
    return s.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        (
            F.floor(num / (2.0 * AO_FAST * AO_SLOW * 100.0) * 10000) / 10000
        ).alias("awesome_osc"),
        (num > 0).alias("above_zero"),
    )


#: Chande Momentum Oscillator lookback (the classic 14).
CMO_SPAN = 14

_CMO_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    d AS (
      SELECT event_type, day,
             cls - LAG(cls) OVER w AS chg,
             ROW_NUMBER() OVER w AS rn
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    s AS (
      SELECT event_type, day, rn,
             SUM(GREATEST(chg, 0)) OVER wf AS su,
             SUM(GREATEST(-chg, 0)) OVER wf AS sd
      FROM d
      WINDOW wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {CMO_SPAN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CASE WHEN su + sd > 0
                THEN floor(100.0 * (su - sd) / (su + sd) * 10000)
                     / 10000 END AS cmo
    FROM s WHERE rn >= {CMO_SPAN} + 1
"""


@register("win_chande_momentum", oracle=_CMO_ORACLE)
def win_chande_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande Momentum Oscillator per event type over {CMO_SPAN} daily
    closes: CMO = 100 * (sum(up moves) - sum(down moves)) / (sum(up) +
    sum(down)) — win_rsi's un-smoothed symmetric twin (RSI maps the
    same ratio through 100 - 100/(1+RS) with running averages; CMO
    keeps raw sums, so it is bounded [-100, 100], zero-centered, and
    exactly window-expressible with no EMA recursion).

    Scale/determinism: _ohlc_bars fold, one lag, one ROWS frame — up
    and down move sums are exact integer cents; CMO is one exact
    integer ratio entering doubles once (floored at 1e-4). A flat
    {CMO_SPAN}-day stretch (su + sd = 0) nulls the oscillator on both
    engines; gating needs {CMO_SPAN} + 1 bars (the first has no lag)."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-(CMO_SPAN - 1), 0)
    d = bars.select(
        "event_type",
        "day",
        (F.col("cls") - F.lag("cls").over(w)).alias("chg"),
        F.row_number().over(w).alias("rn"),
    )
    s = d.select(
        "event_type",
        "day",
        "rn",
        F.sum(F.greatest(F.col("chg"), F.lit(0))).over(wf).alias("su"),
        F.sum(F.greatest(-F.col("chg"), F.lit(0))).over(wf).alias("sd"),
    ).where(F.col("rn") >= CMO_SPAN + 1)
    tot = F.col("su") + F.col("sd")
    return s.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.when(
            tot > 0,
            F.floor(100.0 * (F.col("su") - F.col("sd")) / tot * 10000)
            / 10000,
        ).alias("cmo"),
    )


#: Detrended Price Oscillator span and its displaced-SMA offset. The
#: textbook span is 20, but span + displacement (n/2 + 1) bars must fit
#: the 30-day events calendar for the displaced frame to ever fill --
#: 14 + 8 leaves 9 emitting days per type at every SF.
DPO_SPAN = 14
DPO_SHIFT = DPO_SPAN // 2 + 1

_DPO_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    s AS (
      SELECT event_type, day, cls,
             SUM(cls) OVER wd AS s_disp,
             COUNT(*) OVER wd AS n_disp
      FROM bars
      WINDOW wd AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {DPO_SPAN + DPO_SHIFT - 1} PRECEDING
                    AND {DPO_SHIFT} PRECEDING)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           floor(({DPO_SPAN} * cls - s_disp)
                 / ({DPO_SPAN} * 100.0) * 10000) / 10000 AS dpo,
           {DPO_SPAN} * cls > s_disp AS above_trend
    FROM s WHERE n_disp = {DPO_SPAN}
"""


@register("win_dpo", oracle=_DPO_ORACLE)
def win_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended Price Oscillator per event type: today's close minus
    the {DPO_SPAN}-day SMA displaced {DPO_SHIFT} bars BACK — the
    displacement centers the average on the price it summarizes, so
    DPO strips the trend and leaves the CYCLE (win_seasonal_baseline
    finds the calendar season; DPO finds the un-calendared oscillation
    around trend). Standard n/2+1 displacement convention.

    Scale/determinism: _ohlc_bars fold, one shifted ROWS frame — the
    displaced SMA is just a frame ending at {DPO_SHIFT} PRECEDING, no
    self-join; DPO clears the /n algebraically ({DPO_SPAN}*close -
    sum) so one exact integer enters doubles in the single final
    division (floored at 1e-4); the above_trend flag compares exact
    integers. Gating: exactly {DPO_SPAN} bars in the displaced frame."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    wd = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(DPO_SPAN + DPO_SHIFT - 1), -DPO_SHIFT)
    )
    s = bars.select(
        "event_type",
        "day",
        "cls",
        F.sum("cls").over(wd).alias("s_disp"),
        F.count(F.lit(1)).over(wd).alias("n_disp"),
    ).where(F.col("n_disp") == DPO_SPAN)
    num = DPO_SPAN * F.col("cls") - F.col("s_disp")
    return s.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        (F.floor(num / (DPO_SPAN * 100.0) * 10000) / 10000).alias("dpo"),
        (num > 0).alias("above_trend"),
    )


#: Williams %R lookback (Larry Williams' 14).
WILLR_SPAN = 14

_WILLR_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    s AS (
      SELECT event_type, day, cls,
             MAX(hi) OVER w AS hh, MIN(lo) OVER w AS ll,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {WILLR_SPAN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CASE WHEN hh > ll
                THEN floor(-100.0 * (hh - cls) / (hh - ll) * 10000)
                     / 10000 END AS williams_r,
           CASE WHEN hh > ll
                THEN 100.0 * (hh - cls) / (hh - ll) >= 80 END AS oversold
    FROM s WHERE rn >= {WILLR_SPAN}
"""


@register("win_williams_r", oracle=_WILLR_ORACLE)
def win_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R per event type: -100 * (HH - close)/(HH - LL) over
    the trailing {WILLR_SPAN}-day TRUE high/low channel. The daily-bar
    sibling of win_stochastic_oscillator's %K (which runs per USER over
    raw event values, so its channel is close-only): %R uses each day's
    intraday extremes hi/lo — a close can sit mid-channel on closes yet
    at the bottom of the true range, and only %R sees it. Scale is
    [-100, 0], oversold below -80 by the classic reading.

    Scale/determinism: _ohlc_bars fold; channel extremes are exact
    integer cents from ROWS-frame min/max; %R is one exact integer
    ratio entering doubles once (floored at 1e-4); flat channel
    (hh == ll) nulls both columns on both engines; full-frame gating
    at rn >= {WILLR_SPAN}."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w_rn = Window.partitionBy("event_type").orderBy("day")
    w = w_rn.rowsBetween(-(WILLR_SPAN - 1), 0)
    s = bars.select(
        "event_type",
        "day",
        "cls",
        F.max("hi").over(w).alias("hh"),
        F.min("lo").over(w).alias("ll"),
        F.row_number().over(w_rn).alias("rn"),
    ).where(F.col("rn") >= WILLR_SPAN)
    ok = F.col("hh") > F.col("ll")
    pos = (F.col("hh") - F.col("cls")).cast("double") / (
        F.col("hh") - F.col("ll")
    )
    return s.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.when(ok, F.floor(-100.0 * pos * 10000) / 10000).alias(
            "williams_r"
        ),
        F.when(ok, 100.0 * pos >= 80).alias("oversold"),
    )


#: Hull MA spans: HMA(16) = WMA(4, 2*WMA(8) - WMA(16)); 1224 is the
#: lcm of the WMA(8)/WMA(16) weight sums 36 and 136, so the detrended
#: series h stays an exact integer in x1224 units.
HMA_SLOW = 16
HMA_FAST = HMA_SLOW // 2
HMA_SQRT = 4
_HMA_H_UNITS = 1224  # lcm(36, 136)

_HMA_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    m AS (
      SELECT event_type, day, cls,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM bars
    ),
    n AS (
      SELECT event_type, day, rn,
             SUM(rn * cls) OVER wf - (rn - {HMA_FAST}) * SUM(cls) OVER wf
               AS nf,
             SUM(rn * cls) OVER ws - (rn - {HMA_SLOW}) * SUM(cls) OVER ws
               AS ns
      FROM m
      WINDOW wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {HMA_FAST - 1} PRECEDING AND CURRENT ROW),
             ws AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {HMA_SLOW - 1} PRECEDING AND CURRENT ROW)
    ),
    h AS (
      SELECT event_type, day, rn,
             2 * ({_HMA_H_UNITS} // 36) * nf
               - ({_HMA_H_UNITS} // 136) * ns AS hu
      FROM n
    ),
    fin AS (
      SELECT event_type, day, rn,
             4 * hu + 3 * LAG(hu, 1) OVER w + 2 * LAG(hu, 2) OVER w
               + LAG(hu, 3) OVER w AS n4
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           floor(n4 / (10.0 * {_HMA_H_UNITS} * 100.0) * 10000)
             / 10000 AS hull_ma
    FROM fin WHERE rn >= {HMA_SLOW} + {HMA_SQRT} - 1
"""


@register("win_hull_ma", oracle=_HMA_ORACLE)
def win_hull_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hull moving average per event type: HMA({HMA_SLOW}) =
    WMA({HMA_SQRT}) of (2*WMA({HMA_FAST}) - WMA({HMA_SLOW})) over daily
    closes — the lag-corrected trend line (the doubled fast WMA
    extrapolates the average forward, the final short WMA smooths the
    overshoot). The classic HMA needs three WEIGHTED moving averages,
    which have no native window aggregate; here each WMA numerator
    folds from two RUNNING sums: sum(rn*x) - (rn - n)*sum(x) over the
    frame equals sum((n-i)*x_{{t-i}}) exactly.

    Scale/determinism: closes are exact integer cents and rn*cls stays
    far under 2^63 (calendar-bounded rn x cents), so BOTH WMA
    numerators are exact integers; the detrended series h is held in
    x{_HMA_H_UNITS} integer units (lcm of the weight sums 36/136 —
    no intermediate division), and the final WMA({HMA_SQRT}) is an
    explicit 4/3/2/1 lag combination — the entire HMA is ONE exact
    integer entering doubles in the single final division (floored at
    1e-4). Gating: rn >= {HMA_SLOW} + {HMA_SQRT} - 1 (full slow WMA at
    the oldest lag)."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w_rn = Window.partitionBy("event_type").orderBy("day")
    wf = w_rn.rowsBetween(-(HMA_FAST - 1), 0)
    ws = w_rn.rowsBetween(-(HMA_SLOW - 1), 0)
    m = bars.select(
        "event_type", "day", "cls", F.row_number().over(w_rn).alias("rn")
    )
    rc = F.col("rn") * F.col("cls")
    n = m.select(
        "event_type",
        "day",
        "rn",
        (
            F.sum(rc).over(wf)
            - (F.col("rn") - HMA_FAST) * F.sum("cls").over(wf)
        ).alias("nf"),
        (
            F.sum(rc).over(ws)
            - (F.col("rn") - HMA_SLOW) * F.sum("cls").over(ws)
        ).alias("ns"),
    )
    hu = (
        2 * (_HMA_H_UNITS // 36) * F.col("nf")
        - (_HMA_H_UNITS // 136) * F.col("ns")
    )
    h = n.select("event_type", "day", "rn", hu.alias("hu"))
    n4 = (
        4 * F.col("hu")
        + 3 * F.lag("hu", 1).over(w_rn)
        + 2 * F.lag("hu", 2).over(w_rn)
        + F.lag("hu", 3).over(w_rn)
    )
    return (
        h.select("event_type", "day", "rn", n4.alias("n4"))
        .where(F.col("rn") >= HMA_SLOW + HMA_SQRT - 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            (
                F.floor(
                    F.col("n4") / (10.0 * _HMA_H_UNITS * 100.0) * 10000
                )
                / 10000
            ).alias("hull_ma"),
        )
    )


#: Coppock curve spans: WMA(10) of ROC(14) + ROC(11). Classic monthly
#: parameters, applied to daily bars (14 + 10 = 24 bars needed — fits
#: the 30-day fixture calendar; the classic monthly chart needs years).
COPPOCK_ROC_LONG, COPPOCK_ROC_SHORT, COPPOCK_WMA = 14, 11, 10

_COPPOCK_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    m AS (
      SELECT event_type, day, cls,
             ROW_NUMBER() OVER w AS rn,
             LAG(cls, {COPPOCK_ROC_LONG}) OVER w AS lag_l,
             LAG(cls, {COPPOCK_ROC_SHORT}) OVER w AS lag_s
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    r AS (
      SELECT event_type, day, rn,
             CAST(floor((cls - lag_l) * 1000000.0 / lag_l) AS BIGINT)
             + CAST(floor((cls - lag_s) * 1000000.0 / lag_s) AS BIGINT)
               AS s6
      FROM m WHERE lag_l IS NOT NULL
    ),
    wma AS (
      SELECT event_type, day, rn,
             SUM(rn * s6) OVER wf
               - (rn - {COPPOCK_WMA}) * SUM(s6) OVER wf AS n10
      FROM r
      WINDOW wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {COPPOCK_WMA - 1} PRECEDING
                    AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           floor(n10 / 55.0) / 1000000 AS coppock,
           n10 > 0 AS bullish
    FROM wma WHERE rn >= {COPPOCK_ROC_LONG} + {COPPOCK_WMA}
"""


@register("win_coppock", oracle=_COPPOCK_ORACLE)
def win_coppock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coppock curve per event type: WMA({COPPOCK_WMA}) of
    ROC({COPPOCK_ROC_LONG}) + ROC({COPPOCK_ROC_SHORT}) over daily
    closes — the long-horizon momentum bottom-finder (Coppock 1962;
    designed for buy signals when the curve turns up from below zero).
    Beside win_chande_momentum (raw up/down sums) and
    win_awesome_oscillator (midpoint SMA gap), this is the RATE-OF-
    CHANGE blend view — and a second exercise of the win_hull_ma
    running-sum WMA identity.

    Scale/determinism: each ROC floor-quantizes to integer 1e-6
    RATIO units per bar (floor of a double quotient whose numerator
    is exact — identical on both engines); their sum s6 is an exact
    integer, and the WMA numerator folds from two running sums
    (sum(rn*s6) - (rn-n)*sum(s6)) in exact integers — one final
    division by the weight sum 55 emits on the 1e-6 floor lattice;
    the bullish flag reads the exact integer numerator. Gating:
    rn >= {COPPOCK_ROC_LONG} + {COPPOCK_WMA} (full WMA of defined
    ROCs; lag_s is always defined once lag_l is)."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-(COPPOCK_WMA - 1), 0)
    m = bars.select(
        "event_type",
        "day",
        "cls",
        F.row_number().over(w).alias("rn"),
        F.lag("cls", COPPOCK_ROC_LONG).over(w).alias("lag_l"),
        F.lag("cls", COPPOCK_ROC_SHORT).over(w).alias("lag_s"),
    )
    s6 = (
        F.floor(
            (F.col("cls") - F.col("lag_l")) * 1_000_000.0 / F.col("lag_l")
        )
        + F.floor(
            (F.col("cls") - F.col("lag_s")) * 1_000_000.0 / F.col("lag_s")
        )
    ).cast("bigint")
    r = m.where(F.col("lag_l").isNotNull()).select(
        "event_type", "day", "rn", s6.alias("s6")
    )
    n10 = (
        F.sum(F.col("rn") * F.col("s6")).over(wf)
        - (F.col("rn") - COPPOCK_WMA) * F.sum("s6").over(wf)
    )
    wma = r.select("event_type", "day", "rn", n10.alias("n10")).where(
        F.col("rn") >= COPPOCK_ROC_LONG + COPPOCK_WMA
    )
    return wma.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        (F.floor(F.col("n10") / 55.0) / 1_000_000).alias("coppock"),
        (F.col("n10") > 0).alias("bullish"),
    )


# ---------------------------------------------------------------------------
# r12 batch: five more classical bar indicators over the shared
# _ohlc_bars fold — efficiency ratio, force index, ease of movement,
# choppiness, and Katz fractal dimension. Planted-model tests ship in
# tests/test_round12f.py from day one (SURVEY section-5.2 mandate).

#: Kaufman efficiency-ratio lookback (KAMA's classic 10).
KER_SPAN = 10

_KER_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    d AS (
      SELECT event_type, day, cls,
             ABS(cls - LAG(cls) OVER w) AS step,
             ABS(cls - LAG(cls, {KER_SPAN}) OVER w) AS net,
             ROW_NUMBER() OVER w AS rn
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    s AS (
      SELECT event_type, day, rn, net,
             SUM(step) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN {KER_SPAN - 1} PRECEDING
                             AND CURRENT ROW) AS vol
      FROM d
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CASE WHEN vol > 0
                THEN floor(CAST(net AS DOUBLE) / vol * 10000) / 10000
           END AS efficiency_ratio,
           CASE WHEN vol > 0 THEN CAST(net AS DOUBLE) / vol > 0.3 END
             AS trending
    FROM s WHERE rn >= {KER_SPAN} + 1
"""


@register("win_kaufman_er", oracle=_KER_ORACLE)
def win_kaufman_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman's Efficiency Ratio per event type over {KER_SPAN} daily
    closes: ER = |net {KER_SPAN}-day change| / sum(|daily changes|) —
    1 = perfectly directional move, ~0 = pure churn. The adaptivity
    signal inside KAMA, and on metric streams the one-number "is this
    trend REAL or noise" screen that decides between win_ewma (trend)
    and win_median_rolling (churn) smoothing; reads beside
    win_chande_momentum (CMO signs the same sums, ER modulates them).

    Scale/determinism: _ohlc_bars fold, one lag pair, one ROWS frame —
    net and path sums are exact integer cents; ER is one exact integer
    ratio entering doubles once (floored 1e-4); a flat {KER_SPAN}-day
    stretch (vol = 0) nulls the ratio on both engines; gating needs
    {KER_SPAN} + 1 bars (the deep lag must exist)."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-(KER_SPAN - 1), 0)
    d = bars.select(
        "event_type",
        "day",
        F.abs(F.col("cls") - F.lag("cls").over(w)).alias("step"),
        F.abs(F.col("cls") - F.lag("cls", KER_SPAN).over(w)).alias("net"),
        F.row_number().over(w).alias("rn"),
    )
    s = d.select(
        "event_type",
        "day",
        "rn",
        "net",
        F.sum("step").over(wf).alias("vol"),
    ).where(F.col("rn") >= KER_SPAN + 1)
    er = F.col("net").cast("double") / F.col("vol")
    return s.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.when(
            F.col("vol") > 0, F.floor(er * 10_000) / 10_000
        ).alias("efficiency_ratio"),
        F.when(F.col("vol") > 0, er > 0.3).alias("trending"),
    )


#: Force-index smoothing span (Elder's classic 13).
FORCE_SPAN = 13

_FORCE_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    d AS (
      SELECT event_type, day,
             (cls - LAG(cls) OVER w) * vol AS fi_c,
             ROW_NUMBER() OVER w AS rn
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    s AS (
      SELECT event_type, day, rn, fi_c,
             SUM(fi_c) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN {FORCE_SPAN - 1} PRECEDING
                             AND CURRENT ROW) AS fi_sum,
             COUNT(fi_c) OVER (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN {FORCE_SPAN - 1} PRECEDING
                               AND CURRENT ROW) AS n_fi
      FROM d
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(fi_c / 100.0, 2) AS force_index,
           floor(fi_sum / ({FORCE_SPAN} * 100.0) * 10000) / 10000
             AS force_sma,
           fi_sum > 0 AS bulls_in_control
    FROM s WHERE n_fi = {FORCE_SPAN}
"""


@register("win_force_index", oracle=_FORCE_ORACLE)
def win_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder's Force Index per event type: FI = (close - prev close) x
    volume per daily bar, smoothed by a {FORCE_SPAN}-day SMA — price
    change WEIGHTED by how much activity drove it (win_obv counts
    direction only; FI prices each move by volume, so one heavy-volume
    down day outweighs five thin up-ticks). Volume here is the bar's
    event count, the win_mfi convention.

    Scale/determinism: _ohlc_bars fold, one lag, one ROWS frame; FI is
    an exact integer (cents x count, < 2^63 at any calendar-bounded
    volume), the SMA clears /n algebraically into one final division
    (floored 1e-4); the regime flag compares the exact integer sum
    with zero. Gating: {FORCE_SPAN} non-null FI values (the first bar
    has no previous close)."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-(FORCE_SPAN - 1), 0)
    d = bars.select(
        "event_type",
        "day",
        ((F.col("cls") - F.lag("cls").over(w)) * F.col("vol")).alias("fi_c"),
    )
    s = d.select(
        "event_type",
        "day",
        "fi_c",
        F.sum("fi_c").over(wf).alias("fi_sum"),
        F.count("fi_c").over(wf).alias("n_fi"),
    ).where(F.col("n_fi") == FORCE_SPAN)
    return s.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.round(F.col("fi_c") / 100.0, 2).alias("force_index"),
        (
            F.floor(F.col("fi_sum") / (FORCE_SPAN * 100.0) * 10_000) / 10_000
        ).alias("force_sma"),
        (F.col("fi_sum") > 0).alias("bulls_in_control"),
    )


#: Ease-of-movement smoothing span (Arms' classic 14).
EOM_SPAN = 14

_EOM_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    d AS (
      SELECT event_type, day,
             CASE WHEN LAG(hi + lo) OVER w IS NOT NULL
                  THEN floor(CAST((hi + lo - LAG(hi + lo) OVER w)
                                  * (hi - lo) AS DOUBLE)
                             / (2.0 * vol * 100.0) * 10000) / 10000
             END AS eom
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    s AS (
      SELECT event_type, day, eom,
             COUNT(eom) OVER wf AS n_eom,
             ROUND(AVG(eom) OVER wf, 4) AS eom_sma
      FROM d
      WINDOW wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {EOM_SPAN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, eom,
           eom_sma AS eom_sma_14
    FROM s WHERE n_eom = {EOM_SPAN}
"""


@register("win_ease_of_movement", oracle=_EOM_ORACLE)
def win_ease_of_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arms' Ease of Movement per event type: midpoint move scaled by
    the "box ratio" volume/range — EOM = (mid - prev_mid) x range /
    volume, high when price travels far on LITTLE volume (an easy,
    uncontested move) and near zero when heavy volume buys no progress
    (distribution). The volume-normalized complement of
    win_force_index (FI weights BY volume, EOM divides by it — the
    pair separates conviction moves from friction).

    Scale/determinism: _ohlc_bars fold; midpoints stay on the x2
    lattice (hi+lo, never /2), so the numerator (dm2 x range) is one
    exact integer and EOM enters doubles in a single division
    (floored 1e-4, dollars: the /2 for the midpoint and /100 for
    cents fold into the denominator); the {EOM_SPAN}-day SMA averages
    the FLOORED lattice values (the stochastic %D doctrine). A flat
    bar moves the numerator to 0 exactly — vol > 0 always, no guard
    needed. Gating: {EOM_SPAN} non-null EOM values."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-(EOM_SPAN - 1), 0)
    mid2 = F.col("hi") + F.col("lo")
    prev_mid2 = F.lag(F.col("hi") + F.col("lo")).over(w)
    eom = F.when(
        prev_mid2.isNotNull(),
        F.floor(
            ((mid2 - prev_mid2) * (F.col("hi") - F.col("lo"))).cast("double")
            / (2.0 * F.col("vol") * 100.0)
            * 10_000
        )
        / 10_000,
    )
    d = bars.select("event_type", "day", eom.alias("eom"))
    s = d.select(
        "event_type",
        "day",
        "eom",
        F.count("eom").over(wf).alias("n_eom"),
        F.round(F.avg("eom").over(wf), 4).alias("eom_sma"),
    ).where(F.col("n_eom") == EOM_SPAN)
    return s.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "eom",
        F.col("eom_sma").alias("eom_sma_14"),
    )


#: Choppiness lookback (Dreiss' classic 14).
CHOP_SPAN = 14

_CHOP_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    tr AS (
      SELECT event_type, day, hi, lo,
             GREATEST(hi - lo,
                      ABS(hi - LAG(cls) OVER w),
                      ABS(lo - LAG(cls) OVER w)) AS tr_c
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    s AS (
      SELECT event_type, day,
             SUM(tr_c) OVER wf AS tr_sum,
             MAX(hi) OVER wf - MIN(lo) OVER wf AS rng,
             COUNT(*) OVER wf AS n_bars
      FROM tr
      WINDOW wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {CHOP_SPAN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CASE WHEN rng > 0
                THEN floor(100.0 * log10(CAST(tr_sum AS DOUBLE) / rng)
                           / log10({CHOP_SPAN}.0) * 10000) / 10000
           END AS choppiness,
           CASE WHEN rng > 0
                THEN 100.0 * log10(CAST(tr_sum AS DOUBLE) / rng)
                     / log10({CHOP_SPAN}.0) > 61.8 END AS choppy
    FROM s WHERE n_bars = {CHOP_SPAN}
"""


@register("win_choppiness_index", oracle=_CHOP_ORACLE)
def win_choppiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dreiss' Choppiness Index per event type: 100 x log10(sum of
    {CHOP_SPAN} true ranges / the {CHOP_SPAN}-day high-low range) /
    log10({CHOP_SPAN}) — a pure trendiness-of-PATH gauge (directionless
    by construction): ~100 = the path wandered its whole budget inside
    a static range (chop), low = the ranges stacked into one directed
    move. The Fibonacci 61.8 line is the classic "too choppy to trend-
    follow" gate. Reads beside win_kaufman_er (ER measures the CLOSE
    path's efficiency; CHOP measures the full-range path's).

    Scale/determinism: the win_atr true-range machinery (gap-aware,
    first bar = plain range) on exact integer cents; tr_sum and the
    channel range are exact integers, so the statistic is log10s of
    one exact ratio on identical doubles (floored 1e-4; flag on the
    unfloored value). Flat {CHOP_SPAN}-day channel (rng = 0) nulls
    both columns on both engines. Full-frame gating."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-(CHOP_SPAN - 1), 0)
    prev_cls = F.lag("cls").over(w)
    tr_c = F.greatest(
        F.col("hi") - F.col("lo"),
        F.abs(F.col("hi") - prev_cls),
        F.abs(F.col("lo") - prev_cls),
    )
    tr = bars.select("event_type", "day", "hi", "lo", tr_c.alias("tr_c"))
    s = tr.select(
        "event_type",
        "day",
        F.sum("tr_c").over(wf).alias("tr_sum"),
        (F.max("hi").over(wf) - F.min("lo").over(wf)).alias("rng"),
        F.count(F.lit(1)).over(wf).alias("n_bars"),
    ).where(F.col("n_bars") == CHOP_SPAN)
    chop = (
        100.0
        * F.log10(F.col("tr_sum").cast("double") / F.col("rng"))
        / F.log10(F.lit(float(CHOP_SPAN)))
    )
    ok = F.col("rng") > 0
    return s.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.when(ok, F.floor(chop * 10_000) / 10_000).alias("choppiness"),
        F.when(ok, chop > 61.8).alias("choppy"),
    )


#: Katz fractal-dimension window in daily closes.
KATZ_FD_SPAN = 14

_KATZ_FD_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    framed AS (
      SELECT event_type, day,
             list(cls) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN {KATZ_FD_SPAN - 1} PRECEDING
                             AND CURRENT ROW) AS a
      FROM bars
    ),
    m AS (
      SELECT event_type, day, len(a) AS n,
             list_sum(list_transform(range(2, len(a) + 1),
                                     i -> ABS(a[i] - a[i - 1]))) AS l_path,
             list_max(list_transform(range(1, len(a) + 1),
                                     i -> ABS(a[i] - a[1]))) AS d_ext
      FROM framed
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(l_path AS BIGINT) AS path_cents,
           CAST(d_ext AS BIGINT) AS extent_cents,
           CASE WHEN d_ext > 0 AND l_path > 0
                     AND ABS({KATZ_FD_SPAN - 1} * CAST(d_ext AS BIGINT)
                             - CAST(l_path AS BIGINT)) * 100000
                         >= CAST(l_path AS BIGINT)
                THEN floor(log10({KATZ_FD_SPAN - 1}.0)
                           / (log10({KATZ_FD_SPAN - 1}.0)
                              + log10(CAST(d_ext AS DOUBLE) / l_path))
                           * 10000) / 10000
           END AS fractal_dim
    FROM m WHERE n = {KATZ_FD_SPAN}
"""


@register("win_fractal_dimension", oracle=_KATZ_FD_ORACLE)
def win_fractal_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz fractal dimension (Katz 1988) of the trailing
    {KATZ_FD_SPAN}-close path per event type: FD = log10(n) / (log10(n)
    + log10(d/L)) with n = {KATZ_FD_SPAN - 1} steps, L = total path
    length, d = max excursion from the window's FIRST point. FD -> 1
    for a straight trend, -> 2 as the path fills its range — the
    waveform-complexity number behind the "fractal dimension index"
    regime filters, measuring the same trend-vs-chop axis as
    win_choppiness_index from the close path instead of bar ranges.

    Scale/determinism: the win_theil_sen composition — collect_list
    over one ROWS frame, pure array exprs (no UDF): L and d are exact
    integer cents from array folds, the FD is log10s of one exact
    ratio on identical doubles, floored 1e-4. Degenerate windows
    (d = 0 flat-from-start or L = 0 fully flat) null the FD on both
    engines. Full-frame gating.

    Singularity guard (ADVICE r12): the FD denominator log10(steps*d/L)
    crosses 0 at steps*d == L (e.g. exact integers d=100, L=1300), where
    Spark's F.floor(LONG) saturates at Long.MaxValue while DuckDB's
    floor stays DOUBLE/inf, and libm log10 ulps are amplified
    unboundedly. Both engines therefore null the FD unless
    |steps*d - L| * 100000 >= L — an EXACT-integer predicate (no
    epsilon-on-doubles cross-engine risk; magnitudes are price-bounded,
    |13d-L|*1e5 <~ 1e13 << 2^63). Outside the guard |denominator| >=
    log10(1 + 1e-5) ~ 4.3e-6, so FD <= ~2.6e5, fd*10000 fits LONG, and
    the 1e-4 floor is stable against ~1e-16 relative log ulps."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(KATZ_FD_SPAN - 1), 0)
    )
    framed = bars.select(
        "event_type",
        "day",
        F.collect_list("cls").over(w).alias("a"),
    )
    a = F.col("a")
    n = F.size(a)
    l_path = F.aggregate(
        F.transform(
            F.sequence(F.lit(2), n),
            lambda i: F.abs(F.element_at(a, i) - F.element_at(a, i - 1)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d_ext = F.array_max(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.abs(F.element_at(a, i) - F.element_at(a, 1)),
        )
    )
    m = framed.where(n == KATZ_FD_SPAN).select(
        "event_type",
        "day",
        l_path.alias("l_path"),
        d_ext.alias("d_ext"),
    )
    steps = float(KATZ_FD_SPAN - 1)
    fd = F.log10(F.lit(steps)) / (
        F.log10(F.lit(steps))
        + F.log10(F.col("d_ext").cast("double") / F.col("l_path"))
    )
    ok = (
        (F.col("d_ext") > 0)
        & (F.col("l_path") > 0)
        # exact-integer singularity guard — see docstring
        & (
            F.abs(
                F.lit(int(steps)) * F.col("d_ext") - F.col("l_path")
            )
            * F.lit(100_000)
            >= F.col("l_path")
        )
    )
    return m.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("l_path").cast("bigint").alias("path_cents"),
        F.col("d_ext").cast("bigint").alias("extent_cents"),
        F.when(ok, F.floor(fd * 10_000) / 10_000).alias("fractal_dim"),
    )


#: TRIX triple-EMA frame depth (dyadic alpha = 1/2 truncated EWMA at
#: each stage — the win_ewma_crossover determinism doctrine; speed
#: comes from frame depth, and 2^-8 of the weight mass is discarded).
TRIX_FRAME = 8


def _trix_ewma_sql() -> str:
    """DuckDB weighted adjust=True EWMA fold over a list column f8."""
    return """
             list_sum([f8[i + 1] * pow(0.5, len(f8) - 1 - i)
                       FOR i IN range(len(f8))])
             / (2 - pow(0.5, len(f8) - 1))"""


_TRIX_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    e1 AS (
      SELECT event_type, day,
             list(CAST(cls AS DOUBLE)) OVER w AS f8
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {TRIX_FRAME - 1} PRECEDING AND CURRENT ROW)
    ),
    v1 AS (SELECT event_type, day, ({_trix_ewma_sql()}) AS e FROM e1),
    e2 AS (
      SELECT event_type, day, list(e) OVER w AS f8
      FROM v1
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {TRIX_FRAME - 1} PRECEDING AND CURRENT ROW)
    ),
    v2 AS (SELECT event_type, day, ({_trix_ewma_sql()}) AS e FROM e2),
    e3 AS (
      SELECT event_type, day, list(e) OVER w AS f8
      FROM v2
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {TRIX_FRAME - 1} PRECEDING AND CURRENT ROW)
    ),
    v3 AS (SELECT event_type, day, ({_trix_ewma_sql()}) AS e FROM e3),
    fin AS (
      SELECT event_type, day, e,
             lag(e) OVER (PARTITION BY event_type ORDER BY day) AS prev
      FROM v3
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           floor(e / 100.0 * 10000) / 10000 AS triple_ema,
           floor((e / prev - 1) * 10000 * 10000) / 10000 AS trix_bp
    FROM fin WHERE prev IS NOT NULL AND prev > 0
"""


@register("win_trix", oracle=_TRIX_ORACLE)
def win_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX per event type: the 1-bar rate of change of a TRIPLE
    truncated EWMA of the daily close, in basis points — three
    smoothing passes filter noise cubically, so the sign of TRIX is
    the classic whipsaw-resistant trend trigger (a single EMA's slope
    flips on every blip; TRIX flips when the smoothed-of-smoothed-of-
    smoothed level actually turns). All three stages keep alpha = 1/2
    (exact dyadic weights) over {TRIX_FRAME}-row frames — the
    win_ewma_crossover determinism trick that makes non-dyadic
    12/26-style MACD decays unpinnable across engines.

    Scale/determinism: three stacked collect_list window folds on the
    shared (event_type, day) bar frame (O({TRIX_FRAME}) state each,
    no UDF); every fold is exact dyadic IEEE arithmetic in fold order,
    so ema/ema2/ema3 are bit-identical cross-engine; the ROC divides
    two identical doubles and floors at 1e-4 basis points."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w_ord = Window.partitionBy("event_type").orderBy("day")
    w = w_ord.rowsBetween(-(TRIX_FRAME - 1), 0)

    def ewma_of(col):
        return _half_life_ewma(F.collect_list(col).over(w))

    v1 = bars.select(
        "event_type", "day", ewma_of(F.col("cls").cast("double")).alias("e")
    )
    v2 = v1.select("event_type", "day", ewma_of(F.col("e")).alias("e"))
    v3 = v2.select("event_type", "day", ewma_of(F.col("e")).alias("e"))
    prev = F.lag("e").over(w_ord)
    fin = v3.select("event_type", "day", "e", prev.alias("prev")).where(
        F.col("prev").isNotNull() & (F.col("prev") > 0)
    )
    return fin.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        (F.floor(F.col("e") / 100.0 * 10_000) / 10_000).alias("triple_ema"),
        (
            F.floor((F.col("e") / F.col("prev") - 1) * 10_000 * 10_000)
            / 10_000
        ).alias("trix_bp"),
    )


# ---------------------------------------------------------------------------
# r13 block: volume-flow indicators (Chaikin money flow, accumulation/
# distribution line), Elder ray, and Know Sure Thing — all on the shared
# daily-bar lattice.
# ---------------------------------------------------------------------------

#: Chaikin money-flow lookback (the standard 20-bar convention fits the
#: 30-day events fixture).
CMF_SPAN = 20

#: Money-flow-multiplier in integer micro-units: ((cls-lo)-(hi-cls)) /
#: (hi-lo), floored at 1e-6; a flat bar (hi = lo) contributes 0 (the
#: published convention). Exact integer cents in, one double division,
#: FLOOR — identical IEEE sequence both engines.
_MFM_U_SQL = """CASE WHEN hi > lo
                     THEN CAST(FLOOR((2 * cls - hi - lo) * 1000000.0
                                     / (hi - lo)) AS BIGINT)
                     ELSE 0 END"""


def _mfm_u_col():
    return F.when(
        F.col("hi") > F.col("lo"),
        F.floor(
            (2 * F.col("cls") - F.col("hi") - F.col("lo"))
            * 1_000_000.0
            / (F.col("hi") - F.col("lo"))
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))


_CMF_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    mf AS (
      SELECT event_type, day, vol,
             ({_MFM_U_SQL}) * vol AS mfv_u,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM bars
    ),
    w AS (
      SELECT event_type, day, rn,
             SUM(mfv_u) OVER fr AS mfv_sum,
             SUM(vol) OVER fr AS vol_sum
      FROM mf
      WINDOW fr AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {CMF_SPAN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           floor(mfv_sum / (1000000.0 * vol_sum) * 10000) / 10000 AS cmf,
           mfv_sum > 0 AS accumulating
    FROM w WHERE rn >= {CMF_SPAN}
"""


@register("win_chaikin_money_flow", oracle=_CMF_ORACLE)
def win_chaikin_money_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin money flow over the trailing {CMF_SPAN} daily bars per
    event type: the volume-weighted mean of the money-flow multiplier
    ((close-low)-(high-close))/(high-low) — where within its range
    each bar CLOSED, weighted by how much traded. CMF > 0 reads as
    accumulation (closes near highs on volume), < 0 as distribution;
    it is the windowed-ratio twin of win_accum_dist_line's cumulative
    level and complements win_mfi (which needs a separate up/down
    split) with a single signed flow ratio.

    Scale/determinism: bars fold on the shared exact-cents lattice;
    the multiplier floors to integer micro-units per bar BEFORE the
    volume multiply (mfm in [-1e6, 1e6], so mfv_u = mfm_u * vol stays
    far inside BIGINT at any volume), both window sums are exact
    integer folds, and CMF is ONE final division floored 1e-4. The
    accumulating flag compares the exact integer numerator, never the
    divided double. Full-frame gating (rn >= {CMF_SPAN})."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w_ord = Window.partitionBy("event_type").orderBy("day")
    mf = bars.select(
        "event_type",
        "day",
        "vol",
        (_mfm_u_col() * F.col("vol")).alias("mfv_u"),
        F.row_number().over(w_ord).alias("rn"),
    )
    fr = w_ord.rowsBetween(-(CMF_SPAN - 1), 0)
    w = mf.select(
        "event_type",
        "day",
        "rn",
        F.sum("mfv_u").over(fr).alias("mfv_sum"),
        F.sum("vol").over(fr).alias("vol_sum"),
    )
    return w.where(F.col("rn") >= CMF_SPAN).select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        (
            F.floor(
                F.col("mfv_sum") / (1_000_000.0 * F.col("vol_sum")) * 10_000
            )
            / 10_000
        ).alias("cmf"),
        (F.col("mfv_sum") > 0).alias("accumulating"),
    )


_ADL_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    mf AS (
      SELECT event_type, day, ({_MFM_U_SQL}) * vol AS mfv_u
      FROM bars
    ),
    cml AS (
      SELECT event_type, day,
             SUM(mfv_u) OVER (PARTITION BY event_type ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS adl_u
      FROM mf
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(adl_u AS BIGINT) AS adl_units,
           floor(adl_u / 1000000.0 * 10000) / 10000 AS adl
    FROM cml
"""


@register("win_accum_dist_line", oracle=_ADL_ORACLE)
def win_accum_dist_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulation/distribution line (Chaikin): the running total of
    each bar's money-flow volume from the first bar — the cumulative
    LEVEL whose divergence from price is the classic early-turn
    signal (price up while ADL falls = rally on weak flow). Shares
    win_chaikin_money_flow's per-bar multiplier exactly, so the pair
    reads as level + {CMF_SPAN}-bar rate of the same flow series, the
    way win_obv pairs with its own windowed readers.

    Scale/determinism: the multiplier floors to integer micro-units
    per bar, so the running total is an EXACT integer cumulative sum
    (each term a deterministic FLOOR — no float accumulation drift at
    any series length, the win_running_sum discipline); the published
    float-accumulated ADL is recovered at 1e-6 resolution. One
    presentation division floored 1e-4; raw units emitted alongside.
    The cumulative window is the standard per-key ordered fold —
    partition-parallel across event types."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    mf = bars.select(
        "event_type", "day", (_mfm_u_col() * F.col("vol")).alias("mfv_u")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = mf.select(
        "event_type", "day", F.sum("mfv_u").over(w_cum).alias("adl_u")
    )
    return c.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("adl_u").cast("bigint").alias("adl_units"),
        (F.floor(F.col("adl_u") / 1_000_000.0 * 10_000) / 10_000).alias(
            "adl"
        ),
    )


#: Elder-ray smoothing frame: the shared truncated dyadic EWMA
#: (alpha = 1/2 over 8 bars — the win_trix determinism convention
#: standing in for Elder's 13-bar EMA, whose 2/14 alpha is not
#: exactly representable cross-engine).
ELDER_FRAME = 8

_ELDER_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    e1 AS (
      SELECT event_type, day, hi, lo,
             list(CAST(cls AS DOUBLE)) OVER w AS f8
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {ELDER_FRAME - 1} PRECEDING AND CURRENT ROW)
    ),
    v AS (
      SELECT event_type, day, hi, lo,
             list_sum([f8[i + 1] * pow(0.5, len(f8) - 1 - i)
                       FOR i IN range(len(f8))])
             / (2 - pow(0.5, len(f8) - 1)) AS ema
      FROM e1
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           floor((hi - ema) / 100 * 10000) / 10000 AS bull_power,
           floor((lo - ema) / 100 * 10000) / 10000 AS bear_power,
           hi - ema > 0 AND NOT (lo - ema > 0) AS bulls_contested
    FROM v
"""


@register("win_elder_ray", oracle=_ELDER_ORACLE)
def win_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder-ray bull/bear power (Elder 1993): today's high minus the
    smoothed close (how far bulls pushed above consensus value) and
    today's low minus it (how far bears pulled below). Both positive =
    uncontested bulls; the interesting regime is the contested bar
    where bulls hold the high but bears still drag the low under the
    EMA — the divergence setups Elder trades. The smoother is the
    repo's truncated dyadic EWMA (see ELDER_FRAME note).

    Scale/determinism: one collect_list window fold per bar on the
    shared cents lattice (the win_trix machinery, single stage);
    the dyadic weights make the EWMA bit-identical cross-engine; the
    two powers are cents-vs-identical-double subtractions floored
    1e-4 dollars; the regime flag compares the UNFLOORED difference
    sign identically in both engines (a 0-boundary tie requires
    hi exactly equal to the EWMA double — measure-zero on the dyadic
    lattice and identical either way since both engines compare the
    same doubles)."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(ELDER_FRAME - 1), 0)
    )
    ema = _half_life_ewma(F.collect_list(F.col("cls").cast("double")).over(w))
    v = bars.select("event_type", "day", "hi", "lo", ema.alias("ema"))
    bull = F.col("hi") - F.col("ema")
    bear = F.col("lo") - F.col("ema")
    return v.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        (F.floor(bull / 100 * 10_000) / 10_000).alias("bull_power"),
        (F.floor(bear / 100 * 10_000) / 10_000).alias("bear_power"),
        ((bull > 0) & ~(bear > 0)).alias("bulls_contested"),
    )


#: Know-Sure-Thing parameters, scaled to the 30-day events fixture
#: (Pring's 10/15/20/30 ROCs with 10/10/10/15 SMAs need 45+ bars; the
#: shape — four weighted smoothed ROCs of increasing span — is
#: preserved at 3/5/7/9 ROCs with 3/3/3/5 SMAs and weights 1..4).
KST_ROCS = (3, 5, 7, 9)
KST_SMAS = (3, 3, 3, 5)
#: LCM of the SMA spans: KST is kept exact-integer as kst15_u =
#: sum_i weight_i * (15 / sma_i) * SUM_sma_i(roc_u_i).
KST_LCM = 15
#: First fully-defined bar: max ROC lag + its SMA warmup + 2 more for
#: the 3-bar signal line.
KST_MIN_RN = max(
    r + s - 1 for r, s in zip(KST_ROCS, KST_SMAS)
) + 3


def _kst_roc_sql() -> str:
    """Stage-1 ROC columns (window LAGs cannot nest inside the window
    SUMs, so the fold is two stages on both engines)."""
    cols = []
    for i, r in enumerate(KST_ROCS, start=1):
        cols.append(
            f"CAST(FLOOR((cls - LAG(cls, {r}) OVER o) * 1000000.0"
            f" / LAG(cls, {r}) OVER o) AS BIGINT) AS roc{i}_u"
        )
    return ", ".join(cols)


def _kst_sum_sql() -> str:
    terms = []
    for i, s in enumerate(KST_SMAS, start=1):
        terms.append(
            f"{i * (KST_LCM // s)} * SUM(roc{i}_u)"
            f" OVER (PARTITION BY event_type ORDER BY day"
            f" ROWS BETWEEN {s - 1} PRECEDING AND CURRENT ROW)"
        )
    return " + ".join(terms)


_KST_ORACLE = f"""
    WITH {_OHLC_BARS_SQL},
    r AS (
      SELECT event_type, day,
             ROW_NUMBER() OVER o AS rn,
             {_kst_roc_sql()}
      FROM bars
      WINDOW o AS (PARTITION BY event_type ORDER BY day)
    ),
    k AS (
      SELECT event_type, day, rn,
             {_kst_sum_sql()} AS kst_u
      FROM r
    ),
    sig AS (
      SELECT event_type, day, rn, kst_u,
             SUM(kst_u) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS sig3_u
      FROM k
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           floor(kst_u / 1500.0 * 10000) / 10000 AS kst_bp,
           floor(sig3_u / 4500.0 * 10000) / 10000 AS signal_bp,
           3 * kst_u > sig3_u AS above_signal
    FROM sig WHERE rn >= {KST_MIN_RN}
"""


@register("win_kst", oracle=_KST_ORACLE)
def win_kst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Know Sure Thing (Pring): the weighted sum of four SMA-smoothed
    rates of change of increasing span (weights 1..4 — the long swing
    dominates, the short ones time it), plus its 3-bar signal line;
    the KST-crosses-signal event is Pring's cycle-turn trigger.
    Parameters scale to the fixture's 30-day span (see KST_ROCS note);
    the published 10/15/20/30 set drops in unchanged on longer bars.

    Scale/determinism: each ROC floors to integer micro-units per bar
    (exact cents ratio, one FLOOR — the win_chaikin_money_flow
    device), each SMA stays an UNDIVIDED integer window sum, and the
    four terms combine via the LCM-of-spans weights so kst15_u is one
    exact integer per bar; KST, the signal (a 3-bar sum of integers),
    and the cross flag (3*kst_u vs sig3_u — integer compare) never
    touch accumulated floats. Presentation divisions floor at 1e-4
    basis points. Gating at rn >= {KST_MIN_RN} (full warmup
    everywhere, so no NULL-window semantics diverge)."""
    t = load(spark, sf_dir)
    bars = _ohlc_bars(t)
    w_ord = Window.partitionBy("event_type").orderBy("day")
    roc_cols = []
    for i, r in enumerate(KST_ROCS, start=1):
        lagc = F.lag("cls", r).over(w_ord)
        roc_cols.append(
            F.floor((F.col("cls") - lagc) * 1_000_000.0 / lagc)
            .cast("bigint")
            .alias(f"roc{i}_u")
        )
    staged = bars.select(
        "event_type",
        "day",
        F.row_number().over(w_ord).alias("rn"),
        *roc_cols,
    )
    kst_u = None
    for i, s in enumerate(KST_SMAS, start=1):
        sma_sum = F.sum(f"roc{i}_u").over(w_ord.rowsBetween(-(s - 1), 0))
        term = F.lit(i * (KST_LCM // s)) * sma_sum
        kst_u = term if kst_u is None else kst_u + term
    k = staged.select("event_type", "day", "rn", kst_u.alias("kst_u"))
    sig = k.select(
        "event_type",
        "day",
        "rn",
        "kst_u",
        F.sum("kst_u").over(w_ord.rowsBetween(-2, 0)).alias("sig3_u"),
    )
    return sig.where(F.col("rn") >= KST_MIN_RN).select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        (F.floor(F.col("kst_u") / 1_500.0 * 10_000) / 10_000).alias("kst_bp"),
        (F.floor(F.col("sig3_u") / 4_500.0 * 10_000) / 10_000).alias(
            "signal_bp"
        ),
        (3 * F.col("kst_u") > F.col("sig3_u")).alias("above_signal"),
    )


# ---------------------------------------------------------------------------
# r14: variable-length row-pattern matching — the (A B+ C)-class
# composition win_pattern_vshape's docstring promises.
# ---------------------------------------------------------------------------

_VARLEN_ORACLE = """
    WITH seq AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    steps AS (
      SELECT user_id, rn, v, event_id, ts,
             LAG(v) OVER (PARTITION BY user_id ORDER BY rn) AS pv,
             sign(v - LAG(v) OVER (PARTITION BY user_id ORDER BY rn))
               AS dir
      FROM seq
    ),
    moving AS (SELECT * FROM steps WHERE dir IS NOT NULL AND dir <> 0),
    runs AS (
      SELECT user_id, dir,
             MIN(rn) AS a, MAX(rn) AS b,
             CAST(COUNT(*) AS BIGINT) AS len,
             MIN_BY(pv, rn) AS v_start,
             MAX_BY(v, rn) AS v_end,
             MAX_BY(event_id, rn) AS end_event_id,
             MAX_BY(ts, rn) AS end_ts
      FROM (
        SELECT *,
               rn - row_number() OVER (PARTITION BY user_id, dir
                                       ORDER BY rn) AS grp
        FROM moving
      )
      GROUP BY user_id, dir, grp
    ),
    paired AS (
      SELECT user_id, dir, a, b, len, v_start, v_end,
             end_event_id, end_ts,
             LAG(dir) OVER w AS p_dir, LAG(b) OVER w AS p_b,
             LAG(len) OVER w AS p_len, LAG(v_start) OVER w AS p_v_start,
             LAG(v_end) OVER w AS p_v_end,
             LAG(end_event_id) OVER w AS p_end_event_id,
             LAG(end_ts) OVER w AS p_end_ts
      FROM runs
      WINDOW w AS (PARTITION BY user_id ORDER BY a)
    )
    SELECT user_id,
           p_end_event_id AS trough_event_id,
           strftime(p_end_ts, '%Y-%m-%d %H:%M:%S') AS trough_ts,
           CAST(p_len AS BIGINT) AS down_len,
           CAST(len AS BIGINT) AS up_len,
           p_v_start / 100.0 AS v_peak_in,
           p_v_end / 100.0 AS v_trough,
           v_end / 100.0 AS v_peak_out,
           (p_v_start - p_v_end) / 100.0 AS depth,
           (v_end - p_v_end) / 100.0 AS rebound
    FROM paired
    WHERE dir = 1 AND p_dir = -1 AND a = p_b + 1
    ORDER BY user_id, trough_event_id
"""


@register("win_pattern_varlen", oracle=_VARLEN_ORACLE)
def win_pattern_varlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length row-pattern matching — MATCH_RECOGNIZE
    PATTERN (DOWN+ UP+) compiled to relational algebra: per user over
    (ts, event_id) order, find every maximal run of strictly-falling
    steps immediately followed by a maximal run of strictly-rising
    steps, and emit ONE row per match with the run-length measures
    (down_len, up_len — the B+ quantifier counts) plus the classic
    CEP measures (entry peak, trough, exit peak, depth, rebound).
    The compilation is the textbook gaps-and-islands pipeline
    win_pattern_vshape's docstring promised: step directions by lag,
    flat steps break runs (STRICT pattern, stated), islands keyed by
    rn - row_number within (user, dir), runs aggregated with
    min_by/max_by on rn (never engine-order first/last), consecutive
    runs paired by one more lag window, adjacency a = prev_b + 1.
    Greedy maximal-munch semantics — exactly MATCH_RECOGNIZE's
    default for X+ — fall out of maximal islands for free.

    Scale/determinism: values on the exact cents lattice so every
    direction and measure is integer-exact; three windows, all
    partitioned by user_id (the per-user sequence fits a partition by
    the sessionize argument); matches-only output. Completes VERDICT
    r13 item 5's named gap."""
    t = load(spark, sf_dir)
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.row_number().over(w_seq).alias("rn"),
    )
    w_rn = Window.partitionBy("user_id").orderBy("rn")
    steps = seq.select(
        "user_id",
        "rn",
        "v",
        "event_id",
        "ts",
        F.lag("v").over(w_rn).alias("pv"),
        F.signum(F.col("v") - F.lag("v").over(w_rn)).alias("dir"),
    )
    moving = steps.where(F.col("dir").isNotNull() & (F.col("dir") != 0))
    w_grp = Window.partitionBy("user_id", "dir").orderBy("rn")
    runs = (
        moving.withColumn(
            "grp", F.col("rn") - F.row_number().over(w_grp)
        )
        .groupBy("user_id", "dir", "grp")
        .agg(
            F.min("rn").alias("a"),
            F.max("rn").alias("b"),
            F.count(F.lit(1)).cast("bigint").alias("len"),
            F.min_by("pv", "rn").alias("v_start"),
            F.max_by("v", "rn").alias("v_end"),
            F.max_by("event_id", "rn").alias("end_event_id"),
            F.max_by("ts", "rn").alias("end_ts"),
        )
    )
    w_run = Window.partitionBy("user_id").orderBy("a")
    paired = runs.select(
        "user_id",
        "dir",
        "a",
        "len",
        "v_end",
        F.lag("dir").over(w_run).alias("p_dir"),
        F.lag("b").over(w_run).alias("p_b"),
        F.lag("len").over(w_run).alias("p_len"),
        F.lag("v_start").over(w_run).alias("p_v_start"),
        F.lag("v_end").over(w_run).alias("p_v_end"),
        F.lag("end_event_id").over(w_run).alias("p_end_event_id"),
        F.lag("end_ts").over(w_run).alias("p_end_ts"),
    )
    return (
        paired.where(
            (F.col("dir") == 1)
            & (F.col("p_dir") == -1)
            & (F.col("a") == F.col("p_b") + 1)
        )
        .select(
            "user_id",
            F.col("p_end_event_id").alias("trough_event_id"),
            F.date_format("p_end_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "trough_ts"
            ),
            F.col("p_len").cast("bigint").alias("down_len"),
            F.col("len").cast("bigint").alias("up_len"),
            (F.col("p_v_start") / 100.0).alias("v_peak_in"),
            (F.col("p_v_end") / 100.0).alias("v_trough"),
            (F.col("v_end") / 100.0).alias("v_peak_out"),
            ((F.col("p_v_start") - F.col("p_v_end")) / 100.0).alias("depth"),
            ((F.col("v_end") - F.col("p_v_end")) / 100.0).alias("rebound"),
        )
        .orderBy("user_id", "trough_event_id")
    )
