"""Sorts / limits / top-k (SURVEY.md section 2 B6). All extensions (the
reference never sorts). The driver's value-hash is order-insensitive, so
each query materializes its ordering as a `sort_pos` column computed over a
TOTAL order (unique tiebreaker) — deterministic across engines.

Scale note: orderBy().limit(k) compiles to TakeOrderedAndProject — each
task keeps a k-row heap and the driver merges, no global sort. A full
global sort uses range partitioning (sampled bounds) and is the expensive
path; prefer top-k when k is small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import register


@register(
    "sort_multi_key",
    oracle="""
    SELECT o_orderkey, pri, o_totalprice,
           row_number() OVER (
             ORDER BY pri ASC NULLS LAST, o_totalprice DESC, o_orderkey ASC
           ) AS sort_pos
    FROM (
      SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pri, o_totalprice
      FROM orders
      WHERE o_orderkey < 2000
    )
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort with mixed asc/desc and explicit NULLS LAST
    placement (nulls manufactured via nullif). sort_pos pins the ordering
    into the values so the order-insensitive hash still checks it.

    ``row_number().over(Window.orderBy(...))`` would move the whole table
    into ONE partition (WindowExec warns exactly that; the r4 plan audit
    flagged it), so the position comes from global_row_number instead:
    one range exchange (the one full-data exchange a global sort needs
    anyway) and no SinglePartition exchange."""
    t = load(spark, sf_dir)
    base = t.orders.where(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pri"),
        "o_totalprice",
    )
    order = [
        F.col("pri").asc_nulls_last(),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey").asc(),
    ]
    return (
        global_row_number(base, order, "sort_pos", num_partitions=8)
        .select("o_orderkey", "pri", "o_totalprice", "sort_pos")
        .sortWithinPartitions(*order)
    )


def prefix_offsets(
    df: DataFrame, keys: list[str], bucket: str, weight: Column
) -> DataFrame:
    """The distributed prefix sum, written once: `df` broadcast-joined on
    ``keys + [bucket]`` with ``_off``, the summed `weight` of the rows of
    the same `keys` group in LOWER buckets, and ``_total``, the group's
    summed weight. A caller adds its own within-bucket term (a
    ``row_number``, a running ``sum``, a local position) to ``_off`` and
    gets a global rank or running total over a total order without a
    single-partition window: local work per bucket plus one small global
    merge, the shape of Spark's RDD.zipWithIndex and of REPOSE (ICDE
    2021). `weight` is an integral column — ``F.lit(1)`` counts rows — so
    every offset is an exact integer; keys and buckets are non-null.

    Driver bound: the per-(keys, bucket) sums are collected and folded on
    the driver in bucket order — |keys| x |buckets| rows at any input
    size, so callers keep `keys` low-cardinality (segments, priorities)
    and the bucket count at most a few thousand.

    The bucket must extend the order: within a `keys` group, every row
    of a lower bucket sorts before every row of a higher one. A bucket
    that is a pure function of the sort VALUE (value ranges: ntile, gini,
    corpus) is the same on every evaluation and needs nothing more. A
    bucket read off the physical layout — range partitioning or partition
    ids (global_row_number) — must come from a frame behind a
    ``localCheckpoint`` barrier: repartitionByRange samples its
    boundaries afresh on every evaluation, so without the barrier the
    aggregate collected here and the frame it joins back to see
    different partitionings, and ranks duplicate or skip (the r10 sf0.1
    sweep caught it on corpus_heaps_law: bucket sizes 439-550 instead of
    500; sf0.01 masked it because range sampling is exhaustive on small
    inputs)."""
    agg = df.groupBy(*keys, bucket).agg(F.sum(weight).alias("_w"))
    groups: dict[tuple, list] = {}
    for r in agg.collect():
        groups.setdefault(tuple(r[k] for k in keys), []).append(
            (r[bucket], r["_w"])
        )
    rows = []
    for key, parts in groups.items():
        total = sum(w for _, w in parts)
        acc = 0
        for b, w in sorted(parts):
            rows.append((*key, b, acc, total))
            acc += w
    wtype = agg.schema["_w"].dataType
    schema = StructType(
        [agg.schema[c] for c in (*keys, bucket)]
        + [StructField("_off", wtype), StructField("_total", wtype)]
    )
    offs = df.sparkSession.createDataFrame(rows, schema)
    return df.join(F.broadcast(offs), [*keys, bucket])


def global_row_number(
    df: DataFrame, order: list, pos_col: str, num_partitions: int = 8
) -> DataFrame:
    """Assign a 1-based global row number under `order` WITHOUT moving the
    table into one partition. `order` must be a TOTAL order (include a
    unique tiebreak column) or the assignment is nondeterministic within
    ties. Output keeps all input columns plus `pos_col` (int), range-
    partitioned and locally sorted by `order`.

    Range-partition and sort within partitions, then
    ``monotonically_increasing_id`` encodes (partition index << 33) +
    local row position, computed in place with no shuffle; the partition
    index is the prefix_offsets bucket and the local position its
    within-bucket term. The partition index is read off the layout, so
    the localCheckpoint is the barrier prefix_offsets requires; both the
    collected counts and the joined frame read its blocks."""
    ranged = (
        df.repartitionByRange(num_partitions, *order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftrightunsigned("_mid", 33))
        .withColumn("_local", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
        .localCheckpoint(eager=False)
    )
    return (
        prefix_offsets(ranged, [], "_pid", F.lit(1))
        .withColumn(
            pos_col, (F.col("_off") + F.col("_local") + 1).cast("int")
        )
        .drop("_mid", "_pid", "_local", "_off", "_total")
    )


@register(
    "limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: compiles to TakeOrderedAndProject (per-task heaps, driver
    merge — no shuffle of the full table). Tiebreak on o_orderkey keeps the
    k-row frontier deterministic."""
    t = load(spark, sf_dir)
    return (
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


_SKYLINE_ORACLE = """
    SELECT q.p_partkey, q.p_retailprice, CAST(q.p_size AS BIGINT) AS p_size
    FROM part q
    WHERE NOT EXISTS (
      SELECT 1 FROM part p
      WHERE p.p_retailprice <= q.p_retailprice AND p.p_size <= q.p_size
        AND (p.p_retailprice < q.p_retailprice OR p.p_size < q.p_size)
    )
"""


@register("sort_pareto_skyline", oracle=_SKYLINE_ORACLE)
def sort_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline (dominance / maximal-vector) query: the parts not
    STRICTLY dominated on (minimize retail price, minimize size) — the
    preference-query operator behind "show me the options where nothing
    else is both cheaper and smaller" (Borzsony/Kossmann/Stocker's
    SKYLINE OF, which naive engines write as the quadratic NOT EXISTS
    self-join the oracle runs). Points tied on both dimensions dominate
    neither, so identical (price, size) twins both survive.

    Distributed 2-D form, zero quadratic work: (1) one combinable
    groupBy collapses parts to min-size per price — bounded by the
    PRICE DOMAIN (1-dp lattice on [900, 999.9]: <=1000 rows at any
    corpus size, the agg_mann_whitney bounded-domain argument); (2) a
    strict-preceding running MIN over that bounded frame gives the best
    size among all strictly-cheaper prices, so a price's min-size row
    is skyline iff it beats that prefix; (3) the surviving (price,
    min_size) chain is monotone decreasing in size — at most |size
    domain| = 50 rows here — joined back on (price, size) to pull
    every surviving part row. The join-back carries NO hard broadcast
    hint: the skyline is domain-bounded on THIS fixture but a Pareto
    front has no size guarantee in general, so AQE sizes it at
    runtime (broadcast when tiny, shuffle join when not). The
    quadratic dominance test is the ORACLE's cost, never the
    operator's."""
    t = load(spark, sf_dir)
    pp = t.part.groupBy("p_retailprice").agg(
        F.min("p_size").alias("ms")
    )
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # Alias both sides: `sky` derives from t.part, so an unqualified
    # broadcast-back join would resolve both sides' attributes to the
    # same lineage (MISSING_ATTRIBUTES AnalysisException).
    sky = (
        pp.withColumn("pm", F.min("ms").over(w))
        .where(F.col("pm").isNull() | (F.col("pm") > F.col("ms")))
        .select(
            F.col("p_retailprice").alias("sky_price"),
            F.col("ms").alias("sky_size"),
        )
    )
    return (
        t.part.alias("p")
        .join(
            sky.alias("k"),
            (F.col("p.p_retailprice") == F.col("k.sky_price"))
            & (F.col("p.p_size") == F.col("k.sky_size")),
        )
        .select(
            "p.p_partkey",
            "p.p_retailprice",
            F.col("p.p_size").cast("bigint").alias("p_size"),
        )
    )
