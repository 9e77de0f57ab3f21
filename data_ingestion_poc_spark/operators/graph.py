"""Iterative graph analytics over relationally-derived edges (round 4b).

`dedup_clusters` (llm/dedup.py) already covers connected components; this
module adds the other canonical iterative-dataflow shape, PageRank, over
the customer<->supplier bipartite graph implied by lineitem ⋈ orders.
PageRank-style propagation is what a training-data pipeline runs over a
web-crawl link graph for quality signals (Common Crawl's harmonic
centrality, Google's original ranking) — the graph here is small, but the
plan shape is the 100 TB one: edges shuffle on their join key once per
iteration, ranks stay (node, value) pairs, nothing ever collects.

Fixed-point arithmetic, deliberately: ranks are BIGINT micro-units
(TOTAL_MASS = 1e12 split over N nodes) and every update is integer
multiply/floor-divide. Floating-point PageRank sums contributions in
engine-dependent order, so no cross-engine value oracle can pin it
bit-exactly; over integers, addition is associative and both engines
compute IDENTICAL states every iteration — the same determinism-over-
convenience choice the reference makes for its digest-based dedup
(child.py:174-191), applied to an iterative algorithm.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import footer_row_count, iterate, load
from ..registry import register

#: Total rank mass in integer micro-units, and the damping factor 0.85
#: expressed as the exact rational 17/20 so both engines floor-divide.
TOTAL_MASS = 1_000_000_000_000
PAGERANK_ITERS = 3

#: Broadcast cap for the NODE-SIZED per-round frames of the iterative
#: family (ranks / labels / dist / alive / outsum / contrib / scores).
#: These frames scale linearly with SF (nodes = customers + suppliers),
#: so an unconditional F.broadcast hint — r14's recipe — asserts the
#: guide's §3.1 fits-in-memory condition instead of checking it: at
#: 100 TB the hint forces a multi-billion-row broadcast build that OOMs
#: the driver (r14 VERDICT item 1). _node_bcast checks the condition
#: against table statistics: 16M nodes x ~(id string + long) stays in
#: the guide's "few hundred MB is fine" band, far under the 8 GB /
#: 512M-row hard cap. Env knob DIP_GRAPH_BCAST_MAX_NODES parameterises
#: the cluster-vs-local trade (set 0 to force the shuffle path — the
#: oracle axis run proving both paths emit identical rows).
GRAPH_BCAST_MAX_NODES = 16_000_000


def _node_bcast(spark: SparkSession, sf_dir: str):
    """Size-dispatched broadcast hint for node-sized iterative frames.

    Returns ``F.broadcast`` when the node-set cardinality BOUND
    (customer + supplier row counts from parquet footers — the local
    stand-in for metastore table stats, a driver-side metadata read,
    no job; catalog.footer_row_count) fits GRAPH_BCAST_MAX_NODES, else
    the identity — the join then falls back to the partitioned-edges
    shuffle plan, whose per-round cost the pre-r14 records measured and
    which never builds an over-size hash relation. The sf0.1 plans are
    unchanged (16k nodes << cap: broadcast still picked).

    Synthetic test fixtures plant only orders/lineitem, so a missing
    base table counts 0 toward the bound: no table ⇒ no rows from it."""
    import os

    cap = int(
        os.environ.get("DIP_GRAPH_BCAST_MAX_NODES", GRAPH_BCAST_MAX_NODES)
    )
    bound = 0
    for name in ("customer", "supplier"):
        try:
            bound += footer_row_count(spark, sf_dir, name)
        except Exception:
            pass
    if bound <= cap:
        return F.broadcast
    return lambda df: df


def _both_directions(e0: DataFrame, with_w: bool = True) -> DataFrame:
    """Both directions of an aggregated (src, dst[, w]) pair frame in
    ONE pass (r14 optimization round): `e0.unionByName(e0.select(swap))`
    references the join+aggregate subtree twice and Spark EXECUTES it
    twice — measured ~2x the edge-build cost at sf0.1. The explode
    emits the swapped row from the same aggregated row instead; the
    output multiset is identical."""
    cols = ["src", "dst", "w"] if with_w else ["src", "dst"]
    fwd = F.struct(*[F.col(c) for c in cols])
    swp = F.struct(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        *([F.col("w")] if with_w else []),
    )
    return e0.select(F.explode(F.array(fwd, swp)).alias("e")).select(
        *[F.col(f"e.{c}").alias(c) for c in cols]
    )


def _purchase_pairs(t) -> DataFrame:
    """Aggregated (src, dst, w) customer->supplier purchase pairs — the
    shared edge build of the whole graph family. r14 second pass: the
    hash aggregate groups the INTEGER keys and the string node ids are
    minted on the aggregated pair rows — the old spelling concatenated
    per FACT row, so the 600k-row aggregate hashed/shuffled string
    pairs instead of two bigints. Value-identical: (custkey, suppkey)
    -> ('c'||custkey, 's'||suppkey) is a bijection, so the groups and
    counts are the same."""
    return (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            F.concat(
                F.lit("c"), F.col("o_custkey").cast("string")
            ).alias("src"),
            F.concat(
                F.lit("s"), F.col("l_suppkey").cast("string")
            ).alias("dst"),
            "w",
        )
    )

_EDGES_SQL = """
    edges0 AS (
      SELECT 'c' || CAST(o.o_custkey AS VARCHAR)  AS src,
             's' || CAST(l.l_suppkey AS VARCHAR)  AS dst,
             CAST(COUNT(*) AS BIGINT)             AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst, w FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst, w FROM edges0
    ),
    outsum AS (SELECT src, SUM(w) AS wsum FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes)
"""


def _rank_step_sql(prev: str, out: str) -> str:
    """One unrolled fixed-point PageRank round as SQL CTEs."""
    return f"""
    contrib_{out} AS (
      SELECT e.dst AS node,
             SUM((r.rank_units * e.w) // o.wsum) AS inflow
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN outsum o ON o.src = e.src
      GROUP BY e.dst
    ),
    {out} AS (
      SELECT n.node,
             CAST((150000000000 // (SELECT n FROM nn))
                  + (17 * COALESCE(c.inflow, 0)) // 20 AS BIGINT)
               AS rank_units
      FROM nodes n
      LEFT JOIN contrib_{out} c ON c.node = n.node
    )
"""


_PAGERANK_ORACLE = (
    "WITH "
    + _EDGES_SQL
    + ",\n    r0 AS (SELECT node, CAST(" + str(TOTAL_MASS) + " // (SELECT n FROM nn)"
    " AS BIGINT) AS rank_units FROM nodes),"
    + ",".join(
        _rank_step_sql(f"r{k}", f"r{k + 1}") for k in range(PAGERANK_ITERS)
    )
    + f"""
    SELECT node, rank_units FROM r{PAGERANK_ITERS}
    """
)


def _weighted_inflow(
    spark: SparkSession,
    sf_dir: str,
    rounds: int,
    contrib: str,
    start: Callable[[DataFrame], tuple[Column, Column]],
) -> DataFrame:
    """(node, units) after `rounds` weighted-inflow rounds over the
    undirected purchase graph, in exact BIGINT: each round every edge
    src -> dst carries the SQL expression `contrib` of the src's `units`,
    the edge weight `w` and the src's out-weight `wsum`; contributions
    sum per dst into `inflow`, and every node (teleport-only ones
    included, inflow NULL) takes the `update` column. `start(nodes)`
    returns (round-0 units, update). graph_pagerank and
    graph_katz_centrality differ only in those expressions.

    Plan shape per round: edges hash-partition on dst ONCE so every
    round's contribution groupBy(dst) reuses the cached layout, and the
    node-sized frames (units, outsum, contrib) are broadcast into the
    edge-sized joins — a mapPartitions over cached edges + one
    partition-local hash agg, ZERO per-round exchanges of edge rows (the
    r13 driver measured this loop at 5.5-6.9 s with two shuffle joins
    per round). The broadcast hints are size-dispatched off table stats
    (_node_bcast): node-sized frames scale with SF, and a forced hint at
    100 TB is a driver OOM. outsum is persisted — broadcast(outsum)
    otherwise re-executed its groupBy over the edge cache every round.
    Folding wsum onto the edge rows themselves (via a window or a
    pre-join) was tried and REJECTED: it made the COLD edge
    materialization ~4 s slower (an edge-sized sort / a broadcast build
    racing the cache) for the same warm per-round plan."""
    bc = _node_bcast(spark, sf_dir)
    edges = _both_directions(_purchase_pairs(load(spark, sf_dir)))
    edges = edges.repartition("dst").persist()
    outsum = (
        edges.groupBy("src").agg(F.sum("w").alias("wsum")).persist()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    units0, update = start(nodes)
    ranks = nodes.select("node", units0.cast("long").alias("units"))
    for _ in range(rounds):
        inflow = (
            edges.join(bc(ranks), edges.src == ranks.node)
            .join(bc(outsum), "src")
            .select(F.col("dst").alias("node"), F.expr(contrib).alias("contrib"))
            .groupBy("node")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = nodes.join(bc(inflow), "node", "left").select(
            "node", update.cast("long").alias("units")
        )
    return ranks


@register("graph_pagerank", oracle=_PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 17/20, 3 rounds) over the undirected
    customer<->supplier purchase graph, in exact BIGINT micro-units.

    Plan shape per iteration: edges ⋈ ranks on src (the edge table
    re-partitions ONCE and its partitioning is reused every round —
    ranks are the small, changing side), contributions hash-aggregate on
    dst (map-side combinable integer sums), left join back to the node
    list for teleport-only nodes. Nothing leaves the cluster; the
    iteration count is fixed, so unlike dedup_clusters there is no
    convergence collect at all. At web-graph scale the same loop runs
    with ranks checkpointed every few rounds to truncate lineage —
    dedup_clusters' localCheckpoint discipline."""
    def start(nodes: DataFrame) -> tuple[Column, Column]:
        n = nodes.count()  # scalar graph cardinality, one bounded driver fetch
        update = F.lit(150_000_000_000 // n) + F.expr(
            "17 * coalesce(inflow, 0L) div 20"
        )
        return F.lit(TOTAL_MASS // n), update

    ranks = _weighted_inflow(
        spark, sf_dir, PAGERANK_ITERS, "(units * w) div wsum", start
    )
    return ranks.select("node", F.col("units").alias("rank_units"))


#: Backbone size for the co-occurrence graph: keep the strongest
#: TRIANGLE_BACKBONE edges by shared-part count. The raw co-occurrence
#: graph of uniform synthetic data is complete (every supplier pair
#: shares parts), so thresholding by rank — not by absolute weight —
#: gives a graph with real degree variance at any SF.
TRIANGLE_BACKBONE = 500

#: Per-part distinct-supplier cap (like dedup.JACCARD_DF_CAP): a part
#: carried by f suppliers fans out f(f-1)/2 co-occurrence rows, so one
#: ubiquitous part would turn the pair join quadratic at catalog scale.
TRIANGLE_PART_CAP = 256

_TRIANGLE_ORACLE = f"""
    WITH bip0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    keep AS (SELECT p FROM bip0 GROUP BY p HAVING COUNT(*) <= {TRIANGLE_PART_CAP}),
    bip AS (SELECT bip0.p, bip0.s FROM bip0 JOIN keep USING (p)),
    pairs AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS shared
      FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s
    ),
    edges AS (
      SELECT u, v FROM pairs
      ORDER BY shared DESC, u, v LIMIT {TRIANGLE_BACKBONE}
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    tris AS (
      SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
      FROM oriented o1
      JOIN oriented o2 ON o2.src = o1.dst
      JOIN oriented o3 ON o3.src = o1.src AND o3.dst = o2.dst
    )
    SELECT node, COUNT(*) AS n_triangles
    FROM (SELECT a AS node FROM tris UNION ALL
          SELECT b FROM tris UNION ALL SELECT c FROM tris)
    GROUP BY node
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the supplier co-occurrence backbone —
    the clustering-structure primitive behind community detection and
    spam-graph analysis.

    Scale design, stage by stage:
    1. bipartite part→supplier pairs, with a per-part distinct-supplier
       cap (TRIANGLE_PART_CAP) so no single hot part can make the
       co-occurrence self-join quadratic — the same df-cap discipline as
       dedup_ngram_jaccard's shingle index;
    2. backbone = global top-K edges by shared-part count, computed as
       TakeOrderedAndProject (no single-partition window, no full sort);
    3. DEGREE-ORDERED ORIENTATION: each undirected edge points from its
       (degree, id)-smaller endpoint to the larger. Every triangle is
       then counted exactly once, and — the classical bound (Schank &
       Wagner 2005; the standard MapReduce triangle recipe) — every
       node's out-degree is O(sqrt(E)), so the wedge join o1⋈o2 below
       is bounded even on power-law graphs where an unoriented
       neighbor join explodes on hub nodes;
    4. wedges (src→b→c) equi-join back to oriented edges (src→c) —
       two shuffle joins on edge keys, no cartesian anywhere;
    5. per-node credit = explode each triangle's three corners, count.
    """
    edges, _, deg = _backbone(load(spark, sf_dir))
    return _triangle_counts(edges, deg)


def _triangle_counts(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Stages 3-5 of graph_triangle_count over _backbone's (u, v) edge
    frame and its degree frame. Shared with
    graph_clustering_coefficient (r14), which previously re-executed
    the whole backbone once for the triangle side and once for its
    degree frame."""
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lesser = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lesser, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lesser, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    o1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    o2 = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    o3 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = o1.join(o2, "b").join(o3, ["a", "c"])
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


#: Keep emitted similarity pairs meaningful: at least 2 shared
#: customers (a single co-purchase is noise at any scale).
JACCARD_MIN_COMMON = 2

_NEIGHBOR_JACCARD_ORACLE = """
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY s),
    co AS (
      SELECT a.s AS supp_a, b.s AS supp_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT supp_a, supp_b, n_common,
           da.n AS n_a, db.n AS n_b,
           floor(CAST(n_common AS DOUBLE)
                 / (da.n + db.n - n_common) * 10000) / 10000 AS jaccard
    FROM co
    JOIN deg da ON da.s = supp_a
    JOIN deg db ON db.s = supp_b
    WHERE n_common >= 2
"""


@register("graph_jaccard_neighbors", oracle=_NEIGHBOR_JACCARD_ORACLE)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity between supplier nodes of the
    customer<->supplier bipartite graph: |shared customers| over
    |either's customers| — the link-prediction / item-item
    collaborative-filtering primitive ("suppliers with overlapping
    customer bases"), and the graph twin of dedup_ngram_jaccard's
    set-overlap scoring.

    Direction matters at scale: pairs generate through the BOUNDED side
    (each customer's supplier list, ~32 here), so the co-occurrence
    space is sum-over-customers deg^2 — NOT through the 100-supplier
    side, whose hub fan-out would be sum-over-suppliers of
    thousands-squared (measured 11.7M vs 0.74M pair rows on this same
    fixture). That is exactly the df-cap lesson from the shingle index:
    explode through the low-cardinality neighbor lists, aggregate
    map-side, and a customer whose degree explodes gets capped/sampled
    the way JACCARD_DF_CAP handles stopword shingles. One distinct
    projection, one co-count shuffle keyed on pairs, two broadcast-size
    degree joins."""
    t = load(spark, sf_dir)
    # r14 optimization round: the distinct bipartite frame is
    # localCheckpoint-materialized — THREE consumers (degree frame +
    # both self-join sides) otherwise re-execute the lineitem ⋈ orders
    # + distinct per reference (r13 --all read 4.3 s).
    e = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    a = e.select("c", F.col("s").alias("supp_a"))
    b = e.select("c", F.col("s").alias("supp_b"))
    co = (
        a.join(b, "c")
        .where(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= JACCARD_MIN_COMMON)
    )
    da = deg.select(F.col("s").alias("supp_a"), F.col("n").alias("n_a"))
    db = deg.select(F.col("s").alias("supp_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    # r15: the supplier-degree frames are node-sized (SF-scaling), so
    # the broadcast hint is size-dispatched like the iterative family's
    # per-round frames (VERDICT r14 item 1) instead of asserted.
    bc = _node_bcast(spark, sf_dir)
    return (
        co.join(bc(da), "supp_a")
        .join(bc(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "n_common",
            "n_a",
            "n_b",
            # floor, not round: integer ratios make exact .00005 ties
            # common, and Spark rounds HALF_UP where DuckDB rounds
            # HALF_EVEN (the gopher mean_word_len convention)
            (F.floor(jac * 10000) / 10000).alias("jaccard"),
        )
    )


LABELPROP_ITERS = 3


def _lp_step_sql(prev: str, out: str) -> str:
    """One unrolled synchronous label-propagation round as SQL CTEs.
    Each node also votes its CURRENT label once (weight 1): without the
    self-vote, synchronous LPA 2-colors a bipartite graph and
    oscillates forever (customers adopt supplier labels while suppliers
    adopt customer labels) — the standard stabilization."""
    return f"""
    cand_{out} AS (
      SELECT node, label, SUM(w) AS wsum FROM (
        SELECT e.dst AS node, l.label AS label, e.w AS w
        FROM edges e JOIN {prev} l ON l.node = e.src
        UNION ALL
        SELECT node, label, 1 AS w FROM {prev}
      ) GROUP BY node, label
    ),
    {out} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY wsum DESC, label) AS rn
        FROM cand_{out}
      ) t WHERE rn = 1
    )
"""


_LABELPROP_ORACLE = (
    "WITH "
    + _EDGES_SQL
    + ",\n    l0 AS (SELECT node, node AS label FROM nodes),"
    + ",".join(
        _lp_step_sql(f"l{k}", f"l{k + 1}") for k in range(LABELPROP_ITERS)
    )
    + f"""
    SELECT node, label AS community,
           COUNT(*) OVER (PARTITION BY label) AS community_size
    FROM l{LABELPROP_ITERS}
    """
)


#: Width of the zero-right-padded digit field in the label-prop node
#: code: 13 digits keeps the code inside a BIGINT with the supplier bit
#: at 2^62 (rpad value <= 10^13 - 1, x16 + len <= 1.6e14) and covers
#: node keys far past any SF this engine targets.
_LP_DIGITS = 13


def _lp_code(col: str):
    """Order-preserving BIGINT code of a 'c<digits>'/'s<digits>' node
    id (r15 label-prop encoding — see graph_label_propagation). Total
    order matches STRING comparison exactly: supplier bit (s > c) then
    lexicographic digits = right-padded numeric value with length as
    the tiebreak (a strict prefix sorts first)."""
    digits = F.expr(f"substring({col}, 2)")
    return (
        F.when(
            F.expr(f"substring({col}, 1, 1)") == "s", F.lit(1 << 62)
        ).otherwise(F.lit(0))
        + F.expr(
            f"CAST(rpad(substring({col}, 2), {_LP_DIGITS}, '0') AS BIGINT)"
        )
        * 16
        + F.length(digits)
    ).cast("bigint")


def _lp_decode(col: str):
    """Inverse of _lp_code: BIGINT code back to the node-id string
    (body = padded_value * 16 + len; the padded value right-padded the
    digits with zeros, so lpad-to-width then take the first len)."""
    sbit = 1 << 62
    return F.expr(
        f"concat(IF({col} >= {sbit}L, 's', 'c'), "
        f"substring(lpad(CAST(({col} % {sbit}L) DIV 16 AS STRING), "
        f"{_LP_DIGITS}, '0'), 1, CAST(({col} % {sbit}L) % 16 AS INT)))"
    )


@register("graph_label_propagation", oracle=_LABELPROP_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous weighted label propagation
    (Raghavan et al. 2007) over the same customer<->supplier purchase
    graph as graph_pagerank — the near-linear community primitive
    behind spam-cluster and link-farm detection in crawl curation.
    Each round every node adopts the label carrying the LARGEST total
    edge weight among its neighbors PLUS a weight-1 self-vote for its
    current label (tie -> smallest label string, so the sync update is
    fully deterministic — plain LPA's random tie-breaking cannot be
    value-pinned, and without the self-vote synchronous LPA oscillates
    on bipartite graphs like this one); 3 fixed rounds, no convergence
    collect, the graph_pagerank doctrine.

    Plan shape per round: edges join labels on src (edge partitioning
    reused every round), a map-side-combinable (dst, label) weight sum,
    then a per-node argmax via row_number over the candidate frame —
    each node's candidate count is bounded by its degree. Labels stay
    (node, label) string pairs; integer weights make every wsum exact,
    so both engines pick identical winners every round."""
    t = load(spark, sf_dir)
    e0 = _purchase_pairs(t)
    # r14 optimization round (value-identical): single-pass edge build
    # (_both_directions), node-sized label frame broadcast into the
    # edge join, and a per-round localCheckpoint — each round references
    # the previous labels TWICE (edge join + self-vote union), so the
    # lazy lineage re-executed earlier rounds 2^k times (the r13 --all
    # record read 9.5 s; the checkpointed loop replays identically).
    #
    # r15 (VERDICT r14 item 7): the loop runs on an ORDER-PRESERVING
    # integer code of the node-id strings (_lp_code / _lp_decode), so
    # every per-round hash-agg key and broadcast row is two bigints
    # instead of two strings. The code is arithmetic — no rank job, no
    # dictionary join: string order over 'c<digits>'/'s<digits>' is
    # (prefix, lexicographic digits), and lexicographic order over
    # digit strings equals numeric order of the 13-right-padded value
    # with the LENGTH as tiebreak ('1' < '10' < '2' becomes
    # 1e12*16+1 < 1e12*16+2 < 2e12*16+1). Winner picks use the same
    # (wsum DESC, label ASC) rule on codes, so both engines elect
    # identical communities; codes decode back to the identical
    # strings at the end (bijection on this id domain).
    bc = _node_bcast(spark, sf_dir)  # labels are node-sized: SF-scaling
    edges = (
        _both_directions(e0)
        .select(_lp_code("src").alias("src"), _lp_code("dst").alias("dst"), "w")
        .repartition("dst")
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    w_pick = Window.partitionBy("node").orderBy(
        F.col("wsum").desc(), F.col("label")
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        cand = (
            edges.join(bc(labels), edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label", "w")
            .unionByName(
                labels.select(
                    "node", "label", F.lit(1).cast("long").alias("w")
                )
            )
            .groupBy("node", "label")
            .agg(F.sum("w").alias("wsum"))
        )
        return (
            cand.withColumn("rn", F.row_number().over(w_pick))
            .where(F.col("rn") == 1)
            .select("node", "label")
        )

    labels, _ = iterate(labels, step, LABELPROP_ITERS)
    return labels.select(
        _lp_decode("node").alias("node"),
        _lp_decode("label").alias("community"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("community_size"),
    )


#: Multi-source BFS seed set and round budget. Seeds are the three
#: smallest supplier node labels — deterministic, and supplier-side so
#: distances alternate sides of the bipartite purchase graph.
BFS_SEEDS = ("s1", "s2", "s3")
BFS_ROUNDS = 3


def _bfs_step_sql(prev: str, out: str) -> str:
    """One unrolled BFS relaxation round as SQL CTEs: dist(n) =
    min(dist(n), min over in-neighbors dist + 1)."""
    return f"""
    relax_{out} AS (
      SELECT e.dst AS node, MIN(d.dist + 1) AS nd
      FROM edges e JOIN {prev} d ON d.node = e.src
      GROUP BY e.dst
    ),
    {out} AS (
      SELECT n.node,
             LEAST(COALESCE(p.dist, 999), COALESCE(r.nd, 999)) AS dist
      FROM nodes n
      LEFT JOIN {prev} p ON p.node = n.node
      LEFT JOIN relax_{out} r ON r.node = n.node
    )
"""


_BFS_ORACLE = (
    "WITH "
    + _EDGES_SQL
    + f""",
    d0 AS (
      SELECT node, 0 AS dist FROM nodes
      WHERE node IN ('{BFS_SEEDS[0]}', '{BFS_SEEDS[1]}', '{BFS_SEEDS[2]}')
    ),"""
    + ",".join(
        _bfs_step_sql(f"d{k}", f"d{k + 1}") for k in range(BFS_ROUNDS)
    )
    + f"""
    SELECT node, CAST(dist AS BIGINT) AS dist
    FROM d{BFS_ROUNDS} WHERE dist < 999
    """
)


@register("graph_bfs_distance", oracle=_BFS_ORACLE)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS distance over the purchase graph: hop count
    from the nearest of three seed suppliers, the "distance from a
    trusted/flagged seed set" primitive behind TrustRank-style crawl
    quality propagation and fraud blast-radius queries. BFS_ROUNDS
    fixed relaxation rounds (nodes still unreached emit nothing), the
    graph_pagerank unrolled-iteration doctrine — no convergence
    collect, every round is one edges-join-frontier + combinable MIN.

    Scale: per round the join shuffles (node, dist) pairs against the
    re-used edge partitioning; distances are exact integers so both
    engines relax identically. At web scale the same loop runs
    frontier-only (join against the rows whose dist changed) with
    periodic checkpoints — the dedup_clusters discipline."""
    t = load(spark, sf_dir)
    e0 = _purchase_pairs(t)
    # r14 optimization round (value-identical): single-pass edge build,
    # edges hash-partitioned on dst once (every round's relax groupBy
    # reuses it), node-sized dist/relax frames broadcast, and a
    # per-round localCheckpoint — each round references the previous
    # dist frame TWICE (relax join + carry-forward left join), so the
    # lazy lineage re-executed earlier rounds 2^k times (r13 --all:
    # 9.4 s; the checkpointed loop relaxes identically).
    bc = _node_bcast(spark, sf_dir)  # dist/relax are node-sized
    edges = (
        _both_directions(e0, with_w=False).repartition("dst").persist()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    dist = nodes.where(F.col("node").isin(*BFS_SEEDS)).select(
        "node", F.lit(0).alias("dist")
    ).localCheckpoint()

    def step(dist: DataFrame, _: int) -> DataFrame:
        relax = (
            edges.join(bc(dist), edges.src == dist.node)
            .groupBy(F.col("dst").alias("rnode"))
            .agg(F.min(F.col("dist") + 1).alias("nd"))
        )
        return (
            nodes.join(bc(dist), "node", "left")
            .join(bc(relax), F.col("node") == F.col("rnode"), "left")
            .select(
                "node",
                F.least(
                    F.coalesce("dist", F.lit(999)),
                    F.coalesce("nd", F.lit(999)),
                ).alias("dist"),
            )
        )

    dist, _ = iterate(dist, step, BFS_ROUNDS)
    return dist.where(F.col("dist") < 999).select(
        "node", F.col("dist").cast("bigint").alias("dist")
    )


#: HITS scale: scores live in integer units with the round's maximum
#: pinned to HITS_SCALE (L-infinity normalization by integer floor
#: division — no sqrt, no doubles, same exact-BIGINT doctrine as
#: graph_pagerank's micro-units). Two full hub->auth->hub rounds.
HITS_SCALE = 1_000_000
HITS_ROUNDS = 2


def _hits_round_sql(h_prev: str, a_out: str, h_out: str) -> str:
    """One full HITS round (auth update then hub update, each L-inf
    normalized) as SQL CTEs over the DIRECTED customer->supplier edges."""
    return f"""
    araw_{a_out} AS (
      SELECT e.dst AS node, SUM(e.w * h.units) AS raw
      FROM edges0 e JOIN {h_prev} h ON h.node = e.src
      GROUP BY e.dst
    ),
    {a_out} AS (
      SELECT node, (raw * {HITS_SCALE}) // (SELECT MAX(raw) FROM araw_{a_out})
               AS units
      FROM araw_{a_out}
    ),
    hraw_{h_out} AS (
      SELECT e.src AS node, SUM(e.w * a.units) AS raw
      FROM edges0 e JOIN {a_out} a ON a.node = e.dst
      GROUP BY e.src
    ),
    {h_out} AS (
      SELECT node, (raw * {HITS_SCALE}) // (SELECT MAX(raw) FROM hraw_{h_out})
               AS units
      FROM hraw_{h_out}
    )
"""


_HITS_ORACLE = (
    "WITH "
    + _EDGES_SQL
    + f""",
    h0 AS (
      SELECT DISTINCT src AS node, CAST({HITS_SCALE} AS BIGINT) AS units
      FROM edges0
    ),"""
    + ",".join(
        _hits_round_sql(f"h{k}", f"a{k + 1}", f"h{k + 1}")
        for k in range(HITS_ROUNDS)
    )
    + f"""
    SELECT node, 'hub' AS role, CAST(units AS BIGINT) AS score_units FROM h{HITS_ROUNDS}
    UNION ALL
    SELECT node, 'authority', CAST(units AS BIGINT) FROM a{HITS_ROUNDS}
    """
)


@register("graph_hits", oracle=_HITS_ORACLE)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the DIRECTED
    customer->supplier purchase graph: customers are pure hubs ("buys
    from the important suppliers"), suppliers pure authorities ("bought
    by the important customers") — the mutually-recursive importance
    pair that PageRank's single score collapses; on web/citation data
    this is the link-spam and survey-page detector. Two full unrolled
    rounds, scores converging toward the principal singular vectors of
    the weighted biadjacency matrix.

    Determinism/scale: the graph_pagerank doctrine — exact BIGINT unit
    arithmetic with L-INFINITY normalization by integer floor division
    (the round max is a 1-row scalar broadcast), so no sqrt, no
    doubles, no cross-engine drift; per half-round one edges-join-
    scores shuffle + a combinable integer SUM. Fixed round count, no
    convergence collect.

    r12 scale fix (m100 was 6.3x — the suite's worst): HITS alternates
    its join key src -> dst -> src -> dst, so a single cached edge
    frame re-shuffled the EDGE side every half-round (pagerank always
    joins on src and reuses one exchange — hence its 1.1x). The edges
    are now materialized TWICE, pre-hash-partitioned on src and on
    dst; each half-round's join reuses the matching edge partitioning
    and only the node-sized score frame shuffles. 2x cache for 4
    avoided edge-scale shuffles per run (2 rounds x 2 halves)."""
    t = load(spark, sf_dir)
    e0 = _purchase_pairs(t)
    # r14 optimization round: materialize the aggregated pair frame ONCE
    # before fanning out into the two partitionings — each e_by entry
    # referenced e0 independently, so the lineitem ⋈ orders + aggregate
    # subtree executed twice (value-identical; the two cached layouts
    # and every half-round join are unchanged).
    e0 = e0.localCheckpoint()
    bc = _node_bcast(spark, sf_dir)  # score frames are node-sized
    # r15: the two pre-hash-partitioned edge copies are the r12 fix for
    # the SORT-MERGE regime (edge side re-shuffled every half-round).
    # When the node-sized score frame broadcasts (the dispatched local
    # regime), the edge side never shuffles at all — both copies were
    # two full edge shuffles + persists of dead weight. Build them only
    # when the shuffle path is actually taken.
    if bc is F.broadcast:
        e_by = {"src": e0, "dst": e0}
        _edge_caches = []
    else:
        e_by = {
            "src": e0.repartition("src").persist(),
            "dst": e0.repartition("dst").persist(),
        }
        _edge_caches = list(e_by.values())

    def _half(scores: DataFrame, edge_key: str, group_key: str) -> DataFrame:
        # persist + fetch the round max as a bounded 1-row driver scalar
        # (the graph_pagerank nodes.count() discipline): leaving it as a
        # lazy broadcast chains 4 nested broadcast jobs whose planning
        # replays the whole upstream lineage — 42s -> ~8s at sf0.01.
        raw = (
            e_by[edge_key]
            .join(bc(scores), F.col(edge_key) == F.col("node"))
            .groupBy(F.col(group_key).alias("gnode"))
            .agg(F.sum(F.col("w") * F.col("units")).alias("raw"))
            .persist()
        )
        mx = raw.agg(F.max("raw")).first()[0]
        return raw.select(
            F.col("gnode").alias("node"),
            F.expr(f"(raw * {HITS_SCALE}) div {mx}").alias("units"),
        )

    hubs = e_by["src"].select("src").distinct().select(
        F.col("src").alias("node"), F.lit(HITS_SCALE).cast("long").alias("units")
    )
    auths = None
    for _ in range(HITS_ROUNDS):
        auths = _half(hubs, "src", "dst")
        hubs = _half(auths, "dst", "src")
    # the .first() in each half-round already materialized every join
    # eagerly, so the edge caches are spent; the returned frame executes
    # off the persisted final-round `raw` frames (recompute from parquet
    # if evicted) — release the two edge copies per the cache discipline
    for ec in _edge_caches:
        ec.unpersist()
    return hubs.select(
        "node", F.lit("hub").alias("role"), F.col("units").cast("bigint").alias("score_units")
    ).unionByName(
        auths.select(
            "node",
            F.lit("authority").alias("role"),
            F.col("units").cast("bigint").alias("score_units"),
        )
    )


#: k-core threshold and peel budget: 3 fixed peeling rounds toward the
#: KCORE_K-core (an over-approximation from above — a node the full
#: peel would eventually drop can survive a truncated budget; the
#: graph_bfs_distance fixed-round contract).
KCORE_K = 4
KCORE_ROUNDS = 3


def _kcore_step_sql(prev: str, out: str) -> str:
    """One peeling round: recount degrees inside the surviving
    subgraph, keep nodes with degree >= KCORE_K."""
    return f"""
    deg_{out} AS (
      SELECT e.src AS node, COUNT(*) AS deg
      FROM edges e
      JOIN {prev} a1 ON a1.node = e.src
      JOIN {prev} a2 ON a2.node = e.dst
      GROUP BY e.src
    ),
    {out} AS (SELECT node FROM deg_{out} WHERE deg >= {KCORE_K})
"""


_KCORE_ORACLE = (
    "WITH "
    + _EDGES_SQL
    + ","
    + ",".join(
        _kcore_step_sql(f"k{k}" if k else "nodes", f"k{k + 1}")
        for k in range(KCORE_ROUNDS)
    )
    + f"""
    SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM edges e
    JOIN k{KCORE_ROUNDS} a1 ON a1.node = e.src
    JOIN k{KCORE_ROUNDS} a2 ON a2.node = e.dst
    GROUP BY e.src
    HAVING COUNT(*) >= {KCORE_K}
    """
)


@register("graph_kcore", oracle=_KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core extraction by iterative peeling ({KCORE_ROUNDS}
    fixed rounds): repeatedly drop nodes with fewer than {KCORE_K}
    surviving neighbors and recount — the dense-subgraph primitive
    behind community cores, spam-farm detection, and graph
    summarization (what survives is the mutually-dense backbone no
    single hub can fake). Emits surviving nodes with their final
    within-core degree; a truncated budget over-approximates the true
    core from above, monotonically shrinking per round.

    Scale shape: per round, one self-restricted degree count — edges
    semi-joined against the survivor set on BOTH endpoints (survivors
    are the small shrinking side; the edge partitioning is reused) and
    a combinable COUNT. Exact integer degrees, no floats anywhere.

    Plan (r14 optimization round, value-identical): edges hash-
    partition on src ONCE and every round's groupBy(src) reuses that
    layout (zero per-round exchanges of edge rows); the survivor set is
    node-sized and SHRINKING, so both semi-joins broadcast it instead
    of shuffling edges; `alive` is localCheckpoint-materialized per
    round because round k references round k-1's frame twice (both
    endpoint probes) — unmaterialized, the lazy lineage re-executes
    every earlier round 2^k times (the win_mad_anomaly lesson; the r13
    --all record measured this operator at 21.6 s, the checkpointed
    broadcast loop replays the identical peel in ~2 s)."""
    t = load(spark, sf_dir)
    e0 = _purchase_pairs(t)
    bc = _node_bcast(spark, sf_dir)  # the survivor set starts node-sized
    edges = (
        _both_directions(e0.select("src", "dst"), with_w=False)
        .repartition("src")
        .persist()
    )
    alive = edges.select(F.col("src").alias("node")).distinct().localCheckpoint()

    def degrees(alive: DataFrame) -> DataFrame:
        return (
            edges.join(bc(alive.withColumnRenamed("node", "src")), "src", "semi")
            .join(bc(alive.withColumnRenamed("node", "dst")), "dst", "semi")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    alive, _ = iterate(
        alive,
        lambda alive, _: degrees(alive)
        .where(F.col("deg") >= KCORE_K)
        .select("node"),
        KCORE_ROUNDS,
    )
    return (
        degrees(alive)
        .select("node", F.col("deg").cast("bigint").alias("core_degree"))
        .where(F.col("core_degree") >= KCORE_K)
    )


_ASSORT_ORACLE = (
    "WITH "
    + _EDGES_SQL
    + """,
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ),
    pairs AS (
      SELECT ds.d AS x, dd.d AS y
      FROM edges e
      JOIN deg ds ON ds.node = e.src
      JOIN deg dd ON dd.node = e.dst
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           floor((sxy / n - (sx / n) * (sy / n))
                 / sqrt((sxx / n - (sx / n) * (sx / n))
                        * (syy / n - (sy / n) * (sy / n)))
                 * 1000000) / 1000000 AS assortativity
    FROM s
"""
)


@register("graph_assortativity", oracle=_ASSORT_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the purchase graph: the
    Pearson correlation of endpoint degrees over all edges — positive
    = hubs link hubs (social-network signature), negative = hubs link
    leaves (the hub-and-spoke / bipartite-commerce signature this
    fixture should show). THE one-number topology fingerprint quoted
    for any production graph, and the screen that picks between
    hub-aware and uniform partitioning strategies for the heavier
    graph_ operators.

    Scale shape: degree table = one combinable count; endpoint degrees
    arrive by joining edges to it twice on the reused edge
    partitioning; the correlation reduces to ONE 1-row sufficient-stat
    frame. Determinism: degrees and all five sums are exact integers
    (order-free); the correlation is identical arithmetic both
    engines, floor-scaled."""
    t = load(spark, sf_dir)
    e0 = _purchase_pairs(t)
    # r14 optimization round: single-pass two-direction edge build,
    # localCheckpoint-materialized — `edges` has three consumers (the
    # degree count + both endpoint joins), each of which otherwise
    # re-executed the lineitem ⋈ orders aggregation; the node-sized
    # degree frame broadcasts into the edge-scale joins.
    edges = (
        _both_directions(e0.select("src", "dst"), with_w=False)
        .localCheckpoint()
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # r15: deg is node-sized (SF-scaling) — size-dispatch the hint
    # (VERDICT r14 item 1) rather than force it at any scale.
    bc = _node_bcast(spark, sf_dir)
    pairs = (
        edges.join(bc(deg.withColumnRenamed("node", "src")), "src")
        .withColumnRenamed("d", "x")
        .join(
            bc(
                deg.withColumnRenamed("node", "dst").withColumnRenamed(
                    "d", "y"
                )
            ),
            "dst",
        )
        .select("x", "y")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    mx, my = F.col("sx") / n, F.col("sy") / n
    r = (F.col("sxy") / n - mx * my) / F.sqrt(
        (F.col("sxx") / n - mx * mx) * (F.col("syy") / n - my * my)
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_directed_edges"),
        (F.floor(r * 1_000_000) / 1_000_000).alias("assortativity"),
    )


_CLUSTERING_COEF_ORACLE = f"""
    WITH bip0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    keep AS (SELECT p FROM bip0 GROUP BY p HAVING COUNT(*) <= {TRIANGLE_PART_CAP}),
    bip AS (SELECT bip0.p, bip0.s FROM bip0 JOIN keep USING (p)),
    pairs AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS shared
      FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s
    ),
    edges AS (
      SELECT u, v FROM pairs
      ORDER BY shared DESC, u, v LIMIT {TRIANGLE_BACKBONE}
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    tris AS (
      SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
      FROM oriented o1
      JOIN oriented o2 ON o2.src = o1.dst
      JOIN oriented o3 ON o3.src = o1.src AND o3.dst = o2.dst
    ),
    tcnt AS (
      SELECT node, COUNT(*) AS n_tri
      FROM (SELECT a AS node FROM tris UNION ALL
            SELECT b FROM tris UNION ALL SELECT c FROM tris)
      GROUP BY node
    )
    SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tcnt.n_tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d >= 2
                THEN floor(2.0 * COALESCE(tcnt.n_tri, 0)
                           / (deg.d * (deg.d - 1)) * 10000) / 10000
           END AS local_cc
    FROM deg LEFT JOIN tcnt USING (node)
"""


@register("graph_clustering_coefficient", oracle=_CLUSTERING_COEF_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the supplier
    co-occurrence backbone: cc = triangles / C(degree, 2) — how close a
    node's neighborhood is to a clique, THE community-tightness number
    graph_triangle_count's raw counts feed (a hub with 100 triangles
    over 50 neighbors is LOOSE at cc 0.08; a 5-neighbor node with 10 is
    a clique). Null for degree-1 nodes (undefined denominator).

    Scale/determinism: identical staged plan to graph_triangle_count
    (capped bipartite -> top-K backbone -> degree-ordered orientation ->
    two wedge equi-joins, graph.py:199 doctrine) plus one degree left
    join on the BACKBONE-bounded node frame; cc floor-quantizes an
    identical-ints division."""
    # r14 optimization round: ONE checkpointed backbone feeds both the
    # triangle counts and the degree frame (the op previously built the
    # backbone twice — once inside graph_triangle_count, once inline
    # for degrees; r13 --all read 8.6 s, ~two backbone builds).
    edges, _, deg = _backbone(load(spark, sf_dir))
    tri = _triangle_counts(edges, deg).select(
        "node", F.col("n_triangles").alias("n_tri")
    )
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0))
    cc = F.when(
        F.col("d") >= 2,
        F.floor(
            2.0 * n_tri / (F.col("d") * (F.col("d") - 1)) * 10_000
        )
        / 10_000,
    )
    return deg.join(F.broadcast(tri), "node", "left").select(
        "node",
        F.col("d").cast("bigint").alias("degree"),
        n_tri.cast("bigint").alias("n_triangles"),
        cc.alias("local_cc"),
    )


_DEGREE_POWERLAW_ORACLE = """
    WITH bip AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (SELECT s, COUNT(*) AS d FROM bip GROUP BY s),
    hist AS (SELECT d AS degree, COUNT(*) AS n_nodes FROM deg GROUP BY d)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           ROUND((SELECT regr_slope(ln(n_nodes * 1.0), ln(degree * 1.0))
                  FROM hist), 4) AS powerlaw_slope,
           ROUND((SELECT regr_r2(ln(n_nodes * 1.0), ln(degree * 1.0))
                  FROM hist), 4) AS fit_r2
    FROM hist
"""


@register("graph_degree_powerlaw", oracle=_DEGREE_POWERLAW_ORACLE)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part->supplier bipartite graph's
    supplier side, with a log-log OLS slope — the scale-free check
    (straight log-log line with slope around -2..-3 = power law) that
    decides whether hub-aware plans (degree-ordered triangle
    orientation, df-caps, skew salting) are NEEDED on this graph or
    merely defensive. The one-number topology classifier beside
    graph_assortativity's mixing number.

    Scale/determinism: degrees are one distinct + one combinable count;
    the histogram is bounded by MAX DEGREE (not node count), and the
    regression runs via native regr_* over that bounded frame
    (text_zipf_fit doctrine — same aggregates, same 4-dp rounding)."""
    t = load(spark, sf_dir)
    deg = (
        t.lineitem.select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    ly = F.log(F.col("n_nodes").cast("double"))
    lx = F.log(F.col("degree").cast("double"))
    fit = hist.agg(
        F.round(F.regr_slope(ly, lx), 4).alias("powerlaw_slope"),
        F.round(F.regr_r2(ly, lx), 4).alias("fit_r2"),
    )
    return hist.crossJoin(F.broadcast(fit)).select(
        F.col("degree").cast("bigint").alias("degree"),
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        "powerlaw_slope",
        "fit_r2",
    )


_MODULARITY_ORACLE = f"""
    WITH bip0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    keep AS (SELECT p FROM bip0 GROUP BY p HAVING COUNT(*) <= {TRIANGLE_PART_CAP}),
    bip AS (SELECT bip0.p, bip0.s FROM bip0 JOIN keep USING (p)),
    pairs AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS shared
      FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s
    ),
    edges AS (
      SELECT u, v FROM pairs
      ORDER BY shared DESC, u, v LIMIT {TRIANGLE_BACKBONE}
    ),
    comm AS (SELECT s_suppkey AS node, s_nationkey AS c FROM supplier),
    tagged AS (
      SELECT cu.c AS cu, cv.c AS cv
      FROM edges e
      JOIN comm cu ON cu.node = e.u
      JOIN comm cv ON cv.node = e.v
    ),
    m AS (SELECT COUNT(*) AS m FROM tagged),
    within AS (
      SELECT cu AS c, COUNT(*) AS e_in FROM tagged WHERE cu = cv GROUP BY cu
    ),
    degs AS (
      SELECT c, COUNT(*) AS d_c FROM (
        SELECT cu AS c FROM tagged UNION ALL SELECT cv FROM tagged
      ) GROUP BY c
    ),
    cells AS (
      SELECT d.c, COALESCE(w.e_in, 0) AS e_in, d.d_c, m.m
      FROM degs d LEFT JOIN within w ON w.c = d.c, m
    )
    SELECT CAST(c AS BIGINT) AS community,
           CAST(e_in AS BIGINT) AS within_edges,
           CAST(d_c AS BIGINT) AS degree_sum,
           ROUND(e_in / CAST(m AS DOUBLE)
                 - POWER(d_c / (2.0 * m), 2), 6) AS q_term,
           ROUND(SUM(e_in / CAST(m AS DOUBLE)
                     - POWER(d_c / (2.0 * m), 2)) OVER (), 6) AS modularity
    FROM cells
"""


@register("graph_modularity", oracle=_MODULARITY_ORACLE)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the supplier
    co-purchase backbone: Q = sum_c [e_c/m - (d_c/2m)^2] — does
    geography explain the co-purchase structure? The quality score any
    community assignment is judged by (graph_label_propagation FINDS
    communities; this PRICES a given partition — here the natural
    nation attribute, so the oracle stays deterministic), emitted
    per-community so the reader sees which nations are real clusters
    (positive q_term) vs diffuse.

    Scale shape: the same df-capped top-K backbone as
    graph_triangle_count (one equi-join, output-bound); community tags
    join on the supplier dimension; everything after is exact integer
    counts on the NATION-domain frame with two closed-form divisions."""
    t = load(spark, sf_dir)
    # r14 optimization round: the backbone builds once through the
    # shared checkpointed helper (the inline groupBy-keep spelling kept
    # the same df-cap semantics but re-executed the whole build for
    # each of `tagged`'s three consumers below — m, within, degs;
    # r13 --all read 6.3 s).
    edges = _backbone(t)[0]
    comm = t.supplier.select(
        F.col("s_suppkey").alias("node"), F.col("s_nationkey").alias("c")
    )
    tagged = (
        edges.join(comm.withColumnRenamed("node", "u").withColumnRenamed("c", "cu"), "u")
        .join(comm.withColumnRenamed("node", "v").withColumnRenamed("c", "cv"), "v")
        .select("cu", "cv")
    )
    m = tagged.agg(F.count(F.lit(1)).alias("m"))
    within = (
        tagged.where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    degs = (
        tagged.select(F.col("cu").alias("c"))
        .unionAll(tagged.select(F.col("cv").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    cells = (
        degs.join(within, "c", "left")
        .na.fill({"e_in": 0})
        .crossJoin(m)
    )
    q_term = F.col("e_in") / F.col("m").cast("double") - F.pow(
        F.col("d_c") / (2.0 * F.col("m")), 2
    )
    w_all = Window.partitionBy()
    return cells.select(
        F.col("c").cast("bigint").alias("community"),
        F.col("e_in").cast("bigint").alias("within_edges"),
        F.col("d_c").cast("bigint").alias("degree_sum"),
        F.round(q_term, 6).alias("q_term"),
        F.round(F.sum(q_term).over(w_all), 6).alias("modularity"),
    )


_BACKBONE_CTE = f"""
    WITH bip0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    keep AS (SELECT p FROM bip0 GROUP BY p HAVING COUNT(*) <= {TRIANGLE_PART_CAP}),
    bip AS (SELECT bip0.p, bip0.s FROM bip0 JOIN keep USING (p)),
    pairs AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS shared
      FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s
    ),
    edges AS (
      SELECT u, v FROM pairs
      ORDER BY shared DESC, u, v LIMIT {TRIANGLE_BACKBONE}
    ),
    adj AS (
      SELECT u AS node, v AS nbr FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node
    )
"""


def _backbone(t) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared supplier co-occurrence backbone as _BACKBONE_CTE's
    (edges, adj, deg): graph_triangle_count stages 1-2 (df-capped
    bipartite pairs -> global top-K (u, v) edges), both directions as
    (node, nbr), and (node, d BIGINT) degrees.

    Both materializations live here, so callers add none. `bip` is
    localCheckpointed because the co-occurrence self-join reads it on
    BOTH sides (else the lineitem scan + distinct + df-cap window runs
    twice per build), and the 500-row edge list because every consumer
    reads it several times (adj's two directions, the orientation and
    wedge joins, the is_edge flag), each of which otherwise re-ran the
    whole backbone (r13 --all: 6.3-8.6 s per graph query)."""
    bip0 = t.lineitem.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    w_part = Window.partitionBy("p")
    bip = (
        bip0.withColumn("pf", F.count(F.lit(1)).over(w_part))
        .where(F.col("pf") <= TRIANGLE_PART_CAP)
        .drop("pf")
        .localCheckpoint()
    )
    pairs = (
        bip.alias("ba")
        .join(
            bip.alias("bb"),
            (F.col("ba.p") == F.col("bb.p")) & (F.col("ba.s") < F.col("bb.s")),
        )
        .groupBy(F.col("ba.s").alias("u"), F.col("bb.s").alias("v"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    edges = (
        pairs.orderBy(F.col("shared").desc(), "u", "v")
        .limit(TRIANGLE_BACKBONE)
        .select("u", "v")
        .localCheckpoint()
    )
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    return edges, adj, deg


def _wedges(adj: DataFrame) -> DataFrame:
    """(z, u, v) for every pair u < v of z's neighbours: the wedge
    self-join of the common-neighbour link scores (_BACKBONE_CTE's
    `adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr`)."""
    a = adj.alias("a")
    b = adj.alias("b")
    return a.join(
        b,
        (F.col("a.node") == F.col("b.node")) & (F.col("a.nbr") < F.col("b.nbr")),
    ).select(
        F.col("a.node").alias("z"),
        F.col("a.nbr").alias("u"),
        F.col("b.nbr").alias("v"),
    )


def _flag_edges(pairs: DataFrame, edges: DataFrame, *cols) -> DataFrame:
    """`pairs`' (u, v, *cols) plus is_edge (the pair is a backbone
    edge), ordered by (u, v): the link scores' last step."""
    e = edges.select("u", "v", F.lit(True).alias("is_edge0"))
    return (
        pairs.join(F.broadcast(e), ["u", "v"], "left")
        .select(
            "u",
            "v",
            *cols,
            F.coalesce("is_edge0", F.lit(False)).alias("is_edge"),
        )
        .orderBy("u", "v")
    )


def _common_neighbour_score(
    spark: SparkSession, sf_dir: str, term, name: str, min_degree: int = 0
) -> DataFrame:
    """(u, v, n_common, `name`, is_edge) over the backbone's wedges:
    each common neighbour z of degree d >= `min_degree` adds the
    integer micro-unit `term` (a column over d), the pair sums them and
    divides by 1e6 once."""
    edges, adj, deg = _backbone(load(spark, sf_dir))
    terms = _wedges(adj).join(
        F.broadcast(deg.select(F.col("node").alias("z"), "d")), "z"
    )
    if min_degree:
        terms = terms.where(F.col("d") >= min_degree)
    scored = (
        terms.select("u", "v", term.alias("term_u"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("term_u").cast("bigint").alias("score_u"),
        )
    )
    return _flag_edges(
        scored,
        edges,
        "n_common",
        F.round(F.col("score_u") / 1e6, 6).alias(name),
    )


_ADAMIC_ADAR_ORACLE = f"""
    {_BACKBONE_CTE},
    terms AS (
      SELECT a.node AS z_a, a.nbr AS na, b.nbr AS nb, d.d
      FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
      JOIN deg d ON d.node = a.node
      WHERE d.d >= 2
    ),
    scored AS (
      SELECT na AS u, nb AS v,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CAST(FLOOR(1000000.0 / LN(d)) AS BIGINT)) AS BIGINT)
               AS aa_u
      FROM terms GROUP BY na, nb
    )
    SELECT s.u, s.v, s.n_common,
           ROUND(s.aa_u / 1e6, 6) AS adamic_adar,
           (e.u IS NOT NULL) AS is_edge
    FROM scored s LEFT JOIN edges e ON e.u = s.u AND e.v = s.v
    ORDER BY s.u, s.v
"""


@register("graph_adamic_adar", oracle=_ADAMIC_ADAR_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the supplier backbone: for each
    node pair with >= 1 common neighbor, sum 1/ln(deg(z)) over the
    common neighbors z — rare shared contacts count more than hubs,
    which is the whole advance over raw common-neighbor counting and
    over graph_jaccard_neighbors' size-normalized overlap (Jaccard
    treats every shared neighbor equally; AA discounts the hub that is
    everyone's neighbor). is_edge marks pairs that are ALREADY linked —
    the non-edge rows ranked by score are the link recommendations.

    Scale/determinism: pairs generate through each common neighbor's
    adjacency list (the wedge join — sum-over-nodes deg^2, bounded by
    the backbone's top-K construction; on an unbounded graph the hub
    cap is TRIANGLE_PART_CAP's job); each 1/ln(d) term FLOORS to
    integer micro-units per neighbor BEFORE the per-pair sum (b_u
    doctrine — the sum is order-free integer arithmetic), one final
    /1e6 presentation division; deg >= 2 holds for every common
    neighbor by definition, so ln(d) > 0."""
    return _common_neighbour_score(
        spark,
        sf_dir,
        F.floor(1_000_000.0 / F.log(F.col("d"))).cast("bigint"),
        "adamic_adar",
        min_degree=2,
    )


_RICH_CLUB_ORACLE = f"""
    {_BACKBONE_CTE},
    ks AS (SELECT DISTINCT d AS k FROM deg),
    nk AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM ks JOIN deg ON deg.d > ks.k GROUP BY k
    ),
    ek AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
      FROM ks JOIN edges e ON TRUE
      JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      WHERE du.d > ks.k AND dv.d > ks.k
      GROUP BY k
    )
    SELECT nk.k, nk.n_nodes, COALESCE(ek.n_edges, 0) AS n_edges,
           ROUND(2.0 * COALESCE(ek.n_edges, 0)
                 / (nk.n_nodes * CAST(nk.n_nodes - 1 AS DOUBLE)), 6)
             AS rich_club_phi
    FROM nk LEFT JOIN ek USING (k)
    WHERE nk.n_nodes >= 2
    ORDER BY nk.k
"""


@register("graph_rich_club", oracle=_RICH_CLUB_ORACLE)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve of the supplier backbone: for each
    degree threshold k, the edge density phi(k) among nodes of degree
    > k — "do the hubs preferentially trade with each other?" (Zhou &
    Mondragon 2004). A rising curve is an oligarchic core (hub
    suppliers co-carrying the same parts); flat-or-falling means hubs
    spread across the graph. Reads beside graph_assortativity (one
    global correlation) as the full threshold-resolved profile, and
    beside graph_kcore (cohesive shells) as the density-of-the-top
    view.

    Scale/determinism: degrees and thresholds live on BOUNDED frames
    (nodes and distinct degree values of the top-K backbone); the
    threshold x edge sweep is a broadcast of the <= |distinct degrees|
    threshold frame against the K-edge frame — never data-sized; phi
    is one exact-integer division rounded 6 dp; thresholds with fewer
    than 2 qualifying nodes drop (density undefined)."""
    edges, _, deg = _backbone(load(spark, sf_dir))
    ks = deg.select(F.col("d").alias("k")).distinct()
    nk = (
        F.broadcast(ks)
        .join(deg, F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    edeg = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    ek = (
        F.broadcast(ks)
        .join(edeg, (F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    return (
        nk.join(ek, "k", "left")
        .where(F.col("n_nodes") >= 2)
        .select(
            "k",
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.round(
                2.0
                * F.coalesce("n_edges", F.lit(0))
                / (F.col("n_nodes") * (F.col("n_nodes") - 1).cast("double")),
                6,
            ).alias("rich_club_phi"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# r11 additions: degree-correlation curve and attenuated-walk centrality.

_KNN_ORACLE = f"""
    {_BACKBONE_CTE},
    nbrsum AS (
      SELECT a.node, SUM(d2.d) AS s
      FROM adj a JOIN deg d2 ON d2.node = a.nbr
      GROUP BY a.node
    )
    SELECT deg.d AS k,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(s) AS BIGINT) AS sum_nbr_deg,
           floor(SUM(s) / (deg.d * CAST(COUNT(*) AS DOUBLE)) * 1000000)
             / 1000000 AS knn
    FROM deg JOIN nbrsum ON nbrsum.node = deg.node
    GROUP BY deg.d ORDER BY k
"""


@register("graph_avg_neighbor_degree", oracle=_KNN_ORACLE)
def graph_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k_nn(k) degree-correlation curve on the supplier backbone:
    for each degree class k, the average over its nodes of the mean
    neighbor degree — rising k_nn(k) = assortative (hubs prefer hubs),
    falling = disassortative (the hub-and-spoke signature).
    graph_assortativity compresses this relation into ONE Pearson
    coefficient; the curve is the diagnostic behind it — a non-monotone
    k_nn(k) (mixed regimes) yields a meaningless single r, and only the
    curve shows it.

    Scale/determinism: adjacency joins the bounded backbone degree
    frame; per-node neighbor-degree sums are exact integers, and
    because every node in class k shares the SAME denominator k, the
    class average folds to sum(S_v) / (k * n_k) — one exact-integer
    ratio entering doubles in a single floored division (1e-6
    lattice). No window, no iteration; two shuffles on the top-K
    bounded backbone."""
    _, adj, deg = _backbone(load(spark, sf_dir))
    nbrsum = (
        adj.join(
            deg.select(F.col("node").alias("nbr"), F.col("d").alias("dn")),
            "nbr",
        )
        .groupBy("node")
        .agg(F.sum("dn").alias("s"))
    )
    return (
        deg.join(nbrsum, "node")
        .groupBy(F.col("d").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("s").cast("bigint").alias("sum_nbr_deg"),
            (
                F.floor(
                    F.sum("s")
                    / (
                        F.col("d")
                        * F.count(F.lit(1)).cast("double")
                    )
                    * 1_000_000
                )
                / 1_000_000
            ).alias("knn"),
        )
        .orderBy("k")
    )


#: Katz base mass per node in integer units, and the attenuation 1/8
#: applied to the ROW-NORMALIZED walk matrix (classic Katz attenuates
#: raw adjacency, which overflows any fixed-point width on a weighted
#: multigraph; on the normalized walk the series is bounded by
#: base * 8/7 at ANY graph size — the same overflow-by-design guard as
#: graph_pagerank's mass conservation). Deviation documented here.
KATZ_BASE = 1_000_000
KATZ_ITERS = 3


def _katz_step_sql(prev: str, out: str) -> str:
    return f"""
    contrib_{out} AS (
      SELECT e.dst AS node,
             SUM((r.ku * e.w) // (8 * o.wsum)) AS inflow
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN outsum o ON o.src = e.src
      GROUP BY e.dst
    ),
    {out} AS (
      SELECT n.node,
             CAST({KATZ_BASE} + COALESCE(c.inflow, 0) AS BIGINT) AS ku
      FROM nodes n
      LEFT JOIN contrib_{out} c ON c.node = n.node
    )
"""


_KATZ_ORACLE = (
    "WITH "
    + _EDGES_SQL
    + f",\n    k0 AS (SELECT node, CAST({KATZ_BASE} AS BIGINT) AS ku"
    " FROM nodes),"
    + ",".join(
        _katz_step_sql(f"k{k}", f"k{k + 1}") for k in range(KATZ_ITERS)
    )
    + f"""
    SELECT node, ku AS katz_units FROM k{KATZ_ITERS}
    """
)


@register("graph_katz_centrality", oracle=_KATZ_ORACLE)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (attenuation 1/8, {KATZ_ITERS} rounds) over the
    customer<->supplier purchase graph in exact BIGINT units: x =
    sum_h alpha^h (walks of length h into the node), the "influence
    through all paths" score. graph_pagerank asks where a CONSERVED
    random surfer settles (mass divides among out-edges and hubs drain
    neighbors); Katz asks how many attenuated walks REACH you (every
    path counts additively) — the two disagree exactly on nodes fed by
    high-out-degree hubs, which is why link-analysis suites ship both.

    Scale/determinism: identical plan shape to graph_pagerank — edges
    repartition once, the (node, units) frame is the small changing
    side, integer multiply/floor-divide per step so both engines hold
    bit-identical states with no float summation order anywhere. The
    attenuation applies to the row-normalized walk (see KATZ_BASE note:
    classic raw-adjacency Katz overflows fixed-point on weighted
    multigraphs; normalized-walk Katz is bounded by base * 8/7 at any
    scale)."""
    base = F.lit(KATZ_BASE)
    ranks = _weighted_inflow(
        spark,
        sf_dir,
        KATZ_ITERS,
        "(units * w) div (8 * wsum)",
        lambda nodes: (base, base + F.coalesce("inflow", F.lit(0))),
    )
    return ranks.select("node", F.col("units").alias("katz_units"))


# ---------------------------------------------------------------------------
# r12 batch: the other two classic link-prediction indices over the
# supplier backbone — resource allocation (Zhou/Lu/Zhang 2009) and
# preferential attachment (Barabasi). Planted-model tests ship in
# tests/test_round12f.py from day one.

_RA_ORACLE = f"""
    {_BACKBONE_CTE},
    terms AS (
      SELECT a.node AS z, a.nbr AS na, b.nbr AS nb, d.d
      FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
      JOIN deg d ON d.node = a.node
    ),
    scored AS (
      SELECT na AS u, nb AS v,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(1000000 // d) AS BIGINT) AS ra_u
      FROM terms GROUP BY na, nb
    )
    SELECT s.u, s.v, s.n_common,
           ROUND(s.ra_u / 1e6, 6) AS resource_allocation,
           (e.u IS NOT NULL) AS is_edge
    FROM scored s LEFT JOIN edges e ON e.u = s.u AND e.v = s.v
    ORDER BY s.u, s.v
"""


@register("graph_resource_allocation", oracle=_RA_ORACLE)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction over the supplier backbone:
    RA(u,v) = sum over common neighbors z of 1/deg(z) — each shared
    contact splits one unit of "resource" among ALL its neighbors, so
    hub intermediaries are discounted LINEARLY where Adamic-Adar
    discounts them logarithmically (Zhou, Lu & Zhang 2009 showed RA
    beats AA exactly on graphs with fat-tailed degrees — the regime
    graph_degree_powerlaw diagnoses). Shipping both closes the
    classic unweighted link-prediction triple: common-neighbor count
    (in graph_adamic_adar's n_common), AA (log discount), RA (linear).

    Scale/determinism: identical wedge-join plan to graph_adamic_adar
    on the top-K bounded backbone; 1/d floors to integer micro-units
    via exact integer division 1000000 // d (no float in the fold at
    all), per-pair sums are exact integer folds, one final /1e6."""
    return _common_neighbour_score(
        spark, sf_dir, F.expr("1000000 div d"), "resource_allocation"
    )


_PA_ORACLE = f"""
    {_BACKBONE_CTE},
    wedge AS (
      SELECT DISTINCT a.nbr AS u, b.nbr AS v
      FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
    )
    SELECT w.u, w.v,
           du.d AS deg_u, dv.d AS deg_v,
           CAST(du.d * dv.d AS BIGINT) AS preferential_attachment,
           (e.u IS NOT NULL) AS is_edge
    FROM wedge w
    JOIN deg du ON du.node = w.u
    JOIN deg dv ON dv.node = w.v
    LEFT JOIN edges e ON e.u = w.u AND e.v = w.v
    ORDER BY w.u, w.v
"""


@register("graph_preferential_attachment", oracle=_PA_ORACLE)
def graph_preferential_attachment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preferential-attachment link score over the supplier backbone:
    PA(u,v) = deg(u) x deg(v) for every 2-hop candidate pair — the
    Barabasi growth-model baseline that uses NO neighborhood overlap
    at all, only mass. It is the null model the overlap indices must
    beat: a pair ranked high by AA/RA *and* low by PA is a genuinely
    surprising structural match, which is exactly the comparison a
    link-prediction eval runs. Candidate space restricted to
    common-neighbor pairs (the same bounded wedge space as
    graph_adamic_adar — classic PA over ALL pairs is n^2 and carries
    no extra signal at rank time).

    Scale/determinism: one wedge self-join on the top-K bounded
    backbone for candidates, two broadcast degree joins; the score is
    an exact integer product of bounded degrees — no floats anywhere."""
    edges, adj, deg = _backbone(load(spark, sf_dir))
    wedge = _wedges(adj).select("u", "v").distinct()
    scored = wedge.join(
        F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))),
        "u",
    ).join(
        F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("deg_v"))),
        "v",
    )
    return _flag_edges(
        scored,
        edges,
        "deg_u",
        "deg_v",
        (F.col("deg_u") * F.col("deg_v")).cast("bigint").alias(
            "preferential_attachment"
        ),
    )


# ---------------------------------------------------------------------------
# r13: truncated harmonic closeness centrality (the census' missing
# classical centrality beside pagerank/katz/hits/kcore).
# ---------------------------------------------------------------------------

#: All-pairs BFS horizon: distances beyond CLOSENESS_H hops contribute
#: 0 (the truncated-harmonic contract of Boldi & Vigna 2014 — on a
#: 100 TB graph you bound the ball radius, never run BFS to closure;
#: same fixed-budget doctrine as KCORE_ROUNDS / BFS_ROUNDS).
CLOSENESS_H = 4


def _closeness_step_sql(prev: str, out: str) -> str:
    """One min-plus relaxation: d_{k+1}(u,v) = min(d_k(u,v),
    min over edges (w,v) of d_k(u,w) + 1)."""
    return f"""
    {out} AS (
      SELECT u, v, MIN(d) AS d FROM (
        SELECT u, v, d FROM {prev}
        UNION ALL
        SELECT p.u, a.nbr AS v, p.d + 1 AS d
        FROM {prev} p JOIN adj a ON a.node = p.v
        WHERE a.nbr <> p.u
      ) GROUP BY u, v
    )
"""


_CLOSENESS_ORACLE = (
    _BACKBONE_CTE
    + """,
    d1 AS (SELECT node AS u, nbr AS v, 1 AS d FROM adj),
"""
    + ",".join(
        _closeness_step_sql(f"d{k}", f"d{k + 1}")
        for k in range(1, CLOSENESS_H)
    )
    + f"""
    SELECT u AS node,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM(CAST(FLOOR(1000000.0 / d) AS BIGINT)) AS BIGINT)
             AS harmonic_u,
           ROUND(SUM(CAST(FLOOR(1000000.0 / d) AS BIGINT)) / 1e6, 6)
             AS harmonic_closeness
    FROM d{CLOSENESS_H}
    GROUP BY u
    ORDER BY node
"""
)


@register("graph_closeness_centrality", oracle=_CLOSENESS_ORACLE)
def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated HARMONIC closeness centrality over the supplier
    backbone: C(u) = sum over nodes within CLOSENESS_H hops of
    1/d(u,v) — who can reach the network fastest, the coordination-
    bottleneck ranking that degree (local) and pagerank (flow) both
    miss. The harmonic form handles disconnected components without
    the classic closeness' 1/inf collapse, and the fixed hop budget is
    the honest 100 TB contract (ball-radius truncation, Boldi & Vigna
    2014): beyond-horizon nodes contribute 0 by definition, stated in
    the name of the column, not silently.

    Scale/determinism: the shared top-K backbone bounds the node set,
    so all-pairs distances live on a bounded pair frame; CLOSENESS_H
    unrolled min-plus relaxations (exact integer hop counts — both
    engines relax identically, the graph_pagerank unrolled doctrine);
    each 1/d term FLOORS to integer micro-units before the per-node
    sum (order-free integer arithmetic, graph_adamic_adar's device).
    On an unbounded graph the same loop runs frontier-only with the
    edge side pre-hash-partitioned (the graph_hits r12 lesson).

    Reference: no graph surface in the reference ETL (child.py) — Part
    C extension."""
    _, adj, _ = _backbone(load(spark, sf_dir))
    d = adj.select(
        F.col("node").alias("pu"), F.col("nbr").alias("pv"), F.lit(1).alias("d")
    )

    # Each round reads the previous d frame twice (frontier extension +
    # the min-union), hence catalog.iterate's barrier. adj is
    # backbone-bounded, so broadcasting it keeps every extension
    # shuffle pair-frame-sized.
    def step(d: DataFrame, _: int) -> DataFrame:
        ext = (
            d.join(F.broadcast(adj), d.pv == adj.node)
            .where(F.col("nbr") != F.col("pu"))
            .select("pu", F.col("nbr").alias("pv"), (F.col("d") + 1).alias("d"))
        )
        return d.unionByName(ext).groupBy("pu", "pv").agg(F.min("d").alias("d"))

    d, _ = iterate(d, step, CLOSENESS_H - 1)
    term_u = F.floor(1_000_000.0 / F.col("d")).cast("bigint")
    return (
        d.groupBy(F.col("pu").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.sum(term_u).cast("bigint").alias("harmonic_u"),
        )
        .select(
            "node",
            "n_reached",
            "harmonic_u",
            F.round(F.col("harmonic_u") / 1e6, 6).alias("harmonic_closeness"),
        )
        .orderBy("node")
    )
