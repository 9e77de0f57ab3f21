"""Similarity search over embedding columns (SURVEY.md section 2 B10
sim_search_knn): brute-force cosine top-k as the oracle-checkable baseline,
and an LSH-bucketed approximate variant as the 100 TB path.

Vector math stays in Column expressions (zip_with + aggregate in DOUBLE) —
no pandas round-trip, no float32 upcast drift (SURVEY.md section 7 risk
register).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import logging
import math

from ..catalog import fanout_repartition, footer_row_count, load
from ..registry import register
from . import dedup
from .dedup import (
    _argmax_ids_tiled,
    _dot_fold,
    _splitmix_bit,
    _topk_ids_tiled,
    cosine_double,
    dot_double,
    row_norms,
    sq_l2,
)

_LOG = logging.getLogger(__name__)


_KNN_ORACLE = """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e))
                * sqrt(list_dot_product(c.e, c.e))) AS cosine
      FROM q JOIN c ON q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, label, ROUND(cosine, 4) AS cosine, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 10
"""


@register("sim_search_knn", oracle=_KNN_ORACLE)
def sim_search_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors: broadcast the query
    side, score every candidate (JVM-side dot products), keep k per query
    via WindowGroupLimit. Exact — and embarrassingly parallel: candidates
    never shuffle until the k-row-per-task frontier."""
    t = load(spark, sf_dir)
    emb = t.embeddings
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), "label", F.col("embedding").alias("ce")
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    cos = cosine_double(F.col("qe"), F.col("ce"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.select("query_id", "neighbor_id", "label", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            "label",
            F.round("cosine", 4).alias("cosine"),
            "rk",
        )
    )


#: Random-hyperplane signature geometry shared by the ANN variants.
#: nbits sizes the bucket grid: ~log2(N / target_bucket_size). The test
#: corpora hold 500-2000 vectors, so 5 bits -> 32 buckets -> ~16-60
#: vectors per bucket (enough candidates for a top-10 re-rank). At 100 TB
#: you re-derive nbits from the corpus count the same way — the plan shape
#: (hash once, shuffle once on `bucket`) is unchanged.
_ANN_DIM, _ANN_NBITS = 64, 5





def _plane_signs_sql(plane: int) -> str:
    """Sign literals of hyperplane `plane` as a DuckDB DOUBLE[] literal."""
    return ", ".join(
        "1.0" if _splitmix_bit(plane, i) else "-1.0" for i in range(_ANN_DIM)
    )


def _bucket_sql() -> str:
    """DuckDB expression for the _ANN_NBITS-bit sign bucket over `emb` —
    the same deterministic hyperplanes _hyperplane_bucket() folds into the
    Spark plan, so the oracle replays the identical bucketing."""
    return " + ".join(
        f"(CASE WHEN list_dot_product(emb, [{_plane_signs_sql(b)}]) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(_ANN_NBITS)
    )


def _ann_oracle(multiprobe: bool) -> str:
    if multiprobe:
        probes = ", ".join(
            ["q0.bucket"] + [f"xor(q0.bucket, {1 << b})" for b in range(_ANN_NBITS)]
        )
        q_cte = f"""
    q AS (SELECT query_id, qe, unnest([{probes}]) AS bucket
          FROM (SELECT vec_id AS query_id, emb AS qe, bucket
                FROM sig WHERE vec_id < 5) q0)"""
    else:
        q_cte = """
    q AS (SELECT vec_id AS query_id, emb AS qe, bucket
          FROM sig WHERE vec_id < 5)"""
    return f"""
    WITH sig AS (
      SELECT vec_id, emb, {_bucket_sql()} AS bucket
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    ),{q_cte},
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id, q.qe, c.emb AS ce
      FROM q JOIN sig c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qe, ce)
               / (sqrt(list_dot_product(qe, qe))
                * sqrt(list_dot_product(ce, ce))) AS cosine
      FROM cand
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 4) AS cosine, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 10
"""


def _hyperplane_bucket():
    """Sign signature (``_ANN_NBITS`` bits) as a Column over ``embedding``.

    Deterministic pseudo-random Rademacher hyperplanes: h[b][i] in {-1,+1}
    from an avalanche hash of (b, i) — reproducible across runs with no
    RNG object, and the signs are constant-folded into the plan.
    """

    def plane_bit(b: int):
        plane = F.array(*[
            F.lit(1.0 if _splitmix_bit(b, i) else -1.0) for i in range(_ANN_DIM)
        ])
        return F.when(
            dot_double(F.col("embedding"), plane) > 0, F.lit(1)
        ).otherwise(F.lit(0))

    return sum([plane_bit(b) * (1 << b) for b in range(_ANN_NBITS)]).cast("long")


@register("sim_search_ann", oracle=_ann_oracle(multiprobe=False))
def sim_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: fixed signed projections
    -> sign bits -> bucket key; candidates = same bucket only, then exact
    cosine re-rank inside buckets. Deterministic (seeded projections
    derived from avalanche-hash arithmetic, not RNG state). At 100 TB:
    bucket key is a shuffle key — each query compares against a tiny
    candidate set instead of the full corpus (IVF-style); recall priced
    by sim_search_recall."""
    t = load(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "label", "embedding")
    sigs = emb.withColumn("bucket", _hyperplane_bucket())
    q = sigs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "bucket",
    )
    c = sigs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"), "bucket"
    )
    cands = c.join(F.broadcast(q), on="bucket").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = cosine_double(F.col("qe"), F.col("ce"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cands.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rk")
    )


@register("sim_search_ann_multiprobe", oracle=_ann_oracle(multiprobe=True))
def sim_search_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe upgrade of sim_search_ann: each query also probes every
    bucket at Hamming distance 1 from its own signature (one hyperplane
    flipped), so near neighbors that landed just across a single hyperplane
    are recovered. Classic multi-probe LSH (Lv et al., VLDB'07): recall
    rises steeply for an (nbits+1)x probe fan-out that applies ONLY to the
    query side — the corpus is still hashed once and shuffled once on
    `bucket`; the exploded probe list rides the tiny broadcast side of the
    join. sim_search_recall measures both variants side by side."""
    t = load(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "label", "embedding")
    sigs = emb.withColumn("bucket", _hyperplane_bucket())
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(_ANN_NBITS)],
    )
    q = (
        sigs.where(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(probes).alias("bucket"),
        )
    )
    c = sigs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"), "bucket"
    )
    cands = c.join(F.broadcast(q), on="bucket").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = cosine_double(F.col("qe"), F.col("ce"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cands.select("query_id", "neighbor_id", cos.alias("cosine"))
        # A candidate can collide in several probes; distinct before ranking.
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rk")
    )


_CENTROID_ORACLE = """
    SELECT label, CAST(pos AS INTEGER) AS pos, ROUND(AVG(v), 6) AS centroid_v
    FROM (
      SELECT label, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings)
    GROUP BY label, pos
"""


@register("embed_centroids", oracle=_CENTROID_ORACLE)
def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via posexplode -> groupBy(label, pos)
    -> avg: the k-means E-step / IVF coarse-quantizer build as ONE linear
    pass whose shuffle is O(labels x dims), independent of corpus size —
    the shape that survives 100 TB. Output is (label, pos, value) flat so
    the oracle compares scalar doubles, not list encodings."""
    t = load(spark, sf_dir)
    dims = t.embeddings.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v")
    )
    return (
        dims.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"))
    )


def _centroid_vectors(t) -> DataFrame:
    """label -> centroid as array<double> (position-ordered)."""
    dims = t.embeddings.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    per_dim = dims.groupBy("label", "pos").agg(F.avg("v").alias("m"))
    return per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
        ).alias("ce")
    )


_COS = "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"

_IVF_ORACLE = f"""
    WITH dims AS (
      SELECT label, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings),
    cent AS (SELECT label, list(m ORDER BY pos) AS ce
             FROM (SELECT label, pos, AVG(v) AS m FROM dims GROUP BY label, pos)
             GROUP BY label),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id < 5),
    assigned AS (
      SELECT query_id, qe, label AS probe_label FROM (
        SELECT q.query_id, q.qe, c.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_COS.format(a="q.qe", b="c.ce")} DESC, c.label) AS rn
        FROM q CROSS JOIN cent c) WHERE rn = 1),
    cand AS (SELECT vec_id AS neighbor_id, label,
                    CAST(embedding AS DOUBLE[]) AS ce FROM embeddings)
    SELECT query_id, probe_label, neighbor_id, ROUND(cosine, 4) AS cosine, rk FROM (
      SELECT a.query_id, a.probe_label, cand.neighbor_id,
             {_COS.format(a="a.qe", b="cand.ce")} AS cosine,
             row_number() OVER (
               PARTITION BY a.query_id
               ORDER BY {_COS.format(a="a.qe", b="cand.ce")} DESC, cand.neighbor_id)
               AS rk
      FROM assigned a JOIN cand
        ON cand.label = a.probe_label AND cand.neighbor_id <> a.query_id)
    WHERE rk <= 10
"""


@register("sim_search_ivf", oracle=_IVF_ORACLE)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN, fully oracle-checked: coarse quantizer = per-label
    centroids (embed_centroids), each query probes its nearest centroid's
    inverted list only, exact cosine re-rank inside the list. At 100 TB
    the corpus is hash-partitioned by list id, the (tiny) centroid table
    broadcasts, and each query touches 1/nlist of the data (nprobe=1
    here; raising nprobe = unioning more lists). Unlike sim_search_ann's
    random hyperplanes, the quantizer is derived from the data — so the
    whole pipeline is deterministic SQL and DuckDB can verify it."""
    t = load(spark, sf_dir)
    cent = _centroid_vectors(t)
    q = t.embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    qc = q.crossJoin(F.broadcast(cent))
    cos_qc = cosine_double(F.col("qe"), F.col("ce"))
    w_assign = Window.partitionBy("query_id").orderBy(
        F.col("cq").desc(), F.col("label")
    )
    assigned = (
        qc.select("query_id", "qe", "label", cos_qc.alias("cq"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("query_id", "qe", F.col("label").alias("probe_label"))
    )
    cand = t.embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").cast("array<double>").alias("ce"),
    )
    pairs = cand.join(
        F.broadcast(assigned),
        (F.col("label") == F.col("probe_label"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    cos = cosine_double(F.col("qe"), F.col("ce"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.select("query_id", "probe_label", "neighbor_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select(
            "query_id",
            "probe_label",
            "neighbor_id",
            F.round("cosine", 4).alias("cosine"),
            "rk",
        )
    )


#: Lloyd's k-means: cluster count and assignment rounds. Two rounds keeps
#: the unrolled DuckDB oracle readable; the Spark loop is generic in both.
_KMEANS_K = 4
_KMEANS_ROUNDS = 2
_EMB_DIM = 64

_KMEANS_ORACLE = f"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT {_KMEANS_K}),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        FROM emb e CROSS JOIN c0 c
      ) t WHERE rn = 1
    ),
    c1flat AS (
      SELECT a1.cid, t.i AS pos, AVG(e.v[t.i]) AS cv_i
      FROM a1 JOIN emb e USING (vec_id)
      CROSS JOIN range(1, {_EMB_DIM + 1}) t(i)
      GROUP BY a1.cid, t.i
    ),
    c1 AS (SELECT cid, list(cv_i ORDER BY pos) AS cv FROM c1flat GROUP BY cid)
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id FROM (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
      FROM emb e CROSS JOIN c1 c
    ) t WHERE rn = 1
"""


@register("embed_kmeans", oracle=_KMEANS_ORACLE)
def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus — the iterative-algorithm
    pattern on Spark: centroids live on the DRIVER (k x dim doubles, like
    MLlib's KMeans), each round is (1) a distributed assignment pass where
    the argmin over centroids runs as an array-of-structs min in pure
    Column exprs (struct ordering = (distance, cid), so ties break to the
    lower centroid id on both engines), and (2) a distributed per-(cluster,
    dim) AVG via posexplode whose k x dim result is collected back to the
    driver for the next round's literals. Deterministic seeding (the K
    lowest vec_ids) makes the whole trajectory reproducible — pinned
    against an unrolled recursive oracle. At 100 TB: assignment is a full
    scan with NO shuffle (centroid literals broadcast in the plan);
    recompute shuffles k x dim partial sums only."""
    t = load(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    centroids = [
        (int(r["vec_id"]), list(r["v"]))
        for r in emb.orderBy("vec_id").limit(_KMEANS_K).collect()
    ]
    assigned = None
    for rnd in range(_KMEANS_ROUNDS):
        # squared distance to each driver-held centroid: monotonic with the
        # oracle's list_distance, so the argmin agrees without a sqrt
        scored = F.array(
            *[
                F.struct(
                    sq_l2(
                        F.col("v"), F.array(*[F.lit(float(x)) for x in cv])
                    ).alias("d"),
                    F.lit(cid).alias("cid"),
                )
                for cid, cv in centroids
            ]
        )
        assigned = emb.select(
            "vec_id", "v", F.array_min(scored)["cid"].alias("cluster_id")
        )
        if rnd < _KMEANS_ROUNDS - 1:
            flat = (
                assigned.select("cluster_id", F.posexplode("v").alias("pos", "x"))
                .groupBy("cluster_id", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in flat:
                by_cid.setdefault(r["cluster_id"], {})[r["pos"]] = r["m"]
            centroids = [
                (cid, [dims[p] for p in sorted(dims)])
                for cid, dims in sorted(by_cid.items())
            ]
    return assigned.select("vec_id", "cluster_id")


_GRAM_ORACLE = """
    SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
           ROUND(SUM(a.v * b.v), 6) AS gram
    FROM (SELECT vec_id, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
                 unnest(CAST(embedding AS DOUBLE[])) AS v
          FROM embeddings) a
    JOIN (SELECT vec_id, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
                 unnest(CAST(embedding AS DOUBLE[])) AS v
          FROM embeddings) b
      ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i
"""


@register("embed_gram_matrix", oracle=_GRAM_ORACLE)
def embed_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X^T X over the embedding column (upper
    triangle; the covariance/PCA precursor). The scale-correct recipe for
    distributed linear algebra on tall-skinny matrices: each Arrow batch
    computes its LOCAL 64x64 partial Gram with one numpy matmul inside
    mapInPandas, emits dim*(dim+1)/2 partial rows, and the only shuffle
    aggregates those partials — wire cost is O(partitions x dim^2),
    independent of row count (the same contraction pattern every
    distributed PCA/linear-regression implementation uses). The exploded
    pure-SQL form the oracle runs would shuffle O(rows x dim^2) — a
    700x difference at sf0.01, unboundedly worse at 100 TB."""
    import numpy as np
    import pandas as pd

    t = load(spark, sf_dir)
    dim = 64
    iu = np.triu_indices(dim)

    def partial_gram(batches):
        for pdf in batches:
            if not len(pdf):  # empty Arrow batch: np.array([]) is 1-D
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            g = x.T @ x
            yield pd.DataFrame(
                {"i": iu[0] + 1, "j": iu[1] + 1, "partial": g[iu]}
            )

    partials = t.embeddings.select("embedding").mapInPandas(
        partial_gram, schema="i int, j int, partial double"
    )
    return partials.groupBy("i", "j").agg(
        F.round(F.sum("partial"), 6).alias("gram")
    )


def _pca_top2(spark: SparkSession, sf_dir: str):
    """Shared distributed-Gram -> driver-eigh pipeline for the PCA pair:
    returns (n, [lambda1, lambda2], [pc1, pc2]) with sign-canonicalized
    components (largest-|x| entry positive). embed_pca_project (the
    projection) and embed_pca_contract (its certificate) MUST run the
    identical computation — a divergence would make the contract certify
    something the operator does not do, which is why this is one
    function and not two copies."""
    import numpy as np

    t = load(spark, sf_dir)
    dim = 64
    gram_rows = embed_gram_matrix(spark, sf_dir).collect()
    n = t.embeddings.count()
    g = np.zeros((dim, dim))
    for r in gram_rows:
        g[r["i"] - 1, r["j"] - 1] = r["gram"]
        g[r["j"] - 1, r["i"] - 1] = r["gram"]
    cov = g / n  # uncentered (2nd-moment) PCA: embeddings are ~zero-mean
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    lam = [float(vals[order[k]]) for k in range(2)]
    pcs = []
    for k in range(2):
        v = vecs[:, order[k]]
        if abs(v.min()) > abs(v.max()):  # canonical sign
            v = -v
        pcs.append(v)
    return n, lam, pcs, cov


def _project_expr(v):
    """Shuffle-free projection of `embedding` onto a literal vector."""
    return dot_double(F.col("embedding"), F.array(*[F.lit(float(x)) for x in v]))


@register("embed_pca_project", oracle=None)  # eigendecomposition: rows-only
def embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the top-2 principal components — the full
    distributed-linear-algebra loop, structured exactly like MLlib's PCA:
    (1) distributed Gram/covariance contraction (embed_gram_matrix's
    mapInPandas partials — the only stage that touches all rows), (2)
    driver-side eigendecomposition of the tiny 64x64 matrix (numpy eigh;
    O(dim^3) is nothing), (3) distributed projection with the two
    eigenvectors folded into the plan as literal arrays — a second
    linear scan, no shuffle at all. Signs are canonicalized (largest
    |component| positive) so the output is deterministic; tests pin
    orthogonality and the variance ordering. Rows-only: no SQL engine
    can express the eigensolve."""
    t = load(spark, sf_dir)
    _n, _lam, pcs, _cov = _pca_top2(spark, sf_dir)
    return t.embeddings.select(
        "vec_id",
        "label",
        F.round(_project_expr(pcs[0]), 6).alias("pc1"),
        F.round(_project_expr(pcs[1]), 6).alias("pc2"),
    )


@register(
    "embed_pca_contract",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))), 4)
             AS mean_sq_norm,
           TRUE AS orthonormal,
           TRUE AS energy_ordered,
           TRUE AS signs_canonical,
           TRUE AS proj_var_consistent
    FROM embeddings
    """,
)
def embed_pca_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract for embed_pca_project: eigenvectors are
    unique only up to sign/rotation, so the projection has no golden
    value — but the properties that make a PCA *correct* do. This query
    re-runs the same distributed-Gram -> driver-eigh pipeline and emits,
    alongside hard-matched values (n_vecs; mean squared norm = the trace
    the eigenvalues must partition):

    - ``orthonormal``: max |Q Q^T - I| < 1e-8 over the top-2 component
      matrix (a broken eigensolve or un-normalized vector fails this
      deterministically);
    - ``energy_ordered``: lambda1 >= lambda2 > 0 and lambda1 + lambda2
      <= trace(cov) — captured variance cannot exceed total variance;
    - ``signs_canonical``: each component's largest-|x| entry is
      positive (the determinism rule embed_pca_project documents);
    - ``proj_var_consistent``: the DISTRIBUTED second moment of each
      projection, computed by a fresh scan over the corpus, equals its
      eigenvalue within 0.1% — the check that ties the driver-side
      eigensolve back to the cluster-side projection (v^T cov v =
      lambda; a transposed or stale eigenvector fails it). This boolean
      is data-derived inside the query, not a driver literal."""
    import numpy as np

    t = load(spark, sf_dir)
    # the SAME pipeline the operator runs — see _pca_top2's docstring
    _n, lam, pcs, cov = _pca_top2(spark, sf_dir)
    q = np.stack(pcs)
    orthonormal = bool(np.abs(q @ q.T - np.eye(2)).max() < 1e-8)
    energy_ordered = bool(
        lam[0] >= lam[1] > 0 and lam[0] + lam[1] <= np.trace(cov) * (1 + 1e-9)
    )
    signs_canonical = all(
        float(v[int(np.argmax(np.abs(v)))]) > 0 for v in pcs
    )
    agg = t.embeddings.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg(dot_double(F.col("embedding"), F.col("embedding"))).alias("msq"),
        F.avg(_project_expr(pcs[0]) * _project_expr(pcs[0])).alias("p1_var"),
        F.avg(_project_expr(pcs[1]) * _project_expr(pcs[1])).alias("p2_var"),
    )
    consistent = (
        F.abs(F.col("p1_var") - F.lit(lam[0])) / F.lit(lam[0]) <= 1e-3
    ) & (F.abs(F.col("p2_var") - F.lit(lam[1])) / F.lit(lam[1]) <= 1e-3)
    return agg.select(
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.round("msq", 4).alias("mean_sq_norm"),
        F.lit(orthonormal).alias("orthonormal"),
        F.lit(energy_ordered).alias("energy_ordered"),
        F.lit(bool(signs_canonical)).alias("signs_canonical"),
        consistent.alias("proj_var_consistent"),
    )


@register(
    "embed_norm_stats",
    oracle="""
    WITH norms AS (
      SELECT vec_id, label,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    stats AS (SELECT AVG(nrm) AS mu, STDDEV_SAMP(nrm) AS sd FROM norms)
    SELECT vec_id, label,
           ROUND(nrm, 6)                 AS l2_norm,
           ROUND((nrm - mu) / sd, 3) + 0 AS z_score,
           (abs(nrm - mu) > 2 * sd)      AS is_outlier
    FROM norms, stats
    """,
)
def embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm hygiene check — the standard pre-index validation
    for a vector corpus (degenerate near-zero vectors and runaway norms
    break cosine ANN recall). Per-row L2 norms are one JVM Column
    expression; the global mean/stddev is a 1-row aggregate broadcast
    back via cross join (the scalar-subquery shape subqueries.py uses),
    so the corpus scans twice and never shuffles row data. z > |2| flags
    outliers."""
    t = load(spark, sf_dir)
    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    norms = t.embeddings.select("vec_id", "label", nrm.alias("nrm"))
    stats = norms.agg(
        F.avg("nrm").alias("mu"), F.stddev_samp("nrm").alias("sd")
    )
    return norms.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "label",
        F.round("nrm", 6).alias("l2_norm"),
        (F.round((F.col("nrm") - F.col("mu")) / F.col("sd"), 3) + F.lit(0.0)).alias("z_score"),
        (F.abs(F.col("nrm") - F.col("mu")) > 2 * F.col("sd")).alias("is_outlier"),
    )


#: Product quantization geometry: 64-dim embeddings split into M=4
#: 16-dim subspaces, each quantized against K=8 codewords, so a vector
#: compresses to 4 x 3 bits and the asymmetric-distance join touches a
#: 4xK lookup table per query instead of the raw vectors. The codebook
#: here is the first K vectors' subvectors (deterministic, so DuckDB can
#: replay the whole pipeline); a production build would run
#: embed_kmeans per subspace instead - same plan shape, trained input.
PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 8

#: Squared L2 between two equal-length double arrays as a sequential
#: left-to-right fold - the DuckDB twin of dedup.sq_l2, bit-identical to
#: it, which matters because the encode argmin compares these floats for
#: ordering.
_SQL2_DUCK = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " x -> (x[1] - x[2]) * (x[1] - x[2])))"
)


_PQ_ORACLE = f"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (
      SELECT vec_id, m, v[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sv
      FROM emb, (SELECT unnest(range({PQ_M})) AS m)
    ),
    cb AS (SELECT m, vec_id AS code, sv AS cw FROM sub WHERE vec_id < {PQ_K}),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {_SQL2_DUCK.format(a='s.sv', b='c.cw')}, c.code) AS rn
        FROM sub s JOIN cb c USING (m)
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS query_id, c.m, c.code,
             {_SQL2_DUCK.format(a='q.sv', b='c.cw')} AS d2
      FROM sub q JOIN cb c USING (m)
      WHERE q.vec_id < 5
    ),
    scored AS (
      SELECT l.query_id, e.vec_id AS neighbor_id, SUM(d2) AS adist
      FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
      WHERE e.vec_id <> l.query_id
      GROUP BY l.query_id, e.vec_id
    )
    SELECT query_id, neighbor_id, ROUND(adist, 4) AS approx_dist2, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 10
"""


@register("sim_search_pq", oracle=_PQ_ORACLE)
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011) - the third ANN family next to
    sim_search_ann's LSH and sim_search_ivf's inverted lists, and the one
    that actually shrinks the CORPUS: each 64-dim double vector becomes
    PQ_M codes, so a 100 TB embedding table compresses ~100x and the
    scan side of the search never touches raw floats.

    Plan shape (all broadcast, corpus scans once, one shuffle):
    1. codebook = subvectors of the first PQ_K vectors (PQ_M x PQ_K rows,
       broadcast) - deterministic stand-in for per-subspace k-means;
    2. encode: posexplode each vector into PQ_M subvectors, broadcast-join
       the codebook, min_by(struct(dist, code)) per (vec_id, subspace) -
       partial-aggregatable, so the shuffle carries one row per vector x
       subspace, never the KxM candidate fan-out;
    3. query LUT = squared L2 from each query subvector to every codeword
       (5 x PQ_M x PQ_K rows, broadcast);
    4. asymmetric distance = SUM over subspaces of LUT[code] - a
       broadcast-join + groupBy(query, neighbor) whose input is the
       compact CODES table, not the embeddings;
    5. top-10 per query by (approx_dist2, neighbor_id).

    The float fold in sq_l2 adds left-to-right exactly like the oracle's
    list_sum(list_transform(...)), so encode argmins and distance sums
    are bit-comparable across engines."""
    t = load(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[
                F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)
            ])
        ).alias("m", "sv"),
    )
    cb = subs.where(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("code"), F.col("sv").alias("cw")
    )
    enc = (
        subs.join(F.broadcast(cb), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(sq_l2(F.col("sv"), F.col("cw")).alias("d2"), "code")
            ).alias("best")
        )
        .select("vec_id", "m", F.col("best.code").alias("code"))
    )
    lut = (
        subs.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "m", "sv")
        .join(F.broadcast(cb), "m")
        .select(
            "query_id", "m", "code", sq_l2(F.col("sv"), F.col("cw")).alias("d2")
        )
    )
    scored = (
        enc.alias("e").join(
            F.broadcast(lut.alias("l")),
            (F.col("e.m") == F.col("l.m")) & (F.col("e.code") == F.col("l.code"))
            & (F.col("e.vec_id") != F.col("l.query_id")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adist", 4).alias("approx_dist2"),
            "rk",
        )
    )


_PQ_TRAIN_ORACLE = f"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (
      SELECT vec_id, m, v[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sv
      FROM emb, (SELECT unnest(range({PQ_M})) AS m)
    ),
    cb AS (SELECT m, vec_id AS code, sv AS cw FROM sub WHERE vec_id < {PQ_K}),
    enc AS (
      SELECT vec_id, m, code, sv, cw FROM (
        SELECT s.vec_id, s.m, c.code, s.sv, c.cw,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {_SQL2_DUCK.format(a='s.sv', b='c.cw')}, c.code) AS rn
        FROM sub s JOIN cb c USING (m)
      ) WHERE rn = 1
    ),
    elems AS (
      SELECT m, code, i, AVG(sv[i]) AS mu, ANY_VALUE(cw[i]) AS old_i
      FROM enc, (SELECT unnest(range(1, {PQ_SUBDIM} + 1)) AS i)
      GROUP BY m, code, i
    ),
    cent AS (
      SELECT m, code,
             sqrt(SUM(mu * mu)) AS nrm,
             sqrt(SUM((mu - old_i) * (mu - old_i))) AS drift
      FROM elems GROUP BY m, code
    ),
    counts AS (SELECT m, code, COUNT(*) AS n_assigned FROM enc GROUP BY m, code)
    SELECT c.m, c.code, CAST(n.n_assigned AS BIGINT) AS n_assigned,
           ROUND(c.nrm, 6) AS centroid_norm,
           ROUND(c.drift, 6) AS centroid_drift
    FROM cent c JOIN counts n ON n.m = c.m AND n.code = c.code
"""


@register("embed_pq_train", oracle=_PQ_TRAIN_ORACLE)
def embed_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd round of per-subspace PQ codebook training — the step
    that turns sim_search_pq's deterministic seed codebook into a
    data-fitted one (train -> encode -> search -> recall is the full PQ
    lifecycle; production runs this loop to convergence per subspace).
    Emits per-(subspace, codeword): assignment count, new-centroid norm,
    and drift from the seed — the numbers a training loop watches.

    Scale shape: assignment reuses the encode plan (broadcast codebook +
    partial-aggregatable argmin); the centroid update is an elementwise
    AVG keyed by (subspace, code, dim) — map-side combinable, shuffle
    carries PQ_M x PQ_K x PQ_SUBDIM partial cells however big the
    corpus. No driver-side centroid state at all (contrast: embed_kmeans
    collects k x dim centroids per round; per-subspace PQ training never
    needs to, because the codebook lives in the plan as data)."""
    t = load(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[
                F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)
            ])
        ).alias("m", "sv"),
    )
    cb = subs.where(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("code"), F.col("sv").alias("cw")
    )
    enc = (
        subs.join(F.broadcast(cb), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(
                    sq_l2(F.col("sv"), F.col("cw")).alias("d2"),
                    "code",
                    "sv",
                    "cw",
                )
            ).alias("best")
        )
        .select(
            "m",
            F.col("best.code").alias("code"),
            F.col("best.sv").alias("sv"),
            F.col("best.cw").alias("cw"),
        )
    )
    elems = (
        enc.select(
            "m", "code", F.posexplode(F.arrays_zip("sv", "cw")).alias("i", "p")
        )
        .groupBy("m", "code", "i")
        .agg(
            F.avg(F.col("p.sv")).alias("mu"),
            F.first(F.col("p.cw")).alias("old_i"),
        )
    )
    cent = elems.groupBy("m", "code").agg(
        F.sqrt(F.sum(F.col("mu") * F.col("mu"))).alias("nrm"),
        F.sqrt(
            F.sum((F.col("mu") - F.col("old_i")) * (F.col("mu") - F.col("old_i")))
        ).alias("drift"),
    )
    counts = enc.groupBy("m", "code").agg(F.count(F.lit(1)).alias("n_assigned"))
    return cent.join(counts, ["m", "code"]).select(
        "m",
        "code",
        "n_assigned",
        F.round("nrm", 6).alias("centroid_norm"),
        F.round("drift", 6).alias("centroid_drift"),
    )


_RESID_DUCK = "list_transform(list_zip({v}, {c}), x -> x[1] - x[2])"

_IVFPQ_ORACLE = f"""
    WITH dims AS (
      SELECT label, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings),
    cent AS (SELECT label, list(m ORDER BY pos) AS ce
             FROM (SELECT label, pos, AVG(v) AS m FROM dims GROUP BY label, pos)
             GROUP BY label),
    emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
    resid AS (
      SELECT e.vec_id, e.label, {_RESID_DUCK.format(v="e.v", c="c.ce")} AS r
      FROM emb e JOIN cent c USING (label)),
    sub AS (
      SELECT vec_id, label, m,
             r[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sv
      FROM resid, (SELECT unnest(range({PQ_M})) AS m)),
    cb AS (SELECT m, vec_id AS code, sv AS cw FROM sub WHERE vec_id < {PQ_K}),
    enc AS (
      SELECT vec_id, label, m, code FROM (
        SELECT s.vec_id, s.label, s.m, c.code,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {_SQL2_DUCK.format(a='s.sv', b='c.cw')}, c.code) AS rn
        FROM sub s JOIN cb c USING (m)
      ) WHERE rn = 1),
    probe AS (
      SELECT query_id, qe, probe_label, ce FROM (
        SELECT q.vec_id AS query_id, q.v AS qe, c.label AS probe_label, c.ce,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS.format(a="q.v", b="c.ce")} DESC, c.label) AS rn
        FROM emb q CROSS JOIN cent c WHERE q.vec_id < 5
      ) WHERE rn = 1),
    qsub AS (
      SELECT query_id, probe_label, m,
             qr[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sv
      FROM (SELECT query_id, probe_label,
                   {_RESID_DUCK.format(v="qe", c="ce")} AS qr FROM probe),
           (SELECT unnest(range({PQ_M})) AS m)),
    lut AS (
      SELECT query_id, probe_label, c.m, c.code,
             {_SQL2_DUCK.format(a='q.sv', b='c.cw')} AS d2
      FROM qsub q JOIN cb c USING (m)),
    scored AS (
      SELECT l.query_id, l.probe_label, e.vec_id AS neighbor_id,
             SUM(d2) AS adist
      FROM enc e
      JOIN lut l ON l.m = e.m AND l.code = e.code
                AND e.label = l.probe_label AND e.vec_id <> l.query_id
      GROUP BY l.query_id, l.probe_label, e.vec_id)
    SELECT query_id, probe_label, neighbor_id,
           ROUND(adist, 4) AS approx_dist2, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 10
"""


@register("sim_search_ivfpq", oracle=_IVFPQ_ORACLE)
def sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition production vector stores (FAISS
    IndexIVFPQ, Milvus, pgvector) actually ship, completing the ANN
    family: sim_search_ivf's coarse cells bound WHAT is scanned, PQ
    residual codes bound WHAT IS STORED. Each vector is encoded as the
    product-quantized RESIDUAL from its cell centroid (Jegou et al.
    2011 section V — residuals are smaller than raw vectors, so the
    same codebook budget buys less distortion); a query probes its
    nearest centroid (nprobe=1), builds a PQ_M x PQ_K lookup table from
    ITS residual, and scores only the probed cell's codes by summed
    table lookups.

    Plan shape: centroids are an O(labels x dim) aggregate broadcast
    everywhere; residual encode is one corpus scan + broadcast codebook
    join whose shuffle carries (vec_id, subspace, code) ints; search
    joins the broadcast LUT against the CODES table restricted to the
    probed cell — raw floats are never rescanned and the per-query cost
    is |cell|/|corpus| of a flat PQ scan. All folds add left-to-right
    exactly like the oracle's list_sum(list_transform(...)), keeping
    encode argmins bit-comparable cross-engine."""
    t = load(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = _centroid_vectors(t)
    resid = emb.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.zip_with(F.col("v"), F.col("ce"), lambda x, c: x - c).alias("r"),
    )
    subs = resid.select(
        "vec_id",
        "label",
        F.posexplode(
            F.array(*[
                F.slice("r", m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)
            ])
        ).alias("m", "sv"),
    )
    cb = subs.where(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("code"), F.col("sv").alias("cw")
    )
    enc = (
        subs.join(F.broadcast(cb), "m")
        .groupBy("vec_id", "label", "m")
        .agg(
            F.min(
                F.struct(sq_l2(F.col("sv"), F.col("cw")).alias("d2"), "code")
            ).alias("best")
        )
        .select("vec_id", "label", "m", F.col("best.code").alias("code"))
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("cq").desc(), F.col("label")
    )
    probe = (
        emb.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qe"))
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qe",
            "label",
            "ce",
            cosine_double(F.col("qe"), F.col("ce")).alias("cq"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("label").alias("probe_label"),
            F.zip_with(F.col("qe"), F.col("ce"), lambda x, c: x - c).alias(
                "qr"
            ),
        )
    )
    qsub = probe.select(
        "query_id",
        "probe_label",
        F.posexplode(
            F.array(*[
                F.slice("qr", m * PQ_SUBDIM + 1, PQ_SUBDIM)
                for m in range(PQ_M)
            ])
        ).alias("m", "sv"),
    )
    lut = qsub.join(F.broadcast(cb), "m").select(
        "query_id",
        "probe_label",
        "m",
        "code",
        sq_l2(F.col("sv"), F.col("cw")).alias("d2"),
    )
    scored = (
        enc.alias("e").join(
            F.broadcast(lut.alias("l")),
            (F.col("e.m") == F.col("l.m"))
            & (F.col("e.code") == F.col("l.code"))
            & (F.col("e.label") == F.col("l.probe_label"))
            & (F.col("e.vec_id") != F.col("l.query_id")),
        )
        .groupBy("query_id", "probe_label", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select(
            "query_id",
            "probe_label",
            "neighbor_id",
            F.round("adist", 4).alias("approx_dist2"),
            "rk",
        )
    )


#: Binary quantization: one SIGN BIT per dimension (axis-aligned, not
#: random hyperplanes — embeddings are ~zero-centered so sign(x_i)
#: preserves angular structure; the 2024-25 "BQ" recipe shipped by
#: vector stores for 32x index compression). 64 dims pack into two
#: 32-bit words so the codes stay in portable BIGINT arithmetic
#: (1 << 63 would overflow signed 64-bit in either engine).
BQ_WORD_BITS = 32
BQ_CAND_K = 32

_BQ_WORDS_SQL = {
    "w0": "list_sum(list_transform(range(1, 33), i -> "
          "CASE WHEN emb[i] > 0 THEN pow(2, i - 1) ELSE 0 END))",
    "w1": "list_sum(list_transform(range(33, 65), i -> "
          "CASE WHEN emb[i] > 0 THEN pow(2, i - 33) ELSE 0 END))",
}

_BQ_ORACLE = f"""
    WITH codes AS (
      SELECT vec_id, emb,
             CAST({_BQ_WORDS_SQL['w0']} AS BIGINT) AS w0,
             CAST({_BQ_WORDS_SQL['w1']} AS BIGINT) AS w1
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    ),
    q AS (
      SELECT vec_id AS query_id, emb AS qe, w0 AS qw0, w1 AS qw1
      FROM codes WHERE vec_id < 5
    ),
    ham AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, q.qe, c.emb AS ce,
             bit_count(xor(q.qw0, c.w0)) + bit_count(xor(q.qw1, c.w1))
               AS hamming
      FROM q JOIN codes c ON c.vec_id <> q.query_id
    ),
    cand AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY hamming, neighbor_id) AS hrk
        FROM ham
      ) WHERE hrk <= {BQ_CAND_K}
    ),
    scored AS (
      SELECT query_id, neighbor_id, hamming,
             list_dot_product(qe, ce)
               / (sqrt(list_dot_product(qe, qe))
                  * sqrt(list_dot_product(ce, ce))) AS cosine
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
           ROUND(cosine, 4) AS cosine, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 10
"""


def _bq_words():
    """(w0, w1) sign-bit words over `embedding` as Column exprs —
    closed-form pow-of-two sums (exact dyadic doubles -> BIGINT), the
    fn_geohash arithmetic so no engine bitwise packing enters."""

    def word(lo: int):
        return F.aggregate(
            F.sequence(F.lit(lo), F.lit(lo + BQ_WORD_BITS - 1)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.when(
                F.element_at(F.col("embedding"), i + 1).cast("double") > 0,
                F.pow(F.lit(2.0), (i - lo).cast("double")),
            ).otherwise(F.lit(0.0)),
        ).cast("bigint")

    return word(0), word(BQ_WORD_BITS)


@register("sim_search_bq", oracle=_BQ_ORACLE)
def sim_search_bq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN — the fourth ANN family next to
    hyperplane LSH (bucketing), IVF (inverted lists), and PQ (subspace
    codes): each vector compresses to ONE SIGN BIT PER DIMENSION (64
    dims -> 8 bytes, 32x smaller than float32), search scans the CODES
    with XOR+popcount Hamming distance, keeps the BQ_CAND_K closest as
    candidates, and re-ranks only those against the raw vectors (the
    standard BQ rescoring step every production vector store runs).
    Unlike the LSH bucket join, Hamming search has no bucket-miss
    failure mode — it degrades smoothly — at the cost of scanning all
    codes per query.

    Scale shape: the codes table (vec_id, w0, w1 — 3 BIGINTs) is the
    only thing the per-query scan touches; 5 broadcast queries x codes
    scan, TopK per query via row_number, then the rescoring join pulls
    raw vectors for 5 x BQ_CAND_K ids only. Sign packing is the
    fn_geohash closed-form pow-of-two fold, so DuckDB replays the codes
    bit-for-bit; Hamming = two XOR+bit_count BIGINT ops, exact in both
    engines."""
    t = load(spark, sf_dir)
    w0, w1 = _bq_words()
    codes = t.embeddings.select(
        "vec_id", "embedding", w0.alias("w0"), w1.alias("w1")
    )
    q = codes.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    # Hamming scan touches CODES ONLY (ids + two words); raw vectors
    # re-enter below, for the 5 x BQ_CAND_K survivors.
    ham = (
        codes.select("vec_id", "w0", "w1")
        .crossJoin(F.broadcast(q.select("query_id", "qw0", "qw1")))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("qw0").bitwiseXOR(F.col("w0")))
                + F.bit_count(F.col("qw1").bitwiseXOR(F.col("w1")))
            ).alias("hamming"),
        )
    )
    wh = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cand = (
        ham.withColumn("hrk", F.row_number().over(wh))
        .where(F.col("hrk") <= BQ_CAND_K)
        .select("query_id", "neighbor_id", "hamming")
    )
    rescored = cand.join(
        t.embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ce"),
        ),
        "neighbor_id",
    ).join(F.broadcast(q.select("query_id", "qe")), "query_id")
    cos = cosine_double(F.col("qe"), F.col("ce"))
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rescored.select(
            "query_id", "neighbor_id", "hamming", cos.alias("cosine")
        )
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            F.col("hamming").cast("bigint").alias("hamming"),
            F.round("cosine", 4).alias("cosine"),
            "rk",
        )
    )


#: Hard-negative mining band: candidates more similar than this are
#: treated as positives/near-dups (the SEMDEDUP_TAU convention) and
#: excluded; the top HARD_NEG_K below the band are the hard negatives.
HARD_NEG_TAU = 0.40
HARD_NEG_K = 5

_HARD_NEG_ORACLE = f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS anchor_id, v AS qv FROM emb WHERE vec_id < 5),
    scored AS (
      SELECT q.anchor_id, c.vec_id AS negative_id,
             list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM q JOIN emb c ON c.vec_id <> q.anchor_id
    )
    SELECT anchor_id, negative_id, ROUND(cos, 4) AS cos, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY cos DESC, negative_id) AS rk
      FROM scored WHERE cos < {HARD_NEG_TAU}
    ) WHERE rk <= {HARD_NEG_K}
"""


@register("embed_hard_negatives", oracle=_HARD_NEG_ORACLE)
def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    data-prep step): per anchor, the most-similar corpus vectors that
    are NOT near-duplicates — cosine just BELOW the dedup band
    (HARD_NEG_TAU, shared with dedup_semantic so "positive" means the
    same thing across the stack). Random negatives are too easy;
    these maximize training signal, and mining them is a corpus-scale
    batch job — exactly this query.

    Plan: 5 broadcast anchors x one corpus scan, threshold filter, then
    per-anchor top-k via row_number — the sim_search_knn shape with an
    upper cosine band. At production scale the scan side narrows to an
    ANN candidate set first (sim_search_ivf/bq); the mining semantics
    are unchanged."""
    t = load(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"), F.col("v").alias("qv")
    )
    pairs = emb.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("anchor_id")
    )
    cos = cosine_double(F.col("qv"), F.col("v"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("negative_id")
    )
    return (
        pairs.select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            cos.alias("cos"),
        )
        .where(F.col("cos") < HARD_NEG_TAU)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HARD_NEG_K)
        .select("anchor_id", "negative_id", F.round("cos", 4).alias("cos"), "rk")
    )


#: Outlier gate: a vector whose centroid-cosine sits more than 3 sigma
#: BELOW the corpus mean is flagged (one-sided — far-from-mass means
#: corrupt/off-distribution; unusually close to the centroid is fine).
OUTLIER_Z = 3.0

_OUTLIER_ORACLE = """
    WITH dims AS (
      SELECT generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings),
    cent AS (SELECT list(m ORDER BY pos) AS ce
             FROM (SELECT pos, ROUND(AVG(v), 6) AS m FROM dims GROUP BY pos)),
    scored AS (
      SELECT e.vec_id,
             CAST(floor(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ce)
                  / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(c.ce, c.ce)))
                  * 1000000) AS BIGINT) AS cu
      FROM embeddings e, cent c
    ),
    m AS (
      SELECT COUNT(*) AS n, SUM(cu) AS s1, SUM(cu * cu) AS s2 FROM scored
    )
    SELECT s.vec_id,
           s.cu / 1000000.0 AS cos_centroid,
           floor((s.cu - m.s1 / CAST(m.n AS DOUBLE))
                 / sqrt(GREATEST((m.s2 - m.s1 * (m.s1 / CAST(m.n AS DOUBLE)))
                                 / (m.n - 1), 1e-12))
                 * 10000) / 10000 AS z,
           (s.cu - m.s1 / CAST(m.n AS DOUBLE))
             / sqrt(GREATEST((m.s2 - m.s1 * (m.s1 / CAST(m.n AS DOUBLE)))
                             / (m.n - 1), 1e-12)) < -3.0 AS is_outlier
    FROM scored s, m
"""


@register("embed_outlier_centroid", oracle=_OUTLIER_ORACLE)
def embed_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier screen: each vector's cosine to the GLOBAL
    corpus centroid, z-scored over the corpus — the cheap corrupt-
    embedding / off-distribution detector run before any ANN index
    build or SemDeDup pass (a zeroed, truncated, or wrong-model vector
    lands far from the mass and poisons centroids and cluster
    assignments downstream). One-sided OUTLIER_Z sigma gate.

    Scale/determinism: pass 1 = the embed_centroids posexplode
    aggregate (shuffle O(dims), centroid 6-dp-quantized so both
    engines share bit-equal inputs); pass 2 = one broadcast-centroid
    scan computing each cosine, quantized to integer MICRO-UNITS so
    pass 3's corpus moments are EXACT integer sums (order-independent,
    the graph_pagerank doctrine); the z is then identical arithmetic
    on two exact integers, variance floored at 1e-12 for the
    degenerate all-equal corpus. z floor-scaled; the flag compares the
    unfloored z in both engines."""
    t = load(spark, sf_dir)
    dims = t.embeddings.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    cent = (
        dims.groupBy("pos")
        .agg(F.round(F.avg("v"), 6).alias("m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda x: x["m"],
            ).alias("ce")
        )
    )
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ve")
    ).crossJoin(F.broadcast(cent))
    cos = cosine_double(F.col("ve"), F.col("ce"))
    scored = e.select(
        "vec_id", F.floor(cos * 1_000_000).cast("bigint").alias("cu")
    )
    m = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cu").alias("s1"),
        F.sum(F.col("cu") * F.col("cu")).alias("s2"),
    )
    mu = F.col("s1") / F.col("n").cast("double")
    sd = F.sqrt(
        F.greatest(
            (F.col("s2") - F.col("s1") * mu) / (F.col("n") - 1), F.lit(1e-12)
        )
    )
    z = (F.col("cu") - mu) / sd
    return scored.crossJoin(F.broadcast(m)).select(
        "vec_id",
        (F.col("cu") / 1_000_000.0).alias("cos_centroid"),
        (F.floor(z * 10_000) / 10_000).alias("z"),
        (z < -OUTLIER_Z).alias("is_outlier"),
    )


_SQ8_ORACLE = """
    WITH dims AS (
      SELECT vec_id,
             generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings
    ),
    params AS (
      SELECT pos, MIN(v) AS lo, (MAX(v) - MIN(v)) / 255.0 AS scale
      FROM dims GROUP BY pos
    ),
    coded AS (
      SELECT d.vec_id, d.pos, d.v, p.lo, p.scale,
             CASE WHEN p.scale > 0
                  THEN p.lo + ROUND((d.v - p.lo) / p.scale) * p.scale
                  ELSE p.lo END AS recon
      FROM dims d JOIN params p USING (pos)
    ),
    errs AS (
      SELECT vec_id, abs(v - recon) AS err,
             CAST(floor((v - recon) * (v - recon) * 1e12) AS BIGINT) AS e2u,
             CAST(err <= scale / 2 OR scale = 0 AS INTEGER) AS ok
      FROM coded
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS dims,
           floor(MAX(err) * 1000000) / 1000000 AS max_abs_err,
           SUM(e2u) / COUNT(*) / 1e12 AS mse,
           SUM(ok) = COUNT(*) AS within_half_step
    FROM errs GROUP BY vec_id
"""


@register("embed_scalar_quant", oracle=_SQ8_ORACLE)
def embed_scalar_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization contract — the 5th compression family
    beside LSH buckets / IVF lists / PQ codes / BQ sign bits, and the
    one FAISS ships as SQ8: per DIMENSION the corpus min and a
    (max-min)/255 step train the codebook, each value rounds to its
    nearest step, and the operator reports per-vector reconstruction
    error (max abs + MSE) with the `within_half_step` guarantee flag
    that every dimension's error is <= step/2 — the property that makes
    SQ8 distance estimates admissible. 4x compression vs float32 with
    near-lossless recall is why it is the default first squeeze.

    Scale shape: params = one posexplode aggregate bounded by the DIM
    domain, broadcast back onto a second exploded scan; the per-vector
    report is one combinable aggregate keyed by vec_id. Determinism:
    min/max exact; every step/code/recon is identical arithmetic in
    both engines; squared errors quantize to exact integer e-12 units
    before the sum (order-independent), max is order-free."""
    t = load(spark, sf_dir)
    dims = t.embeddings.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "v")
    params = dims.groupBy("pos").agg(
        F.min("v").alias("lo"),
        ((F.max("v") - F.min("v")) / 255.0).alias("scale"),
    )
    coded = dims.join(F.broadcast(params), "pos").select(
        "vec_id",
        "v",
        "lo",
        "scale",
        F.when(
            F.col("scale") > 0,
            F.col("lo")
            + F.round((F.col("v") - F.col("lo")) / F.col("scale"))
            * F.col("scale"),
        )
        .otherwise(F.col("lo"))
        .alias("recon"),
    )
    err = F.abs(F.col("v") - F.col("recon"))
    errs = coded.select(
        "vec_id",
        err.alias("err"),
        F.floor(
            (F.col("v") - F.col("recon")) * (F.col("v") - F.col("recon")) * 1e12
        )
        .cast("bigint")
        .alias("e2u"),
        ((err <= F.col("scale") / 2) | (F.col("scale") == 0))
        .cast("int")
        .alias("ok"),
    )
    n = F.count(F.lit(1))
    return errs.groupBy("vec_id").agg(
        n.cast("bigint").alias("dims"),
        (F.floor(F.max("err") * 1_000_000) / 1_000_000).alias("max_abs_err"),
        (F.sum("e2u") / n / 1e12).alias("mse"),
        (F.sum("ok") == n).alias("within_half_step"),
    )


_MIPS_ORACLE = """
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    mx AS (
      SELECT MAX(sqrt(list_dot_product(v, v))) AS m FROM emb
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id,
             list_dot_product(q.qv, c.v) AS ip,
             list_dot_product(q.qv, c.v)
               / sqrt(list_dot_product(c.v, c.v)
                      + (mx.m * mx.m - list_dot_product(c.v, c.v)))
               AS aug_cos_num
      FROM q JOIN emb c ON c.vec_id <> q.query_id CROSS JOIN mx
    ),
    best AS (
      SELECT query_id,
             first(vec_id ORDER BY ip DESC, vec_id) AS ip_top1,
             first(vec_id ORDER BY aug_cos_num DESC, vec_id) AS aug_top1,
             ROUND(MAX(ip), 4) AS best_ip
      FROM scored GROUP BY query_id
    )
    SELECT query_id, ip_top1, aug_top1, best_ip,
           ip_top1 = aug_top1 AS transform_preserves_top1
    FROM best
"""


@register("sim_search_mips", oracle=_MIPS_ORACLE)
def sim_search_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search via the cosine reduction (the
    Bachrach et al. / Shrivastava-Li asymmetric transform): augment
    every corpus vector with one extra coordinate
    sqrt(M^2 - |v|^2) (M = the corpus max norm) so that, against a
    zero-padded query, augmented-space COSINE order equals raw
    INNER-PRODUCT order — the trick that lets every cosine ANN index
    in this engine (LSH/IVF/PQ/BQ/SQ8) serve recommendation-style MIPS
    workloads unchanged. The operator verifies the contract per query:
    exact IP top-1 vs augmented-cosine top-1, plus the preservation
    flag (argmax_ip == argmax_aug for EVERY query or the reduction is
    wrong).

    Scale/determinism: M is a 1-row exact fold broadcast back; both
    scores per pair are identical-expression arithmetic over the same
    dot products (dot_double fold order shared), so ranking ties break
    identically by vec_id in both engines."""
    t = load(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mx = emb.agg(
        F.max(F.sqrt(dot_double(F.col("v"), F.col("v")))).alias("m")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .crossJoin(F.broadcast(mx))
    )
    ip = dot_double(F.col("qv"), F.col("v"))
    nv2 = dot_double(F.col("v"), F.col("v"))
    m2 = F.col("m") * F.col("m")
    # Augmented corpus vector is (v, sqrt(M^2 - |v|^2)); against a
    # zero-padded query its cosine denominator is the CONSTANT
    # sqrt(|v|^2 + (M^2 - |v|^2)) = M, which is what makes the
    # augmented-cosine argmax equal the inner-product argmax.
    # Written exactly as the oracle writes it so doubles match bitwise.
    aug = ip / F.sqrt(nv2 + (m2 - nv2))
    scored = pairs.select(
        "query_id", "vec_id", ip.alias("ip"), aug.alias("aug")
    )
    w_ip = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), "vec_id"
    )
    w_aug = Window.partitionBy("query_id").orderBy(
        F.col("aug").desc(), "vec_id"
    )
    ranked = scored.select(
        "query_id",
        "ip",
        F.first("vec_id").over(w_ip).alias("ip_top1"),
        F.first("vec_id").over(w_aug).alias("aug_top1"),
    )
    return ranked.groupBy("query_id").agg(
        F.min("ip_top1").cast("bigint").alias("ip_top1"),
        F.min("aug_top1").cast("bigint").alias("aug_top1"),
        F.round(F.max("ip"), 4).alias("best_ip"),
        (F.min("ip_top1") == F.min("aug_top1")).alias(
            "transform_preserves_top1"
        ),
    )


_IVF_BALANCE_ORACLE = """
    WITH dims AS (
      SELECT label, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings),
    cent AS (SELECT label, list(m ORDER BY pos) AS ce
             FROM (SELECT label, pos, AVG(v) AS m FROM dims GROUP BY label, pos)
             GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label AS own_label, c.label AS cand,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ce)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(c.ce, c.ce))) AS cq
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, own_label, cand AS list_id
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cq DESC, cand) AS rn
            FROM scored)
      WHERE rn = 1
    ),
    lists AS (
      SELECT list_id, COUNT(*) AS n,
             SUM(CASE WHEN own_label <> list_id THEN 1 ELSE 0 END) AS spilled
      FROM assigned GROUP BY list_id
    )
    SELECT list_id,
           CAST(n AS BIGINT) AS n_vectors,
           ROUND(n / CAST(SUM(n) OVER () AS DOUBLE), 6) AS share,
           ROUND(MAX(n) OVER ()
                 / (SUM(n) OVER () / CAST(COUNT(*) OVER () AS DOUBLE)), 4)
             AS imbalance_factor,
           ROUND(SUM(spilled) OVER () / CAST(SUM(n) OVER () AS DOUBLE), 6)
             AS spill_rate
    FROM lists
"""


@register("sim_search_ivf_balance", oracle=_IVF_BALANCE_ORACLE)
def sim_search_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health report: every corpus vector assigned to its
    true nearest coarse centroid, then per-list sizes, the imbalance
    factor (largest list / mean list — THE number that predicts IVF
    tail latency, since a probe into a hot list scans
    imbalance-factor times the average), and the spill rate (vectors
    whose nearest centroid is NOT their own label's — quantizer
    disagreement with the labeling sim_search_ivf probes by). Run
    before serving: a skewed or high-spill index needs re-training,
    not more probes.

    Scale/determinism: the centroid table is tiny and broadcasts; the
    assignment is one corpus scan x k centroid cosines (the honest
    IVF build cost) with identical-expression scores and label
    tie-breaks; list stats are windows over the LIST-domain frame."""
    t = load(spark, sf_dir)
    cent = _centroid_vectors(t)
    e = t.embeddings.select(
        "vec_id",
        F.col("label").alias("own_label"),
        F.col("embedding").cast("array<double>").alias("ve"),
    )
    scored = e.crossJoin(F.broadcast(cent.withColumnRenamed("label", "cand")))
    cq = cosine_double(F.col("ve"), F.col("ce"))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cq").desc(), "cand"
    )
    assigned = (
        scored.select("vec_id", "own_label", "cand", cq.alias("cq"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "own_label", F.col("cand").alias("list_id"))
    )
    lists = assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("own_label") != F.col("list_id")).cast("long")
        ).alias("spilled"),
    )
    w = Window.partitionBy()
    tot = F.sum("n").over(w)
    return lists.select(
        "list_id",
        F.col("n").cast("bigint").alias("n_vectors"),
        F.round(F.col("n") / tot.cast("double"), 6).alias("share"),
        F.round(
            F.max("n").over(w)
            / (tot / F.count(F.lit(1)).over(w).cast("double")),
            4,
        ).alias("imbalance_factor"),
        F.round(F.sum("spilled").over(w) / tot.cast("double"), 6).alias(
            "spill_rate"
        ),
    )


_PURITY_ORACLE = f"""
    WITH dims AS (
      SELECT label, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings),
    cent AS (SELECT label, list(m ORDER BY pos) AS ce
             FROM (SELECT label, pos, AVG(v) AS m FROM dims GROUP BY label, pos)
             GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label AS own_label, c.label AS cand,
             {_COS.format(a="CAST(e.embedding AS DOUBLE[])", b="c.ce")} AS cq
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, own_label, cand AS cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cq DESC, cand) AS rn
            FROM scored)
      WHERE rn = 1
    ),
    ct AS (
      SELECT cell, own_label, COUNT(*) AS obs FROM assigned GROUP BY 1, 2
    ),
    m AS (
      SELECT cell, own_label, obs,
             SUM(obs) OVER (PARTITION BY cell) AS cell_t,
             SUM(obs) OVER (PARTITION BY own_label) AS lab_t,
             SUM(obs) OVER () AS n
      FROM ct
    ),
    mi AS (
      SELECT SUM(CAST(floor(obs / CAST(n AS DOUBLE)
                 * ln(obs * CAST(n AS DOUBLE) / (cell_t * CAST(lab_t AS DOUBLE)))
                 * 1000000) AS BIGINT)) AS mi_units,
             MAX(n) AS n
      FROM m
    ),
    hc AS (
      SELECT SUM(CAST(floor(-(cell_t / CAST(n AS DOUBLE))
                 * ln(cell_t / CAST(n AS DOUBLE)) * 1000000) AS BIGINT))
               AS h_units
      FROM (SELECT DISTINCT cell, cell_t, n FROM m)
    ),
    hl AS (
      SELECT SUM(CAST(floor(-(lab_t / CAST(n AS DOUBLE))
                 * ln(lab_t / CAST(n AS DOUBLE)) * 1000000) AS BIGINT))
               AS h_units
      FROM (SELECT DISTINCT own_label, lab_t, n FROM m)
    ),
    pur AS (
      SELECT SUM(mx) AS agree FROM (
        SELECT cell, MAX(obs) AS mx FROM ct GROUP BY cell
      )
    )
    SELECT CAST(mi.n AS BIGINT) AS n,
           CAST((SELECT COUNT(DISTINCT cell) FROM ct) AS BIGINT) AS k_cells,
           ROUND((SELECT agree FROM pur) / CAST(mi.n AS DOUBLE), 6)
             AS purity,
           ROUND(mi.mi_units
                 / sqrt(CAST((SELECT h_units FROM hc) AS DOUBLE)
                        * (SELECT h_units FROM hl)), 6) AS nmi
    FROM mi
"""


@register("embed_cluster_purity", oracle=_PURITY_ORACLE)
def embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External cluster-quality evaluation of the IVF coarse quantizer
    against the corpus's ground-truth labels: PURITY (share of vectors
    whose cell's majority label is their own) and sqrt-normalized NMI —
    the two standard external clustering metrics, answering "do the
    learned cells MEAN anything?" where sim_search_ivf_balance only
    answers "are they load-balanced?". Low NMI with good balance says
    re-train the quantizer; high NMI with bad balance says split hot
    cells.

    Scale/determinism: same broadcast-centroid x one-corpus-scan
    assignment as sim_search_ivf_balance; metrics fold over the
    (cell x label)-DOMAIN contingency frame. Every MI/entropy term is
    floor-quantized to integer micro-units BEFORE its sum (the
    agg_mutual_info lattice doctrine), so the folds are exact and the
    final expressions identical in both engines."""
    t = load(spark, sf_dir)
    cent = _centroid_vectors(t)
    e = t.embeddings.select(
        "vec_id",
        F.col("label").alias("own_label"),
        F.col("embedding").cast("array<double>").alias("ve"),
    )
    scored = e.crossJoin(F.broadcast(cent.withColumnRenamed("label", "cand")))
    cq = cosine_double(F.col("ve"), F.col("ce"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cq").desc(), "cand")
    assigned = (
        scored.select("vec_id", "own_label", "cand", cq.alias("cq"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "own_label", F.col("cand").alias("cell"))
    )
    ct = assigned.groupBy("cell", "own_label").agg(
        F.count(F.lit(1)).alias("obs")
    )
    w_cell = Window.partitionBy("cell")
    w_lab = Window.partitionBy("own_label")
    w_all = Window.partitionBy()
    nd = F.col("n").cast("double")
    m = ct.select(
        "cell",
        "own_label",
        "obs",
        F.sum("obs").over(w_cell).alias("cell_t"),
        F.sum("obs").over(w_lab).alias("lab_t"),
        F.sum("obs").over(w_all).alias("n"),
    )
    mi_units = F.floor(
        F.col("obs") / nd
        * F.log(
            F.col("obs") * nd / (F.col("cell_t") * F.col("lab_t").cast("double"))
        )
        * 1_000_000
    ).cast("bigint")
    mi = m.agg(
        F.sum(mi_units).alias("mi_units"),
        F.max("n").alias("n"),
        F.countDistinct("cell").alias("k_cells"),
    )
    hc = (
        m.select("cell", "cell_t", "n")
        .distinct()
        .agg(
            F.sum(
                F.floor(
                    -(F.col("cell_t") / nd) * F.log(F.col("cell_t") / nd)
                    * 1_000_000
                ).cast("bigint")
            ).alias("hc_units")
        )
    )
    hl = (
        m.select("own_label", "lab_t", "n")
        .distinct()
        .agg(
            F.sum(
                F.floor(
                    -(F.col("lab_t") / nd) * F.log(F.col("lab_t") / nd)
                    * 1_000_000
                ).cast("bigint")
            ).alias("hl_units")
        )
    )
    agree = ct.groupBy("cell").agg(F.max("obs").alias("mx")).agg(
        F.sum("mx").alias("agree")
    )
    return (
        mi.crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(agree))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.col("k_cells").cast("bigint").alias("k_cells"),
            F.round(F.col("agree") / nd, 6).alias("purity"),
            F.round(
                F.col("mi_units")
                / F.sqrt(
                    F.col("hc_units").cast("double") * F.col("hl_units")
                ),
                6,
            ).alias("nmi"),
        )
    )


#: TwoNN intrinsic-dimension sample size: the estimator needs only a
#: fixed-size sample, which is exactly what makes it viable at corpus
#: scale — O(sample^2) distance pairs regardless of corpus size.
TWONN_SAMPLE = 256

_TWONN_ORACLE = f"""
    WITH sampled AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5('id:' ||
                   CAST(vec_id AS VARCHAR)), vec_id) AS rk
        FROM embeddings
      ) WHERE rk <= {TWONN_SAMPLE}
    ),
    d AS (
      SELECT a.vec_id,
             sqrt(list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, b.v)
                  + list_dot_product(b.v, b.v)) AS dist
      FROM sampled a JOIN sampled b ON a.vec_id <> b.vec_id
    ),
    nn AS (
      SELECT vec_id, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, vec_id)
               AS rn
      FROM d
    ),
    mu AS (
      SELECT a.vec_id,
             CAST(floor(ln(b.dist / a.dist) * 1000000) AS BIGINT) AS lmu
      FROM (SELECT vec_id, dist FROM nn WHERE rn = 1) a
      JOIN (SELECT vec_id, dist FROM nn WHERE rn = 2) b USING (vec_id)
      WHERE a.dist > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
           ROUND(COUNT(*) / (SUM(lmu) / 1000000.0), 4) AS intrinsic_dim
    FROM mu
"""


@register("embed_intrinsic_dim", oracle=_TWONN_ORACLE)
def embed_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) of the
    embedding manifold: ID = n / sum(ln(r2/r1)) over each sampled
    point's two nearest neighbors — the diagnostic that says how many
    dimensions the vectors REALLY use (an ID far below the ambient dim
    licenses aggressive PCA/Matryoshka truncation, embed_pca_contract's
    question answered from geometry instead of variance; ID near
    ambient says quantize, don't project).

    Scale posture: the estimator is computed on a DETERMINISTIC
    {TWONN_SAMPLE}-vector sample (md5 hash order, the sampling.py
    convention) because TwoNN needs only a sample — the O(sample^2)
    distance join is CONSTANT in corpus size, which is the honest way
    to run it at 100 TB (the corpus-wide alternative is an all-pairs
    knn nobody needs for one scalar). Determinism: distances are
    identical-expression doubles on the same vectors; each ln(mu)
    micro-unit-quantizes before the exact fold; zero-distance pairs
    (exact duplicate vectors) are excluded in both engines."""
    t = load(spark, sf_dir)
    # distributed top-k (TakeOrderedAndProject), NOT a global
    # row_number window: the hash-order sample must never single-
    # partition the corpus at 100 TB
    # r14 optimization round (value-identical): the sample is
    # localCheckpoint-materialized (both self-join sides read it, so
    # the corpus TakeOrdered otherwise ran twice), each point's
    # self-dot folds ONCE and is carried into the pair expression
    # (same doubles, same sum — 3 interpreted folds per pair become 1),
    # and the streamed side repartitions because a TakeOrdered result
    # is a single partition (the whole sample^2 fold stream ran on 1
    # of 32 cores; r13 --all read 4.0 s).
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sampled = (
        t.embeddings.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            F.md5(
                F.concat(F.lit("id:"), F.col("vec_id").cast("string")).cast(
                    "binary"
                )
            ).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(TWONN_SAMPLE)
        .drop("h")
        .withColumn("v2", dot_double(F.col("v"), F.col("v")))
        .localCheckpoint()
    )
    a = fanout_repartition(sampled, par).alias("a")
    b = sampled.alias("b")
    dist = F.sqrt(
        F.col("a.v2")
        - 2 * dot_double(F.col("a.v"), F.col("b.v"))
        + F.col("b.v2")
    )
    d = (
        a.join(F.broadcast(b), F.col("a.vec_id") != F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_id"), dist.alias("dist"))
    )
    w_nn = Window.partitionBy("vec_id").orderBy("dist", "vec_id")
    nn = d.withColumn("rn", F.row_number().over(w_nn)).where(
        F.col("rn") <= 2
    )
    r1 = nn.where(F.col("rn") == 1).select("vec_id", F.col("dist").alias("d1"))
    r2 = nn.where(F.col("rn") == 2).select("vec_id", F.col("dist").alias("d2"))
    mu = (
        r1.join(r2, "vec_id")
        .where(F.col("d1") > 0)
        .select(
            F.floor(F.log(F.col("d2") / F.col("d1")) * 1_000_000)
            .cast("bigint")
            .alias("lmu")
        )
    )
    return mu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        F.round(
            F.count(F.lit(1)) / (F.sum("lmu") / 1_000_000.0), 4
        ).alias("intrinsic_dim"),
    )


_DIM_SPECTRUM_ORACLE = """
    WITH comp AS (
      SELECT generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
             CAST(ROUND(unnest(CAST(embedding AS DOUBLE[])) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings
    ),
    s AS (
      SELECT pos, COUNT(*) AS n, SUM(q) AS s1,
             SUM(CAST(q AS HUGEINT) * q) AS s2
      FROM comp GROUP BY pos
    ),
    v AS (
      SELECT pos,
             (s2 - CAST(s1 AS DOUBLE) * s1 / n) / CAST(n AS DOUBLE)
               / 1000000000000.0 AS var_pop
      FROM s
    ),
    ranked AS (
      SELECT pos, var_pop,
             row_number() OVER (ORDER BY floor(var_pop * 1000000000) DESC,
                                pos) AS rk,
             SUM(var_pop) OVER () AS tot
      FROM v
    )
    SELECT CAST(rk AS BIGINT) AS var_rank,
           CAST(pos AS BIGINT) AS dim,
           ROUND(var_pop, 8) AS variance,
           ROUND(SUM(var_pop) OVER (ORDER BY rk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / tot, 6) AS cum_explained
    FROM ranked
"""


@register("embed_dim_variance_spectrum", oracle=_DIM_SPECTRUM_ORACLE)
def embed_dim_variance_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance spectrum of the embedding corpus, sorted
    with cumulative explained share — the PCA-lite diagnostic that
    needs NO eigensolve (axis-aligned variance, fully SQL-able): a
    spectrum where 16 of 64 raw dims carry 95% of the variance says
    truncate/quantize aggressively; a flat one says the space is
    isotropic and embed_pca_project's rotation is required to compress.
    Complements embed_intrinsic_dim (geometry) with the cheap
    second-moment view.

    Scale/determinism: components quantize to integer micro-units, so
    the per-dim (n, S1, S2) sums are exact folds (S2 as decimal /
    HUGEINT — q^2 sums pass 2^63 at corpus scale); the spectrum frame
    is DIM-bounded (64 rows); the rank orders by the 1e-9-FLOORED
    variance so sub-lattice drift cannot reorder; shares are windows
    over that frame."""
    t = load(spark, sf_dir)
    comp = t.embeddings.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "v"
        )
    ).select(
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("v") * 1_000_000).cast("bigint").alias("q"),
    )
    s = comp.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("s2"),
    )
    var_pop = (
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / F.col("n").cast("double")
        / 1_000_000_000_000.0
    )
    v = s.select("pos", var_pop.alias("var_pop"))
    w_rk = Window.orderBy(
        F.floor(F.col("var_pop") * 1_000_000_000).desc(), "pos"
    )
    w_all = Window.partitionBy()
    ranked = v.select(
        "pos",
        "var_pop",
        F.row_number().over(w_rk).alias("rk"),
        F.sum("var_pop").over(w_all).alias("tot"),
    )
    w_cum = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    return ranked.select(
        F.col("rk").cast("bigint").alias("var_rank"),
        F.col("pos").cast("bigint").alias("dim"),
        F.round("var_pop", 8).alias("variance"),
        F.round(F.sum("var_pop").over(w_cum) / F.col("tot"), 6).alias(
            "cum_explained"
        ),
    )


#: Quantizer-confidence alert line: vectors whose top-2 centroid
#: cosines differ by less than this are "boundary" vectors that flip
#: cells under retraining (and the ones multiprobe exists to catch).
MARGIN_LOW = 0.02

_CENTROID_MARGIN_ORACLE = f"""
    WITH dims AS (
      SELECT label, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings),
    cent AS (SELECT label, list(m ORDER BY pos) AS ce
             FROM (SELECT label, pos, AVG(v) AS m FROM dims GROUP BY label, pos)
             GROUP BY label),
    scored AS (
      SELECT e.vec_id, c.label AS cand,
             {_COS.format(a="CAST(e.embedding AS DOUBLE[])", b="c.ce")} AS cq
      FROM embeddings e CROSS JOIN cent c
    ),
    top2 AS (
      SELECT vec_id, cand, cq,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cq DESC, cand) AS rn
      FROM scored
    ),
    m AS (
      SELECT a.vec_id, a.cand AS cell,
             CAST(floor((a.cq - b.cq) * 1000000) AS BIGINT) AS margin_units
      FROM (SELECT * FROM top2 WHERE rn = 1) a
      JOIN (SELECT * FROM top2 WHERE rn = 2) b USING (vec_id)
    )
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(SUM(margin_units) / 1000000.0 / COUNT(*), 6)
             AS mean_margin,
           CAST(SUM(CASE WHEN margin_units < {int(MARGIN_LOW * 1e6)}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary,
           ROUND(SUM(CASE WHEN margin_units < {int(MARGIN_LOW * 1e6)}
                          THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
             AS boundary_share
    FROM m GROUP BY cell
"""


@register("embed_centroid_margin", oracle=_CENTROID_MARGIN_ORACLE)
def embed_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-confidence report per IVF cell: each vector's MARGIN
    between its nearest and second-nearest centroid cosine, with the
    share of boundary vectors (margin < {MARGIN_LOW}) — the number that
    says how many assignments would FLIP under centroid retraining and
    exactly which cells need multiprobe (sim_search_ann_multiprobe's
    probe budget should go where this report says the boundaries are;
    embed_cluster_purity says whether cells mean anything, this says
    how crisply they separate).

    Scale/determinism: broadcast centroids x one corpus scan (the IVF
    build cost), top-2 via one per-vector window; margins floor to
    micro-units before the per-cell fold, so means and boundary counts
    are exact."""
    t = load(spark, sf_dir)
    cent = _centroid_vectors(t)
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ve")
    )
    scored = e.crossJoin(F.broadcast(cent.withColumnRenamed("label", "cand")))
    cq = cosine_double(F.col("ve"), F.col("ce"))
    w = Window.partitionBy("vec_id").orderBy(F.col("cq").desc(), "cand")
    top2 = (
        scored.select("vec_id", "cand", cq.alias("cq"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
    )
    a = top2.where(F.col("rn") == 1).select(
        "vec_id", F.col("cand").alias("cell"), F.col("cq").alias("cq1")
    )
    b = top2.where(F.col("rn") == 2).select("vec_id", F.col("cq").alias("cq2"))
    m = a.join(b, "vec_id").select(
        "cell",
        F.floor((F.col("cq1") - F.col("cq2")) * 1_000_000)
        .cast("bigint")
        .alias("margin_units"),
    )
    low = int(MARGIN_LOW * 1e6)
    return m.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(
            F.sum("margin_units") / 1_000_000.0 / F.count(F.lit(1)), 6
        ).alias("mean_margin"),
        F.sum(F.when(F.col("margin_units") < low, 1).otherwise(0))
        .cast("bigint")
        .alias("n_boundary"),
        F.round(
            F.sum(F.when(F.col("margin_units") < low, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("boundary_share"),
    )


_ISOTROPY_ORACLE = """
    WITH unit AS (
      SELECT list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[]))))
               AS u
      FROM embeddings
    ),
    dims AS (
      SELECT generate_subscripts(u, 1) AS pos, unnest(u) AS v FROM unit
    ),
    sums AS (
      SELECT pos, SUM(v) AS s FROM dims GROUP BY pos
    ),
    tot AS (
      SELECT (SELECT SUM(s * s) FROM sums) AS sum_sq,
             (SELECT COUNT(*) FROM unit) AS n
    )
    SELECT CAST(n AS BIGINT) AS n_vectors,
           ROUND((sum_sq - n) / (n * (CAST(n AS DOUBLE) - 1)), 6)
             AS mean_pairwise_cosine,
           ROUND(sqrt(sum_sq) / n, 6) AS mean_vector_norm
    FROM tot
"""


@register("embed_isotropy", oracle=_ISOTROPY_ORACLE)
def embed_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space: the MEAN PAIRWISE COSINE
    across all n^2 unit-vector pairs and the norm of the mean vector —
    computed WITHOUT any pair join via the sum-vector identity
    sum_{i != j} cos(i,j) = ||SUM u_i||^2 - n. A high mean cosine is
    the classic anisotropy pathology (all embeddings share a dominant
    direction; cosine similarities compress toward it and ANN recall
    degrades) whose standard fix is mean-centering — this is the
    one-number check that says whether to apply it, beside
    embed_dim_variance_spectrum's per-axis view.

    Scale/determinism: ONE scan — per-dimension component sums of the
    normalized vectors (combinable, dim-bounded frame), then closed-
    form arithmetic; the O(n^2) pair semantics costs O(n*d). Unit
    normalization and the identity are identical expressions in both
    engines."""
    t = load(spark, sf_dir)
    e = t.embeddings.select(F.col("embedding").cast("array<double>").alias("v"))
    nrm = F.sqrt(dot_double(F.col("v"), F.col("v")))
    unit = e.select(
        F.transform(F.col("v"), lambda x: x / nrm).alias("u")
    )
    dims = unit.select(F.posexplode("u").alias("pos", "vv"))
    sums = dims.groupBy("pos").agg(F.sum("vv").alias("s"))
    n_row = unit.agg(F.count(F.lit(1)).alias("n"))
    tot = sums.agg(F.sum(F.col("s") * F.col("s")).alias("sum_sq")).crossJoin(
        F.broadcast(n_row)
    )
    nd = F.col("n").cast("double")
    return tot.select(
        F.col("n").cast("bigint").alias("n_vectors"),
        F.round(
            (F.col("sum_sq") - F.col("n")) / (F.col("n") * (nd - 1)), 6
        ).alias("mean_pairwise_cosine"),
        F.round(F.sqrt("sum_sq") / F.col("n"), 6).alias("mean_vector_norm"),
    )


#: Neighborhood size for the hubness audit.
HUBNESS_K = 10

_HUBNESS_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cosine
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    topk AS (
      SELECT neighbor_id FROM (
        SELECT neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM scored
      ) WHERE rk <= {HUBNESS_K}
    ),
    occ AS (
      SELECT e.vec_id, CAST(COUNT(t.neighbor_id) AS BIGINT) AS k_occ
      FROM e LEFT JOIN topk t ON t.neighbor_id = e.vec_id
      GROUP BY e.vec_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k_occ) AS BIGINT) AS s1,
             CAST(SUM(k_occ * k_occ) AS BIGINT) AS s2,
             CAST(SUM(k_occ * k_occ * k_occ) AS BIGINT) AS s3,
             CAST(MAX(k_occ) AS BIGINT) AS mx,
             CAST(SUM(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_antihubs,
             CAST(SUM(CASE WHEN k_occ > 2 * {HUBNESS_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hubs
      FROM occ
    )
    SELECT n, CAST({HUBNESS_K} AS BIGINT) AS k, mx AS max_k_occ,
           n_antihubs, n_hubs,
           ROUND((CAST(s3 AS DOUBLE) / n
                  - 3.0 * (s1 / CAST(n AS DOUBLE))
                        * (CAST(s2 AS DOUBLE) / n)
                  + 2.0 * POWER(s1 / CAST(n AS DOUBLE), 3))
                 / POWER(CAST(s2 AS DOUBLE) / n
                         - POWER(s1 / CAST(n AS DOUBLE), 2), 1.5), 4)
             AS k_occurrence_skewness
    FROM m
"""


def _k_occurrence_report(
    ids: DataFrame, topk: DataFrame, extra_cols: list
) -> DataFrame:
    """Shared tail of both hubness paths: count how often each vector in
    `ids` appears in `topk`'s neighbor lists, then fold the k-occurrence
    distribution to (n, k, [extras], max, antihubs, hubs, skewness).
    The skewness is a closed form of four exact integer moment sums."""
    occ = (
        ids.join(topk, topk.neighbor_id == ids.vec_id, "left")
        .groupBy("vec_id")
        .agg(F.count("neighbor_id").cast("bigint").alias("k_occ"))
    )
    x = F.col("k_occ")
    m = occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("s1"),
        F.sum(x * x).cast("bigint").alias("s2"),
        F.sum(x * x * x).cast("bigint").alias("s3"),
        F.max(x).alias("max_k_occ"),
        F.sum((x == 0).cast("int")).cast("bigint").alias("n_antihubs"),
        F.sum((x > 2 * HUBNESS_K).cast("int")).cast("bigint").alias("n_hubs"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1") / nd
    var = F.col("s2") / nd - mu * mu
    skew = (
        F.col("s3").cast("double") / nd
        - 3.0 * mu * (F.col("s2").cast("double") / nd)
        + 2.0 * F.pow(mu, 3)
    ) / F.pow(var, 1.5)
    return m.select(
        "n",
        F.lit(HUBNESS_K).cast("bigint").alias("k"),
        *extra_cols,
        "max_k_occ",
        "n_antihubs",
        "n_hubs",
        F.round(skew, 4).alias("k_occurrence_skewness"),
    )


def _hubness_bruteforce(t) -> DataFrame:
    """Exact all-pairs k-occurrence counts (audit-scale path)."""
    # norms precompute ONCE per vector (n rows), not once per pair —
    # the all-pairs stage then runs ONE higher-order fold per pair
    # instead of three (measured 3x on the 4M-pair fixture)
    e = t.embeddings.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias(
            "nrm"
        ),
    )
    # r14 optimization round: the STREAMED pair side repartitions to the
    # session parallelism — the fixture is one parquet split, so the N^2
    # fold stream otherwise evaluates inside the single scan task (1 of
    # 32 cores; the r13 --all record read 54.3 s for the sf0.1 audit,
    # ~all of it this serial stage).
    spark = t.embeddings.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    a = fanout_repartition(e, par).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    b = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cos = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    # no hard broadcast hint on b (SF-scaling corpus — the lint rule);
    # the planner picks the same BNLJ build side locally, and the audit
    # path is documented sample-at-scale
    scored = a.join(
        b, F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id", "neighbor_id", cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    topk = scored.select(
        "neighbor_id", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= HUBNESS_K)
    return _k_occurrence_report(e.select("vec_id"), topk, [])


def _hubness_ivf_cells(t, n_vec: int, extra_cols: list) -> DataFrame:
    """Index-list k-occurrence counts: build a deterministic IVF coarse
    quantizer (nlist = ceil(sqrt(N)) seed vectors — the classic FAISS
    sizing — seeded by the first nlist vec_ids, the embed_kmeans c0
    convention), assign every vector to its nearest seed by cosine, and
    fold each vector's WITHIN-CELL top-{HUBNESS_K} list. Pair space
    drops from N^2 to ~N^2/nlist = N^1.5 and both stages (assignment
    N x nlist, pairs sum(|cell|^2)) scale as N^1.5 — the fold a 100 TB
    deployment runs off its IVF index's result lists (Radovanovic
    hubness estimated from candidate lists). Hot cells are the
    sim_search_ivf_balance audit's problem; a production build
    rebalances lists before this audit reads them. Beyond ~10^9
    vectors the flat N x nlist assignment scan itself needs the
    hierarchical (HNSW-assign) build — documented, out of scope."""
    import math

    import numpy as np

    nlist = int(math.ceil(math.sqrt(n_vec)))
    # r14 optimization round (value-identical): repartition to the
    # session parallelism before the assignment folds (the fixture is
    # ONE parquet split — the _nsw_graph lesson), fold each vector's
    # norm ONCE (carried through the assignment; same doubles, same
    # product, bit-identical cosines with 3x fewer interpreted-HOF
    # folds), and assign via a map-side max_by argmax instead of a
    # row_number window over N x nlist vector-carrying rows (the exact
    # tie rule — max over (cs, -cid) — the window picked).
    #
    # r14 second pass (guide §4.2, the _nsw_graph/dedup_embedding
    # recipe): the assignment argmax and the within-cell top-k both
    # run on the shared NumPy cosine kernel (dedup._PAIR_TILE), so
    # every cosine is bit-identical to the SQL fold the DuckDB oracle
    # replays (re-verified at 3 SFs). Collecting the nlist seeds is the
    # same sqrt(N) scale class as the F.broadcast(seeds) it replaces;
    # the partition count derives from input size (§2.4), not a
    # constant.
    spark = t.embeddings.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    npart = max(1, min(par, -(-n_vec // 256)))
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).repartition(npart)
    seed_rows = sorted(
        e.orderBy("vec_id")
        .limit(nlist)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.sqrt(dot_double(F.col("v"), F.col("v"))).alias("cnrm"),
        )
        .collect(),
        key=lambda r: r.cid,
    )
    cids_np = np.array([r.cid for r in seed_rows], dtype=np.int64)
    cv_np = np.array([r.cv for r in seed_rows], dtype=np.float64)
    cnrm_np = np.array([r.cnrm for r in seed_rows], dtype=np.float64)
    tile = dedup._PAIR_TILE

    def _assign(batches):
        import pyarrow as pa

        for batch in batches:
            nb = batch.num_rows
            if nb == 0:
                continue
            vcol = batch.column("v")
            flat = vcol.flatten().to_numpy(zero_copy_only=False)
            V = flat.reshape(nb, -1)
            nrm = row_norms(V)
            # first-max argmax == max_by((cs, -cid)) with cid ascending
            _, best = _argmax_ids_tiled(V, cv_np, nrm, cnrm_np, cids_np, tile)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    vcol,
                    pa.array(nrm, type=pa.float64()),
                    pa.array(best, type=pa.int64()),
                ],
                names=["vec_id", "v", "nrm", "cid"],
            )

    # materialized once: the cell fold and the report's id frame read it
    # (the local analog of writing the assignment to a cid-bucketed
    # table)
    assigned = e.mapInArrow(
        _assign, "vec_id long, v array<double>, nrm double, cid long"
    ).localCheckpoint()

    def _cell_topk(pdf):
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"neighbor_id": [], "rk": []}).astype(
                {"neighbor_id": "int64", "rk": "int32"}
            )
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        nrm = pdf["nrm"].to_numpy()
        # row_number() over (ORDER BY cosine DESC, neighbor_id), self
        # excluded, capped at HUBNESS_K
        k = min(HUBNESS_K, n - 1)
        nbrs, rks = [], []
        for row in _topk_ids_tiled(ids, V, nrm, k, tile):
            nbrs.extend(row)
            rks.extend(range(1, len(row) + 1))
        return pd.DataFrame(
            {"neighbor_id": nbrs, "rk": np.array(rks, dtype="int32")}
        )

    topk = assigned.groupBy("cid").applyInPandas(
        _cell_topk, "neighbor_id long, rk int"
    )
    return _k_occurrence_report(assigned.select("vec_id"), topk, extra_cols)


#: Vector count above which embed_hubness switches from the exact
#: all-pairs audit to the IVF result-list estimate. r12 (VERDICT r11
#: item 5): lowered 2000 -> 1000 — sf0.1's 2000 vectors sat EXACTLY on
#: the old boundary, so the registered op ran its ~24-30 s brute audit
#: at the one scale everyone benchmarks (and 256.8 s at 4x, growing
#: quadratically). The audit regime stays honest where the oracle is
#: exact (sf0.001/0.01 are 500 vectors); sf0.1+ now takes the IVF fold
#: a retrieval deployment would actually run. The brute path remains
#: forceable at any SF via embed_hubness_exact.
HUBNESS_BRUTE_MAX = 1000


# NOTE: registered below _HUBNESS_IVF_ORACLE with a DISPATCHING oracle
# (r12): the SQL replicates the same corpus-size switch, so the
# differential check stays value-exact in BOTH regimes — brute at the
# small SFs, IVF fold at sf0.1+ (the old brute-only oracle failed any
# sf0.1 spot-check the moment the boundary moved off 2000).
def embed_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space: the k-occurrence
    distribution N_k (how often each vector appears in OTHER vectors'
    top-{HUBNESS_K} cosine lists) summarized as its skewness plus
    hub/antihub counts — the classic high-dimensional pathology
    (Radovanovic et al. 2010): positive skew means a few "hub" vectors
    crowd everyone's neighbor lists, which silently corrupts kNN dedup
    and retrieval (embed_isotropy flags the related anisotropy; this
    measures its nearest-neighbor consequence). A mean-center /
    whitening fix is validated by this skew dropping.

    Scale/determinism: AUTO-DISPATCHES on corpus size (the
    win_sessionize precedent — the signal is parquet-footer/table-stats
    metadata via catalog.footer_row_count, no scan). At audit scale (<=
    HUBNESS_BRUTE_MAX vectors, which covers every oracle-checked SF)
    it runs the EXACT brute-force all-pairs kNN this oracle verifies;
    beyond that it folds k-occurrence counts from the IVF coarse
    cells' result lists instead (_hubness_ivf_cells — the estimate a
    retrieval deployment observes, value-oracled separately as
    embed_hubness_ivf). Dot products fold in list order (identical
    doubles both engines); ranks tie-break on neighbor_id."""
    t = load(spark, sf_dir)
    # footer/table-stats cardinality, NOT an eager count() job (ADVICE
    # r9): the dispatch signal costs a metadata read per invocation
    n_vec = footer_row_count(spark, sf_dir, "embeddings")
    if n_vec > HUBNESS_BRUTE_MAX:
        _LOG.warning(
            "embed_hubness: %d vectors > HUBNESS_BRUTE_MAX=%d — "
            "dispatching to the IVF estimate, OUTSIDE the regime the "
            "registered brute-force oracle verifies (the index path is "
            "value-oracled separately as embed_hubness_ivf)",
            n_vec,
            HUBNESS_BRUTE_MAX,
        )
        return _hubness_ivf_cells(t, n_vec, [])
    return _hubness_bruteforce(t)


@register("embed_hubness_exact", oracle=_HUBNESS_ORACLE)
def embed_hubness_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embed_hubness's AUDIT PATH, forced at every SF (r12, VERDICT r11
    item 5): the exact brute-force all-pairs kNN k-occurrence report,
    with no size dispatch. This is the ground truth the IVF estimate
    (embed_hubness_ivf) is judged against; registering it separately
    means lowering the main name's HUBNESS_BRUTE_MAX dispatch boundary
    cannot silently retire the exact semantics — the audit stays
    driver-checkable at the small SFs and forceable anywhere.

    Scale: deliberately quadratic (the point of an audit path); run it
    on a sampled slice at corpus scale, never the full table — the
    dispatching embed_hubness exists precisely to make that choice
    automatically."""
    t = load(spark, sf_dir)
    return _hubness_bruteforce(t)


_HUBNESS_IVF_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS cid, v AS cv FROM e
      QUALIFY row_number() OVER (ORDER BY vec_id)
              <= CEIL(SQRT((SELECT COUNT(*) FROM e)))
    ),
    assigned AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, s.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, s.cv)
                          / (sqrt(list_dot_product(e.v, e.v))
                             * sqrt(list_dot_product(s.cv, s.cv))) DESC,
                          s.cid) AS rn
        FROM e CROSS JOIN seeds s) WHERE rn = 1
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cosine
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id <> b.vec_id
    ),
    topk AS (
      SELECT neighbor_id FROM (
        SELECT neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM scored
      ) WHERE rk <= {HUBNESS_K}
    ),
    occ AS (
      SELECT e.vec_id, CAST(COUNT(t.neighbor_id) AS BIGINT) AS k_occ
      FROM e LEFT JOIN topk t ON t.neighbor_id = e.vec_id
      GROUP BY e.vec_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k_occ) AS BIGINT) AS s1,
             CAST(SUM(k_occ * k_occ) AS BIGINT) AS s2,
             CAST(SUM(k_occ * k_occ * k_occ) AS BIGINT) AS s3,
             CAST(MAX(k_occ) AS BIGINT) AS mx,
             CAST(SUM(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_antihubs,
             CAST(SUM(CASE WHEN k_occ > 2 * {HUBNESS_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hubs
      FROM occ
    )
    SELECT n, CAST({HUBNESS_K} AS BIGINT) AS k,
           (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) FROM e) AS nlist,
           mx AS max_k_occ, n_antihubs, n_hubs,
           ROUND((CAST(s3 AS DOUBLE) / n
                  - 3.0 * (s1 / CAST(n AS DOUBLE))
                        * (CAST(s2 AS DOUBLE) / n)
                  + 2.0 * POWER(s1 / CAST(n AS DOUBLE), 3))
                 / POWER(CAST(s2 AS DOUBLE) / n
                         - POWER(s1 / CAST(n AS DOUBLE), 2), 1.5), 4)
             AS k_occurrence_skewness
    FROM m
"""


#: embed_hubness's oracle dispatches EXACTLY like the operator: the
#: brute all-pairs SQL when the corpus fits the audit regime, the IVF
#: result-list fold (minus its nlist diagnostic column) above it. The
#: driver compare hashes by column NAME, so the two branches only need
#: matching names.
#:
#: Cost gating (ADVICE r12): DuckDB is not guaranteed to short-circuit
#: a constant scalar-subquery WHERE over a UNION ALL branch, so the
#: brute branch's own `e` CTE is additionally gated — above the
#: boundary it scans 0 rows and the O(N^2) self-join is over empty
#: input whether or not the planner prunes the branch. The gated brute
#: SQL then emits one spurious n=0 aggregate row (COUNT over empty),
#: which the outer constant WHERE still removes, so VALUES are
#: unchanged on both engines; this is purely an oracle-runtime fix.
_HUBNESS_BRUTE_GATED = _HUBNESS_ORACLE.replace(
    "FROM embeddings\n",
    "FROM embeddings"
    f" WHERE (SELECT COUNT(*) FROM embeddings) <= {HUBNESS_BRUTE_MAX}\n",
    1,
)
assert _HUBNESS_BRUTE_GATED != _HUBNESS_ORACLE  # substitution anchor held

_HUBNESS_DISPATCH_ORACLE = f"""
    SELECT * FROM ({_HUBNESS_BRUTE_GATED})
    WHERE (SELECT COUNT(*) FROM embeddings) <= {HUBNESS_BRUTE_MAX}
    UNION ALL
    SELECT n, k, max_k_occ, n_antihubs, n_hubs, k_occurrence_skewness
    FROM ({_HUBNESS_IVF_ORACLE})
    WHERE (SELECT COUNT(*) FROM embeddings) > {HUBNESS_BRUTE_MAX}
"""

embed_hubness = register("embed_hubness", oracle=_HUBNESS_DISPATCH_ORACLE)(
    embed_hubness
)


@register("embed_hubness_ivf", oracle=_HUBNESS_IVF_ORACLE)
def embed_hubness_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embed_hubness's SCALE PATH, forced and value-oracled at every SF:
    k-occurrence counts folded from the IVF coarse cells' result lists
    (own-cell candidates, nprobe=1) instead of exact all-pairs kNN.
    This is the estimate embed_hubness dispatches to above
    HUBNESS_BRUTE_MAX vectors; registering it separately keeps the
    dispatching operator's exact oracle honest while giving the index
    fold its own end-to-end value check (the win_sessionize pair only
    needed one oracle because salting is exact; an index-restricted
    neighbor list is not, so the two semantics each get one).

    Scale/determinism: quantizer seeds are the first ceil(sqrt(N))
    vec_ids (deterministic, embed_kmeans c0 convention); assignment
    ties break on cid, ranks on neighbor_id; every stage is N^1.5 in
    pair space (see _hubness_ivf_cells). Output adds the nlist column
    so a reader sees which index produced the estimate."""
    t = load(spark, sf_dir)
    # footer/table-stats cardinality, not a count() job (r14 second
    # pass — the embed_hubness dispatch already reads it this way)
    n_vec = footer_row_count(spark, sf_dir, "embeddings")
    import math

    nlist = int(math.ceil(math.sqrt(n_vec)))
    return _hubness_ivf_cells(
        t, n_vec, [F.lit(nlist).cast("bigint").alias("nlist")]
    )


#: Hybrid-fusion parameters: queries (first N doc/vec ids), per-list
#: depth, RRF smoothing constant (the canonical 60 of Cormack et al.
#: 2009), fused cutoff.
RRF_QUERIES, RRF_LIST_K, RRF_C, RRF_TOP = 5, 10, 60, 5

_HYBRID_RRF_ORACLE = f"""
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < {RRF_QUERIES}),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dense AS (
      SELECT query_id, cand_id,
             CAST(FLOOR(1000000.0 / ({RRF_C} + rk)) AS BIGINT) AS term_u,
             1 AS in_d, 0 AS in_s
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.e, c.e)
                          / (sqrt(list_dot_product(q.e, q.e))
                             * sqrt(list_dot_product(c.e, c.e))) DESC,
                          c.vec_id) AS rk
        FROM q JOIN c ON q.vec_id <> c.vec_id
      ) WHERE rk <= {RRF_LIST_K}
    ),
    sh0 AS (
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+2], ' ')
                       FOR i IN range(1, len(words) - 1)]) AS shingle
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
              FROM documents)
      )
    ),
    keep AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) <= {{JACCARD_DF_CAP}}
    ),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shq AS (SELECT * FROM sh WHERE doc_id < {RRF_QUERIES}),
    sp_inter AS (
      SELECT qs.doc_id AS query_id, cs.doc_id AS cand_id,
             CAST(COUNT(*) AS BIGINT) AS nc
      FROM shq qs JOIN sh cs
        ON qs.shingle = cs.shingle AND cs.doc_id <> qs.doc_id
      GROUP BY 1, 2
    ),
    sparse AS (
      SELECT query_id, cand_id,
             CAST(FLOOR(1000000.0 / ({RRF_C} + rk)) AS BIGINT) AS term_u,
             0 AS in_d, 1 AS in_s
      FROM (
        SELECT i.query_id, i.cand_id,
               row_number() OVER (
                 PARTITION BY i.query_id
                 ORDER BY CAST(i.nc AS DOUBLE) / (sq.n + sc.n - i.nc) DESC,
                          i.cand_id) AS rk
        FROM sp_inter i
        JOIN sizes sq ON sq.doc_id = i.query_id
        JOIN sizes sc ON sc.doc_id = i.cand_id
      ) WHERE rk <= {RRF_LIST_K}
    ),
    fused AS (
      SELECT query_id, cand_id,
             CAST(SUM(term_u) AS BIGINT) AS rrf_u,
             MAX(in_d) AS in_d, MAX(in_s) AS in_s
      FROM (SELECT * FROM dense UNION ALL SELECT * FROM sparse)
      GROUP BY query_id, cand_id
    )
    SELECT query_id, cand_id, CAST(fused_rank AS BIGINT) AS fused_rank,
           ROUND(rrf_u / 1e6, 6) AS rrf_score,
           in_d = 1 AS in_dense, in_s = 1 AS in_sparse
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_u DESC, cand_id)
                  AS fused_rank
      FROM fused
    ) WHERE fused_rank <= {RRF_TOP}
    ORDER BY query_id, fused_rank
"""


def _hybrid_rrf_oracle() -> str:
    from .dedup import JACCARD_DF_CAP

    return _HYBRID_RRF_ORACLE.replace(
        "{JACCARD_DF_CAP}", str(JACCARD_DF_CAP)
    )


@register("sim_search_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def sim_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the dense list
    (exact cosine top-{RRF_LIST_K} over embeddings — sim_search_knn's
    plan) and the sparse list (shingle-Jaccard top-{RRF_LIST_K} over
    the df-capped inverted index — dedup_ngram_jaccard's plan,
    query-restricted) fuse by RRF: score = sum over lists of
    1/({RRF_C}+rank) (Cormack et al. 2009 — rank fusion needs no score
    calibration between a cosine in [-1,1] and a Jaccard in [0,1],
    which is why RRF is the production default for BM25+ANN hybrids).
    Flags show which list(s) carried each fused hit — the diagnostic
    for "dense-only misses exact phrasing / sparse-only misses
    paraphrase" tuning.

    Scale/determinism: the query side is {RRF_QUERIES} rows — both
    list builds broadcast it against index structures that already
    exist at scale (ANN index, inverted shingle index with the df cap
    pricing its join); fusion touches only 2 x list_k rows per query.
    Each 1/(c+rank) term FLOORS to integer micro-units, so the fused
    sum is order-free integer arithmetic; every rank and the fused
    rank tie-break on cand_id; ratio orderings compare identical
    doubles in both engines."""
    from .dedup import _capped_shingle_index

    t = load(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = e.where(F.col("vec_id") < RRF_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    cos = cosine_double(F.col("qe"), F.col("e"))
    wd = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "vec_id"
    )
    term_u = F.floor(1_000_000.0 / (RRF_C + F.col("rk"))).cast("bigint")
    dense = (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", cos.alias("cosine"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.row_number().over(wd).alias("rk"),
        )
        .where(F.col("rk") <= RRF_LIST_K)
        .select(
            "query_id",
            "cand_id",
            term_u.alias("term_u"),
            F.lit(1).alias("in_d"),
            F.lit(0).alias("in_s"),
        )
    )
    sh = _capped_shingle_index(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    shq = sh.where(F.col("doc_id") < RRF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "shingle"
    )
    inter = (
        F.broadcast(shq)
        .join(sh, "shingle")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("cand_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    )
    sq = sizes.select(F.col("doc_id").alias("query_id"), F.col("n").alias("nq"))
    sc = sizes.select(F.col("doc_id").alias("cand_id"), F.col("n").alias("ncs"))
    jac = F.col("nc").cast("double") / (
        F.col("nq") + F.col("ncs") - F.col("nc")
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("jaccard").desc(), "cand_id"
    )
    sparse = (
        inter.join(F.broadcast(sq), "query_id")
        .join(F.broadcast(sc), "cand_id")
        .select("query_id", "cand_id", jac.alias("jaccard"))
        .select(
            "query_id", "cand_id", F.row_number().over(ws).alias("rk")
        )
        .where(F.col("rk") <= RRF_LIST_K)
        .select(
            "query_id",
            "cand_id",
            term_u.alias("term_u"),
            F.lit(0).alias("in_d"),
            F.lit(1).alias("in_s"),
        )
    )
    fused = dense.unionAll(sparse).groupBy("query_id", "cand_id").agg(
        F.sum("term_u").cast("bigint").alias("rrf_u"),
        F.max("in_d").alias("in_d"),
        F.max("in_s").alias("in_s"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_u").desc(), "cand_id"
    )
    return (
        fused.select(
            "query_id",
            "cand_id",
            F.row_number().over(wf).alias("fused_rank"),
            "rrf_u",
            "in_d",
            "in_s",
        )
        .where(F.col("fused_rank") <= RRF_TOP)
        .select(
            "query_id",
            "cand_id",
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
            F.round(F.col("rrf_u") / 1e6, 6).alias("rrf_score"),
            (F.col("in_d") == 1).alias("in_dense"),
            (F.col("in_s") == 1).alias("in_sparse"),
        )
        .orderBy("query_id", "fused_rank")
    )


# ---------------------------------------------------------------------------
# r13: HNSW-style navigable-graph ANN (the family census' missing
# graph-traversal member beside LSH / IVF / PQ / IVF-PQ / BQ / SQ).
# ---------------------------------------------------------------------------

#: Layer-0 out-degree of the navigable graph (each vector links to its
#: NSW_DEG nearest same-cell neighbors), beam width, and hop budget.
#: Deterministic stand-ins for HNSW's insertion-order randomness: the
#: coarse layer is one entry node per label cell (min vec_id), the
#: greedy descent picks the entry whose vector is closest to the
#: query, and the layer-0 beam search runs a FIXED number of hops —
#: the fixed-budget contract every iterative op here uses (pagerank /
#: kcore / bfs precedent).
NSW_DEG = 8
NSW_BEAM = 64
NSW_HOPS = 5
#: r14: beam-walk starts — the walk seeds from the TOP-NSW_STARTS
#: layer-1 nodes (sub-cell seeds) by query cosine, the deterministic
#: stand-in for HNSW's upper-layer greedy descent (scoring the whole
#: seed layer is exact and bounded: |seeds| ~ sqrt(N*L), sublinear in
#: corpus). Replaces r13's single per-label entry start, which forced
#: every cross-cell neighbor through a 3-hop entry->seed->member detour
#: and capped recall@10 at 40-90%. 16 starts = the smallest measured
#: setting whose recall@10 floor is >=0.9 at every SF (pure-Python
#: sweep over starts x beam x deg, r14).
NSW_STARTS = 16

_NSW_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS sid, v AS sv FROM (
        SELECT vec_id, v,
               row_number() OVER (ORDER BY vec_id) AS srn,
               COUNT(*) OVER () AS nc
        FROM e
      ) WHERE srn <= CEIL(SQRT(nc))
    ),
    asg AS (
      SELECT vec_id, v, sid FROM (
        SELECT e.vec_id, e.v, s.sid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_COS.format(a="e.v", b="s.sv")} DESC, s.sid)
                 AS rn
        FROM e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    glocal AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_COS.format(a="a.v", b="b.v")} DESC, b.vec_id)
                 AS rn
        FROM asg a JOIN asg b
          ON a.sid = b.sid AND a.vec_id <> b.vec_id
      ) WHERE rn <= {NSW_DEG}
    ),
    g AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM glocal
        UNION ALL SELECT vec_id AS src, sid AS dst FROM asg
        WHERE vec_id <> sid
        UNION ALL SELECT sid AS src, vec_id AS dst FROM asg
        WHERE vec_id <> sid
        UNION ALL SELECT a.sid AS src, b.sid AS dst
        FROM seeds a JOIN seeds b ON a.sid <> b.sid
      )
    ),
    q AS (SELECT vec_id AS query_id, v AS qe FROM e WHERE vec_id < 5),
    start AS (
      SELECT query_id, sid AS node FROM (
        SELECT q.query_id, s.sid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_COS.format(a="q.qe", b="s.sv")} DESC, s.sid)
                 AS rn
        FROM q CROSS JOIN seeds s
      ) WHERE rn <= {NSW_STARTS}
    ),
    v0 AS (
      SELECT s.query_id, s.node,
             {_COS.format(a="q.qe", b="e.v")} AS cosine
      FROM start s JOIN q ON q.query_id = s.query_id
      JOIN e ON e.vec_id = s.node
    ),
    b0 AS (SELECT query_id, node FROM v0),
    x1 AS (
      SELECT DISTINCT b.query_id, g.dst AS node
      FROM b0 b JOIN g ON g.src = b.node
    ),
    s1 AS (
      SELECT x.query_id, x.node,
             {_COS.format(a="q.qe", b="e.v")} AS cosine
      FROM x1 x JOIN q ON q.query_id = x.query_id
      JOIN e ON e.vec_id = x.node
    ),
    v1 AS (
      SELECT query_id, node, MAX(cosine) AS cosine FROM (
        SELECT * FROM v0 UNION ALL SELECT * FROM s1
      ) GROUP BY query_id, node
    ),
    b1 AS (
      SELECT query_id, node FROM (
        SELECT query_id, node,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, node) AS rn
        FROM v1
      ) WHERE rn <= {NSW_BEAM}
    ),
    x2 AS (
      SELECT DISTINCT b.query_id, g.dst AS node
      FROM b1 b JOIN g ON g.src = b.node
    ),
    s2 AS (
      SELECT x.query_id, x.node,
             {_COS.format(a="q.qe", b="e.v")} AS cosine
      FROM x2 x JOIN q ON q.query_id = x.query_id
      JOIN e ON e.vec_id = x.node
    ),
    v2 AS (
      SELECT query_id, node, MAX(cosine) AS cosine FROM (
        SELECT * FROM v1 UNION ALL SELECT * FROM s2
      ) GROUP BY query_id, node
    ),
    b2 AS (
      SELECT query_id, node FROM (
        SELECT query_id, node,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, node) AS rn
        FROM v2
      ) WHERE rn <= {NSW_BEAM}
    ),
    x3 AS (
      SELECT DISTINCT b.query_id, g.dst AS node
      FROM b2 b JOIN g ON g.src = b.node
    ),
    s3 AS (
      SELECT x.query_id, x.node,
             {_COS.format(a="q.qe", b="e.v")} AS cosine
      FROM x3 x JOIN q ON q.query_id = x.query_id
      JOIN e ON e.vec_id = x.node
    ),
    v3 AS (
      SELECT query_id, node, MAX(cosine) AS cosine FROM (
        SELECT * FROM v2 UNION ALL SELECT * FROM s3
      ) GROUP BY query_id, node
    ),
    b3 AS (
      SELECT query_id, node FROM (
        SELECT query_id, node,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, node) AS rn
        FROM v3
      ) WHERE rn <= {NSW_BEAM}
    ),
    x4 AS (
      SELECT DISTINCT b.query_id, g.dst AS node
      FROM b3 b JOIN g ON g.src = b.node
    ),
    s4 AS (
      SELECT x.query_id, x.node,
             {_COS.format(a="q.qe", b="e.v")} AS cosine
      FROM x4 x JOIN q ON q.query_id = x.query_id
      JOIN e ON e.vec_id = x.node
    ),
    v4 AS (
      SELECT query_id, node, MAX(cosine) AS cosine FROM (
        SELECT * FROM v3 UNION ALL SELECT * FROM s4
      ) GROUP BY query_id, node
    ),
    b4 AS (
      SELECT query_id, node FROM (
        SELECT query_id, node,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, node) AS rn
        FROM v4
      ) WHERE rn <= {NSW_BEAM}
    ),
    x5 AS (
      SELECT DISTINCT b.query_id, g.dst AS node
      FROM b4 b JOIN g ON g.src = b.node
    ),
    s5 AS (
      SELECT x.query_id, x.node,
             {_COS.format(a="q.qe", b="e.v")} AS cosine
      FROM x5 x JOIN q ON q.query_id = x.query_id
      JOIN e ON e.vec_id = x.node
    ),
    v5 AS (
      SELECT query_id, node, MAX(cosine) AS cosine FROM (
        SELECT * FROM v4 UNION ALL SELECT * FROM s5
      ) GROUP BY query_id, node
    )
    SELECT query_id, node AS neighbor_id, ROUND(cosine, 4) AS cosine, rk
    FROM (
      SELECT query_id, node, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, node) AS rk
      FROM v5 WHERE node <> query_id
    ) WHERE rk <= 10
"""


def _nsw_seeds(e: DataFrame, n: int | None = None) -> DataFrame:
    """Layer-1 seed set (r14: GLOBAL, label-free): the corpus' first
    ceil(sqrt(N)) vec_ids — (sid, sv). Shared by the graph build
    (cell assignment) and the walk start (the exhaustive layer-1
    descent); |seeds| ~ sqrt(N), sublinear in corpus size. r13's
    per-label seeds made every cell label-confined, and labels only
    partially track cosine geometry on this fixture (BASELINE r13) —
    the structural cause of the 40-90% recall cap. The scalar count
    is one eager corpus-footer read; the top-k itself is a
    distributed TakeOrdered (never a single-partition sort). The
    returned sqrt(N)-row frame is localCheckpoint-materialized: every
    downstream reference (assignment, bridges, walk start) would
    otherwise re-run the corpus TakeOrdered per reference (the r14
    build profile caught exactly this re-execution class at ~13x the
    necessary build cost). Two rejected r14 second-pass variants,
    measured: a bare LocalRelation return (45 rows of 64-double
    literal arrays embedded in the plan made every downstream
    optimizer pass crawl — 2.5 s -> 20 s graph build) and a
    collect + createDataFrame + checkpoint (the pickled-RDD
    parallelize path cost ~7 s cold). Pass `n` (a parquet-footer /
    table-stats count) to skip the count job — the one change that
    stuck. Carries snrm = sqrt(sv.sv) so per-pair cosines multiply a
    precomputed norm instead of re-folding it — same doubles, same
    product, bit-identical values."""
    k = int(math.ceil(math.sqrt(n if n is not None else e.count())))
    return (
        e.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("sid"),
            F.col("v").alias("sv"),
            F.sqrt(
                dot_double(F.col("v"), F.col("v"))
            ).alias("snrm"),
        )
        .localCheckpoint()
    )


def _nsw_graph(t, seeds: DataFrame | None = None) -> DataFrame:
    """Layer-0 navigable graph, built CELL-LOCAL so the pair space is
    ~N^1.5, never cell-quadratic (the r13 16x-corpus probe measured a
    label-cell all-pairs build at 22.8x wall for 16x data — this
    IVF-cell build keeps the growth in the embed_hubness_ivf class).
    Four deterministic edge sets, unioned:

      1. local:    each vector's NSW_DEG nearest neighbors among
         vectors sharing its cell — cells are GLOBAL IVF cells whose
         seeds are the corpus' first ceil(sqrt(N)) vec_ids (r14;
         label-free), assignment by cosine with sid tiebreaks;
      2. uplink:   every vector -> its cell seed (a path INTO the
         seed layer from anywhere);
      3. downlink: seed -> each member of its cell (r14; without it a
         walk reaching a foreign seed entered the cell only through
         the seed's own NSW_DEG local edges — members far from their
         seed were unreachable and recall@10 capped at 40-90%);
      4. bridge:   seed <-> seed, all pairs (the HNSW long-range
         layer; sqrt(N)^2 = N edges, linear).

    Pair space: assignment N x sqrt(N) + local sum(cell^2) ~ N^1.5;
    out-degree <= NSW_DEG + 1 for members, ~cell size + sqrt(N) for
    seeds — all bounded by construction.

    Build plan (r14 profile-driven, value-identical to the naive
    spelling): (a) per-vector norms are folded ONCE and multiplied
    per pair — sqrt(dot(a,a))*sqrt(dot(b,b)) over the same doubles
    either way, so cosines are bit-identical with 3x fewer
    interpreted-HOF folds; (b) the cell assignment is a map-side
    max_by over (cs, -sid) — the exact argmax the old
    row_number(ORDER BY cs DESC, sid) window picked, but partial
    aggregation means the N x sqrt(N) pair rows combine per-partition
    instead of shuffling (and never carry the 512-byte vector); (c)
    asg is localCheckpoint-materialized because FOUR edge sets read it
    — unmaterialized, Spark re-executes the whole assignment per
    reference (the 13x build blowup the r14 16x probe caught); (d)
    the corpus frame repartitions to the session's shuffle
    parallelism before the assignment crossJoin — the fixture is one
    small parquet split, so without it the whole N x sqrt(N) fold ran
    on 2 of 32 cores (at real scale the scan is already wide; the
    round-robin repartition is value-neutral here because everything
    downstream is keyed aggregation). An unrolled codegen dot product
    was tried and REJECTED: 64-term expression trees ballooned per-
    stage planning/compile time far past the interpreted fold's cost
    (45 s vs 8 s warm at sf0.1 end to end).
    """
    import numpy as np

    spark = t.embeddings.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # r14 optimization round, second pass (guide §2.4 — derive the
    # partition count from input size, not a constant): ~256 vectors
    # per task keeps the kernel tasks meaningfully sized; at corpus
    # scale the min() hands back the session parallelism. The count is
    # a parquet-footer read (table stats at 100 TB), not a job.
    n_rows = footer_row_count(spark, t._sf_dir, "embeddings")
    npart = max(1, min(par, -(-n_rows // 256)))
    e0 = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    e = e0.repartition(npart)
    if seeds is None:
        seeds = _nsw_seeds(e0, n=n_rows)
    # r14 optimization round, second pass (guide §4.2 — vectorize the
    # Python/codegen boundary): the N x sqrt(N) assignment fold and the
    # cell-local kNN fold move from interpreted HOF expression trees to
    # the shared NumPy cosine kernel (dedup._PAIR_TILE), bit-identical
    # to the SQL fold the DuckDB oracle replays (re-verified against the
    # oracle at all 3 SFs and the pure-Python planted model). Collecting
    # the seed layer to the driver is the same scale class as the
    # F.broadcast(seeds) it replaces: sqrt(N) rows, sublinear by
    # construction.
    seed_rows = sorted(
        seeds.select("sid", "sv", "snrm").collect(), key=lambda r: r.sid
    )
    sids_np = np.array([r.sid for r in seed_rows], dtype=np.int64)
    sv_np = np.array([r.sv for r in seed_rows], dtype=np.float64)
    snrm_np = np.array([r.snrm for r in seed_rows], dtype=np.float64)
    tile = dedup._PAIR_TILE

    def _assign(batches):
        import pyarrow as pa

        out_schema = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("v", pa.list_(pa.float64())),
                ("nrm", pa.float64()),
                ("sid", pa.int64()),
            ]
        )
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vcol = batch.column("v")
            flat = vcol.flatten().to_numpy(zero_copy_only=False)
            V = flat.reshape(n, -1)
            nrm = row_norms(V)
            # first-max argmax == max_by((cs, -sid)) with sid ascending
            _, best = _argmax_ids_tiled(V, sv_np, nrm, snrm_np, sids_np, tile)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    vcol,
                    pa.array(nrm, type=pa.float64()),
                    pa.array(best, type=pa.int64()),
                ],
                schema=out_schema,
            )

    asg = e.mapInArrow(
        _assign, "vec_id long, v array<double>, nrm double, sid long"
    ).localCheckpoint()

    def _cell_knn(pdf):
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": []}).astype("int64")
        ids = pdf["vec_id"].to_numpy()
        V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        nrm = pdf["nrm"].to_numpy()
        # row_number() over (ORDER BY c DESC, dst ASC), self excluded
        src, dst = [], []
        k = min(NSW_DEG, n - 1)
        for i, row in enumerate(_topk_ids_tiled(ids, V, nrm, k, tile)):
            src.extend([ids[i]] * len(row))
            dst.extend(row)
        return pd.DataFrame({"src": src, "dst": dst}).astype("int64")

    glocal = asg.groupBy("sid").applyInPandas(_cell_knn, "src long, dst long")
    uplink = asg.where(F.col("vec_id") != F.col("sid")).select(
        F.col("vec_id").alias("src"), F.col("sid").alias("dst")
    )
    downlink = asg.where(F.col("vec_id") != F.col("sid")).select(
        F.col("sid").alias("src"), F.col("vec_id").alias("dst")
    )
    sa, sb = seeds.alias("sa"), seeds.alias("sb")
    bridge = sa.join(
        sb, F.col("sa.sid") != F.col("sb.sid")
    ).select(F.col("sa.sid").alias("src"), F.col("sb.sid").alias("dst"))
    # r14 optimization round: dedup AFTER the src repartition instead of
    # .distinct() before it — hash-partitioning on src already
    # co-locates every (src, dst) group, so the caller's layout shuffle
    # and the dedup collapse into ONE exchange (dropDuplicates here is
    # the same exact dedup the old distinct performed).
    return (
        glocal.unionByName(uplink)
        .unionByName(downlink)
        .unionByName(bridge)
        .repartition("src")
        .dropDuplicates(["src", "dst"])
    )


@register("sim_search_nsw", oracle=_NSW_ORACLE)
def sim_search_nsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW-style navigable-graph ANN (Malkov & Yashunin 2016, made
    deterministic): a global sqrt(N)-seed layer on top (r14); below it
    the two-level navigable graph of _nsw_graph — cell-local kNN edges
    plus up/down links and seed<->seed bridges (the HNSW long-range
    layer) — searched by an exhaustive layer-1 descent (top-NSW_STARTS
    seeds by query cosine) then a NSW_BEAM-wide, NSW_HOPS-hop beam
    walk whose FINAL top-10 ranks every node the walk visited.
    Completes the ANN family census (LSH / IVF / PQ / IVF-PQ / BQ / SQ
    all exist): graph ANN is the recall/latency frontier in practice,
    and this is its oracle-checkable contract — insertion-order
    randomness replaced by first-vec_id seeds and fixed budgets, so
    DuckDB replays the identical walk. Recall@10 >= 0.9 per query at
    every SF (the r14 floor, pinned by test + sim_search_nsw_recall;
    r13's label-confined cells capped it at 40-90%).

    Scale/determinism: the graph builds cell-local (~N^1.5 pair space
    — see _nsw_graph; the label-cell all-pairs first cut measured
    22.8x wall on the 16x-corpus probe and was replaced in r13); the
    walk itself
    touches beam x degree rows per hop per query, independent of
    corpus size, and only answer-sized frames (frontier, query) are
    ever broadcast — the corpus-sized edge graph is hash-partitioned
    on src once and probed in place every hop (r14; the r13 cut
    broadcast g itself, a broadcast-OOM at 100x corpus); every
    frontier is deduped by (query, node) and re-ranked with vec_id
    tiebreaks, every cosine recomputed from the same doubles, so both
    engines visit the same set. Fixed hop budget = the pagerank/kcore
    unrolled-iteration doctrine.

    r15 (VERDICT r14 item 6): the walk's BOOKKEEPING moves to the
    driver — the r14 loop ran ~3 Spark jobs per hop (broadcast build +
    merge/checkpoint + the next window) over frames that are
    answer-sized BY CONSTRUCTION: visited <= queries x (NSW_STARTS +
    NSW_HOPS x NSW_BEAM x deg) rows of three scalars, a CONSTANT
    independent of corpus size (measured 3 667 rows at sf0.1), so the
    walk was pure job-scheduling latency. Each hop is now ONE job: the
    tiny beam ships down as a literal frame, the corpus-sized g and e
    are probed in place (still never broadcast, still never
    collected), and the scored expansion — beam x deg rows — comes
    back to merge into a driver dict. Max-merge, beam ranking
    (cosine DESC, node ASC) and the final top-10 replay the exact
    groupBy-max / row_number rules on the exact same doubles
    (collect round-trips IEEE-754 binary64 losslessly), re-verified
    against the full SQL-replay oracle at 3 SFs. This is the
    guide-§5-sanctioned driver role: answer-sized decisions on the
    driver, corpus-sized work on the executors — the collect the r13
    seed layer already established, not a data-sized pull."""
    t = load(spark, sf_dir)
    # The edge graph is corpus-sized: hash-partition it on src ONCE and
    # reuse that layout across every hop (the graph_hits recipe —
    # VERDICT r13 item 1). It is NEVER broadcast: each hop broadcasts
    # the tiny frontier (<= queries x NSW_BEAM rows by construction)
    # into g instead, so the per-hop expansion is a broadcast-hash join
    # probing g's partitions executor-locally.
    # r14 optimization round: ONE seed layer feeds both the graph build
    # and the walk start (each _nsw_seeds call is a TakeOrdered —
    # building it twice was ~1 s of pure re-execution); the graph
    # dedups inside its src repartition (see _nsw_graph) so layout +
    # distinct cost one exchange. The footer count replaces the count
    # job (table stats at 100 TB).
    seeds = _nsw_seeds(
        t.embeddings.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        ),
        n=footer_row_count(spark, sf_dir, "embeddings"),
    )
    g = _nsw_graph(t, seeds=seeds).localCheckpoint()
    e = t.embeddings.select(
        F.col("vec_id").alias("node"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    # qn: the query norm folds ONCE per query row (5 rows) instead of
    # once per scored pair — same doubles, same product, bit-identical
    # cosines (the _nsw_graph norm-carry convention).
    q = t.embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    ).withColumn("qn", F.sqrt(dot_double(F.col("qe"), F.col("qe"))))

    import numpy as np

    # Start scores driver-side from the ALREADY-materialized sqrt(N)
    # seed layer + the 5 query rows — the exhaustive layer-1 descent
    # was a crossJoin + window job over the same numbers, scored by the
    # shared fold (dedup._PAIR_TILE); qn/snrm are the Spark-folded
    # doubles themselves.
    seed_rows = sorted(
        seeds.select("sid", "sv", "snrm").collect(), key=lambda r: r.sid
    )
    sids = np.array([r.sid for r in seed_rows], dtype=np.int64)
    SV = np.array([r.sv for r in seed_rows], dtype=np.float64)
    snrm = np.array([r.snrm for r in seed_rows], dtype=np.float64)
    q_rows = sorted(q.collect(), key=lambda r: r.query_id)
    Q = np.array([r.qe for r in q_rows], dtype=np.float64)
    qn = np.array([r.qn for r in q_rows], dtype=np.float64)
    CS = _dot_fold(Q, SV) / (qn[:, None] * snrm[None, :])
    visited: dict[tuple[int, int], float] = {}
    for r, cs in zip(q_rows, CS):
        # row_number() over (cs DESC, sid) <= NSW_STARTS
        top = np.lexsort((sids, -cs))[:NSW_STARTS]
        for i in top:
            visited[(r.query_id, int(sids[i]))] = float(cs[i])

    def _beam_df() -> DataFrame:
        # top-NSW_BEAM per query by (cosine DESC, node ASC) — the exact
        # w_beam row_number rule, on the exact collected doubles. The
        # beam ships as a VALUES LocalRelation (two int columns, <=
        # queries x NSW_BEAM rows): its broadcast builds driver-side
        # with NO job — a parallelized frame would cost a 32-task job
        # per hop just to build the broadcast (measured; the r14
        # LocalRelation warning was about 64-double ARRAY literals
        # bloating optimizer passes, not int pairs).
        per_q: dict[int, list[tuple[float, int]]] = {}
        for (qid, node), cos in visited.items():
            per_q.setdefault(qid, []).append((cos, node))
        rows = []
        for qid, lst in per_q.items():
            lst.sort(key=lambda t: (-t[0], t[1]))
            rows.extend((qid, node) for _, node in lst[:NSW_BEAM])
        vals = ", ".join(f"({qid}L, {node}L)" for qid, node in rows)
        return spark.sql(f"SELECT * FROM VALUES {vals} AS t(query_id, node)")

    for _ in range(NSW_HOPS):
        # ONE job per hop: expand the literal beam through the
        # partitioned g, look the expansion's vectors up in e (both
        # corpus-sized frames probed in place, never broadcast, never
        # collected), and pull back the beam x deg scored rows.
        # Duplicate (query, node) expansions score to identical
        # doubles; the dict max-merge is the old groupBy-max.
        beam = _beam_df()
        expanded = g.join(F.broadcast(beam), beam.node == g.src).select(
            "query_id", F.col("dst").alias("node")
        )
        cos = dot_double(F.col("qe"), F.col("nv")) / (
            F.col("qn") * F.sqrt(dot_double(F.col("nv"), F.col("nv")))
        )
        scored = (
            e.join(F.broadcast(expanded), "node")
            .join(F.broadcast(q), "query_id")
            .select("query_id", "node", cos.alias("cosine"))
        ).collect()
        for r in scored:
            k = (r.query_id, r.node)
            c = visited.get(k)
            if c is None or r.cosine > c:
                visited[k] = r.cosine
    # final top-10 per query over everything visited — row_number()
    # over (cosine DESC, node ASC), self excluded; ROUND stays a Spark
    # expression so both engines round the identical doubles.
    per_q = {}
    for (qid, node), cos in visited.items():
        if node != qid:
            per_q.setdefault(qid, []).append((cos, node))
    rows = []
    for qid, lst in per_q.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        rows.extend(
            (qid, node, cos, rk)
            for rk, (cos, node) in enumerate(lst[:10], start=1)
        )
    # answer frame as a VALUES LocalRelation (no parallelize job);
    # repr() is the shortest exact round-trip of a binary64 and the
    # CAST parse is correctly rounded, so ROUND sees the identical
    # doubles the walk scored.
    vals = ", ".join(
        f"({qid}L, {node}L, CAST('{cos!r}' AS DOUBLE), {rk})"
        for qid, node, cos, rk in rows
    )
    return spark.sql(
        "SELECT query_id, neighbor_id, ROUND(cosine, 4) AS cosine, rk "
        f"FROM VALUES {vals} AS t(query_id, neighbor_id, cosine, rk)"
    )
