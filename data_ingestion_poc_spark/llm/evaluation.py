"""Approximation-quality evaluation: recall of the LSH-based approximate
operators against their exact counterparts, computed inside the engine.

The reference ships no approximate operators (its dedup is exact metadata
equality, child.py:174-191), so once the engine adds MinHash LSH and ANN
(SURVEY.md section 2 B10) it also needs the measurement loop that tells an
operator whether the approximation is still good enough: recall is THE
acceptance metric for LSH band tuning and ANN bucket sizing. Both queries
below are self-contained joins of two already-registered operators, so they
stay honest as those operators evolve.

Scale note: both evaluations join candidate sets (output of the approximate
op) against exact sets (output of the exact op) — the joins are on pair/row
keys, orders of magnitude smaller than the corpus itself. The expensive
parts are the underlying operators, not the comparison. At 100 TB you run
the exact side on a SAMPLE (e.g. 1% of docs) and extrapolate; the query
shape is identical, so the sampled variant is a `.sample()` away.

Rows-only checks (oracle=None): the LSH sides hash with xxhash64, which
DuckDB cannot replicate. Determinism is pinned in tests instead — seeded
hashes mean recall is a constant for a given dataset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fanout_repartition, load
from ..registry import register
from .dedup import dedup_minhash, dot_double, sq_l2
from .similarity import sim_search_ann, sim_search_ann_multiprobe, sim_search_knn


def _minhash_recall_oracle(sf_dir: str) -> str | None:
    """Two-sided oracle: the exact ground truth replays in SQL (the
    dedup_ngram_jaccard oracle) and the LSH candidate side is the golden
    pair set from the pure-Python pipeline replay (dedup.py
    minhash_golden_pairs) — so even the approximation-quality REPORT gets
    a full value-hash check, not rows-only."""
    from .dedup import _JACCARD_ORACLE, minhash_golden_pairs

    pairs = minhash_golden_pairs(sf_dir)
    if not pairs:
        return None
    vals = ",\n      ".join(f"({a}, {b})" for a, b, _ in pairs)
    return f"""
    WITH exact AS (SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE}) x),
    lsh AS (SELECT * FROM (VALUES {vals}) t(doc_a, doc_b))
    SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs,
           CAST(COUNT(l.doc_a) AS BIGINT) AS lsh_pairs,
           CAST(COUNT(*) - COUNT(l.doc_a) AS BIGINT) AS missed_pairs,
           ROUND(COUNT(l.doc_a) * 100.0 / COUNT(*), 2) AS recall_pct
    FROM exact e LEFT JOIN lsh l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
    """


@register("dedup_minhash_recall", oracle=_minhash_recall_oracle)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of banded MinHash LSH vs the exact shingle-Jaccard dedup.

    Ground truth = dedup_ngram_jaccard (exact inverted-index Jaccard >=
    0.30). Candidate set = dedup_minhash (32 hashes, 8x4 bands, exact
    verify of collided pairs). Because the LSH pipeline post-verifies with
    the same threshold, its pairs are a subset of ground truth; recall is
    therefore |lsh| / |exact| and precision is 1.0 by construction — the
    interesting number is how many true pairs the bands FAILED to collide
    (the S-curve miss mass below s~0.5, see dedup.py band-probability
    note). One output row: counts plus recall in percent.
    """
    from .dedup import jaccard_pairs_checkpointed

    exact = jaccard_pairs_checkpointed(spark, sf_dir).select("doc_a", "doc_b")
    lsh = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    # Left join ground truth -> candidate set; a match marks a recalled pair.
    hit = exact.join(
        lsh.withColumn("hit", F.lit(1)), on=["doc_a", "doc_b"], how="left"
    )
    return hit.agg(
        F.count(F.lit(1)).alias("exact_pairs"),
        F.count("hit").alias("lsh_pairs"),
        (F.count(F.lit(1)) - F.count("hit")).alias("missed_pairs"),
        F.round(F.count("hit") * 100.0 / F.count(F.lit(1)), 2).alias("recall_pct"),
    )



def _sim_recall_oracle() -> str:
    """Both sides of the ANN recall are SQL-expressible (brute-force knn +
    the sign-literal LSH pipelines), so the recall report itself carries a
    full two-sided oracle."""
    from .similarity import _ann_oracle

    return f"""
    WITH exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(q.e, c.e)
                   / (sqrt(list_dot_product(q.e, q.e))
                    * sqrt(list_dot_product(c.e, c.e))) DESC,
                 c.vec_id) AS rk
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 5) q
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings) c ON q.vec_id <> c.vec_id
      ) WHERE rk <= 10
    ),
    ann1 AS (SELECT query_id, neighbor_id FROM ({_ann_oracle(False)}) x1),
    ann2 AS (SELECT query_id, neighbor_id FROM ({_ann_oracle(True)}) x2),
    r1 AS (
      SELECT 'single_probe' AS variant, e.query_id,
             COUNT(*) AS exact_k, COUNT(a.neighbor_id) AS ann_hits,
             ROUND(COUNT(a.neighbor_id) * 100.0 / COUNT(*), 2) AS recall_pct
      FROM exact e LEFT JOIN ann1 a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    ),
    r2 AS (
      SELECT 'multi_probe' AS variant, e.query_id,
             COUNT(*) AS exact_k, COUNT(a.neighbor_id) AS ann_hits,
             ROUND(COUNT(a.neighbor_id) * 100.0 / COUNT(*), 2) AS recall_pct
      FROM exact e LEFT JOIN ann2 a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT variant, query_id, exact_k, ann_hits, recall_pct FROM r1
    UNION ALL
    SELECT variant, query_id, exact_k, ann_hits, recall_pct FROM r2
    ORDER BY variant, query_id
"""


@register("sim_search_recall", oracle=_sim_recall_oracle())
def sim_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the random-hyperplane ANN variants vs brute-force
    cosine top-10.

    Per (variant, query): |ann_top10 ∩ exact_top10| / |exact_top10| — the
    standard ANN quality gate (FAISS/ScaNN benchmarks report exactly this
    number). Two variants side by side: `single_probe` compares only
    within its own 16-bit hyperplane bucket (misses are neighbors that
    landed across any hyperplane), `multi_probe` also probes the 16
    Hamming-distance-1 buckets. The delta between the two rows per query
    is exactly what the 17x probe fan-out buys.
    """
    exact = sim_search_knn(spark, sf_dir).select("query_id", "neighbor_id")
    variants = [
        ("single_probe", sim_search_ann(spark, sf_dir)),
        ("multi_probe", sim_search_ann_multiprobe(spark, sf_dir)),
    ]
    reports = []
    for name, ann in variants:
        hit = exact.join(
            ann.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
            on=["query_id", "neighbor_id"],
            how="left",
        )
        reports.append(
            hit.groupBy("query_id").agg(
                F.lit(name).alias("variant"),
                F.count(F.lit(1)).alias("exact_k"),
                F.count("hit").alias("ann_hits"),
                F.round(F.count("hit") * 100.0 / F.count(F.lit(1)), 2).alias(
                    "recall_pct"
                ),
            )
        )
    out = reports[0].unionByName(reports[1])
    return out.select(
        "variant", "query_id", "exact_k", "ann_hits", "recall_pct"
    ).orderBy("variant", "query_id")


#: Deterministic anchor sample for the quadratic ground-truth side:
#: only pairs whose SMALLER id is divisible by this modulus are scored.
#: A uniform 1/8 pair sample estimates the same recall (the module
#: docstring's "sample at scale" policy made concrete) and cuts the
#: all-pairs cosine work 8x.
EMB_RECALL_ANCHOR_MOD = 8


def _embedding_recall_oracle() -> str:
    from .dedup import _cosine_dup_oracle

    return f"""
    WITH lsh0 AS ({_cosine_dup_oracle()}),
    lsh AS (SELECT * FROM lsh0 WHERE vec_a % {EMB_RECALL_ANCHOR_MOD} = 0),
    exact AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
            WHERE vec_id % {EMB_RECALL_ANCHOR_MOD} = 0) a
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) b
        ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.emb, b.emb)
            / (sqrt(list_dot_product(a.emb, a.emb))
             * sqrt(list_dot_product(b.emb, b.emb))) >= 0.30
    )
    SELECT (SELECT COUNT(*) FROM exact) AS exact_pairs,
           (SELECT COUNT(*) FROM lsh) AS lsh_pairs,
           (SELECT COUNT(*) FROM exact) - (SELECT COUNT(*) FROM lsh)
             AS missed_pairs,
           ROUND((SELECT COUNT(*) FROM lsh) * 100.0
                 / (SELECT COUNT(*) FROM exact), 2) AS recall_pct
"""


@register("dedup_embedding_recall", oracle=_embedding_recall_oracle())
def dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of banded sign-LSH semantic dedup vs brute-force cosine.

    Ground truth = pairs with cosine >= 0.30 whose smaller id falls in
    the deterministic 1/EMB_RECALL_ANCHOR_MOD anchor sample — the
    quadratic side runs on a uniform pair sample (the at-scale policy,
    now structural rather than aspirational: 8x less all-pairs work,
    same recall estimand). Candidate set = dedup_embedding_cosine
    filtered to the same anchors; its post-verify threshold matches, so
    its pairs are a subset and recall is |lsh| / |exact|. Unlike the xxhash64-based recalls above, BOTH sides
    are SQL-expressible (the hyperplane signs are plan literals), so this
    one carries a full DuckDB oracle replaying pipeline AND ground truth.
    """
    import numpy as np

    from .dedup import dedup_embedding_cosine

    t = load(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding")
    a = emb.where(
        F.col("vec_id") % EMB_RECALL_ANCHOR_MOD == 0
    ).select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    # r14 optimization round: the STREAMED pair side repartitions to the
    # session parallelism — the fixture is one parquet split, so the
    # anchors x corpus fold stream otherwise evaluates inside the single
    # scan task (1 of 32 cores; the r13 --all record read 10.3 s here).
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    b = fanout_repartition(emb, par).select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    # cosine via ONE fold per pair: per-vector inverse norms are computed
    # once per row before the pair join (higher-order array functions are
    # interpreted, not codegen'd - three 64-element folds per pair made
    # the old all-pairs plan ~25x slower than this).
    # r14 second pass (guide §4.2): the anchors x corpus fold stream is
    # a NumPy kernel — anchors (with their SQL-folded inverse norms)
    # ride the closure, the same scale class as the F.broadcast(a) it
    # replaces; dots come from the shared fold (dedup._PAIR_TILE) and
    # cos spells ((dot*inva)*invb) in the same order, so the >= 0.30 cut
    # sees bit-identical doubles (full-pipeline DuckDB oracle re-verified
    # at 3 SFs).
    a = a.withColumn("inva", 1.0 / F.sqrt(dot_double(F.col("ea"), F.col("ea"))))
    a_rows = a.collect()
    # r15 (r14 ADVICE): the anchor matrix rides a TorrentBroadcast, not
    # the function closure — anchors scale linearly with the corpus, and
    # a closure is re-pickled per TASK while a broadcast ships once per
    # executor. Same arrays, same arithmetic.
    anchors_bc = spark.sparkContext.broadcast(
        (
            np.array([r.vec_a for r in a_rows], dtype=np.int64),
            np.array([r.ea for r in a_rows], dtype=np.float64),
            np.array([r.inva for r in a_rows], dtype=np.float64),
        )
    )
    del a_rows
    from .dedup import _PAIR_TILE, _dot_blocks, _threshold_cells, row_norms

    tile = _PAIR_TILE

    def _exact_pairs(batches):
        import pyarrow as pa

        a_ids, A, a_inv = anchors_bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            flat = (
                batch.column("eb")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
            )
            V = flat.reshape(n, -1)
            invb = 1.0 / row_norms(V)
            ids_b = batch.column("vec_b").to_numpy()
            # anchor axis walked in tiles; earlier anchors only, and this
            # site's own normalisation (acc * inva) * invb
            blocks = (
                (
                    si,
                    sj,
                    np.where(
                        a_ids[None, sj] < ids_b[si, None],
                        (acc * a_inv[None, sj]) * invb[si, None],
                        -np.inf,
                    ),
                )
                for si, sj, acc in _dot_blocks(V, A, tile)
            )
            for bi, ai, _ in _threshold_cells(blocks, 0.30):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(a_ids[ai], type=pa.int64()),
                        pa.array(ids_b[bi], type=pa.int64()),
                    ],
                    names=["vec_a", "vec_b"],
                )

    exact = b.mapInArrow(_exact_pairs, "vec_a long, vec_b long")
    lsh = (
        dedup_embedding_cosine(spark, sf_dir)
        .where(F.col("vec_a") % EMB_RECALL_ANCHOR_MOD == 0)
        .select("vec_a", "vec_b")
    )
    hit = exact.join(
        lsh.withColumn("hit", F.lit(1)), on=["vec_a", "vec_b"], how="left"
    )
    return hit.agg(
        F.count(F.lit(1)).alias("exact_pairs"),
        F.count("hit").alias("lsh_pairs"),
        (F.count(F.lit(1)) - F.count("hit")).alias("missed_pairs"),
        F.round(F.count("hit") * 100.0 / F.count(F.lit(1)), 2).alias("recall_pct"),
    )


def _jaccard_recall_oracle() -> str:
    """Both sides are plain SQL (capped and uncapped inverted-index
    Jaccard), so the cap-quality report carries a full value oracle."""
    from .dedup import JACCARD_DF_CAP

    return f"""
    WITH sh0 AS (
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
      HAVING COUNT(*) <= {JACCARD_DF_CAP}
    ),
    shc AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
    ex_sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh0 GROUP BY doc_id),
    ex_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh0 a JOIN sh0 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
      SELECT doc_a, doc_b FROM ex_inter
      JOIN ex_sizes sa ON sa.doc_id = doc_a
      JOIN ex_sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.30
    ),
    c_sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    c_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    capped AS (
      SELECT doc_a, doc_b FROM c_inter
      JOIN c_sizes sa ON sa.doc_id = doc_a
      JOIN c_sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.30
    ),
    j AS (
      SELECT e.doc_a AS ea, c.doc_a AS ca
      FROM exact e FULL OUTER JOIN capped c
        ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    )
    SELECT CAST(COUNT(ea) AS BIGINT) AS exact_pairs,
           CAST(COUNT(ca) AS BIGINT) AS capped_pairs,
           CAST(SUM(CASE WHEN ea IS NOT NULL AND ca IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           ROUND(SUM(CASE WHEN ea IS NOT NULL AND ca IS NOT NULL
                          THEN 1 ELSE 0 END) * 100.0 / COUNT(ea), 2)
             AS recall_pct,
           ROUND(SUM(CASE WHEN ea IS NOT NULL AND ca IS NOT NULL
                          THEN 1 ELSE 0 END) * 100.0 / COUNT(ca), 2)
             AS precision_pct
    FROM j
    """


@register("dedup_jaccard_recall", oracle=_jaccard_recall_oracle())
def dedup_jaccard_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND precision of the df-capped Jaccard dedup vs the
    uncapped exact pair set.

    The r4 docs100 probe (BASELINE.md) showed the JACCARD_DF_CAP is
    two-sided: it bounds the inverted-index self-join quadratically AND
    throttles pairs whose overlap lives only in hot (df > cap) shingles —
    pairs can be missed (recall < 100) and, because capping shrinks both
    doc sizes and intersections, borderline pairs can tip over the 0.30
    threshold in either direction (precision < 100 is possible too).
    This query measures both on the live corpus: one row with pair
    counts, hits, recall_pct and precision_pct. At the test fixtures'
    max df (~25 << 256) capped == uncapped, so the golden expectation is
    100/100 — the regression this guards is an accidental cap tightening
    or shingle-universe drift. At 100 TB the uncapped ground-truth side
    runs on a doc SAMPLE (see module scale note); the report shape is
    unchanged."""
    from .dedup import (
        _capped_shingle_index,
        jaccard_pairs_from_index,
        uncapped_shingle_index,
    )

    exact = jaccard_pairs_from_index(
        uncapped_shingle_index(spark, sf_dir)
    ).select("doc_a", "doc_b", F.lit(1).alias("e"))
    capped = jaccard_pairs_from_index(
        _capped_shingle_index(spark, sf_dir)
    ).select("doc_a", "doc_b", F.lit(1).alias("c"))
    j = exact.join(capped, ["doc_a", "doc_b"], "full_outer")
    both = F.when(F.col("e").isNotNull() & F.col("c").isNotNull(), 1).otherwise(0)
    return j.agg(
        F.count("e").alias("exact_pairs"),
        F.count("c").alias("capped_pairs"),
        F.sum(both).alias("hits"),
        F.round(F.sum(both) * 100.0 / F.count("e"), 2).alias("recall_pct"),
        F.round(F.sum(both) * 100.0 / F.count("c"), 2).alias("precision_pct"),
    )


def _pq_recall_oracle() -> str:
    """PQ is deterministic end to end (fixed codebook, bit-reproducible
    float folds), so its recall report gets a full two-sided oracle too:
    the exact-knn CTE and the whole PQ pipeline replayed inline."""
    from .similarity import _PQ_ORACLE

    return f"""
    WITH exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_distance(q.e, c.e), c.vec_id) AS rk
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 5) q
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings) c ON q.vec_id <> c.vec_id
      ) WHERE rk <= 10
    ),
    pq AS (SELECT query_id, neighbor_id FROM ({_PQ_ORACLE}) p)
    SELECT e.query_id,
           COUNT(*) AS exact_k, COUNT(a.neighbor_id) AS pq_hits,
           ROUND(COUNT(a.neighbor_id) * 100.0 / COUNT(*), 2) AS recall_pct
    FROM exact e LEFT JOIN pq a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


def _top10_panel(spark: SparkSession, sf_dir: str, order) -> DataFrame:
    """(query_id, neighbor_id) of the 10 corpus vectors ranked first by
    `order` (then vec_id) for each of the 5 query vectors (vec_id < 5),
    excluding the query itself. `order` reads the query vector as "qe"
    and the corpus vector as "e", both array<double>. The 5 query
    vectors broadcast against one corpus scan, never a self-join."""
    from pyspark.sql.window import Window

    t = load(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    pairs = emb.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(order, "vec_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )


def _recall_at_10(exact: DataFrame, approx: DataFrame, hits: str) -> DataFrame:
    """Per-query recall@10 report of `approx` against the exact top-10
    `exact`, both keyed (query_id, neighbor_id): exact_k, `hits` (exact
    neighbors the approximate side also returned) and recall_pct,
    ordered by query_id."""
    j = exact.join(
        approx.select("query_id", "neighbor_id", F.lit(1).alias("hit")),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("exact_k"),
            F.count("hit").alias(hits),
            F.round(F.count("hit") * 100.0 / F.count(F.lit(1)), 2).alias(
                "recall_pct"
            ),
        )
        .orderBy("query_id")
    )


@register("sim_search_pq_recall", oracle=_pq_recall_oracle())
def sim_search_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of product-quantization ANN vs exact EUCLIDEAN top-10
    (PQ approximates squared L2, so the ground truth here is
    list_distance order, not the cosine order the LSH eval uses). The
    per-query recall quantifies what the ~100x compression costs — the
    number a 100 TB deployment watches when tuning PQ_M/PQ_K."""
    from .similarity import sim_search_pq

    # Pairwise (a-b)^2 fold, NOT the expanded q.q - 2q.e + e.e form: the
    # expansion can cancel to a tiny NEGATIVE value for near-identical
    # vectors (sqrt of which is NaN, sorted opposite to the oracle), and
    # even after dropping the sqrt its rounding differs from the
    # oracle's pairwise list_distance, so near-tied neighbors straddling
    # the rank-10 cutoff could rank differently cross-engine. The fold
    # accumulates the same nonnegative per-element terms DuckDB does —
    # identical rounding, monotone with the sqrt (the ADVICE r4 lesson,
    # structural; same form as embed_matryoshka_recall).
    exact = _top10_panel(spark, sf_dir, sq_l2(F.col("qe"), F.col("e")))
    return _recall_at_10(exact, sim_search_pq(spark, sf_dir), "pq_hits")


_ALIGNMENT_ORACLE = """
    WITH d AS (SELECT doc_id, n_chars FROM documents),
    e AS (SELECT vec_id,
                 list_sum(CAST(embedding AS DOUBLE[])) AS proj
          FROM embeddings),
    j AS (SELECT d.doc_id, d.n_chars, e.proj
          FROM d JOIN e ON e.vec_id = d.doc_id),
    s AS (
      SELECT COUNT(*) * 1.0 AS n,
             SUM(n_chars * 1.0) AS sx, SUM(proj) AS sy,
             SUM(n_chars * 1.0 * n_chars) AS sxx,
             SUM(proj * proj) AS syy,
             SUM(n_chars * proj) AS sxy
      FROM j
    )
    SELECT (SELECT COUNT(*) FROM d) AS n_docs,
           (SELECT COUNT(*) FROM e) AS n_vecs,
           (SELECT COUNT(*) FROM j) AS n_paired,
           (SELECT COUNT(*) FROM d
            WHERE doc_id NOT IN (SELECT vec_id FROM e)) AS docs_unembedded,
           (SELECT COUNT(*) FROM e
            WHERE vec_id NOT IN (SELECT doc_id FROM d)) AS vecs_orphaned,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 4) AS corr_len_proj
    FROM s
"""


@register("embed_text_alignment", oracle=_ALIGNMENT_ORACLE)
def embed_text_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal referential-integrity audit: documents vs their
    embedding table — paired count, unembedded docs, orphaned vectors,
    and the correlation between doc length and the embedding's
    ones-vector projection (norms are degenerate on a unit-normalized
    corpus — measured sigma 4e-8 here — so the audit scalar must be a
    projection with real variance; a drifting corr is the canary for a
    re-embedding run that silently processed the wrong corpus
    snapshot). This is the join-level audit every two-table
    (text, vector) pipeline needs before ANN results mean anything.

    Plan: one equi-join on the id plus two anti-join counts — all
    shuffle joins on the same key — and Pearson's r from the same
    centered-determinant sufficient statistics agg_ols_two_factor uses
    (6 numbers, map-side combinable)."""
    t = load(spark, sf_dir)
    d = t.documents.select("doc_id", F.col("n_chars").cast("double").alias("x"))
    e = t.embeddings.select(
        "vec_id",
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("y"),
    )
    j = d.join(e, d.doc_id == e.vec_id)
    s = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    counts = (
        d.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_vecs")))
        .crossJoin(j.agg(F.count(F.lit(1)).alias("n_paired")))
        .crossJoin(
            d.join(e, d.doc_id == e.vec_id, "left_anti")
            .agg(F.count(F.lit(1)).alias("docs_unembedded"))
        )
        .crossJoin(
            e.join(d, d.doc_id == e.vec_id, "left_anti")
            .agg(F.count(F.lit(1)).alias("vecs_orphaned"))
        )
    )
    return counts.crossJoin(s.select(F.round(corr, 4).alias("corr_len_proj")))


#: Hamming cutoff for the simhash leg of the consensus report (64-bit
#: signatures, 16-bit bands: a pair must share a band AND differ in at
#: most this many bits overall).
CONSENSUS_SIMHASH_HAM = 8


def _consensus_oracle(sf_dir: str) -> str | None:
    from .dedup import _JACCARD_ORACLE, _SIMHASH_ORACLE, _minhash_oracle

    mh = _minhash_oracle(sf_dir)
    if mh is None:
        return None
    return f"""
    WITH hashed AS (
      SELECT doc_id, sha256(lower(text)) AS h FROM documents
    ),
    exact_p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM hashed a JOIN hashed b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    jac AS (SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE}) j),
    mh AS (SELECT doc_a, doc_b FROM ({mh}) m),
    sh AS (SELECT * FROM ({_SIMHASH_ORACLE}) s),
    sh_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       AND (a.band0 = b.band0 OR a.band1 = b.band1
            OR a.band2 = b.band2 OR a.band3 = b.band3)
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {CONSENSUS_SIMHASH_HAM}
    ),
    allp AS (
      SELECT doc_a, doc_b FROM exact_p
      UNION SELECT doc_a, doc_b FROM jac
      UNION SELECT doc_a, doc_b FROM mh
      UNION SELECT doc_a, doc_b FROM sh_pairs
    )
    SELECT p.doc_a, p.doc_b,
           e.doc_a IS NOT NULL AS by_exact,
           j.doc_a IS NOT NULL AS by_jaccard,
           m.doc_a IS NOT NULL AS by_minhash,
           s.doc_a IS NOT NULL AS by_simhash,
           CAST((e.doc_a IS NOT NULL)::INT + (j.doc_a IS NOT NULL)::INT
              + (m.doc_a IS NOT NULL)::INT
              + (s.doc_a IS NOT NULL)::INT AS BIGINT) AS n_methods
    FROM allp p
    LEFT JOIN exact_p e ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b
    LEFT JOIN jac j ON j.doc_a = p.doc_a AND j.doc_b = p.doc_b
    LEFT JOIN mh m ON m.doc_a = p.doc_a AND m.doc_b = p.doc_b
    LEFT JOIN sh_pairs s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
    """


@register("dedup_consensus", oracle=_consensus_oracle)
def dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-consensus report across the dedup ladder: every candidate
    pair any detector fires on, with per-method flags (exact hash,
    3-gram Jaccard, banded MinHash, SimHash-Hamming) and the agreement
    count — the evaluation artifact that tells a curation team where
    detectors AGREE (safe auto-drop), where only fuzzy methods fire
    (human-review band), and whether a method is dead weight. Most
    builds stop at running detectors side by side; the disagreement
    matrix is what makes thresholds tunable.

    Scale shape: each leg is its detector's own bounded-candidate plan
    (inverted index / banded LSH — never all-pairs); the simhash leg
    joins on exploded (band_idx, band_value) keys then verifies
    popcount(xor) <= {CONSENSUS_SIMHASH_HAM} JVM-side. The merge is a
    4-way full-outer-style union + left joins on (doc_a, doc_b) — pair
    tables, orders of magnitude smaller than the corpus."""
    from .dedup import dedup_minhash, dedup_ngram_jaccard, dedup_simhash

    t = load(spark, sf_dir)
    hashed = t.documents.select(
        "doc_id", F.sha2(F.lower("text").cast("binary"), 256).alias("h")
    )
    # self-join through explicit aliases: both sides share lineage, and
    # unqualified attribute refs here are the defect class that broke
    # r5's sort_pareto_skyline (MISSING_ATTRIBUTES on refactor).
    # r14 optimization round: every detector leg is persisted (pair
    # tables, orders of magnitude smaller than the corpus) — each leg
    # is referenced TWICE below (the union of all candidates AND its
    # flag left-join), so every detector pipeline otherwise executed
    # twice (r13 --all read 8.0 s). persist(), not localCheckpoint:
    # lazy caching keeps all four legs inside ONE parallel job instead
    # of four sequential materialization barriers (measured faster).
    exact_p = (
        hashed.alias("ha")
        .join(
            hashed.alias("hb"),
            (F.col("ha.h") == F.col("hb.h"))
            & (F.col("ha.doc_id") < F.col("hb.doc_id")),
        )
        .select(
            F.col("ha.doc_id").alias("doc_a"),
            F.col("hb.doc_id").alias("doc_b"),
        )
        .persist()
    )
    jac = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").persist()
    mh = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").persist()
    sig = dedup_simhash(spark, sf_dir)
    keyed = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array("band0", "band1", "band2", "band3")).alias(
            "bi", "bv"
        ),
    )
    k2 = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "bi",
        "bv",
    )
    sh_pairs = (
        keyed.join(k2, ["bi", "bv"])
        .where(F.col("doc_id") < F.col("doc_b"))
        .where(
            F.bit_count(
                F.col("simhash").bitwiseXOR(F.col("sim_b"))
            ) <= CONSENSUS_SIMHASH_HAM
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
        .persist()
    )
    def flag(df, name):
        return df.withColumn(name, F.lit(True))

    allp = (
        exact_p.unionByName(jac).unionByName(mh).unionByName(sh_pairs).distinct()
    )
    out = (
        allp.join(flag(exact_p, "by_exact"), ["doc_a", "doc_b"], "left")
        .join(flag(jac, "by_jaccard"), ["doc_a", "doc_b"], "left")
        .join(flag(mh, "by_minhash"), ["doc_a", "doc_b"], "left")
        .join(flag(sh_pairs, "by_simhash"), ["doc_a", "doc_b"], "left")
    )
    cols = ["by_exact", "by_jaccard", "by_minhash", "by_simhash"]
    out = out.select(
        "doc_a",
        "doc_b",
        *[F.coalesce(F.col(c), F.lit(False)).alias(c) for c in cols],
    )
    n = sum(F.col(c).cast("int") for c in cols)
    return out.withColumn("n_methods", n.cast("bigint"))


#: Matryoshka truncation: keep only the first MRL_DIM of 64 dimensions.
#: 16/64 = 4x index shrink; the recall query below prices what it costs.
MRL_DIM = 16

_MRL_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    fr AS (
      SELECT q.query_id, c.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY list_distance(q.qe, c.e), c.vec_id) AS rk
      FROM q JOIN c ON c.vec_id != q.query_id
    ),
    tr AS (
      SELECT q.query_id, c.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY list_distance(q.qe[1:{MRL_DIM}], c.e[1:{MRL_DIM}]),
                        c.vec_id) AS rk
      FROM q JOIN c ON c.vec_id != q.query_id
    ),
    e10 AS (SELECT query_id, vec_id FROM fr WHERE rk <= 10),
    t10 AS (SELECT query_id, vec_id, 1 AS hit FROM tr WHERE rk <= 10)
    SELECT e10.query_id,
           CAST(COUNT(*) AS BIGINT) AS exact_k,
           CAST(COUNT(t10.hit) AS BIGINT) AS trunc_hits,
           ROUND(COUNT(t10.hit) * 100.0 / COUNT(*), 2) AS recall_pct
    FROM e10 LEFT JOIN t10 USING (query_id, vec_id)
    GROUP BY e10.query_id
    ORDER BY e10.query_id
"""


@register("embed_matryoshka_recall", oracle=_MRL_ORACLE)
def embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of TRUNCATED-dimension search vs full-dimension exact
    top-10 — the Matryoshka (MRL) trade: serve ANN from the first
    MRL_DIM=16 of 64 dims (4x smaller index, 4x less dot-product work)
    and measure what the truncation costs per query. This is the
    dimension-reduction sibling of sim_search_pq_recall's subspace
    quantization; a 100 TB vector deployment typically tiers BOTH
    (truncated coarse search -> full-dim re-rank) and watches exactly
    these recall numbers when choosing the truncation point.

    Parity notes: distances are computed as a pairwise (a-b)^2 fold —
    NOT the expanded q.q - 2q.e + e.e form — so Spark accumulates the
    same nonnegative per-element terms DuckDB's list_distance does
    (the ADVICE r4 cancellation lesson applied structurally: identical
    rounding, no NaN risk, raw d2 ordering is monotone with the sqrt).
    The HOF folds run on |queries| x |corpus| = 5 x 500 rows at sf0.01 —
    a broadcast of 5 query vectors against one corpus scan, never a
    corpus self-join; at 100 TB the query panel stays broadcast-sized
    and the scan stays linear."""
    e10 = _top10_panel(spark, sf_dir, sq_l2(F.col("qe"), F.col("e")))
    t10 = _top10_panel(
        spark,
        sf_dir,
        sq_l2(F.slice(F.col("qe"), 1, MRL_DIM), F.slice(F.col("e"), 1, MRL_DIM)),
    )
    return _recall_at_10(e10, t10, "trunc_hits")


def _ivfpq_recall_oracle() -> str:
    """IVF-PQ is deterministic end to end (label centroids, residual
    codebook, bit-reproducible folds), so its recall report replays the
    whole pipeline inline against the exact-knn CTE."""
    from .similarity import _IVFPQ_ORACLE

    return f"""
    WITH exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_distance(q.e, c.e), c.vec_id) AS rk
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 5) q
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings) c ON q.vec_id <> c.vec_id
      ) WHERE rk <= 10
    ),
    ivfpq AS (SELECT query_id, neighbor_id FROM ({_IVFPQ_ORACLE}) p)
    SELECT e.query_id,
           COUNT(*) AS exact_k, COUNT(a.neighbor_id) AS ivfpq_hits,
           ROUND(COUNT(a.neighbor_id) * 100.0 / COUNT(*), 2) AS recall_pct
    FROM exact e LEFT JOIN ivfpq a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


@register("sim_search_ivfpq_recall", oracle=_ivfpq_recall_oracle())
def sim_search_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF-PQ vs exact euclidean top-10 — pricing BOTH of
    the composition's approximations at once: the nprobe=1 cell
    restriction (misses neighbors living in unprobed cells, the
    dominant loss) and the residual-code distance distortion. Compare
    with sim_search_pq_recall (code distortion only) to read off how
    much the cell gamble costs — the exact tuning conversation (nprobe
    vs latency) a production deployment has. Same broadcast exact-truth
    shape as the other recall evals; one 1-row-per-query report."""
    from .similarity import sim_search_ivfpq

    exact = _top10_panel(spark, sf_dir, sq_l2(F.col("qe"), F.col("e")))
    return _recall_at_10(exact, sim_search_ivfpq(spark, sf_dir), "ivfpq_hits")


def _semantic_recall_oracle() -> str:
    """Semantic dedup is deterministic (seed cells, id keep-priority), so
    the recall report replays the pipeline inline against the full
    quadratic cosine ground truth."""
    from .dedup import SEMDEDUP_TAU, _SEMANTIC_ORACLE

    return f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    truth AS (
      SELECT DISTINCT y.vec_id
      FROM emb x JOIN emb y ON y.vec_id > x.vec_id
      WHERE list_dot_product(x.v, y.v)
            / (sqrt(list_dot_product(x.v, x.v))
               * sqrt(list_dot_product(y.v, y.v))) >= {SEMDEDUP_TAU}
    ),
    flagged AS (
      SELECT vec_id FROM ({_SEMANTIC_ORACLE}) s WHERE s.is_dup
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_true_dups,
           (SELECT COUNT(*) FROM flagged) AS n_flagged,
           ROUND((SELECT COUNT(*) FROM flagged) * 100.0
                 / GREATEST((SELECT COUNT(*) FROM truth), 1), 2)
             AS recall_pct
    """


@register("dedup_semantic_recall", oracle=_semantic_recall_oracle())
def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level recall of dedup_semantic vs the FULL quadratic cosine
    truth: of the vectors that have ANY earlier neighbor at cosine >=
    tau anywhere in the corpus, how many did the cell-blocked operator
    flag? What it prices is exactly the cell boundary: a near-dup pair
    split across two seed cells is invisible to SemDeDup (the paper
    accepts this; k trades pair-space cost against boundary misses).
    Every flagged vector is guaranteed a true dup (within-cell verify
    is exact cosine), so precision is 1 by construction and one number
    tells the whole story. Quadratic ground truth is the EVAL's cost,
    not the operator's, and a 100 TB run samples anchors first — the
    dedup_embedding_recall convention.

    r14 optimization round (value-identical): per-vector norms are
    folded ONCE per side and multiplied per pair — sqrt(dot(v,v)) over
    the same doubles either way, so every cosine is bit-identical with
    3x fewer interpreted-HOF folds across the N^2 pair stream; and the
    streamed side repartitions to the session parallelism because the
    fixture is ONE parquet split, so the whole pair stream otherwise
    evaluates inside the single scan task (1 of 32 cores — the
    _nsw_graph lesson; the r13 --all record measured this eval at
    39.7 s, dominated by that serial stage)."""
    from .dedup import SEMDEDUP_TAU, dedup_semantic

    t = load(spark, sf_dir)
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    lhs = fanout_repartition(emb, par).select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.sqrt(dot_double(F.col("v"), F.col("v"))).alias("na"),
    )
    rhs = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.sqrt(dot_double(F.col("v"), F.col("v"))).alias("nb"),
    )
    cos = dot_double(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # no hard broadcast hint on rhs: it is the SF-scaling corpus (the
    # lint's point); locally the planner builds the same BNLJ, and at
    # scale the eval samples anchors anyway (docstring convention)
    truth = (
        lhs.crossJoin(rhs)
        .where(F.col("ib") > F.col("ia"))
        .where(cos >= SEMDEDUP_TAU)
        .select("ib")
        .distinct()
    )
    flagged = dedup_semantic(spark, sf_dir).where(F.col("is_dup")).select(
        "vec_id"
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_true_dups"))
    nf = flagged.agg(F.count(F.lit(1)).alias("n_flagged"))
    return nt.crossJoin(nf).select(
        "n_true_dups",
        "n_flagged",
        F.round(
            F.col("n_flagged") * 100.0
            / F.greatest(F.col("n_true_dups"), F.lit(1)),
            2,
        ).alias("recall_pct"),
    )


def _bq_recall_oracle() -> str:
    """BQ is deterministic end to end (closed-form sign packing, exact
    integer Hamming, bit-reproducible cosine folds), so like PQ it gets
    the full two-sided oracle: exact COSINE top-10 (BQ re-ranks by
    cosine, so that is its ground truth) vs the whole BQ pipeline
    replayed inline."""
    from .similarity import _BQ_ORACLE

    return f"""
    WITH exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(q.e, c.e)
                   / (sqrt(list_dot_product(q.e, q.e))
                      * sqrt(list_dot_product(c.e, c.e))) DESC,
                 c.vec_id) AS rk
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 5) q
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings) c ON q.vec_id <> c.vec_id
      ) WHERE rk <= 10
    ),
    bq AS (SELECT query_id, neighbor_id FROM ({_BQ_ORACLE}) b)
    SELECT e.query_id,
           COUNT(*) AS exact_k, COUNT(a.neighbor_id) AS bq_hits,
           ROUND(COUNT(a.neighbor_id) * 100.0 / COUNT(*), 2) AS recall_pct
    FROM exact e LEFT JOIN bq a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


@register("sim_search_bq_recall", oracle=_bq_recall_oracle())
def sim_search_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of binary-quantization ANN vs exact COSINE top-10 —
    prices what the 32x sign-bit compression costs after Hamming
    candidate selection + raw-vector rescoring, per query; the number a
    deployment tunes BQ_CAND_K against (more candidates -> higher
    recall, more rescoring IO). The exact side is sim_search_knn's
    top-10, as in sim_search_recall."""
    from .similarity import sim_search_bq

    exact = sim_search_knn(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_at_10(exact, sim_search_bq(spark, sf_dir), "bq_hits")


# ---------------------------------------------------------------------------
# r13: recall gate for the navigable-graph ANN (sim_search_nsw).
# ---------------------------------------------------------------------------


def _nsw_recall_oracle() -> str:
    """Both sides replay in SQL (the NSW walk is deterministic SQL end
    to end, unlike the xxhash64 LSH variants), so the recall report
    itself gets a full value-hash check: left side = brute-force
    top-10 (the sim_search_knn oracle), right side = the graph walk's
    top-10 (the sim_search_nsw oracle), joined on (query, neighbor)."""
    from .similarity import _KNN_ORACLE, _NSW_ORACLE

    return f"""
    SELECT k.query_id,
           CAST(COUNT(*) AS BIGINT) AS exact_k,
           CAST(COUNT(n.neighbor_id) AS BIGINT) AS ann_hits,
           ROUND(COUNT(n.neighbor_id) * 100.0 / COUNT(*), 2) AS recall_pct
    FROM ({_KNN_ORACLE}) k
    LEFT JOIN ({_NSW_ORACLE}) n
      ON n.query_id = k.query_id AND n.neighbor_id = k.neighbor_id
    GROUP BY k.query_id
    ORDER BY k.query_id
"""


@register("sim_search_nsw_recall", oracle=_nsw_recall_oracle())
def sim_search_nsw_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the HNSW-style graph walk (sim_search_nsw) against
    brute-force cosine top-10 — the acceptance gate the ANN census
    requires of every family (LSH, IVF, PQ, IVF-PQ, BQ all carry one).
    A miss here is a neighbor the NSW_HOPS-bounded beam never reached:
    raising NSW_BEAM / NSW_DEG trades walk cost for recall, and this
    query is the number that justifies the setting.

    Scale/determinism: joins two already-registered operators' outputs
    on (query, neighbor) keys — answer-sized frames; both sides are
    deterministic SQL-replayable plans, so unlike the hash-based
    recall evals this one is fully value-oracled."""
    from .similarity import sim_search_nsw

    exact = sim_search_knn(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_at_10(exact, sim_search_nsw(spark, sf_dir), "ann_hits")

