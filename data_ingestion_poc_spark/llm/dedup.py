"""Deduplication family for training-data pipelines (SURVEY.md section 2
B10), generalizing the reference's sink-state dedup probe (A16
child.py:174-191, A17 scrap/child_otherftp.py:280-298) from
(name,size,mtime) equality to content-level similarity.

Scale ladder:
1. exact:      hash-groupBy on a digest — one shuffle on the hash key;
2. n-gram Jaccard: shingle -> inverted index -> candidate pairs -> exact
   Jaccard (only pairs sharing a shingle are compared — never all-pairs);
3. MinHash+LSH: constant-size signatures, banded bucket join (spark.ml);
4. SimHash:    64-bit signature, dedup = groupBy on signature/bands;
5. embedding cosine near-dup for semantic duplicates.
"""

from __future__ import annotations

import functools

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.storagelevel import StorageLevel

from ..catalog import _session_entry, fanout_repartition, iterate, load
from ..registry import register


def shingle_array(words, k: int):
    """k-word shingles of a token array as a Column expr; empty when the
    doc has fewer than k words (guards Spark's descending sequence())."""
    n = F.size(words)
    seq = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.concat_ws(" ", F.slice(words, i, k)),
    )
    return F.when(n >= k, seq).otherwise(F.array().cast("array<string>"))


def _splitmix_bit(b: int, i: int) -> int:
    """Avalanche-mixed bit for hyperplane b, dimension i (plan-build time).

    A linear combine like ``bit7(b*A ^ i*B)`` is separable
    (= bit7(b*A) XOR bit7(i*B)), which collapses every hyperplane into the
    same one up to sign — the whole corpus lands in 2 buckets. splitmix64
    finalization avalanches every input bit into every output bit, so the
    planes are independent.
    """
    m = (1 << 64) - 1
    x = ((b << 32) | i) & m
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & m
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & m
    x ^= x >> 31
    return (x >> 17) & 1


@register(
    "dedup_exact_hash",
    oracle="""
    SELECT sha256(lower(text)) AS content_hash,
           COUNT(*)            AS n_copies,
           MIN(doc_id)         AS keeper_doc_id
    FROM documents
    GROUP BY sha256(lower(text))
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: digest -> hash aggregate; keeper = MIN(doc_id)
    (deterministic 'first writer wins', the A16 policy). At 100 TB the
    shuffle carries (hash, partial count) only."""
    t = load(spark, sf_dir)
    return (
        t.documents.select(
            "doc_id", F.sha2(F.lower("text").cast("binary"), 256).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


#: Document-frequency cap on the inverted shingle index: a shingle shared
#: by f docs yields f(f-1)/2 candidate rows in the self-join, so one hot
#: stopword 3-gram ("one of the") turns the join quadratic. Dropping
#: shingles with df > cap bounds each shingle's candidate fan-out at
#: cap^2/2 regardless of corpus size. 256 is far above any real near-dup
#: cluster (max observed df is 25 at sf0.1) and far below stopword-shingle
#: df at corpus scale — near-dup pairs share many RARE shingles, so
#: recall loss is ~0 (pinned by test_jaccard_df_cap_keeps_planted_pairs).
JACCARD_DF_CAP = 256

#: Shared CTE prefix of the capped-shingle-index pair oracles: the
#: shingling/normalization/df-cap/self-join skeleton is ONE string so
#: the Jaccard and containment oracles (which are documented to share
#: one index) can never drift apart.
_CAPPED_PAIRS_CTE = f"""
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
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
"""

_JACCARD_ORACLE = f"""
    {_CAPPED_PAIRS_CTE}
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.30
"""


def _documents_cached(registry: dict, spark: SparkSession, sf_dir: str, build):
    """``build()``'s frame, kept in ``registry`` per (application, sf_dir)
    and rebuilt when documents.parquet, the one table the four caches
    below read, changes (catalog._session_entry)."""
    return _session_entry(
        registry,
        (spark.sparkContext.applicationId, sf_dir),
        f"{sf_dir}/documents.parquet",
        build,
    )


#: One persisted capped-shingle inverted index per (application, sf_dir) —
#: see _SHINGLE_CACHE for the policy rationale.
_CAPPED_INDEX_CACHE: dict[tuple[str, str], tuple[tuple | None, DataFrame]] = {}


def _capped_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        shingles = uncapped_shingle_index(spark, sf_dir)
        w_shingle = Window.partitionBy("shingle")
        return (
            shingles.withColumn("df", F.count(F.lit(1)).over(w_shingle))
            .where(F.col("df") <= JACCARD_DF_CAP)
            .drop("df")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return _documents_cached(_CAPPED_INDEX_CACHE, spark, sf_dir, build)


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via an inverted shingle index:
    explode shingles -> df-cap hot shingles -> self equi-join on shingle
    (NOT all pairs) -> intersection counts -> Jaccard >= 0.30 over the
    rare-shingle universe. The equi-join on shingle makes candidate
    generation output-bound, and the df cap (JACCARD_DF_CAP) bounds the
    fan-out of any single shingle at cap^2/2 rows, so a stopword-heavy
    3-gram cannot turn the join quadratic at corpus scale. The cap is
    computed with a count window over the same shingle partitioning the
    self-join shuffles on, so it adds no extra Exchange. The capped index
    is persisted per session: it feeds three consumers (both self-join
    sides and the per-doc sizes), and materializing it once replaces
    three explode+window recomputations — the same reuse a 100 TB run
    would get by writing the inverted index to a bucketed table. The
    scored candidate frame itself is ALSO session-materialized
    (capped_candidate_frame): containment and the threshold sweep score
    the very same (n_common, |A|, |B|) rows, so the self-join runs once
    per session, not once per consumer."""
    return scored_pairs_from_capped_frame(
        spark,
        sf_dir,
        "jaccard",
        lambda c, na, nb: c / (na + nb - c),
        0.30,
        "jaccard",
    )


#: Containment threshold: fraction of the SMALLER doc's shingles that
#: must appear in the larger doc. 0.9 catches subset/quote relationships
#: (a tweet embedded in an article scores containment ~1.0 but Jaccard
#: ~|tweet|/|article| ~ 0.02 — invisible to the Jaccard operator).
CONTAINMENT_THRESHOLD = 0.90

_CONTAINMENT_ORACLE = f"""
    {_CAPPED_PAIRS_CTE}
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n), 4)
             AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n)
          >= {CONTAINMENT_THRESHOLD}
"""


@register("dedup_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: n-gram containment of the smaller
    doc in the larger — |A∩B| / min(|A|,|B|) >= 0.9 — the r5 addition
    that catches subset relationships Jaccard structurally misses (a doc
    quoted whole inside a much larger doc has Jaccard ≈ |small|/|large|
    but containment ≈ 1.0; every serious crawl pipeline runs BOTH — cf.
    the (Jaccard, containment) pair in Broder's resemblance/containment
    paper and Dolma's quote-dedup pass). Same plan skeleton and the same
    persisted capped shingle index as dedup_ngram_jaccard (one extra
    consumer of the session-cached index, zero extra explode), same
    df-cap scale bound: one hot shingle can never turn the self-join
    quadratic; the cap's recall trade is priced by dedup_jaccard_recall
    on the shared index."""
    return scored_pairs_from_capped_frame(
        spark,
        sf_dir,
        "containment",
        lambda c, na, nb: c / F.least(na, nb),
        CONTAINMENT_THRESHOLD,
        "containment",
    )


def candidate_frame_from_index(shingles: DataFrame) -> DataFrame:
    """The inverted-index candidate/verify skeleton every set-similarity
    operator here shares (mirrors _CAPPED_PAIRS_CTE on the oracle side):
    shingle equi-self-join -> intersection counts -> per-pair
    (n_common, |A|, |B|). Scoring is NOT applied here: the frame carries
    the three raw columns so Jaccard, containment and the threshold
    sweep all derive from one build and can never drift structurally.
    The size joins carry no broadcast hint — the per-doc size frame is
    corpus-proportional (one row per doc), so the planner must be free
    to shuffle-join it at scale (AQE broadcasts at fixture scale)."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def scored_pairs_from_frame(
    frame: DataFrame, score, threshold: float, out_name: str
) -> DataFrame:
    """Score + threshold a (doc_a, doc_b, n_common, na, nb) candidate
    frame. `score` is a callable over those three Columns."""
    sc = score(F.col("n_common").cast("double"), F.col("na"), F.col("nb"))
    return (
        frame.where(sc >= threshold)
        .select("doc_a", "doc_b", F.round(sc, 4).alias(out_name))
    )


def scored_pairs_from_index(
    shingles: DataFrame, score, threshold: float, out_name: str
) -> DataFrame:
    """Candidate build + scoring in one call, for ad-hoc shingle frames
    (the uncapped ground-truth side of dedup_jaccard_recall). Registered
    operators on the session index ride capped_candidate_frame instead
    so the expensive self-join materializes once per session."""
    return scored_pairs_from_frame(
        candidate_frame_from_index(shingles), score, threshold, out_name
    )


#: One materialized candidate/verify frame per (application, sf_dir):
#: dedup_ngram_jaccard, dedup_containment and dedup_threshold_sweep all
#: consume the same (doc_a, doc_b, n_common, na, nb) rows — at 100 TB
#: the candidate frame is the build artifact you write once and score
#: three ways; the session-scoped localCheckpoint is the local analog
#: (same policy as the shingle caches above).
_CANDIDATE_FRAME_CACHE: dict[tuple[str, str], tuple[tuple | None, DataFrame]] = {}


def capped_frame_floor(kind: str) -> float:
    """SINGLE source of truth for the plausibility pre-filter baked into
    the session-materialized candidate frame: a pair survives iff
    jaccard >= floor('jaccard') OR containment >= floor('containment').
    The floors ARE the weakest registered consumer thresholds
    (dedup_lsh_tuning's LSH_TUNING_FLOOR, dedup_containment's
    CONTAINMENT_THRESHOLD) — resolved lazily so the constants can live
    next to their operators. Every consumer scores through
    scored_pairs_from_capped_frame, which asserts its threshold against
    this floor, so a future rider with a lower threshold fails LOUDLY
    instead of silently reading a checkpoint that already dropped the
    rows it needs (r8 advice item)."""
    return {
        "jaccard": LSH_TUNING_FLOOR,
        "containment": CONTAINMENT_THRESHOLD,
    }[kind]


def scored_pairs_from_capped_frame(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    score,
    threshold: float,
    out_name: str,
) -> DataFrame:
    """Guarded accessor for the session-materialized candidate frame —
    see capped_frame_floor for why direct scoring is not exposed."""
    floor = capped_frame_floor(kind)
    if threshold < floor:
        raise ValueError(
            f"threshold {threshold} is below the materialized {kind} "
            f"floor {floor}: the session candidate frame already dropped "
            "pairs this consumer needs — lower the floor in "
            "capped_frame_floor (and re-materialize) instead"
        )
    return scored_pairs_from_frame(
        capped_candidate_frame(spark, sf_dir), score, threshold, out_name
    )


def capped_candidate_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        # Keep only pairs at least one consumer can score in — floors
        # come from capped_frame_floor (weakest registered consumers),
        # never hard-coded here. On the adversarial docs10 corpus this
        # drops the MATERIALIZED frame from 113M rows (1-2 shared
        # shingles each) to the ~true-pair set; the join itself still
        # streams all C(df,2) rows through one disk-spilling shuffle
        # (output-bound by construction), but the checkpoint no longer
        # pins them on the heap.
        raw = candidate_frame_from_index(_capped_shingle_index(spark, sf_dir))
        c = F.col("n_common").cast("double")
        plausible = (
            (c / (F.col("na") + F.col("nb") - c)
             >= capped_frame_floor("jaccard"))
            | (c / F.least("na", "nb") >= capped_frame_floor("containment"))
        )
        return raw.where(plausible).localCheckpoint()

    return _documents_cached(_CANDIDATE_FRAME_CACHE, spark, sf_dir, build)


def jaccard_pairs_from_index(shingles: DataFrame) -> DataFrame:
    """Jaccard >= 0.30 instantiation of scored_pairs_from_index, shared
    by the registered (df-capped) operator and the uncapped ground-truth
    side of dedup_jaccard_recall."""
    return scored_pairs_from_index(
        shingles, lambda c, na, nb: c / (na + nb - c), 0.30, "jaccard"
    )


def uncapped_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full (no df cap) inverted shingle index — the single source of
    the shingle universe: _capped_shingle_index derives from this by
    df-filtering, so the capped-vs-uncapped comparison in
    dedup_jaccard_recall can never drift on shingling/normalization.
    Self-joining it UNCAPPED is quadratic in hot-shingle df (what the
    registered operator's cap exists to prevent) — only the recall
    evaluation's ground-truth side does that, and a 100 TB recall run
    samples docs first (see evaluation.py scale note)."""
    t = load(spark, sf_dir)
    # r14 optimization round: repartition before the explode — the
    # fixture is one parquet split, so the shingling otherwise runs
    # inside the single scan task (the _shingled_persisted note).
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = fanout_repartition(
        t.documents.select(
            "doc_id", F.split(F.lower("text"), " ").alias("words")
        ),
        par,
    )
    return docs.select(
        "doc_id", F.explode(shingle_array(F.col("words"), 3)).alias("shingle")
    ).dropDuplicates(["doc_id", "shingle"])


#: MinHash signature size and banding: 32 hashes in 8 bands of 4. A pair
#: collides in a band iff all 4 minhashes agree there, so candidate
#: probability ~ 1-(1-s^4)^8 — steep S-curve around s~0.5 (vs spark.ml's
#: MinHashLSH, whose tables are SINGLE minhashes: r=1 collides at rate s
#: per table and floods the candidate join with weak pairs).
MINHASH_K = 32
MINHASH_BANDS = 8
_ROWS_PER_BAND = MINHASH_K // MINHASH_BANDS


#: One persisted shingle-set DataFrame per (Spark application, sf_dir):
#: repeated dedup_minhash calls in a session (recall eval, bench --all, the
#: oracle harness) must reuse the cache instead of stacking a fresh
#: persisted copy per call, which grows executor storage for the session.
_SHINGLE_CACHE: dict[tuple[str, str], tuple[tuple | None, DataFrame]] = {}


def _shingled_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        t = load(spark, sf_dir)
        # r14 optimization round: repartition to the session parallelism
        # BEFORE persisting — the fixture is one parquet split, so the
        # cached frame otherwise holds a single partition and every
        # downstream per-doc fold (the 32 seeded minhash transforms of
        # band_keys, the exact-Jaccard verify) runs on 1 of 32 cores.
        par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        docs = t.documents.select(
            "doc_id", F.split(F.lower("text"), " ").alias("words")
        )
        return (
            fanout_repartition(docs, par)
            .select(
                "doc_id",
                F.array_distinct(shingle_array(F.col("words"), 3)).alias(
                    "shingles"
                ),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return _documents_cached(_SHINGLE_CACHE, spark, sf_dir, build)


@functools.cache
def _replay_band_buckets(sf_dir: str) -> tuple[dict, dict] | None:
    """Pure-Python replay of shingling + banding over the fixture in
    `sf_dir`: (shingle_sets by doc_id, bucket -> member doc_ids by
    (band, key)). Shared by minhash_golden_pairs and the band-skew
    audit golden; memoized per `sf_dir`."""
    import pyarrow.parquet as pq

    from ..functions.pyhash import spark_hash_long_array, xxh64, xxh64_int

    try:
        docs = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        ).to_pylist()
    except Exception:
        return None

    m64 = (1 << 64) - 1
    sig_memo: dict[str, list[int]] = {}

    def shingle_sig(sh: str) -> list[int]:
        s = sig_memo.get(sh)
        if s is None:
            base = xxh64(sh.encode(), 42) & m64
            s = []
            for i in range(MINHASH_K):
                v = xxh64_int(i, base)
                s.append(v - (1 << 64) if v >= 1 << 63 else v)
            sig_memo[sh] = s
        return s

    shingle_sets: dict[int, set[str]] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    for r in docs:
        words = r["text"].lower().split(" ")
        if len(words) < 3:
            continue
        shingles = {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
        shingle_sets[r["doc_id"]] = shingles
        sig = [min(c) for c in zip(*(shingle_sig(sh) for sh in shingles))]
        for b in range(MINHASH_BANDS):
            key = spark_hash_long_array(sig[b * _ROWS_PER_BAND : (b + 1) * _ROWS_PER_BAND])
            buckets.setdefault((b, key), []).append(r["doc_id"])
    return shingle_sets, buckets


@functools.cache
def minhash_golden_pairs(sf_dir: str) -> list[tuple[int, int, float]] | None:
    """Replay the ENTIRE banded-MinHash pipeline in pure Python over the
    fixture in `sf_dir`: same shingling, the same 32 chained xxhash64 values
    per shingle (pyhash.py ports, pinned bit-exact vs the JVM), the same
    8x4 band keys via Spark's array-fold murmur3, the same exact-Jaccard
    verification of collided pairs. The result is the exact row set the
    Spark operator must produce — turning the one 'rows-only by design'
    LSH query into a golden-VALUES check. Memoized per `sf_dir` (several
    oracles consume the replay); per-shingle signatures are shared across
    docs (~16k distinct shingles at sf0.01, so the replay costs ~1-2 s
    once)."""
    replay = _replay_band_buckets(sf_dir)
    if replay is None:
        return None
    shingle_sets, buckets = replay

    from decimal import ROUND_HALF_UP, Decimal

    candidates: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                candidates.add((a, b))
    out = []
    for a, b in sorted(candidates):
        sa, sb = shingle_sets[a], shingle_sets[b]
        jac = len(sa & sb) / len(sa | sb)
        if jac >= 0.30:
            rounded = float(
                Decimal(repr(jac)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
            )
            out.append((a, b, rounded))
    return out


def _minhash_oracle(sf_dir: str) -> str | None:
    from ..goldens import values_oracle

    pairs = minhash_golden_pairs(sf_dir)
    if pairs is None:
        return None
    return values_oracle(
        pairs,
        ["doc_a", "doc_b", "jaccard_sim"],
        casts={"doc_a": "BIGINT", "doc_b": "BIGINT", "jaccard_sim": "DOUBLE"},
    )


def band_keys(shingled: DataFrame) -> DataFrame:
    """(doc_id, band, key) banded-MinHash index rows for a shingle-set
    frame — the ONE implementation of the signature+banding math, shared
    by dedup_minhash (full self-join), dedup_minhash_incremental
    (delta-vs-history join), and, via the bit-exact pyhash replay, the
    golden oracles. 32 seeded xxhash64 minhashes -> 8 band keys via
    Spark's array-fold murmur3 `hash` over each 4-hash slice."""

    def _minhash(i: int):
        # NB: the seed must be captured via an outer function, NOT a
        # `lambda s, i=i:` default arg — PySpark infers higher-order-fn
        # arity from the signature, so a two-parameter lambda makes
        # transform() bind the second param to the ELEMENT INDEX and the
        # seed silently becomes position-in-array (one effective hash
        # function instead of 32; caught by hypothesis in
        # test_minhash_finds_planted_near_dups).
        return F.array_min(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s, F.lit(i)))
        )

    minhashes = F.array(*[_minhash(i) for i in range(MINHASH_K)])
    sig = shingled.select("doc_id", minhashes.alias("sig"))
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(F.slice(F.col("sig"), b * _ROWS_PER_BAND + 1, _ROWS_PER_BAND)).alias("key"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


@register("dedup_minhash", oracle=_minhash_oracle)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH near-dup pairs, all in JVM Column expressions:
    shingle -> 32 seeded xxhash64 minhashes -> 8 band keys -> self
    equi-join on (band, key) -> exact-Jaccard verification of candidates
    (array_intersect/union on shingle sets rejoined BY doc_id). The band
    shuffle carries (doc_id, band, key) ints ONLY — shingle arrays never
    ride through the x8 band explode (carrying them measured 3x slower at
    50 k docs: 33s -> 10s cold). The shingle sets are persisted
    (memory-then-disk) and joined back onto surviving candidates, which
    is output-bound. No Python anywhere in the plan — the 100 TB path
    where the exact inverted index (dedup_ngram_jaccard) gets too hot.
    Emitted pairs are exact Jaccard >= 0.30 among LSH candidates (same
    threshold as the exact operator, so recall is directly measurable)."""
    shingled = _shingled_persisted(spark, sf_dir)
    bands = band_keys(shingled)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    pairs = candidates.join(sa, "doc_a").join(sb, "doc_b")
    jac = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb")).cast(
        "double"
    )
    return pairs.where(jac >= 0.30).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard_sim")
    )


#: Connected-components loop bound: min-label propagation needs one
#: iteration per hop of component diameter; near-dup clusters are shallow
#: (dozens of docs), so 50 is a generous ceiling — the loop breaks on
#: convergence long before.
_CC_MAX_ITERS = 50

#: Propagation rounds the last dedup_clusters call took to converge —
#: read by tools/scale_probe.py --cc-chain to demonstrate the pointer-
#: jumping speedup (O(log diameter) rounds) on a planted deep chain.
LAST_CC_ROUNDS = 0

#: Materialized near-dup pair graph per (application, sf_dir). Three
#: registered queries consume the exact pairs (dedup_clusters,
#: corpus_dedup_keep via clusters, dedup_minhash_recall): at 100 TB the
#: pair graph is a build artifact you write once and share, so the
#: session-scoped checkpoint is the honest local analog (same policy as
#: the shingle caches above).
_PAIRS_CACHE: dict[tuple[str, str], tuple[tuple | None, DataFrame]] = {}


def jaccard_pairs_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _documents_cached(
        _PAIRS_CACHE,
        spark,
        sf_dir,
        lambda: dedup_ngram_jaccard(spark, sf_dir).localCheckpoint(),
    )

#: Shared recursive-closure CTE prefix: dedup_clusters' oracle and the
#: dedup_cluster_histogram consumer derive from ONE string so the
#: clustering definition can never drift between them.
_CLUSTERS_CTE = f"""
    WITH RECURSIVE sh0 AS (
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
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.30
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
    ),
    lbl AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
"""

_CLUSTERS_ORACLE = (
    _CLUSTERS_CTE
    + """
    SELECT l.doc_id, l.cluster_id, c.n AS cluster_size
    FROM lbl l
    JOIN (SELECT cluster_id, COUNT(*) AS n FROM lbl GROUP BY cluster_id) c
      USING (cluster_id)
"""
)


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    near-dup pair graph, so each group of mutually-similar docs gets ONE
    canonical id (the component's min doc_id) — the step that turns
    pairwise dedup output into a keep/drop decision per document.

    Spark side: iterative min-label propagation WITH pointer jumping as
    pure DataFrame ops — labels start as doc_id; each round every node
    takes the min of its own and its neighbors' labels, then shortcuts
    through the previous round's mapping (label <- label-of-label, the
    path-halving step of pointer-jumping CC / the effect large-star
    rounds achieve in Kiveris et al.'s MapReduce algorithm). Neighbor-min
    alone needs O(component diameter) rounds — a 100 TB web-duplicate
    graph has chain-shaped components thousands deep; the shortcut
    collapses label chains geometrically, so convergence is O(log
    diameter) (a planted 20-deep chain converges in 5 rounds vs 11 —
    tools/scale_probe.py --cc-chain). The rounds run through
    catalog.iterate (its barrier rule): each round reads the previous
    labels three times (hop, candidate, jump). Convergence is an inline
    `chg` flag computed in the SAME projection as the new label and
    summed off the checkpointed round — no extra join against the
    previous labels. On a real cluster the barrier wants a reliable
    checkpoint dir instead. A recursive transitive closure like the
    DuckDB oracle's would be O(component^2) rows and is only viable at
    oracle scale.

    Generalizes the reference's dedup decision (child.py:174-191: per-file
    keep/rename) from per-pair to per-cluster. Oracle: recursive-CTE
    transitive closure; cluster_id = LEAST(src, MIN(reachable))."""
    pairs = jaccard_pairs_checkpointed(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # Size the CC working set to the EDGE count, not the session's
    # corpus-scale shuffle.partitions: the graph is output-bound
    # (near-dup pairs, orders of magnitude smaller than the corpus),
    # and per-iteration fixed costs (empty tasks x rounds) otherwise
    # dominate the loop. The count comes off the PAIR frame — already
    # checkpointed by jaccard_pairs_checkpointed — so the edge union is
    # materialized exactly once (an r7 profile measured the old
    # checkpoint-count-repartition-checkpoint shape writing the edge set
    # twice for no information gain; BASELINE.md, dedup_clusters).
    n_parts = max(1, min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                         (2 * pairs.count()) // 100_000 + 1))
    edges = edges.repartition(n_parts, "dst").localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("lbl"))
        .localCheckpoint()
    )

    def step(state: DataFrame, rnd: int) -> DataFrame:
        labels = state.select("doc_id", "lbl")
        # hop: min over neighbors' labels (one shuffle keyed on dst —
        # edges are pre-partitioned on it — plus the groupBy(src) agg)
        nbr_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst_id"), "lbl"),
                F.col("dst") == F.col("dst_id"),
            )
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        cand = labels.join(
            nbr_min, F.col("doc_id") == F.col("src"), "left"
        ).select(
            "doc_id",
            F.col("lbl").alias("old_lbl"),
            F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("cand"),
        )
        if rnd == 0:
            # round 1: every label is still its own doc_id, so the jump
            # lookup is the identity — skip the join entirely
            return cand.select(
                "doc_id",
                F.col("cand").alias("lbl"),
                (F.col("cand") != F.col("old_lbl")).cast("long").alias("chg"),
            )
        # jump: shortcut through the previous mapping (label-of-label).
        # Labels only ever decrease, so old_map[cand] <= cand is always
        # a valid (often much better) label — this is what turns
        # O(diameter) rounds into O(log diameter). Every label VALUE is
        # a doc_id key by induction; left join + coalesce is
        # belt-and-braces.
        return cand.join(
            labels.select(F.col("doc_id").alias("p"), F.col("lbl").alias("p_lbl")),
            F.col("cand") == F.col("p"),
            "left",
        ).select(
            "doc_id",
            F.least("cand", F.coalesce("p_lbl", "cand")).alias("lbl"),
            (F.least("cand", F.coalesce("p_lbl", "cand")) != F.col("old_lbl"))
            .cast("long")
            .alias("chg"),
        )

    global LAST_CC_ROUNDS
    state, LAST_CC_ROUNDS = iterate(
        labels,
        step,
        _CC_MAX_ITERS,
        until=lambda s: not s.agg(F.sum("chg")).collect()[0][0],
    )
    labels = state.select("doc_id", "lbl")
    sizes = labels.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    # No broadcast hint on sizes: cluster count is output-bound but
    # unbounded (~one row per doc with a near-dup at worst). AQE
    # broadcasts the frame when it is small and shuffle-joins otherwise.
    return labels.select("doc_id", F.col("lbl").alias("cluster_id")).join(
        sizes, "cluster_id"
    ).select("doc_id", "cluster_id", "cluster_size")


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens, md5-based word hashes
    (deterministic across runs/engines — no Python hash randomization)."""
    import hashlib

    out = []
    for text in texts:
        counts: dict[int, int] = {}
        for w in str(text).lower().split(" "):
            h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
            counts[h] = counts.get(h, 0) + 1
        acc = [0] * 64
        for h, c in counts.items():
            for b in range(64):
                acc[b] += c if (h >> b) & 1 else -c
        sig = 0
        for b in range(64):
            if acc[b] > 0:
                sig |= 1 << b
        # two's-complement into signed int64
        out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
    return pd.Series(out)


#: The word hashes are md5 (deterministic, engine-portable), so the WHOLE
#: signature is SQL-expressible: per (doc, word) counts, a 64-way bit
#: vote decoded nibble-by-nibble from the md5 hex, and the sign-majority
#: reassembled into the signed int64 Spark emits. Verified bit-exact
#: against the pandas UDF.
_SIMHASH_ORACLE = """
    WITH words AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      GROUP BY doc_id, w
    ),
    bits AS (
      SELECT doc_id, bb.b AS b,
             SUM(CASE WHEN ((strpos('0123456789abcdef',
                                    substr(md5(w), 16 - (bb.b // 4), 1)) - 1)
                            >> (bb.b % 4)) & 1 = 1
                 THEN c ELSE -c END) AS acc
      FROM words CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
      GROUP BY doc_id, bb.b
    ),
    sig AS (
      SELECT doc_id,
             SUM(CASE WHEN acc > 0
                 THEN CAST(1::UBIGINT << b AS HUGEINT) ELSE 0 END) AS usig
      FROM bits GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(CASE WHEN usig >= 9223372036854775808
                THEN usig - 18446744073709551616 ELSE usig END
                AS BIGINT) AS simhash,
           CAST((CAST(usig AS UBIGINT) >> 0)  & 65535 AS BIGINT) AS band0,
           CAST((CAST(usig AS UBIGINT) >> 16) & 65535 AS BIGINT) AS band1,
           CAST((CAST(usig AS UBIGINT) >> 32) & 65535 AS BIGINT) AS band2,
           CAST((CAST(usig AS UBIGINT) >> 48) & 65535 AS BIGINT) AS band3
    FROM sig
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (Arrow-batched pandas UDF — the documented
    slow-path exception; everything around it stays JVM-side). Near-dup =
    equal 16-bit bands; returns per-doc signature + band keys, so dedup is
    a plain groupBy on any band at scale."""
    simhash = F.pandas_udf(_simhash_batch, LongType())
    t = load(spark, sf_dir)
    sig = t.documents.select("doc_id", simhash("text").alias("simhash"))
    band = lambda i: F.shiftrightunsigned("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF))
    return sig.select(
        "doc_id",
        "simhash",
        band(0).alias("band0"),
        band(1).alias("band1"),
        band(2).alias("band2"),
        band(3).alias("band3"),
    )


#: Banded sign-LSH over embeddings: _EMB_BANDS bands x _EMB_BITS hyperplane
#: sign bits per band. A pair is a candidate iff SOME band key matches;
#: candidates are verified with exact cosine. The hyperplanes are the same
#: deterministic splitmix64-derived Rademacher planes sim_search_ann uses,
#: so the ORACLE can bake the identical sign literals into SQL and replay
#: the full pipeline (the sim_search_ivf full-pipeline-oracle pattern) —
#: Spark and DuckDB then agree exactly, LSH misses included.
_EMB_BANDS, _EMB_BITS, _EMB_DIM = 8, 4, 64


def _emb_plane_signs(plane: int) -> list[float]:
    return [1.0 if _splitmix_bit(plane, i) else -1.0 for i in range(_EMB_DIM)]


def _emb_band_key_sql(band: int) -> str:
    """DuckDB expression for band `band`'s _EMB_BITS-bit key over `emb`."""
    bits = []
    for j in range(_EMB_BITS):
        signs = ", ".join(str(s) for s in _emb_plane_signs(band * _EMB_BITS + j))
        bits.append(
            f"(CASE WHEN list_dot_product(emb, [{signs}]) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(bits)


def _cosine_dup_oracle() -> str:
    keys = ",\n             ".join(
        f"{_emb_band_key_sql(b)} AS k{b}" for b in range(_EMB_BANDS)
    )
    anyband = " OR ".join(f"a.k{b} = b.k{b}" for b in range(_EMB_BANDS))
    return f"""
    WITH sig AS (
      SELECT vec_id, emb,
             {keys}
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
    FROM sig a JOIN sig b
      ON a.vec_id < b.vec_id AND ({anyband})
    WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb))
           * sqrt(list_dot_product(b.emb, b.emb))) >= 0.30
"""


_COSINE_DUP_ORACLE = _cosine_dup_oracle()


def dot_double(a, b):
    """Sum of elementwise products in DOUBLE (cast before multiply so Spark
    and DuckDB accumulate identically; keeps vector math in Column exprs
    per SURVEY.md section 7 risk register)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_double(a, b):
    """Cosine of two array Columns: dot_double(a, b) over the product of
    the two dot_double norms — the Spark-column twin of the oracles'
    list_dot_product ratio and of _cos_blocks' NumPy line."""
    return dot_double(a, b) / (
        F.sqrt(dot_double(a, a)) * F.sqrt(dot_double(b, b))
    )


def sq_l2(a, b):
    """sum((a_i-b_i)^2) as a Column fold (same add order as the oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: Tile edge of the shared cosine kernel below, the one place every
#: NumPy cosine in the engine is computed. Its single invariant keeps
#: the DuckDB oracles exact: each dot product is dot_double's left fold
#: ((0+a0*b0)+a1*b1)+... over the dimensions, from the same double
#: operands in the same order (a product may commute, the adds never
#: reorder), and a cosine divides it by the product of the two norms.
#: Tiling into (tile x tile) blocks caps kernel memory at
#: O(tile^2 + n*dim) — a dense (n, n) matrix per LSH bucket or IVF cell
#: is a Python-worker OOM at corpus scale — and changes only WHICH cells
#: are resident together, never a cell's fold, so every reducer's output
#: is bit-identical at any tile. 2048^2 doubles = 32 MB per block.
#: Kernel closures read this name on the driver and pass the value in
#: (a module global read inside a Python worker would be the imported
#: value, not the session's — and tests shrink it to force multi-block
#: runs).
_PAIR_TILE = 2048


def row_norms(V):
    """Per-row L2 norms of V, squares summed in dot_double's order."""
    import numpy as np

    nsq = np.zeros(len(V))
    for d in range(V.shape[1]):
        col = V[:, d]
        nsq = nsq + col * col
    return np.sqrt(nsq)


def _dot_fold(A, B):
    """The (len(A), len(B)) block of row dot products, folded per
    dimension (see _PAIR_TILE)."""
    import numpy as np

    acc = np.zeros((len(A), len(B)))
    for d in range(A.shape[1]):
        acc = acc + np.outer(A[:, d], B[:, d])
    return acc


def _dot_blocks(A, B, tile, tri=0):
    """Walk A x B in (tile x tile) blocks, yielding (rows, cols, acc):
    two slices and the raw _dot_fold block. Row blocks ascend, and the
    column blocks ascend within each. With tri = +1 / -1 (A is B) only
    the blocks on or above / on or below the diagonal are walked."""
    for i0 in range(0, len(A), tile):
        si = slice(i0, min(i0 + tile, len(A)))
        lo = i0 if tri > 0 else 0
        hi = si.stop if tri < 0 else len(B)
        for j0 in range(lo, hi, tile):
            sj = slice(j0, min(j0 + tile, len(B)))
            yield si, sj, _dot_fold(A[si], B[sj])


def _cos_blocks(A, B, na, nb, tile, tri=0):
    """_dot_blocks as cosines acc / (na * nb). With tri, the diagonal
    block's cells outside the strict upper (j > i) / lower (j < i)
    triangle read -inf, so no reducer picks them."""
    import numpy as np

    for si, sj, acc in _dot_blocks(A, B, tile, tri):
        C = acc / (na[si, None] * nb[None, sj])
        if tri and si == sj:
            band = np.triu if tri > 0 else np.tril
            C = np.where(band(np.ones(C.shape, dtype=bool), k=tri), C, -np.inf)
        yield si, sj, C


def _topk_ids_tiled(ids, V, nrm, k, tile):
    """Per-row top-k neighbor ids by (cosine DESC, id ASC), self
    excluded — the row_number() window the cell kernels replay. Each
    row keeps a running top-(k+1) buffer that every block merges into
    (REPOSE's local-top-k-then-merge): the merge is exact under the
    TOTAL order (cos DESC, id ASC) because ids are unique, so
    top-m(top-m(S) ∪ B) = top-m(S ∪ B). One slot is reserved for self,
    which is dropped before the cut.

    Returns a list of np.int64 arrays, one per row of `ids`, each in
    rank order. Asserts nrm > 0: a zero-norm vector's NaN cosines would
    silently rank LAST here while the SQL window the kernel replays
    ranks NaN first — fail loudly instead."""
    import numpy as np

    assert nrm.min() > 0.0, "zero-norm embedding in cell kernel"
    m = k + 1
    buf_cos = np.full((len(ids), m), -np.inf)
    buf_ids = np.full((len(ids), m), np.iinfo(np.int64).max, dtype=np.int64)
    for si, sj, C in _cos_blocks(V, V, nrm, nrm, tile):
        cand_cos = np.concatenate([buf_cos[si], C], axis=1)
        cand_ids = np.concatenate(
            [buf_ids[si], np.broadcast_to(ids[sj], C.shape)], axis=1
        )
        for r in range(len(C)):
            sel = np.lexsort((cand_ids[r], -cand_cos[r]))[:m]
            buf_cos[si.start + r] = cand_cos[r][sel]
            buf_ids[si.start + r] = cand_ids[r][sel]
    return [
        row[(row != i) & (cos > -np.inf)][:k]
        for i, row, cos in zip(ids, buf_ids, buf_cos)
    ]


def _argmax_ids_tiled(A, B, na, nb, ids, tile, tri=0):
    """Per-row (best cosine, its id) over B, whose `ids` ascend. The
    first max within a block is the smallest id, and a later block
    replaces only on a STRICTLY greater cosine, so equal cosines keep
    the smaller id — max_by((cos, -id)). A row with no candidate keeps
    (-inf, 0). Asserts na > 0 (see _topk_ids_tiled)."""
    import numpy as np

    assert na.min() > 0.0, "zero-norm embedding in cell kernel"
    best_cos = np.full(len(A), -np.inf)
    best_id = np.zeros(len(A), dtype=np.int64)
    for si, sj, C in _cos_blocks(A, B, na, nb, tile, tri):
        arg = np.argmax(C, axis=1)
        top = C[np.arange(len(C)), arg]
        cos, best = best_cos[si], best_id[si]  # views into the outputs
        take = top > cos
        cos[take] = top[take]
        best[take] = ids[sj][arg[take]]
    return best_cos, best_id


def _threshold_cells(blocks, cut):
    """Yield (i, j, cos) arrays of every cell with cos >= cut, block by
    block. The walk visits each cell once, so each pair is emitted once."""
    import numpy as np

    for si, sj, C in blocks:
        bi, bj = np.nonzero(C >= cut)
        if bi.size:
            yield si.start + bi, sj.start + bj, C[bi, bj]


@register("dedup_embedding_cosine", oracle=_COSINE_DUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus embedding-cosine near-dup pairs (semantic dedup) via
    banded sign-LSH — no probe cap. Structure mirrors dedup_minhash: each
    vector hashes to _EMB_BANDS band keys (_EMB_BITS deterministic
    hyperplane sign bits each); the self-join is an EQUI join on
    (band, key) carrying ints only, embeddings are rejoined onto the
    surviving candidate pairs for the exact-cosine verify. At 100 TB the
    band shuffle is the only corpus-wide movement and bits-per-band is
    the knob that bounds bucket occupancy. Output = pairs with cosine >=
    0.30 among LSH candidates; the oracle replays the identical pipeline
    (plane sign literals baked into the SQL), so the check is exact, and
    recall vs the brute-force pair set is priced separately by
    dedup_embedding_recall.

    r14 optimization round (value-identical): the corpus frame
    repartitions to the session parallelism before the 32 per-vector
    hyperplane folds — the fixture is ONE parquet split, so the sign
    projections otherwise evaluate inside the single scan task (the
    _nsw_graph lesson).

    r14 second pass (guide §4.2): the candidate self-join + per-pair
    verify fold are FUSED into one per-bucket NumPy kernel. The old
    plan executed the 32-fold band hashing TWICE (both sides of the
    self-join), then re-joined embeddings onto ~1M surviving pairs and
    ran one interpreted 64-term HOF fold per pair. The bucket kernel
    sees each (band, key) group once with its vectors attached (8x
    corpus rows moved, embeddings never join pair-wise) and computes
    the bucket's all-pairs cosines with the shared kernel (_PAIR_TILE),
    so every cosine is bit-identical to the SQL fold the DuckDB oracle
    replays (verified at 3 SFs). Pair space per bucket is unchanged
    from the equi-join (within-bucket all-pairs, bounded by
    bits-per-band); a pair caught by k bands computes k identical
    cosines and dropDuplicates keeps one, exactly as before."""
    import numpy as np

    t = load(spark, sf_dir)
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    emb = fanout_repartition(t.embeddings.select("vec_id", "embedding"), par)
    # Hyperplane sign matrix, (dim x planes) — the identical literals
    # _emb_band_key_sql bakes into the oracle's SQL fold.
    H = np.array(
        [_emb_plane_signs(p) for p in range(_EMB_BANDS * _EMB_BITS)],
        dtype=np.float64,
    ).T

    def _band_keys(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vcol = batch.column("embedding")
            flat = vcol.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            pos = _dot_fold(flat.reshape(n, -1), H.T) > 0
            keys = np.zeros((n, _EMB_BANDS), dtype=np.int32)
            for bnd in range(_EMB_BANDS):
                for j in range(_EMB_BITS):
                    keys[:, bnd] += pos[:, bnd * _EMB_BITS + j].astype(
                        np.int32
                    ) << j
            idx = np.repeat(np.arange(n), _EMB_BANDS)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id").take(pa.array(idx)),
                    vcol.take(pa.array(idx)),
                    pa.array(
                        np.tile(
                            np.arange(_EMB_BANDS, dtype=np.int32), n
                        ),
                        type=pa.int32(),
                    ),
                    pa.array(keys.reshape(-1), type=pa.int32()),
                ],
                names=["vec_id", "embedding", "band", "key"],
            )

    keyed = emb.mapInArrow(
        _band_keys,
        "vec_id long, embedding array<float>, band int, key int",
    )
    tile = _PAIR_TILE

    def _bucket_pairs(pdf):
        import pandas as pd

        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
        )
        nrm = row_norms(V)
        # zero-norm vectors would put NaN where the pre-r14 SQL plan
        # ordered NaN largest — fail loudly instead of silently
        # diverging from the oracle (r14 ADVICE).
        assert nrm.min() > 0.0, "zero-norm embedding in LSH bucket"
        # strict upper triangle: each within-bucket pair once, vec_a < vec_b
        cells = list(
            _threshold_cells(_cos_blocks(V, V, nrm, nrm, tile, tri=1), 0.30)
        )
        if not cells:
            return empty
        i, j, cos = (np.concatenate(x) for x in zip(*cells))
        return pd.DataFrame({"vec_a": ids[i], "vec_b": ids[j], "cosine": cos})

    pairs = (
        keyed.groupBy("band", "key")
        .applyInPandas(_bucket_pairs, "vec_a long, vec_b long, cosine double")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return pairs.select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))


#: Max edit distance for fuzzy-name dedup. The blocking key is the
#: SymSpell deletion neighborhood: every string within edit distance t of
#: another shares at least one of its <=t-character-deletion variants
#: (Garbe's symmetric-delete guarantee, provable because any edit script
#: can be realized as deletions on both sides), so an EQUI join on the
#: variant string is a complete blocking scheme — and two strings sharing
#: a variant are within indel distance 2t, so the candidate set is tightly
#: bounded too. Cost: O(len^t) keys per name — the standard SymSpell
#: trade, linear in corpus size.
_FUZZY_T = 2

_DEL_VARIANTS_EXPR = """
    array_distinct(concat(
      array({c}),
      transform(sequence(1, length({c})),
                i -> concat(substring({c}, 1, i - 1),
                            substring({c}, i + 1, 1000))),
      CASE WHEN length({c}) >= 2 THEN
        flatten(transform(sequence(1, length({c}) - 1),
          i -> transform(sequence(i + 1, length({c})),
            j -> concat(substring({c}, 1, i - 1),
                        substring({c}, i + 1, j - i - 1),
                        substring({c}, j + 1, 1000)))))
      ELSE array() END
    ))
"""


@register(
    "dedup_fuzzy_name",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
    FROM customer a
    JOIN customer b
      ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def dedup_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy NAME dedup over the WHOLE table: edit-distance pairs within
    threshold 2 — the content-level upgrade of the reference's
    rename-policy dedup (A16 child.py:174-191 matches names EXACTLY after
    sanitization; this catches near-miss names like 'report_v2' vs
    'report_v3'). Blocking = SymSpell deletion neighborhood (see
    _FUZZY_T note): each name explodes to its <=2-deletion variants, the
    self-join is an EQUI hash join on the variant string (no
    BroadcastNestedLoopJoin, no quadratic pair space — candidates are
    provably confined to indel distance <=4), and exact levenshtein runs
    only inside blocks. The oracle is the brute-force all-pairs truth;
    completeness of the blocking makes them identical."""
    t = load(spark, sf_dir)
    # The fixture table is one small parquet file = one input partition;
    # without a spread the exploded variant side (and every levenshtein
    # verify downstream of the broadcast join) runs on a single core.
    # At 100 TB the source arrives pre-partitioned and this is a no-op
    # cost-wise (a 15k-row shuffle here buys 32x verify parallelism).
    names = t.customer.select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name")
    ).repartition(spark.sparkContext.defaultParallelism)
    # Join on a 64-bit hash of the variant, not the string: the shuffle
    # carries (key, long) and a hash collision merely adds a candidate
    # the verify rejects.
    #
    # r15 (VERDICT r14 item 4): candidates are deduplicated BEFORE the
    # banded-DP verify, as bare INT pairs, and the names are attached
    # to the surviving 17.4M distinct pairs afterwards (guide §2.3 /
    # §8: decide on lightweight proxies, attach the payload once). The
    # block join emits 31.7M (pair x shared-variant) rows — each true
    # pair ~4x via its shared deletion variants — so the r14 spelling
    # ran the banded levenshtein 31.7M times and THEN deduped 17M
    # verified rows. Int-first dedup runs the DP once per distinct
    # candidate: measured 9.7 -> 4.7 s at sf0.1 (candidates 31.7M ->
    # 17.4M DP rows; output pairs identical, 4 083 571). The r5 note
    # "verify before dedup (39s -> 17s)" predates both the banded DP
    # and this narrow spelling — its distinct() carried name strings
    # through the full multiplicity.
    variants = names.select(
        "key",
        "name",
        F.explode(
            F.transform(
                F.expr(_DEL_VARIANTS_EXPR.format(c="name")),
                lambda v: F.xxhash64(v),
            )
        ).alias("variant"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(
            F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b")
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    # THRESHOLDED levenshtein (Spark 3.5+ banded DP: O(t*len) per pair
    # instead of O(len^2), returns -1 past the threshold) on the
    # deduped pairs. The name attach is two equi-joins against the
    # customer projection — auto-broadcast at local SFs, a plain
    # key-partitioned join at scale (no forced hint: names are the
    # SF-scaling side). Codegen subexpression elimination computes the
    # dist expr once per row for both the filter and the projection.
    na = names.select(F.col("key").alias("key_a"), F.col("name").alias("name_a"))
    nb = names.select(F.col("key").alias("key_b"), F.col("name").alias("name_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), _FUZZY_T)
    return (
        cand.join(na, "key_a")
        .join(nb, "key_b")
        .where(dist >= 0)
        .select("key_a", "key_b", dist.cast("int").alias("edit_dist"))
    )


def _minhash_incremental_oracle(sf_dir: str) -> str | None:
    """Golden pairs derived from the SAME pyhash full-pipeline replay as
    dedup_minhash's oracle, restricted to pairs with exactly one endpoint
    in the delta (doc_id % 5 == 4) and re-oriented as (new_doc, old_doc)."""
    from ..goldens import values_oracle

    pairs = minhash_golden_pairs(sf_dir)
    if pairs is None:
        return None
    rows = []
    for a, b, jac in pairs:
        da, db = a % 5 == 4, b % 5 == 4
        if da == db:
            continue
        new, old = (a, b) if da else (b, a)
        rows.append((new, old, jac))
    return values_oracle(
        sorted(rows),
        ["new_doc", "old_doc", "jaccard_sim"],
        casts={"new_doc": "BIGINT", "old_doc": "BIGINT", "jaccard_sim": "DOUBLE"},
    )


@register("dedup_minhash_incremental", oracle=_minhash_incremental_oracle)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: dedup a NEW BATCH (the delta,
    here docs with doc_id % 5 == 4 standing in for today's crawl)
    against the EXISTING corpus — the production mode at 100 TB, where
    re-running the full self-join per ingest would rescan history every
    day. The historical banded-MinHash index is a write-once artifact
    (here derived in-session from the same fixture via the shared
    band_keys machinery; a deployment reads it from its bucketed table —
    same policy note as the _PAIRS_CACHE pair graph): per ingest only
    the DELTA is shingled and hashed, and the join probes delta band
    keys against historical band keys. Cost per ingest scales with
    |delta| x collision rate, not |corpus|. Intra-delta duplicates are
    deliberately out of scope (run dedup_minhash over the batch for
    those); candidates are verified with exact Jaccard >= 0.30 like the
    full operator, so the output is (new_doc, old_doc, jaccard_sim) —
    the drop/link decision for each incoming doc. Oracle: the bit-exact
    pyhash pipeline replay filtered to delta-history pairs."""
    shingled = _shingled_persisted(spark, sf_dir)
    bands = band_keys(shingled)
    is_delta = F.col("doc_id") % 5 == 4
    delta = bands.where(is_delta).select(
        F.col("doc_id").alias("new_doc"), "band", "key"
    )
    hist = bands.where(~is_delta).select(
        F.col("doc_id").alias("old_doc"), "band", "key"
    )
    candidates = (
        delta.join(hist, ["band", "key"])
        .select("new_doc", "old_doc")
        .dropDuplicates(["new_doc", "old_doc"])
    )
    sn = shingled.select(F.col("doc_id").alias("new_doc"), F.col("shingles").alias("sn"))
    so = shingled.select(F.col("doc_id").alias("old_doc"), F.col("shingles").alias("so"))
    pairs = candidates.join(sn, "new_doc").join(so, "old_doc")
    jac = F.size(F.array_intersect("sn", "so")) / F.size(
        F.array_union("sn", "so")
    ).cast("double")
    return pairs.where(jac >= 0.30).select(
        "new_doc", "old_doc", F.round(jac, 4).alias("jaccard_sim")
    )


@register(
    "dedup_exact_incremental",
    oracle="""
    WITH hist AS (
      SELECT sha256(lower(text)) AS content_hash, MIN(doc_id) AS keeper_doc
      FROM documents
      GROUP BY sha256(lower(text))
    ),
    delta AS (
      SELECT doc_id + 1000000 AS new_doc, sha256(lower(text)) AS content_hash
      FROM documents WHERE doc_id % 7 = 3
    )
    SELECT d.new_doc, h.keeper_doc
    FROM delta d JOIN hist h USING (content_hash)
    """,
)
def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate check for an incoming batch against corpus
    history — the cheap first rung of the incremental ladder
    dedup_minhash_incremental tops: hash only the DELTA, equi-join its
    digests against the historical (content_hash -> keeper) table, which
    at 100 TB is a maintained build artifact (the output of
    dedup_exact_hash, merged per ingest), not something recomputed.
    The fixture corpus carries no exact duplicates at oracle scale, so
    the incoming batch is synthesized in-query (the text_pii_scrub
    enrichment idiom): every 7th doc re-arrives under a new id — a
    perfect re-crawl, the dominant real-world case. Output: each new doc
    with the canonical keeper it must defer to (A16 'first writer
    wins'). The join key is the 32-byte digest, so the shuffle carries
    (digest, id) pairs only; at deployment the history side is bucketed
    on content_hash and the probe is co-located."""
    t = load(spark, sf_dir)
    digest = F.sha2(F.lower("text").cast("binary"), 256)
    hist = (
        t.documents.select(digest.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc"))
    )
    delta = t.documents.where(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 1_000_000).alias("new_doc"),
        digest.alias("content_hash"),
    )
    return delta.join(hist, "content_hash").select("new_doc", "keeper_doc")


#: SemDeDup cell-count control: TOTAL cells k = ceil(N / CELL_ROWS)
#: (floor SEMDEDUP_K_MIN), i.e. k grows PROPORTIONALLY to N so the
#: expected cell SIZE stays constant — the paper's own production
#: control, and the fix for r5's ceil(sqrt(N)) posture whose within-cell
#: pair work totalled O(N^1.5) (VERDICT r5 item 4). A k ∝ N flat
#: quantizer would make the per-vector assignment O(N·k) = O(N²/S), so
#: assignment is HIERARCHICAL: ceil(sqrt(k)) coarse seeds (broadcast,
#: sqrt(k)·dim stays tiny at any N), then up to ceil(k/k1) sub-seeds
#: WITHIN each coarse cell, equi-joined on the coarse cell id — per-row
#: work O(sqrt(k)) at each level, O(N·sqrt(k)) total, and no broadcast
#: ever exceeds sqrt(k)·dim. 0.40 sits just above this synthetic
#: corpus's within-cell cosine p99.9 (max observed 0.493), mirroring
#: the 0.30 convention of dedup_embedding_cosine.
SEMDEDUP_K_MIN = 8
SEMDEDUP_TAU = 0.40
SEMDEDUP_CELL_ROWS = 64

_SEMANTIC_ORACLE = f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    kk AS (
      SELECT k, CAST(ceil(sqrt(k)) AS BIGINT) AS k1,
             CAST(ceil(k / ceil(sqrt(k))) AS BIGINT) AS k2
      FROM (
        SELECT GREATEST({SEMDEDUP_K_MIN},
                        CAST(ceil(COUNT(*) / {SEMDEDUP_CELL_ROWS}.0)
                             AS BIGINT)) AS k
        FROM emb
      )
    ),
    coarse AS (
      SELECT vec_id AS cid1, v AS cv1 FROM emb JOIN kk ON vec_id < kk.k1
    ),
    a1 AS (
      SELECT vec_id, v, cid1 FROM (
        SELECT e.vec_id, e.v, c.cid1,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c.cv1), c.cid1)
                 AS rn
        FROM emb e CROSS JOIN coarse c
      ) t WHERE rn = 1
    ),
    sub AS (
      SELECT cid1, vec_id AS cid2, v AS cv2 FROM (
        SELECT cid1, vec_id, v,
               row_number() OVER (PARTITION BY cid1 ORDER BY vec_id) AS rs
        FROM a1
      ) t JOIN kk ON rs <= kk.k2
    ),
    a AS (
      SELECT vec_id, v, cell FROM (
        SELECT x.vec_id, x.v, s.cid2 AS cell,
               row_number() OVER (PARTITION BY x.vec_id
                                  ORDER BY list_distance(x.v, s.cv2), s.cid2)
                 AS rn
        FROM a1 x JOIN sub s ON x.cid1 = s.cid1
      ) t WHERE rn = 1
    ),
    cand AS (
      SELECT y.vec_id AS vec_id, x.vec_id AS earlier_id,
             list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))) AS cos
      FROM a x JOIN a y ON x.cell = y.cell AND y.vec_id > x.vec_id
    ),
    dup AS (
      SELECT vec_id, earlier_id, cos FROM (
        SELECT vec_id, earlier_id, cos,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, earlier_id) AS rn
        FROM cand WHERE cos >= {SEMDEDUP_TAU}
      ) t WHERE rn = 1
    )
    SELECT a.vec_id,
           CAST(a.cell AS BIGINT) AS cell,
           d.vec_id IS NOT NULL AS is_dup,
           d.earlier_id AS dup_of,
           ROUND(d.cos, 4) AS dup_cos
    FROM a LEFT JOIN dup d USING (vec_id)
"""


@register("dedup_semantic", oracle=_SEMANTIC_ORACLE)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then prune any vector whose cosine to an
    earlier-kept vector IN THE SAME CELL exceeds SEMDEDUP_TAU — the
    "remove semantic duplicates the lexical dedups can't see" stage that
    sits between MinHash (surface overlap) and model-based filtering in
    a modern curation stack. Two deliberate simplifications keep every
    step SQL-checkable: the quantizer seeds are smallest-id vectors (the
    paper's k-means converges to an arbitrary local optimum anyway;
    embed_kmeans registers the iterated version), and keep-priority is
    smallest-vec-id (the paper keeps an arbitrary representative).

    Scale shape (the r6 rework — see SEMDEDUP_CELL_ROWS): k = ceil(N/S)
    total cells keeps the expected cell SIZE constant, so the
    within-cell pair join totals O(N·S) — LINEAR in the corpus, not the
    r5 posture's O(N^1.5). Assignment is hierarchical so k ∝ N never
    means k-way argmin per row: level 1 assigns each vector to one of
    ceil(sqrt(k)) coarse seeds (broadcast, sqrt(k)·dim bytes); level 2
    re-assigns within the coarse cell to one of <= ceil(k/k1) sub-seeds
    via an EQUI-join on the coarse cell id — sub-seeds shuffle (they
    are k rows, never broadcast), vectors shuffle once per level, and
    per-row work is O(sqrt(k)) at each level. Raw vectors never leave
    their final cell's partition; the verdict table is one row per
    vector.

    r14 optimization round (value-identical): the corpus frame
    repartitions to the session parallelism before the distance folds —
    the fixture is ONE parquet split, so both assignment levels and the
    within-cell verify otherwise evaluate inside the single scan task
    (the _nsw_graph lesson); `assigned` is localCheckpoint-materialized
    because THREE consumers read it (both pair sides + the final
    verdict join) — unmaterialized, the two-level assignment executes
    three times; and the verify folds each vector's norm ONCE and
    multiplies per pair (same doubles, same product, bit-identical
    cosines with 3x fewer interpreted-HOF folds)."""
    t = load(spark, sf_dir)
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    emb = fanout_repartition(
        t.embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        par,
    )
    # k = ceil(N / CELL_ROWS); k1 = ceil(sqrt(k)) coarse seeds; k2 =
    # ceil(k/k1) sub-seeds per coarse cell. Seeds are smallest-id
    # vectors, selected as vec_id < k1 (this fixture's ids are dense
    # from 0 — the PQ codebooks' assumption; arbitrary-id corpora would
    # take a two-phase top-k via TakeOrderedAndProject instead). The
    # 1-row (k, k1, k2) frame broadcasts — no global window, no collect.
    k = F.greatest(
        F.lit(SEMDEDUP_K_MIN),
        F.ceil(F.count(F.lit(1)) / SEMDEDUP_CELL_ROWS).cast("bigint"),
    )
    kk = emb.agg(
        k.alias("k"),
        F.ceil(F.sqrt(k)).cast("bigint").alias("k1"),
        F.ceil(k / F.ceil(F.sqrt(k))).cast("bigint").alias("k2"),
    )
    coarse = (
        emb.crossJoin(F.broadcast(kk))
        .where(F.col("vec_id") < F.col("k1"))
        .select(F.col("vec_id").alias("cid1"), F.col("v").alias("cv1"))
    )

    w1 = Window.partitionBy("vec_id").orderBy("d2", "cid1")
    a1 = (
        emb.crossJoin(F.broadcast(coarse))
        .select("vec_id", "v", "cid1", sq_l2(F.col("v"), F.col("cv1")).alias("d2"))
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") == 1)
        .select("vec_id", "v", "cid1")
    )
    # Sub-seeds: the k2 smallest-id members of each coarse cell. The
    # window runs partitioned by cid1 (cells are ~balanced by the
    # smallest-id seeding; a production corpus would salt a hot cell).
    sub = (
        a1.withColumn(
            "rs",
            F.row_number().over(Window.partitionBy("cid1").orderBy("vec_id")),
        )
        .crossJoin(F.broadcast(kk.select("k2")))
        .where(F.col("rs") <= F.col("k2"))
        .select("cid1", F.col("vec_id").alias("cid2"), F.col("v").alias("cv2"))
    )
    w2 = Window.partitionBy("vec_id").orderBy("d2", "cid2")
    assigned = (
        a1.join(sub, "cid1")
        .select("vec_id", "v", "cid2", sq_l2(F.col("v"), F.col("cv2")).alias("d2"))
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "v",
            F.col("cid2").alias("cell"),
            F.sqrt(dot_double(F.col("v"), F.col("v"))).alias("nrm"),
        )
        .localCheckpoint()
    )
    # r14 second pass (guide §4.2, the dedup_embedding bucket recipe):
    # the within-cell pair join + per-vector best-duplicate window run
    # as ONE per-cell NumPy kernel on the shared cosine kernel
    # (_PAIR_TILE), so the >= TAU cut and the (cos DESC, earlier_id)
    # pick see bit-identical doubles and the DuckDB oracle replay is
    # unchanged (re-verified at 3 SFs). Pair space per cell is the
    # identical within-cell all-pairs the equi-join materialized.
    import numpy as np

    tile = _PAIR_TILE

    def _cell_dups(pdf):
        import pandas as pd

        empty = pd.DataFrame(
            {"vec_id": [], "earlier_id": [], "cos": []}
        ).astype({"vec_id": "int64", "earlier_id": "int64", "cos": "float64"})
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        nrm = pdf["nrm"].to_numpy()
        # earlier ids only (tri=-1); row_number() over (cos DESC,
        # earlier_id ASC) is the first max, and it clears the TAU cut
        # iff some earlier cell does
        cos, earlier = _argmax_ids_tiled(V, V, nrm, nrm, ids, tile, tri=-1)
        hit = cos >= SEMDEDUP_TAU
        if not hit.any():
            return empty
        return pd.DataFrame(
            {"vec_id": ids[hit], "earlier_id": earlier[hit], "cos": cos[hit]}
        )

    dup = assigned.groupBy("cell").applyInPandas(
        _cell_dups, "vec_id long, earlier_id long, cos double"
    )
    return assigned.join(dup, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        F.col("earlier_id").isNotNull().alias("is_dup"),
        F.col("earlier_id").alias("dup_of"),
        F.round("cos", 4).alias("dup_cos"),
    )


#: Tracking parameters stripped by URL canonicalization (the standard
#: crawl-dedup blocklist: Google Analytics utm_*, bare referrer tags,
#: Facebook click ids). Content-bearing params (page=) survive.
URL_TRACKING_RE = "^(utm_[a-z]+|ref|fbclid)="

#: Deterministic messy-URL derivation from doc_id/source (the testdata
#: carries no URL column): groups of 4 docs share one canonical page,
#: decorated per-doc with case/www/port/tracking/fragment noise. The
#: SAME arithmetic appears in the oracle, so canonicalization is
#: value-checked end to end.
_RAW_URL_DUCK = """
    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Site' ELSE 'site' END)
    || CAST(doc_id // 40 AS VARCHAR) || '.example.com'
    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
    || '/articles/' || CAST(doc_id // 4 AS VARCHAR)
    || (CASE doc_id % 4 WHEN 1 THEN '?utm_source=feed&page=2'
                        WHEN 2 THEN '?utm_medium=email&utm_term=a'
                        WHEN 3 THEN '?ref=rss' ELSE '' END)
    || (CASE WHEN doc_id % 6 = 0 THEN '#section2' ELSE '' END)
"""

_URL_CANON_ORACLE = f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_DUCK} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^https?://(?:WWW\\.|www\\.)?([^/:?#]+)', 1))
               AS host,
             regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1) AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS qs
      FROM raw
    ),
    canon AS (
      SELECT doc_id, url,
             'https://' || host || path ||
             CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
      FROM (
        SELECT *, COALESCE(array_to_string(list_sort(list_filter(
                 string_split(qs, '&'),
                 t -> t <> '' AND NOT regexp_matches(t, '{URL_TRACKING_RE}'))),
               '&'), '') AS kept
        FROM parts)
    )
    SELECT doc_id, url, canonical_url,
           doc_id <> MIN(doc_id) OVER (PARTITION BY canonical_url) AS is_dup,
           CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY canonical_url)
                THEN MIN(doc_id) OVER (PARTITION BY canonical_url) END
             AS dup_of
    FROM canon
"""


def raw_url_col() -> Column:
    """The deterministic messy-URL derivation from doc_id (the Spark
    mirror of _RAW_URL_DUCK): groups of 4 docs share one canonical
    page under per-doc case/www/port/tracking/fragment noise."""
    did = F.col("doc_id")
    return F.concat(
        F.when(did % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(did % 3 == 0, F.lit("WWW.Site")).otherwise(F.lit("site")),
        F.floor(did / 40).cast("string"),
        F.lit(".example.com"),
        F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/articles/"),
        F.floor(did / 4).cast("string"),
        F.when(did % 4 == 1, F.lit("?utm_source=feed&page=2"))
        .when(did % 4 == 2, F.lit("?utm_medium=email&utm_term=a"))
        .when(did % 4 == 3, F.lit("?ref=rss"))
        .otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("#section2")).otherwise(F.lit("")),
    )


def canonical_url_col(url: Column) -> Column:
    """Canonicalize a URL Column: https scheme, lowercased de-www'd
    host, default port + fragment dropped, tracking params
    (URL_TRACKING_RE) removed, surviving params sorted. Pure JVM-side
    Column work — shared by dedup_url_canonical and corpus_curate_e2e."""
    host = F.lower(
        F.regexp_extract(url, r"^https?://(?:WWW\.|www\.)?([^/:?#]+)", 1)
    )
    path = F.regexp_extract(url, r"^https?://[^/]+(/[^?#]*)", 1)
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qs, "&"),
                lambda tok: (tok != "") & ~tok.rlike(URL_TRACKING_RE),
            )
        ),
        "&",
    )
    return F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
    )


#: Canonical-URL CTE text (raw + parts + canon), reusable inside larger
#: oracles — yields `canon(doc_id, url, canonical_url)`.
_URL_CANON_CTES = f"""
    raw AS (
      SELECT doc_id, {_RAW_URL_DUCK} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^https?://(?:WWW\\.|www\\.)?([^/:?#]+)', 1))
               AS host,
             regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1) AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS qs
      FROM raw
    ),
    canon AS (
      SELECT doc_id, url,
             'https://' || host || path ||
             CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
      FROM (
        SELECT *, COALESCE(array_to_string(list_sort(list_filter(
                 string_split(qs, '&'),
                 t -> t <> '' AND NOT regexp_matches(t, '{URL_TRACKING_RE}'))),
               '&'), '') AS kept
        FROM parts)
    )
"""


@register("dedup_url_canonical", oracle=_URL_CANON_ORACLE)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the FIRST stage of every web-crawl
    pipeline (before any content hashing): normalize scheme to https,
    lowercase the host and strip `www.`, drop the default port and the
    fragment, and remove tracking parameters (URL_TRACKING_RE:
    utm_*/ref/fbclid) while KEEPING content-bearing ones (a `page=2`
    survives and correctly refuses to merge with page 1); then dedup on
    the canonical form with min-doc_id keep priority. The testdata has
    no URL column, so both engines derive the same messy URLs from
    doc_id arithmetic — groups of four docs share a canonical page under
    different decorations, and the differential check proves the
    normalizer folds exactly those together.

    Scale shape: canonicalization is per-row Column work (regexps + an
    array filter/sort over query params, all JVM-side); the dedup is one
    window over the canonical key — the same single-shuffle verdict
    shape as dedup_exact_hash, with the canonical URL as the hash."""
    t = load(spark, sf_dir)
    did = F.col("doc_id")
    raw = t.documents.select("doc_id", raw_url_col().alias("url"))
    canon = raw.select(
        "doc_id", "url", canonical_url_col(F.col("url")).alias("canonical_url")
    )
    w = Window.partitionBy("canonical_url")
    keeper = F.min("doc_id").over(w)
    return canon.select(
        "doc_id",
        "url",
        "canonical_url",
        (did != keeper).alias("is_dup"),
        F.when(did != keeper, keeper).alias("dup_of"),
    )


#: Prefix-filtering Jaccard threshold. 0.80 on purpose, NOT the df-cap
#: operator's 0.30: prefix length is |x| - ceil(tau*|x|) + 1, so at 0.3
#: the "prefix" keeps ~70% of every doc's tokens and the candidate join
#: degenerates toward the full inverted index (measured 648k candidates
#: for 256 true pairs at sf0.1), while at 0.8 it keeps ~20%. Prefix
#: filtering is the HIGH-threshold tool of the family — near-exact-copy
#: detection after MinHash/df-cap handle the fuzzy 0.3 regime. On this
#: corpus every J>=0.3 pair is also J>=0.8 (near-exact copies), so the
#: two thresholds return the same pair set.
PREFIX_TAU = 0.80

_PREFIX_FILTER_ORACLE = """
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+2], ' ')
                       FOR i IN range(1, len(words) - 1)]) AS shingle
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
              FROM documents)
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.80
"""


@register("dedup_prefix_filter", oracle=_PREFIX_FILTER_ORACLE)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (Chaudhuri et
    al. ICDE'06 / Xiao et al. PPJoin) — the third candidate-generation
    strategy in the family, with a different guarantee: dedup_ngram_jaccard
    df-caps hot shingles (bounded work, recall priced by an eval query)
    and dedup_minhash gambles on banding probability; prefix filtering is
    LOSSLESS. Order every doc's shingles by a global rarity order
    (df ASC, shingle), emit only the first |x| - ceil(tau*|x|) + 1 as
    join keys: two sets with J >= tau MUST collide on at least one
    prefix token, so the equi-join on prefix tokens generates a complete
    candidate set — the oracle is the full brute-force self-join, and
    the differential check IS the completeness proof on this corpus.

    Scale shape: df table + rarity ranking are vocabulary-sized
    aggregates; the candidate join fans out only on RARE tokens (rank
    orders hot shingles to the suffix, exactly inverse to the df-cap's
    discard), then exact verification joins the inverted index back on
    the candidate pairs. The prefix join's worst case is still the
    rarity distribution's head — production PPJoin adds the positional
    filter; the Spark shape (explode -> rank -> equi-join -> verify) is
    unchanged by that refinement."""
    # r14 optimization round (value-identical): the shingle index is
    # persisted — FIVE consumers read it (df table, rarity ranking,
    # both verify sides, sizes), each of which otherwise re-executed
    # the explode + dedup from parquet — and the prefix-token frame is
    # persisted too because the candidate self-join reads it on both
    # sides (two executions of the double-window ranking). persist(),
    # not localCheckpoint: lazy caching keeps the whole op one
    # parallel job instead of stacking materialization barriers.
    sh = uncapped_shingle_index(spark, sf_dir).persist()
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w_doc))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    )
    prefix = ranked.where(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(PREFIX_TAU) * F.col("n")) + 1
    ).select("doc_id", "shingle", "n").persist()
    # size filter (SSJoin): J >= tau forces tau*|x| <= |y| <= |x|/tau,
    # so size-incompatible collisions drop before the distinct/verify.
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= PREFIX_TAU * F.col("a.n"))
            & (F.col("a.n") >= PREFIX_TAU * F.col("b.n"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .where(jac >= PREFIX_TAU)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_SOFT_REWEIGHT_ORACLE = """
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+2], ' ')
                       FOR i IN range(1, len(words) - 1)]) AS shingle
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
              FROM documents)
      )
    ),
    dfs AS (
      SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
    ),
    per_doc AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_shingles,
             SUM(ROUND(log2(df), 6)) AS s_log
      FROM sh JOIN dfs USING (shingle)
      GROUP BY sh.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           ROUND(p.s_log / p.n_shingles, 4) AS commonness,
           COALESCE(ROUND(1.0 / (1.0 + p.s_log / p.n_shingles), 4), 1.0)
             AS sample_weight
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@register("dedup_soft_reweight", oracle=_SOFT_REWEIGHT_ORACLE)
def dedup_soft_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT deduplication by reweighting instead of dropping (the
    SoftDedup idea, He et al. 2024: down-weight common data in the
    training objective rather than discarding it — hard thresholds lose
    the information that a document was *mildly* duplicated). Each doc
    gets a commonness score = mean log2(document frequency) over its
    3-word shingles (0 when every shingle is unique corpus-wide) and a
    sampling weight 1/(1 + commonness) for the training mix; a perfect
    second copy of a doc pushes every shingle df to 2 and the weight to
    1/2. Shingle-less docs (< 3 words) keep weight 1.0 with null
    commonness.

    Scale shape: rides the SAME uncapped shingle universe as the
    Jaccard/containment family (uncapped_shingle_index) but never
    self-joins it — only two combinable hash aggregates (df per
    shingle, mean per doc) and a join-back keyed on the shingle, so hot
    boilerplate shingles cost partial-aggregate rows, never candidate
    pairs. Per-term log2 is rounded to 6dp before the lattice-exact
    per-doc sum (the text_tfidf libm convention).

    Reference: no statistics surface in the reference ETL (SURVEY
    section 2 Part C extension, dedup family)."""
    t = load(spark, sf_dir)
    sh = uncapped_shingle_index(spark, sf_dir)
    dfs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(dfs, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.round(F.log2("df"), 6)).alias("s_log"),
        )
    )
    commonness = F.col("s_log") / F.col("n_shingles")
    return (
        t.documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias(
                "n_shingles"
            ),
            F.round(commonness, 4).alias("commonness"),
            F.coalesce(
                F.round(1.0 / (1.0 + commonness), 4), F.lit(1.0)
            ).alias("sample_weight"),
        )
    )


_CLUSTER_HIST_ORACLE = (
    _CLUSTERS_CTE
    + """
    , per_cluster AS (
      SELECT cluster_id, COUNT(*) AS n FROM lbl GROUP BY cluster_id
    ),
    hist AS (
      SELECT n AS cluster_size, COUNT(*) AS n_clusters,
             SUM(n) AS n_docs
      FROM per_cluster GROUP BY n
      UNION ALL
      SELECT 1,
             (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM lbl),
             (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM lbl)
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(n_docs / (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents), 4)
             AS pct_corpus
    FROM hist
"""
)


@register("dedup_cluster_histogram", oracle=_CLUSTER_HIST_ORACLE)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the corpus-health report a
    curation run publishes after clustering (RefinedWeb/Falcon-style
    "how much of the corpus is duplicated, and in how big groups"):
    one row per cluster size with cluster count, doc count, and corpus
    share; singletons (docs in NO near-dup pair) are the size-1 row, so
    the n_docs column sums to the corpus.

    Plan: consumes dedup_clusters' labels (the pair graph + CC run once
    per session via the shared checkpoint cache) and reduces them with
    two combinable aggregates — cluster sizes, then size histogram —
    plus a 1-row corpus total; output is bounded by the largest cluster
    size. Cites dedup_clusters for the clustering definition; the
    oracle derives from the SAME recursive-closure CTE prefix."""
    t = load(spark, sf_dir)
    # Checkpoint the labels ONCE: the histogram fans out to three
    # consumers (sizes, clustered count, pct denominator), and without
    # this each consumer re-executes the whole pair-graph + CC lineage
    # (measured 3x the clustering cost at docs10 before the fix).
    lbl = dedup_clusters(spark, sf_dir).localCheckpoint()
    per_cluster = lbl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    hist = per_cluster.groupBy(F.col("n").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n").alias("n_docs"),
    )
    totals = t.documents.agg(
        F.count(F.lit(1)).alias("corpus_n")
    ).crossJoin(lbl.agg(F.count(F.lit(1)).alias("clustered_n")))
    singleton = totals.select(
        F.lit(1).cast("bigint").alias("cluster_size"),
        (F.col("corpus_n") - F.col("clustered_n")).alias("n_clusters"),
        (F.col("corpus_n") - F.col("clustered_n")).alias("n_docs"),
    )
    return (
        hist.select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
        .unionByName(singleton)
        .crossJoin(F.broadcast(totals.select("corpus_n")))
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            F.round(
                F.col("n_docs") / F.col("corpus_n").cast("double"), 4
            ).alias("pct_corpus"),
        )
    )


_DEDUP_MANIFEST_ORACLE = (
    _CLUSTERS_CTE
    + """
    , ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY sha256(lower(text))) AS keeper
      FROM documents
    )
    SELECT d.doc_id,
           CASE WHEN e.keeper <> d.doc_id THEN 'drop_exact'
                WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> d.doc_id
                  THEN 'drop_near'
                ELSE 'keep' END AS action,
           CASE WHEN e.keeper <> d.doc_id THEN e.keeper
                WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> d.doc_id
                  THEN l.cluster_id
                ELSE d.doc_id END AS canonical_id
    FROM documents d
    JOIN ex e ON e.doc_id = d.doc_id
    LEFT JOIN lbl l ON l.doc_id = d.doc_id
"""
)


@register("corpus_dedup_manifest", oracle=_DEDUP_MANIFEST_ORACLE)
def corpus_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE deliverable of a dedup run: one row per document with its
    keep/drop verdict and the canonical id it defers to — what the
    downstream training-mix builder actually consumes (the pairwise and
    cluster operators are this manifest's evidence). Ladder semantics:
    exact content twins drop first (canonical = the hash group's min
    doc_id, A16 first-writer-wins); surviving docs inside a near-dup
    cluster defer to the cluster's min doc_id. Those two canonicals
    compose cleanly: identical docs share every shingle, so a cluster's
    min doc_id is always itself an exact keeper.

    Plan: the sha256 groupBy keeper join (dedup_exact_hash's shape) +
    ONE left join against dedup_clusters' labels (session-cached pair
    graph; labels are the output-bound frame, not the corpus). Output
    is exactly one row per input doc."""
    t = load(spark, sf_dir)
    digest = F.sha2(F.lower("text").cast("binary"), 256)
    ex = (
        t.documents.select("doc_id", digest.alias("h"))
        .withColumn(
            "keeper", F.min("doc_id").over(Window.partitionBy("h"))
        )
        .select("doc_id", "keeper")
    )
    # Materialize the labels (the dedup_cluster_histogram lesson): even a
    # single downstream join can re-execute the pair-graph + CC lineage
    # through AQE's staged re-planning — measured 2x the clustering cost
    # at docs10 before this checkpoint.
    lbl = (
        dedup_clusters(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .localCheckpoint()
    )
    near = F.col("cluster_id").isNotNull() & (
        F.col("cluster_id") != F.col("doc_id")
    )
    exact = F.col("keeper") != F.col("doc_id")
    return (
        t.documents.select("doc_id")
        .join(ex, "doc_id")
        .join(lbl, "doc_id", "left")
        .select(
            "doc_id",
            F.when(exact, F.lit("drop_exact"))
            .when(near, F.lit("drop_near"))
            .otherwise(F.lit("keep"))
            .alias("action"),
            F.when(exact, F.col("keeper"))
            .when(near, F.col("cluster_id"))
            .otherwise(F.col("doc_id"))
            .alias("canonical_id"),
        )
    )


#: Banding configs to price, all with r*b = 32 hashes and power-of-two
#: r/b so the collision curve computes by EXACT repeated squaring (no
#: pow(), whose integer-exponent rounding is not pinned cross-engine).
LSH_TUNING_CONFIGS = ((2, 16), (4, 8), (8, 4))
LSH_TUNING_FLOOR = 0.02
LSH_DUP_TAU = 0.30


def _sq_sql(expr: str, k: int) -> str:
    """expr^k as repeated squaring text, k a power of two."""
    while k > 1:
        expr = f"({expr} * {expr})"
        k //= 2
    return expr


def _lsh_p_sql(r: int, b: int) -> str:
    s_r = _sq_sql("s", r)
    miss = _sq_sql(f"(1 - {s_r})", b)
    return f"1 - {miss}"


_LSH_TUNING_ORACLE = f"""
    {_CAPPED_PAIRS_CTE},
    scored AS (
      SELECT ROUND(CAST(n_common AS DOUBLE)
                   / (sa.n + sb.n - n_common), 4) AS s
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
            >= {LSH_TUNING_FLOOR}
    ),
    pu AS (
      SELECT s,
             {", ".join(
                 f"CAST(floor(({_lsh_p_sql(r, b)}) * 1000000) AS BIGINT)"
                 f" AS p_r{r}b{b}"
                 for r, b in LSH_TUNING_CONFIGS
             )}
      FROM scored
    )
    {" UNION ALL ".join(
        f'''SELECT 'r{r}b{b}' AS config,
           CAST({r} AS BIGINT) AS rows_per_band, CAST({b} AS BIGINT) AS bands,
           CAST(SUM(CASE WHEN s >= {LSH_DUP_TAU} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_pairs,
           CASE WHEN SUM(CASE WHEN s >= {LSH_DUP_TAU} THEN 1 ELSE 0 END) > 0
                THEN ROUND(SUM(CASE WHEN s >= {LSH_DUP_TAU}
                               THEN p_r{r}b{b} ELSE 0 END)
                     / 1e6 / SUM(CASE WHEN s >= {LSH_DUP_TAU} THEN 1 ELSE 0 END),
                     4) END AS exp_recall_dups,
           CAST(SUM(CASE WHEN s < {LSH_DUP_TAU} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_near_pairs,
           CASE WHEN SUM(CASE WHEN s < {LSH_DUP_TAU} THEN 1 ELSE 0 END) > 0
                THEN ROUND(SUM(CASE WHEN s < {LSH_DUP_TAU}
                               THEN p_r{r}b{b} ELSE 0 END)
                     / 1e6 / SUM(CASE WHEN s < {LSH_DUP_TAU} THEN 1 ELSE 0 END),
                     4) END AS exp_candidate_rate_near
        FROM pu'''
        for r, b in LSH_TUNING_CONFIGS
    )}
"""


@register("dedup_lsh_tuning", oracle=_LSH_TUNING_ORACLE)
def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding tuner: price the (rows-per-band, bands) tradeoff at
    a fixed 32-hash budget AGAINST THIS CORPUS — for each config, the
    expected candidate recall over the observed duplicate pairs
    (Jaccard >= {LSH_DUP_TAU}) and the expected false-candidate rate
    over the observed near-miss band ({LSH_TUNING_FLOOR}-{LSH_DUP_TAU}),
    using the analytic collision curve p = 1-(1-s^r)^b evaluated at
    each REAL pair's similarity. This is how dedup_minhash's (4, 8)
    setting is justified by measurement instead of folklore: more rows
    per band = sharper curve = fewer false candidates but colder recall.

    Determinism/scale: pair similarities come from the shared capped
    inverted index (one equi-join, output-bound); the collision curve
    computes by EXACT repeated squaring of the 4-dp-rounded s (both
    engines multiply the same doubles in the same tree — no pow());
    per-pair probabilities quantize to integer micro-units so the
    per-config means are exact integer sums. Output: 3 config rows."""
    pairs = scored_pairs_from_capped_frame(
        spark,
        sf_dir,
        "jaccard",
        lambda c, na, nb: c / (na + nb - c),
        LSH_TUNING_FLOOR,
        "s",
    )

    def _sq(col, k):
        while k > 1:
            col = col * col
            k //= 2
        return col

    cols = []
    for r, b in LSH_TUNING_CONFIGS:
        p = 1 - _sq(1 - _sq(F.col("s"), r), b)
        cols.append(
            F.floor(p * 1_000_000).cast("bigint").alias(f"p_r{r}b{b}")
        )
    pu = pairs.select("s", *cols).persist()
    frames = []
    for r, b in LSH_TUNING_CONFIGS:
        is_dup = F.col("s") >= LSH_DUP_TAU
        pcol = F.col(f"p_r{r}b{b}")
        n_dup = F.sum(is_dup.cast("long"))
        n_near = F.sum((~is_dup).cast("long"))
        frames.append(
            pu.agg(
                F.lit(f"r{r}b{b}").alias("config"),
                F.lit(r).cast("bigint").alias("rows_per_band"),
                F.lit(b).cast("bigint").alias("bands"),
                n_dup.cast("bigint").alias("n_dup_pairs"),
                F.when(
                    n_dup > 0,
                    F.round(
                        F.sum(F.when(is_dup, pcol).otherwise(0)) / 1e6 / n_dup,
                        4,
                    ),
                ).alias("exp_recall_dups"),
                n_near.cast("bigint").alias("n_near_pairs"),
                F.when(
                    n_near > 0,
                    F.round(
                        F.sum(F.when(~is_dup, pcol).otherwise(0))
                        / 1e6
                        / n_near,
                        4,
                    ),
                ).alias("exp_candidate_rate_near"),
            )
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out


_CROSS_SOURCE_ORACLE = f"""
    {_CAPPED_PAIRS_CTE},
    dup_pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.30
    ),
    tagged AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b
      FROM dup_pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    ),
    src_sizes AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
    SELECT t.source_a, t.source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
           ROUND(COUNT(*) / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6)
             AS overlap_rate,
           t.source_a = t.source_b AS within_source
    FROM tagged t
    JOIN src_sizes sa ON sa.source = t.source_a
    JOIN src_sizes sb ON sb.source = t.source_b
    GROUP BY t.source_a, t.source_b, sa.n, sb.n
"""


@register("dedup_cross_source_matrix", oracle=_CROSS_SOURCE_ORACLE)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (the
    dedup_ngram_jaccard >= 0.30 band) rolled up by the SOURCE pair of
    their endpoints, normalized by the smaller source's size — the
    provenance question a corpus audit asks before weighting sources
    ("is source X substantially a mirror of source Y? which sources
    self-plagiarize?"). A high off-diagonal cell means two feeds carry
    the same content and their mix weights double-count it; the
    within_source diagonal is each feed's internal redundancy.

    Scale shape: rides the session-materialized candidate frame (pair
    generation is output-bound, the dedup_ngram_jaccard plan, built
    once per session); the source tags join against the (doc ->
    source) projection WITHOUT a broadcast hint — that frame is
    corpus-proportional, so AQE broadcasts it at fixture scale and
    shuffle-joins beyond — and the matrix reduces onto the
    SOURCE x SOURCE domain. Exact counts, one division per cell."""
    t = load(spark, sf_dir)
    pairs = scored_pairs_from_capped_frame(
        spark,
        sf_dir,
        "jaccard",
        lambda c, na, nb: c / (na + nb - c),
        0.30,
        "jaccard",
    )
    src = t.documents.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("sb"),
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    sizes = t.documents.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("n").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_dup_pairs",
            F.round(
                F.col("n_dup_pairs")
                / F.least("na", "nb").cast("double"),
                6,
            ).alias("overlap_rate"),
            (F.col("source_a") == F.col("source_b")).alias("within_source"),
        )
    )


_SHINGLE_DF_ORACLE = f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+2], ' ')
                       FOR i IN range(1, len(words) - 1)]) AS shingle
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
              FROM documents)
      )
    ),
    dfs AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    hist AS (
      SELECT CAST(floor(ln(df) / ln(2.0)) AS BIGINT) AS df_bucket_log2,
             COUNT(*) AS n_shingles,
             SUM(df) AS n_postings,
             SUM(CASE WHEN df > {JACCARD_DF_CAP} THEN 1 ELSE 0 END)
               AS n_capped,
             SUM(CASE WHEN df > {JACCARD_DF_CAP} THEN df ELSE 0 END)
               AS postings_capped
      FROM dfs GROUP BY 1
    )
    SELECT df_bucket_log2,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_postings AS BIGINT) AS n_postings,
           CAST(n_capped AS BIGINT) AS n_shingles_capped,
           ROUND(SUM(postings_capped) OVER ()
                 / CAST(SUM(n_postings) OVER () AS DOUBLE), 6)
             AS postings_dropped_share
    FROM hist
"""


@register("dedup_shingle_df_histogram", oracle=_SHINGLE_DF_ORACLE)
def dedup_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency histogram of the dedup shingle universe
    (log2 buckets) with the share of index POSTINGS the
    JACCARD_DF_CAP={JACCARD_DF_CAP} policy drops — the tuning
    instrument for the cap every inverted-index operator in this module
    rides (ngram_jaccard/containment/prefix_filter/soft_reweight):
    the cap bounds the candidate join quadratically AND caps recall on
    boilerplate-only overlaps, and this histogram is how you price that
    trade on a NEW corpus before running the expensive joins (a fat
    high-df tail = heavy boilerplate = the cap is doing real work; a
    clean power law = the cap is dormant insurance).

    Scale/determinism: one distinct + one combinable df count (the
    exact first stage of the shared index build), reduced onto the
    LOG2-bucket domain (<= ~30 rows at any corpus size); the dropped
    share is one window over that frame. Exact integers + one exact
    division."""
    t = load(spark, sf_dir)
    words = F.split(F.lower("text"), " ")
    # k=3: DuckDB's words[i:i+2] slice is INCLUSIVE (three words) — the
    # same 3-gram width every inverted-index operator in this module uses
    # (r14: repartition before the explode — one-split fixture, the
    # uncapped_shingle_index convention)
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sh = (
        fanout_repartition(t.documents, par)
        .select(
            "doc_id", F.explode(shingle_array(words, 3)).alias("shingle")
        )
        .distinct()
    )
    dfs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    bucket = F.floor(F.log("df") / F.log(F.lit(2.0))).cast("bigint")
    hist = dfs.groupBy(bucket.alias("df_bucket_log2")).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("df").alias("n_postings"),
        F.sum(F.when(F.col("df") > JACCARD_DF_CAP, 1).otherwise(0)).alias(
            "n_capped"
        ),
        F.sum(
            F.when(F.col("df") > JACCARD_DF_CAP, F.col("df")).otherwise(0)
        ).alias("postings_capped"),
    )
    w = Window.partitionBy()
    return hist.select(
        "df_bucket_log2",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_postings").cast("bigint").alias("n_postings"),
        F.col("n_capped").cast("bigint").alias("n_shingles_capped"),
        F.round(
            F.sum("postings_capped").over(w)
            / F.sum("n_postings").over(w).cast("double"),
            6,
        ).alias("postings_dropped_share"),
    )


#: Jaccard thresholds priced by the sweep (the fuzzy / moderate /
#: near-exact operating points of the family).
SWEEP_TAUS = (0.30, 0.50, 0.80)

_SWEEP_ORACLE = f"""
    {_CAPPED_PAIRS_CTE},
    scored AS (
      SELECT CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS j
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT tau,
           CAST((SELECT COUNT(*) FROM scored WHERE j >= tau) AS BIGINT)
             AS n_pairs,
           ROUND((SELECT COALESCE(SUM(floor(j * 10000)), 0) / 10000.0
                         / NULLIF(COUNT(*), 0)
                  FROM scored WHERE j >= tau), 6) AS mean_jaccard
    FROM (VALUES {", ".join(f"({t})" for t in SWEEP_TAUS)}) AS taus(tau)
"""


@register("dedup_threshold_sweep", oracle=_SWEEP_ORACLE)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard threshold sweep from ONE index build: surviving pair
    count and mean similarity at tau = {SWEEP_TAUS} — the operating-
    curve a curation team reads to SET the dedup threshold before
    running the pipeline (dedup_lsh_tuning prices the LSH banding for a
    chosen tau; this prices the choice of tau itself: the knee where
    the pair count explodes is where near-dups give way to topical
    overlap). All three points come from the same candidate/verify
    frame — no re-scan, no re-join per threshold.

    Scale/determinism: rides the session-materialized candidate frame
    (capped_candidate_frame — the SAME physical rows
    dedup_ngram_jaccard and dedup_containment score, so the inverted-
    index self-join never rebuilds for the sweep); the sweep is a tiny
    conditional aggregate per tau over that frame, unpivoted via
    stack(). Jaccards floor to 4 dp before the mean's sum so the fold
    is lattice-exact."""
    # Direct (unthresholded) rider: every tau it aggregates at must sit
    # at or above the materialized jaccard floor, or the conditional
    # counts would silently miss pre-filtered rows.
    assert min(SWEEP_TAUS) >= capped_frame_floor("jaccard"), (
        "SWEEP_TAUS reaches below the candidate frame's jaccard floor"
    )
    scored = capped_candidate_frame(spark, sf_dir).select(
        (
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
        ).alias("j")
    )
    # ONE aggregation pass over the pair frame (a tau cross join would
    # triple the scored-frame work — measured 122 s vs ~40 s at docs10),
    # then a local 1-row -> 3-row unpivot via stack()
    aggs = []
    for t_ in SWEEP_TAUS:
        tag = str(int(t_ * 100))
        aggs.append(
            F.sum(F.when(F.col("j") >= t_, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{tag}")
        )
        aggs.append(
            F.sum(
                F.when(F.col("j") >= t_, F.floor(F.col("j") * 10_000))
                .otherwise(0)
            ).alias(f"s_{tag}")
        )
    one = scored.agg(*aggs)
    stack_expr = "stack({}, {}) as (tau, n_pairs, j_sum)".format(
        len(SWEEP_TAUS),
        ", ".join(
            f"CAST({t_} AS DOUBLE), n_{int(t_ * 100)}, s_{int(t_ * 100)}"
            for t_ in SWEEP_TAUS
        ),
    )
    return one.selectExpr(stack_expr).select(
        "tau",
        F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
        F.round(
            F.col("j_sum") / 10_000.0 / F.nullif(F.col("n_pairs"), F.lit(0)),
            6,
        ).alias("mean_jaccard"),
    )


_CANDIDATE_BUDGET_ORACLE = f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+2], ' ')
                       FOR i IN range(1, len(words) - 1)]) AS shingle
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
              FROM documents)
      )
    ),
    dfs AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
    SELECT
      CAST(SUM(df) AS BIGINT) AS n_postings,
      CAST(SUM(CASE WHEN df <= {JACCARD_DF_CAP}
                    THEN CAST(df AS HUGEINT) * (df - 1) / 2
                    ELSE 0 END) AS BIGINT) AS candidates_capped,
      CAST(SUM(CAST(df AS HUGEINT) * (df - 1) / 2) AS BIGINT)
        AS candidates_uncapped,
      ROUND(1.0 - SUM(CASE WHEN df <= {JACCARD_DF_CAP}
                           THEN CAST(df AS DOUBLE) * (df - 1) / 2
                           ELSE 0 END)
                  / SUM(CAST(df AS DOUBLE) * (df - 1) / 2), 6)
        AS volume_saved_share
    FROM dfs
"""


@register("dedup_candidate_budget", oracle=_CANDIDATE_BUDGET_ORACLE)
def dedup_candidate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT candidate-pair budget of the inverted-index dedup join,
    computed BEFORE running it: sum over shingles of C(df, 2) with and
    without the JACCARD_DF_CAP — the number that says what the
    candidate join will COST on this corpus and how much of that cost
    the cap deletes (the capacity-planning complement to
    dedup_shingle_df_histogram's distribution view: the histogram says
    where the fat tail is, this prices it in join rows). Run it on a
    new corpus and you know whether the jaccard family fits the
    cluster budget without touching the expensive stage.

    Scale/determinism: the df frame is the index build's own first
    aggregate; C(df,2) sums run as decimal/HUGEINT (a df-10^6 hot
    shingle contributes ~5e11 pairs — the uncapped sum passes 2^63
    exactly when the number matters most); one exact division."""
    t = load(spark, sf_dir)
    words = F.split(F.lower("text"), " ")
    sh = (
        t.documents.select(
            "doc_id", F.explode(shingle_array(words, 3)).alias("shingle")
        )
        .distinct()
    )
    dfs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    pairs = F.col("df").cast("decimal(38,0)") * (F.col("df") - 1) / 2
    capped = F.when(F.col("df") <= JACCARD_DF_CAP, pairs).otherwise(
        F.lit(0).cast("decimal(38,6)")
    )
    out = dfs.agg(
        F.sum("df").cast("bigint").alias("n_postings"),
        F.sum(capped).cast("bigint").alias("candidates_capped"),
        F.sum(pairs).cast("bigint").alias("candidates_uncapped"),
    )
    return out.select(
        "n_postings",
        "candidates_capped",
        "candidates_uncapped",
        F.round(
            1.0
            - F.col("candidates_capped")
            / F.col("candidates_uncapped").cast("double"),
            6,
        ).alias("volume_saved_share"),
    )


def _band_skew_golden(sf_dir: str) -> str | None:
    """Golden VALUES for dedup_band_skew_audit via the shared pure-Python
    banding replay (bit-exact vs the JVM, the dedup_minhash precedent)."""
    from ..goldens import values_oracle

    replay = _replay_band_buckets(sf_dir)
    if replay is None:
        return None
    _shingle_sets, buckets = replay
    per_band: dict[int, list[int]] = {}
    for (b, _key), ids in buckets.items():
        per_band.setdefault(b, []).append(len(ids))
    rows = []
    for b in sorted(per_band):
        sizes = per_band[b]
        n_buckets = len(sizes)
        n_docs = sum(sizes)
        pairs = sum(s * (s - 1) // 2 for s in sizes)
        singletons = sum(1 for s in sizes if s == 1)
        rows.append(
            (
                b,
                n_buckets,
                n_docs,
                max(sizes),
                pairs,
                int(singletons * 10_000 // n_buckets) / 10_000.0,
            )
        )
    return values_oracle(
        rows,
        [
            "band", "n_buckets", "n_docs", "max_bucket_size",
            "candidate_pairs", "singleton_share",
        ],
        casts={
            "band": "BIGINT", "n_buckets": "BIGINT", "n_docs": "BIGINT",
            "max_bucket_size": "BIGINT", "candidate_pairs": "BIGINT",
            "singleton_share": "DOUBLE",
        },
        order_by="band",
    )


@register("dedup_band_skew_audit", oracle=_band_skew_golden)
def dedup_band_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational health audit of the banded-MinHash index BEFORE the
    candidate join runs: per band, the bucket-size distribution folded
    to (bucket count, docs, max bucket, implied candidate pairs
    sum C(size,2), singleton share). This is the LSH twin of
    dedup_shingle_df_histogram — the shingle histogram prices the
    inverted-index join, this prices the BAND join, and a single hot
    bucket (near-identical boilerplate corpus, adversarial key
    collisions) shows up as max_bucket_size >> 2 with candidate_pairs
    exploding quadratically in exactly that bucket. dedup_lsh_tuning
    picks (bands, rows); this audits what the chosen banding actually
    did to THIS corpus. At 100 TB this is the cheap pre-flight a
    pipeline runs every ingest cycle: the fold is one groupBy over
    index rows (docs x bands), integer-only, and its output is 8 rows.

    Scale/determinism: band_keys is the ONE shared banding
    implementation (chained xxhash64 -> murmur3 band keys, bit-exact
    pyhash replay = this oracle); bucket sizes are exact integer
    counts; C(size,2) in exact integer arithmetic; singleton share
    floors to the 4-dp lattice (gopher convention — no .5 ties)."""
    bands = band_keys(_shingled_persisted(spark, sf_dir))
    sizes = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.max("sz").alias("max_bucket_size"),
            # the product goes through decimal(38,0): a degenerate hot
            # bucket (all-identical corpus) makes sz data-sized, and
            # sz*(sz-1) wraps bigint past ~3e9 members (overflow
            # doctrine); the final bigint cast is presentation only
            F.sum(
                F.col("sz").cast("decimal(38,0)") * (F.col("sz") - 1) / 2
            )
            .cast("bigint")
            .alias("candidate_pairs"),
            (
                F.floor(
                    F.sum((F.col("sz") == 1).cast("int"))
                    * 10_000
                    / F.count(F.lit(1))
                )
                / 10_000.0
            ).alias("singleton_share"),
        )
        .select(
            F.col("band").cast("bigint").alias("band"),
            "n_buckets",
            "n_docs",
            "max_bucket_size",
            "candidate_pairs",
            "singleton_share",
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# r14: bucketed edit-distance near-dup — the character-level member of
# the dedup ladder (MinHash/SimHash see token sets; Levenshtein sees
# transpositions, small insertions, OCR noise).
# ---------------------------------------------------------------------------

#: Candidate bucket = (length band, normalized 12-char prefix); docs per
#: bucket cap (deterministic by doc_id — the df-cap convention); edit
#: distance measured on the normalized 80-char prefix; keep pairs <= max.
EDIT_PREFIX = 12
EDIT_WINDOW = 80
EDIT_BUCKET_CAP = 50
EDIT_MAX_DIST = 8

_EDIT_DIST_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, n_chars, lower(text) AS norm
      FROM documents
    ),
    b AS (
      SELECT doc_id, norm,
             CAST(floor(n_chars / 20) AS BIGINT) AS lb,
             substr(norm, 1, {EDIT_PREFIX}) AS pfx,
             row_number() OVER (
               PARTITION BY CAST(floor(n_chars / 20) AS BIGINT),
                            substr(norm, 1, {EDIT_PREFIX})
               ORDER BY doc_id) AS rn
      FROM d
    ),
    kept AS (SELECT * FROM b WHERE rn <= {EDIT_BUCKET_CAP})
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(substr(a.norm, 1, {EDIT_WINDOW}),
                            substr(c.norm, 1, {EDIT_WINDOW})) AS BIGINT)
             AS edit_dist
    FROM kept a JOIN kept c
      ON a.lb = c.lb AND a.pfx = c.pfx AND a.doc_id < c.doc_id
    WHERE levenshtein(substr(a.norm, 1, {EDIT_WINDOW}),
                      substr(c.norm, 1, {EDIT_WINDOW})) <= {EDIT_MAX_DIST}
    ORDER BY doc_a, doc_b
"""


@register("dedup_edit_distance", oracle=_EDIT_DIST_ORACLE)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs by Levenshtein distance inside
    (length-band, normalized-prefix) buckets: the dedup-ladder member
    that catches what token-set methods cannot — transposed words,
    single-character OCR noise, trailing edits — using the engines'
    native edit-distance kernels (Spark `levenshtein`, DuckDB
    `levenshtein`; identical textbook DP, so the oracle hash-matches).
    Distance is measured on the normalized EDIT_WINDOW-char prefix
    (O(W^2) per pair, bounded) and pairs must share a length band AND
    the EDIT_PREFIX-char prefix — the standard cheap blocking for
    edit-distance joins (a pair differing inside the first 12 chars is
    out of scope BY CONTRACT, stated; MinHash covers reorderings).

    Scale/determinism: buckets are df-capped at EDIT_BUCKET_CAP docs
    (row_number by doc_id — the deterministic hot-bucket bound every
    LSH op here uses), so the pair space is <= buckets * cap^2 and no
    bucket can go quadratic on a boilerplate prefix; the bucket join
    shuffles only (doc_id, 92-char norm slice) — never full texts;
    output keyed/ordered by the pair ids."""
    d = load(spark, sf_dir).documents.select(
        "doc_id", "n_chars", F.lower(F.col("text")).alias("norm")
    )
    b = d.select(
        "doc_id",
        "norm",
        F.floor(F.col("n_chars") / 20).cast("bigint").alias("lb"),
        F.substring("norm", 1, EDIT_PREFIX).alias("pfx"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lb", "pfx").orderBy("doc_id")
        ),
    )
    kept = b.where(F.col("rn") <= EDIT_BUCKET_CAP).select(
        "doc_id",
        "lb",
        "pfx",
        F.substring("norm", 1, EDIT_WINDOW).alias("w"),
    )
    a, c = kept.alias("a"), kept.alias("c")
    dist = F.levenshtein(F.col("a.w"), F.col("c.w"))
    return (
        a.join(
            c,
            (F.col("a.lb") == F.col("c.lb"))
            & (F.col("a.pfx") == F.col("c.pfx"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            dist.cast("bigint").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= EDIT_MAX_DIST)
        .orderBy("doc_a", "doc_b")
    )
