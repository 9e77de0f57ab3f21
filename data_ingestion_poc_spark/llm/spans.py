"""Span-level corpus curation (round 4b): the segment/substring layer of
the dedup ladder, between document-level dedup (llm/dedup.py) and
cross-document n-gram statistics (text_boilerplate_ngrams).

Three public-recipe shapes:

- ``text_segment_dedup``  — C4's line-level dedup (Raffel et al. 2020
  "any three-sentence span occurring more than once") adapted to this
  corpus: the synthetic documents have no newlines, so fixed-width word
  segments stand in for lines. Segments repeated across >= 3 distinct
  docs are dropped; the query reports the per-document damage.
- ``dedup_substring_span`` — Lee et al. 2021 ("Deduplicating Training
  Data Makes Language Models Better") ExactSubstr shape: find document
  PAIRS sharing a contiguous token run of >= 16 tokens. Suffix arrays
  don't distribute; the Spark-native equivalent is a positional k-gram
  inverted index + diagonal islands: two docs share an L-token run iff
  they share L-K+1 consecutive K-grams at a constant position offset.
- ``text_bpe_train``      — iterative greedy BPE merge training (Sennrich
  et al. 2016) at word granularity: per round, count adjacent symbol
  pairs corpus-wide, merge the most frequent pair everywhere, repeat.
  The merge table (rank, pair, count) is the model a tokenizer ships.

Reference lineage: the reference dedups whole files by (name,size,mtime)
(child.py:174-191); these operators generalize "is this content already
ingested" below document granularity, which file-level equality cannot see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fanout_repartition, load
from ..registry import register
from .dedup import shingle_array

#: Words per pseudo-line for the C4-style segment dedup. Real pipelines
#: split on '\n'; the synthetic corpus is one space-joined line per doc,
#: so a fixed 12-word window is the deterministic stand-in.
SEGMENT_WIDTH = 12

#: A segment is boilerplate when it appears verbatim in at least this
#: many distinct documents (C4 uses "more than once"; 3 keeps the exact
#: twin pairs planted for the dedup operators from being shredded here,
#: so the two ladder rungs stay distinguishable).
SEGMENT_DUP_MIN_DOCS = 3

#: K-gram width for the positional index. A shared run of >= MIN_SPAN
#: tokens is detectable as >= MIN_SPAN-SPAN_K+1 consecutive shared K-grams.
SPAN_K = 8
MIN_SPAN = 16

#: Document-frequency cap on the positional gram index — same quadratic-
#: fanout argument as dedup.JACCARD_DF_CAP: a gram occurring f times
#: yields O(f^2) join rows, so hot boilerplate grams are dropped. A
#: TRUE >= 16-token shared span contributes 9 consecutive 8-grams; for
#: the cap to break it, every one of those 9 grams would have to be
#: corpus-hot, at which point the span IS boilerplate (the segment-dedup
#: operator's job, not the pair detector's).
SPAN_DF_CAP = 256


@register(
    "text_segment_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
    ),
    segs AS (
      SELECT doc_id,
             unnest([array_to_string(words[i:i+{SEGMENT_WIDTH - 1}], ' ')
                     FOR i IN range(1, len(words) + 1, {SEGMENT_WIDTH})])
               AS segment
      FROM toks
    ),
    seg_df AS (
      SELECT segment, COUNT(DISTINCT doc_id) AS n_docs
      FROM segs GROUP BY segment
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT)                             AS n_segments,
           CAST(SUM(CASE WHEN d.n_docs >= {SEGMENT_DUP_MIN_DOCS}
                         THEN 1 ELSE 0 END) AS BIGINT)          AS n_dup_segments,
           CAST(SUM(CASE WHEN d.n_docs >= {SEGMENT_DUP_MIN_DOCS}
                         THEN 0
                         ELSE len(string_split(s.segment, ' '))
                    END) AS BIGINT)                             AS n_kept_words
    FROM segs s JOIN seg_df d USING (segment)
    GROUP BY s.doc_id
    """,
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style segment-level dedup: drop any {SEGMENT_WIDTH}-word segment
    occurring verbatim in >= {SEGMENT_DUP_MIN_DOCS} distinct docs; report
    per-doc segment/drop/kept-word counts.

    Scale shape: one explode -> one hash aggregate on segment (the
    inverted index; partial aggregation absorbs hot boilerplate exactly
    like text_boilerplate_ngrams) -> join back on segment. The join-back
    is 1:1 per instance row (the df side is unique per segment), so a
    hot segment skews a key but cannot blow up multiplicities — AQE skew
    split handles the rest. Corpus rows shuffle once, on segment."""
    t = load(spark, sf_dir)
    words = F.split(F.lower("text"), " ")
    starts = F.sequence(F.lit(1), F.size(words), F.lit(SEGMENT_WIDTH))
    segs = t.documents.select(
        "doc_id",
        F.explode(
            F.transform(
                starts, lambda i: F.concat_ws(" ", F.slice(words, i, SEGMENT_WIDTH))
            )
        ).alias("segment"),
    )
    seg_df = segs.groupBy("segment").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    dup = F.col("n_docs") >= SEGMENT_DUP_MIN_DOCS
    return (
        segs.join(seg_df, "segment")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(dup.cast("long")).alias("n_dup_segments"),
            F.sum(
                F.when(dup, F.lit(0)).otherwise(F.size(F.split("segment", " ")))
            ).alias("n_kept_words"),
        )
    )


@register(
    "dedup_substring_span",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
    ),
    g0 AS (
      SELECT doc_id, words,
             unnest(range(1, len(words) - {SPAN_K - 2})) AS pos
      FROM toks
    ),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(words[pos:pos+{SPAN_K - 1}], ' ') AS gram
      FROM g0
    ),
    keep AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= {SPAN_DF_CAP}
    ),
    g AS (SELECT grams.* FROM grams JOIN keep USING (gram)),
    hits AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos - b.pos AS diag, a.pos AS pos_a
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    islands AS (
      SELECT doc_a, doc_b, diag,
             pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                        ORDER BY pos_a) AS grp
      FROM hits
    ),
    runs AS (
      SELECT doc_a, doc_b, COUNT(*) + {SPAN_K} - 1 AS span
      FROM islands GROUP BY doc_a, doc_b, diag, grp
    )
    SELECT doc_a, doc_b,
           CAST(MAX(span) AS BIGINT)  AS max_shared_span,
           CAST(COUNT(*) AS BIGINT)   AS n_runs
    FROM runs
    GROUP BY doc_a, doc_b
    HAVING MAX(span) >= {MIN_SPAN}
    """,
)
def dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-substring pair detection (Lee et al. 2021 ExactSubstr,
    Spark-native): doc pairs sharing a contiguous run of >= {MIN_SPAN}
    tokens, with the longest shared span per pair.

    Two docs share an L-token run at offsets (i, j) iff they share the
    L-{SPAN_K}+1 consecutive {SPAN_K}-grams starting there, all at the
    SAME diagonal i-j. So: positional gram index -> df-cap (quadratic-
    fanout guard, same argument as JACCARD_DF_CAP) -> self equi-join on
    gram -> gaps-and-islands per (pair, diagonal). The window partitions
    by (doc_a, doc_b, diag) — keys at least as fine as the join output,
    so no single hot partition; island length is bounded by doc length,
    not corpus size. A suffix array would find the same spans on one
    node; this is the shape that distributes."""
    t = load(spark, sf_dir)
    words = F.split(F.lower("text"), " ")
    # r14 optimization round (value-identical): repartition the doc rows
    # before the positional explode (one-split fixture — the gram build
    # otherwise runs inside the single scan task) and persist the
    # df-capped index, which both self-join sides read (the explode +
    # df-cap window otherwise executed twice).
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    grams = fanout_repartition(t.documents, par).select(
        "doc_id",
        F.posexplode(shingle_array(words, SPAN_K)).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    w_gram = Window.partitionBy("gram")
    g = (
        grams.withColumn("gram_df", F.count(F.lit(1)).over(w_gram))
        .where(F.col("gram_df") <= SPAN_DF_CAP)
        .drop("gram_df")
        .persist()
    )
    a = g.select(
        F.col("gram"), F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = g.select(
        F.col("gram"), F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    hits = (
        a.join(b, "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
            "pos_a",
        )
        .distinct()
    )
    w_diag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        hits.withColumn("grp", F.col("pos_a") - F.row_number().over(w_diag))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg((F.count(F.lit(1)) + SPAN_K - 1).alias("span"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.max("span").alias("max_shared_span"),
            F.count(F.lit(1)).alias("n_runs"),
        )
        .where(F.col("max_shared_span") >= MIN_SPAN)
    )


#: BPE merge rounds. Each round collects exactly ONE (pair, count) row to
#: the driver — the merge decision is inherently sequential (round r+1's
#: counts depend on round r's merge), so the loop is r bounded driver
#: fetches of 1 row each, never corpus data.
BPE_ROUNDS = 4

#: Joiner for merged symbols. The synthetic corpus vocabulary is
#: lowercase alphanumeric words, so '_' cannot collide with an input
#: token boundary.
BPE_JOIN = "_"


def _pairs(tokens):
    """Adjacent symbol pairs of a token array as (l, r) structs."""
    n = F.size(tokens)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(tokens, 1, n - 1),
            F.slice(tokens, 2, n - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))


def _apply_merge(tokens, left: str, right: str):
    """Greedy left-to-right non-overlapping merge of (left, right) ->
    'left_right' as a single array fold: the accumulator carries the
    rebuilt prefix plus one pending symbol; a (pending, current) hit
    emits the merged symbol and clears the pending slot, exactly the
    i += 2 step of the scalar greedy scan."""
    merged = left + BPE_JOIN + right
    init = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(s, x):
        hit = s["pend"].eqNullSafe(F.lit(left)) & (x == F.lit(right))
        acc_miss = F.when(s["pend"].isNull(), s["acc"]).otherwise(
            F.concat(s["acc"], F.array(s["pend"]))
        )
        return F.when(
            hit,
            F.struct(
                F.concat(s["acc"], F.array(F.lit(merged))).alias("acc"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(F.struct(acc_miss.alias("acc"), x.alias("pend")))

    def finish(s):
        return F.when(s["pend"].isNull(), s["acc"]).otherwise(
            F.concat(s["acc"], F.array(s["pend"]))
        )

    return F.aggregate(tokens, init, step, finish)


def bpe_merges_python(texts: list[str], rounds: int = BPE_ROUNDS) -> list[tuple]:
    """Pure-Python greedy BPE replay: the executable spec the Spark fold
    must match (same role as functions/pyhash.py for the minhash oracle).
    Returns (merge_rank, left_sym, right_sym, pair_count) rows."""
    docs = [t.split(" ") for t in texts]
    rows: list[tuple] = []
    for rank in range(1, rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for toks in docs:
            for pair in zip(toks, toks[1:]):
                counts[pair] = counts.get(pair, 0) + 1
        if not counts:
            break
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rows.append((rank, left, right, n))
        merged = left + BPE_JOIN + right
        new_docs = []
        for toks in docs:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            new_docs.append(out)
        docs = new_docs
    return rows


def _bpe_train_golden(sf_dir: str) -> str | None:
    """Golden VALUES oracle: replay the greedy merge loop in pure Python
    over the fixture corpus (goldens.py pattern — computed from the bytes
    in `sf_dir` when first asked for, so driver-side fixture regeneration
    cannot stale it)."""
    import os

    from ..goldens import values_oracle

    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    texts = [
        r[0]
        for r in duckdb.connect()
        .execute(f"SELECT lower(text) FROM '{path}' ORDER BY doc_id")
        .fetchall()
    ]
    rows = bpe_merges_python(texts)
    return values_oracle(
        rows,
        ["merge_rank", "left_sym", "right_sym", "pair_count"],
        casts={"merge_rank": "INTEGER", "pair_count": "BIGINT"},
    )


@register("text_bpe_train", oracle=_bpe_train_golden)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge training (Sennrich et al. 2016) at word
    granularity: {BPE_ROUNDS} rounds of count-adjacent-pairs ->
    merge-the-winner, emitting the learned merge table. text_bpe_pairs
    is one E-step of this loop; this is the full EM-style iteration.

    Scale shape per round: one explode + one hash aggregate on the pair
    key (word-count-shaped, map-side combinable), TakeOrdered(1) for the
    winner — the only driver traffic is one row per round. The merge
    application is a pure Column fold (no shuffle, no Python); each
    round's token table is localCheckpoint-materialized (r14
    optimization round) so round k applies ONE merge to the cached
    round-(k-1) tokens instead of re-executing the whole merge chain
    from parquet — the lazy spelling cost O(rounds^2) fold applications
    (the dedup_clusters label-propagation discipline)."""
    t = load(spark, sf_dir)
    rows, _toks = _bpe_learn(spark, sf_dir)
    schema = "merge_rank int, left_sym string, right_sym string, pair_count long"
    return spark.createDataFrame(rows, schema)


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """The shared BPE_ROUNDS greedy merge loop over the corpus token
    table: returns (merge rows, final token DataFrame). One
    implementation feeds both text_bpe_train (emits the rows) and
    text_bpe_encode (emits per-doc stats off the final tokens), so the
    training replay can never drift between them.

    r14 optimization round (value-identical; the r13 --all record read
    8.5 s train / 12.0 s encode):
    - the token table repartitions to the session parallelism once —
      the fixture is ONE parquet split, so every per-doc merge fold and
      pair explode otherwise evaluates inside the single scan task;
    - each round's merged token table is localCheckpoint-materialized,
      so round k applies exactly ONE merge fold to round k-1's cached
      tokens; the lazy chain re-executed merges 1..k-1 from parquet in
      every round's count (O(rounds^2) fold applications total). At a
      32k-merge production vocabulary the same loop checkpoints every
      ~8 rounds and applies the whole merge table in ONE mapInPandas
      stage instead (see text_bpe_encode's docstring)."""
    t = load(spark, sf_dir)
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    toks = fanout_repartition(
        t.documents.select(
            "doc_id", F.split(F.lower("text"), " ").alias("tokens")
        ),
        par,
    ).persist()
    # r14 second pass: persist instead of localCheckpoint per round —
    # the round's pair-count job materializes the freshly-merged cache
    # as a side effect, so each round costs ONE job instead of two
    # (count + eager checkpoint). The previous generation unpersists
    # once its successor is materialized; with the default
    # MEMORY_AND_DISK level the cached tokens spill rather than evict,
    # so the lazy merge lineage behind each cache never re-executes.
    rows = []
    prev = None
    for rank in range(1, BPE_ROUNDS + 1):
        top = (
            toks.select(F.explode(_pairs(F.col("tokens"))).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect()
        )
        if prev is not None:
            prev.unpersist()
            prev = None
        if not top:
            break
        left, right, n = top[0]["l"], top[0]["r"], top[0]["n"]
        rows.append((rank, left, right, n))
        prev = toks
        toks = toks.select(
            "doc_id", _apply_merge(F.col("tokens"), left, right).alias("tokens")
        ).persist()
    return rows, toks


def bpe_encode_python(texts: list[str], rounds: int = BPE_ROUNDS) -> list[tuple]:
    """Pure-Python replay of train-then-encode: per-doc token counts
    before/after applying the learned merges in rank order (doc order =
    input order; caller supplies doc ids)."""
    docs = [t.split(" ") for t in texts]
    before = [len(d) for d in docs]
    for rank, left, right, _n in bpe_merges_python(texts, rounds):
        merged = left + BPE_JOIN + right
        new_docs = []
        for toks in docs:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            new_docs.append(out)
        docs = new_docs
    return [
        (b, len(d), b - len(d), round(len(d) / b, 4) if b else 1.0)
        for b, d in zip(before, docs)
    ]


def _bpe_encode_golden(sf_dir: str) -> str | None:
    import os

    from ..goldens import values_oracle

    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    pairs = (
        duckdb.connect()
        .execute(f"SELECT doc_id, lower(text) FROM '{path}' ORDER BY doc_id")
        .fetchall()
    )
    stats = bpe_encode_python([t for _, t in pairs])
    rows = [
        (doc_id, b, a, m, c)
        for (doc_id, _), (b, a, m, c) in zip(pairs, stats)
    ]
    return values_oracle(
        rows,
        ["doc_id", "n_tok_before", "n_tok_after", "n_merges_applied", "ratio"],
        casts={"n_tok_before": "BIGINT", "n_tok_after": "BIGINT",
               "n_merges_applied": "BIGINT"},
    )


@register("text_bpe_encode", oracle=_bpe_encode_golden)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: re-learn the BPE_ROUNDS
    merge table (text_bpe_train's loop) and encode every document with
    it, emitting per-doc token counts before/after and the compression
    ratio — the train -> encode round trip a tokenizer pipeline ships
    (HuggingFace tokenizers does exactly this pair of passes; the ratio
    column is the tokens-per-word statistic that prices a training run).

    Scale shape: training is BPE_ROUNDS bounded 1-row driver fetches
    (see text_bpe_train); ENCODING is zero extra shuffles — each merge
    is a pure Column fold applied scan-local over the per-round cached
    token table (_bpe_learn; r14: the re-learn loop is shared with
    text_bpe_train and checkpoints per round instead of re-executing
    the merge chain from parquet every round). Applying a 32k-merge
    production vocabulary this way would chain too many projections;
    the documented path is the same fold inside ONE mapInPandas stage
    with the merge table broadcast."""
    t = load(spark, sf_dir)
    toks0 = t.documents.select(
        "doc_id", F.split(F.lower("text"), " ").alias("tokens")
    )
    before = toks0.select("doc_id", F.size("tokens").alias("n_tok_before"))
    _rows, toks = _bpe_learn(spark, sf_dir)
    after = toks.select("doc_id", F.size("tokens").alias("n_tok_after"))
    return (
        before.join(after, "doc_id")
        .select(
            "doc_id",
            F.col("n_tok_before").cast("bigint").alias("n_tok_before"),
            F.col("n_tok_after").cast("bigint").alias("n_tok_after"),
            (F.col("n_tok_before") - F.col("n_tok_after"))
            .cast("bigint")
            .alias("n_merges_applied"),
            F.round(F.col("n_tok_after") / F.col("n_tok_before"), 4).alias(
                "ratio"
            ),
        )
    )
