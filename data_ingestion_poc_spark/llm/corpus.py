"""Corpus-cleaning composition queries: the end-to-end shapes a training-
data pipeline actually runs, built by COMPOSING the registered dedup and
text-analysis operators (dedup_exact_hash, dedup_clusters,
text_quality_score, text_lang_id) rather than re-deriving their logic —
the test that the operator surface composes.

Reference lineage: the reference's pipeline is exactly such a composition
(fetch -> verify -> dedup -> sink, child.py:128-221); these queries are
the corpus-level analog over `documents`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import fanout_repartition, load
from ..operators.sorts import prefix_offsets
from ..registry import register
from .dedup import (
    _CLUSTERS_ORACLE,
    _URL_CANON_CTES,
    dedup_clusters,
    shingle_array,
)
from .textstats import _STOP_SQL, STOPWORDS

# The near-dup cluster CTE chain, reusable inside larger oracles: strip the
# recursive keyword and final SELECT from _CLUSTERS_ORACLE's text.
_CLUSTER_CTES = _CLUSTERS_ORACLE.strip().removeprefix("WITH RECURSIVE").rsplit(
    "SELECT l.doc_id", 1
)[0].rstrip().rstrip(",")


@register(
    "corpus_dedup_keep",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    near_drop AS (
      SELECT src AS doc_id FROM (
        SELECT src, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src
      ) WHERE doc_id <> cluster_id
    ),
    exact_drop AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY sha256(lower(text))
                                  ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn > 1
    )
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status
    FROM documents d
    LEFT JOIN exact_drop e ON e.doc_id = d.doc_id
    LEFT JOIN near_drop n ON n.doc_id = d.doc_id
    """,
)
def corpus_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop resolution for the whole corpus: exact duplicates drop to
    their min-doc_id keeper (dedup_exact_hash policy), near-dup cluster
    members drop to the cluster canonical (dedup_clusters), everything
    else is kept. Exact beats near when both apply — the same precedence
    a real pipeline uses (exact dedup runs first because it is cheapest).
    One hash window + one flag left-join per drop reason; the expensive
    cluster build is the dedup_clusters operator itself. The flag joins
    carry NO broadcast hint: at web scale duplicates are 30-50% of the
    corpus, so both drop lists are corpus-proportional frames — AQE
    broadcasts them at fixture scale and falls back to a shuffle join
    (same doc_id key both times, one exchange reused) when they grow."""
    t = load(spark, sf_dir)
    w = Window.partitionBy(F.sha2(F.lower("text").cast("binary"), 256)).orderBy(
        "doc_id"
    )
    exact_drop = (
        t.documents.select("doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") > 1)
        .select("doc_id")
        .withColumn("is_exact", F.lit(True))
    )
    near_drop = (
        dedup_clusters(spark, sf_dir)
        .where(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
        .withColumn("is_near", F.lit(True))
    )
    return (
        t.documents.select("doc_id")
        .join(exact_drop, "doc_id", "left")
        .join(near_drop, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "exact_dup")
            .when(F.col("is_near"), "near_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )


@register(
    "corpus_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             floor((
               0.4 * least(len(string_split(text, ' ')) / 200.0, 1.0)
             + 0.3 * (len(list_filter(string_split(text, ' '),
                                      w -> w IN ({_STOP_SQL})))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE))
             + 0.3 * (len(list_distinct(string_split(text, ' ')))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE))) * 10000)
               / 10000 AS quality,
             length(text) >= 100 AND length(text) <= 2000 AS len_ok,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       w -> w IN ({_STOP_SQL})))
                       / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.05
                  THEN 'en' ELSE 'unknown' END AS lang_guess
      FROM documents
    )
    SELECT s.doc_id, s.quality, s.lang_guess, d.source
    FROM scored s JOIN documents d USING (doc_id)
    WHERE s.quality >= 0.28 AND s.len_ok
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: keep docs whose heuristic score clears 0.28 (the
    corpus median) AND whose length is in-band, carrying the language
    guess and source for downstream mixture accounting. Composes the
    text_quality_score and text_lang_id column logic in ONE scan of
    documents — no join between the two scorers, they are expressions
    over the same row."""
    t = load(spark, sf_dir)
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
    lang_guess = F.when((n_stop / n_words) >= 0.05, "en").otherwise("unknown")
    len_ok = (F.length("text") >= 100) & (F.length("text") <= 2000)
    return (
        t.documents.select(
            "doc_id",
            "source",
            quality.alias("quality"),
            lang_guess.alias("lang_guess"),
            len_ok.alias("len_ok"),
        )
        .where((F.col("quality") >= 0.28) & F.col("len_ok"))
        .select("doc_id", "quality", "lang_guess", "source")
    )


@register(
    "corpus_decontaminate",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+3], ' ')
                       FOR i IN range(1, len(words) - 2)]) AS shingle
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
              FROM documents)
      )
    ),
    bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 25 = 0),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 25 <> 0)
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.shingle) AS BIGINT) AS n_shared_shingles,
           MIN(b.bench_id)                           AS contaminated_by
    FROM train t JOIN bench b ON t.shingle = b.shingle
    GROUP BY t.doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    4-word shingle with the held-out benchmark set (here: every 25th doc
    stands in for an eval suite). Standard practice before LLM training —
    n-gram overlap against eval benchmarks (GPT-3 appendix C / PaLM-style
    13-gram decontamination, shrunk to 4-grams for the fixture corpus).

    Scale shape: the benchmark side is ALWAYS tiny relative to the corpus
    (eval suites are fixed-size; the corpus is 100 TB), so its distinct
    shingle set is broadcast and the training corpus itself never
    shuffles: scan, explode to shingles, broadcast-hash probe. The only
    exchanges in the plan carry benchmark shingles and MATCHED pairs
    (the countDistinct two-phase) — both orders of magnitude smaller
    than the corpus. Output is contaminated docs only (hit list with
    evidence counts and the lowest-numbered benchmark doc hit).

    r14 optimization round: the doc rows repartition to the session
    parallelism before the shingle explode — the fixture is one
    parquet split, so the explode + broadcast probe otherwise run
    inside the single scan task (1 of 32 cores). Doc rows (pre-explode)
    are the cheapest thing to move; at real scale the scan is already
    wide and this is the standard unsplittable-input spread."""
    t = load(spark, sf_dir)
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    t_documents = fanout_repartition(t.documents, par)
    sh = t_documents.select(
        "doc_id",
        F.explode(
            shingle_array(F.split(F.lower("text"), " "), 4)
        ).alias("shingle"),
    )
    # distinct ONLY on the broadcast-bound benchmark side (tiny); the
    # training stream stays shuffle-free — a global distinct here would
    # shuffle the entire corpus shingle stream for nothing, since the
    # final countDistinct already dedupes repeated matches per doc.
    bench = (
        sh.where(F.col("doc_id") % 25 == 0)
        .select(F.col("doc_id").alias("bench_id"), "shingle")
        .distinct()
    )
    train = sh.where(F.col("doc_id") % 25 != 0)
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.min("bench_id").alias("contaminated_by"),
        )
    )


#: (pattern, replacement) — patterns restricted to syntax Java regex and
#: RE2 (DuckDB) interpret identically: no backrefs, no lookaround, [0-9]
#: instead of \d (escape-free inside SQL string literals on both engines).
PII_RULES = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "[EMAIL]"),
    ("[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
    ("([0-9]{1,3}[.]){3}[0-9]{1,3}", "[IP]"),
]


@register(
    "text_pii_scrub",
    oracle="""
    WITH enriched AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                  THEN ' email user' || doc_id || '@mail.example.org now' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN ' call 202-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                  THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77' ELSE '' END
             AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '([0-9]{1,3}[.]){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
           right(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]', 'g'),
             '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
             '([0-9]{1,3}[.]){3}[0-9]{1,3}', '[IP]', 'g'), 60) AS scrubbed_tail
    FROM enriched
    WHERE doc_id % 7 = 0 OR doc_id % 11 = 0 OR doc_id % 13 = 0
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count and mask emails / NANP phone numbers /
    IPv4 addresses with chained regexp_replace — the corpus-hygiene
    sibling of the reference's filename sanitization (child.py:20-33,
    same chained-regex idiom, applied to content instead of names).

    The fixture corpus carries no PII, so the query deterministically
    injects synthetic PII into a doc_id-keyed subset first (CASE on
    doc_id mod 7/11/13) and then scrubs it — injection and scrub in one
    plan keeps the op oracle-checkable on any corpus. Patterns stay in
    the Java-regex ∩ RE2 dialect (PII_RULES) so both engines agree.
    Pure Column expressions: one scan, no shuffle, no UDF — at 100 TB
    this runs at parquet-read speed alongside the other single-pass
    text filters (corpus_quality_filter)."""
    t = load(spark, sf_dir)
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" email user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.org now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 202-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".77"),
            ),
        ).otherwise(F.lit("")),
    )
    scrubbed = text
    for pat, rep in PII_RULES:
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    return (
        t.documents.where(
            (F.col("doc_id") % 7 == 0)
            | (F.col("doc_id") % 11 == 0)
            | (F.col("doc_id") % 13 == 0)
        )
        .select(
            "doc_id",
            F.regexp_count(text, F.lit(PII_RULES[0][0])).alias("n_emails"),
            F.regexp_count(text, F.lit(PII_RULES[1][0])).alias("n_phones"),
            F.regexp_count(text, F.lit(PII_RULES[2][0])).alias("n_ips"),
            F.right(scrubbed, F.lit(60)).alias("scrubbed_tail"),
        )
    )


@register(
    "corpus_pack_blocks",
    oracle="""
    WITH lens AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_len
      FROM documents
    ),
    c AS (
      SELECT doc_id, tok_len,
             SUM(tok_len) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
      FROM lens
    )
    SELECT doc_id, tok_len,
           CAST(end_off - tok_len AS BIGINT)                  AS start_off,
           CAST(FLOOR((end_off - tok_len) / 512) AS BIGINT)   AS first_block,
           CAST(FLOOR((end_off - 1) / 512) AS BIGINT)         AS last_block,
           CAST(FLOOR((end_off - 1) / 512)
                - FLOOR((end_off - tok_len) / 512) + 1 AS BIGINT) AS n_blocks
    FROM c
    """,
)
def corpus_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining: concatenate documents in
    doc_id order and chop the token stream into fixed 512-token training
    blocks (the GPT-style pack-and-chunk recipe); each doc reports its
    global token offsets and the block range it lands in.

    The global running offset is a prefix sum over a TOTAL order — the
    naive window (ORDER BY doc_id with no partition) is a
    single-partition sort that dies at corpus scale. Instead docs are
    bucketed by contiguous doc_id ranges (8 buckets, each one task's
    worth), sorts.prefix_offsets gives each bucket its exclusive token
    offset, and a within-bucket running sum over the one hash(bucket)
    shuffle completes it. The only data-sized shuffle is the bucket
    repartition; no Exchange SinglePartition appears (pinned in tests)."""
    t = load(spark, sf_dir)
    lens = t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("tok_len"),
    )
    n_buckets = 8
    hi = lens.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    span = (hi + n_buckets) // n_buckets  # ceil((hi+1)/P)
    bucketed = lens.withColumn("bucket", F.floor(F.col("doc_id") / span))
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = prefix_offsets(bucketed, [], "bucket", F.col("tok_len")).select(
        "doc_id",
        "tok_len",
        (F.sum("tok_len").over(w) + F.col("_off")).alias("end_off"),
    )
    first_block = F.floor((F.col("end_off") - F.col("tok_len")) / 512)
    last_block = F.floor((F.col("end_off") - 1) / 512)
    return c.select(
        "doc_id",
        "tok_len",
        (F.col("end_off") - F.col("tok_len")).alias("start_off"),
        first_block.cast("bigint").alias("first_block"),
        last_block.cast("bigint").alias("last_block"),
        (last_block - first_block + 1).cast("bigint").alias("n_blocks"),
    )


@register(
    "corpus_pack_manifest",
    oracle="""
    WITH lens AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_len
      FROM documents
    ),
    c AS (
      SELECT doc_id, tok_len,
             SUM(tok_len) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
      FROM lens
    ),
    spans AS (
      SELECT doc_id, tok_len,
             CAST(end_off - tok_len AS BIGINT) AS start_off,
             CAST(end_off AS BIGINT) AS end_off,
             unnest(range(CAST(FLOOR((end_off - tok_len) / 512) AS BIGINT),
                          CAST(FLOOR((end_off - 1) / 512) AS BIGINT) + 1))
               AS block_id
      FROM c
    )
    SELECT block_id,
           CAST(COUNT(*) AS BIGINT)  AS n_docs,
           MIN(doc_id)               AS first_doc,
           MAX(doc_id)               AS last_doc,
           CAST(SUM(LEAST(end_off, (block_id + 1) * 512)
                    - GREATEST(start_off, block_id * 512)) AS BIGINT)
                                     AS n_tokens
    FROM spans
    GROUP BY block_id
    """,
)
def corpus_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The block-side view of corpus_pack_blocks: one manifest row per
    512-token training block — how many docs it spans, which ones, and
    its exact token fill (512 everywhere except the final partial block;
    the invariant a data-loader shards against). Built by exploding each
    doc's block range from the same two-phase prefix sum and aggregating
    per block; the explode emits end-start+1 rows per doc (~tok_len/512),
    so total fan-out stays O(total_tokens / 512) — one manifest row's
    worth of work per block, not per token."""
    packed = corpus_pack_blocks(spark, sf_dir)
    spans = packed.select(
        "doc_id",
        "start_off",
        (F.col("start_off") + F.col("tok_len")).alias("end_off"),
        F.explode(F.sequence("first_block", "last_block")).alias("block_id"),
    )
    overlap = F.least(
        F.col("end_off"), (F.col("block_id") + 1) * 512
    ) - F.greatest(F.col("start_off"), F.col("block_id") * 512)
    return spans.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum(overlap).alias("n_tokens"),
    )


#: Per-language keep fractions for the weighted training mix, expressed
#: as md5 first-byte bucket thresholds (fraction f ~ first round(f*256)
#: buckets, the sampling.py convention): rebalance a web-crawl-shaped
#: corpus toward the target language distribution.
MIX_WEIGHTS = [
    ("en", "80"),  # 128/256 = 0.50
    ("de", "c0"),  # 192/256 = 0.75
    ("es", "80"),  # 128/256 = 0.50
    ("fr", "40"),  #  64/256 = 0.25
    ("zh", "1a"),  #  26/256 ~ 0.10
]


@register(
    "corpus_mix_weighted",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN 'c0'
                    WHEN 'es' THEN '80' WHEN 'fr' THEN '40'
                    WHEN 'zh' THEN '1a' ELSE '00' END
    """,
)
def corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source corpus mixing (the Pile / CC-mix recipe):
    each language keeps a different deterministic fraction of its docs,
    rebalancing the raw crawl toward a target training distribution.
    Membership is a pure md5-bucket function of the row (sampling.py's
    convention) — stable under repartitioning, retries, and incremental
    appends, engine-portable for the oracle, and executed as one
    scan-local filter: no shuffle, no RNG, no ORDER BY rand() at 100 TB."""
    t = load(spark, sf_dir)
    bucket = F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")).cast("binary")),
        1,
        2,
    )
    threshold = F.lit("00")
    for lang, thresh in reversed(MIX_WEIGHTS):
        threshold = F.when(F.col("lang") == lang, thresh).otherwise(threshold)
    return t.documents.where(bucket < threshold).select("doc_id", "lang", "source")


#: Token budget for the greedy selection demo: ~half the sf0.01 corpus.
TOKEN_BUDGET = 10_000


@register(
    "corpus_token_budget",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_len,
             n_chars
      FROM documents
    ),
    c AS (
      SELECT doc_id, tok_len,
             SUM(tok_len) OVER (ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM lens
    )
    SELECT doc_id, tok_len, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection (data-constrained training): rank
    docs by a quality proxy (n_chars, longest first; doc_id tie-break)
    and keep the prefix whose cumulative token count fits the budget.

    The cumulative sum is over a TOTAL order — the same
    single-partition-window trap corpus_pack_blocks documents. Same cure:
    bucket by contiguous ranges of the SORT KEY (n_chars), take exclusive
    bucket offsets from sorts.prefix_offsets, and run the running sum
    per-bucket under one hash(bucket) Exchange. Docs sharing an n_chars
    value always share a bucket, so the bucket-local order extends to
    the global order."""
    t = load(spark, sf_dir)
    lens = t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("tok_len"),
        "n_chars",
    )
    n_buckets = 8
    bounds = lens.agg(
        F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
    ).collect()[0]
    span = max(1, (bounds["hi"] - bounds["lo"] + n_buckets) // n_buckets)
    # bucket 0 = longest docs (first in the global order)
    bucketed = lens.withColumn(
        "bucket", F.floor((F.lit(bounds["hi"]) - F.col("n_chars")) / span)
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = prefix_offsets(bucketed, [], "bucket", F.col("tok_len")).select(
        "doc_id",
        "tok_len",
        (F.sum("tok_len").over(w) + F.col("_off")).alias("cum_tokens"),
    )
    return c.where(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "doc_id", "tok_len", F.col("cum_tokens").cast("bigint").alias("cum_tokens")
    )


#: A 3-gram is "boilerplate" when it appears in at least this many
#: distinct documents (df threshold, NOT capped — boilerplate detection
#: wants exactly the hot tail the jaccard df cap drops).
BOILERPLATE_MIN_DOCS = 4


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+2], ' ')
                       FOR i IN range(1, len(words) - 1)]) AS shingle
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
              FROM documents)
      )
    )
    SELECT shingle,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id)              AS first_doc
    FROM sh GROUP BY shingle
    HAVING COUNT(*) >= {BOILERPLATE_MIN_DOCS}
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: 3-gram shingles occurring in
    >= BOILERPLATE_MIN_DOCS distinct docs (headers, footers, license
    blurbs — the text every crawl pipeline strips before training). One
    explode + per-doc distinct + one count aggregate whose shuffle
    carries (shingle, partial count) pairs; hot shingles are exactly the
    signal here, and partial aggregation absorbs them map-side (unlike
    the jaccard SELF-JOIN, where the same hot keys explode quadratically
    and must be df-capped)."""
    t = load(spark, sf_dir)
    sh = (
        t.documents.select(
            "doc_id",
            F.explode(
                shingle_array(F.split(F.lower("text"), " "), 3)
            ).alias("shingle"),
        )
        .dropDuplicates(["doc_id", "shingle"])
    )
    return (
        sh.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )


@register(
    "corpus_mix_report",
    oracle="""
    WITH kept AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM documents
      WHERE substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) <
            CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN 'c0'
                      WHEN 'es' THEN '80' WHEN 'fr' THEN '40'
                      WHEN 'zh' THEN '1a' ELSE '00' END
      GROUP BY lang
    ),
    tot AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total
      FROM documents GROUP BY lang
    )
    SELECT t.lang, t.n_total, COALESCE(k.n_kept, 0) AS n_kept,
           ROUND(COALESCE(k.n_kept, 0) * 1.0 / t.n_total, 4) AS achieved_frac
    FROM tot t LEFT JOIN kept k USING (lang)
    """,
)
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Achieved-vs-target audit for the weighted mix: per-language totals,
    kept counts, and the realized keep fraction (hash sampling converges
    on the target as 1/sqrt(n) — the report is how a pipeline verifies
    its mix before training). Composes corpus_mix_weighted's kept set
    with a per-language total in one aggregated join of two tiny
    lang-cardinality frames."""
    t = load(spark, sf_dir)
    kept = (
        corpus_mix_weighted(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    tot = t.documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return tot.join(kept, "lang", "left").select(
        "lang",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.round(F.coalesce("n_kept", F.lit(0)) * 1.0 / F.col("n_total"), 4).alias(
            "achieved_frac"
        ),
    )


@register(
    "corpus_shard_assign",
    oracle="""
    SELECT CAST(strpos('0123456789abcdef',
                  substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1
             AS INTEGER) AS shard_id,
           CAST(COUNT(*) AS BIGINT)                          AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           MIN(doc_id)                                       AS min_doc,
           MAX(doc_id)                                       AS max_doc
    FROM documents
    GROUP BY 1
    """,
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way shard manifest for training data loaders
    (webdataset-style): shard = hash bucket of the doc key, so shard
    membership is a pure function of the row — stable under repartition,
    retries, and incremental appends, and every loader rank can recompute
    its own shard list without coordination. Output is the per-shard
    manifest (doc/token counts + key range) a loader consumes. The
    bucket is the first hex nibble of md5 (engine-portable, the
    sampling.py convention); one scan + one 16-group aggregate."""
    t = load(spark, sf_dir)
    nibble = F.substring(
        F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")).cast("binary")),
        1,
        1,
    )
    shard = (F.instr(F.lit("0123456789abcdef"), nibble) - 1).alias("shard_id")
    return (
        t.documents.select(
            shard,
            "doc_id",
            F.size(F.split("text", " ")).alias("tok"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


#: Explicit Bloom filter geometry for corpus_decontaminate_bloom:
#: m = 2^20 bits (16 k longs, ~128 KB broadcast), k = 7 hashes. At the
#: fixture's bench-shingle counts (n << 10^5), fpp = (1-e^{-kn/m})^k is
#: well under 10^-3; the registered contract allows 5% slack.
_BLOOM_BITS = 1 << 20
_BLOOM_K = 7


def _bloom_terms(col: str) -> list[tuple[str, str]]:
    """(word-index, bit-mask) SQL expression pairs for the k hash
    positions of `col` — shared verbatim by the build and probe sides, so
    no-false-negatives holds by construction."""
    terms = []
    for i in range(_BLOOM_K):
        pos = f"pmod(xxhash64({col}, {i}), {_BLOOM_BITS}L)"
        terms.append(
            (
                f"CAST({pos} DIV 64 AS INT)",
                f"shiftleft(1L, CAST({pos} % 64 AS INT))",
            )
        )
    return terms


@register(
    "corpus_decontaminate_bloom",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+3], ' ')
                       FOR i IN range(1, len(words) - 2)]) AS shingle
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
              FROM documents)
      )
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 25 = 0),
    exact AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (shingle)
      WHERE s.doc_id % 25 <> 0
    )
    SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 25 <> 0)
                AS BIGINT) AS docs_train,
           CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS exact_flagged,
           CAST(0 AS BIGINT) AS missed_by_bloom,
           true AS fp_within_budget
    """,
)
def corpus_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via an EXPLICIT Bloom filter built from pure
    DataFrame aggregates — the shape for when even the benchmark shingle
    SET is too large to broadcast raw (many eval suites x 13-grams):
    broadcast ~128 KB of bitmap instead of the string set.

    Build: each bench shingle sets k=7 bits (xxhash64(shingle, seed) mod
    2^20); bits aggregate per 64-bit word with bit_or, then fold into ONE
    map<word_idx, bits> row (<= 16 k entries). Probe: each train shingle
    recomputes its 7 (word, mask) pairs and checks them against the
    broadcast map with element_at — pure Column expressions, the corpus
    itself never shuffles (same scale shape as corpus_decontaminate; the
    only aggregations carry bitmap words and matched doc_ids).

    Spark's own runtime bloom (join_bloom_pruned) is optimizer-injected
    and bloom_filter_agg is not SQL-exposed, so this builds the filter
    from first principles — which also makes the no-false-negative
    property PROVABLE: build and probe share the same expression list
    (_bloom_terms), so every exact hit is a bloom hit. The driver-checked
    contract: missed_by_bloom == 0 (hard guarantee) and false positives
    within a 5% budget (geometry gives ~1e-3; 5% leaves margin), plus
    exact_flagged value-matched against the plain SQL join.

    r14 optimization round: doc rows repartition before the explode
    (single-split fixture; the corpus_decontaminate note) and the
    shingle stream is localCheckpoint-materialized — the bloom probe,
    the exact join, and the bench build otherwise each re-executed the
    explode (the r13 --all record read 8.5 s)."""
    t = load(spark, sf_dir)
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sh = (
        fanout_repartition(t.documents, par)
        .select(
            "doc_id",
            F.explode(
                shingle_array(F.split(F.lower("text"), " "), 4)
            ).alias("shingle"),
        )
        .localCheckpoint()
    )
    bench = (
        sh.where(F.col("doc_id") % 25 == 0).select("shingle").distinct()
    )
    terms = _bloom_terms("shingle")
    entries = bench.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.expr(w).alias("w"), F.expr(m).alias("mask")
                    )
                    for w, m in terms
                ]
            )
        ).alias("e")
    ).select("e.w", "e.mask")
    bloom = (
        entries.groupBy("w")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "bits"))
            ).alias("bloom")
        )
    )
    hit = F.expr(
        " AND ".join(
            f"(coalesce(element_at(bloom, {w}), 0L) & {m}) = {m}"
            for w, m in terms
        )
    )
    train_sh = sh.where(F.col("doc_id") % 25 != 0)
    bloom_hits = (
        train_sh.crossJoin(F.broadcast(bloom))
        .where(hit)
        .select("doc_id")
        .distinct()
        .withColumn("b", F.lit(1))
    )
    exact_hits = (
        train_sh.join(F.broadcast(bench), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("x", F.lit(1))
    )
    base = t.documents.where(F.col("doc_id") % 25 != 0).select("doc_id")
    j = base.join(bloom_hits, "doc_id", "left").join(exact_hits, "doc_id", "left")
    fp = F.sum(
        F.when(F.col("b").isNotNull() & F.col("x").isNull(), 1).otherwise(0)
    )
    return j.agg(
        F.count(F.lit(1)).alias("docs_train"),
        F.count("x").alias("exact_flagged"),
        F.sum(
            F.when(F.col("x").isNotNull() & F.col("b").isNull(), 1).otherwise(0)
        ).alias("missed_by_bloom"),
        (fp <= 0.05 * F.count(F.lit(1))).alias("fp_within_budget"),
    )


#: Temperature-sampling exponent and output budget for
#: corpus_mix_temperature: q_l ∝ p_l^alpha flattens the language
#: distribution (alpha=1 keeps it, alpha=0 makes it uniform); the budget
#: caps expected output at half the corpus.
MIX_TEMP_ALPHA = 0.5
MIX_TEMP_BUDGET = 0.5


@register(
    "corpus_mix_temperature",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n_docs) AS n FROM counts),
    wts AS (
      SELECT lang, n_docs, POW(n_docs * 1.0 / n, 0.5) AS w
      FROM counts, tot
    ),
    wsum AS (SELECT SUM(w) AS ws FROM wts),
    rates AS (
      SELECT lang, n_docs,
             LEAST(1.0, ROUND((0.5 * n * (w / ws)) / n_docs, 6)) AS keep_rate
      FROM wts, wsum, tot
    ),
    kept AS (
      SELECT d.lang, COUNT(*) AS n_kept
      FROM documents d JOIN rates r USING (lang)
      WHERE substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 4) <
            lower(lpad(to_hex(CAST(floor(r.keep_rate * 65536) AS INT)), 4, '0'))
      GROUP BY d.lang
    )
    SELECT r.lang, r.n_docs, r.keep_rate,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k USING (lang)
    """,
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (mT5 / XLM-R recipe):
    sample language l with probability q_l ∝ p_l^alpha, alpha=0.5 —
    boosting low-resource languages without the hand-tuned per-language
    table corpus_mix_weighted uses. keep_rate_l = min(1, budget·N·q_l /
    n_l) targets each language's share of a half-corpus output budget;
    per-doc membership is the same deterministic md5 bucket discipline
    (16-bit buckets here for rate resolution), so the mix is stable
    under repartitioning, retries, and appends — no RNG, no ORDER BY
    rand().

    Scale shape: one per-language count aggregate (shuffle carries
    #langs partial rows), two 1-row scalar reductions (corpus total,
    weight sum — partial-row exchanges only), the ≤#langs rates frame
    broadcast back, and the kept-count probe is scan-local filter +
    per-lang aggregate: the corpus never shuffles rows. keep_rate is
    rounded to 6 dp BEFORE the 16-bit threshold floor so the float
    pow/sum noise between engines (~1e-15) cannot flip a bucket
    boundary. Output: one row per language with n_docs, keep_rate, and
    the realized n_kept."""
    t = load(spark, sf_dir)
    counts = t.documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").alias("n"))
    wts = counts.crossJoin(F.broadcast(tot)).withColumn(
        "w", F.pow(F.col("n_docs") / F.col("n"), F.lit(MIX_TEMP_ALPHA))
    )
    wsum = wts.agg(F.sum("w").alias("ws"))
    rates = (
        wts.crossJoin(F.broadcast(wsum))
        .withColumn(
            "keep_rate",
            F.least(
                F.lit(1.0),
                F.round(
                    (F.lit(MIX_TEMP_BUDGET) * F.col("n") * (F.col("w") / F.col("ws")))
                    / F.col("n_docs"),
                    6,
                ),
            ),
        )
        .select("lang", "n_docs", "keep_rate")
    )
    bucket = F.substring(
        F.md5(
            F.concat(F.lit("temp:"), F.col("doc_id").cast("string")).cast("binary")
        ),
        1,
        4,
    )
    thr = F.lower(
        F.lpad(
            F.hex(F.floor(F.col("keep_rate") * 65536).cast("int")), 4, "0"
        )
    )
    kept = (
        t.documents.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .where(bucket < thr)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "keep_rate",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


@register(
    "text_length_trim",
    oracle="""
    WITH pct AS (
      SELECT lang,
             ROUND(quantile_cont(n_chars, 0.05), 4) AS p05,
             ROUND(quantile_cont(n_chars, 0.95), 4) AS p95,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    kept AS (
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM documents d JOIN pct USING (lang)
      WHERE d.n_chars >= pct.p05 AND d.n_chars <= pct.p95
      GROUP BY d.lang
    )
    SELECT p.lang, p.p05, p.p95, p.n_docs,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM pct p LEFT JOIN kept k USING (lang)
    """,
)
def text_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based length trimming (the Gopher/RefinedWeb tail-cut,
    complementing corpus_quality_filter's FIXED thresholds): per-language
    p05/p95 of n_chars define the keep band, so the cut adapts to each
    language's length distribution instead of hard-coding one corpus's
    constants. Spark's exact `percentile` interpolates identically to
    DuckDB's quantile_cont (verified bit-exact on the fixtures), so even
    the float thresholds value-match. Scale shape: one per-lang exact
    percentile aggregate (at 100 TB swap in approx_percentile and the
    agg_approx_quantile_bound contract guards the error), thresholds
    broadcast back, band filter is scan-local. Output: one row per
    language with thresholds, corpus count, and kept count."""
    t = load(spark, sf_dir)
    pct = t.documents.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.05)"), 4).alias("p05"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    kept = (
        t.documents.select("lang", "n_chars")
        .join(F.broadcast(pct.select("lang", "p05", "p95")), "lang")
        .where((F.col("n_chars") >= F.col("p05")) & (F.col("n_chars") <= F.col("p95")))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return pct.join(kept, "lang", "left").select(
        "lang", "p05", "p95", "n_docs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


#: Epochs materialized by the training-order manifest.
INTERLEAVE_EPOCHS = 3
INTERLEAVE_SHARDS = 16

_INTERLEAVE_ORACLE = f"""
    WITH perm AS (
      SELECT e.epoch, d.doc_id,
             CAST(strpos('0123456789abcdef',
                  substr(md5('ep' || e.epoch || ':' || CAST(d.doc_id AS VARCHAR)), 1, 1))
                  - 1 AS INTEGER) AS shard_id,
             substr(md5('ep' || e.epoch || ':' || CAST(d.doc_id AS VARCHAR)), 2, 8)
               AS sort_key
      FROM documents d,
           (SELECT CAST(unnest(range({INTERLEAVE_EPOCHS})) AS INTEGER) AS epoch) e
    )
    SELECT epoch, shard_id, doc_id,
           row_number() OVER (PARTITION BY epoch, shard_id
                              ORDER BY sort_key, doc_id) AS ord_in_shard
    FROM perm
"""


@register("corpus_interleave_epochs", oracle=_INTERLEAVE_ORACLE)
def corpus_interleave_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch training-order manifest: every epoch gets its own
    deterministic permutation of the corpus (epoch-salted md5 sort keys),
    sharded so loader ranks stream their shard in manifest order — the
    'different shuffle every epoch, reproducible across reruns' property
    LLM training wants WITHOUT a driver-side RNG or a global sort.

    Scale shape: the permutation is a pure function of (epoch, doc_id) —
    no coordination, stable under repartition/retries (the sampling.py
    hash policy). The only ordered operator is a row_number windowed by
    (epoch, shard_id): {INTERLEAVE_EPOCHS}x{INTERLEAVE_SHARDS} bounded
    partitions, each ~corpus/{INTERLEAVE_SHARDS} rows — a global
    per-epoch ORDER BY would be the single-partition bottleneck this
    layout exists to avoid."""
    t = load(spark, sf_dir)
    epochs = F.explode(
        F.array(*[F.lit(e) for e in range(INTERLEAVE_EPOCHS)])
    ).alias("epoch")
    perm = t.documents.select("doc_id", epochs).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.lit("ep"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            ).cast("binary")
        ).alias("h"),
    )
    shard = (F.instr(F.lit("0123456789abcdef"), F.substring("h", 1, 1)) - 1).cast(
        "int"
    )
    w = Window.partitionBy("epoch", "shard_id").orderBy("sort_key", "doc_id")
    return (
        perm.select(
            "epoch",
            shard.alias("shard_id"),
            "doc_id",
            F.substring("h", 2, 8).alias("sort_key"),
        )
        .withColumn("ord_in_shard", F.row_number().over(w))
        .select("epoch", "shard_id", "doc_id", "ord_in_shard")
    )


_LENGTH_BUCKETS_ORACLE = """
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    bucketed AS (
      SELECT doc_id, n_tok,
             CAST(POWER(2, CEIL(log2(GREATEST(n_tok, 8)))) AS BIGINT) AS bucket
      FROM toks
    )
    SELECT bucket,
           COUNT(*)                         AS n_docs,
           CAST(SUM(n_tok) AS BIGINT)       AS real_tokens,
           CAST(SUM(bucket - n_tok) AS BIGINT) AS pad_tokens,
           ROUND(SUM(bucket - n_tok) * 100.0 / SUM(bucket), 2) AS pad_pct
    FROM bucketed GROUP BY bucket
"""


@register("corpus_length_buckets", oracle=_LENGTH_BUCKETS_ORACLE)
def corpus_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing report: docs binned to power-of-two
    token buckets (floor 8) with real-vs-padding token counts per bucket
    — the batching-efficiency audit behind every padded-batch training
    loader (pad_pct IS the fraction of FLOPs wasted if you batch by
    bucket; compare against corpus_pack_blocks, which packs instead of
    padding and wastes ~0). Pure scan + 16-ish-group aggregate: the
    bucket is a closed-form row expression, the corpus never shuffles
    row data."""
    t = load(spark, sf_dir)
    n_tok = F.size(F.split("text", " "))
    bucket = F.pow(
        F.lit(2.0), F.ceil(F.log2(F.greatest(n_tok, F.lit(8))))
    ).cast("bigint")
    b = t.documents.select(n_tok.alias("n_tok"), bucket.alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("real_tokens"),
        F.sum(F.col("bucket") - F.col("n_tok")).cast("bigint").alias("pad_tokens"),
        F.round(
            F.sum(F.col("bucket") - F.col("n_tok")) * 100.0 / F.sum("bucket"), 2
        ).alias("pad_pct"),
    )


#: Curriculum phases: quartiles of document length (shortest first —
#: the standard length-based curriculum; swap the difficulty column
#: for a model-based score and the machinery is unchanged).
CURRICULUM_PHASES = 4

_CURRICULUM_ORACLE = """
    WITH cuts AS (
      SELECT quantile_cont(n_chars, 0.25) AS q1,
             quantile_cont(n_chars, 0.50) AS q2,
             quantile_cont(n_chars, 0.75) AS q3
      FROM documents
    ),
    assigned AS (
      SELECT CAST(1 + CAST(d.n_chars > c.q1 AS INTEGER)
                    + CAST(d.n_chars > c.q2 AS INTEGER)
                    + CAST(d.n_chars > c.q3 AS INTEGER) AS BIGINT) AS phase,
             d.n_chars,
             len(string_split(d.text, ' ')) AS n_tok
      FROM documents d, cuts c
    )
    SELECT phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS len_lo,
           CAST(MAX(n_chars) AS BIGINT) AS len_hi,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(SUM(n_tok) / CAST((SELECT SUM(len(string_split(text, ' ')))
                                    FROM documents) AS DOUBLE), 4)
             AS token_share
    FROM assigned GROUP BY phase
"""


@register("corpus_curriculum_phases", oracle=_CURRICULUM_ORACLE)
def corpus_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule report: the corpus split into
    CURRICULUM_PHASES length-quartile phases (shortest documents train
    first — the standard length curriculum; a model-based difficulty
    column drops into the same cuts). Emits per-phase doc counts,
    length range, and token share — what the training scheduler
    consumes to budget steps per phase, and the sanity check that the
    phases actually differ in difficulty mass.

    Scale shape: pass 1 reduces the corpus to a 1-row exact-percentile
    cut frame (approx_percentile partials at 100 TB — the
    agg_winsorized_mean note); the cuts broadcast back onto one scan
    and phase assignment is three integer comparisons; the report is
    one combinable aggregate over the 4-phase domain. Percentile
    interpolation is bit-identical to quantile_cont (the
    text_length_trim precedent); everything else is exact integers."""
    t = load(spark, sf_dir)
    cuts = t.documents.agg(
        F.percentile("n_chars", F.lit(0.25)).alias("q1"),
        F.percentile("n_chars", F.lit(0.50)).alias("q2"),
        F.percentile("n_chars", F.lit(0.75)).alias("q3"),
    )
    assigned = t.documents.crossJoin(F.broadcast(cuts)).select(
        (
            1
            + (F.col("n_chars") > F.col("q1")).cast("int")
            + (F.col("n_chars") > F.col("q2")).cast("int")
            + (F.col("n_chars") > F.col("q3")).cast("int")
        ).cast("bigint").alias("phase"),
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    total = assigned.agg(F.sum("n_tok").alias("tot"))
    return (
        assigned.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("len_lo"),
            F.max("n_chars").cast("bigint").alias("len_hi"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "phase",
            "n_docs",
            "len_lo",
            "len_hi",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("tot").cast("double"), 4).alias(
                "token_share"
            ),
        )
    )


#: Importance-sampling bucket width over document length (shared with
#: corpus_length_buckets' convention): the feature whose corpus
#: distribution is reweighted toward the target mix.
IMPORTANCE_BUCKET_CHARS = 100

_IMPORTANCE_ORACLE = f"""
    WITH b AS (
      SELECT n_chars // {IMPORTANCE_BUCKET_CHARS} AS bucket,
             COUNT(*) AS n
      FROM documents GROUP BY 1
    ),
    s AS (
      SELECT bucket, n,
             SUM(n) OVER () AS n_total,
             COUNT(*) OVER () AS n_buckets
      FROM b
    ),
    w AS (
      SELECT bucket, n, n_total, n_buckets,
             (1.0 / n_buckets) / (n / CAST(n_total AS DOUBLE)) AS wt
      FROM s
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n AS BIGINT) AS n_docs,
           ROUND(n / CAST(n_total AS DOUBLE), 6) AS corpus_share,
           ROUND(1.0 / n_buckets, 6) AS target_share,
           ROUND(wt, 6) AS weight,
           ROUND(SUM(n * wt) OVER () * SUM(n * wt) OVER ()
                 / (SUM(n * wt * wt) OVER () * MAX(n_total) OVER ()), 4)
             AS ess_fraction
    FROM w
"""


@register("corpus_importance_weights", oracle=_IMPORTANCE_ORACLE)
def corpus_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-sampling weights for domain adaptation (the DSIR /
    data-selection shape): reweight the corpus's length-bucket
    distribution toward a uniform target mix — weight = target share /
    corpus share per bucket — and report the effective-sample-size
    fraction (Kish ESS = (sum w)^2 / (n sum w^2)): low ESS means the
    target mix is too far from the corpus and reweighted training will
    ride on few effective documents. Swap the uniform target for any
    literal mix and the machinery is unchanged.

    Scale shape: one combinable groupBy bounds everything at the
    length-bucket DOMAIN; shares/weights/ESS are windows over that
    bounded frame (SINGLE_PARTITION_OK). Determinism: every ratio is a
    single division of exact integers computed identically in both
    engines; ESS terms multiply exact-int products of those identical
    doubles."""
    t = load(spark, sf_dir)
    b = (
        t.documents.groupBy(
            F.floor(F.col("n_chars") / IMPORTANCE_BUCKET_CHARS).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_all = Window.partitionBy()
    n_total = F.sum("n").over(w_all)
    n_buckets = F.count(F.lit(1)).over(w_all)
    s = b.select(
        "bucket",
        "n",
        n_total.alias("n_total"),
        n_buckets.alias("n_buckets"),
    )
    wt = (1.0 / F.col("n_buckets")) / (
        F.col("n") / F.col("n_total").cast("double")
    )
    w = s.select("bucket", "n", "n_total", "n_buckets", wt.alias("wt"))
    sw = F.sum(F.col("n") * F.col("wt")).over(w_all)
    sw2 = F.sum(F.col("n") * F.col("wt") * F.col("wt")).over(w_all)
    return w.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(F.col("n") / F.col("n_total").cast("double"), 6).alias(
            "corpus_share"
        ),
        F.round(1.0 / F.col("n_buckets"), 6).alias("target_share"),
        F.round("wt", 6).alias("weight"),
        F.round(
            sw * sw / (sw2 * F.max("n_total").over(w_all)), 4
        ).alias("ess_fraction"),
    )


_BEST_KEEPER_ORACLE = f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    labels AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    q AS (
      SELECT doc_id,
             floor((
               0.4 * least(len(string_split(text, ' ')) / 200.0, 1.0)
             + 0.3 * (len(list_filter(string_split(text, ' '),
                                      w -> w IN ({_STOP_SQL})))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE))
             + 0.3 * (len(list_distinct(string_split(text, ' ')))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)))
                   * 10000) / 10000 AS quality
      FROM documents
    )
    SELECT l.doc_id,
           CAST(l.cluster_id AS BIGINT) AS cluster_id,
           q.quality,
           first_value(l.doc_id) OVER w AS keeper_id,
           first_value(q.quality) OVER w AS keeper_quality,
           first_value(l.doc_id) OVER w = l.doc_id AS is_keeper
    FROM labels l JOIN q USING (doc_id)
    WINDOW w AS (PARTITION BY l.cluster_id
                 ORDER BY q.quality DESC, l.doc_id)
"""


@register("corpus_dedup_best_keeper", oracle=_BEST_KEEPER_ORACLE)
def corpus_dedup_best_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonicalization: within each dedup
    cluster, keep the HIGHEST-QUALITY member (text_quality_score,
    doc_id tiebreak) instead of corpus_dedup_manifest's min-doc_id
    convention — when near-dups differ (one crawl of the page is
    truncated, one carries boilerplate), canonical choice is a real
    quality lever on the surviving corpus, which is why RefinedWeb-
    style pipelines rank cluster members before dropping. Emits every
    cluster member with its quality, the chosen keeper, and the
    is_keeper verdict.

    Plan: dedup_clusters' session-cached labels (localCheckpointed —
    the corpus_dedup_manifest lesson) join the one-scan quality
    expressions, then ONE window over clusters (bounded by the largest
    cluster). Determinism: quality is floor-scaled onto a lattice in
    both engines, so the ORDER BY tie-breaks identically; everything
    else is exact."""
    from .dedup import dedup_clusters as _clusters

    t = load(spark, sf_dir)
    lbl = (
        _clusters(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .localCheckpoint()
    )
    words = F.split("text", " ")
    n_words = F.size(words).cast("double")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    n_distinct = F.size(F.array_distinct(words))
    raw = (
        0.4 * F.least(F.size(words) / F.lit(200.0), F.lit(1.0))
        + 0.3 * (n_stop / n_words)
        + 0.3 * (n_distinct / n_words)
    )
    q = t.documents.select(
        "doc_id", (F.floor(raw * 10000) / 10000).alias("quality")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    return (
        lbl.join(q, "doc_id")
        .select(
            "doc_id",
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            "quality",
            F.first("doc_id").over(w).alias("keeper_id"),
            F.first("quality").over(w).alias("keeper_quality"),
            (F.first("doc_id").over(w) == F.col("doc_id")).alias("is_keeper"),
        )
    )


_POST_DEDUP_MIX_ORACLE = f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    labels AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY sha256(lower(text))) AS keeper
      FROM documents
    ),
    verdicts AS (
      SELECT d.doc_id, d.source,
             len(string_split(d.text, ' ')) AS n_tok,
             NOT (e.keeper <> d.doc_id
                  OR (l.cluster_id IS NOT NULL
                      AND l.cluster_id <> d.doc_id)) AS kept
      FROM documents d
      JOIN ex e ON e.doc_id = d.doc_id
      LEFT JOIN labels l ON l.doc_id = d.doc_id
    ),
    mix AS (
      SELECT source,
             SUM(n_tok) AS raw_tok,
             SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS kept_tok
      FROM verdicts GROUP BY source
    )
    SELECT source,
           CAST(raw_tok AS BIGINT) AS raw_tokens,
           CAST(kept_tok AS BIGINT) AS kept_tokens,
           ROUND(kept_tok / CAST(raw_tok AS DOUBLE), 4) AS survival_rate,
           ROUND(raw_tok / CAST(SUM(raw_tok) OVER () AS DOUBLE), 6)
             AS raw_share,
           ROUND(kept_tok / CAST(SUM(kept_tok) OVER () AS DOUBLE), 6)
             AS kept_share
    FROM mix
"""


@register("corpus_post_dedup_mix", oracle=_POST_DEDUP_MIX_ORACLE)
def corpus_post_dedup_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mix AFTER dedup: per source, raw vs surviving token
    counts under the corpus_dedup_manifest ladder (exact keeper, then
    cluster canonical) and the before/after mix shares — the number
    the training-mix builder must weight with, because a source that
    loses 40% of its tokens to dedup contributes far less than its raw
    share claims (and a heavily-mirrored source's loss IS the
    dedup_cross_source_matrix signal, priced in tokens). Closes the
    dedup story: pairs -> clusters -> manifest -> corrected mix.

    Plan: the manifest's two verdict joins (sha256 keeper window +
    session-cached cluster labels, localCheckpointed) + token counts
    in the SAME scan, reduced onto the source domain with share
    windows over that bounded frame. Exact integers + exact ratios."""
    from .dedup import dedup_clusters as _clusters

    t = load(spark, sf_dir)
    wq = Window.partitionBy(F.sha2(F.lower("text").cast("binary"), 256))
    lbl = (
        _clusters(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .localCheckpoint()
    )
    verdicts = (
        t.documents.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).alias("n_tok"),
            F.min("doc_id").over(wq).alias("keeper"),
        )
        .join(F.broadcast(lbl), "doc_id", "left")
        .select(
            "source",
            "n_tok",
            (
                ~(
                    (F.col("keeper") != F.col("doc_id"))
                    | (
                        F.col("cluster_id").isNotNull()
                        & (F.col("cluster_id") != F.col("doc_id"))
                    )
                )
            ).alias("kept"),
        )
    )
    mix = verdicts.groupBy("source").agg(
        F.sum("n_tok").alias("raw_tok"),
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0)).alias(
            "kept_tok"
        ),
    )
    w = Window.partitionBy()
    return mix.select(
        "source",
        F.col("raw_tok").cast("bigint").alias("raw_tokens"),
        F.col("kept_tok").cast("bigint").alias("kept_tokens"),
        F.round(
            F.col("kept_tok") / F.col("raw_tok").cast("double"), 4
        ).alias("survival_rate"),
        F.round(
            F.col("raw_tok") / F.sum("raw_tok").over(w).cast("double"), 6
        ).alias("raw_share"),
        F.round(
            F.col("kept_tok") / F.sum("kept_tok").over(w).cast("double"), 6
        ).alias("kept_share"),
    )


_CURATE_E2E_ORACLE = f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    {_URL_CANON_CTES.strip()},
    docs AS (
      SELECT d.doc_id, d.source, c.canonical_url AS curl,
             sha256(lower(d.text)) AS h,
             len(string_split(d.text, ' ')) AS n_tok,
             floor((
               0.4 * least(len(string_split(d.text, ' ')) / 200.0, 1.0)
             + 0.3 * (len(list_filter(string_split(d.text, ' '),
                                      w -> w IN ({{stops}})))
                      / CAST(len(string_split(d.text, ' ')) AS DOUBLE))
             + 0.3 * (len(list_distinct(string_split(d.text, ' ')))
                      / CAST(len(string_split(d.text, ' ')) AS DOUBLE)))
               * 10000) / 10000 AS quality,
             length(d.text) >= 100 AND length(d.text) <= 2000 AS len_ok
      FROM documents d JOIN canon c ON c.doc_id = d.doc_id
    ),
    s1 AS (
      SELECT *, doc_id <> MIN(doc_id) OVER (PARTITION BY curl) AS drop_url
      FROM docs
    ),
    s2 AS (
      SELECT *,
             NOT drop_url AND doc_id <> MIN(CASE WHEN NOT drop_url
                 THEN doc_id END) OVER (PARTITION BY h) AS drop_exact
      FROM s1
    ),
    s3 AS (
      SELECT s2.*, l.cluster_id
      FROM s2 LEFT JOIN lbl l ON l.doc_id = s2.doc_id
    ),
    nk AS (
      SELECT cluster_id, doc_id AS near_keeper FROM (
        SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY quality DESC, doc_id) AS rn
        FROM s3
        WHERE NOT drop_url AND NOT drop_exact AND cluster_id IS NOT NULL
      ) WHERE rn = 1
    ),
    s4 AS (
      SELECT s3.*,
             NOT drop_url AND NOT drop_exact AND s3.cluster_id IS NOT NULL
               AND s3.doc_id <> nk.near_keeper AS drop_near
      FROM s3 LEFT JOIN nk ON nk.cluster_id = s3.cluster_id
    ),
    v AS (
      SELECT source, n_tok,
             CASE WHEN drop_url THEN 'drop_url'
                  WHEN drop_exact THEN 'drop_exact'
                  WHEN drop_near THEN 'drop_near'
                  WHEN NOT (quality >= 0.28 AND len_ok) THEN 'drop_quality'
                  ELSE 'keep' END AS action
      FROM s4
    ),
    mix AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM(CASE WHEN action = 'drop_url' THEN 1 ELSE 0 END) AS nu,
             SUM(CASE WHEN action = 'drop_exact' THEN 1 ELSE 0 END) AS ne,
             SUM(CASE WHEN action = 'drop_near' THEN 1 ELSE 0 END) AS nn,
             SUM(CASE WHEN action = 'drop_quality' THEN 1 ELSE 0 END) AS nq,
             SUM(CASE WHEN action = 'keep' THEN 1 ELSE 0 END) AS nk,
             SUM(n_tok) AS raw_tok,
             SUM(CASE WHEN action = 'keep' THEN n_tok ELSE 0 END) AS kept_tok
      FROM v GROUP BY source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(nu AS BIGINT) AS n_drop_url,
           CAST(ne AS BIGINT) AS n_drop_exact,
           CAST(nn AS BIGINT) AS n_drop_near,
           CAST(nq AS BIGINT) AS n_drop_quality,
           CAST(nk AS BIGINT) AS n_kept,
           CAST(raw_tok AS BIGINT) AS raw_tokens,
           CAST(kept_tok AS BIGINT) AS kept_tokens,
           ROUND(kept_tok / CAST(raw_tok AS DOUBLE), 4) AS survival_rate,
           ROUND(kept_tok / CAST(SUM(kept_tok) OVER () AS DOUBLE), 6)
             AS kept_share
    FROM mix
""".replace("{stops}", _STOP_SQL)


@register("corpus_curate_e2e", oracle=_CURATE_E2E_ORACLE)
def corpus_curate_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE curation ladder end to end, as ONE operator — the artifact a
    training-data team actually ships: url-canonical dedup -> exact
    content-hash collapse -> near-dup cluster resolution with the
    BEST-KEEPER (quality-ranked) canonical -> quality/length gate, then
    the post-dedup source mix. One row per source with the full funnel
    (docs dropped per stage), surviving token counts, survival rate and
    the corrected mix share. Stages run SEQUENTIALLY ON SURVIVORS (the
    production order: cheapest verdict first — exact-collapse-first is
    executable here, not a docstring note), so each stage's count is
    the marginal cost of that rung, which is what makes the funnel a
    tuning instrument rather than four overlapping percentages.

    Plan: one scan of documents computes url canonical + content hash +
    quality + token count as pure Column work; stage 1 and 2 are ONE
    window each (canonical_url, then hash — the conditional-min trick
    keeps stage 2 aware of stage-1 survivors without a join); stage 3
    joins dedup_clusters' session-cached labels (localCheckpointed,
    the corpus_dedup_manifest lesson) and picks each cluster's
    quality-ranked keeper among survivors via a groupBy on the
    PAIR-BOUNDED labeled frame, broadcast back; the rollup reduces onto
    the source domain. Shuffle budget: 2 windows + 1 small groupBy + 1
    domain-bounded rollup — the corpus shuffles twice, never the pair
    graph. Determinism: quality on the 4-dp lattice (floor-scaled), so
    keeper ranking ties break by doc_id identically in both engines;
    counts and token sums exact integers; shares exact divisions."""
    from .dedup import (
        canonical_url_col,
        dedup_clusters,
        raw_url_col,
    )

    t = load(spark, sf_dir)
    words = F.split("text", " ")
    n_words = F.size(words).cast("double")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    n_distinct = F.size(F.array_distinct(words))
    raw_q = (
        0.4 * F.least(F.size(words) / F.lit(200.0), F.lit(1.0))
        + 0.3 * (n_stop / n_words)
        + 0.3 * (n_distinct / n_words)
    )
    lbl = (
        dedup_clusters(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .localCheckpoint()
    )
    docs = t.documents.select(
        "doc_id",
        "source",
        canonical_url_col(raw_url_col()).alias("curl"),
        F.sha2(F.lower("text").cast("binary"), 256).alias("h"),
        F.size(words).alias("n_tok"),
        (F.floor(raw_q * 10000) / 10000).alias("quality"),
        ((F.length("text") >= 100) & (F.length("text") <= 2000)).alias(
            "len_ok"
        ),
    )
    did = F.col("doc_id")
    s1 = docs.withColumn(
        "drop_url", did != F.min("doc_id").over(Window.partitionBy("curl"))
    )
    # stage 2 sees only stage-1 survivors via a conditional min — no
    # survivor self-join needed
    s2 = s1.withColumn(
        "drop_exact",
        ~F.col("drop_url")
        & (
            did
            != F.min(F.when(~F.col("drop_url"), did)).over(
                Window.partitionBy("h")
            )
        ),
    )
    s3 = s2.join(F.broadcast(lbl), "doc_id", "left")
    surv2 = ~F.col("drop_url") & ~F.col("drop_exact")
    nk = (
        s3.where(surv2 & F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    (-(F.col("quality") * 10000).cast("long")).alias("nq"),
                    did.alias("d"),
                )
            )["d"].alias("near_keeper")
        )
    )
    s4 = s3.join(F.broadcast(nk), "cluster_id", "left").withColumn(
        "drop_near",
        surv2 & F.col("cluster_id").isNotNull() & (did != F.col("near_keeper")),
    )
    action = (
        F.when(F.col("drop_url"), "drop_url")
        .when(F.col("drop_exact"), "drop_exact")
        .when(F.col("drop_near"), "drop_near")
        .when(
            ~((F.col("quality") >= 0.28) & F.col("len_ok")), "drop_quality"
        )
        .otherwise("keep")
    )
    v = s4.select("source", "n_tok", action.alias("action"))
    mix = v.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("action") == "drop_url").cast("long"))
        .cast("bigint")
        .alias("n_drop_url"),
        F.sum((F.col("action") == "drop_exact").cast("long"))
        .cast("bigint")
        .alias("n_drop_exact"),
        F.sum((F.col("action") == "drop_near").cast("long"))
        .cast("bigint")
        .alias("n_drop_near"),
        F.sum((F.col("action") == "drop_quality").cast("long"))
        .cast("bigint")
        .alias("n_drop_quality"),
        F.sum((F.col("action") == "keep").cast("long"))
        .cast("bigint")
        .alias("n_kept"),
        F.sum("n_tok").cast("bigint").alias("raw_tokens"),
        F.sum(F.when(F.col("action") == "keep", F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )
    w_all = Window.partitionBy()
    return mix.select(
        "source",
        "n_docs",
        "n_drop_url",
        "n_drop_exact",
        "n_drop_near",
        "n_drop_quality",
        "n_kept",
        "raw_tokens",
        "kept_tokens",
        F.round(
            F.col("kept_tokens") / F.col("raw_tokens").cast("double"), 4
        ).alias("survival_rate"),
        F.round(
            F.col("kept_tokens")
            / F.sum("kept_tokens").over(w_all).cast("double"),
            6,
        ).alias("kept_share"),
    )


_MIX_KL_ORACLE = f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY sha256(lower(text))) AS keeper
      FROM documents
    ),
    verdicts AS (
      SELECT d.doc_id, d.source,
             len(string_split(d.text, ' ')) AS n_tok,
             NOT (e.keeper <> d.doc_id
                  OR (l.cluster_id IS NOT NULL
                      AND l.cluster_id <> d.doc_id)) AS kept
      FROM documents d
      JOIN ex e ON e.doc_id = d.doc_id
      LEFT JOIN lbl l ON l.doc_id = d.doc_id
    ),
    mix AS (
      SELECT source,
             SUM(n_tok) AS raw_tok,
             SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS kept_tok
      FROM verdicts GROUP BY source
    ),
    shares AS (
      SELECT source, raw_tok, kept_tok,
             raw_tok / CAST(SUM(raw_tok) OVER () AS DOUBLE) AS p_raw,
             kept_tok / CAST(SUM(kept_tok) OVER () AS DOUBLE) AS p_kept
      FROM mix
    ),
    terms AS (
      SELECT source, p_raw, p_kept,
             CAST(floor(p_kept * ln(p_kept / p_raw) * 1000000000) AS BIGINT)
               AS kl_units
      FROM shares
    )
    SELECT source,
           ROUND(p_raw, 6) AS raw_share,
           ROUND(p_kept, 6) AS kept_share,
           ROUND(kl_units / 1000000000.0, 6) AS kl_term,
           ROUND(SUM(kl_units) OVER () / 1000000000.0, 6) AS kl_total
    FROM terms
"""


@register("corpus_mix_kl", oracle=_MIX_KL_ORACLE)
def corpus_mix_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of the POST-dedup source mix from the raw one —
    the single drift number that says how much deduplication has bent
    the training mixture away from what was planned, with each source's
    signed contribution (a heavily-mirrored source shows a large
    negative kept-vs-raw term; the sources that absorb its share show
    positive ones). corpus_post_dedup_mix emits the shares; this prices
    their divergence — re-weight (corpus_mix_weighted) when kl_total
    clears the team's tolerance.

    Scale/determinism: rides the same manifest-verdict scan as
    corpus_post_dedup_mix reduced to the SOURCE-domain frame; shares
    are exact-integer-ratio doubles identical in both engines; each KL
    term floor-quantizes to nano-units before the exact fold (stats
    lattice doctrine, 1e-9 because mix shares are O(1e-2) and terms
    O(1e-4))."""
    from .dedup import dedup_clusters as _clusters

    t = load(spark, sf_dir)
    wq = Window.partitionBy(F.sha2(F.lower("text").cast("binary"), 256))
    lbl = (
        _clusters(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .localCheckpoint()
    )
    verdicts = (
        t.documents.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).alias("n_tok"),
            F.min("doc_id").over(wq).alias("keeper"),
        )
        .join(F.broadcast(lbl), "doc_id", "left")
        .select(
            "source",
            "n_tok",
            (
                ~(
                    (F.col("keeper") != F.col("doc_id"))
                    | (
                        F.col("cluster_id").isNotNull()
                        & (F.col("cluster_id") != F.col("doc_id"))
                    )
                )
            ).alias("kept"),
        )
    )
    mix = verdicts.groupBy("source").agg(
        F.sum("n_tok").alias("raw_tok"),
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0)).alias(
            "kept_tok"
        ),
    )
    w = Window.partitionBy()
    p_raw = F.col("raw_tok") / F.sum("raw_tok").over(w).cast("double")
    p_kept = F.col("kept_tok") / F.sum("kept_tok").over(w).cast("double")
    shares = mix.select(
        "source", p_raw.alias("p_raw"), p_kept.alias("p_kept")
    )
    kl_units = F.floor(
        F.col("p_kept")
        * F.log(F.col("p_kept") / F.col("p_raw"))
        * 1_000_000_000
    ).cast("bigint")
    terms = shares.select("source", "p_raw", "p_kept", kl_units.alias("klu"))
    return terms.select(
        "source",
        F.round("p_raw", 6).alias("raw_share"),
        F.round("p_kept", 6).alias("kept_share"),
        F.round(F.col("klu") / 1_000_000_000.0, 6).alias("kl_term"),
        F.round(
            F.sum("klu").over(w) / 1_000_000_000.0, 6
        ).alias("kl_total"),
    )


#: Maximum token share any single language may hold after rebalancing.
LANG_QUOTA_CAP = 0.25

_LANG_QUOTA_ORACLE = f"""
    WITH toks AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS tokens,
             CAST(COUNT(*) AS BIGINT) AS docs
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t FROM toks)
    SELECT lang, docs, tokens,
           ROUND(tokens / CAST(t AS DOUBLE), 6) AS raw_share,
           CAST(LEAST(tokens, CAST(FLOOR({LANG_QUOTA_CAP} * t) AS BIGINT))
                AS BIGINT) AS kept_tokens,
           ROUND(LEAST(tokens, CAST(FLOOR({LANG_QUOTA_CAP} * t) AS BIGINT))
                 / CAST(tokens AS DOUBLE), 6) AS sampling_rate,
           tokens > FLOOR({LANG_QUOTA_CAP} * t) AS capped
    FROM toks, tot
"""


@register("corpus_lang_quotas", oracle=_LANG_QUOTA_ORACLE)
def corpus_lang_quotas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language quota plan: cap any language at {LANG_QUOTA_CAP:.0%} of
    corpus tokens and emit the per-language sampling rate that enforces
    it — the English-downsampling decision every multilingual
    pretraining mix makes explicit (cf. the temperature approach in
    corpus_mix_temperature: temperature reweights ALL languages
    smoothly, a quota is the hard ceiling variant; teams state both and
    pick one). The rates drive sample_bernoulli-style hash sampling so
    the plan is reproducible.

    Scale/determinism: one scan folds tokens to the LANGUAGE domain;
    the quota is a 1-row total joined back to that bounded frame; all
    token counts exact integers, two final divisions."""
    t = load(spark, sf_dir)
    toks = t.documents.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens"),
        F.count(F.lit(1)).cast("bigint").alias("docs"),
    )
    tot = toks.agg(F.sum("tokens").cast("bigint").alias("t"))
    quota = F.floor(LANG_QUOTA_CAP * F.col("t")).cast("bigint")
    kept = F.least(F.col("tokens"), quota)
    return toks.crossJoin(tot).select(
        "lang",
        "docs",
        "tokens",
        F.round(F.col("tokens") / F.col("t").cast("double"), 6).alias(
            "raw_share"
        ),
        kept.alias("kept_tokens"),
        F.round(kept / F.col("tokens").cast("double"), 6).alias(
            "sampling_rate"
        ),
        (F.col("tokens") > quota).alias("capped"),
    )
