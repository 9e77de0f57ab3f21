"""Text analysis for training-data pipelines (SURVEY.md section 2 B10):
per-document stats, quality scoring, token counting, language-ID heuristic,
document fingerprinting. All pure Column expressions (split /
regexp_extract_all / higher-order filter) — JVM-side and linear-scan
cheap, which is what lets them run over 100 TB of raw text.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves PEP-563 string
# annotations against module globals, so a function-local import breaks
# the signature check
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import register

#: tiny stopword list used by the quality/lang heuristics (English-ish,
#: matches the synthetic corpus vocabulary).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

#: BPE-ish token pattern: word pieces or single non-space punctuation.
TOKEN_RE = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"


@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           length(text)                                   AS n_chars_actual,
           len(string_split(text, ' '))                   AS n_words,
           len(regexp_extract_all(text, '{TOKEN_RE}'))    AS n_tokens,
           len(list_filter(string_split(text, ' '),
                           w -> w IN ({_STOP_SQL})))      AS n_stopwords,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')), 4)       AS avg_word_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document char/word/token/stopword counts + mean word length.
    Token counting = whitespace words AND a BPE-ish regex tokenizer."""
    t = load(spark, sf_dir)
    words = F.split("text", " ")
    return t.documents.select(
        "doc_id",
        "lang",
        "n_chars",
        F.length("text").alias("n_chars_actual"),
        F.size(words).alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("n_tokens"),
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).alias("n_stopwords"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double") / F.size(words),
            4,
        ).alias("avg_word_len"),
    )


@register(
    "text_quality_score",
    # floor-based truncation, NOT round: the 0.4/0.3/0.3 weights produce
    # exact half-ties at the 4th decimal, where Spark (HALF_UP) and DuckDB
    # (HALF_EVEN) disagree; floor on bit-identical doubles is engine-stable.
    oracle=f"""
    SELECT doc_id,
           floor((
             0.4 * least(len(string_split(text, ' ')) / 200.0, 1.0)
           + 0.3 * (len(list_filter(string_split(text, ' '),
                                    w -> w IN ({_STOP_SQL})))
                    / CAST(len(string_split(text, ' ')) AS DOUBLE))
           + 0.3 * (len(list_distinct(string_split(text, ' ')))
                    / CAST(len(string_split(text, ' ')) AS DOUBLE))) * 10000)
             / 10000 AS quality,
           length(text) >= 100 AND length(text) <= 2000 AS len_ok
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length saturation + stopword ratio +
    lexical diversity (the classic cheap pre-filters before expensive
    model-based scoring)."""
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
    return t.documents.select(
        "doc_id",
        quality.alias("quality"),
        ((F.length("text") >= 100) & (F.length("text") <= 2000)).alias("len_ok"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS lang_label,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     w -> w IN ({_STOP_SQL})))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.05
                THEN 'en' ELSE 'unknown' END AS lang_guess
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free language-ID heuristic: English stopword density. (A real
    pipeline swaps in fastText/CLD3 behind the same column contract.)"""
    t = load(spark, sf_dir)
    words = F.split("text", " ")
    ratio = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))) / F.size(
        words
    ).cast("double")
    return t.documents.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        F.when(ratio >= 0.05, "en").otherwise("unknown").alias("lang_guess"),
    )


@register(
    "text_tokenize_tf",
    oracle="""
    SELECT word, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
          FROM documents)
    GROUP BY word
    """,
)
def text_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequencies: explode(split) -> groupBy(word).
    Map-side partial aggregation keeps the shuffle at O(vocabulary), not
    O(tokens) — the property that makes this viable at 100 TB."""
    t = load(spark, sf_dir)
    tokens = t.documents.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    return tokens.groupBy("word").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(text))                            AS exact_fp,
           md5(array_to_string(
                 list_sort(list_distinct(string_split(lower(text), ' '))),
                 ' '))                                 AS bag_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact digest + order-insensitive bag-of-words
    digest (sorted distinct tokens) — the cheap keys for exact and
    word-order-insensitive dedup respectively."""
    t = load(spark, sf_dir)
    low = F.lower("text")
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(low, " "))))
    return t.documents.select(
        "doc_id",
        F.md5(low.cast("binary")).alias("exact_fp"),
        F.md5(bag.cast("binary")).alias("bag_fp"),
    )


@register(
    "text_ngrams",
    oracle="""
    SELECT DISTINCT doc_id,
           unnest([array_to_string(words[i:i+2], ' ')
                   FOR i IN range(1, len(words) - 1)]) AS shingle
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
          FROM documents WHERE doc_id < 100)
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-gram word shingles per document — the shared feature
    extraction under dedup_ngram_jaccard and dedup_minhash, exposed as
    its own operator (and its own oracle): one narrow explode, no
    shuffle until the dropDuplicates."""
    from .dedup import shingle_array

    t = load(spark, sf_dir)
    docs = t.documents.where(F.col("doc_id") < 100).select(
        "doc_id", F.split(F.lower("text"), " ").alias("words")
    )
    return docs.select(
        "doc_id", F.explode(shingle_array(F.col("words"), 3)).alias("shingle")
    ).dropDuplicates(["doc_id", "shingle"])


@register(
    "text_bpe_pairs",
    oracle="""
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS pair_count
    FROM (
      SELECT w.words[t.i] || ' ' || w.words[t.i + 1] AS pair
      FROM (SELECT string_split(lower(text), ' ') AS words
            FROM documents) w
      CROSS JOIN range(1, 10000) t(i)
      WHERE t.i < len(w.words)
    )
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 50
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step: corpus-wide adjacent-token-pair counts
    (the statistic a tokenizer trainer maximizes over). Pairs come from
    zipping each word array with its own tail — one explode, no
    self-join — then a hash aggregate on the pair string. At 100 TB this
    is exactly a word-count-shaped job: map-side combine crushes the
    long tail before the shuffle. Deterministic top-50 by (count, pair)."""
    t = load(spark, sf_dir)
    words = F.split(F.lower("text"), " ")
    pairs = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        t.documents.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(50)
    )


@register(
    "text_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
             ROUND(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq ON tf.word = dfreq.word CROSS JOIN n
    )
    SELECT doc_id, word, tf, df, tfidf, rk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, word) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic relevance/keyword
    statistic over the corpus (idf = ln(N/df), unsmoothed since every
    corpus term has df >= 1).

    Shuffle budget: tokens repartition once on doc_id; the (doc_id, word)
    term-frequency aggregate and the per-doc top-k window both reuse that
    partitioning (subset rule). Document frequency is a second aggregate
    at O(vocabulary) cost whose result — the vocabulary — is broadcast
    back, so the big token stream is shuffled exactly once. Ranking uses
    the ROUNDED score (6 dp): sub-1e-6 libm differences between engines
    collapse before the tie-break on word."""
    t = load(spark, sf_dir)
    tokens = (
        t.documents.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .repartition("doc_id")
    )
    # r14 optimization round: persist the term-frequency frame — both
    # the document-frequency aggregate and the scored join read it, so
    # the token explode + first aggregate otherwise execute twice
    # (value-identical; counts are exact either way).
    tf = (
        tokens.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = t.documents.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "word", "tf", "df", "tfidf", "rk")
    )


#: Gopher-style repetition thresholds (Rae et al. 2021 table A1 shape,
#: tuned to the synthetic fixture corpus): a doc whose single most
#: frequent word exceeds 20% of tokens, or whose most frequent word
#: bigram exceeds 18% of bigrams, is repetition spam.
TOP_WORD_FRAC_MAX = 0.20
TOP_BIGRAM_FRAC_MAX = 0.18


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    wtot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words
             FROM words GROUP BY doc_id),
    wtop AS (
      SELECT doc_id, MAX(c) AS top_word FROM (
        SELECT doc_id, COUNT(*) AS c FROM words GROUP BY doc_id, w
      ) GROUP BY doc_id
    ),
    grams AS (
      SELECT doc_id,
             unnest([array_to_string(ws[i:i+1], ' ')
                     FOR i IN range(1, len(ws))]) AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents)
    ),
    gtot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
             FROM grams GROUP BY doc_id),
    gtop AS (
      SELECT doc_id, MAX(c) AS top_gram FROM (
        SELECT doc_id, COUNT(*) AS c FROM grams GROUP BY doc_id, g
      ) GROUP BY doc_id
    )
    SELECT w.doc_id,
           ROUND(CAST(wt.top_word AS DOUBLE) / w.n_words, 4) AS top_word_frac,
           ROUND(CAST(gt.top_gram AS DOUBLE) / g.n_grams, 4) AS top_bigram_frac,
           (CAST(wt.top_word AS DOUBLE) / w.n_words <= {TOP_WORD_FRAC_MAX}
            AND CAST(gt.top_gram AS DOUBLE) / g.n_grams <= {TOP_BIGRAM_FRAC_MAX})
             AS keep
    FROM wtot w
    JOIN wtop wt USING (doc_id)
    JOIN gtot g USING (doc_id)
    JOIN gtop gt USING (doc_id)
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher rules): fraction of
    tokens taken by the single most frequent word, and of bigrams by the
    most frequent bigram; docs above either threshold are repetition spam
    (keep = false). Shuffle plan: each branch repartitions the COMPACT
    doc rows on doc_id once, BEFORE exploding — hash(doc_id) satisfies
    the clustered distribution of the (doc_id, gram) aggregate (subset
    key), the doc_id rollup, and the final stats join, so the whole
    chain after the two doc-row Exchanges is shuffle-free (4 -> 2
    Exchanges vs aggregating the exploded gram stream directly, and the
    shuffled rows are docs, not grams)."""
    from .dedup import shingle_array

    t = load(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    ).repartition("doc_id")
    words = docs.select("doc_id", F.explode("ws").alias("w"))
    wcounts = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    wstats = wcounts.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"), F.max("c").alias("top_word")
    )
    grams = docs.select("doc_id", F.explode(shingle_array(F.col("ws"), 2)).alias("g"))
    gcounts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    gstats = gcounts.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"), F.max("c").alias("top_gram")
    )
    top_word_frac = F.col("top_word").cast("double") / F.col("n_words")
    top_bigram_frac = F.col("top_gram").cast("double") / F.col("n_grams")
    return wstats.join(gstats, "doc_id").select(
        "doc_id",
        F.round(top_word_frac, 4).alias("top_word_frac"),
        F.round(top_bigram_frac, 4).alias("top_bigram_frac"),
        (
            (top_word_frac <= TOP_WORD_FRAC_MAX)
            & (top_bigram_frac <= TOP_BIGRAM_FRAC_MAX)
        ).alias("keep"),
    )


@register(
    "text_entropy",
    oracle="""
    WITH wc AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      GROUP BY doc_id, w
    ),
    stats AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT)          AS n_words,
             CAST(COUNT(*) AS BIGINT)        AS n_distinct,
             SUM(c * log2(c))                AS clog
      FROM wc GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_distinct,
           ROUND(log2(n_words) - clog / n_words, 4) AS word_entropy_bits,
           ROUND((log2(n_words) - clog / n_words)
                 / log2(GREATEST(n_distinct, 2)), 4) AS entropy_ratio
    FROM stats
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-distribution entropy — the information-density
    quality signal (near-zero bits = repeated-token spam; the ratio
    normalizes by the max achievable log2(n_distinct), so 1.0 = perfectly
    uniform usage). Computed with the H = log2(n) - (1/n)*sum(c*log2(c))
    identity: one (doc, word) count aggregate plus a per-doc rollup, no
    per-row probability column materialized. Rounding to 4 dp absorbs
    cross-engine libm log2 ulps (the text_tfidf convention)."""
    t = load(spark, sf_dir)
    words = t.documents.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    stats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.log2("c")).alias("clog"),
    )
    h = F.log2("n_words") - F.col("clog") / F.col("n_words")
    return stats.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(h, 4).alias("word_entropy_bits"),
        F.round(h / F.log2(F.greatest("n_distinct", F.lit(2))), 4).alias(
            "entropy_ratio"
        ),
    )


_PPL_ORACLE = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    toks AS (SELECT doc_id, unnest(ws) AS w FROM d),
    uni AS (SELECT w, COUNT(*) AS cu FROM toks GROUP BY w),
    tot AS (SELECT SUM(cu) AS n_total, COUNT(*) AS vocab FROM uni),
    bi AS (SELECT doc_id, ws[i] AS u, ws[i + 1] AS w
           FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM d)),
    bic AS (SELECT u, w, COUNT(*) AS cb FROM bi GROUP BY u, w),
    lp1 AS (
      SELECT doc_id, log2((cu + 1.0) / (n_total + vocab)) AS lp
      FROM (SELECT doc_id, ws[1] AS w FROM d) f JOIN uni USING (w), tot
    ),
    lp2 AS (
      SELECT b.doc_id, log2((cb + 1.0) / (cu + vocab)) AS lp
      FROM bi b JOIN uni ON uni.w = b.u
      JOIN bic ON bic.u = b.u AND bic.w = b.w, tot
    ),
    allp AS (SELECT * FROM lp1 UNION ALL SELECT * FROM lp2)
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(-SUM(lp) / COUNT(*), 4) AS bits_per_token,
           ROUND(POWER(2, -SUM(lp) / COUNT(*)), 2) AS ppl
    FROM allp GROUP BY doc_id
"""


@register("text_perplexity_ngram", oracle=_PPL_ORACLE)
def text_perplexity_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity per document — the CCNet-style quality
    signal (Wenzek et al. 2020 filter CommonCrawl by LM perplexity;
    low-ppl = fluent, high-ppl = noise/boilerplate/garbled). Model =
    add-one-smoothed bigram LM trained on the corpus itself: first token
    scored by the unigram distribution, every next token by
    P(w|u) = (c(u,w)+1)/(c(u)+V).

    Plan shape at 100 TB: unigram and bigram COUNT aggregates are
    map-side combinable (the shuffle carries (ngram, partial) rows, not
    token streams); the trained model joins back to the token stream on
    the ngram key — count tables are corpus-vocabulary-sized, so these
    are plain shuffle joins that AQE can turn into broadcasts when a
    domain's vocab is small. The 1-row (N, V) total broadcasts. A
    production CCNet run trains the LM on a CLEAN reference corpus and
    scores the dirty one; same plan, two inputs. Rounding at 4 dp
    absorbs cross-engine libm log2 ulps (text_entropy convention)."""
    t = load(spark, sf_dir)
    d = t.documents.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    )
    toks = d.select("doc_id", F.explode("ws").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    tot = uni.agg(
        F.sum("cu").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    n = F.size("ws")
    bi = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("ws", 1, n - 1),
                F.slice("ws", 2, n - 1),
                lambda a, b: F.struct(a.alias("u"), b.alias("w")),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.u").alias("u"), F.col("bg.w").alias("w"))
    bic = bi.groupBy("u", "w").agg(F.count(F.lit(1)).alias("cb"))
    lp1 = (
        d.select("doc_id", F.col("ws")[0].alias("w"))
        .join(uni, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.log2((F.col("cu") + 1.0) / (F.col("n_total") + F.col("vocab"))).alias("lp"),
        )
    )
    lp2 = (
        bi.join(uni.select(F.col("w").alias("u"), "cu"), "u")
        .join(bic, ["u", "w"])
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.log2((F.col("cb") + 1.0) / (F.col("cu") + F.col("vocab"))).alias("lp"),
        )
    )
    allp = lp1.unionByName(lp2)
    bits = -F.sum("lp") / F.count(F.lit(1))
    return allp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(bits, 4).alias("bits_per_token"),
        F.round(F.pow(F.lit(2.0), bits), 2).alias("ppl"),
    )


#: Gopher required stopwords (Rae et al. 2021, App. A): a doc must
#: contain at least 2 of these to pass the rule.
GOPHER_REQ_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_GOPHER_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, text, string_split(text, ' ') AS words
      FROM documents
    ),
    m AS (
      SELECT doc_id, text, words,
             len(words) AS wc,
             list_aggregate(list_transform(words, x -> len(x)), 'sum')
               / CAST(len(words) AS DOUBLE) AS mwl,
             len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
               / CAST(len(words) AS DOUBLE) AS alpha_frac,
             ((len(text) - len(replace(text, '#', '')))
              + (len(text) - len(replace(text, '...', ''))) / 3)
               / CAST(len(words) AS DOUBLE) AS sym_ratio,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                             s -> list_contains(words, s))) AS n_req_stops
      FROM w
    )
    SELECT doc_id,
           CAST(wc AS BIGINT) AS wc,
           floor(mwl * 10000) / 10000 AS mean_word_len,
           wc BETWEEN 50 AND 100000        AS ok_word_count,
           mwl >= 3 AND mwl <= 10          AS ok_mean_word_len,
           sym_ratio <= 0.1                AS ok_symbol_ratio,
           alpha_frac >= 0.8               AS ok_alpha_words,
           n_req_stops >= 2                AS ok_req_stopwords,
           (wc BETWEEN 50 AND 100000) AND (mwl >= 3 AND mwl <= 10)
             AND sym_ratio <= 0.1 AND alpha_frac >= 0.8
             AND n_req_stops >= 2          AS keep
    FROM m
"""


@register("text_gopher_rules", oracle=_GOPHER_ORACLE)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (r5; Rae et al. 2021 Appendix A —
    the named filter set MassiveText introduced and Dolma/FineWeb/RedPajama
    descend from), as per-document per-RULE booleans plus the combined
    keep decision: word-count band [50, 100k], mean word length in
    [3, 10], symbol-to-word ratio (# and ellipsis) <= 0.1, >= 80% of
    words containing an alphabetic character, and >= 2 of the 8 required
    stopwords. Emitting each rule separately (not just `keep`) is the
    operational form: curation teams track WHICH rule fires to tune
    thresholds per source. The doc-level line-based rules (bullet-start /
    ellipsis-end fractions) are omitted — this corpus is single-line —
    and would be two more list_filter ratios over split(text, '\\n') in
    the same single-scan shape.

    All rules are one projection of Column expressions over one scan —
    no shuffle, no UDF; the per-word HOFs (length sum, alpha filter)
    are per-row bounded work, and at 100 TB this is the cheapest pass in
    the curation pipeline (contrast the model-based scorers it gates)."""
    t = load(spark, sf_dir)
    words = F.split("text", " ")
    wc = F.size(words)
    wcd = wc.cast("double")
    mwl = (
        F.aggregate(
            F.transform(words, lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / wcd
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))) / wcd
    )
    sym_ratio = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit(""))))
        + (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
        )
        / 3
    ) / wcd
    n_req = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_REQ_STOPS]),
            lambda s: F.array_contains(words, s),
        )
    )
    ok_wc = (wc >= 50) & (wc <= 100000)
    ok_mwl = (mwl >= 3) & (mwl <= 10)
    ok_sym = sym_ratio <= 0.1
    ok_alpha = alpha_frac >= 0.8
    ok_stops = n_req >= 2
    return t.documents.select(
        "doc_id",
        wc.cast("bigint").alias("wc"),
        (F.floor(mwl * 10000) / 10000).alias("mean_word_len"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stops.alias("ok_req_stopwords"),
        (ok_wc & ok_mwl & ok_sym & ok_alpha & ok_stops).alias("keep"),
    )


#: Source pair for the drift monitor (deterministic literals; the
#: fixture's sources are uniform src0..src19 at every SF) and the 5%
#: two-sample KS critical coefficient c(alpha) = 1.358 as a literal.
DRIFT_SRC_A, DRIFT_SRC_B = "src0", "src1"
KS_CRIT_COEF = 1.358

_SOURCE_DRIFT_ORACLE = f"""
    WITH s AS (
      SELECT source, n_chars FROM documents
      WHERE source IN ('{DRIFT_SRC_A}', '{DRIFT_SRC_B}')
    ),
    vg AS (
      SELECT n_chars AS x,
             SUM(CASE WHEN source = '{DRIFT_SRC_A}' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN source = '{DRIFT_SRC_B}' THEN 1 ELSE 0 END) AS cb
      FROM s GROUP BY n_chars
    ),
    r AS (
      SELECT x,
             SUM(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_b,
             SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
      FROM vg
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
           ROUND(MAX(abs(cum_a / CAST(na AS DOUBLE)
                         - cum_b / CAST(nb AS DOUBLE))), 4) AS ks_d,
           MAX(abs(cum_a / CAST(na AS DOUBLE) - cum_b / CAST(nb AS DOUBLE)))
             > {KS_CRIT_COEF} * sqrt((MAX(na) + MAX(nb))
                                     / (CAST(MAX(na) AS DOUBLE) * MAX(nb)))
             AS drift_detected
    FROM r
"""


@register("text_source_drift", oracle=_SOURCE_DRIFT_ORACLE)
def text_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: two-sample Kolmogorov-Smirnov test between
    two sources' document-length distributions — the check a corpus
    refresh runs before mixing a re-crawled source back in ("did this
    source's content profile shift?"), and the agg_ks_test machinery
    applied to the CORPUS table. Emits the KS D statistic and the 5%
    decision against the c(alpha) sqrt((n+m)/nm) critical value
    (literal coefficient, no inverse-CDF).

    Scale shape: one combinable groupBy bounds everything by the
    n_chars VALUE DOMAIN; the ECDF windows run over that bounded frame.
    Determinism: counts exact; each ECDF ratio is one division of exact
    integers computed identically in both engines, so the max-gap D is
    exact before its display rounding."""
    t = load(spark, sf_dir)
    s = t.documents.where(
        F.col("source").isin(DRIFT_SRC_A, DRIFT_SRC_B)
    ).select("source", "n_chars")
    vg = s.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(
            F.when(F.col("source") == DRIFT_SRC_A, 1).otherwise(0)
        ).alias("ca"),
        F.sum(
            F.when(F.col("source") == DRIFT_SRC_B, 1).otherwise(0)
        ).alias("cb"),
    )
    w_cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    r = vg.select(
        F.sum("ca").over(w_cum).alias("cum_a"),
        F.sum("cb").over(w_cum).alias("cum_b"),
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
    )
    gap = F.abs(
        F.col("cum_a") / F.col("na").cast("double")
        - F.col("cum_b") / F.col("nb").cast("double")
    )
    crit = KS_CRIT_COEF * F.sqrt(
        (F.col("na") + F.col("nb"))
        / (F.col("na").cast("double") * F.col("nb"))
    )
    agg = r.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.max(gap).alias("d"),
        F.max(gap > crit).alias("drift"),
    )
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round("d", 4).alias("ks_d"),
        F.col("drift").alias("drift_detected"),
    )


#: Bigram LM scoring in integer MICRO-BITS: each bigram's log2
#: probability quantizes to an exact integer before the per-doc sum,
#: so document scores are order-independent in both engines (the
#: graph_pagerank micro-unit doctrine applied to floats-from-log2).
LM_MICRO = 1_000_000

_BIGRAM_LM_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents
    ),
    big AS (
      SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
      FROM toks, unnest(range(1, len(a))) AS t(i)
    ),
    cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    cu AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w) AS vocab
          FROM (SELECT unnest(a) AS w FROM toks)),
    scored AS (
      SELECT b.doc_id,
             CAST(ROUND(log2((cb.c12 + 1)
                             / CAST(cu.c1 + v.vocab AS DOUBLE))
                        * {LM_MICRO}) AS BIGINT) AS lp
      FROM big b
      JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
      JOIN cu ON cu.w1 = b.w1
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           floor(SUM(lp) / CAST(COUNT(*) AS DOUBLE) / {LM_MICRO} * 10000)
             / 10000 AS avg_log2p,
           floor(pow(2.0, -(SUM(lp) / CAST(COUNT(*) AS DOUBLE) / {LM_MICRO}))
                 * 100) / 100 AS perplexity
    FROM scored GROUP BY doc_id
"""


@register("text_bigram_lm", oracle=_BIGRAM_LM_ORACLE)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a corpus-trained add-one-smoothed
    word-bigram language model — the classic KenLM-style quality score
    a pretraining pipeline computes at corpus scale (CCNet/Gopher: keep
    documents a reference LM finds unsurprising; boilerplate and
    gibberish both land in the tails). The corpus IS the training set
    here; production swaps the count tables for a held-out reference
    corpus and the machinery is unchanged. P(w2|w1) = (c12+1)/(c1+V),
    scored as avg log2 P over each doc's bigrams, ppl = 2^-avg.

    Scale shape: one token explode feeds three combinable count
    aggregates (bigram table O(bigram vocab), context table O(vocab),
    V scalar); scoring re-joins the doc bigram stream against both
    count tables on their token keys — shuffle O(corpus bigrams), the
    honest cost of LM scoring, with the count tables broadcast when
    they fit. Determinism: counts exact, each log2 runs on identical
    doubles, and per-bigram scores quantize to integer MICRO-BITS so
    doc sums are exact integer sums (order-independent both engines);
    display values floor-scaled. Docs with < 2 tokens have no bigrams
    and drop out (scoring is undefined, not zero)."""
    t = load(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.split(F.lower("text"), " ").alias("a")
    )
    # guard single-token docs: Spark's sequence(1, 0) DESCENDS instead
    # of emitting empty (the win_theil_sen cross-engine trap).
    pairs = F.when(
        F.size("a") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("a") - 1),
            lambda i: F.struct(
                F.element_at(F.col("a"), i).alias("w1"),
                F.element_at(F.col("a"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = toks.select("doc_id", F.explode(pairs).alias("bg")).select(
        "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    cu = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        toks.select(F.explode("a").alias("w"))
        .agg(F.countDistinct("w").alias("vocab"))
    )
    lp = F.round(
        F.log2(
            (F.col("c12") + 1) / (F.col("c1") + F.col("vocab")).cast("double")
        )
        * LM_MICRO
    ).cast("bigint")
    scored = (
        big.join(cb, ["w1", "w2"])
        .join(cu.withColumnRenamed("w1", "w1j"), F.col("w1") == F.col("w1j"))
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    avg_bits = F.sum("lp") / F.count(F.lit(1)).cast("double") / LM_MICRO
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        (F.floor(avg_bits * 10_000) / 10_000).alias("avg_log2p"),
        (F.floor(F.pow(F.lit(2.0), -avg_bits) * 100) / 100).alias("perplexity"),
    )


#: Code-detection gates (rule-of-thumb router thresholds): symbol-char
#: share, code-keyword hits, and line-structure evidence vote 2-of-3.
CODE_SYMBOLS = "{}()[];=<>"
CODE_KEYWORDS = (
    "def", "return", "import", "class", "void", "function", "var",
    "const", "if", "else", "for", "while", "int", "public",
)
CODE_SYM_TAU = 0.03
CODE_KW_MIN = 2

_CODE_KW_SQL = ", ".join(f"'{k}'" for k in CODE_KEYWORDS)

_CODE_DETECT_ORACLE = f"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n_chars_t,
             length(text) - length(
               regexp_replace(text, '[{{}}()\\[\\];=<>]', '', 'g'))
               AS n_sym,
             len(list_filter(string_split(lower(text), ' '),
                             w -> w IN ({_CODE_KW_SQL}))) AS n_kw,
             len(string_split(text, chr(10))) AS n_lines
      FROM documents
    )
    SELECT doc_id,
           ROUND(n_sym / CAST(n_chars_t AS DOUBLE), 4) AS symbol_ratio,
           CAST(n_kw AS BIGINT) AS keyword_hits,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_sym / CAST(n_chars_t AS DOUBLE) >= {CODE_SYM_TAU} AS INTEGER)
             + CAST(n_kw >= {CODE_KW_MIN} AS INTEGER)
             + CAST(n_lines >= 3 AS INTEGER) >= 2 AS is_code
    FROM feats
"""


@register("text_code_detect", oracle=_CODE_DETECT_ORACLE)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose router: per document, symbol-character share,
    code-keyword hits, and multi-line structure vote 2-of-3 on an
    `is_code` verdict — the pretraining router that decides whether a
    document flows to the code tokenizer/quality stack or the prose one
    (mixing them poisons both pipelines' quality filters; StarCoder-
    style pipelines run exactly this gate first). A trained classifier
    replaces the vote at quality-critical scale; the routing machinery
    is unchanged.

    Scale shape: pure per-row Column expressions over one scan — no
    shuffle, no UDF, linear to 100 TB by construction. Determinism:
    counts are exact integers (regexp strip length for symbols, list
    filter for keywords, newline split for lines); the vote compares
    one identical ratio against literals."""
    t = load(spark, sf_dir)
    n_chars_t = F.length("text")
    n_sym = n_chars_t - F.length(
        F.regexp_replace("text", r"[{}()\[\];=<>]", "")
    )
    words = F.split(F.lower("text"), " ")
    n_kw = F.size(F.filter(words, lambda w: w.isin(*CODE_KEYWORDS)))
    n_lines = F.size(F.split("text", "\n"))
    ratio = n_sym / n_chars_t.cast("double")
    vote = (
        (ratio >= CODE_SYM_TAU).cast("int")
        + (n_kw >= CODE_KW_MIN).cast("int")
        + (n_lines >= 3).cast("int")
    )
    return t.documents.select(
        "doc_id",
        F.round(ratio, 4).alias("symbol_ratio"),
        n_kw.cast("bigint").alias("keyword_hits"),
        n_lines.cast("bigint").alias("n_lines"),
        (vote >= 2).alias("is_code"),
    )


_FERTILITY_ORACLE = f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_extract_all(text, '{TOKEN_RE}')))
                AS BIGINT) AS n_tokens,
           ROUND(SUM(len(regexp_extract_all(text, '{TOKEN_RE}')))
                 / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE), 4)
             AS fertility,
           ROUND(SUM(length(text))
                 / CAST(SUM(len(regexp_extract_all(text, '{TOKEN_RE}')))
                        AS DOUBLE), 4) AS chars_per_token
    FROM documents GROUP BY source
"""


@register("corpus_tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: tokens-per-word and
    chars-per-token under the engine's BPE-ish tokenizer (TOKEN_RE) —
    the metric that prices a tokenizer against a corpus (fertility
    near 1 = efficient encoding; high fertility on a source = its
    text fragments into many pieces, inflating training cost and
    shrinking the effective context window; THE standard table in any
    tokenizer-retraining decision, computed per source so a drifting
    source stands out).

    Scale shape: pure per-row counting expressions folded into one
    map-side-combinable aggregate on the source domain — no shuffle
    beyond the |sources|-key exchange, no UDF. Determinism: all counts
    exact integers; two identical divisions per row."""
    t = load(spark, sf_dir)
    n_words = F.size(F.split("text", " "))
    n_tokens = F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0))
    return t.documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(n_words).cast("bigint").alias("n_words"),
        F.sum(n_tokens).cast("bigint").alias("n_tokens"),
        F.round(
            F.sum(n_tokens) / F.sum(n_words).cast("double"), 4
        ).alias("fertility"),
        F.round(
            F.sum(F.length("text")) / F.sum(n_tokens).cast("double"), 4
        ).alias("chars_per_token"),
    )


#: OOV vocabulary: the TOP_VOCAB_K most frequent corpus tokens (count
#: then doc-frequency then alphabetical tie-break — fully ordered, so
#: both engines pick the identical vocabulary).
TOP_VOCAB_K = 1000

_OOV_ORACLE = f"""
    WITH tf AS (
      SELECT word, COUNT(*) AS c, COUNT(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      GROUP BY word
    ),
    vocab AS (
      SELECT word FROM tf
      ORDER BY c DESC, df DESC, word LIMIT {TOP_VOCAB_K}
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    flags AS (
      SELECT t.doc_id,
             CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN vocab v ON v.word = t.word
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           ROUND(SUM(oov) / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate,
           SUM(oov) / CAST(COUNT(*) AS DOUBLE) > 0.5 AS mostly_oov
    FROM flags GROUP BY doc_id
"""


@register("text_oov_rate", oracle=_OOV_ORACLE)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-{TOP_VOCAB_K} token vocabulary — the tokenizer-coverage /
    domain-mismatch screen (a doc that is mostly OOV against the
    working vocabulary is foreign-language, code, or garbage relative
    to the corpus the tokenizer was fit on; pairs with
    corpus_tokenizer_fertility, which prices the tokens that DO exist).
    The mostly_oov flag is the routing verdict.

    Scale shape: vocabulary = one combinable token count + a top-k cut
    (K rows broadcast — the vocabulary table is ALWAYS broadcastable);
    the corpus token stream then left-probes it with no shuffle beyond
    the vocab count's own. Determinism: counts exact; the vocabulary
    cut is fully ordered (count, df, word) so both engines select the
    identical word set."""
    t = load(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    tf = toks.groupBy("word").agg(
        F.count(F.lit(1)).alias("c"), F.countDistinct("doc_id").alias("df")
    )
    vocab = (
        tf.orderBy(F.col("c").desc(), F.col("df").desc(), "word")
        .limit(TOP_VOCAB_K)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    flags = toks.join(F.broadcast(vocab), "word", "left").select(
        "doc_id",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    n = F.count(F.lit(1))
    oov = F.sum("oov")
    return flags.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        oov.cast("bigint").alias("n_oov"),
        F.round(oov / n.cast("double"), 6).alias("oov_rate"),
        (oov / n.cast("double") > 0.5).alias("mostly_oov"),
    )


_LANG_MIX_ORACLE = """
    WITH cells AS (
      SELECT source, lang,
             COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tok
      FROM documents GROUP BY source, lang
    ),
    m AS (
      SELECT source, lang, n_docs, n_tok,
             SUM(n_tok) OVER (PARTITION BY source) AS src_tok
      FROM cells
    ),
    ent AS (
      SELECT source,
             SUM(CAST(floor(-(n_tok / CAST(src_tok AS DOUBLE))
                   * ln(n_tok / CAST(src_tok AS DOUBLE)) / ln(2.0)
                   * 1000000) AS BIGINT)) AS h_units,
             MAX(src_tok) AS src_tok2
      FROM m GROUP BY source
    )
    SELECT m.source, m.lang,
           CAST(m.n_docs AS BIGINT) AS n_docs,
           CAST(m.n_tok AS BIGINT) AS n_tokens,
           ROUND(m.n_tok / CAST(m.src_tok AS DOUBLE), 6) AS lang_share,
           ROUND(e.h_units / 1000000.0, 6) AS lang_entropy_bits
    FROM m JOIN ent e ON e.source = m.source
"""


@register("text_language_mix", oracle=_LANG_MIX_ORACLE)
def text_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language mix: token counts and share per (source,
    lang) plus the source's language ENTROPY in bits — the routing
    report a multilingual curation pipeline reads before assigning
    tokenizers and per-language quality thresholds (an English-tuned
    Gopher battery silently shreds a source whose entropy says it is
    40% something else; text_lang_id guesses per-doc, this reports the
    portfolio). Entropy 0 = monolingual source; high entropy = route
    per-doc, not per-source.

    Scale/determinism: one combinable aggregate onto the
    (source x lang)-DOMAIN frame; shares are exact-integer-ratio
    divisions; entropy terms micro-unit-quantize before the exact fold
    (agg_mutual_info doctrine)."""
    t = load(spark, sf_dir)
    cells = t.documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tok"),
    )
    w_src = Window.partitionBy("source")
    m = cells.select(
        "source",
        "lang",
        "n_docs",
        "n_tok",
        F.sum("n_tok").over(w_src).alias("src_tok"),
    )
    share = F.col("n_tok") / F.col("src_tok").cast("double")
    h_units = F.floor(
        -share * F.log(share) / F.log(F.lit(2.0)) * 1_000_000
    ).cast("bigint")
    ent = m.select("source", h_units.alias("hu")).groupBy("source").agg(
        F.sum("hu").alias("h_units")
    )
    return m.join(F.broadcast(ent), "source").select(
        "source",
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        F.round(share, 6).alias("lang_share"),
        F.round(F.col("h_units") / 1_000_000.0, 6).alias(
            "lang_entropy_bits"
        ),
    )


#: PMI collocation parameters: minimum bigram support (denoise) and the
#: emitted top-k.
PMI_MIN_SUPPORT = 5
PMI_TOP_K = 20

_PMI_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
    ),
    bigrams AS (
      SELECT words[i] AS w1, words[i + 1] AS w2
      FROM toks, unnest(range(1, len(words))) AS t(i)
    ),
    bg AS (
      SELECT w1, w2, COUNT(*) AS n_pair FROM bigrams
      WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2
    ),
    uni AS (
      SELECT w, SUM(c) AS c FROM (
        SELECT w1 AS w, COUNT(*) AS c FROM bigrams WHERE w1 <> '' GROUP BY w1
        UNION ALL
        SELECT w2, COUNT(*) FROM bigrams WHERE w2 <> '' GROUP BY w2
      ) GROUP BY w
    ),
    tot AS (SELECT SUM(n_pair) AS n FROM bg),
    scored AS (
      SELECT bg.w1, bg.w2, bg.n_pair,
             CAST(floor(ln(bg.n_pair * 2.0 * CAST(tot.n AS DOUBLE) * 2.0
                           / (u1.c * CAST(u2.c AS DOUBLE))) * 1000000)
                  AS BIGINT) AS pmi_units
      FROM bg
      JOIN uni u1 ON u1.w = bg.w1
      JOIN uni u2 ON u2.w = bg.w2
      CROSS JOIN tot
      WHERE bg.n_pair >= {PMI_MIN_SUPPORT}
    )
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
           ROUND(pmi_units / 1000000.0, 6) AS pmi
    FROM scored
    ORDER BY pmi_units DESC, w1, w2
    LIMIT {PMI_TOP_K}
"""


@register("text_word_pmi", oracle=_PMI_ORACLE)
def text_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP_K} word collocations by pointwise mutual
    information over adjacent token pairs (support >= {PMI_MIN_SUPPORT})
    — the phrase-mining primitive behind tokenizer merge candidates and
    stop-phrase lists (text_bpe_pairs counts raw adjacency; PMI
    normalizes away word frequency, so "new york" outranks "of the").
    Unigram mass is counted from BOTH bigram slots so the PMI
    normalization is self-consistent on the pair universe.

    Scale/determinism: bigram and unigram counts are combinable
    explode+count aggregates (shuffle carries partial counts); PMI's
    ln runs on a single division of exact integers and floor-quantizes
    to micro-units BEFORE the global top-k (TakeOrderedAndProject), so
    ranking ties break on words identically in both engines."""
    t = load(spark, sf_dir)
    words = F.split(F.lower("text"), " ")
    toks = t.documents.select(words.alias("words"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("words") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 1),
                    lambda i: F.struct(
                        F.element_at("words", i).alias("w1"),
                        F.element_at("words", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bg = (
        pairs.where((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    uni = (
        pairs.where(F.col("w1") != "")
        .groupBy(F.col("w1").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
        .unionByName(
            pairs.where(F.col("w2") != "")
            .groupBy(F.col("w2").alias("w"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        .groupBy("w")
        .agg(F.sum("c").alias("c"))
    )
    tot = bg.agg(F.sum("n_pair").alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi_units = F.floor(
        F.log(
            F.col("n_pair")
            * 2.0
            * F.col("n").cast("double")
            * 2.0
            / (F.col("c1") * F.col("c2").cast("double"))
        )
        * 1_000_000
    ).cast("bigint")
    scored = (
        bg.where(F.col("n_pair") >= PMI_MIN_SUPPORT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n_pair", pmi_units.alias("pmi_units"))
    )
    return (
        scored.orderBy(F.col("pmi_units").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.round(F.col("pmi_units") / 1_000_000.0, 6).alias("pmi"),
        )
    )


#: Source-similarity vocabulary: JS divergence is computed over the
#: corpus-wide top-K words so the distribution support is bounded and
#: shared (rare-word tails are where sampling noise lives anyway).
JS_VOCAB_K = 500

_JS_ORACLE = f"""
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    wc AS (
      SELECT source, w, COUNT(*) AS c FROM toks WHERE w <> ''
      GROUP BY source, w
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, SUM(c) AS tot,
               row_number() OVER (ORDER BY SUM(c) DESC, w) AS rk
        FROM wc GROUP BY w
      ) WHERE rk <= {JS_VOCAB_K}
    ),
    sv AS (
      SELECT s.source, v.w, COALESCE(wc.c, 0) AS c
      FROM (SELECT DISTINCT source FROM wc) s
      CROSS JOIN vocab v
      LEFT JOIN wc ON wc.source = s.source AND wc.w = v.w
    ),
    dist AS (
      SELECT source, w,
             c / CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE) AS p
      FROM sv
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(floor((
               CASE WHEN a.p > 0
                    THEN 0.5 * a.p * ln(a.p / ((a.p + b.p) / 2))
                    ELSE 0 END
             + CASE WHEN b.p > 0
                    THEN 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2))
                    ELSE 0 END) * 1000000000) AS BIGINT) AS js_units
      FROM dist a
      JOIN dist b ON a.w = b.w AND a.source < b.source
    )
    SELECT source_a, source_b,
           ROUND(SUM(js_units) / 1000000000.0, 6) AS js_divergence
    FROM pairs GROUP BY source_a, source_b
"""


@register("text_source_similarity_js", oracle=_JS_ORACLE)
def text_source_similarity_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions over the corpus top-{JS_VOCAB_K} vocabulary — the
    source-redundancy matrix (0 = same distribution, ln 2 = disjoint):
    two sources with near-zero JS are stylistic mirrors and should
    share one mix weight (dedup_cross_source_matrix finds literal copy
    overlap; this finds DISTRIBUTIONAL redundancy that survives
    paraphrase). The standard corpus-cartography number.

    Scale/determinism: word counts are combinable; the vocabulary is a
    bounded global top-k; distributions live on the (source x vocab)
    dense frame (|sources| x {JS_VOCAB_K} rows at any corpus size) and
    the pair join is over that bounded frame only. Each JS term
    floor-quantizes to nano-units before the exact per-pair fold
    (shares are O(1e-3), terms O(1e-6))."""
    t = load(spark, sf_dir)
    toks = t.documents.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    wc = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        wc.groupBy("w")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.col("tot").desc(), "w")
        .limit(JS_VOCAB_K)
        .select("w")
    )
    sources = wc.select("source").distinct()
    sv = (
        sources.crossJoin(F.broadcast(vocab))
        .join(wc, ["source", "w"], "left")
        .fillna({"c": 0})
    )
    w_src = Window.partitionBy("source")
    dist = sv.select(
        "source",
        "w",
        (F.col("c") / F.sum("c").over(w_src).cast("double")).alias("p"),
    )
    a = dist.alias("a")
    b = dist.alias("b")
    mid = (F.col("a.p") + F.col("b.p")) / 2
    term = F.when(
        F.col("a.p") > 0, 0.5 * F.col("a.p") * F.log(F.col("a.p") / mid)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("b.p") > 0, 0.5 * F.col("b.p") * F.log(F.col("b.p") / mid)
    ).otherwise(F.lit(0.0))
    pairs = a.join(
        b,
        (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.floor(term * 1_000_000_000).cast("bigint").alias("js_units"),
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.round(F.sum("js_units") / 1_000_000_000.0, 6).alias(
            "js_divergence"
        )
    )


#: Burstiness vocabulary bound (same policy as JS_VOCAB_K): the
#: variance-to-mean statistic needs enough occurrences to mean
#: anything, and the top of the frequency table is where it lives.
BURST_VOCAB_K = 200

_BURSTINESS_ORACLE = f"""
    WITH wc AS (
      SELECT doc_id, w, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY doc_id, w
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    vocab AS (
      SELECT w, tot FROM (
        SELECT w, SUM(c) AS tot,
               row_number() OVER (ORDER BY SUM(c) DESC, w) AS rk
        FROM wc GROUP BY w
      ) WHERE rk <= {BURST_VOCAB_K}
    ),
    stats AS (
      SELECT v.w, v.tot,
             COUNT(*) AS n_docs_with,
             SUM(wc.c) AS s1,
             SUM(CAST(wc.c AS HUGEINT) * wc.c) AS s2
      FROM wc JOIN vocab v USING (w)
      GROUP BY v.w, v.tot
    )
    SELECT w AS word,
           CAST(tot AS BIGINT) AS n_occurrences,
           CAST(n_docs_with AS BIGINT) AS n_docs_with,
           ROUND((s2 - CAST(s1 AS DOUBLE) * s1 / nd.n_docs)
                 / (nd.n_docs - 1.0)
                 / (s1 / CAST(nd.n_docs AS DOUBLE)), 6) AS burstiness,
           (s2 - CAST(s1 AS DOUBLE) * s1 / nd.n_docs) / (nd.n_docs - 1.0)
             / (s1 / CAST(nd.n_docs AS DOUBLE)) > 2.0 AS content_like
    FROM stats CROSS JOIN nd
"""


@register("text_word_burstiness", oracle=_BURSTINESS_ORACLE)
def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness over the corpus top-{BURST_VOCAB_K} vocabulary:
    the variance-to-mean ratio of per-document occurrence counts
    (zeros included — a word appearing 10 times in one doc and never
    elsewhere is maximally bursty; a function word sprinkles evenly at
    ratio ~1, Poisson-like). The Church-Gale content/function-word
    separator: bursty words are TOPICS (good keyword/index candidates),
    smooth ones are GLUE (stopword candidates beyond any fixed list) —
    the data-driven upgrade of the STOPWORDS constant the quality
    scores hardcode.

    Scale/determinism: per-(doc, word) counts are combinable; zeros
    enter through the closed form (sum over missing docs contributes
    0 to S1/S2, n_docs supplies the denominator) so no dense
    doc x vocab frame materializes; exact integer sums (S2 as
    decimal/HUGEINT), one identical expression per word over the
    VOCAB-bounded frame."""
    t = load(spark, sf_dir)
    wc = (
        t.documents.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    vocab = (
        wc.groupBy("w")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.col("tot").desc(), "w")
        .limit(BURST_VOCAB_K)
    )
    stats = (
        wc.join(F.broadcast(vocab), "w")
        .groupBy("w", "tot")
        .agg(
            F.count(F.lit(1)).alias("n_docs_with"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
        )
    )
    ndd = F.col("n_docs").cast("double")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_docs")
    ) / (ndd - 1.0)
    mean = F.col("s1") / ndd
    burst = var / mean
    return stats.crossJoin(F.broadcast(n_docs)).select(
        F.col("w").alias("word"),
        F.col("tot").cast("bigint").alias("n_occurrences"),
        F.col("n_docs_with").cast("bigint").alias("n_docs_with"),
        F.round(burst, 6).alias("burstiness"),
        (burst > 2.0).alias("content_like"),
    )


#: Vocabulary sizes priced by the coverage curve.
VOCAB_CURVE_SIZES = (100, 1000, 10000)

_VOCAB_COVERAGE_ORACLE = f"""
    WITH w AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
    ),
    freq AS (SELECT word, COUNT(*) AS f FROM w GROUP BY word),
    ranked AS (
      SELECT f,
             ROW_NUMBER() OVER (ORDER BY f DESC, word) AS rk,
             SUM(f) OVER () AS total
      FROM freq
    ),
    cum AS (
      SELECT rk, total,
             SUM(f) OVER (ORDER BY rk
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_f
      FROM ranked
    )
    SELECT CAST(v AS BIGINT) AS vocab_size,
           CAST(MAX(CASE WHEN rk <= v THEN cum_f END) AS BIGINT)
             AS covered_occurrences,
           CAST(MAX(total) AS BIGINT) AS total_occurrences,
           ROUND(MAX(CASE WHEN rk <= v THEN cum_f END)
                 / CAST(MAX(total) AS DOUBLE), 6) AS coverage
    FROM cum,
         (VALUES {", ".join(f"({v})" for v in VOCAB_CURVE_SIZES)}) AS vs(v)
    GROUP BY v ORDER BY v
"""


@register("text_vocab_coverage", oracle=_VOCAB_COVERAGE_ORACLE)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of all token OCCURRENCES
    the top-{{100, 1k, 10k}} word types cover — the number that sizes a
    tokenizer vocabulary or a stopword/embedding table before training
    (text_oov_rate prices ONE fixed vocab; this is the curve you read
    to CHOOSE the size; corpus_heaps_law gives the dual type-growth
    view). Ties at a frequency break by word, documented and identical
    in both engines.

    Scale/determinism: one explode -> word-count aggregate (combinable
    integer sums); ranking and the cumulative fold run on the
    VOCAB-domain frequency frame (types, not tokens — Heaps' law keeps
    it sublinear in the corpus; at web scale you'd df-floor it first);
    coverage rows land on the bounded curve domain."""
    t = load(spark, sf_dir)
    freq = (
        t.documents.select(
            F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w_rank = Window.orderBy(F.desc("f"), "word")
    w_cum = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ranked = freq.select(
        "f",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("f").over(w_all).alias("total"),
    )
    cum = ranked.select(
        "rk", "total", F.sum("f").over(w_cum).alias("cum_f")
    )
    sizes = F.explode(
        F.array(*[F.lit(v) for v in VOCAB_CURVE_SIZES])
    ).alias("vocab_size")
    return (
        cum.select("rk", "total", "cum_f")
        .crossJoin(spark.range(1).select(sizes).select("vocab_size"))
        .groupBy("vocab_size")
        .agg(
            F.max(
                F.when(F.col("rk") <= F.col("vocab_size"), F.col("cum_f"))
            ).cast("bigint").alias("covered_occurrences"),
            F.max("total").cast("bigint").alias("total_occurrences"),
            F.round(
                F.max(
                    F.when(
                        F.col("rk") <= F.col("vocab_size"), F.col("cum_f")
                    )
                )
                / F.max("total").cast("double"),
                6,
            ).alias("coverage"),
        )
        .select(
            F.col("vocab_size").cast("bigint").alias("vocab_size"),
            "covered_occurrences",
            "total_occurrences",
            "coverage",
        )
        .orderBy("vocab_size")
    )


#: Compression-ratio suspicion cut (compressed/original, 4-dp units):
#: below this the text is so self-repetitive that zlib folds it — the
#: boilerplate / looping-generation signal (the Gopher-family
#: compressibility filter).
COMPRESSIBLE_MAX_U = 4500
#: zlib level pinned for determinism (same library, same level ->
#: byte-identical output everywhere Python runs).
ZLIB_LEVEL = 6


def _zratio_u_py(text: str) -> int:
    """floor(1e4 * len(zlib(text)) / len(text)) — the shared scalar both
    the executor batches and the golden replay run."""
    import zlib

    enc = text.encode("utf-8")
    if not enc:
        return 10_000
    return len(zlib.compress(enc, ZLIB_LEVEL)) * 10_000 // len(enc)


def _compression_golden(sf_dir: str) -> str | None:
    """Golden VALUES per source from the oracle fixture bytes (the
    dedup_minhash replay precedent: DuckDB has no zlib, so the oracle
    is the same deterministic computation run in pure Python)."""
    import pyarrow.parquet as pq

    from ..goldens import values_oracle

    try:
        docs = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["source", "text"]
        ).to_pylist()
    except Exception:
        return None
    agg: dict[str, list[int]] = {}
    for r in docs:
        agg.setdefault(r["source"], []).append(_zratio_u_py(r["text"]))
    rows = []
    for src in sorted(agg):
        us = agg[src]
        n = len(us)
        rows.append(
            (
                src,
                n,
                round(sum(us) / n / 10_000.0, 6),
                min(us) / 10_000.0,
                sum(1 for u in us if u < COMPRESSIBLE_MAX_U) * 10_000 // n
                / 10_000.0,
            )
        )
    return values_oracle(
        rows,
        ["source", "n_docs", "mean_ratio", "min_ratio", "suspect_share"],
        casts={
            "n_docs": "BIGINT", "mean_ratio": "DOUBLE",
            "min_ratio": "DOUBLE", "suspect_share": "DOUBLE",
        },
        order_by="source",
    )


@register("text_compression_ratio", oracle=_compression_golden)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compressibility profile: zlib(text)/len(text) folded
    to mean, min and the share of docs below {COMPRESSIBLE_MAX_U/1e4}
    — the compression-ratio quality filter of the Gopher/FineWeb
    lineage: text that compresses too well IS repetitive (boilerplate,
    looping generations, template farms), and the signal needs no
    tokenizer, no language model and no vocabulary, which is why
    pipelines run it first. Complements text_repetition_filter
    (explicit n-gram shares) with the information-theoretic catch-all
    that sees repetition structures n-gram windows miss.

    Scale/determinism: the ratio is computed per doc in an
    Arrow-batched pandas UDF (the deliberate vectorized-Python path —
    zlib is C-speed and the bytes never leave the executor; at 100 TB
    this is a scan-local map like the multimodal decodes) and floored
    to the 4-dp integer lattice INSIDE the UDF, so the per-source fold
    is exact integer arithmetic; zlib level pinned; the oracle is the
    identical pure-Python replay over the fixture bytes (no SQL zlib
    exists — dedup_minhash golden precedent)."""
    t = load(spark, sf_dir)

    @F.pandas_udf("bigint")
    def zratio_u(texts: pd.Series) -> pd.Series:
        return texts.map(_zratio_u_py)

    per_doc = t.documents.select(
        "source", zratio_u(F.col("text")).alias("u")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum("u").cast("double") / F.count(F.lit(1)) / 10_000.0, 6
            ).alias("mean_ratio"),
            (F.min("u") / 10_000.0).alias("min_ratio"),
            (
                F.floor(
                    F.sum((F.col("u") < COMPRESSIBLE_MAX_U).cast("int"))
                    * 10_000
                    / F.count(F.lit(1))
                )
                / 10_000.0
            ).alias("suspect_share"),
        )
        .orderBy("source")
    )


@register(
    "text_hapax_ratio",
    oracle="""
    WITH words AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT lang, word, COUNT(*) AS c FROM words GROUP BY lang, word
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(c) AS BIGINT) AS tokens,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dis_legomena,
           floor(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE) * 1000000) / 1000000
             AS hapax_ratio,
           floor(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE) * 1000000) / 1000000
             AS sichel_s
    FROM wc GROUP BY lang ORDER BY lang
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena profile per language: vocabulary size, token
    count, words occurring exactly once (hapax) and exactly twice (dis
    legomena), plus the hapax ratio and Sichel's S = dis/V — the
    vocabulary-growth diagnostics that complement corpus_heaps_law
    (growth CURVE) and text_zipf_fit (rank SLOPE): a natural corpus
    runs ~40-60% hapax; boilerplate or template-generated text
    collapses the ratio, and a rising hapax share across crawl
    snapshots signals OCR noise or spam injection — both standard
    pre-train corpus screens.

    Scale/determinism: explode + two combinable groupBys (word counts,
    then count-of-counts per lang); every output is an exact integer
    except the two final single-division ratios on the 1e-6 floor
    lattice. The word domain is vocabulary-bounded; no window, no
    driver state."""
    t = load(spark, sf_dir)
    words = t.documents.select(
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("word"),
    )
    wc = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    v = F.count(F.lit(1))
    hap = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    dis = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
    return (
        wc.groupBy("lang")
        .agg(
            v.cast("bigint").alias("vocab"),
            F.sum("c").cast("bigint").alias("tokens"),
            hap.cast("bigint").alias("hapax"),
            dis.cast("bigint").alias("dis_legomena"),
            (F.floor(hap / v.cast("double") * 1_000_000) / 1_000_000).alias(
                "hapax_ratio"
            ),
            (F.floor(dis / v.cast("double") * 1_000_000) / 1_000_000).alias(
                "sichel_s"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# r11 lexical-statistics batch: frequency-spectrum richness measures and
# character-level predictability, per corpus slice.


@register(
    "text_yules_k",
    oracle="""
    WITH words AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT source, word, COUNT(*) AS c FROM words GROUP BY source, word
    ),
    s AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM wc GROUP BY source
    )
    SELECT source, n, v,
           floor(10000.0 * (s2 - n) / (CAST(n AS DOUBLE) * n) * 10000)
             / 10000 AS yules_k,
           floor((s2 - n) / (CAST(n AS DOUBLE) * (n - 1)) * 1000000)
             / 1000000 AS simpson_d
    FROM s WHERE n > 1 ORDER BY source
    """,
)
def text_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K and Simpson's D per source: K =
    10^4 * (sum(f^2) - N) / N^2 and D = sum(f(f-1)) / (N(N-1)) over the
    word frequency spectrum — the REPEAT-RATE richness measures (the
    probability two random tokens are the same word). text_hapax_ratio
    reads the BOTTOM of the spectrum (once/twice words), K/D weight the
    TOP (each word's count enters squared), so template spam that
    recycles a small vocabulary inflates K sharply while barely moving
    the hapax share — and K is length-invariant where raw TTR
    (text_ttr) decays with N, making it the cross-source comparable
    number. Authorship-attribution classic (Yule 1944).

    Scale/determinism: explode + one combinable (source, word) count,
    then one exact-integer moment fold (N, V, sum f^2 all bigint —
    f^2 <= N^2 < 2^63 per source at any corpus size needs f < 3e9
    per word-source; a word repeated more often than that exceeds the
    decimal guard, so s2 folds in decimal(38,0)); the two statistics
    are single divisions on floor lattices (4 dp / 6 dp)."""
    t = load(spark, sf_dir)
    words = t.documents.select(
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("word"),
    )
    wc = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    # c*c widens to decimal BEFORE the sum: a corpus-scale stopword
    # count ~1e10 squares past 2^63 (r11 overflow self-audit)
    s = wc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    n, s2 = F.col("n"), F.col("s2")
    return (
        s.where(n > 1)
        .select(
            "source",
            "n",
            "v",
            (
                F.floor(
                    10000.0 * (s2 - n) / (n.cast("double") * n) * 10000
                )
                / 10000
            ).alias("yules_k"),
            (
                F.floor(
                    (s2 - n) / (n.cast("double") * (n - 1)) * 1_000_000
                )
                / 1_000_000
            ).alias("simpson_d"),
        )
        .orderBy("source")
    )


@register(
    "text_lexical_richness",
    oracle="""
    WITH words AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT lang, word, COUNT(*) AS c FROM words GROUP BY lang, word
    ),
    s AS (
      SELECT lang,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1
      FROM wc GROUP BY lang
    )
    SELECT lang, n, v,
           ROUND(v / sqrt(CAST(n AS DOUBLE)), 4) AS guiraud_r,
           ROUND(ln(CAST(v AS DOUBLE)) / ln(CAST(n AS DOUBLE)), 4)
             AS herdan_c,
           ROUND(POWER(CAST(n AS DOUBLE),
                       POWER(CAST(v AS DOUBLE), -0.165)), 4) AS brunet_w,
           CASE WHEN v1 < v
                THEN ROUND(100.0 * ln(CAST(n AS DOUBLE))
                           / (1.0 - v1 / CAST(v AS DOUBLE)), 4)
           END AS honore_h
    FROM s WHERE n > 1 ORDER BY lang
    """,
)
def text_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-corrected lexical-richness panel per language: Guiraud's
    R = V/sqrt(N), Herdan's C = ln V/ln N, Brunet's W = N^(V^-0.165)
    and Honore's H = 100 ln N/(1 - V1/V). Raw type-token ratio
    (text_ttr) is incomparable across slices because V grows sublinearly
    in N (corpus_heaps_law measures exactly that); these four are the
    standard normalizations that stay stable as the slice grows, so a
    cross-language or cross-snapshot drop IS a vocabulary change, not a
    size artifact. W falls with richness (typical prose 10-20); R, C, H
    rise with it.

    Scale/determinism: one combinable (lang, word) count then one
    exact-integer fold (N, V, V1); all four statistics are single
    closed-form double expressions per lang row, rounded at 4 dp (libm
    ln/pow ulp absorption, the text_entropy convention). Degenerate
    guard: an all-hapax slice (V1 = V) nulls Honore's H on both
    engines."""
    t = load(spark, sf_dir)
    words = t.documents.select(
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("word"),
    )
    wc = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    s = wc.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("v1"),
    )
    n = F.col("n").cast("double")
    v = F.col("v").cast("double")
    v1 = F.col("v1")
    return (
        s.where(F.col("n") > 1)
        .select(
            "lang",
            "n",
            "v",
            F.round(v / F.sqrt(n), 4).alias("guiraud_r"),
            F.round(F.log(v) / F.log(n), 4).alias("herdan_c"),
            F.round(F.pow(n, F.pow(v, -0.165)), 4).alias("brunet_w"),
            F.when(
                v1 < F.col("v"),
                F.round(100.0 * F.log(n) / (1.0 - v1 / v), 4),
            ).alias("honore_h"),
        )
        .orderBy("lang")
    )


@register(
    "text_char_bigram_entropy",
    oracle="""
    WITH d AS (
      SELECT lang, lower(text) AS tx FROM documents
      WHERE length(text) >= 2
    ),
    big AS (
      SELECT lang, substr(tx, CAST(i AS INT), 2) AS g
      FROM (SELECT lang, tx, unnest(range(1, length(tx))) AS i FROM d)
    ),
    bc AS (
      SELECT lang, g, COUNT(*) AS c FROM big GROUP BY lang, g
    ),
    uc AS (
      SELECT lang, substr(g, 1, 1) AS u, SUM(c) AS cu
      FROM bc GROUP BY lang, substr(g, 1, 1)
    ),
    s AS (
      SELECT lang,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
             SUM(c * log2(c)) AS clog
      FROM bc GROUP BY lang
    ),
    su AS (
      SELECT lang, SUM(cu * log2(cu)) AS ulog FROM uc GROUP BY lang
    )
    SELECT s.lang, n_bigrams, distinct_bigrams,
           ROUND((ulog - clog) / n_bigrams, 4) AS cond_entropy_bits,
           ROUND(log2(CAST(n_bigrams AS DOUBLE)) - clog / n_bigrams, 4)
             AS bigram_entropy_bits
    FROM s JOIN su ON s.lang = su.lang ORDER BY s.lang
    """,
)
def text_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level conditional entropy H(next char | char) per
    language, from the char-bigram spectrum: H(c2|c1) = [sum(cu log2
    cu) - sum(c log2 c)] / N over bigram counts c and first-char
    marginals cu. THE language-agnostic garbled-text detector: natural
    language runs ~3-4 bits/char conditional (Shannon), base64 blobs
    and encryption push toward log2(charset), OCR mush sits between —
    and unlike text_entropy (word distribution, needs whitespace
    tokenization) this sees damage INSIDE words and scripts with no
    spaces. The companion bigram entropy bounds it from above.

    Scale/determinism: chars explode via substring positions (linear
    scan work, map-side combinable counts); the (lang, bigram) domain
    is charset^2-bounded, so both entropy folds are tiny aggregates of
    exact integer counts; c*log2(c) terms round at 4 dp after the
    final division (libm ulp absorption). Docs shorter than 2 chars
    drop on both engines."""
    t = load(spark, sf_dir)
    d = t.documents.where(F.length("text") >= 2).select(
        "lang", F.lower("text").alias("tx")
    )
    pos = d.select(
        "lang",
        "tx",
        F.explode(
            F.sequence(F.lit(1), F.length("tx") - 1)
        ).alias("i"),
    )
    big = pos.select(
        "lang", F.expr("substring(tx, i, 2)").alias("g")
    )
    bc = big.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("c"))
    uc = bc.groupBy("lang", F.substring("g", 1, 1).alias("u")).agg(
        F.sum("c").alias("cu")
    )
    s = bc.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_bigrams"),
        F.sum(F.col("c") * F.log2("c")).alias("clog"),
    )
    su = uc.groupBy("lang").agg(
        F.sum(F.col("cu") * F.log2("cu")).alias("ulog")
    )
    nb = F.col("n_bigrams")
    return (
        s.join(su, "lang")
        .select(
            "lang",
            "n_bigrams",
            "distinct_bigrams",
            F.round((F.col("ulog") - F.col("clog")) / nb, 4).alias(
                "cond_entropy_bits"
            ),
            F.round(
                F.log2(nb.cast("double")) - F.col("clog") / nb, 4
            ).alias("bigram_entropy_bits"),
        )
        .orderBy("lang")
    )
