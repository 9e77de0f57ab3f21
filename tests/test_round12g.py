"""Round-12 planted-model sweep, part 6 (beyond the VERDICT scope but
the same defect class): exact pins for the llm/textstats formula
operators that had only directional coverage — Yule's K / Simpson's D,
the lexical-richness panel, character-bigram conditional entropy,
per-document word entropy, and TF-IDF. Each model recomputes the
published formula from the planted text in plain Python."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from data_ingestion_poc_spark import registry
from conftest import module_spark


spark = module_spark(shuffle_partitions=4)


def _write_docs(spark, tmp_path, docs):
    """docs: (doc_id, text, lang, source)."""
    spark.createDataFrame(
        [(i, tx, lg, src, len(tx)) for i, tx, lg, src in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def _run(name, spark, tmp_path):
    return registry.get(name).fn(spark, str(tmp_path)).collect()


DOCS = [
    (0, "the cat sat on the mat the cat", "en", "web"),
    (1, "a b a b a c", "en", "web"),
    (2, "der hund der hund der", "de", "mail"),
]


# ---------------------------------------------------------------------------
# Yule's K and Simpson's D from the word frequency spectrum.


def test_yules_k_exact(spark, tmp_path):
    _write_docs(spark, tmp_path, DOCS)
    out = {r["source"]: r for r in _run("text_yules_k", spark, tmp_path)}
    by_source = {}
    for _, tx, _, src in DOCS:
        by_source.setdefault(src, []).extend(tx.lower().split(" "))
    for src, words in by_source.items():
        freq = Counter(words)
        n = len(words)
        s2 = sum(c * c for c in freq.values())
        k = 10000.0 * (s2 - n) / (n * n)
        d = (s2 - n) / (n * (n - 1))
        r = out[src]
        assert (r["n"], r["v"]) == (n, len(freq))
        assert r["yules_k"] == pytest.approx(
            math.floor(k * 1e4) / 1e4, abs=1e-9
        ), src
        assert r["simpson_d"] == pytest.approx(
            math.floor(d * 1e6) / 1e6, abs=1e-9
        )


# ---------------------------------------------------------------------------
# Lexical-richness panel: Guiraud R, Herdan C, Brunet W, Honore H.


def test_lexical_richness_exact(spark, tmp_path):
    _write_docs(spark, tmp_path, DOCS)
    out = {r["lang"]: r for r in _run("text_lexical_richness", spark, tmp_path)}
    by_lang = {}
    for _, tx, lg, _ in DOCS:
        by_lang.setdefault(lg, []).extend(tx.lower().split(" "))
    for lg, words in by_lang.items():
        freq = Counter(words)
        n, v = len(words), len(freq)
        v1 = sum(1 for c in freq.values() if c == 1)
        r = out[lg]
        assert (r["n"], r["v"]) == (n, v)
        assert r["guiraud_r"] == pytest.approx(
            round(v / math.sqrt(n), 4), abs=1e-9
        )
        assert r["herdan_c"] == pytest.approx(
            round(math.log(v) / math.log(n), 4), abs=1e-9
        )
        assert r["brunet_w"] == pytest.approx(
            round(n ** (v**-0.165), 4), abs=1e-9
        )
        if v1 < v:
            assert r["honore_h"] == pytest.approx(
                round(100.0 * math.log(n) / (1.0 - v1 / v), 4), abs=1e-9
            )
        else:
            assert r["honore_h"] is None


# ---------------------------------------------------------------------------
# Character-bigram conditional entropy: H(c2|c1) via the two-fold
# identity [sum cu log2 cu - sum c log2 c] / N.


def test_char_bigram_entropy_exact(spark, tmp_path):
    _write_docs(spark, tmp_path, DOCS)
    out = {r["lang"]: r for r in _run("text_char_bigram_entropy", spark, tmp_path)}
    by_lang = {}
    for _, tx, lg, _ in DOCS:
        t = tx.lower()
        if len(t) >= 2:
            by_lang.setdefault(lg, []).extend(
                t[i : i + 2] for i in range(len(t) - 1)
            )
    for lg, grams in by_lang.items():
        bc = Counter(grams)
        uc = Counter(g[0] for g in grams)
        n = len(grams)
        clog = sum(c * math.log2(c) for c in bc.values())
        ulog = sum(c * math.log2(c) for c in uc.values())
        r = out[lg]
        assert r["n_bigrams"] == n
        assert r["distinct_bigrams"] == len(bc)
        assert r["cond_entropy_bits"] == pytest.approx(
            round((ulog - clog) / n, 4), abs=1e-9
        ), lg
        assert r["bigram_entropy_bits"] == pytest.approx(
            round(math.log2(n) - clog / n, 4), abs=1e-9
        )
        # textbook identity: H(c2|c1) <= H(bigram)
        assert r["cond_entropy_bits"] <= r["bigram_entropy_bits"] + 1e-9


# ---------------------------------------------------------------------------
# Word entropy per document: H = log2(n) - (1/n) sum c log2 c.


def test_text_entropy_exact(spark, tmp_path):
    _write_docs(spark, tmp_path, DOCS)
    out = {r["doc_id"]: r for r in _run("text_entropy", spark, tmp_path)}
    for i, tx, _, _ in DOCS:
        freq = Counter(tx.lower().split(" "))
        n = sum(freq.values())
        clog = sum(c * math.log2(c) for c in freq.values())
        h = math.log2(n) - clog / n
        r = out[i]
        assert (r["n_words"], r["n_distinct"]) == (n, len(freq))
        assert r["word_entropy_bits"] == pytest.approx(round(h, 4), abs=1e-9)
        assert r["entropy_ratio"] == pytest.approx(
            round(h / math.log2(max(len(freq), 2)), 4), abs=1e-9
        )
    # published corner: doc 1 over {a:3, b:2, c:1} has H = log2(6) - (3
    # log2 3 + 2)/6
    want = math.log2(6) - (3 * math.log2(3) + 2) / 6
    assert out[1]["word_entropy_bits"] == pytest.approx(
        round(want, 4), abs=1e-9
    )


# ---------------------------------------------------------------------------
# TF-IDF: tf * ln(N/df) with the unsmoothed idf, top-3 per doc.


def test_tfidf_exact(spark, tmp_path):
    _write_docs(spark, tmp_path, DOCS)
    rows = _run("text_tfidf", spark, tmp_path)
    n_docs = len(DOCS)
    tf = {}
    dfreq = Counter()
    for i, tx, _, _ in DOCS:
        freq = Counter(tx.lower().split(" "))
        tf[i] = freq
        for w in freq:
            dfreq[w] += 1
    model = {}
    for i, freq in tf.items():
        scored = sorted(
            (
                (-round(c * math.log(n_docs / dfreq[w]), 6), w, c)
                for w, c in freq.items()
            ),
        )[:3]
        model[i] = [(w, c, -s) for s, w, c in scored]
    for r in rows:
        w, c, s = model[r["doc_id"]][r["rk"] - 1]
        assert r["word"] == w and r["tf"] == c
        assert r["df"] == dfreq[w]
        assert r["tfidf"] == pytest.approx(s, abs=1e-9)
