"""Property-based tests (hypothesis): randomized inputs against
independent Python models. Each @given example runs a small Spark job, so
example counts are deliberately low — the value is in the adversarial
inputs (unicode, ties, empties), not volume."""

from __future__ import annotations

import ast
import glob
import inspect
import os
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from data_ingestion_poc_spark.operators.filters import sanitize_col
from data_ingestion_poc_spark.operators.joins import asof_join


def sanitize_model(name: str) -> str:
    """Independent model of the reference's sanitize_filename
    (child.py:20-33): non-ASCII -> '-', disallowed -> '-', control -> '-',
    then strip spaces."""
    name = re.sub(r"[^\x00-\x7F]", "-", name)
    name = re.sub(r"[^A-Za-z0-9.\-_ ]", "-", name)
    name = re.sub(r"[\x00-\x1F\x7F]", "-", name)
    return name.strip(" ")


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FFF),
            max_size=40,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_sanitize_matches_model(spark, names):
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "i int, raw string"
    ).select("i", sanitize_col(F.col("raw")).alias("got"))
    got = {r["i"]: r["got"] for r in df.collect()}
    for i, n in enumerate(names):
        assert got[i] == sanitize_model(n), (n, got[i], sanitize_model(n))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(  # right side: (key, ts, id)
        st.tuples(
            st.integers(0, 3), st.integers(0, 50), st.integers(1000, 1999)
        ),
        max_size=25,
        unique_by=lambda t: t[2],
    ),
    st.lists(  # left side: (key, ts, id)
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[2],
    ),
)
def test_asof_join_matches_bruteforce(spark, rights, lefts):
    """asof_join == brute-force 'latest right with right.ts <= left.ts,
    ties by max id' per key — including ts ties and keys with no match."""
    right = spark.createDataFrame(
        rights or [(99, -1, 1000)], "k int, ts int, rid int"
    )
    left = spark.createDataFrame(lefts, "k int, ts int, lid int")
    res = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", right_id="rid"
    )
    got = {r["lid"]: r["matched_id"] for r in res.collect()}
    for k, ts, lid in lefts:
        cands = [r for r in (rights or [(99, -1, 1000)]) if r[0] == k and r[1] <= ts]
        want = max(cands, key=lambda r: (r[1], r[2]))[2] if cands else None
        assert got[lid] == want, (k, ts, lid, got[lid], want)


@settings(max_examples=4, deadline=None)
@given(st.data())
def test_minhash_finds_planted_near_dups(spark, data):
    """Plant near-identical doc pairs (Jaccard >= ~0.95 on 3-gram
    shingles): the 8x4 band curve accepts such pairs with probability
    ~1 - 1e-6, so every planted pair must surface with its exact
    Jaccard."""
    from data_ingestion_poc_spark.llm.dedup import (
        MINHASH_BANDS,
        MINHASH_K,
        _ROWS_PER_BAND,
        shingle_array,
    )
    from data_ingestion_poc_spark.registry import get

    assert MINHASH_K == MINHASH_BANDS * _ROWS_PER_BAND
    vocab = [f"w{i}" for i in range(50)]
    n_pairs = data.draw(st.integers(1, 3))
    rows, expected_pairs = [], set()
    for p in range(n_pairs):
        base = data.draw(
            st.lists(st.sampled_from(vocab), min_size=250, max_size=300)
        )
        # position-suffix the words: every 3-gram shingle becomes unique,
        # so a 1-word edit bounds the pair's Jaccard >= (n-3)/(n+3) ~ 0.98
        # and the 8x4 band miss probability at ~1e-9 — deterministic for
        # test purposes. (Shorter docs put the miss rate at ~2e-5, which a
        # repeated CI suite WILL eventually hit; degenerate all-same-word
        # docs would collapse to ONE shingle and legitimately fall below
        # the 0.30 emit threshold.)
        words = [f"{w}p{i}" for i, w in enumerate(base)]
        dup = list(words)
        dup[data.draw(st.integers(0, len(dup) - 1))] = "zz_edit"
        a_id, b_id = 2 * p, 2 * p + 1
        rows.append((a_id, " ".join(words)))
        rows.append((b_id, " ".join(dup)))
        expected_pairs.add((a_id, b_id))
    # decoys: unrelated docs must NOT pair with anything
    for d in range(3):
        rows.append((100 + d, " ".join(f"d{d}_{i}" for i in range(60))))

    import data_ingestion_poc_spark.llm.dedup as dd
    import data_ingestion_poc_spark.catalog as cat

    df = spark.createDataFrame(rows, "doc_id long, text string")
    # run the registered query against a stubbed documents table
    orig = cat.Tables.__getattr__

    def fake(self, name):
        if name == "documents":
            return df
        return orig(self, name)

    cat.Tables.__getattr__ = fake
    # the per-(app, sf_dir) shingle memo must not serve a previous
    # example's (or the real fixture's) documents while the stub is up
    dd._SHINGLE_CACHE.clear()
    try:
        res = get("dedup_minhash").fn(spark, "/root/testdata/sf0.001")
        got = {(r["doc_a"], r["doc_b"]) for r in res.collect()}
    finally:
        cat.Tables.__getattr__ = orig
        dd._SHINGLE_CACHE.clear()
    assert expected_pairs <= got, (expected_pairs, got)
    assert all(a < 100 and b < 100 for a, b in got), got


_TS0 = 1700000000  # arbitrary epoch base for synthetic timestamps


def _ts(sec: int):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(_TS0 + sec, tz=timezone.utc)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(1000, 1999)),
        max_size=25,
        unique_by=lambda t: t[2],
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[2],
    ),
)
def test_asof_forward_and_tolerance_match_bruteforce(spark, rights, lefts):
    """forward: earliest right with right.ts >= left.ts (ties to min id);
    backward + 10 SECOND tolerance: latest right within [ts-10, ts]."""
    rdata = rights or [(99, -1, 1000)]
    right = spark.createDataFrame(
        [(k, _ts(s), rid) for k, s, rid in rdata], "k int, ts timestamp, rid int"
    )
    left = spark.createDataFrame(
        [(k, _ts(s), lid) for k, s, lid in lefts], "k int, ts timestamp, lid int"
    )
    fwd = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", right_id="rid",
        direction="forward",
    )
    got_f = {r["lid"]: r["matched_id"] for r in fwd.collect()}
    tol = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", right_id="rid",
        tolerance="10 SECOND",
    )
    got_t = {r["lid"]: r["matched_id"] for r in tol.collect()}
    for k, ts, lid in lefts:
        f_cands = [r for r in rdata if r[0] == k and r[1] >= ts]
        want_f = min(f_cands, key=lambda r: (r[1], r[2]))[2] if f_cands else None
        assert got_f[lid] == want_f, ("fwd", k, ts, lid, got_f[lid], want_f)
        t_cands = [r for r in rdata if r[0] == k and ts - 10 <= r[1] <= ts]
        want_t = max(t_cands, key=lambda r: (r[1], r[2]))[2] if t_cands else None
        assert got_t[lid] == want_t, ("tol", k, ts, lid, got_t[lid], want_t)


def test_pyhash_matches_spark(spark):
    """Pin the pure-Python ports of Spark's hash expressions (pyhash.py,
    the fn_hash_native golden-oracle engine) bit-exact against the JVM:
    empty/short/4-aligned/32+ byte inputs, non-ASCII (multi-byte UTF-8,
    exercises the signed-byte tail), and multi-column seed chaining."""
    import zlib

    from pyspark.sql import functions as F

    from data_ingestion_poc_spark.functions.pyhash import (
        murmur3_32,
        spark_hash_columns,
        xxh64,
    )

    cases = [
        "",
        "a",
        "abc",
        "abcd",
        "abcdefgh",
        "exactly thirty-two bytes long!!!",
        "a much longer string that comfortably exceeds the thirty-two byte "
        "stripe threshold of XXH64 and spans several 8-byte words",
        "café über straße ☃",
    ]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    rows = df.select(
        "s",
        F.xxhash64("s").alias("x"),
        F.hash("s").alias("m"),
        F.hash("s", "s").alias("m2"),
        F.crc32(F.col("s").cast("binary")).alias("c"),
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        b = r["s"].encode()
        assert xxh64(b) == r["x"]
        assert murmur3_32(b) == r["m"]
        assert spark_hash_columns([b, b]) == r["m2"]
        assert zlib.crc32(b) == r["c"]


def test_jaccard_df_cap_keeps_planted_pairs(spark, tmp_path):
    """The hot-shingle df cap must kill quadratic candidates WITHOUT
    losing true near-dup pairs: plant one shingle shared by every doc
    (df >> cap if cap were small — here it stays under JACCARD_DF_CAP, so
    we pass a corpus where a genuinely hot shingle exceeds the cap) plus
    one true near-dup pair sharing many rare shingles. The pair must
    survive; docs related ONLY through the hot shingle must not pair."""
    from data_ingestion_poc_spark import registry
    from data_ingestion_poc_spark.llm.dedup import JACCARD_DF_CAP

    hot = "the of and " * 1  # one shared 3-gram 'the of and'
    docs = []
    # JACCARD_DF_CAP+10 docs that share ONLY the hot shingle (each gets
    # unique filler words, so pairwise Jaccard via rare shingles is 0).
    for i in range(JACCARD_DF_CAP + 10):
        docs.append((i, f"{hot} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f"))
    # One planted near-dup pair built from rare shared shingles.
    base = " ".join(f"rare{j}" for j in range(30))
    docs.append((9000, base))
    docs.append((9001, base + " tail"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df = df.selectExpr(
        "doc_id", "text", "'en' AS lang", "'test' AS source",
        "CAST(length(text) AS LONG) AS n_chars",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    pairs = registry.get("dedup_ngram_jaccard").fn(spark, str(tmp_path))
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (9000, 9001) in got, "df cap must not drop rare-shingle near-dups"
    hot_only = [p for p in got if p[0] < 9000 and p[1] < 9000]
    assert not hot_only, f"hot-shingle-only docs must not pair: {hot_only[:5]}"


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FFF),
            max_size=80,
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_pyhash_property_matches_spark(spark, texts):
    """Property version of test_pyhash_matches_spark: arbitrary unicode
    strings (multi-byte UTF-8 exercises every tail-length path of both
    algorithms) must hash identically in the JVM and the pure-Python
    ports that power the golden oracles."""
    from data_ingestion_poc_spark.functions.pyhash import murmur3_32, xxh64

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, s string"
    ).select("i", "s", F.xxhash64("s").alias("x"), F.hash("s").alias("m"))
    for r in df.collect():
        b = r["s"].encode()
        assert xxh64(b) == r["x"], r["s"]
        assert murmur3_32(b) == r["m"], r["s"]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(  # (group key, value with ties, unique tiebreak id, weight)
        st.tuples(
            st.integers(0, 2),
            st.integers(-5, 5),
            st.integers(0, 9999),
            st.integers(0, 9),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[2],
    ),
    st.sampled_from([1, 2, 5, 64]),  # partition counts, incl. more than rows
    st.booleans(),  # per-key offsets, or one group over every row
    st.booleans(),  # summed weight, or a row count
    st.sampled_from([1, 3, 100]),  # bucket width; 100 = one bucket holds all
)
def test_global_row_number_matches_sorted_model(
    spark, rows, nparts, keyed, weighted, width
):
    """The distributed prefix sums must equal a plain single-pass model
    over a Python sort, for ANY partition count — including empty range
    partitions, heavy ties in the leading key, buckets missing from a
    key group and one bucket holding every row:

    - sorts.global_row_number: the row's position in the sort;
    - sorts.prefix_offsets plus a bucket-local running sum: the running
      row count or weight sum per key, and ``_total`` the key's total."""
    from pyspark.sql.window import Window

    from data_ingestion_poc_spark.operators.sorts import (
        global_row_number,
        prefix_offsets,
    )

    df = spark.createDataFrame(rows, "k int, v int, id int, w int")
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {
        r["id"]: r["pos"]
        for r in global_row_number(df, order, "pos", nparts).collect()
    }
    expected = sorted(rows, key=lambda t: (-t[1], t[2]))
    assert len(got) == len(rows)
    for i, t in enumerate(expected, start=1):
        assert got[t[2]] == i, (t, got[t[2]], i)

    keys = ["k"] if keyed else []
    weight = F.col("w") if weighted else F.lit(1)
    bucketed = df.repartition(nparts).withColumn(
        "b", F.floor((F.col("v") + 5) / width)
    )
    w = (
        Window.partitionBy(*keys, "b")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run_col = (F.sum(weight).over(w) + F.col("_off")).alias("run")
    got = {
        r["id"]: (r["run"], r["_total"])
        for r in prefix_offsets(bucketed, keys, "b", weight)
        .select("id", run_col, "_total")
        .collect()
    }
    run: dict = {}
    model = {}
    for k, _, rid, wt in sorted(rows, key=lambda t: (t[1], t[2])):
        g = k if keyed else None
        run[g] = run.get(g, 0) + (wt if weighted else 1)
        model[rid] = (run[g], g)
    assert got == {rid: (r, run[g]) for rid, (r, g) in model.items()}


def _reads(node: ast.AST, names: set[str]) -> bool:
    return any(
        isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load) and n.id in names
        for n in ast.walk(node)
    )


def test_one_prefix_offset_fold_in_the_package():
    """Regrowth guard: a loop over sorted(...) that `+=`s a running total
    and records that total on each pass is a prefix-offset fold, and the
    package has exactly one — sorts.prefix_offsets. Fold through it
    instead of writing a copy."""
    from data_ingestion_poc_spark.operators import sorts

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    folds = []
    for path in glob.glob(
        os.path.join(repo, "data_ingestion_poc_spark", "**", "*.py"),
        recursive=True,
    ):
        with open(path) as f:
            tree = ast.parse(f.read())
        for loop in ast.walk(tree):
            if not (
                isinstance(loop, ast.For)
                and getattr(getattr(loop.iter, "func", None), "id", "") == "sorted"
            ):
                continue
            totals = {
                stmt.target.id
                for stmt in loop.body
                if isinstance(stmt, ast.AugAssign)
                and isinstance(stmt.op, ast.Add)
                and isinstance(stmt.target, ast.Name)
            }
            if any(
                _reads(
                    stmt.value if isinstance(stmt, ast.AugAssign) else stmt, totals
                )
                for stmt in loop.body
            ):
                folds.append((os.path.relpath(path, repo), loop.lineno))
    lines, start = inspect.getsourcelines(sorts.prefix_offsets)
    own = {
        ("data_ingestion_poc_spark/operators/sorts.py", line)
        for line in range(start, start + len(lines))
    }
    stray = [f"{path}:{line}" for path, line in folds if (path, line) not in own]
    assert stray == [], f"prefix-offset fold outside prefix_offsets: {stray}"
    assert len(folds) == 1


@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "k": st.one_of(
                    st.none(), st.integers(min_value=-(2**62), max_value=2**62)
                ),
                "s": st.one_of(st.none(), st.text(max_size=40)),
                "x": st.one_of(
                    st.none(),
                    st.floats(allow_nan=False, width=64),
                ),
            }
        ),
        max_size=50,
    )
)
@settings(max_examples=60, deadline=None)
def test_avro_ocf_roundtrip_property(rows):
    """Pure-Python OCF codec: arbitrary nullable (long, string, double)
    rows — including infinities, signed zeros, huge ints, and non-ASCII
    text — survive the write/read roundtrip exactly. (NaN is excluded:
    NaN != NaN makes equality meaningless, and the engine's wire
    convention nulls NaNs before text/binary sinks.)"""
    from data_ingestion_poc_spark.ingest.avro_ocf import (
        read_ocf,
        record_schema,
        write_ocf,
    )

    schema = record_schema("t", [("k", "long"), ("s", "string"), ("x", "double")])
    _schema, got = read_ocf(write_ocf(rows, schema))
    assert got == rows


def test_prefix_filter_is_lossless_vs_python_bruteforce(spark):
    """Prefix filtering must return EXACTLY the brute-force Jaccard>=0.30
    pair set (completeness + no spurious pairs), checked against an
    independent pure-Python quadratic over sf0.001."""
    from data_ingestion_poc_spark import registry
    from data_ingestion_poc_spark.llm.dedup import PREFIX_TAU

    sf = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: r["text"].lower().split(" ")
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    sets = {
        d: {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        for d, ws in docs.items()
        if len(ws) >= 3
    }
    expect = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= PREFIX_TAU:
                expect[(a, b)] = round(j, 4)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in registry.get("dedup_prefix_filter").fn(spark, sf).collect()
    }
    assert set(got) == set(expect)
    for k in got:
        assert abs(got[k] - expect[k]) < 1e-9, (k, got[k], expect[k])


def aroon_model(bars):
    """Independent model of win_aroon's composite-encode rolling argmax:
    bars = [(hi, lo)] in day order; returns (days_since_high,
    days_since_low) per full window, most-recent extreme on ties."""
    from data_ingestion_poc_spark.operators.windows import AROON_N

    out = []
    for i in range(len(bars)):
        if i + 1 < AROON_N:
            out.append(None)
            continue
        window = bars[i - AROON_N + 1 : i + 1]
        hi_idx = max(range(AROON_N), key=lambda j: (window[j][0], j))
        lo_idx = max(range(AROON_N), key=lambda j: (-window[j][1], j))
        out.append((AROON_N - 1 - hi_idx, AROON_N - 1 - lo_idx))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            # negatives included (ADVICE r9): a negative value makes the
            # composite negative, which corrupted the old truncated-%
            # index recovery; pmod must keep the argmax exact
            st.integers(min_value=-99_999_999, max_value=99_999_999),
            st.integers(min_value=-99_999_999, max_value=99_999_999),
        ),
        min_size=10,
        max_size=25,
    )
)
def test_aroon_argmax_matches_model(spark, tmp_path_factory, raw):
    """The hi*base+idx / complement-encode argmax must agree with a
    brute Python argmax, including ties (most recent extreme wins)."""
    import datetime

    from data_ingestion_poc_spark import registry

    bars = [(max(h, l), min(h, l)) for h, l in raw]
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for day, (hi, lo) in enumerate(bars):
        ts = base + datetime.timedelta(days=day)
        # two events pin the day's hi and lo exactly (cents -> value)
        rows.append((2 * day, ts, 1, "x", hi / 100.0, None))
        rows.append((2 * day + 1, ts, 1, "x", lo / 100.0, None))
    tmp = tmp_path_factory.mktemp("aroon")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    got = {
        r["day"]: (r["days_since_high"], r["days_since_low"])
        for r in registry.get("win_aroon").fn(spark, str(tmp)).collect()
    }
    want = aroon_model(bars)
    for day, expect in enumerate(want):
        key = (base + datetime.timedelta(days=day)).date().isoformat()
        if expect is None:
            assert key not in got
        else:
            assert got[key] == expect, (day, got[key], expect)


def _write_bars(spark, tmp, bars):
    """One (hi, lo) bar per day for a single event type, pinned by two
    events; bars are integer cents."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for day, (hi, lo) in enumerate(bars):
        ts = base + datetime.timedelta(days=day)
        rows.append((2 * day, ts, 1, "x", hi / 100.0, None))
        rows.append((2 * day + 1, ts, 1, "x", lo / 100.0, None))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    return base


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1_000_000),
            st.integers(min_value=0, max_value=1_000_000),
        ),
        min_size=12,
        max_size=30,
    )
)
def test_ichimoku_matches_model(spark, tmp_path_factory, raw):
    """tenkan/kijun channel midpoints against a brute Python model."""
    import datetime

    from data_ingestion_poc_spark import registry
    from data_ingestion_poc_spark.operators.windows import (
        ICHIMOKU_K,
        ICHIMOKU_T,
    )

    bars = [(max(h, l), min(h, l)) for h, l in raw]
    tmp = tmp_path_factory.mktemp("ichimoku")
    base = _write_bars(spark, tmp, bars)
    got = {
        r["day"]: r
        for r in registry.get("win_ichimoku").fn(spark, str(tmp)).collect()
    }

    def mid(i, n):
        if i + 1 < n:
            return None
        w = bars[i - n + 1 : i + 1]
        return (max(h for h, _ in w) + min(l for _, l in w)) / 200.0

    for i in range(len(bars)):
        key = (base + datetime.timedelta(days=i)).date().isoformat()
        t, k = mid(i, ICHIMOKU_T), mid(i, ICHIMOKU_K)
        assert got[key]["tenkan"] == (round(t, 3) if t is not None else None)
        assert got[key]["kijun"] == (round(k, 3) if k is not None else None)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=10_000),
        ),
        min_size=16,
        max_size=30,
    )
)
def test_mfi_matches_model(spark, tmp_path_factory, raw):
    """Signed money-flow shares against a brute Python model (volume = 2
    events/day by fixture construction; equal midpoints feed neither
    flow)."""
    import datetime
    import math

    from data_ingestion_poc_spark import registry
    from data_ingestion_poc_spark.operators.windows import MFI_N

    bars = [(max(h, l), min(h, l)) for h, l in raw]
    tmp = tmp_path_factory.mktemp("mfi")
    base = _write_bars(spark, tmp, bars)
    got = {
        r["day"]: r["mfi"]
        for r in registry.get("win_mfi").fn(spark, str(tmp)).collect()
    }
    mp2 = [h + l for h, l in bars]
    pos = [0] * len(bars)
    neg = [0] * len(bars)
    for i in range(1, len(bars)):
        if mp2[i] > mp2[i - 1]:
            pos[i] = mp2[i] * 2
        elif mp2[i] < mp2[i - 1]:
            neg[i] = mp2[i] * 2
    for i in range(MFI_N, len(bars)):  # first defined-flow window ends here
        key = (base + datetime.timedelta(days=i)).date().isoformat()
        p = sum(pos[i - MFI_N + 1 : i + 1])
        n = sum(neg[i - MFI_N + 1 : i + 1])
        want = (
            math.floor(100.0 * p / (p + n) * 10_000) / 10_000
            if p + n > 0
            else None
        )
        assert got[key] == want, (i, got[key], want)
