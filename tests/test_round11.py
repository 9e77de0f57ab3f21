"""Round-11 semantics tests: planted-data closed-form checks for the
r11 batch's trickiest machinery — the running-sum WMA identity (Hull
MA / Coppock), the lattice CDF-integral statistics (Wasserstein,
energy, Cliff), the midrank-score tests (Mood scale, Brunner-Munzel),
and the rank-range trimming (Yuen). Oracle parity is covered by
check_oracle / the driver; these pin each statistic against an
INDEPENDENT brute-force model (sorting / pairwise enumeration in
Python), not a replay of the engine's own formula."""

from __future__ import annotations

import datetime
import itertools
import math
import statistics

import pytest

from data_ingestion_poc_spark import registry
from conftest import module_spark

D0 = datetime.date(2024, 1, 1)


spark = module_spark(shuffle_partitions=4)


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, day_offset, user_id, event_type, value)."""
    data = [
        (
            eid,
            datetime.datetime(2024, 1, 1, 12, 0, 0)
            + datetime.timedelta(days=off, seconds=eid % 3600),
            uid,
            et,
            float(v),
            "{}",
        )
        for eid, off, uid, et, v in rows
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


# ---------------------------------------------------------------------------
# Hull MA: the two-running-sum WMA identity vs the classic definition.


def _wma(xs):
    n = len(xs)
    return sum((n - i) * x for i, x in enumerate(reversed(list(xs)))) / (
        n * (n + 1) / 2
    )


def test_hull_ma_matches_classic_wma_definition(spark, tmp_path):
    from data_ingestion_poc_spark.operators.windows import (
        HMA_FAST,
        HMA_SLOW,
        HMA_SQRT,
    )

    closes = [100 + ((7 * i * i + 3 * i) % 41) for i in range(30)]
    rows = [
        (i, i, 1, "purchase", c) for i, c in enumerate(closes)
    ]  # one event per day => close == that value
    _write_events(spark, tmp_path, rows)
    out = {
        r["day"]: r["hull_ma"]
        for r in registry.get("win_hull_ma")
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert len(out) == 30 - (HMA_SLOW + HMA_SQRT - 1) + 1
    cents = [round(c * 100) for c in closes]
    for t in range(HMA_SLOW + HMA_SQRT - 1, 30 + 1):
        # classic: WMA(sqrt) over h_j = 2*WMA(fast) - WMA(slow)
        h = [
            2 * _wma(cents[j - HMA_FAST : j]) - _wma(cents[j - HMA_SLOW : j])
            for j in range(t - HMA_SQRT + 1, t + 1)
        ]
        expect = math.floor(_wma(h) / 100.0 * 10000) / 10000
        day = str(D0 + datetime.timedelta(days=t - 1))
        assert out[day] == pytest.approx(expect, abs=1e-9), day


# ---------------------------------------------------------------------------
# Lattice CDF-integral statistics vs brute-force pairwise enumeration.


def _plant_two_samples(spark, tmp_path, a_vals, b_vals):
    rows = [
        (i, i % 5, 1, "purchase", v) for i, v in enumerate(a_vals)
    ] + [
        (1000 + i, i % 5, 2, "click", v) for i, v in enumerate(b_vals)
    ]
    _write_events(spark, tmp_path, rows)


A = [1.00, 2.00, 2.00, 5.00, 9.00]
B = [2.00, 3.00, 4.00, 4.00]


def test_wasserstein_matches_sorted_quantile_transport(spark, tmp_path):
    _plant_two_samples(spark, tmp_path, A, B)
    row = (
        registry.get("agg_wasserstein_1d")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    # brute force: W1 = integral |Fa - Fb| via fine grid over cents,
    # in exact rationals (the engine is exact-integer until one final
    # division, so a float-accumulated reference drifts below it)
    from fractions import Fraction

    lo = int(min(A + B) * 100)
    hi = int(max(A + B) * 100)
    w1 = sum(
        abs(
            Fraction(sum(1 for x in A if round(x * 100) <= v), len(A))
            - Fraction(sum(1 for y in B if round(y * 100) <= v), len(B))
        )
        for v in range(lo, hi)
    ) / 100
    assert row["wasserstein_1"] == pytest.approx(
        math.floor(w1 * 1_000_000) / 1e6, abs=1e-9
    )


def test_energy_distance_matches_pairwise_means(spark, tmp_path):
    _plant_two_samples(spark, tmp_path, A, B)
    row = (
        registry.get("agg_energy_distance")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    exy = statistics.mean(abs(x - y) for x in A for y in B)
    exx = statistics.mean(abs(x - y) for x in A for y in A)
    eyy = statistics.mean(abs(x - y) for x in B for y in B)
    assert row["e_between"] == pytest.approx(
        math.floor(exy * 1e6) / 1e6, abs=1e-9
    )
    assert row["e_within_a"] == pytest.approx(
        math.floor(exx * 1e6) / 1e6, abs=1e-9
    )
    assert row["e_within_b"] == pytest.approx(
        math.floor(eyy * 1e6) / 1e6, abs=1e-9
    )
    d2 = 2 * exy - exx - eyy
    assert row["energy_distance"] == pytest.approx(
        math.floor(math.sqrt(d2) * 1e6) / 1e6, abs=1e-9
    )


def test_cliff_delta_matches_pairwise_count(spark, tmp_path):
    _plant_two_samples(spark, tmp_path, A, B)
    row = (
        registry.get("agg_cliff_delta").fn(spark, str(tmp_path)).collect()[0]
    )
    gt = sum(1 for x in A for y in B if x > y)
    lt = sum(1 for x in A for y in B if x < y)
    expect = math.floor((gt - lt) / (len(A) * len(B)) * 1e6) / 1e6
    assert row["cliff_delta"] == pytest.approx(expect, abs=1e-9)
    assert row["n_a"] == len(A) and row["n_b"] == len(B)


# ---------------------------------------------------------------------------
# Midrank-score tests vs explicit rank enumeration.


def _midranks(pool):
    """value -> midrank over the sorted pool (ties averaged)."""
    s = sorted(pool)
    out = {}
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        out[s[i]] = (i + 1 + j) / 2  # average of ranks i+1..j
        i = j
    return out


def test_mood_scale_matches_rank_enumeration(spark, tmp_path):
    _plant_two_samples(spark, tmp_path, A, B)
    row = (
        registry.get("agg_mood_scale_test")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    pool = A + B
    n = len(pool)
    mr = _midranks(pool)
    scores = {v: (mr[v] - (n + 1) / 2) ** 2 for v in mr}
    t_stat = sum(scores[x] for x in A)
    pop = [scores[x] for x in pool]
    abar = statistics.mean(pop)
    e_t = len(A) * abar
    var_t = (
        len(A)
        * len(B)
        * (n * sum(p * p for p in pop) - sum(pop) ** 2)
        / (n * n * (n - 1))
    )
    z = (t_stat - e_t) / math.sqrt(var_t)
    # engine works in x4 integer units: t4 = 4*t, moments scale out
    assert row["z_stat"] == pytest.approx(
        math.floor(z * 1e4) / 1e4, abs=1e-9
    )


def test_brunner_munzel_p_hat_is_stochastic_superiority(spark, tmp_path):
    _plant_two_samples(spark, tmp_path, A, B)
    row = (
        registry.get("agg_brunner_munzel")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    wins = sum(1 for x in A for y in B if x < y)
    ties = sum(1 for x in A for y in B if x == y)
    p_hat = (wins + 0.5 * ties) / (len(A) * len(B))
    assert row["p_hat"] == pytest.approx(
        math.floor(p_hat * 1e6) / 1e6, abs=1e-9
    )
    # W statistic vs the published Brunner-Munzel 2000 form (the
    # scipy/lawstat convention):
    #   W = nx*ny*(rbar_y - rbar_x) / ((nx+ny)*sqrt(nx*Sx^2 + ny*Sy^2))
    # (r12 fix: the r11 version of this test hard-coded the engine's
    # own wrong denominator — sa2/nb^2 instead of sa2/(na*nb^2) — so it
    # self-confirmed the bug instead of catching it.)
    pool = A + B
    mr = _midranks(pool)
    mra = _midranks(A)
    mrb = _midranks(B)
    rbar_a = statistics.mean(mr[x] for x in A)
    rbar_b = statistics.mean(mr[y] for y in B)
    da = [mr[x] - mra[x] for x in A]
    db = [mr[y] - mrb[y] for y in B]
    sa2 = statistics.variance(da)
    sb2 = statistics.variance(db)
    nx, ny = len(A), len(B)
    w = (
        nx * ny * (rbar_b - rbar_a)
    ) / ((nx + ny) * math.sqrt(nx * sa2 + ny * sb2))
    assert row["w_stat"] == pytest.approx(
        math.floor(w * 1e4) / 1e4, abs=1e-9
    )


def test_brunner_munzel_published_example(spark, tmp_path):
    """Pin W against the published worked example (Brunner & Munzel
    2000 / the scipy.stats.brunnermunzel docstring family): for
    x=[1,2,2,5,9] vs y=[2,3,4,4] the statistic is W = 0.2163 — an
    independent constant the engine cannot have produced from its own
    formula (the r11 bug gave 0.0972 on exactly this input)."""
    a = [1.00, 2.00, 2.00, 5.00, 9.00]
    b = [2.00, 3.00, 4.00, 4.00]
    _plant_two_samples(spark, tmp_path, a, b)
    row = (
        registry.get("agg_brunner_munzel")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    assert row["w_stat"] == pytest.approx(0.2162, abs=1e-9)  # floor 1e-4


# ---------------------------------------------------------------------------
# Yuen: rank-range trimming vs Python sort-and-slice.


def test_yuen_trimmed_means_match_sorted_slice(spark, tmp_path):
    a = [1.00, 2.00, 3.00, 4.00, 5.00, 6.00, 7.00, 8.00, 9.00, 100.00]
    b = [2.00, 2.00, 3.00, 3.00, 4.00, 4.00, 5.00, 5.00, 6.00, 6.00]
    _plant_two_samples(spark, tmp_path, a, b)
    row = (
        registry.get("agg_yuen_trimmed_t")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    g = len(a) // 5  # floor(0.2 n)
    ta = statistics.mean(sorted(a)[g : len(a) - g])
    tb = statistics.mean(sorted(b)[g : len(b) - g])
    assert row["trimmed_each_side_a"] == g
    assert row["trimmed_mean_a"] == pytest.approx(
        math.floor(ta * 1e4) / 1e4, abs=1e-9
    )
    assert row["trimmed_mean_b"] == pytest.approx(
        math.floor(tb * 1e4) / 1e4, abs=1e-9
    )
    # the whale (100.00) is trimmed: the trimmed mean must sit far
    # below the raw mean
    assert ta < statistics.mean(a) / 2


# ---------------------------------------------------------------------------
# Hodges-Lehmann: brute-force median of pairwise daily-close diffs.


def test_hodges_lehmann_matches_bruteforce_pair_median(spark, tmp_path):
    a_closes = [10.00, 12.00, 11.00, 15.00]
    b_closes = [9.00, 8.00, 13.00]
    rows = [
        (i, i, 1, "purchase", v) for i, v in enumerate(a_closes)
    ] + [
        (100 + i, i, 2, "click", v) for i, v in enumerate(b_closes)
    ]
    _write_events(spark, tmp_path, rows)
    row = (
        registry.get("agg_hodges_lehmann")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    diffs = sorted(x - y for x in a_closes for y in b_closes)
    lower_median = diffs[(len(diffs) + 1) // 2 - 1]
    assert row["n_pairs"] == len(diffs)
    assert row["hl_shift"] == pytest.approx(lower_median, abs=1e-9)


# ---------------------------------------------------------------------------
# Coppock: engine output vs the classic per-bar Python replay.


def test_coppock_matches_classic_definition(spark, tmp_path):
    from data_ingestion_poc_spark.operators.windows import (
        COPPOCK_ROC_LONG,
        COPPOCK_ROC_SHORT,
        COPPOCK_WMA,
    )

    closes = [50 + ((11 * i * i + 5 * i) % 37) for i in range(30)]
    rows = [(i, i, 1, "view", c) for i, c in enumerate(closes)]
    _write_events(spark, tmp_path, rows)
    out = {
        r["day"]: r["coppock"]
        for r in registry.get("win_coppock")
        .fn(spark, str(tmp_path))
        .collect()
    }
    cents = [round(c * 100) for c in closes]

    def roc_u(t, k):  # integer 1e-6 ratio units, floor
        return math.floor(
            (cents[t] - cents[t - k]) * 1_000_000.0 / cents[t - k]
        )

    for t in range(COPPOCK_ROC_LONG + COPPOCK_WMA - 1, 30):
        s6 = [
            roc_u(j, COPPOCK_ROC_LONG) + roc_u(j, COPPOCK_ROC_SHORT)
            for j in range(t - COPPOCK_WMA + 1, t + 1)
        ]
        n10 = sum((i + 1) * v for i, v in enumerate(s6))
        expect = math.floor(n10 / 55.0) / 1e6
        day = str(D0 + datetime.timedelta(days=t))
        assert out[day] == pytest.approx(expect, abs=1e-12), day


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra: brute-force pair count on a planted trend.


def test_jonckheere_counts_match_bruteforce(spark, tmp_path):
    from data_ingestion_poc_spark.operators.stats import JT_GROUPS

    # deterministic increasing trend across the priority codes
    groups = {
        p: [100.0 * (i + 1) + j for j in range(4)]
        for i, p in enumerate(JT_GROUPS)
    }
    rows = []
    oid = 0
    for p, vals in groups.items():
        for v in vals:
            rows.append(
                (oid, 1, "O", float(v), D0, p, "c", 0, "")
            )
            oid += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string,"
        " o_clerk string, o_shippriority int, o_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    row = (
        registry.get("agg_jonckheere_terpstra")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    # brute force on the same dollar-bucket lattice the operator uses
    def bucket(v):
        return round(v * 100) // 100

    jt = 0.0
    for (pi, pj) in itertools.combinations(JT_GROUPS, 2):
        for x in groups[pi]:
            for y in groups[pj]:
                bx, by = bucket(x), bucket(y)
                jt += 1.0 if bx < by else (0.5 if bx == by else 0.0)
    ns = [len(groups[p]) for p in JT_GROUPS]
    n = sum(ns)
    mean = (n * n - sum(x * x for x in ns)) / 4
    var = (
        n * n * (2 * n + 3) - sum(x * x * (2 * x + 3) for x in ns)
    ) / 72
    z = (jt - mean) / math.sqrt(var)
    assert row["z_stat"] == pytest.approx(
        math.floor(z * 1e4) / 1e4, abs=1e-9
    )
    assert row["trend"] == "increasing"


# ---------------------------------------------------------------------------
# Welch ANOVA: engine vs a from-scratch Python model on planted arms.


def test_welch_anova_matches_python_model(spark, tmp_path):
    arms = {
        "click": [1.00, 2.00, 3.00, 4.00, 10.00],
        "purchase": [5.00, 6.00, 7.00, 8.00],
        "view": [2.00, 2.00, 8.00, 9.00, 9.00, 9.00],
    }
    rows = []
    eid = 0
    for et, vals in arms.items():
        for v in vals:
            rows.append((eid, eid % 7, 1, et, v))
            eid += 1
    _write_events(spark, tmp_path, rows)
    row = (
        registry.get("agg_welch_anova").fn(spark, str(tmp_path)).collect()[0]
    )
    cents = {g: [round(v * 100) for v in vs] for g, vs in arms.items()}
    k = len(cents)
    w = {
        g: len(v) / statistics.variance(v) for g, v in cents.items()
    }
    m = {g: statistics.mean(v) for g, v in cents.items()}
    bigw = sum(w.values())
    yw = sum(w[g] * m[g] for g in sorted(cents)) / bigw
    a = sum(w[g] * (m[g] - yw) ** 2 for g in sorted(cents)) / (k - 1)
    lam = sum(
        (1 - w[g] / bigw) ** 2 / (len(cents[g]) - 1) for g in sorted(cents)
    )
    f = a / (1 + 2.0 * (k - 2) / (k * k - 1.0) * lam)
    assert row["k"] == k
    assert row["f_stat"] == pytest.approx(
        math.floor(f * 1e4) / 1e4, abs=1e-9
    )
    assert row["df2"] == pytest.approx(
        round((k * k - 1.0) / (3.0 * lam), 1), abs=1e-9
    )


# ---------------------------------------------------------------------------
# Histogram distances: engine bins vs explicit Python binning.


def test_hist_distance_matches_python_bins(spark, tmp_path):
    a = [1.00, 1.50, 2.00, 5.00, 9.00, 9.50]
    b = [2.00, 3.00, 4.00, 4.50, 9.00]
    _plant_two_samples(spark, tmp_path, a, b)
    row = (
        registry.get("agg_hist_distance").fn(spark, str(tmp_path)).collect()[0]
    )
    from data_ingestion_poc_spark.operators.stats import HIST_DIST_BINS

    ca = [round(v * 100) for v in a]
    cb = [round(v * 100) for v in b]
    mn, mx = min(ca + cb), max(ca + cb)

    def bin_of(v):
        return (v - mn) * HIST_DIST_BINS // (mx - mn + 1)

    from collections import Counter

    ha, hb = Counter(map(bin_of, ca)), Counter(map(bin_of, cb))
    bins = sorted(set(ha) | set(hb))
    na, nb = len(ca), len(cb)
    tv = sum(abs(ha[i] * nb - hb[i] * na) for i in bins) / (2.0 * na * nb)
    bc = sum(
        math.sqrt(ha[i] * hb[i]) for i in bins
    ) / math.sqrt(na * nb)
    assert row["n_bins_used"] == len(bins)
    assert row["total_variation"] == pytest.approx(
        math.floor(tv * 1e6) / 1e6, abs=1e-9
    )
    assert row["bhattacharyya"] == pytest.approx(
        math.floor(bc * 1e6) / 1e6, abs=1e-9
    )
    assert row["hellinger"] == pytest.approx(
        math.floor(math.sqrt(max(1 - bc, 0)) * 1e6) / 1e6, abs=1e-9
    )


# ---------------------------------------------------------------------------
# Page's L: engine vs explicit within-block rank enumeration.


def test_page_trend_matches_rank_enumeration(spark, tmp_path):
    # 4 days x 3 types with a planted monotone trend across type order
    types = ["click", "purchase", "view"]
    rows = []
    eid = 0
    for d in range(4):
        for j, et in enumerate(types):
            # daily total rises with type index j on every day
            for _ in range(2):
                rows.append((eid, d, 1, et, 10.0 * (j + 1) + d))
                eid += 1
    _write_events(spark, tmp_path, rows)
    row = (
        registry.get("agg_page_trend_test")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    k, b = len(types), 4
    # within each day the totals rank 1..k in type order by
    # construction, so R_j = b * j and L = sum_j j * R_j
    l_stat = sum((j + 1) * (j + 1) * b for j in range(k))
    e_l = b * k * (k + 1) ** 2 / 4
    var_l = b * k * k * (k + 1) * (k * k - 1) / 144
    z = (l_stat - e_l) / math.sqrt(var_l)
    assert row["n_blocks"] == b and row["k"] == k
    assert row["page_l"] == l_stat
    assert row["z_stat"] == pytest.approx(
        math.floor(z * 1e4) / 1e4, abs=1e-9
    )
    assert row["trend"] == "increasing"


# ---------------------------------------------------------------------------
# _ohlc_bars: open/close pick the first/last event by (ts, event_id).


def test_ohlc_bars_open_close_tiebreak(spark, tmp_path):
    # three events same day; the LAST by (ts, event_id) defines close,
    # the FIRST defines open — event_id breaks the ts tie
    rows = [
        (3, 0, 1, "view", 30.0),  # ts +3s  -> latest ts = close
        (1, 0, 1, "view", 10.0),  # ts +1s  -> earliest = open
        (2, 0, 1, "view", 20.0),
    ]
    _write_events(spark, tmp_path, rows)
    from data_ingestion_poc_spark.catalog import load
    from data_ingestion_poc_spark.operators.windows import _ohlc_bars

    bar = _ohlc_bars(load(spark, str(tmp_path))).collect()[0]
    assert bar["opn"] == 1000 and bar["cls"] == 3000
    assert bar["hi"] == 3000 and bar["lo"] == 1000 and bar["vol"] == 3


# ---------------------------------------------------------------------------
# Yuen t: the full statistic (not just the trimmed means) vs a
# from-scratch model with explicit winsorization.


def test_yuen_t_statistic_matches_python_model(spark, tmp_path):
    a = [1.00, 2.00, 3.00, 4.00, 5.00, 6.00, 7.00, 8.00, 9.00, 100.00]
    b = [2.00, 2.00, 3.00, 3.00, 4.00, 4.00, 5.00, 5.00, 6.00, 6.00]
    _plant_two_samples(spark, tmp_path, a, b)
    row = (
        registry.get("agg_yuen_trimmed_t")
        .fn(spark, str(tmp_path))
        .collect()[0]
    )

    def parts(vals):
        n = len(vals)
        g = n // 5
        s = sorted(vals)
        h = n - 2 * g
        tm = statistics.mean(s[g : n - g])
        wins = [max(min(x, s[n - g - 1]), s[g]) for x in s]
        s2w = statistics.variance(wins)  # winsorized sample variance
        d = (n - 1) * s2w / (h * (h - 1))
        return tm, d

    ta, da = parts(a)
    tb, db = parts(b)
    t = (ta - tb) / math.sqrt(da + db)
    assert row["t_stat"] == pytest.approx(
        math.floor(t * 1e4) / 1e4, abs=1e-9
    )


# ---------------------------------------------------------------------------
# D'Agostino K2: transforms vs an independent implementation of the
# published formulas (scipy is not in this container; these constants
# and shapes are the scipy.stats.skewtest/kurtosistest ones).


def test_dagostino_k2_matches_published_transforms(spark, tmp_path):
    # planted lineitem: one return-flag group with a skewed price set,
    # centered near MOMENTS_SHIFT (=40000) so the engine's shifted
    # power sums stay well-conditioned (planting far from the shift
    # costs ~1e-3 of double precision in m4 — a conditioning artifact,
    # not a formula difference)
    prices = [
        40010.0, 40011.0, 40012.0, 40013.0, 40014.0,
        40015.0, 40016.0, 40020.0, 40040.0, 40090.0,
    ]
    rows = [
        (i, 1, 1, i, 1.0, float(p), 0.0, 0.0, "N", "O",
         D0, D0, D0, "a", "b", "c")
        for i, p in enumerate(prices)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate date, l_commitdate date,"
        " l_receiptdate date, l_shipinstruct string, l_shipmode string,"
        " l_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    row = (
        registry.get("agg_dagostino_k2").fn(spark, str(tmp_path)).collect()[0]
    )
    n = len(prices)
    m = statistics.mean(prices)
    m2 = sum((x - m) ** 2 for x in prices) / n
    m3 = sum((x - m) ** 3 for x in prices) / n
    m4 = sum((x - m) ** 4 for x in prices) / n
    b1 = m3 / m2 ** 1.5
    b2 = m4 / m2 ** 2
    # skewtest (D'Agostino 1970)
    y = b1 * math.sqrt((n + 1) * (n + 3) / (6.0 * (n - 2)))
    beta2 = (
        3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
        / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9))
    )
    w2 = math.sqrt(2 * (beta2 - 1)) - 1
    delta = 1 / math.sqrt(math.log(math.sqrt(w2)))
    alpha = math.sqrt(2.0 / (w2 - 1))
    z_s = delta * math.log(y / alpha + math.sqrt((y / alpha) ** 2 + 1))
    # kurtosistest (Anscombe & Glynn 1983)
    eb2 = 3.0 * (n - 1) / (n + 1)
    vb2 = 24.0 * n * (n - 2) * (n - 3) / ((n + 1) ** 2 * (n + 3) * (n + 5))
    x = (b2 - eb2) / math.sqrt(vb2)
    sb = (
        6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
        * math.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2.0) * (n - 3)))
    )
    aa = 6.0 + 8.0 / sb * (2.0 / sb + math.sqrt(1 + 4.0 / sb ** 2))
    term = (1 - 2.0 / aa) / (1 + x * math.sqrt(2.0 / (aa - 4)))
    z_k = (
        (1 - 2.0 / (9 * aa)) - math.copysign(abs(term) ** (1 / 3), term)
    ) / math.sqrt(2.0 / (9 * aa))
    assert row["z_skew"] == pytest.approx(round(z_s, 4), abs=1e-9)
    assert row["z_kurt"] == pytest.approx(round(z_k, 4), abs=1e-9)
    assert row["k2_stat"] == pytest.approx(
        round(z_s * z_s + z_k * z_k, 3), abs=1e-9
    )
