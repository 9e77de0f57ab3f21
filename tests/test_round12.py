"""Round-12 planted-model sweep, part 1: exact-value pins for the
pre-r11 stats.py formula operators whose existing tests were only
DIRECTIONAL (flags fire / bounds hold / ordering is right). The r11
agg_welch_anova catch proved a formula can be wrong identically on
both engines and sail through the differential oracle; these tests pin
each statistic against an INDEPENDENT pure-Python textbook model (or a
published constant) on planted data — never a replay of the engine's
own column algebra.

Where an operator quantizes by spec (micro-unit floors, md5 arm
assignment, fixed literals like EULER_GAMMA), the model replicates the
QUANTIZATION (it is the documented contract) but derives the STATISTIC
from raw planted values via the published formula.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import statistics

import pytest

from data_ingestion_poc_spark import registry
from conftest import module_spark

BASE_TS = datetime.datetime(2024, 1, 1, 12, 0, 0)


spark = module_spark(shuffle_partitions=4)


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, ts_or_day_offset, user_id, event_type, value).
    ts may be a datetime (used as-is) or an int day offset from Jan 1
    noon (+ event_id seconds for a stable within-day order)."""
    data = []
    for eid, ts, uid, et, v in rows:
        if not isinstance(ts, datetime.datetime):
            ts = BASE_TS + datetime.timedelta(days=ts, seconds=eid % 3600)
        data.append((eid, ts, uid, et, float(v), "{}"))
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def _write_orders(spark, tmp_path, rows):
    """rows: (o_orderkey, o_custkey, totalprice, orderdate, priority)."""
    spark.createDataFrame(
        [
            (k, c, "O", float(tp), datetime.datetime.combine(d, datetime.time()), pri)
            for k, c, tp, d, pri in rows
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))


def _write_lineitem(spark, tmp_path, rows):
    """rows: (l_orderkey, returnflag, extendedprice, discount, quantity)."""
    spark.createDataFrame(
        [
            (
                k,
                k,
                1,
                i,
                float(q),
                float(ep),
                float(disc),
                0.0,
                rf,
                "O",
                datetime.datetime(2024, 1, 1),
            )
            for i, (k, rf, ep, disc, q) in enumerate(rows)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))


def _run(name, spark, tmp_path):
    return registry.get(name).fn(spark, str(tmp_path)).collect()


def _quantile_cont(sorted_vals, p):
    """The linear-interpolated quantile both engines use."""
    pos = p * (len(sorted_vals) - 1)
    lo = math.floor(pos)
    frac = pos - lo
    if lo + 1 >= len(sorted_vals):
        return float(sorted_vals[-1])
    return sorted_vals[lo] + frac * (sorted_vals[lo + 1] - sorted_vals[lo])


# ---------------------------------------------------------------------------
# ANOVA: exact F / eta^2 on separated planted arms (k=3, tabled dof1=2).


def test_anova_oneway_exact_f_and_eta(spark, tmp_path):
    arms = {
        "purchase": [10.0, 12.0, 14.0],
        "click": [20.0, 22.0, 24.0],
        "view": [30.0, 32.0, 34.0],
    }
    rows, eid = [], 0
    for et, vals in arms.items():
        for v in vals:
            rows.append((eid, 0, 1 + eid, et, v))
            eid += 1
    _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in _run("agg_anova_oneway", spark, tmp_path)}
    # independent model: textbook one-way ANOVA from raw values
    all_vals = [v for vs in arms.values() for v in vs]
    grand = statistics.mean(all_vals)
    k, nn = len(arms), len(all_vals)
    ssb = sum(len(vs) * (statistics.mean(vs) - grand) ** 2 for vs in arms.values())
    ssw = sum(
        (v - statistics.mean(vs)) ** 2 for vs in arms.values() for v in vs
    )
    f = (ssb / (k - 1)) / (ssw / (nn - k))
    assert f == 75.0  # hand value: (600/2)/(24/6)
    for r in out.values():
        assert r["f_stat"] == pytest.approx(round(f, 4), abs=1e-9)
        assert r["eta_sq"] == pytest.approx(round(ssb / (ssb + ssw), 4), abs=1e-9)
        assert r["dof1"] == 2 and r["significant"]  # 75 > chi2(2)/2 = 2.9958


# ---------------------------------------------------------------------------
# Delta-method ratio CI: hand-computed moments on 3 planted users.


def test_ratio_delta_ci_exact_se(spark, tmp_path):
    # u1: purchase 10 + click; u2: purchase 20; u3: 3 non-purchases
    rows = [
        (0, 0, 1, "purchase", 10.0),
        (1, 0, 1, "click", 1.0),
        (2, 0, 2, "purchase", 20.0),
        (3, 0, 3, "click", 1.0),
        (4, 0, 3, "click", 2.0),
        (5, 0, 3, "view", 3.0),
    ]
    _write_events(spark, tmp_path, rows)
    (r,) = _run("agg_ratio_delta_ci", spark, tmp_path)
    xs, ys = [10.0, 20.0, 0.0], [2.0, 1.0, 3.0]
    n = 3
    mx, my = statistics.mean(xs), statistics.mean(ys)
    vx, vy = statistics.variance(xs), statistics.variance(ys)
    cxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / (n - 1)
    ratio = mx / my
    se = math.sqrt((vx - 2 * ratio * cxy + ratio * ratio * vy) / n) / my
    assert r["n_users"] == 3
    assert r["ratio"] == pytest.approx(round(ratio, 6), abs=1e-9)
    assert r["se"] == pytest.approx(round(se, 6), abs=1e-9)
    assert r["ci_lo"] == pytest.approx(round(ratio - 1.96 * se, 6), abs=1e-9)
    assert r["ci_hi"] == pytest.approx(round(ratio + 1.96 * se, 6), abs=1e-9)


# ---------------------------------------------------------------------------
# Power analysis: n = 2 (z_a+z_b)^2 sigma^2 / delta^2 with the 7.8489
# literal — exact required-n pin.


def test_power_analysis_exact_required_n(spark, tmp_path):
    vals = [10.0, 20.0, 30.0]
    _write_events(
        spark, tmp_path, [(i, 0, 1 + i, "purchase", v) for i, v in enumerate(vals)]
    )
    (r,) = _run("agg_power_analysis", spark, tmp_path)
    mean, var = statistics.mean(vals), statistics.variance(vals)
    mde = 0.05 * mean
    n_req = math.ceil(2 * 7.8489 * var / (mde * mde))
    assert r["mean_value"] == 20.0 and r["stddev"] == 10.0
    assert r["mde_abs"] == 1.0
    assert r["n_required_per_arm"] == n_req == 1570
    assert not r["powered_today"]


# ---------------------------------------------------------------------------
# CUPED: theta = cov/var, var_adjusted = vy - cov^2/vx (WSDM 2013 eq. 3).


def test_cuped_exact_theta_and_reduction(spark, tmp_path):
    pre = {1: 10.0, 2: 20.0, 3: 30.0}  # before Jan 16, type view
    post = {1: 20.0, 2: 30.0, 3: 50.0}  # after, type purchase
    rows = []
    for uid, v in pre.items():
        rows.append((uid, 2, uid, "view", v))  # Jan 3
    for uid, v in post.items():
        rows.append((100 + uid, 20, uid, "purchase", v))  # Jan 21
    _write_events(spark, tmp_path, rows)
    (r,) = _run("agg_cuped_adjustment", spark, tmp_path)
    xs, ys = list(pre.values()), list(post.values())
    mx, my = statistics.mean(xs), statistics.mean(ys)
    vx, vy = statistics.variance(xs), statistics.variance(ys)
    cxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / 2
    assert r["theta"] == pytest.approx(round(cxy / vx, 6), abs=1e-9)
    assert r["theta"] == 1.5
    assert r["var_y"] == pytest.approx(round(vy, 4), abs=1e-9)
    assert r["var_adjusted"] == pytest.approx(
        round(vy - cxy * cxy / vx, 4), abs=1e-9
    )
    assert r["var_reduction_pct"] == pytest.approx(
        round(cxy * cxy / vx / vy * 100, 2), abs=1e-9
    )


# ---------------------------------------------------------------------------
# SRM: chi-squared GOF of the md5-hash arm split against 50/50.


def test_srm_exact_chi2_from_hash_assignment(spark, tmp_path):
    uids = list(range(1, 41))
    _write_events(
        spark, tmp_path, [(i, 0, u, "click", 1.0) for i, u in enumerate(uids)]
    )
    out = {r["arm"]: r for r in _run("agg_srm_check", spark, tmp_path)}
    treat = sum(
        1
        for u in uids
        if hashlib.md5(f"srm:{u}".encode()).hexdigest()[0] in "01234567"
    )
    ctrl = len(uids) - treat
    half = len(uids) / 2.0
    chi2 = (treat - half) ** 2 / half + (ctrl - half) ** 2 / half
    assert out["treatment"]["n_users"] == treat
    assert out["control"]["n_users"] == ctrl
    for r in out.values():
        assert r["chi2"] == pytest.approx(round(chi2, 6), abs=1e-9)
        assert r["srm_detected"] == (chi2 > 3.8415)


# ---------------------------------------------------------------------------
# Pooled autocorrelation: Pearson corr of (x_t, x_{t-k}) pairs.


def test_autocorr_exact_pearson_per_lag(spark, tmp_path):
    vals = [1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 8.0, 7.0]
    _write_events(
        spark,
        tmp_path,
        [(i, 0, 1, "click", v) for i, v in enumerate(vals)],
    )
    out = {r["lag"]: r for r in _run("agg_autocorr", spark, tmp_path)}
    cents = [round(v * 100) for v in vals]
    for k in (1, 2, 3):
        pairs = [(cents[i], cents[i - k]) for i in range(k, len(cents))]
        xs = [b for _, b in pairs]  # x_t-k is the lag column y in engine
        ys = [a for a, _ in pairs]
        n = len(pairs)
        mx, my = sum(xs) / n, sum(ys) / n
        num = sum(x * y for x, y in zip(xs, ys)) / n - mx * my
        den = math.sqrt(
            (sum(x * x for x in xs) / n - mx * mx)
            * (sum(y * y for y in ys) / n - my * my)
        )
        model = num / den
        assert out[k]["n_pairs"] == n
        assert out[k]["acf"] == pytest.approx(
            math.floor(model * 1e6) / 1e6, abs=1e-9
        ), f"lag {k}"


# ---------------------------------------------------------------------------
# Seasonal strength: 1 - SSW/SST over the hour-of-day decomposition.


def test_seasonal_strength_exact_decomposition(spark, tmp_path):
    hours = {0: [1.0, 2.0, 3.0], 1: [11.0, 12.0, 13.0]}
    rows, eid = [], 0
    for h, vals in hours.items():
        for v in vals:
            rows.append(
                (eid, datetime.datetime(2024, 1, 1, h, 0, 0), 1, "click", v)
            )
            eid += 1
    _write_events(spark, tmp_path, rows)
    (r,) = _run("agg_seasonal_strength", spark, tmp_path)
    all_vals = [v for vs in hours.values() for v in vs]
    n = len(all_vals)
    sst = sum(v * v for v in all_vals) - sum(all_vals) ** 2 / n
    # per-cell SSW quantizes to integer micro-units by spec
    ssw_u = sum(
        math.floor(
            (sum(v * v for v in vs) - sum(vs) ** 2 / len(vs)) * 1e6
        )
        for vs in hours.values()
    )
    ssw = ssw_u / 1e6
    assert r["n"] == n
    assert r["var_total"] == pytest.approx(
        math.floor(sst / n * 1e6) / 1e6, abs=1e-9
    )
    assert r["var_resid"] == pytest.approx(
        math.floor(ssw / n * 1e6) / 1e6, abs=1e-9
    )
    assert r["seasonal_strength"] == pytest.approx(
        math.floor((1 - ssw / sst) * 1e4) / 1e4, abs=1e-9
    )
    assert r["seasonal_strength"] == 0.974  # hand: 1 - 4/154


# ---------------------------------------------------------------------------
# Markov transitions: exact conditional probabilities from pair counts.


def test_markov_transitions_exact_probs(spark, tmp_path):
    # u1: a,b,a,b ; u2: a,a  (types named via real event types)
    rows = [
        (0, 0, 1, "view", 1.0),
        (1, 1, 1, "click", 1.0),
        (2, 2, 1, "view", 1.0),
        (3, 3, 1, "click", 1.0),
        (4, 0, 2, "view", 1.0),
        (5, 1, 2, "view", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    out = {(r["cur"], r["nxt"]): r for r in _run("agg_markov_transitions", spark, tmp_path)}
    assert out[("view", "click")]["n"] == 2
    assert out[("view", "view")]["n"] == 1
    assert out[("click", "view")]["n"] == 1
    assert out[("view", "click")]["p_transition"] == pytest.approx(
        round(2 / 3, 6), abs=1e-9
    )
    assert out[("view", "view")]["p_transition"] == pytest.approx(
        round(1 / 3, 6), abs=1e-9
    )
    assert out[("click", "view")]["p_transition"] == 1.0


# ---------------------------------------------------------------------------
# Categorical drift: total-variation distance = half the L1 share gap.


def test_category_drift_exact_tv(spark, tmp_path):
    rows = []
    eid = 0
    for _ in range(10):
        rows.append((eid, 2, 1 + eid, "click", 1.0)); eid += 1
        rows.append((eid, 2, 1 + eid, "view", 1.0)); eid += 1
    for _ in range(15):
        rows.append((eid, 20, 1 + eid, "click", 1.0)); eid += 1
    for _ in range(5):
        rows.append((eid, 20, 1 + eid, "view", 1.0)); eid += 1
    _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in _run("agg_category_drift", spark, tmp_path)}
    assert out["click"]["share_before"] == 0.5
    assert out["click"]["share_after"] == 0.75
    tv = (abs(0.5 - 0.75) + abs(0.5 - 0.25)) / 2
    for r in out.values():
        assert r["tv_distance"] == pytest.approx(round(tv, 6), abs=1e-9)
        assert r["drift_detected"] == (tv > 0.05)


# ---------------------------------------------------------------------------
# Hill tail index: alpha = 1/mean(ln(x/x_k)) above the exact p99.


def test_hill_exact_alpha_above_p99(spark, tmp_path):
    prices = [float(i) for i in range(1, 100)] + [1000.0]
    _write_orders(
        spark,
        tmp_path,
        [
            (i, 1, p, datetime.date(2024, 1, 1), "1-URGENT")
            for i, p in enumerate(prices)
        ],
    )
    (r,) = _run("agg_hill_tail_index", spark, tmp_path)
    s = sorted(prices)
    cut = _quantile_cont(s, 0.99)
    tail = [p for p in prices if p > cut]
    lrs = [round(math.log(p / cut) * 1e6) for p in tail]  # micro-unit spec
    alpha = 1e6 * len(tail) / sum(lrs)
    assert r["n_tail"] == len(tail) == 1
    assert r["tail_cutoff"] == pytest.approx(round(cut, 2), abs=1e-9)
    assert r["hill_alpha"] == pytest.approx(
        math.floor(alpha * 1e4) / 1e4, abs=1e-9
    )
    assert r["infinite_variance"] == (alpha <= 2)


# ---------------------------------------------------------------------------
# Expected shortfall: VaR95 / CVaR95 of day-over-day revenue changes.


def test_expected_shortfall_exact_var_and_cvar(spark, tmp_path):
    daily = [100.0, 90.0, 95.0, 80.0, 85.0, 70.0, 75.0, 60.0, 65.0, 50.0, 55.0]
    _write_events(
        spark,
        tmp_path,
        [(i, i, 1, "purchase", v) for i, v in enumerate(daily)],
    )
    (r,) = _run("agg_expected_shortfall", spark, tmp_path)
    cents = [round(v * 100) for v in daily]
    losses = [-(b - a) for a, b in zip(cents, cents[1:])]
    var_c = _quantile_cont(sorted(losses), 0.95)
    tail = [x for x in losses if x >= var_c]
    assert r["n_days"] == len(losses) == 10
    assert r["var_95"] == pytest.approx(round(var_c / 100.0, 2), abs=1e-9)
    assert r["cvar_95"] == pytest.approx(
        round(statistics.mean(tail) / 100.0, 4), abs=1e-9
    )
    assert r["n_tail_days"] == len(tail) == 4


# ---------------------------------------------------------------------------
# SPRT: the Wald LLR walk x*ln(p1/p0) + (n-x)*ln((1-p1)/(1-p0)).


def test_sprt_exact_llr_walk(spark, tmp_path):
    # pick treatment-arm users via the same documented md5 spec
    treat = [
        u
        for u in range(1, 200)
        if hashlib.md5(f"srm:{u}".encode()).hexdigest()[0] in "01234567"
    ][:6]
    rows, eid = [], 0
    # day 0: 3 treatment users, 2 convert; day 1: 3 users, 1 converts
    for day, (us, conv) in enumerate(
        [(treat[:3], treat[:2]), (treat[3:], treat[3:4])]
    ):
        for u in us:
            rows.append((eid, day, u, "view", 1.0)); eid += 1
        for u in conv:
            rows.append((eid, day, u, "purchase", 5.0)); eid += 1
    _write_events(spark, tmp_path, rows)
    out = sorted(_run("agg_sprt_monitor", spark, tmp_path), key=lambda r: r["day"])
    p0, p1 = 0.30, 0.36
    win, lose = math.log(p1 / p0), math.log((1 - p1) / (1 - p0))
    days = [(3, 2), (3, 1)]
    cum_u = 0
    for r, (n, x) in zip(out, days):
        cum_u += round((x * win + (n - x) * lose) * 1e6)  # micro-unit spec
        assert r["cum_llr"] == pytest.approx(
            math.floor(cum_u / 1e6 * 1e4) / 1e4, abs=1e-9
        )
        llr = cum_u / 1e6
        want = (
            "accept_h1"
            if llr >= 2.9444
            else "accept_h0" if llr <= -2.9444 else "continue"
        )
        assert r["decision"] == want
    assert out[0]["cum_n"] == 3 and out[1]["cum_n"] == 6
    assert out[1]["cum_conversions"] == 3


# ---------------------------------------------------------------------------
# Calibration ECE: n-weighted |mean_pred - rate| over score buckets.


def test_calibration_ece_exact(spark, tmp_path):
    # two buckets: values 30 (p~0.269) and 70 (p~0.731)
    rows = [
        (0, 0, 1, "click", 30.0),
        (1, 0, 2, "purchase", 30.0),
        (2, 0, 3, "purchase", 70.0),
        (3, 0, 4, "purchase", 70.0),
        (4, 0, 5, "click", 70.0),
    ]
    _write_events(spark, tmp_path, rows)
    out = {r["bucket"]: r for r in _run("agg_calibration_ece", spark, tmp_path)}
    buckets = {}
    for _, _, _, et, v in rows:
        p = 1 / (1 + math.exp(-(v - 50) / 20.0))
        b = math.floor(min(p, 0.9999999) * 10)
        pu = round(p * 1e6)  # micro-unit spec
        n, pos, sp = buckets.get(b, (0, 0, 0))
        buckets[b] = (n + 1, pos + (et == "purchase"), sp + pu)
    total = sum(n for n, _, _ in buckets.values())
    ece = (
        sum(
            n * abs(sp / 1e6 / n - pos / n)
            for n, pos, sp in buckets.values()
        )
        / total
    )
    for b, (n, pos, sp) in buckets.items():
        assert out[b]["n"] == n
        assert out[b]["mean_predicted"] == pytest.approx(
            round(sp / 1e6 / n, 6), abs=1e-9
        )
        assert out[b]["actual_rate"] == pytest.approx(round(pos / n, 6), abs=1e-9)
        assert out[b]["ece"] == pytest.approx(round(ece, 6), abs=1e-9)


# ---------------------------------------------------------------------------
# Gumbel block maxima: method-of-moments fit and the 100-block return
# level, from the published beta = s*sqrt(6)/pi, mu = mean - gamma*beta.


def test_gumbel_exact_mom_fit(spark, tmp_path):
    day_max = [10.0, 20.0, 30.0, 40.0]
    rows = []
    for d, mx in enumerate(day_max):
        rows.append((2 * d, d, 1, "click", mx))
        rows.append((2 * d + 1, d, 1, "click", mx / 2))  # non-max filler
    _write_events(spark, tmp_path, rows)
    (r,) = _run("agg_gumbel_maxima", spark, tmp_path)
    cents = [round(v * 100) for v in day_max]
    n = len(cents)
    s1, s2 = float(sum(cents)), float(sum(c * c for c in cents))
    mean = s1 / n
    sd = math.sqrt((s2 - s1 * mean) / (n - 1))
    gamma, pi = 0.5772156649, 3.14159265358979  # published literals
    beta = sd * math.sqrt(6) / pi
    mu = mean - gamma * beta
    ret = mu - beta * math.log(-math.log(1 - 1.0 / 100))
    fs = lambda c: math.floor(c / 100 * 1e4) / 1e4  # noqa: E731
    assert r["n_blocks"] == n
    assert r["block_max_mean"] == pytest.approx(fs(mean), abs=1e-9)
    assert r["gumbel_beta"] == pytest.approx(fs(beta), abs=1e-9)
    assert r["gumbel_mu"] == pytest.approx(fs(mu), abs=1e-9)
    assert r["return_level_100"] == pytest.approx(fs(ret), abs=1e-9)


# ---------------------------------------------------------------------------
# Mann-Kendall: exact S and continuity-corrected z.


def test_mann_kendall_exact_s_and_z(spark, tmp_path):
    daily = [10.0, 20.0, 15.0, 30.0]
    _write_events(
        spark, tmp_path, [(i, i, 1, "purchase", v) for i, v in enumerate(daily)]
    )
    (r,) = _run("agg_mann_kendall", spark, tmp_path)
    cents = [round(v * 100) for v in daily]
    s = sum(
        (b > a) - (b < a)
        for i, a in enumerate(cents)
        for b in cents[i + 1 :]
    )
    n = len(cents)
    corrected = s - 1 if s > 0 else s + 1 if s < 0 else 0
    z = corrected / math.sqrt(n * (n - 1) * (2 * n + 5) / 18.0)
    assert r["mk_s"] == s == 4
    assert r["mk_z"] == pytest.approx(math.floor(z * 1e4) / 1e4, abs=1e-9)
    assert r["trend_detected"] == (abs(z) > 1.96)


# ---------------------------------------------------------------------------
# Overdispersion: variance-to-mean ratio of per-user counts.


def test_overdispersion_exact_ratio(spark, tmp_path):
    # type click: user counts [1, 2, 3]; type view: [1, 1, 8]
    rows, eid = [], 0
    for uid, c in [(1, 1), (2, 2), (3, 3)]:
        for _ in range(c):
            rows.append((eid, 0, uid, "click", 1.0)); eid += 1
    for uid, c in [(11, 1), (12, 1), (13, 8)]:
        for _ in range(c):
            rows.append((eid, 0, uid, "view", 1.0)); eid += 1
    _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in _run("agg_overdispersion", spark, tmp_path)}
    for et, counts in [("click", [1, 2, 3]), ("view", [1, 1, 8])]:
        n = len(counts)
        s1, s2 = sum(counts), sum(c * c for c in counts)
        mean = s1 / n
        var = (s2 - s1 * mean) / (n - 1)
        ratio = var / mean
        r = out[et]
        assert r["n_users"] == n
        assert r["mean_count"] == pytest.approx(round(mean, 4), abs=1e-9)
        assert r["var_count"] == pytest.approx(round(var, 4), abs=1e-9)
        assert r["dispersion_ratio"] == pytest.approx(
            math.floor(ratio * 1e4) / 1e4, abs=1e-9
        )
        assert r["overdispersed"] == (ratio > 1.5)


# ---------------------------------------------------------------------------
# Markov stationary: 3 exact integer power steps from uniform.


def test_markov_stationary_exact_power_steps(spark, tmp_path):
    # u1: v,c,v,c,v ; u2: c,c  ->  trans v->c x2, c->v x2, c->c x1
    rows = [
        (0, 0, 1, "view", 1.0),
        (1, 1, 1, "click", 1.0),
        (2, 2, 1, "view", 1.0),
        (3, 3, 1, "click", 1.0),
        (4, 4, 1, "view", 1.0),
        (5, 0, 2, "click", 1.0),
        (6, 1, 2, "click", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    out = {r["state"]: r for r in _run("agg_markov_stationary", spark, tmp_path)}
    trans = {("view", "click"): 2, ("click", "view"): 2, ("click", "click"): 1}
    row_tot = {"view": 2, "click": 3}
    mass = {"view": 10**12 // 2, "click": 10**12 // 2}
    for _ in range(3):
        nxt = {}
        for (cur, dst), n in trans.items():
            nxt[dst] = nxt.get(dst, 0) + (mass[cur] * n) // row_tot[cur]
        mass = nxt
    total = sum(mass.values())
    for st, m in mass.items():
        assert out[st]["mass_units"] == m
        assert out[st]["stationary_share"] == pytest.approx(
            round(m / total, 6), abs=1e-9
        )


# ---------------------------------------------------------------------------
# Jarque-Bera: skew/kurtosis/JB from the shifted power sums.


def test_jarque_bera_exact_moments(spark, tmp_path):
    from data_ingestion_poc_spark.operators.aggregates import MOMENTS_SHIFT

    prices = [100.0, 200.0, 300.0, 400.0]
    _write_lineitem(
        spark, tmp_path, [(i, "A", p, 0.0, 1.0) for i, p in enumerate(prices)]
    )
    (r,) = _run("agg_jarque_bera", spark, tmp_path)
    n = len(prices)
    xs = [p - MOMENTS_SHIFT for p in prices]
    s1, s2 = sum(xs), sum(x**2 for x in xs)
    s3, s4 = sum(x**3 for x in xs), sum(x**4 for x in xs)
    m1 = s1 / n
    m2 = s2 / n - m1**2
    m3 = s3 / n - 3 * m1 * (s2 / n) + 2 * m1**3
    m4 = s4 / n - 4 * m1 * (s3 / n) + 6 * m1**2 * (s2 / n) - 3 * m1**4
    skew = m3 / m2**1.5
    exk = m4 / m2**2 - 3
    jb = n / 6.0 * (skew**2 + exk**2 / 4.0)
    assert r["skewness"] == pytest.approx(round(skew, 4), abs=1e-9)
    assert round(skew, 4) == 0.0  # symmetric plant
    assert r["excess_kurtosis"] == pytest.approx(round(exk, 4), abs=1e-9)
    assert round(exk, 4) == -1.36  # hand value for 4 equally spaced pts
    assert r["jb_stat"] == pytest.approx(round(jb, 2), abs=1e-9)
    assert r["looks_normal"] == (jb <= 5.9915)


# ---------------------------------------------------------------------------
# Brown-Forsythe Levene: W from |x - group median|, crit keyed on k-1.


def test_levene_exact_w_stat(spark, tmp_path):
    arms = {
        "purchase": [1.0, 2.0, 9.0, 10.0],  # wide spread
        "click": [5.0, 5.0, 5.0, 6.0],  # tight
        "view": [3.0, 4.0, 5.0, 6.0],
    }
    rows, eid = [], 0
    for et, vals in arms.items():
        for v in vals:
            rows.append((eid, 0, 1 + eid, et, v)); eid += 1
    _write_events(spark, tmp_path, rows)
    (r,) = _run("agg_levene_test", spark, tmp_path)
    zs = {}
    for et, vals in arms.items():
        cents = sorted(round(v * 100) for v in vals)
        med = _quantile_cont(cents, 0.5)
        zs[et] = [abs(c - med) for c in (round(v * 100) for v in vals)]
    all_z = [z for vs in zs.values() for z in vs]
    nn, k = len(all_z), len(zs)
    zbar = sum(all_z) / nn
    ssb = sum(len(vs) * (sum(vs) / len(vs) - zbar) ** 2 for vs in zs.values())
    ssw = sum((z - sum(vs) / len(vs)) ** 2 for vs in zs.values() for z in vs)
    w = (nn - k) / (k - 1.0) * ssb / ssw
    assert r["n"] == nn and r["k"] == k
    assert r["w_stat"] == pytest.approx(round(w, 4), abs=1e-9)
    # k=3 -> crit = chi2(2)/2 = 2.9958 (r12 fix: keyed on k-1, not dof 4)
    assert r["variances_differ"] == (w > 2.9958)


# ---------------------------------------------------------------------------
# Cohen's d: pooled-SD effect size.


def test_cohens_d_exact_value(spark, tmp_path):
    a, b = [10.0, 12.0, 14.0], [10.0, 11.0, 12.0]
    rows = [(i, 0, 1 + i, "purchase", v) for i, v in enumerate(a)]
    rows += [(10 + i, 0, 21 + i, "click", v) for i, v in enumerate(b)]
    _write_events(spark, tmp_path, rows)
    (r,) = _run("agg_cohens_d", spark, tmp_path)
    na, nb = len(a), len(b)
    va, vb = statistics.variance(a), statistics.variance(b)
    pooled = math.sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2.0))
    d = (statistics.mean(a) - statistics.mean(b)) / pooled
    assert r["cohens_d"] == pytest.approx(round(d, 4), abs=1e-9)
    assert r["cohens_d"] == 0.6325  # hand: 1/sqrt(2.5)
    assert r["magnitude"] == "medium"


# ---------------------------------------------------------------------------
# Theil T: (1/n) sum (x/mu) ln(x/mu), micro-unit cell quantization.


def test_theil_exact_t_index(spark, tmp_path):
    vals = [1.0, 1.0, 2.0]
    _write_events(
        spark, tmp_path, [(i, 0, 1 + i, "click", v) for i, v in enumerate(vals)]
    )
    (r,) = _run("agg_theil_index", spark, tmp_path)
    cents = [round(v * 100) for v in vals]
    mu = sum(cents) / len(cents)
    cells = {}
    for c in cents:
        cells[c] = cells.get(c, 0) + 1
    t_units = sum(
        math.floor(cnt * (c / mu) * math.log(c / mu) * 1e6)
        for c, cnt in cells.items()
    )
    assert r["n"] == 3
    assert r["mean_value"] == pytest.approx(round(mu / 100.0, 4), abs=1e-9)
    assert r["theil_t"] == pytest.approx(
        round(t_units / 1e6 / len(cents), 6), abs=1e-9
    )


# ---------------------------------------------------------------------------
# Spearman rho: average-rank correlation via the doubled-rank identity.


def test_spearman_exact_rho_with_ties(spark, tmp_path):
    pairs = [(1, 0.01), (1, 0.02), (2, 0.02), (3, 0.05), (4, 0.04)]
    _write_lineitem(
        spark,
        tmp_path,
        [(i, "A", 100.0, d, float(q)) for i, (q, d) in enumerate(pairs)],
    )
    (r,) = _run("agg_spearman_corr", spark, tmp_path)

    def avg_ranks(vals):
        s = sorted(vals)
        return {
            v: (s.index(v) + 1 + s.index(v) + s.count(v)) / 2 for v in set(vals)
        }

    qs = [q for q, _ in pairs]
    ds = [round(d * 100) for _, d in pairs]
    rq, rd = avg_ranks(qs), avg_ranks(ds)
    xs = [rq[q] for q in qs]
    ys = [rd[d] for d in ds]
    n = len(pairs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    rho = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert r["n"] == n
    assert r["spearman_rho"] == pytest.approx(round(rho, 6), abs=1e-9)


# ---------------------------------------------------------------------------
# Kruskal-Wallis: tie-corrected H on planted arms, crit keyed on k-1.


def test_kruskal_wallis_exact_h(spark, tmp_path):
    arms = {
        "purchase": [1.0, 2.0, 3.0],
        "click": [2.0, 4.0, 5.0],
        "view": [6.0, 7.0, 8.0],
    }
    rows, eid = [], 0
    for et, vals in arms.items():
        for v in vals:
            rows.append((eid, 0, 1 + eid, et, v)); eid += 1
    _write_events(spark, tmp_path, rows)
    (r,) = _run("agg_kruskal_wallis", spark, tmp_path)
    pool = [round(v * 100) for vs in arms.values() for v in vs]
    s = sorted(pool)

    def midrank(v):
        first = s.index(v) + 1
        return (2 * first + s.count(v) - 1) / 2

    n = len(pool)
    ss = sum(
        len(vs)
        * (statistics.mean(midrank(round(v * 100)) for v in vs) - (n + 1) / 2)
        ** 2
        for vs in arms.values()
    )
    from collections import Counter

    t3 = sum(c**3 - c for c in Counter(pool).values())
    h = (12.0 / (n * (n + 1.0))) * ss / (1.0 - t3 / (n**3 - n))
    assert r["n"] == n and r["k"] == 3
    assert r["h_stat"] == pytest.approx(round(h, 4), abs=1e-9)
    # k=3 -> crit = chi2(2) = 5.9915 (r12 fix: keyed on k-1)
    assert r["distributions_differ"] == (h > 5.9915)
