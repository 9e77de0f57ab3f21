"""Round-10 semantics tests: the ADVICE-r9 exact-arithmetic fixes
(page-hinkley overflow regime, neyman integral division, aroon negative
values, blobstore corrupt-sidecar degrade) and the new r10 seams.
Oracle parity is covered by check_oracle / the driver; these pin the
regimes the sf0.01 fixtures cannot reach."""

from __future__ import annotations

import datetime
import json
import math

import pytest

from data_ingestion_poc_spark import registry
from conftest import module_spark

SF001 = "/root/testdata/sf0.001"


spark = module_spark(shuffle_partitions=4)


def _write_orders(spark, tmp_path, day_prices):
    """day_prices: list of (date, [o_totalprice,...]) — one orders row
    per price. Only the columns agg_page_hinkley reads."""
    rows = []
    oid = 0
    for day, prices in day_prices:
        for p in prices:
            rows.append((oid, 1, "O", float(p), day, "1-URGENT", "c", 0, ""))
            oid += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string,"
        " o_clerk string, o_shippriority int, o_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))


def _ph_model(day_cents):
    """Exact-integer Page-Hinkley model (Python bigints; the double
    steps mirror the engines' decimal->double final projection)."""
    out = []
    cum = 0
    u = 0
    umin = None
    for t, cents in enumerate(day_cents, start=1):
        cum += cents
        n = (cents * t - cum) * 1_000_000
        u += n // t  # Python // is floor division: exact floor(n/t)
        umin = u if umin is None else min(umin, u)
        dev = math.floor(float(u) / 1e6) / 100.0
        ph = math.floor(float(u - umin) / 1e6) / 100.0
        out.append((dev, ph))
    return out


def test_page_hinkley_exact_beyond_2pow63(spark, tmp_path):
    """ADVICE r9 (medium): F.floor(double) returns BIGINT, so the old
    floor-then-cast wrapped at 2^63 and the double product was already
    inexact past 2^53. Drive daily micro-cent deviations to ~1e21
    (the claimed 100 TB regime) and pin the engine row-for-row against
    an exact-bigint model."""
    base = datetime.date(2024, 1, 1)
    # one order per day at ~1e13 dollars -> daily cents ~1e15; a level
    # shift mid-series makes |deviation| ~1e15 cents = 1e21 micro-cents
    prices = [1e13, 1.1e13, 0.9e13, 1e13, 5e13, 5.2e13, 4.8e13, 5e13]
    day_prices = [
        (base + datetime.timedelta(days=i), [p]) for i, p in enumerate(prices)
    ]
    _write_orders(spark, tmp_path, day_prices)
    got = registry.get("agg_page_hinkley").fn(spark, str(tmp_path)).collect()
    day_cents = [round(p * 100) for p in prices]
    want = _ph_model(day_cents)
    assert len(got) == len(want)
    for row, (dev, ph) in zip(got, want):
        assert row["deviation_cum"] == dev, (row, dev)
        assert row["page_hinkley"] == ph, (row, ph)
    # the regime claim: at least one |U_t| beyond 2^63 micro-cents
    u = 0
    cum = 0
    seen = 0
    for t, cents in enumerate(day_cents, start=1):
        cum += cents
        u += ((cents * t - cum) * 1_000_000) // t
        seen = max(seen, abs(u))
    assert seen > 2**63


def test_blob_store_corrupt_sidecar_degrades(tmp_path):
    """ADVICE r9: a truncated/corrupt metadata sidecar must degrade to
    empty metadata (safe fresh re-upload), not raise JSONDecodeError and
    fail the whole upload task; a non-dict JSON payload likewise."""
    from data_ingestion_poc_spark.ingest.blobstore import LocalBlobStore

    s = LocalBlobStore(str(tmp_path))
    s.upload("f/t/x.bin", b"abc", {"file_size": "3"})
    sidecar = tmp_path / "_meta" / "f" / "t" / "x.bin.json"
    sidecar.write_text('{"file_size": "3"')  # truncated
    assert s.get_properties("f/t/x.bin") == {"size": 3, "metadata": {}}
    sidecar.write_text('["not", "a", "dict"]')
    assert s.get_properties("f/t/x.bin") == {"size": 3, "metadata": {}}


def test_upload_records_props_match_uses_record_length(spark, tmp_path):
    """props_match verifies the stored size against the RECORD's length
    field (the reference's integrity contract) — a truncated fetch whose
    content is shorter than the manifest length must flag, not pass
    trivially against its own len(content)."""
    from data_ingestion_poc_spark.ingest.blobstore import (
        LocalBlobStore,
        upload_records,
    )

    root = str(tmp_path / "store")
    df = spark.createDataFrame(
        [
            ("srv", "csv", "ok.csv", 3, 100, bytearray(b"abc")),
            ("srv", "csv", "short.csv", 9, 100, bytearray(b"abc")),
        ],
        "server_folder string, file_type string, file_name string,"
        " length long, modified_time long, content binary",
    )
    rows = {
        r["file_name"]: r
        for r in upload_records(df, lambda: LocalBlobStore(root)).collect()
    }
    assert rows["ok.csv"]["props_match"] is True
    assert rows["short.csv"]["props_match"] is False


def test_parse_server_scheme_default_ports():
    """Reference child_otherftp.py:124: port falls back by scheme —
    21 for ftp, 22 for sftp."""
    from data_ingestion_poc_spark.ingest.netfetch import parse_server

    assert parse_server("ftp://host.example")["port"] == 21
    assert parse_server("sftp://host.example")["port"] == 22
    assert parse_server("sftp://host.example:2222")["port"] == 2222
    assert parse_server("sftp://u:p@host.example")["user"] == "u"


def test_sftp_fetcher_guard():
    from data_ingestion_poc_spark.ingest import netfetch

    if netfetch.paramiko is not None:
        pytest.skip("paramiko present: guard moot")
    with pytest.raises(NotImplementedError, match="paramiko"):
        netfetch.SftpFetcher()
    # and the lazy pipeline re-export resolves the class
    from data_ingestion_poc_spark.ingest import pipeline

    assert pipeline.SftpFetcher is netfetch.SftpFetcher


class _FakeSftpAttrs:
    def __init__(self, size, mtime):
        self.st_size = size
        self.st_mtime = mtime


class _FakeSftpFile:
    def __init__(self, data):
        self._data = data

    def read(self):
        return self._data

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


class _FakeSftpClient:
    def __init__(self, tree):
        self._tree = tree

    def stat(self, path):
        if path not in self._tree:
            raise FileNotFoundError(path)
        data, mtime = self._tree[path]
        return _FakeSftpAttrs(len(data) if data is not None else None, mtime)

    def open(self, path, mode):
        return _FakeSftpFile(self._tree[path][0])


class _FakeSSHClient:
    """Paramiko-shaped stub: records connect kwargs + close calls so the
    contract test can assert lazy-per-call connections."""

    instances = []

    def __init__(self):
        self.connect_kwargs = None
        self.closed = False
        _FakeSSHClient.instances.append(self)

    def set_missing_host_key_policy(self, policy):
        self.policy = policy

    def load_host_keys(self, path):
        self.host_keys = path

    def connect(self, host, port, username, password, timeout):
        self.connect_kwargs = dict(
            host=host, port=port, username=username, password=password
        )

    def open_sftp(self):
        return _FakeSftpClient(
            {
                "/data/a.bin": (b"hello sftp", 1700000000),
                "/data/no_size.bin": (None, 1700000000),
            }
        )

    def close(self):
        self.closed = True


def test_sftp_fetcher_contract(monkeypatch):
    """Drive SftpFetcher through a paramiko-shaped stub: the seam
    contract (stat -> (size, epoch mtime), read -> bytes, raise on a
    server non-answer, one lazily-opened connection per call, always
    closed) holds without the wheel installed."""
    import types

    from data_ingestion_poc_spark.ingest import netfetch

    fake = types.SimpleNamespace(
        SSHClient=_FakeSSHClient, AutoAddPolicy=lambda: "auto-add"
    )
    monkeypatch.setattr(netfetch, "paramiko", fake)
    _FakeSSHClient.instances = []
    f = netfetch.SftpFetcher()
    size, mtime = f.stat("sftp://alice:pw@host.example", "/data/a.bin")
    assert (size, mtime) == (10, 1700000000)
    assert f.read("sftp://alice:pw@host.example", "/data/a.bin") == b"hello sftp"
    with pytest.raises(FileNotFoundError):
        f.stat("sftp://host.example", "/data/ghost.bin")
    with pytest.raises(OSError, match="file size"):
        f.stat("sftp://host.example", "/data/no_size.bin")
    # one connection per call, every one closed, scheme-default port 22
    assert len(_FakeSSHClient.instances) == 4
    assert all(c.closed for c in _FakeSSHClient.instances)
    assert _FakeSSHClient.instances[0].connect_kwargs == dict(
        host="host.example", port=22, username="alice", password="pw"
    )


def _write_typed_events(spark, tmp_path, rows):
    """rows: (event_id, event_type, value)."""
    data = [
        (eid, datetime.datetime(2024, 1, 1, 0, eid % 60, eid % 59), 1, et,
         float(v), None)
        for eid, et, v in rows
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def _cvm_model(a_vals, b_vals):
    """Brute two-sample Cramer-von Mises T over the pooled sample."""
    na, nb = len(a_vals), len(b_vals)
    pooled = sorted(a_vals + b_vals)
    sa, sb = sorted(a_vals), sorted(b_vals)

    def ecdf(sorted_vals, x):
        import bisect

        return bisect.bisect_right(sorted_vals, x) / len(sorted_vals)

    ssq = sum((ecdf(sa, z) - ecdf(sb, z)) ** 2 for z in pooled)
    return na * nb / (na + nb) ** 2 * ssq


def test_cvm_matches_brute_model(spark, tmp_path):
    """Engine T (floored at 1e-6) must match the brute pooled-sample
    model on asymmetric samples with ties across and within groups."""
    a = [1.0, 2.0, 2.0, 3.5, 7.25, 7.25, 9.0, 12.0]
    b = [2.0, 4.0, 4.0, 4.0, 8.5, 12.0, 15.0]
    rows = [(i, "purchase", v) for i, v in enumerate(a)]
    rows += [(100 + i, "click", v) for i, v in enumerate(b)]
    _write_typed_events(spark, tmp_path, rows)
    r = registry.get("agg_cvm_test").fn(spark, str(tmp_path)).collect()[0]
    want = _cvm_model(a, b)
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    assert r["t_stat"] == math.floor(want * 1_000_000) / 1_000_000


def test_cvm_identical_samples_zero(spark, tmp_path):
    vals = [1.0, 3.0, 5.0, 7.0, 11.0] * 4
    rows = [(i, "purchase", v) for i, v in enumerate(vals)]
    rows += [(200 + i, "click", v) for i, v in enumerate(vals)]
    _write_typed_events(spark, tmp_path, rows)
    r = registry.get("agg_cvm_test").fn(spark, str(tmp_path)).collect()[0]
    assert r["t_stat"] == 0.0 and r["significant"] is False


def test_cvm_separated_samples_significant(spark, tmp_path):
    rows = [(i, "purchase", float(i % 7)) for i in range(60)]
    rows += [(500 + i, "click", 100.0 + i % 7) for i in range(60)]
    _write_typed_events(spark, tmp_path, rows)
    r = registry.get("agg_cvm_test").fn(spark, str(tmp_path)).collect()[0]
    assert r["significant"] is True


def _ljung_box_model(series, lags):
    """Brute Ljung-Box on the engine's milli-lattice quantization."""
    n = len(series)
    s1 = sum(series)
    yp = [((v * n - s1) - ((v * n - s1) % 1000)) // 1000 for v in series]
    den = sum(v * v for v in yp)
    out = []
    qsum = 0.0
    for k in range(1, lags + 1):
        num = sum(yp[t] * yp[t - k] for t in range(k, n))
        r = float(num) / float(den)
        qsum += r * r / (n - k)
        out.append((r, n * (n + 2.0) * qsum))
    return out


def test_ljung_box_matches_brute_model(spark, tmp_path):
    """Engine autocorr/Q at every lag vs the exact-lattice Python model
    on a deterministic mixed series (trend + cycle + residue)."""
    base = datetime.date(2024, 1, 1)
    prices = [
        100.0 + 3.0 * (i % 7) + ((i * 37) % 11) + 0.01 * i for i in range(40)
    ]
    day_prices = [
        (base + datetime.timedelta(days=i), [p]) for i, p in enumerate(prices)
    ]
    _write_orders(spark, tmp_path, day_prices)
    got = (
        registry.get("agg_autocorr_ljung_box")
        .fn(spark, str(tmp_path))
        .collect()
    )
    from data_ingestion_poc_spark.operators.stats import LJUNG_BOX_LAGS

    cents = [round(p * 100) for p in prices]
    want = _ljung_box_model(cents, LJUNG_BOX_LAGS)
    assert len(got) == LJUNG_BOX_LAGS
    for row, (r, q) in zip(got, want):
        assert row["autocorr"] == round(r, 6), (row, r)
        assert row["q_stat"] == round(q, 4), (row, q)


def test_ljung_box_periodic_series_significant(spark, tmp_path):
    """A hard weekly cycle must reject white noise at lag 7."""
    base = datetime.date(2024, 1, 1)
    prices = [100.0 if i % 7 else 5000.0 for i in range(70)]
    day_prices = [
        (base + datetime.timedelta(days=i), [p]) for i, p in enumerate(prices)
    ]
    _write_orders(spark, tmp_path, day_prices)
    got = (
        registry.get("agg_autocorr_ljung_box")
        .fn(spark, str(tmp_path))
        .collect()
    )
    assert got[-1]["lag"] == 7 and got[-1]["significant"] is True
    # the lag-7 autocorrelation itself must be strongly positive
    assert got[-1]["autocorr"] > 0.5


def test_page_hinkley_negative_deviation_floor(spark, tmp_path):
    """Negative increments must floor toward -inf (pmod construction),
    not truncate toward zero: a falling series keeps U_t exact."""
    base = datetime.date(2024, 1, 1)
    prices = [100.0, 70.0, 40.0, 10.0, 5.0]
    day_prices = [
        (base + datetime.timedelta(days=i), [p]) for i, p in enumerate(prices)
    ]
    _write_orders(spark, tmp_path, day_prices)
    got = registry.get("agg_page_hinkley").fn(spark, str(tmp_path)).collect()
    want = _ph_model([round(p * 100) for p in prices])
    for row, (dev, ph) in zip(got, want):
        assert row["deviation_cum"] == dev
        assert row["page_hinkley"] == ph


# ---------------------------------------------------------------------------
# Batch 2 (second r10 session): rank/survival/repeated-measures/median
# tests, bar indicators, hapax profile — model-based pins against brute
# Python — plus the global_row_number branch-consistency regression the
# full-registry sf0.1 sweep caught.
# ---------------------------------------------------------------------------


def test_global_row_number_branch_consistency(spark):
    """Regression for the r10 sf0.1 sweep finding: when the ranked frame
    feeds TWO plan branches (corpus_heaps_law's shape), range-boundary
    sampling used to diverge between the branches and ranks
    duplicated/skipped (bucket sizes 439-550 instead of 500). With the
    localCheckpoint barrier, both branches must see the identical
    bijective rank."""
    from pyspark.sql import functions as F

    from data_ingestion_poc_spark.operators.sorts import global_row_number

    n, k = 5000, 10
    df = spark.range(n).select(
        (F.col("id") * 7919 % n).alias("key")  # permuted unique keys
    ).repartition(8)
    d = global_row_number(df, ["key"], "rn")
    bucket = (F.floor((F.col("rn") - 1) * k / F.lit(n)) + 1).alias("bucket")
    db = d.select("key", "rn", bucket)
    # branch 1: bucket sizes; branch 2: bucket key spans — both must see
    # the same clean doc-id-range buckets
    sizes = {r["bucket"]: r["c"] for r in
             db.groupBy("bucket").agg(F.count(F.lit(1)).alias("c")).collect()}
    spans = {r["bucket"]: (r["lo"], r["hi"]) for r in
             db.groupBy("bucket").agg(F.min("key").alias("lo"),
                                      F.max("key").alias("hi")).collect()}
    assert sizes == {b: n // k for b in range(1, k + 1)}
    per = n // k
    assert spans == {b: ((b - 1) * per, b * per - 1) for b in range(1, k + 1)}


def _kendall_model(series):
    """Brute tau-b over all pairs. series: list of (x, y) ints."""
    import itertools

    c = d = tx = ty = 0
    for (x1, y1), (x2, y2) in itertools.combinations(series, 2):
        dx = (x1 > x2) - (x1 < x2)
        dy = (y1 > y2) - (y1 < y2)
        if dx * dy > 0:
            c += 1
        elif dx * dy < 0:
            d += 1
        elif dx == 0 and dy != 0:
            tx += 1
        elif dy == 0 and dx != 0:
            ty += 1
    den = math.sqrt(float(c + d + ty) * float(c + d + tx))
    return c, d, tx, ty, (c - d) / den if den else None


def test_kendall_tau_matches_brute_model(spark, tmp_path):
    """Day series with revenue ties AND count ties across days."""
    day_prices = [
        (datetime.date(2024, 1, 1), [10.0, 20.0]),       # rev 3000, n 2
        (datetime.date(2024, 1, 2), [15.0, 15.0]),       # rev 3000, n 2 (tie both)
        (datetime.date(2024, 1, 3), [5.0]),              # rev  500, n 1
        (datetime.date(2024, 1, 4), [40.0, 1.0, 9.0]),   # rev 5000, n 3
        (datetime.date(2024, 1, 5), [50.0]),             # rev 5000, n 1 (rev tie)
    ]
    _write_orders(spark, tmp_path, day_prices)
    r = registry.get("agg_kendall_tau").fn(spark, str(tmp_path)).collect()[0]
    series = [(int(round(sum(p) * 100)), len(p)) for _, p in day_prices]
    c, d, tx, ty, tau = _kendall_model(series)
    assert (r["conc"], r["disc"], r["ties_x"], r["ties_y"]) == (c, d, tx, ty)
    assert r["n_days"] == 5
    assert r["tau_b"] == math.floor(tau * 1_000_000) / 1_000_000


def test_kendall_tau_degenerate_axis_nulls(spark, tmp_path):
    """All days share one order count -> every pair ties on y -> tau_b
    NULL (the ANSI-divide guard), concordant count zero."""
    day_prices = [
        (datetime.date(2024, 1, 1), [10.0]),
        (datetime.date(2024, 1, 2), [20.0]),
        (datetime.date(2024, 1, 3), [30.0]),
    ]
    _write_orders(spark, tmp_path, day_prices)
    r = registry.get("agg_kendall_tau").fn(spark, str(tmp_path)).collect()[0]
    assert r["conc"] == 0 and r["disc"] == 0
    assert r["ties_y"] == 3 and r["tau_b"] is None


def _write_orders_lineitem(spark, tmp_path, orders, lineitem):
    """orders: (o_orderkey, priority, orderdate, totalprice);
    lineitem: (l_orderkey, shipdate, returnflag, discount, quantity)."""
    spark.createDataFrame(
        [(k, 1, "O", float(tp), datetime.datetime.combine(d, datetime.time()), pri)
         for k, pri, d, tp in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(k, k, 1, i, float(q), 100.0, float(disc), 0.0, rf, "O",
          datetime.datetime.combine(sd, datetime.time()))
         for i, (k, sd, rf, disc, q) in enumerate(lineitem)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))


def _logrank_model(subjects, horizon=60):
    """subjects: (hi: 0/1, dur_days). Returns (o_minus_e, chi2) with the
    engines' exact summation order (time-ascending)."""
    data = [(h, min(dur, horizon), 1 if dur <= horizon else 0)
            for h, dur in subjects]
    n1 = sum(1 for h, _, _ in data if h)
    n2 = len(data) - n1
    ome = v = 0.0
    for t in sorted({t for _, t, _ in data}):
        d1 = sum(1 for h, tt, ev in data if h and tt == t and ev)
        d2 = sum(1 for h, tt, ev in data if not h and tt == t and ev)
        a1 = sum(1 for h, tt, _ in data if h and tt == t)
        a2 = sum(1 for h, tt, _ in data if not h and tt == t)
        d, n = d1 + d2, n1 + n2
        ome += d1 - float(d) * n1 / n  # d enters doubles first (engines)
        if n > 1:
            v += (d * float(n1) * n2 * (n - d)) / (float(n) * n * (n - 1))
        n1 -= a1
        n2 -= a2
    return ome, (ome * ome / v if v > 0 else None)


def test_logrank_matches_brute_model(spark, tmp_path):
    """Mixed cohorts, shared event times, censoring past the horizon."""
    base = datetime.date(2024, 1, 1)
    subjects = [  # (hi, dur)
        (1, 2), (1, 2), (1, 5), (1, 9), (1, 70),   # one censored
        (0, 2), (0, 4), (0, 5), (0, 12), (0, 30), (0, 80),
    ]
    orders, lines = [], []
    for i, (h, dur) in enumerate(subjects):
        pri = "1-URGENT" if h else "5-LOW"
        orders.append((i, pri, base, 100.0))
        lines.append((i, base + datetime.timedelta(days=dur), "N", 0.0, 1.0))
        # a later second line must NOT move the min-shipdate duration
        lines.append((i, base + datetime.timedelta(days=dur + 40), "N", 0.0, 1.0))
    _write_orders_lineitem(spark, tmp_path, orders, lines)
    r = registry.get("agg_logrank_test").fn(spark, str(tmp_path)).collect()[0]
    ome, chi2 = _logrank_model(subjects)
    assert (r["n_high"], r["n_low"]) == (5, 6)
    assert (r["events_high"], r["events_low"]) == (4, 5)
    assert r["o_minus_e"] == math.floor(ome * 10000) / 10000
    assert r["chi2_stat"] == math.floor(chi2 * 10000) / 10000


def test_logrank_planted_separation_significant(spark, tmp_path):
    """Urgent orders all ship day 1; low-priority all ship day 50 ->
    maximal curve separation -> significant."""
    base = datetime.date(2024, 1, 1)
    orders, lines = [], []
    for i in range(30):
        h = i < 15
        orders.append((i, "1-URGENT" if h else "5-LOW", base, 100.0))
        lines.append((i, base + datetime.timedelta(days=1 if h else 50),
                      "N", 0.0, 1.0))
    _write_orders_lineitem(spark, tmp_path, orders, lines)
    r = registry.get("agg_logrank_test").fn(spark, str(tmp_path)).collect()[0]
    assert r["significant"] is True
    ome, chi2 = _logrank_model([(1, 1)] * 15 + [(0, 50)] * 15)
    assert r["chi2_stat"] == math.floor(chi2 * 10000) / 10000


def _cochran_model(bits):
    """bits: list of (b1, b2, b3). Exact-integer Q."""
    c = [sum(b[j] for b in bits) for j in range(3)]
    t = sum(c)
    sri2 = sum(sum(b) ** 2 for b in bits)
    den = 3 * t - sri2
    if den <= 0:
        return None
    return 2 * (3 * sum(x * x for x in c) - t * t) / float(den)


def test_cochran_q_matches_brute_model(spark, tmp_path):
    base = datetime.date(2024, 1, 1)
    bits = [(1, 0, 0), (1, 1, 0), (0, 0, 0), (1, 0, 1), (1, 1, 1),
            (0, 1, 0), (1, 0, 0), (0, 0, 1), (1, 1, 0), (1, 0, 0)]
    orders, lines = [], []
    for i, (b1, b2, b3) in enumerate(bits):
        orders.append((i, "3-MEDIUM", base, 100.0))
        # split the flags across TWO lines: per-order MAX must combine
        lines.append((i, base, "R" if b1 else "N", 0.0, 1.0))
        lines.append((i, base, "N", 0.08 if b2 else 0.01,
                      35.0 if b3 else 5.0))
    _write_orders_lineitem(spark, tmp_path, orders, lines)
    r = registry.get("agg_cochran_q").fn(spark, str(tmp_path)).collect()[0]
    q = _cochran_model(bits)
    assert r["n"] == len(bits)
    assert (r["n_returned"], r["n_discounted"], r["n_bulk"]) == (
        sum(b[0] for b in bits), sum(b[1] for b in bits),
        sum(b[2] for b in bits))
    assert r["q_stat"] == math.floor(q * 10000) / 10000


def test_cochran_q_all_or_nothing_guard(spark, tmp_path):
    """Every order flagged on all three or none -> denominator exactly
    zero -> NULL statistic (ANSI divide guard)."""
    base = datetime.date(2024, 1, 1)
    orders, lines = [], []
    for i in range(6):
        allf = i % 2 == 0
        orders.append((i, "3-MEDIUM", base, 100.0))
        lines.append((i, base, "R" if allf else "N",
                      0.08 if allf else 0.01, 35.0 if allf else 5.0))
    _write_orders_lineitem(spark, tmp_path, orders, lines)
    r = registry.get("agg_cochran_q").fn(spark, str(tmp_path)).collect()[0]
    assert r["q_stat"] is None and r["significant"] is None


def _mood_model(groups):
    """groups: dict priority -> list of cents. Returns (median, chi2)."""
    allv = sorted(v for vs in groups.values() for v in vs)
    n = len(allv)
    med = allv[(n + 1) // 2 - 1]
    cells = {
        p: (sum(1 for v in vs if v > med), sum(1 for v in vs if v <= med))
        for p, vs in groups.items()
    }
    ta = sum(a for a, _ in cells.values())
    tb = sum(b for _, b in cells.values())
    chi2 = 0.0
    for p in sorted(cells):
        a, b = cells[p]
        ea = float(a + b) * ta / n  # row total enters doubles first
        eb = float(a + b) * tb / n
        chi2 += (a - ea) * (a - ea) / ea + (b - eb) * (b - eb) / eb
    return med, cells, chi2


def test_mood_median_matches_brute_model(spark, tmp_path):
    base = datetime.date(2024, 1, 1)
    groups = {
        "1-URGENT": [100, 2000, 2000, 5500],
        "2-HIGH": [50, 100, 900],
        "3-MEDIUM": [2000, 3000, 3000, 8000, 12],
    }
    orders = []
    i = 0
    for pri, vals in groups.items():
        for c in vals:
            orders.append((i, pri, base, c / 100.0))
            i += 1
    _write_orders_lineitem(spark, tmp_path, orders,
                           [(0, base, "N", 0.0, 1.0)])
    rows = registry.get("agg_mood_median_test").fn(
        spark, str(tmp_path)).collect()
    med, cells, chi2 = _mood_model(groups)
    got = {r["o_orderpriority"]: (r["n_above"], r["n_below"]) for r in rows}
    assert got == cells
    assert all(r["dof"] == 2 for r in rows)
    assert all(
        r["chi2_stat"] == math.floor(chi2 * 10000) / 10000 for r in rows
    )


def _write_bar_events(spark, tmp_path, days):
    """days: list of (hi, lo, cls) cents triples for ONE event type; each
    day gets three events, close last by (ts, event_id)."""
    data = []
    eid = 0
    for i, (hi, lo, cls) in enumerate(days):
        day = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i)
        for minute, cents in ((10, hi), (20, lo), (30, cls)):
            data.append(
                (eid, day + datetime.timedelta(minutes=minute), 1,
                 "purchase", cents / 100.0, None)
            )
            eid += 1
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def test_cci_matches_brute_model(spark, tmp_path):
    import random

    rng = random.Random(7)
    days = []
    for _ in range(30):
        lo = rng.randint(100, 5000)
        hi = lo + rng.randint(0, 900)
        days.append((hi, lo, rng.randint(lo, hi)))
    _write_bar_events(spark, tmp_path, days)
    rows = registry.get("win_cci").fn(spark, str(tmp_path)).collect()
    # generator keeps lo <= cls <= hi, so bar hi/lo over all three
    # events are the planted hi/lo and tp3 = hi + lo + cls
    tp3 = [h + l + c for h, l, c in days]
    got = {r["day"]: r["cci"] for r in rows}
    assert len(rows) == 30 - 19
    for t in range(19, 30):
        frame = tp3[t - 19 : t + 1]
        s = sum(frame)
        madn = sum(abs(20 * x - s) for x in frame)
        num = 20 * tp3[t] - s
        want = (math.floor(num * 4000.0 / (3.0 * madn) * 10000) / 10000
                if madn > 0 else None)
        day = (datetime.date(2024, 1, 1)
               + datetime.timedelta(days=t)).isoformat()
        assert got[day] == want, day


def test_ultimate_oscillator_and_vortex_match_brute_model(spark, tmp_path):
    import random

    rng = random.Random(11)
    days = []
    for _ in range(40):
        lo = rng.randint(100, 5000)
        hi = lo + rng.randint(1, 900)
        days.append((hi, lo, rng.randint(lo, hi)))
    _write_bar_events(spark, tmp_path, days)
    uo_rows = registry.get("win_ultimate_oscillator").fn(
        spark, str(tmp_path)).collect()
    vx_rows = registry.get("win_vortex").fn(spark, str(tmp_path)).collect()
    bars = days
    bp, tr, vmp, vmm, atr = [None], [None], [None], [None], [None]
    for i in range(1, len(bars)):
        hi, lo, cls = bars[i]
        pc = bars[i - 1][2]
        bp.append(cls - min(lo, pc))
        tr.append(max(hi, pc) - min(lo, pc))
        vmp.append(abs(hi - bars[i - 1][1]))
        vmm.append(abs(lo - bars[i - 1][0]))
        atr.append(max(hi - lo, abs(hi - pc), abs(lo - pc)))
    got_uo = {r["day"]: r["ultimate_osc"] for r in uo_rows}
    for t in range(28, len(bars)):  # rn >= 29 -> index >= 28
        b7 = sum(bp[t - 6 : t + 1]); t7 = sum(tr[t - 6 : t + 1])
        b14 = sum(bp[t - 13 : t + 1]); t14 = sum(tr[t - 13 : t + 1])
        b28 = sum(bp[t - 27 : t + 1]); t28 = sum(tr[t - 27 : t + 1])
        want = (math.floor(
            100.0 * (4.0 * b7 / t7 + 2.0 * b14 / t14 + float(b28) / t28)
            / 7.0 * 10000) / 10000
            if min(t7, t14, t28) > 0 else None)
        day = (datetime.date(2024, 1, 1)
               + datetime.timedelta(days=t)).isoformat()
        assert got_uo[day] == want, day
    got_vx = {r["day"]: (r["vi_plus"], r["vi_minus"], r["uptrend"])
              for r in vx_rows}
    for t in range(14, len(bars)):  # rn >= 15 -> index >= 14
        svp = sum(vmp[t - 13 : t + 1]); svm = sum(vmm[t - 13 : t + 1])
        st = sum(atr[t - 13 : t + 1])
        want = ((math.floor(float(svp) / st * 10000) / 10000,
                 math.floor(float(svm) / st * 10000) / 10000,
                 svp > svm) if st > 0 else (None, None, None))
        day = (datetime.date(2024, 1, 1)
               + datetime.timedelta(days=t)).isoformat()
        assert got_vx[day] == want, day


def test_hapax_ratio_exact_counts(spark, tmp_path):
    docs = [
        (1, "alpha beta beta gamma", "en"),
        (2, "gamma delta epsilon epsilon zeta", "en"),
        (3, "uno dos dos", "es"),
    ]
    spark.createDataFrame(
        [(d, t, lg, "web", len(t)) for d, t, lg in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["lang"]: r for r in
            registry.get("text_hapax_ratio").fn(spark, str(tmp_path)).collect()}
    en = rows["en"]
    # en counts: alpha 1, beta 2, gamma 2, delta 1, epsilon 2, zeta 1
    assert (en["vocab"], en["tokens"], en["hapax"], en["dis_legomena"]) == (
        6, 9, 3, 3)
    assert en["hapax_ratio"] == math.floor(3 / 6 * 1_000_000) / 1_000_000
    es = rows["es"]
    assert (es["vocab"], es["tokens"], es["hapax"], es["dis_legomena"]) == (
        2, 3, 1, 1)


def test_kendall_tau_random_series_model(spark, tmp_path):
    """Seeded random day series with heavy ties on both axes — every
    pair classification and the floored tau must match the brute
    model."""
    import random

    for seed in (3, 17, 92):
        rng = random.Random(seed)
        day_prices = [
            (datetime.date(2024, 3, 1) + datetime.timedelta(days=i),
             [rng.choice([5.0, 10.0, 25.0]) for _ in range(rng.randint(1, 4))])
            for i in range(rng.randint(4, 12))
        ]
        p = tmp_path / f"k{seed}"
        p.mkdir()
        _write_orders(spark, p, day_prices)
        r = registry.get("agg_kendall_tau").fn(spark, str(p)).collect()[0]
        series = [(int(round(sum(v) * 100)), len(v)) for _, v in day_prices]
        c, d, tx, ty, tau = _kendall_model(series)
        assert (r["conc"], r["disc"], r["ties_x"], r["ties_y"]) == (
            c, d, tx, ty), seed
        want = (math.floor(tau * 1_000_000) / 1_000_000
                if tau is not None else None)
        assert r["tau_b"] == want, seed


def test_logrank_random_cohorts_model(spark, tmp_path):
    """Random censored cohorts with shared event times: the engines'
    time-ordered double fold must match the Python model bit-for-bit
    on the output lattice."""
    import random

    base = datetime.date(2024, 1, 1)
    for seed in (5, 41):
        rng = random.Random(seed)
        subjects = [(rng.randint(0, 1), rng.choice([1, 2, 2, 5, 9, 30, 61, 75]))
                    for _ in range(rng.randint(8, 25))]
        if not any(h for h, _ in subjects):
            subjects[0] = (1, 2)
        if all(h for h, _ in subjects):
            subjects[0] = (0, 2)
        orders, lines = [], []
        for i, (h, dur) in enumerate(subjects):
            orders.append((i, "2-HIGH" if h else "4-NOT SPECIFIED", base, 50.0))
            lines.append((i, base + datetime.timedelta(days=dur), "N", 0.0, 1.0))
        p = tmp_path / f"lr{seed}"
        p.mkdir()
        _write_orders_lineitem(spark, p, orders, lines)
        r = registry.get("agg_logrank_test").fn(spark, str(p)).collect()[0]
        ome, chi2 = _logrank_model(subjects)
        assert r["o_minus_e"] == math.floor(ome * 10000) / 10000, seed
        want = (math.floor(chi2 * 10000) / 10000 if chi2 is not None else None)
        assert r["chi2_stat"] == want, seed


def test_mood_median_random_groups_model(spark, tmp_path):
    """Random group values with planted ties AT the median cent."""
    import random

    base = datetime.date(2024, 1, 1)
    for seed in (7, 23):
        rng = random.Random(seed)
        groups = {
            pri: [rng.choice([100, 100, 250, 900, 900, 4000])
                  for _ in range(rng.randint(2, 8))]
            for pri in ("1-URGENT", "3-MEDIUM", "5-LOW")
        }
        orders = []
        i = 0
        for pri, vals in groups.items():
            for cts in vals:
                orders.append((i, pri, base, cts / 100.0))
                i += 1
        p = tmp_path / f"md{seed}"
        p.mkdir()
        _write_orders_lineitem(spark, p, orders, [(0, base, "N", 0.0, 1.0)])
        rows = registry.get("agg_mood_median_test").fn(spark, str(p)).collect()
        med, cells, chi2 = _mood_model(groups)
        got = {r["o_orderpriority"]: (r["n_above"], r["n_below"])
               for r in rows}
        assert got == cells, seed
        assert all(r["chi2_stat"] == math.floor(chi2 * 10000) / 10000
                   for r in rows), seed
