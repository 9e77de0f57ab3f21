"""Categorical / distributional statistics: chi-squared independence,
Gini concentration, Benford first-digit conformance.

Reference parity: the reference ETL (child.py) has no statistics
surface; this extends SURVEY.md section 2 Part C's experimentation
family (agg_t_test / agg_mann_whitney / agg_ks_test compare two NUMERIC
samples) with the three remaining everyday questions a data-quality or
analytics pipeline asks: are two CATEGORICAL columns independent
(chi-squared + Cramer's V), how CONCENTRATED is a measure within a
group (Gini), and do the raw magnitudes look ORGANIC or fabricated
(Benford's law — the standard anomaly screen for financial and
synthetic-data audits).

Cross-engine determinism doctrine (same as the rank tests): every SUM
is a sum of exact integers (counts, cents, integer ranks), so it is
order-independent and bit-identical in Spark and DuckDB; doubles appear
only in final single-expression divisions written identically on both
sides, or in per-cell terms over a DOMAIN-BOUNDED table whose rounded
values are summed on an exact decimal lattice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import register
from .sorts import prefix_offsets

#: 5% critical values of the chi-squared distribution by degrees of
#: freedom (1..12) — literals because neither engine ships an
#: inverse-CDF. The `dependent` verdict selects the value matching the
#: ACTUAL emitted dof (and is null for a dof outside the table), so a
#: 2x2 slice is judged against 3.8415, not the 5x3 table's 15.5073.
CHI2_CRIT_BY_DOF = {
    1: 3.8415, 2: 5.9915, 3: 7.8147, 4: 9.4877, 5: 11.0705,
    6: 12.5916, 7: 14.0671, 8: 15.5073, 9: 16.9190, 10: 18.3070,
    11: 19.6751, 12: 21.0261,
}

_CHI2_CRIT_SQL_CASE = "CASE dof " + " ".join(
    f"WHEN {d} THEN {c}" for d, c in CHI2_CRIT_BY_DOF.items()
) + " END"

_CHI2_ORACLE = f"""
    WITH ct AS (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    m AS (
      SELECT o_orderpriority, o_orderstatus, obs,
             SUM(obs) OVER (PARTITION BY o_orderpriority) AS row_t,
             SUM(obs) OVER (PARTITION BY o_orderstatus) AS col_t,
             SUM(obs) OVER () AS n_total
      FROM ct
    ),
    cells AS (
      SELECT o_orderpriority, o_orderstatus, obs, row_t, col_t, n_total,
             (row_t * col_t) / CAST(n_total AS DOUBLE) AS expected
      FROM m
    ),
    terms AS (
      SELECT *,
             ROUND((obs - expected) * (obs - expected) / expected, 4)
               AS chi2_term
      FROM cells
    )
    ,fin AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(obs AS BIGINT) AS obs,
             ROUND(expected, 4) AS expected,
             chi2_term,
             SUM(chi2_term) OVER () AS chi2_raw,
             CAST((SELECT (COUNT(DISTINCT o_orderpriority) - 1)
                          * (COUNT(DISTINCT o_orderstatus) - 1)
                   FROM orders) AS BIGINT) AS dof,
             ROUND(sqrt(SUM(chi2_term) OVER ()
                        / (MAX(n_total) OVER ()
                           * ((SELECT LEAST(COUNT(DISTINCT o_orderpriority),
                                            COUNT(DISTINCT o_orderstatus))
                               FROM orders) - 1))), 4) AS cramers_v
      FROM terms
    )
    SELECT o_orderpriority, o_orderstatus, obs, expected, chi2_term,
           ROUND(chi2_raw, 4) AS chi2_total, dof, cramers_v,
           chi2_raw > {_CHI2_CRIT_SQL_CASE} AS dependent
    FROM fin
"""


@register("agg_chi_squared", oracle=_CHI2_ORACLE)
def agg_chi_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared test of independence between order priority
    and order status, with Cramer's V effect size — the categorical
    sibling of agg_t_test. Emits the full contingency table (observed,
    expected, per-cell contribution) plus the table-level statistic on
    every row, so a consumer sees WHICH cells drive the dependence.

    Scale shape: one map-side-combinable groupBy over orders reduces
    100 TB to a DOMAIN-BOUNDED table (|priorities| x |statuses| = 15
    rows at any corpus size); every window below runs on that bounded
    frame, so its single-partition exchanges move 15 rows. Determinism:
    obs/marginals/N are exact integers, each cell's expected and term
    are single identical expressions of those integers, and the
    chi2_total is a sum over the 4-dp ROUNDED terms — an exact decimal
    lattice sum, immune to ordering. Cramer's V takes a sqrt (IEEE
    correctly-rounded) of an on-lattice ratio."""
    t = load(spark, sf_dir)
    ct = t.orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("obs")
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wall = Window.partitionBy()
    m = ct.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        F.sum("obs").over(wr).alias("row_t"),
        F.sum("obs").over(wc).alias("col_t"),
        F.sum("obs").over(wall).alias("n_total"),
    )
    expected = (F.col("row_t") * F.col("col_t")) / F.col("n_total").cast(
        "double"
    )
    term = F.round(
        (F.col("obs") - expected) * (F.col("obs") - expected) / expected, 4
    )
    cells = m.select(
        "o_orderpriority",
        "o_orderstatus",
        F.col("obs").cast("bigint").alias("obs"),
        F.round(expected, 4).alias("expected"),
        term.alias("chi2_term"),
        F.col("n_total").alias("n_total"),
    )
    nr = F.size(F.collect_set("o_orderpriority").over(wall))
    nc = F.size(F.collect_set("o_orderstatus").over(wall))
    chi2 = F.sum("chi2_term").over(wall)
    dof = ((nr - 1) * (nc - 1)).cast("bigint")
    crit = F.lit(None).cast("double")
    for d, c in CHI2_CRIT_BY_DOF.items():
        crit = F.when(dof == d, F.lit(c)).otherwise(crit)
    return cells.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        "expected",
        "chi2_term",
        F.round(chi2, 4).alias("chi2_total"),
        dof.alias("dof"),
        F.round(
            F.sqrt(
                chi2
                / (F.col("n_total") * (F.least(nr, nc) - 1).cast("double"))
            ),
            4,
        ).alias("cramers_v"),
        (chi2 > crit).alias("dependent"),
    )


#: Rows per range bucket for the two-phase Gini rank fold — same sizing
#: doctrine as windows._NTILE_BUCKET_ROWS (each window task sorts at
#: most ~this many rows regardless of corpus size).
_GINI_BUCKET_ROWS = 2048

_GINI_ORACLE = """
    WITH r AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rk
      FROM orders
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(SUM(cents) / 100.0, 2) AS total_price,
           ROUND(2.0 * SUM(rk * cents) / (COUNT(*) * CAST(SUM(cents) AS DOUBLE))
                 - (COUNT(*) + 1.0) / COUNT(*), 4) AS gini
    FROM r GROUP BY o_orderpriority
"""


@register("agg_gini", oracle=_GINI_ORACLE)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of order value within each order
    priority — the inequality measure behind "is our revenue
    concentrated in a few whale orders?" (0 = all orders equal, ->1 =
    one order carries everything). Uses the exact rank formula
    G = 2*sum(rank_i * x_i) / (n * sum(x)) - (n+1)/n.

    Ranks come WITHOUT a table-scale window partition: rows are
    range-bucketed by value (a pure function of the value, so ties share
    a bucket), sorts.prefix_offsets gives each (priority, bucket) its
    exclusive offset, and a bucket-local ``row_number`` (each window
    task sorts <= ~_GINI_BUCKET_ROWS rows) completes the global rank.

    Determinism: money is folded to integer CENTS, ranks and counts are
    integers, so every SUM (rank*cents, cents, n) is exact and
    order-independent in both engines (Spark long / DuckDB int128 —
    production at 100 TB would lift S to decimal(38,0); sf-scale sums
    sit far below 2^63); the Gini expression is one identical
    double-division formula over those exact sums. Tied values
    contribute rank-sum * value over the tie block, which is invariant
    to how row_number breaks the tie."""
    t = load(spark, sf_dir)
    o = t.orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    b = o.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n_buckets = max(8, min(4096, int(b["n"]) // _GINI_BUCKET_ROWS + 1))
    span = max((int(b["hi"]) - int(b["lo"])) // n_buckets, 1)
    bucket = F.least(
        F.floor((F.col("cents") - int(b["lo"])) / span),
        F.lit(n_buckets - 1),
    ).alias("bucket")
    bucketed = o.select("o_orderkey", "o_orderpriority", "cents", bucket)
    w = Window.partitionBy("o_orderpriority", "bucket").orderBy(
        "cents", "o_orderkey"
    )
    ranked = prefix_offsets(
        bucketed, ["o_orderpriority"], "bucket", F.lit(1)
    ).withColumn("rk", F.row_number().over(w) + F.col("_off"))
    g = ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("t_cents"),
        F.sum(F.col("rk") * F.col("cents")).alias("s_rank"),
    )
    return g.select(
        "o_orderpriority",
        "n",
        F.round(F.col("t_cents") / 100.0, 2).alias("total_price"),
        F.round(
            2.0 * F.col("s_rank")
            / (F.col("n") * F.col("t_cents").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            4,
        ).alias("gini"),
    )


#: Benford's law expected first-significant-digit shares,
#: log10(1 + 1/d) for d = 1..9, as 5-dp LITERALS so neither engine's
#: log10 implementation enters the comparison.
BENFORD = {
    1: 0.30103,
    2: 0.17609,
    3: 0.12494,
    4: 0.09691,
    5: 0.07918,
    6: 0.06695,
    7: 0.05799,
    8: 0.05115,
    9: 0.04576,
}

_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN '{d}' THEN {p}" for d, p in BENFORD.items())
    + " END"
)

_BENFORD_ORACLE = f"""
    WITH d AS (
      SELECT SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c0 AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ),
    c AS (
      SELECT dom.digit, COALESCE(c0.n, 0) AS n,
             SUM(COALESCE(c0.n, 0)) OVER () AS n_total
      FROM (VALUES ('1'),('2'),('3'),('4'),('5'),('6'),('7'),('8'),('9'))
           dom(digit)
      LEFT JOIN c0 ON dom.digit = c0.digit
    )
    SELECT digit, CAST(n AS BIGINT) AS n,
           ROUND(n / CAST(n_total AS DOUBLE), 4) AS obs_share,
           {_BENFORD_CASE} AS benford_share,
           ROUND(abs(n / CAST(n_total AS DOUBLE) - ({_BENFORD_CASE})), 4)
             AS abs_dev,
           ROUND(SUM(ROUND(abs(n / CAST(n_total AS DOUBLE)
                               - ({_BENFORD_CASE})), 4)) OVER () / 9, 4)
             AS mad
    FROM c
"""


@register("agg_benford", oracle=_BENFORD_ORACLE)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit screen over order totals —
    the standard forensic test for fabricated or truncated magnitude
    data (organic multiplicative processes put ~30.1% of values on
    leading digit 1; uniform synthetics put ~11.1%). Emits per-digit
    observed vs expected shares and the mean-absolute-deviation
    conformance score (Nigrini's MAD; < 0.006 is "close conformance").

    Determinism: the first significant digit is taken from the STRING
    of the integer CENTS value (cents = value*100 shares the value's
    leading digit) — integer-to-string is exact in both engines,
    whereas floor(x/10^floor(log10 x)) risks libm divergence at powers
    of ten. Expected shares are 5-dp literals, not engine log10 calls.
    One combinable groupBy bounds the table at 9 rows; shares are
    single identical divisions of exact counts; MAD sums 4-dp-rounded
    lattice values. Digits ABSENT from the data still contribute their
    full expected share to the MAD (zero-filled via a left join from
    the 9-digit literal domain) — a fabricated distribution that skips
    a digit must read as LESS conformant, not more. Scale: one scan,
    O(1) state."""
    t = load(spark, sf_dir)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        1,
        1,
    ).alias("digit")
    c0 = (
        t.orders.where(F.col("o_totalprice") > 0)
        .select(digit)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dom = spark.range(1, 10).select(F.col("id").cast("string").alias("digit"))
    c = dom.join(F.broadcast(c0), "digit", "left").select(
        "digit", F.coalesce("n", F.lit(0)).alias("n")
    )
    wall = Window.partitionBy()
    share = F.col("n") / F.sum("n").over(wall).cast("double")
    bexp = F.expr(_BENFORD_CASE).cast("double")
    dev = F.round(F.abs(share - bexp), 4)
    return c.select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.round(share, 4).alias("obs_share"),
        bexp.alias("benford_share"),
        dev.alias("abs_dev"),
        F.round(F.sum(dev).over(wall) / 9, 4).alias("mad"),
    )


_MI_ORACLE = """
    WITH ct AS (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    m AS (
      SELECT o_orderpriority, o_orderstatus, obs,
             SUM(obs) OVER (PARTITION BY o_orderpriority) AS row_t,
             SUM(obs) OVER (PARTITION BY o_orderstatus) AS col_t,
             SUM(obs) OVER () AS n_total
      FROM ct
    ),
    terms AS (
      SELECT *,
             ROUND(log2((CAST(obs AS DOUBLE) * n_total)
                        / (CAST(row_t AS DOUBLE) * col_t)), 4)
               AS pmi,
             ROUND((obs / CAST(n_total AS DOUBLE))
                   * log2((CAST(obs AS DOUBLE) * n_total)
                          / (CAST(row_t AS DOUBLE) * col_t)), 6) AS mi_term
      FROM m
    ),
    hr AS (
      SELECT SUM(ROUND(-(row_t / CAST(n_total AS DOUBLE))
                       * log2(row_t / CAST(n_total AS DOUBLE)), 6)) AS h
      FROM (SELECT DISTINCT o_orderpriority, row_t, n_total FROM m)
    ),
    hc AS (
      SELECT SUM(ROUND(-(col_t / CAST(n_total AS DOUBLE))
                       * log2(col_t / CAST(n_total AS DOUBLE)), 6)) AS h
      FROM (SELECT DISTINCT o_orderstatus, col_t, n_total FROM m)
    )
    SELECT o_orderpriority, o_orderstatus,
           CAST(obs AS BIGINT) AS obs, pmi,
           ROUND(SUM(mi_term) OVER (), 6) AS mi_bits,
           ROUND((SELECT h FROM hr), 6) AS h_priority,
           ROUND((SELECT h FROM hc), 6) AS h_status,
           ROUND(SUM(mi_term) OVER ()
                 / sqrt((SELECT h FROM hr) * (SELECT h FROM hc)), 4) AS nmi
    FROM terms
"""


@register("agg_mutual_info", oracle=_MI_ORACLE)
def agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order priority and status, with
    per-cell pointwise MI and the sqrt-normalized NMI in [0,1] — the
    information-theoretic view of the same association agg_chi_squared
    tests (chi2 asks "is there dependence"; MI says "how many BITS does
    knowing one column give about the other" — the feature-selection /
    redundant-column screen).

    Same bounded-frame shape as agg_chi_squared: one combinable groupBy
    to the 15-row contingency table, windows only over that frame.
    Determinism: every log2 argument is a single division of exact
    integer products, identical expressions both engines; per-cell
    terms are 6-dp rounded before the lattice-exact sum (sub-1e-6 libm
    log differences collapse at the rounding, the text_tfidf
    convention); marginal entropies fold over the DISTINCT 5-row /
    3-row marginal frames."""
    t = load(spark, sf_dir)
    ct = t.orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("obs")
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wall = Window.partitionBy()
    m = ct.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        F.sum("obs").over(wr).alias("row_t"),
        F.sum("obs").over(wc).alias("col_t"),
        F.sum("obs").over(wall).alias("n_total"),
    )
    # double-multiply like agg_theils_u: obs * n_total wraps bigint at
    # ~1e13-row tables while the DuckDB side widens to HUGEINT (r9 audit)
    ratio = (F.col("obs").cast("double") * F.col("n_total")) / (
        F.col("row_t").cast("double") * F.col("col_t")
    )
    p = F.col("obs") / F.col("n_total").cast("double")
    terms = m.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        F.round(F.log2(ratio), 4).alias("pmi"),
        F.round(p * F.log2(ratio), 6).alias("mi_term"),
    )

    def _marginal_entropy(key: str, alias: str):
        g = t.orders.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        tot = F.sum("c").over(Window.partitionBy())
        pm = F.col("c") / tot.cast("double")
        return (
            g.select(F.round(-pm * F.log2(pm), 6).alias("term"))
            .agg(F.round(F.sum("term"), 6).alias(alias))
        )

    hr = _marginal_entropy("o_orderpriority", "h_priority")
    hc = _marginal_entropy("o_orderstatus", "h_status")
    mi = F.round(F.sum("mi_term").over(wall), 6)
    return (
        terms.crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hc))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            F.col("obs").cast("bigint").alias("obs"),
            "pmi",
            mi.alias("mi_bits"),
            "h_priority",
            "h_status",
            F.round(
                mi / F.sqrt(F.col("h_priority") * F.col("h_status")), 4
            ).alias("nmi"),
        )
    )


_HHI_ORACLE = """
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    seg AS (
      SELECT c_mktsegment, cents FROM rev
      JOIN customer ON c_custkey = o_custkey
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(SUM(cents) / 100.0, 2) AS total_rev,
           ROUND(10000.0 * SUM(cents * cents)
                 / (CAST(SUM(cents) AS DOUBLE) * SUM(cents)), 4) AS hhi,
           ROUND((CAST(SUM(cents) AS DOUBLE) * SUM(cents))
                 / SUM(cents * cents), 2) AS effective_n
    FROM seg GROUP BY c_mktsegment
"""


@register("agg_hhi", oracle=_HHI_ORACLE)
def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of customer revenue
    within each market segment (0-10000 scale; >2500 = highly
    concentrated under the DOJ convention) plus the equivalent number
    of equal-sized customers (1/sum(share^2)) — the
    "how dependent is this segment on a few accounts?" risk metric.

    The share-free identity is what makes it scale: HHI =
    10000 * sum(rev^2) / (sum(rev))^2, so no per-customer share (and
    hence no segment-total broadcast or second pass) is ever computed
    — two combinable aggregates and one equi-join on custkey. Money in
    integer cents; sum(cents^2) runs in DECIMAL(38,0) (Spark) /
    int128 (DuckDB) — exact and order-independent at any scale where
    a long would overflow — and the final ratios are identical
    single expressions over those exact sums."""
    t = load(spark, sf_dir)
    rev = (
        t.orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    seg = rev.join(
        t.customer.select("c_custkey", "c_mktsegment"),
        rev.o_custkey == F.col("c_custkey"),
    )
    g = seg.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("t_cents"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("s_sq"),
    )
    td = F.col("t_cents").cast("double")
    sd = F.col("s_sq").cast("double")
    return g.select(
        "c_mktsegment",
        "n_customers",
        F.round(F.col("t_cents") / 100.0, 2).alias("total_rev"),
        F.round(10000.0 * sd / (td * td), 4).alias("hhi"),
        F.round((td * td) / sd, 2).alias("effective_n"),
    )


#: 5% critical values of F(dof1, infinity) = chi2_crit(dof1)/dof1 — the
#: asymptotic the ANOVA verdict uses; exact because the denominator dof
#: (N - k) is in the tens of thousands at every tested scale (the F
#: distribution's dof2 dependence is < 1e-4 there). Null verdict for a
#: dof1 outside the table, the agg_chi_squared convention.
F_CRIT_INF_BY_DOF1 = {
    d: round(c / d, 4) for d, c in CHI2_CRIT_BY_DOF.items()
}

_F_CRIT_SQL_CASE = "CASE dof1 " + " ".join(
    f"WHEN {d} THEN {c}" for d, c in F_CRIT_INF_BY_DOF1.items()
) + " END"

_ANOVA_ORACLE = f"""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             ROUND(SUM(value), 2) AS s1,
             ROUND(SUM(value * value), 2) AS s2
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT SUM(n) AS nn, SUM(s1) AS ss1, COUNT(*) AS k,
             SUM(s1 * s1 / n) AS sb_raw,
             SUM(s2 - s1 * s1 / n) AS ssw
      FROM g
    ),
    fin AS (
      SELECT g.event_type, g.n, g.s1,
             t.k, t.nn,
             t.sb_raw - t.ss1 * t.ss1 / t.nn AS ssb,
             t.ssw AS ssw
      FROM g CROSS JOIN tot t
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(s1 / n, 4) AS mean_value,
           ROUND((ssb / (k - 1)) / (ssw / (nn - k)), 4) AS f_stat,
           CAST(k - 1 AS BIGINT) AS dof1,
           CAST(nn - k AS BIGINT) AS dof2,
           ROUND(ssb / (ssb + ssw), 4) AS eta_sq,
           (ssb / (k - 1)) / (ssw / (nn - k))
             > (SELECT {_F_CRIT_SQL_CASE}
                FROM (SELECT k - 1 AS dof1 FROM tot)) AS significant
    FROM fin
"""


@register("agg_anova_oneway", oracle=_ANOVA_ORACLE)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across ALL event types on the event value — the
    k-group generalization of agg_t_test ("did ANY arm's mean move"),
    with the eta-squared effect size and the dof1-matched 5% verdict
    (F at dof2 = N - k ~ infinity; null for an untabled dof1, the
    agg_chi_squared lesson applied on arrival). Emits one row per group
    (n, mean) with the table-level statistic replicated, the family's
    bounded-frame shape.

    Determinism: per-group sufficient statistics (n, sum, sum-of-
    squares) are 2-dp ROUNDED before any cross-group arithmetic, so
    SSB/SSW are exact-lattice sums over the |event types|-row frame and
    every downstream division is a single identical expression in both
    engines. Scale: one map-side-combinable scan to a domain-bounded
    frame; the statistic costs nothing more at 100 TB."""
    t = load(spark, sf_dir)
    g = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("s1"),
        F.round(F.sum(F.col("value") * F.col("value")), 2).alias("s2"),
    )
    wall = Window.partitionBy()
    nn = F.sum("n").over(wall)
    ss1 = F.sum("s1").over(wall)
    k = F.count(F.lit(1)).over(wall)
    sb_raw = F.sum(F.col("s1") * F.col("s1") / F.col("n")).over(wall)
    ssw = F.sum(F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")).over(
        wall
    )
    ssb = sb_raw - ss1 * ss1 / nn
    fstat = (ssb / (k - 1)) / (ssw / (nn - k))
    dof1 = (k - 1).cast("bigint")
    crit = F.lit(None).cast("double")
    for d, c in F_CRIT_INF_BY_DOF1.items():
        crit = F.when(dof1 == d, F.lit(c)).otherwise(crit)
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("s1") / F.col("n"), 4).alias("mean_value"),
        F.round(fstat, 4).alias("f_stat"),
        dof1.alias("dof1"),
        (nn - k).cast("bigint").alias("dof2"),
        F.round(ssb / (ssb + ssw), 4).alias("eta_sq"),
        (fstat > crit).alias("significant"),
    )


_RATIO_CI_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END), 2) AS x,
             COUNT(*) AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT COUNT(*) AS n,
             AVG(x) AS mx, AVG(CAST(y AS DOUBLE)) AS my,
             VAR_SAMP(x) AS vx, VAR_SAMP(CAST(y AS DOUBLE)) AS vy,
             COVAR_SAMP(x, CAST(y AS DOUBLE)) AS cxy
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(mx / my, 6) AS ratio,
           ROUND(sqrt((vx - 2 * (mx / my) * cxy
                       + (mx / my) * (mx / my) * vy) / n) / my, 6) AS se,
           ROUND(mx / my - 1.96 * sqrt((vx - 2 * (mx / my) * cxy
                 + (mx / my) * (mx / my) * vy) / n) / my, 6) AS ci_lo,
           ROUND(mx / my + 1.96 * sqrt((vx - 2 * (mx / my) * cxy
                 + (mx / my) * (mx / my) * vy) / n) / my, 6) AS ci_hi
    FROM s
"""


@register("agg_ratio_delta_ci", oracle=_RATIO_CI_ORACLE)
def agg_ratio_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric (purchase
    revenue per event) with the USER as the randomization unit — the
    experimentation-platform staple (Deng et al., KDD 2018 practice):
    per-event CIs are wrong when events cluster within users, so the
    variance comes from per-user aggregates via the delta method:
    var(X/Y) ~ (vx - 2R*cxy + R^2*vy) / (n * my^2).

    Scale shape: ONE user_id shuffle reduces events to a per-user
    (x, y) frame (map-side-combinable sums), then one 1-row moment
    aggregate; the CI is driver-free arithmetic on that row. Per-user x
    is 2-dp rounded so the moment inputs sit on the same lattice in
    both engines; remaining var/cov float noise is absorbed by the 6-dp
    output rounding (the agg_t_test precedent)."""
    t = load(spark, sf_dir)
    per_user = t.events.groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
            ),
            2,
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg(F.col("y").cast("double")).alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp(F.col("y").cast("double")).alias("vy"),
        F.covar_samp("x", F.col("y").cast("double")).alias("cxy"),
    )
    r = F.col("mx") / F.col("my")
    se = (
        F.sqrt(
            (F.col("vx") - 2 * r * F.col("cxy") + r * r * F.col("vy"))
            / F.col("n")
        )
        / F.col("my")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(r - 1.96 * se, 6).alias("ci_lo"),
        F.round(r + 1.96 * se, 6).alias("ci_hi"),
    )


#: Kaplan-Meier administrative-censoring horizon (days from order to
#: first shipment): orders not shipped within this window are censored
#: AT the horizon — the standard right-censoring a fulfillment or
#: retention analysis applies at its observation cutoff.
KM_HORIZON_DAYS = 60

_KM_ORACLE = f"""
    WITH durs AS (
      SELECT o.o_orderkey,
             LEAST(date_diff('day', o.o_orderdate, MIN(l.l_shipdate)),
                   {KM_HORIZON_DAYS}) AS t,
             CASE WHEN date_diff('day', o.o_orderdate, MIN(l.l_shipdate))
                       <= {KM_HORIZON_DAYS} THEN 1 ELSE 0 END AS ev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    tt AS (
      SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM durs GROUP BY t
    ),
    r AS (
      SELECT t, d, c,
             SUM(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior,
             SUM(d + c) OVER () AS total
      FROM tt
    ),
    s AS (
      SELECT t, d, c, total - COALESCE(prior, 0) AS n_risk,
             CASE WHEN d < total - COALESCE(prior, 0)
                  THEN ROUND(ln(1 - d / CAST(total - COALESCE(prior, 0)
                                             AS DOUBLE)), 6) END AS lterm,
             CASE WHEN d >= total - COALESCE(prior, 0) THEN 1 ELSE 0 END
               AS dead
      FROM r
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS n_censored,
           CASE WHEN MAX(dead) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
                THEN 0.0
                ELSE ROUND(exp(SUM(lterm) OVER (ORDER BY t
                                                ROWS UNBOUNDED PRECEDING)), 4)
           END AS survival
    FROM s
"""


@register("agg_survival_km", oracle=_KM_ORACLE)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of order fulfillment latency (days
    from order to FIRST shipment, right-censored at KM_HORIZON_DAYS) —
    the survival-analysis primitive behind "what fraction of orders is
    still unshipped after t days", and the same estimator a retention
    analysis runs on churn times. Emits the full risk table
    (n_risk / events / censored per distinct day) plus the product-
    limit survival estimate S(t) = prod(1 - d_s/n_s).

    Scale shape: one join + per-order MIN reduces the facts to one
    (duration, event) row per order; a second combinable groupBy bounds
    everything downstream by the TIME DOMAIN (<= horizon+1 distinct
    values at any corpus size — the agg_ks_test argument), so the KM
    product is a window over a <= 61-row frame. Determinism: counts are
    exact integers; the product runs as exp(sum(6-dp-rounded log
    terms)) — a lattice-exact cumulation (the text_tfidf libm
    convention); a time where every at-risk order fails pins S to an
    exact 0 rather than exp(ln 0)."""
    t = load(spark, sf_dir)
    durs = (
        t.orders.join(
            t.lineitem, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.datediff("first_ship", "o_orderdate").alias("dur")
        )
    )
    tt = durs.select(
        F.least(F.col("dur"), F.lit(KM_HORIZON_DAYS)).alias("t"),
        F.when(F.col("dur") <= KM_HORIZON_DAYS, 1).otherwise(0).alias("ev"),
    ).groupBy("t").agg(
        F.sum("ev").alias("d"), F.sum(1 - F.col("ev")).alias("c")
    )
    w_prior = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = tt.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prior), F.lit(0)
            )
        ).alias("n_risk"),
    )
    lterm = F.when(
        F.col("d") < F.col("n_risk"),
        F.round(
            F.log(1 - F.col("d") / F.col("n_risk").cast("double")), 6
        ),
    )
    dead = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    s = r.select("t", "d", "c", "n_risk", lterm.alias("lterm"), dead.alias("dead"))
    return s.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.when(F.max("dead").over(w_cum) == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum("lterm").over(w_cum)), 4))
        .alias("survival"),
    )


#: Power-analysis constants: (z_{alpha/2} + z_{power})^2 for the 5%
#: two-sided test at 80% power — (1.96 + 0.8416)^2, a 4-dp literal so
#: neither engine's inverse-normal enters; MDE is a 5% relative lift.
POWER_Z2 = 7.8489
POWER_MDE_REL = 0.05

_POWER_ORACLE = f"""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             ROUND(SUM(value), 2) AS s1,
             ROUND(SUM(value * value), 2) AS s2
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_observed,
           ROUND(s1 / n, 4) AS mean_value,
           ROUND(sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS stddev,
           ROUND({POWER_MDE_REL} * s1 / n, 4) AS mde_abs,
           CAST(ceil(2 * {POWER_Z2} * ((s2 - s1 * s1 / n) / (n - 1))
                     / (({POWER_MDE_REL} * s1 / n)
                        * ({POWER_MDE_REL} * s1 / n))) AS BIGINT)
             AS n_required_per_arm,
           CAST(ceil(2 * {POWER_Z2} * ((s2 - s1 * s1 / n) / (n - 1))
                     / (({POWER_MDE_REL} * s1 / n)
                        * ({POWER_MDE_REL} * s1 / n))) AS BIGINT) <= n
             AS powered_today
    FROM g
"""


@register("agg_power_analysis", oracle=_POWER_ORACLE)
def agg_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sample-size calculator per metric (event type): the
    n per arm needed to detect a 5% relative lift of the mean at
    alpha = 0.05 / power = 0.8 — n = 2 (z_a + z_b)^2 sigma^2 / delta^2,
    the pre-registration step of the experimentation trio (agg_t_test
    runs the test; this says whether the test CAN run yet), plus a
    powered_today verdict against the observed volume.

    Same determinism doctrine as agg_anova_oneway: per-group (n, sum,
    sum-of-squares) rounded to the 2-dp lattice before any arithmetic;
    everything downstream is identical single expressions of lattice
    values over the |event types|-row domain-bounded frame. One
    combinable scan; O(1) statistic cost at any corpus size."""
    t = load(spark, sf_dir)
    g = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("s1"),
        F.round(F.sum(F.col("value") * F.col("value")), 2).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    mde = POWER_MDE_REL * mean
    n_req = F.ceil(2 * POWER_Z2 * var / (mde * mde)).cast("bigint")
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_observed"),
        F.round(mean, 4).alias("mean_value"),
        F.round(F.sqrt(var), 4).alias("stddev"),
        F.round(mde, 4).alias("mde_abs"),
        n_req.alias("n_required_per_arm"),
        (n_req <= F.col("n")).alias("powered_today"),
    )


#: CUPED pre/post split point over the fixture's January window.
CUPED_SPLIT = "2024-01-16"

_CUPED_ORACLE = f"""
    WITH per_user AS (
      SELECT user_id,
             ROUND(SUM(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT}'
                            THEN value ELSE 0 END), 2) AS x,
             ROUND(SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}'
                              AND event_type = 'purchase'
                            THEN value ELSE 0 END), 2) AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT COUNT(*) AS n,
             VAR_SAMP(x) AS vx, VAR_SAMP(y) AS vy,
             COVAR_SAMP(x, y) AS cxy
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(cxy / vx, 6) AS theta,
           ROUND(vy, 4) AS var_y,
           ROUND(vy - cxy * cxy / vx, 4) AS var_adjusted,
           ROUND((cxy * cxy / vx) / vy * 100, 2) AS var_reduction_pct
    FROM s
"""


@register("agg_cuped_adjustment", oracle=_CUPED_ORACLE)
def agg_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013 — the standard
    experimentation-platform trick): regress each user's POST-period
    purchase value on their PRE-period activity, adjust
    Y' = Y - theta (X - mean X) with theta = cov(X,Y)/var(X), and
    report how much metric variance the adjustment removes —
    var_reduction_pct IS the experiment-duration saving (30% less
    variance = 30% fewer samples for the same power; pairs with
    agg_power_analysis). Completes the experimentation suite:
    power -> test (t/MWU) -> ratio CI -> variance reduction.

    Scale shape: one user_id shuffle to the per-user (x, y) frame
    (map-side-combinable conditional sums, 2-dp lattice), one 1-row
    moment aggregate; theta and the variance identities are arithmetic
    on that row. Same determinism posture as agg_ratio_delta_ci."""
    t = load(spark, sf_dir)
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    per_user = t.events.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)),
            2,
        ).alias("x"),
        F.round(
            F.sum(
                F.when(
                    (F.col("ts") >= split)
                    & (F.col("event_type") == "purchase"),
                    F.col("value"),
                ).otherwise(0.0)
            ),
            2,
        ).alias("y"),
    )
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
    )
    explained = F.col("cxy") * F.col("cxy") / F.col("vx")
    return s.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("cxy") / F.col("vx"), 6).alias("theta"),
        F.round("vy", 4).alias("var_y"),
        F.round(F.col("vy") - explained, 4).alias("var_adjusted"),
        F.round(explained / F.col("vy") * 100, 2).alias(
            "var_reduction_pct"
        ),
    )


_SRM_ORACLE = """
    WITH arms AS (
      SELECT CASE WHEN instr('01234567',
                        substr(md5('srm:' || CAST(user_id AS VARCHAR)), 1, 1)
                      ) > 0
                  THEN 'treatment' ELSE 'control' END AS arm,
             user_id
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT arm, COUNT(*) AS n FROM arms GROUP BY arm
    ),
    s AS (
      SELECT arm, n,
             SUM(n) OVER () AS n_total
      FROM c
    )
    SELECT arm, CAST(n AS BIGINT) AS n_users,
           ROUND(n / CAST(n_total AS DOUBLE), 6) AS ratio,
           ROUND(SUM((n - n_total / 2.0) * (n - n_total / 2.0)
                     / (n_total / 2.0)) OVER (), 6) AS chi2,
           SUM((n - n_total / 2.0) * (n - n_total / 2.0)
               / (n_total / 2.0)) OVER () > 3.8415 AS srm_detected
    FROM s
"""


@register("agg_srm_check", oracle=_SRM_ORACLE)
def agg_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-platform tripwire
    that runs BEFORE any metric test: users hash-assigned 50/50 to
    treatment/control (first md5 nibble, the corpus_shard_assign
    engine-portable convention), then a dof-1 chi-squared
    goodness-of-fit of observed arm counts against the expected even
    split. An SRM verdict means the assignment or logging pipeline is
    broken and every downstream readout (agg_t_test, agg_cuped_...) is
    invalid — which is why it ships as its own operator. Completes the
    experimentation suite: SRM gate -> power -> test -> CUPED.

    Scale shape: one user_id-distinct aggregate (map-side combinable)
    collapses the facts to one row per user, then a 2-row arm frame;
    the chi-squared is arithmetic on two exact integers, identical in
    both engines. Crit 3.8415 = the CHI2_CRIT_BY_DOF dof-1 literal."""
    t = load(spark, sf_dir)
    nibble = F.substring(
        F.md5(F.concat(F.lit("srm:"), F.col("user_id").cast("string")).cast("binary")),
        1,
        1,
    )
    arm = F.when(
        F.instr(F.lit("01234567"), nibble) > 0, F.lit("treatment")
    ).otherwise(F.lit("control"))
    arms = t.events.select(arm.alias("arm"), "user_id").distinct()
    c = arms.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    n_total = F.sum("n").over(w)
    dev = F.col("n") - n_total / 2.0
    chi2 = F.sum(dev * dev / (n_total / 2.0)).over(w)
    return c.select(
        "arm",
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("n") / n_total.cast("double"), 6).alias("ratio"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > CHI2_CRIT_BY_DOF[1]).alias("srm_detected"),
    )


#: Autocorrelation lags to report. Pairs pool ACROSS user series (each
#: user's stream supplies its own (x_t, x_{t-k}) pairs), so the
#: estimate distributes and no single global sort exists.
ACF_LAGS = (1, 2, 3, 4, 5)

_ACF_PAIRS_SQL = "\n    UNION ALL\n".join(
    f"SELECT {k} AS lag, vc AS x, l{k} AS y FROM lagged WHERE l{k} IS NOT NULL"
    for k in ACF_LAGS
)

_ACF_ORACLE = f"""
    WITH c AS (
      SELECT user_id, ts, event_id, ROUND(value * 100) AS vc FROM events
    ),
    lagged AS (
      SELECT vc,
             {", ".join(
                 f"lag(vc, {k}) OVER (PARTITION BY user_id "
                 f"ORDER BY ts, event_id) AS l{k}"
                 for k in ACF_LAGS
             )}
      FROM c
    ),
    pairs AS (
      {_ACF_PAIRS_SQL}
    ),
    s AS (
      SELECT lag, COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           floor((sxy / n - (sx / n) * (sy / n))
                 / sqrt((sxx / n - (sx / n) * (sx / n))
                        * (syy / n - (sy / n) * (sy / n)))
                 * 1000000) / 1000000 AS acf
    FROM s
"""


@register("agg_autocorr", oracle=_ACF_ORACLE)
def agg_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled lag-k autocorrelation of the event value stream (lags
    1-{ACF_LAGS[-1]}): Pearson correlation between (x_t, x_t-k) pairs
    taken WITHIN each user's time-ordered series and pooled across all
    users — the series-memory diagnostic that tells a forecaster
    whether win_ewma/win_holt_linear have anything to smooth (ACF ~ 0
    = white noise; slow decay = momentum; alternating sign =
    mean-reversion).

    Scale shape: pooling across user series is what makes ACF
    distribute — one user_id window computes all {len(ACF_LAGS)} lag
    columns in a single pass (no global sort anywhere), the pair
    stream stacks and reduces to 5 sufficient-stat rows via a
    combinable aggregate. Determinism: values quantize to integer
    CENTS so every sum is an exact integer (max |sum| ~ 3e14 << 2^53,
    order-independent); the correlation is then identical arithmetic
    both engines, floor-scaled for display."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = t.events.select(
        "user_id", "ts", "event_id", F.round(F.col("value") * 100).alias("vc")
    )
    lagged = c.select(
        "vc", *[F.lag("vc", k).over(w).alias(f"l{k}") for k in ACF_LAGS]
    )
    stack = ", ".join(f"{k}, vc, l{k}" for k in ACF_LAGS)
    pairs = lagged.selectExpr(
        f"stack({len(ACF_LAGS)}, {stack}) AS (lag, x, y)"
    ).where(F.col("y").isNotNull())
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    mx, my = F.col("sx") / n, F.col("sy") / n
    acf = (F.col("sxy") / n - mx * my) / F.sqrt(
        (F.col("sxx") / n - mx * mx) * (F.col("syy") / n - my * my)
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        (F.floor(acf * 1_000_000) / 1_000_000).alias("acf"),
    )


_SEASONAL_STRENGTH_ORACLE = """
    WITH c AS (
      SELECT event_type, hour(ts) AS h, CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    cells AS (
      SELECT event_type, h, COUNT(*) AS n,
             SUM(vc) AS s1, SUM(vc * vc) AS s2
      FROM c GROUP BY event_type, h
    ),
    terms AS (
      SELECT event_type, n, s1, s2,
             CAST(floor((CAST(s2 AS DOUBLE) / 10000.0
                         - (CAST(s1 AS DOUBLE) / 100.0)
                           * (CAST(s1 AS DOUBLE) / 100.0) / n) * 1000000)
                  AS BIGINT) AS ssw_u
      FROM cells
    )
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) AS n,
           floor((CAST(SUM(s2) AS DOUBLE) / 10000.0
                  - (CAST(SUM(s1) AS DOUBLE) / 100.0)
                    * (CAST(SUM(s1) AS DOUBLE) / 100.0) / SUM(n))
                 / SUM(n) * 1000000) / 1000000 AS var_total,
           floor(SUM(ssw_u) / 1e6 / SUM(n) * 1000000) / 1000000 AS var_resid,
           GREATEST(0, floor((1 - (SUM(ssw_u) / 1e6)
                 / ((CAST(SUM(s2) AS DOUBLE) / 10000.0
                     - (CAST(SUM(s1) AS DOUBLE) / 100.0)
                       * (CAST(SUM(s1) AS DOUBLE) / 100.0) / SUM(n))))
                 * 10000) / 10000) AS seasonal_strength
    FROM terms GROUP BY event_type
"""


@register("agg_seasonal_strength", oracle=_SEASONAL_STRENGTH_ORACLE)
def agg_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength per event type (the STL-style diagnostic
    1 - Var(residual)/Var(total) over the hour-of-day decomposition):
    ~0 = the hourly profile explains nothing (win_seasonal_baseline
    would be flagging noise), ~1 = the metric IS its daily cycle. The
    one-number screen that decides whether the seasonal monitors and
    hour-aware forecasts are worth their baseline joins.

    Scale shape: everything reduces to the (type, hour) cell frame —
    one map-side-combinable aggregate, domain-bounded at types x 24.
    Determinism: cell sums are exact integer cents (order-free); each
    cell's within-SS quantizes to exact integer micro-units before the
    per-type sum (the embed_outlier_centroid doctrine), so no
    cross-engine summation-order drift anywhere; outputs floor-scaled
    and clamped at 0 (sampling noise can push raw strength slightly
    negative)."""
    t = load(spark, sf_dir)
    c = t.events.select(
        "event_type",
        F.hour("ts").alias("h"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    cells = c.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).alias("s2"),
    )
    s1d = F.col("s1").cast("double") / 100.0
    s2d = F.col("s2").cast("double") / 10_000.0
    ssw_u = F.floor((s2d - s1d * s1d / F.col("n")) * 1_000_000).cast("bigint")
    terms = cells.select("event_type", "n", "s1", "s2", ssw_u.alias("ssw_u"))
    n_t = F.sum("n")
    s1_t = F.sum("s1").cast("double") / 100.0
    s2_t = F.sum("s2").cast("double") / 10_000.0
    sst = s2_t - s1_t * s1_t / n_t
    ssw = F.sum("ssw_u") / 1e6
    return terms.groupBy("event_type").agg(
        n_t.cast("bigint").alias("n"),
        (F.floor(sst / n_t * 1_000_000) / 1_000_000).alias("var_total"),
        (F.floor(ssw / n_t * 1_000_000) / 1_000_000).alias("var_resid"),
        F.greatest(
            F.lit(0.0), F.floor((1 - ssw / sst) * 10_000) / 10_000
        ).alias("seasonal_strength"),
    )


_MARKOV_ORACLE = """
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    c AS (
      SELECT cur, nxt, COUNT(*) AS n FROM seq
      WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, CAST(n AS BIGINT) AS n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY cur) AS DOUBLE), 6)
             AS p_transition
    FROM c
"""


@register("agg_markov_transitions", oracle=_MARKOV_ORACLE)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types over user
    journeys: P(next type | current type) from consecutive event pairs
    within each user's timeline — the user-flow model behind funnel
    design ("what actually follows a view?"), next-action prediction
    baselines, and journey anomaly screens (a transition whose
    probability collapses release-over-release is a broken UI path).

    Scale shape: one lead() on the shared user_id shuffle produces the
    pair stream; counts reduce map-side-combinably onto the TYPE x TYPE
    domain (bounded at |types|^2 rows at any corpus size), and the row
    normalization is a window over that bounded frame. Determinism:
    exact integer counts, one identical division per cell."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("cur")
    return c.select(
        "cur",
        "nxt",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("n") / F.sum("n").over(wrow).cast("double"), 6
        ).alias("p_transition"),
    )


#: Categorical-drift split point (the CUPED fixture convention): the
#: event-type MIX before vs after this date is the monitored pair.
DRIFT_SPLIT = "2024-01-16"

_CATEGORY_DRIFT_ORACLE = f"""
    WITH c AS (
      SELECT event_type,
             SUM(CASE WHEN ts <  TIMESTAMP '{DRIFT_SPLIT}' THEN 1 ELSE 0 END)
               AS na,
             SUM(CASE WHEN ts >= TIMESTAMP '{DRIFT_SPLIT}' THEN 1 ELSE 0 END)
               AS nb
      FROM events GROUP BY event_type
    ),
    s AS (
      SELECT event_type, na, nb,
             SUM(na) OVER () AS ta, SUM(nb) OVER () AS tb
      FROM c
    )
    SELECT event_type,
           CAST(na AS BIGINT) AS n_before, CAST(nb AS BIGINT) AS n_after,
           ROUND(na / CAST(ta AS DOUBLE), 6) AS share_before,
           ROUND(nb / CAST(tb AS DOUBLE), 6) AS share_after,
           ROUND(SUM(abs(na / CAST(ta AS DOUBLE) - nb / CAST(tb AS DOUBLE)))
                   OVER () / 2, 6) AS tv_distance,
           SUM(abs(na / CAST(ta AS DOUBLE) - nb / CAST(tb AS DOUBLE)))
             OVER () / 2 > 0.05 AS drift_detected
    FROM s
"""


@register("agg_category_drift", oracle=_CATEGORY_DRIFT_ORACLE)
def agg_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-mix drift monitor: the event-type distribution
    before vs after the split date, scored by TOTAL-VARIATION distance
    (half the L1 gap between the two share vectors — the fraction of
    probability mass that moved) with a 5% alert line. The categorical
    sibling of text_source_drift's numeric KS test: release gates and
    feature-distribution monitors run exactly this pair.

    Scale shape: ONE conditional-count aggregate bounds everything at
    the event-type domain; shares and the TV fold are windows over
    that bounded frame. Determinism: counts exact; every share is one
    identical division; the TV sum folds <= |types| identical doubles
    (and is displayed rounded; the flag compares the same unrounded
    value in both engines)."""
    t = load(spark, sf_dir)
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    c = t.events.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("nb"),
    )
    w = Window.partitionBy()
    pa = F.col("na") / F.sum("na").over(w).cast("double")
    pb = F.col("nb") / F.sum("nb").over(w).cast("double")
    s = c.select("event_type", "na", "nb", pa.alias("pa"), pb.alias("pb"))
    tv = F.sum(F.abs(F.col("pa") - F.col("pb"))).over(w) / 2
    return s.select(
        "event_type",
        F.col("na").cast("bigint").alias("n_before"),
        F.col("nb").cast("bigint").alias("n_after"),
        F.round("pa", 6).alias("share_before"),
        F.round("pb", 6).alias("share_after"),
        F.round(tv, 6).alias("tv_distance"),
        (tv > 0.05).alias("drift_detected"),
    )


#: Hill estimator tail: order statistics above the exact p99 of order
#: totals (k is then data-determined, not a magic constant).
HILL_TAIL_P = 0.99

_HILL_ORACLE = f"""
    WITH cut AS (
      SELECT quantile_cont(o_totalprice, {HILL_TAIL_P}) AS xk
      FROM orders
    ),
    tail AS (
      SELECT CAST(ROUND(ln(o.o_totalprice / c.xk) * 1000000) AS BIGINT) AS lr
      FROM orders o, cut c WHERE o.o_totalprice > c.xk
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
           ROUND((SELECT xk FROM cut), 2) AS tail_cutoff,
           floor(1e6 * COUNT(*) / CAST(SUM(lr) AS DOUBLE) * 10000) / 10000
             AS hill_alpha,
           1e6 * COUNT(*) / CAST(SUM(lr) AS DOUBLE) <= 2
             AS infinite_variance
    FROM tail
"""


@register("agg_hill_tail_index", oracle=_HILL_ORACLE)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the revenue tail index: alpha =
    1 / mean(ln(x_i / x_k)) over order totals above the exact p99 —
    the heavy-tail diagnostic that says WHICH guard the metric needs
    (alpha <= 2 = infinite variance, t-tests and means are meaningless,
    reach for agg_winsorized_mean / quantiles; alpha > 4 = tame).
    Pairs with agg_gini/q_revenue_deciles: they describe concentration,
    this classifies the distribution family generating it.

    Scale shape: the cutoff is a 1-row exact-percentile frame broadcast
    back (approx_percentile at 100 TB); the tail scan keeps ~1% of
    rows; the estimate is one combinable aggregate. Determinism: each
    log-ratio runs on identical doubles (the cutoff is bit-identical
    cross-engine, the agg_mutual_info log precedent) and quantizes to
    integer MICRO-units before the sum, so the tail mean is exact
    integer arithmetic; output floor-scaled, verdict on the unfloored
    value in both engines."""
    t = load(spark, sf_dir)
    cut = t.orders.agg(
        F.percentile("o_totalprice", F.lit(HILL_TAIL_P)).alias("xk")
    )
    tail = (
        t.orders.select("o_totalprice")
        .crossJoin(F.broadcast(cut))
        .where(F.col("o_totalprice") > F.col("xk"))
        .select(
            F.round(F.log(F.col("o_totalprice") / F.col("xk")) * 1_000_000)
            .cast("bigint")
            .alias("lr"),
            "xk",
        )
    )
    alpha = 1e6 * F.count(F.lit(1)) / F.sum("lr").cast("double")
    return tail.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.round(F.max("xk"), 2).alias("tail_cutoff"),
        (F.floor(alpha * 10_000) / 10_000).alias("hill_alpha"),
        (alpha <= 2).alias("infinite_variance"),
    )


#: Expected-shortfall tail probability: CVaR at the 95% level over the
#: day-over-day change in daily revenue.
ES_P = 0.95

_ES_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS rev_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    chg AS (
      SELECT rev_c - lag(rev_c) OVER (ORDER BY day) AS d
      FROM daily
    ),
    cut AS (
      SELECT quantile_cont(-d, {ES_P}) AS var_c FROM chg WHERE d IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND((SELECT var_c FROM cut) / 100.0, 2) AS var_95,
           ROUND(AVG(CASE WHEN -d >= (SELECT var_c FROM cut)
                          THEN -d END) / 100.0, 4) AS cvar_95,
           CAST(SUM(CASE WHEN -d >= (SELECT var_c FROM cut)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tail_days
    FROM chg WHERE d IS NOT NULL
"""


@register("agg_expected_shortfall", oracle=_ES_ORACLE)
def agg_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and expected shortfall (CVaR) of day-over-day
    revenue swings: VaR95 = the loss only 5% of days exceed, CVaR95 =
    the MEAN loss on those worst days — the coherent tail-risk pair
    (Basel/FRTB moved from VaR to ES precisely because the mean-beyond
    is subadditive and sees tail shape; agg_hill_tail_index classifies
    the tail family, this prices it). "Loss" = negative day-over-day
    revenue change.

    Scale shape: the fact stream reduces to one exact-integer-cents
    row per DAY (combinable), so the change series, the exact VaR
    percentile, and the tail mean all run on a calendar-bounded frame
    (SINGLE_PARTITION_OK at any corpus size). Determinism: changes are
    exact integers; the percentile interpolates bit-identically; the
    tail mean divides exact integer sums."""
    t = load(spark, sf_dir)
    daily = (
        t.events.where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("rev_c"))
    )
    w = Window.orderBy("day")
    chg = daily.select(
        (F.col("rev_c") - F.lag("rev_c").over(w)).alias("d")
    ).where(F.col("d").isNotNull())
    cut = chg.agg(F.percentile(-F.col("d"), F.lit(ES_P)).alias("var_c"))
    tail = -F.col("d") >= F.col("var_c")
    return chg.crossJoin(F.broadcast(cut)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max("var_c") / 100.0, 2).alias("var_95"),
        F.round(
            F.avg(F.when(tail, -F.col("d"))) / 100.0, 4
        ).alias("cvar_95"),
        F.sum(tail.cast("long")).cast("bigint").alias("n_tail_days"),
    )


#: SPRT design: H0 conversion p0 vs H1 = p0 * (1 + SPRT_MDE) minimum
#: detectable lift, alpha = beta = 0.05 -> log boundaries ln(19).
SPRT_P0 = 0.30
SPRT_MDE = 0.20
SPRT_BOUND = 2.9444  # ln((1-0.05)/0.05), 4-dp literal both engines

_SPRT_ORACLE = f"""
    WITH assigned AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events
      WHERE instr('01234567',
                  substr(md5('srm:' || CAST(user_id AS VARCHAR)), 1, 1)) > 0
      GROUP BY 1, 2
    ),
    daily AS (
      SELECT day, COUNT(*) AS n, SUM(converted) AS x FROM assigned GROUP BY day
    ),
    llr AS (
      SELECT day, n, x,
             CAST(ROUND((x * ln({SPRT_P0 * (1 + SPRT_MDE)} / {SPRT_P0})
                   + (n - x) * ln((1 - {SPRT_P0 * (1 + SPRT_MDE)})
                                  / (1 - {SPRT_P0}))) * 1000000) AS BIGINT)
               AS llr_u
      FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
           CAST(SUM(x) OVER w AS BIGINT) AS cum_conversions,
           floor(SUM(llr_u) OVER w / 1e6 * 10000) / 10000 AS cum_llr,
           CASE WHEN SUM(llr_u) OVER w / 1e6 >= {SPRT_BOUND}
                  THEN 'accept_h1'
                WHEN SUM(llr_u) OVER w / 1e6 <= -{SPRT_BOUND}
                  THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr
    WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
"""


@register("agg_sprt_monitor", oracle=_SPRT_ORACLE)
def agg_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test monitor (Wald's SPRT — the
    always-valid peeking alternative to fixed-horizon agg_t_test):
    the treatment arm's daily conversion outcomes accumulate a
    log-likelihood ratio of H1 (p = p0(1+{SPRT_MDE})) against
    H0 (p = {SPRT_P0}); the cumulative walk crossing +/-ln(19) decides
    at 5%/5% error rates, else 'continue'. This is the dashboard an
    experiment owner may legally watch daily — fixed-horizon tests are
    invalidated by exactly that peeking. Arm assignment reuses
    agg_srm_check's md5-nibble hash, closing the suite:
    SRM -> power -> SPRT (or t-test) -> CUPED.

    Scale/determinism: one user-day conditional aggregate (combinable)
    -> one DAY-domain frame; each day's LLR increment is counts times
    two literal-argument logs, quantized to integer micro-units so the
    cumulative walk is an exact integer prefix sum; decisions compare
    identically computed values to a 4-dp literal boundary."""
    t = load(spark, sf_dir)
    nibble = F.substring(
        F.md5(
            F.concat(F.lit("srm:"), F.col("user_id").cast("string")).cast(
                "binary"
            )
        ),
        1,
        1,
    )
    assigned = (
        t.events.where(F.instr(F.lit("01234567"), nibble) > 0)
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            "user_id",
        )
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
    )
    daily = assigned.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    import math

    p1 = SPRT_P0 * (1 + SPRT_MDE)
    win = math.log(p1 / SPRT_P0)
    lose = math.log((1 - p1) / (1 - SPRT_P0))
    llr_u = F.round(
        (F.col("x") * win + (F.col("n") - F.col("x")) * lose) * 1_000_000
    ).cast("bigint")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    llr = daily.select("day", "n", "x", llr_u.alias("llr_u"))
    cum = F.sum("llr_u").over(w) / 1e6
    return llr.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("x").over(w).cast("bigint").alias("cum_conversions"),
        (F.floor(cum * 10_000) / 10_000).alias("cum_llr"),
        F.when(cum >= SPRT_BOUND, "accept_h1")
        .when(cum <= -SPRT_BOUND, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


#: Calibration fixture: a deterministic pseudo-score (logistic of the
#: event value) stands in for a model's predicted purchase
#: probability; production swaps in a real score column unchanged.
CALIB_BUCKETS = 10

_CALIB_ORACLE = f"""
    WITH scored AS (
      SELECT CAST(event_type = 'purchase' AS INTEGER) AS y,
             CAST(floor(LEAST(1 / (1 + exp(-(value - 50) / 20.0)),
                              0.9999999) * {CALIB_BUCKETS}) AS BIGINT)
               AS bucket,
             CAST(ROUND(1 / (1 + exp(-(value - 50) / 20.0)) * 1000000)
                  AS BIGINT) AS p_u
      FROM events
    ),
    b AS (
      SELECT bucket, COUNT(*) AS n, SUM(y) AS pos, SUM(p_u) AS sp
      FROM scored GROUP BY bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n AS BIGINT) AS n,
           ROUND(sp / 1e6 / n, 6) AS mean_predicted,
           ROUND(pos / CAST(n AS DOUBLE), 6) AS actual_rate,
           ROUND(SUM(n * abs(sp / 1e6 / n - pos / CAST(n AS DOUBLE)))
                   OVER () / SUM(n) OVER (), 6) AS ece
    FROM b
"""


@register("agg_calibration_ece", oracle=_CALIB_ORACLE)
def agg_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration report (reliability diagram + expected
    calibration error): predicted purchase probabilities bucketed into
    {CALIB_BUCKETS} bins, each bin's mean prediction vs actual outcome
    rate, and ECE = the n-weighted mean absolute gap — the standard
    check that a scoring model's probabilities MEAN what they say
    before anyone thresholds them (quality filters, routing gates, and
    ad ranking all assume calibrated scores). The score here is a
    deterministic logistic of the event value; a real model column
    drops in unchanged.

    Scale/determinism: one combinable aggregate onto the BUCKET domain;
    predictions quantize to integer micro-units so bin sums are exact;
    the logistic's exp runs on identical doubles (agg_mutual_info
    precedent); ECE is a window fold over the bounded bin frame."""
    t = load(spark, sf_dir)
    p = 1 / (1 + F.exp(-(F.col("value") - 50) / 20.0))
    scored = t.events.select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        F.floor(F.least(p, F.lit(0.9999999)) * CALIB_BUCKETS)
        .cast("bigint")
        .alias("bucket"),
        F.round(p * 1_000_000).cast("bigint").alias("p_u"),
    )
    b = scored.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("pos"),
        F.sum("p_u").alias("sp"),
    )
    w = Window.partitionBy()
    mean_pred = F.col("sp") / 1e6 / F.col("n")
    rate = F.col("pos") / F.col("n").cast("double")
    ece = F.sum(F.col("n") * F.abs(mean_pred - rate)).over(w) / F.sum("n").over(w)
    return b.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("n").cast("bigint").alias("n"),
        F.round(mean_pred, 6).alias("mean_predicted"),
        F.round(rate, 6).alias("actual_rate"),
        F.round(ece, 6).alias("ece"),
    )


#: Euler-Mascheroni and pi as shared literals (no engine constants).
EULER_GAMMA = 0.5772156649
PI_LIT = 3.14159265358979
GUMBEL_RETURN_BLOCKS = 100

_GUMBEL_ORACLE = f"""
    WITH maxima AS (
      SELECT CAST(ts AS DATE) AS day,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS mx
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(mx) AS DOUBLE) AS s1,
             CAST(SUM(mx * mx) AS DOUBLE) AS s2
      FROM maxima
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           floor((s1 / n) / 100 * 10000) / 10000 AS block_max_mean,
           floor(sqrt((s2 - s1 * (s1 / n)) / (n - 1)) * sqrt(6)
                 / {PI_LIT} / 100 * 10000) / 10000 AS gumbel_beta,
           floor((s1 / n - {EULER_GAMMA} * sqrt((s2 - s1 * (s1 / n))
                   / (n - 1)) * sqrt(6) / {PI_LIT}) / 100 * 10000) / 10000
             AS gumbel_mu,
           floor(((s1 / n - {EULER_GAMMA} * sqrt((s2 - s1 * (s1 / n))
                    / (n - 1)) * sqrt(6) / {PI_LIT})
                  - sqrt((s2 - s1 * (s1 / n)) / (n - 1)) * sqrt(6)
                    / {PI_LIT}
                    * ln(-ln(1 - 1.0 / {GUMBEL_RETURN_BLOCKS})))
                 / 100 * 10000) / 10000 AS return_level_100
    FROM s
"""


@register("agg_gumbel_maxima", oracle=_GUMBEL_ORACLE)
def agg_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis by block maxima (Gumbel fit via the
    method of moments): daily maxima of the event value fit a Gumbel
    (beta = s * sqrt(6)/pi, mu = mean - gamma * beta), emitting the
    {GUMBEL_RETURN_BLOCKS}-block RETURN LEVEL — "the value exceeded
    once per {GUMBEL_RETURN_BLOCKS} days", the capacity-planning /
    SLO-sizing number that tail quantiles of the RAW distribution
    cannot give (maxima of many draws follow EVT, not the parent
    distribution; pairs with agg_hill_tail_index which studies the
    parent's tail directly).

    Scale/determinism: block maxima are exact integer CENTS from one
    combinable (day, max) aggregate; moments come from exact integer
    sums over the calendar-bounded block frame; gamma/pi are shared
    4-dp-plus literals, sqrt/ln run on identical doubles; outputs
    floor-scaled."""
    t = load(spark, sf_dir)
    maxima = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.max(F.round(F.col("value") * 100).cast("bigint")).alias("mx")
    )
    s = maxima.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").cast("double").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("double").alias("s2"),
    )
    n = F.col("n")
    mean = F.col("s1") / n
    sd = F.sqrt((F.col("s2") - F.col("s1") * mean) / (n - 1))
    beta = sd * F.sqrt(F.lit(6.0)) / PI_LIT
    mu = mean - EULER_GAMMA * beta
    ret = mu - beta * F.log(
        -F.log(F.lit(1 - 1.0 / GUMBEL_RETURN_BLOCKS))
    )
    fs = lambda c: F.floor(c / 100 * 10_000) / 10_000  # noqa: E731
    return s.select(
        n.cast("bigint").alias("n_blocks"),
        fs(mean).alias("block_max_mean"),
        fs(beta).alias("gumbel_beta"),
        fs(mu).alias("gumbel_mu"),
        fs(ret).alias("return_level_100"),
    )


#: Mann-Kendall 5% two-sided z critical value, shared literal.
MK_Z_CRIT = 1.96

_MK_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS rev_c
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.rev_c > a.rev_c THEN 1
                  WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    s AS (
      SELECT SUM(sgn) AS mk_s,
             (SELECT COUNT(*) FROM daily) AS n
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(mk_s AS BIGINT) AS mk_s,
           floor((CASE WHEN mk_s > 0 THEN mk_s - 1
                       WHEN mk_s < 0 THEN mk_s + 1 ELSE 0 END)
                 / sqrt(n * (n - 1) * (2 * n + 5) / 18.0) * 10000) / 10000
             AS mk_z,
           abs((CASE WHEN mk_s > 0 THEN mk_s - 1
                     WHEN mk_s < 0 THEN mk_s + 1 ELSE 0 END)
               / sqrt(n * (n - 1) * (2 * n + 5) / 18.0)) > {MK_Z_CRIT}
             AS trend_detected
    FROM s
"""


@register("agg_mann_kendall", oracle=_MK_ORACLE)
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily revenue: S = the sum of signs
    over ALL day pairs, z-scored with the no-ties variance
    n(n-1)(2n+5)/18 and the continuity correction — the standard
    non-parametric "is this series trending at all" verdict
    (hydrology/monitoring's default). Completes the robust-trend pair:
    win_theil_sen ESTIMATES the slope, this TESTS its existence —
    neither assumes normality or linearity.

    Scale/determinism: the facts reduce to one exact-integer-cents row
    per DAY, so the O(days^2) pair join is over the CALENDAR-bounded
    frame (a month = ~465 pairs; even a decade is ~6.7M — never the
    fact table); S is an exact integer sum of -1/0/+1, the z identical
    arithmetic, verdict on the unfloored value in both engines."""
    t = load(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("rev_c")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(b, F.col("b.day") > F.col("a.day")).select(
        F.when(F.col("b.rev_c") > F.col("a.rev_c"), 1)
        .when(F.col("b.rev_c") < F.col("a.rev_c"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    n_days = daily.count()  # bounded scalar: calendar days, never rows
    s = pairs.agg(F.sum("sgn").alias("mk_s"))
    n = F.lit(n_days)
    corrected = (
        F.when(F.col("mk_s") > 0, F.col("mk_s") - 1)
        .when(F.col("mk_s") < 0, F.col("mk_s") + 1)
        .otherwise(0)
    )
    z = corrected / F.sqrt(n * (n - 1) * (2 * n + 5) / 18.0)
    return s.select(
        n.cast("bigint").alias("n_days"),
        F.col("mk_s").cast("bigint").alias("mk_s"),
        (F.floor(z * 10_000) / 10_000).alias("mk_z"),
        (F.abs(z) > MK_Z_CRIT).alias("trend_detected"),
    )


_OVERDISP_ORACLE = """
    WITH counts AS (
      SELECT event_type, user_id, COUNT(*) AS c
      FROM events GROUP BY event_type, user_id
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(c) AS s1, SUM(c * c) AS s2
      FROM counts GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_users,
           ROUND(s1 / CAST(n AS DOUBLE), 4) AS mean_count,
           ROUND((s2 - s1 * (s1 / CAST(n AS DOUBLE))) / (n - 1), 4)
             AS var_count,
           floor((s2 - s1 * (s1 / CAST(n AS DOUBLE))) / (n - 1)
                 / (s1 / CAST(n AS DOUBLE)) * 10000) / 10000
             AS dispersion_ratio,
           (s2 - s1 * (s1 / CAST(n AS DOUBLE))) / (n - 1)
             / (s1 / CAST(n AS DOUBLE)) > 1.5 AS overdispersed
    FROM s
"""


@register("agg_overdispersion", oracle=_OVERDISP_ORACLE)
def agg_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion diagnostic per event type: the variance-to-mean
    ratio of per-user event counts — THE one-number check that decides
    whether count data is Poisson-like (ratio ~ 1: Poisson models, CIs
    and rate tests apply) or clumped (ratio >> 1: negative-binomial /
    user-heterogeneity territory, and every Poisson-based CI is too
    narrow). Analysts fit count models on exactly this table's verdict;
    pairs with agg_power_analysis, whose sample sizes silently assume
    the dispersion this measures.

    Scale shape: one (type, user) combinable count, then a per-type
    moment fold — counts are exact integers so every sum is exact and
    order-free; the ratio is identical arithmetic both engines,
    floor-scaled with the verdict on the unfloored value."""
    t = load(spark, sf_dir)
    counts = t.events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    s = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    n = F.col("n")
    mean = F.col("s1") / n.cast("double")
    var = (F.col("s2") - F.col("s1") * mean) / (n - 1)
    ratio = var / mean
    return s.select(
        "event_type",
        n.cast("bigint").alias("n_users"),
        F.round(mean, 4).alias("mean_count"),
        F.round(var, 4).alias("var_count"),
        (F.floor(ratio * 10_000) / 10_000).alias("dispersion_ratio"),
        (ratio > 1.5).alias("overdispersed"),
    )


#: Stationary-distribution iteration budget and mass scale (the
#: graph_pagerank exact-integer doctrine on the TYPE domain).
MARKOV_POWER_ITERS = 3
MARKOV_MASS = 1_000_000_000_000


def _markov_step_sql(prev: str, out: str) -> str:
    """One distribution-times-matrix step: mass flows along observed
    transition counts by integer floor division."""
    return f"""
    {out} AS (
      SELECT t.nxt AS state,
             CAST(SUM((p.mass * t.n) // rt.tot) AS BIGINT) AS mass
      FROM trans t
      JOIN {prev} p ON p.state = t.cur
      JOIN row_tot rt ON rt.cur = t.cur
      GROUP BY t.nxt
    )
"""


_MARKOV_STAT_ORACLE = (
    f"""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    trans AS (
      SELECT cur, nxt, COUNT(*) AS n FROM seq
      WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    row_tot AS (SELECT cur, SUM(n) AS tot FROM trans GROUP BY cur),
    states AS (SELECT DISTINCT cur AS state FROM trans),
    d0 AS (
      SELECT state,
             CAST({MARKOV_MASS} // (SELECT COUNT(*) FROM states) AS BIGINT)
               AS mass
      FROM states
    ),"""
    + ",".join(
        _markov_step_sql(f"d{k}", f"d{k + 1}")
        for k in range(MARKOV_POWER_ITERS)
    )
    + f"""
    SELECT state, mass AS mass_units,
           ROUND(mass / CAST((SELECT SUM(mass) FROM d{MARKOV_POWER_ITERS}) AS DOUBLE), 6)
             AS stationary_share
    FROM d{MARKOV_POWER_ITERS}
"""
)


@register("agg_markov_stationary", oracle=_MARKOV_STAT_ORACLE)
def agg_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain
    ({MARKOV_POWER_ITERS} unrolled power-iteration steps from uniform):
    where user attention settles if the observed transition dynamics
    run forward — the long-run state mix that a funnel redesign shifts,
    and the equilibrium companion of agg_markov_transitions' one-step
    matrix (transitions say where you go NEXT; this says where you
    LIVE). Fixed iteration count, graph_pagerank's exact-BIGINT
    micro-unit doctrine on the TYPE-domain matrix — the entire chain
    state is |types| rows, so each step is arithmetic on a broadcast-
    sized frame however large the fact table.

    Determinism: transition counts exact; mass flows by integer
    multiply/floor-divide, so both engines hold IDENTICAL distributions
    every step; the final share is one exact division."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n")).persist()
    row_tot = trans.groupBy("cur").agg(F.sum("n").alias("tot"))
    states = trans.select(F.col("cur").alias("state")).distinct()
    n_states = states.count()  # bounded scalar: |event types|
    dist = states.select(
        "state", F.lit(MARKOV_MASS // n_states).cast("long").alias("mass")
    )
    for _ in range(MARKOV_POWER_ITERS):
        dist = (
            trans.join(dist, trans.cur == dist.state)
            .join(row_tot, "cur")
            .select(
                F.col("nxt").alias("state"),
                F.expr("(mass * n) div tot").alias("flow"),
            )
            .groupBy("state")
            .agg(F.sum("flow").cast("long").alias("mass"))
        )
    w_all = Window.partitionBy()
    return dist.select(
        "state",
        F.col("mass").cast("bigint").alias("mass_units"),
        F.round(
            F.col("mass") / F.sum("mass").over(w_all).cast("double"), 6
        ).alias("stationary_share"),
    )


from .aggregates import MOMENTS_SHIFT  # noqa: E402  (shared conditioning shift)

_JB_ORACLE = f"""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(l_extendedprice - {{shift}})             AS s1,
             SUM(POWER(l_extendedprice - {{shift}}, 2))   AS s2,
             SUM(POWER(l_extendedprice - {{shift}}, 3))   AS s3,
             SUM(POWER(l_extendedprice - {{shift}}, 4))   AS s4
      FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
      SELECT l_returnflag, n,
             s1 / n AS m1,
             s2 / n - POWER(s1 / n, 2) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * POWER(s1 / n, 3) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * POWER(s1 / n, 2) * (s2 / n)
                    - 3 * POWER(s1 / n, 4) AS m4
      FROM s
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND(m3 / POWER(m2, 1.5), 4) AS skewness,
           ROUND(m4 / POWER(m2, 2) - 3, 4) AS excess_kurtosis,
           ROUND(n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                 + POWER(m4 / POWER(m2, 2) - 3, 2) / 4.0), 2) AS jb_stat,
           n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                 + POWER(m4 / POWER(m2, 2) - 3, 2) / 4.0) <= 5.9915
             AS looks_normal
    FROM m
"""


@register(
    "agg_jarque_bera",
    oracle=_JB_ORACLE.replace("{shift}", str(MOMENTS_SHIFT)),
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per return flag: JB = n/6 * (S^2 +
    K^2/4) from the same shifted single-pass power sums as agg_moments,
    judged against the chi-squared(2) 5% critical value 5.9915 — the
    assumption gate in front of every z/t-based monitor in this engine
    (agg_t_test, win_zscore_anomaly, win_bollinger assume roughly
    normal inputs; JB is the cheap screen that says when they lie).
    Price data is right-skewed, so the expected verdict here is NOT
    normal — the test failing on real revenue is the point.

    Scale/determinism: one combinable aggregate (4 power sums per
    group, agg_moments' MOMENTS_SHIFT conditioning trick), arithmetic
    on the group-domain frame; rounded at 4/2 dp like agg_moments."""
    t = load(spark, sf_dir)
    x = F.col("l_extendedprice") - MOMENTS_SHIFT
    s = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(F.pow(x, 2)).alias("s2"),
        F.sum(F.pow(x, 3)).alias("s3"),
        F.sum(F.pow(x, 4)).alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - F.pow(m1, 2)
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * m1 * (F.col("s2") / F.col("n"))
        + 2 * F.pow(m1, 3)
    )
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m1 * (F.col("s3") / F.col("n"))
        + 6 * F.pow(m1, 2) * (F.col("s2") / F.col("n"))
        - 3 * F.pow(m1, 4)
    )
    skew = m3 / F.pow(m2, 1.5)
    exk = m4 / F.pow(m2, 2) - 3
    jb = F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(exk, 2) / 4.0)
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.round(skew, 4).alias("skewness"),
        F.round(exk, 4).alias("excess_kurtosis"),
        F.round(jb, 2).alias("jb_stat"),
        (jb <= 5.9915).alias("looks_normal"),
    )


# (r12: the former LEVENE_F_CRIT_4_INF = 2.3719 hard-wired dof1=4; the
# verdict now keys F_CRIT_INF_BY_DOF1 on the observed k-1 and nulls
# when untabled — the agg_anova_oneway convention, same sweep fix as
# agg_welch_anova and agg_kruskal_wallis.)

_LEVENE_ORACLE = f"""
    WITH ev AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(cents * 1.0, 0.5) AS med
      FROM ev GROUP BY event_type
    ),
    z AS (
      SELECT ev.event_type, abs(cents - med) AS z
      FROM ev JOIN med USING (event_type)
    ),
    g AS (
      SELECT event_type, COUNT(*) AS nj, SUM(z) AS sz, SUM(z * z) AS szz
      FROM z GROUP BY event_type
    ),
    tot AS (
      SELECT SUM(nj) AS n, COUNT(*) AS k, SUM(sz) AS s_all FROM g
    ),
    parts AS (
      SELECT (SELECT SUM(nj * POWER(sz / nj - s_all / n, 2))
              FROM g, tot) AS ssb,
             (SELECT SUM(szz - sz * sz / CAST(nj AS DOUBLE)) FROM g) AS ssw,
             n, k
      FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS k,
           ROUND((n - k) / (k - 1.0) * ssb / ssw, 4) AS w_stat,
           (n - k) / (k - 1.0) * ssb / ssw
             > (CASE k - 1 {" ".join(
                 f"WHEN {d} THEN {c}"
                 for d, c in F_CRIT_INF_BY_DOF1.items()
             )} END) AS variances_differ
    FROM parts
"""


@register("agg_levene_test", oracle=_LEVENE_ORACLE)
def agg_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe homogeneity-of-variance test across the event-type
    arms (Levene's test with the MEDIAN center — the robust form):
    W = ((N-k)/(k-1)) * SSB(z)/SSW(z) over z = |x - median_group|,
    vs F(k-1, inf) at 5%. THE assumption check in front of
    agg_anova_oneway (pooled-variance ANOVA is anticonservative under
    heteroscedasticity) — ANOVA's own docstring assumes it; now it is
    executable.

    Scale/determinism: medians are exact .0/.5 values on the integer
    CENTS lattice per group (interpolated percentile; approx_percentile
    at 100 TB); z is an exact half-integer per row (< 2^53, so the
    doubles are exact), making every SUM (z, z^2, counts) an order-free
    exact fold; W is one identical double expression over the k-row
    group frame."""
    t = load(spark, sf_dir)
    ev = t.events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # interpolated median (Spark percentile == DuckDB quantile_cont
    # bit-identically — the agg_winsorized_mean precedent); on the
    # integer cents lattice it is an exact .0/.5 double, so |x - med|
    # and its square stay exact in both engines.
    med = ev.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    tot = g.agg(
        F.sum("nj").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sz").alias("s_all"),
    )
    parts = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("nj")
            * F.pow(
                F.col("sz") / F.col("nj") - F.col("s_all") / F.col("n"), 2
            )
        ).alias("ssb"),
        F.sum(
            F.col("szz") - F.col("sz") * F.col("sz") / F.col("nj").cast("double")
        ).alias("ssw"),
        F.max("n").alias("n"),
        F.max("k").alias("k"),
    )
    w = (F.col("n") - F.col("k")) / (F.col("k") - 1.0) * F.col("ssb") / F.col("ssw")
    # r12 sweep fix: crit keyed on the observed k-1 (null when
    # untabled), not the hard-wired dof1=4 literal — the agg_welch_anova
    # / agg_anova_oneway convention.
    crit = F.lit(None).cast("double")
    for d, c in F_CRIT_INF_BY_DOF1.items():
        crit = F.when(F.col("k") - 1 == d, F.lit(c)).otherwise(crit)
    return parts.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(w, 4).alias("w_stat"),
        (w > crit).alias("variances_differ"),
    )


#: Cohen's conventional effect-size benchmarks (small/medium/large).
COHEN_BENCH = ((0.8, "large"), (0.5, "medium"), (0.2, "small"))

_COHENS_D_ORACLE = """
    WITH g AS (
      SELECT event_type, COUNT(*) AS n, AVG(value) AS m, VAR_SAMP(value) AS v
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY event_type
    ),
    p AS (
      SELECT
        (SELECT n FROM g WHERE event_type = 'purchase') AS na,
        (SELECT m FROM g WHERE event_type = 'purchase') AS ma,
        (SELECT v FROM g WHERE event_type = 'purchase') AS va,
        (SELECT n FROM g WHERE event_type = 'click') AS nb,
        (SELECT m FROM g WHERE event_type = 'click') AS mb,
        (SELECT v FROM g WHERE event_type = 'click') AS vb
    ),
    d AS (
      SELECT na, nb, ma, mb,
             (ma - mb) / sqrt(((na - 1) * va + (nb - 1) * vb)
                              / (na + nb - 2.0)) AS d
      FROM p
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(ma, 4) AS mean_a, ROUND(mb, 4) AS mean_b,
           ROUND(d, 4) AS cohens_d,
           CASE WHEN abs(d) >= 0.8 THEN 'large'
                WHEN abs(d) >= 0.5 THEN 'medium'
                WHEN abs(d) >= 0.2 THEN 'small'
                ELSE 'negligible' END AS magnitude
    FROM d
"""


@register("agg_cohens_d", oracle=_COHENS_D_ORACLE)
def agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between the purchase and click value arms —
    the number agg_t_test's significance verdict does NOT give you: at
    fact-table sample sizes everything is "significant", and d (pooled
    standard-deviation units) is what says whether the difference
    MATTERS (0.2/0.5/0.8 = small/medium/large). agg_power_analysis
    consumes exactly this quantity as its input assumption; now the
    observed value is an operator.

    Scale/determinism: same combinable (n, mean, var) arm summaries as
    agg_t_test (one scan, 2-row frame); d is one identical double
    expression; the magnitude label is a threshold CASE on the same
    rounded lattice both engines compute."""
    t = load(spark, sf_dir)
    g = (
        t.events.where(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    a = g.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("na"), F.col("m").alias("ma"), F.col("v").alias("va")
    )
    b = g.where(F.col("event_type") == "click").select(
        F.col("n").alias("nb"), F.col("m").alias("mb"), F.col("v").alias("vb")
    )
    pooled = F.sqrt(
        ((F.col("na") - 1) * F.col("va") + (F.col("nb") - 1) * F.col("vb"))
        / (F.col("na") + F.col("nb") - 2.0)
    )
    d = (F.col("ma") - F.col("mb")) / pooled
    return a.crossJoin(b).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round("ma", 4).alias("mean_a"),
        F.round("mb", 4).alias("mean_b"),
        F.round(d, 4).alias("cohens_d"),
        F.when(F.abs(d) >= 0.8, "large")
        .when(F.abs(d) >= 0.5, "medium")
        .when(F.abs(d) >= 0.2, "small")
        .otherwise("negligible")
        .alias("magnitude"),
    )


_THEIL_ORACLE = """
    WITH ev AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE value > 0
    ),
    dom AS (
      SELECT event_type, cents, COUNT(*) AS c
      FROM ev GROUP BY event_type, cents
    ),
    mu AS (
      SELECT event_type, SUM(c * cents) AS s, SUM(c) AS n
      FROM dom GROUP BY event_type
    ),
    cells AS (
      SELECT d.event_type, d.c,
             CAST(floor(d.c * (d.cents / (s / CAST(n AS DOUBLE)))
                        * ln(d.cents / (s / CAST(n AS DOUBLE)))
                        * 1000000) AS BIGINT) AS t_units
      FROM dom d JOIN mu USING (event_type)
    )
    SELECT c.event_type,
           CAST(m.n AS BIGINT) AS n,
           ROUND(m.s / CAST(m.n AS DOUBLE) / 100.0, 4) AS mean_value,
           ROUND(SUM(c.t_units) / 1000000.0 / m.n, 6) AS theil_t
    FROM cells c JOIN mu m USING (event_type)
    GROUP BY c.event_type, m.n, m.s
"""


@register("agg_theil_index", oracle=_THEIL_ORACLE)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of event value per type — the
    DECOMPOSABLE inequality measure (unlike agg_gini, Theil splits
    exactly into within-group + between-group terms, which is why
    economists use it to attribute concentration to segments). T =
    (1/n) * sum((x/mu) * ln(x/mu)); 0 = perfectly equal, ln(n) = one
    row holds everything.

    Scale/determinism: rows reduce to the (type, cents)-DOMAIN frame
    (<= 49k cells per type at any fact size — the agg_mann_whitney
    bound); mu = exact integer sums' single division; each cell's
    c*(x/mu)*ln(x/mu) term quantizes to integer MICRO-UNITS before the
    sum, so the only cross-engine doubles are per-cell identical
    expressions, and the fold is an exact integer sum (the stats-module
    lattice doctrine)."""
    t = load(spark, sf_dir)
    dom = (
        t.events.where(F.col("value") > 0)
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mu = dom.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("cents")).alias("s"),
        F.sum("c").alias("n"),
    )
    ratio = F.col("cents") / (F.col("s") / F.col("n").cast("double"))
    cells = dom.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "n",
        "s",
        F.floor(F.col("c") * ratio * F.log(ratio) * 1_000_000)
        .cast("bigint")
        .alias("t_units"),
    )
    return cells.groupBy("event_type", "n", "s").agg(
        F.sum("t_units").alias("tu")
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("s") / F.col("n").cast("double") / 100.0, 4).alias(
            "mean_value"
        ),
        F.round(F.col("tu") / 1_000_000.0 / F.col("n"), 6).alias("theil_t"),
    )


_SPEARMAN_ORACLE = """
    WITH li AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS d
      FROM lineitem
    ),
    mq AS (
      SELECT flag, q,
             2 * COALESCE(SUM(c) OVER (PARTITION BY flag ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2
      FROM (SELECT flag, q, COUNT(*) AS c FROM li GROUP BY flag, q)
    ),
    md AS (
      SELECT flag, d,
             2 * COALESCE(SUM(c) OVER (PARTITION BY flag ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2
      FROM (SELECT flag, d, COUNT(*) AS c FROM li GROUP BY flag, d)
    ),
    joint AS (
      SELECT flag, q, d, COUNT(*) AS c FROM li GROUP BY flag, q, d
    ),
    s AS (
      SELECT j.flag,
             SUM(j.c) AS n,
             SUM(j.c * mq.r2) AS sx,
             SUM(j.c * md.r2) AS sy,
             SUM(j.c * mq.r2 * mq.r2) AS sxx,
             SUM(j.c * md.r2 * md.r2) AS syy,
             SUM(j.c * mq.r2 * md.r2) AS sxy
      FROM joint j
      JOIN mq ON mq.flag = j.flag AND mq.q = j.q
      JOIN md ON md.flag = j.flag AND md.d = j.d
      GROUP BY j.flag
    )
    SELECT flag AS l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6) AS spearman_rho
    FROM s
"""


@register("agg_spearman_corr", oracle=_SPEARMAN_ORACLE)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount per
    return flag — the MONOTONE-association measure (agg_stats_corr's
    Pearson sees only linear relationships and is wrecked by heavy
    tails; rank correlation is the robust default for fact data). Ties
    get textbook AVERAGE ranks.

    The distributed trick: both variables live on tiny DOMAINS
    (quantity 1..50, discount 0..10 cents-of-rate), so average ranks
    come from the cumulative marginal counts over those domain frames —
    rank tables of <= 50/11 rows per flag, never a corpus-scale window.
    DOUBLED average ranks (2*cum_before + c + 1) keep every rank an
    INTEGER, so all six sufficient statistics are exact integer folds
    over the <= 550-cell joint frame; Spark sums them as decimal(38,0)
    (rank products reach ~4n^3, past 2^63 at sf >= 1) matching DuckDB's
    int128, and rho is one identical double expression per flag."""
    t = load(spark, sf_dir)
    li = t.lineitem.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
    )

    def marg(col: str):
        c = li.groupBy("flag", col).agg(F.count(F.lit(1)).alias("c"))
        w = (
            Window.partitionBy("flag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return c.select(
            "flag",
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).alias("r2"),
        )

    joint = li.groupBy("flag", "q", "d").agg(F.count(F.lit(1)).alias("c"))
    dec = "decimal(38,0)"
    s = (
        joint.join(F.broadcast(marg("q")).withColumnRenamed("r2", "rx"), ["flag", "q"])
        .join(F.broadcast(marg("d")).withColumnRenamed("r2", "ry"), ["flag", "d"])
        .groupBy("flag")
        .agg(
            F.sum("c").alias("n"),
            # cast to decimal BEFORE multiplying: the triple products
            # reach ~4n^3 and would overflow LONG mid-expression at
            # sf >= 1 if multiplied first
            F.sum(F.col("c").cast(dec) * F.col("rx")).alias("sx"),
            F.sum(F.col("c").cast(dec) * F.col("ry")).alias("sy"),
            F.sum(F.col("c").cast(dec) * F.col("rx") * F.col("rx")).alias("sxx"),
            F.sum(F.col("c").cast(dec) * F.col("ry") * F.col("ry")).alias("syy"),
            F.sum(F.col("c").cast(dec) * F.col("rx") * F.col("ry")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    rho = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / F.sqrt(
        (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return s.select(
        F.col("flag").alias("l_returnflag"),
        F.col("n").cast("bigint").alias("n"),
        F.round(rho, 6).alias("spearman_rho"),
    )


_KW_ORACLE = f"""
    WITH ev AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    vg AS (
      SELECT cents, COUNT(*) AS c FROM ev GROUP BY cents
    ),
    ranked AS (
      SELECT cents, c,
             2 * COALESCE(SUM(c) OVER (ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2
      FROM vg
    ),
    joint AS (
      SELECT event_type, cents, COUNT(*) AS cj
      FROM ev GROUP BY event_type, cents
    ),
    grp AS (
      SELECT j.event_type, SUM(j.cj) AS nj, SUM(j.cj * r.r2) AS s2
      FROM joint j JOIN ranked r USING (cents)
      GROUP BY j.event_type
    ),
    tot AS (
      SELECT SUM(nj) AS n, COUNT(*) AS k FROM grp
    ),
    ties AS (
      SELECT SUM(CAST(c AS HUGEINT) * c * c - c) AS t3 FROM vg
    ),
    h AS (
      SELECT (12.0 / (n * (n + 1.0)))
             * (SELECT SUM(nj * POWER(s2 / (2.0 * nj) - (n + 1) / 2.0, 2))
                FROM grp, tot)
             / (1.0 - (SELECT t3 FROM ties)
                      / (CAST(n AS DOUBLE) * n * n - n)) AS h_stat,
             n, k
      FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           ROUND(h_stat, 4) AS h_stat,
           h_stat > {{crit}} AS distributions_differ
    FROM h
"""


@register(
    "agg_kruskal_wallis",
    # r12 sweep fix: crit keyed on the observed k-1 (null when
    # untabled), not the hard-wired dof-4 literal.
    oracle=_KW_ORACLE.replace(
        "{crit}",
        "(CASE k - 1 "
        + " ".join(
            f"WHEN {d} THEN {c}" for d, c in CHI2_CRIT_BY_DOF.items()
        )
        + " END)",
    ),
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across ALL event-type arms — the k-group
    generalization of agg_mann_whitney (and the rank-based alternative
    agg_anova_oneway needs when agg_jarque_bera says the values are not
    normal — which for revenue they are not): H from tie-corrected
    average ranks, judged against chi2(k-1) at 5%.

    Scale/determinism: the agg_mann_whitney machinery over the 2-dp
    value DOMAIN (<=49k rank rows at any fact size): DOUBLED average
    ranks keep the rank table integer; per-group rank sums are exact
    integer folds over the (type, cents) joint frame; the tie term
    sums c^3 - c as decimal(38,0) (c^3 passes 2^63 on hot lattice
    points at 100 TB) matching DuckDB's HUGEINT; H is one identical
    double expression on the k-row frame."""
    t = load(spark, sf_dir)
    ev = t.events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    vg = ev.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vg.select(
        "cents",
        "c",
        (2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1).alias(
            "r2"
        ),
    )
    joint = ev.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("cj")
    )
    grp = (
        joint.join(F.broadcast(ranked.select("cents", "r2")), "cents")
        .groupBy("event_type")
        .agg(
            F.sum("cj").alias("nj"),
            F.sum(F.col("cj") * F.col("r2")).alias("s2"),
        )
    )
    tot = grp.agg(F.sum("nj").alias("n"), F.count(F.lit(1)).alias("k"))
    ties = vg.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("t3")
    )
    nd = F.col("n").cast("double")
    ssq = grp.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("nj")
            * F.pow(
                F.col("s2") / (2.0 * F.col("nj")) - (F.col("n") + 1) / 2.0, 2
            )
        ).alias("ss"),
        F.max("n").alias("n"),
        F.max("k").alias("k"),
    )
    h = (
        ssq.crossJoin(F.broadcast(ties)).select(
            "n",
            "k",
            (
                (12.0 / (nd * (nd + 1.0)))
                * F.col("ss")
                / (
                    1.0
                    - F.col("t3").cast("double") / (nd * nd * nd - nd)
                )
            ).alias("h_stat"),
        )
    )
    crit = F.lit(None).cast("double")
    for d, c in CHI2_CRIT_BY_DOF.items():
        crit = F.when(F.col("k") - 1 == d, F.lit(c)).otherwise(crit)
    return h.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round("h_stat", 4).alias("h_stat"),
        (F.col("h_stat") > crit).alias("distributions_differ"),
    )


#: Process-capability spec band for event values, in VALUE units: the
#: [LSL, USL] tolerance a monitoring gate declares for the metric. The
#: synthetic corpus is ~uniform on [0, 490], so capability is expected
#: LOW — Cp/Cpk near 0.3 — which is itself the point: the operator
#: measures, the thresholds judge.
CAPABILITY_LSL = 50.0
CAPABILITY_USL = 450.0

_CAPABILITY_ORACLE = f"""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             AVG(value) AS mu,
             STDDEV_SAMP(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           ROUND(mu, 4) AS mean_value,
           ROUND(sd, 4) AS sd,
           ROUND(({CAPABILITY_USL} - {CAPABILITY_LSL}) / (6 * sd), 4) AS cp,
           ROUND(LEAST(({CAPABILITY_USL} - mu) / (3 * sd),
                       (mu - {CAPABILITY_LSL}) / (3 * sd)), 4) AS cpk,
           LEAST(({CAPABILITY_USL} - mu) / (3 * sd),
                 (mu - {CAPABILITY_LSL}) / (3 * sd)) >= 1.33 AS capable
    FROM g
"""


@register("agg_capability_index", oracle=_CAPABILITY_ORACLE)
def agg_capability_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices Cp and Cpk per event type against the
    [{CAPABILITY_LSL}, {CAPABILITY_USL}] spec band — the quality-
    engineering summary that turns win_spc_rules' point alarms into ONE
    planning number: Cp = spec width / 6 sigma (what the process COULD
    hold if centered), Cpk = distance of the mean to the NEAREST limit
    / 3 sigma (what it holds as-is); >= 1.33 is the classic capable
    threshold. Cp >> Cpk = well-behaved but off-center: re-center, do
    not re-engineer.

    Scale/determinism: one combinable (n, mean, stddev) aggregate per
    group — identical to agg_t_test's arm summaries — and two identical
    double expressions on the group-domain frame."""
    t = load(spark, sf_dir)
    g = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
    )
    cp = (CAPABILITY_USL - CAPABILITY_LSL) / (6 * F.col("sd"))
    cpk = F.least(
        (CAPABILITY_USL - F.col("mu")) / (3 * F.col("sd")),
        (F.col("mu") - CAPABILITY_LSL) / (3 * F.col("sd")),
    )
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("mu", 4).alias("mean_value"),
        F.round("sd", 4).alias("sd"),
        F.round(cp, 4).alias("cp"),
        F.round(cpk, 4).alias("cpk"),
        (cpk >= 1.33).alias("capable"),
    )


_ODDS_ORACLE = """
    WITH flags AS (
      SELECT o.o_orderkey,
             o.o_orderpriority IN ('1-URGENT', '2-HIGH') AS exposed,
             MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) = 1
               AS outcome
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority
    ),
    cells AS (
      SELECT SUM(CASE WHEN exposed AND outcome THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN exposed AND NOT outcome THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN NOT exposed AND outcome THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN NOT exposed AND NOT outcome THEN 1 ELSE 0 END) AS d
      FROM flags
    )
    SELECT CAST(a AS BIGINT) AS n_exposed_outcome,
           CAST(b AS BIGINT) AS n_exposed_clean,
           CAST(c AS BIGINT) AS n_control_outcome,
           CAST(d AS BIGINT) AS n_control_clean,
           ROUND((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)), 4)
             AS odds_ratio,
           ROUND(exp(ln((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)))
                     - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 4)
             AS ci_lo,
           ROUND(exp(ln((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)))
                     + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 4)
             AS ci_hi,
           NOT (exp(ln((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)))
                    - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) <= 1.0
                AND 1.0 <= exp(ln((a * CAST(d AS DOUBLE))
                                  / (b * CAST(c AS DOUBLE)))
                    + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)))
             AS significant
    FROM cells
"""


@register("agg_odds_ratio", oracle=_ODDS_ORACLE)
def agg_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio with the Woolf 95% CI over the 2x2 (high-priority
    exposure x has-returned-line outcome) table — the effect measure
    for BINARY outcomes that agg_cohens_d (continuous) and agg_t_test
    cannot express, and the standard reporting shape of conversion/
    defect-rate comparisons (OR > 1 with a CI excluding 1 = exposure
    associated with outcome). ln-OR is asymptotically normal, so the
    CI is exp(ln OR +/- 1.96 * sqrt(1/a + 1/b + 1/c + 1/d)).

    Scale/determinism: one fact join reduced to ONE order-grain flag
    row per order (combinable MAX), then the 2x2 cells as conditional
    sums — a 1-row frame; OR and CI are identical double expressions
    over four exact integers."""
    t = load(spark, sf_dir)
    flags = (
        t.orders.select("o_orderkey", "o_orderpriority")
        .join(
            t.lineitem.select("l_orderkey", "l_returnflag"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            (
                F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
                == 1
            ).alias("outcome")
        )
        .select(
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .alias("exposed"),
            "outcome",
        )
    )
    cells = flags.agg(
        F.sum(F.when(F.col("exposed") & F.col("outcome"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("exposed") & ~F.col("outcome"), 1).otherwise(0)).alias("b"),
        F.sum(F.when(~F.col("exposed") & F.col("outcome"), 1).otherwise(0)).alias("c"),
        F.sum(F.when(~F.col("exposed") & ~F.col("outcome"), 1).otherwise(0)).alias("d"),
    )
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")
    or_ = (a * d) / (b * c)
    half = 1.96 * F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    lo, hi = F.exp(F.log(or_) - half), F.exp(F.log(or_) + half)
    return cells.select(
        F.col("a").cast("bigint").alias("n_exposed_outcome"),
        F.col("b").cast("bigint").alias("n_exposed_clean"),
        F.col("c").cast("bigint").alias("n_control_outcome"),
        F.col("d").cast("bigint").alias("n_control_clean"),
        F.round(or_, 4).alias("odds_ratio"),
        F.round(lo, 4).alias("ci_lo"),
        F.round(hi, 4).alias("ci_hi"),
        (~((lo <= 1.0) & (F.lit(1.0) <= hi))).alias("significant"),
    )


_RUNS_ORACLE = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    med AS (SELECT quantile_cont(cents * 1.0, 0.5) AS m FROM daily),
    signs AS (
      SELECT d, CASE WHEN cents > m THEN 1 ELSE 0 END AS up
      FROM daily CROSS JOIN med WHERE cents <> m
    ),
    flips AS (
      SELECT up,
             CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                       OR lag(up) OVER (ORDER BY d) <> up
                  THEN 1 ELSE 0 END AS new_run
      FROM signs
    ),
    s AS (
      SELECT SUM(new_run) AS runs,
             SUM(up) AS n1,
             SUM(1 - up) AS n2
      FROM flips
    )
    SELECT CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(runs AS BIGINT) AS n_runs,
           ROUND(1.0 + 2.0 * n1 * n2 / (n1 + n2), 4) AS expected_runs,
           ROUND((runs - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 4)
             AS z_stat,
           abs((runs - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
               / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                      / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))) > 1.96
             AS nonrandom
    FROM s
"""


@register("agg_runs_test", oracle=_RUNS_ORACLE)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue sign sequence
    (above/below the series median): too FEW runs = the series is
    trending or regime-sticky, too MANY = oscillating — the RANDOMNESS
    check that completes the time-series test kit (agg_mann_kendall
    asks "is there a monotone trend?", agg_autocorr asks "is it
    linearly self-correlated?", this asks "is the sign sequence random
    AT ALL?", which catches patterns both miss). Exact-median days are
    excluded, the textbook convention.

    Scale/determinism: facts reduce to exact-cents rows on the
    calendar-DAY-bounded frame; the run count is one lag over that
    frame; n1/n2/runs are exact integers and the z statistic one
    identical expression."""
    t = load(spark, sf_dir)
    daily = t.orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("cents"))
    med = daily.agg(F.percentile("cents", F.lit(0.5)).alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("cents") != F.col("m"))
        .select("d", F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("up"))
    )
    w = Window.orderBy("d")
    flips = signs.select(
        "up",
        F.when(
            F.lag("up").over(w).isNull() | (F.lag("up").over(w) != F.col("up")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    s = flips.agg(
        F.sum("new_run").alias("runs"),
        F.sum("up").alias("n1"),
        F.sum(1 - F.col("up")).alias("n2"),
    )
    n1, n2, runs = (F.col(x).cast("double") for x in ("n1", "n2", "runs"))
    exp_r = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    z = (runs - exp_r) / F.sqrt(var_r)
    return s.select(
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n2").cast("bigint").alias("n_below"),
        F.col("runs").cast("bigint").alias("n_runs"),
        F.round(exp_r, 4).alias("expected_runs"),
        F.round(z, 4).alias("z_stat"),
        (F.abs(z) > 1.96).alias("nonrandom"),
    )


_ENTROPY_RATE_ORACLE = """
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    trans AS (
      SELECT cur, nxt, COUNT(*) AS n FROM seq
      WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    m AS (
      SELECT cur, nxt, n,
             SUM(n) OVER (PARTITION BY cur) AS row_t,
             SUM(n) OVER () AS total
      FROM trans
    ),
    cells AS (
      SELECT cur,
             CAST(floor(-(n / CAST(row_t AS DOUBLE))
                   * ln(n / CAST(row_t AS DOUBLE)) / ln(2.0)
                   * 1000000) AS BIGINT) AS h_units,
             row_t, total
      FROM m
    ),
    rows_h AS (
      SELECT cur,
             CAST(MAX(row_t) AS BIGINT) AS n_from,
             SUM(h_units) AS hu,
             MAX(total) AS total
      FROM cells GROUP BY cur
    )
    SELECT cur AS from_type,
           n_from,
           ROUND(hu / 1000000.0, 6) AS conditional_entropy_bits,
           ROUND(SUM(hu * (n_from / CAST(total AS DOUBLE))) OVER ()
                 / 1000000.0, 6) AS entropy_rate_bits
    FROM rows_h
"""


@register("agg_entropy_rate", oracle=_ENTROPY_RATE_ORACLE)
def agg_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user event-type chain: per-state conditional
    entropy H(next | cur) in bits plus the transition-weighted overall
    rate — how PREDICTABLE the next action is given the current one
    (agg_markov_transitions gives the probabilities; this compresses
    them into the one number that says whether a next-action model is
    worth building: rate near 0 = deterministic flows, near log2(k) =
    uniform chaos).

    Scale/determinism: the same one-shuffle lead + combinable
    transition counts as agg_markov_transitions, reduced onto the
    TYPE x TYPE domain frame; each entropy term micro-unit-quantizes
    before the exact fold (agg_mutual_info doctrine); the weighted
    rate is one window over the k-row frame."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    w_row = Window.partitionBy("cur")
    w_all = Window.partitionBy()
    m = trans.select(
        "cur",
        "n",
        F.sum("n").over(w_row).alias("row_t"),
        F.sum("n").over(w_all).alias("total"),
    )
    p = F.col("n") / F.col("row_t").cast("double")
    h_units = F.floor(-p * F.log(p) / F.log(F.lit(2.0)) * 1_000_000).cast(
        "bigint"
    )
    rows_h = (
        m.select("cur", h_units.alias("hu"), "row_t", "total")
        .groupBy("cur")
        .agg(
            F.max("row_t").cast("bigint").alias("n_from"),
            F.sum("hu").alias("hu"),
            F.max("total").alias("total"),
        )
    )
    w_fin = Window.partitionBy()
    return rows_h.select(
        F.col("cur").alias("from_type"),
        "n_from",
        F.round(F.col("hu") / 1_000_000.0, 6).alias(
            "conditional_entropy_bits"
        ),
        F.round(
            F.sum(
                F.col("hu") * (F.col("n_from") / F.col("total").cast("double"))
            ).over(w_fin)
            / 1_000_000.0,
            6,
        ).alias("entropy_rate_bits"),
    )


#: McNemar lateness predicate: shipped more than this many days after
#: the order date (the q_sole_late_shippers fixture convention — the
#: schema carries no commit/receipt dates).
MCNEMAR_LATE_DAYS = 90

_MCNEMAR_ORACLE = f"""
    WITH flags AS (
      SELECT o.o_orderkey,
             MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) = 1
               AS returned,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate
                           + INTERVAL {MCNEMAR_LATE_DAYS} DAY
                      THEN 1 ELSE 0 END) = 1 AS late
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey
    ),
    cells AS (
      SELECT SUM(CASE WHEN returned AND late THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN returned AND NOT late THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN NOT returned AND late THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN NOT returned AND NOT late THEN 1 ELSE 0 END) AS d
      FROM flags
    )
    SELECT CAST(a AS BIGINT) AS n_both,
           CAST(b AS BIGINT) AS n_returned_only,
           CAST(c AS BIGINT) AS n_late_only,
           CAST(d AS BIGINT) AS n_neither,
           ROUND(POWER(b - c, 2) / CAST(b + c AS DOUBLE), 4) AS mcnemar_chi2,
           POWER(b - c, 2) / CAST(b + c AS DOUBLE) > 3.8415
             AS rates_differ
    FROM cells
"""


@register("agg_mcnemar_test", oracle=_MCNEMAR_ORACLE)
def agg_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED binary flags per order — returned vs
    shipped-late — the within-subject comparison agg_chi_squared
    (independent samples) gets WRONG on paired data: only the
    DISCORDANT cells b (returned-only) and c (late-only) carry
    information, chi2 = (b-c)^2/(b+c) vs 3.8415 (1 dof). The shape of
    every before/after and flag-vs-flag defect comparison on the same
    population.

    Scale/determinism: one fact join reduced to one flag pair per
    order (two combinable MAXes), then a 1-row 2x2 of conditional
    sums; the statistic is one identical expression over exact
    integers."""
    t = load(spark, sf_dir)
    flags = (
        t.orders.select("o_orderkey", "o_orderdate")
        .join(
            t.lineitem.select("l_orderkey", "l_returnflag", "l_shipdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey")
        .agg(
            (
                F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
                == 1
            ).alias("returned"),
            (
                # timestamp + interval, NOT date_add: o_orderdate is a
                # TIMESTAMP and date_add would drop its time-of-day,
                # flipping boundary rows vs the oracle (tpch_tail Q21
                # convention)
                F.max(
                    F.when(
                        F.col("l_shipdate")
                        > F.col("o_orderdate")
                        + F.expr(f"INTERVAL {MCNEMAR_LATE_DAYS} DAYS"),
                        1,
                    ).otherwise(0)
                )
                == 1
            ).alias("late"),
        )
    )
    cells = flags.agg(
        F.sum(F.when(F.col("returned") & F.col("late"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("returned") & ~F.col("late"), 1).otherwise(0)).alias("b"),
        F.sum(F.when(~F.col("returned") & F.col("late"), 1).otherwise(0)).alias("c"),
        F.sum(F.when(~F.col("returned") & ~F.col("late"), 1).otherwise(0)).alias("d"),
    )
    chi2 = F.pow(F.col("b") - F.col("c"), 2) / (
        F.col("b") + F.col("c")
    ).cast("double")
    return cells.select(
        F.col("a").cast("bigint").alias("n_both"),
        F.col("b").cast("bigint").alias("n_returned_only"),
        F.col("c").cast("bigint").alias("n_late_only"),
        F.col("d").cast("bigint").alias("n_neither"),
        F.round(chi2, 4).alias("mcnemar_chi2"),
        (chi2 > 3.8415).alias("rates_differ"),
    )


_MEDIAN_CI_ORACLE = """
    WITH ev AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    vg AS (
      SELECT event_type, cents, COUNT(*) AS c
      FROM ev GROUP BY event_type, cents
    ),
    cum AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum_c,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM vg
    ),
    ranks AS (
      SELECT event_type, n,
             CAST(floor((n - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2)
                  AS BIGINT) AS lo_rank,
             CAST(ceil(1 + (n + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2)
                  AS BIGINT) AS hi_rank
      FROM (SELECT DISTINCT event_type, n FROM cum)
    ),
    bounds AS (
      SELECT r.event_type, r.n, r.lo_rank, r.hi_rank,
             (SELECT MIN(cents) FROM cum
              WHERE cum.event_type = r.event_type
                AND cum.cum_c >= r.lo_rank) AS lo_cents,
             (SELECT MIN(cents) FROM cum
              WHERE cum.event_type = r.event_type
                AND cum.cum_c >= r.hi_rank) AS hi_cents
      FROM ranks r
    ),
    med AS (
      SELECT event_type, quantile_cont(cents * 1.0, 0.5) / 100.0 AS median
      FROM ev GROUP BY event_type
    )
    SELECT b.event_type,
           CAST(b.n AS BIGINT) AS n,
           ROUND(m.median, 4) AS median,
           ROUND(b.lo_cents / 100.0, 2) AS ci_lo,
           ROUND(b.hi_cents / 100.0, 2) AS ci_hi
    FROM bounds b JOIN med m USING (event_type)
"""


@register("agg_median_ci", oracle=_MEDIAN_CI_ORACLE)
def agg_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN per
    event type, by the binomial order-statistic method: the CI
    endpoints are the values at ranks n/2 -/+ 1.96*sqrt(n)/2 — no
    normality assumed, no resampling run (agg_bootstrap_ci's
    nonparametric answer for the MEAN, delivered for the median in one
    pass; medians of heavy-tailed revenue are what dashboards actually
    report, and a median without an interval is a point pretending to
    be a fact).

    Scale/determinism: the rank->value lookup runs on the cumulative
    2-dp value-DOMAIN frame (<=49k rows per type, the agg_mann_whitney
    bound) — never an ordered scan of the facts; ranks are exact
    integers from one sqrt; endpoint values are exact cents."""
    t = load(spark, sf_dir)
    ev = t.events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    vg = ev.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy("event_type").orderBy("cents")
    w_all = Window.partitionBy("event_type")
    cum = vg.select(
        "event_type",
        "cents",
        F.sum("c").over(w_cum).alias("cum_c"),
        F.sum("c").over(w_all).alias("n"),
    )
    nd = F.col("n").cast("double")
    ranks = cum.select("event_type", "n").distinct().select(
        "event_type",
        "n",
        F.floor((F.col("n") - 1.96 * F.sqrt(nd)) / 2)
        .cast("bigint")
        .alias("lo_rank"),
        F.ceil(1 + (F.col("n") + 1.96 * F.sqrt(nd)) / 2)
        .cast("bigint")
        .alias("hi_rank"),
    )
    j = cum.join(F.broadcast(ranks.drop("n")), "event_type")
    bounds = j.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(F.col("cum_c") >= F.col("lo_rank"), F.col("cents"))
        ).alias("lo_cents"),
        F.min(
            F.when(F.col("cum_c") >= F.col("hi_rank"), F.col("cents"))
        ).alias("hi_cents"),
    )
    med = ev.groupBy("event_type").agg(
        (F.percentile("cents", F.lit(0.5)) / 100.0).alias("median")
    )
    return bounds.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("median", 4).alias("median"),
        F.round(F.col("lo_cents") / 100.0, 2).alias("ci_lo"),
        F.round(F.col("hi_cents") / 100.0, 2).alias("ci_hi"),
    )


_WEIBULL_ORACLE = """
    WITH gaps AS (
      SELECT datediff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS t
      FROM orders
    ),
    tg AS (SELECT t FROM gaps WHERE t IS NOT NULL AND t > 0),
    dom AS (
      SELECT t, COUNT(*) AS c FROM tg GROUP BY t
    ),
    cdf AS (
      SELECT t,
             SUM(c) OVER (ORDER BY t) AS cum,
             SUM(c) OVER () AS n
      FROM dom
    ),
    pts AS (
      SELECT ln(CAST(t AS DOUBLE)) AS x,
             ln(-ln(1 - (cum - 0.3) / (n + 0.4))) AS y
      FROM cdf WHERE cum < n
    )
    SELECT CAST((SELECT MAX(n) FROM cdf) AS BIGINT) AS n_intervals,
           ROUND(regr_slope(y, x), 4) AS weibull_shape,
           ROUND(exp(AVG(x) - AVG(y) / regr_slope(y, x)), 4)
             AS weibull_scale_days,
           ROUND(regr_r2(y, x), 4) AS fit_r2,
           regr_slope(y, x) > 1.0 AS hazard_increasing
    FROM pts
"""


@register("agg_weibull_fit", oracle=_WEIBULL_ORACLE)
def agg_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of customer repurchase intervals by median-rank
    regression (ln(-ln(1-F)) on ln t, Benard's approximation
    (i-0.3)/(n+0.4)): the SHAPE parameter is the churn-model verdict —
    shape < 1 = decreasing hazard (the longer since the last order, the
    LESS likely a repurchase: win-back campaigns have a deadline),
    shape > 1 = habituation. agg_survival_km draws the curve; this
    compresses it into the two parameters a lifecycle model consumes,
    plus the R^2 that says whether Weibull is even the right family.

    Scale/determinism: one lag per customer on the orders shuffle, then
    the empirical CDF on the day-DOMAIN frame (calendar-bounded); the
    regression runs via native regr_* over that bounded frame
    (text_zipf_fit doctrine); scale derives from slope and the point
    means in one identical expression."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = t.orders.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("t")
    ).where(F.col("t").isNotNull() & (F.col("t") > 0))
    dom = gaps.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.orderBy("t")
    w_all = Window.partitionBy()
    cdf = dom.select(
        "t",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    pts = cdf.where(F.col("cum") < F.col("n")).select(
        "n",
        F.log(F.col("t").cast("double")).alias("x"),
        F.log(
            -F.log(
                1 - (F.col("cum") - 0.3) / (F.col("n") + 0.4)
            )
        ).alias("y"),
    )
    # avg(x - y/b) = avg(x) - avg(y)/b, so the scale derives from the
    # three plain aggregates (an aggregate inside another is illegal)
    fit = pts.agg(
        F.max("n").cast("bigint").alias("n_intervals"),
        F.regr_slope(F.col("y"), F.col("x")).alias("slope"),
        F.round(F.regr_r2(F.col("y"), F.col("x")), 4).alias("fit_r2"),
        F.avg("x").alias("ax"),
        F.avg("y").alias("ay"),
    )
    return fit.select(
        "n_intervals",
        F.round("slope", 4).alias("weibull_shape"),
        F.round(
            F.exp(F.col("ax") - F.col("ay") / F.col("slope")), 4
        ).alias("weibull_scale_days"),
        "fit_r2",
        (F.col("slope") > 1.0).alias("hazard_increasing"),
    )


_POISSON_ORACLE = """
    WITH days AS (
      SELECT CAST((SELECT datediff('day', MIN(CAST(ts AS DATE)),
                                   MAX(CAST(ts AS DATE))) + 1
                   FROM events) AS DOUBLE) AS span
    ),
    g AS (
      SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(span AS BIGINT) AS n_days,
           ROUND(n / span, 4) AS rate_per_day,
           ROUND((n - 1.96 * sqrt(CAST(n AS DOUBLE))) / span, 4)
             AS rate_ci_lo,
           ROUND((n + 1.96 * sqrt(CAST(n AS DOUBLE))) / span, 4)
             AS rate_ci_hi
    FROM g CROSS JOIN days
"""


@register("agg_poisson_rate_ci", oracle=_POISSON_ORACLE)
def agg_poisson_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event rate per day with the Poisson 95% CI per type (normal
    approximation n +/- 1.96*sqrt(n) over the observed span) — the
    interval behind every events-per-day dashboard number, and the
    companion agg_overdispersion qualifies: when that operator's
    variance-to-mean verdict says NOT Poisson, these intervals are
    too narrow and the negative-binomial width applies instead (the
    two operators together are the honest rate report).

    Scale/determinism: one combinable count per type + a 1-row span
    scalar; sqrt on an exact integer; three identical divisions."""
    t = load(spark, sf_dir)
    days = t.events.agg(
        (
            F.datediff(
                F.max(F.col("ts").cast("date")),
                F.min(F.col("ts").cast("date")),
            )
            + 1
        )
        .cast("double")
        .alias("span")
    )
    g = t.events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    nd = F.col("n").cast("double")
    return g.crossJoin(F.broadcast(days)).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("span").cast("bigint").alias("n_days"),
        F.round(nd / F.col("span"), 4).alias("rate_per_day"),
        F.round((nd - 1.96 * F.sqrt(nd)) / F.col("span"), 4).alias(
            "rate_ci_lo"
        ),
        F.round((nd + 1.96 * F.sqrt(nd)) / F.col("span"), 4).alias(
            "rate_ci_hi"
        ),
    )


_EB_ORACLE = """
    WITH s AS (
      SELECT l_suppkey,
             COUNT(*) AS n,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS x
      FROM lineitem GROUP BY l_suppkey
    ),
    mom AS (
      SELECT AVG(x / CAST(n AS DOUBLE)) AS m,
             VAR_SAMP(x / CAST(n AS DOUBLE)) AS v
      FROM s
    ),
    prior AS (
      SELECT m, v,
             m * (m * (1 - m) / v - 1) AS a,
             (1 - m) * (m * (1 - m) / v - 1) AS b
      FROM mom
    )
    SELECT CAST(s.l_suppkey AS BIGINT) AS l_suppkey,
           CAST(s.n AS BIGINT) AS n_lines,
           CAST(s.x AS BIGINT) AS n_returns,
           ROUND(s.x / CAST(s.n AS DOUBLE), 6) AS raw_rate,
           ROUND((p.a + s.x) / (p.a + p.b + s.n), 6) AS shrunk_rate,
           ROUND(p.a, 4) AS prior_alpha,
           ROUND(p.b, 4) AS prior_beta
    FROM s CROSS JOIN prior p
"""


@register("agg_eb_shrinkage", oracle=_EB_ORACLE)
def agg_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-supplier return rates: a Beta
    prior is moment-matched from the population of raw rates, and each
    supplier's estimate becomes the posterior mean (alpha + x) /
    (alpha + beta + n) — small-sample suppliers shrink hard toward the
    population rate, high-volume ones barely move. THE estimation-side
    fix for the same small-sample pathology q_supplier_wilson_score
    fixes on the RANKING side (Wilson bounds order entities; shrinkage
    gives each one a usable rate number), and the standard first
    Bayesian tool of every metrics team.

    Scale/determinism: per-supplier (n, x) is one combinable aggregate;
    the prior is a 1-row moment fold over the SUPPLIER-domain rate
    frame broadcast back; posterior means are identical arithmetic per
    row."""
    t = load(spark, sf_dir)
    s = t.lineitem.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "x"
        ),
    )
    rate = F.col("x") / F.col("n").cast("double")
    mom = s.agg(
        F.avg(rate).alias("m"), F.var_samp(rate).alias("v")
    )
    k = F.col("m") * (1 - F.col("m")) / F.col("v") - 1
    prior = mom.select(
        (F.col("m") * k).alias("a"),
        ((1 - F.col("m")) * k).alias("b"),
    )
    return s.crossJoin(F.broadcast(prior)).select(
        F.col("l_suppkey").cast("bigint").alias("l_suppkey"),
        F.col("n").cast("bigint").alias("n_lines"),
        F.col("x").cast("bigint").alias("n_returns"),
        F.round(rate, 6).alias("raw_rate"),
        F.round(
            (F.col("a") + F.col("x")) / (F.col("a") + F.col("b") + F.col("n")),
            6,
        ).alias("shrunk_rate"),
        F.round("a", 4).alias("prior_alpha"),
        F.round("b", 4).alias("prior_beta"),
    )


_BARTLETT_ORACLE = f"""
    WITH arms AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s1,
             SUM(CAST(ROUND(value * 100) AS BIGINT)
                 * CAST(ROUND(value * 100) AS BIGINT)) AS s2
      FROM events GROUP BY event_type
    ),
    terms AS (
      SELECT n,
             CAST(FLOOR((s2 - s1 * (s1 / CAST(n AS DOUBLE)))) AS BIGINT)
               AS a_i,
             CAST(FLOOR((n - 1) * ln((s2 - s1 * (s1 / CAST(n AS DOUBLE)))
                                     / (n - 1)) * 1000000) AS BIGINT)
               AS b_u,
             CAST(FLOOR(1e9 / (n - 1)) AS BIGINT) AS d_n
      FROM arms
    ),
    s AS (
      SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(a_i) AS BIGINT) AS sa,
             CAST(SUM(b_u) AS BIGINT) AS sb,
             CAST(SUM(d_n) AS BIGINT) AS sd
      FROM terms
    )
    SELECT CAST(k AS BIGINT) AS k, nt AS n,
           CAST(k - 1 AS BIGINT) AS dof,
           ROUND(((nt - k) * ln(sa / CAST(nt - k AS DOUBLE)) - sb / 1e6)
                 / (1 + (sd / 1e9 - 1.0 / (nt - k)) / (3.0 * (k - 1))),
                 4) AS bartlett_t,
           ((nt - k) * ln(sa / CAST(nt - k AS DOUBLE)) - sb / 1e6)
             / (1 + (sd / 1e9 - 1.0 / (nt - k)) / (3.0 * (k - 1)))
             > ({_CHI2_CRIT_SQL_CASE.replace("CASE dof", "CASE k - 1")})
             AS heteroscedastic
    FROM s
"""


@register("agg_bartlett_test", oracle=_BARTLETT_ORACLE)
def agg_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across the event-type
    arms — the PARAMETRIC complement of agg_levene_test (Bartlett is
    sharper when the arms are near-normal, Levene is the robust
    fallback; a pipeline runs Bartlett first and falls back when its
    normality premise fails, cf. agg_jarque_bera). The verdict gates
    agg_anova_oneway's equal-variance assumption.

    Scale/determinism: one combinable (n, sum, sumsq) pass per arm on
    exact cents; per-arm sums-of-squares floor to integer cents^2 and
    the ln terms to micro-units BEFORE the k-row fold, so every
    cross-arm sum is an integer sum (stats.py doctrine: no
    order-dependent double folds); the statistic is one closed-form
    expression of those integers."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    arms = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).cast("bigint").alias("s1"),
        # decimal(38,0) like agg_partial_corr's syy: the cents^2 sum
        # passes 2^63 at large SF and DuckDB's SUM(BIGINT) widens to
        # HUGEINT, so a plain bigint sum would wrap silently here.
        F.sum((cents * cents).cast("decimal(38,0)")).alias("s2"),
    )
    ss = F.col("s2") - F.col("s1") * (F.col("s1") / F.col("n").cast("double"))
    terms = arms.select(
        "n",
        F.floor(ss).cast("bigint").alias("a_i"),
        F.floor((F.col("n") - 1) * F.log(ss / (F.col("n") - 1)) * 1_000_000)
        .cast("bigint")
        .alias("b_u"),
        F.floor(1e9 / (F.col("n") - 1)).cast("bigint").alias("d_n"),
    )
    s = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("a_i").cast("bigint").alias("sa"),
        F.sum("b_u").cast("bigint").alias("sb"),
        F.sum("d_n").cast("bigint").alias("sd"),
    )
    nk = (F.col("nt") - F.col("k")).cast("double")
    t_stat = (
        (F.col("nt") - F.col("k")) * F.log(F.col("sa") / nk)
        - F.col("sb") / 1e6
    ) / (
        1
        + (F.col("sd") / 1e9 - 1.0 / nk) / (3.0 * (F.col("k") - 1))
    )
    crit = F.create_map(
        *[F.lit(x) for kv in CHI2_CRIT_BY_DOF.items() for x in kv]
    )[(F.col("k") - 1).cast("int")]
    return s.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("nt").alias("n"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
        F.round(t_stat, 4).alias("bartlett_t"),
        (t_stat > crit).alias("heteroscedastic"),
    )


_PARTIAL_CORR_ORACLE = """
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS HUGEINT) AS sy,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS sz,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sxx,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      AS HUGEINT)) AS syy,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                      * CAST(ROUND(l_discount * 100) AS BIGINT)) AS HUGEINT)
               AS szz,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS HUGEINT) AS sxy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(ROUND(l_discount * 100) AS BIGINT)) AS HUGEINT)
               AS sxz,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * CAST(ROUND(l_discount * 100) AS BIGINT) AS HUGEINT))
               AS syz
      FROM lineitem
    ),
    r AS (
      SELECT n,
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS rxy,
             (n * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
               / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
               AS rxz,
             (n * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
               / (sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                  * sqrt(n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
               AS ryz
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(rxy, 6) AS r_qty_price,
           ROUND(rxz, 6) AS r_qty_discount,
           ROUND(ryz, 6) AS r_price_discount,
           ROUND((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
             AS partial_r_qty_price
    FROM r
"""


@register("agg_partial_corr", oracle=_PARTIAL_CORR_ORACLE)
def agg_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and price CONTROLLING for
    discount — r_xy.z = (rxy - rxz*ryz) / sqrt((1-rxz^2)(1-ryz^2)) —
    the first confounder check an analyst runs when a raw correlation
    (agg_stats_corr's quantity) might be driven by a third variable
    both sides respond to. Emits the three raw correlations beside the
    adjusted one so the reader sees what the control changed.

    Scale/determinism: ONE scan, nine exact integer moment sums
    (quantity units, price cents, discount centi-units; squares as
    DECIMAL/HUGEINT — the cents^2 sum passes 2^63 at sf100); all three
    r's and the partial are closed-form single expressions of those
    integers (agg_regr doctrine)."""
    t = load(spark, sf_dir)
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    z = F.round(F.col("l_discount") * 100).cast("bigint")
    s = t.lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("decimal(38,0)").alias("sy"),
        F.sum(z).cast("bigint").alias("sz"),
        F.sum(x * x).cast("decimal(38,0)").alias("sxx"),
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"),
        F.sum((z * z).cast("decimal(38,0)")).alias("szz"),
        F.sum((x * y).cast("decimal(38,0)")).alias("sxy"),
        F.sum((x * z).cast("decimal(38,0)")).alias("sxz"),
        F.sum((y * z).cast("decimal(38,0)")).alias("syz"),
    )
    n = F.col("n").cast("double")

    def _r(spq, sp, sq, spp, sqq):
        return (n * F.col(spq).cast("double")
                - F.col(sp).cast("double") * F.col(sq).cast("double")) / (
            F.sqrt(n * F.col(spp).cast("double")
                   - F.col(sp).cast("double") * F.col(sp).cast("double"))
            * F.sqrt(n * F.col(sqq).cast("double")
                     - F.col(sq).cast("double") * F.col(sq).cast("double"))
        )

    rxy = _r("sxy", "sx", "sy", "sxx", "syy")
    rxz = _r("sxz", "sx", "sz", "sxx", "szz")
    ryz = _r("syz", "sy", "sz", "syy", "szz")
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(rxy, 6).alias("r_qty_price"),
        F.round(rxz, 6).alias("r_qty_discount"),
        F.round(ryz, 6).alias("r_price_discount"),
        F.round(
            (rxy - rxz * ryz)
            / F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz)),
            6,
        ).alias("partial_r_qty_price"),
    )


_FRIEDMAN_ORACLE = f"""
    WITH cell AS (
      SELECT c.c_nationkey AS block, o.o_orderpriority AS treatment,
             CAST(FLOOR(10000.0
                        * SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                        / COUNT(*)) AS BIGINT) AS m_u
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    full_blocks AS (
      SELECT block FROM cell GROUP BY block
      HAVING COUNT(*) = (SELECT COUNT(DISTINCT treatment) FROM cell)
    ),
    ranked AS (
      SELECT c.block, c.treatment,
             2 * RANK() OVER (PARTITION BY c.block ORDER BY c.m_u)
               + COUNT(*) OVER (PARTITION BY c.block, c.m_u) - 1
               AS two_r
      FROM cell c JOIN full_blocks USING (block)
    ),
    per_t AS (
      SELECT treatment, CAST(SUM(two_r) AS BIGINT) AS two_rj,
             COUNT(*) AS nb
      FROM ranked GROUP BY treatment
    ),
    s AS (
      SELECT COUNT(*) AS k, MAX(nb) AS nb,
             CAST(SUM(two_rj * two_rj) AS BIGINT) AS s2r
      FROM per_t
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(nb AS BIGINT) AS n_blocks,
           CAST(k - 1 AS BIGINT) AS dof,
           ROUND(12.0 * (s2r / 4.0) / (nb * k * (k + 1))
                 - 3.0 * nb * (k + 1), 4) AS friedman_q,
           12.0 * (s2r / 4.0) / (nb * k * (k + 1)) - 3.0 * nb * (k + 1)
             > ({_CHI2_CRIT_SQL_CASE.replace("CASE dof", "CASE k - 1")})
             AS treatment_effect
    FROM s
"""


@register("agg_friedman_test", oracle=_FRIEDMAN_ORACLE)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test over complete blocks: does order PRIORITY
    shift mean order value consistently WITHIN nations? The
    repeated-measures member of the rank-test family — Kruskal-Wallis
    (agg_kruskal_wallis) compares arms across a pooled sample, Friedman
    blocks out the nation effect first, which is exactly what a
    marketplace asks when country mix confounds a raw comparison.

    Scale/determinism: facts reduce to the (nation x priority) CELL
    domain (<= 25x5 rows) before any ranking; cell means quantize to
    integer 0.1-milli-cent units; average ranks use the doubled-rank
    integer form 2*RANK + ties - 1 (agg_auc_roc doctrine) so the
    rank-sum squares stay integers; incomplete blocks drop
    deterministically (both engines filter count == k)."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cell = (
        t.orders.join(
            t.customer, F.col("c_custkey") == F.col("o_custkey")
        )
        .groupBy(
            F.col("c_nationkey").alias("block"),
            F.col("o_orderpriority").alias("treatment"),
        )
        .agg(
            F.floor(10000.0 * F.sum(cents) / F.count(F.lit(1)))
            .cast("bigint")
            .alias("m_u")
        )
    )
    k_treat = cell.select("treatment").distinct().count()
    full = (
        cell.groupBy("block")
        .agg(F.count(F.lit(1)).alias("ct"))
        .where(F.col("ct") == k_treat)
        .select("block")
    )
    w_rank = Window.partitionBy("block").orderBy("m_u")
    w_tie = Window.partitionBy("block", "m_u")
    ranked = cell.join(full, "block").select(
        "treatment",
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - 1
        ).alias("two_r"),
    )
    per_t = ranked.groupBy("treatment").agg(
        F.sum("two_r").cast("bigint").alias("two_rj"),
        F.count(F.lit(1)).alias("nb"),
    )
    s = per_t.agg(
        F.count(F.lit(1)).alias("k"),
        F.max("nb").alias("nb"),
        F.sum(F.col("two_rj") * F.col("two_rj")).cast("bigint").alias("s2r"),
    )
    q = (
        12.0 * (F.col("s2r") / 4.0)
        / (F.col("nb") * F.col("k") * (F.col("k") + 1))
        - 3.0 * F.col("nb") * (F.col("k") + 1)
    )
    crit = F.create_map(
        *[F.lit(x) for kv in CHI2_CRIT_BY_DOF.items() for x in kv]
    )[(F.col("k") - 1).cast("int")]
    return s.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("nb").cast("bigint").alias("n_blocks"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
        F.round(q, 4).alias("friedman_q"),
        (q > crit).alias("treatment_effect"),
    )


#: FDR level for the Benjamini-Hochberg procedure.
BH_ALPHA = 0.05

#: Abramowitz & Stegun 26.2.17 normal-CDF polynomial (shared literals —
#: neither engine ships Phi; identical doubles in, identical p out).
_AS_T = "(1.0 / (1.0 + 0.2316419 * {z}))"
_AS_POLY = (
    "(0.319381530 * {t} - 0.356563782 * {t} * {t} "
    "+ 1.781477937 * {t} * {t} * {t} "
    "- 1.821255978 * {t} * {t} * {t} * {t} "
    "+ 1.330274429 * {t} * {t} * {t} * {t} * {t})"
)
_SQRT_2PI = 2.5066282746310002


def _p_two_sided_sql(z_abs: str) -> str:
    t = _AS_T.format(z=z_abs)
    return (
        f"2.0 * (exp(-({z_abs}) * ({z_abs}) / 2.0) / {_SQRT_2PI})"
        f" * {_AS_POLY.format(t=t)}"
    )


_BH_ORACLE = f"""
    WITH cells AS (
      SELECT c.c_nationkey AS nation,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ),
    g_tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(x) AS BIGINT) AS xt
      FROM cells
    ),
    zed AS (
      SELECT nation, n, x,
             ABS((x / CAST(n AS DOUBLE) - xt / CAST(nt AS DOUBLE))
                 / sqrt((xt / CAST(nt AS DOUBLE))
                        * (1 - xt / CAST(nt AS DOUBLE)) / n)) AS za
      FROM cells, g_tot
    ),
    pv AS (
      SELECT nation, n, x,
             ROUND({_p_two_sided_sql("za")}, 10) AS p
      FROM zed
    ),
    ranked AS (
      SELECT nation, n, x, p,
             ROW_NUMBER() OVER (ORDER BY p, nation) AS rk,
             COUNT(*) OVER () AS m
      FROM pv
    ),
    cutoff AS (
      SELECT MAX(CASE WHEN p <= rk * {BH_ALPHA} / m THEN rk ELSE 0 END)
               AS k
      FROM ranked
    )
    SELECT r.nation AS nation, CAST(r.n AS BIGINT) AS n,
           CAST(r.x AS BIGINT) AS n_urgent,
           ROUND(r.p, 6) AS p_value,
           CAST(r.rk AS BIGINT) AS p_rank,
           ROUND(r.rk * {BH_ALPHA} / r.m, 6) AS bh_threshold,
           r.rk <= c.k AS discovery
    FROM ranked r, cutoff c
"""


@register("agg_benjamini_hochberg", oracle=_BH_ORACLE)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the 25-nation family of
    urgent-order-share tests: each nation's two-sided z-test against
    the global share, p-values ranked, discoveries = every rank up to
    the LARGEST k with p_(k) <= k*alpha/m (the step-up rule — note a
    cell can be a discovery with p above its own threshold if a later
    rank passes). The multiple-testing guard every per-segment metric
    scan needs before someone ships "nation X is special" from 25
    simultaneous looks; the single-test operators (agg_t_test,
    agg_odds_ratio) answer one question, this controls the family.

    Scale/determinism: proportions fold to the NATION domain
    (combinable integer counts); z and the A&S 26.2.17 normal-CDF
    polynomial (shared literals — neither engine ships Phi) run on
    identical doubles; ranking and the step-up cutoff are windows over
    the bounded 25-row family; ties on p break by nation."""
    t = load(spark, sf_dir)
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    cells = (
        t.orders.join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(urgent).cast("bigint").alias("x"),
        )
    )
    glob = cells.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("x").cast("bigint").alias("xt"),
    )
    p0 = F.col("xt") / F.col("nt").cast("double")
    za = F.abs(
        (F.col("x") / F.col("n").cast("double") - p0)
        / F.sqrt(p0 * (1 - p0) / F.col("n"))
    )
    tt = 1.0 / (1.0 + 0.2316419 * za)
    poly = (
        0.319381530 * tt
        - 0.356563782 * tt * tt
        + 1.781477937 * tt * tt * tt
        - 1.821255978 * tt * tt * tt * tt
        + 1.330274429 * tt * tt * tt * tt * tt
    )
    p = F.round(
        2.0 * (F.exp(-za * za / 2.0) / _SQRT_2PI) * poly, 10
    )
    pv = cells.crossJoin(glob).select(
        "nation", "n", "x", p.alias("p")
    )
    w_rank = Window.orderBy("p", "nation")
    w_all = Window.partitionBy()
    ranked = pv.select(
        "nation",
        "n",
        "x",
        "p",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("m"),
    )
    passing = F.when(
        F.col("p") <= F.col("rk") * BH_ALPHA / F.col("m"), F.col("rk")
    ).otherwise(0)
    ranked = ranked.withColumn("k", F.max(passing).over(w_all))
    return ranked.select(
        F.col("nation").cast("bigint").alias("nation"),
        F.col("n").cast("bigint").alias("n"),
        F.col("x").alias("n_urgent"),
        F.round("p", 6).alias("p_value"),
        F.col("rk").cast("bigint").alias("p_rank"),
        F.round(F.col("rk") * BH_ALPHA / F.col("m"), 6).alias(
            "bh_threshold"
        ),
        (F.col("rk") <= F.col("k")).alias("discovery"),
    )


_GK_LAMBDA_ORACLE = """
    WITH ct AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ),
    rowmax AS (
      SELECT x, MAX(obs) AS mx FROM ct GROUP BY x
    ),
    colmax AS (
      SELECT MAX(s) AS my, SUM(s) AS n FROM (
        SELECT y, CAST(SUM(obs) AS BIGINT) AS s FROM ct GROUP BY y
      )
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((SELECT SUM(mx) FROM rowmax) AS BIGINT) AS sum_row_modes,
           CAST(my AS BIGINT) AS col_mode,
           CASE WHEN n > my THEN
             ROUND(((SELECT SUM(mx) FROM rowmax) - my)
                   / CAST(n - my AS DOUBLE), 6) END AS lambda_y_given_x
    FROM colmax
"""


@register("agg_goodman_kruskal_lambda", oracle=_GK_LAMBDA_ORACLE)
def agg_goodman_kruskal_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal lambda(Y|X) for order status given priority: the
    proportional reduction in MODAL prediction error — "guessing the
    per-priority modal status instead of the global modal status avoids
    what share of mistakes". The decision-rule complement of
    agg_mutual_info (bits) and agg_chi_squared (significance) on the
    same contingency: lambda is what a router that must pick ONE class
    per segment actually gains, and it is 0 whenever every row mode
    equals the column mode even under strong dependence — reading it
    beside MI exposes exactly that case.

    Scale/determinism: one combinable groupBy to the 15-cell bounded
    contingency frame; row modes and the column mode are integer MAXes
    over that frame; lambda is one exact-integer division rounded 6 dp.
    No ties in the fixture modes; a tied mode takes the same max count
    either way, so the statistic is tie-stable by construction."""
    t = load(spark, sf_dir)
    ct = t.orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    rowmax = ct.groupBy("o_orderpriority").agg(F.max("obs").alias("mx"))
    col = ct.groupBy("o_orderstatus").agg(F.sum("obs").alias("s"))
    summary = rowmax.agg(
        F.sum("mx").cast("bigint").alias("sum_row_modes")
    ).crossJoin(
        col.agg(
            F.max("s").cast("bigint").alias("col_mode"),
            F.sum("s").cast("bigint").alias("n"),
        )
    )
    return summary.select(
        "n",
        "sum_row_modes",
        "col_mode",
        # NULL when one status owns every row (baseline error 0: lambda
        # undefined, and ANSI mode would raise DIVIDE_BY_ZERO)
        F.when(
            F.col("n") > F.col("col_mode"),
            F.round(
                (F.col("sum_row_modes") - F.col("col_mode"))
                / (F.col("n") - F.col("col_mode")).cast("double"),
                6,
            ),
        ).alias("lambda_y_given_x"),
    )


_THEILS_U_ORACLE = """
    WITH ct AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT x, y, obs,
             CAST(SUM(obs) OVER (PARTITION BY x) AS BIGINT) AS row_t,
             CAST(SUM(obs) OVER (PARTITION BY y) AS BIGINT) AS col_t,
             CAST(SUM(obs) OVER () AS BIGINT) AS n
      FROM ct
    ),
    mi AS (
      SELECT SUM(ROUND((obs / CAST(n AS DOUBLE))
                 * LOG2((CAST(obs AS DOUBLE) * n)
                         / (CAST(row_t AS DOUBLE) * col_t)), 6))
               AS mi_bits
      FROM m
    ),
    hy AS (
      SELECT SUM(ROUND(-(s / CAST(n AS DOUBLE))
                 * LOG2(s / CAST(n AS DOUBLE)), 6)) AS h_y
      FROM (SELECT y, CAST(SUM(obs) AS BIGINT) AS s,
                   CAST(SUM(SUM(obs)) OVER () AS BIGINT) AS n
            FROM ct GROUP BY y)
    ),
    hx AS (
      SELECT SUM(ROUND(-(s / CAST(n AS DOUBLE))
                 * LOG2(s / CAST(n AS DOUBLE)), 6)) AS h_x
      FROM (SELECT x, CAST(SUM(obs) AS BIGINT) AS s,
                   CAST(SUM(SUM(obs)) OVER () AS BIGINT) AS n
            FROM ct GROUP BY x)
    )
    SELECT ROUND(mi_bits, 6) AS mi_bits,
           ROUND(h_y, 6) AS h_y,
           ROUND(h_x, 6) AS h_x,
           CASE WHEN h_y > 0 THEN ROUND(mi_bits / h_y, 6) END
             AS u_y_given_x,
           CASE WHEN h_x > 0 THEN ROUND(mi_bits / h_x, 6) END
             AS u_x_given_y
    FROM mi, hy, hx
"""


@register("agg_theils_u", oracle=_THEILS_U_ORACLE)
def agg_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(Y|X) and U(X|Y) for order
    status vs priority: mutual information NORMALIZED by each target's
    own entropy — "what share of the uncertainty in Y does knowing X
    remove", in [0,1] and ASYMMETRIC, which is the point: NMI
    (agg_mutual_info) symmetrizes away which direction the dependence
    is usable in; a feature-selection pass ranks X by U(Y|X).

    Scale/determinism: the agg_mutual_info bounded-frame doctrine
    verbatim — one combinable groupBy to the 15-cell table, windows
    only over it, every log2 argument a single division of exact
    integer products, per-cell terms 6-dp rounded before the
    lattice-exact sums, marginal entropies over the 5/3-row frames."""
    t = load(spark, sf_dir)
    ct = t.orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wall = Window.partitionBy()
    m = ct.select(
        "obs",
        F.sum("obs").over(wr).alias("row_t"),
        F.sum("obs").over(wc).alias("col_t"),
        F.sum("obs").over(wall).alias("n"),
    )
    # obs and n both reach ~1e13 rows at 100 TB: a bigint product wraps
    # at 9.2e18 while DuckDB widens to HUGEINT and silently diverges (the
    # agg_bartlett_test advice class) — multiply in double on BOTH sides
    ratio = (F.col("obs").cast("double") * F.col("n")) / (
        F.col("row_t").cast("double") * F.col("col_t")
    )
    mi = m.select(
        F.round(
            (F.col("obs") / F.col("n").cast("double")) * F.log2(ratio), 6
        ).alias("term")
    ).agg(F.sum("term").alias("mi_bits"))

    def _h(key: str, alias: str):
        g = ct.groupBy(key).agg(F.sum("obs").cast("bigint").alias("s"))
        tot = F.sum("s").over(Window.partitionBy()).cast("bigint")
        p = F.col("s") / tot.cast("double")
        return (
            g.select(F.round(-p * F.log2(p), 6).alias("term"))
            .agg(F.sum("term").alias(alias))
        )

    out = mi.crossJoin(_h("o_orderstatus", "h_y")).crossJoin(
        _h("o_orderpriority", "h_x")
    )
    return out.select(
        F.round("mi_bits", 6).alias("mi_bits"),
        F.round("h_y", 6).alias("h_y"),
        F.round("h_x", 6).alias("h_x"),
        # NULL for a constant column (zero entropy: the coefficient is
        # undefined, and ANSI mode would raise DIVIDE_BY_ZERO)
        F.when(
            F.col("h_y") > 0, F.round(F.col("mi_bits") / F.col("h_y"), 6)
        ).alias("u_y_given_x"),
        F.when(
            F.col("h_x") > 0, F.round(F.col("mi_bits") / F.col("h_x"), 6)
        ).alias("u_x_given_y"),
    )


_CRONBACH_ORACLE = """
    WITH items AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS x
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS DECIMAL(38,0)) AS s1q,
             CAST(SUM(q * q) AS DECIMAL(38,0)) AS s2q,
             CAST(SUM(d) AS DECIMAL(38,0)) AS s1d,
             CAST(SUM(d * d) AS DECIMAL(38,0)) AS s2d,
             CAST(SUM(x) AS DECIMAL(38,0)) AS s1x,
             CAST(SUM(x * x) AS DECIMAL(38,0)) AS s2x,
             CAST(SUM(q + d + x) AS DECIMAL(38,0)) AS s1t,
             CAST(SUM((q + d + x) * (q + d + x)) AS DECIMAL(38,0)) AS s2t
      FROM items
    )
    SELECT n, CAST(3 AS BIGINT) AS k,
           ROUND((CAST(s2q AS DOUBLE) / n
                  - POWER(CAST(s1q AS DOUBLE) / n, 2))
                 + (CAST(s2d AS DOUBLE) / n
                    - POWER(CAST(s1d AS DOUBLE) / n, 2))
                 + (CAST(s2x AS DOUBLE) / n
                    - POWER(CAST(s1x AS DOUBLE) / n, 2)), 6)
             AS sum_item_var,
           ROUND(CAST(s2t AS DOUBLE) / n
                 - POWER(CAST(s1t AS DOUBLE) / n, 2), 6) AS total_var,
           CASE WHEN CAST(s2t AS DOUBLE) / n
                      - POWER(CAST(s1t AS DOUBLE) / n, 2) > 0 THEN
             ROUND((3.0 / 2.0)
                   * (1 - ((CAST(s2q AS DOUBLE) / n
                            - POWER(CAST(s1q AS DOUBLE) / n, 2))
                           + (CAST(s2d AS DOUBLE) / n
                              - POWER(CAST(s1d AS DOUBLE) / n, 2))
                           + (CAST(s2x AS DOUBLE) / n
                              - POWER(CAST(s1x AS DOUBLE) / n, 2)))
                          / (CAST(s2t AS DOUBLE) / n
                             - POWER(CAST(s1t AS DOUBLE) / n, 2))), 6)
           END AS alpha
    FROM s
"""


@register("agg_cronbach_alpha", oracle=_CRONBACH_ORACLE)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the three integer-quantized lineitem
    "items" (quantity, discount pct-points, tax pct-points): the
    internal-consistency coefficient alpha = k/(k-1) * (1 - sum
    item-var / total-var) — the standard scale-reliability check
    before anyone averages multiple quality signals into one score
    (the same question a corpus pipeline asks before collapsing
    length/stopword/distinct ratios into text_quality_score's single
    number: do the components even co-vary?).

    Scale/determinism: ONE combinable pass of nine integer sums (per
    item and the row-total pseudo-item: n, s1, s2 each) — population
    variances are closed forms of those; sums of squares cast to
    decimal(38,0) (the agg_bartlett_test overflow doctrine: DuckDB's
    SUM(BIGINT) widens to HUGEINT, Spark would wrap); doubles appear
    only in the final identical closed-form expression, rounded 6 dp."""
    t = load(spark, sf_dir)
    q = F.col("l_quantity").cast("bigint")
    d = F.round(F.col("l_discount") * 100).cast("bigint")
    x = F.round(F.col("l_tax") * 100).cast("bigint")
    tot = q + d + x
    s = t.lineitem.select(
        q.alias("q"), d.alias("d"), x.alias("x"), tot.alias("t")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(expr).cast("decimal(38,0)").alias(name)
            for name, expr in [
                ("s1q", F.col("q")), ("s2q", F.col("q") * F.col("q")),
                ("s1d", F.col("d")), ("s2d", F.col("d") * F.col("d")),
                ("s1x", F.col("x")), ("s2x", F.col("x") * F.col("x")),
                ("s1t", F.col("t")), ("s2t", F.col("t") * F.col("t")),
            ]
        ],
    )
    nd = F.col("n").cast("double")

    def _var(s1: str, s2: str):
        return F.col(s2).cast("double") / nd - F.pow(
            F.col(s1).cast("double") / nd, 2
        )

    item_var = _var("s1q", "s2q") + _var("s1d", "s2d") + _var("s1x", "s2x")
    total_var = _var("s1t", "s2t")
    return s.select(
        "n",
        F.lit(3).cast("bigint").alias("k"),
        F.round(item_var, 6).alias("sum_item_var"),
        F.round(total_var, 6).alias("total_var"),
        # NULL when the total is constant (zero variance: alpha is
        # undefined, and ANSI mode would raise DIVIDE_BY_ZERO)
        F.when(
            total_var > 0,
            F.round((3.0 / 2.0) * (1 - item_var / total_var), 6),
        ).alias("alpha"),
    )


_PAGE_HINKLEY_ORACLE = """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT day, cents,
             SUM(cents) OVER w AS cum,
             ROW_NUMBER() OVER (ORDER BY day) AS t
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    inc AS (
      SELECT day, cents,
             CAST((n - ((n % t + t) % t)) // t AS DECIMAL(38,0)) AS inc_u
      FROM (SELECT day, cents, t,
                   (CAST(cents AS HUGEINT) * t - cum) * 1000000 AS n
            FROM r) s
    ),
    u AS (
      SELECT day, cents,
             CAST(SUM(inc_u) OVER w AS DECIMAL(38,0)) AS u_t
      FROM inc
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT CAST(day AS VARCHAR) AS day,
           ROUND(cents / 100.0, 2) AS revenue,
           FLOOR(u_t / 1e6) / 100.0 AS deviation_cum,
           FLOOR((u_t - MIN(u_t) OVER w) / 1e6) / 100.0 AS page_hinkley
    FROM u
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    ORDER BY day
"""


@register("agg_page_hinkley", oracle=_PAGE_HINKLEY_ORACLE)
def agg_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift statistic over the daily-revenue series: the
    cumulative deviation-from-running-mean U_t, and PH_t = U_t - min
    U_s (s<=t) — the sequential upward-shift detector (Page 1954,
    Hinkley 1971) that flags a LEVEL CHANGE the moment the post-change
    series stops pulling U_t back down. Reads beside win_cusum_drift:
    CUSUM tracks deviation from a FIXED reference, PH from the
    series' own running mean, so PH needs no calibrated baseline —
    the monitor a pipeline can switch on with zero configuration. The
    statistic is emitted per day; the alarm threshold is the
    consumer's (it is scale-dependent by definition).

    Scale/determinism: orders fold to the bounded DAY domain first
    (one combinable groupBy; ~2.4k rows at any SF) — all windows run
    on that frame. Each day's deviation increment is EXACT integer
    arithmetic end-to-end: floor((cents - cum/t)*1e6) is computed as
    floor-division of n = (cents*t - cum)*1e6 by t — Spark holds n in
    decimal(38,0) and floor-divides via (n - pmod(n,t))/t (never
    `div`, whose bigint result wraps at 2^63: a 100 TB day's
    micro-cent deviation is ~1e21), DuckDB holds n in HUGEINT with
    the same (n - ((n%t+t)%t))//t construction (its decimal `//`
    degrades to double). The subtraction makes n divisible by t, so
    the final division is exact in both engines and U_t is an exact
    integer fold held in decimal(38,0); day order is total, so the
    running mean is well-defined."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = t.orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents).cast("bigint").alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    r = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w).alias("cum"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    # decimal(38,0), not bigint: a day's micro-cent deviation reaches
    # ~1e21 at 100 TB (daily cents ~1e15 x 1e6) and the cumulative fold
    # grows further — the agg_bartlett_test overflow doctrine. The
    # floor itself must stay in decimal too: F.floor(double) returns
    # BIGINT (wraps at 2^63 before any cast can save it) and the
    # double product is already inexact past 2^53, so the increment is
    # floor-divided exactly — n = (cents*t - cum)*1e6 in decimal, then
    # (n - pmod(n, t)) / t, which is exact because the numerator is
    # divisible by t. pmod (not %) gives the floor-division remainder
    # for negative deviations.
    n_expr = (
        (
            F.col("cents").cast("decimal(20,0)") * F.col("t")
            - F.col("cum").cast("decimal(20,0)")
        )
        * F.lit(1_000_000).cast("decimal(7,0)")
    ).cast("decimal(38,0)")
    inc = r.select(
        "day",
        "cents",
        (
            (n_expr - F.pmod(n_expr, F.col("t").cast("bigint")))
            / F.col("t").cast("bigint")
        ).cast("decimal(38,0)").alias("inc_u"),
    )
    u = inc.select(
        "day",
        "cents",
        F.sum("inc_u").over(w).cast("decimal(38,0)").alias("u_t"),
    )
    # floor to whole micro-unit cents, then one exact /100: u_t/1e8 can
    # land on binary-representable round-2 ties (u = m * 1.25e7), where
    # the engines' half-rounding disagrees — the win_mfi tie doctrine
    return u.select(
        F.col("day").cast("string").alias("day"),
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        (F.floor(F.col("u_t") / 1e6) / 100.0).alias("deviation_cum"),
        (
            F.floor((F.col("u_t") - F.min("u_t").over(w)) / 1e6) / 100.0
        ).alias("page_hinkley"),
    ).orderBy("day")


#: Ljung-Box lag depth and the chi-square 5% critical values for
#: df = 1..7 (standard table; the df at lag k is k itself here — no
#: fitted-model parameters to subtract).
LJUNG_BOX_LAGS = 7
_LB_CHI2_CRIT = [3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067]

#: Centering lattice: deviations quantize to MILLI-units of n*cents
#: before any product (floor-division via the pmod construction, the
#: agg_page_hinkley doctrine) so the lag-k cross products and the
#: denominator stay inside decimal(38,0)/HUGEINT at the 100 TB day
#: scale (y ~ n*cents ~ 2.4e18; unscaled y^2 sums pass 1e38).
_LB_SCALE = 1000


def _lb_oracle() -> str:
    crit_rows = ", ".join(
        f"({k + 1}, {c})" for k, c in enumerate(_LB_CHI2_CRIT)
    )
    lag_nums = ",\n             ".join(
        f"SUM(CASE WHEN t > {k} THEN yp * lag{k} END) AS num{k}"
        for k in range(1, LJUNG_BOX_LAGS + 1)
    )
    lag_defs = ",\n             ".join(
        f"LAG(yp, {k}) OVER (ORDER BY day) AS lag{k}"
        for k in range(1, LJUNG_BOX_LAGS + 1)
    )
    unions = " UNION ALL ".join(
        f"SELECT {k} AS lag, num{k} AS num, den, n FROM s"
        for k in range(1, LJUNG_BOX_LAGS + 1)
    )
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT COUNT(*) AS n, CAST(SUM(cents) AS HUGEINT) AS s1 FROM daily
    ),
    dev AS (
      SELECT day,
             (y - ((y % {_LB_SCALE} + {_LB_SCALE}) % {_LB_SCALE}))
               // {_LB_SCALE} AS yp,
             ROW_NUMBER() OVER (ORDER BY day) AS t
      FROM (SELECT day, CAST(cents AS HUGEINT) * (SELECT n FROM tot)
                        - (SELECT s1 FROM tot) AS y
            FROM daily) q
    ),
    lagged AS (
      SELECT day, yp, t,
             {lag_defs}
      FROM dev
    ),
    s AS (
      SELECT SUM(yp * yp) AS den, MAX(t) AS n,
             {lag_nums}
      FROM lagged
    ),
    perlag AS ({unions}),
    q AS (
      SELECT lag, n,
             CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS r,
             SUM(POWER(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 2)
                 / (n - lag))
               OVER (ORDER BY lag ROWS UNBOUNDED PRECEDING) AS qsum
      FROM perlag
    )
    SELECT q.lag, ROUND(q.r, 6) AS autocorr,
           ROUND(q.n * (q.n + 2.0) * q.qsum, 4) AS q_stat,
           q.n * (q.n + 2.0) * q.qsum > c.crit AS significant
    FROM q JOIN (VALUES {crit_rows}) AS c(lag, crit) ON c.lag = q.lag
    ORDER BY q.lag
"""


@register("agg_autocorr_ljung_box", oracle=_lb_oracle())
def agg_autocorr_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily-revenue series: the
    lag-k autocorrelations r_k (k = 1..{LJUNG_BOX_LAGS}) of the
    mean-centered series and the cumulative statistic
    Q_K = n(n+2) * sum_k r_k^2/(n-k) against the chi-square 5%
    critical value at df = K (Ljung & Box 1978) — "is this series
    white noise at all" in one bounded table. Completes the
    series-drift family: win_cusum_drift and agg_page_hinkley flag a
    LEVEL change; Ljung-Box flags serial STRUCTURE (weekly cycles,
    momentum) that invalidates the iid assumption every other monitor
    on this table quietly makes.

    Scale/determinism: orders fold to the bounded DAY domain first
    (~2.4k rows at any SF; every window below runs on that frame).
    Centering multiplies through by n — y_t = n*x_t - S1 — so
    deviations are EXACT integers (no double mean), then quantizes to
    the documented milli-lattice via pmod floor-division
    (agg_page_hinkley construction) so lag products and the
    denominator fit decimal(38,0)/HUGEINT at 100 TB day magnitudes.
    Cross products and sums are exact decimal folds (order-free);
    doubles appear only in the final r_k = num_k/den division and the
    Q fold over the {LJUNG_BOX_LAGS}-row lag domain — identical
    expressions both engines, rounded 6/4 dp."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = t.orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents).cast("bigint").alias("cents")
    )
    wall = Window.partitionBy()
    y = (
        F.col("cents").cast("decimal(20,0)")
        * F.count(F.lit(1)).over(wall)
        - F.sum(F.col("cents").cast("decimal(20,0)")).over(wall)
    ).cast("decimal(38,0)")
    scale = F.lit(_LB_SCALE).cast("bigint")
    dev = daily.select(
        "day",
        ((y - F.pmod(y, scale)) / scale).cast("decimal(19,0)").alias("yp"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    wday = Window.orderBy("day")
    lag_cols = [
        F.lag("yp", k).over(wday).alias(f"lag{k}")
        for k in range(1, LJUNG_BOX_LAGS + 1)
    ]
    lagged = dev.select("yp", "t", *lag_cols)
    aggs = [
        F.sum(F.col("yp") * F.col("yp")).alias("den"),
        F.max("t").alias("n"),
    ]
    for k in range(1, LJUNG_BOX_LAGS + 1):
        aggs.append(
            F.sum(
                F.when(F.col("t") > k, F.col("yp") * F.col(f"lag{k}"))
            ).alias(f"num{k}")
        )
    s = lagged.agg(*aggs)
    structs = [
        F.struct(
            F.lit(k).alias("lag"), F.col(f"num{k}").alias("num")
        )
        for k in range(1, LJUNG_BOX_LAGS + 1)
    ]
    perlag = s.select(
        "den", "n", F.explode(F.array(*structs)).alias("row")
    ).select("n", "row.lag", "row.num", "den")
    r = F.col("num").cast("double") / F.col("den").cast("double")
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    q = perlag.select(
        "lag",
        "n",
        r.alias("r"),
        F.sum(F.pow(r, F.lit(2)) / (F.col("n") - F.col("lag")))
        .over(wq)
        .alias("qsum"),
    )
    crit = spark.createDataFrame(
        [(k + 1, c) for k, c in enumerate(_LB_CHI2_CRIT)], "clag int, crit double"
    )
    qq = F.col("n") * (F.col("n") + 2.0) * F.col("qsum")
    return (
        q.join(F.broadcast(crit), q["lag"] == crit["clag"])
        .select(
            "lag",
            F.round("r", 6).alias("autocorr"),
            F.round(qq, 4).alias("q_stat"),
            (qq > F.col("crit")).alias("significant"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Round 10: rank-correlation, survival-comparison, repeated-measures and
# median-shift tests — the four remaining everyday questions the r1-r9
# test battery doesn't answer: does a MONOTONE association hold between
# two daily series (Kendall), do two cohorts' SURVIVAL curves differ
# (log-rank — agg_survival_km draws one curve, this compares two), do k
# binary TREATMENTS on the same subjects differ in rate (Cochran's Q —
# the k-sample McNemar), and do k groups share a MEDIAN (Mood — the
# robust ANOVA when means are outlier-poisoned).
# ---------------------------------------------------------------------------

_KENDALL_ORACLE = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT sign(a.rev_c - b.rev_c) AS dx,
             sign(a.n_orders - b.n_orders) AS dy
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    s AS (
      SELECT
        CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
        CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
        CAST(SUM(CASE WHEN dx = 0 AND dy != 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS ties_x,
        CAST(SUM(CASE WHEN dy = 0 AND dx != 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS ties_y
      FROM pairs
    )
    SELECT n_days, conc, disc, ties_x, ties_y,
           CASE WHEN (conc + disc + ties_y) > 0 AND (conc + disc + ties_x) > 0
                THEN floor((conc - disc)
                           / sqrt(CAST(conc + disc + ties_y AS DOUBLE)
                                  * CAST(conc + disc + ties_x AS DOUBLE))
                           * 1000000) / 1000000
           END AS tau_b,
           abs(3.0 * (conc - disc)
               / sqrt(n_days * CAST(n_days - 1 AS DOUBLE) * (2 * n_days + 5)
                      / 2.0)) > 1.96 AS significant
    FROM s
"""


@register("agg_kendall_tau", oracle=_KENDALL_ORACLE)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between the two daily order
    series — revenue cents vs order count: tau_b =
    (C - D) / sqrt((C + D + Ty) * (C + D + Tx)) over all day pairs,
    with the normal-approximation significance test
    z = 3(C-D)/sqrt(n(n-1)(2n+5)/2) (Kendall 1938). Complements
    agg_spearman_corr: Spearman squares rank GAPS (one big reversal
    dominates), tau counts INVERSIONS (every pair votes once) — the
    robust monotone-association check a revenue/volume sanity audit
    wants.

    Scale/determinism: orders fold to the CALENDAR-bounded day domain
    first (combinable sum/count partials — ~2.4k rows at ANY corpus
    size, the same argument as win_atr's bar frame), so the pair space
    is a fixed ~3M regardless of SF; the pair join is a broadcast
    nested-loop over that bounded domain (never a shuffle, never
    data-proportional). Concordance counts are exact integer 0/1 sums;
    tau enters doubles only in the single final division, floored on
    the 1e-6 lattice. Degenerate guard: an all-tied axis zeroes a
    denominator factor -> tau_b NULL (both engines)."""
    t = load(spark, sf_dir)
    daily = (
        t.orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.day") < F.col("b.day")
    ).select(
        F.signum(F.col("a.rev_c") - F.col("b.rev_c")).alias("dx"),
        F.signum(F.col("a.n_orders") - F.col("b.n_orders")).alias("dy"),
    )
    # n_days rides in as a lazy 1-row broadcast (no eager driver count —
    # the embed_hubness dispatch lesson from ADVICE r9)
    nd_df = daily.agg(F.count(F.lit(1)).alias("n_days"))
    s = pairs.agg(
        F.sum(F.when(F.col("dx") * F.col("dy") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("conc"),
        F.sum(F.when(F.col("dx") * F.col("dy") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("disc"),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") != 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("ties_x"),
        F.sum(
            F.when((F.col("dy") == 0) & (F.col("dx") != 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("ties_y"),
    ).crossJoin(F.broadcast(nd_df))
    conc, disc = F.col("conc"), F.col("disc")
    den_y = conc + disc + F.col("ties_y")
    den_x = conc + disc + F.col("ties_x")
    tau = (conc - disc) / F.sqrt(
        den_y.cast("double") * den_x.cast("double")
    )
    nd = F.col("n_days")
    z = 3.0 * (conc - disc) / F.sqrt(
        nd * (nd - 1).cast("double") * (2 * nd + 5) / 2.0
    )
    return s.select(
        nd.cast("bigint").alias("n_days"),
        "conc",
        "disc",
        "ties_x",
        "ties_y",
        F.when(
            (den_y > 0) & (den_x > 0),
            F.floor(tau * 1_000_000) / 1_000_000,
        ).alias("tau_b"),
        (F.abs(z) > 1.96).alias("significant"),
    )


#: Log-rank priority cohorts: urgent-class orders vs the rest.
LOGRANK_HIGH = ("1-URGENT", "2-HIGH")

_LOGRANK_ORACLE = f"""
    WITH durs AS (
      SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS hi,
             LEAST(date_diff('day', o.o_orderdate, MIN(l.l_shipdate)),
                   {KM_HORIZON_DAYS}) AS t,
             CASE WHEN date_diff('day', o.o_orderdate, MIN(l.l_shipdate))
                       <= {KM_HORIZON_DAYS} THEN 1 ELSE 0 END AS ev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ),
    tt AS (
      SELECT t,
             SUM(ev * hi) AS d1, SUM((1 - ev) * hi) AS c1,
             SUM(ev * (1 - hi)) AS d2, SUM((1 - ev) * (1 - hi)) AS c2
      FROM durs GROUP BY t
    ),
    r AS (
      SELECT t, d1, d2,
             SUM(d1 + c1) OVER () - COALESCE(SUM(d1 + c1) OVER wp, 0) AS n1,
             SUM(d2 + c2) OVER () - COALESCE(SUM(d2 + c2) OVER wp, 0) AS n2,
             SUM(d1 + c1) OVER () AS tot1,
             SUM(d2 + c2) OVER () AS tot2,
             SUM(d1) OVER () AS ev1, SUM(d2) OVER () AS ev2
      FROM tt
      WINDOW wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING)
    ),
    term AS (
      SELECT t, tot1, tot2, ev1, ev2,
             SUM(d1 - CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)) OVER wc
               AS ome,
             SUM(CASE WHEN n1 + n2 > 1
                      THEN ((d1 + d2) * CAST(n1 AS DOUBLE) * n2
                            * (n1 + n2 - d1 - d2))
                           / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                              * (n1 + n2 - 1))
                      ELSE 0.0 END) OVER wc AS v
      FROM r
      WINDOW wc AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
    ),
    s AS (
      SELECT MAX(tot1) AS tot1, MAX(tot2) AS tot2,
             MAX(ev1) AS ev1, MAX(ev2) AS ev2,
             arg_max(ome, t) AS ome, arg_max(v, t) AS v
      FROM term
    )
    SELECT CAST(tot1 AS BIGINT) AS n_high, CAST(tot2 AS BIGINT) AS n_low,
           CAST(ev1 AS BIGINT) AS events_high,
           CAST(ev2 AS BIGINT) AS events_low,
           floor(ome * 10000) / 10000 AS o_minus_e,
           CASE WHEN v > 0
                THEN floor(ome * ome / v * 10000) / 10000 END AS chi2_stat,
           CASE WHEN v > 0
                THEN ome * ome / v > {CHI2_CRIT_BY_DOF[1]} END AS significant
    FROM s
"""


@register("agg_logrank_test", oracle=_LOGRANK_ORACLE)
def agg_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-cohort log-rank test on the agg_survival_km fulfillment
    curve: urgent-class orders (LOGRANK_HIGH priorities) vs the rest,
    time = days from order to first shipment, right-censored at
    KM_HORIZON_DAYS. At each distinct event time the observed cohort-1
    deaths are compared to the hypergeometric expectation
    E1 = d * n1 / n with variance d*(n-d)*n1*n2 / (n^2*(n-1)); the
    chi-square is (sum(O1-E1))^2 / sum(V) on 1 dof (Mantel 1966).
    agg_survival_km DRAWS the curve; this answers "are the two curves
    the same" — the canonical question behind any SLA / cohort
    comparison.

    Scale/determinism: the same join + per-order MIN fold as
    agg_survival_km reduces facts to one row per order, then a second
    combinable groupBy bounds everything by the TIME domain (<=
    horizon+1 rows at any SF). At-risk counts derive from exact integer
    cumulative sums; the O-E and V terms are per-row doubles written
    identically in both engines and folded in TIME order via a
    cumulative window (never a partition-order groupBy sum of doubles);
    outputs floor on the 1e-4 lattice. A zero variance (degenerate
    cohort split) guards chi2/significant to NULL on both sides."""
    t = load(spark, sf_dir)
    hi = F.when(F.col("o_orderpriority").isin(*LOGRANK_HIGH), 1).otherwise(0)
    durs = (
        t.orders.join(
            t.lineitem, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            hi.alias("hi"),
            F.datediff("first_ship", "o_orderdate").alias("dur"),
        )
        .select(
            "hi",
            F.least(F.col("dur"), F.lit(KM_HORIZON_DAYS)).alias("t"),
            F.when(F.col("dur") <= KM_HORIZON_DAYS, 1)
            .otherwise(0)
            .alias("ev"),
        )
    )
    tt = durs.groupBy("t").agg(
        F.sum(F.col("ev") * F.col("hi")).alias("d1"),
        F.sum((1 - F.col("ev")) * F.col("hi")).alias("c1"),
        F.sum(F.col("ev") * (1 - F.col("hi"))).alias("d2"),
        F.sum((1 - F.col("ev")) * (1 - F.col("hi"))).alias("c2"),
    )
    w_all = Window.partitionBy()
    w_prior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    r = tt.select(
        "t",
        "d1",
        "d2",
        (
            F.sum(F.col("d1") + F.col("c1")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d1") + F.col("c1")).over(w_prior), F.lit(0)
            )
        ).alias("n1"),
        (
            F.sum(F.col("d2") + F.col("c2")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d2") + F.col("c2")).over(w_prior), F.lit(0)
            )
        ).alias("n2"),
        F.sum(F.col("d1") + F.col("c1")).over(w_all).alias("tot1"),
        F.sum(F.col("d2") + F.col("c2")).over(w_all).alias("tot2"),
        F.sum("d1").over(w_all).alias("ev1"),
        F.sum("d2").over(w_all).alias("ev2"),
    )
    d = F.col("d1") + F.col("d2")
    n = F.col("n1") + F.col("n2")
    # d enters doubles BEFORE the n1 product: bigint d*n1 at 100 TB order
    # counts (~1e13 each) is ~1e26 — past 2^63 (the agg_bartlett_test /
    # r9-self-audit overflow class); double*bigint is exact here anyway
    # for all counts < 2^53 and identically inexact in both engines above
    e1_term = F.col("d1") - d.cast("double") * F.col("n1") / n
    v_term = F.when(
        n > 1,
        (d * F.col("n1").cast("double") * F.col("n2") * (n - d))
        / (n.cast("double") * n * (n - 1)),
    ).otherwise(F.lit(0.0))
    term = r.select(
        "t",
        "tot1",
        "tot2",
        "ev1",
        "ev2",
        F.sum(e1_term).over(w_cum).alias("ome"),
        F.sum(v_term).over(w_cum).alias("v"),
    )
    s = term.agg(
        F.max("tot1").alias("tot1"),
        F.max("tot2").alias("tot2"),
        F.max("ev1").alias("ev1"),
        F.max("ev2").alias("ev2"),
        F.max_by("ome", "t").alias("ome"),
        F.max_by("v", "t").alias("v"),
    )
    ome, v = F.col("ome"), F.col("v")
    chi2 = ome * ome / v
    return s.select(
        F.col("tot1").cast("bigint").alias("n_high"),
        F.col("tot2").cast("bigint").alias("n_low"),
        F.col("ev1").cast("bigint").alias("events_high"),
        F.col("ev2").cast("bigint").alias("events_low"),
        (F.floor(ome * 10000) / 10000).alias("o_minus_e"),
        F.when(v > 0, F.floor(chi2 * 10000) / 10000).alias("chi2_stat"),
        F.when(v > 0, chi2 > CHI2_CRIT_BY_DOF[1]).alias("significant"),
    )


#: Cochran's Q treatment definitions: three binary per-order conditions
#: derived from the order's lineitems (any returned line / any deep
#: discount / any bulk-quantity line).
COCHRAN_DISCOUNT_MIN = 0.05
COCHRAN_QTY_MIN = 30

_COCHRAN_ORACLE = f"""
    WITH flags AS (
      SELECT l_orderkey,
             MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS b1,
             MAX(CASE WHEN l_discount > {COCHRAN_DISCOUNT_MIN}
                      THEN 1 ELSE 0 END) AS b2,
             MAX(CASE WHEN l_quantity >= {COCHRAN_QTY_MIN}
                      THEN 1 ELSE 0 END) AS b3
      FROM lineitem GROUP BY l_orderkey
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(b1) AS HUGEINT) AS c1,
             CAST(SUM(b2) AS HUGEINT) AS c2,
             CAST(SUM(b3) AS HUGEINT) AS c3,
             CAST(SUM((b1 + b2 + b3) * (b1 + b2 + b3)) AS HUGEINT) AS sri2
      FROM flags
    )
    SELECT n,
           CAST(c1 AS BIGINT) AS n_returned,
           CAST(c2 AS BIGINT) AS n_discounted,
           CAST(c3 AS BIGINT) AS n_bulk,
           CASE WHEN 3 * (c1 + c2 + c3) - sri2 > 0
                THEN floor(CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
                                     - (c1 + c2 + c3) * (c1 + c2 + c3))
                                AS DOUBLE)
                           / CAST(3 * (c1 + c2 + c3) - sri2 AS DOUBLE)
                           * 10000) / 10000 END AS q_stat,
           CASE WHEN 3 * (c1 + c2 + c3) - sri2 > 0
                THEN CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
                               - (c1 + c2 + c3) * (c1 + c2 + c3)) AS DOUBLE)
                     / CAST(3 * (c1 + c2 + c3) - sri2 AS DOUBLE)
                     > {CHI2_CRIT_BY_DOF[2]} END AS significant
    FROM s
"""


@register("agg_cochran_q", oracle=_COCHRAN_ORACLE)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test — do k=3 binary per-order conditions (any
    returned line, any discount > COCHRAN_DISCOUNT_MIN, any quantity >=
    COCHRAN_QTY_MIN) occur at the same rate on the SAME subjects?
    Q = (k-1) * (k*sum(Cj^2) - T^2) / (k*T - sum(Ri^2)) ~ chi2(k-1)
    (Cochran 1950) — the k-treatment generalization of agg_mcnemar_test
    the way agg_friedman_test generalizes the paired t-test: marginal
    rate comparisons ignore that the flags share orders; Q conditions
    on each order's own row total.

    Scale/determinism: one combinable groupBy folds lineitem to
    per-order bits; the second agg is all exact integers — Cj and the
    squared terms run in decimal(38,0)/HUGEINT because Cj^2 at 100 TB
    order counts (~1e13) passes 2^63 (the agg_bartlett_test overflow
    doctrine); Q enters doubles in one final division, floored on the
    1e-4 lattice. Degenerate guard: every order flagged all-or-nothing
    makes the denominator exactly zero -> NULL (both engines)."""
    t = load(spark, sf_dir)
    flags = t.lineitem.groupBy("l_orderkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("b1"),
        F.max(
            F.when(F.col("l_discount") > COCHRAN_DISCOUNT_MIN, 1).otherwise(0)
        ).alias("b2"),
        F.max(
            F.when(F.col("l_quantity") >= COCHRAN_QTY_MIN, 1).otherwise(0)
        ).alias("b3"),
    )
    ri = F.col("b1") + F.col("b2") + F.col("b3")
    s = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("b1").cast("decimal(38,0)").alias("c1"),
        F.sum("b2").cast("decimal(38,0)").alias("c2"),
        F.sum("b3").cast("decimal(38,0)").alias("c3"),
        F.sum(ri * ri).cast("decimal(38,0)").alias("sri2"),
    )
    c1, c2, c3, sri2 = (F.col(c) for c in ("c1", "c2", "c3", "sri2"))
    tot = c1 + c2 + c3
    num = (2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - tot * tot)).cast(
        "double"
    )
    den = (3 * tot - sri2).cast("double")
    q = num / den
    ok = (3 * tot - sri2) > 0
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        c1.cast("bigint").alias("n_returned"),
        c2.cast("bigint").alias("n_discounted"),
        c3.cast("bigint").alias("n_bulk"),
        F.when(ok, F.floor(q * 10000) / 10000).alias("q_stat"),
        F.when(ok, q > CHI2_CRIT_BY_DOF[2]).alias("significant"),
    )


def _chi2_crit_values_sql() -> str:
    return ", ".join(f"({d}, {c})" for d, c in CHI2_CRIT_BY_DOF.items())


_MOOD_ORACLE = f"""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    vg AS (
      SELECT cents, COUNT(*) AS cnt FROM c GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             SUM(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cc,
             SUM(cnt) OVER () AS n
      FROM vg
    ),
    med AS (
      SELECT MIN(cents) AS med FROM cum WHERE cc >= (n + 1) // 2
    ),
    cells AS (
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN cents > med THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above,
             CAST(SUM(CASE WHEN cents <= med THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below
      FROM c CROSS JOIN med GROUP BY o_orderpriority
    ),
    tot AS (
      SELECT o_orderpriority, n_above, n_below,
             SUM(n_above) OVER () AS ta, SUM(n_below) OVER () AS tb,
             SUM(n_above + n_below) OVER () AS n,
             COUNT(*) OVER () AS k
      FROM cells
    ),
    term AS (
      SELECT *,
             CAST(n_above + n_below AS DOUBLE) * ta / n AS ea,
             CAST(n_above + n_below AS DOUBLE) * tb / n AS eb
      FROM tot
    ),
    cumterm AS (
      SELECT *,
             SUM(CASE WHEN ta > 0 AND tb > 0
                      THEN (n_above - ea) * (n_above - ea) / ea
                           + (n_below - eb) * (n_below - eb) / eb
                 END) OVER (ORDER BY o_orderpriority
                            ROWS UNBOUNDED PRECEDING) AS cum_chi
      FROM term
    ),
    chi AS (
      SELECT *, MAX(cum_chi) OVER () AS chi2 FROM cumterm
    )
    SELECT o_orderpriority, n_above, n_below,
           floor(ea * 10000) / 10000 AS exp_above,
           CAST(k - 1 AS BIGINT) AS dof,
           floor(chi2 * 10000) / 10000 AS chi2_stat,
           chi2 > crit.crit AS medians_differ
    FROM chi
    LEFT JOIN (VALUES {_chi2_crit_values_sql()}) AS crit(dof, crit)
      ON crit.dof = chi.k - 1
    ORDER BY o_orderpriority
"""


@register("agg_mood_median_test", oracle=_MOOD_ORACLE)
def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across order priorities: classify every order
    as above / at-or-below the GRAND lower median of o_totalprice and
    chi-square the resulting 2 x k contingency (dof k-1). The robust
    complement to agg_anova_oneway and agg_kruskal_wallis: ANOVA
    compares means (outlier-poisoned), KW compares mean RANKS (needs
    similar shapes); Mood only asks "which side of the median" — valid
    under any shape, the right screen for heavy-tailed money columns.

    Scale/determinism: the grand median comes from exact integer
    cumulative counts over the bounded PRICE-CENTS value domain (the
    agg_ks_test recipe — never a per-row rank), selected by integer
    floor-division position, so both engines pick the identical cent;
    cell counts are exact integers; expected counts and chi-square
    terms are per-row doubles over the <=5-row priority domain folded
    in PRIORITY order via a cumulative window; crit values come from
    the shared CHI2_CRIT_BY_DOF broadcast table keyed by the emitted
    dof. Degenerate guard: an empty above- or below-side (all prices
    equal) nulls the statistic on both engines."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    c = t.orders.select(
        "o_orderpriority", cents.alias("cents")
    )
    vg = c.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    w_vcum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = vg.select(
        "cents",
        F.sum("cnt").over(w_vcum).alias("cc"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    med = cum.where(
        F.col("cc") >= F.expr("(n + 1) div 2")
    ).agg(F.min("cents").alias("med"))
    cells = (
        c.crossJoin(F.broadcast(med))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.when(F.col("cents") > F.col("med"), 1).otherwise(0)
            ).alias("n_above"),
            F.sum(
                F.when(F.col("cents") <= F.col("med"), 1).otherwise(0)
            ).alias("n_below"),
        )
    )
    rt = F.col("n_above") + F.col("n_below")
    tot = cells.select(
        "o_orderpriority",
        "n_above",
        "n_below",
        F.sum("n_above").over(w_all).alias("ta"),
        F.sum("n_below").over(w_all).alias("tb"),
        F.sum(rt).over(w_all).alias("n"),
        F.count(F.lit(1)).over(w_all).alias("k"),
    )
    # row total enters doubles BEFORE the column-total product: bigint
    # rt*ta at 100 TB order counts is ~1e26 — past 2^63 (the same
    # overflow class as agg_logrank_test's fix, found by this round's
    # self-audit)
    ea = rt.cast("double") * F.col("ta") / F.col("n")
    eb = rt.cast("double") * F.col("tb") / F.col("n")
    cell_term = F.when(
        (F.col("ta") > 0) & (F.col("tb") > 0),
        (F.col("n_above") - ea) * (F.col("n_above") - ea) / ea
        + (F.col("n_below") - eb) * (F.col("n_below") - eb) / eb,
    )
    w_pri = Window.orderBy("o_orderpriority").rowsBetween(
        Window.unboundedPreceding, 0
    )
    chi = tot.select(
        "o_orderpriority",
        "n_above",
        "n_below",
        ea.alias("ea"),
        "k",
        F.max(F.sum(cell_term).over(w_pri)).over(w_all).alias("chi2"),
    )
    crit = spark.createDataFrame(
        list(CHI2_CRIT_BY_DOF.items()), "cdof int, crit double"
    )
    return (
        chi.join(
            F.broadcast(crit), F.col("cdof") == F.col("k") - 1, "left"
        )
        .select(
            "o_orderpriority",
            "n_above",
            "n_below",
            (F.floor(F.col("ea") * 10000) / 10000).alias("exp_above"),
            (F.col("k") - 1).cast("bigint").alias("dof"),
            (F.floor(F.col("chi2") * 10000) / 10000).alias("chi2_stat"),
            (F.col("chi2") > F.col("crit")).alias("medians_differ"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# r11 two-sample distribution batch: effect sizes and distribution
# distances between the purchase and click value samples, all on the
# agg_mann_whitney bounded VALUE-LATTICE recipe — group by cents first
# (domain-bounded at ANY corpus size: 2-dp money in a fixed price range),
# then exact-integer cumulative counts over one ordered window; doubles
# enter only in final single expressions or bin-ordered bounded folds.

from .aggregates import TTEST_A, TTEST_B  # noqa: E402  (shared arms)

#: Shared lattice CTE: per distinct cents value, counts per arm plus
#: inclusive/exclusive cumulative counts, arm totals, and the gap to the
#: next lattice point (for CDF-integral statistics).
_TWO_SAMPLE_LATTICE_SQL = f"""
    ev AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type IN ('{TTEST_A}', '{TTEST_B}')
    ),
    vg AS (
      SELECT v,
             SUM(CASE WHEN event_type = '{TTEST_A}' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN event_type = '{TTEST_B}' THEN 1 ELSE 0 END) AS cb
      FROM ev GROUP BY v
    ),
    cum AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cca,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ccb,
             COALESCE(SUM(ca) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pca,
             COALESCE(SUM(cb) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pcb,
             SUM(ca) OVER () AS na,
             SUM(cb) OVER () AS nb,
             LEAD(v) OVER (ORDER BY v) AS nv
      FROM vg
    )
"""


def _two_sample_lattice(t) -> DataFrame:
    """Spark twin of _TWO_SAMPLE_LATTICE_SQL (same column names)."""
    ev = t.events.where(
        F.col("event_type").isin(TTEST_A, TTEST_B)
    ).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    vg = ev.groupBy("v").agg(
        F.sum(
            F.when(F.col("event_type") == TTEST_A, 1).otherwise(0)
        ).alias("ca"),
        F.sum(
            F.when(F.col("event_type") == TTEST_B, 1).otherwise(0)
        ).alias("cb"),
    )
    w_inc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_exc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    w_ord = Window.orderBy("v")
    return vg.select(
        "v",
        "ca",
        "cb",
        F.sum("ca").over(w_inc).alias("cca"),
        F.sum("cb").over(w_inc).alias("ccb"),
        F.coalesce(F.sum("ca").over(w_exc), F.lit(0)).alias("pca"),
        F.coalesce(F.sum("cb").over(w_exc), F.lit(0)).alias("pcb"),
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
        F.lead("v").over(w_ord).alias("nv"),
    )


_DEC = "decimal(38,0)"

_CLIFF_ORACLE = f"""
    WITH {_TWO_SAMPLE_LATTICE_SQL},
    s AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb,
             SUM(CAST(ca AS DECIMAL(38,0)) * pcb) AS gt,
             SUM(CAST(cb AS DECIMAL(38,0)) * pca) AS lt
      FROM cum
    ),
    d AS (
      SELECT na, nb,
             floor((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                   / (CAST(na AS DOUBLE) * nb) * 1000000)
               / 1000000 AS cliff_delta
      FROM s
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           cliff_delta,
           CASE WHEN abs(cliff_delta) < 0.147 THEN 'negligible'
                WHEN abs(cliff_delta) < 0.33  THEN 'small'
                WHEN abs(cliff_delta) < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM d
"""


@register("agg_cliff_delta", oracle=_CLIFF_ORACLE)
def agg_cliff_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between the purchase and click value samples:
    delta = (#(a > b) - #(a < b)) / (n_a * n_b) over all cross pairs —
    the ORDINAL effect size that goes with agg_mann_whitney the way
    agg_cohens_d goes with agg_t_test: MW's z says a shift exists (any
    shift is "significant" at corpus n), delta says HOW OFTEN a random
    purchase actually beats a random click (+1 = always, 0 = coin
    flip), which is the decision-relevant number. Magnitude labels per
    Romano et al. (2006): 0.147 / 0.33 / 0.474.

    Scale/determinism: pair counts come from the bounded value lattice
    — #(a>b) = sum over values of ca(v) * (B strictly below v), an
    exact DECIMAL(38) fold (pair counts reach n_a*n_b ~ 1e24 at corpus
    scale, past BIGINT — the r9/r10 overflow-audit class, guarded by
    construction); delta is one division on the 1e-6 floor lattice and
    the label reads the FLOORED value, so both engines agree at bucket
    boundaries."""
    t = load(spark, sf_dir)
    cum = _two_sample_lattice(t)
    s = cum.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum(F.col("ca").cast(_DEC) * F.col("pcb")).alias("gt"),
        F.sum(F.col("cb").cast(_DEC) * F.col("pca")).alias("lt"),
    )
    delta = (
        F.floor(
            (F.col("gt").cast("double") - F.col("lt").cast("double"))
            / (F.col("na").cast("double") * F.col("nb"))
            * 1_000_000
        )
        / 1_000_000
    )
    d = s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        delta.alias("cliff_delta"),
    )
    a = F.abs(F.col("cliff_delta"))
    return d.select(
        "n_a",
        "n_b",
        "cliff_delta",
        F.when(a < 0.147, "negligible")
        .when(a < 0.33, "small")
        .when(a < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


_W1_ORACLE = f"""
    WITH {_TWO_SAMPLE_LATTICE_SQL},
    s AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb,
             SUM(CASE WHEN nv IS NOT NULL
                      THEN abs(CAST(cca AS DECIMAL(38,0)) * nb
                               - CAST(ccb AS DECIMAL(38,0)) * na)
                           * (nv - v) END) AS s1
      FROM cum
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           floor(CAST(s1 AS DOUBLE)
                 / (CAST(na AS DOUBLE) * nb * 100.0) * 1000000)
             / 1000000 AS wasserstein_1
    FROM s
"""


@register("agg_wasserstein_1d", oracle=_W1_ORACLE)
def agg_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth mover's) distance between the purchase
    and click value distributions, in dollars: W1 = integral of
    |ECDF_a - ECDF_b| — the AREA between the CDFs. agg_ks_test reads
    their largest GAP (sup-norm: one bad quantile triggers it); W1
    reads the total transport work, so it is the drift magnitude you
    can compare across columns and thresholds — "the click distribution
    sits $W1 away from purchases" — and the standard drift metric
    between training-data snapshots.

    Scale/determinism: on the bounded lattice W1 is EXACT integer
    arithmetic end to end — |cca*nb - ccb*na| * gap summed in
    DECIMAL(38) (cca*nb ~ 1e24 at corpus scale, the r9 overflow-audit
    class; the gap-weighted sum is bounded by n_a*n_b*price_range ~
    6e31, inside DECIMAL(38)) — then ONE division to dollars on the
    1e-6 floor lattice. No sampling, no binning error."""
    t = load(spark, sf_dir)
    cum = _two_sample_lattice(t)
    term = F.when(
        F.col("nv").isNotNull(),
        F.abs(
            F.col("cca").cast(_DEC) * F.col("nb")
            - F.col("ccb").cast(_DEC) * F.col("na")
        )
        * (F.col("nv") - F.col("v")),
    )
    s = cum.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum(term).alias("s1"),
    )
    return s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        (
            F.floor(
                F.col("s1").cast("double")
                / (F.col("na").cast("double") * F.col("nb") * 100.0)
                * 1_000_000
            )
            / 1_000_000
        ).alias("wasserstein_1"),
    )


_ENERGY_ORACLE = f"""
    WITH {_TWO_SAMPLE_LATTICE_SQL},
    s AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb,
             SUM(CASE WHEN nv IS NOT NULL
                      THEN (CAST(cca AS DECIMAL(38,0)) * (nb - ccb)
                            + CAST(ccb AS DECIMAL(38,0)) * (na - cca))
                           * (nv - v) END) AS sxy,
             SUM(CASE WHEN nv IS NOT NULL
                      THEN CAST(cca AS DECIMAL(38,0)) * (na - cca)
                           * (nv - v) END) AS sxx,
             SUM(CASE WHEN nv IS NOT NULL
                      THEN CAST(ccb AS DECIMAL(38,0)) * (nb - ccb)
                           * (nv - v) END) AS syy
      FROM cum
    ),
    e AS (
      SELECT na, nb,
             CAST(sxy AS DOUBLE) / (CAST(na AS DOUBLE) * nb * 100.0)
               AS exy,
             2.0 * CAST(sxx AS DOUBLE)
               / (CAST(na AS DOUBLE) * na * 100.0) AS exx,
             2.0 * CAST(syy AS DOUBLE)
               / (CAST(nb AS DOUBLE) * nb * 100.0) AS eyy
      FROM s
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           floor(exy * 1000000) / 1000000 AS e_between,
           floor(exx * 1000000) / 1000000 AS e_within_a,
           floor(eyy * 1000000) / 1000000 AS e_within_b,
           floor(sqrt(GREATEST(2 * exy - exx - eyy, 0)) * 1000000)
             / 1000000 AS energy_distance,
           CASE WHEN exy > 0
                THEN floor((2 * exy - exx - eyy) / (2 * exy) * 1000000)
                     / 1000000 END AS e_coefficient
    FROM e
"""


@register("agg_energy_distance", oracle=_ENERGY_ORACLE)
def agg_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between the purchase and click value samples
    (Szekely): D^2 = 2 E|X-Y| - E|X-X'| - E|Y-Y'|, zero iff the
    distributions are equal — the modern omnibus two-sample statistic
    (sensitive to ANY difference: location, scale, shape — where
    agg_t_test sees only means, agg_mood_scale_test only spread, and
    the CDF tests weight the middle; the e_coefficient D^2/(2 E|X-Y|)
    in [0,1] is its normalized effect size). In 1-D every expectation
    is a CDF integral: E|X-Y| = integral of (Fa(1-Fb) + Fb(1-Fa)).

    Scale/determinism: all three V-statistic terms fold as EXACT
    DECIMAL(38) gap-weighted products of cumulative counts on the
    bounded lattice (cca*(na-cca) ~ 2.5e23 at corpus scale — the
    overflow-audit class, guarded by construction); each enters
    doubles once, and the derived distance/coefficient are identical
    single expressions floored at 1e-6."""
    t = load(spark, sf_dir)
    cum = _two_sample_lattice(t)
    gap = F.col("nv") - F.col("v")
    has = F.col("nv").isNotNull()
    s = cum.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum(
            F.when(
                has,
                (
                    F.col("cca").cast(_DEC) * (F.col("nb") - F.col("ccb"))
                    + F.col("ccb").cast(_DEC) * (F.col("na") - F.col("cca"))
                )
                * gap,
            )
        ).alias("sxy"),
        F.sum(
            F.when(
                has,
                F.col("cca").cast(_DEC)
                * (F.col("na") - F.col("cca"))
                * gap,
            )
        ).alias("sxx"),
        F.sum(
            F.when(
                has,
                F.col("ccb").cast(_DEC)
                * (F.col("nb") - F.col("ccb"))
                * gap,
            )
        ).alias("syy"),
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    exy = F.col("sxy").cast("double") / (na_d * F.col("nb") * 100.0)
    exx = 2.0 * F.col("sxx").cast("double") / (na_d * F.col("na") * 100.0)
    eyy = 2.0 * F.col("syy").cast("double") / (nb_d * F.col("nb") * 100.0)
    e = s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        exy.alias("exy"),
        exx.alias("exx"),
        eyy.alias("eyy"),
    )
    d2 = 2 * F.col("exy") - F.col("exx") - F.col("eyy")
    return e.select(
        "n_a",
        "n_b",
        (F.floor(F.col("exy") * 1_000_000) / 1_000_000).alias("e_between"),
        (F.floor(F.col("exx") * 1_000_000) / 1_000_000).alias(
            "e_within_a"
        ),
        (F.floor(F.col("eyy") * 1_000_000) / 1_000_000).alias(
            "e_within_b"
        ),
        (
            F.floor(F.sqrt(F.greatest(d2, F.lit(0))) * 1_000_000)
            / 1_000_000
        ).alias("energy_distance"),
        F.when(
            F.col("exy") > 0,
            F.floor(d2 / (2 * F.col("exy")) * 1_000_000) / 1_000_000,
        ).alias("e_coefficient"),
    )


#: Equi-width bin count for the histogram-distance panel.
HIST_DIST_BINS = 32

_HIST_DIST_ORACLE = f"""
    WITH {_TWO_SAMPLE_LATTICE_SQL},
    rng AS (
      SELECT MIN(v) AS mn, MAX(v) AS mx FROM vg
    ),
    bins AS (
      SELECT ((v - mn) * {HIST_DIST_BINS}) // (mx - mn + 1) AS bin,
             SUM(ca) AS ca, SUM(cb) AS cb
      FROM vg, rng GROUP BY 1
    ),
    t AS (
      SELECT SUM(ca) AS na, SUM(cb) AS nb,
             COUNT(*) AS n_bins_used,
             SUM(abs(CAST(ca AS DECIMAL(38,0)) * (SELECT SUM(cb) FROM bins)
                     - CAST(cb AS DECIMAL(38,0))
                       * (SELECT SUM(ca) FROM bins))) AS tvn
      FROM bins
    ),
    bc AS (
      SELECT SUM(sqrt(CAST(ca AS DOUBLE) * cb)
                 ) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS s,
             ROW_NUMBER() OVER (ORDER BY bin) AS rn,
             COUNT(*) OVER () AS nbins
      FROM bins
    ),
    bcf AS (SELECT s AS bsum FROM bc WHERE rn = nbins)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(n_bins_used AS BIGINT) AS n_bins_used,
           floor(CAST(tvn AS DOUBLE)
                 / (2.0 * CAST(na AS DOUBLE) * nb) * 1000000)
             / 1000000 AS total_variation,
           floor(bsum / sqrt(CAST(na AS DOUBLE) * nb) * 1000000)
             / 1000000 AS bhattacharyya,
           floor(sqrt(GREATEST(
                   1 - bsum / sqrt(CAST(na AS DOUBLE) * nb), 0))
                 * 1000000) / 1000000 AS hellinger
    FROM t, bcf
"""


@register("agg_hist_distance", oracle=_HIST_DIST_ORACLE)
def agg_hist_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-distance panel between the purchase and click value
    distributions over {HIST_DIST_BINS} shared equi-width bins: total
    variation (L1/2 — the largest possible probability disagreement any
    event can show), Bhattacharyya coefficient (overlap, 1 = identical)
    and Hellinger distance sqrt(1 - BC) (the bounded [0,1] metric).
    Together with agg_wasserstein_1d (transport) and
    agg_energy_distance (omnibus) this completes the drift-metric
    family: TV/Hellinger are the DENSITY-overlap views that saturate
    when supports separate, where W1 keeps growing with the gap — you
    want both when monitoring corpus snapshots.

    Scale/determinism: binning is integer arithmetic on the bounded
    lattice ((v - mn) * {HIST_DIST_BINS}) // (range + 1) — exact and
    identical both engines); TV folds exact DECIMAL(38) cross products
    (the overflow-audit class); per-bin sqrt(ca*cb) terms are doubles
    summed in BIN ORDER via a cumulative window over the
    {HIST_DIST_BINS}-row frame (deterministic fp order, the mood-test
    doctrine); the three outputs are single divisions floored at 1e-6.
    The 1-row (mn, mx) range broadcasts."""
    t = load(spark, sf_dir)
    ev = t.events.where(
        F.col("event_type").isin(TTEST_A, TTEST_B)
    ).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    vg = ev.groupBy("v").agg(
        F.sum(
            F.when(F.col("event_type") == TTEST_A, 1).otherwise(0)
        ).alias("ca"),
        F.sum(
            F.when(F.col("event_type") == TTEST_B, 1).otherwise(0)
        ).alias("cb"),
    )
    rng = vg.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    bins = (
        vg.crossJoin(F.broadcast(rng))
        .groupBy(
            F.expr(
                f"((v - mn) * {HIST_DIST_BINS}) div (mx - mn + 1)"
            ).alias("bin")
        )
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    w_all = Window.partitionBy()
    tot = bins.select(
        "bin",
        "ca",
        "cb",
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
    )
    w_bin = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scored = tot.select(
        "bin",
        "ca",
        "cb",
        "na",
        "nb",
        F.abs(
            F.col("ca").cast(_DEC) * F.col("nb")
            - F.col("cb").cast(_DEC) * F.col("na")
        ).alias("tv_term"),
        F.sum(
            F.sqrt(F.col("ca").cast("double") * F.col("cb"))
        )
        .over(w_bin)
        .alias("bsum_cum"),
    )
    s = scored.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.count(F.lit(1)).alias("n_bins_used"),
        F.sum("tv_term").alias("tvn"),
        F.max_by("bsum_cum", "bin").alias("bsum"),
    )
    na_d = F.col("na").cast("double")
    bc = F.col("bsum") / F.sqrt(na_d * F.col("nb"))
    return s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("n_bins_used").cast("bigint").alias("n_bins_used"),
        (
            F.floor(
                F.col("tvn").cast("double")
                / (2.0 * na_d * F.col("nb"))
                * 1_000_000
            )
            / 1_000_000
        ).alias("total_variation"),
        (F.floor(bc * 1_000_000) / 1_000_000).alias("bhattacharyya"),
        (
            F.floor(
                F.sqrt(F.greatest(1 - bc, F.lit(0))) * 1_000_000
            )
            / 1_000_000
        ).alias("hellinger"),
    )


_MOOD_SCALE_ORACLE = f"""
    WITH {_TWO_SAMPLE_LATTICE_SQL},
    sc AS (
      SELECT ca, cb, ca + cb AS c,
             2 * (pca + pcb) + (ca + cb) - na - nb AS u,
             na, nb, v
      FROM cum
    ),
    agg1 AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb,
             SUM(ca * CAST(u AS DECIMAL(38,0)) * u) AS t4,
             SUM(c * CAST(u AS DECIMAL(38,0)) * u) AS s1
      FROM sc
    ),
    agg2 AS (
      SELECT SUM(c * CAST(u AS DOUBLE) * u * u * u)
                 OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS s2c,
             ROW_NUMBER() OVER (ORDER BY v) AS rn,
             COUNT(*) OVER () AS nr
      FROM sc
    ),
    s2f AS (SELECT s2c AS s2 FROM agg2 WHERE rn = nr),
    z AS (
      SELECT na, nb, t4,
             CAST(na AS DOUBLE) + nb AS n,
             CAST(t4 AS DOUBLE) AS t4d,
             CAST(s1 AS DOUBLE) AS s1d,
             s2
      FROM agg1, s2f
    ),
    fin AS (
      SELECT na, nb,
             t4d,
             na * s1d / n AS e_t,
             na * CAST(nb AS DOUBLE) * (n * s2 - s1d * s1d)
               / (n * n * (n - 1)) AS var_t
      FROM z
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CASE WHEN var_t > 0
                THEN floor((t4d - e_t) / sqrt(var_t) * 10000) / 10000
           END AS z_stat,
           CASE WHEN var_t > 0
                THEN abs((t4d - e_t) / sqrt(var_t)) > 1.96 END
             AS scales_differ
    FROM fin
"""


@register("agg_mood_scale_test", oracle=_MOOD_SCALE_ORACLE)
def agg_mood_scale_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's two-sample SCALE test between the purchase and click value
    samples: score each observation (r - (N+1)/2)^2 by its combined-
    sample rank r, sum over the first sample, and z-score against the
    exact finite-population moments — the rank test for "same center,
    different SPREAD", completing the rank-test family
    (agg_mann_whitney = location, agg_ks_test = any CDF gap,
    agg_mood_median_test = robust location; none of those isolates
    dispersion). Tie convention: each tied block scores at its MIDRANK
    (Conover), which keeps every score an exact integer in x4 units
    (u = 2*rbar - (N+1) is integral).

    Scale/determinism: scores live on the bounded value lattice; T and
    the population score-sum S1 fold in exact DECIMAL(38) (u^2 ~ 4e24
    at corpus scale); only the 4th-moment sum S2 needs doubles, and it
    folds in LATTICE ORDER via a cumulative window (deterministic fp
    sequence both engines — the mood-median cumterm doctrine); z is
    one closed-form expression floored at 1e-4. Degenerate guard: zero
    variance (all values tied) nulls the verdict."""
    t = load(spark, sf_dir)
    cum = _two_sample_lattice(t)
    c = F.col("ca") + F.col("cb")
    u = (
        2 * (F.col("pca") + F.col("pcb"))
        + c
        - F.col("na")
        - F.col("nb")
    )
    sc = cum.select(
        "v",
        "ca",
        "cb",
        c.alias("c"),
        u.alias("u"),
        "na",
        "nb",
    )
    w_ord = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    u_dec = F.col("u").cast(_DEC)
    u_dbl = F.col("u").cast("double")
    scored = sc.select(
        "v",
        "ca",
        "c",
        "na",
        "nb",
        (F.col("ca") * u_dec * F.col("u")).alias("t4_term"),
        (F.col("c") * u_dec * F.col("u")).alias("s1_term"),
        F.sum(F.col("c") * u_dbl * u_dbl * u_dbl * u_dbl)
        .over(w_ord)
        .alias("s2_cum"),
    )
    s = scored.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum("t4_term").alias("t4"),
        F.sum("s1_term").alias("s1"),
        F.max_by("s2_cum", "v").alias("s2"),
    )
    n = F.col("na").cast("double") + F.col("nb")
    t4d = F.col("t4").cast("double")
    s1d = F.col("s1").cast("double")
    e_t = F.col("na") * s1d / n
    var_t = (
        F.col("na")
        * F.col("nb").cast("double")
        * (n * F.col("s2") - s1d * s1d)
        / (n * n * (n - 1))
    )
    zc = (t4d - e_t) / F.sqrt(var_t)
    return s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.when(var_t > 0, F.floor(zc * 10000) / 10000).alias("z_stat"),
        F.when(var_t > 0, F.abs(zc) > 1.96).alias("scales_differ"),
    )


# ---------------------------------------------------------------------------
# r11 k-sample batch: heteroscedastic ANOVA and the ordered-alternative
# trend test.

# (r12: the former WELCH_F_CRIT_4_INF hard-wired dof1=4; the verdict
# now keys F_CRIT_INF_BY_DOF1 on the observed k-1 and nulls when
# untabled, matching the agg_anova_oneway convention.)

_WELCH_ORACLE = f"""
    WITH ev AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
    ),
    g AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(v) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(v * v) AS DECIMAL(38,0)) AS s2
      FROM ev GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n,
             CAST(s1 AS DOUBLE) / n AS mj,
             CAST(n * s2 - s1 * s1 AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS s2j
      FROM g
    ),
    w AS (
      SELECT event_type, n, mj, s2j, n / s2j AS wj,
             SUM(n / s2j) OVER () AS bigw,
             COUNT(*) OVER () AS k
      FROM m
    ),
    mw AS (
      SELECT *,
             SUM(wj * mj) OVER (ORDER BY event_type
                                ROWS UNBOUNDED PRECEDING) AS wm_cum,
             ROW_NUMBER() OVER (ORDER BY event_type) AS rn
      FROM w
    ),
    ybar AS (
      SELECT MAX(CASE WHEN rn = k THEN wm_cum END) / MAX(bigw) AS yw,
             MAX(bigw) AS bigw, MAX(k) AS k
      FROM mw
    ),
    terms AS (
      SELECT w.event_type, w.wj, w.mj, w.n, y.yw, y.bigw, y.k,
             SUM(w.wj * (w.mj - y.yw) * (w.mj - y.yw))
               OVER (ORDER BY w.event_type ROWS UNBOUNDED PRECEDING)
               AS a_cum,
             SUM((1 - w.wj / y.bigw) * (1 - w.wj / y.bigw) / (w.n - 1))
               OVER (ORDER BY w.event_type ROWS UNBOUNDED PRECEDING)
               AS lam_cum,
             ROW_NUMBER() OVER (ORDER BY w.event_type) AS rn
      FROM w, ybar y
    ),
    fin AS (
      SELECT k,
             MAX(CASE WHEN rn = k THEN a_cum END) / (k - 1) AS a,
             MAX(CASE WHEN rn = k THEN lam_cum END) AS lam
      FROM terms GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS k,
           floor(a / (1 + 2.0 * (k - 2) / (k * k - 1.0) * lam) * 10000)
             / 10000 AS f_stat,
           ROUND((k * k - 1.0) / (3.0 * lam), 1) AS df2,
           a / (1 + 2.0 * (k - 2) / (k * k - 1.0) * lam)
             > (CASE k - 1 {" ".join(
                 f"WHEN {d} THEN {c}"
                 for d, c in F_CRIT_INF_BY_DOF1.items()
             )} END) AS means_differ
    FROM fin
"""


@register("agg_welch_anova", oracle=_WELCH_ORACLE)
def agg_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA across the event-type arms:
    precision-weighted between-group scatter over the Welch correction
    term, F* = [sum w_j(m_j - yw)^2/(k-1)] / [1 + 2(k-2)/(k^2-1) * L],
    w_j = n_j/s_j^2. agg_anova_oneway pools variances — anticonservative
    exactly when agg_levene_test says spreads differ (which heavy-tailed
    money columns always do); Welch is the ANOVA you are allowed to run
    WITHOUT that assumption, closing the k-sample triple
    (classic / rank / heteroscedastic).

    Scale/determinism: per-arm (n, sum, sum-of-squares) fold in exact
    DECIMAL(38) cents (sum v^2 ~ 2.4e21 at corpus scale — past BIGINT,
    the overflow-audit class); means and variances are per-row single
    divisions; the k-row weighted folds (sum w_j m_j, scatter, Lambda)
    run in EVENT-TYPE ORDER via cumulative windows (deterministic fp
    sequence on the bounded arm domain — the mood-median doctrine);
    F* and df2 are single closed-form expressions, floored at 1e-4 /
    rounded at 0.1. Verdict vs F(k-1, inf) at 5%."""
    t = load(spark, sf_dir)
    ev = t.events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    # v*v widens to decimal BEFORE the sum: sum(v^2) ~ 2.4e21 at
    # corpus scale, past 2^63 (r11 overflow self-audit)
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast(_DEC)).alias("s1"),
        F.sum(F.col("v").cast(_DEC) * F.col("v")).alias("s2"),
    )
    mj = F.col("s1").cast("double") / F.col("n")
    s2j = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    m = g.select("event_type", "n", mj.alias("mj"), s2j.alias("s2j"))
    w_all = Window.partitionBy()
    w = m.select(
        "event_type",
        "n",
        "mj",
        "s2j",
        (F.col("n") / F.col("s2j")).alias("wj"),
        F.sum(F.col("n") / F.col("s2j")).over(w_all).alias("bigw"),
        F.count(F.lit(1)).over(w_all).alias("k"),
    )
    w_ord = Window.orderBy("event_type").rowsBetween(
        Window.unboundedPreceding, 0
    )
    mw = w.select(
        "*",
        F.sum(F.col("wj") * F.col("mj")).over(w_ord).alias("wm_cum"),
    )
    yw = F.max_by("wm_cum", "event_type") / F.max("bigw")
    yb = mw.agg(
        yw.alias("yw"), F.max("bigw").alias("bigw"), F.max("k").alias("k")
    )
    terms = w.crossJoin(F.broadcast(yb.select("yw"))).select(
        "event_type",
        "k",
        F.sum(
            F.col("wj")
            * (F.col("mj") - F.col("yw"))
            * (F.col("mj") - F.col("yw"))
        )
        .over(w_ord)
        .alias("a_cum"),
        F.sum(
            (1 - F.col("wj") / F.col("bigw"))
            * (1 - F.col("wj") / F.col("bigw"))
            / (F.col("n") - 1)
        )
        .over(w_ord)
        .alias("lam_cum"),
    )
    fin = terms.groupBy("k").agg(
        (F.max_by("a_cum", "event_type") / (F.col("k") - 1)).alias("a"),
        F.max_by("lam_cum", "event_type").alias("lam"),
    )
    fstat = F.col("a") / (
        1 + 2.0 * (F.col("k") - 2) / (F.col("k") * F.col("k") - 1.0)
        * F.col("lam")
    )
    # r12 fix: key the critical value on the actual numerator dof k-1
    # (null verdict when untabled) instead of hard-wiring dof1=4 — the
    # agg_anova_oneway / agg_chi_squared convention.
    crit = F.lit(None).cast("double")
    for d, c in F_CRIT_INF_BY_DOF1.items():
        crit = F.when(F.col("k") - 1 == d, F.lit(c)).otherwise(crit)
    return fin.select(
        F.col("k").cast("bigint").alias("k"),
        (F.floor(fstat * 10000) / 10000).alias("f_stat"),
        F.round(
            (F.col("k") * F.col("k") - 1.0) / (3.0 * F.col("lam")), 1
        ).alias("df2"),
        (fstat > crit).alias("means_differ"),
    )


#: Order-priority arms in their CODE order — the JT "dose" ordering.
JT_GROUPS = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)

_JT_K = len(JT_GROUPS)
_JT_CNT_SQL = ",\n             ".join(
    f"SUM(CASE WHEN g = '{p}' THEN 1 ELSE 0 END) AS c{i + 1}"
    for i, p in enumerate(JT_GROUPS)
)
_JT_PREV_SQL = ",\n             ".join(
    f"COALESCE(SUM(c{i + 1}) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED"
    f" PRECEDING AND 1 PRECEDING), 0) AS p{i + 1}"
    for i in range(_JT_K)
)
_JT_PAIR_SQL = "\n               + ".join(
    f"CAST(c{j + 1} AS DECIMAL(38,0)) * (2 * p{i + 1} + c{i + 1})"
    for i in range(_JT_K)
    for j in range(i + 1, _JT_K)
)
_JT_NSQ_SQL = " + ".join(
    f"CAST(SUM(c{i + 1}) AS DECIMAL(38,0)) * SUM(c{i + 1})"
    for i in range(_JT_K)
)
_JT_NCUBE_SQL = " + ".join(
    f"CAST(SUM(c{i + 1}) AS DECIMAL(38,0)) * SUM(c{i + 1})"
    f" * (2 * SUM(c{i + 1}) + 3)"
    for i in range(_JT_K)
)

_JT_ORACLE = f"""
    WITH c AS (
      SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100 AS v
      FROM orders
    ),
    vg AS (
      SELECT v,
             {_JT_CNT_SQL}
      FROM c GROUP BY v
    ),
    cum AS (
      SELECT v, {", ".join(f"c{i + 1}" for i in range(_JT_K))},
             {_JT_PREV_SQL}
      FROM vg
    ),
    s AS (
      SELECT SUM({_JT_PAIR_SQL}) AS jt2,
             CAST(SUM({" + ".join(f"c{i + 1}" for i in range(_JT_K))})
                  AS DECIMAL(38,0)) AS n,
             {_JT_NSQ_SQL} AS nsq,
             {_JT_NCUBE_SQL} AS ncube
      FROM cum
    ),
    z AS (
      SELECT CAST(n AS BIGINT) AS n,
             (CAST(jt2 AS DOUBLE) / 2
              - CAST(n * n - nsq AS DOUBLE) / 4)
             / sqrt(CAST(n * n * (2 * n + 3) - ncube AS DOUBLE) / 72)
               AS zs
      FROM s
    )
    SELECT n, CAST({_JT_K} AS BIGINT) AS k,
           floor(zs * 10000) / 10000 AS z_stat,
           CASE WHEN floor(zs * 10000) / 10000 > 1.96 THEN 'increasing'
                WHEN floor(zs * 10000) / 10000 < -1.96 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM z
"""


@register("agg_jonckheere_terpstra", oracle=_JT_ORACLE)
def agg_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test: does
    o_totalprice shift MONOTONICALLY across the priority codes 1-URGENT
    -> 5-LOW? JT = sum over ordered group pairs (i < j) of the
    Mann-Whitney count #(x_i < x_j) (+ half ties). agg_kruskal_wallis
    asks "are the k groups anywhere different" and burns power on
    non-monotone patterns; JT spends it all on the DOSE-ORDERED
    alternative, which is the question when the factor has a natural
    order (priority tiers, size bands, date cohorts). The normal
    z uses the tie-UNCORRECTED null variance (documented convention:
    with the dollar-lattice fold below, tie corrections change z by
    O(ties/N^3) — negligible at every fixture SF, identical on both
    engines either way).

    Scale/determinism: values fold to the bounded DOLLAR lattice
    first (the agg_kendall_tau bounded-domain precedent, ~6e5 rows at
    any corpus size); every pairwise count is then a product of a
    per-value count with an exclusive cumulative count — exact
    DECIMAL(38) (cross-group pair counts ~1e24 at corpus scale, the
    overflow-audit class; the variance's N^3 term ~1e36 still fits);
    z is one closed-form expression on the 1e-4 floor lattice and the
    trend label reads the FLOORED z."""
    t = load(spark, sf_dir)
    c = t.orders.select(
        F.col("o_orderpriority").alias("g"),
        F.expr(
            "CAST(ROUND(o_totalprice * 100) AS BIGINT) div 100"
        ).alias("v"),
    )
    cnts = [
        F.sum(F.when(F.col("g") == p, 1).otherwise(0)).alias(f"c{i + 1}")
        for i, p in enumerate(JT_GROUPS)
    ]
    vg = c.groupBy("v").agg(*cnts)
    w_exc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vg.select(
        "v",
        *[F.col(f"c{i + 1}") for i in range(_JT_K)],
        *[
            F.coalesce(F.sum(f"c{i + 1}").over(w_exc), F.lit(0)).alias(
                f"p{i + 1}"
            )
            for i in range(_JT_K)
        ],
    )
    pair_term = None
    for i in range(_JT_K):
        for j in range(i + 1, _JT_K):
            term = F.col(f"c{j + 1}").cast(_DEC) * (
                2 * F.col(f"p{i + 1}") + F.col(f"c{i + 1}")
            )
            pair_term = term if pair_term is None else pair_term + term
    n_expr = None
    for i in range(_JT_K):
        cc = F.col(f"c{i + 1}")
        n_expr = cc if n_expr is None else n_expr + cc
    s = cum.agg(
        F.sum(pair_term).alias("jt2"),
        F.sum(n_expr).cast(_DEC).alias("n"),
        *[
            F.sum(f"c{i + 1}").cast(_DEC).alias(f"n{i + 1}")
            for i in range(_JT_K)
        ],
    )
    nsq = None
    ncube = None
    for i in range(_JT_K):
        ni = F.col(f"n{i + 1}")
        sq = ni * ni
        cu = ni * ni * (2 * ni + 3)
        nsq = sq if nsq is None else nsq + sq
        ncube = cu if ncube is None else ncube + cu
    nn = F.col("n")
    zs = (
        F.col("jt2").cast("double") / 2
        - (nn * nn - nsq).cast("double") / 4
    ) / F.sqrt((nn * nn * (2 * nn + 3) - ncube).cast("double") / 72)
    zf = F.floor(zs * 10000) / 10000
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.lit(_JT_K).cast("bigint").alias("k"),
        zf.alias("z_stat"),
        F.when(zf > 1.96, "increasing")
        .when(zf < -1.96, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# r11 estimation batch: robust shift estimator, finite-sample normality,
# trimmed-mean inference.

_HL_ORACLE = f"""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE event_type IN ('{TTEST_A}', '{TTEST_B}')
    ),
    bars AS (
      SELECT event_type, day, MAX(CASE WHEN rn = 1 THEN cents END) AS cls
      FROM c GROUP BY 1, 2
    ),
    a AS (SELECT day, cls FROM bars WHERE event_type = '{TTEST_A}'),
    b AS (SELECT day, cls FROM bars WHERE event_type = '{TTEST_B}'),
    d AS (
      SELECT a.cls - b.cls AS diff, COUNT(*) AS cnt
      FROM a CROSS JOIN b GROUP BY 1
    ),
    cum AS (
      SELECT diff, cnt,
             SUM(cnt) OVER (ORDER BY diff ROWS UNBOUNDED PRECEDING) AS cc,
             SUM(cnt) OVER () AS np
      FROM d
    ),
    med AS (
      SELECT MIN(diff) AS hl, MAX(np) AS np FROM cum
      WHERE cc >= (np + 1) // 2
    ),
    tot AS (
      SELECT (SELECT COUNT(*) FROM a) AS na,
             (SELECT COUNT(*) FROM b) AS nb,
             (SELECT SUM(cls) FROM a) AS sa,
             (SELECT SUM(cls) FROM b) AS sb
    )
    SELECT CAST(na AS BIGINT) AS n_a_days, CAST(nb AS BIGINT) AS n_b_days,
           CAST(np AS BIGINT) AS n_pairs,
           ROUND(hl / 100.0, 2) AS hl_shift,
           floor((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
                 / 100.0 * 10000) / 10000 AS mean_shift
    FROM med, tot
"""


@register("agg_hodges_lehmann", oracle=_HL_ORACLE)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Hodges-Lehmann shift estimator between the purchase
    and click DAILY CLOSE series: the median of all cross-pair
    differences a_i - b_j — the robust "how much higher does purchase
    close" number that pairs with agg_mann_whitney the way the median
    pairs with the sign test (a single wild day moves the mean shift
    arbitrarily; it moves HL by at most one pair rank). The mean shift
    is emitted beside it — the gap between the two IS the outlier
    influence.

    Scale/determinism: the pair space folds to daily bars FIRST (the
    agg_kendall_tau calendar-bounded doctrine) — days_a x days_b pairs
    regardless of corpus size, and the cross join is over two bounded
    bar frames; the pair-difference domain groups to exact integer
    cents with the median selected by integer cumulative position
    (the agg_mood_median_test recipe — no per-row rank, no
    interpolation ambiguity); HL emits on the exact 2-dp lattice, the
    mean shift as one floored division of exact integer sums."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        t.events.where(F.col("event_type").isin(TTEST_A, TTEST_B))
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            cents.alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.max_by("cents", key).alias("cls"))
    )
    a = bars.where(F.col("event_type") == TTEST_A).select(
        F.col("cls").alias("av")
    )
    b = bars.where(F.col("event_type") == TTEST_B).select(
        F.col("cls").alias("bv")
    )
    d = (
        a.crossJoin(b)
        .groupBy((F.col("av") - F.col("bv")).alias("diff"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = Window.orderBy("diff").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = d.select(
        "diff",
        F.sum("cnt").over(w_cum).alias("cc"),
        F.sum("cnt").over(w_all).alias("np"),
    )
    med = cum.where(
        F.col("cc") >= F.expr("(np + 1) div 2")
    ).agg(F.min("diff").alias("hl"), F.max("np").alias("np"))
    tot = (
        a.agg(F.count(F.lit(1)).alias("na"), F.sum("av").alias("sa"))
        .crossJoin(
            b.agg(F.count(F.lit(1)).alias("nb"), F.sum("bv").alias("sb"))
        )
    )
    return med.crossJoin(F.broadcast(tot)).select(
        F.col("na").cast("bigint").alias("n_a_days"),
        F.col("nb").cast("bigint").alias("n_b_days"),
        F.col("np").cast("bigint").alias("n_pairs"),
        F.round(F.col("hl") / 100.0, 2).alias("hl_shift"),
        (
            F.floor(
                (
                    F.col("sa").cast("double") / F.col("na")
                    - F.col("sb").cast("double") / F.col("nb")
                )
                / 100.0
                * 10000
            )
            / 10000
        ).alias("mean_shift"),
    )


_K2_MOMENTS_SQL = f"""
    s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(l_extendedprice - {MOMENTS_SHIFT})           AS s1,
             SUM(POWER(l_extendedprice - {MOMENTS_SHIFT}, 2)) AS s2,
             SUM(POWER(l_extendedprice - {MOMENTS_SHIFT}, 3)) AS s3,
             SUM(POWER(l_extendedprice - {MOMENTS_SHIFT}, 4)) AS s4
      FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
      SELECT l_returnflag, CAST(n AS DOUBLE) AS n,
             s2 / n - POWER(s1 / n, 2) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * POWER(s1 / n, 3)
               AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * POWER(s1 / n, 2) * (s2 / n)
                    - 3 * POWER(s1 / n, 4) AS m4
      FROM s
    ),
    bb AS (
      SELECT l_returnflag, n,
             m3 / POWER(m2, 1.5) AS b1,
             m4 / (m2 * m2) AS b2
      FROM m WHERE m2 > 0 AND n > 8
    ),
    zs AS (
      SELECT *,
             b1 * sqrt((n + 1) * (n + 3) / (6 * (n - 2))) AS y,
             3 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
               / ((n - 2) * (n + 5) * (n + 7) * (n + 9)) AS beta2
      FROM bb
    ),
    zs2 AS (
      SELECT *,
             sqrt(2 * (beta2 - 1)) - 1 AS w2
      FROM zs
    ),
    zs3 AS (
      SELECT *,
             1 / sqrt(ln(sqrt(w2))) AS dl,
             sqrt(2 / (w2 - 1)) AS alpha
      FROM zs2 WHERE w2 > 1
    ),
    zsk AS (
      SELECT l_returnflag, n, b1, b2,
             dl * ln(y / alpha + sqrt((y / alpha) * (y / alpha) + 1))
               AS z_skew,
             3 * (n - 1) / (n + 1) AS eb2,
             24 * n * (n - 2) * (n - 3)
               / ((n + 1) * (n + 1) * (n + 3) * (n + 5)) AS vb2,
             6 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
               * sqrt(6 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
               AS sb
      FROM zs3
    ),
    zk AS (
      SELECT *,
             6 + 8 / sb * (2 / sb + sqrt(1 + 4 / (sb * sb))) AS aa,
             (b2 - eb2) / sqrt(vb2) AS x
      FROM zsk
    ),
    zk2 AS (
      SELECT l_returnflag, n, b1, b2, z_skew,
             ((1 - 2 / (9 * aa))
              - cbrt((1 - 2 / aa) / (1 + x * sqrt(2 / (aa - 4)))))
             / sqrt(2 / (9 * aa)) AS z_kurt
      FROM zk WHERE aa > 4
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND(z_skew, 4) AS z_skew,
           ROUND(z_kurt, 4) AS z_kurt,
           ROUND(z_skew * z_skew + z_kurt * z_kurt, 3) AS k2_stat,
           z_skew * z_skew + z_kurt * z_kurt <= 5.9915 AS looks_normal
    FROM zk2
"""


@register(
    "agg_dagostino_k2",
    oracle="WITH " + _K2_MOMENTS_SQL,
)
def agg_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K^2 omnibus normality test per return flag:
    K^2 = Z_s(skew)^2 + Z_k(kurtosis)^2 vs chi2(2), using D'Agostino's
    (1970) skewness transform and Anscombe-Glynn's (1983) kurtosis
    transform. agg_jarque_bera uses the same two moments with their
    ASYMPTOTIC variances — famously slow to converge (kurtosis needs
    n ~ 5000 before JB's chi2 is honest); the K^2 transforms are
    finite-sample calibrated, which is exactly the scipy.stats
    normaltest contract. Emitting both z's shows WHICH moment kills
    normality (prices die by skew; symmetric spam by kurtosis).

    Scale/determinism: same combinable shifted power sums as
    agg_jarque_bera/agg_moments (MOMENTS_SHIFT conditioning); every
    transform is a per-row closed-form chain of +-*/sqrt/ln/cbrt on
    the bounded group frame, written identically on both engines
    (cbrt is sign-aware in both, so the negative-argument branch of
    the kurtosis cube root agrees); rounded at 4/3 dp to absorb libm
    ulps. Degenerate guards (m2 = 0, W^2 <= 1, A <= 4, n <= 8) drop
    the row on both engines rather than emit NaN."""
    t = load(spark, sf_dir)
    x = F.col("l_extendedprice") - MOMENTS_SHIFT
    s = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(F.pow(x, 2)).alias("s2"),
        F.sum(F.pow(x, 3)).alias("s3"),
        F.sum(F.pow(x, 4)).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    m2 = F.col("s2") / n - F.pow(m1, 2)
    m3 = F.col("s3") / n - 3 * m1 * (F.col("s2") / n) + 2 * F.pow(m1, 3)
    m4 = (
        F.col("s4") / n
        - 4 * m1 * (F.col("s3") / n)
        + 6 * F.pow(m1, 2) * (F.col("s2") / n)
        - 3 * F.pow(m1, 4)
    )
    bb = s.where((m2 > 0) & (n > 8)).select(
        "l_returnflag",
        "n",
        (m3 / F.pow(m2, 1.5)).alias("b1"),
        (m4 / (m2 * m2)).alias("b2"),
    )
    y = F.col("b1") * F.sqrt((n + 1) * (n + 3) / (6 * (n - 2)))
    beta2 = (
        3
        * (n * n + 27 * n - 70)
        * (n + 1)
        * (n + 3)
        / ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    )
    zs2 = bb.select(
        "*", y.alias("y"), (F.sqrt(2 * (beta2 - 1)) - 1).alias("w2")
    )
    zs3 = zs2.where(F.col("w2") > 1).select(
        "*",
        (1 / F.sqrt(F.log(F.sqrt("w2")))).alias("dl"),
        F.sqrt(2 / (F.col("w2") - 1)).alias("alpha"),
    )
    ya = F.col("y") / F.col("alpha")
    z_skew = F.col("dl") * F.log(ya + F.sqrt(ya * ya + 1))
    eb2 = 3 * (n - 1) / (n + 1)
    vb2 = (
        24 * n * (n - 2) * (n - 3)
        / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    )
    sb = (
        6
        * (n * n - 5 * n + 2)
        / ((n + 7) * (n + 9))
        * F.sqrt(6 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    )
    zsk = zs3.select(
        "l_returnflag",
        "n",
        "b1",
        "b2",
        z_skew.alias("z_skew"),
        eb2.alias("eb2"),
        vb2.alias("vb2"),
        sb.alias("sb"),
    )
    aa = 6 + 8 / F.col("sb") * (
        2 / F.col("sb") + F.sqrt(1 + 4 / (F.col("sb") * F.col("sb")))
    )
    xk = (F.col("b2") - F.col("eb2")) / F.sqrt("vb2")
    zk = zsk.select("*", aa.alias("aa"), xk.alias("x"))
    z_kurt = (
        (1 - 2 / (9 * F.col("aa")))
        - F.cbrt(
            (1 - 2 / F.col("aa"))
            / (1 + F.col("x") * F.sqrt(2 / (F.col("aa") - 4)))
        )
    ) / F.sqrt(2 / (9 * F.col("aa")))
    zk2 = zk.where(F.col("aa") > 4).select(
        "l_returnflag", "n", "z_skew", z_kurt.alias("z_kurt")
    )
    k2 = F.col("z_skew") * F.col("z_skew") + F.col("z_kurt") * F.col(
        "z_kurt"
    )
    return zk2.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.round("z_skew", 4).alias("z_skew"),
        F.round("z_kurt", 4).alias("z_kurt"),
        F.round(k2, 3).alias("k2_stat"),
        (k2 <= 5.9915).alias("looks_normal"),
    )


#: Yuen trim proportion, as an exact rational (20% = 1/5).
YUEN_TRIM_NUM, YUEN_TRIM_DEN = 1, 5

_YUEN_ARM_SQL = f"""
    ev AS (
      SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type IN ('{TTEST_A}', '{TTEST_B}')
    ),
    vg AS (
      SELECT g, v, COUNT(*) AS c FROM ev GROUP BY g, v
    ),
    cum AS (
      SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cc,
             COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS pc,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM vg
    ),
    trimmed AS (
      SELECT g, v, c, cc, pc, n,
             (n * {YUEN_TRIM_NUM}) // {YUEN_TRIM_DEN} AS gt,
             GREATEST(0, LEAST(cc, n - (n * {YUEN_TRIM_NUM})
                                      // {YUEN_TRIM_DEN})
                         - GREATEST(pc, (n * {YUEN_TRIM_NUM})
                                        // {YUEN_TRIM_DEN})) AS cnt_in
      FROM cum
    ),
    arm AS (
      SELECT g, MAX(n) AS n, MAX(gt) AS gt,
             MAX(n) - 2 * MAX(gt) AS h,
             SUM(v * cnt_in) AS tsum,
             SUM(CAST(v AS DECIMAL(38,0)) * v * cnt_in) AS tss,
             MIN(CASE WHEN cc >= gt + 1 THEN v END) AS xlo,
             MIN(CASE WHEN cc >= n - gt THEN v END) AS xhi
      FROM trimmed GROUP BY g
    ),
    win AS (
      SELECT g, n, gt, h,
             tsum,
             CAST(tsum + gt * (xlo + xhi) AS DOUBLE) AS wsum,
             CAST(tss AS DOUBLE)
               + gt * (CAST(xlo AS DOUBLE) * xlo
                       + CAST(xhi AS DOUBLE) * xhi) AS wss
      FROM arm
    ),
    dd AS (
      SELECT g, n, gt, h, tsum,
             (n - 1.0) * ((wss - wsum * wsum / n) / (n - 1))
               / (CAST(h AS DOUBLE) * (h - 1)) AS d
      FROM win WHERE h > 1
    )
"""

_YUEN_ORACLE = (
    "WITH "
    + _YUEN_ARM_SQL
    + f"""
    SELECT
      (SELECT CAST(n AS BIGINT) FROM dd WHERE g = '{TTEST_A}') AS n_a,
      (SELECT CAST(n AS BIGINT) FROM dd WHERE g = '{TTEST_B}') AS n_b,
      (SELECT CAST(gt AS BIGINT) FROM dd WHERE g = '{TTEST_A}')
        AS trimmed_each_side_a,
      (SELECT CAST(gt AS BIGINT) FROM dd WHERE g = '{TTEST_B}')
        AS trimmed_each_side_b,
      floor((SELECT CAST(tsum AS DOUBLE) / (h * 100.0) FROM dd
             WHERE g = '{TTEST_A}') * 10000) / 10000 AS trimmed_mean_a,
      floor((SELECT CAST(tsum AS DOUBLE) / (h * 100.0) FROM dd
             WHERE g = '{TTEST_B}') * 10000) / 10000 AS trimmed_mean_b,
      floor(((SELECT CAST(tsum AS DOUBLE) / h / 100.0 FROM dd
              WHERE g = '{TTEST_A}')
             - (SELECT CAST(tsum AS DOUBLE) / h / 100.0 FROM dd
                WHERE g = '{TTEST_B}'))
            / sqrt((SELECT d FROM dd WHERE g = '{TTEST_A}') / 10000.0
                   + (SELECT d FROM dd WHERE g = '{TTEST_B}') / 10000.0)
            * 10000) / 10000 AS t_stat,
      abs(((SELECT CAST(tsum AS DOUBLE) / h / 100.0 FROM dd
            WHERE g = '{TTEST_A}')
           - (SELECT CAST(tsum AS DOUBLE) / h / 100.0 FROM dd
              WHERE g = '{TTEST_B}'))
          / sqrt((SELECT d FROM dd WHERE g = '{TTEST_A}') / 10000.0
                 + (SELECT d FROM dd WHERE g = '{TTEST_B}') / 10000.0))
        > 1.96 AS significant
"""
)


@register("agg_yuen_trimmed_t", oracle=_YUEN_ORACLE)
def agg_yuen_trimmed_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's 20%-trimmed-mean t-test between the purchase and click
    value samples: trimmed means over the middle 60% of each sample,
    winsorized variances in the denominator, Welch-style standard
    error. The MIDDLE GROUND of the location-test family: agg_t_test
    is efficient but one whale order drags its means;
    agg_mann_whitney is robust but answers about ranks, not dollars;
    Yuen answers IN DOLLARS while ignoring both tails — the standard
    robust-estimation recommendation (Wilcox) for money-shaped data.

    Scale/determinism: trim cuts come from exact integer cumulative
    counts on the bounded value lattice (floor(n/5) per side — an
    exact integer rank, never a percentile estimate); the trimmed sum
    folds per lattice row as value x (overlap of the row's rank range
    with the kept range), all exact integers; winsorized tails add
    gt copies of the exact cut values. Sums of squares fold in
    DECIMAL(38) (v^2 * count ~ 2.4e21 at corpus scale). The t
    statistic is one closed-form expression (variance terms carried
    in cents^2/1e4 = dollars^2), floored at 1e-4.

    Verdict convention (documented deviation, the JT-tie precedent):
    `significant` gates on the NORMAL 1.96 cutoff, not the
    t-distribution at Yuen's Welch-Satterthwaite df. The trimmed
    sample sizes h are corpus-scale here (thousands+), where t_crit
    differs from 1.96 by < 1e-3; on small slices this large-h
    approximation is anticonservative — read t_stat, not the flag."""
    t = load(spark, sf_dir)
    ev = t.events.where(
        F.col("event_type").isin(TTEST_A, TTEST_B)
    ).select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    vg = ev.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    w_inc = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_exc = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_arm = Window.partitionBy("g")
    cum = vg.select(
        "g",
        "v",
        "c",
        F.sum("c").over(w_inc).alias("cc"),
        F.coalesce(F.sum("c").over(w_exc), F.lit(0)).alias("pc"),
        F.sum("c").over(w_arm).alias("n"),
    )
    gt = F.expr(f"(n * {YUEN_TRIM_NUM}) div {YUEN_TRIM_DEN}")
    cnt_in = F.greatest(
        F.lit(0),
        F.least(F.col("cc"), F.col("n") - gt) - F.greatest(F.col("pc"), gt),
    )
    trimmed = cum.select(
        "g",
        "v",
        "cc",
        "n",
        gt.alias("gt"),
        cnt_in.alias("cnt_in"),
    )
    arm = trimmed.groupBy("g").agg(
        F.max("n").alias("n"),
        F.max("gt").alias("gt"),
        (F.max("n") - 2 * F.max("gt")).alias("h"),
        F.sum(F.col("v") * F.col("cnt_in")).alias("tsum"),
        F.sum(
            F.col("v").cast(_DEC) * F.col("v") * F.col("cnt_in")
        ).alias("tss"),
        F.min(
            F.when(F.col("cc") >= F.col("gt") + 1, F.col("v"))
        ).alias("xlo"),
        F.min(
            F.when(F.col("cc") >= F.col("n") - F.col("gt"), F.col("v"))
        ).alias("xhi"),
    )
    wsum = (
        F.col("tsum") + F.col("gt") * (F.col("xlo") + F.col("xhi"))
    ).cast("double")
    wss = F.col("tss").cast("double") + F.col("gt") * (
        F.col("xlo").cast("double") * F.col("xlo")
        + F.col("xhi").cast("double") * F.col("xhi")
    )
    dd = (
        arm.select(
            "g",
            "n",
            "gt",
            "h",
            "tsum",
            wsum.alias("wsum"),
            wss.alias("wss"),
        )
        .where(F.col("h") > 1)
        .select(
            "g",
            "n",
            "gt",
            "h",
            "tsum",
            (
                (F.col("n") - 1.0)
                * (
                    (F.col("wss") - F.col("wsum") * F.col("wsum") / F.col("n"))
                    / (F.col("n") - 1)
                )
                / (F.col("h").cast("double") * (F.col("h") - 1))
            ).alias("d"),
        )
    )
    a = dd.where(F.col("g") == TTEST_A).select(
        F.col("n").alias("na"),
        F.col("gt").alias("gta"),
        F.col("h").alias("ha"),
        F.col("tsum").alias("tsa"),
        F.col("d").alias("da"),
    )
    b = dd.where(F.col("g") == TTEST_B).select(
        F.col("n").alias("nb"),
        F.col("gt").alias("gtb"),
        F.col("h").alias("hb"),
        F.col("tsum").alias("tsb"),
        F.col("d").alias("db"),
    )
    j = a.crossJoin(b)
    mta = F.col("tsa").cast("double") / F.col("ha") / 100.0
    mtb = F.col("tsb").cast("double") / F.col("hb") / 100.0
    tstat = (mta - mtb) / F.sqrt(
        F.col("da") / 10000.0 + F.col("db") / 10000.0
    )
    return j.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("gta").cast("bigint").alias("trimmed_each_side_a"),
        F.col("gtb").cast("bigint").alias("trimmed_each_side_b"),
        (
            F.floor(
                F.col("tsa").cast("double") / (F.col("ha") * 100.0) * 10000
            )
            / 10000
        ).alias("trimmed_mean_a"),
        (
            F.floor(
                F.col("tsb").cast("double") / (F.col("hb") * 100.0) * 10000
            )
            / 10000
        ).alias("trimmed_mean_b"),
        (F.floor(tstat * 10000) / 10000).alias("t_stat"),
        (F.abs(tstat) > 1.96).alias("significant"),
    )


_BM_ORACLE = f"""
    WITH {_TWO_SAMPLE_LATTICE_SQL},
    sc AS (
      SELECT v, ca, cb, na, nb,
             2 * (pca + pcb) + (ca + cb) + 1 AS r2,
             2 * pca + ca + 1 AS ra2,
             2 * pcb + cb + 1 AS rb2
      FROM cum
    ),
    s AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb,
             SUM(ca * CAST(r2 AS DECIMAL(38,0))) AS sra2,
             SUM(cb * CAST(r2 AS DECIMAL(38,0))) AS srb2,
             SUM(ca * CAST(r2 - ra2 AS DECIMAL(38,0))) AS sda2,
             SUM(cb * CAST(r2 - rb2 AS DECIMAL(38,0))) AS sdb2,
             SUM(ca * CAST(r2 - ra2 AS DECIMAL(38,0)) * (r2 - ra2))
               AS sda2sq,
             SUM(cb * CAST(r2 - rb2 AS DECIMAL(38,0)) * (r2 - rb2))
               AS sdb2sq
      FROM sc
    ),
    m AS (
      SELECT na, nb,
             CAST(sra2 AS DOUBLE) / (2 * na) AS rbar_a,
             CAST(srb2 AS DOUBLE) / (2 * nb) AS rbar_b,
             (CAST(sda2sq AS DOUBLE) / 4
              - (CAST(sda2 AS DOUBLE) / 2) * (CAST(sda2 AS DOUBLE) / 2)
                / na) / (na - 1) AS sa2,
             (CAST(sdb2sq AS DOUBLE) / 4
              - (CAST(sdb2 AS DOUBLE) / 2) * (CAST(sdb2 AS DOUBLE) / 2)
                / nb) / (nb - 1) AS sb2
      FROM s
    ),
    fin AS (
      SELECT na, nb,
             (rbar_b - (nb + 1) / 2.0) / na AS p_hat,
             CAST(na AS DOUBLE) * nb * (rbar_b - rbar_a)
             / ((CAST(na AS DOUBLE) + nb)
                * sqrt(CAST(na AS DOUBLE) * sa2
                       + CAST(nb AS DOUBLE) * sb2)) AS w
      FROM m WHERE sa2 > 0 AND sb2 > 0
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           floor(p_hat * 1000000) / 1000000 AS p_hat,
           floor(w * 10000) / 10000 AS w_stat,
           abs(w) > 1.96 AS significant
    FROM fin
"""


@register("agg_brunner_munzel", oracle=_BM_ORACLE)
def agg_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test between the purchase and click value samples:
    the rank-Welch — tests P(X < Y) + 0.5 P(X = Y) = 1/2 WITHOUT
    Mann-Whitney's equal-variance-of-ranks assumption, by studentizing
    the mean overall-rank gap with PER-GROUP placement variances
    (S_a^2, S_b^2 from R - R_within). agg_mann_whitney to agg_t_test is
    as agg_brunner_munzel to agg_welch_anova's two-sample core: when
    the two arms have different SHAPES (click noise vs purchase spend),
    MW's pooled-tie variance is miscalibrated and BM is the modern
    recommendation (Brunner & Munzel 2000). p_hat is the stochastic-
    superiority effect size it estimates.

    Scale/determinism: overall and within-group midranks live on the
    x2 integer lattice (2r = 2*prev + count + 1), so every placement
    D = R - R_within is an exact x2 integer; rank sums and placement
    sums-of-squares fold in DECIMAL(38) ((2D)^2 ~ 1e25 at corpus
    scale); the variance identity Sa^2 = [sum D^2 - (sum D)^2/n]/(n-1)
    keeps everything one-pass; W and p_hat are single closed-form
    expressions floored at 1e-4 / 1e-6. Degenerate placements
    (constant D) null the verdict on both engines."""
    t = load(spark, sf_dir)
    cum = _two_sample_lattice(t)
    r2 = 2 * (F.col("pca") + F.col("pcb")) + (F.col("ca") + F.col("cb")) + 1
    ra2 = 2 * F.col("pca") + F.col("ca") + 1
    rb2 = 2 * F.col("pcb") + F.col("cb") + 1
    sc = cum.select(
        "ca",
        "cb",
        "na",
        "nb",
        r2.alias("r2"),
        (r2 - ra2).alias("da2"),
        (r2 - rb2).alias("db2"),
    )
    s = sc.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum(F.col("ca") * F.col("r2").cast(_DEC)).alias("sra2"),
        F.sum(F.col("cb") * F.col("r2").cast(_DEC)).alias("srb2"),
        F.sum(F.col("ca") * F.col("da2").cast(_DEC)).alias("sda2"),
        F.sum(F.col("cb") * F.col("db2").cast(_DEC)).alias("sdb2"),
        F.sum(
            F.col("ca") * F.col("da2").cast(_DEC) * F.col("da2")
        ).alias("sda2sq"),
        F.sum(
            F.col("cb") * F.col("db2").cast(_DEC) * F.col("db2")
        ).alias("sdb2sq"),
    )
    na, nb = F.col("na"), F.col("nb")
    rbar_a = F.col("sra2").cast("double") / (2 * na)
    rbar_b = F.col("srb2").cast("double") / (2 * nb)
    sa2 = (
        F.col("sda2sq").cast("double") / 4
        - (F.col("sda2").cast("double") / 2)
        * (F.col("sda2").cast("double") / 2)
        / na
    ) / (na - 1)
    sb2 = (
        F.col("sdb2sq").cast("double") / 4
        - (F.col("sdb2").cast("double") / 2)
        * (F.col("sdb2").cast("double") / 2)
        / nb
    ) / (nb - 1)
    m = s.select(
        "na",
        "nb",
        rbar_a.alias("rbar_a"),
        rbar_b.alias("rbar_b"),
        sa2.alias("sa2"),
        sb2.alias("sb2"),
    ).where((F.col("sa2") > 0) & (F.col("sb2") > 0))
    # Brunner-Munzel 2000 (the scipy/lawstat form):
    # W = na*nb*(rbar_b - rbar_a) / ((na+nb)*sqrt(na*Sa^2 + nb*Sb^2)).
    # r12 fix: the r11 form dropped the per-group 1/na, 1/nb factors
    # inside the sqrt (sa2/nb^2 instead of sa2/(na*nb^2)), deflating W
    # by ~sqrt(n); verified against the published A=[1,2,2,5,9],
    # B=[2,3,4,4] example (W = 0.2163).
    w = (
        na.cast("double") * nb * (F.col("rbar_b") - F.col("rbar_a"))
    ) / (
        (na.cast("double") + nb)
        * F.sqrt(
            na.cast("double") * F.col("sa2")
            + nb.cast("double") * F.col("sb2")
        )
    )
    p_hat = (F.col("rbar_b") - (nb + 1) / 2.0) / na
    return m.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        (F.floor(p_hat * 1_000_000) / 1_000_000).alias("p_hat"),
        (F.floor(w * 10000) / 10000).alias("w_stat"),
        (F.abs(w) > 1.96).alias("significant"),
    )


_PAGE_ORACLE = """
    WITH cell AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS total
      FROM events GROUP BY 1, 2
    ),
    tg AS (
      SELECT day, total, COUNT(*) AS c,
             SUM(COUNT(*)) OVER (PARTITION BY day ORDER BY total
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc
      FROM cell GROUP BY day, total
    ),
    ranked AS (
      SELECT c.day, c.event_type,
             2 * COALESCE(t.pc, 0) + t.c + 1 AS r2
      FROM cell c JOIN tg t ON t.day = c.day AND t.total = c.total
    ),
    ord AS (
      SELECT event_type,
             ROW_NUMBER() OVER (ORDER BY event_type) AS j
      FROM (SELECT DISTINCT event_type FROM cell)
    ),
    dims AS (
      SELECT COUNT(DISTINCT day) AS b,
             COUNT(DISTINCT event_type) AS k
      FROM cell
    ),
    l AS (
      SELECT SUM(o.j * CAST(r.r2 AS DECIMAL(38,0))) AS l2
      FROM ranked r JOIN ord o ON o.event_type = r.event_type
    ),
    z AS (
      SELECT b, k,
             CAST(l2 AS DOUBLE) / 2 AS lstat,
             b * k * (k + 1.0) * (k + 1.0) / 4 AS e_l,
             b * CAST(k AS DOUBLE) * k * (k + 1) * (k * k - 1) / 144
               AS var_l
      FROM l, dims
    )
    SELECT CAST(b AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
           CAST(lstat AS BIGINT) AS page_l,
           floor((lstat - e_l) / sqrt(var_l) * 10000) / 10000 AS z_stat,
           CASE WHEN floor((lstat - e_l) / sqrt(var_l) * 10000) / 10000
                     > 1.96 THEN 'increasing'
                WHEN floor((lstat - e_l) / sqrt(var_l) * 10000) / 10000
                     < -1.96 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM z
"""


@register("agg_page_trend_test", oracle=_PAGE_ORACLE)
def agg_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test on the day x event-type design: within each
    DAY (block), rank the k event types by total value, then
    L = sum_j j * R_j against the ordered alternative that the ranks
    trend MONOTONICALLY across the alphabetical type order.
    agg_friedman_test asks "do the treatments differ at all within
    blocks"; Page's L is its ordered-alternative version, exactly as
    agg_jonckheere_terpstra sharpens agg_kruskal_wallis — completing
    the blocked-design pair. Convention notes: the tested order is the
    lexicographic event-type order (deterministic; a monotone z means
    daily-revenue rank follows that order), and the null variance is
    the tie-uncorrected closed form (within-block ties on exact daily
    totals are measure-zero-rare; identical convention both engines,
    the agg_jonckheere_terpstra precedent).

    Scale/determinism: daily cell totals are one combinable exact-cents
    aggregate over the CALENDAR x TYPE bounded domain; within-block
    midranks live on the x2 integer lattice via per-day cumulative
    counts (never a per-row rank); L folds in DECIMAL(38) x2 units;
    z is one closed-form expression on the 1e-4 floor lattice with the
    trend label reading the FLOORED z."""
    t = load(spark, sf_dir)
    cell = (
        t.events.select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(F.sum("cents").alias("total"))
    )
    tg = cell.groupBy("day", "total").agg(F.count(F.lit(1)).alias("c"))
    w_day = (
        Window.partitionBy("day")
        .orderBy("total")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tg = tg.select(
        "day",
        "total",
        "c",
        F.coalesce(F.sum("c").over(w_day), F.lit(0)).alias("pc"),
    )
    ranked = cell.join(tg, ["day", "total"]).select(
        "day",
        "event_type",
        (2 * F.col("pc") + F.col("c") + 1).alias("r2"),
    )
    w_ord = Window.orderBy("event_type")
    ordm = (
        cell.select("event_type")
        .distinct()
        .select("event_type", F.row_number().over(w_ord).alias("j"))
    )
    dims = cell.agg(
        F.countDistinct("day").alias("b"),
        F.countDistinct("event_type").alias("k"),
    )
    l2 = (
        ranked.join(F.broadcast(ordm), "event_type")
        .agg(
            F.sum(F.col("j") * F.col("r2").cast(_DEC)).alias("l2")
        )
    )
    z = l2.crossJoin(F.broadcast(dims))
    b, k = F.col("b"), F.col("k")
    lstat = F.col("l2").cast("double") / 2
    e_l = b * k * (k + 1.0) * (k + 1.0) / 4
    var_l = (
        b * k.cast("double") * k * (k + 1) * (k * k - 1) / 144
    )
    zf = F.floor((lstat - e_l) / F.sqrt(var_l) * 10000) / 10000
    return z.select(
        b.cast("bigint").alias("n_blocks"),
        k.cast("bigint").alias("k"),
        lstat.cast("bigint").alias("page_l"),
        zf.alias("z_stat"),
        F.when(zf > 1.96, "increasing")
        .when(zf < -1.96, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# r12 batch: agreement / association / effect-size classics. Every op
# below ships with a planted-model test in tests/test_round12f.py from
# day one (the SURVEY section-5.2 r12 mandate).

_CRAMER_ORACLE = """
    WITH ct AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT x, y, obs,
             CAST(SUM(obs) OVER (PARTITION BY x) AS BIGINT) AS row_t,
             CAST(SUM(obs) OVER (PARTITION BY y) AS BIGINT) AS col_t,
             CAST(SUM(obs) OVER () AS BIGINT) AS n
      FROM ct
    ),
    terms AS (
      SELECT x, y, n,
             SUM(POWER(obs - CAST(row_t AS DOUBLE) * col_t / n, 2)
                 / (CAST(row_t AS DOUBLE) * col_t / n))
               OVER (ORDER BY x, y ROWS UNBOUNDED PRECEDING) AS chi2_cum,
             ROW_NUMBER() OVER (ORDER BY x, y) AS rn,
             COUNT(*) OVER () AS n_cells
      FROM m
    ),
    dims AS (
      SELECT COUNT(DISTINCT x) AS r, COUNT(DISTINCT y) AS c FROM ct
    ),
    s AS (
      SELECT MAX(n) AS n,
             MAX(CASE WHEN rn = n_cells THEN chi2_cum END) AS chi2
      FROM terms
    ),
    fin AS (
      SELECT s.n, d.r, d.c, s.chi2,
             GREATEST(s.chi2 / s.n
                      - (d.r - 1.0) * (d.c - 1.0) / (s.n - 1), 0) AS phi2c,
             d.r - POWER(d.r - 1.0, 2) / (s.n - 1) AS rc,
             d.c - POWER(d.c - 1.0, 2) / (s.n - 1) AS cc
      FROM s, dims d
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(r AS BIGINT) AS n_rows,
           CAST(c AS BIGINT) AS n_cols,
           ROUND(chi2, 4) AS chi2,
           floor(sqrt(chi2 / n / LEAST(r - 1.0, c - 1.0)) * 1000000)
             / 1000000 AS cramers_v,
           floor(sqrt(phi2c / LEAST(rc - 1, cc - 1)) * 1000000) / 1000000
             AS cramers_v_corrected
    FROM fin
"""


@register("agg_cramers_v_corrected", oracle=_CRAMER_ORACLE)
def agg_cramers_v_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-corrected Cramer's V (Bergsma 2013) for the priority x
    status contingency: the plain V = sqrt(chi2/(n*min(r-1,c-1))) is
    emitted beside the corrected form V' = sqrt(phi2' / min(r'-1,
    c'-1)) with phi2' = max(0, phi2 - (r-1)(c-1)/(n-1)), r' = r -
    (r-1)^2/(n-1), c' likewise — plain V is biased UP on small/ial
    samples (it is positive in expectation under independence), and
    the corrected form is what a feature-association scan should rank
    by. Completes the contingency kit: agg_chi_squared (significance),
    agg_mutual_info (bits), agg_theils_u (directional), this (effect
    size, corrected).

    Scale/determinism: one combinable groupBy to the bounded 15-cell
    frame; the chi2 fold is an UNAVOIDABLE double sum, so it runs as a
    cumulative window in fixed (x, y) cell order with a last-row pick
    (the agg_mood_scale_test doctrine — identical fp sequence both
    engines; the r12 overflow audit rejected micro-unit quantization
    here because chi2 itself reaches ~1e13 at corpus scale, past the
    1e-6 lattice's BIGINT headroom); the Bergsma algebra is a single
    closed-form expression of (chi2, n, r, c); outputs floor-scaled at
    1e-6."""
    t = load(spark, sf_dir)
    ct = t.orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wall = Window.partitionBy()
    m = ct.select(
        F.col("o_orderpriority").alias("x"),
        F.col("o_orderstatus").alias("y"),
        "obs",
        F.sum("obs").over(wr).alias("row_t"),
        F.sum("obs").over(wc).alias("col_t"),
        F.sum("obs").over(wall).alias("n"),
    )
    exp = F.col("row_t").cast("double") * F.col("col_t") / F.col("n")
    w_ord = Window.orderBy("x", "y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_rn = Window.orderBy("x", "y")
    terms = m.select(
        "n",
        F.sum(F.pow(F.col("obs") - exp, 2) / exp).over(w_ord).alias(
            "chi2_cum"
        ),
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n_cells"),
    )
    dims = ct.agg(
        F.countDistinct("o_orderpriority").alias("r"),
        F.countDistinct("o_orderstatus").alias("c"),
    )
    s = terms.agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.col("n_cells"), F.col("chi2_cum"))
        ).alias("chi2"),
    ).crossJoin(F.broadcast(dims))
    n = F.col("n")
    r, c = F.col("r"), F.col("c")
    chi2 = F.col("chi2")
    phi2c = F.greatest(
        chi2 / n - (r - 1.0) * (c - 1.0) / (n - 1), F.lit(0.0)
    )
    rc = r - F.pow(r - 1.0, 2) / (n - 1)
    cc = c - F.pow(c - 1.0, 2) / (n - 1)
    return s.select(
        n.cast("bigint").alias("n"),
        r.cast("bigint").alias("n_rows"),
        c.cast("bigint").alias("n_cols"),
        F.round(chi2, 4).alias("chi2"),
        (
            F.floor(
                F.sqrt(chi2 / n / F.least(r - 1.0, c - 1.0)) * 1_000_000
            )
            / 1_000_000
        ).alias("cramers_v"),
        (
            F.floor(F.sqrt(phi2c / F.least(rc - 1, cc - 1)) * 1_000_000)
            / 1_000_000
        ).alias("cramers_v_corrected"),
    )


_COHENS_H_ORACLE = """
    WITH assigned AS (
      SELECT CASE WHEN instr('01234567',
                        substr(md5('srm:' || CAST(user_id AS VARCHAR)), 1, 1)
                      ) > 0
                  THEN 'treatment' ELSE 'control' END AS arm,
             user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS x
      FROM assigned GROUP BY arm
    ),
    p AS (
      SELECT
        (SELECT n FROM arms WHERE arm = 'treatment') AS n1,
        (SELECT x FROM arms WHERE arm = 'treatment') AS x1,
        (SELECT n FROM arms WHERE arm = 'control') AS n2,
        (SELECT x FROM arms WHERE arm = 'control') AS x2
    ),
    h AS (
      SELECT n1, x1, n2, x2,
             2 * asin(sqrt(CAST(x1 AS DOUBLE) / n1))
               - 2 * asin(sqrt(CAST(x2 AS DOUBLE) / n2)) AS h
      -- empty-arm guard (ADVICE r12): the scalar-subquery CTE always
      -- yields 1 row with NULL stats when an arm is empty, but the
      -- Spark side's crossJoin of an empty arm frame yields 0 rows —
      -- drop the degenerate row so both engines agree on empty arms
      FROM p WHERE n1 IS NOT NULL AND n2 IS NOT NULL
    )
    SELECT n1 AS n_treatment, n2 AS n_control,
           ROUND(CAST(x1 AS DOUBLE) / n1, 6) AS p_treatment,
           ROUND(CAST(x2 AS DOUBLE) / n2, 6) AS p_control,
           floor(h * 10000) / 10000 AS cohens_h,
           CASE WHEN abs(h) >= 0.8 THEN 'large'
                WHEN abs(h) >= 0.5 THEN 'medium'
                WHEN abs(h) >= 0.2 THEN 'small'
                ELSE 'negligible' END AS magnitude
    FROM h
"""


@register("agg_cohens_h", oracle=_COHENS_H_ORACLE)
def agg_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h effect size between the two hash-assigned arms'
    user-conversion rates: h = 2 asin(sqrt(p1)) - 2 asin(sqrt(p2)) —
    the arcsine-stabilized difference of PROPORTIONS, the binary twin
    of agg_cohens_d (a 1pp conversion gap is huge at p=1% and noise at
    p=50%; h prices both correctly, a raw difference does not).
    Completes the experimentation kit's effect-size pair and feeds
    agg_power_analysis-style sizing for conversion metrics. Arms reuse
    agg_srm_check's md5-nibble assignment.

    Scale/determinism: one user-grain conditional aggregate
    (combinable) to a 2-row arm frame; p1/p2 are exact integer ratios;
    asin/sqrt run on identical doubles in both engines
    (agg_mutual_info's libm precedent); h floors at 1e-4 with the
    magnitude label on the unfloored value. Empty-arm inputs yield 0
    rows on BOTH engines (the oracle drops its NULL-stats scalar row;
    the crossJoin of an empty arm frame is naturally empty)."""
    t = load(spark, sf_dir)
    nibble = F.substring(
        F.md5(
            F.concat(F.lit("srm:"), F.col("user_id").cast("string")).cast(
                "binary"
            )
        ),
        1,
        1,
    )
    arm = F.when(
        F.instr(F.lit("01234567"), nibble) > 0, F.lit("treatment")
    ).otherwise(F.lit("control"))
    assigned = t.events.groupBy(arm.alias("arm"), "user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("x"),
    )
    tr = arms.where(F.col("arm") == "treatment").select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    ctl = arms.where(F.col("arm") == "control").select(
        F.col("n").alias("n2"), F.col("x").alias("x2")
    )
    j = tr.crossJoin(ctl)
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    h = 2 * F.asin(F.sqrt(p1)) - 2 * F.asin(F.sqrt(p2))
    return j.select(
        F.col("n1").alias("n_treatment"),
        F.col("n2").alias("n_control"),
        F.round(p1, 6).alias("p_treatment"),
        F.round(p2, 6).alias("p_control"),
        (F.floor(h * 10_000) / 10_000).alias("cohens_h"),
        F.when(F.abs(h) >= 0.8, "large")
        .when(F.abs(h) >= 0.5, "medium")
        .when(F.abs(h) >= 0.2, "small")
        .otherwise("negligible")
        .alias("magnitude"),
    )


_AB_ORACLE = f"""
    WITH {_TWO_SAMPLE_LATTICE_SQL},
    sc AS (
      SELECT v, ca, cb, na, nb,
             2 * (pca + pcb) + (ca + cb) + 1 AS r2
      FROM cum
    ),
    s AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb,
             MAX(na + nb) AS nn,
             SUM(CAST(ca AS DECIMAL(38,0))
                 * LEAST(r2, 2 * (na + nb + 1) - r2)) AS ab2
      FROM sc
    ),
    z AS (
      SELECT na, nb, nn, CAST(ab2 AS DOUBLE) / 2 AS ab,
             CASE WHEN nn % 2 = 0
                  THEN CAST(na AS DOUBLE) * (nn + 2) / 4
                  ELSE CAST(na AS DOUBLE) * (nn + 1) * (nn + 1) / (4.0 * nn)
             END AS e_ab,
             CASE WHEN nn % 2 = 0
                  THEN CAST(na AS DOUBLE) * nb * (nn + 2) * (nn - 2)
                       / (48.0 * (nn - 1))
                  ELSE CAST(na AS DOUBLE) * nb * (nn + 1)
                       * (3 + nn * CAST(nn AS DOUBLE)) / (48.0 * nn * nn)
             END AS var_ab
      FROM s
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ab AS ab_stat,
           floor((ab - e_ab) / sqrt(var_ab) * 10000) / 10000 AS z_stat,
           abs((ab - e_ab) / sqrt(var_ab)) > 1.96 AS scales_differ
    FROM z
"""


@register("agg_ansari_bradley", oracle=_AB_ORACLE)
def agg_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley two-sample SCALE test between the purchase and
    click value samples: score each pooled observation by its distance
    from the nearer END of the ranking — score = min(rank, N+1-rank) —
    and sum the first sample's scores; a dispersed sample concentrates
    at the extremes (LOW scores), a compressed one in the middle. The
    rank-based scale kit's third member: agg_mood_scale_test squares
    centered ranks, agg_levene_test needs location-aligned samples;
    AB is the classic center-free count form (Ansari & Bradley 1960).

    Scale/determinism: the shared two-sample lattice; doubled midranks
    make score2 = min(r2, 2(N+1) - r2) an exact integer per lattice
    row, and AB = sum(ca * score2)/2 folds in DECIMAL(38). Moments use
    the published NO-TIES normal approximation (even/odd N forms) —
    the documented large-sample convention on this near-continuous
    cents lattice (the agg_jonckheere_terpstra tie precedent); z
    floors at 1e-4, verdict on the unfloored value."""
    t = load(spark, sf_dir)
    cum = _two_sample_lattice(t)
    r2 = 2 * (F.col("pca") + F.col("pcb")) + (F.col("ca") + F.col("cb")) + 1
    nn_row = F.col("na") + F.col("nb")
    score2 = F.least(r2, 2 * (nn_row + 1) - r2)
    s = cum.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.max(F.col("na") + F.col("nb")).alias("nn"),
        F.sum(F.col("ca").cast(_DEC) * score2).alias("ab2"),
    )
    na, nb, nn = F.col("na"), F.col("nb"), F.col("nn")
    ab = F.col("ab2").cast("double") / 2
    e_ab = F.when(
        nn % 2 == 0, na.cast("double") * (nn + 2) / 4
    ).otherwise(na.cast("double") * (nn + 1) * (nn + 1) / (4.0 * nn))
    var_ab = F.when(
        nn % 2 == 0,
        na.cast("double") * nb * (nn + 2) * (nn - 2) / (48.0 * (nn - 1)),
    ).otherwise(
        na.cast("double") * nb * (nn + 1) * (3 + nn * nn.cast("double"))
        / (48.0 * nn * nn)
    )
    z = (ab - e_ab) / F.sqrt(var_ab)
    return s.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        ab.alias("ab_stat"),
        (F.floor(z * 10_000) / 10_000).alias("z_stat"),
        (F.abs(z) > 1.96).alias("scales_differ"),
    )


_SOMERS_ORACLE = """
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY x, y
    ),
    pairs AS (
      SELECT SUM(CASE WHEN b.y > a.y
                      THEN CAST(a.c AS DECIMAL(38,0)) * b.c ELSE 0 END)
               AS conc,
             SUM(CASE WHEN b.y < a.y
                      THEN CAST(a.c AS DECIMAL(38,0)) * b.c ELSE 0 END)
               AS disc
      FROM cells a JOIN cells b ON b.x > a.x
    ),
    fin AS (
      SELECT m.n,
             (SELECT SUM(CAST(tx AS DECIMAL(38,0)) * (tx - 1)) / 2 FROM
               (SELECT SUM(c) AS tx FROM cells GROUP BY x)) AS n1,
             (SELECT SUM(CAST(ty AS DECIMAL(38,0)) * (ty - 1)) / 2 FROM
               (SELECT SUM(c) AS ty FROM cells GROUP BY y)) AS n2,
             p.conc, p.disc
      FROM (SELECT CAST(SUM(c) AS DECIMAL(38,0)) AS n FROM cells) m, pairs p
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(conc AS DOUBLE) AS conc,
           CAST(disc AS DOUBLE) AS disc,
           floor(CAST(conc - disc AS DOUBLE)
                 / CAST(n * (n - 1) / 2 - n1 AS DOUBLE) * 1000000) / 1000000
             AS somers_d_yx,
           floor(CAST(conc - disc AS DOUBLE)
                 / CAST(n * (n - 1) / 2 - n2 AS DOUBLE) * 1000000) / 1000000
             AS somers_d_xy
    FROM fin
"""


@register("agg_somers_d", oracle=_SOMERS_ORACLE)
def agg_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D between quantity (X) and discount (Y) over lineitem:
    D(Y|X) = (C - D) / (n0 - n_ties_X) — the ASYMMETRIC ordinal
    association (Kendall's tau-b symmetrizes the tie correction;
    Somers' D conditions on the predictor, which is why it is the
    ordinal-classifier metric: D(Y|X) of score vs outcome IS
    2*AUC - 1). Both directions emitted.

    Scale/determinism: X and Y live on tiny DOMAINS (quantity 1..50,
    discount 0..10), so concordant/discordant counts fold from ONE
    self-join of the <= 550-cell joint frame restricted to b.x > a.x —
    a bounded-frame pair space at ANY corpus size (the
    agg_spearman_corr argument); cell-count products widen to
    DECIMAL(38) before multiplying (c*c overflow class); both D's are
    single exact-integer ratios entering doubles once, floored 1e-6."""
    t = load(spark, sf_dir)
    li = t.lineitem.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("y"),
    )
    cells = li.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = cells.alias("a")
    b = cells.alias("b")
    pairs = a.join(b, F.col("b.x") > F.col("a.x")).agg(
        F.sum(
            F.when(
                F.col("b.y") > F.col("a.y"),
                F.col("a.c").cast(_DEC) * F.col("b.c"),
            ).otherwise(F.lit(0).cast(_DEC))
        ).alias("conc"),
        F.sum(
            F.when(
                F.col("b.y") < F.col("a.y"),
                F.col("a.c").cast(_DEC) * F.col("b.c"),
            ).otherwise(F.lit(0).cast(_DEC))
        ).alias("disc"),
    )
    n1 = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("tx"))
        .agg(
            (F.sum(F.col("tx").cast(_DEC) * (F.col("tx") - 1)) / 2).alias(
                "n1"
            )
        )
    )
    n2 = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("ty"))
        .agg(
            (F.sum(F.col("ty").cast(_DEC) * (F.col("ty") - 1)) / 2).alias(
                "n2"
            )
        )
    )
    tot = cells.agg(F.sum("c").cast(_DEC).alias("n"))
    fin = (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
    )
    n = F.col("n")
    n0 = n * (n - 1) / 2
    cd = (F.col("conc") - F.col("disc")).cast("double")
    return fin.select(
        n.cast("bigint").alias("n"),
        # diagnostics emitted as double (identical decimal->double cast
        # both engines); the D ratios use the exact decimals directly
        F.col("conc").cast("double").alias("conc"),
        F.col("disc").cast("double").alias("disc"),
        (
            F.floor(cd / (n0 - F.col("n1")).cast("double") * 1_000_000)
            / 1_000_000
        ).alias("somers_d_yx"),
        (
            F.floor(cd / (n0 - F.col("n2")).cast("double") * 1_000_000)
            / 1_000_000
        ).alias("somers_d_xy"),
    )


_GTEST_ORACLE = f"""
    WITH ct AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT x, y, obs,
             CAST(SUM(obs) OVER (PARTITION BY x) AS BIGINT) AS row_t,
             CAST(SUM(obs) OVER (PARTITION BY y) AS BIGINT) AS col_t,
             CAST(SUM(obs) OVER () AS BIGINT) AS n
      FROM ct
    ),
    terms AS (
      SELECT x, y, n,
             SUM(2.0 * obs * ln(obs
                 / (CAST(row_t AS DOUBLE) * col_t / n)))
               OVER (ORDER BY x, y ROWS UNBOUNDED PRECEDING) AS g_cum,
             ROW_NUMBER() OVER (ORDER BY x, y) AS rn,
             COUNT(*) OVER () AS n_cells
      FROM m
    ),
    dims AS (
      SELECT COUNT(DISTINCT x) AS r, COUNT(DISTINCT y) AS c FROM ct
    ),
    s AS (
      SELECT MAX(n) AS n,
             MAX(CASE WHEN rn = n_cells THEN g_cum END) AS g
      FROM terms
    )
    SELECT CAST(s.n AS BIGINT) AS n,
           CAST((d.r - 1) * (d.c - 1) AS BIGINT) AS dof,
           ROUND(s.g, 4) AS g_stat,
           s.g > (CASE (d.r - 1) * (d.c - 1) {" ".join(
               f"WHEN {dd} THEN {cc}"
               for dd, cc in CHI2_CRIT_BY_DOF.items()
           )} END) AS dependent
    FROM s, dims d
"""


@register("agg_g_test", oracle=_GTEST_ORACLE)
def agg_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio G-test of independence on the priority x status
    contingency: G = 2 sum O ln(O/E) — the information-theoretic twin
    of agg_chi_squared (G IS 2N times the mutual information in nats,
    which is why it adds across partitioned subtables where Pearson's
    chi2 does not, and why Sokal & Rohlf recommend it once any O/E
    ratio is large). Same chi2(dof) null, crit keyed on the observed
    (r-1)(c-1) and null when untabled.

    Scale/determinism: one combinable groupBy to the bounded 15-cell
    frame; the G fold is an UNAVOIDABLE double sum and runs as a
    cumulative window in fixed (x, y) cell order with a last-row pick
    (the agg_cramers_v_corrected doctrine — G reaches ~1e13 at corpus
    scale, past any micro-unit lattice's BIGINT headroom). Structural
    zeros never appear (every observed cell has O >= 1, so ln(O/E) is
    finite by construction)."""
    t = load(spark, sf_dir)
    ct = t.orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wall = Window.partitionBy()
    m = ct.select(
        F.col("o_orderpriority").alias("x"),
        F.col("o_orderstatus").alias("y"),
        "obs",
        F.sum("obs").over(wr).alias("row_t"),
        F.sum("obs").over(wc).alias("col_t"),
        F.sum("obs").over(wall).alias("n"),
    )
    exp = F.col("row_t").cast("double") * F.col("col_t") / F.col("n")
    w_ord = Window.orderBy("x", "y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_rn = Window.orderBy("x", "y")
    terms = m.select(
        "n",
        F.sum(2.0 * F.col("obs") * F.log(F.col("obs") / exp))
        .over(w_ord)
        .alias("g_cum"),
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n_cells"),
    )
    dims = ct.agg(
        F.countDistinct("o_orderpriority").alias("r"),
        F.countDistinct("o_orderstatus").alias("c"),
    )
    s = terms.agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.col("n_cells"), F.col("g_cum"))
        ).alias("g"),
    ).crossJoin(F.broadcast(dims))
    dof = (F.col("r") - 1) * (F.col("c") - 1)
    crit = F.lit(None).cast("double")
    for dd, cc in CHI2_CRIT_BY_DOF.items():
        crit = F.when(dof == dd, F.lit(cc)).otherwise(crit)
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        dof.cast("bigint").alias("dof"),
        F.round("g", 4).alias("g_stat"),
        (F.col("g") > crit).alias("dependent"),
    )


_FISHER_Z_ORACLE = """
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS sy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                      * CAST(ROUND(l_discount * 100) AS BIGINT)) AS HUGEINT)
               AS syy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(ROUND(l_discount * 100) AS BIGINT)) AS HUGEINT)
               AS sxy
      FROM lineitem
    ),
    r AS (
      SELECT n,
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                  * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
               AS rho
      FROM s
    ),
    z AS (
      SELECT n, rho,
             0.5 * ln((1 + rho) / (1 - rho)) AS fz,
             1.96 / sqrt(n - 3.0) AS half
      FROM r WHERE n > 3 AND abs(rho) < 1
    ),
    b AS (
      SELECT n, rho, fz,
             (exp(2 * (fz - half)) - 1) / (exp(2 * (fz - half)) + 1) AS lo,
             (exp(2 * (fz + half)) - 1) / (exp(2 * (fz + half)) + 1) AS hi
      FROM z
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(rho, 6) AS pearson_r,
           floor(fz * 10000) / 10000 AS fisher_z,
           floor(lo * 1000000) / 1000000 AS ci_lo,
           floor(hi * 1000000) / 1000000 AS ci_hi,
           NOT (lo <= 0 AND 0 <= hi) AS significant
    FROM b
"""


@register("agg_fisher_z_corr_ci", oracle=_FISHER_Z_ORACLE)
def agg_fisher_z_corr_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-z confidence interval for the quantity-discount Pearson
    correlation: z = atanh(r) is ~normal with sd 1/sqrt(n-3), so the
    95% CI is tanh(z +/- 1.96/sqrt(n-3)) — the interval agg_stats_corr
    and agg_partial_corr omit (a point correlation without an interval
    is a number pretending to be a finding; near |r|=1 the
    z-transform's variance stabilization is what makes the interval
    honest where a naive +/- on r would cross 1).

    Scale/determinism: the agg_partial_corr moment machinery (exact
    integer sums, squares in DECIMAL/HUGEINT); r is one closed-form
    double; atanh spelled as 0.5 ln((1+r)/(1-r)) and tanh run on
    identical doubles in both engines (libm precedent); z floors at
    1e-4, CI bounds at 1e-6; degenerate cases (n <= 3 or |r| = 1) emit
    nothing on both engines."""
    t = load(spark, sf_dir)
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_discount") * 100).cast("bigint")
    s = t.lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum((x * x).cast(_DEC)).alias("sxx"),
        F.sum((y * y).cast(_DEC)).alias("syy"),
        F.sum((x * y).cast(_DEC)).alias("sxy"),
    )
    n = F.col("n").cast("double")
    rho = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.sqrt(
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * F.sqrt(
            n * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    z = s.select("n", rho.alias("rho")).where(
        (F.col("n") > 3) & (F.abs(F.col("rho")) < 1)
    )
    fz = 0.5 * F.log((1 + F.col("rho")) / (1 - F.col("rho")))
    half = 1.96 / F.sqrt(F.col("n") - 3.0)

    # tanh spelled as (e^2x - 1)/(e^2x + 1): this DuckDB build ships no
    # tanh scalar, and the explicit form is the same IEEE sequence in
    # both engines anyway (libm precedent)
    def _tanh(c):
        e2 = F.exp(2 * c)
        return (e2 - 1) / (e2 + 1)

    lo, hi = _tanh(fz - half), _tanh(fz + half)
    return z.select(
        F.col("n").cast("bigint").alias("n"),
        F.round("rho", 6).alias("pearson_r"),
        (F.floor(fz * 10_000) / 10_000).alias("fisher_z"),
        (F.floor(lo * 1_000_000) / 1_000_000).alias("ci_lo"),
        (F.floor(hi * 1_000_000) / 1_000_000).alias("ci_hi"),
        (~((lo <= 0) & (F.lit(0.0) <= hi))).alias("significant"),
    )


# ---------------------------------------------------------------------------
# r13 block 1: paired-sample machinery (Wilcoxon signed-rank, Lin CCC)
# ---------------------------------------------------------------------------

#: Shared paired frame: per-user cents totals in BOTH experiment arms
#: (users seen in only one arm carry no pairing information). x = the
#: purchase-arm total, y = the click-arm total, d = x - y.
_PAIRED_USER_SQL = f"""
    pu AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = '{TTEST_A}'
                      THEN CAST(ROUND(value * 100) AS BIGINT) END) AS x,
             SUM(CASE WHEN event_type = '{TTEST_B}'
                      THEN CAST(ROUND(value * 100) AS BIGINT) END) AS y
      FROM events WHERE event_type IN ('{TTEST_A}', '{TTEST_B}')
      GROUP BY user_id
      HAVING SUM(CASE WHEN event_type = '{TTEST_A}' THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN event_type = '{TTEST_B}' THEN 1 ELSE 0 END) > 0
    )
"""


def _paired_user(t) -> DataFrame:
    """Spark twin of _PAIRED_USER_SQL: (user_id, x, y) exact cents."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    g = (
        t.events.where(F.col("event_type").isin(TTEST_A, TTEST_B))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == TTEST_A, cents)).alias("x"),
            F.sum(F.when(F.col("event_type") == TTEST_B, cents)).alias("y"),
            F.sum(
                F.when(F.col("event_type") == TTEST_A, 1).otherwise(0)
            ).alias("ka"),
            F.sum(
                F.when(F.col("event_type") == TTEST_B, 1).otherwise(0)
            ).alias("kb"),
        )
        .where((F.col("ka") > 0) & (F.col("kb") > 0))
    )
    return g.select("user_id", "x", "y")


_WILCOXON_SR_ORACLE = f"""
    WITH {_PAIRED_USER_SQL},
    d AS (
      SELECT ABS(x - y) AS ad, CASE WHEN x > y THEN 1 ELSE 0 END AS pos
      FROM pu WHERE x <> y
    ),
    g AS (
      SELECT ad, COUNT(*) AS cnt, SUM(pos) AS npos
      FROM d GROUP BY ad
    ),
    r AS (
      SELECT ad, cnt, npos,
             SUM(cnt) OVER (ORDER BY ad
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - cnt AS cb
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             SUM(CAST(npos AS DECIMAL(38,0)) * (2 * cb + cnt + 1)) AS w2,
             SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt) AS tie3
      FROM r
    ),
    z AS (
      SELECT n, CAST(w2 AS DOUBLE) AS w2,
             (CAST(w2 AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2)
             / sqrt(4 * (CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                         - CAST(tie3 AS DOUBLE) / 48)) AS zs
      FROM s
    )
    SELECT n AS n_pairs, w2 / 2.0 AS w_plus,
           floor(zs * 10000) / 10000 AS z_stat,
           abs(floor(zs * 10000) / 10000) > 1.96 AS location_shifted
    FROM z
"""


@register("agg_wilcoxon_signed_rank", oracle=_WILCOXON_SR_ORACLE)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945) on PAIRED per-user arm
    totals: each user seen in both arms contributes one difference
    d = purchase_total - click_total; zero differences drop (the
    standard convention), |d| ranks with midranks over ties, and
    W+ = sum of ranks of the positive differences. The large-sample z
    uses the tie-corrected variance n(n+1)(2n+1)/24 - sum(t^3-t)/48.
    This is the PAIRED twin the census lacked: agg_mann_whitney compares
    two independent samples; pairing within user removes between-user
    variance exactly the way agg_cuped_adjustment does parametrically.

    Scale/determinism: one user_id shuffle to the paired frame, then a
    groupBy on the |d| value lattice (bounded by the distinct cent
    differences); ranks enter as the DOUBLED midrank 2*cb+cnt+1 so W+
    stays exact-integer until one final /2 (agg_auc_roc's device);
    t^3 pre-widens to DECIMAL(38,0) before multiplying (overflow
    doctrine); verdict compares the FLOORED z. Oracle: same lattice in
    SQL. The rank window is an unpartitioned cumulative count over the
    sorted |d| domain — range-partitioned cumsum territory at 100 TB,
    bounded by distinct differences, not rows."""
    t = load(spark, sf_dir)
    pu = _paired_user(t)
    d = pu.where(F.col("x") != F.col("y")).select(
        F.abs(F.col("x") - F.col("y")).alias("ad"),
        F.when(F.col("x") > F.col("y"), 1).otherwise(0).alias("pos"),
    )
    g = d.groupBy("ad").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("npos")
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    r = g.select(
        "cnt", "npos", (F.sum("cnt").over(w) - F.col("cnt")).alias("cb")
    )
    s = r.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        # pre-widen: npos*(2cb+cnt+1) sums to ~2n^2 — past BIGINT once
        # pairs exceed ~2e9 (overflow doctrine)
        F.sum(
            F.col("npos").cast(_DEC) * (2 * F.col("cb") + F.col("cnt") + 1)
        )
        .cast("double")
        .alias("w2"),
        F.sum(
            F.col("cnt").cast(_DEC) * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie3"),
    )
    nd = F.col("n").cast("double")
    zs = (F.col("w2") - nd * (F.col("n") + 1) / 2) / F.sqrt(
        4
        * (
            nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24
            - F.col("tie3").cast("double") / 48
        )
    )
    zf = F.floor(zs * 10_000) / 10_000
    return s.select(
        F.col("n").alias("n_pairs"),
        (F.col("w2") / 2.0).alias("w_plus"),
        zf.alias("z_stat"),
        (F.abs(zf) > 1.96).alias("location_shifted"),
    )


_VDA_ORACLE = f"""
    WITH {_TWO_SAMPLE_LATTICE_SQL},
    s AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb,
             SUM(CAST(ca AS DECIMAL(38,0)) * (2 * pcb + cb)) AS u2
      FROM cum
    ),
    a AS (
      SELECT na, nb,
             floor(CAST(u2 AS DOUBLE)
                   / (2 * CAST(na AS DOUBLE) * nb) * 1000000)
               / 1000000 AS a_stat
      FROM s
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, a_stat,
           CASE WHEN GREATEST(a_stat, 1 - a_stat) >= 0.71 THEN 'large'
                WHEN GREATEST(a_stat, 1 - a_stat) >= 0.64 THEN 'medium'
                WHEN GREATEST(a_stat, 1 - a_stat) >= 0.56 THEN 'small'
                ELSE 'negligible' END AS magnitude
    FROM a
"""


@register("agg_vargha_delaney_a", oracle=_VDA_ORACLE)
def agg_vargha_delaney_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vargha-Delaney A measure (Vargha & Delaney 2000) between the two
    experiment arms: A = P(X_A > X_B) + 0.5 P(X_A = X_B) — the
    probability-of-superiority effect size, the [0,1]-scaled transform
    of Mann-Whitney U that reads directly ("a random purchase outvalues
    a random click A% of the time"). Completes the nonparametric
    effect-size pair with agg_cliff_delta (delta = 2A - 1); the
    published magnitude bands 0.56/0.64/0.71 apply to max(A, 1-A).

    Scale/determinism: the shared two-sample cents lattice; 2U folds as
    one exact integer sum ca*(2*pcb + cb) with the ca term pre-widened
    to DECIMAL(38,0) (pair counts overflow BIGINT at corpus scale);
    one final division floored at 1e-6, and the magnitude label reads
    the FLOORED statistic so band boundaries agree cross-engine."""
    lat = _two_sample_lattice(load(spark, sf_dir))
    s = lat.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum(
            F.col("ca").cast(_DEC) * (2 * F.col("pcb") + F.col("cb"))
        ).alias("u2"),
    )
    a_stat = (
        F.floor(
            F.col("u2").cast("double")
            / (2 * F.col("na").cast("double") * F.col("nb"))
            * 1_000_000
        )
        / 1_000_000
    )
    s = s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        a_stat.alias("a_stat"),
    )
    eff = F.greatest(F.col("a_stat"), 1 - F.col("a_stat"))
    return s.select(
        "n_a",
        "n_b",
        "a_stat",
        F.when(eff >= 0.71, "large")
        .when(eff >= 0.64, "medium")
        .when(eff >= 0.56, "small")
        .otherwise("negligible")
        .alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# r13 block 2: Siegel-Tukey alternating-rank scale test
# ---------------------------------------------------------------------------

#: Siegel-Tukey rank assignment, positional closed forms. The literal
#: scheme consumes positions in groups — 1 low, 2 high, 2 low, 2 high,
#: ... — so the count of LOW-end positions is
#:   nL(N) = 2*floor(N/4) + (1 if N mod 4 != 0 else 0)
#: (NOT ceil(N/2): at N = 7 the lows are 3, because the final
#: two-element group falls on the high side). Position p (1-based,
#: ascending value order) is ranked from the LOW end while p <= nL and
#: from the HIGH end (j = N+1-p) above it:
#:   g_low(i)  = 2i-1 (i odd),  2i (i even)   -> 1, 4, 5, 8, 9, ...
#:   g_high(j) = 2j   (j odd), 2j-1 (j even)  -> 2, 3, 6, 7, ...
#: (both formulas hold for partial final groups — verified by the
#: literal simulation in tests/test_round13.py).
#: Sum over a positional run [a,b] is then closed-form integer
#: arithmetic: sum 2p minus the count of odd (low) / even (high)
#: positions in the run — no per-observation work, so a tied lattice
#: row's midrank costs O(1) however many observations share the value.
#: (Every observation keeps a rank — the keep-the-median variant;
#: published practice varies between keeping and dropping the middle
#: of an odd N, and the choice is stated here, not silent.)
_ST_RANKSUM_SQL = """
      (CASE WHEN LEAST(hi, mid) >= lo
            THEN CAST(lo + LEAST(hi, mid) AS DECIMAL(38,0))
                 * (LEAST(hi, mid) - lo + 1)
                 - (FLOOR((LEAST(hi, mid) + 1) / 2.0)
                    - FLOOR(lo / 2.0))
            ELSE 0 END)
      + (CASE WHEN hi >= GREATEST(lo, mid + 1)
              THEN CAST(nn + 1 - hi + nn + 1 - GREATEST(lo, mid + 1)
                        AS DECIMAL(38,0))
                   * (hi - GREATEST(lo, mid + 1) + 1)
                   - (FLOOR((nn + 1 - GREATEST(lo, mid + 1)) / 2.0)
                      - FLOOR((nn - hi) / 2.0))
              ELSE 0 END)
"""

_SIEGEL_TUKEY_ORACLE = f"""
    WITH {_TWO_SAMPLE_LATTICE_SQL},
    pos AS (
      SELECT v, ca, cb, na, nb, na + nb AS nn,
             2 * FLOOR((na + nb) / 4.0)
               + CASE WHEN (na + nb) % 4 = 0 THEN 0 ELSE 1 END AS mid,
             pca + pcb + 1 AS lo, cca + ccb AS hi
      FROM cum
    ),
    mr AS (
      SELECT v, ca, cb, na, nb, nn,
             ({_ST_RANKSUM_SQL}) / CAST(hi - lo + 1 AS DOUBLE) AS midrank
      FROM pos
    ),
    fold AS (
      SELECT v, ca, cb, na, nb, nn,
             SUM(ca * midrank) OVER (ORDER BY v
                                     ROWS UNBOUNDED PRECEDING) AS wa_cum
      FROM mr
    ),
    s AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb, MAX(nn) AS nn,
             MAX_BY(wa_cum, v) AS wa,
             SUM(CAST(ca + cb AS DECIMAL(38,0)) * (ca + cb) * (ca + cb)
                 - (ca + cb)) AS tie3
      FROM fold
    ),
    z AS (
      SELECT na, nb, wa,
             (wa - CAST(na AS DOUBLE) * (nn + 1) / 2)
             / sqrt(CAST(na AS DOUBLE) * nb / 12
                    * ((nn + 1) - CAST(tie3 AS DOUBLE)
                                  / (CAST(nn AS DOUBLE) * (nn - 1)))) AS zs
      FROM s
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           floor(wa * 10000) / 10000 AS rank_sum_a,
           floor(zs * 10000) / 10000 AS z_stat,
           abs(floor(zs * 10000) / 10000) > 1.96 AS scales_differ
    FROM z
"""


@register("agg_siegel_tukey", oracle=_SIEGEL_TUKEY_ORACLE)
def agg_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel-Tukey test (Siegel & Tukey 1960) for a DISPERSION
    difference between the two arms: ranks alternate from the extremes
    inward (1 to the lowest, 2-3 to the two highest, 4-5 to the next
    two lowest, ...), so a sample concentrated in the tails collects
    small+large alternating ranks and the ordinary Wilcoxon rank-sum
    machinery, applied to these ranks, becomes a scale test that needs
    no variance estimate. Reads beside agg_mood_scale_test (squared
    deviations from the mid-rank) and agg_ansari_bradley (min of the
    two end-distances): three classical rank-dispersion statistics,
    one family.

    Scale/determinism: positional rank-run sums are exact-integer
    closed forms per lattice row (see _ST_RANKSUM_SQL — O(1) per
    distinct value, never per observation); tied values take the
    midrank of their positional run. The rank-sum W_A is the one
    unavoidable double fold (midranks are rationals), so it
    accumulates via the cumulative window in v-order and max_by —
    identical fp sequence on both engines; t^3 tie terms pre-widen to
    DECIMAL(38,0); z floors at 1e-4 and the verdict reads the FLOORED
    value. The variance is the standard tie-corrected rank-sum form —
    an APPROXIMATION under ties, not exact: ST ranks permute 1..N so
    the untied variance applies unchanged, but a tied positional run
    carries NON-consecutive ST ranks (gaps up to 3 within a zone), so
    midranking removes more within-run deviation than the (t^3-t)/12
    term subtracts — on a heavily tied lattice the variance is mildly
    overstated and |z| understated (conservative). Both engines and
    the planted model pin this same convention, so parity holds; an
    exact variant would fold na*nb/(N(N-1))*sum((a_i-abar)^2) over the
    actual midranked ST scores (ADVICE r13)."""
    lat = _two_sample_lattice(load(spark, sf_dir))
    nn = F.col("na") + F.col("nb")
    mid = 2 * F.floor(nn / 4.0) + F.when(nn % 4 == 0, 0).otherwise(1)
    lo = F.col("pca") + F.col("pcb") + 1
    hi = F.col("cca") + F.col("ccb")
    b1 = F.least(hi, mid)
    # positional products pre-widen to DECIMAL(38,0): a run spanning
    # ~N positions multiplies to ~2N^2, past BIGINT once N > ~2e9
    # observations (overflow doctrine; DuckDB side mirrors the CAST)
    low_sum = F.when(
        b1 >= lo,
        (lo + b1).cast(_DEC) * (b1 - lo + 1)
        - (F.floor((b1 + 1) / 2.0) - F.floor(lo / 2.0)),
    ).otherwise(F.lit(0))
    a2 = F.greatest(lo, mid + 1)
    ja = nn + 1 - hi
    jb = nn + 1 - a2
    high_sum = F.when(
        hi >= a2,
        (ja + jb).cast(_DEC) * (jb - ja + 1)
        - (F.floor(jb / 2.0) - F.floor((ja - 1) / 2.0)),
    ).otherwise(F.lit(0))
    mr = lat.select(
        "v",
        "ca",
        "cb",
        "na",
        "nb",
        nn.alias("nn"),
        ((low_sum + high_sum) / (hi - lo + 1).cast("double")).alias(
            "midrank"
        ),
    )
    w_ord = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tg = F.col("ca") + F.col("cb")
    fold = mr.select(
        "v",
        "na",
        "nb",
        "nn",
        F.sum(F.col("ca") * F.col("midrank")).over(w_ord).alias("wa_cum"),
        (tg.cast(_DEC) * tg * tg - tg).alias("tie3_term"),
    )
    s = fold.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.max("nn").alias("nn"),
        F.max_by("wa_cum", "v").alias("wa"),
        F.sum("tie3_term").alias("tie3"),
    )
    nad = F.col("na").cast("double")
    nnd = F.col("nn").cast("double")
    zs = (F.col("wa") - nad * (F.col("nn") + 1) / 2) / F.sqrt(
        nad
        * F.col("nb")
        / 12
        * ((F.col("nn") + 1) - F.col("tie3").cast("double") / (nnd * (F.col("nn") - 1)))
    )
    zf = F.floor(zs * 10_000) / 10_000
    return s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        (F.floor(F.col("wa") * 10_000) / 10_000).alias("rank_sum_a"),
        zf.alias("z_stat"),
        (F.abs(zf) > 1.96).alias("scales_differ"),
    )


# ---------------------------------------------------------------------------
# r13 block 3: Kendall's W (concordance of nation rankings across years)
# ---------------------------------------------------------------------------

#: 5% chi-squared critical values for the dofs Kendall's W meets here
#: (items - 1; up to the 25 TPC-H nations). Extends the shared
#: CHI2_CRIT_BY_DOF table PRIVATELY — widening the shared table would
#: silently flip other operators' untabled-dof nulls into verdicts.
KENDALL_W_CHI2_CRIT = dict(CHI2_CRIT_BY_DOF)
KENDALL_W_CHI2_CRIT.update({
    13: 22.3620, 14: 23.6848, 15: 24.9958, 16: 26.2962, 17: 27.5871,
    18: 28.8693, 19: 30.1435, 20: 31.4104, 21: 32.6706, 22: 33.9244,
    23: 35.1725, 24: 36.4150, 25: 37.6525, 26: 38.8851, 27: 40.1133,
    28: 41.3371, 29: 42.5570, 30: 43.7730,
})

_KW_CHI2_SQL_CASE = "CASE dof " + " ".join(
    f"WHEN {d} THEN {c}" for d, c in KENDALL_W_CHI2_CRIT.items()
) + " END"

_KENDALL_W_ORACLE = f"""
    WITH rev AS (
      SELECT year(o_orderdate) AS yr, n.n_name AS item,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      GROUP BY 1, 2
    ),
    m AS (SELECT COUNT(DISTINCT yr) AS m FROM rev),
    items AS (
      SELECT item FROM rev GROUP BY item
      HAVING COUNT(*) = (SELECT m FROM m)
    ),
    fr AS (SELECT rev.* FROM rev JOIN items USING (item)),
    rk AS (
      SELECT yr, item,
             2 * (RANK() OVER (PARTITION BY yr ORDER BY c) - 1)
             + COUNT(*) OVER (PARTITION BY yr, c) AS r2
      FROM fr
    ),
    rs AS (SELECT item, CAST(SUM(r2) + COUNT(*) AS BIGINT) AS r2sum
           FROM rk GROUP BY item),
    ties AS (
      SELECT SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie3
      FROM (SELECT yr, c, COUNT(*) AS t FROM fr GROUP BY yr, c)
    ),
    s1 AS (
      SELECT r2sum, COUNT(*) OVER () AS n, (SELECT m FROM m) AS m
      FROM rs
    ),
    s AS (
      SELECT MAX(n) AS n, MAX(m) AS m,
             SUM(CAST(r2sum - m * (n + 1) AS DECIMAL(38,0))
                 * (r2sum - m * (n + 1))) AS s4,
             (SELECT tie3 FROM ties) AS tie3
      FROM s1
    ),
    w AS (
      SELECT n, m,
             3 * CAST(s4 AS DOUBLE)
             / (CAST(m AS DOUBLE) * m * (CAST(n AS DOUBLE) * n * n - n)
                - m * CAST(tie3 AS DOUBLE)) AS ws
      FROM s
      WHERE CAST(m AS DOUBLE) * m * (CAST(n AS DOUBLE) * n * n - n)
            - m * CAST(tie3 AS DOUBLE) > 0
    ),
    v AS (SELECT n, m, ws, n - 1 AS dof,
                 m * (n - 1) * ws AS chi2 FROM w)
    SELECT CAST(n AS BIGINT) AS n_items, CAST(m AS BIGINT) AS m_judges,
           floor(ws * 1000000) / 1000000 AS kendall_w,
           floor(chi2 * 10000) / 10000 AS chi2_stat,
           floor(chi2 * 10000) / 10000 > ({_KW_CHI2_SQL_CASE})
             AS rankings_agree
    FROM v
"""


@register("agg_kendall_w", oracle=_KENDALL_W_ORACLE)
def agg_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith 1939) of the nations' yearly-revenue RANKINGS across order
    years: each year ranks the nations by revenue (midranks on ties);
    W in [0,1] measures how stable that league table is across years
    (1 = every year agrees), with the tie-corrected denominator
    m^2(n^3-n) - m*sum(t^3-t) and the chi-squared approximation
    chi2 = m(n-1)W judged at the OBSERVED dof (the r12 levene/kruskal
    lesson — never a hard-wired table row). Items missing in any year
    drop first (complete-blocks requirement), so n is data-derived.

    Scale/determinism: revenue folds to exact cents per (year, nation)
    — one combinable shuffle; ranks are DOUBLED midranks
    2*(RANK-1) + tiecount + 1 via RANK/COUNT windows over the bounded
    nation-per-year frame (<= 25 rows per partition at any SF), so
    every sum up to the final W division is exact integer arithmetic;
    deviation squares and t^3 terms pre-widen to DECIMAL(38,0). W
    floors at 1e-6, chi2 at 1e-4, and the verdict compares the FLOORED
    chi2 (null when the dof is outside the tabled 1..30)."""
    t = load(spark, sf_dir)
    rev = (
        t.orders.join(
            t.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.col("n_name").alias("item"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .alias("c")
        )
    )
    m_df = rev.agg(F.countDistinct("yr").alias("m"))
    items = (
        rev.groupBy("item")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(F.broadcast(m_df), F.col("k") == F.col("m"))
        .select("item")
    )
    fr = rev.join(F.broadcast(items), "item")
    w_rank = Window.partitionBy("yr").orderBy("c")
    w_tie = Window.partitionBy("yr", "c")
    rk = fr.select(
        "item",
        (
            2 * (F.rank().over(w_rank) - 1)
            + F.count(F.lit(1)).over(w_tie)
        ).alias("r2"),
    )
    rs = rk.groupBy("item").agg(
        (F.sum("r2") + F.count(F.lit(1))).cast("bigint").alias("r2sum")
    )
    ties = (
        fr.groupBy("yr", "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t").cast(_DEC) * F.col("t") * F.col("t") - F.col("t")
            ).alias("tie3")
        )
    )
    s1 = rs.crossJoin(F.broadcast(m_df)).select(
        "r2sum", F.count(F.lit(1)).over(Window.partitionBy()).alias("n"), "m"
    )
    dev = F.col("r2sum") - F.col("m") * (F.col("n") + 1)
    s = (
        s1.agg(
            F.max("n").alias("n"),
            F.max("m").alias("m"),
            F.sum(dev.cast(_DEC) * dev).alias("s4"),
        )
        .crossJoin(F.broadcast(ties))
    )
    nd = F.col("n").cast("double")
    md = F.col("m").cast("double")
    denom = md * F.col("m") * (nd * F.col("n") * F.col("n") - F.col("n")) - F.col(
        "m"
    ) * F.col("tie3").cast("double")
    ws = 3 * F.col("s4").cast("double") / denom
    w = s.where(denom > 0).select("n", "m", ws.alias("ws"))
    chi2 = F.col("m") * (F.col("n") - 1) * F.col("ws")
    chi2f = F.floor(chi2 * 10_000) / 10_000
    crit = F.lit(None).cast("double")
    for d, c in KENDALL_W_CHI2_CRIT.items():
        crit = F.when(F.col("n") - 1 == d, F.lit(c)).otherwise(crit)
    return w.select(
        F.col("n").cast("bigint").alias("n_items"),
        F.col("m").cast("bigint").alias("m_judges"),
        (F.floor(F.col("ws") * 1_000_000) / 1_000_000).alias("kendall_w"),
        chi2f.alias("chi2_stat"),
        (chi2f > crit).alias("rankings_agree"),
    )


# ---------------------------------------------------------------------------
# r13 block 4: Durbin-Watson, Lin's CCC, TOST equivalence
# ---------------------------------------------------------------------------

_DW_ORACLE = """
    WITH daily AS (
      SELECT o_orderdate AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    tt AS (
      SELECT day, y,
             ROW_NUMBER() OVER (ORDER BY day) AS t
      FROM daily
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             SUM(CAST(t AS DECIMAL(38,0)) * t) AS st2,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(t AS DECIMAL(38,0)) * y) AS sty
      FROM tt
    ),
    co AS (
      SELECT n,
             (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
             CAST(st AS DOUBLE) AS std, CAST(sy AS DOUBLE) AS syd
      FROM m
    ),
    res AS (
      SELECT tt.t, co.n,
             tt.y - (co.syd - co.b * co.std) / co.n - co.b * tt.t AS e
      FROM tt CROSS JOIN co
    ),
    fold AS (
      SELECT t, n,
             SUM(e * e) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
               AS e2_cum,
             SUM(CASE WHEN lag_e IS NULL THEN 0.0
                      ELSE (e - lag_e) * (e - lag_e) END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS d2_cum
      FROM (SELECT t, n, e, LAG(e) OVER (ORDER BY t) AS lag_e FROM res)
    ),
    s AS (
      SELECT MAX(n) AS n, MAX_BY(e2_cum, t) AS e2, MAX_BY(d2_cum, t) AS d2
      FROM fold
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           floor(d2 / e2 * 10000) / 10000 AS dw_stat,
           CASE WHEN floor(d2 / e2 * 10000) / 10000 < 1.5
                  THEN 'positive_autocorr'
                WHEN floor(d2 / e2 * 10000) / 10000 > 2.5
                  THEN 'negative_autocorr'
                ELSE 'none_detected' END AS verdict
    FROM s WHERE e2 > 0
"""


@register("agg_durbin_watson", oracle=_DW_ORACLE)
def agg_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic (Durbin & Watson 1950) on the residuals
    of the daily-revenue-vs-time OLS line: DW = sum((e_t - e_{t-1})^2)
    / sum(e_t^2), near 2 under independence, toward 0 under positive
    serial correlation — the standard post-regression autocorrelation
    screen that agg_regr / agg_mann_kendall readers ask for next. The
    exact DW critical bounds depend on (n, k) tables; the emitted
    verdict uses the conventional 1.5/2.5 rule-of-thumb bands,
    documented as such (the statistic itself is the contract).

    Scale/determinism: daily cents fold first (bounded ~2,400 rows at
    any SF — the orders date range), so the day-ordered residual walk
    is over a DOMAIN-bounded frame; slope/intercept come from exact
    integer moment sums (t*y pre-widened to DECIMAL(38,0) — sty
    overflows BIGINT at corpus scale); the two unavoidable double sums
    (e^2 and the lag-difference squares) accumulate via cumulative
    windows in t-order and max_by — identical fp sequence both
    engines. DW floors at 1e-4 and the verdict reads the FLOORED
    value."""
    t = load(spark, sf_dir)
    daily = t.orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
    )
    tt = daily.select(
        "day", "y", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    m = tt.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t").cast(_DEC) * F.col("t")).alias("st2"),
        F.sum(F.col("y").cast(_DEC)).alias("sy"),
        F.sum(F.col("t").cast(_DEC) * F.col("y")).alias("sty"),
    )
    nd = F.col("n").cast("double")
    b = (
        nd * F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("st2").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double")
    )
    co = m.select(
        "n",
        b.alias("b"),
        F.col("st").cast("double").alias("std"),
        F.col("sy").cast("double").alias("syd"),
    )
    res = tt.crossJoin(F.broadcast(co)).select(
        "t",
        "n",
        (
            F.col("y")
            - (F.col("syd") - F.col("b") * F.col("std")) / F.col("n")
            - F.col("b") * F.col("t")
        ).alias("e"),
    )
    w_ord = Window.orderBy("t")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    lagged = res.select(
        "t", "n", "e", F.lag("e").over(w_ord).alias("lag_e")
    )
    fold = lagged.select(
        "t",
        "n",
        F.sum(F.col("e") * F.col("e")).over(w_cum).alias("e2_cum"),
        F.sum(
            F.when(F.col("lag_e").isNull(), F.lit(0.0)).otherwise(
                (F.col("e") - F.col("lag_e")) * (F.col("e") - F.col("lag_e"))
            )
        )
        .over(w_cum)
        .alias("d2_cum"),
    )
    s = fold.agg(
        F.max("n").alias("n"),
        F.max_by("e2_cum", "t").alias("e2"),
        F.max_by("d2_cum", "t").alias("d2"),
    )
    dw = F.floor(F.col("d2") / F.col("e2") * 10_000) / 10_000
    return s.where(F.col("e2") > 0).select(
        F.col("n").cast("bigint").alias("n_days"),
        dw.alias("dw_stat"),
        F.when(dw < 1.5, "positive_autocorr")
        .when(dw > 2.5, "negative_autocorr")
        .otherwise("none_detected")
        .alias("verdict"),
    )


_LIN_CCC_ORACLE = f"""
    WITH {_PAIRED_USER_SQL},
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM pu
    ),
    d AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
             CAST(sxx AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS vx,
             CAST(syy AS DOUBLE) / n
               - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vy,
             CAST(sxy AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS cxy
      FROM m
    )
    SELECT n AS n_pairs,
           floor(2 * cxy / (vx + vy + (mx - my) * (mx - my)) * 1000000)
             / 1000000 AS lin_ccc,
           floor(cxy / sqrt(vx * vy) * 1000000) / 1000000 AS pearson_r,
           floor(2 * cxy / (vx + vy + (mx - my) * (mx - my))
                 / (cxy / sqrt(vx * vy)) * 1000000) / 1000000
             AS bias_correction
    FROM d WHERE vx > 0 AND vy > 0 AND cxy <> 0
"""


@register("agg_lin_ccc", oracle=_LIN_CCC_ORACLE)
def agg_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient (Lin 1989) between the
    paired per-user arm totals: CCC = 2*s_xy / (s_x^2 + s_y^2 +
    (mean_x - mean_y)^2) — how well the (x, y) pairs fall on the 45°
    IDENTITY line, not just any line. Pearson r (precision) times the
    bias-correction factor C_b (accuracy) decomposes it: r measures
    scatter, C_b the scale/location shift — the standard
    method-agreement statistic (two models scoring the same corpus,
    two labs measuring the same sample) that plain correlation
    overstates. Population (1/n) moments per Lin's original form.

    Scale/determinism: one user_id shuffle to the paired cents frame,
    then a single combinable moment pass — all six sums pre-widen to
    DECIMAL(38,0) (cents-squared sums overflow BIGINT at corpus
    scale); CCC / r / C_b are each one closed-form double expression
    over those exact integers, floored at 1e-6. Degenerate inputs
    (zero variance or zero covariance) emit 0 rows on both engines."""
    pu = _paired_user(load(spark, sf_dir))
    m = pu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("sx"),
        F.sum(F.col("y").cast(_DEC)).alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    vx = F.col("sxx").cast("double") / nd - mx * mx
    vy = F.col("syy").cast("double") / nd - my * my
    cxy = F.col("sxy").cast("double") / nd - mx * my
    d = m.select(
        "n", mx.alias("mx"), my.alias("my"), vx.alias("vx"),
        vy.alias("vy"), cxy.alias("cxy"),
    )
    ccc = 2 * F.col("cxy") / (
        F.col("vx")
        + F.col("vy")
        + (F.col("mx") - F.col("my")) * (F.col("mx") - F.col("my"))
    )
    r = F.col("cxy") / F.sqrt(F.col("vx") * F.col("vy"))
    return d.where(
        (F.col("vx") > 0) & (F.col("vy") > 0) & (F.col("cxy") != 0)
    ).select(
        F.col("n").alias("n_pairs"),
        (F.floor(ccc * 1_000_000) / 1_000_000).alias("lin_ccc"),
        (F.floor(r * 1_000_000) / 1_000_000).alias("pearson_r"),
        (F.floor(ccc / r * 1_000_000) / 1_000_000).alias("bias_correction"),
    )


#: TOST equivalence margin: +-2% of the grand mean (a RELATIVE margin,
#: the practical-equivalence convention for revenue-class metrics).
TOST_MARGIN_PCT = 2

_TOST_ORACLE = f"""
    WITH ev AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type IN ('{TTEST_A}', '{TTEST_B}')
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(v AS DECIMAL(38,0))) AS s,
             SUM(CAST(v AS DECIMAL(38,0)) * v) AS s2
      FROM ev GROUP BY event_type
    ),
    p AS (
      SELECT
        (SELECT n FROM g WHERE event_type = '{TTEST_A}') AS na,
        (SELECT CAST(s AS DOUBLE) FROM g
          WHERE event_type = '{TTEST_A}') AS sa,
        (SELECT CAST(s2 AS DOUBLE) FROM g
          WHERE event_type = '{TTEST_A}') AS sa2,
        (SELECT n FROM g WHERE event_type = '{TTEST_B}') AS nb,
        (SELECT CAST(s AS DOUBLE) FROM g
          WHERE event_type = '{TTEST_B}') AS sb,
        (SELECT CAST(s2 AS DOUBLE) FROM g
          WHERE event_type = '{TTEST_B}') AS sb2
    ),
    d AS (
      SELECT na, nb, sa / na - sb / nb AS diff,
             {TOST_MARGIN_PCT} * (sa + sb) / (100.0 * (na + nb)) AS delta,
             sqrt(((sa2 - sa * sa / na) / (na - 1)) / na
                  + ((sb2 - sb * sb / nb) / (nb - 1)) / nb) AS se
      FROM p WHERE na > 1 AND nb > 1
    )
    SELECT na AS n_a, nb AS n_b,
           floor(diff * 100) / 10000 AS mean_diff,
           floor(delta * 100) / 10000 AS margin,
           floor((diff + delta) / se * 10000) / 10000 AS z_lower,
           floor((delta - diff) / se * 10000) / 10000 AS z_upper,
           floor((diff + delta) / se * 10000) / 10000 > 1.645
             AND floor((delta - diff) / se * 10000) / 10000 > 1.645
             AS equivalent
    FROM d
"""


@register("agg_tost_equivalence", oracle=_TOST_ORACLE)
def agg_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987) between the two arms'
    value means: two one-sided large-sample z tests against the
    +-TOST_MARGIN_PCT%-of-grand-mean margin — BOTH z_lower =
    (diff + delta)/SE and z_upper = (delta - diff)/SE must exceed
    1.645 to declare equivalence. This answers the question
    agg_t_test cannot: a non-significant difference is NOT evidence of
    equivalence; TOST is the correct "did the change NOT move the
    metric" gate for no-regression launches. Large-sample normal form
    (the fixture arms are thousands of observations; dof-tabled t
    would be the small-n refinement), Welch SE from per-arm variances.

    Scale/determinism: one combinable moment pass per arm over exact
    cents (squares pre-widened to DECIMAL(38,0)); diff / margin / SE /
    both z's are single closed-form double expressions over those
    integers, identical text both engines. The margin is data-derived
    (2% of the grand mean) so the op is scale-free across SFs. z's
    floor at 1e-4, means at 1e-4 dollars, and the verdict compares the
    FLOORED z's (boolean-on-floored doctrine)."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    g = (
        t.events.where(F.col("event_type").isin(TTEST_A, TTEST_B))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents.cast(_DEC)).alias("s"),
            F.sum(cents.cast(_DEC) * cents).alias("s2"),
        )
    )
    a = g.where(F.col("event_type") == TTEST_A).select(
        F.col("n").alias("na"),
        F.col("s").cast("double").alias("sa"),
        F.col("s2").cast("double").alias("sa2"),
    )
    b = g.where(F.col("event_type") == TTEST_B).select(
        F.col("n").alias("nb"),
        F.col("s").cast("double").alias("sb"),
        F.col("s2").cast("double").alias("sb2"),
    )
    p = a.crossJoin(b).where((F.col("na") > 1) & (F.col("nb") > 1))
    diff = F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")
    delta = (
        TOST_MARGIN_PCT
        * (F.col("sa") + F.col("sb"))
        / (100.0 * (F.col("na") + F.col("nb")))
    )
    se = F.sqrt(
        ((F.col("sa2") - F.col("sa") * F.col("sa") / F.col("na")) / (F.col("na") - 1))
        / F.col("na")
        + ((F.col("sb2") - F.col("sb") * F.col("sb") / F.col("nb")) / (F.col("nb") - 1))
        / F.col("nb")
    )
    d = p.select(
        "na", "nb", diff.alias("diff"), delta.alias("delta"), se.alias("se")
    )
    z_lo = F.floor((F.col("diff") + F.col("delta")) / F.col("se") * 10_000) / 10_000
    z_hi = F.floor((F.col("delta") - F.col("diff")) / F.col("se") * 10_000) / 10_000
    return d.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        (F.floor(F.col("diff") * 100) / 10_000).alias("mean_diff"),
        (F.floor(F.col("delta") * 100) / 10_000).alias("margin"),
        z_lo.alias("z_lower"),
        z_hi.alias("z_upper"),
        ((z_lo > 1.645) & (z_hi > 1.645)).alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# r13 mini-batch 2: Cox-Stuart trend, Bartels rank von Neumann,
# paired sign test — three classical closed forms on existing frames.
# ---------------------------------------------------------------------------

_COX_STUART_ORACLE = """
    WITH daily AS (
      SELECT o_orderdate AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    tt AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY day) AS t,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    prs AS (
      SELECT a.y AS y1, b.y AS y2
      FROM tt a JOIN tt b
        ON b.t = a.t + CAST(CEIL(a.n / 2.0) AS BIGINT)
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN y2 <> y1 THEN 1 ELSE 0 END) AS BIGINT)
               AS k,
             CAST(SUM(CASE WHEN y2 > y1 THEN 1 ELSE 0 END) AS BIGINT)
               AS plus
      FROM prs
    )
    SELECT k AS n_pairs, plus AS n_plus,
           floor((2 * plus - k) / sqrt(CAST(k AS DOUBLE)) * 10000)
             / 10000 AS z_stat,
           CASE WHEN abs(floor((2 * plus - k) / sqrt(CAST(k AS DOUBLE))
                               * 10000) / 10000) <= 1.96 THEN 'none'
                WHEN 2 * plus > k THEN 'increasing'
                ELSE 'decreasing' END AS trend
    FROM s WHERE k > 0
"""


@register("agg_cox_stuart", oracle=_COX_STUART_ORACLE)
def agg_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test (Cox & Stuart 1955) on the daily-revenue
    series: pair day i with day i + ceil(n/2) (the second half against
    the first; an odd middle day pairs with nothing and drops, the
    published convention), count strictly-rising pairs, and test the
    count against Binomial(k, 1/2) by the large-sample z. The
    SIGN-based robust cousin of agg_mann_kendall (which weighs every
    pair) — O(n) pairs instead of O(n^2), the screen you run first.

    Scale/determinism: the day-grain fold is CALENDAR-bounded
    (~2,400 rows at any SF); the half-offset self-join is one
    broadcast-scale join on exact integers; ties drop exactly on both
    engines (integer cents equality); z floors at 1e-4 and the trend
    label reads the FLOORED value."""
    t = load(spark, sf_dir)
    daily = t.orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
    )
    w_all = Window.partitionBy()
    tt = daily.select(
        "y",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    a = tt.select("y", "t", F.ceil(F.col("n") / 2.0).alias("off"))
    b = tt.select(F.col("y").alias("y2"), F.col("t").alias("t2"))
    prs = a.join(b, F.col("t2") == F.col("t") + F.col("off"))
    s = prs.agg(
        F.sum((F.col("y2") != F.col("y")).cast("int"))
        .cast("bigint")
        .alias("k"),
        F.sum((F.col("y2") > F.col("y")).cast("int"))
        .cast("bigint")
        .alias("plus"),
    )
    z = (2 * F.col("plus") - F.col("k")) / F.sqrt(F.col("k").cast("double"))
    zf = F.floor(z * 10_000) / 10_000
    return s.where(F.col("k") > 0).select(
        F.col("k").alias("n_pairs"),
        F.col("plus").alias("n_plus"),
        zf.alias("z_stat"),
        F.when(F.abs(zf) <= 1.96, "none")
        .when(2 * F.col("plus") > F.col("k"), "increasing")
        .otherwise("decreasing")
        .alias("trend"),
    )


_BARTELS_ORACLE = """
    WITH daily AS (
      SELECT o_orderdate AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    rk AS (
      SELECT day,
             2 * (RANK() OVER (ORDER BY y) - 1)
               + COUNT(*) OVER (PARTITION BY y) + 1 AS r2,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    dif AS (
      SELECT r2, n,
             LEAD(r2) OVER (ORDER BY day) AS nxt
      FROM rk
    ),
    s AS (
      SELECT MAX(n) AS n,
             SUM(CASE WHEN nxt IS NULL THEN 0
                      ELSE CAST(r2 - nxt AS DECIMAL(38,0)) * (r2 - nxt)
                 END) AS nm4,
             SUM(CAST(r2 - n - 1 AS DECIMAL(38,0))
                 * (r2 - n - 1)) AS d4
      FROM dif
    ),
    v AS (
      SELECT n, CAST(nm4 AS DOUBLE) / CAST(d4 AS DOUBLE) AS rvn,
             4.0 * (n - 2) * (5.0 * n * n - 2 * n - 9)
             / (5.0 * n * (n + 1) * (CAST(n AS DOUBLE) - 1)
                * (n - 1)) AS var_rvn
      FROM s WHERE CAST(d4 AS DOUBLE) > 0 AND n > 2
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           floor(rvn * 10000) / 10000 AS rvn_stat,
           floor((rvn - 2) / sqrt(var_rvn) * 10000) / 10000 AS z_stat,
           CASE WHEN abs(floor((rvn - 2) / sqrt(var_rvn) * 10000) / 10000)
                     <= 1.96 THEN 'random'
                WHEN rvn < 2 THEN 'positive_serial_corr'
                ELSE 'negative_serial_corr' END AS verdict
    FROM v
"""


@register("agg_bartels_rank", oracle=_BARTELS_ORACLE)
def agg_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels rank von Neumann randomness test (Bartels 1982) on the
    daily-revenue series: RVN = sum((R_t - R_{t+1})^2) / sum((R_t -
    Rbar)^2) over the day-order RANKS — near 2 under randomness, below
    it under positive serial correlation. The RANK-based companion of
    agg_durbin_watson: DW tests the residuals of a fitted line (and
    inherits its linearity), Bartels tests the raw series and survives
    monotone transforms; read the pair together. Ties take midranks
    and the no-ties asymptotic variance 4(n-2)(5n^2-2n-9)/(5n(n+1)
    (n-1)^2) — the stated approximation.

    Scale/determinism: CALENDAR-bounded day frame; DOUBLED midranks
    keep both quadratic forms exact integers (pre-widened to
    DECIMAL(38,0) — (2R)^2 sums reach ~4n^3), the 2-unit scaling
    cancels in the ratio; one closed-form double z, floored 1e-4,
    verdict on the FLOORED value."""
    t = load(spark, sf_dir)
    daily = t.orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
    )
    w_all = Window.partitionBy()
    # doubled midrank 2R = 2*lt + eq + 1 (the agg_auc_roc device; the
    # +1 matters — dropping it shifts every rank by 1/2 and biases the
    # denominator's deviations, caught by the planted model pre-ship)
    rk = daily.select(
        "day",
        (
            2 * (F.rank().over(Window.orderBy("y")) - 1)
            + F.count(F.lit(1)).over(Window.partitionBy("y"))
            + 1
        ).alias("r2"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    dif = rk.select(
        "r2", "n", F.lead("r2").over(Window.orderBy("day")).alias("nxt")
    )
    dd = F.col("r2") - F.col("nxt")
    dev = F.col("r2") - F.col("n") - 1
    s = dif.agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(F.col("nxt").isNull(), F.lit(0).cast(_DEC)).otherwise(
                dd.cast(_DEC) * dd
            )
        ).alias("nm4"),
        F.sum(dev.cast(_DEC) * dev).alias("d4"),
    )
    nd = F.col("n").cast("double")
    rvn = F.col("nm4").cast("double") / F.col("d4").cast("double")
    var_rvn = (
        4.0
        * (F.col("n") - 2)
        * (5.0 * F.col("n") * F.col("n") - 2 * F.col("n") - 9)
        / (5.0 * F.col("n") * (F.col("n") + 1) * (nd - 1) * (F.col("n") - 1))
    )
    v = s.where(
        (F.col("d4").cast("double") > 0) & (F.col("n") > 2)
    ).select("n", rvn.alias("rvn"), var_rvn.alias("var_rvn"))
    zf = F.floor((F.col("rvn") - 2) / F.sqrt(F.col("var_rvn")) * 10_000) / 10_000
    return v.select(
        F.col("n").cast("bigint").alias("n_days"),
        (F.floor(F.col("rvn") * 10_000) / 10_000).alias("rvn_stat"),
        zf.alias("z_stat"),
        F.when(F.abs(zf) <= 1.96, "random")
        .when(F.col("rvn") < 2, "positive_serial_corr")
        .otherwise("negative_serial_corr")
        .alias("verdict"),
    )


_SIGN_TEST_ORACLE = f"""
    WITH {_PAIRED_USER_SQL},
    s AS (
      SELECT CAST(SUM(CASE WHEN x <> y THEN 1 ELSE 0 END) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN x > y THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM pu
    )
    SELECT n AS n_pairs, k AS n_plus,
           floor((2 * k - n) / sqrt(CAST(n AS DOUBLE)) * 10000) / 10000
             AS z_stat,
           abs(floor((2 * k - n) / sqrt(CAST(n AS DOUBLE)) * 10000)
               / 10000) > 1.96 AS location_shifted
    FROM s WHERE n > 0
"""


@register("agg_sign_test", oracle=_SIGN_TEST_ORACLE)
def agg_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on the per-user arm totals: count users whose
    purchase total strictly exceeds their click total (ties drop), z
    against Binomial(n, 1/2). The assumption-free floor of the paired
    family — agg_wilcoxon_signed_rank adds magnitude ranks (more power,
    needs symmetry), agg_t_test adds means (needs moments); the sign
    test needs only that signs are informative, so it is the paired
    screen you can always run. Large-sample z, stated.

    Scale/determinism: the shared _paired_user frame (one user_id
    shuffle), then a single 2-counter combinable aggregate on exact
    integer cents comparisons; one closed-form z floored 1e-4, verdict
    on the FLOORED value."""
    pu = _paired_user(load(spark, sf_dir))
    s = pu.agg(
        F.sum((F.col("x") != F.col("y")).cast("int")).cast("bigint").alias("n"),
        F.sum((F.col("x") > F.col("y")).cast("int")).cast("bigint").alias("k"),
    )
    z = (2 * F.col("k") - F.col("n")) / F.sqrt(F.col("n").cast("double"))
    zf = F.floor(z * 10_000) / 10_000
    return s.where(F.col("n") > 0).select(
        F.col("n").alias("n_pairs"),
        F.col("k").alias("n_plus"),
        zf.alias("z_stat"),
        (F.abs(zf) > 1.96).alias("location_shifted"),
    )


# ---------------------------------------------------------------------------
# r14 batch A: method-agreement + moment/scale screens.
# ---------------------------------------------------------------------------

_DEMING_ORACLE = f"""
    WITH {_PAIRED_USER_SQL},
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM pu
    ),
    d AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
             CAST(sxx AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS vx,
             CAST(syy AS DOUBLE) / n
               - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vy,
             CAST(sxy AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS cxy
      FROM m
    ),
    s AS (
      SELECT n, mx, my,
             ((vy - vx) + sqrt((vy - vx) * (vy - vx) + 4 * cxy * cxy))
               / (2 * cxy) AS slope
      FROM d WHERE cxy <> 0
    )
    SELECT n AS n_pairs,
           floor(slope * 1000000) / 1000000 AS slope,
           floor((my - slope * mx) * 100) / 10000 AS intercept
    FROM s
"""


@register("agg_deming_regression", oracle=_DEMING_ORACLE)
def agg_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming regression (errors-in-variables, lambda=1) between the
    paired per-user arm totals: the orthogonal-fit slope
    ((v_y - v_x) + sqrt((v_y - v_x)^2 + 4 c_xy^2)) / (2 c_xy) and its
    intercept — the method-comparison line OLS gets WRONG when both
    axes carry noise (OLS attenuates the slope toward 0 by the x-noise
    share; Deming splits the error budget evenly). Completes the
    method-agreement shelf beside agg_lin_ccc (agreement index) and
    agg_bland_altman (difference limits): CCC says HOW MUCH the
    methods agree, Deming says WHAT linear recalibration maps one to
    the other. Population (1/n) moments, the lin_ccc convention.

    Scale/determinism: identical plan shape to agg_lin_ccc — one
    user_id shuffle, one combinable 6-sum moment pass pre-widened to
    DECIMAL(38,0), then slope/intercept as single closed-form double
    expressions written identically on both engines; slope floored
    1e-6, intercept 1e-4 currency. cxy = 0 emits 0 rows (both
    engines). Reference: Deming 1943."""
    pu = _paired_user(load(spark, sf_dir))
    m = pu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("sx"),
        F.sum(F.col("y").cast(_DEC)).alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    vx = F.col("sxx").cast("double") / nd - mx * mx
    vy = F.col("syy").cast("double") / nd - my * my
    cxy = F.col("sxy").cast("double") / nd - mx * my
    d = m.select(
        "n", mx.alias("mx"), my.alias("my"), vx.alias("vx"),
        vy.alias("vy"), cxy.alias("cxy"),
    ).where(F.col("cxy") != 0)
    slope = (
        (F.col("vy") - F.col("vx"))
        + F.sqrt(
            (F.col("vy") - F.col("vx")) * (F.col("vy") - F.col("vx"))
            + 4 * F.col("cxy") * F.col("cxy")
        )
    ) / (2 * F.col("cxy"))
    s = d.select("n", "mx", "my", slope.alias("slope"))
    return s.select(
        F.col("n").alias("n_pairs"),
        (F.floor(F.col("slope") * 1_000_000) / 1_000_000).alias("slope"),
        (
            F.floor((F.col("my") - F.col("slope") * F.col("mx")) * 100)
            / 10_000
        ).alias("intercept"),
    )


_BLAND_ALTMAN_ORACLE = f"""
    WITH {_PAIRED_USER_SQL},
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x - y AS DECIMAL(38,0))) AS sd1,
             SUM(CAST(x - y AS DECIMAL(38,0)) * (x - y)) AS sd2
      FROM pu
    ),
    d AS (
      SELECT n, CAST(sd1 AS DOUBLE) / n AS bias,
             sqrt((CAST(sd2 AS DOUBLE) - CAST(sd1 AS DOUBLE)
                   * sd1 / n) / (n - 1)) AS sd
      FROM m WHERE n > 1
    ),
    lim AS (
      SELECT n, bias, sd,
             CAST(floor((bias - 1.96 * sd) * 10000) AS BIGINT) AS lo_s,
             CAST(floor((bias + 1.96 * sd) * 10000) AS BIGINT) AS hi_s
      FROM d
    )
    SELECT l.n AS n_pairs,
           floor(l.bias * 100) / 10000 AS bias,
           floor(l.sd * 100) / 10000 AS sd_diff,
           l.lo_s / 10000.0 / 100 AS loa_lower,
           l.hi_s / 10000.0 / 100 AS loa_upper,
           floor(SUM(CASE WHEN CAST(p.x - p.y AS BIGINT) * 10000
                               BETWEEN l.lo_s AND l.hi_s
                          THEN 1 ELSE 0 END) * 10000.0 / l.n) / 100
             AS pct_within
    FROM lim l, pu p
    GROUP BY l.n, l.bias, l.sd, l.lo_s, l.hi_s
"""


@register("agg_bland_altman", oracle=_BLAND_ALTMAN_ORACLE)
def agg_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman limits of agreement (Bland & Altman 1986) on the
    paired per-user arm totals: bias = mean(x - y), LoA = bias +/-
    1.96 * sd(x - y), plus the share of pairs INSIDE the (emitted,
    floored) limits — the difference-based view of method agreement
    that a correlation can fake (two methods can correlate 0.99 and
    still disagree by a constant). Third leg of the shelf with
    agg_lin_ccc and agg_deming_regression.

    Scale/determinism: differences are exact cents; one combinable
    2-sum pass (pre-widened DECIMAL) yields bias and the SAMPLE sd;
    the within-limits membership test compares the exact scaled
    integer d*10^4 against the FLOORED scaled limits (the emitted
    values), so the boundary verdict never reads an unfloored double
    — the standing floored-comparison doctrine. Second pass over the
    paired frame is a re-aggregation of the same shuffled frame (two
    passes total, both combinable); pct floored 1e-2."""
    pu = _paired_user(load(spark, sf_dir))
    dcol = F.col("x") - F.col("y")
    m = pu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dcol.cast(_DEC)).alias("sd1"),
        F.sum(dcol.cast(_DEC) * dcol).alias("sd2"),
    ).where(F.col("n") > 1)
    nd = F.col("n").cast("double")
    bias = F.col("sd1").cast("double") / nd
    sd = F.sqrt(
        (
            F.col("sd2").cast("double")
            - F.col("sd1").cast("double") * F.col("sd1") / nd
        )
        / (F.col("n") - 1)
    )
    lim = m.select(
        "n",
        bias.alias("bias"),
        sd.alias("sd"),
        F.floor((bias - 1.96 * sd) * 10_000).cast("bigint").alias("lo_s"),
        F.floor((bias + 1.96 * sd) * 10_000).cast("bigint").alias("hi_s"),
    )
    joined = pu.crossJoin(F.broadcast(lim))
    ds = (dcol.cast("bigint") * 10_000)
    return (
        joined.groupBy("n", "bias", "sd", "lo_s", "hi_s")
        .agg(
            F.sum(
                F.when(
                    (ds >= F.col("lo_s")) & (ds <= F.col("hi_s")), 1
                ).otherwise(0)
            ).alias("n_in")
        )
        .select(
            F.col("n").alias("n_pairs"),
            (F.floor(F.col("bias") * 100) / 10_000).alias("bias"),
            (F.floor(F.col("sd") * 100) / 10_000).alias("sd_diff"),
            (F.col("lo_s") / 10_000.0 / 100).alias("loa_lower"),
            (F.col("hi_s") / 10_000.0 / 100).alias("loa_upper"),
            (
                F.floor(F.col("n_in") * 10_000.0 / F.col("n")) / 100
            ).alias("pct_within"),
        )
    )


_BIMODALITY_ORACLE = """
    WITH ev AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(v AS DECIMAL(38,0))) AS s1,
             SUM(CAST(v AS DECIMAL(38,0)) * v) AS s2,
             SUM(CAST(v AS DECIMAL(38,0)) * v * v) AS s3,
             SUM(CAST(CAST(v AS DECIMAL(38,0)) * v AS DECIMAL(38,0))
                 * CAST(CAST(v AS DECIMAL(38,0)) * v AS DECIMAL(38,0)))
               AS s4
      FROM ev
    ),
    d AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS m1,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM m WHERE n > 3
    ),
    c AS (
      SELECT n,
             r2 - m1 * m1 AS m2,
             r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
             r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
               - 3 * m1 * m1 * m1 * m1 AS m4
      FROM d
    )
    SELECT n,
           floor(m3 / sqrt(m2 * m2 * m2) * 1000000) / 1000000 AS skewness,
           floor(m4 / (m2 * m2) * 1000000) / 1000000 AS kurtosis_b2,
           floor((m3 / sqrt(m2 * m2 * m2) * (m3 / sqrt(m2 * m2 * m2)) + 1)
                 / (m4 / (m2 * m2)) * 1000000) / 1000000
             AS bimodality_coeff,
           floor((m3 / sqrt(m2 * m2 * m2) * (m3 / sqrt(m2 * m2 * m2)) + 1)
                 / (m4 / (m2 * m2)) * 1000000) / 1000000 > 0.555555
             AS bimodal
    FROM c WHERE m2 > 0
"""


@register("agg_bimodality_coefficient", oracle=_BIMODALITY_ORACLE)
def agg_bimodality_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sarle's bimodality coefficient over the event-value
    distribution: BC = (gamma1^2 + 1) / beta2 with POPULATION moment
    ratios (gamma1 = m3/m2^1.5, beta2 = m4/m2^2 — the agg_moments
    convention), screened against the uniform-distribution threshold
    5/9: BC above it says the values look two-humped (a mixture — two
    user populations, a changed price point) rather than one-peaked.
    The cheap first question BEFORE reaching for a mixture model or
    agg_changepoint machinery; reads beside agg_jarque_bera (normal?)
    and this (unimodal?).

    Scale/determinism: one combinable 4-power-sum pass — v^2 products
    re-widen to DECIMAL(38,0) BEFORE squaring for s4 (cents^4 at
    corpus scale is ~1e16 per row and ~1e28 summed, far past BIGINT —
    the standing overflow doctrine, mirrored in the oracle's nested
    CASTs); central moments and BC are single identical double
    expressions; verdict on the 1e-6 FLOORED BC vs the floored-5/9
    literal 0.555555."""
    ev = load(spark, sf_dir).events.select(
        F.round(F.col("value") * 100).cast("bigint").alias("v")
    )
    v = F.col("v")
    v2 = v.cast(_DEC) * v
    m = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v.cast(_DEC)).alias("s1"),
        F.sum(v2).alias("s2"),
        F.sum(v.cast(_DEC) * v * v).alias("s3"),
        F.sum(v2.cast(_DEC) * v2.cast(_DEC)).alias("s4"),
    ).where(F.col("n") > 3)
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    c = m.select(
        "n",
        (r2 - m1 * m1).alias("m2"),
        (r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1).alias("m3"),
        (r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1).alias(
            "m4"
        ),
    ).where(F.col("m2") > 0)
    g1 = F.col("m3") / F.sqrt(F.col("m2") * F.col("m2") * F.col("m2"))
    b2 = F.col("m4") / (F.col("m2") * F.col("m2"))
    bcf = F.floor((g1 * g1 + 1) / b2 * 1_000_000) / 1_000_000
    return c.select(
        "n",
        (F.floor(g1 * 1_000_000) / 1_000_000).alias("skewness"),
        (F.floor(b2 * 1_000_000) / 1_000_000).alias("kurtosis_b2"),
        bcf.alias("bimodality_coeff"),
        (bcf > 0.555555).alias("bimodal"),
    )


_ARM_VAR_SQL = """
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(CAST(ROUND(value * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS s,
             SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS DECIMAL(38,0))
                 * CAST(ROUND(value * 100) AS BIGINT)) AS s2
      FROM events GROUP BY event_type
    ),
    v AS (
      SELECT event_type, n,
             (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
               AS var
      FROM g WHERE n > 1
    )
"""


_COCHRAN_C_ORACLE = f"""
    WITH {_ARM_VAR_SQL},
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(var) AS sv, MAX(var) AS mv
      FROM v
    )
    SELECT s.k,
           (SELECT MIN(event_type) FROM v WHERE v.var = s.mv) AS top_arm,
           floor(s.mv / s.sv * 1000000) / 1000000 AS c_stat,
           floor(s.mv / s.sv * 1000000) / 1000000 > 2.0 / s.k
             AS variance_concentrated
    FROM s WHERE s.sv > 0
"""


@register("agg_cochran_c", oracle=_COCHRAN_C_ORACLE)
def agg_cochran_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's C over the k event-type arms: the largest sample
    variance as a share of the variance TOTAL — the screen for one
    arm hogging the dispersion budget before pooled-variance methods
    (agg_anova_oneway's F assumes homogeneity; agg_levene_test and
    agg_bartlett_test test it formally; C names the OFFENDER). The
    flag uses the 2/k screening convention (twice the equal-share
    value), stated as such — the exact Cochran critical values need
    incomplete-beta inverses neither engine ships.

    Scale/determinism: one combinable per-arm moment pass (k-row
    frame), DECIMAL pre-widening on the cents sums; the argmax arm is
    picked by exact double equality var = max(var) with MIN(name) as
    the deterministic tiebreak (never engine-order arg_max); C floored
    1e-6 and the flag compares the FLOORED value against the exact
    2.0/k double. Reference: Cochran 1941."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    g = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents.cast(_DEC)).alias("s"),
        F.sum(cents.cast(_DEC) * cents).alias("s2"),
    ).where(F.col("n") > 1)
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    v = g.select("event_type", "n", var.alias("var"))
    s = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("var").alias("sv"),
        F.max("var").alias("mv"),
    ).where(F.col("sv") > 0)
    top = (
        v.join(F.broadcast(s), F.col("var") == F.col("mv"))
        .agg(F.min("event_type").alias("top_arm"))
    )
    cf = F.floor(F.col("mv") / F.col("sv") * 1_000_000) / 1_000_000
    return s.crossJoin(F.broadcast(top)).select(
        "k",
        "top_arm",
        cf.alias("c_stat"),
        (cf > 2.0 / F.col("k")).alias("variance_concentrated"),
    )


_HARTLEY_ORACLE = f"""
    WITH {_ARM_VAR_SQL},
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             MAX(var) AS mv, MIN(var) AS nv
      FROM v
    )
    SELECT s.k,
           (SELECT MIN(event_type) FROM v WHERE v.var = s.mv) AS max_arm,
           (SELECT MIN(event_type) FROM v WHERE v.var = s.nv) AS min_arm,
           floor(s.mv / s.nv * 10000) / 10000 AS fmax,
           floor(s.mv / s.nv * 10000) / 10000 > 3.0 AS heteroscedastic
    FROM s WHERE s.nv > 0
"""


@register("agg_hartley_fmax", oracle=_HARTLEY_ORACLE)
def agg_hartley_fmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hartley's F-max over the k event-type arms: largest over
    smallest sample variance, with both arm names. The oldest and
    bluntest homogeneity-of-variance screen (Hartley 1950) — one
    number a dashboard can watch, where agg_levene_test /
    agg_bartlett_test give calibrated verdicts; flagged against the
    classic F-max ~ 3 rule of thumb for moderate group sizes, stated
    as a screening convention (Hartley's exact tables need the
    studentized range distribution).

    Scale/determinism: the same k-row combinable variance frame as
    agg_cochran_c (shared _ARM_VAR_SQL CTE text on the oracle side);
    extrema arms picked by exact double equality with MIN(name)
    tiebreaks; ratio floored 1e-4, flag on the floored value."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    g = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents.cast(_DEC)).alias("s"),
        F.sum(cents.cast(_DEC) * cents).alias("s2"),
    ).where(F.col("n") > 1)
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    v = g.select("event_type", "n", var.alias("var"))
    s = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("var").alias("mv"),
        F.min("var").alias("nv"),
    ).where(F.col("nv") > 0)
    mx = (
        v.join(F.broadcast(s), F.col("var") == F.col("mv"))
        .agg(F.min("event_type").alias("max_arm"))
    )
    mn = (
        v.join(F.broadcast(s), F.col("var") == F.col("nv"))
        .agg(F.min("event_type").alias("min_arm"))
    )
    ff = F.floor(F.col("mv") / F.col("nv") * 10_000) / 10_000
    return (
        s.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(mn))
        .select(
            "k",
            "max_arm",
            "min_arm",
            ff.alias("fmax"),
            (ff > 3.0).alias("heteroscedastic"),
        )
    )


_GMD_ORACLE = """
    WITH ev AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
    ),
    vg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY v),
    cum AS (
      SELECT v, c,
             COALESCE(SUM(c) OVER (ORDER BY v
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cb,
             SUM(c) OVER () AS n,
             SUM(CAST(v AS DECIMAL(38,0)) * c) OVER () AS s1
      FROM vg
    ),
    s AS (
      SELECT MAX(n) AS n, MAX(s1) AS s1,
             SUM(CAST(v AS DECIMAL(38,0)) * c * (2 * cb + c - n)) AS gsum
      FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n,
           floor(2.0 * CAST(gsum AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)) * 100) / 10000 AS gmd,
           floor(CAST(gsum AS DOUBLE) / (CAST(n AS DOUBLE) - 1)
                 / CAST(s1 AS DOUBLE) * 1000000) / 1000000 AS gini_ratio
    FROM s WHERE n > 1 AND CAST(s1 AS DOUBLE) <> 0
"""


@register("agg_gini_mean_difference", oracle=_GMD_ORACLE)
def agg_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference over event values (Gini 1912): the mean
    absolute difference between all value pairs, computed EXACTLY from
    the sorted-order identity sum_{i<j}(x_(j) - x_(i)) =
    sum_i (2i - n - 1) x_(i) — a run of c equal values at cumulative
    offset cb contributes v * c * (2*cb + c - n) in closed form, so
    the whole N^2 pair space collapses to one pass over the bounded
    value lattice with zero pair enumeration. Also emits gini_ratio =
    GMD / (2 * mean) (the classic Gini concentration index in its
    mean-difference form) — the robust scale companion to variance
    that agg_moments cannot give (GMD is finite-sample unbiased and
    far less tail-sensitive).

    Scale/determinism: lattice fold (<=49k rows at any SF) with every
    product pre-widened to DECIMAL(38,0) — v*c*(2cb + c - n) reaches
    cents * N^2 ~ 1e28 at corpus scale; gsum stays exact until the two
    final divisions, GMD floored 1e-4 currency, ratio 1e-6."""
    ev = load(spark, sf_dir).events.select(
        F.round(F.col("value") * 100).cast("bigint").alias("v")
    )
    vg = ev.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w_exc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    cum = vg.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_exc), F.lit(0)).alias("cb"),
        F.sum("c").over(w_all).alias("n"),
        F.sum(F.col("v").cast(_DEC) * F.col("c")).over(w_all).alias("s1"),
    )
    s = cum.agg(
        F.max("n").alias("n"),
        F.max("s1").alias("s1"),
        F.sum(
            F.col("v").cast(_DEC)
            * F.col("c")
            * (2 * F.col("cb") + F.col("c") - F.col("n"))
        ).alias("gsum"),
    )
    nd = F.col("n").cast("double")
    return s.where(
        (F.col("n") > 1) & (F.col("s1").cast("double") != 0)
    ).select(
        F.col("n").cast("bigint").alias("n"),
        (
            F.floor(
                2.0 * F.col("gsum").cast("double") / (nd * (F.col("n") - 1))
                * 100
            )
            / 10_000
        ).alias("gmd"),
        (
            F.floor(
                F.col("gsum").cast("double")
                / (nd - 1)
                / F.col("s1").cast("double")
                * 1_000_000
            )
            / 1_000_000
        ).alias("gini_ratio"),
    )


# ---------------------------------------------------------------------------
# r14 batch B: ordinal-association companions to agg_kendall_tau, all on
# the same calendar-bounded daily (revenue, order-count) series.
# ---------------------------------------------------------------------------

_DAILY_SQL = """
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
"""


def _daily_orders(t) -> DataFrame:
    """Spark twin of _DAILY_SQL — the agg_kendall_tau day frame."""
    return t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_GK_GAMMA_ORACLE = f"""
    WITH {_DAILY_SQL},
    pairs AS (
      SELECT sign(a.rev_c - b.rev_c) AS dx,
             sign(a.n_orders - b.n_orders) AS dy
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    s AS (
      SELECT
        CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
        CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc
      FROM pairs
    )
    SELECT n_days, conc, disc,
           CASE WHEN conc + disc > 0
                THEN floor((conc - disc) * 1000000.0 / (conc + disc))
                     / 1000000
           END AS gamma
    FROM s
"""


@register("agg_gk_gamma", oracle=_GK_GAMMA_ORACLE)
def agg_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between the daily revenue and order-count
    series: (C - D) / (C + D) over all day pairs — the tie-IGNORING
    member of the concordance family (Goodman & Kruskal 1954).
    agg_kendall_tau's tau-b discounts ties into the denominator;
    gamma drops them entirely, so on heavily tied ordinal data gamma
    reads the association among the pairs that actually ORDER — the
    PR-interpretation ("of comparable pairs, what share agree?") a
    report wants next to tau.

    Scale/determinism: identical plan to agg_kendall_tau — calendar-
    bounded day frame (~2.4k rows at ANY SF), broadcast nested-loop
    pair count, exact integer 0/1 sums, one final division floored
    1e-6 (NULL when no pair orders on both axes)."""
    daily = _daily_orders(load(spark, sf_dir))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.day") < F.col("b.day")
    ).select(
        F.signum(F.col("a.rev_c") - F.col("b.rev_c")).alias("dx"),
        F.signum(F.col("a.n_orders") - F.col("b.n_orders")).alias("dy"),
    )
    nd_df = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    s = pairs.agg(
        F.sum(F.when(F.col("dx") * F.col("dy") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("conc"),
        F.sum(F.when(F.col("dx") * F.col("dy") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("disc"),
    ).crossJoin(F.broadcast(nd_df))
    cd = F.col("conc") + F.col("disc")
    return s.select(
        "n_days",
        "conc",
        "disc",
        F.when(
            cd > 0,
            F.floor((F.col("conc") - F.col("disc")) * 1_000_000.0 / cd)
            / 1_000_000,
        ).alias("gamma"),
    )


#: Stuart tau-c contingency grid: both daily axes cut into quintiles.
TAUC_BUCKETS = 5

_STUART_TAUC_ORACLE = f"""
    WITH {_DAILY_SQL},
    bx AS (
      SELECT day,
             ntile({TAUC_BUCKETS}) OVER (ORDER BY rev_c, day) AS qx,
             ntile({TAUC_BUCKETS}) OVER (ORDER BY n_orders, day) AS qy
      FROM daily
    ),
    cell AS (
      SELECT qx, qy, CAST(COUNT(*) AS BIGINT) AS f FROM bx GROUP BY qx, qy
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN (a.qx - b.qx) * (a.qy - b.qy) > 0
                           THEN CAST(a.f AS DECIMAL(38,0)) * b.f
                           ELSE 0 END) AS DECIMAL(38,0)) AS conc2,
             CAST(SUM(CASE WHEN (a.qx - b.qx) * (a.qy - b.qy) < 0
                           THEN CAST(a.f AS DECIMAL(38,0)) * b.f
                           ELSE 0 END) AS DECIMAL(38,0)) AS disc2
      FROM cell a, cell b
    ),
    s AS (
      SELECT CAST((SELECT SUM(f) FROM cell) AS BIGINT) AS n_days,
             CAST(conc2 / 2 AS DECIMAL(38,0)) AS conc,
             CAST(disc2 / 2 AS DECIMAL(38,0)) AS disc
      FROM pairs
    )
    SELECT n_days, CAST(conc AS BIGINT) AS conc, CAST(disc AS BIGINT) AS disc,
           floor(2.0 * {TAUC_BUCKETS} * (CAST(conc AS DOUBLE) - disc)
                 / (CAST(n_days AS DOUBLE) * n_days * ({TAUC_BUCKETS} - 1))
                 * 1000000) / 1000000 AS tau_c
    FROM s
"""


@register("agg_stuart_tau_c", oracle=_STUART_TAUC_ORACLE)
def agg_stuart_tau_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuart's tau-c on the TAUC_BUCKETS x TAUC_BUCKETS quintile
    contingency of daily revenue vs order count: tau_c = 2m(C - D) /
    (n^2 (m - 1)) (Stuart 1953) — the concordance measure built for
    RECTANGULAR ordinal grids, reaching +-1 even when the table is not
    square (tau-b cannot). Day quintiles are the ordinal buckets; the
    deterministic ntile tiebreak is the day itself, so both engines
    cut identical grids. Completes the family: tau-b (ties
    discounted), gamma (ties dropped), tau-c (grid-normalized).

    Scale/determinism: the day frame is calendar-bounded; bucketing is
    one windowed pass; C/D then count over the m^2-cell table (25
    rows) — cell-product pairs pre-widen to DECIMAL(38,0) (f*f ~ N^2
    at corpus scale); each unordered day pair is counted twice in the
    cell cross-product, halved exactly in integers; one final double
    division floored 1e-6."""
    daily = _daily_orders(load(spark, sf_dir))
    wq_x = Window.orderBy("rev_c", "day")
    wq_y = Window.orderBy("n_orders", "day")
    bx = daily.select(
        F.ntile(TAUC_BUCKETS).over(wq_x).alias("qx"),
        F.ntile(TAUC_BUCKETS).over(wq_y).alias("qy"),
    )
    cell = bx.groupBy("qx", "qy").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    a, b = cell.alias("a"), cell.alias("b")
    prod = F.col("a.f").cast(_DEC) * F.col("b.f")
    dd = (F.col("a.qx") - F.col("b.qx")) * (F.col("a.qy") - F.col("b.qy"))
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(F.when(dd > 0, prod).otherwise(F.lit(0).cast(_DEC)))
        .cast(_DEC)
        .alias("conc2"),
        F.sum(F.when(dd < 0, prod).otherwise(F.lit(0).cast(_DEC)))
        .cast(_DEC)
        .alias("disc2"),
    )
    nd_df = cell.agg(F.sum("f").cast("bigint").alias("n_days"))
    s = pairs.crossJoin(F.broadcast(nd_df)).select(
        "n_days",
        (F.col("conc2") / 2).cast(_DEC).alias("conc"),
        (F.col("disc2") / 2).cast(_DEC).alias("disc"),
    )
    ndd = F.col("n_days").cast("double")
    return s.select(
        "n_days",
        F.col("conc").cast("bigint").alias("conc"),
        F.col("disc").cast("bigint").alias("disc"),
        (
            F.floor(
                2.0
                * TAUC_BUCKETS
                * (F.col("conc").cast("double") - F.col("disc"))
                / (ndd * ndd * (TAUC_BUCKETS - 1))
                * 1_000_000
            )
            / 1_000_000
        ).alias("tau_c"),
    )


_BLOMQVIST_ORACLE = f"""
    WITH {_DAILY_SQL},
    med AS (
      SELECT
        (SELECT rev_c FROM (
           SELECT rev_c, row_number() OVER (ORDER BY rev_c, day) AS rn,
                  COUNT(*) OVER () AS n
           FROM daily) WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT))
          AS med_x,
        (SELECT n_orders FROM (
           SELECT n_orders, row_number() OVER (ORDER BY n_orders, day) AS rn,
                  COUNT(*) OVER () AS n
           FROM daily) WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT))
          AS med_y
    ),
    q AS (
      SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
             CAST(SUM(CASE WHEN (rev_c > med_x AND n_orders > med_y)
                             OR (rev_c < med_x AND n_orders < med_y)
                           THEN 1 ELSE 0 END) AS BIGINT) AS agree,
             CAST(SUM(CASE WHEN (rev_c > med_x AND n_orders < med_y)
                             OR (rev_c < med_x AND n_orders > med_y)
                           THEN 1 ELSE 0 END) AS BIGINT) AS disagree
      FROM daily, med
    )
    SELECT n_days, agree + disagree AS n_used,
           floor((agree - disagree) * 1000000.0 / (agree + disagree))
             / 1000000 AS beta,
           abs(floor((agree - disagree) * 1000000.0 / (agree + disagree))
               / 1000000 * sqrt(CAST(agree + disagree AS DOUBLE))) > 1.96
             AS dependent
    FROM q WHERE agree + disagree > 0
"""


@register("agg_blomqvist_beta", oracle=_BLOMQVIST_ORACLE)
def agg_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blomqvist's beta (medial correlation, Blomqvist 1950) between
    daily revenue and order count: split the plane at the two LOWER
    MEDIANS (order statistic at floor((n+1)/2), day tiebreak) and
    read (same-quadrant - opposite-quadrant) / classified — the
    2x2-quadrant distillation of concordance. O(n) where tau needs
    pairs: the screening version you run FIRST, with z = beta *
    sqrt(n_used) against 1.96 as the large-sample verdict (points ON
    a median are unclassified and drop, stated).

    Scale/determinism: the day frame is calendar-bounded; medians are
    exact ORDER STATISTICS picked by row_number (never
    percentile_cont interpolation — engines disagree there); quadrant
    counts are exact integer sums; beta floored 1e-6 and the z flag
    reads the FLOORED beta."""
    daily = _daily_orders(load(spark, sf_dir))
    w_x = Window.orderBy("rev_c", "day")
    w_y = Window.orderBy("n_orders", "day")
    w_all = Window.partitionBy()
    ranked = daily.select(
        "rev_c",
        "n_orders",
        F.row_number().over(w_x).alias("rx"),
        F.row_number().over(w_y).alias("ry"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    mid = F.floor((F.col("n") + 1) / 2).cast("bigint")
    med_x = ranked.where(F.col("rx") == mid).select(
        F.col("rev_c").alias("med_x")
    )
    med_y = ranked.where(F.col("ry") == mid).select(
        F.col("n_orders").alias("med_y")
    )
    q = (
        daily.crossJoin(F.broadcast(med_x))
        .crossJoin(F.broadcast(med_y))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(
                F.when(
                    (
                        (F.col("rev_c") > F.col("med_x"))
                        & (F.col("n_orders") > F.col("med_y"))
                    )
                    | (
                        (F.col("rev_c") < F.col("med_x"))
                        & (F.col("n_orders") < F.col("med_y"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("agree"),
            F.sum(
                F.when(
                    (
                        (F.col("rev_c") > F.col("med_x"))
                        & (F.col("n_orders") < F.col("med_y"))
                    )
                    | (
                        (F.col("rev_c") < F.col("med_x"))
                        & (F.col("n_orders") > F.col("med_y"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("disagree"),
        )
    )
    used = F.col("agree") + F.col("disagree")
    bf = (
        F.floor((F.col("agree") - F.col("disagree")) * 1_000_000.0 / used)
        / 1_000_000
    )
    return q.where(used > 0).select(
        "n_days",
        used.alias("n_used"),
        bf.alias("beta"),
        (F.abs(bf * F.sqrt(used.cast("double"))) > 1.96).alias("dependent"),
    )
