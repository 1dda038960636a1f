"""Dataset profiling operator (SURVEY.md §2B B69).

A curation pipeline's first pass over a new 100 TB drop is always a
profile: per-column null fractions, cardinalities, ranges. The
reference leaves this to user callbacks; the engine exposes it as a
relational operator.

Scale doctrine: one aggregation PER COLUMN over a scan pruned to that
column, unioned into the report. On columnar storage this reads
exactly the same bytes as a single wide scan (each column's pages are
read once either way) but avoids the multi-`count(DISTINCT)` Expand,
which multiplies every input row by (#distinct-aggs + 1) before the
shuffle — measured 3.3s (Expand, spread) vs 2.1s (per-column) at
sf0.1, and the gap widens with row count. Each per-column distinct is
a standard two-phase aggregate (partial dedup map-side, shuffle only
surviving distinct values). The in-code switch for 100 TB cardinality
columns is `approx_count_distinct` (HLL, no distinct shuffle at all)
— same report shape, documented drift bound.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

DEC = "decimal(28,6)"

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _oracle() -> str:
    rows = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
        f"count(*) - count({c}) AS n_null, "
        f"count(DISTINCT {c}) AS n_distinct, "
        f"min({c}) AS min_val, max({c}) AS max_val, "
        f"CAST(sum(CAST({c} AS DECIMAL(28,6))) AS DOUBLE) / count({c}) "
        f"AS mean_val FROM lineitem"
        for c in _PROFILE_COLS
    )
    return rows


@query("q_profile", oracle=_oracle())
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of lineitem's measure columns: row count, nulls,
    exact distinct count, min/max, mean (B69).

    One single-column aggregation per profiled column (scan pruned to
    that column — plan-audited), unioned into the report frame. Same
    scanned bytes as a wide scan on columnar storage, no Expand (see
    module docstring for the measured comparison). Means are summed in
    exact decimal and divided in double (the engine-stable pattern —
    see operators/timeseries.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    frames = [
        li.select(c).agg(
            F.lit(c).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).alias("min_val"),
            F.max(c).alias("max_val"),
            (
                F.sum(F.col(c).cast(DEC)).cast("double") / F.count(c)
            ).alias("mean_val"),
        )
        for c in _PROFILE_COLS
    ]
    return reduce(DataFrame.unionAll, frames)


@query(
    "q_dq_report",
    oracle="""
WITH li AS (
  SELECT count(*) AS n,
         count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
           AS bad_qty,
         count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
           AS bad_disc
  FROM lineitem
),
orph AS (
  SELECT count(*) AS n_orphans
  FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
),
o AS (
  SELECT count(*) AS n,
         count(*) FILTER (WHERE o_totalprice <= 0) AS bad_price
  FROM orders
)
SELECT 'l_quantity_in_1_50' AS rule, li.n AS n_checked,
       li.bad_qty AS n_violations, li.bad_qty = 0 AS passed FROM li
UNION ALL
SELECT 'l_discount_in_unit', li.n, li.bad_disc, li.bad_disc = 0 FROM li
UNION ALL
SELECT 'l_orderkey_in_orders', (SELECT n FROM li), orph.n_orphans,
       orph.n_orphans = 0 FROM orph
UNION ALL
SELECT 'o_totalprice_positive', o.n, o.bad_price, o.bad_price = 0 FROM o
ORDER BY rule
""",
)
def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (B69b): declarative rule checks — range rules,
    unit-interval rules, referential integrity — emitted as one report
    row per rule (the pre-ingest contract check every pipeline runs
    before accepting a drop).

    Range/domain rules compile to conditional aggregates in ONE pass
    per table (a filter count costs nothing extra inside the same agg);
    referential integrity is a LEFT ANTI join counting orphans —
    shuffle on the key (or free if both sides are bucketed on it,
    operators/layout.py). Report size is O(rules); nothing row-sized
    leaves the executors.

    Single-reference DAG (ADVICE r3): the lineitem stats frame is
    referenced ONCE — all three lineitem-keyed report rows inline out
    of one combined 1-row frame (1×1 crossJoins of the agg results),
    so lineitem is scanned exactly twice (stats pass + anti-join), not
    once per re-referenced rule row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    li_stats = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")
        ).alias("bad_qty"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("bad_disc"),
    )
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    o_stats = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("bad_price"),
    )

    def rule_row(rule, n_col, v_col):
        return F.struct(
            F.lit(rule).alias("rule"),
            F.col(n_col).alias("n_checked"),
            F.col(v_col).alias("n_violations"),
            (F.col(v_col) == 0).alias("passed"),
        )

    # One combined 1-row frame (lazy 1×1 crossJoins of the three agg
    # results — no driver action), inlined into one row per rule.
    combined = li_stats.crossJoin(orphans).crossJoin(
        o_stats.select(
            F.col("n").alias("o_n"), F.col("bad_price").alias("bad_price")
        )
    )
    return combined.select(
        F.inline(
            F.array(
                rule_row("l_quantity_in_1_50", "n", "bad_qty"),
                rule_row("l_discount_in_unit", "n", "bad_disc"),
                rule_row("l_orderkey_in_orders", "n", "n_orphans"),
                rule_row("o_totalprice_positive", "o_n", "bad_price"),
            )
        )
    ).orderBy("rule")


_SKEW_TOP_N = 10


@query(
    "q_profile_skew",
    oracle=f"""
WITH k AS (
  SELECT l_orderkey AS key, count(*) AS n FROM lineitem GROUP BY 1
),
s AS (
  SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
         max(n) AS max_n,
         CAST(sum(n) AS DOUBLE) / count(*) AS mean_n
  FROM k
)
SELECT k.key, k.n,
       round(k.n / s.mean_n, 6) AS skew_factor,
       s.n_keys, s.n_rows
FROM k CROSS JOIN s
ORDER BY k.n DESC, k.key
LIMIT {_SKEW_TOP_N}
""",
)
def q_profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (B69 family): the top-{n} heaviest
    lineitem join keys with their skew factor (key count / mean key
    count) — the pre-flight every big join runs before choosing plain
    shuffle vs salting (operators/layout.py q_join_salted) vs AQE skew
    handling.

    One two-phase count per key (map-side partials absorb the hot keys
    being diagnosed), a 1-row moments frame joined lazily, top-{n} via
    TakeOrderedAndProject. Output is O({n}) — the decision inputs, not
    the key histogram.
    """
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    s = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_n"),
    )
    return (
        k.crossJoin(F.broadcast(s))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("mean_n"), 6).alias("skew_factor"),
            "n_keys",
            "n_rows",
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(_SKEW_TOP_N)
    )


q_profile_skew.__doc__ = q_profile_skew.__doc__.format(n=_SKEW_TOP_N)


@query(
    "q_profile_approx",
    # Sketch estimates are engine-specific (the q_agg_hll rule): the
    # oracle carries the exact distincts plus Spark-side booleans
    # asserting each HLL estimate landed within its configured error.
    oracle="""
SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
       count(DISTINCT l_quantity) AS exact_distinct,
       true AS approx_within_tol
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*), count(DISTINCT l_extendedprice), true
FROM lineitem
UNION ALL
SELECT 'l_partkey', count(*), count(DISTINCT l_partkey), true
FROM lineitem
ORDER BY column_name
""",
)
def q_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_profile 100 TB swap, REGISTERED and measured instead of
    merely named: per-column distinct counts via
    ``approx_count_distinct`` (HLL, rsd 2%) with the exact twin
    alongside — at extreme cardinality the exact countDistinct's
    distinct shuffle is the profile's whole cost, and this is the
    operator that replaces it (no distinct shuffle at all: HLL partials
    combine map-side like any sum).

    Tolerance band is 5 × rsd — wide enough to be deterministic-stable
    (HLL's error is a distribution, the gate is a regression alarm, not
    a statistics exam).
    """
    li = load_table(spark, sf_dir, "lineitem")
    frames = [
        li.select(c).agg(
            F.lit(c).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(c).alias("exact_distinct"),
            F.approx_count_distinct(c, rsd=0.02).alias("approx_raw"),
        )
        for c in ("l_extendedprice", "l_partkey", "l_quantity")
    ]
    from functools import reduce as _reduce

    u = _reduce(DataFrame.unionAll, frames)
    return u.select(
        "column_name",
        "n_rows",
        "exact_distinct",
        (
            F.abs(F.col("approx_raw") - F.col("exact_distinct"))
            <= 0.10 * F.col("exact_distinct")
        ).alias("approx_within_tol"),
    ).orderBy("column_name")


# Population-stability-index drift report: fixed-width bins so the
# binning is data-independent (no min/max pass, no bin drift between
# runs); 500 covers the fixture's value range, overflow clamps to the
# top bin exactly like production feature clipping.
_PSI_BIN_W = 50.0
_PSI_N_BINS = 10
_PSI_EPS = 1e-6  # probability floor — ln(0) guard, standard PSI practice


@query(
    "q_profile_drift",
    oracle=f"""
WITH tagged AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'ref'
              ELSE 'cur' END AS era,
         least(CAST(floor(value / {_PSI_BIN_W}) AS INTEGER), {_PSI_N_BINS - 1})
           AS bin
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT event_type, era, bin, count(*) AS n
  FROM tagged GROUP BY 1, 2, 3
),
totals AS (
  SELECT event_type, era, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, b.bin,
    greatest(COALESCE(r.n, 0) * 1.0 / rt.tot, {_PSI_EPS}) AS p,
    greatest(COALESCE(c.n, 0) * 1.0 / ct.tot, {_PSI_EPS}) AS q,
    rt.tot AS n_ref, ct.tot AS n_cur
  FROM (SELECT DISTINCT event_type FROM tagged) t
  CROSS JOIN (SELECT unnest(generate_series(0, {_PSI_N_BINS - 1})) AS bin) b
  LEFT JOIN counts r ON r.event_type = t.event_type AND r.bin = b.bin
                     AND r.era = 'ref'
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.bin = b.bin
                     AND c.era = 'cur'
  JOIN totals rt ON rt.event_type = t.event_type AND rt.era = 'ref'
  JOIN totals ct ON ct.event_type = t.event_type AND ct.era = 'cur'
)
SELECT event_type, n_ref, n_cur,
  round(CAST(sum(CAST(round((p - q) * round(ln(p / q), 9), 12)
                      AS DECIMAL(28,12))) AS DOUBLE), 6) AS psi,
  round(CAST(sum(CAST(round((p - q) * round(ln(p / q), 9), 12)
                      AS DECIMAL(28,12))) AS DOUBLE), 6) > 0.2 AS drifted
FROM grid
GROUP BY event_type, n_ref, n_cur
ORDER BY event_type
""",
)
def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report via the population stability index
    (B69 family, the ML-ops pre-flight): PSI of the value distribution
    between the first and second half of the month, per event type —
    the "did the feature distribution move under me" gate every
    serving/training pipeline runs before trusting new data
    (PSI > 0.2 = investigate, the standard banking-scorecard rule).

    Determinism discipline: fixed-width data-independent bins (no
    min/max pass — production feature clipping semantics), exact
    count ratios, and the unigram-PPL ln() contract — ln rounds to
    9dp, each term rounds to 12dp and sums as DECIMAL so the 10-term
    per-group sum is order-free and hash-exact across engines. Shape:
    one pass over raw events to (type, era, bin) counts (map-side
    combinable), everything after is arithmetic over |types|·bins
    rows.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    tagged = e.select(
        "event_type",
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"),
            "ref",
        )
        .otherwise("cur")
        .alias("era"),
        F.least(
            F.floor(F.col("value") / _PSI_BIN_W).cast("int"),
            F.lit(_PSI_N_BINS - 1),
        ).alias("bin"),
    )
    counts = tagged.groupBy("event_type", "era", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("event_type", "era").agg(F.sum("n").alias("tot"))
    types = tagged.select("event_type").distinct()
    bins = spark.range(_PSI_N_BINS).select(F.col("id").cast("int").alias("bin"))
    r = counts.filter(F.col("era") == "ref").select(
        "event_type", "bin", F.col("n").alias("rn")
    )
    c = counts.filter(F.col("era") == "cur").select(
        "event_type", "bin", F.col("n").alias("cn")
    )
    rt = totals.filter(F.col("era") == "ref").select(
        "event_type", F.col("tot").alias("n_ref")
    )
    ct = totals.filter(F.col("era") == "cur").select(
        "event_type", F.col("tot").alias("n_cur")
    )
    grid = (
        types.crossJoin(F.broadcast(bins))
        .join(r, ["event_type", "bin"], "left")
        .join(c, ["event_type", "bin"], "left")
        .join(rt, "event_type")
        .join(ct, "event_type")
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.greatest(
                F.coalesce(F.col("rn"), F.lit(0)) * 1.0 / F.col("n_ref"),
                F.lit(_PSI_EPS),
            ).alias("p"),
            F.greatest(
                F.coalesce(F.col("cn"), F.lit(0)) * 1.0 / F.col("n_cur"),
                F.lit(_PSI_EPS),
            ).alias("q"),
        )
    )
    term = F.round(
        (F.col("p") - F.col("q"))
        * F.round(F.log(F.col("p") / F.col("q")), 9),
        12,
    ).cast("decimal(28,12)")
    psi = F.round(F.sum(term).cast("double"), 6)
    return (
        grid.groupBy("event_type", "n_ref", "n_cur")
        .agg(psi.alias("psi"), (psi > 0.2).alias("drifted"))
        .orderBy("event_type")
    )


@query(
    "q_profile_corr",
    # All 14 power sums in exact DECIMAL (inputs are 2dp money/rates —
    # products are exact at scale 4), closed forms in one identical
    # IEEE expression per pair; the decimal sums are order-free so the
    # shuffle cannot perturb the 6dp-rounded output.
    oracle="""
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
    sum(CAST(l_discount AS DECIMAL(18,2))) AS sd,
    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sqq,
    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp,
    sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS sdd,
    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp,
    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS sqd,
    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS spd
  FROM lineitem
),
p AS (
  SELECT 'quantity' AS col_a, 'extendedprice' AS col_b, n,
         CAST(sq AS DOUBLE) AS sx, CAST(sp AS DOUBLE) AS sy,
         CAST(sqq AS DOUBLE) AS sxx, CAST(spp AS DOUBLE) AS syy,
         CAST(sqp AS DOUBLE) AS sxy
  FROM s
  UNION ALL
  SELECT 'quantity', 'discount', n,
         CAST(sq AS DOUBLE), CAST(sd AS DOUBLE),
         CAST(sqq AS DOUBLE), CAST(sdd AS DOUBLE), CAST(sqd AS DOUBLE)
  FROM s
  UNION ALL
  SELECT 'extendedprice', 'discount', n,
         CAST(sp AS DOUBLE), CAST(sd AS DOUBLE),
         CAST(spp AS DOUBLE), CAST(sdd AS DOUBLE), CAST(spd AS DOUBLE)
  FROM s
)
SELECT col_a, col_b, n,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr
FROM p ORDER BY col_a, col_b
""",
)
def q_profile_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns (quantity, extendedprice, discount) in ONE pass — the
    feature-redundancy / leakage pre-flight (two features correlated
    at 0.99 are one feature; a feature correlated with the label is a
    leak). q_agg_stats covers one pair per group; this is the
    all-pairs profile over the whole table.

    One aggregate computes all 10 power sums (3 sums, 3 squares,
    3 cross products, n) in exact DECIMAL — map-side combinable, a
    single scan, state O(1); every pairwise correlation is then a
    closed IEEE form over the same exact sums, evaluated identically
    in both engines (the q_agg_trend discipline; F.corr rejected —
    its streaming merge is partition-order-dependent). Output is
    O(pairs) rows. At wider tables the sums grow as k(k+3)/2 columns,
    still one pass — the k² pain lives in state width, never in scans.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dq).alias("sq"),
        F.sum(dp).alias("sp"),
        F.sum(dd).alias("sd"),
        F.sum(dq * dq).alias("sqq"),
        F.sum(dp * dp).alias("spp"),
        F.sum(dd * dd).alias("sdd"),
        F.sum(dq * dp).alias("sqp"),
        F.sum(dq * dd).alias("sqd"),
        F.sum(dp * dd).alias("spd"),
    )
    pair = lambda a, b, sx, sy, sxx, syy, sxy: F.struct(  # noqa: E731
        F.lit(a).alias("col_a"),
        F.lit(b).alias("col_b"),
        F.col("n").alias("n"),
        F.col(sx).cast("double").alias("sx"),
        F.col(sy).cast("double").alias("sy"),
        F.col(sxx).cast("double").alias("sxx"),
        F.col(syy).cast("double").alias("syy"),
        F.col(sxy).cast("double").alias("sxy"),
    )
    pairs = s.select(
        F.explode(
            F.array(
                pair("quantity", "extendedprice", "sq", "sp", "sqq", "spp", "sqp"),
                pair("quantity", "discount", "sq", "sd", "sqq", "sdd", "sqd"),
                pair("extendedprice", "discount", "sp", "sd", "spp", "sdd", "spd"),
            )
        ).alias("p")
    ).select("p.*")
    nD = F.col("n").cast("double")
    # zero-variance columns (single row / constants) have no defined
    # correlation — NULL, never an ANSI crash
    okc = (nD * F.col("sxx") - F.col("sx") * F.col("sx") > 0) & (
        nD * F.col("syy") - F.col("sy") * F.col("sy") > 0
    )
    corr = (nD * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (nD * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nD * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return pairs.select(
        "col_a", "col_b", "n", F.when(okc, F.round(corr, 6)).alias("corr")
    ).orderBy("col_a", "col_b")


# Benford expected first-digit shares, log10(1+1/d) rounded to 12dp —
# embedded as LITERALS in both engines (computing log10 in-engine
# would reintroduce libm ulp drift into the expected values).
_BENFORD_P = {
    1: 0.301029995664, 2: 0.176091259056, 3: 0.124938736608,
    4: 0.096910013008, 5: 0.079181246048, 6: 0.066946789631,
    7: 0.057991946978, 8: 0.051152522447, 9: 0.045757490561,
}
_BENFORD_CRIT = 15.507  # chi-square 5% critical value at 8 df


def _benford_expected_sql() -> str:
    return " ".join(
        f"WHEN dg.d = {d} THEN {p!r}" for d, p in _BENFORD_P.items()
    )


@query(
    "q_profile_benford",
    oracle=f"""
WITH f AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INTEGER) AS d
  FROM orders WHERE o_totalprice >= 1
),
c AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY d
),
digits AS (SELECT unnest(generate_series(1, 9)) AS d),
x AS (
  SELECT dg.d, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
         CASE {_benford_expected_sql()} END AS p
  FROM digits dg LEFT JOIN c ON c.d = dg.d
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM x),
s AS (
  SELECT CASE WHEN t.total > 0
              THEN round(sum((n - total * p) * (n - total * p)
                             / (total * p)), 6) END AS chi2
  FROM x CROSS JOIN t GROUP BY t.total
)
SELECT x.d AS digit, x.n,
       CASE WHEN t.total > 0
            THEN round(CAST(x.n AS DOUBLE) / t.total, 6) END AS share,
       round(x.p, 6) AS expected,
       s.chi2,
       CASE WHEN t.total > 0 THEN s.chi2 <= {_BENFORD_CRIT} END AS conforms
FROM x CROSS JOIN t CROSS JOIN s
ORDER BY digit
""",
)
def q_profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformance of order totals — the
    forensic-accounting screen (organic transaction amounts follow
    log10(1+1/d); fabricated or capped data doesn't, and a failing
    chi-square flags WHICH ledger to audit). Emits the full observed
    vs expected digit distribution plus the 8-df chi-square verdict.

    Scale shape: first digits extract row-locally (string head of the
    integer part — no log10 on the data path), reduce to NINE integer
    counts via one partial-aggregated pass, and the chi-square is a
    closed form over a 9-row frame against LITERAL expected shares
    (computing log10 in-engine would put libm ulps into the expected
    values; the literals are shared between engines byte-for-byte).
    Zero-count digits join in from a generated digit spine so a
    missing digit contributes its full (0 − n·p)²/(n·p) term — the
    q_ts_seasonality grid lesson.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    c = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(d.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    p = F.lit(None).cast("double")
    for dg, pv in reversed(_BENFORD_P.items()):
        p = F.when(F.col("d") == dg, F.lit(pv)).otherwise(p)
    x = (
        digits.join(c, "d", "left")
        .select(
            "d",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            p.alias("p"),
        )
        .coalesce(1)
        .localCheckpoint(eager=False)  # 9 rows feeding three branches
        # (total, chi2, report) — without this the orders scan reruns
        # per branch
    )
    t = x.agg(F.sum("n").cast("long").alias("total"))
    xt = x.crossJoin(F.broadcast(t))
    chi_term = F.when(
        F.col("total") > 0,
        (F.col("n") - F.col("total") * F.col("p"))
        * (F.col("n") - F.col("total") * F.col("p"))
        / (F.col("total") * F.col("p")),
    )  # NULL terms on an empty table -> NULL chi2, never a div-by-zero
    s = xt.agg(F.round(F.sum(chi_term), 6).alias("chi2"))
    return (
        xt.crossJoin(F.broadcast(s))
        .select(
            F.col("d").alias("digit"),
            "n",
            F.when(
                F.col("total") > 0,
                F.round(F.col("n").cast("double") / F.col("total"), 6),
            ).alias("share"),
            F.round("p", 6).alias("expected"),
            "chi2",
            F.when(
                F.col("total") > 0, F.col("chi2") <= _BENFORD_CRIT
            ).alias("conforms"),
        )
        .orderBy("digit")
    )


_FD_CANDIDATES = [
    # (lhs, rhs) over orders ⋈-free single-table checks
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderdate", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"),
]


@query(
    "q_profile_fd",
    oracle=f"""
WITH checks AS (
  {" UNION ALL ".join(
      f'''SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
          CAST(count(DISTINCT {lhs}) AS BIGINT) AS n_lhs,
          CAST(count(DISTINCT ({lhs}, {rhs})) AS BIGINT) AS n_pairs
      FROM orders'''
      for lhs, rhs in _FD_CANDIDATES
  )}
)
SELECT lhs, rhs, n_lhs, n_pairs,
       n_lhs = n_pairs AS fd_holds,
       round((n_pairs - n_lhs) * 1.0 / n_lhs, 6) AS violation_ratio
FROM checks ORDER BY lhs, rhs
""",
)
def q_profile_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over a candidate list: does
    lhs → rhs hold on the actual data (count of distinct lhs equals
    count of distinct (lhs, rhs) pairs)? — the schema-inference /
    normalization profiler: confirmed FDs license dimension
    extraction and stale-denormalization checks; violated FDs with a
    small violation_ratio are usually DATA BUGS (one customer with
    two names), which is why the ratio ships and not just the
    boolean.

    Scale shape: each candidate costs two distinct aggregations over
    the same scan (Spark plans count(DISTINCT a), count(DISTINCT
    (a,b)) in one expand pass per check); candidates are a fixed
    bounded list, so the whole profile is |candidates| passes of
    partial-agg work with one-row outputs. The exhaustive-lattice
    search (TANE-style) is deliberately out of scope: at 100 TB you
    profile the FDs you suspect, not 2^|columns|.
    """
    o = load_table(spark, sf_dir, "orders")
    frames = []
    for lhs, rhs in _FD_CANDIDATES:
        frames.append(
            o.agg(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.countDistinct(F.col(lhs)).alias("n_lhs"),
                F.countDistinct(F.col(lhs), F.col(rhs)).alias("n_pairs"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.select(
        "lhs",
        "rhs",
        "n_lhs",
        "n_pairs",
        (F.col("n_lhs") == F.col("n_pairs")).alias("fd_holds"),
        F.when(
            F.col("n_lhs") > 0,
            F.round(
                (F.col("n_pairs") - F.col("n_lhs")) * 1.0 / F.col("n_lhs"), 6
            ),
        ).alias("violation_ratio"),
    ).orderBy("lhs", "rhs")


_KEY_CANDIDATES = [
    ("o_orderkey",),
    ("o_custkey",),
    ("o_orderdate",),
    ("o_custkey", "o_orderdate"),
]


@query(
    "q_profile_keys",
    oracle=f"""
WITH checks AS (
  {" UNION ALL ".join(
      f'''SELECT '{"+".join(cols)}' AS candidate,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT ({", ".join(cols)})) AS BIGINT) AS n_distinct
      FROM orders'''
      for cols in _KEY_CANDIDATES
  )}
)
SELECT candidate, n_rows, n_distinct,
       n_rows = n_distinct AS is_key,
       round(n_distinct * 1.0 / n_rows, 6) AS uniqueness
FROM checks ORDER BY candidate
""",
)
def q_profile_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key detection: for each column combo, is the distinct
    count equal to the row count — the uniqueness profiler behind
    primary-key inference, dedup-key selection, and join-key audits
    (a 0.9999 uniqueness is an almost-key, i.e. a duplicate bug or a
    legitimate versioning column; the ratio distinguishes "not a key"
    from "a key with three violations").

    Scale shape: one count + one distinct count per candidate; the
    distinct shuffles on the candidate itself so skew follows key
    quality (a real key is perfectly spread by definition; a bad
    candidate concentrates — AQE handles it). The combo list is fixed
    and bounded — the lattice-walk key-mining problem is out of scope
    at scale, as with q_profile_fd.
    """
    o = load_table(spark, sf_dir, "orders")
    frames = []
    for cols in _KEY_CANDIDATES:
        frames.append(
            o.agg(
                F.lit("+".join(cols)).alias("candidate"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(*[F.col(c) for c in cols]).alias(
                    "n_distinct"
                ),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.select(
        "candidate",
        "n_rows",
        "n_distinct",
        (F.col("n_rows") == F.col("n_distinct")).alias("is_key"),
        F.when(
            F.col("n_rows") > 0,
            F.round(F.col("n_distinct") * 1.0 / F.col("n_rows"), 6),
        ).alias("uniqueness"),
    ).orderBy("candidate")


@query(
    "q_dq_freshness",
    # Integer epoch-second maxima per feed (floor(epoch) — the cast
    # gotcha), the reference clock = max across feeds, lag one exact
    # integer subtraction; the staleness gate a literal.
    oracle="""
WITH f AS (
  SELECT 'events' AS feed, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS max_epoch
  FROM events
  UNION ALL
  SELECT 'lineitem', CAST(count(*) AS BIGINT),
         CAST(floor(epoch(max(l_shipdate))) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'orders', CAST(count(*) AS BIGINT),
         CAST(floor(epoch(max(o_orderdate))) AS BIGINT)
  FROM orders
),
r AS (SELECT max(max_epoch) AS clock FROM f)
SELECT f.feed, f.n_rows, f.max_epoch,
       CAST(r.clock - f.max_epoch AS BIGINT) AS lag_seconds,
       round((r.clock - f.max_epoch) / 3600.0, 6) AS lag_hours,
       r.clock - f.max_epoch > 86400 AS stale_24h
FROM f CROSS JOIN r ORDER BY f.feed
""",
)
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-feed freshness report — the first page of every data-SLA
    dashboard: each time-bearing feed's high-water mark against the
    newest mark ANYWHERE (the only clock a batch system can trust —
    wall-clock now() would make the check non-reproducible and is
    banned engine-wide), with the 24h staleness gate. q_dq_report
    checks VALUES inside one table; this checks ARRIVAL across tables
    — the lag that silently turns every downstream join into a
    partial-data lie (q_events_outage finds gaps inside one stream;
    this finds a whole feed falling behind).

    Scale shape: one max+count aggregate per feed — each a map-side
    partial over ONE column (scan pruned to it), unioned into a
    3-row frame; the reference clock is a 1-row cross join. The
    cheapest possible pass over each table.
    """
    feeds = (
        ("events", "events", "ts"),
        ("lineitem", "lineitem", "l_shipdate"),
        ("orders", "orders", "o_orderdate"),
    )
    frames = []
    for feed, table, col in feeds:
        t = load_table(spark, sf_dir, table)
        frames.append(
            t.agg(
                F.lit(feed).alias("feed"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.floor(F.unix_timestamp(F.max(col)))
                .cast("long")
                .alias("max_epoch"),
            )
        )
    f = frames[0]
    for fr in frames[1:]:
        f = f.unionByName(fr)
    r = F.broadcast(f.agg(F.max("max_epoch").alias("clock")))
    lag = F.col("clock") - F.col("max_epoch")
    return (
        f.crossJoin(r)
        .select(
            "feed",
            "n_rows",
            "max_epoch",
            lag.cast("long").alias("lag_seconds"),
            F.round(lag / 3600.0, 6).alias("lag_hours"),
            (lag > 86400).alias("stale_24h"),
        )
        .orderBy("feed")
    )


_NULLPAT_COLS = ("o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "q_profile_null_pattern",
    # The null-combination bitmask is a pure map expression over three
    # columns; counts exact integers, one division per pattern row.
    oracle=f"""
WITH p AS (
  SELECT {" + ".join(
      f"(CASE WHEN {c} IS NULL THEN {1 << i} ELSE 0 END)"
      for i, c in enumerate(_NULLPAT_COLS)
  )} AS pattern
  FROM orders
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p)
SELECT CAST(p.pattern AS BIGINT) AS pattern,
       {", ".join(
           f"CAST(p.pattern & {1 << i} > 0 AS BOOLEAN)"
           f" AS null_{c}" for i, c in enumerate(_NULLPAT_COLS)
       )},
       CAST(count(*) AS BIGINT) AS n_rows,
       round(count(*) * 1.0 / max(t.n), 6) AS share
FROM p CROSS JOIN t
GROUP BY p.pattern ORDER BY p.pattern
""",
)
def q_profile_null_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-combination patterns — WHICH columns go null TOGETHER:
    each row maps to a bitmask over the audited columns and the report
    counts rows per pattern. Per-column null counts (q_profile) hide
    structure: 10% nulls in A and 10% in B is a different disease
    when they are the SAME rows (one broken upstream join) vs
    independent (two flaky fields). The co-missingness fingerprint is
    the first clue in that diagnosis — and the fixture's all-zero
    single pattern row is itself the assertion that the feed is
    complete.

    Scale shape: the bitmask is one map-side integer expression over a
    scan pruned to the audited columns; ONE partial-aggregated pass
    to ≤ 2^k pattern rows; a 1-row total for the shares. Trivially
    extendable to any column list (k ≤ ~20 before the report itself
    needs thinking).
    """
    o = load_table(spark, sf_dir, "orders")
    pattern = sum(
        [
            F.when(F.col(c).isNull(), 1 << i).otherwise(0)
            for i, c in enumerate(_NULLPAT_COLS)
        ],
        F.lit(0),
    )
    p = o.select(pattern.alias("pattern"))
    t = F.broadcast(p.agg(F.count(F.lit(1)).cast("long").alias("n")))
    return (
        p.crossJoin(t)
        .groupBy("pattern")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.max("n").alias("_n"),
        )
        .select(
            F.col("pattern").cast("long").alias("pattern"),
            *[
                (F.col("pattern").bitwiseAND(F.lit(1 << i)) > 0).alias(
                    f"null_{c}"
                )
                for i, c in enumerate(_NULLPAT_COLS)
            ],
            "n_rows",
            F.round(F.col("n_rows") * 1.0 / F.col("_n"), 6).alias(
                "share"
            ),
        )
        .orderBy("pattern")
    )


_EXPECTATION_TOL = {
    "o_totalprice_complete": 0.0,
    "o_orderkey_unique": 0.0,
    "o_orderstatus_in_domain": 0.0,
    "o_totalprice_in_typical_range": 0.01,
    "o_orderdate_not_future": 0.0,
}


@query(
    "q_dq_expectations",
    # All counts are exact integers; the violation rate is one IEEE
    # division rounded to 6dp in both engines.
    oracle="""
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT)
           AS null_price,
         CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P'))
              AS BIGINT) AS bad_status,
         CAST(count(*) FILTER (WHERE o_totalprice < 1
                                  OR o_totalprice > 600000) AS BIGINT)
           AS out_of_range,
         CAST(count(*) FILTER (WHERE o_orderdate > now()) AS BIGINT)
           AS future_dates
  FROM orders
),
dup AS (
  SELECT CAST(COALESCE(sum(c - 1), 0) AS BIGINT) AS n_dups
  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey
        HAVING count(*) > 1)
),
rules AS (
  SELECT 'o_totalprice_complete' AS expectation, 'completeness' AS kind,
         s.n AS n_checked, s.null_price AS n_violations, 0.0 AS tolerance
  FROM s
  UNION ALL
  SELECT 'o_orderkey_unique', 'uniqueness', s.n, dup.n_dups, 0.0
  FROM s, dup
  UNION ALL
  SELECT 'o_orderstatus_in_domain', 'domain', s.n, s.bad_status, 0.0
  FROM s
  UNION ALL
  SELECT 'o_totalprice_in_typical_range', 'range', s.n, s.out_of_range,
         0.01
  FROM s
  UNION ALL
  SELECT 'o_orderdate_not_future', 'timeliness', s.n, s.future_dates, 0.0
  FROM s
)
SELECT expectation, kind, n_checked, n_violations,
       round(CAST(n_violations AS DOUBLE) / n_checked, 6)
         AS violation_rate,
       tolerance,
       CAST(n_violations AS DOUBLE) / n_checked <= tolerance AS passed
FROM rules WHERE n_checked > 0
ORDER BY expectation
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-based expectation suite over the orders table — the
    Great-Expectations-style contract check that generalizes
    q_dq_report's zero-tolerance rules: each expectation carries a
    declared violation TOLERANCE (a range rule may accept 1% outliers;
    completeness, uniqueness, domain and timeliness stay strict), and
    the gate passes on RATE, not absence. The distinction matters
    operationally: a 100 TB drop with 0.3% price outliers should land
    (flagged), one with 30% should not.

    Scale shape: the four row-local expectations compile into ONE
    conditional-aggregate pass over the table (a FILTER count costs
    nothing extra inside the same agg); uniqueness is the one keyed
    reduce (groupBy(key) → surplus sum — partial map-side, output is
    |duplicate keys|); report assembly is 1×1 crossJoins of the two
    1-row frames inlined to O(rules) rows. Nothing row-sized reaches
    the driver. now() resolves per-engine at run time — both engines
    evaluate it against the same fixture horizon (all fixture dates
    are in the past), so the timeliness count is deterministically 0.
    """
    o = load_table(spark, sf_dir, "orders")
    s = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_totalprice").isNull().cast("long"))
        .cast("long")
        .alias("null_price"),
        F.sum((~F.col("o_orderstatus").isin("F", "O", "P")).cast("long"))
        .cast("long")
        .alias("bad_status"),
        F.sum(
            (
                (F.col("o_totalprice") < 1)
                | (F.col("o_totalprice") > 600000)
            ).cast("long")
        )
        .cast("long")
        .alias("out_of_range"),
        F.sum((F.col("o_orderdate") > F.now()).cast("long"))
        .cast("long")
        .alias("future_dates"),
    )
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("long")
            .alias("n_dups")
        )
    )

    def rule(expectation, kind, v_col):
        return F.struct(
            F.lit(expectation).alias("expectation"),
            F.lit(kind).alias("kind"),
            F.col("n").alias("n_checked"),
            F.col(v_col).cast("long").alias("n_violations"),
            F.lit(_EXPECTATION_TOL[expectation]).alias("tolerance"),
        )

    combined = s.crossJoin(F.broadcast(dup))
    rate = F.col("n_violations").cast("double") / F.col("n_checked")
    return (
        combined.select(
            F.inline(
                F.array(
                    rule("o_totalprice_complete", "completeness", "null_price"),
                    rule("o_orderkey_unique", "uniqueness", "n_dups"),
                    rule("o_orderstatus_in_domain", "domain", "bad_status"),
                    rule(
                        "o_totalprice_in_typical_range", "range", "out_of_range"
                    ),
                    rule("o_orderdate_not_future", "timeliness", "future_dates"),
                )
            )
        )
        .filter(F.col("n_checked") > 0)
        .select(
            "expectation",
            "kind",
            "n_checked",
            "n_violations",
            F.round(rate, 6).alias("violation_rate"),
            "tolerance",
            (rate <= F.col("tolerance")).alias("passed"),
        )
        .orderBy("expectation")
    )


@query(
    "q_profile_topk",
    # Exact counts; rank ties broken by value; shares are single IEEE
    # divisions of exact integers.
    oracle="""
WITH vals AS (
  SELECT 'l_returnflag' AS col, l_returnflag AS val FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', l_linestatus FROM lineitem
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
  UNION ALL
  SELECT 'c_mktsegment', c_mktsegment FROM customer
),
c AS (
  SELECT col, val, CAST(count(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
),
t AS (SELECT col, CAST(sum(cnt) AS BIGINT) AS total FROM c GROUP BY col),
r AS (
  SELECT col, val, cnt,
         row_number() OVER (PARTITION BY col
                            ORDER BY cnt DESC, val) AS rnk
  FROM c
)
SELECT r.col AS column_name, r.rnk AS rank, r.val AS value, r.cnt,
       round(CAST(r.cnt AS DOUBLE) / t.total, 6) AS share
FROM r JOIN t ON t.col = r.col
WHERE r.rnk <= 5
ORDER BY column_name, rank
""",
)
def q_profile_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most frequent values per profiled categorical column
    (with exact counts and shares) — the profiler staple beside
    q_profile's numeric moments and q_profile_skew's hot-key readout:
    the first thing anyone asks of a categorical column is "what's
    actually in it", and the share column is the constant-column /
    dominant-value alarm (a 99.9% single value usually means a
    default, not data).

    Scale shape: per-column grouped counts are map-combinable reduces
    over PRUNED single-column scans (the union never materializes raw
    rows — each leg aggregates before the union); the top-5 cut rides
    WindowGroupLimit on the |distinct values|-sized frame; totals come
    from the count frame itself (no second table pass). Output is
    5 × |columns| rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")

    def counted(df, col):
        return (
            df.groupBy(F.col(col).alias("value"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .select(F.lit(col).alias("column_name"), "value", "cnt")
        )

    c = (
        counted(li, "l_returnflag")
        .unionByName(counted(li, "l_linestatus"))
        .unionByName(counted(o, "o_orderstatus"))
        .unionByName(counted(o, "o_orderpriority"))
        .unionByName(counted(cu, "c_mktsegment"))
    )
    t = c.groupBy("column_name").agg(F.sum("cnt").cast("long").alias("total"))
    w = W.partitionBy("column_name").orderBy(F.col("cnt").desc(), "value")
    r = c.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )
    return (
        r.join(t, "column_name")
        .select(
            "column_name",
            "rank",
            "value",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
        )
        .orderBy("column_name", "rank")
    )


@query(
    "q_profile_consistency",
    # Every published quantity is an exact integer count or one
    # integer division; the duplicate-id check counts ids, not rows,
    # via a doc_id-keyed pre-aggregate.
    oracle="""
WITH dup AS (
  SELECT doc_id FROM documents GROUP BY doc_id HAVING count(*) > 1
),
chk AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) FILTER (d.n_chars <> len(d.text)) AS BIGINT)
           AS n_chars_mismatch,
         CAST(count(*) FILTER (d.text IS NULL OR len(d.text) = 0)
              AS BIGINT) AS n_empty_text,
         CAST(count(*) FILTER (d.n_chars < 0) AS BIGINT) AS n_negative_len,
         CAST(count(*) FILTER (dup.doc_id IS NOT NULL) AS BIGINT)
           AS n_dup_id_rows
  FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
  GROUP BY d.source
)
SELECT source, n_docs, n_chars_mismatch, n_empty_text, n_negative_len,
       n_dup_id_rows,
       round((n_docs - n_chars_mismatch - n_empty_text - n_negative_len
              - n_dup_id_rows + 0.0) / n_docs, 6) AS clean_share_lb
FROM chk ORDER BY source
""",
)
def q_profile_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field consistency audit of the documents table, per
    source: does the DECLARED length match the text (`n_chars` vs
    `length(text)`), are there empty payloads, negative lengths,
    duplicate primary keys — the intra-row and key-integrity checks
    q_dq_report's per-column profile can't see (every column can look
    healthy in isolation while `n_chars` systematically disagrees with
    the text it describes: a truncating ingester). The clean-share
    lower bound (violations may overlap) is the per-feed score an
    ingest SLA gets written against.

    Scale shape: one doc_id-keyed pre-aggregate for duplicate ids
    (map-combinable; the duplicate set is small and stays hash-joined,
    never a window), one row-local predicate pass, one per-source
    aggregate. Exact integers plus one division per source row.
    """
    d = load_table(spark, sf_dir, "documents")
    dup = (
        d.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("doc_id", F.lit(1).alias("_dup"))
    )
    j = d.join(dup, "doc_id", "left")
    chk = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).cast("long").alias("n_chars_mismatch"),
        F.sum(
            F.when(
                F.col("text").isNull() | (F.length("text") == 0), 1
            ).otherwise(0)
        ).cast("long").alias("n_empty_text"),
        F.sum(F.when(F.col("n_chars") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative_len"),
        F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_id_rows"),
    )
    clean = (
        F.col("n_docs")
        - F.col("n_chars_mismatch")
        - F.col("n_empty_text")
        - F.col("n_negative_len")
        - F.col("n_dup_id_rows")
        + 0.0
    ) / F.col("n_docs")
    return chk.select(
        "source",
        "n_docs",
        "n_chars_mismatch",
        "n_empty_text",
        "n_negative_len",
        "n_dup_id_rows",
        F.round(clean, 6).alias("clean_share_lb"),
    ).orderBy("source")


@query(
    "q_dq_referential",
    # Orphan and coverage counts are exact integers from key-grained
    # anti-join-shaped aggregates; shares are one division per FK row.
    oracle="""
WITH fks AS (
  SELECT 'lineitem.l_orderkey->orders' AS fk,
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)) AS orphans,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_parent,
         (SELECT CAST(count(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey))
           AS unreferenced
  UNION ALL
  SELECT 'orders.o_custkey->customer',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)),
         (SELECT count(*) FROM customer),
         (SELECT count(*) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey))
  UNION ALL
  SELECT 'lineitem.l_partkey->part',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey)),
         (SELECT count(*) FROM part),
         (SELECT count(*) FROM part p
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_partkey = p.p_partkey))
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey)),
         (SELECT count(*) FROM supplier),
         (SELECT count(*) FROM supplier s
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_suppkey = s.s_suppkey))
)
SELECT fk, n_child, orphans,
       round(orphans * 1.0 / n_child, 6) AS orphan_share,
       n_parent, unreferenced,
       round((n_parent - unreferenced) * 1.0 / n_parent, 6)
         AS parent_coverage
FROM fks ORDER BY fk
""",
)
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema's four foreign
    keys: orphaned child rows (FK value with no parent — the breakage
    every downstream inner join silently DROPS) and unreferenced
    parent keys (coverage — dead dimension rows) per relationship —
    the cross-TABLE integrity layer q_profile_keys' per-table
    uniqueness check can't see, and the first thing to audit after
    any partial backfill or purge at 100 TB.

    Scale shape: each FK is ONE declarative left-join + null-count
    aggregate per direction (a key-grained distinct on the parent side
    — broadcast for dims, key-shuffle for the fact⋈fact edge), and the
    four 1-row frames union into the output plan: no driver-side
    counting loop, the whole audit is a single lazy plan whose leaves
    Catalyst schedules together. Output is 4 rows, two divisions each.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    pa = load_table(spark, sf_dir, "part")
    su = load_table(spark, sf_dir, "supplier")

    def audit(name, child, ckey, parent, pkey):
        ck = child.select(F.col(ckey).alias("k"))
        pk = parent.select(F.col(pkey).alias("k")).distinct()
        child_side = (
            ck.join(pk.withColumn("_p", F.lit(1)), "k", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("orphans"),
            )
        )
        parent_side = (
            pk.join(ck.distinct().withColumn("_c", F.lit(1)), "k", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_parent"),
                F.sum(F.when(F.col("_c").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("unreferenced"),
            )
        )
        return child_side.crossJoin(F.broadcast(parent_side)).select(
            F.lit(name).alias("fk"),
            "n_child",
            "orphans",
            "n_parent",
            "unreferenced",
        )

    out = (
        audit("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey")
        .unionAll(
            audit("orders.o_custkey->customer", o, "o_custkey", cu, "c_custkey")
        )
        .unionAll(
            audit("lineitem.l_partkey->part", li, "l_partkey", pa, "p_partkey")
        )
        .unionAll(
            audit(
                "lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"
            )
        )
    )
    return out.select(
        "fk",
        "n_child",
        "orphans",
        F.round(F.col("orphans") * 1.0 / F.col("n_child"), 6).alias(
            "orphan_share"
        ),
        "n_parent",
        "unreferenced",
        F.round(
            (F.col("n_parent") - F.col("unreferenced"))
            * 1.0
            / F.col("n_parent"),
            6,
        ).alias("parent_coverage"),
    ).orderBy("fk")
