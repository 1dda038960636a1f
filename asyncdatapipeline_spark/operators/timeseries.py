"""Time-series resampling operators (SURVEY.md §2B B68).

The reference's runtime moves opaque batches and leaves time-series
semantics to user callbacks (async_data_pipeline.go:67-71); the engine
surfaces resampling as a first-class relational operator the way a
training-telemetry or metrics pipeline needs it: bucket → aggregate →
densify (gap-fill) → forward-fill.

Scale doctrine: aggregate FIRST, then generate the spine from the
aggregated frame — the dense grid is proportional to
(keys × buckets), never to raw event count, and the raw 100 TB stream
is reduced by the bucket aggregation before any row generation
happens. The forward-fill window rides the same hash partitioning as
the spine join (partitionBy user_id), so the whole tail is one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.operators._util import bounded_part, dist_cumsum
from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

DEC = "decimal(28,6)"


@query(
    "q_ts_resample",
    oracle="""
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         count(*) AS n_events,
         sum(CAST(value AS DECIMAL(28,6))) AS sum_dec
  FROM events
  GROUP BY 1, 2
),
spans AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM agg GROUP BY 1
),
spine AS (
  SELECT user_id,
         unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM spans
)
SELECT s.user_id, s.bucket,
       coalesce(a.n_events, 0) AS n_events,
       a.n_events IS NULL AS gap_filled,
       last_value(CAST(a.sum_dec AS DOUBLE) / a.n_events IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.bucket) AS avg_value_ffill
FROM spine s
LEFT JOIN agg a ON s.user_id = a.user_id AND s.bucket = a.bucket
ORDER BY s.user_id, s.bucket
""",
)
def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of the events stream per user with gap-fill +
    forward-fill (B68) — the metrics/telemetry densification every
    time-series store exposes (`date_bin` + gap fill), which Spark has
    no single operator for.

    Three-stage composition, all built-ins:
      1. bucket aggregation (`date_trunc` + groupBy) — the only pass
         over raw events; map-side partial aggregation shrinks 100 TB
         to (users × hours) rows before the shuffle;
      2. spine generation per user (`sequence` over the user's own
         [min, max] bucket span, exploded) — sized by the aggregated
         frame, then left-joined back to mark gaps;
      3. forward-fill via `last(ignorenulls=True)` over a
         user-partitioned window.

    The per-bucket mean is summed in exact decimal and divided in
    double (cast-then-divide) so Spark and DuckDB agree bit-for-bit —
    decimal *division* scale rules differ between engines, double IEEE
    division does not.
    """
    e = load_table(spark, sf_dir, "events")
    agg = (
        e.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_dec"),
        )
    )
    spine = (
        agg.groupBy("user_id")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("b0", "b1", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    w = W.partitionBy("user_id").orderBy("bucket")
    avg_value = F.col("sum_dec").cast("double") / F.col("n_events")
    return (
        spine.join(agg, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("n_events").isNull().alias("gap_filled"),
            F.last(avg_value, ignorenulls=True).over(w).alias(
                "avg_value_ffill"
            ),
        )
        .orderBy("user_id", "bucket")
    )


_FUNNEL_STEPS = ("view", "click", "purchase")


@query(
    "q_funnel",
    # Raw string: the \b word-boundary escapes must reach DuckDB as
    # regex metachars, not Python backspace chars.
    oracle=r"""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('second', ts), event_id
         ) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(event_type, ' ' ORDER BY rn) AS seq
  FROM ranked WHERE rn <= 1000 GROUP BY user_id
),
f AS (
  SELECT
    count(*) FILTER (WHERE regexp_matches(seq, '\bview\b')) AS s1,
    count(*) FILTER (WHERE regexp_matches(seq, '\bview\b.*\bclick\b'))
      AS s2,
    count(*) FILTER
      (WHERE regexp_matches(seq, '\bview\b.*\bclick\b.*\bpurchase\b'))
      AS s3,
    count(*) AS total
  FROM s
)
SELECT 1 AS step_no, 'view' AS step, total AS n_users_total, s1 AS n_users
  FROM f
UNION ALL
SELECT 2, 'view>click', total, s2 FROM f
UNION ALL
SELECT 3, 'view>click>purchase', total, s3 FROM f
ORDER BY step_no
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (B70): how many users did view → click →
    purchase IN ORDER — product-analytics' core query, which plain
    filters can't express (order matters, intervening events allowed).

    Per user, the event-type sequence is assembled ONCE (collect_list
    of (time, id, type) structs, array_sort — total order via the
    unique event_id tiebreaker, so both engines build the identical
    string) and each funnel stage is a regex over it. One shuffle on
    user_id; per-user state is that user's own event list, the same
    bound any sessionizer carries. At 100 TB a degenerate key (a bot
    with millions of events) caps via a per-user event limit upstream
    — the fixture has no such key, and the cap is policy, not shape.
    """
    e = load_table(spark, sf_dir, "events")
    # Only the first 1000 events (in event-time order) participate — a
    # literal slice on the sorted list (the r3-ADVICE free guardrail),
    # so a bot key's sequence/regex cost is bounded even before any
    # upstream per-user ingest cap lands. (The collect buffer itself
    # still sees every row of the key — the full fix at 100 TB is the
    # upstream cap the docstring names; the slice bounds everything
    # downstream of it for free.) The oracle mirrors the cap with a
    # rank filter.
    seq = F.array_join(
        F.transform(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.date_trunc("second", "ts").alias("t"),
                            F.col("event_id").alias("i"),
                            F.col("event_type").alias("ty"),
                        )
                    )
                ),
                1,
                1000,
            ),
            lambda s: s["ty"],
        ),
        " ",
    )
    # Stages match on DELIMITED tokens (\b boundaries over the space-
    # joined sequence), not raw substrings — 'preview' or 'view_item'
    # entering the vocabulary must not count as a 'view' stage (ADVICE
    # r3). \b semantics agree between Java regex (rlike) and DuckDB RE2.
    per_user = e.groupBy("user_id").agg(seq.alias("seq"))
    flags = per_user.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("seq").rlike(r"\bview\b").cast("long")).alias("s1"),
        F.sum(
            F.col("seq").rlike(r"\bview\b.*\bclick\b").cast("long")
        ).alias("s2"),
        F.sum(
            F.col("seq")
            .rlike(r"\bview\b.*\bclick\b.*\bpurchase\b")
            .cast("long")
        ).alias("s3"),
    )
    steps = F.array(
        F.struct(
            F.lit(1).alias("step_no"),
            F.lit("view").alias("step"),
            F.col("total").alias("n_users_total"),
            F.col("s1").alias("n_users"),
        ),
        F.struct(
            F.lit(2).alias("step_no"),
            F.lit("view>click").alias("step"),
            F.col("total").alias("n_users_total"),
            F.col("s2").alias("n_users"),
        ),
        F.struct(
            F.lit(3).alias("step_no"),
            F.lit("view>click>purchase").alias("step"),
            F.col("total").alias("n_users_total"),
            F.col("s3").alias("n_users"),
        ),
    )
    return flags.select(F.inline(steps)).orderBy("step_no")


@query(
    "q_anomaly",
    oracle="""
WITH s AS (
  SELECT event_type, count(*) AS n_group,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY 1
  HAVING count(*) > 1
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - sx / n_group)
             / nullif(sqrt((sxx - sx * sx / n_group) / (n_group - 1)), 0)
             , 6) AS z,
       n_group
FROM events e JOIN s USING (event_type)
WHERE abs((e.value - sx / n_group)
          / nullif(sqrt((sxx - sx * sx / n_group) / (n_group - 1)), 0))
      > 3
ORDER BY event_id
""",
)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative outlier detection (B71): events whose value sits
    more than 3 sample standard deviations from their event_type's mean
    — the metrics-monitoring primitive (per-series z-score flagging).

    Two-phase shape that scales: the per-type stats frame reduces to
    exact decimal power sums (|types| rows — the q_agg_stats doctrine,
    order-independent and map-side combinable), broadcasts back onto
    the stream, and the z expression is identical IEEE double
    arithmetic in both engines, so even the FILTER at |z| > 3 agrees
    bit-for-bit. The raw stream is scanned twice; at 100 TB the stats
    pass reads one column and the flag pass is map-only against the
    broadcast — no shuffle of the stream at all.
    """
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    # Degenerate groups are excluded BY CONSTRUCTION, identically in
    # both engines (ADVICE r3): n=1 groups are dropped at the stats
    # frame (no sample stddev exists), and an exactly-zero stddev is
    # nullif'd so the z row NULLs out of the |z|>3 filter in Spark and
    # DuckDB alike — rather than relying on Spark's NULL-on-div-by-zero
    # vs DuckDB's IEEE inf coincidentally agreeing.
    stats = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_group"),
            F.sum(v.cast("decimal(28,6)")).cast("double").alias("sx"),
            F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("sxx"),
        )
        .filter(F.col("n_group") > 1)
    )
    n, sx, sxx = F.col("n_group"), F.col("sx"), F.col("sxx")
    sd = F.sqrt((sxx - sx * sx / n) / (n - 1))
    z = (v - sx / n) / F.nullif(sd, F.lit(0.0))
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("z"),
            "n_group",
        )
        .orderBy("event_id")
    )


@query(
    "q_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
cohort_sizes AS (
  SELECT cohort_week, count(*) AS cohort_size
  FROM firsts GROUP BY cohort_week
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
),
ret AS (
  SELECT f.cohort_week,
         date_diff('day', f.cohort_week, a.wk) // 7 AS week_offset,
         count(*) AS n_active
  FROM active a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT CAST(r.cohort_week AS TIMESTAMP) AS cohort_week,
       r.week_offset, c.cohort_size, r.n_active,
       round(r.n_active * 1.0 / c.cohort_size, 6) AS retention
FROM ret r JOIN cohort_sizes c USING (cohort_week)
ORDER BY cohort_week, week_offset
""",
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (B70 family): users grouped by first-seen week,
    tracked by how many are still active N weeks later — the
    product-analytics complement to the funnel.

    Scale shape: every stage aggregates BEFORE it joins. The cohort
    frame reduces the stream to |users| rows (one shuffle on user_id);
    the activity frame distincts (user, week) — the same user_id
    partitioning, which Spark reuses across the join; the final rollup
    is |cohorts × offsets| — dashboard-sized. Nothing row-scale crosses
    a second shuffle, and per-user state is one timestamp, so a bot key
    cannot skew anything (contrast q_funnel's sequence build).
    """
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    cohort_sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    active = e.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    ret = (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("wk"), F.col("cohort_week")) / 7
            ).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        ret.join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "cohort_size",
            "n_active",
            F.round(
                F.col("n_active") * F.lit(1.0) / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


_SESSION_GAP_S = 1800  # 30-minute inactivity boundary


@query(
    "q_sessionize",
    oracle=f"""
WITH t AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
         ) AS prev_sec
  FROM events
),
f AS (
  SELECT *,
         CASE WHEN prev_sec IS NULL
                OR sec - prev_sec > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM t
)
SELECT event_id, user_id, event_type,
       CAST(sum(is_new) OVER (
         PARTITION BY user_id ORDER BY sec, event_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
FROM f
ORDER BY event_id
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event sessionization (B45's row-level sibling): assign every
    event its per-user session NUMBER (30-min inactivity boundary) —
    where q_window_session aggregates per session, this LABELS rows, the
    form downstream joins need (events keyed by (user, session)).

    The gaps-and-islands shape: one window computes the previous
    event's time (lag), a second running-sum counts boundary flags —
    both ride the SAME (user_id, time) partitioning and sort, so the
    whole operator is one shuffle + one sort, any corpus size. Times
    floor to epoch seconds (the proven cross-engine contract); event_id
    breaks same-second ties identically in both engines.
    """
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy(sec, "event_id")
    prev = F.lag(sec).over(w)
    is_new = F.when(
        prev.isNull() | ((sec - prev) > _SESSION_GAP_S), 1
    ).otherwise(0)
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            F.sum(is_new)
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("session_seq"),
        )
        .orderBy("event_id")
    )


@query(
    "q_funnel_time",
    oracle="""
WITH v AS (
  SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
p AS (
  SELECT e.user_id,
         min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS first_purchase
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase'
    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= v.first_view
  GROUP BY e.user_id
),
d AS (
  SELECT p.user_id, p.first_purchase - v.first_view AS delta_s
  FROM p JOIN v USING (user_id)
)
SELECT count(*) AS n_converted,
       round(quantile_cont(delta_s, 0.5), 6) AS median_s,
       round(quantile_cont(delta_s, 0.9), 6) AS p90_s,
       max(delta_s) AS max_s
FROM d
""",
)
def q_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution (B70 companion): how long users
    take from first view to first subsequent purchase — the funnel's
    latency half (q_funnel counts WHO converts; this measures HOW
    FAST).

    Aggregate-first at every step: first-view and first-purchase frames
    are per-user minima (map-side combinable), the delta set is
    |converted users| rows, and the percentile runs over that small
    frame (the q_agg_quantile percentile ↔ quantile_cont contract).
    Deltas are epoch-floored integer seconds, so everything up to the
    final interpolated percentile is exact cross-engine arithmetic.
    """
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(sec).alias("first_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", sec.alias("psec"))
        .join(v, "user_id")
        .filter(F.col("psec") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("psec").alias("first_purchase"))
    )
    d = p.join(v, "user_id").select(
        (F.col("first_purchase") - F.col("first_view")).alias("delta_s")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("delta_s", F.lit(0.5)), 6).alias("median_s"),
        F.round(F.percentile("delta_s", F.lit(0.9)), 6).alias("p90_s"),
        F.max("delta_s").alias("max_s"),
    )


@query(
    "q_agg_trend",
    oracle="""
WITH days AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS y
  FROM events GROUP BY 1, 2
),
m AS (SELECT min(d) AS d0 FROM days),
xy AS (
  SELECT event_type, date_diff('day', m.d0, days.d) AS x, y
  FROM days, m
),
s AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(x) AS sx, SUM(x*x) AS sxx,
    SUM(y) AS sy, SUM(y*y) AS syy, SUM(x*y) AS sxy
  FROM xy GROUP BY event_type
)
SELECT event_type, n,
  round(CAST(n*sxy - sx*sy AS DOUBLE) / nullif(n*sxx - sx*sx, 0), 6)
    AS slope,
  round((sy - (CAST(n*sxy - sx*sy AS DOUBLE) / nullif(n*sxx - sx*sx, 0)) * sx)
        / n, 6) AS intercept,
  round(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
        / nullif(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE), 0),
        6) AS r2
FROM s
ORDER BY event_type
""",
)
def q_agg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series linear trend fit (regression aggregates): slope /
    intercept / R² of daily event volume per type — the "is this
    metric drifting" monitoring query, the fitted sibling of
    q_anomaly's z-scores.

    NOT ``F.regr_slope``/``regr_r2``: like stddev/corr (q_agg_stats),
    their float accumulation is partition-order-dependent. Instead:
    aggregate-FIRST to the (type, day) count grid (the q_ts_resample
    doctrine — the regression never sees raw events), where x = day
    index and y = count are exact INTEGERS, so the power sums are
    exact BIGINT arithmetic and the closed forms are the identical
    IEEE op sequence in both engines — no decimal armor even needed.
    Shuffle carries |types|·|days| rows; the fit itself is O(|types|).
    Single-day series get NULL slope/R² (nullif-guarded denominator),
    not a crash.
    """
    e = load_table(spark, sf_dir, "events")
    days = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))
    d0 = days.agg(F.min("d").alias("d0"))
    xy = days.crossJoin(F.broadcast(d0)).select(
        "event_type", F.datediff("d", "d0").alias("x"), "y"
    )
    s = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (
        F.col("n"), F.col("sx"), F.col("sxx"),
        F.col("sy"), F.col("syy"), F.col("sxy"),
    )
    num = (n * sxy - sx * sy).cast("double")
    den = F.nullif((n * sxx - sx * sx), F.lit(0))
    slope = num / den
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            num * num
            / F.nullif(
                (n * sxx - sx * sx).cast("double")
                * (n * syy - sy * sy).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("r2"),
    ).orderBy("event_type")


@query(
    "q_anomaly_mad",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       round(0.6745 * (e.value - m.med) / nullif(d.mad, 0), 6) AS robust_z
FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
WHERE abs(0.6745 * (e.value - m.med) / nullif(d.mad, 0)) > 3.5
ORDER BY e.event_id
""",
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation (B71's
    heavy-tail-safe sibling): the modified z-score
    0.6745·(x − median)/MAD with the standard 3.5 cutoff
    (Iglewicz–Hoaglin) — the monitoring primitive to reach for when the
    metric itself has outliers, which inflate q_anomaly's mean/σ and
    mask exactly the points being hunted (masking breakdown at ~10%
    contamination vs 50% for MAD).

    Shape: two |types|-row stats frames (median, then MAD of residuals
    against the broadcast median), each an exact interpolated
    percentile (the q_agg_quantile cross-engine contract), broadcast
    back; the flag pass is map-only and every double op is the same
    IEEE sequence in both engines, so the strict |rz| > 3.5 filter
    agrees bit-for-bit. The stream is scanned three times but shuffled
    never; exact per-group percentiles assume bounded group cardinality
    — the unbounded swap is percentile_approx, as documented on
    q_winsorize.
    """
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    rz = (
        F.lit(0.6745)
        * (F.col("value") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0))
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .withColumn("robust_z_raw", rz)
        .filter(F.abs(F.col("robust_z_raw")) > 3.5)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("robust_z_raw", 6).alias("robust_z"),
        )
        .orderBy("event_id")
    )


@query(
    "q_ts_interpolate",
    oracle="""
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS v
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM agg GROUP BY 1
),
spine AS (
  SELECT user_id,
         unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM spans
),
g AS (
  SELECT s.user_id, s.bucket, a.v,
    CAST(epoch(s.bucket) AS BIGINT) AS h,
    last_value(a.v IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.bucket
            ROWS UNBOUNDED PRECEDING) AS pv,
    last_value(CASE WHEN a.v IS NOT NULL
                    THEN CAST(epoch(s.bucket) AS BIGINT) END IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.bucket
            ROWS UNBOUNDED PRECEDING) AS ph,
    last_value(a.v IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.bucket DESC
            ROWS UNBOUNDED PRECEDING) AS nv,
    last_value(CASE WHEN a.v IS NOT NULL
                    THEN CAST(epoch(s.bucket) AS BIGINT) END IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.bucket DESC
            ROWS UNBOUNDED PRECEDING) AS nh
  FROM spine s
  LEFT JOIN agg a ON s.user_id = a.user_id AND s.bucket = a.bucket
)
SELECT user_id, bucket,
  v IS NULL AS interpolated,
  CAST(floor(CASE
    WHEN v IS NOT NULL THEN v
    WHEN pv IS NULL THEN nv
    WHEN nv IS NULL THEN pv
    ELSE pv + (nv - pv) * (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
  END * 1e6) AS BIGINT) AS v_interp_micro
FROM g
ORDER BY user_id, bucket
""",
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the resampled grid (B68's second
    fill strategy): gap buckets get the time-weighted line between
    their nearest known neighbors — what forward-fill (q_ts_resample)
    gets wrong for any metric that trends within the gap; edges fall
    back to nearest-known.

    Same aggregate-first shape as the resample: one pass over raw
    events to the (user, hour) grid, spine from the aggregated spans,
    then FOUR ignorenulls windows on one (user, bucket) ordering — two
    backward (last known value/position) and two forward — all in the
    same window exchange, so the grid shuffles once. The interpolation
    weight is an integer epoch-second ratio divided in double; every
    arithmetic step is the identical IEEE sequence in both engines,
    and the output is floor-micro-units — interpolated rationals of
    6dp endpoints sit exactly on 6dp rounding ties, where the engines'
    round() implementations legally differ by 1 ulp; floor of the
    bit-identical double is tie-free (the IVF micro-unit discipline).
    """
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "v"
        )
    )
    spine = (
        agg.groupBy("user_id")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("b0", "b1", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    g = spine.join(agg, ["user_id", "bucket"], "left").withColumn(
        "h", F.unix_timestamp("bucket")
    )
    back = W.partitionBy("user_id").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, 0
    )
    # The forward lookups run as DESCENDING running frames, not
    # [current, unbounded following]: Spark's WindowExec re-evaluates a
    # shrinking frame's aggregate from scratch per row — O(span^2) per
    # user, measured 15s vs 1.5s at sf0.1 — while a running frame in
    # either direction updates incrementally in O(span).
    fwd = W.partitionBy("user_id").orderBy(F.col("bucket").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    known_h = F.when(F.col("v").isNotNull(), F.col("h"))
    g = (
        g.withColumn("pv", F.last("v", ignorenulls=True).over(back))
        .withColumn("ph", F.last(known_h, ignorenulls=True).over(back))
        .withColumn("nv", F.last("v", ignorenulls=True).over(fwd))
        .withColumn("nh", F.last(known_h, ignorenulls=True).over(fwd))
    )
    ratio = (F.col("h") - F.col("ph")).cast("double") / (
        F.col("nh") - F.col("ph")
    ).cast("double")
    v_interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * ratio)
    )
    # floor-micro-units, NOT round(6): interpolated values are small
    # rationals of 6dp endpoints, which land exactly on 6dp rounding
    # ties where Spark (HALF_UP via BigDecimal on the exact binary) and
    # DuckDB (scale-multiply in double) legally disagree by 1 ulp;
    # floor of the bit-identical double is tie-free in both engines
    # (the IVF micro-unit-grid discipline).
    return g.select(
        "user_id",
        "bucket",
        F.col("v").isNull().alias("interpolated"),
        F.floor(v_interp * 1e6).cast("long").alias("v_interp_micro"),
    ).orderBy("user_id", "bucket")


_FW_CLICK_S = 3600       # click must land within 1h of the first view
_FW_PURCHASE_S = 86400   # purchase within 24h of that click


@query(
    "q_funnel_windowed",
    oracle=f"""
WITH v AS (
  SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND CAST(floor(epoch(e.ts)) AS BIGINT) > v.t_view
    AND CAST(floor(epoch(e.ts)) AS BIGINT) <= v.t_view + {_FW_CLICK_S}
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND CAST(floor(epoch(e.ts)) AS BIGINT) > c.t_click
    AND CAST(floor(epoch(e.ts)) AS BIGINT) <= c.t_click + {_FW_PURCHASE_S}
  GROUP BY e.user_id
)
SELECT
  (SELECT count(*) FROM v) AS n_viewed,
  (SELECT count(*) FROM c) AS n_clicked_in_window,
  (SELECT count(*) FROM p) AS n_purchased_in_window
""",
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED funnel (B70 family, third member): view → click
    within 1 hour → purchase within 24 hours of that click. The
    unbounded funnel (q_funnel) answers "did they ever convert";
    attribution and campaign analysis need "did they convert BECAUSE
    of it" — which is a window on each step, the conversion-window
    semantics every ads/attribution system uses.

    Stage frames reduce to one row per qualifying user BEFORE the next
    stage's scan joins them (broadcast at drop scale, key-join at
    100 TB) — the q_funnel_time shape chained once more; integer epoch
    seconds end-to-end, so every window comparison is exact in both
    engines. Strict '>' on step order: a click in the same second as
    the view does not count as following it, identically left out in
    both engines.
    """
    e = load_table(spark, sf_dir, "events").withColumn(
        "t", F.floor(F.unix_timestamp("ts")).cast("long")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(
            (F.col("t") > F.col("t_view"))
            & (F.col("t") <= F.col("t_view") + _FW_CLICK_S)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(
            (F.col("t") > F.col("t_click"))
            & (F.col("t") <= F.col("t_click") + _FW_PURCHASE_S)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_in_window")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_in_window")))
    )


@query(
    "q_events_markov",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('second', ts), event_id
         ) AS next_type
  FROM events
),
trans AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM trans GROUP BY 1
)
SELECT t.from_type, t.to_type, t.n AS n_trans,
       round(t.n * 1.0 / tot.n_from, 6) AS p
FROM trans t JOIN tot USING (from_type)
ORDER BY from_type, to_type
""",
)
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the behavioral model
    behind next-action prediction, bot detection (degenerate
    transition loops), and funnel design (which step actually follows
    which). The funnel family asks about ONE prescribed path; this
    reports the whole empirical transition structure.

    One window pass (lead over the same (user, time, id) ordering the
    sessionizer uses — event_id tiebreak keeps both engines identical
    at same-second events), then a two-phase count to the |types|²
    transition grid. At 100 TB: one shuffle on user_id for the
    sequence, one O(types²) aggregate; probabilities are exact
    count ratios in one IEEE division.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", "ts"), "event_id"
    )
    ordered = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    trans = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = trans.groupBy("from_type").agg(F.sum("n_trans").alias("n_from"))
    return (
        trans.join(tot, "from_type")
        .select(
            "from_type",
            "to_type",
            "n_trans",
            F.round(F.col("n_trans") * 1.0 / F.col("n_from"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "q_events_pmi",
    oracle="""
WITH u AS (
  SELECT DISTINCT user_id, event_type FROM events
),
tot AS (SELECT count(DISTINCT user_id) AS nu FROM events),
m AS (SELECT event_type, count(*) AS n FROM u GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM u a JOIN u b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_both, ma.n AS n_a, mb.n AS n_b,
  round(p.n_both * 1.0 * tot.nu / (ma.n * mb.n), 6) AS lift,
  round(ln(p.n_both * 1.0 * tot.nu / (ma.n * mb.n)), 9) AS pmi
FROM pairs p
JOIN m ma ON ma.event_type = p.type_a
JOIN m mb ON mb.event_type = p.type_b
CROSS JOIN tot
ORDER BY type_a, type_b
""",
)
def q_events_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types at USER
    granularity: does doing A make a user more likely to also do B
    than chance (PMI > 0 / lift > 1)? — the association-mining
    normalization q_copurchase's raw pair counts lack (frequent types
    co-occur by volume alone; PMI divides the marginals out).

    Shape: distinct (user, type) first (stream → users × types rows),
    the pair join is per-user over ≤ |types| rows each (bounded
    fan-out, never a hot key), and marginals/total are tiny broadcast
    frames. lift is one exact count-ratio IEEE expression; pmi is its
    9dp-rounded ln (the unigram contract — here a per-row scalar, so
    rounding only pins the engines' last-ulp ln difference).
    """
    e = load_table(spark, sf_dir, "events")
    u = e.select("user_id", "event_type").distinct()
    tot = e.agg(F.countDistinct("user_id").alias("nu"))
    marg = u.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = u.select("user_id", F.col("event_type").alias("type_a"))
    b = u.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = marg.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    ratio = (
        F.col("n_both") * 1.0 * F.col("nu") / (F.col("n_a") * F.col("n_b"))
    )
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(ratio, 6).alias("lift"),
            F.round(F.log(ratio), 9).alias("pmi"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_ts_interarrival",
    oracle="""
WITH seq AS (
  SELECT o.o_custkey, c.c_mktsegment,
         CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS t,
         lag(CAST(floor(epoch(o.o_orderdate)) AS BIGINT)) OVER (
           PARTITION BY o.o_custkey ORDER BY o.o_orderdate, o.o_orderkey
         ) AS prev_t
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
gaps AS (
  SELECT c_mktsegment, (t - prev_t) / 86400.0 AS gap_days
  FROM seq WHERE prev_t IS NOT NULL
)
SELECT c_mktsegment,
  count(*) AS n_gaps,
  round(CAST(sum(CAST(gap_days AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
    AS mean_gap_days,
  round(quantile_cont(gap_days, 0.5), 6) AS median_gap_days,
  round(quantile_cont(gap_days, 0.9), 6) AS p90_gap_days
FROM gaps GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q_ts_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival (repurchase-gap) analysis per market segment: the
    distribution of days between a customer's consecutive orders — the
    retention/reorder-cycle metric behind "when is this customer
    overdue" alerts and subscription-cadence design (the event-stream
    sibling is B86's session gap; this is the BUSINESS-cycle gap over
    orders).

    One lag() window on the (customer, date, orderkey) ordering — the
    per-customer sort the sessionizer already rides — then a per-
    segment rollup: decimal-armored mean, exact interpolated
    percentiles (q_agg_quantile contract). Gaps are exact integer
    epoch-second differences divided by one double constant, so every
    derived stat is the identical IEEE sequence in both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t = F.floor(F.unix_timestamp("o_orderdate")).cast("long")
    seq = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "o_custkey",
            "c_mktsegment",
            "o_orderdate",
            "o_orderkey",
            t.alias("t"),
        )
        .withColumn("prev_t", F.lag("t").over(w))
    )
    gaps = seq.filter(F.col("prev_t").isNotNull()).select(
        "c_mktsegment",
        ((F.col("t") - F.col("prev_t")) / 86400.0).alias("gap_days"),
    )
    return (
        gaps.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum(F.col("gap_days").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_gap_days"),
            F.round(F.percentile("gap_days", F.lit(0.5)), 6).alias(
                "median_gap_days"
            ),
            F.round(F.percentile("gap_days", F.lit(0.9)), 6).alias(
                "p90_gap_days"
            ),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_ts_seasonality",
    # Chi-square against uniform with exact ingredients: observed
    # counts are integers, expected = n/7 is one exact-ratio IEEE
    # division, and the statistic sums 7 identical-IEEE terms through
    # the 12dp-round + DECIMAL discipline (order-free).
    oracle="""
WITH d0 AS (
  SELECT event_type, isodow(ts) - 1 AS dow, count(*) AS obs
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT et.event_type, CAST(r.range AS INTEGER) AS dow
  FROM (SELECT DISTINCT event_type FROM events) et CROSS JOIN range(7) r
),
d AS (
  SELECT g.event_type, g.dow, COALESCE(d0.obs, 0) AS obs
  FROM g LEFT JOIN d0 USING (event_type, dow)
),
t AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS n FROM d GROUP BY 1)
SELECT d.event_type, t.n AS n_events,
  CAST(sum(CASE WHEN obs > 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_days_active,
  round(CAST(sum(CAST(round(
      (obs - t.n / 7.0) * (obs - t.n / 7.0) / (t.n / 7.0), 12)
      AS DECIMAL(28,12))) AS DOUBLE), 6) AS chi2,
  round(CAST(sum(CAST(round(
      (obs - t.n / 7.0) * (obs - t.n / 7.0) / (t.n / 7.0), 12)
      AS DECIMAL(28,12))) AS DOUBLE), 6) > 12.59 AS weekly_pattern
FROM d JOIN t USING (event_type)
GROUP BY d.event_type, t.n
ORDER BY d.event_type
""",
)
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality test per event type: chi-square of the
    day-of-week profile against uniform, with the 6-degree-of-freedom
    95% critical value (12.59) as the "this metric has a weekly cycle"
    flag — the pre-flight that decides whether monitoring baselines
    (q_anomaly, q_agg_trend) must be day-of-week-conditioned or flat.

    One pass to (type, dow) counts (map-side combinable, ≤ 7·|types|
    rows out), LEFT-joined onto the full 0..6 day-of-week grid (the
    q_profile_drift grid pattern) so weekdays with ZERO events still
    contribute their (0 − n/7)²/(n/7) term — summing only observed
    cells understates chi2 against the 6-df critical value. The
    statistic is exact integer counts against one exact-ratio
    expectation, with the 12dp-round + DECIMAL sum making the 7-term
    sum order-free (the PSI discipline). Day-of-week numbering aligned
    across engines (Spark weekday ≡ isodow − 1).
    """
    e = load_table(spark, sf_dir, "events")
    d0 = e.groupBy(
        "event_type", F.weekday("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("obs"))
    # full |types|×7 grid — dim-sized, broadcasts at any scale
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(spark.range(7).select(F.col("id").cast("int").alias("dow")))
    )
    d = grid.join(d0, ["event_type", "dow"], "left").withColumn(
        "obs", F.coalesce("obs", F.lit(0))
    )
    t = d.groupBy("event_type").agg(F.sum("obs").alias("n"))
    exp = F.col("n") / 7.0
    term = F.round(
        (F.col("obs") - exp) * (F.col("obs") - exp) / exp, 12
    ).cast("decimal(28,12)")
    chi2 = F.round(F.sum(term).cast("double"), 6)
    return (
        d.join(t, "event_type")
        .groupBy("event_type", F.col("n").alias("n_events"))
        .agg(
            F.sum(F.when(F.col("obs") > 0, 1).otherwise(0))
            .cast("int")
            .alias("n_days_active"),
            chi2.alias("chi2"),
            (chi2 > 12.59).alias("weekly_pattern"),
        )
        .orderBy("event_type")
    )


# -- EWMA smoothing ---------------------------------------------------------

# Exact negative powers of (1 - alpha) for alpha = 0.3: each literal is a
# finite decimal, so both engines parse the IDENTICAL nearest-double — the
# weights never go through pow()/exp() (libm ulp territory).
_EWMA_WEIGHTS = (1.0, 0.7, 0.49, 0.343, 0.2401, 0.16807, 0.117649, 0.0823543)


def _ewma_exprs(at: str, sz: str) -> tuple[str, str]:
    """Numerator/denominator as one left-associated chain each — the
    identical-IEEE-expression-text discipline (q_anomaly's): both
    engines evaluate the same additions in the same order on the same
    doubles, so the quotient hash-matches with no rounding."""
    num = " + ".join(
        f"coalesce({at.format(i=i + 1)}, 0.0) * {w!r}"
        for i, w in enumerate(_EWMA_WEIGHTS)
    )
    den = " + ".join(
        f"(CASE WHEN {sz} > {i} THEN {w!r} ELSE 0.0 END)"
        for i, w in enumerate(_EWMA_WEIGHTS)
    )
    return num, den


_EWMA_SPARK_NUM, _EWMA_SPARK_DEN = _ewma_exprs(
    "try_element_at(arr, -{i})", "size(arr)"
)
_EWMA_DUCK_NUM, _EWMA_DUCK_DEN = _ewma_exprs("arr[-{i}]", "len(arr)")


@query(
    "q_ts_ewma",
    oracle=f"""
WITH w AS (
  SELECT event_type, event_id, ts, value,
         list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
  FROM events
)
SELECT event_type, event_id, ts, value,
       CAST(len(arr) AS INTEGER) AS n_window,
       ({_EWMA_DUCK_NUM}) / ({_EWMA_DUCK_DEN}) AS ewma
FROM w
""",
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per event-type stream
    (alpha = 0.3, trailing-8 truncation, renormalized weights) — the
    smoothing baseline monitoring dashboards draw and alerting compares
    against (q_anomaly flags against a global sigma; EWMA tracks the
    LOCAL level so a slow drift doesn't hide a step change).

    Shape: ONE (event_type, ts, event_id) ordered window produces the
    trailing-value array; the weighted fold is row-local codegen over
    at most 8 elements. The truncated-window form (vs the classic
    recursive EWMA) is deliberate: the recursion is order-serial and
    unwindowable, while truncation at 8 terms (weight < 0.06 beyond
    that) makes it a bounded ROWS frame — shuffle once on the series
    key, O(1) state per row, any-scale. Determinism: weights are exact
    finite-decimal literals (never pow()), and numerator/denominator
    are single left-associated chains evaluated identically in both
    engines — raw-double hash equality, no rounding absorber.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("ewma_events")
    return spark.sql(
        f"""
WITH w AS (
  SELECT event_type, event_id, ts, value,
         collect_list(value) OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
           AS arr
  FROM ewma_events
)
SELECT event_type, event_id, ts, value,
       CAST(size(arr) AS INTEGER) AS n_window,
       ({_EWMA_SPARK_NUM}) / ({_EWMA_SPARK_DEN}) AS ewma
FROM w
"""
    )


@query(
    "q_ts_crosscorr",
    # Integer daily counts on a dense day spine -> exact BIGINT power
    # sums -> one identical IEEE closed form per lag (the q_agg_trend
    # discipline); zero-days enter via the spine so the series are
    # properly aligned.
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS x
  FROM spine s LEFT JOIN d ON d.day = s.day AND d.event_type = 'view'
),
y AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s LEFT JOIN d ON d.day = s.day AND d.event_type = 'purchase'
),
lags AS (SELECT unnest([0, 1, 2, 3]) AS lag),
pairs AS (
  SELECT l.lag, x.x, y.y
  FROM lags l
  CROSS JOIN x
  JOIN y ON y.day = x.day + l.lag * INTERVAL 1 DAY
),
s AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS xcorr
FROM s ORDER BY lag
""",
)
def q_ts_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event-type daily series
    (does a 'view' spike predict a 'purchase' spike L days later?) at
    lags 0-3 — the lead-lag detector behind attribution windows and
    leading-indicator dashboards (q_agg_trend fits one series; this
    relates two).

    Shape: one pass reduces events to (type, day) counts; both series
    densify on the shared day spine (zero days matter — missing them
    inflates correlation); each lag is then a dim-sized join over
    |days| rows and the Pearson statistic is exact BIGINT power sums
    pushed through one identical IEEE closed form per lag (q_agg_trend
    discipline — no streaming corr builtin, whose merge order is
    engine-dependent). Everything after the first aggregate touches
    O(days·lags) rows regardless of event volume.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("xcorr_events")
    return spark.sql(
        """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
  FROM xcorr_events GROUP BY 1, 2
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (
  SELECT explode(sequence(d0, d1, INTERVAL 1 DAY)) AS day FROM bounds
),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS x
  FROM spine s LEFT JOIN d ON d.day = s.day AND d.event_type = 'view'
),
y AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s LEFT JOIN d ON d.day = s.day AND d.event_type = 'purchase'
),
lags AS (SELECT explode(array(0, 1, 2, 3)) AS lag),
pairs AS (
  SELECT l.lag, x.x, y.y
  FROM lags l
  CROSS JOIN x
  JOIN y ON y.day = date_add(x.day, l.lag)
),
s AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, n,
       -- zero-variance lags (single-day series) have no correlation:
       -- NULL, never an ANSI division crash
       CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
             AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
            THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / sqrt((CAST(n AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                              * (CAST(n AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy)),
                       6) END AS xcorr
FROM s ORDER BY lag
"""
    )


def _spine_cte_sql(view: str, carry: str = "") -> str:
    """Render the shared daily-spine CTE prefix (per-type counts →
    bounds → dense day spine) for a Spark-side query over ``view``.
    ``carry`` adds bound columns the consumer needs on the spine (e.g.
    ", b.d0" / ", b.d1"). One definition — the four series queries
    (autocorr / theilsen / forecast / decompose) must share spine
    semantics or a fill-rule fix silently diverges between them. The
    DuckDB oracle strings stay standalone by design (the oracle must
    be independently readable), so this helper is Spark-side only.
    """
    return f"""d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM {view} GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1
),
spine AS (
  SELECT b.event_type{carry},
         explode(sequence(b.d0, b.d1, INTERVAL 1 DAY)) AS day
  FROM bounds b
)"""


@query(
    "q_ts_autocorr",
    # Same exact-arithmetic discipline as q_ts_crosscorr: dense daily
    # spine per event_type, BIGINT power sums, one identical IEEE
    # closed form per (type, lag). The oracle forms lagged pairs by a
    # day join; the Spark plan uses 7 lag() columns over ONE window —
    # equivalent on a dense spine, cheaper at scale.
    oracle="""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1
),
spine AS (
  SELECT event_type,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
filled AS (
  SELECT s.event_type, s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS x
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
pairs AS (
  SELECT a.event_type, l.lag, a.x AS x, b.x AS y
  FROM lags l
  CROSS JOIN filled a
  JOIN filled b ON b.event_type = a.event_type
               AND b.day = a.day - l.lag * INTERVAL 1 DAY
),
s AS (
  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INTEGER) AS lag, n_pairs,
       CASE WHEN n_pairs * sxx - sx * sx > 0
             AND n_pairs * syy - sy * sy > 0
            THEN round((CAST(n_pairs AS DOUBLE) * sxy
                        - CAST(sx AS DOUBLE) * sy)
                       / (sqrt(CAST(n_pairs AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                          * sqrt(CAST(n_pairs AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy)),
                       6) END AS acf
FROM s ORDER BY event_type, lag
""",
)
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each event-type's daily count series
    at lags 1-7 — the weekly-rhythm detector (a lag-7 spike says the
    series repeats weekly; q_ts_seasonality tests day-of-week shape by
    chi-square, this measures self-similarity directly, and
    q_ts_crosscorr relates TWO series where this relates a series to
    its own past).

    Shape: one pass reduces events to (type, day) counts; each type
    densifies on its own day spine (zero days matter); then ALL SEVEN
    lagged series come from lag() columns over ONE (type, day) window
    ordering — one shuffle for the whole lag fan, vs the lag-join
    fan-out the oracle uses (equivalent on a dense spine). Pairs stack
    to (type, lag, x, y) and reduce to exact BIGINT power sums pushed
    through one identical IEEE closed form (q_agg_trend discipline).
    Everything after the first aggregate is O(types · days · lags)
    regardless of event volume; constant series yield NULL acf via the
    exact-integer degeneracy guard, never a 0/0.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("acf_events")
    lag_cols = ", ".join(
        f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY day) AS l{k}"
        for k in range(1, 8)
    )
    stack_args = ", ".join(f"{k}, l{k}" for k in range(1, 8))
    return spark.sql(
        f"""
WITH {_spine_cte_sql("acf_events")},
filled AS (
  SELECT s.event_type, s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS x
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
lagged AS (
  SELECT event_type, x, {lag_cols} FROM filled
),
pairs AS (
  SELECT event_type, x, stack(7, {stack_args}) AS (lag, y) FROM lagged
),
s AS (
  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs WHERE y IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INTEGER) AS lag, n_pairs,
       CASE WHEN n_pairs * sxx - sx * sx > 0
             AND n_pairs * syy - sy * sy > 0
            THEN round((CAST(n_pairs AS DOUBLE) * sxy
                        - CAST(sx AS DOUBLE) * sy)
                       / (sqrt(CAST(n_pairs AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                          * sqrt(CAST(n_pairs AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy)),
                       6) END AS acf
FROM s ORDER BY event_type, lag
"""
    )


@query(
    "q_events_attribution",
    # All frame aggregates are integers (counts, epoch extremes); the
    # only float is credit = 1/n, one identical IEEE division rounded
    # at 6dp. RANGE frames on integer epoch keys include peers
    # identically in both engines — no tiebreak needed.
    oracle="""
WITH t AS (
  SELECT event_id, user_id, event_type,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ep
  FROM events
),
w AS (
  SELECT *,
         count(*) FILTER (WHERE event_type = 'view') OVER (
           PARTITION BY user_id ORDER BY ep
           RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS n_touches,
         max(CASE WHEN event_type = 'view' THEN ep END) OVER (
           PARTITION BY user_id ORDER BY ep
           RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS last_view_ep
  FROM t
)
SELECT event_id, user_id,
       CAST(n_touches AS BIGINT) AS n_touches,
       CASE WHEN n_touches > 0
            THEN round(1.0 / n_touches, 6) END AS credit_per_touch,
       CAST(ep - last_view_ep AS BIGINT) AS last_touch_gap_seconds,
       CASE WHEN n_touches > 0 THEN 'assisted' ELSE 'direct' END
         AS attribution
FROM w WHERE event_type = 'purchase'
""",
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase credited equally
    (1/n) across the user's views in the preceding 24h, with the
    last-touch gap and a direct/assisted verdict — the campaign-ROI
    query behind every marketing dashboard (q_funnel_windowed asks
    "did they convert in the window"; this asks "who gets paid for
    it").

    Shape: NO purchase⋈view join at all — both event kinds ride one
    (user, epoch) ordered partitioning and the touch count / last-touch
    time are conditional aggregates over a trailing 24h RANGE frame
    (q_win_range_time's machinery). One shuffle total; a user's frame
    is bounded by their own 24h activity, the same per-key bound every
    sessionizer carries. The join formulation this replaces detonates
    on exactly the hot users this caps.
    """
    e = load_table(spark, sf_dir, "events")
    ep = F.date_trunc("second", "ts").cast("long")
    t = e.select("event_id", "user_id", "event_type", ep.alias("ep"))
    w = W.partitionBy("user_id").orderBy("ep").rangeBetween(-86400, 0)
    is_view = F.col("event_type") == "view"
    out = (
        t.withColumn(
            "n_touches", F.count(F.when(is_view, 1)).over(w)
        )
        .withColumn(
            "last_view_ep", F.max(F.when(is_view, F.col("ep"))).over(w)
        )
        .filter(F.col("event_type") == "purchase")
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("n_touches").cast("long").alias("n_touches"),
        F.when(
            F.col("n_touches") > 0,
            F.round(F.lit(1.0) / F.col("n_touches"), 6),
        ).alias("credit_per_touch"),
        (F.col("ep") - F.col("last_view_ep")).cast("long").alias(
            "last_touch_gap_seconds"
        ),
        F.when(F.col("n_touches") > 0, "assisted")
        .otherwise("direct")
        .alias("attribution"),
    )


@query(
    "q_events_paths",
    # All-integer counts over exact lead() trigrams on the shared
    # (user, second-truncated time, event_id) total order; share is one
    # identical IEEE division rounded 6dp; top-k ordered by count with
    # the path string as tiebreak.
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS nxt1,
         lead(event_type, 2) OVER w AS nxt2
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id)
),
p AS (
  SELECT event_type || '>' || nxt1 || '>' || nxt2 AS path,
         count(*) AS n
  FROM s WHERE nxt2 IS NOT NULL
  GROUP BY 1
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM p)
SELECT path, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / t.total, 6) AS share
FROM p CROSS JOIN t
ORDER BY n DESC, path
LIMIT 20
""",
)
def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step behavioral paths: the top-20 most common
    consecutive event-type trigrams across user journeys — empirical
    flow discovery (q_funnel checks ONE hypothesized path; q_events_
    markov gives single-step transitions; this surfaces which
    multi-step paths actually dominate, the "users keep doing
    view>view>error" finding nobody thought to ask about).

    Shape: two lead() columns on ONE (user, time, id) ordered window
    (the q_events_markov ordering — one shuffle), then a map-side-
    combinable path count: state is |types|³ at most, corpus-size-free.
    Share is computed against the 1-row total frame. Top-20 plans as
    TakeOrderedAndProject with the path string as the deterministic
    tiebreak.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", "ts"), "event_id"
    )
    s = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("nxt1"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
    ).filter(F.col("nxt2").isNotNull())
    p = s.groupBy(
        F.concat_ws(">", "event_type", "nxt1", "nxt2").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = p.agg(F.sum("n").alias("total"))
    return (
        p.crossJoin(F.broadcast(t))
        .select(
            "path",
            "n",
            F.round(F.col("n") * 1.0 / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


@query(
    "q_orders_backlog",
    # Pure integer machinery: ±1 deltas, one date spine, one running
    # sum — no floats anywhere, so the hash is exact by construction.
    oracle="""
WITH life AS (
  SELECT o.o_orderkey,
         CAST(o.o_orderdate AS DATE) AS placed,
         CAST(max(l.l_shipdate) AS DATE) AS shipped
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
delta AS (
  SELECT placed AS day, 1 AS d FROM life
  UNION ALL
  SELECT shipped, -1 FROM life WHERE shipped > placed
),
byday AS (SELECT day, CAST(sum(d) AS BIGINT) AS net FROM delta GROUP BY day),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM byday),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       CAST(COALESCE(b.net, 0) AS BIGINT) AS net_change,
       CAST(sum(COALESCE(b.net, 0)) OVER (ORDER BY s.day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_orders
FROM spine s LEFT JOIN byday b USING (day)
ORDER BY s.day
""",
)
def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time — concurrent-interval counting: how
    many orders were placed but not yet fully shipped on each calendar
    day. THE operational WIP metric (same machinery answers concurrent
    sessions, active incidents, beds occupied), and the shape naive SQL
    gets catastrophically wrong (day × open-interval join = O(days·n)).

    The scalable form is the ±1 delta trick: each order contributes
    +1 at placement and −1 at its last ship date; one map-combinable
    per-day aggregate collapses 100 TB of orders to |days| rows, and
    the backlog is a single running sum over the dense day spine — the
    only unbounded window runs over the DAYS frame, never over orders.
    An order's life is its orderdate → max shipdate across its lines
    (the per-order aggregate is the only order-granularity shuffle).
    All-integer; same-day-shipped orders contribute nothing (placed =
    shipped collapses to zero net, matching the WHERE guard).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    life = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey", F.to_date("o_orderdate").alias("placed")
        )
        .agg(F.to_date(F.max("l_shipdate")).alias("shipped"))
    )
    delta = life.select(
        F.col("placed").alias("day"), F.lit(1).alias("d")
    ).unionAll(
        life.filter(F.col("shipped") > F.col("placed")).select(
            F.col("shipped").alias("day"), F.lit(-1).alias("d")
        )
    )
    byday = delta.groupBy("day").agg(F.sum("d").alias("net"))
    spine = byday.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    # constant partition: the spine is |days|-bounded; the key must be
    # NON-FOLDABLE (datediff(day,day)=0) — a bare lit(1) is optimized
    # away and the WindowExec no-partition warning returns
    w = (
        W.partitionBy(F.datediff("day", "day"))
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        spine.join(byday, "day", "left")
        .select("day", F.coalesce("net", F.lit(0)).alias("net_change"))
        .withColumn("open_orders", F.sum("net_change").over(w))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("net_change").cast("long").alias("net_change"),
            F.col("open_orders").cast("long").alias("open_orders"),
        )
        .orderBy("day")
    )


@query(
    "q_cohort_ltv",
    # Integer cohort/age keys (year*12+month), revenue in exact DECIMAL
    # with the double cast only at the output boundary; the cumulative
    # sum runs over the aggregated (cohort, age) frame — decimal sums
    # are order-free, so the running total is exact too.
    oracle="""
WITH first_o AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY 1
),
o AS (
  SELECT f.cohort_m,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
           AS age_months,
         o.o_custkey,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders o JOIN first_o f ON f.o_custkey = o.o_custkey
),
g AS (
  SELECT cohort_m, age_months,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
         sum(price) AS rev
  FROM o GROUP BY 1, 2
)
SELECT CAST(cohort_m AS INTEGER) AS cohort_m,
       CAST(age_months AS INTEGER) AS age_months,
       n_active,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(sum(rev) OVER (PARTITION BY cohort_m ORDER BY age_months
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cumulative_revenue
FROM g ORDER BY cohort_m, age_months
""",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: revenue per (first-order-month
    cohort, months-since-first-order), with the running cumulative —
    q_retention's money sibling and the payback-period number growth
    teams actually steer by ("cohort 2024-03 reached CAC at age 2").

    Aggregate-before-window throughout (the q_retention doctrine): the
    |customers| cohort frame joins back to orders on the customer key,
    one map-combinable rollup collapses everything to (cohort, age)
    rows, and the cumulative LTV is a running DECIMAL sum over that
    dashboard-sized frame — the unbounded window never sees an order
    row. Cohort/age are exact integer month indexes (year*12+month),
    immune to date-diff convention drift between engines.
    """
    o = load_table(spark, sf_dir, "orders")
    m = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    first_o = o.groupBy("o_custkey").agg(F.min(m).alias("cohort_m"))
    facts = o.join(first_o, "o_custkey").select(
        "cohort_m",
        (m - F.col("cohort_m")).alias("age_months"),
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    g = facts.groupBy("cohort_m", "age_months").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("price").alias("rev"),
    )
    w = (
        W.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        g.select(
            F.col("cohort_m").cast("int").alias("cohort_m"),
            F.col("age_months").cast("int").alias("age_months"),
            "n_active",
            F.col("rev").cast("double").alias("revenue"),
            F.sum("rev").over(w).cast("double").alias("cumulative_revenue"),
        )
        .orderBy("cohort_m", "age_months")
    )


@query(
    "q_ts_cusum",
    # Drift-free CUSUM: the running sum S_t is an exact INTEGER cumsum
    # (never a float running sum — DuckDB's segment-tree window
    # association vs Spark's running re-scan would drift low bits);
    # CUSUM_t = S_t − t·(total/n) is then ONE identical IEEE expression
    # per row. sd comes from integer power sums (q_agg_trend
    # discipline). 6dp rounding + day-ascending tiebreak pin the argmax
    # row across engines.
    oracle="""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
b AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
           AS day
  FROM b
),
x AS (
  SELECT s.event_type, s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS c,
         CAST(row_number() OVER (PARTITION BY s.event_type ORDER BY s.day)
              AS BIGINT) AS t,
         CAST(sum(COALESCE(d.c, 0)) OVER (PARTITION BY s.event_type
              ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS st
  FROM spine s LEFT JOIN d USING (event_type, day)
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(c * c) AS BIGINT) AS sumsq
  FROM x GROUP BY 1
),
cs AS (
  SELECT x.event_type, x.day,
         round(abs(x.st - x.t * (CAST(g.total AS DOUBLE) / g.n)), 6)
           AS abs_cusum,
         g.n, g.total, g.sumsq
  FROM x JOIN g USING (event_type)
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY abs_cusum DESC, day) AS rk
  FROM cs
)
SELECT event_type, n AS n_days,
       strftime(day, '%Y-%m-%d') AS peak_day,
       abs_cusum AS max_abs_cusum,
       round(abs_cusum / sqrt((CAST(n AS DOUBLE) * sumsq
                               - CAST(total AS DOUBLE) * total) / n), 6)
         AS cusum_stat,
       round(abs_cusum / sqrt((CAST(n AS DOUBLE) * sumsq
                               - CAST(total AS DOUBLE) * total) / n), 6)
         > 1.36 AS changepoint
FROM r WHERE rk = 1 ORDER BY event_type
""",
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event-type daily series: the
    maximum absolute cumulative deviation from the series mean, where
    it peaks, and the normalized statistic against the Kolmogorov-
    style 1.36 gate — "did this metric's LEVEL shift somewhere, and
    when" (q_agg_trend fits one slope through everything; CUSUM finds
    the break a single slope smears over; the peak day IS the best
    split point).

    Determinism is the whole design: the running sum is an exact
    INTEGER cumsum (a float running sum would drift — DuckDB windows
    associate via segment trees, Spark re-scans), and CUSUM_t =
    S_t − t·mean is one identical IEEE expression per row; sd comes
    from integer power sums. Everything after the first aggregate is
    O(days·types); the spine densifies so silent days pull the CUSUM
    like the zero-count days they are.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    spine = (
        d.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    wo = W.partitionBy("event_type").orderBy("day")
    x = (
        spine.join(d, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
        .withColumn("t", F.row_number().over(wo).cast("long"))
        .withColumn(
            "st",
            F.sum("c").over(wo.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
        )
    )
    g = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
    )
    cs = x.join(g, "event_type").select(
        "event_type",
        "day",
        F.round(
            F.abs(
                F.col("st")
                - F.col("t") * (F.col("total").cast("double") / F.col("n"))
            ),
            6,
        ).alias("abs_cusum"),
        "n",
        "total",
        "sumsq",
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.col("abs_cusum").desc(), "day")
    )
    sd = F.sqrt(
        (
            F.col("n").cast("double") * F.col("sumsq")
            - F.col("total").cast("double") * F.col("total")
        )
        / F.col("n")
    )
    # constant/single-day series have sd = 0 — no normalized statistic,
    # never an ANSI crash
    oksd = (
        F.col("n").cast("double") * F.col("sumsq")
        - F.col("total").cast("double") * F.col("total")
    ) > 0
    stat = F.when(oksd, F.round(F.col("abs_cusum") / sd, 6))
    return (
        cs.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.date_format("day", "yyyy-MM-dd").alias("peak_day"),
            F.col("abs_cusum").alias("max_abs_cusum"),
            stat.alias("cusum_stat"),
            F.when(oksd, stat > 1.36)
            .otherwise(F.lit(False))
            .alias("changepoint"),
        )
        .orderBy("event_type")
    )


@query(
    "q_session_stats",
    # Session labels from the q_sessionize contract (integer epoch
    # seconds, event_id tiebreak); per-session rollups are integers;
    # the distribution layer is exact percentiles + one-division means
    # over the |sessions| frame, rounded 6dp.
    oracle=f"""
WITH t AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
         ) AS prev_sec
  FROM events
),
f AS (
  SELECT *,
         CASE WHEN prev_sec IS NULL
                OR sec - prev_sec > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM t
),
lab AS (
  SELECT user_id, sec,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM f
),
s AS (
  SELECT user_id, session_seq,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(sec) - min(sec) AS BIGINT) AS duration_s
  FROM lab GROUP BY user_id, session_seq
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(n_events) * 1.0 / count(*), 6) AS mean_events,
       round(quantile_cont(duration_s, 0.5), 6) AS p50_duration_s,
       round(quantile_cont(duration_s, 0.9), 6) AS p90_duration_s,
       round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS bounce_rate
FROM s
""",
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-quality rollup over the sessionizer's labels: session
    count, mean events per session, duration percentiles, and bounce
    rate (single-event sessions) — the engagement dashboard header
    numbers, and the aggregate q_sessionize's row labels exist to
    feed.

    Shape: the label pass is q_sessionize verbatim (one (user, time)
    shuffle); the per-session rollup rides the SAME partitioning
    (session_seq is a function of the user partition), so no second
    raw-event shuffle; the distribution layer then runs over the
    |sessions| frame only. Percentiles are the q_agg_quantile pairing;
    everything upstream is integer epoch arithmetic.
    """
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy(sec, "event_id")
    prev = F.lag(sec).over(w)
    is_new = F.when(
        prev.isNull() | ((sec - prev) > _SESSION_GAP_S), 1
    ).otherwise(0)
    lab = e.select(
        "user_id",
        sec.alias("sec"),
        F.sum(is_new)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_seq"),
    )
    s = lab.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("sec") - F.min("sec")).alias("duration_s"),
    )
    return s.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("n_events") * 1.0 / F.count(F.lit(1)), 6).alias(
            "mean_events"
        ),
        F.round(F.expr("percentile(duration_s, 0.5)"), 6).alias(
            "p50_duration_s"
        ),
        F.round(F.expr("percentile(duration_s, 0.9)"), 6).alias(
            "p90_duration_s"
        ),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


@query(
    "q_ts_conversion_ci",
    # Wilson 95% interval per day: integer successes/trials from one
    # pass, then a single identical IEEE closed form per row (z = 1.96
    # as an exact literal; sqrt/divisions in the same textual order in
    # both engines), 6dp rounding.
    oracle="""
WITH u AS (
  SELECT CAST(ts AS DATE) AS day, user_id,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS purchased
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT day,
         CAST(sum(viewed) AS BIGINT) AS n_views,
         CAST(sum(CASE WHEN viewed = 1 AND purchased = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_purch
  FROM u GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, n_views, n_purch,
  round(n_purch * 1.0 / n_views, 6) AS rate,
  round((n_purch * 1.0 / n_views + 1.96 * 1.96 / (2.0 * n_views)
         - 1.96 * sqrt((n_purch * 1.0 / n_views)
                       * (1.0 - n_purch * 1.0 / n_views) / n_views
                       + 1.96 * 1.96 / (4.0 * n_views * n_views)))
        / (1.0 + 1.96 * 1.96 / n_views), 6) AS wilson_lo,
  round((n_purch * 1.0 / n_views + 1.96 * 1.96 / (2.0 * n_views)
         + 1.96 * sqrt((n_purch * 1.0 / n_views)
                       * (1.0 - n_purch * 1.0 / n_views) / n_views
                       + 1.96 * 1.96 / (4.0 * n_views * n_views)))
        / (1.0 + 1.96 * 1.96 / n_views), 6) AS wilson_hi
FROM d WHERE n_views > 0
ORDER BY day
""",
)
def q_ts_conversion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily user-level conversion rate (viewers who also purchased
    that day / viewers — a TRUE proportion: a success is a subset of
    its trials, unlike raw purchase/view event ratios, which exceed 1
    on purchase-heavy days and break every binomial formula) with the
    Wilson 95%
    confidence interval — the metric-engineering discipline raw ratios
    lack: a day with 2/3 conversions is NOT "66%, ship it", and the
    Wilson interval (unlike the naive ±1.96√(p̂q̂/n) Wald form) stays
    inside [0,1] and behaves at small n and extreme p̂ — which is
    exactly when dashboards mislead.

    Two map-combinable passes: (day, user) flags first — the dedup
    that makes it a proportion — then per-day integers;
    the interval is a single closed IEEE form per |days| row with
    z = 1.96 as an exact decimal literal — same expression text in
    both engines, no libm beyond sqrt (bit-exact by IEEE 754).
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy(F.to_date("ts").alias("day"), "user_id").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("viewed"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchased"),
    )
    d = u.groupBy("day").agg(
        F.sum("viewed").alias("n_views"),
        F.sum(
            F.when((F.col("viewed") == 1) & (F.col("purchased") == 1), 1)
            .otherwise(0)
        ).alias("n_purch"),
    )
    p = F.col("n_purch") * 1.0 / F.col("n_views")
    z2 = 1.96 * 1.96
    n = F.col("n_views")
    center = p + F.lit(z2) / (2.0 * n)
    margin = 1.96 * F.sqrt(p * (1.0 - p) / n + F.lit(z2) / (4.0 * n * n))
    denom = 1.0 + F.lit(z2) / n
    return (
        d.filter(F.col("n_views") > 0)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_views").cast("long").alias("n_views"),
            F.col("n_purch").cast("long").alias("n_purch"),
            F.round(p, 6).alias("rate"),
            F.round((center - margin) / denom, 6).alias("wilson_lo"),
            F.round((center + margin) / denom, 6).alias("wilson_hi"),
        )
        .orderBy("day")
    )


@query(
    "q_events_engagement",
    # All-integer distinct counts on the (user, day) reduced frame;
    # stickiness is one IEEE division rounded 6dp. The trailing-window
    # distincts join day ranges on the dense spine — |days|-sized
    # everywhere after the first reduce.
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM b
),
m AS (
  SELECT s.day,
         CAST(count(DISTINCT CASE WHEN ud.day = s.day
                                  THEN ud.user_id END) AS BIGINT) AS dau,
         CAST(count(DISTINCT CASE WHEN ud.day > s.day - 7
                                  THEN ud.user_id END) AS BIGINT) AS wau,
         CAST(count(DISTINCT ud.user_id) AS BIGINT) AS mau
  FROM spine s
  JOIN ud ON ud.day <= s.day AND ud.day > s.day - 28
  GROUP BY s.day
)
SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau, mau,
       round(dau * 1.0 / wau, 6) AS stickiness_dw,
       round(wau * 1.0 / mau, 6) AS stickiness_wm
FROM m ORDER BY day
""",
)
def q_events_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU and stickiness ratios per day — THE growth
    dashboard: distinct actives over trailing 1/7/28-day windows, and
    DAU/WAU ("of this week's users, what fraction came today") as the
    habit-strength scalar. Trailing distincts can't be pre-added
    (users repeat across days — q_window_sliding_distinct's lesson at
    calendar scale), so each day must deduplicate its own trailing
    membership.

    Scale shape: ONE map-combinable reduce to the distinct (user, day)
    frame — the only pass over raw events; the trailing windows are
    then a range join of that frame against the |days| spine with
    conditional distincts per day. The range join emits ≤ 28 rows per
    (user, day) — bounded fan-out on an already-reduced frame, NOT on
    events. At extreme user counts the mergeable swap is per-day HLL
    partials unioned over the trailing window (q_agg_hll's path; union
    of 7 or 28 day-sketches per day), with this exact form as its
    verification harness.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    spine = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1")).select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias(
            "sday"
        )
    )
    joined = spine.join(
        ud,
        (F.col("day") <= F.col("sday"))
        & (F.col("day") > F.date_sub(F.col("sday"), 28)),
    )
    m = joined.groupBy("sday").agg(
        F.countDistinct(
            F.when(F.col("day") == F.col("sday"), F.col("user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(F.col("day") > F.date_sub(F.col("sday"), 7), F.col("user_id"))
        ).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
    )
    return m.select(
        F.date_format("sday", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        "mau",
        F.round(F.col("dau") * 1.0 / F.col("wau"), 6).alias("stickiness_dw"),
        F.round(F.col("wau") * 1.0 / F.col("mau"), 6).alias("stickiness_wm"),
    ).orderBy("day")


@query(
    "q_ts_drawdown",
    # Exact integers end to end: per-event micro-units (floor of the
    # same IEEE double in both engines), BIGINT running sum, BIGINT
    # running max, integer drawdown — no float accumulates anywhere.
    oracle="""
WITH t AS (
  SELECT event_type,
         CAST(floor(value * 1000000) AS BIGINT) AS v6,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
  FROM events
),
cs AS (
  SELECT event_type, sec, event_id,
         sum(v6) OVER (PARTITION BY event_type ORDER BY sec, event_id
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
c AS (
  SELECT event_type, cum,
         max(cum) OVER (PARTITION BY event_type ORDER BY sec, event_id
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM cs
),
d AS (
  SELECT event_type, CAST(max(peak - cum) AS BIGINT) AS dd6,
         CAST(max(peak) AS BIGINT) AS peak6
  FROM c GROUP BY event_type
)
SELECT event_type,
       round(dd6 / 1000000.0, 6) AS max_drawdown,
       round(peak6 / 1000000.0, 6) AS peak_cumulative
FROM d ORDER BY event_type
""",
)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per event-type stream: the deepest
    peak-to-trough fall of the cumulative value series — the
    worst-case-regression scalar (finance's risk number, equally the
    "how far did cumulative net conversions sink mid-incident"
    number for metric streams). A running max of a running sum —
    the doubly-nested window shape none of the other window ops
    exercise.

    Both runnings ride ONE (type, time, id) ordering — a single
    shuffle; the outer max-over-running-sum composes on the same
    frame. Determinism is the drift-free CUSUM discipline taken
    further: values floor to micro-units first (identical IEEE
    doubles floor identically), so BOTH nested accumulations are
    exact BIGINT arithmetic — a float running sum under a running
    max would compound the association drift q_ts_cusum documents.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy(F.unix_timestamp("ts"), "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    v6 = F.floor(F.col("value") * 1e6).cast("long")
    # sort keys stay in the frame so the second (peak) window can reuse
    # the same ordering after the first projection
    c = e.select(
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
        F.sum(v6).over(w).alias("cum"),
    )
    w2 = (
        W.partitionBy("event_type")
        .orderBy("sec", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    c = c.withColumn("peak", F.max("cum").over(w2))
    d = c.groupBy("event_type").agg(
        F.max(F.col("peak") - F.col("cum")).alias("dd6"),
        F.max("peak").alias("peak6"),
    )
    return d.select(
        "event_type",
        F.round(F.col("dd6") / 1e6, 6).alias("max_drawdown"),
        F.round(F.col("peak6") / 1e6, 6).alias("peak_cumulative"),
    ).orderBy("event_type")


@query(
    "q_anomaly_rolling",
    # Rolling mean/std over a bounded ROWS frame with EXACT integer
    # sums: values floor to micro-units, the frame sums are BIGINT
    # (rolling float sums drift — incremental update vs segment tree),
    # and the z closed form is one identical IEEE expression per row.
    oracle="""
WITH t AS (
  SELECT event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         value,
         CAST(floor(value * 1000000) AS BIGINT) AS v6
  FROM events
),
w AS (
  SELECT event_type, event_id, sec, value, v6,
         CAST(sum(v6) OVER fr AS BIGINT) AS s6,
         CAST(sum(v6 * v6) OVER fr AS BIGINT) AS ss12,
         CAST(count(*) OVER fr AS BIGINT) AS n
  FROM t
  WINDOW fr AS (PARTITION BY event_type ORDER BY sec, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT event_type, event_id, value, n,
         CASE WHEN n >= 5 AND
                   (CAST(ss12 AS DOUBLE) / n / 1e12
                    - (CAST(s6 AS DOUBLE) / n / 1e6)
                      * (CAST(s6 AS DOUBLE) / n / 1e6)) > 0
              THEN round((value - CAST(s6 AS DOUBLE) / n / 1e6)
                   / sqrt(CAST(ss12 AS DOUBLE) / n / 1e12
                          - (CAST(s6 AS DOUBLE) / n / 1e6)
                            * (CAST(s6 AS DOUBLE) / n / 1e6)), 6)
         END AS z
  FROM w
)
SELECT event_type, event_id, value, n AS n_window, z,
       CASE WHEN z IS NULL THEN false ELSE abs(z) > 3.0 END AS flagged
FROM z
""",
)
def q_anomaly_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each value scored against the
    mean/std of its OWN trailing 20 predecessors (current row excluded
    — scoring a point against a window containing itself dilutes the
    very spike being tested) — the streaming-anomaly primitive.
    q_anomaly scores against the series' GLOBAL stats (a regime change
    poisons them forever); the rolling form adapts, at the price of a
    warm-up (n < 5 → unscored, emitted not dropped).

    Determinism: rolling mean/std over floats is the drift trap twice
    over (incremental frame updates vs DuckDB's segment trees), so
    values floor to micro-units and BOTH frame sums (Σv, Σv²) are
    exact BIGINT — v6² of |value|≤~1e3 stays ≤1e18, inside BIGINT —
    then ONE identical IEEE closed form per row. Single (type, time,
    id) ordering, bounded frame, O(1)/row state at any scale.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("sec"),
        "value",
        F.floor(F.col("value") * 1e6).cast("long").alias("v6"),
    )
    fr = (
        W.partitionBy("event_type")
        .orderBy("sec", "event_id")
        .rowsBetween(-20, -1)
    )
    w = t.select(
        "event_type",
        "event_id",
        "value",
        F.sum("v6").over(fr).alias("s6"),
        F.sum(F.col("v6") * F.col("v6")).over(fr).alias("ss12"),
        F.count(F.lit(1)).over(fr).alias("n"),
    )
    mean = F.col("s6").cast("double") / F.col("n") / 1e6
    var = F.col("ss12").cast("double") / F.col("n") / 1e12 - mean * mean
    z = F.round((F.col("value") - mean) / F.sqrt(var), 6)
    zcol = F.when((F.col("n") >= 5) & (var > 0), z)
    return w.select(
        "event_type",
        "event_id",
        "value",
        F.col("n").cast("long").alias("n_window"),
        zcol.alias("z"),
        F.when(zcol.isNull(), F.lit(False))
        .otherwise(F.abs(zcol) > 3.0)
        .alias("flagged"),
    )


@query(
    "q_ts_theilsen",
    # Pairwise slopes are exact small-integer divisions; the median is
    # the only interpolated value, rounded at 6dp (both engines use
    # linear interpolation at p*(n-1); the rounding absorbs ulp-level
    # association differences). Dense spine, same as q_ts_autocorr.
    oracle="""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1
),
spine AS (
  SELECT b.event_type, b.d0,
         unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds b
),
filled AS (
  SELECT s.event_type, s.day - s.d0 AS x,
         CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
pairs AS (
  SELECT a.event_type,
         CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
  FROM filled a
  JOIN filled b ON b.event_type = a.event_type AND b.x > a.x
),
sen AS (
  SELECT event_type, quantile_cont(slope, 0.5) AS sen_slope
  FROM pairs GROUP BY event_type
),
res AS (
  SELECT f.event_type,
         quantile_cont(f.y - s.sen_slope * f.x, 0.5) AS sen_intercept
  FROM filled f JOIN sen s ON s.event_type = f.event_type
  GROUP BY f.event_type
)
SELECT s.event_type,
       CAST((SELECT count(*) FROM filled f
             WHERE f.event_type = s.event_type) AS BIGINT) AS n_days,
       round(s.sen_slope, 6) AS sen_slope,
       round(r.sen_intercept, 6) AS sen_intercept
FROM sen s JOIN res r ON r.event_type = s.event_type
ORDER BY s.event_type
""",
)
def q_ts_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event-type daily series: slope =
    MEDIAN of all pairwise day-to-day slopes, intercept = median
    residual — the outlier-proof twin of q_agg_trend's least-squares
    fit (one spike day drags an OLS slope arbitrarily; it moves a
    median of ~n²/2 slopes not at all — 29% breakdown point).

    Scale shape: the corpus reduces to (type, day) counts FIRST, so the
    O(days²) pair fan-out — Theil-Sen's intrinsic cost — is bounded by
    the SERIES LENGTH, never event volume (400 days → 80k pairs per
    type; a decade of dailies → 6.6M, still trivial; for multi-year
    minute-grain series swap in the repeated-median variant per
    window). Pairwise slopes are exact small-integer divisions; the
    median is the single interpolated value, rounded 6dp both engines.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("sen_events")
    return spark.sql(
        f"""
WITH {_spine_cte_sql("sen_events", carry=", b.d0")},
filled AS (
  SELECT s.event_type, datediff(s.day, s.d0) AS x,
         CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
pairs AS (
  SELECT a.event_type,
         CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
  FROM filled a
  JOIN filled b ON b.event_type = a.event_type AND b.x > a.x
),
sen AS (
  SELECT event_type, percentile(slope, 0.5) AS sen_slope
  FROM pairs GROUP BY event_type
),
res AS (
  SELECT f.event_type,
         percentile(f.y - s.sen_slope * f.x, 0.5) AS sen_intercept
  FROM filled f JOIN sen s ON s.event_type = f.event_type
  GROUP BY f.event_type
),
nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM filled GROUP BY event_type
)
SELECT s.event_type, nd.n_days,
       round(s.sen_slope, 6) AS sen_slope,
       round(r.sen_intercept, 6) AS sen_intercept
FROM sen s
JOIN res r ON r.event_type = s.event_type
JOIN nd ON nd.event_type = s.event_type
ORDER BY s.event_type
"""
    )


@query(
    "q_events_outage",
    # All-integer: epoch-second lag gaps, row_number over (gap DESC,
    # ts, event_id) — unique tiebreak so both engines pick identical
    # top-5 sets even among equal gaps.
    oracle="""
WITH t AS (
  SELECT event_type, event_id,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ep
  FROM events
),
g AS (
  SELECT event_type, event_id, ep,
         ep - lag(ep) OVER (PARTITION BY event_type
                            ORDER BY ep, event_id) AS gap_s
  FROM t
),
r AS (
  SELECT event_type, gap_s,
         ep - gap_s AS gap_start_ep, ep AS gap_end_ep,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY gap_s DESC, ep, event_id) AS rn
  FROM g WHERE gap_s IS NOT NULL
)
SELECT event_type, CAST(rn AS INTEGER) AS rank,
       CAST(gap_s AS BIGINT) AS gap_seconds,
       gap_start_ep, gap_end_ep
FROM r WHERE rn <= 5
ORDER BY event_type, rank
""",
)
def q_events_outage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage report: the five LONGEST silent gaps per event-type
    stream, with their exact start/end instants — the incident query
    behind every data-freshness monitor ("when did this feed stall,
    and for how long"). q_ts_interarrival characterizes the gap
    DISTRIBUTION; this names the individual worst incidents.

    Scale shape: one (type)-partitioned window ordering produces the
    lag gaps, and the top-5 filter rides the same partition ordering —
    Spark plants a per-partition k-heap below the shuffle
    (WindowGroupLimit) for the rank pass, so map tasks forward at most
    5 candidate gaps per type. All-integer epoch arithmetic; the
    (gap DESC, ts, event_id) tiebreak makes the top set identical in
    both engines even when gaps tie. Output is O(types · 5).
    """
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        "event_type",
        "event_id",
        F.date_trunc("second", "ts").cast("long").alias("ep"),
    )
    wo = W.partitionBy("event_type").orderBy("ep", "event_id")
    g = t.select(
        "event_type",
        "event_id",
        "ep",
        (F.col("ep") - F.lag("ep").over(wo)).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    wr = W.partitionBy("event_type").orderBy(
        F.col("gap_s").desc(), "ep", "event_id"
    )
    return (
        g.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select(
            "event_type",
            F.col("rn").cast("int").alias("rank"),
            F.col("gap_s").cast("long").alias("gap_seconds"),
            (F.col("ep") - F.col("gap_s")).alias("gap_start_ep"),
            F.col("ep").alias("gap_end_ep"),
        )
        .orderBy("event_type", "rank")
    )


@query(
    "q_ts_busday",
    # Day-of-week from pure integer arithmetic ((epoch_days + 4) % 7,
    # 0=Sunday — engine-neutral; both engines' dayofweek() builtins
    # disagree on numbering conventions), revenue in exact DECIMAL.
    oracle="""
WITH t AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
r AS (
  SELECT day,
         (CAST(day - DATE '1970-01-01' AS BIGINT) + 4) % 7 AS dow,
         price
  FROM t
),
rolled AS (
  SELECT CASE WHEN dow = 6 THEN day + 2
              WHEN dow = 0 THEN day + 1
              ELSE day END AS busday,
         dow IN (0, 6) AS was_weekend,
         price
  FROM r
)
SELECT CAST(busday AS VARCHAR) AS busday,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN was_weekend THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rolled,
       round(CAST(sum(price) AS DOUBLE), 2) AS revenue
FROM rolled GROUP BY busday ORDER BY busday
""",
)
def q_ts_busday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day calendarization: weekend order revenue rolls
    forward to the next Monday and the series re-aggregates on business
    days — the settlement/accounting convention every finance pipeline
    applies before comparing dailies (a raw Monday always looks 3x a
    raw Saturday; rolled series compare like-for-like), with the rolled
    row count kept visible per day.

    Scale shape: map-only reclassification (day-of-week from PURE
    INTEGER epoch-day arithmetic — both engines' dayofweek() builtins
    disagree on 0-vs-1-based and Sunday-vs-Monday-first conventions,
    so neither is used) then ONE partial-aggregated shuffle to
    O(business days) rows with revenue in exact DECIMAL. A holiday
    calendar joins in as a broadcast dimension at the CASE — same plan.
    """
    o = load_table(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("date")
    dow = (F.datediff(day, F.lit("1970-01-01").cast("date")) + 4) % 7
    t = o.select(
        day.alias("day"),
        dow.alias("dow"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    rolled = t.select(
        F.when(F.col("dow") == 6, F.date_add("day", 2))
        .when(F.col("dow") == 0, F.date_add("day", 1))
        .otherwise(F.col("day"))
        .alias("busday"),
        F.col("dow").isin(0, 6).alias("was_weekend"),
        "price",
    )
    return (
        rolled.groupBy(F.col("busday").cast("string").alias("busday"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("was_weekend"), 1).otherwise(0))
            .cast("long")
            .alias("n_rolled"),
            F.round(F.sum("price").cast("double"), 2).alias("revenue"),
        )
        .orderBy("busday")
    )


# Allowed lifecycle transitions for the state-machine audit: the
# canonical signup -> browse -> buy loop, with 'error' reachable from
# anywhere but only recoverable into 'view'.
_SM_ALLOWED = [
    ("signup", "view"),
    ("view", "view"),
    ("view", "click"),
    ("click", "view"),
    ("click", "purchase"),
    ("purchase", "view"),
    ("signup", "error"),
    ("view", "error"),
    ("click", "error"),
    ("purchase", "error"),
    ("error", "view"),
]


@query(
    "q_events_state_machine",
    oracle=f"""
WITH t AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('second', ts), event_id) AS prev_type
  FROM events
),
allowed(f, tt) AS (
  VALUES {", ".join(f"('{a}', '{b}')" for a, b in _SM_ALLOWED)}
),
v AS (
  SELECT prev_type, event_type, user_id
  FROM t
  WHERE prev_type IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM allowed a
                    WHERE a.f = t.prev_type AND a.tt = t.event_type)
)
SELECT prev_type AS from_type, event_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_violations,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       min(user_id) AS sample_user
FROM v GROUP BY 1, 2 ORDER BY n_violations DESC, from_type, to_type
""",
)
def q_events_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-machine audit: validate every user's event stream against
    an allowed transition set and report the violating transitions
    (count, affected users, sample) — the sequence-integrity check
    behind SDK/instrumentation QA ("purchase with no preceding click",
    "activity after error without recovery"). q_events_markov measures
    transition PROBABILITIES; this enforces transition LEGALITY.

    Scale shape: one (user)-partitioned window ordering produces
    adjacent pairs (the q_win_lag shuffle); pairs reduce to a (from,
    to) count matrix — at most types² rows — BEFORE the legality
    check, so the anti-join against the broadcast allowed-set runs on
    a dimension-sized frame... except the per-user attribution
    (n_users, sample) needs user grain, so the matrix keeps (from, to,
    user) — still bounded by users × types², far below event volume.
    The allowed set is a literal VALUES dimension: broadcast, never
    shuffled.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", "ts"), "event_id"
    )
    t = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    allowed = spark.createDataFrame(
        _SM_ALLOWED, "prev_type string, event_type string"
    )
    v = t.join(F.broadcast(allowed), ["prev_type", "event_type"], "left_anti")
    return (
        v.groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_violations"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("user_id").alias("sample_user"),
        )
        .orderBy(F.col("n_violations").desc(), "from_type", "to_type")
    )


@query(
    "q_events_lifecycle",
    # Epoch-week integers (the q_win_momentum convention), all-integer
    # classification off ONE per-user window ordering; churn counts
    # only up to the last fully-observable week.
    oracle="""
WITH au AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events
),
w AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS first_week,
         lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
  FROM au
),
mx AS (SELECT max(week) AS max_week FROM au),
cls AS (
  SELECT week,
         CASE WHEN week = first_week THEN 'new'
              WHEN prev_week = week - 1 THEN 'retained'
              ELSE 'resurrected' END AS c
  FROM w
),
churn AS (
  SELECT w.week + 1 AS week, count(*) AS n_churned
  FROM w CROSS JOIN mx
  WHERE (w.next_week IS NULL OR w.next_week > w.week + 1)
    AND w.week + 1 <= mx.max_week
  GROUP BY w.week + 1
),
act AS (
  SELECT week,
         CAST(sum(CASE WHEN c = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN c = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retained,
         CAST(sum(CASE WHEN c = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_resurrected
  FROM cls GROUP BY week
)
SELECT COALESCE(a.week, ch.week) AS week,
       CAST(COALESCE(a.n_new, 0) AS BIGINT) AS n_new,
       CAST(COALESCE(a.n_retained, 0) AS BIGINT) AS n_retained,
       CAST(COALESCE(a.n_resurrected, 0) AS BIGINT) AS n_resurrected,
       CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned,
       CAST(COALESCE(a.n_new, 0) + COALESCE(a.n_retained, 0)
            + COALESCE(a.n_resurrected, 0) AS BIGINT) AS n_active
FROM act a FULL OUTER JOIN churn ch ON ch.week = a.week
ORDER BY week
""",
)
def q_events_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active user classified NEW
    (first-ever week), RETAINED (active last week too) or RESURRECTED
    (returning after a gap), plus CHURNED counts (active last week,
    absent this week) — the growth-team staple that decomposes "DAU is
    flat" into its opposing flows (q_retention follows one cohort
    forward; this accounts every week's composition).

    Scale shape: events reduce to the DISTINCT (user, week) frame
    first — users x active-weeks rows, the only event-volume-sized
    step and a partial-aggregated shuffle. Classification needs ONE
    per-user window ordering (min/lag/lead share it); weekly counts
    and the churn ledger are then dimension-sized aggregates.
    All-integer epoch-week arithmetic. Churn is only counted through
    the last fully-observable week — the final week's survivors are
    not churners yet, the classic growth-accounting edge bug.
    """
    e = load_table(spark, sf_dir, "events")
    au = (
        e.select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
        )
        .distinct()
    )
    wo = W.partitionBy("user_id").orderBy("week")
    wall = W.partitionBy("user_id")
    w = au.select(
        "user_id",
        "week",
        F.min("week").over(wall).alias("first_week"),
        F.lag("week").over(wo).alias("prev_week"),
        F.lead("week").over(wo).alias("next_week"),
    )
    mx = F.broadcast(au.agg(F.max("week").alias("max_week")))
    cls = w.select(
        "week",
        F.when(F.col("week") == F.col("first_week"), "new")
        .when(F.col("prev_week") == F.col("week") - 1, "retained")
        .otherwise("resurrected")
        .alias("c"),
    )
    act = cls.groupBy("week").agg(
        F.sum(F.when(F.col("c") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("c") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("c") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    churn = (
        w.crossJoin(mx)
        .filter(
            (F.col("next_week").isNull() | (F.col("next_week") > F.col("week") + 1))
            & (F.col("week") + 1 <= F.col("max_week"))
        )
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    nz = lambda c: F.coalesce(c, F.lit(0)).cast("long")  # noqa: E731
    return (
        act.join(churn, "week", "full")  # churn-only weeks must appear:
        # a week everyone left has zero actives but REAL churn, and
        # dropping it is how dashboards miss the cliff
        .select(
            "week",
            nz(F.col("n_new")).alias("n_new"),
            nz(F.col("n_retained")).alias("n_retained"),
            nz(F.col("n_resurrected")).alias("n_resurrected"),
            nz(F.col("n_churned")).alias("n_churned"),
            (
                nz(F.col("n_new"))
                + nz(F.col("n_retained"))
                + nz(F.col("n_resurrected"))
            ).alias("n_active"),
        )
        .orderBy("week")
    )


@query(
    "q_events_experiment",
    # Arm assignment is one md5 byte parity (retry/append-stable, the
    # q_split_hash doctrine); all counts integer; SRM chi-square and
    # the pooled two-proportion z are single closed forms.
    oracle="""
WITH u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS arm,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
s AS (
  SELECT
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS ca,
    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS cb
  FROM u
)
SELECT na, nb, ca, cb,
       round(CAST((na - nb) AS DOUBLE) * (na - nb) / (na + nb), 6)
         AS srm_chi2,
       CAST((na - nb) AS DOUBLE) * (na - nb) / (na + nb) > 3.841
         AS srm_flag,
       round(CAST(ca AS DOUBLE) / na, 6) AS conv_a,
       round(CAST(cb AS DOUBLE) / nb, 6) AS conv_b,
       CASE WHEN ca + cb > 0 AND ca + cb < na + nb
            THEN round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                       / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                              * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                              * (1.0 / na + 1.0 / nb)), 6) END AS z,
       CASE WHEN ca + cb > 0 AND ca + cb < na + nb
            THEN abs((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                     / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                            * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                            * (1.0 / na + 1.0 / nb))) > 1.96
            ELSE false END AS significant
FROM s
""",
)
def q_events_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full A/B experiment readout in one pass: deterministic 50/50
    arm assignment (md5 byte parity — retry/append-stable, the
    q_split_hash doctrine), the SAMPLE-RATIO-MISMATCH chi-square
    guardrail (a lopsided split means broken assignment and every
    downstream p-value is garbage — the check experiment platforms run
    FIRST), per-arm conversion (buyer-dominant users: more purchases
    than views — presence-of-purchase is universal in this dense
    fixture), and the pooled two-proportion z-test with an exact
    degeneracy guard (all-convert / none-convert yields NULL z, never
    an ANSI divide-by-zero). Completes the testing family: B21d means, B21f ranks,
    B68c one-proportion CI — this is the experiment-shaped composite.

    Scale shape: events reduce to one row per USER (arm + converted
    flag) in a single partial-aggregated pass — the only volume-sized
    step; the readout is one global aggregate of four integers, and
    every statistic after is a closed form on exact counts. Extending
    to per-experiment/per-metric grids adds group keys, same plan.
    """
    e = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 2),
            16,
            10,
        ).cast("int")
        % 2
    )
    u = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)),
            1,
        )
        .otherwise(0)
        .alias("conv")
    ).select(arm.alias("arm"), "conv")
    s = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ca, cb = F.col("ca").cast("double"), F.col("cb").cast("double")
    chi2 = (na - nb) * (na - nb) / (na + nb)
    # an empty arm (tiny feeds) has no rate — NULL, never an ANSI crash
    pa = F.when(na > 0, ca / na)
    pb = F.when(nb > 0, cb / nb)
    pp = (ca + cb) / (na + nb)
    degenerate = (F.col("ca") + F.col("cb") == 0) | (
        F.col("ca") + F.col("cb") == F.col("na") + F.col("nb")
    )
    z = F.when(
        ~degenerate & (na > 0) & (nb > 0),
        (pa - pb)
        / F.sqrt(pp * (1 - pp) * (F.lit(1.0) / na + F.lit(1.0) / nb)),
    )
    return s.select(
        "na",
        "nb",
        "ca",
        "cb",
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > 3.841).alias("srm_flag"),
        F.round(pa, 6).alias("conv_a"),
        F.round(pb, 6).alias("conv_b"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(z, 6))
        .alias("z"),
        F.when(degenerate, F.lit(False))
        .otherwise(F.abs(z) > 1.96)
        .alias("significant"),
    )


@query(
    "q_ts_forecast",
    # Both forecasts are lag() columns over ONE ordering; errors are
    # exact integer |differences| summed as BIGINT; the two MAEs and
    # the skill ratio are single closed forms. Holdout = last 28 days.
    oracle="""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1
),
spine AS (
  SELECT b.event_type, b.d1,
         unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds b
),
filled AS (
  SELECT s.event_type, s.day, s.d1,
         CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
lagged AS (
  SELECT event_type, day, d1, y,
         lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS f_seas,
         lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS f_naive
  FROM filled
),
ho AS (
  SELECT * FROM lagged
  WHERE day > d1 - 28 AND f_seas IS NOT NULL AND f_naive IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_eval,
       round(CAST(sum(abs(y - f_seas)) AS DOUBLE) / count(*), 6)
         AS mae_seasonal,
       round(CAST(sum(abs(y - f_naive)) AS DOUBLE) / count(*), 6)
         AS mae_naive,
       CASE WHEN sum(abs(y - f_naive)) > 0
            THEN round(CAST(sum(abs(y - f_seas)) AS DOUBLE)
                       / sum(abs(y - f_naive)), 6) END AS skill,
       sum(abs(y - f_seas)) < sum(abs(y - f_naive)) AS seasonal_wins
FROM ho GROUP BY event_type ORDER BY event_type
""",
)
def q_ts_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: seasonal-naive (same weekday last week) vs
    naive (yesterday) daily-count forecasts, scored by MAE on the last
    28 observed days per event type — the baseline every forecasting
    pipeline must beat BEFORE any model ships, and the honest skill
    metric (seasonal/naive MAE ratio < 1 ⇒ the weekly rhythm is real,
    corroborating q_ts_autocorr's lag-7 and q_ts_seasonality's
    chi-square from the FORECASTING side).

    Scale shape: aggregate-first to the dense (type, day) grid, then
    BOTH forecasts are lag() columns over ONE window ordering (no
    joins, no second shuffle), errors are exact integer absolute
    differences summed as BIGINT, and the two MAEs + skill ratio are
    closed forms per type. Cost after the first aggregate is
    O(types · days); the zero-denominator case (perfect naive) yields
    NULL skill via an exact-integer guard.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("fc_events")
    return spark.sql(
        f"""
WITH {_spine_cte_sql("fc_events", carry=", b.d1")},
filled AS (
  SELECT s.event_type, s.day, s.d1,
         CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
lagged AS (
  SELECT event_type, day, d1, y,
         lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS f_seas,
         lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS f_naive
  FROM filled
),
ho AS (
  SELECT * FROM lagged
  WHERE day > date_sub(d1, 28) AND f_seas IS NOT NULL
    AND f_naive IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_eval,
       round(CAST(sum(abs(y - f_seas)) AS DOUBLE) / count(*), 6)
         AS mae_seasonal,
       round(CAST(sum(abs(y - f_naive)) AS DOUBLE) / count(*), 6)
         AS mae_naive,
       CASE WHEN sum(abs(y - f_naive)) > 0
            THEN round(CAST(sum(abs(y - f_seas)) AS DOUBLE)
                       / sum(abs(y - f_naive)), 6) END AS skill,
       sum(abs(y - f_seas)) < sum(abs(y - f_naive)) AS seasonal_wins
FROM ho GROUP BY event_type ORDER BY event_type
"""
    )




@query(
    "q_ts_survival",
    # The product-limit estimator is a cumulative PRODUCT — expressed
    # as exp(Σ ln(factor)) with each ln rounded to 9dp and summed in
    # DECIMAL (the q_text_unigram_ppl ln-contract), so the shuffled
    # sum is order-free and both engines recover the same decimal.
    # A day where everyone at risk churns (factor 0) poisons ln: the
    # exact-integer d=n flag zeroes survival from there on instead.
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST(floor(epoch(min(ts)) / 86400) AS BIGINT) AS d0,
         CAST(floor(epoch(max(ts)) / 86400) AS BIGINT) AS d1,
         CAST(floor(epoch(min(CASE WHEN event_type = 'purchase' THEN ts
                                   END)) / 86400) AS BIGINT) AS dp
  FROM events GROUP BY user_id
),
uu AS (
  SELECT CASE WHEN dp IS NULL THEN d1 - d0 ELSE dp - d0 END AS dur,
         CASE WHEN dp IS NULL THEN 1 ELSE 0 END AS censored
  FROM u
),
g AS (
  SELECT dur,
         CAST(sum(1 - censored) AS BIGINT) AS d,
         CAST(sum(censored) AS BIGINT) AS c
  FROM uu GROUP BY dur
),
r AS (
  SELECT dur, d, c,
         (SELECT CAST(count(*) AS BIGINT) FROM uu) 
           - CAST(COALESCE(sum(d + c) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_risk
  FROM g
),
k AS (
  SELECT dur, d, c, n_risk,
         CASE WHEN d < n_risk
              THEN CAST(round(ln(1 - CAST(d AS DOUBLE) / n_risk), 9)
                        AS DECIMAL(28,12)) END AS lnf,
         max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY dur) AS dead
  FROM r
)
SELECT dur AS t_days, n_risk, d AS n_churned, c AS n_censored,
       CASE WHEN dead = 1 THEN 0.0
            ELSE round(exp(CAST(sum(lnf) OVER (ORDER BY dur) AS DOUBLE)),
                       6) END AS survival
FROM k WHERE d > 0
ORDER BY t_days
""",
)
def q_ts_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve of time-to-first-purchase (days from a
    user's first activity to their first purchase), CENSORING the
    users who never purchased at their last observed day — the
    conversion-delay analysis behind activation funnels
    (q_events_lifecycle counts weekly flows; this estimates HOW LONG
    activation takes, handling not-yet-converted users the only
    statistically honest way: censoring, not dropping; the same
    harness is time-to-churn with (first, last) in place of
    (first, first-purchase)).

    Scale shape: events reduce to one (first, last) row per user — the
    only volume-sized pass — then risk sets, churn counts and the
    product-limit estimator all live on the O(distinct durations)
    frame under ONE ordering. The cumulative product is exp of an
    order-free DECIMAL sum of 9dp-rounded ln factors (the
    q_text_unigram_ppl ln-contract — a shuffled double product would
    drift per partition order); the d = n_risk edge (everyone at risk
    churns) zeroes survival onward via an exact-integer flag instead
    of poisoning ln(0).
    """
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    u = e.groupBy("user_id").agg(
        F.min(day).alias("d0"),
        F.max(day).alias("d1"),
        F.min(
            F.when(F.col("event_type") == "purchase", day)
        ).alias("dp"),
    )
    uu = u.select(
        F.when(F.col("dp").isNull(), F.col("d1") - F.col("d0"))
        .otherwise(F.col("dp") - F.col("d0"))
        .alias("dur"),
        F.when(F.col("dp").isNull(), 1).otherwise(0).alias("censored"),
    )
    tot = F.broadcast(uu.agg(F.count(F.lit(1)).alias("n_total")))
    g = uu.groupBy("dur").agg(
        F.sum(1 - F.col("censored")).cast("long").alias("d"),
        F.sum("censored").cast("long").alias("c"),
    )
    # constant partition: the frame is O(distinct day-granular
    # durations), horizon-bounded; bounded_part is the fold-proof key
    # (col*0 folds away on non-nullable columns — r8 verdict)
    wo = W.partitionBy(bounded_part(F.col("dur"))).orderBy("dur")
    prev = (
        W.partitionBy(bounded_part(F.col("dur")))
        .orderBy("dur")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    r = g.crossJoin(tot).select(
        "dur",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(prev), F.lit(0))
        ).cast("long").alias("n_risk"),
    )
    lnf = F.when(
        F.col("d") < F.col("n_risk"),
        F.round(
            F.log(1 - F.col("d").cast("double") / F.col("n_risk")), 9
        ).cast("decimal(28,12)"),
    )
    k = r.select(
        "dur",
        "d",
        "c",
        "n_risk",
        lnf.alias("lnf"),
        F.max(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0))
        .over(wo)
        .alias("dead"),
    )
    return (
        k.select(
            F.col("dur").alias("t_days"),
            "n_risk",
            F.col("d").alias("n_churned"),
            F.col("c").alias("n_censored"),
            F.when(F.col("dead") == 1, F.lit(0.0))
            .otherwise(
                F.round(F.exp(F.sum("lnf").over(wo).cast("double")), 6)
            )
            .alias("survival"),
            F.col("d").alias("_d"),
        )
        .filter(F.col("_d") > 0)
        .drop("_d")
        .orderBy("t_days")
    )


@query(
    "q_ts_decompose",
    # Trend = centered 7-day MA from an EXACT integer window sum
    # (sum7/7.0 is one identical IEEE division); detrended values
    # round to 9dp and sum in DECIMAL for the per-dow seasonal means
    # (the ln-contract trick applied to residuals); dow is integer
    # epoch-day arithmetic (the q_ts_busday convention).
    oracle="""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1
),
spine AS (
  SELECT b.event_type,
         unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds b
),
filled AS (
  SELECT s.event_type, s.day,
         (CAST(s.day - DATE '1970-01-01' AS BIGINT) + 4) % 7 AS dow,
         CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
ma AS (
  SELECT event_type, day, dow, y,
         CAST(sum(y) OVER w AS BIGINT) AS s7,
         count(*) OVER w AS n7
  FROM filled
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
tr AS (
  SELECT event_type, day, dow, y,
         CAST(s7 AS DOUBLE) / 7 AS trend,
         CAST(round(y - CAST(s7 AS DOUBLE) / 7, 9) AS DECIMAL(28,12))
           AS detr9
  FROM ma WHERE n7 = 7
),
seas AS (
  SELECT event_type, dow,
         CAST(sum(detr9) AS DOUBLE) / count(*) AS seasonal
  FROM tr GROUP BY 1, 2
)
SELECT t.event_type, CAST(t.day AS VARCHAR) AS day, t.y,
       round(t.trend, 6) AS trend,
       round(s.seasonal, 6) AS seasonal,
       round(t.y - t.trend - s.seasonal, 6) AS residual
FROM tr t JOIN seas s ON s.event_type = t.event_type AND s.dow = t.dow
ORDER BY t.event_type, t.day
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical decomposition of each event-type daily series into
    TREND (centered 7-day moving average) + SEASONAL (mean detrended
    value per day-of-week) + RESIDUAL — the STL-lite every metrics
    stack runs before alerting (alert on the residual, not the raw
    series, or Monday looks like an incident every week;
    q_ts_seasonality tests whether weekly shape exists, q_ts_autocorr
    measures it, this REMOVES it).

    Scale shape: aggregate-first to the dense (type, day) grid; trend
    is ONE bounded 7-row window whose sum is an EXACT integer (the
    single /7.0 is identical IEEE in both engines); the seasonal means
    sum 9dp-rounded detrended values in DECIMAL (the unigram-ppl
    contract — raw double sums drift with partition order) over the
    tiny per-(type, dow) frame; residuals are row-local arithmetic.
    Everything after the first aggregate is O(types · days). Edge days
    without a full 7-day window are excluded, not zero-padded (padding
    biases the trend at both ends).
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("dec_events")
    return spark.sql(
        f"""
WITH {_spine_cte_sql("dec_events")},
filled AS (
  SELECT s.event_type, s.day,
         (datediff(s.day, DATE '1970-01-01') + 4) % 7 AS dow,
         CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
ma AS (
  SELECT event_type, day, dow, y,
         CAST(sum(y) OVER w AS BIGINT) AS s7,
         count(*) OVER w AS n7
  FROM filled
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
tr AS (
  SELECT event_type, day, dow, y,
         CAST(s7 AS DOUBLE) / 7 AS trend,
         CAST(round(y - CAST(s7 AS DOUBLE) / 7, 9) AS DECIMAL(28,12))
           AS detr9
  FROM ma WHERE n7 = 7
),
seas AS (
  SELECT event_type, dow,
         CAST(sum(detr9) AS DOUBLE) / count(*) AS seasonal
  FROM tr GROUP BY 1, 2
)
SELECT t.event_type, CAST(t.day AS STRING) AS day, t.y,
       round(t.trend, 6) AS trend,
       round(s.seasonal, 6) AS seasonal,
       round(t.y - t.trend - s.seasonal, 6) AS residual
FROM tr t JOIN seas s ON s.event_type = t.event_type AND s.dow = t.dow
ORDER BY t.event_type, t.day
"""
    )


_MKV_SCALE = 10**6   # probability micro-units (the pagerank device)
_MKV_ITERS = 8       # fixed, bounded power iterations


def _mkv_iter_sql(it: int, prev: int) -> str:
    return f"""
v{it} AS (
  SELECT p.tt AS t, CAST(sum(v{prev}.m * p.pm // {_MKV_SCALE}) AS BIGINT) AS m
  FROM p JOIN v{prev} ON v{prev}.t = p.f
  GROUP BY p.tt
)"""


def _markov_stationary_oracle() -> str:
    iters = ",".join(
        _mkv_iter_sql(i, i - 1) for i in range(1, _MKV_ITERS + 1)
    )
    return f"""
WITH t AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('second', ts), event_id) AS nxt
  FROM events
),
c AS (
  SELECT event_type AS f, nxt AS tt, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2
),
rt AS (SELECT f, sum(n) AS tot FROM c GROUP BY f),
p AS (
  SELECT c.f, c.tt, CAST(c.n * {_MKV_SCALE} // rt.tot AS BIGINT) AS pm
  FROM c JOIN rt USING (f)
),
types AS (SELECT DISTINCT f AS t FROM c),
k AS (SELECT count(*) AS nt FROM types),
v0 AS (
  SELECT t, CAST({_MKV_SCALE} // (SELECT nt FROM k) AS BIGINT) AS m
  FROM types
),
{iters}
SELECT t AS event_type,
       CAST(m AS BIGINT) AS stationary_micro,
       round(CAST(m AS DOUBLE) / {_MKV_SCALE}, 6) AS stationary_prob
FROM v{_MKV_ITERS} ORDER BY stationary_micro DESC, event_type
"""


@query("q_events_markov_stationary", oracle=_markov_stationary_oracle())
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where
    user behavior settles in the long run (q_events_markov reports the
    one-step transition structure; its leading eigenvector is the
    steady-state mix, the number capacity planning and content-mix
    decisions actually want). Computed by {iters} fixed power
    iterations in INTEGER micro-units — the q_graph_pagerank
    determinism device: float iteration would accumulate
    partition-order drift, and floor-division micro-units make every
    round exactly reproducible in both engines (the ~1e-6-per-round
    floor leakage is reported honestly via the raw micro mass).

    Scale shape: the data-sized work is ONE window pass + the |types|²
    transition count (q_events_markov's plan); the iteration then
    lives entirely on a types-sized frame — each round one tiny
    join+agg, {iters} rounds, nothing iterates over event volume.
    Convergence is geometric in the chain's mixing rate; {iters}
    rounds pin 6 decimal places on this ergodic 5-state chain.
    """
    e = load_table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", "ts"), "event_id"
    )
    t = e.select(
        "event_type", F.lead("event_type").over(wo).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = t.groupBy(
        F.col("event_type").alias("f"), F.col("nxt").alias("tt")
    ).agg(F.count(F.lit(1)).alias("n"))
    rt = c.groupBy("f").agg(F.sum("n").alias("tot"))
    p = (
        c.join(rt, "f")
        .select(
            "f",
            "tt",
            F.expr(f"CAST(n * {_MKV_SCALE} div tot AS BIGINT)").alias("pm"),
        )
        .localCheckpoint()  # tiny; feeds every iteration round
    )
    types = p.select(F.col("f").alias("t")).distinct()
    nt = types.count()  # one driver scalar (types count), sanctioned O(1)
    if nt == 0:  # empty input: no chain, empty (typed) result
        return spark.createDataFrame(
            [], "event_type string, stationary_micro long,"
                " stationary_prob double"
        )
    v = types.select(
        "t", F.lit(_MKV_SCALE // nt).cast("long").alias("m")
    ).localCheckpoint()
    for _ in range(_MKV_ITERS):
        v = (
            p.join(v, p.f == v.t)
            .select(
                F.col("tt").alias("t2"),
                F.expr(f"m * pm div {_MKV_SCALE}").alias("contrib"),
            )
            .groupBy(F.col("t2").alias("t"))
            .agg(F.sum("contrib").cast("long").alias("m"))
            .localCheckpoint()  # truncate lineage per round
        )
    return v.select(
        F.col("t").alias("event_type"),
        F.col("m").alias("stationary_micro"),
        F.round(F.col("m").cast("double") / _MKV_SCALE, 6).alias(
            "stationary_prob"
        ),
    ).orderBy(F.col("stationary_micro").desc(), "event_type")


q_events_markov_stationary.__doc__ = (
    q_events_markov_stationary.__doc__.format(iters=_MKV_ITERS)
)


@query(
    "q_events_cuped",
    # Everything from exact BIGINT power sums over per-user pre/post
    # counts: theta = cov(x,y)/var(x), var(y_adj) = var(y) -
    # cov^2/var(x), arm-adjusted means via per-arm sums — identical
    # IEEE closed forms; the period boundary is the exact integer
    # epoch midpoint and arms are md5 parity (q_events_experiment).
    oracle="""
WITH b AS (
  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
          + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid
  FROM events
),
u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS arm,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                            <= (SELECT mid FROM b)
                       THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                            > (SELECT mid FROM b)
                       THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
         CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sya,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
         CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS syb
  FROM u
),
d AS (
  SELECT *,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS theta,
         (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * n) AS var_y,
         (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           / (CAST(n AS DOUBLE) * n) AS var_x,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * n) AS cov_xy
  FROM s WHERE n * sxx - sx * sx > 0
)
SELECT n, round(theta, 6) AS theta,
       round(var_y, 6) AS var_y,
       round(var_y - cov_xy * cov_xy / var_x, 6) AS var_y_adj,
       round((cov_xy * cov_xy / var_x) / var_y, 6) AS var_reduction,
       CASE WHEN na > 0
            THEN round((CAST(sya AS DOUBLE) / na)
                       - theta * (CAST(sxa AS DOUBLE) / na
                                  - CAST(sx AS DOUBLE) / n), 6)
       END AS adj_mean_a,
       CASE WHEN nb > 0
            THEN round((CAST(syb AS DOUBLE) / nb)
                       - theta * (CAST(sxb AS DOUBLE) / nb
                                  - CAST(sx AS DOUBLE) / n), 6)
       END AS adj_mean_b
FROM d
""",
)
def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: per-user
    pre-period activity (the covariate every platform has for free)
    adjusts the post-period metric, shrinking its variance by
    cov²/var(x) — the technique that cuts experiment runtimes 30-50%
    in production platforms, because the same |arm-mean difference|
    clears significance with fewer users. Reports theta, raw and
    adjusted metric variance, the reduction share, and the adjusted
    per-arm means (arms = q_events_experiment's md5 assignment; the
    period boundary is q_split_time's exact epoch midpoint device).

    Scale shape: ONE pass reduces events to per-user (arm, pre-count,
    post-count); ONE global aggregate collects all twelve exact BIGINT
    power/arm sums; every statistic after — theta, adjusted variance,
    per-arm adjusted means (mean_y_arm − θ(mean_x_arm − mean_x), the
    algebraic identity that avoids materializing y_adj rows at all) —
    is a closed form on one row. The constant-covariate degenerate
    case exits via the exact-integer var(x) guard.
    """
    e = load_table(spark, sf_dir, "events")
    ep = F.floor(F.unix_timestamp("ts")).cast("long")
    b = F.broadcast(
        e.agg(F.floor((F.min(ep) + F.max(ep)) / 2).cast("long").alias("mid"))
    )
    arm = (
        F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 2
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    u = (
        e.crossJoin(b)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(ep <= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(ep > F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .select(arm.alias("arm"), "x", "y")
    )
    agg = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    ]
    for tag, aval in (("a", 0), ("b", 1)):
        onarm = F.col("arm") == aval
        agg += [
            F.sum(F.when(onarm, 1).otherwise(0)).cast("long").alias(f"n{tag}"),
            F.sum(F.when(onarm, F.col("x")).otherwise(0))
            .cast("long")
            .alias(f"sx{tag}"),
            F.sum(F.when(onarm, F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"sy{tag}"),
        ]
    s = u.agg(*agg)
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    var_y = (n * syy - sy * sy) / (n * n)
    var_x = (n * sxx - sx * sx) / (n * n)
    cov = (n * sxy - sx * sy) / (n * n)
    adj_mean = lambda syk, sxk, nk: (  # noqa: E731
        syk.cast("double") / nk
        - theta * (sxk.cast("double") / nk - sx / n)
    )
    return (
        s.filter(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
        )
        .select(
            "n",
            F.round(theta, 6).alias("theta"),
            F.round(var_y, 6).alias("var_y"),
            F.round(var_y - cov * cov / var_x, 6).alias("var_y_adj"),
            F.round((cov * cov / var_x) / var_y, 6).alias("var_reduction"),
            F.when(
                F.col("na") > 0,
                F.round(
                    adj_mean(F.col("sya"), F.col("sxa"), F.col("na")), 6
                ),
            ).alias("adj_mean_a"),
            F.when(
                F.col("nb") > 0,
                F.round(
                    adj_mean(F.col("syb"), F.col("sxb"), F.col("nb")), 6
                ),
            ).alias("adj_mean_b"),
        )
    )


@query(
    "q_events_stickiness",
    # All-integer: the distinct (user, day) frame gives Σdaily-actives
    # (row count), observed days, and WAU per epoch-week; stickiness is
    # one guarded ratio of exact integers.
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events
)
SELECT week,
       CAST(count(*) AS BIGINT) AS active_user_days,
       CAST(count(DISTINCT day) AS BIGINT) AS days_observed,
       CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
       round((CAST(count(*) AS DOUBLE) / count(DISTINCT day))
             / count(DISTINCT user_id), 6) AS stickiness
FROM ud GROUP BY week ORDER BY week
""",
)
def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly stickiness (avg DAU / WAU): of the users active at all
    in a week, what share shows up on an average day — THE engagement
    ratio (the DAU/MAU of growth dashboards, at weekly grain where the
    fixture has density). 1.0 = everyone active daily; 1/7 = everyone
    a one-day visitor. q_events_lifecycle classifies WHO the weekly
    actives are; this measures how INTENSELY they engage.

    Scale shape: events reduce once to the DISTINCT (user, day) frame
    (the q_events_lifecycle / q_win_streak reduction — the single
    volume-sized step); each week's Σ-daily-actives is then just a row
    count, WAU a distinct count, and stickiness one guarded integer
    ratio. Days are counted as OBSERVED days (partial first/last weeks
    divide by their real day count, not a hardcoded 7 — the edge-week
    inflation bug in naive DAU/WAU).
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
    ).distinct()
    return (
        ud.groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("active_user_days"),
            F.countDistinct("day").alias("days_observed"),
            F.countDistinct("user_id").alias("wau"),
        )
        .select(
            "week",
            "active_user_days",
            "days_observed",
            "wau",
            F.round(
                (F.col("active_user_days").cast("double") / F.col("days_observed"))
                / F.col("wau"),
                6,
            ).alias("stickiness"),
        )
        .orderBy("week")
    )


_SLO_BUDGET = 0.25   # error budget: tolerated long-run error-rate share
_SLO_FAST = 2.0      # 1h-window burn multiple that pages
_SLO_SLOW = 1.2      # 6h-window burn multiple that must corroborate


@query(
    "q_events_slo_burn",
    # Hourly integer counts on a dense hour spine; rolling 1h/6h sums
    # are exact integer window frames; burn rates are guarded integer
    # ratios against the literal budget. The multiwindow AND is the
    # SRE-workbook rule: fast window catches, slow window confirms.
    oracle=f"""
WITH t AS (
  SELECT date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e
  FROM events GROUP BY 1
),
b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM t),
spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM b
),
f AS (
  SELECT s.hr, COALESCE(t.n, 0) AS n, COALESCE(t.e, 0) AS e
  FROM spine s LEFT JOIN t ON t.hr = s.hr
),
w AS (
  SELECT hr, n, e,
         CAST(sum(e) OVER w6 AS BIGINT) AS e6,
         CAST(sum(n) OVER w6 AS BIGINT) AS n6
  FROM f
  WINDOW w6 AS (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT CAST(hr AS VARCHAR) AS hour, n, e,
       CASE WHEN n > 0
            THEN round(CAST(e AS DOUBLE) / n / {_SLO_BUDGET}, 6) END
         AS burn_1h,
       CASE WHEN n6 > 0
            THEN round(CAST(e6 AS DOUBLE) / n6 / {_SLO_BUDGET}, 6) END
         AS burn_6h,
       CASE WHEN n > 0 AND n6 > 0
            THEN CAST(e AS DOUBLE) / n / {_SLO_BUDGET} > {_SLO_FAST}
                 AND CAST(e6 AS DOUBLE) / n6 / {_SLO_BUDGET} > {_SLO_SLOW}
            ELSE false END AS page
FROM w ORDER BY hour
""",
)
def q_events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO burn-rate alerting (the SRE-workbook rule):
    hourly error-rate over budget in a FAST 1h window (catches sudden
    burns) gated by a SLOW 6h window (confirms it's sustained — the
    AND is what kills flappy pages), emitted per hour with both burn
    multiples. q_events_outage finds silence; this finds error burn —
    the two halves of a freshness+quality pager.

    Scale shape: events reduce once to hourly (n, errors) integer
    counts; the hour spine densifies (a silent hour is 0/0, not a
    missing row — burn windows must SEE quiet hours); both rolling
    windows are exact integer ROWS frames over ONE hour ordering; burn
    rates are guarded ratios against the literal budget. Post-agg cost
    O(hours). The same plan streams: swap the batch window for
    q_window_sliding's streaming twin and the rule is a live monitor.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("e"),
    )
    bounds = t.agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    f = (
        spine.join(t, "hr", "left")
        .select(
            "hr",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("e", F.lit(0)).alias("e"),
        )
    )
    # |hours|-bounded spine on one partition by design (720
    # rows/month), keyed by the fold-proof bounded_part constant —
    # earlier constant spellings (lit, col*0) were optimizer-stripped
    # and tripped the WindowExec warning; the multi-branch CASE is not
    # (r9 window scan).
    w6 = (
        W.partitionBy(bounded_part(F.col("e")))
        .orderBy("hr")
        .rowsBetween(-5, 0)
    )
    w = f.select(
        "hr",
        "n",
        "e",
        F.sum("e").over(w6).cast("long").alias("e6"),
        F.sum("n").over(w6).cast("long").alias("n6"),
    )
    burn1 = F.col("e").cast("double") / F.col("n") / _SLO_BUDGET
    burn6 = F.col("e6").cast("double") / F.col("n6") / _SLO_BUDGET
    return w.select(
        F.col("hr").cast("string").alias("hour"),
        F.col("n").cast("long").alias("n"),
        F.col("e").cast("long").alias("e"),
        F.when(F.col("n") > 0, F.round(burn1, 6)).alias("burn_1h"),
        F.when(F.col("n6") > 0, F.round(burn6, 6)).alias("burn_6h"),
        F.when(
            (F.col("n") > 0) & (F.col("n6") > 0),
            (burn1 > _SLO_FAST) & (burn6 > _SLO_SLOW),
        )
        .otherwise(False)
        .alias("page"),
    ).orderBy("hour")


@query(
    "q_events_did",
    # Four cells (arm × period) of exact BIGINT power sums over
    # per-user period counts; DiD and its four-cell SE are identical
    # IEEE closed forms. Arms = md5 parity, boundary = exact epoch
    # midpoint (the q_events_experiment / q_split_time devices).
    oracle="""
WITH b AS (
  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
          + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid
  FROM events
),
u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS arm,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                            <= (SELECT mid FROM b) THEN 1 ELSE 0 END)
              AS BIGINT) AS y_pre,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                            > (SELECT mid FROM b) THEN 1 ELSE 0 END)
              AS BIGINT) AS y_post
  FROM events GROUP BY user_id
),
cells AS (
  SELECT arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y_pre) AS BIGINT) AS sp, CAST(sum(y_pre * y_pre) AS BIGINT) AS spp,
         CAST(sum(y_post) AS BIGINT) AS so, CAST(sum(y_post * y_post) AS BIGINT) AS soo
  FROM u GROUP BY arm
),
w AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS n0,
    max(CASE WHEN arm = 0 THEN sp END) AS sp0,
    max(CASE WHEN arm = 0 THEN spp END) AS spp0,
    max(CASE WHEN arm = 0 THEN so END) AS so0,
    max(CASE WHEN arm = 0 THEN soo END) AS soo0,
    max(CASE WHEN arm = 1 THEN n END) AS n1,
    max(CASE WHEN arm = 1 THEN sp END) AS sp1,
    max(CASE WHEN arm = 1 THEN spp END) AS spp1,
    max(CASE WHEN arm = 1 THEN so END) AS so1,
    max(CASE WHEN arm = 1 THEN soo END) AS soo1
  FROM cells
)
SELECT n0, n1,
       round(CAST(so1 AS DOUBLE) / n1 - CAST(sp1 AS DOUBLE) / n1
             - (CAST(so0 AS DOUBLE) / n0 - CAST(sp0 AS DOUBLE) / n0), 6)
         AS did,
       round(sqrt(
         ((CAST(spp0 AS DOUBLE) - CAST(sp0 AS DOUBLE) * sp0 / n0) / (n0 - 1)
          + (CAST(soo0 AS DOUBLE) - CAST(so0 AS DOUBLE) * so0 / n0) / (n0 - 1))
           / n0
         + ((CAST(spp1 AS DOUBLE) - CAST(sp1 AS DOUBLE) * sp1 / n1) / (n1 - 1)
            + (CAST(soo1 AS DOUBLE) - CAST(so1 AS DOUBLE) * so1 / n1) / (n1 - 1))
           / n1), 6) AS se,
       abs(CAST(so1 AS DOUBLE) / n1 - CAST(sp1 AS DOUBLE) / n1
           - (CAST(so0 AS DOUBLE) / n0 - CAST(sp0 AS DOUBLE) / n0))
         > 1.96 * sqrt(
         ((CAST(spp0 AS DOUBLE) - CAST(sp0 AS DOUBLE) * sp0 / n0) / (n0 - 1)
          + (CAST(soo0 AS DOUBLE) - CAST(so0 AS DOUBLE) * so0 / n0) / (n0 - 1))
           / n0
         + ((CAST(spp1 AS DOUBLE) - CAST(sp1 AS DOUBLE) * sp1 / n1) / (n1 - 1)
            + (CAST(soo1 AS DOUBLE) - CAST(so1 AS DOUBLE) * so1 / n1) / (n1 - 1))
           / n1) AS significant
FROM w WHERE n0 > 1 AND n1 > 1
""",
)
def q_events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the treatment arm's pre→post change
    minus the control arm's — the causal-inference workhorse when
    randomization is imperfect or a time trend contaminates the naive
    post-period comparison (q_events_experiment compares arms at one
    time; q_events_cuped shrinks variance; DiD REMOVES the shared time
    trend — the three compose into the standard experimentation
    stack). SE from the four (arm × period) cell variances, normal
    approximation.

    Scale shape: one pass to per-user (arm, pre-count, post-count);
    one grouped aggregate to FOUR cells of exact BIGINT power sums;
    the estimate, SE, and verdict are closed forms on a single pivoted
    row. Degenerate arms (n ≤ 1) drop via the exact-integer guard.
    """
    e = load_table(spark, sf_dir, "events")
    ep = F.floor(F.unix_timestamp("ts")).cast("long")
    b = F.broadcast(
        e.agg(F.floor((F.min(ep) + F.max(ep)) / 2).cast("long").alias("mid"))
    )
    arm = (
        F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 2
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    u = (
        e.crossJoin(b)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(ep <= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("y_pre"),
            F.sum(F.when(ep > F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("y_post"),
        )
        .select(arm.alias("arm"), "y_pre", "y_post")
    )
    cells = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y_pre").cast("long").alias("sp"),
        F.sum(F.col("y_pre") * F.col("y_pre")).cast("long").alias("spp"),
        F.sum("y_post").cast("long").alias("so"),
        F.sum(F.col("y_post") * F.col("y_post")).cast("long").alias("soo"),
    )
    w = cells.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{a}")
            for a in (0, 1)
            for c in ("n", "sp", "spp", "so", "soo")
        ]
    )
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    m = lambda s, n: F.col(s).cast("double") / n  # noqa: E731
    did = (m("so1", n1) - m("sp1", n1)) - (m("so0", n0) - m("sp0", n0))
    var_of = lambda ss, s, n: (  # noqa: E731
        F.col(ss).cast("double") - F.col(s).cast("double") * F.col(s) / n
    ) / (n - 1)
    se = F.sqrt(
        (var_of("spp0", "sp0", n0) + var_of("soo0", "so0", n0)) / n0
        + (var_of("spp1", "sp1", n1) + var_of("soo1", "so1", n1)) / n1
    )
    return (
        w.filter((F.col("n0") > 1) & (F.col("n1") > 1))
        .select(
            F.col("n0"),
            F.col("n1"),
            F.round(did, 6).alias("did"),
            F.round(se, 6).alias("se"),
            (F.abs(did) > 1.96 * se).alias("significant"),
        )
    )


@query(
    "q_events_srm",
    # All-integer chi-square with one division: chi2 for a 50/50 split
    # is (na-nb)^2/n. The variant comes from the md5 byte of user_id —
    # recomputed bit-for-bit in SQL, so assignment and verdict are
    # engine-identical.
    oracle="""
WITH a AS (
  SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 2))::UINTEGER
              % 2 = 0 THEN 'A' ELSE 'B' END AS variant
  FROM events
),
c AS (
  SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b
  FROM a
)
SELECT n_a, n_b,
       round((n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b), 6) AS chi2,
       ((n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b)) > 3.841
         AS srm_detected
FROM c
""",
)
def q_events_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for a 50/50 experiment assignment —
    the FIRST gate of every A/B readout (a biased split invalidates
    q_events_experiment / q_events_cuped / q_events_did before any
    effect is read; SRM is the industry's canonical silent-corruption
    detector). The variant is derived from md5(user_id) exactly like
    q_split_hash's bucket, so the check audits the engine's own
    assignment device: any skew it finds is REAL pipeline bias, not
    sampling noise.

    Scale shape: a map-only variant expression (the md5 byte, codegen)
    folded by ONE partial-aggregated pass into two counts; the 1-df
    chi-square for an even split reduces to (n_a−n_b)²/n — exact
    integers until a single IEEE division. Critical value 3.841 =
    χ²(0.95, 1), a constant. Per-variant EVENT counts (not users) are
    deliberate: event-level SRM catches logging loss that user-level
    counts mask (a variant that drops 5% of its events keeps its
    users).
    """
    e = load_table(spark, sf_dir, "events")
    byte = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    v = e.select(
        F.when(byte % 2 == 0, "A").otherwise("B").alias("variant")
    )
    c = v.agg(
        F.sum((F.col("variant") == "A").cast("long")).alias("n_a"),
        F.sum((F.col("variant") == "B").cast("long")).alias("n_b"),
    )
    diff = F.col("n_a") - F.col("n_b")
    chi2 = diff * diff * 1.0 / (F.col("n_a") + F.col("n_b"))
    return c.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


@query(
    "q_events_adoption",
    # Exact integer cumulative over the day spine; share is one IEEE
    # division per day row.
    oracle="""
WITH fs AS (
  SELECT user_id,
         min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS first_day
  FROM events GROUP BY user_id
),
d AS (
  SELECT first_day AS day, count(*) AS new_users FROM fs GROUP BY first_day
),
c AS (
  SELECT day, new_users,
         sum(new_users) OVER (ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_users,
         sum(new_users) OVER () AS total
  FROM d
)
SELECT day, CAST(new_users AS BIGINT) AS new_users,
       CAST(cum_users AS BIGINT) AS cum_users,
       round(cum_users * 1.0 / total, 6) AS adoption_share
FROM c ORDER BY day
""",
)
def q_events_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adoption curve: first-seen day per user → daily new users →
    cumulative adopters and share of the eventual population — the
    product-growth S-curve (the empirical Bass diffusion input), and
    the acquisition-side complement of q_retention (which measures who
    STAYS; this measures who ARRIVES).

    Scale shape: the data-sized work is one min-aggregation per user
    (partial-agg combinable: min of integer epoch-days); everything
    after lives on the DAY SPINE (dimension-sized). The cumulative
    runs through ``dist_cumsum`` — the distributed exact prefix device
    — rather than an unpartitioned window, so even a spine with
    millions of periods (per-second cohorts, say) never lands on one
    partition. The share denominator is the same cumulative's last
    value, obtained as sum(new_users) in a 1-row broadcast — no
    second pass over data.
    """
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    e = load_table(spark, sf_dir, "events")
    fs = e.groupBy("user_id").agg(
        F.min(
            F.floor(
                F.unix_timestamp("ts").cast("double") / 86400
            ).cast("long")
        ).alias("first_day")
    )
    d = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    c = dist_cumsum(d, "day", ["new_users"])
    tot = d.agg(F.sum("new_users").alias("total"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "day",
            F.col("new_users").cast("long").alias("new_users"),
            F.col("cum_new_users").cast("long").alias("cum_users"),
            F.round(
                F.col("cum_new_users") * 1.0 / F.col("total"), 6
            ).alias("adoption_share"),
        )
        .orderBy("day")
    )


@query(
    "q_ts_changepoint",
    # Binary-segmentation objective from exact integer prefix sums:
    # G(k) = (n*S_k - S*k)^2 / (k*(n-k)) maximized over split points.
    # Numerators are exact DECIMAL; the argmax compares 6dp-rounded
    # doubles with an earliest-day tiebreak, identical both engines.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         count(*) AS y
  FROM events GROUP BY 1
),
c AS (
  SELECT day, y,
         sum(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS s,
         row_number() OVER (ORDER BY day) AS k,
         sum(y) OVER () AS tot,
         count(*) OVER () AS nd
  FROM d
),
g AS (
  SELECT day, k, nd,
         round(CAST((nd * s - tot * k) AS DOUBLE)
               * (nd * s - tot * k) / (k * (nd - k)) / nd, 6) AS gain,
         round(CAST(s AS DOUBLE) / k, 6) AS mean_left,
         round(CAST(tot - s AS DOUBLE) / (nd - k), 6) AS mean_right
  FROM c WHERE k < nd
)
SELECT day AS split_day, gain, mean_left, mean_right,
       CAST(nd AS BIGINT) AS n_days
FROM g ORDER BY gain DESC, day LIMIT 1
""",
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection on the daily event-volume series
    (binary segmentation, first split): the day whose before/after
    mean split explains the most variance — the incident-start /
    regime-shift finder, and the first iteration of the classic
    recursive segmentation. q_ts_cusum asks "did the level drift PAST
    a threshold"; this asks WHERE the level moved, with no threshold.

    The objective at split k is the between-segment sum of squares
    G(k) = n_l·n_r/n · (mean_l − mean_r)², computed entirely from the
    day spine's exact integer prefix sums as (n·S_k − S·k)² /
    (k·(n−k)·n) — no per-split re-scan, the classic prefix-sum
    reduction of the O(D²) naive form to O(D).

    Scale shape: one data-sized grouped count to the day spine, then
    ``dist_cumsum`` for the prefix sums (distributed exact — no
    unpartitioned window even when the spine is per-second), a
    map-only gain expression, and a 1-row max_by. The argmax compares
    6dp-rounded gains with the earliest-day tiebreak so both engines
    select the identical split even under near-tied gains.
    """
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    e = load_table(spark, sf_dir, "events")
    d = (
        e.groupBy(
            F.floor(F.unix_timestamp("ts").cast("double") / 86400)
            .cast("long")
            .alias("day")
        )
        .agg(F.count(F.lit(1)).alias("y"))
        .withColumn("one", F.lit(1))
    )
    c = dist_cumsum(d, "day", ["y", "one"])
    tot = d.agg(
        F.sum("y").alias("tot"), F.count(F.lit(1)).alias("nd")
    )
    g = (
        c.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_one") < F.col("nd"))
        .select(
            "day",
            F.col("nd").cast("long").alias("n_days"),
            F.round(
                (
                    (F.col("nd") * F.col("cum_y") - F.col("tot") * F.col("cum_one"))
                    .cast("double")
                    * (F.col("nd") * F.col("cum_y") - F.col("tot") * F.col("cum_one"))
                )
                / (F.col("cum_one") * (F.col("nd") - F.col("cum_one")))
                / F.col("nd"),
                6,
            ).alias("gain"),
            F.round(
                F.col("cum_y").cast("double") / F.col("cum_one"), 6
            ).alias("mean_left"),
            F.round(
                (F.col("tot") - F.col("cum_y")).cast("double")
                / (F.col("nd") - F.col("cum_one")),
                6,
            ).alias("mean_right"),
        )
    )
    return (
        g.orderBy(F.col("gain").desc(), "day")
        .limit(1)
        .select(
            F.col("day").alias("split_day"),
            "gain",
            "mean_left",
            "mean_right",
            "n_days",
        )
    )


_ROLLCORR_WIN = 14


@query(
    "q_ts_rolling_corr",
    oracle=f"""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
w AS (
  SELECT day, count(*) OVER win AS n,
         sum(x) OVER win AS sx, sum(y) OVER win AS sy,
         sum(x * x) OVER win AS sxx, sum(y * y) OVER win AS syy,
         sum(x * y) OVER win AS sxy
  FROM d
  WINDOW win AS (ORDER BY day RANGE BETWEEN {_ROLLCORR_WIN - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT day,
       round((n * sxy - sx * sy)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
         AS rolling_corr
FROM w WHERE n = {_ROLLCORR_WIN}
ORDER BY day
""",
)
def q_ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{win}-day rolling Pearson correlation between daily purchase
    and view volumes — the co-movement monitor ("did these two metrics
    decouple this week?"), the windowed refinement of q_ts_crosscorr's
    whole-series number: a correlation break the full-series value
    averages away shows up here as the day the curve dives.

    Scale shape: the data-sized work is one grouped count to the day
    spine. The rolling sums are then built WITHOUT any unpartitioned
    window: each spine day EXPLODES its {win} anchor contributions
    (day+0 … day+{win}−1, a fixed fan-out of a dimension-sized frame)
    and one grouped aggregation per anchor day collects exact integer
    power sums — the join-free rolling-window device, shuffle on the
    anchor key only. RANGE semantics (calendar offsets, so a gap day
    shortens the window) come out identical because anchors missing
    days simply receive fewer contributions; anchors with fewer than
    {win} observed days are dropped on an exact integer count. The
    correlation is one ordered double chain on integers, 6dp.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts").cast("double") / 86400)
        .cast("long")
        .alias("day")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "view").cast("long")).alias("y"),
    )
    contrib = d.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (_ROLLCORR_WIN - 1))
        ).alias("anchor"),
        "day",
        "x",
        "y",
    )
    w = (
        contrib.groupBy("anchor")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        .filter(F.col("n") == _ROLLCORR_WIN)
    )
    # anchors beyond the observed span collect contributions but no
    # full window; additionally the anchor must BE an observed day so
    # the output spine matches the RANGE-window oracle frame.
    w = w.join(d.select(F.col("day").alias("anchor")), "anchor")
    r = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (
        F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
        * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    )
    return (
        w.select(
            F.col("anchor").alias("day"),
            F.round(r, 6).alias("rolling_corr"),
        )
        .orderBy("day")
    )


q_ts_rolling_corr.__doc__ = q_ts_rolling_corr.__doc__.format(
    win=_ROLLCORR_WIN
)


_PERIODOGRAM_PERIODS = (7, 10, 14)
_TWO_PI = "6.283185307179586"


@query(
    "q_ts_periodogram",
    # Trig determinism: cos/sin are evaluated at angles built from
    # exact integer arithmetic (2*pi literal * (t mod p) / p) and each
    # factor is ROUNDED TO 9DP before the DECIMAL-weighted sum — the
    # ln-contract (q_text_unigram_ppl) applied to trig: a last-ulp
    # libm disagreement dies in the rounding, and the weighted sums
    # are order-free.
    oracle=f"""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS y
  FROM events GROUP BY 1
),
t AS (
  SELECT day - (SELECT min(day) FROM d) AS t,
         y * (SELECT count(*) FROM d) - (SELECT sum(y) FROM d) AS z,
         (SELECT count(*) FROM d) AS nd
  FROM d
),
p AS (SELECT unnest([{", ".join(str(p) for p in _PERIODOGRAM_PERIODS)}])
        AS period),
parts AS (
  SELECT p.period,
         sum(CAST(round(cos({_TWO_PI} * (t.t % p.period) / p.period), 9)
                  AS DECIMAL(10,9)) * CAST(t.z AS DECIMAL(18,0))) AS c,
         sum(CAST(round(sin({_TWO_PI} * (t.t % p.period) / p.period), 9)
                  AS DECIMAL(10,9)) * CAST(t.z AS DECIMAL(18,0))) AS s,
         max(t.nd) AS nd
  FROM t, p GROUP BY p.period
)
SELECT CAST(period AS BIGINT) AS period,
       round(((CAST(c AS DOUBLE) / nd) * (CAST(c AS DOUBLE) / nd)
              + (CAST(s AS DOUBLE) / nd) * (CAST(s AS DOUBLE) / nd))
             / nd, 6) AS power
FROM parts ORDER BY period
""",
)
def q_ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram probe: spectral power of the daily event-volume
    series at candidate periods {periods} — "is there a weekly /
    biweekly cycle, and which dominates?" The quantitative upgrade of
    q_ts_seasonality's single chi-square: that op tests ONE fixed
    cycle (day-of-week); this SCANS candidate periods and returns each
    one's power P(p) = (C_p² + S_p²)/D with C_p = Σ(y_t−ȳ)·cos(2πt/p),
    the Schuster periodogram restricted to a candidate grid (the
    production pattern — a full FFT needs the whole series on one
    node; a candidate-grid scan is embarrassingly parallel).

    Scale shape: day spine (one data-sized grouped count) × |periods|
    fixed fan-out — map-only trig factors, one grouped decimal sum
    per period. Cross-engine trig goes through the 9dp-round-then-
    DECIMAL contract (module ln-contract precedent): angles are built
    from exact integers (t mod p), each cos/sin rounds to 9dp BEFORE
    the weighted sum, so libm-vs-JVM last-ulp differences cannot
    reach the aggregate. Mean-centering uses the exact integer total
    (one broadcast row), keeping the DC component out of every bin.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts").cast("double") / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    stats = d.agg(
        F.min("day").alias("d0"),
        F.sum("y").alias("tot"),
        F.count(F.lit(1)).alias("nd"),
    )
    # exact mean-centering: z = y*nd - tot is an INTEGER, so the
    # trig-weighted sums stay in DECIMAL (order-free); the nd divisor
    # comes out after the aggregation as single IEEE divisions.
    t = d.crossJoin(F.broadcast(stats)).select(
        (F.col("day") - F.col("d0")).alias("t"),
        (F.col("y") * F.col("nd") - F.col("tot")).alias("z"),
        "nd",
    )
    periods = F.array(
        *[F.lit(p) for p in _PERIODOGRAM_PERIODS]
    )
    tp = t.select(
        F.explode(periods).alias("period"), "t", "z", "nd"
    )
    two_pi = float(_TWO_PI)
    ang = two_pi * (F.col("t") % F.col("period")) / F.col("period")
    # decimal(10,9) x decimal(18,0) -> precision 29, scale 9: EXACT.
    # (a 28,9 factor times a bare long hit Spark's 38-precision cap and
    # silently truncated the product scale to 6 - the overflow trap.)
    dec9 = "decimal(10,9)"
    z18 = F.col("z").cast("decimal(18,0)")
    parts = tp.groupBy("period").agg(
        F.sum(F.round(F.cos(ang), 9).cast(dec9) * z18).alias("c"),
        F.sum(F.round(F.sin(ang), 9).cast(dec9) * z18).alias("s"),
        F.max("nd").alias("nd"),
    )
    c = F.col("c").cast("double") / F.col("nd")
    s_ = F.col("s").cast("double") / F.col("nd")
    return parts.select(
        F.col("period").cast("long").alias("period"),
        F.round((c * c + s_ * s_) / F.col("nd"), 6).alias("power"),
    ).orderBy("period")


_WAU_WIN = 7


@query(
    "q_events_rolling_active",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
anchors AS (SELECT DISTINCT day FROM ud),
w AS (
  SELECT a.day,
         CAST(count(DISTINCT u.user_id) AS BIGINT) AS active_users,
         CAST(count(DISTINCT u.day) AS BIGINT) AS window_days
  FROM anchors a
  JOIN ud u ON u.day BETWEEN a.day - {_WAU_WIN - 1} AND a.day
  GROUP BY a.day
)
SELECT day, active_users, window_days FROM w ORDER BY day
""",
)
def q_events_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {win}-day active users per day (rolling WAU) — the
    growth-dashboard headline series; q_events_stickiness reports one
    DAU/WAU ratio per week, this reports the WAU CURVE daily (the
    series whose dips are incidents and whose slope is growth).

    Scale shape: the stream first reduces to DISTINCT (user, day) —
    at most users × days rows, the same frame q_win_streak and
    stickiness start from. Each user-day then explodes into the ≤{win}
    anchor days it keeps the user active for (fixed fan-out of the
    REDUCED frame, never the raw stream), and one grouped
    count-distinct per anchor finishes. The window_days column makes
    the warm-up edge visible (the first {win}−1 anchors have shorter
    lookback) instead of silently under-reporting. The true-100TB
    swap is named: per-day HLL sketches + a {win}-way sketch union
    per anchor (the q_agg_reach device on a sliding frame) replaces
    the exact count-distinct when users-per-window outgrows a
    shuffle; the exact form here IS the oracle-verifiable twin.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts").cast("double") / 86400)
        .cast("long")
        .alias("day"),
    ).distinct()
    anchors = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        "day",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (_WAU_WIN - 1))
        ).alias("anchor"),
    )
    w = (
        contrib.join(
            anchors.select(F.col("day").alias("anchor")), "anchor"
        )
        .groupBy("anchor")
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.countDistinct("day").alias("window_days"),
        )
    )
    return w.select(
        F.col("anchor").alias("day"),
        F.col("active_users").cast("long").alias("active_users"),
        F.col("window_days").cast("long").alias("window_days"),
    ).orderBy("day")


q_events_rolling_active.__doc__ = q_events_rolling_active.__doc__.format(
    win=_WAU_WIN
)


@query(
    "q_events_bh_fdr",
    # Arm split = q_events_srm's md5 byte parity; per-type Welch z from
    # decimal-armored power sums; the normal tail is the SAME
    # Abramowitz-Stegun 26.2.17 Horner polynomial in both engines
    # (exp + IEEE +,*,/; sqrt is correctly rounded); the BH step-up
    # comparison runs on 9dp-rounded DECIMALs (the ln-contract device)
    # so a last-ulp exp difference cannot flip a discovery.
    oracle="""
WITH b AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS arm,
         value
  FROM events
),
s AS (
  SELECT event_type,
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(sum(CASE WHEN arm = 0 THEN CAST(value AS DECIMAL(28,6))
             ELSE 0 END) AS DOUBLE) AS sa,
    CAST(sum(CASE WHEN arm = 1 THEN CAST(value AS DECIMAL(28,6))
             ELSE 0 END) AS DOUBLE) AS sb,
    CAST(sum(CASE WHEN arm = 0 THEN CAST(value * value AS DECIMAL(38,6))
             ELSE 0 END) AS DOUBLE) AS saa,
    CAST(sum(CASE WHEN arm = 1 THEN CAST(value * value AS DECIMAL(38,6))
             ELSE 0 END) AS DOUBLE) AS sbb
  FROM b GROUP BY event_type
),
z AS (
  SELECT event_type, na, nb,
    abs((sa / na - sb / nb)
        / sqrt((saa / na - (sa / na) * (sa / na)) / na
               + (sbb / nb - (sb / nb) * (sb / nb)) / nb)) AS az
  FROM s
),
kk AS (
  SELECT event_type, na, nb, az, 1 / (1 + 0.2316419 * az) AS t
  FROM z
),
p AS (
  SELECT event_type, na, nb, az,
    2 * (exp(-(az * az) / 2) / 2.5066282746310002)
      * (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
         + t * (-1.821255978 + t * 1.330274429))))) AS pv
  FROM kk
),
r AS (
  SELECT event_type, na, nb, az, pv,
    CAST(row_number() OVER (ORDER BY round(pv, 9), event_type)
         AS BIGINT) AS rk,
    CAST(count(*) OVER () AS BIGINT) AS m
  FROM p
),
t2 AS (
  SELECT *,
    CAST(rk AS DOUBLE) * 0.1 / m AS thr,
    max(CASE WHEN CAST(round(pv, 9) AS DECIMAL(10,9))
                  <= CAST(round(CAST(rk AS DOUBLE) * 0.1 / m, 9)
                          AS DECIMAL(10,9))
             THEN rk ELSE 0 END) OVER () AS istar
  FROM r
)
SELECT event_type, na, nb,
       round(az, 6) AS abs_z,
       round(pv, 6) AS p_value,
       rk AS p_rank,
       round(thr, 6) AS bh_threshold,
       rk <= istar AS discovery
FROM t2 ORDER BY p_rank, event_type
""",
)
def q_events_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over the per-event-type A/B
    readout — the guardrail-metric sweep every experiment platform
    runs: m two-sample z-tests (one per event type, mean `value` A vs
    B under q_events_srm's md5 arm split), p-values ranked ascending,
    and the step-up rule rejects H_1..H_i* where i* = max{i : p_(i) <=
    i*q/m} at q = 0.10. Testing m metrics at alpha each inflates
    false-positive rates ~m-fold; BH caps the EXPECTED FALSE DISCOVERY
    SHARE instead — the difference between "5 significant guardrails"
    and "5 expected-under-null artifacts".

    Scale shape: one partial-aggregated pass over events produces the
    m-row power-sum frame (counts + decimal-armored value sums per
    arm); z, the Abramowitz-Stegun normal tail (|eps| < 7.5e-8, far
    inside the 6dp emit), and the BH arithmetic all run on the m-row
    frame, where m = |event-type vocabulary| — BOUNDED dimension size
    (tens, not data-sized), so the rank window is pinned to an
    explicit constant partition (no data-sized WindowExec; the
    q_text_vocab caveat does not apply at any SF).

    Determinism: power sums exact-decimal; z/p are identical IEEE
    expression chains in both engines; the step-up comparison operates
    on 9dp DECIMAL per the ln-contract, so discoveries cannot straddle
    a last-ulp disagreement.
    """
    e = load_table(spark, sf_dir, "events")
    byte = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    b = e.select("event_type", "value", (byte % 2).alias("arm"))
    dec6, dec38 = "decimal(28,6)", "decimal(38,6)"
    on_a, on_b = F.col("arm") == 0, F.col("arm") == 1
    s = b.groupBy("event_type").agg(
        F.sum(F.when(on_a, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(on_b, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(on_a, F.col("value")).otherwise(0).cast(dec6))
        .cast("double")
        .alias("sa"),
        F.sum(F.when(on_b, F.col("value")).otherwise(0).cast(dec6))
        .cast("double")
        .alias("sb"),
        F.sum(
            F.when(on_a, F.col("value") * F.col("value"))
            .otherwise(0)
            .cast(dec38)
        )
        .cast("double")
        .alias("saa"),
        F.sum(
            F.when(on_b, F.col("value") * F.col("value"))
            .otherwise(0)
            .cast(dec38)
        )
        .cast("double")
        .alias("sbb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    sa, sb = F.col("sa"), F.col("sb")
    saa, sbb = F.col("saa"), F.col("sbb")
    # degenerate types (an empty arm, zero pooled variance) carry no
    # z/p — NULL rows rank first and never pass the BH cut; no ANSI
    # crash on single-row feeds
    _se2 = (saa / na - (sa / na) * (sa / na)) / na + (
        sbb / nb - (sb / nb) * (sb / nb)
    ) / nb
    az = F.when(
        (na > 0) & (nb > 0),
        F.when(
            _se2 > 0, F.abs((sa / na - sb / nb) / F.sqrt(_se2))
        ),
    )
    t = F.lit(1.0) / (F.lit(1.0) + 0.2316419 * az)
    pv = (
        2
        * (F.exp(-(az * az) / 2) / 2.5066282746310002)
        * (
            t
            * (
                0.319381530
                + t
                * (
                    -0.356563782
                    + t
                    * (1.781477937 + t * (-1.821255978 + t * 1.330274429))
                )
            )
        )
    )
    p = s.select(
        "event_type", "na", "nb", az.alias("az"), pv.alias("pv")
    )
    # m-row frame (|event types|, bounded): the fold-proof constant
    # partition (a bare lit(1) folds and the "No Partition Defined"
    # path returns — r9 window scan) keeps the window keyed.
    one = bounded_part(F.col("na"))
    wr = W.partitionBy(one).orderBy(F.round("pv", 9), "event_type")
    wall = W.partitionBy(one)
    r = p.withColumn("rk", F.row_number().over(wr).cast("long")).withColumn(
        "m", F.count(F.lit(1)).over(wall).cast("long")
    )
    thr = F.col("rk").cast("double") * 0.1 / F.col("m")
    passed = F.round("pv", 9).cast("decimal(10,9)") <= F.round(
        thr, 9
    ).cast("decimal(10,9)")
    out = r.withColumn("thr", thr).withColumn(
        "istar",
        F.max(F.when(passed, F.col("rk")).otherwise(0)).over(wall),
    )
    return out.select(
        "event_type",
        "na",
        "nb",
        F.round("az", 6).alias("abs_z"),
        F.round("pv", 6).alias("p_value"),
        F.col("rk").alias("p_rank"),
        F.round("thr", 6).alias("bh_threshold"),
        (F.col("rk") <= F.col("istar")).alias("discovery"),
    ).orderBy("p_rank", "event_type")


@query(
    "q_events_ratio_ci",
    # Per-user reduction first (the unit of randomization is the USER,
    # so the CI must treat per-user totals as the iid draws — event-
    # level variance understates clustered metrics); then one global
    # pass of exact power sums per arm. x is an exact DECIMAL(28,6)
    # per-user total cast once to double, xx exact to 12dp, xy to 6dp;
    # everything after is a single IEEE closed form per arm.
    oracle="""
WITH u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS arm,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(value AS DECIMAL(28,6))
                       ELSE 0 END) AS DOUBLE) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
s AS (
  SELECT arm,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
    CAST(sum(y * y) AS BIGINT) AS syy
  FROM u GROUP BY arm
),
m AS (
  SELECT arm, n,
    CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
    (sxx / n - (sx / n) * (sx / n)) AS vx,
    (CAST(syy AS DOUBLE) / n
     - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) AS vy,
    (sxy / n - (sx / n) * (CAST(sy AS DOUBLE) / n)) AS cxy,
    CAST(sy AS DOUBLE) / n AS my
  FROM s
),
ci AS (
  SELECT arm, n, r,
    sqrt((vx - 2 * r * cxy + r * r * vy) / (n * (my * my))) AS se
  FROM m
)
SELECT CAST(arm AS BIGINT) AS arm, n,
       round(r, 6) AS ratio,
       round(se, 6) AS se,
       round(r - 1.96 * se, 6) AS ci_lo,
       round(r + 1.96 * se, 6) AS ci_hi
FROM ci ORDER BY arm
""",
)
def q_events_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric per
    experiment arm — purchase value per event, the shape of almost
    every production metric (revenue/session, clicks/impression) where
    the naive per-event t-interval is WRONG because numerator and
    denominator are correlated within a user. The delta method
    linearizes R = X̄/Ȳ around the means: Var(R) ≈ (s_xx − 2R·s_xy +
    R²·s_yy)/(n·ȳ²), with the user as the iid unit (the unit of
    randomization — q_events_cuped's doctrine), so the CI is honest
    under within-user clustering.

    Scale shape: ONE data-sized pass reduces events to per-user (arm,
    x = purchase value total, y = event count) — partial-agg
    combinable; ONE global aggregate per arm collects the six power
    sums; R, se, and the 95% bounds are closed forms on the 2-row arm
    frame. No window, no sort, no driver loop anywhere — the plan
    that survives any user count.

    Determinism: per-user x is an exact DECIMAL total; the global
    sums are decimal-armored (xx exact at 12dp, xy at 6dp, y integer);
    each statistic is one identical IEEE chain in both engines.
    """
    e = load_table(spark, sf_dir, "events")
    byte = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    u = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0)
            .cast("decimal(28,6)")
        )
        .cast("double")
        .alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    ).select((byte % 2).alias("arm"), "x", "y")
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy").cast("double")
    r = sx / sy
    vx = F.col("sxx") / n - (sx / n) * (sx / n)
    vy = F.col("syy").cast("double") / n - (sy / n) * (sy / n)
    cxy = F.col("sxy") / n - (sx / n) * (sy / n)
    my = sy / n
    se = F.sqrt((vx - 2 * r * cxy + r * r * vy) / (n * (my * my)))
    return s.select(
        F.col("arm").cast("long").alias("arm"),
        "n",
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(r - 1.96 * se, 6).alias("ci_lo"),
        F.round(r + 1.96 * se, 6).alias("ci_hi"),
    ).orderBy("arm")


@query(
    "q_events_power",
    # Conversion = q_events_experiment's per-user definition (purchases
    # outnumber views), so the design numbers audit the SAME metric the
    # readout tests; all inputs are exact integers, every statistic one
    # IEEE chain of +,*,/ and correctly-rounded sqrt — no transcendental
    # anywhere, so the two engines agree bit-for-bit before the 6dp emit.
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(conv) AS BIGINT) AS n_conv
  FROM u
),
m AS (
  SELECT n_users, n_conv,
    CAST(n_conv AS DOUBLE) / n_users AS p1,
    (CAST(n_conv AS DOUBLE) / n_users) * 1.05 AS p2,
    (CAST(n_conv AS DOUBLE) / n_users) * 0.05 AS delta,
    CAST(n_users AS DOUBLE) / 2 AS n_arm
  FROM s
),
d AS (
  SELECT n_users, n_conv, p1, n_arm,
    (1.959964 * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
     + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
    * (1.959964 * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
       + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
    / (delta * delta) AS n_req,
    (1.959964 + 0.841621) * sqrt(2 * p1 * (1 - p1) / n_arm) AS mde_abs
  FROM m
)
SELECT n_users, n_conv,
       round(p1, 6) AS conv_rate,
       round(n_req, 2) AS n_req_per_arm,
       round(mde_abs, 6) AS mde_abs,
       round(mde_abs / p1, 6) AS mde_rel,
       mde_abs / p1 <= 0.05 AS powered_for_5pct
FROM d
""",
)
def q_events_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power planning — required sample size and minimum
    detectable effect for the conversion metric: n per arm to detect a
    5% RELATIVE lift at alpha = 0.05 (two-sided), power 80%, via the
    standard two-proportion normal form n = (z_a·sqrt(2p̄(1−p̄)) +
    z_b·sqrt(p1(1−p1)+p2(1−p2)))²/δ², plus the inverse question — the
    MDE the CURRENT population already supports — and the
    powered_for_5pct verdict. The op that belongs BEFORE
    q_events_experiment in the stack: running a test whose MDE exceeds
    the effect you care about produces q_events_bh_fdr-style null
    readouts by construction, not by truth.

    Scale shape: ONE partial-aggregated pass reduces events to
    per-user conversion flags, ONE global aggregate to two integers;
    every design statistic is a closed form on the 1-row frame.
    z_{0.975} = 1.959964 and z_{0.80} = 0.841621 are literals (design
    constants, like q_agg_jarque_bera's 5.991).
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)),
            1,
        )
        .otherwise(0)
        .alias("conv")
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    p1 = F.col("n_conv").cast("double") / F.col("n_users")
    p2 = p1 * 1.05
    delta = p1 * 0.05
    n_arm = F.col("n_users").cast("double") / 2
    pbar = (p1 + p2) / 2
    za, zb = 1.959964, 0.841621
    root = za * F.sqrt(2 * pbar * (1 - pbar)) + zb * F.sqrt(
        p1 * (1 - p1) + p2 * (1 - p2)
    )
    n_req = root * root / (delta * delta)
    mde_abs = (za + zb) * F.sqrt(2 * p1 * (1 - p1) / n_arm)
    # degenerate feeds (no users, zero/unit conversion → delta = 0)
    # have no power design — NULLs, never an ANSI crash
    okp = (F.col("n_users") > 0) & (p1 > 0) & (delta != 0)
    return s.select(
        "n_users",
        "n_conv",
        F.when(F.col("n_users") > 0, F.round(p1, 6)).alias("conv_rate"),
        F.when(okp, F.round(n_req, 2)).alias("n_req_per_arm"),
        F.when(okp, F.round(mde_abs, 6)).alias("mde_abs"),
        F.when(okp, F.round(mde_abs / p1, 6)).alias("mde_rel"),
        F.when(okp, mde_abs / p1 <= 0.05)
        .otherwise(F.lit(False))
        .alias("powered_for_5pct"),
    )


_GRANGER_SQL_BODY = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
  FROM {src} GROUP BY 1, 2
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (
  SELECT {spine_expr} AS day FROM bounds
),
ser AS (
  SELECT s.day,
         CAST(COALESCE(x.c, 0) AS BIGINT) AS x,
         CAST(COALESCE(y.c, 0) AS BIGINT) AS y
  FROM spine s
  LEFT JOIN d x ON x.day = s.day AND x.event_type = 'view'
  LEFT JOIN d y ON y.day = s.day AND y.event_type = 'purchase'
),
tri AS (
  SELECT cur.x AS xt, cur.y AS yt, prev.x AS xl, prev.y AS yl
  FROM ser cur JOIN ser prev ON cur.day = {next_day}
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(xt) AS BIGINT) AS sxt, CAST(sum(yt) AS BIGINT) AS syt,
    CAST(sum(xl) AS BIGINT) AS sxl, CAST(sum(yl) AS BIGINT) AS syl,
    CAST(sum(xt * xt) AS BIGINT) AS sxtxt,
    CAST(sum(yt * yt) AS BIGINT) AS sytyt,
    CAST(sum(xl * xl) AS BIGINT) AS sxlxl,
    CAST(sum(yl * yl) AS BIGINT) AS sylyl,
    CAST(sum(xl * yl) AS BIGINT) AS sxlyl,
    CAST(sum(xl * xt) AS BIGINT) AS sxlxt,
    CAST(sum(xl * yt) AS BIGINT) AS sxlyt,
    CAST(sum(yl * xt) AS BIGINT) AS sylxt,
    CAST(sum(yl * yt) AS BIGINT) AS sylyt
  FROM tri
),
c AS (
  SELECT n,
    CAST(sxlxl AS DOUBLE) - CAST(sxl AS DOUBLE) * sxl / n AS cxx,
    CAST(sylyl AS DOUBLE) - CAST(syl AS DOUBLE) * syl / n AS cll,
    CAST(sxlyl AS DOUBLE) - CAST(sxl AS DOUBLE) * syl / n AS cxl,
    CAST(sxtxt AS DOUBLE) - CAST(sxt AS DOUBLE) * sxt / n AS cxtxt,
    CAST(sytyt AS DOUBLE) - CAST(syt AS DOUBLE) * syt / n AS cytyt,
    CAST(sxlxt AS DOUBLE) - CAST(sxl AS DOUBLE) * sxt / n AS cxl_xt,
    CAST(sxlyt AS DOUBLE) - CAST(sxl AS DOUBLE) * syt / n AS cxl_yt,
    CAST(sylxt AS DOUBLE) - CAST(syl AS DOUBLE) * sxt / n AS cyl_xt,
    CAST(sylyt AS DOUBLE) - CAST(syl AS DOUBLE) * syt / n AS cyl_yt
  FROM s
),
dir_a AS (
  -- does lagged VIEW add predictive power for PURCHASE beyond its own lag?
  SELECT 'view->purchase' AS direction, n,
    cytyt - cyl_yt * cyl_yt / cll AS sse_r,
    cytyt - ((cyl_yt * cxx - cxl_yt * cxl) * cyl_yt
             + (cxl_yt * cll - cyl_yt * cxl) * cxl_yt)
            / (cll * cxx - cxl * cxl) AS sse_u,
    cytyt AS ctot
  FROM c
),
dir_b AS (
  SELECT 'purchase->view' AS direction, n,
    cxtxt - cxl_xt * cxl_xt / cxx AS sse_r,
    cxtxt - ((cxl_xt * cll - cyl_xt * cxl) * cxl_xt
             + (cyl_xt * cxx - cxl_xt * cxl) * cyl_xt)
            / (cll * cxx - cxl * cxl) AS sse_u,
    cxtxt AS ctot
  FROM c
),
u AS (
  SELECT * FROM dir_a UNION ALL SELECT * FROM dir_b
)
SELECT direction, n,
       round((sse_r - sse_u) / (sse_u / (n - 3)), 6) AS f_stat,
       round(1 - sse_r / ctot, 6) AS r2_restricted,
       round(1 - sse_u / ctot, 6) AS r2_unrestricted,
       (sse_r - sse_u) / (sse_u / (n - 3)) > 3.841
         AS granger_at_asymp_5pct
FROM u ORDER BY direction
"""


@query(
    "q_ts_granger",
    # q_ts_crosscorr's exact-arithmetic discipline carried to the
    # DIRECTIONAL test: dense shared day spine, all 14 power sums
    # exact BIGINT, both OLS fits (restricted AR(1) vs unrestricted
    # +cross-lag) as closed forms on centered moments — one identical
    # IEEE chain per direction in both engines.
    oracle=_GRANGER_SQL_BODY.format(
        src="events",
        spine_expr=(
            "unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE"
        ),
        next_day="prev.day + INTERVAL 1 DAY",
    ),
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_ts_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (lag-1) between the view and purchase daily
    series, BOTH directions — the directional upgrade of
    q_ts_crosscorr: correlation at lag L says the series co-move;
    Granger asks whether yesterday's views IMPROVE today's purchase
    forecast beyond purchases' own history (F-test of the cross-lag
    coefficient: F = (SSE_r−SSE_u)/(SSE_u/(n−3))). The standard
    leading-indicator screen before anyone builds an attribution
    model on the pair. Verdict uses the asymptotic F(1,∞) = χ²(1)
    5% value 3.841 as a literal (exact small-sample critical values
    are df-dependent; at the day-spine sizes here the difference is
    documented noise — consumers read f_stat).

    Scale shape: ONE pass reduces events to (type, day) counts; the
    spine join, the lag-1 self-join, and the 14 exact-BIGINT power
    sums all live on the |days|-sized frame (dimension-sized — grows
    with the calendar, not the event volume); both OLS fits are
    closed forms (2×2 normal equations, no iteration) on ONE row of
    centered moments.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("granger_events")
    return spark.sql(
        _GRANGER_SQL_BODY.format(
            src="granger_events",
            spine_expr="explode(sequence(d0, d1, INTERVAL 1 DAY))",
            next_day="date_add(prev.day, 1)",
        )
    )


@query(
    "q_events_entropy_rate",
    # q_events_markov's transition counts pushed through the
    # ln-contract: every ln(p_ij) rounds to 9dp and enters an exact
    # DECIMAL product with its integer count, so the big sums are
    # order-free; H terms in nats, one IEEE division per emitted
    # column.
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('second', ts), event_id
         ) AS next_type
  FROM events
),
trans AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
  FROM trans GROUP BY 1
),
terms AS (
  SELECT t.from_type, tot.n_from, t.n,
    CAST(t.n AS DECIMAL(18,0))
      * CAST(round(ln(CAST(t.n AS DOUBLE) / tot.n_from), 9)
             AS DECIMAL(11,9)) AS term
  FROM trans t JOIN tot USING (from_type)
),
st AS (
  SELECT from_type, max(n_from) AS n_from,
         CAST(sum(term) AS DOUBLE) AS s
  FROM terms GROUP BY from_type
),
g AS (
  SELECT CAST(sum(n_from) AS BIGINT) AS n_total,
         CAST(sum(s_dec) AS DOUBLE) AS s_all,
         CAST(count(*) AS BIGINT) AS k
  FROM (SELECT from_type, n_from,
               CAST(sum(term) AS DECIMAL(38,9)) AS s_dec
        FROM terms GROUP BY from_type, n_from)
)
SELECT st.from_type, st.n_from,
       round(-st.s / st.n_from, 6) AS h_conditional,
       round(-g.s_all / g.n_total, 6) AS entropy_rate,
       round(ln(CAST(g.k AS DOUBLE)), 6) AS h_max,
       round(1 + (g.s_all / g.n_total) / round(ln(CAST(g.k AS DOUBLE)), 9),
             6) AS predictability
FROM st CROSS JOIN g ORDER BY st.from_type
""",
)
def q_events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the behavioral Markov chain — how PREDICTABLE
    the next event is, in nats: H = −Σ_ij (n_ij/N)·ln(n_ij/n_i),
    the empirical-frequency-weighted mean of the per-state conditional
    entropies q_events_markov's matrix implies. Emits per-state
    H(next|state) (which states are chaotic vs deterministic — bot
    loops score ~0), the chain-level rate, the ln(k) ceiling, and
    predictability = 1 − H/ln(k) (0 = coin flips, 1 = clockwork).
    The scalar that tells a modeling team whether next-action
    prediction is even worth attempting before anyone trains on the
    sequences.

    Scale shape: the data-sized work is q_events_markov's per-user
    lead() pass (one shuffle on user_id) reduced to |types|² integer
    transition counts; every ln runs on that dimension-sized frame
    under the ln-contract (9dp round → exact DECIMAL product with the
    integer count — order-free sums); the rest is arithmetic on ≤ k
    rows.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", F.col("ts")), "event_id"
    )
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    trans = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = trans.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("n_from")
    )
    terms = trans.join(tot, "from_type").select(
        "from_type",
        "n_from",
        (
            F.col("n").cast("decimal(18,0)")
            * F.round(
                F.log(F.col("n").cast("double") / F.col("n_from")), 9
            ).cast("decimal(11,9)")
        ).alias("term"),
    )
    st = terms.groupBy("from_type").agg(
        F.max("n_from").alias("n_from"),
        F.sum("term").cast("double").alias("s"),
        F.sum("term").cast("decimal(38,9)").alias("s_dec"),
    )
    g = F.broadcast(
        st.agg(
            F.sum("n_from").cast("long").alias("n_total"),
            F.sum("s_dec").cast("double").alias("s_all"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    return (
        st.crossJoin(g)
        .select(
            "from_type",
            "n_from",
            F.round(-F.col("s") / F.col("n_from"), 6).alias(
                "h_conditional"
            ),
            F.round(-F.col("s_all") / F.col("n_total"), 6).alias(
                "entropy_rate"
            ),
            F.round(F.log(F.col("k").cast("double")), 6).alias("h_max"),
            F.round(
                1
                + (F.col("s_all") / F.col("n_total"))
                / F.round(F.log(F.col("k").cast("double")), 9),
                6,
            ).alias("predictability"),
        )
        .orderBy("from_type")
    )


@query(
    "q_ts_twa",
    # Per-(user, type) step function: each reading holds until the next
    # one (lead on the SAME ordering q_events_markov uses); gaps are
    # exact integer seconds (floor(epoch) — the round-vs-truncate
    # gotcha), value·gap products exact DECIMAL, one division per type.
    oracle="""
WITH seg AS (
  SELECT event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS t0,
         CAST(floor(epoch(lead(ts) OVER (
           PARTITION BY user_id, event_type
           ORDER BY date_trunc('second', ts), event_id
         ))) AS BIGINT) AS t1
  FROM events
),
g AS (
  SELECT event_type, value, t1 - t0 AS gap
  FROM seg WHERE t1 IS NOT NULL AND t1 > t0
),
s AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n_segments,
    CAST(sum(gap) AS BIGINT) AS total_seconds,
    CAST(sum(CAST(value AS DECIMAL(28,6)) * CAST(gap AS DECIMAL(18,0)))
         AS DOUBLE) AS swv,
    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sv
  FROM g GROUP BY event_type
)
SELECT event_type, n_segments, total_seconds,
       round(swv / total_seconds, 6) AS twa,
       round(sv / n_segments, 6) AS plain_mean
FROM s ORDER BY event_type
""",
)
def q_ts_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per event type — the step-function mean
    (each reading HOLDS until the user's next reading of that type):
    TWA = Σ value·Δt / ΣΔt. The correct aggregate for
    irregularly-sampled state metrics — queue depth, account balance,
    temperature — where the plain mean over-weights chatty periods
    (a sensor that reports every second during a spike and hourly
    otherwise drags the naive mean toward the spike; both means are
    emitted so the bias is visible). q_ts_resample buckets time and
    q_ts_interpolate fills gaps; TWA is the integral consumers
    actually want from a step signal.

    Scale shape: ONE lead() window on the per-(user, type) ordering —
    partitioned by the natural key, never global; segments reduce by
    ONE partial-aggregated pass of exact sums (integer second gaps ×
    DECIMAL values); a division per type row. Zero-length segments
    (same-second repeats) are excluded on BOTH sides — they carry no
    time mass and their inclusion is undefined order-dependently.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.date_trunc("second", F.col("ts")), "event_id"
    )
    seg = e.select(
        "event_type",
        "value",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t0"),
        F.floor(F.unix_timestamp(F.lead("ts").over(w)))
        .cast("long")
        .alias("t1"),
    )
    g = seg.filter(
        F.col("t1").isNotNull() & (F.col("t1") > F.col("t0"))
    ).select("event_type", "value", (F.col("t1") - F.col("t0")).alias("gap"))
    s = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("gap").cast("long").alias("total_seconds"),
        F.sum(
            F.col("value").cast("decimal(28,6)")
            * F.col("gap").cast("decimal(18,0)")
        )
        .cast("double")
        .alias("swv"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("sv"),
    )
    return s.select(
        "event_type",
        "n_segments",
        "total_seconds",
        F.round(F.col("swv") / F.col("total_seconds"), 6).alias("twa"),
        F.round(F.col("sv") / F.col("n_segments"), 6).alias("plain_mean"),
    ).orderBy("event_type")


_SHAPLEY_CHANNELS = (("view", 1), ("click", 2), ("signup", 4))


def _shapley_spine_rows() -> list:
    """(channel, S, S|bit, 6·weight) rows for k=3 — the exact Shapley
    kernel as INTEGER literals: |S|!(k−|S|−1)!/k! over k=3 is 2/6, 1/6,
    1/6, 2/6 for |S| = 0,1,1,2, so the 6× weights are {2,1,1,2} and
    every accumulation stays in BIGINT until ONE division by 6."""
    rows = []
    for name, bit in _SHAPLEY_CHANNELS:
        others = [b for _, b in _SHAPLEY_CHANNELS if b != bit]
        for s in range(4):
            mask = (others[0] if s & 1 else 0) | (others[1] if s & 2 else 0)
            size = bin(mask).count("1")
            w6 = {0: 2, 1: 1, 2: 2}[size]
            rows.append((name, mask, mask | bit, w6))
    return rows


def _shapley_values_sql() -> str:
    return ", ".join(
        f"('{n}', {s}, {sp}, {w})" for n, s, sp, w in _shapley_spine_rows()
    )


@query(
    "q_events_shapley",
    # All combinatorics are INTEGER: per-user channel bitmasks, exact
    # converter counts per mask, coalition values via the bit-subset
    # join m & S = m, and the Shapley kernel as 6x integer weights —
    # one IEEE division by 6 per emitted channel. The efficiency
    # identity (Σφ = v(full) − v(∅)) is asserted in exact integers.
    oracle=f"""
WITH u AS (
  SELECT user_id,
    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
    + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
    + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS mask,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
f AS (
  SELECT mask, CAST(sum(conv) AS BIGINT) AS n_conv
  FROM u GROUP BY mask
),
coal(s) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
v AS (
  SELECT coal.s, CAST(COALESCE(sum(f.n_conv), 0) AS BIGINT) AS v
  FROM coal LEFT JOIN f ON (f.mask & coal.s) = f.mask
  GROUP BY coal.s
),
spine(channel, s, sp, w6) AS (VALUES {{values}}),
phi AS (
  SELECT spine.channel,
         CAST(sum(spine.w6 * (vp.v - vs.v)) AS BIGINT) AS phi6
  FROM spine
  JOIN v vs ON vs.s = spine.s
  JOIN v vp ON vp.s = spine.sp
  GROUP BY spine.channel
),
tot AS (
  SELECT CAST(sum(phi6) AS BIGINT) AS sum6,
         (SELECT v FROM v WHERE s = 7) AS v_full,
         (SELECT v FROM v WHERE s = 0) AS v_none
  FROM phi
)
SELECT phi.channel,
       round(CAST(phi.phi6 AS DOUBLE) / 6, 6) AS shapley_conversions,
       CASE WHEN tot.sum6 > 0
            THEN round(CAST(phi.phi6 AS DOUBLE) / tot.sum6, 6)
            ELSE 0.0 END AS share,
       tot.sum6 = 6 * (tot.v_full - tot.v_none) AS efficiency_ok
FROM phi CROSS JOIN tot ORDER BY phi.channel
""".replace("{values}", _shapley_values_sql()),
)
def q_events_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value marketing attribution over the three touch
    channels (view / click / signup, conversion = purchase): each
    channel's credit is its average marginal contribution across all
    orderings of the coalition — the game-theoretic answer to "which
    channel CAUSED the conversions" that last-touch (q_events_
    attribution) structurally over-credits the final step with.
    Coalition value v(S) = converters reachable using only channels in
    S (per-user channel SET, the standard simplified Shapley
    attribution game). The efficiency axiom Σφ_c = v(full) − v(∅) is
    asserted in EXACT integers in-query.

    Scale shape: ONE pass reduces events to per-user (3-bit mask,
    converted) — partial-agg combinable; everything after lives on the
    2^k = 8-row mask frame: coalition values via the bit-subset join
    (m & S = m, 64 candidate pairs), the Shapley kernel as a 12-row
    LITERAL spine with 6× integer weights (|S|!(k−|S|−1)!/k! denominators
    cleared), one division by 6 per channel at emit. Adding a channel
    doubles the dimension frame, never the data pass.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (
            F.max((F.col("event_type") == "view").cast("int"))
            + 2 * F.max((F.col("event_type") == "click").cast("int"))
            + 4 * F.max((F.col("event_type") == "signup").cast("int"))
        ).alias("mask"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "conv"
        ),
    )
    f = u.groupBy("mask").agg(F.sum("conv").cast("long").alias("n_conv"))
    coal = spark.createDataFrame([(s,) for s in range(8)], "s int")
    v = (
        coal.join(
            F.broadcast(f), (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("v"))
    )
    spine = spark.createDataFrame(
        _shapley_spine_rows(), "channel string, s int, sp int, w6 int"
    )
    vs = v.select(F.col("s").alias("s_key"), F.col("v").alias("v_s"))
    vp = v.select(F.col("s").alias("sp_key"), F.col("v").alias("v_sp"))
    phi = (
        spine.join(F.broadcast(vs), F.col("s") == F.col("s_key"))
        .join(F.broadcast(vp), F.col("sp") == F.col("sp_key"))
        .groupBy("channel")
        .agg(
            F.sum(F.col("w6") * (F.col("v_sp") - F.col("v_s")))
            .cast("long")
            .alias("phi6")
        )
    )
    v_full = v.filter(F.col("s") == 7).select(
        F.col("v").alias("v_full")
    )
    v_none = v.filter(F.col("s") == 0).select(
        F.col("v").alias("v_none")
    )
    tot = F.broadcast(
        phi.agg(F.sum("phi6").cast("long").alias("sum6"))
        .crossJoin(v_full)
        .crossJoin(v_none)
    )
    return (
        phi.crossJoin(tot)
        .select(
            "channel",
            F.round(F.col("phi6").cast("double") / 6, 6).alias(
                "shapley_conversions"
            ),
            F.when(
                F.col("sum6") > 0,
                F.round(
                    F.col("phi6").cast("double") / F.col("sum6"), 6
                ),
            )
            .otherwise(0.0)
            .alias("share"),
            (
                F.col("sum6")
                == 6 * (F.col("v_full") - F.col("v_none"))
            ).alias("efficiency_ok"),
        )
        .orderBy("channel")
    )


@query(
    "q_ts_clock_mean",
    # Circular statistics under the trig 9dp-DECIMAL contract
    # (q_ts_periodogram): each event's clock angle cos/sin rounds to
    # 9dp and sums exactly, so both engines hand atan2 the IDENTICAL
    # pair of doubles — the only libm call runs on equal inputs, and
    # its sub-ulp variation sits far below the 4dp emit.
    oracle=f"""
WITH a AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS sec
  FROM events
),
s AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(round(cos({_TWO_PI} * sec / 86400), 9)
                  AS DECIMAL(10,9))) AS DOUBLE) AS c,
    CAST(sum(CAST(round(sin({_TWO_PI} * sec / 86400), 9)
                  AS DECIMAL(10,9))) AS DOUBLE) AS sn,
    CAST(sum(sec) AS BIGINT) AS ssec
  FROM a GROUP BY event_type
),
m AS (
  SELECT event_type, n,
    ((atan2(sn, c) / {_TWO_PI}) * 86400 + 86400) AS raw_sec,
    sqrt(c * c + sn * sn) / n AS r,
    CAST(ssec AS DOUBLE) / n AS naive_sec
  FROM s
)
SELECT event_type, n,
       round((raw_sec - floor(raw_sec / 86400) * 86400) / 3600, 4)
         AS mean_clock_hour,
       round(naive_sec / 3600, 4) AS naive_mean_hour,
       round(r, 6) AS resultant_r,
       r > 0.5 AS concentrated
FROM m ORDER BY event_type
""",
)
def q_ts_clock_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular mean time-of-day per event type — the DIRECTIONAL
    statistics answer to "when does this event typically happen":
    events at 23:00 and 01:00 average to MIDNIGHT on the clock circle,
    while the naive mean-of-seconds says NOON (emitted side-by-side so
    the wraparound bug is visible). The resultant length R ∈ [0,1] is
    the concentration — R→1 means a sharp daily habit (batch job,
    cron), R→0 a uniform smear (no scheduling signal); the
    `concentrated` verdict gates whether a time-of-day feature is
    worth engineering at all.

    Scale shape: map-only clock angles (integer seconds-of-day →
    cos/sin under the trig 9dp-DECIMAL contract, q_ts_periodogram's
    device) folded by ONE partial-aggregated pass into exact per-type
    sums; atan2/sqrt run per TYPE row on identical inputs in both
    engines. The mod-86400 at emit is floor-based on both sides (the
    round-vs-truncate gotcha applies to % on negatives).
    """
    e = load_table(spark, sf_dir, "events")
    two_pi = float(_TWO_PI)
    sec = F.floor(F.unix_timestamp("ts")).cast("long") % 86400
    dec9 = "decimal(10,9)"
    a = e.select("event_type", sec.alias("sec"))
    ang = F.lit(two_pi) * F.col("sec") / 86400
    s = a.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.cos(ang), 9).cast(dec9)).cast("double").alias("c"),
        F.sum(F.round(F.sin(ang), 9).cast(dec9)).cast("double").alias("sn"),
        F.sum("sec").cast("long").alias("ssec"),
    )
    raw_sec = (F.atan2(F.col("sn"), F.col("c")) / two_pi) * 86400 + 86400
    r = F.sqrt(F.col("c") * F.col("c") + F.col("sn") * F.col("sn")) / F.col(
        "n"
    )
    return s.select(
        "event_type",
        "n",
        F.round(
            (raw_sec - F.floor(raw_sec / 86400) * 86400) / 3600, 4
        ).alias("mean_clock_hour"),
        F.round(F.col("ssec").cast("double") / F.col("n") / 3600, 4).alias(
            "naive_mean_hour"
        ),
        F.round(r, 6).alias("resultant_r"),
        (r > 0.5).alias("concentrated"),
    ).orderBy("event_type")


@query(
    "q_ts_control_chart",
    # XmR on the dense daily spine: counts and moving ranges are exact
    # integers (lag on the |days| frame), the 2.66/3.267 XmR constants
    # are literals, limits and verdicts identical IEEE chains.
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM b
),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS c,
         abs(CAST(COALESCE(d.c, 0) AS BIGINT)
             - lag(CAST(COALESCE(d.c, 0) AS BIGINT))
               OVER (ORDER BY s.day)) AS mr
  FROM spine s LEFT JOIN d ON d.day = s.day
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(mr) AS BIGINT) AS smr,
         CAST(count(mr) AS BIGINT) AS nmr
  FROM x
),
lim AS (
  SELECT n_days,
    CAST(sc AS DOUBLE) / n_days AS center,
    CAST(sc AS DOUBLE) / n_days
      + 2.66 * (CAST(smr AS DOUBLE) / nmr) AS ucl,
    CAST(sc AS DOUBLE) / n_days
      - 2.66 * (CAST(smr AS DOUBLE) / nmr) AS lcl,
    3.267 * (CAST(smr AS DOUBLE) / nmr) AS mr_ucl
  FROM m
)
SELECT lim.n_days,
       round(lim.center, 6) AS center,
       round(lim.lcl, 6) AS lcl,
       round(lim.ucl, 6) AS ucl,
       round(lim.mr_ucl, 6) AS mr_ucl,
       CAST((SELECT count(*) FROM x CROSS JOIN lim l2
             WHERE x.c > l2.ucl OR x.c < l2.lcl) AS BIGINT)
         AS n_out_of_control,
       CAST((SELECT count(*) FROM x CROSS JOIN lim l2
             WHERE x.mr IS NOT NULL AND x.mr > l2.mr_ucl) AS BIGINT)
         AS n_range_breaks
FROM lim
""",
)
def q_ts_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals & moving-range) control chart over daily event
    volume — the SPC answer to "is this variation NORMAL": natural
    process limits at mean ± 2.66·mR̄ (and the range chart's 3.267·mR̄
    ceiling), plus counts of limit breaks. Where q_ts_cusum asks "did
    the level drift" and q_anomaly flags z-score outliers against a
    global σ, the XmR chart derives its limits from SHORT-TERM
    (day-over-day) variation — the Wheeler doctrine that makes it
    robust to the very trends and shifts it is supposed to detect.

    Scale shape: one pass to daily counts, dense spine (zero days are
    REAL process observations — skipping them hides dead days from
    the limits), ONE lag on the |days|-sized frame, one aggregate to
    the limit row, and two dimension-sized verdict counts. Constants
    2.66 = 3/d₂(2) and 3.267 = D₄(2) are literals.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("cc_events")
    return spark.sql(
        """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM cc_events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (
  SELECT explode(sequence(d0, d1, INTERVAL 1 DAY)) AS day FROM b
),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS c,
         abs(CAST(COALESCE(d.c, 0) AS BIGINT)
             - lag(CAST(COALESCE(d.c, 0) AS BIGINT))
               OVER (PARTITION BY CASE WHEN COALESCE(d.c, 0) >= 0 THEN 0
                                       WHEN COALESCE(d.c, 0) < 0 THEN 0
                                       WHEN COALESCE(d.c, 0) IS NULL THEN 0
                                  END
                     ORDER BY s.day)) AS mr
  FROM spine s LEFT JOIN d ON d.day = s.day
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(mr) AS BIGINT) AS smr,
         CAST(count(mr) AS BIGINT) AS nmr
  FROM x
),
lim AS (
  SELECT n_days,
    CAST(sc AS DOUBLE) / n_days AS center,
    CAST(sc AS DOUBLE) / n_days
      + 2.66 * (CAST(smr AS DOUBLE) / nmr) AS ucl,
    CAST(sc AS DOUBLE) / n_days
      - 2.66 * (CAST(smr AS DOUBLE) / nmr) AS lcl,
    3.267 * (CAST(smr AS DOUBLE) / nmr) AS mr_ucl
  FROM m
)
SELECT lim.n_days,
       round(lim.center, 6) AS center,
       round(lim.lcl, 6) AS lcl,
       round(lim.ucl, 6) AS ucl,
       round(lim.mr_ucl, 6) AS mr_ucl,
       (SELECT CAST(count(*) AS BIGINT) FROM x CROSS JOIN lim l2
        WHERE x.c > l2.ucl OR x.c < l2.lcl) AS n_out_of_control,
       (SELECT CAST(count(*) AS BIGINT) FROM x CROSS JOIN lim l2
        WHERE x.mr IS NOT NULL AND x.mr > l2.mr_ucl) AS n_range_breaks
FROM lim
"""
    )


@query(
    "q_events_pretrends",
    # The q_events_did machinery run as a PLACEBO on the pre-period's
    # two quarters: if "treatment" shows an effect before treatment
    # could exist, the parallel-trends assumption is dead. Same exact
    # BIGINT four-cell sums, same closed-form SE, same md5 arms;
    # boundaries are exact integer epoch midpoints.
    oracle="""
WITH b AS (
  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
          + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid,
         (CAST(floor(epoch(min(ts))) AS BIGINT)
          + ((CAST(floor(epoch(min(ts))) AS BIGINT)
              + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2)) // 2 AS q1
  FROM events
),
u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS arm,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                            <= (SELECT q1 FROM b) THEN 1 ELSE 0 END)
              AS BIGINT) AS y_a,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                            > (SELECT q1 FROM b)
                       AND CAST(floor(epoch(ts)) AS BIGINT)
                            <= (SELECT mid FROM b) THEN 1 ELSE 0 END)
              AS BIGINT) AS y_b
  FROM events GROUP BY user_id
),
cells AS (
  SELECT arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y_a) AS BIGINT) AS sp,
         CAST(sum(y_a * y_a) AS BIGINT) AS spp,
         CAST(sum(y_b) AS BIGINT) AS so,
         CAST(sum(y_b * y_b) AS BIGINT) AS soo
  FROM u GROUP BY arm
),
w AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS n0,
    max(CASE WHEN arm = 0 THEN sp END) AS sp0,
    max(CASE WHEN arm = 0 THEN spp END) AS spp0,
    max(CASE WHEN arm = 0 THEN so END) AS so0,
    max(CASE WHEN arm = 0 THEN soo END) AS soo0,
    max(CASE WHEN arm = 1 THEN n END) AS n1,
    max(CASE WHEN arm = 1 THEN sp END) AS sp1,
    max(CASE WHEN arm = 1 THEN spp END) AS spp1,
    max(CASE WHEN arm = 1 THEN so END) AS so1,
    max(CASE WHEN arm = 1 THEN soo END) AS soo1
  FROM cells
)
SELECT n0, n1,
       round(CAST(so1 AS DOUBLE) / n1 - CAST(sp1 AS DOUBLE) / n1
             - (CAST(so0 AS DOUBLE) / n0 - CAST(sp0 AS DOUBLE) / n0), 6)
         AS placebo_did,
       round(sqrt(
         ((CAST(spp0 AS DOUBLE) - CAST(sp0 AS DOUBLE) * sp0 / n0) / (n0 - 1)
          + (CAST(soo0 AS DOUBLE) - CAST(so0 AS DOUBLE) * so0 / n0) / (n0 - 1))
           / n0
         + ((CAST(spp1 AS DOUBLE) - CAST(sp1 AS DOUBLE) * sp1 / n1) / (n1 - 1)
            + (CAST(soo1 AS DOUBLE) - CAST(so1 AS DOUBLE) * so1 / n1) / (n1 - 1))
           / n1), 6) AS se,
       abs(CAST(so1 AS DOUBLE) / n1 - CAST(sp1 AS DOUBLE) / n1
           - (CAST(so0 AS DOUBLE) / n0 - CAST(sp0 AS DOUBLE) / n0))
         <= 1.96 * sqrt(
         ((CAST(spp0 AS DOUBLE) - CAST(sp0 AS DOUBLE) * sp0 / n0) / (n0 - 1)
          + (CAST(soo0 AS DOUBLE) - CAST(so0 AS DOUBLE) * so0 / n0) / (n0 - 1))
           / n0
         + ((CAST(spp1 AS DOUBLE) - CAST(sp1 AS DOUBLE) * sp1 / n1) / (n1 - 1)
            + (CAST(soo1 AS DOUBLE) - CAST(so1 AS DOUBLE) * so1 / n1) / (n1 - 1))
           / n1) AS parallel_trends_plausible
FROM w WHERE n0 > 1 AND n1 > 1
""",
)
def q_events_pretrends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-trends (pre-trends) check — the VALIDITY gate for
    q_events_did: run the identical DiD machinery as a PLACEBO on the
    two halves of the pre-period, where no treatment effect can
    exist. A "significant" placebo means the arms were already
    diverging before treatment, and the real DiD estimate is
    reporting trend difference, not effect — the first robustness
    table in every credible DiD paper, here as an operator that
    belongs in the pipeline right before q_events_did itself.

    Scale shape: identical to q_events_did — one pass to per-user
    (arm, quarter-1 count, quarter-2 count), one grouped aggregate to
    FOUR cells of exact BIGINT power sums, closed forms on one
    pivoted row. Boundaries are exact integer epoch midpoints
    (quarter = midpoint of the pre half).
    """
    e = load_table(spark, sf_dir, "events")
    ep = F.floor(F.unix_timestamp("ts")).cast("long")
    b = F.broadcast(
        e.agg(
            F.floor((F.min(ep) + F.max(ep)) / 2).cast("long").alias("mid"),
            F.floor(
                (F.min(ep) + F.floor((F.min(ep) + F.max(ep)) / 2)) / 2
            )
            .cast("long")
            .alias("q1"),
        )
    )
    arm = (
        F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 2
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    u = (
        e.crossJoin(b)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(ep <= F.col("q1"), 1).otherwise(0))
            .cast("long")
            .alias("y_a"),
            F.sum(
                F.when((ep > F.col("q1")) & (ep <= F.col("mid")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("y_b"),
        )
        .select(arm.alias("arm"), "y_a", "y_b")
    )
    cells = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y_a").cast("long").alias("sp"),
        F.sum(F.col("y_a") * F.col("y_a")).cast("long").alias("spp"),
        F.sum("y_b").cast("long").alias("so"),
        F.sum(F.col("y_b") * F.col("y_b")).cast("long").alias("soo"),
    )
    w = cells.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{a}")
            for a in (0, 1)
            for c in ("n", "sp", "spp", "so", "soo")
        ]
    )
    def mean(c, n):
        return F.col(c).cast("double") / F.col(n)

    did = (mean("so1", "n1") - mean("sp1", "n1")) - (
        mean("so0", "n0") - mean("sp0", "n0")
    )
    def var_term(s, ss, n):
        nn = F.col(n).cast("double")
        return (
            F.col(ss).cast("double")
            - F.col(s).cast("double") * F.col(s) / nn
        ) / (nn - 1)

    se = F.sqrt(
        (var_term("sp0", "spp0", "n0") + var_term("so0", "soo0", "n0"))
        / F.col("n0")
        + (var_term("sp1", "spp1", "n1") + var_term("so1", "soo1", "n1"))
        / F.col("n1")
    )
    return (
        w.filter((F.col("n0") > 1) & (F.col("n1") > 1))
        .select(
            "n0",
            "n1",
            F.round(did, 6).alias("placebo_did"),
            F.round(se, 6).alias("se"),
            (F.abs(did) <= 1.96 * se).alias("parallel_trends_plausible"),
        )
    )


@query(
    "q_ts_spike_attribution",
    # Spike day = argmax daily total (9dp-exact integers, earliest-day
    # tiebreak); baselines are exact-integer means over the OTHER days;
    # excess and contribution are one IEEE chain per type row.
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT day, CAST(sum(c) AS BIGINT) AS n FROM d GROUP BY day
),
spike AS (SELECT day, n FROM tot ORDER BY n DESC, day LIMIT 1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM tot),
base AS (
  SELECT d.event_type,
         CAST(sum(CASE WHEN d.day <> spike.day THEN d.c ELSE 0 END)
              AS BIGINT) AS c_rest
  FROM d CROSS JOIN spike GROUP BY d.event_type
),
obs AS (
  SELECT d.event_type, d.c AS c_spike
  FROM d JOIN spike ON d.day = spike.day
),
j AS (
  SELECT base.event_type,
    CAST(COALESCE(obs.c_spike, 0) AS BIGINT) AS c_spike,
    CAST(base.c_rest AS DOUBLE) / (nd.n_days - 1) AS baseline,
    CAST(COALESCE(obs.c_spike, 0) AS BIGINT)
      - CAST(base.c_rest AS DOUBLE) / (nd.n_days - 1) AS excess
  FROM base LEFT JOIN obs USING (event_type)
  CROSS JOIN nd WHERE nd.n_days > 1
),
tx AS (SELECT sum(CASE WHEN excess > 0 THEN excess ELSE 0 END) AS te
       FROM j)
SELECT j.event_type, j.c_spike,
       round(j.baseline, 6) AS baseline_per_day,
       round(j.excess, 6) AS excess,
       CASE WHEN tx.te > 0 AND j.excess > 0
            THEN round(j.excess / tx.te, 6) ELSE 0.0 END
         AS spike_contribution,
       (SELECT CAST(floor(epoch(day) / 86400) AS BIGINT) FROM spike)
         AS spike_epoch_day
FROM j CROSS JOIN tx ORDER BY j.event_type
""",
)
def q_ts_spike_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike attribution — the question that follows the moment
    q_ts_control_chart or q_anomaly fires: WHICH stream drove the
    spike day? Picks the max-volume day (earliest-day tiebreak),
    compares each event type's spike-day count against its own
    baseline (mean over every OTHER day), and splits the total
    positive excess into per-type contribution shares — the "80% of
    the spike was errors" sentence an incident review needs, as an
    operator.

    Scale shape: one pass to (day, type) integer counts; the spike
    day is an orderBy(total desc, day).limit(1) TakeOrderedAndProject
    on the |days| frame; baselines, excesses, and shares all live on
    the |types|-row frame with 1-row broadcast joins. All integers
    until the per-row division chains.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = d.groupBy("day").agg(F.sum("c").cast("long").alias("n"))
    spike = F.broadcast(
        tot.orderBy(F.col("n").desc(), "day").limit(1).select(
            F.col("day").alias("sday")
        )
    )
    nd = F.broadcast(
        tot.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    )
    base = (
        d.crossJoin(spike)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("day") != F.col("sday"), F.col("c")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("c_rest")
        )
    )
    obs = (
        d.join(spike, d["day"] == spike["sday"])
        .select("event_type", F.col("c").alias("c_spike"))
    )
    j = (
        base.join(obs, "event_type", "left")
        .crossJoin(nd)
        .filter(F.col("n_days") > 1)
        .select(
            "event_type",
            F.coalesce("c_spike", F.lit(0)).cast("long").alias("c_spike"),
            (
                F.col("c_rest").cast("double") / (F.col("n_days") - 1)
            ).alias("baseline"),
        )
        .withColumn(
            "excess",
            F.col("c_spike").cast("double") - F.col("baseline"),
        )
    )
    tx = F.broadcast(
        j.agg(
            F.sum(
                F.when(F.col("excess") > 0, F.col("excess")).otherwise(0.0)
            ).alias("te")
        )
    )
    sday_num = F.broadcast(
        spike.select(
            (F.unix_timestamp(F.col("sday").cast("timestamp")) / 86400)
            .cast("long")
            .alias("spike_epoch_day")
        )
    )
    return (
        j.crossJoin(tx)
        .crossJoin(sday_num)
        .select(
            "event_type",
            "c_spike",
            F.round("baseline", 6).alias("baseline_per_day"),
            F.round("excess", 6).alias("excess"),
            F.when(
                (F.col("te") > 0) & (F.col("excess") > 0),
                F.round(F.col("excess") / F.col("te"), 6),
            )
            .otherwise(0.0)
            .alias("spike_contribution"),
            "spike_epoch_day",
        )
        .orderBy("event_type")
    )


_FATIGUE_CAP = 10  # exposure indexes beyond this pool into one bucket


@query(
    "q_events_fatigue",
    # Exposure index = row_number on the natural per-user ordering
    # (q_events_markov's date_trunc+event_id tiebreak); response = the
    # user's NEXT event is a purchase (lead on the same window); all
    # counts exact integers, one division per bucket row.
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type, event_id,
         date_trunc('second', ts) AS ts2,
         lead(event_type) OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('second', ts), event_id
         ) AS next_type
  FROM events
),
idx AS (
  SELECT user_id, next_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts2, event_id) AS exposure
  FROM seq WHERE event_type = 'view'
),
b AS (
  SELECT CASE WHEN exposure >= {_FATIGUE_CAP} THEN {_FATIGUE_CAP}
              ELSE exposure END AS exposure_bucket,
         CASE WHEN next_type = 'purchase' THEN 1 ELSE 0 END AS responded
  FROM idx
)
SELECT CAST(exposure_bucket AS BIGINT) AS exposure_bucket,
       CAST(count(*) AS BIGINT) AS n_exposures,
       CAST(sum(responded) AS BIGINT) AS n_responses,
       round(sum(responded) * 1.0 / count(*), 6) AS response_rate
FROM b GROUP BY exposure_bucket ORDER BY exposure_bucket
""",
)
def q_events_fatigue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure-fatigue curve: purchase-response rate by each user's
    k-th view — the growth-analytics decay curve behind notification
    capping and ad frequency caps (a declining curve says additional
    exposures burn goodwill; a flat one says cap limits are money
    left on the table). q_retention measures return over TIME; this
    measures response over WITHIN-USER EXPOSURE COUNT — sequence
    position, not calendar.

    Scale shape: two windows on the SAME natural per-user partitioning
    (one shuffle total), a map-side bucket cap, and one partial-
    aggregated pass to ≤{cap} report rows. All exact integers.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", F.col("ts")), "event_id"
    )
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        F.date_trunc("second", F.col("ts")).alias("ts2"),
        "event_id",
    )
    w2 = W.partitionBy("user_id").orderBy("ts2", "event_id")
    idx = (
        seq.filter(F.col("event_type") == "view")
        .withColumn("exposure", F.row_number().over(w2))
    )
    b = idx.select(
        F.when(
            F.col("exposure") >= _FATIGUE_CAP, F.lit(_FATIGUE_CAP)
        )
        .otherwise(F.col("exposure"))
        .cast("long")
        .alias("exposure_bucket"),
        (F.col("next_type") == "purchase").cast("int").alias("responded"),
    )
    return (
        b.groupBy("exposure_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exposures"),
            F.sum("responded").cast("long").alias("n_responses"),
            F.round(
                F.sum("responded") * 1.0 / F.count(F.lit(1)), 6
            ).alias("response_rate"),
        )
        .orderBy("exposure_bucket")
    )


@query(
    "q_events_capture_recapture",
    # Two capture occasions = the exact epoch-midpoint halves
    # (q_split_time device); the Lincoln-Petersen (Chapman-corrected)
    # estimator and its CI run on four exact integers.
    oracle="""
WITH b AS (
  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
          + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid
  FROM events
),
u AS (
  SELECT user_id,
    max(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                  <= (SELECT mid FROM b) THEN 1 ELSE 0 END) AS in_a,
    max(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                  > (SELECT mid FROM b) THEN 1 ELSE 0 END) AS in_b
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS na,
         CAST(sum(in_b) AS BIGINT) AS nb,
         CAST(sum(in_a * in_b) AS BIGINT) AS nab,
         CAST(count(*) AS BIGINT) AS n_seen
  FROM u
),
e AS (
  SELECT na, nb, nab, n_seen,
    (CAST(na + 1 AS DOUBLE) * (nb + 1)) / (nab + 1) - 1 AS n_hat,
    sqrt((CAST(na + 1 AS DOUBLE) * (nb + 1) * (na - nab) * (nb - nab))
         / (CAST(nab + 1 AS DOUBLE) * (nab + 1) * (nab + 2))) AS se
  FROM s
)
SELECT na AS n_first_half, nb AS n_second_half, nab AS n_both,
       n_seen,
       round(n_hat, 6) AS n_hat_chapman,
       round(se, 6) AS se,
       round(greatest(n_hat - 1.96 * se, CAST(n_seen AS DOUBLE)), 6)
         AS ci_lo,
       round(n_hat + 1.96 * se, 6) AS ci_hi,
       CASE WHEN n_seen > 0 THEN
         round(CAST(n_seen AS DOUBLE)
               / greatest(n_hat, CAST(n_seen AS DOUBLE)), 6)
       END AS coverage_share
FROM e
""",
)
def q_events_capture_recapture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capture-recapture population estimate — how many users EXIST
    that the log never saw: treat the two halves of the horizon as
    capture occasions; the overlap rate identifies the unseen mass
    (Chapman-corrected Lincoln-Petersen N̂ = (n_a+1)(n_b+1)/(n_ab+1)−1
    with its standard SE). The ecology estimator that data teams
    reuse as a COMPLETENESS audit: coverage_share near 1 says the
    event feed sees essentially everyone; a low share quantifies the
    blind spot no within-feed DQ check (q_dq_report, q_dq_freshness)
    can even see, because the missing users left no rows. Assumes
    closed population + independent occasions — stated, as the method
    always must.

    Scale shape: ONE pass reduces events to per-user presence flags
    against a 1-row broadcast midpoint; ONE aggregate to four exact
    integers; estimator, SE, CI, and coverage are a single IEEE chain
    on one row. The CI floor is n_seen (an estimate below the
    observed count is logically impossible — clamped identically in
    both engines).
    """
    e = load_table(spark, sf_dir, "events")
    ep = F.floor(F.unix_timestamp("ts")).cast("long")
    b = F.broadcast(
        e.agg(F.floor((F.min(ep) + F.max(ep)) / 2).cast("long").alias("mid"))
    )
    u = (
        e.crossJoin(b)
        .groupBy("user_id")
        .agg(
            F.max(F.when(ep <= F.col("mid"), 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(ep > F.col("mid"), 1).otherwise(0)).alias(
                "in_b"
            ),
        )
    )
    s = u.agg(
        F.sum("in_a").cast("long").alias("na"),
        F.sum("in_b").cast("long").alias("nb"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("nab"),
        F.count(F.lit(1)).cast("long").alias("n_seen"),
    )
    na, nb, nab = (
        F.col("na").cast("double"),
        F.col("nb").cast("double"),
        F.col("nab").cast("double"),
    )
    n_hat = (na + 1) * (nb + 1) / (nab + 1) - 1
    se = F.sqrt(
        ((na + 1) * (nb + 1) * (na - nab) * (nb - nab))
        / ((nab + 1) * (nab + 1) * (nab + 2))
    )
    nseen_d = F.col("n_seen").cast("double")
    return s.select(
        F.col("na").alias("n_first_half"),
        F.col("nb").alias("n_second_half"),
        F.col("nab").alias("n_both"),
        "n_seen",
        F.round(n_hat, 6).alias("n_hat_chapman"),
        F.round(se, 6).alias("se"),
        F.round(F.greatest(n_hat - 1.96 * se, nseen_d), 6).alias("ci_lo"),
        F.round(n_hat + 1.96 * se, 6).alias("ci_hi"),
        F.when(
            F.col("n_seen") > 0,
            F.round(nseen_d / F.greatest(n_hat, nseen_d), 6),
        ).alias("coverage_share"),
    )


@query(
    "q_events_fatigue_trend",
    # The q_events_fatigue bucket frame pushed through the Cochran-
    # Armitage trend test (scores = bucket index, a literal ladder):
    # every moment is an exact integer sum over ≤10 rows; z is one
    # IEEE chain; 1.96 the usual literal.
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type, event_id,
         date_trunc('second', ts) AS ts2,
         lead(event_type) OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('second', ts), event_id
         ) AS next_type
  FROM events
),
idx AS (
  SELECT user_id, next_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts2, event_id) AS exposure
  FROM seq WHERE event_type = 'view'
),
b AS (
  SELECT CASE WHEN exposure >= {_FATIGUE_CAP} THEN {_FATIGUE_CAP}
              ELSE exposure END AS s,
         CASE WHEN next_type = 'purchase' THEN 1 ELSE 0 END AS r
  FROM idx
),
g AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS r
  FROM b GROUP BY s
),
m AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr,
         CAST(sum(n * s) AS BIGINT) AS ns,
         CAST(sum(n * s * s) AS BIGINT) AS nss,
         CAST(sum(r * s) AS BIGINT) AS rs
  FROM g
),
t AS (
  SELECT nn, rr,
    CAST(rs AS DOUBLE) - CAST(rr AS DOUBLE) * ns / nn AS tt,
    (CAST(rr AS DOUBLE) / nn) * (1 - CAST(rr AS DOUBLE) / nn)
      * (CAST(nss AS DOUBLE) - CAST(ns AS DOUBLE) * ns / nn) AS vv
  FROM m
)
SELECT nn AS n_exposures, rr AS n_responses,
       round(tt, 6) AS trend_stat,
       CASE WHEN vv > 0 THEN round(tt / sqrt(vv), 6) END AS z,
       CASE WHEN vv > 0 THEN abs(tt / sqrt(vv)) > 1.96
            ELSE false END AS trend_significant,
       CASE WHEN vv > 0 THEN tt / sqrt(vv) < 0 ELSE false END
         AS declining
FROM t
""",
)
def q_events_fatigue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test on the exposure-fatigue curve — is
    the decline q_events_fatigue DRAWS actually significant? Eyeballing
    a monotone-looking rate curve over binomial noise is exactly how
    frequency caps get set on nothing; CA weighs each bucket's
    response count against the ordered score ladder (bucket index)
    and emits the signed z — `declining` True + significant is the
    licensed "more exposures genuinely convert worse" claim. The same
    test serves any ordered-dose readout (price ladders, ordinal
    cohorts).

    Scale shape: the q_events_fatigue reduction (two windows on one
    per-user partitioning, exact integers) to ≤10 bucket rows, then
    FIVE integer moments and one IEEE chain on a single row. Degenerate
    variance (all one bucket) exits via the vv > 0 guard.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", F.col("ts")), "event_id"
    )
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        F.date_trunc("second", F.col("ts")).alias("ts2"),
        "event_id",
    )
    w2 = W.partitionBy("user_id").orderBy("ts2", "event_id")
    b = (
        seq.filter(F.col("event_type") == "view")
        .withColumn("exposure", F.row_number().over(w2))
        .select(
            F.when(
                F.col("exposure") >= _FATIGUE_CAP, F.lit(_FATIGUE_CAP)
            )
            .otherwise(F.col("exposure"))
            .cast("long")
            .alias("s"),
            (F.col("next_type") == "purchase").cast("int").alias("r"),
        )
    )
    g = b.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("r"),
    )
    m = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("n") * F.col("s")).cast("long").alias("ns"),
        F.sum(F.col("n") * F.col("s") * F.col("s"))
        .cast("long")
        .alias("nss"),
        F.sum(F.col("r") * F.col("s")).cast("long").alias("rs"),
    )
    nn = F.col("nn").cast("double")
    rr = F.col("rr").cast("double")
    tt = F.col("rs").cast("double") - rr * F.col("ns") / nn
    vv = (rr / nn) * (1 - rr / nn) * (
        F.col("nss").cast("double")
        - F.col("ns").cast("double") * F.col("ns") / nn
    )
    z = tt / F.sqrt(vv)
    return m.select(
        F.col("nn").alias("n_exposures"),
        F.col("rr").alias("n_responses"),
        F.round(tt, 6).alias("trend_stat"),
        F.when(vv > 0, F.round(z, 6)).alias("z"),
        F.when(vv > 0, F.abs(z) > 1.96)
        .otherwise(F.lit(False))
        .alias("trend_significant"),
        F.when(vv > 0, z < 0).otherwise(F.lit(False)).alias("declining"),
    )


@query(
    "q_ts_mann_kendall",
    # S and the tie-corrected variance numerator are exact integers
    # (pairwise signs and tie-group cubics); only z is IEEE, the same
    # (S∓1)/σ continuity-corrected chain in both engines.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (
  SELECT unnest(generate_series((SELECT d0 FROM b), (SELECT d1 FROM b)))
    AS day
),
x AS (
  SELECT spine.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS x
  FROM spine LEFT JOIN d USING (day)
),
s AS (
  SELECT CAST(sum(CASE WHEN bb.x > aa.x THEN 1
                       WHEN bb.x < aa.x THEN -1 ELSE 0 END) AS BIGINT)
    AS s_stat
  FROM x aa JOIN x bb ON bb.day > aa.day
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
ties AS (
  SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
    AS tie_term
  FROM (SELECT count(*) AS t FROM x GROUP BY x HAVING count(*) > 1)
),
v AS (
  SELECT n.n, s.s_stat, ties.tie_term,
         n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS var18
  FROM n CROSS JOIN s CROSS JOIN ties
)
SELECT n AS n_days, s_stat, CAST(var18 AS BIGINT) AS var_num18,
       CASE WHEN var18 > 0 AND s_stat > 0
            THEN round((s_stat - 1) / sqrt(var18 / 18.0), 6)
            WHEN var18 > 0 AND s_stat < 0
            THEN round((s_stat + 1) / sqrt(var18 / 18.0), 6)
            WHEN var18 > 0 THEN 0.0 END AS z,
       CASE WHEN var18 > 0 AND s_stat > 0
                 AND abs((s_stat - 1) / sqrt(var18 / 18.0)) > 1.96
            THEN 'increasing'
            WHEN var18 > 0 AND s_stat < 0
                 AND abs((s_stat + 1) / sqrt(var18 / 18.0)) > 1.96
            THEN 'decreasing'
            WHEN var18 > 0 THEN 'no_trend' END AS trend
FROM v
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the dense daily event-volume series —
    the nonparametric "is traffic actually trending" gate: S counts
    up-pairs minus down-pairs across ALL day pairs, so one outlier day
    moves S by at most n−1 (q_agg_trend's least-squares slope can be
    dragged arbitrarily by one spike), and the tie-corrected variance
    keeps flat stretches (the zero-day runs a dense spine makes
    explicit) from inflating significance. The standard first test on
    operational dailies, and the hypothesis-test companion to
    q_ts_theilsen's robust slope ESTIMATE.

    Scale shape: one map-combinable reduce to per-day counts, then the
    pair self-join runs on the |days| spine — horizon-bounded (the
    dimension-frame class: 10 years is 3 653 rows, ~6.7 M pairs,
    regardless of whether the table is 10 GB or 100 TB); S, ties and
    the variance numerator are exact integers, z the one IEEE chain.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    spine = rng.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    x = (
        spine.join(d, "day", "left")
        .select("day", F.coalesce("c", F.lit(0)).cast("long").alias("x"))
        .localCheckpoint(eager=False)  # feeds three consumers
    )
    aa = x.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    bb = x.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = aa.join(bb, F.col("db") > F.col("da")).agg(
        F.sum(
            F.when(F.col("xb") > F.col("xa"), 1)
            .when(F.col("xb") < F.col("xa"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat")
    )
    n = x.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        x.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    nn, ss = F.col("n"), F.col("s_stat")
    v = (
        n.crossJoin(s)
        .crossJoin(ties)
        .select(
            "n",
            "s_stat",
            (
                nn * (nn - 1) * (2 * nn + 5) - F.col("tie_term")
            ).cast("long").alias("var18"),
        )
    )
    sigma = F.sqrt(F.col("var18") / 18.0)
    z = F.when(
        (F.col("var18") > 0) & (ss > 0), (ss - 1) / sigma
    ).when(
        (F.col("var18") > 0) & (ss < 0), (ss + 1) / sigma
    ).when(F.col("var18") > 0, F.lit(0.0))
    return v.select(
        F.col("n").alias("n_days"),
        "s_stat",
        F.col("var18").alias("var_num18"),
        F.round(z, 6).alias("z"),
        F.when(
            (F.col("var18") > 0) & (ss > 0) & (F.abs(z) > 1.96),
            F.lit("increasing"),
        )
        .when(
            (F.col("var18") > 0) & (ss < 0) & (F.abs(z) > 1.96),
            F.lit("decreasing"),
        )
        .when(F.col("var18") > 0, F.lit("no_trend"))
        .alias("trend"),
    )


@query(
    "q_events_sequential",
    # Running per-arm cumulative counts are integer window sums on the
    # |days| spine; each day's pooled two-proportion z is the same IEEE
    # chain both engines; the O'Brien-Fleming-style boundary
    # 1.96·sqrt(T/t) is literal arithmetic on integer day indices.
    oracle="""
WITH u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS arm,
         CAST(floor(epoch(min(ts)) / 86400) AS BIGINT) AS day,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   > 0 THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
d AS (
  SELECT day, arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(conv) AS BIGINT) AS c
  FROM u GROUP BY day, arm
),
spine AS (
  SELECT DISTINCT day FROM d
),
cum AS (
  SELECT s.day,
    CAST(sum(CASE WHEN d.arm = 0 THEN d.n ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN d.arm = 1 THEN d.n ELSE 0 END) AS BIGINT) AS nb,
    CAST(sum(CASE WHEN d.arm = 0 THEN d.c ELSE 0 END) AS BIGINT) AS ca,
    CAST(sum(CASE WHEN d.arm = 1 THEN d.c ELSE 0 END) AS BIGINT) AS cb
  FROM spine s JOIN d ON d.day <= s.day
  GROUP BY s.day
),
idx AS (
  SELECT day, na, nb, ca, cb,
         row_number() OVER (ORDER BY day) AS t,
         count(*) OVER () AS tt
  FROM cum
),
z AS (
  SELECT day, t, tt, na, nb, ca, cb,
    CASE WHEN na > 0 AND nb > 0 AND ca + cb > 0 AND ca + cb < na + nb
         THEN (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
              / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                     * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                     * (1.0 / na + 1.0 / nb)) END AS zz,
    1.96 * sqrt(CAST(tt AS DOUBLE) / t) AS bound
  FROM idx
)
SELECT day AS epoch_day, t AS look, na, nb,
       round(zz, 6) AS z,
       round(bound, 6) AS boundary,
       CASE WHEN zz IS NOT NULL THEN abs(zz) > bound
            ELSE false END AS crossed
FROM z ORDER BY look
""",
)
def q_events_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential (peeking-safe) experiment monitoring: the running
    pooled two-proportion z of the md5-armed conversion experiment at
    every daily look, against an O'Brien-Fleming-style spending
    boundary 1.96·√(T/t) — generous early (when t ≪ T the boundary is
    high), converging to the fixed-horizon 1.96 at the final look.
    This is the readout that makes DAILY PEEKING licensed:
    q_events_experiment's single z is only valid if you look once;
    every real dashboard looks every day, and without a boundary that
    inflates false positives ~3-5×. Users enter at their FIRST-seen
    day (enrollment), so each look's cumulative frame is a valid
    snapshot of everyone enrolled so far.

    Scale shape: one pass reduces events to per-user (arm, entry day,
    converted); daily enrollment cells aggregate map-side; the
    cumulative frame is a |days|-spine triangular join (the
    dimension-frame class — a year of looks is 365 rows) and every
    look's z/boundary is one IEEE chain. At 100 TB only the per-user
    reduce touches data.
    """
    e = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 2
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    u = e.groupBy("user_id").agg(
        F.floor(F.min(F.unix_timestamp("ts")) / 86400)
        .cast("long")
        .alias("day"),
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > 0
        )
        .cast("int")
        .alias("conv"),
    ).select("day", "conv", arm.alias("arm"))
    d = u.groupBy("day", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("c"),
    ).localCheckpoint(eager=False)  # feeds spine AND the triangular join
    spine = d.select("day").distinct()
    dd = d.select(
        F.col("day").alias("d2"), "arm", "n", "c"
    )
    cum = (
        spine.join(dd, F.col("d2") <= F.col("day"))
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0))
            .cast("long")
            .alias("na"),
            F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0))
            .cast("long")
            .alias("nb"),
            F.sum(F.when(F.col("arm") == 0, F.col("c")).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("arm") == 1, F.col("c")).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    # look index + total looks on the |days| frame (constant partition
    # via the fold-proof bounded_part key — see round-8/9 notes)
    wi = W.partitionBy(bounded_part(F.col("na"))).orderBy("day")
    idx = cum.select(
        "*",
        F.row_number().over(wi).alias("t"),
        F.count(F.lit(1))
        .over(
            W.partitionBy(bounded_part(F.col("na")))
            .orderBy("day")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        )
        .alias("tt"),
    )
    na, nb, ca, cb = (
        F.col("na"), F.col("nb"), F.col("ca"), F.col("cb"),
    )
    pool = (ca + cb).cast("double") / (na + nb)
    zz = F.when(
        (na > 0) & (nb > 0) & (ca + cb > 0) & (ca + cb < na + nb),
        (ca.cast("double") / na - cb.cast("double") / nb)
        / F.sqrt(pool * (1 - pool) * (1.0 / na + 1.0 / nb)),
    )
    bound = 1.96 * F.sqrt(F.col("tt").cast("double") / F.col("t"))
    return idx.select(
        F.col("day").alias("epoch_day"),
        F.col("t").alias("look"),
        "na",
        "nb",
        F.round(zz, 6).alias("z"),
        F.round(bound, 6).alias("boundary"),
        F.when(zz.isNotNull(), F.abs(zz) > bound)
        .otherwise(F.lit(False))
        .alias("crossed"),
    ).orderBy("look")


def _pacf_chain_sql() -> str:
    """Shared r₁..r₄ + Durbin-Levinson chain (identical text feeds both
    engines; operates on ``agg(event_type, n, sx, sxx, n1..n4, c1..c4,
    sa1..sa4, sb1..sb4)``). Every division is guarded (ANSI-safe); all
    inputs are exact BIGINT sums so the IEEE chains agree bitwise."""
    r = "\n".join(
        f"    CASE WHEN den > 0 AND n{k} > 0 THEN"
        f" (c{k} - m * (sa{k} + sb{k}) + n{k} * m * m) / den END AS r{k},"
        for k in (1, 2, 3, 4)
    )
    return f"""
base AS (
  SELECT event_type, n, CAST(sx AS DOUBLE) / n AS m,
         CAST(sxx AS DOUBLE) - 2 * (CAST(sx AS DOUBLE) / n)
           * CAST(sx AS DOUBLE)
           + n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
           AS den,
         n1, n2, n3, n4, c1, c2, c3, c4,
         sa1, sa2, sa3, sa4, sb1, sb2, sb3, sb4
  FROM agg
),
rr AS (
  SELECT event_type, n,
{r}
    1 AS _k
  FROM base
),
p2 AS (
  SELECT *,
    CASE WHEN r1 IS NOT NULL AND 1 - r1 * r1 <> 0
         THEN (r2 - r1 * r1) / (1 - r1 * r1) END AS phi22
  FROM rr
),
p2b AS (
  SELECT *, r1 - phi22 * r1 AS phi21 FROM p2
),
p3 AS (
  SELECT *,
    CASE WHEN phi21 IS NOT NULL
          AND 1 - phi21 * r1 - phi22 * r2 <> 0
         THEN (r3 - phi21 * r2 - phi22 * r1)
              / (1 - phi21 * r1 - phi22 * r2) END AS phi33
  FROM p2b
),
p3b AS (
  SELECT *, phi21 - phi33 * phi22 AS phi31,
            phi22 - phi33 * phi21 AS phi32
  FROM p3
),
p4 AS (
  SELECT *,
    CASE WHEN phi31 IS NOT NULL
          AND 1 - phi31 * r1 - phi32 * r2 - phi33 * r3 <> 0
         THEN (r4 - phi31 * r3 - phi32 * r2 - phi33 * r1)
              / (1 - phi31 * r1 - phi32 * r2 - phi33 * r3) END AS phi44
  FROM p3b
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       round(r1, 6) AS r1, round(r2, 6) AS r2,
       round(r3, 6) AS r3, round(r4, 6) AS r4,
       round(r1, 6) AS pacf1, round(phi22, 6) AS pacf2,
       round(phi33, 6) AS pacf3, round(phi44, 6) AS pacf4
FROM p4 ORDER BY event_type
"""


def _pacf_lag_agg_sql() -> str:
    """Shared lagged/agg CTE text (lag windows + exact BIGINT sums) —
    valid in both Spark SQL and DuckDB."""
    lag_cols = ", ".join(
        f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY day)"
        f" AS l{k}"
        for k in (1, 2, 3, 4)
    )
    aggs = ",\n         ".join(
        f"CAST(count(l{k}) AS BIGINT) AS n{k}, "
        f"CAST(sum(x * l{k}) AS BIGINT) AS c{k}, "
        f"CAST(sum(CASE WHEN l{k} IS NOT NULL THEN x END) AS BIGINT)"
        f" AS sa{k}, "
        f"CAST(sum(l{k}) AS BIGINT) AS sb{k}"
        for k in (1, 2, 3, 4)
    )
    return f"""lagged AS (
  SELECT event_type, day, x, {lag_cols} FROM filled
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         {aggs}
  FROM lagged GROUP BY 1
)"""


@query(
    "q_ts_pacf",
    # Spine + lag windows + BIGINT sums; r's and the Durbin-Levinson
    # recursion are ONE shared SQL text rendered into both engines —
    # every division guarded, every input an exact integer sum.
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1
),
spine AS (
  SELECT event_type,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
filled AS (
  SELECT s.event_type, s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS x
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
{_pacf_lag_agg_sql()},
{_pacf_chain_sql()}
""",
)
def q_ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-4, Durbin-Levinson) of each
    event-type daily series beside the raw ACF — the AR-order picker
    q_ts_autocorr can't be: ACF at lag 3 is contaminated by the lag-1
    rhythm propagating; PACF removes the shorter lags' influence, so
    the last significant PACF lag IS the AR(p) order a forecaster
    should fit (the Box-Jenkins identification step, feeding
    q_ts_forecast's model choice).

    Scale shape: the shared dense-spine reduce (the
    autocorr/theilsen/forecast discipline — everything after the
    first aggregate is O(types·days)), four lag columns on ONE
    per-type window, exact BIGINT power sums, then the
    Durbin-Levinson recursion as guarded scalar IEEE arithmetic on
    the |types|-row frame. The r/DL chain is literally one SQL text
    rendered into both engines.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("pacf_events")
    return spark.sql(
        f"""
WITH {_spine_cte_sql("pacf_events")},
filled AS (
  SELECT s.event_type, s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS x
  FROM spine s
  LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day
),
{_pacf_lag_agg_sql()},
{_pacf_chain_sql()}
"""
    )


@query(
    "q_events_heatmap",
    # dow via integer epoch-day arithmetic ((day + 4) % 7: 1970-01-01
    # was a Thursday) — NEVER engine dayofweek builtins, whose
    # numbering conventions differ; hour via epoch integer division.
    # Counts and shares are exact.
    oracle="""
WITH t AS (
  SELECT (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS dow,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hour
  FROM events
),
g AS (
  SELECT dow, hour, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM g)
SELECT CAST(dow AS INTEGER) AS dow, CAST(hour AS INTEGER) AS hour, n,
       round(CAST(n AS DOUBLE) / tot.tn, 6) AS share
FROM g CROSS JOIN tot
ORDER BY dow, hour
""",
)
def q_events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap grid: event counts and shares per (day-of-week
    × UTC hour) — the operational load profile behind capacity
    planning and send-time optimization, and the 2-D companion to
    q_ts_clock_mean's circular average (the mean says WHEN the center
    of mass is; the grid says where the mass actually sits, including
    the bimodal shapes a mean hides). Day-of-week comes from integer
    epoch-day arithmetic ((epoch_day + 4) mod 7, anchored to
    1970-01-01 = Thursday) — engine dayofweek builtins disagree on
    numbering, so the grid key must be arithmetic, not a builtin.

    Scale shape: one map-combinable reduce to the ≤168-cell grid plus
    a broadcast total; shares are single divisions per cell.
    """
    e = load_table(spark, sf_dir, "events")
    ep = F.unix_timestamp("ts")
    g = e.groupBy(
        ((F.floor(ep / 86400).cast("long") + 4) % 7)
        .cast("int")
        .alias("dow"),
        (F.floor(ep / 3600).cast("long") % 24).cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = F.broadcast(g.agg(F.sum("n").cast("long").alias("tn")))
    return (
        g.crossJoin(tot)
        .select(
            "dow",
            "hour",
            "n",
            F.round(F.col("n").cast("double") / F.col("tn"), 6).alias(
                "share"
            ),
        )
        .orderBy("dow", "hour")
    )


@query(
    "q_ts_runs_test",
    # Signs from exact integer day-count differences (zeros dropped,
    # standard); runs counted by lag transitions on the bounded spine;
    # the normal approximation is one IEEE chain on three integers.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
sgn AS (
  SELECT day,
         CASE WHEN c - lag(c) OVER (ORDER BY day) > 0 THEN 1
              WHEN c - lag(c) OVER (ORDER BY day) < 0 THEN -1 END AS s
  FROM d
),
nz AS (SELECT day, s FROM sgn WHERE s IS NOT NULL),
runs AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_down,
         CAST(1 + sum(CASE WHEN s != prev THEN 1 ELSE 0 END) AS BIGINT)
           AS n_runs
  FROM (
    SELECT s, lag(s) OVER (ORDER BY day) AS prev FROM nz
  ) WHERE prev IS NOT NULL OR s IS NOT NULL
),
v AS (
  SELECT n, n_up, n_down, n_runs,
         1 + 2.0 * n_up * n_down / n AS mu,
         2.0 * n_up * n_down * (2.0 * n_up * n_down - n)
           / (CAST(n AS DOUBLE) * n * (n - 1)) AS sig2
  FROM runs WHERE n_up > 0 AND n_down > 0 AND n > 1
)
SELECT n AS n_moves, n_up, n_down, n_runs,
       round(mu, 6) AS expected_runs,
       CASE WHEN sig2 > 0
            THEN round((n_runs - mu) / sqrt(sig2), 6) END AS z,
       CASE WHEN sig2 > 0 THEN abs((n_runs - mu) / sqrt(sig2)) > 1.96
            ELSE false END AS nonrandom
FROM v
""",
)
def q_ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily volume's up/down sequence
    — the randomness check that completes the trend pair:
    q_ts_mann_kendall asks "is it drifting", this asks "is it even
    random" (too FEW runs = sticky regimes/autocorrelation, too MANY =
    oscillation/overcorrection — both invisible to a trend test and
    both things an alerting threshold tuned on iid assumptions will
    misfire on). Zero-change days drop, per the standard treatment.

    Scale shape: one map-combinable reduce to per-day counts; signs,
    run transitions and the three integers the z needs all live on
    the |days| spine (two lag windows on the bounded frame); the
    normal approximation is one IEEE chain.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    # Both lag windows ride the |days|-bounded spine on ONE partition —
    # keyed by the fold-proof bounded_part constant. The previous
    # `c * 0` / `s * 0` keys constant-folded away (c is a non-nullable
    # count(*)), leaving an EMPTY partition spec and six `WindowExec:
    # No Partition Defined` warnings per sweep (r8 verdict #1); `c` is
    # carried through sgn so the second window keys off a non-null
    # count too.
    wd = W.partitionBy(bounded_part(F.col("c"))).orderBy("day")
    diff = F.col("c") - F.lag("c").over(wd)
    sgn = d.select(
        "day",
        "c",
        F.when(diff > 0, 1).when(diff < 0, -1).alias("s"),
    ).filter(F.col("s").isNotNull())
    ws = W.partitionBy(bounded_part(F.col("c"))).orderBy("day")
    trans = sgn.select(
        "s", F.lag("s").over(ws).alias("prev")
    )
    runs = trans.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("s") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("n_runs"),
    ).filter((F.col("n_up") > 0) & (F.col("n_down") > 0) & (F.col("n") > 1))
    n, nu, nd = F.col("n"), F.col("n_up"), F.col("n_down")
    mu = 1 + 2.0 * nu * nd / n
    sig2 = (
        2.0 * nu * nd * (2.0 * nu * nd - n)
        / (n.cast("double") * n * (n - 1))
    )
    z = (F.col("n_runs") - mu) / F.sqrt(sig2)
    ok = sig2 > 0
    return runs.select(
        F.col("n").alias("n_moves"),
        "n_up",
        "n_down",
        "n_runs",
        F.round(mu, 6).alias("expected_runs"),
        F.when(ok, F.round(z, 6)).alias("z"),
        F.when(ok, F.abs(z) > 1.96).otherwise(F.lit(False)).alias(
            "nonrandom"
        ),
    )


@query(
    "q_events_overlap",
    # All quantities are exact distinct-user counts; jaccard/containment
    # are single integer-ratio divisions.
    oracle="""
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
),
sz AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
       round(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both), 6)
         AS jaccard,
       round(CAST(i.n_both AS DOUBLE) / least(sa.n, sb.n), 6)
         AS containment
FROM inter i
JOIN sz sa ON sa.event_type = i.type_a
JOIN sz sb ON sb.event_type = i.type_b
ORDER BY type_a, type_b
""",
)
def q_events_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard and containment of the DISTINCT
    USER sets behind every event-type pair — the segmentation sanity
    check (are "click" users just "view" users?; does "purchase" reach
    anyone "search" doesn't?) that q_events_pmi's co-occurrence
    statistic approximates at the EVENT level; this measures it at the
    AUDIENCE level, where dedup across sessions matters. Containment
    (overlap / smaller set) ships beside Jaccard because a small
    segment fully inside a big one has tiny Jaccard but containment
    1.0 — the actionable fact.

    Scale shape: one distinct reduce to (type, user) memberships; the
    pair self-join fans each user out to C(|their types|, 2) ≤
    C(|vocab|, 2) rows (bounded vocab — never a user×user join), then
    a map-combinable pair count and a broadcast size join. At 100 TB
    the distinct reduce is the only data-sized pass; the sketch swap
    (theta intersections, q_agg_sketch_setops) is named for unbounded
    type vocabularies.
    """
    e = load_table(spark, sf_dir, "events")
    tu = e.select("event_type", "user_id").distinct()
    sz = F.broadcast(
        tu.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    return (
        inter.join(
            sz.select(
                F.col("event_type").alias("type_a"),
                F.col("n").alias("n_a"),
            ),
            "type_a",
        )
        .join(
            sz.select(
                F.col("event_type").alias("type_b"),
                F.col("n").alias("n_b"),
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_both").cast("double")
                / F.least("n_a", "n_b"),
                6,
            ).alias("containment"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_ts_rate_ci",
    # Counts and day spans are exact integers; Byar's approximation is
    # one cbrt-free IEEE chain (pow(x, 1/3) avoided — cube via
    # multiplication of the (1 - 1/(9k) ± z/(3·sqrt(k))) factor, same
    # sequence both engines).
    oracle="""
WITH b AS (
  SELECT CAST(max(floor(epoch(ts) / 86400))
              - min(floor(epoch(ts) / 86400)) + 1 AS BIGINT) AS n_days
  FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS k FROM events
  GROUP BY event_type
),
c AS (
  SELECT event_type, k, b.n_days,
         CAST(k AS DOUBLE) / b.n_days AS rate,
         (1 - 1.0 / (9 * k) - 1.959964 / (3 * sqrt(CAST(k AS DOUBLE))))
           AS fl,
         (1 - 1.0 / (9 * (k + 1))
            + 1.959964 / (3 * sqrt(CAST(k + 1 AS DOUBLE)))) AS fu
  FROM g CROSS JOIN b WHERE k > 0
)
SELECT event_type, k AS n_events, n_days,
       round(rate, 6) AS rate_per_day,
       round(k * fl * fl * fl / n_days, 6) AS ci_lo,
       round((k + 1) * fu * fu * fu / n_days, 6) AS ci_hi
FROM c ORDER BY event_type
""",
)
def q_ts_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate with Byar's 95% CI per event type (events/day over
    the observed horizon) — the COUNT-data interval the binomial
    q_ts_conversion_ci can't give: incident rates, error rates, and
    arrival intensities are Poisson, not Bernoulli, and "is 3.2/day
    compatible with last month's 2.9/day" needs a rate interval.
    Byar's cube approximation is accurate to ~1% even at k=10 and is
    pure closed-form — no gamma quantiles, so it stays cross-engine
    exact (the cube is spelled as three multiplications; pow() never
    enters).

    Scale shape: one map-combinable count per type + a broadcast
    1-row horizon; the interval is one IEEE chain per dimension row.
    Zero-count types drop (a rate CI for k=0 is the one-sided 3/n
    rule — a different statement, left to the caller).
    """
    e = load_table(spark, sf_dir, "events")
    ep_day = F.floor(F.unix_timestamp("ts") / 86400)
    b = F.broadcast(
        e.agg(
            (F.max(ep_day) - F.min(ep_day) + 1)
            .cast("long")
            .alias("n_days")
        )
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    kd = F.col("k").cast("double")
    # identical IEEE sequence to the oracle: z/(3·sqrt(k)), never a
    # pre-divided z/3 literal (different rounding in the last ulp)
    fl = 1 - 1.0 / (9 * F.col("k")) - F.lit(1.959964) / (3 * F.sqrt(kd))
    fu = (
        1
        - 1.0 / (9 * (F.col("k") + 1))
        + F.lit(1.959964) / (3 * F.sqrt(kd + 1))
    )
    return (
        g.crossJoin(b)
        .filter(F.col("k") > 0)
        .select(
            "event_type",
            F.col("k").alias("n_events"),
            "n_days",
            F.round(kd / F.col("n_days"), 6).alias("rate_per_day"),
            F.round(kd * fl * fl * fl / F.col("n_days"), 6).alias(
                "ci_lo"
            ),
            F.round(
                (kd + 1) * fu * fu * fu / F.col("n_days"), 6
            ).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


@query(
    "q_ts_backtest",
    # Counts and errors are exact integers on the dense day spine; MAE/
    # RMSE/WAPE are closed forms on integer sums; each MAPE term is
    # 9dp-rounded into DECIMAL before the sum (per-day ratio doubles
    # are merge-order-dependent raw).
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (
  SELECT min(day) AS d0, max(day) AS d1,
         min(day) + (max(day) - min(day) + 1) * 4 // 5 AS cutoff
  FROM d
),
spine AS (
  SELECT unnest(generate_series(d0, d1)) AS day FROM b
),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN d USING (day)
),
ev AS (
  SELECT x.day, x.c, p.c AS pred,
         abs(x.c - p.c) AS ae
  FROM x JOIN x p ON p.day = x.day - 7
  CROSS JOIN b WHERE x.day >= b.cutoff
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(ae) AS BIGINT) AS sae,
         CAST(sum(ae * ae) AS BIGINT) AS sse,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(count(*) FILTER (WHERE c > 0) AS BIGINT) AS n_pos,
         sum(CASE WHEN c > 0
                  THEN CAST(round(CAST(ae AS DOUBLE) / c, 9)
                            AS DECIMAL(18,9)) END) AS mape_sum
  FROM ev
)
SELECT (SELECT CAST(cutoff - d0 AS BIGINT) FROM b) AS n_train_days,
       n_eval AS n_eval_days,
       round(CAST(sae AS DOUBLE) / n_eval, 6) AS mae,
       round(sqrt(CAST(sse AS DOUBLE) / n_eval), 6) AS rmse,
       CASE WHEN sc > 0
            THEN round(CAST(sae AS DOUBLE) / sc, 6) END AS wape,
       CASE WHEN n_pos > 0
            THEN round(CAST(mape_sum AS DOUBLE) / n_pos, 6) END AS mape
FROM m WHERE n_eval > 0
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_ts_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) forecast backtest over daily event
    volume: hold out the last fifth of the calendar span, predict each
    holdout day with the actual value seven days earlier, report
    MAE / RMSE / WAPE / MAPE. This is the BASELINE every forecasting
    claim must beat — q_ts_forecast fits a model, this op prices the
    no-model alternative on the same protocol, and a model that loses
    to lag-7 naive should not ship. Dense spine (zero days are real
    observations, q_ts_control_chart doctrine); MAPE is reported over
    positive-actual days only with the day count stated, WAPE is the
    zero-safe aggregate twin.

    Scale shape: one map-combinable reduce to daily counts; the spine,
    the lag-7 join (equi join on day−7 — no window at all) and all
    error rows live on the |days|-bounded frame; metric sums are exact
    integers except MAPE's per-day ratio terms, which are 9dp-rounded
    into DECIMAL before summing (order-proof). One closed-form row
    out.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        (
            F.min("day")
            + F.floor((F.max("day") - F.min("day") + 1) * 4 / 5)
        )
        .cast("long")
        .alias("cutoff"),
    )
    # hint only at the crossJoin use-sites below — deriving the spine
    # from the hinted frame leaks the hint into the spine's left-join
    # branch where Spark drops it (r10 hint audit)
    b = F.broadcast(rng)
    spine = rng.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    x = (
        spine.join(d, "day", "left")
        .select("day", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    p = x.select((F.col("day") + 7).alias("day"), F.col("c").alias("pred"))
    ev = (
        x.join(p, "day")
        .crossJoin(b)
        .filter(F.col("day") >= F.col("cutoff"))
        .select(
            "c", "pred", F.abs(F.col("c") - F.col("pred")).alias("ae")
        )
    )
    m = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum("ae").cast("long").alias("sae"),
        F.sum(F.col("ae") * F.col("ae")).cast("long").alias("sse"),
        F.sum("c").cast("long").alias("sc"),
        F.sum((F.col("c") > 0).cast("long")).cast("long").alias("n_pos"),
        F.sum(
            F.when(
                F.col("c") > 0,
                F.round(F.col("ae").cast("double") / F.col("c"), 9).cast(
                    "decimal(18,9)"
                ),
            )
        ).alias("mape_sum"),
    ).filter(F.col("n_eval") > 0)
    ne = F.col("n_eval").cast("double")
    return m.crossJoin(b).select(
        (F.col("cutoff") - F.col("d0")).cast("long").alias("n_train_days"),
        F.col("n_eval").alias("n_eval_days"),
        F.round(F.col("sae").cast("double") / ne, 6).alias("mae"),
        F.round(F.sqrt(F.col("sse").cast("double") / ne), 6).alias("rmse"),
        F.when(
            F.col("sc") > 0,
            F.round(F.col("sae").cast("double") / F.col("sc"), 6),
        ).alias("wape"),
        F.when(
            F.col("n_pos") > 0,
            F.round(
                F.col("mape_sum").cast("double")
                / F.col("n_pos").cast("double"),
                6,
            ),
        ).alias("mape"),
    )


@query(
    "q_agg_overdispersion",
    # Dense per-type day spine; all power sums exact BIGINT; index/
    # chi2/z are one shared IEEE chain from integers in both engines.
    oracle="""
WITH d AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (
  SELECT t.event_type, s.day
  FROM (SELECT DISTINCT event_type FROM d) t
  CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS day FROM b) s
),
x AS (
  SELECT sp.event_type, CAST(COALESCE(d.c, 0) AS BIGINT) AS c
  FROM spine sp LEFT JOIN d
    ON d.event_type = sp.event_type AND d.day = sp.day
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM x GROUP BY event_type
),
k AS (
  SELECT event_type, n_days, s,
         CAST(s AS DOUBLE) / n_days AS mean,
         (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days)
           / (n_days - 1) AS var
  FROM m WHERE n_days > 1
)
SELECT event_type, n_days, s AS n_events,
       round(mean, 6) AS mean_per_day,
       CASE WHEN mean > 0 THEN round(var / mean, 6) END AS dispersion,
       CASE WHEN mean > 0
            THEN round(((n_days - 1) * var / mean - (n_days - 1))
                       / sqrt(2.0 * (n_days - 1)), 6) END AS z,
       CASE WHEN mean > 0 THEN
         CASE WHEN ((n_days - 1) * var / mean - (n_days - 1))
                   / sqrt(2.0 * (n_days - 1)) > 1.96 THEN 'overdispersed'
              WHEN ((n_days - 1) * var / mean - (n_days - 1))
                   / sqrt(2.0 * (n_days - 1)) < -1.96
                THEN 'underdispersed'
              ELSE 'poisson_like' END END AS verdict
FROM k ORDER BY event_type
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_agg_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion test per event type: the index of
    dispersion (daily-count variance / mean) with its chi-square
    normal approximation z — the test that decides whether a rate's
    alerting/CI machinery may assume Poisson at all. q_ts_rate_ci
    hands out Poisson intervals; this op is their VALIDITY gate:
    bursty types (campaigns, retries, bots) run var ≫ mean and their
    Poisson CIs are fictions; var ≪ mean means rate-limited/scheduled
    flow. The routine first check in any count-model analysis.

    Scale shape: one map-combinable reduce to (type, day) counts; the
    dense spine (zero days are real observations — the
    q_ts_control_chart doctrine) and all power sums live on the
    |types|×|days| bounded frame; one closed-form row per type.
    Degenerate guards: single-day spans and all-zero types emit NULL
    statistics, not a division crash.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    types = d.select("event_type").distinct()
    spine = types.crossJoin(
        F.broadcast(rng.select(F.explode(F.sequence("d0", "d1")).alias("day")))
    )
    x = spine.join(d, ["event_type", "day"], "left").select(
        "event_type", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    ).filter(F.col("n_days") > 1)
    nd = F.col("n_days").cast("double")
    mean = F.col("s").cast("double") / nd
    var = (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / nd) / (
        nd - 1
    )
    disp = var / mean
    z = ((nd - 1) * disp - (nd - 1)) / F.sqrt(2.0 * (nd - 1))
    ok = mean > 0
    return m.select(
        "event_type",
        "n_days",
        F.col("s").alias("n_events"),
        F.round(mean, 6).alias("mean_per_day"),
        F.when(ok, F.round(disp, 6)).alias("dispersion"),
        F.when(ok, F.round(z, 6)).alias("z"),
        F.when(
            ok,
            F.when(z > 1.96, "overdispersed")
            .when(z < -1.96, "underdispersed")
            .otherwise("poisson_like"),
        ).alias("verdict"),
    ).orderBy("event_type")


@query(
    "q_ts_ljungbox",
    # Per-lag ACFs are the q_ts_autocorr Pearson-pair convention
    # (exact BIGINT power sums, one IEEE chain each); each lag's
    # Q-term is 12dp-quantized into DECIMAL before the cross-lag sum
    # (7 doubles summed in row order would be merge-order-dependent);
    # the chi-square critical value is a shared df-indexed CASE.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b0 AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (
  SELECT unnest(generate_series(d0, d1)) AS day FROM b0
),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS v
  FROM spine s LEFT JOIN d USING (day)
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM x),
lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
pairs AS (
  SELECT l.lag, a.v AS xv, p.v AS yv
  FROM lags l
  CROSS JOIN x a
  JOIN x p ON p.day = a.day - l.lag
),
s AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS np,
         CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
         CAST(sum(xv * xv) AS BIGINT) AS sxx,
         CAST(sum(yv * yv) AS BIGINT) AS syy,
         CAST(sum(xv * yv) AS BIGINT) AS sxy
  FROM pairs GROUP BY lag
),
acf AS (
  SELECT lag,
         (CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (sqrt(CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(np AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           AS r
  FROM s
  WHERE np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
),
terms AS (
  SELECT acf.lag,
         CAST(round(r * r / (n.n_days - acf.lag), 12) AS DECIMAL(20,12))
           AS term
  FROM acf CROSS JOIN n WHERE n.n_days > acf.lag
),
q AS (
  SELECT n.n_days, CAST(count(*) AS BIGINT) AS df,
         CAST(n.n_days AS DOUBLE) * (n.n_days + 2)
           * CAST(sum(term) AS DOUBLE) AS q_stat
  FROM terms CROSS JOIN n GROUP BY n.n_days
)
SELECT n_days, df, round(q_stat, 6) AS q_stat,
       CASE df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
               WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
               WHEN 7 THEN 14.067 END AS chi2_crit_05,
       q_stat > CASE df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
                        WHEN 3 THEN 7.815 WHEN 4 THEN 9.488
                        WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
                        WHEN 7 THEN 14.067 END AS autocorrelated
FROM q WHERE df >= 1
""",
)
def q_ts_ljungbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily event volume (lags 1-7):
    ONE number answering "is there ANY serial structure left" where
    q_ts_autocorr reads per-lag values off a chart — the standard
    residual-whiteness gate after any fit (run it on q_ts_forecast's
    residuals and a significant Q says the model left signal on the
    table) and the "iid assumption is broken" alarm ahead of
    q_ts_rate_ci. Convention stated: ρ_k is the Pearson correlation
    of the (x_t, x_{t−k}) pair set on the dense zero-filled spine
    (q_ts_autocorr's exact-integer form); Q = n(n+2)·Σ ρ_k²/(n−k)
    against χ²(df) at 5%.

    Scale shape: one map-combinable reduce to daily counts; pairs,
    power sums and the 7 ACFs live on the |days|-bounded spine (7
    equi-joins on day−k, no window); each lag's Q-term is
    12dp-quantized into DECIMAL before the cross-lag sum so the
    7-term addition is merge-order-proof; one verdict row out.
    Degenerate guards: constant or too-short series drop lags (df
    reflects it), df = 0 emits nothing.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    spine = rng.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    x = spine.join(d, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).cast("long").alias("v")
    )
    n = F.broadcast(x.agg(F.count(F.lit(1)).cast("long").alias("n_days")))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = x.select("day", F.col("v").alias("xv"))
    pairs = (
        lags.crossJoin(a)
        .join(
            x.select(F.col("day").alias("pday"), F.col("v").alias("yv")),
            F.col("pday") == F.col("day") - F.col("lag"),
        )
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("xv").cast("long").alias("sx"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum(F.col("xv") * F.col("xv")).cast("long").alias("sxx"),
        F.sum(F.col("yv") * F.col("yv")).cast("long").alias("syy"),
        F.sum(F.col("xv") * F.col("yv")).cast("long").alias("sxy"),
    )
    np_, sx, sy = (
        F.col("np").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
    )
    varx = np_ * F.col("sxx") - sx * F.col("sx")
    vary = np_ * F.col("syy") - sy * F.col("sy")
    r = (np_ * F.col("sxy") - sx * sy) / (F.sqrt(varx) * F.sqrt(vary))
    acf = s.filter((varx > 0) & (vary > 0)).select("lag", r.alias("r"))
    terms = (
        acf.crossJoin(n)
        .filter(F.col("n_days") > F.col("lag"))
        .select(
            "n_days",
            F.round(
                F.col("r") * F.col("r") / (F.col("n_days") - F.col("lag")),
                12,
            )
            .cast("decimal(20,12)")
            .alias("term"),
        )
    )
    q = terms.groupBy("n_days").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        (
            F.col("n_days").cast("double")
            * (F.col("n_days") + 2)
            * F.sum("term").cast("double")
        ).alias("q_stat"),
    ).filter(F.col("df") >= 1)
    crit = (
        F.when(F.col("df") == 1, 3.841)
        .when(F.col("df") == 2, 5.991)
        .when(F.col("df") == 3, 7.815)
        .when(F.col("df") == 4, 9.488)
        .when(F.col("df") == 5, 11.070)
        .when(F.col("df") == 6, 12.592)
        .when(F.col("df") == 7, 14.067)
    )
    return q.select(
        "n_days",
        "df",
        F.round("q_stat", 6).alias("q_stat"),
        crit.alias("chi2_crit_05"),
        (F.col("q_stat") > crit).alias("autocorrelated"),
    )


@query(
    "q_anomaly_seasonal",
    # Dense spine; per-DOW moments from exact BIGINT power sums; the z
    # and its ordering key are one shared IEEE chain; dow = epoch-day
    # mod 7 (integer, timezone-free).
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (
  SELECT unnest(generate_series(d0, d1)) AS day FROM b
),
x AS (
  SELECT s.day, s.day % 7 AS dow, CAST(COALESCE(d.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN d USING (day)
),
m AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
  FROM x GROUP BY dow
),
z AS (
  SELECT x.day, x.dow, x.c,
         CAST(m.s AS DOUBLE) / m.n AS mu,
         (CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
           / (m.n - 1) AS var
  FROM x JOIN m USING (dow) WHERE m.n > 1
),
f AS (
  SELECT day, CAST(dow AS INT) AS dow, c, round(mu, 6) AS expected,
         round((c - mu) / sqrt(var), 6) AS z,
         abs((c - mu) / sqrt(var)) AS az,
         CASE WHEN c > mu THEN 'spike' ELSE 'drop' END AS direction
  FROM z WHERE var > 0 AND abs((c - mu) / sqrt(var)) > 2.5
)
SELECT day, dow, c AS n_events, expected, z, direction
FROM f ORDER BY az DESC, day LIMIT 10
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week-adjusted volume anomalies: each day scored against
    ITS weekday's mean and std (top-10 by |z| at a 2.5σ gate) — the
    seasonality-aware alarm that q_anomaly (global σ) and
    q_anomaly_rolling (trailing window) both misfire on: every Sunday
    looks like a drop to a global baseline, and a Monday spike hides
    inside a window that just absorbed the weekend. Scoring against
    the weekday stratum is the standard first de-seasonalization and
    catches exactly the "normal for Tuesday, alarming for Sunday"
    class. dow is epoch-day mod 7 (integer, timezone-free; 0 =
    Thursday) — stated so downstream joins agree.

    Scale shape: one map-combinable reduce to daily counts; spine,
    per-DOW exact power sums (7 strata) and z-scores all live on the
    |days|-bounded frame; top-10 rides TakeOrderedAndProject on the
    shared IEEE |z| key. Degenerate guards: strata with n ≤ 1 or zero
    variance contribute no anomalies (NULL-safe, no division crash).
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    spine = rng.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    x = spine.join(d, "day", "left").select(
        "day",
        (F.col("day") % 7).alias("dow"),
        F.coalesce("c", F.lit(0)).cast("long").alias("c"),
    )
    m = x.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    ).filter(F.col("n") > 1)
    nn = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nn
    var = (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / nn) / (
        nn - 1
    )
    z = (F.col("c") - mu) / F.sqrt(var)
    az = F.abs(z)
    return (
        x.join(F.broadcast(m), "dow")
        .filter((var > 0) & (az > 2.5))
        .select(
            "day",
            F.col("dow").cast("int").alias("dow"),
            F.col("c").alias("n_events"),
            F.round(mu, 6).alias("expected"),
            F.round(z, 6).alias("z"),
            F.when(F.col("c") > mu, "spike").otherwise("drop").alias(
                "direction"
            ),
            az.alias("_az"),
        )
        .orderBy(F.col("_az").desc(), "day")
        .limit(10)
        .drop("_az")
    )


_HALFLIFE_MAX_AGE = 8


@query(
    "q_retention_halflife",
    # Pooled retention ratios are exact integer counts; each ln rides
    # the 9dp contract and multiplies a small-integer age (exact
    # DECIMAL products, the q_agg_trend discipline); the OLS slope /
    # half-life are one shared IEEE chain.
    oracle=f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events
),
cohort AS (
  SELECT user_id, min(week) AS c0 FROM uw GROUP BY user_id
),
horizon AS (SELECT max(week) AS wmax FROM uw),
ages AS (SELECT unnest(generate_series(1, {{maxage}})) AS age),
eligible AS (
  SELECT a.age, CAST(count(*) AS BIGINT) AS denom
  FROM ages a, cohort c, horizon h
  WHERE c.c0 + a.age <= h.wmax
  GROUP BY a.age
),
active AS (
  SELECT a.age, CAST(count(*) AS BIGINT) AS num
  FROM ages a
  JOIN cohort c ON true
  JOIN horizon h ON c.c0 + a.age <= h.wmax
  JOIN uw ON uw.user_id = c.user_id AND uw.week = c.c0 + a.age
  GROUP BY a.age
),
r AS (
  SELECT e.age, e.denom, COALESCE(ac.num, 0) AS num,
         CAST(COALESCE(ac.num, 0) AS DOUBLE) / e.denom AS rk
  FROM eligible e LEFT JOIN active ac USING (age)
  WHERE e.denom > 0
),
pts AS (
  SELECT age, rk,
         CAST(round(ln(rk), 9) AS DECIMAL(11,9)) AS y
  FROM r WHERE rk > 0
),
ols AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(age) AS BIGINT) AS sx,
         CAST(sum(age * age) AS BIGINT) AS sxx,
         sum(y) AS sy,
         sum(CAST(age AS DECIMAL(18,0)) * y) AS sxy
  FROM pts
)
SELECT n AS n_ages,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
         AS slope,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) < 0
            THEN round(-0.693147181
                       / ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx)), 6)
       END AS half_life_weeks,
       (SELECT round(rk, 6) FROM r WHERE age = 1) AS week1_retention
FROM ols WHERE n > 1 AND n * sxx - sx * sx > 0
""".format(maxage=_HALFLIFE_MAX_AGE),
)
def q_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: pooled weekly retention r_k (active at
    cohort-age k / users eligible to BE age k) fitted as
    ln r_k = a + b·k, half-life = ln2/(−b) — the single number that
    compresses q_retention's cohort triangle for roadmap math ("our
    users decay with a 3-week half-life") and makes two products'
    curves comparable when their horizons differ. Eligibility
    filtering (a cohort only counts at ages the data can still
    observe) is what makes the pooled ratio unbiased at the horizon
    edge — naive pooling undercounts late ages.

    Scale shape: one distinct (user, week) reduce, one min per user
    (both map-combinable, user-keyed); actives = one equi join of the
    cohort frame back to (user, week) on the exact (user, c0+k) key
    fanned over {k} compile-time ages; everything after lives on the
    ≤{k}-row age frame. The fit is the q_agg_trend discipline: exact
    integer x-sums, 9dp-DECIMAL ln ratios, exact DECIMAL cross
    products, one IEEE chain. Flat/rising curves emit NULL half-life
    (slope ≥ 0), not a division crash.
    """
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("c0"))
    horizon = F.broadcast(uw.agg(F.max("week").alias("wmax")))
    ages = spark.range(1, _HALFLIFE_MAX_AGE + 1).select(
        F.col("id").cast("long").alias("age")
    )
    ca = (
        cohort.crossJoin(F.broadcast(ages))
        .crossJoin(horizon)
        .filter(F.col("c0") + F.col("age") <= F.col("wmax"))
    )
    eligible = ca.groupBy("age").agg(
        F.count(F.lit(1)).cast("long").alias("denom")
    )
    active = (
        ca.join(
            uw.select(F.col("user_id").alias("u2"), F.col("week").alias("w2")),
            (F.col("u2") == F.col("user_id"))
            & (F.col("w2") == F.col("c0") + F.col("age")),
        )
        .groupBy("age")
        .agg(F.count(F.lit(1)).cast("long").alias("num"))
    )
    r = (
        eligible.join(active, "age", "left")
        .filter(F.col("denom") > 0)
        .select(
            "age",
            (
                F.coalesce("num", F.lit(0)).cast("double") / F.col("denom")
            ).alias("rk"),
        )
    )
    pts = r.filter(F.col("rk") > 0).select(
        "age", F.round(F.log("rk"), 9).cast("decimal(11,9)").alias("y")
    )
    ols = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("age").cast("long").alias("sx"),
        F.sum(F.col("age") * F.col("age")).cast("long").alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("age").cast("decimal(18,0)") * F.col("y")).alias("sxy"),
    )
    n, sx = F.col("n").cast("double"), F.col("sx").cast("double")
    slope = (n * F.col("sxy").cast("double") - sx * F.col("sy").cast("double")) / (
        n * F.col("sxx") - sx * F.col("sx")
    )
    wk1 = F.broadcast(
        r.filter(F.col("age") == 1).select(F.round("rk", 6).alias("week1_retention"))
    )
    return (
        ols.filter(
            (F.col("n") > 1)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        )
        .crossJoin(wk1)
        .select(
            F.col("n").alias("n_ages"),
            F.round(slope, 6).alias("slope"),
            F.when(slope < 0, F.round(-0.693147181 / slope, 6)).alias(
                "half_life_weeks"
            ),
            "week1_retention",
        )
    )


@query(
    "q_ts_seasonal_drift",
    # Exact integer cell/margin counts; each chi-square term is
    # 12dp-quantized into DECIMAL before the 14-cell sum (the
    # q_ts_seasonality PSI discipline); halves split on the exact
    # integer epoch-day midpoint.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day FROM events
),
b AS (
  SELECT min(day) AS d0,
         min(day) + (max(day) - min(day) + 1) // 2 AS mid FROM d
),
cells AS (
  SELECT CASE WHEN day < b.mid THEN 0 ELSE 1 END AS half,
         day % 7 AS dow, CAST(count(*) AS BIGINT) AS n
  FROM d CROSS JOIN b GROUP BY 1, 2
),
grid AS (
  SELECT h.half, w.dow, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
  FROM (SELECT unnest([0, 1]) AS half) h
  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS dow) w
  LEFT JOIN cells c ON c.half = h.half AND c.dow = w.dow
),
m AS (
  SELECT g.half, g.dow, g.n,
         rt.rn, ct.cn, tt.nn
  FROM grid g
  JOIN (SELECT half, CAST(sum(n) AS BIGINT) AS rn FROM grid GROUP BY 1) rt
    USING (half)
  JOIN (SELECT dow, CAST(sum(n) AS BIGINT) AS cn FROM grid GROUP BY 1) ct
    USING (dow)
  CROSS JOIN (SELECT CAST(sum(n) AS BIGINT) AS nn FROM grid) tt
),
terms AS (
  SELECT CAST(round(
           (n - CAST(rn AS DOUBLE) * cn / nn)
           * (n - CAST(rn AS DOUBLE) * cn / nn)
           / (CAST(rn AS DOUBLE) * cn / nn), 12) AS DECIMAL(24,12))
           AS t
  FROM m WHERE rn > 0 AND cn > 0 AND nn > 0
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(t) AS DOUBLE) AS chi2
  FROM terms
)
SELECT n_cells, round(chi2, 6) AS chi2, 6 AS df,
       12.592 AS chi2_crit_05,
       chi2 > 12.592 AS weekly_profile_drifted
FROM s WHERE n_cells > 0
""",
)
def q_ts_seasonal_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-profile drift test: two-sample chi-square of the
    day-of-week event distribution, first half of the calendar span
    vs second — "did the SHAPE of the week change", which
    q_ts_seasonality (profile vs uniform, one sample) and
    q_profile_drift (value distribution) both leave unanswered. The
    alarm that day-of-week-conditioned baselines (q_anomaly_seasonal's
    strata, staffing curves) have gone stale and need refitting.

    Scale shape: ONE map-combinable reduce to the 2×7 (half, dow)
    cell grid — the halves split on the exact integer epoch-day
    midpoint, dow = epoch-day mod 7, both engine-identical integer
    arithmetic; margins and expecteds live on the 14-cell frame; each
    chi-square term is 12dp-quantized into DECIMAL before the sum so
    the 14-term addition is merge-order-proof. Zero-margin cells drop
    from the statistic (stated; df stays 6 by the fixed 2×7 design).
    """
    e = load_table(spark, sf_dir, "events")
    d = e.select(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    )
    b = F.broadcast(
        d.agg(
            F.min("day").alias("d0"),
            (
                F.min("day")
                + F.floor((F.max("day") - F.min("day") + 1) / 2)
            )
            .cast("long")
            .alias("mid"),
        )
    )
    cells = (
        d.crossJoin(b)
        .groupBy(
            F.when(F.col("day") < F.col("mid"), 0).otherwise(1).alias("half"),
            (F.col("day") % 7).alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    halves = spark.range(0, 2).select(F.col("id").cast("int").alias("half"))
    dows = spark.range(0, 7).select(F.col("id").cast("long").alias("dow"))
    grid = (
        halves.crossJoin(dows)
        .join(cells, ["half", "dow"], "left")
        .select(
            "half", "dow", F.coalesce("n", F.lit(0)).cast("long").alias("n")
        )
    )
    rt = grid.groupBy("half").agg(F.sum("n").cast("long").alias("rn"))
    ct = grid.groupBy("dow").agg(F.sum("n").cast("long").alias("cn"))
    tt = F.broadcast(grid.agg(F.sum("n").cast("long").alias("nn")))
    ex = F.col("rn").cast("double") * F.col("cn") / F.col("nn")
    term = F.round((F.col("n") - ex) * (F.col("n") - ex) / ex, 12).cast(
        "decimal(24,12)"
    )
    terms = (
        grid.join(F.broadcast(rt), "half")
        .join(F.broadcast(ct), "dow")
        .crossJoin(tt)
        .filter((F.col("rn") > 0) & (F.col("cn") > 0) & (F.col("nn") > 0))
        .select(term.alias("t"))
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("t").cast("double").alias("chi2"),
    ).filter(F.col("n_cells") > 0)
    return s.select(
        "n_cells",
        F.round("chi2", 6).alias("chi2"),
        F.lit(6).alias("df"),
        F.lit(12.592).alias("chi2_crit_05"),
        (F.col("chi2") > 12.592).alias("weekly_profile_drifted"),
    )


@query(
    "q_ts_return_level",
    # Daily maxima of HOURLY counts are exact integers; the Gumbel
    # method-of-moments fit and both return levels are one shared IEEE
    # chain from exact BIGINT power sums; the two ln(-ln(1-1/T))
    # plotting constants are literals.
    oracle="""
WITH h AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr, count(*) AS c
  FROM events GROUP BY 1
),
dm AS (
  SELECT hr // 24 AS day, CAST(max(c) AS BIGINT) AS mx
  FROM h GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mx) AS BIGINT) AS s,
         CAST(sum(mx * mx) AS BIGINT) AS ss
  FROM dm
),
fit AS (
  SELECT n,
         CAST(s AS DOUBLE) / n AS mean,
         sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
           AS sd
  FROM m WHERE n > 1
),
g AS (
  SELECT n, mean, sd,
         sd * 0.7796968012336093 AS beta,
         mean - sd * 0.7796968012336093 * 0.5772156649015329 AS mu
  FROM fit WHERE sd > 0
)
SELECT n AS n_days, round(mean, 6) AS mean_daily_max,
       round(sd, 6) AS sd_daily_max,
       round(mu, 6) AS gumbel_mu, round(beta, 6) AS gumbel_beta,
       round(mu - beta * (-3.3842944934992527), 6) AS return_level_30d,
       round(mu - beta * (-4.494228221802722), 6) AS return_level_90d
FROM g
""",
)
def q_ts_return_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value return levels for peak load: Gumbel fit (method
    of moments) to the DAILY MAXIMUM of hourly event counts, with the
    30-day and 90-day return levels — the capacity-planning number
    ("what hourly peak should we expect once a month / once a
    quarter") that means and percentiles structurally understate:
    extremes follow their own distribution, and block maxima →
    Gumbel is the classical result. Method of moments (β = s√6/π,
    μ = m − γβ) keeps the fit closed-form IEEE; return level at
    period T is μ − β·ln(−ln(1−1/T)), the two plotting constants
    emitted as literals so no transcendental runs on data.

    Scale shape: one map-combinable reduce to hourly counts, one more
    to |days| block maxima, exact BIGINT power sums on the bounded
    frame, one closed-form row. Degenerate guards: n ≤ 1 or zero
    spread emits nothing (a constant series has no extreme-value
    story), never a division crash.
    """
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    dm = h.groupBy(F.expr("hr div 24").alias("day")).agg(
        F.max("c").cast("long").alias("mx")
    )
    m = dm.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mx").cast("long").alias("s"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("ss"),
    ).filter(F.col("n") > 1)
    nn = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nn
    sd = F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / nn)
        / (nn - 1)
    )
    beta = sd * 0.7796968012336093          # sqrt(6)/pi
    mu = mean - beta * 0.5772156649015329   # Euler-Mascheroni
    return (
        m.filter(sd > 0)
        .select(
            F.col("n").alias("n_days"),
            F.round(mean, 6).alias("mean_daily_max"),
            F.round(sd, 6).alias("sd_daily_max"),
            F.round(mu, 6).alias("gumbel_mu"),
            F.round(beta, 6).alias("gumbel_beta"),
            F.round(mu - beta * (-3.3842944934992527), 6).alias(
                "return_level_30d"
            ),
            F.round(mu - beta * (-4.494228221802722), 6).alias(
                "return_level_90d"
            ),
        )
    )


@query(
    "q_ts_gaps",
    # Pure integer gaps-and-islands on the dense day spine: run key =
    # day − row_number (constant per maximal zero run); every output
    # is an exact integer or one IEEE division.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN d USING (day)
),
z AS (
  SELECT day,
         day - row_number() OVER (ORDER BY day) AS grp
  FROM x WHERE c = 0
),
runs AS (
  SELECT grp, CAST(min(day) AS BIGINT) AS start_day,
         CAST(count(*) AS BIGINT) AS len
  FROM z GROUP BY grp
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(COALESCE(max(len), 0) AS BIGINT) AS longest
  FROM runs
),
longest_run AS (
  SELECT start_day FROM runs
  ORDER BY len DESC, start_day LIMIT 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(*) FILTER (WHERE c = 0) AS BIGINT) AS n_zero
  FROM x
)
SELECT tot.n_days, tot.n_zero AS n_zero_days,
       round(CAST(tot.n_zero AS DOUBLE) / tot.n_days, 6) AS zero_share,
       agg.n_gaps, agg.longest AS longest_gap_days,
       (SELECT start_day FROM longest_run) AS longest_gap_start
FROM tot CROSS JOIN agg WHERE tot.n_days > 0
""",
)
def q_ts_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-gap profile of the event stream: zero-event days on the
    dense calendar spine, their share, the count of maximal zero RUNS
    and the longest run with its start day — the classic
    gaps-and-islands readout, pointed at pipeline health ("is this
    feed continuous or did ingestion die for four days in March").
    q_dq_freshness asks how stale the END is; this audits the
    interior. The island key is pure integer arithmetic (day −
    row_number is constant exactly on consecutive days), no
    session-gap heuristics.

    Scale shape: one map-combinable reduce to daily counts; the
    spine, the zero-run window (|days|-bounded, keyed by the
    fold-proof bounded_part constant) and the run aggregate all live
    on the bounded frame; one closed-form row. A gap-free series
    reports 0 gaps with NULL start, not a crash.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    spine = rng.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    x = spine.join(d, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    wz = W.partitionBy(bounded_part(F.col("day"))).orderBy("day")
    z = x.filter(F.col("c") == 0).select(
        "day", (F.col("day") - F.row_number().over(wz)).alias("grp")
    )
    runs = z.groupBy("grp").agg(
        F.min("day").cast("long").alias("start_day"),
        F.count(F.lit(1)).cast("long").alias("len"),
    )
    agg = runs.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.coalesce(F.max("len"), F.lit(0)).cast("long").alias("longest"),
        F.min(
            F.struct(
                (-F.col("len")).alias("nl"), F.col("start_day").alias("sd")
            )
        )
        .getField("sd")
        .alias("longest_gap_start"),
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum((F.col("c") == 0).cast("long")).cast("long").alias("n_zero"),
    ).filter(F.col("n_days") > 0)
    return tot.crossJoin(F.broadcast(agg)).select(
        "n_days",
        F.col("n_zero").alias("n_zero_days"),
        F.round(
            F.col("n_zero").cast("double") / F.col("n_days"), 6
        ).alias("zero_share"),
        "n_gaps",
        F.col("longest").alias("longest_gap_days"),
        "longest_gap_start",
    )


@query(
    "q_ts_hurst",
    # Block power sums are exact BIGINTs; per-block mean/sd/cumdev are
    # one IEEE chain each, accumulated IN DAY ORDER (identical
    # sequential order both engines); per-m R/S means are 9dp-DECIMAL
    # armored; the 3-point log-log slope is closed-form conditional
    # aggregation over named m levels (order-free), ln(m) as literals.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN d USING (day)
),
xm AS (
  SELECT m, x.day, x.c, (x.day - b.d0) // m AS blk
  FROM x CROSS JOIN b CROSS JOIN (
    SELECT unnest([3, 6, 10]) AS m
  ) ms
),
per AS (
  SELECT m, blk, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
  FROM xm GROUP BY 1, 2
),
full_blk AS (
  SELECT m, blk,
         CAST(s AS DOUBLE) / n AS mean,
         sqrt((CAST(ss AS DOUBLE) / n)
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sd
  FROM per WHERE n = m
),
cum AS (
  SELECT x.m, x.blk, f.sd,
         sum(x.c - f.mean) OVER (
           PARTITION BY x.m, x.blk ORDER BY x.day
         ) AS y
  FROM xm x JOIN full_blk f ON x.m = f.m AND x.blk = f.blk
  WHERE f.sd > 0
),
rs AS (
  SELECT m, blk,
         CAST(round((max(y) - min(y)) / any_value(sd), 9)
              AS DECIMAL(28,12)) AS rs_val
  FROM cum GROUP BY 1, 2
),
mm AS (
  SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(rs_val) AS DOUBLE) / count(*) AS mean_rs
  FROM rs GROUP BY 1 HAVING count(*) >= 2
),
pts AS (
  SELECT max(CASE WHEN m = 3 THEN ln(mean_rs) END) AS y1,
         max(CASE WHEN m = 6 THEN ln(mean_rs) END) AS y2,
         max(CASE WHEN m = 10 THEN ln(mean_rs) END) AS y3
  FROM mm
),
fit AS (
  SELECT CASE WHEN y1 IS NOT NULL AND y2 IS NOT NULL AND y3 IS NOT NULL
    THEN ((1.0986122886681098 * y1 + 1.791759469228055 * y2
           + 2.302585092994046 * y3)
          - ((1.0986122886681098 + 1.791759469228055 + 2.302585092994046)
             * (y1 + y2 + y3) / 3))
         / ((1.0986122886681098 * 1.0986122886681098
             + 1.791759469228055 * 1.791759469228055
             + 2.302585092994046 * 2.302585092994046)
            - ((1.0986122886681098 + 1.791759469228055 + 2.302585092994046)
               * (1.0986122886681098 + 1.791759469228055
                  + 2.302585092994046) / 3))
    END AS hurst
  FROM pts
)
SELECT mm.m, mm.n_blocks, round(mm.mean_rs, 6) AS mean_rs,
       round(fit.hurst, 6) AS hurst
FROM mm CROSS JOIN fit
ORDER BY mm.m
""",
)
def q_ts_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-count series via rescaled-range
    (R/S) analysis over block sizes {3, 6, 10} days: H ≈ 0.5 means the
    load series is memoryless, H > 0.5 long-range dependent (bursts
    cluster — capacity planning cannot assume independent days and
    q_ts_return_level's i.i.d. block-maxima read is optimistic),
    H < 0.5 mean-reverting. Published per block size (n_blocks, mean
    R/S) plus the pooled log-log OLS slope, so the diagnostic shows its
    own evidence.

    Scale shape: one map-combinable reduce to daily counts; the spine
    replicates ×3 m-levels (|days|-bounded); per-(m, block) exact
    BIGINT power sums; the within-block cumulative deviation rides a
    window PARTITIONED by (m, block) with ≤ 10-row frames — thousands
    of genuine partition keys, never a single-partition sort; per-m
    means are 9dp-DECIMAL armored; the 3-point fit is conditional
    aggregation on one row. Fewer than 2 full blocks at an m-level
    drops that level; fewer than 3 surviving levels → NULL hurst, not
    a crash.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    spine = rng.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    x = spine.join(d, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    ms = spark.range(1).select(
        F.explode(F.array(F.lit(3), F.lit(6), F.lit(10))).alias("m")
    )
    xm = x.crossJoin(F.broadcast(ms)).crossJoin(b).select(
        "m", "day", "c", F.expr("(day - d0) div m").alias("blk")
    )
    per = xm.groupBy("m", "blk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt((F.col("ss").cast("double") / F.col("n")) - mean * mean)
    full_blk = per.filter(F.col("n") == F.col("m")).select(
        "m", "blk", mean.alias("mean"), sd.alias("sd")
    )
    wc = W.partitionBy("m", "blk").orderBy("day")
    cum = (
        xm.join(full_blk, ["m", "blk"])
        .filter(F.col("sd") > 0)
        .select(
            "m",
            "blk",
            "sd",
            F.sum(F.col("c") - F.col("mean")).over(wc).alias("y"),
        )
    )
    rs = cum.groupBy("m", "blk").agg(
        F.round(
            (F.max("y") - F.min("y")) / F.first("sd"), 9
        ).cast("decimal(28,12)").alias("rs_val")
    )
    mm = (
        rs.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            (F.sum("rs_val").cast("double") / F.count(F.lit(1))).alias(
                "mean_rs"
            ),
        )
        .filter(F.col("n_blocks") >= 2)
        .localCheckpoint(eager=False)  # feeds pts and the final join
    )
    pts = mm.agg(
        F.max(F.when(F.col("m") == 3, F.log("mean_rs"))).alias("y1"),
        F.max(F.when(F.col("m") == 6, F.log("mean_rs"))).alias("y2"),
        F.max(F.when(F.col("m") == 10, F.log("mean_rs"))).alias("y3"),
    )
    x1, x2, x3 = 1.0986122886681098, 1.791759469228055, 2.302585092994046
    sx = x1 + x2 + x3
    sxx = x1 * x1 + x2 * x2 + x3 * x3
    ysum = F.col("y1") + F.col("y2") + F.col("y3")
    hurst = F.when(
        F.col("y1").isNotNull()
        & F.col("y2").isNotNull()
        & F.col("y3").isNotNull(),
        (
            (x1 * F.col("y1") + x2 * F.col("y2") + x3 * F.col("y3"))
            - (sx * ysum / 3)
        )
        / (sxx - sx * sx / 3),
    )
    fit = pts.select(hurst.alias("hurst"))
    return (
        mm.crossJoin(F.broadcast(fit))
        .select(
            "m",
            "n_blocks",
            F.round("mean_rs", 6).alias("mean_rs"),
            F.round("hurst", 6).alias("hurst"),
        )
        .orderBy("m")
    )


@query(
    "q_events_hazard",
    # Tenure weeks, censoring flags, at-risk and death counts are all
    # exact integers (day arithmetic + counts); the hazard is one
    # integer division per bounded week row.
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(min(floor(epoch(ts) / 86400)) AS BIGINT) AS first_day,
         CAST(max(floor(epoch(ts) / 86400)) AS BIGINT) AS last_day
  FROM events GROUP BY 1
),
g AS (SELECT max(last_day) AS gmax FROM u),
t AS (
  SELECT user_id, (last_day - first_day) // 7 AS tenure_w,
         (last_day > g.gmax - 7) AS censored
  FROM u CROSS JOIN g
),
wk AS (
  SELECT unnest(generate_series(0, (SELECT max(tenure_w) FROM t))) AS w
),
lt AS (
  SELECT wk.w,
         CAST((SELECT count(*) FROM t WHERE t.tenure_w >= wk.w) AS BIGINT)
           AS at_risk,
         CAST((SELECT count(*) FROM t
               WHERE t.tenure_w = wk.w AND NOT t.censored) AS BIGINT)
           AS died,
         CAST((SELECT count(*) FROM t
               WHERE t.tenure_w = wk.w AND t.censored) AS BIGINT)
           AS censored_n
  FROM wk
)
SELECT w, at_risk, died, censored_n,
       round(died * 1.0 / at_risk, 6) AS hazard
FROM lt WHERE at_risk > 0 ORDER BY w
""",
)
def q_events_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time hazard life table by tenure week: for each week
    since a user's first event, the conditional churn probability
    P(last activity falls in week w | survived to week w) — the
    actuarial view q_ts_survival's Kaplan-Meier curve integrates away:
    the HAZARD says WHEN churn risk spikes (the week-1 cliff vs the
    slow bleed), which is where lifecycle interventions get aimed.
    Users still active in the final observation week are censored
    (reported, not counted as deaths) — the standard right-censoring
    correction without which the last rows fake a 100% churn spike.

    Scale shape: one user-keyed map-combinable reduce to (first, last)
    day pairs, one O(1) horizon broadcast, then a |weeks|-bounded
    life-table aggregate (at-risk counts via one conditional sum per
    bounded week against the |users| frame — expressed as a
    range-join-free conditional aggregation, never a per-user window).
    Exact integers throughout; one division per emitted row.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(F.floor(F.unix_timestamp("ts") / 86400))
        .cast("long")
        .alias("first_day"),
        F.max(F.floor(F.unix_timestamp("ts") / 86400))
        .cast("long")
        .alias("last_day"),
    )
    g = F.broadcast(u.agg(F.max("last_day").alias("gmax")))
    t = u.crossJoin(g).select(
        F.expr("(last_day - first_day) div 7").alias("tenure_w"),
        (F.col("last_day") > F.col("gmax") - 7).alias("censored"),
    )
    # |weeks| is bounded (observation span / 7): aggregate the user
    # frame once per statistic, keyed by tenure week, then build the
    # at-risk tail sums on the bounded week frame itself.
    per_w = t.groupBy("tenure_w").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("died"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("censored_n"),
    )
    # unhinted: this 1-row frame only seeds the week spine; a hint here
    # would leak into the spine's left-join branch and be dropped
    wmax = per_w.agg(F.max("tenure_w").alias("wm"))
    wk = wmax.select(
        F.explode(F.sequence(F.lit(0), F.col("wm"))).alias("w")
    )
    lt = (
        wk.join(per_w, wk.w == per_w.tenure_w, "left")
        .select(
            "w",
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
            F.coalesce("died", F.lit(0)).alias("died"),
            F.coalesce("censored_n", F.lit(0)).alias("censored_n"),
        )
    )
    # at_risk(w) = Σ_{v >= w} n_users(v): a descending running sum on
    # the bounded week frame (fold-proof constant partition key).
    wdesc = (
        W.partitionBy(bounded_part(F.col("w")))
        .orderBy(F.col("w").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        lt.select(
            "w",
            F.sum("n_users").over(wdesc).cast("long").alias("at_risk"),
            F.col("died").cast("long").alias("died"),
            F.col("censored_n").cast("long").alias("censored_n"),
        )
        .filter(F.col("at_risk") > 0)
        .select(
            "w",
            "at_risk",
            "died",
            "censored_n",
            F.round(F.col("died") * 1.0 / F.col("at_risk"), 6).alias(
                "hazard"
            ),
        )
        .orderBy("w")
    )


# SAX config: 4-symbol alphabet at the standard Gaussian breakpoints,
# 3-day words. Literals so no inverse-CDF runs anywhere.
_SAX_BP = (-0.6744897501960817, 0.0, 0.6744897501960817)
_SAX_WORD = 3


@query(
    "q_ts_sax",
    # The z-score is one IEEE chain from exact BIGINT power sums per
    # day; symbol assignment compares against literal breakpoints;
    # words and counts are exact strings/integers; one division per
    # output row.
    oracle=f"""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN d USING (day)
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM x
),
z AS (
  SELECT day,
         (c - CAST(s AS DOUBLE) / n)
           / sqrt((CAST(ss AS DOUBLE) / n)
                  - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
           AS zv
  FROM x CROSS JOIN m
  WHERE (CAST(ss AS DOUBLE) / n)
        - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
),
sym AS (
  SELECT day,
         CASE WHEN zv < {_SAX_BP[0]} THEN 'a'
              WHEN zv < {_SAX_BP[1]} THEN 'b'
              WHEN zv < {_SAX_BP[2]} THEN 'c'
              ELSE 'd' END AS s
  FROM z
),
words AS (
  SELECT s || lead(s, 1) OVER (ORDER BY day)
           || lead(s, 2) OVER (ORDER BY day) AS word
  FROM sym
),
wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM words WHERE word IS NOT NULL GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM wc)
SELECT word, n, round(n * 1.0 / t, 6) AS share
FROM wc CROSS JOIN tot
ORDER BY n DESC, word LIMIT 10
""",
)
def q_ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) motif census of the
    daily load series: z-normalize the dense day spine, discretize at
    the standard Gaussian quartile breakpoints into a 4-symbol
    alphabet, slide a 3-day word, publish the top-10 motifs with
    shares — the classical time-series-mining move that turns "what
    patterns does this series repeat" into a countable vocabulary
    ('dba' = spike-crash-recover). Motif counting, anomaly discord
    hunting, and cross-series indexing all start from exactly this
    symbolization; breakpoints are literals so no inverse CDF runs on
    data.

    Scale shape: one map-combinable reduce to daily counts; the
    z-score uses exact global BIGINT power sums (one O(1) broadcast);
    symbolization is row-local; the 3-day word window and the motif
    count live on the |days|-bounded spine (fold-proof constant
    partition key); top-10 is a TakeOrderedAndProject. A zero-variance
    series emits nothing (no symbols without spread), never a divide
    crash.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    spine = rng.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    x = spine.join(d, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    m = F.broadcast(
        x.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("ss").cast("double") / F.col("n")) - mean * mean
    z = (
        x.crossJoin(m)
        .filter(var > 0)
        .select("day", ((F.col("c") - mean) / F.sqrt(var)).alias("zv"))
    )
    sym = z.select(
        "day",
        F.when(F.col("zv") < _SAX_BP[0], "a")
        .when(F.col("zv") < _SAX_BP[1], "b")
        .when(F.col("zv") < _SAX_BP[2], "c")
        .otherwise("d")
        .alias("s"),
    )
    ws = W.partitionBy(bounded_part(F.col("day"))).orderBy("day")
    words = sym.select(
        F.concat(
            "s", F.lead("s", 1).over(ws), F.lead("s", 2).over(ws)
        ).alias("word")
    ).filter(F.col("word").isNotNull())
    wc = words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = F.broadcast(wc.agg(F.sum("n").cast("long").alias("t")))
    return (
        wc.crossJoin(tot)
        .select("word", "n", F.round(F.col("n") * 1.0 / F.col("t"), 6).alias("share"))
        .orderBy(F.col("n").desc(), "word")
        .limit(10)
    )


@query(
    "q_ts_strength",
    # Trend is a centered 7-day MA (exact integer sum / count per
    # frame); detrended, seasonal and residual values are per-row IEEE
    # chains; every variance term is 9dp/6dp-quantized into DECIMAL
    # before its order-free sum; strengths are one chain on one row.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s LEFT JOIN d USING (day)
),
tr AS (
  SELECT day, y,
         CAST(sum(y) OVER w AS DOUBLE) / count(*) OVER w AS t
  FROM x
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (SELECT day, y, t, y - t AS dt FROM tr),
sea AS (
  SELECT day % 7 AS dow,
         CAST(sum(CAST(round(dt, 9) AS DECIMAL(28,12))) AS DOUBLE)
           / count(*) AS s
  FROM det GROUP BY 1
),
r AS (
  SELECT det.day, det.y, det.t, det.dt, sea.s,
         det.dt - sea.s AS res,
         det.y - sea.s AS ts2
  FROM det JOIN sea ON det.day % 7 = sea.dow
),
v AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(dt, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s_dt,
         CAST(sum(CAST(round(dt * dt, 6) AS DECIMAL(38,12))) AS DOUBLE)
           AS ss_dt,
         CAST(sum(CAST(round(res, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s_r,
         CAST(sum(CAST(round(res * res, 6) AS DECIMAL(38,12))) AS DOUBLE)
           AS ss_r,
         CAST(sum(CAST(round(ts2, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s_tr,
         CAST(sum(CAST(round(ts2 * ts2, 6) AS DECIMAL(38,12))) AS DOUBLE)
           AS ss_tr
  FROM r
)
SELECT n AS n_days,
       round((ss_dt - s_dt * s_dt / n) / n, 6) AS var_detrended,
       round((ss_r - s_r * s_r / n) / n, 6) AS var_resid,
       round(greatest(0, 1 - ((ss_r - s_r * s_r / n) / n)
                           / ((ss_dt - s_dt * s_dt / n) / n)), 6)
         AS seasonal_strength,
       round(greatest(0, 1 - ((ss_r - s_r * s_r / n) / n)
                           / ((ss_tr - s_tr * s_tr / n) / n)), 6)
         AS trend_strength
FROM v
WHERE n > 1 AND (ss_dt - s_dt * s_dt / n) / n > 0
  AND (ss_tr - s_tr * s_tr / n) / n > 0
""",
)
def q_ts_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality and trend STRENGTH of the daily load series
    (Hyndman's STL-based measures: F_s = max(0, 1 − Var(R)/Var(S+R)),
    F_t = max(0, 1 − Var(R)/Var(T+R)) from a 7-day-MA trend and a
    day-of-week seasonal) — the one-number-per-component verdict
    q_ts_decompose's full component table doesn't give: "is this
    series seasonal ENOUGH that the dashboard should deseasonalize /
    the anomaly detector should stratify by weekday" becomes a
    threshold on F_s. Both strengths publish beside their variance
    evidence.

    Scale shape: one map-combinable reduce to daily counts; trend MA,
    dow seasonal means (7-row armored frame) and the variance pass all
    live on the |days|-bounded spine; every variance term is
    9dp/6dp-quantized into DECIMAL before the order-free sum; output
    is one closed-form row. Degenerate variances emit nothing rather
    than dividing.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    spine = rng.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    x = spine.join(d, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).cast("long").alias("y")
    )
    wma = (
        W.partitionBy(bounded_part(F.col("day")))
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = x.select(
        "day",
        "y",
        (
            F.sum("y").over(wma).cast("double")
            / F.count(F.lit(1)).over(wma)
        ).alias("t"),
    )
    det = tr.select(
        "day", "y", "t", (F.col("y") - F.col("t")).alias("dt")
    )
    sea = F.broadcast(
        det.groupBy((F.col("day") % 7).alias("dow")).agg(
            (
                F.sum(F.round("dt", 9).cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("s")
        )
    )
    r = det.join(sea, det.day % 7 == sea.dow).select(
        (F.col("dt") - F.col("s")).alias("res"),
        (F.col("y") - F.col("s")).alias("ts2"),
        "dt",
    )
    def _arm(c, p9, p6):
        return (
            F.sum(F.round(F.col(c), 9).cast("decimal(28,12)"))
            .cast("double")
            .alias(p9),
            F.sum(F.round(F.col(c) * F.col(c), 6).cast("decimal(38,12)"))
            .cast("double")
            .alias(p6),
        )
    v = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *_arm("dt", "s_dt", "ss_dt"),
        *_arm("res", "s_r", "ss_r"),
        *_arm("ts2", "s_tr", "ss_tr"),
    )
    n = F.col("n")
    var_dt = (F.col("ss_dt") - F.col("s_dt") * F.col("s_dt") / n) / n
    var_r = (F.col("ss_r") - F.col("s_r") * F.col("s_r") / n) / n
    var_tr = (F.col("ss_tr") - F.col("s_tr") * F.col("s_tr") / n) / n
    return (
        v.filter((n > 1) & (var_dt > 0) & (var_tr > 0))
        .select(
            n.alias("n_days"),
            F.round(var_dt, 6).alias("var_detrended"),
            F.round(var_r, 6).alias("var_resid"),
            F.round(F.greatest(F.lit(0.0), 1 - var_r / var_dt), 6).alias(
                "seasonal_strength"
            ),
            F.round(F.greatest(F.lit(0.0), 1 - var_r / var_tr), 6).alias(
                "trend_strength"
            ),
        )
    )


@query(
    "q_events_templates",
    # The template key is a pure regex digit-mask both engines share
    # (RE2 ≡ Java regex on [0-9]+); counts, user counts and first-seen
    # days are exact integers; share is one division per row.
    oracle="""
WITH t AS (
  SELECT event_type || ':' || regexp_replace(props, '[0-9]+', '#', 'g')
           AS template,
         user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events WHERE props IS NOT NULL
),
g AS (
  SELECT template, CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(min(day) AS BIGINT) AS first_day
  FROM t GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM g)
SELECT template, n, n_users, first_day,
       round(n * 1.0 / tn, 6) AS share
FROM g CROSS JOIN tot
ORDER BY n DESC, template LIMIT 20
""",
)
def q_events_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-template mining over the event payloads: mask digit runs in
    `props` (the Drain/log-parsing move: '{"k": 87}' and '{"k": 12}'
    are ONE template), key by event_type + masked payload, publish the
    top-20 templates with volume, distinct-user reach, and first-seen
    day — the triage view that turns an unbounded payload namespace
    into a countable schema ("this new template appeared on day 14 and
    is 3% of volume" is an incident breadcrumb; a template with huge
    volume and one user is a runaway client).

    Scale shape: row-local regex mask (JVM codegen, the engine-shared
    digit class), one template-keyed map-combinable aggregate (the
    payload never shuffles raw — only the masked template string),
    top-20 via TakeOrderedAndProject. Template cardinality, not event
    volume, bounds everything downstream.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("props").isNotNull()
    )
    t = e.select(
        F.concat(
            F.col("event_type"),
            F.lit(":"),
            F.regexp_replace("props", "[0-9]+", "#"),
        ).alias("template"),
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    )
    g = t.groupBy("template").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.min("day").cast("long").alias("first_day"),
    )
    tot = F.broadcast(g.agg(F.sum("n").cast("long").alias("tn")))
    return (
        g.crossJoin(tot)
        .select(
            "template",
            "n",
            "n_users",
            "first_day",
            F.round(F.col("n") * 1.0 / F.col("tn"), 6).alias("share"),
        )
        .orderBy(F.col("n").desc(), "template")
        .limit(20)
    )


@query(
    "q_ts_mtbf",
    # Outage runs are pure integer gaps-and-islands (day − row_number
    # keys); MTBF/MTTR/availability are one integer division each on
    # the single summary row.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
x AS (
  SELECT s.day, CAST(COALESCE(d.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN d USING (day)
),
z AS (
  SELECT day, day - row_number() OVER (ORDER BY day) AS grp
  FROM x WHERE c = 0
),
runs AS (
  SELECT grp, CAST(min(day) AS BIGINT) AS start_day,
         CAST(count(*) AS BIGINT) AS len
  FROM z GROUP BY 1
),
gaps AS (
  SELECT start_day - lag(start_day) OVER (ORDER BY start_day) AS between_days
  FROM runs
),
agg AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM x) AS n_days,
    (SELECT CAST(count(*) AS BIGINT) FROM x WHERE c = 0) AS down_days,
    (SELECT CAST(count(*) AS BIGINT) FROM runs) AS n_outages,
    (SELECT CAST(sum(between_days) AS BIGINT) FROM gaps
     WHERE between_days IS NOT NULL) AS sum_between,
    (SELECT CAST(count(*) AS BIGINT) FROM gaps
     WHERE between_days IS NOT NULL) AS n_between
)
SELECT n_days, n_outages, down_days,
       round((n_days - down_days) * 1.0 / n_days, 6) AS availability,
       round(CASE WHEN n_outages > 0
                  THEN down_days * 1.0 / n_outages END, 6) AS mttr_days,
       round(CASE WHEN n_between > 0
                  THEN sum_between * 1.0 / n_between END, 6) AS mtbf_days
FROM agg
""",
)
def q_ts_mtbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTBF / MTTR / availability of the event feed, treating
    zero-event days as outages: mean days between consecutive outage
    STARTS (MTBF), mean outage length (MTTR), and uptime share — the
    three numbers an SRE review quotes, computed from the same
    gaps-and-islands machinery as q_ts_gaps but summarized the
    reliability-engineering way (q_ts_gaps profiles the gaps;
    q_events_outage detects them live; this prices the feed's
    reliability in the units capacity contracts are written in).

    Scale shape: one map-combinable reduce to daily counts; islands,
    the between-outage lag and the summary all live on the
    |days|-bounded spine (fold-proof constant partition keys); one
    closed-form row. Zero outages → NULL MTTR/MTBF with availability
    1.0; a single outage → NULL MTBF (no between-gap exists), never a
    crash.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    spine = rng.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    x = spine.join(d, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    ).localCheckpoint(eager=False)  # feeds totals and the island pass
    wz = W.partitionBy(bounded_part(F.col("day"))).orderBy("day")
    runs = (
        x.filter(F.col("c") == 0)
        .select("day", (F.col("day") - F.row_number().over(wz)).alias("grp"))
        .groupBy("grp")
        .agg(
            F.min("day").cast("long").alias("start_day"),
            F.count(F.lit(1)).cast("long").alias("len"),
        )
    )
    wg = W.partitionBy(bounded_part(F.col("start_day"))).orderBy("start_day")
    gaps = runs.select(
        (F.col("start_day") - F.lag("start_day").over(wg)).alias(
            "between_days"
        )
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0))
        .cast("long")
        .alias("down_days"),
    )
    outs = runs.agg(F.count(F.lit(1)).cast("long").alias("n_outages"))
    btw = gaps.filter(F.col("between_days").isNotNull()).agg(
        F.sum("between_days").cast("long").alias("sum_between"),
        F.count(F.lit(1)).cast("long").alias("n_between"),
    )
    agg = tot.crossJoin(F.broadcast(outs)).crossJoin(F.broadcast(btw))
    return agg.select(
        "n_days",
        "n_outages",
        "down_days",
        F.round(
            (F.col("n_days") - F.col("down_days")) * 1.0 / F.col("n_days"),
            6,
        ).alias("availability"),
        F.round(
            F.when(
                F.col("n_outages") > 0,
                F.col("down_days") * 1.0 / F.col("n_outages"),
            ),
            6,
        ).alias("mttr_days"),
        F.round(
            F.when(
                F.col("n_between") > 0,
                F.col("sum_between") * 1.0 / F.col("n_between"),
            ),
            6,
        ).alias("mtbf_days"),
    )


_DWELL_TOP = 10


@query(
    "q_events_dwell",
    # Transition keys are strings, gaps are exact integer seconds
    # (unix_timestamp floors identically); top-10 selection orders by
    # exact counts; median/p90 are integer-rank selections on the
    # grouped dist_cumsum spine; the mean is one integer division.
    oracle=f"""
WITH s AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         lag(event_type) OVER w AS prev_type,
         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS prev_sec
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
t AS (
  SELECT prev_type || '->' || event_type AS trans,
         sec - prev_sec AS gap_s
  FROM s WHERE prev_type IS NOT NULL
),
top AS (
  SELECT trans, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gap_s) AS BIGINT) AS sg
  FROM t GROUP BY trans
  ORDER BY n DESC, trans LIMIT {_DWELL_TOP}
),
g AS (
  SELECT t.trans, t.gap_s, count(*) AS cnt
  FROM t JOIN top USING (trans) GROUP BY 1, 2
),
c AS (
  SELECT trans, gap_s,
         CAST(sum(cnt) OVER (PARTITION BY trans ORDER BY gap_s)
              AS BIGINT) AS cum
  FROM g
)
SELECT top.trans, top.n,
       round(top.sg * 1.0 / top.n, 6) AS mean_gap_s,
       CAST(min(CASE WHEN c.cum >= (top.n * 50 + 99) // 100
                     THEN c.gap_s END) AS BIGINT) AS median_gap_s,
       CAST(min(CASE WHEN c.cum >= (top.n * 90 + 99) // 100
                     THEN c.gap_s END) AS BIGINT) AS p90_gap_s
FROM c JOIN top USING (trans)
GROUP BY top.trans, top.n, top.sg
ORDER BY top.n DESC, top.trans
""",
)
def q_events_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time distribution per event-type TRANSITION: for the
    top-10 transitions (prev→next), the exact mean / median / p90
    seconds users spend between those two events — the timing layer
    q_events_markov's transition PROBABILITIES don't carry ("view→
    purchase happens 12% of the time" vs "…and takes 40s median,
    20min p90" are different product facts; checkout friction lives in
    the second). Global inter-arrival (q_ts_interarrival) averages all
    transitions together, which is exactly what this decomposes.

    Scale shape: one user-keyed window (genuine partition key, per-
    user frames) builds transitions; the top-10 cutoff is an exact
    TakeOrderedAndProject; the rank stats ride the grouped
    q_agg_median_exact device — per-transition distinct-gap counts →
    ``dist_cumsum(part_cols=[trans])`` → integer-rank selections — no
    per-group sort buffer at any event volume. Gaps are exact integer
    seconds; the mean is the only division.
    """
    e = load_table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    s = e.select(
        "event_type",
        sec.alias("sec"),
        F.lag("event_type").over(wu).alias("prev_type"),
        F.lag(sec).over(wu).alias("prev_sec"),
    )
    t = s.filter(F.col("prev_type").isNotNull()).select(
        F.concat(F.col("prev_type"), F.lit("->"), F.col("event_type")).alias(
            "trans"
        ),
        (F.col("sec") - F.col("prev_sec")).alias("gap_s"),
    ).localCheckpoint(eager=False)  # feeds top, g
    top = (
        t.groupBy("trans")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("gap_s").cast("long").alias("sg"),
        )
        .orderBy(F.col("n").desc(), "trans")
        .limit(_DWELL_TOP)
    )
    g = (
        t.join(F.broadcast(top.select("trans")), "trans")
        .groupBy("trans", "gap_s")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = dist_cumsum(g, "gap_s", ["cnt"], part_cols=["trans"])
    sel = (
        c.join(F.broadcast(top), "trans")
        .groupBy("trans")
        .agg(
            F.min(
                F.when(
                    F.col("cum_cnt") >= F.expr("(n * 50 + 99) div 100"),
                    F.col("gap_s"),
                )
            ).cast("long").alias("median_gap_s"),
            F.min(
                F.when(
                    F.col("cum_cnt") >= F.expr("(n * 90 + 99) div 100"),
                    F.col("gap_s"),
                )
            ).cast("long").alias("p90_gap_s"),
        )
    )
    return (
        top.join(sel, "trans")
        .select(
            "trans",
            "n",
            F.round(F.col("sg") * 1.0 / F.col("n"), 6).alias("mean_gap_s"),
            "median_gap_s",
            "p90_gap_s",
        )
        .orderBy(F.col("n").desc(), "trans")
    )


_DEB_BUCKET_H = 6       # state bucket width, hours
_DEB_ERR_THR = 0.25     # error share that raises the alert state


@query(
    "q_ts_debounce",
    # Bucket states come from exact integer counts vs a literal
    # threshold; flip detection, island keys and run lengths are pure
    # integer window arithmetic on the bounded bucket spine; one
    # division for the suppression share.
    oracle=f"""
WITH b AS (
  SELECT CAST(floor(epoch(ts) / {_DEB_BUCKET_H * 3600}) AS BIGINT) AS bk,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS errs
  FROM events GROUP BY 1
),
r AS (SELECT min(bk) AS b0, max(bk) AS b1 FROM b),
spine AS (SELECT unnest(generate_series(b0, b1)) AS bk FROM r),
x AS (
  SELECT s.bk,
         (COALESCE(b.errs, 0) * 1.0
          > {_DEB_ERR_THR} * COALESCE(b.n, 0)) AND COALESCE(b.n, 0) > 0
           AS alarm
  FROM spine s LEFT JOIN b USING (bk)
),
isl AS (
  SELECT bk, alarm,
         bk - row_number() OVER (PARTITION BY alarm ORDER BY bk) AS grp
  FROM x
),
runs AS (
  SELECT alarm, grp, CAST(min(bk) AS BIGINT) AS start_bk,
         CAST(count(*) AS BIGINT) AS len
  FROM isl GROUP BY 1, 2
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS raw_alerts,
         CAST(count(*) FILTER (len >= 2) AS BIGINT) AS debounced_alerts,
         CAST(count(*) FILTER (len = 1) AS BIGINT) AS suppressed_flaps,
         CAST(max(CASE WHEN len >= 2 THEN len END) AS BIGINT)
           AS longest_alert_buckets
  FROM runs WHERE alarm
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets FROM x)
SELECT t.n_buckets, a.raw_alerts, a.debounced_alerts,
       a.suppressed_flaps, a.longest_alert_buckets,
       round(CASE WHEN a.raw_alerts > 0
                  THEN a.suppressed_flaps * 1.0 / a.raw_alerts END, 6)
         AS flap_share
FROM a CROSS JOIN t
""",
)
def q_ts_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert debouncing audit: raise an alarm when a 6-hour bucket's
    error share crosses 25%, then count RAW alert episodes vs
    DEBOUNCED ones (episodes lasting ≥ 2 buckets) and the single-
    bucket flaps suppressed — the paging-hygiene analysis behind every
    "for ≥ N minutes" alert clause: a threshold that technically fires
    40 times but 35 are one-bucket flaps needs debounce, not a new
    threshold (q_events_outage detects episodes; this prices the
    flappiness of the DETECTOR itself).

    Scale shape: one map-combinable reduce to 6-hour buckets, then
    gaps-and-islands (alarm-state islands via the integer
    bk − row_number key) and the episode aggregate entirely on the
    |buckets|-bounded spine with fold-proof constant partition keys
    scoped per state. One division. A feed with zero alarms reports
    zero episodes and NULL longest/flap-share, not a crash.
    """
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy(
        F.floor(F.unix_timestamp("ts") / (_DEB_BUCKET_H * 3600))
        .cast("long")
        .alias("bk")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errs"),
    )
    # unhinted: bounds only seed the bucket spine; a hint here leaks
    # into the spine's left-join branch and is dropped (r10 hint audit)
    r = b.agg(F.min("bk").alias("b0"), F.max("bk").alias("b1"))
    spine = r.select(F.explode(F.sequence("b0", "b1")).alias("bk"))
    x = spine.join(b, "bk", "left").select(
        "bk",
        (
            (
                F.coalesce("errs", F.lit(0)) * 1.0
                > _DEB_ERR_THR * F.coalesce("n", F.lit(0))
            )
            & (F.coalesce("n", F.lit(0)) > 0)
        ).alias("alarm"),
    ).localCheckpoint(eager=False)  # feeds islands and the bucket total
    wi = W.partitionBy("alarm").orderBy("bk")
    runs = (
        x.select(
            "alarm",
            "bk",
            (F.col("bk") - F.row_number().over(wi)).alias("grp"),
        )
        .groupBy("alarm", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("len"))
    )
    a = runs.filter(F.col("alarm")).agg(
        F.count(F.lit(1)).cast("long").alias("raw_alerts"),
        F.sum(F.when(F.col("len") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("debounced_alerts"),
        F.sum(F.when(F.col("len") == 1, 1).otherwise(0))
        .cast("long")
        .alias("suppressed_flaps"),
        F.max(F.when(F.col("len") >= 2, F.col("len")))
        .cast("long")
        .alias("longest_alert_buckets"),
    )
    t = F.broadcast(
        x.agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    )
    return a.crossJoin(t).select(
        "n_buckets",
        "raw_alerts",
        "debounced_alerts",
        "suppressed_flaps",
        "longest_alert_buckets",
        F.round(
            F.when(
                F.col("raw_alerts") > 0,
                F.col("suppressed_flaps") * 1.0 / F.col("raw_alerts"),
            ),
            6,
        ).alias("flap_share"),
    )


@query(
    "q_ts_its",
    # Both segments' OLS power sums are exact BIGINTs on the day
    # spine (one conditional aggregate); the two fits, the break-point
    # level change and the slope change are one shared IEEE chain on
    # the single output row.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
x AS (
  SELECT s.day - b.d0 AS t,
         CAST(COALESCE(d.c, 0) AS BIGINT) AS y,
         (b.d1 - b.d0) // 2 AS t0
  FROM spine s CROSS JOIN b LEFT JOIN d ON d.day = s.day
),
m AS (
  SELECT max(t0) AS t0,
         CAST(count(*) FILTER (t < t0) AS BIGINT) AS n_pre,
         CAST(sum(t) FILTER (t < t0) AS BIGINT) AS sx0,
         CAST(sum(y) FILTER (t < t0) AS BIGINT) AS sy0,
         CAST(sum(t * y) FILTER (t < t0) AS BIGINT) AS sxy0,
         CAST(sum(t * t) FILTER (t < t0) AS BIGINT) AS sxx0,
         CAST(count(*) FILTER (t >= t0) AS BIGINT) AS n_post,
         CAST(sum(t) FILTER (t >= t0) AS BIGINT) AS sx1,
         CAST(sum(y) FILTER (t >= t0) AS BIGINT) AS sy1,
         CAST(sum(t * y) FILTER (t >= t0) AS BIGINT) AS sxy1,
         CAST(sum(t * t) FILTER (t >= t0) AS BIGINT) AS sxx1
  FROM x
),
f AS (
  SELECT t0, n_pre, n_post,
         (CAST(sxy0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sy0 / n_pre)
           / (CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sx0 / n_pre)
           AS b0,
         (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy1 / n_post)
           / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n_post)
           AS b1,
         CAST(sy0 AS DOUBLE) / n_pre AS my0,
         CAST(sx0 AS DOUBLE) / n_pre AS mx0,
         CAST(sy1 AS DOUBLE) / n_post AS my1,
         CAST(sx1 AS DOUBLE) / n_post AS mx1
  FROM m
  WHERE n_pre > 2 AND n_post > 2
    AND CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sx0 / n_pre > 0
    AND CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n_post > 0
)
SELECT t0 AS break_t, n_pre, n_post,
       round(b0, 6) AS pre_slope, round(b1, 6) AS post_slope,
       round(b1 - b0, 6) AS slope_change,
       round(((my1 - b1 * mx1) + b1 * t0)
             - ((my0 - b0 * mx0) + b0 * t0), 6) AS level_change
FROM f
""",
)
def q_ts_its(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series (segmented regression) readout at the
    series midpoint: separate OLS trend fits before and after the
    break, publishing the SLOPE change and the LEVEL change at the
    break — the single-series causal-inference workhorse (policy
    rollout, pricing change, incident) where q_events_did needs a
    control group this design doesn't have. The break here is the
    midpoint (a self-diagnostic: near-zero changes certify trend
    stability); in production the break date is the intervention
    date, same plan.

    Scale shape: one map-combinable reduce to daily counts; BOTH
    segments' five OLS power sums come from ONE conditional aggregate
    over the |days|-bounded spine (exact BIGINTs); the two fits and
    both deltas are a closed-form chain on one row. Segments too
    short or degenerate emit nothing.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    # hint only at the use-site: deriving the spine from the HINTED
    # frame leaks the ResolvedHint into the spine's join branch, where
    # Spark drops it ("build left for left outer join") — r10 hint audit
    b = F.broadcast(rng)
    spine = rng.select(
        F.explode(F.sequence("d0", "d1")).alias("day"), "d0", "d1"
    )
    x = spine.join(d, "day", "left").select(
        (F.col("day") - F.col("d0")).alias("t"),
        F.coalesce("c", F.lit(0)).cast("long").alias("y"),
        F.expr("(d1 - d0) div 2").alias("t0"),
    )
    pre = F.col("t") < F.col("t0")

    def seg(cond, tag):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n{tag}"),
            F.sum(F.when(cond, F.col("t"))).cast("long").alias(f"sx{tag}"),
            F.sum(F.when(cond, F.col("y"))).cast("long").alias(f"sy{tag}"),
            F.sum(F.when(cond, F.col("t") * F.col("y")))
            .cast("long")
            .alias(f"sxy{tag}"),
            F.sum(F.when(cond, F.col("t") * F.col("t")))
            .cast("long")
            .alias(f"sxx{tag}"),
        ]

    m = x.groupBy("t0").agg(*seg(pre, "0"), *seg(~pre, "1"))

    def fit(tag):
        n = F.col(f"n{tag}")
        sx = F.col(f"sx{tag}").cast("double")
        sy = F.col(f"sy{tag}").cast("double")
        sxy = F.col(f"sxy{tag}").cast("double")
        sxx = F.col(f"sxx{tag}").cast("double")
        dxx = sxx - sx * sx / n
        slope = (sxy - sx * sy / n) / dxx
        icept = sy / n - slope * (sx / n)
        return n, dxx, slope, icept

    n0, dxx0, b0, a0 = fit("0")
    n1, dxx1, b1, a1 = fit("1")
    return (
        m.filter((n0 > 2) & (n1 > 2) & (dxx0 > 0) & (dxx1 > 0))
        .select(
            F.col("t0").alias("break_t"),
            n0.alias("n_pre"),
            n1.alias("n_post"),
            F.round(b0, 6).alias("pre_slope"),
            F.round(b1, 6).alias("post_slope"),
            F.round(b1 - b0, 6).alias("slope_change"),
            F.round(
                (a1 + b1 * F.col("t0")) - (a0 + b0 * F.col("t0")), 6
            ).alias("level_change"),
        )
    )


@query(
    "q_events_out_of_order",
    # Arrival order is the exact integer event_id sequence; lateness
    # is exact integer seconds vs the running max of earlier arrivals;
    # the p99 is an integer-rank selection on the distinct-lateness
    # dist_cumsum spine; shares are one division each.
    oracle="""
WITH s AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_max
  FROM events
),
l AS (
  SELECT CASE WHEN prev_max IS NOT NULL AND sec < prev_max
              THEN prev_max - sec ELSE 0 END AS late_s,
         (prev_max IS NOT NULL AND sec < prev_max) AS ooo
  FROM s
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (ooo) AS BIGINT) AS n_ooo,
         CAST(max(late_s) AS BIGINT) AS max_late
  FROM l
),
g AS (
  SELECT late_s, count(*) AS cnt FROM l WHERE ooo GROUP BY late_s
),
c AS (
  SELECT late_s,
         CAST(sum(cnt) OVER (ORDER BY late_s) AS BIGINT) AS cum
  FROM g
)
SELECT tot.n AS n_events, tot.n_ooo,
       round(tot.n_ooo * 1.0 / tot.n, 6) AS ooo_share,
       tot.max_late AS max_lateness_s,
       CAST(min(CASE WHEN c.cum >= (tot.n_ooo * 99 + 99) // 100
                     THEN c.late_s END) AS BIGINT) AS p99_lateness_s
FROM tot LEFT JOIN c ON TRUE
GROUP BY tot.n, tot.n_ooo, tot.max_late
""",
)
def q_events_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit: treating event_id as ARRIVAL order
    and ts as EVENT time, the share of events arriving after a
    later-timestamped event of the same user, with the max and exact
    p99 lateness in seconds — THE measurement a streaming watermark is
    set from: `withWatermark("ts", X)` drops everything later than X,
    so X should be the observed p99/p999 lateness plus margin, not a
    guess (streaming/ ops consume exactly this number; too small
    silently drops data, too large bloats state). Batch replay of the
    arrival log is the honest way to measure it.

    Scale shape: one user-keyed running-max window (genuine partition
    keys, per-user frames); lateness values are exact integer seconds
    whose DISTINCT values are span-bounded, so the p99 rides the
    dist_cumsum integer-rank device; one global aggregate. Zero
    out-of-order events publish a NULL p99 and zero share, not a
    crash.
    """
    e = load_table(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    wu = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    s = e.select(
        sec.alias("sec"), F.max(sec).over(wu).alias("prev_max")
    )
    ooo = F.col("prev_max").isNotNull() & (F.col("sec") < F.col("prev_max"))
    l = s.select(
        F.when(ooo, F.col("prev_max") - F.col("sec"))
        .otherwise(F.lit(0))
        .alias("late_s"),
        ooo.alias("ooo"),
    ).localCheckpoint(eager=False)  # feeds tot and the lateness spine
    tot = l.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("ooo"), 1).otherwise(0))
        .cast("long")
        .alias("n_ooo"),
        F.max("late_s").cast("long").alias("max_late"),
    )
    g = (
        l.filter(F.col("ooo"))
        .groupBy("late_s")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = dist_cumsum(g, "late_s", ["cnt"])
    sel = tot.crossJoin(c).agg(
        F.min(
            F.when(
                F.col("cum_cnt") >= F.expr("(n_ooo * 99 + 99) div 100"),
                F.col("late_s"),
            )
        ).cast("long").alias("p99_lateness_s")
    )
    return tot.crossJoin(F.broadcast(sel)).select(
        F.col("n").alias("n_events"),
        "n_ooo",
        F.round(F.col("n_ooo") * 1.0 / F.col("n"), 6).alias("ooo_share"),
        F.col("max_late").alias("max_lateness_s"),
        "p99_lateness_s",
    )


# ---------------------------------------------------------------------------
# Permutation entropy of the daily revenue series (ordinal complexity)
# ---------------------------------------------------------------------------

# ln(3!) pinned to the shared 9dp grid — the normalizer for order-3
# ordinal patterns (6 possible permutations).
_PE_LN6_9 = 1.791759469


@query(
    "q_ts_perm_entropy",
    # Daily revenues are exact decimal sums → the ordinal comparisons
    # (<=) are decided on identical doubles in both engines; the
    # pattern code is pure integer arithmetic; entropy rides the
    # q_agg_entropy 9dp-ln / 12dp-decimal-term device.
    oracle=f"""
WITH d AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1, 2
),
l AS (
  SELECT grp, day, rev,
         lag(rev, 2) OVER (PARTITION BY grp ORDER BY day) AS a,
         lag(rev, 1) OVER (PARTITION BY grp ORDER BY day) AS b
  FROM d
),
p AS (
  SELECT grp,
         4 * (CASE WHEN a <= b THEN 1 ELSE 0 END)
         + 2 * (CASE WHEN b <= rev THEN 1 ELSE 0 END)
         + (CASE WHEN a <= rev THEN 1 ELSE 0 END) AS code
  FROM l WHERE a IS NOT NULL AND b IS NOT NULL
),
c AS (
  SELECT grp, code, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2
),
t AS (
  SELECT grp, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1
),
e AS (
  SELECT c.grp, t.tot,
         CAST(count(*) AS INT) AS n_patterns,
         round(CAST(sum(
           CAST(round(-(n * 1.0 / tot)
                      * round(ln(n * 1.0 / tot), 9), 12)
                AS DECIMAL(28,12))) AS DOUBLE), 6) AS h
  FROM c JOIN t ON c.grp = t.grp
  GROUP BY c.grp, t.tot
)
SELECT grp AS o_orderpriority, tot AS n_windows, n_patterns,
       h AS perm_entropy,
       round(h / {_PE_LN6_9}, 6) AS normalized
FROM e ORDER BY o_orderpriority
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_ts_perm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (order 3) of each priority class's daily
    revenue series: slide a 3-day window, record which of the 6
    ordinal patterns (rank orderings) it realizes, and take the
    Shannon entropy of the pattern distribution, normalized by ln 6.
    This is the model-free complexity score of a series — ≈1 for
    noise, low for trending/periodic structure — and it is robust to
    monotone transforms (ordinal, not metric), which makes it the
    right "is this series signal or noise" triage before fitting
    anything. Ties break toward "≤" in both engines identically.

    Scale shape: the raw pass reduces the fact table to the
    (priority, day) grid — map-side combinable, calendar-bounded; the
    lag windows ride a bounded-vocabulary partition key over a
    calendar-bounded series (never data-sized); the entropy is over a
    ≤6-row-per-group pattern grid. Exact decimal revenue sums make
    every ordinal comparison partitioning-independent.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            "cast(floor(unix_timestamp(o_orderdate) / 86400) as bigint)"
        ).alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("rev")
    )
    w = W.partitionBy("grp").orderBy("day")
    l = d.select(
        "grp",
        "rev",
        F.lag("rev", 2).over(w).alias("a"),
        F.lag("rev", 1).over(w).alias("b"),
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    code = (
        F.when(F.col("a") <= F.col("b"), 4).otherwise(0)
        + F.when(F.col("b") <= F.col("rev"), 2).otherwise(0)
        + F.when(F.col("a") <= F.col("rev"), 1).otherwise(0)
    )
    c = l.select("grp", code.alias("code")).groupBy("grp", "code").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.groupBy("grp").agg(F.sum("n").cast("long").alias("tot"))
    p = F.col("n") * 1.0 / F.col("tot")
    term = F.round(-p * F.round(F.log(p), 9), 12).cast("decimal(28,12)")
    e = (
        c.join(t, "grp")
        .groupBy("grp", "tot")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_patterns"),
            F.round(F.sum(term).cast("double"), 6).alias("h"),
        )
    )
    return e.select(
        F.col("grp").alias("o_orderpriority"),
        F.col("tot").alias("n_windows"),
        "n_patterns",
        F.col("h").alias("perm_entropy"),
        F.round(F.col("h") / _PE_LN6_9, 6).alias("normalized"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing of the daily revenue series
# ---------------------------------------------------------------------------


@query(
    "q_ts_holt",
    # alpha = beta = 0.5: every smoothing multiply is an EXACT
    # IEEE halving, and both engines run the IDENTICAL left-to-right
    # fold over the identical exact-decimal daily revenues (Spark
    # ``aggregate`` vs a DuckDB recursive CTE, same expression text;
    # NOT DuckDB's list_reduce — its 1.0.0 struct-lambda fold
    # mis-evaluates a duplicated subexpression from the second
    # iteration on) — so level/trend are bit-identical with no
    # rounding device needed beyond the final display round. Float
    # literals are spelled 0.5e0 (DuckDB parses bare 0.5 as DECIMAL,
    # which would truncate the whole fold).
    oracle="""
WITH RECURSIVE d AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1, 2
),
s AS (
  SELECT grp, list(rev ORDER BY day) AS xs,
         CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY grp HAVING count(*) >= 2
),
r AS (
  SELECT grp, n, xs, 2 AS i, xs[1] AS l, xs[2] - xs[1] AS b FROM s
  UNION ALL
  SELECT grp, n, xs, i + 1,
         0.5e0 * xs[i + 1] + 0.5e0 * (l + b),
         0.5e0 * ((0.5e0 * xs[i + 1] + 0.5e0 * (l + b)) - l)
         + 0.5e0 * b
  FROM r WHERE i < len(xs)
)
SELECT grp AS o_orderpriority, n AS n_days,
       round(l, 6) AS level, round(b, 6) AS trend,
       round(l + 7 * b, 6) AS forecast_7d
FROM r WHERE i = len(xs)
ORDER BY o_orderpriority
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of each
    priority class's daily revenue, with the 7-day-ahead linear
    forecast l + 7b — the one-knob-up from q_ts_ewma that doesn't lag
    on trending series (EWMA systematically under-forecasts a ramp;
    Holt's trend state absorbs it). α = β = ½ makes every smoothing
    step an exact binary halving, so the recursion is reproducible
    bit-for-bit across engines and partitionings.

    Scale shape: the only raw-data pass is the (priority, day) grid
    reduce — map-side combinable; the recursion itself is inherently
    sequential in TIME, so it runs as a per-group fold over the
    calendar-bounded daily series (an array of ≤ |days| doubles per
    group — bounded by the calendar, never by row count; the same
    contract as q_ts_sax's per-series arrays). Groups parallelize
    across the cluster; 10⁶ series = 10⁶ independent folds.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            "cast(floor(unix_timestamp(o_orderdate) / 86400) as bigint)"
        ).alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("rev")
    )
    s = (
        d.groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "rev"))),
                lambda st: st["rev"],
            ).alias("xs"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .filter(F.col("n") >= 2)
    )
    xs = F.col("xs")
    init = F.struct(
        F.element_at(xs, 1).alias("l"),
        (F.element_at(xs, 2) - F.element_at(xs, 1)).alias("b"),
    )
    rest = F.slice(xs, 3, F.greatest(F.size(xs) - 2, F.lit(0)))

    def step(acc, x):
        lnew = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        bnew = (
            F.lit(0.5) * (lnew - acc["l"]) + F.lit(0.5) * acc["b"]
        )
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    st = F.aggregate(rest, init, step)
    return s.select(
        F.col("grp").alias("o_orderpriority"),
        F.col("n").alias("n_days"),
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(st["l"] + 7 * st["b"], 6).alias("forecast_7d"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Yule-Walker AR(2) fit of the daily event-count series
# ---------------------------------------------------------------------------


@query(
    "q_ts_yule_walker",
    # Integer-centering device (q_ts_periodogram): z = y·nd − Σy is an
    # exact integer per day, the lag products sum in DECIMAL(38,0)
    # exactly, and r1/r2/φ1/φ2 are the same IEEE expression on those
    # identical doubles — zero float divergence surface.
    oracle="""
WITH d AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(y) AS BIGINT) AS sy
  FROM d GROUP BY 1
),
z AS (
  SELECT d.event_type, d.day, d.y * g.nd - g.sy AS z, g.nd
  FROM d JOIN g ON d.event_type = g.event_type
),
l AS (
  SELECT event_type, nd, z,
         lag(z, 1) OVER (PARTITION BY event_type ORDER BY day) AS z1,
         lag(z, 2) OVER (PARTITION BY event_type ORDER BY day) AS z2
  FROM z
),
s AS (
  SELECT event_type, max(nd) AS n_days,
         CAST(sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))
              AS DOUBLE) AS c0,
         CAST(sum(CAST(z AS DECIMAL(19,0)) * CAST(z1 AS DECIMAL(19,0)))
              AS DOUBLE) AS c1,
         CAST(sum(CAST(z AS DECIMAL(19,0)) * CAST(z2 AS DECIMAL(19,0)))
              AS DOUBLE) AS c2
  FROM l GROUP BY 1
),
r AS (
  SELECT event_type, n_days,
         c1 / nullif(c0, 0) AS r1, c2 / nullif(c0, 0) AS r2
  FROM s
)
SELECT event_type, n_days,
       round(r1, 6) AS r1, round(r2, 6) AS r2,
       round(r1 * (1 - r2) / nullif(1 - r1 * r1, 0), 6) AS phi1,
       round((r2 - r1 * r1) / nullif(1 - r1 * r1, 0), 6) AS phi2,
       (abs((r2 - r1 * r1) / nullif(1 - r1 * r1, 0)) < 1
        AND r1 * (1 - r2) / nullif(1 - r1 * r1, 0)
            + (r2 - r1 * r1) / nullif(1 - r1 * r1, 0) < 1
        AND (r2 - r1 * r1) / nullif(1 - r1 * r1, 0)
            - r1 * (1 - r2) / nullif(1 - r1 * r1, 0) < 1) AS stationary
FROM r ORDER BY event_type
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_ts_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule-Walker AR(2) fit per event type: lag-1/lag-2 sample
    autocorrelations of the daily count series and the implied
    autoregressive coefficients φ₁ = r₁(1−r₂)/(1−r₁²),
    φ₂ = (r₂−r₁²)/(1−r₁²), plus the stationarity-triangle verdict
    (|φ₂|<1, φ₁+φ₂<1, φ₂−φ₁<1) — the 2-parameter memory model that
    separates "yesterday matters" (φ₁) from "oscillation/rebound"
    (φ₂<0: spikes that self-correct), which q_ts_autocorr's raw ACF
    reports but doesn't disentangle. Lags run over the present-day
    sequence; gap semantics match the oracle exactly.

    Scale shape: raw pass reduces to the calendar-bounded (type, day)
    grid; centering is INTEGER (z = y·nd − Σy, the periodogram
    device) so the three lag-product sums are exact DECIMAL(38,0) —
    order-free; lag windows ride bounded-vocab keys over the bounded
    day spine; the solve is closed-form per group.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.expr("cast(floor(unix_timestamp(ts) / 86400) as bigint)").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("y").cast("long").alias("sy"),
    )
    z = d.join(F.broadcast(g), "event_type").select(
        "event_type",
        "day",
        "nd",
        (F.col("y") * F.col("nd") - F.col("sy")).alias("z"),
    )
    w = W.partitionBy("event_type").orderBy("day")
    l = z.select(
        "event_type",
        "nd",
        "z",
        F.lag("z", 1).over(w).alias("z1"),
        F.lag("z", 2).over(w).alias("z2"),
    )
    # Cast each factor to decimal(19,0) BEFORE multiplying so the
    # product is computed in decimal (headroom to |z| ~ 1e19 each side,
    # product exact in decimal(38,0)); an int64 pre-product would wrap
    # silently past |z| ~ 3e9 with ANSI off while the oracle errors.
    zd = F.col("z").cast("decimal(19,0)")
    z1d = F.col("z1").cast("decimal(19,0)")
    z2d = F.col("z2").cast("decimal(19,0)")
    s = l.groupBy("event_type").agg(
        F.max("nd").alias("n_days"),
        F.sum(zd * zd).cast("double").alias("c0"),
        F.sum(zd * z1d).cast("double").alias("c1"),
        F.sum(zd * z2d).cast("double").alias("c2"),
    )
    r1 = F.col("c1") / F.nullif(F.col("c0"), F.lit(0.0))
    r2 = F.col("c2") / F.nullif(F.col("c0"), F.lit(0.0))
    den = F.nullif(1 - r1 * r1, F.lit(0.0))
    phi1 = r1 * (1 - r2) / den
    phi2 = (r2 - r1 * r1) / den
    return s.select(
        "event_type",
        "n_days",
        F.round(r1, 6).alias("r1"),
        F.round(r2, 6).alias("r2"),
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        (
            (F.abs(phi2) < 1)
            & (phi1 + phi2 < 1)
            & (phi2 - phi1 < 1)
        ).alias("stationary"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Spectral entropy of the daily event-count series (noise-vs-structure)
# ---------------------------------------------------------------------------

_SE_PERIODS = tuple(range(2, 14))  # candidate periods, days


@query(
    "q_ts_spectral_entropy",
    # The per-band power rides the q_ts_periodogram trig device
    # (9dp-rounded cos/sin factors × exact integer z, decimal sums),
    # so P is the identical double in both engines; the band-share
    # entropy then rides the q_agg_entropy 9dp-ln/12dp-term device;
    # the dominant band is a rank-1 selection on identical values.
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(y) AS BIGINT) AS sy, min(day) AS mind
  FROM d GROUP BY 1
),
z AS (
  SELECT d.event_type, d.day - g.mind AS t,
         d.y * g.nd - g.sy AS z, g.nd
  FROM d JOIN g ON d.event_type = g.event_type
),
parts AS (
  SELECT z.event_type, p.period, max(z.nd) AS nd,
         sum(CAST(round(cos({_TWO_PI} * (z.t % p.period) / p.period), 9)
                  AS DECIMAL(10,9)) * CAST(z.z AS DECIMAL(18,0))) AS c,
         sum(CAST(round(sin({_TWO_PI} * (z.t % p.period) / p.period), 9)
                  AS DECIMAL(10,9)) * CAST(z.z AS DECIMAL(18,0))) AS s
  FROM z, (SELECT unnest([{", ".join(str(p) for p in _SE_PERIODS)}])
           AS period) p
  GROUP BY 1, 2
),
pw AS (
  SELECT event_type, period, nd,
         (CAST(c AS DOUBLE) / nd) * (CAST(c AS DOUBLE) / nd)
         + (CAST(s AS DOUBLE) / nd) * (CAST(s AS DOUBLE) / nd) AS p
  FROM parts
),
tot AS (
  SELECT event_type,
         CAST(sum(CAST(round(p, 9) AS DECIMAL(38,9))) AS DOUBLE) AS tp,
         CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS INT) AS nb
  FROM pw GROUP BY 1
),
sh AS (
  SELECT pw.event_type, pw.period, pw.nd, tot.nb, pw.p / tot.tp AS sh
  FROM pw JOIN tot ON pw.event_type = tot.event_type
  WHERE tot.tp > 0 AND pw.p > 0
),
e AS (
  SELECT event_type, max(nd) AS n_days, max(nb) AS n_bands,
         round(CAST(sum(
           CAST(round(-sh * round(ln(sh), 9), 12) AS DECIMAL(28,12))
         ) AS DOUBLE), 6) AS h
  FROM sh GROUP BY 1
),
dom AS (
  SELECT event_type, period AS dom_period
  FROM (
    SELECT event_type, period,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY sh DESC, period) AS rn
    FROM sh
  ) WHERE rn = 1
)
SELECT e.event_type, e.n_days, e.n_bands,
       CAST(dom.dom_period AS INT) AS dom_period, e.h AS spectral_entropy,
       round(e.h / nullif(round(ln(e.n_bands), 9), 0), 6) AS flatness
FROM e JOIN dom ON e.event_type = dom.event_type
ORDER BY e.event_type
""",
)
def q_ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy of each event type's daily count series: the
    Shannon entropy of the normalized periodogram over candidate
    periods 2-13 days, plus the dominant period and the flatness
    score H/ln(bands) — the frequency-domain "signal or noise" triage
    (flatness →1 = white noise, →0 = one clean cycle) complementing
    q_ts_perm_entropy's time-domain ordinal view and pinpointing
    WHICH cycle dominates (dom_period 7 = weekly seasonality).

    Scale shape: raw pass reduces to the calendar-bounded (type, day)
    grid; the 12-band fan-out is a map-local explode of that bounded
    grid; per-(type, band) trig sums are map-combinable decimals
    (periodogram device); entropy and the rank-1 dominant band run on
    the |types|×12 frame. Nothing downstream of the first reduce ever
    sees a data-sized row count.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.expr("cast(floor(unix_timestamp(ts) / 86400) as bigint)").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("y").cast("long").alias("sy"),
        F.min("day").alias("mind"),
    )
    z = d.join(F.broadcast(g), "event_type").select(
        "event_type",
        (F.col("day") - F.col("mind")).alias("t"),
        (F.col("y") * F.col("nd") - F.col("sy")).alias("z"),
        "nd",
    )
    per = z.select(
        "*",
        F.explode(
            F.array(*[F.lit(p) for p in _SE_PERIODS])
        ).alias("period"),
    )
    ang = f"{_TWO_PI} * (t % period) / period"
    parts = per.groupBy("event_type", "period").agg(
        F.max("nd").alias("nd"),
        F.sum(
            F.expr(f"cast(round(cos({ang}), 9) as decimal(10,9))")
            * F.col("z").cast("decimal(18,0)")
        ).alias("c"),
        F.sum(
            F.expr(f"cast(round(sin({ang}), 9) as decimal(10,9))")
            * F.col("z").cast("decimal(18,0)")
        ).alias("s"),
    )
    cp = F.col("c").cast("double") / F.col("nd")
    sp = F.col("s").cast("double") / F.col("nd")
    pw = parts.select(
        "event_type", "period", "nd", (cp * cp + sp * sp).alias("p")
    )
    tot = pw.groupBy("event_type").agg(
        F.sum(F.round(F.col("p"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("tp"),
        F.sum(F.when(F.col("p") > 0, 1).otherwise(0))
        .cast("int")
        .alias("nb"),
    )
    sh = (
        pw.join(F.broadcast(tot), "event_type")
        .filter((F.col("tp") > 0) & (F.col("p") > 0))
        .select(
            "event_type",
            "period",
            "nd",
            "nb",
            (F.col("p") / F.col("tp")).alias("sh"),
        )
    )
    term = F.round(
        -F.col("sh") * F.round(F.log("sh"), 9), 12
    ).cast("decimal(28,12)")
    ent = sh.groupBy("event_type").agg(
        F.max("nd").alias("n_days"),
        F.max("nb").alias("n_bands"),
        F.round(F.sum(term).cast("double"), 6).alias("h"),
    )
    wd = W.partitionBy("event_type").orderBy(F.col("sh").desc(), "period")
    dom = (
        sh.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("period").alias("dom_period"))
    )
    return (
        ent.join(dom, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_bands",
            F.col("dom_period").cast("int").alias("dom_period"),
            F.col("h").alias("spectral_entropy"),
            F.round(
                F.col("h")
                / F.nullif(
                    F.round(F.log(F.col("n_bands")), 9), F.lit(0.0)
                ),
                6,
            ).alias("flatness"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Absorbing-chain analysis: expected steps / probability to conversion
# ---------------------------------------------------------------------------

_ABS_STATE = "purchase"
_ABS_K = 12  # truncated Neumann iterations (geometric convergence)


def _absorbing_iter_sql() -> str:
    """Unrolled v/a iterations (the _PR_ITER_SQL device): each round is
    one |types|²-grid join + decimal-quantized sum, identical
    expression text in both engines."""
    ctes = []
    for k in range(1, _ABS_K + 1):
        prev = k - 1
        ctes.append(f"""
s{k} AS (
  SELECT t.from_type,
         1 + CAST(sum(CAST(round(t.p * coalesce(v.v, 0.0e0), 12)
                           AS DECIMAL(28,12))) AS DOUBLE) AS v,
         CAST(sum(CAST(round(t.p * (CASE WHEN t.to_type = '{_ABS_STATE}'
                                    THEN 1.0e0
                                    ELSE coalesce(v.a, 0.0e0) END), 12)
                       AS DECIMAL(28,12))) AS DOUBLE) AS a
  FROM tr t LEFT JOIN s{prev} v ON t.to_type = v.from_type
  GROUP BY t.from_type
)""")
    return ",".join(ctes)


@query(
    "q_events_absorbing",
    # Transition probabilities are exact count ratios (identical
    # doubles); each iteration's mix terms are 12dp-quantized decimals
    # so the per-state sums are order-free; the unrolled-CTE oracle
    # runs the literal same 12 rounds.
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('second', ts), event_id
         ) AS next_type
  FROM events
),
tn AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM ordered
  WHERE next_type IS NOT NULL AND event_type != '{_ABS_STATE}'
  GROUP BY 1, 2
),
tt AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM tn GROUP BY 1
),
tr AS (
  SELECT tn.from_type, tn.to_type, tn.n * 1.0 / tt.n_from AS p
  FROM tn JOIN tt USING (from_type)
),
s0 AS (
  SELECT DISTINCT from_type, 0.0e0 AS v, 0.0e0 AS a FROM tr
),
{_absorbing_iter_sql()},
pd AS (
  SELECT from_type, max(CASE WHEN to_type = '{_ABS_STATE}' THEN p END)
           AS p_dir
  FROM tr GROUP BY from_type
)
SELECT s.from_type AS event_type, tt.n_from AS n_out,
       round(coalesce(pd.p_dir, 0.0e0), 6) AS p_direct,
       round(s.a, 6) AS absorb_prob,
       round(s.v, 6) AS expected_steps
FROM s{_ABS_K} s
JOIN tt ON s.from_type = tt.from_type
LEFT JOIN pd ON s.from_type = pd.from_type
ORDER BY event_type
""",
)
def q_events_absorbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-Markov-chain analysis of the event graph with
    '{abs_state}' as the absorbing state: per starting event type, the
    probability of reaching conversion within {k} steps and the
    {k}-truncated expected step count (the Neumann sum
    Σ Qᵏ·1 — a geometrically-converging lower bound on the exact
    (I−Q)⁻¹·1). This is the question q_events_markov's raw matrix and
    q_events_markov_stationary's long-run mix don't answer: HOW FAR is
    each state from conversion — the prioritization signal for funnel
    fixes ("error is 4.8 steps from purchase; view is 2.1").

    Scale shape: ONE user-keyed window pass builds transitions (the
    markov device), reduced map-combinably to the |types|² grid, which
    is lazily checkpointed ONCE; the {k} iterations then run INSIDE a
    single ``aggregate`` higher-order expression over the collected
    grid (optimization r12, guide §1.2): the accumulator is the
    map from_type → (v, a), each round one in-task pass over the ≤
    |types|² transition array — no per-round join, no per-round
    checkpoint, no K driver-built plan stages (measured sf0.1 warm
    3.9 → 1.2 s, identical rows). Per-round sums ride the 12dp →
    1e12-scaled BIGINT grid (the q_embed_twonn device: the scaled
    double is within ~1e-3 of the integer, so the nearest-integer
    cast is exact and integer sums are order-free; BIGINT/1e12 →
    double is the correctly-rounded quotient, bit-equal to the
    oracle's DECIMAL(28,12)-sum cast). Raw data is touched exactly
    once regardless of K; the folded state is |types|-bounded.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", "ts"), "event_id"
    )
    ordered = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    tn = (
        ordered.filter(
            F.col("next_type").isNotNull()
            & (F.col("event_type") != _ABS_STATE)
        )
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        # bounded |types|² grid, read by tt/tr/pd — one window pass
        .localCheckpoint(eager=False)
    )
    tt = tn.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("n_from")
    )
    tr = tn.join(tt, "from_type").select(
        "from_type",
        "to_type",
        (F.col("n") * 1.0 / F.col("n_from")).alias("p"),
    )
    grid = tr.agg(
        F.collect_list(F.struct("from_type", "to_type", "p")).alias("trs")
    )
    # The K-round Neumann fold as ONE scalar expression: `acc` is a
    # runtime VARIABLE (not an unrolled subexpression), so the plan
    # holds one round's expression tree and loops K times in-task.
    folded = grid.select(
        F.expr(f"""
          aggregate(
            sequence(1, {_ABS_K}),
            map_from_arrays(
              array_sort(array_distinct(transform(trs, s -> s.from_type))),
              transform(
                array_sort(array_distinct(transform(trs, s -> s.from_type))),
                f -> struct(cast(0.0 as double) as v,
                            cast(0.0 as double) as a))),
            (acc, k) -> map_from_arrays(
              array_sort(array_distinct(transform(trs, s -> s.from_type))),
              transform(
                array_sort(array_distinct(transform(trs, s -> s.from_type))),
                f -> struct(
                  1.0 + cast(aggregate(
                      filter(trs, s -> s.from_type = f),
                      cast(0 as bigint),
                      (m, s) -> m + cast(round(round(
                          s.p * coalesce(try_element_at(acc, s.to_type).v,
                                         0.0),
                          12) * 1000000000000.0) as bigint)
                    ) as double) / 1000000000000.0 as v,
                  cast(aggregate(
                      filter(trs, s -> s.from_type = f),
                      cast(0 as bigint),
                      (m, s) -> m + cast(round(round(
                          s.p * (case when s.to_type = '{_ABS_STATE}'
                                 then 1.0
                                 else coalesce(
                                     try_element_at(acc, s.to_type).a,
                                     0.0) end),
                          12) * 1000000000000.0) as bigint)
                    ) as double) / 1000000000000.0 as a))))
        """).alias("m")
    )
    s = folded.select(F.explode("m")).select(
        F.col("key").alias("from_type"),
        F.col("value.v").alias("v"),
        F.col("value.a").alias("a"),
    )
    pd = tn.join(tt, "from_type").groupBy("from_type").agg(
        F.max(
            F.when(
                F.col("to_type") == _ABS_STATE,
                F.col("n") * 1.0 / F.col("n_from"),
            )
        ).alias("p_dir")
    )
    return (
        s.join(tt, "from_type")
        .join(pd, "from_type", "left")
        .select(
            F.col("from_type").alias("event_type"),
            F.col("n_from").alias("n_out"),
            F.round(F.coalesce(F.col("p_dir"), F.lit(0.0)), 6).alias(
                "p_direct"
            ),
            F.round("a", 6).alias("absorb_prob"),
            F.round("v", 6).alias("expected_steps"),
        )
        .orderBy("event_type")
    )


q_events_absorbing.__doc__ = q_events_absorbing.__doc__.format(
    abs_state=_ABS_STATE, k=_ABS_K
)


# ---------------------------------------------------------------------------
# Croston's method: intermittent-demand rate forecast
# ---------------------------------------------------------------------------


@query(
    "q_orders_croston",
    # Two independent SCALAR folds (α = ½ exact halvings) over the
    # nonzero-demand event sequence — DuckDB's scalar list_reduce is
    # sound (the struct-lambda duplication bug q_ts_holt works around
    # does not apply to single-expression scalar folds); Spark runs
    # the identical left fold via aggregate(). Demands and integer day
    # gaps are exact, so the folds are bit-identical.
    oracle="""
WITH d AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS DOUBLE) AS z
  FROM orders GROUP BY 1, 2
),
g AS (
  SELECT grp, day, z,
         CAST(day - lag(day) OVER (PARTITION BY grp ORDER BY day)
              AS DOUBLE) AS gap
  FROM d
),
s AS (
  SELECT grp,
         list(z ORDER BY day) AS zs,
         list(gap ORDER BY day) FILTER (WHERE gap IS NOT NULL) AS gaps,
         CAST(count(*) AS BIGINT) AS nd
  FROM g GROUP BY grp HAVING count(*) >= 2
),
f AS (
  SELECT grp, nd,
         list_reduce(zs, (acc, x) -> 0.5e0 * x + 0.5e0 * acc) AS z_hat,
         list_reduce(gaps, (acc, x) -> 0.5e0 * x + 0.5e0 * acc)
           AS tau_hat
  FROM s
)
SELECT grp AS o_orderpriority, nd AS n_demand_days,
       round(z_hat, 6) AS z_hat, round(tau_hat, 6) AS tau_hat,
       round(z_hat / tau_hat, 6) AS croston_rate
FROM f ORDER BY o_orderpriority
""",
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_orders_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method per priority class: exponential smoothing of
    the nonzero DAILY DEMAND SIZES and, separately, of the
    INTER-DEMAND DAY GAPS; the forecast rate is ẑ/τ̂ demand per day —
    the standard intermittent-demand estimator (spare parts, slow
    SKUs, long-tail priorities) where a plain moving average is biased
    toward zero-heavy windows and q_ts_holt's trend model is
    meaningless. α = ½ keeps every smoothing step an exact halving.

    Scale shape: the only raw pass is the (priority, day) demand
    reduce; the gap lag rides the bounded day spine per bounded-vocab
    key; the two folds run per group over calendar-bounded arrays
    (the q_ts_holt contract) — series parallelize across the cluster.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            "cast(floor(unix_timestamp(o_orderdate) / 86400) as bigint)"
        ).alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("z"))
    w = W.partitionBy("grp").orderBy("day")
    g = d.select(
        "grp",
        "day",
        "z",
        (F.col("day") - F.lag("day").over(w)).cast("double").alias("gap"),
    )
    s = (
        g.groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "z"))),
                lambda st: st["z"],
            ).alias("zs"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("gap").isNotNull(),
                            F.struct("day", "gap"),
                        )
                    )
                ),
                lambda st: st["gap"],
            ).alias("gaps"),
            F.count(F.lit(1)).cast("long").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
    )

    def ses(col):
        return F.aggregate(
            F.slice(col, 2, F.greatest(F.size(col) - 1, F.lit(0))),
            F.element_at(col, 1),
            lambda acc, x: F.lit(0.5) * x + F.lit(0.5) * acc,
        )

    return s.select(
        F.col("grp").alias("o_orderpriority"),
        F.col("nd").alias("n_demand_days"),
        F.round(ses(F.col("zs")), 6).alias("z_hat"),
        F.round(ses(F.col("gaps")), 6).alias("tau_hat"),
        F.round(
            ses(F.col("zs")) / ses(F.col("gaps")), 6
        ).alias("croston_rate"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Haar wavelet energy by level (multi-scale burstiness decomposition)
# ---------------------------------------------------------------------------

_HAAR_LEVELS = (1, 2, 3)  # dyadic scales: 2, 4, 8 days


@query(
    "q_ts_haar_energy",
    # Integer device end-to-end: the zero-filled day spine's counts are
    # BIGINT, each Haar detail numerator (left-half sum minus
    # right-half sum of a dyadic block) is an exact integer, its square
    # rides the decimal(19,0)x(19,0) product, and the single division
    # by 2^k happens once per (type, level) on identical doubles.
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
b AS (
  SELECT event_type, min(day) AS mind, max(day) AS maxd FROM d GROUP BY 1
),
spine0 AS (
  SELECT b.event_type, s.j, b.mind, b.maxd - b.mind AS jmax
  FROM b, unnest(generate_series(0, b.maxd - b.mind)) AS s(j)
),
spine AS (
  SELECT s0.event_type, s0.j, s0.jmax, coalesce(d.y, 0) AS y
  FROM spine0 s0
  LEFT JOIN d ON d.event_type = s0.event_type AND d.day = s0.mind + s0.j
),
lv AS (SELECT unnest([{", ".join(str(k) for k in _HAAR_LEVELS)}]) AS level),
num AS (
  SELECT s.event_type, lv.level, s.j // (1 << lv.level) AS blk,
         sum(CASE WHEN s.j % (1 << lv.level) < (1 << (lv.level - 1))
                  THEN s.y ELSE -s.y END) AS coeff
  FROM spine s, lv
  WHERE ((s.j // (1 << lv.level)) + 1) * (1 << lv.level) - 1 <= s.jmax
  GROUP BY 1, 2, 3
),
e AS (
  SELECT event_type, level, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(CAST(coeff AS DECIMAL(19,0))
                  * CAST(coeff AS DECIMAL(19,0))) AS DOUBLE)
           / (1 << level) AS energy
  FROM num GROUP BY 1, 2
)
SELECT event_type, level, n_blocks,
       round(energy, 6) AS energy,
       round(energy / nullif(sum(energy) OVER (PARTITION BY event_type), 0),
             6) AS energy_share
FROM e ORDER BY event_type, level
""",
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet detail energy of the daily event-count series at
    dyadic scales 2/4/8 days, per event type: level-k detail
    coefficients are (left-half sum − right-half sum)/2^(k/2) over
    complete 2^k-day blocks, and the per-level energy Σcoeff²/2^k
    locates WHERE the series' variance lives — day-to-day jitter
    (level 1), intra-week swings (level 2), or week-scale regime
    moves (level 3). The multi-scale complement to
    q_ts_spectral_entropy's frequency view: a deploy-cadence spike
    shows as level-1/2 energy, a marketing-wave as level 3.

    Scale shape: the raw pass collapses to the calendar-bounded
    (type, day) grid; the zero-filled spine and the 3-level fan-out
    are spine-sized (bounded by days × levels, independent of row
    count); detail numerators are exact integer sums over dyadic
    blocks (map-combinable), squares ride the decimal(19,0) product
    device, and the share window partitions by event_type over a
    bounded (type × 3)-row frame.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts").cast("double") / 86400)
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    b = d.groupBy("event_type").agg(
        F.min("day").alias("mind"), F.max("day").alias("maxd")
    )
    spine = (
        b.select(
            "event_type",
            "mind",
            (F.col("maxd") - F.col("mind")).alias("jmax"),
            F.explode(
                F.sequence(F.lit(0), F.col("maxd") - F.col("mind"))
            ).alias("j"),
        )
        .join(
            d.withColumnRenamed("event_type", "et"),
            on=[
                F.col("event_type") == F.col("et"),
                F.col("day") == F.col("mind") + F.col("j"),
            ],
            how="left",
        )
        .select(
            "event_type",
            "j",
            "jmax",
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    lv = F.broadcast(
        spark.createDataFrame(
            [(k,) for k in _HAAR_LEVELS], "level int"
        )
    )
    blksz = F.expr("shiftleft(1, level)").cast("long")
    half = F.expr("shiftleft(1, level - 1)").cast("long")
    num = (
        spine.crossJoin(lv)
        .filter(
            (F.floor(F.col("j") / blksz) + 1) * blksz - 1 <= F.col("jmax")
        )
        .groupBy(
            "event_type",
            "level",
            F.floor(F.col("j") / blksz).alias("blk"),
        )
        .agg(
            F.sum(
                F.when(F.col("j") % blksz < half, F.col("y")).otherwise(
                    -F.col("y")
                )
            ).alias("coeff")
        )
    )
    cd = F.col("coeff").cast("decimal(19,0)")
    en = (
        num.groupBy("event_type", "level")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(cd * cd).cast("double").alias("sumsq"),
        )
        .select(
            "event_type",
            "level",
            "n_blocks",
            (
                F.col("sumsq")
                / F.expr("shiftleft(1, level)").cast("double")
            ).alias("energy"),
        )
    )
    w = W.partitionBy("event_type")
    return en.select(
        "event_type",
        "level",
        "n_blocks",
        F.round("energy", 6).alias("energy"),
        F.round(
            F.col("energy")
            / F.nullif(F.sum("energy").over(w), F.lit(0.0)),
            6,
        ).alias("energy_share"),
    ).orderBy("event_type", "level")


# ---------------------------------------------------------------------------
# Variance-ratio test (Lo-MacKinlay) on the daily event-count series
# ---------------------------------------------------------------------------

_VR_K = 5  # aggregation horizon, days


@query(
    "q_ts_variance_ratio",
    # All-integer differences on the zero-filled spine: d1 and dk are
    # exact BIGINTs, their power sums ride decimal(19,0) products, and
    # VR is one IEEE expression on identical doubles both engines.
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
b AS (
  SELECT event_type, min(day) AS mind, max(day) AS maxd FROM d GROUP BY 1
),
spine0 AS (
  SELECT b.event_type, s.j, b.mind
  FROM b, unnest(generate_series(0, b.maxd - b.mind)) AS s(j)
),
spine AS (
  SELECT s0.event_type, s0.j, coalesce(d.y, 0) AS y
  FROM spine0 s0
  LEFT JOIN d ON d.event_type = s0.event_type AND d.day = s0.mind + s0.j
),
l AS (
  SELECT event_type, y,
         y - lag(y, 1) OVER (PARTITION BY event_type ORDER BY j) AS d1,
         y - lag(y, {_VR_K}) OVER (PARTITION BY event_type ORDER BY j) AS dk
  FROM spine
),
s AS (
  SELECT event_type,
         CAST(count(d1) AS BIGINT) AS n1,
         CAST(sum(d1) AS BIGINT) AS s1,
         CAST(sum(CAST(d1 AS DECIMAL(19,0)) * CAST(d1 AS DECIMAL(19,0)))
              AS DOUBLE) AS s11,
         CAST(count(dk) AS BIGINT) AS nk,
         CAST(sum(dk) AS BIGINT) AS sk,
         CAST(sum(CAST(dk AS DECIMAL(19,0)) * CAST(dk AS DECIMAL(19,0)))
              AS DOUBLE) AS skk
  FROM l GROUP BY 1
),
v AS (
  SELECT event_type, n1, nk,
         s11 / n1 - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1)
           AS var1,
         skk / nk - (CAST(sk AS DOUBLE) / nk) * (CAST(sk AS DOUBLE) / nk)
           AS vark
  FROM s WHERE n1 > 0 AND nk > 0
)
SELECT event_type, n1 + 1 AS n_days,
       round(var1, 6) AS var1,
       round(vark, 6) AS var{_VR_K},
       round(vark / nullif({_VR_K} * var1, 0), 6) AS vr,
       CASE WHEN vark / nullif({_VR_K} * var1, 0) < 0.8e0
              THEN 'mean_reverting'
            WHEN vark / nullif({_VR_K} * var1, 0) > 1.2e0
              THEN 'trending'
            ELSE 'random_walk_band' END AS verdict
FROM v ORDER BY event_type
""",
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test per event type: the variance of
    5-day changes of the daily count series against 5× the variance of
    1-day changes. A random walk has VR = 1; VR < 1 means shocks
    mean-revert (yesterday's spike is absorbed — capacity planning can
    ignore it); VR > 1 means shocks compound (trends persist — the
    early-warning regime q_ts_changepoint later localizes). The
    horizon-scaling complement to q_ts_hurst's R/S view, with a
    variance footing instead of a range footing.

    Scale shape: one data-sized grouped count to the calendar-bounded
    (type, day) grid; the zero-filled spine, the two lag windows
    (partitioned by bounded event_type over the bounded day spine) and
    the exact-decimal power sums are all spine-sized; the VR verdict
    is closed-form per group.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts").cast("double") / 86400)
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    b = d.groupBy("event_type").agg(
        F.min("day").alias("mind"), F.max("day").alias("maxd")
    )
    spine = (
        b.select(
            "event_type",
            "mind",
            F.explode(
                F.sequence(F.lit(0), F.col("maxd") - F.col("mind"))
            ).alias("j"),
        )
        .join(
            d.withColumnRenamed("event_type", "et"),
            on=[
                F.col("event_type") == F.col("et"),
                F.col("day") == F.col("mind") + F.col("j"),
            ],
            how="left",
        )
        .select("event_type", "j", F.coalesce("y", F.lit(0)).alias("y"))
    )
    w = W.partitionBy("event_type").orderBy("j")
    l = spine.select(
        "event_type",
        (F.col("y") - F.lag("y", 1).over(w)).alias("d1"),
        (F.col("y") - F.lag("y", _VR_K).over(w)).alias("dk"),
    )
    d1d = F.col("d1").cast("decimal(19,0)")
    dkd = F.col("dk").cast("decimal(19,0)")
    s = l.groupBy("event_type").agg(
        F.count("d1").cast("long").alias("n1"),
        F.sum("d1").cast("long").alias("s1"),
        F.sum(d1d * d1d).cast("double").alias("s11"),
        F.count("dk").cast("long").alias("nk"),
        F.sum("dk").cast("long").alias("sk"),
        F.sum(dkd * dkd).cast("double").alias("skk"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    mk = F.col("sk").cast("double") / F.col("nk")
    var1 = F.col("s11") / F.col("n1") - m1 * m1
    vark = F.col("skk") / F.col("nk") - mk * mk
    vr = vark / F.nullif(F.lit(float(_VR_K)) * var1, F.lit(0.0))
    return (
        s.filter((F.col("n1") > 0) & (F.col("nk") > 0))
        .select(
            "event_type",
            (F.col("n1") + 1).alias("n_days"),
            F.round(var1, 6).alias("var1"),
            F.round(vark, 6).alias(f"var{_VR_K}"),
            F.round(vr, 6).alias("vr"),
            F.when(vr < 0.8, "mean_reverting")
            .when(vr > 1.2, "trending")
            .otherwise("random_walk_band")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Engle-Granger cointegration check: views vs purchases daily series
# ---------------------------------------------------------------------------


@query(
    "q_ts_cointegration",
    # OLS rides exact integer power sums (counts on the zero-filled
    # spine); the residual u = y - a - b*x is the identical IEEE
    # double per day both engines (a, b identical doubles from exact
    # sums; x, y integers), snapped to a 6dp decimal grid so the
    # Dickey-Fuller cross sums A/B/C are exact and order-free; the
    # lag pairing is an equi-join on the spine index, not a window.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS mind, max(day) AS maxd FROM d),
spine0 AS (
  SELECT s.j, b.mind FROM b, unnest(generate_series(0, b.maxd - b.mind)) AS s(j)
),
spine AS (
  SELECT s0.j, coalesce(d.x, 0) AS x, coalesce(d.y, 0) AS y
  FROM spine0 s0 LEFT JOIN d ON d.day = s0.mind + s0.j
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DOUBLE) AS sxx,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS sxy
  FROM spine
),
ab AS (
  SELECT n,
         (n * sxy - CAST(sx AS DOUBLE) * sy)
           / nullif(n * sxx - CAST(sx AS DOUBLE) * sx, 0) AS slope,
         (sy - (n * sxy - CAST(sx AS DOUBLE) * sy)
                 / nullif(n * sxx - CAST(sx AS DOUBLE) * sx, 0) * sx)
           / n AS icept
  FROM s
),
u AS (
  SELECT sp.j,
         CAST(round(sp.y - ab.icept - ab.slope * sp.x, 6)
              AS DECIMAL(18,6)) AS ur
  FROM spine sp, ab
),
pair AS (
  SELECT cur.ur AS u0, prev.ur AS um1
  FROM u cur JOIN u prev ON prev.j = cur.j - 1
),
df AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(um1 * um1) AS DOUBLE) AS a,
         CAST(sum((u0 - um1) * um1) AS DOUBLE) AS bb,
         CAST(sum((u0 - um1) * (u0 - um1)) AS DOUBLE) AS c
  FROM pair
)
SELECT ab.n AS n_days,
       round(ab.slope, 6) AS slope,
       round(ab.icept, 6) AS intercept,
       round(df.bb / nullif(df.a, 0), 6) AS rho,
       round(df.bb / nullif(sqrt(df.a * ((df.c - df.bb * df.bb
                                          / nullif(df.a, 0))
                                         / (df.m - 1))), 0), 6) AS df_t,
       df.bb / nullif(sqrt(df.a * ((df.c - df.bb * df.bb
                                    / nullif(df.a, 0))
                                   / (df.m - 1))), 0) < -1.94e0
         AS cointegrated
FROM ab, df
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_ts_cointegration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration check between the daily 'view' and
    'purchase' count series: OLS of purchases on views, then a
    Dickey-Fuller t-statistic on the residual (Δu regressed on u₋₁,
    no intercept). A strongly negative df_t (< −1.94, the 10%
    no-constant DF critical value) means the two series share a
    long-run equilibrium — deviations of purchases from the fitted
    view-multiple self-correct — which licenses ratio-based alerting
    (q_events_ratio_ci) on the pair; a near-zero df_t means the ratio
    drifts and per-series monitoring (q_ts_control_chart) is the only
    honest option.

    Scale shape: one data-sized pass collapses to the calendar-bounded
    day grid; the spine fill, OLS power sums (exact decimal), the
    6dp-snapped residual grid, and the lag-1 equi-join (no
    unpartitioned window — a self-join on the spine index) are all
    spine-sized; both reductions are map-combinable and the final
    frame is ONE row.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts").cast("double") / 86400)
        .cast("long")
        .alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    b = d.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    spine = (
        b.select(
            "mind",
            F.explode(
                F.sequence(F.lit(0), F.col("maxd") - F.col("mind"))
            ).alias("j"),
        )
        .join(d, on=[F.col("day") == F.col("mind") + F.col("j")], how="left")
        .select(
            "j",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    s = spine.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    ) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"),
        F.lit(0.0),
    )
    ab = s.select(
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("icept"),
    )
    u = spine.crossJoin(F.broadcast(ab)).select(
        "j",
        "n",
        "slope",
        "icept",
        F.round(
            F.col("y") - F.col("icept") - F.col("slope") * F.col("x"), 6
        )
        .cast("decimal(18,6)")
        .alias("ur"),
    )
    pair = (
        u.alias("cur")
        .join(
            u.select(F.col("j").alias("jp"), F.col("ur").alias("um1")),
            on=[F.col("jp") == F.col("j") - 1],
            how="inner",
        )
        .select("um1", (F.col("ur") - F.col("um1")).alias("du"))
    )
    df = pair.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("um1") * F.col("um1")).cast("double").alias("a"),
        F.sum(F.col("du") * F.col("um1")).cast("double").alias("bb"),
        F.sum(F.col("du") * F.col("du")).cast("double").alias("c"),
    )
    sig2 = (
        F.col("c") - F.col("bb") * F.col("bb") / F.nullif(F.col("a"), F.lit(0.0))
    ) / (F.col("m") - 1)
    df_t = F.col("bb") / F.nullif(F.sqrt(F.col("a") * sig2), F.lit(0.0))
    return (
        ab.crossJoin(F.broadcast(df))
        .select(
            F.col("n").alias("n_days"),
            F.round("slope", 6).alias("slope"),
            F.round("icept", 6).alias("intercept"),
            F.round(
                F.col("bb") / F.nullif(F.col("a"), F.lit(0.0)), 6
            ).alias("rho"),
            F.round(df_t, 6).alias("df_t"),
            (df_t < -1.94).alias("cointegrated"),
        )
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness per event type (Goh-Barabási B coefficient)
# ---------------------------------------------------------------------------


@query(
    "q_events_burstiness",
    # Gaps are exact BIGINT microseconds (epoch_us both engines), the
    # power sums ride decimal(19,0) products, and mean/std/B/CV are
    # one IEEE expression on identical doubles. The lag window is
    # partitioned by (user, type) — per-user sequences stay local.
    oracle="""
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts), 1)
           OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
           AS gap
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(gap) AS BIGINT) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS sg,
         CAST(sum(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0)))
              AS DOUBLE) AS sgg
  FROM g WHERE gap IS NOT NULL GROUP BY 1
),
m AS (
  SELECT event_type, n_gaps,
         CAST(sg AS DOUBLE) / n_gaps AS mu,
         sqrt(sgg / n_gaps - (CAST(sg AS DOUBLE) / n_gaps)
                             * (CAST(sg AS DOUBLE) / n_gaps)) AS sd
  FROM s WHERE n_gaps > 0
)
SELECT event_type, n_gaps,
       round(mu / 1e6, 6) AS mean_gap_sec,
       round(sd / nullif(mu, 0), 6) AS cv,
       round((sd - mu) / nullif(sd + mu, 0), 6) AS burstiness,
       CASE WHEN (sd - mu) / nullif(sd + mu, 0) > 0.1e0 THEN 'bursty'
            WHEN (sd - mu) / nullif(sd + mu, 0) < -0.1e0 THEN 'regular'
            ELSE 'poisson_like' END AS verdict
FROM m ORDER BY event_type
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness of per-user inter-arrival times, per
    event type: B = (σ−μ)/(σ+μ) of the microsecond gaps between a
    user's consecutive events of the same type. B ≈ 0 is a Poisson
    process (rate-based alerting and capacity math are licensed);
    B → 1 means heavy-tailed bursts (a mean rate is a fiction — size
    for the burst, and q_events_fatigue's session view is the right
    lens); B < 0 is pacemaker-regular (almost always a BOT signature
    in human-labeled streams). The event-stream sibling of
    q_text_burstiness's token view.

    Scale shape: the lag window partitions by (user, type) — millions
    of small sequences, never a global sort; the moment reduce is one
    map-combinable pass of exact integer/decimal power sums onto the
    bounded event_type grid.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = e.select(
        "event_type", (us - F.lag(us, 1).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    gd = F.col("gap").cast("decimal(19,0)")
    s = g.groupBy("event_type").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("sg"),
        F.sum(gd * gd).cast("double").alias("sgg"),
    )
    mu = F.col("sg").cast("double") / F.col("n_gaps")
    sd = F.sqrt(F.col("sgg") / F.col("n_gaps") - mu * mu)
    bb = (sd - mu) / F.nullif(sd + mu, F.lit(0.0))
    return (
        s.filter(F.col("n_gaps") > 0)
        .select(
            "event_type",
            "n_gaps",
            F.round(mu / 1e6, 6).alias("mean_gap_sec"),
            F.round(sd / F.nullif(mu, F.lit(0.0)), 6).alias("cv"),
            F.round(bb, 6).alias("burstiness"),
            F.when(bb > 0.1, "bursty")
            .when(bb < -0.1, "regular")
            .otherwise("poisson_like")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Banded DTW of each event type's daily profile vs the global profile
# ---------------------------------------------------------------------------

_DTW_BAND = 7        # Sakoe-Chiba band half-width, days
_DTW_SCALE = 1_000_000  # integer micro-share grid


@query(
    "q_ts_dtw",
    # Zero float surface: both profiles snap to integer micro-shares
    # (floor division), the local distance |a_i - b_j| is an integer,
    # and the banded DP propagates exact integer sums — the oracle
    # replays the identical recurrence as an anti-diagonal wavefront
    # (cells on diagonal k depend only on k-1 and k-2, so each step is
    # one list_transform with NO within-row recursion — the DuckDB
    # sequential-fold trap documented in SCALING.md does not apply).
    oracle=f"""
WITH RECURSIVE d AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
bn AS (SELECT min(day) AS mind, max(day) AS maxd FROM d),
types AS (SELECT DISTINCT event_type FROM d),
spine0 AS (
  SELECT t.event_type, s.j, bn.mind
  FROM bn, types t, unnest(generate_series(0, bn.maxd - bn.mind)) AS s(j)
),
sp AS (
  SELECT s0.event_type, s0.j, coalesce(d.y, 0) AS y
  FROM spine0 s0
  LEFT JOIN d ON d.event_type = s0.event_type AND d.day = s0.mind + s0.j
),
tot AS (SELECT event_type, sum(y) AS yt FROM sp GROUP BY 1),
gl AS (SELECT j, sum(y) AS g FROM sp GROUP BY 1),
gt AS (SELECT sum(g) AS gt FROM gl),
arr AS (
  SELECT sp.event_type,
         list((sp.y * {_DTW_SCALE}) // tot.yt ORDER BY sp.j) AS a,
         (SELECT list((gl.g * {_DTW_SCALE}) // gt.gt ORDER BY gl.j)
          FROM gl, gt) AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM sp JOIN tot USING (event_type)
  GROUP BY sp.event_type, tot.yt
),
dp AS (
  SELECT event_type, CAST(0 AS BIGINT) AS k,
         list_transform(generate_series(0, n - 1),
           i -> CASE WHEN i = 0 THEN abs(a[1] - b[1]) END) AS cur,
         CAST(NULL AS BIGINT[]) AS prev
  FROM arr
  UNION ALL
  SELECT dp.event_type, dp.k + 1,
         list_transform(generate_series(0, arr.n - 1), i ->
           CASE WHEN dp.k + 1 - i BETWEEN 0 AND arr.n - 1
                 AND abs(2 * i - (dp.k + 1)) <= {_DTW_BAND}
           THEN abs(arr.a[i + 1] - arr.b[dp.k + 2 - i])
                + list_min(list_filter([
                    CASE WHEN i > 0 THEN dp.cur[i] END,
                    dp.cur[i + 1],
                    CASE WHEN i > 0 THEN dp.prev[i] END
                  ], x -> x IS NOT NULL))
           END) AS cur,
         dp.cur AS prev
  FROM dp JOIN arr USING (event_type)
  WHERE dp.k + 1 <= 2 * arr.n - 2
)
SELECT dp.event_type, arr.n AS n_days,
       CAST(dp.cur[arr.n] AS BIGINT) AS dtw_cost_micro,
       round(CAST(dp.cur[arr.n] AS DOUBLE) / {_DTW_SCALE}, 6) AS dtw_cost,
       round(CAST(dp.cur[arr.n] AS DOUBLE) / {_DTW_SCALE}
             / (2 * arr.n - 1), 6) AS dtw_per_step
FROM dp JOIN arr USING (event_type)
WHERE dp.k = 2 * arr.n - 2
ORDER BY dp.event_type
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded dynamic-time-warping distance between each event type's
    daily volume PROFILE (integer micro-shares of its own total, so
    magnitude is factored out) and the global profile, Sakoe-Chiba
    band ±{band} days. DTW is the shape-similarity Spark has no
    built-in for: it forgives small phase shifts (a type that runs
    the same weekly wave two days late scores near 0) that make
    plain correlation (q_ts_rolling_corr) read "different". High
    dtw_per_step = this type marches to its own calendar — the mix /
    seasonality owner's segmentation readout.

    Custom-operator tier (b) of the mandate: semantics (a sequential
    O(n²) DP) are genuinely inexpressible as bounded relational
    algebra, so the DP runs in ``applyInPandas`` — ONE bounded pandas
    frame per event type, rows = the calendar-bounded day spine
    (never data-sized; the grid is grouped/zero-filled relationally
    first), exact Python-int arithmetic so the result is
    deterministic and engine-identical. The DuckDB oracle replays the
    recurrence as a recursive anti-diagonal wavefront CTE.

    Scale shape: raw pass collapses to the (type, day) grid; the
    per-group pandas state is O(days), the DP O(days·band); group
    count is the bounded type vocabulary. At 100 TB nothing grows but
    the day count.
    """
    import pandas as pd  # noqa: F401  (Arrow batch bridge)

    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts").cast("double") / 86400)
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    bn = d.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    types = d.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bn))
        .select(
            "event_type",
            "mind",
            F.explode(
                F.sequence(F.lit(0), F.col("maxd") - F.col("mind"))
            ).alias("j"),
        )
        .join(
            d.withColumnRenamed("event_type", "et"),
            on=[
                F.col("event_type") == F.col("et"),
                F.col("day") == F.col("mind") + F.col("j"),
            ],
            how="left",
        )
        .select("event_type", "j", F.coalesce("y", F.lit(0)).alias("y"))
        .localCheckpoint(eager=False)
    )
    tot = spine.groupBy("event_type").agg(F.sum("y").alias("yt"))
    gl = spine.groupBy("j").agg(F.sum("y").alias("g"))
    gt = gl.agg(F.sum("g").alias("gt"))
    rows = (
        spine.join(F.broadcast(tot), "event_type")
        .join(gl.withColumnRenamed("j", "jg"), F.col("jg") == F.col("j"))
        .crossJoin(F.broadcast(gt))
        .select(
            "event_type",
            "j",
            F.expr(f"(y * {_DTW_SCALE}L) div yt").alias("a"),
            F.expr(f"(g * {_DTW_SCALE}L) div gt").alias("b"),
        )
    )

    def dtw(pdf):
        import pandas as pd

        pdf = pdf.sort_values("j")
        a = [int(x) for x in pdf["a"]]
        b = [int(x) for x in pdf["b"]]
        n = len(a)
        w = _DTW_BAND
        prev = None
        cur = [abs(a[0] - b[0]) if i == 0 else None for i in range(n)]
        for k in range(1, 2 * n - 1):
            nxt = [None] * n
            for i in range(n):
                j = k - i
                if not (0 <= j < n and abs(i - j) <= w):
                    continue
                cands = []
                if i > 0 and cur[i - 1] is not None:
                    cands.append(cur[i - 1])
                if cur[i] is not None:
                    cands.append(cur[i])
                if i > 0 and prev is not None and prev[i - 1] is not None:
                    cands.append(prev[i - 1])
                if cands:
                    nxt[i] = abs(a[i] - b[j]) + min(cands)
            prev, cur = cur, nxt
        cost = cur[n - 1] if n > 1 else abs(a[0] - b[0])
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "dtw_cost_micro": [cost],
                "dtw_cost": [round(cost / _DTW_SCALE, 6)],
                "dtw_per_step": [
                    round(cost / _DTW_SCALE / (2 * n - 1), 6)
                ],
            }
        )

    return (
        rows.groupBy("event_type")
        .applyInPandas(
            dtw,
            schema=(
                "event_type string, n_days long, dtw_cost_micro long, "
                "dtw_cost double, dtw_per_step double"
            ),
        )
        .orderBy("event_type")
    )


q_ts_dtw.__doc__ = q_ts_dtw.__doc__.format(band=_DTW_BAND)


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (period 7) of daily volumes
# ---------------------------------------------------------------------------


@query(
    "q_ts_holt_winters",
    # The q_ts_holt contract extended with LIST seasonal state:
    # alpha = beta = gamma = 0.5 (exact halvings), both engines run
    # the IDENTICAL left-to-right recursion over identical integer
    # daily counts (Spark aggregate-fold vs DuckDB recursive CTE with
    # a rotating 7-element list; NOT list_reduce — the 1.0.0
    # struct-lambda fold bug), initialization is the same
    # two-week-mean expression sequence, so level/trend/seasonals are
    # bit-identical. Float literals spelled 0.5e0 / 7.0e0 (bare 0.5
    # parses as DECIMAL in DuckDB and truncates the fold).
    oracle="""
WITH RECURSIVE d AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
b AS (
  SELECT event_type, min(day) AS mind, max(day) AS maxd FROM d GROUP BY 1
),
spine0 AS (
  SELECT b.event_type, s.j, b.mind
  FROM b, unnest(generate_series(0, b.maxd - b.mind)) AS s(j)
),
spine AS (
  SELECT s0.event_type, s0.j, CAST(coalesce(d.y, 0) AS DOUBLE) AS y
  FROM spine0 s0
  LEFT JOIN d ON d.event_type = s0.event_type AND d.day = s0.mind + s0.j
),
s AS (
  SELECT event_type, list(y ORDER BY j) AS xs,
         CAST(count(*) AS BIGINT) AS n
  FROM spine GROUP BY 1 HAVING count(*) >= 15
),
r AS (
  SELECT event_type, xs, n, CAST(7 AS BIGINT) AS i,
         list_sum(xs[1:7]) / 7.0e0 AS l,
         (list_sum(xs[8:14]) / 7.0e0 - list_sum(xs[1:7]) / 7.0e0)
           / 7.0e0 AS b,
         list_transform(xs[1:7],
                        v -> v - list_sum(xs[1:7]) / 7.0e0) AS sl
  FROM s
  UNION ALL
  SELECT event_type, xs, n, i + 1,
         0.5e0 * (xs[i + 1] - sl[1]) + 0.5e0 * (l + b),
         0.5e0 * ((0.5e0 * (xs[i + 1] - sl[1]) + 0.5e0 * (l + b)) - l)
           + 0.5e0 * b,
         list_append(sl[2:7],
           0.5e0 * (xs[i + 1]
                    - (0.5e0 * (xs[i + 1] - sl[1]) + 0.5e0 * (l + b)))
           + 0.5e0 * sl[1])
  FROM r WHERE i < n
)
SELECT event_type, n AS n_days,
       round(l, 6) AS level, round(b, 6) AS trend,
       round(list_max(sl) - list_min(sl), 6) AS seasonal_range,
       round(l + 7 * b + sl[7], 6) AS forecast_7d
FROM r WHERE i = n
ORDER BY event_type
""",
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple-exponential smoothing of each
    event type's daily count series (period 7, α = β = γ = ½): level,
    trend, the seasonal amplitude (max − min of the final weekly
    profile) and the 7-day-ahead forecast l + 7b + s₇. The
    seasonality-aware step up from q_ts_holt: on a weekly-cycled
    stream Holt's trend chases the cycle, while the seasonal state
    absorbs it — seasonal_range IS the measured weekly swing, and the
    forecast lands on the right weekday. ½-smoothing keeps every
    update an exact binary halving, bit-identical across engines.

    Scale shape: ONE data-sized pass to the (type, day) grid; the
    zero-filled spine and per-type series arrays are calendar-bounded;
    the inherently-sequential recursion runs as a per-group
    aggregate-fold carrying (l, b, 7-element seasonal list) — groups
    parallelize across the cluster, state is O(period) per series.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts").cast("double") / 86400)
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    b = d.groupBy("event_type").agg(
        F.min("day").alias("mind"), F.max("day").alias("maxd")
    )
    spine = (
        b.select(
            "event_type",
            "mind",
            F.explode(
                F.sequence(F.lit(0), F.col("maxd") - F.col("mind"))
            ).alias("j"),
        )
        .join(
            d.withColumnRenamed("event_type", "et"),
            on=[
                F.col("event_type") == F.col("et"),
                F.col("day") == F.col("mind") + F.col("j"),
            ],
            how="left",
        )
        .select(
            "event_type",
            "j",
            F.coalesce("y", F.lit(0)).cast("double").alias("y"),
        )
    )
    s = (
        spine.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "y"))),
                lambda st: st["y"],
            ).alias("xs"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .filter(F.col("n") >= 15)
    )
    xs = F.col("xs")

    def lsum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    l0 = lsum(F.slice(xs, 1, 7)) / 7.0
    b0 = (lsum(F.slice(xs, 8, 7)) / 7.0 - lsum(F.slice(xs, 1, 7)) / 7.0) / 7.0
    s0 = F.transform(
        F.slice(xs, 1, 7), lambda v: v - lsum(F.slice(xs, 1, 7)) / 7.0
    )
    init = F.struct(l0.alias("l"), b0.alias("b"), s0.alias("sl"))

    def step(acc, x):
        lnew = F.lit(0.5) * (x - F.element_at(acc["sl"], 1)) + F.lit(0.5) * (
            acc["l"] + acc["b"]
        )
        bnew = F.lit(0.5) * (lnew - acc["l"]) + F.lit(0.5) * acc["b"]
        snew = F.concat(
            F.slice(acc["sl"], 2, 6),
            F.array(
                F.lit(0.5) * (x - lnew)
                + F.lit(0.5) * F.element_at(acc["sl"], 1)
            ),
        )
        return F.struct(lnew.alias("l"), bnew.alias("b"), snew.alias("sl"))

    st = F.aggregate(
        F.slice(xs, 8, F.greatest(F.size(xs) - 7, F.lit(0))), init, step
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(
            F.array_max(st["sl"]) - F.array_min(st["sl"]), 6
        ).alias("seasonal_range"),
        F.round(
            st["l"] + 7 * st["b"] + F.element_at(st["sl"], 7), 6
        ).alias("forecast_7d"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# ESD-style iterative masked outlier test on the daily volume series
# ---------------------------------------------------------------------------

_ESD_ROUNDS = 3
_ESD_Z = 3.0  # fixed sigma gate (documented simplification of the
              # Rosner lambda; the ITERATIVE MASKING is the operator)


def _esd_oracle() -> str:
    ctes, prev = [], "d"
    for r in range(1, _ESD_ROUNDS + 1):
        ctes.append(f"""
m{r} AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS syy
  FROM {prev}
),
z{r} AS (
  SELECT p.day, p.y, m{r}.n,
         round(abs(p.y - m{r}.sy / m{r}.n)
               / nullif(sqrt(m{r}.syy / m{r}.n
                             - (m{r}.sy / m{r}.n) * (m{r}.sy / m{r}.n)),
                        0), 6) AS az,
         round((p.y - m{r}.sy / m{r}.n)
               / nullif(sqrt(m{r}.syy / m{r}.n
                             - (m{r}.sy / m{r}.n) * (m{r}.sy / m{r}.n)),
                        0), 6) AS z
  FROM {prev} p, m{r}
),
pick{r} AS (
  SELECT {r} AS round, day, y, z, az FROM z{r}
  ORDER BY az DESC, day LIMIT 1
),
a{r} AS (
  SELECT p.day, p.y FROM {prev} p
  WHERE p.day != (SELECT day FROM pick{r})
)""")
        prev = f"a{r}"
    return (
        """
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),"""
        + ",".join(ctes)
        + f"""
SELECT round, day, CAST(y AS BIGINT) AS y, z,
       az > {_ESD_Z} AS flagged
FROM ({" UNION ALL ".join(f"SELECT * FROM pick{r}" for r in range(1, _ESD_ROUNDS + 1))})
ORDER BY round
"""
    )


@query(
    "q_anomaly_esd",
    # Each round's mean/sd come from exact decimal power sums over the
    # REMAINING days; the argmax compares 6dp-rounded |z| with an
    # earliest-day tiebreak, so both engines peel the identical day
    # per round (the q_ts_changepoint argmax device, iterated).
    oracle=_esd_oracle(),
)
def q_anomaly_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative masked outlier extraction on the daily event-volume
    series (the generalized-ESD shape, {r} rounds, fixed 3σ gate):
    peel the most extreme day, RECOMPUTE mean/sd without it, repeat —
    the masking-proof test that catches the second and third outlier
    a single-pass z-score (q_anomaly) misses because the first
    outlier inflated σ. Each peeled day reports the z-score it had
    against the statistics of the data that REMAINED — flagged says
    whether it clears the gate once earlier extremes stop polluting σ.

    Scale shape: the raw pass collapses to the calendar-bounded day
    grid once; each of the {r} unrolled rounds is a 1-row exact
    power-sum aggregate + a broadcast anti-condition + a rank-1
    TakeOrdered on the bounded spine — no data-sized recomputation,
    no window, no driver loop.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts").cast("double") / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y")).localCheckpoint(
        eager=False
    )
    yd = F.col("y").cast("decimal(19,0)")
    picks = []
    active = d
    for r in range(1, _ESD_ROUNDS + 1):
        m = F.broadcast(
            active.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(yd).cast("double").alias("sy"),
                F.sum(yd * yd).cast("double").alias("syy"),
            )
        )
        mean = F.col("sy") / F.col("n")
        sd = F.sqrt(F.col("syy") / F.col("n") - mean * mean)
        zed = active.crossJoin(m).select(
            "day",
            "y",
            F.round(
                F.abs(F.col("y") - mean) / F.nullif(sd, F.lit(0.0)), 6
            ).alias("az"),
            F.round(
                (F.col("y") - mean) / F.nullif(sd, F.lit(0.0)), 6
            ).alias("z"),
        )
        pick = (
            zed.orderBy(F.col("az").desc(), "day")
            .limit(1)
            .select(
                F.lit(r).cast("int").alias("round"),
                "day",
                "y",
                "z",
                "az",
            )
            .localCheckpoint(eager=False)
        )
        picks.append(pick)
        active = (
            active.join(
                F.broadcast(pick.select(F.col("day").alias("pd"))),
                F.col("day") == F.col("pd"),
                "left_anti",
            )
        ).localCheckpoint(eager=False)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select(
        "round",
        "day",
        F.col("y").cast("long").alias("y"),
        "z",
        (F.col("az") > _ESD_Z).alias("flagged"),
    ).orderBy("round")


q_anomaly_esd.__doc__ = q_anomaly_esd.__doc__.format(r=_ESD_ROUNDS)


# Daily-total CTE shared by the bollinger/rsi/macd trio — identical text
# on both engines (the q_ts_ewma discipline: same SQL, same doubles).
_TD_SQL = """td AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
  FROM {src} GROUP BY 1, 2
)"""

_BOLL_BODY = """
WITH {td},
w AS (
  SELECT event_type, day, total,
         CAST(SUM(CAST(total AS DECIMAL(28,6))) OVER win AS DOUBLE) AS s1,
         CAST(SUM(CAST(total * total AS DECIMAL(28,6))) OVER win AS DOUBLE)
           AS s2,
         COUNT(*) OVER win AS nw
  FROM td
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       round(total, 6) AS total,
       round(s1 / 7, 6) AS ma,
       round(sqrt(greatest(0.0e0, (s2 - s1 * s1 / 7) / 6)), 6) AS sd,
       round(s1 / 7 + 2 * sqrt(greatest(0.0e0, (s2 - s1 * s1 / 7) / 6)), 6)
         AS upper_band,
       round(s1 / 7 - 2 * sqrt(greatest(0.0e0, (s2 - s1 * s1 / 7) / 6)), 6)
         AS lower_band,
       total > s1 / 7 + 2 * sqrt(greatest(0.0e0, (s2 - s1 * s1 / 7) / 6))
         AS breach_hi,
       total < s1 / 7 - 2 * sqrt(greatest(0.0e0, (s2 - s1 * s1 / 7) / 6))
         AS breach_lo
FROM w WHERE nw = 7
ORDER BY event_type, day
"""


@query(
    "q_ts_bollinger",
    oracle=_BOLL_BODY.format(td=_TD_SQL.format(src="events")),
)
def q_ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (trailing-7 mean ± 2σ) over each event type's
    daily value total, with breach flags — the LOCAL-volatility
    envelope: q_ts_control_chart draws process-wide limits (is this
    variation normal for the PROCESS), the bands draw rolling ones
    (is today extreme vs the last week's own volatility), so a slow
    regime change stops widening the alarm threshold.

    Scale shape: raw pass collapses to the bounded (type, day) grid
    once (map-combinable exact-DECIMAL sums); band math is ONE
    type-partitioned 7-row window carrying exact DECIMAL power sums;
    σ is a single sqrt on identical doubles (greatest(0,·) guards the
    catastrophic-cancellation corner); flags compare unrounded
    doubles both engines derived identically.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("boll_events")
    return spark.sql(_BOLL_BODY.format(td=_TD_SQL.format(src="boll_events")))


_RSI_BODY = """
WITH {td},
d AS (
  SELECT event_type, day,
         total - lag(total) OVER (PARTITION BY event_type ORDER BY day)
           AS delta
  FROM td
),
g AS (
  SELECT event_type, day,
         CAST(SUM(CAST(greatest(delta, 0.0e0) AS DECIMAL(28,6))) OVER win
              AS DOUBLE) AS gain,
         CAST(SUM(CAST(greatest(-delta, 0.0e0) AS DECIMAL(28,6))) OVER win
              AS DOUBLE) AS loss,
         COUNT(delta) OVER win AS nd
  FROM d
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       round(gain / 14, 6) AS avg_gain,
       round(loss / 14, 6) AS avg_loss,
       round(CASE WHEN gain + loss = 0.0e0 THEN 50.0e0
                  ELSE 100.0e0 * gain / (gain + loss) END, 6) AS rsi
FROM g WHERE nd = 14
ORDER BY event_type, day
"""


@query(
    "q_ts_rsi",
    oracle=_RSI_BODY.format(td=_TD_SQL.format(src="events")),
)
def q_ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI (14-day SMA of gains vs losses) per event type's
    daily total — the bounded 0-100 momentum oscillator: q_win_momentum
    reports the week-over-week level change, RSI reports how
    one-sided the day-to-day changes have been (70/30 =
    overbought/oversold in the classic reading; for ops metrics,
    "all improvement days" vs "all regression days"). The SMA form is
    deliberate: Wilder's recursive smoothing is order-serial, Cutler's
    is a pure 14-row window — same scale story as q_ts_ewma's
    truncation.

    Scale shape: bounded (type, day) grid once; deltas from one lag
    window; gain/loss sums are exact DECIMAL over 14-row
    type-partitioned frames; RSI = 100·g/(g+l) is one IEEE expression
    on identical doubles (g+l=0 pinned to the neutral 50).
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("rsi_events")
    return spark.sql(_RSI_BODY.format(td=_TD_SQL.format(src="rsi_events")))


def _trunc_ema(weights: tuple[float, ...], arr: str, neg: bool = True) -> str:
    """Truncated renormalized EMA as one left-associated literal chain
    (the q_ts_ewma device, parametrized by the weight tuple). ``arr``
    is the trailing-window array expression; weights are exact finite
    decimals so both engines parse identical nearest-doubles."""
    at = (f"try_element_at({arr}, -{{i}})" if neg
          else f"{arr}[-{{i}}]")
    sz = f"size({arr})" if neg else f"len({arr})"
    num = " + ".join(
        f"coalesce({at.format(i=i + 1)}, 0.0) * {w!r}"
        for i, w in enumerate(weights)
    )
    den = " + ".join(
        f"(CASE WHEN {sz} > {i} THEN {w!r} ELSE 0.0 END)"
        for i, w in enumerate(weights)
    )
    return f"(({num}) / ({den}))"


# (1-alpha)^k for alpha = 0.25 / 0.1 / 0.4 — all finite decimals.
_MACD_FAST = (1.0, 0.75, 0.5625, 0.421875, 0.31640625, 0.2373046875,
              0.177978515625, 0.13348388671875)
_MACD_SLOW = (1.0, 0.9, 0.81, 0.729, 0.6561, 0.59049, 0.531441, 0.4782969)
_MACD_SIG = (1.0, 0.6, 0.36, 0.216, 0.1296, 0.07776, 0.046656, 0.0279936)


def _macd_body(spark_side: bool) -> str:
    arr, arr2 = ("arr", "arr2")
    fast = _trunc_ema(_MACD_FAST, arr, spark_side)
    slow = _trunc_ema(_MACD_SLOW, arr, spark_side)
    sig = _trunc_ema(_MACD_SIG, arr2, spark_side)
    lst = "collect_list" if spark_side else "list"
    sz = "size" if spark_side else "len"
    return f"""
WITH {{td}},
w1 AS (
  SELECT event_type, day,
         {lst}(total) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
  FROM td
),
m AS (
  SELECT event_type, day, ({fast} - {slow}) AS macd
  FROM w1 WHERE {sz}(arr) = 8
),
w2 AS (
  SELECT event_type, day, macd,
         {lst}(macd) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr2
  FROM m
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day, round(macd, 6) AS macd,
       round({sig}, 6) AS signal_line,
       round(macd - {sig}, 6) AS histogram
FROM w2 WHERE {sz}(arr2) = 8
ORDER BY event_type, day
"""


@query(
    "q_ts_macd",
    oracle=_macd_body(False).format(td=_TD_SQL.format(src="events")),
)
def q_ts_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (fast EMA − slow EMA, plus a signal EMA of the MACD and
    the histogram) per event type's daily total — the trend-REVERSAL
    detector that complements q_ts_ewma's level tracking: the
    histogram's sign flips when short-term momentum crosses the
    longer trend, typically days before the level itself turns.
    EMAs are the truncated-renormalized q_ts_ewma form (trailing-8,
    α = 0.25/0.1/0.4 — all (1−α)^k weights are exact finite
    decimals), which keeps the recursion a bounded ROWS window
    instead of an order-serial fold.

    Scale shape: bounded (type, day) grid once; TWO chained 8-row
    type-partitioned windows (raw → MACD, MACD → signal), each a
    row-local literal-weight chain evaluated left-associated on
    identical doubles in both engines; no driver state, no UDF.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("macd_events")
    return spark.sql(
        _macd_body(True).format(td=_TD_SQL.format(src="macd_events"))
    )


_FLAP_BODY = """
WITH s AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
         lag(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_err
  FROM {src}
),
per_u AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN prev_err IS NOT NULL AND is_err <> prev_err
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_toggles
  FROM s GROUP BY 1
)
SELECT user_id, n_events, n_toggles,
       round(CAST(n_toggles AS DOUBLE) / (n_events - 1), 6) AS toggle_rate,
       (CAST(n_toggles AS DOUBLE) / (n_events - 1) > 0.5e0
        AND n_events >= 10) AS flapping
FROM per_u
WHERE n_events >= 2
ORDER BY n_toggles DESC, user_id
LIMIT 25
"""


@query(
    "q_events_flap",
    oracle=_FLAP_BODY.format(src="events"),
)
def q_events_flap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flap detection per user: how often the stream TOGGLES between
    error and non-error state (Nagios/alertmanager's flap damping
    readout) — the burst-structure complement to q_events_burstiness
    (bursty errors in one block barely toggle; the same error count
    interleaved with successes toggles maximally, and THAT is the
    retry-storm / threshold-oscillation signature that should damp
    alerts instead of paging 40 times).

    Scale shape: one user-partitioned lag window (co-partitioned with
    its own aggregate — a single shuffle on the entity key), one
    map-combinable per-user reduce, TakeOrdered top-25 on the integer
    toggle count with the key tiebreak; rate and flag are row-local
    IEEE on identical integers.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("flap_events")
    return spark.sql(_FLAP_BODY.format(src="flap_events"))
