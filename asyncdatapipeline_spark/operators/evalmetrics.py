"""Model-evaluation metrics over scored rows — the offline-eval family.

The engine's eval surface so far judged RETRIEVAL artifacts (q_eval_ann /
q_eval_retrieval / q_eval_dedup / q_eval_langid: recall@k, MRR, pair
F1). This module adds the CLASSIFIER-side metrics every offline eval job
needs: ROC AUC, the confusion-matrix family, and probability
calibration. The "model" under test is deliberately a deterministic
score already in the data (``events.value`` read as a propensity score
for ``purchase`` vs ``view``) — the operators are the product, the
score is fixture.

Reference parity: the reference (Go async batch pipeline,
async_data_pipeline.go:1-391) has no analytics surface; these derive
from its data-processing mission restated for an analytics engine, per
SURVEY.md §2B.

Scale notes are per-operator; the common theme: every metric here
reduces to counting and rank statistics, so each op is one or two
partial-aggregated passes with at most a dimension-sized frame
downstream — no per-row Python, no driver-side math on data-sized
inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import query
from ..sources.tables import load_table
from ._util import bounded_part, dist_cumsum

_SCORED = """
SELECT value AS score,
       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
FROM events WHERE event_type IN ('purchase', 'view')
"""


@query(
    "q_eval_auc",
    # Exact midrank AUC: same doubled-midrank device as
    # q_agg_mannwhitney — every quantity integer until the one final
    # division. AUC = (R2a/2 - na(na+1)/2) / (na*nb).
    oracle=f"""
WITH scored AS ({_SCORED}),
g AS (
  SELECT score, CAST(sum(y) AS BIGINT) AS a_tie,
         count(*) AS tie
  FROM scored GROUP BY score
),
c AS (
  SELECT a_tie, tie,
         sum(tie) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tie
  FROM g
),
s AS (
  SELECT CAST(sum(a_tie * (2 * cum_tie - tie + 1)) AS BIGINT) AS r2a,
         CAST(sum(a_tie) AS BIGINT) AS na,
         CAST(sum(tie - a_tie) AS BIGINT) AS nb
  FROM c
)
SELECT na AS n_pos, nb AS n_neg,
       round((r2a / 2.0 - na * (na + 1) / 2.0) / (na * nb), 6) AS auc,
       round(1.0 - (r2a / 2.0 - na * (na + 1) / 2.0) / (na * nb), 6)
         AS auc_flipped
FROM s
""",
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of a score column against a binary label — THE
    threshold-free ranking metric, via its rank-statistic identity:
    AUC = U/(n⁺·n⁻) where U is the Mann-Whitney statistic (the
    probability a random positive outranks a random negative, ties at
    half). No curve is materialized: the trapezoid-integral and
    rank formulations are equal, and the rank form is one aggregation.

    Scale shape: identical to q_agg_mannwhitney — the distinct score
    spine (groupBy(score) with per-group positive and tie counts) →
    exact cumulative tie counts via ``dist_cumsum`` (range-partition
    + per-bucket offsets, no data-sized single-partition WindowExec)
    → doubled midranks 2·cum − tie + 1 (always BIGINT) → one
    closed-form row. Works unchanged on billions of rows: the only
    data-sized pass is the groupBy. ``auc_flipped`` ships because an
    AUC below 0.5 means the score ranks the NEGATIVES higher — the
    eval report should say so, not make the reader do 1−x.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = t.groupBy("score").agg(
        F.sum("y").alias("a_tie"), F.count(F.lit(1)).alias("tie")
    )
    g = dist_cumsum(g, "score", ["tie"])
    rx2 = 2 * F.col("cum_tie") - F.col("tie") + 1
    s = g.agg(
        F.sum(F.col("a_tie") * rx2).cast("long").alias("r2a"),
        F.sum("a_tie").cast("long").alias("na"),
        F.sum(F.col("tie") - F.col("a_tie")).cast("long").alias("nb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    auc = (F.col("r2a").cast("double") / 2 - na * (na + 1) / 2) / (na * nb)
    return s.select(
        F.col("na").alias("n_pos"),
        F.col("nb").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(1.0 - auc, 6).alias("auc_flipped"),
    )


@query(
    "q_eval_confusion",
    # Four exact counts; every derived metric is a division of exact
    # integers (single deterministic IEEE op per metric), rounded 6dp.
    oracle=f"""
WITH scored AS ({_SCORED}),
c AS (
  SELECT
    CAST(sum(CASE WHEN score >= 50 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN score >= 50 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN score <  50 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN score <  50 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scored
)
SELECT tp, fp, fn, tn,
       round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6) AS accuracy,
       round(tp * 1.0 / (tp + fp), 6) AS precision_,
       round(tp * 1.0 / (tp + fn), 6) AS recall,
       round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
       round((tp * 1.0 * tn - fp * 1.0 * fn)
             / sqrt((tp + fp) * 1.0 * (tp + fn) * (tn + fp) * (tn + fn)),
             6) AS mcc
FROM c
""",
)
def q_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix and its derived metrics at a fixed decision
    threshold (score ≥ 50 predicts positive): accuracy, precision,
    recall, F1, and Matthews correlation — the metric sheet a model
    card quotes next to q_eval_auc's threshold-free number. MCC is
    included because accuracy and F1 both mislead under class
    imbalance, and it is the one single-number summary that uses all
    four cells.

    Scale shape: ONE partial-aggregated pass producing four exact
    conditional counts (map-side combinable, no shuffle beyond the
    single-row merge); every metric is arithmetic on one row. F1 is
    computed as 2TP/(2TP+FP+FN) — algebraically the P/R harmonic mean
    but ONE division instead of a chain, so both engines perform the
    identical IEEE op sequence. MCC's denominator product is ordered
    (tp+fp)(tp+fn)(tn+fp)(tn+fn) in both engines for the same reason.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    pred = F.col("score") >= 50
    y1 = F.col("y") == 1
    c = t.agg(
        F.sum((pred & y1).cast("long")).alias("tp"),
        F.sum((pred & ~y1).cast("long")).alias("fp"),
        F.sum((~pred & y1).cast("long")).alias("fn"),
        F.sum((~pred & ~y1).cast("long")).alias("tn"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn_, tn = F.col("fn").cast("double"), F.col("tn").cast("double")
    mcc = (tp * tn - fp * fn_) / F.sqrt(
        (tp + fp) * (tp + fn_) * (tn + fp) * (tn + fn_)
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round((tp + tn) / (tp + fp + fn_ + tn), 6).alias("accuracy"),
        F.round(tp / (tp + fp), 6).alias("precision_"),
        F.round(tp / (tp + fn_), 6).alias("recall"),
        F.round(2.0 * tp / (2.0 * tp + fp + fn_), 6).alias("f1"),
        F.round(mcc, 6).alias("mcc"),
    )


@query(
    "q_eval_calibration",
    # Per-bin exact counts + decimal-armored probability sums; the
    # bin's |confidence - accuracy| gap is arithmetic on those.
    oracle=f"""
WITH scored AS ({_SCORED}),
b AS (
  SELECT least(CAST(floor(score / 10) AS BIGINT), 9) AS bin,
         score / 100.0 AS p, y
  FROM scored
),
g AS (
  SELECT bin, count(*) AS n,
         CAST(sum(CAST(p AS DECIMAL(28,6))) AS DOUBLE) / count(*)
           AS confidence,
         CAST(sum(y) AS BIGINT) * 1.0 / count(*) AS accuracy
  FROM b GROUP BY bin
)
SELECT bin, n, round(confidence, 6) AS confidence,
       round(accuracy, 6) AS accuracy,
       round(abs(confidence - accuracy), 6) AS gap
FROM g ORDER BY bin
""",
)
def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table: predicted probability (score/100) bucketed
    into ten equal-width bins, each bin's mean confidence vs empirical
    positive rate and the |gap| — the table behind a reliability
    diagram and the Expected Calibration Error (ECE = n-weighted mean
    of ``gap``; left as per-bin rows because the diagram needs them
    and the scalar is one trivial rollup away).

    Scale shape: bin id is a map-only expression, then ONE grouped
    aggregation over ≤10 groups — partial aggregation does all the
    work, the reduce side merges ten rows. Confidence means go
    through exact DECIMAL sums (order-independent across partitions /
    AQE merge orders); accuracy is an exact-integer ratio, one IEEE
    division. The top bin is closed ([90,100]) via least(bin, 9) so a
    perfect score of 100 is not its own eleventh bin.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = t.select(
        F.least(F.floor(F.col("score") / 10).cast("long"), F.lit(9)).alias(
            "bin"
        ),
        (F.col("score") / 100.0).alias("p"),
        "y",
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("p").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("confidence"),
        (F.sum("y").cast("long") * 1.0 / F.count(F.lit(1))).alias("accuracy"),
    )
    return g.select(
        "bin",
        "n",
        F.round("confidence", 6).alias("confidence"),
        F.round("accuracy", 6).alias("accuracy"),
        F.round(F.abs(F.col("confidence") - F.col("accuracy")), 6).alias(
            "gap"
        ),
    ).orderBy("bin")


@query(
    "q_eval_report",
    # One-row model card assembled from the three metric families'
    # exact machinery; every column is either exact-integer arithmetic
    # or the identical ordered IEEE chain both engines run.
    oracle=f"""
WITH scored AS ({_SCORED}),
g AS (
  SELECT score, CAST(sum(y) AS BIGINT) AS a_tie, count(*) AS tie
  FROM scored GROUP BY score
),
c AS (
  SELECT a_tie, tie,
         sum(tie) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tie
  FROM g
),
rank_s AS (
  SELECT CAST(sum(a_tie * (2 * cum_tie - tie + 1)) AS BIGINT) AS r2a,
         CAST(sum(a_tie) AS BIGINT) AS na,
         CAST(sum(tie - a_tie) AS BIGINT) AS nb
  FROM c
),
conf AS (
  SELECT
    CAST(sum(CASE WHEN score >= 50 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN score >= 50 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN score <  50 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN score <  50 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scored
),
bins AS (
  SELECT least(CAST(floor(score / 10) AS BIGINT), 9) AS bin,
         count(*) AS n,
         CAST(sum(CAST(score / 100.0 AS DECIMAL(28,6))) AS DOUBLE)
           / count(*) AS conf_,
         CAST(sum(y) AS BIGINT) * 1.0 / count(*) AS acc_
  FROM scored GROUP BY 1
),
ece AS (
  SELECT CAST(sum(CAST(round(abs(conf_ - acc_) * n, 6)
                       AS DECIMAL(28,6))) AS DOUBLE)
           / sum(n) AS ece
  FROM bins
)
SELECT na + nb AS n,
       round((r2a / 2.0 - na * (na + 1) / 2.0) / (na * nb), 6) AS auc,
       round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6) AS accuracy,
       round(tp * 1.0 / (tp + fp), 6) AS precision_,
       round(tp * 1.0 / (tp + fn), 6) AS recall,
       round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
       round(ece, 6) AS ece
FROM rank_s, conf, ece
""",
)
def q_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row model card: AUC + threshold metrics + calibration
    error for a scored binary-label stream — what an offline-eval job
    actually publishes (q_eval_auc / q_eval_confusion /
    q_eval_calibration are the inspection views; this is their
    composed headline row, the curation-pipeline pattern applied to
    evaluation).

    ECE is the n-weighted mean |confidence − accuracy| over the ten
    calibration bins; each bin's contribution is rounded 6dp and
    decimal-summed so the ten-addend reduction is order-free (a
    ten-element float sum would already be stable, but the contract
    is uniform: no raw float summation anywhere).

    Scale shape: three independent aggregation passes over the same
    scored projection (rank spine via ``dist_cumsum``, one
    conditional-count pass, one ≤10-group bin pass) joined as 1-row
    broadcasts. Spark evaluates them as three jobs over one cached
    scan shape; none carries more than the distinct-score spine.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    # AUC via the distributed midrank spine
    g = t.groupBy("score").agg(
        F.sum("y").alias("a_tie"), F.count(F.lit(1)).alias("tie")
    )
    g = dist_cumsum(g, "score", ["tie"])
    rx2 = 2 * F.col("cum_tie") - F.col("tie") + 1
    rank_s = g.agg(
        F.sum(F.col("a_tie") * rx2).cast("long").alias("r2a"),
        F.sum("a_tie").cast("long").alias("na"),
        F.sum(F.col("tie") - F.col("a_tie")).cast("long").alias("nb"),
    )
    # confusion counts
    pred, y1 = F.col("score") >= 50, F.col("y") == 1
    conf = t.agg(
        F.sum((pred & y1).cast("long")).alias("tp"),
        F.sum((pred & ~y1).cast("long")).alias("fp"),
        F.sum((~pred & y1).cast("long")).alias("fn"),
        F.sum((~pred & ~y1).cast("long")).alias("tn"),
    )
    # calibration bins -> ECE
    bins = t.groupBy(
        F.least(F.floor(F.col("score") / 10).cast("long"), F.lit(9)).alias(
            "bin"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum((F.col("score") / 100.0).cast("decimal(28,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("conf_"),
        (F.sum("y").cast("long") * 1.0 / F.count(F.lit(1))).alias("acc_"),
    )
    ece = bins.agg(
        (
            F.sum(
                F.round(
                    F.abs(F.col("conf_") - F.col("acc_")) * F.col("n"), 6
                ).cast("decimal(28,6)")
            ).cast("double")
            / F.sum("n")
        ).alias("ece")
    )
    s = rank_s.crossJoin(F.broadcast(conf)).crossJoin(F.broadcast(ece))
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    auc = (F.col("r2a").cast("double") / 2 - na * (na + 1) / 2) / (na * nb)
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn_, tn = F.col("fn").cast("double"), F.col("tn").cast("double")
    return s.select(
        (F.col("na") + F.col("nb")).alias("n"),
        F.round(auc, 6).alias("auc"),
        F.round((tp + tn) / (tp + fp + fn_ + tn), 6).alias("accuracy"),
        F.round(tp / (tp + fp), 6).alias("precision_"),
        F.round(tp / (tp + fn_), 6).alias("recall"),
        F.round(2.0 * tp / (2.0 * tp + fp + fn_), 6).alias("f1"),
        F.round("ece", 6).alias("ece"),
    )


@query(
    "q_eval_pr",
    # Tie-blocked PR: blocks are DISTINCT scores descending, so both
    # engines see identical (cum_tp, cum_n) staircases; the AP sum is
    # decimal-armored (block precision rounded to 9dp then DECIMAL —
    # the ln-contract pattern) so partial-sum order can't drift it.
    oracle="""
WITH t AS (
  SELECT value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE event_type IN ('purchase', 'view')
),
g AS (
  SELECT score, CAST(sum(y) AS BIGINT) AS a_tie,
         CAST(count(*) AS BIGINT) AS tie
  FROM t GROUP BY score
),
c AS (
  SELECT score, a_tie, tie,
         CAST(sum(a_tie) OVER (ORDER BY score DESC) AS BIGINT) AS cum_a,
         CAST(sum(tie) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n
  FROM g
),
tot AS (
  SELECT CAST(sum(a_tie) AS BIGINT) AS p,
         CAST(sum(tie - a_tie) AS BIGINT) AS neg
  FROM g
),
s AS (
  SELECT max(tot.p) AS p, max(tot.neg) AS neg,
         CAST(sum(CAST(a_tie AS DECIMAL(18,0))
                  * CAST(round(CAST(cum_a AS DOUBLE) / cum_n, 9)
                         AS DECIMAL(10,9))) AS DOUBLE) AS ap_num,
         min(CASE WHEN tot.p > 0
                   AND CAST(cum_a AS DOUBLE) / tot.p >= 0.5
              THEN cum_n END) AS target
  FROM c CROSS JOIN tot
)
SELECT s.p AS n_pos, s.neg AS n_neg,
       CASE WHEN s.p > 0 THEN round(s.ap_num / s.p, 6) END
         AS average_precision,
       (SELECT round(CAST(c.cum_a AS DOUBLE) / c.cum_n, 6)
        FROM c WHERE c.cum_n = s.target) AS p_at_r50
FROM s
""",
)
def q_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-blocked average precision + precision at 50% recall — the
    PR-side companion to q_eval_auc for IMBALANCED labels, where ROC
    AUC flatters (the negatives dominate its denominator; PR answers
    "of what the model surfaces, how much is real"). Blocks are
    distinct score values descending — the only tie treatment that is
    deterministic cross-engine — and AP is the tie-blocked sum
    Σ tp_block · precision(block end) / P.

    Scale shape: the q_eval_auc device pointed the other way — one
    groupBy(score) reduce (map-combinable), ``dist_cumsum`` DESCENDING
    for the (cum_tp, cum_n) staircase (no single-partition window),
    two tiny aggregates over the distinct-score frame. The AP partial
    sums are decimal-armored; P = 0 yields NULLs, never a division
    crash.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = t.groupBy("score").agg(
        F.sum("y").cast("long").alias("a_tie"),
        F.count(F.lit(1)).cast("long").alias("tie"),
    )
    c = dist_cumsum(g, "score", ["a_tie", "tie"], descending=True).select(
        "score",
        "a_tie",
        "tie",
        F.col("cum_a_tie").cast("long").alias("cum_a"),
        F.col("cum_tie").cast("long").alias("cum_n"),
    )
    tot = F.broadcast(
        g.agg(
            F.sum("a_tie").cast("long").alias("p"),
            F.sum(F.col("tie") - F.col("a_tie")).cast("long").alias("neg"),
        )
    )
    prec = F.col("cum_a").cast("double") / F.col("cum_n")
    recall = F.when(
        F.col("p") > 0, F.col("cum_a").cast("double") / F.col("p")
    )
    s = (
        c.crossJoin(tot)
        .agg(
            F.max("p").alias("p"),
            F.max("neg").alias("neg"),
            F.sum(
                F.col("a_tie").cast("decimal(18,0)")
                * F.round(prec, 9).cast("decimal(10,9)")
            )
            .cast("double")
            .alias("ap_num"),
            F.min(F.when(recall >= 0.5, F.col("cum_n"))).alias("target"),
        )
    )
    p50 = (
        c.crossJoin(F.broadcast(s.select("target")))
        .filter(F.col("cum_n") == F.col("target"))
        .select(F.round(prec, 6).alias("p_at_r50"))
    )
    return s.select(
        F.col("p").alias("n_pos"),
        F.col("neg").alias("n_neg"),
        F.when(
            F.col("p") > 0, F.round(F.col("ap_num") / F.col("p"), 6)
        ).alias("average_precision"),
    ).join(p50, how="left")


@query(
    "q_ml_threshold",
    # The F1 staircase lives on the distinct-score frame (descending
    # dist_cumsum); F1 per candidate threshold is an exact-integer
    # ratio pair, and the argmax tiebreak (F1 desc at 9dp, score asc)
    # is engine-deterministic.
    oracle="""
WITH t AS (
  SELECT value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE event_type IN ('purchase', 'view')
),
g AS (
  SELECT score, CAST(sum(y) AS BIGINT) AS a_tie,
         CAST(count(*) AS BIGINT) AS tie
  FROM t GROUP BY score
),
c AS (
  SELECT score,
         CAST(sum(a_tie) OVER (ORDER BY score DESC) AS BIGINT) AS cum_a,
         CAST(sum(tie) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n
  FROM g
),
p AS (SELECT CAST(sum(a_tie) AS BIGINT) AS pos FROM g),
f AS (
  SELECT score, cum_a, cum_n,
         CAST(round(2.0 * cum_a / (cum_n + p.pos), 9) AS DECIMAL(10,9))
           AS f1
  FROM c CROSS JOIN p WHERE p.pos > 0
),
best AS (
  SELECT score, cum_a, cum_n, f1,
         row_number() OVER (ORDER BY f1 DESC, score) AS r
  FROM f
)
SELECT (SELECT pos FROM p) AS n_pos,
       score AS threshold,
       CAST(round(CAST(f1 AS DOUBLE), 6) AS DOUBLE) AS f1,
       round(CAST(cum_a AS DOUBLE) / cum_n, 6) AS precision_,
       round(CAST(cum_a AS DOUBLE) / (SELECT pos FROM p), 6) AS recall
FROM best WHERE r = 1
""",
)
def q_ml_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-optimal decision threshold from the tie-blocked PR staircase
    — the model-ops step AFTER q_eval_pr's curve: a deployed
    classifier needs ONE cut, and "0.5" is only right for calibrated
    balanced problems; the argmax of F1 = 2·TP/(pred_pos + P) over
    candidate thresholds (every distinct score) is the standard
    default when precision and recall weigh equally. Threshold, F1,
    and the operating precision/recall at that cut ship together —
    the numbers the deployment config actually records.

    Scale shape: the q_eval_pr device — groupBy(score) reduce,
    descending ``dist_cumsum`` staircase, F1 as a 9dp-DECIMAL exact
    ratio per distinct score, one WindowGroupLimit argmax (F1 desc,
    score asc tiebreak). No sort buffer, no data-sized window.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = t.groupBy("score").agg(
        F.sum("y").cast("long").alias("a_tie"),
        F.count(F.lit(1)).cast("long").alias("tie"),
    )
    c = dist_cumsum(g, "score", ["a_tie", "tie"], descending=True).select(
        "score",
        F.col("cum_a_tie").cast("long").alias("cum_a"),
        F.col("cum_tie").cast("long").alias("cum_n"),
    )
    p = F.broadcast(g.agg(F.sum("a_tie").cast("long").alias("pos")))
    f = (
        c.crossJoin(p)
        .filter(F.col("pos") > 0)
        .select(
            "score",
            "cum_a",
            "cum_n",
            "pos",
            F.round(
                2.0 * F.col("cum_a") / (F.col("cum_n") + F.col("pos")), 9
            )
            .cast("decimal(10,9)")
            .alias("f1"),
        )
    )
    best = (
        f.withColumn(
            "r",
            F.row_number().over(
                W.partitionBy(bounded_part(F.col("cum_n"))).orderBy(
                    F.col("f1").desc(), "score"
                )
            ),
        )
        .filter(F.col("r") == 1)
    )
    return best.select(
        F.col("pos").alias("n_pos"),
        F.col("score").alias("threshold"),
        F.round(F.col("f1").cast("double"), 6).alias("f1"),
        F.round(F.col("cum_a").cast("double") / F.col("cum_n"), 6).alias(
            "precision_"
        ),
        F.round(F.col("cum_a").cast("double") / F.col("pos"), 6).alias(
            "recall"
        ),
    )


@query(
    "q_eval_kappa",
    # All four cell counts are exact integers; po/pe/kappa are one
    # shared IEEE chain from those integers in both engines.
    oracle="""
WITH r AS (
  SELECT length(text) >= 200 AS a,
         len(string_split(text, ' ')) >= 40 AS b
  FROM documents
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE a AND b) AS BIGINT) AS n11,
         CAST(count(*) FILTER (WHERE NOT a AND NOT b) AS BIGINT) AS n00,
         CAST(count(*) FILTER (WHERE a AND NOT b) AS BIGINT) AS n10,
         CAST(count(*) FILTER (WHERE NOT a AND b) AS BIGINT) AS n01
  FROM r
),
k AS (
  SELECT n, n11, n00, n10, n01,
         CAST(n11 + n00 AS DOUBLE) / n AS po,
         (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
         + (CAST(n00 + n01 AS DOUBLE) / n) * (CAST(n00 + n10 AS DOUBLE) / n)
           AS pe
  FROM c WHERE n > 0
)
SELECT n, n11 AS n_both_pos, n00 AS n_both_neg,
       n10 AS n_a_only, n01 AS n_b_only,
       round(po, 6) AS po, round(pe, 6) AS pe,
       CASE WHEN pe < 1 THEN round((po - pe) / (1 - pe), 6) END AS kappa,
       CASE WHEN pe >= 1 THEN 'undefined'
            WHEN (po - pe) / (1 - pe) < 0.2 THEN 'slight_or_worse'
            WHEN (po - pe) / (1 - pe) < 0.4 THEN 'fair'
            WHEN (po - pe) / (1 - pe) < 0.6 THEN 'moderate'
            WHEN (po - pe) / (1 - pe) < 0.8 THEN 'substantial'
            ELSE 'almost_perfect' END AS agreement
FROM k
""",
)
def q_eval_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document raters (rater
    A: char length ≥ 200; rater B: whitespace token count ≥ 40) — the
    chance-corrected agreement statistic every labeling/filter-rule
    comparison should report instead of raw agreement: two rules that
    both accept 95% of a corpus agree 90%+ BY CHANCE, and po alone
    (q_eval_confusion's accuracy) rewards exactly that. In a curation
    pipeline this is the "are these two quality heuristics measuring
    the same thing" readout before one replaces the other.

    Scale shape: ONE conditional-aggregate pass to the four confusion
    cells (map-side combinable; the rater predicates are row-local
    expressions, no Python); po/pe/kappa are a single IEEE chain on
    one 1-row frame, identical in both engines. Degenerate guard: a
    corpus where pe = 1 (both raters constant) yields NULL kappa and
    'undefined', not a division crash — constant groups are routine
    at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    a = F.length("text") >= 200
    b = F.size(F.split(F.col("text"), " ")) >= 40
    c = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((a & b).cast("long")).cast("long").alias("n11"),
        F.sum((~a & ~b).cast("long")).cast("long").alias("n00"),
        F.sum((a & ~b).cast("long")).cast("long").alias("n10"),
        F.sum((~a & b).cast("long")).cast("long").alias("n01"),
    ).filter(F.col("n") > 0)
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pe = ((F.col("n11") + F.col("n10")) / n) * (
        (F.col("n11") + F.col("n01")) / n
    ) + ((F.col("n00") + F.col("n01")) / n) * (
        (F.col("n00") + F.col("n10")) / n
    )
    kappa = (po - pe) / (1 - pe)
    return c.select(
        F.col("n"),
        F.col("n11").alias("n_both_pos"),
        F.col("n00").alias("n_both_neg"),
        F.col("n10").alias("n_a_only"),
        F.col("n01").alias("n_b_only"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(pe < 1, F.round(kappa, 6)).alias("kappa"),
        F.when(pe >= 1, F.lit("undefined"))
        .when(kappa < 0.2, F.lit("slight_or_worse"))
        .when(kappa < 0.4, F.lit("fair"))
        .when(kappa < 0.6, F.lit("moderate"))
        .when(kappa < 0.8, F.lit("substantial"))
        .otherwise(F.lit("almost_perfect"))
        .alias("agreement"),
    )


@query(
    "q_eval_lift",
    # Decile assignment is pure integer arithmetic on exact cumulative
    # counts over the DISTINCT-score spine ((n − cum)·10 div n), so a
    # tie group always lands in one decile identically in both
    # engines; rates/lift/capture are one integer division each.
    oracle=f"""
WITH scored AS ({{scored}}),
g AS (
  SELECT score, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(y) AS BIGINT) AS pos
  FROM scored GROUP BY score
),
c AS (
  SELECT score, cnt, pos,
         CAST(sum(cnt) OVER (ORDER BY score) AS BIGINT) AS cum
  FROM g
),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
  FROM g
),
dec AS (
  SELECT ((tot.n - c.cum) * 10) // tot.n AS decile,
         CAST(sum(c.cnt) AS BIGINT) AS n_d,
         CAST(sum(c.pos) AS BIGINT) AS pos_d
  FROM c CROSS JOIN tot GROUP BY 1
),
cumd AS (
  SELECT decile, n_d, pos_d,
         CAST(sum(pos_d) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
  FROM dec
)
SELECT decile, n_d, pos_d,
       round(pos_d * 1.0 / n_d, 6) AS resp_rate,
       round((pos_d * 1.0 / n_d) / (tot.p * 1.0 / tot.n), 6) AS lift,
       round(cum_pos * 1.0 / tot.p, 6) AS cum_capture
FROM cumd CROSS JOIN tot
ORDER BY decile
""".format(scored=_SCORED),
)
def q_eval_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table for the purchase-vs-view scorer: rank
    the population by score, cut into ten value-deciles, publish each
    decile's response rate, lift over the base rate, and cumulative
    capture — the campaign-targeting readout AUC compresses away (AUC
    says the ranking is good; the lift table says "mail the top 2
    deciles, they hold 54% of converters"). Decile boundaries are
    integer-exact on the distinct-score spine, so score ties can never
    straddle a cut differently per engine.

    Scale shape: one map-combinable reduce to the DISTINCT-score spine
    (cnt, pos), `dist_cumsum` cumulative counts (no single-partition
    sort over raw rows at any cardinality), integer decile assignment,
    a 10-row bounded aggregate, and a bounded-frame running capture
    sum (fold-proof constant key). Three integer divisions per output
    row are the only floats.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    g = e.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    ).groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    c = dist_cumsum(g, "score", ["cnt"])
    tot = F.broadcast(
        g.agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("p"),
        )
    )
    dec = (
        c.crossJoin(tot)
        .select(
            F.expr("((n - cum_cnt) * 10) div n").alias("decile"),
            "cnt",
            "pos",
        )
        .groupBy("decile")
        .agg(
            F.sum("cnt").cast("long").alias("n_d"),
            F.sum("pos").cast("long").alias("pos_d"),
        )
    )
    wd = (
        W.partitionBy(bounded_part(F.col("decile")))
        .orderBy("decile")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        dec.select(
            "decile",
            "n_d",
            "pos_d",
            F.sum("pos_d").over(wd).cast("long").alias("cum_pos"),
        )
        .crossJoin(tot)
        .select(
            "decile",
            "n_d",
            "pos_d",
            F.round(F.col("pos_d") * 1.0 / F.col("n_d"), 6).alias(
                "resp_rate"
            ),
            F.round(
                (F.col("pos_d") * 1.0 / F.col("n_d"))
                / (F.col("p") * 1.0 / F.col("n")),
                6,
            ).alias("lift"),
            F.round(F.col("cum_pos") * 1.0 / F.col("p"), 6).alias(
                "cum_capture"
            ),
        )
        .orderBy("decile")
    )


@query(
    "q_eval_brier",
    # The probability transform is one IEEE chain per row from exact
    # DECIMAL power sums (logistic of the z-score); binning happens on
    # the 6dp-rounded probability; every cross-row sum (Brier terms,
    # per-bin means, decomposition terms) is 9dp/6dp-quantized into
    # DECIMAL before summing.
    oracle=f"""
WITH scored AS ({{scored}}),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(score AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(score * score AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(sum(y) AS BIGINT) AS pos
  FROM scored
),
p AS (
  SELECT y,
         round(1.0 / (1.0 + exp(-((score - m.sx / m.n)
               / sqrt((m.sxx - m.sx * m.sx / m.n) / (m.n - 1))))), 6)
           AS pr
  FROM scored CROSS JOIN m
  WHERE m.n > 1 AND (m.sxx - m.sx * m.sx / m.n) > 0
),
bs AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(CAST(round((pr - y) * (pr - y), 6) AS DECIMAL(38,12)))
              AS DOUBLE) AS sq
  FROM p
),
bins AS (
  SELECT least(9, CAST(floor(pr * 10) AS BIGINT)) AS bin,
         CAST(count(*) AS BIGINT) AS nk,
         CAST(sum(y) AS BIGINT) AS posk,
         CAST(sum(CAST(round(pr, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sp
  FROM p GROUP BY 1
),
dec AS (
  SELECT
    CAST(sum(CAST(round(
        nk * (sp / nk - posk * 1.0 / nk) * (sp / nk - posk * 1.0 / nk), 6)
        AS DECIMAL(38,12))) AS DOUBLE) AS rel_num,
    CAST(sum(CAST(round(
        nk * (posk * 1.0 / nk - bs.pos * 1.0 / bs.n)
           * (posk * 1.0 / nk - bs.pos * 1.0 / bs.n), 6)
        AS DECIMAL(38,12))) AS DOUBLE) AS res_num
  FROM bins CROSS JOIN bs
  GROUP BY bs.n
)
SELECT bs.n,
       round(bs.sq / bs.n, 6) AS brier,
       round(dec.rel_num / bs.n, 6) AS reliability,
       round(dec.res_num / bs.n, 6) AS resolution,
       round((bs.pos * 1.0 / bs.n) * (1 - bs.pos * 1.0 / bs.n), 6)
         AS uncertainty
FROM bs CROSS JOIN dec
""".format(scored=_SCORED),
)
def q_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition (reliability −
    resolution + uncertainty) for the purchase-vs-view scorer, scores
    mapped to probabilities by a logistic z-transform — the proper
    scoring rule q_eval_auc can't replace (AUC is ranking-only: a
    scorer can rank perfectly and still be wildly miscalibrated) and
    the decomposition q_eval_calibration's ECE doesn't give:
    reliability isolates the CALIBRATION debt, resolution the
    DISCRIMINATION earned, uncertainty the base-rate floor neither can
    beat. The three publish beside the raw Brier so "is this score
    bad because it's miscalibrated or because the problem is hard" is
    answerable from one row.

    Scale shape: one exact-DECIMAL power-sum pass fixes the transform;
    one map-combinable pass accumulates the armored Brier sum and the
    10-bin partials; the decomposition is arithmetic over ≤ 10 bin
    rows (armored again). Degenerate score spread emits nothing.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    scored = e.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    m = F.broadcast(
        scored.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("score").cast("decimal(28,6)"))
            .cast("double")
            .alias("sx"),
            F.sum((F.col("score") * F.col("score")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx"),
        )
    )
    sd = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    pr = F.round(
        1.0
        / (
            1.0
            + F.exp(-((F.col("score") - F.col("sx") / F.col("n")) / sd))
        ),
        6,
    )
    p = (
        scored.crossJoin(m)
        .filter(
            (F.col("n") > 1)
            & ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) > 0)
        )
        .select("y", pr.alias("pr"))
        .localCheckpoint(eager=False)  # feeds the Brier pass and the bins
    )
    bs = F.broadcast(
        p.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
            F.sum(
                F.round(
                    (F.col("pr") - F.col("y")) * (F.col("pr") - F.col("y")),
                    6,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("sq"),
        )
    )
    bins = p.groupBy(
        F.least(F.lit(9), F.floor(F.col("pr") * 10)).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("y").cast("long").alias("posk"),
        F.sum(F.round("pr", 9).cast("decimal(28,12)"))
        .cast("double")
        .alias("sp"),
    )
    pbar = F.col("sp") / F.col("nk")
    ybar_k = F.col("posk") * 1.0 / F.col("nk")
    ybar = F.col("pos") * 1.0 / F.col("n")
    dec = (
        bins.crossJoin(bs)
        .groupBy("n")
        .agg(
            F.sum(
                F.round(
                    F.col("nk") * (pbar - ybar_k) * (pbar - ybar_k), 6
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("rel_num"),
            F.sum(
                F.round(
                    F.col("nk") * (ybar_k - ybar) * (ybar_k - ybar), 6
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("res_num"),
        )
        .drop("n")
    )
    return bs.crossJoin(F.broadcast(dec)).select(
        "n",
        F.round(F.col("sq") / F.col("n"), 6).alias("brier"),
        F.round(F.col("rel_num") / F.col("n"), 6).alias("reliability"),
        F.round(F.col("res_num") / F.col("n"), 6).alias("resolution"),
        F.round(
            (F.col("pos") * 1.0 / F.col("n"))
            * (1 - F.col("pos") * 1.0 / F.col("n")),
            6,
        ).alias("uncertainty"),
    )


@query(
    "q_eval_auc_ci",
    # The DeLong structural components V10/V01 are rationals of exact
    # cumulative integer counts, constant within a score tie-group;
    # their weighted moments are 9dp/6dp-quantized DECIMAL sums; the
    # CI is one IEEE chain on the single output row (1.96 literal).
    oracle=f"""
WITH scored AS ({{scored}}),
g AS (
  SELECT score, CAST(count(*) AS BIGINT) AS tie,
         CAST(sum(y) AS BIGINT) AS a_tie
  FROM scored GROUP BY score
),
c AS (
  SELECT score, tie, a_tie, tie - a_tie AS b_tie,
         CAST(sum(tie) OVER (ORDER BY score) AS BIGINT) AS cum,
         CAST(sum(a_tie) OVER (ORDER BY score) AS BIGINT) AS cum_a
  FROM g
),
t AS (
  SELECT CAST(sum(a_tie) AS BIGINT) AS m, CAST(sum(tie - a_tie) AS BIGINT) AS n
  FROM g
),
v AS (
  SELECT c.a_tie, c.b_tie,
         ((c.cum - c.cum_a) - (c.tie - c.a_tie) + 0.5 * (c.tie - c.a_tie))
           / t.n AS v10,
         ((t.m - c.cum_a) + 0.5 * c.a_tie) / t.m AS v01
  FROM c CROSS JOIN t
),
mom AS (
  SELECT
    CAST(sum(CAST(round(a_tie * v10, 9) AS DECIMAL(38,12))) AS DOUBLE)
      AS s10,
    CAST(sum(CAST(round(a_tie * v10 * v10, 6) AS DECIMAL(38,12)))
         AS DOUBLE) AS s10_2,
    CAST(sum(CAST(round(b_tie * v01, 9) AS DECIMAL(38,12))) AS DOUBLE)
      AS s01,
    CAST(sum(CAST(round(b_tie * v01 * v01, 6) AS DECIMAL(38,12)))
         AS DOUBLE) AS s01_2
  FROM v
)
SELECT t.m AS n_pos, t.n AS n_neg,
       round(mom.s10 / t.m, 6) AS auc,
       round(sqrt(((mom.s10_2 - mom.s10 * mom.s10 / t.m) / (t.m - 1)) / t.m
                  + ((mom.s01_2 - mom.s01 * mom.s01 / t.n) / (t.n - 1))
                    / t.n), 6) AS se,
       round(mom.s10 / t.m
             - 1.96 * sqrt(((mom.s10_2 - mom.s10 * mom.s10 / t.m)
                            / (t.m - 1)) / t.m
                           + ((mom.s01_2 - mom.s01 * mom.s01 / t.n)
                              / (t.n - 1)) / t.n), 6) AS ci_lo,
       round(mom.s10 / t.m
             + 1.96 * sqrt(((mom.s10_2 - mom.s10 * mom.s10 / t.m)
                            / (t.m - 1)) / t.m
                           + ((mom.s01_2 - mom.s01 * mom.s01 / t.n)
                              / (t.n - 1)) / t.n), 6) AS ci_hi
FROM mom CROSS JOIN t
WHERE t.m > 1 AND t.n > 1
""".format(scored=_SCORED),
)
def q_eval_auc_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong confidence interval for the AUC — the error bar
    q_eval_auc's point estimate ships without, and the thing that
    decides whether "model B's 0.71 beats model A's 0.69" means
    anything at this sample size. DeLong's structural components make
    it distributable: V10 for each positive is the fraction of
    negatives it outranks (ties half), V01 dually — both are CONSTANT
    within a score tie-group, so the whole computation lives on the
    distinct-score spine with tie-count weights, never on raw rows.
    SE² = Var(V10)/m + Var(V01)/n, CI = AUC ± 1.96·SE.

    Scale shape: one reduce to the distinct-score spine, dist_cumsum
    cumulative class counts, per-spine-row rational V values, and ONE
    armored weighted-moment aggregate. Degenerate classes (m ≤ 1 or
    n ≤ 1) emit nothing rather than a zero-division.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    g = e.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    ).groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("tie"),
        F.sum("y").cast("long").alias("a_tie"),
    )
    c = dist_cumsum(g, "score", ["tie", "a_tie"])
    t = F.broadcast(
        g.agg(
            F.sum("a_tie").cast("long").alias("m"),
            F.sum(F.col("tie") - F.col("a_tie")).cast("long").alias("n"),
        )
    )
    b_tie = F.col("tie") - F.col("a_tie")
    neg_below = (F.col("cum_tie") - F.col("cum_a_tie")) - b_tie
    v10 = (neg_below + 0.5 * b_tie) / F.col("n")
    v01 = ((F.col("m") - F.col("cum_a_tie")) + 0.5 * F.col("a_tie")) / F.col(
        "m"
    )
    v = c.crossJoin(t).select(
        "a_tie",
        b_tie.alias("b_tie"),
        v10.alias("v10"),
        v01.alias("v01"),
        "m",
        "n",
    )
    mom = v.groupBy("m", "n").agg(
        F.sum(
            F.round(F.col("a_tie") * F.col("v10"), 9).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("s10"),
        F.sum(
            F.round(
                F.col("a_tie") * F.col("v10") * F.col("v10"), 6
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("s10_2"),
        F.sum(
            F.round(F.col("b_tie") * F.col("v01"), 9).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("s01"),
        F.sum(
            F.round(
                F.col("b_tie") * F.col("v01") * F.col("v01"), 6
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("s01_2"),
    )
    var10 = (F.col("s10_2") - F.col("s10") * F.col("s10") / F.col("m")) / (
        F.col("m") - 1
    )
    var01 = (F.col("s01_2") - F.col("s01") * F.col("s01") / F.col("n")) / (
        F.col("n") - 1
    )
    se = F.sqrt(var10 / F.col("m") + var01 / F.col("n"))
    auc = F.col("s10") / F.col("m")
    return (
        mom.filter((F.col("m") > 1) & (F.col("n") > 1))
        .select(
            F.col("m").alias("n_pos"),
            F.col("n").alias("n_neg"),
            F.round(auc, 6).alias("auc"),
            F.round(se, 6).alias("se"),
            F.round(auc - 1.96 * se, 6).alias("ci_lo"),
            F.round(auc + 1.96 * se, 6).alias("ci_hi"),
        )
    )


_FAIR_THR = 50.0   # decision threshold on the score
_FAIR_GAP = 0.10   # max allowed TPR/FPR spread across groups


@query(
    "q_eval_fairness",
    # Every rate is an exact integer ratio (one division, 6dp); the
    # spread booleans compare 6dp-rounded rates so both engines decide
    # identically.
    oracle=f"""
WITH scored AS (
  SELECT (user_id % 3) AS grp, value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE event_type IN ('purchase', 'view')
),
per AS (
  SELECT grp,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS n_pos,
    CAST(sum(1 - y) AS BIGINT) AS n_neg,
    CAST(sum(CASE WHEN score >= {_FAIR_THR} THEN 1 ELSE 0 END) AS BIGINT)
      AS pred_pos,
    CAST(sum(CASE WHEN score >= {_FAIR_THR} AND y = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
    CAST(sum(CASE WHEN score >= {_FAIR_THR} AND y = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS fp
  FROM scored GROUP BY grp
),
rates AS (
  SELECT grp, n, n_pos, pred_pos,
    CASE WHEN n_pos > 0 THEN round(tp * 1.0 / n_pos, 6) END AS tpr,
    CASE WHEN n_neg > 0 THEN round(fp * 1.0 / n_neg, 6) END AS fpr,
    CASE WHEN pred_pos > 0 THEN round(tp * 1.0 / pred_pos, 6) END
      AS precision_,
    round(pred_pos * 1.0 / n, 6) AS selection_rate
  FROM per
),
gaps AS (
  SELECT round(max(tpr) - min(tpr), 6) AS tpr_gap,
         round(max(fpr) - min(fpr), 6) AS fpr_gap,
         round(max(selection_rate) - min(selection_rate), 6) AS sel_gap
  FROM rates
)
SELECT r.grp AS grp, r.n, r.n_pos, r.pred_pos,
       r.tpr, r.fpr, r.precision_ AS precision, r.selection_rate,
       g.tpr_gap, g.fpr_gap, g.sel_gap,
       (g.tpr_gap <= {_FAIR_GAP} AND g.fpr_gap <= {_FAIR_GAP})
         AS equalized_odds_ok,
       (g.sel_gap <= {_FAIR_GAP}) AS demographic_parity_ok
FROM rates r, gaps g ORDER BY grp
""",
)
def q_eval_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subgroup fairness panel at a fixed decision threshold: per-group
    TPR / FPR / precision / selection rate plus the cross-group spreads
    and the two standard verdict booleans — equalized odds (TPR and FPR
    spreads within tolerance) and demographic parity (selection-rate
    spread within tolerance). The group key here is a deterministic
    user-id proxy (user_id % 3), standing in for the protected
    attribute column a real deployment joins in; everything downstream
    of the group key is exactly what ships. This is the audit a model
    gate runs per release: a model can hold aggregate AUC (q_eval_auc)
    while one subgroup's FPR quietly doubles.

    Scale shape: ONE map-combinable grouped aggregation over the
    scored events (six integer counters per group); rates are one
    division each on the |groups|-bounded frame; the spread row is a
    bounded aggregate broadcast back. Nothing is sized by the event
    count after the first reduce.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    pos = (F.col("value") >= _FAIR_THR).cast("int")
    per = e.groupBy((F.col("user_id") % 3).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("n_pos"),
        F.sum(1 - y).cast("long").alias("n_neg"),
        F.sum(pos).cast("long").alias("pred_pos"),
        F.sum(pos * y).cast("long").alias("tp"),
        F.sum(pos * (1 - y)).cast("long").alias("fp"),
    )
    rates = per.select(
        "grp",
        "n",
        "n_pos",
        "pred_pos",
        F.when(
            F.col("n_pos") > 0, F.round(F.col("tp") * 1.0 / F.col("n_pos"), 6)
        ).alias("tpr"),
        F.when(
            F.col("n_neg") > 0, F.round(F.col("fp") * 1.0 / F.col("n_neg"), 6)
        ).alias("fpr"),
        F.when(
            F.col("pred_pos") > 0,
            F.round(F.col("tp") * 1.0 / F.col("pred_pos"), 6),
        ).alias("precision"),
        F.round(F.col("pred_pos") * 1.0 / F.col("n"), 6).alias(
            "selection_rate"
        ),
    ).localCheckpoint(eager=False)  # |groups|-bounded; feeds gaps + out
    gaps = rates.agg(
        F.round(F.max("tpr") - F.min("tpr"), 6).alias("tpr_gap"),
        F.round(F.max("fpr") - F.min("fpr"), 6).alias("fpr_gap"),
        F.round(
            F.max("selection_rate") - F.min("selection_rate"), 6
        ).alias("sel_gap"),
    )
    return (
        rates.crossJoin(F.broadcast(gaps))
        .select(
            "grp",
            "n",
            "n_pos",
            "pred_pos",
            "tpr",
            "fpr",
            "precision",
            "selection_rate",
            "tpr_gap",
            "fpr_gap",
            "sel_gap",
            (
                (F.col("tpr_gap") <= _FAIR_GAP)
                & (F.col("fpr_gap") <= _FAIR_GAP)
            ).alias("equalized_odds_ok"),
            (F.col("sel_gap") <= _FAIR_GAP).alias("demographic_parity_ok"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# Weight of Evidence / Information Value (credit-scoring feature screen)
# ---------------------------------------------------------------------------

# Laplace half-count keeps ln() finite when a bin is pure — the standard
# "adjusted WOE". Applied identically in both engines.
_WOE_ADJ = 0.5


@query(
    "q_feature_woe",
    # ln() determinism: the argument is a ratio of exact integer
    # counts (+0.5 adjustments) — both engines build the identical
    # double, then round(ln, 9) pins the transcendental to a shared
    # grid (the q_agg_entropy device); IV terms are 12dp-rounded
    # decimals so the sum is order-free.
    oracle=f"""
WITH c AS (
  SELECT o_orderpriority AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_bad
  FROM orders GROUP BY 1
),
t AS (
  SELECT CAST(sum(n_bad) AS BIGINT) AS bad_t,
         CAST(sum(n - n_bad) AS BIGINT) AS good_t
  FROM c
),
w AS (
  SELECT bin, n, n_bad,
         (n_bad + {_WOE_ADJ}) / (bad_t + {2 * _WOE_ADJ}) AS pb,
         (n - n_bad + {_WOE_ADJ}) / (good_t + {2 * _WOE_ADJ}) AS pg
  FROM c CROSS JOIN t
),
x AS (
  SELECT bin, n, n_bad, round(ln(pb / pg), 9) AS woe9,
         CAST(round((pb - pg) * round(ln(pb / pg), 9), 12)
              AS DECIMAL(28,12)) AS iv_term
  FROM w
),
iv AS (SELECT round(CAST(sum(iv_term) AS DOUBLE), 6) AS iv FROM x)
SELECT bin, n, n_bad, round(woe9, 6) AS woe, iv.iv AS iv_total
FROM x CROSS JOIN iv
ORDER BY bin
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_feature_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence + Information Value of a categorical feature
    (order priority) against a binary outcome (status = 'F') — the
    credit-scoring-standard feature screen: WOE per bin is the
    log-odds shift the bin carries, IV sums (pb−pg)·WOE into one
    predictive-power scalar (rule of thumb: <0.02 useless, >0.5
    suspiciously strong → leakage check). Bins are half-count adjusted
    so pure bins stay finite.

    Scale shape: ONE partial-aggregated pass reduces the fact table to
    |bins| rows; totals are a broadcast 1-row frame; everything after
    is arithmetic on the bin grid. The ln() is pinned to a 9dp grid
    (q_agg_entropy device) and IV terms are decimal-summed so the
    result is partitioning- and order-independent.
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_orderpriority").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_bad"),
    )
    t = F.broadcast(
        c.agg(
            F.sum("n_bad").cast("long").alias("bad_t"),
            F.sum(F.col("n") - F.col("n_bad")).cast("long").alias("good_t"),
        )
    )
    w = c.crossJoin(t).select(
        "bin",
        "n",
        "n_bad",
        (
            (F.col("n_bad") + F.lit(_WOE_ADJ))
            / (F.col("bad_t") + F.lit(2 * _WOE_ADJ))
        ).alias("pb"),
        (
            (F.col("n") - F.col("n_bad") + F.lit(_WOE_ADJ))
            / (F.col("good_t") + F.lit(2 * _WOE_ADJ))
        ).alias("pg"),
    )
    woe9 = F.round(F.log(F.col("pb") / F.col("pg")), 9)
    x = w.select(
        "bin",
        "n",
        "n_bad",
        woe9.alias("woe9"),
        F.round((F.col("pb") - F.col("pg")) * woe9, 12)
        .cast("decimal(28,12)")
        .alias("iv_term"),
    )
    iv = F.broadcast(
        x.agg(F.round(F.sum("iv_term").cast("double"), 6).alias("iv"))
    )
    return (
        x.crossJoin(iv)
        .select(
            "bin",
            "n",
            "n_bad",
            F.round("woe9", 6).alias("woe"),
            F.col("iv").alias("iv_total"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Odds ratios with Woolf (log-scale) confidence intervals
# ---------------------------------------------------------------------------


@query(
    "q_ml_odds_ratio",
    # Haldane-corrected cells are exact half-integers; the OR is pure
    # arithmetic on them (no exp/ln round trip — the CI is reported in
    # LOG odds, so the only transcendental is one 9dp-pinned ln and
    # sqrt, which is correctly rounded in both engines).
    oracle="""
WITH j AS (
  SELECT c.c_mktsegment AS seg,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS e,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
t AS (
  SELECT seg,
         sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) + 0.5e0 AS a,
         sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) + 0.5e0 AS b,
         sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) + 0.5e0 AS c,
         sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) + 0.5e0 AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM j GROUP BY seg
),
x AS (
  SELECT seg, n, a, b, c, d,
         (a * d) / (b * c) AS odds_ratio,
         round(ln((a * d) / (b * c)), 9) AS lor,
         sqrt(1/a + 1/b + 1/c + 1/d) AS se
  FROM t
)
SELECT seg AS c_mktsegment, n,
       CAST(a - 0.5e0 AS BIGINT) AS n_exp_bad,
       CAST(b - 0.5e0 AS BIGINT) AS n_exp_good,
       round(odds_ratio, 6) AS odds_ratio,
       round(lor, 6) AS log_or,
       round(se, 6) AS se_log,
       round(lor - 1.96 * se, 6) AS ci_lo_log,
       round(lor + 1.96 * se, 6) AS ci_hi_log,
       (lor - 1.96 * se > 0 OR lor + 1.96 * se < 0) AS significant
FROM x ORDER BY c_mktsegment
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_ml_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure-outcome odds ratio per market segment (exposure =
    urgent priority, outcome = status F) with the Woolf interval — the
    epidemiology/churn-analysis standard for "does X raise the odds of
    Y, per stratum": Haldane half-count correction keeps sparse cells
    finite, and the CI is reported in LOG odds with a
    significance verdict (interval excludes 0), avoiding the
    exp() round trip entirely — the OR itself is plain arithmetic on
    the corrected cells. q_agg_effect_size covers continuous
    outcomes; this is its binary-outcome sibling.

    Scale shape: one broadcastable dim join (customer segment), then
    ONE map-combinable pass to four counters per segment; everything
    after is closed-form on the |segments| grid.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == c.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("e"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    t = j.groupBy("seg").agg(
        (
            F.sum(F.when((F.col("e") == 1) & (F.col("y") == 1), 1).otherwise(0))
            + F.lit(0.5)
        ).alias("a"),
        (
            F.sum(F.when((F.col("e") == 1) & (F.col("y") == 0), 1).otherwise(0))
            + F.lit(0.5)
        ).alias("b"),
        (
            F.sum(F.when((F.col("e") == 0) & (F.col("y") == 1), 1).otherwise(0))
            + F.lit(0.5)
        ).alias("c"),
        (
            F.sum(F.when((F.col("e") == 0) & (F.col("y") == 0), 1).otherwise(0))
            + F.lit(0.5)
        ).alias("d"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    orx = (F.col("a") * F.col("d")) / (F.col("b") * F.col("c"))
    lor = F.round(F.log(orx), 9)
    se = F.sqrt(
        1 / F.col("a") + 1 / F.col("b") + 1 / F.col("c") + 1 / F.col("d")
    )
    return t.select(
        F.col("seg").alias("c_mktsegment"),
        "n",
        (F.col("a") - 0.5).cast("long").alias("n_exp_bad"),
        (F.col("b") - 0.5).cast("long").alias("n_exp_good"),
        F.round(orx, 6).alias("odds_ratio"),
        F.round(lor, 6).alias("log_or"),
        F.round(se, 6).alias("se_log"),
        F.round(lor - 1.96 * se, 6).alias("ci_lo_log"),
        F.round(lor + 1.96 * se, 6).alias("ci_hi_log"),
        ((lor - 1.96 * se > 0) | (lor + 1.96 * se < 0)).alias(
            "significant"
        ),
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# Exact isotonic regression via the minimax (lower-set/upper-set) formula
# ---------------------------------------------------------------------------


@query(
    "q_ml_isotonic",
    # Exact isotonic fit WITHOUT the sequential PAV recursion: on a
    # bounded bin grid the classic minimax identity
    # iso(k) = min_{j>=k} max_{i<=k} mean(y over bins i..j) is a pair
    # of bounded triangular expansions over exact integer prefix sums
    # — the interval means are identical IEEE doubles both engines,
    # and min/max selection is order-free.
    oracle="""
WITH b AS (
  SELECT CAST(l_quantity AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT a.bin,
         CAST(sum(b2.n) AS BIGINT) AS cn,
         CAST(sum(b2.y) AS BIGINT) AS cy
  FROM b a JOIN b b2 ON b2.bin <= a.bin
  GROUP BY a.bin
),
iv AS (
  SELECT lo.bin AS i, hi.bin AS j,
         CAST(hi.cy - lo.cy + ly.y AS DOUBLE)
           / (hi.cn - lo.cn + ly.n) AS m
  FROM cum lo
  JOIN cum hi ON hi.bin >= lo.bin
  JOIN b ly ON ly.bin = lo.bin
),
mx AS (
  SELECT k.bin AS k, iv.j, max(iv.m) AS mx
  FROM b k JOIN iv ON iv.i <= k.bin AND iv.j >= k.bin
  GROUP BY 1, 2
),
iso AS (SELECT k, min(mx) AS iso FROM mx GROUP BY 1)
SELECT b.bin, b.n,
       round(CAST(b.y AS DOUBLE) / b.n, 6) AS rate_raw,
       round(iso.iso, 6) AS rate_iso
FROM b JOIN iso ON iso.k = b.bin
ORDER BY b.bin
""",
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_ml_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact isotonic (monotone non-decreasing) regression of the
    return rate against the quantity bin — the calibration primitive
    behind isotonic probability calibration and monotone dose-response
    fits. The raw per-bin rates jitter; the isotonic fit is the unique
    least-squares monotone curve, computed here by the minimax
    identity iso(k) = min_{j≥k} max_{i≤k} mean(y, bins i..j) instead
    of the textbook pool-adjacent-violators loop — PAV is a sequential
    merge (hostile to both engines), while the minimax form is two
    bounded triangular reduces over prefix sums, exact and
    deterministic in any evaluation order.

    Scale shape: ONE data-sized pass reduces to the bounded quantity
    grid (≤50 bins); prefix sums, the ≤ B(B+1)/2 interval means and
    the two minimax reduces all live on bounded frames — no window,
    no sort, no iteration, no driver state.
    """
    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.col("l_quantity").cast("int").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    ).localCheckpoint(eager=False)
    cum = (
        b.alias("a")
        .join(b.alias("b2"), F.col("b2.bin") <= F.col("a.bin"))
        .groupBy(F.col("a.bin").alias("bin"))
        .agg(
            F.sum("b2.n").cast("long").alias("cn"),
            F.sum("b2.y").cast("long").alias("cy"),
        )
    )
    iv = (
        cum.alias("lo")
        .join(cum.alias("hi"), F.col("hi.bin") >= F.col("lo.bin"))
        .join(b.alias("ly"), F.col("ly.bin") == F.col("lo.bin"))
        .select(
            F.col("lo.bin").alias("i"),
            F.col("hi.bin").alias("j"),
            (
                (F.col("hi.cy") - F.col("lo.cy") + F.col("ly.y")).cast(
                    "double"
                )
                / (F.col("hi.cn") - F.col("lo.cn") + F.col("ly.n"))
            ).alias("m"),
        )
    )
    mx = (
        b.select(F.col("bin").alias("k"))
        .join(iv, (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")))
        .groupBy("k", "j")
        .agg(F.max("m").alias("mx"))
    )
    iso = mx.groupBy("k").agg(F.min("mx").alias("iso"))
    return (
        b.join(iso, F.col("k") == F.col("bin"))
        .select(
            "bin",
            "n",
            F.round(F.col("y").cast("double") / F.col("n"), 6).alias(
                "rate_raw"
            ),
            F.round("iso", 6).alias("rate_iso"),
        )
        .orderBy("bin")
    )
