"""Join operators (SURVEY.md §2B B12-B20).

Join-strategy doctrine for 100 TB:

- **fact ⋈ fact** (orders⋈lineitem, orders⋈customer at scale): sort-merge
  or shuffled-hash on the equi key — Catalyst + AQE choose; skew handled
  by AQE skew-join splitting (enabled in the session factory). On a real
  cluster both sides would be bucketed on the join key at write time so
  the shuffle disappears entirely.
- **fact ⋈ dim** (nation/region, always tiny): explicit
  ``F.broadcast`` — one hash table per executor, zero shuffle of the
  fact side. Never broadcast sf-scaled tables (customer/part/supplier).
- **non-equi** (B18): only ever against a *broadcast-small* band table —
  BroadcastNestedLoopJoin is O(n·m); an unbounded theta join between two
  facts is a design bug, not a tuning problem.
- **as-of** (B19): implemented as union + single partitioned window scan
  (one shuffle on the key), never a per-row range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.operators._util import dsum, sql_dsum
from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table


@query(
    "q_join_inner",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'F'
""",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi join orders⋈customer (B12).

    Both sides scale with sf → shuffle join on the key; AQE may demote
    to broadcast at tiny sf. The status filter is pushed below the join.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@query(
    "q_join_broadcast",
    oracle=f"""
SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
  {sql_dsum('c.c_acctbal', 'sum_acctbal')}
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
ORDER BY r.r_name, n.n_name
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join through the dim hierarchy (B13).

    nation (25 rows) and region (5 rows) are broadcast explicitly — the
    customer side streams through two BroadcastHashJoins with no shuffle
    until the final aggregation, at any scale factor.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "sum_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "q_join_left",
    oracle=f"""
SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders,
  {sql_dsum('o.o_totalprice', 'sum_spend')}
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
""",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (B14).

    COUNT(col) vs COUNT(*) distinction: unmatched customers get
    n_orders=0 and NULL sum_spend — exact outer-join null semantics.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice", "sum_spend"),
        )
    )


@query(
    "q_join_full",
    oracle="""
WITH eu AS (SELECT DISTINCT user_id FROM events)
SELECT
  coalesce(c.c_custkey, eu.user_id) AS entity_id,
  c.c_custkey IS NOT NULL AS is_customer,
  eu.user_id IS NOT NULL AS has_events
FROM customer c
FULL OUTER JOIN eu ON c.c_custkey = eu.user_id
""",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join customer ⟗ distinct event users (B15)."""
    c = load_table(spark, sf_dir, "customer")
    eu = load_table(spark, sf_dir, "events").select("user_id").distinct()
    return c.join(eu, c.c_custkey == eu.user_id, "full").select(
        F.coalesce("c_custkey", "user_id").alias("entity_id"),
        F.col("c_custkey").isNotNull().alias("is_customer"),
        F.col("user_id").isNotNull().alias("has_events"),
    )


@query(
    "q_join_semi",
    oracle="""
SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join = EXISTS (B16): no row duplication, right side only
    probed. Shuffle volume is the *distinct keys* of the right side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "q_join_anti",
    oracle="""
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join = NOT EXISTS (B17)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_theta",
    oracle=f"""
SELECT b.band, COUNT(*) AS n_events, {sql_dsum('e.value', 'sum_value')}
FROM events e
JOIN (VALUES ('low', -1e18, 10.0), ('mid', 10.0, 100.0), ('high', 100.0, 1e18))
  AS b(band, lo, hi)
  ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
ORDER BY b.band
""",
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range-band join (B18).

    The band table is 3 rows → broadcast; the physical plan is a
    BroadcastNestedLoopJoin, which is only acceptable because one side is
    O(1). This is the engine's sanctioned shape for theta joins at scale.
    """
    e = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", -1e18, 10.0), ("mid", 10.0, 100.0), ("high", 100.0, 1e18)],
        schema="band string, lo double, hi double",
    )
    return (
        e.join(
            F.broadcast(bands),
            (e.value >= bands.lo) & (e.value < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy("band")
    )


@query(
    "q_join_asof",
    oracle="""
SELECT
  e.event_id,
  e.user_id,
  (SELECT max(o.o_orderdate) FROM orders o
   WHERE o.o_custkey = e.user_id
     AND o.o_orderdate <= date_trunc('second', e.ts)) AS last_order_date
FROM events e
""",
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: most recent order per user at or before each event
    (B19; DuckDB oracle via correlated max — the decorrelated form of
    its ASOF JOIN).

    Spark lacks a native as-of join. The scalable formulation used here:
    union orders+events tagged, ONE shuffle partitioned by user, one
    sorted window scan carrying the last-seen order date forward —
    O(n log n) per partition, no range-join blowup, works at any scale
    (this is how trades-vs-quotes as-of joins are done on Spark).
    Event timestamps are second-truncated on both sides so the ns-parquet
    vs µs-Spark precision difference cannot skew the comparison.
    """
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    od = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
    )
    ev = e.select(
        F.col("user_id").alias("k"),
        F.date_trunc("second", "ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
    )
    # orders sort before events at equal t → "orderdate <= ts" inclusive
    w = (
        W.partitionBy("k")
        .orderBy("t", "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = od.unionByName(ev).withColumn(
        "last_order_date",
        F.last(F.when(F.col("is_event") == 0, F.col("t")), ignorenulls=True).over(w),
    )
    return merged.filter(F.col("is_event") == 1).select(
        "event_id", F.col("k").alias("user_id"), "last_order_date"
    )


@query(
    "q_join_cross",
    oracle="""
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
""",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (B20) — dims only; 5×25 rows. A cross join between
    sf-scaled tables is never written by this engine."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


_RANGE_BIN_S = 300  # bin width = the join window (5 minutes)


@query(
    "q_join_range",
    oracle="""
SELECT a.event_id AS id_a, b.event_id AS id_b,
  CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
FROM events a
JOIN events b
  ON a.event_type = b.event_type
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL '5 minutes'
ORDER BY id_a, id_b
""",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time-binning (B18's scalable big-big sibling).

    Pairs of same-type events within a 5-minute window. The naive plan
    for fact⋈fact with an interval predicate is a nested loop — O(n·m)
    and a non-starter at 100 TB. Binning rewrites it as an EQUI join:
    truncate ts to window-width bins, explode the left side into
    (bin, bin+1) — every qualifying pair lands in exactly one of the
    two probes because b.ts - a.ts ≤ bin width — then filter the exact
    interval. Plan: shuffle on (event_type, bin) + codegen filter;
    output identical to the nested loop, which is what the oracle
    (DuckDB IEJoin) checks.
    """
    e = load_table(spark, sf_dir, "events")
    binned = e.withColumn("bin", (F.unix_timestamp("ts") / _RANGE_BIN_S).cast("long"))
    a = (
        binned.select(
            F.col("event_id").alias("id_a"),
            F.col("event_type").alias("type_a"),
            F.col("ts").alias("ts_a"),
            F.explode(F.array(F.col("bin"), F.col("bin") + 1)).alias("probe_bin"),
        )
    )
    b = binned.select(
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("type_b"),
        F.col("ts").alias("ts_b"),
        F.col("bin").alias("probe_bin"),
    )
    return (
        a.join(
            b,
            (F.col("type_a") == F.col("type_b"))
            & (a["probe_bin"] == b["probe_bin"]),
        )
        .filter(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr(f"INTERVAL {_RANGE_BIN_S} SECONDS"))
        )
        .select(
            "id_a",
            "id_b",
            (
                F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a")
            ).alias("gap_s"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "q_join_fuzzy",
    oracle="""
WITH typos AS (
  SELECT n_nationkey AS typo_id,
         substr(n_name, 1, 2) || substr(n_name, 4) AS typo_name
  FROM nation
),
cand AS (
  SELECT t.typo_id, t.typo_name, n.n_name,
         levenshtein(t.typo_name, n.n_name) AS dist
  FROM typos t
  JOIN nation n ON substr(t.typo_name, 1, 1) = substr(n.n_name, 1, 1)
  WHERE levenshtein(t.typo_name, n.n_name) <= 2
)
SELECT typo_id, typo_name, n_name AS matched_name, dist
FROM (
  SELECT *, row_number()
       OVER (PARTITION BY typo_id ORDER BY dist, n_name) AS rn
  FROM cand
)
WHERE rn = 1
ORDER BY typo_id
""",
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) join: dirty strings matched to a
    reference dimension within Levenshtein ≤ 2, best match per input
    (B20b — entity resolution / dirty-dimension conforming).

    The dirty side is derived deterministically (each nation name with
    its 3rd character dropped) so the oracle reproduces it exactly. The
    join is BLOCKED — equi-join on a blocking key (first character)
    carries the pair generation, and the edit-distance threshold is a
    post-filter inside the joined block. That is the scale shape: a
    naive fuzzy join is a cross join (O(n·m) Levenshtein calls);
    blocking bounds candidates to same-block pairs, turns the plan into
    a plain broadcast-hash join (dim side is small by definition), and
    the distance UDF-free via the built-in `levenshtein`. Best-match
    selection is one window over the candidates.
    """
    n = load_table(spark, sf_dir, "nation")
    typos = n.select(
        F.col("n_nationkey").alias("typo_id"),
        F.concat(
            F.substring("n_name", 1, 2), F.expr("substr(n_name, 4)")
        ).alias("typo_name"),
    )
    dist = F.levenshtein("typo_name", "n_name")
    cand = (
        typos.join(
            F.broadcast(n.select("n_name")),
            F.substring("typo_name", 1, 1) == F.substring("n_name", 1, 1),
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") <= 2)
    )
    w = W.partitionBy("typo_id").orderBy("dist", "n_name")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "typo_id",
            "typo_name",
            F.col("n_name").alias("matched_name"),
            "dist",
        )
        .orderBy("typo_id")
    )


@query(
    "q_join_multiway",
    oracle=f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n_items
FROM customer c, orders o, lineitem l, supplier s, nation n, region r
WHERE c.c_custkey = o.o_custkey
  AND l.l_orderkey = o.o_orderkey
  AND l.l_suppkey = s.s_suppkey
  AND c.c_nationkey = s.s_nationkey
  AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'ASIA'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY n_name
""",
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table TPC-H-Q5-shape join: local-supplier revenue per nation
    in one region (B12b) — the canonical snowflake traversal every BI
    query runs, and the join-ORDERING stress case.

    Strategy mix, declared not hand-scheduled: the two fact⋈fact edges
    (orders⋈lineitem, customer⋈orders) shuffle on their keys; the
    always-tiny dims (nation, region) are explicit broadcasts;
    supplier/customer are sf-scaled so their strategy is left to
    Catalyst + AQE (size-based broadcast at test SF, shuffle join at
    100 TB — the conservative default either way). The region filter
    prunes nations BEFORE the fact joins via the broadcast, and the
    o_orderdate predicate pushes into the orders scan. The
    c_nationkey = s_nationkey "local supplier" condition rides the
    customer⋈(order-line-supplier) join as an equi-key, not a
    post-filter.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    line_supp = li.join(s, li.l_suppkey == s.s_suppkey).join(
        F.broadcast(nr), F.col("s_nationkey") == nr.n_nationkey
    )
    ol = line_supp.join(o, F.col("l_orderkey") == o.o_orderkey)
    full = ol.join(
        c,
        (F.col("o_custkey") == c.c_custkey)
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    return (
        full.groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


# Interval-overlap join: max duration 30 min → 31-min bins mean every
# interval covers at most 2 bins, and overlapping intervals always share
# at least one covered bin (the overlap instant lives in a bin both
# cover), so the bin equi-join loses no pairs.
_IVL_BIN_S = 31 * 60


@query(
    "q_join_interval",
    oracle=f"""
WITH iv AS (
  -- floor(), not a bare BIGINT cast: DuckDB's cast ROUNDS the
  -- fractional epoch, Spark's unix_timestamp FLOORS it.
  SELECT event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 30 + 1) * 60 AS e
  FROM events
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_s
FROM iv a JOIN iv b
  ON a.event_type = b.event_type
 AND a.event_id < b.event_id
 AND a.s <= b.e AND b.s <= a.e
ORDER BY id_a, id_b
""",
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (B18 family, the two-sided sibling of
    q_join_range): find pairs of same-type intervals that OVERLAP —
    sessions × incidents, ad slots × impressions, the temporal-join
    shape warehouses answer with IEJoin and Spark has no operator for.

    Scalable rewrite: each interval (here: an event's [ts, ts + dur]
    with a deterministic per-event duration) explodes into the ≤ 2
    fixed-width bins it covers; overlapping intervals necessarily share
    a covered bin, so a (type, bin) EQUI join + exact overlap filter +
    pair-dedup reproduces the nested-loop semantics. The dedup
    (distinct on the pair) is the step q_join_range doesn't need — a
    pair can meet in two bins when both intervals straddle the same
    boundary. Shuffle on (type, bin); never O(n·m). The oracle is the
    direct DuckDB interval self-join.
    """
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("s"),
        (
            F.unix_timestamp("ts")
            + (F.col("event_id") % 30 + 1) * 60
        ).alias("e"),
    )
    binned = iv.select(
        "event_id",
        "event_type",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / _IVL_BIN_S),
                F.floor(F.col("e") / _IVL_BIN_S),
            )
        ).alias("bin"),
    )
    a = binned.select(
        F.col("event_id").alias("id_a"),
        F.col("event_type").alias("type_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
        "bin",
    )
    b = binned.select(
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("type_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
        "bin",
    )
    return (
        a.join(b, (F.col("type_a") == F.col("type_b")) & (a["bin"] == b["bin"]))
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a"))
        )
        .select(
            "id_a",
            "id_b",
            (
                F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
            ).alias("overlap_s"),
        )
        .distinct()
        .orderBy("id_a", "id_b")
    )


_BASKET_MAX_ITEMS = 50   # orders with more distinct parts contribute no pairs
_COPURCHASE_TOP_K = 20


def basket_pairs(
    df: DataFrame,
    key: str,
    item: str,
    cap: int = _BASKET_MAX_ITEMS,
) -> DataFrame:
    """Capped within-basket pair mine: distinct unordered item pairs
    per basket with their basket counts — ``(u, v, sup)`` with
    ``u < v`` and ``sup`` = number of baskets (``key`` groups, 2..cap
    distinct items) containing both. The shared preamble of the
    co-purchase graph family (q_copurchase, q_orders_basket_rules,
    every q_graph_* support graph).

    Shape (optimization r12, guide §2.3/§2.4): ONE exchange on the
    basket key builds the distinct item set per basket
    (map-combinable ``collect_set``), pairs are generated MAP-SIDE
    from the sorted array (triangular ``transform``), and the pair
    reduce is the second and last exchange. The r11 form was
    distinct → size-count → semi-join → self-join-per-key — TWO extra
    data-sized exchanges plus the join machinery shuffling every pair
    instance; measured sf0.1 warm: 3.0 → 1.9 s for the build
    (identical pair sets, bit-for-bit).

    Scale contract (r13, the r12 verdict's by-construction bound): a
    ``dense_rank`` over the SAME key-hash exchange keeps only the
    cap+1 smallest distinct items per basket BEFORE any set
    aggregation, so no aggregation buffer ever holds more than cap+1
    items — the cap+1-th item's presence alone proves the basket is
    over-cap, exactly what the size gate needs. The r12 form sliced
    AFTER ``collect_set`` merged the FULL distinct set, so one
    pathological mega-basket was an unspillable executor-OOM buffer;
    under the rank pre-filter the mega-basket's rows sit in the
    window's SPILLABLE per-group buffer instead (a slow task, never an
    OOM — the old self-join exposure class). The window shares the
    groupBy's hash exchange (same key), so the exchange count is
    unchanged; the cost moved from the map-side partial ``collect_set``
    to one per-partition sort. Pair fan-out stays triangular in the
    CAP, map-side, never through a shuffle. NULL items are filtered at
    entry — identical to ``collect_set``'s NULL-dropping (and the
    basket-size gate counts non-NULL distinct items, as before; TPC-H
    part keys are NOT NULL so the gates agree, pinned by the oracle
    sweep at every sf).
    """
    ranked = (
        df.filter(F.col(item).isNotNull())
        .withColumn(
            "_dr",
            F.dense_rank().over(W.partitionBy(key).orderBy(item)),
        )
        .filter(F.col("_dr") <= cap + 1)
    )
    baskets = ranked.groupBy(key).agg(
        F.sort_array(F.collect_set(item)).alias("_items")
    ).filter(F.size("_items").between(2, cap))
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_items, (x, i) -> "
                    "transform(slice(_items, i + 2, size(_items) - i - 1), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("_p")
        )
        .select("_p.u", "_p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("sup"))
    )


@query(
    "q_copurchase",
    oracle=f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
sz AS (
  SELECT l_orderkey FROM op GROUP BY l_orderkey
  HAVING count(*) BETWEEN 2 AND {_BASKET_MAX_ITEMS}
),
ok AS (
  SELECT op.l_orderkey, op.l_partkey FROM op JOIN sz USING (l_orderkey)
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
  FROM ok a JOIN ok b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_orders FROM pairs
ORDER BY n_orders DESC, part_a, part_b
LIMIT {_COPURCHASE_TOP_K}
""",
)
def q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence pair mining (market-basket): the top-{k} pairs of
    parts ordered together — the recommender/affinity primitive, and
    the canonical self-join-on-a-grouping-key shape.

    The guardrail IS the operator at 100 TB: a basket with m items
    yields m(m-1)/2 pairs, so a degenerate basket (a reseller order
    with 10⁵ parts) detonates the join. Baskets are size-capped
    ({cap} distinct items) BEFORE the self-join — the same count-first
    suppression as the LSH hot buckets and hot shingles. After the cap,
    pair generation shuffles on the basket key, pair counting on the
    pair — both map-side combinable — and the top-k plans as
    TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Capped-basket pair mine (optimization r12): see basket_pairs —
    # identical pair counts, two fewer data-sized exchanges than the
    # r11 distinct -> count -> semi-join -> self-join form.
    return (
        basket_pairs(
            li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
        )
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("sup").alias("n_orders"),
        )
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(_COPURCHASE_TOP_K)
    )


q_copurchase.__doc__ = q_copurchase.__doc__.format(
    k=_COPURCHASE_TOP_K, cap=_BASKET_MAX_ITEMS
)


@query(
    "q_join_shuffle_hash",
    oracle=f"""
SELECT o.o_orderpriority, COUNT(*) AS n_lines,
       {sql_dsum('l.l_extendedprice', 'sum_price')}
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q_join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy CONTROL: the SHUFFLE_HASH hint forces a
    ShuffledHashJoin for a fact⋈fact join (plan-audited) — the third
    strategy beside broadcast (q_join_broadcast) and sort-merge
    (q_join_bucketed), and a real 100 TB knob: when neither side
    broadcasts but one side's per-partition slice fits memory, hashing
    that side skips BOTH sort passes a SMJ would pay. The trade is
    spill behavior — SMJ degrades gracefully (sorted spill runs), a
    hash join that overflows rebuilds — so the hint belongs on joins
    with known per-key cardinality, exactly what the q_profile_skew
    diagnostic establishes first. Results are strategy-independent;
    the oracle is the plain join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", "sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_join_reconcile",
    # All classification happens on exact DECIMAL sums (line totals)
    # vs exact DECIMAL casts (header totals), so the match/mismatch
    # verdict per order — and therefore every reported count and
    # delta — is engine-identical.
    oracle="""
WITH l AS (
  SELECT l_orderkey,
         sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS line_total
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_orderpriority,
         CASE
           WHEN l.line_total IS NULL THEN 'no_lines'
           WHEN l.line_total = CAST(o.o_totalprice AS DECIMAL(28,6))
             THEN 'match'
           ELSE 'total_mismatch'
         END AS status,
         CASE WHEN l.line_total IS NOT NULL
              THEN abs(l.line_total - CAST(o.o_totalprice AS DECIMAL(28,6)))
              ELSE CAST(0 AS DECIMAL(28,6)) END AS delta
  FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
)
SELECT o_orderpriority, status, count(*) AS n_orders,
       CAST(sum(delta) AS DOUBLE) AS sum_abs_delta
FROM j GROUP BY 1, 2
ORDER BY o_orderpriority, status
""",
)
def q_join_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header/detail reconciliation report (B14 family, the migration-
    validation op): does each order's header total equal the sum of its
    lines? Classifies every order {match, total_mismatch, no_lines}
    per priority with the summed absolute drift — THE report a system
    migration (or this engine replacing the reference) runs against
    the legacy side before cutover, and the row-level sibling of
    q_dq_report's aggregate referential checks.

    One detail-side aggregate (map-combinable to |orders| rows), one
    LEFT key join, conditional rollup. Everything that decides a
    verdict is exact decimal — a float sum would misclassify orders
    whose lines sum to the header within 1 ulp. (The synthetic fixture
    deliberately maintains NO header/detail invariant: every order with
    lines reports total_mismatch and 257 report no_lines at sf0.01 —
    the report's job is to SAY so, loudly.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    l = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).alias(
            "line_total"
        )
    )
    hdr = F.col("o_totalprice").cast("decimal(28,6)")
    j = o.join(l, o.o_orderkey == l.l_orderkey, "left").select(
        "o_orderpriority",
        F.when(F.col("line_total").isNull(), "no_lines")
        .when(F.col("line_total") == hdr, "match")
        .otherwise("total_mismatch")
        .alias("status"),
        F.when(
            F.col("line_total").isNotNull(),
            F.abs(F.col("line_total") - hdr),
        )
        .otherwise(F.lit(0).cast("decimal(28,6)"))
        .alias("delta"),
    )
    return (
        j.groupBy("o_orderpriority", "status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("delta").cast("double").alias("sum_abs_delta"),
        )
        .orderBy("o_orderpriority", "status")
    )


@query(
    "q_copurchase_rules",
    # Association metrics are EXACT INTEGER ratios (joint, antecedent,
    # item, basket counts) rounded at 6dp — one identical IEEE division
    # per metric, so the hash matches with no tolerance. Rule ordering
    # is by integer joint count + part keys, never by a float metric.
    oracle=f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
sz AS (
  SELECT l_orderkey FROM op GROUP BY l_orderkey
  HAVING count(*) BETWEEN 2 AND {_BASKET_MAX_ITEMS}
),
ok AS (
  SELECT op.l_orderkey, op.l_partkey FROM op JOIN sz USING (l_orderkey)
),
nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM ok),
items AS (
  SELECT l_partkey, count(*) AS n_item FROM ok GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_joint
  FROM ok a JOIN ok b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
top AS (
  SELECT part_a, part_b, n_joint FROM pairs
  ORDER BY n_joint DESC, part_a, part_b
  LIMIT 10
),
rules AS (
  SELECT part_a AS antecedent, part_b AS consequent, n_joint FROM top
  UNION ALL
  SELECT part_b, part_a, n_joint FROM top
)
SELECT r.antecedent, r.consequent, r.n_joint,
       ia.n_item AS n_antecedent,
       round(CAST(r.n_joint AS DOUBLE) / nb.n_baskets, 6) AS support,
       round(CAST(r.n_joint AS DOUBLE) / ia.n_item, 6) AS confidence,
       round(CAST(r.n_joint AS DOUBLE) * nb.n_baskets
             / (CAST(ia.n_item AS DOUBLE) * ic.n_item), 6) AS lift
FROM rules r
JOIN items ia ON ia.l_partkey = r.antecedent
JOIN items ic ON ic.l_partkey = r.consequent
CROSS JOIN nb
ORDER BY r.n_joint DESC, r.antecedent, r.consequent
""",
)
def q_copurchase_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the q_copurchase pair mine: the top-10
    joint pairs expanded to DIRECTED rules with support, confidence
    P(B|A), and lift — the numbers that separate "bought together
    often" from "bought together more than chance" (lift > 1), the
    actual recommender/affinity deliverable.

    Scale shape: everything heavy is the same capped pair mine as
    q_copurchase (count-first basket cap, map-combinable pair counts,
    TakeOrderedAndProject top-10); the metric stage then runs on 20
    rule rows joined against the |parts| item-count frame (the tiny
    rules side broadcasts) and a 1-row basket-count frame. Rules are
    ordered by the integer joint count, never by a float metric, so
    ties cannot reorder across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    sz = (
        op.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items").between(2, _BASKET_MAX_ITEMS))
        .select("l_orderkey")
    )
    ok = op.join(sz, "l_orderkey").localCheckpoint(eager=False)
    a = ok.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = ok.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    top = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_joint"))
        .orderBy(F.col("n_joint").desc(), "part_a", "part_b")
        .limit(10)
    )
    rules = top.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "n_joint",
    ).unionAll(
        top.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "n_joint",
        )
    )
    items = ok.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    nb = ok.select(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    ia = items.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_antecedent")
    )
    ic = items.select(
        F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_consequent")
    )
    return (
        rules.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(nb)
        .select(
            "antecedent",
            "consequent",
            "n_joint",
            "n_antecedent",
            F.round(
                F.col("n_joint").cast("double") / F.col("n_baskets"), 6
            ).alias("support"),
            F.round(
                F.col("n_joint").cast("double") / F.col("n_antecedent"), 6
            ).alias("confidence"),
            F.round(
                F.col("n_joint").cast("double")
                * F.col("n_baskets")
                / (
                    F.col("n_antecedent").cast("double")
                    * F.col("n_consequent")
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_joint").desc(), "antecedent", "consequent")
    )


@query(
    "q_join_asof_nearest",
    # Oracle via two correlated extremes (backward max / forward min) +
    # the same tie-to-before CASE; gaps are exact integer epoch seconds
    # so the comparison can never float-drift.
    oracle="""
SELECT e.event_id, e.user_id,
  CASE
    WHEN b.t IS NULL AND f.t IS NULL THEN NULL
    WHEN f.t IS NULL THEN b.t
    WHEN b.t IS NULL THEN f.t
    WHEN epoch(date_trunc('second', e.ts)) - epoch(b.t)
         <= epoch(f.t) - epoch(date_trunc('second', e.ts)) THEN b.t
    ELSE f.t
  END AS nearest_order_date,
  CASE
    WHEN b.t IS NULL AND f.t IS NULL THEN 'none'
    WHEN f.t IS NULL THEN 'before'
    WHEN b.t IS NULL THEN 'after'
    WHEN epoch(date_trunc('second', e.ts)) - epoch(b.t)
         <= epoch(f.t) - epoch(date_trunc('second', e.ts)) THEN 'before'
    ELSE 'after'
  END AS direction,
  CAST(CASE
    WHEN b.t IS NULL AND f.t IS NULL THEN NULL
    WHEN f.t IS NULL THEN epoch(date_trunc('second', e.ts)) - epoch(b.t)
    WHEN b.t IS NULL THEN epoch(f.t) - epoch(date_trunc('second', e.ts))
    ELSE least(epoch(date_trunc('second', e.ts)) - epoch(b.t),
               epoch(f.t) - epoch(date_trunc('second', e.ts)))
  END AS BIGINT) AS gap_seconds
FROM events e
LEFT JOIN LATERAL (
  SELECT max(o.o_orderdate) AS t FROM orders o
  WHERE o.o_custkey = e.user_id
    AND o.o_orderdate <= date_trunc('second', e.ts)
) b ON true
LEFT JOIN LATERAL (
  SELECT min(o.o_orderdate) AS t FROM orders o
  WHERE o.o_custkey = e.user_id
    AND o.o_orderdate >= date_trunc('second', e.ts)
) f ON true
""",
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (B19's bidirectional sibling): the closest
    order in time per event, before OR after, ties to before — sensor
    alignment and record-linkage semantics (backward-only as-of answers
    "state at the time"; nearest answers "which reading belongs to
    this one").

    Same single-shuffle merge-scan as q_join_asof, run in BOTH
    directions on one (user, time) partitioning: the ascending window
    carries the last order date forward, and the forward neighbor
    comes from a DESCENDING-order running frame (never a
    [current, unbounded following] frame — Spark re-evaluates growing
    frames O(span²), SCALING.md) — two window passes over one
    Exchange. The winner is picked row-locally on exact integer epoch
    gaps. No range join, no per-row probe; the oracle is the
    correlated two-extreme LATERAL form.
    """
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    od = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
    )
    ev = e.select(
        F.col("user_id").alias("k"),
        F.date_trunc("second", "ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
    )
    order_t = F.when(F.col("is_event") == 0, F.col("t"))
    # backward: orders sort before events at equal t → inclusive <=
    w_back = (
        W.partitionBy("k")
        .orderBy("t", "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # forward: DESC time, orders still first at equal t → inclusive >=
    w_fwd = (
        W.partitionBy("k")
        .orderBy(F.col("t").desc(), "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = (
        od.unionByName(ev)
        .withColumn("back_t", F.last(order_t, ignorenulls=True).over(w_back))
        .withColumn("fwd_t", F.last(order_t, ignorenulls=True).over(w_fwd))
    )
    ep = lambda c: F.col(c).cast("long")  # noqa: E731
    d_back = ep("t") - ep("back_t")
    d_fwd = ep("fwd_t") - ep("t")
    before_wins = d_back <= d_fwd
    nearest = (
        F.when(F.col("back_t").isNull() & F.col("fwd_t").isNull(), F.lit(None))
        .when(F.col("fwd_t").isNull(), F.col("back_t"))
        .when(F.col("back_t").isNull(), F.col("fwd_t"))
        .when(before_wins, F.col("back_t"))
        .otherwise(F.col("fwd_t"))
    )
    direction = (
        F.when(F.col("back_t").isNull() & F.col("fwd_t").isNull(), "none")
        .when(F.col("fwd_t").isNull(), "before")
        .when(F.col("back_t").isNull(), "after")
        .when(before_wins, "before")
        .otherwise("after")
    )
    gap = (
        F.when(F.col("back_t").isNull() & F.col("fwd_t").isNull(), F.lit(None))
        .when(F.col("fwd_t").isNull(), d_back)
        .when(F.col("back_t").isNull(), d_fwd)
        .otherwise(F.least(d_back, d_fwd))
    )
    return merged.filter(F.col("is_event") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        nearest.alias("nearest_order_date"),
        direction.alias("direction"),
        gap.cast("long").alias("gap_seconds"),
    )


_ASOF_TOLERANCE_S = 7 * 86400  # max staleness: 7 days


@query(
    "q_join_asof_tolerance",
    # Same correlated-max oracle as q_join_asof, with the staleness
    # gate applied afterwards on exact integer epoch seconds.
    oracle=f"""
SELECT e.event_id, e.user_id,
  CASE WHEN epoch(date_trunc('second', e.ts)) - epoch(b.t)
            <= {_ASOF_TOLERANCE_S} THEN b.t END AS last_order_date,
  CASE WHEN b.t IS NULL THEN 'no_history'
       WHEN epoch(date_trunc('second', e.ts)) - epoch(b.t)
            > {_ASOF_TOLERANCE_S} THEN 'stale'
       ELSE 'fresh' END AS freshness,
  CAST(CASE WHEN epoch(date_trunc('second', e.ts)) - epoch(b.t)
                 <= {_ASOF_TOLERANCE_S}
            THEN epoch(date_trunc('second', e.ts)) - epoch(b.t)
       END AS BIGINT) AS staleness_s
FROM events e
LEFT JOIN LATERAL (
  SELECT max(o.o_orderdate) AS t FROM orders o
  WHERE o.o_custkey = e.user_id
    AND o.o_orderdate <= date_trunc('second', e.ts)
) b ON true
""",
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH A STALENESS BOUND (pandas merge_asof's
    `tolerance`, the feature-store point-in-time rule): the most
    recent order per user at each event — but only if it is at most
    7 days old, else the match is NULLED and labeled 'stale'. The
    semantics that keep a training set honest: a feature computed
    from 90-day-old state is not "the state at the time", it is a
    leak of the entity's mere existence.

    Identical single-shuffle merge-scan as q_join_asof (union + one
    ordered window carrying the last order date forward); the
    tolerance is a row-local gate on exact integer epoch seconds
    AFTER the scan — no extra join, no extra shuffle, and the
    freshness label comes free. The 'stale' row keeps its event (LEFT
    semantics) so downstream can count coverage, not silently shrink.
    """
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    od = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
    )
    ev = e.select(
        F.col("user_id").alias("k"),
        F.date_trunc("second", "ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
    )
    w = (
        W.partitionBy("k")
        .orderBy("t", "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = od.unionByName(ev).withColumn(
        "back_t",
        F.last(F.when(F.col("is_event") == 0, F.col("t")), ignorenulls=True).over(w),
    )
    stale_s = F.col("t").cast("long") - F.col("back_t").cast("long")
    fresh = stale_s <= _ASOF_TOLERANCE_S
    return merged.filter(F.col("is_event") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.when(fresh, F.col("back_t")).alias("last_order_date"),
        F.when(F.col("back_t").isNull(), "no_history")
        .when(~fresh, "stale")
        .otherwise("fresh")
        .alias("freshness"),
        F.when(fresh, stale_s).cast("long").alias("staleness_s"),
    )


# Spatial grid join: coordinates are md5-derived micro-degree integers
# (lat in [0, 180e6) from the south pole, lon in [0, 360e6)) so both
# engines place every entity at the identical point. Distance is exact
# BIGINT planar micro-degrees squared — sin/cos differ in ulps across
# libm implementations, so a haversine threshold could flip boundary
# pairs between engines; the GRID-BUCKET pattern is the point here,
# and production swaps in haversine + longitude wrap at the filter.
_GEO_CELL = 15_000_000          # cell edge = radius -> 3x3 neighborhood covers it
_GEO_R2 = _GEO_CELL * _GEO_CELL


@query(
    "q_join_spatial_grid",
    oracle=f"""
WITH cust AS (
  SELECT c_custkey,
         CAST(('0x' || substr(md5('cust:' || CAST(c_custkey AS VARCHAR)),
                              1, 8))::UBIGINT % 180000000 AS BIGINT) AS lat_u,
         CAST(('0x' || substr(md5('cust:' || CAST(c_custkey AS VARCHAR)),
                              9, 8))::UBIGINT % 360000000 AS BIGINT) AS lon_u
  FROM customer
),
supp AS (
  SELECT s_suppkey,
         CAST(('0x' || substr(md5('supp:' || CAST(s_suppkey AS VARCHAR)),
                              1, 8))::UBIGINT % 180000000 AS BIGINT) AS lat_u,
         CAST(('0x' || substr(md5('supp:' || CAST(s_suppkey AS VARCHAR)),
                              9, 8))::UBIGINT % 360000000 AS BIGINT) AS lon_u
  FROM supplier
),
sx AS (
  SELECT s.s_suppkey, s.lat_u, s.lon_u,
         s.lat_u // {_GEO_CELL} + dx.dx AS cell_lat,
         s.lon_u // {_GEO_CELL} + dy.dy AS cell_lon
  FROM supp s
  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) dx
  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) dy
),
hits AS (
  SELECT c.c_custkey,
         (c.lat_u - s.lat_u) * (c.lat_u - s.lat_u)
         + (c.lon_u - s.lon_u) * (c.lon_u - s.lon_u) AS d2
  FROM cust c
  JOIN sx s ON s.cell_lat = c.lat_u // {_GEO_CELL}
           AND s.cell_lon = c.lon_u // {_GEO_CELL}
  WHERE (c.lat_u - s.lat_u) * (c.lat_u - s.lat_u)
        + (c.lon_u - s.lon_u) * (c.lon_u - s.lon_u) <= {_GEO_R2}
)
SELECT c_custkey,
       CAST(count(*) AS BIGINT) AS n_within,
       round(sqrt(CAST(min(d2) AS DOUBLE)) / 1000000.0, 6) AS nearest_deg
FROM hits GROUP BY c_custkey ORDER BY c_custkey
""",
)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via GRID BUCKETING: for each customer, how
    many suppliers sit within a 15-degree radius and how far the
    nearest one is — the proximity query (nearest warehouse, delivery
    coverage, geo-dedup) that naively is an all-pairs cross join.

    The grid pattern is the scale story: bucket both sides into
    radius-sized cells, expand the SMALL side to its 3x3 cell
    neighborhood (9 rows per supplier — a constant), and equi-join on
    the cell key. Every true within-radius pair lands in the same
    bucket (cell edge = radius), so the expensive distance predicate
    runs only on cell-local candidates: cost O(pairs-per-cell), not
    |cust| x |supp|. On this fixture the supplier side also broadcasts;
    at 100 TB with two big point sets the SAME plan shuffles both
    sides on the cell key — the hexagon/S2 bucketing every geo engine
    uses, minus the library. Coordinates are md5-derived micro-degree
    BIGINTs kept non-negative (div truncation == floor only above
    zero), distance is exact integer planar micro-degrees squared (a
    haversine threshold could flip boundary pairs across libm ulps;
    swap it in at the filter for production geodesics).
    """
    def coords(df, key, prefix, keep):
        h = F.md5(
            F.concat(F.lit(prefix), F.col(key).cast("string")).cast("binary")
        )
        lat = (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 180_000_000
        ).alias("lat_u")
        lon = (
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 360_000_000
        ).alias("lon_u")
        return df.select(F.col(key).alias(keep), lat, lon)

    c = coords(
        load_table(spark, sf_dir, "customer"), "c_custkey", "cust:", "c_custkey"
    ).select(
        "c_custkey",
        "lat_u",
        "lon_u",
        F.expr(f"lat_u div {_GEO_CELL}").alias("cell_lat"),
        F.expr(f"lon_u div {_GEO_CELL}").alias("cell_lon"),
    )
    s = coords(
        load_table(spark, sf_dir, "supplier"), "s_suppkey", "supp:", "s_suppkey"
    )
    offsets = spark.range(1).select(
        F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dx")
    ).crossJoin(
        spark.range(1).select(
            F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dy")
        )
    )
    sx = s.crossJoin(F.broadcast(offsets)).select(
        "s_suppkey",
        F.col("lat_u").alias("s_lat"),
        F.col("lon_u").alias("s_lon"),
        (F.expr(f"lat_u div {_GEO_CELL}") + F.col("dx")).alias("cell_lat"),
        (F.expr(f"lon_u div {_GEO_CELL}") + F.col("dy")).alias("cell_lon"),
    )
    d2 = (F.col("lat_u") - F.col("s_lat")) * (
        F.col("lat_u") - F.col("s_lat")
    ) + (F.col("lon_u") - F.col("s_lon")) * (F.col("lon_u") - F.col("s_lon"))
    return (
        c.join(F.broadcast(sx), ["cell_lat", "cell_lon"])
        .withColumn("d2", d2)
        .filter(F.col("d2") <= _GEO_R2)
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            F.round(
                F.sqrt(F.min("d2").cast("double")) / 1_000_000.0, 6
            ).alias("nearest_deg"),
        )
        .orderBy("c_custkey")
    )


# Priority -> promised ship window (days). A CASE dimension, not a
# table, so the map is literal in both engines.
_SLA_DAYS = {
    "1-URGENT": 15,
    "2-HIGH": 30,
    "3-MEDIUM": 60,
    "4-NOT SPECIFIED": 90,
    "5-LOW": 120,
}


def _sla_case_sql(col: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {col} = '{k}' THEN {v}" for k, v in _SLA_DAYS.items()
        )
        + " ELSE 120 END"
    )


@query(
    "q_orders_sla",
    oracle=f"""
WITH first_ship AS (
  SELECT l_orderkey,
         min(CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT)) AS ship_day
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderpriority,
         f.ship_day - CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT)
           AS lag_days,
         {_sla_case_sql("o.o_orderpriority")} AS sla_days
  FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN lag_days <= sla_days THEN 1 ELSE 0 END) AS BIGINT)
         AS n_met,
       round(CAST(sum(CASE WHEN lag_days <= sla_days THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS attainment,
       round(CAST(sum(lag_days) AS DOUBLE) / count(*), 6) AS avg_lag_days,
       CAST(max(lag_days) AS BIGINT) AS worst_lag_days
FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def q_orders_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-SLA attainment by priority: per order, the lag from
    order date to FIRST line shipment, classified against the
    priority's promised window — the fulfilment scorecard (did URGENT
    actually ship faster, and what share blew its promise). The SLA map
    is a literal CASE dimension shared with the oracle.

    Scale shape: lineitem reduces to min(ship_day) per order FIRST — a
    partial-aggregated shuffle on the order key, 7-to-1 before the
    join — then ONE key join against orders and a dimension-sized
    priority rollup. All-integer day arithmetic (epoch-day floors);
    the only doubles are two final ratios from exact integer sums. On
    a bucketed layout (operators/layout.py) the orderkey join is
    shuffle-free.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(
            F.floor(F.unix_timestamp("l_shipdate") / 86400).cast("long")
        ).alias("ship_day")
    )
    sla = F.lit(120)
    for k, v in reversed(_SLA_DAYS.items()):
        sla = F.when(F.col("o_orderpriority") == k, v).otherwise(sla)
    j = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey).select(
        "o_orderpriority",
        (
            F.col("ship_day")
            - F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
        ).alias("lag_days"),
        sla.alias("sla_days"),
    )
    met = F.when(F.col("lag_days") <= F.col("sla_days"), 1).otherwise(0)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(met).cast("long").alias("n_met"),
            F.round(
                F.sum(met).cast("double") / F.count(F.lit(1)), 6
            ).alias("attainment"),
            F.round(
                F.sum("lag_days").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_lag_days"),
            F.max("lag_days").cast("long").alias("worst_lag_days"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_agg_geo_centroid",
    # Same md5 micro-degree coordinates as q_join_spatial_grid; the
    # centroid and RMS dispersion come from exact BIGINT power sums
    # per nation — one identical IEEE closed form each.
    oracle="""
WITH c AS (
  SELECT c_nationkey,
         CAST(('0x' || substr(md5('cust:' || CAST(c_custkey AS VARCHAR)),
                              1, 8))::UBIGINT % 180000000 AS BIGINT) AS lat_u,
         CAST(('0x' || substr(md5('cust:' || CAST(c_custkey AS VARCHAR)),
                              9, 8))::UBIGINT % 360000000 AS BIGINT) AS lon_u
  FROM customer
),
s AS (
  SELECT c_nationkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lat_u) AS BIGINT) AS slat,
         CAST(sum(lon_u) AS BIGINT) AS slon,
         CAST(sum(lat_u * lat_u) AS HUGEINT) AS slat2,
         CAST(sum(lon_u * lon_u) AS HUGEINT) AS slon2
  FROM c GROUP BY c_nationkey
)
SELECT c_nationkey,
       n,
       round(CAST(slat AS DOUBLE) / n / 1000000.0 - 90, 6) AS centroid_lat,
       round(CAST(slon AS DOUBLE) / n / 1000000.0 - 180, 6) AS centroid_lon,
       round(sqrt((CAST(slat2 AS DOUBLE) - CAST(slat AS DOUBLE) * slat / n)
                  / n
                  + (CAST(slon2 AS DOUBLE) - CAST(slon AS DOUBLE) * slon / n)
                  / n) / 1000000.0, 6) AS rms_dispersion_deg
FROM s ORDER BY c_nationkey
""",
)
def q_agg_geo_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer centroid and RMS dispersion over the same
    md5-derived micro-degree coordinates q_join_spatial_grid uses —
    the geo-aggregate half of the spatial family (the join finds
    neighbors; this summarizes territories: where is each nation's
    customer mass centered and how spread out is it — the
    service-region placement question).

    Scale shape: coordinates are row-local integer expressions; ONE
    partial-aggregated pass per nation carries five exact integer
    accumulators (n, Σlat, Σlon, Σlat², Σlon² — the 2-D q_agg_stats
    power-sum doctrine; squares in HUGEINT/decimal), and centroid +
    dispersion are identical IEEE closed forms on the nations frame.
    Planar caveat as documented on the grid join — real geodesics swap
    in great-circle math at the closed form, same plan.
    """
    c = load_table(spark, sf_dir, "customer")
    h = F.md5(
        F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).cast(
            "binary"
        )
    )
    lat = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 180_000_000
    lon = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 360_000_000
    big = "decimal(38,0)"
    s = (
        c.select("c_nationkey", lat.alias("lat_u"), lon.alias("lon_u"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("lat_u").cast("long").alias("slat"),
            F.sum("lon_u").cast("long").alias("slon"),
            F.sum(F.col("lat_u").cast(big) * F.col("lat_u").cast(big)).alias(
                "slat2"
            ),
            F.sum(F.col("lon_u").cast(big) * F.col("lon_u").cast(big)).alias(
                "slon2"
            ),
        )
    )
    n = F.col("n").cast("double")
    slat, slon = F.col("slat").cast("double"), F.col("slon").cast("double")
    slat2, slon2 = F.col("slat2").cast("double"), F.col("slon2").cast("double")
    return s.select(
        "c_nationkey",
        "n",
        F.round(slat / n / 1_000_000.0 - 90, 6).alias("centroid_lat"),
        F.round(slon / n / 1_000_000.0 - 180, 6).alias("centroid_lon"),
        F.round(
            F.sqrt(
                (slat2 - slat * slat / n) / n + (slon2 - slon * slon / n) / n
            )
            / 1_000_000.0,
            6,
        ).alias("rms_dispersion_deg"),
    ).orderBy("c_nationkey")


@query(
    "q_join_nullsafe",
    # Two derived nullable-key frames (%7 and %5 keys nulled) reduce to
    # per-key counts FIRST; the null-safe join then matches key frames
    # (NULL <=> NULL included) and pair counts come from ca*cb — the
    # aggregate-first device that makes the null-block cross-product a
    # NUMBER instead of materialized rows.
    oracle="""
WITH a AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS k,
         count(*) AS ca
  FROM orders GROUP BY 1
),
b AS (
  SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey END AS k,
         count(*) AS cb
  FROM orders GROUP BY 1
),
j AS (
  SELECT a.k, a.ca * b.cb AS pairs, a.k IS NULL AS is_null_block
  FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
)
SELECT CAST(count(*) AS BIGINT) AS n_keys_matched,
       CAST(sum(pairs) AS BIGINT) AS pairs_total,
       CAST(sum(CASE WHEN is_null_block THEN pairs ELSE 0 END) AS BIGINT)
         AS pairs_null_block,
       round(CAST(sum(CASE WHEN is_null_block THEN pairs ELSE 0 END)
                  AS DOUBLE) / sum(pairs), 6) AS null_block_share
FROM j
""",
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join semantics (Spark ``<=>`` / SQL ``IS NOT
    DISTINCT FROM``): unlike ``=``, NULL keys MATCH each other — the
    semantic a dedup/reconciliation join over nullable business keys
    usually wants (plain ``=`` silently drops every NULL-keyed row
    from both sides). The operator also makes the hazard visible: all
    NULL rows form ONE join block, and its pair count is quadratic in
    the null rate — reported here as ``pairs_null_block`` and its
    share, the number that says "salt or split the nulls" before a
    real join executes.

    Scale shape: both sides reduce to per-key COUNT frames first, so
    the null-safe join runs key-frame × key-frame and the null block
    becomes arithmetic (ca·cb), never materialized rows — the
    diagnostic form; a production null-safe join at volume either
    broadcasts one side or handles the null block separately (filter +
    union, the q_join_salted doctrine applied to one key).
    """
    o = load_table(spark, sf_dir, "orders")

    def keyed(mod):
        return (
            o.select(
                F.when(F.col("o_orderkey") % mod == 0, None)
                .otherwise(F.col("o_custkey"))
                .alias("k")
            )
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    a = keyed(7).select(F.col("k").alias("ka"), F.col("c").alias("ca"))
    b = keyed(5).select(F.col("k").alias("kb"), F.col("c").alias("cb"))
    j = a.join(b, a.ka.eqNullSafe(b.kb)).select(
        F.col("ka").isNull().alias("is_null_block"),
        (F.col("ca") * F.col("cb")).alias("pairs"),
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys_matched"),
        F.sum("pairs").cast("long").alias("pairs_total"),
        F.sum(F.when(F.col("is_null_block"), F.col("pairs")).otherwise(0))
        .cast("long")
        .alias("pairs_null_block"),
        F.round(
            F.sum(
                F.when(F.col("is_null_block"), F.col("pairs")).otherwise(0)
            ).cast("double")
            / F.sum("pairs"),
            6,
        ).alias("null_block_share"),
    )


@query(
    "q_join_prorate",
    # All-integer epoch-day arithmetic (the floor() contract); month
    # ids are 12*year + month from exact date part extraction; overlap
    # days are min/max on BIGINTs.
    oracle="""
WITH w AS (
  SELECT o.o_orderkey,
         CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT) AS s,
         CAST(max(floor(epoch(l.l_shipdate) / 86400)) AS BIGINT) AS e
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
),
wm AS (SELECT * FROM w WHERE e >= s),
alloc AS (
  SELECT 12 * CAST(year(to_timestamp(d * 86400)) AS BIGINT)
           + CAST(month(to_timestamp(d * 86400)) AS BIGINT) - 1 AS month_id,
         o_orderkey, d
  FROM wm, unnest(generate_series(wm.s, wm.e)) AS g(d)
)
SELECT month_id,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders_active,
       CAST(count(*) AS BIGINT) AS fulfillment_days
FROM alloc GROUP BY month_id ORDER BY month_id
""",
)
def q_join_prorate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-to-calendar proration: each order's fulfillment window
    [order date, last ship date] allocated across the months it spans
    — per month, how many orders were actively fulfilling and how many
    fulfillment-days landed there. The billing/capacity primitive
    (subscription proration, seat-day accounting, WIP aging all
    reduce to it): q_join_interval finds interval PAIRS; this
    allocates intervals onto the CALENDAR.

    Scale shape: windows reduce per order FIRST (one partial-agg max
    over lineitem — the fact table collapses before anything joins);
    each window then explodes into its covered DAYS (bounded fan-out:
    fulfillment windows are weeks, not years — the explode factor is
    the mean window length, stated and bounded by the data contract)
    and a grouped count per month does the rest. No theta join, no
    per-month scan of the fact table. The day-level explode is chosen
    over direct month-overlap arithmetic deliberately: it makes
    distinct-active counting exact under any window shape, and the
    fan-out frame (orders × mean-days) is still orders of magnitude
    smaller than lineitem.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.max(
                F.floor(
                    F.unix_timestamp("l_shipdate").cast("double") / 86400
                ).cast("long")
            ).alias("e")
        )
        .select(
            "o_orderkey",
            F.floor(
                F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
                .cast("double")
                / 86400
            )
            .cast("long")
            .alias("s"),
            "e",
        )
        .filter(F.col("e") >= F.col("s"))
    )
    alloc = w.select(
        "o_orderkey",
        F.explode(F.sequence("s", "e")).alias("d"),
    ).select(
        "o_orderkey",
        (
            12 * F.year(F.timestamp_seconds(F.col("d") * 86400)).cast("long")
            + F.month(F.timestamp_seconds(F.col("d") * 86400)).cast("long")
            - 1
        ).alias("month_id"),
    )
    return (
        alloc.groupBy("month_id")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders_active"),
            F.count(F.lit(1)).alias("fulfillment_days"),
        )
        .orderBy("month_id")
    )


@query(
    "q_orders_elasticity",
    # ln-contract for both regression variables (each 9dp-rounded ln
    # enters an exact DECIMAL power sum — order-free, AQE-proof); the
    # OLS slope / intercept / R² are identical IEEE closed forms per
    # brand; the dim join is a broadcast in Spark and value-identical
    # in the oracle.
    oracle="""
WITH r AS (
  SELECT p.p_brand,
    CAST(round(ln(l.l_extendedprice / l.l_quantity), 9)
         AS DECIMAL(11,9)) AS x,
    CAST(round(ln(l.l_quantity), 9) AS DECIMAL(10,9)) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity > 0
),
s AS (
  SELECT p_brand,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
    CAST(sum(x * x) AS DOUBLE) AS sxx,
    CAST(sum(y * y) AS DOUBLE) AS syy,
    CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM r GROUP BY p_brand
),
b AS (
  SELECT p_brand, n,
    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
      AS intercept,
    (n * sxy - sx * sy) * (n * sxy - sx * sy)
      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
  FROM s
)
SELECT p_brand, n,
       round(slope, 6) AS elasticity,
       round(intercept, 6) AS intercept,
       round(r2, 6) AS r2,
       abs(slope) > 1.0 AS elastic
FROM b ORDER BY p_brand
""",
)
def q_orders_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per brand — the log-log OLS
    ln(quantity) = a + b·ln(unit price) whose slope IS the elasticity
    (|b| > 1 = elastic: price cuts grow revenue; |b| < 1 = inelastic:
    they burn it) — the pricing team's first regression, and the
    econometric consumer of the engine's regression machinery
    (q_ml_linreg fits levels; elasticities need the log transform,
    which drags the ln-contract into a JOINED fact/dim pipeline).

    Scale shape: ONE broadcast join (part is a dimension) + ONE
    partial-aggregated pass of exact DECIMAL power sums of the
    9dp-rounded lns; slope/intercept/R² are closed forms on the
    |brands|-row frame. The fixture's md5-derived prices carry no
    real demand signal — slopes near 0 with tiny R² are the CORRECT
    reading (and the planted test wires a real elasticity to verify
    the estimator).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    x = F.round(
        F.log(F.col("l_extendedprice") / F.col("l_quantity")), 9
    ).cast("decimal(11,9)")
    y = F.round(F.log(F.col("l_quantity")), 9).cast("decimal(10,9)")
    r = (
        li.filter(F.col("l_quantity") > 0)
        .join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .select("p_brand", x.alias("x"), y.alias("y"))
    )
    s = r.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = n * F.col("sxx") - sx * sx
    slope = num / den
    intercept = (sy - slope * sx) / n
    r2 = num * num / (den * (n * F.col("syy") - sy * sy))
    return s.select(
        "p_brand",
        "n",
        F.round(slope, 6).alias("elasticity"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
        (F.abs(slope) > 1.0).alias("elastic"),
    ).orderBy("p_brand")


_TRIGRAM_DF_CAP = 100
_TRIGRAM_TAU = 0.5


@query(
    "q_join_trigram",
    # Same planted-dirty-side determinism as q_join_fuzzy; candidate
    # generation is capped to trigrams with document frequency <=
    # cap in BOTH engines (the stated contract), and the Jaccard is
    # exact integer set arithmetic on the full trigram sets of every
    # generated candidate.
    oracle=f"""
WITH base AS (
  SELECT p_partkey, p_name AS nm FROM part WHERE length(p_name) >= 3
),
dirty AS (
  SELECT p_partkey AS dirty_id,
         substr(nm, 1, 2) || substr(nm, 4) AS nm
  FROM base WHERE length(substr(nm, 1, 2) || substr(nm, 4)) >= 3
),
tg_c AS (
  SELECT DISTINCT p_partkey, substr(nm, i, 3) AS g
  FROM (SELECT p_partkey, nm,
               unnest(generate_series(1, length(nm) - 2)) AS i
        FROM base)
),
tg_d AS (
  SELECT DISTINCT dirty_id, substr(nm, i, 3) AS g
  FROM (SELECT dirty_id, nm,
               unnest(generate_series(1, length(nm) - 2)) AS i
        FROM dirty)
),
sz_c AS (SELECT p_partkey, CAST(count(*) AS BIGINT) AS nb FROM tg_c
         GROUP BY 1),
sz_d AS (SELECT dirty_id, CAST(count(*) AS BIGINT) AS na FROM tg_d
         GROUP BY 1),
df AS (
  SELECT g, count(*) AS dfreq FROM tg_c GROUP BY g
),
rare AS (SELECT g FROM df WHERE dfreq <= {{cap}}),
cand AS (
  SELECT DISTINCT d.dirty_id, c.p_partkey
  FROM tg_d d
  JOIN rare r ON r.g = d.g
  JOIN tg_c c ON c.g = d.g
),
inter AS (
  SELECT cand.dirty_id, cand.p_partkey,
         CAST(count(*) AS BIGINT) AS shared
  FROM cand
  JOIN tg_d a ON a.dirty_id = cand.dirty_id
  JOIN tg_c b ON b.p_partkey = cand.p_partkey AND b.g = a.g
  GROUP BY 1, 2
),
scored AS (
  SELECT i.dirty_id, i.p_partkey, i.shared, sd.na, sc.nb,
         CAST(i.shared AS DOUBLE) / (sd.na + sc.nb - i.shared) AS jac
  FROM inter i
  JOIN sz_d sd USING (dirty_id) JOIN sz_c sc USING (p_partkey)
  WHERE CAST(i.shared AS DOUBLE) / (sd.na + sc.nb - i.shared)
        >= {{tau}}
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY dirty_id
    ORDER BY jac DESC, shared DESC, p_partkey) AS rn
  FROM scored
)
SELECT dirty_id, p_partkey AS matched_key, shared, na, nb,
       round(jac, 6) AS jaccard
FROM best WHERE rn = 1 ORDER BY dirty_id
""".format(cap=_TRIGRAM_DF_CAP, tau=_TRIGRAM_TAU),
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_join_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram set-similarity join (Jaccard ≥ 0.5, best match per
    input) of a planted dirty part-name side against the clean part
    dimension — the OTHER entity-resolution device beside
    q_join_fuzzy's edit distance: edit distance prices
    character-level typos, trigram Jaccard survives word drops /
    reorders and is the standard pg_trgm / dedup-blocking similarity.

    Scale shape — the PPJoin idea without the library: candidate
    pairs are generated ONLY through trigrams whose document
    frequency is ≤ {cap} (a map-combinable df count; the cap is the
    stated contract, mirrored in the oracle — pairs sharing nothing
    but ultra-common trigrams are not candidates, which is exactly
    why a trigram join survives Zipf at 100 TB: the hot "the "-class
    grams never fan out), then the Jaccard is EXACT integer set
    arithmetic (shared / (|A|+|B|−shared)) over the full trigram
    sets of the generated candidates; best-match is one
    WindowGroupLimit. All joins are equi joins on the gram key.
    """
    p = load_table(spark, sf_dir, "part")
    base = p.select("p_partkey", F.col("p_name").alias("nm")).filter(
        F.length("nm") >= 3
    )
    dirty = base.select(
        F.col("p_partkey").alias("dirty_id"),
        F.concat(
            F.substring("nm", 1, 2), F.expr("substring(nm, 4)")
        ).alias("nm"),
    ).filter(F.length("nm") >= 3)

    def grams(df, key):
        return (
            df.select(
                key,
                F.explode(
                    F.sequence(F.lit(1), F.length("nm") - 2)
                ).alias("i"),
                "nm",
            )
            .select(key, F.expr("substring(nm, i, 3)").alias("g"))
            .distinct()
        )

    tg_c = grams(base, "p_partkey")
    tg_d = grams(dirty, "dirty_id")
    sz_c = tg_c.groupBy("p_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    sz_d = tg_d.groupBy("dirty_id").agg(
        F.count(F.lit(1)).cast("long").alias("na")
    )
    rare = (
        tg_c.groupBy("g")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") <= _TRIGRAM_DF_CAP)
        .select("g")
    )
    cand = (
        tg_d.join(rare, "g")
        .join(tg_c, "g")
        .select("dirty_id", "p_partkey")
        .distinct()
    )
    inter = (
        cand.join(tg_d, "dirty_id")
        .join(
            tg_c.select(F.col("p_partkey").alias("pk2"), F.col("g").alias("g2")),
            (F.col("pk2") == F.col("p_partkey")) & (F.col("g2") == F.col("g")),
        )
        .groupBy("dirty_id", "p_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    )
    scored = (
        inter.join(sz_d, "dirty_id")
        .join(sz_c, "p_partkey")
        .filter(jac >= _TRIGRAM_TAU)
        .select("dirty_id", "p_partkey", "shared", "na", "nb", jac.alias("jac"))
    )
    w = W.partitionBy("dirty_id").orderBy(
        F.col("jac").desc(), F.col("shared").desc(), "p_partkey"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id",
            F.col("p_partkey").alias("matched_key"),
            "shared",
            "na",
            "nb",
            F.round("jac", 6).alias("jaccard"),
        )
        .orderBy("dirty_id")
    )


q_join_trigram.__doc__ = q_join_trigram.__doc__.format(cap=_TRIGRAM_DF_CAP)


_EXPL_TOP = 10


@query(
    "q_join_explosion_audit",
    # Per-key counts, the quadratic pair estimate and the totals are
    # all exact integers (cnt² fits BIGINT at any realistic key heat —
    # the DECIMAL widening guards the sum); shares are one division.
    oracle=f"""
WITH k AS (
  SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
),
t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt) AS BIGINT)
           AS est_pairs
  FROM k
)
SELECT k.key, k.cnt,
       CAST(k.cnt * k.cnt AS BIGINT) AS key_pairs,
       round(CAST(k.cnt AS DOUBLE) * k.cnt / t.est_pairs, 6)
         AS pair_share,
       t.est_pairs, t.n_keys,
       round(CAST(t.est_pairs AS DOUBLE) / t.n_rows, 6)
         AS amplification
FROM k CROSS JOIN t
ORDER BY k.cnt DESC, k.key LIMIT {_EXPL_TOP}
""",
)
def q_join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join explosion audit for a join key: the exact output-size
    estimate Σcnt² of `lineitem ⋈ lineitem ON l_partkey` with the
    top-10 keys by quadratic contribution and the row-amplification
    factor — the pre-flight a co-purchase / similarity self-join runs
    BEFORE executing (q_profile_skew says a key is 40× the mean;
    this says what that does to the OUTPUT: one hot key can be 30% of
    all pairs, which is the number that justifies q_copurchase's
    basket cap or q_join_salted's salting). Estimate from counts —
    never by materializing a single pair.

    Scale shape: one key-grained map-combinable count, a 3-scalar
    total (the cnt² sum widened through DECIMAL against overflow on
    pathological heat), and a TakeOrderedAndProject top-10. The audit
    costs one aggregate over the fact — the join it prices could cost
    quadratically more.
    """
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint(eager=False)  # feeds totals and top-k
    t = F.broadcast(
        k.agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt"))
            .cast("long")
            .alias("est_pairs"),
        )
    )
    return (
        k.crossJoin(t)
        .select(
            "key",
            "cnt",
            (F.col("cnt") * F.col("cnt")).cast("long").alias("key_pairs"),
            F.round(
                F.col("cnt").cast("double")
                * F.col("cnt")
                / F.col("est_pairs"),
                6,
            ).alias("pair_share"),
            "est_pairs",
            "n_keys",
            F.round(
                F.col("est_pairs").cast("double") / F.col("n_rows"), 6
            ).alias("amplification"),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(_EXPL_TOP)
    )


# ---------------------------------------------------------------------------
# Association rules over brand baskets (support / confidence / lift)
# ---------------------------------------------------------------------------

_RULES_MIN_PAIR = 2
_RULES_TOP_K = 15


@query(
    "q_orders_basket_rules",
    # All counts are exact integers (distinct (order, brand) pairs
    # self-joined on the basket key); support/confidence/lift are one
    # IEEE expression each on identical ints, ranked on the 6dp grid
    # with a full (brand_a, brand_b) tiebreak.
    oracle=f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
nb AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_b FROM ob GROUP BY 1),
nt AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM ob),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
  HAVING count(*) >= {_RULES_MIN_PAIR}
),
r AS (
  SELECT p.brand_a, p.brand_b, p.n_pair,
         round(CAST(p.n_pair AS DOUBLE) / nt.n, 6) AS support,
         round(CAST(p.n_pair AS DOUBLE) / na.n_b, 6) AS confidence,
         round(CAST(p.n_pair AS DOUBLE) * nt.n
               / (CAST(na.n_b AS DOUBLE) * nb2.n_b), 6) AS lift
  FROM pairs p
  JOIN nb na ON na.p_brand = p.brand_a
  JOIN nb nb2 ON nb2.p_brand = p.brand_b, nt
)
SELECT brand_a, brand_b, n_pair, support, confidence, lift
FROM r ORDER BY lift DESC, brand_a, brand_b
LIMIT {_RULES_TOP_K}
""",
)
def q_orders_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over brand baskets: for every brand pair that
    co-occurs in ≥{minp} orders, support P(a,b), confidence P(b|a)
    and lift P(a,b)/(P(a)P(b)), top-{k} by lift — q_copurchase scored
    into the numbers a merchandiser can act on (lift > 1 = genuine
    affinity, ≈1 = popularity coincidence, the classic beer-diapers
    readout). Brands (bounded vocab ~25) rather than raw parts, so
    the rule table is itself bounded.

    Scale shape: the basket key self-join rides q_copurchase's
    doctrine — per-order distinct brands are bounded by the order's
    line count (≤7 in TPC-H shape), so pair fan-out is linear in
    orders; the brand margin and total are broadcast (≤25 + 1 rows);
    ranking is TakeOrderedAndProject on the 6dp-rounded lift.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.select("l_orderkey", "l_partkey")
        .join(pt, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
        .localCheckpoint(eager=False)
    )
    nb = F.broadcast(
        ob.groupBy("p_brand").agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    )
    nt = F.broadcast(
        ob.agg(
            F.countDistinct("l_orderkey").cast("long").alias("n")
        )
    )
    # Within-order brand pairs via the basket_pairs device
    # (optimization r12): one exchange on the order key + map-side
    # triangular generation from the sorted distinct-brand array
    # (bounded by the ≤25-value brand vocabulary) replaces the brand
    # self-join — identical pair counts; ob stays checkpointed for the
    # nb/nt reads above.
    pairs = (
        basket_pairs(ob, "l_orderkey", "p_brand", cap=_BASKET_MAX_ITEMS)
        .select(
            F.col("u").alias("brand_a"),
            F.col("v").alias("brand_b"),
            F.col("sup").cast("long").alias("n_pair"),
        )
        .filter(F.col("n_pair") >= _RULES_MIN_PAIR)
    )
    r = (
        pairs.join(
            nb.select(
                F.col("p_brand").alias("brand_a"), F.col("n_b").alias("na")
            ),
            "brand_a",
        )
        .join(
            nb.select(
                F.col("p_brand").alias("brand_b"), F.col("n_b").alias("nbb")
            ),
            "brand_b",
        )
        .crossJoin(nt)
    )
    return (
        r.select(
            "brand_a",
            "brand_b",
            "n_pair",
            F.round(F.col("n_pair").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(F.col("n_pair").cast("double") / F.col("na"), 6).alias(
                "confidence"
            ),
            # denominator as a DOUBLE product: a long*long margin
            # product wraps past ~9.2e18 (plausible at 100 TB order
            # counts) while the oracle's BIGINT multiply would error
            F.round(
                F.col("n_pair").cast("double")
                * F.col("n")
                / (F.col("na").cast("double") * F.col("nbb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
        .limit(_RULES_TOP_K)
    )


q_orders_basket_rules.__doc__ = q_orders_basket_rules.__doc__.format(
    minp=_RULES_MIN_PAIR, k=_RULES_TOP_K
)
