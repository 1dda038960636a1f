"""Shared helpers for oracle-stable, order-independent aggregation.

Floating-point sums are order-dependent; Spark and DuckDB will sum
partitions in different orders and disagree in the low bits, which breaks
the driver's value-hash comparison. The fix used engine-wide:

- **sums**: cast each addend to an exact DECIMAL before summing (exact,
  associative, order-independent), cast the final sum to DOUBLE. Both
  engines round the same binary double to the same decimal (no binary
  double ever sits exactly on a half-ulp decimal tie at scale 4) and the
  final decimal→double conversion is IEEE round-nearest in both.
- **averages**: exact decimal sum → double, divided by the exact count —
  a single deterministic IEEE division.

This also matters at scale: decimal partial aggregates are
order-independent, so results don't wobble between runs/plans (AQE may
change the merge order at 100 TB).
"""

from __future__ import annotations

import functools
import os
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

# Engine-wide exact accumulator type. Scale 6 ≥ the true decimal places of
# any fixture expression (2dp money × 2dp discount × 2dp tax = 6dp), so the
# double→decimal cast never lands on a rounding tie — Spark (HALF_UP) and
# DuckDB (half-even) agree on every row.
DEC = "decimal(28,6)"


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM(double) → DOUBLE via exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG(double) → DOUBLE (decimal sum / count)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


# Row-count ceiling above which the exact-window family (q_rfm's ntile,
# q_text_zipf's vocab rank, the pareto/abc cumulative sorts) swaps its
# single-partition window for the distributed dist_cumsum form. The
# DEFAULT is the gate — a 100 TB user hitting q_rfm must not fall off a
# single-partition sort cliff by calling the default op. Both paths are
# EXACT (dist_cumsum ranks are bit-identical to the window ranks), so a
# conservatively low cap costs only plan shape, never correctness.
_EXACT_WINDOW_MAX_ENV = "SPARK_GRAFT_EXACT_WINDOW_MAX"
_EXACT_WINDOW_MAX_DEFAULT = 5_000_000


def exact_window_ok(df: DataFrame) -> bool:
    """Scale gate for single-partition exact windows: True when ``df``
    (the RAW base table, pre-aggregation) is small enough that sorting
    the derived entity frame on one partition is safe.

    The count is taken on the base parquet scan, where Spark answers
    ``count(*)`` as a metadata-cheap count job (row-group counts, no
    column data decoded — still an eager job fired at construction
    time, but O(#row groups), not O(bytes)). Since |entities| ≤ |base
    rows|, gating on the base count can only over-trigger — and
    over-triggering is harmless because the scale path computes the
    SAME exact result with a distributed plan.
    ``SPARK_GRAFT_EXACT_WINDOW_MAX=0`` forces the scale path (tests /
    ops teams that never want the cliff). A malformed / empty env
    value falls back to the default rather than raising (ADVICE r8).
    """
    try:
        cap = int(
            os.environ.get(_EXACT_WINDOW_MAX_ENV, _EXACT_WINDOW_MAX_DEFAULT)
        )
    except (TypeError, ValueError):
        cap = _EXACT_WINDOW_MAX_DEFAULT
    if cap <= 0:
        return False
    return df.count() <= cap


def bounded_part(col: Column) -> Column:
    """Fold-proof constant partition key for a window over a BOUNDED
    frame (|days|-, dimension-, bucket-count-sized — never data-sized).

    Windows over bounded spines legitimately run on one partition, but
    an EMPTY partition spec both trips Spark's ``WindowExec: No
    Partition Defined`` warning and is indistinguishable in the plan
    from a genuine data-sized single-partition sort — so the house
    rule is: every window carries a partition key, and bounded frames
    carry a *constant* one. The naive constant ``col * 0`` is
    constant-folded to a literal when ``col`` is non-nullable (e.g. a
    ``count(*)``), silently emptying the spec (r8 verdict,
    q_ts_runs_test). This form —

        CASE WHEN col >= 0 THEN 0 WHEN col < 0 THEN 0
             WHEN col IS NULL THEN 0 END

    — evaluates to 0 for EVERY input (non-negative, negative, NULL) so
    all rows share one partition, yet no Catalyst rule can fold it:
    the optimizer tracks no value ranges, and the complementary
    comparisons sit in separate CASE branches where
    BooleanSimplification's ``a>=b OR a<b → true`` rewrite cannot see
    them (verified against the resident Spark build; the plan audit's
    registry-wide window scan is the standing regression gate).
    """
    return (
        F.when(col >= 0, F.lit(0))
        .when(col < 0, F.lit(0))
        .when(col.isNull(), F.lit(0))
    )


def per_gateway(build: Callable[[], Sequence[Column]]) -> Callable[[], tuple]:
    """Cache ``build()``'s Column list as a tuple, once per live JVM gateway.

    A Column is an immutable expression tree, so one set can serve every
    plan; rebuilding it costs a py4j round trip per node (hundreds for
    the curation gate's lists), a fixed planning cost paid on every
    call. The cache is keyed on the gateway object, so a new JVM gets a
    fresh build; the tuple keeps callers from mutating the shared list.
    """
    from pyspark import SparkContext

    cache: list = [(None, ())]

    @functools.wraps(build)
    def get() -> tuple:
        gateway = SparkContext._gateway
        key, cols = cache[0]
        if gateway is None or key is not gateway:
            cols = tuple(build())
            cache[0] = (gateway, cols)
        return cols

    return get


def bounded_part_sql(expr: str) -> str:
    """SQL-text twin of :func:`bounded_part` for Spark-side
    ``spark.sql(...)`` operators: ``PARTITION BY 1`` (a foldable
    literal) executes exactly like no partition at all — this CASE is
    the fold-proof constant in SQL form."""
    return (
        f"CASE WHEN {expr} >= 0 THEN 0 WHEN {expr} < 0 THEN 0 "
        f"WHEN {expr} IS NULL THEN 0 END"
    )


def spark_ntile(rank: Column, n: Column, buckets: int) -> Column:
    """``ntile(buckets)`` as a closed-form expression of the row number
    ``rank`` (1-based, total order) and the partition size ``n`` — the
    SQL-standard split (first ``n % buckets`` tiles get the extra row),
    which is what both Spark's and DuckDB's ``ntile`` implement. Lets
    the dist_cumsum rank spine reproduce exact ntile without any
    single-partition window.
    """
    base = F.floor(n / buckets)
    rem = n % buckets
    big = rem * (base + 1)
    return F.when(
        rank <= big, F.ceil(rank / (base + 1))
    ).otherwise(rem + F.ceil((rank - big) / base)).cast("int")


def dist_cumsum(
    df: DataFrame,
    order_col: str,
    sum_cols: Sequence[str],
    nparts: int = 32,
    *,
    part_cols: Sequence[str] = (),
    tiebreak: Sequence[str] = (),
    descending: bool = False,
    checkpoint: bool = True,
) -> DataFrame:
    """EXACT cumulative sums over a total ordering, fully distributed —
    the scale-safe replacement for ``W.orderBy(col)`` running sums
    (which move the whole frame to ONE partition; BENCH's
    ``WindowExec: No Partition Defined`` warning is that plan talking).

    Device: equi-depth range bucketing with EXPLICIT boundaries —
    ``percentile_approx`` boundaries are collected ONCE to the driver
    (≤ ``nparts − 1`` scalars, the sanctioned O(1) collect class) and
    embedded as literals, so the bucket id is a pure deterministic
    expression of the VALUE. (First cut used
    ``repartitionByRange`` + ``spark_partition_id()``; that frame is
    evaluated twice — per-bucket totals vs. the main path — and
    RangePartitioner re-SAMPLES boundaries per evaluation, so the two
    evaluations can disagree and the offsets silently mismatch the
    running sums. Literal boundaries are exactly how a production
    range shuffle ships its map — computed once, immutable.) Then:

    1. per-bucket totals (``nparts`` rows) →
    2. exclusive prefix over the bucket totals via a TRIANGULAR
       broadcast self-join (``b._pid < a._pid``, ≤ nparts² pairs —
       bounded by ``nparts``, never by data size; deliberately a join,
       not an unpartitioned window, so no plan ever moves data-sized
       frames to one partition and the bench tail stays free of
       ``WindowExec`` warnings) →
    3. broadcast the offsets back and add them to per-bucket running
       sums (``partitionBy(_pid)`` windows: each frame is ~1/nparts
       of the data, sorted locally). The bucket expression casts to
       DOUBLE only for the boundary comparison — a monotone map, so
       bucket order respects the exact ``order_col`` order even where
       the cast collapses near-equal values; balance is approximate,
       order is exact.

    Ties: with no ``tiebreak``, callers pass a frame already grouped to
    DISTINCT ``order_col`` values (numeric — boundaries come from
    ``percentile_approx``), so the within-bucket ordering is total and
    the cumulative value at each row is the tie-group-end value —
    identical to a ``RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT
    ROW`` frame on the raw rows. With ``tiebreak`` columns the ordering
    ``(order_col [DESC], *tiebreak)`` is total on RAW rows, giving the
    exact ``ROWS UNBOUNDED PRECEDING`` running sum — equal ``order_col``
    values always share a bucket (the bucket is a function of the
    value), so a tie run never straddles an offset boundary; the cost is
    that equi-depth bucketing cannot SPLIT a tie run (a value held by
    30% of rows puts 30% in one bucket — bounded skew, never the 100%
    single partition of the window form). NULL values of ``order_col``
    compare UNKNOWN against every boundary and land in bucket 0 — the
    nulls-first convention of the window form it replaces.

    ``part_cols`` (bounded-cardinality group columns, e.g. the 5 order
    priorities) scope everything per group: totals per (group, bucket),
    triangular offsets joined on group equality, running-sum windows on
    (group, bucket). Boundaries stay GLOBAL — per-group balance is
    approximate, per-group order exact. ``descending=True`` buckets and
    orders by ``order_col DESC`` (tiebreaks stay ASC).

    Output: input columns plus ``cum_<c>`` for each ``c`` in
    ``sum_cols``. Cost: one tiny boundary aggregate + one hash
    shuffle on ``(part_cols, _pid)``; no data-sized single partition
    anywhere.
    """
    part_cols = list(part_cols)
    tiebreak = list(tiebreak)
    # The input frame feeds (1) the boundary collect, (2) the
    # per-bucket totals and (3) the main running-sum path — three
    # evaluations of what is often an expensive upstream reduce
    # (measured r11: q_agg_winsorized_corr's stacked distinct-value
    # frame cost ~1.2 s per re-evaluation). Truncate lineage ONCE; the
    # frame at this point is always the already-reduced spine/distinct
    # form, so the materialization is small by construction (the
    # SCALING.md re-referenced-frame doctrine).
    #
    # TRADEOFF (r11 ADVICE): localCheckpoint blocks are NOT
    # recomputable from lineage — on a real cluster, losing the
    # executor that holds a block fails the job instead of recomputing
    # the partition. That is the right trade for the small reduced
    # frames every current caller passes (re-deriving an expensive
    # reduce 3× costs more than the re-run risk), but it is a
    # convention, not a guarantee: a caller feeding a DATA-SIZED frame
    # would silently pin it in executor storage AND inherit the
    # fault-intolerance. Such a caller must pass ``checkpoint=False``
    # (recompute-per-evaluation, lineage preserved) or persist to a
    # fault-tolerant store itself. `checkpoint` is the opt-out.
    if checkpoint:
        df = df.localCheckpoint(eager=False)
    proxy = F.col(order_col).cast("double")
    if descending:
        proxy = -proxy
    qs = [i / nparts for i in range(1, nparts)]
    # Boundaries ride IN-PLAN as a broadcast 1-row array (r12 perf
    # pass): the old form collected them to the driver and baked
    # literals into the bucket expression — a blocking driver job per
    # dist_cumsum call at DataFrame-BUILD time (hundreds of ms each;
    # winsorized_corr-class queries paid it 2-4×). The array form is
    # the same deterministic value→bucket map: sorted distinct non-null
    # sketch boundaries, bucket = count of boundaries strictly below
    # the value. Degenerate boundary sets (all values equal / empty
    # input → empty or NULL array) ride the same fold-proof-constant
    # branch as before: `aggregate` over a non-literal array cannot be
    # constant-folded, so the `_pid` window partition spec survives
    # (the r9 WindowExec catch). The 1-row broadcast cross join is the
    # sanctioned scalar-BNLJ shape.
    bnds = df.agg(
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.coalesce(
                        F.percentile_approx(
                            proxy,
                            F.array(*[F.lit(q) for q in qs]),
                            F.lit(10_000),
                        ),
                        F.array(),
                    ),
                    lambda b: b.isNotNull(),
                )
            )
        ).alias("_bnds")
    )
    bucket = F.when(
        F.size("_bnds") > 0,
        F.aggregate(
            "_bnds",
            F.lit(0),
            lambda acc, b: acc + F.when(proxy > b, 1).otherwise(0),
        ),
    ).otherwise(bounded_part(proxy))
    d = (
        df.crossJoin(F.broadcast(bnds))
        .withColumn("_pid", bucket)
        .drop("_bnds")
    )
    per = d.groupBy(*part_cols, "_pid").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    )
    # Group equality is NULL-SAFE: a NULL partition-key value is a real
    # group (groupBy already banks it as one); plain `=` would never
    # match it in either join below and its rows would silently vanish
    # from the output (ADVICE r8 — silent row loss in the central
    # shared device is worse than a crash).
    join_cond = F.col("b._pid") < F.col("a._pid")
    for g in part_cols:
        join_cond = join_cond & F.col(f"b.{g}").eqNullSafe(F.col(f"a.{g}"))
    offs = (
        per.alias("a")
        .join(F.broadcast(per.alias("b")), join_cond, "left")
        .groupBy(
            *[F.col(f"a.{g}").alias(g) for g in part_cols],
            F.col("a._pid").alias("_pid"),
        )
        .agg(
            *[
                F.coalesce(F.sum(f"b._t_{c}"), F.lit(0)).alias(f"_o_{c}")
                for c in sum_cols
            ]
        )
    )
    if part_cols:
        back = F.col("d._pid") == F.col("o._pid")
        for g in part_cols:
            back = back & F.col(f"d.{g}").eqNullSafe(F.col(f"o.{g}"))
        d = (
            d.alias("d")
            .join(F.broadcast(offs.alias("o")), back)
            .select("d.*", *[F.col(f"o._o_{c}") for c in sum_cols])
        )
    else:
        d = d.join(F.broadcast(offs), ["_pid"])
    order_exprs = [
        F.col(order_col).desc() if descending else F.col(order_col)
    ] + tiebreak
    wv = (
        W.partitionBy(*part_cols, "_pid")
        .orderBy(*order_exprs)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = d.select(
        *df.columns,
        *[
            (F.sum(c).over(wv) + F.col(f"_o_{c}")).alias(f"cum_{c}")
            for c in sum_cols
        ],
    )
    return out


def exact_pct_values(
    df: DataFrame,
    targets: Sequence[tuple[str, Column, int]],
    *,
    acc: int = 2_000,
    extra: Sequence[Column] = (),
    rank_exprs: dict[str, str] | None = None,
) -> DataFrame:
    """EXACT percentile VALUE selection without the distinct-value
    spine: the approx-bracket + exact local-refine device, extracted
    from q_agg_winsorized_corr (r12) for every caller that needs a few
    selected data values at integer ranks ceil(p%·n) out of a fact
    table.

    Semantics (identical to the dist_cumsum spine form it replaces):
    each published value is the SMALLEST data value whose cumulative
    distinct-value count clears rank ``ceil(p·n/100)`` — a selected
    data value in its ORIGINAL dtype, bit-identical to
    ``min(CASE WHEN cum >= (n*p+99)//100 THEN v END)`` on the full
    spine, so oracles keep the spine construction unchanged.

    Device (TWO passes over ``df`` — r12 continuation fused the
    below-count pass into the candidate pass — no data-sized shuffle,
    no data-sized localCheckpoint, no driver collect):

    1. ``percentile_approx`` (GK sketch, rank error ≤ n/acc
       deterministic) brackets each target rank from both sides with
       ±5/acc margins — the bracket is guaranteed to contain the
       crossing value; targets sharing a value column share ONE sketch
       queried at all their fractions (the sketch build is the pass's
       per-row cost; k builds of the same column were identical);
    2. one pass emits, per tag: the row's value when inside the
       bracket, or a per-tag NULL sentinel when strictly below the
       bracket floor (rows above emit nothing). The partial (map-side)
       aggregate collapses every sentinel to one (tag, NULL) key, so
       the explode's extra entries never reach the shuffle. With
       NULLS-FIRST ordering, the tag-partitioned prefix window reads
       the below-count off the sentinel row — the crossing is the min
       non-NULL candidate whose prefix clears the rank, and the old
       separate below-count scan is gone. The window stays PARTITIONED
       by tag (bounded per-tag frames — never the unpartitioned
       data-sized shape); the sentinel row itself can never be
       selected (its prefix is the below-count, which is < rank by the
       bracket guarantee) and is filtered explicitly anyway.

    Args: ``targets`` is ``(tag, value_column, percent)`` per wanted
    value; all value columns must share one Spark dtype (they ride one
    exploded struct array). ``extra`` aggregates are appended to the
    first pass (e.g. ``F.min(col)``/``F.max(col)`` riders) so callers
    don't pay a fourth pass.

    ``rank_exprs`` (r13, the q_agg_moods_median ask): an optional
    ``{tag: sql_expr_of_n}`` map replacing that tag's integer rank
    ``ceil(p·n/100)`` with an arbitrary in-plan expression of the total
    count ``n`` (e.g. ``"n DIV 2 + 1"``, the parity-exact grand-median
    rank). The tag's ``percent`` is still used for BRACKETING, so the
    caller contract is ``p·n/100 − 1 ≤ rank(n) ≤ p·n/100 + 1`` for all
    n ≥ 1 (a ±1-rank parity offset, not an arbitrary rank). Safety at
    small n: the GK margin only covers a +1-rank offset when
    ``4·n/acc ≥ 1``, so for ``n < acc/4`` the rank-mode bracket CEILING
    widens to the sketch's exact maximum (fraction 1.0) — the candidate
    set is then ≤ n < acc/4 rows, still bounded. The floor needs no
    widening: rows strictly below it number < p·n/100 − 1 ≤ rank for
    every n (the GK floor guarantee absorbs the −1 offset). Returns a ONE-ROW frame with ``n`` (long),
    one column per tag holding the selected value, and the extras —
    broadcast it onto whatever needs the bounds. NULLs in value
    columns are not supported (same contract as the spine form);
    callers filter first. Degenerate inputs (empty / single-row /
    all-equal) follow winsorized_corr's proven path: empty brackets
    yield NULL bounds, never a crash.
    """
    targets = list(targets)
    # Entry contract (ADVICE r12): tag/extra handling downstream is
    # prefix-based, so collisions would silently drop or duplicate
    # columns instead of erroring. Enforce uniqueness and the reserved
    # names ('n', '_b_*', '_bg_*', '_v_*') here, loudly.
    tags = [tag for tag, _, _ in targets]
    if len(set(tags)) != len(tags):
        raise ValueError(f"exact_pct_values: duplicate tags {tags}")
    reserved = ("_b_", "_bg_", "_v_")
    for tag in tags:
        if tag == "n" or any(tag.startswith(r) for r in reserved):
            raise ValueError(
                f"exact_pct_values: tag {tag!r} uses a reserved name"
            )
    mgn = 5.0 / acc
    j_cols = {tag: f"_v_{tag}" for tag, _, _ in targets}
    # Original columns stay visible so ``extra`` aggregates can
    # reference them; Catalyst prunes unused ones per subtree, so the
    # candidate pass still scans only the target columns.
    wide = df.select(
        "*", *[col.alias(j_cols[tag]) for tag, col, _ in targets]
    )
    sel = wide.select(*j_cols.values())
    # ONE GK sketch per distinct value column (r12 continuation):
    # targets sharing a column ride a single percentile_approx call
    # carrying ALL their bracket fractions in one array — k queries of
    # one sketch instead of k sketch builds, and the per-row sketch
    # update is the dominant cost of this pass. The k independently
    # built sketches were bit-identical objects (same rows, same
    # deterministic GK updates), so the brackets — and a fortiori the
    # exact selected values, which only need the bracket to CONTAIN
    # the crossing — are unchanged.
    #
    # Sharing contract (ADVICE r12): the group key is str(Column) and
    # the group's sketch aggregates the FIRST tag's aliased column —
    # targets may share a sketch ONLY when they pass the identical
    # DETERMINISTIC expression (same Column graph ⇒ same stringified
    # form ⇒ same values row-for-row). A non-deterministic expression
    # would make even "the same" column diverge between the sketch and
    # candidate passes — that is already outside the device's contract
    # (the bracket must describe the very values the candidate pass
    # sees), not a new restriction introduced by the grouping.
    rank_exprs = dict(rank_exprs or {})
    unknown = set(rank_exprs) - set(tags)
    if unknown:
        raise ValueError(
            f"exact_pct_values: rank_exprs for unknown tags {sorted(unknown)}"
        )
    grp: dict[str, list[str]] = {}
    for tag, col, _ in targets:
        grp.setdefault(str(col), []).append(tag)
    p_of = {tag: p for tag, _, p in targets}
    sk_aggs, rebuild = [], []
    for gi, gtags in enumerate(grp.values()):
        fr: list[float] = []
        for t in gtags:
            fr += [
                max(p_of[t] / 100.0 - mgn, 0.0),
                min(p_of[t] / 100.0 + mgn, 1.0),
            ]
        # Rank-mode tags may need the exact max as a widened ceiling at
        # small n (see rank_exprs in the docstring); query it off the
        # same sketch, appended so the 2i/2i+1 index math is untouched.
        max_idx = None
        if any(t in rank_exprs for t in gtags):
            max_idx = len(fr)
            fr.append(1.0)
        sk_aggs.append(
            F.percentile_approx(
                F.col(j_cols[gtags[0]]).cast("double"),
                F.array(*[F.lit(x) for x in fr]),
                F.lit(acc),
            ).alias(f"_bg_{gi}")
        )
        for i, t in enumerate(gtags):
            ceil_col = F.col(f"_bg_{gi}")[2 * i + 1]
            if t in rank_exprs:
                ceil_col = F.when(
                    F.col("n") < F.lit(acc // 4),
                    F.col(f"_bg_{gi}")[max_idx],
                ).otherwise(ceil_col)
            rebuild.append(
                F.array(
                    F.col(f"_bg_{gi}")[2 * i],
                    ceil_col,
                ).alias(f"_b_{t}")
            )
    br_raw = wide.agg(
        F.count(F.lit(1)).cast("long").alias("n"), *sk_aggs, *extra
    )
    # NOTE (measured, r12): this 1-row frame is referenced three times
    # with different prunings (full brackets / n only / n+extras), so
    # the fact table is scanned by pruned twins Catalyst cannot dedupe.
    # A lazy localCheckpoint here to share one evaluation measured
    # SLOWER in an interleaved sf0.1 A/B (2.16 → 2.40 s device median):
    # the pruned twins skip the sketch build and run in parallel, while
    # the checkpoint serializes the whole device behind one barrier.
    # Shape check (ADVICE r12): an ``extra`` aggregate aliased 'n' or
    # '_bg_*'/'_b_*' (or colliding with a tag) would be silently
    # misclassified by the prefix-based column splits below — error
    # instead.
    expected = 1 + len(sk_aggs) + len(list(extra))
    bad = [
        c
        for c in br_raw.columns[1 + len(sk_aggs):]
        if c == "n" or c.startswith(("_bg_", "_b_")) or c in j_cols
    ]
    if len(br_raw.columns) != expected or bad:
        raise ValueError(
            "exact_pct_values: extra aggregates must carry unique "
            f"aliases outside the reserved names; offenders: {bad}, "
            f"columns: {br_raw.columns}"
        )
    extra_cols = [
        c for c in br_raw.columns if c != "n" and not c.startswith("_bg_")
    ]
    br = F.broadcast(br_raw.select("n", *rebuild, *extra_cols))
    j = sel.crossJoin(br)

    def _below_floor(tag: str) -> Column:
        return F.col(j_cols[tag]).cast("double") < F.col(f"_b_{tag}")[0]

    def _in_bracket(tag: str) -> Column:
        return (
            F.col(j_cols[tag]).cast("double") >= F.col(f"_b_{tag}")[0]
        ) & (F.col(j_cols[tag]).cast("double") <= F.col(f"_b_{tag}")[1])

    cand_arr = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(tag).alias("tag"),
                    # NULL = the per-tag below-floor sentinel bucket
                    F.when(_in_bracket(tag), F.col(j_cols[tag])).alias(
                        "v"
                    ),
                    (_in_bracket(tag) | _below_floor(tag)).alias("keep"),
                )
                for tag, _, _ in targets
            ]
        ),
        lambda s: s["keep"],
    )
    cands = (
        j.select(F.explode(cand_arr).alias("s"))
        .select("s.tag", "s.v")
        .groupBy("tag", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)  # bounded bracket window
    )
    loc = cands.select(
        "tag",
        "v",
        F.sum("cnt")
        .over(
            W.partitionBy("tag")
            .orderBy(F.col("v").asc_nulls_first())
            .rowsBetween(W.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("loc"),
    ).crossJoin(F.broadcast(br.select("n")))
    cross = F.when(F.lit(False), F.lit(None))
    for tag, _, p in targets:
        rank_sql = rank_exprs.get(tag, f"(n * {p} + 99) DIV 100")
        cross = cross.when(
            F.col("tag") == tag,
            F.col("loc") >= F.expr(f"CAST(({rank_sql}) AS BIGINT)"),
        )
    bounds = (
        loc.filter(F.col("v").isNotNull() & cross)
        .groupBy("tag")
        .agg(F.min("v").alias("v"))
    )
    thr = bounds.groupBy().agg(
        *[
            F.max(F.when(F.col("tag") == tag, F.col("v"))).alias(tag)
            for tag, _, _ in targets
        ]
    )
    keep_extra = [c for c in br.columns if not c.startswith("_b_") and c != "n"]
    return (
        br.select("n", *keep_extra)
        .crossJoin(F.broadcast(thr))
    )
