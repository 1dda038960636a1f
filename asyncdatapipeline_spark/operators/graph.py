"""Graph operators (north star: iterative relational algorithms).

The engine's graph doctrine: a graph is an edge DataFrame; an iterative
algorithm is a bounded loop of join + aggregate rounds (the same shape
as llm/dedup.py's connected components). The determinism problem every
distributed PageRank has — float contributions sum in partition order,
so two runs disagree in the last ulps — is solved here by FIXED-POINT
arithmetic: ranks are BIGINT micro-units (10^12 total mass), shares are
integer divisions, and both engines floor identically, so the DuckDB
oracle matches bit-for-bit with no tolerance band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.operators.joins import (
    _BASKET_MAX_ITEMS,
    basket_pairs,
)
from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

_PR_SCALE = 10**12   # total rank mass, in micro-units
_PR_ITERS = 3        # fixed, bounded iteration count
_PR_TOP_K = 20

# Unrolled-iteration DuckDB twin. Node ids: customer c → 2c,
# supplier s → 2s+1 (disjoint id spaces on one BIGINT axis).
_PR_ITER_SQL = """
i{it} AS (
  SELECT e.v AS node, sum(r{prev}.r // deg.d) AS inc
  FROM edges e
  JOIN r{prev} ON r{prev}.node = e.u
  JOIN deg ON deg.u = e.u
  GROUP BY e.v
),
r{it} AS (
  SELECT node,
         (15 * (SELECT b FROM base)) // 100 + (85 * inc) // 100 AS r
  FROM i{it}
)"""


def _pagerank_oracle() -> str:
    iters = ",".join(
        _PR_ITER_SQL.format(it=i, prev=i - 1)
        for i in range(1, _PR_ITERS + 1)
    )
    return f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
nodes AS (SELECT DISTINCT u AS node FROM edges),
n AS (SELECT count(*) AS n_nodes FROM nodes),
base AS (SELECT {_PR_SCALE} // n_nodes AS b FROM n),
r0 AS (SELECT node, (SELECT b FROM base) AS r FROM nodes),
{iters}
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node // 2 AS entity_key,
       CAST(r AS BIGINT) AS rank_fp
FROM r{_PR_ITERS}
ORDER BY rank_fp DESC, node
LIMIT {_PR_TOP_K}
"""


# Scan repair off (r13, measured): the r12 "repair ON is
# neutral-to-better here" A/B predates the pairs checkpoint below —
# with the loop reading the checkpoint, the scans feed the join's
# keyed exchange exactly once and the repair's round-robin is a
# pure extra barrier (the standard opt-out class). Interleaved
# same-session A/B at sf0.1: ON 4.19 s vs OFF 3.67 s medians.
@query("q_graph_pagerank", oracle=_pagerank_oracle(), scan_repair=False)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the customer↔supplier trade graph
    (north star: iterative graph analytics): {iters} power-iteration
    rounds, damping 0.85, top-{k} nodes — "which entities sit at the
    center of the order flow", the influence primitive.

    Scale + determinism shape:

    - the graph is the distinct (customer, supplier) pairs of
      lineitem⋈orders, undirected (both edge directions), so every
      node has out-degree ≥ 1 — no dangling-mass correction term;
    - each round is ONE join (ranks onto out-edges, pre-joined with
      out-degrees) + ONE aggregation (incoming shares per target) —
      the canonical bounded-iteration relational loop, shuffling on
      node ids only; iteration count is fixed, not convergence-driven;
    - ranks are BIGINT micro-units ({scale} total mass) and every
      division is an integer floor — float summation order can't
      perturb anything, which is what lets the DuckDB oracle (the same
      {iters} rounds unrolled as CTEs) hash-match exactly. The ~1
      micro-unit/op floor leak is identical in both engines and
      irrelevant to ranking.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # Materialized ONCE (lazy localCheckpoint, inside this query's own
    # action — nothing persists across runs): the unrolled 3-round plan
    # embeds this join+distinct subtree ~8x (edges, deg, nodes, base,
    # and each round's rank lineage all reach back to it), and AQE's
    # stage reuse does NOT dedupe them all — the r12 fresh-session A/B
    # measured base warm ~5.4 s / ~2230 tasks per run vs ~4.2 s /
    # ~1870 with the checkpoint, identical results. (The r10 note that
    # ReusedExchange makes a checkpoint here a wash measured ewd, one
    # level up; checkpointing the *distinct pair set* is what removes
    # the repeated lineitem⋈orders+distinct recompute.) At 100 TB the
    # pinned frame is the distinct trade-pair set — dim×dim-bounded,
    # far below the fact table — the same executor-memory tradeoff as
    # connected_components' edge checkpoint.
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # Node set read off deg (r13): deg's group keys ARE the distinct
    # edge sources, so the separate distinct aggregate stage is
    # redundant — one less AQE stage on the serial critical path
    # (fingerprint-identical output; interleaved A/B 4.44 vs 4.63 s).
    nodes = deg.select(F.col("u").alias("node"))
    base = nodes.agg(
        F.expr(f"{_PR_SCALE} div count(1)").alias("b")
    )
    # ewd itself stays unmaterialized: with pairs checkpointed the
    # edges→deg recompute above it is cheap, and the r12 A/B measured
    # checkpointing ewd as neutral-to-worse (extra data-sized blocks).
    # The r12 continuation re-tested this with the full key layout —
    # repartition("u") [+ sortWithinPartitions] + lazy localCheckpoint
    # so every round's join could reuse the edge-side partitioning and
    # only exchange the node-sized rank frame — and the interleaved
    # sf0.1 A/B/C still said NO: old 3.71 s median vs 5.12 (checkpoint)
    # / 4.94 (repartition only). With AQE the per-round join already
    # broadcasts the node-sized rank frame and exchange reuse dedupes
    # the ewd subtree, so the co-partition layout only adds its own
    # serial materialization barrier.
    ewd = edges.join(deg, "u")

    r = nodes.crossJoin(F.broadcast(base)).select(
        "node", F.col("b").alias("r")
    )
    for _ in range(_PR_ITERS):
        inc = (
            ewd.join(r, ewd["u"] == r["node"])
            .select(F.col("v"), F.expr("r div d").alias("share"))
            .groupBy("v")
            .agg(F.sum("share").alias("inc"))
        )
        r = inc.crossJoin(F.broadcast(base)).select(
            F.col("v").alias("node"),
            F.expr("(15 * b) div 100 + (85 * inc) div 100").alias("r"),
        )
    return (
        r.select(
            "node",
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("kind"),
            F.expr("node div 2").alias("entity_key"),
            F.col("r").alias("rank_fp"),
        )
        .orderBy(F.col("rank_fp").desc(), "node")
        .limit(_PR_TOP_K)
    )


q_graph_pagerank.__doc__ = q_graph_pagerank.__doc__.format(
    iters=_PR_ITERS, k=_PR_TOP_K, scale=_PR_SCALE
)


@query(
    "q_graph_triangles",
    # All-integer; edges are canonical (u < v) and SUPPORT-FILTERED
    # (co-purchased in >= 2 distinct orders) before any join.
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
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM ok a JOIN ok b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
pernode AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT node, n_triangles FROM pernode
ORDER BY n_triangles DESC, node
LIMIT 20
""",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the SUPPORT-FILTERED co-purchase graph: the
    top-20 parts by triangle membership among part pairs co-purchased
    in >= 2 distinct orders — the clustering/clique primitive (pagerank
    finds hubs, triangles find BUNDLES: three parts that pairwise
    repeat together).

    The support threshold is the operator's scale law, not a
    convenience: single co-occurrence in a large basket corpus is
    noise (measured: 1.19M support-1 edges vs 3.6k support->=2 edges at
    sf0.1 — and the support-filtered count stays ~FLAT as the corpus
    grows, because noise edges grow with data while repeated-pair
    signal doesn't). Enumerating triangles on the unfiltered graph is
    the dense-blob trap: avg degree 120 -> 49M two-hop wedges -> 14s
    at sf0.1; on the support graph the same plan is milliseconds. The
    canonical ordering (u < v edges, a < b < c paths) produces each
    triangle exactly once — no x6 duplication; both joins are equi
    joins on vertex keys; the basket-size cap bounds degree before
    support even applies. All-integer, exact oracle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Capped-basket pair mine (optimization r12): one exchange on the
    # order key + map-side triangular pair generation replaces the
    # r11 distinct -> count -> semi-join -> self-join preamble --
    # identical support pairs, two fewer data-sized exchanges (see
    # joins.basket_pairs for the measured A/B and the scale contract).
    pair_sup = basket_pairs(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    e = (
        pair_sup.filter(F.col("sup") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)  # feeds all three join legs
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    pernode = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return pernode.orderBy(F.col("n_triangles").desc(), "node").limit(20)


@query(
    "q_graph_components",
    # Spark iterates min-label propagation; the oracle computes the
    # same fixpoint declaratively (recursive-CTE reachability, min
    # label per node) over the IDENTICAL support-filtered edge set.
    # AS MATERIALIZED: DuckDB re-evaluates multiply-referenced CTEs
    # per reference without it (see q_dedup_clusters).
    oracle=f"""
WITH RECURSIVE
op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sz AS (
  SELECT l_orderkey FROM op GROUP BY l_orderkey
  HAVING count(*) BETWEEN 2 AND {_BASKET_MAX_ITEMS}
),
ok AS (SELECT op.l_orderkey, op.l_partkey FROM op JOIN sz USING (l_orderkey)),
p AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM ok a JOIN ok b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM p UNION SELECT v, u FROM p
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS (SELECT node, min(lbl) AS cid FROM reach GROUP BY node)
SELECT cid AS component_id,
       CAST(count(*) AS BIGINT) AS n_nodes,
       min(node) AS min_part, max(node) AS max_part
FROM comp GROUP BY cid
ORDER BY n_nodes DESC, component_id
""",
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the support-filtered co-purchase graph:
    which parts form closed purchasing ecosystems (pagerank ranks hubs,
    triangles find bundles, components find the MARKET SEGMENTS — the
    partition a recommender or assortment planner operates within).
    One row per component: id (min member), size, member key range.

    Reuses llm/dedup.py's ``connected_components`` — min-label
    propagation with one shuffle per round, ``localCheckpoint`` lineage
    truncation, convergence flag computed in the update select, rounds
    bounded by graph diameter (support-filtered co-purchase components
    are dense and shallow, same as near-dup cliques). The support
    threshold (pairs co-purchased in >= 2 distinct orders, basket-size
    cap first) is what keeps the graph sparse enough that components
    MEAN anything at 100 TB — the unfiltered graph is one giant noise
    blob (measured in q_graph_triangles: 1.19M support-1 edges vs 3.6k
    support->=2 at sf0.1).
    """
    from asyncdatapipeline_spark.llm.dedup import connected_components

    li = load_table(spark, sf_dir, "lineitem")
    # Capped-basket pair mine (optimization r12): one exchange on the
    # order key + map-side triangular pair generation replaces the
    # r11 distinct -> count -> semi-join -> self-join preamble --
    # identical support pairs, two fewer data-sized exchanges (see
    # joins.basket_pairs for the measured A/B and the scale contract).
    pair_sup = basket_pairs(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    e = (
        pair_sup.filter(F.col("sup") >= 2)
        .select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    cc = connected_components(e)
    return (
        cc.groupBy(F.col("cluster_id").alias("component_id"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("doc_id").alias("min_part"),
            F.max("doc_id").alias("max_part"),
        )
        .orderBy(F.col("n_nodes").desc(), "component_id")
    )


_BFS_MAX_HOPS = 6
_BFS_SEED_RANK = 1  # seed = smallest part key in the support graph


@query(
    "q_graph_bfs",
    # Spark runs frontier expansion; the oracle computes the same
    # fixpoint declaratively — recursive CTE carrying (node, dist),
    # min() per node (a node reached at hop 2 and hop 3 keeps 2),
    # capped at the same hop budget.
    oracle=f"""
WITH RECURSIVE
op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sz AS (
  SELECT l_orderkey FROM op GROUP BY l_orderkey
  HAVING count(*) BETWEEN 2 AND {_BASKET_MAX_ITEMS}
),
ok AS (SELECT op.l_orderkey, op.l_partkey FROM op JOIN sz USING (l_orderkey)),
pr AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM ok a JOIN ok b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pr UNION SELECT v, u FROM pr
),
seed AS (SELECT min(src) AS s FROM edges),
reach AS (
  SELECT s AS node, 0 AS dist FROM seed
  UNION
  SELECT e.dst, r.dist + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.dist < {_BFS_MAX_HOPS}
)
SELECT node, CAST(min(dist) AS INTEGER) AS hops
FROM reach GROUP BY node ORDER BY hops, node
""",
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances from a seed part (the smallest key in the
    support-filtered co-purchase graph) out to {hops} hops — the
    "how far is everything from X" primitive behind related-product
    radius queries and blast-radius analysis (components say WHETHER
    two parts connect; this says HOW CLOSE).

    The iterative frontier shape on Spark: each round joins the
    CURRENT frontier (nodes first reached last round — not the full
    visited set) against the edge list, anti-joins visited to keep
    first-reach distances, and localCheckpoints both frames (lineage
    truncation, the q_dedup_clusters discipline). Rounds are bounded
    by the hop budget, and per-round cost is frontier-sized — on the
    support graph (sparse by the B84b threshold) frontiers stay small.
    The oracle computes the identical fixpoint as a recursive CTE with
    min(dist) per node.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Capped-basket pair mine (optimization r12): one exchange on the
    # order key + map-side triangular pair generation replaces the
    # r11 distinct -> count -> semi-join -> self-join preamble --
    # identical support pairs, two fewer data-sized exchanges (see
    # joins.basket_pairs for the measured A/B and the scale contract).
    pair_sup = basket_pairs(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    pr = (
        pair_sup.filter(F.col("sup") >= 2)
        .select("u", "v")
    )
    edges = (
        pr.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .union(pr.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    seed = edges.agg(F.min("src").alias("s")).collect()[0]["s"]
    if seed is None:  # empty graph: no seed, empty (typed) result
        return spark.createDataFrame([], "node long, hops int")
    visited = edges.sparkSession.createDataFrame(
        [(int(seed), 0)], "node long, hops int"
    )
    frontier = visited
    # r12 job surgery: one LAZY checkpoint per round materialized by the
    # round's single count (the old eager-checkpoint + isEmpty pair cost
    # 3 jobs per hop); `visited` is a union of already-materialized
    # frontier frames, bounded at {hops} legs — no checkpoint needed.
    # The count/break stays (unlike closeness's probe-free loop): the
    # seed's component can exhaust well inside the hop budget (sf0.1:
    # 2 rounds of 6), and the measured A/B says running the dead hops
    # costs ~0.2 s each — single-source BFS wants the early exit.
    for hop in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select(
        "node", F.col("hops").cast("int").alias("hops")
    ).orderBy("hops", "node")


q_graph_bfs.__doc__ = q_graph_bfs.__doc__.format(hops=_BFS_MAX_HOPS)


_JACCARD_HOT_CAP = 200   # parts ordered by more customers contribute no pairs
_JACCARD_TOP_K = 20


@query(
    "q_graph_degree",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_suppkey AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cd AS (SELECT u, count(*) AS deg FROM pairs GROUP BY u),
sd AS (SELECT v, count(*) AS deg FROM pairs GROUP BY v),
hist AS (
  SELECT 'customer' AS kind, deg, count(*) AS n_nodes FROM cd GROUP BY deg
  UNION ALL
  SELECT 'supplier' AS kind, deg, count(*) AS n_nodes FROM sd GROUP BY deg
)
SELECT kind, CAST(deg AS BIGINT) AS degree,
       CAST(n_nodes AS BIGINT) AS n_nodes
FROM hist ORDER BY kind, degree
""",
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer—supplier graph, per side —
    the first question asked of any graph (is it heavy-tailed? are
    there super-hubs that will detonate pair joins?) and the number
    that justifies every hot-key guard in this engine: the cap
    constants in q_copurchase / q_graph_jaccard / the LSH buckets are
    chosen by looking at exactly this histogram.

    Scale shape: distinct-edge reduction first (the one data-sized
    pass), then degree = one grouped count per side and the histogram
    = a second grouped count over the NODE frame — each strictly
    smaller than its input. No joins at all; the whole plan is three
    cascaded partial aggregations, the cheapest query in the graph
    family.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    cd = pairs.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("deg"))
    sd = pairs.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("deg"))
    hist = (
        cd.groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.lit("customer").alias("kind"), "deg", "n_nodes")
        .unionByName(
            sd.groupBy("deg")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .select(F.lit("supplier").alias("kind"), "deg", "n_nodes")
        )
    )
    return hist.select(
        "kind",
        F.col("deg").cast("long").alias("degree"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
    ).orderBy("kind", "degree")


@query(
    "q_graph_assortativity",
    # Degree-degree Pearson over the undirected edge list: degrees are
    # exact integers, so every power sum is DECIMAL-exact and the
    # correlation is one ordered double expression.
    oracle="""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_suppkey AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cd AS (SELECT u, count(*) AS du FROM pairs GROUP BY u),
sd AS (SELECT v, count(*) AS dv FROM pairs GROUP BY v),
e AS (
  SELECT cd.du AS x, sd.dv AS y FROM pairs
  JOIN cd ON cd.u = pairs.u JOIN sd ON sd.v = pairs.v
),
eb AS (
  SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy
  FROM eb
)
SELECT CAST(m // 2 AS BIGINT) AS n_edges,
       round((m * sxy - sx * sy)
             / (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy)),
             6) AS assortativity
FROM s
""",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer—supplier graph: the
    Pearson correlation of endpoint degrees over the undirected edge
    list — do high-degree nodes attach to other hubs (assortative,
    r>0, social-network-like) or to leaves (disassortative, r<0,
    typical of bipartite commerce)? One scalar that predicts hot-key
    behavior under joins: strong disassortativity means hub keys pair
    with long leaf lists — exactly the skew AQE or salting must
    absorb.

    Scale shape: distinct-edge pass → two degree maps (node-sized) →
    the edge list joins its two endpoint degrees (hash joins on node
    id, the standard edge-attribute pattern) → both orientations
    union → ONE decimal power-sum pass. Degrees are exact integers,
    so the correlation has no float-summation wobble; the final
    expression is one ordered double chain shared with the oracle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    cd = pairs.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("du"))
    sd = pairs.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("dv"))
    e = (
        pairs.join(cd, "o_custkey")
        .join(sd, "l_suppkey")
        .select(F.col("du").alias("x"), F.col("dv").alias("y"))
    )
    both = e.unionByName(
        e.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    big = "decimal(38,0)"
    s = both.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("x").cast(big)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(big)).cast("double").alias("sy"),
        F.sum(F.col("x").cast(big) * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast(big) * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x").cast(big) * F.col("y")).cast("double").alias("sxy"),
    )
    m = F.col("m").cast("double")
    r = (m * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(m * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(m * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(r, 6).alias("assortativity"),
    )


@query(
    "q_graph_jaccard",
    oracle=f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
keep AS (
  SELECT p FROM cp GROUP BY p HAVING count(*) <= {_JACCARD_HOT_CAP}
),
cpk AS (SELECT cp.c, cp.p FROM cp JOIN keep USING (p)),
deg AS (SELECT c, count(*) AS d FROM cp GROUP BY c),
co AS (
  SELECT a.c AS ca, b.c AS cb, count(*) AS nco
  FROM cpk a JOIN cpk b ON a.p = b.p AND a.c < b.c
  GROUP BY a.c, b.c
),
j AS (
  SELECT ca, cb, nco, da.d AS da, db.d AS db,
         round(nco * 1.0 / (da.d + db.d - nco), 6) AS jaccard
  FROM co JOIN deg da ON da.c = co.ca JOIN deg db ON db.c = co.cb
)
SELECT ca AS cust_a, cb AS cust_b, CAST(nco AS BIGINT) AS n_common,
       CAST(da AS BIGINT) AS deg_a, CAST(db AS BIGINT) AS deg_b, jaccard
FROM j ORDER BY jaccard DESC, ca, cb LIMIT {_JACCARD_TOP_K}
""",
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-Jaccard link prediction: the top-{k} customer pairs by
    Jaccard similarity of their part baskets — "customers like you
    also buy", the classic common-neighbors recommender, and the graph
    twin of q_dedup_ngram's set-overlap verification.

    Scale shape: candidate pairs are generated ONLY through shared
    parts (never all-pairs), and parts ordered by more than {cap}
    customers are suppressed BEFORE the self-join (hot-part cap —
    q_copurchase's basket guard applied to the other side of the
    bipartite graph; a part everyone buys predicts nothing and would
    contribute quadratic pairs). Degrees come from the UNCAPPED edge
    frame so the Jaccard denominator stays honest. Pair counting
    shuffles on the pair key (map-side combinable); the Jaccard is an
    exact-integer division rounded 6dp, ordered with a (a, b)
    tiebreak, planned as TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        # referenced by keep, cpk AND deg — unmaterialized, the
        # lineitem⋈orders build ran once per reference (r10)
        .localCheckpoint(eager=False)
    )
    deg = (
        cp.groupBy("c")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)  # |customers| rows, joined twice
    )
    # Per-part customer pairs via the basket_pairs device (optimization
    # r12): one exchange on the part key + map-side triangular pairs
    # replaces the hot-cap semi-join + per-part self-join — identical
    # pair counts (the old keep ≤ cap gate and the device's
    # 2..cap size filter admit the same pair-contributing parts;
    # npc = 1 parts never paired). Degrees stay on the UNCAPPED cp so
    # the Jaccard denominator stays honest.
    co = (
        basket_pairs(cp, "p", "c", cap=_JACCARD_HOT_CAP)
        .select(
            F.col("u").alias("ca"),
            F.col("v").alias("cb"),
            F.col("sup").alias("nco"),
        )
    )
    j = (
        co.join(deg.select(F.col("c").alias("ca"), F.col("d").alias("da")), "ca")
        .join(deg.select(F.col("c").alias("cb"), F.col("d").alias("db")), "cb")
        .select(
            F.col("ca").alias("cust_a"),
            F.col("cb").alias("cust_b"),
            F.col("nco").cast("long").alias("n_common"),
            F.col("da").cast("long").alias("deg_a"),
            F.col("db").cast("long").alias("deg_b"),
            F.round(
                F.col("nco") * 1.0 / (F.col("da") + F.col("db") - F.col("nco")),
                6,
            ).alias("jaccard"),
        )
    )
    return j.orderBy(
        F.col("jaccard").desc(), "cust_a", "cust_b"
    ).limit(_JACCARD_TOP_K)


q_graph_jaccard.__doc__ = q_graph_jaccard.__doc__.format(
    k=_JACCARD_TOP_K, cap=_JACCARD_HOT_CAP
)


_KCORE_K = 3
_KCORE_ROUNDS = 14  # bounded peel rounds (both engines run the SAME bound)


def _kcore_oracle_sql() -> str:
    """Unrolled-peeling DuckDB twin (the _PR_ITER_SQL device): stage
    a{{i+1}} keeps the a{{i}} nodes with >= k neighbors inside a{{i}}.
    Peeling is monotone, so once stable every further stage is a no-op
    — the bounded computation equals the fixed point whenever
    `converged` is true (asserted at every fixture SF). Every stage is
    AS MATERIALIZED: DuckDB inlines CTEs by default, and a 14-deep
    chain whose every stage references its predecessor twice would expand
    to 2^14 scans without it."""
    stages = []
    for i in range(_KCORE_ROUNDS):
        stages.append(
            f"""a{i + 1} AS MATERIALIZED (
  SELECT n.node FROM a{i} n
  JOIN eb ON eb.s = n.node
  JOIN a{i} m ON m.node = eb.t
  GROUP BY n.node HAVING count(*) >= {_KCORE_K}
)"""
        )
    last, prev = f"a{_KCORE_ROUNDS}", f"a{_KCORE_ROUNDS - 1}"
    return f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
ok AS MATERIALIZED (
  SELECT l_orderkey FROM op GROUP BY 1
  HAVING count(*) BETWEEN 2 AND {_BASKET_MAX_ITEMS}
),
e AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b USING (l_orderkey) JOIN ok USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
eb AS MATERIALIZED (
  SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
),
a0 AS MATERIALIZED (SELECT DISTINCT s AS node FROM eb),
{",".join(stages)}
SELECT
  CAST((SELECT count(*) FROM {last}) AS BIGINT) AS n_core_nodes,
  CAST((SELECT count(*) FROM e
        JOIN {last} x ON x.node = e.u
        JOIN {last} y ON y.node = e.v) AS BIGINT) AS n_core_edges,
  CAST((SELECT count(*) FROM a0) AS BIGINT)
    - CAST((SELECT count(*) FROM {last}) AS BIGINT) AS n_peeled,
  (SELECT count(*) FROM {prev}) = (SELECT count(*) FROM {last})
    AS converged
"""


@query("q_graph_kcore", oracle=_kcore_oracle_sql())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the support-filtered co-purchase graph — iterative
    peeling (drop every node with < k in-core neighbors, recompute,
    repeat): the densest-substructure screen between q_graph_degree
    (local counts) and q_graph_components (mere connectivity). A
    component survives on one bridge edge; a k-core demands EVERY
    member keep k in-core neighbors — the "actually-cohesive bundle
    ecosystem" cut, and the classic pre-filter before clique-ish
    mining. Emits core size, in-core edge count, peeled count, and
    the convergence flag.

    Bounded-iteration contract (the q_graph_pagerank doctrine): BOTH
    engines run the same {rounds}-round peel — peeling is monotone,
    so once stable every extra round is a no-op and the bounded
    result equals the true fixed point whenever `converged` is true
    (it is at every fixture SF: 0 / 10 / 2 rounds at sf0.001 / 0.01 /
    0.1). Spark may exit early on stabilization — semantics
    identical, never divergent.

    Scale shape: the data-sized work is the ONE support-filter
    reduction (q_graph_components' edge build); each peel round is
    one join + one aggregate over the SURVIVING edge frame (shrinking
    monotonically), with ``localCheckpoint`` truncating lineage per
    round. All integers — bit-identical across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Capped-basket pair mine (optimization r12): one exchange on the
    # order key + map-side triangular pair generation replaces the
    # r11 distinct -> count -> semi-join -> self-join preamble --
    # identical support pairs, two fewer data-sized exchanges (see
    # joins.basket_pairs for the measured A/B and the scale contract).
    pair_sup = basket_pairs(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    e = (
        pair_sup.filter(F.col("sup") >= 2)
        .select("u", "v")
        # the ONE data-sized build (co-purchase self-join + support
        # agg): materialized once — r10 found every peel round was
        # silently re-running this whole chain through eb's lineage
        # (bench: 9.6 s, of which the peel itself was a fraction)
        .localCheckpoint()
    )
    eb = (
        e.selectExpr("u as s", "v as t")
        .unionByName(e.selectExpr("v as s", "u as t"))
        .localCheckpoint(eager=False)
    )
    # Job-count surgery (optimization r12, guide §1.2 "fewer passes"):
    # the old shape ran an eager checkpoint job PLUS a count job per
    # materialization (≈14 jobs per run at sf0.1); every checkpoint is
    # now LAZY and materialized by the one count the round needs
    # anyway, n0 comes from round 1's degree frame (|distinct s| ==
    # |nodes| — no separate distinct build), and the final core counts
    # are read off loop state instead of fresh join-count jobs.
    n_prev: int | None = None  # n0 discovered in round 1
    n_now = 0
    converged = False
    # invariant: live_eb holds exactly the edges with BOTH endpoints
    # alive, so each round is one aggregate + (on shrink) one
    # double-semi-restriction of a monotonically SHRINKING frame — the
    # plan the docstring always promised; the full eb is touched once
    live_eb = eb
    for _ in range(_KCORE_ROUNDS):
        deg = live_eb.groupBy("s").agg(
            F.count(F.lit(1)).alias("deg")
        ).localCheckpoint(eager=False)
        if n_prev is None:
            n_prev = n0 = deg.count()  # materializes eb + round-1 deg
        nxt = (
            deg.filter(F.col("deg") >= _KCORE_K)
            .select(F.col("s").alias("node"))
            .localCheckpoint(eager=False)
        )
        n_now = nxt.count()  # materializes nxt (deg already cached)
        alive = nxt
        if n_now == n_prev:
            converged = True
            break
        n_prev = n_now
        live_eb = (
            live_eb.join(nxt.withColumnRenamed("node", "s"), "s")
            .join(nxt.withColumnRenamed("node", "t"), "t")
            .localCheckpoint(eager=False)
        )
    else:
        # ran the full bound without stabilizing between the LAST two
        # rounds — mirror the oracle's a{N-1} vs a{N} comparison
        converged = False
    if converged:
        # live_eb holds exactly the directed edges among `alive` (the
        # break round shrank nothing), so the undirected in-core edge
        # count is half its (already materialized) row count
        core_edges = live_eb.count() // 2
    else:
        core_edges = (
            e.join(alive.withColumnRenamed("node", "u"), "u")
            .join(alive.withColumnRenamed("node", "v"), "v")
            .count()
        )
    n_core = n_now
    return spark.createDataFrame(
        [(n_core, core_edges, n0 - n_core, bool(converged))],
        "n_core_nodes long, n_core_edges long, n_peeled long,"
        " converged boolean",
    )


q_graph_kcore.__doc__ = q_graph_kcore.__doc__.format(
    k=_KCORE_K, rounds=_KCORE_ROUNDS
)


@query(
    "q_graph_modularity",
    # The q_graph_components fixpoint (recursive reachability, min
    # label) extended one step: per-community internal-edge and
    # degree-sum INTEGERS feed Newman's Q = Σ_c [m_c/m − (d_c/2m)²];
    # per-community terms are one IEEE chain each and the Q total is
    # 9dp-DECIMAL armored against merge order.
    oracle=f"""
WITH RECURSIVE
op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sz AS (
  SELECT l_orderkey FROM op GROUP BY l_orderkey
  HAVING count(*) BETWEEN 2 AND {_BASKET_MAX_ITEMS}
),
ok AS (SELECT op.l_orderkey, op.l_partkey FROM op JOIN sz USING (l_orderkey)),
p AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM ok a JOIN ok b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM p UNION SELECT v, u FROM p
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS MATERIALIZED (SELECT node, min(lbl) AS cid FROM reach GROUP BY node),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS d
  FROM edges GROUP BY src
),
cstat AS (
  SELECT c.cid,
    CAST(count(*) AS BIGINT) AS n_nodes,
    CAST(sum(deg.d) AS BIGINT) AS d_sum
  FROM comp c JOIN deg USING (node) GROUP BY c.cid
),
cint AS (
  SELECT ca.cid, CAST(count(*) AS BIGINT) AS m_int
  FROM p
  JOIN comp ca ON ca.node = p.u
  JOIN comp cb ON cb.node = p.v AND cb.cid = ca.cid
  GROUP BY ca.cid
),
terms AS (
  SELECT cs.cid, cs.n_nodes,
    CAST(COALESCE(ci.m_int, 0) AS BIGINT) AS m_int, cs.d_sum,
    CAST(COALESCE(ci.m_int, 0) AS DOUBLE) / mm.m
      - (CAST(cs.d_sum AS DOUBLE) / (2 * mm.m))
        * (CAST(cs.d_sum AS DOUBLE) / (2 * mm.m)) AS term
  FROM cstat cs LEFT JOIN cint ci USING (cid) CROSS JOIN mm
),
q AS (
  SELECT CAST(sum(CAST(round(term, 9) AS DECIMAL(18,9))) AS DOUBLE)
    AS modularity
  FROM terms
)
SELECT t.cid AS component_id, t.n_nodes, t.m_int AS internal_edges,
       t.d_sum AS degree_sum,
       round(t.term, 6) AS q_contribution,
       round(q.modularity, 6) AS modularity
FROM terms t CROSS JOIN q
ORDER BY t.n_nodes DESC, component_id
""",
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the co-purchase component partition — the
    QUALITY score for the communities q_graph_components finds:
    Q = Σ_c [m_c/m − (d_c/2m)²] compares each community's internal
    edge share against the share a degree-preserving random rewiring
    would give it (Q ≈ 0: the "communities" are connectivity
    accidents; Q ≳ 0.3: real assortative structure — THE number a
    segmentation claim must clear before anyone ships it). Components
    answer "which nodes hang together"; modularity answers "does that
    hanging-together mean anything".

    Scale shape: the same one-shot edge build + bounded min-label
    iteration as q_graph_components (localCheckpoint per round); all
    modularity inputs are INTEGER aggregates on the labeled node/edge
    frames (two hash joins of edges against the label map); per-
    community terms are one IEEE chain each, and the Q total is a
    9dp-DECIMAL armored sum over the |communities|-row frame.
    """
    from asyncdatapipeline_spark.llm.dedup import connected_components

    li = load_table(spark, sf_dir, "lineitem")
    # Capped-basket pair mine (optimization r12): one exchange on the
    # order key + map-side triangular pair generation replaces the
    # r11 distinct -> count -> semi-join -> self-join preamble --
    # identical support pairs, two fewer data-sized exchanges (see
    # joins.basket_pairs for the measured A/B and the scale contract).
    pair_sup = basket_pairs(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    p = (
        pair_sup.filter(F.col("sup") >= 2)
        .select("u", "v")
    )
    cc = connected_components(
        p.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    ).select(F.col("doc_id").alias("node"), F.col("cluster_id").alias("cid"))
    edges = p.selectExpr("u as src", "v as dst").unionByName(
        p.selectExpr("v as src", "u as dst")
    )
    m = F.broadcast(p.agg(F.count(F.lit(1)).cast("long").alias("m")))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    cstat = (
        cc.join(deg, "node")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_sum"),
        )
    )
    ca = cc.select(F.col("node").alias("u"), F.col("cid").alias("cid_a"))
    cb = cc.select(F.col("node").alias("v"), F.col("cid").alias("cid_b"))
    cint = (
        p.join(ca, "u")
        .join(cb, "v")
        .filter(F.col("cid_a") == F.col("cid_b"))
        .groupBy(F.col("cid_a").alias("cid"))
        .agg(F.count(F.lit(1)).cast("long").alias("m_int"))
    )
    md = F.col("m").cast("double")
    term = (
        F.col("m_int").cast("double") / md
        - (F.col("d_sum").cast("double") / (2 * md))
        * (F.col("d_sum").cast("double") / (2 * md))
    )
    terms = (
        cstat.join(cint, "cid", "left")
        .select(
            "cid",
            "n_nodes",
            F.coalesce("m_int", F.lit(0)).cast("long").alias("m_int"),
            "d_sum",
        )
        .crossJoin(m)
        .withColumn("term", term)
    )
    q = F.broadcast(
        terms.agg(
            F.sum(F.round(F.col("term"), 9).cast("decimal(18,9)"))
            .cast("double")
            .alias("modularity")
        )
    )
    return (
        terms.crossJoin(q)
        .select(
            F.col("cid").alias("component_id"),
            "n_nodes",
            F.col("m_int").alias("internal_edges"),
            F.col("d_sum").alias("degree_sum"),
            F.round("term", 6).alias("q_contribution"),
            F.round("modularity", 6).alias("modularity"),
        )
        .orderBy(F.col("n_nodes").desc(), "component_id")
    )


_LP_ROUNDS = 3
_LP_SEED_MOD = 5


def _label_prop_oracle_sql() -> str:
    """Unrolled label-propagation oracle (the bounded-iteration
    contract): both engines run the SAME compile-time round count; all
    round state is (node BIGINT, lab VARCHAR), so inter-round inputs
    are bit-identical. ``AS MATERIALIZED`` is mandatory — each round
    references its predecessor in two places and default CTE inlining
    would re-evaluate the whole chain per reference."""
    rounds = []
    for k in range(1, _LP_ROUNDS + 1):
        prev = f"lab{k - 1}"
        rounds.append(f"""
v{k} AS MATERIALIZED (
  SELECT e.src AS node, l.lab, count(*) AS cnt
  FROM edges e JOIN {prev} l ON l.node = e.dst
  WHERE l.lab IS NOT NULL GROUP BY 1, 2
),
w{k} AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, lab) AS r
    FROM v{k}
  ) WHERE r = 1
),
lab{k} AS MATERIALIZED (
  SELECT n.node, COALESCE(s.lab, w.lab, p.lab) AS lab
  FROM nodes n
  LEFT JOIN seeds s USING (node)
  LEFT JOIN w{k} w USING (node)
  LEFT JOIN {prev} p USING (node)
)""")
    return f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
sz AS (
  SELECT l_orderkey FROM op GROUP BY l_orderkey
  HAVING count(*) BETWEEN 2 AND {_BASKET_MAX_ITEMS}
),
ok AS (SELECT op.l_orderkey, op.l_partkey FROM op JOIN sz USING (l_orderkey)),
pr AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM ok a JOIN ok b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pr UNION SELECT v, u FROM pr
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
seeds AS MATERIALIZED (
  SELECT n.node, p.p_brand AS lab
  FROM nodes n JOIN part p ON p.p_partkey = n.node
  WHERE n.node % {_LP_SEED_MOD} = 0
),
lab0 AS MATERIALIZED (
  SELECT n.node, s.lab FROM nodes n LEFT JOIN seeds s USING (node)
),{",".join(rounds)}
SELECT l.lab AS label,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seeds
FROM lab{_LP_ROUNDS} l LEFT JOIN seeds s USING (node)
GROUP BY l.lab ORDER BY label
"""


@query("q_graph_label_prop", oracle=_label_prop_oracle_sql())
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the support-filtered
    co-purchase graph: every 5th part is seeded with its brand
    label (clamped — seeds never change); 3 bounded rounds of
    neighbor-majority voting (ties broken by smallest label — the only
    deterministic mode) spread the labels; unreached nodes stay NULL.
    The transductive classifier data teams run when labels are scarce
    but the GRAPH is dense — "which brand's ecosystem does this
    unlabeled part sell inside" — and the predictive counterpart of
    q_graph_components' purely structural clusters.

    Scale shape: the same support-thresholded edge build every graph
    op here pays (basket cap before the pair self-join), then per
    round ONE join (edges ⋈ labels), one (node, label) count, one
    WindowGroupLimit argmax on the node partitioning, and a three-way
    label coalesce — all shuffles on the node key, state strictly
    (node, label)-sized, ``localCheckpoint`` truncating lineage per
    round (the q_graph_kcore discipline). Rounds are compile-time
    bounded (the bounded-iteration oracle contract), not run to a
    data-dependent fixpoint.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # Capped-basket pair mine (optimization r12): one exchange on the
    # order key + map-side triangular pair generation replaces the
    # r11 distinct -> count -> semi-join -> self-join preamble --
    # identical support pairs, two fewer data-sized exchanges (see
    # joins.basket_pairs for the measured A/B and the scale contract).
    pair_sup = basket_pairs(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    pr = (
        pair_sup.filter(F.col("sup") >= 2)
    )
    edges = (
        pr.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(pr.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=False)
    )
    # (node)-sized and re-joined every voting round: materialized once
    # so the distinct shuffle doesn't re-run per round. Locally this
    # measures neutral (the per-round joins dominate); at scale the
    # avoided per-round distinct is an |edges|-block shuffle (r10)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    seeds = (
        nodes.filter(F.col("node") % _LP_SEED_MOD == 0)
        .join(part, nodes.node == part.p_partkey)
        .select("node", F.col("p_brand").alias("seed_lab"))
        .localCheckpoint(eager=False)
    )
    # r12 plan surgery: `seed_lab` rides INSIDE the label frame, so each
    # voting round is ONE edges⋈labels join + two hash aggregates + ONE
    # label-update join — the old shape re-joined nodes⋈seeds⋈win⋈prev
    # (three node-keyed joins) and ranked votes with a per-node SORT
    # window; the min_by((−cnt, label)) aggregate is the same argmax
    # (max count, ties to smallest label) without the sort, and it
    # partial-aggregates map-side (guide §2.3/§2.4).
    lab = (
        nodes.join(seeds, "node", "left")
        .select("node", "seed_lab", F.col("seed_lab").alias("lab"))
        .localCheckpoint(eager=False)
    )
    for _ in range(_LP_ROUNDS):
        votes = (
            edges.join(
                lab.select(
                    F.col("node").alias("dst"), F.col("lab").alias("nlab")
                ),
                "dst",
            )
            .filter(F.col("nlab").isNotNull())
            .groupBy(F.col("src").alias("node"), F.col("nlab"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        win = votes.groupBy("node").agg(
            F.min_by(
                "nlab",
                F.struct(
                    (-F.col("cnt")).alias("nc"), F.col("nlab").alias("nl")
                ),
            ).alias("win_lab")
        )
        lab = (
            lab.join(win, "node", "left")
            .select(
                "node",
                "seed_lab",
                F.coalesce("seed_lab", "win_lab", "lab").alias("lab"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        lab.groupBy(F.col("lab").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.col("seed_lab").isNotNull().cast("int"))
            .cast("long")
            .alias("n_seeds"),
        )
        .orderBy("label")
    )


@query(
    "q_graph_clustering",
    # All-integer until the final 2t/(d(d-1)) ratio — one IEEE division
    # from identical integers in both engines; ordering uses the exact
    # integer cross-product compare, never the float.
    oracle=f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
sz AS (
  SELECT l_orderkey FROM op GROUP BY l_orderkey
  HAVING count(*) BETWEEN 2 AND {{basket_max}}
),
ok AS (
  SELECT op.l_orderkey, op.l_partkey FROM op JOIN sz USING (l_orderkey)
),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM ok a JOIN ok b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
pernode AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.node, d.degree,
       CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
       round(2.0 * COALESCE(p.n_triangles, 0)
             / (d.degree * (d.degree - 1)), 6) AS clustering
FROM deg d LEFT JOIN pernode p USING (node)
WHERE d.degree >= 2
ORDER BY 2.0 * COALESCE(p.n_triangles, 0) / (d.degree * (d.degree - 1))
           DESC,
         d.degree DESC, d.node
LIMIT 20
""".format(basket_max=_BASKET_MAX_ITEMS),
)
def q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (2·tri(v) / deg(v)·(deg(v)−1)) on
    the support-filtered co-purchase graph, top-20 — the node-level
    "how clique-like is this part's neighborhood" readout that
    completes the triangle family: q_graph_triangles counts raw
    triangle membership (favors hubs), this NORMALIZES by the possible
    wedges, so a part in one tight 3-bundle outranks a hub whose
    neighbors never co-occur. The number behind "bundle vs hub"
    merchandising calls and the local density term in community scores.

    Scale shape: identical edge discipline to q_graph_triangles
    (support ≥ 2 + basket cap bound the degree BEFORE any join — the
    dense-blob trap documented there); triangle enumeration is the
    same canonical a<b<c equi-join plan; degrees and per-node triangle
    counts are two map-combinable reduces; the join of the two
    node-sized frames is node-keyed; top-20 rides
    TakeOrderedAndProject (per-task heaps, no global sort). The final
    coefficient is ONE IEEE division of exact integers, computed
    identically in both engines; display rounding only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Capped-basket pair mine (optimization r12): one exchange on the
    # order key + map-side triangular pair generation replaces the
    # r11 distinct -> count -> semi-join -> self-join preamble --
    # identical support pairs, two fewer data-sized exchanges (see
    # joins.basket_pairs for the measured A/B and the scale contract).
    pair_sup = basket_pairs(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    e = (
        pair_sup.filter(F.col("sup") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)  # feeds degree + three join legs
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    pernode = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    coeff = 2.0 * t / (F.col("degree") * (F.col("degree") - 1))
    return (
        deg.join(pernode, "node", "left")
        .select(
            "node",
            F.col("degree").cast("long").alias("degree"),
            t.alias("n_triangles"),
            F.round(coeff, 6).alias("clustering"),
            coeff.alias("_c"),
        )
        .orderBy(F.col("_c").desc(), F.col("degree").desc(), "node")
        .limit(20)
        .drop("_c")
    )


@query(
    "q_graph_reciprocity",
    # Transition weights are exact integers (the q_events_markov
    # ordering convention: second-truncated ts, event_id tiebreak);
    # both reciprocity ratios are single IEEE divisions of integers.
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
  SELECT event_type AS a, next_type AS b, CAST(count(*) AS BIGINT) AS w
  FROM ordered
  WHERE next_type IS NOT NULL AND next_type != event_type
  GROUP BY 1, 2
),
paired AS (
  SELECT t.a, t.b, t.w, CAST(COALESCE(r.w, 0) AS BIGINT) AS w_rev
  FROM trans t LEFT JOIN trans r ON r.a = t.b AND r.b = t.a
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(count(*) FILTER (WHERE w_rev > 0) AS BIGINT)
           AS n_reciprocated,
         CAST(sum(w) AS BIGINT) AS total_w,
         CAST(sum(least(w, w_rev)) AS BIGINT) AS recip_w
  FROM paired
)
SELECT n_edges, n_reciprocated, total_w, recip_w,
       round(CAST(n_reciprocated AS DOUBLE) / n_edges, 6)
         AS edge_reciprocity,
       round(CAST(recip_w AS DOUBLE) / total_w, 6)
         AS weighted_reciprocity
FROM s WHERE n_edges > 0
""",
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the event-type transition digraph (edges = per-
    user consecutive transitions a→b, a≠b, q_events_markov's ordering
    convention): the fraction of directed edges whose reverse exists
    (edge form) and the fraction of transition MASS that is matched by
    reverse mass, Σ min(w_ab, w_ba) / Σ w (weighted form). Together
    they answer "is this flow a cycle or a funnel" — a checkout funnel
    wants LOW reciprocity (view→cart→purchase, never back), a browse
    loop shows high; the weighted form catches the case where back-
    edges exist but carry no volume (edge form alone overstates).

    Scale shape: one data-sized pass (per-user lead window — user-
    keyed shuffle, the markov plan) reduces to the |types|²-bounded
    transition frame; the reverse match is a self-join on the bounded
    frame; one closed-form row out. Degenerate guard: an empty
    transition set (single event per user everywhere) emits zero rows
    rather than 0/0.
    """
    from asyncdatapipeline_spark.sources.tables import load_table as _lt

    e = _lt(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", "ts"), "event_id"
    )
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    trans = (
        ordered.filter(
            F.col("next_type").isNotNull()
            & (F.col("next_type") != F.col("event_type"))
        )
        .groupBy(
            F.col("event_type").alias("a"), F.col("next_type").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    rev = trans.select(
        F.col("b").alias("a"), F.col("a").alias("b"), F.col("w").alias("w_rev")
    )
    paired = trans.join(rev, ["a", "b"], "left").select(
        "w", F.coalesce("w_rev", F.lit(0)).cast("long").alias("w_rev")
    )
    s = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum((F.col("w_rev") > 0).cast("long"))
        .cast("long")
        .alias("n_reciprocated"),
        F.sum("w").cast("long").alias("total_w"),
        F.sum(F.least("w", "w_rev")).cast("long").alias("recip_w"),
    ).filter(F.col("n_edges") > 0)
    return s.select(
        "n_edges",
        "n_reciprocated",
        "total_w",
        "recip_w",
        F.round(
            F.col("n_reciprocated").cast("double") / F.col("n_edges"), 6
        ).alias("edge_reciprocity"),
        F.round(
            F.col("recip_w").cast("double") / F.col("total_w"), 6
        ).alias("weighted_reciprocity"),
    )


_HITS_SCALE = 10**12  # total hub / authority mass, in micro-units
_HITS_ITERS = 3
_HITS_TOP_K = 10

# Unrolled HITS iteration twin. Each half-step sums the opposite
# score over edges, then renormalizes to integer mass (L1) with the
# same floor-division both engines share.
_HITS_ITER_SQL = """
ar{it} AS (
  SELECT e.v AS node, sum(h{prev}.s) AS raw
  FROM edges e JOIN h{prev} ON h{prev}.node = e.u
  GROUP BY e.v
),
a{it} AS (
  SELECT node, (raw * {scale}) // (SELECT sum(raw) FROM ar{it}) AS s
  FROM ar{it}
),
hr{it} AS (
  SELECT e.u AS node, sum(a{it}.s) AS raw
  FROM edges e JOIN a{it} ON a{it}.node = e.v
  GROUP BY e.u
),
h{it} AS (
  SELECT node, (raw * {scale}) // (SELECT sum(raw) FROM hr{it}) AS s
  FROM hr{it}
)"""


def _hits_oracle() -> str:
    iters = ",".join(
        _HITS_ITER_SQL.format(it=i, prev=i - 1, scale=_HITS_SCALE)
        for i in range(1, _HITS_ITERS + 1)
    )
    return f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_suppkey AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
hubs0 AS (SELECT DISTINCT u AS node FROM edges),
h0 AS (
  SELECT node,
         {_HITS_SCALE} // (SELECT count(*) FROM hubs0) AS s
  FROM hubs0
),
{iters},
ranked AS (
  SELECT 'hub' AS kind, node AS entity_key, CAST(s AS BIGINT) AS score_fp
  FROM h{_HITS_ITERS}
  ORDER BY s DESC, node LIMIT {_HITS_TOP_K}
),
ranked_a AS (
  SELECT 'authority' AS kind, node AS entity_key, CAST(s AS BIGINT) AS score_fp
  FROM a{_HITS_ITERS}
  ORDER BY s DESC, node LIMIT {_HITS_TOP_K}
)
SELECT * FROM ranked UNION ALL SELECT * FROM ranked_a
"""


@query(
    "q_graph_hits",
    # Fixed-point doctrine (module docstring): scores are BIGINT
    # micro-units, each half-step renormalizes by integer floor
    # division against the exact integer mass sum, so both engines
    # floor identically — no float contribution sums anywhere.
    oracle=_hits_oracle(),
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores on the customer→supplier bipartite
    graph, 3 unrolled iterations — PageRank's query-dependent sibling:
    a good HUB (customer) buys from many good suppliers, a good
    AUTHORITY (supplier) serves many good hubs. The mutual
    reinforcement finds the dense trading core that degree alone
    misses (a customer with 50 edges to fringe suppliers outranks one
    with 30 edges into the core under degree, and loses under HITS).
    L1 renormalization per half-step in fixed-point integer mass
    (floor division) keeps the iteration bit-exact across engines and
    partitionings — the module's PageRank doctrine applied to the
    two-score iteration.

    Scale shape: per iteration, two edge-keyed join+aggregate rounds
    (the classic distributed HITS step) plus one O(1) mass scalar;
    iteration count is compile-time bounded; node state is
    (node, score) — never adjacency lists. Top-k via
    TakeOrderedAndProject. The edge frame is reused across all six
    half-steps from one localCheckpoint.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_suppkey").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)  # reused by all six half-steps
    )
    n_hubs = edges.select("u").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    h = edges.select(F.col("u").alias("node")).distinct().crossJoin(
        F.broadcast(n_hubs)
    ).select(
        # exact integer floor division, same doctrine as renorm —
        # float divide + cast truncates a double QUOTIENT and can
        # land one off the oracle's integer // when SCALE/n sits
        # within an ulp of an integer (ADVICE r9)
        "node", F.expr(f"cast({_HITS_SCALE} div n as bigint)").alias("s")
    )

    def renorm(raw_df):
        # raw * SCALE can reach ~10^28 (raw ≤ max-degree × mass):
        # widen to DECIMAL(38,0) for the product — DuckDB's HUGEINT
        # twin is 128-bit for the same reason; both floor identically.
        mass = F.broadcast(raw_df.agg(F.sum("raw").alias("mass")))
        return raw_df.crossJoin(mass).select(
            "node",
            F.expr(
                f"cast((cast(raw as decimal(38,0)) * {_HITS_SCALE}) "
                "div cast(mass as decimal(38,0)) as bigint)"
            ).alias("s"),
        )

    a = None
    for _ in range(_HITS_ITERS):
        a = renorm(
            edges.join(h, edges.u == h.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("s").alias("raw"))
        ).localCheckpoint(eager=False)
        h = renorm(
            edges.join(a, edges.v == a.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("s").alias("raw"))
        ).localCheckpoint(eager=False)
    top_h = (
        h.orderBy(F.col("s").desc(), "node")
        .limit(_HITS_TOP_K)
        .select(
            F.lit("hub").alias("kind"),
            F.col("node").alias("entity_key"),
            F.col("s").cast("long").alias("score_fp"),
        )
    )
    top_a = (
        a.orderBy(F.col("s").desc(), "node")
        .limit(_HITS_TOP_K)
        .select(
            F.lit("authority").alias("kind"),
            F.col("node").alias("entity_key"),
            F.col("s").cast("long").alias("score_fp"),
        )
    )
    return top_h.unionAll(top_a)


_PL_DMIN = 2  # Hill tail cut: degree-1 nodes carry no tail information


def _powerlaw_side_sql(key: str, kind: str) -> str:
    return f"""
SELECT '{kind}' AS kind, deg, CAST(count(*) AS BIGINT) AS n_nodes
FROM (
  SELECT {key}, count(*) AS deg FROM pairs GROUP BY {key}
) GROUP BY deg
"""


@query(
    "q_graph_powerlaw",
    # Hill MLE through the 9dp ln-contract with per-degree decimal
    # products (count × ln term — exact); the histogram OLS reuses the
    # q_text_heaps closed form; -0.0 is normalized on both sides.
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
hist AS (
  {_powerlaw_side_sql('o_custkey', 'customer')}
  UNION ALL
  {_powerlaw_side_sql('l_suppkey', 'supplier')}
),
hill AS (
  SELECT kind,
    CAST(sum(n_nodes) AS BIGINT) AS n_tail,
    CAST(max(deg) AS BIGINT) AS max_degree,
    sum(n_nodes * CAST(round(ln(deg * 1.0 / {_PL_DMIN}), 9)
                       AS DECIMAL(12,9))) AS slnd
  FROM hist WHERE deg >= {_PL_DMIN} GROUP BY kind
),
ols AS (
  SELECT kind,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
    CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM (
    SELECT kind,
      CAST(round(ln(deg), 9) AS DECIMAL(12,9)) AS x,
      CAST(round(ln(n_nodes), 9) AS DECIMAL(12,9)) AS y
    FROM hist
  ) GROUP BY kind
)
SELECT h.kind, h.n_tail, h.max_degree,
  CASE WHEN CAST(h.slnd AS DOUBLE) > 0
       THEN round(1.0 + h.n_tail / CAST(h.slnd AS DOUBLE), 6) + 0.0
  END AS alpha_hill,
  CASE WHEN o.n * o.sxx - o.sx * o.sx <> 0
       THEN round((o.n * o.sxy - o.sx * o.sy)
                  / (o.n * o.sxx - o.sx * o.sx), 6) + 0.0
  END AS ols_slope
FROM hill h JOIN ols o USING (kind)
ORDER BY kind
""",
)
def q_graph_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail diagnosis of the degree distribution, per graph side:
    the Hill maximum-likelihood tail exponent α (over degrees ≥ 2) and
    the classic log-log histogram OLS slope — the quantitative sequel
    to q_graph_degree's histogram. α ≲ 2 means infinite-variance
    hubbing (pair joins and LSH buckets WILL detonate without caps and
    salting: budget the guardrails), α ≳ 3 means near-random degree
    (caps are belt-and-suspenders). Publishing both estimators is
    deliberate: OLS-on-histogram is the eyeball-familiar number but
    biased; Hill is the estimator the heavy-tail literature trusts —
    when they disagree, trust Hill and suspect the histogram's tail
    binning.

    Scale shape: distinct-edge reduce, then degree = grouped count per
    side, then BOTH estimators are folds over the |distinct degrees|-
    bounded histogram (per-degree exact decimal products of count ×
    9dp-ln); one closed-form row per side. No joins on node-sized
    frames, no windows anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )

    def side(key: str, kind: str) -> DataFrame:
        return (
            pairs.groupBy(key)
            .agg(F.count(F.lit(1)).alias("deg"))
            .groupBy("deg")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .select(F.lit(kind).alias("kind"), "deg", "n_nodes")
        )

    hist = side("o_custkey", "customer").unionByName(
        side("l_suppkey", "supplier")
    ).localCheckpoint(eager=False)  # |degrees|-bounded; feeds both fits
    hill = (
        hist.filter(F.col("deg") >= _PL_DMIN)
        .groupBy("kind")
        .agg(
            F.sum("n_nodes").cast("long").alias("n_tail"),
            F.max("deg").cast("long").alias("max_degree"),
            F.sum(
                F.col("n_nodes")
                * F.round(F.log(F.col("deg") * 1.0 / _PL_DMIN), 9).cast(
                    "decimal(12,9)"
                )
            ).alias("slnd"),
        )
    )
    x = F.round(F.log("deg"), 9).cast("decimal(12,9)")
    y = F.round(F.log("n_nodes"), 9).cast("decimal(12,9)")
    ols = hist.groupBy("kind").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    return (
        hill.join(ols, "kind")
        .select(
            "kind",
            "n_tail",
            "max_degree",
            F.when(
                F.col("slnd").cast("double") > 0,
                F.round(
                    1.0 + F.col("n_tail") / F.col("slnd").cast("double"), 6
                )
                + 0.0,
            ).alias("alpha_hill"),
            F.when(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0,
                F.round(
                    (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / (
                        F.col("n") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ),
                    6,
                )
                + 0.0,
            ).alias("ols_slope"),
        )
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# Bipartite rich-club coefficient (hub-hub wiring vs background density)
# ---------------------------------------------------------------------------

_RC_KS = (2, 4, 8)


@query(
    "q_graph_rich_club",
    # Exact integers end to end: distinct edges, degree thresholds,
    # conditional edge counts; densities and the normalization are one
    # identical IEEE division chain per output row.
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_suppkey AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cd AS (SELECT u, CAST(count(*) AS BIGINT) AS du FROM pairs GROUP BY u),
sd AS (SELECT v, CAST(count(*) AS BIGINT) AS dv FROM pairs GROUP BY v),
e AS (
  SELECT p.u, p.v, cd.du, sd.dv
  FROM pairs p JOIN cd ON p.u = cd.u JOIN sd ON p.v = sd.v
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ne,
         CAST((SELECT count(*) FROM cd) AS BIGINT) AS nu,
         CAST((SELECT count(*) FROM sd) AS BIGINT) AS nv
  FROM e
),
k AS (SELECT unnest([{", ".join(str(k) for k in _RC_KS)}]) AS k),
rich AS (
  SELECT k.k,
         CAST(sum(CASE WHEN e.du >= k.k AND e.dv >= k.k
                  THEN 1 ELSE 0 END) AS BIGINT) AS ne_rich
  FROM e CROSS JOIN k GROUP BY k.k
),
rn AS (
  SELECT k.k,
         CAST((SELECT count(*) FROM cd WHERE du >= k.k) AS BIGINT)
           AS nu_rich,
         CAST((SELECT count(*) FROM sd WHERE dv >= k.k) AS BIGINT)
           AS nv_rich
  FROM k
)
SELECT CAST(r.k AS INT) AS k, rn.nu_rich, rn.nv_rich, r.ne_rich,
       round(CAST(r.ne_rich AS DOUBLE)
             / nullif(rn.nu_rich * rn.nv_rich, 0), 6) AS rich_density,
       round((CAST(r.ne_rich AS DOUBLE)
              / nullif(rn.nu_rich * rn.nv_rich, 0))
             / nullif(CAST(tot.ne AS DOUBLE) / (tot.nu * tot.nv), 0), 6)
         AS norm_ratio
FROM rich r JOIN rn ON r.k = rn.k CROSS JOIN tot
ORDER BY k
""",
)
def q_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite rich-club coefficient of the customer-supplier graph
    at degree thresholds {ks}: the edge density among nodes with
    degree ≥ k on BOTH sides, normalized by the overall bipartite
    density — norm_ratio ≫ 1 says hubs preferentially wire to hubs
    (order flow concentrates into a hub core: a resilience AND a
    skew-planning signal — the hub-hub block is where a salted join
    earns its keep), ≈ 1 says degree explains the wiring. Completes
    the degree-structure family: q_graph_degree gives the histogram,
    q_graph_assortativity the correlation, this the CORE's density.

    Scale shape: distinct-edge reduce, two node-keyed degree frames
    joined back edge-keyed (the assortativity shape), then each
    threshold is a conditional count over the degree-annotated edge
    list — one pass for all k via the bounded k fan-out; totals are
    grid aggregates. No pair enumeration anywhere — the rich-club
    numerator counts EDGES, never node pairs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("u"), F.col("l_suppkey").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # r12 perf pass: the old form aggregated e/cd/sd once for the
    # totals (ne/nu/nv) and AGAIN for the per-k rich counts — two
    # evaluations of the degree-annotated edge join and three of each
    # degree groupBy. The totals are just one more column of the same
    # pass, so they ride in the per-k aggregates, and the node-sized
    # degree frames are materialized once (lazy localCheckpoint —
    # node-bounded, the dimension-frame tradeoff used throughout this
    # module) instead of recomputing per reference.
    cd = (
        pairs.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("du"))
        .localCheckpoint(eager=False)  # joined edge-keyed + reduced
    )
    sd = (
        pairs.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("dv"))
        .localCheckpoint(eager=False)
    )
    e = pairs.join(cd, "u").join(sd, "v")
    rich = e.agg(
        F.count(F.lit(1)).cast("long").alias("ne"),
        *[
            F.sum(
                F.when((F.col("du") >= k) & (F.col("dv") >= k), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias(f"ne{k}")
            for k in _RC_KS
        ],
    )
    rn = cd.agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        *[
            F.sum(F.when(F.col("du") >= k, 1).otherwise(0))
            .cast("long")
            .alias(f"nu{k}")
            for k in _RC_KS
        ],
    ).crossJoin(
        sd.agg(
            F.count(F.lit(1)).cast("long").alias("nv"),
            *[
                F.sum(F.when(F.col("dv") >= k, 1).otherwise(0))
                .cast("long")
                .alias(f"nv{k}")
                for k in _RC_KS
            ],
        )
    )
    base = F.broadcast(rich).crossJoin(F.broadcast(rn))
    parts = []
    for k in _RC_KS:
        dens = F.col(f"ne{k}").cast("double") / F.nullif(
            F.col(f"nu{k}") * F.col(f"nv{k}"), F.lit(0)
        )
        rho = F.col("ne").cast("double") / F.nullif(
            F.col("nu") * F.col("nv"), F.lit(0)
        )
        parts.append(
            base.select(
                F.lit(k).cast("int").alias("k"),
                F.col(f"nu{k}").alias("nu_rich"),
                F.col(f"nv{k}").alias("nv_rich"),
                F.col(f"ne{k}").alias("ne_rich"),
                F.round(dens, 6).alias("rich_density"),
                F.round(dens / F.nullif(rho, F.lit(0.0)), 6).alias(
                    "norm_ratio"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("k")


q_graph_rich_club.__doc__ = q_graph_rich_club.__doc__.format(ks=_RC_KS)


# ---------------------------------------------------------------------------
# Average neighbor degree per degree class (assortativity curve)
# ---------------------------------------------------------------------------


@query(
    "q_graph_neighbor_degree",
    # Pure integer device: degrees are counts, the per-class reduce
    # sums neighbor degrees as BIGINTs, and the one division happens
    # per bounded degree-class row on identical integers.
    oracle="""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
e AS (
  SELECT du.d AS k, dv.d AS dv
  FROM edges
  JOIN deg du ON du.u = edges.u
  JOIN deg dv ON dv.u = edges.v
)
SELECT k AS degree,
       CAST(count(*) AS BIGINT) // k AS n_nodes,
       CAST(count(*) AS BIGINT) AS n_edge_ends,
       round(CAST(sum(dv) AS DOUBLE) / count(*), 6) AS avg_neighbor_degree,
       round(CAST(sum(dv) AS DOUBLE) / count(*) / k, 6) AS knn_over_k
FROM e GROUP BY k ORDER BY k
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_graph_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average neighbor degree per degree class k̄nn(k) over the
    customer↔supplier trade graph — the assortativity CURVE behind
    q_graph_assortativity's single coefficient: a falling k̄nn(k)
    (knn_over_k shrinking with k) is the disassortative hub-and-spoke
    signature (big suppliers trade with small customers), a flat or
    rising curve means peers trade with peers. This is the readout
    that says WHICH degree band drives the mixing coefficient, the
    same way q_graph_rich_club localizes the top-end.

    Scale shape: one distinct-pair reduce builds the edge list, one
    grouped count the degree frame; the two degree attachments are
    shuffle joins co-keyed on the node id (no adjacency lists
    materialized), and the final reduce is a bounded degree-class
    grid of exact integer sums — map-combinable end to end.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    edges = pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    deg = (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        # node-sized; both degree attachments below read it — without
        # this the edges groupBy re-evaluates per join leg (r12)
        .localCheckpoint(eager=False)
    )
    e = (
        edges.join(deg.withColumnRenamed("d", "k"), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v"
        )
    )
    return (
        e.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edge_ends"),
            F.sum("dv").cast("long").alias("sdv"),
        )
        .select(
            F.col("k").alias("degree"),
            # Exact integer division on BOTH sides (r11 ADVICE): the
            # double-division + truncating cast vs. DuckDB's rounding
            # CAST agreed only while the quotient was an exact
            # integer; `div` / `//` make the invariant structural.
            F.expr("n_edge_ends div k").alias("n_nodes"),
            "n_edge_ends",
            F.round(
                F.col("sdv").cast("double") / F.col("n_edge_ends"), 6
            ).alias("avg_neighbor_degree"),
            F.round(
                F.col("sdv").cast("double") / F.col("n_edge_ends") / F.col("k"),
                6,
            ).alias("knn_over_k"),
        )
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Degree-distribution inequality (network centralization via exact Gini)
# ---------------------------------------------------------------------------


@query(
    "q_graph_degree_gini",
    # Gini over GROUPED degree classes via the mean-absolute-difference
    # identity G = Σᵢⱼ mᵢmⱼ|dᵢ-dⱼ| / (2·n·Σmd) — every term an exact
    # integer on the bounded class grid; one double division at the end.
    oracle="""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
cls AS (SELECT d, CAST(count(*) AS BIGINT) AS m FROM deg GROUP BY d),
tot AS (
  SELECT CAST(sum(m) AS BIGINT) AS n_nodes,
         CAST(sum(m * d) AS BIGINT) AS sum_deg,
         CAST(count(*) AS BIGINT) AS n_classes,
         CAST(max(d) AS BIGINT) AS max_degree
  FROM cls
),
ps AS (
  SELECT CAST(sum(a.m * b.m * abs(a.d - b.d)) AS BIGINT) AS s
  FROM cls a CROSS JOIN cls b
)
SELECT t.n_nodes, t.n_classes, t.max_degree,
       round(CAST(t.sum_deg AS DOUBLE) / t.n_nodes, 6) AS mean_degree,
       round(CAST(ps.s AS DOUBLE)
             / (2e0 * t.n_nodes * t.sum_deg), 6) AS gini_degree
FROM tot t CROSS JOIN ps
WHERE t.sum_deg > 0
""",
)
def q_graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of the degree distribution over the
    customer↔supplier trade graph — the single-number centralization
    readout behind q_graph_powerlaw's tail fit and
    q_graph_rich_club's top-end density: Gini ≈ 0 is a regular mesh
    (every node trades with a similar number of partners), Gini → 1
    is a star economy where a few hubs hold all the edges. Tracked
    release-over-release it answers "is the marketplace centralizing"
    without fitting any distribution.

    Scale shape: the degree frame reduces to the bounded degree-CLASS
    grid (|distinct degrees| rows — hundreds at any corpus size), and
    the Gini rides the mean-absolute-difference identity as a
    broadcast cross of that bounded grid with itself: all-integer
    Σ mᵢmⱼ|dᵢ-dⱼ|, never a node-level pair enumeration, no sort, no
    unpartitioned window. Cost = the one edge reduce; everything
    after is constant-size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds both union legs
    )
    edges = pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    cls = (
        deg.groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .localCheckpoint(eager=False)  # bounded grid, read three times
    )
    tot = cls.agg(
        F.sum("m").cast("long").alias("n_nodes"),
        F.sum(F.col("m") * F.col("d")).cast("long").alias("sum_deg"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.max("d").cast("long").alias("max_degree"),
    )
    ps = (
        cls.alias("a")
        .crossJoin(F.broadcast(cls.alias("b")))
        .agg(
            F.sum(
                F.col("a.m")
                * F.col("b.m")
                * F.abs(F.col("a.d") - F.col("b.d"))
            )
            .cast("long")
            .alias("s")
        )
    )
    return (
        tot.crossJoin(F.broadcast(ps))
        .filter(F.col("sum_deg") > 0)
        .select(
            "n_nodes",
            "n_classes",
            "max_degree",
            F.round(
                F.col("sum_deg").cast("double") / F.col("n_nodes"), 6
            ).alias("mean_degree"),
            F.round(
                F.col("s").cast("double")
                / (F.lit(2.0) * F.col("n_nodes") * F.col("sum_deg")),
                6,
            ).alias("gini_degree"),
        )
    )


_CLO_ANCHORS = 8    # bounded anchor set: the K smallest node keys
_CLO_MAX_HOPS = 6   # same hop budget as q_graph_bfs


@query(
    "q_graph_closeness",
    # Multi-source BFS as ONE recursive fixpoint carrying (anchor,
    # node, dist); closeness/harmonic stay exact integers to the end
    # (Σ60/d is an integer for d ≤ 6 — LCM trick), so the only floats
    # are two final divisions.
    oracle=f"""
WITH RECURSIVE
op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sz AS (
  SELECT l_orderkey FROM op GROUP BY l_orderkey
  HAVING count(*) BETWEEN 2 AND {_BASKET_MAX_ITEMS}
),
ok AS (SELECT op.l_orderkey, op.l_partkey FROM op JOIN sz USING (l_orderkey)),
pr AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM ok a JOIN ok b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pr UNION SELECT v, u FROM pr
),
anchors AS (
  SELECT src AS a FROM (SELECT DISTINCT src FROM edges)
  ORDER BY src LIMIT {_CLO_ANCHORS}
),
reach AS (
  SELECT a AS anchor, a AS node, 0 AS dist FROM anchors
  UNION
  SELECT r.anchor, e.dst, r.dist + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.dist < {_CLO_MAX_HOPS}
),
best AS (
  SELECT anchor, node, CAST(min(dist) AS BIGINT) AS d
  FROM reach GROUP BY 1, 2
)
SELECT anchor,
       CAST(count(*) - 1 AS BIGINT) AS n_reached,
       CAST(sum(d) AS BIGINT) AS sum_dist,
       round(CASE WHEN sum(d) = 0 THEN 0.0e0
                  ELSE CAST(count(*) - 1 AS DOUBLE) / sum(d) END, 6)
         AS closeness,
       round(CAST(sum(CASE WHEN d > 0 THEN 60 // d ELSE 0 END) AS DOUBLE)
             / 60.0e0, 6) AS harmonic
FROM best GROUP BY anchor ORDER BY anchor
""",
)
def q_graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-set closeness centrality on the co-purchase support
    graph: hop-bounded ({hops} hops) closeness AND harmonic
    centrality for the {k} smallest node keys — "how central is this
    hub" where q_graph_bfs answers "how far is everything from ONE
    seed". Harmonic is the robust twin (unreached nodes contribute 0
    instead of poisoning the mean — the right form on disconnected
    graphs); reporting both makes the disagreement itself a
    fragmentation signal.

    Scale shape: ONE multi-source frontier loop — (anchor, node)
    pairs ride the same bounded join+anti-join rounds as q_graph_bfs
    (per-round cost ≤ anchors × frontier, anchors fixed at {k};
    localCheckpoint truncates lineage per round, the fixpoint-family
    discipline); the centrality arithmetic is exact integers end to
    end — Σ60/d is integral for every hop count ≤ 6 (LCM device), so
    both engines divide identical BIGINTs exactly twice.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Capped-basket pair mine (optimization r12): one exchange on the
    # order key + map-side triangular pair generation replaces the
    # r11 distinct -> count -> semi-join -> self-join preamble --
    # identical support pairs, two fewer data-sized exchanges (see
    # joins.basket_pairs for the measured A/B and the scale contract).
    pair_sup = basket_pairs(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    pr = (
        pair_sup.filter(F.col("sup") >= 2)
        .select("u", "v")
    )
    edges = (
        pr.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .union(pr.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    anchors = (
        edges.select("src").distinct().orderBy("src").limit(_CLO_ANCHORS)
    )
    visited = anchors.select(
        F.col("src").alias("anchor"),
        F.col("src").alias("node"),
        F.lit(0).alias("hops"),
    ).localCheckpoint(eager=False)
    frontier = visited
    # r12 job surgery, second pass: NO per-hop driver action — the hop
    # budget is a compile-time constant, so the loop only builds the
    # 6-round plan and the lazy checkpoints materialize in one cascade
    # under the final aggregate (was: one count per hop as an
    # early-exit probe; measured sf0.1 warm 2.9 -> 2.6 s, identical
    # rows). The probe-free form fits MULTI-source BFS specifically:
    # with {k} anchors the union frontier stays alive through the hop
    # budget (it only dies when every anchor's component is exhausted),
    # so the probe never fires and is pure driver overhead — contrast
    # q_graph_bfs, whose single seed exhausts early and keeps its
    # count/break. visited is a bounded union of the checkpointed
    # frontiers, no checkpoint of its own.
    for hop in range(1, _CLO_MAX_HOPS + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select("anchor", F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("anchor", "node"), ["anchor", "node"], "left_anti")
            .withColumn("hops", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    d = F.col("hops").cast("long")
    return (
        visited.groupBy("anchor")
        .agg(
            (F.count(F.lit(1)) - 1).cast("long").alias("n_reached"),
            F.sum(d).cast("long").alias("sum_dist"),
            F.round(
                F.when(F.sum(d) == 0, F.lit(0.0)).otherwise(
                    (F.count(F.lit(1)) - 1).cast("double") / F.sum(d)
                ),
                6,
            ).alias("closeness"),
            F.round(
                F.sum(F.when(d > 0, F.expr("60 div hops")).otherwise(0))
                .cast("double")
                / 60.0,
                6,
            ).alias("harmonic"),
        )
        .orderBy("anchor")
    )


q_graph_closeness.__doc__ = q_graph_closeness.__doc__.format(
    hops=_CLO_MAX_HOPS, k=_CLO_ANCHORS
)
