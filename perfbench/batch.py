"""The ``batch`` workload: closed-loop passes over registered queries.

One client runs the queries in sequential passes, in an order the seed
shuffles anew for every pass. The first pass in the fresh session is the
cold pass; three warm-up passes follow, then one sampled pass per 3 s of
``--seconds`` (at least three), a fixed amount of work. An execution is
``registry.get(q).fn(spark, dir)`` (the build: planning plus any eager jobs
the operator launches) followed by ``toPandas()`` (the action), which
delivers the result to the client. The queries return at most a few
thousand rows, so the action is dominated by the query's own jobs, not by
the transfer. Every result of every pass is compared with the query's
DuckDB oracle after the window.

In the traced run every second sampled pass is traced: each query's build
and action run under their own Spark job group, and the status store is
read after the window. Untraced passes interleave with them, so the two
pass-time means give the tracing overhead.
"""

from __future__ import annotations

import math
import random
import statistics
import time

import datagen
from tracing import union_length

# query -> (group, scale factor). The scan group is execution-bound: its
# time goes to scans, a join, aggregates and an LLM operator. The
# iterative group is build-bound: k-core launches one eager job per
# fixpoint round while its plan is built.
QUERIES = {
    "q_tpch_q3": ("scan", 0.01),
    "q_dedup_minhash": ("scan", 0.01),
    "q_graph_kcore": ("iterative", 0.001),
}
WARMUP_PASSES = 3  # after the cold pass, not sampled
# Pass times fall for three to four passes after the cold pass while the
# JIT compiles, and a slow run compiles more slowly. A time window would
# sample more of those early passes on a slow run and amplify its
# slowness, so the window is a fixed number of passes: one per PASS_S of
# --seconds, the warm pass time with two task slots.
PASS_S = 3.0


def _oracle_failures(dirs: dict, results: dict, oracles: dict, log) -> int:
    """Compare every collected result with its query's DuckDB oracle, over
    the same tables; count the executions whose result differs."""
    import duckdb
    from check_oracle import canon_rows

    failed = 0
    for q, runs in results.items():
        with duckdb.connect() as con:
            for t in datagen.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dirs[q]}/{t}.parquet')")
            try:
                want = canon_rows(con.sql(oracles[q]).df())
            except duckdb.Error as exc:  # an oracle that cannot run fails every check
                log(f"oracle error {q}: {exc}")
                failed += len(runs)
                continue
        for i, sdf in enumerate(runs):
            if canon_rows(sdf) != want:
                log(f"oracle mismatch {q} (execution {i}): spark {len(sdf)} rows, "
                    f"duckdb {sum(want[1].values())} rows")
                failed += 1
    return failed


def run(ctx) -> dict:
    from asyncdatapipeline_spark import registry

    for sf in sorted({sf for _, sf in QUERIES.values()}):
        datagen.generate(str(ctx.work / f"sf{sf}"), sf, ctx.seed)
    dirs = {q: str(ctx.work / f"sf{sf}") for q, (_, sf) in QUERIES.items()}
    spark, rng = ctx.spark, random.Random(ctx.seed)
    queries = list(QUERIES)
    fns = {q: registry.get(q).fn for q in queries}
    attempted = failed = 0
    results: dict[str, list] = {q: [] for q in queries}
    samples: dict[str, list[float]] = {q: [] for q in queries}
    passes = []  # (wall_s, traced, start, [(rid, t0, t1, t2)])
    # Pass 0 is the cold pass, then the warm-up passes, then the sampled ones.
    n_pre = 1 + WARMUP_PASSES
    for k in range(n_pre + max(3, round(ctx.seconds / PASS_S))):
        traced = ctx.trace and k >= n_pre and (k - n_pre) % 2 == 1
        rng.shuffle(queries)
        recs = []
        p0 = time.perf_counter()
        for q in queries:
            attempted += 1
            rid = f"p{k}:{q}"
            t0 = time.perf_counter()
            try:
                if traced:
                    ctx.layers.set_group(rid + ":build")
                df = fns[q](spark, dirs[q])
                t1 = time.perf_counter()
                if traced:
                    ctx.layers.set_group(rid + ":action")
                results[q].append(df.toPandas())
                t2 = time.perf_counter()
            except Exception as exc:
                ctx.log(f"pass {k} {q} failed: {exc!r}")
                failed += 1
                continue
            finally:
                if traced:
                    ctx.layers.set_group(None)
            if k >= n_pre:
                samples[q].append(t2 - t0)
            recs.append((rid, t0, t1, t2))
        passes.append((time.perf_counter() - p0, traced, p0, recs))

    t0 = time.perf_counter()
    failed += _oracle_failures(dirs, results, registry.all_oracles(), ctx.log)
    ctx.log(f"oracle check {time.perf_counter() - t0:.2f}s")

    warm = [p for p in passes[n_pre:] if not p[1]]
    medians = [statistics.median(s) for s in samples.values() if s]
    metrics = {
        "cold_s": passes[0][0],
        "throughput_per_s": len(queries) / statistics.median(p[0] for p in warm),
        "latency_p50_s": _geomean(medians),
        "latency_tail_s": max(medians),
    }
    ctx.log(f"batch: cold pass {passes[0][0]:.2f}s, warm passes "
            + " ".join(f"{p[0]:.2f}" for p in passes[1:]) + "; per-query samples "
            + " ".join(f"{q}=" + ",".join(f"{x:.3f}" for x in s) for q, s in samples.items()))
    layers = {}
    if ctx.trace:
        layers = _layers(ctx, passes, n_pre)
        for group in ("scan", "iterative"):
            ms = [statistics.median(samples[q]) for q, (g, _) in QUERIES.items() if g == group]
            layers[f"batch.{group}_query_s"] = _geomean(ms)
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "layers": layers}


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def _layers(ctx, passes, n_pre) -> dict:
    """Per-pass means of the traced passes' layer totals."""
    stages = ctx.layers.stages()
    offset = time.time() - time.perf_counter()
    tot = {k: 0.0 for k in (
        "build_s", "build_jobs", "action_s", "action_jobs", "stages", "tasks",
        "single_task_stages", "run_s", "cpu_s", "input_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "driver_only_s", "query_s")}
    traced = [p for p in passes if p[1]]
    for wall, _, p0, recs in traced:
        pi = ctx.tracer.add("pass", f"pass@{p0:.3f}", p0, p0 + wall)
        for rid, t0, t1, t2 in recs:
            qi = ctx.tracer.add("query", rid, t0, t2, pi)
            ctx.tracer.add("build", rid, t0, t1, qi)
            ctx.tracer.add("action", rid, t1, t2, qi)
            b = ctx.layers.group_summary(rid + ":build", stages)
            a = ctx.layers.group_summary(rid + ":action", stages)
            tot["build_s"] += t1 - t0
            tot["action_s"] += t2 - t1
            tot["query_s"] += t2 - t0
            tot["build_jobs"] += b["jobs"]
            tot["action_jobs"] += a["jobs"]
            for k in ("stages", "tasks", "single_task_stages", "run_s", "cpu_s",
                      "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                tot[k] += b[k] + a[k]
            busy = union_length(b["intervals"] + a["intervals"], t0 + offset, t2 + offset)
            tot["driver_only_s"] += (t2 - t0) - busy
    n = len(traced)
    plain = [p[0] for p in passes[n_pre:] if not p[1]]
    out = {
        "operators.build_s": tot["build_s"] / n,
        "operators.build_jobs": tot["build_jobs"] / n,
        "spark.driver_only_s": tot["driver_only_s"] / n,
        "spark.action_s": tot["action_s"] / n,
        "spark.action_jobs": tot["action_jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.single_task_stages": tot["single_task_stages"] / n,
        "spark.executor_run_s": tot["run_s"] / n,
        "spark.executor_cpu_s": tot["cpu_s"] / n,
        "spark.busy_ratio": tot["run_s"] / (tot["query_s"] * ctx.cores),
        "spark.input_bytes": tot["input_bytes"] / n,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "batch.accounted_ratio": tot["query_s"] / sum(p[0] for p in traced),
        "batch.trace_overhead_ratio": (statistics.fmean(p[0] for p in traced)
                                       / statistics.fmean(plain)),
    }
    return out
