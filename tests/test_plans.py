"""Plan-shape regression gate: every check in plans/audit.py must hold.

The audit CLI (tools/audit_plans.py) is the interactive loop; this test
makes the same checks part of the pytest gate so a plan regression (lost
pushdown, a broadcast that became a sort-merge, a WindowGroupLimit that
stopped firing) fails CI, not just a manual run. Runs at sf0.001 — plan
*shapes* are scale-invariant here (all dims stay under the broadcast
threshold at every fixture SF).
"""

from __future__ import annotations

import pytest

from asyncdatapipeline_spark.plans.audit import run_audit


def test_all_plan_checks_hold(spark, sf_dir):
    failures = [
        f"{name}: {desc}" for name, desc, ok in run_audit(spark, sf_dir) if not ok
    ]
    assert not failures, f"plan checks failed: {failures}"


@pytest.mark.heavy
def test_no_unpartitioned_windows_registry_wide(spark, sf_dir):
    """r8 verdict #1: a registry-wide assertion that NO query plans a
    Window/WindowGroupLimit with an empty or all-foldable partition
    spec (single-partition execution + `WindowExec: No Partition
    Defined`). Round 7 claimed this class closed, but the check was
    per-query regexes — q_ts_runs_test's `c * 0` keys constant-folded
    (non-nullable count) and the audit couldn't see it. This walks the
    OPTIMIZED logical plan (post-folding) of every registered query;
    bounded-frame windows must ride the fold-proof `bounded_part` key,
    and any deliberate exception must be in WINDOW_SCAN_ALLOWLIST with
    a reason."""
    from asyncdatapipeline_spark.plans.audit import (
        WINDOW_SCAN_ALLOWLIST,
        scan_registry_windows,
    )

    offenders = scan_registry_windows(spark, sf_dir)
    bad = {k: v for k, v in offenders.items() if k not in WINDOW_SCAN_ALLOWLIST}
    assert not bad, f"unpartitioned windows outside allowlist: {bad}"


def test_sql_pipe_plans_identically_to_ansi(spark, sf_dir):
    """q_sql_pipe's claim: pipe syntax is pure parse-time sugar — the
    optimized plan must contain the same operator sequence as the ANSI
    form (same join strategy, same aggregate, same pushed filters)."""
    import re

    from asyncdatapipeline_spark import registry

    pipe_df = registry.get("q_sql_pipe").fn(spark, sf_dir)
    ansi_df = spark.sql(registry.all_oracles()["q_sql_pipe"])

    def shape(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # operator names only: strip expression ids / literals
        return [
            re.match(r"[+\- :]*([A-Za-z]+)", ln).group(1)
            for ln in plan.splitlines()
            if re.match(r"[+\- :]*[A-Za-z]", ln)
        ]

    assert shape(pipe_df) == shape(ansi_df)


def _physical(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_repair_opt_outs_carry_no_roundrobin_exchange(spark, sf_dir):
    """Every query registered with ``scan_repair=False`` (the reasons sit
    beside each decorator; the classes are in the registry.query
    docstring) plans no round-robin repair exchange, so a refactor can't
    silently re-enable the repair on them."""
    from asyncdatapipeline_spark import registry

    registry._load_all()
    names = [n for n, qd in registry._REGISTRY.items() if not qd.scan_repair]
    # the plan-shape and row-identity opt-outs, and a measured one
    assert {"q_graph_pagerank", "q_join_bloom", "q_unpivot", "q_scan_files"} <= set(
        names
    )
    bad = [
        name
        for name in names
        if "RoundRobinPartitioning"
        in _physical(registry.get(name).fn(spark, sf_dir))
    ]
    assert not bad, f"repair re-enabled on opted-out queries: {bad}"


def test_repair_still_engages_for_compute_heavy_scans(spark, sf_dir):
    """The inverse gate: the measured repair winners (single-task scan
    feeding heavy map-side compute) must KEEP the round-robin repair —
    sf0.001 lineitem is over the 2000-row floor and single-row-group,
    so the repair fires at any realistic test core count."""
    from asyncdatapipeline_spark import registry

    for name in ("q_ml_vif", "q_agg_winsorized_corr"):
        assert registry.get(name).scan_repair, f"{name} opted out"
        plan = _physical(registry.get(name).fn(spark, sf_dir))
        assert "RoundRobinPartitioning" in plan, f"{name} lost the repair"


def _lineitem_plan(spark, sf_dir) -> str:
    from asyncdatapipeline_spark.sources.tables import load_table

    return _physical(load_table(spark, sf_dir, "lineitem"))


def test_scan_repair_setting_is_scoped_to_one_build(spark, sf_dir):
    """The opt-out rides the query's own function, not the registry
    lookup, and ends with its build: a plain load_table afterwards (also
    after an opted-out build that raised) repairs again."""
    from asyncdatapipeline_spark import registry
    from asyncdatapipeline_spark.operators.scans import q_scan_files
    from asyncdatapipeline_spark.sources.tables import SCAN_REPAIR

    df = q_scan_files(spark, sf_dir)
    assert "RoundRobinPartitioning" not in _physical(df)
    files = [r.file for r in df.select("file").collect()]
    assert files and all(files), files
    assert "RoundRobinPartitioning" in _lineitem_plan(spark, sf_dir)

    @registry.query("_t_raises_in_build", scan_repair=False)
    def raises(spark, sf_dir):
        assert not SCAN_REPAIR.get()
        raise RuntimeError("build failed")

    try:
        with pytest.raises(RuntimeError):
            raises(spark, sf_dir)
    finally:
        registry._REGISTRY.pop("_t_raises_in_build")
    assert SCAN_REPAIR.get()
    assert "RoundRobinPartitioning" in _lineitem_plan(spark, sf_dir)


def test_repair_split_estimate_reads_session_max_partition_bytes(spark, tmp_path):
    """A file Spark already splits (8+ row groups at a 1k split size) is
    left alone: the natural-split estimate reads
    ``spark.sql.files.maxPartitionBytes`` from the session rather than
    assuming 128 MB."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    par = spark.sparkContext.defaultParallelism
    groups = max(8, -(-par // 2))
    rows = 4_000
    pq.write_table(
        pa.table({"l_orderkey": list(range(rows))}),
        tmp_path / "lineitem.parquet",
        row_group_size=-(-rows // groups),
    )
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        plan = _lineitem_plan(spark, str(tmp_path))
    finally:
        spark.conf.set(key, prev)
    assert "RoundRobinPartitioning" not in plan
