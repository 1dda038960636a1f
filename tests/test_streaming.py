"""Streaming-operator runtime tests (SURVEY.md §2B B4-B8, B44-B50).

Pattern: replay fixture rows through a file stream (each parquet file =
one micro-batch) or the collect_func pull source, drive to completion
with processAllAvailable, then assert batch/stream equivalence — the
same expression computed in batch mode is the oracle (SURVEY.md §5).
"""

from __future__ import annotations

import time

import pandas as pd
import pytest

from pyspark.sql import functions as F

from asyncdatapipeline_spark.sources.pull_source import collect_func_stream


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from asyncdatapipeline_spark.sources.tables import load_table

    # load_table converts the ns-parquet ts to a µs TimestampType —
    # required for watermarks (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    return load_table(spark, sf_dir, "events").limit(400).cache()


@pytest.fixture()
def stream_src(spark, events, tmp_path):
    """events replayed as a file stream in two micro-batches."""
    path = str(tmp_path / "src")
    a, b = events.randomSplit([0.5, 0.5], seed=7)
    a.coalesce(1).write.mode("overwrite").parquet(path)
    b.coalesce(1).write.mode("append").parquet(path)
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def run_to_memory(df, name, mode="append", timeout=60):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(timeout)


# -- B5: rate source smoke ------------------------------------------------


def test_rate_source(spark):
    src = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    q = src.writeStream.format("memory").queryName("rate_out").start()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if spark.sql("SELECT count(*) c FROM rate_out").first()["c"] > 0:
            break
        time.sleep(0.2)
    q.stop()
    assert spark.sql("SELECT count(*) c FROM rate_out").first()["c"] > 0


# -- B6: collect_func pull source (CollectFunc adapter) -------------------


def test_pull_source_collect_func(spark):
    state = {"n": 0}  # revived (with the closure) inside the source runner

    def collect():
        if state["n"] < 3:
            base = state["n"] * 10
            state["n"] += 1
            return [(base + i, f"value_{base + i}") for i in range(10)]
        return None  # no new data, forever after

    src = collect_func_stream(spark, collect, "id long, value string")
    q = src.writeStream.format("memory").queryName("pull_out").start()
    deadline = time.monotonic() + 45
    while time.monotonic() < deadline:
        if spark.sql("SELECT count(*) c FROM pull_out").first()["c"] >= 30:
            break
        time.sleep(0.3)
    q.stop()
    out = spark.sql("SELECT * FROM pull_out").collect()
    assert len(out) == 30
    assert {r["id"] for r in out} == set(range(30))


# -- B44: tumbling window + watermark, stream == batch --------------------


def test_tumbling_watermark_equivalence(spark, events, stream_src):
    agg = (
        stream_src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    run_to_memory(agg, "tumb_out", mode="update")
    got = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.sql(
            "SELECT ws, event_type, max(n) n FROM tumb_out GROUP BY ws, event_type"
        ).collect()
    }
    want = {
        (r["ws"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.window("ts", "6 hours").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    }
    assert got == want


# -- B45: sliding window, stream == batch ---------------------------------


def test_sliding_window_equivalence(spark, events, stream_src):
    agg = (
        stream_src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "12 hours", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    run_to_memory(agg, "slide_out", mode="update")
    got = {
        r["ws"]: r["n"]
        for r in spark.sql(
            "SELECT ws, max(n) n FROM slide_out GROUP BY ws"
        ).collect()
    }
    want = {
        r["ws"]: r["n"]
        for r in events.groupBy(F.window("ts", "12 hours", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
        .collect()
    }
    assert got == want


# -- B46: session window in streaming mode --------------------------------


def test_session_window_stream(spark, events, stream_src):
    agg = (
        stream_src.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("ss"), "n")
    )
    run_to_memory(agg, "sess_out")
    total = spark.sql("SELECT sum(n) s FROM sess_out").first()["s"]
    # append mode emits only watermark-closed sessions; with a 1-minute
    # delay on a finite replay everything but the trailing sessions
    # closes — allow the tail to still be open.
    assert total is not None and total > 0
    batch_total = events.count()
    assert total <= batch_total


# -- B47: streaming dedup within watermark --------------------------------


def test_drop_duplicates_within_watermark(spark, events, tmp_path):
    path = str(tmp_path / "dupsrc")
    dup = events.union(events)  # every event twice
    dup.coalesce(1).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    src = spark.readStream.schema(schema).parquet(path)
    dedup = src.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    run_to_memory(dedup, "dedup_out")
    n = spark.sql("SELECT count(*) c FROM dedup_out").first()["c"]
    assert n == events.count()


# -- B48: stateful per-key running aggregation ----------------------------


def test_stateful_running_count(spark, events, stream_src):
    from pyspark.sql.streaming.state import GroupStateTimeout

    def running(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    out = (
        stream_src.groupBy("user_id")
        .applyInPandasWithState(
            running,
            outputStructType="user_id long, n long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    run_to_memory(out, "state_out", mode="update")
    got = {
        r["user_id"]: r["n"]
        for r in spark.sql(
            "SELECT user_id, max(n) n FROM state_out GROUP BY user_id"
        ).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


# -- B49: late-data drop --------------------------------------------------


def test_late_data_dropped(spark, events, tmp_path):
    path = str(tmp_path / "latesrc")
    on_time = events
    max_ts = on_time.agg(F.max("ts")).first()[0]
    # one very late event: 10 days before the stream's max ts — far
    # behind the 1-minute watermark once batch 1 commits
    late = spark.createDataFrame(
        [(999_999, max_ts - pd.Timedelta(days=10), 1, "late", 1.0, "{}")],
        schema=on_time.schema,
    )
    on_time.coalesce(1).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    agg = (
        src.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    q.processAllAvailable()  # batch 1: watermark advances to max_ts - 1min
    late.coalesce(1).write.mode("append").parquet(path)
    q.processAllAvailable()  # batch 2: late row behind watermark → dropped
    q.stop()
    late_ws = spark.sql(
        "SELECT sum(n) s FROM late_out WHERE ws < timestamp '2024-01-15 00:00:00'"
    )
    # the late window (10 days early ≈ 2024-01-20 minus 10d) must not appear
    total = spark.sql("SELECT sum(n) s FROM late_out").first()["s"]
    assert total == events.count()  # late row contributed nothing


# -- B50: stream-static join ----------------------------------------------


def test_stream_static_join(spark, events, stream_src, sf_dir):
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    joined = stream_src.join(
        F.broadcast(customer),
        stream_src.user_id == customer.c_custkey,
        "inner",
    ).select("event_id", "user_id", "c_name")
    run_to_memory(joined, "ssj_out")
    got = spark.sql("SELECT count(*) c FROM ssj_out").first()["c"]
    want = (
        events.join(customer, events.user_id == customer.c_custkey, "inner").count()
    )
    assert got == want


# -- stream-stream join (watermarked, time-interval condition) ------------


def test_stream_stream_join(spark, events, tmp_path):
    """Views ⋈ purchases per user within 24h — the canonical watermarked
    stream-stream inner join. Both sides carry watermarks so the state
    store can evict; the time-interval condition bounds buffering. Batch
    mode computing the identical join is the oracle."""
    path = str(tmp_path / "ssj2")
    events.coalesce(1).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema

    def side(event_type, alias_prefix):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
            .filter(F.col("event_type") == event_type)
        )
        return s.select(
            F.col("event_id").alias(f"{alias_prefix}_id"),
            F.col("user_id").alias(f"{alias_prefix}_user"),
            F.col("ts").alias(f"{alias_prefix}_ts"),
        ).withWatermark(f"{alias_prefix}_ts", "1 hour")

    views, purchases = side("view", "v"), side("purchase", "p")
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS")),
    ).select("v_id", "p_id")
    run_to_memory(joined, "ss_join_out")
    got = spark.sql("SELECT count(*) c FROM ss_join_out").first()["c"]

    ev = events
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    want = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS")),
    ).count()
    assert got == want > 0


# -- B48 (Spark 4.x API): transformWithStateInPandas ----------------------


def _protobuf_available() -> bool:
    # transformWithStateInPandas talks to a JVM-side state server over a
    # protobuf protocol; the python 'protobuf' package is not installed
    # in this container (applyInPandasWithState above needs no protobuf
    # and covers the same contract). Re-probed r11 and r12
    # (`import google.protobuf` → ModuleNotFoundError; pip install is
    # out of scope per environment rules) — the skip stands until the
    # container gains the package.
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas requires python protobuf (not in container)",
)
def test_transform_with_state_running_sum(spark, events, stream_src):
    """Same per-key running aggregation as test_stateful_running_count,
    on the Spark 4.x stateful API (transformWithStateInPandas with a
    StatefulProcessor + typed ValueState)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    class RunningSum(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "acc",
                StructType(
                    [
                        StructField("n", LongType()),
                        StructField("total", DoubleType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._state.get() if self._state.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total": [total]}
            )

        def close(self) -> None:
            pass

    out = stream_src.groupBy("user_id").transformWithStateInPandas(
        RunningSum(),
        outputStructType="user_id long, n long, total double",
        outputMode="Update",
        timeMode="None",
    )
    run_to_memory(out, "tws_out", mode="update")
    got = {
        (r["user_id"], r["n"], round(r["total"], 6))
        for r in spark.sql(
            "SELECT user_id, max(n) n, max(total) total FROM tws_out GROUP BY user_id"
        ).collect()
    }
    want = {
        (r["user_id"], r["n"], round(r["total"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want


# -- B8: checkpointed parquet sink, exactly-once across restart -----------


def test_parquet_sink_exactly_once_across_restart(spark, events, tmp_path):
    """File sink + checkpoint = exactly-once delivery across query
    restarts: stop after batch 1, append more input, restart from the
    same checkpoint, and the output must contain every event exactly
    once — the durability contract the reference's at-most-once
    driver loop (SURVEY.md §7.3) cannot give."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first, second = events.randomSplit([0.5, 0.5], seed=11)
    first.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    second.coalesce(1).write.mode("append").parquet(src)
    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    got = spark.read.parquet(out)
    assert got.count() == events.count()  # nothing lost, nothing doubled
    assert got.select("event_id").distinct().count() == events.count()


def test_collect_func_batch_drains_until_none(spark):
    """Batch mode of the pull source: drain fn() until None, one shot
    (the reference's finite-run tests over spark.read)."""
    from asyncdatapipeline_spark.sources.pull_source import collect_func_batch

    def make_fn(n_batches=3, rows_per=4):
        state = {"i": 0}

        def fn():
            if state["i"] >= n_batches:
                return None
            state["i"] += 1
            base = (state["i"] - 1) * rows_per
            return [(base + j, f"value_{base + j}") for j in range(rows_per)]

        return fn

    df = collect_func_batch(spark, make_fn(), "id long, value string")
    rows = sorted(r["id"] for r in df.collect())
    assert rows == list(range(12))
    # max_pulls bounds a source that never dries up
    df2 = collect_func_batch(
        spark, lambda: [(0, "x")], "id long, value string", max_pulls=5
    )
    assert df2.count() == 5


def test_range_pull_batch_parallel_partitions(spark):
    """The splittable pull source must scan with >1 input partition
    (parallel ingest — the single-runner CollectFunc reader can't) and
    reproduce exactly the id range's rows."""
    from pyspark.sql import functions as F

    from asyncdatapipeline_spark.sources.pull_source import range_pull_batch

    def fetch(lo, hi):
        return [(i, f"value_{i}") for i in range(lo, hi)]

    df = range_pull_batch(
        spark, fetch, total=1000, n_splits=8, schema="id long, value string"
    )
    n_parts = df.select(
        F.spark_partition_id().alias("p")
    ).distinct().count()
    assert n_parts > 1, "splittable source must produce >1 input partition"
    got = sorted((r["id"], r["value"]) for r in df.collect())
    assert got == [(i, f"value_{i}") for i in range(1000)]
    # uneven split: total not divisible by n_splits loses no rows
    df2 = range_pull_batch(spark, fetch, total=103, n_splits=4)
    assert sorted(r["id"] for r in df2.collect()) == list(range(103))


# -- Layer A × Layer B: streaming curation gate ---------------------------


def test_streaming_curation_matches_batch(spark, sf_dir, tmp_path):
    """The quality → split curation gate run per micro-batch via
    foreachBatch must produce exactly the batch run's rows — Layer A
    (the reference's collect/process runtime = the micro-batch loop)
    composed with Layer B (the curation operators), SURVEY.md §5
    batch/stream equivalence doctrine."""
    from asyncdatapipeline_spark.sources.tables import load_table
    from asyncdatapipeline_spark.streaming.curation import (
        curation_gate,
        start_curation_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    src_path = str(tmp_path / "docs_src")
    a, b = docs.randomSplit([0.5, 0.5], seed=11)
    a.coalesce(1).write.mode("overwrite").parquet(src_path)
    b.coalesce(1).write.mode("append").parquet(src_path)

    schema = spark.read.parquet(src_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_path)
    )
    sink = str(tmp_path / "curated")
    q = start_curation_stream(stream, sink, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    streamed = spark.read.parquet(sink)
    batch = curation_gate(docs)

    assert streamed.select("batch_id").distinct().count() >= 2, (
        "source must have replayed as multiple micro-batches"
    )
    s_rows = {
        tuple(r) for r in streamed.drop("batch_id").collect()
    }
    b_rows = {tuple(r) for r in batch.collect()}
    assert s_rows == b_rows, (
        f"stream/batch divergence: {len(s_rows ^ b_rows)} differing rows"
    )
    # The gate actually gates: survivors are a proper, non-empty subset.
    assert 0 < len(b_rows) < docs.count()


def test_gate_exprs_built_once_per_gateway(spark, monkeypatch):
    """The gate's Column lists are built once per JVM gateway and shared:
    every call returns the same tuple until the gateway changes."""
    from pyspark import SparkContext

    from asyncdatapipeline_spark.llm.filtering import split_exprs
    from asyncdatapipeline_spark.llm.text import quality_exprs

    for exprs in (quality_exprs, split_exprs):
        first = exprs()
        assert isinstance(first, tuple) and exprs() is first
        monkeypatch.setattr(SparkContext, "_gateway", object())
        rebuilt = exprs()
        assert rebuilt is not first and len(rebuilt) == len(first)
        monkeypatch.undo()
        assert exprs() is not rebuilt and exprs() is exprs()


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir, tmp_path):
    """New documents streamed micro-batch-by-micro-batch against the
    persisted signature store must find exactly the pairs the batch
    q_dedup_incremental run finds — the store composes with the
    micro-batch loop because each batch's signatures are independent
    (map-only) and the store is static within a drop."""
    from asyncdatapipeline_spark import registry
    from asyncdatapipeline_spark.llm.dedup import (
        _STORE_MOD,
        ensure_signature_store,
    )
    from asyncdatapipeline_spark.sources.tables import load_table
    from asyncdatapipeline_spark.streaming.curation import (
        start_incremental_dedup_stream,
    )

    store = spark.table(ensure_signature_store(spark, sf_dir))
    new_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _STORE_MOD == 0
    )
    src_path = str(tmp_path / "drops")
    a, b = new_docs.randomSplit([0.5, 0.5], seed=13)
    a.coalesce(1).write.mode("overwrite").parquet(src_path)
    b.coalesce(1).write.mode("append").parquet(src_path)

    schema = spark.read.parquet(src_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_path)
    )
    sink = str(tmp_path / "pairs")
    q = start_incremental_dedup_stream(
        stream, store, sink, str(tmp_path / "ckpt2")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    streamed = {tuple(r) for r in spark.read.parquet(sink).collect()}
    batch = {
        tuple(r)
        for r in registry.get("q_dedup_incremental").fn(spark, sf_dir).collect()
    }
    assert streamed == batch, (
        f"stream/batch divergence: {len(streamed ^ batch)} differing pairs"
    )


def test_semantic_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming twin of q_dedup_semantic_incremental: the same
    cell-keyed join driven by the micro-batch loop must produce the
    same per-vector verdicts as the batch call."""
    from asyncdatapipeline_spark.llm.dedup import (
        _STORE_MOD,
        _semantic_keyed_frame,
    )
    from asyncdatapipeline_spark.llm.similarity import _ivf_centroids, _as_double
    from asyncdatapipeline_spark.sources.tables import load_table
    from asyncdatapipeline_spark.streaming.curation import (
        start_semantic_dedup_stream,
    )

    keyed = _semantic_keyed_frame(spark, sf_dir)
    store_cells = keyed.filter(F.col("vec_id") % _STORE_MOD != 0)
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "v", _as_double(F.col("embedding"))
    )
    centers = _ivf_centroids(spark, sf_dir, e)

    new_vecs = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _STORE_MOD == 0
    )
    src_path = str(tmp_path / "vec_drops")
    a, b = new_vecs.randomSplit([0.5, 0.5], seed=7)
    a.coalesce(1).write.mode("overwrite").parquet(src_path)
    b.coalesce(1).write.mode("append").parquet(src_path)

    schema = spark.read.parquet(src_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_path)
    )
    sink = str(tmp_path / "verdicts")
    q = start_semantic_dedup_stream(
        stream, store_cells, centers, sink, str(tmp_path / "ckpt_sem")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    streamed = {
        (r["vec_id"], r["cell"], r["n_matches"], r["is_dup"])
        for r in spark.read.parquet(sink).collect()
    }
    from asyncdatapipeline_spark import registry as _registry

    batch = {
        (r["vec_id"], r["cell"], r["n_matches"], r["is_dup"])
        for r in _registry.get("q_dedup_semantic_incremental")
        .fn(spark, sf_dir)
        .collect()
    }
    assert streamed == batch, (
        f"stream/batch divergence: {len(streamed ^ batch)} differing verdicts"
    )


def test_stream_stream_left_outer_join(spark, events, tmp_path):
    """B50b's OUTER sibling: watermarked stream-stream LEFT OUTER join.
    The semantics the inner form never exercises: an unmatched left row
    is held in state and emitted NULL-PADDED only once the watermark
    proves no match can still arrive — so a flush file (far-future rows
    on both sides) must advance the watermark before the tail of the
    left side finalizes. Batch mode computing the identical left join
    is the oracle."""
    import datetime

    path = str(tmp_path / "ssloj")
    events.coalesce(1).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    far = events.agg(F.max("ts")).first()[0] + datetime.timedelta(days=30)
    flush = spark.createDataFrame(
        [
            tuple(
                {
                    "event_id": 999901 + i,
                    "ts": far,
                    "user_id": 999901 + i,
                    "event_type": t,
                    "value": 0.0,
                    "props": "{}",
                }[f.name]
                for f in schema.fields
            )
            for i, t in enumerate(["view", "purchase"])
        ],
        schema=schema,
    )
    flush.coalesce(1).write.mode("append").parquet(path)

    def side(event_type, p):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
            .filter(F.col("event_type") == event_type)
        )
        return s.select(
            F.col("event_id").alias(f"{p}_id"),
            F.col("user_id").alias(f"{p}_user"),
            F.col("ts").alias(f"{p}_ts"),
        ).withWatermark(f"{p}_ts", "1 hour")

    cond = lambda: (  # noqa: E731
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS"))
    )
    joined = (
        side("view", "v")
        .join(side("purchase", "p"), cond(), "left_outer")
        .select("v_id", "p_id")
    )
    run_to_memory(joined, "ss_loj_out")
    got = {
        (r["v_id"], r["p_id"])
        for r in spark.sql(
            "SELECT v_id, p_id FROM ss_loj_out WHERE v_id < 999900"
        ).collect()
    }

    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    want = {
        (r["v_id"], r["p_id"])
        for r in v.join(p, cond(), "left_outer").select("v_id", "p_id").collect()
    }
    assert got == want
    # the left-outer semantics actually fired: some views have no
    # purchase within the window and must appear null-padded
    assert any(pid is None for _, pid in got)


def test_streaming_cdc_apply_matches_batch(spark, tmp_path):
    """The CDC feed split into arbitrary micro-batches (random halves,
    so seq order is NOT respected across batches) must converge the
    maintained state to exactly q_cdc_apply's batch result — max_by
    latest-wins is associative/commutative in seq."""
    from asyncdatapipeline_spark import registry
    from asyncdatapipeline_spark.operators.cdc import cdc_feed
    from asyncdatapipeline_spark.streaming.curation import (
        read_cdc_state,
        start_cdc_apply_stream,
    )

    sf = "/root/testdata/sf0.001"
    feed = cdc_feed(spark, sf)
    src = str(tmp_path / "feed")
    a, b = feed.randomSplit([0.5, 0.5], seed=7)
    # write the HIGH-seq-biased half first to prove order independence
    b.coalesce(1).write.mode("overwrite").parquet(src)
    a.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    q = start_cdc_apply_stream(stream, state, str(tmp_path / "ckpt_cdc"))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    streamed = {
        (r["k"], float(r["price"]) if r["price"] is not None else None,
         r["status"], r["seq"])
        for r in read_cdc_state(spark, state)
        .filter(F.col("op") != "D")
        .collect()
    }
    batch = {
        (r["o_orderkey"], r["price"], r["status"], r["applied_seq"])
        for r in registry.get("q_cdc_apply").fn(spark, sf).collect()
    }
    assert streamed == batch, len(streamed ^ batch)


def test_streaming_gap_monitor_spans_batch_boundary(spark, tmp_path):
    """A 3-hour hole whose two sides arrive in DIFFERENT micro-batches
    must still be detected — the per-key state (last-seen epoch) has to
    survive the batch boundary. Result must equal the batch lag-window
    computation on the same data."""
    from asyncdatapipeline_spark.streaming.curation import (
        start_gap_monitor_stream,
    )

    rows1 = [(i, f"2024-01-01 09:{i:02d}:00", 1, "view", 0.0, "{}")
             for i in range(30)]
    rows2 = [(100 + i, f"2024-01-01 13:{i:02d}:00", 1, "view", 0.0, "{}")
             for i in range(10)]
    schema = ("event_id long, ts_s string, user_id long, event_type string,"
              " value double, props string")

    def write(rows, mode):
        spark.createDataFrame(rows, schema).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value", "props",
        ).coalesce(1).write.mode(mode).parquet(str(tmp_path / "gapsrc"))

    write(rows1, "overwrite")
    write(rows2, "append")
    src_schema = spark.read.parquet(str(tmp_path / "gapsrc")).schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "gapsrc"))
    )
    sink = str(tmp_path / "gaps")
    q = start_gap_monitor_stream(
        stream, sink, str(tmp_path / "ckpt_gap"), threshold_s=3600
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = [
        (r["event_type"], str(r["gap_start"]), str(r["gap_end"]),
         r["gap_seconds"])
        for r in spark.read.parquet(sink).collect()
    ]
    # 09:29 -> 13:00 = 3h31m = 12660s, the only gap > 1h
    assert got == [("view", "2024-01-01 09:29:00", "2024-01-01 13:00:00",
                    12660)]
