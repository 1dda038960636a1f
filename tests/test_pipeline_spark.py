"""Spark-integrated pipeline runtime tests (SURVEY.md §2 A1-A8 on real
Spark): Pipeline hands batches to process as DataFrames; StreamingPipeline
runs readStream→foreachBatch with the idle watchdog, sentinel stop, and
error capture (the B4-B8 runtime rows)."""

from __future__ import annotations

import time

import pytest

from asyncdatapipeline_spark import (
    CloseReason,
    Pipeline,
    PipelineConfig,
    ProcessError,
    StopPipeline,
)
from asyncdatapipeline_spark.pipeline import StreamingPipeline


def test_pipeline_spark_batches(spark):
    """Collect returns plain rows; process receives a Spark DataFrame and
    does distributed work (the reference's processFunc slot, A2)."""
    done = []
    seen_rows = []

    def collect(p):
        if not done:
            done.append(1)
            return [{"id": i, "value": f"value_{i}"} for i in range(50)]
        time.sleep(5)
        return None

    def process(p, df):
        # df is a real DataFrame: run an aggregation on it
        seen_rows.append(df.groupBy().sum("id").collect()[0][0])

    # warm the session: a cold first createDataFrame/action can exceed
    # the idle window, idling the pipeline out before the batch lands
    # (that's correct "source blocked" semantics, but not what this test
    # is about)
    spark.createDataFrame([(0, "w")], "id long, value string").count()

    pipe = Pipeline(
        PipelineConfig(max_workers=2, idle_time=3.0, collect_timeout=5),
        collect,
        process,
        spark=spark,
        schema="id long, value string",
    )
    reason, errors = pipe.run(deadline=20)
    assert reason is CloseReason.IDLE_TIMEOUT
    assert errors == []
    assert seen_rows == [sum(range(50))]
    assert pipe.get_current_metrics().item_count == 50


@pytest.fixture()
def stream_dir(spark, sf_dir, tmp_path):
    """A one-file parquet dir replaying events as a file stream."""
    out = str(tmp_path / "stream_src")
    df = spark.read.parquet(f"{sf_dir}/events.parquet").limit(200)
    df.coalesce(1).write.mode("overwrite").parquet(out)
    schema = spark.read.parquet(out).schema
    return out, schema


def test_streaming_pipeline_idle_close(spark, stream_dir):
    """File stream drains, no new files → idle watchdog stops the query
    with IDLE_TIMEOUT (A9 port)."""
    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)
    counts = []

    pipe = StreamingPipeline(
        spark,
        src,
        lambda df, epoch: counts.append(df.count()),
        PipelineConfig(max_workers=2, idle_time=3, collect_timeout=10),
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.IDLE_TIMEOUT
    assert errors == []
    assert sum(counts) == 200
    m = pipe.metrics.current()
    assert m.item_count == 200
    assert m.batch_count >= 1


def test_streaming_pipeline_sentinel(spark, stream_dir):
    """StopPipeline from the sink → graceful PROCESS_CANCEL, no error
    recorded (A11 port)."""
    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)

    def process(df, epoch):
        raise StopPipeline()

    pipe = StreamingPipeline(
        spark, src, process, PipelineConfig(max_workers=2, idle_time=10)
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.PROCESS_CANCEL
    assert errors == []


def test_streaming_pipeline_process_error(spark, stream_dir):
    """Sink exception → ProcessError with epoch id, query stopped
    (A13-A14 port)."""
    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)

    def process(df, epoch):
        raise RuntimeError("sink boom")

    pipe = StreamingPipeline(
        spark, src, process, PipelineConfig(max_workers=2, idle_time=10)
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.NONE
    assert any(isinstance(e, ProcessError) for e in errors)
    err = next(e for e in errors if isinstance(e, ProcessError))
    assert err.epoch_id is not None


def test_streaming_pipeline_observe_metrics(spark, stream_dir):
    """A16-family extension: custom df.observe aggregates configured on
    the pipeline ride the wrapper's own counting pass (zero extra jobs)
    and land in the metrics export — observed totals must equal the
    batch aggregates computed independently over the same source."""
    from pyspark.sql import functions as F

    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)

    pipe = StreamingPipeline(
        spark,
        src,
        lambda df, epoch: None,
        PipelineConfig(max_workers=2, idle_time=3, collect_timeout=10),
        observe={
            "value_sum": F.sum("value"),
            "n_purchases": F.count(F.when(F.col("event_type") == "purchase", 1)),
        },
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.IDLE_TIMEOUT and errors == []

    batch = spark.read.parquet(path)
    want_sum = batch.agg(F.sum("value")).first()[0]
    want_purch = batch.filter("event_type = 'purchase'").count()

    exported = pipe.metrics.export()
    assert exported["item_count"] == 200
    # additive aggregates sum losslessly across micro-batches
    assert abs(exported["observed_totals"]["value_sum"] - want_sum) < 1e-6
    assert exported["observed_totals"]["n_purchases"] == want_purch
    assert set(exported["last_observed"]) == {"value_sum", "n_purchases"}


def _jobs_submitted(spark) -> int:
    """Spark jobs submitted so far in this JVM (the DAG scheduler's job id
    counter: exact and synchronous, unlike the capped status store)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_streaming_pipeline_metrics_cost_no_job(spark, stream_dir):
    """The wrapper around process starts no Spark job: with a no-op
    process the whole run submits none. The item count is the epoch's
    numInputRows, the rows Spark read for it; a process that never reads
    its batch reads none (the observe and phase tests below read it)."""
    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)
    pipe = StreamingPipeline(
        spark,
        src,
        lambda df, epoch: None,
        PipelineConfig(max_workers=2, idle_time=3, collect_timeout=10),
    )
    before = _jobs_submitted(spark)
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.IDLE_TIMEOUT and errors == []
    assert _jobs_submitted(spark) - before == 0
    assert pipe.metrics.current().item_count == 0


def test_streaming_pipeline_observe_rides_process_job(spark, stream_dir, tmp_path):
    """With observe set, the aggregates ride process's own write: one Spark
    job per data epoch, and the observed totals match a batch aggregate."""
    from pyspark.sql import functions as F

    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)
    sink = str(tmp_path / "sink")
    epochs = []

    def process(df, epoch):
        epochs.append(epoch)
        df.write.mode("append").parquet(sink)

    pipe = StreamingPipeline(
        spark,
        src,
        process,
        PipelineConfig(max_workers=2, idle_time=3, collect_timeout=10),
        observe={"value_sum": F.sum("value")},
    )
    before = _jobs_submitted(spark)
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.IDLE_TIMEOUT and errors == []
    jobs = _jobs_submitted(spark) - before
    data_epochs = [p for p in pipe.query.recentProgress if p.numInputRows > 0]
    assert len(data_epochs) >= 1 and len(epochs) == len(data_epochs)
    assert jobs == len(data_epochs)

    exported = pipe.metrics.export()
    assert exported["item_count"] == 200
    want = spark.read.parquet(path).agg(F.sum("value")).first()[0]
    assert abs(exported["observed_totals"]["value_sum"] - want) < 1e-6
    assert spark.read.parquet(sink).count() == 200


def test_streaming_pipeline_slow_epoch_not_idled_out(spark, stream_dir):
    """The idle watchdog holds while an epoch is in flight: a first
    process slower than idle_time still delivers all of its rows, and the
    run then idles out cleanly."""
    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)
    counts = []

    def process(df, epoch):
        if not counts:
            time.sleep(4.5)  # longer than idle_time
        counts.append(df.count())

    pipe = StreamingPipeline(
        spark,
        src,
        process,
        PipelineConfig(max_workers=2, idle_time=3, collect_timeout=10),
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.IDLE_TIMEOUT
    assert errors == []
    assert not any(isinstance(e, ProcessError) for e in errors)
    assert sum(counts) == 200
    assert pipe.metrics.current().item_count == 200


def test_streaming_pipeline_exports_progress_phases(spark, stream_dir):
    """The hub's export carries the trigger phases of the last data epoch
    and their totals, exactly as the query's progress reports them."""
    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)
    pipe = StreamingPipeline(
        spark,
        src,
        lambda df, epoch: df.count(),
        PipelineConfig(max_workers=2, idle_time=3, collect_timeout=10),
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.IDLE_TIMEOUT and errors == []

    phases = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit")
    last = pipe.query.lastProgress
    assert last.numInputRows > 0
    exported = pipe.metrics.export()
    assert exported["last_phase_ms"] == {ph: last.durationMs.get(ph, 0) for ph in phases}
    data = [p for p in pipe.query.recentProgress if p.numInputRows > 0]
    assert exported["phase_ms_totals"] == {
        ph: sum(p.durationMs.get(ph, 0) for p in data) for ph in phases
    }
    assert exported["last_phase_ms"]["addBatch"] > 0
