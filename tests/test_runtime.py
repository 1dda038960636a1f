"""Runtime-contract tests — pytest ports of every reference test
(SURVEY.md §5 table; /root/reference/async_data_pipeline_test.go).

Same observable contract: close reasons, error types (with cause
unwrapping), metric counters. Timings are scaled down (reference sleeps
seconds; we sleep tenths) — the contract is ordering/accounting, not
wall-clock.
"""

from __future__ import annotations

import threading
import time

import pytest

from asyncdatapipeline_spark import (
    CloseReason,
    CollectError,
    InvalidMaxWorkersError,
    Pipeline,
    PipelineConfig,
    ProcessError,
    StopPipeline,
)


def make_pipeline(collect, process, max_workers=4, idle=0.4, collect_timeout=2.0):
    return Pipeline(
        PipelineConfig(
            max_workers=max_workers, idle_time=idle, collect_timeout=collect_timeout
        ),
        collect,
        process,
    )


# -- normal flow (reference :83-126) -------------------------------------


def test_normal_flow_idle_timeout():
    collected, processed = [], []

    def collect(p):
        if not collected:
            batch = [{"id": 1, "value": "value_1"}]
            collected.extend(batch)
            return batch
        time.sleep(5)  # source blocks → idle-out (reference :97-99)
        return None

    def process(p, batch):
        processed.extend(batch)

    pipe = make_pipeline(collect, process)
    reason, errors = pipe.run(deadline=5)
    assert reason is CloseReason.IDLE_TIMEOUT  # reference :120-122
    assert errors == []
    assert processed == collected  # reference :123-125


def test_slow_process_does_not_drop_buffered_batches():
    """A process call slower than idle_time must not cause queued batches
    to be discarded on idle-timeout (regression: the idle check used to
    fire without draining the channel; the reference leaves this as a Go
    select race, :297-339 — we resolve it to never-drop)."""
    batches = iter([[{"id": 1}], [{"id": 2}], [{"id": 3}]])
    processed = []

    def collect(p):
        b = next(batches, None)
        if b is None:
            time.sleep(5)
        return b

    def process(p, batch):
        time.sleep(0.5)  # slower than idle_time=0.4
        processed.extend(batch)

    pipe = make_pipeline(collect, process)
    reason, errors = pipe.run(deadline=5)
    assert reason is CloseReason.IDLE_TIMEOUT
    assert errors == []
    assert [r["id"] for r in processed] == [1, 2, 3]
    assert pipe.export_metrics()["batch_count"] == 3


# -- collect error (reference :129-165) ----------------------------------


def test_collect_error_wrapped():
    boom = ValueError("source exploded")

    def collect(p):
        raise boom

    pipe = make_pipeline(collect, lambda p, b: None)
    reason, errors = pipe.run(deadline=5)
    assert len(errors) == 1
    assert isinstance(errors[0], CollectError)  # reference :158-161
    assert errors[0].cause is boom  # errors.Is equivalent (:162-164)


# -- process error (reference :168-205) ----------------------------------


def test_process_error_wrapped():
    boom = RuntimeError("sink exploded")

    def collect(p):
        return [{"id": 1}]

    def process(p, batch):
        raise boom

    pipe = make_pipeline(collect, process)
    reason, errors = pipe.run(deadline=5)
    assert len(errors) == 1
    assert isinstance(errors[0], ProcessError)  # reference :198-201
    assert errors[0].cause is boom  # reference :202-204


# -- cancel operation (reference :208-235) -------------------------------


def test_collect_cancel_sentinel():
    def collect(p):
        raise StopPipeline()  # reference ErrNeedCancel (:14-16)

    pipe = make_pipeline(collect, lambda p, b: None)
    reason, errors = pipe.run(deadline=5)
    assert reason is CloseReason.COLLECT_CANCEL  # reference :231-234
    assert errors == []


def test_process_cancel_sentinel():
    def collect(p):
        return [{"id": 1}]

    def process(p, batch):
        raise StopPipeline()

    pipe = make_pipeline(collect, process)
    reason, errors = pipe.run(deadline=5)
    assert reason is CloseReason.PROCESS_CANCEL
    assert errors == []


# -- invalid max workers (reference :238-260) ----------------------------


def test_invalid_max_workers():
    with pytest.raises(InvalidMaxWorkersError):
        PipelineConfig(max_workers=-1)  # reference :253-259
    with pytest.raises(InvalidMaxWorkersError):
        PipelineConfig(max_workers=10_000_000)  # > NumCPU*4 (:181-185)


# -- basic metrics (reference :266-316) ----------------------------------


def test_basic_metrics():
    done = []

    def collect(p):
        if not done:
            done.append(1)
            return [{"id": 1}]
        time.sleep(5)
        return None

    def process(p, batch):
        time.sleep(0.1)  # injected delay (reference 100ms)

    pipe = make_pipeline(collect, process)
    pipe.run(deadline=5)
    m = pipe.get_current_metrics()
    assert m.batch_count == 1  # reference :303-315
    assert m.item_count == 1
    assert m.processing_duration >= 0.1
    assert m.total_duration >= m.processing_duration


# -- idle ratio (reference :319-358) -------------------------------------


def test_idle_ratio():
    done = []

    def collect(p):
        if not done:
            done.append(1)
            return [{"id": 1}]
        time.sleep(5)
        return None

    pipe = make_pipeline(collect, lambda p, b: None)
    pipe.run(deadline=5)
    ratio = pipe.get_current_metrics().get_idle_ratio()
    assert 0 < ratio < 1  # reference :351-357


def test_idle_ratio_busy_processor():
    """Idle and processing are disjoint: with collect always ready the
    processor never waits, so a busy process reads as nearly no idle
    (idle used to be the inter-arrival gap, which held process time)."""
    sent = [0]

    def collect(p):
        if sent[0] == 10:
            raise StopPipeline()
        sent[0] += 1
        return [{"id": sent[0]}]

    pipe = make_pipeline(collect, lambda p, b: time.sleep(0.05), max_workers=2)
    reason, errors = pipe.run(deadline=10)
    assert reason is CloseReason.COLLECT_CANCEL and errors == []
    m = pipe.get_current_metrics()
    assert m.batch_count == 10
    assert m.get_idle_ratio() < 0.2


# -- high load metrics (reference :361-411) ------------------------------


def test_high_load_metrics():
    sent = [0]

    def collect(p):
        if sent[0] < 5:
            sent[0] += 1
            return [{"id": i} for i in range(10)]  # 5 batches × 10 items
        time.sleep(5)
        return None

    def process(p, batch):
        time.sleep(0.01)

    pipe = make_pipeline(collect, process)
    pipe.run(deadline=5)
    m = pipe.get_current_metrics()
    assert m.batch_count == 5  # reference :400-410
    assert m.item_count == 50
    assert m.processing_duration > 0


# -- metrics subscription (reference :417-469) ---------------------------


def test_metrics_subscription():
    snapshots = []
    done = []

    def collect(p):
        if not done:
            done.append(1)
            return [{"id": 1}]
        time.sleep(5)
        return None

    pipe = make_pipeline(collect, lambda p, b: None, idle=0.8)
    sub = pipe.subscribe_metrics(snapshots.append, interval=0.2)  # reference :452
    pipe.run(deadline=5)
    pipe.unsubscribe_metrics(sub)
    assert len(snapshots) >= 1  # reference :460-468
    assert snapshots[-1].batch_count == 1


def test_subscription_interval_clamp():
    pipe = make_pipeline(lambda p: None, lambda p, b: None)
    sub = pipe.subscribe_metrics(lambda m: None, interval=-1)
    assert sub.interval == 1.0  # reference clamps ≤0 → 1s (:105-107)
    pipe.unsubscribe_metrics(sub)


# -- metrics export (reference :472-517) ---------------------------------


def test_metrics_export():
    done = []

    def collect(p):
        if not done:
            done.append(1)
            return [{"id": 1}]
        time.sleep(5)
        return None

    pipe = make_pipeline(collect, lambda p, b: None)
    pipe.run(deadline=5)
    d = pipe.export_metrics()
    assert d["batch_count"] == 1  # reference :505-516
    assert d["item_count"] == 1
    assert 0 <= d["idle_ratio"] <= 1
    assert set(d) == {
        "total_duration_seconds",
        "processing_duration_seconds",
        "idle_duration_seconds",
        "batch_count",
        "item_count",
        "idle_ratio",
    }


# -- current metrics mid-run (reference :520-567) ------------------------


def test_current_metrics_mid_run():
    done = []
    mid = {}

    def collect(p):
        if not done:
            done.append(1)
            return [{"id": 1}]
        time.sleep(5)
        return None

    def process(p, batch):
        time.sleep(0.15)

    pipe = make_pipeline(collect, process, idle=0.8)

    def snapshot():
        time.sleep(0.4)  # after the batch is processed, before idle-out
        mid["m"] = pipe.get_current_metrics()

    t = threading.Thread(target=snapshot)
    t.start()
    pipe.run(deadline=5)
    t.join()
    assert mid["m"].batch_count == 1  # reference :550-566
    assert mid["m"].processing_duration > 0


# -- benchmark shape (reference :19-78): 100-item run idles out ----------


def test_bench_shape_idle_close():
    sent = [0]

    def collect(p):
        if sent[0] < 100:
            batch = [{"id": sent[0] + i, "value": f"value_{i}"} for i in range(100)]
            sent[0] += len(batch)
            return batch
        time.sleep(5)  # reference sleeps 3s after 100 items (:39-42)
        return None

    pipe = make_pipeline(collect, lambda p, b: None, max_workers=16)
    reason, errors = pipe.run(deadline=5)
    assert reason is CloseReason.IDLE_TIMEOUT  # reference :72-74
    assert errors == []
    assert pipe.get_current_metrics().item_count == 100


# -- backpressure timeout (reference :278-287) ---------------------------


def test_collect_backpressure_timeout():
    def collect(p):
        return [{"id": 1}]  # endless supply

    def process(p, batch):
        time.sleep(10)  # consumer stuck → channel fills → send times out

    pipe = make_pipeline(
        collect, process, max_workers=1, idle=30, collect_timeout=0.5
    )
    reason, errors = pipe.run(deadline=8)
    assert any(
        isinstance(e, CollectError) and "timeout" in str(e) for e in errors
    )


# -- engine deviation: close reason on plain error stays NONE ------------


def test_error_close_reason_none():
    def collect(p):
        raise ValueError("x")

    pipe = make_pipeline(collect, lambda p, b: None)
    reason, errors = pipe.run(deadline=5)
    assert reason is CloseReason.NONE
    assert str(reason) == "none"  # CloseReason.String() port


def test_observe_batch_feeds_hub(spark, sf_dir):
    """Batch observability: df.observe metrics ride the action's own
    pass (no second job) and land in the MetricsHub with the same
    export contract the pipeline runtime uses."""
    from asyncdatapipeline_spark.metrics import MetricsHub, observe_batch
    from asyncdatapipeline_spark.sources.tables import load_table

    hub = MetricsHub()
    df = load_table(spark, sf_dir, "orders").filter("o_totalprice > 0")
    observed, harvest = observe_batch(df, hub, "orders-scan")
    n = observed.count()
    vals = harvest()
    assert vals["rows"] == n > 0
    exported = hub.export()
    assert exported["item_count"] == n
    assert exported["batch_count"] == 1
    assert exported["processing_duration_seconds"] > 0


def test_perform_func_datasource_sink(spark, sf_dir, tmp_path_factory):
    """The reference's PerformFunc as a first-class Spark sink
    (sources/perform_sink.py): the callable runs per executor
    partition in batch_size chunks, and the union of its effects is
    exactly the written frame."""
    import os

    from asyncdatapipeline_spark.sources.perform_sink import perform_func_write
    from asyncdatapipeline_spark.sources.tables import load_table

    out = tmp_path_factory.mktemp("perform_sink")

    def sink_batch(rows, _dir=str(out)):
        # attempt-unique file per (pid, first-row) — re-runs overwrite
        # rather than double-append, the idempotent-effect pattern the
        # module docstring prescribes
        name = f"{os.getpid()}_{rows[0][0]}.txt"
        with open(os.path.join(_dir, name), "w") as f:
            for r in rows:
                f.write(f"{r[0]}\n")

    df = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .filter("o_orderkey < 500")
    )
    expect = {r["o_orderkey"] for r in df.collect()}
    perform_func_write(df, sink_batch, batch_size=50)
    got = set()
    for name in os.listdir(out):
        with open(out / name) as f:
            got.update(int(line) for line in f)
    assert got == expect
