"""The pipeline runtime — engine port of the reference's entire engine.

Reference: /root/reference/async_data_pipeline.go:219-345 (``Perform``):
a collector goroutine pulls batches from ``collectFunc`` and sends them
over a bounded channel to a processor goroutine running ``processFunc``,
with an idle-timeout shutdown, a backpressure timeout, sentinel
cancellation, an error taxonomy, and live metrics.

Two engine modes:

- :class:`Pipeline` — the direct analogue: a driver-side collector thread
  feeding a bounded queue consumed by a processor thread. Matches the
  reference's at-most-once, no-checkpoint behavior exactly (SURVEY.md §7
  hard-part 3). ``process`` receives each batch as a Spark DataFrame, so
  the *work* is still distributed across executors — only the batch
  hand-off is driver-side, exactly like the reference's channel.
- :class:`StreamingPipeline` — the Structured-Streaming-native form:
  ``readStream → foreachBatch(process)`` with a
  ``StreamingQueryListener`` metrics bridge and an idle watchdog that
  stops the query. This is the shape that scales to a real cluster: the
  micro-batch engine replaces the channel and executors replace the
  single consumer thread. Delivery is still at-most-once: the query sets
  no checkpoint location and the pull source cannot replay a batch
  (``sources/pull_source.py`` ``readBetweenOffsets`` returns nothing),
  so rows pulled before a restart are lost, as in thread mode.

Documented deviations from the reference (SURVEY.md §2 quirks, §7):

- Idle means "no *data-carrying* batch" — the reference resets its idle
  timer on nil batches too (async_data_pipeline.go:268, :313), which makes
  idle mean "collect itself blocked". We implement the documented intent.
- One side's failure stops the run cleanly with the primary error only;
  the reference leaves the other side to die by secondary timeout
  (async_data_pipeline.go:278-287).
- Metrics count *processed* rows; the reference counts collected rows at
  send time (:268-275).
"""

from __future__ import annotations

import enum
import queue
import threading
import time
from typing import Any, Callable, Iterable

# Imported eagerly: a lazy in-function import costs ~0.3-0.5s cold on the
# collector thread, during which a sub-second idle_time can fire and drop
# the first batch (the never-drop guarantee would be violated by an import).
try:
    import pandas as _pd
except ImportError:  # pragma: no cover
    _pd = None

from pyspark.sql.streaming import StreamingQueryListener

from asyncdatapipeline_spark.config import PipelineConfig
from asyncdatapipeline_spark.errors import (
    CollectError,
    ProcessError,
    StopPipeline,
)
from asyncdatapipeline_spark.metrics import (
    MetricsHub,
    PipelineMetrics,
    attach_observation,
    observation_ready,
)


class CloseReason(enum.Enum):
    """Why the pipeline stopped (reference ``CloseReason``,
    async_data_pipeline.go:194-217)."""

    NONE = "none"
    IDLE_TIMEOUT = "idle_timeout"      # set at async_data_pipeline.go:335
    COLLECT_CANCEL = "collect_cancel"  # set at async_data_pipeline.go:259
    PROCESS_CANCEL = "process_cancel"  # set at async_data_pipeline.go:320

    def __str__(self) -> str:  # reference String(), :204-217
        return self.value


# collect() may return: a list of rows, a pandas DataFrame, a Spark
# DataFrame, or None ("no new data", reference async_data_pipeline.go:66).
CollectFunc = Callable[["Pipeline"], Any]
ProcessFunc = Callable[["Pipeline", Any], None]

_SENTINEL = object()


class Pipeline:
    """Driver-threaded collect→process pipeline (reference ``Perform``,
    async_data_pipeline.go:219-345).

    The bounded ``queue.Queue(maxsize=max_workers)`` is the reference's
    ``make(chan []T, MaxWorkers)`` (:242): capacity = backpressure. As in
    the reference, there is exactly one consumer; real parallelism comes
    from Spark tasks *inside* each ``process`` call.
    """

    def __init__(
        self,
        config: PipelineConfig,
        collect: CollectFunc,
        process: ProcessFunc,
        spark=None,
        schema=None,
    ):
        self.config = config
        self._collect = collect
        self._process = process
        self._spark = spark
        self._schema = schema
        self.metrics = MetricsHub()
        self._cancel = threading.Event()
        self._reason = CloseReason.NONE
        self._reason_lock = threading.Lock()
        self._errors: list[BaseException] = []
        self._errors_lock = threading.Lock()
        # Monotonic timestamp of the most recent collect() that returned
        # data, published BEFORE batch normalization (createDataFrame /
        # checkpoint setup) so the processor's idle clock resets at
        # collect-return, not at queue-put. Without this, a slow
        # normalization plus a sub-second idle_time silently drops the
        # in-flight batch. Float store/load is GIL-atomic; no lock needed.
        self._data_pending_ts = 0.0

    # -- cancellation (reference ctx/cancel, :233) -----------------------
    def cancel(self) -> None:
        """External cancellation — the engine's ``ctx.cancel()``."""
        self._cancel.set()

    @property
    def cancelled(self) -> bool:
        return self._cancel.is_set()

    def _set_reason(self, reason: CloseReason) -> None:
        # First reason wins, like the reference's single write-then-cancel.
        with self._reason_lock:
            if self._reason is CloseReason.NONE:
                self._reason = reason

    def _append_error(self, err: BaseException) -> None:
        # reference errorMu-guarded errorList (:80-81)
        with self._errors_lock:
            self._errors.append(err)

    # -- helpers ---------------------------------------------------------
    def _to_batch(self, data: Any):
        """Normalize a collected batch; returns (payload, n_items).

        ``n_items is None`` means "count on the process side": for Spark
        DataFrame batches we must not run ``count()`` here — that executes
        the batch's plan on the collector thread (stalling the collect loop
        and eating into collect_timeout) and then ``process`` executes it
        again. Instead the payload is lazily local-checkpointed so the
        first action (process's, usually) materializes it once and the
        processor's deferred count reads the checkpointed blocks.
        """
        if _pd is not None and isinstance(data, _pd.DataFrame):
            n = len(data)
            if self._spark is not None:
                return self._spark.createDataFrame(data, schema=self._schema), n
            return data, n
        if isinstance(data, (list, tuple)):
            n = len(data)
            if self._spark is not None and n > 0:
                return (
                    self._spark.createDataFrame(list(data), schema=self._schema),
                    n,
                )
            return data, n
        if hasattr(data, "localCheckpoint") and hasattr(data, "sparkSession"):
            return data.localCheckpoint(eager=False), None
        return data, 0

    # -- the run (reference Perform, :219-345) ---------------------------
    def run(self, deadline: float | None = None) -> tuple[CloseReason, list[BaseException]]:
        """Start collector + processor threads, wait for completion,
        return ``(CloseReason, errors)`` (reference :343-344).

        ``deadline`` (seconds) is the engine's ``context.WithTimeout``.
        """
        start = time.monotonic()
        ch: queue.Queue = queue.Queue(maxsize=self.config.max_workers)
        self.metrics.reset()

        if deadline is not None:
            def deadline_watch() -> None:
                if not self._cancel.wait(timeout=deadline):
                    self._cancel.set()
            threading.Thread(target=deadline_watch, daemon=True, name="deadline").start()

        def collector() -> None:
            # reference collector goroutine, :247-291
            while not self._cancel.is_set():
                try:
                    data = self._collect(self)
                except StopPipeline:
                    # reference ErrNeedCancel path, :258-261
                    self._set_reason(CloseReason.COLLECT_CANCEL)
                    self._cancel.set()
                    return
                except Exception as exc:  # reference :262-266
                    self._append_error(CollectError(str(exc), cause=exc))
                    self._cancel.set()  # deviation: clean stop, no secondary timeout
                    return
                if data is None:
                    # "no new data" — deviation: not delivered, does not
                    # reset the idle clock (documented-intent semantics).
                    time.sleep(0.01)
                    continue
                self._data_pending_ts = time.monotonic()
                batch = self._to_batch(data)
                # bounded send with backpressure timeout (reference
                # 3-way select, :267-288)
                sent_deadline = time.monotonic() + self.config.collect_timeout
                while True:
                    if self._cancel.is_set():
                        return
                    try:
                        ch.put(batch, timeout=0.05)
                        break
                    except queue.Full:
                        if time.monotonic() > sent_deadline:
                            self._append_error(
                                CollectError(
                                    f"collect timeout after {self.config.collect_timeout}s"
                                )
                            )
                            self._cancel.set()
                            return

        def processor() -> None:
            # reference processor goroutine, :293-340
            last_data = time.monotonic()
            # end of the previous process() call, or the run start: idle
            # is recorded from here to the next batch's arrival, so it
            # never overlaps ProcessingDuration
            idle_from = last_data
            while True:
                # Idle clock resets at collect-return (data pending) as
                # well as at batch arrival, so normalization latency on
                # the collector thread can never be charged as idleness.
                last_signal = max(last_data, self._data_pending_ts)
                idle_left = self.config.idle_time - (time.monotonic() - last_signal)
                if idle_left <= 0:
                    # Idle window elapsed — but "idle" means NO DATA, so
                    # drain anything already buffered first. (In the
                    # reference this is a select race: with both the
                    # timer and the channel ready, Go picks randomly,
                    # :297-339; we resolve it to the documented intent —
                    # a buffered batch is never dropped. A process call
                    # slower than idle_time no longer eats the queue.)
                    try:
                        payload, n_items = ch.get_nowait()
                    except queue.Empty:
                        # idle timer fired (reference :334-337)
                        self._set_reason(CloseReason.IDLE_TIMEOUT)
                        self._cancel.set()
                        return
                else:
                    try:
                        payload, n_items = ch.get(timeout=min(idle_left, 0.05))
                    except queue.Empty:
                        if self._cancel.is_set() and ch.empty():
                            return
                        continue
                now = time.monotonic()
                # IdleDuration = the wait for this batch (the reference
                # records the inter-arrival gap, :306-310, which also
                # holds the previous process call)
                self.metrics.record_idle(now - idle_from)
                last_data = t0 = now
                try:
                    self._process(self, payload)
                except StopPipeline:
                    # reference ErrNeedCancel from process, :319-322
                    self._set_reason(CloseReason.PROCESS_CANCEL)
                    self._cancel.set()
                    return
                except Exception as exc:  # reference :323-327
                    self._append_error(
                        ProcessError(str(exc), cause=exc, data=payload)
                    )
                    self._cancel.set()
                    return
                if n_items is None:
                    # Deferred Spark-DataFrame count: process()'s action
                    # materialized the lazy local checkpoint, so this
                    # count scans checkpointed blocks, not the original
                    # plan — the batch is computed exactly once.
                    try:
                        n_items = payload.count()
                    except Exception:  # pragma: no cover — metrics only
                        n_items = 0
                idle_from = time.monotonic()
                self.metrics.record_batch(n_items, idle_from - t0)

        t_collect = threading.Thread(target=collector, daemon=True, name="collector")
        t_process = threading.Thread(target=processor, daemon=True, name="processor")
        t_collect.start()
        t_process.start()
        t_process.join()
        self._cancel.set()
        t_collect.join()
        # finalize TotalDuration (reference deferred finalize, :236-240)
        self.metrics.set_total_duration(time.monotonic() - start)
        with self._errors_lock:
            errors = list(self._errors)
        return self._reason, errors

    # -- metrics surface (reference :96-168) -----------------------------
    def get_current_metrics(self) -> PipelineMetrics:
        return self.metrics.current()

    def subscribe_metrics(self, callback, interval: float = 1.0):
        return self.metrics.subscribe(callback, interval)

    def unsubscribe_metrics(self, sub) -> None:
        self.metrics.unsubscribe(sub)

    def export_metrics(self) -> dict:
        return self.metrics.export()


class _ProgressListener(StreamingQueryListener):
    """Hands one :class:`StreamingPipeline` run's query events to it."""

    def __init__(self, owner: "StreamingPipeline"):
        self._owner = owner

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self._owner._on_progress(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self._owner._on_terminated(event)


class StreamingPipeline:
    """Structured-Streaming-native pipeline: the scale path.

    ``source_df`` (a streaming DataFrame) → ``writeStream.foreachBatch``
    (the reference's ``ProcessFunc`` slot, async_data_pipeline.go:69-71)
    with:

    - a ``StreamingQueryListener``, registered for this run's query only,
      that folds every progress event carrying rows into
      :class:`PipelineMetrics` (SURVEY.md §4 item 4): ``numInputRows`` as
      the item count, the epoch's ``process`` time, and the trigger's
      ``durationMs`` phases. The metrics cost no Spark job; each epoch
      runs only the jobs ``process`` starts. ``numInputRows`` counts the
      rows Spark read for the epoch, so a ``process`` that never reads
      its batch adds no items and does not reset the idle clock;
    - an idle watchdog thread that calls ``query.stop()`` when no progress
      event has carried ``numInputRows > 0`` for ``idle_time`` seconds
      (engine implementation of the reference idle timer,
      async_data_pipeline.go:243/:313/:334-337). It never fires while an
      epoch is in flight, from entry to ``foreachBatch`` until the
      epoch's progress event, so a slow ``process`` is not cut off;
    - sentinel/error handling in the foreachBatch wrapper
      (``StopPipeline`` → graceful stop + PROCESS_CANCEL; other
      exceptions → ``ProcessError`` + stop).

    ``observe`` maps names to aggregate Columns. One ``Observation`` is
    attached to every micro-batch before ``process`` receives it, so the
    aggregates ride the action ``process`` runs on the batch (one
    accumulator per task, no extra job) and reach ``export()`` as
    ``last_observed`` / ``observed_totals``. They cover the rows that
    action read. When ``process`` returns without executing the batch,
    the wrapper runs one ``count()`` on it instead. The wrapper never
    waits on ``Observation.get``: values are recorded once Spark has
    filled them, at the latest when the run ends.
    """

    # How long the wrapper gives Spark's listener bus to fill an epoch's
    # Observation after process() returns, before concluding process never
    # executed the batch (the fill usually lands within milliseconds).
    _OBSERVE_GRACE_S = 0.25

    def __init__(
        self,
        spark,
        source_df,
        process: Callable[[Any, int], None],
        config: PipelineConfig | None = None,
        trigger: dict | None = None,
        observe: dict | None = None,
    ):
        self.spark = spark
        self.source_df = source_df
        self.config = config or PipelineConfig()
        self.metrics = MetricsHub()
        self._process = process
        self._trigger = trigger or {"processingTime": "500 milliseconds"}
        self._observe = dict(observe) if observe else None
        if self._observe and "rows" in self._observe:
            raise ValueError(
                "observe aggregate name 'rows' is reserved for the row count"
            )
        self._reason = CloseReason.NONE
        self._reason_lock = threading.Lock()
        self._errors: list[BaseException] = []
        self._stop_requested = threading.Event()
        # Shared by the foreachBatch thread, the listener thread and the
        # watchdog; guards the four fields below.
        self._lock = threading.Lock()
        self._last_data = time.monotonic()
        self._in_flight: set[int] = set()      # epochs awaiting progress
        self._process_s: dict[int, float] = {}  # epoch → process() seconds
        self._pending_obs: list = []            # filled-later Observations
        self._run_id: str | None = None
        self._started = threading.Event()
        self._terminated = threading.Event()
        self.query = None

    def _set_reason(self, reason: CloseReason) -> None:
        with self._reason_lock:
            if self._reason is CloseReason.NONE:
                self._reason = reason

    def _foreach_batch(self, batch_df, epoch_id: int) -> None:
        # Starts no Spark job of its own: the row count, the idle clock and
        # the phase timings come with this epoch's progress event
        # (_on_progress). The wrapper marks the epoch in flight for the
        # watchdog and times process().
        with self._lock:
            self._in_flight.add(epoch_id)
        obs = None
        if self._observe:
            batch_df, obs = attach_observation(
                batch_df, self._observe, f"epoch-{epoch_id}"
            )
        t0 = time.monotonic()
        try:
            self._process(batch_df, epoch_id)
        except StopPipeline:
            self._set_reason(CloseReason.PROCESS_CANCEL)
            self._stop_requested.set()
            return
        except Exception as exc:
            self._errors.append(ProcessError(str(exc), cause=exc, epoch_id=epoch_id))
            self._stop_requested.set()
            return
        elapsed = time.monotonic() - t0
        if obs is not None:
            if not self._await_observation(obs, self._OBSERVE_GRACE_S):
                batch_df.count()  # process() never executed the batch
            with self._lock:
                self._pending_obs.append(obs)
            self._harvest_observations()
        with self._lock:
            self._process_s[epoch_id] = elapsed

    @staticmethod
    def _await_observation(obs, seconds: float) -> bool:
        deadline = time.monotonic() + seconds
        while not observation_ready(obs):
            if time.monotonic() >= deadline:
                return False
            time.sleep(0.002)
        return True

    def _harvest_observations(self) -> None:
        """Record the filled Observations, oldest epoch first; never waits."""
        with self._lock:
            while self._pending_obs and observation_ready(self._pending_obs[0]):
                vals = self._pending_obs.pop(0).get
                if vals["rows"] > 0:
                    self.metrics.record_observed(
                        {k: v for k, v in vals.items() if k != "rows"}
                    )

    def _ours(self, run_id) -> bool:
        # The session's listener bus carries every query's events; events
        # that arrive before start() has returned wait for the run id.
        return self._started.wait(30) and str(run_id) == self._run_id

    def _on_progress(self, progress) -> None:
        if not self._ours(progress.runId):
            return
        rows = progress.numInputRows
        with self._lock:
            self._in_flight = {e for e in self._in_flight if e > progress.batchId}
            process_s = self._process_s.pop(progress.batchId, None)
            if rows > 0:
                self._last_data = time.monotonic()
        if rows > 0:
            if process_s is not None:  # None: process() raised
                self.metrics.record_batch(rows, process_s)
            self.metrics.record_phases(progress.durationMs)
        self._harvest_observations()

    def _on_terminated(self, event) -> None:
        if self._ours(event.runId):
            self._terminated.set()

    def run(self, deadline: float | None = None) -> tuple[CloseReason, list[BaseException]]:
        start = time.monotonic()
        self.metrics.reset()
        self._started.clear()
        self._terminated.clear()
        with self._lock:
            self._last_data = start
            self._in_flight.clear()
            self._process_s.clear()
            self._pending_obs.clear()

        writer = (
            self.source_df.writeStream.outputMode("append")
            .trigger(**self._trigger)
            .foreachBatch(self._foreach_batch)
        )
        listener = _ProgressListener(self)
        self.spark.streams.addListener(listener)
        try:
            try:
                self.query = writer.start()
                self._run_id = self.query.runId
            finally:
                self._started.set()
            self._watch(start, deadline)
            # The terminated event follows the run's last progress event
            # on the listener bus, so once it is in every epoch is counted.
            self._terminated.wait(timeout=10)
        finally:
            self.spark.streams.removeListener(listener)
        self._drain_observations(timeout=5)
        # fold a terminal streaming exception into the error list
        exc = None
        try:
            exc = self.query.exception()
        except Exception:
            pass
        if exc is not None:
            self._errors.append(CollectError(str(exc), cause=exc))
        self.metrics.set_total_duration(time.monotonic() - start)
        return self._reason, list(self._errors)

    def _watch(self, start: float, deadline: float | None) -> None:
        # Idle watchdog (SURVEY.md §4 item 1): counts only data-carrying
        # progress; empty micro-batches do not reset the clock, and an
        # epoch in flight holds it.
        hard_deadline = None if deadline is None else start + deadline
        try:
            while self.query.isActive:
                if self._stop_requested.is_set():
                    self.query.stop()
                    break
                with self._lock:
                    busy = bool(self._in_flight)
                    idle_for = time.monotonic() - self._last_data
                if not busy and idle_for > self.config.idle_time:
                    self._set_reason(CloseReason.IDLE_TIMEOUT)
                    self.metrics.record_idle(idle_for)
                    self.query.stop()
                    break
                if hard_deadline is not None and time.monotonic() > hard_deadline:
                    self.query.stop()
                    break
                time.sleep(0.05)
            self.query.awaitTermination(timeout=30)
        finally:
            if self.query.isActive:
                self.query.stop()

    def _drain_observations(self, timeout: float) -> None:
        # Observations still unfilled when the query ends get a bounded
        # wait; any left after it are dropped.
        limit = time.monotonic() + timeout
        while True:
            self._harvest_observations()
            with self._lock:
                if not self._pending_obs:
                    return
            if time.monotonic() >= limit:
                return
            time.sleep(0.01)

    def stop(self) -> None:
        self._stop_requested.set()
