"""The ``pipeline`` workload: the collect→process runtime with real Spark work.

One run drives both runtime modes, one after the other, in the same
session. Both push generated ``documents`` rows through
``streaming.curation.curation_gate`` into an append-only parquet sink, and
afterwards each sink must equal a batch ``curation_gate`` over exactly the
rows generated for it, with no row missing, duplicated or different.

1. Thread mode, closed loop: ``pipeline.Pipeline`` with ``max_workers``
   equal to the core count. ``collect`` hands back the next 500 preloaded
   rows at once, so the processor never waits for the source. A run of
   eight batches warms the session first; its wall time is ``cold_s``.
2. Streaming mode, open loop: ``StreamingPipeline`` over
   ``sources.pull_source.collect_func_stream``. After two warm-up pulls of
   250 rows have been written, rows fall due at a fixed 500 rows/s whether
   or not the query keeps up. A row's latency runs from its due time to
   the end of the ``foreachBatch`` call that wrote it.

Each mode measures for half of ``--seconds``. Document ids are
``seed * 10**7 + seq`` for the ``seq``-th generated row, and every pass
over the document table uses a fresh seeded order.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import datagen

DOC_SF = 0.1          # 5,000 documents
BATCH_ROWS = 500      # rows per collect() in thread mode
WARM_BATCHES = 8      # thread-mode warm-up run, reported as cold_s
STREAM_RATE = 500     # rows/s offered in streaming mode
# An epoch takes ~0.5 s on 4 cores, so the engine's default 500 ms trigger
# would run the stream at saturation, where latency is mostly queueing;
# a 1 s trigger leaves headroom, so latency tracks the per-epoch path.
TRIGGER = {"processingTime": "1 second"}
WARM_PULLS = 2        # streaming warm-up pulls before the schedule starts
WARM_PULL_ROWS = 250
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
STREAM_SCHEMA = SCHEMA + ", due_ts double, pulled_ts double"
GATE_COLS = ["doc_id", "n_words", "stopword_ratio", "bucket", "split"]


class DocFeed:
    """The seeded row sequence: ``frame(lo, hi)`` holds rows ``lo..hi-1``."""

    def __init__(self, path: str, seed: int):
        tbl = pq.read_table(path, columns=["text", "lang", "source", "n_chars"])
        self.cols = {c: np.asarray(tbl.column(c).to_pylist(), dtype=object)
                     for c in tbl.column_names}
        self.n = tbl.num_rows
        self.seed = seed
        self.base = seed * 10**7
        self._orders: list[np.ndarray] = []

    def _order(self, cycle: int) -> np.ndarray:
        while len(self._orders) <= cycle:
            rng = np.random.default_rng([self.seed, len(self._orders)])
            self._orders.append(rng.permutation(self.n))
        return self._orders[cycle]

    def frame(self, lo: int, hi: int):
        import pandas as pd

        seq = np.arange(lo, hi)
        pos = np.concatenate([self._order(c)[seq[seq // self.n == c] % self.n]
                              for c in range(lo // self.n, (hi - 1) // self.n + 1)])
        return pd.DataFrame({
            "doc_id": seq.astype(np.int64) + self.base,
            **{c: v[pos] for c, v in self.cols.items()},
        })


def _sink_failures(ctx, sink_paths, expected_pdf, unit_of) -> tuple[set, object]:
    """Units (batches or rows) whose sink rows are missing, duplicated or
    differ from a batch ``curation_gate`` over the same generated rows;
    also returns the sink's rows."""
    import pandas as pd
    from check_oracle import canon_rows

    from asyncdatapipeline_spark.streaming.curation import curation_gate

    want = curation_gate(ctx.spark.createDataFrame(expected_pdf, schema=SCHEMA)).toPandas()
    parts = [pq.read_table(p).to_pandas() for p in sink_paths
             if os.path.isdir(p) and any(f.endswith(".parquet") for f in os.listdir(p))]
    got = pd.concat(parts, ignore_index=True) if parts else want.iloc[0:0]
    dup = got["doc_id"][got["doc_id"].duplicated()]
    bad = {unit_of(int(d)) for d in dup}
    w, g = _by_id(canon_rows, want), _by_id(canon_rows, got)
    bad.update(unit_of(k) for k in set(w) | set(g) if w.get(k) != g.get(k))
    if bad:
        ctx.log(f"sink check: {len(bad)} bad units, {len(dup)} duplicate rows, "
                f"{len(got)} sink rows vs {len(want)} expected")
    return bad, got


def _by_id(canon_rows, pdf) -> dict:
    cols, counter = canon_rows(pdf[GATE_COLS])
    i = cols.index("doc_id")
    return {int(r[i]): r for r in counter.elements()}


def run(ctx) -> dict:
    data_dir = str(ctx.work / "data")
    datagen.generate(data_dir, DOC_SF, ctx.seed, tables=("documents",))
    path = f"{data_dir}/documents.parquet"
    feed = DocFeed(path, ctx.seed)
    window = ctx.seconds / 2
    next_seq = [0]

    warm_sink, sink = str(ctx.work / "sink-warm"), str(ctx.work / "sink")
    warm = _closed_run(ctx, feed, next_seq, warm_sink, n_batches=WARM_BATCHES)
    main = _closed_run(ctx, feed, next_seq, sink, window=window)
    n_closed = next_seq[0]
    attempted, failed = 0, 0
    for r in (warm, main):
        attempted += len(r["collect"])
        # every thread-mode run ends when collect raises StopPipeline
        if r["reason"] != "collect_cancel" or r["errors"]:
            ctx.log(f"pipeline run ended {r['reason']} with errors {r['errors']}")
            failed += 1 + len(r["collect"]) - len(r["process"])
    bad, _ = _sink_failures(ctx, [warm_sink, sink], feed.frame(0, n_closed),
                            lambda doc_id: (doc_id - feed.base) // BATCH_ROWS)
    failed += len(bad)

    t_check = time.perf_counter()
    st = _stream_run(ctx, path, n_closed, window)
    attempted += st["total"]
    bad, got = _sink_failures(ctx, [st["sink"]], feed.frame(n_closed, n_closed + st["total"]),
                              lambda doc_id: doc_id)
    failed += len(bad)
    if st["errors"] or st["reason"] != "none":
        ctx.log(f"stream ended {st['reason']} with errors {st['errors']}")
        failed += 1

    # per-row latency of the scheduled (not warm-up) rows that passed the gate
    i = got["doc_id"].to_numpy() - feed.base - st["t0_seq"]
    timed = i >= 0
    epoch = got["epoch"].to_numpy()[timed]
    ends = np.array([st["epochs"][int(e)][2] for e in epoch])
    lat = ends - (st["t0"] + i[timed] / STREAM_RATE)
    proc = main["process"]
    metrics = {
        "cold_s": warm["wall"],
        "throughput_per_s": len(proc) * BATCH_ROWS / main["wall"],
        "latency_p50_s": float(np.median(lat)),
        "latency_tail_s": float(np.percentile(lat, 99)),
    }
    ctx.log(f"pipeline phases: thread-mode warm-up {warm['wall']:.1f}s, window "
            f"{main['wall']:.1f}s, check {t_check - main['t_run'] - main['wall']:.1f}s; "
            f"stream start to t0 {st['t0'] - st['t_start']:.1f}s, t0 to last epoch "
            f"{max(v[2] for v in st['epochs'].values()) - st['t0']:.1f}s, to stopped "
            f"{st['t_stop'] - st['t0']:.1f}s")
    ctx.log(f"pipeline: thread mode {len(proc)} batches at "
            f"{metrics['throughput_per_s']:.0f} rows/s; streaming {len(st['epochs'])} epochs, "
            f"{len(lat)} timed rows, p50 {metrics['latency_p50_s']:.3f}s "
            f"p99 {metrics['latency_tail_s']:.3f}s")
    layers = {}
    if ctx.trace:
        stages = ctx.layers.stages()
        layers.update(_closed_layers(ctx, main, stages))
        layers.update(_stream_layers(ctx, st, stages, lat, epoch))
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "layers": layers}


# -- thread mode, closed loop ------------------------------------------------

def _closed_run(ctx, feed, next_seq, sink, n_batches=None, window=None) -> dict:
    """One ``Pipeline.run``, ended by ``collect`` raising ``StopPipeline``
    after ``n_batches`` batches or ``window`` seconds. In the traced run
    every second batch runs under its own Spark job group."""
    from asyncdatapipeline_spark.config import PipelineConfig
    from asyncdatapipeline_spark.errors import StopPipeline
    from asyncdatapipeline_spark.pipeline import Pipeline
    from asyncdatapipeline_spark.streaming.curation import curation_gate

    rec = {"collect": [], "process": []}
    t_end = None if window is None else time.perf_counter() + window
    traced_run = ctx.trace and window is not None

    def collect(_p):
        t0 = time.perf_counter()
        if len(rec["collect"]) == n_batches or (t_end is not None and t0 >= t_end):
            raise StopPipeline()
        lo = next_seq[0]
        next_seq[0] += BATCH_ROWS
        batch = feed.frame(lo, lo + BATCH_ROWS)
        rec["collect"].append((t0, time.perf_counter()))
        return batch

    def process(_p, df):
        k = len(rec["process"])
        traced = traced_run and k % 2 == 1
        t0 = time.perf_counter()
        if traced:
            ctx.layers.set_group(f"batch{k}")
        try:
            gated = curation_gate(df)
            t1 = time.perf_counter()
            gated.write.mode("append").parquet(sink)
        finally:
            if traced:
                ctx.layers.set_group(None)
        rec["process"].append((t0, t1, time.perf_counter(), traced))

    p = Pipeline(PipelineConfig(max_workers=ctx.cores, idle_time=60.0),
                 collect, process, spark=ctx.spark, schema=SCHEMA)
    t0 = time.perf_counter()
    reason, errors = p.run()
    rec.update(wall=time.perf_counter() - t0, t_run=t0, reason=str(reason),
               errors=errors, hub=p.export_metrics())
    return rec


def _closed_layers(ctx, r, stages) -> dict:
    col, proc = r["collect"], r["process"]
    ends = [r["t_run"]] + [p[2] for p in proc[:-1]]
    idle = [p[0] - e for p, e in zip(proc, ends)]
    lat = [p[2] - c[1] for c, p in zip(col, proc)]
    ri = ctx.tracer.add("run", "thread", r["t_run"], r["t_run"] + r["wall"])
    for k, (c, p) in enumerate(zip(col, proc)):
        bi = ctx.tracer.add("batch", f"b{k}", c[0], p[2], ri)
        ctx.tracer.add("collect", f"b{k}", c[0], c[1], bi)
        ctx.tracer.add("handoff", f"b{k}", c[1], p[0], bi)
        ctx.tracer.add("gate", f"b{k}", p[0], p[1], bi)
        ctx.tracer.add("write", f"b{k}", p[1], p[2], bi)
        ctx.tracer.add("idle", f"b{k}", ends[k], p[0], ri)
    groups = [ctx.layers.group_summary(f"batch{k}", stages)
              for k, p in enumerate(proc) if p[3]]
    traced = [p[2] - p[0] for p in proc if p[3]]
    plain = [p[2] - p[0] for p in proc if not p[3]]
    busy = sum(g["run_s"] for g in groups)
    return {
        "pipeline.batch_latency_p50_s": statistics.median(lat),
        "pipeline.batch_latency_p90_s": float(np.percentile(lat, 90)),
        "pipeline.collect_s": statistics.fmean(c[1] - c[0] for c in col[:len(proc)]),
        "pipeline.handoff_s": statistics.fmean(p[0] - c[1] for c, p in zip(col, proc)),
        "pipeline.process_s": statistics.fmean(p[2] - p[0] for p in proc),
        "pipeline.idle_s": statistics.fmean(idle),
        "pipeline.idle_ratio": sum(idle) / r["wall"],
        "pipeline.hub_idle_ratio": r["hub"]["idle_ratio"],
        "pipeline.jobs_per_batch": statistics.fmean(g["jobs"] for g in groups),
        "pipeline.tasks_per_batch": statistics.fmean(g["tasks"] for g in groups),
        "pipeline.executor_run_s": busy / len(groups),
        "pipeline.busy_ratio": busy / (sum(traced) * ctx.cores),
        "pipeline.accounted_ratio": (sum(p[2] - p[0] for p in proc) + sum(idle)) / r["wall"],
        "pipeline.trace_overhead_ratio": statistics.median(traced) / statistics.median(plain),
        "curation.gate_s": statistics.median(p[1] - p[0] for p in proc),
        "curation.write_s": statistics.median(p[2] - p[1] for p in proc),
    }


# -- streaming mode, open loop -----------------------------------------------

class ScheduledSource:
    """The open-loop generator; the DataSource reader process calls it.

    Rows are numbered from ``first_seq``. The first ``WARM_PULLS`` pulls
    return ``WARM_PULL_ROWS`` rows each at once. After that, row
    ``t0_seq + i`` falls due at ``t0 + i / rate``, where ``t0`` (epoch
    seconds) is read from the file ``go`` once the main process writes it. Each
    pull returns every row due and not yet pulled, stamped with its due and
    pull times; with ``pull_log`` set it appends ``first last pulled_at``.
    """

    def __init__(self, path, seed, first_seq, total, go, pull_log=None):
        self.path, self.seed, self.go, self.pull_log = path, seed, go, pull_log
        self.end = first_seq + total
        self.t0_seq = first_seq + WARM_PULLS * WARM_PULL_ROWS
        self.sent = first_seq
        self.t0 = None
        self.feed = None

    def __call__(self):
        if self.feed is None:
            self.feed = DocFeed(self.path, self.seed)
        now = time.time()
        if self.sent < self.t0_seq:
            hi, due = self.sent + WARM_PULL_ROWS, [now] * WARM_PULL_ROWS
        else:
            if self.t0 is None:
                if not os.path.exists(self.go):
                    return None
                with open(self.go) as fh:
                    self.t0 = float(fh.read())
            hi = min(self.end, self.t0_seq + int((now - self.t0) * STREAM_RATE) + 1)
            if now < self.t0 or hi <= self.sent:
                return None
            due = [self.t0 + (q - self.t0_seq) / STREAM_RATE for q in range(self.sent, hi)]
        lo, self.sent = self.sent, hi
        pdf = self.feed.frame(lo, hi)
        if self.pull_log:
            with open(self.pull_log, "a") as fh:
                fh.write(f"{lo} {hi - 1} {now!r}\n")
        return [(int(d), t, la, s, int(nc), du, now) for d, t, la, s, nc, du in
                zip(pdf.doc_id, pdf.text, pdf.lang, pdf.source, pdf.n_chars, due)]


def _stream_run(ctx, path, first_seq, window) -> dict:
    """One ``StreamingPipeline.run``, stopped once every scheduled row has
    been processed. In the traced run every second epoch's ``process`` runs
    under its own Spark job group."""
    from pyspark.sql import functions as F

    from asyncdatapipeline_spark.config import PipelineConfig
    from asyncdatapipeline_spark.pipeline import StreamingPipeline
    from asyncdatapipeline_spark.sources.pull_source import collect_func_stream
    from asyncdatapipeline_spark.streaming.curation import curation_gate

    warm_rows = WARM_PULLS * WARM_PULL_ROWS
    total = warm_rows + int(STREAM_RATE * window)
    sink, go = str(ctx.work / "stream-sink"), str(ctx.work / "go")
    pull_log = str(ctx.work / "pulls.txt") if ctx.trace else None
    source = ScheduledSource(path, ctx.seed, first_seq, total, go, pull_log)
    epochs: dict[int, tuple] = {}

    def process(batch_df, epoch_id):
        traced = ctx.trace and epoch_id % 2 == 1
        p0 = time.time()
        if traced:
            ctx.layers.set_group(f"epoch{epoch_id}")
        try:
            gated = curation_gate(batch_df)
            p1 = time.time()
            gated.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(sink)
        finally:
            if traced:
                ctx.layers.set_group(None)
        epochs[epoch_id] = (p0, p1, time.time(), traced)

    sp = StreamingPipeline(ctx.spark, collect_func_stream(ctx.spark, source, STREAM_SCHEMA),
                           process, PipelineConfig(idle_time=60.0), trigger=TRIGGER)
    state = {"t0": None}
    done = threading.Event()

    def conductor():
        # Start the schedule once the warm-up rows are written, and stop
        # the query once every row has been processed; ``idle_time`` only
        # backstops a wedged run.
        while not done.wait(0.02):
            n = sp.metrics.current().item_count
            if state["t0"] is None and n >= warm_rows:
                state["t0"] = time.time() + 0.1
                with open(go + ".tmp", "w") as fh:
                    fh.write(repr(state["t0"]))
                os.replace(go + ".tmp", go)
            if n >= total:
                sp.stop()
                return

    watcher = threading.Thread(target=conductor, daemon=True)
    watcher.start()
    t_start = time.time()
    try:
        reason, errors = sp.run(deadline=window + 90)
    finally:
        done.set()
        watcher.join(timeout=5)
    return {"total": total, "sink": sink, "epochs": epochs, "t0": state["t0"],
            "t_start": t_start, "t_stop": time.time(),
            "t0_seq": source.t0_seq, "reason": reason.value, "errors": errors,
            "pull_log": pull_log,
            "progress": list(sp.query.recentProgress) if ctx.trace else []}


def _stream_layers(ctx, st, stages, lat, epoch) -> dict:
    phases = {"latestOffset": "stream.latest_offset_ms", "getBatch": "stream.get_batch_ms",
              "queryPlanning": "stream.query_planning_ms", "addBatch": "stream.add_batch_ms",
              "walCommit": "stream.wal_commit_ms"}
    # layers of the scheduled epochs only, not of the two warm-up epochs
    epochs = {e: v for e, v in st["epochs"].items() if v[0] >= st["t0"]}
    progress = [p for p in st["progress"] if p.batchId in epochs or p.numInputRows == 0]
    data = [p for p in progress if p.numInputRows > 0]
    to_perf = time.perf_counter() - time.time()
    ri = ctx.tracer.add("stream", "stream", min(v[0] for v in epochs.values()) + to_perf,
                        max(v[2] for v in epochs.values()) + to_perf)
    job_times = ctx.layers.job_submit_times()
    phase_ms = trig_ms = 0.0
    jobs_per = []
    for p in data:
        d, t = p.durationMs, _iso_epoch(p.timestamp)
        t_end = t + d["triggerExecution"] / 1e3
        ei = ctx.tracer.add("epoch", f"e{p.batchId}", t + to_perf, t_end + to_perf, ri)
        jobs_per.append(sum(1 for j in job_times if t <= j <= t_end))
        for ph in phases:
            ctx.tracer.add(ph, f"e{p.batchId}", t + to_perf, t + d.get(ph, 0) / 1e3 + to_perf, ei)
            t += d.get(ph, 0) / 1e3
        phase_ms += sum(d.get(ph, 0) for ph in phases)
        trig_ms += d["triggerExecution"]
    out = {name: statistics.median(p.durationMs.get(ph, 0) for p in data)
           for ph, name in phases.items()}
    proc = {e: v[2] - v[0] for e, v in epochs.items()}
    lag_sum = lag_rows = 0.0
    with open(st["pull_log"]) as fh:
        for line in fh:
            lo, hi, pulled = line.split()
            lo, hi = int(lo), int(hi)
            if lo >= st["t0_seq"]:  # scheduled rows only
                k = hi - lo + 1
                first_due = st["t0"] + (lo - st["t0_seq"]) / STREAM_RATE
                lag_sum += k * (float(pulled) - first_due) - k * (k - 1) / 2 / STREAM_RATE
                lag_rows += k
    traced_epochs = [e for e, v in epochs.items() if v[3]]
    groups = [ctx.layers.group_summary(f"epoch{e}", stages) for e in traced_epochs]
    tr = np.isin(epoch, traced_epochs)
    out.update({
        "stream.trigger_ms": statistics.median(p.durationMs["triggerExecution"] for p in data),
        "stream.process_s": statistics.median(proc.values()),
        "stream.wrapper_s": statistics.median(p.durationMs["addBatch"] / 1e3 - proc[p.batchId]
                                              for p in data),
        "stream.jobs_per_batch": statistics.median(jobs_per),
        "stream.process_jobs_per_batch": statistics.median(g["jobs"] for g in groups),
        "stream.empty_batch_ratio": 1 - len(data) / max(1, len(progress)),
        "stream.accounted_ratio": phase_ms / trig_ms,
        "stream.trace_overhead_ratio": float(np.median(lat[tr]) / np.median(lat[~tr])),
        "pull_source.lag_s": lag_sum / lag_rows,
    })
    return out


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()
