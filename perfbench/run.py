"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Everything the run writes (generated
tables, Spark scratch, sinks, the span file) stays under ``.perfbench/``
in the checkout. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
records spans and Spark job groups and prints the per-layer metrics.
NOTES.md describes the workloads and what each metric means.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("batch", "pipeline")

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "throughput_per_s": "1/s",
    "latency_p50_s": "s", "latency_tail_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s", "session.first_job_s": "s",
    "session.jvm_rss_peak_mb": "MB", "host.cpu_steal_ratio": "ratio",
    "batch.scan_query_s": "s", "batch.iterative_query_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "spark.driver_only_s": "s", "spark.action_s": "s", "spark.action_jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.single_task_stages": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.busy_ratio": "ratio",
    "spark.input_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "batch.accounted_ratio": "ratio", "batch.trace_overhead_ratio": "ratio",
    "pipeline.batch_latency_p50_s": "s", "pipeline.batch_latency_p90_s": "s",
    "pipeline.collect_s": "s", "pipeline.handoff_s": "s", "pipeline.process_s": "s",
    "pipeline.idle_s": "s", "pipeline.idle_ratio": "ratio",
    "pipeline.hub_idle_ratio": "ratio", "pipeline.jobs_per_batch": "count",
    "pipeline.tasks_per_batch": "count", "pipeline.executor_run_s": "s",
    "pipeline.busy_ratio": "ratio", "pipeline.accounted_ratio": "ratio",
    "pipeline.trace_overhead_ratio": "ratio",
    "curation.gate_s": "s", "curation.write_s": "s",
    "pull_source.lag_s": "s", "stream.latest_offset_ms": "ms", "stream.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.trigger_ms": "ms", "stream.process_s": "s",
    "stream.wrapper_s": "s", "stream.jobs_per_batch": "count",
    "stream.process_jobs_per_batch": "count", "stream.empty_batch_ratio": "ratio",
    "stream.accounted_ratio": "ratio", "stream.trace_overhead_ratio": "ratio",
    "bench.failed_ratio": "ratio",
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: Path
    cores: int
    tracer: object = None
    layers: object = None

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process they
    started (Python workers, the DataSource runner) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while spawned and time.monotonic() < deadline:
        spawned = {p for p in spawned if os.path.exists(f"/proc/{p}")
                   and not _zombie(p)}
        time.sleep(0.05)
    for p in spawned:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user … steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _rss_peak_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "asyncdatapipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package next to {HERE.name}/; run from a "
              "full checkout", file=sys.stderr)
        return 2
    # Spark's task slots. ``batch`` runs one small query at a time, so more
    # slots than half the CPUs add no speed; the other half is left to the
    # JVM's JIT compiler and GC threads, the DAG scheduler, Py4J and the
    # Python client, which otherwise queue behind the tasks and make
    # warm-up and timings swing with the host's load. ``pipeline`` runs
    # ``max_workers`` concurrent batches and a stream whose epoch must fit
    # its trigger, so it gets every CPU.
    cpus = len(os.sched_getaffinity(0))
    cores = max(1, cpus // 2) if args.workload == "batch" else cpus
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Spark's Python workers and the DataSource runner import the engine
    # and this directory by module name, so both go on their PYTHONPATH.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    sys.path[:0] = [str(ROOT), str(HERE), str(ROOT / "tools")]

    from asyncdatapipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage of the window back
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    })
    t1 = time.perf_counter()
    from asyncdatapipeline_spark import registry

    registry._load_all()
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()

    ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace), work, cores)
    if ctx.trace:
        from tracing import SparkLayers, Tracer

        ctx.tracer, ctx.layers = Tracer(), SparkLayers(spark)
        si = ctx.tracer.add("setup", "setup", T_PROCESS, t3)
        ctx.tracer.add("session.start", "setup", t0, t1, si)
        ctx.tracer.add("registry.load", "setup", t1, t2, si)
        ctx.tracer.add("session.first_job", "setup", t2, t3, si)
    ticks = _cpu_ticks()
    try:
        if args.workload == "batch":
            import batch

            res = batch.run(ctx)
        else:
            import pipelines

            res = pipelines.run(ctx)
        rss = _rss_peak_mb(spark)
        # CPU the hypervisor gave to other guests while the workload ran; a
        # run with high steal reads slow on every metric.
        delta = [b - a for a, b in zip(ticks, _cpu_ticks())]
        steal = delta[7] / max(1, sum(delta))
        ctx.log(f"host CPU steal {steal:.1%} during the workload")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if ctx.trace:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(res["layers"])
        values.update({
            "session.start_s": t1 - t0, "registry.load_s": t2 - t1,
            "session.first_job_s": t3 - t2, "session.jvm_rss_peak_mb": rss,
            "host.cpu_steal_ratio": steal,
            "bench.failed_ratio": res["failed"] / res["attempted"],
        })
        units = PER_LAYER
        traces = ROOT / ".perfbench" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        ctx.tracer.write(str(traces / f"{args.workload}-{args.seed}.json"))
    else:
        values = dict(res["metrics"], setup_s=t3 - T_PROCESS)
        units = END_TO_END
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
