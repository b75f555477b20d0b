"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Workloads: ``stream_live`` and
``batch_mix`` (see perfbench/README.md).  With
``--trace 0`` the last line of standard output is a JSON object whose
``metrics`` hold every end-to-end metric of BENCHMARK.json; with
``--trace 1`` it holds every per-layer metric instead, and the spans are
written to ``.bench_work/traces/``.  The line before it (``report: {...}``)
carries the workload's own figures (freshness p95, query p50, generator
properties, ...).  The exit code is 1 when any output was wrong or any
operation failed, 2 when the program cannot be imported.

Every run works in a fresh directory under ``.bench_work/`` in the checkout
(landing, checkpoint, output, Spark scratch and temp files) and removes it at
the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import uuid

import stats
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_live", "batch_mix")
# The driver heap: 2g through the package's own setting (8g when unset), and
# fixed, with a fixed young generation.  G1 places young regions anywhere in
# the committed heap, so resident memory follows the committed size, which it
# adapts to how collections happen to fall: peak RSS of identical runs ranged
# over 2.0-3.4 GB at 8g and 1.05-1.48 GB at 2g, with or without a fixed young
# generation alone.  With the heap fixed, peak RSS counts the heap pages a run
# touches plus off-heap and Python-worker memory; heap sizing and churn that
# stays inside the young generation do not show in it.
DRIVER_MEM, JVM_HEAP_FLAGS = "2g", "-Xms2g -Xmn512m"


class Context:
    """What a workload gets: its seed and run length, a fresh work directory,
    the tracer, timers for set-up, warm-up and the measured region, and the
    steal clock that corrects timed intervals for the time the hypervisor
    took."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, work: str, cores: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.work, self.cores = traced, work, cores
        self.tracer = Tracer(uuid.uuid4().hex[:12], traced)
        self.timings: dict[str, float] = {}
        self.intervals: dict[str, tuple[float, float]] = {}
        self.clock = stats.StealClock().start()
        self.session = None
        self._jvm_pid = 0
        self._rss = None

    def spark(self):
        from e_commerce_streaming_datapipeline_spark.session import get_spark

        extra = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep the progress report of every micro-batch of the run
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.driver.extraJavaOptions": JVM_HEAP_FLAGS,
        }
        if self.traced:  # keep every job of the run in the UI REST store
            extra |= {"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}
        t = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.session = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=extra)
        self.timings["session.get_spark_s"] = time.perf_counter() - t
        self._jvm_pid = stats.jvm_pid(self.session)
        return self.session

    @contextlib.contextmanager
    def _timed(self, key: str):
        t, start = time.perf_counter(), time.time()
        with self.tracer.span(key.removesuffix("_s")):
            yield
        self.timings[key] = time.perf_counter() - t
        self.intervals[key] = (start, time.time())

    def setup(self):
        return self._timed("setup_s")

    def warmup(self):
        return self._timed("session.warmup_s")

    @contextlib.contextmanager
    def measure(self):
        """The measured region; peak memory is sampled over it only."""
        self._rss = stats.RssSampler([self._jvm_pid]).start()
        with self._timed("measured_s"):
            yield
        self._rss.stop()

    @property
    def peak_rss_mb(self) -> float:
        return self._rss.peak_mb

    def close(self) -> None:
        self.clock.stop()
        if self._rss is not None:
            self._rss.stop()
        if self.session is not None:
            stop_spark(self.session)


def stop_spark(spark) -> None:
    """Stop every query and the context, then end the JVM and wait for it."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()

    nproc = len(os.sched_getaffinity(0))
    cores = min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc), nproc)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # every JVM the run starts keeps its temporary files in the work
        # directory and writes no performance-counter file
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    os.chdir(work)  # Spark's derby.log and metastore land here
    sys.path.insert(1, ROOT)
    try:  # both import the package under test
        import batch
        import stream
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        return 2

    run = {"stream_live": stream.stream_live, "batch_mix": batch.batch_mix}[args.workload]
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work, cores)
    try:
        result = run(ctx)
    finally:
        ctx.close()

    errors = result["errors"]
    e2e = {
        "setup_s": ctx.clock.unstolen(*ctx.intervals["setup_s"]),
        "peak_rss_mb": ctx.peak_rss_mb,
        "latency_s": result["latency_s"],
        "throughput_per_s": result["throughput_per_s"],
    }
    report = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "error_rate": len(errors) / result["attempted"], "errors": errors[:20],
              **e2e, **result["report"], "setup_wall_s": ctx.timings["setup_s"],
              "measured_s": ctx.timings["measured_s"],
              "stolen_share": {k: ctx.clock.share(*ctx.intervals[k]) for k in ("setup_s", "measured_s")}}
    if args.trace:
        layers = {
            "session.get_spark_s": ctx.timings["session.get_spark_s"],
            "session.warmup_s": ctx.timings["session.warmup_s"],
            **result.get("layers", {}),
            "trace.overhead_s": ctx.tracer.overhead_s,
        }
        chosen = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
        report["traced_end_to_end"] = e2e
        report["trace_self_s"] = ctx.tracer.self_times()
        traces = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        ctx.tracer.dump(os.path.join(traces, f"{args.workload}-s{args.seed}-{ctx.tracer.run_id}.json"))
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    print("report: " + json.dumps(report, default=float))
    print(json.dumps({
        "correct": not errors,
        "attempted": result["attempted"],
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
