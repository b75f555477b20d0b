"""The ``stream_live`` workload.

It runs the reference deployment's pipeline through the package's public
functions: ``read_file_stream`` -> ``with_event_time_discipline`` -> three
independent update-mode queries (``streaming_gmv``, ``streaming_funnel``,
``streaming_unique_buyers``), each writing through its own
``idempotent_parquet_sink`` with the default trigger.  An open-loop landing
process writes one file every ``LIVE_PERIOD_S`` meanwhile.  Freshness is
sampled per (landed file, query).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone

import duckdb
import pyarrow.parquet as pq

import gen
import stats
from spans import Tracer, job_group_totals, self_time

from e_commerce_streaming_datapipeline_spark.sources.streaming import read_file_stream
from e_commerce_streaming_datapipeline_spark.streaming import processors as P
from e_commerce_streaming_datapipeline_spark.streaming.sinks import idempotent_parquet_sink

QUERIES = (
    ("gmv", P.streaming_gmv),
    ("funnel", P.streaming_funnel),
    ("unique_buyers", P.streaming_unique_buyers),
)

# 2,000 events/s, landed as one 1,000-event file every 0.5 s
LIVE_PERIOD_S = 0.5
LIVE_EVENTS_PER_FILE = 1_000
GENERATOR_LATE_LIMIT_S = 1.0  # a run whose landing fell further behind is invalid
TAIL_TIMEOUT_S = 60.0


@dataclass
class SinkCall:
    query: str
    batch_id: int
    start: float
    end: float
    ok: bool
    partitions_rewritten: int = 0


class SinkLog:
    """Wraps each query's sink and records every call.  When tracing, it also
    counts the window partitions each call rewrote."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.calls: list[SinkCall] = []
        self.stopped_at = float("inf")  # calls cut short by stopping a query are not failures
        self._lock = threading.Lock()

    def _stamps(self, out_dir: str) -> dict[str, tuple[int, int]]:
        if not self.tracer.enabled:
            return {}
        with self.tracer.overhead():
            return _partition_stamps(out_dir)

    def wrap(self, query: str, out_dir: str, sink):
        def write(batch_df, batch_id: int) -> None:
            before = self._stamps(out_dir)
            start, ok = time.time(), False
            try:
                sink(batch_df, batch_id)
                ok = True
            finally:
                call = SinkCall(query, batch_id, start, time.time(), ok)
                after = self._stamps(out_dir)
                call.partitions_rewritten = sum(1 for k, v in after.items() if before.get(k) != v)
                with self._lock:
                    self.calls.append(call)

        return write

    def failed(self) -> list[SinkCall]:
        with self._lock:
            return [c for c in self.calls if not c.ok and c.end < self.stopped_at]

    def returned(self, query: str) -> dict[int, float]:
        with self._lock:
            return {c.batch_id: c.end for c in self.calls if c.query == query and c.ok}


def _partition_stamps(out_dir: str) -> dict[str, tuple[int, int]]:
    try:
        entries = list(os.scandir(out_dir))
    except FileNotFoundError:
        return {}
    return {
        e.name: (e.inode(), e.stat().st_mtime_ns)
        for e in entries
        if e.is_dir() and e.name.startswith("window_part=")
    }


def start_queries(spark, landing: str, work: str, tag: str, sink_log: SinkLog) -> dict:
    events = P.with_event_time_discipline(read_file_stream(spark, landing, "*.parquet"))
    queries = {}
    for name, build in QUERIES:
        out = os.path.join(work, f"out-{tag}-{name}")
        queries[name] = (
            build(events).writeStream.outputMode("update")
            .foreachBatch(sink_log.wrap(f"{tag}-{name}", out, idempotent_parquet_sink(out)))
            .option("checkpointLocation", os.path.join(work, f"ck-{tag}-{name}"))
            .queryName(f"{tag}-{name}")
            .start()
        )
    return queries


@contextmanager
def landing_process(landing: str, spec: gen.StreamSpec, seed: int):
    """Start the open-loop landing process (``gen.py``), wait until it has
    generated its files, and make sure it has ended on the way out."""
    os.makedirs(landing, exist_ok=True)
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")
    proc = subprocess.Popen(
        [sys.executable, script, landing, gen.spec_json(spec), str(seed)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        line = proc.stdout.readline().strip()
        if line != "ready":
            raise RuntimeError(f"landing process did not start: {line!r}")
        yield proc
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()


def run_landing(proc: subprocess.Popen, t0: float) -> list[dict]:
    """Give the landing process its start time (epoch seconds) and wait for
    its manifest."""
    out, _ = proc.communicate(f"{t0!r}\n", timeout=120)
    if proc.returncode != 0:
        raise RuntimeError(f"landing process exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def write_primer(landing: str, seed: int, name: str) -> None:
    """One warm-up file whose event ids cannot collide with the stream's."""
    spec = gen.StreamSpec(1, LIVE_EVENTS_PER_FILE, LIVE_PERIOD_S)
    cols = gen.stream_files(spec, seed + 7_919)[0]
    cols["event_id"] = cols["event_id"] + 10**12
    os.makedirs(landing, exist_ok=True)
    tmp = os.path.join(landing, "." + name + ".tmp")
    pq.write_table(gen.events_table(cols, int(time.time() * gen.US)), tmp)
    os.rename(tmp, os.path.join(landing, name))


# -- correctness -------------------------------------------------------------

_EXPECTED = {
    "gmv": """
        SELECT epoch_us(time_bucket(INTERVAL 1 minute, ts)) AS w,
               round(sum(value), 2) AS gmv, count(*) AS item_count,
               round(avg(value), 2) AS avg_item_price,
               max(value) AS max_item_price, min(value) AS min_item_price
        FROM ev WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""",
    "funnel": """
        SELECT epoch_us(time_bucket(INTERVAL 1 hour, ts)) AS w,
               count(*) AS total_events,
               count_if(event_type = 'view') AS views,
               count_if(event_type = 'click') AS clicks,
               count_if(event_type = 'signup') AS signups,
               count_if(event_type = 'purchase') AS purchases,
               CASE WHEN count_if(event_type = 'view') > 0
                    THEN round(count_if(event_type = 'click') / count_if(event_type = 'view') * 100, 2)
                    ELSE 0 END AS click_rate
        FROM ev GROUP BY 1 ORDER BY 1""",
    "unique_buyers": """
        SELECT epoch_us(time_bucket(INTERVAL 1 minute, ts)) AS w,
               count(DISTINCT user_id) AS unique_buyers
        FROM ev WHERE event_type = 'purchase' AND user_id IS NOT NULL
        GROUP BY 1 ORDER BY 1""",
}


def check_outputs(landing: str, outputs: dict[str, str]) -> list[str]:
    """Each sink's final table must equal the batch result over the distinct
    generated events (DuckDB).  Money columns are rounded to cents by both
    engines and may differ by one cent in summation order; counts must match
    exactly.  Returns one message per mismatch."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW ev AS SELECT DISTINCT * FROM read_parquet("
        f"'{landing}/*.parquet') WHERE ts IS NOT NULL"
    )
    n_rows, n_ids = con.execute("SELECT count(*), count(DISTINCT event_id) FROM ev").fetchone()
    errors = [] if n_rows == n_ids else [f"replays are not verbatim ({n_rows} rows, {n_ids} ids)"]
    for name, sql in _EXPECTED.items():
        expected = con.execute(sql).fetchall()
        cols = [d[0] for d in con.description][1:]
        actual = con.execute(
            f"SELECT epoch_us(window_start) AS w, {', '.join(cols)} FROM read_parquet("
            f"'{outputs[name]}/*/*.parquet', hive_partitioning = true) ORDER BY 1"
        ).fetchall()
        if len(actual) != len(expected):
            errors.append(f"{name}: {len(actual)} windows, expected {len(expected)}")
            continue
        for a, e in zip(actual, expected):
            if a[0] != e[0] or any(
                abs(x - y) > 0.011 if isinstance(y, float) else x != y
                for x, y in zip(a[1:], e[1:])
            ):
                errors.append(f"{name}: window {e[0]} is {a}, expected {e}")
                break
    return errors


# -- progress-derived layer metrics -------------------------------------------


def _data_progress(queries) -> list[dict]:
    out = []
    for q in queries:
        for p in q.recentProgress or []:
            p = json.loads(p.json)
            if p["numInputRows"] > 0:
                out.append(p)
    return out


def _state_ops(p: dict) -> list[dict]:
    return p.get("stateOperators") or []


def progress_checks(progress: list[dict], replayed_rows: int) -> list[str]:
    """Watermark drops must be zero and the dedup operator must drop exactly
    the replayed rows."""
    dropped_late = _late_rows(progress)
    errors = [f"{dropped_late} rows dropped by the watermark"] if dropped_late else []
    for name, dup in _dedup_dropped(progress).items():
        if dup != replayed_rows:
            errors.append(f"{name}: dedup dropped {dup} rows, {replayed_rows} were replayed")
    return errors


def _late_rows(progress: list[dict]) -> int:
    return sum(op["numRowsDroppedByWatermark"] for p in progress for op in _state_ops(p))


def _dedup_dropped(progress: list[dict]) -> dict[str, int]:
    """Rows the watermarked dedup operator dropped, per query."""
    dropped: dict[str, int] = {}
    for p in progress:
        for op in _state_ops(p):
            if op["operatorName"] == "dedupeWithinWatermark":
                n = int(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0))
                dropped[p["name"]] = dropped.get(p["name"], 0) + n
    return dropped


def _ts(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def layer_metrics(spark, queries, progress: list[dict], sink_log: SinkLog,
                  tracer: Tracer, cores: int, lag_files: int) -> dict[str, float]:
    """Per-layer counts and times of a traced stream run, plus spans for every
    data micro-batch: trigger -> (latestOffset, walCommit, getBatch,
    queryPlanning, addBatch -> sink call -> state operators, commitOffsets),
    laid out in the order the micro-batch runs them."""
    med = stats.median
    calls = {(c.query, c.batch_id): c for c in sink_log.calls}
    triggers, state_ms = [], []
    for p in progress:
        d = p["durationMs"]
        start = _ts(p["timestamp"])
        trig = tracer.add("microbatch.trigger", start, start + d["triggerExecution"] / 1000)
        cursor = start
        kids = {}
        for key in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            dur = d.get(key, 0) / 1000
            layer = "sources" if key in ("latestOffset", "getBatch") else "microbatch"
            kids[key] = tracer.add(f"{layer}.{key}", cursor, cursor + dur, trig)
            cursor += dur
        call = calls.get((p["name"], p["batchId"]))
        ops = _state_ops(p)
        # state work runs in parallel tasks; its wall share is the summed task
        # time divided by the number of state store instances that ran at once
        st = sum(
            (op["allUpdatesTimeMs"] + op["allRemovalsTimeMs"] + op["commitTimeMs"])
            / max(1, min(op.get("numStateStoreInstances", 1), cores))
            for op in ops
        ) / 1000
        if call is not None:
            sc = tracer.add("sinks.call", call.start, call.end, kids["addBatch"])
            tracer.add("processors.state", call.start, min(call.end, call.start + st), sc)
        triggers.append(d["triggerExecution"])
        state_ms.append(st * 1000)
    self_ms = _per_trigger_self(tracer)
    with tracer.overhead():
        by_group = job_group_totals(spark, [str(q.runId) for q in queries])
    jobs = {k: sum(t[k] for t in by_group.values()) for k in ("jobs", "output_bytes")}
    ok_calls = [c for c in sink_log.calls if c.ok]
    return {
        "sources.input_rows": float(sum(p["numInputRows"] for p in progress)),
        "sources.lag_files": float(lag_files),
        "sources.latest_offset_ms": med([p["durationMs"].get("latestOffset", 0) for p in progress]),
        "sources.get_batch_ms": med([p["durationMs"].get("getBatch", 0) for p in progress]),
        "microbatch.batches": float(len(progress)),
        "microbatch.trigger_ms": med(triggers),
        "microbatch.planning_ms": med([p["durationMs"].get("queryPlanning", 0) for p in progress]),
        "microbatch.wal_commit_ms": med([p["durationMs"].get("walCommit", 0) for p in progress]),
        "microbatch.overhead_ms": med([p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in progress]),
        "processors.state_rows": float(max(sum(op["numRowsTotal"] for op in _state_ops(p)) for p in progress)),
        "processors.state_bytes": float(max(sum(op["memoryUsedBytes"] for op in _state_ops(p)) for p in progress)),
        "processors.state_update_ms": med([sum(op["allUpdatesTimeMs"] for op in _state_ops(p)) for p in progress]),
        "processors.state_commit_ms": med([sum(op["commitTimeMs"] for op in _state_ops(p)) for p in progress]),
        "processors.state_wall_ms": med(state_ms),
        # useful work / attempted: must equal the generated replay share
        "processors.dedup_drop_ratio": sum(_dedup_dropped(progress).values())
        / max(1, sum(p["numInputRows"] for p in progress)),
        "processors.rows_dropped_by_watermark": float(_late_rows(progress)),
        "sinks.call_ms": med([(c.end - c.start) * 1000 for c in ok_calls]),
        "sinks.spark_jobs_per_batch": jobs["jobs"] / max(1, len(sink_log.calls)),
        "sinks.bytes_written": jobs["output_bytes"],
        "sinks.partitions_rewritten": float(sum(c.partitions_rewritten for c in sink_log.calls)),
        "sinks.failed_batches": float(len(sink_log.failed())),
        "trace.self_sources_ms": med(self_ms.get("sources", [0.0])),
        "trace.self_microbatch_ms": med(self_ms.get("microbatch", [0.0])),
        "trace.self_processors_ms": med(self_ms.get("processors", [0.0])),
        "trace.self_sinks_ms": med(self_ms.get("sinks", [0.0])),
    }


def _per_trigger_self(tracer: Tracer) -> dict[str, list[float]]:
    """Self time in ms of each layer (the span name's first part) under each
    trigger span."""
    kids = tracer.children()
    per: dict[str, list[float]] = {}
    for root in (s for s in tracer.spans if s.name == "microbatch.trigger"):
        acc: dict[str, float] = {}
        stack = [root]
        while stack:
            s = stack.pop()
            layer = s.name.split(".", 1)[0]
            acc[layer] = acc.get(layer, 0.0) + self_time(s, kids[s.id]) * 1000
            stack.extend(kids[s.id])
        for layer, v in acc.items():
            per.setdefault(layer, []).append(v)
    return per


# -- workloads ---------------------------------------------------------------


def stream_live(ctx) -> dict:
    seed, seconds = ctx.seed, ctx.seconds
    n_files = max(1, int(round(seconds / LIVE_PERIOD_S)))
    spec = gen.StreamSpec(n_files, LIVE_EVENTS_PER_FILE, LIVE_PERIOD_S)
    files = gen.stream_files(spec, seed)
    props = gen.stream_properties(files)
    landing = os.path.join(ctx.work, "landing")
    sink_log = SinkLog(ctx.tracer)
    with landing_process(landing, spec, seed) as lander:
        with ctx.setup():
            spark = ctx.spark()
            with ctx.warmup():
                # the primer is the cold first micro-batch of every query; it
                # moves the watermark, so each query then runs a no-data
                # batch, which must not overlap the first scheduled files
                write_primer(landing, seed, "events-primer.parquet")
                queries = start_queries(spark, landing, ctx.work, "live", sink_log)

                def settled() -> bool:
                    return all(q.lastProgress is not None and q.lastProgress["batchId"] >= 1
                               and not q.status["isTriggerActive"] for q in queries.values())

                if not stats.wait_until(settled, 120):
                    raise RuntimeError("warm-up micro-batches never committed")
        t0 = time.time() + 0.5
        with ctx.measure(), ctx.tracer.span("workload.stream_live"):
            manifest = run_landing(lander, t0)
    due = {m["name"]: m["due"] for m in manifest}
    cks = {n: os.path.join(ctx.work, f"ck-live-{n}") for n in queries}

    def all_committed() -> bool:
        """Every file's sink call has returned and its batch has reported
        progress (the progress report follows the sink call)."""
        for n, q in queries.items():
            covered = stats.read_source_log(cks[n])
            if stats.freshness_samples(due, covered, sink_log.returned(q.name))[1]:
                return False
            last = q.lastProgress
            if last is None or last["batchId"] < max(covered[f] for f in due):
                return False
        return True

    caught_up = stats.wait_until(all_committed, TAIL_TIMEOUT_S, 0.1)
    sink_log.stopped_at = time.time()
    for q in queries.values():
        q.stop()
    samples: list[tuple[float, float]] = []
    commit_times: list[float] = []
    missing = 0
    for n, q in queries.items():
        s, miss = stats.freshness_samples(due, stats.read_source_log(cks[n]), sink_log.returned(q.name))
        samples += s
        missing += len(miss)
        commit_times.append(max(sink_log.returned(q.name).values()))
    late = max(m["landed"] - m["due"] for m in manifest)
    errors = [q.name + ": " + str(q.exception()) for q in queries.values() if q.exception()]
    errors += [f"{c.query} batch {c.batch_id}: sink call failed" for c in sink_log.failed()]
    if not caught_up:
        errors.append(f"{missing} (file, query) pairs never committed")
    if late > GENERATOR_LATE_LIMIT_S:
        errors.append(f"landing fell {late:.3f} s behind schedule (limit {GENERATOR_LATE_LIMIT_S} s): run invalid")
    progress = _data_progress(queries.values())
    # the primer's rows are not replays; only scheduled files carry them
    errors += progress_checks(progress, props["rows"] - props["distinct_events"])
    errors += check_outputs(landing, {n: os.path.join(ctx.work, f"out-live-{n}") for n in queries})
    rows = sum(m["rows"] for m in manifest)
    committed_rate = rows / (max(commit_times) - t0)
    freshness = [ctx.clock.unstolen(*s) for s in samples]
    # the queries start their next trigger as soon as the last one ends, so
    # input rows per busy second only echo the landing rate; what follows
    # the program's speed is how long a micro-batch takes.  Batch 0 is the
    # primer
    trigger_walls = [(_ts(p["timestamp"]), p["durationMs"]["triggerExecution"] / 1000)
                     for p in progress if p["batchId"] > 0]
    triggers = [ctx.clock.unstolen(start, start + d) for start, d in trigger_walls]
    result = {
        "latency_s": stats.median(freshness),
        "throughput_per_s": 1 / stats.median(triggers),
        "report": {
            "freshness_p50_s": stats.median(freshness),
            "freshness_p95_s": stats.percentile(freshness, 95),
            "freshness_samples": len(freshness),
            "freshness_p50_wall_s": stats.median([end - start for start, end in samples]),
            "trigger_p50_s": stats.median(triggers),
            "trigger_p50_wall_s": stats.median([d for _, d in trigger_walls]),
            "trigger_samples": len(triggers),
            "committed_events_per_s": committed_rate,
            "generator_late_s": late,
            "generator": props | {"content_hash": gen.content_hash(files)},
        },
        "attempted": len(sink_log.calls) + len(QUERIES),
        "errors": errors,
    }
    if ctx.traced:
        result["layers"] = layer_metrics(spark, list(queries.values()), progress, sink_log,
                                         ctx.tracer, ctx.cores, _peak_lag(manifest, cks, sink_log, queries))
    return result


def _peak_lag(manifest: list[dict], cks: dict[str, str], sink_log: SinkLog, queries) -> int:
    """Largest number of landed files not yet committed by some query,
    evaluated at every landing time."""
    peak = 0
    for n, q in queries.items():
        covered = stats.read_source_log(cks[n])
        returned = sink_log.returned(q.name)
        done = sorted(returned[covered[m["name"]]] for m in manifest if covered.get(m["name"]) in returned)
        for i, m in enumerate(manifest):
            landed = i + 1
            committed = sum(1 for t in done if t <= m["landed"])
            peak = max(peak, landed - committed)
    return peak

