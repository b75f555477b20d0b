"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The last test runs the benchmark command (a short ``stream_live`` run, about
half a minute with Spark start-up).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402


# -- percentile rule ---------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert stats.supports(200, 95)
    assert not stats.supports(199, 95)
    assert stats.supports(20, 50)
    assert not stats.supports(19, 50)
    assert stats.percentile(list(range(199)), 95) is None
    assert stats.percentile([1.0] * 19, 50) is None


def test_percentile_is_nearest_rank():
    samples = [float(i) for i in range(1, 201)]  # 1..200
    assert stats.percentile(samples, 95) == 190.0
    assert stats.percentile(samples, 50) == 100.0
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


# -- freshness matcher -------------------------------------------------------


def test_freshness_uses_the_sink_return_of_the_covering_batch():
    due = {"f0": 10.0, "f1": 10.5, "f2": 11.0, "f3": 11.5}
    covered = {"f0": 1, "f1": 1, "f2": 2, "f3": 3}
    returned = {1: 12.0, 2: 12.25}  # batch 3 has not returned yet
    samples, missing = stats.freshness_samples(due, covered, returned)
    assert samples == [(10.0, 12.0), (10.5, 12.0), (11.0, 12.25)]
    assert missing == ["f3"]


def test_no_data_batches_shift_batch_ids_off_log_offsets():
    # batch 1 was a no-data batch (end offset unchanged), so log offset 1 is
    # read by batch 2 and log offset 2 by batch 3
    logged = {"primer": 0, "f0": 1, "f1": 1, "f2": 2}
    ends = [(0, 0), (1, 0), (2, 1), (3, 2)]
    assert stats.batches_of(logged, ends) == {"primer": 0, "f0": 2, "f1": 2, "f2": 3}
    # a file logged beyond the last planned batch is not covered yet
    assert "f2" not in stats.batches_of(logged, ends[:3])


def test_read_source_log_parses_checkpoint_files(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    (src / "0").write_text('v1\n{"path":"file:///x/a.parquet","timestamp":1,"batchId":0}\n')
    (src / "1").write_text('v1\n{"path":"file:///x/b.parquet","timestamp":2,"batchId":1}\n'
                           '{"path":"file:///x/c.parquet","timestamp":3,"batchId":1}\n')
    off = tmp_path / "offsets"
    off.mkdir()
    for batch, end in ((0, 0), (1, 0), (2, 1)):
        (off / str(batch)).write_text(f'v1\n{{"batchWatermarkMs":0}}\n{{"logOffset":{end}}}\n')
    assert stats.read_source_log(str(tmp_path)) == {"a.parquet": 0, "b.parquet": 2, "c.parquet": 2}


# -- steal clock -------------------------------------------------------------


def test_steal_clock_takes_the_stolen_share_out_of_an_interval():
    clock = stats.StealClock()
    # (time, busy ticks, stolen ticks), all CPUs together
    clock.samples = [(0.0, 0, 0), (1.0, 300, 0), (2.0, 600, 100), (3.0, 900, 100)]
    assert clock.share(1.0, 2.0) == 0.25
    assert clock.unstolen(1.0, 2.0) == 0.75
    # an interval between samples is widened to the samples around it
    assert clock.share(1.2, 1.8) == 0.25
    assert clock.share(0.0, 3.0) == 0.1
    assert clock.unstolen(2.0, 3.0) == 1.0


# -- generator ---------------------------------------------------------------


def test_stream_generator_is_seeded():
    def make(seed):
        return gen.stream_files(gen.StreamSpec(20, 400, 0.2), seed)

    a = gen.content_hash(make(3))
    assert a == gen.content_hash(make(3))
    assert a != gen.content_hash(make(4))


def test_stream_properties_hold():
    spec = gen.StreamSpec(40, 400, 0.2)
    props = gen.stream_properties(gen.stream_files(spec, 5))
    # replays are exact copies, so they are the only repeated event ids
    assert props["rows"] - props["distinct_events"] > 0
    assert abs(props["replay_share"] - spec.replay_share) < 0.01
    # every replay and every jittered event stays well inside the watermark
    assert 0 < props["out_of_order_span_s"] < 5 * 60
    # Zipf users: the busiest 1% of users carry far more than 1% of events
    assert props["top1pct_user_share"] > 0.1


def test_batch_generator_is_seeded():
    small = dict(n_events=2_000, n_docs=300, n_vecs=100, n_orders=200)
    tables_a, props_a = gen.batch_tables(7, **small)
    tables_b, props_b = gen.batch_tables(7, **small)
    assert props_a == props_b
    assert props_a["content_hash"] != gen.batch_tables(8, **small)[1]["content_hash"]
    assert props_a["near_dup_share"] > 0
    assert set(tables_a) == {"events", "documents", "embeddings", "region", "nation",
                             "customer", "supplier", "part", "orders", "lineitem"}


# -- spans -------------------------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    t = Tracer("r", enabled=True)
    root = t.add("microbatch.trigger", 0.0, 10.0)
    t.add("sinks.call", 2.0, 6.0, root)
    t.add("sources.latestOffset", 5.0, 7.0, root)  # overlaps the sink call
    assert t.self_times() == {"microbatch.trigger": 5.0, "sinks.call": 4.0,
                              "sources.latestOffset": 2.0}


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("x"):
        pass
    assert t.add("y", 0.0, 1.0) == -1
    assert t.spans == []


# -- the command -------------------------------------------------------------


def test_command_prints_every_end_to_end_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    proc = subprocess.run(
        spec["command"] + ["--workload", "stream_live", "--seed", "1", "--seconds", "3", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(v["value"] > 0 for v in result["metrics"].values())
