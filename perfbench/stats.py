"""Measurement helpers: the percentile rule, the freshness matcher, the
peak-memory sampler and the steal clock.  Pure functions except
``RssSampler`` and ``StealClock``, which read ``/proc``."""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def supports(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` of them beyond
    the ``q``-th percentile."""
    return n * (1 - q / 100) >= MIN_BEYOND


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or None when too few samples lie
    beyond it for the figure to mean anything."""
    if not supports(len(samples), q):
        return None
    ordered = sorted(samples)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]


def median(samples: list[float]) -> float:
    ordered = sorted(samples)
    mid = len(ordered) // 2
    return ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2


def geomean(samples: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in samples) / len(samples))


def read_source_log(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from a query
    checkpoint.  The file source logs each file under its own log offset
    (``sources/0/<offset>`` and ``<offset>.compact``: a version line, then
    one JSON entry per file); ``offsets/<batch>`` records the log offset a
    batch read up to.  Batch ids and log offsets differ once the query has
    run a no-data batch, so a file belongs to the first batch whose end
    offset reaches the file's offset."""
    logged: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                logged[os.path.basename(entry["path"])] = int(entry["batchId"])
    ends = []
    for path in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as fh:
                lines = fh.read().splitlines()
            if len(lines) >= 3:
                ends.append((int(name), int(json.loads(lines[2])["logOffset"])))
    return batches_of(logged, ends)


def batches_of(logged: dict[str, int], ends: list[tuple[int, int]]) -> dict[str, int]:
    """Map each file's log offset to the first batch whose end offset
    (``ends``: (batch id, end log offset) pairs) reaches it."""
    ends = sorted(ends)
    covered = {}
    for name, offset in logged.items():
        batch = next((b for b, end in ends if end >= offset), None)
        if batch is not None:
            covered[name] = batch
    return covered


def freshness_samples(
    due: dict[str, float],
    covered: dict[str, int],
    sink_returned: dict[int, float],
) -> tuple[list[tuple[float, float]], list[str]]:
    """One sample per file of ``due``: the interval from the time the file
    was due to the wall time at which the sink call of the micro-batch
    covering the file returned.  Returns the samples and the files with no
    committed sink call."""
    samples, missing = [], []
    for name, t_due in due.items():
        batch = covered.get(name)
        if batch is None or batch not in sink_returned:
            missing.append(name)
        else:
            samples.append((t_due, sink_returned[batch]))
    return samples, missing


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(roots: list[int]) -> float:
    """Resident memory of ``roots`` and all their descendants, in MB."""
    total, stack, seen = 0, list(roots), set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_kb(pid)
        stack.extend(_children(pid))
    return total / 1024


class RssSampler:
    """Samples the resident memory of a process tree on a background thread
    and keeps the peak.  Used for the driver JVM, whose descendants are the
    Python workers."""

    def __init__(self, roots: list[int], interval_s: float = 0.2):
        self._roots, self._interval = roots, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self._roots))
            self._stop.wait(self._interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Take a last sample and end the thread; later calls do nothing."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self._roots))


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU time of the machine so far, in clock ticks, from
    ``/proc/stat``.  Stolen is time a CPU had work but the hypervisor ran
    something else on it; idle and I/O wait count as neither."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def stolen_share(busy: int, stolen: int) -> float:
    """Share of the CPU time work wanted that the hypervisor took."""
    return stolen / (busy + stolen) if busy + stolen else 0.0


class StealClock:
    """Samples the machine's busy and stolen CPU ticks on a background
    thread, so that a timed interval can be corrected for the time the
    hypervisor took from it.

    The machine's CPUs are shared with other machines; while the
    hypervisor runs those, this machine's work waits and every wall-clock
    time stretches by 1 / (1 - share stolen).  ``unstolen(start, end)``
    undoes that stretch for the interval (epoch seconds), using the samples
    that bracket it."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self.samples: list[tuple[float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.samples.append((time.time(), *cpu_ticks()))

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def start(self) -> "StealClock":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()

    def share(self, start: float, end: float) -> float:
        """Stolen share over the samples that bracket [start, end]."""
        samples = list(self.samples)
        before = max((x for x in samples if x[0] <= start), default=samples[0])
        after = min((x for x in samples if x[0] >= end), default=samples[-1])
        return stolen_share(after[1] - before[1], after[2] - before[2])

    def unstolen(self, start: float, end: float) -> float:
        return (end - start) * (1 - self.share(start, end))


def jvm_pid(spark) -> int:
    """Process id of the driver JVM behind a SparkSession."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def wait_until(predicate, timeout_s: float, interval_s: float = 0.05) -> bool:
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        if predicate():
            return True
        time.sleep(interval_s)
    return predicate()
