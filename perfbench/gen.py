"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from ``--seed``:

* stream files in the fixture ``events`` schema, with seeded out-of-order
  jitter, Zipf-distributed ``user_id`` and a seeded share of events replayed
  verbatim in a later file (always inside the 10-minute watermark);
* a batch data directory (``events``, ``documents`` with exact and
  near-duplicate clusters, ``embeddings`` and small TPC-H-shaped tables).

Event times inside a stream are kept relative to the stream start, so the
same seed gives byte-identical content whatever the wall clock says; the
landing process adds the start time when it writes a file.

Run as a script this module is the open-loop landing process: it writes the
stream files of one workload into a directory on a fixed schedule that never
waits for the system under test (see ``land_main``).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
EVENT_TYPE_P = (0.45, 0.25, 0.05, 0.15, 0.10)
US = 1_000_000
# fixed event-time origin of the batch directory
BATCH_EPOCH_US = 1_704_067_200 * US  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class StreamSpec:
    """Shape of one generated stream.  ``period_s`` is the spacing of file
    creation times in wall seconds.  The shape is the same for every seed:
    seeds are replicates of one workload, so that the spread between runs
    at different seeds measures the program, not different workloads."""

    n_files: int
    events_per_file: int
    period_s: float
    replay_share: float = 0.05
    max_jitter_s: float = 60.0
    zipf_a: float = 1.3
    n_users: int = 20_000


def _zipf_users(rng: np.random.Generator, a: float, n_users: int, n: int) -> np.ndarray:
    # rank r (1-based) -> user id: a seeded permutation, so the hottest
    # users are not simply the smallest ids
    ranks = np.minimum(rng.zipf(a, n), n_users) - 1
    perm = rng.permutation(n_users)
    return perm[ranks].astype(np.int64)


def stream_files(spec: StreamSpec, seed: int) -> list[dict[str, np.ndarray]]:
    """Column arrays of every file, in landing order.  ``ts`` is in
    microseconds relative to the stream start (file ``i`` is created at
    ``i * period_s``).  A replayed row is an exact copy of an earlier row,
    placed in one of the next three files, at most 4 minutes of event time
    behind the newest event of the files before it."""
    rng = np.random.default_rng([seed, 3])
    n, per = spec.n_files, spec.events_per_file
    period_us = int(spec.period_s * US)
    jitter_us = int(spec.max_jitter_s * US)
    files: list[dict[str, np.ndarray]] = []
    for i in range(n):
        created = (i + 1) * period_us
        ts = created - rng.integers(0, jitter_us + 1, per)
        files.append({
            "event_id": np.arange(i * per, (i + 1) * per, dtype=np.int64),
            "ts": ts.astype(np.int64),
            "user_id": _zipf_users(rng, spec.zipf_a, spec.n_users, per),
            "event_type": rng.choice(len(EVENT_TYPES), per, p=EVENT_TYPE_P).astype(np.int8),
            "value": np.round(rng.lognormal(3.5, 1.0, per), 2),
            "k": rng.integers(0, 100, per).astype(np.int64),
        })
    # replays: copy rows of file i into file i+d (d in 1..3).  Only rows whose
    # event time is within 4 minutes of the creation of the file before the
    # receiver (the newest event time any earlier micro-batch can have seen)
    # are eligible, so a replay is never behind the watermark (10 minutes)
    # and the dedup state still holds the original when it arrives
    n_replay = int(round(spec.replay_share * per))
    horizon_us = 4 * 60 * US
    extra: list[list[dict[str, np.ndarray]]] = [[] for _ in range(n)]
    for i in range(n - 1):
        j = min(i + int(rng.integers(1, 4)), n - 1)
        src = files[i]
        eligible = np.flatnonzero(src["ts"] >= j * period_us - horizon_us)
        if eligible.size == 0:
            continue
        pick = rng.choice(eligible, min(n_replay, eligible.size), replace=False)
        extra[j].append({c: v[np.sort(pick)] for c, v in src.items()})
    for j in range(n):
        if extra[j]:
            files[j] = {
                c: np.concatenate([files[j][c]] + [e[c] for e in extra[j]])
                for c in files[j]
            }
    return files


def events_table(cols: dict[str, np.ndarray], epoch_us: int) -> pa.Table:
    """Arrow table in the fixture ``events`` schema."""
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"] + epoch_us, pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[cols["event_type"]], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in cols["k"].tolist()], pa.string()),
    })


def content_hash(files: list[dict[str, np.ndarray]]) -> str:
    h = hashlib.sha256()
    for f in files:
        for c in sorted(f):
            h.update(c.encode())
            h.update(np.ascontiguousarray(f[c]).tobytes())
    return h.hexdigest()[:16]


def top_user_share(user_ids: np.ndarray) -> float:
    """Share of events from the busiest 1% of distinct users."""
    counts = np.sort(np.bincount(user_ids))[::-1]
    counts = counts[counts > 0]
    top = max(1, math.ceil(0.01 * counts.size))
    return float(counts[:top].sum() / counts.sum())


def stream_properties(files: list[dict[str, np.ndarray]]) -> dict[str, float]:
    """Measured (not configured) properties of a generated stream."""
    ids = np.concatenate([f["event_id"] for f in files])
    users = np.concatenate([f["user_id"] for f in files])
    # how far the oldest event of a file is behind the newest event of all
    # files before it: the lateness the watermark sees when each file is a
    # micro-batch of its own
    newest_before = np.maximum.accumulate([f["ts"].max() for f in files])[:-1]
    oldest = np.array([f["ts"].min() for f in files[1:]])
    return {
        "rows": int(ids.size),
        "distinct_events": int(np.unique(ids).size),
        "replay_share": float(1 - np.unique(ids).size / ids.size),
        "out_of_order_span_s": float(max(0, (newest_before - oldest).max()) / US),
        "top1pct_user_share": top_user_share(users),
    }


# -- batch data directory ----------------------------------------------------

_WORDS = (
    "the a fast slow key order sort table scan merge part window small large "
    "hash join filter group row data stream customer line batch value query "
    "index shard vector token price spark event time state sink source plan"
).split()
_LANGS = ("en", "es", "de", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _documents(rng: np.random.Generator, n: int) -> tuple[pa.Table, float]:
    """Documents with seeded exact-duplicate and near-duplicate clusters.
    Returns the table and the measured near-duplicate share: the fraction
    of documents whose token-set Jaccard with their cluster root is at least
    0.7 and below 1."""
    texts: list[str] = []
    roots: list[int] = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.05:  # exact duplicate of an earlier doc
            r = int(rng.integers(0, i))
            texts.append(texts[r])
            roots.append(r)
            continue
        if i > 10 and kind < 0.13:  # near duplicate: swap one or two words
            r = int(rng.integers(0, i))
            words = texts[r].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
            roots.append(r)
            continue
        words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(12, 60)))]
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, len(words))), f"user{int(rng.integers(0, 999))}@mail.example.com")
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, len(words))), f"+1 555 {int(rng.integers(100, 999))} {int(rng.integers(1000, 9999))}")
        texts.append(" ".join(words))
        roots.append(-1)
    near = 0
    for t, r in zip(texts, roots):
        if r >= 0:
            a, b = set(t.split(" ")), set(texts[r].split(" "))
            jac = len(a & b) / len(a | b)
            near += 0.7 <= jac < 1.0
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(rng.integers(50, 1000, n), pa.int64()),
    })
    return table, near / n


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(labels, pa.int32()),
    })


def _tpch(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = n_orders // 10, 20, 400
    day_us = 86_400 * US
    d0 = 694_224_000 * US  # 1992-01-01
    order_dates = d0 + rng.integers(0, 2400, n_orders) * day_us
    lines_per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per)
    n_lines = l_order.size
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n_lines), 2)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(["cold", "small", "large", "red"], n_part), rng.choice(["widget", "bolt", "gear"], n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
            "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n_lines) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lines) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": pa.array(order_dates[l_order] + rng.integers(1, 120, n_lines) * day_us, pa.timestamp("us")),
        }),
    }


def batch_tables(seed: int, n_events: int = 20_000, n_docs: int = 2_000,
                 n_vecs: int = 2_000, n_orders: int = 3_000) -> tuple[dict[str, pa.Table], dict[str, float]]:
    """Every table of the batch data directory plus its measured properties.
    Events span 3 days with 1% duplicated ``event_id`` s (distinct event
    times, so the dedup winner is unambiguous)."""
    rng = np.random.default_rng([seed, 4])
    day_us = 86_400 * US
    ts = BATCH_EPOCH_US + rng.integers(0, 3 * day_us, n_events)
    ids = np.arange(n_events, dtype=np.int64)
    dup = rng.choice(n_events, n_events // 100, replace=False)
    ids[dup] = rng.integers(0, n_events, dup.size)
    users = _zipf_users(rng, 1.3, 5_000, n_events)
    cols = {
        "event_id": ids,
        "ts": ts - BATCH_EPOCH_US,
        "user_id": users,
        "event_type": rng.choice(len(EVENT_TYPES), n_events, p=EVENT_TYPE_P).astype(np.int8),
        "value": np.round(rng.lognormal(3.5, 1.0, n_events), 2),
        "k": rng.integers(0, 100, n_events).astype(np.int64),
    }
    docs, near_share = _documents(rng, n_docs)
    tables = {"events": events_table(cols, BATCH_EPOCH_US), "documents": docs,
              "embeddings": _embeddings(rng, n_vecs), **_tpch(rng, n_orders)}
    h = hashlib.sha256()
    for name in sorted(tables):
        for col in tables[name].column_names:
            h.update(f"{name}.{col}".encode())
            h.update(repr(tables[name][col].to_pylist()).encode())
    props = {
        "content_hash": h.hexdigest()[:16],
        "replay_share": float(1 - np.unique(ids).size / ids.size),
        "top1pct_user_share": top_user_share(users),
        "near_dup_share": near_share,
    }
    return tables, props


def write_batch_dir(path: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(path, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))


# -- the landing process -----------------------------------------------------


def file_name(i: int) -> str:
    return f"events-{i:06d}.parquet"


def land_main(argv: list[str]) -> None:
    """Open-loop landing process.

    ``gen.py <dir> <json spec> <seed>``.  Generates every file, prints
    ``ready``, then reads one line from stdin: the wall-clock start time
    ``t0`` (epoch seconds).  File ``i`` is due at ``t0 + (i + 1) * period_s``
    and lands as an atomic rename of a hidden temporary file, which the file
    source ignores.
    On exit it prints a JSON manifest: per file its name, due time, landed
    time and row count.
    """
    out_dir, spec = argv[0], StreamSpec(**json.loads(argv[1]))
    files = stream_files(spec, int(argv[2]))
    print("ready", flush=True)
    t0 = float(sys.stdin.readline())
    blobs = []
    for cols in files:
        sink = pa.BufferOutputStream()
        pq.write_table(events_table(cols, int(t0 * US)), sink)
        blobs.append(sink.getvalue().to_pybytes())
    manifest = []
    for i, blob in enumerate(blobs):
        due = t0 + (i + 1) * spec.period_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(out_dir, "." + file_name(i) + ".tmp")
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.rename(tmp, os.path.join(out_dir, file_name(i)))
        manifest.append({"name": file_name(i), "due": due, "landed": time.time(),
                         "rows": int(files[i]["event_id"].size)})
    print(json.dumps(manifest), flush=True)


def spec_json(spec: StreamSpec) -> str:
    return json.dumps(asdict(spec))


if __name__ == "__main__":
    land_main(sys.argv[1:])
