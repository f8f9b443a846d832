"""Deterministic event inputs and their truth, plus the live file publisher.

Events follow the repo's ``events`` table schema (``event_id, ts, user_id,
event_type, value, props``) with the reference generator's shape
(loggen/message_generator.py): ``user_id`` drawn Zipf-skewed from a window of
``UID_WINDOW`` ids whose base drifts by half a window every ``DRIFT_S``
seconds of event time, 100 experiments (``props = {"k": <1..100>}``) and four
variants (``event_type``). Everything derives from a numpy ``Generator``
seeded by the caller, so the same seed gives the same bytes.

Run as a script, this module is the live workload's generator process: it
publishes pre-built parquet files into a directory on a fixed schedule, each
written under a hidden temp name and renamed into place, and prints one JSON
line with each file's scheduled and actual publication time.

    python3 perfbench/gen.py publish --dir D --seed S --files N \\
        --events-per-file E --event-s-per-file T --period P

The publisher builds its files, prints ``ready``, then reads the epoch time
of its first publication from stdin.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VARIANTS = ["default", "1", "2", "3"]
N_EXPERIMENTS = 100
PROPS = [f'{{"k": {e}}}' for e in range(1, N_EXPERIMENTS + 1)]
UID_WINDOW = 1000
DRIFT_S = 600
ZIPF_S = 1.1
#: event-time origin of every generated history (2024-01-01T00:00:00Z)
EPOCH_S = 1_704_067_200

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _zipf_cdf(window: int = UID_WINDOW, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, window + 1) ** s
    return np.cumsum(w) / w.sum()


def hot_offsets(seed: int) -> np.ndarray:
    """Popularity rank → offset inside the uid window, fixed per seed so the
    hot users stay hot across files."""
    return np.random.default_rng([seed, 1 << 30]).permutation(UID_WINDOW)


def make_events(
    rng: np.random.Generator, ts_us: np.ndarray, rank_to_offset: np.ndarray, first_id: int = 0
) -> pa.Table:
    """Events at the given (sorted) event times, attributes drawn from rng."""
    n = len(ts_us)
    rank = np.searchsorted(_zipf_cdf(), rng.random(n))
    drift_base = (ts_us // 1_000_000 // DRIFT_S) * (UID_WINDOW // 2)
    user_id = drift_base + rank_to_offset[np.minimum(rank, UID_WINDOW - 1)]
    variant = pa.array(VARIANTS).take(pa.array(rng.integers(0, len(VARIANTS), n)))
    exp = rng.integers(1, N_EXPERIMENTS + 1, n)
    props = pa.array(PROPS).take(pa.array(exp - 1))
    return pa.table(
        [
            pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
            pa.array(user_id.astype(np.int64)),
            variant,
            pa.array(rng.random(n)),
            props,
        ],
        schema=SCHEMA,
    )


def history(
    seed: int,
    n: int,
    span_s: int,
    quiet_minutes: tuple[int, ...] = (),
    start_s: int = EPOCH_S,
) -> pa.Table:
    """n events uniformly over ``span_s`` seconds of event time, sorted.

    ``quiet_minutes`` are minute offsets from the start that receive no
    events (an outage), so the dashboard's zero-fill has gaps to fill."""
    rng = np.random.default_rng(seed)
    ts_us = np.sort(rng.integers(0, span_s * 1_000_000, n))
    if quiet_minutes:
        minute = ts_us // 60_000_000
        ts_us = ts_us[~np.isin(minute, np.array(quiet_minutes))]
    return make_events(rng, start_s * 1_000_000 + ts_us, hot_offsets(seed))


def live_file(seed: int, i: int, n: int, event_s_per_file: float) -> pa.Table:
    """File i of a live stream: n events in its own slice of event time, so
    event time never runs backwards between files."""
    rng = np.random.default_rng([seed, i])
    lo = int(i * event_s_per_file * 1_000_000)
    width = int(event_s_per_file * 1_000_000)
    ts_us = EPOCH_S * 1_000_000 + lo + np.sort(rng.integers(0, width, n))
    return make_events(rng, ts_us, hot_offsets(seed), first_id=i * n)


def parquet_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def publish(path: str, data: bytes) -> float:
    """Write under a hidden temp name, then rename into place: the file
    source skips names starting with ``.``, and the rename is atomic, so a
    partial file is never visible. Returns the publication time."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, path)
    return time.time()


# --- truth ------------------------------------------------------------------
def truth(tables: list[pa.Table], phi: float) -> dict:
    """What the store reads must return for these events."""
    ts = np.concatenate([t["ts"].cast(pa.int64()).to_numpy() for t in tables])
    uid = np.concatenate([t["user_id"].to_numpy() for t in tables])
    var = np.concatenate(
        [t["event_type"].to_numpy(zero_copy_only=False).astype("U7") for t in tables]
    )
    minute = ts // 60_000_000 * 60
    mins, visits = np.unique(minute, return_counts=True)
    mu = np.unique(np.stack([minute, uid]), axis=1)
    m_keys, m_uniques = np.unique(mu[0], return_counts=True)
    per_variant = {v: int(len(np.unique(uid[var == v]))) for v in np.unique(var)}
    users, counts = np.unique(uid, return_counts=True)
    hot = counts >= len(uid) * phi
    return {
        "events": int(len(uid)),
        "visits": dict(zip(mins.tolist(), visits.tolist())),
        "uniques_minute": dict(zip(m_keys.tolist(), m_uniques.tolist())),
        "uniques_variant": per_variant,
        "heavy": dict(zip(users[hot].tolist(), counts[hot].tolist())),
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["publish"])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--first", type=int, default=0)
    ap.add_argument("--events-per-file", type=int, required=True)
    ap.add_argument("--event-s-per-file", type=float, required=True)
    ap.add_argument("--period", type=float, required=True)
    a = ap.parse_args(argv)
    idx = range(a.first, a.first + a.files)
    blobs = [
        parquet_bytes(live_file(a.seed, i, a.events_per_file, a.event_s_per_file))
        for i in idx
    ]
    print("ready", flush=True)
    start_at = float(sys.stdin.readline())
    log = []
    for k, (i, data) in enumerate(zip(idx, blobs)):
        due = start_at + k * a.period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        t = publish(os.path.join(a.dir, f"part-{i:05d}.parquet"), data)
        log.append({"file": f"part-{i:05d}.parquet", "due": due, "published": t})
    print(json.dumps(log))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
