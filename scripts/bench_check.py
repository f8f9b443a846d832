#!/usr/bin/env python3
"""Per-query bench regression gate over ``bench_history.jsonl``.

Every ``bench.py`` run appends one record (per-query seconds, ``sf``,
``cpus``) to ``bench_history.jsonl``. A plan regression (an AQE flip, a
lost broadcast, a new shuffle) shows up as one query's time jumping
while the rest hold. This script compares the newest record against the
newest EARLIER record with the same ``sf`` and ``cpus`` (times from
other scales or core counts are not comparable) and alarms on any query
slower than ``THRESHOLD``x its old time (default 1.3, above the n=3
harness's noise band — observed run-over-run noise is ~±10%).

Usage:
    python scripts/bench_check.py                     # after python bench.py
    python scripts/bench_check.py --threshold 1.5
    python scripts/bench_check.py --history path/to/bench_history.jsonl

Exit code 1 if any shared query regressed past the threshold (CI-style),
2 if the history holds no earlier record comparable to the newest one.
New queries (no old number) and removed queries are reported, never fatal.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

THRESHOLD = 1.3
HISTORY = Path(__file__).resolve().parent.parent / "bench_history.jsonl"


def _pair(history: Path) -> tuple[dict, dict] | None:
    """(old, new): the newest record and the newest earlier one with the
    same sf and cpus, or None if there is no such earlier record."""
    recs = [json.loads(line) for line in history.read_text().splitlines() if line.strip()]
    if not recs:
        return None
    new = recs[-1]
    same = [r for r in recs[:-1] if (r["sf"], r["cpus"]) == (new["sf"], new["cpus"])]
    return (same[-1], new) if same else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--history", type=Path, default=HISTORY)
    ap.add_argument("--threshold", type=float, default=THRESHOLD)
    args = ap.parse_args(argv)

    pair = _pair(args.history)
    if pair is None:
        print(
            f"{args.history}: no earlier record with the newest record's sf and cpus",
            file=sys.stderr,
        )
        return 2
    old_rec, new_rec = pair
    old, new = old_rec["queries"], new_rec["queries"]
    shared = sorted(set(old) & set(new))
    regressed = []
    print(
        f"sf{new_rec['sf']} cpus={new_rec['cpus']}: "
        f"ts {old_rec['ts']} -> {new_rec['ts']}  (threshold {args.threshold}x)"
    )
    for k in shared:
        ratio = new[k] / old[k] if old[k] else float("inf")
        flag = " <-- REGRESSED" if ratio > args.threshold else ""
        if flag:
            regressed.append(k)
        print(f"  {k:45s} {old[k]:7.3f}s -> {new[k]:7.3f}s  {ratio:5.2f}x{flag}")
    for k in sorted(set(new) - set(old)):
        print(f"  {k:45s}    (new) -> {new[k]:7.3f}s")
    for k in sorted(set(old) - set(new)):
        print(f"  {k:45s} {old[k]:7.3f}s -> (removed)")

    tot_old = sum(old[k] for k in shared)
    tot_new = sum(new[k] for k in shared)
    print(f"  shared total: {tot_old:.2f}s -> {tot_new:.2f}s ({tot_new / tot_old:.2f}x)")
    if regressed:
        print(f"REGRESSIONS ({len(regressed)}): {regressed}", file=sys.stderr)
        return 1
    print("OK: no query regressed past threshold")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
