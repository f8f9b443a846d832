"""``scripts/bench_check.py`` exit codes over a synthetic bench history
(no Spark): regression → 1, clean → 0, nothing comparable → 2."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "bench_check", Path(__file__).resolve().parents[1] / "scripts" / "bench_check.py"
)
bench_check = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bench_check)


def _history(tmp_path, *records):
    path = tmp_path / "bench_history.jsonl"
    path.write_text("".join(json.dumps(r) + "\n" for r in records))
    return ["--history", str(path)]


def _rec(q1, cpus=8, sf=0.1):
    return {"queries": {"q1": q1, "q2": 1.0}, "sf": sf, "cpus": cpus, "ts": 0.0}


def test_regression_exits_1(tmp_path):
    assert bench_check.main(_history(tmp_path, _rec(1.0), _rec(2.0))) == 1


def test_clean_run_exits_0(tmp_path):
    assert bench_check.main(_history(tmp_path, _rec(1.0), _rec(1.1))) == 0


def test_compares_only_equal_sf_and_cpus(tmp_path):
    # the 32-core and sf1 records in between are not comparable to the
    # newest 8-core sf0.1 run; its baseline is the first record
    args = _history(tmp_path, _rec(1.0), _rec(9.0, cpus=32), _rec(9.0, sf=1.0), _rec(1.1))
    assert bench_check.main(args) == 0


def test_fewer_than_two_comparable_records_exits_2(tmp_path):
    assert bench_check.main(_history(tmp_path, _rec(1.0))) == 2
    assert bench_check.main(_history(tmp_path, _rec(1.0, cpus=32), _rec(1.0))) == 2
