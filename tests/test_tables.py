"""The temp-dir policy in ``tables``, Spark-free.

Content-keyed artifacts are built once and published complete
(``tables.materialized``); every other write goes through ``tables`` as
well, so the policy has one owner.
"""

from __future__ import annotations

import os
import pathlib

import pytest

from redis_dataflow_realtime_analytics_spark import tables

PACKAGE = pathlib.Path(tables.__file__).parent


@pytest.fixture
def store(tmp_path, monkeypatch):
    """A private artifact root, scratch root and cache; returns a source
    file to key on."""
    monkeypatch.setattr(tables, "ARTIFACTS", str(tmp_path / "artifacts"))
    monkeypatch.setattr(tables, "SCRATCH", str(tmp_path / "scratch"))
    monkeypatch.setattr(tables, "_ARTIFACTS", {})
    src = tmp_path / "src.parquet"
    src.write_text("v1")
    return src


def _counting_build(calls: list):
    def build(out: str) -> None:
        calls.append(out)
        pathlib.Path(out, "data.txt").write_text(f"build {len(calls)}")

    return build


def test_build_runs_once_per_key(store):
    calls = []
    first = tables.materialized("thing", str(store), (1,), _counting_build(calls))
    again = tables.materialized("thing", str(store), (1,), _counting_build(calls))
    assert first == again and len(calls) == 1
    assert pathlib.Path(first, "data.txt").read_text() == "build 1"
    # a later process (empty in-memory cache) reuses the published dir
    tables._ARTIFACTS.clear()
    assert tables.materialized("thing", str(store), (1,), _counting_build(calls)) == first
    assert len(calls) == 1


def test_src_mtime_and_params_give_new_dirs(store):
    calls = []
    base = tables.materialized("thing", str(store), (1,), _counting_build(calls))
    other_params = tables.materialized("thing", str(store), (2,), _counting_build(calls))
    st = os.stat(store)
    os.utime(store, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    new_version = tables.materialized("thing", str(store), (1,), _counting_build(calls))
    assert len({base, other_params, new_version}) == 3 and len(calls) == 3
    assert pathlib.Path(base, "data.txt").read_text() == "build 1"


def test_failed_build_leaves_nothing_and_the_next_call_rebuilds(store):
    def broken(out: str) -> None:
        pathlib.Path(out, "part-0").write_text("half")
        raise RuntimeError("build died after a partial write")

    with pytest.raises(RuntimeError):
        tables.materialized("thing", str(store), (), broken)
    assert os.listdir(tables.ARTIFACTS) == []
    calls = []
    out = tables.materialized("thing", str(store), (), _counting_build(calls))
    assert len(calls) == 1
    assert sorted(os.listdir(out)) == ["data.txt"]


def test_scratch_is_removed_on_return_and_on_failure(store):
    with tables.scratch() as d:
        pathlib.Path(d, "f").write_text("x")
    with pytest.raises(RuntimeError):
        with tables.scratch() as d:
            pathlib.Path(d, "f").write_text("x")
            raise RuntimeError
    assert os.listdir(tables.SCRATCH) == []


def test_only_tables_picks_temp_dirs():
    """Where files live and when they are removed is decided in
    ``tables.py`` alone: no other package module asks for a temp dir."""
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "tables.py" or path.parent != PACKAGE
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "gettempdir" in line or "mkdtemp" in line
    ]
    assert offenders == []
