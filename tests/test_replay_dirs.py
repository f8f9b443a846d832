"""Replay-directory builders, Spark-free.

The streaming keys replay fixtures as mtime-ordered multi-file streams,
and their stream/batch oracles re-derive chunk membership from the data,
so a replay directory's exact contents are part of the contract. These
tests pin them with pyarrow alone.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp
from redis_dataflow_realtime_analytics_spark.streaming import state_reader

from .conftest import SF_SMOKE

EVENTS = f"{SF_SMOKE}/events.parquet"
DOCS = f"{SF_SMOKE}/documents.parquet"

#: one builder per replay kind, called with its default shaping params;
#: each returns the directory that holds every file it wrote
_BUILDERS = {
    "heartbeat": lambda: sp._heartbeat_replay_dir(EVENTS),
    "events": lambda: sp._chunked_events_replay_dir(EVENTS),
    "split": lambda: os.path.dirname(sp._split_replay_dir(EVENTS)[0]),
    "late": lambda: sp._late_arrival_replay_dir(EVENTS),
    "docs": lambda: sp._chunked_docs_replay_dir(DOCS),
    "dup": lambda: sp._duplicate_delivery_replay_dir(EVENTS),
    "ordered": lambda: state_reader._ordered_chunked_replay_dir(EVENTS),
}


def _replay_files(root: str) -> list[str]:
    """Every parquet file under ``root``, relative, grouped by directory
    and in modification-time order within one — the order the file
    source replays them in."""
    rel = [
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]
    return sorted(
        rel,
        key=lambda r: (os.path.dirname(r), os.stat(os.path.join(root, r)).st_mtime_ns),
    )


def _file_digest(path: str) -> str:
    t = pq.read_table(path)
    return hashlib.sha256(f"{t.schema}\n{t.to_pylist()!r}".encode()).hexdigest()


#: (file names in replay order, sha256 over every file's schema and rows)
#: at ``SF_SMOKE``, recorded before the builders shared one materializer.
_REPLAY_DIGESTS = {
    "heartbeat": (
        ("chunk_0000.parquet", "chunk_0001.parquet", "chunk_0002.parquet",
         "heartbeat_0.parquet", "heartbeat_1.parquet"),
        "b338bc83effbbaa8218724da169e3438560a0501586db0268d1286edab3d1b44",
    ),
    "events": (
        ("chunk_0000.parquet", "chunk_0001.parquet", "chunk_0002.parquet"),
        "9f274715e053afc1b4830b8d8648cd86da00e2a451b63d46a2bb6d36b2805cce",
    ),
    "split": (
        ("history.parquet", "live/chunk_0000.parquet", "live/chunk_0001.parquet",
         "live/chunk_0002.parquet"),
        "0936ade24a47ae321ad837cfa2ea8abfaa00cb0b70d7251f48d2976357add142",
    ),
    "late": (
        ("chunk_0000.parquet", "chunk_0001.parquet", "chunk_0002.parquet"),
        "68666480374969f6b46997ab772621133c373533d0a5f717febb74c9e08ac56a",
    ),
    "docs": (
        ("chunk_0000.parquet", "chunk_0001.parquet", "chunk_0002.parquet"),
        "2fcc33a2683f36e316239b79aeb59e5ef4b3d44e9693f796b7ba7ea1e17cd2d8",
    ),
    "dup": (
        ("chunk_0000.parquet", "chunk_0001.parquet", "chunk_0002.parquet",
         "redelivered_0001.parquet"),
        "fa6c44b6ecbf4a1ce1dbef6a0add0744006c007f919547e448293e002946c1ea",
    ),
    "ordered": (
        ("chunk_0000.parquet", "chunk_0001.parquet", "chunk_0002.parquet"),
        "9f274715e053afc1b4830b8d8648cd86da00e2a451b63d46a2bb6d36b2805cce",
    ),
}


@pytest.mark.parametrize("kind", sorted(_REPLAY_DIGESTS))
def test_replay_dir_digest(kind):
    root = _BUILDERS[kind]()
    files = _replay_files(root)
    digest = hashlib.sha256(
        "\n".join(f"{f} {_file_digest(os.path.join(root, f))}" for f in files).encode()
    )
    assert (tuple(files), digest.hexdigest()) == _REPLAY_DIGESTS[kind]


#: kind → (builder(src, **params) → the dir holding its chunk files,
#: source fixture, default shaping params)
_SHAPES = {
    "heartbeat": (sp._heartbeat_replay_dir, EVENTS, {"n_chunks": 3}),
    "events": (sp._chunked_events_replay_dir, EVENTS, {"n_chunks": 3}),
    "split": (
        lambda src, **p: sp._split_replay_dir(src, **p)[1],
        EVENTS,
        {"history_fraction": 0.5, "n_live_chunks": 3},
    ),
    "late": (sp._late_arrival_replay_dir, EVENTS, {"n_chunks": 3}),
    "docs": (sp._chunked_docs_replay_dir, DOCS, {"n_chunks": 3}),
    "dup": (sp._duplicate_delivery_replay_dir, EVENTS, {"n_chunks": 3, "dup_chunk": 1}),
    "ordered": (state_reader._ordered_chunked_replay_dir, EVENTS, {"n_chunks": 3}),
}
_CHANGED = {"n_chunks": 5, "n_live_chunks": 5, "history_fraction": 0.25, "dup_chunk": 2}


def _chunks(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if f.startswith("chunk_"))


@pytest.mark.parametrize(
    "kind,param", [(k, p) for k, (_, _, ps) in _SHAPES.items() for p in ps]
)
def test_each_shaping_param_gets_its_own_dir(kind, param):
    """Every constant that shapes a replay is part of its cache key: a
    changed value must never be served the directory built for the old
    one."""
    build, src, params = _SHAPES[kind]
    changed = {**params, param: _CHANGED[param]}
    before, after = build(src, **params), build(src, **changed)
    assert before != after
    for d, p in ((before, params), (after, changed)):
        assert len(_chunks(d)) == p.get("n_chunks", p.get("n_live_chunks"))
    if param == "dup_chunk":
        assert "redelivered_0002.parquet" in os.listdir(after)
    if param == "history_fraction":
        n = pq.read_metadata(EVENTS).num_rows
        history = [os.path.join(os.path.dirname(d), "history.parquet") for d in (before, after)]
        assert [pq.read_metadata(h).num_rows for h in history] == [n // 2, n // 4]


def test_late_replay_key_carries_the_jitter(monkeypatch):
    before = sp._late_arrival_replay_dir(EVENTS)
    monkeypatch.setattr(sp, "LATE_EVERY", sp.LATE_EVERY + 1)
    assert sp._late_arrival_replay_dir(EVENTS) != before


@pytest.mark.parametrize("kind", sorted(_SHAPES))
def test_empty_source_writes_one_schema_carrying_chunk(kind, tmp_path):
    """A zero-row source still replays: every kind writes at least one
    file, each carrying the source schema, so a stream reader can infer
    it and the query runs one empty batch instead of failing."""
    build, fixture, params = _SHAPES[kind]
    src = str(tmp_path / os.path.basename(fixture))
    pq.write_table(pq.read_table(fixture).slice(0, 0), src)
    schema = pq.read_schema(src)
    d = build(src, **params)
    files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    if kind == "split":
        files.append(os.path.join(os.path.dirname(d), "history.parquet"))
    assert _chunks(d) == ["chunk_0000.parquet"]
    assert not [f for f in os.listdir(d) if f.startswith("heartbeat_")]
    for f in files:
        assert pq.read_schema(f).equals(schema), f
        assert pq.read_metadata(f).num_rows == 0
