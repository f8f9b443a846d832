"""r9 hardening of the stateful surface.

Two families:

* **Out-of-order delivery** — both sessionizer twins merge a
  watermark-admitted LATE event (delivered in a later micro-batch,
  event-time inside the open session) order-insensitively: ``last``
  never moves backwards, so the eviction timer and the emitted
  ``session_end`` equal the true session end. The default replay
  harness delivers files in ts order and can never exercise this, so
  these tests build their own replay directory (``prebuilt_replay``).

* **Protobuf shim failure modes** — the shim path
  (``stateful._protobuf_shim_path``) is load-bearing for the two TWS
  registry keys but, until r9, had zero direct tests: the container
  always has the vendored runtime, so a silently-broken shim would
  only surface as the TWS keys flipping from green to erroring. These
  pin the builder (atomic writes, marker discipline), the validator's
  truth table (major-6 accepted, major-5 VersionError), the
  probe-import's verdict + hermeticity, and the clear RuntimeError
  ``_tws_session`` raises when nothing is shimmable.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp
from redis_dataflow_realtime_analytics_spark.streaming import stateful

T0 = datetime(2024, 1, 6, 12, 0, 0)
MIN = timedelta(minutes=1)

_EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _row(eid: int, ts: datetime, uid: int) -> dict:
    return {
        "event_id": eid,
        "ts": ts,
        "user_id": uid,
        "event_type": "click",
        "value": 0.0,
        "props": "{}",
    }


def _late_replay_dir(tmp_path) -> str:
    """file1: user 7 at T0 and T0+5min. file2: user 7 at T0+2min — LATE
    (event-time between file1's events) but inside the 10-min watermark.
    Then the two heartbeat files that advance the watermark and trigger
    the eviction batch: the 3 rows written as 2 chunks plus a 2-file
    tail, in strictly increasing mtime order, so the file source
    replays them in exactly this order."""

    def table(*rows):
        return pa.Table.from_pylist(list(rows), schema=_EVENT_SCHEMA)

    out = str(tmp_path / "late_replay")
    rows = table(_row(1, T0, 7), _row(2, T0 + 5 * MIN, 7), _row(3, T0 + 2 * MIN, 7))
    heartbeats = [
        (
            "heartbeat_0.parquet",
            table(_row(-1, T0 + timedelta(days=1), -1), _row(-2, T0 + timedelta(days=1), -1)),
        ),
        ("heartbeat_1.parquet", table(_row(-3, T0 + timedelta(days=1, minutes=1), -1))),
    ]
    sp._write_chunks(out, rows, 2, heartbeats)
    return out


def _assert_single_merged_session(df) -> None:
    rows = df.where(F.col("user_id") == 7).collect()
    assert len(rows) == 1, f"expected one merged session, got {rows}"
    (r,) = rows
    # last must NOT have moved backwards to the late event (T0+2min):
    # end = max(ts) + gap, start = min(ts), all three events counted
    assert r.session_start == T0
    assert r.session_end == T0 + 5 * MIN + 30 * MIN
    assert r.n_events == 3


def test_legacy_sessions_merge_late_event_order_insensitively(spark, tmp_path):
    got = stateful.stream_sessions_ttl(
        spark, _late_replay_dir(tmp_path), prebuilt_replay=True
    )
    _assert_single_merged_session(got)


@pytest.mark.skipif(
    not stateful.tws_available(), reason="TWS unavailable: no protobuf runtime"
)
def test_tws_sessions_merge_late_event_order_insensitively(spark, tmp_path):
    got = stateful.stream_sessions_ttl_tws(
        spark, _late_replay_dir(tmp_path), prebuilt_replay=True
    )
    _assert_single_merged_session(got)


# ---------------------------------------------------------------------------
# protobuf shim failure modes
# ---------------------------------------------------------------------------

_HAVE_VENDOR = any(
    os.path.isdir(p) for p in stateful._PROTOBUF_VENDOR_CANDIDATES
)


@pytest.mark.skipif(not _HAVE_VENDOR, reason="no vendored protobuf to shim")
def test_shim_builds_atomically_into_fresh_dir(tmp_path):
    shim = stateful._protobuf_shim_path(base_dir=str(tmp_path))
    assert shim is not None
    pkg = os.path.join(shim, "google", "protobuf")
    assert os.path.isfile(os.path.join(shim, "_COMPLETE"))
    assert os.path.isfile(os.path.join(pkg, "runtime_version.py"))
    # the validator is the generated stub, not a symlink to the vendor's
    assert not os.path.islink(os.path.join(pkg, "runtime_version.py"))
    # atomic writes leave no temp debris behind
    assert not [f for f in os.listdir(pkg) if ".tmp." in f]
    assert not [f for f in os.listdir(shim) if ".tmp." in f]
    # idempotent: a second call reuses the completed build
    assert stateful._protobuf_shim_path(base_dir=str(tmp_path)) == shim


@pytest.mark.skipif(not _HAVE_VENDOR, reason="no vendored protobuf to shim")
def test_shim_validator_truth_table(tmp_path):
    shim = stateful._protobuf_shim_path(base_dir=str(tmp_path))
    src = open(os.path.join(shim, "google", "protobuf", "runtime_version.py")).read()
    ns: dict = {}
    exec(src, ns)
    validate = ns["ValidateProtobufRuntimeVersion"]
    # same major as the shim: accepted at any minor/patch (wire compat)
    validate(ns["Domain"].PUBLIC, 6, 0, 0, "", "here")
    validate(ns["Domain"].PUBLIC, 6, 33, 1, "", "here")
    # a different gencode major is the one case wire compat can't cover
    with pytest.raises(ns["VersionError"]):
        validate(ns["Domain"].PUBLIC, 5, 29, 0, "", "here")
    with pytest.raises(ns["VersionError"]):
        validate(ns["Domain"].PUBLIC, 7, 0, 0, "", "here")


@pytest.mark.skipif(not _HAVE_VENDOR, reason="no vendored protobuf to shim")
def test_probe_gencode_accepts_working_shim_and_stays_hermetic(tmp_path):
    import sys

    shim = stateful._protobuf_shim_path(base_dir=str(tmp_path))
    had_google = "google" in sys.modules
    assert stateful._probe_gencode(shim) is True
    # hermetic: the probe must not leave shim-resolved modules cached —
    # a cached google.protobuf makes _protobuf_shim_path() think a REAL
    # runtime exists and skip the workers' PYTHONPATH (the exact failure
    # mode that crashed the TWS driver worker when first built in r9)
    assert ("google" in sys.modules) == had_google
    assert shim not in sys.path


@pytest.mark.skipif(not _HAVE_VENDOR, reason="no vendored protobuf to shim")
def test_probe_gencode_rejects_major_bumped_runtime(tmp_path, monkeypatch):
    """A shim whose validator claims major 5 must fail the probe (the
    pyspark gencode validates against protobuf major 6) — and fail it on
    the DRIVER, leaving no import debris, instead of surfacing as a
    VersionError inside the TWS driver worker."""
    import sys

    monkeypatch.setattr(
        stateful,
        "_NOOP_RUNTIME_VERSION",
        stateful._NOOP_RUNTIME_VERSION.replace(
            "MAJOR, MINOR, PATCH, SUFFIX = 6, 99, 0, \"\"",
            "MAJOR, MINOR, PATCH, SUFFIX = 5, 99, 0, \"\"",
        ),
    )
    assert "6, 99" not in stateful._NOOP_RUNTIME_VERSION
    shim = stateful._protobuf_shim_path(base_dir=str(tmp_path))
    had_google = "google" in sys.modules
    assert stateful._probe_gencode(shim) is False
    assert ("google" in sys.modules) == had_google
    assert shim not in sys.path


def test_tws_session_raises_clear_error_when_unshimmable(spark, monkeypatch):
    monkeypatch.setattr(stateful, "_PROTOBUF_VENDOR_CANDIDATES", ())
    monkeypatch.setattr(stateful, "_TWS_PROBE", None)
    monkeypatch.setattr(
        stateful, "_probe_gencode", lambda shim: False
    )  # treat any reachable runtime as non-working
    assert stateful.tws_available() is False
    with pytest.raises(RuntimeError, match="protobuf"):
        with stateful._tws_session(spark):
            pass  # pragma: no cover — must not be reached


def test_tws_available_memoizes_probe(monkeypatch):
    calls = []

    def fake_probe(shim):
        calls.append(shim)
        return True

    monkeypatch.setattr(stateful, "_TWS_PROBE", None)
    monkeypatch.setattr(stateful, "_probe_gencode", fake_probe)
    assert stateful.tws_available() is True
    assert stateful.tws_available() is True
    assert len(calls) == 1
