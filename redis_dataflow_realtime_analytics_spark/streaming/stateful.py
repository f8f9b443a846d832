"""Custom stateful streaming operator: exact all-time distinct users per
variant via ``applyInPandasWithState``.

This is the exact twin of the reference's unbounded ``set_var_{variant}``
Redis sets (W4, MetricsCalculationPipeline.java:105-107): state grows with
uid cardinality, exactly like the reference's Redis memory (SURVEY §1.3
"unbounded all-time state"). The bounded-state alternative is the
mergeable-HLL store in ``streaming.pipeline`` (SURVEY §4 delta 2); keep
this operator for dimensions whose uid cardinality is genuinely bounded.

Scale notes: state is keyed by variant and hash-partitioned; each group's
uid set lives in the state store (RocksDB-backed on a real cluster).
Counts emitted per micro-batch are monotone non-decreasing, so the final
value per key is the max — which lets the availableNow replay read its
answer from an update-mode memory sink.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.sessions import SESSION_GAP_MINUTES
from ..sources.events import FILES_PER_TRIGGER, normalize_events, read_events_stream
from .pipeline import HISTORY_FRACTION, WATERMARK

# The stateful processors are nested classes (pickled by value), but
# cloudpickle serializes their references to module-LEVEL helpers
# (``_fresh_uids``) by module+qualname — an unpicklable reference on a
# Python worker whose cwd/path can't import this repo. Register the
# module for by-value pickling so worker-side closures are self-contained
# (the operators/multimodal.py convention).
try:  # pragma: no cover - trivially present on pyspark>=3.3
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001 - best-effort; --py-files covers the rest
    pass

OUTPUT_SCHEMA = "variant string, unique_users bigint"
STATE_SCHEMA = "uids array<string>"


def _fresh_uids(batch: set, count: int, seen) -> list:
    """The membership step of the TWS uniques processor: the
    sorted uids of ``batch`` NOT already in the ``seen`` MapState, which
    holds ``count`` uids.

    Every ``containsKey`` is one proto round trip to the state server, so
    the probe strategy is chosen by size, like a join strategy (§3.1):

    * ``count == 0`` — state is empty (count and the map commit
      atomically per batch), every uid is fresh: ZERO probe round trips.
    * ``count <= |batch|`` — the stored set is no bigger than the batch
      (backfill, replay, early life): ONE chunked ``keys()`` scan
      (O(count/page) round trips, the server pages many keys per
      response) answers every probe.
    * ``count > |batch|`` — real steady state (all-time cardinality ≫
      batch): per-uid point probes, the only shape that scales — a scan
      would read the unbounded store.

    The r10 measurement showed each probe ≈ one RT; on the replay bench
    the first batch carries every uid, so the scan/empty branches remove
    ~|batch| round trips per (key, batch) without touching the at-scale
    point-lookup design."""
    import logging

    if count == 0:
        fresh = sorted(batch)
        strategy, probe_rts = "empty", 0
    elif count <= len(batch):
        stored = {k[0] for k in seen.keys()}
        fresh = sorted(batch - stored)
        strategy, probe_rts = "scan", -(-count // 100)  # server pages keys
    else:
        fresh = [u for u in sorted(batch) if not seen.containsKey((u,))]
        strategy, probe_rts = "probe", len(batch)
    logging.getLogger(__name__).info(
        "uniques membership: strategy=%s count=%d batch=%d fresh=%d "
        "probe_rts~%d (point-probe formulation would cost %d)",
        strategy, count, len(batch), len(fresh), probe_rts, len(batch),
    )
    return fresh


def uniques_updates(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int = FILES_PER_TRIGGER,
) -> DataFrame:
    """The UNSTARTED streaming transform behind
    :func:`stream_exact_uniques_per_variant`: per-micro-batch (variant,
    unique_users) updates off the stateful distinct-uid store. Exposed
    separately so callers (the kill-and-restart recovery suite) can
    attach their own sink/checkpoint and stop/resume the query — the op
    below is this transform run availableNow to completion."""

    # closure (not module-level) so cloudpickle ships it by value — Python
    # workers don't have this repo on their import path
    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            seen.update(pdf["user_id"].astype(str))
        state.update((sorted(seen),))
        yield pd.DataFrame({"variant": [key[0]], "unique_users": [len(seen)]})

    ev = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
    return (
        ev.select("variant", "user_id")
        .groupBy("variant")
        .applyInPandasWithState(
            update, OUTPUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
        )
    )


def stream_exact_uniques_per_variant(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Replay ``events_path`` through the stateful operator (availableNow);
    return the final (variant, unique_users) — exact, matching the batch
    ``metrics.uniques_per_variant``. ``checkpoint_dir`` pins the
    checkpoint location so ``state_reader`` can scan the state store
    afterwards (default: engine temp checkpoint)."""
    from .pipeline import _replay_to_memory

    updates = uniques_updates(spark, events_path)
    return (
        _replay_to_memory(spark, updates, "state_uniq", "update", checkpoint_dir)
        .groupBy("variant")
        .agg(F.max("unique_users").alias("unique_users"))
    )


SESSION_OUT_SCHEMA = "user_id bigint, start_us bigint, end_us bigint, n_events bigint"
SESSION_STATE_SCHEMA = "start bigint, last bigint, n bigint"
SESSION_GAP_US = SESSION_GAP_MINUTES * 60 * 1_000_000


def _split_sessions(
    ts: list[int], open_: tuple[int, int, int]
) -> tuple[list[tuple[int, int, int]], tuple[int, int, int]]:
    """Fold the sorted event times ``ts`` (µs) of one user into its open
    session ``(start, last, n)``: the sessions closed on the way, and the
    session left open. Shared by the legacy and the TWS session twins.

    STRICT > matches Spark session_window's measured boundary (an event
    at exactly last+gap stays in the session — the r7 hypothesis sweep
    caught the >= variant diverging from the batch twin on a planted
    exact-gap pair). The merge is order-insensitive: a late event
    admitted by the watermark in a LATER micro-batch may precede the
    open session's last (or even first) event — min/max instead of blind
    assignment, so ``last`` never moves backwards and the eviction timer
    equals the true session end. (An admitted event older than
    start − gap would need a list of open sessions per key; with
    watermark delay ≤ gap that case is the session_window merge
    anyway.)"""
    cur_s, cur_l, cur_n = open_
    closed = []
    for t in ts:
        if t - cur_l > SESSION_GAP_US and cur_n > 0:
            closed.append((cur_s, cur_l, cur_n))
            cur_s, cur_l, cur_n = t, t, 1
        else:
            cur_s = min(cur_s, t)
            cur_l = max(cur_l, t)
            cur_n += 1
    return closed, (cur_s, cur_l, cur_n)


def sessions_updates(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int = FILES_PER_TRIGGER,
    prebuilt_replay: bool = False,
) -> DataFrame:
    """The UNSTARTED append-mode transform behind
    :func:`stream_sessions_ttl` (closed-session emissions off the
    TTL-evicting state store, heartbeat replay included). Exposed so the
    recovery suite can run it against a fault-tolerant file sink with a
    pinned checkpoint and kill/resume mid-replay; the op below runs it
    availableNow through a memory sink to completion.

    Gap-based sessionization as a TTL-EVICTING stateful streaming
    operator — ``applyInPandasWithState`` with **EventTimeTimeout**: a
    user's open session lives in the state store and is EVICTED (and
    emitted) when the watermark passes ``last_event + gap``. This is the
    mechanism the catalog's other stateful op (NoTimeout all-time
    uniques) deliberately lacks: state here is bounded by the number of
    OPEN sessions, not by history — the production shape for unbounded
    uid cardinality.

    Intra-batch session splits emit immediately (they are already
    final); only the per-user open tail occupies state. The replay
    harness's two far-future heartbeat files advance the watermark past
    every real session and then trigger the eviction batch, so the
    replayed output is complete and DETERMINISTIC: it equals the batch
    ``sessions.user_sessions`` exactly (parity pytest) for every real
    user. Timestamps cross the Arrow boundary as ``unix_micros`` longs
    (never tz-ambiguous datetimes) and convert back Spark-side.

    Output: (user_id, session_start, session_end, n_events) with
    session_end = last event + gap (session_window semantics).
    """

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def row(s: int, l: int, n: int) -> dict:
            return {
                "user_id": key[0],
                "start_us": s,
                "end_us": l + SESSION_GAP_US,
                "n_events": n,
            }

        if state.hasTimedOut:
            s, l, n = state.get
            state.remove()
            yield pd.DataFrame([row(s, l, n)])
            return
        ts = sorted(
            int(v) for pdf in pdfs for v in pdf["tus"].tolist()
        )
        if not ts:
            return
        # the first event is counted by the fold
        closed, (cur_s, cur_l, cur_n) = _split_sessions(
            ts, state.get if state.exists else (ts[0], ts[0], 0)
        )
        state.update((cur_s, cur_l, cur_n))
        # evict when the watermark passes the open session's end; +1 ms
        # so an event arriving exactly AT the boundary (which belongs to
        # this session under the strict-> rule) can't race the eviction
        state.setTimeoutTimestamp((cur_l + SESSION_GAP_US) // 1000 + 1)
        if closed:
            yield pd.DataFrame([row(*c) for c in closed])

    from .pipeline import _heartbeat_replay_dir

    # prebuilt_replay: events_path IS a replay directory (chunk files +
    # watermark heartbeats, mtime-ordered) built by the caller — the
    # out-of-order-delivery tests use this to inject late micro-batches
    # the ts-sorted default harness can never produce.
    replay_dir = events_path if prebuilt_replay else _heartbeat_replay_dir(events_path)
    ev = (
        normalize_events(read_events_stream(spark, replay_dir, max_files_per_trigger))
        .withWatermark("ts", WATERMARK)
        .select("user_id", "ts", F.unix_micros("ts").alias("tus"))
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def stream_sessions_ttl(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int = FILES_PER_TRIGGER,
    prebuilt_replay: bool = False,
) -> DataFrame:
    """Run :func:`sessions_updates` availableNow to completion and return
    the closed sessions (user_id, session_start, session_end, n_events) —
    exact parity with the batch ``sessions.user_sessions`` twin."""
    updates = sessions_updates(
        spark,
        events_path,
        max_files_per_trigger=max_files_per_trigger,
        prebuilt_replay=prebuilt_replay,
    )
    from .pipeline import _replay_to_memory

    return _closed_sessions(_replay_to_memory(spark, updates, "state_sess", "append"))


def _closed_sessions(out: DataFrame) -> DataFrame:
    """A session twin's sink rows as (user_id, session_start, session_end,
    n_events), heartbeat rows dropped."""
    return out.where(F.col("user_id") >= 0).select(
        "user_id",
        F.timestamp_micros("start_us").alias("session_start"),
        F.timestamp_micros("end_us").alias("session_end"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# transformWithState twins (Spark 4's successor of applyInPandasWithState)
# ---------------------------------------------------------------------------
# Spark 4 steers new stateful code to ``transformWithStateInPandas``
# (SPARK-49564): named state variables (value/list/map), first-class
# event-time TIMERS instead of one implicit timeout, and RocksDB-only
# state. The two operators above are re-expressed here against that API
# and gated by the SAME oracles — the engine's stateful surface covers
# both the legacy and the Spark-4-native entry points.
#
# Sandbox note: the TWS Python<->JVM state protocol needs the
# ``google.protobuf`` runtime, which this container doesn't ship on
# sys.path. :func:`_protobuf_shim_path` locates a vendored runtime and
# exposes ONLY its ``google/protobuf`` package via a symlink shim (plus a
# local no-op version validator, since the vendored runtime may trail the
# gencode in pyspark.zip by a patch release). On a real cluster protobuf
# is a standard pyspark dependency and the shim is a no-op.

_PROTOBUF_VENDOR_CANDIDATES = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf",
)

_NOOP_RUNTIME_VERSION = '''\
"""Shim runtime_version: accept any gencode version.

The vendored protobuf runtime may trail pyspark.zip's generated
StateMessage_pb2 by a patch release; wire compatibility holds across
patch releases, so validation is relaxed to major-version equality.
"""
from enum import Enum


class Domain(Enum):
    GOOGLE_INTERNAL = 1
    PUBLIC = 2


class VersionError(Exception):
    pass


MAJOR, MINOR, PATCH, SUFFIX = 6, 99, 0, ""


def ValidateProtobufRuntimeVersion(domain, major, minor, patch, suffix, location):
    if major != MAJOR:
        raise VersionError(
            f"protobuf gencode major {major} != shim runtime major {MAJOR} "
            f"({location})"
        )
'''


def _protobuf_shim_path(base_dir: str | None = None) -> str | None:
    """Path to prepend to the workers' PYTHONPATH so ``google.protobuf``
    imports, or ``None`` if it already does / no vendored runtime exists.

    Built once per machine under :data:`~..tables.ARTIFACTS`
    (``base_dir`` overrides, for tests): symlinks to every module of the
    vendored runtime, with ``runtime_version.py`` replaced by the no-op
    validator above (the only file NOT symlinked). Both generated files
    are written to a temp name and ``os.rename``d into place so a
    concurrent builder (parallel pytest / driver session) can never
    expose a torn ``runtime_version.py`` to a worker that is already
    importing it — rename is atomic on POSIX, and the ``_COMPLETE``
    marker only ever appears after a fully-written shim."""
    import os

    from ..tables import ARTIFACTS

    if base_dir is None:
        try:
            from google.protobuf import descriptor  # noqa: F401

            return None  # real runtime present; no shim needed
        except ImportError:
            pass
    src = next(
        (p for p in _PROTOBUF_VENDOR_CANDIDATES if os.path.isdir(p)), None
    )
    if src is None:
        return None
    shim = os.path.join(base_dir or ARTIFACTS, "spark_tws_protobuf_shim")
    pkg = os.path.join(shim, "google", "protobuf")
    marker = os.path.join(shim, "_COMPLETE")
    if not os.path.isfile(marker):
        os.makedirs(pkg, exist_ok=True)
        for name in os.listdir(src):
            dst = os.path.join(pkg, name)
            if name == "runtime_version.py":
                continue
            try:
                os.symlink(os.path.join(src, name), dst)
            except FileExistsError:
                pass  # concurrent builder (e.g. parallel pytest session)

        def _atomic_write(path: str, content: str) -> None:
            tmp = f"{path}.tmp.{os.getpid()}"
            with open(tmp, "w") as fh:
                fh.write(content)
            os.rename(tmp, path)

        _atomic_write(os.path.join(pkg, "runtime_version.py"), _NOOP_RUNTIME_VERSION)
        _atomic_write(marker, "ok\n")
    return shim


def _probe_gencode(shim: str | None) -> bool:
    """Import pyspark's TWS gencode (``StateMessage_pb2``) against the
    reachable protobuf runtime — ``shim`` prepended to ``sys.path`` when
    given. This is the exact import the TWS driver worker performs, so
    it exercises runtime_version validation AND descriptor construction:
    a same-major-but-incompatible gencode (the case the relaxed shim
    validator can't vouch for) fails HERE, on the driver, instead of as
    an opaque VersionError inside the streaming Python runner.

    The probe is HERMETIC because it runs in a SUBPROCESS (r9 advice):
    the child interpreter starts with a cold ``sys.modules``, so the
    import is always a REAL import (a cached ``StateMessage_pb2`` in
    this process can't make it a vacuous no-op), and the live
    interpreter's module state, descriptor pools, and ``sys.path`` are
    never touched — no window where another thread importing protobuf
    sees a half-removed ``google`` package, and no risk of re-importing
    a C-extension (upb) runtime into parallel class hierarchies.
    Driver-init-only (memoized by :func:`tws_available`), so the ~1 s
    child-interpreter pyspark import is paid once."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        + (f"sys.path.insert(0, {shim!r})\n" if shim else "")
        + "import pyspark.sql.streaming.proto.StateMessage_pb2\n"
    )
    try:
        r = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            timeout=120,
        )
        return r.returncode == 0
    except Exception:
        return False


def tws_available() -> bool:
    """True when transformWithStateInPandas can run here: the API exists
    and a protobuf runtime (real or shimmed) PROVABLY loads pyspark's
    TWS gencode (probe-imported once, result cached). Any runtime the
    probe can't vouch for — missing, wrong major, or same-major but
    descriptor-incompatible — reports unavailable, so callers hit the
    documented RuntimeError in :func:`_tws_session` (or a pytest skip)
    rather than a worker-side VersionError."""
    global _TWS_PROBE
    if _TWS_PROBE is not None:
        return _TWS_PROBE
    try:
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
    except ImportError:
        _TWS_PROBE = False
        return False
    import importlib.util

    ok = False
    if importlib.util.find_spec("google") is not None and _probe_gencode(None):
        ok = True
    else:
        shim = _protobuf_shim_path()
        ok = shim is not None and _probe_gencode(shim)
    _TWS_PROBE = ok
    return ok


#: memoized tws_available() verdict (None = not yet probed)
_TWS_PROBE: bool | None = None


@contextmanager
def _tws_session(spark: SparkSession):
    """Scope the two things TWS needs onto an otherwise-plain session:

    * the protobuf shim on the PYTHON WORKERS' path — injected through
      ``sc.environment`` (serialized into every PythonFunction, so the
      TWS driver-worker and executors both see it) AND the driver's own
      ``sys.path`` (the processor class pickles by value, but pyspark's
      client-side schema handling imports StateMessage_pb2 too);
    * the RocksDB state-store provider, which transformWithState
      requires (virtual column families) — restored after the query.

    Raises a clear RuntimeError up front when no protobuf runtime (real
    or shimmable) exists — better than the opaque
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE the TWS driver
    worker dies with otherwise.
    """
    import sys

    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime "
            "on the Python workers (its state protocol is protobuf-"
            "based); none is importable and no vendored copy was found "
            "to shim. Install protobuf, or use the applyInPandasWithState "
            "twins (stream_exact_uniques_per_variant / stream_sessions_ttl)."
        )
    shim = _protobuf_shim_path()
    env = spark.sparkContext.environment
    key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(key, None)
    old_env = env.get("PYTHONPATH")
    added_sys = False
    if shim:
        env["PYTHONPATH"] = shim + (f":{old_env}" if old_env else "")
        if shim not in sys.path:
            sys.path.insert(0, shim)
            added_sys = True
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if old_provider is not None:
            spark.conf.set(key, old_provider)
        else:
            spark.conf.unset(key)
        if shim:
            if old_env is None:
                env.pop("PYTHONPATH", None)
            else:
                env["PYTHONPATH"] = old_env
            if added_sys and shim in sys.path:
                sys.path.remove(shim)


def _unique_users():
    """The ``transformWithStateInPandas`` processor of both TWS uniques
    keys: exact all-time distinct users per variant in a ``seen`` MapState
    (uid → 1-byte placeholder) plus the running count ``n``. Streamed
    rows add their fresh uids; an ``initialState`` seed, when the query
    has one, is loaded by ``handleInitialState`` before batch 0. Built on
    call: the ``stateful_processor`` import needs the protobuf runtime
    that :func:`_tws_session` provides."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UniqueUsers(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.seen = handle.getMapState("seen", "uid string", "one byte")
            self.n = handle.getValueState("n", "n bigint")

        def _count(self) -> int:
            # get() returns None when absent — one round trip, not the
            # exists()+get() pair
            prev = self.n.get()
            return prev[0] if prev is not None else 0

        def _add(self, fresh: list, count: int) -> int:
            for u in fresh:
                self.seen.updateValue((u,), (1,))
            if fresh:
                count += len(fresh)
                self.n.update((count,))
            return count

        def handleInitialState(self, key, initialState, timerValues) -> None:
            # ACCUMULATE, never assign: the engine hands the seed to this
            # hook one Arrow chunk at a time, so a key whose seed exceeds
            # one batch (~10k rows) sees MULTIPLE invocations — assigning
            # len(chunk) here left the count at the LAST chunk's size (the
            # 14960-vs-15000 undercount the sf1 sweep caught; invisible at
            # sf0.01 where every seed fits one chunk).
            # No containsKey probe per seed uid: the seed is globally
            # .distinct(), so a key's chunks are pairwise disjoint, and
            # state is empty before batch 0 (an uncommitted batch 0
            # replays from empty state on recovery, with the seed) —
            # the probe is provably always-False, and each one is a
            # separate proto round trip to the state server (~|seed|
            # wasted RTs; halves the seed-path round-trip budget).
            self._add(sorted(set(initialState["uid"].tolist())), self._count())

        def handleInputRows(self, key, rows, timerValues):
            count = self._count()
            batch: set[str] = set()
            for pdf in rows:
                batch.update(str(u) for u in pdf["user_id"].tolist())
            count = self._add(_fresh_uids(batch, count, self.seen), count)
            yield pd.DataFrame({"variant": [key[0]], "unique_users": [count]})

        def close(self) -> None:
            pass

    return UniqueUsers()


def tws_uniques_updates(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int = FILES_PER_TRIGGER,
) -> DataFrame:
    """The UNSTARTED ``transformWithStateInPandas`` transform behind
    :func:`stream_exact_uniques_per_variant_tws`. MUST be built (and its
    query started) inside :func:`_tws_session` — pyspark's client-side
    schema handling imports the protobuf gencode at plan-build time.
    Exposed so the recovery suite can pin a checkpoint and kill/resume
    the RocksDB-backed query mid-replay.

    ``transformWithStateInPandas`` twin of
    :func:`stream_exact_uniques_per_variant` — exact all-time distinct
    users per variant, replayed availableNow, same oracle.

    State design: a MapState keyed by uid (value is a 1-byte
    placeholder) plus a ValueState running count. Membership is
    ``containsKey`` per DISTINCT incoming uid, so per-batch state READS
    are O(batch uids) point lookups and WRITES are O(new uids) puts —
    both deltas. At 100 TB uid cardinality that is the only viable
    shape: RocksDB point-gets against an all-time set that never has to
    be materialized in memory (the legacy ``applyInPandasWithState`` op
    rewrites the whole set every batch). Counts are monotone, so the
    final answer is the per-key max over the update-mode sink."""
    ev = normalize_events(
        read_events_stream(spark, events_path, max_files_per_trigger)
    )
    return (
        ev.select("variant", "user_id")
        .groupBy("variant")
        .transformWithStateInPandas(_unique_users(), OUTPUT_SCHEMA, "Update", "None")
    )


def stream_exact_uniques_per_variant_tws(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run :func:`tws_uniques_updates` availableNow to completion; final
    exact (variant, unique_users), same oracle as the legacy twin."""
    from .pipeline import _replay_to_memory

    with _tws_session(spark):
        updates = tws_uniques_updates(spark, events_path)
        out = _replay_to_memory(spark, updates, "tws_uniq", "update", checkpoint_dir)
    return out.groupBy("variant").agg(F.max("unique_users").alias("unique_users"))


def stream_uniques_tws_bootstrapped(
    spark: SparkSession,
    events_path: str,
    history_fraction: float = HISTORY_FRACTION,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """TWS INITIAL-STATE bootstrap — the production migration path for the
    reference's all-time ``set_var_{variant}`` Redis sets (W4,
    MetricsCalculationPipeline.java:105-107): BACKFILL the membership
    store from a batch aggregate over the history half of the fixture,
    then stream only the live tail. ``transformWithStateInPandas`` takes
    the seed as ``initialState`` (a GroupedData of distinct (variant,
    uid) pairs); ``handleInitialState`` loads each variant's MapState +
    running count in the FIRST micro-batch, and streamed batches
    increment exactly like the un-seeded twin
    (:func:`stream_exact_uniques_per_variant_tws`).

    The final read unions the seeded counts with the update-mode sink —
    a variant with no live events never emits post-seed, so its answer
    is its backfill count (the same read-side union a production
    cutover would serve during the catch-up window). Oracle:
    ``count(DISTINCT user_id)`` per variant over ALL events; the parity
    pytest additionally pins bootstrapped == replay-from-scratch and
    proves the seed is load-bearing on a planted history-only-user
    fixture."""
    from .pipeline import _replay_to_memory, _split_replay_dir

    history_path, live_dir = _split_replay_dir(events_path, history_fraction)
    seed = (
        normalize_events(spark.read.parquet(history_path))
        .select("variant", F.col("user_id").cast("string").alias("uid"))
        .distinct()
    )
    ev = normalize_events(read_events_stream(spark, live_dir))
    with _tws_session(spark):
        updates = (
            ev.select("variant", "user_id")
            .groupBy("variant")
            .transformWithStateInPandas(
                _unique_users(),
                OUTPUT_SCHEMA,
                "Update",
                "None",
                initialState=seed.groupBy("variant"),
            )
        )
        out = _replay_to_memory(spark, updates, "tws_boot", "update", checkpoint_dir)
    seed_counts = seed.groupBy("variant").agg(F.count("*").alias("unique_users"))
    return (
        out.unionByName(seed_counts)
        .groupBy("variant")
        .agg(F.max("unique_users").alias("unique_users"))
    )


def stream_sessions_ttl_tws(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int = FILES_PER_TRIGGER,
    prebuilt_replay: bool = False,
) -> DataFrame:
    """``transformWithStateInPandas`` twin of :func:`stream_sessions_ttl`
    — gap-based sessionization with EVENT-TIME TIMERS doing the TTL
    eviction, same heartbeat replay, same oracle (batch
    ``sessions.user_sessions``).

    Where the legacy op gets ONE implicit timeout per key
    (``GroupStateTimeout.EventTimeTimeout`` + ``setTimeoutTimestamp``),
    TWS gives explicit timers: the open session's eviction time is a
    registered timer, re-registered (old one deleted) whenever new
    events extend the session, and ``handleExpiredTimer`` emits the
    closed session when the watermark passes it. Boundary semantics are
    identical to the batch twin: an event at exactly ``last + gap``
    stays in the session (strict-> split), and the timer fires at
    ``last + gap`` + 1ms so a boundary event can't race its own
    eviction.

    ROW-BASED ``transformWithState`` (not the InPandas variant): the
    grouping key is ``user_id``, so a batch holds thousands of 1-3-row
    groups and the pandas variant pays per-GROUP Arrow/pandas frame
    construction that dwarfs the session arithmetic (r10 interleaved
    A/B: row floor 7.70 s vs pandas 8.96 s at sf0.1, row <= pandas at
    every rep, byte-identical 95465-row output). The uniques processor
    above keeps the pandas variant — its key is ``variant`` (5 giant
    groups), the shape pandas batching is right for."""
    from pyspark.sql import Row
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Sessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.open = handle.getValueState(
                "open", "start bigint, last bigint, n bigint"
            )

        def _row(self, uid, s: int, l: int, n: int) -> Row:
            return Row(
                user_id=uid,
                start_us=s,
                end_us=l + SESSION_GAP_US,
                n_events=n,
            )

        def handleInputRows(self, key, rows, timerValues):
            ts = sorted(int(r.tus) for r in rows)
            if not ts:
                return
            # one get() instead of exists()+get(), and the pending
            # timer's expiry is recomputed from the stored `last`
            # instead of a listTimers round trip: update() and
            # registerTimer() always commit together with the same
            # cur_l, so the registered expiry IS (last + gap)//1000 + 1
            # — 6 proto round trips per active user per batch drop to 4
            # (each call is a separate state-server message).
            st = self.open.get()
            if st is not None:
                old_expiry = (st[1] + SESSION_GAP_US) // 1000 + 1
            else:
                st = (ts[0], ts[0], 0)
                old_expiry = None
            closed, (cur_s, cur_l, cur_n) = _split_sessions(ts, st)
            self.open.update((cur_s, cur_l, cur_n))
            # Each deleteTimer/registerTimer is one proto round trip; when
            # the batch didn't move the open session's end (late/duplicate
            # events under the min/max merge), the pending timer's expiry
            # IS the new expiry — re-registering the same millisecond is
            # two wasted round trips. Delete-then-register only when the
            # expiry actually changed.
            new_expiry = (cur_l + SESSION_GAP_US) // 1000 + 1
            if old_expiry != new_expiry:
                if old_expiry is not None:
                    self.handle.deleteTimer(old_expiry)
                self.handle.registerTimer(new_expiry)
            for c in closed:
                yield self._row(key[0], *c)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            st = self.open.get()
            if st is not None:
                s, l, n = st
                self.open.clear()
                yield self._row(key[0], s, l, n)

        def close(self) -> None:
            pass

    from .pipeline import _heartbeat_replay_dir, _replay_to_memory

    # see stream_sessions_ttl: prebuilt_replay injects a caller-built
    # (possibly out-of-order) replay directory
    replay_dir = events_path if prebuilt_replay else _heartbeat_replay_dir(events_path)
    ev = (
        normalize_events(
            read_events_stream(spark, replay_dir, max_files_per_trigger)
        )
        .withWatermark("ts", WATERMARK)
        .select("user_id", "ts", F.unix_micros("ts").alias("tus"))
    )
    with _tws_session(spark):
        updates = ev.groupBy("user_id").transformWithState(
            Sessions(), SESSION_OUT_SCHEMA, "Append", "EventTime"
        )
        out = _replay_to_memory(spark, updates, "tws_sess", "append")
    return _closed_sessions(out)
