#!/usr/bin/env python3
"""Ingest → store → dashboard benchmark over the repo's streaming path.

    python3 perfbench/run.py --workload backfill|live_mixed \\
        --seed N --seconds S --trace 0|1

Run it from the repository root: it imports the package from the current
directory and keeps every file it writes under ``.perfbench_work/`` there,
removed on exit. The path under test is ``sources.events`` →
``streaming.pipeline.SketchStoreWriter`` → ``streaming.pipeline.read_*`` and
``operators.timeseries``. Inputs are generated from ``--seed``; see
``perfbench/README.md`` for the workloads and what each metric means.

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Exit codes: 0 ok, 1 wrong output,
2 the package is missing, 3 void run (the generator fell behind its schedule).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from functools import partial

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

#: warm-up: a one-file replay through the store, then one refresh of the
#: workload's endpoints
WARM_FILES, WARM_EVENTS = 1, 5_000
#: backfill: a 24 h history in a few large files, replayed through the
#: store, then served by the batch dashboard; outage minutes (two of them in
#: the last ten) give the zero-fill gaps to fill
BACKFILL_EVENTS, BACKFILL_FILES, BACKFILL_SPAN_S = 400_000, 2, 24 * 3600
BACKFILL_QUIET_MINUTES = (300, 301, 302, 1432, 1436)
BACKFILL_MIN_REFRESHES = 3
#: a replayed file not visible in the store this long after publication fails
BACKFILL_FRESH_LIMIT_S = 120.0
#: live_mixed: fixed processing-time trigger, and a generator period that
#: does not divide it, so publications visit every phase of the trigger
LIVE_TRIGGER_S = 5.0
LIVE_PERIOD_S = 0.35
LIVE_EVENTS_PER_FILE = 1_000
LIVE_EVENT_S_PER_FILE = 6.0
LIVE_MAX_FILES_PER_TRIGGER = 10_000
#: dashboard client: at least THINK_S between refreshes, each refresh
#: starting REFRESH_PHASE_S after a trigger fires, so every refresh meets
#: the batches at the same phase
THINK_S = 1.0
REFRESH_PHASE_S = 2.2
#: a live file not visible in the store this long after publication fails
LIVE_FRESH_LIMIT_S = 10.0
#: a run whose generator publishes later than this behind schedule is void
LATE_LIMIT_S = 0.25
#: store HLL sketches use Spark's default lgConfigK (12); the batch
#: ``approx_uniques`` path uses 14. The band is four standard errors.
STORE_LGK, BATCH_LGK = 12, 14
PHI = 0.0075


def hll_band(exact: int, lgk: int) -> float:
    return 4 * 1.04 / (2**lgk) ** 0.5 * exact + 1


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def file_batches(checkpoint: str) -> dict[str, set[int]]:
    """File name → the batch ids the file source's log assigned it to."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, set[int]] = defaultdict(set)
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:  # first line: log version
                e = json.loads(line)
                out[os.path.basename(e["path"])].add(e["batchId"])
    return out


def dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Void(Exception):
    """The run measured its own harness, not the program."""


def load_package():
    sys.path.insert(0, os.getcwd())
    from redis_dataflow_realtime_analytics_spark.operators import timeseries as T
    from redis_dataflow_realtime_analytics_spark.session import get_spark
    from redis_dataflow_realtime_analytics_spark.sources.events import (
        normalize_events,
        read_events,
        read_events_stream,
    )
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as P

    return T, P, get_spark, normalize_events, read_events, read_events_stream


class Bench:
    def __init__(self, a: argparse.Namespace, work: str, pkg) -> None:
        (self.T, self.P, self.get_spark, self.normalize_events, self.read_events,
         self.read_events_stream) = pkg
        self.seed, self.seconds, self.traced = a.seed, a.seconds, bool(a.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.samples: dict[str, list] = defaultdict(list)
        self.layer: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.lock = threading.Lock()
        self.groups = 0
        self.procs: list[subprocess.Popen] = []
        self.wrong = False

        P = self.P

        class StampedWriter(P.SketchStoreWriter):
            """The store writer, stamping when each batch's call returns:
            from then on the batch's data is visible to readers."""

            def __init__(self, store_dir, returned, calls):
                super().__init__(store_dir)
                self.returned, self.calls = returned, calls

            def __call__(self, batch_df, batch_id):
                t0 = time.time()
                super().__call__(batch_df, batch_id)
                self.returned[batch_id] = t = time.time()
                if self.calls is not None:
                    self.calls[batch_id] = t - t0

        self.StampedWriter = StampedWriter
        self.store_reads = [
            P.read_visits,
            P.read_uniques_per_minute,
            P.read_uniques_per_variant,
            P.read_uniques_per_variant_exact,
            P.read_heavy_hitters,
        ]
        T = self.T
        self.timeseries = [
            ("visits_timeseries_last", T.visits_timeseries_last),
            ("users_timeseries", partial(T.users_timeseries, exact=True)),
            ("users_timeseries_approx", partial(T.users_timeseries, exact=False)),
            ("experiments_timeseries", T.experiments_timeseries),
            ("variant_overlap", T.variant_overlap),
            ("variant_overlap_theta", T.variant_overlap_theta),
        ]

    # --- bookkeeping ----------------------------------------------------------
    def fresh_dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def count(self, ok: bool, why: str = "") -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(why)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(f"wrong output: {what}")
            self.wrong = True

    # --- endpoints ------------------------------------------------------------
    def store_endpoints(self, store: str) -> list:
        return [(f.__name__, partial(f, self.spark, store)) for f in self.store_reads]

    def timeseries_endpoints(self, src_dir: str) -> list:
        def call(fn):
            return fn(self.normalize_events(self.read_events(self.spark, src_dir)))

        return [(name, partial(call, fn)) for name, fn in self.timeseries]

    def refresh(self, endpoints: list, probe: bool = False) -> dict:
        """One dashboard refresh: every endpoint once, in sequence, each
        ending in ``collect()``. A probe records per-endpoint times only."""
        group = None
        if self.tracer and not probe:
            self.groups += 1
            group = f"perfbench-refresh-{self.groups}"
            self.tracer.set_group(group)
        out, ok, t0 = {}, True, time.perf_counter()
        for name, call in endpoints:
            t = time.perf_counter()
            try:
                out[name] = call().collect()
            except Exception as e:  # a read that raises is a failed operation
                ok = False
                self.count(False, f"{name} raised {type(e).__name__}: {e}")
                continue
            dt = time.perf_counter() - t
            with self.lock:
                self.samples[f"read:{name}"].append(dt)
                if not probe:
                    self.samples["read"].append(dt)
            if not probe:
                self.count(True)
        if group:
            self.tracer.set_group(None)
            self.samples["refresh_groups"].append(group)
        if ok and not probe:
            self.samples["refresh"].append(time.perf_counter() - t0)
        return out

    # --- ingest ---------------------------------------------------------------
    @contextmanager
    def stamped_sink(self, returned: dict, calls: dict | None):
        """Have ``run_sketch_ingest`` build a StampedWriter for its sink."""
        P, orig = self.P, self.P.SketchStoreWriter
        P.SketchStoreWriter = lambda store_dir: self.StampedWriter(store_dir, returned, calls)
        try:
            yield
        finally:
            P.SketchStoreWriter = orig

    def catch_up(self, staged: list[str], events: int, tag: str, limit: float) -> tuple[str, str]:
        """Publish staged files into a fresh source directory (hard links:
        atomic) and replay them through ``run_sketch_ingest``."""
        self.fresh_dir(tag)
        src = self.fresh_dir(tag, "events.parquet")
        store, ck = os.path.join(self.work, tag, "store"), os.path.join(self.work, tag, "ck")
        returned, calls = {}, ({} if self.tracer else None)
        pub, due = {}, time.time()
        for f in staged:
            name = os.path.basename(f)
            os.link(f, os.path.join(src, name))
            pub[name] = time.time()
        with self.stamped_sink(returned, calls):
            t0 = time.perf_counter()
            self.P.run_sketch_ingest(self.spark, src, store, ck)
            wall = time.perf_counter() - t0
        self.samples["ingest_rate"].append(events / wall)
        self.samples["late"].append(max(pub.values()) - due)
        run_id = self.tracer.progress.run_ids[-1] if self.tracer else None
        self.account(pub, ck, returned, calls, run_id, limit)
        return src, store

    def account(self, pub: dict, ck: str, returned: dict, calls: dict | None, run_id,
                limit: float) -> None:
        """One freshness sample per published file; a file with no batch, or
        not visible within ``limit`` seconds, is a failed operation."""
        fb = file_batches(ck)
        fresh = []
        for name, t in sorted(pub.items(), key=lambda kv: kv[1]):
            bids = fb.get(name, set())
            if len(bids) != 1 or next(iter(bids)) not in returned:
                self.count(False, f"{name}: batches {sorted(bids)}, not visible")
                continue
            f = returned[next(iter(bids))] - t
            self.count(f <= limit, f"{name}: visible after {f:.2f}s")
            if f <= limit:
                fresh.append(f)
        self.samples["freshness"] += fresh
        per_batch = defaultdict(int)
        for name in pub:
            for b in fb.get(name, ()):
                per_batch[b] += 1
        self.samples["files_per_batch"] += list(per_batch.values())
        self.samples["pipeline.batches"].append(len(returned))
        if self.tracer:
            self.trace_batches(pub, fb, returned, calls, run_id)

    def trace_batches(self, pub, fb, returned, calls, run_id) -> None:
        s = self.samples
        batches = {b["batch"]: b for b in self.tracer.wait_batches(run_id, len(returned))}
        for bid, b in batches.items():
            ms = b["ms"]
            for key, name in (
                ("latestOffset", "sources.latest_offset_ms"),
                ("getBatch", "sources.get_batch_ms"),
                ("triggerExecution", "pipeline.trigger_ms"),
                ("addBatch", "pipeline.add_batch_ms"),
                ("queryPlanning", "pipeline.query_planning_ms"),
                ("walCommit", "pipeline.wal_commit_ms"),
                ("commitOffsets", "pipeline.commit_offsets_ms"),
            ):
                s[name].append(ms.get(key, 0))
            s["sources.rows_per_batch"].append(b["rows"])
            if bid in calls:
                s["pipeline.sink_call_s"].append(calls[bid])
                s["pipeline.batch_overhead_ms"].append(ms["triggerExecution"] - 1000 * calls[bid])
        t_last = max(pub.values())
        backlog = 0
        for name, t in pub.items():
            bids = fb.get(name, set())
            start = batches[min(bids)]["start"] if bids and min(bids) in batches else None
            if start is not None:
                s["pipeline.queue_wait_s"].append(max(0.0, start - t))
            if t <= t_last and (start is None or start > t_last):
                backlog += 1
        s["pipeline.backlog_files_end"].append(backlog)
        jobs, tasks = self.tracer.jobs_tasks(run_id)
        s["spark.jobs_per_batch"].append(jobs / max(1, len(batches)))
        s["spark.tasks_per_batch"].append(tasks / max(1, len(batches)))

    # --- set-up ---------------------------------------------------------------
    def setup(self, prepare, warm_endpoints) -> None:
        """Session start (the JVM launch included), input generation and
        warm-up: what a fresh process pays before its first measurement."""
        t0 = time.perf_counter()
        self.spark = self.get_spark(cpus=nproc())
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        prepare()
        self.warm_up(warm_endpoints)
        self.setup_s = time.perf_counter() - t0

    def warm_up(self, endpoints) -> None:
        """A small replay through the store, then one refresh of the
        workload's own endpoints over it."""
        warm = gen.history(self.seed + 7919, WARM_FILES * WARM_EVENTS, 3600)
        files = self.stage(warm, WARM_FILES, "warm_staged")
        saved = (self.samples, self.attempted, self.failed, self.errors)
        self.samples, self.errors = defaultdict(list), []
        src, store = self.catch_up(files, WARM_FILES * WARM_EVENTS, "warm", BACKFILL_FRESH_LIMIT_S)
        self.refresh(endpoints(self, store, os.path.dirname(src)))
        # a cold first round misses freshness limits: warm-up counts nothing
        self.samples, self.attempted, self.failed, self.errors = saved

    # --- workloads ------------------------------------------------------------
    def stage(self, table, n_files: int, name: str) -> list[str]:
        """Split a table into n_files parquet files in a fresh directory."""
        stage = self.fresh_dir(name)
        per = -(-table.num_rows // n_files)
        paths = []
        for i in range(n_files):
            paths.append(os.path.join(stage, f"part-{i:05d}.parquet"))
            with open(paths[-1], "wb") as f:
                f.write(gen.parquet_bytes(table.slice(i * per, per)))
        return paths

    def prepare_backfill(self) -> None:
        self.history = gen.history(
            self.seed, BACKFILL_EVENTS, BACKFILL_SPAN_S, BACKFILL_QUIET_MINUTES)
        self.staged = self.stage(self.history, BACKFILL_FILES, "staged")

    def measure_backfill(self) -> None:
        """Catch up on the history through the store, then serve the batch
        dashboard over the same history until the run's time is up."""
        t0 = time.perf_counter()
        src, self.final_store = self.catch_up(
            self.staged, self.history.num_rows, "backfill", BACKFILL_FRESH_LIMIT_S)
        self.final_src = os.path.dirname(src)
        endpoints = self.timeseries_endpoints(self.final_src)
        n = 0
        while n < BACKFILL_MIN_REFRESHES or time.perf_counter() - t0 < self.seconds:
            out = self.refresh(endpoints)
            n += 1
        self.check_store(self.final_store, gen.truth([self.history], PHI))
        self.check_dashboard(out)

    def prepare_live(self) -> None:
        self.live_tables = [
            gen.live_file(self.seed, i, LIVE_EVENTS_PER_FILE, LIVE_EVENT_S_PER_FILE)
            for i in range(1 + round(self.seconds / LIVE_PERIOD_S))
        ]

    def measure_live(self) -> None:
        P, spark = self.P, self.spark
        tag = "live"
        self.fresh_dir(tag)
        src = self.fresh_dir(tag, "events.parquet")
        store, ck = os.path.join(self.work, tag, "store"), os.path.join(self.work, tag, "ck")
        n_files = len(self.live_tables) - 1
        # the generator builds its files before the query starts
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "publish", "--dir", src,
             "--seed", str(self.seed), "--first", "1", "--files", str(n_files),
             "--events-per-file", str(LIVE_EVENTS_PER_FILE),
             "--event-s-per-file", str(LIVE_EVENT_S_PER_FILE), "--period", str(LIVE_PERIOD_S)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.procs.append(proc)
        # the file source needs one file to probe the schema: file 0
        gen.publish(os.path.join(src, "part-00000.parquet"), gen.parquet_bytes(self.live_tables[0]))
        returned, calls = {}, ({} if self.tracer else None)
        ev = self.normalize_events(self.read_events_stream(spark, src, LIVE_MAX_FILES_PER_TRIGGER))
        q = (
            ev.withWatermark("ts", P.WATERMARK)
            .writeStream.foreachBatch(self.StampedWriter(store, returned, calls))
            .option("checkpointLocation", ck)
            .trigger(processingTime=f"{LIVE_TRIGGER_S} seconds")
            .start()
        )
        try:
            self.wait_for(lambda: 0 in returned, 60, "first live batch")
            if proc.stdout.readline().strip() != "ready":
                raise RuntimeError("generator did not start")
            # processing-time triggers fire on multiples of the interval since
            # the epoch; start on that grid so every run sees the same phases
            start_at = (time.time() // LIVE_TRIGGER_S + 1) * LIVE_TRIGGER_S + 0.1
            proc.stdin.write(f"{start_at}\n")
            proc.stdin.flush()
            end_at = start_at + n_files * LIVE_PERIOD_S
            client = threading.Thread(
                target=self.client, args=(store, start_at - 0.1 + REFRESH_PHASE_S, end_at))
            client.start()
            out, _ = proc.communicate(timeout=end_at - time.time() + 30)
            log = json.loads(out)
            client.join()
            pub = {e["file"]: e["published"] for e in log}
            self.samples["late"].append(max(e["published"] - e["due"] for e in log))

            def drained() -> bool:
                fb = file_batches(ck)
                return all(n in fb and max(fb[n]) in returned for n in pub)

            self.wait_for(drained, max(pub.values()) + LIVE_FRESH_LIMIT_S - time.time(), None)
        finally:
            q.stop()
        # delivered rate: the slope of events made visible against time, one
        # point per file; it falls below the offered rate once batches lag
        fb = file_batches(ck)
        visible = sorted(returned[min(fb[n])] for n in pub if n in fb and min(fb[n]) in returned)
        events = [LIVE_EVENTS_PER_FILE * (k + 1) for k in range(len(visible))]
        self.samples["ingest_rate"].append(statistics.linear_regression(visible, events).slope)
        n_fresh = len(self.samples["freshness"])
        self.account(pub, ck, returned, calls, str(q.runId) if self.tracer else None,
                     LIVE_FRESH_LIMIT_S)
        fresh = self.samples["freshness"][n_fresh:]
        third = max(1, len(fresh) // 3)
        # a backlog that grows through the run shows as rising freshness
        self.count(
            statistics.median(fresh[-third:]) <= statistics.median(fresh[:third]) + LIVE_TRIGGER_S,
            "backlog still growing at the end of the run",
        )
        self.final_store, self.final_src = store, os.path.join(self.work, tag)
        self.check_store(store, gen.truth(self.live_tables, PHI))

    def client(self, store: str, start_at: float, end_at: float) -> None:
        """Closed-loop dashboard until end_at: refresh, then think at least
        THINK_S, starting each refresh on the trigger grid shifted to
        start_at."""
        endpoints = self.store_endpoints(store)
        due = start_at
        while due < end_at:
            time.sleep(max(0.0, due - time.time()))
            self.refresh(endpoints)
            done = time.time() + THINK_S
            while due < done:
                due += LIVE_TRIGGER_S

    # --- correctness ----------------------------------------------------------
    def check_store(self, store: str, t: dict) -> None:
        P, spark = self.P, self.spark

        def rows(fn):
            return fn(spark, store).collect()

        visits = {int(r.minute.timestamp()): r.visits for r in rows(P.read_visits)}
        self.check(visits == t["visits"], "read_visits != generated visits per minute")
        exact = {r.variant: r.unique_users for r in rows(P.read_uniques_per_variant_exact)}
        self.check(exact == t["uniques_variant"], "read_uniques_per_variant_exact != truth")
        approx = {r.variant: r.unique_users for r in rows(P.read_uniques_per_variant)}
        self.check(
            approx.keys() == exact.keys()
            and all(abs(approx[v] - n) <= hll_band(n, STORE_LGK) for v, n in t["uniques_variant"].items()),
            "read_uniques_per_variant outside the HLL error band",
        )
        per_min = {int(r.minute.timestamp()): r.unique_users for r in rows(P.read_uniques_per_minute)}
        self.check(
            per_min.keys() == t["uniques_minute"].keys()
            and all(abs(per_min[m] - n) <= hll_band(n, STORE_LGK) for m, n in t["uniques_minute"].items()),
            "read_uniques_per_minute outside the HLL error band",
        )
        hh = {r.user_id: r.est_count for r in rows(P.read_heavy_hitters)}
        self.check(
            all(u in hh and hh[u] >= n for u, n in t["heavy"].items()),
            "read_heavy_hitters missed a heavy hitter or under-counted it",
        )

    def check_dashboard(self, out: dict) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        h = self.history
        minute = h["ts"].cast(pa.int64()).to_numpy() // 60_000_000 * 60
        uid = h["user_id"].to_numpy()
        var = h["event_type"].to_numpy(zero_copy_only=False).astype("U7")
        exp = pc.cast(pc.utf8_slice_codeunits(h["props"], 6, -1), pa.int64()).to_numpy()
        axis = np.arange(minute.min(), minute.max() + 60, 60)

        def per_minute(keys):
            pairs = np.unique(np.stack([minute, keys]), axis=1)
            m, c = np.unique(pairs[0], return_counts=True)
            got = dict(zip(m.tolist(), c.tolist()))
            return {int(a): got.get(int(a), 0) for a in axis}

        def series(name):
            return {int(r.minute.timestamp()): r.metric for r in out[name]}

        m, c = np.unique(minute, return_counts=True)
        visits = dict(zip(m.tolist(), c.tolist()))
        last = {int(a): visits.get(int(a), 0) for a in axis[-10:]}
        self.check(series("visits_timeseries_last") == last, "visits_timeseries_last != truth")
        users = per_minute(uid)
        self.check(series("users_timeseries") == users, "users_timeseries != exact truth")
        approx = series("users_timeseries_approx")
        self.check(
            approx.keys() == users.keys()
            and all(abs(approx[k] - n) <= hll_band(n, BATCH_LGK) for k, n in users.items()),
            "users_timeseries_approx outside the HLL error band",
        )
        self.check(series("experiments_timeseries") == per_minute(exp), "experiments_timeseries != truth")
        sets = {v: np.unique(uid[var == v]) for v in np.unique(var)}
        overlap = {
            (a, b): len(np.intersect1d(sets[a], sets[b], assume_unique=True))
            for a in sets for b in sets if a < b
        }
        got = {(r.variant_a, r.variant_b): r.overlap for r in out["variant_overlap"]}
        self.check(got == overlap, "variant_overlap != exact truth")
        theta = {(r.variant_a, r.variant_b): r.overlap_est for r in out["variant_overlap_theta"]}
        self.check(
            theta.keys() == overlap.keys()
            and all(
                abs(theta[k] - n) <= 4 * len(np.union1d(sets[k[0]], sets[k[1]])) / 64
                for k, n in overlap.items()
            ),
            "variant_overlap_theta outside the theta error band",
        )

    # --- run ------------------------------------------------------------------
    def wait_for(self, cond, timeout: float, what: str | None) -> None:
        deadline = time.time() + timeout
        while not cond():
            if time.time() > deadline:
                if what:
                    raise RuntimeError(f"timed out waiting for {what}")
                return
            time.sleep(0.05)

    def run(self, workload: str) -> dict:
        prepare, measure, headline, endpoints = {
            "backfill": (self.prepare_backfill, self.measure_backfill, "ingest_events_per_s",
                         lambda b, store, src: b.timeseries_endpoints(src)),
            "live_mixed": (self.prepare_live, self.measure_live, "freshness_p50_s",
                           lambda b, store, src: b.store_endpoints(store)),
        }[workload]
        self.setup(prepare, endpoints)
        self.measure(measure)
        e2e = self.end_to_end()
        if self.traced:
            from tracing import Tracer

            untraced = e2e
            self.samples = defaultdict(list)
            self.tracer = Tracer(self.spark)
            gc0 = self.tracer.gc_ms()
            self.measure(measure)
            self.layer["jvm.gc_ms"] = self.tracer.gc_ms() - gc0
            traced = self.end_to_end()
            self.probe_layers(workload)
            ratio = traced[headline] / untraced[headline]
            if headline == "ingest_events_per_s":
                ratio = 1 / ratio
            self.layer["trace.overhead_pct"] = 100 * (ratio - 1)
            metrics = self.per_layer()
        else:
            metrics = e2e
        return metrics

    def measure(self, measure) -> None:
        t0 = time.perf_counter()
        measure()
        print(f"perfbench: measured {time.perf_counter() - t0:.1f}s, samples "
              f"{ {k: len(v) for k, v in self.samples.items() if ':' not in k} }", file=sys.stderr)
        late = max(self.samples["late"])
        if late > LATE_LIMIT_S:
            raise Void(f"generator ran {late:.3f}s behind its schedule")

    def probe_layers(self, workload: str) -> None:
        """Traced run only: time the endpoints the workload does not refresh
        (second of two calls each), the props-parsing scan, and size the
        store."""
        other = (self.store_endpoints(self.final_store) if workload == "backfill"
                 else self.timeseries_endpoints(self.final_src))
        self.refresh(other, probe=True)
        for name, _ in other:
            del self.samples[f"read:{name}"]
        self.refresh(other, probe=True)
        parse = []
        for _ in range(3):
            t = time.perf_counter()
            (self.normalize_events(self.read_events(self.spark, self.final_src))
             .groupBy("experiment_id").count().collect())
            parse.append(time.perf_counter() - t)
        self.layer["sources.props_parse_s"] = statistics.median(parse)
        files, size = dir_size(self.final_store)
        self.layer["pipeline.store_files"] = files
        self.layer["pipeline.store_bytes"] = size

    def end_to_end(self) -> dict:
        s = self.samples
        return {
            "setup_s": self.setup_s,
            "ingest_events_per_s": statistics.median(s["ingest_rate"]),
            "freshness_p50_s": statistics.median(s["freshness"]),
            "freshness_p90_s": p90(s["freshness"]),
            "refresh_p50_s": statistics.median(s["refresh"]),
        }

    def per_layer(self) -> dict:
        s, out = self.samples, dict(self.layer)
        for name in (
            "sources.latest_offset_ms", "sources.get_batch_ms", "sources.rows_per_batch",
            "pipeline.sink_call_s", "pipeline.trigger_ms", "pipeline.add_batch_ms",
            "pipeline.query_planning_ms", "pipeline.wal_commit_ms",
            "pipeline.commit_offsets_ms", "pipeline.batch_overhead_ms",
            "pipeline.queue_wait_s", "spark.jobs_per_batch", "spark.tasks_per_batch",
        ):
            out[name] = statistics.median(s[name])
        out["sources.files_per_batch"] = statistics.median(s["files_per_batch"])
        out["pipeline.backlog_files_end"] = max(s["pipeline.backlog_files_end"])
        for f in self.store_reads:
            out[f"pipeline.{f.__name__}_s"] = statistics.median(s[f"read:{f.__name__}"])
        for name, _ in self.timeseries:
            out[f"timeseries.{name}_s"] = statistics.median(s[f"read:{name}"])
        jobs = [self.tracer.jobs_tasks(g) for g in s["refresh_groups"]]
        out["spark.jobs_per_refresh"] = statistics.median(j for j, _ in jobs)
        out["spark.tasks_per_refresh"] = statistics.median(t for _, t in jobs)
        out["dashboard.read_p90_s"] = p90(s["read"])
        out["gen.late_s"] = max(s["late"])
        out["pipeline.batches"] = statistics.median(s["pipeline.batches"])
        return out

    def close(self) -> None:
        for p in self.procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            if self.tracer:
                self.tracer.close()
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            # the JVM exits when its stdin closes
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "live_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # Spark hands timestamps to Python in the process time zone; the checks
    # compare them with UTC epoch seconds
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        pkg = load_package()
    except ImportError as e:
        print(f"perfbench: cannot import the package from {os.getcwd()}: {e}", file=sys.stderr)
        return 2
    # names and units of the metrics to print come from BENCHMARK.json
    with open("BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    bench = Bench(a, work, pkg)
    try:
        metrics = bench.run(a.workload)
    except Void as e:
        print(f"perfbench: void run: {e}", file=sys.stderr)
        return 3
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    for err in bench.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": not bench.wrong,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 1 if bench.wrong else 0


if __name__ == "__main__":
    sys.exit(main())
