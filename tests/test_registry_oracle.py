"""Differential test: every oracle-gated registry query matches DuckDB.

This mirrors the driver's t2 gate (sf0.01) but runs at sf0.001 for speed;
the full-size check is the driver's job.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from redis_dataflow_realtime_analytics_spark import registry, tables  # noqa: E402

from .conftest import SF_SMOKE
from .oracle import compare


def _scratch_entries() -> set[str]:
    """What the per-call scratch root holds; every key must leave it as
    it found it."""
    return set(os.listdir(tables.SCRATCH)) if os.path.isdir(tables.SCRATCH) else set()


@pytest.mark.parametrize("name", sorted(registry.ORACLE))
def test_query_matches_oracle(spark, name):
    """The key matches its DuckDB oracle, and emits only scalar,
    pandas-hashable columns.

    The driver's correctness gate canonicalizes results with pandas
    ``sort_values``/``factorize``, which raises ``TypeError: unhashable
    type`` on list/bytearray cells. This failure class has occurred three
    times (r1 ``w4_user_sets_per_variant`` array; r3
    ``multimodal_decode_features`` array<double> and ``multimodal_resize``
    binary) — this guard ends it: project arrays to scalars (or
    ``array_join``) and binaries to ``hex()`` at the registration layer.
    The schema is read from the frame the comparison runs anyway.
    """
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    scratch = _scratch_entries()
    df = registry.QUERIES[name](spark, SF_SMOKE)
    offenders = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, BinaryType, MapType, StructType))
    ]
    assert not offenders, f"driver-unhashable output columns: {offenders}"
    compare(df, registry.ORACLE[name], SF_SMOKE)
    assert _scratch_entries() == scratch, "the key left per-call scratch dirs"


@pytest.mark.parametrize("name", sorted(set(registry.QUERIES) - set(registry.ORACLE)))
def test_unoracled_query_runs(spark, name):
    scratch = _scratch_entries()
    df = registry.QUERIES[name](spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
    assert _scratch_entries() == scratch, "the key left per-call scratch dirs"


def test_priority_window_covers_every_unchecked_oracled_key():
    """The driver checks a bounded prefix (50 keys) of queries() in
    insertion order. Round-3 policy: every SQL-oracled key that has never
    had a green driver row (rounds 1-2 checked 63 keys, recorded in
    CORRECTNESS_r01/r02.json) must sit inside the window so that after r3
    the whole oracled catalog has external evidence; the window's tail may
    hold curated rows-only keys (they get the driver's weaker rows check).
    Behind the priority block, oracled keys still precede rows-only ones.
    """
    import json
    import pathlib

    keys = list(registry.QUERIES)
    n = len(registry._PRIORITY)
    window = set(keys[:n])
    assert n <= 50, "priority block exceeds the driver's 50-key budget"

    root = pathlib.Path(__file__).resolve().parent.parent
    # Pinned to the COMMITTED round artifacts (not a glob): an untracked
    # CORRECTNESS_r*.json in the working tree must not flip this test's
    # outcome for the same commit. Extend the list when a round's file is
    # committed alongside the window rotation that consumes it.
    green_rounds = [
        "CORRECTNESS_r01.json",
        "CORRECTNESS_r02.json",
        "CORRECTNESS_r03.json",
        # r4 greened the ~45 keys its window rotated in; the r5 window
        # (committed with this line) consumes that record — its slots go
        # to the never-green overflow queue + changed-pairing re-checks.
        "CORRECTNESS_r04.json",
        # r5 cleared the overflow queue (46/50 green; the 4 red rows are
        # the oracle dtype-drift bug fixed in r6 — those keys hold r6
        # window slots). The r6 window consumes this record.
        "CORRECTNESS_r05.json",
        # r6 came back 50/50 green — the first fully-green round; every
        # oracled key now has an external green row. The r7 window
        # consumes this record: its only non-re-check slots are the four
        # r7 new/changed pairings.
        "CORRECTNESS_r06.json",
        # r7 also 50/50 green (stamping the 16 r7-new/changed pairings).
        # The r8 window consumes this record: its 9 non-re-check slots
        # are the r8 new/changed pairings, and the rest is the entire
        # pre-r3 stale pool (see COVERAGE.md rotation log).
        "CORRECTNESS_r07.json",
        # r8 also 50/50 green (stamping the 5 r8-new keys + the whole
        # r1/r2 tier). The r9 window consumes this record: its only
        # never-green slot is kmeans_float_portable_iterations (new in
        # r9); the other 49 slots re-check the r3/r4 stale tiers.
        "CORRECTNESS_r08.json",
        # r9 also 50/50 green (stamping the 5 r9 new/changed pairings +
        # the whole r3 tier + 13 r4-tier keys). The r10 window consumes
        # this record: its only never-green slot is
        # stream_stateful_uniques_bootstrap (new in r10); the other 49
        # slots re-check the r4/r5 stale tiers and the r10 refactor- or
        # oracle-touched streaming keys.
        "CORRECTNESS_r09.json",
    ]
    green: set[str] = set()
    for fname in green_rounds:
        f = root / fname
        assert f.exists(), f"pinned round artifact missing: {fname}"
        rec = json.loads(f.read_text())
        green |= {k for k, v in rec.items() if v.get("hash_match")}
    never_green = [k for k in registry.ORACLE if k not in green]
    missing = [k for k in never_green if k not in window]
    # The driver checks at most 50 keys per round. When the never-green
    # set itself exceeds 50 (late-r4: 51 after stream_ivf_assign), some
    # keys must queue for the next round — but ONLY then, and only while no
    # window slot is wasted on an ever-green key. Overflow keys still sit
    # directly behind the window (oracled-before-rows-only ordering below),
    # so they are first in line for the r5 rotation.
    if missing:
        wasted = [k for k in window if k in green]
        assert not wasted, (
            f"never-green keys {missing} overflow the 50-key window while "
            f"ever-green keys {wasted} hold slots"
        )
        assert len(never_green) > 50, (
            f"oracled keys with no green driver row outside a non-full "
            f"window: {missing}"
        )

    rest = keys[n:]
    tail_start = min(
        (i for i, k in enumerate(rest) if k not in registry.ORACLE), default=len(rest)
    )
    assert all(k not in registry.ORACLE for k in rest[tail_start:]), (
        "SQL-oracled key ordered after a rows-only key behind the priority block"
    )


def test_every_registry_key_documented_in_coverage():
    """COVERAGE.md's appendix must list every registry key (the judge-facing
    inventory); regenerate the appendix when adding queries."""
    from pathlib import Path

    cov = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    missing = [k for k in registry.QUERIES if f"`{k}`" not in cov and k not in cov]
    assert not missing, f"keys missing from COVERAGE.md: {missing}"


def test_readme_catalog_counts_in_sync():
    """README advertises the catalog size in two places; both must match
    the live registry (every session that adds keys must bump them —
    this pins the habit)."""
    import re
    from pathlib import Path

    md = (Path(__file__).resolve().parents[1] / "README.md").read_text()
    m1 = re.search(r"query catalog: (\d+) queries, (\d+) with DuckDB oracle", md)
    m2 = re.search(r"(\d+) of (\d+) pair with ANSI-SQL", md)
    assert m1 and m2, "README catalog count lines missing"
    n_q, n_o = len(registry.QUERIES), len(registry.ORACLE)
    assert (int(m1.group(1)), int(m1.group(2))) == (n_q, n_o), m1.group(0)
    assert (int(m2.group(1)), int(m2.group(2))) == (n_o, n_q), m2.group(0)


def test_varchar_decimal_idiom_matches_spark_cast(spark):
    """The r5 determinism foundation: DuckDB's varchar-routed decimal
    conversions must reproduce Spark's double->decimal(38,12)->double
    cast BIT-EXACTLY (Spark casts via Double.toString + digit HALF_UP;
    DuckDB's direct casts round through scaled-double/hugeint arithmetic
    and drift — see functions/numeric.py). Checked over deterministic
    pseudo-random doubles spanning the magnitudes the operators emit."""
    import duckdb
    from pyspark.sql import functions as F

    from redis_dataflow_realtime_analytics_spark.functions.numeric import (
        oracle_dquant,
    )

    # deterministic value grid: ln/clnc/logp-like magnitudes, both signs
    vals = []
    for i in range(1, 4001):
        x = ((i * 2654435761) % 2**31) / 2**31  # Weyl-ish uniform in (0,1)
        vals.append((x - 0.5) * 2 * (10.0 ** (i % 4)))  # |x| up to 1e3
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got = [
        r[0]
        for r in df.orderBy("i")
        .select(F.col("x").cast("decimal(38,12)").cast("double"))
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?)", list(enumerate(vals)))
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {oracle_dquant('x')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got == want
