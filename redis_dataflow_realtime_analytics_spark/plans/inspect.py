"""Physical-plan introspection helpers.

The engine's performance contract is enforced in tests (tests/test_plans.py)
with these: filters must reach the parquet scan (``PushedFilters``), scans
must prune columns (``ReadSchema``), dimension joins must broadcast, and
aggregations must not introduce more shuffles than their grain requires.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    """The ``df.explain("formatted")`` text as a string (explain() only prints)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def has_broadcast_join(df: DataFrame) -> bool:
    p = plan_string(df)
    return "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded).

    Counts the formatted-explain detail headers ``(N) Exchange`` — in
    formatted mode the partitioning arguments sit on a separate
    ``Arguments:`` line, so matching ``Exchange hashpartitioning`` (the
    simple-mode spelling) silently finds nothing."""
    p = plan_string(df)
    return len(re.findall(r"^\(\d+\) Exchange\b", p, re.MULTILINE))


def pushed_filters(df: DataFrame) -> str:
    p = plan_string(df)
    return "\n".join(line.strip() for line in p.splitlines() if "PushedFilters" in line)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names appearing in scan ReadSchema entries."""
    p = plan_string(df)
    cols: list[str] = []
    for line in p.splitlines():
        if "ReadSchema" in line:
            cols += re.findall(r"(\w+):", line.split("ReadSchema", 1)[1])
    return cols
