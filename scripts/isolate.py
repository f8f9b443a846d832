#!/usr/bin/env python3
"""Isolated per-query measurement (guide §1): run the named queries in a
fresh session, each N times into the noop sink, print min/all times, and
optionally dump .explain("formatted") to plans/<round>/<name>_<tag>.txt
(round from $SPARK_GRAFT_PLANS_ROUND, default r11).

    python scripts/isolate.py [--plans TAG] [--n 3] name [name ...]

Timing is bench.py's own loop (``bench.timed_runs``: construction + noop
write, clearCache between runs), so numbers are comparable run-for-run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed_runs, warm_up
from redis_dataflow_realtime_analytics_spark import registry
from redis_dataflow_realtime_analytics_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r11"),
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dump explain(formatted) as <name>_<TAG>.txt")
    args = ap.parse_args()

    spark = get_spark(app_name="isolate")
    warm_up(spark)

    for name in args.names:
        spark.sparkContext.setJobDescription(name)
        runs = [round(t, 3) for t in timed_runs(spark, name, SF_DIR, args.n)]
        if args.plans:
            os.makedirs(PLANS_DIR, exist_ok=True)
            df = registry.QUERIES[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(PLANS_DIR, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(plan)
        print(json.dumps({"query": name, "min": min(runs), "runs": runs}), flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
