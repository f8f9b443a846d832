#!/usr/bin/env python3
"""Measure where a streaming replay's fixed cost goes (guide §1): run one
availableNow replay of the W1 windowed count and print the per-batch
durationMs breakdown from the StreamingQuery progress events, plus the
wall-clock split around the query (start-up, run, detach).

    python scripts/profile_replay.py <events_path>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from redis_dataflow_realtime_analytics_spark.session import get_spark
from redis_dataflow_realtime_analytics_spark.sources.events import (
    normalize_events,
    read_events_stream,
)
from redis_dataflow_realtime_analytics_spark.streaming.pipeline import (
    _detach_memory_sink,
    _state_partitions,
)


def main() -> None:
    ap = argparse.ArgumentParser(description="Per-batch cost of one W1 availableNow replay.")
    ap.add_argument("events", help="events parquet to replay, e.g. an sf0.1 fixture's")
    events = ap.parse_args().events
    spark = get_spark(app_name="profile-replay")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for rep in range(3):
        t0 = time.perf_counter()
        ev = normalize_events(read_events_stream(spark, events, 1))
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.count("*").alias("visits"))
            .select(F.col("w.start").alias("minute"), "visits")
        )
        t_build = time.perf_counter()
        with _state_partitions(spark):
            name = f"prof_{uuid.uuid4().hex}"
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            t_start = time.perf_counter()
            q.awaitTermination()
            t_done = time.perf_counter()
            progress = [json.loads(str(p)) for p in q.recentProgress]
        out = _detach_memory_sink(spark, name)
        out.write.mode("overwrite").format("noop").save()
        t_end = time.perf_counter()
        print(f"--- rep {rep}: total={t_end-t0:.3f}s build={t_build-t0:.3f} "
              f"start()={t_start-t_build:.3f} run={t_done-t_start:.3f} "
              f"detach+noop={t_end-t_done:.3f}")
        for p in progress:
            dm = p.get("durationMs", {})
            print("   batch", p.get("batchId"), "rows", p.get("numInputRows"),
                  json.dumps(dm, separators=(",", ":")))
            for s in p.get("stateOperators", []):
                print("     state:", json.dumps({k: s[k] for k in (
                    "operatorName", "commitTimeMs", "numStateStoreInstances")
                    if k in s}, separators=(",", ":")))


if __name__ == "__main__":
    main()
