"""Per-layer tracing owned by the benchmark, used only with ``--trace 1``.

Nothing here reaches into the package: per-batch phases come from a
``StreamingQueryListener``, job and task counts from Spark's status tracker
(one job group per dashboard refresh; a streaming query already runs its jobs
under its run id), and GC time from the Spark JVM's
``GarbageCollectorMXBean``s read through py4j.
"""

from __future__ import annotations

import time
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Keeps the progress of every batch that ran (idle triggers skipped)."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ms = dict(p.durationMs)
        if "addBatch" in ms:
            self.batches.append(
                {
                    "run": str(p.runId),
                    "batch": p.batchId,
                    "start": _epoch(p.timestamp),
                    "rows": p.numInputRows,
                    "ms": ms,
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.progress = ProgressLog()
        spark.streams.addListener(self.progress)

    def close(self) -> None:
        self.spark.streams.removeListener(self.progress)

    def wait_batches(self, run_id: str, n: int, timeout: float = 10.0) -> list[dict]:
        """Progress events arrive asynchronously; wait until ``n`` batches of
        the run have reported."""
        deadline = time.time() + timeout
        while True:
            got = [b for b in self.progress.batches if b["run"] == run_id]
            if len(got) >= n or time.time() > deadline:
                return got
            time.sleep(0.05)

    def gc_ms(self) -> int:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def set_group(self, group: str | None) -> None:
        """Tag the calling thread's next jobs (``None`` clears the tag)."""
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def jobs_tasks(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks
