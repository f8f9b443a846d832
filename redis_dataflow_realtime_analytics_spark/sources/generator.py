"""Synthetic event generator (reference operator G1,
loggen/message_generator.py).

The reference's Python generator publishes JSON events with: uid drawn from
a time-drifting window so consecutive periods share users
(message_generator.py:58-76), experiment_id ∈ 1–100, variant ∈
{default, 1, 2, 3} (message_generator.py:47,79-88), ISO-8601 second
timestamps, at a randomized trickle rate (:118-134).

This engine generates the same distribution **declaratively and
deterministically**: `spark.range` (batch) or the `rate` source
(streaming) plus pure column expressions — `xxhash64` replaces the RNG so
any executor produces identical data for a given id, making generated
fixtures reproducible across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VARIANTS = ["default", "1", "2", "3"]

#: uid-overlap model, mirroring message_generator.py:58-76: uids draw from a
#: window of UID_WINDOW ids whose base drifts every DRIFT_SECONDS.
UID_WINDOW = 1000
DRIFT_SECONDS = 600
#: First event time and event rate of the batch generator.
START = "2024-01-01 00:00:00"
EVENTS_PER_SECOND = 10


def _wire_columns(id_col: str, ts_col: str) -> list[F.Column]:
    h = lambda seed: F.xxhash64(F.lit(seed), F.col(id_col))  # noqa: E731
    drift_base = (F.unix_timestamp(F.col(ts_col)) / DRIFT_SECONDS).cast("long") * (
        UID_WINDOW // 2
    )
    uid = (drift_base + F.pmod(h("uid"), F.lit(UID_WINDOW))).cast("string")
    experiment_id = (F.pmod(h("exp"), F.lit(100)) + 1).cast("string")
    variant = F.array(*[F.lit(v) for v in VARIANTS])[
        F.pmod(h("var"), F.lit(len(VARIANTS))).cast("int")
    ]
    return [
        uid.alias("uid"),
        experiment_id.alias("experiment_id"),
        variant.alias("variant"),
        F.date_trunc("second", F.col(ts_col)).alias("timestamp"),
    ]


def generate_events(spark: SparkSession, n: int = 10_000) -> DataFrame:
    """Deterministic batch generation of n wire-schema events.

    Partition-friendly: `spark.range` splits the id space evenly; every
    column derives from the id via hashing, so generation is embarrassingly
    parallel and reproducible at any parallelism.
    """
    base = spark.range(n).withColumn(
        "ts",
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(START).cast("timestamp"))
            + (F.col("id") / EVENTS_PER_SECOND).cast("long")
        ),
    )
    return base.select(*_wire_columns("id", "ts"))


def generate_wire_json(spark: SparkSession, **kwargs) -> DataFrame:
    """The same events as JSON wire strings (column ``value``) — feed to
    ``sources.parse_wire_events`` for an end-to-end parse test."""
    ev = generate_events(spark, **kwargs)
    return ev.select(
        F.to_json(
            F.struct("uid", "experiment_id", "variant", "timestamp"),
            {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss'Z'"},
        ).alias("value")
    )


def rate_stream_events(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Unbounded streaming twin on the ``rate`` source (≙ the reference's
    Pub/Sub publisher loop, message_generator.py:118-134)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return rate.select(*_wire_columns("value", "timestamp"))
