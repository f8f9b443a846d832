"""Event source: wire-format parsing and the normalized event stream.

Reference data model (``processor/.../pipeline/LogEvent.java:36-42``): one
streaming record ``{uid, experiment_id, variant, timestamp}``, JSON
snake_case on the wire (``ParseMessageAsLogElement.java:44-48``), malformed
messages dropped silently (``ParseMessageAsLogElement.java:37-41``).

The driver's ``events`` table stands in for the wire stream with the
dimension mapping (FIXTURES.md §1):

    uid           → user_id
    variant       → event_type
    experiment_id → get_json_object(props, '$.k')
    timestamp     → ts

Scale notes: parsing is pure ``from_json`` + null-filter — JVM-side,
whole-stage-codegen'd, no shuffle. The normalized projection selects only
needed columns so parquet column pruning applies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Wire schema of the reference's Pub/Sub JSON messages
#: (LogEvent.java:36-42; generator loggen/message_generator.py:84-88).
#: All four fields are required — the AutoValue builder throws on missing
#: fields, and the DoFn drops the message (ParseMessageAsLogElement.java:37-41).
EVENT_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.StringType()),
        T.StructField("experiment_id", T.StringType()),
        T.StructField("variant", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)

#: Schema of the driver's events.parquet fixture (FIXTURES.md §1).
EVENTS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def parse_wire_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """JSON wire string → typed event record, dropping malformed rows.

    Mirrors ``ParseMessageAsLogElement.java:35-49``: Jackson snake_case
    deserialize with drop-on-failure. ``from_json`` yields NULL on
    unparseable input, and the reference's AutoValue ``build()`` rejects any
    missing field, so we require all four fields non-null.

    Works identically on batch and streaming DataFrames.
    """
    parsed = raw.select(F.from_json(F.col(value_col), EVENT_WIRE_SCHEMA).alias("e"))
    return parsed.where(
        F.col("e").isNotNull()
        & F.col("e.uid").isNotNull()
        & F.col("e.experiment_id").isNotNull()
        & F.col("e.variant").isNotNull()
        & F.col("e.timestamp").isNotNull()
    ).select("e.*")


def parse_wire_events_with_corrupt(
    raw: DataFrame, value_col: str = "value"
) -> DataFrame:
    """Parse variant that RETAINS malformed input instead of dropping it.

    The reference logs-and-drops (throttled, ``ParseMessageAsLogElement
    .java:37-41``) — operationally that loses the bad payloads. This
    variant emits every record with the raw wire string in ``_corrupt``
    when (and only when) it failed to parse, so a dead-letter sink is a
    ``where(_corrupt IS NOT NULL)`` filter away. Same four-field
    null-rejection rule decides validity.
    """
    parsed = raw.select(
        F.col(value_col).alias("_raw"),
        F.from_json(F.col(value_col), EVENT_WIRE_SCHEMA).alias("e"),
    )
    ok = (
        F.col("e").isNotNull()
        & F.col("e.uid").isNotNull()
        & F.col("e.experiment_id").isNotNull()
        & F.col("e.variant").isNotNull()
        & F.col("e.timestamp").isNotNull()
    )
    return parsed.select(
        "e.*", F.when(~ok, F.col("_raw")).alias("_corrupt")
    )


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch scan of the events fixture.

    The fixture stores ``ts`` as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects. We read nanos as raw int64
    (``nanosAsLong``) and floor-divide to microseconds — the same
    truncation DuckDB applies when materializing its µs-precision
    TIMESTAMP, so both engines see identical values.

    Regardless of the physical encoding (nanos-as-int64, TIMESTAMP_NTZ, or
    TIMESTAMP), the returned ``ts`` is always session-zoned TIMESTAMP: the
    session timezone is UTC (see :mod:`..session`), so casting NTZ →
    TIMESTAMP is value-preserving, and every downstream consumer
    (``unix_micros``, window ``RANGE`` frames, minute bucketing) can rely
    on one type instead of special-casing per fixture variant.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts_type != "timestamp":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: Physical schema of events.parquet under ``nanosAsLong`` (ts = raw int64 nanos).
_EVENTS_PARQUET_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


#: Cache of probed physical ts-encodings, so replay harnesses that build
#: several streams over the same fixture (e.g. the stream-stream interval
#: join reads the source twice) pay the schema-probe batch read once. Keyed
#: on (path, mtime_ns) — not path alone — so a harness that rewrites the
#: same fixture path with a different ts encoding in-process invalidates
#: the entry instead of silently reusing a stale schema (rewriting a file
#: or adding files to a directory both bump mtime).
_PROBED_NANOS: dict[tuple[str, int], bool] = {}


def _probe_key(path: str) -> tuple[str, int]:
    try:
        return (path, os.stat(path).st_mtime_ns)
    except OSError:  # globs/remote URIs: fall back to path-only keying
        return (path, -1)


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """The package's one streaming parquet scan: ``path`` is a directory
    replayed in file modification-time order, ``max_files_per_trigger``
    files per micro-batch, or a single file read as a one-file stream.
    ``schema`` is required, as streaming sources do not infer one."""
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if os.path.isfile(path):
        # the streaming file source requires a directory
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming scan of events parquet (file source ≙ Pub/Sub source).

    The reference's source is ``PubsubIO.readStrings()``
    (MetricsCalculationPipeline.java:49-50) — an unbounded at-least-once
    stream. Structured Streaming's file source gives the same unbounded
    DataFrame shape; swap for ``format("kafka")`` in production.

    ``path`` may be a directory of parquet files (micro-batch per file via
    ``maxFilesPerTrigger``) or a single file. Handles both the driver's
    TIMESTAMP(NANOS) fixture (read as int64 + converted) and ordinary
    µs-timestamp parquet; the physical schema is probed with a batch read
    (streaming sources require an explicit schema).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = _probe_key(path)
    if key not in _PROBED_NANOS:
        _PROBED_NANOS[key] = dict(spark.read.parquet(path).dtypes).get("ts") == "bigint"
    nanos = _PROBED_NANOS[key]
    schema = _EVENTS_PARQUET_SCHEMA if nanos else EVENTS_TABLE_SCHEMA
    df = read_parquet_stream(spark, path, schema, max_files_per_trigger)
    if nanos:
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


def normalize_events(events: DataFrame) -> DataFrame:
    """Map the fixture's columns onto the reference's event dimensions.

    Output columns: ``event_id, ts, user_id, variant, experiment_id, value``.
    ``experiment_id`` is extracted from the JSON ``props`` column — the
    fixture's stand-in for the reference's JSON-parse stage (PARSE op,
    ParseMessageAsLogElement.java:35-49). ``get_json_object`` stays JVM-side.
    It is a per-row JSON parse, about 0.6 s per 200k rows, run in one task
    per parquet row group: a consumer that does not read ``experiment_id``
    should select its columns before any barrier that fixes the plan
    (a ``foreachBatch`` sink, a cache), so the parse is pruned.
    """
    return events.select(
        "event_id",
        "ts",
        "user_id",
        F.col("event_type").alias("variant"),
        F.get_json_object("props", "$.k").alias("experiment_id"),
        "value",
    )
