"""Date-partitioned table layout — partition pruning for time-sliced reads.

The reference's read side always fetches a small trailing time window
(default last 10 minutes — ``TimeseriesMetricsController.java:43``). At
100 TB, serving that from an unpartitioned event log means scanning every
file's footer. Hive-style date partitioning turns the time filter into
directory pruning: the scan never opens files outside the requested days
(``PartitionFilters`` in the plan — gated in tests/test_plans.py).

Complements ``functions/bucketing.py`` (co-located join layout): partition
by the dominant *filter* dimension (event date), bucket by the dominant
*join* key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.events import read_events

#: Morton codes per file of the Z-order report: 2**ZORDER_FILE_BITS.
ZORDER_FILE_BITS = 22


def write_date_partitioned_events(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """Materialize the events fixture Hive-partitioned by event date.

    At scale, also size files inside each partition (``maxRecordsPerFile``
    or periodic compaction) — many tiny files per day is the classic
    partitioned-layout failure mode.
    """
    ev = read_events(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out_dir)


def read_events_for_day(spark: SparkSession, out_dir: str, day: str) -> DataFrame:
    """Events of one calendar day from the partitioned layout. The equality
    filter on the partition column prunes directories at planning time —
    no data files outside ``day`` are opened."""
    return spark.read.parquet(out_dir).where(F.col("event_date") == F.lit(day))


# --- Z-order (Morton) clustering ---------------------------------------------
#: Bit-spreading magic masks: interleave two 16-bit keys into one 32-bit
#: Morton code with four shift-or-mask rounds per key (the standard
#: closed form — no loops, runs as six integer ops inside codegen).
_SPREAD = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def _spread16_sql(col_sql: str) -> str:
    """SQL expression spreading the low 16 bits of ``col_sql`` so a bit at
    position i lands at position 2i — identical text for Spark and DuckDB
    (literal shift amounts, & | on BIGINT)."""
    e = f"(({col_sql}) & 65535)"
    for sh, mask in _SPREAD:
        e = f"((({e} | ({e} << {sh})) & {mask}))"
    return e


def zorder_key_sql(a_sql: str, b_sql: str) -> str:
    """32-bit Morton code interleaving two 16-bit keys (``a`` in the even
    bits, ``b`` in the odd bits)."""
    return f"({_spread16_sql(a_sql)} | ({_spread16_sql(b_sql)} << 1))"


def zorder_locality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout diagnostic: interleave (minute-of-stream, user
    bucket) into a Morton code, split the code space into files of
    2^``ZORDER_FILE_BITS`` codes, and report each file's row count plus min/max
    of BOTH dimensions — the footer statistics a data-skipping reader
    would consult. Because the Morton curve keeps both dimensions short
    per file, a filter on EITHER time or user prunes most files — the
    property this report quantifies and the reason Delta/Iceberg Z-ORDER
    outperforms single-column sort layouts for two-dimensional dashboards
    like the reference's (time window × experiment drill-down).

    Pure integer bit arithmetic (six shift/mask ops per key inside
    codegen, literal shift amounts) → bit-identical in DuckDB, so the
    layout math itself is SQL-oracled, not just eyeballed.

    Output: (z_file, n_events, min_minute, max_minute, min_ub, max_ub).
    """
    ev = read_events(spark, sf_dir)
    keyed = ev.select(
        F.expr(
            "CAST(floor(unix_micros(ts) / 60000000) AS BIGINT) & 65535"
        ).alias("minute_idx"),
        (F.col("user_id") % 65536).alias("user_bucket"),
    )
    z = zorder_key_sql("minute_idx", "user_bucket")
    return (
        keyed.withColumn("z", F.expr(z))
        .groupBy(F.expr(f"z div {1 << ZORDER_FILE_BITS}").alias("z_file"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("minute_idx").alias("min_minute"),
            F.max("minute_idx").alias("max_minute"),
            F.min("user_bucket").alias("min_ub"),
            F.max("user_bucket").alias("max_ub"),
        )
    )
