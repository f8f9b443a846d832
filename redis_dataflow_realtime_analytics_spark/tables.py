"""Test-table catalog: the driver's TPC-H-ish parquet star schema.

``/root/testdata/sf*/{name}.parquet`` — see TESTDATA.md. At 100 TB these
would be partitioned/clustered tables; the loaders keep plain
``spark.read.parquet`` so Catalyst's parquet source handles predicate
pushdown, column pruning and partition pruning natively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow frame across all cores when the
    scan produced fewer splits than the cluster has task slots.

    Compute-heavy per-row stages (hashing, shingling, signatures) must not
    serialize onto a handful of tasks just because the input is a single
    file; shuffling the narrow rows is cheap relative to that work, and
    the check is a pure metadata lookup (``inputFiles`` — no job), a no-op
    on well-split inputs."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed frame — nothing to infer
        n_files = target
    if n_files >= target:
        return df
    return df.repartition(target)
