"""Test-table catalog: the driver's TPC-H-ish parquet star schema, and
the one owner of every directory the engine writes besides its inputs.

``/root/testdata/sf*/{name}.parquet`` — see TESTDATA.md. At 100 TB these
would be partitioned/clustered tables; the loaders keep plain
``spark.read.parquet`` so Catalyst's parquet source handles predicate
pushdown, column pruning and partition pruning natively.

Written directories follow two rules. A content-keyed artifact (a replay
directory, a trained model, an index, a finished checkpoint) is built
once per source version and shape by :func:`materialized` and kept under
:data:`ARTIFACTS` while its source exists. Per-call scratch (a
``foreachBatch`` sink's output and its query checkpoint) lives in a
fresh dir under :data:`SCRATCH` that :func:`pinned` /
:func:`foreach_batch` remove on return and on failure.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
from contextlib import contextmanager, suppress
from functools import partial

from pyspark.sql import DataFrame, SparkSession


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


#: content-keyed artifacts: each published name is a symlink to its build dir
ARTIFACTS = os.path.join(tempfile.gettempdir(), "redis_dataflow_artifacts")
#: per-call scratch dirs; empty while no call runs
SCRATCH = os.path.join(tempfile.gettempdir(), "redis_dataflow_scratch")

#: (name, source path, source st_mtime_ns, params) -> published artifact path
_ARTIFACTS: dict[tuple, str] = {}


@contextmanager
def scratch():
    """A fresh private dir under :data:`SCRATCH`, removed when the block
    exits — also when it raises."""
    os.makedirs(SCRATCH, exist_ok=True)
    d = tempfile.mkdtemp(dir=SCRATCH)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def materialized(name: str, src: str, params: tuple, build) -> str:
    """Build the directory ``<ARTIFACTS>/<name>_<tag>`` once per
    (``name``, ``src``, ``src``'s ns mtime, ``params``) and return its
    path.

    ``build(out)`` writes into ``out``, a fresh private dir next to the
    published name; one ``os.symlink`` then publishes it. A dir at the
    published path is therefore always complete: a build that raises
    leaves nothing there and the next call builds again, and no rebuild
    ever deletes a dir another process is still building (the loser of
    a concurrent publish keeps the winner's). The built files never
    move, so absolute paths Spark records inside an artifact stay valid
    (a transformWithState checkpoint stores its state-schema file's
    path). ``params`` must carry every constant that shapes the files —
    a retune must never be served a dir built under the old shape — and
    the ns mtime makes an in-place rewrite of ``src`` a new version.
    Published dirs are kept while their source exists, so later calls,
    bench reps and later processes reuse one build per source version
    and shape. Each records its source as the symlink ``<out>.src``;
    every build first removes the artifacts whose ``.src`` dangles."""
    src = os.path.abspath(src)
    key = (name, src, os.stat(src).st_mtime_ns, params)
    if key not in _ARTIFACTS:
        tag = hashlib.md5(repr(key).encode()).hexdigest()[:16]
        out = os.path.join(ARTIFACTS, f"{name}_{tag}")
        if not os.path.isdir(out):
            os.makedirs(ARTIFACTS, exist_ok=True)
            _remove_orphans()
            built = tempfile.mkdtemp(prefix=f"{name}_{tag}.", dir=ARTIFACTS)
            try:
                build(built)
            except BaseException:
                shutil.rmtree(built, ignore_errors=True)
                raise
            try:
                os.symlink(built, out)
            except FileExistsError:  # a concurrent build published first
                shutil.rmtree(built)
            with suppress(FileExistsError):
                os.symlink(src, f"{out}.src")
        _ARTIFACTS[key] = out
    return _ARTIFACTS[key]


def _remove_orphans() -> None:
    """Remove every published artifact whose source is gone — its
    ``.src`` link dangles: the published link first, so no caller
    resolves a half-removed dir, then its build dirs (``<out>.<rand>``),
    and the ``.src`` link last, so an interrupted removal is retried."""
    for link in glob.glob(os.path.join(ARTIFACTS, "*.src")):
        if os.path.exists(link):
            continue
        out = link[: -len(".src")]
        with suppress(FileNotFoundError):  # a concurrent build removed it
            os.remove(out)
        for built in glob.glob(f"{glob.escape(out)}.*"):
            if built != link:
                shutil.rmtree(built, ignore_errors=True)
        with suppress(FileNotFoundError):
            os.remove(link)


def persisted(
    spark: SparkSession, name: str, src: str, params: tuple, frame
) -> DataFrame:
    """Build once, read many: the frame ``frame()`` returns, written as
    a parquet :func:`materialized` artifact keyed on ``src`` + ``params``
    — recomputed only when the source version or the artifact's shape
    changes."""
    return spark.read.parquet(
        materialized(
            name, src, params, lambda out: frame().write.mode("overwrite").parquet(out)
        )
    )


def pinned(run) -> DataFrame:
    """Call ``run(d)`` with a fresh :func:`scratch` dir ``d`` and return
    the frame it returns pinned by an eager ``localCheckpoint``, so the
    dir can be removed; it is removed also when ``run`` raises."""
    with scratch() as d:
        return run(d).localCheckpoint(eager=True)


def foreach_batch(stream: DataFrame, sink, read) -> DataFrame:
    """Run ``stream`` to its end (``availableNow``) through
    ``foreachBatch`` calling ``sink(out, batch_df, batch_id)``, and
    return ``read(out)`` :func:`pinned`.

    ``out`` is a not-yet-existing path in the call's scratch dir, which
    also holds the query checkpoint; a sink that keeps more than one
    output names the others ``f"{out}_<name>"``."""

    def run(d: str) -> DataFrame:
        out = os.path.join(d, "out")
        (
            stream.writeStream.foreachBatch(partial(sink, out))
            .option("checkpointLocation", os.path.join(d, "checkpoint"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return read(out)

    return pinned(run)
