"""Redis-protocol metrics sink — wire-compatible with the reference's
key/command catalog (SURVEY §1.3).

The reference's 12 write legs emit, per event: ``INCRBY`` on
``visitCounter_{yyyy_MM_dd'T'HH_mm}``, ``PFADD``/``SADD`` on
``evcounter_…``/``hll_*``/``set_*`` key families
(MetricsCalculationPipeline.java:60-193; key formats :198-243). This sink
reproduces those keys byte-for-byte so an existing dashboard
(TimeseriesMetricsController reading MGET/PFCOUNT/SCARD) keeps working —
but commands are emitted from **per-batch aggregates**, not per event:
one INCRBY per (minute, batch) instead of one per event, and distinct
(key, member) pairs for PFADD/SADD (idempotent, so at-least-once delivery
to Redis stays correct).

``redis-py`` is optional (import-gated). Without it, commands append to a
parquet command log — used by tests to assert exact key/command parity,
and a reasonable audit format in its own right.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - optional dependency
    import redis as _redis
except ImportError:  # pragma: no cover
    _redis = None

#: Joda ``'<p>_'yyyy_MM_dd'T'HH_mm`` → Spark datetime pattern
#: (MetricsCalculationPipeline.java:237-243, TimeSeriesKeyBuilder.java:26-32).
MINUTE_PATTERN = "yyyy_MM_dd'T'HH_mm"


def _minute_key(prefix: str) -> F.Column:
    return F.concat(F.lit(prefix + "_"), F.date_format("ts", MINUTE_PATTERN))


def metric_commands(events: DataFrame) -> DataFrame:
    """Normalized events → Redis command rows (method, key, member, delta).

    One row per command; all twelve reference legs. Aggregated/distinct
    map-side before any data leaves Spark.
    """
    cnt = (
        events.groupBy(_minute_key("visitCounter").alias("key"))
        .agg(F.count("*").alias("delta"))
        .select(F.lit("INCRBY").alias("method"), "key", F.lit(None).cast("string").alias("member"), "delta")
    )

    def pairs(method: str, key: F.Column, member: F.Column) -> DataFrame:
        return (
            events.select(key.alias("key"), member.cast("string").alias("member"))
            .distinct()
            .select(
                F.lit(method).alias("method"),
                "key",
                "member",
                F.lit(None).cast("long").alias("delta"),
            )
        )

    uid = F.col("user_id")
    legs = [
        cnt,  # W1
        pairs(  # W2: evcounter_e_{exp}_v_{var}_{minute}
            "PFADD",
            F.concat(
                F.lit("evcounter_e_"), "experiment_id", F.lit("_v_"), "variant",
                F.lit("_"), F.date_format("ts", MINUTE_PATTERN),
            ),
            uid,
        ),
        pairs("PFADD", F.concat(F.lit("hll_var_"), "variant"), uid),       # W3
        pairs("SADD", F.concat(F.lit("set_var_"), "variant"), uid),        # W4
        pairs("PFADD", F.concat(F.lit("hll_exp_"), "experiment_id"), uid), # W5
        pairs("SADD", F.concat(F.lit("set_exp_"), "experiment_id"), uid),  # W6
        pairs("PFADD", _minute_key("hll_experiments_experiments"), F.col("experiment_id")),  # W7
        pairs("SADD", _minute_key("set_experiments_experiments"), F.col("experiment_id")),   # W8
        pairs("PFADD", _minute_key("hll_variants_variants"), F.col("variant")),  # W9
        pairs("SADD", _minute_key("set_variants_variants"), F.col("variant")),   # W10
        pairs("PFADD", _minute_key("hll_dthr"), uid),   # W11
        pairs("SADD", _minute_key("set_dthr"), uid),    # W12
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


class RedisMetricsSink:
    """foreachBatch sink: ship the micro-batch's command rows to Redis
    (pipelined, per partition) or to the parquet command log fallback.

    ``client_factory`` is the client injection point: a zero-arg
    callable, executed ON THE EXECUTORS (one client per partition),
    returning an object with redis-py's ``pipeline(transaction=False)``
    surface (``incrby``/``pfadd``/``sadd``/``execute``). Production uses
    it for cluster/auth'd clients; the e2e test injects a minimal TCP
    client so the real pipelined send path runs against a live keyspace
    server without redis-py installed."""

    def __init__(
        self,
        host: str = "localhost",
        port: int = 6379,
        log_dir: str | None = None,
        client_factory=None,
    ):
        self.host, self.port, self.log_dir = host, port, log_dir
        self.client_factory = client_factory

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        cmds = metric_commands(batch_df)
        factory = self.client_factory
        if factory is None:
            if _redis is None or self.log_dir is not None:
                if self.log_dir is None:
                    raise RuntimeError(
                        "redis-py unavailable; pass log_dir for the command log"
                    )
                # a static overwrite of this batch's own leaf: a replay
                # rewrites it, other batches' leaves stay
                cmds.write.mode("overwrite").parquet(
                    f"{self.log_dir}/batch_id={batch_id}"
                )
                return
            host, port = self.host, self.port

            def factory():  # pragma: no cover - needs a redis server
                return _redis.Redis(host=host, port=port)

        def send(rows) -> None:
            client = factory()
            pipe = client.pipeline(transaction=False)
            n = 0
            for r in rows:
                if r.method == "INCRBY":
                    pipe.incrby(r.key, r.delta)
                elif r.method == "PFADD":
                    pipe.pfadd(r.key, r.member)
                else:
                    pipe.sadd(r.key, r.member)
                n += 1
                if n % 10_000 == 0:
                    pipe.execute()
            pipe.execute()

        cmds.foreachPartition(send)
