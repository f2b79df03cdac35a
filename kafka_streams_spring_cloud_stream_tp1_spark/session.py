"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the conf below is chosen so
the same plans scale to a multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) — at 100 TB
  the static shuffle-partition count is always wrong for some stage.
- Session timezone pinned to UTC so event-time windows are deterministic
  and match the DuckDB oracle (naive-UTC timestamps on both sides).
- Arrow enabled: every Pandas-UDF hop is Arrow-batched, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the batch floor: AQE coalesces it down per stage. Streaming queries
# run with AQE off, so CountStore sizes its state to the cores instead.
DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "kafka_streams_spring_cloud_stream_tp1_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset). On a real cluster, pass ``master=None`` with the conf coming
    from spark-submit; every setting here is still valid there.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs are row-at-a-time pickled unless this is on
        # (plan node BatchEvalPythonUDTF vs ArrowEvalPythonUDTF)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # fixture parquet stores naive-UTC micros; read as session-TZ
        # TIMESTAMP (not NTZ) so time functions and oracles line up
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # streaming: RocksDB-backed state survives large keyspaces (the
        # reference materializes its window store in RocksDB too)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.shuffle.spill.compress", "true")
        # local[N] puts driver+executors in ONE JVM; the 1g default heap
        # OOMs under 32 concurrent tasks doing array-heavy work. No-op
        # when the JVM already exists (e.g. under an external driver).
        .config("spark.driver.memory", "32g")
        # ContextCleaner's default BLOCKING shuffle/broadcast cleanup
        # stalls the next job for as long as the accumulated garbage
        # takes to drop — in a many-query session the pause lands on a
        # RANDOM later query (measured: identical PageRank runs 8.8 s
        # → 17.8 s → 36.4 s blocking, 4.5 s steady non-blocking).
        # Async cleanup has no correctness cost: freed shuffle files
        # are simply deleted a moment later.
        .config("spark.cleaner.referenceTracking.blocking", "false")
        .config("spark.cleaner.referenceTracking.blocking.shuffle", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
