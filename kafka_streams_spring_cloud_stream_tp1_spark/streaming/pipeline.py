"""The streaming flagship topology and the queryable count-store.

Reproduces the reference's full streaming loop (reference:
hanndlers/PageEventHandler.java:49-60 +
controllers/PageEventController.java:42-58):

    source -> filter(duration>100) -> re-key(name) -> [shuffle]
    -> 5s tumbling window count  => "count-store" (queryable)
    -> changelog stream (update mode, per micro-batch) => sink

Semantic mappings (SURVEY.md §4.2):
- KTable changelog + commit.interval.ms=1000  ==  outputMode("update")
  with micro-batches run back to back (no trigger interval) — emits
  changed aggregates per trigger, not one row per event, well inside
  the reference's 1 s commit cadence.
- RocksDB window store "count-store"  ==  the streaming state store
  (RocksDB provider configured in session.py) PLUS a `DictKVStore`
  (sinks.py) that the changelog upserts into via foreachBatch as the
  *queryable* projection; the interactive range-fetch (Q1) is an
  in-process read of that store, with no Spark job per snapshot — same
  writer-thread vs. reader-thread split as the reference's store.
- The reference's accidental 24h grace (deprecated TimeWindows.of) is
  replaced by an explicit watermark — a documented divergence; state
  must be evictable or a 100TB stream never compacts.

The topology is fixed here, as the reference fixes it in its handler:
one 5 s window and one 10 s watermark, from which the store retention
and Q1's span follow.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators import core as ops
from .sinks import DictKVStore

WINDOW_SECONDS = 5
WATERMARK_SECONDS = 10
# Kafka Streams' minimum window-store retention: window size + grace
RETENTION_SECONDS = WINDOW_SECONDS + WATERMARK_SECONDS

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_CHANGELOG_CHECKPOINTING = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
_CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FILE_SYSTEM_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def streaming_windowed_counts(events: DataFrame) -> DataFrame:
    """Bind the batch flagship builders to a streaming DataFrame of
    ``EVENTS_SCHEMA`` rows.

    Identical logic to the batch `windowed_page_counts` with a
    watermark prepended — the watermark bounds late data (reference
    default grace is 24 h, see module docstring) and lets Spark evict
    window state; without it, update-mode agg state grows forever.
    """
    withw = events.withWatermark("ts", f"{WATERMARK_SECONDS} seconds")
    counts = ops.windowed_page_counts(withw, window=f"{WINDOW_SECONDS} seconds")
    return ops.unwrap_windowed_key(counts, keep_bounds=True)


def count_store_query_conf(spark: SparkSession, checkpoint: str | None) -> dict[str, str]:
    """The settings CountStore's query starts with, on top of the
    session's own.

    - One state partition per core: AQE is off in streaming queries, so
      nothing coalesces the session's batch shuffle floor.
    - RocksDB changelog checkpointing: a commit writes one
      ``N.changelog`` per partition instead of zipping a snapshot.
    - On a local checkpoint, the FileSystem checkpoint manager: without
      native Hadoop IO, the default FileContext manager forks a
      ``readlink`` per existence check. Both managers check, then
      rename on the local file system. Every other scheme keeps
      Spark's default: on HDFS, FileContext's overwrite-rename is
      atomic where the FileSystem manager's is not.

    ``checkpoint=None`` resolves like Spark does: under the session's
    ``spark.sql.streaming.checkpointLocation`` if set, else a temporary
    directory; a path without a scheme is on ``fs.defaultFS``.
    """
    conf = {
        _SHUFFLE_PARTITIONS: str(spark.sparkContext.defaultParallelism),
        _CHANGELOG_CHECKPOINTING: "true",
    }
    location = checkpoint or spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    hadoop_fs = spark._jvm.org.apache.hadoop.fs
    scheme = location and hadoop_fs.Path(location).toUri().getScheme()
    if not scheme:
        hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = hadoop_fs.FileSystem.getDefaultUri(hadoop_conf).getScheme()
    if scheme == "file":
        conf[_CHECKPOINT_FILE_MANAGER] = _FILE_SYSTEM_MANAGER
    return conf


@dataclass
class CountStore:
    """The queryable window store (reference: RocksDB `count-store` +
    InteractiveQueryService, single-instance serving assumption —
    SURVEY.md §4.2).

    It counts the reference's fixed topology over ``EVENTS_SCHEMA``
    rows (``streaming_windowed_counts``): ``value > 100``, keyed by
    ``event_type``, in 5 s tumbling windows of ``ts``.

    The changelog upserts into a `DictKVStore` via foreachBatch — the
    in-process stand-in for an external KV (Redis/Cassandra). Store size
    is BOUNDED: upserts are idempotent by (name, window_start,
    window_end) key and windows older than ``RETENTION_SECONDS``
    (window + watermark, the Kafka Streams windowSize+grace retention
    rule) are evicted on write. A long-running stream holds only the
    live window set.

    The query starts with ``count_store_query_conf``: one state
    partition per core (``defaultParallelism``), not the session's
    batch shuffle floor; RocksDB changelog commits; and, on a local
    checkpoint, the FileSystem checkpoint manager. Per-trigger
    overhead, not per-row cost, sets the store's freshness. The
    caller's session conf is left as it was.

    With a ``checkpoint`` directory the query restarts from its
    committed offsets and aggregation state; since upserts are
    idempotent, an epoch replayed after recovery converges to the same
    store (exactly-once effect from at-least-once delivery). Its state
    partition count is the one frozen in that checkpoint at first start.
    """

    spark: SparkSession
    query: StreamingQuery
    store: DictKVStore

    @classmethod
    def start(cls, spark: SparkSession, events: DataFrame, checkpoint: str | None = None) -> "CountStore":
        counts = streaming_windowed_counts(events)
        store = DictKVStore(retention_seconds=RETENTION_SECONDS)

        def upsert_batch(batch: DataFrame, epoch_id: int) -> None:
            # the changelog batch holds only CHANGED (key, window) rows;
            # collect here stands in for batch.write to the KV connector
            rows = [
                ((r["name"], r["window_start"], r["window_end"]), r["cnt"])
                for r in batch.select("name", "window_start", "window_end", "cnt").collect()
            ]
            store.upsert(rows, epoch_id)

        writer = counts.writeStream.outputMode("update").foreachBatch(upsert_batch)
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        # start() copies the session conf into the query, so the
        # query's settings only need to hold around it
        session = events.sparkSession
        settings = count_store_query_conf(session, checkpoint)
        caller = {key: session.conf.get(key, None) for key in settings}
        for key, value in settings.items():
            session.conf.set(key, value)
        try:
            query = writer.start()
        finally:
            for key, value in caller.items():
                if value is None:
                    session.conf.unset(key)
                else:
                    session.conf.set(key, value)
        return cls(spark=spark, query=query, store=store)

    def process_all(self) -> None:
        """Drain everything currently available (test/demo helper)."""
        self.query.processAllAvailable()

    def snapshot(self) -> DataFrame:
        """Current store contents: (name, window_start, window_end, cnt)."""
        rows = [(k[0], k[1], k[2], v) for k, v in self.store.snapshot().items()]
        return self.spark.createDataFrame(
            rows, "name string, window_start timestamp, window_end timestamp, cnt long"
        )

    def range_fetch(self, anchor: datetime | None = None) -> dict[str, int]:
        """Q1 — the reference's 1 Hz interactive query
        (PageEventController.java:47-55): windows starting within
        [anchor - window, anchor] folded to latest-window-per-page, read
        from the store in process. ``anchor`` defaults to now()."""
        # keys are naive local time: TimestampType.fromInternal uses datetime.fromtimestamp
        anchor = anchor if anchor is not None else datetime.now()
        return self.store.latest(anchor - timedelta(seconds=WINDOW_SECONDS), anchor)

    def stop(self) -> None:
        self.query.stop()
