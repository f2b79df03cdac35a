"""foreachBatch sinks: the queryable store and the lakehouse ingest.

`CountStore` (pipeline.py) upserts the windowed-count changelog into a
key-value store via foreachBatch — every micro-batch arrives as a
normal DataFrame plus an epoch id, so any batch writer (JDBC,
Cassandra, Redis, Delta) becomes a streaming sink with exactly-once
semantics when the write is idempotent (upsert by key) and the
checkpoint tracks the epoch.

`DictKVStore` here is the in-process stand-in for that external KV —
a real deployment swaps `upsert` for the store's batch-write call;
everything else (update-mode changelog, checkpointing, recovery) is
the production wiring, exercised by tests/test_checkpoint_recovery.py.
"""

from __future__ import annotations

import threading
from datetime import timedelta

from pyspark.sql import DataFrame


class DictKVStore:
    """Thread-safe (key → value) upsert store, the external-KV stand-in.
    Keys start with (name, window_start); upserts are idempotent, so
    epoch replays after recovery converge to the same state
    (exactly-once effect from at-least-once delivery).

    ``retention_seconds`` bounds store size for long-running streams:
    after each upsert, windows starting more than the retention horizon
    behind the NEWEST window seen are evicted — the Kafka Streams
    window-store retention rule (windowSize + grace), keyed off stream
    time rather than wall clock so replays stay deterministic. None
    keeps everything (bounded tests / changelog audits)."""

    def __init__(self, retention_seconds: float | None = None) -> None:
        self._data: dict[tuple, int] = {}
        self._lock = threading.Lock()
        self._retention = retention_seconds
        self.epochs_seen: list[int] = []

    def upsert(self, rows: list[tuple], epoch_id: int) -> None:
        with self._lock:
            self.epochs_seen.append(epoch_id)
            for key, cnt in rows:
                self._data[key] = cnt
            if self._retention is not None and self._data:
                high = max(k[1] for k in self._data)
                horizon = high - timedelta(seconds=self._retention)
                for k in [k for k in self._data if k[1] < horizon]:
                    del self._data[k]

    def snapshot(self) -> dict[tuple, int]:
        with self._lock:
            return dict(self._data)


def start_parquet_ingest(
    events: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
    trigger_seconds: float | None = None,
):
    """Streaming → partitioned parquet (the lakehouse ingest pattern):
    each micro-batch appends files under ``path``, directory-
    partitioned for downstream pruning; the checkpoint makes the
    append exactly-once (a replayed epoch is skipped, not re-written).
    At scale, pair with periodic compaction — micro-batch appends
    produce one file per partition-dir per trigger."""
    writer = (
        events.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
