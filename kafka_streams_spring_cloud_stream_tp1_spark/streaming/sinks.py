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
Q1 reads it in process (`latest`), with no Spark job per snapshot.
"""

from __future__ import annotations

import threading
from datetime import datetime, timedelta

from pyspark.sql import DataFrame


class DictKVStore:
    """Thread-safe upsert store, the external-KV stand-in, laid out as
    (window_start, window_end) → {name: count}; upserts are idempotent,
    so epoch replays after recovery converge to the same state
    (exactly-once effect from at-least-once delivery).

    ``retention_seconds`` bounds store size for long-running streams:
    after each upsert, windows starting more than the retention horizon
    behind the NEWEST window seen are evicted — the Kafka Streams
    window-store retention rule (windowSize + grace), keyed off stream
    time rather than wall clock so replays stay deterministic. None
    keeps everything (bounded tests / changelog audits)."""

    def __init__(self, retention_seconds: float | None = None) -> None:
        self._windows: dict[tuple, dict[str, int]] = {}
        self._lock = threading.Lock()
        self._retention = retention_seconds

    def upsert(self, rows: list[tuple], epoch_id: int) -> None:
        with self._lock:
            for (name, start, end), cnt in rows:
                self._windows.setdefault((start, end), {})[name] = cnt
            if self._retention is not None and self._windows:
                horizon = max(self._windows)[0] - timedelta(seconds=self._retention)
                for w in [w for w in self._windows if w[0] < horizon]:
                    del self._windows[w]

    def snapshot(self) -> dict[tuple, int]:
        """Every key as (name, window_start, window_end) → count."""
        with self._lock:
            return {(n, s, e): c for (s, e), pages in self._windows.items() for n, c in pages.items()}

    def latest(self, lo: datetime, hi: datetime) -> dict[str, int]:
        """{name: count} over windows starting in [lo, hi], the latest start winning per name."""
        with self._lock:
            in_range = sorted(w for w in self._windows if lo <= w[0] <= hi)
            return {n: c for w in in_range for n, c in self._windows[w].items()}


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
