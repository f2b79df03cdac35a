"""Custom stateful streaming operators.

The reference's only stateful op is the library-provided windowed count
(hanndlers/PageEventHandler.java:55). Kafka Streams users routinely go
further with `groupByKey().aggregate(...)` (arbitrary per-key state)
and exactly-once dedup; these are the Spark equivalents:

- `running_page_stats` — per-key state that lives across triggers
  (`applyInPandasWithState`): the KTable-style *unwindowed* running
  aggregate. State is a single small tuple per key in the state store
  (RocksDB at scale, session.py), updated from Arrow batches; each
  trigger emits only the keys that changed — exactly the KTable
  changelog contract.
- `stream_dedup` — drop records whose id was already seen within the
  watermark (`dropDuplicatesWithinWatermark`): the streaming
  counterpart to the batch exact-dedup operator (operators/dedup.py),
  with state bounded by the watermark instead of growing forever.

Scale notes: state is partitioned by key hash across executors; the
Pandas function sees one key's rows per call, so per-key state stays
O(1) memory. Watermarks bound total state for dedup; for running
stats the keyspace (page names) is small by construction — for an
unbounded keyspace add a timeout (GroupStateTimeout) to evict idle
keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:
    import pandas as pd

RUNNING_STATS_SCHEMA = "name string, cnt long, total double, max_value double"
_STATE_SCHEMA = "cnt long, total double, max_value double"


def _update_page_stats(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    cnt, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        cnt += len(pdf)
        total += float(pdf["value"].sum())
        mx = max(mx, float(pdf["value"].max()))
    state.update((cnt, total, mx))
    yield pd.DataFrame(
        {"name": [key[0]], "cnt": [cnt], "total": [total], "max_value": [mx]}
    )


def running_page_stats(events: DataFrame, threshold: float = 100.0) -> DataFrame:
    """Unwindowed per-page running (count, total, max) — the
    `groupByKey().aggregate()` KTable analog with arbitrary state.
    Emits one updated row per changed key per trigger."""
    return (
        events.filter(F.col("value") > threshold)
        .select(F.col("event_type").alias("name"), F.col("value"))
        .groupBy("name")
        .applyInPandasWithState(
            _update_page_stats,
            outputStructType=RUNNING_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup(
    events: DataFrame, id_col: str = "event_id", ts_col: str = "ts", watermark: str = "10 seconds"
) -> DataFrame:
    """Exactly-once-per-id delivery within the watermark horizon:
    state holds one entry per id seen, evicted once the watermark
    passes — bounded state for unbounded streams (the batch exact
    dedup's streaming twin)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([id_col])


EWMA_SCHEMA = "user_id long, n_events long, ewma double"
_EWMA_STATE_SCHEMA = "n_events long, ewma double"


def _make_ewma_updater(alpha: float, order_cols: list[str]):
    def update(key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, e = state.get if state.exists else (0, None)
        for pdf in pdfs:
            for v in pdf.sort_values(order_cols)["value"]:
                v = float(v)
                e = v if e is None else e * (1.0 - alpha) + v * alpha
                n += 1
        state.update((n, e))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ewma": [e]})

    return update


def running_ewma(
    events: DataFrame, alpha: float = 0.5, order_cols: list[str] | None = None
) -> DataFrame:
    """Streaming per-user EWMA — the live twin of the batch
    `operators/timeseries.py::ewma_last`: per-key state is ONE
    (n, ewma) tuple (the sequential fold's whole carry), updated from
    Arrow batches and emitted as a changelog row per changed key per
    trigger. Rows are folded in (ts, event_id) order WITHIN each
    micro-batch and in arrival order across triggers — the streaming
    EWMA contract (a late event smooths in when it arrives, exactly
    like any online smoother); fed the same rows in order, the result
    equals the batch fold (asserted in tests). State is O(1) per key
    forever — the segment-and-carry property that makes the batch
    segmented fold work is what a GroupState carry IS."""
    return (
        events.select("user_id", *(order_cols or ["ts", "event_id"]), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_ewma_updater(alpha, order_cols or ["ts", "event_id"]),
            outputStructType=EWMA_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
