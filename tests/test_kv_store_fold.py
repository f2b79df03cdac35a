"""Property tests of the queryable count store (`DictKVStore`): the Q1
fold that `CountStore.range_fetch` serves must equal its Spark
reference `ops.latest_window_per_key` over the same rows, `snapshot()`
must round-trip every upserted key, eviction must keep exactly the
windows starting within the retention horizon of the newest one, and
readers racing the writer must only see whole upserts."""

from __future__ import annotations

import os
import sys
import threading
from datetime import datetime, timedelta

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_streams_spring_cloud_stream_tp1_spark.operators import core as ops
from kafka_streams_spring_cloud_stream_tp1_spark.streaming import CountStore, DictKVStore
from kafka_streams_spring_cloud_stream_tp1_spark.streaming.pipeline import WINDOW_SECONDS

_T0 = datetime(2024, 1, 1)
_PAGES = [f"P{i}" for i in range(6)]


def _window(k: int) -> tuple[datetime, datetime]:
    start = _T0 + timedelta(seconds=WINDOW_SECONDS * k)
    return start, start + timedelta(seconds=WINDOW_SECONDS)


# window index -> {page: count}: 1-6 tumbling windows
stores_st = st.dictionaries(
    st.integers(0, 11),
    st.dictionaries(st.sampled_from(_PAGES), st.integers(1, 50), min_size=1),
    min_size=1,
    max_size=6,
)
# anchors in ms after _T0: window starts (anchor on a start, and with a
# 5 s span anchor − span on a start too) or anywhere around the windows
anchors_st = st.one_of(
    st.sampled_from(range(-10_000, 70_001, WINDOW_SECONDS * 1000)),
    st.integers(-10_000, 70_000),
)


def _rows(windows: dict[int, dict[str, int]]) -> list[tuple]:
    return [((name, *_window(k)), cnt) for k, pages in windows.items() for name, cnt in pages.items()]


@given(windows=stores_st, anchor_ms=anchors_st, span_s=st.sampled_from([WINDOW_SECONDS, 10]))
@example(windows={}, anchor_ms=5_000, span_s=WINDOW_SECONDS)  # empty store
@example(windows={1: {"P1": 3}, 3: {"P1": 9}}, anchor_ms=5_000, span_s=WINDOW_SECONDS)  # anchor == start
# anchor − span == start, that window holding a page the later one
# lacks; upserted newest first, so the newer window wins by start
# order, not by insertion order
@example(windows={2: {"P1": 4}, 1: {"P1": 3, "P3": 2}}, anchor_ms=10_000, span_s=WINDOW_SECONDS)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_range_fetch_fold_matches_latest_window_per_key(spark, windows, anchor_ms, span_s):
    """Q1's own span (the window) through `CountStore.range_fetch`;
    a wider span through the store's `latest` that it reads."""
    kv = DictKVStore()
    rows = _rows(windows)
    kv.upsert(rows, 0)
    anchor = _T0 + timedelta(milliseconds=anchor_ms)
    if span_s == WINDOW_SECONDS:
        got = CountStore(spark=spark, query=None, store=kv).range_fetch(anchor=anchor)
    else:
        got = kv.latest(anchor - timedelta(seconds=span_s), anchor)

    df = spark.createDataFrame(
        [(name, start, cnt) for (name, start, _), cnt in rows],
        "name string, window_start timestamp, cnt long",
    )
    ref = ops.latest_window_per_key(df, anchor_ts=F.lit(anchor), span=f"{span_s} seconds").collect()
    assert got == {r["name"]: r["cnt"] for r in ref}
    assert kv.snapshot() == dict(rows)


# a stream of changelog batches: ((page, window index), count) rows
batches_st = st.lists(
    st.lists(st.tuples(st.tuples(st.sampled_from(_PAGES), st.integers(0, 11)), st.integers(1, 50)), max_size=8),
    min_size=1,
    max_size=6,
)


@given(batches=batches_st, retention=st.sampled_from([None, 0, 5, 10, 15]))
@settings(max_examples=50, deadline=None)
def test_upsert_snapshot_and_eviction_follow_flat_store(batches, retention):
    """After every upsert the store equals a flat (name, start, end)
    dict that keeps the last count per key and drops the windows
    starting before newest start − retention."""
    kv = DictKVStore(retention_seconds=retention)
    model: dict[tuple, int] = {}
    for epoch, batch in enumerate(batches):
        rows = [((name, *_window(k)), cnt) for (name, k), cnt in batch]
        kv.upsert(rows, epoch)
        model.update(rows)
        if retention is not None and model:
            horizon = max(key[1] for key in model) - timedelta(seconds=retention)
            model = {key: v for key, v in model.items() if key[1] >= horizon}
        assert kv.snapshot() == model


def test_readers_racing_the_writer_see_whole_upserts():
    """SSE handler threads read while the foreachBatch thread upserts.
    With more readers than cores and a tiny switch interval, every read
    sees whole upserts: each upsert sets every page of the newest
    window to its epoch, so a fold over all windows has one value."""
    kv = DictKVStore(retention_seconds=10)
    pages = [f"P{i}" for i in range(200)]
    lo, hi = _T0, _T0 + timedelta(days=1)
    stop, errors = threading.Event(), []

    def read() -> None:
        try:
            while not stop.is_set():
                assert len(set(kv.latest(lo, hi).values())) <= 1
                assert len({start for _, start, _ in kv.snapshot()}) <= 3  # 10 s retention
        except Exception as e:  # reported by the main thread
            errors.append(e)

    readers = [threading.Thread(target=read) for _ in range(len(os.sched_getaffinity(0)) + 2)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in readers:
            t.start()
        for epoch in range(300):
            kv.upsert([((p, *_window(epoch // 3)), epoch) for p in pages], epoch)
    finally:
        stop.set()
        for t in readers:
            t.join(10)
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in readers)
    assert not errors, errors[0]
    assert kv.latest(lo, hi) == dict.fromkeys(pages, 299)
