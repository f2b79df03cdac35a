"""Stateful streaming semantics: arbitrary per-key state across
triggers, watermark-bounded streaming dedup, stream-stream interval
joins — behaviors only observable trigger-by-trigger."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from kafka_streams_spring_cloud_stream_tp1_spark.schemas import EVENTS_SCHEMA
from kafka_streams_spring_cloud_stream_tp1_spark.streaming import (
    interval_join,
    running_page_stats,
    stream_dedup,
)

_EPOCH0 = datetime(2024, 1, 1)


def _event(i, second, etype, value):
    ts = _EPOCH0 + timedelta(seconds=second)
    return {
        "event_id": i,
        "ts": ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
        "user_id": 1,
        "event_type": etype,
        "value": value,
    }


def _write_batch(dirpath, name, rows):
    with open(f"{dirpath}/{name}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture
def stream_dir(tmp_path):
    d = tmp_path / "stream_in"
    d.mkdir()
    return str(d)


def _file_stream(spark, stream_dir):
    return spark.readStream.schema(EVENTS_SCHEMA).json(stream_dir)


def test_running_stats_state_survives_triggers(spark, stream_dir):
    """applyInPandasWithState: batch 2 must see batch 1's state —
    counts/totals accumulate per key across micro-batches."""
    out = running_page_stats(_file_stream(spark, stream_dir))
    q = out.writeStream.outputMode("update").format("memory").queryName("rps").start()
    try:
        _write_batch(
            stream_dir,
            "b1",
            [
                _event(0, 1.0, "P1", 200.0),
                _event(1, 2.0, "P1", 300.0),
                _event(2, 3.0, "P2", 150.0),
                _event(3, 4.0, "P1", 50.0),  # filtered: value <= 100
            ],
        )
        q.processAllAvailable()
        _write_batch(stream_dir, "b2", [_event(4, 5.0, "P1", 500.0)])
        q.processAllAvailable()
        rows = spark.table("rps").collect()
        # memory sink in update mode appends each trigger's rows; the
        # latest row per key is the current state. cnt is monotone, so
        # latest == max-cnt row.
        latest = {}
        for r in rows:
            if r["name"] not in latest or r["cnt"] > latest[r["name"]]["cnt"]:
                latest[r["name"]] = r
        p1, p2 = latest["P1"], latest["P2"]
        assert (p1["cnt"], p1["total"], p1["max_value"]) == (3, 1000.0, 500.0)
        assert (p2["cnt"], p2["total"], p2["max_value"]) == (1, 150.0, 150.0)
    finally:
        q.stop()


def test_stream_dedup_drops_reemitted_ids(spark, stream_dir):
    """dropDuplicatesWithinWatermark: an id re-sent in a later batch
    (within the watermark) must be delivered exactly once."""
    out = stream_dedup(_file_stream(spark, stream_dir), watermark="1 minute")
    q = out.writeStream.outputMode("append").format("memory").queryName("sdd").start()
    try:
        _write_batch(stream_dir, "b1", [_event(0, 1.0, "P1", 200.0), _event(1, 2.0, "P2", 300.0)])
        q.processAllAvailable()
        _write_batch(
            stream_dir,
            "b2",
            [_event(0, 1.0, "P1", 200.0), _event(2, 3.0, "P1", 400.0)],  # id 0 is a dup
        )
        q.processAllAvailable()
        ids = sorted(r["event_id"] for r in spark.table("sdd").collect())
        assert ids == [0, 1, 2]
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Impressions ⋈ clicks on user_id with click within [0, 10s] of
    the impression: in-window pairs match, out-of-window don't."""
    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    _write_batch(
        str(imp_dir),
        "b1",
        [_event(0, 0.0, "IMP", 1.0) | {"user_id": 7}, _event(1, 0.0, "IMP", 1.0) | {"user_id": 8}],
    )
    _write_batch(
        str(clk_dir),
        "b1",
        [
            _event(10, 4.0, "CLK", 1.0) | {"user_id": 7},   # within 10s of imp 0
            _event(11, 40.0, "CLK", 1.0) | {"user_id": 8},  # too late for imp 1
        ],
    )
    imps = spark.readStream.schema(EVENTS_SCHEMA).json(str(imp_dir)).selectExpr(
        "event_id AS imp_id", "ts AS imp_ts", "user_id"
    )
    clks = spark.readStream.schema(EVENTS_SCHEMA).json(str(clk_dir)).selectExpr(
        "event_id AS clk_id", "ts AS clk_ts", "user_id"
    )
    joined = interval_join(
        imps, clks, key="user_id", left_ts="imp_ts", right_ts="clk_ts",
        lower="0 seconds", upper="10 seconds",
    )
    q = joined.writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try:
        q.processAllAvailable()
        pairs = {(r["imp_id"], r["clk_id"]) for r in spark.table("ssj").collect()}
        assert pairs == {(0, 10)}
    finally:
        q.stop()


def test_stream_static_enrich_broadcasts_dimension(spark, stream_dir):
    """Stream-static join: each micro-batch row is enriched from the
    static dimension without watermarks or stream-side shuffle;
    unmatched stream rows survive a left join with nulls."""
    from kafka_streams_spring_cloud_stream_tp1_spark.streaming.joins import (
        stream_static_enrich,
    )

    dim = spark.createDataFrame(
        [("P1", "product"), ("P2", "landing")], "event_type string, page_kind string"
    )
    out = stream_static_enrich(
        _file_stream(spark, stream_dir).select("event_id", "event_type", "value"),
        dim,
        key="event_type",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        _write_batch(
            stream_dir,
            "b1",
            [
                _event(0, 1.0, "P1", 200.0),
                _event(1, 2.0, "P2", 300.0),
                _event(2, 3.0, "P9", 400.0),  # no dimension row
            ],
        )
        q.processAllAvailable()
        rows = {
            r["event_id"]: r["page_kind"]
            for r in spark.sql("SELECT * FROM enriched").collect()
        }
        assert rows == {0: "product", 1: "landing", 2: None}
    finally:
        q.stop()


def test_stream_stream_left_outer_emits_nulls_after_watermark(spark, tmp_path):
    """LEFT OUTER interval join: a matched impression emits its pair
    immediately; an unmatched one emits a null-padded row only after
    the watermark proves no click can still arrive (state eviction —
    Kafka Streams' left JoinWindows grace semantics)."""
    imp_dir, clk_dir = tmp_path / "imp2", tmp_path / "clk2"
    imp_dir.mkdir(), clk_dir.mkdir()
    _write_batch(
        str(imp_dir), "b1",
        [_event(0, 0.0, "IMP", 1.0) | {"user_id": 7},
         _event(1, 0.0, "IMP", 1.0) | {"user_id": 8}],
    )
    _write_batch(
        str(clk_dir), "b1",
        [_event(10, 4.0, "CLK", 1.0) | {"user_id": 7}],  # only imp 0 matched
    )
    imps = spark.readStream.schema(EVENTS_SCHEMA).json(str(imp_dir)).selectExpr(
        "event_id AS imp_id", "ts AS imp_ts", "user_id"
    )
    clks = spark.readStream.schema(EVENTS_SCHEMA).json(str(clk_dir)).selectExpr(
        "event_id AS clk_id", "ts AS clk_ts", "user_id"
    )
    joined = interval_join(
        imps, clks, key="user_id", left_ts="imp_ts", right_ts="clk_ts",
        lower="0 seconds", upper="10 seconds", watermark="30 seconds", how="left_outer",
    )
    q = joined.writeStream.outputMode("append").format("memory").queryName("ssjlo").start()
    try:
        q.processAllAvailable()
        got = {(r["imp_id"], r["clk_id"]) for r in spark.table("ssjlo").collect()}
        assert got == {(0, 10)}, "unmatched row must NOT emit before watermark"
        # advance both watermarks far past imp 1's join window
        _write_batch(str(imp_dir), "b2", [_event(2, 120.0, "IMP", 1.0) | {"user_id": 9}])
        _write_batch(str(clk_dir), "b2", [_event(12, 120.0, "CLK", -1.0) | {"user_id": 99}])
        q.processAllAvailable()
        q.processAllAvailable()  # extra trigger finalizes eviction-driven output
        got = {(r["imp_id"], r["clk_id"]) for r in spark.table("ssjlo").collect()}
        assert (1, None) in got, got
    finally:
        q.stop()


def test_running_ewma_matches_batch_fold(spark, stream_dir):
    """Streaming EWMA: state carries (n, ewma) across triggers, and
    fed the same rows in order the result equals the batch
    ewma_last fold — the segment-and-carry property live."""
    from kafka_streams_spring_cloud_stream_tp1_spark.streaming import running_ewma

    out = running_ewma(_file_stream(spark, stream_dir))
    q = out.writeStream.outputMode("update").format("memory").queryName("rewma").start()
    try:
        _write_batch(
            stream_dir,
            "b1",
            [_event(0, 1.0, "P1", 10.0), _event(1, 2.0, "P1", 20.0)],
        )
        q.processAllAvailable()
        _write_batch(stream_dir, "b2", [_event(2, 3.0, "P1", 40.0)])
        q.processAllAvailable()
        rows = spark.table("rewma").collect()
        latest = max(rows, key=lambda r: r["n_events"])
        # batch fold: e=10 -> 15 -> 27.5 (all three events, user_id=1)
        assert latest["n_events"] == 3
        assert latest["ewma"] == 27.5
    finally:
        q.stop()

