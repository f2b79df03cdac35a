"""Streaming-semantics tests (SURVEY.md §5.2.3): drive the streaming
flagship topology with file-source micro-batches and assert update-mode
output, store snapshots, the interactive range fetch, and
watermark/late-data handling — the behaviors a batch oracle can't see.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from kafka_streams_spring_cloud_stream_tp1_spark.schemas import EVENTS_SCHEMA
from kafka_streams_spring_cloud_stream_tp1_spark.sources.generators import (
    page_event_batch,
    page_event_stream,
)
from kafka_streams_spring_cloud_stream_tp1_spark.streaming import CountStore
from kafka_streams_spring_cloud_stream_tp1_spark.streaming.kafka import (
    format_count_changelog,
    parse_page_events,
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


def _start_store(spark, stream_dir):
    events = spark.readStream.schema(EVENTS_SCHEMA).json(stream_dir)
    # retention disabled: these tests assert on closed windows, which
    # the production default (window + watermark) would evict;
    # test_kv_store_retention_bounds_size covers the eviction path
    return CountStore.start(
        spark, events, window="5 seconds", watermark="10 seconds", retention_seconds=None
    )


def test_windowed_counts_and_range_fetch(spark, stream_dir):
    store = _start_store(spark, stream_dir)
    try:
        # batch 1: window [0,5s) gets 2 qualifying P-views, [5,10s) gets 1;
        # a low-duration event is filtered out (F1)
        _write_batch(
            stream_dir,
            "b1",
            [
                _event(0, 1.0, "P1", 200.0),
                _event(1, 2.0, "P1", 300.0),
                _event(2, 3.0, "P1", 50.0),  # filtered: value <= 100
                _event(3, 6.0, "P2", 150.0),
            ],
        )
        store.process_all()
        snap = {
            (r["name"], r["window_start"].second): r["cnt"]
            for r in store.snapshot().collect()
        }
        assert snap == {("P1", 0): 2, ("P2", 5): 1}

        # batch 2: same P1 window gets one more view -> count UPDATES to 3
        # (KTable changelog semantics: latest value per (key, window))
        _write_batch(stream_dir, "b2", [_event(4, 4.0, "P1", 500.0)])
        store.process_all()
        snap = {
            (r["name"], r["window_start"].second): r["cnt"]
            for r in store.snapshot().collect()
        }
        assert snap == {("P1", 0): 3, ("P2", 5): 1}

        # Q1: anchor at 7s, span 5s -> windows starting in [2s, 7s]:
        # only [5,10s); latest-per-key fold gives {P2: 1}
        assert store.range_fetch(anchor=_EPOCH0 + timedelta(seconds=7)) == {"P2": 1}
    finally:
        store.stop()


def test_watermark_drops_too_late_data(spark, stream_dir):
    store = _start_store(spark, stream_dir)
    try:
        # advance stream-time to 60s => watermark 50s after this batch
        _write_batch(
            stream_dir,
            "b1",
            [_event(0, 1.0, "P1", 200.0), _event(1, 60.0, "P1", 200.0)],
        )
        store.process_all()

        _write_batch(
            stream_dir,
            "b2",
            [
                _event(2, 2.0, "P1", 200.0),   # too late: window [0,5) << watermark 50s
                _event(3, 61.0, "P1", 200.0),  # within watermark: window [60,65) updates
            ],
        )
        store.process_all()
        snap = {
            (r["name"], r["window_start"].minute, r["window_start"].second): r["cnt"]
            for r in store.snapshot().collect()
        }
        assert snap[("P1", 0, 0)] == 1, "too-late event must NOT update the closed window"
        assert snap[("P1", 1, 0)] == 2, "late-but-within-watermark event must update"
    finally:
        store.stop()


def test_kv_store_retention_bounds_size(spark, stream_dir):
    """Long-run serving-store behavior: with the default retention
    (window + watermark), windows falling behind the newest stream time
    are evicted on write — store size tracks the LIVE window set, not
    stream lifetime (the round-1 memory-sink growth defect, fixed by
    the KV backend)."""
    events = spark.readStream.schema(EVENTS_SCHEMA).json(stream_dir)
    store = CountStore.start(spark, events, window="5 seconds", watermark="10 seconds")
    try:
        # 5 batches, stream time advancing 20 s per batch -> 5 distinct
        # windows touched over a 100 s stream life
        for b in range(5):
            _write_batch(
                stream_dir,
                f"b{b}",
                [_event(b * 10 + i, b * 20.0 + i, "P1", 200.0) for i in range(3)],
            )
            store.process_all()
        snap = store.store.snapshot()
        starts = [k[1] for k in snap]
        assert starts, "store must hold the newest window"
        # every retained window starts within retention (15 s) of the newest
        assert max(starts) - min(starts) <= timedelta(seconds=15)
        # 5 windows were written over the run; only the live tail remains
        assert len(snap) < 5
        latest = {(k[0], k[1].minute, k[1].second): v for k, v in snap.items()}
        assert latest[("P1", 1, 20)] == 3  # secs 80..82 -> window [80,85) = 1m20s
    finally:
        store.stop()


def test_kv_store_snapshot_dedups_updates(spark, stream_dir):
    """Two changelog batches updating one window leave exactly one
    store entry holding the latest count: upserts replace by
    (name, window) key instead of appending a row per update."""
    store = _start_store(spark, stream_dir)
    try:
        _write_batch(stream_dir, "b1", [_event(0, 1.0, "P1", 200.0)])
        store.process_all()
        _write_batch(stream_dir, "b2", [_event(1, 2.0, "P1", 300.0)])
        store.process_all()  # same window updates: 1 -> 2
        kv = store.store.snapshot()
        assert len(kv) == 1, kv
        assert {(k[0], k[1].second): v for k, v in kv.items()} == {("P1", 0): 2}
        rows = store.snapshot().collect()
        assert len(rows) == 1 and rows[0]["cnt"] == 2
    finally:
        store.stop()


def test_count_store_state_has_one_partition_per_core(spark, stream_dir):
    """The query's state is sized to the cores, not to the session's
    batch shuffle floor, and the caller's session conf is untouched."""
    # 8 from conftest, unless an earlier test re-applied the package default
    session_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    store = _start_store(spark, stream_dir)
    try:
        _write_batch(stream_dir, "b1", [_event(0, 1.0, "P1", 200.0)])
        store.process_all()
        progress = json.loads(store.query.lastProgress.json)
        state_partitions = progress["stateOperators"][0]["numShufflePartitions"]
        assert state_partitions == spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == session_partitions
    finally:
        store.stop()


def test_rate_source_generator_shape(spark):
    stream = page_event_stream(spark, rows_per_second=5, seed=7)
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == ["name", "user", "date", "duration"]


def test_synthetic_batch_distributions(spark):
    df = page_event_batch(spark, 2000, seed=7).cache()
    names = {r["name"] for r in df.select("name").distinct().collect()}
    users = {r["user"] for r in df.select("user").distinct().collect()}
    assert names == {"P1", "P2"} and users == {"U1", "U2"}
    row = df.agg(
        F.min("duration").alias("lo"),
        F.max("duration").alias("hi"),
        F.avg("duration").alias("mean"),
    ).collect()[0]
    # duration = 10 + uniform[0, 10000) (reference PageEventHandler.java:43)
    assert 10 <= row["lo"] and row["hi"] < 10010
    assert 4000 < row["mean"] < 6000
    df.unpersist()


def test_kafka_wire_roundtrip_expressions(spark):
    """S3/K2 parse+format expressions on static wire-shaped rows —
    no broker needed; the live path is gated on kafka_available."""
    wire = spark.createDataFrame(
        [
            (
                b"P1",
                json.dumps(
                    {"name": "P1", "user": "U1", "date": "2024-01-01 00:00:01", "duration": 42}
                ).encode(),
                "2024-01-01 00:00:01",
            )
        ],
        "key binary, value binary, timestamp string",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    parsed = parse_page_events(wire)
    row = parsed.collect()[0]
    assert (row["name"], row["user"], row["duration"]) == ("P1", "U1", 42)
    assert row["kafka_key"] == "P1"

    out = format_count_changelog(
        spark.createDataFrame([("P1", 3)], "name string, cnt long")
    ).collect()[0]
    assert (out["key"], out["value"]) == ("P1", "3")


def _uf_closure(pairs):
    """Python union-find ground truth: doc -> min id in component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_stream_incremental_cc_matches_batch_closure(spark, tmp_path):
    """Daily-crawl CC as a micro-batch stream (VERDICT r09 #7a): each
    pair-discovery batch advances the versioned label table via star
    edges ∪ batch pairs; after EVERY trigger the table must equal the
    batch closure over all pairs seen so far — including the hard
    case, a batch that BRIDGES two previously separate clusters."""
    import json

    from kafka_streams_spring_cloud_stream_tp1_spark.streaming import (
        stream_incremental_dup_clusters,
    )

    src = tmp_path / "pairs_in"
    src.mkdir()
    labels_root = str(tmp_path / "labels")
    snapshots: dict[int, dict] = {}

    def sink(labels, batch_id):
        snapshots[batch_id] = {
            r["doc_id"]: r["cluster_id"] for r in labels.collect()
        }

    stream = spark.readStream.schema("doc_a long, doc_b long").json(str(src))
    q = stream_incremental_dup_clusters(stream, labels_root, sink)

    batches = [
        [(2, 1), (3, 4)],          # two clusters {1,2} {3,4}
        [(6, 5)],                  # third cluster {5,6}
        [(2, 3)],                  # BRIDGE: {1,2,3,4} must merge
        [(7, 8), (5, 7)],          # extend {5,6} through a new chain
    ]
    seen: list[tuple[int, int]] = []
    try:
        for i, pairs in enumerate(batches):
            with open(src / f"b{i}.json", "w") as f:
                for a, b in pairs:
                    f.write(json.dumps({"doc_a": a, "doc_b": b}) + "\n")
            q.processAllAvailable()
            seen += pairs
            got = snapshots[max(snapshots)]
            assert got == _uf_closure(seen), (i, got, _uf_closure(seen))
    finally:
        q.stop()


def test_stream_incremental_cc_labels_survive_restart(spark, tmp_path):
    """The label table is parquet state, not stream state: a NEW query
    (fresh checkpoint) over the same label root continues from the
    committed snapshot — doc 9 joining via a single pair to doc 2
    must land in cluster 1, which is only knowable from prior labels."""
    import json

    from kafka_streams_spring_cloud_stream_tp1_spark.streaming import (
        latest_labels,
        stream_incremental_dup_clusters,
    )

    labels_root = str(tmp_path / "labels")
    out: dict[int, dict] = {}

    def mk(run):
        src = tmp_path / f"in{run}"
        src.mkdir()
        stream = spark.readStream.schema("doc_a long, doc_b long").json(str(src))
        return src, stream_incremental_dup_clusters(
            stream, labels_root, lambda df, b: out.__setitem__(b, {
                r["doc_id"]: r["cluster_id"] for r in df.collect()
            })
        )

    src1, q1 = mk(1)
    try:
        with open(src1 / "b0.json", "w") as f:
            f.write(json.dumps({"doc_a": 2, "doc_b": 1}) + "\n")
            f.write(json.dumps({"doc_a": 3, "doc_b": 2}) + "\n")
        q1.processAllAvailable()
    finally:
        q1.stop()

    src2, q2 = mk(2)
    try:
        with open(src2 / "b0.json", "w") as f:
            f.write(json.dumps({"doc_a": 9, "doc_b": 2}) + "\n")
        q2.processAllAvailable()
    finally:
        q2.stop()

    labels, version = latest_labels(spark, labels_root)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1}, got
    assert version == 1  # one committed version per non-empty batch


def test_stream_incremental_cc_checkpoint_resumes_offsets(spark, tmp_path):
    """Durable source offsets (ADVICE r10): with checkpoint_location
    set, a RESTARTED query over the same source neither re-reads the
    consumed pair history (no spurious new label version when nothing
    arrived while down) nor skips pairs that arrived while down — the
    checkpoint and the label root survive restarts together."""
    import json

    from kafka_streams_spring_cloud_stream_tp1_spark.streaming import (
        latest_labels,
        stream_incremental_dup_clusters,
    )

    src = tmp_path / "pairs_in"
    src.mkdir()
    labels_root = str(tmp_path / "labels")
    cp = str(tmp_path / "cp")

    def run_once():
        stream = spark.readStream.schema("doc_a long, doc_b long").json(str(src))
        q = stream_incremental_dup_clusters(
            stream, labels_root, checkpoint_location=cp
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    with open(src / "b0.json", "w") as f:
        f.write(json.dumps({"doc_a": 2, "doc_b": 1}) + "\n")
    run_once()
    _, v0 = latest_labels(spark, labels_root)
    assert v0 == 0

    # restart with NOTHING new: a session-temp checkpoint would replay
    # the full history as one batch and mint a spurious version
    run_once()
    _, v1 = latest_labels(spark, labels_root)
    assert v1 == 0, "restart with no new files must not re-apply history"

    # pairs that arrived while the query was DOWN must be picked up
    with open(src / "b1.json", "w") as f:
        f.write(json.dumps({"doc_a": 9, "doc_b": 2}) + "\n")
    run_once()
    labels, v2 = latest_labels(spark, labels_root)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert v2 == 1
    assert got == {1: 1, 2: 1, 9: 1}, got
