"""Fault tolerance: a stopped streaming query restarted from its
checkpoint must (a) restore aggregation state — counts keep
accumulating in windows that existed before the stop — and (b) not
re-deliver already-committed epochs' data as duplicates (idempotent
upsert + checkpointed offsets = exactly-once effect)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from kafka_streams_spring_cloud_stream_tp1_spark.schemas import EVENTS_SCHEMA
from kafka_streams_spring_cloud_stream_tp1_spark.streaming import CountStore

_EPOCH0 = datetime(2024, 1, 1)


def _event(i, second, etype="P1", value=200.0):
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


def test_restart_from_checkpoint_restores_state(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    events = lambda: spark.readStream.schema(EVENTS_SCHEMA).json(str(src))  # noqa: E731

    run1 = CountStore.start(spark, events(), checkpoint=ckpt)
    try:
        _write_batch(str(src), "b1", [_event(0, 1.0), _event(1, 2.0)])
        run1.process_all()
        snap1 = {k[0:1] + (k[1].second,): v for k, v in run1.store.snapshot().items()}
        assert snap1 == {("P1", 0): 2}
    finally:
        run1.stop()

    # restart: a NEW, empty store (Spark state must come from the
    # checkpoint, not the KV), same checkpoint dir
    run2 = CountStore.start(spark, events(), checkpoint=ckpt)
    try:
        _write_batch(str(src), "b2", [_event(2, 3.0)])  # same [0,5s) window
        run2.process_all()
        snap2 = {k[0:1] + (k[1].second,): v for k, v in run2.store.snapshot().items()}
        # count continues from restored state: 2 (pre-stop) + 1 = 3
        assert snap2 == {("P1", 0): 3}, snap2
    finally:
        run2.stop()


def test_restart_keeps_checkpoint_partition_count(spark, tmp_path):
    """A checkpoint written with the session's partition count (8 in
    conftest, as deployments that predate per-core state wrote 32)
    restarts under CountStore with its state intact, on the count
    frozen in the checkpoint rather than one partition per core."""
    from kafka_streams_spring_cloud_stream_tp1_spark.streaming import (
        streaming_windowed_counts,
    )

    session_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    events = lambda: spark.readStream.schema(EVENTS_SCHEMA).json(str(src))  # noqa: E731

    run1 = (
        streaming_windowed_counts(events())
        .writeStream.outputMode("update")
        .foreachBatch(lambda batch, _epoch: batch.collect())
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        _write_batch(str(src), "b1", [_event(0, 1.0), _event(1, 2.0)])
        run1.processAllAvailable()
    finally:
        run1.stop()

    run2 = CountStore.start(spark, events(), checkpoint=ckpt)
    try:
        _write_batch(str(src), "b2", [_event(2, 3.0)])  # same [0,5s) window
        run2.process_all()
        snap2 = {k[0:1] + (k[1].second,): v for k, v in run2.store.snapshot().items()}
        assert snap2 == {("P1", 0): 3}, snap2
        progress = json.loads(run2.query.lastProgress.json)
        assert progress["stateOperators"][0]["numShufflePartitions"] == session_partitions
    finally:
        run2.stop()


def test_streaming_parquet_ingest_exactly_once(spark, tmp_path):
    """Streaming append to partitioned parquet: all rows land exactly
    once, directory-partitioned; a restart from the checkpoint does
    not duplicate already-committed batches."""
    from kafka_streams_spring_cloud_stream_tp1_spark.streaming.sinks import (
        start_parquet_ingest,
    )

    src, out, ckpt = tmp_path / "in", str(tmp_path / "lake"), str(tmp_path / "ck")
    src.mkdir()
    events = lambda: spark.readStream.schema(EVENTS_SCHEMA).json(str(src))  # noqa: E731

    q = start_parquet_ingest(events(), out, ckpt, partition_cols=["event_type"])
    try:
        _write_batch(str(src), "b1", [_event(0, 1.0, "P1"), _event(1, 2.0, "P2")])
        q.processAllAvailable()
    finally:
        q.stop()

    q2 = start_parquet_ingest(events(), out, ckpt, partition_cols=["event_type"])
    try:
        _write_batch(str(src), "b2", [_event(2, 3.0, "P1")])
        q2.processAllAvailable()
    finally:
        q2.stop()

    back = spark.read.parquet(out)
    assert sorted(r["event_id"] for r in back.collect()) == [0, 1, 2]
    # partition dirs exist per event_type
    import os

    assert {d for d in os.listdir(out) if d.startswith("event_type=")} == {
        "event_type=P1",
        "event_type=P2",
    }


def test_running_ewma_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState EWMA: stop the query, restart from the
    same checkpoint, feed more events — the (n, ewma) carry must
    resume from the checkpointed state, not restart from scratch
    (memory sink can't recover a checkpoint, so the changelog lands
    in a foreachBatch dict like the KV-store tests). Batch-fold
    reference: 10 -> 15 -> 27.5 across the restart."""
    from kafka_streams_spring_cloud_stream_tp1_spark.streaming import running_ewma

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    events = lambda: spark.readStream.schema(EVENTS_SCHEMA).json(str(src))  # noqa: E731
    latest: dict = {}

    def sink(batch_df, _epoch):
        for r in batch_df.collect():
            latest[r["user_id"]] = (r["n_events"], r["ewma"])

    def start():
        return (
            running_ewma(events())
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    try:
        _write_batch(str(src), "b1", [_event(0, 1.0, value=10.0), _event(1, 2.0, value=20.0)])
        q1.processAllAvailable()
        assert latest[1] == (2, 15.0)
    finally:
        q1.stop()

    q2 = start()
    try:
        _write_batch(str(src), "b2", [_event(2, 3.0, value=40.0)])
        q2.processAllAvailable()
        # state restored: 3 events total, e = 15*0.5 + 40*0.5 = 27.5;
        # a from-scratch restart would show (1, 40.0)
        assert latest[1] == (3, 27.5)
    finally:
        q2.stop()


_KILL_WRITER = r"""
import json, os, sys, time

sys.path.insert(0, sys.argv[4])  # repo root (script runs from tmp_path)
from pyspark.sql import SparkSession

src, out, ckpt = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from kafka_streams_spring_cloud_stream_tp1_spark.schemas import EVENTS_SCHEMA
from kafka_streams_spring_cloud_stream_tp1_spark.streaming.sinks import (
    start_parquet_ingest,
)

q = start_parquet_ingest(
    spark.readStream.schema(EVENTS_SCHEMA).json(src), out, ckpt
)
print("STARTED", flush=True)
# feed batches forever (atomic rename so a SIGKILL never leaves a
# half-written source file); the parent kills this process mid-trigger
i = 0
while True:
    rows = [
        {
            "event_id": i * 50 + j,
            "ts": "2024-01-01 00:00:01.000000",
            "user_id": 1,
            "event_type": "P%d" % (j % 2),
            "value": 200.0,
        }
        for j in range(50)
    ]
    tmp, dst = os.path.join(src, ".b%d.tmp" % i), os.path.join(src, "b%d.json" % i)
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, dst)
    i += 1
    time.sleep(0.15)
"""


def test_sigkill_mid_trigger_recovers_exactly_once(spark, tmp_path):
    """VERDICT r09 #6: the recovery semantics a 100 TB deployment
    relies on is UNCLEAN failure, not q.stop(). A separate driver
    process runs the parquet ingest while continuously feeding source
    batches; the test watches the checkpoint until an offsets entry
    exists with no matching commit (a trigger IN FLIGHT — the exact
    window where a naive sink duplicates on replay) and SIGKILLs the
    JVM there. Restarting from the same checkpoint in this session
    must land every source row exactly once: the file-sink metadata
    log ignores files from the uncommitted epoch's partial write and
    the replayed batch re-emits them once."""
    import os
    import signal
    import subprocess
    import sys
    import time

    src, out, ckpt = tmp_path / "in", str(tmp_path / "lake"), str(tmp_path / "ck")
    src.mkdir()
    script = tmp_path / "writer.py"
    script.write_text(_KILL_WRITER)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, str(script), str(src), out, ckpt, repo],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        cwd=repo,
        start_new_session=True,
    )
    try:
        started = False
        for _ in range(50):  # JVM banners may precede the marker
            line = proc.stdout.readline()
            if not line or line.strip() == b"STARTED":
                started = line.strip() == b"STARTED"
                break
        assert started, "writer process never reached STARTED"

        def _max_entry(sub):
            d = os.path.join(ckpt, sub)
            if not os.path.isdir(d):
                return -1
            ids = [int(f) for f in os.listdir(d) if f.isdigit()]
            return max(ids, default=-1)

        # wait for at least one COMMITTED batch so recovery has both a
        # committed prefix and an in-flight suffix to reason about
        deadline = time.time() + 120
        while _max_entry("commits") < 1 and time.time() < deadline:
            time.sleep(0.01)
        assert _max_entry("commits") >= 1, "writer never committed a batch"
        # catch a trigger between offset-write and commit, then kill -9
        caught_in_flight = False
        deadline = time.time() + 30
        while time.time() < deadline:
            if _max_entry("offsets") > _max_entry("commits"):
                caught_in_flight = True
                break
            time.sleep(0.002)
        # kill the whole process group (start_new_session=True makes
        # pgid == pid): the JVM must die WITH the python driver —
        # an orphaned JVM finishing the trigger would be a clean stop
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=30)
        assert caught_in_flight, (
            "never observed offsets ahead of commits; triggers too fast "
            "to catch — loosen the feed interval"
        )
    finally:
        if proc.poll() is None:
            proc.kill()

    # every source row the dead process had, exactly once after recovery
    import glob as _glob
    import json as _json

    expected = []
    for f in sorted(_glob.glob(f"{src}/b*.json")):
        with open(f) as fh:
            expected += [_json.loads(line)["event_id"] for line in fh]
    assert expected, "no source batches were written"

    from kafka_streams_spring_cloud_stream_tp1_spark.streaming.sinks import (
        start_parquet_ingest,
    )

    q = start_parquet_ingest(
        spark.readStream.schema(EVENTS_SCHEMA).json(str(src)), out, ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == sorted(expected), (
        f"exactly-once violated: {len(got)} rows vs {len(expected)} expected; "
        f"dupes={len(got) - len(set(got))}"
    )
