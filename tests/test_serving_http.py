"""The HTTP/SSE serving shell (V1/S1/Q1 web surface): publish ingest,
SSE analytics stream, and the index page — driven over real sockets
with urllib against an ephemeral port, backed by the live streaming
CountStore exactly as the reference's controller sits on its window
store (reference: controllers/PageEventController.java:34-58)."""

from __future__ import annotations

import json
import subprocess
import sys
import threading
import time
import urllib.request
from datetime import timedelta
from pathlib import Path

from kafka_streams_spring_cloud_stream_tp1_spark.schemas import EVENTS_SCHEMA
from kafka_streams_spring_cloud_stream_tp1_spark.serving import AnalyticsServer
from kafka_streams_spring_cloud_stream_tp1_spark.streaming import CountStore

from .test_streaming import _EPOCH0, _event, _write_batch


def test_publish_analytics_and_index(spark, tmp_path):
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    events = spark.readStream.schema(EVENTS_SCHEMA).json(str(stream_dir))
    store = CountStore.start(spark, events)

    published: list[tuple[str, str | None]] = []

    def publish(name: str, topic: str | None) -> dict:
        # S1 analog: "send to the caller-chosen topic" = append one
        # qualifying event to the stream's ingest directory
        published.append((name, topic))
        _write_batch(str(stream_dir), f"pub{len(published)}", [_event(100, 1.0, name, 500.0)])
        return {"name": name, "topic": topic, "duration": 500}

    srv = AnalyticsServer.for_store(
        store,
        anchor=_EPOCH0 + timedelta(seconds=4),  # fixed anchor: data is at 2024-01-01
        publish=publish,
        interval=0.05,
    ).start()
    try:
        # S1: publish echoes the event and lands it in the stream
        with urllib.request.urlopen(f"{srv.url}/publish?name=P7&topic=T2", timeout=10) as r:
            echoed = json.loads(r.read())
        assert echoed["name"] == "P7" and published == [("P7", "T2")]
        store.process_all()

        # Q1 over SSE: first event frame carries the windowed count
        req = urllib.request.Request(f"{srv.url}/analytics?n=2")
        with urllib.request.urlopen(req, timeout=10) as r:
            assert r.headers["Content-Type"] == "text/event-stream"
            frames = [
                json.loads(line[len(b"data: ") :])
                for line in r.read().splitlines()
                if line.startswith(b"data: ")
            ]
        assert len(frames) == 2
        assert frames[-1] == {"P7": 1}

        # V1: index page subscribes to /analytics
        with urllib.request.urlopen(f"{srv.url}/", timeout=10) as r:
            page = r.read().decode()
        assert "EventSource" in page and "/analytics" in page

        # unknown route -> 404, publish without hook -> 503
        try:
            urllib.request.urlopen(f"{srv.url}/nope", timeout=10)
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.stop()
        store.stop()


def test_publish_unconfigured_returns_503(spark):
    srv = AnalyticsServer(fetch=lambda: {}).start()
    try:
        try:
            urllib.request.urlopen(f"{srv.url}/publish?name=x", timeout=10)
            assert False, "expected 503"
        except urllib.error.HTTPError as e:
            assert e.code == 503
    finally:
        srv.stop()


def test_publish_failure_answers_500():
    """A publish hook that raises gets a 500 carrying its error, in
    the /analytics error-frame format, not a dropped connection."""

    def publish(name: str, topic: str | None) -> dict:
        raise OSError("broker unreachable")

    srv = AnalyticsServer(fetch=lambda: {}, publish=publish).start()
    try:
        try:
            urllib.request.urlopen(f"{srv.url}/publish?name=P7&topic=T2", timeout=10)
            assert False, "expected 500"
        except urllib.error.HTTPError as e:
            assert e.code == 500
            assert json.loads(e.read()) == {"error": "OSError: broker unreachable"}
    finally:
        srv.stop()

    srv = AnalyticsServer(fetch=lambda: {}, publish=lambda name, topic: {"name": name}).start()
    try:
        with urllib.request.urlopen(f"{srv.url}/publish?name=P7", timeout=10) as r:
            assert json.loads(r.read()) == {"name": "P7"}
    finally:
        srv.stop()


def _sse_body(url: str) -> list[bytes]:
    with urllib.request.urlopen(url, timeout=10) as r:
        return r.read().splitlines()


def _error_frame(lines: list[bytes]) -> dict:
    """The stream's one ``event: error`` frame, which must end it."""
    i = lines.index(b"event: error")
    assert lines[i + 1].startswith(b"data: ") and not any(lines[i + 2 :]), lines
    return json.loads(lines[i + 1][len(b"data: ") :])


def test_failing_fetch_ends_stream_with_error_frame():
    """A fetch that raises is reported as an SSE error frame, not a
    silently closed socket."""

    def fetch() -> dict:
        raise ValueError("store unreachable")

    srv = AnalyticsServer(fetch=fetch, interval=0.05).start()
    try:
        lines = _sse_body(f"{srv.url}/analytics?n=3")
    finally:
        srv.stop()
    assert lines[0] == b"event: error", lines  # no snapshot before it
    assert _error_frame(lines) == {"error": "ValueError: store unreachable"}


def test_analytics_rejects_bad_n_with_400():
    """A malformed ``?n=`` gets a 400 with a JSON error body, not a
    dropped connection; the server keeps serving afterwards."""
    srv = AnalyticsServer(fetch=lambda: {"P1": 1}, interval=0.05).start()
    try:
        for bad in ("abc", "-1", "1.5"):
            try:
                urllib.request.urlopen(f"{srv.url}/analytics?n={bad}", timeout=10)
                assert False, f"expected 400 for n={bad}"
            except urllib.error.HTTPError as e:
                assert e.code == 400
                assert json.loads(e.read())["error"] == (
                    f"n must be a non-negative integer, got {bad!r}"
                )
        assert _sse_body(f"{srv.url}/analytics?n=1") == [b'data: {"P1": 1}', b""]
    finally:
        srv.stop()


def test_stopped_query_is_reported_not_served(spark, tmp_path):
    """Once the store's query stops, /analytics reports it instead of
    serving the store's last counts as if they were live."""
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    _write_batch(str(stream_dir), "b1", [_event(0, 1.0, "P1", 500.0)])
    events = spark.readStream.schema(EVENTS_SCHEMA).json(str(stream_dir))
    store = CountStore.start(spark, events)
    srv = AnalyticsServer.for_store(store, anchor=_EPOCH0 + timedelta(seconds=1), interval=0.05).start()
    try:
        store.process_all()
        lines = _sse_body(f"{srv.url}/analytics?n=1")
        assert lines[0] == b'data: {"P1": 1}', lines
        store.stop()
        error = _error_frame(_sse_body(f"{srv.url}/analytics?n=1"))
    finally:
        srv.stop()
        store.stop()
    assert error["error"].startswith("RuntimeError: query is not active"), error


def test_stop_joins_server_and_in_flight_handlers():
    """stop() must not return while an /analytics handler can still
    call ``fetch`` (in a live server that is a Spark job against a
    query the caller stops next): the accept-loop thread is dead and
    a fetch in flight at stop() time has finished, with none after."""
    in_fetch = threading.Event()
    active, late = [], []
    stopped = False

    def fetch() -> dict:
        if stopped:
            late.append(time.monotonic())
        active.append(1)
        in_fetch.set()
        # a slow snapshot, in flight when stop() is called; longer than
        # the accept loop's 0.5 s shutdown poll, so stop() must wait
        time.sleep(1.0)
        active.pop()
        return {"P1": 1}

    srv = AnalyticsServer(fetch=fetch, interval=0.05).start()

    def client() -> None:
        try:
            with urllib.request.urlopen(f"{srv.url}/analytics", timeout=10) as r:
                r.read()
        except OSError:
            pass  # the server closing the stream is the expected end

    reader = threading.Thread(target=client, daemon=True)
    reader.start()
    try:
        assert in_fetch.wait(10), "SSE handler never called fetch"
    finally:
        srv.stop()
    stopped = True
    assert not srv._thread.is_alive()
    assert not active, "stop() returned while a fetch was still running"
    time.sleep(0.5)  # several ticks: a surviving handler would fetch again
    assert not late, "fetch was called after stop() returned"
    reader.join(10)
    assert not reader.is_alive()


def test_streaming_demo_prints_sse_snapshots():
    """examples/streaming_demo.py end to end, in its own process (it
    calls spark.stop(), which must not stop the shared test session).
    Snapshots are usually {} this early — the first trigger takes
    seconds — so only their presence is asserted."""
    repo = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, str(repo / "examples" / "streaming_demo.py"), "3"],
        cwd=repo, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert any(line.startswith("analytics: ") for line in proc.stdout.splitlines()), proc.stdout
