"""The streaming workload, ``stream_ingest``.

The paper's topology: JSON files dropped into a directory ->
``streaming.CountStore`` (default KV backend, default trigger) ->
``streaming.sinks.DictKVStore``; traced runs add a probe with SSE
clients on ``serving.AnalyticsServer.for_store``. The load generator
runs as its own process (loadgen.py).
"""

from __future__ import annotations

import calendar
import json
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime

import numpy as np

from common import Engine, PeakRss, Result, Tracer, describe, median, nproc, percentile
import loadgen

RETENTION_S = 15.0  # CountStore default: 5 s window + 10 s watermark
LOADGEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py")
SNAPSHOT_LIMIT_S = 5.0  # an SSE gap beyond interval + this counts as undelivered


def window_ms(dt: datetime) -> int:
    """Store keys hold naive-UTC datetimes (the session is pinned to UTC)."""
    return calendar.timegm(dt.timetuple()) * 1000 + dt.microsecond // 1000


def store_key(key: tuple) -> tuple[int, int]:
    """(name, window_start, window_end) -> (page index, window start ms)."""
    return int(key[0][1:]) - 1, window_ms(key[1])


def freshness_samples(upserts, truth: dict[tuple[int, int], list[float]]):
    """Event -> store freshness, one sample per count made visible.

    ``upserts`` is a sequence of (visible_at, rows) with rows of
    ((page, window_ms), count); ``truth`` maps the same keys to the
    creation times of their counted events, in write order. Count ``c``
    of a key is contributed last by the key's ``c``-th event, so its
    sample is visible_at minus that event's creation time. Only the
    phase's own windows change while it runs, so a key absent from
    ``truth`` has a true count of 0: it is an event counted that must
    not be, such as one beyond the watermark. Returns (samples, keys
    whose count exceeded the truth)."""
    samples: list[float] = []
    too_high: list[tuple[int, int]] = []
    for visible_at, rows in upserts:
        for key, count in rows:
            created = truth.get(key, [])
            if not 0 < count <= len(created):
                too_high.append(key)
                continue
            samples.append(visible_at - created[count - 1])
    return samples, too_high


def check_store(res: Result, store: dict, truth_counts: dict[tuple[int, int], int], phase: str) -> None:
    """Every retained window in the store equals the truth, and every
    truth key in a retained window is in the store; one checked
    operation per key."""
    got = {store_key(k): v for k, v in store.items()}
    if not got:
        res.check(False, f"{phase}: store is empty")
        return
    horizon = max(w for _, w in got) - int(RETENTION_S * 1000)
    want = {k: v for k, v in truth_counts.items() if k[1] >= horizon}
    keys = set(got) | set(want)
    bad = [k for k in keys if got.get(k) != want.get(k)]
    res.attempted += len(keys)
    res.failed += len(bad)
    for k in bad[:5]:
        res.report.append(f"FAILED: {phase}: store {k} = {got.get(k)}, truth {want.get(k)}")


class Stream:
    """One streaming run: engine, count store, recorder, generator."""

    def __init__(self, work: str, seed: int, seconds: float, tracer: Tracer, res: Result, rss: PeakRss) -> None:
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tracer, self.res, self.rss = tracer, res, rss
        self.engine = Engine(tracer, f"local[{nproc()}]")
        self.watched = os.path.join(work, "in")
        os.makedirs(self.watched, exist_ok=True)
        self.cs = None
        self.upserts: list[tuple[float, list]] = []
        self.recording = False
        self.children: list[subprocess.Popen] = []

    # -- engine --------------------------------------------------------

    def start_query(self, spark, watched: str | None = None):
        from kafka_streams_spring_cloud_stream_tp1_spark.schemas import EVENTS_SCHEMA
        from kafka_streams_spring_cloud_stream_tp1_spark.streaming import CountStore

        events = spark.readStream.schema(EVENTS_SCHEMA).json(watched or self.watched)
        return CountStore.start(spark, events)

    def install_recorder(self, cs) -> None:
        """Instance-wrap the store's upsert: note when each changelog
        batch became visible (always; it is what freshness is made of)
        and time the call (traced runs only)."""
        store = cs.store
        upsert = store.upsert

        def recorded(rows, epoch_id):
            upsert(rows, epoch_id)
            if self.recording:
                self.upserts.append((time.time(), rows))

        store.upsert = recorded
        self.tracer.wrap(store, "upsert", "streaming.sinks.upsert")
        self.tracer.wrap(cs, "snapshot", "streaming.snapshot")
        self.tracer.wrap(cs, "range_fetch", "streaming.range_fetch")

    def setup(self) -> None:
        self.cs = self.engine.setup(self.start_query, lambda cs: cs.stop())
        self.install_recorder(self.cs)

    def progress(self) -> list[dict]:
        """The query's recent StreamingQueryProgress records, as dicts."""
        return [json.loads(p.json) for p in self.cs.query.recentProgress]

    # -- generator -----------------------------------------------------

    def loadgen(self, *args: str, timeout: float) -> None:
        cmd = [sys.executable, LOADGEN, *args, "--seed", str(self.seed)]
        proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
        self.children.append(proc)
        self.rss.exclude.add(proc.pid)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
            raise RuntimeError(f"load generator {args[0]} timed out")
        if rc != 0:
            raise RuntimeError(f"load generator {args[0]} exited with {rc}")

    def live(self, warmup: float, seconds: float, clients: int = 0, url: str = "") -> dict:
        """Run the open loop for ``warmup`` + ``seconds``; returns the
        generator's result, with ``measure_from``: the wall-clock time
        the measured part starts, and ``first_batch``: the loop's first
        trigger. Upserts are recorded during the loop.

        A marker event stamped now is processed first. The engine's
        watermark follows event time, not wall-clock time, and otherwise
        still lags behind with the previous phase's events: the loop's
        first trigger would then count events the generator made
        beyond the watermark (``BEYOND_S`` old)."""
        out = os.path.join(self.work, "live.json")
        created = time.time()
        marker = loadgen.write_marker(self.watched, created)
        self.cs.process_all()
        first_batch = max(p["batchId"] for p in self.progress() if p["numInputRows"] > 0) + 1
        start_at = time.time() + 1.0
        self.upserts.clear()
        self.recording = True
        self.loadgen(
            "live", "--dir", self.watched, "--seconds", str(warmup + seconds), "--start-at", repr(start_at),
            "--clients", str(clients), "--url", url, "--out", out,
            timeout=warmup + seconds + 60,
        )
        with self.tracer.span("streaming.process_all"):
            self.cs.process_all()
        self.recording = False
        with open(out) as f:
            result = json.load(f)
        result["truth"] = {(p, w): d for p, w, d in result["truth"]}
        result["truth"][marker] = [created]
        result["measure_from"] = start_at + warmup
        result["first_batch"] = first_batch
        return result

    def freshness(self, result: dict, phase: str) -> list[float]:
        """Freshness samples of the measured part of the live loop;
        checks the store and, one checked operation per upserted row,
        that no count ever exceeded the truth."""
        upserts = [(t, [(store_key(k), c) for k, c in rows]) for t, rows in self.upserts]
        _, too_high = freshness_samples(upserts, result["truth"])
        samples, _ = freshness_samples([u for u in upserts if u[0] >= result["measure_from"]], result["truth"])
        self.res.attempted += sum(len(rows) for _, rows in upserts)
        self.res.failed += len(too_high)
        if too_high:
            self.res.report.append(f"FAILED: {phase}: counts above truth for {len(too_high)} keys, e.g. {too_high[0]}")
        truth_counts = {k: len(v) for k, v in result["truth"].items()}
        check_store(self.res, self.cs.store.snapshot(), truth_counts, phase)
        return samples

    # -- per-layer -----------------------------------------------------

    def layer_metrics(self, progress: list[dict], result: dict) -> dict[str, float]:
        live = [p for p in progress if p["batchId"] >= result["first_batch"] and p.get("numInputRows", 0) > 0]
        dur = lambda k: median([p["durationMs"].get(k, 0) for p in live])  # noqa: E731
        state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        written = sorted((w, n) for _, _, w, n in result["ticks"])
        backlog, processed = [], 0
        for p in live:
            t = datetime.strptime(p["timestamp"][:23], "%Y-%m-%dT%H:%M:%S.%f")
            t0 = calendar.timegm(t.timetuple()) + t.microsecond / 1e6
            backlog.append(sum(n for w, n in written if w <= t0) - processed)
            processed += p["numInputRows"]
        store = self.cs.store.snapshot()
        return {
            "sources.get_batch_ms": dur("getBatch"),
            "sources.latest_offset_ms": dur("latestOffset"),
            "sources.backlog_events": median(backlog),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.commit_ms": dur("commitOffsets"),
            "streaming.rows_per_trigger": median([p["numInputRows"] for p in live]),
            "streaming.state.rows_total": max((s.get("numRowsTotal", 0) for s in state), default=0),
            "streaming.state.memory_bytes": max((s.get("memoryUsedBytes", 0) for s in state), default=0),
            "streaming.state.commit_ms": median([s.get("commitTimeMs", 0) for s in state]),
            "streaming.state.rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
            "streaming.sinks.upsert_ms": self.tracer.median_ms("streaming.sinks.upsert"),
            "streaming.sinks.store_keys": len(store),
        }

    def close(self) -> None:
        for proc in self.children:
            if proc.poll() is None:
                proc.kill()
            proc.wait(timeout=30)
        if self.cs is not None:
            try:
                self.cs.stop()
            except Exception as e:  # the engine may already be gone
                self.res.report.append(f"note: stopping the query: {e}")
        self.engine.close()


def schedule_check(res: Result, ticks: list) -> None:
    """How late the open loop ran; a lag beyond one tick (0.1 s) marks
    the run invalid, and so not correct: its figures do not describe the
    offered load."""
    lags = [began - due for due, began, _, _ in ticks]
    worst = max(lags) if lags else 0.0
    res.report.append(f"{'generator_lag_max_s':<28} {worst:.4f} s  [n={len(lags)} ticks, p50 {median(lags):.4f} s]")
    if worst > 1.0 / loadgen.TICKS_PER_S:
        res.valid = False
        res.report.append("INVALID: the open-loop generator fell behind by more than one tick")


# -- stream_ingest -------------------------------------------------------

INGEST_WARMUP_S = 2.0  # the drain already warmed the engine up


def backlog_truth(npz, upto: int) -> dict[tuple[int, int], int]:
    """Per-(page, window) counts of the countable backlog events in
    chunks ``<= upto``."""
    mask = npz["chunk"] <= upto
    keys = npz["page"][mask].astype(np.int64) * (1 << 42) + npz["window"][mask]
    uniq, counts = np.unique(keys, return_counts=True)
    return {(int(k >> 42), int(k & ((1 << 42) - 1))): int(c) for k, c in zip(uniq, counts)}


def drain(s: Stream, cs, chunk_dir: str, watched: str) -> float:
    """Drop one pre-staged chunk into the watched directory and time
    until the engine has processed it. Returns seconds."""
    names = sorted(os.listdir(chunk_dir))
    t0 = time.perf_counter()
    for name in names:
        os.rename(os.path.join(chunk_dir, name), os.path.join(watched, f"{os.path.basename(chunk_dir)}-{name}"))
    with s.tracer.span("streaming.drain_chunk"):
        cs.process_all()
    return time.perf_counter() - t0


def stream_ingest(s: Stream, trace: bool) -> None:
    res = s.res
    backlog = os.path.join(s.work, "backlog")
    t_end = time.time() - 30.0
    s.loadgen(
        "backlog", "--dir", backlog, "--t-end", repr(t_end), "--truth", os.path.join(backlog, "truth.npz"), timeout=120
    )
    npz = np.load(os.path.join(backlog, "truth.npz"))
    per_chunk = [int(n) for n in npz["per_chunk"]]

    if trace:  # keep a copy of the chunks for the local[1] baseline
        for c in range(len(per_chunk)):
            chunk = f"chunk{c}"
            shutil.copytree(os.path.join(backlog, chunk), os.path.join(backlog, "local1", chunk), copy_function=os.link)

    s.setup()
    rates = []
    # every chunk but the last warms the engine up; the last is timed
    for c in range(len(per_chunk)):
        secs = drain(s, s.cs, os.path.join(backlog, f"chunk{c}"), s.watched)
        rates.append(per_chunk[c] / secs)
        check_store(res, s.cs.store.snapshot(), backlog_truth(npz, c), f"drain chunk {c}")

    result = s.live(INGEST_WARMUP_S, s.seconds)
    schedule_check(res, result["ticks"])
    fresh = s.freshness(result, "live")

    drain_rate = rates[-1]
    res.e2e = {
        "throughput_per_s": drain_rate,
        "latency_s": percentile(fresh, 0.5) or 0.0,
    }
    res.report += [
        f"{'drain_events_per_s':<28} {drain_rate:.1f} 1/s  [n=1 chunk of {per_chunk[-1]} events; warm-up chunks "
        + ", ".join(f"{r:.1f}" for r in rates[:-1])
        + " 1/s]",
        describe("freshness_p50_s", fresh, 0.5, "s"),
        describe("freshness_p90_s", fresh, 0.9, "s"),
    ]
    if trace:
        res.layers.update(s.layer_metrics(s.progress(), result))
        res.layers["streaming.drain_events_per_s"] = drain_rate
        serving_probe(s, result)
        res.layers["streaming.drain_events_per_s_local1"] = local1_baseline(s, backlog, npz, per_chunk)


def local1_baseline(s: Stream, backlog: str, npz, per_chunk: list[int]) -> float:
    """Single-threaded reference: the backlog drained by a fresh query
    on ``local[1]``, timed the same way as the ``nproc`` drain: the
    chunks before the last warm the query up untimed, the last is timed."""
    s.cs.stop()
    s.engine.spark.stop()
    spark = s.engine.session(master="local[1]")
    watched = os.path.join(s.work, "in-local1")
    os.makedirs(watched)
    cs = s.start_query(spark, watched)
    try:
        for c in range(len(per_chunk)):
            secs = drain(s, cs, os.path.join(backlog, "local1", f"chunk{c}"), watched)
        check_store(s.res, cs.store.snapshot(), backlog_truth(npz, c), "local[1] drain")
    finally:
        cs.stop()
    s.cs = None
    s.res.report.append(f"{'drain_events_per_s local[1]':<28} {per_chunk[c] / secs:.1f} 1/s  [n=1 chunk]")
    return per_chunk[c] / secs


# -- serving probe (traced runs) ------------------------------------------

PROBE_S = 8.0
PROBE_WARMUP_S = 2.0
SERVE_INTERVAL = 1.0


def serving_probe(s: Stream, before: dict) -> None:
    """One SSE client per core on ``AnalyticsServer.for_store`` over the
    running stream, for the serving layer's per-layer figures. Not part
    of the untimed figures: with one Spark job per snapshot the readers
    and the triggers contend for the cores, and ten seconds of it moved
    snapshot rate and latency by 20-35 % from run to run. ``before`` is
    the live loop's result: its recent windows are still retained."""
    from kafka_streams_spring_cloud_stream_tp1_spark.serving import AnalyticsServer

    res, clients = s.res, nproc()
    server = AnalyticsServer.for_store(s.cs, interval=SERVE_INTERVAL).start()
    s.tracer.wrap(server, "fetch", "serving.fetch")
    try:
        result = s.live(PROBE_WARMUP_S, PROBE_S, clients=clients, url=f"127.0.0.1:{server.port}")
    finally:
        server.stop()
    # a key's events in write order: the live loop's, then the probe's
    for key, created in before["truth"].items():
        result["truth"][key] = created + result["truth"].get(key, [])
    s.freshness(result, "serving probe")

    t0 = result["measure_from"]
    delays, delivered, empty = [], 0, 0
    max_count: dict[str, int] = {}
    for (p, _), d in result["truth"].items():
        name = loadgen.page_name(p)
        max_count[name] = max(max_count.get(name, 0), len(d))
    for c in result["clients"]:
        res.check(c["error"] is None, f"SSE client: {c['error']}")
        for a, b in zip(c["arrivals"], c["arrivals"][1:]):
            res.check(b - a <= SERVE_INTERVAL + SNAPSHOT_LIMIT_S, f"SSE gap {b - a:.2f} s beyond the limit")
            if a >= t0:
                delays.append(b - a - SERVE_INTERVAL)
        for t, snap in zip(c["arrivals"], c["snapshots"]):
            ok = isinstance(snap, dict) and all(
                isinstance(v, int) and 0 < v <= max_count.get(k, 0) for k, v in snap.items()
            )
            res.check(ok, f"SSE snapshot does not match the stream: {str(snap)[:200]}")
            if t >= t0:
                delivered += 1
                empty += not snap
    rate = delivered / PROBE_S
    res.report += [
        f"{'probe snapshots_per_s':<28} {rate:.4f} 1/s  [n={delivered} delivered of {clients * PROBE_S / SERVE_INTERVAL:.0f} due to {clients} clients]",
        describe("probe snapshot_latency_p50_s", delays, 0.5, "s"),
        describe("probe snapshot_latency_p90_s", delays, 0.9, "s"),
        f"{'probe empty_snapshots':<28} {empty} of {delivered}  [Q1 shows only the current window]",
    ]
    res.layers["serving.snapshots_per_s"] = rate
    res.layers["serving.fetch_ms"] = s.tracer.median_ms("serving.fetch")
    res.layers["streaming.range_fetch_ms"] = s.tracer.median_ms("streaming.range_fetch")
    res.layers["streaming.snapshot_ms"] = s.tracer.median_ms("streaming.snapshot")
