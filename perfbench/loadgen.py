"""Load generator for the streaming workloads, run as its own process.

Two modes:

``backlog``  writes a pre-staged backlog of PageEvents as JSON-lines
             files, split into chunks the benchmark later drops into the
             watched directory, plus the truth arrays for every event that
             must be counted.
``live``     an open loop: at a fixed number of ticks per second it drops
             one file of events into the watched directory, on a schedule
             that does not slow when the engine slows. Optionally it runs
             SSE clients against the analytics server, one thread and one
             connection each. It writes its schedule log, the per-key
             truth and what the clients received as one JSON file.

Every event is stamped with its creation time: for a live event that is
the time its tick was due, not the time it was written. About 5 % of the
events are late but within the watermark (event time 0.5-8 s before
creation) and about 1 % are later than the watermark (60 s before
creation); the latter never count towards the truth.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import sys
import threading
import time

import numpy as np

WINDOW_MS = 5000
LATE_FRAC = 0.05
BEYOND_FRAC = 0.01
BEYOND_S = 60.0
THRESHOLD = 100.0  # the topology keeps duration/value > 100
KIND_ON_TIME, KIND_LATE, KIND_BEYOND = 0, 1, 2
TICKS_PER_S = 10
BACKLOG_RATE = 20_000.0  # backlog events per second of event time
FILES_PER_CHUNK = 16
FIRST_LIVE_ID = 100_000_000  # live event ids follow the backlog's
PAGES = 10_000
ZIPF_S = 1.1
# backlog chunks, the last one timed. The drain rate keeps rising over
# the first ~1 M events as the JVM warms up (the first trigger costs
# ~10 s whatever its size), so two chunks warm the engine up. A trigger
# costs ~2-3 s of overhead here: smaller chunks would measure overhead
BACKLOG_CHUNKS = (300_000, 300_000, 300_000)
LIVE_RATE = 2000.0  # offered events per second of the open loop
MARKER_PAGE = PAGES  # outside the generator's keyspace 0..PAGES-1


def page_name(i: int) -> str:
    return f"P{i + 1}"


def page_cdf() -> np.ndarray:
    """Cumulative page distribution: Zipf(ZIPF_S) over PAGES ranks."""
    w = 1.0 / np.arange(1, PAGES + 1, dtype=np.float64) ** ZIPF_S
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def draw_events(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Event attributes that do not depend on time. ``lateness`` is how
    far the event time lies before the creation time, in seconds."""
    cdf = page_cdf()
    page = np.minimum(np.searchsorted(cdf, rng.random(n)), len(cdf) - 1)
    # the reference supplier's duration: uniform [10, 10009]
    value = rng.integers(10, 10010, n).astype(np.float64)
    user = rng.integers(0, 1000, n)
    r = rng.random(n)
    kind = np.where(r < BEYOND_FRAC, KIND_BEYOND, np.where(r < BEYOND_FRAC + LATE_FRAC, KIND_LATE, KIND_ON_TIME))
    lateness = np.where(kind == KIND_LATE, rng.uniform(0.5, 8.0, n), 0.0)
    lateness = np.where(kind == KIND_BEYOND, BEYOND_S, lateness)
    return {"page": page, "value": value, "user": user, "kind": kind, "lateness": lateness}


def countable(ev: dict[str, np.ndarray]) -> np.ndarray:
    return (ev["value"] > THRESHOLD) & (ev["kind"] != KIND_BEYOND)


def event_time_ms(created_s: np.ndarray, lateness_s: np.ndarray) -> np.ndarray:
    return np.floor((created_s - lateness_s) * 1000.0).astype(np.int64)


def format_lines(first_id: int, ev: dict[str, np.ndarray], ts_ms: np.ndarray, sl: slice) -> str:
    stamps = np.datetime_as_string(ts_ms[sl].astype("datetime64[ms]"), unit="ms")
    ids = range(first_id + (sl.start or 0), first_id + (sl.stop or len(ts_ms)))
    return "".join(
        f'{{"event_id":{i},"ts":"{t}","user_id":{u},"event_type":"P{p + 1}","value":{v:.1f},"props":null}}\n'
        for i, t, u, p, v in zip(
            ids,
            stamps,
            ev["user"][sl].tolist(),
            ev["page"][sl].tolist(),
            ev["value"][sl].tolist(),
        )
    )


def drop_file(directory: str, name: str, text: str) -> None:
    """Write atomically: the file source ignores dot-files, so the
    engine never sees a half-written file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(directory, name))


def write_marker(directory: str, created: float) -> tuple[int, int]:
    """One countable on-time event on ``MARKER_PAGE`` stamped ``created``;
    once processed, the engine's watermark follows that time. Returns
    its (page, window ms) key."""
    ts = event_time_ms(np.array([created]), np.zeros(1))
    ev = {"page": np.array([MARKER_PAGE]), "value": np.array([THRESHOLD + 1.0]), "user": np.zeros(1, dtype=np.int64)}
    drop_file(directory, f"marker-{ts[0]}.json", format_lines(FIRST_LIVE_ID - 1, ev, ts, slice(0, 1)))
    return MARKER_PAGE, int(ts[0] // WINDOW_MS * WINDOW_MS)


# -- backlog -----------------------------------------------------------


def backlog_events(seed: int, n: int, t_end: float):
    """The backlog: ``n`` events created evenly at ``BACKLOG_RATE`` per
    second up to ``t_end``. Returns (attributes, event times in ms)."""
    rng = np.random.default_rng([seed, 1])
    ev = draw_events(rng, n)
    created = t_end - (n - np.arange(n)) / BACKLOG_RATE
    return ev, event_time_ms(created, ev["lateness"])


def write_backlog(a: argparse.Namespace) -> None:
    sizes = list(BACKLOG_CHUNKS)
    total = sum(sizes)
    ev, ts = backlog_events(a.seed, total, a.t_end)
    ok = countable(ev)
    bounds = np.cumsum([0, *sizes])
    chunk_of = np.searchsorted(bounds, np.arange(total), side="right") - 1
    for c, (lo, hi) in enumerate(zip(bounds[:-1].tolist(), bounds[1:].tolist())):
        d = os.path.join(a.dir, f"chunk{c}")
        os.makedirs(d, exist_ok=True)
        per_file = max(1, -(-(hi - lo) // FILES_PER_CHUNK))
        for j, s in enumerate(range(lo, hi, per_file)):
            drop_file(d, f"part-{j:05d}.json", format_lines(0, ev, ts, slice(s, min(hi, s + per_file))))
    np.savez(
        a.truth,
        page=ev["page"][ok].astype(np.int32),
        window=(ts[ok] // WINDOW_MS) * WINDOW_MS,
        chunk=chunk_of[ok].astype(np.int16),
        per_chunk=np.array(sizes),
    )


# -- live --------------------------------------------------------------


def live_schedule(seed: int, seconds: float):
    """Events of the open loop, grouped per tick: (attributes, tick of
    each event, number of ticks). Independent of wall-clock time."""
    n_ticks = int(round(seconds * TICKS_PER_S))
    per_tick = int(round(LIVE_RATE / TICKS_PER_S))
    rng = np.random.default_rng([seed, 2])
    ev = draw_events(rng, n_ticks * per_tick)
    return ev, np.repeat(np.arange(n_ticks), per_tick), n_ticks


class SSEClient(threading.Thread):
    """One SSE connection to /analytics; records the arrival time and
    payload of every snapshot until ``deadline``."""

    def __init__(self, host: str, port: int, start_at: float, deadline: float) -> None:
        super().__init__(daemon=True)
        self.host, self.port = host, port
        self.start_at, self.deadline = start_at, deadline
        self.connected = 0.0
        self.arrivals: list[float] = []
        self.snapshots: list[dict] = []
        self.error: str | None = None

    def run(self) -> None:
        time.sleep(max(0.0, self.start_at - time.time()))
        conn = http.client.HTTPConnection(self.host, self.port, timeout=15)
        try:
            self.connected = time.time()
            conn.request("GET", "/analytics")
            resp = conn.getresponse()
            if resp.status != 200:
                raise RuntimeError(f"HTTP {resp.status}")
            while time.time() < self.deadline:
                line = resp.fp.readline()
                if not line:
                    raise RuntimeError("stream closed by server")
                if line.startswith(b"data: "):
                    now = time.time()
                    if now >= self.deadline:
                        break
                    self.arrivals.append(now)
                    self.snapshots.append(json.loads(line[6:]))
        except (OSError, RuntimeError, ValueError) as e:
            self.error = f"{type(e).__name__}: {e}"
        finally:
            conn.close()


def run_live(a: argparse.Namespace) -> None:
    ev, tick_of, n_ticks = live_schedule(a.seed, a.seconds)
    bounds = np.searchsorted(tick_of, np.arange(n_ticks + 1))
    start = a.start_at
    due = start + tick_of / TICKS_PER_S
    ts = event_time_ms(due, ev["lateness"])
    deadline = start + n_ticks / TICKS_PER_S
    clients = []
    if a.clients:
        host, port = a.url.split(":")
        # connections open spread over one second, as independent users do
        clients = [SSEClient(host, int(port), start + i / a.clients, deadline) for i in range(a.clients)]
        for c in clients:
            c.start()
    log = []
    for i in range(n_ticks):
        t_due = start + i / TICKS_PER_S
        time.sleep(max(0.0, t_due - time.time()))
        began = time.time()
        sl = slice(int(bounds[i]), int(bounds[i + 1]))
        # names unique per loop: the file source skips a path it has seen
        drop_file(a.dir, f"tick-{start:.0f}-{i:06d}.json", format_lines(FIRST_LIVE_ID, ev, ts, sl))
        log.append([t_due, began, time.time(), sl.stop - sl.start])
    for c in clients:
        c.join(timeout=30)
    ok = countable(ev)
    truth: dict[tuple[int, int], list[float]] = {}
    for p, w, d in zip(ev["page"][ok].tolist(), ((ts[ok] // WINDOW_MS) * WINDOW_MS).tolist(), due[ok].tolist()):
        truth.setdefault((p, w), []).append(d)
    out = {
        "ticks": log,
        "truth": [[p, w, d] for (p, w), d in truth.items()],
        "clients": [
            {
                "connected": c.connected,
                "arrivals": c.arrivals,
                "snapshots": c.snapshots,
                "error": c.error or ("client did not finish" if c.is_alive() else None),
            }
            for c in clients
        ],
    }
    with open(a.out, "w") as f:
        json.dump(out, f)


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="mode", required=True)
    for name in ("backlog", "live"):
        s = sub.add_parser(name)
        s.add_argument("--dir", required=True)
        s.add_argument("--seed", type=int, required=True)
    b = sub.choices["backlog"]
    b.add_argument("--t-end", type=float, required=True)
    b.add_argument("--truth", required=True)
    v = sub.choices["live"]
    v.add_argument("--seconds", type=float, required=True)
    v.add_argument("--start-at", type=float, required=True)
    v.add_argument("--clients", type=int, default=0)
    v.add_argument("--url", default="")
    v.add_argument("--out", required=True)
    a = p.parse_args(argv)
    if a.mode == "backlog":
        write_backlog(a)
    else:
        run_live(a)


if __name__ == "__main__":
    main(sys.argv[1:])
