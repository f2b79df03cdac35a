"""Measurement helpers shared by the workloads: the percentile rule,
spans, process-tree memory, the engine session's lifetime and the
result every workload returns."""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile
SETUPS = 3  # set-ups per run; setup_s is their median


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-quantile, or None unless at least
    ``MIN_BEYOND`` samples lie beyond it."""
    xs = sorted(samples)
    if not xs:
        return None
    k = max(0, math.ceil(q * len(xs)) - 1)
    if len(xs) - 1 - k < MIN_BEYOND:
        return None
    return xs[k]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def describe(name: str, samples: list[float], q: float, unit: str) -> str:
    """One report line for a percentile, with the sample count behind it."""
    v = percentile(samples, q)
    shown = f"{v:.4f} {unit}" if v is not None else f"n/a (needs {MIN_BEYOND} samples beyond p{q * 100:g})"
    return f"{name:<28} {shown}  [n={len(samples)}]"


@dataclass
class Result:
    """What a workload measured. ``e2e`` holds the end-to-end metrics,
    ``layers`` the per-layer ones, ``report`` the human-readable lines."""

    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    valid: bool = True

    @property
    def correct(self) -> bool:
        """No checked operation failed and the run was valid."""
        return self.failed == 0 and self.valid

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; report it when it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 20:
                self.report.append(f"FAILED: {what}")


class Tracer:
    """In-memory spans (name, start, end, parent, trace id). Disabled,
    ``span`` and ``wrap`` cost one attribute test."""

    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = getattr(self._local, "current", None)
        sid = next(self._ids)
        self._local.current = sid
        start = time.time()
        try:
            yield
        finally:
            self._local.current = parent
            self.record(name, start, time.time(), sid=sid, parent=parent, **attrs)

    def record(self, name: str, start: float, end: float, sid: int | None = None, parent: int | None = None, **attrs) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(
                {"trace": self.trace_id, "name": name, "start": start, "end": end, "id": sid, "parent": parent, **attrs}
            )

    def wrap(self, obj: object, attr: str, name: str) -> None:
        """Time every call of ``obj.attr`` (this instance only)."""
        if not self.enabled:
            return
        fn = getattr(obj, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median_ms(self, name: str) -> float:
        return median(self.durations(name)) * 1000.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int, exclude: set[int]) -> int:
    """Resident memory of ``root`` and its descendants, skipping the
    subtrees rooted at ``exclude``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(children.get(pid, []))
    return total


class PeakRss(threading.Thread):
    """Samples the engine's process tree (this process, the JVM and its
    Python workers; not the load generator) every ``period`` s."""

    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.exclude: set[int] = set()
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid(), self.exclude))
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=10)
        return self.peak / 2**20


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Engine:
    """The engine session as a workload sees it: ``setup`` builds the
    session with the package defaults (only the console progress bar is
    turned off) plus whatever the workload starts, ``SETUPS`` times,
    keeping the last; ``close`` stops the JVM and waits for it."""

    def __init__(self, tracer: Tracer, master: str) -> None:
        self.tracer = tracer
        self.master = master
        self.spark = None
        self.setup_times: list[float] = []
        self._gc0 = 0.0

    def session(self, master: str | None = None):
        from kafka_streams_spring_cloud_stream_tp1_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                master=master or self.master,
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, start, stop) -> object:
        """Run ``SETUPS`` set-ups of session + ``start(spark)``; all but
        the last are torn down with ``stop(handle)``. Returns the last
        handle."""
        handle = None
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = self.session()
            handle = start(spark)
            self.setup_times.append(time.perf_counter() - t0)
            if i < SETUPS - 1:
                stop(handle)
                spark.stop()
        self._gc0 = self.gc_ms()
        return handle

    def gc_ms(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def gc_delta_ms(self) -> float:
        return self.gc_ms() - self._gc0

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits at EOF on its stdin
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
