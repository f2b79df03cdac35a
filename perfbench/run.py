"""Benchmark of the engine's live loop and batch catalog.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: ``stream_ingest`` and
``batch_catalog`` (see perfbench/README.md). Prints one
report line per metric (name, value, unit, sample count) and, as the
last line, a JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Scratch files live under ``.perfbench_work/``
and are removed at exit; traced runs write their spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_ingest", "batch_catalog")

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_s": "s",
}


def layer_units() -> dict[str, str]:
    from batch import QUERIES

    units = {
        "engine.peak_rss_mb": "MB",
        "session.get_spark_s": "s",
        "jvm.gc_ms": "ms",
        "sources.get_batch_ms": "ms",
        "sources.latest_offset_ms": "ms",
        "sources.backlog_events": "count",
        "sources.load_tables_ms": "ms",
        "streaming.trigger_ms": "ms",
        "streaming.add_batch_ms": "ms",
        "streaming.query_planning_ms": "ms",
        "streaming.commit_ms": "ms",
        "streaming.rows_per_trigger": "count",
        "streaming.state.rows_total": "count",
        "streaming.state.memory_bytes": "bytes",
        "streaming.state.commit_ms": "ms",
        "streaming.state.rows_dropped_by_watermark": "count",
        "streaming.sinks.upsert_ms": "ms",
        "streaming.sinks.store_keys": "count",
        "streaming.drain_events_per_s": "1/s",
        "streaming.drain_events_per_s_local1": "1/s",
        "serving.snapshots_per_s": "1/s",
        "serving.fetch_ms": "ms",
        "streaming.range_fetch_ms": "ms",
        "streaming.snapshot_ms": "ms",
    }
    for q in QUERIES:
        units[f"plans.{q}.build_ms"] = "ms"
        units[f"plans.{q}.exec_s"] = "s"
    for name, unit in E2E_UNITS.items():
        units[f"traced.{name}"] = unit
    return units


def isolate(work: str) -> None:
    """Keep every scratch file of the engine inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = tmp


def run(workload: str, seed: int, seconds: float, trace: bool, work: str):
    from batch import batch_catalog
    from common import Engine, PeakRss, Result, Tracer, median, nproc
    from stream import Stream, stream_ingest

    tracer = Tracer(trace, f"{workload}-seed{seed}")
    res = Result()
    rss = PeakRss()
    rss.start()
    if workload == "batch_catalog":
        engine = Engine(tracer, f"local[{nproc()}]")
        closer = engine.close
        body = lambda: batch_catalog(engine, work, seed, seconds, tracer, res)  # noqa: E731
    else:
        s = Stream(work, seed, seconds, tracer, res, rss)
        engine, closer = s.engine, s.close
        body = lambda: stream_ingest(s, trace)  # noqa: E731
    try:
        body()
        if trace:
            res.layers["jvm.gc_ms"] = engine.gc_delta_ms()
    finally:
        closer()
        peak = rss.stop()
    res.e2e["setup_s"] = median(engine.setup_times)
    res.layers["engine.peak_rss_mb"] = peak
    res.report.append(f"{'peak_rss_mb':<28} {peak:.1f} MB  [engine process tree, sampled every {rss.period} s]")
    res.layers["session.get_spark_s"] = median(tracer.durations("session.get_spark"))
    return res, tracer


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="Benchmark of the streaming analytics engine.")
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import kafka_streams_spring_cloud_stream_tp1_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    isolate(work)
    try:
        res, tracer = run(a.workload, a.seed, a.seconds, a.trace == 1, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    untraced = os.path.join(out_dir, f"e2e-{a.workload}-seed{a.seed}.json")
    print(f"== {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    for line in res.report:
        print(line)
    for name, unit in E2E_UNITS.items():
        print(f"{name:<28} {res.e2e[name]:.4f} {unit}")
    error_rate = res.failed / max(1, res.attempted)
    print(f"{'error_rate':<28} {error_rate:.6f}  [{res.failed} failed of {res.attempted} checked operations]")
    print(f"{'run valid':<28} {res.valid}")

    if a.trace == 1:
        units = layer_units()
        values = {name: 0.0 for name in units}
        values.update(res.layers)
        for name in E2E_UNITS:
            values[f"traced.{name}"] = res.e2e[name]
        spans = os.path.join(out_dir, f"spans-{a.workload}-seed{a.seed}.jsonl")
        tracer.dump(spans)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans, ROOT)}")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            for name, unit in E2E_UNITS.items():
                print(f"{'overhead ' + name:<28} {res.e2e[name] - base[name]:+.4f} {unit}  (traced - untraced, same seed)")
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    else:
        with open(untraced, "w") as f:
            json.dump(res.e2e, f)
        metrics = {name: {"value": res.e2e[name], "unit": unit} for name, unit in E2E_UNITS.items()}

    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": max(1, res.attempted),
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
