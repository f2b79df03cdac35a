"""Unit tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime

import numpy as np
import pytest

import fixtures
import loadgen
from batch import result_digest
from common import MIN_BEYOND, Result, describe, percentile
from stream import backlog_truth, check_store, freshness_samples, schedule_check, store_key, window_ms


# -- generator determinism -------------------------------------------------


def _backlog(tmp_path, name: str, seed: int) -> argparse.Namespace:
    return argparse.Namespace(dir=str(tmp_path / name), seed=seed, t_end=1_700_000_000.0, truth=str(tmp_path / f"{name}.npz"))


def _files(root) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


def test_backlog_same_seed_same_files(tmp_path):
    for name in ("a", "b"):
        loadgen.write_backlog(_backlog(tmp_path, name, seed=7))
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert a and a == b
    ta, tb = np.load(tmp_path / "a.npz"), np.load(tmp_path / "b.npz")
    for k in ("page", "window", "chunk", "per_chunk"):
        assert np.array_equal(ta[k], tb[k])


def test_backlog_other_seed_other_events(tmp_path):
    loadgen.write_backlog(_backlog(tmp_path, "a", seed=7))
    loadgen.write_backlog(_backlog(tmp_path, "b", seed=8))
    assert _files(tmp_path / "a") != _files(tmp_path / "b")


def test_live_schedule_is_deterministic_and_mixes_lateness():
    ev1, ticks1, n1 = loadgen.live_schedule(3, 20.0)
    ev2, ticks2, n2 = loadgen.live_schedule(3, 20.0)
    assert n1 == n2 == 200 and np.array_equal(ticks1, ticks2)
    for k in ev1:
        assert np.array_equal(ev1[k], ev2[k])
    kinds = np.bincount(ev1["kind"], minlength=3) / len(ev1["kind"])
    assert abs(kinds[loadgen.KIND_LATE] - loadgen.LATE_FRAC) < 0.01
    assert abs(kinds[loadgen.KIND_BEYOND] - loadgen.BEYOND_FRAC) < 0.005
    late = ev1["lateness"][ev1["kind"] == loadgen.KIND_LATE]
    assert late.min() >= 0.5 and late.max() < 10.0  # within the 10 s watermark


def test_batch_fixtures_are_deterministic():
    a, b = fixtures.make_tables(5), fixtures.make_tables(5)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(fixtures.make_tables(6)["orders"])


def test_backlog_truth_excludes_beyond_watermark_and_filtered(tmp_path):
    a = _backlog(tmp_path, "a", seed=1)
    loadgen.write_backlog(a)
    ends = np.cumsum(loadgen.BACKLOG_CHUNKS)
    ev, _ = loadgen.backlog_events(1, int(ends[-1]), a.t_end)
    ok = (ev["value"] > loadgen.THRESHOLD) & (ev["kind"] != loadgen.KIND_BEYOND)
    npz = np.load(a.truth)
    for c, end in enumerate(ends):
        assert sum(backlog_truth(npz, upto=c).values()) == int(ok[:end].sum())


# -- freshness matcher -----------------------------------------------------

K1, K2, OTHER = (0, 5000), (1, 5000), (9, 0)


def test_freshness_sample_uses_the_last_contributing_event():
    truth = {K1: [10.0, 10.5, 11.0], K2: [10.2]}
    upserts = [(12.0, [(K1, 2), (K2, 1)]), (13.0, [(K1, 3)])]
    samples, too_high = freshness_samples(upserts, truth)
    assert samples == pytest.approx([12.0 - 10.5, 12.0 - 10.2, 13.0 - 11.0])
    assert too_high == []


def test_freshness_flags_counts_above_truth():
    truth = {K1: [10.0]}
    samples, too_high = freshness_samples([(11.0, [(K1, 1), (K1, 2)])], truth)
    assert samples == pytest.approx([1.0])
    assert too_high == [K1]


def test_freshness_flags_a_counted_beyond_watermark_event():
    # an event 60 s old lands in a window the phase's truth does not
    # hold: counting it is a failure, even though the store evicts it
    truth = {K1: [10.0]}
    samples, too_high = freshness_samples([(11.0, [(K1, 1)]), (11.5, [(OTHER, 1)])], truth)
    assert samples == pytest.approx([1.0])
    assert too_high == [OTHER]


# -- generator self-check --------------------------------------------------


def test_schedule_lag_beyond_one_tick_makes_the_run_not_correct():
    on_time = [[10.0, 10.01, 10.02, 200], [10.1, 10.15, 10.16, 200]]
    res = Result()
    schedule_check(res, on_time)
    assert res.valid and res.correct
    res = Result()
    schedule_check(res, on_time + [[10.2, 10.35, 10.36, 200]])
    assert res.failed == 0 and not res.valid and not res.correct
    assert any("INVALID" in line for line in res.report)


def test_store_key_and_check_store():
    ws = datetime(2024, 1, 1, 0, 0, 5)
    assert window_ms(ws) == 1704067205000
    key = ("P3", ws, datetime(2024, 1, 1, 0, 0, 10))
    assert store_key(key) == (2, 1704067205000)
    res = Result()
    old = ("P1", datetime(2024, 1, 1, 0, 0, 0), ws)  # retained: within 15 s
    check_store(res, {key: 4, old: 2}, {(2, 1704067205000): 4, (0, 1704067200000): 3}, "t")
    assert (res.attempted, res.failed) == (2, 1)


# -- percentile rule -------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 100 samples
    assert percentile(xs, 0.9) == 90.0  # 10 lie beyond
    assert percentile(xs[:99], 0.9) is None  # p90 of 99: only 9 beyond
    assert percentile(xs[:20], 0.5) == 10.0  # 10 lie beyond
    assert percentile(xs[:19], 0.5) is None
    assert percentile([], 0.5) is None


def test_describe_prints_the_sample_count():
    assert "[n=100]" in describe("x_s", [1.0] * 100, 0.9, "s")
    line = describe("x_s", [1.0] * 5, 0.9, "s")
    assert "n/a" in line and "[n=5]" in line and str(MIN_BEYOND) in line


# -- oracle digest ---------------------------------------------------------


def test_result_digest_ignores_row_and_column_order():
    a = result_digest(["b", "a"], [(1, 0.1 + 0.2), (2, 0.5)])
    b = result_digest(["a", "b"], [(0.5, 2), (0.3, 1)])
    assert a == b
    assert result_digest(["a"], [(1,)]) != result_digest(["a"], [(2,)])
