"""Tests of the benchmark's own measurement rules.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from tests.utils import canonicalize  # noqa: E402


# -- percentile rule: reported only with >= 10 samples beyond it ----------

def test_median_needs_ten_samples_above_it():
    assert stats.percentile(list(range(19)), 0.5) is None
    assert stats.percentile(list(range(20)), 0.5) == 9


def test_p90_needs_a_hundred_samples():
    assert stats.percentile(list(range(99)), 0.9) is None
    assert stats.percentile(list(range(100)), 0.9) == 89


def test_p99_needs_a_thousand_samples():
    assert stats.percentile(list(range(999)), 0.99) is None
    assert stats.percentile(list(range(1000)), 0.99) == 989


def test_percentile_ignores_input_order_and_empty():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
    assert stats.percentile(vals, 0.5) == 3.0
    assert stats.percentile([], 0.5) is None


# -- fire latency: the event that made each session fireable -------------

def test_session_trigger_lookup_on_hand_built_log():
    gap = 1800
    # (key, event time s, event id, creation wall time)
    log = [
        (1, 1000.5, 0, 10.0),
        (1, 2000.0, 1, 11.0),      # same session as 1000.5 (gap 999.5)
        (2, 2100.0, 2, 12.0),
        (1, 3700.0, 3, 13.0),      # 3700 - 2000 = 1700 <= gap: still open
        (1, 5600.0, 4, 14.0),      # 5600 - 3700 > gap: fires key 1's session
        (2, 3900.0, 5, 15.0),      # 3900 - 2100 = 1800 <= gap: same session
        (1, 9000.0, 6, 16.0),      # fires key 1's second session
    ]
    trig = stats.session_triggers(log, gap)
    # key 1 session [1000.5 .. 3700] fired by event 4 (created 14.0)
    assert trig[(1, 1000)] == 14.0
    # key 1 session [5600] fired by event 6
    assert trig[(1, 5600)] == 16.0
    # key 2: 3900 - 2100 = 1800 <= gap, so one session [2100, 3900]; it
    # never sees an event at >= 3900 + gap and never fires
    assert (2, 2100) not in trig
    # the newest session of each key never fires
    assert (1, 9000) not in trig
    assert len(trig) == 2


def test_session_trigger_is_first_qualifying_event_not_next_event():
    gap = 10
    log = [(7, 0.0, 0, 1.0), (7, 5.0, 1, 2.0), (7, 16.0, 2, 3.0),
           (7, 40.0, 3, 4.0)]
    trig = stats.session_triggers(log, gap)
    # session [0, 5] ends at 5; event 16 >= 5 + 10 fires it
    assert trig[(7, 0)] == 3.0
    # session [16] fired by 40
    assert trig[(7, 16)] == 4.0


def test_session_trigger_with_unordered_input_and_ties():
    gap = 10
    log = [(3, 30.0, 9, 5.0), (3, 15.0, 2, 3.0), (3, 15.0, 1, 2.0),
           (3, 0.0, 0, 1.0)]
    trig = stats.session_triggers(log, gap)
    assert trig == {(3, 0): 2.0, (3, 15): 5.0}


# -- backlog growth --------------------------------------------------------

def test_steady_backlog_does_not_grow():
    pts = [(t, 400 + (37 * t) % 50) for t in range(0, 30, 2)]
    slope = stats.backlog_growth_per_s(pts)
    assert abs(slope) < 10
    assert not stats.backlog_grows(slope, offered_rate=400)


def test_backlog_growing_at_offered_rate_is_flagged():
    pts = [(t, 400.0 * t) for t in range(10)]
    slope = stats.backlog_growth_per_s(pts)
    assert slope == pytest.approx(400.0)
    assert stats.backlog_grows(slope, offered_rate=400)


def test_backlog_growth_needs_two_points():
    assert stats.backlog_growth_per_s([]) == 0.0
    assert stats.backlog_growth_per_s([(1.0, 5.0)]) == 0.0
    assert stats.backlog_growth_per_s([(1.0, 5.0), (1.0, 9.0)]) == 0.0


def _landed(rate: float, until: float, interval: float = 0.25):
    """One file of ``rate * interval`` rows every ``interval`` seconds."""
    n = int(until / interval)
    return [((k + 1) * interval, int(rate * interval)) for k in range(n)]


def test_carried_backlog_ignores_growing_batch_durations():
    # every batch takes all rows landed before it starts; batch durations
    # grow from 2 s to 8 s, which backlog-at-batch-end read as growth
    landed = _landed(200, 40)
    starts = [1.0, 3.0, 6.0, 10.0, 15.0, 21.0, 28.0, 36.0]
    batches = [(s, sum(r for t, r in landed if t <= s)) for s in starts]
    pts = stats.carried_backlog(landed, batches)
    assert [b for _t, b in pts] == [0] * len(starts)
    slope = stats.backlog_growth_per_s(pts)
    assert stats.backlog_error(pts, slope, 200, 3) is None


def test_carried_backlog_grows_when_batches_cap_their_intake():
    # each batch takes at most 100 rows while 200 rows/s land
    landed = _landed(200, 40)
    batches = [(float(s), 100 * (i + 1)) for i, s in enumerate(range(4, 40, 4))]
    pts = stats.carried_backlog(landed, batches)
    assert pts[0] == (4.0, 800 - 100)
    slope = stats.backlog_growth_per_s(pts)
    assert slope == pytest.approx(200 - 100 / 4)
    err = stats.backlog_error(pts, slope, 200, 3)
    assert err is not None and "grows" in err


# -- output checks and failure accounting ----------------------------------

def test_oracle_mismatch_is_counted_not_dropped():
    out = stats.Outcomes()
    want = canonicalize(pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]}))
    assert out.check("ok", canonicalize(pd.DataFrame({"v": [2.0, 1.0], "k": [2, 1]})), want)
    assert not out.check("wrong", canonicalize(pd.DataFrame({"k": [1, 2], "v": [1.0, 2.5]})), want)
    assert not out.check("short", canonicalize(pd.DataFrame({"k": [1], "v": [1.0]})), want)
    # int vs float cells differ under the oracle gate's dtype-sensitive canon
    assert not out.check("dtype", canonicalize(pd.DataFrame({"k": [1, 2], "v": [1, 2]})), want)
    assert not out.check("raised", None, want, error="raised RuntimeError")
    assert (out.attempted, out.failed) == (5, 4)
    assert out.ratio() == pytest.approx(0.8)
    assert [n for n, _e in out.failures] == ["wrong", "short", "dtype", "raised"]
    assert "row count 1 != oracle 2" in out.failures[1][1]


def test_empty_result_against_nonempty_oracle_fails():
    out = stats.Outcomes()
    assert not out.check("empty", [], ["1\x1f2.0"])
    assert out.failed == 1


def test_row_level_accounting_counts_each_fired_row():
    out = stats.Outcomes()
    want = ["a", "b", "c", "d"]
    assert out.check_rows("all", ["d", "c", "b", "a"], want)
    assert (out.attempted, out.failed) == (4, 0)
    # one row missing, one row extra, one duplicate emitted twice
    assert not out.check_rows("bad", ["a", "b", "b", "x"], want)
    assert out.attempted == 4 + 2 + 2 + 2  # 2 good, 2 missing, 2 extra
    assert out.failed == 4
    assert "2 oracle rows missing, 2 extra rows" in out.failures[0][1]


def test_row_level_accounting_fails_every_row_when_nothing_arrived():
    out = stats.Outcomes()
    assert not out.check_rows("none", None, ["a", "b", "c"], error="stream raised")
    assert (out.attempted, out.failed) == (3, 3)
    assert not out.check_rows("empty", [], ["a", "b"])
    assert (out.attempted, out.failed) == (5, 5)


def test_no_attempts_reads_zero_ratio():
    assert stats.Outcomes().ratio() == 0.0


# -- the checks that make fire latency valid -------------------------------

def test_backlog_check_needs_enough_micro_batches():
    pts = [(1.0, 300.0), (7.0, 310.0)]
    err = stats.backlog_error(pts, stats.backlog_growth_per_s(pts), 200, 3)
    assert err is not None and "2 micro-batches" in err
    pts.append((13.0, 290.0))
    assert stats.backlog_error(pts, stats.backlog_growth_per_s(pts), 200, 3) is None


def test_backlog_check_fails_a_growing_backlog():
    pts = [(t, 200.0 * t) for t in range(1, 6)]
    err = stats.backlog_error(pts, stats.backlog_growth_per_s(pts), 200, 3)
    assert err is not None and "grows" in err


def test_schedule_check_fails_a_late_file():
    assert stats.schedule_error([0.01, 0.2], 0.25) is None
    assert stats.schedule_error([], 0.25) is None
    err = stats.schedule_error([0.01, 0.4], 0.25)
    assert err is not None and "0.400s late" in err


def test_failed_checks_count_as_failed_operations():
    out = stats.Outcomes()
    out.record("backlog", stats.backlog_error([], 0.0, 200, 3))
    out.record("schedule", stats.schedule_error([1.0], 0.25))
    assert (out.attempted, out.failed) == (2, 2)


# -- timing wrappers of the traced run --------------------------------------

def test_timed_functions_counts_calls_through_imported_names(tmp_path, monkeypatch):
    import importlib

    from perfbench import trace

    pkg = tmp_path / "tpkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "core.py").write_text(
        "import time\n"
        "def slow():\n    time.sleep(0.05)\n    return 1\n"
        "def outer():\n    return slow() + 1\n")
    (pkg / "user.py").write_text(
        "from tpkg.core import slow\n"
        "def call():\n    return slow()\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    core = importlib.import_module("tpkg.core")
    user = importlib.import_module("tpkg.user")
    original = core.slow
    with trace.timed_functions(core, ("slow", "outer")) as t:
        assert user.call() == 1
        assert core.outer() == 2
    assert t["slow"] >= 0.09 and t["outer"] >= 0.045
    # originals restored everywhere
    assert core.slow is original and user.slow is original


# -- the layer table names only metrics BENCHMARK.json declares ------------

def test_layer_table_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        layers = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    assert set(layers["end_to_end"]) == e2e
    for name, defs in layers["end_to_end"].items():
        assert set(defs) == workloads, name
    assert set(layers["per_layer"]) == {m["name"] for m in bench["per_layer"]}
    for name, m in layers["per_layer"].items():
        for metric, workload in m["moves"]:
            assert metric in e2e and workload in workloads, name
