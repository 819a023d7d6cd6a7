"""Focused pins for the round-18 optimization internals.

Each test pins an r18 change whose behavior must be indistinguishable
from the r17 form: gate-history compaction (observable equivalence +
the state-size bound it buys), the shard-count defaults, and the
run_to_stage exit sweep registration.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

# ---- gate history compaction ------------------------------------------------

_COLS = ["_stream", "op", "rule", "v", "ord"]


def _run_batches(batches):
    """Drive the production _gate_with_history (compaction inside) over
    consecutive micro-batches; return the union of emissions."""
    from flink_1_12_0_spark.streaming import stateful

    hist: list = []
    got: set = set()
    for b in batches:
        if not b:
            continue
        emitted, hist = stateful._gate_with_history(
            hist, pd.DataFrame(b, columns=_COLS), ord_col="ord",
            op_col="op", rule_col="rule", out_cols=["rule", "v"],
            casts={"rule": "int64", "v": "int64"})
        if emitted is not None:
            got |= set(map(tuple, emitted[["rule", "v"]].itertuples(
                index=False, name=None)))
    return got


_events = st.lists(
    st.tuples(st.sampled_from("+-"), st.integers(1, 3),
              st.integers(0, 20)),
    max_size=14)
_mains = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 20)), max_size=10)


@settings(max_examples=150, deadline=None)
@given(events=_events, mains=_mains,
       cuts=st.lists(st.integers(0, 21), max_size=3))
def test_gate_history_compaction_observable_equivalence(events, mains,
                                                        cuts):
    """r18 compaction keeps only each rule's net state flips (+ the raw
    frontier position), so for position-cut batch splits — the
    documented position-monotonic control delivery — the emissions must
    equal the single-batch gate exactly, event churn and all.  (The
    compaction runs inside _gate_with_history, so this extends the
    r17 split-invariance pin to churn-heavy schedules.)"""
    from flink_1_12_0_spark.streaming.stateful import _gate_batch

    ctrl_rows = [("control", op, r, None, eff) for op, r, eff in events]
    main_rows = [("main", None, r, 100 + i, p)
                 for i, (r, p) in enumerate(mains)]
    single, _ = _gate_batch(
        pd.DataFrame(ctrl_rows + main_rows, columns=_COLS), set(),
        ord_col="ord", op_col="op", rule_col="rule",
        out_cols=["rule", "v"], casts={"rule": "int64", "v": "int64"})
    want = (set() if single is None else
            set(map(tuple, single[["rule", "v"]].itertuples(
                index=False, name=None))))
    batches, lo = [], -1
    for hi in sorted(set(cuts)) + [999]:
        batches.append([r for r in ctrl_rows + main_rows
                        if lo < r[4] <= hi])
        lo = hi
    got = _run_batches(batches)
    assert got == want


def test_gate_history_compaction_folds_idempotent_churn():
    """The state-size receipt the compaction buys (VERDICT r17 "What's
    wrong" #3): N idempotent re-adds of a live rule persist as ONE
    synthetic flip plus the raw frontier position — the r17 history
    kept all N events and replayed them every micro-batch."""
    from flink_1_12_0_spark.streaming.stateful import _compact_history

    churn = [("+", 1, p) for p in range(100)]  # 100 re-adds, one flip
    hist = sorted(churn, key=lambda t: (t[2], t[0], t[1]))
    compacted = _compact_history(hist)
    # one synthetic '+' at the first position + the raw frontier event
    assert compacted == [("+", 1, 0), ("+", 1, 99)]

    # closed-interval churn: + - + - ... keeps every genuine alternation
    alt = [("+", 2, 2 * i) for i in range(5)] + [
        ("-", 2, 2 * i + 1) for i in range(5)]
    hist = sorted(alt, key=lambda t: (t[2], t[0], t[1]))
    assert _compact_history(hist) == hist  # all 10 events flip state


def test_gate_history_compaction_keeps_frontier_collision_raw():
    """The frontier position's events are persisted verbatim: a
    same-position remove+re-add collision at the newest position must
    keep both ops so a LATER batch's event at that position still
    resolves under the '-'-wins rule."""
    from flink_1_12_0_spark.streaming.stateful import _compact_history

    hist = [("+", 1, 0), ("+", 1, 5), ("-", 1, 5)]
    compacted = _compact_history(hist)
    assert ("+", 1, 5) in compacted and ("-", 1, 5) in compacted
    # while the same collision BELOW the frontier folds to its net
    hist2 = [("+", 1, 0), ("+", 1, 5), ("-", 1, 5), ("+", 1, 9)]
    compacted2 = _compact_history(hist2)
    # at pos 5 the net state goes live(0) -> removed(5): one synthetic
    assert compacted2 == [("+", 1, 0), ("-", 1, 5), ("+", 1, 9)]


# ---- shard-count defaults ---------------------------------------------------

def _shard_literal(df) -> int:
    """The N of the ``pmod(hash(key), N) AS _shard`` column in ``df``'s
    analyzed plan."""
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    found = set(re.findall(r", (\d+)\) AS _shard#", plan))
    assert len(found) == 1, plan
    return int(found.pop())


def _events(spark, src):
    return spark.readStream.schema(
        "k bigint, ts timestamp, tie bigint, val double").parquet(str(src))


def test_first_seen_default_shards_floor_1024(spark, tmp_path):
    """r18: the first-seen shard default is max(1024, 8 x
    defaultParallelism) — the r17 floor of 64 put local[32] at 256
    shards, which the driver's window and this round's fresh-session A/B
    both read as a loss on the full stream_lsh_dedup row (receipt in
    OPTIMIZATION_r18.md).  Read from the plan the operator builds."""
    from flink_1_12_0_spark.streaming.stateful import streaming_first_seen_flag

    par = spark.sparkContext.defaultParallelism
    out = streaming_first_seen_flag(_events(spark, tmp_path), ["k"], "tie")
    assert _shard_literal(out) == max(1024, 8 * par)


def test_sharded_keyed_process_default_shards(spark, tmp_path):
    """The keyed-operator driver shards by max(64, 8 x
    defaultParallelism), read from the plan a driven operator builds."""
    from flink_1_12_0_spark.streaming.stateful import session_event_windows

    par = spark.sparkContext.defaultParallelism
    out = session_event_windows(
        _events(spark, tmp_path), ["k"], "ts", "tie", "val", 60)
    assert _shard_literal(out) == max(64, 8 * par)


# ---- run_to_stage exit sweep --------------------------------------------------

def test_run_to_stage_registers_dir_for_exit_sweep(spark, tmp_path):
    """Every stage dir is registered for the interpreter-exit sweep
    (VERDICT r17 "What's wrong" #2), and the sweep removes it."""
    import os

    from flink_1_12_0_spark.streaming import core

    src = str(tmp_path / "src")
    spark.range(10).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema("id bigint").parquet(src)
    before = list(core._stage_dirs)
    out = core.run_to_stage(sdf, output_mode="append")
    assert out.count() == 10
    new = [d for d in core._stage_dirs if d not in before]
    assert len(new) == 1 and os.path.isdir(new[0])
    core._sweep_stage_dirs()
    assert not os.path.isdir(new[0])
    assert not core._stage_dirs
