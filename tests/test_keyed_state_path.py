"""The one keyed-state path: every built-in keyed operator runs on
``sharded_keyed_process``, its shard key keeps distinct key tuples
distinct, and a drain that times out fails loudly."""

from __future__ import annotations

import ast
import pathlib

import pandas as pd
import pytest

import flink_1_12_0_spark


def _stream_of(spark, tmp_path, pdf, schema):
    spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(
        str(tmp_path / "src"))
    return spark.readStream.schema(schema).parquet(str(tmp_path / "src"))


def test_session_windows_keep_null_keys_apart(spark, tmp_path):
    """``(NULL, 'x')`` and ``('x', NULL)`` are two keys, so they open two
    sessions.  A ``concat_ws`` shard key skipped the NULLs and read both
    as 'x', merging them into one session with n=2."""
    from flink_1_12_0_spark.streaming.core import run_to_memory
    from flink_1_12_0_spark.streaming.stateful import session_event_windows

    base = pd.Timestamp("2024-01-01")
    rows = [(None, "x", 0), ("x", None, 100),
            # one late event per key moves its watermark past the session end
            (None, "x", 10_000), ("x", None, 10_000)]
    pdf = pd.DataFrame({
        "k1": [r[0] for r in rows], "k2": [r[1] for r in rows],
        "ts": [base + pd.Timedelta(seconds=r[2]) for r in rows],
        "event_id": list(range(len(rows))), "value": [1.0] * len(rows)})
    sdf = _stream_of(spark, tmp_path, pdf,
                     "k1 string, k2 string, ts timestamp, event_id bigint, "
                     "value double")
    out = run_to_memory(session_event_windows(
        sdf, ["k1", "k2"], "ts", "event_id", "value", gap_s=1000),
        output_mode="update")
    epoch = int(base.timestamp())
    got = sorted(((r["k1"], r["k2"], r["w_start"] - epoch, r["n"])
                  for r in out.collect()), key=lambda t: t[2])
    assert got == [(None, "x", 0, 1), ("x", None, 100, 1)]


def test_first_seen_flag_keeps_separator_buckets_apart(spark, tmp_path):
    """Buckets ``('x\\x1f', '')`` and ``('x', '\\x1f')`` differ, so each
    keeps its own first row.  Joined with the \\x1f separator both read
    'x\\x1f\\x1f', and the second was flagged a duplicate of the first."""
    from flink_1_12_0_spark.streaming.core import run_to_memory
    from flink_1_12_0_spark.streaming.stateful import streaming_first_seen_flag

    pdf = pd.DataFrame({"b1": ["x\x1f", "x"], "b2": ["", "\x1f"],
                        "doc_id": [1, 2]})
    sdf = _stream_of(spark, tmp_path, pdf, "b1 string, b2 string, doc_id bigint")
    out = run_to_memory(streaming_first_seen_flag(sdf, ["b1", "b2"], "doc_id"),
                        output_mode="update")
    assert {r["doc_id"]: r["dup"] for r in out.collect()} == {1: False, 2: False}


def test_run_to_memory_raises_on_timeout(spark, tmp_path):
    """A drain cut by its timeout has committed only a prefix of its
    batches; ``run_to_memory`` raises instead of returning it."""
    from flink_1_12_0_spark.streaming.core import run_to_memory
    from flink_1_12_0_spark.streaming.stateful import dedup_keep_last

    pdf = pd.DataFrame({"k": [1, 1, 2], "ord": [1, 2, 3], "tie": [0, 0, 0]})
    sdf = _stream_of(spark, tmp_path, pdf, "k bigint, ord bigint, tie bigint")
    with pytest.raises(TimeoutError, match="run_to_memory"):
        run_to_memory(dedup_keep_last(sdf, ["k"], "ord", "tie"),
                      output_mode="update", timeout_s=0.001)


def test_apply_in_pandas_with_state_has_three_call_sites():
    """Inside the package only the raw ``keyed_process`` surface, the
    ``sharded_keyed_process`` driver and the vectorized first-seen flag
    call ``applyInPandasWithState``; every other keyed operator goes
    through the driver."""
    class _Sites(ast.NodeVisitor):
        def __init__(self):
            self.scope, self.found = ["<module>"], []

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        def visit_Call(self, node):
            if (isinstance(node.func, ast.Attribute)
                    and node.func.attr == "applyInPandasWithState"):
                self.found.append(self.scope[-1])
            self.generic_visit(node)

    sites = _Sites()
    pkg = pathlib.Path(flink_1_12_0_spark.__file__).parent
    for path in sorted(pkg.rglob("*.py")):
        sites.visit(ast.parse(path.read_text()))
    assert sorted(sites.found) == ["keyed_process", "sharded_keyed_process",
                                   "streaming_first_seen_flag"]
