"""Graded-text hashing (flink_1_12_0_spark.grading).

Round 16 re-staled helper-delegating graded rows BY POLICY: the text
hash covered only the query function's own source, so an edit to a
shared stage helper (``_runtime_add_stage``) re-staled its delegating
rows only because the round-closing review remembered to.  The hash now
covers each row's transitive package-local helper closure, so a
shared-helper edit COMPUTES its stale set.  These tests pin the mechanism:

* mutating a helper's source flips the hash of every delegating row;
* mutating an UNRELATED helper flips nothing (negative control);
* on the real registry, the rows round 16 re-staled by hand do carry
  their shared helper in the hash input — the policy case is now the
  mechanism's case;
* the SQL a closure-registered row binds (``register_sql``,
  ``_sql_pair``) is part of its hash.
"""

from __future__ import annotations

import hashlib
import importlib
import linecache
import sys
import textwrap

from flink_1_12_0_spark import grading, registry
from flink_1_12_0_spark.grading import helper_closure, query_text

_MOD_TEMPLATE = '''\
"""Synthetic fixture module for the closure-hash mechanism test."""


def shared_stage(x):
    return x {op} 1


def unrelated_helper(x):
    return x {unrel_op} 2


def delegating_query(spark, sf_dir):
    return shared_stage(3)


def independent_query(spark, sf_dir):
    return unrelated_helper(4)
'''


def _write_fixture(tmp_path, op: str, unrel_op: str):
    """Materialize the fixture module under the PACKAGE namespace (the
    closure walk only follows flink_1_12_0_spark.* definitions) and
    (re)import it, defeating the linecache so getsource sees the edit."""
    path = tmp_path / "_hashfix.py"
    path.write_text(
        textwrap.dedent(_MOD_TEMPLATE.format(op=op, unrel_op=unrel_op)))
    name = "flink_1_12_0_spark._hashfix"
    linecache.checkcache(str(path))
    spec = importlib.util.spec_from_file_location(name, str(path))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def _row_hash(fn) -> str:
    import inspect

    closure = helper_closure(fn)
    helpers = "\x00".join(f"{k}\x01{closure[k]}" for k in sorted(closure))
    return hashlib.sha256(
        (inspect.getsource(fn) + "\x00" + helpers).encode()).hexdigest()


def test_helper_edit_flips_delegating_row_hash(tmp_path):
    mod = _write_fixture(tmp_path, "+", "+")
    before_delegating = _row_hash(mod.delegating_query)
    before_independent = _row_hash(mod.independent_query)

    # mutate ONLY the shared helper's body (+1 -> -1)
    mod2 = _write_fixture(tmp_path, "-", "+")
    after_delegating = _row_hash(mod2.delegating_query)
    after_independent = _row_hash(mod2.independent_query)

    assert after_delegating != before_delegating, (
        "editing shared_stage did not flip the delegating row's hash — "
        "the helper closure is not reaching the hash input")
    # negative control: a row that never touches the edited helper
    assert after_independent == before_independent, (
        "editing shared_stage flipped an UNRELATED row's hash — the "
        "closure walk is over-approximating")
    sys.modules.pop("flink_1_12_0_spark._hashfix", None)


def test_unrelated_helper_edit_flips_nothing_for_delegator(tmp_path):
    mod = _write_fixture(tmp_path, "+", "+")
    before = _row_hash(mod.delegating_query)
    mod2 = _write_fixture(tmp_path, "+", "-")  # edit unrelated_helper only
    after = _row_hash(mod2.delegating_query)
    assert after == before, (
        "editing unrelated_helper flipped delegating_query's hash")
    sys.modules.pop("flink_1_12_0_spark._hashfix", None)


def test_round16_policy_case_is_now_mechanized():
    """The exact round-16 incident, replayed against the real registry:
    both rows that delegate to _runtime_add_stage must carry its source
    (and the source of the helpers IT imports locally) in their hash
    input, so the next _runtime_add_stage edit computes the stale set."""
    registry.load_all()
    from flink_1_12_0_spark.queries import llm_corpus

    stage_src = None
    for name in ("stream_route_runtime_add", "stream_route_topn_runtime"):
        closure = helper_closure(registry.QUERIES[name])
        key = "flink_1_12_0_spark.queries.llm_corpus._runtime_add_stage"
        assert key in closure, f"{name} hash input misses the shared stage"
        assert "array_distinct" in closure[key]  # the r16 edit is in scope
        # the stage's own function-local imports are reached transitively
        assert ("flink_1_12_0_spark.streaming.core.run_foreach_batch"
                in closure), f"{name} misses the stage's local imports"
        assert key + "\x01" + closure[key] in query_text(name)
        stage_src = closure[key]
    assert stage_src is not None


def test_static_refs_covers_all_import_binding_forms():
    """Code-review r17: the closure walk must see helpers bound by EVERY
    import form the language offers, not just the three forms the
    package happened to use — a binding form the walk is blind to is a
    reopened rewrite-without-regrade hole.  Each source below binds
    operators.sketches.bloom_build a different way; the walk must
    surface it every time."""
    from flink_1_12_0_spark.grading import _static_refs

    from flink_1_12_0_spark.operators.sketches import bloom_build

    cases = {
        # from <pkg> import <module>; module.attr (module never reaches
        # the defining module's globals when imported function-locally)
        "from_import_module": (
            "def q():\n"
            "    from flink_1_12_0_spark.operators import sketches\n"
            "    return sketches.bloom_build\n",
            "flink_1_12_0_spark.queries.llm_corpus"),
        # from . import <module> (ImportFrom with module=None)
        "from_dot_import_module": (
            "def q():\n"
            "    from . import sketches\n"
            "    return sketches.bloom_build\n",
            "flink_1_12_0_spark.operators.ann"),
        # import <pkg>.<module> as alias
        "import_as_alias": (
            "def q():\n"
            "    import flink_1_12_0_spark.operators.sketches as sk\n"
            "    return sk.bloom_build\n",
            "flink_1_12_0_spark.queries.llm_corpus"),
        # relative import written in a package __init__: level 1 anchors
        # at the package ITSELF (a bare rsplit strips one level too many)
        "relative_in_package_init": (
            "def q():\n"
            "    from .sketches import bloom_build\n"
            "    return bloom_build\n",
            "flink_1_12_0_spark.operators"),
    }
    for label, (src, module_name) in cases.items():
        refs = list(_static_refs(src, module_name))
        assert bloom_build in refs, (
            f"{label}: the closure walk missed bloom_build bound via "
            f"this form — refs found: "
            f"{[getattr(r, '__qualname__', r) for r in refs]}")


def test_recorded_hashes_current():
    """The committed graded_text_hashes.json is a fold-in of the current
    registry: every entry names a registered query that some committed
    CORRECTNESS file graded green, and holds a text hash.  A renamed or
    deleted query leaves an orphan here until the next fold-in drops it."""
    registry.load_all()
    recorded = grading.recorded_hashes()
    orphans = sorted(set(recorded) - grading.graded())
    assert not orphans, orphans
    malformed = sorted(n for n, h in recorded.items()
                       if len(h) != 16 or set(h) - set("0123456789abcdef"))
    assert not malformed, malformed


def test_sql_pair_text_change_flips_its_hash(monkeypatch):
    """A row registered through ``_sql_pair`` binds its Spark SQL as the
    ``_s`` default of a shared ``_fn``; editing that SQL must flip the
    row's hash (and only that row's), like a ``register_sql`` edit does."""
    registry.load_all()
    name, other = "sim_ann_recall_ivfadc", "sim_cosine_topk"
    fn = registry.QUERIES[name]
    assert fn.__qualname__ == "_sql_pair.<locals>._fn"
    before = {n: grading.text_hash(n) for n in (name, other)}
    (sql,) = fn.__defaults__
    monkeypatch.setattr(fn, "__defaults__", (sql + " LIMIT 1",))
    assert grading.text_hash(name) != before[name]
    assert grading.text_hash(other) == before[other]
