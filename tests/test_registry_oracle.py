"""Master correctness suite: every registered query with an oracle is run on
Spark and DuckDB at sf0.001 and compared — the local mirror of the driver's
t2 gate (which runs at sf0.01)."""

from __future__ import annotations

import os

import pytest

from flink_1_12_0_spark import registry
from tests.conftest import SF_DIR, SF_DIR_T2
from tests.utils import assert_matches_oracle


def _cases():
    registry.load_all()
    return sorted(registry.QUERIES)


@pytest.mark.parametrize("name", _cases())
def test_query_matches_oracle(name, spark, duck):
    fn = registry.QUERIES[name]
    df = fn(spark, SF_DIR)
    assert df is not None
    if name in registry.ORACLES:
        assert_matches_oracle(df, duck, registry.ORACLES[name], name)
    else:
        # rows-only check (non-SQL-expressible operators)
        assert df.count() >= 0


#: Tables referenced by oracles, largest-first, for the input-size term of
#: the order-noise bound.
_FIXTURE_TABLES = ("lineitem", "orders", "events", "part", "customer",
                   "supplier", "embeddings", "documents", "nation", "region")

#: 2dp half-boundary spacing: a float within `margin` of a *.xx5 point can
#: round either way under the gate's round-to-2dp.
_ORDER_MARGIN = 0.005
_ORDER_SAFETY = 10.0

#: (query, column) -> reason, for columns the taint analysis flags but a
#: hand audit shows cannot flip.  A vet entry is only honored when the
#: column's worst-case order-noise bound is under _ORDER_MARGIN / 2 —
#: anything noisier MUST be rewritten in fixed-point, not vetted (round 5:
#: the driver flipped a value our old boundary-distance heuristic called
#: safe at 0.0047 from the boundary, because its noise bound was 0.02).
_ORDER_VETTED: dict[tuple, str] = {}

#: query -> reason, for WHERE/HAVING/ON comparisons over order-dependent
#: floats (row MEMBERSHIP can flip, not just the rendering).
_PREDICATE_VETTED: dict[str, str] = {}


def test_fixture_fixed_point_assumptions(duck):
    """The fixed-point rewrites (CAST(round(x * 10^k) AS BIGINT)) and the
    taint analysis's integer-column list are exact only while the fixture
    money columns are 2dp decimals and l_quantity is integer-valued.
    Pin those properties so a fixture drift can't silently turn the
    "exact integer" aggregations back into lossy ones."""
    for col, tb in [("o_totalprice", "orders"), ("l_extendedprice", "lineitem"),
                    ("l_discount", "lineitem"), ("l_tax", "lineitem"),
                    ("c_acctbal", "customer"), ("s_acctbal", "supplier"),
                    ("p_retailprice", "part"), ("value", "events")]:
        n = duck.execute(
            f"SELECT count(*) FROM {tb} WHERE round({col}, 2) <> {col}"
        ).fetchone()[0]
        assert n == 0, f"{tb}.{col}: {n} values are not exact 2dp decimals"
    n = duck.execute(
        "SELECT count(*) FROM lineitem WHERE round(l_quantity) <> l_quantity"
    ).fetchone()[0]
    assert n == 0, f"l_quantity has {n} non-integer values"


def test_no_order_dependent_float_outputs():
    """Order-dependence guard, round-6 form.

    Round 5 proved boundary DISTANCE is no defense: the driver flipped
    tpcds_frequent_items_spenders.focus_revenue at 0.0047 from a 2dp
    half-boundary, because an unrounded ~60k-term double sum at 3e9
    magnitude carries worst-case order noise ~n*eps*sum|x| ~ 0.02 — wider
    than the margin itself.  This guard therefore flags STRUCTURE, not
    position: every float output column whose defining expression (traced
    through CTE aliases by tests/float_taint.py) contains an
    order-dependent aggregate over non-integer input must satisfy
    bound * safety < its values' distance to the nearest half-boundary,
    where bound = n_input_rows * eps * sum|values| is a worst-case bound
    on how far two summation orders can disagree.  Columns that can't
    satisfy it get rewritten in per-row fixed point (exact integer sums
    are order-free); comparisons over tainted floats (membership flips)
    must be eliminated the same way.  Runs at the driver's grading SF."""
    import duckdb
    import numpy as np

    from tests.float_taint import analyze, tainted_predicates

    registry.load_all()
    con = duckdb.connect()
    sizes = {}
    for t in _FIXTURE_TABLES:
        path = os.path.join(SF_DIR_T2, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        sizes[t] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
    eps = 2.0 ** -53

    bad: list[str] = []
    for name, sql in sorted(registry.ORACLES.items()):
        info = analyze(con, sql)
        assert info is not None, f"{name}: oracle not serializable for audit"
        tainted, known = info["tainted"], info["known_names"]
        preds = tainted_predicates(con, sql)
        if preds and name not in _PREDICATE_VETTED:
            bad.append(f"{name}: order-dependent float comparison(s) {preds}")
        if not tainted and not info["any_unsafe"]:
            continue
        df = con.execute(sql).df()
        # input-size term from BASE_TABLE nodes in the AST, not substring
        # matching (l_partkey used to match 'part').
        n_in = max((sizes[t] for t in info["tables"] if t in sizes), default=0)
        for col in df.columns:
            if df[col].dtype.kind != "f":
                continue
            if col.lower() not in known:
                # auto-generated name for an unaliased expression: taint
                # propagation can't see it, so it must not silently skip.
                bad.append(
                    f"{name}.{col}: float output column without an explicit "
                    f"alias — taint analysis cannot track it; add AS <name>"
                )
                continue
            if col.lower() not in tainted:
                continue
            v = np.abs(df[col].dropna().to_numpy())
            if not len(v):
                continue
            bound = n_in * eps * max(float(v.sum()), float(v.max()))
            dist = float(np.min(np.abs((v * 100) % 1 - 0.5))) / 100
            if bound * _ORDER_SAFETY < dist:
                continue
            if (name, col) in _ORDER_VETTED and bound < _ORDER_MARGIN / 2:
                continue
            bad.append(
                f"{name}.{col}: order-noise bound {bound:.2e} vs boundary "
                f"distance {dist:.2e} — rewrite in per-row fixed point "
                f"(CAST(round(x*10^k) AS BIGINT) summed) or, if bound is "
                f"provably tiny, vet with a reason"
            )
    assert not bad, "order-dependent float outputs:\n  " + "\n  ".join(bad)


def test_graded_text_unchanged():
    """Rewrite-without-regrade guard (round 6 rewrote 35 queries' text but
    regraded only the 8 inside the old window, leaving 27 green
    rows grading superseded text).

    tests/graded_text_hashes.json snapshots each graded query's defining
    text (oracle SQL + Spark side + the transitive package-local helper
    closure) at fold-in time (scripts/record_text_hashes.py).  Changing a
    graded query's text — its own source OR a helper it statically
    reaches — makes it superseded, and ordered_queries() must then place
    it ahead of every name whose grade still holds, so the next grading
    window re-proves it.

    SCOPE: the closure walk (tests/test_text_hash_closure.py pins it)
    sees static references only — dynamic dispatch and data files stay
    out of reach.  Those are gated by the full-registry sf0.01
    oracle sweep (scripts/sweep_sf001.py), which re-executes every
    graded query's current implementation against its oracle."""
    from flink_1_12_0_spark import grading

    recorded = grading.recorded_hashes()
    current = grading.current_hashes()
    changed = {n for n in current if recorded.get(n) != current[n]}
    ordered = list(registry.ordered_queries())
    holding = [i for i, n in enumerate(ordered)
               if n in current and n not in changed]
    late = sorted(n for n in changed if holding
                  and ordered.index(n) > holding[0])
    assert not late, (
        "graded queries whose text changed since their grade sort behind "
        f"a still-valid grade: {late}")


def test_every_oracle_nonempty(duck):
    """Vacuous-green guard: an engine/oracle pair that agree on an EMPTY
    result verify nothing about the operator's logic (round-3 verdict
    found stream_coprocess_control green with 0-vs-0 rows — plus nine
    more: six TPC-H queries whose spec constants matched nothing in the
    fixture, join_left_anti, and the two whole-payload dedups).  Every
    oracle must return at least one row at sf0.001 so no future fixture
    drifts back to a trivially-true match.  DuckDB-only: cheap enough to
    sweep all oracles in one test."""
    registry.load_all()
    empty = []
    for name, sql in sorted(registry.ORACLES.items()):
        n = duck.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if n == 0:
            empty.append(name)
    assert not empty, f"oracles with vacuously-empty results at sf0.001: {empty}"
