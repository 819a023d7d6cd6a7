"""Registry-contract guards: the grading window the driver sees."""

from __future__ import annotations

import json

import pytest

from flink_1_12_0_spark import grading, registry


def setup_module():
    registry.load_all()


@pytest.fixture(scope="module")
def derived():
    """(grade ages, superseded set) as ordered_queries() derives them."""
    ages = grading.grade_ages()
    stale = grading.superseded(grading.current_hashes(),
                               grading.recorded_hashes())
    return ages, stale


def _debt(ages, stale) -> set[str]:
    return {n for n in registry.QUERIES if n not in ages or n in stale}


def test_grading_window_debt_first(derived):
    """The grader takes queries()[:50].  Every slot goes first to the
    verification DEBT — names never graded plus superseded greens
    (text rewritten after their grade) — and only once ALL debt is inside
    the window may spare slots re-prove genuinely-graded names."""
    ordered = list(registry.ordered_queries())
    window = ordered[:50]
    debt = _debt(*derived)
    if len(debt) >= 50:
        spent_on_green = [n for n in window if n not in debt]
        assert not spent_on_green, (
            f"window wastes slots on already-green while debt overflows: "
            f"{spent_on_green}"
        )
    else:
        outside = [n for n in debt if n not in window]
        assert not outside, f"verification debt outside the window: {outside}"
    # and everything in the registry appears exactly once
    assert sorted(ordered) == sorted(registry.QUERIES)


def test_superseded_greens_sort_ahead_of_graded_tail(derived):
    """A green row that grades rewritten text must not hide in the graded
    tail: superseded names not already in the window must come before any
    genuinely-graded query, so they head the NEXT round's window."""
    _, stale = derived
    ordered = list(registry.ordered_queries())
    window = set(ordered[:50])
    pending = [n for n in stale if n not in window]
    tail = ordered[50:]
    assert set(tail[: len(pending)]) == set(pending), (
        f"superseded greens not at the head of the post-window tail: {tail[:8]}"
    )


def test_every_query_has_oracle_or_is_documented():
    """Every queries() entry should carry a DuckDB oracle — rows-only
    checks are reserved for genuinely non-SQL-expressible operators, of
    which we currently have none."""
    no_oracle = [n for n in registry.QUERIES if n not in registry.ORACLES]
    assert not no_oracle, f"queries without oracle: {no_oracle}"


def test_window_is_debt_then_pins_then_oldest_grade(derived):
    """The standing window policy, free of any round's manifest: debt
    first (superseded before never-graded), then the family-coverage pins
    in list order, then the graded names with non-decreasing grade age,
    ties in registration order."""
    ages, stale = derived
    ordered = list(registry.ordered_queries())
    debt = _debt(ages, stale)
    head = ordered[: len(debt)]
    assert set(head) == debt
    n_stale = len(stale & set(registry.QUERIES))
    assert set(head[:n_stale]) == stale & set(registry.QUERIES)
    pins = [n for n in registry.FAMILY_REGRADE_PINS if n not in debt]
    assert ordered[len(debt): len(debt) + len(pins)] == pins
    tail = ordered[len(debt) + len(pins):]
    keys = [(ages[n], list(registry.QUERIES).index(n)) for n in tail]
    assert keys == sorted(keys), "graded tail not oldest-grade-first"


def test_family_pins_registered_and_short():
    """Every pin must be a real registered query, and the list stays
    short — each pin displaces a stale-regrade slot in the window."""
    missing = [n for n in registry.FAMILY_REGRADE_PINS
               if n not in registry.QUERIES]
    assert not missing, f"FAMILY_REGRADE_PINS names not registered: {missing}"
    assert len(registry.FAMILY_REGRADE_PINS) <= 2


def test_window_order_policy_on_synthetic_state():
    """The same policy on a state that has every class of name (the live
    registry may have no debt at all): superseded, never graded, pin,
    then grade age with registration order breaking ties; a pin that is
    itself debt keeps its debt slot."""
    pin = registry.FAMILY_REGRADE_PINS[0]
    names = ["g12", pin, "g3", "never", "stale", "g3b"]
    ages = {"g12": 12, pin: 15, "g3": 3, "stale": 9, "g3b": 3}
    assert registry.window_order(names, ages, {"stale"}) == [
        "stale", "never", pin, "g3", "g3b", "g12"]
    assert registry.window_order(["never", pin, "g3"], {"g3": 3}, set()) == [
        "never", pin, "g3"]


def test_green_entry_advances_grade_age_and_red_does_not(tmp_path):
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    wrong = dict(green, hash_match=False, oracle_rows=2)
    crashed = dict(green, rows_match=None, schema_match=None,
                   hash_match=None, err="Traceback ...")

    def write(rnd: int, rows: dict) -> None:
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps(rows))

    write(3, {"a": green, "b": green, "c": crashed})
    write(7, {"a": green, "b": wrong, "d": crashed})
    write(12, {"c": green, "b": crashed})
    ages = grading.grade_ages(grading.correctness_files(str(tmp_path)))
    assert ages == {"a": 7, "b": 3, "c": 12}


@pytest.fixture
def fresh_window():
    """Drop the per-process window cache after the test patched its inputs."""
    yield
    registry._window.cache_clear()


def test_recorded_hash_mismatch_heads_the_window(derived, tmp_path,
                                                 monkeypatch, fresh_window):
    """A graded name whose recorded hash no longer matches its text is
    superseded: ordered_queries() moves it from the graded tail to the
    head of the window, behind nothing but other superseded names."""
    _, stale = derived
    name = list(registry.ordered_queries())[-1]
    assert name not in stale
    recorded = grading.recorded_hashes()
    recorded[name] = "0" * 16
    path = tmp_path / "graded_text_hashes.json"
    path.write_text(json.dumps(recorded))
    monkeypatch.setattr(grading, "HASHES_PATH", str(path))
    registry._window.cache_clear()
    after = list(registry.ordered_queries())
    assert set(after[: after.index(name)]) <= stale
