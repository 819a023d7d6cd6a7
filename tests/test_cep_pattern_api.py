"""flink-cep fluent Pattern API surface (Pattern.java begin/next/
followedBy/times/within) compiled onto the Step NFA."""

from __future__ import annotations

import pandas as pd

from flink_1_12_0_spark.operators.cep import Pattern


def _df(spark, types):
    pdf = pd.DataFrame(
        {
            "k": [1] * len(types),
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:%02d" % i for i in range(len(types))]
            ),
            "typ": list(types),
            "v": [float(i) for i in range(len(types))],
        }
    )
    return spark.createDataFrame(pdf)


def test_followed_by_skips_gap_events(spark):
    """a followedBy c matches across non-c gap events (SKIP_TILL_NEXT):
    the FIRST c after the anchor, not the last."""
    df = _df(spark, "axxcxc")
    out = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .followed_by("C", lambda r: r["typ"] == "c")
        .select(df, ["k"], ["ts"], [("c_v", lambda m: m.first("C", "v"))],
                "k bigint, c_v double")
    ).collect()
    assert [(r["k"], r["c_v"]) for r in out] == [(1, 3.0)]


def test_next_requires_strict_contiguity(spark):
    df = _df(spark, "axc")
    out = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .next("C", lambda r: r["typ"] == "c")
        .select(df, ["k"], ["ts"], [("n", lambda m: m.count("C"))],
                "k bigint, n bigint")
    ).collect()
    assert out == []


def test_times_and_within(spark):
    df = _df(spark, "bbba")
    p = (
        Pattern.begin("B", lambda r: r["typ"] == "b").times(2, 3)
        .next("A", lambda r: r["typ"] == "a")
        .within(120)
    )
    out = p.select(df, ["k"], ["ts"], [("nb", lambda m: m.count("B"))],
                   "k bigint, nb bigint").collect()
    assert [(r["k"], r["nb"]) for r in out] == [(1, 3)]


def test_followed_by_chain_matches_mr_filler(spark):
    """a followedBy b followedBy c == PATTERN (A G1*? B G2*? C) with
    reluctant fillers — equivalence against the SQL front-end."""
    from flink_1_12_0_spark.plans.match_recognize_sql import run_match_recognize

    df = _df(spark, "axbxcaxbc")
    api = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .followed_by("B", lambda r: r["typ"] == "b")
        .followed_by("C", lambda r: r["typ"] == "c")
        .select(df, ["k"], ["ts"],
                [("b_v", lambda m: m.first("B", "v")),
                 ("c_v", lambda m: m.first("C", "v"))],
                "k bigint, b_v double, c_v double")
    ).collect()
    sql = run_match_recognize(spark, """
        SELECT * FROM t MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES FIRST(B.v) AS b_v, FIRST(C.v) AS c_v
            PATTERN (A G1*? B G2*? C)
            DEFINE A AS A.typ = 'a', B AS B.typ = 'b', C AS C.typ = 'c'
        )""", df=df).collect()
    assert sorted(map(tuple, api)) == sorted(map(tuple, sql)) and len(api) == 2


def test_not_followed_by(spark):
    """a notFollowedBy(x) followedBy(c): an x event between a and c kills
    the match; other gap events are fine."""
    from flink_1_12_0_spark.operators.cep import Pattern

    def build(df):
        return (
            Pattern.begin("A", lambda r: r["typ"] == "a")
            .not_followed_by(lambda r: r["typ"] == "x")
            .followed_by("C", lambda r: r["typ"] == "c")
            .select(df, ["k"], ["ts"], [("c_v", lambda m: m.first("C", "v"))],
                    "k bigint, c_v double")
        ).collect()

    assert build(_df(spark, "abc")) == [(1, 2.0)] or \
        [(r["k"], r["c_v"]) for r in build(_df(spark, "abc"))] == [(1, 2.0)]
    assert build(_df(spark, "axc")) == []
    # a x a b c: first anchor poisoned by x, second a matches through b
    got = [(r["k"], r["c_v"]) for r in build(_df(spark, "axabc"))]
    assert got == [(1, 4.0)]


def test_select_timeouts_side_output(spark):
    """Timeout side output (TimedOutPartialMatchHandler): pattern E+ P —
    every begin-error whose partial never completes emits a timeout with
    the partial's span; errors consumed by a completed match do not."""
    from flink_1_12_0_spark.operators.cep import Pattern

    # e e p consumes [0,1,2]; trailing e e at 4,5 abandon (one timeout per
    # begin-event: spans [4,5] and [5])
    df = _df(spark, "eepxee")
    pat = (
        Pattern.begin("E", lambda r: r["typ"] == "e").one_or_more()
        .next("P", lambda r: r["typ"] == "p")
    )
    out = pat.select_timeouts(
        df, ["k"], ["ts"], [("n_e", lambda m: m.count("E")),
                            ("first_v", lambda m: m.first("E", "v")),
                            ("p_v", lambda m: m.first("P", "v"))],
        "k bigint, n_e bigint, first_v double, p_v double",
    )
    got = sorted((r["n_e"], r["first_v"], r["p_v"]) for r in out.collect())
    assert got == [(1, 5.0, None), (2, 4.0, None)]


def test_select_timeouts_within_horizon(spark):
    """WITHIN bounds the partial: a match completing past the horizon is a
    timeout whose partial stops at the horizon."""
    from flink_1_12_0_spark.operators.cep import Pattern

    # e at t=0, p at t=5 — within 3s the purchase is out of reach: the
    # anchor times out with just the error; with within 10s it matches.
    pdf = pd.DataFrame(
        {
            "k": [1, 1],
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:00:05"]),
            "typ": ["e", "p"],
            "v": [0.0, 1.0],
        }
    )
    df = spark.createDataFrame(pdf)

    def run(within):
        pat = (
            Pattern.begin("E", lambda r: r["typ"] == "e").one_or_more()
            .next("P", lambda r: r["typ"] == "p")
        )
        if within:
            pat = pat.within(within)
        m = pat.select(df, ["k"], ["ts"],
                       [("p_v", lambda m_: m_.first("P", "v"))], "k bigint, p_v double")
        t = pat.select_timeouts(df, ["k"], ["ts"],
                                [("n_e", lambda m_: m_.count("E"))], "k bigint, n_e bigint")
        return m.count(), t.count()

    assert run(3.0) == (0, 1)
    assert run(10.0) == (1, 0)


def test_followed_by_any_enumerates_every_alternative(spark):
    """followedByAny branches on EVERY qualifying event after the anchor
    (SKIP_TILL_ANY), where followedBy binds only the first."""
    df = _df(spark, "axcxc")
    pat = Pattern.begin("A", lambda r: r["typ"] == "a").followed_by_any(
        "C", lambda r: r["typ"] == "c"
    )
    out = pat.select(
        df, ["k"], ["ts"], [("c_v", lambda m: m.first("C", "v"))],
        "k bigint, c_v double",
    ).collect()
    assert sorted(r["c_v"] for r in out) == [2.0, 4.0]


def test_followed_by_any_multiple_anchors(spark):
    """Each anchor enumerates independently: 2 a's x 2 c's = 4 matches."""
    df = _df(spark, "acac")
    pat = Pattern.begin("A", lambda r: r["typ"] == "a").followed_by_any(
        "C", lambda r: r["typ"] == "c"
    )
    out = pat.select(
        df, ["k"], ["ts"],
        [("a_v", lambda m: m.first("A", "v")), ("c_v", lambda m: m.first("C", "v"))],
        "k bigint, a_v double, c_v double",
    ).collect()
    assert sorted((r["a_v"], r["c_v"]) for r in out) == [
        (0.0, 1.0), (0.0, 3.0), (2.0, 3.0)]


def test_or_condition_widens_variable(spark):
    df = _df(spark, "abcx")
    pat = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .or_(lambda r: r["typ"] == "b")
        .one_or_more()
        .next("C", lambda r: r["typ"] == "c")
    )
    out = pat.select(
        df, ["k"], ["ts"], [("n_a", lambda m: m.count("A"))],
        "k bigint, n_a bigint",
    ).collect()
    assert [r["n_a"] for r in out] == [2]


def test_until_stops_unbounded_loop(spark):
    """until(stop) keeps the loop from taking the stop event — without it
    the greedy any-event loop would swallow the 'c' too."""
    df = _df(spark, "xyzc")
    pat = (
        Pattern.begin("A", lambda r: True)
        .one_or_more()
        .until(lambda r: r["typ"] == "c")
        .next("C", lambda r: r["typ"] == "c")
    )
    out = pat.select(
        df, ["k"], ["ts"], [("n_a", lambda m: m.count("A"))],
        "k bigint, n_a bigint",
    ).collect()
    assert [r["n_a"] for r in out] == [3]


def test_until_requires_unbounded_loop():
    import pytest

    p = Pattern.begin("A", lambda r: True)
    with pytest.raises(ValueError, match="unbounded"):
        p.until(lambda r: False)


def test_group_pattern_times_repeats_subpattern(spark):
    """(V C).times(2) == V C V C, variables suffixed per repetition and
    addressable as a SUBSET tuple."""
    df = _df(spark, "vcvcx")
    sub = Pattern.begin("V", lambda r: r["typ"] == "v").next(
        "C", lambda r: r["typ"] == "c"
    )
    pat = Pattern.begin_group(sub).times(2)
    out = pat.select(
        df, ["k"], ["ts"],
        [
            ("v1", lambda m: m.first("V#1", "v")),
            ("c2", lambda m: m.first("C#2", "v")),
            ("n_v", lambda m: m.count(("V#1", "V#2"))),
        ],
        "k bigint, v1 double, c2 double, n_v bigint",
    ).collect()
    assert [(r["v1"], r["c2"], r["n_v"]) for r in out] == [(0.0, 3.0, 2)]


def test_group_pattern_then_chain(spark):
    """A group can be followed by further variables."""
    df = _df(spark, "vcvcp")
    sub = Pattern.begin("V", lambda r: r["typ"] == "v").next(
        "C", lambda r: r["typ"] == "c"
    )
    pat = Pattern.begin_group(sub).times(2).next("P", lambda r: r["typ"] == "p")
    out = pat.select(
        df, ["k"], ["ts"], [("p_v", lambda m: m.first("P", "v"))],
        "k bigint, p_v double",
    ).collect()
    assert [r["p_v"] for r in out] == [4.0]


def test_skip_till_next_loop_skips_gaps(spark):
    """Relaxed internal contiguity (reference default for loops): the
    loop takes every 'a' across gap events; strict default takes only
    the contiguous run ending right before 'c'."""
    df = _df(spark, "axaxac")
    relaxed = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .one_or_more()
        .skip_till_next()
        .next("C", lambda r: r["typ"] == "c")
    )
    out = relaxed.select(
        df, ["k"], ["ts"], [("n_a", lambda m: m.count("A"))],
        "k bigint, n_a bigint",
    ).collect()
    assert [r["n_a"] for r in out] == [3]


def test_consecutive_is_explicit_strict(spark):
    """consecutive() == this engine's default: only the 'a' adjacent to
    'c' matches on the same sequence."""
    df = _df(spark, "axaxac")
    strict = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .one_or_more()
        .consecutive()
        .next("C", lambda r: r["typ"] == "c")
    )
    out = strict.select(
        df, ["k"], ["ts"], [("n_a", lambda m: m.count("A"))],
        "k bigint, n_a bigint",
    ).collect()
    assert [r["n_a"] for r in out] == [1]


def test_allow_combinations_enumerates_subsets(spark):
    """allowCombinations (SKIP_TILL_ANY loops): 'aac' yields both the
    {a0,a1} taking and the single-{a1} taking (anchored one row later),
    where strict/greedy emits only the maximal one."""
    df = _df(spark, "aac")
    pat = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .one_or_more()
        .allow_combinations()
        .next("C", lambda r: r["typ"] == "c")
    )
    out = pat.select(
        df, ["k"], ["ts"], [("n_a", lambda m: m.count("A"))],
        "k bigint, n_a bigint",
    ).collect()
    assert sorted(r["n_a"] for r in out) == [1, 2]


def test_allow_combinations_skips_matching_rows(spark):
    """'aaac' with a strict next C: only subsets whose LAST taken 'a' is
    adjacent to 'c' match — anchor 0 gives {a0,a2} (skipping the matching
    a1!) and {a0,a1,a2}; anchor 1 gives {a1,a2}; anchor 2 gives {a2}.
    Relaxed (skip_till_next) could never skip a1 — it emits only the
    maximal prefix per anchor."""
    df = _df(spark, "aaac")
    comb = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .one_or_more()
        .allow_combinations()
        .next("C", lambda r: r["typ"] == "c")
    )
    out = comb.select(
        df, ["k"], ["ts"], [("n_a", lambda m: m.count("A"))],
        "k bigint, n_a bigint",
    ).collect()
    assert sorted(r["n_a"] for r in out) == [1, 2, 2, 3]


def test_stream_rejects_allow_combinations(spark):
    import pytest

    from flink_1_12_0_spark.operators.cep import match_recognize_stream

    df = _df(spark, "ac")
    pat = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .one_or_more()
        .allow_combinations()
    )
    with pytest.raises(ValueError, match="batch-only"):
        match_recognize_stream(
            df, ["k"], ["ts"], pat._steps,
            [("n_a", lambda m: m.count("A"))],
            "k bigint, n_a bigint", within=60.0,
        )


def test_stream_rejects_followed_by_any(spark):
    """followedByAny emits every alternative in batch; the streaming
    buffer keeps one match per anchor, so it must refuse, not diverge."""
    import pytest

    from flink_1_12_0_spark.operators.cep import match_recognize_stream

    pat = Pattern.begin("A", lambda r: r["typ"] == "a").followed_by_any(
        "C", lambda r: r["typ"] == "c"
    )
    with pytest.raises(ValueError, match="batch-only"):
        match_recognize_stream(
            _df(spark, "acc"), ["k"], ["ts"], pat._steps,
            [("c_v", lambda m: m.first("C", "v"))],
            "k bigint, c_v double", within=60.0,
        )


def test_where_conjoins_and_times_or_more(spark):
    """where() ANDs with the existing condition (Pattern.java:157);
    timesOrMore sets an unbounded lower-bounded loop."""
    df = _df(spark, "aaabc")
    pat = (
        Pattern.begin("A", lambda r: r["typ"] in ("a", "b"))
        .where(lambda r: r["typ"] != "b")   # conjoined: only plain 'a'
        .times_or_more(2)
        .next("C", lambda r: r["typ"] == "c")
    )
    out = pat.select(
        df, ["k"], ["ts"], [("n_a", lambda m: m.count("A"))],
        "k bigint, n_a bigint",
    ).collect()
    # the 'b' at index 3 fails the conjoined predicate, so A{2,} cannot
    # reach the 'c' from the a-run — no match
    assert out == []
    # without the conjunction the b is accepted and the run reaches c
    pat2 = (
        Pattern.begin("A", lambda r: r["typ"] in ("a", "b"))
        .times_or_more(2)
        .next("C", lambda r: r["typ"] == "c")
    )
    out2 = pat2.select(
        df, ["k"], ["ts"], [("n_a", lambda m: m.count("A"))],
        "k bigint, n_a bigint",
    ).collect()
    assert [r["n_a"] for r in out2] == [4]


def test_combinations_rejects_late_ctx_predicate(spark):
    """where() attaching a navigating predicate AFTER allow_combinations()
    must still be rejected at match time (branch-dependent navigation)."""
    import pytest

    def nav(r, ctx=None):
        return True

    nav.needs_ctx = True
    df = _df(spark, "aac")
    pat = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .one_or_more()
        .allow_combinations()
        .where(nav)
        .next("C", lambda r: r["typ"] == "c")
    )
    with pytest.raises(Exception, match="ctx-navigating"):
        pat.select(
            df, ["k"], ["ts"], [("n", lambda m: m.count("A"))],
            "k bigint, n bigint",
        ).collect()


def test_not_next_kills_on_immediate_negative(spark):
    """a notNext(x) followedBy(c): an x IMMEDIATELY after a kills the
    match; an x deeper in the gap is fine (contrast notFollowedBy)."""

    def build(df):
        out = (
            Pattern.begin("A", lambda r: r["typ"] == "a")
            .not_next(lambda r: r["typ"] == "x")
            .followed_by("C", lambda r: r["typ"] == "c")
            .select(df, ["k"], ["ts"], [("c_v", lambda m: m.first("C", "v"))],
                    "k bigint, c_v double")
        ).collect()
        return [(r["k"], r["c_v"]) for r in out]

    assert build(_df(spark, "axc")) == []          # immediate x: dead
    assert build(_df(spark, "abxc")) == [(1, 3.0)]  # later x: alive
    assert build(_df(spark, "ac")) == [(1, 1.0)]    # c itself is the successor
    # first anchor poisoned, second anchor matches
    assert build(_df(spark, "axac")) == [(1, 3.0)]


def test_not_next_then_next_collapses_to_and(spark):
    """a notNext(b-with-high-v) next(B): B is the immediate successor, so
    the negation ANDs onto B's own condition."""
    out = (
        Pattern.begin("A", lambda r: r["typ"] == "a")
        .not_next(lambda r: r["v"] >= 2.0)
        .next("B", lambda r: r["typ"] == "b")
        .select(_df(spark, "abab"), ["k"], ["ts"],
                [("b_v", lambda m: m.first("B", "v"))],
                "k bigint, b_v double")
    ).collect()
    # a@0 b@1 matches (v=1 < 2); a@2 b@3 killed (v=3 >= 2)
    assert [(r["k"], r["b_v"]) for r in out] == [(1, 1.0)]


def test_not_next_cannot_end_pattern(spark):
    import pytest

    pat = Pattern.begin("A", lambda r: r["typ"] == "a").not_next(
        lambda r: r["typ"] == "x"
    )
    with pytest.raises(ValueError):
        pat.select(_df(spark, "ax"), ["k"], ["ts"], [], "k bigint")
