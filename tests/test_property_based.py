"""Property-based tests for the custom operators (SURVEY §5 harness-test
analog): random inputs checked against independent reference
implementations — pandas ``merge_asof`` for the as-of join, a brute-force
scanner for the CEP NFA."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# --- as-of join vs pandas.merge_asof ----------------------------------------

_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=50),     # ts (seconds)
        st.integers(min_value=0, max_value=999),    # payload
    ),
    min_size=1,
    max_size=25,
)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_rows, right=_rows)
def test_asof_join_matches_pandas_merge_asof(_spark, left, right):
    from flink_1_12_0_spark.operators.joins import asof_join

    spark = _spark
    # dedupe (key, ts) on the right so the winner is unique (the operator
    # exposes right_tiebreak for the ambiguous case; merge_asof takes the
    # last listed, which is order-dependent — so remove the ambiguity)
    rd = {}
    for k, ts, v in right:
        rd[(k, ts)] = max(v, rd.get((k, ts), -1))
    right_u = [(k, ts, v) for (k, ts), v in sorted(rd.items())]

    lpdf = pd.DataFrame(left, columns=["k", "ts_s", "lv"]).reset_index(names="lid")
    rpdf = pd.DataFrame(right_u, columns=["k", "ts_s", "rv"])
    to_ts = lambda s: pd.to_datetime(s, unit="s")
    lpdf["ts"], rpdf["ts"] = to_ts(lpdf["ts_s"]), to_ts(rpdf["ts_s"])

    ldf = spark.createDataFrame(lpdf[["lid", "k", "ts", "lv"]])
    rdf = spark.createDataFrame(rpdf[["k", "ts", "rv"]])
    got = {
        r["lid"]: r["r_rv"]
        for r in asof_join(
            ldf, rdf, ["k"], "ts", "ts", right_cols=["rv"]
        ).collect()
    }

    want_df = pd.merge_asof(
        lpdf.sort_values(["ts", "lid"], kind="mergesort"),
        rpdf.sort_values("ts", kind="mergesort"),
        on="ts",
        by="k",
        direction="backward",
    )
    want = {int(r.lid): (None if pd.isna(r.rv) else int(r.rv)) for r in want_df.itertuples()}
    assert got == want


# --- CEP NFA vs brute-force scanner (no Spark needed) ------------------------


def _brute_force_eplus_p(symbols):
    """Reference: maximal runs of 'E' immediately followed by 'P', skip
    past last row."""
    out, i = [], 0
    while i < len(symbols):
        if symbols[i] == "E":
            j = i
            while j < len(symbols) and symbols[j] == "E":
                j += 1
            if j < len(symbols) and symbols[j] == "P":
                out.append((i, j - i, j))  # (start, n_errors, p_idx)
                i = j + 1
                continue
            i = j
        else:
            i += 1
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from("EPVC"), min_size=0, max_size=40))
def test_nfa_matches_brute_force(symbols):
    from flink_1_12_0_spark.operators.cep import Step, _match_at

    steps = [
        Step("E", lambda r: r["sym"] == "E", 1, None),
        Step("P", lambda r: r["sym"] == "P"),
    ]
    rows = [{"sym": s, "ts": None, "i": i} for i, s in enumerate(symbols)]
    got, i = [], 0
    while i < len(rows):
        spans = _match_at(rows, i, steps, None, "ts")
        if spans:
            got.append((spans["E"][0], len(spans["E"]), spans["P"][0]))
            i = max(ix for v in spans.values() for ix in v) + 1
        else:
            i += 1
    assert got == _brute_force_eplus_p(symbols)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from("VCPX"), min_size=0, max_size=30))
def test_nfa_fixed_pattern_overlapping(symbols):
    """V C P with skip-to-next-row == every index window check."""
    from flink_1_12_0_spark.operators.cep import Step, _match_at

    steps = [
        Step("V", lambda r: r["sym"] == "V"),
        Step("C", lambda r: r["sym"] == "C"),
        Step("P", lambda r: r["sym"] == "P"),
    ]
    rows = [{"sym": s, "ts": None} for s in symbols]
    got = []
    for i in range(len(rows)):
        spans = _match_at(rows, i, steps, None, "ts")
        if spans:
            got.append(i)
    want = [
        i
        for i in range(len(symbols) - 2)
        if symbols[i] == "V" and symbols[i + 1] == "C" and symbols[i + 2] == "P"
    ]
    assert got == want


# --- CEP scan vs Python regex (independent semantics oracle) -----------------
# The NFA's contract — leftmost anchoring, greedy/reluctant quantifier
# backtracking, strict contiguity, AFTER MATCH SKIP PAST LAST ROW — is
# EXACTLY re.finditer semantics over a character string when every DEFINE
# predicate is a single character class.  Random strings + a pattern pool
# give an independent oracle for the trickiest code in the engine.

_PATTERNS = [
    # (steps spec, regex with one named group per var)
    ([("A", 1, 1, True), ("B", 1, None, True), ("C", 1, 1, True)],
     r"(?P<A>a)(?P<B>b+)(?P<C>c)"),
    ([("A", 1, 1, True), ("B", 1, None, False), ("C", 1, 1, True)],
     r"(?P<A>a)(?P<B>b+?)(?P<C>c)"),
    ([("A", 1, 1, True), ("B", 0, None, True), ("C", 1, 1, True)],
     r"(?P<A>a)(?P<B>b*)(?P<C>c)"),
    ([("A", 2, 3, True), ("B", 0, 1, True)],
     r"(?P<A>a{2,3})(?P<B>b?)"),
    ([("A", 1, 2, False), ("C", 1, 1, True)],
     r"(?P<A>a{1,2}?)(?P<C>c)"),
]


@given(
    s=st.text(alphabet="abcx", min_size=0, max_size=40),
    pi=st.integers(min_value=0, max_value=len(_PATTERNS) - 1),
)
@settings(max_examples=200, deadline=None)
def test_cep_scan_matches_regex(s, pi):
    import re

    from flink_1_12_0_spark.operators.cep import Step, _scan

    steps_spec, rx = _PATTERNS[pi]
    steps = [
        Step(var, (lambda ch: lambda r: r["c"] == ch)(var.lower()),
             lo, hi, greedy=greedy)
        for var, lo, hi, greedy in steps_spec
    ]
    pdf = pd.DataFrame({"c": list(s)})
    got = _scan(
        pdf, steps, None, "c", "past_last_row",
        [(f"{v}_span", (lambda vv: lambda m: (m.first(vv, "c"), m.count(vv)))(var))
         for var, *_ in steps_spec for v, vv in [(var, var)]],
        {},
    )
    want = []
    for m in re.finditer(rx, s):
        row = {}
        for var, *_ in steps_spec:
            g = m.group(var)
            row[f"{var}_span"] = ((g[0] if g else None), len(g or ""))
        want.append(row)
    assert got == want, f"s={s!r} rx={rx}"


# --- regex fast path vs Python NFA (differential) ----------------------------
# _scan auto-selects a compiled-regex scan when every DEFINE is mask-able;
# the Python NFA remains the general path (DEFINE navigation, >8 vars).
# Pin them to each other on random inputs — including WITHIN, AFTER MATCH
# variants and ALL ROWS PER MATCH, which the re.finditer oracle above
# doesn't cover.

_DIFF_PATTERNS = [
    [("E", 1, None, True), ("P", 1, 1, True)],
    [("A", 1, 2, False), ("B", 0, None, True), ("A", 1, 1, True)],
    [("A", 0, 1, True), ("B", 2, 3, True)],
    [("V", 1, 1, True), ("C", 1, None, False), ("P", 1, 1, True)],
]


def _scan_both(monkeypatch_none, pdf, steps, within_s, ts_col, after_match,
               measures, rows_per_match="one", data_cols=()):
    from flink_1_12_0_spark.operators import cep

    fast = cep._scan(pdf, steps, within_s, ts_col, after_match, measures, {},
                     rows_per_match, data_cols)
    orig = cep._compile_regex
    cep._compile_regex = lambda steps: None  # force the Python NFA
    try:
        slow = cep._scan(pdf, steps, within_s, ts_col, after_match, measures,
                         {}, rows_per_match, data_cols)
    finally:
        cep._compile_regex = orig
    return fast, slow


@given(
    s=st.text(alphabet="EPABVCx", min_size=0, max_size=35),
    pi=st.integers(min_value=0, max_value=len(_DIFF_PATTERNS) - 1),
    gaps=st.lists(st.integers(min_value=0, max_value=9), min_size=35, max_size=35),
    within=st.sampled_from([None, 3.0, 10.0]),
    am=st.sampled_from(["past_last_row", "next_row"]),
    rpm=st.sampled_from(["one", "all"]),
)
@settings(max_examples=150, deadline=None)
def test_cep_regex_path_matches_nfa(s, pi, gaps, within, am, rpm):
    import pandas as pd

    from flink_1_12_0_spark.operators.cep import Step

    spec = _DIFF_PATTERNS[pi]
    steps = [
        Step(var, (lambda ch: lambda r: r["c"] == ch)(var), lo, hi, greedy=g)
        for var, lo, hi, g in spec
    ]
    ts = []
    t = 0.0
    for i in range(len(s)):
        t += gaps[i]
        ts.append(pd.Timestamp(2020, 1, 1) + pd.Timedelta(seconds=t))
    pdf = pd.DataFrame({"c": list(s), "ts": ts})
    names = list(dict.fromkeys(v for v, *_ in spec))
    measures = [
        (f"{v}_n", (lambda vv: lambda m: m.count(vv))(v)) for v in names
    ] + [
        (f"{v}_f", (lambda vv: lambda m: m.first(vv, "c"))(v)) for v in names
    ] + [("mno", lambda m: m.match_no), ("cls", lambda m: m.classifier)]
    fast, slow = _scan_both(
        None, pdf, steps, within, "ts", am, measures, rpm,
        ("c",) if rpm == "all" else (),
    )
    assert fast == slow, f"s={s!r} spec={spec} within={within} am={am} rpm={rpm}"


def _diff_steps(spec, vec=True):
    """Character-class steps over column ``c`` for a _DIFF_PATTERNS spec;
    ``vec`` adds the vectorized mask each registered DEFINE carries."""
    from flink_1_12_0_spark.operators.cep import Step

    return [
        Step(var, (lambda ch: lambda r: r["c"] == ch)(var), lo, hi, greedy=g,
             where_vec=(lambda ch: lambda p: p["c"].eq(ch))(var) if vec else None)
        for var, lo, hi, g in spec
    ]


def _diff_measures(spec):
    names = list(dict.fromkeys(v for v, *_ in spec))
    return [
        (f"{v}_n", (lambda vv: lambda m: m.count(vv))(v)) for v in names
    ] + [
        (f"{v}_l", (lambda vv: lambda m: m.last(vv, "c"))(v)) for v in names
    ] + [("mno", lambda m: m.match_no), ("cls", lambda m: m.classifier)]


def _no_nan(rows):
    """NULL keys read NaN from groupby and None from a column; compare
    them as one value."""
    return [
        {c: None if isinstance(v, float) and v != v else v for c, v in r.items()}
        for r in rows
    ]


@given(
    s=st.text(alphabet="EPABVCx", min_size=30, max_size=30),
    k1=st.lists(st.sampled_from([1.0, 2.0, None]), min_size=0, max_size=30),
    k2=st.lists(st.sampled_from(["a", None]), min_size=30, max_size=30),
    pi=st.integers(min_value=0, max_value=len(_DIFF_PATTERNS) - 1),
    gaps=st.lists(st.integers(min_value=0, max_value=9), min_size=30, max_size=30),
    within=st.sampled_from([None, 3.0, 10.0]),
    am=st.sampled_from(["past_last_row", "next_row"]),
    rpm=st.sampled_from(["one", "all"]),
)
@settings(max_examples=150, deadline=None)
def test_cep_partition_scan_matches_per_key_nfa(s, k1, k2, pi, gaps, within, am, rpm):
    """The whole-partition scan over a key-contiguous, time-sorted frame
    (two key columns, NULL keys among them) emits exactly what the
    per-key NFA scan emits, key group by key group, WITHIN and AFTER
    MATCH variants and ALL ROWS PER MATCH included."""
    from flink_1_12_0_spark.operators import cep

    n = len(k1)
    t = pd.Timestamp(2020, 1, 1) + pd.to_timedelta(
        pd.Series(gaps[:n], dtype="int64").cumsum(), unit="s")
    pdf = pd.DataFrame({"k1": pd.Series(k1, dtype="float64"),
                        "k2": pd.Series(k2[:n], dtype="object"),
                        "c": list(s[:n]), "ts": t})
    # the JVM sort: keys NULLS FIRST, then time (stable, so ts ascends)
    pdf = pdf.sort_values(["k1", "k2"], kind="mergesort", na_position="first")
    pdf = pdf.reset_index(drop=True)
    spec = _DIFF_PATTERNS[pi]
    steps, measures = _diff_steps(spec), _diff_measures(spec)
    data_cols = ("c",) if rpm == "all" else ()
    got = cep._scan_partition(pdf, ["k1", "k2"], steps, within, "ts", am,
                              measures, rpm, data_cols)
    orig = cep._compile_regex
    cep._compile_regex = lambda steps: None  # per-key reference: the NFA
    try:
        want = []
        for key, g in pdf.groupby(["k1", "k2"], sort=False, dropna=False):
            want.extend(cep._scan(g.reset_index(drop=True), steps, within, "ts",
                                  am, measures, dict(zip(["k1", "k2"], key)),
                                  rpm, data_cols))
    finally:
        cep._compile_regex = orig
    assert (got is None) == pdf.empty
    assert _no_nan(got or []) == _no_nan(want), (
        f"s={s!r} spec={spec} within={within} am={am} rpm={rpm}")


@given(
    s=st.text(alphabet="EPABVCx", min_size=0, max_size=35),
    pi=st.integers(min_value=0, max_value=len(_DIFF_PATTERNS) - 1),
    gaps=st.lists(st.integers(min_value=0, max_value=9), min_size=35, max_size=35),
    within=st.sampled_from([None, 3.0, 10.0]),
    vec=st.booleans(),
)
@settings(max_examples=150, deadline=None)
def test_cep_stream_regex_path_matches_nfa(s, pi, gaps, within, vec):
    """The streaming buffer scan returns the same rows and the same
    consumed index on its regex path as on the forced NFA."""
    from flink_1_12_0_spark.operators import cep

    t = pd.Timestamp(2020, 1, 1) + pd.to_timedelta(
        pd.Series(gaps[:len(s)], dtype="int64").cumsum(), unit="s")
    pdf = pd.DataFrame({"c": list(s), "ts": t})
    spec = _DIFF_PATTERNS[pi]
    steps, measures = _diff_steps(spec, vec), _diff_measures(spec)
    key = {"k": 7}
    fast = cep._stream_scan(pdf, steps, within, "ts", measures, key)
    orig = cep._compile_regex
    cep._compile_regex = lambda steps: None  # force the Python NFA
    try:
        slow = cep._stream_scan(pdf, steps, within, "ts", measures, key)
    finally:
        cep._compile_regex = orig
    assert fast == slow, f"s={s!r} spec={spec} within={within} vec={vec}"


# --- exact two-phase top-K (quota sampling / vocab build) --------------------
# The scale rewrite used by text_source_quota_sample and
# text_vocab_coverage: per-group top-K over an ORDER BY is computed as
# top-K within (group, salt) buckets first, then top-K of the survivors.
# Property: for ANY salt assignment (not just pmod), the two-phase result
# equals the direct per-group top-K — because every global top-K row is
# top-K within its own bucket (pigeonhole).

_topk_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),     # group
        st.integers(min_value=0, max_value=999),   # order key
        st.integers(min_value=0, max_value=7),     # arbitrary salt
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_topk_rows, k=st.integers(min_value=1, max_value=5))
def test_two_phase_topk_equals_direct(rows, k):
    pdf = pd.DataFrame(rows, columns=["g", "h", "salt"]).reset_index(names="rid")
    # tiebreak on rid so top-K is unique
    direct = (
        pdf.sort_values(["h", "rid"]).groupby("g").head(k)
    )
    local = (
        pdf.sort_values(["h", "rid"]).groupby(["g", "salt"]).head(k)
    )
    two_phase = local.sort_values(["h", "rid"]).groupby("g").head(k)
    assert sorted(direct["rid"]) == sorted(two_phase["rid"])


# --- streaming first-seen flag: one keeper per bucket, any batching ----------
# The sharded bucket-dedup core must (a) admit EXACTLY ONE keeper per
# bucket no matter how arrivals are split into micro-batches or ordered,
# and (b) match the min-id ground truth whenever delivery is id-ordered
# (our file streams).  Drives the same per-shard algorithm the operator
# runs, via a mock GroupState.  (This test caught a real bug: the
# original `prior < id` admission re-admitted a smaller id arriving in a
# later batch, leaving two keepers in one bucket.)

_fsf_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),     # bucket
        st.integers(min_value=0, max_value=99),    # id
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[1],
)


class _MockState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.exists = True
        self._v = v


def _fsf_fn():
    """Reference copy of streaming_first_seen_flag's per-shard algorithm
    (kept in lockstep with streaming/stateful.py; the Spark-level wiring
    is covered by the oracle + multibatch tests)."""
    import numpy as np
    import pandas as pd

    def fn(key, pdfs, state):
        frames = [p for p in pdfs if not p.empty]
        if not frames:
            return
        known = (
            pd.Series(np.asarray(state.get[1]), index=np.asarray(state.get[0]))
            if state.exists
            else pd.Series(dtype="int64")
        )
        batch = pd.concat(frames).sort_values("doc_id", kind="mergesort")
        prior = batch["_bucket"].map(known)
        first_in_batch = ~batch["_bucket"].duplicated(keep="first")
        dup = (~first_in_batch) | prior.notna()
        out = batch[["bucket", "doc_id"]].copy()
        out["dup"] = dup.to_numpy()
        batch_min = batch.groupby("_bucket", sort=False)["doc_id"].min()
        merged = pd.concat([known, batch_min]).groupby(level=0).min()
        state.update((merged.index.to_list(), merged.astype("int64").to_list()))
        yield out

    return fn


def _fsf_run(rows, split_points):
    import pandas as pd

    state = _MockState()
    out = []
    bounds = sorted({0, *[min(p, len(rows)) for p in split_points], len(rows)})
    fn = _fsf_fn()
    for a, b in zip(bounds, bounds[1:]):
        chunk = rows[a:b]
        if not chunk:
            continue
        pdf = pd.DataFrame(chunk, columns=["bucket", "doc_id"])
        pdf["_bucket"] = pdf["bucket"].astype(str)
        for res in fn(("k",), [pdf], state):
            out.extend(res[["bucket", "doc_id", "dup"]].itertuples(index=False))
    return out


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_fsf_rows, cuts=st.lists(st.integers(min_value=0, max_value=39), max_size=3))
def test_first_seen_flag_one_keeper_any_order(rows, cuts):
    out = _fsf_run(rows, cuts)
    keepers: dict[int, list] = {}
    for b, i, dup in out:
        if not dup:
            keepers.setdefault(b, []).append(i)
    # every bucket that appeared has exactly one keeper — regardless of
    # arrival order or batch splits
    assert set(keepers) == {b for b, _ in rows}
    assert all(len(v) == 1 for v in keepers.values()), keepers


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_fsf_rows, cuts=st.lists(st.integers(min_value=0, max_value=39), max_size=3))
def test_first_seen_flag_id_ordered_matches_min_truth(rows, cuts):
    rows = sorted(rows, key=lambda t: t[1])  # id-ordered delivery
    truth, mins = {}, {}
    for b, i in rows:
        truth[i] = b in mins
        mins.setdefault(b, i)
    got = {i: bool(d) for _b, i, d in _fsf_run(rows, cuts)}
    assert got == truth


def _brute_force_relaxed(symbols, lo, hi):
    """Reference for a relaxed (SKIP_TILL_NEXT) loop E{lo,hi} followed by
    a strict-next P, anchored at every index (overlapping, skip-to-next-
    row): the loop's first E sits at the anchor; later iterations take
    the NEXT E each time (non-E rows skipped, matching rows never
    skipped); greedy backtracking shrinks the count until the row right
    after the last taken E is a P."""
    n = len(symbols)
    out = []
    for a in range(n):
        if symbols[a] != "E":
            continue
        es = [i for i in range(a, n) if symbols[i] == "E"]
        for take in range(min(hi, len(es)), lo - 1, -1):
            last = es[take - 1]
            if last + 1 < n and symbols[last + 1] == "P":
                out.append((a, take, last + 1))
                break
    return out


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.sampled_from("EPVC"), min_size=0, max_size=30),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=3),
)
def test_relaxed_loop_matches_brute_force(symbols, lo, extra):
    """skip_till_next internal contiguity vs an independent enumerator,
    across quantifier bounds and anchors."""
    from flink_1_12_0_spark.operators.cep import Step, _match_at

    hi = lo + extra
    steps = [
        Step("E", lambda r: r["sym"] == "E", lo, hi, contiguity="relaxed"),
        Step("P", lambda r: r["sym"] == "P"),
    ]
    rows = [{"sym": s, "ts": None, "i": i} for i, s in enumerate(symbols)]
    got = []
    for a in range(len(rows)):
        spans = _match_at(rows, a, steps, None, "ts")
        # anchor check mirrors the scan loop: first step must start at a
        if spans and spans["E"] and spans["E"][0] == a:
            got.append((a, len(spans["E"]), spans["P"][0]))
    assert got == _brute_force_relaxed(symbols, lo, hi)


def _brute_force_combinations(symbols):
    """Reference for allowCombinations E+ then strict-next P: every
    increasing subset of E-indices whose first element is the anchor and
    whose last element is immediately followed by a P."""
    from itertools import combinations as comb

    n = len(symbols)
    out = set()
    for a in range(n):
        if symbols[a] != "E":
            continue
        rest = [i for i in range(a + 1, n) if symbols[i] == "E"]
        for k in range(len(rest) + 1):
            for tail in comb(rest, k):
                taken = (a, *tail)
                last = taken[-1]
                if last + 1 < n and symbols[last + 1] == "P":
                    out.add(taken)
    return out


@settings(max_examples=150, deadline=None)
@given(st.lists(st.sampled_from("EPVC"), min_size=0, max_size=14))
def test_combinations_loop_matches_brute_force(symbols):
    from flink_1_12_0_spark.operators.cep import Step, _match_all_at

    steps = [
        Step("E", lambda r: r["sym"] == "E", 1, None, contiguity="combinations"),
        Step("P", lambda r: r["sym"] == "P"),
    ]
    rows = [{"sym": s, "ts": None, "i": i} for i, s in enumerate(symbols)]
    got = set()
    for a in range(len(rows)):
        for spans in _match_all_at(rows, a, steps, None, "ts"):
            if spans["E"] and spans["E"][0] == a:
                got.add(tuple(spans["E"]))
    assert got == _brute_force_combinations(symbols)


class _FakeGroupState:
    """Minimal applyInPandasWithState GroupState double for driving a
    stateful fn without a streaming query."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _per_key_core(op, dtypes, *args, **kwargs):
    """The per-key fn a keyed operator hands to ``sharded_keyed_process``
    (its ``_per_key_fn`` hook), built over a schema-only stand-in for
    the streaming DataFrame: the properties drive the operator core
    without a Spark streaming query per example."""
    from types import SimpleNamespace

    captured = {}

    class _Grouped:
        def applyInPandasWithState(self, f, *rest):
            captured["fn"] = f._per_key_fn

    class _Frame:
        sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=8))

        def __init__(self):
            self.dtypes = list(dtypes)
            self.columns = [c for c, _ in dtypes]

        def selectExpr(self, *a):
            return self

        def groupBy(self, *a):
            return _Grouped()

    op(_Frame(), *args, **kwargs)
    return captured["fn"]


_EVENT_DTYPES = [("k", "bigint"), ("ts", "timestamp"), ("tie", "double"),
                 ("val", "double")]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=40),
    st.lists(st.integers(min_value=0, max_value=39), max_size=3),
    st.integers(min_value=5, max_value=30),
)
def test_session_windows_batching_invariance(times, cuts, gap_s):
    """For IN-ORDER batch splits, the set of fired sessions equals the
    single-pass gaps-and-islands ground truth (sessions whose end clears
    the final watermark), regardless of where the batch cuts fall."""
    import pandas as pd

    from flink_1_12_0_spark.streaming.stateful import session_event_windows

    times = sorted(times)
    # in-order split at the (sorted, deduped, in-range) cut points
    pts = sorted({c for c in cuts if 0 < c < len(times)})
    chunks, prev = [], 0
    for c in [*pts, len(times)]:
        if c > prev:
            chunks.append(times[prev:c])
        prev = c

    inner = _per_key_core(session_event_windows, _EVENT_DTYPES,
                          ["k"], "ts", "tie", "val", gap_s)

    state = _FakeGroupState()
    fired = []
    base = pd.Timestamp("2024-01-01")
    for ch in chunks:
        pdf = pd.DataFrame(
            {
                "k": [1] * len(ch),
                "ts": [base + pd.Timedelta(seconds=s) for s in ch],
                "tie": [float(i) for i in range(len(ch))],
                "val": [1.0] * len(ch),
            }
        )
        for out in inner((1,), iter([pdf]), state):
            fired.extend(
                (r.w_start, r.w_end, r.n) for r in out.itertuples(index=False)
            )

    # ground truth: gaps-and-islands over the full sorted sequence
    epoch = int(base.timestamp())
    secs = [epoch + s for s in times]
    wm = max(secs)
    truth, i = [], 0
    while i < len(secs):
        j = i
        while j + 1 < len(secs) and secs[j + 1] - secs[j] <= gap_s:
            j += 1
        if secs[j] + gap_s <= wm:
            truth.append((secs[i], secs[j] + gap_s, j - i + 1))
        i = j + 1
    assert sorted(fired) == sorted(truth)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=40),
    st.lists(st.integers(min_value=0, max_value=39), max_size=3),
    st.integers(min_value=0, max_value=30),
)
def test_temporal_sort_batching_invariance(times, cuts, delay_s):
    """The operator matches an independent reference simulation of
    RowTimeSortOperator semantics: per batch, rows at-or-behind the
    previous watermark drop (boundary-equal arrivals in a LATER batch are
    late — the same contract as the reference), the rest buffer and emit
    in sorted order once the watermark passes them."""
    import pandas as pd

    from flink_1_12_0_spark.streaming.stateful import temporal_sort_stream

    times = sorted(times)
    pts = sorted({c for c in cuts if 0 < c < len(times)})
    chunks, prev = [], 0
    for c in [*pts, len(times)]:
        if c > prev:
            chunks.append(times[prev:c])
        prev = c

    inner = _per_key_core(temporal_sort_stream, _EVENT_DTYPES,
                          ["k"], "ts", "tie", "val", delay_s=delay_s)
    state = _FakeGroupState()
    base = pd.Timestamp("2024-01-01")
    emitted = []
    idx = 0
    for ch in chunks:
        pdf = pd.DataFrame(
            {
                "k": [1] * len(ch),
                "ts": [base + pd.Timedelta(seconds=s) for s in ch],
                "tie": [float(idx + i) for i in range(len(ch))],
                "val": [float(s) for s in ch],
            }
        )
        idx += len(ch)
        for out in inner((1,), iter([pdf]), state):
            emitted.extend(
                (int(r.emit_seq), r.value) for r in out.itertuples(index=False)
            )

    # reference simulation with the same late-drop + watermark contract
    wm_prev, buf, truth_vals = None, [], []
    for ch in chunks:
        arrive = [s for s in ch if wm_prev is None or s > wm_prev]
        wm_cur = max(ch) - delay_s
        if wm_prev is not None:
            wm_cur = max(wm_prev, wm_cur)
        buf = sorted(buf + arrive)
        emit = [s for s in buf if s <= wm_cur]
        buf = buf[len(emit):]
        truth_vals.extend(float(s) for s in emit)
        wm_prev = wm_cur
    assert [v for _, v in sorted(emitted)] == truth_vals
    assert [q for q, _ in sorted(emitted)] == list(range(len(truth_vals)))


def _brute_force_not_next(symbols):
    """Reference for E notNext(X) followedBy(P), SKIP TO NEXT ROW: every E
    whose IMMEDIATE successor exists and is not X matches the first P
    after it (the successor itself may be that P)."""
    out, n = [], len(symbols)
    for i, s in enumerate(symbols):
        if s != "E" or i + 1 >= n or symbols[i + 1] == "X":
            continue
        for j in range(i + 1, n):
            if symbols[j] == "P":
                out.append((i, j))
                break
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from("EXPC"), min_size=0, max_size=40))
def test_not_next_matches_brute_force(symbols):
    from flink_1_12_0_spark.operators.cep import Pattern, _match_at

    pat = (
        Pattern.begin("E", lambda r: r["sym"] == "E")
        .not_next(lambda r: r["sym"] == "X")
        .followed_by("P", lambda r: r["sym"] == "P")
    )
    rows = [{"sym": s, "ts": None, "i": i} for i, s in enumerate(symbols)]
    got = []
    for i in range(len(rows)):
        spans = _match_at(rows, i, pat._steps, None, "ts")
        if spans:
            got.append((spans["E"][0], spans["P"][0]))
    assert got == _brute_force_not_next(symbols)


# --- broadcast-state rules: shard-count and batch-split invariance -----------
# The broadcast-state operator (broadcast_connect + per-shard threshold
# state, the KeyedBroadcastProcessFunction translation) must emit the SAME
# set for any shard count (the parallelism analog) given a fixed batching,
# and must match the sequential global threshold model whenever delivery
# is event-time-ordered (our file streams) — for ANY batch split.  Drives
# the same per-shard algorithm stream_broadcast_rules runs (kept in
# lockstep with queries/streaming_stateful.py), via a mock GroupState per
# shard; control rows replicate to every shard, main rows hash-partition.

_bcr_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),      # ts
        st.booleans(),                               # is_control (rule row)
        st.integers(min_value=0, max_value=7),       # user key (main only)
        st.integers(min_value=0, max_value=100),     # value
    ),
    min_size=1,
    max_size=40,
)


def _bcr_fn():
    """Reference copy of stream_broadcast_rules's per-shard algorithm."""

    def fn(key, pdfs, state):
        thr = state.get[0] if state.exists else None
        frames = [p for p in pdfs if not p.empty]
        if not frames:
            return
        pdf = (
            pd.concat(frames)
            .sort_values(["ts", "_stream", "event_id"], kind="mergesort")
            .reset_index(drop=True)
        )
        out = []
        for stream, eid, val in zip(pdf["_stream"], pdf["event_id"], pdf["value"]):
            if stream == "control":
                thr = float(val)
            elif thr is not None and float(val) > thr:
                out.append(eid)
        state.update((thr,))
        yield out

    return fn


def _bcr_run(events, cuts, n_shards):
    """events: list of (ts, is_control, user, value), ids = list index;
    returns the emitted event-id set."""
    states = [_MockState() for _ in range(n_shards)]
    fn = _bcr_fn()
    bounds = sorted({0, *[min(c, len(events)) for c in cuts], len(events)})
    emitted: set[int] = set()
    for a, b in zip(bounds, bounds[1:]):
        chunk = [(i, *e) for i, e in enumerate(events[a:b], start=a)]
        if not chunk:
            continue
        for shard in range(n_shards):
            rows = [
                {"ts": ts, "_stream": "control" if isc else "main",
                 "event_id": i, "value": float(v)}
                for (i, ts, isc, user, v) in chunk
                if isc or user % n_shards == shard
            ]
            if not rows:
                continue
            for out in fn((shard,), [pd.DataFrame(rows)], states[shard]):
                emitted.update(out)
    return emitted


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=_bcr_events,
    cuts=st.lists(st.integers(min_value=0, max_value=39), max_size=3),
    n_shards=st.sampled_from([2, 4, 16, 64]),
)
def test_broadcast_rules_shard_count_invariant(events, cuts, n_shards):
    assert _bcr_run(events, cuts, n_shards) == _bcr_run(events, cuts, 1)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=_bcr_events,
    cuts=st.lists(st.integers(min_value=0, max_value=39), max_size=3),
    n_shards=st.sampled_from([1, 4, 16]),
)
def test_broadcast_rules_ordered_delivery_matches_global_model(
    events, cuts, n_shards
):
    # event-time-ordered delivery (rules first at ties, then by id): any
    # batch split + any shard count matches the sequential global model
    order = sorted(range(len(events)),
                   key=lambda i: (events[i][0], not events[i][1], i))
    ordered = [events[i] for i in order]
    thr, want = None, set()
    for pos, (ts, isc, user, v) in enumerate(ordered):
        if isc:
            thr = float(v)
        elif thr is not None and float(v) > thr:
            want.add(pos)
    got = _bcr_run(ordered, cuts, n_shards)
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.one_of(st.none(), st.text(alphabet="abc", max_size=2)),
            st.floats(min_value=0, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    ),
    st.lists(st.integers(min_value=0, max_value=39), max_size=3),
    st.integers(min_value=2, max_value=5),
)
def test_count_tumble_batching_invariance_null_string_ties(rows, cuts, size):
    """Round-7 state-typing regression, property form: count windows with
    a STRING tiebreak containing NULLs fire the same (win_seq, sum) set
    for any in-order batch split — the old float-cast state raised on
    strings outright, and a None-naive sort would raise on NULL ties."""
    import pandas as pd

    from flink_1_12_0_spark.streaming.stateful import count_tumble_window

    # deterministic global order = the operator's own ordering contract
    def key(r):
        t, tie, v = r
        return (t, tie is None, tie or "", v)

    rows = sorted(rows, key=key)
    pts = sorted({c for c in cuts if 0 < c < len(rows)})
    chunks, prev = [], 0
    for c in [*pts, len(rows)]:
        if c > prev:
            chunks.append(rows[prev:c])
        prev = c

    inner = _per_key_core(
        count_tumble_window,
        [("k", "bigint"), ("ts", "timestamp"), ("tie", "string"), ("val", "double")],
        ["k"], ts="ts", tiebreak="tie", size=size, value_col="val")

    state = _FakeGroupState()
    fired = []
    base = pd.Timestamp("2024-01-01")
    for ch in chunks:
        pdf = pd.DataFrame(
            {
                "k": [1] * len(ch),
                "ts": [base + pd.Timedelta(seconds=t) for t, _, _ in ch],
                "tie": pd.Series([tie for _, tie, _ in ch], dtype=object),
                "val": [v for _, _, v in ch],
            }
        )
        for out in inner((1,), iter([pdf]), state):
            fired.extend(
                (r.win_seq, r.n, round(r.sum_value, 6))
                for r in out.itertuples(index=False)
            )

    # ground truth: full windows over the globally-ordered sequence
    truth = []
    for w in range(len(rows) // size):
        win = rows[w * size:(w + 1) * size]
        truth.append((w, size, round(sum(v for _, _, v in win), 6)))
    assert fired == truth


# ---- broadcast rule gate core vs brute force ---------------------------------
_gate_events = st.lists(
    st.tuples(st.sampled_from("+-"), st.integers(0, 4), st.integers(0, 20)),
    max_size=12)
_gate_mains = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 20)), max_size=30)
_gate_live0 = st.sets(st.integers(0, 5), max_size=6)


@settings(max_examples=300, deadline=None)
@given(events=_gate_events, mains=_gate_mains, live0=_gate_live0)
def test_rule_gate_core_matches_brute_force(events, mains, live0):
    """The vectorized per-rule timeline + searchsorted gate core must
    agree with a brute-force per-row fold under ANY schedule: random
    add/remove events (duplicates, same-position conflicts, removes of
    never-added rules), random main traffic (incl. rules with no
    events and rules live only from the carried-in state), random
    initial live set.  Tie rule: events apply control-first at equal
    positions, '+' before '-' at the same position."""
    from flink_1_12_0_spark.streaming.stateful import _gate_batch

    rows = []
    for op, r, eff in events:
        rows.append({"_stream": "control", "op": op, "rule": r,
                     "v": None, "ord": eff})
    for i, (r, p) in enumerate(mains):
        rows.append({"_stream": "main", "op": None, "rule": r,
                     "v": 100 + i, "ord": p})
    pdf = pd.DataFrame(rows, columns=["_stream", "op", "rule", "v", "ord"])
    emitted, live = _gate_batch(
        pdf, set(live0), ord_col="ord", op_col="op", rule_col="rule",
        out_cols=["rule", "v"], casts={"rule": "int64", "v": "int64"})
    got = (set() if emitted is None else
           set(map(tuple, emitted[["rule", "v"]].itertuples(
               index=False, name=None))))
    ordered = sorted(events, key=lambda e: (e[2], e[0]))

    def live_at(r, p):
        s = r in live0
        for op, rr, eff in ordered:
            if rr == r and eff <= p:
                s = op == "+"
        return s

    want = {(r, 100 + i) for i, (r, p) in enumerate(mains) if live_at(r, p)}
    assert got == want
    want_live = set()
    for r in {e[1] for e in events} | set(live0):
        s = r in live0
        for op, rr, _eff in ordered:
            if rr == r:
                s = op == "+"
        if s:
            want_live.add(r)
    assert live == want_live


def _gate_frame(events, mains):
    rows = []
    for op, r, eff in events:
        rows.append({"_stream": "control", "op": op, "rule": r,
                     "v": None, "ord": eff})
    for r, p, v in mains:
        rows.append({"_stream": "main", "op": None, "rule": r,
                     "v": v, "ord": p})
    return pd.DataFrame(rows, columns=["_stream", "op", "rule", "v", "ord"])


def test_rule_gate_same_position_remove_readd():
    """ADVICE r14: the simultaneous remove+re-add collision is a STATED
    contract, not an accident of ASCII ordering — a '-' and a '+' for
    the same rule at the SAME position resolve to REMOVED ('+' applies
    first, then '-'), so a main row at that position and after is
    gated out until a strictly later '+'.  Hand-written so the
    boundary is checked independently of the property test's
    brute-force (which encodes the same tie rule)."""
    from flink_1_12_0_spark.streaming.stateful import _gate_batch

    events = [("+", 1, 0), ("-", 1, 5), ("+", 1, 5), ("+", 1, 8)]
    mains = [(1, 4, 104), (1, 5, 105), (1, 7, 107), (1, 8, 108)]
    emitted, live = _gate_batch(
        _gate_frame(events, mains), set(), ord_col="ord", op_col="op",
        rule_col="rule", out_cols=["rule", "v"],
        casts={"rule": "int64", "v": "int64"})
    got = set(map(tuple, emitted[["rule", "v"]].itertuples(
        index=False, name=None)))
    # pos 4: live (added at 0).  pos 5: remove wins the collision ->
    # gated out.  pos 7: still out.  pos 8: fresh '+' at 8 covers it.
    assert got == {(1, 104), (1, 108)}
    assert live == {1}


def test_rule_gate_integral_payload_above_2_53_exact():
    """ADVICE r14: integral payloads ride the control/main union as
    STRINGS (a null-padded Arrow column reaches pandas as float64,
    which silently collapses 2**53+1 to 2**53) and the core restores
    exact int64 — so values above 2**53 must round-trip bit-exactly."""
    from flink_1_12_0_spark.streaming.stateful import _gate_batch

    big = 2**53 + 1
    emitted, _ = _gate_batch(
        _gate_frame([("+", 1, 0)], [(1, 3, str(big)), (1, 4, str(-big))]),
        set(), ord_col="ord", op_col="op", rule_col="rule",
        out_cols=["rule", "v"], casts={"rule": "int64", "v": "int64"})
    assert emitted["v"].tolist() == [big, -big]
    assert emitted["v"].dtype == "int64"


@settings(max_examples=200, deadline=None)
@given(events=_gate_events, mains=_gate_mains,
       cuts=st.lists(st.integers(0, 21), max_size=4),
       backlog_first=st.booleans())
def test_rule_gate_history_split_invariance(events, mains, cuts,
                                            backlog_first):
    """Round 17 (the kafka adversarial receipts, distilled to the pure
    core): splitting one logical batch into consecutive micro-batches
    must not change the gate's output, provided control is TIMELY
    (every control event arrives no later than the main rows at-or-
    after its position).  Two split families cover the real consumer
    shapes: backlog_first puts ALL control in batch 1 with mains split
    after (the consumer start-up shape — what found the round-17 bug:
    a live-set state collapsed closed intervals delivered in a
    control-only batch to dead); position cuts partition every row by
    ord thresholds (the watermark-advance shape).  The single-batch
    gate is the oracle."""
    from flink_1_12_0_spark.streaming.stateful import (
        _gate_batch, _gate_with_history)

    cols = ["_stream", "op", "rule", "v", "ord"]
    ctrl_rows = [("control", op, r, None, eff) for op, r, eff in events]
    main_rows = [("main", None, r, 100 + i, p)
                 for i, (r, p) in enumerate(mains)]

    single, _ = _gate_batch(
        pd.DataFrame(ctrl_rows + main_rows, columns=cols), set(),
        ord_col="ord", op_col="op", rule_col="rule",
        out_cols=["rule", "v"], casts={"rule": "int64", "v": "int64"})
    want = (set() if single is None else
            set(map(tuple, single[["rule", "v"]].itertuples(
                index=False, name=None))))

    if backlog_first:
        batches = [ctrl_rows, main_rows[: len(main_rows) // 2],
                   main_rows[len(main_rows) // 2:]]
    else:
        batches, lo = [], -1
        for hi in sorted(set(cuts)) + [999]:
            batches.append([r for r in ctrl_rows + main_rows
                            if lo < r[4] <= hi])
            lo = hi
    hist: list = []
    got: set = set()
    for b in batches:
        if not b:
            continue
        emitted, hist = _gate_with_history(
            hist, pd.DataFrame(b, columns=cols), ord_col="ord",
            op_col="op", rule_col="rule", out_cols=["rule", "v"],
            casts={"rule": "int64", "v": "int64"})
        if emitted is not None:
            got |= set(map(tuple, emitted[["rule", "v"]].itertuples(
                index=False, name=None)))
    # v = 100+i is unique per main row, so set equality is exact
    # multiset equality
    assert got == want


def test_rule_gate_untimely_control_decisions_are_final():
    """The OTHER half of the round-17 ordering contract (documented in
    broadcast_rule_gate and _gate_with_history, here pinned): a control
    event arriving AFTER a main row it should have governed degrades to
    arrival semantics — the already-made emit/drop decision is final
    (update-mode emissions cannot be retracted, and a late '+' must not
    retroactively emit a row from an earlier batch) — while rows in
    LATER batches are governed by the replayed history positionally."""
    from flink_1_12_0_spark.streaming.stateful import _gate_with_history

    kw = dict(ord_col="ord", op_col="op", rule_col="rule",
              out_cols=["rule", "v"],
              casts={"rule": "int64", "v": "int64"})
    cols = ["_stream", "op", "rule", "v", "ord"]

    def run(batches):
        hist, got = [], set()
        for b in batches:
            emitted, hist = _gate_with_history(
                hist, pd.DataFrame(b, columns=cols), **kw)
            if emitted is not None:
                got |= set(map(tuple, emitted[["rule", "v"]].itertuples(
                    index=False, name=None)))
        return got

    # late '+': main at ord=5 decided (dropped) in batch 1; the '+' at
    # eff=0 arrives in batch 2 — no retroactive emission, but a batch-3
    # main at ord=7 IS governed by the replayed '+'
    got = run([[("main", None, 1, 105, 5)],
               [("control", "+", 1, None, 0)],
               [("main", None, 1, 107, 7)]])
    assert got == {(1, 107)}

    # late '-': main at ord=5 emitted in batch 1 (rule live from ord=0);
    # the '-' at eff=3 arrives late in batch 2 — the emission stands,
    # and a batch-3 main at ord=7 is gated out by the replayed close
    got = run([[("control", "+", 1, None, 0), ("main", None, 1, 105, 5)],
               [("control", "-", 1, None, 3)],
               [("main", None, 1, 107, 7)]])
    assert got == {(1, 105)}


_iv_events = st.lists(
    st.tuples(st.sampled_from("+-"), st.integers(0, 4), st.integers(0, 20)),
    max_size=14)


@settings(max_examples=300, deadline=None)
@given(events=_iv_events, probes=st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 20)), max_size=20))
def test_interval_fold_matches_gate_semantics(events, probes):
    """The artifact-interval fold and the rule-gate core implement the
    SAME liveness function: for ANY control schedule (duplicate adds,
    removes of never-added rules, same-position collisions, re-adds)
    and any probe position, membership in some folded [lo, hi) interval
    must equal the gate's brute-force live_at — the two graded
    updatable forms are semantically one contract."""
    from flink_1_12_0_spark.streaming.stateful import interval_fold

    add_rows = {(q, eff): [(f"t{q}",)]
                for op, q, eff in events if op == "+"}
    art = interval_fold(events, [], add_rows)
    # fold invariants: at most one open interval per rule; payload rode
    for q in {e[1] for e in events}:
        assert sum(1 for r in art if r[0] == q and r[3] is None) <= 1
    for r in art:
        assert r[1] == f"t{r[0]}"
    ordered = sorted(events, key=lambda e: (e[2], e[0]))

    def live_at(q, p):
        s = False
        for op, rr, eff in ordered:
            if rr == q and eff <= p:
                s = op == "+"
        return s

    for q, p in probes:
        in_interval = any(
            r[0] == q and r[2] <= p and (r[3] is None or p < r[3])
            for r in art)
        assert in_interval == live_at(q, p), (q, p, art, ordered)


def test_interval_fold_cross_batch_monotone_and_late_remove():
    """Cross-batch contract (code-review r15): position-monotone
    control across two folds composes exactly (position semantics),
    and the one dangerous out-of-order case — a remove authored BEFORE
    the open interval's lo arriving in a later batch — is a no-op
    instead of an inverted empty interval that would kill the rule
    forever."""
    from flink_1_12_0_spark.streaming.stateful import interval_fold

    add = {(1, 5): [("t1",)], (1, 30): [("t1",)]}
    # monotone: batch1 opens at 5, batch2 closes at 10 and reopens at 30
    art = interval_fold([("+", 1, 5)], [], add)
    art = interval_fold([("-", 1, 10), ("+", 1, 30)], art, add)
    assert art == [(1, "t1", 5, 10), (1, "t1", 30, None)]
    # late remove BEFORE the open lo: no-op (position semantics — the
    # remove precedes the add, which still governs [100, ...))
    art2 = interval_fold([("+", 1, 100)], [], {(1, 100): [("t1",)]})
    art2 = interval_fold([("-", 1, 50)], art2, {})
    assert art2 == [(1, "t1", 100, None)]


@settings(max_examples=300, deadline=None)
@given(events=_iv_events, seed=st.randoms(use_true_random=False))
def test_interval_fold_per_position_batches_equal_single_fold(events, seed):
    """The cross-batch contract, property-tested (the generalization of
    the example-based monotone test): replaying ANY control schedule
    position-monotonically across batches — cut anywhere BETWEEN
    distinct positions, never through one (the per-position-files
    convention the graded rows and the gate equality pin) — folds to
    the SAME artifact as one single-batch fold.  Same-position events
    must co-reside in a batch because the fold's '+'-before-'-'
    collision rule is batch-local; the position-boundary cut is
    exactly what file replay guarantees."""
    from flink_1_12_0_spark.streaming.stateful import interval_fold

    add_rows = {(q, eff): [(f"t{q}",)]
                for op, q, eff in events if op == "+"}
    ordered = sorted(events, key=lambda e: (e[2], e[0]))
    single = interval_fold(ordered, [], add_rows)
    # random cuts at position boundaries only
    bounds = [i for i in range(1, len(ordered))
              if ordered[i][2] != ordered[i - 1][2]]
    cuts = sorted(seed.sample(bounds, seed.randint(0, len(bounds))))
    art: list = []
    prev = 0
    for c in cuts + [len(ordered)]:
        art = interval_fold(ordered[prev:c], art, add_rows)
        prev = c
    assert sorted(art, key=repr) == sorted(single, key=repr), (
        ordered, cuts, art, single)
