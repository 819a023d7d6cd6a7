"""CEP / MATCH_RECOGNIZE subset: pattern matching over keyed event sequences.

Reference: flink-libraries/flink-cep (NFA engine, cep/operator/CepOperator.java:83)
and SQL MATCH_RECOGNIZE (StreamExecMatch.scala:68, MatchCodeGenerator.scala).
Covered subset — contiguous patterns (strict continuity), greedy AND
reluctant quantifiers {min,max}[?] / +[?] / *[?] / ??, WITHIN, AFTER MATCH
SKIP PAST LAST ROW / TO NEXT ROW / TO FIRST(var) / TO LAST(var), DEFINE
navigation (PREV/NEXT physical offsets, FIRST/LAST running-variable
access), ONE/ALL ROWS PER MATCH with MATCH_NUMBER() and CLASSIFIER(), and
MEASURES with FIRST/LAST/COUNT navigation — the surface the reference's
MatchRecognizeITCase exercises.

Spark has NO pattern-matching primitive.  Design — one match loop, as the
reference runs one NFA for the Pattern API and SQL, batch and streaming:
- ``_prepare`` turns time-sorted rows into a rows view, per-step predicate
  masks and epoch seconds, and picks the matcher from what it observes:
  the compiled regex over a per-row symbol alphabet when every DEFINE is
  mask-able, the step chain compiles (strict loops, <=8 variables) and,
  under WITHIN, time ascends; the backtracking NFA otherwise
  (``_match_all_at``; ``_match_at`` is its first alternative).  The NFA is
  the reference the property tests hold the regex path to.
- ``_matches`` is the one enumerator: over a row range and an AFTER MATCH
  mode it yields ``(anchor, spans, end)``.  ``_emit`` is the one emitter:
  ONE/ALL ROWS PER MATCH rows with MATCH_NUMBER() and CLASSIFIER().
- batch: ``mapInPandas`` over key-contiguous, time-sorted partitions —
  ``_scan_partition`` scans a whole partition at once when the regex path
  applies to it, else ``_scan`` runs per key group.  The sequence scan is
  linear with small backtracking windows (quantifiers are bounded by
  WITHIN); per-key sequences shard across executors, so 100 TB scales by
  key cardinality like every keyed operator here.
- timeouts: ``_timeout_scan`` takes the completed matches from the same
  loop, then the longest prefix of every unconsumed partial match.
- streaming: ``_stream_scan`` runs the same loop and emitter over a per-key
  state buffer held by ``streaming.stateful.sharded_keyed_process``; the
  buffer is consumed up to the end of the last accepted match, and the
  key's match count rides in its state so MATCH_NUMBER() continues across
  micro-batches.  AFTER MATCH SKIP PAST LAST ROW only (overlapping modes
  would re-emit across batches); WITHIN bounds the buffer exactly like the
  reference's NFA state cleanup — unmatched prefixes older than the
  horizon are pruned.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame


@dataclass
class Step:
    """One pattern variable: ``name`` with row-predicate ``where`` and a
    greedy quantifier [min_times, max_times] (max_times=None → unbounded).

    ``where_vec`` is an optional vectorized form (pandas.DataFrame →
    boolean array-like); when every non-navigating step provides one, the
    scan never materializes per-row dicts for predicate evaluation — only
    matched rows are touched row-wise (measure extraction).

    A predicate whose callable has ``needs_ctx = True`` receives a second
    :class:`NavCtx` argument (running-match navigation: PREV/NEXT/FIRST/
    LAST) and is never mask-precomputed — its truth depends on the partial
    match, exactly like the reference's IterativeCondition
    (flink-cep/.../pattern/conditions/IterativeCondition.java).

    ``greedy=False`` gives the reluctant quantifier (`+?` etc.): the
    backtracking order tries the SHORTEST admissible span first.

    ``contiguity`` is the INTERNAL contiguity between loop iterations
    (flink-cep Quantifier.ConsumingStrategy): ``"strict"`` — iterations
    are adjacent rows (this engine's default, = the reference's
    ``consecutive()`` and SQL MATCH_RECOGNIZE quantifier semantics);
    ``"relaxed"`` — non-matching rows between iterations are skipped
    (SKIP_TILL_NEXT, the reference's default for looping patterns);
    ``"combinations"`` — matching rows may ALSO be skipped, branching on
    every increasing subset (SKIP_TILL_ANY, ``allowCombinations()``).
    The loop's FIRST row always sits at the step's entry position —
    contiguity INTO the step stays governed by how it was appended
    (next / followedBy gap steps)."""

    name: str
    where: Callable  # (row: dict[, ctx: NavCtx]) -> bool
    min_times: int = 1
    max_times: int | None = 1
    where_vec: Callable | None = None  # (pdf: pandas.DataFrame) -> bool mask
    greedy: bool = True
    contiguity: str = "strict"


class _ColRows:
    """records-like view over column lists: ``rows[i]`` builds a dict only
    when a row is actually touched (measures on matched spans)."""

    __slots__ = ("_cols", "_n")

    def __init__(self, pdf):
        self._cols = {c: pdf[c].tolist() for c in pdf.columns}
        self._n = len(pdf)

    def __len__(self):
        return self._n

    def __getitem__(self, i):
        return {c: v[i] for c, v in self._cols.items()}


class NavCtx:
    """Running-match navigation state for ctx-aware DEFINE predicates.

    Evaluating row ``idx`` as a candidate for variable ``cur_var``:
    ``spans`` holds the completed previous steps, ``cur`` the indices
    already taken by the current step.  The running sequence of a
    variable V includes the candidate row itself when V is cur_var —
    SQL:2016 running semantics (LAST(A.x) sees the row under test;
    LAST(A.x, 1) is the previous A row)."""

    __slots__ = ("rows", "idx", "spans", "cur_var", "cur")

    def __init__(self, rows, idx, spans, cur_var, cur):
        self.rows = rows
        self.idx = idx
        self.spans = spans
        self.cur_var = cur_var
        self.cur = cur

    def _seq(self, var: str) -> list[int]:
        if var == self.cur_var:
            return [*self.cur, self.idx]
        return self.spans.get(var) or []

    def last(self, var: str, col: str, off: int = 0):
        seq = self._seq(var)
        j = len(seq) - 1 - off
        return self.rows[seq[j]][col] if j >= 0 else None

    def first(self, var: str, col: str, off: int = 0):
        seq = self._seq(var)
        return self.rows[seq[off]][col] if off < len(seq) else None

    def prev(self, col: str, off: int = 1):
        """Physical offset over the PARTITION (reference: PREV in DEFINE
        looks across match boundaries, MatchCodeGenerator PREV handling)."""
        j = self.idx - off
        return self.rows[j][col] if j >= 0 else None

    def next(self, col: str, off: int = 1):
        j = self.idx + off
        return self.rows[j][col] if j < len(self.rows) else None


def _is_ctx(pred: Callable) -> bool:
    return bool(getattr(pred, "needs_ctx", False))


def _needs_ctx(step: Step) -> bool:
    return _is_ctx(step.where)


def _predicate_masks(rows, steps: Sequence[Step]) -> dict[str, list[bool]]:
    """Evaluate every ctx-free step predicate over every row ONCE.  The NFA
    re-visits rows across anchors and backtracking; precomputing turns
    O(anchors x span) predicate calls into O(steps x n) — the dominant cost
    in the Python scan loop.  Ctx-aware (navigating) predicates depend on
    the partial match and are evaluated inside the NFA instead."""
    masks: dict[str, list[bool]] = {}
    for step in steps:
        if step.name not in masks and not _needs_ctx(step):
            w = step.where
            masks[step.name] = [bool(w(r)) for r in rows]
    return masks


def _match_at(
    rows,
    start: int,
    steps: Sequence[Step],
    within_s: float | None,
    ts_col: str,
    masks: dict[str, list[bool]] | None = None,
    ts_sec: list[float] | None = None,
    hi: int | None = None,
):
    """Greedy backtracking match of ``steps`` anchored at ``start`` over the
    contiguous row window [start, hi): the FIRST alternative of
    :func:`_match_all_at`'s backtracking order (greedy = longest span
    first, backtracking down to min_times; reluctant = shortest admissible
    span first).  Returns {step_name: [row_idx, ...]} or None — a first
    alternative that matches nothing ends the anchor.
    ``masks``/``ts_sec`` are optional precomputed per-row predicate values /
    epoch seconds (see _predicate_masks)."""
    spans = next(
        _match_all_at(rows, start, steps, within_s, ts_col, masks, ts_sec, hi,
                      keep_empty=True),
        None,
    )
    return spans if spans and any(spans.values()) else None


def _match_all_at(
    rows,
    start: int,
    steps: Sequence[Step],
    within_s: float | None,
    ts_col: str,
    masks: dict[str, list[bool]] | None = None,
    ts_sec: list[float] | None = None,
    hi: int | None = None,
    keep_empty: bool = False,
):
    """Enumerate EVERY match anchored at ``start`` — the followedByAny
    (SKIP_TILL_ANY) path: ``_anygap`` filler steps branch over all
    admissible gap lengths (shortest first), while ordinary steps stay
    deterministic (their first workable take wins, exactly the single
    branch :func:`_match_at` would pick).  Yields span dicts; with
    ``keep_empty`` also the completions that matched no row (the
    single-match path needs the first completion whatever it holds).
    Rows at or past ``hi`` (default: the end) are never taken."""
    n = len(rows) if hi is None else hi

    def horizon_ok(end_idx: int) -> bool:
        if within_s is None:
            return True
        if ts_sec is not None:
            return ts_sec[end_idx] - ts_sec[start] <= within_s
        return (rows[end_idx][ts_col] - rows[start][ts_col]).total_seconds() <= within_s

    def rec(si: int, pos: int, spans):
        if si == len(steps):
            if keep_empty or any(v for v in spans.values()):
                yield spans
            return
        step = steps[si]
        mask = masks.get(step.name) if masks else None
        ctx_pred = _needs_ctx(step)

        def ok_at(i: int, cur: list[int]) -> bool:
            if ctx_pred:
                return bool(step.where(rows[i], NavCtx(rows, i, spans, step.name, cur)))
            if mask is not None:
                return bool(mask[i])
            return bool(step.where(rows[i]))

        if step.contiguity == "combinations":
            # SKIP_TILL_ANY internal contiguity (allowCombinations): the
            # loop may skip MATCHING rows too — every increasing subset of
            # qualifying rows (first element pinned at pos) is a branch,
            # each continuing into the remaining steps.
            if ctx_pred:
                # guard here too: where()/or_()/until() can attach a
                # navigating predicate AFTER allow_combinations() —
                # branch-dependent partial selections would make
                # LAST/FIRST navigation ambiguous
                raise ValueError(
                    "allowCombinations: ctx-navigating predicate unsupported"
                )
            def subsets(start: int, cur: list[int]):
                if len(cur) >= step.min_times:
                    yield list(cur)
                if step.max_times is not None and len(cur) >= step.max_times:
                    return
                j = start
                while j < n and horizon_ok(j):
                    if ok_at(j, cur):
                        if not cur and j > pos:
                            break  # first iteration must sit at pos
                        cur.append(j)
                        yield from subsets(j + 1, cur)
                        cur.pop()
                        if not cur:
                            break
                    j += 1

            for taken in subsets(pos, []):
                yield from rec(
                    si + 1,
                    (taken[-1] + 1) if taken else pos,
                    {**spans, step.name: taken},
                )
            return

        # relaxed internal contiguity skips non-matching rows BETWEEN
        # iterations (first iteration stays anchored at pos)
        relaxed = step.contiguity != "strict"
        # collect the maximal taking (prefixes of it are the candidates)
        cur: list[int] = []
        i = pos
        while (
            i < n
            and (step.max_times is None or len(cur) < step.max_times)
            and horizon_ok(i)
        ):
            if ok_at(i, cur):
                cur.append(i)
            elif not (relaxed and cur):
                break
            i += 1
        cnt = len(cur)
        # greedy: longest span first, backtrack down to min_times;
        # reluctant: shortest admissible span first
        order = (
            range(cnt, step.min_times - 1, -1)
            if step.greedy
            else range(step.min_times, cnt + 1)
        )
        nondet = step.name.startswith("_anygap")
        for take in order:
            taken = cur[:take]
            produced = False
            for m in rec(
                si + 1, (taken[-1] + 1) if taken else pos,
                {**spans, step.name: taken},
            ):
                produced = True
                yield m
            if produced and not nondet:
                return

    yield from rec(0, start, {})


class Match:
    """Measure navigation over one match (FIRST/LAST/COUNT of a variable,
    MATCH_NUMBER(), CLASSIFIER()).

    Operates on plain dict records — pandas ``.iloc`` row access in the
    scan loop costs a Series construction per touch, which dominated the
    NFA's runtime before the switch."""

    def __init__(self, records, spans, match_no: int = 1, classifier: str | None = None):
        self._records = records
        self.spans = spans
        self.match_no = match_no  # MATCH_NUMBER(): 1-based per partition
        self.classifier = classifier  # CLASSIFIER(): current row's variable

    def _span(self, step) -> list:
        """Row indices of one variable, or the merged ordered indices of a
        SUBSET union variable (tuple/list of base variables)."""
        if isinstance(step, (tuple, list)):
            return sorted(i for v in step for i in (self.spans.get(v) or []))
        return self.spans.get(step) or []

    def first(self, step, col: str, off: int = 0):
        idx = self._span(step)
        return self._records[idx[off]][col] if off < len(idx) else None

    def last(self, step, col: str, off: int = 0):
        idx = self._span(step)
        return self._records[idx[-1 - off]][col] if off < len(idx) else None

    def count(self, step) -> int:
        return len(self._span(step))


def _prepare(pdf, steps, within_s, ts_col, key_starts=None):
    """Rows view + predicate masks + epoch seconds for one partition, and
    the scan path.  Vectorized when every ctx-free step has ``where_vec``
    (no per-row Python until a match's measures are read — navigating
    steps are evaluated inside the NFA regardless), else per-row dicts.

    The fourth value picks the path of :func:`_matches`: ``(regex,
    name->bit, symbol string)`` when every step is ctx-free with a mask,
    the chain compiles (strict loops, <=8 variables) and, under WITHIN,
    the timestamps ascend — rows arrive sorted by order_by whose head is
    the time column, but an operator-API caller may order differently, so
    verify.  ``key_starts`` (bool array) marks each key's first row when
    ``pdf`` is a whole key-contiguous partition; time may drop there.
    None means the backtracking NFA."""
    import numpy as np

    if steps and all(s.where_vec is not None or _needs_ctx(s) for s in steps):
        rows = _ColRows(pdf)
        masks = {
            s.name: list(map(bool, s.where_vec(pdf)))
            for s in steps
            if s.where_vec is not None and not _needs_ctx(s)
        }
        ts_sec = (
            (pdf[ts_col].astype("int64") / 1e9).tolist() if within_s is not None else None
        )
    else:
        rows = pdf.to_dict("records")
        masks = _predicate_masks(rows, steps)
        ts_sec = [r[ts_col].timestamp() for r in rows] if within_s is not None else None
    regex = None
    if all(not _needs_ctx(st) and st.name in masks for st in steps):
        compiled = _compile_regex(steps)
        ts_ok = ts_sec is None or bool(np.all(
            (np.diff(ts_sec) >= 0) | (False if key_starts is None else key_starts[1:])
        ))
        if compiled is not None and ts_ok:
            rx, bits = compiled
            regex = rx, bits, _encode_symbols(masks, bits, len(rows))
    return rows, masks, ts_sec, regex


def _resume_index(after_match, spans, anchor: int, end: int) -> int:
    """Next anchor index per the AFTER MATCH strategy.  Raises on a
    SKIP TO target equal to the match's own anchor — the same infinite-
    loop guard the reference throws (Flink: 'could not skip to first/
    last row of the match — infinite loop')."""
    if after_match == "past_last_row":
        return end
    if after_match == "next_row":
        return anchor + 1
    mode, var = after_match
    span = spans.get(var) or []
    if not span:
        raise ValueError(f"AFTER MATCH SKIP TO {var}: variable matched no rows")
    tgt = span[0] if mode == "to_first" else span[-1]
    if tgt <= anchor:
        raise ValueError(
            f"AFTER MATCH SKIP TO {'FIRST' if mode == 'to_first' else 'LAST'} "
            f"{var} would resume at the match's own start row (infinite loop)"
        )
    return tgt


def _compile_regex(steps: Sequence[Step], bits: dict[str, int] | None = None):
    """Compile a ctx-free step chain into a Python regex over a symbol
    alphabet: each row becomes codepoint 0x100 + (bitvector of which step
    NAMES its masks satisfy), each step a captured quantified char class.

    Exact by construction: the NFA's backtracking order (leftmost anchor,
    greedy = longest-first / reluctant = shortest-first per step, strict
    contiguity) IS the re module's — an equivalence the test-suite
    property-checks (tests/test_property_based.py::
    test_cep_regex_path_matches_nfa).  Returns (regex, name->bit)
    or None when the chain has >8 distinct names (alphabet would blow up).

    ``bits`` pins an existing name->bit mapping (prefix compilation over an
    already-encoded symbol string must share the full chain's alphabet).
    """
    import re

    if any(s.contiguity != "strict" for s in steps):
        return None  # relaxed/combinations loops take the NFA path
    if bits is None:
        names = list(dict.fromkeys(s.name for s in steps))
        if len(names) > 8:
            return None
        bit = {nm: 1 << i for i, nm in enumerate(names)}
        n_codes = 1 << len(names)
    else:
        bit = bits
        n_codes = 1 << len(bits)
    parts = []
    for s in steps:
        cls = "".join(chr(0x100 + c) for c in range(n_codes) if c & bit[s.name])
        if not cls:
            return None
        lo, hi = s.min_times, s.max_times
        if lo == 1 and hi == 1:
            quant = ""
        elif hi is None:
            quant = f"{{{lo},}}"
        else:
            quant = f"{{{lo},{hi}}}"
        if quant and not s.greedy:
            quant += "?"
        parts.append(f"((?:[{cls}]){quant})" if quant else f"([{cls}])")
    return re.compile("".join(parts)), bit


def _encode_symbols(masks, names_bits, n: int) -> str:
    """Row -> alphabet codepoint string for the regex scan."""
    import numpy as np

    arr = np.zeros(n, dtype=np.uint32)
    for nm, b in names_bits.items():
        arr |= np.asarray(masks[nm], dtype=bool) * np.uint32(b)
    return "".join(map(chr, (arr + 0x100).tolist()))


def _group_spans(m, steps) -> dict[str, list[int]]:
    """A regex match's row spans per variable.  Plain assignment: a
    repeated variable name keeps the LAST step's span — the NFA's rec()
    does the same (a group that took no part reads (-1, -1): empty)."""
    return {st.name: list(range(*m.span(gi))) for gi, st in enumerate(steps, 1)}


def _matches(steps, rows, masks, ts_sec, regex, within_s, ts_col, after_match,
             lo: int = 0, hi: int | None = None):
    """The one match loop: yield ``(anchor, spans, end)`` for every match in
    rows [lo, hi) (row indices global into ``rows``), resuming per
    ``after_match`` — 'past_last_row', 'next_row', ('to_first'|'to_last',
    var) — or, for 'no_skip', every match of every anchor, advancing one
    row regardless (flink-cep NO_SKIP emission of SKIP_TILL_ANY patterns).

    ``regex`` (from :func:`_prepare`) gives the C-speed scan: the re engine
    over the symbol string finds exactly the NFA's matches, and WITHIN
    becomes an ``endpos`` bound per anchor (ts ascending -> the horizon is
    a prefix of the row window).  Otherwise the backtracking NFA runs from
    every anchor row the first required step accepts."""
    from bisect import bisect_right

    hi = len(rows) if hi is None else hi
    first = steps[0]
    # anchor rows must satisfy the first required step (strict contiguity);
    # no precomputed mask for ctx-aware first steps — the NFA checks those
    anchor_mask = (
        masks.get(first.name) if first.min_times > 0 and not _needs_ctx(first) else None
    )
    if after_match == "no_skip":
        for i in range(lo, hi):
            if anchor_mask is None or anchor_mask[i]:
                for spans in _match_all_at(rows, i, steps, within_s, ts_col,
                                           masks, ts_sec, hi):
                    yield i, spans, max(ix for v in spans.values() for ix in v) + 1
        return
    pos = lo
    while pos < hi:
        if regex is not None:
            rx, _bits, sym = regex
            m = rx.search(sym, pos, hi)
            if not m:
                return
            i = m.start()
            if within_s is not None:
                # first index whose ts exceeds the horizon — same float
                # predicate the NFA's horizon_ok uses (ts[j]-ts[i] <= within)
                bound = bisect_right(
                    ts_sec, within_s, lo=i, hi=hi, key=lambda v: v - ts_sec[i]
                )
                if m.end() > bound:
                    m = rx.match(sym, i, bound)
            # no match inside the horizon, or an all-optional pattern
            # matched nothing: next anchor
            if not m or m.end() == i:
                pos = i + 1
                continue
            spans, end = _group_spans(m, steps), m.end()
        else:
            i = pos
            spans = (
                None
                if anchor_mask is not None and not anchor_mask[i]
                else _match_at(rows, i, steps, within_s, ts_col, masks, ts_sec, hi)
            )
            if not spans:
                pos = i + 1
                continue
            end = max(ix for v in spans.values() for ix in v) + 1
        yield i, spans, end
        pos = _resume_index(after_match, spans, i, end)


def _emit(out, rows, found, measures, key_dict, rows_per_match: str = "one",
          data_cols: Sequence[str] = (), match_no: int = 0) -> int:
    """The one emitter: append the output rows of every ``(anchor, spans,
    end)`` in ``found`` to ``out`` and return the last MATCH_NUMBER(),
    counting on from ``match_no``.  ONE ROW PER MATCH: the measures, with
    CLASSIFIER() = the variable of the match's last row.  ALL ROWS PER
    MATCH: one output row per matched input row, in match order, with
    running-semantics measures + CLASSIFIER of that row."""
    for _anchor, spans, _end in found:
        match_no += 1
        if rows_per_match == "all":
            for ri, var in sorted((i, v) for v, idxs in spans.items() for i in idxs):
                running = {v: [x for x in idxs if x <= ri] for v, idxs in spans.items()}
                m = Match(rows, running, match_no=match_no, classifier=var)
                row = rows[ri]
                out.append({**key_dict, **{c: row[c] for c in data_cols},
                            **{name: fn(m) for name, fn in measures}})
        else:
            last_var = max(spans, key=lambda v: spans[v][-1] if spans[v] else -1)
            m = Match(rows, spans, match_no=match_no, classifier=last_var)
            out.append({**key_dict, **{name: fn(m) for name, fn in measures}})
    return match_no


def _scan_partition(
    pdf, partition_by, steps, within_s, ts_col, after_match, measures,
    rows_per_match: str = "one", data_cols: Sequence[str] = (),
):
    """Whole-partition scan: vectorized predicate masks + symbol encoding
    computed ONCE over the key-contiguous, time-sorted partition frame,
    group boundaries located vectorized, then one C-speed regex scan per
    key group over string slices.  Eliminates the pandas ``groupby``
    iteration + per-group Series ops that dominate at high key cardinality
    (~1.6 ms/group measured — more than the NFA scan itself).

    Returns the output row list, or None when the fast path doesn't apply
    (ctx-navigating DEFINE, no vectorized predicate, >8 variables, or a
    WITHIN over non-ascending timestamps)."""
    import numpy as np

    if not partition_by or not steps or pdf.empty:
        return None
    if not all(s.where_vec is not None and not _needs_ctx(s) for s in steps):
        return None
    if any(s.name.startswith("_anygap") for s in steps):
        return None  # SKIP_TILL_ANY enumerates all matches — _scan handles it
    kdf = pdf[list(partition_by)]
    prev = kdf.shift()
    # null-safe change detection (NaN != NaN is True; both-null is "same")
    chg = ((kdf != prev) & ~(kdf.isna() & prev.isna())).any(axis=1).to_numpy()
    chg[0] = True
    rows, masks, ts_sec, regex = _prepare(pdf, steps, within_s, ts_col, chg)
    if regex is None:
        return None  # >8 variables, or time not ascending within a group
    starts = np.flatnonzero(chg)
    ends = np.append(starts[1:], len(pdf))
    key_cols = {c: rows._cols[c] for c in partition_by}
    out: list[dict] = []
    for a, b in zip(starts.tolist(), ends.tolist()):
        key_dict = {c: key_cols[c][a] for c in partition_by}
        found = _matches(steps, rows, masks, ts_sec, regex, within_s, ts_col,
                         after_match, a, b)
        _emit(out, rows, found, measures, key_dict, rows_per_match, data_cols)
    return out


def _scan(
    pdf, steps, within_s, ts_col, after_match, measures, key_dict,
    rows_per_match: str = "one", data_cols: Sequence[str] = (),
):
    """One key group's matches over its time-sorted rows, emitted."""
    rows, masks, ts_sec, regex = _prepare(pdf, steps, within_s, ts_col)
    # followedByAny / allowCombinations (SKIP_TILL_ANY) mode: enumerate ALL
    # matches per anchor and advance one row regardless (flink-cep NO_SKIP
    # emission) — the first-match regex fast path and after-match skipping
    # don't apply.
    if any(
        st.name.startswith("_anygap") or st.contiguity == "combinations"
        for st in steps
    ):
        after_match = "no_skip"
    out: list[dict] = []
    found = _matches(steps, rows, masks, ts_sec, regex, within_s, ts_col, after_match)
    _emit(out, rows, found, measures, key_dict, rows_per_match, data_cols)
    return out


def _per_key_map(df, partition_by, order_by, out_schema, cols, scan_group,
                 scan_whole=None) -> DataFrame:
    """A batch CEP operator's plan: one shuffle on the match key, Tungsten
    sort, then a single Python pass per partition — rows arrive
    key-contiguous and time-ordered (batch order preserved across Arrow
    chunks).  ``scan_whole(pdf)`` may scan the whole partition at once
    (None: not applicable); else ``scan_group(pdf, key_dict)`` runs per key
    group, in arrival order (groupby sort=False; dropna=False keeps
    NULL-keyed groups).  Per-key applyInPandas pays one Arrow round-trip
    per group — with high key cardinality (the normal CEP shape) that
    overhead dominates; mapInPandas amortizes it across the whole
    partition.  Scales by key hash at 100 TB like any keyed op."""

    def run_partition(batches):
        import pandas as pd

        frames = [b for b in batches if not b.empty]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        out = scan_whole(pdf) if scan_whole is not None else None
        if out is None:
            out = []
            for key, g in pdf.groupby(partition_by, sort=False, dropna=False):
                key_t = key if isinstance(key, tuple) else (key,)
                out.extend(scan_group(g.reset_index(drop=True),
                                      dict(zip(partition_by, key_t))))
        if out:
            yield pd.DataFrame(out, columns=cols)

    return (
        df.repartition(*partition_by)
        .sortWithinPartitions(*partition_by, *order_by)
        .mapInPandas(run_partition, out_schema)
    )


def match_recognize(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    steps: Sequence[Step],
    measures: Sequence[tuple[str, Callable]],
    out_schema: str,
    within: float | None = None,
    after_match: str | tuple = "past_last_row",
    ts_col: str = "ts",
    rows_per_match: str = "one",
    data_cols: Sequence[str] = (),
) -> DataFrame:
    """Batch MATCH_RECOGNIZE: one output row per match (or per matched
    input row under ``rows_per_match='all'``).

    ``measures``: (output_col, fn(Match) -> value); ``out_schema`` is the
    DDL for partition keys [+ input data_cols under 'all'] + measures;
    ``within`` in seconds; ``after_match`` is 'past_last_row', 'next_row',
    or ('to_first'|'to_last', var).
    """
    partition_by = list(partition_by)
    data_cols = list(data_cols)

    cols = partition_by + data_cols + [name for name, _ in measures]
    # whole-partition vectorized scan when every DEFINE is vectorizable,
    # else the general per-key path
    return _per_key_map(
        df, partition_by, order_by, out_schema, cols,
        lambda g, key_dict: _scan(
            g, steps, within, ts_col, after_match, measures, key_dict,
            rows_per_match, data_cols,
        ),
        lambda pdf: _scan_partition(
            pdf, partition_by, steps, within, ts_col, after_match,
            measures, rows_per_match, data_cols,
        ),
    )


def _timeout_scan(pdf, steps, within_s, ts_col, measures, key_dict):
    """One key group's timed-out partial matches (see match_timeouts)."""
    from bisect import bisect_right

    rows, masks, ts_sec, regex = _prepare(pdf, steps, within_s, ts_col)
    n = len(rows)
    if not all(not _needs_ctx(st) and st.name in masks for st in steps):
        raise ValueError(
            "timeout side-output requires ctx-free DEFINE predicates"
        )
    if any(st.contiguity != "strict" for st in steps):
        raise ValueError(
            "timeout side-output supports strict-contiguity loops only "
            "(skip_till_next/allowCombinations partials have no single "
            "longest-prefix span)"
        )
    if regex is None:
        raise ValueError(
            "timeout side-output limited to <=8 pattern variables"
            if _compile_regex(steps) is None
            else "WITHIN timeout scan requires ascending timestamps"
        )
    _rx, bits, s = regex
    # prefix automata (steps[:j], longest first) over the SAME alphabet
    prefixes = [
        (j, _compile_regex(steps[:j], bits)[0])
        for j in range(len(steps) - 1, 0, -1)
    ]
    # pass 1: completed matches (SKIP PAST LAST ROW) -> consumed intervals
    consumed = bytearray(n)
    consumed_starts: list[int] = []
    for i, _spans, end in _matches(steps, rows, masks, ts_sec, regex, within_s,
                                   ts_col, "past_last_row"):
        consumed[i:end] = b"\x01" * (end - i)
        consumed_starts.append(i)
    # pass 2: every unconsumed row that begins a partial match -> its
    # longest greedy prefix, clipped at the next completed match / horizon.
    # Anchors are rows accepted by ANY state reachable at position 0 —
    # leading optional (min_times=0) variables can be skipped, so their
    # mask alone must not gate the anchor (reference: NFA start states)
    anchor_steps = []
    for st in steps:
        anchor_steps.append(st)
        if st.min_times > 0:
            break
    out: list[dict] = []
    first_mask = [
        any(masks[st.name][i] for st in anchor_steps) for i in range(n)
    ]
    for i in range(n):
        if consumed[i] or not first_mask[i]:
            continue
        hi = n
        j = bisect_right(consumed_starts, i)
        if j < len(consumed_starts):
            hi = consumed_starts[j]
        if within_s is not None:
            hi = min(
                hi,
                bisect_right(ts_sec, within_s, lo=i, key=lambda v: v - ts_sec[i]),
            )
        for jlen, prx in prefixes:
            pm = prx.match(s, i, hi)
            if pm and pm.end() > i:
                spans = _group_spans(pm, steps[:jlen])
                for st in steps[jlen:]:
                    spans.setdefault(st.name, [])
                # a timed-out partial is no match: MATCH_NUMBER() reads 1
                _emit(out, rows, [(i, spans, pm.end())], measures, key_dict)
                break
    return out


def match_timeouts(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    steps: Sequence[Step],
    measures: Sequence[tuple[str, Callable]],
    out_schema: str,
    within: float | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Timed-out partial matches — the reference's CEP timeout side output
    (flink-cep/.../functions/TimedOutPartialMatchHandler.java;
    PatternStream.select(outputTag, timeoutFn, selectFn)): every row that
    begins a partial match (first pattern variable accepts) and is not
    consumed by a completed match, where the pattern cannot complete before
    the WITHIN horizon / the next completed match / end of input, emits the
    longest greedy prefix match with ``measures`` evaluated over the
    partial spans (unreached variables count 0 / navigate to NULL).

    Like the reference's NFA — which starts a fresh computation at every
    begin-event — each qualifying row yields its own timeout (overlapping
    partials are NOT deduplicated); partials overlapping a completed match
    are pruned without a timeout, mirroring AfterMatchSkipStrategy.
    Requires ctx-free DEFINE predicates (the mask/regex machinery).

    Batch end-of-input plays the role of the final watermark: pending
    partials time out, as the reference does on input end."""
    partition_by = list(partition_by)
    cols = partition_by + [name for name, _ in measures]
    return _per_key_map(
        df, partition_by, order_by, out_schema, cols,
        lambda g, key_dict: _timeout_scan(
            g, steps, within, ts_col, measures, key_dict
        ),
    )


def _stream_scan(pdf, steps, within, ts_col, measures, key_dict, match_no: int = 0):
    """Streaming buffer scan (AFTER MATCH SKIP PAST LAST ROW): returns
    (out_rows, consumed_until).  Unmatched rows before ``consumed_until``
    stay in the key's state buffer for future batches, so the resume index
    only advances past ACCEPTED matches: it is the end of the last one.
    Same match loop and emitter as the batch scan; MATCH_NUMBER() counts
    on from ``match_no``, the key's matches in earlier micro-batches."""
    rows, masks, ts_sec, regex = _prepare(pdf, steps, within, ts_col)
    found = list(_matches(steps, rows, masks, ts_sec, regex, within, ts_col,
                          "past_last_row"))
    out: list[dict] = []
    _emit(out, rows, found, measures, key_dict, match_no=match_no)
    return out, found[-1][2] if found else 0


def match_recognize_stream(
    sdf: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    steps: Sequence[Step],
    measures: Sequence[tuple[str, Callable]],
    out_schema: str,
    within: float,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming MATCH_RECOGNIZE (AFTER MATCH SKIP PAST LAST ROW only).

    Per-key state buffers unmatched rows; matched prefixes are consumed,
    rows older than ``within`` below the key's max event time are pruned —
    the same cleanup contract as the reference NFA's WITHIN handling.
    The key's match count rides in the same state, so MATCH_NUMBER()
    numbers a key's matches as the batch operator does.
    """
    if any(s.contiguity == "combinations" or s.name.startswith("_anygap")
           for s in steps):
        # SKIP_TILL_ANY emits every subset branch / every gap alternative;
        # the streaming buffer's consumed-prefix contract (single match per
        # anchor, resume past it) cannot represent that without
        # re-emitting across batches.
        raise ValueError(
            "allowCombinations() loops and followedByAny() are batch-only "
            "(same restriction class as PREV/NEXT navigation in streaming "
            "MATCH_RECOGNIZE)"
        )

    from flink_1_12_0_spark.streaming.stateful import sharded_keyed_process

    partition_by = list(partition_by)
    order_by = list(order_by)
    data_cols = [c for c in sdf.columns if c not in partition_by]

    def fn(key, pdfs, state):
        import pandas as pd

        # state: (the key's unconsumed buffer as a pandas frame of the data
        # columns, in the dtypes the batches carried; its match count)
        held, match_no = state.get if state.exists else (None, 0)
        frames = [f[data_cols] for f in (held, *pdfs) if f is not None and not f.empty]
        if not frames:
            return
        pdf = (
            pd.concat(frames, ignore_index=True)
            .sort_values(order_by, kind="mergesort")
            .reset_index(drop=True)
        )
        key_dict = dict(zip(partition_by, key))
        out, consumed_until = _stream_scan(
            pdf, steps, within, ts_col, measures, key_dict, match_no
        )
        # retain unconsumed suffix within the time horizon
        horizon = pdf[ts_col].iloc[-1].timestamp() - within
        keep = pdf.iloc[consumed_until:]
        if not keep.empty:
            es = keep[ts_col].astype("int64").to_numpy() / 1e9
            keep = keep[es >= horizon]
        state.update((keep.reset_index(drop=True), match_no + len(out)))
        if out:
            yield pd.DataFrame(out)

    return sharded_keyed_process(sdf, partition_by, fn, out_schema)


def _combine(step: Step, op: str, cond: Callable, cond_vec: Callable | None) -> Step:
    """``step`` with ``cond`` folded into its predicate — the one
    ctx-aware combinator behind Pattern.where (``op='and'``), or_
    (``'or'``) and until (``'unless'``: accept iff not cond and the old
    predicate).  It short-circuits like Python's ``and``/``or`` (until
    tests ``cond`` first); the result navigates (``needs_ctx``) when
    either side does and hands the NavCtx only to a side that takes one
    (flink-cep IterativeCondition).  The vectorized mask combines only
    when both sides provide one."""
    first, second = (cond, step.where) if op == "unless" else (step.where, cond)
    first_ctx, second_ctx = _is_ctx(first), _is_ctx(second)

    def combined(r, ctx=None):
        a = first(r, ctx) if first_ctx else first(r)
        if op == "unless":
            a = not a
        if bool(a) == (op == "or"):
            return a
        return second(r, ctx) if second_ctx else second(r)

    combined.needs_ctx = first_ctx or second_ctx
    vec = None
    if step.where_vec is not None and cond_vec is not None:
        old_vec = step.where_vec
        vec = {
            "and": lambda pdf: old_vec(pdf) & cond_vec(pdf),
            "or": lambda pdf: old_vec(pdf) | cond_vec(pdf),
            "unless": lambda pdf: old_vec(pdf) & ~cond_vec(pdf),
        }[op]
    return replace(step, where=combined, where_vec=vec)


def _and_not_next_guard(base: Callable, anchor: str, neg: Callable) -> Callable:
    """AND a notNext guard onto ``base``: reject the row when it sits at
    the anchor variable's immediate-successor position AND matches the
    negated condition.  Position-dependent, so the result is a
    ctx-navigating predicate (evaluated per partial match, never
    mask-precomputed — the flink-cep IterativeCondition analog)."""
    base_ctx = _is_ctx(base)
    neg_ctx = _is_ctx(neg)

    def combined(r, ctx=None):
        if ctx is not None:
            prev = ctx.spans.get(anchor)
            if prev and ctx.idx == prev[-1] + 1:
                if neg(r, ctx) if neg_ctx else neg(r):
                    return False
        return base(r, ctx) if base_ctx else base(r)

    combined.needs_ctx = True
    return combined


class Pattern:
    """Fluent CEP pattern builder — the flink-cep Pattern API surface
    (flink-libraries/flink-cep .../pattern/Pattern.java: begin/next/
    followedBy/times/oneOrMore/optional/greedy/within) compiled onto the
    Step NFA.

    ``next`` is strict contiguity (Step directly after Step);
    ``followed_by`` is relaxed contiguity — an implicit reluctant
    match-anything filler step bridges the gap, which under leftmost
    scanning gives flink-cep's SKIP_TILL_NEXT semantics (the first
    qualifying event after the previous step matches).

    Quantifier modifiers apply to the LAST added variable:
    ``times(lo[, hi])``, ``one_or_more()``, ``optional()``,
    ``reluctant()``.  ``within(seconds)`` bounds the whole match.
    """

    def __init__(self):
        self._steps: list[Step] = []
        self._within: float | None = None
        self._gap_seq = 0
        self._pending_neg: Callable | None = None
        self._pending_neg_next: tuple[str, Callable] | None = None
        self._group_template: list[Step] | None = None

    @classmethod
    def begin(cls, name: str, where: Callable) -> "Pattern":
        p = cls()
        return p.next(name, where)

    @classmethod
    def begin_group(cls, sub: "Pattern") -> "Pattern":
        """GroupPattern (Pattern.java:529 / GroupPattern.java): a whole
        sub-pattern as the quantified unit — ``begin_group(Pattern.begin(
        "V", ...).next("C", ...)).times(2)`` matches V C V C (strict
        contiguity between repetitions).  Each repetition's variables are
        suffixed ``#i``; measures address one repetition as ``"V#1"`` or
        every repetition via the SUBSET tuple ``("V#1", "V#2")``."""
        if (sub._within is not None or sub._pending_neg is not None
                or sub._pending_neg_next is not None):
            raise ValueError("group sub-pattern cannot carry within/negations")
        p = cls()
        p._group_template = list(sub._steps)
        p._steps = [replace(s, name=f"{s.name}#1") for s in sub._steps]
        return p

    def next(self, name: str, where: Callable) -> "Pattern":
        if self._pending_neg is not None:
            raise ValueError("notFollowedBy must be followed by followed_by")
        nn = self._pending_neg_next
        self._pending_neg_next = None
        if nn is not None:
            # notNext(X).next(B): B IS the immediate successor, so the
            # negation collapses to an AND on B's own condition
            anchor, negf = nn
            where = _and_not_next_guard(where, anchor, negf)
        self._steps.append(Step(name, where, 1, 1))
        return self

    def followed_by(self, name: str, where: Callable) -> "Pattern":
        self._gap_seq += 1
        neg = self._pending_neg
        self._pending_neg = None
        nn = self._pending_neg_next  # left set: next() guards the variable too
        if neg is None and nn is None:
            gap = lambda r: True  # noqa: E731
        elif neg is not None:
            # notFollowedBy(X).followedBy(Y): the gap may span anything
            # EXCEPT an X event — NotCondition on the relaxed gap
            # (flink-cep NFACompiler notFollow handling)
            gap = lambda r, _n=neg: not _n(r)  # noqa: E731
        else:
            # notNext(X).followedBy(Y): only the gap's FIRST position (the
            # immediate successor of the anchor variable) is negated; the
            # rest of the gap spans anything
            gap = _and_not_next_guard(lambda r: True, nn[0], nn[1])
        self._steps.append(
            Step(f"_gap{self._gap_seq}", gap, 0, None, greedy=False)
        )
        return self.next(name, where)

    def not_followed_by(self, where: Callable) -> "Pattern":
        """Pattern.notFollowedBy: no event matching ``where`` may occur
        between the previous variable and the next ``followed_by`` one.
        A pattern cannot END with notFollowedBy (same restriction as the
        reference, Pattern.java notFollowedBy javadoc)."""
        if self._pending_neg_next is not None:
            raise ValueError("chained negative patterns are unsupported")
        self._pending_neg = where
        return self

    def not_next(self, where: Callable) -> "Pattern":
        """Pattern.notNext (flink-libraries/flink-cep/.../pattern/
        Pattern.java:273): STRICT-contiguity negation — the partial match
        dies if the event IMMEDIATELY after the previous variable's last
        matched row matches ``where``; the following variable continues
        from that same successor and may bind it (flink-cep NFACompiler
        NOT_NEXT: proceed-to-stop on the condition, proceed-to-next on
        its negation).  Dual of :meth:`not_followed_by` (relaxed
        negation).  Must be followed by another variable; if the anchor
        variable matched nothing (optional and skipped), the negation is
        vacuous, as in the reference."""
        if self._pending_neg is not None or self._pending_neg_next is not None:
            raise ValueError("chained negative patterns are unsupported")
        if not self._steps:
            raise ValueError("notNext cannot start a pattern")
        self._pending_neg_next = (self._steps[-1].name, where)
        return self

    def followed_by_any(self, name: str, where: Callable) -> "Pattern":
        """Pattern.followedByAny (Pattern.java:322): relaxed
        NON-DETERMINISTIC contiguity — where ``followed_by`` binds the
        FIRST qualifying event after the previous variable, followedByAny
        branches on EVERY qualifying one, emitting a match per
        alternative (flink-cep SKIP_TILL_ANY).  Patterns containing an
        any-gap enumerate all matches with NO_SKIP emission (the
        ``after_match`` argument does not apply, as in the reference
        where skip strategies other than NO_SKIP prune these branches)."""
        if self._pending_neg is not None or self._pending_neg_next is not None:
            raise ValueError("a negative pattern cannot precede followedByAny")
        self._gap_seq += 1
        self._steps.append(
            Step(f"_anygap{self._gap_seq}", lambda r: True, 0, None, greedy=False)
        )
        return self.next(name, where)

    def where(self, cond: Callable, cond_vec: Callable | None = None) -> "Pattern":
        """Pattern.where (Pattern.java:157): AND-combines ``cond`` with
        the LAST variable's existing condition — repeated where() calls
        conjoin, the dual of :meth:`or_`."""
        self._steps[-1] = _combine(self._steps[-1], "and", cond, cond_vec)
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """Pattern.timesOrMore (Pattern.java): at least ``n`` iterations,
        unbounded above.  On a group pattern this would mean unbounded
        repetition of the WHOLE sub-pattern, which the expansion-based
        group implementation cannot express — raise (times() either
        expands the template or raises the same way) rather than silently
        quantifying only the last sub-step."""
        if self._group_template is not None:
            raise ValueError(
                "timesOrMore on a group pattern is unsupported "
                "(unbounded group repetition; use times(n) for exact counts)"
            )
        self._steps[-1] = replace(self._steps[-1], min_times=n, max_times=None)
        return self

    def or_(self, where: Callable, where_vec: Callable | None = None) -> "Pattern":
        """Condition.or on the LAST variable (Pattern.java:178
        ``pattern.where(c1).or(c2)``): the variable accepts an event
        satisfying EITHER predicate.  Vectorized masks combine only when
        both sides provide one."""
        self._steps[-1] = _combine(self._steps[-1], "or", where, where_vec)
        return self

    def until(self, cond: Callable) -> "Pattern":
        """Pattern.until (Pattern.java:68,118): stop condition for an
        unbounded loop — the looping variable may not take an event
        matching ``cond``, and the loop ends at the first such event.
        Under this engine's strict loop contiguity that is exactly
        "accept iff where(e) and not cond(e)" (in the reference the
        distinction matters only for relaxed internal contiguity, where
        until also forbids SKIPPING over a stop event)."""
        s = self._steps[-1]
        if s.max_times is not None:
            raise ValueError("until() applies to an unbounded loop (oneOrMore)")
        vec = None if _is_ctx(cond) else getattr(cond, "vec", None)
        self._steps[-1] = _combine(s, "unless", cond, vec)
        return self

    def times(self, lo: int, hi: int | None = None) -> "Pattern":
        if self._group_template is not None:
            # group quantifier: repeat the WHOLE sub-pattern (exact count —
            # the reference's GroupPattern#times(int))
            if hi is not None and hi != lo:
                raise ValueError("group times(lo, hi) ranges are not supported")
            self._steps = [
                replace(s, name=f"{s.name}#{i}")
                for i in range(1, lo + 1)
                for s in self._group_template
            ]
            self._group_template = None
            return self
        s = self._steps[-1]
        self._steps[-1] = replace(s, min_times=lo,
                               max_times=hi if hi is not None else lo)
        return self

    def one_or_more(self) -> "Pattern":
        if self._group_template is not None:
            raise ValueError(
                "oneOrMore on a group pattern is unsupported "
                "(unbounded group repetition; use times(n) for exact counts)"
            )
        s = self._steps[-1]
        self._steps[-1] = replace(s, min_times=1, max_times=None)
        return self

    def optional(self) -> "Pattern":
        if self._group_template is not None:
            # optional group = zero or one repetition of the whole
            # sub-pattern: expressible by making EVERY sub-step optional
            # only when the group is all-or-nothing, which the flat Step
            # list cannot enforce — raise like the other group quantifiers
            raise ValueError("optional on a group pattern is unsupported")
        s = self._steps[-1]
        self._steps[-1] = replace(s, min_times=0)
        return self

    def reluctant(self) -> "Pattern":
        s = self._steps[-1]
        self._steps[-1] = replace(s, greedy=False)
        return self

    def consecutive(self) -> "Pattern":
        """Pattern.consecutive (Pattern.java looping contiguity): strict
        internal contiguity for the looping variable — iterations must be
        adjacent rows.  This engine's loops are strict by DEFAULT (SQL
        MATCH_RECOGNIZE quantifier semantics); consecutive() makes that
        explicit.  Reference divergence note: flink-cep defaults looping
        patterns to RELAXED internal contiguity instead — call
        :meth:`skip_till_next` for that mode."""
        self._steps[-1] = replace(self._steps[-1], contiguity="strict")
        return self

    def skip_till_next(self) -> "Pattern":
        """Relaxed internal contiguity (flink-cep SKIP_TILL_NEXT — the
        reference's DEFAULT for oneOrMore/times loops): non-matching rows
        between loop iterations are skipped; a matching row cannot be
        skipped.  The loop still enters at its appended position."""
        self._steps[-1] = replace(self._steps[-1], contiguity="relaxed")
        return self

    def allow_combinations(self) -> "Pattern":
        """Pattern.allowCombinations (Pattern.java): SKIP_TILL_ANY internal
        contiguity — the loop may skip MATCHING rows too, emitting one
        match per increasing subset of qualifying rows (first iteration
        pinned at the entry position).  Enumerating combinatorial, so
        batch-only and NO_SKIP-emitted, like :meth:`followed_by_any`.
        Navigation (needs_ctx) predicates are unsupported on a
        combinations loop (branch order would make LAST/FIRST ambiguous
        mid-selection)."""
        s = self._steps[-1]
        if _needs_ctx(s):
            raise ValueError("allowCombinations: ctx-navigating predicate unsupported")
        self._steps[-1] = replace(s, contiguity="combinations")
        return self

    def within(self, seconds: float) -> "Pattern":
        self._within = seconds
        return self

    def select(
        self,
        df: DataFrame,
        partition_by: Sequence[str],
        order_by: Sequence[str],
        measures: Sequence[tuple[str, Callable]],
        out_schema: str,
        ts_col: str = "ts",
        after_match: str | tuple = "past_last_row",
    ) -> DataFrame:
        """PatternStream.select: run the pattern and emit one row per
        match (CEP.pattern(stream, pattern).select(fn))."""
        if self._pending_neg is not None or self._pending_neg_next is not None:
            raise ValueError("a pattern cannot end with a negative pattern")
        return match_recognize(
            df, partition_by, order_by, self._steps, measures, out_schema,
            within=self._within, after_match=after_match, ts_col=ts_col,
        )

    def select_timeouts(
        self,
        df: DataFrame,
        partition_by: Sequence[str],
        order_by: Sequence[str],
        measures: Sequence[tuple[str, Callable]],
        out_schema: str,
        ts_col: str = "ts",
    ) -> DataFrame:
        """PatternStream.select(timeoutTag, timeoutFn, selectFn)'s timeout
        side output: one row per timed-out partial match (see
        match_timeouts)."""
        if self._pending_neg is not None or self._pending_neg_next is not None:
            raise ValueError("a pattern cannot end with a negative pattern")
        return match_timeouts(
            df, partition_by, order_by, self._steps, measures, out_schema,
            within=self._within, ts_col=ts_col,
        )
