"""SQL MATCH_RECOGNIZE parser → CEP NFA operator.

Reference grammar: Calcite's SqlMatchRecognize as extended by Flink 1.12
(flink-table/flink-sql-parser, planner node StreamExecMatch.scala:68,
codegen MatchCodeGenerator.scala).  This module parses the MATCH_RECOGNIZE
clause subset the reference's MatchRecognizeITCase exercises —

    SELECT * FROM <table> MATCH_RECOGNIZE (
        PARTITION BY k [, k2]
        ORDER BY ts [, tiebreak]
        MEASURES FIRST(A.c) AS x, LAST(B.c) AS y, COUNT(A.*) AS n [, ...]
        [ONE ROW PER MATCH]
        [AFTER MATCH SKIP PAST LAST ROW | AFTER MATCH SKIP TO NEXT ROW]
        PATTERN (A B{2,} C+ D? E*)
        [WITHIN INTERVAL 'n' <unit>]
        DEFINE A AS <predicate>, ...
    )

— and compiles it onto :mod:`flink_1_12_0_spark.operators.cep`
(``match_recognize`` for batch, ``match_recognize_stream`` for streams).

DEFINE predicates support comparisons (= <> != < <= > >=), IN (...),
LIKE, IS [NOT] NULL, AND/OR/NOT and parentheses over ``VAR.col`` / bare
column references, string/numeric/boolean literals, AND navigation:
``PREV(col[, n])`` / ``NEXT(col[, n])`` (physical partition offsets) and
``FIRST(V.col[, n])`` / ``LAST(V.col[, n])`` (running-variable access,
SQL:2016 running semantics — LAST(A.x) of the variable under test sees
the candidate row; LAST(A.x, 1) the previous A row), mirroring the
reference's IterativeCondition codegen (MatchCodeGenerator.scala).  SQL
three-valued logic: a comparison against NULL is unknown → no match.

Also supported: ONE/ALL ROWS PER MATCH, AFTER MATCH SKIP PAST LAST ROW /
TO NEXT ROW / TO [FIRST|LAST] var, reluctant quantifiers (B+? etc.), and
MATCH_NUMBER() / CLASSIFIER() / MATCH_ROWTIME() / MATCH_PROCTIME() measures.

Measure output types are inferred from the input DataFrame schema
(COUNT → bigint), so the generated ``applyInPandas`` schema needs no user
input — the same inference the reference's MatchCodeGenerator does from
RelDataType.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from flink_1_12_0_spark.operators.cep import Step, match_recognize, match_recognize_stream

_UNIT_S = {
    "SECOND": 1,
    "MINUTE": 60,
    "HOUR": 3600,
    "DAY": 86400,
}


@dataclass
class MRSpec:
    table: str
    partition_by: list[str]
    order_by: list[str]
    measures: list[tuple[str, str, str, str | None, int]]  # (alias, kind, var, col, off)
    pattern: list[tuple[str, int, int | None, bool]]  # (var, min, max, greedy)
    define: dict[str, "object"]  # var -> predicate AST
    within_s: float | None = None
    after_match: "str | tuple" = "past_last_row"
    select_cols: list[str] = field(default_factory=list)
    rows_per_match: str = "one"  # 'one' | 'all'
    #: SUBSET unions: name -> tuple of base pattern variables
    subsets: dict[str, tuple] = field(default_factory=dict)


# ---------------------------------------------------------------- predicates

_TOKEN_RE = re.compile(
    r"\s*(?:('(?:[^']|'')*')|(<=|>=|<>|!=|=|<|>|\(|\)|,)|([A-Za-z_][\w.]*)|"
    r"(-?\d+\.?\d*))"
)


def _tokenize(s: str) -> list[tuple[str, object]]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m or m.end() == i:
            if s[i:].strip():
                raise ValueError(f"bad predicate near: {s[i:i + 30]!r}")
            break
        if m.group(1) is not None:
            out.append(("str", m.group(1)[1:-1].replace("''", "'")))
        elif m.group(2) is not None:
            out.append(("op", m.group(2)))
        elif m.group(3) is not None:
            w = m.group(3)
            up = w.upper()
            if up in ("AND", "OR", "NOT", "IN", "LIKE", "IS", "NULL", "TRUE", "FALSE"):
                out.append(("kw", up))
            else:
                out.append(("ident", w))
        else:
            n = m.group(4)
            out.append(("num", float(n) if "." in n else int(n)))
        i = m.end()
    return out


def _false_mask(pdf):
    import pandas as pd

    return pd.Series(False, index=pdf.index)


_NAV_FNS = ("FIRST", "LAST", "PREV", "NEXT")


class _Pred:
    """Recursive-descent parser for the DEFINE predicate grammar.

    Every node compiles to a PAIR of closures: a per-(row, ctx) form (NFA
    fallback / unit evaluation; ctx is the NavCtx for navigation operands)
    and a vectorized pandas form (whole-partition boolean mask — lets the
    CEP scan skip per-row Python entirely; disabled when the predicate
    navigates, since its truth depends on the partial match).  NULL
    semantics match in both: a comparison involving NULL is unknown → False
    (NOT then negates that collapsed value)."""

    def __init__(self, tokens):
        self.t = tokens
        self.i = 0
        self.cols: set[str] = set()  # referenced columns, for pruning
        self.has_nav = False  # any PREV/NEXT/FIRST/LAST operand
        self.has_phys_nav = False  # PREV/NEXT: physical partition offsets

    def peek(self):
        return self.t[self.i] if self.i < len(self.t) else (None, None)

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok

    def expect(self, kind, val=None):
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise ValueError(f"expected {kind} {val}, got {k} {v}")
        return v

    def parse(self):
        e = self.or_expr()
        if self.i != len(self.t):
            raise ValueError(f"trailing tokens: {self.t[self.i:]}")
        return e

    def or_expr(self):
        left = self.and_expr()
        while self.peek() == ("kw", "OR"):
            self.next()
            (af, av), (bf, bv) = left, self.and_expr()
            left = (lambda r, c, _a=af, _b=bf: _a(r, c) or _b(r, c),
                    lambda p, _a=av, _b=bv: _a(p) | _b(p))
        return left

    def and_expr(self):
        left = self.not_expr()
        while self.peek() == ("kw", "AND"):
            self.next()
            (af, av), (bf, bv) = left, self.not_expr()
            left = (lambda r, c, _a=af, _b=bf: _a(r, c) and _b(r, c),
                    lambda p, _a=av, _b=bv: _a(p) & _b(p))
        return left

    def not_expr(self):
        if self.peek() == ("kw", "NOT"):
            self.next()
            f, v = self.not_expr()
            return (lambda r, c: not f(r, c), lambda p: ~v(p))
        return self.primary()

    def primary(self):
        if self.peek() == ("op", "("):
            self.next()
            e = self.or_expr()
            self.expect("op", ")")
            return e
        return self.comparison()

    def operand(self):
        k, v = self.next()
        if k == "ident":
            if v.upper() in _NAV_FNS and self.peek() == ("op", "("):
                return self._nav_operand(v.upper())
            col = v.split(".", 1)[1] if "." in v else v
            self.cols.add(col)
            return ("col", col)
        if k in ("str", "num"):
            return ("lit", v)
        if k == "kw" and v in ("TRUE", "FALSE"):
            return ("lit", v == "TRUE")
        if k == "kw" and v == "NULL":
            return ("lit", None)
        raise ValueError(f"bad operand {k} {v}")

    def _nav_operand(self, fn: str):
        """FIRST(V.col[, n]) / LAST(V.col[, n]) / PREV(col[, n]) /
        NEXT(col[, n]) — running-variable or physical-offset navigation."""
        self.expect("op", "(")
        k, ref = self.next()
        if k != "ident":
            raise ValueError(f"bad {fn}() argument: {ref}")
        if "." in ref:
            var, col = ref.split(".", 1)
        else:
            var, col = None, ref
        off = None
        nk, nv = self.next()
        if (nk, nv) == ("op", ","):
            off = int(self.next()[1])
            nk, nv = self.next()
        if (nk, nv) != ("op", ")"):
            raise ValueError(f"unclosed {fn}()")
        if fn in ("FIRST", "LAST") and var is None:
            raise ValueError(f"{fn}() in DEFINE needs VAR.col")
        self.cols.add(col)
        self.has_nav = True
        if fn in ("PREV", "NEXT"):
            self.has_phys_nav = True
        if off is None:
            off = 0 if fn in ("FIRST", "LAST") else 1
        return ("nav", (fn, var, col, off))

    @staticmethod
    def _get(operand):
        kind, v = operand
        if kind == "col":
            return lambda r, c: r.get(v)
        if kind == "nav":
            fn, var, col, off = v
            if fn == "FIRST":
                return lambda r, c: c.first(var, col, off)
            if fn == "LAST":
                return lambda r, c: c.last(var, col, off)
            if fn == "PREV":
                return lambda r, c: c.prev(col, off)
            return lambda r, c: c.next(col, off)
        return lambda r, c: v

    @staticmethod
    def _vget(operand):
        """Vectorized operand: column → Series, literal → scalar.  Nav
        operands have no vectorized form (the whole predicate's ``vec`` is
        dropped when ``has_nav``), so they raise if ever reached."""
        kind, v = operand
        if kind == "col":
            return lambda p: p[v]
        if kind == "nav":
            def _no_vec(p):
                raise RuntimeError("navigating predicate has no vectorized form")
            return _no_vec
        return lambda p: v

    @staticmethod
    def _valid(operand):
        """Vectorized not-NULL mask for an operand (True for literals)."""
        kind, v = operand
        if kind == "col":
            return lambda p: p[v].notna()
        if kind == "nav":
            return _false_mask  # unused: vec dropped when has_nav
        if v is None:
            return _false_mask
        return lambda p: ~_false_mask(p)

    def comparison(self):
        lop = self.operand()
        lhs, vlhs, lvalid = self._get(lop), self._vget(lop), self._valid(lop)
        k, v = self.peek()
        if (k, v) == ("kw", "IS"):
            self.next()
            neg = False
            if self.peek() == ("kw", "NOT"):
                self.next()
                neg = True
            self.expect("kw", "NULL")
            f = (lambda g, n: lambda r, c: (g(r, c) is not None) == n)(lhs, neg)
            vf = (lambda m, n: lambda p: m(p) if n else ~m(p))(lvalid, neg)
            return (f, vf)
        if (k, v) == ("kw", "IN"):
            self.next()
            self.expect("op", "(")
            vals = []
            while True:
                vals.append(self.operand()[1])
                nk, nv = self.next()
                if (nk, nv) == ("op", ")"):
                    break
                if (nk, nv) != ("op", ","):
                    raise ValueError("bad IN list")
            vset = set(vals)
            f = (lambda g, s: lambda r, c: g(r, c) is not None and g(r, c) in s)(lhs, vset)
            vf = (lambda g, s: lambda p: g(p).isin(s))(vlhs, list(vset))
            return (f, vf)
        if (k, v) == ("kw", "LIKE"):
            self.next()
            pat = self.expect("str")
            rx = re.compile(
                "^" + re.escape(pat).replace("%", ".*").replace("_", ".") + "$",
                re.DOTALL,
            )
            f = (
                lambda g, x: lambda r, c: g(r, c) is not None
                and bool(x.match(str(g(r, c))))
            )(lhs, rx)
            vf = (
                lambda g, m, x: lambda p: m(p)
                & g(p).astype(str).str.match(x).fillna(False)
            )(vlhs, lvalid, rx)
            return (f, vf)
        if k != "op" or v not in ("=", "<>", "!=", "<", "<=", ">", ">="):
            raise ValueError(f"expected comparison op, got {k} {v}")
        self.next()
        rop = self.operand()
        rhs, vrhs, rvalid = self._get(rop), self._vget(rop), self._valid(rop)

        def cmp(r, c=None, _l=lhs, _r=rhs, _op=v):
            a, b = _l(r, c), _r(r, c)
            if a is None or b is None:
                return False
            if _op == "=":
                return a == b
            if _op in ("<>", "!="):
                return a != b
            if _op == "<":
                return a < b
            if _op == "<=":
                return a <= b
            if _op == ">":
                return a > b
            return a >= b

        import operator

        _OPS = {"=": operator.eq, "<>": operator.ne, "!=": operator.ne,
                "<": operator.lt, "<=": operator.le, ">": operator.gt,
                ">=": operator.ge}

        def vcmp(p, _l=vlhs, _r=vrhs, _lv=lvalid, _rv=rvalid, _op=_OPS[v]):
            valid = _lv(p) & _rv(p)
            res = _op(_l(p), _r(p))
            return valid & res.fillna(False) if hasattr(res, "fillna") else valid & res

        return (cmp, vcmp)


def compile_predicate(text: str):
    """DEFINE predicate string → closure ``fn(row[, ctx])``.  Attributes:
    ``.cols`` (referenced columns, for projection pruning), ``.vec``
    (vectorized pandas form — None when the predicate navigates) and
    ``.needs_ctx`` (True when PREV/NEXT/FIRST/LAST appears: the NFA then
    passes a NavCtx and never mask-precomputes it)."""
    p = _Pred(_tokenize(text))
    raw, vfn = p.parse()

    def fn(r, ctx=None, _f=raw):
        return _f(r, ctx)

    fn.cols = frozenset(p.cols)
    fn.vec = None if p.has_nav else vfn
    fn.needs_ctx = p.has_nav
    fn.phys_nav = p.has_phys_nav
    return fn


# ------------------------------------------------------------------- parsing

_MR_RE = re.compile(
    r"FROM\s+([\w.]+)\s+MATCH_RECOGNIZE\s*\(", re.IGNORECASE | re.DOTALL
)
_PATTERN_TOKEN_RE = re.compile(
    r"(\w+)\s*(\{\s*(\d+)\s*(?:(,)\s*(\d*))?\s*\}|[+*?])?(\?)?"
)
_MEASURE_RE = re.compile(
    r"(FIRST|LAST|COUNT)\s*\(\s*(?:(\w+)\.)?(\w+|\*)\s*(?:,\s*(\d+)\s*)?\)\s+AS\s+(\w+)",
    re.IGNORECASE,
)
_MEASURE_NILADIC_RE = re.compile(
    r"(MATCH_NUMBER|CLASSIFIER|MATCH_ROWTIME|MATCH_PROCTIME)\s*\(\s*\)\s+AS\s+(\w+)",
    re.IGNORECASE,
)
_MEASURE_BARE_RE = re.compile(r"(\w+)\.(\w+)\s+AS\s+(\w+)", re.IGNORECASE)
_WITHIN_RE = re.compile(r"INTERVAL\s+'(\d+)'\s+(\w+)\s*$", re.IGNORECASE)
#: compound day-time interval literals the reference's WITHIN accepts
#: (PatternTranslatorTest.scala testWithinClause):
#:   INTERVAL 'D HH:MM:SS.mmm' DAY TO SECOND / 'D HH:MM' DAY TO MINUTE /
#:   'D HH' DAY TO HOUR / 'HH:MM:SS' HOUR TO SECOND ... — parse the
#:   quoted literal by shape, the qualifier fixes the leading field.
_WITHIN_COMPOUND_RE = re.compile(
    r"INTERVAL\s+'([\d :.\-]+)'\s+(DAY|HOUR|MINUTE|YEAR)\s+TO\s+"
    r"(HOUR|MINUTE|SECOND|MONTH)",
    re.IGNORECASE,
)


def _parse_within_interval(text: str) -> float:
    """WITHIN interval literal → seconds.  Year-month resolutions raise,
    as in the reference (MatchCodeGenerator: interval must be day-time)."""
    cm = _WITHIN_COMPOUND_RE.search(text)
    if cm:
        lit, lead, trail = cm.group(1).strip(), cm.group(2).upper(), cm.group(3).upper()
        if lead == "YEAR" or trail == "MONTH":
            raise ValueError(
                "WITHIN requires a day-time interval; year-month "
                "resolutions are not supported (reference parity)"
            )
        # 'D HH[:MM[:SS[.mmm]]]' when the leading field is DAY, else
        # 'HH:MM[:SS[.mmm]]' etc. — normalize to a field list
        days = 0.0
        rest = lit
        if lead == "DAY":
            parts = lit.split(None, 1)
            days = float(parts[0])
            rest = parts[1] if len(parts) > 1 else "0"
        fields = [float(x) for x in rest.split(":")]
        # fields align to lead (or HOUR when DAY-led): HH, MM, SS.mmm
        start = {"DAY": 0, "HOUR": 0, "MINUTE": 1}.get(lead, 0)
        mults = [3600.0, 60.0, 1.0][start:start + len(fields)]
        return days * 86400.0 + sum(f * m for f, m in zip(fields, mults))
    wm = _WITHIN_RE.search(text)
    if not wm:
        raise ValueError(f"bad WITHIN clause: {text!r}")
    unit = wm.group(2).upper()
    if unit in ("YEAR", "MONTH"):
        raise ValueError(
            "WITHIN requires a day-time interval; year-month "
            "resolutions are not supported (reference parity)"
        )
    return int(wm.group(1)) * _UNIT_S[unit]
_SKIP_TO_RE = re.compile(
    r"SKIP\s+TO\s+(?:(FIRST|LAST)\s+)?(\w+)", re.IGNORECASE
)

_SECTIONS = [
    "PARTITION BY",
    "ORDER BY",
    "MEASURES",
    "ONE ROW PER MATCH",
    "ALL ROWS PER MATCH",
    "AFTER MATCH",
    "PATTERN",
    "SUBSET",
    "WITHIN",
    "DEFINE",
]


def _balanced_span(text: str, open_idx: int) -> int:
    """Index just past the ')' closing the '(' at open_idx (quote-aware)."""
    depth, i, in_str = 0, open_idx, False
    while i < len(text):
        c = text[i]
        if in_str:
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced parens in MATCH_RECOGNIZE")


def _split_top(text: str) -> list[str]:
    """Split on top-level commas (paren/quote aware)."""
    parts, depth, in_str, cur = [], 0, False, []
    for c in text:
        if in_str:
            cur.append(c)
            if c == "'":
                in_str = False
            continue
        if c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
            continue
        cur.append(c)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def parse_match_recognize(sql: str) -> MRSpec:
    m = _MR_RE.search(sql)
    if not m:
        raise ValueError("no MATCH_RECOGNIZE clause found")
    table = m.group(1)
    open_idx = sql.index("(", m.end() - 1)
    close_idx = _balanced_span(sql, open_idx)
    body = sql[open_idx + 1 : close_idx]

    # locate each section keyword at top nesting level
    upper = body.upper()
    marks: list[tuple[int, str]] = []
    for kw in _SECTIONS:
        # whole-word match: an identifier containing a keyword (measure
        # alias `undefined_x` contains DEFINE, column `pattern_id` contains
        # PATTERN) must not be mistaken for a section start
        for mm in re.finditer(rf"(?<![\w.]){re.escape(kw)}(?![\w.])", upper):
            # top-level only: not inside parens
            if body.count("(", 0, mm.start()) == body.count(")", 0, mm.start()):
                marks.append((mm.start(), kw))
                break
    marks.sort()
    sections: dict[str, str] = {}
    for j, (pos, kw) in enumerate(marks):
        end = marks[j + 1][0] if j + 1 < len(marks) else len(body)
        sections[kw] = body[pos + len(kw) : end].strip()

    if "PATTERN" not in sections or "DEFINE" not in sections:
        raise ValueError("MATCH_RECOGNIZE needs PATTERN and DEFINE")

    spec = MRSpec(
        table=table,
        partition_by=[c.strip() for c in sections.get("PARTITION BY", "").split(",") if c.strip()],
        order_by=[c.strip() for c in sections.get("ORDER BY", "").split(",") if c.strip()],
        measures=[],
        pattern=[],
        define={},
    )

    if "ALL ROWS PER MATCH" in sections:
        spec.rows_per_match = "all"

    for item in _split_top(sections.get("SUBSET", "")):
        sm = re.match(r"(\w+)\s*=\s*\(([^)]*)\)", item)
        if not sm:
            raise ValueError(f"bad SUBSET item: {item!r}")
        spec.subsets[sm.group(1)] = tuple(
            v.strip() for v in sm.group(2).split(",") if v.strip()
        )

    for item in _split_top(sections.get("MEASURES", "")):
        # FINAL/RUNNING semantics keywords: FINAL is the ONE ROW PER MATCH
        # default, RUNNING the ALL ROWS default — the engine already
        # evaluates measures with exactly those semantics per output mode,
        # so the keywords are accepted and stripped (SqlMatchRecognize
        # FINAL/RUNNING prefix operators).
        item = re.sub(r"^\s*(FINAL|RUNNING)\s+", "", item, flags=re.IGNORECASE)
        mm = _MEASURE_RE.match(item)
        if mm:
            kind = mm.group(1).upper()
            var, col, off, alias = mm.group(2), mm.group(3), mm.group(4), mm.group(5)
            spec.measures.append(
                (alias, kind, var or "*", None if col == "*" else col,
                 int(off) if off else 0)
            )
            continue
        mn = _MEASURE_NILADIC_RE.match(item)
        if mn:  # MATCH_NUMBER() / CLASSIFIER()
            spec.measures.append((mn.group(2), mn.group(1).upper(), "*", None, 0))
            continue
        mb = _MEASURE_BARE_RE.match(item)
        if mb:  # bare A.col == LAST(A.col) under ONE ROW PER MATCH
            spec.measures.append((mb.group(3), "LAST", mb.group(1), mb.group(2), 0))
            continue
        raise ValueError(f"unsupported measure: {item!r}")

    am_raw = sections.get("AFTER MATCH", "")
    am = am_raw.upper()
    if am:
        if "PAST LAST ROW" in am:
            spec.after_match = "past_last_row"
        elif "TO NEXT ROW" in am:
            spec.after_match = "next_row"
        else:
            sk = _SKIP_TO_RE.search(am_raw)
            if not sk:
                raise ValueError(f"unsupported AFTER MATCH: {am}")
            # SKIP TO var == SKIP TO LAST var (Calcite default)
            mode = "to_first" if (sk.group(1) or "LAST").upper() == "FIRST" else "to_last"
            spec.after_match = (mode, sk.group(2))

    pat = sections["PATTERN"].strip()
    if pat.startswith("("):
        pat = pat[1 : _balanced_span(pat, 0)]
    # reject the PATTERN syntax the reference also rejects, with clear
    # errors instead of a silent mis-parse (PatternTranslatorTest.scala:
    # testGroupPatterns/Alternations/Permutations/Exclusions NotSupported)
    if re.search(r"\bPERMUTE\s*\(", pat, re.IGNORECASE):
        raise ValueError("PATTERN PERMUTE(...) is not supported")
    if "|" in pat:
        raise ValueError("PATTERN alternation (A | B) is not supported")
    if re.search(r"\{\s*-", pat):
        raise ValueError("PATTERN exclusions ({- X -}) are not supported")
    if "(" in pat:
        raise ValueError(
            "group patterns inside PATTERN are not supported "
            "(use the fluent Pattern.begin_group API)"
        )
    for pm in _PATTERN_TOKEN_RE.finditer(pat):
        if not pm.group(1):
            continue
        var, quant, reluctant = pm.group(1), pm.group(2), pm.group(6) is not None
        if quant is None:
            lo, hi = 1, 1
        elif quant == "+":
            lo, hi = 1, None
        elif quant == "*":
            lo, hi = 0, None
        elif quant == "?":
            lo, hi = 0, 1
        else:
            lo = int(pm.group(3))
            if pm.group(4) is None:
                hi = lo
            else:
                hi = int(pm.group(5)) if pm.group(5) else None
        spec.pattern.append((var, lo, hi, not reluctant))

    if "WITHIN" in sections:
        spec.within_s = _parse_within_interval(sections["WITHIN"])

    for item in _split_top(sections["DEFINE"]):
        dm = re.match(r"(\w+)\s+AS\s+(.*)", item, re.IGNORECASE | re.DOTALL)
        if not dm:
            raise ValueError(f"bad DEFINE item: {item!r}")
        spec.define[dm.group(1)] = compile_predicate(dm.group(2))

    return spec


# ----------------------------------------------------------------- execution


def _needed_cols(spec: MRSpec, df: DataFrame) -> list[str]:
    """Columns the match actually touches: partition/order keys, measure
    inputs, DEFINE references.  ``applyInPandas`` is an opaque barrier to
    Catalyst's column pruning, so we prune explicitly — at 100 TB this is
    the difference between shuffling 2 columns and shuffling the row.
    Under ALL ROWS PER MATCH every input column is part of the output, so
    nothing can be pruned."""
    if spec.rows_per_match == "all":
        return list(df.columns)
    need = set(spec.partition_by) | set(spec.order_by)
    for _alias, _kind, _var, col, _off in spec.measures:
        if col is not None:
            need.add(col)
    for pred in spec.define.values():
        need |= getattr(pred, "cols", frozenset())
    return [c for c in df.columns if c in need]


def _compile(spec: MRSpec, df: DataFrame):
    """Spec + input schema → (steps, measures, out_schema DDL, data_cols).

    ``data_cols`` is empty under ONE ROW PER MATCH; under ALL ROWS PER
    MATCH it is every non-partition input column (each matched row is
    emitted with its input columns + running measures)."""
    dtypes = dict(df.dtypes)
    steps = []
    for var, lo, hi, greedy in spec.pattern:
        if var not in spec.define:
            # undefined variable matches any row (SQL default: TRUE)
            always = lambda r: True  # noqa: E731
            always.vec = lambda p: ~_false_mask(p)
            spec.define[var] = always
        pred = spec.define[var]
        steps.append(
            Step(var, pred, lo, hi, where_vec=getattr(pred, "vec", None), greedy=greedy)
        )

    measures, out_cols = [], []
    for alias, kind, var, col, off in spec.measures:
        # a SUBSET union name resolves to its tuple of base variables
        var = spec.subsets.get(var, var)
        if kind == "COUNT":
            if var == "*":
                measures.append((alias, lambda m: sum(len(v) for v in m.spans.values())))
            else:
                measures.append((alias, (lambda v: lambda m: m.count(v))(var)))
            out_cols.append(f"{alias} bigint")
        elif kind == "MATCH_NUMBER":
            measures.append((alias, lambda m: m.match_no))
            out_cols.append(f"{alias} bigint")
        elif kind == "CLASSIFIER":
            measures.append((alias, lambda m: m.classifier))
            out_cols.append(f"{alias} string")
        elif kind == "MATCH_ROWTIME":
            # event-time attribute of the match = the LAST matched row's
            # rowtime (FlinkSqlOperatorTable MATCH_ROWTIME; MatchCodeGenerator
            # materializes it so windows can chain on the MATCH output)
            ts = spec.order_by[0]
            measures.append(
                (alias, (lambda t: lambda m: m._records[
                    max(ix for v in m.spans.values() for ix in v)][t])(ts))
            )
            out_cols.append(f"{alias} {dtypes[ts]}")
        elif kind == "MATCH_PROCTIME":
            # processing-time attribute — materialized at evaluation, same
            # shim semantics as PROCTIME() -> current_timestamp()
            from datetime import datetime, timezone

            measures.append(
                (alias, lambda m: datetime.now(timezone.utc).replace(tzinfo=None))
            )
            out_cols.append(f"{alias} timestamp")
        elif kind == "FIRST":
            measures.append(
                (alias, (lambda v, c, o: lambda m: m.first(v, c, o))(var, col, off))
            )
            out_cols.append(f"{alias} {dtypes[col]}")
        else:  # LAST
            measures.append(
                (alias, (lambda v, c, o: lambda m: m.last(v, c, o))(var, col, off))
            )
            out_cols.append(f"{alias} {dtypes[col]}")

    data_cols = (
        [c for c in df.columns if c not in spec.partition_by]
        if spec.rows_per_match == "all"
        else []
    )
    schema = ", ".join(
        [f"{k} {dtypes[k]}" for k in spec.partition_by]
        + [f"{c} {dtypes[c]}" for c in data_cols]
        + out_cols
    )
    return steps, measures, schema, data_cols


def run_match_recognize(spark, sql: str, df: DataFrame | None = None) -> DataFrame:
    """Parse + execute a batch MATCH_RECOGNIZE query.  ``df`` overrides the
    FROM table (else resolved from the session catalog / temp views)."""
    spec = parse_match_recognize(sql)
    src = df if df is not None else spark.table(spec.table)
    src = src.select(*_needed_cols(spec, src))
    steps, measures, schema, data_cols = _compile(spec, src)
    return match_recognize(
        src,
        partition_by=spec.partition_by,
        order_by=spec.order_by,
        steps=steps,
        measures=measures,
        out_schema=schema,
        within=spec.within_s,
        after_match=spec.after_match,
        ts_col=spec.order_by[0],
        rows_per_match=spec.rows_per_match,
        data_cols=data_cols,
    )


def run_match_recognize_stream(spark, sql: str, sdf: DataFrame) -> DataFrame:
    """Streaming MATCH_RECOGNIZE over ``sdf`` (needs WITHIN for state
    cleanup; ONE ROW PER MATCH and AFTER MATCH SKIP PAST LAST ROW only —
    the operator contract: the state buffer keeps only rows after the last
    match, so an overlapping mode such as SKIP TO NEXT ROW would drop the
    matches batch mode finds, and is rejected instead)."""
    spec = parse_match_recognize(sql)
    if spec.within_s is None:
        raise ValueError("streaming MATCH_RECOGNIZE requires WITHIN")
    if spec.rows_per_match != "one" or spec.after_match != "past_last_row":
        raise ValueError(
            "streaming MATCH_RECOGNIZE supports ONE ROW PER MATCH and "
            "AFTER MATCH SKIP PAST LAST ROW only"
        )
    if any(getattr(p, "phys_nav", False) for p in spec.define.values()):
        # PREV/NEXT are physical offsets over the PARTITION; the streaming
        # buffer prunes consumed/expired prefixes, so a PREV at the buffer
        # head would silently see NULL where batch mode sees the real row.
        # FIRST/LAST navigate within the (fully buffered) partial match and
        # remain allowed.  Reject rather than diverge silently.
        raise ValueError(
            "streaming MATCH_RECOGNIZE does not support PREV/NEXT in "
            "DEFINE — buffer pruning breaks physical offsets"
        )
    sdf = sdf.select(*_needed_cols(spec, sdf))
    steps, measures, schema, _ = _compile(spec, sdf)
    return match_recognize_stream(
        sdf,
        partition_by=spec.partition_by,
        order_by=spec.order_by,
        steps=steps,
        measures=measures,
        out_schema=schema,
        within=spec.within_s,
        ts_col=spec.order_by[0],
    )
