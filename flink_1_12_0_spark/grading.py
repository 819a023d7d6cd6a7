"""Grading bookkeeping derived from committed files, never copied by hand.

The correctness grader grades the first 50 entries of ``queries()`` each
round and commits the verdict as ``CORRECTNESS_r{N}.json``.  Two facts
about every registered query follow from the repository itself:

* **grade age** — the newest ``CORRECTNESS_r*.json`` in which the name is
  green (``rows_match``, ``schema_match`` and ``hash_match`` all true and
  ``err`` null);
* **superseded** — a graded name whose current text hash differs from, or
  is missing in, ``tests/graded_text_hashes.json``: its green grade was
  earned by text that no longer exists.

The text hash covers a query's oracle SQL, its Spark-side definition and
the source of every package-local helper in its static call closure, so an
edit to a shared helper re-stales every graded row that reaches it.

Fold-in (after a new ``CORRECTNESS_r{N}.json`` lands, before the next text
edit): ``python3 scripts/record_text_hashes.py``.  Names green in the
newest file take their current hash; every other name keeps its recorded
hash, so a superseded row the newest window did not regrade stays
superseded.

Nothing here runs at import: ``registry.ordered_queries()`` calls in
lazily and caches the result once per process.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import importlib
import inspect
import json
import os
import re
import sys
import textwrap

from flink_1_12_0_spark import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HASHES_PATH = os.path.join(ROOT, "tests", "graded_text_hashes.json")

_PKG = "flink_1_12_0_spark"

#: Registration plumbing whose source is structural boilerplate shared
#: by every row — including it would make every hash depend on the
#: decorator's text without adding semantic coverage.  Module-level
#: exclusion only: a qualname blocklist would silently drop any future
#: package helper that happened to share a name with the plumbing.
_EXCLUDED_MODULES = frozenset({f"{_PKG}.registry"})


# ---- grade age ---------------------------------------------------------


def correctness_files(root: str = ROOT) -> dict[int, str]:
    """{round: path} for every committed ``CORRECTNESS_r{N}.json``."""
    out = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            out[int(m.group(1))] = path
    return out


def green_names(path: str) -> frozenset[str]:
    """Names graded green in one CORRECTNESS file."""
    with open(path) as f:
        rows = json.load(f)
    return frozenset(
        name for name, r in rows.items()
        if r.get("rows_match") is True and r.get("schema_match") is True
        and r.get("hash_match") is True and r.get("err") is None)


def grade_ages(files: dict[int, str] | None = None) -> dict[str, int]:
    """{name: newest round in which it graded green}."""
    files = correctness_files() if files is None else files
    ages: dict[str, int] = {}
    for rnd in sorted(files):
        for name in green_names(files[rnd]):
            ages[name] = rnd
    return ages


# ---- text hash ---------------------------------------------------------


def _is_local_def(obj) -> bool:  # noqa: ANN001
    """A function or class defined inside the package (not plumbing)."""
    if not (inspect.isfunction(obj) or inspect.isclass(obj)):
        return False
    mod = getattr(obj, "__module__", "") or ""
    return mod.startswith(_PKG) and mod not in _EXCLUDED_MODULES


def _anchor_package(module_name: str, level: int) -> str | None:
    """The package an ``ast.ImportFrom`` with ``level`` dots resolves
    against, for code defined in ``module_name`` — the semantics of
    importlib's ``_resolve_name`` (a package ``__init__`` anchors at
    ITSELF for level 1, a plain module at its containing package; a
    bare ``rsplit(level)`` strips one component too many for packages)."""
    mod = sys.modules.get(module_name)
    pkg = getattr(mod, "__package__", None)
    if pkg is None:
        pkg = module_name.rsplit(".", 1)[0]
    parts = pkg.split(".")
    if level - 1 >= len(parts):
        return None
    return ".".join(parts[: len(parts) - (level - 1)])


def _import_module(target: str):  # noqa: ANN001
    if not target.startswith(_PKG):
        return None
    try:
        return importlib.import_module(target)
    except ImportError:
        return None


def _static_refs(src: str, module_name: str):  # noqa: ANN001
    """Package-local functions/classes statically referenced by ``src``.

    Resolution order mirrors how the code actually binds names:
    plain ``Name`` loads against the defining module's globals,
    ``mod.attr`` against package modules visible in the globals OR
    bound by a function-local ``import``/``from . import mod`` (local
    imports never reach module globals), and ``from X import Y``
    against the imported module itself, including the ``module=None``
    form ``from . import Y``.
    """
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return
    g = vars(sys.modules[module_name]) if module_name in sys.modules else {}
    # pre-pass: module objects bound by import statements in this source
    # (function-local binds are invisible to module globals)
    local_mods: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                mod = _import_module(alias.name)
                if mod is not None:
                    # 'import a.b.c' binds 'a'; 'as m' binds the leaf
                    if alias.asname:
                        local_mods[alias.asname] = mod
                    else:
                        top = alias.name.split(".")[0]
                        top_mod = _import_module(top)
                        if top_mod is not None:
                            local_mods.setdefault(top, top_mod)
        elif isinstance(node, ast.ImportFrom):
            target = node.module
            if node.level:
                pkg = _anchor_package(module_name, node.level)
                if pkg is None:
                    continue
                target = f"{pkg}.{node.module}" if node.module else pkg
            if target is None:
                continue
            base = _import_module(target)
            if base is None:
                continue
            for alias in node.names:
                obj = getattr(base, alias.name, None)
                if obj is None:
                    obj = _import_module(f"{target}.{alias.name}")
                if inspect.ismodule(obj):
                    local_mods[alias.asname or alias.name] = obj
                elif obj is not None and _is_local_def(obj):
                    yield obj
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            obj = g.get(node.id)
            if obj is not None and _is_local_def(obj):
                yield obj
        elif isinstance(node, ast.Attribute) and isinstance(node.value,
                                                            ast.Name):
            base = g.get(node.value.id)
            if not inspect.ismodule(base):
                base = local_mods.get(node.value.id)
            if inspect.ismodule(base) and base.__name__.startswith(_PKG):
                obj = getattr(base, node.attr, None)
                if obj is not None and _is_local_def(obj):
                    yield obj


class _Memo:
    """``inspect.getsource`` and ``_static_refs`` once per object.

    Scoped to one hashing run: a module re-imported under the same name
    gets new objects (and new source), which a process-wide cache keyed
    on source text would miss."""

    def __init__(self) -> None:
        self._src: dict[object, str | None] = {}
        self._refs: dict[object, list] = {}

    def source(self, obj) -> str | None:  # noqa: ANN001
        if obj not in self._src:
            try:
                self._src[obj] = inspect.getsource(obj)
            except (OSError, TypeError):
                self._src[obj] = None
        return self._src[obj]

    def refs(self, obj) -> list:  # noqa: ANN001
        if obj not in self._refs:
            src = self.source(obj)
            self._refs[obj] = ([] if src is None
                               else list(_static_refs(src, obj.__module__)))
        return self._refs[obj]


def helper_closure(fn, memo: _Memo | None = None) -> dict[str, str]:  # noqa: ANN001
    """{"module.qualname": source} for every package-local helper in
    ``fn``'s transitive static call closure (``fn`` itself excluded —
    its source is the own-text component of the hash)."""
    memo = memo or _Memo()
    out: dict[str, str] = {}
    seen: set[tuple[str, str]] = {(fn.__module__, fn.__qualname__)}
    stack = [fn]
    while stack:
        for ref in memo.refs(stack.pop()):
            key = (ref.__module__, ref.__qualname__)
            if key in seen:
                continue
            seen.add(key)
            src = memo.source(ref)
            out[f"{key[0]}.{key[1]}"] = (
                src if src is not None else f"<unsourcable:{key}>")
            stack.append(ref)
    return out


def _bound_sql(fn) -> list[str]:  # noqa: ANN001
    """The SQL a closure-registered row binds as string defaults
    (``register_sql`` / ``_sql_pair``: ``def _fn(spark, sf_dir, _s=sql)``)
    — its whole Spark side; the ``_fn`` body is shared plumbing."""
    if "<locals>" not in fn.__qualname__:
        return []
    return [d for d in fn.__defaults__ or () if isinstance(d, str)]


def query_text(name: str, memo: _Memo | None = None) -> str:
    """The graded artifact's defining text: oracle SQL, the Spark-side
    definition (the bound SQL strings for closure-registered rows, else
    the function source), and the sorted sources of the function's
    package-local helper closure."""
    fn = registry.QUERIES[name]
    bound = _bound_sql(fn)
    if bound:
        spark_side = "\x00".join(bound)
        helpers = ""
    else:
        memo = memo or _Memo()
        spark_side = memo.source(fn)
        if spark_side is None:
            spark_side = f"<unsourcable:{fn.__module__}.{fn.__qualname__}>"
        closure = helper_closure(fn, memo)
        helpers = "\x00".join(
            f"{k}\x01{closure[k]}" for k in sorted(closure))
    return (registry.ORACLES.get(name, "") + "\x00" + spark_side
            + "\x00" + helpers)


def text_hash(name: str, memo: _Memo | None = None) -> str:
    return hashlib.sha256(query_text(name, memo).encode()).hexdigest()[:16]


def graded() -> frozenset[str]:
    """Registered names green in at least one CORRECTNESS file."""
    registry.load_all()
    return frozenset(grade_ages()) & frozenset(registry.QUERIES)


def current_hashes(names=None) -> dict[str, str]:  # noqa: ANN001
    """{name: current text hash} for ``names`` (default: every graded
    registered name)."""
    registry.load_all()
    memo = _Memo()
    names = graded() if names is None else names
    return {n: text_hash(n, memo) for n in sorted(names)
            if n in registry.QUERIES}


def recorded_hashes() -> dict[str, str]:
    try:
        with open(HASHES_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def superseded(current: dict[str, str],
               recorded: dict[str, str]) -> frozenset[str]:
    """Graded names whose current hash differs from, or is missing in,
    the recorded hashes."""
    return frozenset(n for n, h in current.items() if recorded.get(n) != h)


def fold_in() -> dict[str, str]:
    """The hashes to record after the newest CORRECTNESS file landed:
    names green in it take their current hash, every other graded name
    keeps its recorded one (or stays unrecorded, hence superseded)."""
    files = correctness_files()
    newest = green_names(files[max(files)]) if files else frozenset()
    recorded = recorded_hashes()
    out = {}
    for name, h in current_hashes().items():
        if name in newest:
            out[name] = h
        elif name in recorded:
            out[name] = recorded[name]
    return out
