"""Every library def/class is reachable from an entry point, and every
defaulted parameter of a top-level library function is set by some caller.

Reachability is a name-level call-graph walk over the AST, no Spark: the seeds are the
identifiers of the entry files (the query registry, the benches, the
spark-submit jobs and perfbench) plus the module-level code of every
library module, imports excepted (a re-export reaches nothing). Each
reached name pulls in the bodies of the top-level defs and classes it
names. Identifiers are names, attributes, import aliases and
identifier-shaped string constants; any match by name counts as a call,
so the walk over-approximates what is reached.

Two capability modules are kept without a caller: CSV/PDF export and
resumable lineage (COVERAGE S9/S10 and S4).

The parameter walk reads every call site in the entry files, the library
and ``tests/``. A call binds its positional and keyword arguments to
parameter names; a parameter counts as set when some call passes it a
value other than its default expression. Three refinements:

- a parameter passed straight through to another library call (``f(x=x)``
  inside a library function whose own defaulted ``x`` is never reassigned)
  is set only when the enclosing parameter is set;
- a ``*``/``**`` argument, or a function referenced as a value outside
  ``tests/`` (a loop over operators in a job), sets all of its
  parameters; under ``tests/`` a value reference sets none (a test that
  reads ``inspect.signature(fn)`` sets no value);
- in the frozen files (``bench.py`` and ``perfbench/``) passing a parameter
  at any value sets it, because removing it would break that call.

A parameter that no caller sets is a constant in disguise: every test and
every robustness sweep has to cover a value that never changes a result.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIB = ROOT / "pdftableextractor_spark"
ENTRIES = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    *sorted((ROOT / "jobs").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]
FROZEN = {ROOT / "bench.py", *(ROOT / "perfbench").glob("*.py")}
TESTS = ROOT / "tests"
CALLERS = [*ENTRIES, *sorted(LIB.rglob("*.py")), *sorted(TESTS.glob("*.py"))]
KEPT = {"operators/export.py", "plans/resume.py"}
_IDENT = re.compile(r"[A-Za-z_]\w*")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (*_FUNCS, ast.ClassDef)


def _idents(nodes) -> set[str]:
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.asname or n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if _IDENT.fullmatch(n.value):
                    out.add(n.value)
    return out


def _unreached() -> list[str]:
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seen = set()
    for f in ENTRIES:
        seen |= _idents([ast.parse(f.read_text())])
    for f in sorted(LIB.rglob("*.py")):
        rel = f.relative_to(LIB).as_posix()
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((rel, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                seen |= _idents([node])
    todo, done = list(seen), set()
    while todo:
        name = todo.pop()
        if name in done:
            continue
        done.add(name)
        todo.extend(_idents(node for _, node in defs.get(name, ())) - done)
    return sorted(
        f"{rel}:{name}"
        for name, sites in defs.items()
        for rel, _ in sites
        if name not in done and rel not in KEPT
    )


def test_every_library_def_is_reached_from_an_entry_point():
    assert _unreached() == []


def _defaults(fn) -> dict[str, ast.expr]:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {p.arg: d for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d})
    return out


def _unset_params() -> list[str]:
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for f in sorted(LIB.rglob("*.py")):
        rel = f.relative_to(LIB).as_posix()
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, _FUNCS):
                defs.setdefault(node.name, []).append((rel, node))
    params = {
        (rel, fn.name, p)
        for sites in defs.values()
        for rel, fn in sites
        for p in _defaults(fn)
    }
    is_set: set = set()
    through: dict[tuple, set] = {}  # enclosing param -> params it feeds

    def set_all(name):
        for rel, fn in defs.get(name, ()):
            is_set.update((rel, fn.name, p) for p in _defaults(fn))

    for f in dict.fromkeys(CALLERS):
        tree = ast.parse(f.read_text())
        lib_rel = f.relative_to(LIB).as_posix() if f.is_relative_to(LIB) else None
        callees = set()
        for top in tree.body:
            owner = None
            if lib_rel and isinstance(top, _FUNCS):
                stored = {
                    n.id for n in ast.walk(top)
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                }
                owner = (top.name, set(_defaults(top)) - stored)
            for call in ast.walk(top):
                if not isinstance(call, ast.Call):
                    continue
                callees.add(id(call.func))
                name = getattr(call.func, "id", getattr(call.func, "attr", None))
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    set_all(name)
                    continue
                for rel, fn in defs.get(name, ()):
                    dflt = _defaults(fn)
                    pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
                    bound = [*zip(pos, call.args)]
                    bound += [(k.arg, k.value) for k in call.keywords]
                    for p, v in bound:
                        key = (rel, fn.name, p)
                        if p not in dflt:
                            continue
                        if f in FROZEN:
                            is_set.add(key)
                        elif ast.dump(v) == ast.dump(dflt[p]):
                            continue
                        elif owner and isinstance(v, ast.Name) and v.id in owner[1]:
                            through.setdefault((lib_rel, owner[0], v.id), set()).add(key)
                        else:
                            is_set.add(key)
        if f.is_relative_to(TESTS):
            continue
        imported = {
            a.asname or a.name.split(".")[0]
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
        }
        for n in ast.walk(tree):
            if id(n) in callees:
                continue
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                set_all(n.id)
            elif isinstance(n, ast.Attribute) and getattr(n.value, "id", None) in imported:
                set_all(n.attr)
    todo = list(is_set)
    while todo:
        for key in through.get(todo.pop(), ()):
            if key not in is_set:
                is_set.add(key)
                todo.append(key)
    return sorted(f"{rel}:{name}({p})" for rel, name, p in params - is_set)


def test_every_defaulted_parameter_is_set_by_a_caller():
    unset = _unset_params()
    assert unset == [], f"{len(unset)} parameters no caller sets: {unset}"
