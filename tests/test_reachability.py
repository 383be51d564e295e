"""Every library def/class is reachable from an entry point.

A name-level call-graph walk over the AST, no Spark: the seeds are the
identifiers of the entry files (the query registry, the benches, the
spark-submit jobs and perfbench) plus the module-level code of every
library module, imports excepted (a re-export reaches nothing). Each
reached name pulls in the bodies of the top-level defs and classes it
names. Identifiers are names, attributes, import aliases and
identifier-shaped string constants; any match by name counts as a call,
so the walk over-approximates what is reached.

Two capability modules are kept without a caller: CSV/PDF export and
resumable lineage (COVERAGE S9/S10 and S4).
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
KEPT = {"operators/export.py", "plans/resume.py"}
_IDENT = re.compile(r"[A-Za-z_]\w*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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
