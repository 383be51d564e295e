"""Only ``plans/pin.py`` materializes a frame.

An AST walk, no Spark: any ``.localCheckpoint``, ``.checkpoint``,
``.persist`` or ``.cache`` attribute call in the library, the spark-submit
jobs, the query registry or ``bench_extra.py`` fails the rule unless it is
in ``plans/pin.py``; every other pin goes through ``pin(df, reason)``.
``bench.py`` and ``perfbench/`` are frozen and not walked.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PIN = ROOT / "pdftableextractor_spark" / "plans" / "pin.py"
FILES = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench_extra.py",
    *sorted((ROOT / "jobs").glob("*.py")),
    *sorted((ROOT / "pdftableextractor_spark").rglob("*.py")),
]
_MATERIALIZE = {"localCheckpoint", "checkpoint", "persist", "cache"}


def _materializing_calls(path: Path) -> list[str]:
    return [
        f"{path.relative_to(ROOT)}:{n.lineno} .{n.func.attr}"
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in _MATERIALIZE
    ]


def test_only_plans_pin_materializes_a_frame():
    raw = [c for f in FILES if f != PIN for c in _materializing_calls(f)]
    assert raw == []


def test_the_walk_finds_the_one_pin():
    assert [c.split(" ")[1] for c in _materializing_calls(PIN)] == [
        ".localCheckpoint"
    ]
