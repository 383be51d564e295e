"""The media operators decide which decoder reads a payload in one place
and run one Arrow loop.

An AST walk, no Spark:

- a ``*_SIG`` container-signature constant is read only by the decoder that
  owns it (``decode_png``, ``decode_jpeg``, ``decode_wav``, ``decode_avi``)
  and by ``real_decode``, the one dispatch; no other library code routes a
  payload by its leading bytes;
- every ``mapInPandas`` in ``operators/multimodal.py`` is the one in
  ``_per_payload``, the loop that maps a NULL payload to ``b""``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIB = ROOT / "pdftableextractor_spark"
MEDIA = LIB / "operators" / "multimodal.py"
FILES = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench_extra.py",
    *sorted((ROOT / "jobs").glob("*.py")),
    *sorted(LIB.rglob("*.py")),
]
DISPATCH = {
    "decode_png", "decode_jpeg", "decode_wav", "decode_avi", "real_decode"
}
_SIG = re.compile(r"[A-Z0-9_]*_SIG")


def _sites(path: Path, match) -> list[tuple[str, str]]:
    """(top-level def name or "<module>", "file:line") of every node in
    ``path`` that ``match`` accepts."""
    out = []
    for top in ast.parse(path.read_text()).body:
        owner = getattr(top, "name", "<module>")
        for n in ast.walk(top):
            if match(n):
                out.append((owner, f"{path.relative_to(ROOT)}:{n.lineno}"))
    return out


def _reads_sig(n) -> bool:
    return (
        isinstance(n, ast.Name)
        and isinstance(n.ctx, ast.Load)
        and bool(_SIG.fullmatch(n.id))
    ) or (isinstance(n, ast.Attribute) and bool(_SIG.fullmatch(n.attr)))


def _maps_in_pandas(n) -> bool:
    return (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "mapInPandas"
    )


def test_only_the_decoders_and_real_decode_read_a_signature():
    stray = [
        site for f in FILES for owner, site in _sites(f, _reads_sig)
        if f != MEDIA or owner not in DISPATCH
    ]
    assert stray == []


def test_every_media_map_in_pandas_is_the_one_loop():
    owners = [owner for owner, _ in _sites(MEDIA, _maps_in_pandas)]
    assert owners == ["_per_payload"]


def test_the_walk_sees_each_decoder_read_its_signature():
    owners = {owner for owner, _ in _sites(MEDIA, _reads_sig)}
    assert owners == DISPATCH
