"""Independent pure-Python reference implementation ("the oracle").

Used ONLY by tests to compute/freeze golden span sequences — never imported
by the engine. Deliberately written row-at-a-time with the stdlib ``re``
module so a bug in the Spark expression library and a bug here would have to
coincide to slip through.

Semantics must match pdftableextractor_spark.functions.strings and
kernels.layout exactly; the layout constants are restated here on purpose
(they are part of the frozen contract, FIXTURES.md §3).
"""

from __future__ import annotations

import math
import re

US, RS = "\x1f", "\x1e"
LINE_EPS, GAP_MIN, COL_MERGE_EPS, MIN_TABLE_ROWS = 0.01, 0.05, 0.02, 2
RULE_MIN_W, RULE_MAX_H = 0.3, 0.004

# Java-regex semantics on purpose: \s/\d are ASCII-only in Spark, and
# F.trim strips ASCII spaces only — the oracle must not use Python's
# Unicode-aware \s/\d/str.strip()/str.split() (found by hypothesis fuzzing
# with U+00A0 and Arabic-Indic digits).
_WS = r"[ \t\n\x0b\f\r]"
_FOOT_MARK = re.compile(
    r"^(?:\(\d+\)|\[\d+\]|\d+\.|\*+\s|note\s*\d*:|source:|see\s)",
    re.I | re.ASCII,
)
_KEYWORDS = (
    "note", "source", "see", "reference", "pursuant", "accordance",
    "disclaimer", "based on", "refers to", "includes", "excludes",
)
_SECTION = re.compile(
    r"\b(?:page|section|chapter|exhibit|appendix)\s+\d+", re.ASCII
)


def _trim(s: str) -> str:
    return s.strip(" ")


def _collapse_ws(s: str) -> str:
    return _trim(re.sub(_WS + "+", " ", s))


def normalize(text: str) -> str:
    t = re.sub(r"[⁰¹²³⁴⁵⁶⁷⁸⁹]+", "", text)
    t = re.sub(r"\([0-9]+\)", "", t)
    t = re.sub(r"\[[0-9]+\]", "", t)
    t = re.sub(r"\*+", "", t)
    t = _collapse_ws(t)
    return "" if re.fullmatch(r"[0-9]+", t) else t


def is_footnote(line: str) -> bool:
    s = _trim(line)
    m = _FOOT_MARK.match(s)
    if not m:
        return False
    if len(s) <= len(m.group()) + 5:
        return False
    low = s.lower()
    return any(k in low for k in _KEYWORDS) or bool(_SECTION.search(low))


def is_boiler(line: str) -> bool:
    s = _trim(line)
    if s.count("|") >= 2 or s.startswith("©"):
        return True
    return s.lower() in (
        "home", "about", "contact", "privacy policy",
        "terms of service", "skip to content",
    )


GRID_MAX = 10_000  # mirrors operators/extract.py:GRID_MAX densification bound
GRID_AREA_MAX = 1_000_000  # mirrors extract.GRID_AREA_MAX whole-table bound


def _table_cells(payload: str) -> list[str]:
    tag = re.compile(r"^r([0-9]+)c([0-9]+):")
    parsed = {}
    max_r = max_c = -1
    for tok in payload.split(US):
        m = tag.match(tok)
        if not m:
            continue
        r, c = int(m.group(1)), int(m.group(2))
        if r >= GRID_MAX or c >= GRID_MAX:
            continue  # malformed/hostile tag — same bound as the engine
        parsed[(r, c)] = tok[m.end():]
        max_r, max_c = max(max_r, r), max(max_c, c)
    if max_r < 0:
        return []
    if (max_r + 1) * (max_c + 1) > GRID_AREA_MAX:
        return []  # hostile area — table dropped whole, same as the engine
    out = []
    for r in range(max_r + 1):
        for c in range(max_c + 1):
            out.append(_collapse_ws(parsed.get((r, c), "")))
    return out


def _pdf_lines(payload: str) -> list[tuple[str, str]]:
    import bisect

    words, rule_tops = [], []
    for rec in payload.split(RS) if payload else []:
        p = rec.split(US)
        if len(p) == 5:
            try:
                w, top, left, width, height = (
                    p[0], float(p[1]), float(p[2]), float(p[3]), float(p[4]),
                )
            except ValueError:
                continue  # unparseable geometry → skip the record
            if not all(math.isfinite(v) for v in (top, left, width, height)):
                continue  # NaN/inf geometry is unparseable too
            if width >= RULE_MIN_W and height <= RULE_MAX_H:
                rule_tops.append(top)
            else:
                words.append((w, top, left, width))
    rule_tops.sort()
    if not words:
        return []
    words = sorted(
        enumerate(words), key=lambda iw: (iw[1][1], iw[1][2], iw[0])
    )
    lines, anchors, anchor = [], [], None
    for _, (w, top, left, width) in words:
        if anchor is not None and top - anchor <= LINE_EPS:
            lines[-1].append((w, left, width))
        else:
            lines.append([(w, left, width)])
            anchors.append(top)
            anchor = top
    lines = [sorted(ln, key=lambda x: x[1]) for ln in lines]

    seg_lines = []
    for ln in lines:
        segs, cur, start, end = [], [], None, None
        for w, left, width in ln:
            if end is not None and left - end >= GAP_MIN:
                segs.append((" ".join(cur), start, end))
                cur, start = [], None
            if start is None:
                start = left
            cur.append(w)
            end = left + width
        if cur:
            segs.append((" ".join(cur), start, end))
        seg_lines.append(segs)

    def merged_cols(region):
        ivals = sorted((s[1], s[2]) for segs in region for s in segs)
        cols = []
        for st, en in ivals:
            if cols and st <= cols[-1][1] + COL_MERGE_EPS:
                cols[-1][1] = max(cols[-1][1], en)
            else:
                cols.append([st, en])
        return cols

    def emit_table(region, out):
        cols = merged_cols(region)
        for segs in region:
            cells = [""] * len(cols)
            for text, st, en in segs:
                ctr = (st + en) / 2
                cj = None
                for k, (cs, ce) in enumerate(cols):
                    if cs - COL_MERGE_EPS <= ctr <= ce + COL_MERGE_EPS:
                        cj = k
                        break
                if cj is None:
                    cj = min(
                        range(len(cols)),
                        key=lambda k: min(
                            abs(ctr - cols[k][0]), abs(ctr - cols[k][1])
                        ),
                    )
                cells[cj] = (cells[cj] + " " + text).strip()
            out.extend(("table_cell", c) for c in cells)

    # ruled-region ids per line (None if not strictly between two rules)
    region_ids = []
    for t in anchors:
        k = bisect.bisect_right(rule_tops, t)
        region_ids.append(k if 0 < k < len(rule_tops) else None)

    out, i, n = [], 0, len(seg_lines)
    while i < n:
        if region_ids[i] is not None:
            j = i
            while j < n and region_ids[j] == region_ids[i]:
                j += 1
            group = seg_lines[i:j]
            if len(merged_cols(group)) >= 2:
                emit_table(group, out)
            else:
                for k in range(i, j):
                    out.append(("text", " ".join(s[0] for s in seg_lines[k])))
            i = j
            continue
        j = i
        while j < n and region_ids[j] is None:
            j += 1
        k = i
        while k < j:
            if len(seg_lines[k]) >= 2:
                m = k
                while m < j and len(seg_lines[m]) >= 2:
                    m += 1
                if m - k >= MIN_TABLE_ROWS:
                    emit_table(seg_lines[k:m], out)
                else:
                    for kk in range(k, m):
                        out.append(
                            ("text", " ".join(s[0] for s in seg_lines[kk]))
                        )
                k = m
            else:
                out.append(("text", " ".join(s[0] for s in seg_lines[k])))
                k += 1
        i = j
    return out


def extract_document(doc: dict) -> list[dict]:
    """One document dict → expected ordered span rows (FIXTURES.md §2)."""
    emitted = []  # (offset, sub_idx, kind, text, media_ref)
    for span in sorted(doc["spans"], key=lambda s: s["offset"]):
        kind, text, media, off = (
            span["kind"], span["text"], span["media_ref"], span["offset"],
        )
        if kind == "text":
            if is_boiler(text) or is_footnote(text):
                continue
            norm = normalize(text)
            if norm:
                emitted.append((off, 0, "text", norm, ""))
        elif kind == "media":
            emitted.append((off, 0, "media", "", media))
        elif kind == "table":
            for sub, cell in enumerate(_table_cells(text)):
                emitted.append((off, sub, "table_cell", cell, ""))
        elif kind == "kv":
            parts = text.split(US, 1)
            k = _trim(parts[0])
            v = _trim(parts[1]) if len(parts) > 1 else ""
            if k:
                emitted.append((off, 0, "kv", f"{k}: {v}", ""))
        elif kind == "pdf":
            for sub, (k2, t2) in enumerate(_pdf_lines(text)):
                if k2 == "text":
                    if is_boiler(t2) or is_footnote(t2):
                        continue
                    t2 = normalize(t2)
                    if not t2:
                        continue
                    emitted.append((off, sub, "text", t2, ""))
                else:
                    emitted.append(
                        (off, sub, "table_cell", _collapse_ws(t2), "")
                    )
    emitted.sort(key=lambda e: (e[0], e[1]))
    return [
        {
            "doc_id": doc["doc_id"],
            "order": i,
            "kind": k,
            "text": t,
            "media_ref": m,
        }
        for i, (_, _, k, t, m) in enumerate(emitted)
    ]


def extract_corpus(docs: list[dict]) -> list[dict]:
    rows = []
    for d in docs:
        rows.extend(extract_document(d))
    return rows
