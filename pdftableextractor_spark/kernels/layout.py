"""PDF word-box layout kernel (Arrow-batched, pandas/numpy inside).

Replaces the reference's Textract block parsing (textract_processor.py:
186-301) with geometry-driven layout analysis, per north_star:

- reading-order sort by (top, left)        — textract_processor.py:209-214
- line clustering by y-gap                 — (new; Textract pre-grouped LINEs)
- table-region detection via whitespace-gap column clustering
- row/column grid reconstruction via x-interval merging
- dense grid emission row-major with '' fill — textract_processor.py:285-297

``layout_page`` handles one serialized page. ``layout_pages`` is the
scalar Arrow UDF the extraction operators call: once per document on all
its pages, in ``extract_spans`` and ``extract_frames``.
``pdf_layout_kernel`` is a ``mapInPandas``-shaped wrapper over exploded
``kind='pdf'`` span rows (one row = one page); no operator calls it, and
perfbench's single-threaded kernel probe still does.

Frozen constants (the corpus generator and golden fixtures depend on them):
  LINE_EPS      new text line when top gap > 0.01 (page fraction)
  GAP_MIN       segment break when horizontal gap >= 0.05
  COL_MERGE_EPS x-intervals merging into one column when within 0.02
  MIN_TABLE_ROWS a run of >= 2 consecutive multi-segment lines is a table
  RULE_MIN_W / RULE_MAX_H a box at least 0.3 wide and at most 0.004 tall is
                a horizontal ruled line, not a word

Table-region detection combines BOTH north_star signals:
  ruled lines   lines enclosed between two consecutive rules form a table
                whenever interval merging yields >= 2 columns — even a
                single enclosed row (rules are strong evidence)
  whitespace    outside ruled regions, a run of >= MIN_TABLE_ROWS
                consecutive multi-segment lines is a table
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from pdftableextractor_spark.types import RS, US

LINE_EPS = 0.01
GAP_MIN = 0.05
COL_MERGE_EPS = 0.02
MIN_TABLE_ROWS = 2
RULE_MIN_W = 0.3
RULE_MAX_H = 0.004

def parse_boxes(payload: str) -> list[tuple[str, float, float, float, float]]:
    """'word\\x1ftop\\x1fleft\\x1fwidth\\x1fheight' records joined by \\x1e."""
    boxes = []
    if not payload:
        return boxes
    for rec in payload.split(RS):
        parts = rec.split(US)
        if len(parts) != 5:
            continue
        w, t, l, wd, h = parts
        try:
            boxes.append((w, float(t), float(l), float(wd), float(h)))
        except ValueError:
            continue  # unparseable geometry → skip the record
    return boxes


def _merge_columns(seg_lines: list[list[dict]]) -> list[tuple[float, float]]:
    """x-interval union over all segments of a table region → column spans."""
    ivals = sorted(
        (s["start"], s["end"]) for segs in seg_lines for s in segs
    )
    cols: list[list[float]] = []
    for st, en in ivals:
        if cols and st <= cols[-1][1] + COL_MERGE_EPS:
            cols[-1][1] = max(cols[-1][1], en)
        else:
            cols.append([st, en])
    return [(c[0], c[1]) for c in cols]


def _assign_col(seg: dict, cols: list[tuple[float, float]]) -> int:
    center = (seg["start"] + seg["end"]) / 2.0
    for j, (st, en) in enumerate(cols):
        if st - COL_MERGE_EPS <= center <= en + COL_MERGE_EPS:
            return j
    # nearest by center distance (robust fallback)
    return min(
        range(len(cols)),
        key=lambda j: min(abs(center - cols[j][0]), abs(center - cols[j][1])),
    )


def _parse_fast(payload: str):
    """Vectorized parse: one split + numpy float casts instead of
    per-record splits and per-field float() (the measured hot spot of the
    kernel). Falls back to the record-at-a-time parser on malformed input.
    Returns (words list, top, left, width, height float arrays) or None."""
    # validate per-record shape first (C-speed): a 6-field and a 4-field
    # record can sum to %5==0 and silently misalign the strided slices
    recs = np.array(payload.split(RS))
    if not (np.char.count(recs, US) == 4).all():
        return None
    fields = payload.replace(RS, US).split(US)
    if len(fields) % 5 != 0:
        return None
    try:
        words = fields[0::5]
        top = np.asarray(fields[1::5], dtype=np.float64)
        left = np.asarray(fields[2::5], dtype=np.float64)
        width = np.asarray(fields[3::5], dtype=np.float64)
        height = np.asarray(fields[4::5], dtype=np.float64)
    except ValueError:
        return None
    return words, top, left, width, height


def layout_page(payload: str) -> list[tuple[str, str]]:
    """One serialized page → ordered [(kind, text)] with kind in
    ('text', 'table_cell'). Text lines are RAW (normalization/footnote/
    boilerplate filtering happens in the shared Spark-side SQL path so the
    string semantics live in exactly one place)."""
    if not payload:
        return []
    parsed = _parse_fast(payload)
    if parsed is not None:
        words, top, left, width, height = parsed
    else:
        boxes = parse_boxes(payload)
        if not boxes:
            return []
        words = [b[0] for b in boxes]
        top = np.array([b[1] for b in boxes])
        left = np.array([b[2] for b in boxes])
        width = np.array([b[3] for b in boxes])
        height = np.array([b[4] for b in boxes])
    if len(words) == 0:
        return []

    # horizontal ruled lines: wide, flat boxes — they partition the page
    # vertically and never contribute text
    is_rule = (width >= RULE_MIN_W) & (height <= RULE_MAX_H)
    rule_tops = np.sort(top[is_rule])
    keep = ~is_rule
    words = [w for w, k in zip(words, keep) if k]
    top, left, width = top[keep], left[keep], width[keep]
    n = len(words)
    if n == 0:
        return []
    # reading order: stable (top, left, input-idx)
    order = np.lexsort((np.arange(n), left, top))
    lines: list[list[int]] = []
    line_anchor: list[float] = []
    anchor = None
    for i in order:
        t = top[i]
        if anchor is not None and t - anchor <= LINE_EPS:
            lines[-1].append(i)
        else:
            lines.append([i])
            line_anchor.append(t)
            anchor = t
    seg_lines = []
    for idxs in lines:
        a = np.asarray(idxs)
        pos = np.arange(len(a))
        within = a[np.lexsort((pos, top[a], left[a]))]
        l = left[within]
        r = l + width[within]
        segs = []
        start_k = 0
        for k in range(1, len(within)):
            if l[k] - r[k - 1] >= GAP_MIN:
                seg = within[start_k:k]
                segs.append(
                    {
                        "text": " ".join(words[j] for j in seg),
                        "start": l[start_k],
                        "end": r[k - 1],
                    }
                )
                start_k = k
        seg = within[start_k:]
        segs.append(
            {
                "text": " ".join(words[j] for j in seg),
                "start": l[start_k],
                "end": r[len(within) - 1],
            }
        )
        seg_lines.append(segs)
    tabular = [len(s) >= 2 for s in seg_lines]
    # ruled-region id: index of the rule interval a line falls in;
    # None when not strictly between two rules (bisect_right semantics)
    region: list[int | None] = []
    for t in line_anchor:
        k = int(np.searchsorted(rule_tops, t, side="right"))
        region.append(k if 0 < k < len(rule_tops) else None)

    def _emit_table(group: list[list[dict]], out) -> None:
        cols = _merge_columns(group)
        for segs in group:
            cells = [""] * len(cols)
            for s in segs:
                c = _assign_col(s, cols)
                cells[c] = (cells[c] + " " + s["text"]).strip()
            for cell in cells:
                out.append(("table_cell", cell))

    def _emit_text(k: int, out) -> None:
        out.append(("text", " ".join(s["text"] for s in seg_lines[k])))

    out: list[tuple[str, str]] = []
    i = 0
    n = len(lines)
    while i < n:
        if region[i] is not None:
            # ruled region: table whenever the merged intervals give >= 2
            # columns, even for a single enclosed row
            j = i
            while j < n and region[j] == region[i]:
                j += 1
            group = seg_lines[i:j]
            if len(_merge_columns(group)) >= 2:
                _emit_table(group, out)
            else:
                for k in range(i, j):
                    _emit_text(k, out)
            i = j
            continue
        # unruled: whitespace-gap runs need >= MIN_TABLE_ROWS lines
        j = i
        while j < n and region[j] is None:
            j += 1
        k = i
        while k < j:
            if tabular[k]:
                m = k
                while m < j and tabular[m]:
                    m += 1
                if m - k >= MIN_TABLE_ROWS:
                    _emit_table(seg_lines[k:m], out)
                else:
                    for kk in range(k, m):
                        _emit_text(kk, out)
                k = m
            else:
                _emit_text(k, out)
                k += 1
        i = j
    return out


PAGES_OUT_TYPE = ArrayType(
    ArrayType(
        StructType(
            [StructField("kind", StringType()), StructField("text", StringType())]
        )
    )
)


def layout_pages(docs: pa.Array) -> pa.Array:
    """Scalar Arrow kernel: per document, a list of page payloads (null
    for non-pdf spans) → per page, the ``layout_page`` lines as
    (kind, text) structs (``PAGES_OUT_TYPE``). A null document stays null.
    Builds the nested output from flat offsets, without pandas."""
    doc_offs, page_offs, kinds, texts, nulls = [0], [0], [], [], []
    for pages in docs.to_pylist():
        nulls.append(pages is None)
        for payload in pages or ():
            for kind, text in layout_page(payload):
                kinds.append(kind)
                texts.append(text)
            page_offs.append(len(kinds))
        doc_offs.append(len(page_offs) - 1)
    lines = pa.StructArray.from_arrays(
        [pa.array(kinds, pa.string()), pa.array(texts, pa.string())],
        names=["kind", "text"],
    )
    pages = pa.ListArray.from_arrays(pa.array(page_offs, pa.int32()), lines)
    return pa.ListArray.from_arrays(
        pa.array(doc_offs, pa.int32()), pages, mask=pa.array(nulls)
    )


def pdf_layout_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, offset, text) pdf-span rows →
    (doc_id, offset, sub_idx, kind, text, media_ref) expansion rows."""
    for pdf in batches:
        doc_ids, offsets, subs, kinds, texts = [], [], [], [], []
        for doc_id, offset, payload in zip(
            pdf["doc_id"].values, pdf["offset"].values, pdf["text"].values
        ):
            for sub, (kind, text) in enumerate(layout_page(payload)):
                doc_ids.append(doc_id)
                offsets.append(offset)
                subs.append(sub)
                kinds.append(kind)
                texts.append(text)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="string"),
                "offset": pd.Series(offsets, dtype="int32"),
                "sub_idx": pd.Series(subs, dtype="int32"),
                "kind": pd.Series(kinds, dtype="string"),
                "text": pd.Series(texts, dtype="string"),
                "media_ref": pd.Series([""] * len(doc_ids), dtype="string"),
            }
        )
