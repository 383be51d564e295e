"""PDF word-box layout kernel (columnar over a whole Arrow batch).

Replaces the reference's Textract block parsing (textract_processor.py:
186-301) with geometry-driven layout analysis, per north_star:

- reading-order sort by (top, left)        — textract_processor.py:209-214
- line clustering by y-gap                 — (new; Textract pre-grouped LINEs)
- table-region detection via whitespace-gap column clustering
- row/column grid reconstruction via x-interval merging
- dense grid emission row-major with '' fill — textract_processor.py:285-297

Entry points:

- ``layout_pages`` is the scalar Arrow UDF the extraction operators call
  (``extract_spans`` and ``extract_frames``): per document, its list of
  page payloads (null for non-pdf spans) → per page, the ordered
  (kind, text) lines. It lays out every page of the batch in one pass.
- ``pdf_layout_kernel`` is a ``mapInPandas``-shaped wrapper over the same
  pass for exploded ``kind='pdf'`` span rows (one row = one page); no
  operator calls it, and perfbench's single-threaded kernel probe does.
- The one-page form is ``layout_pages`` on a one-page document; the
  tests' ``layout_page`` is exactly that call.

The pass (``_layout``) parses all pages into flat word/top/left/width/height
arrays with page ids, sorts them once by (page, top, left, input index),
finds line and segment breaks with vector arithmetic and joins segment
and line texts from offsets. Only the per-page table-region state machine
is a Python loop, and it runs over lines, not words.

Frozen constants (the corpus generator and golden fixtures depend on them):
  LINE_EPS      a word joins the current line while top - anchor <= 0.01,
                where anchor is the line's first top (page fraction)
  GAP_MIN       segment break when horizontal gap >= 0.05
  COL_MERGE_EPS x-intervals merging into one column when within 0.02
  MIN_TABLE_ROWS a run of >= 2 consecutive multi-segment lines is a table
  RULE_MIN_W / RULE_MAX_H a box at least 0.3 wide and at most 0.004 tall is
                a horizontal ruled line, not a word

A record is 'word\\x1ftop\\x1fleft\\x1fwidth\\x1fheight'; records are joined
by \\x1e. A record with another field count, or a geometry field that
``float()`` rejects or reads as NaN or ±inf, is skipped.

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
import pyarrow.compute as pc
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from pdftableextractor_spark.types import RS, US

LINE_EPS = 0.01
GAP_MIN = 0.05
COL_MERGE_EPS = 0.02
MIN_TABLE_ROWS = 2
RULE_MIN_W = 0.3
RULE_MAX_H = 0.004


def _float_or_nan(s: str) -> float:
    try:
        return float(s)
    except ValueError:
        return np.nan


def _floats(fields: pa.Array) -> np.ndarray:
    """``float()`` of each string; NaN where ``float()`` raises. Arrow's
    cast accepts a subset of ``float()``'s spellings and reads them to the
    same correctly rounded values; a batch holding any other spelling
    (padding, underscores, non-ASCII digits, junk) goes through
    ``float()``."""
    try:
        return pc.cast(fields, pa.float64()).to_numpy(zero_copy_only=False)
    except pa.ArrowInvalid:
        objs = fields.to_numpy(zero_copy_only=False)
        return np.array([_float_or_nan(s) for s in objs], np.float64)


def _assign_col(center: float, cols: list[list[float]]) -> int:
    for j, (st, en) in enumerate(cols):
        if st - COL_MERGE_EPS <= center <= en + COL_MERGE_EPS:
            return j
    # nearest by center distance (robust fallback)
    return min(
        range(len(cols)),
        key=lambda j: min(abs(center - cols[j][0]), abs(center - cols[j][1])),
    )


def _join(words: pa.Array, starts: np.ndarray) -> list[str]:
    """' '.join of each run words[starts[i]:starts[i + 1]]."""
    runs = pa.ListArray.from_arrays(pa.array(starts, pa.int32()), words)
    return pc.binary_join(runs, " ").to_numpy(zero_copy_only=False).tolist()


def _regions(line_pg, anchor, rule_pg, rule_top, n_pages) -> list[int]:
    """Per line, bisect_right of its anchor among its page's sorted rule
    tops: the ruled region it lies in, or -1 when it is not strictly
    between two rules."""
    n_rules = np.bincount(rule_pg, minlength=n_pages)
    earlier = np.cumsum(n_rules) - n_rules
    is_line = np.r_[np.zeros(len(rule_pg), bool), np.ones(len(line_pg), bool)]
    # rules sort before lines at an equal top: bisect_right counts them
    order = np.lexsort((is_line, np.r_[rule_top, anchor], np.r_[rule_pg, line_pg]))
    upto = np.empty(len(order), np.int64)
    upto[order] = np.cumsum(~is_line[order])
    k = upto[len(rule_pg):] - earlier[line_pg]
    return np.where((k > 0) & (k < n_rules[line_pg]), k, -1).tolist()


def _parse(pages: pa.Array):
    """All pages → (page id, word, top, left, width, height) of every
    well-formed record, in input order."""
    recs = pc.split_pattern(pages, RS)
    n_recs = pc.list_value_length(recs).fill_null(0).to_numpy()
    rec_pg = np.repeat(np.arange(len(pages)), n_recs)
    fields = pc.split_pattern(pc.list_flatten(recs), US)
    ok = pc.list_value_length(fields).to_numpy() == 5
    first = fields.offsets.to_numpy()[:-1][ok]
    flat = fields.values
    geo = _floats(flat.take((first[:, None] + np.arange(1, 5)).ravel()))
    geo = geo.reshape(-1, 4)
    fin = np.isfinite(geo).all(axis=1)
    first, geo = first[fin], geo[fin]
    return (rec_pg[ok][fin], flat.take(first), *geo.T)


def _layout(pages: pa.Array) -> tuple[np.ndarray, list[str], list[str]]:
    """Page payloads (nulls allowed) → (per-page offsets into the output
    lines, kinds, texts): page p's lines are [offs[p], offs[p + 1])."""
    n_pages = len(pages)
    page, words, top, left, width, height = _parse(pages)
    rule = (width >= RULE_MIN_W) & (height <= RULE_MAX_H)
    rule_pg, rule_top = page[rule], top[rule]
    keep = np.flatnonzero(~rule)
    page, top, left, width = page[keep], top[keep], left[keep], width[keep]
    n = len(keep)
    if n == 0:
        return np.zeros(n_pages + 1, np.int32), [], []

    # reading order (page, top, left, input index); a line starts at a
    # page change or where top - anchor > LINE_EPS. A consecutive gap over
    # LINE_EPS always starts a line; only a run of small gaps spanning
    # more than LINE_EPS needs the anchor walk.
    o = np.lexsort((left, top, page))
    pg, t = page[o], top[o]
    new = np.ones(n, bool)
    new[1:] = (pg[1:] != pg[:-1]) | (t[1:] - t[:-1] > LINE_EPS)
    starts = np.flatnonzero(new)
    ends = np.r_[starts[1:], n] - 1
    for s in np.flatnonzero(t[ends] - t[starts] > LINE_EPS).tolist():
        a = t[starts[s]]
        for i in range(starts[s] + 1, ends[s] + 1):
            if t[i] - a > LINE_EPS:
                new[i], a = True, t[i]
    line = np.cumsum(new) - 1
    line_first = np.flatnonzero(new)
    line_pg, anchor = pg[line_first], t[line_first]

    # within a line, left to right (stable: ties keep reading order)
    o = o[np.lexsort((left[o], line))]
    l = left[o]
    r = l + width[o]
    seg_new = new.copy()
    seg_new[1:] |= l[1:] - r[:-1] >= GAP_MIN
    seg_first = np.flatnonzero(seg_new)
    seg_last = np.r_[seg_first[1:], n] - 1
    seg_off = np.r_[seg_first, n].astype(np.int32)
    line_off = np.r_[line_first, n].astype(np.int32)
    words = words.take(keep[o])
    seg_text = _join(words, seg_off)
    seg_start, seg_end = l[seg_first].tolist(), r[seg_last].tolist()
    line_segs = np.searchsorted(seg_first, line_off).tolist()
    line_text = _join(words, line_off)
    region = _regions(line_pg, anchor, rule_pg, rule_top, n_pages)

    def columns(a: int, b: int) -> list[list[float]]:
        """x-interval union over the segments of lines a..b-1."""
        lo, hi = line_segs[a], line_segs[b]
        cols: list[list[float]] = []
        for st, en in sorted(zip(seg_start[lo:hi], seg_end[lo:hi])):
            if cols and st <= cols[-1][1] + COL_MERGE_EPS:
                cols[-1][1] = max(cols[-1][1], en)
            else:
                cols.append([st, en])
        return cols

    def emit_table(a: int, b: int, cols: list[list[float]]) -> None:
        for k in range(a, b):
            cells = [""] * len(cols)
            for s in range(line_segs[k], line_segs[k + 1]):
                c = _assign_col((seg_start[s] + seg_end[s]) / 2.0, cols)
                cells[c] = (cells[c] + " " + seg_text[s]).strip()
            kinds.extend(["table_cell"] * len(cells))
            texts.extend(cells)

    def emit_text(a: int, b: int) -> None:
        kinds.extend(["text"] * (b - a))
        texts.extend(line_text[a:b])

    kinds: list[str] = []
    texts: list[str] = []
    n_out = np.zeros(n_pages, np.int64)
    page_lines = np.searchsorted(line_pg, np.arange(n_pages + 1)).tolist()
    for p in np.unique(line_pg).tolist():
        i, b, before = page_lines[p], page_lines[p + 1], len(texts)
        while i < b:
            j, rg = i + 1, region[i]
            if rg >= 0:
                # ruled region: a table whenever the merged intervals give
                # >= 2 columns, even for a single enclosed row
                while j < b and region[j] == rg:
                    j += 1
                cols = columns(i, j)
                if len(cols) >= 2:
                    emit_table(i, j, cols)
                else:
                    emit_text(i, j)
            else:
                # unruled: a run of multi-segment lines needs
                # >= MIN_TABLE_ROWS lines
                tab = line_segs[i + 1] - line_segs[i] >= 2
                while (
                    j < b
                    and region[j] < 0
                    and (line_segs[j + 1] - line_segs[j] >= 2) == tab
                ):
                    j += 1
                if tab and j - i >= MIN_TABLE_ROWS:
                    emit_table(i, j, columns(i, j))
                else:
                    emit_text(i, j)
            i = j
        n_out[p] = len(texts) - before
    return np.r_[0, np.cumsum(n_out)].astype(np.int32), kinds, texts


PAGES_OUT_TYPE = ArrayType(
    ArrayType(
        StructType(
            [StructField("kind", StringType()), StructField("text", StringType())]
        )
    )
)


def layout_pages(docs: pa.Array) -> pa.Array:
    """Scalar Arrow kernel: per document, a list of page payloads (null
    for non-pdf spans) → per page, its lines as (kind, text) structs
    (``PAGES_OUT_TYPE``). A null document stays null; a null or empty
    page has no lines. Every page of the batch is laid out in one pass."""
    n_pages = pc.list_value_length(docs).fill_null(0).to_numpy()
    page_offs, kinds, texts = _layout(pc.list_flatten(docs))
    lines = pa.StructArray.from_arrays(
        [pa.array(kinds, pa.string()), pa.array(texts, pa.string())],
        names=["kind", "text"],
    )
    pages = pa.ListArray.from_arrays(pa.array(page_offs), lines)
    doc_offs = np.r_[0, np.cumsum(n_pages)].astype(np.int32)
    return pa.ListArray.from_arrays(
        pa.array(doc_offs), pages, mask=docs.is_null()
    )


def pdf_layout_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, offset, text) pdf-span rows →
    (doc_id, offset, sub_idx, kind, text, media_ref) expansion rows."""
    for pdf in batches:
        offs, kinds, texts = _layout(
            pa.array(pdf["text"].values, pa.string(), from_pandas=True)
        )
        per_page = np.diff(offs)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(
                    np.repeat(pdf["doc_id"].values, per_page), dtype="string"
                ),
                "offset": pd.Series(
                    np.repeat(pdf["offset"].values, per_page), dtype="int32"
                ),
                "sub_idx": pd.Series(
                    np.arange(offs[-1]) - np.repeat(offs[:-1], per_page),
                    dtype="int32",
                ),
                "kind": pd.Series(kinds, dtype="string"),
                "text": pd.Series(texts, dtype="string"),
                "media_ref": pd.Series([""] * len(texts), dtype="string"),
            }
        )
