"""The flagship extraction pipeline: interleaved documents → ordered spans.

``extract_spans`` (one scan, no exchange, one Python node):

    documents(doc_id, spans)
      → per span, inside the document's row (staged ``transform``s):
          text   : normalize → drop boiler/footnote/empty
          boiler : dropped
          media  : pass through untouched
          table  : serialized grid → dense row-major cells
                   (textract_processor.py:252-301 semantics: max-extent +
                   '' fill)
          kv     : 'key\\x1fvalue' → 'key: value', empty keys dropped
                   (textract_processor.py:319-344)
          pdf    : layout-kernel lines (one Arrow UDF call per document),
                   text lines through the same normalize/filter rule
      → sort_array by (offset, sub_idx, array position)
      → posexplode_outer → order                [narrow]

Scale notes (100 TB design):
- A document's spans all live in one input row, so the sequence needs no
  shuffle: the scan stage writes the output. The unit of parallelism is
  the document; ``salt=True`` spreads whole documents when the input has
  fewer splits than cores.
- The only Python is the Arrow-batched pdf layout kernel, evaluated in the
  scan stage. The other kinds are built-in SQL expressions.

``extract_frames`` builds the structuring-stage frames (lines, cells,
kvs, footnotes) from the same per-document stages (``_staged``): one
sorted array of frame rows per document, pinned once, and four
projections of it — no window and no exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdftableextractor_spark.functions.strings import (
    WS_RE,
    footnote_marker_spark_sql,
    is_boilerplate_spark_sql,
    is_footnote_spark_sql,
    normalize_text_spark_sql,
    sql_lit,
)
from pdftableextractor_spark.kernels.layout import PAGES_OUT_TYPE, layout_pages
from pdftableextractor_spark.plans.pin import pin
from pdftableextractor_spark.types import US

CELL_TAG_RE = r"^r(\d+)c(\d+):"

# densification bounds: a hostile 'r2000000000c0:x' tag would otherwise make
# F.sequence materialize a multi-GB array per row (executor OOM). Real
# document grids are < 10k rows/cols by orders of magnitude; cells tagged
# beyond the per-axis bound are dropped as malformed. The per-axis cap alone
# is not enough — a single 'r9999c9999:x' cell still implies a ~10^8-element
# dense grid (multi-GB in one row), so the AREA is bounded too: a table whose
# (max_r+1)*(max_c+1) exceeds GRID_AREA_MAX is dropped whole, as hostile
# (oracle._table_cells mirrors both bounds).
GRID_MAX = 10_000
GRID_AREA_MAX = 1_000_000


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → one row per span.

    explode_outer on purpose: plain explode adds an implicit
    `size(spans) > 0` predicate that Catalyst pushes into the scan with the
    whole spans-producing expression inlined — when the input is a derived
    column (e.g. the interleave adapter) that doubles the most expensive
    projection in the plan. The outer variant emits a null row for an empty
    array instead; filter it."""
    return (
        documents.select("doc_id", F.explode_outer("spans").alias("span"))
        .filter(F.col("span").isNotNull())
        .select(
            "doc_id",
            F.col("span.offset").alias("offset"),
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
        )
    )


# an output row; the tuple (offset, sub_idx, pos) leads, so sort_array
# orders rows like the oracle's stable (offset, sub_idx) sort
ROW_T = (
    "struct<offset:int,sub_idx:int,pos:int,kind:string,text:string,"
    "media_ref:string>"
)

# a frame row (extract_frames): a tag, the output text and the raw line
FRAME_T = (
    "struct<offset:int,sub_idx:int,pos:int,tag:string,text:string,raw:string,"
    "row_idx:int,col_idx:int>"
)

_layout_udf = F.arrow_udf(layout_pages, PAGES_OUT_TYPE)

# The per-kind rules, each written once as SQL text over a SQL expression.
# ``extract_spans`` and ``extract_frames`` apply them inside lambdas over a
# document's span array.


def _line_sql(v: str) -> str:
    """A raw content line → its normalized text, or NULL when it is
    boilerplate or a footnote."""
    return (
        f"IF({is_boilerplate_spark_sql(v)} OR {is_footnote_spark_sql(v)},"
        f" NULL, {normalize_text_spark_sql(v)})"
    )


def _ws_sql(v: str) -> str:
    """Whitespace runs → one space, trimmed."""
    return f"trim(regexp_replace({v}, {sql_lit(WS_RE)}, ' '))"


def _pdf_line_sql(kind: str, text: str) -> str:
    """A layout-kernel line → its output text: text lines through the
    ``_line_sql`` rule, table cells whitespace-normalized."""
    return f"IF({kind} = 'text', {_line_sql(text)}, {_ws_sql(text)})"


def _keep_sql(kind: str, text: str) -> str:
    """Whether an output row survives: dropped lines and empty kv keys
    have a NULL text, and text rows normalized to '' are dropped."""
    return f"{text} IS NOT NULL AND ({kind} != 'text' OR {text} != '')"


def _kv_sql(text: str) -> str:
    """'key\\x1fvalue' → 'key: value'; an empty key gives NULL."""
    kv = f"split({text}, {sql_lit(US)}, 2)"
    return (
        f"concat(nullif(trim(get({kv}, 0)), ''), ': ',"
        f" trim(coalesce(get({kv}, 1), '')))"
    )


def _cells_sql(text: str) -> str:
    """A serialized 'r{r}c{c}:text' table payload → array of (r, c, txt)
    cells; malformed or out-of-bound tags are dropped (null-safe under
    ANSI)."""
    tag = sql_lit(CELL_TAG_RE)
    return (
        f"filter(transform(split({text}, {sql_lit(US)}), t -> named_struct("
        f"'r', try_cast(regexp_extract(t, {tag}, 1) AS INT),"
        f" 'c', try_cast(regexp_extract(t, {tag}, 2) AS INT),"
        f" 'txt', regexp_replace(t, {tag}, ''))),"
        f" z -> z.r < {GRID_MAX} AND z.c < {GRID_MAX})"
    )


def _extent_sql(cells: str) -> dict[str, str]:
    """Grid height ``h``, width ``w`` and the (r, c) → text map ``m`` of a
    cells array. Evaluate them in a projection of their own, so the cells
    are parsed once although three expressions read them. Duplicate (r, c)
    cells take the LAST value under mapKeyDedupPolicy LAST_WIN, like the
    reference's table_structure[row][col] assignment
    (textract_processor.py:287)."""
    return {
        "h": f"array_max(transform({cells}, z -> z.r)) + 1",
        "w": f"array_max(transform({cells}, z -> z.c)) + 1",
        "m": (
            f"map_from_entries(transform({cells}, z -> struct("
            f"z.r * {GRID_MAX} + z.c, z.txt)))"
        ),
    }


def _grid_sql(h: str, w: str, m: str) -> str:
    """Dense row-major grid with '' fill (textract_processor.py:271-297).
    A table whose area exceeds GRID_AREA_MAX is dropped whole as hostile
    (NULL), and the guard runs before the sequence is built; a table with
    no cells has a NULL extent and is NULL too."""
    return (
        f"IF({h} * {w} <= {GRID_AREA_MAX}, flatten(transform("
        f"sequence(0, {h} - 1), r -> transform(sequence(0, {w} - 1),"
        f" c -> coalesce(try_element_at({m}, r * {GRID_MAX} + c), '')))), NULL)"
    )


def _rows_sql(over: str = "", **fields: str) -> str:
    """The rows of span ``x``: one row with sub_idx 0, or, with ``over`` =
    '<array>, (<elem>, k)', one row per element with sub_idx k. A row is
    (offset, sub_idx, pos) and then ``fields``, name → SQL expression."""
    sub = "k" if over else "0"
    cols = "".join(f", '{k}', {v}" for k, v in fields.items())
    row = (
        f"named_struct('offset', x.offset, 'sub_idx', {sub}, 'pos', x.pos{cols})"
    )
    return f"transform({over} -> {row})" if over else f"array({row})"


def _doc_rows_sql(branches: dict[str, str], row_t: str, keep: str) -> str:
    """A document's rows: ``branches`` maps a span kind to the rows of span
    ``x`` (other kinds emit none). Rows failing ``keep`` (over ``e``) are
    dropped; the rest are sorted by (offset, sub_idx, array position)."""
    emits = " ".join(f"WHEN '{k}' THEN {v}" for k, v in branches.items())
    return (
        "sort_array(filter(flatten(transform(sp, (x, i) -> coalesce(CASE"
        f" x.kind {emits} END, CAST(array() AS array<{row_t}>)))),"
        f" e -> {keep}))"
    )


def _staged(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) → (doc_id, pages, sp), the stages both
    extractions share. ``sp`` holds each non-null span (offset, kind, text,
    media_ref) with its array position ``pos`` and, for a table, its grid
    extent ``h``/``w`` and cell map ``m`` (_extent_sql). ``pages`` is the
    layout-kernel output of the document's pdf spans, by array position:
    one Arrow UDF call per document."""
    # duplicate (r,c) cells take the LAST value (_extent_sql).
    # NOTE: this mutates the SESSION conf (map-key policy is evaluated at
    # execution, so it cannot be scoped to this plan). build_session already
    # sets it; this covers foreign sessions. If your session needs EXCEPTION
    # semantics elsewhere, run extraction in its own session.
    docs.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    # the offset is an int (types.py) even when the input's is not
    span = (
        "'offset', CAST(x.offset AS INT), 'kind', x.kind, 'text', x.text,"
        " 'media_ref', x.media_ref"
    )
    # span structs with their array position; table payloads parsed into
    # cells
    sp = docs.selectExpr(
        "doc_id",
        "transform(filter(spans, s -> s IS NOT NULL), (x, i) -> named_struct("
        f"{span}, 'pos', i, 'cells',"
        f" IF(x.kind = 'table', {_cells_sql('x.text')}, NULL))) AS sp",
    )
    # the grid extent and cell map in their own stage (_extent_sql)
    ext = ", ".join(f"'{k}', {v}" for k, v in _extent_sql("x.cells").items())
    return sp.select(
        "doc_id",
        _layout_udf(
            F.expr(
                "IF(exists(sp, x -> x.kind = 'pdf'),"
                " transform(sp, x -> IF(x.kind = 'pdf', x.text, NULL)), NULL)"
            )
        ).alias("pages"),
        F.expr(
            f"transform(sp, x -> named_struct({span}, 'pos', x.pos, {ext}))"
        ).alias("sp"),
    )


def extract_spans(documents: DataFrame, salt: bool = False) -> DataFrame:
    """documents(doc_id, spans) → spans_out(doc_id, order, kind, text,
    media_ref), the driver-checked span sequence (FIXTURES.md §2).

    All of a document's spans live in its row, so every step runs inside
    that row: one scan, no exchange, and one Arrow Python node (the pdf
    layout kernel, called once per document on its page payloads). The
    per-kind rules are staged ``transform`` projections over the span
    array; ``sort_array`` orders the emitted rows by (offset, sub_idx,
    array position) and ``posexplode_outer`` numbers them. The expressions
    are SQL text: building them from Column operators costs several py4j
    round trips per operator.

    ``salt=True`` hash-repartitions whole documents on ``doc_id`` first
    (plans/skew.py), for inputs with fewer splits than cores (one fat
    file); a document is never split, so its rows stay in one task.
    """
    from pdftableextractor_spark.plans.skew import salted_repartition

    docs = documents.select("doc_id", "spans")
    if salt:
        docs = salted_repartition(docs, "doc_id")
    grid = _grid_sql("x.h", "x.w", "x.m")
    no_media = {"media_ref": "''"}
    branches = {
        "text": _rows_sql(kind="'text'", text=_line_sql("x.text"), **no_media),
        "media": _rows_sql(kind="'media'", text="''", media_ref="x.media_ref"),
        "kv": _rows_sql(kind="'kv'", text=_kv_sql("x.text"), **no_media),
        "table": _rows_sql(
            f"{grid}, (v, k)", kind="'table_cell'", text=_ws_sql("v"), **no_media
        ),
        "pdf": _rows_sql(
            "pages[i], (l, k)", kind="l.kind",
            text=_pdf_line_sql("l.kind", "l.text"), **no_media,
        ),
    }
    rows = _staged(docs).selectExpr(
        "doc_id",
        f"{_doc_rows_sql(branches, ROW_T, _keep_sql('e.kind', 'e.text'))} AS rows",
    )
    return (
        rows.selectExpr("doc_id", "posexplode_outer(rows) AS (`order`, e)")
        .filter("e IS NOT NULL")
        .selectExpr(
            "doc_id", "`order`", "e.kind AS kind", "e.text AS text",
            "e.media_ref AS media_ref",
        )
    )


def extract_frames(documents: DataFrame) -> dict[str, DataFrame]:
    """Structuring-stage inputs, built from the ``extract_spans`` stages.

    Returns
      lines: (doc_id, line_no, text)   — normalized content lines in reading
             order (kind='text' spans + pdf-derived lines), numbered per doc
             (W1, textract_processor.py:117 analog)
      cells: (doc_id, offset, row_idx, col_idx, text) — dense table grids
             from kind='table' spans (pdf-derived cells are flat-only and
             excluded here; they still appear in ``extract_spans`` output)
      kvs:   (doc_id, offset, text='key: value')
      footnotes: (doc_id, line_no, marker, content) — raw content lines
             classified as footnotes (textract_processor.py:98-160), numbered
             over ALL raw candidate lines per doc (the reference's
             `enumerate(document_text)` index at textract_processor.py:118),
             so line_no matches the reference's footnote `line_number` even
             though those lines never reach the filtered `lines` frame.

    Each document's frame rows (``FRAME_T``) are one array, sorted like
    ``extract_spans`` by (offset, sub_idx, array position). A row is
    tagged 'line' (a text span or a pdf text line), 'cell' (a table-span
    cell) or 'kv', and carries its output text and its raw line; pdf
    cells are dropped before the pin, since no frame reads them. The four
    frames are projections of that array: no window, no exchange, and the
    layout kernel runs once per document. ``offset`` is an int.

    EAGER: pins the frame-row arrays (one Spark job). Consumers read the
    frames up to six times in one plan (cells, kvs, lines ×3, footnotes)
    and exchange reuse does not fire across the differently-pruned
    subtrees: unpinned, every reference re-runs the scan and the kernel.
    """
    cell = {"row_idx": "NULL", "col_idx": "NULL"}
    grid = _grid_sql("x.h", "x.w", "x.m")
    branches = {
        "text": _rows_sql(
            tag="'line'", text=_line_sql("x.text"), raw="x.text", **cell
        ),
        "kv": _rows_sql(tag="'kv'", text=_kv_sql("x.text"), raw="NULL", **cell),
        "table": _rows_sql(
            f"{grid}, (v, k)", tag="'cell'", text=_ws_sql("v"), raw="NULL",
            row_idx="CAST(k div x.w AS INT)", col_idx="k % x.w",
        ),
        "pdf": _rows_sql(
            "pages[i], (l, k)", tag="IF(l.kind = 'text', 'line', 'pdf_cell')",
            text=_pdf_line_sql("l.kind", "l.text"), raw="l.text", **cell,
        ),
    }
    rows_sql = _doc_rows_sql(branches, FRAME_T, "e.tag != 'pdf_cell'")
    rows = _staged(documents.select("doc_id", "spans")).selectExpr(
        "doc_id", f"{rows_sql} AS rows"
    )
    rows = pin(rows, "extract_frames rows")
    lines = rows.selectExpr(
        "doc_id",
        "posexplode(filter(rows, e -> e.tag = 'line' AND e.text != ''))"
        " AS (line_no, e)",
    ).selectExpr("doc_id", "line_no", "e.text AS text")
    footnotes = (
        rows.selectExpr(
            "doc_id",
            "posexplode(filter(rows, e -> e.tag = 'line')) AS (line_no, e)",
        )
        .selectExpr("doc_id", "line_no", "trim(e.raw) AS content")
        .filter(is_footnote_spark_sql("content"))
        .selectExpr(
            "doc_id", "line_no",
            f"{footnote_marker_spark_sql('content')} AS marker", "content",
        )
    )
    flat = rows.selectExpr("doc_id", "inline(rows)")
    cells = flat.filter("tag = 'cell'").select(
        "doc_id", "offset", "row_idx", "col_idx", "text"
    )
    kvs = flat.filter("tag = 'kv' AND text IS NOT NULL").select(
        "doc_id", "offset", "text"
    )
    return {"lines": lines, "cells": cells, "kvs": kvs, "footnotes": footnotes}
