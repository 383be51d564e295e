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

``extract_frames`` / ``stage_frames`` build the structuring-stage frames
from exploded spans (one row per span): the same per-kind SQL rules and
the same layout kernel, one row at a time, numbered by windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdftableextractor_spark.functions.strings import (
    WS_RE,
    footnote_marker_col,
    is_boilerplate_spark_sql,
    is_footnote_col,
    is_footnote_spark_sql,
    normalize_text_spark_sql,
    sql_lit,
)
from pdftableextractor_spark.kernels.layout import PAGES_OUT_TYPE, layout_pages
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

_layout_udf = F.arrow_udf(layout_pages, PAGES_OUT_TYPE)

# The per-kind rules, each written once as SQL text over a SQL expression.
# ``extract_spans`` applies them inside lambdas over a document's span
# array; the ``extract_frames`` branches apply them to one row per span.


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


def _text_branch(spans: DataFrame) -> DataFrame:
    """Content lines (kind='text' spans and raw layout-kernel lines) →
    normalized text rows, boilerplate/footnote/empty lines dropped."""
    return spans.selectExpr(
        "doc_id", "offset", "sub_idx", "'text' AS kind",
        f"{_line_sql('text')} AS text", "'' AS media_ref",
    ).filter(_keep_sql("kind", "text"))


def _table_branch(spans: DataFrame) -> DataFrame:
    """Serialized grids → dense row-major cells with (row_idx, col_idx),
    span-local (no shuffle)."""
    spans.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    ext = _extent_sql("cells")
    grid = (
        spans.selectExpr("doc_id", "offset", f"{_cells_sql('text')} AS cells")
        .selectExpr("doc_id", "offset", *(f"{v} AS {k}" for k, v in ext.items()))
        .selectExpr("doc_id", "offset", "w", f"{_grid_sql('h', 'w', 'm')} AS grid")
    )
    # posexplode_outer on purpose: plain posexplode makes Catalyst push its
    # implicit `size(grid) > 0` predicate below the repartition Exchange with
    # the WHOLE dense-grid expression inlined into the filter — the cell map
    # is then rebuilt per grid cell per row (observed 20x slowdown). The
    # outer variant generates no such predicate; null cells are filtered
    # right after instead.
    return (
        grid.selectExpr(
            "doc_id", "offset", "w", "posexplode_outer(grid) AS (sub_idx, cell)"
        )
        .filter("cell IS NOT NULL")
        .selectExpr(
            "doc_id", "offset", "sub_idx",
            "CAST(sub_idx div w AS INT) AS row_idx",
            "CAST(sub_idx % w AS INT) AS col_idx",
            "'table_cell' AS kind", f"{_ws_sql('cell')} AS text",
            "'' AS media_ref",
        )
    )


def _kv_branch(spans: DataFrame) -> DataFrame:
    return spans.selectExpr(
        "doc_id", "offset", "0 AS sub_idx", "'kv' AS kind",
        f"{_kv_sql('text')} AS text", "'' AS media_ref",
    ).filter("text IS NOT NULL")


def _pdf_expanded(spans: DataFrame) -> DataFrame:
    """Raw layout-kernel output (doc_id, offset int, sub_idx int, kind,
    text, media_ref) — text lines UNFILTERED and UNNORMALIZED. Shared by the
    extraction branch (which normalizes + filters) and the footnote frame
    (which classifies the raw line, textract_processor.py:98-160 semantics).
    One ``layout_pages`` call per pdf span."""
    return (
        spans.select(
            "doc_id",
            F.col("offset").cast("int").alias("offset"),
            _layout_udf(F.array("text")).alias("pages"),
        )
        .selectExpr("doc_id", "offset", "posexplode_outer(pages[0]) AS (sub_idx, l)")
        .filter("l IS NOT NULL")
        .selectExpr(
            "doc_id", "offset", "sub_idx", "l.kind AS kind", "l.text AS text",
            "'' AS media_ref",
        )
    )


def _pdf_filtered(expanded: DataFrame) -> DataFrame:
    """The normalize/keep projection over raw kernel output."""
    return expanded.selectExpr(
        "doc_id", "offset", "sub_idx", "kind",
        f"{_pdf_line_sql('kind', 'text')} AS text", "media_ref",
    ).filter(_keep_sql("kind", "text"))


def _rows_sql(kind: str, text: str, media: str = "''", over: str = "") -> str:
    """The output rows (``ROW_T``) of span ``x``: one row with sub_idx 0,
    or, with ``over`` = '<array>, (<elem>, k)', one row per element with
    sub_idx k. ``kind``/``text``/``media`` are SQL expressions."""
    sub = "k" if over else "0"
    row = (
        f"named_struct('offset', x.offset, 'sub_idx', {sub}, 'pos', x.pos,"
        f" 'kind', {kind}, 'text', {text}, 'media_ref', {media})"
    )
    return f"transform({over} -> {row})" if over else f"array({row})"


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

    # duplicate (r,c) cells take the LAST value (_extent_sql).
    # NOTE: this mutates the SESSION conf (map-key policy is evaluated at
    # execution, so it cannot be scoped to this plan). build_session already
    # sets it; this covers foreign sessions. If your session needs EXCEPTION
    # semantics elsewhere, run extraction in its own session.
    documents.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    docs = documents.select("doc_id", "spans")
    if salt:
        docs = salted_repartition(docs, "doc_id")
    span = (
        "'offset', x.offset, 'kind', x.kind, 'text', x.text,"
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
    # per document: one layout-kernel call on its pdf payloads. Per span:
    # the grid extent and cell map, in their own stage (_extent_sql)
    ext = ", ".join(f"'{k}', {v}" for k, v in _extent_sql("x.cells").items())
    staged = sp.select(
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
    grid = _grid_sql("x.h", "x.w", "x.m")
    branches = {
        "text": _rows_sql("'text'", _line_sql("x.text")),
        "media": _rows_sql("'media'", "''", "x.media_ref"),
        "kv": _rows_sql("'kv'", _kv_sql("x.text")),
        "table": _rows_sql("'table_cell'", _ws_sql("v"), over=f"{grid}, (v, k)"),
        "pdf": _rows_sql(
            "l.kind", _pdf_line_sql("l.kind", "l.text"), over="pages[i], (l, k)"
        ),
    }
    emits = " ".join(f"WHEN '{k}' THEN {v}" for k, v in branches.items())
    rows = staged.selectExpr(
        "doc_id",
        "sort_array(filter(flatten(transform(sp, (x, i) -> coalesce(CASE"
        f" x.kind {emits} END, CAST(array() AS array<{ROW_T}>)))),"
        f" e -> {_keep_sql('e.kind', 'e.text')})) AS rows",
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
    """Structuring-stage inputs: the extraction's intermediate frames.

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

    Materialization (round-7): consumers reference the frames SIX times in
    one plan (cells, kvs, lines ×3, footnotes) and exchange reuse never
    fires across the differently-pruned subtrees — the unified-points plan
    ran the scan+explode 7× and the pdf layout kernel 7× (36 parquet scans,
    plans/r07/unified_points_before.txt). The exploded spans and the raw
    kernel output are localCheckpointed here (the containment_pairs
    pattern: blocks released by the ContextCleaner, not pinned; see the
    FAULT-TOLERANCE TRADE note there), so extraction runs once per call no
    matter how many frames the consumer wires together. ``stage_frames``
    remains the cross-job parquet variant.
    """
    s = explode_spans(documents).localCheckpoint(eager=True)
    pdf_raw = _pdf_expanded(
        s.filter(F.col("kind") == "pdf")
    ).localCheckpoint(eager=True)
    return _frames_from(s, pdf_raw)


def _frames_from(s: DataFrame, pdf_raw: DataFrame) -> dict[str, DataFrame]:
    """Frames from an exploded-span frame + raw pdf-kernel output — split
    out so ``stage_frames`` can persist the two expensive inputs and build
    every frame from ONE extraction pass."""
    zero = F.lit(0).cast("int").alias("sub_idx")
    text = _text_branch(
        s.filter(F.col("kind") == "text").select("doc_id", "offset", zero, "text")
    )
    pdf_text = _pdf_filtered(pdf_raw).filter(F.col("kind") == "text")
    w = Window.partitionBy("doc_id").orderBy("offset", "sub_idx")
    lines = (
        text.unionByName(pdf_text)
        .select(
            "doc_id",
            (F.row_number().over(w) - 1).cast("int").alias("line_no"),
            "text",
        )
    )
    cells = _table_branch(s.filter(F.col("kind") == "table")).select(
        "doc_id", "offset", "row_idx", "col_idx", "text"
    )
    kvs = _kv_branch(s.filter(F.col("kind") == "kv")).select(
        "doc_id", "offset", "text"
    )

    # raw candidate lines = text spans + pdf-kernel text lines, PRE-filter:
    # footnotes are dropped by _text_branch, so classification must happen on
    # this frame. Numbering covers every raw line (blank or not) to mirror
    # the reference's enumerate index.
    raw = (
        s.filter(F.col("kind") == "text")
        .select("doc_id", "offset", zero, "text")
        .unionByName(
            pdf_raw.filter(F.col("kind") == "text")
            .select("doc_id", "offset", "sub_idx", "text")
        )
    )
    footnotes = (
        raw.select(
            "doc_id",
            (F.row_number().over(w) - 1).cast("int").alias("line_no"),
            F.trim("text").alias("content"),
        )
        .filter(is_footnote_col("content"))
        .select(
            "doc_id",
            "line_no",
            footnote_marker_col("content").alias("marker"),
            "content",
        )
    )
    return {"lines": lines, "cells": cells, "kvs": kvs, "footnotes": footnotes}


def stage_frames(documents: DataFrame, stage_dir: str) -> dict[str, DataFrame]:
    """Extraction frames materialized ONCE to ``stage_dir`` parquet.

    ``extract_frames`` returns lazy lineages — a consumer like the unified
    structuring job references the frames six times (cells, kvs, lines ×3,
    footnotes), and each action re-runs the scan + explode + pdf kernel. At
    the 100 TB design point that is 6× the most expensive stage. Staging
    runs extraction once (the exploded spans and raw kernel output are
    persisted spill-to-disk for the duration of the four frame writes,
    then released) and returns parquet-backed frames; downstream shuffles
    then start from columnar storage, and the staged frames double as
    resume points.
    """
    from pyspark import StorageLevel

    s = explode_spans(documents).persist(StorageLevel.MEMORY_AND_DISK)
    pdf_raw = _pdf_expanded(s.filter(F.col("kind") == "pdf")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    frames = _frames_from(s, pdf_raw)
    spark = documents.sparkSession
    from pdftableextractor_spark.sources.tables import read_path, write_table

    out: dict[str, DataFrame] = {}
    try:
        for name, df in frames.items():
            path = f"{stage_dir.rstrip('/')}/{name}"
            write_table(df, path, mode="overwrite")
            out[name] = read_path(spark, path)
    finally:
        s.unpersist()
        pdf_raw.unpersist()
    return out
