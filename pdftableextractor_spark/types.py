"""Frozen schemas for the extraction engine.

The input shape is mandated by BASELINE.json:input_hint — an Iceberg
(parquet in tests) table of interleaved text+media documents:

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

INPUT CONTRACT: ``spans.offset`` is the span's position within its
document. ``extract_spans`` orders output rows by (offset, sub_idx, array
position), exactly like the pure-Python oracle's stable sort, so duplicate
offsets are still ordered deterministically. ``extract_frames`` numbers
lines with windows over (offset, sub_idx), which leave duplicate offsets
unordered there. Producers should assign offsets 0..n-1 (or any
per-doc-unique ints); both corpus generators do.

``spans.kind`` values in the synthetic corpus (FIXTURES.md §1):
  'text'   — a content line (may carry superscripts / footnote markers)
  'boiler' — nav/header/footer boilerplate the pipeline must drop
  'table'  — a serialized cell grid: cells 'r{row}c{col}:{text}' joined by
             the unit separator \\x1f (mirrors the dense-grid shape the
             reference reconstructs at textract_processor.py:252-301)
  'kv'     — 'key\\x1fvalue' payload (textract_processor.py:319-344 analog)
  'media'  — opaque media pointer; empty text, media_ref set; must pass
             through untouched preserving order
  'pdf'    — a serialized word-box stream for one PDF page: records
             'word\\x1ftop\\x1fleft\\x1fwidth\\x1fheight' joined by \\x1e;
             the layout kernel turns it into reading-order text lines and
             table-cell grids (textract_processor.py:209-301 analog, done
             from geometry instead of Textract block types)

The output is the ordered extracted-span sequence per doc_id, the exact
per-row invariant the driver checks (FIXTURES.md §2):

    spans_out(doc_id string, order int, kind string, text string,
              media_ref string)

with kind in ('text','media','table_cell','kv').
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# unit/record separators used by the serialized 'table', 'kv' and 'pdf' spans
US = "\x1f"  # field separator inside a record
RS = "\x1e"  # record separator

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

# intermediate: one row per exploded span with an expansion sub-index
EXPLODED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("offset", IntegerType()),
        StructField("sub_idx", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
    ]
)

SPANS_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("order", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
    ]
)

# word-box frame used inside the layout kernel (FIXTURES.md §3); exists as a
# Spark schema only for unit-testing the kernel — in the pipeline these boxes
# live purely inside pandas batches.
WORD_BOX_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("page", IntegerType()),
        StructField("word", StringType()),
        StructField("top", FloatType()),
        StructField("left", FloatType()),
        StructField("width", FloatType()),
        StructField("height", FloatType()),
    ]
)

# per-partition lineage/metrics rows for resumable runs (FIXTURES.md §5)
METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("doc_id_min", StringType()),
        StructField("doc_id_max", StringType()),
        StructField("docs", LongType()),
        StructField("spans_in", LongType()),
        StructField("spans_out", LongType()),
        StructField("status", StringType()),
        StructField("wall_ms", LongType()),
    ]
)

OUTPUT_KINDS = ("text", "media", "table_cell", "kv")
