"""Export sinks: dynamic-schema table → header-union CSV/JSON (SURVEY.md
S9-S11, P10).

The reference's export path takes rows with per-row varying column sets and
computes the union of all columns, ordering 'Category' first and 'Value N'
numerically (export_utils.py:34-50; the JS CSV exporter repeats it at
static/script.js:993-999). Here the dynamic row is a ``map<string,string>``
column; the key union is one tiny aggregation (schema-sized, driver-safe)
and the pivot is a static projection, so the actual export stays fully
distributed (`df.write.csv/json`).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_keys(df: DataFrame) -> list[str]:
    """Union of ``data`` map keys across all rows, reference ordering:
    'Category' first, then 'Value N' by N, then the rest alphabetically."""
    rows = (
        df.select(F.explode(F.map_keys(F.col("data"))).alias("k"))
        .distinct()
        .collect()
    )
    keys = {r["k"] for r in rows}

    def sort_key(k: str):
        if k == "Category":
            return (0, 0, "")
        m = re.fullmatch(r"Value (\d+)", k)
        if m:
            return (1, int(m.group(1)), "")
        return (2, 0, k)

    return sorted(keys, key=sort_key)


def key_union_pivot(df: DataFrame) -> DataFrame:
    """map<string,string> ``data`` rows → one column per union key
    (missing → '')."""
    keys = union_keys(df)
    return df.select(
        *[
            F.coalesce(
                F.try_element_at(F.col("data"), F.lit(k)), F.lit("")
            ).alias(k)
            for k in keys
        ]
    )


def write_csv(df: DataFrame, path: str) -> None:
    """Header-union CSV with full quoting (script.js:987-1020 semantics)."""
    (
        key_union_pivot(df).write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        # RFC-4180 doubled quotes, matching the reference's '"'→'""'
        # (static/script.js:1006); Spark's default is backslash-escape
        .option("escape", '"')
        .csv(path)
    )


# --- P9: recursive nested flatten (static/script.js:668-783) ----------------


def flatten_nested(df: DataFrame) -> DataFrame:
    """Arbitrary nested columns → long-skinny (doc_id, path, value) rows
    with JS-style paths ('spans[3].kind') — the reference's recursive JSON
    flatten (script.js:668-783), re-expressed schema-driven: the expansion
    plan is built ONCE from the static schema (posexplode per array level,
    one leaf-unpivot per nesting context), so the whole flatten is JVM
    expression work — no per-row recursion. Null leaves are dropped (the
    JS walk skips null/undefined). Returns one DataFrame per nesting
    context unioned by name; scans scale with schema depth, not data."""
    from pyspark.sql.types import ArrayType, StructType

    ids = ["doc_id"]
    frames: list[DataFrame] = []

    def emit(ctx_df: DataFrame, leaves) -> None:
        if not leaves:
            return
        pv = F.explode(
            F.array(
                *[
                    F.struct(
                        p.alias("path"), c.cast("string").alias("value")
                    )
                    for p, c in leaves
                ]
            )
        ).alias("pv")
        frames.append(
            ctx_df.select(*ids, pv)
            .select(*ids, F.col("pv.path").alias("path"),
                    F.col("pv.value").alias("value"))
            .filter(F.col("value").isNotNull())
        )

    def walk(ctx_df: DataFrame, prefix, col, dtype, leaves) -> None:
        if isinstance(dtype, StructType):
            for f in dtype.fields:
                walk(
                    ctx_df,
                    F.concat(prefix, F.lit("." + f.name)),
                    col.getField(f.name),
                    f.dataType,
                    leaves,
                )
        elif isinstance(dtype, ArrayType):
            exploded = ctx_df.select(
                *ids,
                prefix.alias("__p"),
                F.posexplode_outer(col).alias("__i", "__v"),
            ).filter(F.col("__v").isNotNull())
            sub_prefix = F.concat(
                F.col("__p"), F.lit("["), F.col("__i").cast("string"),
                F.lit("]"),
            )
            sub_leaves: list = []
            walk(exploded, sub_prefix, F.col("__v"), dtype.elementType,
                 sub_leaves)
            emit(exploded, sub_leaves)
        else:
            leaves.append((prefix, col))

    top_leaves: list = []
    for f in df.schema.fields:
        if f.name in ids:
            continue
        walk(df, F.lit(f.name), F.col(f.name), f.dataType, top_leaves)
    emit(df, top_leaves)
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# --- S9: PDF export sink (export_utils.py:10-103) ---------------------------


def pdf_column_order(columns) -> list[str]:
    """The reference PDF exporter's column rule (export_utils.py:38-42):
    'Category' first, then the 'Value*' columns in PYTHON STRING sort order
    ('Value 10' < 'Value 2' — the reference uses sorted(), not numeric
    order), and every other column DROPPED. This deliberately diverges from
    union_keys (the CSV/JSON rule): the two exporters disagree in the
    reference, and each sink mirrors its own."""
    return ["Category"] + sorted(
        c for c in columns if c != "Category" and c.startswith("Value")
    )


def _pdf_escape(s: str) -> str:
    out = s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    # PDF string literals are latin-1; replace anything outside it
    return out.encode("latin-1", "replace").decode("latin-1")


def render_pdf_table(header: list[str], rows) -> bytes:
    """A dependency-free single-font PDF renderer: the 'Extracted
    Information' title (export_utils.py:31) followed by the table, one text
    line per row, 40 rows per page. No reportlab in this environment, so
    the page objects are written by hand — the layout is plain but the file
    is a spec-valid PDF 1.4."""
    pages = [rows[i : i + 40] for i in range(0, len(rows), 40)]
    if not pages:
        pages = [[]]

    def content(page_rows, first: bool) -> bytes:
        lines = []
        y = 750
        if first:
            lines.append(f"BT /F2 16 Tf 30 {y} Td (Extracted Information) Tj ET")
            y -= 30
        lines.append(
            f"BT /F2 10 Tf 30 {y} Td ({_pdf_escape(' | '.join(header))}) Tj ET"
        )
        y -= 16
        for r in page_rows:
            txt = " | ".join("" if v is None else str(v) for v in r)
            lines.append(
                f"BT /F1 9 Tf 30 {y} Td ({_pdf_escape(txt[:160])}) Tj ET"
            )
            y -= 13
        return "\n".join(lines).encode("latin-1")

    objs: list[bytes] = []  # 1-indexed PDF objects, appended in order
    n_pages = len(pages)
    page_obj_ids = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{i} 0 R" for i in page_obj_ids)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )  # 2
    objs.append(
        b"<< /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> "
        b"/F2 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >> >>"
    )  # 3 (shared font resources)
    for i, page_rows in enumerate(pages):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font 3 0 R >> /Contents {4 + 2 * i + 1} 0 R >>"
            ).encode()
        )  # 4 + 2i
        c = content(page_rows, first=(i == 0))
        objs.append(
            b"<< /Length " + str(len(c)).encode() + b" >>\nstream\n" + c
            + b"\nendstream"
        )  # 5 + 2i

    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for n, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{n} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets[1:]:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(buf)


def write_pdf(df: DataFrame, path: str) -> bytes:
    """S9: render the header-union table to a PDF file at ``path``.

    Driver-side by design — the reference's PDF export is a download of the
    on-screen table (export_utils.py:10, app.py /export_pdf route), i.e. a
    display artifact, not a data sink; big tables belong in the distributed
    CSV/JSON sinks. Returns the PDF bytes (the reference returns bytes to
    the Flask response)."""
    out = key_union_pivot(df)
    cols = pdf_column_order(out.columns)
    # the reference exporter reads row.get(col, "") (export_utils.py:44) —
    # a table with no 'Category' column renders an empty Category column,
    # not an error; mirror that tolerance instead of raising
    if "Category" not in out.columns:
        out = out.withColumn("Category", F.lit(""))
    rows = [[r[c] for c in cols] for r in out.select(*cols).collect()]
    pdf = render_pdf_table(cols, rows)
    with open(path, "wb") as f:
        f.write(pdf)
    return pdf
