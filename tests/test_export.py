"""Dynamic-schema export tests (P10/S10/S11): key union, reference column
ordering, '' fill, quoted CSV round-trip."""

from __future__ import annotations

import csv
import glob

from pdftableextractor_spark.operators.export import (
    key_union_pivot,
    union_keys,
    write_csv,
)


def _mapdf(spark):
    rows = [
        ({"Category": "Revenue", "Value 1": "10", "Value 10": "x"},),
        ({"Category": "Margin", "Value 2": "7", "zeta": "z"},),
        ({"alpha": "a"},),
    ]
    return spark.createDataFrame(rows, "data map<string,string>")


def test_union_keys_reference_ordering(spark):
    df = _mapdf(spark)
    assert union_keys(df) == [
        "Category",
        "Value 1",
        "Value 2",
        "Value 10",  # numeric, not lexicographic (export_utils.py:40-46)
        "alpha",
        "zeta",
    ]


def test_key_union_pivot_fills_empty(spark):
    out = key_union_pivot(_mapdf(spark)).collect()
    assert out[0]["Value 2"] == ""
    assert out[1]["Category"] == "Margin"
    assert out[2]["alpha"] == "a"
    assert out[2]["Category"] == ""


def test_csv_roundtrip_quote_all(spark, tmp_path):
    df = spark.createDataFrame(
        [({"Category": 'He said "hi"', "Value 1": "a,b"},)],
        "data map<string,string>",
    )
    path = str(tmp_path / "csv")
    write_csv(df, path)
    headers, data = [], []
    for f in sorted(glob.glob(f"{path}/part-*.csv")):
        with open(f, newline="") as fh:
            rows = list(csv.reader(fh))
        if rows:
            headers.append(rows[0])
            data.extend(rows[1:])
    assert all(h == ["Category", "Value 1"] for h in headers)
    assert data == [['He said "hi"', "a,b"]]


def test_pdf_column_order_matches_reference_rule():
    """export_utils.py:38-42: Category first, Value* in PYTHON STRING sort
    ('Value 10' before 'Value 2'), everything else dropped."""
    from pdftableextractor_spark.operators.export import pdf_column_order

    cols = ["Value 2", "Category", "Value 10", "Value 1", "Extra", "zz"]
    assert pdf_column_order(cols) == [
        "Category", "Value 1", "Value 10", "Value 2",
    ]


def test_write_pdf_produces_valid_pdf(spark, tmp_path):

    from pdftableextractor_spark.operators.export import write_pdf

    rows = [
        ({"Category": "Revenue", "Value 1": "$10 (net)"},),
        ({"Category": "Margin", "Value 2": "12%"},),
    ]
    df = spark.createDataFrame(rows, "data map<string,string>")
    path = str(tmp_path / "out.pdf")
    pdf = write_pdf(df, path)
    raw = open(path, "rb").read()
    assert raw == pdf
    assert raw.startswith(b"%PDF-1.4")
    assert raw.rstrip().endswith(b"%%EOF")
    assert b"(Extracted Information)" in raw
    # header row carries the reference column order; parens escaped
    assert b"(Category | Value 1 | Value 2)" in raw
    assert rb"$10 \(net\)" in raw
    # xref offsets actually point at 'N 0 obj' headers (spec-valid file)
    import re as _re

    xref_at = int(raw.rsplit(b"startxref\n", 1)[1].split(b"\n")[0])
    assert raw[xref_at : xref_at + 4] == b"xref"
    entries = _re.findall(rb"(\d{10}) 00000 n", raw)
    for i, off in enumerate(entries, start=1):
        assert raw[int(off) : int(off) + len(f"{i} 0 obj")] == f"{i} 0 obj".encode()


def test_write_pdf_without_category_renders_empty_column(spark, tmp_path):
    """A pivoted table whose map keys never include 'Category' must render
    an empty Category column (reference export_utils.py:44 row.get(col, '')),
    not raise AnalysisException."""
    from pdftableextractor_spark.operators.export import write_pdf

    rows = [({"Value 1": "$10"},), ({"Value 2": "12%"},)]
    df = spark.createDataFrame(rows, "data map<string,string>")
    path = str(tmp_path / "nocat.pdf")
    pdf = write_pdf(df, path)
    assert pdf.startswith(b"%PDF-1.4")
    assert b"(Category | Value 1 | Value 2)" in pdf


def test_write_pdf_paginates(spark, tmp_path):
    from pdftableextractor_spark.operators.export import (
        render_pdf_table,
    )

    pdf = render_pdf_table(["Category", "Value 1"],
                           [[f"c{i}", str(i)] for i in range(95)])
    assert pdf.count(b"/Type /Page ") == 3  # 95 rows @ 40/page
    assert b"/Count 3" in pdf


def test_flatten_nested_deep_paths(spark):
    """P9: JS-style path enumeration through structs and nested arrays,
    null leaves dropped."""
    from pdftableextractor_spark.operators.export import flatten_nested

    df = spark.createDataFrame(
        [
            (
                "d1",
                "plain",
                {"x": 1, "ys": [10, 20]},
                [{"name": "a", "tags": ["t1", "t2"]},
                 {"name": None, "tags": []}],
            )
        ],
        "doc_id string, top string, "
        "s struct<x:int, ys:array<int>>, "
        "items array<struct<name:string, tags:array<string>>>",
    )
    got = {(r["path"], r["value"]) for r in flatten_nested(df).collect()}
    assert got == {
        ("top", "plain"),
        ("s.x", "1"),
        ("s.ys[0]", "10"),
        ("s.ys[1]", "20"),
        ("items[0].name", "a"),
        ("items[0].tags[0]", "t1"),
        ("items[0].tags[1]", "t2"),
        # items[1].name is NULL → dropped; items[1].tags is empty → no rows
    }
