"""Layout kernel unit tests: word-box parse, reading-order sort, whitespace
column clustering, dense grid emission — vs the independent oracle and vs
hand-computed expectations (FIXTURES.md §3)."""

from __future__ import annotations

import pyarrow as pa

from pdftableextractor_spark import corpus, oracle
from pdftableextractor_spark.kernels.layout import layout_pages
from pdftableextractor_spark.types import RS, US


def layout_page(payload):
    """One page through the batch kernel: [(kind, text)] per line."""
    (lines,) = layout_pages(pa.array([[payload]], pa.list_(pa.string())))[0]
    return [(ln["kind"], ln["text"]) for ln in lines.as_py()]


def oracle_pages(docs):
    """``layout_pages``' expected output: the oracle's lines per page."""
    return [
        None if doc is None else [
            [{"kind": k, "text": t} for k, t in oracle._pdf_lines(p or "")]
            for p in doc
        ]
        for doc in docs
    ]


def _page(recs):
    return RS.join(US.join(str(x) for x in r) for r in recs)


def test_reading_order_and_line_grouping():
    # same visual line with top jitter < LINE_EPS; second line below
    recs = [
        ("world", 0.102, 0.30, 0.05, 0.012),
        ("hello", 0.100, 0.10, 0.05, 0.012),
        ("line2", 0.150, 0.10, 0.05, 0.012),
    ]
    assert layout_page(_page(recs)) == [("text", "hello world"), ("text", "line2")]


def test_tie_break_on_equal_top_uses_left():
    recs = [
        ("b", 0.2, 0.5, 0.02, 0.01),
        ("a", 0.2, 0.1, 0.02, 0.01),
    ]
    assert layout_page(_page(recs)) == [("text", "a b")]


def test_single_tabular_line_is_text_not_table():
    recs = [
        ("left", 0.1, 0.10, 0.04, 0.01),
        ("right", 0.1, 0.60, 0.05, 0.01),
        ("plain body line", 0.2, 0.10, 0.15, 0.01),
    ]
    out = layout_page(_page(recs))
    assert out == [("text", "left right"), ("text", "plain body line")]


def test_three_column_table_with_sparse_middle_cell():
    recs = [
        ("Name", 0.10, 0.10, 0.048, 0.012),
        ("Q1", 0.10, 0.45, 0.024, 0.012),
        ("Q2", 0.10, 0.75, 0.024, 0.012),
        # row 2 misses the middle column → '' fill expected there
        ("alpha", 0.13, 0.10, 0.060, 0.012),
        ("$5", 0.13, 0.75, 0.024, 0.012),
        ("beta", 0.16, 0.10, 0.048, 0.012),
        ("$3", 0.16, 0.45, 0.024, 0.012),
        ("$7", 0.16, 0.75, 0.024, 0.012),
    ]
    out = layout_page(_page(recs))
    assert out == [
        ("table_cell", "Name"),
        ("table_cell", "Q1"),
        ("table_cell", "Q2"),
        ("table_cell", "alpha"),
        ("table_cell", ""),
        ("table_cell", "$5"),
        ("table_cell", "beta"),
        ("table_cell", "$3"),
        ("table_cell", "$7"),
    ]


def test_single_segment_line_breaks_table_run():
    recs = [
        ("Name", 0.10, 0.10, 0.048, 0.012),
        ("Value", 0.10, 0.60, 0.060, 0.012),
        ("alpha", 0.13, 0.10, 0.060, 0.012),
        ("$5", 0.13, 0.60, 0.024, 0.012),
        ("$9", 0.16, 0.60, 0.024, 0.012),  # lone segment → not tabular
        ("beta", 0.19, 0.10, 0.048, 0.012),  # run of 1 tabular line → text
        ("$7", 0.19, 0.60, 0.024, 0.012),
    ]
    out = layout_page(_page(recs))
    cells = [t for k, t in out if k == "table_cell"]
    texts = [t for k, t in out if k == "text"]
    assert cells == ["Name", "Value", "alpha", "$5"]
    assert texts == ["$9", "beta $7"]


def test_single_row_ruled_table_detected():
    # a lone 2-column row would NOT be a whitespace table (run of 1), but
    # enclosed between two rules it is
    recs = [
        ("<hr>", 0.08, 0.05, 0.85, 0.002),
        ("alpha", 0.10, 0.10, 0.060, 0.012),
        ("$5", 0.10, 0.60, 0.024, 0.012),
        ("<hr>", 0.12, 0.05, 0.85, 0.002),
        ("plain body line", 0.16, 0.10, 0.15, 0.012),
    ]
    out = layout_page(_page(recs))
    assert out == [
        ("table_cell", "alpha"),
        ("table_cell", "$5"),
        ("text", "plain body line"),
    ]


def test_ruled_region_single_column_stays_text():
    recs = [
        ("<hr>", 0.08, 0.05, 0.85, 0.002),
        ("just one segment here", 0.10, 0.10, 0.20, 0.012),
        ("<hr>", 0.12, 0.05, 0.85, 0.002),
    ]
    assert layout_page(_page(recs)) == [("text", "just one segment here")]


def test_unruled_logic_unchanged_outside_rules():
    recs = [
        ("<hr>", 0.05, 0.05, 0.85, 0.002),
        ("inside", 0.07, 0.10, 0.06, 0.012),
        ("$1", 0.07, 0.60, 0.02, 0.012),
        ("<hr>", 0.09, 0.05, 0.85, 0.002),
        # below the rules: a lone tabular line → text (run of 1)
        ("left", 0.20, 0.10, 0.04, 0.012),
        ("right", 0.20, 0.60, 0.05, 0.012),
    ]
    out = layout_page(_page(recs))
    assert out == [
        ("table_cell", "inside"),
        ("table_cell", "$1"),
        ("text", "left right"),
    ]


def test_kernel_matches_oracle_on_generated_pages():
    rng_docs = corpus.gen_documents(40, seed=7)
    n_pages = 0
    for d in rng_docs:
        for s in d["spans"]:
            if s["kind"] == "pdf":
                n_pages += 1
                assert layout_page(s["text"]) == oracle._pdf_lines(s["text"])
    assert n_pages > 10  # generator actually produced pdf pages


def test_line_anchor_is_the_first_top():
    """A word joins a line while top - (the line's first top) <= LINE_EPS:
    0.100/0.108/0.116 is two lines, though each step is under LINE_EPS."""
    recs = [
        ("a", 0.100, 0.10, 0.02, 0.01),
        ("b", 0.108, 0.20, 0.02, 0.01),
        ("c", 0.116, 0.30, 0.02, 0.01),
    ]
    assert layout_page(_page(recs)) == [("text", "a b"), ("text", "c")]
    assert oracle._pdf_lines(_page(recs)) == layout_page(_page(recs))


def test_layout_pages_lays_out_each_page_of_each_document():
    """The batch kernel returns the oracle's lines per page, keeps a null
    document null and an empty or null page empty."""
    pages = [
        s["text"]
        for d in corpus.gen_documents(20, seed=7)
        for s in d["spans"]
        if s["kind"] == "pdf"
    ][:3]
    docs = [pages, None, [None, "", pages[0]], []]
    got = layout_pages(pa.array(docs, pa.list_(pa.string()))).to_pylist()
    assert got == oracle_pages(docs)
    assert got[2][:2] == [[], []] and got[0][0]
