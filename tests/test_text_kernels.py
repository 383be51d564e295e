"""Unit tests: the Spark SQL builders in functions.strings must agree with
the independent pure-Python oracle on tricky lines and on every text line
of the golden fixture (FIXTURES.md §3)."""

from __future__ import annotations

from pdftableextractor_spark import oracle
from pdftableextractor_spark.functions.strings import (
    is_boilerplate_col,
    is_footnote_col,
    normalize_text_col,
)

LINES = [
    "Revenue grew 25% in Q4¹ compared to prior year.",
    "Net income² was $10.5 million (1) as reported [2].",
    "Total *** adjusted ** figures * here",
    "42",
    "  17  ",
    "(1) Note: figures based on unaudited results for the period.",
    "(1) short",  # marker but not enough content → not footnote
    "[2] Source: company filings, see page 12 for details.",
    "3. See the disclaimer in section 4 regarding statements.",
    "3. Plain numbered list item with no keyword match at all",
    "* Excludes one-time charges pursuant to the plan.",
    "Note 2: includes deferred revenue in accordance with GAAP.",
    "Source: management estimates, refers to fiscal 2024.",
    "See appendix 3 for the reconciliation of measures.",
    "NOTE: CAPS footnote includes important disclaimer text.",
    "Seeing growth in all segments this quarter.",  # 'see ' needs the space
    "Home | About | Contact | Careers",
    "© 2024 Example Corp. All rights reserved.",
    "Privacy Policy",
    "privacy policy",
    "Terms of Service",
    "A normal sentence | with one pipe only.",
    "",
    "   ",
    "⁴⁵⁶",
    "word⁴⁵⁶tail",
    " 7 ",
    "(3)",
    "a|b|c",
    "© x",
    " home",
    "1. see page 4 now",
    "Note: x",
    "* refers to x here",
    "[1] Source: a b c d",
    "x¹²y (12) [3] ** z",
]


def _golden_lines() -> list[str]:
    """LINES plus every text/boiler span of the frozen golden fixture."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "fixtures", "golden_spans.json")
    with open(path) as f:
        docs = json.load(f)["documents"]
    return LINES + [
        s["text"]
        for d in docs
        for s in d["spans"]
        if s["kind"] in ("text", "boiler")
    ]


def test_normalize_matches_oracle(spark):
    lines = _golden_lines()
    df = spark.createDataFrame([(l,) for l in lines], ["text"])
    got = [
        r["n"]
        for r in df.select(normalize_text_col("text").alias("n")).collect()
    ]
    assert got == [oracle.normalize(l) for l in lines]


def test_footnote_predicate_matches_oracle(spark):
    lines = _golden_lines()
    df = spark.createDataFrame([(l,) for l in lines], ["text"])
    got = [
        bool(r["f"])
        for r in df.select(is_footnote_col("text").alias("f")).collect()
    ]
    assert got == [oracle.is_footnote(l) for l in lines]
    # sanity on specific semantics
    assert oracle.is_footnote("(1) Note: figures based on unaudited results.")
    assert not oracle.is_footnote("(1) short")
    assert not oracle.is_footnote("Seeing growth in all segments this quarter.")


def test_boilerplate_predicate_matches_oracle(spark):
    lines = _golden_lines()
    df = spark.createDataFrame([(l,) for l in lines], ["text"])
    got = [
        bool(r["b"])
        for r in df.select(is_boilerplate_col("text").alias("b")).collect()
    ]
    assert got == [oracle.is_boiler(l) for l in lines]


def test_normalize_semantics():
    assert oracle.normalize("abc¹²³ def(1) g[2] h***") == "abc def g h"
    assert oracle.normalize("42") == ""
    assert oracle.normalize("  a   b\t c ") == "a b c"
