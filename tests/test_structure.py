"""Structuring-stage tests: chunker (A7), lexical scorer (J5), dedup (A6),
sessionization (A8/J7) vs hand expectations and a pure-Python oracle
mirroring app.py:81-156 / structured_llm_processor.py:50-72."""

from __future__ import annotations

import re

from pdftableextractor_spark.operators.structure import (
    chunk_lines,
    dedup_first_wins,
    lexical_commentary,
    table_points,
    text_fact_points,
    unmatched_paragraphs,
)

# --- pure-Python oracles (independent, row-at-a-time) ----------------------


def oracle_chunks(lines, max_lines):
    out, cid, cur = [], 0, 0
    for t in lines:
        cur += 1
        out.append(cid)
        if cur >= max_lines and (
            t.strip().endswith((".", "!", "?", ":")) or cur >= max_lines + 5
        ):
            cid += 1
            cur = 0
    return out


def oracle_clean(text):
    t = re.sub(r"[⁰¹²³⁴⁵⁶⁷⁸⁹]+", "", text)
    t = re.sub(r"\(\d+\)", "", t)
    t = re.sub(r"\[\d+\]", "", t)
    t = re.sub(r"\*+", "", t)
    return " ".join(t.split())


def oracle_score(field, value, line):
    field_words = [
        w for w in field.lower().replace("_", " ").split() if len(w) > 2
    ]
    value_clean = (
        value.lower().replace("$", "").replace("%", "").replace(",", "").strip()
    )
    nums = [n for n in re.findall(r"\d+\.?\d*", value_clean) if len(n) > 1]
    line_lower = line.lower()
    line_clean = oracle_clean(line_lower)
    s = 0
    if len(value_clean) > 2 and value_clean in line_clean:
        s += 10
    s += 7 * sum(1 for n in nums if n in line_clean)
    s += 2 * sum(1 for w in field_words if w in line_lower)
    return s


def oracle_best_commentary(field, value, lines):
    best = None
    for i, line in enumerate(lines):
        s = oracle_score(field, value, line)
        if s >= 7:
            ctx = oracle_clean(
                " ".join(lines[max(0, i - 1) : min(len(lines), i + 3)]).strip()
            )
            if best is None or s > best[0]:
                best = (s, ctx)
    if best is None:
        return None
    s, ctx = best
    if len(ctx) > 400:
        acc = ""
        for sent in ctx.replace("!", ".").replace("?", ".").split("."):
            sent = sent.strip()
            if sent and len(acc + sent) < 350:
                acc += sent + ". "
            else:
                break
        return (s, acc.strip() if acc else ctx[:400] + "...")
    return (s, ctx)


# --- tests ------------------------------------------------------------------


def test_chunker_matches_oracle(spark):
    lines = (
        ["Line with no boundary"] * 24
        + ["This one ends."]
        + ["More text here"] * 28
        + ["Ends too."]
        + ["tail"] * 3
    )
    df = spark.createDataFrame(
        [("d1", i, t) for i, t in enumerate(lines)], ["doc_id", "line_no", "text"]
    )
    got = {
        r["line_no"]: r["chunk_id"]
        for r in chunk_lines(df, max_lines=25).collect()
    }
    exp = oracle_chunks(lines, 25)
    assert [got[i] for i in range(len(lines))] == exp
    # boundary specifics: force-split exactly at max_lines+5
    lines2 = ["no boundary here"] * 40
    df2 = spark.createDataFrame(
        [("d2", i, t) for i, t in enumerate(lines2)], ["doc_id", "line_no", "text"]
    )
    got2 = [
        r["chunk_id"]
        for r in chunk_lines(df2, max_lines=10).orderBy("line_no").collect()
    ]
    assert got2 == oracle_chunks(lines2, 10)
    assert got2[14] == 0 and got2[15] == 1  # forced at 10+5


DOC_LINES = [
    "Revenue was $10.5 million in the fourth quarter.",
    "Membership grew to 50 thousand subscribers overall.",
    "The board declared a dividend this year.",
    "Operating margin¹ reached 12.3% for fiscal 2024 (1).",
    "Cash flow remained strong across all segments.",
]


def test_lexical_scorer_matches_oracle(spark):
    points = [
        ("d1", 0, "Total_Revenue", "$10.5 million"),
        ("d1", 1, "Operating_Margin", "12.3%"),
        ("d1", 2, "Unrelated_Field", "zzz"),
        ("d1", 3, "dividend board", "no-numeric"),
    ]
    pts = spark.createDataFrame(points, ["doc_id", "point_id", "field", "value"])
    lns = spark.createDataFrame(
        [("d1", i, t) for i, t in enumerate(DOC_LINES)],
        ["doc_id", "line_no", "text"],
    )
    got = {
        r["point_id"]: (r["score"], r["commentary"])
        for r in lexical_commentary(pts, lns).collect()
    }
    for pid, field, value in [(p[1], p[2], p[3]) for p in points]:
        exp = oracle_best_commentary(field, value, DOC_LINES)
        if exp is None:
            assert pid not in got, f"point {pid} should have no match"
        else:
            assert pid in got, f"point {pid} should match"
            assert got[pid][0] == exp[0], f"score mismatch for {pid}"
            assert got[pid][1] == exp[1], f"context mismatch for {pid}"


def test_lexical_truncation_long_context(spark):
    long_lines = [
        "Segment alpha delivered revenue of $77.7 million. " * 4,
        "The strong result reflects growth. " * 5,
        "Followup sentence with more detail here. " * 5,
        "And a final line of filler text. " * 5,
    ]
    pts = spark.createDataFrame(
        [("d1", 0, "Revenue", "$77.7 million")],
        ["doc_id", "point_id", "field", "value"],
    )
    lns = spark.createDataFrame(
        [("d1", i, t) for i, t in enumerate(long_lines)],
        ["doc_id", "line_no", "text"],
    )
    got = lexical_commentary(pts, lns).collect()[0]
    exp = oracle_best_commentary("Revenue", "$77.7 million", long_lines)
    assert (got["score"], got["commentary"]) == exp
    assert len(got["commentary"]) < 400


def test_dedup_first_wins(spark):
    rows = [
        ("d1", 5, 0, 0, "table", "Revenue", "10"),
        ("d1", 7, 0, 1, "key_value", "Revenue", "10"),  # dup, later src → drop
        ("d1", 3, 1, 2, "text_fact", "Revenue", "10"),  # dup → drop
        ("d1", 9, 0, 0, "table", "Revenue", "11"),  # different value → keep
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "offset", "seq", "src_rank", "source", "field", "value"]
    )
    got = sorted(
        (r["source"], r["value"]) for r in dedup_first_wins(df).collect()
    )
    assert got == [("table", "10"), ("table", "11")]


def test_dedup_first_wins_null_safe(spark):
    """A null field/value must not corrupt the run detection: lag != col
    yields NULL (not true) on null inputs, so the naive form silently drops
    or keeps the wrong rows. The eqNullSafe form treats (NULL, x) runs like
    any other key."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("offset", IntegerType()),
        StructField("seq", IntegerType()),
        StructField("src_rank", IntegerType()),
        StructField("source", StringType()),
        StructField("field", StringType()),
        StructField("value", StringType()),
    ])
    rows = [
        ("d1", 1, 0, 0, "table", None, "10"),      # null field, first → keep
        ("d1", 2, 0, 1, "key_value", None, "10"),  # dup of (NULL,10) → drop
        ("d1", 3, 0, 0, "table", "Revenue", None), # null value → keep
        ("d1", 4, 0, 1, "key_value", "Revenue", None),  # dup → drop
        ("d1", 5, 0, 0, "table", "Revenue", "10"),  # distinct → keep
    ]
    df = spark.createDataFrame(rows, schema)
    got = sorted(
        ((r["source"], r["field"], r["value"])
         for r in dedup_first_wins(df).collect()),
        key=repr,
    )
    assert got == sorted(
        [
            ("table", None, "10"),
            ("table", "Revenue", None),
            ("table", "Revenue", "10"),
        ],
        key=repr,
    )


def test_table_points_header_inference(spark):
    # grid: header (Metric, Q1, Q2); rows alpha/beta; one empty value dropped
    cells = [
        ("d1", 0, 0, 0, "Metric"), ("d1", 0, 0, 1, "Q1"), ("d1", 0, 0, 2, "Q2"),
        ("d1", 0, 1, 0, "alpha"), ("d1", 0, 1, 1, "$5"), ("d1", 0, 1, 2, ""),
        ("d1", 0, 2, 0, "beta"), ("d1", 0, 2, 1, "$3"), ("d1", 0, 2, 2, "$7"),
    ]
    df = spark.createDataFrame(
        cells, ["doc_id", "offset", "row_idx", "col_idx", "text"]
    )
    got = sorted((r["field"], r["value"]) for r in table_points(df).collect())
    assert got == [
        ("alpha_Q1", "$5"),
        ("beta_Q1", "$3"),
        ("beta_Q2", "$7"),
    ]


def test_text_fact_points(spark):
    df = spark.createDataFrame(
        [("d1", 0, "Revenue of $1,234.5 million grew 12.3% on 2024-01-31.")],
        ["doc_id", "offset", "text"],
    )
    got = sorted((r["field"], r["value"]) for r in text_fact_points(df).collect())
    assert got == [
        ("currency_amount", "$1,234.5 million"),
        ("date", "2024-01-31"),
        ("percentage", "12.3%"),
    ]


def test_unmatched_paragraphs_islands(spark):
    lines = [
        ("d1", 0, "This is a substantial opening line of content."),
        ("d1", 1, "Another substantial line continuing the paragraph."),
        ("d1", 2, "short"),  # breaks island (len <= 15)
        ("d1", 3, "A second island starts here with plenty of good length."),
        ("d1", 4, "And it continues with more substantial content."),
        ("d1", 5, "Used line that commentary consumed already, long."),
        ("d1", 6, "Neighbor of used line is masked by context rule."),
        ("d1", 8, "Final lone island line, definitely long enough to keep alive."),
    ]
    lns = spark.createDataFrame(lines, ["doc_id", "line_no", "text"])
    used = spark.createDataFrame([("d1", 5)], ["doc_id", "line_no"])
    got = {
        r["para_no"]: r["paragraph"]
        for r in unmatched_paragraphs(lns, used).collect()
    }
    assert got[0].startswith("This is a substantial opening line")
    assert "Another substantial" in got[0]
    # line 5 used; lines 4 and 6 masked by ±1 context → island 2 is line 3 only
    assert got[1] == "A second island starts here with plenty of good length."
    assert got[2] == "Final lone island line, definitely long enough to keep alive."
    assert len(got) == 3


# --- footnote data points (app.py:320-335) + the unified union --------------


def oracle_footnotes(doc):
    """Pure-Python footnote rows for one synthetic document: raw candidate
    text lines (kind='text' spans + pdf-kernel text lines, offset order)
    numbered like the reference's enumerate(document_text) index."""
    from pdftableextractor_spark import oracle

    rows = []
    lines = []
    for s in sorted(doc["spans"], key=lambda s: s["offset"]):
        if s["kind"] == "text":
            lines.append(s["text"])
        elif s["kind"] == "pdf":
            # pdf-kernel raw text lines are candidate lines too (sub order)
            lines.extend(
                t for k, t in oracle._pdf_lines(s["text"]) if k == "text"
            )
    marker_re = re.compile(
        r"^(?:\(\d+\)|\[\d+\]|\d+\.|\*+\s|note\s*\d*:|source:|see\s)",
        re.IGNORECASE,
    )
    for i, line in enumerate(lines):
        stripped = line.strip()
        if oracle.is_footnote(stripped):
            m = marker_re.match(stripped)
            rows.append((i, m.group(), stripped))
    return rows


def test_footnote_points_survive_to_output(spark):
    """VERDICT r1 'what's missing' #1: footnote content must reach the
    data-point output — one row per detected footnote, field carries the
    verbatim marker, commentary_default the raw line number."""
    from pdftableextractor_spark.corpus import gen_documents
    from pdftableextractor_spark.operators.extract import extract_frames
    from pdftableextractor_spark.operators.structure import footnote_points

    docs = gen_documents(30, seed=42)
    sdf = spark.createDataFrame(docs)
    pts = footnote_points(extract_frames(sdf)["footnotes"])
    got = {}
    for r in pts.collect():
        got.setdefault(r["doc_id"], []).append(
            (r["offset"], r["field"], r["value"], r["type"], r["page"],
             r["commentary_default"])
        )
    n_rows = 0
    for doc in docs:
        exp = oracle_footnotes(doc)
        have = sorted(got.get(doc["doc_id"], []))
        assert len(have) == len(exp), doc["doc_id"]
        for (line_no, marker, content), row in zip(exp, have):
            assert row == (
                line_no,
                f"Footnote {marker}",
                content,
                "Footnote",
                "N/A",
                f"Line {line_no}",
            )
        n_rows += len(exp)
    assert n_rows > 10  # corpus plants footnote templates; must not be vacuous


def test_general_commentary_points_contract(spark):
    from pdftableextractor_spark.operators.structure import (
        general_commentary_points,
    )

    long_para = ("Sentence one is here. " * 30).strip()  # > 400 chars
    paras = spark.createDataFrame(
        [("d1", 0, "A short leftover paragraph."), ("d1", 1, long_para)],
        ["doc_id", "para_no", "paragraph"],
    )
    rows = {r["offset"]: r for r in general_commentary_points(paras).collect()}
    assert rows[0]["field"] == "Text Segment 1"
    assert rows[0]["value"] == "A short leftover paragraph."
    assert rows[0]["type"] == "General Commentary"
    assert rows[0]["source"] == "document_text"
    assert rows[0]["commentary"] == "Unmatched document content"
    # >400 chars → sentence-aware truncation keeps whole sentences under 350
    assert len(rows[1]["value"]) < 400
    assert rows[1]["value"].endswith(".")


def test_all_data_points_five_source_ranks(spark):
    from pdftableextractor_spark.operators.structure import (
        all_data_points,
        footnote_points,
    )

    mk = lambda src, typ: spark.createDataFrame(
        [("d1", 0, 0, src, typ, "f", "v", "N/A")],
        ["doc_id", "offset", "seq", "source", "type", "field", "value", "page"],
    )
    foot = spark.createDataFrame(
        [("d1", 3, "(1)", "(1) Note: see page 2 for details on this.")],
        ["doc_id", "line_no", "marker", "content"],
    )
    out = all_data_points(
        mk("table", "Table Data"),
        mk("key_value", "Structured Data"),
        mk("text_fact", "Financial Data"),
        footnote_points(foot),
    )
    ranks = {r["source"]: r["src_rank"] for r in out.collect()}
    assert ranks == {
        "table": 0,
        "key_value": 1,
        "text_fact": 2,
        "document_footnotes": 3,
    }
    # footnote row carries the reference field/value shape
    f = [r for r in out.collect() if r["src_rank"] == 3][0]
    assert f["field"] == "Footnote (1)"
    assert f["type"] == "Footnote"


def test_commentary_salt_on_empty_and_skewed_inputs(spark, tmp_path):
    """The structure job's salt decision: 1 on a zero-row corpus (its
    span-count max is null) and on uniform span counts, 8 on a heavy
    tail."""
    from pyspark.sql import functions as F

    from pdftableextractor_spark import corpus
    from pdftableextractor_spark.operators.structure import (
        pick_commentary_salt,
    )

    p = str(tmp_path / "c.parquet")
    corpus.write_corpus_parquet(p, 5, seed=3)
    assert pick_commentary_salt(spark.read.parquet(p).limit(0)) == 1

    def spans(fat):
        n = F.when(F.col("id") == 0, fat).otherwise(2).cast("int")
        return spark.range(30).select(
            F.array_repeat(F.lit("s"), n).alias("spans")
        )

    assert pick_commentary_salt(spans(2)) == 1
    assert pick_commentary_salt(spans(500)) == 8
