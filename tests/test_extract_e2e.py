"""End-to-end golden test: the Spark pipeline's span sequence must equal the
independent oracle's, row for row, on the deterministic synthetic corpus —
the driver's span-sequence-equality invariant (kind, text, media_ref, order)
per doc_id (BASELINE.json:input_hint)."""

from __future__ import annotations

import pytest

from pdftableextractor_spark import corpus, oracle
from pdftableextractor_spark.operators.extract import extract_spans

N_DOCS = 60  # includes doc index 7 (heavy-tailed, ~2500 spans)


@pytest.fixture(scope="module")
def corpus_docs():
    return corpus.gen_documents(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def documents_df(spark, corpus_docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "documents.parquet")
    corpus.write_corpus_parquet(path, N_DOCS, seed=42)
    return spark.read.parquet(path)


def _collect_sorted(df):
    return [
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in df.orderBy("doc_id", "order").collect()
    ]


def test_span_sequence_equality(spark, corpus_docs, documents_df):
    got = _collect_sorted(extract_spans(documents_df))
    exp = [
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in oracle.extract_corpus(corpus_docs)
    ]
    exp.sort(key=lambda r: (r[0], r[1]))
    assert len(got) == len(exp)
    # first mismatch (if any) reported precisely
    for g, e in zip(got, exp):
        assert g == e, f"mismatch: got={g!r} expected={e!r}"


def test_order_contiguous_per_doc(spark, documents_df):
    from pyspark.sql import functions as F

    out = extract_spans(documents_df)
    bad = (
        out.groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.max("order").alias("mx"),
            F.min("order").alias("mn"),
            F.count_distinct("order").alias("nd"),
        )
        .filter(
            (F.col("mn") != 0)
            | (F.col("mx") != F.col("n") - 1)
            | (F.col("nd") != F.col("n"))
        )
        .count()
    )
    assert bad == 0


def test_partitioning_invariance(spark, documents_df):
    """Output must not depend on physical partitioning (SURVEY.md §5.4)."""
    a = _collect_sorted(extract_spans(documents_df.repartition(1)))
    b = _collect_sorted(extract_spans(documents_df.repartition(16)))
    assert a == b


def test_output_matches_spans_out_schema(spark, documents_df):
    from pdftableextractor_spark.types import SPANS_OUT_SCHEMA

    got = extract_spans(documents_df).schema
    assert [(f.name, f.dataType) for f in got] == [
        (f.name, f.dataType) for f in SPANS_OUT_SCHEMA
    ]


def test_shared_offset_follows_oracle_order(spark):
    """A pdf page, a text span and a media span at one offset: rows
    interleave by (offset, sub-row, array position), like the oracle's
    stable sort, at any partitioning."""
    from pdftableextractor_spark.types import RS, US

    page = RS.join(
        US.join([w, top, "0.1", "0.1", "0.02"])
        for w, top in (("Alpha", "0.1"), ("Beta", "0.2"), ("Gamma", "0.3"))
    )
    spans = [
        ("pdf", page, "", 1),
        ("text", "Shared offset line.", "", 1),
        ("text", "First line.", "", 0),
        ("media", "", "m-9", 1),
    ]
    rows = [("d1", spans), ("d2", spans[::-1])]
    sdf = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    keys = ("kind", "text", "media_ref", "offset")
    exp = [
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in oracle.extract_corpus(
            [{"doc_id": d, "spans": [dict(zip(keys, s)) for s in sp]} for d, sp in rows]
        )
    ]
    assert [r[3] for r in exp[:6]] == [
        "First line.", "Alpha", "Shared offset line.", "", "Beta", "Gamma"
    ]
    for n in (1, 16):
        assert _collect_sorted(extract_spans(sdf.repartition(n))) == sorted(exp)


def test_media_passthrough(spark, corpus_docs, documents_df):
    got = extract_spans(documents_df).filter("kind = 'media'")
    exp_media = [
        (d["doc_id"], s["media_ref"])
        for d in corpus_docs
        for s in d["spans"]
        if s["kind"] == "media"
    ]
    got_media = [(r["doc_id"], r["media_ref"]) for r in got.collect()]
    assert sorted(got_media) == sorted(exp_media)


def test_hostile_grid_tag_is_clamped(spark):
    """A 'r2000000000c0:' cell tag must not densify a multi-GB grid
    (extract.GRID_MAX bound); the engine and the pure-Python oracle drop it
    identically."""
    from pdftableextractor_spark import oracle
    from pdftableextractor_spark.operators.extract import extract_spans
    from pdftableextractor_spark.types import US

    payload = US.join(
        ["r0c0:A", "r0c1:B", "r2000000000c0:boom", "r1c1:$5"]
    )
    doc = {
        "doc_id": "d1",
        "spans": [
            {"kind": "table", "text": payload, "media_ref": "", "offset": 0}
        ],
    }
    sdf = spark.createDataFrame(
        [doc],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = [
        (r["order"], r["kind"], r["text"])
        for r in extract_spans(sdf).orderBy("order").collect()
    ]
    exp = [
        (r["order"], r["kind"], r["text"]) for r in oracle.extract_document(doc)
    ]
    assert got == exp
    assert [t for _, _, t in got] == ["A", "B", "", "$5"]


def test_hostile_grid_area_is_bounded(spark):
    """Per-axis caps alone are not enough: one 'r9999c9999:x' cell implies a
    ~10^8-element dense grid. Tables whose (max_r+1)*(max_c+1) exceeds
    extract.GRID_AREA_MAX are dropped whole, identically in the engine and
    the pure-Python oracle — and the guard short-circuits BEFORE the
    sequence/flatten, so the huge array is never materialized."""
    from pdftableextractor_spark import oracle
    from pdftableextractor_spark.operators.extract import extract_spans
    from pdftableextractor_spark.types import US

    payload = US.join(["r0c0:A", "r1999c1999:boom"])
    doc = {
        "doc_id": "d1",
        "spans": [
            {"kind": "table", "text": payload, "media_ref": "", "offset": 0},
            {"kind": "text", "text": "still here.", "media_ref": "", "offset": 1},
        ],
    }
    sdf = spark.createDataFrame(
        [doc],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = [
        (r["order"], r["kind"], r["text"])
        for r in extract_spans(sdf).orderBy("order").collect()
    ]
    exp = [
        (r["order"], r["kind"], r["text"]) for r in oracle.extract_document(doc)
    ]
    assert got == exp
    # the hostile table contributed NOTHING; only the text span survives
    assert got == [(0, "text", "still here.")]

