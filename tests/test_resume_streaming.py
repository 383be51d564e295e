"""Resumability (FIXTURES.md §5) and streaming-parity tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdftableextractor_spark import corpus, oracle
from pdftableextractor_spark.plans.resume import (
    done_buckets,
    run_extract_resumable,
)
from pdftableextractor_spark.streaming.stream import stream_extract

N_DOCS = 40


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("rcorpus") / "documents.parquet")
    corpus.write_corpus_parquet(p, N_DOCS, seed=11)
    return p


def _expected(seed=11, n=N_DOCS):
    rows = oracle.extract_corpus(corpus.gen_documents(n, seed=seed))
    return sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in rows
    )


def test_jobs_leave_session_conf_unchanged(spark, corpus_path, tmp_path):
    """Round-2 advice: partitionOverwriteMode used to be set session-wide by
    the resume runner and the streaming sink. It is now a per-WRITE option —
    the session conf must be byte-identical after both job functions
    return."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    run_extract_resumable(
        spark, corpus_path, str(tmp_path / "co"), str(tmp_path / "cm"),
        run_id="conf1", n_buckets=4,
    )
    assert spark.conf.get(key) == before
    stream_extract(
        spark, corpus_path.rsplit("/", 1)[0],
        str(tmp_path / "so"), str(tmp_path / "sck"),
    )
    assert spark.conf.get(key) == before


def test_resume_after_injected_failure(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    # first run dies after 3 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract_resumable(
            spark, corpus_path, out, metrics, run_id="r1",
            n_buckets=8, fail_after_buckets=3,
        )
    assert len(done_buckets(spark, metrics, "r1")) == 3

    # rerun resumes: skips the 3 done buckets, completes the rest
    res = run_extract_resumable(
        spark, corpus_path, out, metrics, run_id="r1", n_buckets=8
    )
    assert res["buckets_skipped"] == 3
    assert res["buckets_processed"] > 0

    got = sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in spark.read.parquet(out)
        .select("doc_id", "order", "kind", "text", "media_ref")
        .collect()
    )
    assert got == _expected()
    # no duplicate (doc_id, order) rows survived the partial run
    dup = (
        spark.read.parquet(out)
        .groupBy("doc_id", "order")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_resume_is_idempotent_when_complete(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    run_extract_resumable(
        spark, corpus_path, out, metrics, run_id="r2", n_buckets=4
    )
    res = run_extract_resumable(
        spark, corpus_path, out, metrics, run_id="r2", n_buckets=4
    )
    assert res["buckets_processed"] == 0
    assert res["buckets_skipped"] == 4


def test_streaming_matches_batch(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(in_dir)
    corpus.write_corpus_parquet(f"{in_dir}/batch1.parquet", 20, seed=11)
    stream_extract(spark, in_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # new files arrive; restart with the same checkpoint → only new docs
    # are processed, nothing is duplicated
    corpus.write_corpus_parquet(f"{in_dir}/batch2.parquet", N_DOCS, seed=11)
    stream_extract(spark, in_dir, out_dir, ckpt)
    got = sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in spark.read.parquet(out_dir).collect()
    )
    # batch2 (docs 0..39, seed 11) ∪ batch1 (docs 0..19, seed 11 — the same
    # first 20 docs, emitted once by each batch file)
    exp = _expected() + _expected(n=20)
    assert got == sorted(exp)
