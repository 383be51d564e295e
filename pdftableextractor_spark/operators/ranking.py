"""Lexical relevance ranking over a documents corpus: BM25.

Query-time path for a handful of query terms — the common "find the docs
about X in the corpus" analytics ask — NOT a full inverted-index build:

- NO token explode and NO shuffle for term frequencies: tf(d, t) =
  size(tokens) - size(array_remove(tokens, t)) — codegen array expressions,
  so per-doc (dl, tf...) is a pure scan-side projection.
- Corpus statistics (N, avgdl, per-term document frequency) are one
  single-row aggregate over that projection, attached with a broadcast
  cross-join — fully lazy, nothing is collected to the driver.

At 100 TB the whole query is two projection scans plus a one-row reduce:
no Exchange carries more than q+2 numbers per partition. (An exploded
groupBy formulation was measured and replaced — Catalyst did not reuse the
doc_id exchange across the score and stats branches, so the corpus was
scanned AND exploded twice.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdftableextractor_spark.operators.dedup import tokenize_col

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """(doc_id, score) for every document matching >= 1 query term, scored
    with Lucene-style BM25 (k1 = ``BM25_K1``, b = ``BM25_B``):

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        s(d, t) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

    N counts ALL docs with at least one token, avgdl averages ALL their
    lengths — the corpus statistics are query-independent. Term order in
    the score sum is the sorted term list (float addition is
    order-sensitive; the DuckDB oracle mirrors the same order).
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    arr = tokenize_col(F.col("text"))
    # tf WITHOUT an explode or a shuffle: occurrences of t in the token
    # array = size(arr) - size(array_remove(arr, t)) — codegen array ops,
    # so per-doc (dl, tf...) is a pure scan-side projection. dl discounts
    # the '' token an empty/whitespace-only text splits to; such docs are
    # excluded entirely (dl = 0), matching the exploded formulation.
    per_doc = (
        docs.select(
            "doc_id",
            F.size(F.array_remove(arr, "")).cast("bigint").alias("dl"),
            *[
                (F.size(arr) - F.size(F.array_remove(arr, t)))
                .cast("bigint")
                .alias(f"tf{i}")
                for i, t in enumerate(terms)
            ],
        )
        .filter(F.col("dl") > 0)
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    norm = F.lit(BM25_K1) * (
        F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        part = idf * tf * F.lit(BM25_K1 + 1.0) / (tf + norm)
        score = part if score is None else score + part
    return (
        scored.select("doc_id", score.alias("score"))
        .filter(F.col("score") > 0)
    )
