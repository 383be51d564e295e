"""Distributed BPE tokenizer: corpus-scale vocabulary training and
Arrow-batched encoding.

The reference counts tokens with a BPE-ish regex (`textstats.TOKEN_RE`);
a training pipeline additionally needs the REAL thing — a learned
subword vocabulary and a deterministic encoder — because token budgets,
mixture weights, and dedup-survivor statistics are all denominated in
actual tokenizer tokens, not regex hits.

Scale shape (100 TB):

* Training never moves the corpus. One distributed word-frequency
  aggregation (map-side combined, output bounded by the WORD-TYPE
  vocabulary, not corpus size) feeds a bounded, deterministic driver
  collect of the top ``max_word_types`` types; the merge loop is
  O(merges x types) pure Python on the driver. Frequency-truncated
  training is the standard practice trade: dropped singleton types
  contribute ~nothing to pair statistics under a Zipf distribution.
* Encoding is embarrassingly parallel: an Arrow-batched kernel with the
  merge table in the closure (a few thousand pairs) and a bounded
  per-partition word cache — Zipf means the cache absorbs almost every lookup,
  so the per-word merge loop runs on the long tail only.

Merges apply IN TRAINING ORDER with a single left-to-right
non-overlapping pass per merge (Sennrich's re.sub semantics, expressed
as a fold so no regex escaping is needed); training and encoding share
`_merge_pass`, so the encoder is exact-by-construction against the
trainer's own segmentation.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# end-of-word sentinel: lets the vocabulary distinguish "er" in "higher"
# from the standalone word "er", and makes decoding lossless. The
# character is RESERVED: a literal U+2581 in corpus text normalizes to a
# space during pre-tokenization (train and encode alike), otherwise it
# would collide with the marker — end-of-word merges would misapply to
# it and decode would silently turn it into spaces anyway. Normalizing
# up front keeps '<word>▁<word>' and '<word> <word>' identical
# everywhere instead of only after a lossy decode.
EOW = "▁"

# pre-tokenization reuses the repo's frozen BPE-ish regex so
# textstats.token_count's `bpe_tokens` is exactly "words seen by the
# tokenizer" (textstats.py:17)
from pdftableextractor_spark.operators.textstats import TOKEN_RE  # noqa: E402

ENCODE_SCHEMA = "doc_id string, tokens array<string>, n_tokens int"


def _merge_pass(sym: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    """One left-to-right non-overlapping merge of adjacent (a, b) -> a+b.
    Fold formulation of Sennrich's pattern-sub: a freshly merged symbol
    never re-serves as the LEFT side within the same pass (the sub has
    consumed it), which the fold gets for free because acc[-1] becomes
    a+b != a."""
    out: list[str] = []
    for s in sym:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return tuple(out)


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (EOW,)


def train_bpe_from_counts(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a word-type frequency table.
    Deterministic: best pair = max (frequency, then lexicographically
    SMALLEST pair) — frequency ties are common on small corpora and an
    unspecified tie-break would make training partitioning-dependent."""
    vocab: dict[tuple[str, ...], int] = {
        _word_symbols(w): c for w, c in word_counts
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        if not pairs:
            break
        (a, b), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < 2:
            break  # merging hapax pairs just memorizes the sample
        merges.append((a, b))
        vocab = {
            (_merge_pass(sym, a, b) if a in sym else sym): c
            for sym, c in vocab.items()
        }
    return merges


def train_bpe(
    docs: DataFrame,
    n_merges: int = 1000,
    max_word_types: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from a corpus: ONE distributed
    word-frequency aggregation, a bounded deterministic driver collect
    (top ``max_word_types`` types by count desc, word asc), then the
    driver-side merge loop. The collect is bounded by TYPE vocabulary —
    independent of corpus row count — which is what makes this the
    right shape at 100 TB."""
    wc = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    # reserved-sentinel normalization (see EOW)
                    F.replace(F.col("text"), F.lit(EOW), F.lit(" ")),
                    F.lit(TOKEN_RE),
                    F.lit(0),
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("word").asc())
        .limit(max_word_types)
        .collect()
    )
    return train_bpe_from_counts([(r["word"], r["c"]) for r in wc], n_merges)


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Segment one word with the merge table applied in training order.
    Shared by the Spark kernel and the tests' pure-python oracle."""
    sym = _word_symbols(word)
    for a, b in merges:
        if a in sym:
            sym = _merge_pass(sym, a, b)
    return list(sym)


def _encode_kernel(merges: list[tuple[str, str]]):
    import re

    tok_re = re.compile(TOKEN_RE)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition word cache, BOUNDED: Zipf means a modest cap
        # absorbs almost every lookup, and the clear-at-cap rule keeps
        # worker RSS flat on high-word-type-cardinality partitions
        # (base64 blobs, URLs, random ids) instead of growing without
        # limit for the lifetime of the partition
        cache: dict[str, list[str]] = {}
        cache_cap = 1 << 18
        for pdf in batches:
            ids, toks, counts = [], [], []
            for did, text in zip(pdf["doc_id"].values, pdf["text"].values):
                if text is None:
                    text = ""
                out: list[str] = []
                for w in tok_re.findall(text.replace(EOW, " ")):
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_word(w, merges)
                        # cap checked per INSERT (round-7, ADVICE): a
                        # single pathological document with more than
                        # cache_cap distinct word types must not grow the
                        # cache unbounded for its duration
                        if len(cache) >= cache_cap:
                            cache.clear()
                        cache[w] = enc
                    out.extend(enc)
                ids.append(did)
                toks.append(out)
                counts.append(len(out))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="string"),
                    "tokens": pd.Series(toks, dtype="object"),
                    "n_tokens": pd.Series(counts, dtype="int32"),
                }
            )

    return kern


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(doc_id, tokens, n_tokens) — encode every document with a trained
    merge table. Narrow Arrow-batched map, no shuffle; decoding is
    ``''.join(tokens).replace(EOW, ' ')``-lossless on the word stream
    because every word ends in the EOW sentinel."""
    return docs.select("doc_id", "text").mapInPandas(
        _encode_kernel(list(map(tuple, merges))),
        schema=ENCODE_SCHEMA,
    )

