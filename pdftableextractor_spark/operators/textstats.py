"""Text-analysis operators for training-data curation: language ID, quality
scoring, token counting, document fingerprinting.

Everything is built-in Spark SQL expression work (whole-stage codegen); the
row-local operators are one projection of their ``*_cols`` core (named
Columns over one text column), which the curation funnel adds to its frame
in place of a self-join. The formulas are frozen, integer/6-decimal
arithmetic so the DuckDB oracle can match value-hashes exactly.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdftableextractor_spark.operators.dedup import (
    _gram_structs,
    _tokens,
    shingles_col,
    tokenize_col,
)

# BPE-ish token regex: letter runs, digit runs, single other non-space chars
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language stopword marker sets (n-gram heuristic analog); frozen.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "for"),
    "es": ("el", "la", "de", "los", "que", "en", "y", "una"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "dans"),
    "zh": ("的", "是", "在", "了", "我", "有", "和", "不"),
}
STOPWORDS = LANG_MARKERS["en"]


def _named(**cols: Column) -> dict[str, Column]:
    """Each column aliased to its keyword, in keyword order."""
    return {k: c.alias(k) for k, c in cols.items()}


def token_count_cols() -> dict[str, Column]:
    """ws_tokens, bpe_tokens, chars — whitespace + BPE-ish regex token
    counts of ``text``."""
    t = F.col("text")
    return _named(
        ws_tokens=F.size(tokenize_col(t)),
        bpe_tokens=F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), F.lit(0))),
        chars=F.length(t),
    )


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens, chars) — see ``token_count_cols``."""
    return docs.select("doc_id", *token_count_cols().values())


def quality_score_cols() -> dict[str, Column]:
    """Heuristic quality features of ``text`` + a composite score in
    [0, 1]:

      len_score   = least(chars, 2000) / 2000
      punct_ratio = punct chars / chars
      stop_ratio  = en-stopword tokens / tokens
      score       = round(0.4*len_score + 0.3*least(stop_ratio*3, 1)
                          + 0.3*(1 - least(punct_ratio*5, 1)), 6)
    """
    t = F.col("text")
    toks = tokenize_col(t)
    chars = F.length(t)
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    stop_hits = F.size(F.filter(toks, lambda x: eval_in_set(x, STOPWORDS)))
    len_score = F.least(chars, F.lit(2000)) / F.lit(2000.0)
    punct_ratio = punct / F.greatest(chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(F.size(toks), F.lit(1))
    # the composite is an exact rational N/D whose 6-digit rounding often
    # lands EXACTLY on .5 ties (denominators are 10-smooth); float round()
    # semantics at ties differ across engines (Spark rounds the exact
    # binary, DuckDB a float multiply), so the rounding is done in exact
    # integer arithmetic: q6 = HALF_UP(N·10^6 / D), quality = q6 / 10^6.
    #   N/D = 0.4·m/2000 + 0.3·min(3s/n, 1) + 0.3·(1 − min(5p/c, 1))
    #   with D = 10^4·n·c
    dec = lambda col: col.cast("decimal(38,0)")
    m = dec(F.least(chars, F.lit(2000)))
    n = dec(F.greatest(F.size(toks), F.lit(1)))
    c = dec(F.greatest(chars, F.lit(1)))
    s_ = dec(stop_hits)
    p_ = dec(punct)
    num = (
        F.lit(2) * m * n * c
        + F.lit(3000) * c * F.least(F.lit(3) * s_, n)
        + F.lit(3000) * n * (c - F.least(F.lit(5) * p_, c))
    )
    den = F.lit(10000) * n * c
    # floor computed with INTEGER ops only: decimal/decimal division in Spark
    # itself rounds HALF_UP to the capped result scale (~6) before any
    # F.floor, so a quotient within ~5e-7 below an integer would floor
    # differently than DuckDB's exact HUGEINT //. Subtracting the remainder
    # first makes the division exact (no rounding can occur).
    x = num * F.lit(2_000_000) + den
    q6 = (x - F.pmod(x, F.lit(2) * den)) / (F.lit(2) * den)
    # the single-division ratios are safe to round as doubles: with n, c
    # bounded by document size their values sit ≥ 1/(2e6·n) away from any
    # .5 tie unless exactly dyadic — and both engines agree on exact ties
    return _named(
        len_score=F.round(len_score, 6),
        punct_ratio=F.round(punct_ratio, 6),
        stop_ratio=F.round(stop_ratio, 6),
        quality=q6.cast("double") / F.lit(1000000.0),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, len_score, punct_ratio, stop_ratio, quality) — see
    ``quality_score_cols``."""
    return docs.select("doc_id", *quality_score_cols().values())


def eval_in_set(col, values) -> object:
    out = F.lit(False)
    for v in values:
        out = out | (col == v)
    return out


def _in_set_pred(values):
    """Single-arg lambda factory (HOF lambdas must be unary for F.filter)."""
    return lambda x: eval_in_set(x, values)


def lang_id_cols() -> dict[str, Column]:
    """Marker-token language ID of ``text``: per-language stopword hit
    counts (hits_<lang>) over the token array and lang_pred, the argmax —
    ties broken by language code order; zero hits → 'und'. For zh (no
    whitespace tokens) the marker hit is a substring count over the raw
    text."""
    t = F.col("text")
    toks = tokenize_col(t)
    hits = {
        lang: reduce(
            operator.add,
            [F.length(t) - F.length(F.regexp_replace(t, m, ""))
             for m in markers],
        )
        if lang == "zh"
        else F.size(F.filter(toks, _in_set_pred(markers)))
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    # argmax in one pass over the hit counts: the greatest (hits, -code
    # order) struct is the first language in code order among the best
    best = F.array_max(
        F.array(*[
            F.struct(hits[lang].alias("n"), F.lit(-i).alias("o"),
                     F.lit(lang).alias("lang"))
            for i, lang in enumerate(hits)
        ])
    )
    return _named(
        **{f"hits_{lang}": c for lang, c in hits.items()},
        lang_pred=F.when(best.getField("n") > 0, best.getField("lang"))
        .otherwise(F.lit("und")),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, hits_<lang>..., lang_pred) — see ``lang_id_cols``."""
    return docs.select("doc_id", *lang_id_cols().values())


def fingerprint_cols() -> dict[str, Column]:
    """Winnowing-style document fingerprint of ``text``: the 8
    lexicographically smallest md5 hashes of word 3-gram shingles, joined —
    a stable near-dup-robust document identity — plus the full-content
    md5."""
    sh = shingles_col(F.col("text"), 3)
    hashes = F.array_sort(F.transform(sh, lambda x: F.md5(x)))
    return _named(
        content_md5=F.md5(F.col("text")),
        fingerprint=F.concat_ws("", F.slice(hashes, 1, 8)),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, content_md5, fingerprint) — see ``fingerprint_cols``."""
    return docs.select("doc_id", *fingerprint_cols().values())


# --- cross-doc line-frequency dedup (CCNet-style paragraph dedup) -----------
# A line appearing verbatim in many documents is boilerplate by evidence,
# not by pattern (the distributional complement of the regex heuristics in
# functions/strings.is_boilerplate_spark_sql). Standard web-corpus curation
# stage.


def line_doc_frequency(lines: DataFrame) -> DataFrame:
    """Per distinct normalized line: the number of DISTINCT documents it
    appears in. (doc_id, text) → (line_hash, text, doc_freq). The
    md5 groupBy key keeps the shuffle rows narrow; one map-side-combined
    aggregation."""
    t = F.trim(F.lower(F.col("text")))
    return (
        lines.select("doc_id", t.alias("norm"))
        .filter(F.col("norm") != "")
        .groupBy(F.md5(F.col("norm")).alias("line_hash"))
        .agg(
            F.min("norm").alias("text"),
            F.count_distinct("doc_id").cast("bigint").alias("doc_freq"),
        )
    )


def drop_common_lines(lines: DataFrame) -> DataFrame:
    """Remove lines whose verbatim (lowercased) text appears in >= 5
    distinct documents — evidence-based boilerplate removal. The frequency
    side is aggregated first (one row per distinct line), so the exclusion
    join is a hash/broadcast semi-anti join, never all-pairs."""
    t = F.trim(F.lower(F.col("text")))
    common = (
        line_doc_frequency(lines)
        .filter(F.col("doc_freq") >= 5)
        .select("line_hash")
    )
    return (
        lines.withColumn("__h", F.md5(t))
        .join(common, F.col("__h") == common["line_hash"], "left_anti")
        .drop("__h")
    )


# --- PII scrubbing (regex redaction, curation hygiene stage) ----------------
# Deterministic JVM-side redaction of emails / URLs / phone-like numbers —
# the standard pre-training hygiene pass. Patterns are module constants so
# the DuckDB oracle reuses them verbatim.

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\+?\d[\d\-\s]{7,}\d"


def redact_pii_cols() -> dict[str, Column]:
    """clean_text, n_urls, n_emails, n_phones of ``text``. Order
    matters and is frozen: URLs first (emails can appear inside URLs),
    then emails, then phone-like digit runs."""
    t = F.col("text")
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_RE), F.lit(0)))
    after_url = F.regexp_replace(t, URL_RE, "<URL>")
    n_emails = F.size(
        F.regexp_extract_all(after_url, F.lit(EMAIL_RE), F.lit(0))
    )
    after_email = F.regexp_replace(after_url, EMAIL_RE, "<EMAIL>")
    n_phones = F.size(
        F.regexp_extract_all(after_email, F.lit(PHONE_RE), F.lit(0))
    )
    return _named(
        clean_text=F.regexp_replace(after_email, PHONE_RE, "<PHONE>"),
        n_urls=n_urls.cast("bigint"),
        n_emails=n_emails.cast("bigint"),
        n_phones=n_phones.cast("bigint"),
    )


def redact_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, clean_text, n_urls, n_emails, n_phones) —
    see ``redact_pii_cols``."""
    return docs.select("doc_id", *redact_pii_cols().values())


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (public Rae et al. 2021 filter
    family), deterministic and SQL-twinnable:

      dup_sent_frac   1 − distinct sentences / sentences (array ops, no
                      shuffle beyond the scan)
      top_bigram_frac occurrences of the most frequent word bigram /
                      total bigrams (explode + two-level agg; map-side
                      combine keeps the shuffle narrow)

    → (doc_id, n_sents, dup_sent_frac, top_bigram_frac); docs with no
    bigrams report 0.0.
    """
    sents = F.split(
        F.regexp_replace(F.col("text"), r"([.!?]) ", "$1\x1e"), "\x1e"
    )
    base = docs.select(
        "doc_id",
        F.size(sents).cast("bigint").alias("n_sents"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(sents))
            / F.greatest(F.size(sents), F.lit(1))
        ).alias("dup_sent_frac"),
        tokenize_col(F.col("text")).alias("toks"),
    )
    # a bigram is its (w1, w2) struct: tokens hold no space, so grouping
    # on the struct equals grouping on the " "-joined string
    grams = base.select(
        "doc_id", F.explode(_gram_structs(F.col("toks"), 2)).alias("bg")
    )
    per_gram = grams.groupBy("doc_id", "bg").agg(
        F.count("*").alias("n")
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.max("n").alias("top_n"), F.sum("n").alias("total")
    )
    return (
        base.select("doc_id", "n_sents", F.round("dup_sent_frac", 6).alias(
            "dup_sent_frac"
        ))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_sents",
            "dup_sent_frac",
            F.round(
                F.coalesce(
                    F.col("top_n") / F.greatest(F.col("total"), F.lit(1)),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_bigram_frac"),
        )
    )


def corpus_length_stats(docs: DataFrame) -> DataFrame:
    """Per-``source`` corpus shape summary: (stratum, n_docs, mean_tokens,
    p50_tokens, p95_tokens) with EXACT interpolated percentiles.

    Exact ``percentile`` sorts per group — fine because cardinality here is
    per-STRATUM (each group's values fit an executor); for percentiles over
    a column with huge groups use ``approx_percentile`` (t-digest, one pass,
    mergeable) and accept the approximation — the oracle-able exact variant
    is what the driver compares."""
    toks = docs.select(
        F.col("source").alias("stratum"),
        F.size(tokenize_col(F.col("text"))).cast("bigint").alias("t"),
    )
    return toks.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("t"), 6).alias("mean_tokens"),
        F.round(F.percentile("t", F.lit(0.5)), 6).alias("p50_tokens"),
        F.round(F.percentile("t", F.lit(0.95)), 6).alias("p95_tokens"),
    )


def vocab_topk(docs: DataFrame, k: int = 1000) -> DataFrame:
    """Corpus vocabulary induction: the k most frequent whitespace tokens
    with their counts — (term, n), ordered by (n desc, term) with a
    deterministic tiebreak. The seed step for stopword lists, wordpiece
    vocabularies, and drift monitoring.

    Shape: explode -> two-level count aggregate (map-side partial combine
    reduces the shuffle to one row per distinct term per partition) ->
    TakeOrderedAndProject for the top-k (per-partition heaps; the full
    vocabulary is never sorted or collected)."""
    toks = docs.select(
        F.explode(tokenize_col(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.orderBy(F.desc("n"), F.asc("term"))
        .limit(k)
    )


def drop_bottom_percentile(docs: DataFrame, frac: float) -> DataFrame:
    """Per-``source`` quality gate: drop (about) the bottom ``frac`` of each
    stratum by ``quality`` — the CCNet/Gopher-style "keep the best X%"
    filter, done as a threshold rule so it stays scan-shaped at corpus
    scale.

    Exact semantics (deterministic, tie-stable): a row survives iff its
    score >= t_s, where t_s is the smallest score in stratum s whose
    inclusive cumulative count exceeds floor-free ``cum * 1e6 > n *
    round(frac*1e6)`` — i.e. the nearest-rank percentile value. All ties AT
    the threshold survive, so at most ``frac`` of the stratum is dropped.
    No floating-point thresholds anywhere: the comparison is pure bigint,
    so the DuckDB oracle matches bit-for-bit.

    Absence-of-evidence convention (the funnel-wide rule): a row whose
    stratum has NO threshold row passes un-gated rather than vanishing —
    that covers NULL strata (joined null-safely, so they gate against
    their own histogram group like any other stratum), strata whose scores
    are all NULL (min over NULLs yields no threshold), and the degenerate
    ``frac >= 1.0`` (the strict rank inequality admits no threshold, so
    everything passes; use frac just below 1 to keep only the top ties).
    Rows with a NULL score still drop whenever their stratum has a real
    threshold (NULL >= t is never true) — a score that failed to compute
    is bottom-of-stratum by definition.

    Shape: one (stratum, score) histogram aggregate (map-side combined —
    the shuffle carries one row per distinct score per stratum), a window
    over that TINY frame, and a broadcast join of one threshold row per
    stratum back onto the corpus. The corpus itself is never shuffled."""
    from pyspark.sql import Window

    frac_micro = int(round(float(frac) * 1_000_000))
    hist = docs.groupBy(
        F.col("source").alias("__st"), F.col("quality").alias("__sc")
    ).agg(F.count(F.lit(1)).alias("__c"))
    w_cum = (
        Window.partitionBy("__st")
        .orderBy("__sc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("__st")
    cum = hist.select(
        "__st",
        "__sc",
        F.sum("__c").over(w_cum).alias("__cum"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    thr = (
        cum.filter(
            F.col("__cum") * F.lit(1_000_000)
            > F.col("__n") * F.lit(frac_micro)
        )
        .groupBy("__st")
        .agg(F.min("__sc").alias("__thr"))
    )
    return (
        docs.join(
            F.broadcast(thr),
            docs["source"].eqNullSafe(thr["__st"]),
            "left",
        )
        .filter(
            F.col("__thr").isNull() | (F.col("quality") >= F.col("__thr"))
        )
        .select(*docs.columns)
    )


def bigram_transition_score(docs: DataFrame) -> DataFrame:
    """Corpus-LM fluency scoring — the deterministic, oracle-exact analog of
    CCNet's KenLM perplexity filter: train an add-one-smoothed bigram model
    on the corpus itself and score each document by its mean transition
    probability

        P(w2 | w1) = (B(w1,w2) + 1) / (C(w1) + V)

    with B the corpus bigram count, C(w1) = sum_w B(w1,w) the context
    count, and V the corpus vocabulary size. Output: (doc_id, n_bigrams,
    lm_score) for every document with >= 1 bigram; lm_score = the mean P
    rounded to 6 digits. Low scores mark gibberish / boilerplate-soup
    documents exactly as a perplexity threshold would (a production
    deployment swaps in a broadcast KenLM binary scored in a pandas_udf —
    same output contract).

    All rounding is exact-integer (HALF_UP in decimal(38,0): each P is
    rounded to 9 digits, the per-doc mean to 6 — both reproduced verbatim
    in the DuckDB oracle), because float round ties are engine-dependent.

    Shape: bigrams are built SCAN-SIDE with zero shuffles (the
    ``_gram_structs`` of the dedup ``_tokens`` array + one explode — no
    per-doc window), then pre-aggregated per (doc, w1, w2) so the model
    join moves one row per distinct bigram per doc; B and C are two-level
    count aggregates; V is a 1-row broadcast. The (w1, w2) model join is
    the inherently token-shaped part — common bigrams are hot keys; AQE's
    skew-join split handles them (count frames are byte-heavy per key,
    unlike the CPU-skew joins that needed manual salting)."""
    base = _tokens(docs, "text")
    bg = (
        base.select(
            "doc_id", F.explode(_gram_structs(F.col("__tk"), 2)).alias("__p")
        ).select(
            "doc_id",
            F.col("__p").getField("0").alias("w1"),
            F.col("__p").getField("1").alias("w2"),
        )
    )
    # NOTE(round-7): a pin here (the model branch and the score join both
    # read bgm) was measured and REVERTED — interleaved A/B 1.55 vs 1.64 s
    # at sf0.1: the materialization round-trip of the per-doc bigram frame
    # costs what the duplicated agg recompute costs, and at scale the
    # stored frame is corpus-sized
    bgm = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    b_counts = bgm.groupBy("w1", "w2").agg(F.sum("m").alias("b"))
    c_counts = b_counts.groupBy("w1").agg(F.sum("b").alias("c"))
    vocab = base.select(F.explode("__tk").alias("tok")).agg(
        F.count_distinct(F.col("tok")).alias("v")
    )

    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    den = dec(F.col("c") + F.col("v"))
    x = dec(F.col("b") + F.lit(1)) * F.lit(2_000_000_000) + den
    p9 = (x - F.pmod(x, F.lit(2) * den)) / (F.lit(2) * den)

    scored = (
        bgm.join(b_counts, ["w1", "w2"])
        .join(c_counts, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "m",
            p9.cast("decimal(38,0)").alias("__p9"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(dec(F.col("m")) * F.col("__p9")).alias("__sp9"),
        F.sum("m").alias("n_bigrams"),
    )
    den2 = dec(F.col("n_bigrams")) * F.lit(1000)
    x2 = F.col("__sp9").cast("decimal(38,0)") * F.lit(2) + den2
    q6 = (x2 - F.pmod(x2, F.lit(2) * den2)) / (F.lit(2) * den2)
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        (q6.cast("double") / F.lit(1_000_000.0)).alias("lm_score"),
    )
