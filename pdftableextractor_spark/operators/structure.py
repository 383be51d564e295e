"""Structuring stage: extracted spans → uniform data-point rows + commentary.

Deterministic re-expression of the reference's LLM-assisted structuring
(SURVEY.md §2.4/§2.9): every LLM call becomes a frozen rule, every sequential
Python loop becomes either a window expression or a per-document Arrow kernel.

Operators:

- ``table_points``      X2: header-row inference + cell pairing → rows
                        (structured_llm_processor.py:74-122 made deterministic)
- ``kv_points``         X3: key-value normalization → rows
                        (structured_llm_processor.py:124-169)
- ``text_fact_points``  X4: regex fact extraction ($, %, dates) from text
                        (structured_llm_processor.py:171-245 /
                         static/visualization.js:352)
- ``all_data_points``   U1: union of the three sources, in reference order
                        (tables, then kv, then text facts — app.py:256-332)
- ``dedup_first_wins``  A6: order-sensitive dedup by (field, value)
                        (structured_llm_processor.py:481-488)
- ``chunk_lines``       A7: sentence-aware chunk ids over ordered lines
                        (structured_llm_processor.py:50-72) — per-doc kernel
- ``lexical_commentary``J5: the lexical theta-join scorer, fully JVM-side
                        (app.py:81-156; scores 10/7/2, threshold ≥7,
                         context −1/+3, sentence-aware truncation)
- ``unmatched_paragraphs`` J7+A8: gaps-and-islands sessionization of lines
                        not consumed by commentary (app.py:178-238)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdftableextractor_spark.functions.strings import (
    NUMERIC_FRAGMENT_RE,
    match_clean_col,
)

# ---------------------------------------------------------------------------
# X2 — table structuring: header inference + cell pairing
# ---------------------------------------------------------------------------


def table_points(cells: DataFrame) -> DataFrame:
    """table_cell spans → data-point rows.

    Input: (doc_id, offset, row_idx, col_idx, text) cell rows.
    Rule (frozen): row 0 is the header row; for every data row r>0 the field
    is '<row label>_<column header>' (row label = column-0 cell, '_' for
    spaces) and the value is the cell text; empty values are dropped —
    the deterministic analog of the reference's per-table LLM structuring
    (structured_llm_processor.py:74-122) with P3's empty/error filtering.
    """
    # header/label pairing via two windows over ONE scan of the cells frame
    # (the join formulation scanned cells three times and shuffled twice per
    # join — at the 100 TB design point the cells frame is the widest
    # intermediate in the job). max() over the singleton header/label cell
    # is exact: a dense grid has exactly one row-0 cell per column and one
    # col-0 cell per row; the not-null filters reproduce the old inner-join
    # behavior on malformed (non-dense) input.
    w_col = Window.partitionBy("doc_id", "offset", "col_idx")
    w_row = Window.partitionBy("doc_id", "offset", "row_idx")
    paired = cells.withColumn(
        "header",
        F.max(F.when(F.col("row_idx") == 0, F.col("text"))).over(w_col),
    ).withColumn(
        "label",
        F.max(F.when(F.col("col_idx") == 0, F.col("text"))).over(w_row),
    )
    return (
        paired.filter((F.col("row_idx") > 0) & (F.col("col_idx") > 0))
        .filter(F.col("header").isNotNull() & F.col("label").isNotNull())
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            "offset",
            (F.col("row_idx") * 1000 + F.col("col_idx")).cast("int").alias("seq"),
            F.lit("table").alias("source"),
            F.lit("Table Data").alias("type"),
            F.concat_ws(
                "_",
                F.regexp_replace(F.col("label"), r"\s+", "_"),
                F.regexp_replace(F.col("header"), r"\s+", "_"),
            ).alias("field"),
            F.col("text").alias("value"),
            # span-model analog of Textract's per-table page attribute
            # (app.py:262): the table span's document offset; every other
            # source carries the reference's literal 'N/A'
            F.col("offset").cast("string").alias("page"),
        )
    )


def kv_points(kv: DataFrame) -> DataFrame:
    """kv spans (doc_id, offset, text='key: value') → data-point rows with
    empty values dropped (P3 at app.py:284)."""
    parts = F.split(F.col("text"), ": ", 2)
    return (
        kv.select(
            "doc_id",
            "offset",
            F.lit(0).cast("int").alias("seq"),
            F.lit("key_value").alias("source"),
            F.lit("Structured Data").alias("type"),
            F.trim(F.get(parts, 0)).alias("field"),
            F.trim(F.coalesce(F.get(parts, 1), F.lit(""))).alias("value"),
            F.lit("N/A").alias("page"),
        )
        .filter((F.col("field") != "") & (F.col("value") != ""))
        .filter(F.lower(F.col("field")) != "error")
    )


# fact patterns: currency, percentage, ISO-ish dates (visualization.js:352)
FACT_PATTERNS = {
    "currency_amount": r"\$[\d,]+(?:\.\d+)?(?:\s*(?:million|billion))?",
    "percentage": r"\d+(?:\.\d+)?%",
    "date": r"\b\d{4}-\d{2}-\d{2}\b",
}


def text_fact_points(lines: DataFrame) -> DataFrame:
    """text spans (doc_id, offset, text) → one row per extracted fact.

    Deterministic analog of the chunk-tabulation LLM call (X4): regex
    extraction of currency/percent/date facts. Single pass: all patterns
    extract into one concatenated struct array exploded once (a per-pattern
    union would recompute the upstream lines lineage — the full extraction —
    once per pattern)."""

    def _matches(name, pat):
        return F.transform(
            F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)),
            lambda v, i: F.struct(
                i.cast("int").alias("seq"),
                F.lit(name).alias("field"),
                v.alias("value"),
            ),
        )

    all_facts = F.concat(
        *[_matches(name, pat) for name, pat in FACT_PATTERNS.items()]
    )
    return (
        lines.select(
            "doc_id", "offset", F.explode_outer(all_facts).alias("f")
        )
        .filter(F.col("f").isNotNull())
        .select(
            "doc_id",
            "offset",
            F.col("f.seq").alias("seq"),
            F.lit("text_fact").alias("source"),
            # the reference marks a text-chunk fact 'Footnote' only when the
            # LLM key contains 'footnote' (app.py:305); the deterministic
            # fact fields (currency/percentage/date) never do
            F.lit("Financial Data").alias("type"),
            F.col("f.field").alias("field"),
            F.col("f.value").alias("value"),
            F.lit("N/A").alias("page"),
        )
    )


def footnote_points(footnotes: DataFrame) -> DataFrame:
    """Standalone footnote rows (app.py:320-335): every detected footnote
    becomes a data point with the marker verbatim in the field, the raw
    stripped line as the value, and its raw line number as the default
    commentary (overwritten downstream when the lexical join finds a better
    context, app.py:341-344).

    footnotes: (doc_id, line_no, marker, content) from extract_frames.
    """
    return footnotes.select(
        "doc_id",
        F.col("line_no").cast("int").alias("offset"),
        F.lit(0).cast("int").alias("seq"),
        F.lit("document_footnotes").alias("source"),
        F.lit("Footnote").alias("type"),
        F.concat(F.lit("Footnote "), F.col("marker")).alias("field"),
        F.col("content").alias("value"),
        F.lit("N/A").alias("page"),
        F.concat(F.lit("Line "), F.col("line_no").cast("string")).alias(
            "commentary_default"
        ),
    )


def general_commentary_points(paras: DataFrame) -> DataFrame:
    """Unmatched-text rows (app.py:345-364): each leftover paragraph becomes
    'Text Segment {n}' with the >400-char sentence-aware summarize/truncate
    rule applied to the displayed value (the deterministic analog of
    summarize_commentary, app.py:42-80 — SURVEY §2.9 X6) and the reference's
    fixed commentary literal.

    paras: (doc_id, para_no, paragraph) from unmatched_paragraphs.
    """
    return paras.select(
        "doc_id",
        F.col("para_no").cast("int").alias("offset"),
        F.lit(0).cast("int").alias("seq"),
        F.lit("document_text").alias("source"),
        F.lit("General Commentary").alias("type"),
        F.concat(
            F.lit("Text Segment "), (F.col("para_no") + 1).cast("string")
        ).alias("field"),
        _truncate_sentences_col(F.col("paragraph"), 400, 350).alias("value"),
        F.lit("N/A").alias("page"),
        F.lit("Unmatched document content").alias("commentary"),
    )


def all_data_points(
    tables: DataFrame,
    kvs: DataFrame,
    facts: DataFrame,
    footnotes: DataFrame | None = None,
) -> DataFrame:
    """U1: tables, then key-values, then text facts, then standalone
    footnotes — the reference's assembly order (app.py:256-335), encoded in
    src_rank so downstream first-wins dedup reproduces it. The fifth source
    (unmatched-text General Commentary rows) joins AFTER commentary
    enrichment, mirroring app.py:345-364 — see jobs/structure.py."""
    t = tables.withColumn("src_rank", F.lit(0))
    k = kvs.withColumn("src_rank", F.lit(1))
    x = facts.withColumn("src_rank", F.lit(2))
    out = t.unionByName(k).unionByName(x)
    if footnotes is not None:
        out = out.unionByName(
            footnotes.drop("commentary_default").withColumn(
                "src_rank", F.lit(3)
            )
        )
    return out


def dedup_first_wins(points: DataFrame) -> DataFrame:
    """A6: keep the first occurrence per (doc_id, field, value) in assembly
    order — dropDuplicates would be order-unstable, so this is a window
    (structured_llm_processor.py:481-488 'seen_data' semantics).

    Shuffle shape: partitioned by doc_id ONLY, sorted by (field, value,
    src_rank, offset, seq); a row wins iff it starts a (field, value) run.
    Equivalent to a row_number window partitioned by (doc_id, field, value)
    but exchanges on the same key as every downstream per-doc window
    (point_id, commentary), so the whole points path shares ONE shuffle."""
    w = Window.partitionBy("doc_id").orderBy(
        "field", "value", "src_rank", "offset", "seq"
    )
    # null-safe on purpose: a bare lag(...).isNull() would conflate "first
    # row in partition" with "previous field is NULL", and != yields NULL
    # (not true) when either side is NULL — a null field/value row would
    # silently corrupt the dedup. Per-COLUMN eqNullSafe lags plus a
    # lag(lit(1)) partition-start sentinel: a lagged STRUCT here measured
    # +40% on the whole structure_points query (5.9 s vs 4.2 s at sf0.1 —
    # per-row struct allocation in the window), primitive lags are free.
    first = (
        F.lag(F.lit(1)).over(w).isNull()  # partition start, null-proof
        | ~(
            F.col("field").eqNullSafe(F.lag("field").over(w))
            & F.col("value").eqNullSafe(F.lag("value").over(w))
        )
    )
    return (
        points.withColumn("__first", first)
        .filter(F.col("__first"))
        .drop("__first")
    )


def pick_commentary_salt(docs: DataFrame) -> int:
    """``unified_data_points``' commentary salt for ``docs`` (one narrow
    scan): 8 if span counts are heavy-tailed (max > 20 × median; quadratic
    per-doc pair work concentrates in a few giant docs), else 1 (the xsalt
    line duplication is a measured loss); an empty input's null max is 1."""
    stats = docs.select(F.size("spans").alias("n")).agg(
        F.max("n").alias("mx"),
        F.expr("percentile_approx(n, 0.5)").alias("md"),
    ).collect()[0]
    return 8 if (stats["mx"] or 0) > 20 * max(stats["md"] or 1, 1) else 1


def unified_data_points(frames: dict, commentary_salt: int = 1) -> DataFrame:
    """The reference's COMPLETE df_data assembly (app.py:240-364), one
    DataFrame: 4-source union (tables, kv, text facts, footnotes) →
    first-wins dedup → per-doc point_id in assembly order → lexical
    commentary enrichment (match wins; footnote rows fall back to their
    'Line {n}' default, app.py:341-344; else '') → unmatched-text General
    Commentary rows appended (src_rank 4) → final point_id.

    frames: the extract_frames dict. Returns (doc_id, point_id, source,
    type, field, value, page, raw_data, commentary, has_commentary, score,
    matched_line) — raw_data is the reference's literal
    ``f"{field}: {value}"`` match key
    (structured_llm_processor.py:405,420,435, consumed at :450) and
    has_commentary its per-row found-a-lexical-match flag
    (structured_llm_processor.py:466; app.py:427,451,467,486,504,520 set it
    False on every non-matched path, which matched_line IS NULL reproduces
    for footnote-default and General Commentary rows)."""
    pts = dedup_first_wins(
        all_data_points(
            table_points(frames["cells"]),
            kv_points(frames["kvs"]),
            text_fact_points(
                frames["lines"].select(
                    "doc_id", F.col("line_no").alias("offset"), "text"
                )
            ),
            footnote_points(frames["footnotes"]),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        "src_rank", "offset", "seq", "field", "value"
    )
    pts = pts.withColumn("point_id", (F.row_number().over(w) - 1).cast("int"))
    com = lexical_commentary(
        pts.select("doc_id", "point_id", "field", "value"),
        frames["lines"],
        salt=commentary_salt,
    )
    enriched = pts.join(
        com.withColumnRenamed("line_no", "matched_line"),
        ["doc_id", "point_id"],
        "left",
    ).withColumn(
        "commentary",
        F.coalesce(
            F.col("commentary"),
            F.when(
                F.col("src_rank") == 3,
                F.concat(F.lit("Line "), F.col("offset").cast("string")),
            ),
            F.lit(""),
        ),
    )
    general = general_commentary_points(
        unmatched_paragraphs(frames["lines"], com.select("doc_id", "line_no"))
    ).select(
        "doc_id",
        "offset",
        "seq",
        "source",
        "type",
        "field",
        "value",
        "page",
        F.lit(4).alias("src_rank"),
        F.lit(None).cast("int").alias("point_id"),
        F.lit(None).cast("int").alias("matched_line"),
        "commentary",
        F.lit(None).cast("int").alias("score"),
    )
    unified = enriched.select(*general.columns).unionByName(general)
    w_final = Window.partitionBy("doc_id").orderBy(
        "src_rank", "offset", "seq", "field", "value"
    )
    return unified.select(
        "doc_id",
        (F.row_number().over(w_final) - 1).cast("int").alias("point_id"),
        "source",
        "type",
        "field",
        "value",
        "page",
        # the reference's General Commentary dict (app.py:420-428) carries NO
        # raw_data key — only the LLM-path rows build the "{field}: {value}"
        # match key (structured_llm_processor.py:405,420,435) — so src_rank 4
        # rows emit NULL, matching the reference frame's NaN for that column
        F.when(
            F.col("src_rank") == 4, F.lit(None).cast("string")
        )
        .otherwise(F.concat(F.col("field"), F.lit(": "), F.col("value")))
        .alias("raw_data"),
        "commentary",
        F.col("matched_line").isNotNull().alias("has_commentary"),
        "score",
        "matched_line",
    )


# ---------------------------------------------------------------------------
# A7 — sentence-aware chunker (sequential per doc → Arrow kernel)
# ---------------------------------------------------------------------------

CHUNK_OUT_SCHEMA = "doc_id string, line_no int, text string, chunk_id int"


def _chunk_kernel(max_lines: int):
    def kernel(key, pdf):
        pdf = pdf.sort_values("line_no").reset_index(drop=True)
        chunk_ids, cid, cur = [], 0, 0
        for text in pdf["text"]:
            cur += 1
            chunk_ids.append(cid)
            boundary = text.strip().endswith((".", "!", "?", ":"))
            if cur >= max_lines and (boundary or cur >= max_lines + 5):
                cid += 1
                cur = 0
        pdf["chunk_id"] = pd.Series(chunk_ids, dtype="int32")
        return pdf[["doc_id", "line_no", "text", "chunk_id"]]

    return kernel


def chunk_lines(lines: DataFrame, max_lines: int = 25) -> DataFrame:
    """A7: assign chunk ids to ordered lines, breaking at sentence
    boundaries once max_lines is reached, force-breaking at max_lines+5
    (structured_llm_processor.py:50-72). Inherently sequential per doc →
    applyInPandas per doc_id; docs are small, parallelism is across docs."""
    return lines.select("doc_id", "line_no", "text").groupBy("doc_id").applyInPandas(
        _chunk_kernel(max_lines), schema=CHUNK_OUT_SCHEMA
    )


# ---------------------------------------------------------------------------
# J5 — lexical commentary theta-join (fully JVM-side)
# ---------------------------------------------------------------------------

# the app.py:81-156 variant of marker cleaning: superscripts/(d)/[d]/*+
# stripped, whitespace collapsed — but NO standalone-number rule.
def _clean_markers_col(col):
    c = F.regexp_replace(col, "[⁰¹²³⁴⁵⁶⁷⁸⁹]+", "")
    c = F.regexp_replace(c, r"\(\d+\)", "")
    c = F.regexp_replace(c, r"\[\d+\]", "")
    c = F.regexp_replace(c, r"\*+", "")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def lexical_commentary(
    points: DataFrame, lines: DataFrame, salt: int = 1
) -> DataFrame:
    """Score every (data point × same-doc line) pair and keep the argmax
    context per point (app.py:81-156):

      +10  cleaned value (len>2) is a substring of the cleaned line
      +7   per numeric fragment of the value (len>1) found in the line
      +2   per field word (len>2) found in the raw lower line
      keep score >= 7; context = lines[i-1 .. i+2] joined, marker-cleaned;
      >400 chars → accumulate whole sentences while < 350, else [:400]+'...'

    Scale shape (profiled at 10k heavy-tailed docs): the per-doc pair work
    is quadratic, so a plain doc_id equi-join makes every heavy document ONE
    straggler task. Two structural fixes, both semantics-free:
      * the join key is (doc_id, point_id % salt) with the line side
        exploded over the salt range — a heavy doc's points spread over
        ``salt`` tasks (the byte-size-based AQE skew split never fires on
        these CPU-heavy but byte-small groups). Salting is a measured LOSS
        on uniform corpora (+56% at sf0.1: the ×salt line duplication buys
        nothing) and a 25% win on heavy-tailed ones — default 1 (off);
        jobs/structure.py auto-enables from doc-size skew;
      * the per-point argmax is a hash aggregation (max_by over the
        (score, −line_no) order key) instead of a rank window — partial
        aggregation combines map-side, so the shuffle carries one row per
        (point, partial) instead of every scored pair.

    points: (doc_id, point_id, field, value); lines: (doc_id, line_no, text)
    → (doc_id, point_id, commentary, score)
    """
    # salted path: the fat context strings stay OUT of the quadratic join
    # (scoring needs only the single-line lower/clean columns; ×salt
    # duplication of contexts OOMs small heaps) — the −1/+2 context window
    # becomes a separate slim frame joined back for WINNING points only.
    # Unsalted path: no duplication risk, so context rides the join and the
    # join-back (one extra pass over the lines lineage) is skipped.
    # MEASURED (round 3, bench.py --structure-scaling, 10k docs, warm): the
    # late-materialize-everywhere variant is a LOSS — local[16] 74.2 s →
    # 92.4 s and 4v16 strong efficiency 0.723 → 0.571; the extra lines pass
    # + winner join-back cost more than the inline context bytes save. The
    # remaining sub-0.8 strong scaling is the HOST's DRAM ceiling, proven by
    # weak scaling: constant bytes/core (2.5k docs @4 cores vs 10k @16) runs
    # 0.73 — same as strong — so there is no serial section to remove
    # (BENCH/BASELINE.md round-3 table).
    w_ctx = Window.partitionBy("doc_id").orderBy("line_no").rowsBetween(-1, 2)
    ctx_col = _clean_markers_col(
        F.array_join(F.collect_list("text").over(w_ctx), " ")
    )
    ln_cols = [
        F.col("doc_id"),
        F.col("line_no"),
        F.lower(F.col("text")).alias("line_lower"),
        _clean_markers_col(F.lower(F.col("text"))).alias("line_clean"),
    ]
    if salt == 1:
        ln = lines.select(*ln_cols, ctx_col.alias("context")).withColumn(
            "__salt", F.lit(0)
        )
        ln_ctx = None
    else:
        ln_ctx = lines.select(
            "doc_id", "line_no", ctx_col.alias("context")
        )
        ln = lines.select(*ln_cols).withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
    pt = points.select(
        "doc_id",
        "point_id",
        F.pmod(F.col("point_id"), F.lit(salt)).alias("__salt"),
        F.filter(
            F.split(F.regexp_replace(F.lower(F.col("field")), "_", " "), " "),
            lambda x: F.length(x) > 2,
        ).alias("field_words"),
        match_clean_col(F.col("value")).alias("value_clean"),
        F.filter(
            F.regexp_extract_all(
                match_clean_col(F.col("value")),
                F.lit(NUMERIC_FRAGMENT_RE),
                F.lit(0),
            ),
            lambda x: F.length(x) > 1,
        ).alias("nums"),
    )
    j = pt.join(ln, ["doc_id", "__salt"])
    score = (
        F.when(
            (F.length("value_clean") > 2)
            & F.col("line_clean").contains(F.col("value_clean")),
            F.lit(10),
        ).otherwise(F.lit(0))
        + F.lit(7)
        * F.size(F.filter("nums", lambda n: F.col("line_clean").contains(n)))
        + F.lit(2)
        * F.size(
            F.filter("field_words", lambda w: F.col("line_lower").contains(w))
        )
    )
    scored = j.withColumn("score", score).filter(F.col("score") >= 7)
    order_key = F.struct(
        F.col("score").alias("s"), (-F.col("line_no")).alias("neg")
    )
    if ln_ctx is None:
        best = (
            scored.groupBy("doc_id", "point_id")
            .agg(
                F.max_by(
                    F.struct("line_no", "score", "context"), order_key
                ).alias("b")
            )
            .select(
                "doc_id",
                "point_id",
                F.col("b.line_no").alias("line_no"),
                F.col("b.score").alias("score"),
                F.col("b.context").alias("context"),
            )
        )
    else:
        best = (
            scored.groupBy("doc_id", "point_id")
            .agg(F.max_by(F.struct("line_no", "score"), order_key).alias("b"))
            .select(
                "doc_id",
                "point_id",
                F.col("b.line_no").alias("line_no"),
                F.col("b.score").alias("score"),
            )
            .join(ln_ctx, ["doc_id", "line_no"])
        )
    return best.select(
        "doc_id",
        "point_id",
        "line_no",
        _truncate_sentences_col(F.col("context"), 400, 350).alias("commentary"),
        "score",
    )


def _truncate_sentences_col(col, trigger: int, budget: int):
    """O5: if len(text) > trigger, accumulate whole sentences while the
    running length stays < budget; if nothing fits, hard cut at trigger with
    '...' (app.py:139-152).

    Prefix-scan formulation (q16's oracle models the same shape): the one
    sequential dependency — "how many leading sentences fit" — is an
    aggregate() over the trimmed LENGTHS with two int ops per element; the
    string assembly is codegen slice + array_join over that count. The old
    form rebuilt the accumulated STRING inside the interpreted lambda —
    O(total_len) work per element (quadratic per value); this one is O(1)
    ints per element, strings touched once."""
    sentences = F.split(
        F.regexp_replace(F.regexp_replace(col, "!", "."), r"\?", "."), r"\."
    )
    trimmed = F.transform(sentences, lambda s: F.trim(s))
    lens = F.transform(trimmed, lambda s: F.length(s))
    # n = number of leading sentences appended before the sticky stop;
    # cum tracks len(acc) = Σ(len_j + 2) over appended sentences (the
    # '. ' separator is 2 chars). Stop at empty-trim or cum + len >= budget.
    st = F.aggregate(
        lens,
        F.struct(
            F.lit(0).alias("cum"), F.lit(0).alias("n"), F.lit(False).alias("stop")
        ),
        lambda a, l: F.when(
            a["stop"] | (l == 0) | (a["cum"] + l >= budget),
            F.struct(a["cum"].alias("cum"), a["n"].alias("n"),
                     F.lit(True).alias("stop")),
        ).otherwise(
            F.struct(
                (a["cum"] + l + F.lit(2)).alias("cum"),
                (a["n"] + 1).alias("n"),
                F.lit(False).alias("stop"),
            )
        ),
    )
    body = F.array_join(F.slice(trimmed, 1, st["n"]), ". ")
    return F.when(F.length(col) <= trigger, col).otherwise(
        F.when(st["n"] > 0, F.concat(body, F.lit("."))).otherwise(
            F.concat(F.substring(col, 1, trigger), F.lit("..."))
        )
    )


# ---------------------------------------------------------------------------
# J7 + A8 — unmatched-text sessionization (gaps-and-islands, pure SQL)
# ---------------------------------------------------------------------------


def unmatched_paragraphs(lines: DataFrame, used_lines: DataFrame) -> DataFrame:
    """Lines not consumed by commentary (±1 context, app.py:186-190) are
    sessionized into paragraphs: consecutive unused lines longer than 15
    characters (trimmed) form an island; islands are kept when the joined
    text exceeds 50 characters, at most 3 per doc (app.py:192-238).

    used_lines: (doc_id, line_no) — the anti-join side; context expansion to
    ±1 happens here via sequence+explode (W3)."""
    used_ctx = used_lines.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("line_no") - 1, F.col("line_no") + 1)
        ).alias("line_no"),
    ).distinct()
    avail = lines.join(used_ctx, ["doc_id", "line_no"], "left_anti")

    w = Window.partitionBy("doc_id").orderBy("line_no")
    flagged = lines.join(
        avail.select("doc_id", "line_no", F.lit(1).alias("ok")),
        ["doc_id", "line_no"],
        "left",
    ).withColumn(
        "usable",
        (F.col("ok") == 1) & (F.length(F.trim("text")) > 15),
    )
    islands = (
        flagged.withColumn(
            "brk", F.when(F.col("usable"), F.lit(0)).otherwise(F.lit(1))
        )
        .withColumn("island", F.sum("brk").over(w))
        .filter(F.col("usable"))
    )
    paras = (
        islands.groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("line_no", F.trim("text").alias("t")))
                ).getField("t"),
                " ",
            ).alias("paragraph"),
            F.min("line_no").alias("first_line"),
        )
        .filter(F.length("paragraph") > 50)
    )
    w_rank = Window.partitionBy("doc_id").orderBy("first_line")
    return (
        paras.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            (F.col("rank") - 1).cast("int").alias("para_no"),
            _truncate_sentences_col(F.col("paragraph"), 500, 450).alias(
                "paragraph"
            ),
        )
    )
