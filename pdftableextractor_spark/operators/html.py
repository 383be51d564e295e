"""HTML main-content extraction: DOM tag/density heuristics, distributed.

The north-star asks for "HTML boilerplate strip ... via DOM tag/density
heuristics" (the reference's span cleanup is the line-level analog in
`functions/strings.is_boilerplate_spark_sql`). This module is the real,
document-level version over RAW HTML: block segmentation on block-level
tags, tag strip + entity decode, and the published Kohlschütter et al.
(WSDM 2010) "densometric" NumWords/LinkDensity decision-tree classifier
— the boilerpipe default — deciding content vs boilerplate per block
from the current, previous, and next blocks' features.

Everything is JVM-side whole-stage codegen: regexps, higher-order array
functions, and one per-document window for the prev/next features (a
window bounded by document size, never corpus-wide). Decision
thresholds are the paper's rationals (1/3 and 5/9) compared in EXACT
integer arithmetic (3·lc ≤ ch, 9·lc ≤ 5·ch), so the DuckDB oracle
matches bit-for-bit and no float boundary can flip a block.

Scale shape (100 TB): a narrow map (split + per-block features) and a
doc-partitioned window — no join, no corpus-scale shuffle beyond the
doc_id hash partitioning the window needs; skew = one pathological
document, bounded by max blocks per doc, not by corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# non-content elements whose INNER TEXT must never reach the classifier:
# script/style bodies are code, not prose (word-rich JS would otherwise
# classify as content), and comments are invisible. Stripped BEFORE block
# segmentation. Written without backreferences so the DuckDB (RE2) oracle
# can run the identical pattern; an unterminated <script>/<style> (no
# closing tag) is left in place — a malformed-input degrade, not silent
# data loss
NOISE_RE = (
    r"(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>"
    r"|<!--.*?-->"
)

# block-level boundaries: opening OR closing forms of the structural
# tags; everything between two boundaries is one candidate text block
BLOCK_SPLIT_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|nav|footer|header|article|section"
    r"|table|tr|td|th|blockquote|br)\b[^>]*>"
)
TAG_RE = r"<[^>]+>"
# anchor inner HTML (group 1); dotall so links spanning newlines count
LINK_RE = r"(?is)<a\b[^>]*>(.*?)</a>"

# minimal entity set; '&amp;' must decode LAST or '&amp;lt;' would
# double-decode into '<'
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def _decode_entities(c: Column) -> Column:
    for pat, rep in _ENTITIES:
        c = F.replace(c, F.lit(pat), F.lit(rep))
    return c


def strip_html_col(c: Column) -> Column:
    """Visible text of an HTML fragment: tags → space (so adjacent
    elements don't weld words together), entity decode, whitespace
    collapse, trim."""
    return F.trim(
        F.regexp_replace(
            _decode_entities(F.regexp_replace(c, TAG_RE, " ")),
            r"\s+",
            " ",
        )
    )


def _word_count(stripped: Column) -> Column:
    # stripped is single-spaced; '' splits to [''] which filters to 0
    return F.size(F.filter(F.split(stripped, " "), lambda x: x != ""))


def html_blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, html) → (doc_id, block_no, text, n_words, chars,
    link_chars) — one row per non-empty text block. ``link_chars`` sums
    the stripped lengths of the block's anchor texts (each normalized by
    the SAME pipeline as the block, so the density ratio is
    apples-to-apples)."""
    seg = F.col("__seg")
    stripped = strip_html_col(seg)
    link_chars = F.aggregate(
        F.transform(
            F.regexp_extract_all(seg, F.lit(LINK_RE), F.lit(1)),
            lambda s: F.length(strip_html_col(s)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("doc_id").orderBy("__pos")
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.split(
                    F.regexp_replace(F.col("html"), NOISE_RE, " "),
                    BLOCK_SPLIT_RE,
                )
            ).alias("__pos", "__seg"),
        )
        .select(
            "doc_id",
            F.col("__pos"),
            stripped.alias("text"),
            _word_count(stripped).alias("n_words"),
            F.length(stripped).alias("chars"),
            link_chars.alias("link_chars"),
        )
        .filter(F.col("text") != "")
        .select(
            "doc_id",
            (F.row_number().over(w) - 1).cast("int").alias("block_no"),
            "text",
            F.col("n_words").cast("int").alias("n_words"),
            F.col("chars").cast("int").alias("chars"),
            F.col("link_chars").cast("int").alias("link_chars"),
        )
    )


def html_main_content(docs: DataFrame) -> DataFrame:
    """html_blocks + ``keep`` — Kohlschütter et al.'s NumWords /
    LinkDensity classifier (the boilerpipe DefaultExtractor rule set),
    verbatim:

        curr_linkDensity > 1/3                      → boilerplate
        else if prev_linkDensity ≤ 5/9:
            curr_numWords > 16                      → content
            else next_numWords > 15                 → content
            else prev_numWords > 4                  → content
            else                                    → boilerplate
        else (link-heavy previous block):
            curr_numWords > 40                      → content
            else next_numWords > 17                 → content
            else                                    → boilerplate

    Missing neighbors (document edges) are empty blocks: 0 words,
    0/0 link density (0 ≤ anything, so an absent prev counts as
    low-link-density — the paper's empty padding). Ratio thresholds
    compare in exact integers; cite Kohlschütter/Fankhauser/Nejdl,
    "Boilerplate Detection using Shallow Text Features", WSDM 2010,
    table 2 (the densometric subset)."""
    b = html_blocks(docs)
    w = Window.partitionBy("doc_id").orderBy("block_no")
    prev_w = F.coalesce(F.lag("n_words").over(w), F.lit(0))
    next_w = F.coalesce(F.lead("n_words").over(w), F.lit(0))
    prev_lc = F.coalesce(F.lag("link_chars").over(w), F.lit(0))
    prev_ch = F.coalesce(F.lag("chars").over(w), F.lit(0))
    curr_hi = F.col("link_chars") * 3 > F.col("chars")
    prev_lo = prev_lc * 9 <= prev_ch * 5
    keep = F.when(curr_hi, F.lit(False)).otherwise(
        F.when(
            # content ⇔ curr>16 ∨ next>15 ∨ prev>4 (the tree's three
            # CONTENT leaves, flattened — same truth table)
            prev_lo,
            (F.col("n_words") > 16) | (next_w > 15) | (prev_w > 4),
        ).otherwise((F.col("n_words") > 40) | (next_w > 17))
    )
    return b.select(
        "doc_id",
        "block_no",
        "text",
        "n_words",
        "chars",
        "link_chars",
        keep.alias("keep"),
    )


def extract_main_text(docs: DataFrame) -> DataFrame:
    """(doc_id, text) — kept blocks rejoined in order with single
    spaces: the 'main content' a curation pipeline feeds downstream
    (dedup, quality, tokenization)."""
    kept = html_main_content(docs).filter("keep")
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct("block_no", "text"))
            ).getField("text"),
            " ",
        ).alias("text")
    )
