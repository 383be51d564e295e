"""Canonical scalar text functions — the single source of truth for the
normalization / footnote / boilerplate semantics.

Each rule is written once, as Spark SQL text over a SQL expression
(``*_spark_sql``), built from the module-level regex constants. The
``*_col`` builders wrap that text in ``F.expr`` for a named column, and
``selectExpr`` / lambda bodies embed it directly; either way the rule runs
as built-in JVM expressions, never a Python UDF. The pure-Python test
oracle and the DuckDB oracle SQL (``normalize_text_sql``) reuse the same
regex constants.

Semantics are frozen from the reference (cited per function); where the
reference has two divergent helper copies (SURVEY.md §7.3.5) the
``textract_processor.py`` variant is canonical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- normalization (reference: textract_processor.py:162-184) -------------
# order matters and is frozen:
#   1. strip Unicode superscript digits
#   2. strip footnote-ref patterns (1) / [2] / *** in-place
#   3. collapse whitespace + trim
#   4. a line that is now a standalone number becomes '' (the reference's
#      '^\d+$' rule at textract_processor.py:175, applied post-collapse here
#      so ' 12 ' is also caught)
SUPERSCRIPT_RE = "[⁰¹²³⁴⁵⁶⁷⁸⁹]+"
PAREN_NUM_RE = r"\(\d+\)"
BRACKET_NUM_RE = r"\[\d+\]"
STARS_RE = r"\*+"
WS_RE = r"\s+"
# the anchors below end in \z, not $: Java's $ also matches before a final
# line terminator (U+0085, U+2028, U+2029), which the oracle's fullmatch
# and DuckDB's RE2 $ do not
STANDALONE_NUM_RE = r"^\d+\z"


def sql_lit(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash escapes, control
    characters as \\uXXXX)."""
    body = s.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + "".join(
        c if c.isprintable() else f"\\u{ord(c):04x}" for c in body
    ) + "'"


def normalize_text_spark_sql(expr: str) -> str:
    """Superscript/footnote-marker strip + whitespace collapse, as Spark SQL
    text over the SQL expression ``expr``.

    Mirrors ``_remove_superscript_numbers`` (textract_processor.py:162-184).
    """
    c = expr
    for pat in (SUPERSCRIPT_RE, PAREN_NUM_RE, BRACKET_NUM_RE, STARS_RE):
        c = f"regexp_replace({c}, {sql_lit(pat)}, '')"
    c = f"trim(regexp_replace({c}, {sql_lit(WS_RE)}, ' '))"
    # blank a standalone number without evaluating c twice (lambda bodies
    # get no common-subexpression elimination): the lookahead is the
    # STANDALONE_NUM_RE test, and (?s).* then replaces the whole line
    return f"regexp_replace({c}, {sql_lit(f'(?s)(?={STANDALONE_NUM_RE}).*')}, '')"


def normalize_text_col(col: str) -> Column:
    """``normalize_text_spark_sql`` over the column (or SQL expression)
    ``col``."""
    return F.expr(normalize_text_spark_sql(col))


def normalize_text_sql(expr: str) -> str:
    """Same normalization as DuckDB SQL (for oracle_sql parity checks)."""
    c = f"regexp_replace({expr}, '{SUPERSCRIPT_RE}', '', 'g')"
    c = f"regexp_replace({c}, '\\(\\d+\\)', '', 'g')"
    c = f"regexp_replace({c}, '\\[\\d+\\]', '', 'g')"
    c = f"regexp_replace({c}, '\\*+', '', 'g')"
    c = f"trim(regexp_replace({c}, '\\s+', ' ', 'g'))"
    return f"(case when regexp_matches({c}, '^\\d+$') then '' else {c} end)"


# --- footnote classification (textract_processor.py:98-160) ---------------
# The reference matches 7 marker patterns at line start (case-insensitive),
# then requires content after the marker (len > len(marker)+5) AND either a
# keyword substring or a section reference. Divergence from the reference
# (documented, frozen): we classify on the RAW line, before marker stripping;
# the reference classifies after stripping, which makes its own '(1)'/'[1]'/
# '*' patterns unreachable (SURVEY.md §7.3).
FOOTNOTE_MARKER_RE = r"(?i)^(?:\(\d+\)|\[\d+\]|\d+\.|\*+\s|note\s*\d*:|source:|see\s)"
FOOTNOTE_KEYWORDS = (
    "note",
    "source",
    "see",
    "reference",
    "pursuant",
    "accordance",
    "disclaimer",
    "based on",
    "refers to",
    "includes",
    "excludes",
)
SECTION_REF_RE = r"\b(?:page|section|chapter|exhibit|appendix)\s+\d+"


def footnote_marker_spark_sql(expr: str) -> str:
    """The matched marker text ('' when not a footnote-style line)."""
    return f"regexp_extract(trim({expr}), {sql_lit(FOOTNOTE_MARKER_RE)}, 0)"


def is_footnote_spark_sql(expr: str) -> str:
    """Boolean footnote predicate over a raw (unnormalized) line, as Spark
    SQL text. The keywords (plain words) and the section reference are one
    alternation: a line contains a keyword exactly when the alternation
    finds it."""
    line = f"trim({expr})"
    marker = footnote_marker_spark_sql(expr)
    kw = "|".join(FOOTNOTE_KEYWORDS + (SECTION_REF_RE,))
    return (
        f"({marker} != '' AND length({line}) > length({marker}) + 5"
        f" AND lower({line}) RLIKE {sql_lit(kw)})"
    )


def is_footnote_col(col: str) -> Column:
    return F.expr(is_footnote_spark_sql(col))


# inline footnote references (textract_processor.py:149)
FOOTNOTE_REF_RE = r"[\(\[]\d+[\)\]]|\*+(\s|$)"


def has_footnote_refs_col(col: str) -> Column:
    return F.expr(f"trim({col}) RLIKE {sql_lit(FOOTNOTE_REF_RE)}")


# --- boilerplate classification (north_star: HTML boilerplate strip) ------
# Deterministic line-level heuristics, the link-density analog of
# Kohlschütter-style boilerplate removal over plain text lines:
#   * nav bars: >= 2 pipe separators ('Home | About | Contact')
#   * copyright footers: line starts with the © sign
#   * canonical nav words alone on a line
BOILER_PIPE_MIN = 2
BOILER_NAV_RE = (
    r"(?i)^(?:home|about|contact|privacy policy|terms of service"
    r"|skip to content)\z"
)


def is_boilerplate_spark_sql(expr: str) -> str:
    line = f"trim({expr})"
    return (
        f"(length({line}) - length(replace({line}, '|', ''))"
        f" >= {BOILER_PIPE_MIN} OR startswith({line}, '©')"
        f" OR {line} RLIKE {sql_lit(BOILER_NAV_RE)})"
    )


# --- misc scalar helpers (SURVEY.md §2.7) ----------------------------------
def match_clean_col(col: Column) -> Column:
    """Lower-case + strip $ % , for lexical matching (app.py:83-89, F4)."""
    return F.trim(F.translate(F.lower(col), "$%,", ""))


NUMERIC_FRAGMENT_RE = r"\d+\.?\d*"  # app.py:92 (F5)
