from pdftableextractor_spark.functions.strings import (  # noqa: F401
    FOOTNOTE_KEYWORDS,
    FOOTNOTE_MARKER_RE,
    SECTION_REF_RE,
    is_footnote_col,
    normalize_text_col,
)
