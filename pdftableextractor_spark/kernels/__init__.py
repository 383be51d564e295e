from pdftableextractor_spark.kernels.layout import (  # noqa: F401
    GAP_MIN,
    LINE_EPS,
    layout_pages,
    pdf_layout_kernel,
)
