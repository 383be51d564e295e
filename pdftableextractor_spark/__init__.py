"""pdftableextractor_spark — a PySpark-native main-content extraction engine.

A from-scratch, Spark-first rebuild of the *capabilities* of
``ArjunTewari/PDFTableExtractor`` (reference read-only at /root/reference):
per-document text/table/key-value extraction over Iceberg/parquet tables of
interleaved text+media documents, replacing the reference's
Flask + Amazon Textract + OpenAI call chain with pure deterministic batch
transforms (built-in Spark SQL expressions on the hot path, batched
Arrow/pandas kernels where layout math genuinely needs numpy).

Top-level layout:

- ``types``      — frozen StructType schemas (input documents, output spans,
                   metrics/lineage table).
- ``session``    — tuned SparkSession builder (Arrow on, AQE on).
- ``corpus``     — deterministic synthetic interleaved-document generator +
                   an adapter that derives an interleaved corpus from the
                   driver's flat ``documents`` testdata table.
- ``functions``  — scalar Column-expression library (normalize, footnote,
                   boilerplate predicates) shared by every operator; the
                   canonical regex spec lives here once.
- ``kernels``    — Arrow-batched pandas kernels (PDF word-box layout parse,
                   table-region detection, grid reconstruction).
- ``operators``  — the dataflow operators: extraction pipeline, structuring
                   (chunker / lexical commentary / sessionization / dedup),
                   dedup suite (exact, MinHash-LSH, SimHash, n-gram Jaccard,
                   embedding near-dup), similarity search, text analysis,
                   multimodal plumbing.
- ``plans``      — scale machinery: the one pin primitive (``pin``),
                   salted repartitioning, resumable per-partition
                   lineage/metrics.
- ``sources``    — the parquet/Iceberg format seam (``read_path`` /
                   ``write_table``).
- ``streaming``  — Structured Streaming wrapper of the extraction pipeline
                   and a stateful cross-batch exact dedup stream.
- ``oracle``     — an independently-written pure-Python/pandas reference
                   implementation used only by tests to freeze golden
                   fixtures (never imported by the engine).

Importing the package on CPython < 3.13 gives ``zipimport`` 3.13's lazy
directory reads (gh-103200): a PySpark worker calls
``importlib.invalidate_caches()`` before every task, which otherwise makes
each of its ~16 zipimporters re-read all of ``pyspark.zip``. Every library
UDF unpickles through this package, so a reused worker re-reads an archive
at most once after a task, and only when a lookup needs it.
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 13):
    import zipimport

    def _zip_files(self) -> dict:
        """The archive's directory, read once per invalidation."""
        try:
            return zipimport._zip_directory_cache[self.archive]
        except KeyError:
            try:
                files = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}
            zipimport._zip_directory_cache[self.archive] = files
            return files

    def _forget_zip_files(self) -> None:
        zipimport._zip_directory_cache.pop(self.archive, None)

    # __init__ has cached the directory before it assigns _files: the
    # setter has nothing left to do
    zipimport.zipimporter._files = property(_zip_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _forget_zip_files
