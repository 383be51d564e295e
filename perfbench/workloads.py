"""The benchmark workloads: seeded inputs, timed iteration, oracle
fingerprint and per-layer probes.

Every workload exposes the same four steps:

- ``make_inputs(work_dir, seed, tiny)`` writes the seeded input files with
  pyarrow (no Spark) and returns an ``Inputs``;
- ``expected(inputs)`` computes the oracle's output fingerprint;
- ``output(spark, inputs)`` builds the DataFrame one timed iteration
  writes, through the engine's public functions;
- ``probe(spark, inputs, tracer, out_path)`` runs each layer once under its
  own span and returns the layer metrics.

The fingerprint is order-independent: the row count plus the sum of one
32-bit md5 slice per row, taken over the output columns canonicalised to
strings (NULL as ``\\N``, doubles at six decimals, booleans lower-case).
"""

from __future__ import annotations

import hashlib
import os
import pathlib
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

NULL = "\\N"
SEP = "\x1f"

# ---------------------------------------------------------------------------
# fingerprints
# ---------------------------------------------------------------------------


def _canon_py(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def fingerprint_rows(rows) -> dict:
    """Fingerprint of an iterable of value tuples (the oracle side)."""
    n = 0
    total = 0
    for r in rows:
        key = SEP.join(_canon_py(v) for v in r).encode("utf-8")
        total += int(hashlib.md5(key).hexdigest()[:8], 16)
        n += 1
    return {"rows": n, "hash_sum": total}


def observe_fingerprint(df, cols, obs):
    """``df`` with an Observation that collects the fingerprint of ``cols``
    as the rows flow through the action that consumes it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    types = dict((f.name, f.dataType) for f in df.schema.fields)

    def canon(c):
        col = F.col(c)
        if isinstance(types[c], (DoubleType, FloatType)):
            col = F.round(col, 6).cast("decimal(38,6)")
        return F.coalesce(col.cast("string"), F.lit(NULL))

    row_hash = F.conv(
        F.substring(F.md5(F.concat_ws(SEP, *[canon(c) for c in cols])), 1, 8),
        16,
        10,
    ).cast("bigint")
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash), F.lit(0)).alias("hash_sum"),
    )


def corrupt_one_row(df, key_col: str, text_col: str):
    """Test hook: alter the text of the row with the smallest key value, so
    the written output no longer matches the oracle."""
    from pyspark.sql import functions as F

    first = df.agg(F.min(key_col)).first()[0]
    return df.withColumn(
        text_col,
        F.when(
            F.col(key_col) == F.lit(first), F.concat(F.col(text_col), F.lit("#"))
        ).otherwise(F.col(text_col)),
    )


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


@dataclass
class Inputs:
    path: str  # parquet file or directory the iteration reads
    n_docs: int
    seed: int


# the sf0.1 testdata documents table (5,000 docs over a 30-word
# vocabulary), copied byte for byte: the dedup workload runs on real rows
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "documents.parquet")


def write_documents_subset(path: str, seed: int, share: float) -> int:
    """Write the seeded doc_id-hash subset of ``DOCUMENTS`` that keeps about
    ``share`` of the rows, as one parquet file like the source. Returns the
    number of rows kept."""
    table = pq.read_table(DOCUMENTS)
    keep = [
        int(hashlib.md5(f"{seed}:{d}".encode()).hexdigest()[:8], 16)
        < share * 2**32
        for d in table.column("doc_id").to_pylist()
    ]
    subset = table.filter(pa.array(keep))
    pq.write_table(subset, path)
    return subset.num_rows


def _duckdb_rows(inputs: Inputs, sql: str, cols: list[str]):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute("SET memory_limit = '2GB'")
        src = inputs.path.replace("'", "''")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')"
        )
        return con.execute(
            f"SELECT {', '.join(cols)} FROM ({sql})"
        ).fetchall()
    finally:
        con.close()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_mb(path: str) -> float:
    """Size of a parquet file, or of every file under a directory, in MB."""
    if os.path.isfile(path):
        return os.path.getsize(path) / 1e6
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def _write_probe(tracer, df, out_path):
    """Pin ``df`` (untimed), then time the parquet write of the pinned rows
    alone. Returns the metrics and the pinned frame."""
    from pdftableextractor_spark.sources.tables import write_table

    with tracer.span("pin.output"):
        pinned = df.localCheckpoint(eager=True)
    with tracer.span("tables.write") as s:
        write_table(pinned, out_path, mode="overwrite")
    return {
        "tables.write_s": s.seconds,
        "tables.output_mb": _dir_mb(out_path),
    }, pinned


def _scan_probe(spark, tracer, inputs) -> dict:
    from pyspark.sql import functions as F

    from pdftableextractor_spark.sources.tables import read_path

    docs = read_path(spark, inputs.path)
    # a hash of every column, so that the scan decodes every value
    with tracer.span("tables.scan") as s:
        docs.select(F.hash(*docs.columns).alias("h")).agg(F.sum("h")).collect()
    return {"tables.scan_s": s.seconds, "tables.input_mb": _dir_mb(inputs.path)}


class ExtractMixed:
    """``jobs/extract.py``: read_path → extract_spans → write_table over the
    heavy-tailed synthetic corpus, with the job's ``--salt auto`` rule."""

    name = "extract_mixed"
    cols = ["doc_id", "order", "kind", "text", "media_ref"]
    n_docs, tiny_docs = 400, 50

    def make_inputs(self, work_dir: str, seed: int, tiny: bool) -> Inputs:
        from pdftableextractor_spark.corpus import write_corpus_parquet

        n = self.tiny_docs if tiny else self.n_docs
        path = os.path.join(work_dir, "corpus")
        # 20 part files at any size, as the 5,000-doc job has: the scan's
        # parallelism comes from file splits
        write_corpus_parquet(path, n, seed=seed, docs_per_file=max(1, n // 20))
        return Inputs(path, n, seed)

    def oracle_key(self) -> bytes:
        import pdftableextractor_spark.corpus as c
        import pdftableextractor_spark.oracle as o

        return b"".join(pathlib.Path(m.__file__).read_bytes() for m in (c, o))

    def expected(self, inputs: Inputs) -> dict:
        from pdftableextractor_spark.corpus import gen_documents
        from pdftableextractor_spark.oracle import extract_corpus

        rows = extract_corpus(gen_documents(inputs.n_docs, inputs.seed))
        return fingerprint_rows(tuple(r[c] for c in self.cols) for r in rows)

    @staticmethod
    def _salt(spark, docs) -> bool:
        # jobs/extract.py --salt auto
        n_files = len(docs.inputFiles())
        return n_files < max(2, spark.sparkContext.defaultParallelism // 2)

    def output(self, spark, inputs: Inputs):
        from pdftableextractor_spark.operators.extract import extract_spans
        from pdftableextractor_spark.sources.tables import read_path

        docs = read_path(spark, inputs.path)
        return extract_spans(docs, salt=self._salt(spark, docs))

    def corrupt(self, df):
        return corrupt_one_row(df, "doc_id", "text")

    def probe(self, spark, inputs: Inputs, tracer, out_path) -> dict:
        from pyspark.sql import functions as F

        from pdftableextractor_spark.kernels.layout import pdf_layout_kernel
        from pdftableextractor_spark.operators.extract import (
            explode_spans,
            extract_spans,
        )
        from pdftableextractor_spark.sources.tables import read_path

        m = _scan_probe(spark, tracer, inputs)
        docs = read_path(spark, inputs.path)
        with tracer.span("extract.explode") as s:
            _noop(explode_spans(docs))
        m["extract.explode_s"] = s.seconds
        out = extract_spans(docs, salt=self._salt(spark, docs))
        with tracer.span("extract.spans") as s:
            _noop(out)
        st = s.stages
        m["extract.spans_s"] = s.seconds
        m["extract.shuffle_mb"] = st["shuffle_write_bytes"] / 1e6
        m["extract.nonjvm_frac"] = (
            1.0 - st["cpu_s"] / st["run_s"] if st["run_s"] > 0 else 0.0
        )
        m.update(_write_probe(tracer, out, out_path)[0])

        # the layout kernel called directly, single-threaded, on the
        # workload's pdf spans in Arrow-batch-sized pandas frames
        pages = (
            explode_spans(docs)
            .filter(F.col("kind") == "pdf")
            .select("doc_id", "offset", "text")
            .toPandas()
        )
        step = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        batches = [pages.iloc[i : i + step] for i in range(0, len(pages), step)]
        with tracer.span("layout.kernel") as s:
            rows_out = sum(len(b) for b in pdf_layout_kernel(iter(batches)))
        m["layout.pages"] = float(len(pages))
        m["layout.rows_out"] = float(rows_out)
        m["layout.pages_per_s"] = len(pages) / s.seconds if len(pages) else 0.0
        return m


def structure_probe(spark, inputs: Inputs, tracer) -> dict:
    """The q38_unified_full layers (interleave_flat_documents →
    extract_frames → points → lexical commentary → unified_data_points)
    over the workload's documents, each on frames pinned first. The
    sequence runs twice and the second pass is reported, so no layer is
    timed on a cold JVM."""
    from pyspark.sql import Observation, Window
    from pyspark.sql import functions as F

    from pdftableextractor_spark.corpus import interleave_flat_documents
    from pdftableextractor_spark.operators.extract import extract_frames
    from pdftableextractor_spark.operators.structure import (
        all_data_points,
        dedup_first_wins,
        footnote_points,
        kv_points,
        lexical_commentary,
        table_points,
        text_fact_points,
        unified_data_points,
    )
    from pdftableextractor_spark.sources.tables import read_path

    flat = read_path(spark, inputs.path)
    m: dict = {}
    for _ in range(2):
        docs = interleave_flat_documents(flat)
        with tracer.span("corpus.interleave") as s:
            _noop(docs)
        m["corpus.interleave_s"] = s.seconds
        with tracer.span("extract.frames") as s:
            frames = extract_frames(docs)
        m["extract.frames_s"] = s.seconds
        with tracer.span("pin.frames"):
            frames = {
                k: v.localCheckpoint(eager=True) for k, v in frames.items()
            }
        points = dedup_first_wins(
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
        with tracer.span("structure.points") as s:
            _noop(points)
        m["structure.points_s"] = s.seconds
        w = Window.partitionBy("doc_id").orderBy(
            "src_rank", "offset", "seq", "field", "value"
        )
        with tracer.span("pin.points"):
            pts = (
                points.withColumn("point_id", F.row_number().over(w) - 1)
                .select("doc_id", "point_id", "field", "value")
                .localCheckpoint(eager=True)
            )
        with tracer.span("structure.commentary") as s:
            _noop(lexical_commentary(pts, frames["lines"]))
        m["structure.commentary_s"] = s.seconds
        obs = Observation()
        unified = unified_data_points(frames).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        with tracer.span("structure.unified") as s:
            _noop(unified)
        m["structure.unified_s"] = s.seconds
        m["structure.rows_out"] = float(obs.get["rows"])
    return m


class DedupIncremental:
    """``q55_incremental_dups``: the doc_id % 5 == 0 slice is a new batch
    probed against the standing corpus with minhash_near_dups_incremental;
    the pairs are written out."""

    name = "dedup_incremental"
    cols = ["doc_a", "doc_b", "jaccard"]
    # share of the 5,000 documents kept; the candidate pairs grow with the
    # square of the corpus, as every doc draws from the same 30 words
    share, tiny_share = 0.1, 0.01
    oracle_name = "q55_incremental_dups"
    params = {"n": 1, "threshold": 0.5, "num_hashes": 16}

    def make_inputs(self, work_dir: str, seed: int, tiny: bool) -> Inputs:
        path = os.path.join(work_dir, "documents.parquet")
        n = write_documents_subset(
            path, seed, self.tiny_share if tiny else self.share
        )
        return Inputs(path, n, seed)

    def oracle_key(self) -> bytes:
        import __spark_entry__ as entry

        return entry.oracle_sql()[self.oracle_name].encode()

    def expected(self, inputs: Inputs) -> dict:
        import __spark_entry__ as entry

        sql = entry.oracle_sql()[self.oracle_name]
        return fingerprint_rows(_duckdb_rows(inputs, sql, self.cols))

    @staticmethod
    def _sides(spark, inputs: Inputs):
        from pyspark.sql import functions as F

        from pdftableextractor_spark.sources.tables import read_path

        docs = read_path(spark, inputs.path).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
        is_new = F.col("doc_id").cast("bigint") % 5 == 0
        return docs, docs.filter(is_new), docs.filter(~is_new)

    def output(self, spark, inputs: Inputs):
        from pdftableextractor_spark.operators.dedup import (
            minhash_near_dups_incremental,
        )

        _, new, old = self._sides(spark, inputs)
        return minhash_near_dups_incremental(new, old, **self.params)

    def corrupt(self, df):
        from pyspark.sql import functions as F

        first = df.agg(F.min("doc_a")).first()[0]
        return df.withColumn(
            "jaccard",
            F.when(F.col("doc_a") == F.lit(first), F.col("jaccard") / 2)
            .otherwise(F.col("jaccard")),
        )

    def probe(self, spark, inputs: Inputs, tracer, out_path) -> dict:
        from pdftableextractor_spark.operators.dedup import (
            minhash_near_dups_incremental,
            minhash_signatures,
        )
        from pdftableextractor_spark.plans.skew import spread_underparallel_scan

        m = _scan_probe(spark, tracer, inputs)
        docs, new, old = self._sides(spark, inputs)
        with tracer.span("skew.probe") as s:
            spread_underparallel_scan(docs, "doc_id")
        m["skew.probe_s"] = s.seconds
        m["skew.probe_jobs"] = float(s.stages["jobs"])
        sigs = minhash_signatures(
            old, n=self.params["n"], num_hashes=self.params["num_hashes"]
        )
        with tracer.span("dedup.signatures") as s:
            _noop(sigs)
        m["dedup.signatures_s"] = s.seconds
        with tracer.span("dedup.incremental") as s:
            pairs = minhash_near_dups_incremental(new, old, **self.params)
            _noop(pairs)
        m["dedup.incremental_s"] = s.seconds
        m["dedup.scan_tasks"] = float(s.stages["scan_tasks"])
        written, pinned = _write_probe(tracer, pairs, out_path)
        m.update(written)
        m["dedup.pairs_out"] = float(pinned.count())
        m.update(structure_probe(spark, inputs, tracer))
        return m


WORKLOADS = {
    w.name: w for w in (ExtractMixed(), DedupIncremental())
}

