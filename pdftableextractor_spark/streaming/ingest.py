"""Dedup-on-ingest: Structured Streaming corpus ingestion where every
micro-batch is near-dup-deduped against the standing corpus BEFORE it lands.

The batch analog is jobs/curate.py's near-dup stage; here the standing
corpus grows batch by batch, so the comparison target is the persisted
MinHash signature store (operators/dedup.py) — per batch the signature work
is O(batch), never O(corpus).

Per micro-batch:
  1. read the signature store, EXCLUDING this batch_id's own partition —
     on an at-least-once replay the batch must not collide with its own
     previous (possibly partial) write
  2. minhash_near_dups_incremental(batch, standing corpus): pairs involving
     >= 1 batch doc (old-old pairs are structurally impossible)
  3. connected components over those pairs; a batch doc survives iff its
     duplicate cluster contains NO standing doc (old always wins — it is
     already in the corpus) AND it is the cluster's min id (in-batch
     keep-min, same rule as the batch funnel)
  4. survivors + their signatures are written to batch_id=N partitions with
     dynamic partition overwrite → replay REPLACES, never duplicates
     (the stream.py idempotency pattern)

Output after the stream drains == what a sequential batch-by-batch run of
the incremental operator would produce; the two-batch test pins that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdftableextractor_spark.operators.dedup import (
    BAND_ROWS,
    NUM_HASHES,
    connected_components,
    minhash_near_dups_incremental,
    minhash_signatures,
)

SIG_SCHEMA = "doc_id string, sig array<bigint>"


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """First batch: the store/corpus does not exist yet. The existence check
    must happen NOW — the read itself is lazy, so a missing path would
    otherwise explode mid-micro-batch at execution time. (Local-FS check;
    an Iceberg deployment asks the catalog instead.)"""
    import os

    from pdftableextractor_spark.sources.tables import read_path

    if not os.path.exists(path):
        return spark.createDataFrame([], schema)
    return read_path(spark, path)


def stream_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    max_files_per_trigger: int = 1,
):
    """Start (and with available_now=True, drain) the dedup-on-ingest
    stream over parquet files of (doc_id, text). Returns the query."""
    from pdftableextractor_spark.sources.tables import write_table

    src = (
        spark.readStream.schema(f"doc_id string, {text_col} string")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.select("doc_id", text_col).localCheckpoint()
        # signature the batch ONCE: the pair search and the store write
        # share this materialized frame (the per-batch dominant cost)
        batch_sigs = minhash_signatures(
            batch, text_col, n, num_hashes
        ).localCheckpoint()
        not_self = F.col("batch_id") != batch_id
        old_sigs = (
            _read_or_empty(spark, store_dir, SIG_SCHEMA + ", batch_id long")
            .filter(not_self)
            .select("doc_id", "sig")
        )
        old_docs = (
            _read_or_empty(
                spark, output_dir, f"doc_id string, {text_col} string, batch_id long"
            )
            .filter(not_self)
            .select("doc_id", text_col)
        )
        pairs = minhash_near_dups_incremental(
            batch,
            old_docs,
            old_sigs,
            text_col=text_col,
            n=n,
            threshold=threshold,
            num_hashes=num_hashes,
            band_rows=band_rows,
            new_sigs=batch_sigs,
        )
        cc = connected_components(pairs)
        has_old = (
            cc.join(
                old_sigs.select(F.col("doc_id").alias("node")).withColumn(
                    "is_old", F.lit(1)
                ),
                "node",
                "left",
            )
            .groupBy("component")
            .agg(F.max(F.coalesce("is_old", F.lit(0))).alias("has_old"))
        )
        losers = (
            cc.join(has_old, "component")
            .filter(
                (F.col("has_old") == 1) | (F.col("node") != F.col("component"))
            )
            .select(F.col("node").alias("doc_id"))
        )
        survivors = batch.join(losers, "doc_id", "left_anti").localCheckpoint()
        stamp = F.lit(batch_id).cast("long").alias("batch_id")
        write_table(
            survivors.select("doc_id", text_col, stamp),
            output_dir,
            mode="overwrite",
            partition_by=["batch_id"],
            partitionOverwriteMode="dynamic",
        )
        write_table(
            batch_sigs.join(
                survivors.select("doc_id"), "doc_id", "left_semi"
            ).select("doc_id", "sig", stamp),
            store_dir,
            mode="overwrite",
            partition_by=["batch_id"],
            partitionOverwriteMode="dynamic",
        )

    writer = src.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


EMB_SCHEMA = "vec_id bigint, embedding array<float>"


def stream_semantic_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    threshold: float,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int | None = 2,
    iters: int = 2,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """SEMANTIC dedup-on-ingest — the embedding analog of
    ``stream_dedup_ingest``: every micro-batch of (vec_id, embedding) is
    SemDeDup-ed against the standing corpus before it lands.

    Per micro-batch:
      1. read the standing corpus (the output table), EXCLUDING this
         batch_id's own partition — at-least-once replay must not
         collide with its own previous (possibly partial) write;
      2. ``semantic_dedup_incremental``: within-batch kNN clusters +
         a probe against the standing corpus; a cluster with any old
         neighbor >= threshold drops whole (old wins);
      3. survivors land in the batch_id=N partition with dynamic
         partition overwrite → replay REPLACES, never duplicates.

    Scale note: the DataFrame probe re-fits k-means on the standing
    corpus each batch — right for a corpus that fits the cluster
    comfortably. When the corpus outgrows
    per-batch fits, run the same cadence as batch jobs instead: maintain
    a persisted IVF index, probe with ``ivf_topk_indexed_batch``
    (O(batch) work), and grow it with ``append_to_ivf_index`` — the
    batch-job path where the caller owns replay semantics (the index
    append is not idempotent; this stream's partition-overwrite sink
    is).

    Output after the stream drains == a sequential batch-by-batch run of
    ``semantic_dedup_incremental`` (the two-batch test pins it). Returns
    the streaming query."""
    from pdftableextractor_spark.operators.dedup import (
        semantic_dedup_incremental,
    )
    from pdftableextractor_spark.sources.tables import write_table

    src = (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.select("vec_id", "embedding").localCheckpoint()
        old = (
            _read_or_empty(spark, output_dir, EMB_SCHEMA + ", batch_id long")
            .filter(F.col("batch_id") != batch_id)
            .select("vec_id", "embedding")
        )
        sd = semantic_dedup_incremental(
            batch,
            old,
            threshold,
            k=k,
            n_cells=n_cells,
            n_probe=n_probe,
            iters=iters,
        )
        survivors = batch.join(
            sd.filter(F.col("keep")).select("vec_id"), "vec_id", "left_semi"
        )
        write_table(
            survivors.withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ),
            output_dir,
            mode="overwrite",
            partition_by=["batch_id"],
            partitionOverwriteMode="dynamic",
        )

    writer = src.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q
