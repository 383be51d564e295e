"""Structured Streaming wrapper of the extraction pipeline.

The reference's "streaming" is an SSE row feed over a completed batch
(app.py:240-400, SURVEY.md §2.10): rows stream out progressively as
documents finish. The Spark-native equivalent is a file/Iceberg streaming
source over the documents table with ``foreachBatch``: each micro-batch of
newly-arrived documents runs the SAME batch extraction operator and appends
its span sequences — per-document output is identical to the batch path
(ordering is per document, and a document arrives whole in one batch).

``Trigger.AvailableNow`` gives catch-up/backfill semantics. foreachBatch is
at-least-once (a crash between the sink write and the checkpoint commit
replays the micro-batch on restart), so the batch write itself is made
idempotent: each batch writes its own ``batch_id=N`` partition with dynamic
partition overwrite — a replayed batch REPLACES its partition instead of
appending duplicates. Idempotent-replay + checkpointing = effectively-once
output (the streaming analog of plans/resume.py's bucket lineage).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pdftableextractor_spark.types import DOCUMENTS_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Run the streaming extraction to completion (``availableNow``):
    parquet file source → extract_spans per micro-batch → parquet append.
    Returns the finished StreamingQuery."""
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.extract import extract_spans

    src = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # idempotent replay: overwrite exactly this batch's partition.
        # dynamic overwrite is a per-WRITE option (not a session conf
        # mutation — the old spark.conf.set leaked session-wide); the write
        # routes through the format seam (Iceberg in production)
        from pdftableextractor_spark.sources.tables import write_table

        write_table(
            extract_spans(batch_df).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ),
            output_dir,
            mode="overwrite",
            partition_by=["batch_id"],
            partitionOverwriteMode="dynamic",
        )

    q = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
