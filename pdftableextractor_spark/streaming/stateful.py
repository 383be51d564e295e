"""Custom stateful streaming operator: cross-batch exact deduplication.

The reference's row_update/append SSE semantics (app.py:343, SURVEY.md
§2.10) need per-key state when re-expressed over an unbounded stream; Spark's
primitive for that is ``applyInPandasWithState``. This operator keeps one
bit of state per content hash and emits a document only the first time its
hash is ever seen — streaming first-wins dedup, the unbounded analog of
``operators/dedup.exact_dedup``.

At cluster scale the state store is RocksDB
(spark.sql.streaming.stateStore.providerClass) and the key space is the
content hash — uniform, so state shards evenly; watermarking is unnecessary
because exact-dup state never expires (a dup a month later is still a dup).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "content_hash string, doc_id string"
STATE_SCHEMA = "seen int"


def _first_wins(key, pdf_iter, state: GroupState):
    import pandas as pd

    if state.exists:
        # hash already emitted in an earlier batch → drop everything
        for _ in pdf_iter:
            pass
        return iter([])
    best = None
    for pdf in pdf_iter:
        if len(pdf):
            m = pdf["doc_id"].min()
            best = m if best is None or m < best else best
    if best is None:
        return iter([])
    state.update((1,))
    return iter(
        [pd.DataFrame({"content_hash": [key[0]], "doc_id": [best]})]
    )


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id string, text string",
    content_col: str = "text",
):
    """Streaming first-wins exact dedup: emits (content_hash, doc_id) once
    per distinct content across the whole stream lifetime. Runs to
    completion (``availableNow``) and returns the finished
    StreamingQuery.

    ``schema``/``content_col`` must match the actual input files — reading a
    nested documents(doc_id, spans) directory requires the spans schema and
    a serialized content column (see jobs/stream.py), otherwise parquet
    fills a missing column with NULLs and every row hashes identically.
    """
    src = spark.readStream.schema(schema).parquet(input_dir)
    content = F.col(content_col)
    if dict(src.dtypes)[content_col] != "string":
        content = F.to_json(content)
    hashed = src.select(
        F.md5(content).alias("content_hash"), F.col("doc_id")
    )
    deduped = hashed.groupBy("content_hash").applyInPandasWithState(
        _first_wins,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
