"""Cross-batch stateful streaming dedup (applyInPandasWithState)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pdftableextractor_spark.streaming.stateful import stream_exact_dedup


def _write(path, rows):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.string()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        path,
    )


def test_streaming_dedup_state_survives_restart(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(in_dir)
    _write(f"{in_dir}/b1.parquet", [("d3", "alpha"), ("d1", "alpha"), ("d2", "beta")])
    stream_exact_dedup(spark, in_dir, out_dir, ckpt)
    got1 = {
        (r["content_hash"], r["doc_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # first-wins within the batch: min doc_id per hash
    assert {d for _, d in got1} == {"d1", "d2"}

    # second run (restart with same checkpoint): a dup from batch 1 must NOT
    # re-emit; a new text must
    _write(f"{in_dir}/b2.parquet", [("d9", "alpha"), ("d4", "gamma")])
    stream_exact_dedup(spark, in_dir, out_dir, ckpt)
    got2 = {
        (r["content_hash"], r["doc_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert {d for _, d in got2} == {"d1", "d2", "d4"}
    assert len(got2) == 3
