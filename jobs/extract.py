"""spark-submit entrypoint for the extraction pipeline.

Usage (cluster or local):

    zip -r engine.zip pdftableextractor_spark
    spark-submit --py-files engine.zip jobs/extract.py \
        --input  /path/to/documents_parquet \
        --output /path/to/spans_out \
        [--gen-docs N]      # instead of --input: generate the deterministic
                            # synthetic corpus with N docs first
        [--master local[8]]

The job reads documents(doc_id, spans), runs the extraction pipeline, writes
the ordered span sequence partitioned for downstream consumption, and prints
a one-line JSON summary (docs, spans_out, wall seconds, docs/sec).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--gen-docs", type=int, default=None)
    p.add_argument("--master", default=None)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument(
        "--salt",
        choices=("auto", "on", "off"),
        default="auto",
        help="repartition whole documents on doc_id before extraction: "
        "'on' forces it, 'off' never, 'auto' enables it only when the input "
        "layout would starve the cluster (fewer files than half the cores, "
        "the one-fat-file case where the single scan task otherwise does "
        "all the work; a well-laid-out many-file input needs no shuffle)",
    )
    args = p.parse_args()

    from pdftableextractor_spark.corpus import write_corpus_parquet
    from pdftableextractor_spark.operators.extract import extract_spans
    from pdftableextractor_spark.session import build_session
    from pdftableextractor_spark.sources.tables import read_path, write_table

    spark = build_session(app_name="extract-job", master=args.master)

    inp = args.input
    if args.gen_docs:
        inp = args.output.rstrip("/") + ".__input__.parquet"
        write_corpus_parquet(inp, args.gen_docs, seed=args.seed)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    t0 = time.time()
    docs = read_path(spark, inp)
    if args.salt == "auto":
        n_files = len(docs.inputFiles())
        cores = spark.sparkContext.defaultParallelism
        salt = n_files < max(2, cores // 2)
    else:
        salt = args.salt == "on"
    # observation metrics ride the write job itself (SURVEY §4 "cost
    # accounting as cross-cutting concern" → accumulators): input documents
    # and per-kind span counts with NO second scan of input or output
    docs_obs = Observation("documents")
    docs = docs.observe(docs_obs, F.count(F.lit(1)).alias("docs"))
    obs = Observation("extract")
    out = extract_spans(docs, salt=salt).observe(
        obs,
        F.count(F.lit(1)).alias("spans_out"),
        *[
            F.sum((F.col("kind") == k).cast("long")).alias(f"kind_{k}")
            for k in ("text", "table_cell", "kv", "media")
        ],
    )
    write_table(out, args.output, mode="overwrite")
    wall = time.time() - t0
    m = obs.get
    n_docs = docs_obs.get["docs"]
    print(
        json.dumps(
            {
                "docs": n_docs,
                "spans_out": m["spans_out"],
                "by_kind": {
                    k: m[f"kind_{k}"]
                    for k in ("text", "table_cell", "kv", "media")
                },
                "sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 2),
                "salted": salt,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
