"""spark-submit entrypoint: ANN index lifecycle over an embeddings table.

    # build once
    spark-submit --py-files engine.zip jobs/ann.py build \
        --input /root/testdata/sf0.1 --index /tmp/ivf --k 64

    # query many (one vector per invocation)
    spark-submit --py-files engine.zip jobs/ann.py query \
        --input /root/testdata/sf0.1 --index /tmp/ivf \
        --query-id 0 --topk 10 --nprobe 4

    # batch: a whole table of query vectors in ONE distributed job
    spark-submit --py-files engine.zip jobs/ann.py query \
        --input /root/testdata/sf0.1 --index /tmp/ivf \
        --query-table /root/testdata/sf0.1/embeddings.parquet \
        --output /tmp/knn --topk 10 --nprobe 4

    # grow: append a new batch to the standing index (no refit; the
    # batch joins the existing build stamp — see append_to_ivf_index)
    spark-submit --py-files engine.zip jobs/ann.py append \
        --input /data/new_batch --index /tmp/ivf

    # SQ8 compressed-scan path: quantize once, query against the
    # 4x-smaller code table with exact rerank (see build_sq8_index)
    spark-submit --py-files engine.zip jobs/ann.py sq8-build \
        --input /root/testdata/sf0.1 --index /tmp/sq8
    spark-submit --py-files engine.zip jobs/ann.py sq8-query \
        --input /root/testdata/sf0.1 --index /tmp/sq8 \
        --query-id 0 --topk 10 --rerank 4

    # refit trigger: cell-balance health of an append-grown index;
    # with --rebuild, refit in place from the current corpus when the
    # max/median cell-size ratio exceeds the bound
    spark-submit --py-files engine.zip jobs/ann.py check \
        --index /tmp/ivf --max-over-median 4 \
        --rebuild --input /root/testdata/sf0.1 --k 64

(query needs --input too: the query VECTOR is fetched from the embeddings
table by --query-id; only the candidate scan is served from the index.
--query-table skips that and streams the given (vec_id, embedding) table
through ivf_topk_indexed_batch — the cogrouped knn_join kernel pointed at
the persisted, partition-pruned index.)

build fits k-means (Arrow assignment + partial-sum centroid kernels) and
persists centroids plus cell-partitioned vectors through the storage-format
seam; query reads the index and scans only the probed cells' partitions
(static partition pruning — see operators/similarity.py). Prints one JSON
line per invocation.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True, help="dir with embeddings.parquet")
    b.add_argument("--index", required=True)
    b.add_argument("--k", type=int, default=16)
    b.add_argument("--iters", type=int, default=3)
    b.add_argument("--master", default=None)

    ap = sub.add_parser("append")
    ap.add_argument(
        "--input", required=True, help="dir with embeddings.parquet to append"
    )
    ap.add_argument("--index", required=True)
    ap.add_argument("--master", default=None)

    c = sub.add_parser("check")
    c.add_argument("--index", required=True)
    c.add_argument(
        "--max-over-median",
        type=float,
        default=4.0,
        help="cell-balance bound: flag needs_rebuild when the largest "
        "cell exceeds this multiple of the median cell size",
    )
    c.add_argument(
        "--rebuild",
        action="store_true",
        help="when the check flags needs_rebuild, refit the index in "
        "place from --input (build_ivf_index over the CURRENT corpus; "
        "stamps a new build_id, torn-rebuild checks stay sound)",
    )
    c.add_argument(
        "--input",
        default=None,
        help="dir with embeddings.parquet — required with --rebuild",
    )
    c.add_argument("--k", type=int, default=16)
    c.add_argument("--iters", type=int, default=3)
    c.add_argument("--master", default=None)

    sb = sub.add_parser("sq8-build")
    sb.add_argument(
        "--input", required=True, help="dir with embeddings.parquet"
    )
    sb.add_argument("--index", required=True)
    sb.add_argument("--master", default=None)

    sq = sub.add_parser("sq8-query")
    sq.add_argument("--index", required=True)
    sq.add_argument(
        "--input", required=True, help="dir with embeddings.parquet"
    )
    sq.add_argument("--query-id", type=int, default=0)
    sq.add_argument("--topk", type=int, default=10)
    sq.add_argument("--rerank", type=int, default=4)
    sq.add_argument("--master", default=None)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--input", required=True, help="dir with embeddings.parquet")
    q.add_argument("--query-id", type=int, default=0)
    q.add_argument(
        "--query-table",
        default=None,
        help="parquet of (vec_id, embedding) query vectors: answer the "
        "WHOLE table in one distributed job (ivf_topk_indexed_batch) "
        "and write (qid, vec_id, cos, rnk) to --output instead of "
        "printing per-hit JSON",
    )
    q.add_argument("--output", default=None, help="output dir for --query-table")
    q.add_argument("--topk", type=int, default=10)
    q.add_argument("--nprobe", type=int, default=2)
    q.add_argument("--master", default=None)

    args = p.parse_args()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        build_sq8_index,
        ivf_drift_report,
        ivf_topk_indexed,
        ivf_topk_indexed_batch,
        sq8_topk_indexed,
    )
    from pdftableextractor_spark.session import build_session
    from pdftableextractor_spark.sources.tables import read_path, write_table

    spark = build_session(app_name=f"ann-{args.cmd}", master=args.master)
    t0 = time.time()
    emb = None
    if args.input:
        emb = read_path(spark, f"{args.input}/embeddings.parquet").select(
            "vec_id", "embedding"
        )

    def emit(cmd, **fields):
        print(
            json.dumps(
                {"cmd": cmd, **fields, "sec": round(time.time() - t0, 3)}
            )
        )

    def query_vec():
        rows = emb.filter(F.col("vec_id") == args.query_id).collect()
        if not rows:
            raise SystemExit(
                f"query id {args.query_id} not found in "
                f"{args.input}/embeddings.parquet"
            )
        return rows[0]["embedding"]

    def hits(df):
        return [{"vec_id": r["vec_id"], "cos": r["cos"]} for r in df.collect()]

    if args.cmd == "check":

        def _jsonable(rep):
            # max_over_median is inf for the collapsed-median degenerate
            # case; bare Infinity is not valid JSON
            return {
                k: ("inf" if v == float("inf") else v)
                for k, v in rep.items()
            }

        report = ivf_drift_report(
            spark, args.index, max_over_median=args.max_over_median
        )
        rebuilt = False
        if report["needs_rebuild"] and args.rebuild:
            if emb is None:
                raise SystemExit("check --rebuild requires --input")
            build_ivf_index(emb, args.index, k=args.k, iters=args.iters)
            rebuilt = True
            report = {
                "pre_rebuild": _jsonable(report),
                **ivf_drift_report(
                    spark, args.index, max_over_median=args.max_over_median
                ),
            }
        emit("check", **_jsonable(report), rebuilt=rebuilt)
    elif args.cmd == "build":
        n = build_ivf_index(emb, args.index, k=args.k, iters=args.iters)
        emit("build", vectors=n, k=args.k)
    elif args.cmd == "append":
        emit("append", appended=append_to_ivf_index(spark, emb, args.index))
    elif args.cmd == "sq8-build":
        emit("sq8-build", codes=build_sq8_index(emb, args.index))
    elif args.cmd == "sq8-query":
        top = sq8_topk_indexed(
            spark, args.index, query_vec(), k=args.topk, rerank=args.rerank
        )
        emit(
            "sq8-query",
            query_id=args.query_id,
            topk=args.topk,
            rerank=args.rerank,
            hits=hits(top),
        )
    elif args.query_table:
        if not args.output:
            raise SystemExit("--query-table requires --output")
        queries = read_path(spark, args.query_table).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        out = ivf_topk_indexed_batch(
            spark, queries, args.index, k=args.topk, nprobe=args.nprobe
        )
        # rows_out rides the write: no job re-reads the output
        written = Observation()
        write_table(
            out.observe(written, F.count(F.lit(1)).alias("n")),
            args.output,
            mode="overwrite",
        )
        emit(
            "query",
            mode="batch",
            rows_out=written.get["n"],
            topk=args.topk,
            nprobe=args.nprobe,
        )
    else:
        top = ivf_topk_indexed(
            spark, args.index, query_vec(), k=args.topk, nprobe=args.nprobe
        )
        emit("query", query_id=args.query_id, hits=hits(top))
    spark.stop()


if __name__ == "__main__":
    main()
