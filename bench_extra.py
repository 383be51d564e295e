"""Round-7 optimization harness (guide §1): per-query isolation + plans.

NOT part of the frozen measurement contract (bench.py is the driver's
artifact). This file exists so the optimization round can:

  * dump `.explain("formatted")` for every bench query  → _artifacts/plans/
    (git-ignored; dumps are regenerated, not committed)
  * time any subset of queries in isolation with the noop sink, with
    host-calibration brackets, without paying the full 27-query sweep or
    any other entry's input set-up. One untimed run per entry goes first,
    so the timed runs carry neither the JVM/JIT warm-up nor the entry's
    first-use input builds (BPE training for bpe_encode, the query-vector
    collect for ann_topk, the one-file copy for extract_skew_salted);
    ``min`` is over the timed runs

  * run every driver query against its DuckDB oracle (the driver's
    correctness gate) on the sf0.01 tables beside the bench tables, or on
    the tables directory given; exits 1 on any mismatch

Usage:
    python bench_extra.py --oracle [SF_DIR]
    python bench_extra.py --plans [--out _artifacts/plans --suffix _before]
    python bench_extra.py --time extract_synth dup_clusters --runs 3
    python bench_extra.py --time-all --runs 2
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from functools import cache

from bench import _materialize, _synth_corpus_path, host_calibration


def build_dfs(spark, sf_dir: str, synth_path: str) -> dict:
    """The SAME DataFrames bench.build_queries materializes, returned
    lazily (keys match bench.py's query names)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from pdftableextractor_spark.corpus import interleave_flat_documents
    from pdftableextractor_spark.operators.dedup import (
        minhash_near_dups,
        semantic_dedup,
        simhash_signatures,
    )
    from pdftableextractor_spark.operators.extract import (
        extract_frames,
        extract_spans,
    )
    from pdftableextractor_spark.operators.similarity import (
        cosine_topk,
        knn_join,
    )
    from pdftableextractor_spark.operators.structure import (
        all_data_points,
        dedup_first_wins,
        footnote_points,
        general_commentary_points,
        kv_points,
        lexical_commentary,
        table_points,
        text_fact_points,
        unmatched_paragraphs,
    )
    from pdftableextractor_spark.operators.textstats import (
        lang_id,
        quality_score,
        token_count,
    )
    from pdftableextractor_spark.operators.tokenize import bpe_encode, train_bpe

    docs_flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs_str = docs_flat.withColumn("doc_id", F.col("doc_id").cast("string"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    synth = spark.read.parquet(synth_path)

    # inputs that cost a job or a file copy are built on first use, once,
    # by the entries that need them
    @cache
    def bpe_merges():
        return train_bpe(docs_str, n_merges=500)

    @cache
    def qvec():
        return emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]

    @cache
    def skew_path():
        path = synth_path + ".onefile"
        if not os.path.exists(path):
            import pyarrow.parquet as pq

            pq.write_table(pq.read_table(synth_path), path)
        return path

    def structure_points():
        frames = extract_frames(interleave_flat_documents(docs_flat))
        pts = dedup_first_wins(
            all_data_points(
                table_points(frames["cells"]),
                kv_points(frames["kvs"]),
                text_fact_points(
                    frames["lines"].select(
                        "doc_id", F.col("line_no").alias("offset"), "text"
                    )
                ),
            )
        )
        w = Window.partitionBy("doc_id").orderBy("src_rank", "offset", "seq")
        pts = pts.withColumn("point_id", (F.row_number().over(w) - 1).cast("int"))
        com = lexical_commentary(
            pts.select("doc_id", "point_id", "field", "value"), frames["lines"]
        )
        return pts.join(com, ["doc_id", "point_id"], "left")

    def unified_points():
        frames = extract_frames(interleave_flat_documents(docs_flat))
        pts = dedup_first_wins(
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
        w = Window.partitionBy("doc_id").orderBy(
            "src_rank", "offset", "seq", "field", "value"
        )
        pts = pts.withColumn("point_id", (F.row_number().over(w) - 1).cast("int"))
        com = lexical_commentary(
            pts.select("doc_id", "point_id", "field", "value"), frames["lines"]
        )
        enriched = pts.join(
            com.withColumnRenamed("line_no", "matched_line"),
            ["doc_id", "point_id"],
            "left",
        )
        general = general_commentary_points(
            unmatched_paragraphs(frames["lines"], com.select("doc_id", "line_no"))
        )
        return enriched.select(
            "doc_id", "source", "type", "field", "value", "page"
        ).unionByName(
            general.select("doc_id", "source", "type", "field", "value", "page")
        )

    eq = entry.queries()
    return {
        "extract_synth": lambda: extract_spans(synth),
        "extract_skew_salted": lambda: extract_spans(
            spark.read.parquet(skew_path()), salt=True
        ),
        "extract_testdata": lambda: extract_spans(
            interleave_flat_documents(docs_flat)
        ),
        "structure_points": structure_points,
        "unified_points": unified_points,
        "pricing_summary": lambda: eq["q13_pricing_summary"](spark, sf_dir),
        "minhash_pairs": lambda: minhash_near_dups(docs_str, n=3, threshold=0.5),
        "simhash": lambda: simhash_signatures(docs_str),
        "ann_topk": lambda: cosine_topk(emb, qvec(), k=10),
        "token_stats": lambda: (
            token_count(docs_str)
            .join(quality_score(docs_str), "doc_id")
            .join(lang_id(docs_str), "doc_id")
        ),
        "dup_clusters": lambda: eq["q52_dup_clusters"](spark, sf_dir),
        "bm25": lambda: eq["q53_bm25"](spark, sf_dir),
        "asof_join": lambda: eq["q58_asof_join"](spark, sf_dir),
        "range_join": lambda: eq["q59_range_join"](spark, sf_dir),
        "incremental_dups": lambda: eq["q55_incremental_dups"](spark, sf_dir),
        "quality_gate": lambda: eq["q61_quality_gate"](spark, sf_dir),
        "dup_spans": lambda: eq["q62_dup_spans"](spark, sf_dir),
        "lm_score": lambda: eq["q63_lm_score"](spark, sf_dir),
        "containment": lambda: eq["q64_containment"](spark, sf_dir),
        "mask_spans": lambda: eq["q65_mask_spans"](spark, sf_dir),
        "knn_join": lambda: knn_join(
            emb.select("vec_id", "embedding"), k=5, n_cells=16, n_probe=2, iters=3
        ),
        "semantic_dedup": lambda: semantic_dedup(
            emb.select("vec_id", "embedding"),
            threshold=0.35, k=3, n_cells=16, iters=3,
        ),
        "cdc_dedup": lambda: eq["q71_cdc_dedup"](spark, sf_dir),
        "bpe_encode": lambda: bpe_encode(docs_str, bpe_merges()),
        "html_extract": lambda: eq["q72_html_extract"](spark, sf_dir),
        "dsir_weights": lambda: eq["q73_dsir_weights"](spark, sf_dir),
        "sq8_topk": lambda: eq["q75_sq8_topk"](spark, sf_dir),
    }


def run_oracle(sf_dir: str, cpus: str) -> int:
    """Check every queries() entry against its oracle_sql() twin on
    ``sf_dir``; prints one PASS/FAIL line per query and a total, and
    returns the number of failures."""
    import __spark_entry__ as entry
    from pdftableextractor_spark import oracle_gate
    from pdftableextractor_spark.session import build_session

    spark = build_session(app_name="bench-extra-oracle", master=f"local[{cpus}]")
    con = oracle_gate.duckdb_views(sf_dir)
    oracles, queries = entry.oracle_sql(), entry.queries()
    bad = 0
    for name in sorted(oracles):
        try:
            n = oracle_gate.check(queries[name](spark, sf_dir), con, oracles[name])
            print(f"PASS {name} ({n} rows)", flush=True)
        except Exception as e:  # noqa: BLE001
            bad += 1
            print(f"FAIL {name}: {str(e)[:200]}", flush=True)
    print(f"done: {len(oracles) - bad}/{len(oracles)} green")
    spark.stop()
    return bad


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--plans", action="store_true")
    p.add_argument("--out", default="_artifacts/plans")
    p.add_argument("--suffix", default="_before")
    p.add_argument("--time", nargs="*", default=None)
    p.add_argument("--time-all", action="store_true")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--only", nargs="*", default=None,
                   help="restrict --plans to these query names")
    p.add_argument("--oracle", nargs="?", const="sf0.01", default=None,
                   metavar="SF_DIR",
                   help="check every query against its oracle on these "
                   "tables (a name resolves beside the bench tables)")
    args = p.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if args.oracle:
        oracle_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), args.oracle)
        sys.exit(1 if run_oracle(oracle_dir, cpus) else 0)
    sf_name = sf_dir.rstrip("/").split("/")[-1]
    n_synth = {"sf0.001": 100, "sf0.01": 400, "sf0.1": 5000}.get(sf_name, 5000)
    synth_path = _synth_corpus_path(n_synth, seed=42)

    from pdftableextractor_spark.session import build_session

    spark = build_session(app_name="bench-extra", master=f"local[{cpus}]")
    dfs = build_dfs(spark, sf_dir, synth_path)

    if args.plans:
        os.makedirs(args.out, exist_ok=True)
        names = args.only or list(dfs)
        for name in names:
            df = dfs[name]()
            path = os.path.join(args.out, f"{name}{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                ))
            print("wrote", path)

    names = list(dfs) if args.time_all else (args.time or [])
    if names:
        cal_pre = host_calibration()
        timings: dict[str, list[float]] = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            _materialize(dfs[name]())  # warm-up, untimed
            ts = []
            for _ in range(args.runs):
                t0 = time.time()
                _materialize(dfs[name]())
                ts.append(round(time.time() - t0, 3))
            timings[name] = ts
            spark.sparkContext.setJobDescription(None)
        print(json.dumps({
            "timings": timings,
            "min": {k: min(v) for k, v in timings.items()},
            "pre": cal_pre,
            "post": host_calibration(),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
