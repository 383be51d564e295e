"""spark-submit entrypoint for the structuring stage: documents → ONE unified
data-point table matching the reference's row contract.

    spark-submit --py-files engine.zip jobs/structure.py \
        --gen-docs 300 --output /tmp/structured
        [--input documents.parquet] [--master local[8]]

Mirrors the reference's /process + /process_stream dataflow (app.py:240-364)
with every LLM call replaced by its deterministic analog (SURVEY.md §2.9).
Row contract = the reference's df_data row (app.py:267-274):
(source, type, field, value, page, commentary), assembled in reference order:

    0 tables        → 'Table Data'            (app.py:257-277)
    1 key-values    → 'Structured Data'       (app.py:280-296)
    2 text facts    → 'Financial Data'        (app.py:298-318)
    3 footnotes     → 'Footnote'              (app.py:320-335)
      [first-wins dedup + lexical commentary enrichment happens here —
       footnote rows keep their 'Line {n}' default when no lexical match,
       app.py:341-344]
    4 unmatched text→ 'General Commentary'    (app.py:345-364)

Writes one parquet at <output> with a unified per-doc point_id ordered by
(src_rank, offset, seq) — the reference's append order.
"""

from __future__ import annotations

import argparse
import json
import time

# the five sources of the row contract, in reference order
SOURCES = (
    "table", "key_value", "text_fact", "document_footnotes", "document_text",
)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--gen-docs", type=int, default=None)
    p.add_argument("--master", default=None)
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdftableextractor_spark.corpus import write_corpus_parquet
    from pdftableextractor_spark.operators.extract import extract_frames
    from pdftableextractor_spark.operators.structure import (
        pick_commentary_salt,
        unified_data_points,
    )
    from pdftableextractor_spark.session import build_session
    from pdftableextractor_spark.sources.tables import read_path, write_table

    spark = build_session(app_name="structure-job", master=args.master)
    inp = args.input
    if args.gen_docs:
        inp = args.output.rstrip("/") + ".__input__.parquet"
        write_corpus_parquet(inp, args.gen_docs, seed=args.seed)

    t0 = time.time()
    docs = read_path(spark, inp)
    frames = extract_frames(docs)
    salt = pick_commentary_salt(docs)
    # the summary counts ride the write (one Observation): no job re-reads
    # the output
    obs = Observation("structure")
    unified = unified_data_points(frames, commentary_salt=salt).observe(
        obs,
        F.count(F.lit(1)).alias("points"),
        F.count("score").alias("with_commentary"),
        *[F.count(F.when(F.col("source") == s, 1)).alias(s) for s in SOURCES],
    )
    write_table(unified, args.output, mode="overwrite")
    wall = time.time() - t0

    m = obs.get
    print(
        json.dumps(
            {
                "points": m["points"],
                "by_source": {s: m[s] for s in SOURCES},
                "with_commentary": m["with_commentary"],
                "sec": round(wall, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
