"""spark-submit entrypoint: training-data curation over a documents corpus.

    spark-submit --py-files engine.zip jobs/curate.py \
        --input /root/testdata/sf0.1 --output /tmp/curated

One pass over documents(doc_id, text, ...):
  0. html extract         (--html-extract) the text column is RAW HTML:
                          Kohlschütter densometric main-content
                          extraction replaces it with the kept blocks;
                          docs whose every block is boilerplate drop
  1. exact dedup          keep the lowest doc_id per md5(text)
  2. near-dup removal     MinHash-LSH (trigram) pairs -> connected
                          components (large-star/small-star); keep the min
                          doc_id of each duplicate CLUSTER (transitive
                          closure — the industry-standard semantics; pairs
                          (a,c),(b,c) collapse to one survivor, not two)
  2b. semantic dedup      SemDeDup over --semantic-dedup embeddings
                          (vec_id == numeric doc_id): kNN graph at
                          --semantic-threshold -> connected components ->
                          keep the min-id representative per semantic
                          cluster; docs without an embedding pass
                          (skipped when unset)
  3. quality gate         composite quality score >= --min-quality, and/or
                          a RELATIVE per-source gate dropping the bottom
                          --quality-pct fraction of each source
                          (nearest-rank threshold, ties survive)
  4. repetition gate      Gopher-style: dup-sentence fraction and
                          top-bigram fraction below --max-rep
  5. language gate        marker-based lang-id in --langs (best-effort;
                          'und' passes — absence of evidence isn't exclusion)
  5b. fluency gate        corpus-bigram LM mean-transition score >=
                          --min-lm-score (perplexity-filter analog; the
                          model is trained on the survivors of stage 5,
                          exactly like CCNet trains on its own corpus;
                          skipped when unset)
  6. PII scrub            emails/URLs/phones replaced with typed tags
  6b. span masking        cut cross-document duplicated --mask-span-n-gram
                          windows from the text (substring dedup: remove
                          the duplicate, keep the doc — original casing of
                          surviving tokens preserved; emptied docs drop);
                          --mask-min-run floors the cut at merged covered
                          runs of that many tokens (short idioms survive)
  7. decontaminate        drop docs sharing a word n-gram with --benchmark
                          (skipped when no benchmark parquet is given);
                          --fuzzy-decontam T switches to the graded rule —
                          drop only when >= T of a benchmark doc's shingle
                          set is contained in the training doc
  8. mix                  deterministic hash-stratified sampling to
                          --mix 'src=frac,...' targets, or temperature-
                          alpha mixing with --temp-mix 'alpha:budget_frac'
                          (p_s ~ n_s^alpha; skipped when both unset)
  8c. dsir select        (--dsir-target DIR) DSIR importance
                          resampling (Xie et al. 2023): train the
                          hashed-gram target-vs-raw LLR model on the
                          corpus plus the target docs, keep the
                          --dsir-k corpus docs drawn Gumbel-top-k with
                          probability ~ exp(weight/--dsir-temperature);
                          the target docs only shape the model, never
                          compete for selection (skipped when unset)
  9. annotate + shard     token counts + fingerprint (+ n_dup_spans, the
                          count of cross-document repeated --dup-span-n-gram
                          windows, when that flag is set), then token-budget
                          shard packing (--shard-tokens) per source
  9b. tokenize            (--tokenize N) train an N-merge BPE vocabulary
                          on the CURATED corpus (merges.json written next
                          to clean/), annotate every doc with its learned
                          token count (bpe_n_tokens); --shard-by-bpe packs
                          the shards by REAL tokenizer tokens instead of
                          whitespace tokens — the budget production
                          pipelines actually denominate in

Writes <output>/clean (curated corpus with stats + shard_idx columns) and
prints a one-line JSON funnel summary. The funnel is the canonical shape of
an LLM training-data pipeline; every stage is a JVM-side operator from
operators/dedup.py / textstats.py / sampling.py.

The funnel is one lazy pass. A row-local stage (quality, language, PII,
token counts, fingerprint) adds its columns with one projection, never a
self-join; a gate is a (funnel name, condition) pair on them, pending
until the next pin. The frame is pinned only where one lineage feeds two
branches, and each pin applies the gates pending since the last one,
counting every gate's survivors with one Observation on the way: the
pin runs that lineage exactly once, so the counts are exact and cost no
job. Nothing is observed where two branches read a frame, nor below
pack_shards' range exchange, whose bounds sampling runs the lineage too.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="dir with documents.parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument(
        "--quality-pct",
        type=float,
        default=None,
        help="also drop the bottom FRACTION of each source by quality "
        "(relative gate; e.g. 0.2 keeps the best four-fifths of a source)",
    )
    p.add_argument(
        "--min-lm-score",
        type=float,
        default=None,
        help="drop docs whose corpus-bigram LM mean-transition score is "
        "below this (fluency/perplexity-filter analog; skipped when unset)",
    )
    p.add_argument(
        "--dup-span-n",
        type=int,
        default=None,
        help="annotate each doc with n_dup_spans = count of exact n-token "
        "windows shared with >= 2 documents (substring-dedup signal)",
    )
    p.add_argument(
        "--mask-span-n",
        type=int,
        default=None,
        help="CUT every cross-document duplicated n-token window from the "
        "text (Lee et al. substring dedup: remove the duplicate, keep the "
        "doc); docs left empty are dropped",
    )
    p.add_argument(
        "--mask-min-run",
        type=int,
        default=None,
        help="with --mask-span-n: only cut merged covered runs of at "
        "least this many tokens (Lee et al. used 50) — short shared "
        "idioms survive, long boilerplate templates die",
    )
    p.add_argument(
        "--semantic-dedup",
        default=None,
        help="parquet of (vec_id, embedding) with vec_id == numeric "
        "doc_id: SemDeDup stage — kNN graph at --semantic-threshold -> "
        "connected components -> keep one representative per semantic "
        "cluster; docs without an embedding pass un-gated",
    )
    p.add_argument("--semantic-threshold", type=float, default=0.35)
    p.add_argument("--semantic-k", type=int, default=3)
    p.add_argument("--semantic-cells", type=int, default=16)
    p.add_argument(
        "--semantic-probe",
        type=int,
        default=2,
        help="cells probed per query in the semantic kNN (the scale "
        "path); 0 = probe every cell (exact)",
    )
    p.add_argument("--near-dup-threshold", type=float, default=0.5)
    p.add_argument("--langs", default="en,und")
    p.add_argument("--max-rep", type=float, default=0.5)
    p.add_argument(
        "--benchmark",
        default=None,
        help="parquet of held-out eval docs (doc_id, text) to decontaminate "
        "against (word --decontam-n-grams overlap drops the training doc)",
    )
    p.add_argument("--decontam-n", type=int, default=13)
    p.add_argument(
        "--fuzzy-decontam",
        type=float,
        default=None,
        help="containment threshold in (0,1]: use the graded decontamination "
        "rule instead of the exact any-shared-n-gram rule",
    )
    p.add_argument(
        "--mix",
        default=None,
        help="stratified-sampling targets 'src0=0.8,src1=0.5' (per source "
        "column; unlisted sources keep everything)",
    )
    p.add_argument(
        "--temp-mix",
        default=None,
        help="temperature mixing 'alpha:budget_frac' (e.g. '0.7:0.5'): "
        "keep fractions p_s ~ n_s^alpha normalized to the token budget",
    )
    p.add_argument("--shard-tokens", type=int, default=500_000)
    p.add_argument(
        "--html-extract", action="store_true",
        help="the text column is raw HTML: run Kohlschütter main-content "
        "extraction first, drop all-boilerplate docs",
    )
    p.add_argument(
        "--tokenize", type=int, default=None, metavar="N_MERGES",
        help="train an N-merge BPE vocabulary on the curated corpus, "
        "write merges.json, annotate bpe_n_tokens",
    )
    p.add_argument(
        "--shard-by-bpe", action="store_true",
        help="pack shards by learned BPE tokens (requires --tokenize)",
    )
    p.add_argument(
        "--dsir-target", default=None, metavar="DIR",
        help="dir with documents.parquet of TARGET-distribution docs: "
        "run DSIR importance resampling (stage 8c) keeping the "
        "--dsir-k corpus docs most target-like by hashed-gram LLR",
    )
    p.add_argument("--dsir-k", type=int, default=1000)
    p.add_argument(
        "--dsir-temperature", type=float, default=1.0,
        help="Gumbel-top-k temperature: >1 flattens, <1 sharpens the "
        "exp-weighted selection",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args()
    if args.fuzzy_decontam is not None:
        if not (0.0 < args.fuzzy_decontam <= 1.0):
            p.error(
                f"--fuzzy-decontam must be in (0, 1], got "
                f"{args.fuzzy_decontam} (it is a containment FRACTION, "
                "not a percentage)"
            )
        if not args.benchmark:
            p.error("--fuzzy-decontam requires --benchmark")
    if args.shard_by_bpe and args.tokenize is None:
        p.error("--shard-by-bpe requires --tokenize")
    if args.tokenize is not None and args.tokenize < 1:
        p.error("--tokenize must be >= 1")

    from pyspark.sql import Observation, Window
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.dedup import (
        connected_components,
        duplicate_ngram_spans,
        fuzzy_decontaminate,
        mask_duplicate_spans,
        minhash_near_dups,
        ngram_decontaminate,
    )
    from pdftableextractor_spark.operators.sampling import (
        pack_shards,
        stratified_keep_col,
        temperature_mix,
    )
    from pdftableextractor_spark.operators.textstats import (
        bigram_transition_score,
        drop_bottom_percentile,
        fingerprint_cols,
        lang_id_cols,
        quality_score_cols,
        redact_pii_cols,
        repetition_stats,
        token_count_cols,
    )
    from pdftableextractor_spark.plans.pin import pin
    from pdftableextractor_spark.session import build_session
    from pdftableextractor_spark.sources.tables import read_path, write_table

    spark = build_session(app_name="curate-job", master=args.master)
    t0 = time.time()
    docs = read_path(spark, f"{args.input}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )

    # the funnel rule of the module docstring
    observed = []

    def passing(stages):
        keep = F.lit(True)
        for _, cond in stages:
            if cond is not None:
                keep = keep & cond
        return keep

    def gate(df, *stages):
        """``df`` filtered by the gates ``stages`` and pinned, each gate's
        survivors counted on the way (a None condition counts the rows as
        they stand, so it may only lead); helper columns (``__*``) are
        dropped."""
        counts = [
            F.count(F.when(passing(stages[: i + 1]), 1)).alias(name)
            for i, (name, _) in enumerate(stages)
        ]
        obs = Observation()
        observed.append(obs)
        df = df.observe(obs, *counts).filter(passing(stages))
        pinned = pin(df, " > ".join(name for name, _ in stages))
        return pinned.drop(*[c for c in pinned.columns if c.startswith("__")])

    # the input count leads the first pin's stages, except where the raw
    # input is read twice (html extraction and the join back): one count
    n0, stages = None, [("input_docs", None)]
    if args.html_extract:
        from pdftableextractor_spark.operators.html import extract_main_text

        n0 = docs.count()
        main = extract_main_text(docs.select("doc_id", F.col("text").alias("html")))
        # inner join: a doc whose every block classified boilerplate has
        # no main-content row and drops here (nothing left to train on)
        docs = docs.drop("text").join(main, "doc_id")
        stages = [("after_html_extract", None)]

    # exact dedup keeps the lowest doc_id per md5(text). Pinned: the
    # near-dup stage reads it twice (signatures/verify, the anti-join)
    first = F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy("doc_id")
    )
    docs1 = gate(
        docs.select("*", first.alias("__first")),
        *stages,
        ("after_exact_dedup", F.col("__first") == 1),
    )

    pairs = minhash_near_dups(
        docs1, n=3, threshold=args.near_dup_threshold
    )
    losers = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    docs2 = docs1.join(losers, "doc_id", "left_anti")
    stages = [("after_near_dup", None)]

    if args.semantic_dedup:
        from pdftableextractor_spark.operators.dedup import semantic_dedup

        # restrict to the SURVIVING corpus first: representatives must be
        # picked among docs2's ids — clustering over the full embeddings
        # table could elect a representative that earlier stages already
        # dropped, and its whole cluster would then vanish instead of
        # keeping one member
        emb = (
            read_path(spark, args.semantic_dedup)
            .select("vec_id", "embedding")
            .join(
                # try_cast: a non-numeric doc_id simply has no embedding
                # row (ANSI cast would kill the job instead)
                docs2.select(
                    F.expr("try_cast(doc_id AS bigint)").alias("vec_id")
                ).filter(F.col("vec_id").isNotNull()),
                "vec_id",
                "left_semi",
            )
        )
        sd = semantic_dedup(
            emb,
            threshold=args.semantic_threshold,
            k=args.semantic_k,
            n_cells=args.semantic_cells,
            n_probe=args.semantic_probe or None,
        )
        # drop the non-representatives; docs with no embedding pass
        # (absence-of-evidence, the funnel-wide convention). A flag and a
        # gate, not an anti-join: the near-dup count is taken at the next
        # pin, over every row
        sem_losers = sd.filter(~F.col("keep")).select(
            F.col("vec_id").cast("string").alias("doc_id"),
            F.lit(True).alias("__sem_loser"),
        )
        docs2 = docs2.join(sem_losers, "doc_id", "left")
        stages.append(
            ("after_semantic_dedup", F.col("__sem_loser").isNull())
        )

    docs3 = docs2.select("*", quality_score_cols()["quality"])
    stages.append(("after_quality", F.col("quality") >= args.min_quality))
    if args.quality_pct is not None:
        # relative gate on top of the absolute one: histogram threshold per
        # source, broadcast back — the corpus is filtered, never shuffled.
        # Pinned: the histogram and the filter read it
        docs3 = drop_bottom_percentile(gate(docs3, *stages), args.quality_pct)
        stages = [("after_quality_pct", None)]

    # per-doc stats joined 1:1, so the pending gates still count every row
    rep = repetition_stats(docs3.select("doc_id", "text")).select(
        "doc_id", "dup_sent_frac", "top_bigram_frac"
    )
    langs = [x.strip() for x in args.langs.split(",") if x.strip()]
    docs4 = docs3.join(rep, "doc_id").select(
        "*", lang_id_cols()["lang_pred"]
    )
    stages += [
        (
            "after_repetition",
            (F.col("dup_sent_frac") <= args.max_rep)
            & (F.col("top_bigram_frac") <= args.max_rep),
        ),
        ("after_lang", F.col("lang_pred").isin(langs)),
    ]

    if args.min_lm_score is not None:
        # pinned: the LM trains on these survivors and is joined back
        docs4 = gate(docs4, *stages)
        lm = bigram_transition_score(docs4.select("doc_id", "text")).select(
            "doc_id", "lm_score"
        )
        # LEFT join: docs too short to have a bigram get no score — they
        # pass (stage-5 principle: absence of evidence isn't exclusion)
        docs4 = docs4.join(lm, "doc_id", "left")
        stages = [(
            "after_lm_gate",
            (F.col("lm_score") >= args.min_lm_score)
            | F.col("lm_score").isNull(),
        )]

    scrubbed = (
        docs4.select("*", *redact_pii_cols().values())
        .drop("text")
        .withColumnRenamed("clean_text", "text")
    )

    if args.mask_span_n is not None:
        # pinned: the mask reads it three times
        scrubbed = gate(scrubbed, *stages)
        masked = mask_duplicate_spans(
            scrubbed.select("doc_id", "text"),
            n=args.mask_span_n,
            min_run=args.mask_min_run,
        ).select("doc_id", F.col("clean_text").alias("__masked"))
        scrubbed = (
            scrubbed.join(masked, "doc_id")
            .drop("text")
            .withColumnRenamed("__masked", "text")
        )
        stages = [("after_span_mask", F.col("text") != "")]

    if args.benchmark:
        bench = read_path(spark, args.benchmark)
        # pinned: its n-grams and the anti-join read it
        scrubbed = gate(scrubbed, *stages)
        if args.fuzzy_decontam is not None:
            scrubbed = fuzzy_decontaminate(
                scrubbed, bench, n=args.decontam_n,
                threshold=args.fuzzy_decontam,
            )
        else:
            scrubbed = ngram_decontaminate(
                scrubbed, bench, n=args.decontam_n
            )
        stages = [("after_decontaminate", None)]
    if args.mix:
        fracs = {
            k.strip(): float(v)
            for k, v in (kv.split("=") for kv in args.mix.split(","))
        }
        stages.append(
            ("after_mix", stratified_keep_col(fracs, default_fraction=1.0))
        )
    if args.temp_mix:
        alpha, budget = (float(x) for x in args.temp_mix.split(":"))
        # a DIFFERENT seed than the --mix stage: both samplers filter on a
        # per-id hash uniform, and with the same seed the second stage
        # would be fully correlated with the first (composed keep rate
        # min(f1, f2) instead of f1*f2 — the token budget silently doubles).
        # Pinned: the per-source fractions and the sample read it
        scrubbed = temperature_mix(
            gate(scrubbed, *stages), alpha=alpha, budget_frac=budget, seed=13
        )
        stages = [("after_temp_mix", None)]

    if args.dsir_target:
        from pdftableextractor_spark.operators.sampling import dsir_resample

        # pinned: the weight model, the selection and the semi-join read it
        scrubbed = gate(scrubbed, *stages)
        tgt = read_path(
            spark, f"{args.dsir_target}/documents.parquet"
        ).select(
            # prefix keeps target ids from colliding with corpus ids in
            # the union the weight model trains on
            F.concat(F.lit("dsir-tgt:"), F.col("doc_id").cast("string"))
            .alias("doc_id"),
            "text",
            F.lit(True).alias("__dsir_t"),
        )
        un = scrubbed.select(
            "doc_id", "text", F.lit(False).alias("__dsir_t")
        ).unionByName(tgt)
        kept_ids = dsir_resample(
            un,
            F.col("__dsir_t"),
            k=args.dsir_k,
            temperature=args.dsir_temperature,
            select=~F.col("__dsir_t"),
        ).select("doc_id")
        scrubbed = scrubbed.join(kept_ids, "doc_id", "left_semi")
        stages = [("after_dsir_select", None)]

    annotated = scrubbed.select(
        "*", *token_count_cols().values(), *fingerprint_cols().values()
    )
    if args.dup_span_n is not None:
        # the census counts the surviving corpus only
        span_counts = (
            duplicate_ngram_spans(
                scrubbed.filter(passing(stages)).select("doc_id", "text"),
                n=args.dup_span_n,
            )
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_dup_spans"))
        )
        annotated = annotated.join(span_counts, "doc_id", "left").fillna(
            {"n_dup_spans": 0}
        )
    # pinned: pack_shards' range exchange reads it twice (the bounds
    # sample, then the shuffle), and so do BPE training and encoding
    annotated = gate(annotated, *stages)
    n_merges = None
    if args.tokenize is not None:
        from pdftableextractor_spark.operators.tokenize import (
            bpe_encode,
            train_bpe,
        )

        merges = train_bpe(
            annotated.select("doc_id", "text"), n_merges=args.tokenize
        )
        n_merges = len(merges)
        os.makedirs(args.output, exist_ok=True)
        with open(os.path.join(args.output, "merges.json"), "w") as fh:
            json.dump([list(m) for m in merges], fh)
        enc = bpe_encode(annotated.select("doc_id", "text"), merges).select(
            "doc_id", F.col("n_tokens").alias("bpe_n_tokens")
        )
        annotated = annotated.join(enc, "doc_id")

    sharded = pack_shards(
        annotated,
        budget_tokens=args.shard_tokens,
        tokens_col="bpe_n_tokens" if args.shard_by_bpe else "ws_tokens",
    )
    # the shard count rides the write (above pack_shards' pin, which runs
    # the lineage below it once)
    shards = Observation()
    write_table(
        sharded.observe(
            shards,
            F.size(F.collect_set(F.struct("source", "shard_idx"))).alias(
                "shards"
            ),
        ),
        args.output + "/clean",
        mode="overwrite",
    )
    counts = {k: v for o in observed for k, v in o.get.items()}
    summary = {
        "input_docs": counts.get("input_docs", n0),
        **{
            k: counts[k]
            for k in (
                "after_exact_dedup",
                "after_near_dup",
                "after_quality",
                "after_repetition",
                "after_lang",
            )
        },
        "shards": shards.get["shards"],
        "sec": round(time.time() - t0, 3),
    }
    counts["bpe_merges"] = n_merges
    for k in (
        "after_html_extract",
        "bpe_merges",
        "after_semantic_dedup",
        "after_quality_pct",
        "after_lm_gate",
        "after_span_mask",
        "after_decontaminate",
        "after_mix",
        "after_temp_mix",
        "after_dsir_select",
    ):
        if counts.get(k) is not None:
            summary[k] = counts[k]
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
