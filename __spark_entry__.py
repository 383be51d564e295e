"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 plus the training-data curation suite; ``oracle_sql()`` gives
the DuckDB-equivalent SQL for every SQL-expressible one (the rest get the
driver's rows-only check: the sequential chunker A7, the lexical commentary
join J5, the unmatched-paragraph sessionization A8, and the Arrow-kernel
multimodal feature extraction).

Naming discipline: every computed column is aliased identically in the Spark
query and the oracle SQL; numeric outputs are cast to bigint/double on both
sides so the driver's schema + value-hash comparison is byte-stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdftableextractor_spark.corpus import (
    BOILER_LINES,
    FOOTNOTE_TEMPLATES,
    interleave_flat_documents,
)
from pdftableextractor_spark.functions.strings import (
    NUMERIC_FRAGMENT_RE,
    has_footnote_refs_col,
    is_footnote_col,
    normalize_text_col,
    normalize_text_sql,
)
from pdftableextractor_spark.operators.dedup import (
    tokenize_col,
    MINHASH_P,
    connected_components,
    embedding_near_dups,
    embedding_near_dups_unlabeled,
    exact_dedup,
    minhash_coeffs,
    minhash_near_dups_incremental,
    minhash_signatures,
    containment_pairs,
    duplicate_ngram_spans,
    fuzzy_decontaminate,
    mask_duplicate_spans,
    ngram_decontaminate,
    ngram_jaccard_pairs,
    semantic_dedup,
    semantic_dedup_incremental,
    simhash_near_dups,
    simhash_near_dups_multiband,
    simhash_signatures,
)
from pdftableextractor_spark.operators.ranking import bm25_scores
from pdftableextractor_spark.operators.temporal import asof_join, range_join
from pdftableextractor_spark.operators.extract import (
    extract_frames,
    extract_spans,
)
from pdftableextractor_spark.operators.similarity import (
    lsh_planes,
    cosine_topk,
    ivf_topk,
    kmeans_cells,
    knn_join,
    lsh_topk,
)
from pdftableextractor_spark.operators.structure import (
    FACT_PATTERNS,
    all_data_points,
    chunk_lines,
    dedup_first_wins,
    footnote_points,
    kv_points,
    lexical_commentary,
    table_points,
    text_fact_points,
    unified_data_points,
)
from pdftableextractor_spark.operators.sampling import (
    pack_shards,
    stratified_sample,
    temperature_mix,
    weighted_sample,
)
from pdftableextractor_spark.operators.multimodal import (
    _CDC_GEAR,
    binary_near_dups,
    extract_features,
    resize_assets,
    sample_frames_decoded,
    synth_assets,
)
from pdftableextractor_spark.operators.textstats import (
    EMAIL_RE,
    LANG_MARKERS,
    PHONE_RE,
    STOPWORDS,
    TOKEN_RE,
    URL_RE,
    drop_common_lines,
    fingerprint,
    lang_id,
    line_doc_frequency,
    quality_score,
    redact_pii,
    repetition_stats,
    token_count,
    corpus_length_stats,
    vocab_topk,
    drop_bottom_percentile,
    bigram_transition_score,
)
from pdftableextractor_spark.types import US

SF_DEFAULT = "/root/testdata/sf0.001"

# queries demoted past the driver's 50-entry verification window (see the
# ordering-policy comment at the end of queries()); every entry here must be
# subsumed-by or strictly simpler than an in-window query and driver-green in
# a previous round — they still run in the per-session sf0.001 preflight
DRIVER_TAIL = [
    # round-6 rotation: the 8 r3-era entries (q20/q21/q26/q29/q43/q54/
    # q56/q57) are back inside the window this round as promised in r5;
    # the 8 below were rotated IN last round, all carry fresh green r5
    # driver rows, and step out for one round — each is subsumed by an
    # in-window query:
    # q04 line numbering (W1) and q05 context frames (W2) are the window
    # ingredients q16/q38 rebuild end-to-end; q09 top-1 (O3) is q16's
    # max_by argmax; q10 top-k (O4) is q67's window-free per-group
    # reduce; q12 grid pivot (A2) runs inside q17's extraction pipeline;
    # q19 minhash signatures are stage one of q55's incremental store;
    # q22 shingle-Jaccard pairs share the tokenize→shingle→pair
    # machinery q64's containment PPJoin tightens; q24 brute cosine
    # top-k is q25's IVF probe without the pruning (same kernel)
    "q04_line_numbering",
    "q05_context_window",
    "q09_top1_per_group",
    "q10_topk_per_group",
    "q12_grid_pivot",
    "q19_minhash_sig",
    "q22_ngram_jaccard",
    "q24_cosine_topk",
    # demoted this round to make room (each r4-driver-green, stable since
    # r2/r3, and subsumed by an in-window query): q01-q03/q06 are the
    # normalize/length/footnote/dedup ingredients the q16/q36/q37/q38
    # pipeline queries re-exercise end-to-end; q18 exact dedup ⊂ q55's
    # incremental store + the curate funnel; q23 labeled near-dups ⊂ q48's
    # unlabeled variant (same kernel + blocking); q27 quality_score is
    # composed directly by in-window q61; q28 lang-id and q45 PII are
    # single-pass expression maps pinned by pytest + the curate funnel
    "q01_normalize_lines",
    "q02_substantial_filter",
    "q03_footnote_flags",
    "q06_dedup_first_wins",
    "q18_exact_dedup",
    "q23_embedding_near_dups",
    "q27_quality_score",
    "q28_lang_id",
    "q45_redact_pii",
    # q46 demoted when q68 (mask min_run) joined the window: single-pass
    # array-ops map, pytest-pinned, exercised by the curate funnel
    "q46_repetition_stats",
    # q11 demoted when q69 (semantic dedup) joined the window: the
    # 4-source union warm-up ⊂ q37/q38's full five-source row contract
    "q11_union_sources",
    # q30 demoted when q70 (incremental semantic dedup) joined the
    # window: metadata projection ⊂ q40's resize plumbing (parity core,
    # in-window) + the decode/kernel pytest suite
    "q30_multimodal_meta",
    # q44 demoted when q71 (CDC binary dedup) joined the window: q44 is
    # in-window q43's line-frequency census + a broadcast semi-join
    # prune, driver-green r4/r5, pytest-pinned
    "q44_drop_common_lines",
    # q35 demoted when q72 (HTML main-content extraction) joined the
    # window (q41 is PARITY_CORE and stays): the LSH-bucketed cosine
    # probe shares its blocking machinery with in-window q47's multiband
    # signatures and its ANN contract with in-window q25 (IVF) and q67
    # (knn_join); driver-green r3/r4/r5, unchanged since r3
    "q35_lsh_topk",
    # q49 demoted when q73 (DSIR importance weights) joined the window:
    # exact any-shared-gram decontamination is the degenerate case of
    # in-window PARITY_CORE q66's graded containment decontamination
    # (same bench/corpus split, same shingle machinery, threshold -> any);
    # driver-green r3/r4/r5, unchanged since r3
    "q49_decontaminate",
    # q50 demoted when q74 (DSIR resampling) joined the window: fixed
    # per-stratum hash sampling is the inner primitive of in-window
    # q54's temperature mix (same _uniform_col keep rule; q54 only adds
    # the computed fractions) and q74 itself is the weighted successor;
    # driver-green r3/r4/r5, unchanged since r3
    "q50_stratified_sample",
    # q25 demoted when q75 (SQ8 quantized rerank) joined the window: the
    # coarse single-query IVF probe is in-window q67's cell-blocked
    # kernel machinery in single-query form, its centroid fit is
    # in-window q39, and q75 now carries the ANN candidate-cut + exact
    # round-6 rerank contract; driver-green r3/r4/r5, unchanged since r2
    "q25_ivf_topk",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_str(spark, sf_dir):
    """documents with doc_id as string (the engine's doc_id type)."""
    return _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )


def _sentence_lines(docs):
    """Portable sentence split of the flat documents table → numbered lines."""
    sents = F.split(
        F.regexp_replace(F.col("text"), r"([.!?]) ", "$1\x1e"), "\x1e"
    )
    return docs.select(
        "doc_id", F.posexplode(sents).alias("line_no", "text")
    ).select("doc_id", F.col("line_no").cast("int").alias("line_no"), "text")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleave the sf0.001 documents table into the spans data
    model and run the full extraction pipeline."""
    return q_extract_pipeline(spark, SF_DEFAULT)


def q_extract_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = interleave_flat_documents(_t(spark, sf_dir, "documents"))
    return extract_spans(docs)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ----- extraction-operator analogs (SURVEY.md §2) -----
    q["q01_normalize_lines"] = lambda s, d: _docs_str(s, d).select(
        "doc_id", normalize_text_col("text").alias("norm_text")
    )

    q["q02_substantial_filter"] = lambda s, d: (
        _t(s, d, "documents")
        .filter((F.trim("text") != "") & (F.col("n_chars") > 200))
        .select("doc_id", "n_chars")
    )

    def q03(s, d):
        docs = _docs_str(s, d)
        return docs.select(
            "doc_id",
            is_footnote_col("text").alias("is_footnote"),
            has_footnote_refs_col("text").alias("has_refs"),
        )

    q["q03_footnote_flags"] = q03

    q["q04_line_numbering"] = lambda s, d: _t(s, d, "events").select(
        "event_id",
        "user_id",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("bigint")
        .alias("line_no"),
    )

    q["q05_context_window"] = lambda s, d: _t(s, d, "events").select(
        "event_id",
        F.round(
            F.sum(F.col("value").cast("decimal(20,6)")).over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(-1, 2)
            ),
            6,
        ).cast("double").alias("ctx_sum"),
    )

    q["q06_dedup_first_wins"] = lambda s, d: (
        _t(s, d, "events")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "event_type").orderBy(
                    "ts", "event_id"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )

    def q07(s, d):
        # the NTZ→TIMESTAMP→long epoch cast is session-timezone-dependent;
        # a non-UTC driver session crossing a DST jump would distort gaps
        # vs the oracle's naive date_diff — pin UTC (runtime-settable)
        s.conf.set("spark.sql.session.timeZone", "UTC")
        e = _t(s, d, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        epoch = F.col("ts").cast("timestamp").cast("long")
        gap = epoch - F.lag(epoch).over(w)
        sess = (
            e.withColumn(
                "brk",
                F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
            )
            .withColumn("session_id", F.sum("brk").over(w).cast("bigint"))
        )
        return sess.groupBy("user_id", "session_id").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(20,6)")), 6
            ).cast("double").alias("val_sum"),
        )

    q["q07_sessionize"] = q07

    def q08(s, d):
        # customers with no high-value order (non-empty at every SF; a plain
        # customer-minus-orders anti-join is vacuously empty in this data)
        c = _t(s, d, "customer")
        od = _t(s, d, "orders").filter(F.col("o_totalprice") > 400000)
        return c.join(
            od, c["c_custkey"] == od["o_custkey"], "left_anti"
        ).select("c_custkey", "c_name")

    q["q08_anti_join"] = q08

    q["q09_top1_per_group"] = lambda s, d: (
        _t(s, d, "orders")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("o_custkey").orderBy(
                    F.desc("o_totalprice"), F.asc("o_orderkey")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )

    q["q10_topk_per_group"] = lambda s, d: (
        _t(s, d, "orders")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("o_custkey").orderBy(
                    F.desc("o_totalprice"), F.asc("o_orderkey")
                )
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rn").cast("bigint").alias("rn"))
    )

    def q11(s, d):
        p = _t(s, d, "part").select(
            F.col("p_name").alias("name"), F.lit("part").alias("src")
        )
        su = _t(s, d, "supplier").select(
            F.col("s_name").alias("name"), F.lit("supplier").alias("src")
        )
        return p.unionByName(su)

    q["q11_union_sources"] = q11

    q["q12_grid_pivot"] = lambda s, d: (
        _t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            *[
                F.round(
                    F.sum(
                        F.when(
                            F.col("l_linestatus") == st,
                            F.col("l_quantity").cast("decimal(20,6)"),
                        ).otherwise(F.lit(0).cast("decimal(20,6)"))
                    ),
                    6,
                ).cast("double").alias(f"qty_{st.lower()}")
                for st in ("F", "O")
            ]
        )
    )

    def q13(s, d):
        from pdftableextractor_spark.plans.skew import (
            spread_underparallel_scan,
        )

        # the testdata lineitem is one fat row group → the decimal partial
        # aggregation (the expensive part) would run on ONE scan task; the
        # guard repartitions only when the scan under-parallelizes (no-op
        # on a many-split table) — round-7, measured 1.53 → 0.91 s. Filter
        # first (pushdown reaches the scan untouched) and salt on a column
        # the query already reads, so pruning stays at the 7 needed columns
        li = spread_underparallel_scan(
            _t(s, d, "lineitem").filter(
                F.col("l_shipdate")
                <= F.lit("2024-09-01").cast("timestamp_ntz")
            ),
            "l_shipdate",
        )
        dec = lambda c: F.col(c).cast("decimal(20,6)")
        disc_price = (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).cast("decimal(20,6)")
        charge = (
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).cast("decimal(20,6)")
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.round(F.sum(dec("l_quantity")), 4).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 4).cast("double").alias(
                "sum_base_price"
            ),
            F.round(F.sum(disc_price), 4).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 4).cast("double").alias("sum_charge"),
            F.round(F.avg(dec("l_quantity")).cast("double"), 4).alias("avg_qty"),
            F.round(F.avg(dec("l_extendedprice")).cast("double"), 4).alias(
                "avg_price"
            ),
            F.round(F.avg(dec("l_discount")).cast("double"), 4).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )

    q["q13_pricing_summary"] = q13

    q["q14_extract_numbers"] = lambda s, d: _t(s, d, "events").select(
        "event_id",
        F.explode(
            F.regexp_extract_all(
                F.col("props"), F.lit(NUMERIC_FRAGMENT_RE), F.lit(0)
            )
        ).alias("num"),
    )

    # ----- kernels without SQL equivalents (rows-only checks) -----
    q["q15_chunker"] = lambda s, d: chunk_lines(
        _sentence_lines(_docs_str(s, d)), max_lines=5
    )

    def q16(s, d):
        # one data point per doc whose value is a prefix of its own text →
        # the scorer must find it (substring match, +10) and attach the
        # −1/+3 context window; exercises scoring, argmax and truncation on
        # every row (regex fact extraction finds nothing in this corpus's
        # synthetic prose, which would make the check vacuous)
        docs = _docs_str(s, d)
        lines = _sentence_lines(docs)
        pts = docs.select(
            "doc_id",
            F.lit(0).cast("int").alias("point_id"),
            F.lit("content sample").alias("field"),
            F.substring(F.col("text"), 1, 20).alias("value"),
        )
        return lexical_commentary(pts, lines).select(
            "doc_id",
            "point_id",
            F.col("line_no").cast("bigint").alias("line_no"),
            F.col("score").cast("bigint").alias("score"),
            "commentary",
        )

    q["q16_lexical_commentary"] = q16

    q["q17_extract_pipeline"] = q_extract_pipeline

    # ----- dedup suite -----
    q["q18_exact_dedup"] = lambda s, d: exact_dedup(_docs_str(s, d)).select(
        "doc_id", "content_hash", F.col("group_size").cast("bigint").alias("group_size")
    )

    def q19(s, d):
        sigs = minhash_signatures(_docs_str(s, d), n=1, num_hashes=8)
        return sigs.select(
            "doc_id",
            F.col("sig")[0].alias("s0"),
            F.col("sig")[1].alias("s1"),
            F.col("sig")[7].alias("s7"),
            F.md5(
                F.concat_ws(US, *[F.col("sig")[i] for i in range(4)])
            ).alias("band0"),
        )

    q["q19_minhash_sig"] = q19

    q["q20_simhash"] = lambda s, d: simhash_signatures(_docs_str(s, d))

    q["q21_simhash_pairs"] = lambda s, d: simhash_near_dups(
        _docs_str(s, d), max_hamming=30
    ).select(
        "doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming")
    )

    # multi-band SimHash (full-recall variant, exact for hamming < 5 bands)
    q["q47_simhash_multiband"] = lambda s, d: simhash_near_dups_multiband(
        _docs_str(s, d), max_hamming=30
    ).select(
        "doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming")
    )

    # embedding near-dups with NO label column: k-means cells as blocks
    q["q48_embed_dups_unlabeled"] = lambda s, d: (
        embedding_near_dups_unlabeled(
            _t(s, d, "embeddings").select("vec_id", "embedding"),
            k=8,
            threshold=0.35,
            # oracle replicates the full-corpus Lloyd fit (see q39 note)
            fit_sample_per_cell=None,
        )
    )

    q["q22_ngram_jaccard"] = lambda s, d: ngram_jaccard_pairs(
        _docs_str(s, d), block_col="source", threshold=0.4
    )

    # near-dup CLUSTERS: transitive closure of the q22 pair graph via
    # alternating large-star/small-star; every doc labeled with its
    # component's min doc_id (singletons label themselves)
    def q52(s, d):
        docs = _docs_str(s, d)
        cc = connected_components(
            ngram_jaccard_pairs(docs, block_col="source", threshold=0.4)
        )
        return docs.join(
            cc.withColumnRenamed("node", "doc_id"), "doc_id", "left"
        ).select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )

    q["q52_dup_clusters"] = q52

    # incremental near-dup: the doc_id%5==0 slice arrives as a NEW batch
    # against the standing corpus; pairs must involve >= 1 new doc.
    # num_hashes=16 (4 bands x 4 rows) keeps the oracle's cross join small;
    # the engine path is the same code as the 64-hash default.
    def q55(s, d):
        docs = _docs_str(s, d)
        is_new = F.col("doc_id").cast("bigint") % 5 == 0
        return minhash_near_dups_incremental(
            docs.filter(is_new),
            docs.filter(~is_new),
            n=1,
            threshold=0.5,
            num_hashes=16,
        )

    q["q55_incremental_dups"] = q55

    # ----- corpus composition: decontamination / mixing / shard packing -----
    def q49(s, d):
        # benchmark = every 20th doc; survivors = the rest minus any doc
        # sharing a word 3-gram with the benchmark (GPT-3 appendix-C rule;
        # n=3 so the synthetic corpus actually has collisions to drop)
        docs = _docs_str(s, d)
        is_bench = F.col("doc_id").cast("bigint") % 20 == 0
        return ngram_decontaminate(
            docs.filter(~is_bench), docs.filter(is_bench), n=3
        ).select("doc_id")

    q["q49_decontaminate"] = q49

    q["q50_stratified_sample"] = lambda s, d: stratified_sample(
        _docs_str(s, d),
        {"src0": 0.8, "src1": 0.5, "src2": 0.25},
        default_fraction=0.1,
    ).select("doc_id", "source")

    # temperature-alpha mixture sampling (p_s ~ n_s^alpha): fractions
    # computed distributed, broadcast back, deterministic hash keep-rule
    # Efraimidis-Spirakis weighted sample: 25 docs per source, weight =
    # document length (longer docs proportionally likelier)
    q["q60_weighted_sample"] = lambda s, d: weighted_sample(
        _docs_str(s, d), "n_chars", k=25, stratum_col="source"
    ).select("doc_id", "source")

    q["q54_temperature_mix"] = lambda s, d: temperature_mix(
        _docs_str(s, d), alpha=0.5, budget_frac=0.5
    ).select("doc_id", "source")

    q["q51_pack_shards"] = lambda s, d: pack_shards(
        _docs_str(s, d).select(
            "doc_id",
            "source",
            F.size(tokenize_col(F.col("text")))
            .cast("bigint")
            .alias("n_tokens"),
        ),
        budget_tokens=2000,
    ).select(
        "doc_id",
        "source",
        "n_tokens",
        F.col("shard_idx").cast("bigint").alias("shard_idx"),
    )

    q["q23_embedding_near_dups"] = lambda s, d: embedding_near_dups(
        _t(s, d, "embeddings"), block_col="label", threshold=0.35
    )

    # ----- similarity search -----
    def _qvec(s, d):
        return (
            _t(s, d, "embeddings").filter(F.col("vec_id") == 0).collect()[0][
                "embedding"
            ]
        )

    q["q24_cosine_topk"] = lambda s, d: cosine_topk(
        _t(s, d, "embeddings"), _qvec(s, d), k=10
    )
    q["q25_ivf_topk"] = lambda s, d: ivf_topk(
        _t(s, d, "embeddings"), _qvec(s, d), nprobe=2
    )
    q["q35_lsh_topk"] = lambda s, d: lsh_topk(
        _t(s, d, "embeddings"), _qvec(s, d)
    )

    # kmeans cell assignment (IVF without labels): deterministic Lloyd
    # iterations over the embeddings table, labels IGNORED
    # fit_sample_per_cell=None: the oracle unrolls Lloyd over the WHOLE
    # table, so the engine must fit full-corpus too (the sampled default
    # is the scale path, explicitly opted out for parity — same rule as
    # n_probe=None on the exact-mode queries)
    q["q39_kmeans_cells"] = lambda s, d: kmeans_cells(
        _t(s, d, "embeddings").select("vec_id", "embedding"), k=8, iters=3,
        fit_sample_per_cell=None,
    ).select("vec_id", F.col("cell").cast("bigint").alias("cell"))

    # ----- text analysis -----
    q["q26_token_count"] = lambda s, d: token_count(_docs_str(s, d)).select(
        "doc_id",
        F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.col("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        F.col("chars").cast("bigint").alias("chars"),
    )
    q["q27_quality_score"] = lambda s, d: quality_score(_docs_str(s, d))

    def q28(s, d):
        out = lang_id(_docs_str(s, d))
        return out.select(
            "doc_id",
            *[
                F.col(f"hits_{lg}").cast("bigint").alias(f"hits_{lg}")
                for lg in sorted(LANG_MARKERS)
            ],
            "lang_pred",
        )

    q["q28_lang_id"] = q28

    q["q29_fingerprint"] = lambda s, d: fingerprint(_docs_str(s, d))

    # BM25 lexical relevance for a 3-term query; score rounded for the
    # cross-engine compare (double math is order-matched with the oracle)
    # per-source corpus shape: exact interpolated percentiles
    # vocabulary induction: top-100 terms, deterministic tiebreak
    # as-of join (a primitive Spark lacks): each purchase enriched with the
    # user's most recent click at-or-before it — union + last-ignorenulls
    # window, one shuffle, no per-key loops
    def q58(s, d):
        ev = _t(s, d, "events")
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        right = ev.filter(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"), "ts"
        )
        j = asof_join(left, right, on="user_id", seq_col="click_id")
        return j.select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.round("value", 6).alias("value"),
            F.col("r_click_id").alias("click_id"),
            F.unix_micros(F.col("r_ts").cast("timestamp")).alias("click_ts_us"),
        )

    q["q58_asof_join"] = q58

    # bucketed range join (the other Spark-missing primitive): every
    # purchase within the 1-hour window after an error by the same user.
    # Buckets are internal — output equals the plain range predicate.
    def q59(s, d):
        ev = _t(s, d, "events")
        HOUR = 3_600_000_000
        left = ev.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("p_ts_us"),
        )
        right = ev.filter(F.col("event_type") == "error").select(
            "user_id",
            F.col("event_id").alias("error_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("e_start_us"),
            (F.unix_micros(F.col("ts").cast("timestamp")) + HOUR).alias(
                "e_end_us"
            ),
        )
        return range_join(
            left, right, "user_id", "p_ts_us", "e_start_us", "e_end_us",
            bucket_width=HOUR,
        ).select("user_id", "purchase_id", "p_ts_us", "error_id")

    q["q59_range_join"] = q59

    q["q57_vocab_topk"] = lambda s, d: vocab_topk(_docs_str(s, d), k=100)

    q["q56_corpus_stats"] = lambda s, d: corpus_length_stats(
        _docs_str(s, d)
    ).select("stratum", "n_docs", "mean_tokens", "p50_tokens", "p95_tokens")

    q["q53_bm25"] = lambda s, d: bm25_scores(
        _docs_str(s, d), ["scan", "spark", "table"]
    ).select("doc_id", F.round("score", 6).alias("bm25"))

    # cross-doc line-frequency dedup (CCNet-style): the interleave's raw
    # text lines plant 7 recurring footnote templates — high doc_freq —
    # among unique body sentences
    def _raw_text_lines(s, d):
        from pdftableextractor_spark.operators.extract import explode_spans

        return explode_spans(
            interleave_flat_documents(_t(s, d, "documents"))
        ).filter(F.col("kind") == "text").select("doc_id", "offset", "text")

    q["q43_line_doc_freq"] = lambda s, d: line_doc_frequency(
        _raw_text_lines(s, d)
    )

    q["q44_drop_common_lines"] = lambda s, d: drop_common_lines(
        _raw_text_lines(s, d)
    ).select("doc_id", F.col("offset").cast("bigint").alias("offset"), "text")

    # PII redaction: append a deterministic PII tail per doc so every row
    # exercises all three patterns (the corpus itself is PII-free)
    def q45(s, d):
        docs = _docs_str(s, d).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" Contact: user"),
                F.col("doc_id"),
                F.lit("@example.com or https://ex.com/"),
                F.col("doc_id"),
                F.lit(" phone +1 555-000-"),
                F.col("doc_id"),
            ).alias("text"),
        )
        return redact_pii(docs)

    q["q45_redact_pii"] = q45

    # Gopher-style repetition filters (Rae et al. 2021 family)
    q["q46_repetition_stats"] = lambda s, d: repetition_stats(
        _docs_str(s, d)
    )

    # ----- multimodal plumbing -----
    q["q30_multimodal_meta"] = lambda s, d: extract_features(
        synth_assets(_docs_str(s, d))
    ).select("asset_id", "kind", "n_bytes", "sha")

    # resize + frame-sample plumbing (codec outputs are deterministic
    # sha-derived fakes; the schema/fan-out/partitioning are the real parts)
    q["q40_resize_plumbing"] = lambda s, d: resize_assets(
        synth_assets(_docs_str(s, d)), 640, 480
    ).select(
        "asset_id",
        "kind",
        F.col("meta.width").cast("bigint").alias("width"),
        F.col("meta.height").cast("bigint").alias("height"),
        F.lower(F.hex(F.col("payload"))).alias("resized_sha"),
    )

    q["q41_frame_sample"] = lambda s, d: sample_frames_decoded(
        synth_assets(_docs_str(s, d)), every_ms=5000
    ).select(
        "asset_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("ts_ms").cast("bigint").alias("ts_ms"),
        F.lower(F.hex(F.col("frame"))).alias("frame_sha"),
    )

    # P9: recursive nested flatten → JS-style (path, value) rows
    def q42(s, d):
        from pdftableextractor_spark.operators.export import flatten_nested

        return flatten_nested(interleave_flat_documents(_t(s, d, "documents")))

    q["q42_flatten_nested"] = q42

    # ----- dynamic-schema export (P10 column union) -----
    def q31(s, d):
        from pdftableextractor_spark.operators.export import key_union_pivot

        p = _t(s, d, "part")
        m = F.map_filter(
            F.create_map(
                F.lit("Category"), F.col("p_brand"),
                F.lit("Value 1"), F.col("p_type"),
                F.lit("Value 2"),
                F.when(
                    F.col("p_size") > 25, F.col("p_size").cast("string")
                ).otherwise(F.lit(None)),
            ),
            lambda k, v: v.isNotNull(),
        )
        return key_union_pivot(p.select(m.alias("data")))

    q["q31_column_union"] = q31

    # ----- relational surface: broadcast join pyramid, scalar subquery,
    # rollup (the star-join shape every downstream analyst query takes) -----
    def q32(s, d):
        c = _t(s, d, "customer")
        od = _t(s, d, "orders")
        n = _t(s, d, "nation")
        r = _t(s, d, "region")
        # dims are tiny → broadcast; the fact-side join is the only shuffle
        j = (
            od.join(c, od["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        )
        return j.groupBy("r_name").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(20,6)")), 4
            ).cast("double").alias("total_price"),
        )

    q["q32_star_join_agg"] = q32

    def q33(s, d):
        c = _t(s, d, "customer")
        avg_bal = c.agg(
            F.avg(F.col("c_acctbal").cast("decimal(20,6)")).alias("a")
        )
        return (
            c.join(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("a").cast("double"))
            .select("c_custkey", "c_name")
        )

    q["q33_above_avg_balance"] = q33

    # ----- footnote data points + the unified multi-source row contract -----
    def q36(s, d):
        frames = extract_frames(
            interleave_flat_documents(_t(s, d, "documents"))
        )
        return footnote_points(frames["footnotes"]).select(
            "doc_id",
            F.col("offset").cast("bigint").alias("line_no"),
            "source",
            "type",
            "field",
            "value",
            "page",
            F.col("commentary_default").alias("commentary"),
        )

    q["q36_footnote_points"] = q36

    def q37(s, d):
        frames = extract_frames(
            interleave_flat_documents(_t(s, d, "documents"))
        )
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
        return pts.select(
            "doc_id",
            (F.row_number().over(w) - 1).cast("bigint").alias("point_id"),
            "source",
            "type",
            "field",
            "value",
            "page",
        )

    q["q37_unified_points"] = q37

    def q38(s, d):
        # the COMPLETE reference dataflow (app.py:240-364): 4-source union +
        # dedup + lexical commentary (with footnote 'Line {n}' fallback) +
        # unmatched-text General Commentary rows — end-to-end
        frames = extract_frames(
            interleave_flat_documents(_t(s, d, "documents"))
        )
        return unified_data_points(frames).select(
            "doc_id",
            F.col("point_id").cast("bigint").alias("point_id"),
            "source",
            "type",
            "field",
            "value",
            "page",
            "raw_data",
            "commentary",
            "has_commentary",
            F.col("score").cast("bigint").alias("score"),
            F.col("matched_line").cast("bigint").alias("matched_line"),
        )

    q["q38_unified_full"] = q38

    q["q34_rollup"] = lambda s, d: (
        _t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(20,6)")), 4
            ).cast("double").alias("qty"),
        )
    )

    # ----- round-4 curation operators -----
    # per-stratum quality gate: drop the bottom 20% of each source by the
    # composite quality score (nearest-rank threshold, ties survive)
    def q61(s, d):
        docs = _docs_str(s, d)
        scored = quality_score(docs).join(
            docs.select("doc_id", "source"), "doc_id"
        )
        return drop_bottom_percentile(scored, 0.2).select(
            "doc_id", "source", "quality"
        )

    q["q61_quality_gate"] = q61

    # cross-document repeated 4-gram spans (substring-dedup primitive)
    q["q62_dup_spans"] = lambda s, d: duplicate_ngram_spans(
        _docs_str(s, d), n=4
    ).select(
        "doc_id",
        F.col("start_pos").cast("bigint").alias("start_pos"),
        "gram",
        "n_docs",
    )

    # corpus-bigram LM fluency score (perplexity-filter analog)
    q["q63_lm_score"] = lambda s, d: bigram_transition_score(
        _docs_str(s, d)
    ).select("doc_id", "n_bigrams", "lm_score")

    # asymmetric containment pairs: the dup class Jaccard misses (a small
    # doc quoted whole inside a large one); prefix-filter candidates
    q["q64_containment"] = lambda s, d: containment_pairs(
        _docs_str(s, d), threshold=0.5
    ).select("doc_a", "doc_b", "inter", "size_a", "size_b", "containment")

    # substring-dedup consume side: cut every duplicated 4-gram window,
    # keep the document (fully-duplicated docs come back empty, not dropped)
    q["q65_mask_spans"] = lambda s, d: mask_duplicate_spans(
        _docs_str(s, d), n=4
    ).select("doc_id", "clean_text", "n_tokens", "n_removed")

    # q68: the Lee-et-al run-length floor on the same masking — adjacent
    # covered positions merge into runs and only runs >= 8 tokens are cut
    # (a short shared idiom survives; long boilerplate templates die)
    q["q68_mask_spans_minrun"] = lambda s, d: mask_duplicate_spans(
        _docs_str(s, d), n=4, min_run=8
    ).select("doc_id", "clean_text", "n_tokens", "n_removed")

    # containment-based decontamination: same bench/corpus split as q49,
    # but graded — drop only when >= 50% of a bench doc's trigram set is
    # contained (the exact any-shared-gram rule over-kills)
    def q66(s, d):
        docs = _docs_str(s, d)
        is_bench = F.col("doc_id").cast("bigint") % 20 == 0
        return fuzzy_decontaminate(
            docs.filter(~is_bench), docs.filter(is_bench), n=3,
            threshold=0.5,
        ).select("doc_id")

    q["q66_fuzzy_decontaminate"] = q66

    # distributed k-NN join in EXACT mode (n_probe=None probes every
    # cell, so the result is the blocked brute force — independent of the
    # k-means fit); the approximate path is pinned by the recall test
    q["q67_knn_join"] = lambda s, d: knn_join(
        _t(s, d, "embeddings").select("vec_id", "embedding"),
        k=3, n_cells=8, n_probe=None, iters=2,
    )

    # q69 SemDeDup: exact kNN-3 graph at cos >= 0.35 -> connected
    # components -> one kept representative (min id) per semantic cluster
    q["q69_semantic_dedup"] = lambda s, d: semantic_dedup(
        _t(s, d, "embeddings").select("vec_id", "embedding"),
        threshold=0.35, k=3, n_cells=8, n_probe=None, iters=2,
    )

    # q70 incremental SemDeDup: the q55 cadence for embeddings — new
    # batch (vec_id % 5 == 0) clustered within itself, probed against
    # the standing corpus; clusters with any old neighbor >= 0.35 drop
    def q70(s, d):
        emb = _t(s, d, "embeddings").select("vec_id", "embedding")
        is_new = F.col("vec_id") % 5 == 0
        return semantic_dedup_incremental(
            emb.filter(is_new), emb.filter(~is_new),
            threshold=0.35, k=3, n_cells=8, n_probe=None, iters=2,
        )

    q["q70_semantic_incremental"] = q70

    # q71 CDC binary dedup: byte-level containment pairs over
    # content-defined chunks — assets are each document's utf-8 bytes
    # plus a deterministic TRUNCATED-transfer variant (the dup class the
    # operator exists for); min_size=1 / huge max_size disables the
    # sequential skip-ahead so the DuckDB oracle can express boundaries
    # as pure candidate positions of the gear hash
    def q71(s, d):
        # the OPERATOR is byte-true (it chunks whatever bytes it is
        # given); the driver pins parity on a printable-ASCII projection
        # of the text because DuckDB 1.0 has no blob substring/sha256 —
        # its oracle walks VARCHAR characters, which equal UTF-8 bytes
        # only for ASCII. Projecting BOTH sides makes the equivalence
        # hold by construction instead of by corpus accident
        base = _docs_str(s, d).select(
            "doc_id",
            F.regexp_replace("text", r"[^\x20-\x7E]", "").alias("text"),
        )
        assets = base.select(
            F.concat(F.lit("o-"), "doc_id").alias("asset_id"),
            F.encode("text", "utf-8").alias("payload"),
        ).unionByName(
            base.select(
                F.concat(F.lit("t-"), "doc_id").alias("asset_id"),
                F.encode(
                    F.expr(
                        "substring(text, 1,"
                        " greatest(length(text) div 2, 1))"
                    ),
                    "utf-8",
                ).alias("payload"),
            )
        )
        return binary_near_dups(
            assets, threshold=0.5, avg_bits=6, min_size=1,
            max_size=1 << 30, max_chunk_df=200,
        )

    q["q71_cdc_dedup"] = q71

    # q72 HTML main-content extraction: the north-star's DOM tag/density
    # heuristics as the published Kohlschütter densometric classifier —
    # pages synthesized deterministically from documents.text (sentence
    # paragraphs wrapped in boilerplate nav/share/footer), every block
    # classified; parity is exact because the density thresholds are
    # integer comparisons
    def q72(s, d):
        from pdftableextractor_spark.operators.html import (
            html_main_content,
        )

        docs = _docs_str(s, d)
        html = F.concat(
            F.lit(
                "<html><head><style>body { margin: 0; color: #333; }"
                "</style><script>var config = { tracking: true, words:"
                ' "lots of plain words that must never classify as'
                ' content" };</script></head>'
                '<body><!-- rendered 2026 --><nav><a href="#">Home</a> | '
                '<a href="#">About</a> | <a href="#">Contact</a>'
                "</nav><p>"
            ),
            F.regexp_replace("text", r"([.!?]) ", "$1</p><p>"),
            F.lit(
                '</p><div><a href="#">share</a> <a href="#">tweet</a>'
                '</div><footer><a href="#">Privacy &amp; Terms</a> '
                "(c) 2026</footer></body></html>"
            ),
        )
        return html_main_content(
            docs.select("doc_id", html.alias("html"))
        )

    q["q72_html_extract"] = q72

    # q73 DSIR importance weights (Xie et al. 2023 data selection):
    # hashed unigram+bigram bag-of-buckets models over target (lang='en')
    # vs raw docs, per-doc log-likelihood-ratio score. Parity is exact
    # because the per-bucket LLR is rounded ONCE to 4 decimals as an
    # integer and per-doc scores are integer sums (order-free).
    def q73(s, d):
        from pdftableextractor_spark.operators.sampling import (
            dsir_weights,
        )

        docs = _docs_str(s, d)
        return dsir_weights(docs, F.col("lang") == "en", n_buckets=8192)

    q["q73_dsir_weights"] = q73

    # q74 DSIR resampling: Gumbel-top-k selection with probability
    # proportional to exp(dsir_weight / temperature) — the paper's
    # importance-resampling step. Parity holds because the ordering keys
    # are the same double expression tree both engines evaluate over
    # 1e6-grid uniforms and 1e4-grid weights (the q60 pow-key precedent)
    def q74(s, d):
        from pdftableextractor_spark.operators.sampling import (
            dsir_resample,
        )

        docs = _docs_str(s, d)
        return dsir_resample(
            docs, F.col("lang") == "en", k=100, temperature=2.0
        ).select("doc_id", "source", "dsir_weight")

    q["q74_dsir_resample"] = q74

    # q75 SQ8 quantized ANN: symmetric int8 scalar quantization of the
    # normalized vectors (one global scale), integer code-dot first pass,
    # exact-cosine rerank of the top rerank·k. The candidate cut is an
    # INTEGER ordering (engine-exact, no float-sum order sensitivity) and
    # the rerank reuses the q24 round-6 cosine contract
    def q75(s, d):
        from pdftableextractor_spark.operators.similarity import sq8_topk

        return sq8_topk(_t(s, d, "embeddings"), _qvec(s, d), k=10, rerank=4)

    q["q75_sq8_topk"] = q75

    # ------------------------------------------------------------------
    # driver-window ordering: the correctness driver verifies only the
    # FIRST 50 dict entries, so dict order is a verification-coverage
    # decision, not cosmetics. Policy: (a) the reference-parity core and
    # every query whose engine code or oracle changed this round MUST sit
    # inside the window; (b) the tail holds only queries that are
    # subsumed-by or strictly simpler than an in-window query AND were
    # driver-green in a previous round (per-entry justifications sit on
    # DRIVER_TAIL itself); (c) the tail ROTATES — each round swaps ~half
    # of the previous tail back into the window in place of now-stable
    # queries, so no query's external driver row goes more than ~one
    # round stale. Every tail query still runs in the sf0.001 preflight
    # (tests/test_driver_oracles.py) each session.
    assert set(DRIVER_TAIL) <= set(q), sorted(set(DRIVER_TAIL) - set(q))
    head = {k: v for k, v in q.items() if k not in DRIVER_TAIL}
    # adding a query without growing DRIVER_TAIL would push the newest
    # (least-verified) head entry past the driver's window — fail loudly
    assert len(head) <= 50, (
        f"{len(head)} head queries exceed the 50-entry driver window; "
        "extend DRIVER_TAIL"
    )
    return head | {k: q[k] for k in DRIVER_TAIL}


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — same semantics, independently expressed
# ---------------------------------------------------------------------------

# shared SQL fragments
_WORDS = "string_split_regex(trim(lower(text)), '\\s+')"
_H60 = "CAST(CAST('0x' || substr(md5(w), 1, 15) AS UBIGINT) AS BIGINT)"
_DOC_H = (
    "CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT)"
    " AS BIGINT)"
)
_SENTS = (
    "string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(30), 'g'),"
    " chr(30))"
)
_FOOT_MARKER_SQL = (
    "regexp_extract(trim(text), "
    "'(?i)^(?:\\(\\d+\\)|\\[\\d+\\]|\\d+\\.|\\*+\\s|note\\s*\\d*:|source:|see\\s)')"
)


def _footnote_sql(line_expr: str) -> str:
    """Boolean footnote predicate over a raw line (mirrors is_footnote_col)."""
    marker = (
        f"regexp_extract(trim({line_expr}), "
        "'(?i)^(?:\\(\\d+\\)|\\[\\d+\\]|\\d+\\.|\\*+\\s|note\\s*\\d*:"
        "|source:|see\\s)')"
    )
    kws = [
        "note", "source", "see", "reference", "pursuant", "accordance",
        "disclaimer", "based on", "refers to", "includes", "excludes",
    ]
    kw = " OR ".join(
        f"position('{k}' in lower(trim({line_expr}))) > 0" for k in kws
    )
    sect = (
        f"regexp_matches(lower(trim({line_expr})), "
        "'\\b(?:page|section|chapter|exhibit|appendix)\\s+\\d+')"
    )
    return (
        f"({marker} <> '' "
        f"AND length(trim({line_expr})) > length({marker}) + 5 "
        f"AND ({kw} OR {sect}))"
    )


def _boiler_sql(line_expr: str) -> str:
    return (
        f"((length(trim({line_expr})) - length(replace(trim({line_expr}), '|', ''))) >= 2"
        f" OR trim({line_expr}) LIKE '©%'"
        f" OR regexp_matches(trim({line_expr}), "
        "'(?i)^(?:home|about|contact|privacy policy|terms of service|skip to content)$'))"
    )


def _simhash_sql(from_docs: str = "documents") -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    bits = " + ".join(
        f"CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END"
        for b in range(60)
    )
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, unnest({_WORDS}) AS w
  FROM {from_docs}
), h AS (
  SELECT doc_id, {_H60} AS h FROM toks WHERE w <> ''
), v AS (
  SELECT doc_id, {votes} FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM v
"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["q01_normalize_lines"] = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       {normalize_text_sql('text')} AS norm_text
FROM documents
"""

    o["q02_substantial_filter"] = """
SELECT doc_id, n_chars FROM documents
WHERE trim(text) <> '' AND n_chars > 200
"""

    o["q03_footnote_flags"] = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       {_footnote_sql('text')} AS is_footnote,
       regexp_matches(trim(text), '[\\(\\[]\\d+[\\)\\]]|\\*+(\\s|$)') AS has_refs
FROM documents
"""

    o["q04_line_numbering"] = """
SELECT event_id, user_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS line_no
FROM events
"""

    o["q05_context_window"] = """
SELECT event_id,
       CAST(round(sum(CAST(value AS DECIMAL(20,6))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING), 6) AS DOUBLE) AS ctx_sum
FROM events
"""

    o["q06_dedup_first_wins"] = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""

    o["q07_sessionize"] = """
WITH g AS (
  SELECT user_id, value, ts, event_id,
         CASE WHEN date_diff('second',
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
              IS NULL THEN 1
              WHEN date_diff('second',
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
              > 1800 THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, value,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(20,6))), 6) AS DOUBLE) AS val_sum
FROM s GROUP BY user_id, session_id
"""

    o["q08_anti_join"] = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
"""

    o["q09_top1_per_group"] = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""

    o["q10_topk_per_group"] = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""

    o["q11_union_sources"] = """
SELECT p_name AS name, 'part' AS src FROM part
UNION ALL
SELECT s_name AS name, 'supplier' AS src FROM supplier
"""

    o["q12_grid_pivot"] = """
SELECT l_returnflag,
       CAST(round(sum(CASE WHEN l_linestatus = 'F'
             THEN CAST(l_quantity AS DECIMAL(20,6))
             ELSE CAST(0 AS DECIMAL(20,6)) END), 6) AS DOUBLE) AS qty_f,
       CAST(round(sum(CASE WHEN l_linestatus = 'O'
             THEN CAST(l_quantity AS DECIMAL(20,6))
             ELSE CAST(0 AS DECIMAL(20,6)) END), 6) AS DOUBLE) AS qty_o
FROM lineitem GROUP BY l_returnflag
"""

    o["q13_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
  CAST(round(sum(CAST(l_quantity AS DECIMAL(20,6))), 4) AS DOUBLE) AS sum_qty,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,6))), 4) AS DOUBLE) AS sum_base_price,
  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))), 4) AS DOUBLE) AS sum_disc_price,
  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(20,6))), 4) AS DOUBLE) AS sum_charge,
  round(CAST(avg(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE), 4) AS avg_qty,
  round(CAST(avg(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE), 4) AS avg_price,
  round(CAST(avg(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    o["q14_extract_numbers"] = """
SELECT event_id, unnest(nums) AS num FROM (
  SELECT event_id, regexp_extract_all(props, '\\d+\\.?\\d*') AS nums
  FROM events
)
"""

    # q15: the chunker's per-doc stateful loop (counter with data-dependent
    # resets) is beyond window functions but IS expressible as a RECURSIVE
    # CTE stepping one line per iteration — state (cur, next_cid) carried
    # across the self-join; all docs advance in parallel per iteration.
    _CHUNK_MAX = 5
    _BND = "regexp_matches(trim(text), '[.!?:]$')"
    _BNDL = "regexp_matches(trim(l.text), '[.!?:]$')"
    o["q15_chunker"] = f"""
WITH RECURSIVE ln AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(unnest(range(0, len(sents))) AS INT) AS line_no,
         unnest(sents) AS text
  FROM (SELECT doc_id, {_SENTS} AS sents FROM documents)
), s AS (
  SELECT doc_id, line_no, text, CAST(0 AS INT) AS chunk_id,
         CASE WHEN 1 >= {_CHUNK_MAX} AND ({_BND} OR 1 >= {_CHUNK_MAX} + 5)
              THEN 0 ELSE 1 END AS cur,
         CASE WHEN 1 >= {_CHUNK_MAX} AND ({_BND} OR 1 >= {_CHUNK_MAX} + 5)
              THEN 1 ELSE 0 END AS next_cid
  FROM ln WHERE line_no = 0
  UNION ALL
  SELECT l.doc_id, l.line_no, l.text, CAST(s.next_cid AS INT) AS chunk_id,
         CASE WHEN s.cur + 1 >= {_CHUNK_MAX}
                   AND ({_BNDL} OR s.cur + 1 >= {_CHUNK_MAX} + 5)
              THEN 0 ELSE s.cur + 1 END,
         CASE WHEN s.cur + 1 >= {_CHUNK_MAX}
                   AND ({_BNDL} OR s.cur + 1 >= {_CHUNK_MAX} + 5)
              THEN s.next_cid + 1 ELSE s.next_cid END
  FROM ln l JOIN s ON l.doc_id = s.doc_id AND l.line_no = s.line_no + 1
)
SELECT doc_id, line_no, text, chunk_id FROM s
"""

    # q16: the lexical commentary scorer IS SQL-expressible (scores 10/7/2,
    # threshold 7, argmax, −1/+2 context window, sentence-aware truncation).
    # Truncation uses a prefix-scan formulation: the aggregate()-HOF's
    # sticky stop state is equivalent to "keep sentences before the FIRST
    # violation", computable with a cumulative window sum.
    def _clean_markers_dsql(expr: str) -> str:
        c = f"regexp_replace({expr}, '[⁰¹²³⁴⁵⁶⁷⁸⁹]+', '', 'g')"
        c = f"regexp_replace({c}, '\\(\\d+\\)', '', 'g')"
        c = f"regexp_replace({c}, '\\[\\d+\\]', '', 'g')"
        c = f"regexp_replace({c}, '\\*+', '', 'g')"
        return f"trim(regexp_replace({c}, '\\s+', ' ', 'g'))"

    _VAL_CLEAN = (
        "trim(replace(replace(replace(lower(substr(text, 1, 20)),"
        " '$', ''), '%', ''), ',', ''))"
    )
    o["q16_lexical_commentary"] = f"""
WITH docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, {_SENTS} AS sents
  FROM documents
), lns AS (
  SELECT doc_id, unnest(range(0, len(sents))) AS line_no,
         unnest(sents) AS ltext
  FROM docs
), pts AS (
  SELECT doc_id, 0 AS point_id, {_VAL_CLEAN} AS value_clean FROM docs
), ln AS (
  SELECT doc_id, line_no, lower(ltext) AS line_lower,
         {_clean_markers_dsql('lower(ltext)')} AS line_clean,
         {_clean_markers_dsql("string_agg(ltext, ' ') OVER w")} AS context
  FROM lns
  WINDOW w AS (PARTITION BY doc_id ORDER BY line_no
               ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING)
), scored AS (
  SELECT p.doc_id, p.point_id, l.line_no, l.context,
         (CASE WHEN length(p.value_clean) > 2
                AND position(p.value_clean IN l.line_clean) > 0
               THEN 10 ELSE 0 END
          + 7 * len(list_filter(
                list_filter(regexp_extract_all(p.value_clean, '\\d+\\.?\\d*'),
                            n -> length(n) > 1),
                n -> position(n IN l.line_clean) > 0))
          + 2 * ((CASE WHEN position('content' IN l.line_lower) > 0
                       THEN 1 ELSE 0 END)
               + (CASE WHEN position('sample' IN l.line_lower) > 0
                       THEN 1 ELSE 0 END))) AS score
  FROM pts p JOIN ln l USING (doc_id)
), best AS (
  SELECT doc_id, point_id, line_no, score, context AS ctx FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, point_id
                                 ORDER BY score DESC, line_no) AS rn
    FROM scored WHERE score >= 7
  ) WHERE rn = 1
), sent AS (
  SELECT doc_id, point_id, unnest(ss) AS s,
         unnest(range(1, len(ss)+1)) AS i
  FROM (SELECT doc_id, point_id,
               string_split(replace(replace(ctx, '!', '.'), '?', '.'), '.')
                 AS ss
        FROM best WHERE length(ctx) > 400)
), st AS (
  SELECT doc_id, point_id, i, trim(s) AS t,
         coalesce(sum(length(trim(s)) + 2) OVER (
           PARTITION BY doc_id, point_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM sent
), fv AS (
  SELECT doc_id, point_id,
         min(CASE WHEN t = '' OR cum_prev + length(t) >= 350 THEN i END)
           AS first_v
  FROM st GROUP BY doc_id, point_id
), acc AS (
  SELECT st.doc_id, st.point_id,
         string_agg(t, '. ' ORDER BY i)
           FILTER (WHERE fv.first_v IS NULL OR st.i < fv.first_v) AS body
  FROM st JOIN fv USING (doc_id, point_id)
  GROUP BY st.doc_id, st.point_id
)
SELECT b.doc_id, b.point_id, CAST(b.line_no AS BIGINT) AS line_no,
       CAST(b.score AS BIGINT) AS score,
       CASE WHEN length(b.ctx) <= 400 THEN b.ctx
            WHEN a.body IS NOT NULL THEN a.body || '.'
            ELSE substr(b.ctx, 1, 400) || '...' END AS commentary
FROM best b LEFT JOIN acc a USING (doc_id, point_id)
"""

    # q35: hyperplane constants are deterministic (md5-seeded) float
    # literals — embedded verbatim so DuckDB reproduces the sign buckets.
    # MULTI-TABLE (4 tables × 4 planes): a candidate matches the query's
    # bucket in ANY table, mirroring lsh_topk's stacked-matmul predicate.
    _tables = lsh_planes(64, n_tables=4)
    _bucket_exprs = []
    for _tp in _tables:
        _lits = [
            "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in _tp
        ]
        _bucket_exprs.append(
            " + ".join(
                f"(CASE WHEN list_inner_product(v, {lit}) > 0"
                f" THEN {1 << i} ELSE 0 END)"
                for i, lit in enumerate(_lits)
            )
        )
    _bcols = ", ".join(
        f"{ex} AS b{t}" for t, ex in enumerate(_bucket_exprs)
    )
    _match = " OR ".join(
        f"b{t} = (SELECT b{t} FROM q)" for t in range(len(_tables))
    )
    o["q35_lsh_topk"] = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), b AS (
  SELECT vec_id, v, {_bcols} FROM e
), q AS (
  SELECT * FROM b WHERE vec_id = 0
)
SELECT vec_id,
       round(list_cosine_similarity(v, (SELECT v FROM q)), 6) AS cos
FROM b WHERE {_match}
ORDER BY cos DESC, vec_id LIMIT 10
"""

    # q17: the full interleave + extract chain
    boiler_idx = f"({_DOC_H} % {len(BOILER_LINES)})"
    foot_idx = f"({_DOC_H} % {len(FOOTNOTE_TEMPLATES)})"
    boiler_arr = "LIST_VALUE(" + ", ".join(
        "'" + b.replace("'", "''") + "'" for b in BOILER_LINES
    ) + ")"
    foot_arr = "LIST_VALUE(" + ", ".join(
        "'" + t.replace("'", "''") + "'" for t in FOOTNOTE_TEMPLATES
    ) + ")"
    o["q17_extract_pipeline"] = f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang, source, n_chars,
         {_DOC_H} AS h, {_SENTS} AS sents
  FROM documents
), raw_spans AS (
  -- head boiler span (offset 0)
  SELECT doc_id, 0 AS off, 0 AS sub, 'boiler' AS kind,
         {boiler_arr}[{boiler_idx} + 1] AS raw, '' AS media_ref FROM base
  UNION ALL
  -- body sentences (offsets 1..n)
  SELECT doc_id, unnest(range(1, len(sents)+1)), 0, 'text',
         unnest(sents), '' FROM base
  UNION ALL
  -- dense 3x2 table grid cells (offset n+1, subs 0..5)
  SELECT doc_id, len(sents)+1, unnest(range(0, 6)), 'table_cell',
         unnest(LIST_VALUE('Metric', 'Value', 'chars',
                           CAST(n_chars AS VARCHAR), '',
                           CAST(h % 1000 AS VARCHAR))), ''
  FROM base
  UNION ALL
  SELECT doc_id, len(sents)+2, 0, 'kv', 'Language: ' || lang, '' FROM base
  UNION ALL
  SELECT doc_id, len(sents)+3, 0, 'kv', 'Source: ' || source, '' FROM base
  UNION ALL
  SELECT doc_id, len(sents)+4, 0, 'media', '', 'asset-' || doc_id FROM base
  UNION ALL
  -- trailing footnote-template text span (offset n+5)
  SELECT doc_id, len(sents)+5, 0, 'text',
         {foot_arr}[{foot_idx} + 1], '' FROM base
), kept AS (
  SELECT doc_id, off, sub, kind,
         CASE WHEN kind = 'text' THEN {normalize_text_sql('raw')}
              WHEN kind = 'table_cell' THEN trim(regexp_replace(raw, '\\s+', ' ', 'g'))
              ELSE raw END AS text,
         media_ref
  FROM raw_spans
  WHERE kind = 'media'
     OR kind = 'table_cell'
     OR kind = 'kv'
     OR (kind = 'text'
         AND NOT {_boiler_sql('raw')}
         AND NOT {_footnote_sql('raw')}
         AND {normalize_text_sql('raw')} <> '')
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off, sub) - 1
            AS INT) AS "order",
       kind, text, media_ref
FROM kept
"""

    # q36/q37: footnote rows + the unified 4-source assembly, over the same
    # interleave model as q17. Raw candidate text lines = body sentences
    # (offsets 1..n) + the injected footnote template (offset n+5); footnote
    # line_no numbers the RAW lines, fact extraction runs on the KEPT
    # (normalized, non-boiler, non-footnote) lines.
    def _marker_sql(expr: str) -> str:
        return (
            f"regexp_extract(trim({expr}), "
            "'(?i)^(?:\\(\\d+\\)|\\[\\d+\\]|\\d+\\.|\\*+\\s|note\\s*\\d*:"
            "|source:|see\\s)')"
        )

    _RAWTEXT = f"""
  SELECT doc_id, unnest(range(1, len(sents)+1)) AS off, unnest(sents) AS raw
  FROM base
  UNION ALL
  SELECT doc_id, len(sents)+5, {foot_arr}[{foot_idx} + 1] FROM base
"""

    o["q36_footnote_points"] = f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_DOC_H} AS h, {_SENTS} AS sents
  FROM documents
), rawtext AS ({_RAWTEXT}
), numbered AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1
              AS BIGINT) AS line_no,
         trim(raw) AS content
  FROM rawtext
)
SELECT doc_id, line_no,
       'document_footnotes' AS source, 'Footnote' AS type,
       'Footnote ' || {_marker_sql('content')} AS field,
       content AS value, 'N/A' AS page,
       'Line ' || CAST(line_no AS VARCHAR) AS commentary
FROM numbered
WHERE {_footnote_sql('content')}
"""

    fact_branches = "\n  UNION ALL\n".join(
        f"""  SELECT doc_id, 2 AS src_rank, line_no AS off,
         CAST(unnest(range(len(ms))) AS INT) AS seq,
         'text_fact' AS source, 'Financial Data' AS type,
         '{name}' AS field, unnest(ms) AS value, 'N/A' AS page
  FROM (SELECT doc_id, line_no, regexp_extract_all(norm, '{pat}') AS ms
        FROM lines)"""
        for name, pat in FACT_PATTERNS.items()
    )

    o["q37_unified_points"] = None  # assigned after _Q37_BODY below

    # q38: the COMPLETE pipeline oracle. Composes the q37 assembly with the
    # generic lexical scorer (per-point field words/nums, unlike q16's
    # constants), the footnote commentary fallback, the gaps-and-islands
    # unmatched-paragraph sessionization, and THREE sentence-truncation
    # instances (commentary 400/350, paragraph 500/450, then value 400/350)
    # via the reusable prefix-scan generator below.
    def _trunc_sql(src, text, keys, trigger, budget, p):
        ks = ", ".join(keys)
        return f"""
{p}_sent AS (
  SELECT {ks}, unnest(ss) AS s, unnest(range(1, len(ss)+1)) AS i
  FROM (SELECT {ks},
               string_split(replace(replace({text}, '!', '.'), '?', '.'), '.')
                 AS ss
        FROM {src} WHERE length({text}) > {trigger})
), {p}_st AS (
  SELECT {ks}, i, trim(s) AS t,
         coalesce(sum(length(trim(s)) + 2) OVER (
           PARTITION BY {ks} ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM {p}_sent
), {p}_fv AS (
  SELECT {ks},
         min(CASE WHEN t = '' OR cum_prev + length(t) >= {budget} THEN i END)
           AS first_v
  FROM {p}_st GROUP BY {ks}
), {p}_acc AS (
  SELECT {ks},
         string_agg(t, '. ' ORDER BY i)
           FILTER (WHERE first_v IS NULL OR i < first_v) AS body
  FROM {p}_st JOIN {p}_fv USING ({ks})
  GROUP BY {ks}
), {p}_out AS (
  SELECT s.*,
         CASE WHEN length(s.{text}) <= {trigger} THEN s.{text}
              WHEN a.body IS NOT NULL THEN a.body || '.'
              ELSE substr(s.{text}, 1, {trigger}) || '...' END AS {p}_trunc
  FROM {src} s LEFT JOIN {p}_acc a USING ({ks})
)"""

    _Q37_BODY = f"""base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang,
         source AS doc_source, n_chars, {_DOC_H} AS h, {_SENTS} AS sents
  FROM documents
), tablepts AS (
  SELECT doc_id, 0 AS src_rank, len(sents)+1 AS off, 1001 AS seq,
         'table' AS source, 'Table Data' AS type,
         'chars_Value' AS field, CAST(n_chars AS VARCHAR) AS value,
         CAST(len(sents)+1 AS VARCHAR) AS page
  FROM base
  UNION ALL
  SELECT doc_id, 0, len(sents)+1, 2001, 'table', 'Table Data',
         '_Value', CAST(h % 1000 AS VARCHAR), CAST(len(sents)+1 AS VARCHAR)
  FROM base
), kvpts AS (
  SELECT doc_id, 1 AS src_rank, len(sents)+2 AS off, 0 AS seq,
         'key_value' AS source, 'Structured Data' AS type,
         'Language' AS field, trim(lang) AS value, 'N/A' AS page
  FROM base WHERE trim(lang) <> ''
  UNION ALL
  SELECT doc_id, 1, len(sents)+3, 0, 'key_value', 'Structured Data',
         'Source', trim(doc_source), 'N/A'
  FROM base WHERE trim(doc_source) <> ''
), rawtext AS ({_RAWTEXT}
), lines AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1
              AS INT) AS line_no,
         {normalize_text_sql('raw')} AS norm
  FROM rawtext
  WHERE NOT {_boiler_sql('raw')} AND NOT {_footnote_sql('raw')}
    AND {normalize_text_sql('raw')} <> ''
), factpts AS (
{fact_branches}
), footpts AS (
  SELECT doc_id, 3 AS src_rank, line_no AS off, 0 AS seq,
         'document_footnotes' AS source, 'Footnote' AS type,
         'Footnote ' || {_marker_sql('content')} AS field,
         content AS value, 'N/A' AS page
  FROM (SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1
                    AS INT) AS line_no,
               trim(raw) AS content
        FROM rawtext)
  WHERE {_footnote_sql('content')}
), unioned AS (
  SELECT * FROM tablepts UNION ALL SELECT * FROM kvpts
  UNION ALL SELECT * FROM factpts UNION ALL SELECT * FROM footpts
), dedup AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, field, value
                               ORDER BY src_rank, off, seq) AS rn
  FROM unioned
)"""

    o["q38_unified_full"] = f"""
WITH {_Q37_BODY}, pts AS (
  SELECT doc_id, src_rank, off, seq, source, type, field, value, page,
         CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY src_rank, off, seq, field, value) - 1 AS INT)
           AS point_id
  FROM dedup WHERE rn = 1
), ptprep AS (
  SELECT doc_id, point_id,
         list_filter(string_split(replace(lower(field), '_', ' '), ' '),
                     w -> length(w) > 2) AS field_words,
         trim(replace(replace(replace(lower(value), '$', ''), '%', ''),
              ',', '')) AS value_clean
  FROM pts
), ptnums AS (
  SELECT doc_id, point_id, field_words, value_clean,
         list_filter(regexp_extract_all(value_clean, '\\d+\\.?\\d*'),
                     n -> length(n) > 1) AS nums
  FROM ptprep
), ln AS (
  SELECT doc_id, line_no, lower(norm) AS line_lower,
         {_clean_markers_dsql('lower(norm)')} AS line_clean,
         {_clean_markers_dsql("string_agg(norm, ' ') OVER wctx")} AS context
  FROM lines
  WINDOW wctx AS (PARTITION BY doc_id ORDER BY line_no
                  ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING)
), scoredc AS (
  SELECT p.doc_id, p.point_id, l.line_no, l.context,
         (CASE WHEN length(p.value_clean) > 2
                AND position(p.value_clean IN l.line_clean) > 0
               THEN 10 ELSE 0 END
          + 7 * len(list_filter(p.nums,
                                n -> position(n IN l.line_clean) > 0))
          + 2 * len(list_filter(p.field_words,
                                w -> position(w IN l.line_lower) > 0)))
           AS score
  FROM ptnums p JOIN ln l USING (doc_id)
), best AS (
  SELECT doc_id, point_id, line_no, score, context AS ctx FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, point_id
                                 ORDER BY score DESC, line_no) AS rn2
    FROM scoredc WHERE score >= 7
  ) WHERE rn2 = 1
), {_trunc_sql('best', 'ctx', ['doc_id', 'point_id'], 400, 350, 'cm')},
enriched AS (
  SELECT p.doc_id, p.src_rank, p.off, p.seq, p.source, p.type, p.field,
         p.value, p.page,
         coalesce(c.cm_trunc,
                  CASE WHEN p.src_rank = 3
                       THEN 'Line ' || CAST(p.off AS VARCHAR) END,
                  '') AS commentary,
         c.score AS score, c.line_no AS matched_line
  FROM pts p LEFT JOIN cm_out c USING (doc_id, point_id)
), used AS (
  SELECT DISTINCT doc_id, line_no FROM best
), usedctx AS (
  SELECT DISTINCT doc_id, line_no + d.d AS line_no
  FROM used, (VALUES (-1), (0), (1)) d(d)
), avail AS (
  SELECT l.doc_id, l.line_no, l.norm,
         (u.line_no IS NULL AND length(trim(l.norm)) > 15) AS usable
  FROM lines l LEFT JOIN usedctx u USING (doc_id, line_no)
), isl AS (
  SELECT *, sum(CASE WHEN usable THEN 0 ELSE 1 END)
              OVER (PARTITION BY doc_id ORDER BY line_no) AS island
  FROM avail
), paras0 AS (
  SELECT doc_id, island,
         string_agg(trim(norm), ' ' ORDER BY line_no) AS paragraph,
         min(line_no) AS first_line
  FROM isl WHERE usable GROUP BY doc_id, island
  HAVING length(string_agg(trim(norm), ' ' ORDER BY line_no)) > 50
), ranked AS (
  SELECT doc_id, paragraph,
         row_number() OVER (PARTITION BY doc_id ORDER BY first_line) AS rk
  FROM paras0
), p3 AS (
  SELECT doc_id, CAST(rk - 1 AS INT) AS para_no, paragraph
  FROM ranked WHERE rk <= 3
), {_trunc_sql('p3', 'paragraph', ['doc_id', 'para_no'], 500, 450, 'pa')},
pv AS (
  SELECT doc_id, para_no, pa_trunc AS ptext FROM pa_out
), {_trunc_sql('pv', 'ptext', ['doc_id', 'para_no'], 400, 350, 'gv')},
general AS (
  SELECT doc_id, 4 AS src_rank, para_no AS off, 0 AS seq,
         'document_text' AS source, 'General Commentary' AS type,
         'Text Segment ' || CAST(para_no + 1 AS VARCHAR) AS field,
         gv_trunc AS value, 'N/A' AS page,
         'Unmatched document content' AS commentary,
         NULL AS score, NULL AS matched_line
  FROM gv_out
), allrows AS (
  SELECT doc_id, src_rank, off, seq, source, type, field, value, page,
         commentary, score, matched_line
  FROM enriched
  UNION ALL
  SELECT doc_id, src_rank, off, seq, source, type, field, value, page,
         commentary, score, matched_line
  FROM general
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY src_rank, off, seq, field, value) - 1 AS BIGINT)
         AS point_id,
       source, type, field, value, page,
       CASE WHEN src_rank = 4 THEN NULL
            ELSE field || ': ' || value END AS raw_data,
       commentary,
       (matched_line IS NOT NULL) AS has_commentary,
       CAST(score AS BIGINT) AS score,
       CAST(matched_line AS BIGINT) AS matched_line
FROM allrows
"""

    o["q37_unified_points"] = f"""
WITH {_Q37_BODY}
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY src_rank, off, seq, field, value) - 1
            AS BIGINT) AS point_id,
       source, type, field, value, page
FROM dedup WHERE rn = 1
"""

    o["q18_exact_dedup"] = """
SELECT doc_id, content_hash, group_size FROM (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, md5(text) AS content_hash,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY CAST(doc_id AS VARCHAR)) AS rn,
         count(*) OVER (PARTITION BY md5(text)) AS group_size
  FROM documents
) WHERE rn = 1
"""

    coeffs = minhash_coeffs(8)
    seed_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs)
    )
    h0 = (
        "(CAST(CAST('0x' || substr(md5(s), 1, 15) AS UBIGINT) AS BIGINT)"
        f" % {MINHASH_P})"
    )
    o["q19_minhash_sig"] = f"""
WITH sh AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_distinct({_WORDS}) AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
), hx AS (
  -- s <> '' mirrors the engine's empty-token filter (exploded_shingles):
  -- an all-whitespace document must be absent from BOTH sides
  SELECT doc_id, {h0} AS h0 FROM ex WHERE s <> ''
), seeds(i, a, b) AS (
  VALUES {seed_rows}
), mins AS (
  SELECT hx.doc_id, seeds.i,
         min((seeds.a * hx.h0 + seeds.b) % {MINHASH_P}) AS mh
  FROM hx CROSS JOIN seeds GROUP BY hx.doc_id, seeds.i
)
SELECT doc_id,
       min(CASE WHEN i = 0 THEN mh END) AS s0,
       min(CASE WHEN i = 1 THEN mh END) AS s1,
       min(CASE WHEN i = 7 THEN mh END) AS s7,
       md5(string_agg(CASE WHEN i < 4 THEN CAST(mh AS VARCHAR) END,
                      chr(31) ORDER BY i)) AS band0
FROM mins GROUP BY doc_id
"""

    seeds16 = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(16))
    )
    # q55: incremental near-dup — full banding replicated in SQL (16 hashes
    # -> 4 bands of 4, band_hash = md5(string_agg ordered by i, chr(31))),
    # candidates restricted to pairs whose b-side is a NEW doc, exact
    # Jaccard verify on distinct unigram sets (the q22 shape)
    o["q55_incremental_dups"] = f"""
WITH sh AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_distinct({_WORDS}) AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
), hx AS (
  SELECT doc_id, {h0} AS h0 FROM ex WHERE s <> ''
), seeds(i, a, b) AS (
  VALUES {seeds16}
), mins AS (
  SELECT hx.doc_id, seeds.i,
         min((seeds.a * hx.h0 + seeds.b) % {MINHASH_P}) AS mh
  FROM hx CROSS JOIN seeds GROUP BY hx.doc_id, seeds.i
), bands AS (
  SELECT doc_id, band_idx,
         md5(string_agg(CAST(mh AS VARCHAR), chr(31) ORDER BY i)) AS band_hash
  FROM (SELECT doc_id, i, i // 4 AS band_idx, mh FROM mins)
  GROUP BY doc_id, band_idx
), cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id <> b.doc_id AND CAST(b.doc_id AS BIGINT) % 5 = 0
)
SELECT c.doc_a, c.doc_b,
       round(len(list_intersect(x.shingles, y.shingles)) /
             (len(x.shingles) + len(y.shingles)
              - len(list_intersect(x.shingles, y.shingles))), 6) AS jaccard
FROM cand c
JOIN sh x ON x.doc_id = c.doc_a
JOIN sh y ON y.doc_id = c.doc_b
WHERE round(len(list_intersect(x.shingles, y.shingles)) /
            (len(x.shingles) + len(y.shingles)
             - len(list_intersect(x.shingles, y.shingles))), 6) >= 0.5
"""

    o["q20_simhash"] = _simhash_sql()

    o["q47_simhash_multiband"] = f"""
WITH sim AS ({_simhash_sql()}),
bands AS (
  SELECT doc_id, simhash, v.t,
         (simhash >> (v.t * 12)) & 4095 AS band
  FROM sim, (VALUES (0), (1), (2), (3), (4)) v(t)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.t = b.t AND a.band = b.band AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 30
"""

    o["q21_simhash_pairs"] = f"""
WITH sim AS ({_simhash_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b
  ON (a.simhash >> 48) = (b.simhash >> 48) AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 30
"""

    o["q22_ngram_jaccard"] = f"""
WITH sh AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source AS block,
         list_distinct({_WORDS}) AS s
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.s, b.s)) /
             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
       AS jaccard
FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE len(a.s) > 0 AND len(b.s) > 0
  AND round(len(list_intersect(a.s, b.s)) /
      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.4
"""

    # q52: duplicate clusters — transitive closure of the q22 pair graph.
    # DuckDB side: recursive CTE computing full reachability (UNION dedups,
    # so it terminates), then min label per node; the engine's
    # large-star/small-star contraction must agree exactly. VARCHAR min is
    # codepoint-ordered in both engines, so lexicographic roots match.
    o["q52_dup_clusters"] = f"""
WITH RECURSIVE sh AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source AS block,
         list_distinct({_WORDS}) AS s
  FROM documents
), p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
  WHERE len(a.s) > 0 AND len(b.s) > 0
    AND round(len(list_intersect(a.s, b.s)) /
        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.4
), e AS (
  SELECT doc_a AS u, doc_b AS v FROM p
  UNION
  SELECT doc_b AS u, doc_a AS v FROM p
), reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e)
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
), lbl AS (
  SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u
)
SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
LEFT JOIN lbl l USING (doc_id)
"""

    o["q23_embedding_near_dups"] = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
"""

    o["q24_cosine_topk"] = """
SELECT vec_id,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
              WHERE vec_id = 0)), 6) AS cos
FROM embeddings
ORDER BY cos DESC, vec_id LIMIT 10
"""

    o["q25_ivf_topk"] = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), dims AS (
  SELECT label AS cell,
         unnest(range(0, len(embedding))) AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
), cent AS (
  SELECT cell, dim, avg(v) AS m FROM dims GROUP BY cell, dim
), cvec AS (
  SELECT cell, list(m ORDER BY dim) AS centroid FROM cent GROUP BY cell
), probe AS (
  SELECT cell FROM cvec, q
  ORDER BY list_cosine_similarity(centroid, qv) DESC, cell LIMIT 2
)
SELECT e.vec_id,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT qv FROM q)), 6) AS cos
FROM embeddings e JOIN probe p ON e.label = p.cell
ORDER BY cos DESC, e.vec_id LIMIT 10
"""

    # q39: 3 Lloyd iterations UNROLLED as CTE chains (k-means is iterative,
    # but the iteration count is a fixed constant, so the oracle is still
    # one static SQL). Init = md5-ordered deterministic sample; assignment =
    # argmax centroid cosine (ties → lowest cell, matching np.argmax);
    # update = per-(cell, dim) mean with empty cells carrying forward.
    _KM_K, _KM_ITERS = 8, 3
    _km = [
        """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)""",
        f"""init AS (
  SELECT v, CAST(row_number() OVER (
      ORDER BY md5('km:9:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT)
    AS cell
  FROM e ORDER BY md5('km:9:' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {_KM_K})""",
        """dims AS (
  SELECT vec_id, unnest(v) AS dv, unnest(range(len(v))) AS dim FROM e)""",
        """c0 AS (SELECT cell, v AS centroid FROM init)""",
    ]
    for it in range(1, _KM_ITERS + 1):
        _km.append(f"""a{it} AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cell)
             AS rn
    FROM e CROSS JOIN c{it - 1} c) WHERE rn = 1)""")
        _km.append(f"""u{it} AS (
  SELECT cell, list(m ORDER BY dim) AS centroid FROM (
    SELECT a.cell, d.dim, avg(d.dv) AS m
    FROM a{it} a JOIN dims d USING (vec_id)
    GROUP BY a.cell, d.dim) GROUP BY cell)""")
        _km.append(f"""c{it} AS (
  SELECT p.cell, coalesce(u.centroid, p.centroid) AS centroid
  FROM c{it - 1} p LEFT JOIN u{it} u USING (cell))""")
    o["q39_kmeans_cells"] = (
        "WITH " + ",\n".join(_km) + f"""
SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
  SELECT e.vec_id, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cell)
           AS rn
  FROM e CROSS JOIN c{_KM_ITERS} c) WHERE rn = 1
"""
    )

    # q48: the q39 k-means CTE chain composed with the blocked pair join —
    # cells become the blocking key (MULTI-PROBE: each vector blocks into
    # its top-2 nearest cells, rn <= 2, so boundary-straddling pairs are
    # kept), pairwise cosine the verify, DISTINCT dedups pairs that share
    # both cells
    o["q48_embed_dups_unlabeled"] = (
        "WITH " + ",\n".join(_km) + f"""
, assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cell)
             AS rn
    FROM e CROSS JOIN c{_KM_ITERS} c) WHERE rn <= 2
), av AS (
  SELECT a.vec_id, a.cell, e.v FROM assign a JOIN e USING (vec_id)
)
SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
       round(list_cosine_similarity(x.v, y.v), 6) AS cos
FROM av x JOIN av y ON x.cell = y.cell AND x.vec_id < y.vec_id
WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.35
"""
    )


    # q49: decontamination — word-3-gram slices via inclusive list slicing
    # (w[i:i+2] = 3 elements); benchmark grams distinct-joined, survivors by
    # NOT IN (mirrors the engine's broadcast anti-join)
    o["q49_decontaminate"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id % 20 = 0 AS is_bench,
         {_WORDS} AS w
  FROM documents
), g AS (
  SELECT doc_id, is_bench, array_to_string(w[i:i+2], ' ') AS gram
  FROM (SELECT doc_id, is_bench, w, unnest(range(1, len(w) - 1)) AS i
        FROM t WHERE len(w) >= 3)
), bad AS (
  SELECT DISTINCT dg.doc_id
  FROM g dg
  JOIN (SELECT DISTINCT gram FROM g WHERE is_bench) bg USING (gram)
  WHERE NOT dg.is_bench
)
SELECT doc_id FROM t
WHERE NOT is_bench AND doc_id NOT IN (SELECT doc_id FROM bad)
"""

    # q50: deterministic stratified sampling — same md5-60bit hash as the
    # engine; thresholds forced to DOUBLE (DuckDB float literals parse as
    # DECIMAL)
    o["q50_stratified_sample"] = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, source
FROM documents
WHERE CAST(CAST('0x' || substr(
          md5('samp:7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT)
        % 1000000 AS DOUBLE) / 1000000
      < CASE source WHEN 'src0' THEN CAST(0.8 AS DOUBLE)
                    WHEN 'src1' THEN CAST(0.5 AS DOUBLE)
                    WHEN 'src2' THEN CAST(0.25 AS DOUBLE)
                    ELSE CAST(0.1 AS DOUBLE) END
"""

    # q51: token-budget shard packing — per-source running sum (HUGEINT →
    # BIGINT cast, the q07 lesson), greedy boundary rule (cum - own)/budget
    o["q51_pack_shards"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST(len({_WORDS}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(floor((CAST(sum(n_tokens) OVER w AS BIGINT) - n_tokens)
                  / 2000) AS BIGINT) AS shard_idx
FROM t
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

    # q54: temperature mixing — per-source n^alpha fractions (float
    # expression order matched with the engine), q50's hash keep-rule
    # q60: weighted sample — same md5 uniform, key = pow(u, 1/w),
    # row_number per source over (key desc, doc_id)
    o["q60_weighted_sample"] = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY pow(
             CAST(CAST('0x' || substr(
                 md5('samp:7:' || doc_id), 1, 15) AS UBIGINT)
               % 1000000 AS DOUBLE) / 1000000,
             CAST(1.0 AS DOUBLE) / CAST(n_chars AS DOUBLE)) DESC,
           doc_id ASC) AS rk
  FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, n_chars
        FROM documents)
  WHERE n_chars > 0
)
WHERE rk <= 25
"""

    o["q54_temperature_mix"] = """
WITH per AS (
  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), pw AS (
  SELECT stratum, n_docs,
         pow(CAST(n_docs AS DOUBLE), CAST(0.5 AS DOUBLE)) AS w
  FROM per
), tot AS (
  SELECT sum(w) AS w_tot, CAST(sum(n_docs) AS BIGINT) AS n_tot FROM pw
), fr AS (
  SELECT stratum,
         least(CAST(1.0 AS DOUBLE),
               ((CAST(0.5 AS DOUBLE) * n_tot) * (w / w_tot)) / n_docs) AS frac
  FROM pw CROSS JOIN tot
)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, d.source
FROM documents d JOIN fr ON fr.stratum = d.source
WHERE CAST(CAST('0x' || substr(
          md5('samp:7:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS UBIGINT)
        % 1000000 AS DOUBLE) / 1000000 < frac
"""

    # q56: per-source exact percentiles — Spark percentile() and DuckDB
    # quantile_cont() both use linear interpolation at p*(n-1)
    # q57: top-k vocabulary — same tokenizer, (n desc, term) order
    # q58: as-of join — DuckDB's native ASOF LEFT JOIN is the oracle for
    # the engine's union+window formulation (inclusive >= tie semantics)
    # q59: range join — plain range predicate is the oracle for the
    # engine's bucketed equi-join formulation
    o["q59_range_join"] = """
SELECT l.user_id, l.event_id AS purchase_id, epoch_us(l.ts) AS p_ts_us,
       r.event_id AS error_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
JOIN (SELECT * FROM events WHERE event_type = 'error') r
  ON l.user_id = r.user_id
 AND epoch_us(l.ts) >= epoch_us(r.ts)
 AND epoch_us(l.ts) <= epoch_us(r.ts) + 3600000000
"""

    o["q58_asof_join"] = """
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       round(l.value, 6) AS value,
       r.event_id AS click_id, epoch_us(r.ts) AS click_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""

    o["q57_vocab_topk"] = f"""
SELECT term, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({_WORDS}) AS term FROM documents)
WHERE term <> ''
GROUP BY term
ORDER BY n DESC, term ASC
LIMIT 100
"""

    o["q56_corpus_stats"] = f"""
SELECT source AS stratum,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(CAST(len({_WORDS}) AS BIGINT)), 6) AS mean_tokens,
       round(quantile_cont(CAST(len({_WORDS}) AS BIGINT),
                           CAST(0.5 AS DOUBLE)), 6) AS p50_tokens,
       round(quantile_cont(CAST(len({_WORDS}) AS BIGINT),
                           CAST(0.95 AS DOUBLE)), 6) AS p95_tokens
FROM documents GROUP BY source
"""

    o["q26_token_count"] = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       len({_WORDS}) AS ws_tokens,
       len(regexp_extract_all(text, '{TOKEN_RE}')) AS bpe_tokens,
       length(text) AS chars
FROM documents
"""

    stop_in = " OR ".join(f"x = '{w}'" for w in STOPWORDS)
    o["q27_quality_score"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         length(text) AS chars,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
           AS punct,
         len({_WORDS}) AS ntok,
         len(list_filter({_WORDS}, x -> {stop_in})) AS stop_hits
  FROM documents
), i AS (
  -- exact integer formulation of the composite (mirrors quality_score):
  -- float round() at .5 ties differs across engines, so N·10^6/D is
  -- rounded HALF_UP in HUGEINT arithmetic
  SELECT doc_id, chars, punct, ntok, stop_hits,
         CAST(least(chars, 2000) AS HUGEINT) AS m,
         CAST(greatest(ntok, 1) AS HUGEINT) AS n,
         CAST(greatest(chars, 1) AS HUGEINT) AS c,
         CAST(stop_hits AS HUGEINT) AS s,
         CAST(punct AS HUGEINT) AS p
  FROM t
)
SELECT doc_id,
  round(least(chars, 2000) / CAST(2000.0 AS DOUBLE), 6) AS len_score,
  round(punct / greatest(chars, 1), 6) AS punct_ratio,
  round(stop_hits / greatest(ntok, 1), 6) AS stop_ratio,
  CAST(((2 * m * n * c + 3000 * c * least(3 * s, n)
         + 3000 * n * (c - least(5 * p, c))) * 2000000
        + 10000 * n * c) // (2 * 10000 * n * c) AS DOUBLE)
    / CAST(1000000.0 AS DOUBLE) AS quality
FROM i
"""
    hit_exprs = []
    for lg, markers in sorted(LANG_MARKERS.items()):
        if lg == "zh":
            parts = " + ".join(
                f"(length(text) - length(regexp_replace(text, '{m}', '', 'g')))"
                for m in markers
            )
            hit_exprs.append(f"({parts}) AS hits_{lg}")
        else:
            cond = " OR ".join(f"x = '{m}'" for m in markers)
            hit_exprs.append(
                f"len(list_filter({_WORDS}, x -> {cond})) AS hits_{lg}"
            )
    langs = sorted(LANG_MARKERS)
    best_sql = "'und'"
    for lg in reversed(langs):
        best_sql = (
            f"CASE WHEN hits_{lg} = best_n AND best_n > 0 THEN '{lg}' "
            f"ELSE {best_sql} END"
        )
    o["q28_lang_id"] = f"""
WITH h AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {', '.join(hit_exprs)}
  FROM documents
), m AS (
  SELECT *, greatest({', '.join('hits_' + lg for lg in langs)}) AS best_n
  FROM h
)
SELECT doc_id, {', '.join('hits_' + lg for lg in langs)},
       {best_sql} AS lang_pred
FROM m
"""

    _RAWBASE = f"""base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_DOC_H} AS h, {_SENTS} AS sents
  FROM documents
), rawtext AS ({_RAWTEXT})"""

    o["q43_line_doc_freq"] = f"""
WITH {_RAWBASE}
SELECT md5(trim(lower(raw))) AS line_hash,
       min(trim(lower(raw))) AS text,
       count(DISTINCT doc_id) AS doc_freq
FROM rawtext WHERE trim(lower(raw)) <> ''
GROUP BY md5(trim(lower(raw)))
"""

    o["q44_drop_common_lines"] = f"""
WITH {_RAWBASE}, freq AS (
  SELECT md5(trim(lower(raw))) AS line_hash,
         count(DISTINCT doc_id) AS doc_freq
  FROM rawtext WHERE trim(lower(raw)) <> ''
  GROUP BY md5(trim(lower(raw)))
)
SELECT r.doc_id, CAST(r.off AS BIGINT) AS offset, r.raw AS text
FROM rawtext r
LEFT JOIN freq f
  ON md5(trim(lower(r.raw))) = f.line_hash AND f.doc_freq >= 5
WHERE f.line_hash IS NULL
"""

    o["q45_redact_pii"] = (
        """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         text || ' Contact: user' || CAST(doc_id AS VARCHAR) ||
         '@example.com or https://ex.com/' || CAST(doc_id AS VARCHAR) ||
         ' phone +1 555-000-' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
), s1 AS (
  SELECT doc_id, len(regexp_extract_all(text, '@URL@')) AS n_urls,
         regexp_replace(text, '@URL@', '<URL>', 'g') AS t1
  FROM t
), s2 AS (
  SELECT doc_id, n_urls,
         len(regexp_extract_all(t1, '@EMAIL@')) AS n_emails,
         regexp_replace(t1, '@EMAIL@', '<EMAIL>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       regexp_replace(t2, '@PHONE@', '<PHONE>', 'g') AS clean_text,
       n_urls, n_emails,
       len(regexp_extract_all(t2, '@PHONE@')) AS n_phones
FROM s2
"""
        .replace("@URL@", URL_RE)
        .replace("@EMAIL@", EMAIL_RE)
        .replace("@PHONE@", PHONE_RE)
    )

    o["q46_repetition_stats"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_SENTS} AS sents,
         {_WORDS} AS toks
  FROM documents
), b AS (
  SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sents,
         round(1 - len(list_distinct(sents)) / greatest(len(sents), 1), 6)
           AS dup_sent_frac,
         toks
  FROM t
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t WHERE len(toks) >= 2
), pg AS (
  SELECT doc_id, bg, count(*) AS n FROM g GROUP BY doc_id, bg
), pd AS (
  SELECT doc_id, max(n) AS top_n, sum(n) AS total FROM pg GROUP BY doc_id
)
SELECT b.doc_id, b.n_sents, b.dup_sent_frac,
       round(coalesce(pd.top_n / greatest(pd.total, 1),
                      CAST(0.0 AS DOUBLE)), 6) AS top_bigram_frac
FROM b LEFT JOIN pd USING (doc_id)
"""

    o["q29_fingerprint"] = f"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, {_WORDS} AS ws
  FROM documents
), sh AS (
  SELECT doc_id, text,
         list_sort(list_transform(
           list_distinct(CASE WHEN len(ws) < 3 THEN []
             ELSE list_transform(range(1, len(ws)-1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END),
           g -> md5(g))) AS hs
  FROM w
)
SELECT doc_id, md5(text) AS content_md5,
       array_to_string(hs[1:8], '') AS fingerprint
FROM sh
"""

    o["q42_flatten_nested"] = f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang,
         source AS dsrc, n_chars, {_DOC_H} AS h, {_SENTS} AS sents
  FROM documents
), spans AS (
  SELECT doc_id, 0 AS idx, 'boiler' AS kind,
         {boiler_arr}[{boiler_idx} + 1] AS stext, '' AS media_ref,
         0 AS off FROM base
  UNION ALL
  SELECT doc_id, CAST(unnest(range(1, len(sents)+1)) AS INT), 'text',
         unnest(sents), '', CAST(unnest(range(1, len(sents)+1)) AS INT)
  FROM base
  UNION ALL
  SELECT doc_id, len(sents)+1, 'table',
         'r0c0:Metric' || chr(31) || 'r0c1:Value' || chr(31) ||
         'r1c0:chars' || chr(31) || 'r1c1:' || CAST(n_chars AS VARCHAR) ||
         chr(31) || 'r2c1:' || CAST(h % 1000 AS VARCHAR),
         '', len(sents)+1 FROM base
  UNION ALL
  SELECT doc_id, len(sents)+2, 'kv', 'Language' || chr(31) || lang, '',
         len(sents)+2 FROM base
  UNION ALL
  SELECT doc_id, len(sents)+3, 'kv', 'Source' || chr(31) || dsrc, '',
         len(sents)+3 FROM base
  UNION ALL
  SELECT doc_id, len(sents)+4, 'media', '', 'asset-' || doc_id,
         len(sents)+4 FROM base
  UNION ALL
  SELECT doc_id, len(sents)+5, 'text', {foot_arr}[{foot_idx} + 1], '',
         len(sents)+5 FROM base
)
SELECT doc_id,
       'spans[' || CAST(idx AS VARCHAR) || '].' || f.k AS path,
       CASE f.k WHEN 'kind' THEN kind WHEN 'text' THEN stext
                WHEN 'media_ref' THEN media_ref
                ELSE CAST(off AS VARCHAR) END AS value
FROM spans, (VALUES ('kind'), ('text'), ('media_ref'), ('offset')) f(k)
"""

    o["q31_column_union"] = """
SELECT p_brand AS "Category", p_type AS "Value 1",
       CASE WHEN p_size > 25 THEN CAST(p_size AS VARCHAR) ELSE '' END
         AS "Value 2"
FROM part
"""

    o["q32_star_join_agg"] = """
SELECT r_name, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,6))), 4) AS DOUBLE)
         AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    o["q33_above_avg_balance"] = """
SELECT c_custkey, c_name FROM customer
WHERE c_acctbal > (SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(20,6)))
                               AS DOUBLE) FROM customer)
"""

    o["q34_rollup"] = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(20,6))), 4) AS DOUBLE) AS qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

    o["q40_resize_plumbing"] = f"""
SELECT 'asset-' || CAST(doc_id AS VARCHAR) AS asset_id,
       LIST_VALUE('image', 'audio', 'video')[({_DOC_H} % 3) + 1] AS kind,
       CAST(640 AS BIGINT) AS width, CAST(480 AS BIGINT) AS height,
       sha256(text || '640x480') AS resized_sha
FROM documents
"""

    o["q41_frame_sample"] = f"""
WITH v AS (
  SELECT 'asset-' || CAST(doc_id AS VARCHAR) AS asset_id,
         text AS payload,
         ({_DOC_H} % 59000 + 1000) AS duration_ms
  FROM documents
  WHERE LIST_VALUE('image', 'audio', 'video')[({_DOC_H} % 3) + 1] = 'video'
)
SELECT asset_id,
       CAST(ts_ms // 5000 AS BIGINT) AS frame_idx,
       CAST(ts_ms AS BIGINT) AS ts_ms,
       sha256(payload || CAST(ts_ms AS VARCHAR)) AS frame_sha
FROM (SELECT asset_id, payload,
             unnest(range(0, duration_ms + 1, 5000)) AS ts_ms
      FROM v)
"""

    # q53: BM25 — conditional-aggregation tf per term + one stats row,
    # float expression order matched term-by-term with the engine
    # (((s0 + s1) + s2), constants forced to DOUBLE — DuckDB literal trap)
    o["q53_bm25"] = f"""
WITH t AS (
  SELECT doc_id, w FROM (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, unnest({_WORDS}) AS w
    FROM documents) WHERE w <> ''
), pd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
         CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS tf0,
         CAST(sum(CASE WHEN w = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
         CAST(sum(CASE WHEN w = 'table' THEN 1 ELSE 0 END) AS BIGINT) AS tf2,
  FROM t GROUP BY doc_id
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl,
         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM pd
)
SELECT doc_id, round((((ln(CAST(1.0 AS DOUBLE) + (n_docs - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE))) * tf0 * CAST(2.2 AS DOUBLE)) / (tf0 + (CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + ((CAST(0.75 AS DOUBLE) * dl) / avgdl)))) + (ln(CAST(1.0 AS DOUBLE) + (n_docs - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE))) * tf1 * CAST(2.2 AS DOUBLE)) / (tf1 + (CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + ((CAST(0.75 AS DOUBLE) * dl) / avgdl))))) + (ln(CAST(1.0 AS DOUBLE) + (n_docs - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE))) * tf2 * CAST(2.2 AS DOUBLE)) / (tf2 + (CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + ((CAST(0.75 AS DOUBLE) * dl) / avgdl))))), 6) AS bm25
FROM pd CROSS JOIN st
WHERE (((ln(CAST(1.0 AS DOUBLE) + (n_docs - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE))) * tf0 * CAST(2.2 AS DOUBLE)) / (tf0 + (CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + ((CAST(0.75 AS DOUBLE) * dl) / avgdl)))) + (ln(CAST(1.0 AS DOUBLE) + (n_docs - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE))) * tf1 * CAST(2.2 AS DOUBLE)) / (tf1 + (CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + ((CAST(0.75 AS DOUBLE) * dl) / avgdl))))) + (ln(CAST(1.0 AS DOUBLE) + (n_docs - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE))) * tf2 * CAST(2.2 AS DOUBLE)) / (tf2 + (CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + ((CAST(0.75 AS DOUBLE) * dl) / avgdl))))) > 0
"""

    o["q30_multimodal_meta"] = f"""
SELECT 'asset-' || CAST(doc_id AS VARCHAR) AS asset_id,
       LIST_VALUE('image', 'audio', 'video')[({_DOC_H} % 3) + 1] AS kind,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha
FROM documents
"""

    # per-stratum quality gate: the quality CTE is q27's exact-integer
    # formulation; the threshold is the nearest-rank value found on a
    # (source, quality) histogram with pure-integer comparisons — no float
    # thresholds anywhere, so Spark and DuckDB agree bit-for-bit
    o["q61_quality_gate"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         length(text) AS chars,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
           AS punct,
         len({_WORDS}) AS ntok,
         len(list_filter({_WORDS}, x -> {stop_in})) AS stop_hits
  FROM documents
), i AS (
  SELECT doc_id, source,
         CAST(least(chars, 2000) AS HUGEINT) AS m,
         CAST(greatest(ntok, 1) AS HUGEINT) AS n,
         CAST(greatest(chars, 1) AS HUGEINT) AS c,
         CAST(stop_hits AS HUGEINT) AS s,
         CAST(punct AS HUGEINT) AS p
  FROM t
), q AS (
  SELECT doc_id, source,
         CAST(((2 * m * n * c + 3000 * c * least(3 * s, n)
                + 3000 * n * (c - least(5 * p, c))) * 2000000
               + 10000 * n * c) // (2 * 10000 * n * c) AS DOUBLE)
           / CAST(1000000.0 AS DOUBLE) AS quality
  FROM i
), h AS (
  SELECT source, quality, count(*) AS cnt FROM q GROUP BY source, quality
), cum AS (
  SELECT source, quality,
         sum(cnt) OVER (PARTITION BY source ORDER BY quality
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumc,
         sum(cnt) OVER (PARTITION BY source) AS n
  FROM h
), thr AS (
  SELECT source, min(quality) AS t FROM cum
  WHERE cumc * 1000000 > n * 200000 GROUP BY source
)
SELECT q.doc_id, q.source, q.quality
FROM q LEFT JOIN thr ON q.source IS NOT DISTINCT FROM thr.source
WHERE thr.t IS NULL OR q.quality >= thr.t
"""

    # cross-document repeated 4-gram spans: zipped range-unnest positions +
    # 1-based inclusive list slices build the same grams as the engine's
    # window-lead construction
    o["q62_dup_spans"] = f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter({_WORDS}, x -> x <> '') AS tk
  FROM documents
), g0 AS (
  SELECT doc_id, tk, unnest(range(len(tk) - 3)) AS i
  FROM toks WHERE len(tk) >= 4
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS start_pos,
         array_to_string(tk[i + 1:i + 4], ' ') AS gram
  FROM g0
), c AS (
  SELECT gram, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram
)
SELECT g.doc_id, g.start_pos, g.gram, CAST(c.n_docs AS BIGINT) AS n_docs
FROM g JOIN c USING (gram)
WHERE c.n_docs >= 2
"""

    # asymmetric containment: exact shingle-set intersections over
    # co-occurring pairs (the oracle needs no prefix filter — any pair with
    # inter >= 1 appears in the shingle self-join); the threshold compare is
    # pure integer on both sides
    o["q64_containment"] = f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter({_WORDS}, x -> x <> '') AS tk
  FROM documents
), g0 AS (
  SELECT doc_id, tk, unnest(range(len(tk) - 2)) AS i
  FROM toks WHERE len(tk) >= 3
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i + 1:i + 3], ' ') AS s
  FROM g0
), sz AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
       CAST(x.sz AS BIGINT) AS size_a, CAST(y.sz AS BIGINT) AS size_b,
       CAST((CAST(2 * i.inter AS HUGEINT) * 1000000 + least(x.sz, y.sz))
            // (2 * CAST(least(x.sz, y.sz) AS HUGEINT)) AS DOUBLE)
         / 1000000.0 AS containment
FROM inter i
JOIN sz x ON x.doc_id = i.doc_a
JOIN sz y ON y.doc_id = i.doc_b
WHERE i.inter * 1000000 >= 500000 * least(x.sz, y.sz)
"""

    # substring-span masking: same gram census as q62, covered positions
    # exploded per span, anti-joined out, ordered string_agg reassembly
    o["q65_mask_spans"] = f"""
WITH toks AS (
  -- tk = lowercased gram spec; tko = ORIGINAL case for reassembly
  -- (lower() never touches whitespace, so positions align)
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter({_WORDS}, x -> x <> '') AS tk,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> x <> '') AS tko
  FROM documents
), g0 AS (
  SELECT doc_id, tk, unnest(range(len(tk) - 3)) AS i
  FROM toks WHERE len(tk) >= 4
), g AS (
  SELECT doc_id, i AS start_pos, array_to_string(tk[i + 1:i + 4], ' ') AS gram
  FROM g0
), c AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT g.doc_id, g.start_pos + u.j AS pos
  FROM g JOIN c USING (gram), unnest(range(4)) AS u(j)
), tok2 AS (
  SELECT doc_id, unnest(tko) AS tok, unnest(range(len(tko))) AS pos FROM toks
), kept AS (
  SELECT t.doc_id, t.tok, t.pos
  FROM tok2 t ANTI JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos
), re AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS kept_n
  FROM kept GROUP BY doc_id
)
SELECT toks.doc_id,
       coalesce(re.clean_text, '') AS clean_text,
       CAST(len(toks.tk) AS BIGINT) AS n_tokens,
       CAST(len(toks.tk) - coalesce(re.kept_n, 0) AS BIGINT) AS n_removed
FROM toks LEFT JOIN re ON toks.doc_id = re.doc_id
"""

    # q68: q65 + the run-length floor — gaps-and-islands over the covered
    # positions (pos - row_number = island id), only runs >= 8 masked
    o["q68_mask_spans_minrun"] = f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter({_WORDS}, x -> x <> '') AS tk,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> x <> '') AS tko
  FROM documents
), g0 AS (
  SELECT doc_id, tk, unnest(range(len(tk) - 3)) AS i
  FROM toks WHERE len(tk) >= 4
), g AS (
  SELECT doc_id, i AS start_pos, array_to_string(tk[i + 1:i + 4], ' ') AS gram
  FROM g0
), c AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT g.doc_id, g.start_pos + u.j AS pos
  FROM g JOIN c USING (gram), unnest(range(4)) AS u(j)
), runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM cov
), cov2 AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY doc_id, grp) AS rl
    FROM runs)
  WHERE rl >= 8
), tok2 AS (
  SELECT doc_id, unnest(tko) AS tok, unnest(range(len(tko))) AS pos FROM toks
), kept AS (
  SELECT t.doc_id, t.tok, t.pos
  FROM tok2 t ANTI JOIN cov2 ON t.doc_id = cov2.doc_id AND t.pos = cov2.pos
), re AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS kept_n
  FROM kept GROUP BY doc_id
)
SELECT toks.doc_id,
       coalesce(re.clean_text, '') AS clean_text,
       CAST(len(toks.tk) AS BIGINT) AS n_tokens,
       CAST(len(toks.tk) - coalesce(re.kept_n, 0) AS BIGINT) AS n_removed
FROM toks LEFT JOIN re ON toks.doc_id = re.doc_id
"""

    # containment decontamination: distinct trigram sets both sides, hit
    # counts only for co-occurring (corpus, bench) pairs, integer threshold
    o["q66_fuzzy_decontaminate"] = f"""
WITH corp AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter({_WORDS}, x -> x <> '') AS tk
  FROM documents WHERE CAST(doc_id AS BIGINT) % 20 <> 0
), ben AS (
  SELECT CAST(doc_id AS VARCHAR) AS bench_id,
         list_filter({_WORDS}, x -> x <> '') AS tk
  FROM documents WHERE CAST(doc_id AS BIGINT) % 20 = 0
), csh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i + 1:i + 3], ' ') AS s
  FROM (SELECT doc_id, tk, unnest(range(len(tk) - 2)) AS i
        FROM corp WHERE len(tk) >= 3)
), bsh AS (
  SELECT DISTINCT bench_id, array_to_string(tk[i + 1:i + 3], ' ') AS s
  FROM (SELECT bench_id, tk, unnest(range(len(tk) - 2)) AS i
        FROM ben WHERE len(tk) >= 3)
), bsz AS (
  SELECT bench_id, count(*) AS bsz FROM bsh GROUP BY bench_id
), hits AS (
  SELECT c.doc_id, b.bench_id, count(*) AS inter
  FROM csh c JOIN bsh b USING (s) GROUP BY c.doc_id, b.bench_id
), bad AS (
  SELECT DISTINCT h.doc_id
  FROM hits h JOIN bsz USING (bench_id)
  WHERE h.inter * 1000000 >= 500000 * bsz.bsz
)
SELECT doc_id FROM corp ANTI JOIN bad USING (doc_id)
"""

    # q67 exact k-NN join: brute-force all-pairs cosine + row_number —
    # the engine's exact mode (probe every cell) must reproduce this
    # bit-for-bit; ranking ties break on (rounded cos DESC, vec_id)
    o["q67_knn_join"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), p AS (
  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
), r AS (
  SELECT qid, vec_id, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id) AS rnk
  FROM p
)
SELECT qid, vec_id, cos, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 3
"""

    # q69 SemDeDup: brute-force kNN-3 edges at round6(cos) >= 0.35,
    # recursive-CTE connected components (the q52 pattern), min-id
    # representative; singletons keep themselves
    o["q69_semantic_dedup"] = """
WITH RECURSIVE ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), p AS (
  SELECT a.vec_id AS qid, b.vec_id AS vid,
         round(list_cosine_similarity(a.v, b.v), 6) AS cos
  FROM ev a JOIN ev b ON a.vec_id <> b.vec_id
), nn AS (
  SELECT qid, vid, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vid) AS rnk
  FROM p
), ed AS (
  SELECT DISTINCT least(qid, vid) AS u, greatest(qid, vid) AS w
  FROM nn WHERE rnk <= 3 AND cos >= 0.35
), e AS (
  SELECT u, w FROM ed UNION SELECT w AS u, u AS w FROM ed
), reach(u, w) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e)
  UNION
  SELECT r.u, e.w FROM reach r JOIN e ON r.w = e.u
), lbl AS (
  SELECT u AS vec_id, min(w) AS component FROM reach GROUP BY u
)
SELECT ev.vec_id,
       coalesce(l.component, ev.vec_id) AS component,
       ev.vec_id = coalesce(l.component, ev.vec_id) AS keep
FROM ev LEFT JOIN lbl l ON ev.vec_id = l.vec_id
"""

    # q70 incremental SemDeDup: q69's machinery over the NEW split only,
    # plus an EXISTS probe against the old split (top-1 >= t == any >= t
    # in exact mode); clusters with any hit member drop whole
    o["q70_semantic_incremental"] = """
WITH RECURSIVE ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), nw AS (
  SELECT * FROM ev WHERE vec_id % 5 = 0
), od AS (
  SELECT * FROM ev WHERE vec_id % 5 <> 0
), p AS (
  SELECT a.vec_id AS qid, b.vec_id AS vid,
         round(list_cosine_similarity(a.v, b.v), 6) AS cos
  FROM nw a JOIN nw b ON a.vec_id <> b.vec_id
), nn AS (
  SELECT qid, vid, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vid) AS rnk
  FROM p
), ed AS (
  SELECT DISTINCT least(qid, vid) AS u, greatest(qid, vid) AS w
  FROM nn WHERE rnk <= 3 AND cos >= 0.35
), e AS (
  SELECT u, w FROM ed UNION SELECT w AS u, u AS w FROM ed
), reach(u, w) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e)
  UNION
  SELECT r.u, e.w FROM reach r JOIN e ON r.w = e.u
), lbl AS (
  SELECT u AS vec_id, min(w) AS component FROM reach GROUP BY u
), comp AS (
  SELECT n.vec_id, coalesce(l.component, n.vec_id) AS component
  FROM nw n LEFT JOIN lbl l ON n.vec_id = l.vec_id
), hit AS (
  SELECT DISTINCT a.vec_id FROM nw a JOIN od b ON a.vec_id <> b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
), fc AS (
  SELECT DISTINCT component FROM comp JOIN hit USING (vec_id)
)
SELECT c.vec_id, c.component,
       c.component IN (SELECT component FROM fc) AS near_old,
       (c.vec_id = c.component
        AND c.component NOT IN (SELECT component FROM fc)) AS keep
FROM comp c
"""

    # q71 CDC binary dedup: the gear rolling hash h_i = (2·h_{i-1} +
    # g(b_i)) mod 2^64 re-expressed non-sequentially — byte p
    # contributes g·2^j to positions p..p+63 (older terms vanish mod
    # 2^64), so h is an explode-×64 + SUM group-by. Terms precomputed
    # per (byte, lag) as two 32-bit BIGINT halves so the hot aggregate
    # is pure BIGINT; one HUGEINT reconstruction per position. With
    # min_size=1 and no forced cuts, chunk ENDS are exactly the
    # candidate positions (top 6 bits of h zero ⇔ h < 2^58) plus n.
    # Tail mirrors q64's containment: distinct chunks, df cap BEFORE
    # sizes, exact-int HALF_UP rounding.
    _gear = "LIST_VALUE(" + ",".join(
        f"{int(v)}::HUGEINT" for v in _CDC_GEAR
    ) + ")"
    _p64 = "18446744073709551616::HUGEINT"
    o["q71_cdc_dedup"] = f"""
WITH gear_t AS (
  SELECT unnest(range(0, 256)) AS b, unnest({_gear}) AS g
), term_t AS (
  SELECT b, j.j AS j,
         CAST(((g * (1::HUGEINT << j.j)) % {_p64}) // 4294967296
              AS BIGINT) AS thi,
         CAST(((g * (1::HUGEINT << j.j)) % {_p64}) % 4294967296
              AS BIGINT) AS tlo
  FROM gear_t CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
), base AS (
  -- printable-ASCII projection: chars == UTF-8 bytes by construction
  -- (mirrors the engine query; DuckDB 1.0 has no blob byte ops, so the
  -- character walk below is byte-faithful only on this projection)
  SELECT CAST(doc_id AS VARCHAR) AS did,
         regexp_replace(text, '[^\\x20-\\x7E]', '', 'g') AS text
  FROM documents
), assets AS (
  SELECT 'o-' || did AS asset_id, text AS payload FROM base
  UNION ALL
  SELECT 't-' || did, substring(text, 1, greatest(length(text)//2, 1))
  FROM base
), prep AS (
  -- NULL = empty (the engine kernel's rule); empty payloads flow
  -- through with n = 0 and emit the single empty-chunk signature via
  -- the LEFT JOIN + list_append(…, n) below
  SELECT asset_id, coalesce(payload, '') AS payload,
         length(coalesce(payload, '')) AS n
  FROM assets
), bytes AS (
  SELECT asset_id, n, unnest(range(1, n+1)) AS p,
         unnest(list_transform(range(1, n+1),
                               i -> ord(substring(payload, i, 1)))) AS bv
  FROM prep
), hpos AS (
  SELECT asset_id, any_value(n) AS n, p + j AS i,
         (SUM(thi)::HUGEINT * 4294967296 + SUM(tlo)::HUGEINT) % {_p64}
           AS h
  FROM bytes JOIN term_t ON term_t.b = bytes.bv
  WHERE p + j <= n
  GROUP BY asset_id, p + j
), cand AS (
  SELECT asset_id, any_value(n) AS n,
         list_sort(list(i) FILTER (
           WHERE h < 288230376151711744::HUGEINT AND i < n)) AS cands
  FROM hpos GROUP BY asset_id
), ed AS (
  SELECT p.asset_id, p.payload,
         list_append(coalesce(c.cands, []), p.n) AS ends
  FROM prep p LEFT JOIN cand c ON c.asset_id = p.asset_id
), ch AS (
  SELECT asset_id,
    unnest(list_transform(range(1, len(ends)+1), i ->
      substring(sha256(substring(payload, coalesce(ends[i-1], 0)+1,
                                 ends[i]-coalesce(ends[i-1], 0))),
                1, 32))) AS chash
  FROM ed
), sh AS (
  SELECT DISTINCT asset_id, chash FROM ch
), live AS (
  SELECT chash FROM sh GROUP BY chash HAVING count(*) <= 200
), sh2 AS (
  SELECT sh.asset_id, sh.chash FROM sh JOIN live USING (chash)
), sz AS (
  SELECT asset_id, count(*) AS sz FROM sh2 GROUP BY asset_id
), inter AS (
  SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
         count(*) AS shared
  FROM sh2 a JOIN sh2 b
    ON a.chash = b.chash AND a.asset_id < b.asset_id
  GROUP BY 1, 2
)
SELECT i.asset_a, i.asset_b, CAST(i.shared AS BIGINT) AS shared,
       CAST(x.sz AS BIGINT) AS size_a, CAST(y.sz AS BIGINT) AS size_b,
       CAST((CAST(2 * i.shared AS HUGEINT) * 1000000
             + least(x.sz, y.sz))
            // (2 * CAST(least(x.sz, y.sz) AS HUGEINT)) AS DOUBLE)
         / 1000000.0 AS containment
FROM inter i
JOIN sz x ON x.asset_id = i.asset_a
JOIN sz y ON y.asset_id = i.asset_b
WHERE i.shared * 1000000 >= 500000 * least(x.sz, y.sz)
"""

    # q72 HTML main-content extraction: Kohlschütter densometric rules
    # re-expressed in DuckDB. The strip pipeline (tags→space, entity
    # decode with &amp; LAST, whitespace collapse, trim) is generated by
    # one helper so the block and per-link normalizations stay
    # identical, mirroring operators/html.strip_html_col.
    def _sql_strip(x: str) -> str:
        ent = f"regexp_replace({x}, '<[^>]+>', ' ', 'g')"
        for pat, rep in (
            ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
            ("&quot;", '"'), ("&#39;", "''"), ("&amp;", "&"),
        ):
            ent = f"replace({ent}, '{pat}', '{rep}')"
        return f"trim(regexp_replace({ent}, '\\s+', ' ', 'g'))"

    _BLOCK_RE = (
        "(?i)</?(?:p|div|h[1-6]|li|ul|ol|nav|footer|header|article"
        "|section|table|tr|td|th|blockquote|br)\\b[^>]*>"
    )
    _LINK_RE = "(?is)<a\\b[^>]*>(.*?)</a>"
    o["q72_html_extract"] = f"""
WITH raw AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         '<html><head><style>body {{ margin: 0; color: #333; }}'
         || '</style><script>var config = {{ tracking: true, words:'
         || ' "lots of plain words that must never classify as'
         || ' content" }};</script></head>'
         || '<body><!-- rendered 2026 --><nav><a href="#">Home</a> | '
         || '<a href="#">About</a> | <a href="#">Contact</a></nav><p>'
         || regexp_replace(text, '([.!?]) ', '\\1</p><p>', 'g')
         || '</p><div><a href="#">share</a> <a href="#">tweet</a>'
         || '</div><footer><a href="#">Privacy &amp; Terms</a> '
         || '(c) 2026</footer></body></html>' AS html
  FROM documents
), src AS (
  SELECT doc_id,
         regexp_replace(html,
           '(?is)<script\\b[^>]*>.*?</script>'
           || '|<style\\b[^>]*>.*?</style>|<!--.*?-->',
           ' ', 'g') AS html
  FROM raw
), segl AS (
  SELECT doc_id, string_split_regex(html, '{_BLOCK_RE}') AS l FROM src
), segx AS (
  SELECT doc_id, unnest(range(1, len(l)+1)) AS pos, l FROM segl
), feat AS (
  SELECT doc_id, pos,
         {_sql_strip('l[pos]')} AS text,
         coalesce(list_sum(list_transform(
           regexp_extract_all(l[pos], '{_LINK_RE}', 1),
           s -> length({_sql_strip('s')}))), 0) AS link_chars
  FROM segx
), nz AS (
  SELECT doc_id, pos, text,
         len(list_filter(string_split(text, ' '), x -> x <> ''))
           AS words,
         length(text) AS chars, link_chars,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
           AS block_no
  FROM feat WHERE text <> ''
), win AS (
  SELECT doc_id, block_no, text, words, chars, link_chars,
         coalesce(lag(words) OVER w, 0) AS pw,
         coalesce(lead(words) OVER w, 0) AS nw,
         coalesce(lag(link_chars) OVER w, 0) AS plc,
         coalesce(lag(chars) OVER w, 0) AS pch
  FROM nz WINDOW w AS (PARTITION BY doc_id ORDER BY block_no)
)
SELECT doc_id, CAST(block_no AS INT) AS block_no, text,
       CAST(words AS INT) AS n_words, CAST(chars AS INT) AS chars,
       CAST(link_chars AS INT) AS link_chars,
       CASE WHEN link_chars * 3 > chars THEN false
            WHEN plc * 9 <= pch * 5
              THEN (words > 16 OR nw > 15 OR pw > 4)
            ELSE (words > 40 OR nw > 17) END AS keep
FROM win
"""

    # DSIR importance weights: unigram+bigram grams hashed into 8192
    # buckets, add-one-smoothed target-vs-raw log-likelihood ratio per
    # bucket rounded ONCE to 4 decimals as a bigint; per-doc score = sum
    # of those integers / 1e4 (order-free, engine-exact — mirrors
    # dsir_weights' round(llr*10000) bigint formulation token-for-token)
    _dsir_weights_sql = """
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         (lang = 'en') AS t,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x != '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, t, g FROM (
    SELECT doc_id, t, unnest(tk) AS g FROM base
    UNION ALL
    SELECT doc_id, t,
           unnest(tk[1:len(tk)-1]) || chr(31) || unnest(tk[2:len(tk)]) AS g
    FROM base
  ) WHERE g IS NOT NULL
),
bucketed AS (
  SELECT doc_id, t,
         CAST(CAST('0x' || substr(md5(g), 1, 15) AS UBIGINT) AS BIGINT)
           % 8192 AS bucket
  FROM grams
),
model AS (
  SELECT bucket,
         SUM(CASE WHEN t THEN 1 ELSE 0 END) AS tc,
         SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS rc
  FROM bucketed GROUP BY bucket
),
totals AS (
  SELECT CAST(SUM(tc) AS BIGINT) AS tt, CAST(SUM(rc) AS BIGINT) AS rt
  FROM model
),
scored AS (
  SELECT bucket,
         CAST(round((ln(tc + 1) - ln(tt + 8192) - ln(rc + 1)
                     + ln(rt + 8192)) * 10000) AS BIGINT) AS llr4
  FROM model, totals
),
per_doc AS (
  SELECT b.doc_id, COUNT(*) AS n_grams,
         CAST(SUM(s.llr4) AS BIGINT) AS s4
  FROM bucketed b JOIN scored s USING (bucket)
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.s4, 0) AS BIGINT) / 10000.0 AS dsir_weight
FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
LEFT JOIN per_doc p USING (doc_id)
"""
    o["q73_dsir_weights"] = _dsir_weights_sql

    # DSIR resampling: Gumbel-top-k over the q73 weights — key =
    # weight/temperature - ln(-ln(u_open)) with u_open the shared
    # 1e6-grid md5 uniform shifted to (0,1); top 100 keys, ties on id
    o["q74_dsir_resample"] = f"""
WITH w AS ({_dsir_weights_sql}),
keyed AS (
  SELECT d.doc_id, d.source, w.dsir_weight,
         w.dsir_weight / 2.0
           - ln(-ln((CAST(CAST(CAST('0x' || substr(
                 md5('samp:7:' || d.doc_id), 1, 15) AS UBIGINT) AS BIGINT)
               % 1000000 AS DOUBLE) + 0.5) / 1000000)) AS gkey
  FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id, source
        FROM documents) d
  JOIN w USING (doc_id)
)
SELECT doc_id, source, dsir_weight
FROM keyed
ORDER BY gkey DESC, doc_id ASC
LIMIT 100
"""

    # SQ8 quantized ANN with exact rerank: codes = floor((x/nrm)·128/s)
    # clamped to [−128,127] with s = max |normalized value| over the
    # corpus (order-free max); candidate cut = top 40 by the INTEGER
    # code-dot (engine-exact ordering); final = exact cosine round-6 of
    # the candidates — the same expression chain sq8_topk's kernels run
    o["q75_sq8_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (
  SELECT vec_id, v,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
  FROM e
),
dims AS (
  SELECT vec_id,
         unnest(range(len(v))) AS dim,
         unnest(v) / (CASE WHEN nrm > 0 THEN nrm ELSE 1 END) AS nv
  FROM n
),
sc AS (SELECT max(abs(nv)) AS s FROM dims),
codes AS (
  SELECT vec_id, dim,
         CAST(LEAST(127, GREATEST(-128, floor(nv * 128 / s))) AS BIGINT)
           AS c
  FROM dims, sc
),
qc AS (SELECT dim, c AS qcode FROM codes WHERE vec_id = 0),
adot AS (
  SELECT codes.vec_id, SUM(c * qcode) AS a
  FROM codes JOIN qc USING (dim) GROUP BY codes.vec_id
),
cand AS (SELECT vec_id FROM adot ORDER BY a DESC, vec_id LIMIT 40)
SELECT e.vec_id,
       round(list_cosine_similarity(e.v,
             (SELECT v FROM e WHERE vec_id = 0)), 6) AS cos
FROM e JOIN cand USING (vec_id)
ORDER BY cos DESC, e.vec_id LIMIT 10
"""

    # add-one bigram LM mean-transition score; both roundings (per-position
    # 9-digit, per-doc 6-digit) in exact HUGEINT HALF_UP arithmetic,
    # mirroring bigram_transition_score's decimal(38,0) formulation
    o["q63_lm_score"] = f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter({_WORDS}, x -> x <> '') AS tk
  FROM documents
), bg0 AS (
  SELECT doc_id, unnest(tk[1:len(tk) - 1]) AS w1,
         unnest(tk[2:len(tk)]) AS w2
  FROM toks WHERE len(tk) >= 2
), bgm AS (
  SELECT doc_id, w1, w2, count(*) AS m FROM bg0 GROUP BY doc_id, w1, w2
), b AS (
  SELECT w1, w2, sum(m) AS b FROM bgm GROUP BY w1, w2
), c AS (
  SELECT w1, sum(b) AS c FROM b GROUP BY w1
), v AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT unnest(tk) AS w FROM toks)
), p AS (
  SELECT bgm.doc_id, CAST(bgm.m AS HUGEINT) AS m,
         (CAST(2 * (b.b + 1) AS HUGEINT) * 1000000000
          + CAST(c.c + v.v AS HUGEINT))
           // (2 * CAST(c.c + v.v AS HUGEINT)) AS p9
  FROM bgm JOIN b USING (w1, w2) JOIN c USING (w1) CROSS JOIN v
), d AS (
  SELECT doc_id, sum(m * p9) AS sp9, sum(m) AS nb FROM p GROUP BY doc_id
)
SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
       CAST((2 * sp9 + nb * 1000) // (2 * nb * 1000) AS DOUBLE)
         / CAST(1000000.0 AS DOUBLE) AS lm_score
FROM d
"""

    return o
