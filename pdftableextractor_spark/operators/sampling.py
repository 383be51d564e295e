"""Corpus composition operators for training-data pipelines: deterministic
stratified sampling (domain mixing) and token-budget shard packing.

Both are SCAN-SHAPED by design at the 100 TB point:

- ``stratified_sample`` is a pure filter — the keep/drop decision is a
  per-row md5 hash against the stratum's target fraction, so it is exactly
  reproducible across runs, cluster sizes, and partitionings (unlike
  ``df.sample``, whose output depends on partition layout), and Catalyst
  pushes it like any other predicate. No shuffle.
- ``pack_shards`` assigns documents to contiguous training shards bounded by
  a token budget. The cumulative sum is windowed PER GROUP (e.g. per
  source/domain), never globally — a global running sum would force a
  single-partition window. Shard identity is (group, shard_idx); packing
  order within a group is the deterministic id order. It is EAGER: it pins
  its range-bucketed frame, the one frame both of its branches read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 10^6 resolution for the sampling hash: u = md5-60bit % 1e6 / 1e6
_RES = 1_000_000


def _uniform_col(id_col, seed: int):
    """Deterministic uniform in [0, 1): the shared portable md5 hash
    (conv(substr(md5, 1, 15), 16, 10), same primitive as the dedup suite)
    reduced to 6 decimal digits — reproducible bit-for-bit in DuckDB."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"samp:{seed}:"), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (h % _RES).cast("double") / F.lit(float(_RES))


def stratified_keep_col(
    fractions: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 7,
    default_fraction: float = 0.0,
) -> Column:
    """True iff the row's deterministic per-id uniform < its stratum's
    target fraction. Strata absent from ``fractions`` fall back to
    ``default_fraction`` (0 = drop)."""
    frac = F.lit(float(default_fraction))
    for k, v in sorted(fractions.items()):
        frac = F.when(F.col(stratum_col) == k, F.lit(float(v))).otherwise(frac)
    return _uniform_col(id_col, seed) < frac


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 7,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Hash-based domain mixing: the rows of ``docs`` that
    ``stratified_keep_col`` keeps."""
    return docs.filter(
        stratified_keep_col(
            fractions, stratum_col, id_col, seed, default_fraction
        )
    )


def _range_buckets(
    docs: DataFrame, group_col: str, id_col: str, num_buckets: int | None
) -> DataFrame:
    """``docs`` range-partitioned on (group, id) into order-preserving
    buckets, ``__bkt`` = spark_partition_id: ascending bucket id ==
    ascending (group, id), and a bucket never splits equal keys. Lazy; the
    explicit bucket count keeps AQE from re-coalescing them."""
    b = num_buckets or docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartitionByRange(
        b, F.col(group_col), F.col(id_col)
    ).withColumn("__bkt", F.spark_partition_id())


def pack_shards(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    num_buckets: int | None = None,
) -> DataFrame:
    """Assign each document a (group, shard_idx) so that every shard's token
    sum stays ≤ ``budget_tokens`` + one document (the standard greedy
    contiguous packing: shard_idx = floor((cum_tokens - own) / budget) over
    the group's id order — a document straddling the boundary starts in the
    shard its first token lands in).

    EAGER: pins the range-bucketed frame (one localCheckpoint job, plus the
    range-bounds sampling job) before it returns.

    The cumulative sum is a TWO-LEVEL distributed prefix sum, never one
    partition per group (a corpus with a handful of sources would otherwise
    pack each source through a single task):

      1. range-partition on (group, id) into ``num_buckets`` order-preserving
         buckets (``_range_buckets``);
      2. per-(group, bucket) token totals — a |groups| × buckets frame, tiny
         at any corpus scale — then an EXCLUSIVE cumsum over bucket order
         gives each bucket's starting offset;
      3. broadcast-join the offsets back and finish with a LOCAL windowed
         cumsum inside each (group, bucket) + the bucket offset.

    Steps 2 and 3 both read the bucketed frame, and they must agree on
    ``__bkt`` row by row, or the inner offset join mis-shards or drops
    rows. Two evaluations of the range exchange need not agree: each
    samples its own bounds, and once the totals branch prunes a column the
    main branch keeps, the two exchanges differ and are not reused. So the
    bucketed frame is pinned, and both branches read that one
    materialization, whatever the input lineage. shard ids depend only on
    cumulative token sums in id order, so the output is invariant to the
    physical bucketing. Output adds shard_idx int."""
    # the one pin: the totals branch and the main branch read it
    bucketed = _range_buckets(
        docs, group_col, id_col, num_buckets
    ).localCheckpoint()
    totals = bucketed.groupBy(group_col, "__bkt").agg(
        F.sum(F.col(tokens_col).cast("bigint")).alias("__tot")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        group_col,
        "__bkt",
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"),
    )
    w_loc = (
        Window.partitionBy(group_col, "__bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(tokens_col).cast("bigint")).over(w_loc) + F.col("__off")
    return (
        bucketed.join(F.broadcast(offsets), [group_col, "__bkt"])
        .withColumn(
            "shard_idx",
            F.floor((cum - F.col(tokens_col)) / F.lit(budget_tokens)).cast(
                "int"
            ),
        )
        .drop("__bkt", "__off")
    )


def temperature_fractions(
    docs: DataFrame,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    stratum_col: str = "source",
) -> DataFrame:
    """Per-stratum keep fractions for temperature-based mixture sampling
    (the multinomial-smoothing rule used by multilingual/LLM corpus mixes):

        p_s       = n_s^alpha / sum_t n_t^alpha     -- draw probability
        keep_s    = min(1, B * p_s / n_s)           -- per-doc keep fraction

    with B = ``budget_frac`` * total docs. alpha < 1 up-weights small
    strata; alpha = 1 is proportional (keep = budget_frac everywhere).

    Returns (stratum, n_docs, frac) — one row per stratum, computed with a
    groupBy + a single-row broadcast cross-join; nothing touches the driver.
    """
    per = docs.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    pw = per.withColumn(
        "w", F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    )
    tot = pw.agg(
        F.sum("w").alias("w_tot"),
        F.sum("n_docs").alias("n_tot"),
    )
    return (
        pw.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_docs",
            F.least(
                F.lit(1.0),
                F.lit(float(budget_frac))
                * F.col("n_tot")
                * (F.col("w") / F.col("w_tot"))
                / F.col("n_docs"),
            ).alias("frac"),
        )
    )


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Sample the corpus to a temperature-alpha mixture: compute per-stratum
    keep fractions distributed (``temperature_fractions``), broadcast-join
    them back (one row per stratum — always broadcastable), and keep rows by
    the same deterministic per-id hash as ``stratified_sample``. Exactly
    reproducible across runs, partitionings, and cluster sizes."""
    fr = temperature_fractions(docs, alpha, budget_frac, stratum_col)
    return (
        docs.join(
            F.broadcast(fr.select(F.col("stratum").alias(stratum_col), "frac")),
            stratum_col,
        )
        .filter(_uniform_col(id_col, seed) < F.col("frac"))
        .drop("frac")
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    k: int,
    stratum_col: str | None = None,
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows (per stratum if
    ``stratum_col`` given): Efraimidis-Spirakis keys — each row gets
    key = u^(1/w) with u its deterministic per-id uniform, and the top-k
    keys are exactly a w-weighted sample without replacement.

    Per stratum: one projection + one row_number window. Global (no
    stratum): orderBy + limit, which Spark plans as TakeOrderedAndProject —
    per-partition size-k heaps merged on the driver — NEVER an empty
    partitionBy() window, which would serialize the whole corpus through a
    single task's row_number. No iterative draw-and-remove, no collect,
    reproducible across runs/partitionings (same u as stratified_sample).
    Rows with non-positive weight are never sampled. Ties (u^0-style
    degenerate keys) break on id for determinism."""
    w = F.col(weight_col).cast("double")
    u = _uniform_col(id_col, seed)
    key = F.when(w > 0, F.pow(u, F.lit(1.0) / w)).otherwise(F.lit(-1.0))
    # non-positive-weight rows are dropped BEFORE ranking: with desc order
    # every kept key (>= 0) outranks the -1 sentinel, so pre-filtering is
    # rank-equivalent to the filter-after-rank formulation and cheaper
    keyed = docs.withColumn("__wkey", key).filter(F.col("__wkey") >= 0)
    if stratum_col is None:
        return (
            keyed.orderBy(F.desc("__wkey"), F.asc(id_col))
            .limit(k)
            .drop("__wkey")
        )
    win = Window.partitionBy(stratum_col).orderBy(
        F.desc("__wkey"), F.asc(id_col)
    )
    return (
        keyed.withColumn("__wrank", F.row_number().over(win))
        .filter(F.col("__wrank") <= k)
        .drop("__wkey", "__wrank")
    )


def dsir_weights(
    docs: DataFrame,
    target,
    text_col: str = "text",
    n_buckets: int = 8192,
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): score
    every document by the log-likelihood ratio of its hashed n-gram features
    under a TARGET distribution (the small, high-quality set you want more
    of — ``target`` is a boolean Column marking those rows) versus the RAW
    distribution (everything else), both add-one-smoothed bag-of-buckets
    models:

        weight(d) = sum_{g in grams(d)}
                      [ ln((tc_g+1)/(T+B)) - ln((rc_g+1)/(R+B)) ]

    with grams = word unigrams + bigrams hashed into ``n_buckets`` (B)
    buckets, tc/rc the per-bucket gram counts over target/raw docs, and
    T/R the total gram counts. High weight = looks like the target; feed
    the weights through ``weighted_sample`` (optionally exp(w/temperature))
    to perform the resampling step.

    Output: one row per input doc — (id_col, n_grams bigint, dsir_weight
    double). Docs with no grams get weight 0.0. Every doc is scored,
    target rows included (callers filter if they want raw-only selection).

    EXACTNESS CONTRACT (driver-oracle-comparable floats): the per-bucket
    log-likelihood ratio is rounded ONCE to 4 decimals as an integer
    (round(expr*10000) -> bigint) in the B-row model table; per-doc scores
    are then SUMS OF INTEGERS (order-free, engine-exact) divided by 1e4 at
    the edge. Cross-engine ulp drift in ln() only matters within ~4 ulp of
    a 0.5e-4 rounding boundary of a transcendental value — probability
    ~1e-10 per distinct bucket, vs per-row ties that a 6-digit float
    rounding of raw sums would hit in practice.

    Shape at 100 TB: the gram frame is scan-side (one explode of the
    token/successor pairs, then a two-element explode per pair into its
    unigram and bigram — no interpreted lambda, no union re-scan); the
    model is ONE groupBy(bucket) with map-side combine into exactly B
    rows; totals are a 1-row broadcast; the score join is gram ⨝
    broadcast(B-row model) followed by one groupBy(doc). Nothing
    quadratic, one corpus-wide shuffle per aggregation, and the model
    never grows with the corpus — that is the point of hashed features.

    Materialization (round-7): the gram lineage (tokenize + bigram pairs +
    explode + md5 per gram — the expensive scan) is referenced THREE times
    in one call (totals, the scored-model broadcast build, and the score
    join) and exchange reuse never fires across them; the B-row model is
    referenced twice more. Both are localCheckpointed (blocks released by
    the ContextCleaner; see the pin note in the dedup module docstring):
    grams cost ~12 bytes/gram of executor spill-to-disk storage versus
    re-running the md5 scan of the whole corpus twice; the model is 8192
    rows.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    from pdftableextractor_spark.operators.dedup import (
        _gram_structs,
        tokens_col,
    )

    base = docs.select(
        F.col(id_col),
        target.cast("boolean").alias("__t"),
        tokens_col(F.col(text_col)).alias("__tk"),
    )
    # each token paired with its successor (null after the last token):
    # the token is a unigram, the pair (when complete) a bigram
    padded = F.concat(F.col("__tk"), F.array(F.lit(None).cast("string")))
    w1, w2 = F.col("__p").getField("0"), F.col("__p").getField("1")
    grams = (
        base.select(
            id_col, "__t", F.explode(_gram_structs(padded, 2)).alias("__p")
        )
        .select(
            id_col,
            "__t",
            F.explode(F.array(w1, F.concat(w1, F.lit("\x1f"), w2))).alias(
                "g"
            ),
        )
        .filter(F.col("g").isNotNull())
        .select(
            id_col,
            "__t",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("g")), 1, 15), 16, 10).cast(
                    "bigint"
                ),
                F.lit(n_buckets),
            ).alias("bucket"),
        )
        # executor-loss caveat: see the FAULT-TOLERANCE TRADE note in the
        # dedup module docstring (shared by every localCheckpoint here)
        .localCheckpoint(eager=True)
    )
    model = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("tc"),
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("rc"),
    ).localCheckpoint(eager=True)
    totals = model.agg(
        F.sum("tc").alias("tt"), F.sum("rc").alias("rt")
    )
    b = F.lit(n_buckets)
    # written as ((ln(tc+1) - ln(T+B)) - ln(rc+1)) + ln(R+B), reproduced
    # token-for-token in the DuckDB oracle so both engines evaluate the
    # same double expression tree before the single 4-decimal rounding
    llr = (
        F.ln(F.col("tc") + 1)
        - F.ln(F.col("tt") + b)
        - F.ln(F.col("rc") + 1)
        + F.ln(F.col("rt") + b)
    )
    scored_model = (
        model.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(llr * 10000).cast("bigint").alias("__llr4"),
        )
    )
    per_doc = (
        grams.join(F.broadcast(scored_model), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("__llr4").alias("__s4"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_grams"),
            (
                F.coalesce(F.col("__s4"), F.lit(0)).cast("bigint")
                / F.lit(10000.0)
            ).alias("dsir_weight"),
        )
    )


def dsir_resample(
    docs: DataFrame,
    target,
    k: int,
    temperature: float = 1.0,
    text_col: str = "text",
    n_buckets: int = 8192,
    id_col: str = "doc_id",
    seed: int = 7,
    select=None,
) -> DataFrame:
    """The resampling step of DSIR: draw ``k`` docs without replacement
    with probability proportional to exp(dsir_weight / temperature) —
    docs that look like the target are exponentially more likely to
    survive; ``temperature`` flattens (>1) or sharpens (<1) the
    selection.

    Implemented as Gumbel-top-k, the log-space form of the
    Efraimidis-Spirakis keys ``weighted_sample`` uses: key =
    weight/temperature - ln(-ln(u)) with u the shared deterministic
    per-id uniform, shifted onto the OPEN interval (0,1) via
    (h%RES + 0.5)/RES so neither ln is ever evaluated at 0. Taking the
    top-k keys is exactly exp-weighted sampling without replacement, and
    staying in log space means a weight of ±1000 is an ADDITION to the
    key, not an exp() overflow.

    Output: the surviving rows of ``docs`` plus their ``dsir_weight``.
    Plan shape: the weight computation (see ``dsir_weights``), one
    id-equi join back to the doc rows, then orderBy+limit — Spark plans
    the global top-k as TakeOrderedAndProject (per-partition size-k
    heaps merged on the driver), never a single-task window. Ties break
    on id for determinism; reproducible across runs and partitionings.

    ``select`` (optional boolean Column) restricts which rows are
    ELIGIBLE for selection while every row still trains the weight
    model — the paper's setup, where the target corpus defines the
    distribution but only raw docs are candidates (without it, target
    rows would out-score every candidate and win their own contest).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    w = dsir_weights(
        docs, target, text_col=text_col, n_buckets=n_buckets, id_col=id_col
    )
    if select is not None:
        docs = docs.filter(select)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(f"samp:{seed}:"), F.col(id_col).cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    u_open = ((h % _RES).cast("double") + F.lit(0.5)) / F.lit(float(_RES))
    key = F.col("dsir_weight") / F.lit(float(temperature)) - F.ln(
        -F.ln(u_open)
    )
    return (
        docs.join(w.select(id_col, "dsir_weight"), id_col)
        .withColumn("__gkey", key)
        .orderBy(F.desc("__gkey"), F.asc(id_col))
        .limit(k)
        .drop("__gkey")
    )
