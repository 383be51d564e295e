"""Deduplication suite for large-scale training-data pipelines.

All signature computation is built-in Spark SQL expression work (JVM-side,
codegen) — the portable hash primitive is ``md5`` so the DuckDB oracle can
reproduce results bit-for-bit:

  word hash   h(w)  = conv(substr(md5(w), 1, 15), 16, 10)   -- 60-bit int
  minhash sig s_i   = min over shingles of md5(i || ':' || shingle)
  band hash         = md5(concat_ws(US, sig[band*r+1 .. band*r+r]))

Operators:
  exact_dedup            hash-groupBy, first doc_id wins
  tokenize / shingles    shared word/shingle spec (lower, \\s+ split, n-gram)
  minhash_signatures     k independent min-hashes per doc
  minhash_near_dups      LSH band join → candidate pairs → exact-Jaccard verify
  simhash_signatures     60-bit simhash via per-bit vote aggregation
  simhash_near_dups      bit_count(xor) Hamming join within LSH-prefix blocks
  ngram_jaccard_pairs    exact pairwise Jaccard within a blocking key
  connected_components   pair graph -> duplicate clusters (large-star/
                         small-star contraction, O(log n) shuffle rounds)
  minhash_near_dups_incremental  pairs involving a new batch vs a standing
                         corpus (old-old pairs never become candidates)
  embedding_near_dups    cosine near-dup pairs within a blocking key
  duplicate_ngram_spans  n-token windows shared by >= 2 documents
  mask_duplicate_spans   cut the tokens those spans cover, keep the document
  containment_pairs      |A∩B| / min(|A|, |B|) pairs via a prefix-filter join
  ngram_decontaminate    drop docs sharing ANY n-gram with a benchmark
  fuzzy_decontaminate    drop docs containing most of a benchmark doc

Every n-gram operator builds its grams from two column primitives:
``tokens_col`` (the token spec with empty tokens dropped; the operators
whose oracle keeps them use ``tokenize_col``) and ``_gram_structs`` (n
shifted slices zipped, all codegen).

The near-dup operators share one shape — signature → bucket self-join →
verify → pairs — and two private skeletons hold it:
  _self_join             pairs a < b of slim (id, bucket keys, carried
                         columns) rows sharing a bucket; both sides read
                         ONE exchange, so the signature lineage runs once
                         without a pin
  _verified              computes a pair's measure once, then filters on
                         it above a one-element explode
The key-set containment paths (video frames, binary chunks) and
containment_pairs share one size-attach / integer-threshold / round6 tail.

Scale notes (100 TB): every signature is computed scan-side with no shuffle;
the only shuffles are the band-bucket join (keys are uniform md5 values →
no planted skew; AQE skew-join as backstop) and the candidate-pair spread
of the verify, which runs only on band-collision candidates, never all-pairs.
Blocking keys bound the quadratic term for the exact-pair variants.

Pins go through ``plans.pin.pin``; its docstring states the trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdftableextractor_spark.plans.pin import pin
from pdftableextractor_spark.types import US

NUM_HASHES = 64
BAND_ROWS = 4  # 16 bands x 4 rows
SIMHASH_BITS = 60  # 15 hex chars of md5 → avoids sign issues in bigint
SIMHASH_BLOCK_BITS = 12  # simhash_near_dups' blocking prefix

# pair-space salt for the quadratic BLOCK-pair join (ngram_jaccard_pairs):
# one side keyed by pmod(xxhash64(id), salt), the other replicated over the
# range — each unordered pair meets exactly once, and a hot block's
# |block|² blow-up spreads over ``salt`` tasks instead of the ~1
# post-shuffle partition AQE's byte-based coalescing would plan (round-7;
# the salt is deterministic, so task retries are exact). Measured a WIN
# only where the join carries per-row arrays and the pair compute
# dominates; the slim band-bucket joins LOSE from it (see the notes in
# minhash_near_dups / minhash_near_dups_incremental).
_PAIR_SALT = 8

# universal-hash family for MinHash: sig_i = min((a_i*h + b_i) mod P) over
# shingle hashes h (h < P). P = 2^31-1 keeps a_i*h inside int64. The a/b
# constants derive from md5(i) so Spark and the DuckDB oracle share them.
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(num_hashes):
        a = (
            int.from_bytes(hashlib.md5(f"a:{i}".encode()).digest()[:8], "big")
            % (MINHASH_P - 1)
            + 1
        )
        b = (
            int.from_bytes(hashlib.md5(f"b:{i}".encode()).digest()[:8], "big")
            % MINHASH_P
        )
        out.append((a, b))
    return out


def tokenize_col(col):
    """lower → trim → split on whitespace. The shared token spec."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def tokens_col(col):
    """``tokenize_col`` with its empty tokens dropped: Spark's trim strips
    spaces only, so text that starts or ends with a tab or newline splits
    to a leading or trailing '' the oracles (list_filter x <> '') never
    see. The token spec of the n-gram operators whose oracle drops them."""
    return F.array_remove(tokenize_col(col), "")


def shingles_col(col, n: int):
    """Distinct word n-grams of the token array (sorted for set semantics)."""
    return shingles_from_tokens_col(tokenize_col(col), n)


def shingles_from_tokens_col(w, n: int):
    """n-grams over an existing token-array column, built from
    ``_gram_structs`` (each gram's tokens " "-joined): the token array is
    referenced once per slice, never once per gram."""
    if n == 1:
        return F.array_sort(F.array_distinct(w))
    gram = F.transform(_gram_structs(w, n), lambda g: _gram_text(g, n))
    return F.array_sort(F.array_distinct(gram))


def word_hash_col(col):
    """Portable 60-bit word hash: conv(substr(md5(w),1,15), 16, 10)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# --- the near-dup skeleton ---------------------------------------------------


def _self_join(
    rows: DataFrame, id_col: str, keys: list[str], a: str, b: str
) -> DataFrame:
    """Pairs of ``rows`` that agree on every column of ``keys``, once per
    shared bucket: (a, b, then c_a, c_b for every other column c of
    ``rows``) with a < b. ``rows`` should be slim: (id, bucket keys,
    carried columns).

    Both sides read ONE exchange of ``rows``, so the signature lineage
    under it (a decode kernel, a signature aggregation) runs once with no
    pin. The shuffle_merge hint is what makes sure of it: a small input
    would otherwise plan a static broadcast join, whose build and stream
    sides share nothing. The join keeps its own hash exchanges, which
    AQE's skew-join split acts on."""
    carry = [c for c in rows.columns if c != id_col and c not in keys]
    l, r = rows.alias("__l"), rows.alias("__r")
    return (
        l.hint("shuffle_merge")
        .join(r, [F.col(f"__l.{k}") == F.col(f"__r.{k}") for k in keys])
        .filter(F.col(f"__l.{id_col}") < F.col(f"__r.{id_col}"))
        .select(
            F.col(f"__l.{id_col}").alias(a),
            F.col(f"__r.{id_col}").alias(b),
            *[
                F.col(f"__{side}.{c}").alias(f"{c}_{t}")
                for c in carry
                for side, t in (("l", "a"), ("r", "b"))
            ],
        )
    )


def _verified(pairs: DataFrame, keep: list[str], measure, name: str, cond):
    """``keep`` columns of ``pairs`` plus ``measure`` as ``name``, filtered
    by ``cond``. The measure is computed once per pair: the one-element
    explode keeps the filter above it, while a filter on a projected
    measure is pushed into the join condition (or below a Python node)
    and computes it again."""
    return pairs.select(
        *keep, F.explode(F.array(measure)).alias(name)
    ).filter(cond)


def _jaccard_verified(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard >= threshold) of (doc_a, doc_b, sh_a, sh_b)
    shingle-set pairs; one array_intersect per pair."""
    counts = pairs.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("__i"),
        (F.size("sh_a") + F.size("sh_b")).alias("__n"),
    )
    jaccard = F.round(F.col("__i") / (F.col("__n") - F.col("__i")), 6)
    return _verified(
        counts, ["doc_a", "doc_b"], jaccard, "jaccard",
        F.col("jaccard") >= threshold,
    )


def _contained(
    pairs: DataFrame, sizes: DataFrame, name: str, measure, t_micro: int
) -> DataFrame:
    """The containment tail: (a, b, name, size_a, size_b, containment) of
    the (a, b, ...) ``pairs`` whose shared count ``name`` is at least
    ``t_micro``/10^6 of the smaller size. ``sizes`` is (id, size, ...);
    each side's columns attach suffixed _a/_b, and ``measure`` computes
    the shared count from them (once, through ``_verified``). The
    threshold is pure integer (name·10^6 >= t_micro·min(size)) and the
    emitted containment uses ``exact_ratio_round6``, so the DuckDB
    oracles match bit for bit."""
    a, b = pairs.columns[:2]

    def side(t, id_name):
        return sizes.toDF(id_name, *[f"{c}_{t}" for c in sizes.columns[1:]])

    sized = pairs.join(side("a", a), a).join(side("b", b), b)
    smaller = F.least("size_a", "size_b")
    cond = F.col(name) * F.lit(1_000_000) >= F.lit(t_micro) * smaller
    out = _verified(sized, [a, b, "size_a", "size_b"], measure, name, cond)
    return out.select(
        a,
        b,
        F.col(name).cast("bigint").alias(name),
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
        exact_ratio_round6(F.col(name), smaller).alias("containment"),
    )


def _t_micro(threshold: float) -> int:
    """A containment threshold in (0, 1] as integer millionths. At 0 the
    prefix filter of ``containment_pairs`` admits every shingle (its join
    fans out on the hottest ones), and above 1 no pair can pass."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    return int(round(float(threshold) * 1_000_000))


def _key_set_containment(
    sigs: DataFrame,
    key: str,
    threshold: float,
    max_df: int,
    match: list[str] | None = None,
) -> DataFrame:
    """Containment pairs over key SETS: (asset_a, asset_b, shared, size_a,
    size_b, containment) of the (asset_id, ``key``[, ``match``]) rows
    ``sigs``, where shared counts the keys two assets have in common and
    containment = shared / min(size). The path of video_near_dups (frame
    hashes, ``match=["real"]``) and binary_near_dups (chunk hashes).

    A key held by more than ``max_df`` distinct assets is dropped from
    every set before the sizes are counted; that bounds the self-join's
    per-key fan-out. Candidates form only through the self-join on
    ``key`` (and ``match``).
    EAGER: pins ``sigs`` (read by the df census and the capped join)."""
    t_micro = _t_micro(threshold)
    keys = [key] + (match or [])
    sigs = pin(sigs, f"key-set containment signatures ({key})")
    dfreq = sigs.groupBy(key).agg(F.count_distinct("asset_id").alias("__df"))
    capped = (
        sigs.join(dfreq, key)
        .filter(F.col("__df") <= max_df)
        .select("asset_id", *keys)
    )
    sizes = capped.groupBy("asset_id").agg(F.count(F.lit(1)).alias("size"))
    shared = (
        _self_join(capped, "asset_id", keys, "asset_a", "asset_b")
        .groupBy("asset_a", "asset_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return _contained(shared, sizes, "shared", F.col("shared"), t_micro)


# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate grouping: one representative (lowest doc_id) per
    md5(text); returns (doc_id, content_hash, group_size)."""
    h = docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("content_hash"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "group_size", F.count("*").over(Window.partitionBy("content_hash"))
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash", "group_size")
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 1,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """(doc_id, sig array<bigint>[num_hashes]).

    One md5 per shingle, then ``num_hashes`` universal-hash mixes. Shape:
    explode + groupBy(doc_id) with one codegen'd min-agg per hash — NOT
    array higher-order functions (HOF lambdas are interpreted, measured ~20x
    slower). Map-side partial aggregation reduces the shuffle to
    ``num_hashes`` values per doc per input partition, so this scales to
    arbitrarily large documents.

    Input-skew guard (round-7, guide §2.5): with the gram scan fully
    map-side, a single-row-group input runs the whole tokenize+md5+min-agg
    pass in ONE task. For n >= 2 the per-doc gram work is heavy enough
    that spreading the (slim) doc rows first wins — interleaved A/B at
    sf0.1: n=3/64 hashes 2.65 -> 1.92 s; the n=1 paths LOSE (n=1/16
    hashes 7.7 -> 10.5 s on q55's incremental cadence) and stay unspread.
    No-op whenever the scan already plans >= defaultParallelism tasks,
    i.e. always at 100 TB."""
    if n >= 2:
        from pdftableextractor_spark.plans.skew import (
            spread_underparallel_scan,
        )

        docs = spread_underparallel_scan(docs, "doc_id")
    grams = exploded_shingles(docs, text_col, n)
    h0 = grams.select(
        "doc_id", (word_hash_col(F.col("s")) % MINHASH_P).alias("h0")
    )
    # one SQL string per hash: each Column operator makes several py4j
    # round trips (call-site capture), and building these from operators
    # dominated the construction time of every minhash query
    aggs = [
        F.expr(f"min(({a} * h0 + {b}) % {MINHASH_P})").alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    ms = ", ".join(f"m{i}" for i in range(num_hashes))
    return (
        h0.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.expr(f"array({ms})").alias("sig"))
    )


def _tokens(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, __tk) — the ``tokens_col`` tokens, in their own projection
    so gram slices reference a bound attribute, not n inlined copies of
    the tokenizer (over a derived text column that inlining OOM'd codegen
    at n=13; see ngram_decontaminate)."""
    return docs.select("doc_id", tokens_col(F.col(text_col)).alias("__tk"))


def _gram_structs(tk, n: int):
    """The n-grams of token array ``tk`` as structs of n tokens (fields
    "0".."n-1"): n shifted slices zipped together, all codegen —
    constructing gram arrays with higher-order-function lambdas is
    interpreted and was the measured bottleneck of the signature scan.
    Tokens hold no whitespace, so a gram struct and its " "-joined string
    (``_gram_text``) determine each other."""
    m = F.greatest(F.size(tk) - (n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(tk, i + 1, m) for i in range(n)])


def _gram_text(gs, n: int):
    """The " "-joined string of an n-token ``_gram_structs`` element."""
    return F.concat_ws(" ", *[gs.getField(str(i)) for i in range(n)])


def exploded_shingles(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    """(doc_id, s) — one row per n-gram occurrence (dups kept; min-hash over
    a multiset equals min-hash over the set), exploded once from
    ``_gram_structs``. Unlike a posexplode + lead window it needs NO
    exchange: the window shuffled one row per TOKEN corpus-wide before any
    gram existed."""
    toks = _tokens(docs, text_col)
    if n == 1:
        return toks.select("doc_id", F.explode("__tk").alias("s"))
    return toks.select(
        "doc_id", F.explode(_gram_structs(F.col("__tk"), n)).alias("__gs")
    ).select("doc_id", _gram_text(F.col("__gs"), n).alias("s"))


def minhash_near_dups(
    docs: DataFrame, n: int = 1, threshold: float = 0.5
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: band-bucket join → exact Jaccard
    verify → (doc_a, doc_b, jaccard). Only band-collision candidates are
    verified; the band join is the lone shuffle, and both of its sides
    read one exchange of the band rows, so the signature pass runs once."""
    bands = band_rows_from_sigs(minhash_signatures(docs, n=n))
    # NOTE(round-7): a salted band join (the ngram_jaccard_pairs fix) was
    # measured here and REVERTED — unlike the block-pair join, band rows
    # are slim and the verify dominates, so the salt's extra exchange +
    # probe-side replication lost 50% (interleaved A/B 2.35 vs 3.6 s)
    cand = _self_join(
        bands, "doc_id", ["band_idx", "band_hash"], "doc_a", "doc_b"
    )
    return verify_jaccard_pairs(cand, docs, n=n, threshold=threshold)


def band_rows_from_sigs(
    sigs: DataFrame,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """(doc_id, band_idx, band_hash) — slim band rows from a signature
    table, keeping any other column of ``sigs`` beside doc_id (a side tag);
    never carries shingle arrays through the bucket join. Cheap JVM
    expression work, so bands are recomputed from stored sigs rather than
    persisted (num_hashes values per doc beat n_bands md5 strings)."""
    n_bands = num_hashes // band_rows
    # guard against caller/store drift on num_hashes: out-of-range sig
    # indices read null, concat_ws silently SKIPS nulls, and every doc
    # would share the constant md5('') band hash — an O(n x m) candidate
    # explosion with no error. The raise lives inside the filter predicate
    # so Catalyst cannot prune it.
    sigs = sigs.filter(
        F.when(F.size("sig") == num_hashes, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"signature length mismatch: expected {num_hashes}, got "
                    ),
                    F.size("sig").cast("string"),
                )
            )
        )
    )
    # SQL strings for the same reason as minhash_signatures' aggregates;
    # US goes in as a '\uXXXX' escape
    sep = f"'\\u{ord(US):04x}'"
    band_md5s = ", ".join(
        f"md5(concat_ws({sep}, "
        + ", ".join(f"sig[{b * band_rows + r}]" for r in range(band_rows))
        + "))"
        for b in range(n_bands)
    )
    return sigs.select(
        *[c for c in sigs.columns if c != "sig"],
        F.expr(f"posexplode(array({band_md5s}))").alias("band_idx", "band_hash"),
    )


def verify_jaccard_pairs(
    cand: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verify of candidate (doc_a, doc_b) pairs (a pair may
    repeat). Each doc's shingle set (the exploded_shingles grams, distinct)
    is built row-locally from its text — no aggregation — and the inner
    joins keep only docs that appear in some candidate pair. The pairs are
    hash-spread over ``defaultParallelism`` partitions (one per core)
    first: the candidate frame is small, so AQE would otherwise coalesce it
    into one task that runs every array_intersect."""
    tk = F.col("__tk")
    grams = tk if n == 1 else _gram_structs(tk, n)
    sh = _tokens(docs, text_col).select("doc_id", F.array_distinct(grams))
    pairs = (
        cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
        .distinct()
        .join(sh.toDF("doc_a", "sh_a"), "doc_a")
        .join(sh.toDF("doc_b", "sh_b"), "doc_b")
    )
    return _jaccard_verified(pairs, threshold)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash: per-token 60-bit hash; each bit votes ±1 weighted by
    term frequency; sign of the vote sets the output bit. Explode + groupBy
    keeps everything in codegen; one shuffle on doc_id.

    Input-skew guard (round-7): the 60 per-token vote aggregations are
    heavy map work, so a single-row-group input (one scan task) serializes
    them — spread the doc rows first (interleaved A/B at sf0.1:
    1.26 -> 0.95 s; no-op when the scan is already parallel)."""
    from pdftableextractor_spark.plans.skew import spread_underparallel_scan

    docs = spread_underparallel_scan(docs, "doc_id")
    toks = docs.select(
        "doc_id", F.explode(tokenize_col(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    hashed = toks.select("doc_id", word_hash_col(F.col("w")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))


def simhash_near_dups(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Blocking on the
    top ``SIMHASH_BLOCK_BITS`` bits bounds the join (at 100 TB the block
    prefix is the shuffle key; rotate prefixes for full recall — here one
    rotation). Both join sides read one exchange of the (doc_id, simhash,
    block) rows, so the signature scan (tokenize + 60 votes) runs once."""
    blocked = simhash_signatures(docs).withColumn(
        "block",
        F.shiftright(F.col("simhash"), SIMHASH_BITS - SIMHASH_BLOCK_BITS),
    )
    return (
        _self_join(blocked, "doc_id", ["block"], "doc_a", "doc_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_near_dups_unlabeled(
    embeddings: DataFrame,
    k: int = 16,
    threshold: float = 0.99,
    iters: int = 3,
    n_probe: int = 2,
    fit_sample_per_cell: int | None = 256,
) -> DataFrame:
    """embedding_near_dups for corpora with NO cluster/label column: k-means
    cells (similarity.kmeans_centroids, deterministic) become the blocking
    key, and every vector is MULTI-PROBE assigned to its ``n_probe`` nearest
    cells (round-2 verdict fix: with single assignment, two near-identical
    vectors equidistant between centroids can land in different cells and
    the pair is silently lost — top-2 probing recovers any pair whose two
    members agree on at least one of their two nearest cells). Cost:
    n_probe rows per vector through the blocked join — still O(n²·p²/k),
    never all-pairs; duplicate candidates from shared cells dedup with one
    distinct over the (pair, cos) rows.
    EAGER: pins the k-means fit sample (sampled fit only)."""
    from pdftableextractor_spark.operators.similarity import (
        _probed,
        kmeans_centroids,
    )

    cents = kmeans_centroids(
        embeddings, k=k, iters=iters,
        fit_sample_per_cell=fit_sample_per_cell,
    )
    probed = _probed(
        embeddings, cents, n_probe, "vec_id", "embedding"
    ).withColumn("cell", F.col("cell").cast("string"))
    return embedding_near_dups(
        probed, block_col="cell", threshold=threshold
    ).distinct()


def hamming_near_dup_pairs(
    sigs: DataFrame,
    hash_col: str,
    bits: int,
    max_hamming: int,
    n_bands: int,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    real_col: str | None = None,
) -> DataFrame:
    """Generic multiband Hamming near-dup pair join over
    (``id_col``, ``hash_col``) signatures — the one blocking shape behind
    simhash text dedup AND the perceptual image/audio dedup paths: the
    ``bits``-bit signature splits into ``n_bands`` disjoint bands
    (bits/n_bands each; ``bits`` must divide evenly or the uncovered
    remainder would break the pigeonhole); candidates agree on at least
    one full band (recall is EXACT for hamming <= n_bands - 1,
    probabilistically high above), then one bit_count(xor) verify per
    candidate. JVM codegen on bigints end to end; linear in corpus size
    for uniform signatures, never all-pairs.

    ``real_col``: when the signature frame carries a boolean "this is a
    genuine perceptual hash" flag (the image/audio kernels degrade
    undecodable payloads to a sha pseudo-hash), pairs are restricted to
    (a) real-real at any hamming <= max_hamming — perceptual similarity
    is only meaningful between real hashes — and (b) pseudo-pseudo at
    hamming == 0 — byte-identical payloads still dedup exactly, but a
    pseudo-hash can never claim NEAR-similarity, and real/pseudo never
    mix (they live in different hash spaces).

    Both join sides read one exchange of the band rows, so ``sigs`` (for
    the perceptual callers, the decode of every media payload) is computed
    once, with no pin."""
    if bits % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide bits={bits}")
    band_bits = bits // n_bands
    cols = [id_col, hash_col] + ([real_col] if real_col else [])
    # slim: one (id, bigint hash[, bool], band) row per item and band
    bands = sigs.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        F.shiftright(F.col(hash_col), t * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band"),
                    )
                    for t in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(*cols, F.col("bb.t").alias("t"), F.col("bb.band").alias("band"))
    # a pair may collide in several bands — verify once
    cand = _self_join(bands, id_col, ["t", "band"], a_col, b_col).distinct()
    out = cand.withColumn(
        "hamming",
        F.bit_count(F.col(f"{hash_col}_a").bitwiseXOR(F.col(f"{hash_col}_b"))),
    ).filter(F.col("hamming") <= max_hamming)
    if real_col:
        ra, rb = F.col(f"{real_col}_a"), F.col(f"{real_col}_b")
        out = out.filter((ra & rb) | ((F.col("hamming") == 0) & (ra == rb)))
    return out.select(
        a_col, b_col, F.col("hamming").cast("int").alias("hamming")
    )


def simhash_near_dups_multiband(
    docs: DataFrame, max_hamming: int = 8
) -> DataFrame:
    """Multi-band SimHash near-dup pairs — the rotated-prefix variant
    promised by ``simhash_near_dups``'s single-rotation caveat.

    The 60-bit signature splits into 5 disjoint 12-bit bands; a
    candidate pair is any pair agreeing on at least one full band.
    Pigeonhole guarantee: recall is EXACT for hamming <= 4 and
    probabilistically high above it (the single-prefix variant misses any
    pair whose diff bits land in the one blocked prefix). The blocking
    join itself is ``hamming_near_dup_pairs`` — the one multiband shape
    shared with the perceptual image/audio dedup paths. Cost: 5
    band rows per doc, join per (band_idx, band_value), distinct pair
    dedup before the hamming verify — same shape as MinHash-LSH banding,
    linear in corpus size for uniform signatures.
    """
    return hamming_near_dup_pairs(
        simhash_signatures(docs), "simhash", SIMHASH_BITS, max_hamming, 5
    )


def ngram_jaccard_pairs(
    docs: DataFrame, block_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact pairwise word Jaccard within a blocking key (the baseline the
    sketches approximate). Quadratic only within blocks.

    Parallelism note (round-7): the quadratic blow-up happens INSIDE the
    join — its shuffle inputs are one slim row per doc, so AQE's byte-based
    coalescing packs whole blocks into one or two post-shuffle partitions
    and the |block|² intersect work runs nearly serial (measured 8.6 s vs
    1.1 s at sf0.1 on local[32]). Two structural fixes, both result-exact:
      * deterministic pair-space salting — side A keyed by
        pmod(xxhash64(doc_id), salt), side B replicated over the salt range
        (each unordered pair meets exactly once), so a block's pair work
        spreads over ``_PAIR_SALT`` tasks;
      * an explicit ``repartition(shuffle.partitions, block, __s)`` on side
        A — AQE never coalesces a user-specified repartition, so task count
        follows the session's shuffle-partition sizing (scale-adaptive:
        4×cores locally, the job conf on a cluster) instead of the byte
        estimate that is wrong by the quadratic factor.
    The Jaccard of a pair is computed once, above the join."""
    npart = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = docs.select(
        F.col("doc_id"),
        F.col(block_col).alias("block"),
        shingles_col(F.col("text"), 1).alias("sh"),
    ).filter(F.size("sh") > 0)
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), "block",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(_PAIR_SALT)).alias("__s"),
    ).repartition(npart, "block", "__s")
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), "block",
        F.explode(F.sequence(F.lit(0), F.lit(_PAIR_SALT - 1))).alias("__s"),
    )
    pairs = a.join(b, ["block", "__s"]).filter(F.col("doc_a") < F.col("doc_b"))
    return _jaccard_verified(pairs, threshold)


def ngram_decontaminate(
    docs: DataFrame, benchmark: DataFrame, n: int = 13
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C rule made a batch
    operator): drop every training document sharing ANY word n-gram with a
    held-out benchmark/eval set.

    Scale shape (100 TB): the benchmark side is small by definition — its
    distinct n-gram set is aggregated and BROADCAST, so the docs side is a
    scan + generator + broadcast left-anti semi probe: no shuffle of corpus
    data at all. The probe runs on the exploded grams but short-circuits
    per document via the distinct-doc_id contaminated set.

    Returns the surviving documents (all input columns).

    Implementation note: tokenization happens in its OWN projection before
    the gram transform (shingles_from_tokens_col) — the gram slices
    reference the token array n times, and over a derived text column
    (e.g. the curation funnel's redacted text) Catalyst would inline the
    whole upstream lineage into each reference: at n=13 that OOM'd codegen.
    The barrier keeps the reference a bound attribute."""

    def _grams(df, *keep):
        toks = df.select(
            *keep, tokenize_col(F.col("text")).alias("__w")
        )
        return toks.select(
            *keep,
            F.explode_outer(shingles_from_tokens_col(F.col("__w"), n)).alias(
                "g"
            ),
        ).filter(F.col("g").isNotNull())

    bench_grams = _grams(benchmark).distinct()
    doc_grams = _grams(docs, "doc_id")
    contaminated = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .select("doc_id")
        .distinct()
    )
    return docs.join(contaminated, "doc_id", "left_anti")


def embedding_near_dups(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key (cluster
    id / LSH bucket at scale): (vec_a, vec_b, cos). The pair verify runs in
    the Arrow-batched pairwise kernel — one einsum per batch, not per-row
    interpreted HOF math — once per pair."""
    from pdftableextractor_spark.kernels.vectors import pairwise_cosine_udf

    e = embeddings.select(
        "vec_id", F.col(block_col).alias("block"), "embedding"
    )
    pairs = _self_join(e, "vec_id", ["block"], "vec_a", "vec_b")
    cos = F.round(
        pairwise_cosine_udf()(F.col("embedding_a"), F.col("embedding_b")), 6
    )
    return _verified(
        pairs, ["vec_a", "vec_b"], cos, "cos", F.col("cos") >= threshold
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """Transitive closure over near-dup pairs → ``(node, component)`` where
    ``component`` is the minimum node id of the connected component.

    Pair-level dedup ("drop doc_b of every pair") is not transitive: with
    pairs (a,c) and (b,c) it keeps both a and b even though all three are
    one duplicate cluster. The standard corpus-dedup semantics — keep ONE
    canonical document per cluster — needs the connected components of the
    pair graph.

    Algorithm: alternating large-star / small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14).
    Each round is two groupBy+join passes over the edge list and the edge
    set converges to per-component stars in O(log n) rounds EVEN for path
    graphs — naive min-label propagation needs O(diameter) shuffle rounds,
    and chain-shaped near-dup clusters (a~b~c~…, each link above threshold
    but the ends below it) are exactly the common case at corpus scale.

      large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
      small-star(u): over edges directed hi→lo, m = min(N(u));
                     emit (v, m) for the smaller neighbors v ≠ m, plus (u, m)

    Scale notes (100 TB): state is the edge list only — O(pairs) rows of two
    id columns, shuffled on uniform ids (no planted skew; a mega-cluster's
    star root is the one hot key, and it shrinks every round as edges
    dedup). Lineage is truncated per round with a pin (the curate-funnel
    lesson: iterative self-referencing plans otherwise double per round).
    Convergence is detected with one aggregate — (count, xor of per-edge
    xxhash64) — not a full set-difference join.

    Node ids compare with their column ordering (string ids → lexicographic;
    both engines use codepoint order, so the DuckDB oracle agrees). Output
    covers every node that appears in at least one pair; singletons are the
    caller's coalesce (see q52).

    Adaptive cutoff: when the RAW edge list has <= ``small_graph_
    threshold`` edges (one collect of at most threshold + 1 pinned edges
    decides and, on this path, is the edge list; raw >= the deduped
    count, so the check only ever errs toward the distributed path), the
    components are solved with a driver-side union-find
    instead of O(log n) distributed rounds — identical min-label output
    (union-find is insensitive to duplicate edges, and the callers' pair
    generators emit each unordered pair once anyway), bounded driver
    memory (1M edges x 2 ids ~ 100 MB even with long ids — a DRIVER
    bound independent of corpus size), an order of magnitude less
    scheduler overhead, and NO distinct shuffle or signature aggregate on
    this path (round-7). The distributed path dedups and takes the
    convergence signature exactly as before; there the bounded collect is
    spent work: each partition ships at most threshold + 1 edges to one
    reducer, and threshold + 1 of them reach the driver.
    Near-dup graphs are SPARSE by construction (band-collision pairs), so
    even large corpora often land under the cutoff; pass
    ``small_graph_threshold=0`` to force the distributed path.
    EAGER: pins the raw edges (and each round's, distributed path).
    """
    e_raw = pairs.select(
        F.col(a_col).cast("string").alias("u"),
        F.col(b_col).cast("string").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    e_raw = pin(e_raw, "connected-components edges")

    def _signature(edges: DataFrame) -> tuple[int, int]:
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor is a distributed map-side-combining aggregate;
            # order-independent and collision-safe enough for a convergence
            # check (a false "converged" needs two edge SETS with equal
            # count and equal 64-bit xor)
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    def _large_star(edges: DataFrame) -> DataFrame:
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mn = sym.groupBy("u").agg(F.min("v").alias("mn"))
        return (
            sym.join(mn, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        d = (
            edges.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mn = d.groupBy("u").agg(F.min("v").alias("m"))
        joined = d.join(mn, "u")
        return (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(mn.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
        )

    # one Arrow collect (far cheaper than py4j rows) decides the path and
    # fetches the edges
    pdf = e_raw.limit(small_graph_threshold + 1).toPandas()
    if len(pdf) <= small_graph_threshold:
        parent: dict[str, str] = {}

        def _find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u_, v_ in zip(pdf["u"].values, pdf["v"].values):
            ra, rb = _find(u_), _find(v_)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        import pandas as pd

        # Arrow-path createDataFrame (a pandas frame, not a tuple list):
        # the tuple list re-pickles per action through py4j; the Arrow path
        # ships one batch (round-7, measured on the q52 join-back)
        out = pd.DataFrame(
            {"node": list(parent), "component": [_find(x) for x in parent]}
        )
        return pairs.sparkSession.createDataFrame(
            out, "node string, component string"
        )
    e = pin(e_raw.distinct(), "connected-components distinct edges")
    sig = _signature(e)
    for _ in range(25):
        e = pin(_small_star(_large_star(e)), "connected-components round")
        new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig

    # converged star graph: each non-root points at its root; roots map to
    # themselves. The groupBy-min keeps the result well-defined even if
    # the 25-round cap cut the loop short of a fixpoint.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def minhash_near_dups_incremental(
    new_docs: DataFrame,
    old_docs: DataFrame,
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch (new-vs-old + new-vs-new),
    for the production cadence where increments arrive against a standing
    corpus:

    - Standing and batch signatures are tagged ``is_new`` and banded once;
      the band rows join their own ``is_new`` side, so old-old collisions
      never become candidates: candidate volume is O(new-batch
      collisions), not O(corpus collisions).
    - The exact-Jaccard verify (verify_jaccard_pairs) joins in old text
      only for the old docs that band-collide with the batch.

    One lazy query: building it starts no Spark job, and it pins nothing.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b; new-new pairs
    appear once. A standing pipeline then drops cluster losers among the
    new docs (old docs always win — they are already in the corpus).
    """
    standing_sigs = minhash_signatures(old_docs, text_col, n, num_hashes)
    batch_sigs = minhash_signatures(new_docs, text_col, n, num_hashes)
    # a doc_id re-sent in the batch REPLACES its standing entry: otherwise
    # the verify would join both texts under one doc_id, while the
    # old-vs-new self pair is invisible (da != db never fires)
    new_ids = new_docs.select("doc_id")
    standing_sigs = standing_sigs.join(new_ids, "doc_id", "left_anti")
    old_docs = old_docs.join(new_ids, "doc_id", "left_anti")
    bands = band_rows_from_sigs(
        standing_sigs.select("doc_id", "sig", F.lit(False).alias("is_new"))
        .unionByName(
            batch_sigs.select("doc_id", "sig", F.lit(True).alias("is_new"))
        ),
        num_hashes,
        band_rows,
    )
    # NOTE(round-7): band-join salting measured and REVERTED here —
    # interleaved A/B 6.76 vs 8.68 s (see the minhash_near_dups note)
    cand = (
        bands.select(F.col("doc_id").alias("da"), "band_idx", "band_hash")
        .join(
            bands.filter("is_new").select(
                F.col("doc_id").alias("db"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("da") != F.col("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
    )
    corpus = old_docs.select("doc_id", text_col).unionByName(
        new_docs.select("doc_id", text_col)
    )
    return verify_jaccard_pairs(cand, corpus, text_col, n, threshold)


def duplicate_ngram_spans(docs: DataFrame, n: int = 4) -> DataFrame:
    """Cross-document repeated n-gram SPANS — the fixed-n distributed
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    position where a document shares an exact n-token window with
    >= 2 distinct documents. Downstream consumers mask or cut
    these spans instead of dropping whole documents — the right granularity
    for boilerplate, licenses, and templated headers that infect otherwise
    unique documents.

    Output: (doc_id, start_pos, gram, n_docs), start_pos the 0-based index
    of the span's first token in the empty-filtered token stream.

    Shape: the n-grams are built SCAN-SIDE with zero shuffles — the
    ``_gram_structs`` of the ``_tokens`` array posexploded once (no per-doc
    window, no self-join, no interpreted HOF: the concat over struct
    fields runs post-explode in whole-stage codegen). The gram census is
    then a two-level count-distinct on the md5 gram hash (uniform keys);
    the span join-back is an equi join on that hash. A viral gram (appears
    in half the corpus) makes a hot join key — byte-skew, which AQE's skew
    split handles; candidate pruning happens BEFORE the join-back (the
    census filter), so the join only moves spans that are actually
    duplicated."""
    # NOTE(round-7): a pin here (census + join-back both read the gram
    # frame) measured NEUTRAL at sf0.1 (A/B 1.25 vs 1.26 s) and the gram
    # frame is BIGGER than the corpus — rejected
    grams = (
        _tokens(docs, "text")
        .select(
            "doc_id",
            F.posexplode(_gram_structs(F.col("__tk"), n)).alias(
                "start_pos", "__gs"
            ),
        )
        .select(
            "doc_id", "start_pos", _gram_text(F.col("__gs"), n).alias("gram")
        )
        .withColumn("__gh", F.md5(F.col("gram")))
    )
    census = (
        grams.groupBy("__gh")
        .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return grams.join(census, "__gh").select(
        "doc_id", "start_pos", "gram", F.col("n_docs").cast("bigint").alias("n_docs")
    )


def containment_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: pairs where the smaller
    document's shingle set is mostly CONTAINED in the larger one's —
    containment = |A∩B| / min(|A|, |B|) >= threshold. This is the dup
    class Jaccard-based MinHash misses by construction: a 200-token doc
    quoted whole inside a 10k-token doc has Jaccard ≈ 0.02 but
    containment 1.0 (the quoted-page / boilerplate-wrapper case corpus
    curation actually meets).

    Output: (doc_a, doc_b, inter, size_a, size_b, containment) with
    doc_a < doc_b, containment rounded to 6 digits; the threshold filter
    itself is pure-integer (inter·10^6 >= t_micro·min(size)), so the
    DuckDB oracle matches bit-for-bit.

    Shape — a PPJoin-style prefix-filter join, never all-pairs:
      1. per-doc DISTINCT word 3-gram shingles (scan-side arrays);
      2. global shingle doc-frequencies (two-level count agg);
      3. each doc's PREFIX = its (|A| - ceil(t·|A|) + 1) globally RAREST
         shingles (per-doc window over df order — pigeonhole: a doc
         t-contained in B has < (1-t)·|A| shingles outside B, so at least
         one prefix shingle lands in B — no false negatives);
      4. candidates = prefix ⋈ full inverted index on the shingle — the
         prefix picks rare shingles, so the join fan-out per shingle is
         small by construction (the hot common-shingle keys never enter
         the probe side);
      5. exact |A∩B| only for candidate pairs: one array_intersect of the
         two shingle arrays, then the integer threshold filter.
    The only corpus-sized shuffles are shingle-keyed aggregates and the
    candidate-bounded intersection joins; nothing is quadratic in the
    corpus.

    EAGER: pins one frame, each document's sorted distinct shingle array
    (one pin job). Every other frame is a projection of it: the shingle
    rows (which carry the set size), the doc-frequencies, the prefix, the
    candidate probe and both verify sides read it under different
    operators, where ReuseExchange cannot dedupe them. A threshold
    outside (0, 1] raises ValueError before any job starts."""
    t_micro = _t_micro(threshold)
    arr = _tokens(docs, "text").select(
        "doc_id", shingles_from_tokens_col(F.col("__tk"), 3).alias("arr")
    )
    arr = pin(arr, "containment shingle arrays")
    sized = arr.select(
        "doc_id", F.size("arr").cast("bigint").alias("size"), "arr"
    )
    sh = sized.select("doc_id", "size", F.explode("arr").alias("s"))
    dfc = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    # integer ceil(t*|A|) = (t_micro*size + 999_999) div 1e6 — conservative
    # prefix bound with no float in the correctness path
    prefix_len = (
        F.col("size")
        - F.floor(
            (F.lit(t_micro) * F.col("size") + F.lit(999_999))
            / F.lit(1_000_000)
        )
        + F.lit(1)
    )
    pref = (
        sh.join(dfc, "s")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select(F.col("doc_id").alias("__pa"), "s")
    )
    cand = (
        pref.join(sh.select(F.col("doc_id").alias("__pb"), "s"), "s")
        .filter(F.col("__pa") != F.col("__pb"))
        .select(
            F.least("__pa", "__pb").alias("doc_a"),
            F.greatest("__pa", "__pb").alias("doc_b"),
        )
        .distinct()
    )
    # exact |A∩B| per candidate pair via ONE array_intersect instead of an
    # (pair × shingle-of-A) explode join + (doc_b, s) equi-join + count:
    # the exploded intermediate was strictly more rows and two more
    # shuffles than attaching each side's shingle ARRAY once (round-7,
    # interleaved A/B 6.54 → 3.38 s at sf0.1, results bit-identical). The
    # per-doc array carries the same bound as verify_jaccard_pairs' frame:
    # a document's distinct-shingle set must fit in one row. bigint: as an
    # int, inter·10^6 overflows (an ANSI error) past 2,147 shared shingles
    inter = F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint")
    return _contained(cand, sized, "inter", inter, t_micro)


def exact_ratio_round6(numer, denom):
    """HALF_UP(numer/denom) to 6 digits in EXACT integer arithmetic — the
    q61/q63 decimal(38,0) pattern: double round(x, 6) disagrees between
    Spark and DuckDB on real ratios like 323/640, so the rounding is
    (2a·10^6 + d) div (2d), matching DuckDB HUGEINT HALF_UP bit-for-bit.
    Shared by every containment path (``_contained``)."""
    d = denom.cast("decimal(38,0)")
    x6 = numer.cast("decimal(38,0)") * F.lit(2_000_000) + d
    c6 = (x6 - F.pmod(x6, F.lit(2) * d)) / (F.lit(2) * d)
    return c6.cast("double") / F.lit(1_000_000.0)


def mask_duplicate_spans(
    docs: DataFrame, n: int = 4, min_run: int | None = None
) -> DataFrame:
    """REMOVE cross-document duplicated n-gram spans from each document —
    the consume side of ``duplicate_ngram_spans`` (Lee et al. 2022 cut the
    duplicated substring, keep the document): every token covered by ANY
    span shared with >= 2 documents is dropped; the survivors
    are re-joined in order.

    ``min_run`` is the Lee-et-al length floor: adjacent covered positions
    merge into runs (overlapping shared spans chain), and only runs of at
    least ``min_run`` tokens are actually cut — a short idiom two docs
    happen to share survives, the long boilerplate template dies. Lee et
    al. used a 50-token floor; the default ``None`` (or any value <= n)
    masks every covered token, since a covered run is always >= n long by
    construction. The run merge is one per-doc gaps-and-islands pass over
    the COVERED-position frame only (row_number + count windows sharing a
    (doc_id)-grained exchange) — the corpus itself never enters a window.

    Output: (doc_id, clean_text, n_tokens, n_removed) for EVERY input doc
    — a fully-duplicated document comes back with clean_text '' (callers
    drop or keep by n_removed/n_tokens policy), never silently vanishes.
    The gram census is case-insensitive (the shared dedup token spec) but
    the reassembled text keeps each surviving token's ORIGINAL case —
    untouched documents keep their exact words (uppercase PII tags
    included); only inter-token whitespace collapses to single spaces,
    the inherent granularity of token-level masking.

    Shape: covered positions are an explode over the n offsets of each
    ``duplicate_ngram_spans`` row + distinct; the keep set is one anti
    join on (doc, pos); reassembly is a per-doc sort_array over (pos,
    token) structs with codegen field extraction — no interpreted HOF, no
    window. Everything shuffles at most once per stage on (doc_id)-grained
    keys."""
    # the census matches on the lowercased ``tokens_col`` spec; the
    # reassembly emits __tko, the same split in ORIGINAL case, so masking
    # never rewrites untouched text's casing or the uppercase PII tags.
    # lower() can never add/remove whitespace, so the two token arrays are
    # position-aligned and equally long by construction.
    # NOTE(round-7): pins here (the token frame is read 2×, the span frame
    # 2×) measured NEUTRAL at sf0.1 (interleaved A/B 2.30 vs 2.26 s) and
    # both frames are corpus-sized-or-bigger — rejected
    tko = docs.select(
        "doc_id",
        F.array_remove(F.split(F.trim(F.col("text")), r"\s+"), "").alias(
            "__tko"
        ),
    )
    covered = (
        duplicate_ngram_spans(docs, n)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("start_pos"), F.col("start_pos") + F.lit(n - 1)
                )
            ).alias("pos"),
        )
        .distinct()
    )
    if min_run is not None and min_run > n:
        w_run = Window.partitionBy("doc_id").orderBy("pos")
        runs = covered.withColumn(
            "__grp", F.col("pos") - F.row_number().over(w_run)
        )
        covered = (
            runs.withColumn(
                "__rl",
                F.count(F.lit(1)).over(
                    Window.partitionBy("doc_id", "__grp")
                ),
            )
            .filter(F.col("__rl") >= min_run)
            .select("doc_id", "pos")
        )
    toks = tko.select("doc_id", F.posexplode("__tko").alias("pos", "tok"))
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    re = kept.groupBy("doc_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct("pos", "tok"))
            ).getField("tok"),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    totals = tko.select(
        "doc_id", F.size("__tko").cast("bigint").alias("n_tokens")
    )
    return (
        totals.join(re, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce(F.col("__kept"), F.lit(0))
            ).cast("bigint").alias("n_removed"),
        )
    )


def fuzzy_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Containment-based benchmark decontamination — the precision-oriented
    complement to ``ngram_decontaminate``: a training doc is dropped only
    if >= ``threshold`` of some benchmark document's shingle set appears in
    it (near-verbatim contamination with light edits), not on any single
    shared n-gram. GPT-3's appendix-C rule is the exact variant; this is
    the graded one eval-suite curation uses when the exact rule over-kills.

    Returns surviving docs (all input columns). The threshold compare is
    pure integer (inter·10^6 >= t_micro·|bench set|).

    Shape: the benchmark side is the SMALL side by definition, so its
    distinct (bench_id, shingle) rows broadcast; the corpus side stays
    scan-shaped — per-doc-distinct shingles (array_distinct inside the
    shingle array, no shuffle) probe the broadcast, the only aggregation is
    over actual hits (doc, bench_id), and survivors come from one anti
    join on doc_id. The corpus is never shuffled wholesale. A threshold
    outside (0, 1] raises ValueError before any job starts."""
    t_micro = _t_micro(threshold)

    def _sh(df, id_alias):
        return _tokens(df, "text").select(
            F.col("doc_id").alias(id_alias),
            F.explode(shingles_from_tokens_col(F.col("__tk"), n)).alias("s"),
        )

    bsh = _sh(benchmark, "bench_id")
    bsz = bsh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bsz"))
    csh = _sh(docs, "__cid")
    hits = (
        csh.join(F.broadcast(bsh), "s")
        .groupBy("__cid", "bench_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    contaminated = (
        hits.join(F.broadcast(bsz), "bench_id")
        .filter(
            F.col("inter") * F.lit(1_000_000)
            >= F.lit(t_micro) * F.col("bsz")
        )
        .select(F.col("__cid").alias("doc_id"))
        .distinct()
    )
    return docs.join(contaminated, "doc_id", "left_anti")


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int | None = 2,
    iters: int = 3,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023): cluster
    the corpus by embedding similarity and keep one representative per
    cluster — the dup class lexical dedup (MinHash/SimHash/containment)
    cannot see: a paraphrase or translation shares no shingles with its
    source but sits next to it in embedding space.

    Semantics (deterministic, oracle-expressible): build the kNN graph at
    threshold τ — an edge (a, b) whenever b is among a's top-``k``
    cosine neighbors (row_number tie semantics) AND round6(cos) >= τ —
    then take connected components; ``component`` is the min vec_id of
    each cluster and ``keep`` marks that representative. Every input
    vector appears in the output (singletons keep themselves), so
    ``filter(keep)`` IS the deduped corpus and the (vec_id, component)
    pairs are the cluster map.

    Shape: one ``knn_join`` (cell-blocked cogroup Arrow kernel). The
    DEFAULT ``n_probe=2`` is the scale path — each query probes only its
    2 nearest cells, so total compute is ~(2/n_cells)·n² and recall
    tracks the k-means fit; pass ``n_probe=None`` EXPLICITLY for exact
    mode (probe every cell — blocked brute force, O(n²) compute:
    distributed and memory-safe but quadratic, only for oracle parity
    or small corpora) + one ``connected_components`` pass (large-star/
    small-star, O(log n) rounds) + one left join back. Nothing is
    quadratic in the corpus; the kNN truncation bounds edges at
    corpus·k, so CC state is O(n·k) however dense the similarity graph
    gets — the reason SemDeDup scales where threshold-pair generation
    (embedding_near_dups) can blow up on a clustered corpus.
    EAGER: pins through ``connected_components`` and ``kmeans_centroids``."""
    from pdftableextractor_spark.operators.similarity import knn_join

    idt = dict(embeddings.dtypes)["vec_id"]
    nn = knn_join(
        embeddings, k=k, n_cells=n_cells, n_probe=n_probe, iters=iters
    )
    edges = (
        nn.filter(F.col("cos") >= threshold)
        .select(
            F.least("qid", "vec_id").alias("doc_a"),
            F.greatest("qid", "vec_id").alias("doc_b"),
        )
        .distinct()
    )
    # connected_components canonicalizes node ids as STRINGS (its min-label
    # is lexicographic: '103' < '14'); re-label each cluster with the
    # NUMERIC min member so the representative is the smallest vec_id —
    # one extra groupBy over the (small) non-singleton cluster map only
    comp = connected_components(edges).select(
        F.col("node").cast(idt).alias("__n"),
        F.col("component").alias("__c"),
    )
    rep = comp.groupBy("__c").agg(F.min("__n").alias("__rep"))
    cmap = comp.join(rep, "__c").select("__n", "__rep")
    return (
        embeddings.select("vec_id")
        .join(cmap, F.col("vec_id") == cmap["__n"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("__rep"), F.col("vec_id")).alias("component"),
        )
        .withColumn("keep", F.col("vec_id") == F.col("component"))
    )


def semantic_dedup_incremental(
    new_embeddings: DataFrame,
    old,
    threshold: float,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int | None = 2,
    iters: int = 3,
) -> DataFrame:
    """Incremental SemDeDup — the production cadence where embedding
    batches arrive against a standing corpus (the semantic analog of
    ``minhash_near_dups_incremental``):

      1. cluster WITHIN the new batch (``semantic_dedup``: kNN graph at
         τ → components → min-id representative);
      2. probe the batch against the STANDING corpus — ``old`` is either
         a DataFrame (``knn_join_between``: cells fit on the corpus, the
         batch multi-probes them) or a persisted IVF index path string
         (``ivf_topk_indexed_batch``: partition-pruned, O(batch)
         work — the standing corpus is never rescanned);
      3. a batch CLUSTER whose ANY member has an old neighbor at
         round6(cos) >= τ already exists in the corpus → the whole
         cluster drops (old wins, like the minhash rule); otherwise its
         representative is kept.

    A re-sent vec_id REPLACES its standing entry: qid == vec_id matches
    against the old side are masked (``exclude_self``), so an identical
    re-upload is not "near old" through itself.

    Output: (vec_id, component, near_old, keep) for every batch vector —
    ``filter(keep)`` is what enters the corpus; append those embeddings
    to the standing index (``append_to_ivf_index``).

    Exactness: the DEFAULT ``n_probe=2`` is the scale path (approximate
    within-batch graph, recall tracks the fit). Pass ``n_probe=None``
    EXPLICITLY for exact mode: the within-batch graph is exact, and the
    DataFrame old-side probe is exact too — top-1 is the true max
    cosine, so "top-1 >= τ" == "any old neighbor >= τ" (the oracle
    formulation). Exact mode is blocked brute force — O(batch²) within
    the batch — so reserve it for oracle parity or small batches. On the
    index path ``n_probe`` is the number of stored cells each batch
    vector probes (None: every cell) — the 100 TB cadence.

    Empty inputs need no check of their own: an empty batch gives no
    rows, and an empty standing corpus (the FIRST batch of the cadence)
    has no k-means cells, so no batch vector is near_old and the
    within-batch dedup alone decides."""
    from pdftableextractor_spark.operators.similarity import (
        ivf_topk_indexed_batch,
        knn_join_between,
    )

    sd = semantic_dedup(
        new_embeddings,
        threshold,
        k=k,
        n_cells=n_cells,
        n_probe=n_probe,
        iters=iters,
    )
    if isinstance(old, str):
        nn_old = ivf_topk_indexed_batch(
            new_embeddings.sparkSession,
            new_embeddings.select(F.col("vec_id").alias("qid"), "embedding"),
            old,
            k=1,
            nprobe=n_probe,
            exclude_self=True,
        )
    else:
        nn_old = knn_join_between(
            new_embeddings,
            old,
            k=1,
            n_cells=n_cells,
            n_probe=n_probe,
            iters=iters,
            exclude_self=True,
        )
    flagged = (
        nn_old.filter(F.col("cos") >= threshold)
        .select(F.col("qid").alias("vec_id"))
        .distinct()
    )
    flagged_comps = (
        sd.join(flagged, "vec_id", "left_semi")
        .select("component")
        .distinct()
    )
    return (
        sd.join(
            flagged_comps.withColumn("__f", F.lit(True)), "component", "left"
        )
        .select(
            "vec_id",
            "component",
            F.coalesce(F.col("__f"), F.lit(False)).alias("near_old"),
            (F.col("keep") & F.col("__f").isNull()).alias("keep"),
        )
    )
