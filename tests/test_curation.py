"""Semantic unit tests for the training-data curation suite (the driver
oracles already pin exact values; these pin the semantics that SQL equality
can't express — recall of sketches vs exact baselines, invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdftableextractor_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from pdftableextractor_spark.operators.multimodal import (
    decode_stub,
    extract_features,
    real_decode,
    synth_assets,
)
from pdftableextractor_spark.operators.similarity import cosine_topk, ivf_topk
from pdftableextractor_spark.operators.textstats import lang_id, quality_score

SF = "/root/testdata/sf0.001"


def test_exact_dedup_finds_planted_dups(spark):
    rows = [("a", "same text"), ("b", "same text"), ("c", "other text")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["group_size"] for r in exact_dedup(df).collect()}
    assert got == {"a": 2, "c": 1}  # first doc_id wins, b deduped away


def test_minhash_lsh_recall_vs_exact(spark):
    """Every exact near-dup pair above a high threshold must be recalled by
    the LSH path (high-sim pairs collide in some band w.h.p.; with unigram
    shingles and jaccard>=0.8 at 64 hashes/16 bands this is deterministic in
    practice on this corpus)."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .withColumn("doc_id", F.col("doc_id").cast("string"))
        .limit(150)
    )
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(
            docs.withColumn("block", F.lit(1)), "block", threshold=0.8
        ).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dups(docs, n=1, threshold=0.8).collect()
    }
    assert exact, "expected some high-jaccard pairs in the corpus"
    missed = exact - lsh
    assert not missed, f"LSH missed {len(missed)}/{len(exact)} exact pairs"
    assert lsh <= exact or all(p in exact for p in lsh)  # verify step exact


def test_simhash_is_deterministic_and_60bit(spark):
    docs = spark.createDataFrame(
        [("a", "alpha beta gamma"), ("b", "alpha beta gamma"), ("c", "x y z")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert got["a"] == got["b"]
    assert got["a"] != got["c"]
    assert 0 <= got["a"] < (1 << 60)


def test_ivf_topk_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, q, nprobe=3).collect()]
    # the query's own cell is always probed → recall well above chance
    overlap = len(set(exact) & set(approx))
    assert exact[0] == 0  # the query vector itself is its own top-1
    assert overlap >= 5, f"IVF recall too low: {overlap}/10"


def test_quality_score_bounds(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    bad = quality_score(docs).filter(
        (F.col("quality") < 0) | (F.col("quality") > 1)
    )
    assert bad.count() == 0


def test_lang_id_accuracy_on_labeled_corpus(spark):
    """The testdata documents carry a lang column; the marker heuristic only
    sees real language signal where markers appear, but must never be wrong
    in a *systematic* way: predictions are confined to known codes."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    preds = {r["lang_pred"] for r in lang_id(docs).collect()}
    assert preds <= {"de", "en", "es", "fr", "zh", "und"}


def test_multimodal_plumbing(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    assets = synth_assets(docs)
    feats = extract_features(assets).collect()
    assert len(feats) == docs.count()
    for r in feats[:10]:
        assert len(r["feat"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feat"])
        assert r["kind"] in ("image", "audio", "video")
    # decode stub is deterministic
    assert (decode_stub(b"abc", "image") == decode_stub(b"abc", "image")).all()
    # real decode is explicitly stubbed out
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        real_decode(b"abc", "image")


def _encode_png(px, filters):
    """Minimal in-test PNG encoder: one explicit filter type per scanline
    (exercises every unfilter branch of decode_png)."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = px.shape
    ctype = {1: 0, 3: 2, 4: 6}[ch]

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        raw.append(f)
        for i in range(w * ch):
            left = int(line[i - ch]) if i >= ch else 0
            up = int(prev[i])
            ul = int(prev[i - ch]) if i >= ch else 0
            if f == 0:
                v = line[i]
            elif f == 1:
                v = line[i] - left
            elif f == 2:
                v = line[i] - up
            elif f == 3:
                v = line[i] - (left + up) // 2
            else:  # Paeth
                pp = left + up - ul
                pa, pb, pc = abs(pp - left), abs(pp - up), abs(pp - ul)
                pred = left if pa <= pb and pa <= pc else up if pb <= pc else ul
                v = line[i] - pred
            raw.append(v & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_real_pixels(spark):
    """decode_png must reproduce exact pixel values through every filter
    type (0..4), and the Arrow features kernel must featurize PNG image
    payloads from GENUINE pixels (round-2 verdict: real image decode with
    zero new dependencies)."""
    import numpy as np

    from pdftableextractor_spark.operators.multimodal import (
        decode_png,
        extract_features,
        image_features,
        real_decode,
    )

    rng = np.random.RandomState(42)
    px = rng.randint(0, 256, size=(5, 7, 3), dtype=np.uint8)
    png = _encode_png(px, filters=[0, 1, 2, 3, 4])
    got = decode_png(png)
    assert got.shape == (5, 7, 3)
    assert (got == px).all(), "unfiltered pixels differ"
    # real_decode routes PNGs to the real codec
    assert (real_decode(png, "image") == px).all()

    # RGBA and greyscale paths
    pxa = rng.randint(0, 256, size=(3, 4, 4), dtype=np.uint8)
    assert (decode_png(_encode_png(pxa, [4, 3, 1])) == pxa).all()
    pxg = rng.randint(0, 256, size=(4, 6, 1), dtype=np.uint8)
    assert (decode_png(_encode_png(pxg, [2, 1])) == pxg).all()

    # through the Arrow kernel: the feat column equals image_features(pixels)
    assets = spark.createDataFrame(
        [
            ("a1", "image", bytearray(png)),
            ("a2", "audio", bytearray(b"abc")),
            ("a3", "video", None),
        ],
        "asset_id string, kind string, payload binary",
    )
    rows = {r["asset_id"]: r for r in extract_features(assets).collect()}
    feats = {aid: r["feat"] for aid, r in rows.items()}
    exp = image_features(px)
    assert np.allclose(feats["a1"], exp, atol=1e-6)
    import hashlib

    from pdftableextractor_spark.operators.multimodal import decode_stub

    assert np.allclose(feats["a2"], decode_stub(b"abc", "audio"), atol=1e-6)
    # a NULL payload is one row read as b"", not a failed task
    assert sorted(rows) == ["a1", "a2", "a3"]
    assert rows["a3"]["n_bytes"] == 0
    assert rows["a3"]["sha"] == hashlib.sha256(b"").hexdigest()
    assert np.allclose(feats["a3"], decode_stub(b"", "video"), atol=1e-6)


def test_lsh_topk_contains_query_and_subsets_bruteforce(spark):
    from pdftableextractor_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    got = [(r["vec_id"], r["cos"]) for r in lsh_topk(emb, q).collect()]
    assert got, "query's own bucket must not be empty"
    assert got[0][0] == 0 and abs(got[0][1] - 1.0) < 1e-6  # self is top-1
    exact = {
        r["vec_id"]: r["cos"]
        for r in cosine_topk(emb, q, k=500).collect()
    }
    # every LSH result carries the exact cosine for its vec_id
    for vid, c in got:
        assert abs(exact[vid] - c) < 1e-6


def test_lsh_multi_table_recall_beats_single_table(spark):
    """Round-2 verdict fix: on a corpus with genuine near neighbors
    (cos ≈ 0.97), the single-table variant drops some of them (any neighbor
    split from the query by one hyperplane is lost); 4 tables recall
    ≥ 9/10. Geometry pinned at seed 3: 1 table → 8/10, 4 tables → 10/10."""
    import numpy as np

    from pdftableextractor_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
    )

    rng = np.random.RandomState(3)
    dim = 32
    qv = rng.standard_normal(dim)
    rows = [(0, [float(x) for x in qv])]
    scale = 0.25 * np.linalg.norm(qv) / np.sqrt(dim)
    for j in range(1, 11):  # 10 planted near neighbors
        v = qv + rng.standard_normal(dim) * scale
        rows.append((j, [float(x) for x in v]))
    for j in range(11, 511):  # uniform background
        rows.append((j, [float(x) for x in rng.standard_normal(dim)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = rows[0][1]

    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}

    def recall(n_tables):
        got = {
            r["vec_id"]
            for r in lsh_topk(emb, q, n_tables=n_tables).collect()
        }
        return len(exact & got)

    r1, r4 = recall(1), recall(4)
    assert r1 < 10, "single table no longer misses — regenerate the geometry"
    assert r4 >= 9, f"multi-table recall too low: {r4}/10"
    assert r4 > r1


def test_kmeans_ivf_on_unlabeled_corpus(spark):
    """ivf_topk must work with NO label column: kmeans_cells (deterministic
    Lloyd iterations) supplies the cell assignment, and recall vs brute
    force on a planted-cluster corpus stays high."""
    import numpy as np

    from pdftableextractor_spark.operators.similarity import kmeans_cells

    rng = np.random.RandomState(3)
    centers = rng.standard_normal((8, 32)) * 5.0
    rows = []
    for i in range(400):
        v = centers[i % 8] + rng.standard_normal(32) * 0.3
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])  # NO label

    assigned = kmeans_cells(emb, k=8, iters=3)
    assert assigned.columns == ["vec_id", "embedding", "cell"]
    # determinism: a second run assigns identical cells
    again = {
        r["vec_id"]: r["cell"] for r in kmeans_cells(emb, k=8, iters=3).collect()
    }
    first = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    assert first == again
    # the planted structure is recovered: every true cluster lands (almost)
    # entirely in one k-means cell
    by_true = {}
    for vid, cell in first.items():
        by_true.setdefault(vid % 8, []).append(cell)
    for true_c, cells in by_true.items():
        top = max(set(cells), key=cells.count)
        assert cells.count(top) / len(cells) >= 0.9, (true_c, cells[:10])

    q = rows[0][1]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(assigned, q, nprobe=2, cell_col="cell").collect()
    ]
    overlap = len(set(exact) & set(approx))
    assert exact[0] == 0
    assert overlap >= 8, f"kmeans-IVF recall too low: {overlap}/10"


def test_simhash_multiband_recovers_prefix_misses(spark):
    """A pair with small hamming whose differing bits hit the single
    blocked prefix is invisible to simhash_near_dups (one rotation) but
    MUST be found by the multi-band variant (pigeonhole: hamming < n_bands
    leaves some band identical). The 'w6' suffix was searched offline to
    flip top-12-prefix bits at hamming 6."""
    from pdftableextractor_spark.operators.dedup import (
        simhash_near_dups,
        simhash_near_dups_multiband,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [("a", base), ("b", base + " w6"), ("c", "totally unrelated words")],
        ["doc_id", "text"],
    )
    single = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dups(docs, max_hamming=8).collect()
    }
    multi = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dups_multiband(
            docs, max_hamming=8
        ).collect()
    }
    assert ("a", "b") not in single  # the documented single-rotation gap
    assert ("a", "b") in multi  # recovered by banding
    assert ("a", "c") not in multi and ("b", "c") not in multi


def test_simhash_multiband_exact_recall_vs_quadratic(spark):
    """Guarantee: every pair with hamming <= n_bands - 1 present in a full
    quadratic scan is returned by the banded join."""
    from pdftableextractor_spark.operators.dedup import (
        simhash_near_dups_multiband,
        simhash_signatures,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [("d0", base)] + [
        (f"d{i}", base + f" w{i}") for i in range(1, 120)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(docs).collect()
    }
    ids = sorted(sigs)
    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 4
    }
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dups_multiband(
            docs, max_hamming=4
        ).collect()
    }
    assert exact, "test corpus produced no close pairs — vacuous"
    assert banded == exact


def test_resize_and_frame_sample_plumbing(spark):
    """Resize keeps one row per asset with updated dims; frame sampling
    fans a video out to duration//every+1 rows, with deterministic
    per-timestamp frame bytes (text payloads take the sha fallback)."""
    from pdftableextractor_spark.operators.multimodal import (
        resize_assets,
        sample_frames_decoded,
        synth_assets,
    )

    docs = spark.createDataFrame(
        [(i, f"document body text {i}") for i in range(30)],
        ["doc_id", "text"],
    )
    assets = synth_assets(docs.withColumn("doc_id", F.col("doc_id").cast("string")))
    rz = resize_assets(assets, 640, 480)
    rows = rz.collect()
    assert len(rows) == 30
    assert all(r["meta"]["width"] == 640 and r["meta"]["height"] == 480 for r in rows)
    assert all(len(r["payload"]) == 32 for r in rows)  # fake re-encode = sha256

    vids = {r["asset_id"]: r["meta"]["duration_ms"]
            for r in assets.filter(F.col("kind") == "video").collect()}
    assert vids, "corpus planted no video assets — vacuous"
    frames = sample_frames_decoded(assets, every_ms=5000).collect()
    got = {}
    for r in frames:
        got.setdefault(r["asset_id"], []).append((r["frame_idx"], r["ts_ms"]))
    assert set(got) == set(vids)
    for aid, dur in vids.items():
        idx = sorted(got[aid])
        assert idx == [(i, i * 5000) for i in range(dur // 5000 + 1)]
    # deterministic: same frame bytes on recompute
    again = {(r["asset_id"], r["ts_ms"]): bytes(r["frame"])
             for r in sample_frames_decoded(assets, every_ms=5000).collect()}
    first = {(r["asset_id"], r["ts_ms"]): bytes(r["frame"]) for r in frames}
    assert first == again


def test_embedding_near_dups_unlabeled_recall(spark):
    """Planted near-identical pairs must be found with NO label column —
    k-means cells supply the blocking key."""
    import numpy as np

    from pdftableextractor_spark.operators.dedup import (
        embedding_near_dups_unlabeled,
    )

    rng = np.random.RandomState(5)
    centers = rng.standard_normal((6, 24)) * 4.0
    rows = []
    for i in range(180):
        v = centers[i % 6] + rng.standard_normal(24) * 0.25
        rows.append((i, [float(x) for x in v]))
    # plant 5 near-dup pairs: vec 1000+j is vec j plus a tiny perturbation
    for j in range(5):
        v = np.array(rows[j][1]) + rng.standard_normal(24) * 1e-4
        rows.append((1000 + j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])  # NO label

    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dups_unlabeled(
            emb, k=6, threshold=0.999
        ).collect()
    }
    for j in range(5):
        assert (j, 1000 + j) in pairs, f"planted dup {j} missed"


def test_embedding_near_dups_unlabeled_boundary_pair_multiprobe(spark):
    """Two near-identical vectors straddling a k-means cell boundary land in
    DIFFERENT cells under single assignment and the pair is silently lost;
    top-2 multi-probe assignment (the default) recovers it."""
    import numpy as np

    from pdftableextractor_spark.operators.dedup import (
        embedding_near_dups_unlabeled,
    )

    rng = np.random.RandomState(11)
    rows = []
    # two tight, well-separated clusters along axes 0 and 1
    for i in range(50):
        a = np.array([10.0, 0.0, 0.0, 0.0]) + rng.standard_normal(4) * 0.1
        b = np.array([0.0, 10.0, 0.0, 0.0]) + rng.standard_normal(4) * 0.1
        rows.append((i, [float(x) for x in a]))
        rows.append((100 + i, [float(x) for x in b]))
    # the boundary pair: ~8.9° apart from each other (cos ≈ 0.984), each
    # leaning toward the OPPOSITE cluster's side of the bisector
    rows.append((900, [1.2, 1.0, 0.0, 0.0]))  # nearer cluster A (axis 0)
    rows.append((901, [1.0, 1.2, 0.0, 0.0]))  # nearer cluster B (axis 1)
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def pairs(n_probe):
        return {
            (r["vec_a"], r["vec_b"])
            for r in embedding_near_dups_unlabeled(
                emb, k=2, threshold=0.98, iters=2, n_probe=n_probe
            ).collect()
        }

    assert (900, 901) not in pairs(1), (
        "expected the boundary pair to be LOST under single assignment — "
        "if this starts passing, the planted geometry no longer splits"
    )
    assert (900, 901) in pairs(2), "multi-probe failed to recover the pair"


def test_ngram_decontaminate_drops_exact_overlaps(spark):
    """A training doc sharing a 13-gram with the benchmark must drop; docs
    without overlap survive; benchmark docs are not in the output."""
    from pdftableextractor_spark.operators.dedup import ngram_decontaminate

    secret = " ".join(f"w{i}" for i in range(13))
    bench = spark.createDataFrame(
        [("b1", f"leading text {secret} trailing")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            ("d1", f"a copy of the eval: {secret} embedded here"),
            ("d2", "totally unrelated content with no overlap at all"),
            ("d3", " ".join(f"w{i}" for i in range(12))),  # only 12 shared
        ],
        ["doc_id", "text"],
    )
    kept = {r["doc_id"] for r in ngram_decontaminate(docs, bench).collect()}
    assert kept == {"d2", "d3"}


def test_stratified_sample_deterministic_and_proportional(spark):
    from pdftableextractor_spark.operators.sampling import stratified_sample

    rows = [(str(i), "a" if i % 2 == 0 else "b") for i in range(2000)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    out1 = sorted(
        r["doc_id"]
        for r in stratified_sample(docs, {"a": 0.5, "b": 0.1}).collect()
    )
    out2 = sorted(
        r["doc_id"]
        for r in stratified_sample(
            docs.repartition(13), {"a": 0.5, "b": 0.1}
        ).collect()
    )
    assert out1 == out2, "sampling must not depend on partitioning"
    by_src = {
        s: sum(1 for i in out1 if (int(i) % 2 == 0) == (s == "a"))
        for s in ("a", "b")
    }
    assert abs(by_src["a"] / 1000 - 0.5) < 0.06
    assert abs(by_src["b"] / 1000 - 0.1) < 0.04
    # default_fraction=0 drops unknown strata entirely
    none = stratified_sample(docs, {"zzz": 1.0}).count()
    assert none == 0


def test_pack_shards_budget_property(spark):
    from pdftableextractor_spark.operators.sampling import pack_shards

    rows = [
        (f"{i:04d}", "g1" if i % 3 else "g2", 100 + (i * 37) % 400)
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])
    out = pack_shards(docs, budget_tokens=1500).collect()
    # shards are contiguous in id order and each holds ≤ budget + one doc
    from collections import defaultdict

    shard_tokens = defaultdict(int)
    shard_rows = defaultdict(list)
    for r in out:
        shard_tokens[(r["source"], r["shard_idx"])] += r["n_tokens"]
        shard_rows[(r["source"], r["shard_idx"])].append(r["doc_id"])
    for (src, idx), tot in shard_tokens.items():
        assert tot <= 1500 + 500, f"shard {(src, idx)} overflows: {tot}"
    # contiguity: sorting all doc_ids per group must list shards in order
    for src in ("g1", "g2"):
        seq = [
            r["shard_idx"]
            for r in sorted(out, key=lambda r: r["doc_id"])
            if r["source"] == src
        ]
        assert seq == sorted(seq), "shards must be contiguous in id order"
    # determinism under repartitioning
    again = pack_shards(docs.repartition(7), budget_tokens=1500).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_line_frequency_dedup_and_pii_redaction(spark):
    from pdftableextractor_spark.operators.textstats import (
        drop_common_lines,
        line_doc_frequency,
        redact_pii,
    )

    rows = []
    for d in range(8):
        rows.append((f"d{d}", 0, "© 2024 Example Corp. All rights reserved."))
        rows.append((f"d{d}", 1, f"Unique sentence number {d} stays."))
    lines = spark.createDataFrame(rows, ["doc_id", "offset", "text"])
    freq = {r["text"]: r["doc_freq"] for r in line_doc_frequency(lines).collect()}
    assert freq["© 2024 example corp. all rights reserved."] == 8
    kept = [r["text"] for r in drop_common_lines(lines).collect()]
    assert all("Unique sentence" in t for t in kept) and len(kept) == 8

    docs = spark.createDataFrame(
        [("d1", "Mail a@b.io or see https://x.y/z?a=1 call +1 555-123-4567 now")],
        ["doc_id", "text"],
    )
    r = redact_pii(docs).collect()[0]
    assert r["clean_text"] == "Mail <EMAIL> or see <URL> call <PHONE> now"
    assert (r["n_urls"], r["n_emails"], r["n_phones"]) == (1, 1, 1)


def test_repetition_stats_hand_cases(spark):
    from pdftableextractor_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [("a", "one two. one two. three four!"), ("b", "x y z w"),
         ("c", "solo")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got["a"]["n_sents"] == 3
    assert abs(got["a"]["dup_sent_frac"] - 1 / 3) < 1e-5
    assert got["a"]["top_bigram_frac"] == 0.4  # 'one two' 2 of 5
    assert got["b"]["dup_sent_frac"] == 0.0
    assert got["c"]["top_bigram_frac"] == 0.0  # no bigrams


def test_connected_components_path_and_transitive(spark):
    """Star contraction labels a 64-link chain entirely with its min (the
    O(log n)-round case where label propagation would need 64 rounds), and
    keeps ONE survivor for the transitive cluster {a,b,c} from pairs
    (a,c),(b,c) — where the pair-loser rule would wrongly keep both a and b."""
    from pdftableextractor_spark.operators.dedup import connected_components

    path = [(f"{i:03d}", f"{i + 1:03d}") for i in range(63)]
    pairs = spark.createDataFrame(
        path + [("a", "c"), ("b", "c")], ["doc_a", "doc_b"]
    )
    # threshold=0 forces the DISTRIBUTED star-contraction path — the chain
    # graph is exactly the O(log n)-rounds case this test exists to pin
    out = {
        r["node"]: r["component"]
        for r in connected_components(
            pairs, small_graph_threshold=0
        ).collect()
    }
    assert all(out[f"{i:03d}"] == "000" for i in range(64))
    assert out["a"] == out["b"] == out["c"] == "a"
    # pair-loser rule on the same pairs keeps {a, b}: documents the
    # semantic difference the cluster mode fixes
    losers = {"c"}
    assert {"a", "b"} - losers == {"a", "b"}


def test_connected_components_multiple_and_dup_edges(spark):
    """Duplicate/reversed/self edges collapse; disjoint components keep
    distinct labels."""
    from pdftableextractor_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [
            ("x2", "x1"), ("x1", "x2"), ("x2", "x2"),  # dup + reversed + self
            ("y1", "y2"), ("y2", "y3"),
        ],
        ["doc_a", "doc_b"],
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert out == {
        "x1": "x1", "x2": "x1",
        "y1": "y1", "y2": "y1", "y3": "y1",
    }


def test_bm25_matches_hand_math_and_topk(spark):
    """BM25 equals the textbook formula computed in pure Python;
    term-free docs are excluded."""
    import math

    from pdftableextractor_spark.operators.ranking import bm25_scores

    rows = [
        ("d1", "table table scan"),
        ("d2", "spark"),
        ("d3", "x y z"),
        ("d4", "table scan spark table scan"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    terms = sorted(["scan", "spark", "table"])
    docs = {i: t.split() for i, t in rows}
    N = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / N
    k1, b = 1.2, 0.75

    def score(doc_id):
        dl = len(docs[doc_id])
        s = 0.0
        for t in terms:
            tf = docs[doc_id].count(t)
            dfreq = sum(1 for w in docs.values() if t in w)
            idf = math.log(1.0 + (N - dfreq + 0.5) / (dfreq + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl))
        return s

    got = {r["doc_id"]: r["score"] for r in bm25_scores(df, terms).collect()}
    assert set(got) == {"d1", "d2", "d4"}  # d3 has no query term
    for d, s in got.items():
        assert abs(s - score(d)) < 1e-9, (d, s, score(d))


def test_temperature_mix_upweights_small_strata(spark):
    """alpha<1 keeps a larger FRACTION of small strata than big ones; the
    keep fraction caps at 1; alpha=1 reduces to proportional sampling."""
    from pdftableextractor_spark.operators.sampling import (
        temperature_fractions,
        temperature_mix,
    )

    rows = [(f"{i:04d}", "big" if i < 900 else "small") for i in range(1000)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])

    fr = {
        r["stratum"]: r["frac"]
        for r in temperature_fractions(docs, alpha=0.5, budget_frac=0.5).collect()
    }
    assert fr["small"] > fr["big"]  # up-weighted
    assert fr["small"] <= 1.0 and fr["big"] > 0.0
    # alpha=1: every stratum keeps exactly budget_frac
    fr1 = {
        r["stratum"]: r["frac"]
        for r in temperature_fractions(docs, alpha=1.0, budget_frac=0.5).collect()
    }
    assert abs(fr1["small"] - 0.5) < 1e-12 and abs(fr1["big"] - 0.5) < 1e-12
    # tiny stratum + generous budget: frac caps at 1 (never oversamples)
    fr_cap = {
        r["stratum"]: r["frac"]
        for r in temperature_fractions(docs, alpha=0.1, budget_frac=0.9).collect()
    }
    assert fr_cap["small"] == 1.0
    # mix is deterministic: two runs agree row-for-row
    a = sorted(r["doc_id"] for r in temperature_mix(docs, 0.5, 0.5).collect())
    b = sorted(r["doc_id"] for r in temperature_mix(docs, 0.5, 0.5).collect())
    assert a == b and 0 < len(a) < 1000


def test_ivf_index_persist_and_partition_pruned_query(spark, tmp_path):
    """build_ivf_index + ivf_topk_indexed return exactly what the
    non-persisted kmeans_cells->ivf_topk path returns for the same fit, and
    the probe filter reaches the scan as a PARTITION filter (the query
    plans nprobe/k of the index, it does not scan the corpus)."""
    from pdftableextractor_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        kmeans_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, k=8, iters=2)

    got = ivf_topk_indexed(spark, idx, q, k=10, nprobe=2)
    exp = ivf_topk(
        kmeans_cells(emb, k=8, iters=2), q, nprobe=2, cell_col="cell"
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:120]


def test_incremental_dedup_finds_cross_and_in_batch_pairs(spark):
    """A new batch deduped against the standing corpus finds the planted
    cross-batch and within-batch dups and never reports old-old pairs."""
    from pdftableextractor_spark.operators.dedup import (
        minhash_near_dups_incremental,
    )

    old_rows = [
        ("o1", "alpha beta gamma delta epsilon zeta"),
        ("o2", "one two three four five six seven"),
        ("o3", "the quick brown fox jumps over dogs"),
        # old-old dup pair — must NOT appear in the output
        ("o4", "same old text here again folks"),
        ("o5", "same old text here again folks"),
    ]
    new_rows = [
        ("n1", "alpha beta gamma delta epsilon zeta"),   # dup of o1
        ("n2", "completely fresh content nothing alike"),
        ("n3", "completely fresh content nothing alike"),  # dup of n2
    ]
    old = spark.createDataFrame(old_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])

    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dups_incremental(new, old).collect()
    )
    assert got == [("n1", "o1"), ("n2", "n3")]


def test_incremental_dedup_resent_doc_replaces_old_text(spark):
    """A doc_id re-sent in the batch with new text is never paired with
    itself and its old text is neither verified nor merged into the new
    one."""
    from pdftableextractor_spark.operators.dedup import (
        minhash_near_dups_incremental,
    )

    old = spark.createDataFrame(
        [
            ("o1", "alpha beta gamma delta epsilon zeta"),
            ("x", "one two three four five six seven"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            ("x", "alpha beta gamma delta epsilon zeta"),  # x re-sent
            ("n1", "one two three four five six seven"),  # x's OLD text
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        tuple(r) for r in minhash_near_dups_incremental(new, old).collect()
    )
    # a merged {old, new} shingle set for x would give jaccard 6/13
    assert got == [("o1", "x", 1.0)]


def test_incremental_equals_batch_restricted(spark):
    """minhash_near_dups_incremental(new, old) must equal the full batch
    operator over old ∪ new restricted to pairs involving a new doc — same
    bands, same verify, so EXACT equality (jaccard included), for word
    (n=1) and 3-gram shingles."""
    from pdftableextractor_spark.operators.dedup import (
        minhash_near_dups,
        minhash_near_dups_incremental,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .withColumn("doc_id", F.col("doc_id").cast("string"))
        .select("doc_id", "text")
        .limit(60)
    )
    is_new = F.col("doc_id").cast("bigint") % 4 == 0
    new, old = docs.filter(is_new), docs.filter(~is_new)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}

    for n, threshold in ((1, 0.5), (3, 0.1)):
        inc = sorted(
            tuple(r)
            for r in minhash_near_dups_incremental(
                new, old, n=n, threshold=threshold
            ).collect()
        )
        full = sorted(
            tuple(r)
            for r in minhash_near_dups(
                docs, n=n, threshold=threshold
            ).collect()
            if r["doc_a"] in new_ids or r["doc_b"] in new_ids
        )
        assert inc == full and len(inc) > 0, n


def test_connected_components_empty_pairs(spark):
    from pdftableextractor_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "doc_a string, doc_b string")
    assert connected_components(empty).count() == 0


def test_asof_join_edges(spark):
    """Equal timestamps match (inclusive), pre-history rows get nulls,
    same-(key,ts) right ties break to the largest seq, and the plan is one
    key-shuffle window — no range self-join."""
    from pdftableextractor_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("u1", 100, "L1"), ("u1", 50, "L0"), ("u1", 200, "L2"),
         ("u2", 10, "M0")],
        ["user_id", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [("u1", 100, 7, "exact"), ("u1", 100, 9, "exact-later-seq"),
         ("u1", 150, 1, "mid"), ("u3", 1, 2, "other-key")],
        ["user_id", "ts", "seq", "label"],
    )
    out = {
        r["tag"]: (r["r_label"], r["r_seq"])
        for r in asof_join(
            left, right, on="user_id", seq_col="seq"
        ).collect()
    }
    assert out["L0"] == (None, None)          # nothing at-or-before ts=50
    assert out["L1"] == ("exact-later-seq", 9)  # inclusive + max-seq tie
    assert out["L2"] == ("mid", 1)            # latest at-or-before 200
    assert out["M0"] == (None, None)          # key never matches u3

    plan = asof_join(left, right, on="user_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_range_join_buckets_and_boundaries(spark):
    """Intervals spanning many buckets still match exactly once; both
    boundaries are inclusive; the physical join is an EQUI join on
    (key, bucket) — never a nested-loop theta join."""
    from pdftableextractor_spark.operators.temporal import range_join

    left = spark.createDataFrame(
        [("u", 0, "at-start"), ("u", 250, "inside-far-bucket"),
         ("u", 300, "at-end"), ("u", 301, "after-end"),
         ("u", 95, "multi-match"), ("v", 50, "wrong-key")],
        ["user_id", "p", "tag"],
    )
    right = spark.createDataFrame(
        [("u", 0, 300, "wide"), ("u", 90, 100, "narrow")],
        ["user_id", "s", "e", "label"],
    )
    out = sorted(
        (r["tag"], r["label"])
        for r in range_join(
            left, right, "user_id", "p", "s", "e", bucket_width=10
        ).collect()
    )
    assert out == [
        ("at-end", "wide"),
        ("at-start", "wide"),
        ("inside-far-bucket", "wide"),
        ("multi-match", "narrow"),
        ("multi-match", "wide"),
    ]

    plan = range_join(
        left, right, "user_id", "p", "s", "e", bucket_width=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_bias_and_bounds(spark):
    """A dominant weight wins nearly always across seeds; k >= group size
    returns every positive-weight row; zero/negative weights are never
    sampled; output is deterministic per seed."""
    from pdftableextractor_spark.operators.sampling import weighted_sample

    rows = [("heavy", 10_000)] + [(f"w{i:02d}", 1) for i in range(20)] + [
        ("zero", 0)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "wt"])

    wins = sum(
        weighted_sample(docs, "wt", k=1, seed=s).collect()[0]["doc_id"]
        == "heavy"
        for s in range(10)
    )
    assert wins >= 8, f"dominant weight won only {wins}/10 seeds"

    everything = {
        r["doc_id"] for r in weighted_sample(docs, "wt", k=100).collect()
    }
    assert everything == {d for d, w in rows if w > 0}

    a = sorted(r["doc_id"] for r in weighted_sample(docs, "wt", k=5, seed=3).collect())
    b = sorted(r["doc_id"] for r in weighted_sample(docs, "wt", k=5, seed=3).collect())
    assert a == b


def test_sampling_stages_compose_independently(spark):
    """Two hash samplers with DIFFERENT seeds thin multiplicatively
    (~f1*f2); with the SAME seed they are fully correlated (~min(f1,f2)) —
    the curate funnel must use distinct seeds per stage (seed-correlation
    regression test)."""
    from pdftableextractor_spark.operators.sampling import (
        stratified_sample,
        temperature_mix,
    )

    docs = spark.createDataFrame(
        [(f"{i:05d}", "s") for i in range(4000)], ["doc_id", "source"]
    )
    stage1 = stratified_sample(docs, {"s": 0.5})
    n1 = stage1.count()
    correlated = temperature_mix(stage1, alpha=1.0, budget_frac=0.5, seed=7).count()
    independent = temperature_mix(stage1, alpha=1.0, budget_frac=0.5, seed=13).count()
    # alpha=1 keeps exactly budget_frac of each stratum's hash range
    assert correlated == n1  # same seed: second stage removes nothing
    assert abs(independent - n1 / 2) < n1 * 0.1  # distinct seed: ~halves


def test_asof_join_ignores_null_ts_rights(spark):
    """A right row with NULL ts must never match (DuckDB ASOF: l.ts >= NULL
    is never true) — regression for nulls-first window ordering."""
    from pdftableextractor_spark.operators.temporal import asof_join

    left = spark.createDataFrame([("u", 5, "L")], ["k", "ts", "tag"])
    right = spark.createDataFrame(
        [("u", None, "phantom"), ("u", 9, "future")],
        "k string, ts int, label string",
    )
    rows = asof_join(left, right, on="k").collect()
    assert rows[0]["r_label"] is None


def test_decode_png_bounds_hostile_headers(spark):
    """A hostile IHDR (100k x 100k) or a deflate bomb must raise ValueError
    BEFORE allocating/inflating gigabytes — the image analog of the
    GRID_AREA_MAX rule."""
    import struct
    import zlib

    import pytest as _pytest

    from pdftableextractor_spark.operators.multimodal import decode_png

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    huge_ihdr = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 2, 0, 0, 0)
    hostile = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", huge_ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 100))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="exceed the decode bound"):
        decode_png(hostile)

    # deflate bomb: tiny compressed stream, oversized expansion vs IHDR
    small_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", small_ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="IDAT size mismatch"):
        decode_png(bomb)


def test_ivf_index_detects_torn_rebuild(spark, tmp_path):
    """Centroids from one build next to vectors from another must raise,
    not silently probe a mismatched index."""
    import pytest as _pytest

    from pdftableextractor_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, k=4, iters=1)
    # simulate a torn rebuild: re-write ONLY the centroids with different k
    from pdftableextractor_spark.operators.similarity import kmeans_centroids
    from pdftableextractor_spark.sources.tables import write_table

    cents = kmeans_centroids(emb, k=8, iters=1)
    write_table(
        spark.createDataFrame(
            [(i, c, "other-build") for i, c in enumerate(cents)],
            "cell int, centroid array<double>, build_id string",
        ),
        f"{idx}/centroids",
    )
    with _pytest.raises(ValueError, match="inconsistent"):
        ivf_topk_indexed(spark, idx, q, k=5, nprobe=2)


def test_band_rows_rejects_sig_length_mismatch(spark):
    """Signature arrays shorter than num_hashes must raise — out-of-range
    indices would otherwise give every doc the same md5('') band hash."""
    import pytest as _pytest

    from pdftableextractor_spark.operators.dedup import band_rows_from_sigs

    sigs = spark.createDataFrame(
        [("d1", [1, 2, 3, 4])], "doc_id string, sig array<bigint>"
    )
    with _pytest.raises(Exception, match="signature length mismatch"):
        band_rows_from_sigs(sigs, num_hashes=64, band_rows=4).collect()


def test_exploded_shingles_matches_python_reference(spark):
    """The round-7 zip-slice gram construction must emit exactly the gram
    MULTISET of the straightforward Python shingle definition (lower, split
    on whitespace, drop empty tokens, consecutive n-grams joined by one
    space) — including the edge docs: empty text, whitespace-only, null,
    and docs shorter than n. ``shingles_col`` builds its gram SET from the
    same slices and must equal its own reference (no empty-token drop:
    '' and whitespace-only texts are the one-token list [''])."""
    import re
    from collections import Counter

    from pdftableextractor_spark.operators.dedup import (
        exploded_shingles,
        shingles_col,
    )

    rows = [
        ("d0", "The quick  brown fox\tjumps"),
        ("d1", ""),
        ("d2", "   "),
        ("d3", None),
        ("d4", "one"),
        ("d5", "two tokens"),
        ("d6", "a a a a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def ref(text, n):
        if text is None:
            return []
        toks = [t for t in text.lower().strip().split() if t]
        return [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]

    for n in (1, 2, 3, 5):
        got = Counter(
            (r["doc_id"], r["s"])
            for r in exploded_shingles(docs, "text", n).collect()
        )
        want = Counter(
            (doc_id, g) for doc_id, text in rows for g in ref(text, n)
        )
        assert got == want, f"n={n}: {got} != {want}"

    def ref_set(text, n):
        if text is None:
            return None
        toks = re.split(r"\s+", text.lower().strip(" "))
        return sorted({
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        })

    for n in (1, 2, 3, 5):
        got = {
            r["doc_id"]: r["sh"]
            for r in docs.select(
                "doc_id", shingles_col(F.col("text"), n).alias("sh")
            ).collect()
        }
        want = {doc_id: ref_set(text, n) for doc_id, text in rows}
        assert got == want, f"n={n}: {got} != {want}"
