"""Round-5 additions: the distributed k-NN join (q67) and its
contracts — exact-mode parity, approximate-mode recall on clustered data,
plan shape (cogrouped kernel, no cartesian, window-free reduce), and
candidate hygiene (no self-pairs, contiguous ranks, no duplicates)."""

import numpy as np


def _clustered_embeddings(spark, n_clusters=12, per_cluster=25, dim=16,
                          seed=3):
    """Planted-cluster corpus: cluster centers on random directions, the
    members tight around them — a vector's true top-k neighbors are
    in-cluster by construction, which is exactly what the cell-blocked
    approximate path must recover."""
    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 10.0
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + rng.standard_normal(dim) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )


def test_knn_join_exact_matches_brute_force(spark):
    """Exact mode (probe every cell) must equal the brute-force all-pairs
    top-k with row_number tie semantics, independent of the k-means fit."""
    from pdftableextractor_spark.operators.similarity import knn_join

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    got = {
        (r["qid"], r["vec_id"], r["rnk"])
        for r in knn_join(emb, k=3, n_cells=8, n_probe=None, iters=2)
        .collect()
    }
    import duckdb

    exp = {
        tuple(t)
        for t in duckdb.sql(
            """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM read_parquet(
                         '/root/testdata/sf0.001/embeddings.parquet')),
            p AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id,
                         round(list_cosine_similarity(a.v, b.v), 6) AS cos
                  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
            r AS (SELECT qid, vec_id,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY cos DESC, vec_id)
                           AS rnk
                  FROM p)
            SELECT qid, vec_id, CAST(rnk AS INT) FROM r WHERE rnk <= 3
            """
        ).fetchall()
    }
    assert got == exp


def test_knn_join_recall_on_clustered_corpus(spark):
    """The approximate path (n_probe << n_cells) must recover nearly all
    true neighbors when the corpus actually clusters — the IVF promise.
    (On uniform random vectors IVF recall is poor by nature; the planted
    clusters here are the workload the cell blocking is FOR.)"""
    from pdftableextractor_spark.operators.similarity import knn_join

    emb = _clustered_embeddings(spark)
    exact = {
        (r["qid"], r["vec_id"])
        for r in knn_join(emb, k=5, n_cells=12, n_probe=None, iters=3)
        .collect()
    }
    appr = {
        (r["qid"], r["vec_id"])
        for r in knn_join(emb, k=5, n_cells=12, n_probe=2, iters=3)
        .collect()
    }
    recall = len(appr & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} on planted clusters"


def test_kmeans_sampled_fit(spark):
    """The default SAMPLED fit: (a) a sample that covers the whole corpus
    reproduces the full-corpus fit (same row set, float-order noise
    only); (b) a genuinely bounded sample (a small fraction of the
    corpus) still places cells well enough that the n_probe=2 path keeps
    recall on planted clusters — the fit defines geometry only, and
    ~per_cell points pin a cell mean. The bounded fit is the whole
    point: iters full-corpus scans collapse to one bounded pass."""
    from pdftableextractor_spark.operators.similarity import (
        kmeans_centroids,
        knn_join,
    )

    emb = _clustered_embeddings(spark, n_clusters=10, per_cluster=40)
    full = kmeans_centroids(emb, k=10, iters=2, fit_sample_per_cell=None)
    covering = kmeans_centroids(emb, k=10, iters=2,
                                fit_sample_per_cell=256)  # 2560 >= 400
    assert np.allclose(np.array(full), np.array(covering))

    # bounded: 6 per cell = 60 of 400 vectors ever seen by the fit
    exact = {
        (r["qid"], r["vec_id"])
        for r in knn_join(emb, k=5, n_cells=10, n_probe=None, iters=2)
        .collect()
    }
    appr = {
        (r["qid"], r["vec_id"])
        for r in knn_join(emb, k=5, n_cells=10, n_probe=2, iters=2,
                          fit_sample_per_cell=6).collect()
    }
    recall = len(appr & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} with bounded sampled fit"


def test_knn_join_hygiene_and_plan(spark):
    """No self-pairs, no duplicate (qid, vec_id), ranks contiguous from 1,
    every query present; the plan runs the cogrouped Arrow kernel with no
    cartesian/broadcast-nested-loop and a window-free final reduce."""
    from pdftableextractor_spark.operators.similarity import knn_join

    emb = _clustered_embeddings(spark, n_clusters=6, per_cluster=20)
    out = knn_join(emb, k=4, n_cells=6, n_probe=2, iters=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan, "per-query reduce regressed to a window"

    rows = out.collect()
    assert all(r["qid"] != r["vec_id"] for r in rows)
    pairs = [(r["qid"], r["vec_id"]) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate candidate pairs"
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r["rnk"])
    assert len(by_q) == 120, "some query lost all its neighbors"
    for qid, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))
        assert len(rnks) == 4


def test_knn_join_kernel_tie_break_and_self_mask():
    """Kernel-level: ties at equal rounded cosine go to the smaller
    vec_id; a query's own vector in the cell is masked and the k-th real
    candidate still makes the cut (the k+1 slice)."""
    import pandas as pd

    from pdftableextractor_spark.kernels.vectors import knn_block_kernel

    # four identical vectors (all ties) + the query itself in the cell
    left = pd.DataFrame(
        {"qid": [10], "qemb": [[1.0, 0.0]], "cell": [0]}
    )
    right = pd.DataFrame(
        {
            "vec_id": [30, 10, 20, 40],
            "embedding": [[1.0, 0.0]] * 4,
            "cell": [0] * 4,
        }
    )
    got = knn_block_kernel(3)(left, right)
    assert list(got["vec_id"]) == [20, 30, 40]  # self dropped, id order
    assert list(got["qid"]) == [10, 10, 10]
    assert np.allclose(got["cos"], 1.0)


def test_ivf_indexed_batch_matches_per_vector_loop(spark, tmp_path):
    """The batch path (one job for a whole query table) must return,
    per query, exactly what the single-query ivf_topk_indexed loop
    returns (same index, same nprobe, row_number tie semantics), with the
    query's own vector included (exclude_self=False on an index queried
    by its own members ranks self at cos 1.0 — the per-vector path does
    the same); the probed-vectors scan must be partition-pruned by the
    batch's literal probe-cell set."""
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        ivf_topk_indexed_batch,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, k=8, iters=2)

    qids = [0, 7, 42, 99, 123]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = ivf_topk_indexed_batch(spark, queries, idx, k=5, nprobe=2)
    got = {
        qid: [(r["vec_id"], r["cos"], r["rnk"]) for r in rows]
        for qid, rows in _group(out.collect())
    }
    for qid in qids:
        qvec = emb.filter(F.col("vec_id") == qid).collect()[0]["embedding"]
        exp = [
            (r["vec_id"], r["cos"], i + 1)
            for i, r in enumerate(
                ivf_topk_indexed(spark, idx, qvec, k=5, nprobe=2).collect()
            )
        ]
        assert got[qid] == exp, f"qid {qid}: {got[qid]} != {exp}"

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def _group(rows):
    by_q = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rnk"])):
        by_q.setdefault(r["qid"], []).append(r)
    return by_q.items()


def test_ivf_indexed_batch_detects_torn_rebuild(spark, tmp_path):
    """A vectors table from a different build under the same centroids
    must raise, not silently answer from the mismatched index."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed_batch,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    build_ivf_index(emb, a, k=8, iters=2)
    # different fit params -> different build stamp
    build_ivf_index(emb, b, k=8, iters=1)
    shutil.rmtree(f"{a}/vectors")
    shutil.copytree(f"{b}/vectors", f"{a}/vectors")

    queries = emb.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
    with pytest.raises(ValueError, match="torn rebuild"):
        ivf_topk_indexed_batch(spark, queries, a, k=3, nprobe=2).collect()


def test_mask_spans_min_run_floor(spark):
    """Lee-et-al run-length floor: a short shared idiom (a single 4-gram,
    run length 4) survives min_run=8, while a long shared template (9
    contiguous covered tokens) is cut; adjacent covered spans MERGE into
    one run before the floor is applied (doc a: idiom+template adjacent =
    13-token run, all cut)."""
    from pdftableextractor_spark.operators.dedup import mask_duplicate_spans

    rows = [
        # idiom directly abuts the template -> one merged 13-token run
        ("a", "alpha beta gamma delta common one two three four five six"
              " seven eight unique tail here"),
        # idiom separated from the template -> its own 4-token run survives
        ("b", "alpha beta gamma delta other words common one two three"
              " four five six seven eight end"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in mask_duplicate_spans(docs, n=4, min_run=8).collect()
    }
    assert got["a"] == ("unique tail here", 13)
    assert got["b"] == ("alpha beta gamma delta other words end", 9)
    # without the floor both shared regions die everywhere
    base = {
        r["doc_id"]: r["n_removed"]
        for r in mask_duplicate_spans(docs, n=4).collect()
    }
    assert base["a"] == 13 and base["b"] == 13


def _encode_avi(frames, fps=10, bitcount=24, handler=b"DIB ",
                compression=0, forge_avih_dims=None,
                truncate_frame_bytes=0):
    """Minimal uncompressed-AVI writer for round-trip tests: RIFF
    container, hdrl (avih + one vids strl), movi with one 00db chunk per
    frame — bottom-up BGR rows padded to 4 bytes, per the DIB spec."""
    import struct

    n = len(frames)
    h, w = (frames[0].shape[0], frames[0].shape[1]) if n else (2, 2)
    if forge_avih_dims:
        ah, aw = forge_avih_dims
    else:
        ah, aw = h, w
    stride = (w * 3 + 3) & ~3

    def chunk(fcc, data):
        return fcc + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) & 1 else b""
        )

    avih = struct.pack(
        "<10I", int(1e6 / fps), 0, 0, 0, n, 0, 1, 0, aw, ah
    ) + b"\x00" * 16
    strh = b"vids" + handler + b"\x00" * 48
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bitcount, compression,
        stride * h, 0, 0, 0, 0,
    )
    strl = b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf)
    hdrl = b"hdrl" + chunk(b"avih", avih) + chunk(b"LIST", strl)
    movi = b"movi"
    for fr in frames:
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = fr[::-1, :, ::-1].reshape(h, w * 3)  # BGR, flip
        data = rows.tobytes()
        if truncate_frame_bytes:
            data = data[:-truncate_frame_bytes]
        movi += chunk(b"00db", data)
    body = b"AVI " + chunk(b"LIST", hdrl) + chunk(b"LIST", movi)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_avi_decode_round_trip():
    """decode_avi reproduces exact pixels, frame order, and fps through
    the DIB bottom-up/BGR/stride conventions, including a non-multiple-
    of-4 row width (stride padding)."""
    from pdftableextractor_spark.operators.multimodal import decode_avi

    rng = np.random.RandomState(5)
    frames = [rng.randint(0, 256, (4, 5, 3), dtype=np.uint8)
              for _ in range(3)]  # w=5 -> stride 16 != 15
    got, fps = decode_avi(_encode_avi(frames, fps=25))
    assert got.shape == (3, 4, 5, 3) and abs(fps - 25.0) < 1e-6
    for i in range(3):
        assert (got[i] == frames[i]).all()


def test_avi_hostile_and_unsupported_bounded():
    """A forged frame-count/dimension pair exceeding the 64 MiB decode
    cap raises BEFORE allocation; a frame chunk whose size disagrees with
    stride*h raises; a compressed codec raises NotImplementedError (the
    honest stub boundary)."""
    import pytest

    from pdftableextractor_spark.operators.multimodal import decode_avi

    frames = [np.zeros((2, 2, 3), dtype=np.uint8)] * 2
    # forge avih dims huge: the strf still says 2x2, but the real bound
    # uses the avih dims -> must reject before allocating
    hostile = _encode_avi(frames, forge_avih_dims=(30000, 30000))
    with pytest.raises(ValueError, match="decode bound"):
        decode_avi(hostile)

    # short frame chunk (sizes self-consistent, data < stride*h): the
    # per-frame length check must trip, never a mis-shaped reshape
    with pytest.raises(ValueError, match="frame 0"):
        decode_avi(_encode_avi(frames, truncate_frame_bytes=4))

    with pytest.raises(NotImplementedError, match="uncompressed"):
        decode_avi(_encode_avi(frames, handler=b"MJPG", compression=1))


def test_avi_kernel_routing_real_vs_stub(spark):
    """Through the Arrow kernel a real AVI featurizes from genuine frames
    (video_features), a compressed AVI degrades to the stub, and a
    zero-frame AVI yields finite features."""
    from pdftableextractor_spark.operators.multimodal import (
        decode_avi,
        decode_stub,
        extract_features,
        video_features,
    )

    rng = np.random.RandomState(6)
    frames = [rng.randint(0, 256, (6, 6, 3), dtype=np.uint8)
              for _ in range(4)]
    real = _encode_avi(frames, fps=10)
    compressed = _encode_avi(frames, handler=b"MJPG", compression=1)
    empty = _encode_avi([], fps=10)
    assets = spark.createDataFrame(
        [
            ("v1", "video", bytearray(real)),
            ("v2", "video", bytearray(compressed)),
            ("v3", "video", bytearray(empty)),
        ],
        "asset_id string, kind string, payload binary",
    )
    feats = {
        r["asset_id"]: np.array(r["feat"], dtype=np.float32)
        for r in extract_features(assets).collect()
    }
    assert np.allclose(feats["v1"], video_features(*decode_avi(real)),
                       atol=1e-6)
    assert np.allclose(feats["v2"], decode_stub(compressed, "video"),
                       atol=1e-6)
    assert np.isfinite(feats["v3"]).all() and (feats["v3"] == 0).all()
    # motion feature is nonzero for changing random frames
    assert feats["v1"][3] > 0


def test_sample_frames_decoded_real_and_fallback(spark):
    """sample_frames_decoded returns GENUINE RGB frames at each sampled
    timestamp for a real AVI (bytes round-trip to the encoder's pixels,
    nearest-frame indexing) and the deterministic sha fallback for an
    undecodable video payload: sha256(payload || str(ts))."""
    import hashlib

    from pdftableextractor_spark.operators.multimodal import (
        sample_frames_decoded,
    )

    rng = np.random.RandomState(7)
    frames = [rng.randint(0, 256, (3, 4, 3), dtype=np.uint8)
              for _ in range(10)]
    avi = _encode_avi(frames, fps=2)  # 10 frames @2fps = 5 s
    junk = b"not an avi"
    assets = spark.createDataFrame(
        [
            ("v1", "video", bytearray(avi), (4500,)),
            ("v2", "video", bytearray(junk), (2000,)),
            ("v3", "video", None, (1000,)),  # NULL payload: no crash
            ("t1", "image", bytearray(b"x"), (0,)),  # filtered out
        ],
        "asset_id string, kind string, payload binary, "
        "meta struct<duration_ms int>",
    )
    rows = sample_frames_decoded(assets, every_ms=1000).collect()
    v1 = sorted((r for r in rows if r["asset_id"] == "v1"),
                key=lambda r: r["ts_ms"])
    # ts 0..4500 step 1000 -> 5 samples; frame index = ts/1000*fps
    assert [r["ts_ms"] for r in v1] == [0, 1000, 2000, 3000, 4000]
    for r in v1:
        assert r["decoded"] and (r["width"], r["height"]) == (4, 3)
        exp = frames[min(int(r["ts_ms"] / 1000.0 * 2), 9)]
        got = np.frombuffer(bytes(r["frame"]), dtype=np.uint8).reshape(
            3, 4, 3
        )
        assert (got == exp).all()
    v2 = [r for r in rows if r["asset_id"] == "v2"]
    assert len(v2) == 3 and not any(r["decoded"] for r in v2)
    for r in v2:
        assert bytes(r["frame"]) == hashlib.sha256(
            junk + str(r["ts_ms"]).encode()
        ).digest()
    v3 = [r for r in rows if r["asset_id"] == "v3"]
    assert len(v3) == 2 and not any(r["decoded"] for r in v3)
    assert not [r for r in rows if r["asset_id"] == "t1"]


def test_semantic_dedup_planted_clusters(spark):
    """SemDeDup keeps exactly one (min-id) representative per planted
    near-identical cluster — the paraphrase dup class lexical dedup can't
    see — and the component labels are the NUMERIC min member (the
    string-min '103'<'14' trap is re-labeled away)."""
    from pdftableextractor_spark.operators.dedup import semantic_dedup

    # 30 clusters of 4 near-identical vectors; in-cluster cos ~1, cross
    # ~random — kNN-3 connects each 4-member cluster completely
    emb = _clustered_embeddings(spark, n_clusters=30, per_cluster=4)
    out = semantic_dedup(
        emb, threshold=0.9, k=3, n_cells=10, n_probe=None, iters=2
    ).collect()
    assert len(out) == 120
    for r in out:
        c = r["vec_id"] // 4  # planted cluster id
        assert r["component"] == c * 4, (r["vec_id"], r["component"])
        assert r["keep"] == (r["vec_id"] == c * 4)
    kept = sorted(r["vec_id"] for r in out if r["keep"])
    assert kept == [4 * c for c in range(30)]


def test_semantic_dedup_incremental_planted(spark):
    """Planted incremental scenarios: a batch vector near a STANDING
    vector drops (its whole cluster drops — old wins); a batch-only dup
    pair keeps exactly its min-id member; a unique batch vector passes;
    a RE-SENT id (identical vector, same vec_id in both frames) is NOT
    'near old' through itself and replaces its standing entry."""
    from pdftableextractor_spark.operators.dedup import (
        semantic_dedup_incremental,
    )

    rng = np.random.RandomState(11)

    def vec(seed_vec, noise=0.0):
        return [
            float(x)
            for x in (seed_vec + rng.standard_normal(len(seed_vec)) * noise)
        ]

    a, b, c, d = (rng.standard_normal(16) * 10 for _ in range(4))
    old_rows = [
        (100, vec(a)),        # standing vector near new 1/2's content
        (101, vec(b)),
        (7, vec(c)),          # same id as re-sent batch vector
    ]
    new_rows = [
        (1, vec(a, 0.01)),    # near old 100 -> cluster {1, 2} drops
        (2, vec(a, 0.01)),    # clustered with 1
        (3, vec(d, 0.01)),    # batch-only dup pair {3, 4}: keep 3
        (4, vec(d, 0.01)),
        (5, vec(rng.standard_normal(16) * 10)),  # unique: keep
        (7, vec(c)),          # re-sent id, identical vector: keep
    ]
    old = spark.createDataFrame(
        old_rows, "vec_id bigint, embedding array<float>"
    )
    new = spark.createDataFrame(
        new_rows, "vec_id bigint, embedding array<float>"
    )
    out = {
        r["vec_id"]: (r["component"], r["near_old"], r["keep"])
        for r in semantic_dedup_incremental(
            new, old, threshold=0.9, k=2, n_cells=3, n_probe=None, iters=2
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 7}
    assert out[1] == (1, True, False) and out[2] == (1, True, False)
    assert out[3] == (3, False, True) and out[4] == (3, False, False)
    assert out[5] == (5, False, True)
    assert out[7] == (7, False, True), "re-sent id flagged near itself"

    # the persisted-index path (standing corpus as an IVF index) must
    # agree when every cell is probed
    import os

    from pdftableextractor_spark.operators.similarity import build_ivf_index

    idx = os.path.join(str(spark.conf.get("spark.sql.warehouse.dir"))
                       .removeprefix("file:"), "sem_inc_idx")
    build_ivf_index(old, idx, k=3, iters=2)
    out_idx = {
        r["vec_id"]: (r["component"], r["near_old"], r["keep"])
        for r in semantic_dedup_incremental(
            new, idx, threshold=0.9, k=2, n_cells=3, n_probe=None,
            iters=2,
        ).collect()
    }
    assert out_idx == out


def test_image_near_dups_perceptual(spark):
    """Image-content dedup: the same pixels re-encoded with different PNG
    filter choices hash identically (hamming 0); a small local edit stays
    within a small Hamming distance (near-dup found); unrelated images
    don't pair at the threshold; byte-identical undecodable payloads
    still pair as exact dups through the sha pseudo-hash."""
    from pdftableextractor_spark.operators.multimodal import (
        PHASH_BITS,
        image_dhash,
        image_near_dups,
        image_phashes,
    )
    from tests.test_curation import _encode_png

    rng = np.random.RandomState(13)
    # strong block structure so the 6x11 grid is stable under small edits
    base = np.repeat(
        np.repeat(rng.randint(0, 256, (6, 11, 3), dtype=np.uint8), 8,
                  axis=0), 8, axis=1,
    )  # 48 x 88
    # pin the first two grid cells so the planted edit provably flips
    # exactly one comparison bit: dark(10) > mid(200) is False...
    base[0:8, 0:8] = 10
    base[0:8, 8:16] = 200
    edited = base.copy()
    edited[0:8, 0:8] = 250  # ...and bright(250) > mid(200) is True
    other = np.repeat(
        np.repeat(rng.randint(0, 256, (6, 11, 3), dtype=np.uint8), 8,
                  axis=0), 8, axis=1,
    )
    h = base.shape[0]
    png_a = _encode_png(base, [0] * h)
    png_b = _encode_png(base, [2] * h)      # same pixels, Up filter
    png_c = _encode_png(edited, [0] * h)
    png_d = _encode_png(other, [0] * h)
    junk = b"not a png, definitely"
    assert image_dhash(base) == image_dhash(base)
    assert 0 <= image_dhash(base) < (1 << PHASH_BITS)

    assets = spark.createDataFrame(
        [
            ("a", "image", bytearray(png_a)),
            ("b", "image", bytearray(png_b)),
            ("c", "image", bytearray(png_c)),
            ("d", "image", bytearray(png_d)),
            ("j1", "image", bytearray(junk)),
            ("j2", "image", bytearray(junk)),
            ("x", "audio", bytearray(png_a)),  # non-image: excluded
        ],
        "asset_id string, kind string, payload binary",
    )
    sigs = {r["asset_id"]: (r["phash"], r["real"])
            for r in image_phashes(assets).collect()}
    assert sigs["a"] == sigs["b"] and sigs["a"][1] is True
    assert sigs["j1"] == sigs["j2"] and sigs["j1"][1] is False
    assert "x" not in sigs

    pairs = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in image_near_dups(assets).collect()
    }
    assert pairs[("a", "b")] == 0
    assert ("j1", "j2") in pairs and pairs[("j1", "j2")] == 0
    # the planted one-cell edit flips exactly its one comparison bit
    assert ("a", "c") in pairs and pairs[("a", "c")] == 1
    assert not any("d" in p for p in pairs), f"unrelated image paired: {pairs}"


def test_audio_near_dups_volume_invariant(spark):
    """Audio-content dedup: the same recording at half volume fingerprints
    identically (energy comparisons are scale-invariant — hamming 0); a
    different waveform doesn't pair; byte-identical undecodable payloads
    pair through the sha pseudo-hash."""
    import io
    import wave

    from pdftableextractor_spark.operators.multimodal import (
        audio_fingerprint,
        audio_fingerprints,
        audio_near_dups,
        decode_wav,
    )

    def wav_from(samples, fr=8000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(fr)
            w.writeframes(
                np.clip(samples, -32767, 32767)
                .astype("<i2").tobytes()
            )
        return buf.getvalue()

    rng = np.random.RandomState(17)
    # per-window amplitude steps aligned to the 61 fingerprint windows
    # and WELL separated, so int16 quantization can never flip an
    # adjacent-energy comparison at either volume
    n = 61 * 64
    t = np.arange(n)
    amps = 2000.0 + 300.0 * rng.permutation(61)
    env = np.repeat(amps, 64)
    tone = np.sin(2 * np.pi * 440 * t / 8000)
    loud = wav_from(tone * env)
    quiet = wav_from(tone * env * 0.5)
    other = wav_from(rng.standard_normal(n) * 15000)
    junk = b"not audio"
    fp_l = audio_fingerprint(*decode_wav(loud))
    fp_q = audio_fingerprint(*decode_wav(quiet))
    assert fp_l == fp_q, "volume change altered the fingerprint"

    assets = spark.createDataFrame(
        [
            ("l", "audio", bytearray(loud)),
            ("q", "audio", bytearray(quiet)),
            ("o", "audio", bytearray(other)),
            ("j1", "audio", bytearray(junk)),
            ("j2", "audio", bytearray(junk)),
            ("x", "image", bytearray(loud)),  # non-audio: excluded
        ],
        "asset_id string, kind string, payload binary",
    )
    sigs = {r["asset_id"]: (r["afp"], r["real"])
            for r in audio_fingerprints(assets).collect()}
    assert sigs["l"] == sigs["q"] and sigs["l"][1] is True
    assert sigs["j1"] == sigs["j2"] and sigs["j1"][1] is False
    assert "x" not in sigs
    pairs = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in audio_near_dups(assets).collect()
    }
    assert pairs[("l", "q")] == 0
    assert ("j1", "j2") in pairs and pairs[("j1", "j2")] == 0
    assert not any("o" in p for p in pairs), f"unrelated audio paired: {pairs}"


def test_audio_flat_energy_degrades_to_pseudo_hash(spark):
    """Constant-energy signals (steady tones, constant-amplitude noise)
    have a flat energy profile — every adjacent-window comparison lands
    the same way, so the fingerprint would be the all-zeros value for
    ALL of them and unrelated recordings would merge as perceptual
    near-dups. Degenerate profiles must degrade to the pseudo-hash path
    (real=false): byte-identical copies still pair, unrelated flat
    signals never do. Empty audio degrades the same way."""
    import io
    import wave

    from pdftableextractor_spark.operators.multimodal import (
        audio_fingerprint,
        audio_fingerprints,
        audio_near_dups,
        decode_wav,
    )

    def wav_from(samples, fr=8000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(fr)
            w.writeframes(
                np.clip(samples, -32767, 32767).astype("<i2").tobytes()
            )
        return buf.getvalue()

    # 500 Hz / 250 Hz at 8 kHz put exact whole periods in each 64-sample
    # fingerprint window, so every window's energy is IDENTICAL — the
    # true flat-profile degeneracy (a 440 Hz tone's windows each cut the
    # period differently and carry deterministic phase-jitter bits)
    n = 61 * 64
    t = np.arange(n)
    tone_500 = wav_from(np.sin(2 * np.pi * 500 * t / 8000) * 12000)
    tone_250 = wav_from(np.sin(2 * np.pi * 250 * t / 8000) * 12000)
    empty = wav_from(np.zeros(0))
    assert audio_fingerprint(*decode_wav(tone_500)) is None
    assert audio_fingerprint(*decode_wav(empty)) is None

    assets = spark.createDataFrame(
        [
            ("t1", "audio", bytearray(tone_500)),
            ("t1b", "audio", bytearray(tone_500)),  # byte-identical copy
            ("t2", "audio", bytearray(tone_250)),   # unrelated steady tone
            ("e", "audio", bytearray(empty)),
        ],
        "asset_id string, kind string, payload binary",
    )
    sigs = {r["asset_id"]: (r["afp"], r["real"])
            for r in audio_fingerprints(assets).collect()}
    assert all(not v[1] for v in sigs.values()), sigs  # all degraded
    pairs = {
        (r["asset_a"], r["asset_b"])
        for r in audio_near_dups(assets).collect()
    }
    assert pairs == {("t1", "t1b")}, pairs  # exact-only pairing survives


def test_semantic_layer_defaults_are_scale_safe():
    """Defaults ARE the API: every entry point into the semantic layer
    must default to the bounded multi-probe path (n_probe=2 — compute
    ~(n_probe/n_cells)·n²), never to exact mode (n_probe=None = blocked
    all-pairs brute force, O(n²) however the cells are laid out). Exact
    mode stays available but only by EXPLICIT n_probe=None — the oracle
    -parity queries and the planted tests pass it themselves."""
    import inspect

    from pdftableextractor_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_incremental,
    )
    from pdftableextractor_spark.operators.similarity import knn_join

    for fn in (semantic_dedup, semantic_dedup_incremental, knn_join):
        default = inspect.signature(fn).parameters["n_probe"].default
        assert default == 2, (
            f"{fn.__name__} defaults n_probe={default!r}; the default "
            "must be the bounded scale path (2), exact mode only by "
            "explicit n_probe=None"
        )


def test_semantic_dedup_bootstrap_empties(spark):
    """First-batch cadence: an empty standing corpus means within-batch
    dedup alone decides (near_old all false); empty batch and empty
    corpus inputs return empty/complete results instead of crashing the
    k-means init."""
    from pdftableextractor_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_incremental,
    )

    schema = "vec_id bigint, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    new = _clustered_embeddings(spark, n_clusters=3, per_cluster=4)

    assert semantic_dedup(empty, threshold=0.9).collect() == []
    assert semantic_dedup_incremental(
        empty, empty, threshold=0.9
    ).collect() == []
    out = semantic_dedup_incremental(
        new, empty, threshold=0.9, k=3, n_cells=3, n_probe=None, iters=2
    ).collect()
    assert len(out) == 12
    assert not any(r["near_old"] for r in out)
    kept = sorted(r["vec_id"] for r in out if r["keep"])
    assert kept == [0, 4, 8]  # one representative per planted cluster


def test_hamming_pairs_pseudo_hash_rules(spark):
    """The real/pseudo rule: pseudo-hashes (undecodable payloads) never
    claim NEAR similarity — only exact (hamming 0) pseudo-pseudo pairs
    survive, and real/pseudo never mix even at hamming 0."""
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    rows = [
        ("r1", 0b1010, True),
        ("r2", 0b1011, True),    # near r1 (hamming 1): real-real OK
        ("p1", 0b1010, False),   # == r1's hash but pseudo: must NOT pair
        ("p2", 0b1010, False),   # == p1: exact pseudo-pseudo pair OK
        ("p3", 0b1011, False),   # hamming 1 from p1: pseudo near — DROP
    ]
    sigs = spark.createDataFrame(rows, "asset_id string, h long, real boolean")
    pairs = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in hamming_near_dup_pairs(
            sigs, "h", 60, max_hamming=4, n_bands=5,
            id_col="asset_id", a_col="asset_a", b_col="asset_b",
            real_col="real",
        ).collect()
    }
    assert pairs == {("r1", "r2"): 1, ("p1", "p2"): 0}, pairs


def test_append_to_ivf_index_cadence(spark, tmp_path):
    """Index growth without refit: appended vectors are query-visible,
    carry the existing build stamp (all consistency checks keep
    passing), land in the right cell partitions (pruning intact), and
    the centroids are untouched. Composes with the incremental dedup:
    append q70's keep-set, then the NEXT batch dedups against it."""
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.dedup import (
        semantic_dedup_incremental,
    )
    from pdftableextractor_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_topk_indexed_batch,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    old = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "ivf")
    build_ivf_index(old, idx, k=8, iters=2)

    kept = semantic_dedup_incremental(
        batch, idx, threshold=0.35, k=3, n_cells=8, n_probe=None,
        iters=2,
    ).filter(F.col("keep"))
    keep_ids = {r["vec_id"] for r in kept.collect()}
    n = append_to_ivf_index(
        spark, batch.join(kept.select("vec_id"), "vec_id", "left_semi"),
        idx,
    )
    assert n == len(keep_ids) > 0

    # appended vectors are findable: query the index BY an appended
    # vector — its own row comes back at cos 1.0
    probe_id = min(keep_ids)
    out = ivf_topk_indexed_batch(
        spark,
        emb.filter(F.col("vec_id") == probe_id).select(
            F.col("vec_id").alias("qid"), "embedding"
        ),
        idx, k=1, nprobe=8,
    ).collect()
    assert out and out[0]["vec_id"] == probe_id and out[0]["cos"] == 1.0

    # single stamp across old + appended rows; partition layout intact
    from pdftableextractor_spark.sources.tables import read_path

    vecs = read_path(spark, f"{idx}/vectors")
    assert vecs.select("build_id").distinct().count() == 1
    assert vecs.count() == 400 + n


def test_media_job_end_to_end(spark, tmp_path):
    """jobs/media.py over a planted assets table: features for every
    payload, perceptual image+audio dedup keeps one representative per
    cluster, real video frames decode, junk degrades — one subprocess
    run, one JSON line."""
    import io
    import json
    import os
    import subprocess
    import sys
    import wave

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_curation import _encode_png
    from tests.test_round6 import _encode_jpeg

    rng = np.random.RandomState(29)
    px = rng.randint(0, 256, (24, 33, 3), dtype=np.uint8)
    png_a = _encode_png(px, [0] * 24)
    png_b = _encode_png(px, [2] * 24)          # same pixels -> dup of a
    jpg_a = _encode_jpeg(px, quality=95)       # same pixels, OTHER
    # container/codec -> still a dup of a (cross-format dhash space)
    png_c = _encode_png(
        rng.randint(0, 256, (24, 33, 3), dtype=np.uint8), [0] * 24
    )

    def wav_of(scale):
        n = 61 * 64
        t = np.arange(n)
        amps = np.repeat(2000.0 + 300.0 * rng.permutation(61), 64)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(
                (np.sin(2 * np.pi * 440 * t / 8000) * amps * scale)
                .astype("<i2").tobytes()
            )
        return buf.getvalue()

    state = rng.get_state()
    wav_a = wav_of(1.0)
    rng.set_state(state)                        # same amplitude profile
    wav_b = wav_of(0.5)                         # half volume -> dup of a
    wav_c = wav_of(1.0)                         # fresh profile (rng moved)

    frames = [rng.randint(0, 256, (4, 4, 3), dtype=np.uint8)
              for _ in range(3)]
    avi = _encode_avi(frames, fps=1)            # 3 frames @1fps
    avi_re = _encode_avi(frames, fps=2)         # re-encode -> dup of v1
    avi_clip = _encode_avi(frames[:2], fps=1)   # clip, id sorts BELOW v1
    # v3 shares the clip's 2 frames plus 2 unique ones: v0 is contained
    # in BOTH v1 and v3 (containment 1.0), but v1~v3 share only 2 of 3
    # (0.667 < 0.8 -> no pair). Containment is not transitive — CC
    # would chain {v0,v1,v2,v3} and discard v3's unique content; the
    # per-pair contained-side rule must keep both fulls.
    avi_other_full = _encode_avi(
        frames[:2]
        + [rng.randint(0, 256, (4, 4, 3), dtype=np.uint8)
           for _ in range(2)],
        fps=1,
    )

    rows = [
        ("i1", "image", png_a, 0),
        ("i2", "image", png_b, 0),
        ("i3", "image", png_c, 0),
        ("i4", "image", jpg_a, 0),
        ("a1", "audio", wav_a, 0),
        ("a2", "audio", wav_b, 0),
        ("a3", "audio", wav_c, 0),
        ("v0", "video", avi_clip, 1000),
        ("v1", "video", avi, 2000),
        ("v2", "video", avi_re, 1000),
        ("v3", "video", avi_other_full, 3000),
        ("x1", "image", b"junk bytes", 0),
    ]
    assets_path = str(tmp_path / "assets.parquet")
    pq.write_table(
        pa.table(
            {
                "asset_id": pa.array([r[0] for r in rows]),
                "kind": pa.array([r[1] for r in rows]),
                "payload": pa.array(
                    [r[2] for r in rows], pa.binary()
                ),
                "meta": pa.array(
                    [{"duration_ms": r[3]} for r in rows],
                    pa.struct([("duration_ms", pa.int32())]),
                ),
            }
        ),
        assets_path,
    )
    out = str(tmp_path / "media")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    res = subprocess.run(
        [sys.executable, "/root/repo/jobs/media.py",
         "--assets", assets_path, "--output", out, "--master", "local[4]",
         "--frame-every-ms", "1000"],
        capture_output=True, text=True, env=env, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["assets"] == 12 and summary["features"] == 12
    # {i1,i2,i4}: PNG re-encode AND the cross-codec JPEG all pair
    assert summary["image_pairs"] >= 3 and summary["audio_pairs"] >= 1
    assert summary["video_pairs"] >= 3           # v0v1, v0v2, v0v3, v1v2
    # v0: ts 0/1k, v1: ts 0/1k/2k, v2: 0/1k, v3: 0/1k/2k/3k
    assert summary["frames_decoded"] == 11

    kept = {r["asset_id"] for r in spark.read.parquet(f"{out}/kept").collect()}
    assert "i1" in kept and "i2" not in kept     # min-id representative
    assert "i4" not in kept                      # JPEG loses to the PNG rep
    assert "a1" in kept and "a2" not in kept
    # per-pair contained-side drops: the clip v0 loses to both fulls, the
    # re-encode v2 loses the equal-size tie to v1; v3 (unrelated full
    # that merely CONTAINS the same clip) must survive — CC over the
    # non-transitive containment pairs would have chained it away
    assert "v1" in kept and "v3" in kept
    assert "v2" not in kept and "v0" not in kept
    assert {"i3", "a3", "x1"} <= kept            # non-dups all survive


def test_video_near_dups_reencode_and_clip(spark):
    """Video-content dedup: a re-encoded copy (same frames, different
    container padding) pairs at containment 1.0; a CLIP cut from a
    longer video pairs at containment 1.0 on the clip side (the
    asymmetric class frame-set Jaccard would under-score); unrelated
    videos don't pair; byte-identical undecodable payloads pair; a
    decodable video never pairs with a pseudo-hash row."""
    from pdftableextractor_spark.operators.multimodal import (
        video_frame_hashes,
        video_near_dups,
    )

    rng = np.random.RandomState(31)
    frames = [
        np.repeat(
            np.repeat(rng.randint(0, 256, (6, 11, 3), dtype=np.uint8), 4,
                      axis=0), 4, axis=1,
        )
        for _ in range(6)
    ]
    full = _encode_avi(frames, fps=5)
    reenc = _encode_avi(frames, fps=10)       # same frames, new container
    clip = _encode_avi(frames[2:5], fps=5)    # 3-frame cut
    other = _encode_avi(
        [np.repeat(np.repeat(
            rng.randint(0, 256, (6, 11, 3), dtype=np.uint8), 4, axis=0),
            4, axis=1) for _ in range(4)],
        fps=5,
    )
    junk = b"definitely not a riff"
    assets = spark.createDataFrame(
        [
            ("full", "video", bytearray(full)),
            ("re", "video", bytearray(reenc)),
            ("clip", "video", bytearray(clip)),
            ("other", "video", bytearray(other)),
            ("j1", "video", bytearray(junk)),
            ("j2", "video", bytearray(junk)),
            ("im", "image", bytearray(full)),  # non-video excluded
        ],
        "asset_id string, kind string, payload binary",
    )
    sigs = video_frame_hashes(assets)
    per = {r[0]: r[1] for r in
           sigs.groupBy("asset_id").count().collect()}
    assert per["full"] == 6 and per["clip"] == 3 and per["j1"] == 1
    assert "im" not in per

    pairs = {
        tuple(sorted((r["asset_a"], r["asset_b"]))): r["containment"]
        for r in video_near_dups(assets, threshold=0.8).collect()
    }
    assert pairs[("full", "re")] == 1.0
    assert pairs[("clip", "full")] == 1.0
    assert pairs[("clip", "re")] == 1.0
    assert pairs[("j1", "j2")] == 1.0
    assert not any("other" in p for p in pairs), pairs
    assert len(pairs) == 4, pairs


def test_video_frame_hash_sampling_bounds_kernel_cost(spark):
    """hash_every_ms / max_frames bound the signature kernel to O(1)
    hashed frames per video instead of O(frames): a long synthetic video
    emits a bounded signature; a re-encode still pairs at 1.0 with
    sampling on (same frames + same fps → the same stride), and a
    stride-ALIGNED clip still pairs (the documented trade is about
    unaligned cut points)."""
    from pdftableextractor_spark.operators.multimodal import (
        video_frame_hashes,
        video_near_dups,
    )

    rng = np.random.RandomState(37)
    frames = [
        np.repeat(
            np.repeat(rng.randint(0, 256, (6, 11, 3), dtype=np.uint8), 4,
                      axis=0), 4, axis=1,
        )
        for _ in range(120)
    ]
    long = _encode_avi(frames, fps=10)           # 12 s, 120 frames
    long_re = _encode_avi(frames, fps=10)        # same frames, re-mux
    clip = _encode_avi(frames[:40], fps=10)      # prefix clip (aligned)
    assets = spark.createDataFrame(
        [
            ("long", "video", bytearray(long)),
            ("re", "video", bytearray(long_re)),
            ("clip", "video", bytearray(clip)),
        ],
        "asset_id string, kind string, payload binary",
    )
    # hash one frame per second: 120 frames -> 12 hashed; max_frames
    # tightens further
    per = {r[0]: r[1] for r in video_frame_hashes(
        assets, hash_every_ms=1000
    ).groupBy("asset_id").count().collect()}
    assert per["long"] <= 12 and per["clip"] <= 4, per
    per_cap = {r[0]: r[1] for r in video_frame_hashes(
        assets, max_frames=5
    ).groupBy("asset_id").count().collect()}
    assert all(v <= 5 for v in per_cap.values()), per_cap

    pairs = {
        tuple(sorted((r["asset_a"], r["asset_b"]))): r["containment"]
        for r in video_near_dups(
            assets, threshold=0.8, hash_every_ms=1000
        ).collect()
    }
    assert pairs[("long", "re")] == 1.0
    assert pairs[("clip", "long")] == 1.0
