"""Round-4 regressions: driver-window ordering, scale-shape fixes for
weighted_sample / pack_shards / the persisted IVF index, and the
General-Commentary raw_data contract (reference app.py:420-428)."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

DRIVER_WINDOW = 50  # the correctness driver verifies the first 50 entries

# queries that MUST be driver-verified this round: the reference-parity
# core the round-3 driver missed + every query whose engine code or oracle
# changed in round 4
PARITY_CORE = [
    "q31_column_union",
    "q32_star_join_agg",
    "q33_above_avg_balance",
    "q34_rollup",
    "q36_footnote_points",
    "q37_unified_points",
    "q38_unified_full",
    "q40_resize_plumbing",
    "q41_frame_sample",
    "q42_flatten_nested",
    # round-4 changed code/oracles
    "q51_pack_shards",
    "q60_weighted_sample",
    # round-4 new operators
    "q61_quality_gate",
    "q62_dup_spans",
    "q63_lm_score",
    "q64_containment",
    "q65_mask_spans",
    "q66_fuzzy_decontaminate",
]


def test_driver_window_contains_parity_core():
    import __spark_entry__ as entry

    qs = list(entry.queries().keys())
    window = set(qs[:DRIVER_WINDOW])
    missing = [k for k in PARITY_CORE if k not in window]
    assert not missing, f"parity-core queries outside driver window: {missing}"
    # EVERY non-tail query must fit the window — a new query added without
    # extending DRIVER_TAIL would silently ship driver-unverified
    head = [k for k in qs if k not in entry.DRIVER_TAIL]
    assert len(head) <= DRIVER_WINDOW, (
        f"{len(head)} head queries exceed the {DRIVER_WINDOW}-entry window"
    )
    assert qs[: len(head)] == head, "tail entries interleaved into the head"
    # tail entries must all have an oracle (they still run in preflight)
    oracles = entry.oracle_sql()
    assert set(qs) <= set(oracles)


def test_weighted_sample_global_is_top_k_not_window(spark):
    """The unstratified path must plan as TakeOrderedAndProject
    (per-partition heaps), never an empty-partitionBy window that drags the
    corpus through one task — and must return exactly the
    Efraimidis-Spirakis top-k."""
    from pdftableextractor_spark.operators.sampling import weighted_sample

    rows = [(f"d{i:04d}", float(1 + i % 7)) for i in range(500)]
    docs = spark.createDataFrame(rows, ["doc_id", "wt"])
    out = weighted_sample(docs, "wt", k=25, seed=11)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan

    # parity with the windowed formulation (the per-stratum code path)
    ref = weighted_sample(
        docs.withColumn("s", F.lit("all")), "wt", k=25, stratum_col="s",
        seed=11,
    ).drop("s")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in ref.collect()
    )


def test_pack_shards_distributed_cumsum_single_group(spark):
    """ONE group of 1e5 docs: the cumulative sum must run across multiple
    buckets (two-level prefix sum), not one task per group, and still equal
    the sequential greedy packing exactly."""
    from pdftableextractor_spark.operators.sampling import (
        _range_buckets,
        pack_shards,
    )

    docs = spark.range(100_000).select(
        F.format_string("d%07d", F.col("id")).alias("doc_id"),
        F.lit("onegroup").alias("source"),
        (100 + (F.col("id") * 37) % 400).cast("bigint").alias("n_tokens"),
    )
    out = pack_shards(docs, budget_tokens=50_000, num_buckets=8)

    plan = out._jdf.queryExecution().executedPlan().toString()
    # the local cumsum window partitions by (group, bucket) — >1 task even
    # for a single group — and the order-preserving bucketing (the lazy
    # helper pack_shards pins) is a range exchange
    assert "__bkt" in plan
    bkt_plan = (
        _range_buckets(docs, "source", "doc_id", 8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning" in bkt_plan.lower()

    got = {r["doc_id"]: r["shard_idx"] for r in out.collect()}
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    cum = pdf["n_tokens"].cumsum()
    expected = ((cum - pdf["n_tokens"]) // 50_000).astype(int)
    exp = dict(zip(pdf["doc_id"], expected))
    assert got == exp


def test_ivf_stamp_check_scans_only_probed_partitions(spark, tmp_path):
    """Corrupting the build stamp in a NON-probed cell must go unnoticed
    (proof the validation touches only the nprobe probed partitions);
    probing the corrupt cell must raise."""
    from pdftableextractor_spark.operators.similarity import (
        build_ivf_index,
        cosine_to_query_udf,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, k=4, iters=1)

    # rank cells exactly as the query path does; corrupt the LAST-ranked
    # non-empty cell so nprobe=1 never touches it
    cos = cosine_to_query_udf(q)
    ranked = [
        int(r["cell"])
        for r in spark.read.parquet(f"{idx}/centroids")
        .select("cell", cos(F.col("centroid")).alias("c"))
        .orderBy(F.desc("c"), F.asc("cell"))
        .collect()
    ]
    present = {
        int(os.path.basename(p).split("=", 1)[1])
        for p in os.listdir(f"{idx}/vectors")
        if p.startswith("cell=")
    }
    victim = next(c for c in reversed(ranked) if c in present)
    assert victim != ranked[0]
    vdir = f"{idx}/vectors/cell={victim}"
    pdf = pd.read_parquet(vdir)
    pdf["build_id"] = "corrupt"
    shutil.rmtree(vdir)
    os.makedirs(vdir)
    pdf.to_parquet(f"{vdir}/part-00000.parquet", index=False)

    # top-1 probe never reads the corrupt partition → succeeds
    got = ivf_topk_indexed(spark, idx, q, k=3, nprobe=1)
    assert got.count() >= 1
    # probing everything reads it → torn-build check trips
    with pytest.raises(ValueError, match="inconsistent"):
        ivf_topk_indexed(spark, idx, q, k=3, nprobe=len(ranked)).collect()


def test_ivf_build_id_sensitive_to_embedding_content(spark, tmp_path):
    """Re-embedding with identical vec_ids must change the build stamp —
    otherwise a torn rebuild over re-embedded vectors is undetectable."""
    from pdftableextractor_spark.operators.similarity import build_ivf_index

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_ivf_index(emb, a, k=4, iters=1)
    re_emb = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    build_ivf_index(re_emb, b, k=4, iters=1)
    ba = spark.read.parquet(f"{a}/centroids").select("build_id").first()[0]
    bb = spark.read.parquet(f"{b}/centroids").select("build_id").first()[0]
    assert ba != bb


def test_q38_raw_data_null_for_general_commentary(spark):
    """The reference's General Commentary dict (app.py:420-428) has no
    raw_data key; every LLM-path row builds '{field}: {value}'
    (structured_llm_processor.py:405,420,435). src_rank-4 rows must emit
    NULL, everything else the literal match key."""
    import __spark_entry__ as entry

    df = entry.queries()["q38_unified_full"](spark, "/root/testdata/sf0.001")
    agg = df.select(
        F.sum(
            (
                (F.col("type") == "General Commentary")
                & F.col("raw_data").isNotNull()
            ).cast("int")
        ).alias("bad_general"),
        F.sum(
            (
                (F.col("type") != "General Commentary")
                & F.col("raw_data").isNull()
            ).cast("int")
        ).alias("bad_other"),
        F.sum(
            (F.col("type") == "General Commentary").cast("int")
        ).alias("n_general"),
    ).collect()[0]
    assert agg["bad_general"] == 0
    assert agg["bad_other"] == 0
    assert agg["n_general"] > 0


def test_asof_join_salted_matches_unsalted_hot_key(spark):
    """A planted hot key (90% of left rows on one key): salt=8 must return
    row-identical results to the unsalted plan while the window stage
    partitions on (key, __salt) — the hot key spreads over >1 task."""
    from pdftableextractor_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("hot" if i % 10 else f"cold{i}", i * 10 + 5) for i in range(400)],
        ["k", "ts"],
    )
    right = spark.createDataFrame(
        [
            ("hot" if i % 4 else f"cold{i * 10}", i * 37 % 4000, f"p{i}")
            for i in range(120)
        ],
        ["k", "ts", "payload"],
    )
    plain = asof_join(left, right, on="k")
    salted = asof_join(left, right, on="k", salt=8)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan
    assert "hashpartitioning(k" in plan and "__salt" in plan.split(
        "hashpartitioning(k", 1
    )[1][:60]


def _png_chunks(ihdr_fields, extra_chunks, scanline_bytes):
    """Assemble a PNG from raw (already-filtered) scanline bytes."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", *ihdr_fields)
    )
    for typ, data in extra_chunks:
        out += chunk(typ, data)
    out += chunk(b"IDAT", zlib.compress(bytes(scanline_bytes)))
    return out + chunk(b"IEND", b"")


def test_png_palette_decode():
    """8-bit palette (color type 3): PLTE lookup yields RGB pixels; an
    out-of-range index raises (degrades to stub via _decode_one)."""
    import numpy as np

    from pdftableextractor_spark.operators.multimodal import (
        _decode_one,
        decode_png,
        decode_stub,
    )

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])  # 4 entries
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + row.tobytes() for row in idx)
    png = _png_chunks((4, 2, 8, 3, 0, 0, 0), [(b"PLTE", pal)], raw)
    got = decode_png(png)
    exp = np.frombuffer(pal, dtype=np.uint8).reshape(4, 3)[idx]
    assert got.shape == (2, 4, 3)
    assert (got == exp).all()

    # hostile: index 9 with a 4-entry palette → ValueError → stub fallback
    bad_raw = b"\x00" + bytes([0, 9, 1, 2]) + b"\x00" + bytes([0, 0, 0, 0])
    bad = _png_chunks((4, 2, 8, 3, 0, 0, 0), [(b"PLTE", pal)], bad_raw)
    with pytest.raises(ValueError, match="palette index"):
        decode_png(bad)
    assert (_decode_one(bad, "image") == decode_stub(bad, "image")).all()
    # palette without PLTE → ValueError
    noplte = _png_chunks((4, 2, 8, 3, 0, 0, 0), [], raw)
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(noplte)


def test_png_sub_byte_palette_and_grey():
    """2-bit palette indices and 4-bit greyscale unpack MSB-first; grey
    rescales to the full 8-bit range."""
    import numpy as np

    from pdftableextractor_spark.operators.multimodal import decode_png

    # 2-bit palette, w=5 → ceil(5*2/8)=2 bytes/row: indices 0,1,2,3,1
    pal = bytes([1, 2, 3, 40, 50, 60, 70, 80, 90, 200, 210, 220])
    row = bytes([0b00011011, 0b01000000])
    png = _png_chunks((5, 1, 2, 3, 0, 0, 0), [(b"PLTE", pal)], b"\x00" + row)
    got = decode_png(png)
    exp = np.frombuffer(pal, dtype=np.uint8).reshape(4, 3)[
        np.array([0, 1, 2, 3, 1])
    ][None, :]
    assert (got == exp).all()

    # 4-bit grey, w=3 → 2 bytes/row: values 0,15,5 → 0,255,85
    row = bytes([0x0F, 0x50])
    png = _png_chunks((3, 1, 4, 0, 0, 0, 0), [], b"\x00" + row)
    got = decode_png(png)
    assert got.shape == (1, 3, 1)
    assert got.reshape(-1).tolist() == [0, 255, 85]


def test_png_16bit_downsample_with_filters():
    """16-bit RGB: high byte survives the downsample, and the Sub filter's
    left-offset is bpp=6 BYTES (not pixels) — a round-trip through filter 1
    must reproduce the high bytes exactly."""
    import numpy as np

    from pdftableextractor_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(7)
    px16 = rng.randint(0, 65536, size=(3, 4, 3), dtype=np.uint16)
    be = px16.byteswap().view(np.uint8).reshape(3, 4 * 3 * 2)  # big-endian rows
    bpp = 6
    raw = bytearray()
    prev = np.zeros(be.shape[1], dtype=np.int32)
    for y, flt in enumerate([0, 1, 2]):
        line = be[y].astype(np.int32)
        raw.append(flt)
        for i in range(len(line)):
            left = int(line[i - bpp]) if i >= bpp else 0
            v = (
                line[i]
                if flt == 0
                else line[i] - left
                if flt == 1
                else line[i] - int(prev[i])
            )
            raw.append(v & 0xFF)
        prev = line
    png = _png_chunks((4, 3, 16, 2, 0, 0, 0), [], raw)
    got = decode_png(png)
    assert got.shape == (3, 4, 3)
    assert (got == (px16 >> 8).astype(np.uint8)).all()


def test_png_grey_alpha_decode():
    """Color type 4 (grey+alpha, 8-bit): two channels come through."""
    import numpy as np

    from pdftableextractor_spark.operators.multimodal import decode_png

    px = np.array(
        [[[10, 200], [20, 190]], [[30, 180], [40, 170]]], dtype=np.uint8
    )
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(2))
    got = decode_png(_png_chunks((2, 2, 8, 4, 0, 0, 0), [], raw))
    assert got.shape == (2, 2, 2)
    assert (got == px).all()


def test_drop_bottom_percentile_threshold_and_ties(spark):
    """Nearest-rank semantics: bottom frac dropped per stratum, ALL ties at
    the threshold survive, and the corpus side joins the thresholds by
    broadcast (never shuffles)."""
    from pdftableextractor_spark.operators.textstats import (
        drop_bottom_percentile,
    )

    rows = (
        [(f"a{i}", "s1", float(i)) for i in range(10)]  # scores 0..9
        # s2: 4 rows at score 1 (tie block), 6 above
        + [(f"b{i}", "s2", 1.0) for i in range(4)]
        + [(f"c{i}", "s2", float(5 + i)) for i in range(6)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "source", "quality"])
    out = drop_bottom_percentile(docs, 0.3, "quality", "source")
    got = {r["doc_id"] for r in out.collect()}
    # s1: drop scores 0,1,2 (30% of 10) -> keep 3..9
    assert {f"a{i}" for i in range(10)} & got == {f"a{i}" for i in range(3, 10)}
    # s2: threshold lands ON the tie block (cum 4 > 3) -> ALL four survive
    assert {f"b{i}" for i in range(4)} <= got
    assert {f"c{i}" for i in range(6)} <= got

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_drop_bottom_percentile_null_stratum_and_absence(spark):
    """NULL strata are a real stratum (null-safe join), gated against
    their own histogram; rows whose stratum has NO threshold (all-NULL
    scores, or frac=1.0's empty threshold frame) pass un-gated instead of
    silently vanishing; NULL scores drop when a real threshold exists."""
    from pdftableextractor_spark.operators.textstats import (
        drop_bottom_percentile,
    )

    rows = (
        [(f"n{i}", None, float(i)) for i in range(10)]  # NULL stratum
        + [("x0", "s1", None), ("x1", "s1", 5.0), ("x2", "s1", 9.0)]
        + [("y0", "s2", None), ("y1", "s2", None)]  # all-NULL scores
    )
    docs = spark.createDataFrame(
        rows, "doc_id string, source string, quality double"
    )
    got = {
        r["doc_id"]
        for r in drop_bottom_percentile(
            docs, 0.3, "quality", "source"
        ).collect()
    }
    # NULL stratum gates like any other: drop scores 0,1,2 of its 10
    assert {f"n{i}" for i in range(10)} & got == {
        f"n{i}" for i in range(3, 10)
    }
    # s1 has a real threshold -> the NULL score drops, reals gate normally
    assert "x0" not in got and "x2" in got
    # s2's scores are all NULL -> no threshold -> rows pass un-gated
    assert {"y0", "y1"} <= got
    # frac=1.0: strict rank inequality admits no threshold -> all pass
    all_ids = {r["doc_id"] for r in docs.collect()}
    kept = {
        r["doc_id"]
        for r in drop_bottom_percentile(
            docs, 1.0, "quality", "source"
        ).collect()
    }
    assert kept == all_ids


def test_duplicate_ngram_spans_hand_example(spark):
    """Exact span positions for a planted shared 3-gram; unique text never
    reported; within-doc-only repetition is excluded by min_docs."""
    from pdftableextractor_spark.operators.dedup import duplicate_ngram_spans

    docs = spark.createDataFrame(
        [
            ("d1", "all rights reserved for ever"),
            ("d2", "text body then all rights reserved"),
            ("d3", "totally unique content here indeed"),
            ("d4", "echo echo echo echo echo"),  # repeats only within d4
        ],
        ["doc_id", "text"],
    )
    out = duplicate_ngram_spans(docs, n=3, min_docs=2).collect()
    spans = {(r["doc_id"], r["start_pos"], r["gram"]) for r in out}
    assert spans == {
        ("d1", 0, "all rights reserved"),
        ("d2", 3, "all rights reserved"),
    }
    assert all(r["n_docs"] == 2 for r in out)


def test_bigram_transition_score_hand_math(spark):
    """Tiny corpus scored by hand: P(w2|w1) = (B+1)/(C+V), mean per doc,
    exact-integer rounding."""
    from pdftableextractor_spark.operators.textstats import (
        bigram_transition_score,
    )

    docs = spark.createDataFrame(
        [("d1", "a b a b"), ("d2", "a b c"), ("d3", "x")],
        ["doc_id", "text"],
    )
    # bigrams: d1: (a,b),(b,a),(a,b); d2: (a,b),(b,c). V = {a,b,c,x} = 4
    # B(a,b)=3, B(b,a)=1, B(b,c)=1; C(a)=3, C(b)=2
    # P(a,b) = 4/7; P(b,a) = 2/6; P(b,c) = 2/6
    out = {r["doc_id"]: r for r in bigram_transition_score(docs).collect()}
    assert set(out) == {"d1", "d2"}  # d3 has no bigram
    p_ab = round(4 / 7, 9)
    p_ba = p_bc = round(2 / 6, 9)
    d1 = round((2 * p_ab + p_ba) / 3, 6)
    d2 = round((p_ab + p_bc) / 2, 6)
    assert out["d1"]["n_bigrams"] == 3 and out["d1"]["lm_score"] == d1
    assert out["d2"]["n_bigrams"] == 2 and out["d2"]["lm_score"] == d2


def test_png_16bit_greyscale_decode():
    """ctype 0 / depth 16 was advertised but rejected (round-4 review):
    high-byte downsample must work for greyscale too."""
    import numpy as np

    from pdftableextractor_spark.operators.multimodal import decode_png

    px16 = np.array([[1000, 65535, 0], [256, 511, 40000]], dtype=np.uint16)
    be = px16.byteswap().view(np.uint8).reshape(2, 6)
    raw = b"".join(b"\x00" + be[y].tobytes() for y in range(2))
    got = decode_png(_png_chunks((3, 2, 16, 0, 0, 0, 0), [], raw))
    assert got.shape == (2, 3, 1)
    assert (got[:, :, 0] == (px16 >> 8).astype(np.uint8)).all()


def test_png_sub_byte_pixel_bound():
    """A 1-bit PNG whose FILTERED bytes fit the cap but whose pixel count
    exceeds it must be rejected before the 8x unpack allocation."""
    import struct

    from pdftableextractor_spark.operators.multimodal import (
        PNG_AREA_MAX,
        decode_png,
    )

    w, h = PNG_AREA_MAX, 2  # 2*(w/8 + 1) bytes ≈ 16 MiB, but 2w pixels
    ihdr = struct.pack(">IIBBBBB", w, h, 1, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00" * 4
    )
    with pytest.raises(ValueError, match="exceed the decode bound"):
        decode_png(png)


def test_png_bound_covers_palette_and_unpack_intermediates():
    """The 64 MiB cap must bound the PEAK allocation, not just the
    filtered scanlines: a palette PNG expands indices to h*w*3 RGB bytes,
    and a depth-4 image's unpackbits intermediate is ~4x the pixel count.
    Both hostile headers fit the old pixel/byte checks yet exceed the cap
    at their true peak — they must raise before any large allocation."""
    import struct

    from pdftableextractor_spark.operators.multimodal import (
        PNG_AREA_MAX,
        decode_png,
    )

    def header_only(w, h, depth, ctype, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00" * 4
        )
        if plte is not None:
            png += struct.pack(">I", len(plte)) + b"PLTE" + plte + b"\x00" * 4
        return png

    # palette: h*w = 25M pixels <= cap, but the RGB expansion is 75M > cap
    with pytest.raises(ValueError, match="exceed the decode bound"):
        decode_png(header_only(5000, 5000, 8, 3, plte=b"\x00" * 9))
    # depth-4 grey: h*w = 50M <= cap, unpackbits intermediate ~200M > cap
    with pytest.raises(ValueError, match="exceed the decode bound"):
        decode_png(header_only(10000, 5000, 4, 0))
    # sanity: a small palette image of the same shapes still decodes
    raw = b"".join(b"\x00" + bytes([0, 1]) for _ in range(2))
    got = decode_png(_png_chunks((2, 2, 8, 3, 0, 0, 0),
                                 [(b"PLTE", bytes(range(6)))], raw))
    assert got.shape == (2, 2, 3)


def test_containment_pairs_finds_what_jaccard_misses(spark):
    """A short doc quoted whole inside a long one: containment 1.0 but
    Jaccard far below any practical threshold — containment_pairs must
    report it, minhash_near_dups at the same nominal threshold must not."""
    from pdftableextractor_spark.operators.dedup import (
        containment_pairs,
        minhash_near_dups,
    )

    small = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"w{i} token{i * 7 % 97} body{i}" for i in range(120))
    docs = spark.createDataFrame(
        [
            ("d1", small),
            ("d2", filler + " " + small + " " + filler.upper()),
            ("d3", "completely unrelated content with other words entirely"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert ("d1", "d2") in got
    r = got[("d1", "d2")]
    assert r["containment"] == 1.0 and r["inter"] == r["size_a"]
    assert all(k == ("d1", "d2") for k in got)

    mh = minhash_near_dups(docs, n=3, threshold=0.8).collect()
    assert not any(
        {p["doc_a"], p["doc_b"]} == {"d1", "d2"} for p in mh
    ), "jaccard should miss the contained pair at 0.8"


def test_containment_prefix_filter_is_lossless(spark):
    """Prefix-filter candidates must reproduce the exact all-pairs result
    on a corpus with many partial overlaps (threshold sweep)."""
    from itertools import combinations

    from pdftableextractor_spark.operators.dedup import containment_pairs

    base_words = [f"tok{i}" for i in range(30)]
    rows = []
    for d in range(12):
        # overlapping sliding windows of a shared vocabulary + unique tail
        words = base_words[d : d + 12] + [f"u{d}_{j}" for j in range(d % 4)]
        rows.append((f"d{d:02d}", " ".join(words)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def shingle_set(text, n=3):
        t = text.lower().split()
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    for thr in (0.3, 0.6, 0.9):
        sets = {d: shingle_set(t) for d, t in rows}
        exp = set()
        for a, b in combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            mn = min(len(sets[a]), len(sets[b]))
            if mn and inter * 1_000_000 >= int(thr * 1_000_000) * mn:
                exp.add((a, b, inter))
        got = {
            (r["doc_a"], r["doc_b"], r["inter"])
            for r in containment_pairs(docs, n=3, threshold=thr).collect()
        }
        assert got == exp, f"thr={thr}: {got ^ exp}"


def test_containment_counts_past_int_range(spark):
    """A pair sharing more than 2,147 shingles: the integer threshold
    compare (inter·10^6) must run in bigint, not overflow an int (an ANSI
    arithmetic error)."""
    from pdftableextractor_spark.operators.dedup import containment_pairs

    text = " ".join(f"w{i}" for i in range(2300))
    docs = spark.createDataFrame(
        [("a", text), ("b", text + " tail"), ("c", "other words here")],
        ["doc_id", "text"],
    )
    got = [
        tuple(r)
        for r in containment_pairs(docs, n=3, threshold=0.9).collect()
    ]
    assert got == [("a", "b", 2298, 2298, 2299, 1.0)], got


def test_containment_trailing_whitespace_and_exact_rounding(spark):
    """Round-4 review regressions: (a) a trailing newline must not create a
    phantom empty-token shingle (engine must agree with the oracle's
    empty-filtered tokenization); (b) the containment column must use
    exact-integer HALF_UP rounding — 323/640 rounds to 0.504688 in Spark's
    double round but 0.504687 in DuckDB's."""
    import duckdb

    from pdftableextractor_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            ("d1", "foo bar baz\n"),
            ("d2", "intro words foo bar baz outro words here"),
        ],
        ["doc_id", "text"],
    )
    r = containment_pairs(docs, n=3, threshold=0.5).collect()
    assert len(r) == 1
    row = r[0]
    # 'foo bar baz\n' = exactly one trigram -> size_a 1, containment 1.0
    assert row["size_a"] == 1 and row["containment"] == 1.0

    # exact rounding: engine value must equal DuckDB's HUGEINT HALF_UP
    eng = (2 * 323 * 1_000_000 + 640) // (2 * 640) / 1_000_000
    duck = duckdb.sql(
        "SELECT CAST((CAST(2*323 AS HUGEINT)*1000000 + 640) // (2*640) "
        "AS DOUBLE)/1000000.0"
    ).fetchone()[0]
    assert eng == duck == 0.504688


def test_mask_duplicate_spans_hand_example(spark):
    """Shared 3-gram removed from both docs (census is case-insensitive);
    overlapping coverage unions; fully-duplicated docs come back empty
    rather than vanishing; surviving tokens keep ORIGINAL case (uppercase
    PII tags included) — round-4 review regression."""
    from pdftableextractor_spark.operators.dedup import mask_duplicate_spans

    docs = spark.createDataFrame(
        [
            ("d1", "Keep1 all rights reserved KEEP2 <EMAIL>"),
            ("d2", "pre All Rights Reserved post words"),
            ("d3", "all rights reserved"),   # fully covered
            ("d4", "Unique TEXT stays whole here <URL>"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in mask_duplicate_spans(docs, n=3, min_docs=2).collect()
    }
    assert out["d1"]["clean_text"] == "Keep1 KEEP2 <EMAIL>"
    assert out["d1"]["n_removed"] == 3
    assert out["d2"]["clean_text"] == "pre post words"
    assert out["d3"]["clean_text"] == "" and out["d3"]["n_removed"] == 3
    assert out["d4"]["clean_text"] == "Unique TEXT stays whole here <URL>"
    assert out["d4"]["n_removed"] == 0


def _assert_greedy_packing(rows, budget):
    """Sorted by doc_id, each row starts in the shard its first token
    lands in."""
    cum = 0
    for d, t, idx in sorted(rows):
        assert idx == cum // budget, f"{d}: {idx} != {cum // budget}"
        cum += t


def test_pack_shards_checkpoint_with_nondeterministic_lineage(spark):
    """An unseeded sample() input packs exactly: the pinned bucketed frame
    is the one materialization both branches read."""
    from pdftableextractor_spark.operators.sampling import pack_shards

    docs = (
        spark.range(5_000)
        .select(
            F.format_string("d%05d", F.col("id")).alias("doc_id"),
            F.lit("g").alias("source"),
            (50 + (F.col("id") * 13) % 200).cast("bigint").alias("n_tokens"),
        )
        .sample(0.5)  # unseeded — lineage nondeterministic by design
    )
    out = pack_shards(docs, budget_tokens=9_000, num_buckets=6).collect()
    _assert_greedy_packing(
        [(r["doc_id"], r["n_tokens"], r["shard_idx"]) for r in out], 9_000
    )


def test_pack_shards_auto_checkpoints_nondeterministic_lineage(spark):
    """Every input is pinned, whatever its lineage — a nondeterministic
    expression (rand), an un-ordered limit, a sample, a round-robin or a
    hash repartition — and each packs exactly."""
    from pdftableextractor_spark.operators.sampling import pack_shards

    base = spark.range(500).select(
        F.format_string("d%04d", F.col("id")).alias("doc_id"),
        F.lit("g").alias("source"),
        (50 + (F.col("id") * 13) % 200).cast("bigint").alias("n_tokens"),
    )
    for inp in (
        base.withColumn("r", F.rand()).filter(F.col("r") >= -1).drop("r"),
        base.limit(400),
        base.sample(0.9),
        base.repartition(3),
        base.repartition(3, "doc_id"),
    ):
        out = pack_shards(inp, budget_tokens=9_000, num_buckets=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan, "bucketed frame not pinned"
        _assert_greedy_packing(
            [(r["doc_id"], r["n_tokens"], r["shard_idx"])
             for r in out.collect()],
            9_000,
        )


def test_pack_shards_wide_input_keeps_every_row(spark):
    """A column the totals branch prunes used to split the bucketed
    lineage into two range exchanges with separately sampled bounds, which
    mis-sharded or dropped rows. 100k rows in one group with a
    non-constant payload column must equal the sequential greedy packing,
    every row kept."""
    from pdftableextractor_spark.operators.sampling import pack_shards

    docs = spark.range(100_000).select(
        F.format_string("d%07d", F.col("id")).alias("doc_id"),
        F.lit("onegroup").alias("source"),
        (100 + (F.col("id") * 37) % 400).cast("bigint").alias("n_tokens"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    # collect whole rows: the main branch must carry the payload
    got = [
        (r["doc_id"], r["n_tokens"], r["shard_idx"])
        for r in pack_shards(
            docs, budget_tokens=50_000, num_buckets=8
        ).collect()
    ]
    assert len(got) == 100_000
    _assert_greedy_packing(got, 50_000)


def test_fuzzy_decontaminate_graded_vs_exact(spark):
    """A doc sharing ONE trigram with a benchmark doc survives the fuzzy
    rule (exact rule would kill it) but a near-verbatim copy is dropped;
    docs with no overlap are untouched."""
    from pdftableextractor_spark.operators.dedup import (
        fuzzy_decontaminate,
        ngram_decontaminate,
    )

    bench = spark.createDataFrame(
        [("b1", "what is the capital of france paris obviously")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            # near-verbatim contamination (light edit at the end)
            ("t1", "what is the capital of france paris indeed"),
            # shares only the trigram 'the capital of' in passing
            ("t2", "discussion about the capital of markets and flows"),
            ("t3", "no overlap at all in this document"),
        ],
        ["doc_id", "text"],
    )
    fuzzy = {
        r["doc_id"]
        for r in fuzzy_decontaminate(docs, bench, n=3, threshold=0.6).collect()
    }
    assert fuzzy == {"t2", "t3"}
    exact = {
        r["doc_id"]
        for r in ngram_decontaminate(docs, bench, n=3).collect()
    }
    assert exact == {"t3"}, "exact rule kills any shared trigram"


def _make_wav(nch=2, sw=2, fr=8000, nframes=800):
    """Synthesize a deterministic PCM WAV via the stdlib writer. 8-bit WAV
    is offset-128 unsigned (the helper applies the offset); wider widths
    are signed little-endian."""
    import io
    import wave

    import numpy as np

    t = np.arange(nframes)
    sig = (np.sin(2 * np.pi * 440 * t / fr) * 0.5 * (2 ** (8 * sw - 1) - 1))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(sw)
        w.setframerate(fr)
        frames = bytearray()
        for v in sig.astype(np.int64):
            raw = int(v) + 128 if sw == 1 else int(v)
            for _ in range(nch):
                frames += raw.to_bytes(sw, "little", signed=(sw != 1))
        w.writeframes(bytes(frames))
    return buf.getvalue(), sig


def test_wav_decode_real_samples():
    """decode_wav reproduces the written PCM samples for 16-bit stereo and
    8-bit mono; audio_features are in [0,1] and reflect the signal."""
    import numpy as np

    from pdftableextractor_spark.operators.multimodal import (
        audio_features,
        decode_wav,
    )

    payload, sig = _make_wav(nch=2, sw=2, fr=8000, nframes=800)
    got, fr = decode_wav(payload)
    assert fr == 8000 and got.shape == (800, 2)
    exp = sig.astype(np.int64).astype(np.float32) / 32768.0
    assert np.allclose(got[:, 0], exp, atol=1e-6)
    assert np.allclose(got[:, 1], exp, atol=1e-6)

    # width matrix through the same helper: 8-bit offset-128 and 32-bit
    p8, s8 = _make_wav(nch=1, sw=1, fr=4000, nframes=64)
    g8, _ = decode_wav(p8)
    assert np.allclose(
        g8[:, 0], s8.astype(np.int64).astype(np.float32) / 128.0, atol=1e-6
    )
    p32, s32 = _make_wav(nch=1, sw=4, fr=4000, nframes=64)
    g32, _ = decode_wav(p32)
    assert np.allclose(
        g32[:, 0],
        s32.astype(np.int64).astype(np.float32) / 2147483648.0,
        atol=1e-9,
    )

    feats = audio_features(got, fr)
    assert feats.shape == (8,) and all(0.0 <= f <= 1.0 for f in feats)
    # a 0.5-amplitude sine has rms ~0.35 and nonzero zero-crossing rate
    assert 0.2 < feats[1] < 0.5 and feats[3] > 0.05

    # 8-bit mono path
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(4000)
        w.writeframes(bytes([128, 255, 0, 128]))
    got8, _ = decode_wav(buf.getvalue())
    assert np.allclose(
        got8[:, 0], [(128 - 128) / 128, 127 / 128, -1.0, 0.0], atol=1e-6
    )


def test_wav_hostile_header_bounded_and_kernel_route(spark):
    """A WAV header claiming 2^31 frames must be rejected BEFORE any
    allocation; through the Arrow kernel a real WAV featurizes from
    genuine samples while a non-RIFF audio payload keeps the stub."""
    import struct

    import numpy as np
    import pytest as _pytest

    from pdftableextractor_spark.operators.multimodal import (
        audio_features,
        decode_stub,
        decode_wav,
        extract_features,
    )

    payload, _ = _make_wav()
    # forge the nframes in the data-chunk size field of a minimal header
    hostile = bytearray(payload)
    # wave stores nframes via data chunk length; rewrite it huge
    idx = bytes(hostile).find(b"data") + 4
    hostile[idx : idx + 4] = struct.pack("<I", 0xFFFFFFF0)
    with _pytest.raises(ValueError, match="decode bound"):
        decode_wav(bytes(hostile))

    assets = spark.createDataFrame(
        [
            ("a1", "audio", bytearray(payload)),
            ("a2", "audio", bytearray(b"not riff at all")),
        ],
        "asset_id string, kind string, payload binary",
    )
    feats = {
        r["asset_id"]: np.array(r["feat"], dtype=np.float32)
        for r in extract_features(assets).collect()
    }
    sig, fr = decode_wav(payload)
    assert np.allclose(feats["a1"], audio_features(sig, fr), atol=1e-6)
    assert np.allclose(
        feats["a2"], decode_stub(b"not riff at all", "audio"), atol=1e-6
    )


def test_wav_zero_frames_finite_features():
    """A structurally valid 0-frame WAV must produce finite (all-zero)
    features, never NaN (empty-array means)."""
    import io
    import wave

    import numpy as np

    from pdftableextractor_spark.operators.multimodal import (
        audio_features,
        decode_wav,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"")
    sig, fr = decode_wav(buf.getvalue())
    assert sig.shape == (0, 1)
    feats = audio_features(sig, fr)
    assert np.isfinite(feats).all() and (feats == 0).all()
