"""Round-6 additions: IVF refit trigger (cell-balance drift check +
in-place rebuild), per VERDICT.md round-5 'Next round' #8."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _clustered_embeddings(spark, n_per_cluster=60, centers=((10.0, 0.0, 0.0), (0.0, 10.0, 0.0), (0.0, 0.0, 10.0), (0.0, 0.0, -10.0))):
    """Deterministic well-separated clusters (seeded offsets via md5-free
    arithmetic — no RNG)."""
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for j in range(n_per_cluster):
            # small deterministic jitter, different per row
            d = [
                c[a] + 0.01 * ((vid * 7 + a * 3) % 11 - 5)
                for a in range(3)
            ]
            rows.append((vid, d))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    )


def test_ivf_drift_check_flags_and_rebuild_restores(spark, tmp_path):
    """The append-only cadence's refit trigger: build a balanced index,
    append drifted batches that pile into one cell until the check
    flags, rebuild over the current corpus, balance restored and the
    stamps stay torn-rebuild-safe (queries keep working)."""
    from pdftableextractor_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_drift_report,
        ivf_topk_indexed_batch,
    )

    base = _clustered_embeddings(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(base, idx, k=4, iters=3)

    r0 = ivf_drift_report(spark, idx, max_over_median=4.0)
    assert r0["k"] == 4
    assert r0["total_vectors"] == 240
    assert not r0["needs_rebuild"], r0
    assert r0["max_over_median"] < 4.0

    # drift: a new mass near ONE existing center — every appended vector
    # lands in that center's cell, cell balance degrades monotonically
    drift_rows = [
        (1000 + i, [10.0 + 0.001 * i, 0.05, -0.05]) for i in range(900)
    ]
    drifted = spark.createDataFrame(
        drift_rows, "vec_id int, embedding array<double>"
    )
    n = append_to_ivf_index(spark, drifted, idx)
    assert n == 900

    r1 = ivf_drift_report(spark, idx, max_over_median=4.0)
    assert r1["needs_rebuild"], r1
    assert r1["max_cell"] >= 900
    assert r1["build_id"] == r0["build_id"]  # append keeps the stamp

    # rebuild over the CURRENT corpus (base + drifted) restores balance.
    # k grows with the corpus (the realistic refit: the old k=4 fit
    # cannot balance a 900-vs-60 mass no matter where centroids land —
    # rebalancing drift means re-PICKING k, not just re-fitting it)
    current = base.unionByName(drifted)
    build_ivf_index(current, idx, k=8, iters=3)
    r2 = ivf_drift_report(spark, idx, max_over_median=4.0)
    assert r2["max_over_median"] < r1["max_over_median"], (r1, r2)
    assert not r2["needs_rebuild"], r2
    # cell stats contract: one row per centroid, zero-count cells kept
    assert r2["k"] == 8
    assert r2["total_vectors"] == 240 + 900
    assert r2["build_id"] != r1["build_id"]  # refit = new content stamp

    # stamps stay sound across the refit: the consistency-checked query
    # path works and finds an appended-then-refit vector exactly
    out = ivf_topk_indexed_batch(
        spark,
        drifted.filter(F.col("vec_id") == 1000).select(
            F.col("vec_id").alias("qid"), "embedding"
        ),
        idx,
        k=1,
        nprobe=4,
    ).collect()
    assert out and out[0]["vec_id"] == 1000 and out[0]["cos"] == 1.0


def test_ivf_drift_report_degenerate_median(spark, tmp_path):
    """All mass in a minority of cells → median 0 while vectors exist:
    the ratio degrades to inf and the check flags, rather than dividing
    by zero or silently passing."""
    from pdftableextractor_spark.operators.similarity import (
        build_ivf_index,
        ivf_drift_report,
    )

    # one tight blob, k=4: k-means over near-identical points leaves
    # most cells empty
    rows = [(i, [5.0 + 1e-9 * i, 5.0, 5.0]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    idx = str(tmp_path / "ivf_degen")
    build_ivf_index(emb, idx, k=4, iters=2)
    r = ivf_drift_report(spark, idx, max_over_median=4.0)
    if r["median_cell"] == 0:
        assert math.isinf(r["max_over_median"])
        assert r["needs_rebuild"]
    else:
        # fit managed to split the blob — still a valid report
        assert r["total_vectors"] == 100


def test_ann_job_check_mode_end_to_end(spark, tmp_path):
    """jobs/ann.py check: flags drift, and with --rebuild refits in
    place from --input; prints one valid JSON line with pre/post
    reports."""
    from pdftableextractor_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
    )
    from pdftableextractor_spark.sources.tables import write_table

    base = _clustered_embeddings(spark)
    idx = str(tmp_path / "ivf_job")
    build_ivf_index(base, idx, k=4, iters=3)
    drifted = spark.createDataFrame(
        [(2000 + i, [10.0, 0.001 * i, 0.0]) for i in range(700)],
        "vec_id int, embedding array<double>",
    )
    append_to_ivf_index(spark, drifted, idx)

    # the rebuild corpus, in the layout the job expects
    corpus_dir = str(tmp_path / "corpus")
    write_table(
        base.unionByName(drifted), f"{corpus_dir}/embeddings.parquet"
    )

    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "ann.py"),
            "check",
            "--index", idx,
            "--max-over-median", "4",
            "--rebuild",
            "--input", corpus_dir,
            "--k", "8",
            "--iters", "3",
            "--master", "local[4]",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [
        ln for ln in out.stdout.splitlines() if ln.startswith("{")
    ][-1]
    rep = json.loads(line)
    assert rep["cmd"] == "check"
    assert rep["rebuilt"] is True
    assert rep["pre_rebuild"]["needs_rebuild"] is True
    assert rep["needs_rebuild"] is False
    assert rep["total_vectors"] == 240 + 700


# ---------------------------------------------------------------------------
# Baseline-JPEG decode (VERDICT r5 'Next round' #7)
# ---------------------------------------------------------------------------

import numpy as np


def _png_of(px):
    """Minimal filter-0 PNG encoder (test-side; decode_png is the DUT)."""
    import struct
    import zlib

    h, w, ch = px.shape
    ctype = {1: 0, 3: 2, 4: 6}[ch]

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# Annex-K base quantization tables (natural row/col order)
_QT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)
_QT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.float64,
)


class _JpegBW:
    """Bit writer with JPEG byte stuffing (0xFF → 0xFF 0x00)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.write(1, 1)  # pad with 1-bits (spec)


def _encode_jpeg(px, quality=90, subsample=1, restart_every=0):
    """Minimal in-test baseline-JPEG encoder: Annex-K quality-scaled
    quant tables, simple VALID canonical Huffman tables (12 DC symbols
    at 4 bits, all 162 AC symbols at 8 bits — correctness, not
    compression), 4:4:4 or 4:2:0, optional restart intervals. The
    decoder under test is the package's decode_jpeg."""
    import struct

    from pdftableextractor_spark.operators.multimodal import (
        _DCT_BASIS,
        _JPEG_ZZ,
    )

    h, w, nch = px.shape
    gray = nch == 1
    zz_r = np.array([r for r, _ in _JPEG_ZZ])
    zz_c = np.array([c for _, c in _JPEG_ZZ])

    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    qts = [
        np.clip(np.floor((t * scale + 50) / 100), 1, 255)
        for t in (_QT_LUMA, _QT_CHROMA)
    ]

    # canonical huffman: DC symbols 0..11 at 4 bits; AC all 162 at 8 bits
    dc_counts = [0, 0, 0, 12] + [0] * 12
    dc_syms = list(range(12))
    dc_map = {s: (s, 4) for s in dc_syms}
    ac_syms = (
        [0x00]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]
        + [0xF0]
    )
    ac_counts = [0] * 7 + [162] + [0] * 8
    ac_map = {s: (i, 8) for i, s in enumerate(ac_syms)}

    if gray:
        planes = [px[:, :, 0].astype(np.float64)]
        samp = [(1, 1)]
        tqs = [0]
    else:
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample == 2:
            he, we = -(-h // 2) * 2, -(-w // 2) * 2
            cbp = np.pad(cb, ((0, he - h), (0, we - w)), mode="edge")
            crp = np.pad(cr, ((0, he - h), (0, we - w)), mode="edge")
            cb = cbp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        tqs = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # per-component zigzag quantized blocks, indexed (block_row, block_col)
    qblocks = []
    for pl, (sh, sv), tq in zip(planes, samp, tqs):
        bw_, bh_ = mcus_x * sh, mcus_y * sv
        pl = np.pad(
            pl,
            ((0, bh_ * 8 - pl.shape[0]), (0, bw_ * 8 - pl.shape[1])),
            mode="edge",
        )
        blocks = pl.reshape(bh_, 8, bw_, 8).transpose(0, 2, 1, 3) - 128.0
        coeff = np.matmul(
            _DCT_BASIS, np.matmul(blocks, _DCT_BASIS.T)
        )
        qc = np.round(coeff / qts[tq]).astype(np.int64)
        qblocks.append(qc[..., zz_r, zz_c])  # (bh, bw, 64)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    for tq, t in enumerate(qts[: 1 if gray else 2]):
        zzt = bytes(int(t[zr, zc]) for zr, zc in zip(zz_r, zz_c))
        out += seg(0xDB, bytes([tq]) + zzt)
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        sof += bytes([i + 1, (samp[i][0] << 4) | samp[i][1], tqs[i]])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(dc_syms))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms))
    if restart_every:
        out += seg(0xDD, struct.pack(">H", restart_every))
    sos = bytes([nc])
    for i in range(nc):
        sos += bytes([i + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)

    def emit_block(bw, qz, pred):
        diff = int(qz[0]) - pred
        size = abs(diff).bit_length()
        code, ln = dc_map[size]
        bw.write(code, ln)
        if size:
            bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)
        last_nz = 0
        for i in range(63, 0, -1):
            if qz[i]:
                last_nz = i
                break
        run = 0
        for k in range(1, last_nz + 1):
            v = int(qz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, l = ac_map[0xF0]
                bw.write(c, l)
                run -= 16
            size = abs(v).bit_length()
            c, l = ac_map[(run << 4) | size]
            bw.write(c, l)
            bw.write(v if v > 0 else v + (1 << size) - 1, size)
            run = 0
        if last_nz < 63:
            c, l = ac_map[0x00]
            bw.write(c, l)
        return int(qz[0])

    bw = _JpegBW()
    preds = [0] * nc
    rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_every and m and m % restart_every == 0:
            bw.flush()
            out += bw.buf
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            bw = _JpegBW()
            preds = [0] * nc
        my, mx = divmod(m, mcus_x)
        for ci in range(nc):
            sh, sv = samp[ci]
            for by in range(sv):
                for bx in range(sh):
                    preds[ci] = emit_block(
                        bw,
                        qblocks[ci][my * sv + by, mx * sh + bx],
                        preds[ci],
                    )
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _cell_image(offset=0, h=48, w=66):
    """Grayscale-ish RGB image laid out on the dhash 6x11 cell grid with
    all horizontally-adjacent cell means ≥90 apart — dhash bits are far
    from any decision boundary, so codec noise cannot flip them."""
    vals = np.zeros((6, 11))
    for i in range(6):
        for j in range(11):
            vals[i, j] = 40 + 18 * ((i * 7 + j * 5 + offset) % 12)
    px = np.repeat(np.repeat(vals, h // 6, axis=0), w // 11, axis=1)
    return np.stack([px, px, px], axis=2).astype(np.uint8)


def test_jpeg_round_trip_and_variants():
    """decode_jpeg reproduces encoder pixels within quantization noise
    for 4:4:4, 4:2:0, grayscale, and restart-interval streams; the
    restart stream decodes IDENTICALLY to its non-restart twin (same
    coefficients, different packetization)."""
    from pdftableextractor_spark.operators.multimodal import decode_jpeg

    px = _cell_image()
    dec = decode_jpeg(_encode_jpeg(px, quality=92))
    assert dec.shape == px.shape
    err = np.abs(dec.astype(int) - px.astype(int))
    assert err.mean() < 6 and err.max() < 60, (err.mean(), err.max())

    dec420 = decode_jpeg(_encode_jpeg(px, quality=85, subsample=2))
    assert dec420.shape == px.shape
    assert np.abs(dec420.astype(int) - px.astype(int)).mean() < 10

    g = px[:, :, :1].copy()
    decg = decode_jpeg(_encode_jpeg(g, quality=92))
    assert decg.shape == g.shape
    assert np.abs(decg.astype(int) - g.astype(int)).mean() < 6

    plain = decode_jpeg(_encode_jpeg(px, quality=85))
    rst = decode_jpeg(_encode_jpeg(px, quality=85, restart_every=2))
    assert (plain == rst).all()

    # T.81 B.1.1.2: markers may be preceded by 0xFF fill bytes — a
    # spec-legal padded stream decodes identically to its plain twin
    enc = _encode_jpeg(px, quality=85)
    padded = enc[:2] + b"\xff\xff" + enc[2:]          # fill before APP/DQT
    sof = enc.index(b"\xff\xc0")
    padded2 = enc[:sof] + b"\xff\xff\xff" + enc[sof:]  # fill before SOF0
    assert (decode_jpeg(padded) == plain).all()
    assert (decode_jpeg(padded2) == plain).all()


def test_jpeg_hostile_and_unsupported_bounded():
    """Honest boundaries and attacker-controlled headers: progressive
    raises NotImplementedError BEFORE any allocation, forged SOF
    dimensions trip the allocation bound, truncated entropy data
    raises instead of returning garbage."""
    import struct

    import pytest as _pytest

    from pdftableextractor_spark.operators.multimodal import (
        JPEG_AREA_MAX,
        decode_jpeg,
    )

    px = _cell_image()
    enc = _encode_jpeg(px, quality=90)

    sof = enc.index(b"\xff\xc0")
    prog = enc[:sof] + b"\xff\xc2" + enc[sof + 2 :]
    with _pytest.raises(NotImplementedError):
        decode_jpeg(prog)

    forged = bytearray(enc)
    # SOF0 body: marker(2) + len(2) + prec(1), then h:u16 w:u16
    forged[sof + 5 : sof + 9] = struct.pack(">HH", 60000, 60000)
    with _pytest.raises(ValueError, match="exceed the decode bound"):
        decode_jpeg(bytes(forged))
    assert 60000 * 60000 * 3 > JPEG_AREA_MAX  # the forged dims are hostile

    with _pytest.raises(ValueError):
        decode_jpeg(enc[: len(enc) - max(20, len(enc) // 4)])


def test_jpeg_phash_cross_format_perceptual_pairing(spark):
    """The r5 verdict's #1 'What's missing': re-encoded JPEGs pair
    PERCEPTUALLY (not exact-only), including across quality levels,
    chroma subsampling, and across CONTAINERS (PNG vs JPEG of the same
    pixels); progressive degrades honestly to the pseudo-hash path."""
    from pdftableextractor_spark.operators.multimodal import (
        image_near_dups,
        image_phashes,
    )

    px = _cell_image()
    other = _cell_image(offset=6)
    enc = _encode_jpeg(px, quality=90)
    sof = enc.index(b"\xff\xc0")
    progressive = enc[:sof] + b"\xff\xc2" + enc[sof + 2 :]
    rows = [
        ("png_a", "image", bytearray(_png_of(px))),
        ("jpg_a90", "image", bytearray(enc)),
        ("jpg_a75_420", "image", bytearray(_encode_jpeg(px, quality=75, subsample=2))),
        ("jpg_other", "image", bytearray(_encode_jpeg(other, quality=90))),
        ("jpg_prog", "image", bytearray(progressive)),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id string, kind string, payload binary"
    )
    ph = {r["asset_id"]: r for r in image_phashes(assets).collect()}
    assert ph["png_a"]["real"] and ph["jpg_a90"]["real"]
    assert ph["jpg_a75_420"]["real"] and ph["jpg_other"]["real"]
    assert not ph["jpg_prog"]["real"]  # honest degrade, no false claim

    pairs = {
        (r["asset_a"], r["asset_b"])
        for r in image_near_dups(assets).collect()
    }
    same = {"png_a", "jpg_a90", "jpg_a75_420"}
    expected = {
        (a, b) for a in same for b in same if a < b
    }
    assert expected <= pairs, (expected - pairs, pairs)
    flat = {a for p in pairs for a in p}
    assert "jpg_other" not in flat and "jpg_prog" not in flat


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) binary near-dup — the byte-level dedup
# class the perceptual suites don't cover (re-upload with a patched
# header, appended EULA, truncated transfer), format-agnostic.
# ---------------------------------------------------------------------------

import hashlib as _hl


def _pseudo_bytes(tag: str, n: int) -> bytes:
    """Deterministic pseudo-random bytes: chained sha256, no RNG."""
    out, block = bytearray(), _hl.sha256(tag.encode()).digest()
    while len(out) < n:
        out.extend(block)
        block = _hl.sha256(block).digest()
    return bytes(out[:n])


def _naive_cdc_boundaries(data, avg_bits=13, min_size=None, max_size=None):
    """Per-byte reference for the vectorized gear kernel: h_i =
    (2*h_{i-1} + g(b_i)) mod 2^64, boundary where top avg_bits bits are
    zero, with the same skip-ahead / forced-cut loop."""
    from pdftableextractor_spark.operators.multimodal import _CDC_GEAR

    n = len(data)
    if n == 0:
        return []
    if min_size is None:
        min_size = max(1, 1 << max(0, avg_bits - 2))
    if max_size is None:
        max_size = 1 << (avg_bits + 2)
    mask = ((1 << avg_bits) - 1) << (64 - avg_bits)
    h, cand = 0, []
    for i, byte in enumerate(data):
        h = ((h << 1) + int(_CDC_GEAR[byte])) & ((1 << 64) - 1)
        if (h & mask) == 0:
            cand.append(i)
    ends, start = [], 0
    for p in cand:
        end = p + 1
        if end - start < min_size:
            continue
        while end - start > max_size:
            start += max_size
            ends.append(start)
        if end > start:
            ends.append(end)
            start = end
    while n - start > max_size:
        start += max_size
        ends.append(start)
    if start < n:
        ends.append(n)
    return ends


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"a",
        b"hello world " * 3,
        _pseudo_bytes("x", 1000),
        _pseudo_bytes("y", 5000),
        bytes(2000),            # all-zeros: every position a candidate or none
        bytes(range(256)) * 20,
    ],
    ids=["empty", "one", "short", "rand1k", "rand5k", "zeros", "cycle"],
)
@pytest.mark.parametrize("kw", [{}, {"min_size": 1, "max_size": 1 << 30},
                                {"avg_bits": 5}, {"avg_bits": 6}],
                         ids=["default", "nolimits", "b5", "b6"])
def test_cdc_boundaries_match_naive_reference(payload, kw):
    from pdftableextractor_spark.operators.multimodal import cdc_boundaries

    got = cdc_boundaries(payload, **kw)
    assert got == _naive_cdc_boundaries(payload, **kw)
    n = len(payload)
    if n == 0:
        assert got == []
        return
    assert got[-1] == n
    assert all(a < b for a, b in zip(got, got[1:]))
    max_size = kw.get("max_size") or 1 << (kw.get("avg_bits", 13) + 2)
    sizes = [e - s for s, e in zip([0] + got[:-1], got)]
    assert all(1 <= sz <= max_size for sz in sizes)


def test_cdc_edit_resync():
    """The reason for CONTENT-defined (not fixed-size) blocking: a
    1-byte insertion mid-payload changes O(1) chunks, because the gear
    hash depends only on the trailing 64 bytes so boundaries
    re-synchronize within one chunk of the edit."""
    from pdftableextractor_spark.operators.multimodal import cdc_boundaries

    base = _pseudo_bytes("resync", 8000)
    edited = base[:4000] + b"Z" + base[4000:]

    def chunk_set(data):
        out, s = set(), 0
        for e in cdc_boundaries(data, avg_bits=6):
            out.add(_hl.sha256(data[s:e]).hexdigest())
            s = e
        return out

    sb, se = chunk_set(base), chunk_set(edited)
    assert len(sb) > 50
    # all but a handful of chunks survive the edit — fixed-size blocking
    # would lose every block after offset 4000
    assert len(sb & se) >= len(sb) - 3
    assert len(se - sb) <= 3


def test_binary_near_dups_classes(spark):
    """Byte-level dup classes: an identical re-upload pairs at 1.0; an
    APPENDED-suffix copy pairs (only the final chunk differs); a
    TRUNCATED transfer pairs with high containment on the short side
    (the asymmetric class Jaccard under-scores); unrelated payloads
    don't pair; NULL and empty payloads carry the single empty-chunk
    signature, so byte-identical empties pair exactly (and with nothing
    else). Small payloads → explicit small avg_bits (the production
    default targets 8 KiB chunks)."""
    from pdftableextractor_spark.operators.multimodal import (
        binary_near_dups,
        cdc_chunk_hashes,
    )

    base = _pseudo_bytes("doc", 4000)
    assets = spark.createDataFrame(
        [
            ("orig", "video", bytearray(base)),
            ("reup", "image", bytearray(base)),          # kind-agnostic
            ("appended", "audio", bytearray(base + b"standard EULA text " * 4)),
            ("trunc", "video", bytearray(base[:2500])),
            ("other", "video", bytearray(_pseudo_bytes("unrelated", 4000))),
            ("nullp", "video", None),
            ("emptyp", "image", bytearray(b"")),
        ],
        "asset_id string, kind string, payload binary",
    )
    sigs = cdc_chunk_hashes(assets, avg_bits=6)
    per = {r[0]: r[1] for r in sigs.groupBy("asset_id").count().collect()}
    assert per["nullp"] == 1 and per["emptyp"] == 1   # the empty chunk
    assert per["orig"] == per["reup"] > 30

    pairs = {
        tuple(sorted((r["asset_a"], r["asset_b"]))): r["containment"]
        for r in binary_near_dups(assets, threshold=0.8, avg_bits=6).collect()
    }
    assert pairs[("orig", "reup")] == 1.0
    assert pairs[("appended", "orig")] >= 0.9
    assert pairs[("orig", "trunc")] >= 0.9
    # empties pair with each other (byte-identical) and with nothing else
    assert pairs[("emptyp", "nullp")] == 1.0
    assert not any(
        ("other" in p)
        or (("nullp" in p or "emptyp" in p) and p != ("emptyp", "nullp"))
        for p in pairs
    ), pairs

    # the production default really is KB-scale: one chunk for a small
    # payload instead of dozens
    assert (
        cdc_chunk_hashes(assets).groupBy("asset_id").count().collect()
        and {
            r[0]: r[1]
            for r in cdc_chunk_hashes(assets)
            .groupBy("asset_id")
            .count()
            .collect()
        }["orig"]
        <= 3
    )


def test_binary_near_dups_stop_chunk_rule(spark):
    """A chunk hash in more than max_chunk_df assets (shared header /
    license boilerplate) is excluded BEFORE sizes are counted, so
    'shared only boilerplate' pairs disappear and the equi-join's
    per-key fan-out stays bounded."""
    from pdftableextractor_spark.operators.multimodal import binary_near_dups

    header = _pseudo_bytes("common-header", 600)
    rows = [
        (f"a{i}", "video", bytearray(header + _pseudo_bytes(f"u{i}", 3000)))
        for i in range(8)
    ]
    assets = spark.createDataFrame(
        rows, "asset_id string, kind string, payload binary"
    )
    # header chunks appear in 8 assets; unique tails share nothing
    uncapped = binary_near_dups(
        assets, threshold=0.10, avg_bits=6, max_chunk_df=1000
    )
    capped = binary_near_dups(
        assets, threshold=0.10, avg_bits=6, max_chunk_df=4
    )
    assert uncapped.count() > 0          # boilerplate alone crosses 10%
    assert capped.count() == 0           # stop-chunk rule kills it


# ---------------------------------------------------------------------------
# distributed BPE tokenizer — learned subword vocabulary + Arrow encoder
# ---------------------------------------------------------------------------

import re as _re


def _ref_bpe_train(word_counts, n_merges):
    """Independent reference: Sennrich's original formulation — words as
    space-joined symbol strings, merges applied via regex sub with
    whitespace-boundary lookarounds."""
    from pdftableextractor_spark.operators.tokenize import EOW

    vocab = {" ".join(list(w) + [EOW]): c for w, c in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for word, c in vocab.items():
            sym = word.split(" ")
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (a, b), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < 2:
            break
        merges.append((a, b))
        patt = _re.compile(
            r"(?<!\S)" + _re.escape(a + " " + b) + r"(?!\S)"
        )
        vocab = {patt.sub(a + b, word): c for word, c in vocab.items()}
    return merges


def _ref_bpe_encode(text, merges):
    from pdftableextractor_spark.operators.tokenize import EOW
    from pdftableextractor_spark.operators.textstats import TOKEN_RE

    out = []
    for w in _re.findall(TOKEN_RE, text or ""):
        word = " ".join(list(w) + [EOW])
        for a, b in merges:
            patt = _re.compile(
                r"(?<!\S)" + _re.escape(a + " " + b) + r"(?!\S)"
            )
            word = patt.sub(a + b, word)
        out.extend(word.split(" "))
    return out


_BPE_CORPUS = [
    ("d1", "the quick brown fox jumps over the lazy dog"),
    ("d2", "the lazy dog sleeps while the quick fox runs"),
    ("d3", "lower lowest newest widest newer wider"),
    ("d4", "low low low lower lower newest newest newest newest"),
    ("d5", "unrelated zymurgy qoph! 12345 12345 mix-9"),
    ("d6", ""),
    ("d7", None),
]


def test_bpe_training_matches_sennrich_reference():
    from pdftableextractor_spark.operators.tokenize import (
        train_bpe_from_counts,
    )

    wc = {}
    for _, t in _BPE_CORPUS:
        for w in _re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", t or ""):
            wc[w] = wc.get(w, 0) + 1
    counts = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    for n in (1, 5, 20, 200):
        assert train_bpe_from_counts(counts, n) == _ref_bpe_train(counts, n)


def test_bpe_train_and_encode_distributed(spark):
    """Spark-trained merges == reference merges on the same corpus;
    Spark-encoded tokens == reference encoding per document; encoding is
    lossless on the word stream; results are partitioning-invariant."""
    from pdftableextractor_spark.operators.tokenize import (
        EOW,
        bpe_encode,
        train_bpe,
    )
    from pdftableextractor_spark.operators.textstats import TOKEN_RE

    docs = spark.createDataFrame(_BPE_CORPUS, "doc_id string, text string")
    merges = train_bpe(docs, n_merges=40)

    wc = {}
    for _, t in _BPE_CORPUS:
        for w in _re.findall(TOKEN_RE, t or ""):
            wc[w] = wc.get(w, 0) + 1
    counts = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    assert merges == _ref_bpe_train(counts, 40)
    assert len(merges) > 10  # the corpus supports real merges

    enc = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    for did, text in _BPE_CORPUS:
        expect = _ref_bpe_encode(text, merges)
        assert enc[did]["tokens"] == expect, did
        assert enc[did]["n_tokens"] == len(expect)
        # lossless: tokens rejoin to the pre-tokenized word stream
        words = _re.findall(TOKEN_RE, text or "")
        assert "".join(enc[did]["tokens"]) == "".join(
            w + EOW for w in words
        )

    enc7 = {
        r["doc_id"]: r["tokens"]
        for r in bpe_encode(docs.repartition(7), merges).collect()
    }
    assert enc7 == {k: v["tokens"] for k, v in enc.items()}


def test_bpe_encode_unseen_chars_fall_back_to_chars(spark):
    from pdftableextractor_spark.operators.tokenize import (
        EOW,
        bpe_encode,
        train_bpe,
    )

    train = spark.createDataFrame(
        [("a", "hello hello hello world world")], "doc_id string, text string"
    )
    merges = train_bpe(train, n_merges=20)
    probe = spark.createDataFrame(
        [("q", "hello zzz")], "doc_id string, text string"
    )
    toks = bpe_encode(probe, merges).collect()[0]["tokens"]
    assert "hello" + EOW in toks          # fully merged known word
    i = toks.index("hello" + EOW)
    assert toks[i + 1 :] == ["z", "z", "z", EOW]  # unseen stays chars


def test_bpe_reserved_sentinel_normalizes_to_space(spark):
    """A literal U+2581 in corpus text is the RESERVED end-of-word
    marker: pre-tokenization normalizes it to a space in train AND
    encode, so 'a▁b' and 'a b' are identical everywhere — no
    misapplied end-of-word merges, no decode corruption."""
    from pdftableextractor_spark.operators.tokenize import (
        EOW,
        bpe_encode,
        train_bpe,
    )

    plain = spark.createDataFrame(
        [("a", "lower lower lowest lowest")], "doc_id string, text string"
    )
    littered = spark.createDataFrame(
        [("a", f"lower{EOW}lower{EOW}lowest{EOW}lowest")],
        "doc_id string, text string",
    )
    m_plain = train_bpe(plain, n_merges=20)
    m_littered = train_bpe(littered, n_merges=20)
    assert m_plain == m_littered

    probe = spark.createDataFrame(
        [("q1", f"low{EOW}low"), ("q2", "low low")],
        "doc_id string, text string",
    )
    enc = {
        r["doc_id"]: r["tokens"]
        for r in bpe_encode(probe, m_plain).collect()
    }
    assert enc["q1"] == enc["q2"]
    # decode contract holds on the normalized stream
    assert "".join(enc["q1"]).replace(EOW, " ").strip() == "low low"


def test_bpe_hapax_pairs_not_memorized():
    from pdftableextractor_spark.operators.tokenize import (
        train_bpe_from_counts,
    )

    # every word unique: all pair frequencies are 1 -> zero merges
    counts = [("abcdef", 1), ("ghijkl", 1), ("mnopqr", 1)]
    assert train_bpe_from_counts(counts, 100) == []


def test_tokenize_job_end_to_end(tmp_path):
    """jobs/bpe.py: train+encode over sf0.001 documents, then the
    frozen-vocab cadence (--merges) reproduces identical tokens without
    retraining — one subprocess per run, one JSON line each."""
    import pyarrow.parquet as pq

    out1 = str(tmp_path / "tok_train")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    res = subprocess.run(
        [sys.executable, "/root/repo/jobs/bpe.py",
         "--input", "/root/testdata/sf0.001", "--output", out1,
         "--n-merges", "200", "--master", "local[4]"],
        capture_output=True, text=True, env=env, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    s1 = json.loads(res.stdout.strip().splitlines()[-1])
    # the hapax floor (freq >= 2) may stop before the requested budget
    assert s1["trained"] and 50 < s1["n_merges"] <= 200
    assert s1["docs"] == 500 and s1["total_tokens"] > 0

    out2 = str(tmp_path / "tok_frozen")
    res2 = subprocess.run(
        [sys.executable, "/root/repo/jobs/bpe.py",
         "--input", "/root/testdata/sf0.001", "--output", out2,
         "--merges", f"{out1}/merges.json", "--master", "local[4]"],
        capture_output=True, text=True, env=env, timeout=420,
    )
    assert res2.returncode == 0, res2.stderr[-2000:]
    s2 = json.loads(res2.stdout.strip().splitlines()[-1])
    assert not s2["trained"]
    assert s2["total_tokens"] == s1["total_tokens"]

    t1 = pq.read_table(f"{out1}/tokens").to_pylist()
    t2 = pq.read_table(f"{out2}/tokens").to_pylist()
    key = lambda r: r["doc_id"]
    assert sorted(t1, key=key) == sorted(t2, key=key)
    # learned vocabulary actually compresses: fewer BPE tokens than chars
    chars = sum(len(r["tokens"]) and sum(map(len, r["tokens"])) for r in t1)
    assert s1["total_tokens"] < chars


# ---------------------------------------------------------------------------
# HTML main-content extraction (north-star DOM tag/density heuristics):
# Kohlschütter densometric classifier over raw HTML, JVM-only plan
# ---------------------------------------------------------------------------

_HTML_PAGE = (
    '<html><head><title>T</title></head><body>'
    '<nav><a href="#">Home</a> | <a href="#">About</a> | '
    '<a href="#">Contact</a></nav>'
    '<h1>A real article headline here</h1>'
    '<p>This is the first paragraph of genuine article content and it '
    'carries well over sixteen words so the classifier must keep it as '
    'main content for sure.</p>'
    '<p>Short follow-up.</p>'
    '<p>Another long paragraph of real content follows here with enough '
    'words to stand on its own independent of the neighbours in the '
    'block sequence of this page.</p>'
    '<div><a href="#">share</a> <a href="#">tweet</a> '
    '<a href="#">pin</a></div>'
    '<footer><a href="#">Privacy &amp; Terms</a> \xa9 2026 Example '
    'Corp</footer></body></html>'
)


def test_html_main_content_boilerpipe_rules(spark):
    """Nav/share/footer blocks drop on link density; the headline keeps
    via next_numWords; the short paragraph sandwiched between long
    content keeps via prev_numWords — the three densometric rules."""
    from pdftableextractor_spark.operators.html import (
        extract_main_text,
        html_main_content,
    )

    docs = spark.createDataFrame(
        [("d1", _HTML_PAGE)], "doc_id string, html string"
    )
    rows = {r["block_no"]: r for r in html_main_content(docs).collect()}
    assert len(rows) == 8
    assert not rows[0]["keep"]            # title: 1 word, short neighbors
    assert not rows[1]["keep"]            # nav: link density 16/22 > 1/3
    assert rows[2]["keep"]                # headline: next block is long
    assert rows[3]["keep"] and rows[5]["keep"]    # long paragraphs
    assert rows[4]["keep"]                # short para: prev_numWords > 4
    assert not rows[6]["keep"]            # share bar
    assert not rows[7]["keep"]            # footer
    assert rows[7]["text"] == "Privacy & Terms \xa9 2026 Example Corp"
    assert rows[7]["link_chars"] == len("Privacy & Terms")

    main = extract_main_text(docs).collect()[0]["text"]
    assert main.startswith("A real article headline here This is the")
    assert "Privacy" not in main and "share" not in main


def test_html_entity_decode_is_single_pass(spark):
    """'&amp;lt;' must decode to the literal text '&lt;', never '<' —
    the &amp;-last ordering prevents double decoding."""
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.html import strip_html_col

    df = spark.createDataFrame(
        [("<p>a &amp;lt; b &nbsp; c&#39;d</p>",)], "h string"
    ).select(strip_html_col(F.col("h")).alias("t"))
    assert df.collect()[0]["t"] == "a &lt; b c'd"


def test_html_blocks_edges(spark):
    """Empty html, tag-only html, and a single-block page (no
    neighbors: both pad as empty blocks)."""
    from pdftableextractor_spark.operators.html import html_main_content

    docs = spark.createDataFrame(
        [
            ("e1", ""),
            ("e2", "<div></div><p>   </p>"),
            ("e3", "<p>one tiny block</p>"),
            ("e4", "<p>a single block that is long enough on its own to "
                   "pass the seventeen word floor with room to spare "
                   "today</p>"),
        ],
        "doc_id string, html string",
    )
    out = {r["doc_id"]: r for r in html_main_content(docs).collect()}
    assert "e1" not in out and "e2" not in out
    assert not out["e3"]["keep"]          # 3 words, empty neighbors
    assert out["e4"]["keep"]              # curr_numWords > 16 alone


def test_html_script_style_comment_never_classify_as_content(spark):
    """Script/style bodies and comments are stripped BEFORE block
    segmentation — word-rich JS must not reach the classifier (it has
    link_density 0 and would otherwise keep as content). An unterminated
    script is the documented malformed-input degrade: content survives."""
    from pdftableextractor_spark.operators.html import (
        extract_main_text,
        html_main_content,
    )

    body = (
        "<p>a real paragraph that is long enough on its own to pass "
        "the seventeen word floor with plenty of room to spare</p>"
    )
    docs = spark.createDataFrame(
        [
            (
                "d1",
                "<script>var a = 'lots and lots of plain words that "
                "would sail far past every word floor in the decision "
                "tree if counted';</script>"
                "<style>body { margin: 0; } .nav a { color: red; }</style>"
                "<!-- a comment with many words that also must never "
                "count toward anything at all here -->" + body,
            ),
            # multiple scripts + attributes + newlines inside one doc
            (
                "d2",
                '<script type="text/javascript">\nx = 1;\n</script>'
                + body
                + "<SCRIPT>y = 2;</SCRIPT>",
            ),
        ],
        "doc_id string, html string",
    )
    blocks = html_main_content(docs).collect()
    texts = " ".join(r["text"] for r in blocks)
    assert "var a" not in texts and "margin" not in texts
    assert "comment" not in texts and "y = 2" not in texts
    out = {r["doc_id"]: r["text"] for r in extract_main_text(docs).collect()}
    assert out["d1"].startswith("a real paragraph")
    assert out["d2"] == out["d1"]


def test_html_main_content_plan_is_jvm_only(spark):
    from pdftableextractor_spark.operators.html import html_main_content

    docs = spark.createDataFrame(
        [("d", _HTML_PAGE)], "doc_id string, html string"
    )
    plan = (
        html_main_content(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "BatchEval" not in plan


def test_curate_funnel_html_and_tokenize_end_to_end(tmp_path):
    """The widened funnel as one subprocess: --html-extract strips the
    synthesized boilerplate wrapper before curation, --tokenize trains
    a BPE vocabulary on the CURATED corpus and --shard-by-bpe packs the
    shards in learned tokens. Boilerplate words must not survive into
    clean/, merges.json must exist, and every output row carries
    bpe_n_tokens."""
    import duckdb
    import pyarrow.parquet as pq

    corpus_dir = tmp_path / "html_corpus"
    corpus_dir.mkdir()
    duckdb.sql(f"""
        COPY (
          SELECT doc_id,
                 '<html><body><nav><a href="#">Home</a> | '
                 || '<a href="#">About</a> | <a href="#">Contact</a>'
                 || '</nav><p>'
                 || regexp_replace(text, '([.!?]) ', '\\1</p><p>', 'g')
                 || '</p><footer><a href="#">Privacy</a> BOILERFOOT'
                 || '</footer></body></html>' AS text,
                 lang, source, n_chars
          FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
          WHERE doc_id % 5 = 0
        ) TO '{corpus_dir}/documents.parquet' (FORMAT PARQUET)
    """)

    out = str(tmp_path / "curated")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    res = subprocess.run(
        [sys.executable, "/root/repo/jobs/curate.py",
         "--input", str(corpus_dir), "--output", out,
         "--html-extract", "--tokenize", "150", "--shard-by-bpe",
         "--min-quality", "0", "--max-rep", "1",
         "--shard-tokens", "2000", "--master", "local[4]"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["input_docs"] == 100
    assert 0 < summary["after_html_extract"] <= 100
    assert summary["bpe_merges"] > 20
    assert summary["shards"] >= 2

    rows = pq.read_table(f"{out}/clean").to_pylist()
    assert rows
    # every doc that survives the last gate is written
    assert len(rows) == summary["after_lang"]
    assert all("bpe_n_tokens" in r and r["bpe_n_tokens"] > 0 for r in rows)
    joined = " ".join(r["text"] for r in rows)
    # the boilerplate wrapper died in stage 0
    assert "BOILERFOOT" not in joined and "Home | About" not in joined
    assert os.path.exists(f"{out}/merges.json")
    with open(f"{out}/merges.json") as fh:
        merges = json.load(fh)
    assert len(merges) == summary["bpe_merges"]


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023 data selection)
# ---------------------------------------------------------------------------


def test_dsir_weights_rank_target_like_docs_higher(spark):
    from pdftableextractor_spark.operators.sampling import dsir_weights

    # target vocabulary is disjoint from raw vocabulary, so a held-out
    # doc written in target words must outscore one written in raw words
    rows = (
        [(str(i), "alpha beta gamma delta epsilon zeta", True) for i in range(20)]
        + [(str(100 + i), "one two three four five six", False) for i in range(20)]
        + [("900", "alpha beta gamma delta", None)]  # target-like probe
        + [("901", "one two three four", None)]  # raw-like probe
        + [("902", "", None)]  # no grams
        + [("903", "   ", None)]  # whitespace only
    )
    docs = spark.createDataFrame(
        [(i, t, bool(i) if f is None else f) for i, t, f in rows],
        "doc_id string, text string, is_target boolean",
    )
    # target flag: the labeled rows only; probes score but don't train
    out = dsir_weights(
        docs,
        F.col("is_target") & F.col("doc_id").cast("int").between(0, 199),
        n_buckets=512,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == len(rows)  # every doc scored, including empties
    assert got["902"]["n_grams"] == 0 and got["902"]["dsir_weight"] == 0.0
    assert got["903"]["n_grams"] == 0 and got["903"]["dsir_weight"] == 0.0
    assert got["900"]["dsir_weight"] > got["901"]["dsir_weight"]
    # target words are over-represented in target docs: positive LLR sum
    assert got["900"]["dsir_weight"] > 0.0
    assert got["901"]["dsir_weight"] < 0.0
    # unigrams + bigrams: 4 tokens -> 4 + 3 grams
    assert got["900"]["n_grams"] == 7


def test_dsir_weights_plan_shape(spark):
    from pdftableextractor_spark.operators.sampling import dsir_weights

    docs = spark.createDataFrame(
        [("1", "a b c", True), ("2", "d e f", False)],
        "doc_id string, text string, t boolean",
    )
    out = dsir_weights(docs, F.col("t"), n_buckets=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the B-row model joins the gram stream broadcast, never shuffled
    assert "BroadcastHashJoin" in plan
    # pure relational: no Python UDF evaluation anywhere in the plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_dsir_weights_validates_buckets(spark):
    from pdftableextractor_spark.operators.sampling import dsir_weights

    docs = spark.createDataFrame(
        [("1", "a", True)], "doc_id string, text string, t boolean"
    )
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_weights(docs, F.col("t"), n_buckets=1)


def test_dsir_resample_prefers_target_like_docs(spark):
    from pdftableextractor_spark.operators.sampling import dsir_resample

    # 30 labeled target docs + 30 labeled raw docs with disjoint
    # vocabulary, then 40 unlabeled probes of each style; a sharp
    # (low-temperature) resample of the probes must be dominated by
    # target-style rows
    rows = []
    for i in range(30):
        rows.append((f"t{i}", "alpha beta gamma delta epsilon", "lab_t"))
        rows.append((f"r{i}", "one two three four five", "lab_r"))
    for i in range(40):
        rows.append((f"pt{i}", "alpha beta gamma delta epsilon", "probe_t"))
        rows.append((f"pr{i}", "one two three four five", "probe_r"))
    docs = spark.createDataFrame(
        rows, "doc_id string, text string, grp string"
    )
    out = dsir_resample(
        docs, F.col("grp") == "lab_t", k=20, temperature=0.25, n_buckets=512
    )
    got = out.collect()
    assert len(got) == 20
    assert {"doc_id", "text", "grp", "dsir_weight"} <= set(out.columns)
    kinds = [r["grp"] for r in got]
    # at T=0.25 the weight gap is tens of nats: raw-style rows are
    # e^{-huge} relative — none survive
    assert all(k in ("lab_t", "probe_t") for k in kinds), kinds


def test_dsir_resample_is_global_topk_not_window(spark):
    from pdftableextractor_spark.operators.sampling import dsir_resample

    docs = spark.createDataFrame(
        [(str(i), "a b c", i % 2 == 0) for i in range(40)],
        "doc_id string, text string, t boolean",
    )
    out = dsir_resample(docs, F.col("t"), k=5, n_buckets=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert out.count() == 5


def test_dsir_resample_validates(spark):
    from pdftableextractor_spark.operators.sampling import dsir_resample

    docs = spark.createDataFrame(
        [("1", "a", True)], "doc_id string, text string, t boolean"
    )
    with pytest.raises(ValueError, match="k must"):
        dsir_resample(docs, F.col("t"), k=0)
    with pytest.raises(ValueError, match="temperature"):
        dsir_resample(docs, F.col("t"), k=1, temperature=0.0)


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized ANN with exact rerank
# ---------------------------------------------------------------------------


def _synth_embeddings(spark, n=200, dim=32, seed=3):
    import numpy as np

    rng = np.random.RandomState(seed)
    m = rng.standard_normal((n, dim))
    rows = [(i, [float(x) for x in m[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_sq8_topk_recall_vs_exact(spark):
    from pdftableextractor_spark.operators.similarity import (
        cosine_topk,
        sq8_topk,
    )

    emb = _synth_embeddings(spark)
    qv = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = {r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()}
    got = sq8_topk(emb, qv, k=10, rerank=4).collect()
    assert len(got) == 10
    assert len(exact & {r["vec_id"] for r in got}) >= 8
    # self-match survives quantization: vec 0 tops its own query
    assert got[0]["vec_id"] == 0 and got[0]["cos"] == 1.0


def test_sq8_codes_match_pure_python(spark):
    import math

    from pdftableextractor_spark.operators.similarity import (
        sq8_quantize,
        sq8_scale,
    )

    emb = _synth_embeddings(spark, n=40, dim=8)
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    normed = {}
    for i, v in rows.items():
        nrm = math.sqrt(sum(float(x) * float(x) for x in v))
        normed[i] = [float(x) / (nrm if nrm > 0 else 1.0) for x in v]
    s = max(abs(x) for v in normed.values() for x in v)
    assert abs(sq8_scale(emb) - s) < 1e-12
    want = {
        i: [max(-128, min(127, math.floor(x * 128.0 / s))) for x in v]
        for i, v in normed.items()
    }
    got = {r["vec_id"]: list(r["code"]) for r in sq8_quantize(emb, s).collect()}
    assert got == want
    flat = [c for v in got.values() for c in v]
    assert min(flat) >= -128 and max(flat) <= 127


def test_sq8_zero_vector_codes_to_zero(spark):
    from pdftableextractor_spark.operators.similarity import (
        sq8_quantize,
        sq8_scale,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    s = sq8_scale(emb)
    got = {r["vec_id"]: list(r["code"]) for r in sq8_quantize(emb, s).collect()}
    assert got[1] == [0, 0]
    # the unit vector's live dim hits the max-|v| bound: floor(128) -> 127
    assert got[0] == [127, 0]


def test_sq8_topk_plan_shape(spark):
    from pdftableextractor_spark.operators.similarity import sq8_topk

    emb = _synth_embeddings(spark, n=50, dim=8)
    qv = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = sq8_topk(emb, qv, k=5, rerank=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # global top-m·k is per-partition heaps, never a single-task sort
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # Arrow-batched kernels only, no row-at-a-time Python
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert out.count() == 5


def test_sq8_validates(spark):
    from pdftableextractor_spark.operators.similarity import (
        sq8_scale,
        sq8_topk,
    )

    emb = _synth_embeddings(spark, n=10, dim=4)
    qv = [1.0, 0.0, 0.0, 0.0]
    with pytest.raises(ValueError, match="k must"):
        sq8_topk(emb, qv, k=0)
    with pytest.raises(ValueError, match="rerank"):
        sq8_topk(emb, qv, k=1, rerank=0)
    zero = spark.createDataFrame(
        [(0, [0.0, 0.0])], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="all-zero"):
        sq8_scale(zero)
    empty = emb.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="no embeddings"):
        sq8_scale(empty)


def test_sq8_index_build_query_parity_and_torn_rebuild(spark, tmp_path):
    """The persisted SQ8 index returns EXACTLY what the on-the-fly path
    returns over the same corpus (same scale fit, codes, integer
    candidate cut, rerank contract); a torn rebuild (codes stamped by a
    different build than meta) raises instead of silently serving."""
    from pdftableextractor_spark.operators.similarity import (
        build_sq8_index,
        sq8_topk,
        sq8_topk_indexed,
    )
    from pdftableextractor_spark.sources.tables import read_path, write_table

    emb = _synth_embeddings(spark, n=150, dim=16, seed=11)
    qv = emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    idx = str(tmp_path / "sq8")
    build_sq8_index(emb, idx)

    direct = sq8_topk(emb, qv, k=8, rerank=3).collect()
    indexed = sq8_topk_indexed(spark, idx, qv, k=8, rerank=3).collect()
    assert [tuple(r) for r in indexed] == [tuple(r) for r in direct]

    # the scan side is the compressed table: codes only, never embeddings
    codes = read_path(spark, f"{idx}/codes")
    assert set(codes.columns) == {"vec_id", "code", "build_id"}

    # torn rebuild: re-stamp the code table as if written by another
    # build (materialize before overwriting the path being read)
    restamped = spark.createDataFrame(
        [(r["vec_id"], r["code"], "sq8-n0-xdead") for r in codes.collect()],
        "vec_id bigint, code array<int>, build_id string",
    )
    write_table(restamped, f"{idx}/codes")
    with pytest.raises(ValueError, match="torn rebuild"):
        sq8_topk_indexed(spark, idx, qv, k=8, rerank=3)

    # restore codes, tear the VECTORS side instead: fetch check trips
    build_sq8_index(emb, idx)
    vecs = read_path(spark, f"{idx}/vectors")
    torn_vecs = spark.createDataFrame(
        [
            (r["vec_id"], r["embedding"], "sq8-n0-xbeef")
            for r in vecs.collect()
        ],
        "vec_id bigint, embedding array<float>, build_id string",
    )
    write_table(torn_vecs, f"{idx}/vectors")
    with pytest.raises(ValueError, match="fetched vectors"):
        sq8_topk_indexed(spark, idx, qv, k=8, rerank=3)


def test_sq8_index_validates(spark, tmp_path):
    from pdftableextractor_spark.operators.similarity import (
        build_sq8_index,
        sq8_topk_indexed,
    )

    emb = _synth_embeddings(spark, n=20, dim=4)
    idx = str(tmp_path / "sq8v")
    build_sq8_index(emb, idx)
    qv = [1.0, 0.0, 0.0, 0.0]
    with pytest.raises(ValueError, match="k must"):
        sq8_topk_indexed(spark, idx, qv, k=0)
    with pytest.raises(ValueError, match="rerank"):
        sq8_topk_indexed(spark, idx, qv, k=1, rerank=0)


def test_ann_job_sq8_build_and_query_end_to_end(tmp_path):
    """jobs/ann.py sq8-build then sq8-query: the spark-submit surface of
    the compressed-scan path; the query's top hit is the query vector
    itself at cos 1.0 and both invocations print one valid JSON line."""
    idx = str(tmp_path / "sq8_job")
    env = {**os.environ, "PYTHONPATH": REPO}

    out = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "ann.py"),
            "sq8-build",
            "--input", "/root/testdata/sf0.001",
            "--index", idx,
            "--master", "local[4]",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(
        [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert rep["cmd"] == "sq8-build" and rep["codes"] > 0

    out = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "ann.py"),
            "sq8-query",
            "--input", "/root/testdata/sf0.001",
            "--index", idx,
            "--query-id", "0",
            "--topk", "5",
            "--rerank", "3",
            "--master", "local[4]",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(
        [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert rep["cmd"] == "sq8-query"
    assert len(rep["hits"]) == 5
    assert rep["hits"][0] == {"vec_id": 0, "cos": 1.0}


def test_curate_funnel_dsir_select_end_to_end(tmp_path):
    """Stage 8c: --dsir-target trains the hashed-gram LLR model on
    corpus + target and keeps the --dsir-k most target-like CORPUS
    docs. Two disjoint vocabularies (the testdata corpus can't
    discriminate — its langs share one word pool, so this test builds
    its own): an alpha-vocab target over a half-alpha half-numeric
    corpus must select ONLY alpha-vocab docs, and target docs must
    never appear in the output."""
    import pandas as pd
    import pyarrow.parquet as pq

    corpus_dir = tmp_path / "corpus"
    target_dir = tmp_path / "target"
    corpus_dir.mkdir()
    target_dir.mkdir()
    rows = []
    for i in range(30):
        rows.append((i, f"alpha beta gamma delta epsilon zeta ua{i:03d}",
                     "en", "A", 40))
        rows.append((100 + i, f"one two three four five six ub{i:03d}",
                     "en", "B", 40))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(corpus_dir / "documents.parquet")
    pd.DataFrame(
        [(1000 + i, f"alpha beta gamma delta epsilon ut{i:03d}")
         for i in range(20)],
        columns=["doc_id", "text"],
    ).to_parquet(target_dir / "documents.parquet")

    out = str(tmp_path / "curated")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    res = subprocess.run(
        [sys.executable, "/root/repo/jobs/curate.py",
         "--input", str(corpus_dir), "--output", out,
         "--dsir-target", str(target_dir), "--dsir-k", "10",
         "--dsir-temperature", "0.25",
         "--min-quality", "0", "--max-rep", "1",
         "--near-dup-threshold", "1.0",
         "--master", "local[4]"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["after_dsir_select"] == 10

    got = pq.read_table(f"{out}/clean").to_pylist()
    assert len(got) == summary["after_dsir_select"] == 10
    # target rows never compete for selection
    assert not any(str(r["doc_id"]).startswith("dsir-tgt:") for r in got)
    # at T=0.25 the vocab gap is tens of nats: only alpha-vocab survives
    assert all(r["source"] == "A" for r in got), [
        (r["doc_id"], r["source"]) for r in got
    ]
