"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

Decoders (pure stdlib + numpy, each checks its own signature and bounds its
own allocation): ``decode_png`` (zlib inflate + scanline unfilter),
``decode_jpeg`` (baseline Huffman decode + batched matrix IDCT),
``decode_wav`` (the ``wave`` module) and ``decode_avi`` (uncompressed-DIB
RIFF chunk walk). Compressed codecs and other formats stay STUBBED:
``decode_stub`` gives deterministic fake features, and a real deployment
swaps the ``NotImplementedError`` branch of ``real_decode`` for ffmpeg.

The Spark-facing operators stand on two pieces:

- ``real_decode(payload, kind)`` is the one container dispatch: which
  decoder reads a payload is decided there and nowhere else.
- ``_per_payload`` is the one Arrow loop (``mapInPandas``): it reads
  (asset_id, payload, ...) rows, maps a NULL payload to ``b""``, calls a
  row function per asset and builds the batch from the declared schema.

Row functions over those two pieces:

- ``extract_features``: decode-or-stub features per asset;
- ``image_phashes``, ``audio_fingerprints``, ``video_frame_hashes``: the
  perceptual signature scans, with one degrade rule (``_signatures``: a
  decode or hash failure falls back to ``_pseudo_hash`` with real=false);
  ``image_near_dups``/``audio_near_dups`` share one Hamming-pair body and
  ``video_near_dups`` runs frame-hash containment;
- ``sample_frames_decoded``: the nearest real frame per sampled timestamp;
- ``cdc_chunk_hashes``: content-defined chunk hashes (no decode), behind
  ``binary_near_dups``.

Contract:
  assets(asset_id string, kind string, payload binary,
         meta struct<mime string, width int, height int, duration_ms int>)
  extract_features(assets) -> (asset_id, kind, n_bytes, sha,
                               feat array<float>)
"""


from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEAT_DIM = 8
FEATURES_SCHEMA = (
    "asset_id string, kind string, n_bytes long, sha string, feat array<float>"
)


def synth_assets(docs: DataFrame) -> DataFrame:
    """Derive a deterministic binary assets table from a text corpus (no
    external data): payload = utf-8 bytes, kind round-robins image/audio/video,
    metadata derived from doc_id."""
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (h % 3 + 1).cast("int"),
    )
    return docs.select(
        F.concat(F.lit("asset-"), F.col("doc_id").cast("string")).alias(
            "asset_id"
        ),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            (h % 1024).cast("int").alias("width"),
            (
                F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10)
                .cast("bigint")
                % 768
            ).cast("int").alias("height"),
            # video assets get a 1-60 s duration so frame sampling has
            # something to walk; image/audio stay 0
            F.when(kind == "video", (h % 59000 + 1000))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("duration_ms"),
        ).alias("meta"),
    )


def resize_assets(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing (codec stubbed): the REAL parts are the asset schema,
    the metadata update, and that the whole op is a narrow JVM projection —
    no shuffle, no Python. The re-encoded payload is a deterministic fake
    (unhex(sha2(payload || 'WxH')) — 32 bytes standing in for the codec
    output); a real deployment swaps the payload expression for a Pandas-UDF
    PIL resize with the SAME schema."""
    tag = F.encode(F.lit(f"{width}x{height}"), "utf-8")
    return assets.select(
        "asset_id",
        "kind",
        F.unhex(F.sha2(F.concat(F.col("payload"), tag), 256)).alias("payload"),
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.col("meta.duration_ms").alias("duration_ms"),
        ).alias("meta"),
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"
# decode allocation cap: 64 MiB of raw scanlines (~16 MP RGBA)
PNG_AREA_MAX = 1 << 26


# samples per pixel by color type: grey, RGB, palette-index, grey+alpha, RGBA
_PNG_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes) -> np.ndarray:
    """Pure-stdlib PNG decode: chunk walk + zlib inflate + per-scanline
    unfilter (filters 0-4), non-interlaced. Supported: 8/16-bit greyscale,
    grey+alpha, RGB, RGBA (16-bit downsampled to 8 by taking the high
    byte — the standard 16→8 quantization) and 1/2/4/8-bit palette
    (PLTE lookup → RGB) or greyscale (rescaled to 8-bit). Returns
    (h, w, channels) uint8. No dependencies beyond zlib; a production
    deployment swaps in PIL/libpng for throughput, same contract."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, plte = 8, [], None
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(payload):
        (ln,), typ = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    samples = _PNG_SAMPLES.get(ctype) if w is not None else None
    if ctype == 0:
        ok_depth = depth in (1, 2, 4, 8, 16)
    elif ctype == 3:
        ok_depth = depth in (1, 2, 4, 8)
    else:
        ok_depth = depth in (8, 16)
    if samples is None or not ok_depth or interlace != 0:
        raise NotImplementedError(
            f"unsupported PNG shape (depth={depth}, color type={ctype}, "
            f"interlace={interlace})"
        )
    if ctype == 3 and (plte is None or len(plte) % 3):
        raise ValueError("palette PNG without a valid PLTE chunk")
    stride = (w * samples * depth + 7) // 8  # scanline bytes
    bpp = max(1, (samples * depth) // 8)  # filter left-offset (PNG spec)
    expected = h * (stride + 1)
    # hostile-input bound (the GRID_AREA_MAX rule's image analog): IHDR
    # dimensions are attacker-controlled, so cap the allocation BEFORE
    # inflating, and inflate with an output ceiling so a deflate bomb in
    # IDAT can never materialize more than expected+1 bytes
    # the cap covers the LARGEST allocation on the decode path, not just
    # the filtered scanlines: the unpackbits intermediate for sub-byte
    # depths is h*stride*8 bytes (up to depth x the pixel count), and a
    # palette lookup expands indices to h*w*3 RGB bytes — without these
    # terms a hostile 1-bit or palette IHDR could allocate several times
    # the documented 64 MiB bound before the except path caught it
    out_channels = 3 if ctype == 3 else samples
    max_alloc = max(
        expected,
        h * w * out_channels,
        h * stride * 8 if depth < 8 else 0,
    )
    if max_alloc > PNG_AREA_MAX:
        raise ValueError(
            f"PNG dimensions {w}x{h}x{samples}@{depth} exceed the decode "
            f"bound (peak allocation {max_alloc} bytes > {PNG_AREA_MAX})"
        )
    d = zlib.decompressobj()
    raw = d.decompress(b"".join(idat), expected + 1)
    if len(raw) != expected or d.decompress(b"", 1):
        raise ValueError("IDAT size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    p = 0
    for y in range(h):
        f = raw[p]
        p += 1
        line = np.frombuffer(raw[p : p + stride], dtype=np.uint8).astype(
            np.int32
        )
        p += stride
        if f == 0:
            pass
        elif f == 2:  # Up — vectorized
            line = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth carry a left-dependency → scan
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                up = prev[i]
                ul = prev[i - bpp] if i >= bpp else 0
                if f == 1:
                    line[i] = (line[i] + left) & 0xFF
                elif f == 3:
                    line[i] = (line[i] + (left + up) // 2) & 0xFF
                elif f == 4:
                    pp = left + up - ul
                    pa, pb, pc = abs(pp - left), abs(pp - up), abs(pp - ul)
                    pred = (
                        left if pa <= pb and pa <= pc else up if pb <= pc else ul
                    )
                    line[i] = (line[i] + pred) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter {f}")
        out[y] = line.astype(np.uint8)
        prev = line
    # byte scanlines → pixel samples
    if depth == 8:
        px = out.reshape(h, w, samples)
    elif depth == 16:
        # big-endian sample pairs; high byte IS the 8-bit downsample
        px = out.reshape(h, w * samples, 2)[:, :, 0].reshape(h, w, samples)
    else:  # 1/2/4-bit grey or palette indices: unpack MSB-first bit groups
        # uint8 shift-accumulate end to end — an int64 multiply/sum here
        # would materialize 8-byte intermediates and defeat the allocation
        # cap the bounds above enforce
        bits = np.unpackbits(out, axis=1)[:, : w * depth].reshape(h, w, depth)
        vals = np.zeros((h, w), dtype=np.uint8)
        for bix in range(depth):
            vals = (vals << 1) | bits[:, :, bix]
        if ctype == 0:
            # rescale to full 8-bit range (spec's sample-depth scaling):
            # 255/(2^depth - 1) is an exact integer for depth 1/2/4 and
            # max_val * scale == 255, so the uint8 multiply never wraps
            scale = 255 // ((1 << depth) - 1)
            px = (vals * np.uint8(scale))[..., None]
        else:
            px = vals[..., None]
    if ctype == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idxs = px[:, :, 0]
        if idxs.size and int(idxs.max()) >= len(pal):
            raise ValueError("palette index out of range")
        return pal[idxs]
    return px


JPEG_SIG = b"\xff\xd8\xff"  # SOI + first marker prefix
# decode cap: same 64 MiB rule as PNG_AREA_MAX, applied to the LARGEST
# allocation on the decode path (MCU-padded component planes + the
# upsampled RGB output), checked from the SOF header BEFORE any plane
# or coefficient allocation — SOF dimensions are attacker-controlled
JPEG_AREA_MAX = 1 << 26

# zigzag scan order: entry k of the coefficient stream lands at
# (row, col) _JPEG_ZZ[k]. Derived, not transcribed: anti-diagonal s,
# ascending row on odd diagonals, descending on even (ITU T.81 fig. 5)
_JPEG_ZZ = [
    (r, s - r)
    for s in range(15)
    for r in (
        range(max(0, s - 7), min(7, s) + 1)
        if s % 2
        else reversed(range(max(0, s - 7), min(7, s) + 1))
    )
]

# 8x8 DCT basis with the c(u)/2 normalization folded in:
# spatial = C.T @ coeff @ C  (IDCT), coeff = C @ spatial @ C.T (FDCT)
_DCT_BASIS = np.array(
    [
        [
            0.5
            * (0.7071067811865476 if u == 0 else 1.0)
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


class _JpegBits:
    """MSB-first bit reader over a de-stuffed entropy segment."""

    __slots__ = ("d", "pos", "bit")

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 0
        self.bit = 0

    def read(self) -> int:
        if self.pos >= len(self.d):
            raise ValueError("JPEG bitstream exhausted mid-block")
        b = (self.d[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_n(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read()
        return v


def _jpeg_huff_table(counts: list[int], symbols: bytes) -> dict:
    """Canonical Huffman decode table: (code_length, code) → symbol."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            table[(ln, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _jpeg_huff_decode(bits: _JpegBits, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | bits.read()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code")


def _jpeg_extend(v: int, size: int) -> int:
    """Sign-extend a SIZE-bit magnitude (ITU T.81 F.2.2.1 EXTEND)."""
    return v - (1 << size) + 1 if v < (1 << (size - 1)) else v


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Pure-stdlib BASELINE JPEG decode (SOF0: sequential DCT, 8-bit,
    Huffman): marker walk → per-segment Huffman entropy decode (byte
    de-stuffing, DRI/RSTn restart handling, per-component DC
    prediction) → dequantize + de-zigzag → batched matrix IDCT per
    component → chroma upsample (integer sampling ratios via repeat)
    → JFIF YCbCr→RGB. Returns (h, w, 3) uint8, or (h, w, 1) for
    single-component greyscale. Progressive (SOF2), extended/12-bit
    (SOF1/5-15), and arithmetic-coded JPEGs raise NotImplementedError —
    the same honest codec boundary as interlaced PNG and compressed
    AVI; a production deployment swaps in libjpeg/PIL, same contract.
    Allocation is bounded from the SOF header BEFORE any plane is
    materialized (JPEG_AREA_MAX — the PNG_AREA_MAX rule)."""
    import struct

    if payload[:3] != JPEG_SIG:
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) → decode table
    restart_interval = 0
    frame = None  # (h, w, comps) from SOF0
    scan = None  # (comp table assignment, entropy-segment list)
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        # T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        m = payload[pos + 1]
        if m == 0xD9:  # EOI
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:  # TEM/RSTn: standalone, no length
            pos += 2
            continue
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (ln,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        seg = payload[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if m == 0xDB:  # DQT: one or more tables
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq:  # 16-bit table
                    vals = np.frombuffer(
                        seg[i : i + 128], dtype=">u2"
                    ).astype(np.int32)
                    i += 128
                else:
                    vals = np.frombuffer(
                        seg[i : i + 64], dtype=np.uint8
                    ).astype(np.int32)
                    i += 64
                if vals.size != 64:
                    raise ValueError("truncated DQT")
                qt[tq] = vals
        elif m == 0xC4:  # DHT: one or more tables
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                counts = list(seg[i + 1 : i + 17])
                n = sum(counts)
                syms = seg[i + 17 : i + 17 + n]
                if len(syms) != n:
                    raise ValueError("truncated DHT")
                huff[(tc, th)] = _jpeg_huff_table(counts, syms)
                i += 17 + n
        elif m == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(
                    f"unsupported JPEG sample precision {prec}"
                )
            if nc not in (1, 3):
                raise NotImplementedError(
                    f"unsupported JPEG component count {nc}"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (h, w, comps)
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                   0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported JPEG frame type SOF{m - 0xC0} "
                "(baseline SOF0 only)"
            )
        elif m == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif m == 0xDA:  # SOS — entropy data follows until next marker
            ns = seg[0]
            stabs = {}
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                stabs[cid] = (tt >> 4, tt & 0xF)
            segments, cur = [], bytearray()
            while pos < len(payload):
                b = payload[pos]
                if b == 0xFF:
                    nxt = payload[pos + 1] if pos + 1 < len(payload) else 0xD9
                    if nxt == 0x00:  # stuffed literal FF
                        cur.append(0xFF)
                        pos += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:  # RSTn
                        segments.append(bytes(cur))
                        cur = bytearray()
                        pos += 2
                        continue
                    break  # real marker ends the scan
                cur.append(b)
                pos += 1
            segments.append(bytes(cur))
            scan = (stabs, segments)
            break  # one scan is the whole image for baseline
        # every other marker (APPn, COM, ...) is skipped by the length walk
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF0 or SOS")
    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError("JPEG zero dimension")
    stabs, segments = scan
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or any(
        c[1] < 1 or c[2] < 1 or hmax % c[1] or vmax % c[2] for c in comps
    ):
        raise NotImplementedError(
            "unsupported JPEG sampling geometry "
            f"{[(c[1], c[2]) for c in comps]}"
        )
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)
    # allocation bound BEFORE materializing anything: float64 coefficient
    # planes per component + the upsampled uint8 output
    plane_bytes = sum(
        (mcus_y * c[2] * 8) * (mcus_x * c[1] * 8) * 8 for c in comps
    )
    if max(plane_bytes, h * w * 3) > JPEG_AREA_MAX:
        raise ValueError(
            f"JPEG dimensions {w}x{h}x{len(comps)} exceed the decode "
            f"bound (peak allocation {max(plane_bytes, h * w * 3)} bytes "
            f"> {JPEG_AREA_MAX})"
        )
    planes = {}
    nblocks = {}
    for cid, ch, cv, _tq in comps:
        nblocks[cid] = mcus_y * cv * mcus_x * ch
        planes[cid] = np.zeros((nblocks[cid], 8, 8), dtype=np.float64)
    for cid, _ch, _cv, ctq in comps:
        if ctq not in qt:
            raise ValueError(f"JPEG missing quant table {ctq}")
        dc_t, ac_t = stabs.get(cid, (None, None))
        if (0, dc_t) not in huff or (1, ac_t) not in huff:
            raise ValueError(f"JPEG missing huffman tables for comp {cid}")
    n_mcus = mcus_x * mcus_y
    per_seg = restart_interval or n_mcus
    mcu = 0
    zz_r = np.array([r for r, _c in _JPEG_ZZ])
    zz_c = np.array([c for _r, c in _JPEG_ZZ])
    for seg_bytes in segments:
        if mcu >= n_mcus:
            break
        bits = _JpegBits(seg_bytes)
        preds = {c[0]: 0 for c in comps}
        for _ in range(min(per_seg, n_mcus - mcu)):
            my, mx = divmod(mcu, mcus_x)
            for cid, ch, cv, ctq in comps:
                q = qt[ctq]
                dct = huff[(0, stabs[cid][0])]
                act = huff[(1, stabs[cid][1])]
                for by in range(cv):
                    for bx in range(ch):
                        coeff = np.zeros(64, dtype=np.int64)
                        s = _jpeg_huff_decode(bits, dct)
                        diff = (
                            _jpeg_extend(bits.read_n(s), s) if s else 0
                        )
                        preds[cid] += diff
                        coeff[0] = preds[cid]
                        k = 1
                        while k < 64:
                            rs = _jpeg_huff_decode(bits, act)
                            r, sz = rs >> 4, rs & 0xF
                            if sz == 0:
                                if r == 15:  # ZRL: 16 zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "JPEG AC run past block end"
                                )
                            coeff[k] = _jpeg_extend(bits.read_n(sz), sz)
                            k += 1
                        blk = np.zeros((8, 8), dtype=np.float64)
                        blk[zz_r, zz_c] = coeff * q
                        bi = (
                            (my * cv + by) * (mcus_x * ch) + mx * ch + bx
                        )
                        planes[cid][bi] = blk
            mcu += 1
    if mcu < n_mcus:
        raise ValueError("JPEG scan ended before the last MCU")
    # batched IDCT per component, then de-block into the plane raster
    out_planes = []
    for cid, ch, cv, _tq in comps:
        spatial = (
            _DCT_BASIS.T @ planes[cid] @ _DCT_BASIS
        ) + 128.0  # (nblocks, 8, 8)
        bw = mcus_x * ch  # blocks per row
        bh = mcus_y * cv
        plane = (
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        plane = np.repeat(
            np.repeat(plane, vmax // cv, axis=0), hmax // ch, axis=1
        )[:h, :w]
        out_planes.append(plane)
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return g[..., None]
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=2)), 0, 255
    ).astype(np.uint8)


RIFF_SIG = b"RIFF"  # the WAV and AVI container
# decode cap: 64 MiB of raw PCM (~6 min of 16-bit stereo at 44.1 kHz)
WAV_BYTES_MAX = 1 << 26


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Pure-stdlib WAV (RIFF PCM) decode via the ``wave`` module: 8/16/24/
    32-bit PCM, any channel count, non-compressed only (the module raises
    on compressed forms — exactly the honest boundary we want). Returns
    (samples float32 in [-1, 1] shaped (n_frames, channels), framerate).
    The header's frame count is attacker-controlled, so the allocation is
    bounded BEFORE reading frames — the audio analog of PNG_AREA_MAX."""
    import io
    import wave

    if payload[:4] != RIFF_SIG or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    with wave.open(io.BytesIO(payload)) as w:
        nch, sw, fr, nf = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        if nch < 1 or sw not in (1, 2, 3, 4) or fr < 1:
            raise ValueError("malformed WAV header")
        if nf * nch * sw > WAV_BYTES_MAX:
            raise ValueError(
                f"WAV size {nf}x{nch}x{sw} exceeds the decode bound "
                f"({nf * nch * sw} > {WAV_BYTES_MAX} bytes)"
            )
        raw = w.readframes(nf)
    got = len(raw) // (nch * sw)
    raw = raw[: got * nch * sw]
    if sw == 1:  # unsigned 8-bit
        sig = (
            np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0
        ) / 128.0
    elif sw == 2:  # int16 LE
        sig = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 3:  # 24-bit LE: widen to int32 via a zero pad byte
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        w32 = np.zeros((b.shape[0], 4), dtype=np.uint8)
        w32[:, 1:] = b
        sig = (
            w32.view("<i4").reshape(-1).astype(np.float32) / 2147483648.0
        )
    else:  # int32 LE
        sig = (
            np.frombuffer(raw, dtype="<i4").astype(np.float32)
            / 2147483648.0
        )
    return sig.reshape(-1, nch), fr


# decode cap: 64 MiB of decoded RGB frames (~90 frames of 480p)
AVI_BYTES_MAX = 1 << 26


def decode_avi(payload: bytes) -> tuple[np.ndarray, float]:
    """Pure-stdlib UNCOMPRESSED-AVI decode — the video analog of
    decode_png/decode_wav (RIFF container, same family as WAV; the one
    video form a zero-dependency parser can honestly decode). Supported:
    one 'vids' stream, handler 'DIB '/0, BITMAPINFOHEADER with
    biCompression=0 (BI_RGB) at 24 bits/pixel, frames in '##db'/'##dc'
    chunks — bottom-up BGR rows padded to 4 bytes, per the DIB spec.
    Compressed codecs raise NotImplementedError (the honest boundary —
    production swaps this for ffmpeg; the Spark-side plumbing is
    identical either way).

    Returns (frames uint8 (n, h, w, 3) in RGB, fps float). Header fields
    are attacker-controlled, so the total decoded size is bounded BEFORE
    any frame allocation (n_frames·h·w·3 <= AVI_BYTES_MAX) and each
    frame chunk must carry exactly its stride·h bytes — a forged frame
    count or dimension can never allocate past the cap."""
    import struct

    if payload[:4] != RIFF_SIG or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    def chunks(buf, pos, end):
        while pos + 8 <= end:
            fcc = buf[pos : pos + 4]
            (ln,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            data_at = pos + 8
            if data_at + ln > end:
                raise ValueError("truncated AVI chunk")
            yield fcc, data_at, ln
            pos = data_at + ln + (ln & 1)  # chunks are word-aligned

    w = h = None
    usec_per_frame = 0
    bitcount = compression = None
    handler_ok = False
    frames_raw: list[bytes] = []
    for fcc, at, ln in chunks(payload, 12, len(payload)):
        if fcc != b"LIST":
            continue
        list_type = payload[at : at + 4]
        if list_type == b"hdrl":
            for f2, a2, l2 in chunks(payload, at + 4, at + ln):
                if f2 == b"avih" and l2 >= 40:
                    vals = struct.unpack("<10I", payload[a2 : a2 + 40])
                    usec_per_frame = vals[0]
                    w, h = vals[8], vals[9]
                elif f2 == b"LIST" and payload[a2 : a2 + 4] == b"strl":
                    # strh precedes strf within a strl; only the vids
                    # stream's strf is a BITMAPINFOHEADER (an auds strf is
                    # a WAVEFORMATEX — reading bitcount from it would be
                    # garbage), so gate strf parsing on the stream type
                    is_vids = False
                    for f3, a3, l3 in chunks(payload, a2 + 4, a2 + l2):
                        if f3 == b"strh" and l3 >= 8:
                            is_vids = payload[a3 : a3 + 4] == b"vids"
                            if is_vids:
                                handler = payload[a3 + 4 : a3 + 8]
                                handler_ok = handler in (
                                    b"DIB ",
                                    b"\x00\x00\x00\x00",
                                )
                        elif f3 == b"strf" and l3 >= 20 and is_vids:
                            bitcount = struct.unpack(
                                "<H", payload[a3 + 14 : a3 + 16]
                            )[0]
                            compression = struct.unpack(
                                "<I", payload[a3 + 16 : a3 + 20]
                            )[0]
        elif list_type == b"movi":
            for f2, a2, l2 in chunks(payload, at + 4, at + ln):
                if f2[2:4] in (b"db", b"dc"):
                    frames_raw.append(payload[a2 : a2 + l2])
    if w is None or not (0 < w and 0 < h):
        raise ValueError("malformed AVI header")
    if not handler_ok or compression not in (None, 0) or bitcount != 24:
        raise NotImplementedError(
            f"only uncompressed 24-bit DIB AVI is supported "
            f"(bitcount={bitcount}, compression={compression})"
        )
    n = len(frames_raw)
    if n * h * w * 3 > AVI_BYTES_MAX:
        raise ValueError(
            f"AVI size {n}x{h}x{w}x3 exceeds the decode bound "
            f"({n * h * w * 3} > {AVI_BYTES_MAX} bytes)"
        )
    stride = (w * 3 + 3) & ~3  # DIB rows pad to 4 bytes
    out = np.empty((n, h, w, 3), dtype=np.uint8)
    for i, fr in enumerate(frames_raw):
        if len(fr) != stride * h:
            raise ValueError(
                f"frame {i}: {len(fr)} bytes != stride {stride} x {h} rows"
            )
        rows = np.frombuffer(fr, dtype=np.uint8).reshape(h, stride)
        # bottom-up BGR -> top-down RGB
        out[i] = rows[::-1, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    fps = 1e6 / usec_per_frame if usec_per_frame else 0.0
    return out, fps


def video_features(frames: np.ndarray, fps: float) -> np.ndarray:
    """FEAT_DIM floats from genuine decoded frames: duration, mean/std
    luminance, mean inter-frame motion, frame count, shape, fps — all
    normalized into [0, 1]. A zero-frame AVI yields finite all-zero
    features (the audio_features convention)."""
    n = frames.shape[0]
    if n == 0:
        return np.zeros(FEAT_DIM, dtype=np.float32)
    f = frames.astype(np.float64)
    lum = f.mean(axis=3)  # (n, h, w) channel-mean luminance
    motion = (
        float(np.abs(np.diff(lum, axis=0)).mean()) / 255.0 if n > 1 else 0.0
    )
    return np.asarray(
        [
            min(n / fps / 3600.0, 1.0) if fps else 0.0,  # duration h
            float(lum.mean()) / 255.0,
            float(lum.std()) / 255.0,
            min(motion, 1.0),
            min(n / 100000.0, 1.0),
            min(frames.shape[1] / 4096.0, 1.0),
            min(frames.shape[2] / 4096.0, 1.0),
            min(fps / 120.0, 1.0),
        ],
        dtype=np.float32,
    )


def audio_features(sig: np.ndarray, framerate: int) -> np.ndarray:
    """FEAT_DIM floats from genuine PCM samples: duration, RMS, mean |x|,
    zero-crossing rate, peak, channel-mean spread, channels, rate — all
    normalized into [0, 1]."""
    if sig.shape[0] == 0:
        # a valid-but-empty WAV (0 frames) must yield finite features —
        # empty-array means produce NaN, which the exception-based stub
        # degrade would never catch
        return np.zeros(FEAT_DIM, dtype=np.float32)
    mono = sig.mean(axis=1) if sig.shape[1] > 1 else sig[:, 0]
    n = max(len(mono), 1)
    zcr = float(np.count_nonzero(np.diff(np.signbit(mono)))) / n
    spread = float(np.abs(sig.mean(axis=0)).std()) if sig.shape[1] > 1 else 0.0
    return np.asarray(
        [
            min(n / float(framerate) / 3600.0, 1.0),   # duration (h, capped)
            min(float(np.sqrt(np.mean(mono**2))), 1.0),  # rms
            min(float(np.abs(mono).mean()), 1.0),
            min(zcr, 1.0),
            min(float(np.abs(mono).max(initial=0.0)), 1.0),
            min(spread, 1.0),
            min(sig.shape[1] / 8.0, 1.0),
            min(framerate / 96000.0, 1.0),
        ],
        dtype=np.float32,
    )


def image_features(px: np.ndarray) -> np.ndarray:
    """FEAT_DIM floats from genuine pixels: global mean/std, first-3-channel
    means (greyscale repeats channel 0), and normalized shape."""
    h, w, ch = px.shape
    f = px.astype(np.float64)
    cm = [float(f[:, :, min(c, ch - 1)].mean()) / 255.0 for c in range(3)]
    return np.asarray(
        [
            float(f.mean()) / 255.0,
            float(f.std()) / 255.0,
            cm[0],
            cm[1],
            cm[2],
            h / 4096.0,
            w / 4096.0,
            ch / 4.0,
        ],
        dtype=np.float32,
    )


def real_decode(payload: bytes, kind: str):
    """Real decode where a pure-stdlib codec exists: PNG images via
    decode_png (zlib), baseline-JPEG images via decode_jpeg (Huffman +
    matrix IDCT), RIFF/WAVE PCM audio via decode_wav (wave), and
    uncompressed-DIB RIFF/AVI video via decode_avi. The return shape is
    KIND-SPECIFIC: image -> (h, w, channels) uint8 pixel array; audio ->
    (samples float32 (n_frames, channels), framerate int) tuple; video ->
    (frames uint8 (n, h, w, 3), fps float) tuple — callers dispatch on
    the kind they passed. Compressed video codecs (and other
    image/audio formats) remain NotImplementedError-guarded — the
    container has no ffmpeg; swap those branches in production. This is
    the one container dispatch: no operator tests a signature itself."""
    if kind == "image" and payload[:8] == PNG_SIG:
        return decode_png(payload)
    if kind == "image" and payload[:3] == JPEG_SIG:
        return decode_jpeg(payload)
    riff = payload[:4] == RIFF_SIG
    if kind == "audio" and riff:
        return decode_wav(payload)
    if kind == "video" and riff and payload[8:12] == b"AVI ":
        return decode_avi(payload)
    raise NotImplementedError(
        "media codecs unavailable in this environment; use decode_stub"
    )


def decode_stub(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic fake 'decode': FEAT_DIM floats from the sha256 of the
    payload — stable across runs/partitions, exercises the full Arrow path."""
    d = hashlib.sha256(payload).digest()
    return np.frombuffer(d[: FEAT_DIM * 4], dtype=">u4").astype(np.float32) / (
        2.0**32
    )


def _decode_one(payload: bytes, kind: str) -> np.ndarray:
    """PNG/JPEG images, WAV audio, and uncompressed-DIB AVI video decode to
    GENUINE pixels/samples/frames and featurize from them; everything
    else keeps the deterministic stub. A payload that LOOKS like a
    supported container but is unsupported (interlaced PNG, compressed
    AVI codec), truncated, or hostile (oversized header, deflate bomb,
    out-of-range palette index, forged frame size) degrades to the stub
    instead of crashing the task — one bad row must never kill a
    corpus-wide featurize job (the drop/degrade convention:
    GRID_AREA_MAX, PNG_AREA_MAX, WAV_BYTES_MAX, AVI_BYTES_MAX)."""
    try:
        decoded = real_decode(payload, kind)
        if kind == "image":
            return image_features(decoded)
        if kind == "audio":
            return audio_features(*decoded)
        return video_features(*decoded)
    except Exception:
        # no codec (NotImplementedError) or any malformed byte stream
        # (struct/zlib/bounds/ValueError) — degrade, never crash the task
        return decode_stub(payload, kind)


def _per_payload(rows: DataFrame, row_fn, schema: str) -> DataFrame:
    """The one Arrow loop of the media operators: ``rows`` are
    (asset_id, payload, ...) rows; ``row_fn(asset_id, payload, ...)``
    returns that asset's output tuples in ``schema`` order. A NULL
    payload reaches ``row_fn`` as ``b""`` — the one NULL rule, so a
    NULL row degrades like any other undecodable payload instead of
    killing the task."""
    names = [f.split()[0] for f in schema.split(",")]

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, payload, *rest in zip(*(pdf[c].values for c in pdf)):
                pb = b"" if payload is None else bytes(payload)
                out.extend(row_fn(aid, pb, *rest))
            cols = list(zip(*out)) or [()] * len(names)
            yield pd.DataFrame({n: list(c) for n, c in zip(names, cols)})

    return rows.mapInPandas(kern, schema=schema)


def _features_row(aid, pb: bytes, kind: str) -> list[tuple]:
    feat = _decode_one(pb, kind).tolist()
    return [(aid, kind, len(pb), hashlib.sha256(pb).hexdigest(), feat)]


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads: one
    (asset_id, kind, n_bytes, sha, feat) row per asset; a NULL payload
    reads as empty (n_bytes 0, the sha256 of b"", stub features).
    Repartitioning by asset_id upstream keeps batches balanced when
    payload sizes are heavy-tailed (same skew story as the pdf layout
    kernel)."""
    return _per_payload(
        assets.select("asset_id", "payload", "kind"),
        _features_row,
        FEATURES_SCHEMA,
    )


PHASH_BITS = 60  # 6x11 grid -> 6 rows x 10 horizontal comparisons;
# 60 bits (15 hex chars) keeps every band/xor op inside a signed bigint,
# the same sign-safety rule as dedup.SIMHASH_BITS


def _pseudo_hash(pb: bytes) -> int:
    """The sha256-derived 60-bit pseudo-hash for undecodable payloads."""
    return (
        int.from_bytes(hashlib.sha256(pb).digest()[:8], "big")
        >> (64 - PHASH_BITS)
    )


def _signatures(assets: DataFrame, kind: str, col: str, hashes) -> DataFrame:
    """(asset_id, ``col``, real) rows of the ``kind`` assets — the one
    degrade rule of the perceptual signature scans: ``hashes`` maps a
    payload's ``real_decode`` to its set of hashes (real=true, one row
    each). A payload that does not decode (no codec, hostile header,
    NULL), a hash that raises, or an EMPTY set (a decodable payload whose
    signature is degenerate, e.g. flat-energy audio or a zero-frame
    video) degrades to one ``_pseudo_hash`` row (real=false):
    byte-identical payloads still pair as exact dups, but no perceptual
    similarity is ever claimed for them. Because the dispatch is
    ``real_decode``, DIFFERENT containers of the same pixels (a PNG and
    a baseline JPEG of one photo) land in the SAME hash space and pair
    perceptually."""

    def row(aid, pb: bytes) -> list[tuple]:
        try:
            hs = sorted(hashes(real_decode(pb, kind)))
        except Exception:
            hs = []
        if not hs:
            return [(aid, _pseudo_hash(pb), False)]
        return [(aid, h, True) for h in hs]

    return _per_payload(
        assets.filter(F.col("kind") == kind).select("asset_id", "payload"),
        row,
        f"asset_id string, {col} long, real boolean",
    )


def image_dhash(px: np.ndarray) -> int:
    """60-bit difference hash of a decoded (h, w, ch) uint8 image: channel
    -mean grayscale, block-mean downsample to a 6x11 grid (images smaller
    than the grid are nearest-upsampled first), one bit per horizontally
    adjacent cell pair (left > right), packed MSB-first. Deterministic —
    a re-encode of the SAME pixels (different PNG filter choices, chunk
    layout) hashes identically; small local edits flip only the bits of
    the touched cells, so near-duplicate images land within a small
    Hamming distance."""
    g = px.astype(np.float64).mean(axis=2)
    oh, ow = 6, 11
    if g.shape[0] < oh or g.shape[1] < ow:
        g = np.repeat(
            np.repeat(g, -(-oh // g.shape[0]), axis=0),
            -(-ow // g.shape[1]),
            axis=1,
        )
    ye = np.linspace(0, g.shape[0], oh + 1).astype(int)
    xe = np.linspace(0, g.shape[1], ow + 1).astype(int)
    blocks = np.array(
        [
            [
                g[ye[i]: ye[i + 1], xe[j]: xe[j + 1]].mean()
                for j in range(ow)
            ]
            for i in range(oh)
        ]
    )
    bits = (blocks[:, :-1] > blocks[:, 1:]).ravel()  # 6 x 10 = 60
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h


def image_phashes(assets: DataFrame) -> DataFrame:
    """(asset_id, phash, real) for every image asset — the signature scan
    of image-content dedup; Arrow-batched, one decode per payload."""
    return _signatures(assets, "image", "phash", lambda px: {image_dhash(px)})


def audio_fingerprint(sig: np.ndarray, framerate: int) -> int | None:
    """60-bit energy-profile fingerprint of decoded PCM samples: the mono
    signal splits into 61 equal time windows; one bit per adjacent
    window pair (energy rising), packed MSB-first. Energy COMPARISONS
    are invariant under volume scaling, so the same recording at a
    different gain fingerprints identically; a localized edit flips only
    the bits of the touched windows. (framerate is part of the decoded
    contract but does not enter the hash — the profile is positional.)

    Returns None for DEGENERATE signals whose profile carries no
    perceptual information — empty audio, or a flat-energy signal
    (steady tone, constant-amplitude noise) where every comparison
    lands the same way. Without the degrade, every unrelated
    constant-energy recording would hash to the same all-zeros value
    with real=true and be merged as a perceptual near-dup; None routes
    them to the pseudo-hash path (byte-exact pairing only)."""
    if sig.shape[0] == 0:
        return None
    mono = sig.mean(axis=1) if sig.shape[1] > 1 else sig[:, 0]
    nw = 61
    edges = np.linspace(0, len(mono), nw + 1).astype(int)
    if len(mono) < nw:
        mono = np.repeat(mono, -(-nw // len(mono)))
        edges = np.linspace(0, len(mono), nw + 1).astype(int)
    e = np.array(
        [float(np.mean(mono[edges[i]: edges[i + 1]] ** 2))
         for i in range(nw)]
    )
    bits = e[1:] > e[:-1]  # 60 comparisons
    if bool(bits.all()) or not bool(bits.any()):
        return None  # flat (or strictly monotone) profile: no signal
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h


def audio_fingerprints(assets: DataFrame) -> DataFrame:
    """(asset_id, afp, real) for every audio asset — the signature scan of
    audio-content dedup; Arrow-batched, one decode per payload."""
    return _signatures(
        assets, "audio", "afp", lambda d: {audio_fingerprint(*d)} - {None}
    )


def _hamming_pairs(sigs: DataFrame, col: str) -> DataFrame:
    """(asset_a, asset_b, hamming) pairs of the perceptual signatures
    ``sigs`` within Hamming distance 4: the shared multiband pigeonhole
    join (``dedup.hamming_near_dup_pairs``, 5 bands of 12 bits, so recall
    is exact at that distance); pseudo-hashed undecodables only pair
    exactly and never against real hashes (the ``real`` rule documented
    there)."""
    from pdftableextractor_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    return hamming_near_dup_pairs(
        sigs, col, PHASH_BITS, 4, 5,
        id_col="asset_id", a_col="asset_a", b_col="asset_b", real_col="real",
    )


def image_near_dups(assets: DataFrame) -> DataFrame:
    """Perceptual IMAGE near-duplicate pairs — the content-dedup class
    the text suite can't see (the same photo re-encoded, resized a
    little, or slightly edited): (asset_a, asset_b, hamming) with
    asset_a < asset_b and Hamming(phash) <= 4."""
    return _hamming_pairs(image_phashes(assets), "phash")


def audio_near_dups(assets: DataFrame) -> DataFrame:
    """Perceptual AUDIO near-duplicate pairs: same shape as
    ``image_near_dups`` over the energy-profile fingerprint — the same
    recording re-encoded at a different volume or with a short edit
    pairs up; text/byte dedup can't see either."""
    return _hamming_pairs(audio_fingerprints(assets), "afp")


def video_frame_hashes(
    assets: DataFrame,
    hash_every_ms: int | None = None,
    max_frames: int | None = None,
) -> DataFrame:
    """(asset_id, fhash, real) — one row per DISTINCT per-frame dhash of
    each decodable video asset (decode once); the signature scan of
    video-content dedup. ``hash_every_ms`` hashes only time-sampled
    frames (stride round(fps·ms/1000), the ``sample_frames_decoded``
    timestamp math) and ``max_frames`` caps the hashed count per video
    with evenly spaced indices — both bound the decode+hash cost to O(1)
    per video instead of O(frames). Default (None/None) hashes every
    frame. See ``video_near_dups`` for the sampling recall trade."""

    def hashes(decoded) -> set[int]:
        frames, fps = decoded
        idx = np.arange(frames.shape[0])
        if hash_every_ms is not None and fps:
            idx = idx[::max(1, int(round(fps * hash_every_ms / 1000.0)))]
        if max_frames is not None and len(idx) > max_frames:
            idx = idx[np.linspace(0, len(idx) - 1, max_frames).astype(int)]
        return {image_dhash(frames[i]) for i in idx}

    return _signatures(assets, "video", "fhash", hashes)


# STOP-FRAME cap of video_near_dups: frame hashes held by more videos drop
MAX_FRAME_DF = 1000


def video_near_dups(
    assets: DataFrame,
    threshold: float = 0.8,
    hash_every_ms: int | None = None,
) -> DataFrame:
    """Perceptual VIDEO near-duplicate pairs by frame-hash CONTAINMENT:
    (asset_a, asset_b, shared, size_a, size_b, containment) where
    containment = |A ∩ B| / min(|A|, |B|) over each video's DISTINCT
    per-frame dhashes — the video dup classes that matter are a
    re-encode (identical frame hashes, containment 1) and a CLIP cut
    from a longer video (the clip's hashes are a subset — exactly the
    asymmetric class Jaccard under-scores, the containment_pairs
    argument applied to frames).

    STOP-FRAME rule (the CCNet line-frequency idea applied to frames):
    a frame hash occurring in more than ``MAX_FRAME_DF`` videos is
    excluded from EVERY signature set before sizes are counted — solid
    black/white frames, fades, and test cards hash to a handful of
    values (a uniform frame dhashes to the constant 0), and without the
    cap (a) the equi-join fans out quadratically through those hot keys
    and (b) a one-frame solid-color video reaches containment 1.0
    against every video containing any uniform frame. With the cap the
    join's per-key fan-out is bounded by MAX_FRAME_DF and "shared only
    stop-frames" pairs disappear. A video whose every frame is a
    stop-frame drops out of dedup entirely (no signature — it passes
    through whatever keep-list consumes the pairs); byte-identical
    undecodable payloads still pair exactly through their single pseudo
    -hash row unless more than MAX_FRAME_DF copies exist.

    EAGER: pins the (asset_id, fhash, real) rows (decode kernel runs once).
    Shape: one decode per payload in the Arrow kernel, then the shared
    key-set containment path (``dedup._key_set_containment``): a
    frame-hash document-frequency cap, candidates ONLY through the
    equi-join on (fhash, real), a pure-integer threshold and exact-int
    rounding. Pseudo-hash rows never join real frame hashes. A threshold
    outside (0, 1] raises ValueError before any job starts.

    SAMPLING (``hash_every_ms``): real video runs hours at 24-60 fps —
    hashing every frame makes the signature kernel O(frames) per video
    while the containment math tolerates sampling. With ``hash_every_ms``
    only one frame per time bucket is hashed. RECALL TRADE: a
    re-encode still pairs at 1.0 (same frames, same fps → the same
    stride picks the same frames), but a CLIP whose cut point is not
    stride-aligned samples a phase-shifted frame set — containment can
    drop to 0 even for a true clip. Sample when the corpus is re-encode
    -dominated or the stride is much shorter than a scene (adjacent
    frames hash alike, so scene overlap still intersects); hash every
    frame (the default) when exact clip detection matters more than
    kernel cost."""
    from pdftableextractor_spark.operators.dedup import _key_set_containment

    raw = video_frame_hashes(assets, hash_every_ms=hash_every_ms)
    return _key_set_containment(
        raw, "fhash", threshold, MAX_FRAME_DF, match=["real"]
    )


FRAME_SAMPLE_SCHEMA = (
    "asset_id string, frame_idx int, ts_ms int, width int, height int, "
    "decoded boolean, frame binary"
)


def sample_frames_decoded(
    assets: DataFrame, every_ms: int = 5000
) -> DataFrame:
    """REAL frame sampling: decode each uncompressed-AVI video payload
    once and emit the nearest genuine RGB frame at every sampled
    timestamp (0, every_ms, … ≤ duration_ms; a NULL duration samples
    ts=0 only). Payloads ``real_decode`` cannot handle (compressed codec,
    non-AVI container, hostile header, NULL) or that hold no frames
    degrade to the deterministic fake frame sha256(payload || str(ts))
    with decoded=false, so one bad row never kills the job. Output rows
    carry raw RGB24 bytes + (width, height) — downstream featurizers
    reshape with np.frombuffer(...).reshape(h, w, 3). The decode happens
    scan-side inside the Arrow loop (one decode per video regardless of
    how many timestamps it yields), and the per-row fan-out stays inside
    the partition."""

    def row(aid, pb: bytes, dur) -> list[tuple]:
        try:
            frames, fps = real_decode(pb, "video")
            ok = frames.shape[0] > 0 and bool(fps)
        except Exception:
            ok = False
        out = []
        for i, ts in enumerate(range(0, int(dur) + 1, every_ms)):
            if ok:
                f = frames[min(int(ts / 1000.0 * fps), frames.shape[0] - 1)]
                out.append((aid, i, ts, f.shape[1], f.shape[0], True,
                            f.tobytes()))
            else:
                fake = hashlib.sha256(pb + str(ts).encode()).digest()
                out.append((aid, i, ts, 0, 0, False, fake))
        return out

    return _per_payload(
        assets.filter(F.col("kind") == "video").select(
            "asset_id",
            "payload",
            F.coalesce(F.col("meta.duration_ms"), F.lit(0)).alias("dur"),
        ),
        row,
        FRAME_SAMPLE_SCHEMA,
    )


# --- content-defined chunking (CDC) binary near-dup ----------------------
# The file-level dedup class none of the perceptual suites cover: two
# binary payloads that share most of their BYTES (a re-upload with a
# patched header, an appended EULA, a truncated transfer) regardless of
# what the bytes encode. Fixed-size blocking breaks on the first
# insertion (every later block shifts); content-defined boundaries
# (FastCDC-style gear hash) re-synchronize within one chunk of an edit,
# so a local edit changes O(1) chunks of the signature.

# deterministic 256-entry gear table (no RNG — the sha256-of-byte-value
# construction every other deterministic constant in this repo uses)
_CDC_GEAR = np.frombuffer(
    b"".join(
        hashlib.sha256(b"cdc-gear:%d" % i).digest()[:8] for i in range(256)
    ),
    dtype=">u8",
).astype(np.uint64)


def cdc_boundaries(
    data: bytes,
    avg_bits: int = 13,
    min_size: int | None = None,
    max_size: int | None = None,
) -> list[int]:
    """Content-defined chunk END offsets for one payload (the last entry
    is always len(data)). Gear rolling hash: h_i = 2*h_{i-1} + g(b_i)
    mod 2^64 — because the shift ages contributions out after 64 bytes,
    h_i is EXACTLY a 64-lag weighted convolution of the byte stream, so
    the whole hash sequence vectorizes as 64 shifted numpy adds
    (O(64·n) SIMD work, no per-byte Python) instead of a byte loop. A
    boundary falls where the top ``avg_bits`` bits of h are zero →
    expected chunk length 2^avg_bits bytes; ``min_size`` (skip-ahead)
    and ``max_size`` (forced cut) bound the realized lengths, so a
    hostile payload can neither produce unbounded chunks nor one-byte
    chunk floods."""
    n = len(data)
    if n == 0:
        return []
    if min_size is None:
        min_size = max(1, 1 << max(0, avg_bits - 2))
    if max_size is None:
        max_size = 1 << (avg_bits + 2)
    b = np.frombuffer(data, dtype=np.uint8)
    g = _CDC_GEAR[b]
    h = np.zeros(n, dtype=np.uint64)
    for j in range(min(64, n)):
        h[j:] += g[: n - j] << np.uint64(j)
    mask = np.uint64(((1 << avg_bits) - 1) << (64 - avg_bits))
    cand = np.nonzero((h & mask) == 0)[0]
    ends: list[int] = []
    start = 0
    for p in cand.tolist():
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


def cdc_chunk_hashes(
    assets: DataFrame,
    avg_bits: int = 13,
    min_size: int | None = None,
    max_size: int | None = None,
) -> DataFrame:
    """(asset_id, chash) — one row per content-defined chunk of each
    payload, ANY kind (chunking never decodes, so there is no degrade
    path: every payload has a real signature; NULL counts as empty and
    empty payloads emit the single empty-chunk hash so byte-identical
    empties pair exactly, like every other modality). chash is 128
    bits of sha256 over the chunk bytes — at 10^12 corpus chunks the
    birthday bound keeps accidental collisions negligible, which a
    64-bit chunk hash would not.

    The default ``avg_bits=13`` targets 8 KiB expected chunks — the
    FastCDC-class production range, keeping the signature table ~0.5%
    of corpus bytes (32 hex chars per ~8 KiB). Small payloads (tests,
    toy corpora) should pass a small ``avg_bits`` explicitly; at the
    old default of 6 the signature table is ~50% of the corpus, which
    only makes sense below a few KB per asset."""

    def row(aid, pb: bytes) -> list[tuple]:
        ends = cdc_boundaries(
            pb, avg_bits=avg_bits, min_size=min_size, max_size=max_size
        ) or [0]
        return [
            (aid, hashlib.sha256(pb[a:b]).hexdigest()[:32])
            for a, b in zip([0, *ends], ends)
        ]

    return _per_payload(
        assets.select("asset_id", "payload"),
        row,
        "asset_id string, chash string",
    )


def binary_near_dups(
    assets: DataFrame,
    threshold: float = 0.8,
    avg_bits: int = 13,
    min_size: int | None = None,
    max_size: int | None = None,
    max_chunk_df: int = 1000,
) -> DataFrame:
    """BYTE-level near-duplicate pairs by CDC chunk-hash containment:
    (asset_a, asset_b, shared, size_a, size_b, containment) over each
    payload's DISTINCT chunk hashes, containment = |A∩B| / min(|A|,|B|)
    — the same asymmetric measure as video_near_dups, because the dup
    classes rhyme: a re-upload with a small patch shares almost all
    chunks (Jaccard and containment both high), while a TRUNCATED or
    excerpted transfer's chunks are a subset of the original's
    (containment 1, Jaccard low).

    STOP-CHUNK rule: a chunk hash occurring in more than
    ``max_chunk_df`` assets (an all-zeros run, a shared file header, a
    common license block) is excluded from every signature before sizes
    are counted — the equi-join's per-key fan-out stays bounded and
    "shared only boilerplate chunks" pairs disappear (the video suite's
    stop-frame rule, one modality over).

    EAGER: pins the distinct (asset_id, chash) rows (chunk kernel runs
    once; ~0.5% of corpus bytes at the production avg_bits).
    Shape at 100 TB: the chunk kernel is O(bytes) vectorized numpy per
    payload; candidates form ONLY through the df-capped equi-join on chash
    (never all-pairs) of the shared key-set containment path; the
    threshold filter is pure-integer with the shared exact-int rounding.
    A threshold outside (0, 1] raises ValueError before any job starts."""
    from pdftableextractor_spark.operators.dedup import _key_set_containment

    sigs = cdc_chunk_hashes(
        assets, avg_bits=avg_bits, min_size=min_size, max_size=max_size
    ).distinct()
    return _key_set_containment(sigs, "chash", threshold, max_chunk_df)
