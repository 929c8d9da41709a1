"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark side is real and tested — schemas, Arrow-batched
``mapInPandas`` pipelines, partition sizing. The codec layer (r02) is
REAL for the formats the standard library can express:

- PNG: full pixel decode (zlib inflate + scanline unfiltering, 8-bit
  gray/RGB/RGBA/gray+alpha), pure stdlib + numpy.
- BMP: 24/32-bit uncompressed pixel decode.
- PPM/PGM (P6/P5): full pixel decode.
- JPEG (r04): FULL baseline pixel decode in pure numpy — canonical
  Huffman, dequant, 8x8 IDCT, 4:2:0/4:2:2/4:4:4 chroma upsampling,
  restart intervals, YCbCr→RGB. Progressive (SOF2) and arithmetic
  variants raise NotImplementedError.
- WAV (PCM 8/16/32-bit): real frame decode via the stdlib ``wave``
  module; per-chunk RMS.

Payloads in none of these formats raise ``NotImplementedError``
unless ``deterministic_fake=True``, which produces seeded synthetic
features so the distributed plumbing can be exercised on arbitrary
bytes (the driver-oracle path — DuckDB reproduces the sha256 fake)."""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("format", T.StringType()),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])

AUDIO_FRAMES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("rms", T.FloatType()),
])


# ------------------------------------------------------------ codecs

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# PNG color type → samples per pixel (8-bit depth supported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def detect_format(payload: bytes) -> Optional[str]:
    if payload[:8] == _PNG_MAGIC:
        return "png"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] in (b"P5", b"P6"):
        return "ppm"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return None


def _png_chunks(b: bytes):
    pos = 8
    while pos + 8 <= len(b):
        (length,), typ = struct.unpack(">I", b[pos:pos + 4]), b[pos + 4:pos + 8]
        yield typ, b[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc


def _unfilter_png(raw: bytes, width: int, height: int,
                  channels: int) -> np.ndarray:
    """Reverse PNG scanline filtering (spec filters 0-4). Filters
    None/Up/Sub vectorize; Average/Paeth fall back to a per-byte loop
    (sequential by definition)."""
    bpp = channels
    stride = width * channels
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8,
                            count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:
            out[y] = row
        elif ftype == 2:  # Up
            out[y] = row + prev
        elif ftype == 1:  # Sub: per-lane cumsum (mod 256 via uint8)
            lanes = row.reshape(-1, bpp)
            out[y] = np.cumsum(lanes, axis=0, dtype=np.uint8).reshape(-1)
        elif ftype == 3:  # Average
            cur = out[y]
            for i in range(stride):
                left = int(cur[i - bpp]) if i >= bpp else 0
                cur[i] = (int(row[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = out[y]
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b_ = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c)
                cur[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
    return out.reshape(height, width, channels)


def decode_png(payload: bytes) -> np.ndarray:
    """(H, W, C) uint8 pixels. 8-bit gray/gray+alpha/RGB/RGBA,
    non-interlaced (the overwhelmingly common case; Adam7 raises)."""
    ihdr = idat = None
    parts = []
    for typ, data in _png_chunks(payload):
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            parts.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or not parts:
        raise ValueError("not a valid PNG (missing IHDR/IDAT)")
    w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr)
    if depth != 8 or ctype not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"PNG bit depth {depth} / color type {ctype} not supported "
            f"(8-bit gray/RGB/alpha only)")
    if interlace:
        raise NotImplementedError("interlaced (Adam7) PNG not supported")
    idat = zlib.decompress(b"".join(parts))
    return _unfilter_png(idat, w, h, _PNG_CHANNELS[ctype])


def png_dims(payload: bytes) -> tuple[int, int]:
    w, h = struct.unpack(">II", payload[16:24])
    return w, h


def decode_bmp(payload: bytes) -> np.ndarray:
    """24/32-bit uncompressed BMP → (H, W, 3) uint8 (BGR→RGB,
    bottom-up rows flipped)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off, = struct.unpack("<I", payload[10:14])
    hdr_size, = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        # BITMAPCOREHEADER (12 bytes) stores 16-bit dims at different
        # offsets — reading the INFOHEADER layout would mash them
        # into garbage dimensions (r05); refuse clearly instead
        raise NotImplementedError(
            f"BMP header size {hdr_size} (BITMAPCOREHEADER?) not "
            f"supported — only BITMAPINFOHEADER (>= 40) decodes")
    w, h = struct.unpack("<ii", payload[18:26])
    bpp, = struct.unpack("<H", payload[28:30])
    comp, = struct.unpack("<I", payload[30:34])
    if comp != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP compression={comp} bpp={bpp} not supported")
    nbytes = bpp // 8
    stride = (w * nbytes + 3) & ~3
    flip = h > 0
    h = abs(h)
    rows = []
    for y in range(h):
        off = data_off + y * stride
        row = np.frombuffer(payload, np.uint8, count=w * nbytes, offset=off)
        rows.append(row.reshape(w, nbytes)[:, :3][:, ::-1])  # BGR→RGB
    px = np.stack(rows)
    return px[::-1] if flip else px


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) / PGM (P5) → (H, W, C) uint8."""
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":  # comment to EOL
            while payload[pos:pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    c = 3 if payload[:2] == b"P6" else 1
    px = np.frombuffer(payload, np.uint8, count=w * h * c, offset=pos)
    return px.reshape(h, w, c)


def jpeg_dims(payload: bytes) -> tuple[int, int]:
    """Width/height from the first SOF0-SOF15 marker (no pixel
    decode — JPEG entropy coding needs a DCT library). Handles 0xFF
    fill bytes (ISO 10918 B.1.1.2) and length-less markers
    (SOI/EOI/RSTn/TEM), which a naive segment walk misparses."""
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        # skip fill bytes: any number of 0xFF may pad before a marker
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        # the skip can run to the buffer edge — every read below must
        # re-check bounds (truncated payloads raise the documented
        # ValueError, not IndexError/struct.error)
        if pos + 2 > n:
            break
        marker = payload[pos + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > n:
                break
            h, w = struct.unpack(">HH", payload[pos + 5:pos + 9])
            return w, h
        if marker in (0x01, 0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2  # TEM/SOI/EOI/RSTn carry no length field
            continue
        if pos + 4 > n:
            break
        seglen, = struct.unpack(">H", payload[pos + 2:pos + 4])
        pos += 2 + seglen
    raise ValueError("no SOF marker found in JPEG")


# --------------------------------------------------- baseline JPEG
# Pure numpy/stdlib baseline-JPEG pixel decode (ISO 10918-1 sequential
# DCT, Huffman coding) — closes the "dims-only" gap without PIL/cv2.
# Progressive (SOF2) and arithmetic/lossless variants still raise.

# zigzag scan: raster index of the i-th zigzag-ordered coefficient
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])


def _idct_matrix() -> np.ndarray:
    u, x = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0, :] *= 1 / np.sqrt(2)
    return m


_IDCT_M = _idct_matrix()


def _build_huff(counts: list[int], symbols: list[int]) -> dict:
    """Canonical Huffman table: {(code_length, code): symbol}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _Bits:
    """MSB-first bit reader over a byte-stuffing-stripped scan."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.d):
            raise ValueError("truncated JPEG scan")
        b = (self.d[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def receive_extend(self, s: int) -> int:
        if s == 0:
            return 0
        v = 0
        for _ in range(s):
            v = (v << 1) | self.read_bit()
        # EXTEND (spec F.2.2.1): top bit 0 → negative branch
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

    def read_huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")


def _decode_block(br: _Bits, dc_tab: dict, ac_tab: dict,
                  pred: int) -> tuple[np.ndarray, int]:
    """One 8x8 block: DC diff + AC run-length, zigzag order."""
    zz = np.zeros(64, dtype=np.int32)
    dc = pred + br.receive_extend(br.read_huff(dc_tab))
    zz[0] = dc
    k = 1
    while k < 64:
        rs = br.read_huff(ac_tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC coefficient run past block end")
        zz[k] = br.receive_extend(s)
        k += 1
    return zz, dc


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline-JPEG pixel decode, pure numpy + stdlib: (h, w, c)
    uint8 with c=1 (grayscale) or 3 (RGB). Sequential DCT only —
    progressive (SOF2) and arithmetic variants raise
    NotImplementedError. Chroma subsampling (4:2:0/4:2:2/4:4:4) is
    handled by nearest upsampling, restart intervals honored."""
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    dri = 0
    pos, n = 2, len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        if pos + 4 > n:
            break
        seglen, = struct.unpack(">H", payload[pos + 2:pos + 4])
        data = payload[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:  # DQT (may carry several tables)
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq:
                    qt[tq] = np.frombuffer(
                        data[i:i + 128], ">u2").astype(np.int32)
                    i += 128
                else:
                    qt[tq] = np.frombuffer(
                        data[i:i + 64], np.uint8).astype(np.int32)
                    i += 64
        elif marker == 0xC4:  # DHT (may carry several tables)
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                i += 1
                counts = list(data[i:i + 16])
                i += 16
                nsym = sum(counts)
                huff[(tc, th)] = _build_huff(counts,
                                             list(data[i:i + nsym]))
                i += nsym
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            if data[0] != 8:
                raise NotImplementedError("non-8-bit JPEG precision")
            h, w = struct.unpack(">HH", data[1:5])
            nc = data[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = data[6 + 3 * c:9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (w, h, comps)
        elif marker == 0xC2:
            raise NotImplementedError(
                "progressive JPEG (SOF2) not supported; baseline only")
        elif 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} not supported (baseline only)")
        elif marker == 0xDD:  # DRI
            dri, = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # SOS → decode the scan and return
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            if ns != len(frame[2]):
                # ISO 10918-1 A.2: a scan covering a SUBSET of the
                # frame's components is non-interleaved (MCU = one
                # data unit) and the remaining components arrive in
                # later scans. _decode_scan assumes one interleaved
                # scan; decoding the first scan with interleaved MCU
                # geometry would return scrambled luma + zeroed
                # chroma as if it were a valid image. Refuse instead
                # (decode_image_real degrades to dims-only).
                raise NotImplementedError(
                    "multi-scan (non-interleaved) baseline JPEG not "
                    "supported; single interleaved scan only")
            scomp = []
            for k in range(ns):
                cs, tabs = data[1 + 2 * k], data[2 + 2 * k]
                ci = next(i for i, c in enumerate(frame[2])
                          if c[0] == cs)
                scomp.append((ci, tabs >> 4, tabs & 15))
            if ns == 1 and frame[2][0][1:3] != (1, 1):
                # single-component scan with sampling factors > 1:
                # per A.2.2 the data units raster in ceil(w/8) cols,
                # not the interleaved hs*vs MCU layout _decode_scan
                # implements
                raise NotImplementedError(
                    "single-component JPEG with sampling factors > 1 "
                    "not supported")
            return _decode_scan(payload, pos + 2 + seglen, frame,
                                scomp, qt, huff, dri)
        pos += 2 + seglen
    raise ValueError("no SOS marker found in JPEG")


def _scan_segments(payload: bytes, start: int) -> list[bytes]:
    """Entropy-coded data split at restart markers, 0xFF00 stuffing
    stripped."""
    segs, cur, i, n = [], bytearray(), start, len(payload)
    while i < n:
        b = payload[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        nxt = payload[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif nxt == 0xFF:
            # legal 0xFF fill byte before a marker (ISO 10918
            # B.1.1.2) — skip it, don't end the scan (r05: padded
            # restart markers truncated the segment list)
            i += 1
        elif 0xD0 <= nxt <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # EOI or next segment — scan over
            break
    segs.append(bytes(cur))
    return segs


def _decode_scan(payload: bytes, start: int, frame, scomp, qt, huff,
                 dri: int) -> np.ndarray:
    w, h, comps = frame
    max_h = max(c[1] for c in comps)
    max_v = max(c[2] for c in comps)
    mcux = -(-w // (8 * max_h))
    mcuy = -(-h // (8 * max_v))
    planes = [np.zeros((mcuy * c[2] * 8, mcux * c[1] * 8), np.float64)
              for c in comps]
    segs = _scan_segments(payload, start)
    br = _Bits(segs[0])
    seg_i = 0
    preds = [0] * len(comps)
    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_n and mcu_n % dri == 0:
                seg_i += 1  # restart: new entropy segment, DC reset
                if seg_i >= len(segs):
                    raise ValueError("missing JPEG restart segment")
                br = _Bits(segs[seg_i])
                preds = [0] * len(comps)
            for ci, dc_id, ac_id in scomp:
                _, hs, vs, tq = comps[ci]
                for by in range(vs):
                    for bx in range(hs):
                        zz, preds[ci] = _decode_block(
                            br, huff[(0, dc_id)], huff[(1, ac_id)],
                            preds[ci])
                        blk = np.zeros(64, np.float64)
                        blk[_ZIGZAG] = zz * qt[tq]
                        blk = blk.reshape(8, 8)
                        spatial = _IDCT_M.T @ blk @ _IDCT_M + 128.0
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = spatial
            mcu_n += 1
    out = []
    for (cid, hs, vs, tq), plane in zip(comps, planes):
        up = plane.repeat(max_v // vs, axis=0).repeat(max_h // hs, axis=1)
        out.append(up[:h, :w])
    if len(out) == 1:
        gray = np.clip(np.round(out[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _pixel_features(px: np.ndarray, dim: int) -> list[float]:
    """Deterministic feature vector from decoded pixels: per-channel
    mean/std (normalized), padded/truncated to ``dim``."""
    f = px.astype(np.float64) / 255.0
    feats: list[float] = []
    for c in range(f.shape[2]):
        feats.append(float(f[:, :, c].mean()))
        feats.append(float(f[:, :, c].std()))
    feats = feats[:dim]
    feats += [0.0] * (dim - len(feats))
    return feats


def decode_image_real(payload: bytes, dim: int = 8
                      ) -> tuple[int, int, Optional[list[float]]]:
    """(width, height, embedding) for a real image payload. All four
    stdlib-decodable formats (PNG/BMP/PPM + baseline JPEG, r04) yield
    real pixel features. JPEGs the pure-numpy decoder can't handle
    (progressive SOF2 — the most common web encoding — multi-scan
    baseline, truncated entropy data) degrade to (w, h, None) from
    the header, matching the pre-pixel-decode contract: one exotic
    JPEG in a corpus must not abort the whole mapInPandas job."""
    fmt = detect_format(payload)
    if fmt == "png":
        px = decode_png(payload)
        h, w = px.shape[:2]
        return w, h, _pixel_features(px, dim)
    if fmt == "bmp":
        px = decode_bmp(payload)
        return px.shape[1], px.shape[0], _pixel_features(px, dim)
    if fmt == "ppm":
        px = decode_ppm(payload)
        return px.shape[1], px.shape[0], _pixel_features(px, dim)
    if fmt == "jpeg":
        try:
            px = decode_jpeg(payload)
            return px.shape[1], px.shape[0], _pixel_features(px, dim)
        except (NotImplementedError, ValueError, IndexError, KeyError):
            w, h = jpeg_dims(payload)  # raises if even SOF is absent
            return w, h, None
    raise NotImplementedError(
        f"unrecognized image payload (format={fmt!r}); stdlib codecs "
        f"cover png/bmp/ppm/baseline-jpeg — pass deterministic_fake="
        f"True to process arbitrary bytes with synthetic features")


def decode_wav_rms(payload: bytes, n_frames: int) -> list[float]:
    """Real WAV decode (stdlib ``wave``): PCM samples → ``n_frames``
    equal chunks → per-chunk RMS normalized to [0, 1]."""
    import io
    import wave
    with wave.open(io.BytesIO(payload), "rb") as wf:
        sampwidth = wf.getsampwidth()
        raw = wf.readframes(wf.getnframes())
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sampwidth)
    if dtype is None:
        raise NotImplementedError(f"WAV sample width {sampwidth}")
    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if sampwidth == 1:
        x = x - 128.0
    full = float(2 ** (8 * sampwidth - 1))
    x = x / full
    if len(x) == 0:
        return [0.0] * n_frames
    chunks = np.array_split(x, n_frames)
    return [float(np.sqrt((c ** 2).mean())) if len(c) else 0.0
            for c in chunks]


def _fake_image_features(payload: bytes, dim: int = 8) -> tuple[int, int, list[float]]:
    """Deterministic synthetic decode: dims + embedding derived from
    the payload hash. Stands in for a real decoder (PIL/cv2)."""
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    # cycle the digest so any dim works (r05: dim > 8 read past the
    # 32-byte digest and crashed the whole mapInPandas job)
    hh = h * (4 * dim // len(h) + 2)
    emb = [struct.unpack("<I", hh[4 * i: 4 * i + 4])[0] / 2**32
           for i in range(dim)]
    return width, height, emb


def decode_images(df: DataFrame, bin_col: str = "payload",
                  id_col: str = "doc_id", dim: int = 8,
                  deterministic_fake: bool = False) -> DataFrame:
    """binary → (doc_id, width, height, embedding) via Arrow-batched
    mapInPandas. Real stdlib codecs decode PNG/BMP/PPM pixels and
    JPEG dimensions (module docstring); ``deterministic_fake=True``
    instead hashes arbitrary bytes into synthetic features (the
    oracle-checkable path — DuckDB reproduces the sha256 fake)."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[bin_col]):
                if deterministic_fake:
                    w, h, emb = _fake_image_features(bytes(payload), dim)
                else:
                    w, h, emb = decode_image_real(bytes(payload), dim)
                rows.append((did, w, h, emb))
            yield pd.DataFrame(rows,
                               columns=["doc_id", "width", "height",
                                        "embedding"])

    return df.select(id_col, bin_col).mapInPandas(batches, schema)


def sample_audio_frames(df: DataFrame, bin_col: str = "payload",
                        id_col: str = "doc_id", n_frames: int = 4,
                        deterministic_fake: bool = False) -> DataFrame:
    """binary audio → per-frame RMS rows (frame sampling pattern):
    one input row fans out to n_frames output rows inside the Arrow
    batch — the shape real loudness/VAD extraction uses. WAV payloads
    get REAL PCM decoding (stdlib ``wave``); other bytes require
    ``deterministic_fake=True`` (sha256-seeded synthetic RMS)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(payload)
                # deterministic_fake wins over format detection, same
                # precedence as decode_images — the sha256 fake is the
                # oracle-checkable path and must not depend on payload
                # bytes happening to look like RIFF (r02 code review)
                if deterministic_fake:
                    h = hashlib.sha256(b).digest()
                    # cycle the digest: n_frames > 32 crashed (r05)
                    rms = [h[i % len(h)] / 255.0
                           for i in range(n_frames)]
                elif detect_format(b) == "wav":
                    rms = decode_wav_rms(b, n_frames)
                else:
                    raise NotImplementedError(
                        "non-WAV audio payload: only PCM WAV decodes "
                        "with stdlib codecs — pass "
                        "deterministic_fake=True for arbitrary bytes")
                for i, v in enumerate(rms):
                    rows.append((did, i, v))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "rms"])

    return df.select(id_col, bin_col).mapInPandas(batches, AUDIO_FRAMES_SCHEMA)


def attach_binary_payload(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Build a synthetic binary column from text (test fixture for the
    multimodal path: real datasets carry bytes in parquet the same
    way)."""
    from .util import SPREAD_MIN_BYTES, spread as _spread
    df = _spread(df, id_col, min_bytes=SPREAD_MIN_BYTES)  # downstream
    # decode is a Python pass — 1 worker on a 1-row-group local scan
    # otherwise (r11, guide §6)
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit("txt").alias("format"),
        ).alias("meta"),
    )


def to_rgb(px: "np.ndarray") -> "np.ndarray":
    """Normalize decoder output to (h, w, 3) RGB: grayscale
    replicates, gray+alpha drops alpha then replicates, RGBA drops
    alpha (r05: gray/RGBA sources leaked 1/2/4-channel payloads
    through the documented 3-bytes-per-pixel contract)."""
    if px.ndim == 2:
        px = px[:, :, None]
    c = px.shape[2]
    if c == 1:
        return np.repeat(px, 3, axis=2)
    if c == 2:  # gray + alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    if c >= 4:  # RGBA → RGB
        return px[:, :, :3]
    return px


def resize_nearest(px: "np.ndarray", out_w: int, out_h: int) -> "np.ndarray":
    """Nearest-neighbor resample of an (h, w, c) uint8 array — real
    resizing with no imaging library: index maps via integer centers
    (the standard NN formula floor((i + 0.5) * src/dst))."""
    h, w = px.shape[:2]
    yi = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(int),
                    h - 1)
    xi = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(int),
                    w - 1)
    return px[yi][:, xi]


def resize_images(df: DataFrame, bin_col: str = "payload",
                  id_col: str = "doc_id", out_w: int = 32,
                  out_h: int = 32) -> DataFrame:
    """binary image → (doc_id, width, height, rgb) where ``rgb`` is
    the resized out_h×out_w×3 frame as raw bytes (row-major RGB) and
    width/height are the ORIGINAL dimensions — the thumbnail/
    preprocessing stage of an image-training pipeline.

    Real for the stdlib-decodable formats (PNG/BMP/PPM + baseline
    JPEG pixels; nearest-neighbor resample in numpy); progressive
    JPEG and other formats raise with guidance — unlike
    :func:`decode_images` there is no dims-only fallback, because a
    resize output without pixels is useless (no PIL/cv2 in this
    environment — the Spark-side plumbing, schema, and batch shape
    are real and tested either way). Arrow-batched
    ``mapInPandas``; output is ~3·out_w·out_h bytes/row regardless of
    input size, so the shuffle after this stage is bounded."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("rgb", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(payload)
                fmt = detect_format(b)
                if fmt == "png":
                    px = decode_png(b)
                elif fmt == "bmp":
                    px = decode_bmp(b)
                elif fmt == "ppm":
                    px = decode_ppm(b)
                elif fmt == "jpeg":
                    px = decode_jpeg(b)
                else:
                    raise NotImplementedError(
                        f"resize_images: format {fmt or 'unknown'} has "
                        f"no stdlib pixel decoder (PNG/BMP/PPM/"
                        f"baseline-JPEG are supported)")
                px = to_rgb(px)
                h, w, _ = px.shape
                small = resize_nearest(px, out_w, out_h)
                rows.append((did, w, h,
                             small.astype(np.uint8).tobytes()))
            yield pd.DataFrame(rows,
                               columns=["doc_id", "width", "height",
                                        "rgb"])

    return df.select(id_col, bin_col).mapInPandas(batches, schema)
