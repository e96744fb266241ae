"""Multimodal column operators (builder brief "Multimodal columns").

Media is carried as an opaque ``binary`` payload column + typed metadata
columns — the only schema that survives 100 TB: Spark never interprets
the bytes except inside explicitly Arrow-batched Python stages, and
everything else (filters on kind/format/dimensions, joins to caption
text, size accounting) is pure columnar work that prunes and pushes down.

The decode boundary is honest about this container: compressed-format
decoding libraries (PIL/opencv) are NOT installed, so

* ``decode_image``/``resize_image`` carry a REAL stdlib implementation
  for the formats a pure-Python parser can own — 24-bit BI_RGB BMP,
  binary P6 PPM, 8-bit PNG — non-interlaced AND Adam7-interlaced
  (stdlib zlib inflate + per-scanline unfilter + §8.2 deinterlace,
  r10) — JPEG, sequential and progressive, through one multi-scan
  decoder (from-the-spec T.81 Huffman + IDCT decode: interleaved and
  per-component scans, 4:4:4/4:2:2/4:2:0/grayscale, restart markers),
  and lossless WebP (VP8L, r11) — and raise ``NotImplementedError`` for
  anything else (lossless/hierarchical/arithmetic JPEG, lossy-VP8 WebP,
  …) unless a decoder is injected;
* ``extract_features`` runs a real ``mapInPandas`` pipeline with a
  deterministic byte-histogram featurizer standing in for a model
  embedding — the Arrow batch shape, schema handling, and partitioning
  are exactly what a real encoder stage uses (pass ``featurizer=`` to
  swap in the model call, including one built on ``decode_image``);
* ``sample_frames`` emulates video frame sampling by slicing k
  evenly-spaced windows out of the payload — one row in, k rows out,
  the fan-out shape of a real frame extractor.

Scale notes: feature extraction is map-only (scales with executors; no
shuffle), and payload bytes never cross a shuffle boundary — downstream
joins/aggregations use the slim (media_id, features/meta) projections.
"""

from __future__ import annotations

import struct
from typing import Callable, Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_FEATURES = 16

FEATURE_SCHEMA = "media_id bigint, kind string, n_bytes int, features array<double>"
FRAME_SCHEMA = "media_id bigint, frame_idx int, frame_bytes binary"


class DecodedImage(NamedTuple):
    """Row-major RGB pixel buffer (3 bytes/pixel, top-down)."""

    width: int
    height: int
    pixels: bytes  # len == width * height * 3


def _decode_bmp(payload: bytes) -> DecodedImage:
    """24-bit uncompressed (BI_RGB) BMP → RGB. Pure stdlib: header
    offsets per the BITMAPINFOHEADER layout; rows are 4-byte aligned and
    stored bottom-up (top-down when height is negative), pixels BGR."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP is supported (bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"invalid BMP dimensions {width}x{height}")
    row_stride = (width * 3 + 3) & ~3
    out = bytearray(width * height * 3)
    for y in range(height):
        src_row = y if top_down else height - 1 - y
        base = data_off + src_row * row_stride
        row = payload[base : base + width * 3]
        if len(row) < width * 3:
            raise ValueError("truncated BMP pixel data")
        dst = y * width * 3
        # BGR -> RGB
        out[dst : dst + width * 3 : 3] = row[2::3]
        out[dst + 1 : dst + width * 3 : 3] = row[1::3]
        out[dst + 2 : dst + width * 3 : 3] = row[0::3]
    return DecodedImage(width, height, bytes(out))


def _decode_ppm(payload: bytes) -> DecodedImage:
    """Binary P6 PPM (maxval ≤ 255) → RGB. Header is whitespace-separated
    tokens with '#' comments; pixel data follows the single whitespace
    after maxval, already RGB."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i < len(payload) and payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    width, height, maxval = tokens
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid PPM dimensions {width}x{height}")
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    i += 1  # exactly one whitespace byte after maxval
    need = width * height * 3
    pixels = payload[i : i + need]
    if len(pixels) < need:
        raise ValueError("truncated PPM pixel data")
    return DecodedImage(width, height, pixels)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: Adam7 pass grid: (x0, y0, dx, dy) per pass — PNG spec §8.2.  Each
#: pass is a reduced image, filtered independently (its own scanlines,
#: its own prev-row context), whose samples scatter back onto the full
#: grid at (x0 + i·dx, y0 + j·dy).
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Reverse the per-scanline PNG filters (spec §9: None/Sub/Up/
    Average/Paeth).  ``raw`` is the inflated stream: height scanlines of
    (1 filter byte + width*bpp sample bytes); returns the defiltered
    sample buffer."""
    stride = width * bpp
    out = bytearray(stride * height)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        if len(line) < stride:
            raise ValueError("truncated PNG scanline data")
        pos += stride
        base = y * stride
        prev = out[base - stride : base] if y else bytes(stride)
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[base : base + stride] = line
    return out


def _adam7_deinterlace(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Adam7 deinterlace (PNG spec §8.2): the inflated stream holds the
    seven reduced images in pass order, each filtered independently
    (``_png_unfilter`` with the pass's own reduced dimensions), whose
    samples scatter back onto the full-size grid.  Empty passes (a
    dimension smaller than the pass origin) contribute zero bytes."""
    out = bytearray(width * height * bpp)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx if width > x0 else 0
        ph = (height - y0 + dy - 1) // dy if height > y0 else 0
        if pw == 0 or ph == 0:
            continue
        span = ph * (1 + pw * bpp)
        if len(raw) < pos + span:
            raise ValueError("truncated PNG pixel data (Adam7 pass)")
        sub = _png_unfilter(raw[pos : pos + span], pw, ph, bpp)
        pos += span
        for j in range(ph):
            row_base = j * pw * bpp
            y = y0 + j * dy
            for i in range(pw):
                dst = (y * width + x0 + i * dx) * bpp
                src = row_base + i * bpp
                out[dst : dst + bpp] = sub[src : src + bpp]
    return out


def _decode_png(payload: bytes) -> DecodedImage:
    """8-bit PNG → RGB, pure stdlib (zlib inflate + §9 scanline
    unfilter), non-interlaced AND Adam7-interlaced (§8.2 pass-by-pass
    deinterlace, r10).  Color types: 0 gray, 2 RGB, 3 palette, 4
    gray+alpha, 6 RGBA — alpha is stripped (the featurizer contract is
    an opaque RGB buffer).  16-bit depth raises
    ``NotImplementedError``; a real corpus shard with that goes through
    the injected-decoder seam."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = b""
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    width, height, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if width == 0 or height == 0:
        raise ValueError(f"invalid PNG dimensions {width}x{height}")
    if comp != 0 or filt != 0:
        raise ValueError("invalid PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"invalid PNG color type {color}")
    if depth != 8:
        raise NotImplementedError(f"only 8-bit PNG is supported (depth={depth})")
    raw = zlib.decompress(bytes(idat))
    if interlace == 1:
        samples = _adam7_deinterlace(raw, width, height, channels)
    else:
        if len(raw) < height * (1 + width * channels):
            raise ValueError("truncated PNG pixel data")
        samples = _png_unfilter(raw, width, height, channels)
    n = width * height
    out = bytearray(n * 3)
    if color == 2:  # RGB straight through
        out[:] = samples
    elif color == 6:  # RGBA → strip alpha
        out[0::3] = samples[0::4]
        out[1::3] = samples[1::4]
        out[2::3] = samples[2::4]
    elif color == 0:  # gray → replicate
        out[0::3] = samples
        out[1::3] = samples
        out[2::3] = samples
    elif color == 4:  # gray+alpha → replicate gray, strip alpha
        g = samples[0::2]
        out[0::3] = g
        out[1::3] = g
        out[2::3] = g
    else:  # palette
        if not plte or len(plte) % 3:
            raise ValueError("paletted PNG missing a valid PLTE chunk")
        n_entries = len(plte) // 3
        for i, idx in enumerate(samples):
            if idx >= n_entries:
                raise ValueError(f"palette index {idx} out of range")
            out[i * 3 : i * 3 + 3] = plte[idx * 3 : idx * 3 + 3]
    return DecodedImage(width, height, bytes(out))


# --- JPEG (Huffman-coded DCT, ITU-T T.81) ----------------------------------
#
# A from-the-spec pure-Python decoder for the profiles camera and web
# encoders emit: sequential (SOF0 baseline, SOF1 extended) and
# progressive (SOF2), 8-bit, any sampling factors up to 2x2 (4:4:4 /
# 4:2:2 / 4:2:0 / grayscale), with restart-marker support.  Lossless,
# hierarchical and arithmetic-coded frames raise NotImplementedError and
# remain the injection seam.  Throughput is Python-speed — the
# production path injects a codec — but fixture corpora round-trip
# through decode_image with zero dependencies.

#: zigzag scan position -> natural (row-major) coefficient index
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _jpeg_dct_matrix() -> list[list[float]]:
    """M[u][x] = c(u)/2 * cos((2x+1)u*pi/16): F = M f (1-D FDCT) and
    f = M^T F (1-D IDCT) under the T.81 normalization."""
    import math

    return [
        [
            (math.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * math.cos((2 * x + 1) * u * math.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]


_JPEG_M = _jpeg_dct_matrix()


def _jpeg_idct_8x8(coef: list[float]) -> list[int]:
    """2-D separable inverse DCT + level shift; returns 64 clamped ints."""
    m = _JPEG_M
    # rows: tmp[y][x] = sum_u M[u][x] * coef[y*8+u]
    tmp = [
        [sum(m[u][x] * coef[y * 8 + u] for u in range(8)) for x in range(8)]
        for y in range(8)
    ]
    out = [0] * 64
    for x in range(8):
        col = [tmp[v][x] for v in range(8)]
        for y in range(8):
            s = sum(m[v][y] * col[v] for v in range(8)) + 128.0
            out[y * 8 + x] = 0 if s < 0 else (255 if s > 255 else int(s + 0.5))
    return out


def _jpeg_build_huffman(counts: bytes, symbols: bytes) -> dict:
    """Canonical Huffman code table: (length, code) -> symbol."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing; a bare marker yields zero bits (stream end)."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos < len(self.data):
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = (
                    self.data[self.pos + 1]
                    if self.pos + 1 < len(self.data)
                    else 0xD9
                )
                if nxt == 0x00:
                    self.pos += 2
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    return
                # a real marker: leave it unconsumed, pad with zeros
                self.acc <<= 8
                self.nbits += 8
                return
            self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        else:
            self.acc <<= 8
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def byte_align(self) -> None:
        self.acc = 0
        self.nbits = 0


def _jpeg_huff_decode(reader: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    """Sign-extend a t-bit magnitude per T.81 F.2.2.1."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _jpeg_planes_to_rgb(
    width: int,
    height: int,
    comps: list,
    planes: dict,
    strides: dict,
    hmax: int,
    vmax: int,
) -> DecodedImage:
    """Upsample the decoded component planes and convert (Y / YCbCr)
    to RGB."""
    out = bytearray(width * height * 3)
    if len(comps) == 1:
        cid = comps[0][0]
        plane, stride = planes[cid], strides[cid]
        for y in range(height):
            base = y * stride
            for x in range(width):
                g = plane[base + x]
                o = (y * width + x) * 3
                out[o] = out[o + 1] = out[o + 2] = g
    elif len(comps) == 3:
        (c1, h1, v1, _), (c2, h2, v2, _), (c3, h3, v3, _) = comps
        p1, s1 = planes[c1], strides[c1]
        p2, s2 = planes[c2], strides[c2]
        p3, s3 = planes[c3], strides[c3]
        for y in range(height):
            r1 = (y * v1 // vmax) * s1
            r2 = (y * v2 // vmax) * s2
            r3 = (y * v3 // vmax) * s3
            for x in range(width):
                lum = p1[r1 + x * h1 // hmax]
                cb = p2[r2 + x * h2 // hmax] - 128
                cr = p3[r3 + x * h3 // hmax] - 128
                r = lum + 1.402 * cr
                g = lum - 0.344136 * cb - 0.714136 * cr
                b = lum + 1.772 * cb
                o = (y * width + x) * 3
                out[o] = 0 if r < 0 else (255 if r > 255 else int(r + 0.5))
                out[o + 1] = 0 if g < 0 else (255 if g > 255 else int(g + 0.5))
                out[o + 2] = 0 if b < 0 else (255 if b > 255 else int(b + 0.5))
    else:
        raise NotImplementedError(
            f"JPEG with {len(comps)} components not supported"
        )
    return DecodedImage(width, height, bytes(out))


# --- JPEG decode: one multi-scan path for both modes -----------------------
#
# The decoder keeps a per-component COEFFICIENT buffer (zigzag order, raw
# quantized values, MCU-padded block grid) that any number of scans fill;
# dequantize + IDCT run once, after EOI.  The SOF marker sets the mode.
# A sequential scan (SOF0/SOF1, T.81 Annex F) decodes DC and AC 1..63 of
# each of its blocks in full.  Progressive scans (SOF2, Annex G) refine
# the buffer: a first DC scan delivers DC >> Al, later DC scans append
# one bit per block; first AC scans deliver a spectral band's
# coefficients at reduced precision with EOB-RUN coding across blocks
# (symbols EOB0..EOB14), and AC refinement scans append one correction
# bit to every already-nonzero coefficient while inserting newly-nonzero
# ±1<<Al values, following T.81 G.1.2/G.2 exactly.
#
# In either mode a scan walks one of two orders (T.81 A.2): an
# interleaved scan (Ns > 1) the MCU-padded grid, a non-interleaved scan
# (Ns = 1) the component's OWN unpadded block grid.  On a subsampled or
# partial-MCU frame the two orders differ.  The encoder twins in
# tools/media_encoders.py emit both orders in both modes, and the
# round-trip tests pin bit-exact pixel equality between them.

#: every SOFn marker (C4 DHT, C8 JPG and CC DAC are not frames)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _decode_jpeg(payload: bytes) -> DecodedImage:
    """Sequential (SOF0/SOF1) or progressive (SOF2) JPEG -> RGB."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, list[int]] = {}  # id -> 64 values in zigzag order
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (height, width, [(cid, h, v, tq), ...])
    progressive = False
    restart_interval = 0
    n_scans = 0
    coefs: dict[int, list[list[int]]] = {}  # cid -> blocks of 64 zigzag ints
    geom: dict = {}

    while pos + 1 < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected JPEG marker at offset {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker code (camera firmwares pad with them); the marker byte
        # is the first non-0xFF after the run.
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(payload[pos : pos + 2], "big")
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq:  # 16-bit precision
                    qtabs[tq] = [
                        int.from_bytes(seg[i + 2 * k : i + 2 * k + 2], "big")
                        for k in range(64)
                    ]
                    i += 128
                else:
                    qtabs[tq] = list(seg[i : i + 64])
                    i += 64
        elif marker == 0xC4:  # DHT; tables may be redefined BETWEEN scans
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = seg[i + 1 : i + 17]
                n = sum(counts)
                symbols = seg[i + 17 : i + 17 + n]
                (huff_ac if tc else huff_dc)[th] = _jpeg_build_huffman(
                    counts, symbols
                )
                i += 17 + n
        elif marker in _JPEG_SOF:
            if frame is not None:
                raise ValueError("JPEG stream with a second SOF")
            if marker not in (0xC0, 0xC1, 0xC2):
                raise NotImplementedError(
                    f"JPEG SOF marker 0x{marker:02X} (lossless, hierarchical "
                    "or arithmetic-coded) not supported"
                )
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit JPEG is supported")
            progressive = marker == 0xC2
            height = int.from_bytes(seg[1:3], "big")
            width = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (height, width, comps)
            hmax = max(h for _, h, _, _ in comps)
            vmax = max(v for _, _, v, _ in comps)
            if hmax > 2 or vmax > 2:
                raise NotImplementedError(
                    "JPEG sampling factors above 2 not supported"
                )
            mcux = (width + 8 * hmax - 1) // (8 * hmax)
            mcuy = (height + 8 * vmax - 1) // (8 * vmax)
            for cid, h, v, tq in comps:
                # MCU-padded block grid; non-interleaved scans address
                # the unpadded prefix of each block row
                bw, bh = mcux * h, mcuy * v
                coefs[cid] = [[0] * 64 for _ in range(bw * bh)]
                cw = -(-width * h // hmax)
                ch = -(-height * v // vmax)
                geom[cid] = (bw, bh, -(-cw // 8), -(-ch // 8), h, v, tq)
            geom["_frame"] = (mcux, mcuy, hmax, vmax)
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy-coded data follows the segment
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scomps = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                for c in range(ns)
            ]
            if progressive:
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            else:  # DC, then the full AC band 1..63 of every block
                ss, se, ah, al = 1, 63, 0, 0
            pos = _jpeg_scan(
                payload, pos + seglen, progressive, scomps, ss, se, ah, al,
                coefs, geom, huff_dc, huff_ac, restart_interval,
            )
            n_scans += 1
            continue
        pos += seglen

    if not n_scans:  # no SOS (an SOS before any SOF raised above)
        raise ValueError("JPEG missing SOF or SOS")
    height, width, comps = frame
    if not (0 < width and 0 < height):
        raise ValueError(f"invalid JPEG dimensions {width}x{height}")
    mcux, mcuy, hmax, vmax = geom["_frame"]
    planes: dict[int, bytearray] = {}
    strides: dict[int, int] = {}
    for cid, h, v, tq in comps:
        bw, bh = geom[cid][0], geom[cid][1]
        q = qtabs[tq]
        stride = bw * 8
        strides[cid] = stride
        plane = bytearray(stride * bh * 8)
        planes[cid] = plane
        for bi, zz in enumerate(coefs[cid]):
            coef = [0.0] * 64
            for k in range(64):
                if zz[k]:
                    coef[_JPEG_ZIGZAG[k]] = zz[k] * q[k]
            pixels = _jpeg_idct_8x8(coef)
            x0, y0 = (bi % bw) * 8, (bi // bw) * 8
            for yy in range(8):
                row = (y0 + yy) * stride + x0
                plane[row : row + 8] = bytes(pixels[yy * 8 : yy * 8 + 8])
    return _jpeg_planes_to_rgb(width, height, comps, planes, strides, hmax, vmax)


def _jpeg_scan(
    payload: bytes,
    pos: int,
    progressive: bool,
    scomps: list,
    ss: int,
    se: int,
    ah: int,
    al: int,
    coefs: dict,
    geom: dict,
    huff_dc: dict,
    huff_ac: dict,
    restart_interval: int,
) -> int:
    """Decode one scan into the coefficient buffer in place; returns the
    offset of the next marker after the entropy-coded data."""
    reader = _JpegBitReader(payload, pos)
    mcux, mcuy, _hmax, _vmax = geom["_frame"]
    state = {"eobrun": 0, "pred": {cid: 0 for cid, _, _ in scomps}}

    def dc_first(blk, cid, td):
        t = _jpeg_huff_decode(reader, huff_dc[td])
        diff = _jpeg_extend(reader.read_bits(t), t) if t else 0
        state["pred"][cid] += diff
        blk[0] = state["pred"][cid] << al

    def dc_refine(blk):
        if reader.read_bit():
            blk[0] |= 1 << al

    p1 = 1 << al

    def _refine_one(blk, k):
        if reader.read_bit() and (blk[k] & p1) == 0:
            blk[k] += p1 if blk[k] >= 0 else -p1

    def ac_first(blk, ta):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = _jpeg_huff_decode(reader, huff_ac[ta])
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:  # ZRL: 16 zeros
                    k += 16
                    continue
                # EOB; progressive EOBn also covers the next blocks
                if progressive:
                    state["eobrun"] = (1 << r) - 1
                    if r:
                        state["eobrun"] += reader.read_bits(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC index overrun")
            blk[k] = _jpeg_extend(reader.read_bits(s), s) << al
            k += 1

    def ac_refine(blk, ta):
        # T.81 G.2 / figure G.7: runs count only zero-HISTORY positions;
        # every already-nonzero coefficient passed over (including those
        # in blocks merely covered by an EOB run) receives a correction
        # bit in stream order.
        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = _jpeg_huff_decode(reader, huff_ac[ta])
                r, s = rs >> 4, rs & 15
                newval = 0
                if s == 0:
                    if r != 15:
                        state["eobrun"] = (1 << r) + (
                            reader.read_bits(r) if r else 0
                        )
                        break
                else:
                    if s != 1:
                        raise ValueError(
                            "AC refinement symbol with size != 1"
                        )
                    newval = p1 if reader.read_bit() else -p1
                while k <= se:
                    if blk[k] != 0:
                        _refine_one(blk, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    if k > se:
                        # match ac_first: a run that exhausts the band
                        # with a decoded coefficient still pending is a
                        # corrupt stream, never silently droppable
                        raise ValueError("JPEG AC index overrun")
                    blk[k] = newval
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                if blk[k] != 0:
                    _refine_one(blk, k)
                k += 1
            state["eobrun"] -= 1

    def decode_block(blk, cid, td, ta):
        if not progressive:
            dc_first(blk, cid, td)
            ac_first(blk, ta)
        elif ss == 0:
            if ah == 0:
                dc_first(blk, cid, td)
            else:
                dc_refine(blk)
        elif ah == 0:
            ac_first(blk, ta)
        else:
            ac_refine(blk, ta)

    def maybe_restart(unit_count):
        if (
            restart_interval
            and unit_count
            and unit_count % restart_interval == 0
        ):
            reader.byte_align()
            if (
                reader.pos + 1 < len(payload)
                and payload[reader.pos] == 0xFF
                and 0xD0 <= payload[reader.pos + 1] <= 0xD7
            ):
                reader.pos += 2
            state["eobrun"] = 0
            state["pred"] = {cid: 0 for cid, _, _ in scomps}

    if progressive and ss == 0 and se != 0:
        raise ValueError("DC scan must have Se = 0")
    if progressive and ss != 0 and len(scomps) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    n = 0
    if len(scomps) == 1:
        # Non-interleaved scan (Ns = 1): T.81 A.2.2 — the MCU is one data
        # unit and the scan walks the component's OWN unpadded block grid.
        cid, td, ta = scomps[0]
        bw, _bh, ubw, ubh, _h, _v, _tq = geom[cid]
        for by in range(ubh):
            for bx in range(ubw):
                maybe_restart(n)
                decode_block(coefs[cid][by * bw + bx], cid, td, ta)
                n += 1
    else:  # interleaved over the (padded) MCU grid
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart(n)
                for cid, td, ta in scomps:
                    bw, _bh, _ubw, _ubh, h, v, _tq = geom[cid]
                    for byi in range(v):
                        for bxi in range(h):
                            bi = (my * v + byi) * bw + mx * h + bxi
                            decode_block(coefs[cid][bi], cid, td, ta)
                n += 1

    # position at the next true marker (skip entropy remainder + RSTs)
    p = reader.pos
    while p + 1 < len(payload):
        if (
            payload[p] == 0xFF
            and payload[p + 1] != 0x00
            and not (0xD0 <= payload[p + 1] <= 0xD7)
        ):
            break
        p += 1
    return p


# --- WebP / VP8L (lossless) ------------------------------------------------
# From-the-spec implementation of the WebP LOSSLESS bitstream (RFC 9649
# §3-§5): LSB-first bit reading, canonical prefix codes (simple and
# code-length-coded forms), the green/red/blue/alpha/distance code
# group, LZ77 backward references with the 2D distance map, the color
# cache, and the subtract-green transform. Lossless is the ONLY WebP
# codec that can honor this module's pixel-exact decode contract:
# lossy VP8 quantizes coefficients with divisors >= 4 by spec, so
# pixel equality against a source twin is unattainable by definition —
# VP8-lossy payloads therefore remain on the injected-decoder seam
# (NotImplementedError -> decode_ok=false in the audit queries), the
# same category as arithmetic-coded JPEG.
#
# Why there is no bounded-tolerance VP8 decoder here (r12): the
# structural pipeline (frame tag, boolean range decoder, mode trees,
# 4x4 integer IDCT with the 20091/35468 constants, WHT, DC/TM
# prediction) is memorizable from RFC 6386, but a conforming decode
# also requires the spec's CONSTANT DATA: the 4x8x3x11 default
# coefficient-probability table, the coefficient-update-probability
# table, and the 128-entry dc/ac quantizer lookups — ~1.5k numbers
# that cannot be derived, only transcribed, and this environment has
# no copy of them (no RFC text, no libwebp/ffmpeg source, no network).
# An encoder-twin pair that "agrees" on invented tables would decode
# ONLY its own fixtures while silently mis-decoding every real VP8
# file — fake interop, strictly worse than an explicit seam. If the
# tables become available, the VP8L pattern extends: encoder twin in
# tools/media_encoders.py, bounded pixel-error assertion (not
# equality) against the PNG twin.
#
# Scope limits inside VP8L (raised as NotImplementedError, caught by
# the audit queries): the predictor / color / color-indexing transforms
# and meta-prefix entropy images. The encoder twin
# (tools/media_encoders.webp_vp8l_encode) emits none of them; a real
# corpus shard using them routes to an injected native decoder.

#: Distance codes 1..120 map to a 2D pixel neighborhood (x offset,
#: y offset) per RFC 9649 §4.2.2.3; codes above 120 are linear
#: distances minus 120.
_VP8L_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)

#: Code-length-code symbol transmission order (RFC 9649 §4.2.1.2).
_VP8L_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

_VP8L_MAX_CODE_LEN = 15


class _Vp8lBitReader:
    """LSB-first bit reader (RFC 9649 §3: values fill bytes from the
    least significant bit up)."""

    __slots__ = ("data", "byte", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.byte = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.byte >= len(self.data):
            raise ValueError("VP8L: bitstream exhausted")
        b = (self.data[self.byte] >> self.bit) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.byte += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for i in range(n):
            v |= self.read_bit() << i
        return v


def vp8l_canonical_assignment(lengths) -> dict:
    """Canonical prefix-code assignment (DEFLATE rule: codes ordered by
    (length, symbol); RFC 9649 §4.2.1): symbol -> (code, length).
    Shared by this decoder and the encoder twin in
    tools/media_encoders so the two sides cannot diverge."""
    by_len: dict = {}
    for sym, ln in enumerate(lengths):
        if ln:
            by_len.setdefault(ln, []).append(sym)
    out, code = {}, 0
    for ln in range(1, max(by_len, default=0) + 1):
        for sym in by_len.get(ln, ()):
            out[sym] = (code, ln)
            code += 1
        code <<= 1
    return out


class _Vp8lCode:
    """Decode-side canonical prefix code. ``kind``:
    'single' — one-symbol code, reads 0 bits;
    'pair'   — two-symbol simple code in STREAM order (code 0 = first
               transmitted symbol, per the spec's explicit-codes rule);
    'full'   — canonical code over a lengths array."""

    __slots__ = ("kind", "syms", "counts", "first_code", "offset", "sorted_syms")

    def __init__(self, kind: str, syms=None, lengths=None):
        self.kind = kind
        self.syms = syms
        if kind != "full":
            return
        max_len = max(lengths)
        if max_len > _VP8L_MAX_CODE_LEN:
            raise ValueError(f"VP8L: code length {max_len} > 15")
        self.counts = [0] * (max_len + 1)
        for ln in lengths:
            if ln:
                self.counts[ln] += 1
        # completeness (Kraft equality) — required by the spec; an
        # over/under-subscribed code is a corrupt stream
        kraft = sum(c << (max_len - ln) for ln, c in enumerate(self.counts) if ln)
        if kraft != 1 << max_len:
            raise ValueError("VP8L: prefix code not complete")
        self.first_code = [0] * (max_len + 1)
        self.offset = [0] * (max_len + 1)
        code = acc = 0
        for ln in range(1, max_len + 1):
            self.first_code[ln] = code
            self.offset[ln] = acc
            code = (code + self.counts[ln]) << 1
            acc += self.counts[ln]
        self.sorted_syms = vp8l_canonical_assignment(lengths)
        self.sorted_syms = [
            s for s, _ in sorted(self.sorted_syms.items(), key=lambda kv: kv[1])
        ]

    def read(self, br: _Vp8lBitReader) -> int:
        if self.kind == "single":
            return self.syms[0]
        if self.kind == "pair":
            return self.syms[br.read_bit()]
        code = 0
        for ln in range(1, len(self.counts)):
            code = (code << 1) | br.read_bit()
            if self.counts[ln] and self.first_code[ln] <= code < (
                self.first_code[ln] + self.counts[ln]
            ):
                return self.sorted_syms[self.offset[ln] + code - self.first_code[ln]]
        raise ValueError("VP8L: invalid prefix code in stream")


def _vp8l_read_code(br: _Vp8lBitReader, alphabet_size: int) -> _Vp8lCode:
    """One prefix code: the simple (1-2 explicit symbols) or the
    code-length-coded form (RFC 9649 §4.2.1.1-§4.2.1.2)."""
    if br.read_bit():  # simple
        num_symbols = br.read_bit() + 1
        first_8bits = br.read_bit()
        sym0 = br.read_bits(8 if first_8bits else 1)
        if num_symbols == 1:
            return _Vp8lCode("single", syms=(sym0,))
        sym1 = br.read_bits(8)
        return _Vp8lCode("pair", syms=(sym0, sym1))
    num_clc = 4 + br.read_bits(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_VP8L_CLC_ORDER[i]] = br.read_bits(3)
    # libwebp accepts a code-length code with exactly one used symbol
    # (0 bits per read), which would fail the Kraft-equality check in
    # the 'full' constructor — give the CLC the same single-symbol
    # fallback the main codes get below.
    clc_nonzero = [s for s, ln in enumerate(clc_lengths) if ln]
    if len(clc_nonzero) == 1:
        clc = _Vp8lCode("single", syms=(clc_nonzero[0],))
    else:
        clc = _Vp8lCode("full", lengths=clc_lengths)
    if br.read_bit():  # explicit max_symbol
        length_nbits = 2 + 2 * br.read_bits(3)
        max_symbol = 2 + br.read_bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev, i = 8, 0
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = clc.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.read_bits(2)
            if i + rep > alphabet_size:
                raise ValueError("VP8L: code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[i] = prev
                i += 1
        elif s == 17:
            i += 3 + br.read_bits(3)
        else:  # 18
            i += 11 + br.read_bits(7)
        if i > alphabet_size:
            raise ValueError("VP8L: zero-run overruns alphabet")
    if all(ln == 0 for ln in lengths):
        raise ValueError("VP8L: empty prefix code")
    nonzero = [s for s, ln in enumerate(lengths) if ln]
    if len(nonzero) == 1:
        return _Vp8lCode("single", syms=(nonzero[0],))
    return _Vp8lCode("full", lengths=lengths)


def _vp8l_prefix_value(br: _Vp8lBitReader, code: int) -> int:
    """Length/distance prefix decoding (RFC 9649 §4.2.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read_bits(extra) + 1


def _decode_vp8l(data: bytes) -> DecodedImage:
    br = _Vp8lBitReader(data)
    if br.read_bits(8) != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    width = br.read_bits(14) + 1
    height = br.read_bits(14) + 1
    br.read_bit()  # alpha-is-used hint
    if br.read_bits(3) != 0:
        raise ValueError("VP8L: unknown version")
    subtract_green = False
    while br.read_bit():
        t = br.read_bits(2)
        if t == 2:
            subtract_green = True
        else:
            raise NotImplementedError(
                "VP8L predictor/color/color-indexing transforms require an "
                f"injected decoder (transform type {t})"
            )
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read_bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L: invalid color-cache size {cache_bits}")
    if br.read_bit():
        raise NotImplementedError(
            "VP8L meta-prefix entropy images require an injected decoder"
        )
    cache_size = (1 << cache_bits) if cache_bits else 0
    green = _vp8l_read_code(br, 256 + 24 + cache_size)
    red = _vp8l_read_code(br, 256)
    blue = _vp8l_read_code(br, 256)
    alpha = _vp8l_read_code(br, 256)
    dist = _vp8l_read_code(br, 40)

    total = width * height
    argb: list = []
    cache = [0] * cache_size

    def emit(px: int) -> None:
        argb.append(px)
        if cache_size:
            cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px

    while len(argb) < total:
        g = green.read(br)
        if g < 256:
            r = red.read(br)
            b = blue.read(br)
            a = alpha.read(br)
            emit((a << 24) | (r << 16) | (g << 8) | b)
        elif g < 280:
            length = _vp8l_prefix_value(br, g - 256)
            dist_code = _vp8l_prefix_value(br, dist.read(br))
            if dist_code > 120:
                d = dist_code - 120
            else:
                dx, dy = _VP8L_DIST_MAP[dist_code - 1]
                d = dy * width + dx
                if d < 1:
                    d = 1
            if d > len(argb):
                raise ValueError("VP8L: backward reference before image start")
            if length > total - len(argb):
                raise ValueError("VP8L: backward reference past image end")
            for _ in range(length):
                emit(argb[-d])
        else:
            idx = g - 280
            if idx >= cache_size:
                raise ValueError("VP8L: color-cache index out of range")
            argb.append(cache[idx])  # cache hits re-insert the same value

    out = bytearray(total * 3)
    for i, px in enumerate(argb):
        g = (px >> 8) & 0xFF
        r = (px >> 16) & 0xFF
        b = px & 0xFF
        if subtract_green:
            r = (r + g) & 0xFF
            b = (b + g) & 0xFF
        out[3 * i] = r
        out[3 * i + 1] = g
        out[3 * i + 2] = b
    return DecodedImage(width, height, bytes(out))


def _decode_webp(payload: bytes) -> DecodedImage:
    """RIFF/WEBP container: decode the VP8L (lossless) chunk; lossy VP8
    and anything without a VP8L chunk stay on the injected-decoder seam
    (see the VP8L block comment for why lossy cannot meet the
    pixel-exact contract)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            break  # truncated/garbled chunk list: fall through to the seam
        if fourcc == b"VP8L":
            return _decode_vp8l(body)
        pos += 8 + size + (size & 1)
    raise NotImplementedError(
        "WebP container recognized but no VP8L (lossless) chunk found; "
        "lossy VP8 requires an injected decoder (and cannot be "
        "pixel-exact by spec: coefficient quantizers are >= 4)"
    )


def decode_image(
    payload: bytes, decoder: Callable[[bytes], object] | None = None
) -> object:
    """Decode an image payload to a :class:`DecodedImage`.

    Executable without any external library for 24-bit BMP, binary PPM,
    8-bit PNG, non-interlaced and Adam7-interlaced (stdlib zlib +
    scanline unfilter + deinterlace), both Huffman JPEG DCT modes
    through one multi-scan decoder — sequential (SOF0/1; one
    interleaved scan or one scan per component) and progressive (SOF2,
    spectral selection + successive approximation with EOB-run and
    refinement-bit decoding) — 4:4:4/4:2:2/4:2:0/grayscale, restart
    markers, fill bytes — and lossless WebP (VP8L: canonical prefix
    codes, LZ77 + 2D distance map, color cache, subtract-green; r11).
    Lossless, hierarchical or arithmetic-coded JPEG (NotImplementedError
    at the SOF) and lossy-VP8 WebP still require an injected
    ``decoder`` (e.g. a PIL.Image.open wrapper) —
    and at production throughput a native codec should be injected for
    ALL formats; the stdlib decoders pin the semantics."""
    if decoder is not None:
        return decoder(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return _decode_webp(payload)
    raise NotImplementedError(
        "built-in decode covers 24-bit BMP, P6 PPM, 8-bit PNG, "
        "baseline/progressive JPEG, and lossless-WebP (VP8L) only; "
        "inject a decoder for other formats (no PIL/opencv in this "
        "environment)"
    )


def resize_image(
    payload: bytes, width: int, height: int, resizer=None
) -> object:
    """Nearest-neighbor resize over :func:`decode_image`'s RGB buffer —
    executable stdlib-only for BMP/PPM payloads; inject ``resizer`` for
    formats (or interpolation kernels) beyond the built-in path."""
    if resizer is not None:
        return resizer(payload, width, height)
    img = decode_image(payload)
    out = bytearray(width * height * 3)
    for y in range(height):
        sy = y * img.height // height
        src_base = sy * img.width * 3
        dst_base = y * width * 3
        for x in range(width):
            sx = x * img.width // width
            s = src_base + sx * 3
            d = dst_base + x * 3
            out[d : d + 3] = img.pixels[s : s + 3]
    return DecodedImage(width, height, bytes(out))


def _overlap_weights(n_cells: int, length: int) -> list:
    """Rational box-overlap weights for an exact area average.

    Both grids are scaled to the common integer lattice
    ``length × n_cells``: source element ``x`` covers
    ``[x*n_cells, (x+1)*n_cells)`` and output cell ``i`` covers
    ``[i*length, (i+1)*length)``, so every intersection length is an
    integer and the total weight of each cell is exactly ``length``.
    Works for downscale and upscale alike (shared by :func:`_box_gray`,
    :func:`thumbnail`, and :func:`resample_audio`)."""
    per_cell = []
    for i in range(n_cells):
        lo, hi = i * length, (i + 1) * length
        w = []
        for x in range(lo // n_cells, (hi + n_cells - 1) // n_cells):
            ov = min(hi, (x + 1) * n_cells) - max(lo, x * n_cells)
            if ov > 0:
                w.append((x, ov))
        per_cell.append(w)
    return per_cell


def thumbnail_dims(width: int, height: int, box: int = 16) -> tuple:
    """Aspect-preserving fit-in-``box`` target dimensions, integer
    round-half-up on the short side, floored at 1 — the deterministic
    sizing rule a batched thumbnail stage shares across executors."""
    if width >= height:
        return box, max(1, (2 * height * box + width) // (2 * width))
    return max(1, (2 * width * box + height) // (2 * height)), box


def thumbnail(img: DecodedImage, box: int = 16) -> DecodedImage:
    """Exact-integer area-average thumbnail (box filter), aspect
    preserved to fit in ``box`` × ``box``.

    Unlike :func:`resize_image`'s nearest-neighbor (which aliases —
    thin structure lands on whichever source pixel the lattice hits),
    every output pixel here is the TRUE area average of the source
    region it covers, per channel, using the same rational-overlap
    lattice as :func:`_box_gray`: numerator ``Σ wy·wx·channel`` over the
    exact denominator ``width*height``, rounded half-up via
    ``(2*acc + den) // (2*den)``.  All-integer, so the thumbnail bytes
    are bit-identical on every platform — which is what lets a
    generation-time fixture stamp serve as the oracle for the
    distributed decode→resize stage (q261)."""
    tw, th = thumbnail_dims(img.width, img.height, box)
    wx = _overlap_weights(tw, img.width)
    wy = _overlap_weights(th, img.height)
    px = img.pixels
    w = img.width
    den = img.width * img.height
    out = bytearray(tw * th * 3)
    # separable pass per channel: rows collapse into y-cells first
    for c in range(3):
        chan = px[c::3]
        rows = []
        for wyj in wy:
            acc = [0] * w
            for y, oy in wyj:
                base = y * w
                for x in range(w):
                    acc[x] += oy * chan[base + x]
            rows.append(acc)
        for j, row in enumerate(rows):
            for i, wxi in enumerate(wx):
                acc = sum(ox * row[x] for x, ox in wxi)
                out[(j * tw + i) * 3 + c] = (2 * acc + den) // (2 * den)
    return DecodedImage(tw, th, bytes(out))


def pixel_checksum(img: DecodedImage) -> int:
    """Position-weighted byte checksum ``Σ (i+1)·byte_i`` of an RGB
    buffer — order-sensitive (catches transposes and channel swaps a
    plain sum would miss), exact in 64 bits for any thumbnail-sized
    buffer, and reproducible from the same pixels in any engine."""
    return sum((i + 1) * b for i, b in enumerate(img.pixels))


def _box_gray(img: DecodedImage, nx: int, ny: int) -> list:
    """Exact-integer area-average downscale of the luma plane to an
    ``nx`` × ``ny`` grid.

    Every cell value is the box-filter integral as an INTEGER NUMERATOR
    over the common denominator ``width * height`` (luma itself is kept
    at the BT.709 fixed-point scale 2126 R + 7152 G + 722 B, never
    divided), so two cells compare exactly — no float rounding, no
    platform drift, and ties are real ties.  Overlap weights are the
    classic rational box trick: scale both grids to the common lattice
    ``source_len × n_cells``, where pixel ``x`` covers
    ``[x*n, (x+1)*n)`` and cell ``i`` covers ``[i*len, (i+1)*len)`` —
    the intersection length is an integer.  Works for downscale and
    upscale alike (a 4-px row spread over 9 cells just gives fractional
    overlaps), which matters because fixture images may be smaller than
    the hash grid."""
    wx = _overlap_weights(nx, img.width)
    wy = _overlap_weights(ny, img.height)
    px = img.pixels
    w = img.width
    gray = [
        2126 * px[o] + 7152 * px[o + 1] + 722 * px[o + 2]
        for o in range(0, len(px), 3)
    ]
    # separable pass: collapse rows into each y-cell first
    rows = []
    for wyj in wy:
        acc = [0] * w
        for y, oy in wyj:
            base = y * w
            for x in range(w):
                acc[x] += oy * gray[base + x]
        rows.append(acc)
    return [[sum(ox * row[x] for x, ox in wxi) for wxi in wx] for row in rows]


def dhash(img: DecodedImage) -> int:
    """64-bit difference hash (dHash) of an image — the standard cheap
    perceptual fingerprint for near-duplicate image detection in
    training-data pipelines (re-encoded, brightness-shifted, or lightly
    edited copies land within a small Hamming distance; unrelated
    images sit near the 32-bit expectation).

    Luma is area-averaged onto a 9 × 8 grid with exact integer
    arithmetic (:func:`_box_gray`), then each bit records whether the
    right neighbor is strictly brighter: bit ``y*8 + x`` (MSB first) =
    ``cell[y][x+1] > cell[y][x]``.  Monotone tone changes (gain,
    non-clamping brightness shift) preserve every comparison, which is
    exactly the invariance wanted.  Returned as a SIGNED 64-bit value
    (two's complement) so it stores directly in a BIGINT column;
    Hamming distance is ``bit_count(a ^ b)`` in both Spark and DuckDB.
    """
    cells = _box_gray(img, 9, 8)
    h = 0
    for row in cells:
        for x in range(8):
            h = (h << 1) | (1 if row[x + 1] > row[x] else 0)
    return h - (1 << 64) if h >= (1 << 63) else h


class DecodedAudio(NamedTuple):
    """Interleaved PCM samples as plain ints (per frame, per channel)."""

    sample_rate: int
    n_channels: int
    bits_per_sample: int
    samples: tuple  # flattened interleaved frames


def _decode_wav(payload: bytes) -> DecodedAudio:
    """RIFF/WAVE with 8- or 16-bit integer PCM → interleaved samples.
    Pure stdlib: walks the chunk list (fmt may be preceded by LIST/fact
    etc.), honours chunk word-alignment, rejects compressed formats."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if len(fmt) < 16:
        # the pre-PCM 14-byte WAVE_FORMAT chunk has no wBitsPerSample;
        # only the PCM extension (>= 16 bytes) is decodable here
        raise NotImplementedError(
            f"fmt chunk of {len(fmt)} bytes lacks wBitsPerSample; "
            "only PCM WAVE_FORMAT (16+ bytes) is supported"
        )
    audio_fmt, n_ch, rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if n_ch == 0 or rate == 0:
        raise ValueError(f"invalid WAV header: {n_ch} channels, {rate} Hz")
    if audio_fmt != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"only 8/16-bit integer PCM WAV is supported "
            f"(fmt={audio_fmt}, bits={bits})"
        )
    if bits == 16:
        n = len(data) // 2
        samples = struct.unpack_from(f"<{n}h", data, 0)
    else:
        samples = tuple(b - 128 for b in data)  # 8-bit PCM is unsigned
    return DecodedAudio(rate, n_ch, bits, samples)


def decode_audio(
    payload: bytes, decoder: Callable[[bytes], object] | None = None
) -> object:
    """Decode an audio payload — executable stdlib-only for PCM WAV;
    compressed codecs (MP3/AAC/FLAC/...) require an injected decoder,
    the same honest seam as :func:`decode_image`."""
    if decoder is not None:
        return decoder(payload)
    if payload[:4] == b"RIFF":
        return _decode_wav(payload)
    raise NotImplementedError(
        "built-in decode covers PCM WAV only; inject a decoder for "
        "compressed codecs (no audio library in this environment)"
    )


def pcm_stats(audio: DecodedAudio) -> list[float]:
    """Deterministic PCM feature vector: duration, RMS (per full-scale),
    zero-crossing rate, peak — the classic cheap audio-quality gates,
    computed with integer sums so results are platform-stable.

    Samples arrive interleaved (frame-major); RMS and peak are
    channel-agnostic, but zero crossings must be counted WITHIN each
    channel's stream — comparing adjacent interleaved samples would
    count L→R sign flips that are not crossings of either waveform.
    The reported zc is the mean per-channel crossing rate (identical to
    the flat computation for mono)."""
    s = audio.samples
    n = len(s)
    if n == 0:
        return [0.0, 0.0, 0.0, 0.0]
    full = float(1 << (audio.bits_per_sample - 1))
    duration = n / audio.n_channels / audio.sample_rate
    rms = (sum(v * v for v in s) / n) ** 0.5 / full
    rates = []
    for c in range(audio.n_channels):
        ch = s[c :: audio.n_channels]
        rates.append(
            sum(1 for a, b in zip(ch, ch[1:]) if (a >= 0) != (b >= 0))
            / max(1, len(ch) - 1)
        )
    zc = sum(rates) / len(rates)
    peak = max(abs(v) for v in s) / full
    return [duration, rms, zc, peak]


def envelope_hash(audio: DecodedAudio, n_windows: int = 33) -> int:
    """32-bit energy-envelope hash of an audio clip — the audio analog
    of :func:`dhash` for perceptual near-dup detection (a re-gained or
    requantized copy of a recording has a different digest and different
    PCM bytes but the same LOUDNESS SHAPE).

    Per-frame energy (sum of squared samples across channels — integer,
    no float drift) is area-averaged onto ``n_windows`` boxes with the
    same exact rational-overlap trick as :func:`_box_gray` (works for
    clips shorter than the grid too), then each bit records whether the
    next window is strictly louder: bit ``i`` (MSB first) =
    ``env[i+1] > env[i]``.  Uniform gain scales every energy by the same
    factor, so EXACT volume changes preserve all 32 comparisons;
    requantization moves near-tie windows only.  Result is in
    ``[0, 2^32)`` — always non-negative, safe in a BIGINT column, and
    Hamming distance is ``bit_count(a ^ b)`` in both Spark and DuckDB.
    """
    nch = audio.n_channels
    s = audio.samples
    frames = len(s) // nch
    if frames == 0:
        return 0
    energies = [
        sum(s[f * nch + c] * s[f * nch + c] for c in range(nch))
        for f in range(frames)
    ]
    cells = []
    for i in range(n_windows):
        lo, hi = i * frames, (i + 1) * frames
        acc = 0
        for x in range(lo // n_windows, (hi + n_windows - 1) // n_windows):
            ov = min(hi, (x + 1) * n_windows) - max(lo, x * n_windows)
            if ov > 0:
                acc += ov * energies[x]
        cells.append(acc)
    h = 0
    for i in range(n_windows - 1):
        h = (h << 1) | (1 if cells[i + 1] > cells[i] else 0)
    return h


def resample_audio(audio: DecodedAudio, out_rate: int) -> DecodedAudio:
    """Exact-integer area-average resample to ``out_rate`` Hz, channels
    preserved — the audio analog of :func:`thumbnail` and the standard
    normalization pass before a speech/audio encoder (clips arrive at
    8 k/16 k/44.1 k; the model wants one rate).

    Each output frame is the true time-weighted mean of the source
    frames it covers, per channel, on the same rational-overlap lattice
    as :func:`_overlap_weights` (numerator ``Σ ov·sample`` over the
    exact denominator ``n_in_frames``, rounded half-up in floor
    semantics — correct for negative samples too).  Area averaging IS
    the ideal box anti-aliasing filter for integer downsample ratios;
    for upsampling it degrades to sample-and-hold, which is fine for a
    normalization audit.  All-integer, so resampled PCM is bit-identical
    across platforms and a generation-time fixture stamp can serve as
    the oracle for the distributed decode→resample stage (q262)."""
    nch = audio.n_channels
    s = audio.samples
    in_frames = len(s) // nch
    if in_frames == 0 or out_rate == audio.sample_rate:
        return DecodedAudio(out_rate, nch, audio.bits_per_sample, s)
    out_frames = max(1, in_frames * out_rate // audio.sample_rate)
    wt = _overlap_weights(out_frames, in_frames)
    den = in_frames
    out = []
    for wi in wt:
        for c in range(nch):
            acc = sum(ov * s[f * nch + c] for f, ov in wi)
            out.append((2 * acc + den) // (2 * den))
    return DecodedAudio(out_rate, nch, audio.bits_per_sample, tuple(out))


def pcm_checksum(audio: DecodedAudio) -> int:
    """Position-weighted sample checksum ``Σ (i+1)·sample_i`` over the
    interleaved PCM stream — order- and channel-sensitive, exact in 64
    bits for fixture-scale clips, reproducible from the same samples in
    any engine (the audio twin of :func:`pixel_checksum`)."""
    return sum((i + 1) * v for i, v in enumerate(audio.samples))


def _byte_histogram(payload: bytes) -> list[float]:
    """Deterministic stand-in featurizer: 16-bucket byte histogram,
    L1-normalized. Replace with the model encoder in production."""
    counts = [0] * N_FEATURES
    if not payload:
        return [0.0] * N_FEATURES
    for b in payload:
        counts[b >> 4] += 1
    n = float(len(payload))
    return [c / n for c in counts]


def extract_features(
    media: DataFrame,
    featurizer: Callable[[bytes], list[float]] | None = None,
) -> DataFrame:
    """Arrow-batched feature extraction over the payload column
    (``mapInPandas``): the real plumbing for a model-encoder stage.
    ``featurizer`` maps payload bytes → feature vector; the default is
    the byte histogram, and a decode-backed featurizer (e.g. pixel
    statistics over :func:`decode_image`) drops straight in — same
    batch shape, same schema."""
    fz = featurizer or _byte_histogram

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len),
                    "features": pdf["payload"].map(fz),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        featurize, schema=FEATURE_SCHEMA
    )


def sample_frames(media: DataFrame, n_frames: int = 4, frame_bytes: int = 64) -> DataFrame:
    """Evenly-spaced frame sampling over video payloads (1 row → k rows).
    The byte-slice stands in for a real frame decode; offsets are the
    deterministic part a real extractor shares."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_bytes": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n = len(payload)
                if n == 0:
                    continue
                step = max(1, n // n_frames)
                for i in range(n_frames):
                    off = min(i * step, max(0, n - 1))
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(payload[off : off + frame_bytes])
            yield pd.DataFrame(out)

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "payload")
        .mapInPandas(sample, schema=FRAME_SCHEMA)
    )


class Mp4Info(NamedTuple):
    """Container facts parsed from an ISO BMFF (MP4) payload."""

    duration_ms: int  # mvhd duration rescaled to milliseconds
    n_tracks: int  # trak box count
    handlers: tuple  # hdlr handler_type fourccs, document order
    mdat_bytes: int  # total sample bytes across mdat boxes


def parse_mp4(payload: bytes) -> Mp4Info:
    """Walk an ISO BMFF box tree (ISO/IEC 14496-12 §6.2) and return the
    container facts a video ingest audit needs: mvhd duration (rescaled
    by the declared timescale to exact integer milliseconds), track
    count, handler fourccs, and total ``mdat`` sample bytes.

    This parses STRUCTURE only — no codec bitstream is decoded (that is
    the same injected-decoder seam as compressed audio).  Container
    parsing is the part of video ingest that is pure public layout:
    length-prefixed boxes, 64-bit largesize escapes, version-dependent
    field widths in the full boxes.  Malformed trees (truncated box,
    overrunning size, missing moov/mvhd) raise ``ValueError`` — silent
    tolerance of a broken container is how wrong durations ship."""

    duration_ms = None
    n_tracks = 0
    handlers = []
    mdat_bytes = 0
    containers = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}

    def walk(lo: int, hi: int) -> None:
        nonlocal duration_ms, n_tracks, mdat_bytes
        off = lo
        while off < hi:
            if off + 8 > hi:
                raise ValueError("truncated box header")
            size = struct.unpack_from(">I", payload, off)[0]
            typ = payload[off + 4 : off + 8]
            body = off + 8
            if size == 1:  # 64-bit largesize escape
                if off + 16 > hi:
                    raise ValueError("truncated largesize header")
                size = struct.unpack_from(">Q", payload, off + 8)[0]
                body = off + 16
            elif size == 0:  # box extends to end of enclosing scope
                size = hi - off
            end = off + size
            if size < body - off or end > hi:
                raise ValueError(f"box {typ!r} overruns its scope")
            if typ == b"mdat":
                mdat_bytes += end - body
            elif typ == b"trak":
                n_tracks += 1
                walk(body, end)
            elif typ == b"mvhd":
                # A declared size can fit the enclosing scope while the
                # body is still shorter than the field layout about to
                # be read — that must be the documented ValueError, not
                # IndexError/struct.error escaping unpack_from (which
                # reads from the WHOLE payload buffer, so a short body
                # could even silently pull bytes from the next box).
                if end - body < 1:
                    raise ValueError("mvhd body truncated")
                version = payload[body]
                need = 32 if version == 1 else 20  # ver/flags + times + timescale + duration
                if end - body < need:
                    raise ValueError(
                        f"mvhd v{version} body is {end - body} bytes, needs {need}"
                    )
                if version == 1:
                    timescale, duration = struct.unpack_from(
                        ">IQ", payload, body + 4 + 16
                    )
                else:
                    timescale, duration = struct.unpack_from(
                        ">II", payload, body + 4 + 8
                    )
                if timescale == 0:
                    raise ValueError("mvhd timescale is zero")
                duration_ms = duration * 1000 // timescale
            elif typ == b"hdlr":
                if end - body < 12:  # ver/flags + pre_defined + handler_type
                    raise ValueError(
                        f"hdlr body is {end - body} bytes, needs 12"
                    )
                handlers.append(payload[body + 8 : body + 12].decode("latin-1"))
            elif typ in containers:
                walk(body, end)
            off = end

    if len(payload) < 8 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload (no leading ftyp)")
    walk(0, len(payload))
    if duration_ms is None:
        raise ValueError("no moov/mvhd box in container")
    return Mp4Info(duration_ms, n_tracks, tuple(handlers), mdat_bytes)
