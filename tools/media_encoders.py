"""Deterministic media encoders for fixture generation and tests.

The engine only ever DECODES (operators/media.py); these encoders exist
so the fixture corpus can carry REAL payloads in every format the
stdlib decoders own — BMP/PPM/PNG/WAV/JPEG — with metadata
columns (width/height/duration_ms) that provably match the bytes.  That
makes a decode-from-bytes vs declared-metadata cross-check possible as
an oracle query (plans/multimodal_queries.py q222/q223).

The JPEG encoders are intentionally minimal and share one pipeline
(colour conversion, box subsampling, FDCT, quantization, bit writer):
uniform quantization table, custom fixed-length canonical Huffman
tables (12 DC symbols @ 4 bits, every AC symbol @ 8 bits — Kraft-valid,
no all-ones code), 4:4:4 or 4:2:0 chroma, optional single-component
grayscale.  ``jpeg_encode`` writes baseline sequential streams (one
interleaved scan, or one scan per component; optional restart
interval), ``jpeg_encode_progressive`` the standard progressive script.
Non-standard tables are a feature: the decoder must honor whatever
DHT/DQT the stream declares.
"""

from __future__ import annotations

import struct
import zlib
from typing import NamedTuple

from data_engineering_examples_spark.operators.media import (  # noqa: F401
    _JPEG_M,
    _JPEG_ZIGZAG,
)


def bmp_encode(rgb: bytes, w: int, h: int) -> bytes:
    """24-bit BI_RGB BMP: bottom-up rows, BGR, 4-byte row padding."""
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            o = (y * w + x) * 3
            row += bytes([rgb[o + 2], rgb[o + 1], rgb[o]])
        row += b"\x00" * (stride - len(row))
        body += row
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    )
    return header + bytes(body)


def ppm_encode(rgb: bytes, w: int, h: int) -> bytes:
    """Binary P6 PPM, maxval 255."""
    return f"P6\n{w} {h}\n255\n".encode() + bytes(rgb)


def png_encode(rgb: bytes, w: int, h: int) -> bytes:
    """8-bit truecolor PNG, filter type 0 on every scanline."""

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw += rgb[y * w * 3 : (y + 1) * w * 3]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


#: Adam7 pass grid: (x0, y0, dx, dy) per pass — PNG spec §8.2.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def png_encode_adam7(rgb: bytes, w: int, h: int) -> bytes:
    """8-bit truecolor PNG with Adam7 interlacing (IHDR interlace=1):
    the seven reduced images serialized pass-by-pass, each reduced
    scanline prefixed with filter type 0, empty passes omitted — PNG
    spec §8.2.  Spec-valid output; the repo's decoder deliberately does
    NOT implement Adam7 (documented seam, ``operators/media.py``), so
    this encoder exists to pin the graceful-skip path through the media
    queries, not a decode round-trip."""

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw == 0 or ph == 0:
            continue
        for j in range(ph):
            y = y0 + j * dy
            raw.append(0)  # filter type 0 per reduced scanline
            for i in range(pw):
                x = x0 + i * dx
                raw += rgb[(y * w + x) * 3 : (y * w + x) * 3 + 3]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def webp_container(codec_payload: bytes, fourcc: bytes = b"VP8 ") -> bytes:
    """Minimal RIFF/WEBP container wrapping one codec chunk.  The RIFF
    framing (fourccs, little-endian sizes, even-byte padding) is real.
    With the default ``VP8 `` fourcc and opaque caller bytes it builds
    the LOSSY seam fixture: no VP8 encoder exists here (and lossy decode
    could never meet the pixel-exact contract — quantizers are >= 4 by
    spec), so that fixture pins decode_ok=false flow-through rather
    than a crash."""
    body = codec_payload + (b"\x00" if len(codec_payload) % 2 else b"")
    chunk = fourcc + struct.pack("<I", len(codec_payload)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


class _LsbBitWriter:
    """LSB-first bit writer (the VP8L stream convention): plain VALUES
    are written LSB-first; canonical prefix CODES are written MSB-first
    bit-by-bit (the DEFLATE convention VP8L shares)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def bit(self, b: int) -> None:
        self.acc |= (b & 1) << self.n
        self.n += 1
        if self.n == 8:
            self.buf.append(self.acc)
            self.acc = 0
            self.n = 0

    def bits(self, value: int, n: int) -> None:
        for i in range(n):
            self.bit((value >> i) & 1)

    def code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.bit((code >> i) & 1)

    def done(self) -> bytes:
        if self.n:
            self.buf.append(self.acc)
            self.acc = 0
            self.n = 0
        return bytes(self.buf)


#: CLC transmission order, RFC 9649 §4.2.1.2 (mirrors the decoder's).
_VP8L_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _vp8l_write_lengths(bw: _LsbBitWriter, tokens, clc_lengths: dict) -> None:
    """Serialize a code-lengths array already tokenized into
    ``(clc_symbol, n_extra_bits, extra_value)`` triples, preceded by the
    3-bit code-length-code lengths (``clc_lengths``: symbol -> length).
    A multi-symbol CLC must form a COMPLETE prefix code over exactly
    the symbols the tokens use; a SINGLE-symbol CLC is the spec-
    tolerated degenerate form libwebp accepts — each token then costs
    ZERO bits on the wire (matching the decoder's single-symbol read),
    only its extra bits are written."""
    from data_engineering_examples_spark.operators.media import (
        vp8l_canonical_assignment,
    )

    used = {sym for sym, _, _ in tokens}
    assert used <= set(clc_lengths), "token uses a symbol absent from the CLC"
    num = max(_VP8L_CLC_ORDER.index(s) for s in clc_lengths) + 1
    bw.bits(num - 4, 4)
    for i in range(num):
        bw.bits(clc_lengths.get(_VP8L_CLC_ORDER[i], 0), 3)
    bw.bit(0)  # no explicit max_symbol: lengths cover the whole alphabet
    if len(clc_lengths) == 1:
        # one used CLC symbol -> 0-bit reads on the decode side; the
        # writer must emit nothing per token or the two sides desync
        (only_sym,) = clc_lengths
        assignment = {only_sym: (0, 0)}
    else:
        full = [0] * 19
        for sym, ln in clc_lengths.items():
            full[sym] = ln
        assignment = vp8l_canonical_assignment(full)
    for sym, n_extra, extra in tokens:
        bw.code(*assignment[sym])
        if n_extra:
            bw.bits(extra, n_extra)


def _vp8l_const_run_tokens(value_sym: int, n: int) -> list:
    """Tokens for ``[value_sym] * n`` via one literal + repeat-previous
    (CLC symbol 16, runs of 3-6)."""
    tokens = [(value_sym, 0, 0)]
    left = n - 1
    while left >= 3:
        take = min(6, left)
        if left - take in (1, 2):  # leave a legal (>=3) final run
            take = left - 3
        tokens.append((16, 2, take - 3))
        left -= take
    for _ in range(left):
        tokens.append((value_sym, 0, 0))
    return tokens


def webp_vp8l_encode(
    rgb: bytes, w: int, h: int, single_symbol_clc: bool = False
) -> bytes:
    """REAL lossless-WebP (VP8L) encoder: literal-only stream (no LZ77,
    no color cache, no transforms) with fixed complete prefix codes —
    green [9]x256 literals + [5]x16 length prefixes (Kraft 0.5 + 0.5),
    red/blue [8]x256, alpha and distance as one-symbol simple codes.
    Every emitted construct (simple codes, the code-length code,
    repeat-16 / zero-run-17 tokens, canonical assignment) follows RFC
    9649, so the stream exercises the decoder's spec machinery — the
    encoder-twin pattern that closed Adam7 in r10.  ~25 bits/pixel:
    fixture-grade, not a production codec."""
    assert len(rgb) == w * h * 3 and 0 < w <= 1 << 14 and 0 < h <= 1 << 14
    from data_engineering_examples_spark.operators.media import (
        vp8l_canonical_assignment,
    )

    bw = _LsbBitWriter()
    bw.bits(0x2F, 8)  # signature
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bit(0)  # alpha unused
    bw.bits(0, 3)  # version
    bw.bit(0)  # no transforms
    bw.bit(0)  # no color cache
    bw.bit(0)  # no meta-prefix entropy image

    # green: 280-symbol code, lengths [9]*256 + [5]*16 + [0]*8
    bw.bit(0)  # not simple
    g_tokens = (
        _vp8l_const_run_tokens(9, 256)
        + _vp8l_const_run_tokens(5, 16)
        + [(17, 3, 8 - 3)]  # eight trailing zeros
    )
    _vp8l_write_lengths(bw, g_tokens, {9: 2, 5: 2, 16: 2, 17: 2})
    g_assign = vp8l_canonical_assignment([9] * 256 + [5] * 16 + [0] * 8)

    # red / blue: 256-symbol codes, lengths [8]*256.  Two equivalent
    # transmissions: the canonical literal+repeat-16 form, or (when
    # ``single_symbol_clc``) a code-length code with EXACTLY one used
    # symbol — the spec-tolerated degenerate CLC libwebp accepts, where
    # all 256 lengths cost zero bits (r12 verdict ask #2's fixture
    # form; pins the decoder's single-symbol CLC fallback end-to-end).
    if single_symbol_clc:
        rb_tokens = [(8, 0, 0)] * 256
        rb_clc = {8: 1}
    else:
        rb_tokens = _vp8l_const_run_tokens(8, 256)
        rb_clc = {8: 1, 16: 1}
    rb_assign = vp8l_canonical_assignment([8] * 256)
    for _ in range(2):
        bw.bit(0)
        _vp8l_write_lengths(bw, rb_tokens, rb_clc)

    # alpha: simple one-symbol code (255, stored as 8 bits)
    bw.bit(1)
    bw.bit(0)  # num_symbols - 1
    bw.bit(1)  # first symbol stored in 8 bits
    bw.bits(255, 8)

    # distance: simple one-symbol code (0, stored as 1 bit)
    bw.bit(1)
    bw.bit(0)
    bw.bit(0)  # first symbol stored in 1 bit
    bw.bits(0, 1)

    for i in range(w * h):
        r, g, b = rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2]
        bw.code(*g_assign[g])
        bw.code(*rb_assign[r])
        bw.code(*rb_assign[b])
        # alpha: one-symbol code, zero bits

    return webp_container(bw.done(), fourcc=b"VP8L")


def wav_encode(frames: list[int], rate: int = 8000, n_ch: int = 1) -> bytes:
    """16-bit PCM RIFF/WAVE; ``frames`` is the interleaved sample list."""
    data = b"".join(struct.pack("<h", s) for s in frames)
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _fdct(block: list[float]) -> list[float]:
    """64 level-shifted samples -> 64 DCT coefficients (row-major)."""
    tmp = [
        [sum(_JPEG_M[u][x] * block[y * 8 + x] for x in range(8)) for u in range(8)]
        for y in range(8)
    ]
    out = [0.0] * 64
    for u in range(8):
        col = [tmp[y][u] for y in range(8)]
        for v in range(8):
            out[v * 8 + u] = sum(_JPEG_M[v][y] * col[y] for y in range(8))
    return out


def _mag_bits(v: int) -> int:
    """T.81 magnitude category: the bit length of ``|v|``."""
    return abs(v).bit_length()


class _JpegFrame(NamedTuple):
    """Quantized coefficients of one frame, shared by both JPEG encoders."""

    samp: list  # (h, v) sampling factors per component
    mcux: int
    mcuy: int
    grid: list  # per component: (bw, bh, unpadded bw, unpadded bh)
    blocks: list  # per component: zigzag int blocks, MCU-padded grid

    def scan_units(self, comp_ids: list) -> list:
        """T.81 A.2 scan order as MCUs of ``(component, block index)``:
        a non-interleaved scan (Ns = 1) walks the component's own
        unpadded block grid, one block per MCU; an interleaved scan the
        MCU-padded grid."""
        if len(comp_ids) == 1:
            ci = comp_ids[0]
            bw, _bh, ubw, ubh = self.grid[ci]
            return [[(ci, by * bw + bx)] for by in range(ubh) for bx in range(ubw)]
        units = []
        for my in range(self.mcuy):
            for mx in range(self.mcux):
                mcu = []
                for ci in comp_ids:
                    hi, vi = self.samp[ci]
                    bw = self.grid[ci][0]
                    for byi in range(vi):
                        for bxi in range(hi):
                            mcu.append((ci, (my * vi + byi) * bw + mx * hi + bxi))
                units.append(mcu)
        return units


def _jpeg_frame(
    rgb: bytes, w: int, h: int, subsample: bool, q: int, gray: bool
) -> _JpegFrame:
    """Colour conversion, optional 2x2 box subsampling of chroma, FDCT
    and uniform quantization of every block (edge-replicated padding)."""
    if gray:
        planes = [[rgb[i] for i in range(w * h)]]
        samp = [(1, 1)]
    else:
        ys, cbs, crs = [], [], []
        for i in range(w * h):
            r, g, b = rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2]
            ys.append(min(255, max(0, round(0.299 * r + 0.587 * g + 0.114 * b))))
            cbs.append(
                min(255, max(0, round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)))
            )
            crs.append(
                min(255, max(0, round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)))
            )
        if subsample:
            cw, chh = (w + 1) // 2, (h + 1) // 2

            def box(p):
                out = []
                for yy in range(chh):
                    for xx in range(cw):
                        acc = n = 0
                        for dy in range(2):
                            for dx in range(2):
                                sy = min(h - 1, 2 * yy + dy)
                                sx = min(w - 1, 2 * xx + dx)
                                acc += p[sy * w + sx]
                                n += 1
                        out.append(round(acc / n))
                return out

            planes = [ys, box(cbs), box(crs)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [ys, cbs, crs]
            samp = [(1, 1), (1, 1), (1, 1)]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    grid, blocks = [], []
    for plane, (hi, vi) in zip(planes, samp):
        cw, chh = -(-w * hi // hmax), -(-h * vi // vmax)
        bw, bh = mcux * hi, mcuy * vi
        grid.append((bw, bh, -(-cw // 8), -(-chh // 8)))
        comp_blocks = []
        for by in range(bh):
            for bx in range(bw):
                block = [
                    plane[min(chh - 1, by * 8 + yy) * cw + min(cw - 1, bx * 8 + xx)]
                    - 128.0
                    for yy in range(8)
                    for xx in range(8)
                ]
                coef = _fdct(block)
                comp_blocks.append([round(coef[_JPEG_ZIGZAG[k]] / q) for k in range(64)])
        blocks.append(comp_blocks)
    return _JpegFrame(samp, mcux, mcuy, grid, blocks)


class _JpegWriter:
    """JPEG byte stream: marker segments plus an MSB-first entropy-coded
    bit writer with 0xFF -> 0xFF00 byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray(b"\xff\xd8")
        self.acc = 0
        self.n = 0

    def seg(self, marker: int, body: bytes) -> None:
        self.out += bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def put(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = self.n = 0

    def code(self, table: dict, sym: int) -> None:
        self.put(*table[sym])

    def mag(self, v: int, s: int) -> None:
        """The ``s`` extra bits of a nonzero value (T.81 F.1.2.1)."""
        self.put(v if v > 0 else v + (1 << s) - 1, s)

    def flush(self) -> None:
        while self.n:
            self.put(1, 1)  # pad to a byte boundary with 1s

    def header(self, sof: int, w: int, h: int, frame: _JpegFrame, q: int, ac_syms: list):
        """DQT, SOF and the two fixed-length DHT tables (DC symbols
        0..11 @ 4 bits, ``ac_syms`` @ 8 bits); returns the DC and AC
        code tables."""
        self.seg(0xDB, bytes([0]) + bytes([q] * 64))
        sof_body = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(frame.samp)])
        for i, (hi, vi) in enumerate(frame.samp):
            sof_body += bytes([i + 1, hi << 4 | vi, 0])
        self.seg(sof, sof_body)
        dc_counts, ac_counts = [0] * 16, [0] * 16
        dc_counts[3], ac_counts[7] = 12, len(ac_syms)
        self.seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(range(12)))
        self.seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms))
        return (
            {sym: (i, 4) for i, sym in enumerate(range(12))},
            {sym: (i, 8) for i, sym in enumerate(ac_syms)},
        )

    def sos(self, comp_ids: list, ss: int, se: int, ah: int, al: int) -> None:
        body = bytes([len(comp_ids)])
        for ci in comp_ids:
            body += bytes([ci + 1, 0x00])
        self.seg(0xDA, body + bytes([ss, se, ah << 4 | al]))


#: run/size AC symbols (runs 0..15, sizes 1..10)
_AC_RUN_SIZE = [r << 4 | s for r in range(16) for s in range(1, 11)]


def jpeg_encode(
    rgb: bytes,
    w: int,
    h: int,
    subsample: bool = False,
    q: int = 1,
    restart: int = 0,
    gray: bool = False,
    noninterleaved: bool = False,
) -> bytes:
    """Baseline sequential JPEG (T.81); see module docstring.  With
    ``noninterleaved`` every component gets its own Ns=1 scan over its
    own block grid (T.81 A.2.2) instead of one interleaved scan."""
    frame = _jpeg_frame(rgb, w, h, subsample, q, gray)
    wr = _JpegWriter()
    dc_code, ac_code = wr.header(0xC0, w, h, frame, q, _AC_RUN_SIZE + [0x00, 0xF0])
    if restart:
        wr.seg(0xDD, struct.pack(">H", restart))
    ncomp = len(frame.samp)
    scans = [[ci] for ci in range(ncomp)] if noninterleaved else [list(range(ncomp))]
    for comp_ids in scans:
        wr.sos(comp_ids, 0, 63, 0, 0)
        pred = [0] * ncomp
        for n, mcu in enumerate(frame.scan_units(comp_ids)):
            if restart and n and n % restart == 0:
                wr.flush()
                wr.out += bytes([0xFF, 0xD0 + (n // restart - 1) % 8])
                pred = [0] * ncomp
            for ci, bi in mcu:
                zz = frame.blocks[ci][bi]
                diff = zz[0] - pred[ci]
                pred[ci] = zz[0]
                t = _mag_bits(diff)
                wr.code(dc_code, t)
                if t:
                    wr.mag(diff, t)
                run = 0
                last = max((k for k in range(1, 64) if zz[k]), default=0)
                for k in range(1, last + 1):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        wr.code(ac_code, 0xF0)
                        run -= 16
                    s = _mag_bits(zz[k])
                    wr.code(ac_code, run << 4 | s)
                    wr.mag(zz[k], s)
                    run = 0
                if last < 63:
                    wr.code(ac_code, 0x00)  # EOB
        wr.flush()
    wr.out += b"\xff\xd9"
    return bytes(wr.out)


def jpeg_encode_progressive(
    rgb: bytes,
    w: int,
    h: int,
    subsample: bool = False,
    q: int = 1,
    gray: bool = False,
    dc_noninterleaved: bool = False,
) -> bytes:
    """Progressive JPEG (T.81 SOF2): same color/FDCT/quant pipeline as
    :func:`jpeg_encode`, emitted as the libjpeg standard 10-scan script
    (DC at Al=1 then refined; luma AC split 1-5/6-63 at Al=2 with two
    refinement passes; chroma AC at Al=1 with one refinement).  This
    exercises spectral selection, successive approximation (DC and AC
    paths), EOB-RUN coding across blocks and refinement correction-bit
    buffering — every Annex G decode procedure.  A decoder must
    reconstruct EXACTLY the coefficients the baseline encoder would ship
    at the same quantizer, so the round-trip test compares pixels
    against the baseline decode bit-for-bit."""
    frame = _jpeg_frame(rgb, w, h, subsample, q, gray)
    blocks = frame.blocks
    wr = _JpegWriter()
    # AC symbols: the run/size codes + EOB0..EOB14 + ZRL
    dc_code, ac_code = wr.header(
        0xC2, w, h, frame, q, _AC_RUN_SIZE + [r << 4 for r in range(15)] + [0xF0]
    )
    put = wr.put

    def dc_scan(comp_ids, ah, al):
        wr.sos(comp_ids, 0, 0, ah, al)
        pred = {ci: 0 for ci in comp_ids}
        for mcu in frame.scan_units(comp_ids):
            for ci, bi in mcu:
                zz0 = blocks[ci][bi][0]
                if ah == 0:
                    v = zz0 >> al  # arithmetic shift (T.81 DC)
                    diff = v - pred[ci]
                    pred[ci] = v
                    t = _mag_bits(diff)
                    wr.code(dc_code, t)
                    if t:
                        wr.mag(diff, t)
                else:
                    put((zz0 >> al) & 1, 1)
        wr.flush()

    def comp_blocks(ci):  # a non-interleaved scan's blocks, in order
        return [blocks[ci][mcu[0][1]] for mcu in frame.scan_units([ci])]

    def ac_first_scan(ci, ss, se, al):
        wr.sos([ci], ss, se, 0, al)
        eobrun = [0]

        def flush_eobrun():
            if eobrun[0]:
                n = eobrun[0].bit_length() - 1
                wr.code(ac_code, n << 4)
                if n:
                    put(eobrun[0] & ((1 << n) - 1), n)
                eobrun[0] = 0

        for zz in comp_blocks(ci):
            band = [
                (abs(zz[k]) >> al) * (1 if zz[k] >= 0 else -1)
                for k in range(ss, se + 1)
            ]
            last = max((i for i, v in enumerate(band) if v), default=-1)
            if last < 0:
                eobrun[0] += 1
                if eobrun[0] == 0x7FFF:
                    flush_eobrun()
                continue
            flush_eobrun()
            r = 0
            for i in range(last + 1):
                v = band[i]
                if v == 0:
                    r += 1
                    continue
                while r > 15:
                    wr.code(ac_code, 0xF0)
                    r -= 16
                s = _mag_bits(v)
                wr.code(ac_code, r << 4 | s)
                wr.mag(v, s)
                r = 0
            if last < se - ss:
                eobrun[0] += 1
                if eobrun[0] == 0x7FFF:
                    flush_eobrun()
        flush_eobrun()
        wr.flush()

    def ac_refine_scan(ci, ss, se, ah):
        al = ah - 1
        wr.sos([ci], ss, se, ah, al)
        eobrun = [0]
        be_bits: list[int] = []  # correction bits pending with the EOB run

        def flush_eobrun():
            if eobrun[0]:
                n = eobrun[0].bit_length() - 1
                wr.code(ac_code, n << 4)
                if n:
                    put(eobrun[0] & ((1 << n) - 1), n)
                eobrun[0] = 0
            for b in be_bits:
                put(b, 1)
            be_bits.clear()

        for zz in comp_blocks(ci):
            absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
            # index (band-relative) of the last NEWLY-nonzero coef
            eob = -1
            for i, v in enumerate(absv):
                if v == 1:
                    eob = i
            r = 0
            br: list[int] = []  # this block's pending correction bits
            for i, temp in enumerate(absv):
                if temp == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob:
                    flush_eobrun()
                    wr.code(ac_code, 0xF0)
                    r -= 16
                    for b in br:
                        put(b, 1)
                    br = []
                if temp > 1:
                    br.append(temp & 1)  # history coef: correction bit
                    continue
                flush_eobrun()
                wr.code(ac_code, r << 4 | 1)
                put(1 if zz[ss + i] >= 0 else 0, 1)
                for b in br:
                    put(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun[0] += 1
                be_bits.extend(br)
                if eobrun[0] == 0x7FFF or len(be_bits) > 900:
                    flush_eobrun()
        flush_eobrun()
        wr.flush()

    if len(frame.samp) == 1:
        dc_scan([0], 0, 1)
        ac_first_scan(0, 1, 63, 2)
        ac_refine_scan(0, 1, 63, 2)
        dc_scan([0], 1, 0)
        ac_refine_scan(0, 1, 63, 1)
    else:
        # dc_noninterleaved exercises the spec-valid Ns=1 DC scan shape
        # (T.81 A.2.2): per-component scans in the component's own
        # unpadded block order — on a subsampled frame this order
        # DIFFERS from the interleaved MCU walk, which is exactly the
        # decoder path the round-trip test needs to pin.
        dc_scans = [[0], [1], [2]] if dc_noninterleaved else [[0, 1, 2]]
        for comp_ids in dc_scans:
            dc_scan(comp_ids, 0, 1)
        ac_first_scan(0, 1, 5, 2)
        ac_first_scan(2, 1, 63, 1)
        ac_first_scan(1, 1, 63, 1)
        ac_first_scan(0, 6, 63, 2)
        ac_refine_scan(0, 1, 63, 2)
        for comp_ids in dc_scans:
            dc_scan(comp_ids, 1, 0)
        ac_refine_scan(2, 1, 63, 1)
        ac_refine_scan(1, 1, 63, 1)
        ac_refine_scan(0, 1, 63, 1)
    wr.out += b"\xff\xd9"
    return bytes(wr.out)


def mp4_encode(mdat: bytes, duration_ms: int) -> bytes:
    """Minimal valid ISO BMFF (MP4) container: ``ftyp`` + ``moov``
    (``mvhd`` and one video ``trak`` with ``tkhd``/``mdia``/``mdhd``/
    ``hdlr``) + ``mdat`` holding the sample bytes.

    Timescale is fixed at 1000 so the version-0 mvhd/mdhd durations ARE
    milliseconds — the declared ``duration_ms`` metadata column and the
    container agree by construction, which is what lets the container-
    parse audit (q263) cross-check them.  Every box before ``mdat`` has
    a fixed size, so the total header overhead is a constant
    (``MP4_OVERHEAD``) and ``mdat`` payload size is derivable from
    ``octet_length`` alone.  Box layout per ISO/IEC 14496-12 §6.2, §8.2,
    §8.3, §8.4 (public structure; no codec data is claimed — the hdlr
    name string marks the sample bytes as an opaque stand-in stream)."""

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + typ + body

    def full(typ: bytes, body: bytes, version: int = 0, flags: int = 0) -> bytes:
        return box(typ, struct.pack(">I", (version << 24) | flags) + body)

    unity = struct.pack(
        ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
    )
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isommp41")
    mvhd = full(
        b"mvhd",
        struct.pack(">II", 0, 0)  # creation, modification
        + struct.pack(">II", 1000, duration_ms)  # timescale, duration
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">h", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + unity
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", 2),  # next_track_ID
    )
    tkhd = full(
        b"tkhd",
        struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)  # track_ID
        + b"\x00" * 4  # reserved
        + struct.pack(">I", duration_ms)
        + b"\x00" * 16  # reserved, layer, group, volume, reserved
        + unity
        + struct.pack(">II", 0, 0),  # width, height (16.16; opaque stream)
        flags=0x000007,  # enabled | in_movie | in_preview
    )
    mdhd = full(
        b"mdhd",
        struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, duration_ms)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und', pre_defined
    )
    hdlr = full(
        b"hdlr",
        struct.pack(">I", 0)  # pre_defined
        + b"vide"
        + b"\x00" * 12  # reserved
        + b"stand-in\x00",  # name (NUL-terminated)
    )
    mdia = box(b"mdia", mdhd + hdlr)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov + box(b"mdat", mdat)


#: every box before ``mdat``'s own 8-byte header has a fixed size, so
#: ``mdat_bytes == octet_length(payload) - MP4_OVERHEAD`` exactly.
MP4_OVERHEAD = len(mp4_encode(b"", 1)) - 0
