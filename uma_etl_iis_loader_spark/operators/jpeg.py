"""Baseline JPEG codec in stdlib + numpy — the codec-less-container rung
for the format web corpora actually ship (ITU-T T.81 baseline
sequential DCT, the public spec; tables from its Annex K).

Why this exists: ``decode_image`` prefers PIL when importable, but CI
containers without codec libraries previously SKIPPED the JPEG path
entirely (r6 verdict: "the rung users will actually hit for web images
ships untested"). Like the PNG rung, this makes the real
compressed-format decode executable anywhere: Huffman-coded entropy
data, dequantization, 2-D IDCT, chroma upsampling, YCbCr→RGB.

Scope (stats-kernel rung, same contract as ``decode_png``):

- decode: baseline sequential (SOF0), 8-bit, 1 or 3 components,
  sampling factors 1-2 (4:4:4 / 4:2:2 / 4:2:0), restart markers.
  Progressive (SOF2), arithmetic coding, 12-bit → ``ValueError`` (PIL
  rung territory). Huffman and quantization tables are read FROM THE
  FILE (DHT/DQT segments), so decoding does not depend on this module's
  own constants.
- encode: 4:4:4 quality-scaled Annex-K tables, standard Huffman tables
  — exists to fabricate REAL JPEG fixtures in codec-less CI and for
  byte-exact deterministic re-encodes; it is not a rate-optimized
  production encoder.
- per-image work is a few numpy block ops plus a Python Huffman loop —
  fine at fixture sizes; the 1 MP cap keeps a worst-case row bounded.
  Production hosts decode via PIL (preferred automatically).

Cite: complements `operators/multimodal.py` decode ladder; the
reference has no media ops (extension surface).
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# ITU-T T.81 Annex K.1/K.2 — the example quantization tables every
# mainstream encoder derives from (public spec constants).
_QUANT_LUM = np.array(
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
    dtype=np.int32,
)
_QUANT_CHROM = np.array(
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
    dtype=np.int32,
)

# zigzag scan order (T.81 figure 5): _ZIGZAG[i] = raster index of the
# i-th zigzag coefficient
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
_UNZIGZAG = np.argsort(_ZIGZAG)

# T.81 Annex K.3 typical Huffman tables: (bits[1..16], values)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix: forward = D @ B @ D.T."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    d = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8.0)
    d[0] /= np.sqrt(2.0)
    return d


_DCT = _dct_matrix()


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling (public libjpeg recipe): 1..100."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


@lru_cache(maxsize=32)
def _quant_for_quality(quality: int):
    """(qlum, qchrom, dqt_lum_seg, dqt_chrom_seg) for one quality —
    the tables and their zigzagged DQT segment bytes are pure functions
    of ``quality``, so batch encoders (5k tiny images per task) should
    not rebuild them per image."""
    qlum = _scaled_quant(_QUANT_LUM, quality)
    qchrom = _scaled_quant(_QUANT_CHROM, quality)
    qlum.setflags(write=False)
    qchrom.setflags(write=False)
    segs = []
    for ti, q in ((0, qlum), (1, qchrom)):
        segs.append(
            b"\xff\xdb"
            + struct.pack(">HB", 67, ti)
            + bytes(q.reshape(64)[_ZIGZAG].astype(np.uint8).tolist())
        )
    return qlum, qchrom, segs[0], segs[1]


def _canonical_codes(bits, values):
    """(symbol -> (code, length)) canonical Huffman assignment (T.81
    C.2): codes of each length are consecutive, lengths ascending."""
    out = {}
    code = 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return out


# the Annex-K tables are module constants, so their canonical-code maps
# are too — encode_jpeg previously rebuilt all four per call (~8% of a
# tiny-image encode)
_DC_CODES_STD = (_canonical_codes(*_DC_LUM), _canonical_codes(*_DC_CHROM))
_AC_CODES_STD = (_canonical_codes(*_AC_LUM), _canonical_codes(*_AC_CHROM))


@lru_cache(maxsize=4)
def _dht_segments(ncomp: int) -> bytes:
    """DHT marker segments for the standard tables (constant per ncomp)."""
    out = bytearray()
    for cls, ti, (bits, vals) in (
        [(0, 0, _DC_LUM), (1, 0, _AC_LUM)]
        + ([(0, 1, _DC_CHROM), (1, 1, _AC_CHROM)] if ncomp == 3 else [])
    ):
        out += b"\xff\xc4" + struct.pack(
            ">HB", 3 + 16 + len(vals), (cls << 4) | ti
        )
        out += bytes(bits) + bytes(vals)
    return bytes(out)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (spec F.1.2.3)
        return bytes(self.buf)


def _magnitude(v: int):
    """(category, amplitude bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def _encode_block(wtr, zz, ti, pred, ci, dc_codes, ac_codes) -> None:
    """Entropy-code one zigzagged quantized block (DC diff + AC RLE).

    Hot path for the synth kernels (thousands of 1-MCU images per task):
    the block crosses to a plain list once, the Huffman code and its
    amplitude bits are emitted as ONE combined write, and the symbol
    lookups run on local aliases. Bitstream identical to the r12 form.
    """
    z = zz.tolist()
    dc = dc_codes[ti]
    ac = ac_codes[ti]
    write = wtr.write
    dcv = z[0]
    diff = dcv - pred[ci]
    pred[ci] = dcv
    if diff == 0:
        code, ln = dc[0]
        write(code, ln)
    else:
        a = diff if diff > 0 else -diff
        cat = a.bit_length()
        bits = diff if diff > 0 else diff + (1 << cat) - 1
        code, ln = dc[cat]
        write((code << cat) | bits, ln + cat)
    last = 63
    while last and z[last] == 0:
        last -= 1
    run = 0
    zrl = ac[0xF0]
    for k in range(1, last + 1):
        v = z[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            write(zrl[0], zrl[1])  # ZRL
            run -= 16
        a = v if v > 0 else -v
        cat = a.bit_length()
        bits = v if v > 0 else v + (1 << cat) - 1
        code, ln = ac[(run << 4) | cat]
        write((code << cat) | bits, ln + cat)
        run = 0
    if last < 63:
        code, ln = ac[0x00]  # EOB
        write(code, ln)


def _plane_blocks(plane, bh, bw, q):
    """Pad → 8×8 block DCT → quantize → zigzag: (bh·bw, 64) int32."""
    h, w = plane.shape
    H, W = bh * 8, bw * 8
    if h == H and w == W:
        p = plane
    else:
        # edge pad by hand: np.pad(mode="edge") costs ~65 µs per call,
        # which dominates 1-MCU images; three slice assigns are exact
        p = np.empty((H, W), dtype=plane.dtype)
        p[:h, :w] = plane
        if w < W:
            p[:h, w:] = plane[:, w - 1 : w]
        if h < H:
            p[h:, :] = p[h - 1 : h, :]
    blocks = (
        p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )
    coeff = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT)
    # clamp to the baseline Huffman category range (DC diff ≤ 2046 →
    # cat ≤ 11, AC ≤ 1023 → cat ≤ 10); reachable only at quality ~100
    # on synthetic extremes, where 1 count of clipping is invisible
    # next to quantization itself
    quant = np.clip(np.round(coeff / q), -1023, 1023).astype(np.int32)
    return quant.reshape(-1, 64)[:, _ZIGZAG]


def _planes_blocks3(planes, bh, bw, qlum, qchrom):
    """4:4:4 fast path: one padded stack + one DCT/quant/zigzag pass for
    all three same-geometry planes instead of three `_plane_blocks`
    calls. Elementwise ops on the stacked array are the identical float
    operations, so output is bit-identical to the per-plane path."""
    h, w = planes[0].shape
    H, W = bh * 8, bw * 8
    p = np.empty((3, H, W), dtype=np.float64)
    for i, pl in enumerate(planes):
        p[i, :h, :w] = pl
    if w < W:
        p[:, :h, w:] = p[:, :h, w - 1 : w]
    if h < H:
        p[:, h:, :] = p[:, h - 1 : h, :]
    blocks = (
        p.reshape(3, bh, 8, bw, 8).transpose(0, 1, 3, 2, 4).reshape(-1, 8, 8)
        - 128.0
    )
    coeff = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT)
    nb = bh * bw
    q = np.empty((3, nb, 8, 8), dtype=np.int32)
    q[0] = qlum
    q[1:] = qchrom
    quant = np.clip(
        np.round(coeff.reshape(3, nb, 8, 8) / q), -1023, 1023
    ).astype(np.int32)
    zz = quant.reshape(3, nb, 64)[:, :, _ZIGZAG]
    return [zz[0], zz[1], zz[2]]


def encode_jpeg(
    img: np.ndarray, quality: int = 85, subsampling: str = "444"
) -> bytes:
    """(h, w, 3) or (h, w) uint8 → baseline JFIF bytes (Annex-K tables
    scaled by ``quality``). ``subsampling``: ``"444"`` (every component
    full-resolution, one block of each per MCU) or ``"420"`` (chroma
    box-downsampled 2x2, the 4Y+Cb+Cr 16×16 MCU interleave virtually
    every web JPEG uses — exists here chiefly so the DECODER's
    multi-sampling MCU/upsample path is exercised by real streams).
    Deterministic: same input → same bytes."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    if img.ndim != 3 or img.shape[2] not in (1, 3) or img.dtype != np.uint8:
        raise ValueError("encode_jpeg expects (h, w, 1|3) uint8")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w, ncomp = img.shape
    if h == 0 or w == 0:
        raise ValueError("degenerate image")
    sub420 = subsampling == "420" and ncomp == 3

    if ncomp == 3:
        r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
    else:
        planes = [img[:, :, 0].astype(np.float64)]

    qlum, qchrom, dqt_lum_seg, dqt_chrom_seg = _quant_for_quality(quality)
    qtabs = [qlum] + ([qchrom] if ncomp == 3 else [])
    dqt_segs = [dqt_lum_seg] + ([dqt_chrom_seg] if ncomp == 3 else [])

    dc_codes = _DC_CODES_STD if ncomp == 3 else _DC_CODES_STD[:1]
    ac_codes = _AC_CODES_STD if ncomp == 3 else _AC_CODES_STD[:1]

    wtr = _BitWriter()
    pred = [0] * ncomp
    if not sub420:
        bh, bw = -(-h // 8), -(-w // 8)
        if ncomp == 3:
            comp_blocks = _planes_blocks3(planes, bh, bw, qlum, qchrom)
        else:
            comp_blocks = [_plane_blocks(planes[0], bh, bw, qlum)]
        for bi in range(bh * bw):
            for ci in range(ncomp):
                _encode_block(
                    wtr, comp_blocks[ci][bi], min(ci, 1), pred, ci,
                    dc_codes, ac_codes,
                )
        samp = [0x11] * ncomp
    else:
        # 16×16 MCUs: Y keeps full resolution (2×2 blocks per MCU),
        # chroma box-averages 2×2 pixels then contributes 1 block each
        mcus_y, mcus_x = -(-h // 16), -(-w // 16)
        ybh, ybw = 2 * mcus_y, 2 * mcus_x
        y_blocks = _plane_blocks(planes[0], ybh, ybw, qlum)
        ch, cw = -(-h // 2), -(-w // 2)
        pad_c = [
            np.pad(
                pl, ((0, 2 * ch - h), (0, 2 * cw - w)), mode="edge"
            ).reshape(ch, 2, cw, 2).mean(axis=(1, 3))
            for pl in planes[1:]
        ]
        c_blocks = [
            _plane_blocks(pc, mcus_y, mcus_x, qchrom) for pc in pad_c
        ]
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for by in range(2):
                    for bx in range(2):
                        yi = (2 * my + by) * ybw + (2 * mx + bx)
                        _encode_block(
                            wtr, y_blocks[yi], 0, pred, 0,
                            dc_codes, ac_codes,
                        )
                ci_blk = my * mcus_x + mx
                for ci in (1, 2):
                    _encode_block(
                        wtr, c_blocks[ci - 1][ci_blk], 1, pred, ci,
                        dc_codes, ac_codes,
                    )
        samp = [0x22, 0x11, 0x11]
    scan = wtr.flush()

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    # APP0/JFIF: version 1.1, aspect-ratio units, 1:1 density, no thumb
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for seg in dqt_segs:
        out += seg
    # SOF0
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        out += struct.pack("BBB", ci + 1, samp[ci], min(ci, 1))
    # DHT (constant segments for the standard tables)
    out += _dht_segments(ncomp)
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        ti = min(ci, 1)
        out += struct.pack("BB", ci + 1, (ti << 4) | ti)
    out += b"\x00\x3f\x00"
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


_LUT_CACHE: dict[bytes, list] = {}


def _huff_lut(raw: bytes) -> list:
    """16-bit-peek Huffman LUT for one DHT table (``raw`` = the table's
    DHT bytes: class/id byte + 16 length counts + values). Entry =
    ``(sym << 5) | code_len``; 0 = no code matches any prefix of that
    16-bit window. One list lookup replaces the old per-bit tree walk
    (~4 µs/symbol → ~0.5 µs). Cached on the raw table bytes — a corpus
    of same-encoder images builds each table once per worker. Shorter
    codes are written LAST so a malformed (non-prefix-free) table
    resolves shortest-match-first, matching the old walker."""
    lut = _LUT_CACHE.get(raw)
    if lut is not None:
        return lut
    bits = raw[1:17]
    vals = raw[17:]
    codes: list[tuple[int, int, int]] = []  # (ln, code, sym)
    code = 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes.append((ln, code, vals[i]))
            code += 1
            i += 1
        code <<= 1
    arr = np.zeros(65536, dtype=np.int64)
    for ln, code, sym in sorted(codes, key=lambda t: -t[0]):
        start = code << (16 - ln)
        if 0 <= start < 65536:  # codes past 16 bits are unreachable
            arr[start : start + (1 << (16 - ln))] = (sym << 5) | ln
    lut = arr.tolist()
    if len(_LUT_CACHE) > 64:
        _LUT_CACHE.clear()
    _LUT_CACHE[raw] = lut
    return lut


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF bytes → (h, w, channels) uint8 (channels 1 or 3,
    RGB). Tables come from the file's own DQT/DHT segments. Raises
    ``ValueError`` on anything outside baseline sequential 8-bit with
    sampling factors ≤ 2 — the PIL rung's territory."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple, dict] = {}
    sof = None
    restart_interval = 0
    scan_comps = None
    scan_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        if payload[pos + 1] == 0xFF:
            pos += 1  # optional fill byte before a marker (T.81 B.1.1.2)
            continue
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        if seg_len < 2 or pos + 2 + seg_len > len(payload):
            raise ValueError("truncated JPEG segment")
        seg = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if off + 65 > len(seg):
                    raise ValueError("truncated DQT segment")
                tbl = np.frombuffer(
                    seg[off + 1 : off + 65], dtype=np.uint8
                ).astype(np.int32)
                qtabs[tq] = tbl[_UNZIGZAG].reshape(8, 8)
                off += 65
        elif marker in (0xC0, 0xC1):  # SOF0/1 baseline(-ish)
            if len(seg) < 6:
                raise ValueError("truncated SOF segment")
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated SOF segment")
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from("BBB", seg, 6 + 3 * i)
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            sof = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "progressive/extended JPEG unsupported by the stdlib rung"
            )
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                if off + 17 > len(seg):
                    raise ValueError("truncated DHT segment")
                tc, th = seg[off] >> 4, seg[off] & 0xF
                nvals = sum(seg[off + 1 : off + 17])
                if off + 17 + nvals > len(seg):
                    raise ValueError("truncated DHT segment")
                htabs[(tc, th)] = _huff_lut(
                    bytes(seg[off : off + 17 + nvals])
                )
                off += 17 + nvals
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            if len(seg) < 1 or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated SOS segment")
            ns = seg[0]
            scan_comps = [
                (seg[1 + 2 * i], seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 0xF)
                for i in range(ns)
            ]
            scan_start = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if sof is None or scan_comps is None:
        raise ValueError("JPEG missing SOF/SOS")
    h, w, comps = sof
    if h == 0 or w == 0:
        raise ValueError("degenerate JPEG dimensions")
    if h * w > 1_000_000:
        raise ValueError(
            f"JPEG too large for the stdlib rung ({w}x{h}); use the PIL "
            f"rung for >1 MP imagery"
        )
    if len(comps) not in (1, 3):
        raise ValueError("only 1- or 3-component JPEG supported")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2 or any(
        c[1] not in (1, 2) or c[2] not in (1, 2) for c in comps
    ):
        raise ValueError("sampling factors > 2 unsupported")

    # split entropy data on restart markers, unstuff 0xFF00
    intervals: list[bytes] = []
    cur = bytearray()
    p = scan_start
    while p < len(payload):
        b = payload[p]
        if b == 0xFF and p + 1 < len(payload):
            nxt = payload[p + 1]
            if nxt == 0x00:
                cur.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                intervals.append(bytes(cur))
                cur = bytearray()
                p += 2
                continue
            if nxt == 0xD9:
                break
            raise ValueError(f"unexpected marker 0xff{nxt:02x} in scan")
        cur.append(b)
        p += 1
    intervals.append(bytes(cur))

    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x, mcus_y = -(-w // mcu_w), -(-h // mcu_h)
    n_mcus = mcus_x * mcus_y
    per_interval = restart_interval or n_mcus

    comp_meta = []
    for cid, ch, cv, tq in comps:
        sc = next((s for s in scan_comps if s[0] == cid), None)
        if sc is None:
            raise ValueError("scan references unknown component")
        if tq not in qtabs:
            raise ValueError("missing quantization table")
        comp_meta.append(
            {
                "h": ch,
                "v": cv,
                "q": qtabs[tq],
                "dc": htabs.get((0, sc[1])),
                "ac": htabs.get((1, sc[2])),
                "bw": mcus_x * ch,
                "bh": mcus_y * cv,
            }
        )
        if comp_meta[-1]["dc"] is None or comp_meta[-1]["ac"] is None:
            raise ValueError("missing Huffman table")
    _zero_block = [0] * 64  # shared; decoded blocks are fresh lists
    for cm in comp_meta:
        cm["zz"] = [_zero_block] * (cm["bh"] * cm["bw"])

    # Entropy decode: accumulator bit reader + 16-bit LUT peek, all plain
    # ints in locals — the old per-bit walker cost ~2/3 of a tiny-image
    # decode. `fed` counts every bit shifted into `acc` INCLUDING the
    # zero bytes synthesized past the stream end for peeking, so
    # `dbits - (fed - nacc)` is exactly the real bits still unconsumed;
    # any symbol/amplitude that would consume past that is the old
    # reader's "exhausted" error, and an all-gap 16-bit window with real
    # bits left is its "invalid code" error. Every refill happens with
    # nacc < 16, so `acc & 0xFFFF` keeps all live bits and drops the
    # consumed ones: acc stays under 24 bits and decode is linear in the
    # scan (an untrimmed acc grows with the scan and makes every shift
    # copy it, i.e. quadratic time).
    mcu = 0
    for interval in intervals:
        if mcu >= n_mcus:
            break
        data = interval
        dlen = len(data)
        dbits = dlen * 8
        acc = 0
        nacc = 0  # bits currently held in acc (may include tail pad)
        pos = 0  # next real byte to feed
        fed = 0  # total bits fed into acc (real + synthesized pad)
        pred = [0] * len(comps)
        for _ in range(min(per_interval, n_mcus - mcu)):
            my, mx = divmod(mcu, mcus_x)
            for ci, cm in enumerate(comp_meta):
                dc_lut = cm["dc"]
                ac_lut = cm["ac"]
                cv = cm["v"]
                chh = cm["h"]
                cbw = cm["bw"]
                czz = cm["zz"]
                for by in range(cv):
                    for bx in range(chh):
                        z = [0] * 64
                        # --- DC symbol
                        while nacc < 16:
                            if pos < dlen:
                                acc = ((acc & 0xFFFF) << 8) | data[pos]
                                pos += 1
                            else:
                                acc = (acc & 0xFFFF) << 8
                            fed += 8
                            nacc += 8
                        e = dc_lut[(acc >> (nacc - 16)) & 0xFFFF]
                        ln = e & 31
                        rem = dbits - (fed - nacc)
                        if e == 0:
                            if rem < 16:
                                raise ValueError(
                                    "JPEG entropy data exhausted"
                                )
                            raise ValueError("invalid JPEG Huffman code")
                        if ln > rem:
                            raise ValueError("JPEG entropy data exhausted")
                        nacc -= ln
                        cat = e >> 5
                        if cat > 15:  # corrupt DHT values; spec max is 11
                            raise ValueError("invalid DC category")
                        if cat:
                            while nacc < cat:
                                if pos < dlen:
                                    acc = ((acc & 0xFFFF) << 8) | data[pos]
                                    pos += 1
                                else:
                                    acc = (acc & 0xFFFF) << 8
                                fed += 8
                                nacc += 8
                            if cat > dbits - (fed - nacc):
                                raise ValueError(
                                    "JPEG entropy data exhausted"
                                )
                            nacc -= cat
                            v = (acc >> nacc) & ((1 << cat) - 1)
                            pred[ci] += (
                                v
                                if v >= (1 << (cat - 1))
                                else v - (1 << cat) + 1
                            )
                        z[0] = pred[ci]
                        k = 1
                        while k < 64:
                            # --- AC symbol
                            while nacc < 16:
                                if pos < dlen:
                                    acc = ((acc & 0xFFFF) << 8) | data[pos]
                                    pos += 1
                                else:
                                    acc = (acc & 0xFFFF) << 8
                                fed += 8
                                nacc += 8
                            e = ac_lut[(acc >> (nacc - 16)) & 0xFFFF]
                            ln = e & 31
                            rem = dbits - (fed - nacc)
                            if e == 0:
                                if rem < 16:
                                    raise ValueError(
                                        "JPEG entropy data exhausted"
                                    )
                                raise ValueError(
                                    "invalid JPEG Huffman code"
                                )
                            if ln > rem:
                                raise ValueError(
                                    "JPEG entropy data exhausted"
                                )
                            nacc -= ln
                            sym = e >> 5
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += sym >> 4
                            if k > 63:
                                raise ValueError("AC index overrun")
                            cat = sym & 0xF
                            if cat > 10:  # spec max for baseline AC
                                raise ValueError("invalid AC category")
                            if cat:
                                while nacc < cat:
                                    if pos < dlen:
                                        acc = ((acc & 0xFFFF) << 8) | data[pos]
                                        pos += 1
                                    else:
                                        acc = (acc & 0xFFFF) << 8
                                    fed += 8
                                    nacc += 8
                                if cat > dbits - (fed - nacc):
                                    raise ValueError(
                                        "JPEG entropy data exhausted"
                                    )
                                nacc -= cat
                                v = (acc >> nacc) & ((1 << cat) - 1)
                                z[k] = (
                                    v
                                    if v >= (1 << (cat - 1))
                                    else v - (1 << cat) + 1
                                )
                            k += 1
                        czz[(my * cv + by) * cbw + mx * chh + bx] = z
            mcu += 1
    if mcu < n_mcus:
        raise ValueError("truncated JPEG scan")

    planes = []
    for cm in comp_meta:
        # dequant + unzigzag vectorized over ALL blocks at once (the old
        # loop paid two numpy ops per block); int products are exact in
        # float64, so values match the per-block int32 path bit for bit
        deq = (
            np.array(cm["zz"], dtype=np.float64)[:, _UNZIGZAG].reshape(
                -1, 8, 8
            )
            * cm["q"]
        )
        blocks = np.einsum("ji,njk,kl->nil", _DCT, deq, _DCT) + 128.0
        plane = (
            blocks.reshape(cm["bh"], cm["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(cm["bh"] * 8, cm["bw"] * 8)
        )
        # upsample to full resolution (sample-and-hold, the baseline
        # reconstruction), then crop padding
        plane = np.repeat(
            np.repeat(plane, vmax // cm["v"], axis=0), hmax // cm["h"], axis=1
        )
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return out[:, :, None]
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=2)), 0, 255
    ).astype(np.uint8)


# ---------------------------------------------------------------------------
# metadata segments: walk / strip / EXIF (the PII face of image ingest —
# GPS geotags ride in APP1; training pipelines must be able to find and
# remove them without re-encoding pixels)
# ---------------------------------------------------------------------------


def iter_segments(payload: bytes):
    """Yield (marker, seg_start, seg_end) for each marker segment up to
    SOS (after which entropy data runs to EOI). seg_start/seg_end bound
    the WHOLE segment including the 0xFF-marker bytes, so callers can
    splice segments out byte-exactly."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        if payload[pos + 1] == 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker == 0xD9:
            return
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        if seg_len < 2 or pos + 2 + seg_len > len(payload):
            raise ValueError("truncated JPEG segment")
        yield marker, pos, pos + 2 + seg_len
        if marker == 0xDA:  # SOS — entropy-coded data follows
            return
        pos += 2 + seg_len


def strip_jpeg_metadata(payload: bytes) -> bytes:
    """Remove every APPn (0xE0–0xEF) and COM (0xFE) segment — EXIF
    (GPS!), XMP, ICC, thumbnails, comments — WITHOUT touching entropy
    data: pure byte splicing, the decoded pixels are bit-identical.
    (JFIF's APP0 is also dropped; decoders, including this module's,
    don't need it.)"""
    drops = [
        (s, e)
        for m, s, e in iter_segments(payload)
        if 0xE0 <= m <= 0xEF or m == 0xFE
    ]
    if not drops:
        return payload
    out = []
    pos = 0
    for s, e in drops:
        out.append(payload[pos:s])
        pos = e
    out.append(payload[pos:])
    return b"".join(out)


_EXIF_GPS_IFD = 0x8825
_EXIF_ORIENTATION = 0x0112


def _tiff_u16(data, off, le):
    return struct.unpack_from("<H" if le else ">H", data, off)[0]


def _tiff_u32(data, off, le):
    return struct.unpack_from("<I" if le else ">I", data, off)[0]


def _ifd_entries(tiff, ifd_off, le):
    n = _tiff_u16(tiff, ifd_off, le)
    for k in range(n):
        e = ifd_off + 2 + 12 * k
        tag = _tiff_u16(tiff, e, le)
        typ = _tiff_u16(tiff, e + 2, le)
        cnt = _tiff_u32(tiff, e + 4, le)
        yield tag, typ, cnt, e + 8
    return


def _rational(tiff, off, le):
    num = _tiff_u32(tiff, off, le)
    den = _tiff_u32(tiff, off + 4, le)
    return num / den if den else 0.0


def parse_exif(payload: bytes) -> dict:
    """Minimal EXIF reader over the APP1 TIFF structure (public
    EXIF/TIFF 6.0 layout): returns {orientation, has_gps, gps_lat,
    gps_lon} — the fields a curation pipeline actually gates on
    (rotation-aware decode; geotag PII). Missing EXIF → all-None/False.
    Degree-minute-second rationals reduce to signed decimal degrees."""
    out = {"orientation": None, "has_gps": False,
           "gps_lat": None, "gps_lon": None}
    app1 = None
    for m, s, e in iter_segments(payload):
        if m == 0xE1 and payload[s + 4:s + 10] == b"Exif\x00\x00":
            app1 = payload[s + 10:e]
            break
    if app1 is None:
        return out
    le = app1[:2] == b"II"
    if not le and app1[:2] != b"MM":
        raise ValueError("bad TIFF byte-order mark in EXIF")
    ifd0 = _tiff_u32(app1, 4, le)
    gps_off = None
    for tag, typ, cnt, val_off in _ifd_entries(app1, ifd0, le):
        if tag == _EXIF_ORIENTATION:
            out["orientation"] = _tiff_u16(app1, val_off, le)
        elif tag == _EXIF_GPS_IFD:
            gps_off = _tiff_u32(app1, val_off, le)
    if gps_off is not None:
        out["has_gps"] = True
        refs, coords = {}, {}
        for tag, typ, cnt, val_off in _ifd_entries(app1, gps_off, le):
            if tag in (1, 3):  # LatRef / LonRef: ASCII inline
                refs[tag] = app1[val_off:val_off + 1].decode(
                    "ascii", "replace"
                )
            elif tag in (2, 4) and typ == 5 and cnt == 3:  # 3 rationals
                off = _tiff_u32(app1, val_off, le)
                d = _rational(app1, off, le)
                mi = _rational(app1, off + 8, le)
                sec = _rational(app1, off + 16, le)
                coords[tag] = d + mi / 60.0 + sec / 3600.0
        if 2 in coords:
            out["gps_lat"] = coords[2] * (-1 if refs.get(1) == "S" else 1)
        if 4 in coords:
            out["gps_lon"] = coords[4] * (-1 if refs.get(3) == "W" else 1)
    return out


def build_exif_app1(
    orientation: int | None = None,
    gps: tuple[float, float] | None = None,
) -> bytes:
    """Fabricate a spec-shaped APP1 EXIF segment (little-endian TIFF)
    for tests and deterministic fixtures: optional orientation tag and
    optional GPS IFD with DMS-rational lat/lon."""
    def u16(v):
        return struct.pack("<H", v)

    def u32(v):
        return struct.pack("<I", v)

    def dms(value):
        v = abs(value)
        d = int(v)
        m = int((v - d) * 60)
        s = round(((v - d) * 60 - m) * 60 * 10000)
        return (u32(d) + u32(1) + u32(m) + u32(1) + u32(s) + u32(10000))

    entries0 = []
    extra = b""
    # offsets are from the TIFF header start; IFD0 begins at 8
    n0 = (1 if orientation is not None else 0) + (1 if gps else 0)
    ifd0_size = 2 + 12 * n0 + 4
    data_cursor = 8 + ifd0_size
    if orientation is not None:
        entries0.append(u16(0x0112) + u16(3) + u32(1) + u16(orientation) + u16(0))
    if gps:
        gps_ifd_off = data_cursor
        entries0.append(u16(0x8825) + u16(4) + u32(1) + u32(gps_ifd_off))
        lat, lon = gps
        ng = 4
        gps_size = 2 + 12 * ng + 4
        lat_off = gps_ifd_off + gps_size
        lon_off = lat_off + 24
        g = [
            u16(1) + u16(2) + u32(2)
            + (b"N\x00" if lat >= 0 else b"S\x00") + u16(0),
            u16(2) + u16(5) + u32(3) + u32(lat_off),
            u16(3) + u16(2) + u32(2)
            + (b"E\x00" if lon >= 0 else b"W\x00") + u16(0),
            u16(4) + u16(5) + u32(3) + u32(lon_off),
        ]
        extra = u16(ng) + b"".join(g) + u32(0) + dms(lat) + dms(lon)
    tiff = b"II*\x00" + u32(8) + u16(n0) + b"".join(entries0) + u32(0) + extra
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
