"""Baseline JPEG codec (grayscale) for the multimodal surface — the
round-8 companion to ``operators/png.py``.

Real training corpora are JPEG-heavy; the container ships no image
libraries, but baseline JPEG is a fully public spec (ITU-T T.81 /
ISO 10918-1): 8x8 block DCT, uniform quantization, zigzag ordering,
canonical Huffman entropy coding with byte stuffing. This module
implements a spec-conformant subset:

* SOF0 baseline DCT, single component (8-bit grayscale), no
  subsampling, no restart markers;
* encoder: edge-replicated block padding, exact float fDCT,
  round-half-away quantization, DC prediction, full AC run-length /
  ZRL / EOB coding with the T.81 Annex K luminance Huffman tables;
* decoder: general marker walk (skips APPn/COM), arbitrary DQT/DHT
  (it does NOT assume the Annex K tables), canonical Huffman decode
  with byte unstuffing, dequantize, float IDCT, level shift + clamp.

r14 vectorization (guide §4.2 — do the heavy lifting in native code):
the per-pixel/per-coefficient Python loops were the top untouched
sweep cost. All blocks of an image now run as BATCHED numpy kernels —
edge padding via ``np.pad``, fDCT/IDCT as stacked 8x8 matrix products
(bit-identical per block to the previous per-block numpy products:
``np.matmul`` over a stacked (N,8,8) operand applies the same 2-D
product per slice), zigzag/quantize/clamp as array expressions — and
the Huffman decoder reads via a 16-bit prefix LUT over a chunked
integer bit-buffer instead of a per-bit function call. Byte-identical
encode output and pixel-identical decode on the full adversarial
reference suite (tests/test_jpeg.py::test_kernels_match_reference).

Exactness note for the oracle gate (``queries/tier40.jpeg_decode_
exact``): JPEG is lossy in general, so cross-engine certification
uses BLOCK-CONSTANT synthetic images and an all-ones quantization
table. For a constant block the forward DCT is exactly
``DC = 8 * (v - 128)`` with every AC zero, and the float IDCT of a
DC-only block is ``DC / 8`` — exact in IEEE doubles because DC is a
multiple of 8 — so decode(encode(img)) == img BIT-FOR-BIT through
the fully general code paths, and DuckDB can recompute the expected
pixel stats from the block rule without ever touching a file. The
general lossy path is covered by pytest round-trip tolerance tests.

Reference parity note: the reference app never decodes images (it is
a CSV/Excel ETL UI, ``/root/reference/main.py:69-94``); this module
backs the multimodal-column mandate, not a reference operator.

Scale posture: same as PNG — encode/decode cost tracks payload
bytes, one Python crossing per Arrow batch inside mapInPandas.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .png import _MAX_PIXEL_BYTES


class JpegError(ValueError):
    """Malformed or unsupported JPEG payload."""


# -- T.81 Annex K luminance Huffman tables (public spec constants) ---

_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))

_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
        for x in range(8)]
_C = [1 / math.sqrt(2)] + [1.0] * 7

_NP_COS = np.array(_COS)              # [x][u]
_NP_CC = 0.25 * np.outer(_C, _C)      # [u][v] scale
_NP_ZZ = np.array(_ZIGZAG, dtype=np.int64)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:                 # byte stuffing
                self.buf.append(0x00)
            self._n -= 8
            self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.put((1 << pad) - 1, pad)    # 1-fill per spec


def encode_jpeg_gray(pixels: bytes, width: int, height: int,
                     quant: list[int] | None = None) -> bytes:
    """Encode 8-bit grayscale pixels (row-major) as a baseline JFIF
    JPEG with the Annex K Huffman tables and the given 64-entry
    quantization table (default all-ones — numerically transparent,
    the configuration the exact-oracle queries rely on)."""
    if len(pixels) != width * height:
        raise JpegError("pixel buffer does not match dimensions")
    if not (0 < width < 65536 and 0 < height < 65536):
        raise JpegError("bad dimensions")
    q = list(quant) if quant is not None else [1] * 64
    if len(q) != 64 or any(not 1 <= x <= 255 for x in q):
        raise JpegError("quant table must be 64 values in 1..255")

    bw, bh = (width + 7) // 8, (height + 7) // 8
    img = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
        height, width)
    # edge-replicated padding == the per-pixel min(coord, dim-1) clamp
    pad = np.pad(img, ((0, bh * 8 - height), (0, bw * 8 - width)),
                 mode="edge")
    blocks = (pad.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
              .reshape(bh * bw, 8, 8).astype(np.float64) - 128.0)
    # batched fDCT (T.81 A.3.3): s[u][v] = sum_x sum_y b[y][x] cos cos
    s = _NP_COS.T @ blocks.transpose(0, 2, 1) @ _NP_COS
    coef = (_NP_CC * s).transpose(0, 2, 1).reshape(-1, 64)
    # zigzag + quantize, rounding half away from zero (not banker's)
    c = coef[:, _NP_ZZ] / np.asarray(q, dtype=np.float64)
    zz = np.where(c >= 0, np.floor(c + 0.5),
                  -np.floor(-c + 0.5)).astype(np.int64)
    diffs = np.diff(zz[:, 0], prepend=np.int64(0))  # DC prediction

    w = _BitWriter()
    put = w.put
    # nonzero AC positions for all blocks at once; rows come out
    # sorted by block, so searchsorted yields per-block slices
    nz_rows, nz_cols = np.nonzero(zz[:, 1:])
    nz_cols = nz_cols + 1
    starts = np.searchsorted(nz_rows, np.arange(zz.shape[0] + 1))
    diffs_l = diffs.tolist()
    cols_l = nz_cols.tolist()
    vals_l = zz[nz_rows, nz_cols].tolist()
    for bi in range(zz.shape[0]):
        diff = diffs_l[bi]
        s_ = diff.bit_length() if diff >= 0 else (-diff).bit_length()
        put(*_DC_ENC[s_])
        if s_:
            put(diff if diff > 0 else diff + (1 << s_) - 1, s_)
        prev = 0
        for j in range(starts[bi], starts[bi + 1]):
            k = cols_l[j]
            v = vals_l[j]
            run = k - prev - 1
            while run > 15:
                put(*_AC_ENC[0xF0])          # ZRL
                run -= 16
            s_ = v.bit_length() if v >= 0 else (-v).bit_length()
            put(*_AC_ENC[(run << 4) | s_])
            put(v if v > 0 else v + (1 << s_) - 1, s_)
            prev = k
        if prev < 63:
            put(*_AC_ENC[0x00])              # EOB
    w.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dht(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([tc_th] + bits + vals)

    zq = bytes([0]) + bytes(q[i] for i in range(64))
    out = bytearray(b"\xff\xd8")                         # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, zq)                               # DQT
    out += seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1)
               + bytes([1, 0x11, 0]))                    # SOF0
    out += seg(0xFFC4, dht(0x00, _DC_BITS, _DC_VALS))    # DHT DC
    out += seg(0xFFC4, dht(0x10, _AC_BITS, _AC_VALS))    # DHT AC
    out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))    # SOS
    out += w.buf
    out += b"\xff\xd9"                                   # EOI
    return bytes(out)


# 16-bit prefix LUTs keyed by the DHT table bytes: every decoded image
# in a corpus typically shares a handful of tables, so the 64 Ki-entry
# build cost amortizes to zero (cache lives for the Python worker)
_LUT_CACHE: dict[bytes, tuple[list[int], list[int]]] = {}


def _decode_huff_tables(payload: bytes) -> dict:
    """One DHT segment may carry several tables. Each becomes a pair
    of 65536-entry lists (symbol, code length) indexed by the next 16
    bits of the stream — canonical codes are prefix-free, so every
    16-bit word with a given code prefix maps to that code's symbol;
    -1 marks invalid prefixes."""
    tables, i = {}, 0
    while i < len(payload):
        tc_th = payload[i]
        bits = bytes(payload[i + 1:i + 17])
        n = sum(bits)
        vals = bytes(payload[i + 17:i + 17 + n])
        if len(vals) != n:
            raise JpegError("truncated DHT")
        key = bits + vals
        lut = _LUT_CACHE.get(key)
        if lut is None:
            sym = np.full(1 << 16, -1, dtype=np.int32)
            ln = np.zeros(1 << 16, dtype=np.int32)
            code, k = 0, 0
            for length in range(1, 17):
                for _ in range(bits[length - 1]):
                    sym[code << (16 - length):(code + 1) << (16 - length)] = vals[k]
                    ln[code << (16 - length):(code + 1) << (16 - length)] = length
                    code += 1
                    k += 1
                code <<= 1
            lut = (sym.tolist(), ln.tolist())   # list indexing beats
            _LUT_CACHE[key] = lut               # numpy scalar reads
        tables[tc_th] = lut
        i += 17 + n
    return tables


def decode_jpeg_gray(payload: bytes) -> tuple[bytes, int, int]:
    """Decode a baseline single-component (grayscale) JPEG. Returns
    (pixels row-major, width, height). General within the subset:
    arbitrary quant/Huffman tables, any AC structure, APPn/COM
    segments skipped."""
    if payload[:2] != b"\xff\xd8":
        raise JpegError("missing SOI")
    i = 2
    quant: dict[int, list[int]] = {}
    huff: dict[int, tuple[list[int], list[int]]] = {}
    width = height = None
    comp_q = comp_dc = comp_ac = 0
    while True:
        if i + 2 > len(payload):
            raise JpegError("truncated before SOS")
        if payload[i] != 0xFF:
            raise JpegError("bad marker alignment")
        # spec-legal 0xFF fill bytes may pad the gap before a marker
        while i + 1 < len(payload) and payload[i + 1] == 0xFF:
            i += 1
        if i + 2 > len(payload):
            raise JpegError("truncated before SOS")
        marker = payload[i + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:      # TEM / RSTn
            i += 2            # standalone markers carry no length
            continue
        if marker == 0xD9:
            raise JpegError("EOI before SOS")
        if i + 4 > len(payload):
            raise JpegError("truncated before SOS")
        seglen = struct.unpack(">H", payload[i + 2:i + 4])[0]
        if seglen < 2:
            raise JpegError("bad segment length")
        body = payload[i + 4:i + 2 + seglen]
        i += 2 + seglen
        if marker == 0xDB:                                # DQT
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0:
                    raise JpegError("16-bit quant unsupported")
                quant[tq] = list(body[j + 1:j + 65])
                if len(quant[tq]) != 64:
                    raise JpegError("truncated DQT")
                j += 65
        elif marker == 0xC4:                              # DHT
            huff.update(_decode_huff_tables(body))
        elif marker == 0xC0:                              # SOF0
            prec, height, width, ncomp = struct.unpack(
                ">BHHB", body[:6])
            if prec != 8 or ncomp != 1:
                raise JpegError("only 8-bit single-component baseline")
            if body[7] != 0x11:
                raise JpegError("subsampling unsupported")
            comp_q = body[8]
            if width * height > _MAX_PIXEL_BYTES:
                raise JpegError("image too large")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError("non-baseline SOF unsupported")
        elif marker == 0xDA:                              # SOS
            if width is None:
                raise JpegError("SOS before SOF0")
            comp_dc = body[2] >> 4
            comp_ac = body[2] & 0x0F
            break
        # APPn / COM / others: skipped
    q = quant.get(comp_q)
    dc_tab = huff.get(0x00 | comp_dc)
    ac_tab = huff.get(0x10 | comp_ac)
    if q is None or dc_tab is None or ac_tab is None:
        raise JpegError("missing tables")

    # unstuff the entropy segment in one numpy pass: data ends at the
    # first 0xFF followed by a non-0x00 byte (a real marker), and every
    # 0x00 directly after a 0xFF is a stuffed byte to drop
    tail = np.frombuffer(payload, dtype=np.uint8)[i:]
    is_ff = tail == 0xFF
    nxt = np.empty_like(tail)
    if tail.size:
        nxt[:-1] = tail[1:]
        # a lone trailing 0xFF is truncated data: treat as scan end
        nxt[-1] = 0xD9 if is_ff[-1] else 0
    marker_pos = np.flatnonzero(is_ff & (nxt != 0))
    end = int(marker_pos[0]) if marker_pos.size else tail.size
    seg = tail[:end]
    keep = np.ones(seg.size, dtype=bool)
    keep[1:] = ~is_ff[:end - 1] | (seg[1:] != 0)
    buf = seg[keep].tobytes()

    bw, bh = (width + 7) // 8, (height + 7) // 8
    nblocks = bw * bh
    dc_sym, dc_len = dc_tab
    ac_sym, ac_len = ac_tab
    zz = np.zeros((nblocks, 64), dtype=np.int64)
    dc_diffs = np.zeros(nblocks, dtype=np.int64)

    # chunked bit reader: acc holds nbits of stream (zero-padded past
    # the real data by pad_bits so a 16-bit LUT peek near the end stays
    # valid; any symbol/value that would CONSUME pad bits is truncation)
    acc = 0
    nbits = 0
    pad_bits = 0
    pos = 0

    def _refill():
        nonlocal acc, nbits, pos, pad_bits
        chunk = buf[pos:pos + 8]
        if chunk:
            acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
            nbits += 8 * len(chunk)
            pos += len(chunk)
        else:
            acc <<= 16
            nbits += 16
            pad_bits += 16

    for bi in range(nblocks):
        while nbits < 16:
            _refill()
        peek = (acc >> (nbits - 16)) & 0xFFFF
        s = dc_sym[peek]
        if s < 0:
            raise JpegError("invalid Huffman code")
        if dc_len[peek] > nbits - pad_bits:
            raise JpegError("entropy data truncated")
        nbits -= dc_len[peek]
        if s:
            while nbits < s:
                _refill()
            if s > nbits - pad_bits:
                raise JpegError("entropy data truncated")
            v = (acc >> (nbits - s)) & ((1 << s) - 1)
            nbits -= s
            # T.81 F.2.2.1 EXTEND: s unsigned bits -> signed value
            dc_diffs[bi] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        k = 1
        row = zz[bi]
        while k < 64:
            while nbits < 16:
                _refill()
            peek = (acc >> (nbits - 16)) & 0xFFFF
            rs = ac_sym[peek]
            if rs < 0:
                raise JpegError("invalid Huffman code")
            if ac_len[peek] > nbits - pad_bits:
                raise JpegError("entropy data truncated")
            nbits -= ac_len[peek]
            run, size = rs >> 4, rs & 0x0F
            if size == 0:
                if run == 15:            # ZRL
                    k += 16
                    continue
                break                    # EOB
            k += run
            if k > 63:
                raise JpegError("AC index out of range")
            while nbits < size:
                _refill()
            if size > nbits - pad_bits:
                raise JpegError("entropy data truncated")
            v = (acc >> (nbits - size)) & ((1 << size) - 1)
            nbits -= size
            row[k] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
            k += 1
        acc &= (1 << nbits) - 1 if nbits else 0   # keep acc bounded

    zz[:, 0] = np.cumsum(dc_diffs)                # DC prediction
    # dequantize + inverse zigzag: coef[ZIGZAG[j]] = zz[j] * q[j]
    coef = np.zeros((nblocks, 64), dtype=np.float64)
    coef[:, _NP_ZZ] = zz * np.asarray(q, dtype=np.float64)
    # batched IDCT — same matrix products as the fDCT, transposed in
    cm = _NP_CC * coef.reshape(nblocks, 8, 8).transpose(0, 2, 1)
    out = _NP_COS @ cm @ _NP_COS.T                # [x][y]
    pix = np.floor(out.transpose(0, 2, 1) + 128.5)  # [y][x], lvl shift
    np.clip(pix, 0, 255, out=pix)
    img = (pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
           .reshape(bh * 8, bw * 8).astype(np.uint8))
    return img[:height, :width].tobytes(), width, height
