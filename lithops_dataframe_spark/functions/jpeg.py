"""Baseline JPEG (ITU-T T.81) codec — pure stdlib + numpy.

Decoder: baseline sequential DCT (SOF0), 8-bit samples, grayscale or
YCbCr with 1x1 / 2x1 / 1x2 / 2x2 sampling factors, restart intervals,
0xFF00 byte unstuffing. Progressive (SOF2) and arithmetic coding raise
``NotImplementedError`` — real capability boundaries, same policy as the
PNG Adam7 / 16-bit PNM limits in codecs.py.

Encoder: baseline 4:4:4 (or 4:2:0 via ``subsample=True``) with the
standard Annex K Huffman tables. The default quantization table is
all-ones, which makes the encode→decode round trip near-lossless (error
only from DCT float rounding and the color transform) — that property is
what the differential tests and the tolerance-gated query oracle bound.

Reference parity: the reference repo never decodes media at all (its io
surface is CSV, ``/root/reference/dataframe/io.py``); this exists because
the multimodal column surface treats image payloads as first-class.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_jpeg", "encode_jpeg"]

# zig-zag scan order: index i of the stream -> (row, col) flattened offset
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3 standard Huffman specs: (BITS[1..16], HUFFVAL)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix A: forward X = A @ x @ A.T,
    inverse x = A.T @ X @ A."""
    a = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            a[u, x] = c * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


_A = _dct_matrix()


def _huff_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C code assignment: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    return {(l, c): s for s, (c, l) in _huff_codes(bits, values).items()}


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over already-unstuffed entropy bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read_bit(self) -> int:
        byte = self.pos >> 3
        if byte >= len(self.data):
            # past the end: baseline streams may rely on 1-padding
            return 1
        bit = (self.data[byte] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return bit

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 sign extension of a SIZE-bit magnitude."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _split_scan(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Unstuff 0xFF00 and split the entropy stream on restart markers;
    returns (segments, index of the terminating marker's 0xFF)."""
    segs: list[bytes] = []
    cur = bytearray()
    i = start
    n = len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        m = data[i + 1] if i + 1 < n else 0xD9
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # any real marker ends the scan
            break
    segs.append(bytes(cur))
    return segs, i


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG to uint8 ``(h, w)`` (grayscale) or
    ``(h, w, 3)`` (RGB via the JFIF YCbCr transform)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps: list[dict] = []
    w = h = None
    restart_interval = 0
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            raise ValueError("jpeg: lost marker sync")
        marker = data[i + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            i += 2
            continue
        if marker == 0xD9:  # EOI carries no length segment
            break
        seg_len = struct.unpack_from(">H", data, i + 2)[0]
        body = data[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0:
                    raise NotImplementedError("jpeg: 16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZIGZAG] = np.frombuffer(body, dtype=np.uint8, count=64, offset=j + 1)
                qt[tq] = tbl.reshape(8, 8)
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = list(body[j + 1 : j + 17])
                nv = sum(bits)
                values = list(body[j + 17 : j + 17 + nv])
                tbl = _huff_decode_table(bits, values)
                (huff_ac if tc else huff_dc)[th] = tbl
                j += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1: baseline ok
            prec, h, w, nc = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8:
                raise NotImplementedError("jpeg: precision != 8 unsupported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("jpeg: only baseline sequential (SOF0/1) supported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            ns = body[0]
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                for comp in comps:
                    if comp["id"] == cs:
                        comp["td"], comp["ta"] = tables >> 4, tables & 0x0F
            scan_start = i + 2 + seg_len
            return _decode_scan(
                data, scan_start, w, h, comps, qt, huff_dc, huff_ac, restart_interval
            )
        elif marker == 0xD9:
            break
        i += 2 + seg_len
    raise ValueError("jpeg: no scan data")


def _decode_scan(data, start, w, h, comps, qt, huff_dc, huff_ac, restart_interval):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)
    for c in comps:
        c["plane"] = np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        c["dc"] = 0

    segs, _end = _split_scan(data, start)
    seg_idx = 0
    reader = _BitReader(segs[0])
    mcu_count = 0
    total = mcus_x * mcus_y
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                seg_idx += 1
                if seg_idx >= len(segs):
                    raise ValueError("jpeg: missing restart segment")
                reader = _BitReader(segs[seg_idx])
                for c in comps:
                    c["dc"] = 0
            for c in comps:
                dct = huff_dc[c["td"]]
                act = huff_ac[c["ta"]]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coeffs = np.zeros(64, dtype=np.int64)
                        s = reader.read_symbol(dct)
                        diff = _extend(reader.read_bits(s), s)
                        c["dc"] += diff
                        coeffs[0] = c["dc"]
                        k = 1
                        while k < 64:
                            rs = reader.read_symbol(act)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("jpeg: AC index overflow")
                            coeffs[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[_ZIGZAG] = coeffs
                        block = block.reshape(8, 8) * q
                        pix = _A.T @ block @ _A + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        c["plane"][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu_count += 1
    assert mcu_count == total

    planes = []
    for c in comps:
        p = c["plane"]
        # upsample subsampled chroma by pixel replication, then crop
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
    if len(planes) != 3:
        raise NotImplementedError(f"jpeg: {len(planes)}-component images unsupported")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-padding per T.81


def _encode_block(bw, block, q, dc_codes, ac_codes, pred):
    coeffs = np.rint((_A @ (block - 128.0) @ _A.T) / q).astype(np.int64)
    zz = coeffs.flatten()[_ZIGZAG]  # gather into zig-zag stream order
    diff = int(zz[0]) - pred
    size = int(diff).bit_length() if diff else 0
    code, length = dc_codes[size]
    bw.write(code, length)
    if size:
        v = diff if diff > 0 else diff + (1 << size) - 1
        bw.write(v, size)
    run = 0
    last_nz = 0
    for k in range(1, 64):
        if zz[k]:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, l = ac_codes[0xF0]  # ZRL
            bw.write(c, l)
            run -= 16
        size = abs(v).bit_length()
        c, l = ac_codes[(run << 4) | size]
        bw.write(c, l)
        m = v if v > 0 else v + (1 << size) - 1
        bw.write(m, size)
        run = 0
    if last_nz < 63:
        c, l = ac_codes[0x00]  # EOB
        bw.write(c, l)
    return int(zz[0])


def encode_jpeg(arr: np.ndarray, *, subsample: bool = False, restart_interval: int = 0) -> bytes:
    """Encode gray ``(h, w)`` or RGB ``(h, w, 3)`` uint8 as baseline JPEG.

    All-ones quantization tables: the only loss is DCT float rounding (and
    the chroma transform + optional 4:2:0 averaging), so decode(encode(x))
    stays within a few counts of x — the property the tests bound."""
    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError(f"encode_jpeg: unsupported shape {arr.shape}")
    h, w = arr.shape[:2]
    q = np.ones((8, 8), dtype=np.int32)

    if gray:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            # 4:2:0: average 2x2 neighborhoods (pad odd dims by edge)
            def down(p):
                ph, pw = -(-p.shape[0] // 2) * 2, -(-p.shape[1] // 2) * 2
                p = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
                return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0

            planes = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT (table 0 used by every component)
    zz_q = np.empty(64, dtype=np.uint8)
    zz_q[np.arange(64)] = q.flatten()[_ZIGZAG]
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes(zz_q)
    # SOF0
    nc = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: emit the standard tables actually used
    specs = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if nc == 3:
        specs += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tcth, (bits, values) in specs:
        body = bytes([tcth]) + bytes(bits) + bytes(values)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    # SOS
    sos = bytes([nc])
    for ci in range(nc):
        dc_id, ac_id = (0, 0) if ci == 0 else (1, 1)
        sos += bytes([ci + 1, (dc_id << 4) | ac_id])
    sos += bytes([0, 63, 0])
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_l, ac_l = _huff_codes(*_DC_LUMA), _huff_codes(*_AC_LUMA)
    dc_c, ac_c = _huff_codes(*_DC_CHROMA), _huff_codes(*_AC_CHROMA)
    bw = _BitWriter()
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # per-component padded planes sized to the MCU grid
    padded = []
    for ci, p in enumerate(planes):
        hs, vs = samp[ci]
        th, tw = mcus_y * vs * 8, mcus_x * hs * 8
        padded.append(
            np.pad(
                p,
                ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                mode="edge",
            )
        )
    preds = [0] * nc
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                out += bw.out
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * nc
            mcu_count += 1
            for ci in range(nc):
                hs, vs = samp[ci]
                dc_codes, ac_codes = (dc_l, ac_l) if ci == 0 else (dc_c, ac_c)
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        block = padded[ci][y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = _encode_block(
                            bw, block, q, dc_codes, ac_codes, preds[ci]
                        )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
