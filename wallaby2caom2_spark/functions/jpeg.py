"""Baseline JPEG codec (grayscale) — stdlib + numpy, no image library.

Completes the multimodal decode story: after functions/png.py made PNG
pixel decode real, this makes JPEG entropy decode real for the baseline
sequential grayscale subset (SOF0, one component, 8-bit, Annex K huffman
tables): DQT/DHT/SOF0/SOS segment parse, byte-unstuffed bitstream, huffman
DC/AC decode, dequantize, de-zigzag, 8x8 IDCT, level shift. Anything else
(progressive, multi-component/chroma subsampling, arithmetic coding,
restart markers, 12-bit) → ``None`` — the usual containment convention.

The encoder is the exact dual (FDCT → quantize → zigzag → huffman with
byte stuffing) and exists so the media fixture can carry REAL decodable
JPEGs. With a flat quantization table and 8x8-block-constant pixels the
round trip is EXACT (only the DC coefficient is non-zero and it quantizes
losslessly), which is what lets a DuckDB oracle recompute decoded-pixel
statistics analytically — see datagen.generate_media_rows and
queries/clips_flagship.py ``jpeg_pixel_oracle``. On arbitrary images the
codec is the standard lossy transform (round-trip error ~1 LSB at flat
quant, pinned in tests/test_jpeg_codec.py).

Tables are the public JPEG spec's (ITU-T T.81 Annex K) typical luminance
huffman tables. The sandbox ships no independent JPEG reader to
cross-check against; interop evidence is structural (the stream parses by
the segment walker in operators/multimodal.py, tables are the spec
constants, stuffing/markers per spec) plus the analytic oracle on the
fixture family.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag order: index k in the coded sequence -> position in the 8x8 block
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# ITU-T T.81 Annex K.3.1: typical luminance DC table (BITS, HUFFVAL)
DC_BITS = [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]  # [0]unused
DC_VALS = [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11]
# Annex K.3.2: typical luminance AC table
AC_BITS = [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
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
]


def _dct_matrix() -> np.ndarray:
    """8x8 orthonormal DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1)uπ/16).
    FDCT of block f is A @ f @ A.T; IDCT of F is A.T @ F @ A."""
    x = np.arange(8)
    a = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    a[0, :] *= 1 / np.sqrt(2)
    return a


_A = _dct_matrix()


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """(BITS, HUFFVAL) → {symbol: (code, length)} per T.81 Annex C."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_CODES = _build_codes(DC_BITS, DC_VALS)
_AC_CODES = _build_codes(AC_BITS, AC_VALS)


def _build_decoder(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Inverse map {(length, code): symbol} for the bit-at-a-time reader."""
    return {(ln, code): sym for sym, (code, ln) in _build_codes(bits, vals).items()}


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing, T.81 F.1.2.3
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _encode_coef(writer: _BitWriter, codes, prefix_sym_bits: int, v: int) -> None:
    """Huffman symbol (category, or run<<4|category for AC) + amplitude
    bits: negative v is encoded as v - 1 in ``category`` low bits."""
    cat = _category(v)
    code, ln = codes[prefix_sym_bits | cat]
    writer.write(code, ln)
    if cat:
        writer.write(v if v >= 0 else v - 1 + (1 << cat), cat)


def encode_jpeg_gray(img: np.ndarray, quant: np.ndarray | int = 1) -> bytes:
    """(h, w) uint8 → baseline sequential grayscale JPEG bytes.

    ``quant``: scalar or (8, 8) table (flat 1 = highest fidelity; with
    8x8-block-constant input the round trip is then exact). Image edges
    are replicated to fill partial blocks; the decoder crops back to the
    SOF dimensions."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("expected (h, w) uint8")
    h, w = img.shape
    q = np.full((8, 8), int(quant), np.int64) if np.isscalar(quant) else (
        quant.astype(np.int64)
    )
    if q.shape != (8, 8) or (q < 1).any() or (q > 255).any():
        raise ValueError("quant must be scalar or (8,8) in 1..255")
    bh, bw = -(-h // 8), -(-w // 8)
    padded = np.empty((bh * 8, bw * 8), dtype=np.float64)
    padded[:h, :w] = img
    padded[h:, :w] = img[-1:, :]  # edge replication
    padded[:, w:] = padded[:, w - 1 : w]
    writer = _BitWriter()
    prev_dc = 0
    for by in range(bh):
        for bx in range(bw):
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            coefs = _A @ block @ _A.T
            qz = np.rint(coefs / q).astype(np.int64).reshape(-1)[ZIGZAG]
            _encode_coef(writer, _DC_CODES, 0, int(qz[0]) - prev_dc)
            prev_dc = int(qz[0])
            nz = np.nonzero(qz[1:])[0]
            run_from = 1
            for idx in nz:
                k = int(idx) + 1
                run = k - run_from
                while run >= 16:  # ZRL
                    code, ln = _AC_CODES[0xF0]
                    writer.write(code, ln)
                    run -= 16
                _encode_coef(writer, _AC_CODES, run << 4, int(qz[k]))
                run_from = k + 1
            if run_from <= 63:  # EOB
                code, ln = _AC_CODES[0x00]
                writer.write(code, ln)
    entropy = writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    dqt = seg(0xDB, b"\x00" + bytes(q.reshape(-1)[ZIGZAG].astype(np.uint8)))
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    dht_dc = seg(0xC4, b"\x00" + bytes(DC_BITS[1:]) + bytes(DC_VALS))
    dht_ac = seg(0xC4, b"\x10" + bytes(AC_BITS[1:]) + bytes(AC_VALS))
    sos = seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
    app0 = seg(
        0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    )
    return (
        b"\xff\xd8" + app0 + sof + dqt + dht_dc + dht_ac + sos
        + entropy + b"\xff\xd9"
    )


class _BitReader:
    """MSB-first reader over byte-stuffed entropy data; raises ValueError
    on marker-in-stream or exhaustion (decoder catches → None)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("bitstream exhausted")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated stuffing")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:  # a real marker (EOI) — no more entropy bits
                raise ValueError("marker in stream")
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def huffman(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code")


def _extend(v: int, cat: int) -> int:
    """T.81 F.2.2.1 EXTEND: ``cat`` raw bits → signed amplitude."""
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _parse_dht(body: bytes) -> dict[int, dict[tuple[int, int], int]]:
    tables: dict[int, dict[tuple[int, int], int]] = {}
    pos = 0
    while pos + 17 <= len(body):
        tc_th = body[pos]
        bits = [0] + list(body[pos + 1 : pos + 17])
        nvals = sum(bits)
        vals = list(body[pos + 17 : pos + 17 + nvals])
        if len(vals) != nvals:
            raise ValueError("truncated DHT")
        tables[tc_th] = _build_decoder(bits, vals)
        pos += 17 + nvals
    return tables


def decode_jpeg_gray(payload: bytes | None) -> np.ndarray | None:
    """Baseline sequential grayscale JPEG → (h, w) uint8 pixels, or None
    for unsupported/corrupt streams (progressive, multi-component,
    restart intervals, missing tables, bad entropy data)."""
    if not payload or not payload.startswith(b"\xff\xd8"):
        return None
    n = len(payload)
    i = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[int, dict[tuple[int, int], int]] = {}
    w = h = -1
    dc_id = ac_id = -1
    try:
        while i + 4 <= n:
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if marker == 0xD9:  # EOI before SOS
                return None
            (seglen,) = struct.unpack_from(">H", payload, i + 2)
            if seglen < 2 or i + 2 + seglen > n:
                return None
            body = payload[i + 4 : i + 2 + seglen]
            if marker == 0xDB:  # DQT (possibly several tables)
                pos = 0
                while pos < len(body):
                    pq, tq = body[pos] >> 4, body[pos] & 0x0F
                    if pq != 0 or pos + 65 > len(body):
                        return None  # 16-bit tables unsupported
                    zz = np.frombuffer(
                        body[pos + 1 : pos + 65], dtype=np.uint8
                    ).astype(np.int64)
                    table = np.zeros(64, np.int64)
                    table[ZIGZAG] = zz
                    quant[tq] = table.reshape(8, 8)
                    pos += 65
            elif marker == 0xC4:
                huff.update(_parse_dht(body))
            elif marker == 0xC0:  # baseline SOF only
                precision, h, w, ncomp = struct.unpack_from(">BHHB", body)
                if precision != 8 or ncomp != 1 or h == 0 or w == 0:
                    return None
                # containment bound: SOF dimensions are UNTRUSTED input —
                # a ~120-byte corrupt stream can claim 65535x65535 and the
                # output allocation would OOM the executor before the
                # (absent) entropy data is ever read. 64 MP ≈ 512 MB of
                # float64 blocks, far above any fixture and still bounded.
                if h * w > 64_000_000:
                    return None
                # component spec: id(6), sampling(7) must be 1x1, tq(8)=0
                if len(body) < 9 or body[7] != 0x11 or body[8] != 0:
                    return None
            elif marker in (
                0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC8,
                0xC9, 0xCA, 0xCB, 0xCC, 0xCD, 0xCE, 0xCF,
            ):
                return None  # non-baseline frame
            elif marker == 0xDD:
                return None  # restart intervals unsupported
            elif marker == 0xDA:  # SOS: header then entropy data
                if w < 0 or body[0] != 1:
                    return None
                dc_id, ac_id = body[2] >> 4, 0x10 | (body[2] & 0x0F)
                i = i + 2 + seglen
                break
            i += 2 + seglen
        else:
            return None
        if 0 not in quant or dc_id not in huff or ac_id not in huff:
            return None
        q = quant[0]
        dc_tab, ac_tab = huff[dc_id], huff[ac_id]
        reader = _BitReader(payload, i)
        bh, bw = -(-h // 8), -(-w // 8)
        out = np.empty((bh * 8, bw * 8), dtype=np.float64)
        prev_dc = 0
        for by in range(bh):
            for bx in range(bw):
                zz = np.zeros(64, np.int64)
                cat = reader.huffman(dc_tab)
                if cat > 11:
                    return None
                diff = _extend(reader.bits(cat), cat) if cat else 0
                prev_dc += diff
                zz[0] = prev_dc
                k = 1
                while k < 64:
                    sym = reader.huffman(ac_tab)
                    if sym == 0x00:  # EOB
                        break
                    run, cat = sym >> 4, sym & 0x0F
                    if cat == 0:
                        if run != 15:
                            return None
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > 63:
                        return None
                    zz[k] = _extend(reader.bits(cat), cat)
                    k += 1
                coefs = np.zeros(64, np.float64)
                coefs[ZIGZAG] = zz * q.reshape(-1)[ZIGZAG]
                block = _A.T @ coefs.reshape(8, 8) @ _A + 128.0
                out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
    except (ValueError, IndexError, struct.error, MemoryError):
        return None
    return np.clip(np.rint(out[:h, :w]), 0, 255).astype(np.uint8)
