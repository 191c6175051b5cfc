"""Pure-Python JPEG codec (stdlib + numpy only).

Closes the remaining half of the r3 I2 seam: the reference decodes JPEG
pixels via PIL (``/root/reference/utils/utility.py:35-64``); this module
implements the baseline AND progressive DCT profiles of ITU-T T.81
without a codec library — marker parse (SOI/DQT/DHT/SOF0/SOF2/DRI/SOS),
entropy decode (Huffman, byte-unstuffing, restart markers; for SOF2 the
Annex-G multi-scan accumulation: spectral selection bands, EOBn runs,
and successive-approximation refinement with correction bits),
dequantize (zigzag), 8x8 IDCT as an exact batched matrix product,
chroma upsampling, YCbCr->RGB — plus minimal encoders for BOTH layouts
(Annex K tables) for building real-JPEG fixtures.

Supported profile (everything else raises ``JpegUnsupported`` into the
multimodal quarantine channel, never a crash): baseline sequential
(SOF0) and progressive (SOF2) DCT, 8-bit precision, 1 or 3 components,
sampling factors whose max-ratios divide the block grid (covers 4:4:4,
4:2:2, 4:2:0), restart intervals. Arithmetic coding, 12-bit,
hierarchical, and CMYK are out of profile.

Conformance is pinned by HAND-COMPUTED single-block goldens in
tests/test_jpeg.py and tests/test_jpeg_progressive.py (a DC-only block
must decode to the exact flat level ``round(dc * q / 8) + 128``; a
single-AC block to the exact cosine pattern; successive-approximation
and EOB-run streams assembled bit-by-bit against Annex-G semantics),
not merely by encoder/decoder self-consistency — plus the structural
pin that a progressive encoding of any pixels decodes byte-identically
to the baseline encoding of the same pixels (same quantized
coefficients by construction).

Decoder choices the spec leaves open (documented, deterministic):
chroma upsampling is sample replication (box), YCbCr->RGB uses the
T.871 full-range floats rounded half-up and clamped.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegUnsupported(NotImplementedError):
    """JPEG feature outside the supported baseline profile (or not a
    JPEG byte stream at all)."""


# -- zigzag order (T.81 Figure A.6): zigzag index -> natural index --------
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# -- exact DCT basis matrix: C[u, x] = c(u)/2 * cos((2x+1) u pi / 16) -----
_C = np.zeros((8, 8), dtype=np.float64)
for _u in range(8):
    cu = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _C[_u, _x] = 0.5 * cu * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _fdct2(block: np.ndarray) -> np.ndarray:
    """Exact 2-D type-II DCT (the encoder's forward transform)."""
    return _C @ block @ _C.T


# -- Annex K quantization + Huffman tables (the interchange defaults) -----
STD_LUMA_Q = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]  # NATURAL (row-major matrix) order, as Annex K displays them
STD_CHROMA_Q = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

# (counts per code length 1..16, symbols) — T.81 Annex K.3
STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
STD_AC_LUMA = (
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
STD_AC_CHROMA = (
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


def _build_huff_decode(counts, symbols):
    """(code, length) -> symbol map per T.81 Annex C code assignment."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_huff_fast(counts, symbols):
    """Canonical-Huffman decode arrays (T.81 F.2.2.3 DECODE): per code
    length L, (maxcode[L], mincode[L], valptr[L]) — the classic
    compare-against-maxcode walk, far cheaper per symbol than a dict
    probe per candidate length in the pure-Python hot loop."""
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for length in range(1, 17):
        if counts[length - 1]:
            valptr[length] = k
            mincode[length] = code
            code += counts[length - 1]
            k += counts[length - 1]
            maxcode[length] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, list(symbols)


def _build_huff_encode(counts, symbols):
    dec = _build_huff_decode(counts, symbols)
    return {sym: (length, code) for (length, code), sym in dec.items()}


class _BitReader:
    """Entropy-segment bit reader: 0xFF00 unstuffs to 0xFF; restart
    markers FFD0-FFD7 are surfaced via ``at_restart``/``skip_restart``;
    any other marker ends the segment."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.bits = (self.bits << 8) | 0  # pad (spec: 1s or 0s ok)
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: pad until skip_restart is called
                    self.bits = (self.bits << 8) | 0
                    self.nbits += 8
                    continue
                else:
                    # end of entropy data: pad
                    self.bits = (self.bits << 8) | 0
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.bits = (self.bits << 8) | b
            self.nbits += 8
        # keep the accumulator bounded: without this mask it grows by 8
        # bits per consumed byte and every shift turns O(stream-length)
        self.bits &= (1 << self.nbits) - 1

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.bits >> self.nbits) & ((1 << n) - 1)

    def at_restart(self) -> bool:
        return (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        )

    def skip_restart(self) -> None:
        self.pos += 2
        self.bits = 0
        self.nbits = 0

    def decode_huff_fast(self, fast) -> int:
        mincode, maxcode, valptr, symbols = fast
        if self.nbits < 16:
            self._fill()
        bits, nbits = self.bits, self.nbits
        code = 0
        for length in range(1, 17):
            nbits -= 1
            code = (code << 1) | ((bits >> nbits) & 1)
            if code <= maxcode[length]:
                self.nbits = nbits
                return symbols[valptr[length] + code - mincode[length]]
        raise JpegUnsupported("invalid Huffman code in entropy stream")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map ``size`` magnitude bits to a signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(content: bytes) -> tuple[int, int, int, bytes]:
    """Decode baseline JPEG -> (width, height, channels, pixels) with
    channels 1 (gray) or 3 (RGB, interleaved row-major)."""
    if content is None or len(content) < 2 or content[:2] != b"\xff\xd8":
        raise JpegUnsupported("not a JPEG byte stream")
    try:
        return _parse_stream(content)
    except (IndexError, struct.error, StopIteration) as e:
        raise JpegUnsupported(f"malformed/truncated JPEG stream: {e}") from None


def _parse_stream(content: bytes) -> tuple[int, int, int, bytes]:
    qtables: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None
    store = None  # progressive coefficient accumulator across scans
    pos = 2
    n = len(content)
    while pos + 4 <= n:
        if content[pos] != 0xFF:
            raise JpegUnsupported("marker desync")
        marker = content[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", content[pos + 2 : pos + 4])
        seg = content[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:
                    raise JpegUnsupported("16-bit quantization table")
                zz = list(seg[i + 1 : i + 65])
                nat = [0] * 64
                for zi, v in enumerate(zz):
                    nat[ZIGZAG[zi]] = v
                qtables[tq] = nat
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                counts = list(seg[i + 1 : i + 17])
                nsym = sum(counts)
                symbols = list(seg[i + 17 : i + 17 + nsym])
                tbl = _build_huff_fast(counts, symbols)
                (huff_dc if tc == 0 else huff_ac)[th] = tbl
                i += 17 + nsym
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, h, w, ncomp = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise JpegUnsupported(f"{prec}-bit precision")
            if ncomp not in (1, 3):
                raise JpegUnsupported(f"{ncomp}-component image")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            frame = {"w": w, "h": h, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegUnsupported(
                f"SOF{marker - 0xC0}: only baseline (SOF0) or "
                "progressive (SOF2) DCT"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegUnsupported("SOS before SOF")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next(x for x in frame["comps"] if x["id"] == cs)
                scan.append((comp, tdta >> 4, tdta & 0xF))
            data_start = pos + 2 + seglen
            if not frame["progressive"]:
                return _decode_scan(
                    content, data_start, frame, scan, qtables, huff_dc,
                    huff_ac, restart_interval,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            if store is None:
                store = _coef_store(frame)
            pos = _decode_scan_progressive(
                content, data_start, frame, scan, huff_dc, huff_ac,
                restart_interval, ss, se, ahal >> 4, ahal & 0xF, store,
            )
            continue
        pos += 2 + seglen
    if store is not None:
        return _finish_progressive(frame, qtables, store)
    raise JpegUnsupported("no SOS marker found")


def _decode_scan(content, pos, frame, scan, qtables, huff_dc, huff_ac,
                 restart_interval):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        # the upsample below replicates by integer ratio vmax/v, hmax/h; a
        # spec-legal non-dividing factor set (e.g. 3:2) would decode to
        # silently wrong pixels — quarantine it instead (r4 ADVICE)
        if vmax % c["v"] or hmax % c["h"]:
            raise JpegUnsupported(
                f"non-dividing sampling factors {c['h']}x{c['v']} vs "
                f"{hmax}x{vmax}"
            )
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # Batched-IDCT layout (r4 VERDICT #4): instead of one tiny 8x8 matmul
    # per block inside the entropy loop (~9k numpy calls on a 900x650
    # image), dequantized coefficients are written into one preallocated
    # (n_blocks, 64) array with their block-grid coordinates, and the IDCT
    # runs ONCE per component as a broadcast matmul over the whole stack.
    n_mcu_blocks = sum(c["h"] * c["v"] for c, _, _ in scan)
    total_blocks = mcux * mcuy * n_mcu_blocks
    coefs_all = np.zeros((total_blocks, 64), dtype=np.float64)
    # per component: grid shape + parallel lists of (block_index, row, col)
    grids = {}
    for c in comps:
        grids[c["id"]] = {
            "shape": (mcuy * c["v"], mcux * c["h"]),
            "idx": [], "rows": [], "cols": [],
        }

    reader = _BitReader(content, pos)
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    bi = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                _restart_align(reader)
                pred = {c["id"]: 0 for c in comps}
            for comp, td, ta in scan:
                q = qtables.get(comp["tq"])
                if q is None:
                    raise JpegUnsupported("missing quantization table")
                dct = huff_dc.get(td)
                act = huff_ac.get(ta)
                if dct is None or act is None:
                    raise JpegUnsupported("missing Huffman table")
                grid = grids[comp["id"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coefs = coefs_all[bi]
                        size = reader.decode_huff_fast(dct)
                        diff = _extend(reader.read_bits(size), size)
                        pred[comp["id"]] += diff
                        coefs[0] = pred[comp["id"]] * q[0]
                        k = 1
                        while k < 64:
                            sym = reader.decode_huff_fast(act)
                            if sym == 0x00:  # EOB
                                break
                            run, sz = sym >> 4, sym & 0xF
                            if sz == 0:
                                if run == 15:  # ZRL
                                    k += 16
                                    continue
                                raise JpegUnsupported("bad AC symbol")
                            k += run
                            if k > 63:
                                raise JpegUnsupported("AC run overflow")
                            nat = ZIGZAG[k]
                            coefs[nat] = (
                                _extend(reader.read_bits(sz), sz) * q[nat]
                            )
                            k += 1
                        grid["idx"].append(bi)
                        grid["rows"].append(my * comp["v"] + by)
                        grid["cols"].append(mx * comp["h"] + bx)
                        bi += 1
            mcu_count += 1

    # one broadcast IDCT per component over the whole block stack, then a
    # fancy-index scatter into (rows, cols, 8, 8) tile space and a
    # transpose-reshape back to the pixel plane — identical math to the
    # old per-block _C.T @ block @ _C, pinned by the conformance goldens
    planes = {}
    for c in comps:
        grid = grids[c["id"]]
        gh, gw = grid["shape"]
        tiles = np.zeros((gh, gw, 8, 8), dtype=np.float64)
        if grid["idx"]:
            stack = coefs_all[np.asarray(grid["idx"])].reshape(-1, 8, 8)
            out = np.matmul(np.matmul(_C.T, stack), _C) + 128.0
            tiles[np.asarray(grid["rows"]), np.asarray(grid["cols"])] = out
        planes[c["id"]] = tiles.transpose(0, 2, 1, 3).reshape(gh * 8, gw * 8)

    return _planes_to_pixels(w, h, comps, hmax, vmax, planes)


def _planes_to_pixels(w, h, comps, hmax, vmax, planes):
    """Shared decoder tail: upsample (sample replication) + crop + color
    convert. Identical math for the baseline and progressive paths."""
    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    if len(comps) == 1:
        gray = np.floor(out_planes[0] + 0.5).clip(0, 255).astype(np.uint8)
        return w, h, 1, gray.tobytes()
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    rgb = np.floor(rgb + 0.5).clip(0, 255).astype(np.uint8)
    return w, h, 3, rgb.tobytes()


def _restart_align(reader: _BitReader) -> None:
    """Align the bit reader to the next restart marker and consume it."""
    if reader.at_restart():
        reader.skip_restart()
    else:
        # discard pad bits then expect the marker
        reader.bits = 0
        reader.nbits = 0
        while reader.pos + 1 < len(reader.data) and not reader.at_restart():
            reader.pos += 1
        if reader.at_restart():
            reader.skip_restart()


# -- progressive (SOF2) scan accumulation: T.81 Annex G -------------------
#
# Coefficients accumulate across scans in ZIGZAG order (the order the
# spectral bands Ss..Se address) as signed int64 grids per component,
# padded to the interleaved MCU geometry; dequantize + batched IDCT run
# once at EOI via _finish_progressive. Successive approximation stores
# values at full scale (first scan writes v << Al, refinements set bit
# Al), so two's-complement |= reconstruction works for negative DC too.


def _coef_store(frame: dict) -> dict:
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    return {
        "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
        "coef": {
            c["id"]: np.zeros(
                (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64
            )
            for c in comps
        },
    }


def _next_marker(content: bytes, pos: int) -> int:
    """Position of the next non-stuffing, non-restart marker at/after pos
    (entropy data may leave unread pad bits before it)."""
    n = len(content)
    while pos + 1 < n:
        if content[pos] == 0xFF and content[pos + 1] not in (0x00, 0xFF):
            if 0xD0 <= content[pos + 1] <= 0xD7:
                pos += 2
                continue
            return pos
        pos += 1
    return n


def _ac_first_block(reader, act, cf, ss, se, al, eobrun) -> int:
    """AC band first scan for one block (G.1.2.2, F.2.2.2 + EOBn runs).
    Returns the updated end-of-band run count."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = reader.decode_huff_fast(act)
        r, s = sym >> 4, sym & 0xF
        if s == 0:
            if r < 15:  # EOBn: run of 2^r + bits end-of-band blocks
                eb = (1 << r) - 1  # current block ends now
                if r:
                    eb += reader.read_bits(r)
                return eb
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise JpegUnsupported("AC run past band end")
            cf[k] = _extend(reader.read_bits(s), s) << al
            k += 1
    return 0


def _ac_refine_block(reader, act, cf, ss, se, al, eobrun) -> int:
    """AC band refinement for one block (G.1.2.3): place new +-2^Al
    coefficients and read one correction bit for every nonzero-history
    coefficient passed over. Returns the updated end-of-band run."""
    p1 = 1 << al
    k = ss
    # r6 third pass (bit-identical): an EOB-run block with no nonzero
    # history reads no bits at all — skip the whole sweep; otherwise
    # mutate a local int list and write the band back once (the
    # per-coefficient numpy scalar reads/writes were ~25 % of a large
    # progressive decode).
    seg = cf[ss : se + 1]
    if eobrun > 0 and not seg.any():
        return eobrun - 1
    loc = seg.tolist()
    if eobrun == 0:
        while k <= se:
            sym = reader.decode_huff_fast(act)
            r, s = sym >> 4, sym & 0xF
            if s == 0:
                if r < 15:  # EOBn counts this block; sweep then decrement
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                val = 0  # ZRL: 16 zero-history positions, no new coef
            else:
                if s != 1:
                    raise JpegUnsupported(
                        "AC refinement amplitude must be 1"
                    )
                val = p1 if reader.read_bit() else -p1
            # advance over r zero-history positions (16 for ZRL),
            # correcting the nonzero-history coefficients passed over
            while k <= se:
                c = loc[k - ss]
                if c != 0:
                    if reader.read_bit() and (abs(c) & p1) == 0:
                        loc[k - ss] = c + (p1 if c > 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s:
                if k > se:
                    raise JpegUnsupported("AC refinement run past band end")
                loc[k - ss] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # correction sweep over the rest of the band
            c = loc[k - ss]
            if c != 0 and reader.read_bit() and (abs(c) & p1) == 0:
                loc[k - ss] = c + (p1 if c > 0 else -p1)
            k += 1
        eobrun -= 1
    cf[ss : se + 1] = loc
    return eobrun


def _decode_scan_progressive(content, pos, frame, scan, huff_dc, huff_ac,
                             restart_interval, ss, se, ah, al, store) -> int:
    """Entropy-decode one progressive scan into the coefficient store;
    returns the stream position of the next marker."""
    comps = frame["comps"]
    if ss == 0:
        if se != 0:
            raise JpegUnsupported("progressive DC scan must have Se=0")
    else:
        if len(scan) != 1:
            raise JpegUnsupported(
                "progressive AC scan must be single-component"
            )
        if se < ss or se > 63:
            raise JpegUnsupported("bad spectral selection band")
    if ah != 0 and ah != al + 1:
        raise JpegUnsupported("successive approximation must step by 1 bit")

    coef = store["coef"]
    mcux, mcuy = store["mcux"], store["mcuy"]
    hmax, vmax = store["hmax"], store["vmax"]
    reader = _BitReader(content, pos)
    pred = {c["id"]: 0 for c in comps}
    eobrun = 0

    if len(scan) > 1:
        # interleaved (DC only): MCU order over the frame grid
        n_units = mcux * mcuy

        def unit_blocks(u):
            my, mx = divmod(u, mcux)
            for comp, td, ta in scan:
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        yield (comp, td, ta,
                               my * comp["v"] + by, mx * comp["h"] + bx)
    else:
        # non-interleaved: raster over the component's own block grid
        comp0, td0, ta0 = scan[0]
        cw = -(-frame["w"] * comp0["h"] // hmax)
        ch = -(-frame["h"] * comp0["v"] // vmax)
        bw_n, bh_n = -(-cw // 8), -(-ch // 8)
        n_units = bw_n * bh_n

        def unit_blocks(u):
            yield comp0, td0, ta0, u // bw_n, u % bw_n

    for u in range(n_units):
        if restart_interval and u and u % restart_interval == 0:
            _restart_align(reader)
            pred = {c["id"]: 0 for c in comps}
            eobrun = 0
        for comp, td, ta, row, colb in unit_blocks(u):
            cf = coef[comp["id"]][row, colb]
            if ss == 0:
                if ah == 0:
                    dct = huff_dc.get(td)
                    if dct is None:
                        raise JpegUnsupported("missing Huffman table")
                    size = reader.decode_huff_fast(dct)
                    pred[comp["id"]] += _extend(reader.read_bits(size), size)
                    cf[0] = pred[comp["id"]] << al
                else:
                    if reader.read_bit():
                        cf[0] |= 1 << al  # two's-complement: negatives ok
            else:
                act = huff_ac.get(ta)
                if act is None:
                    raise JpegUnsupported("missing Huffman table")
                if ah == 0:
                    eobrun = _ac_first_block(
                        reader, act, cf, ss, se, al, eobrun
                    )
                else:
                    eobrun = _ac_refine_block(
                        reader, act, cf, ss, se, al, eobrun
                    )
    return _next_marker(content, reader.pos)


def _finish_progressive(frame, qtables, store):
    """Dequantize the accumulated zigzag coefficients and run the same
    batched IDCT + upsample + color tail as the baseline path."""
    comps = frame["comps"]
    hmax, vmax = store["hmax"], store["vmax"]
    for c in comps:
        if vmax % c["v"] or hmax % c["h"]:
            raise JpegUnsupported(
                f"non-dividing sampling factors {c['h']}x{c['v']} vs "
                f"{hmax}x{vmax}"
            )
    planes = {}
    for c in comps:
        q = qtables.get(c["tq"])
        if q is None:
            raise JpegUnsupported("missing quantization table")
        zz = store["coef"][c["id"]]
        gh, gw = zz.shape[:2]
        nat = np.zeros(zz.shape, dtype=np.float64)
        nat[:, :, _ZZ_IDX] = zz  # scatter zigzag -> natural order
        nat *= np.asarray(q, dtype=np.float64)
        stack = nat.reshape(-1, 8, 8)
        out = np.matmul(np.matmul(_C.T, stack), _C) + 128.0
        planes[c["id"]] = (
            out.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3)
            .reshape(gh * 8, gw * 8)
        )
    return _planes_to_pixels(frame["w"], frame["h"], comps, hmax, vmax, planes)


# -- encoder (fixture builder): baseline, 4:4:4 or grayscale --------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.bits = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        # whole-field shift (r6): append all `length` bits at once and
        # emit complete bytes MSB-first — bit-for-bit the same stream as
        # the per-bit loop (stuffing decision per emitted byte), ~6x
        # fewer Python ops on the encoder hot path
        self.bits = (self.bits << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.bits >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.bits &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            self.bits <<= 8 - self.nbits
            self.bits |= (1 << (8 - self.nbits)) - 1  # pad with 1s (spec)
            self.out.append(self.bits & 0xFF)
            if (self.bits & 0xFF) == 0xFF:
                self.out.append(0x00)
            self.bits = 0
            self.nbits = 0


def _mag(v: int) -> tuple[int, int]:
    """(size, magnitude-bit pattern) for a signed coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    pattern = v if v > 0 else v + (1 << size) - 1
    return size, pattern


_ZZ_IDX = np.array(ZIGZAG, dtype=np.int64)


def _encode_block(bw, coefs_nat, qzz_arr, pred, dc_enc, ac_enc):
    # vectorized quantize in zigzag order; np.rint is round-half-even,
    # matching the previous int(round(...)) per-coefficient path
    zz = np.rint(coefs_nat[_ZZ_IDX] / qzz_arr).astype(np.int64).tolist()
    diff = zz[0] - pred
    size, pattern = _mag(diff)
    length, code = dc_enc[size]
    bw.write(code, length)
    if size:
        bw.write(pattern, size)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for k in range(1, 64):
        if k > last_nz:
            length, code = ac_enc[0x00]  # EOB
            bw.write(code, length)
            break
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            length, code = ac_enc[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, pattern = _mag(zz[k])
        length, code = ac_enc[(run << 4) | size]
        bw.write(code, length)
        bw.write(pattern, size)
        run = 0
    return zz[0]


def _encoder_setup(pixels, width, height, channels, subsample):
    """Shared fixture-encoder front half: color convert + (optional)
    chroma downsample + table selection. Returns
    (comp_planes, samps, qids, qtabs, hids, qzz, qzz_arr)."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    arr = (
        np.frombuffer(pixels, dtype=np.uint8)
        .reshape(height, width, channels)
        .astype(np.float64)
    )
    if channels == 3:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            def down2(p):
                hh = (p.shape[0] + 1) // 2 * 2
                ww = (p.shape[1] + 1) // 2 * 2
                padded = np.pad(
                    p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])),
                    mode="edge",
                )
                return (
                    padded[0::2, 0::2] + padded[0::2, 1::2]
                    + padded[1::2, 0::2] + padded[1::2, 1::2]
                ) / 4.0

            comp_planes = [y, down2(cb), down2(cr)]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            comp_planes = [y, cb, cr]
            samps = [(1, 1), (1, 1), (1, 1)]
        qids = [0, 1, 1]
        qtabs = {0: STD_LUMA_Q, 1: STD_CHROMA_Q}
        hids = [(0, 0), (1, 1), (1, 1)]
    else:
        comp_planes = [arr[:, :, 0]]
        samps = [(1, 1)]
        qids = [0]
        qtabs = {0: STD_LUMA_Q}
        hids = [(0, 0)]

    # constants are natural order; DQT payloads must be zigzag (T.81 B.2.4.1)
    qzz = {tq: [nat[ZIGZAG[zi]] for zi in range(64)] for tq, nat in qtabs.items()}
    qzz_arr = {tq: np.array(z, dtype=np.float64) for tq, z in qzz.items()}
    return comp_planes, samps, qids, qtabs, hids, qzz, qzz_arr


def encode_jpeg(pixels: bytes, width: int, height: int,
                channels: int = 3, subsample: bool = False) -> bytes:
    """Minimal deterministic baseline encoder (Annex K quantization +
    Huffman tables) for building real-JPEG fixtures without a codec
    library. ``subsample=True`` emits 4:2:0 color (Y at 2x2 sampling,
    box-averaged chroma) — the common camera layout, and the fixture
    that exercises the decoder's upsampling path."""
    comp_planes, samps, qids, qtabs, hids, qzz, qzz_arr = _encoder_setup(
        pixels, width, height, channels, subsample
    )

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker, payload):
        out.extend(bytes([0xFF, marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tq in sorted(qzz):
        seg(0xDB, bytes([tq]) + bytes(qzz[tq]))
    # SOF0
    sof = bytearray([8]) + struct.pack(">HH", height, width) + bytes(
        [len(comp_planes)]
    )
    for ci in range(len(comp_planes)):
        hsamp, vsamp = samps[ci]
        sof += bytes([ci + 1, (hsamp << 4) | vsamp, qids[ci]])
    seg(0xC0, bytes(sof))
    # DHT
    tables = (
        [(0x00, STD_DC_LUMA), (0x10, STD_AC_LUMA)]
        if channels == 1
        else [
            (0x00, STD_DC_LUMA), (0x10, STD_AC_LUMA),
            (0x01, STD_DC_CHROMA), (0x11, STD_AC_CHROMA),
        ]
    )
    for tci, (counts, symbols) in tables:
        seg(0xC4, bytes([tci]) + bytes(counts) + bytes(symbols))
    # SOS
    sos = bytearray([len(comp_planes)])
    for ci in range(len(comp_planes)):
        td, ta = hids[ci]
        sos += bytes([ci + 1, (td << 4) | ta])
    sos += bytes([0, 63, 0])
    seg(0xDA, bytes(sos))

    dc_l = _build_huff_encode(*STD_DC_LUMA)
    ac_l = _build_huff_encode(*STD_AC_LUMA)
    dc_c = _build_huff_encode(*STD_DC_CHROMA)
    ac_c = _build_huff_encode(*STD_AC_CHROMA)
    encs = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (len(comp_planes) - 1)

    bw = _BitWriter()
    hmax = max(hs for hs, _ in samps)
    vmax = max(vs for _, vs in samps)
    mcux, mcuy = -(-width // (8 * hmax)), -(-height // (8 * vmax))
    preds = [0] * len(comp_planes)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, plane in enumerate(comp_planes):
                hsamp, vsamp = samps[ci]
                ph, pw = plane.shape
                for by in range(vsamp):
                    for bx in range(hsamp):
                        y0 = (my * vsamp + by) * 8
                        x0 = (mx * hsamp + bx) * 8
                        # edge-replicated 8x8 block in the comp's own grid
                        ys = np.clip(np.arange(y0, y0 + 8), 0, ph - 1)
                        xs = np.clip(np.arange(x0, x0 + 8), 0, pw - 1)
                        block = plane[np.ix_(ys, xs)] - 128.0
                        coefs = _fdct2(block)
                        preds[ci] = _encode_block(
                            bw, coefs.reshape(-1), qzz_arr[qids[ci]],
                            preds[ci], *encs[ci]
                        )
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


# -- progressive encoder (fixture builder): spectral selection +
#    successive approximation, per T.81 Annex G encoding procedures -------


def _quantized_grids(comp_planes, samps, qids, qzz_arr, mcux, mcuy):
    """Quantized zigzag-order coefficient grids per component, padded to
    the interleaved MCU geometry with edge replication — identical
    forward DCT/quantize math to the baseline encoder's per-block path,
    so the same pixels produce the same quantized coefficients in both
    fixture formats."""
    grids = []
    for ci, plane in enumerate(comp_planes):
        hsamp, vsamp = samps[ci]
        gh, gw = mcuy * vsamp, mcux * hsamp
        ph, pw = plane.shape
        g = np.zeros((gh, gw, 64), dtype=np.int64)
        q = qzz_arr[qids[ci]]
        for rowb in range(gh):
            ys = np.clip(np.arange(rowb * 8, rowb * 8 + 8), 0, ph - 1)
            for colb in range(gw):
                xs = np.clip(np.arange(colb * 8, colb * 8 + 8), 0, pw - 1)
                coefs = _fdct2(plane[np.ix_(ys, xs)] - 128.0).reshape(-1)
                g[rowb, colb] = np.rint(coefs[_ZZ_IDX] / q).astype(np.int64)
        grids.append(g)
    return grids


def _emit_ac_first(bw, ac_enc, band, al):
    """One block's AC band, first scan (point transform |v| >> al,
    sign preserved); per-block EOB0, no cross-block EOB runs."""
    if hasattr(band, "tolist"):  # one conversion, not 64 scalar reads (r6)
        band = band.tolist()
    if not any(band):  # all-zero band: t all zero, last_nz=-1 -> bare EOB0
        length, code = ac_enc[0x00]
        bw.write(code, length)
        return
    t = [
        (abs(v) >> al) * (1 if v > 0 else -1) if v else 0
        for v in band
    ]
    run = 0
    last_nz = max((i for i, v in enumerate(t) if v), default=-1)
    for i, v in enumerate(t):
        if i > last_nz:
            length, code = ac_enc[0x00]  # EOB0
            bw.write(code, length)
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = ac_enc[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, pattern = _mag(v)
        length, code = ac_enc[(run << 4) | size]
        bw.write(code, length)
        bw.write(pattern, size)
        run = 0


def _emit_ac_refine(bw, ac_enc, band, al):
    """One block's AC band refinement (G.1.2.3 encoder side): new +-2^Al
    coefficients become (run, 1) symbols + a sign bit; every
    nonzero-history coefficient passed over contributes one buffered
    correction bit, flushed after each emitted symbol."""
    # r6 third pass (bit-identical, md5-pinned): one tolist() instead of
    # per-element numpy scalar reads, and an all-below-threshold fast
    # path — such a block's whole emission is a bare EOB0 (every
    # position only grows ``run``; no symbol, no correction bits), and
    # in the high band most blocks qualify. An empty band emits nothing,
    # as the generic path does.
    if hasattr(band, "tolist"):
        band = band.tolist()
    if band and ((not any(band)) if al == 0 else all(
        (v if v >= 0 else -v) >> al == 0 for v in band
    )):
        length, code = ac_enc[0x00]
        bw.write(code, length)
        return
    run = 0
    buf: list[int] = []

    def flush():
        # one multi-bit write in buffered order (bit-identical stream)
        if buf:
            v = 0
            for bit in buf:
                v = (v << 1) | bit
            bw.write(v, len(buf))
            buf.clear()

    pending = False  # any zero-run/corrections not yet closed by a symbol
    for v in band:
        v = int(v)
        t = abs(v) >> al
        if t == 0:
            run += 1
            pending = True
            continue
        # ZRL must be emitted on arrival at ANY nonzero coefficient —
        # including history ones, BEFORE buffering their correction bit.
        # The decoder's ZRL advance reads correction bits only for
        # history coefficients located before the 16th skipped zero, so
        # a correction buffered for a later position must not ride the
        # ZRL's flush (it desyncs the bit stream by one).
        while run > 15:
            length, code = ac_enc[0xF0]
            bw.write(code, length)
            flush()
            run -= 16
        if t > 1:  # history coefficient: correction bit = bit Al of |v|
            buf.append(t & 1)
            pending = True
            continue
        # newly visible +-1 at this precision
        length, code = ac_enc[(run << 4) | 1]
        bw.write(code, length)
        bw.write(1 if v > 0 else 0, 1)
        flush()
        run = 0
        pending = False
    if pending or buf:
        length, code = ac_enc[0x00]  # EOB0: corrections ride behind it
        bw.write(code, length)
        flush()


def encode_progressive(pixels: bytes, width: int, height: int,
                       channels: int = 3, subsample: bool = False,
                       dc_split: int = 1, ac_split: int = 1,
                       ac_bands: tuple = ((1, 5), (6, 63))) -> bytes:
    """Progressive (SOF2) fixture encoder: interleaved DC first scan at
    Al=``dc_split`` + DC refinement scans down to 0, then per-component
    AC spectral-selection scans over ``ac_bands`` at Al=``ac_split``
    followed by AC refinement scans — exercising EOB runs, point
    transforms, and the G.1.2.3 correction-bit algorithm. Decoding this
    stream must yield pixels byte-identical to decoding the baseline
    encoding of the same input (same quantized coefficients by
    construction; pinned in tests/test_jpeg.py)."""
    comp_planes, samps, qids, qtabs, hids, qzz, qzz_arr = _encoder_setup(
        pixels, width, height, channels, subsample
    )
    ncomp = len(comp_planes)
    hmax = max(hs for hs, _ in samps)
    vmax = max(vs for _, vs in samps)
    mcux, mcuy = -(-width // (8 * hmax)), -(-height // (8 * vmax))
    grids = _quantized_grids(comp_planes, samps, qids, qzz_arr, mcux, mcuy)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker, payload):
        out.extend(bytes([0xFF, marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tq in sorted(qzz):
        seg(0xDB, bytes([tq]) + bytes(qzz[tq]))
    sof = bytearray([8]) + struct.pack(">HH", height, width) + bytes([ncomp])
    for ci in range(ncomp):
        hsamp, vsamp = samps[ci]
        sof += bytes([ci + 1, (hsamp << 4) | vsamp, qids[ci]])
    seg(0xC2, bytes(sof))  # SOF2: progressive DCT
    tables = (
        [(0x00, STD_DC_LUMA), (0x10, STD_AC_LUMA)]
        if channels == 1
        else [
            (0x00, STD_DC_LUMA), (0x10, STD_AC_LUMA),
            (0x01, STD_DC_CHROMA), (0x11, STD_AC_CHROMA),
        ]
    )
    for tci, (counts, symbols) in tables:
        seg(0xC4, bytes([tci]) + bytes(counts) + bytes(symbols))

    dc_l = _build_huff_encode(*STD_DC_LUMA)
    dc_c = _build_huff_encode(*STD_DC_CHROMA)
    ac_l = _build_huff_encode(*STD_AC_LUMA)
    ac_c = _build_huff_encode(*STD_AC_CHROMA)
    dc_encs = [dc_l] + [dc_c] * (ncomp - 1)
    ac_encs = [ac_l] + [ac_c] * (ncomp - 1)

    def sos_header(comp_ids, ss, se, ah, al):
        hdr = bytearray([len(comp_ids)])
        for ci in comp_ids:
            td, ta = hids[ci]
            hdr += bytes([ci + 1, (td << 4) | ta])
        hdr += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, bytes(hdr))

    def mcu_block_iter():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(ncomp):
                    hsamp, vsamp = samps[ci]
                    for by in range(vsamp):
                        for bx in range(hsamp):
                            yield ci, my * vsamp + by, mx * hsamp + bx

    # scan 1: interleaved DC first at Al=dc_split (diffs of v >> Al)
    sos_header(list(range(ncomp)), 0, 0, 0, dc_split)
    bw = _BitWriter()
    preds = [0] * ncomp
    for ci, rowb, colb in mcu_block_iter():
        v = int(grids[ci][rowb, colb, 0]) >> dc_split
        size, pattern = _mag(v - preds[ci])
        preds[ci] = v
        length, code = dc_encs[ci][size]
        bw.write(code, length)
        if size:
            bw.write(pattern, size)
    bw.flush()
    out.extend(bw.out)

    # DC refinement scans: one raw bit per block per precision level
    for al in range(dc_split - 1, -1, -1):
        sos_header(list(range(ncomp)), 0, 0, al + 1, al)
        bw = _BitWriter()
        for ci, rowb, colb in mcu_block_iter():
            bw.write((int(grids[ci][rowb, colb, 0]) >> al) & 1, 1)
        bw.flush()
        out.extend(bw.out)

    def comp_block_dims(ci):
        hsamp, vsamp = samps[ci]
        cw = -(-width * hsamp // hmax)
        ch = -(-height * vsamp // vmax)
        return -(-ch // 8), -(-cw // 8)

    # AC spectral-selection first scans at Al=ac_split, per component
    for ci in range(ncomp):
        bh_n, bw_n = comp_block_dims(ci)
        for ss, se in ac_bands:
            sos_header([ci], ss, se, 0, ac_split)
            bw = _BitWriter()
            for rowb in range(bh_n):
                for colb in range(bw_n):
                    _emit_ac_first(
                        bw, ac_encs[ci],
                        grids[ci][rowb, colb, ss : se + 1], ac_split,
                    )
            bw.flush()
            out.extend(bw.out)

    # AC refinement scans down to full precision
    for al in range(ac_split - 1, -1, -1):
        for ci in range(ncomp):
            bh_n, bw_n = comp_block_dims(ci)
            for ss, se in ac_bands:
                sos_header([ci], ss, se, al + 1, al)
                bw = _BitWriter()
                for rowb in range(bh_n):
                    for colb in range(bw_n):
                        _emit_ac_refine(
                            bw, ac_encs[ci],
                            grids[ci][rowb, colb, ss : se + 1], al,
                        )
                bw.flush()
                out.extend(bw.out)

    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)
