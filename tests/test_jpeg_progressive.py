"""Progressive (SOF2) JPEG decode conformance.

Two independent pins, same discipline as tests/test_jpeg.py:

* HAND-ASSEMBLED progressive byte streams (built bit-by-bit here, not by
  our encoder) must decode to values computed from T.81's own formulas —
  DC successive approximation, EOBn runs, and the G.1.2.3 AC refinement
  correction-bit algorithm each get a stream whose expected pixels are
  derived with math.cos in this file.
* The progressive fixture encoder shares the baseline encoder's forward
  DCT/quantize path, so decoding a progressive encoding must produce
  pixels BYTE-IDENTICAL to decoding the baseline encoding of the same
  input — fuzzed across shapes, subsampling, and split depths.
"""

import math
import struct

import numpy as np
import pytest

from ai_textbook_processor_spark.functions.jpeg import (
    STD_DC_LUMA,
    JpegUnsupported,
    _build_huff_encode,
    decode_jpeg,
    encode_jpeg,
    encode_progressive,
)


class _Bits:
    def __init__(self):
        self.s = ""

    def put(self, value, length):
        self.s += format(value, f"0{length}b") if length else ""

    def bytes(self):
        s = self.s + "1" * (-len(self.s) % 8)
        raw = bytearray(int(s[i : i + 8], 2) for i in range(0, len(s), 8))
        out = bytearray()
        for b in raw:
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


def _seg(marker, payload):
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _prog_headers(w, h, qval, ac_table=None):
    """SOI + DQT + SOF2 + DHT for a 1-component progressive stream.
    ``ac_table`` is (counts, symbols) or None for DC-only streams."""
    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0]) + bytes([qval] * 64))
    out += _seg(
        0xC2, bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0])
    )
    counts, symbols = STD_DC_LUMA
    out += _seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(symbols))
    if ac_table is not None:
        c, s = ac_table
        out += _seg(0xC4, bytes([0x10]) + bytes(c) + bytes(s))
    return out


def _sos(ss, se, ah, al):
    return _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))


def test_hand_assembled_dc_successive_approximation():
    """Single 8x8 gray block, q=16, true DC value 5, split across two
    scans: the first codes 5 >> 1 = 2 at Al=1 (stored as 4), the
    refinement appends bit 0 (5 & 1 = 1). Final DC 5 -> flat
    round(5 * 16 / 8) + 128 = 138 per the same T.81 formula the baseline
    hand test uses."""
    dc_enc = _build_huff_encode(*STD_DC_LUMA)
    scan1 = _Bits()
    length, code = dc_enc[2]
    scan1.put(code, length)
    scan1.put(0b10, 2)  # diff +2 at Al=1
    scan2 = _Bits()
    scan2.put(1, 1)  # refinement bit -> DC |= 1
    stream = (
        _prog_headers(8, 8, 16)
        + _sos(0, 0, 0, 1) + scan1.bytes()
        + _sos(0, 0, 1, 0) + scan2.bytes()
        + b"\xff\xd9"
    )
    w, h, ch, px = decode_jpeg(stream)
    assert (w, h, ch) == (8, 8, 1)
    assert set(px) == {138}, set(px)


def test_hand_assembled_negative_dc_refinement():
    """True DC value -5: first scan codes -5 >> 1 = -3 (arithmetic
    shift), the refinement sets bit 0 via two's-complement OR
    (-6 | 1 = -5). Flat level round(-5 * 16 / 8) + 128 = 118."""
    dc_enc = _build_huff_encode(*STD_DC_LUMA)
    scan1 = _Bits()
    length, code = dc_enc[2]
    scan1.put(code, length)
    scan1.put(0b00, 2)  # magnitude pattern for -3 (size 2: v + 2^2 - 1)
    scan2 = _Bits()
    scan2.put(1, 1)
    stream = (
        _prog_headers(8, 8, 16)
        + _sos(0, 0, 0, 1) + scan1.bytes()
        + _sos(0, 0, 1, 0) + scan2.bytes()
        + b"\xff\xd9"
    )
    w, h, ch, px = decode_jpeg(stream)
    assert set(px) == {118}, set(px)


# AC table used by the band-scan tests: 2-bit codes
#   00 -> 0x04 (run 0, size 4)   01 -> 0x05 (run 0, size 5)
#   10 -> 0x00 (EOB0)            110 -> 0x10 (EOB1)
_AC_TABLE = ([0, 3, 1] + [0] * 13, [0x04, 0x05, 0x00, 0x10])


def test_hand_assembled_eobrun_skips_next_block():
    """16x8 gray (two blocks), q=1. DC scan leaves both DC at 0; the AC
    band scan codes +20 at zigzag k=1 in block 1 then EOB1 with extra
    bit 0 -> an end-of-band run of 2 that covers the REST of block 1 and
    ALL of block 2, which must stay flat 128 while block 1 shows the
    spec cosine column pattern."""
    dc_enc = _build_huff_encode(*STD_DC_LUMA)
    dc_scan = _Bits()
    length, code = dc_enc[0]
    dc_scan.put(code, length)  # block 1 diff 0
    dc_scan.put(code, length)  # block 2 diff 0
    ac_scan = _Bits()
    ac_scan.put(0b01, 2)  # (0,5)
    ac_scan.put(0b10100, 5)  # +20 at k=1
    ac_scan.put(0b110, 3)  # EOB1
    ac_scan.put(0, 1)  # extra bit: run = 2^1 - 1 + 0 + current = 2 blocks
    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0]) + bytes([1] * 64))
    out += _seg(
        0xC2, bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    )
    counts, symbols = STD_DC_LUMA
    out += _seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(symbols))
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_TABLE[0]) + bytes(_AC_TABLE[1]))
    stream = (
        out
        + _sos(0, 0, 0, 0) + dc_scan.bytes()
        + _sos(1, 63, 0, 0) + ac_scan.bytes()
        + b"\xff\xd9"
    )
    w, h, ch, px = decode_jpeg(stream)
    got = np.frombuffer(px, dtype=np.uint8).reshape(8, 16)
    # block 1: single coefficient F(u=0, v=1) = 20 (zigzag k=1), straight
    # from T.81 A.3.3 as in the baseline hand test
    for x in range(8):
        expected = 128.0 + 0.25 * (1.0 / math.sqrt(2)) * 20.0 * math.cos(
            (2 * x + 1) * math.pi / 16.0
        )
        expected = int(min(max(np.floor(expected + 0.5), 0), 255))
        assert all(got[y, x] == expected for y in range(8)), (x, expected)
    assert set(got[:, 8:].ravel()) == {128}, set(got[:, 8:].ravel())


def test_hand_assembled_ac_refinement_correction_bit():
    """Single block, q=1. AC first scan at Al=1 codes +10 at k=1
    (stored 20); the refinement scan must (a) grow that history
    coefficient to 21 via its correction bit and (b) place a new +1 at
    k=2 — exercising both halves of G.1.2.3. Expected pixels from the
    spec IDCT of F(0,1)=21, F(1,0)=1 computed here with math.cos."""
    dc_enc = _build_huff_encode(*STD_DC_LUMA)
    dc_scan = _Bits()
    length, code = dc_enc[0]
    dc_scan.put(code, length)
    first = _Bits()
    first.put(0b00, 2)  # (0,4)
    first.put(0b1010, 4)  # +10 at k=1, Al=1 -> stored 20
    first.put(0b10, 2)  # EOB0
    # the refinement scan needs symbol (0,1): a second DHT below swaps in
    # a table where code 00 -> 0x01 and 01 -> 0x00 (EOB0)
    ac_refine_table = ([0, 2, 0] + [0] * 13, [0x01, 0x00])
    refine = _Bits()
    refine.put(0b00, 2)  # (0,1): new coefficient, magnitude 1
    refine.put(1, 1)  # sign: positive
    refine.put(1, 1)  # correction bit for history coef at k=1 -> 21
    refine.put(0b01, 2)  # EOB0 (no trailing corrections)
    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0]) + bytes([1] * 64))
    out += _seg(
        0xC2, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    )
    counts, symbols = STD_DC_LUMA
    out += _seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(symbols))
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_TABLE[0]) + bytes(_AC_TABLE[1]))
    stream = (
        out
        + _sos(0, 0, 0, 0) + dc_scan.bytes()
        + _sos(1, 63, 0, 1) + first.bytes()
        # second DHT overrides the AC table for the refinement scan
        + _seg(
            0xC4,
            bytes([0x10]) + bytes(ac_refine_table[0]) + bytes(ac_refine_table[1]),
        )
        + _sos(1, 63, 1, 0) + refine.bytes()
        + b"\xff\xd9"
    )
    w, h, ch, px = decode_jpeg(stream)
    got = np.frombuffer(px, dtype=np.uint8).reshape(8, 8).astype(float)
    c0 = 1.0 / math.sqrt(2)
    for y in range(8):
        for x in range(8):
            expected = 128.0 + 0.25 * (
                c0 * 21.0 * math.cos((2 * x + 1) * math.pi / 16.0)
                + c0 * 1.0 * math.cos((2 * y + 1) * math.pi / 16.0)
            )
            expected = min(max(math.floor(expected + 0.5), 0), 255)
            assert got[y, x] == expected, (y, x, got[y, x], expected)


def test_progressive_equals_baseline_battery():
    """Fixture-encoder equivalence: same pixels, same quantized
    coefficients, two interchange layouts -> byte-identical decodes."""
    rng = np.random.default_rng(1234)
    cases = [
        (16, 16, 1, False, 1, 1, ((1, 5), (6, 63))),
        (16, 16, 3, False, 1, 1, ((1, 5), (6, 63))),
        (24, 17, 3, True, 1, 1, ((1, 5), (6, 63))),
        (8, 8, 1, False, 0, 0, ((1, 63),)),
        (40, 33, 3, True, 2, 2, ((1, 2), (3, 9), (10, 63))),
        (15, 9, 3, False, 1, 2, ((1, 63),)),
        (31, 26, 1, False, 2, 1, ((1, 10), (11, 63))),
    ]
    for w, h, ch, sub, dcs, acs, bands in cases:
        base = rng.integers(0, 256, size=(3, 3, ch))
        img = np.kron(base, np.ones((h // 3 + 1, w // 3 + 1, 1)))[:h, :w, :]
        noise = rng.integers(-12, 13, size=img.shape)
        px = np.clip(img + noise, 0, 255).astype(np.uint8).tobytes()
        b = decode_jpeg(encode_jpeg(px, w, h, ch, subsample=sub))
        p = decode_jpeg(
            encode_progressive(
                px, w, h, ch, subsample=sub,
                dc_split=dcs, ac_split=acs, ac_bands=bands,
            )
        )
        assert b == p, (w, h, ch, sub, dcs, acs)


def test_progressive_equals_baseline_fuzz():
    """Random-noise images (dense coefficients, worst case for EOB/ZRL
    bookkeeping) across random shapes and split depths."""
    rng = np.random.default_rng(99)
    for _ in range(25):
        w = int(rng.integers(1, 48))
        h = int(rng.integers(1, 48))
        ch = int(rng.choice([1, 3]))
        sub = bool(rng.choice([False, True])) and ch == 3
        dcs = int(rng.integers(0, 3))
        acs = int(rng.integers(0, 3))
        px = rng.integers(0, 256, size=h * w * ch, dtype=np.uint8).tobytes()
        b = decode_jpeg(encode_jpeg(px, w, h, ch, subsample=sub))
        p = decode_jpeg(
            encode_progressive(
                px, w, h, ch, subsample=sub, dc_split=dcs, ac_split=acs
            )
        )
        assert b == p, (w, h, ch, sub, dcs, acs)


@pytest.mark.parametrize(
    "mutate",
    [
        # baseline-style SOS (Ss=0, Se=63) inside a progressive frame
        lambda s: s,
        # multi-component AC band scan
        lambda s: "multi_ac",
        # refinement stepping more than one bit
        lambda s: "bad_ah",
    ],
)
def test_malformed_progressive_quarantines(mutate):
    kind = mutate(None)
    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0]) + bytes([1] * 64))
    if kind == "multi_ac":
        out += _seg(
            0xC2,
            bytes([8]) + struct.pack(">HH", 8, 8)
            + bytes([3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
        )
        counts, symbols = STD_DC_LUMA
        out += _seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(symbols))
        out += _seg(
            0xDA, bytes([2, 1, 0x00, 2, 0x00, 1, 63, 0])
        )
    else:
        out += _seg(
            0xC2, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
        )
        counts, symbols = STD_DC_LUMA
        out += _seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(symbols))
        if kind == "bad_ah":
            out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x20]))  # Ah=2, Al=0
        else:
            out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += b"\x00" * 4 + b"\xff\xd9"
    with pytest.raises(JpegUnsupported):
        decode_jpeg(out)


def test_multimodal_progressive_payload_decodes(spark):
    """The quarantine seam now ADMITS progressive JPEG: a progressive
    payload flows through the image-features mapInPandas stage as a real
    decode (error is null), with features identical to the baseline
    encoding of the same pixels decoded through the same stage."""
    import pandas as pd

    from ai_textbook_processor_spark.operators.multimodal import (
        extract_asset_features,
    )

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=24 * 18 * 3, dtype=np.uint8).tobytes()
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "asset_id": ["prog", "base"],
                "media_type": ["image/jpeg", "image/jpeg"],
                "content": [
                    encode_progressive(px, 24, 18, 3),
                    encode_jpeg(px, 24, 18, 3),
                ],
            }
        )
    )
    rows = {r["asset_id"]: r for r in extract_asset_features(df).collect()}
    assert rows["prog"]["error"] is None, rows["prog"]["error"]
    assert (rows["prog"]["width"], rows["prog"]["height"]) == (24, 18)
    assert rows["prog"]["feature"] == rows["base"]["feature"]


def test_progressive_fixture_packer_matches_baseline_twin():
    """The harness fixture family: every asset decodes cleanly and
    byte-matches its baseline (SOF0) twin — the invariant the
    s6_progressive_jpeg query asserts per row in-plan."""
    from ai_textbook_processor_spark.operators.multimodal import (
        baseline_twin_of_progressive,
        pack_progressive_jpeg_asset,
    )

    for i in range(12):
        aid, n = str(i), 40 + 7 * i
        prog = pack_progressive_jpeg_asset(aid, n)
        base = baseline_twin_of_progressive(aid, n)
        assert prog[:4] == b"\xff\xd8\xff\xdb" and b"\xff\xc2" in prog[:700]
        assert decode_jpeg(prog) == decode_jpeg(base)


def test_ac_refine_empty_band_emits_nothing():
    """The all-below-threshold fast path is a strict subset of the generic
    refinement path: an all-zero band emits one bare EOB0, an empty band
    (a zero-width spectral selection) emits nothing at all."""
    from ai_textbook_processor_spark.functions.jpeg import _emit_ac_refine

    class Rec:
        def __init__(self):
            self.writes = []

        def write(self, v, n):
            self.writes.append((v, n))

    ac_enc = {0x00: (4, 0b1010)}
    for al in (0, 1):
        zeros, empty = Rec(), Rec()
        _emit_ac_refine(zeros, ac_enc, np.zeros(5, dtype=np.int32), al)
        _emit_ac_refine(empty, ac_enc, np.zeros(0, dtype=np.int32), al)
        assert zeros.writes == [(0b1010, 4)]
        assert empty.writes == []
