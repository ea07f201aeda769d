"""Baseline JFIF JPEG codec (kernels.jpegcodec): spec-structure checks,
roundtrip PSNR, and the generator-mix invariant."""

import struct

import numpy as np
import pytest

from s2geometry_spark.kernels.imagecodec import decode, gen_pixels, psnr_db
from s2geometry_spark.kernels.jpegcodec import decode_jpeg, encode_jpeg


def test_marker_structure_is_spec_compliant():
    buf = encode_jpeg(gen_pixels(7, 16, 16), 90)
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
    # walk the marker segments up to SOS
    pos, seen = 2, []
    while pos < len(buf):
        assert buf[pos] == 0xFF
        marker = buf[pos + 1]
        seen.append(marker)
        ln = struct.unpack_from(">H", buf, pos + 2)[0]
        pos += 2 + ln
        if marker == 0xDA:
            break
    assert seen[0] == 0xE0  # JFIF APP0
    assert seen.count(0xDB) == 2 and seen.count(0xC4) == 4
    assert 0xC0 in seen and seen[-1] == 0xDA


def test_entropy_stream_has_no_bare_ff():
    """Every 0xFF inside the scan must be stuffed (followed by 0x00) —
    the property real decoders rely on."""
    buf = encode_jpeg(gen_pixels(11, 24, 24), 98)
    # find SOS payload start
    pos = 2
    while True:
        marker = buf[pos + 1]
        ln = struct.unpack_from(">H", buf, pos + 2)[0]
        pos += 2 + ln
        if marker == 0xDA:
            break
    scan = buf[pos : len(buf) - 2]
    i = 0
    while i < len(scan):
        if scan[i] == 0xFF:
            assert scan[i + 1] == 0x00
            i += 2
        else:
            i += 1


@pytest.mark.parametrize("idx,w,h", [(0, 8, 8), (1, 9, 21), (2, 24, 24), (3, 17, 11)])
def test_roundtrip_psnr(idx, w, h):
    p = gen_pixels(idx, w, h)
    d = decode_jpeg(encode_jpeg(p, 98))
    assert d.shape == p.shape
    assert psnr_db(p, d) >= 40.0


def test_flat_image_is_near_exact():
    p = np.full((16, 16, 3), 137, np.uint8)
    d = decode_jpeg(encode_jpeg(p, 90))
    assert psnr_db(p, d) >= 50.0


def test_quality_monotone():
    p = gen_pixels(5, 20, 20)
    psnrs = [psnr_db(p, decode_jpeg(encode_jpeg(p, q))) for q in (50, 75, 90, 98)]
    assert psnrs == sorted(psnrs)
    sizes = [len(encode_jpeg(p, q)) for q in (50, 75, 90, 98)]
    assert sizes == sorted(sizes)


def test_dispatch_through_generic_decode():
    p = gen_pixels(9, 12, 14)
    px, fmt = decode(encode_jpeg(p, 98))
    assert fmt == "jpeg"
    assert psnr_db(p, px) >= 40.0


def test_non_multiple_of_8_dims():
    for w, h in [(8, 9), (9, 8), (23, 17), (10, 26)]:
        p = gen_pixels(w * 31 + h, w, h)
        d = decode_jpeg(encode_jpeg(p, 98))
        assert d.shape == (h, w, 3)
        assert psnr_db(p, d) >= 40.0


def test_rejects_progressive_and_truncation():
    buf = bytearray(encode_jpeg(gen_pixels(4, 16, 16), 90))
    # find SOF0 and flip it to SOF2 (progressive)
    pos = 2
    while True:
        marker = buf[pos + 1]
        if marker == 0xC0:
            buf[pos + 1] = 0xC2
            break
        ln = struct.unpack_from(">H", bytes(buf), pos + 2)[0]
        pos += 2 + ln
    with pytest.raises(ValueError):
        decode_jpeg(bytes(buf))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01\x02")


def test_generator_mix_invariant():
    from s2geometry_spark.kernels import imagecodec
    from s2geometry_spark.sources.images import FMTS, make_row

    assert "jpeg" in FMTS
    saw_jpeg = False
    for idx in range(len(FMTS) * 3):
        r = make_row(idx)
        px, fmt = imagecodec.decode(bytes(r["bytes"]))
        src = imagecodec.gen_pixels(idx, r["w"], r["h"])
        assert fmt == r["fmt"]
        if fmt in imagecodec.LOSSLESS:
            assert np.array_equal(px, src)
        else:
            assert imagecodec.psnr_db(src, px) >= imagecodec.PSNR_MIN_DB
        saw_jpeg |= fmt == "jpeg"
    assert saw_jpeg


def test_zigzag_matches_t81_spec_table():
    """ADVICE r3 regression: ZIGZAG must be the ITU-T T.81 Figure A.6
    order (NOT its transpose) so externally-decoded files aren't
    block-transposed."""
    from s2geometry_spark.kernels.jpegcodec import UNZIGZAG, ZIGZAG

    spec = [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
    assert list(ZIGZAG) == spec
    assert list(ZIGZAG[UNZIGZAG]) == list(range(64))


def test_mjpeg_demux_and_decode():
    """MJPEG container: frame_offsets tiles the payload exactly, each
    extent is a complete JFIF frame, and decode_mjpeg equals per-frame
    decode_jpeg."""
    from s2geometry_spark.kernels.jpegcodec import (
        decode_mjpeg,
        encode_mjpeg,
        frame_offsets,
    )

    frames = np.stack([gen_pixels(100 + f, 14, 11) for f in range(5)])
    buf = encode_mjpeg(frames, 92)
    offs = frame_offsets(buf)
    assert len(offs) == 5
    assert offs[0][0] == 0 and offs[-1][1] == len(buf)
    for (s0, e0), (s1, _) in zip(offs, offs[1:]):
        assert e0 == s1
    dec = decode_mjpeg(buf)
    for (s, e), d in zip(offs, dec):
        assert buf[s : s + 2] == b"\xff\xd8" and buf[e - 2 : e] == b"\xff\xd9"
        assert np.array_equal(decode_jpeg(buf[s:e]), d)


def test_mjpeg_rejects_bad_payloads():
    from s2geometry_spark.kernels.jpegcodec import decode_mjpeg, encode_mjpeg

    with pytest.raises(ValueError):
        decode_mjpeg(b"")
    # non-uniform frame geometry is not a frame stack
    mixed = encode_mjpeg(gen_pixels(1, 8, 8)[None]) + encode_mjpeg(
        gen_pixels(2, 16, 8)[None]
    )
    with pytest.raises(ValueError):
        decode_mjpeg(mixed)


def _handbuilt_jfif() -> bytes:
    """A baseline JFIF constructed byte-by-byte from the T.81 spec in
    this test — independent of the encoder — carrying exactly ONE
    non-zero AC coefficient at ZIGZAG INDEX 1, which T.81 Figure A.6
    places at (row 0, col 1): the horizontal-frequency slot.  A decoder
    with a transposed zigzag table (the r3 bug class) lands it at
    (1, 0) and produces a VERTICAL gradient instead."""
    import struct as st

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT: table 0, all 16s (constant, so table zigzag order is moot)
    out += b"\xff\xdb" + st.pack(">H", 2 + 1 + 64) + b"\x00" + bytes([16] * 64)
    # SOF0: 8x8, 3 components, 1x1 sampling, all quant table 0
    out += b"\xff\xc0" + st.pack(">H", 8 + 9) + b"\x08" + st.pack(">HH", 8, 8)
    out += b"\x03" + b"\x01\x11\x00" + b"\x02\x11\x00" + b"\x03\x11\x00"
    # DHT: minimal canonical tables.
    # DC (class 0, id 0): L1=1 -> sym 0 ('0'); L2=1 -> sym 2 ('10')
    dc_bits = bytes([1, 1] + [0] * 14)
    dc_syms = bytes([0, 2])
    # AC (class 1, id 0): '0'->EOB(0x00), '10'->0x01, '110'->0x02
    ac_bits = bytes([1, 1, 1] + [0] * 13)
    ac_syms = bytes([0x00, 0x01, 0x02])
    payload = b"\x00" + dc_bits + dc_syms + b"\x10" + ac_bits + ac_syms
    out += b"\xff\xc4" + st.pack(">H", 2 + len(payload)) + payload
    # SOS: all 3 components use tables (0, 0)
    out += b"\xff\xda" + st.pack(">H", 6 + 6)
    out += b"\x03" + b"\x01\x00" + b"\x02\x00" + b"\x03\x00" + b"\x00\x3f\x00"
    # Entropy bits: Y: DC '0', AC 0x02='110' + value '11' (=3), EOB '0'
    #               Cb: DC '0', EOB '0' ; Cr: DC '0', EOB '0'
    # -> 0 110 11 0 0 0 0 0 = 01101100 000 + 1-padding = 0x6C 0x1F
    out += bytes([0x6C, 0x1F])
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def test_handbuilt_spec_jpeg_decodes_to_horizontal_gradient():
    from s2geometry_spark.kernels.jpegcodec import decode_jpeg

    img = decode_jpeg(_handbuilt_jfif())
    assert img.shape == (8, 8, 3)
    y = img[:, :, 0].astype(int)
    # Cb = Cr = 0 centered => grayscale
    assert (img[:, :, 0] == img[:, :, 1]).all()
    assert (img[:, :, 1] == img[:, :, 2]).all()
    # every ROW identical (no vertical variation) ...
    assert (y == y[0:1, :]).all()
    # ... and the horizontal profile follows cos((2x+1)pi/16): strictly
    # decreasing, antisymmetric about the center, NOT constant
    row = y[0]
    assert (np.diff(row) <= 0).all() and row[0] > row[7]
    # exact expected pixels: IDCT of F[0,1] = 3 * 16 with +128 shift,
    # pinned via the separable T.81 A.3.3 formula written out here
    M = np.zeros((8, 8))
    M[0, 1] = 48.0
    a = np.array([1 / np.sqrt(2)] + [1.0] * 7)
    basis = np.array(
        [
            [np.cos((2 * x + 1) * u * np.pi / 16) for u in range(8)]
            for x in range(8)
        ]
    )
    spatial = 0.25 * (basis * a) @ M.T @ (basis * a).T * 1.0
    exp2 = np.clip(np.round(128.0 + spatial.T[0]), 0, 255).astype(int)
    assert (row == exp2).all()


def test_truncated_entropy_stream_raises_valueerror_not_indexerror():
    from s2geometry_spark.kernels.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    buf = encode_jpeg(px, quality=90)
    # find the scan start (SOS payload) and cut the stream mid-scan
    sos = buf.find(b"\xff\xda")
    assert sos > 0
    ln = int.from_bytes(buf[sos + 2 : sos + 4], "big")
    data_start = sos + 2 + ln
    for cut in (data_start + 1, data_start + 4,
                data_start + (len(buf) - data_start) // 2):
        with pytest.raises(ValueError):
            decode_jpeg(buf[:cut] + b"\xff\xd9")


def test_corrupted_streams_raise_only_valueerror():
    """Seeded fuzz: truncations and 1-3 random byte flips of one real
    JPEG.  Each either decodes or raises ValueError — never an
    IndexError, struct.error or KeyError from inside the parser."""
    buf = encode_jpeg(gen_pixels(7, 40, 24), 98)
    rng = np.random.default_rng(20261018)
    rejected = 0
    for _ in range(3000):
        b = bytearray(buf)
        if rng.random() < 0.5:
            b = b[: int(rng.integers(0, len(b)))]
        else:
            for _ in range(int(rng.integers(1, 4))):
                b[int(rng.integers(0, len(b)))] ^= int(rng.integers(1, 256))
        try:
            decode_jpeg(bytes(b))
        except ValueError:
            rejected += 1
    assert rejected > 2000  # most corruptions are caught, not decoded
