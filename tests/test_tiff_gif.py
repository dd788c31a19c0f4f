"""Baseline TIFF 6.0 codec: pure-numpy roundtrips over every compression
x predictor x byte order, LZW width-schedule/clear coverage, PackBits
edge cases, and hand-built big-endian and missing-StripByteCounts
fixtures."""

import struct

import numpy as np
import pytest

from balrog_spark import tiffcodec


@pytest.mark.parametrize("comp", [1, 32773, 5])
@pytest.mark.parametrize("pred", [1, 2])
def test_tiff_roundtrip_rgb(comp, pred):
    rng = np.random.default_rng(3)
    for shape in [(13, 17, 3), (1, 1, 3), (30, 5, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for rps in (None, 4):
            enc = tiffcodec.encode_tiff(img, compression=comp,
                                        predictor=pred, rows_per_strip=rps)
            assert np.array_equal(tiffcodec.decode_tiff(enc), img)


def test_tiff_grayscale_and_whiteiszero():
    rng = np.random.default_rng(4)
    g = rng.integers(0, 256, size=(9, 11), dtype=np.uint8)
    for comp in (1, 32773, 5):
        dec = tiffcodec.decode_tiff(tiffcodec.encode_tiff(g,
                                                          compression=comp))
        assert np.array_equal(dec, np.repeat(g[:, :, None], 3, axis=2))
    # photometric 0: white-is-zero inverts
    inv = tiffcodec.decode_tiff(tiffcodec.encode_tiff(g, photometric=0))
    assert np.array_equal(inv[:, :, 0], 255 - g)


def test_tiff_lzw_width_schedule_and_clears():
    rng = np.random.default_rng(5)
    # low-entropy data grows the table across every width boundary;
    # 500k constant bytes force multiple table clears
    for n in (0, 1, 2, 5, 100, 5000, 70000):
        for hi in (4, 256):
            d = bytes(rng.integers(0, hi, size=n, dtype=np.uint8))
            got = tiffcodec.lzw_decode(tiffcodec.lzw_encode(d), n)
            assert got == d, (n, hi)
    const = bytes(500000)
    assert tiffcodec.lzw_decode(tiffcodec.lzw_encode(const),
                                len(const)) == const


def test_tiff_packbits_edge_cases():
    for data in (b"", b"a", b"ab", b"aaa", b"a" * 400,
                 bytes(range(256)) * 3):
        enc = tiffcodec.packbits_encode(data)
        assert tiffcodec.unpackbits_decode(enc, len(data)) == data


def test_tiff_big_endian_fixture():
    """Hand-built MM (Motorola) file: the byte-order branch must flip every
    multi-byte field."""
    w, h = 3, 2
    pix = bytes(range(w * h))
    ifd_off = 8 + len(pix)
    entries = [(256, 3, w), (257, 3, h), (258, 3, 8), (259, 3, 1),
               (262, 3, 1), (273, 4, 8), (277, 3, 1), (278, 4, h),
               (279, 4, len(pix))]
    buf = struct.pack(">2sHI", b"MM", 42, ifd_off) + pix
    buf += struct.pack(">H", len(entries))
    for tag, typ, val in entries:
        if typ == 3:
            buf += struct.pack(">HHIHH", tag, typ, 1, val, 0)
        else:
            buf += struct.pack(">HHII", tag, typ, 1, val)
    buf += struct.pack(">I", 0)
    dec = tiffcodec.decode_tiff(buf)
    assert np.array_equal(dec[:, :, 0],
                          np.frombuffer(pix, np.uint8).reshape(h, w))


def test_tiff_rejects_non_tiff():
    with pytest.raises(ValueError):
        tiffcodec.decode_tiff(b"XXXX garbage")


@pytest.mark.parametrize("comp", [1, 5, 32773])
@pytest.mark.parametrize("pred", [1, 2])
@pytest.mark.parametrize("byte_order", ["II", "MM"])
def test_tiff_16bit_roundtrip(comp, pred, byte_order):
    rng = np.random.default_rng(21)
    gray = rng.integers(0, 65536, size=(9, 13), dtype=np.uint16)
    enc = tiffcodec.encode_tiff(gray, compression=comp, predictor=pred,
                                rows_per_strip=4, byte_order=byte_order)
    dec = tiffcodec.decode_tiff(enc)
    assert dec.dtype == np.uint16
    assert np.array_equal(dec[:, :, 0], gray)
    rgb = rng.integers(0, 65536, size=(7, 5, 3), dtype=np.uint16)
    enc = tiffcodec.encode_tiff(rgb, compression=comp, predictor=pred,
                                byte_order=byte_order)
    assert np.array_equal(tiffcodec.decode_tiff(enc), rgb)


def _tiff_without_counts(comp: int, strips: list, w: int, h: int,
                         rows_per_strip: int) -> bytes:
    """Hand-built II file with NO StripByteCounts tag (279)."""
    offs, pos = [], 8
    for s in strips:
        offs.append(pos)
        pos += len(s)
    ifd_off = pos + (pos % 2)
    entries = [(256, 4, [w]), (257, 4, [h]), (258, 3, [8]),
               (259, 3, [comp]), (262, 3, [1]), (273, 4, offs),
               (277, 3, [1]), (278, 4, [rows_per_strip])]
    ifd_size = 2 + 12 * len(entries) + 4
    over_off = ifd_off + ifd_size
    ifd = bytearray(struct.pack("<H", len(entries)))
    overflow = bytearray()
    fmt = {3: "H", 4: "I"}
    size_of = {3: 2, 4: 4}
    for tag, typ, vals in entries:
        packed = struct.pack(f"<{len(vals)}{fmt[typ]}", *vals)
        if len(vals) * size_of[typ] <= 4:
            val = packed + b"\0" * (4 - len(packed))
        else:
            val = struct.pack("<I", over_off + len(overflow))
            overflow += packed
        ifd += struct.pack("<HHI", tag, typ, len(vals)) + val
    ifd += struct.pack("<I", 0)
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    for s in strips:
        out += s
    if len(out) % 2:
        out += b"\0"
    return bytes(out + ifd + overflow)


def test_tiff_missing_stripbytecounts():
    """Tag 279 absent: single strip and uncompressed multi-strip are
    derivable; compressed multi-strip must raise a clear diagnostic
    instead of dying later in an unrelated reshape."""
    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(6, 5), dtype=np.uint8)
    raw = [img[:3].tobytes(), img[3:].tobytes()]
    dec = tiffcodec.decode_tiff(_tiff_without_counts(1, raw, 5, 6, 3))
    assert np.array_equal(dec[:, :, 0], img)
    lzw = [tiffcodec.lzw_encode(c) for c in raw]
    with pytest.raises(ValueError, match="StripByteCounts"):
        tiffcodec.decode_tiff(_tiff_without_counts(5, lzw, 5, 6, 3))
    one = [tiffcodec.lzw_encode(img.tobytes())]
    dec = tiffcodec.decode_tiff(_tiff_without_counts(5, one, 5, 6, 6))
    assert np.array_equal(dec[:, :, 0], img)
