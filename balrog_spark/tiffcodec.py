"""Baseline TIFF 6.0 codec — pure numpy/stdlib, no codec library.

Clean-room from the public TIFF 6.0 structure (byte order II/MM, IFD tag
walk, strip layout): uncompressed, PackBits and LZW compression, 8-bit
grayscale + RGB, horizontal-differencing predictor.

TIFF LZW (vs GIF LZW): MSB-first bit packing and the spec's "early change"
— the code width bumps one code EARLIER than the table size strictly
requires (libtiff-compatible: widen when the next free code exceeds
2^bits - 1). Encoder and decoder here implement the same rule pair, and
the roundtrip property tests pin it.
"""

from __future__ import annotations

import struct

import numpy as np

# tag ids (TIFF 6.0 §8)
_W, _H = 256, 257
_BITS, _COMP, _PHOTO = 258, 259, 262
_STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT = 273, 277, 278, 279
_PLANAR, _PREDICTOR = 284, 317

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I"}


def _read_ifd(buf: bytes, bo: str):
    """First IFD -> {tag: [values]}."""
    off = struct.unpack(bo + "I", buf[4:8])[0]
    n = struct.unpack(bo + "H", buf[off:off + 2])[0]
    tags = {}
    for i in range(n):
        e = buf[off + 2 + 12 * i: off + 14 + 12 * i]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        if typ not in _TYPE_FMT:
            continue
        size = _TYPE_SIZE[typ] * cnt
        raw = e[8:12] if size <= 4 else None
        if raw is None:
            voff = struct.unpack(bo + "I", e[8:12])[0]
            raw = buf[voff:voff + size]
        vals = struct.unpack(bo + f"{cnt}{_TYPE_FMT[typ]}", raw[:size])
        tags[tag] = list(vals)
    return tags


def unpackbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF 6.0 §9): n in [0,127] -> copy n+1 literal bytes;
    n in [-127,-1] -> repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return bytes(out[:expected])


def packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits: runs of >= 3 become replicate packets."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length at i
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i = j + 1
            continue
        # literal stretch until the next >=3 run (or 128 bytes)
        k = i
        while k < n and k - i < 128:
            if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                break
            k += 1
        out += bytes([k - i - 1]) + data[i:k]
        i = k
    return bytes(out)


_CLEAR, _EOI, _FIRST = 256, 257, 258


class _MSBBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0   # bit position

    def read(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            byte = self.pos >> 3
            if byte >= len(self.data):
                return -1
            bit = 7 - (self.pos & 7)
            v = (v << 1) | ((self.data[byte] >> bit) & 1)
            self.pos += 1
        return v


def lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF LZW (§13): MSB-first codes, 9..12 bits, EARLY code-width
    change (widen when the table's next free code reaches 2^bits - 1)."""
    rd = _MSBBitReader(data)
    out = bytearray()
    table: list[bytes] = []
    bits = 9
    prev: bytes | None = None

    def reset():
        nonlocal table, bits, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        bits = 9
        prev = None

    reset()
    while len(out) < expected:
        code = rd.read(bits)
        if code in (-1, _EOI):
            break
        if code == _CLEAR:
            reset()
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:  # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        out += entry
        prev = entry
        if len(table) >= (1 << bits) - 1 and bits < 12:  # early change
            bits += 1
    return bytes(out[:expected])


def lzw_encode(data: bytes) -> bytes:
    """TIFF LZW encoder matching :func:`lzw_decode`'s rule pair."""
    out = bytearray()
    acc = 0
    nacc = 0

    def emit(code: int, bits: int):
        nonlocal acc, nacc
        acc = (acc << bits) | code
        nacc += bits
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)

    table = {bytes([i]): i for i in range(256)}
    next_code = _FIRST
    bits = 9
    emit(_CLEAR, bits)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], bits)
        table[nxt] = next_code
        next_code += 1
        # early change, one step later than the decoder's check: the
        # decoder's table lags this encoder's by exactly one entry (the
        # standard LZW one-code lag), so encoder widens when next_code
        # EXCEEDS 2^bits - 1 while the decoder widens when its table
        # length REACHES 2^bits - 1 — both then flip before the same
        # stream position (verified by the width-schedule roundtrip test)
        if next_code > (1 << bits) - 1 and bits < 12:
            bits += 1
        if next_code > 4093:  # table nearly full: clear
            emit(_CLEAR, bits)
            table = {bytes([i]): i for i in range(256)}
            next_code = _FIRST
            bits = 9
        cur = bytes([b])
    if cur:
        emit(table[cur], bits)
    emit(_EOI, bits)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def decode_tiff(payload: bytes) -> np.ndarray:
    """Decode a baseline TIFF to (h, w, 3): II/MM, strips, compression
    1 (none) / 5 (LZW) / 32773 (PackBits), photometric 0/1 (gray, 0 =
    white-is-zero inverted) / 2 (RGB), predictor 1/2, 8- or 16-bit
    samples (8-bit returns uint8, 16-bit returns uint16)."""
    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    if struct.unpack(bo + "H", payload[2:4])[0] != 42:
        raise ValueError("not a TIFF: magic != 42")
    tags = _read_ifd(payload, bo)
    w, h = tags[_W][0], tags[_H][0]
    spp = tags.get(_SPP, [1])[0]
    comp = tags.get(_COMP, [1])[0]
    photo = tags.get(_PHOTO, [1])[0]
    bits = tags.get(_BITS, [8])
    pred = tags.get(_PREDICTOR, [1])[0]
    if any(b != bits[0] for b in bits) or bits[0] not in (8, 16):
        raise NotImplementedError(
            f"only uniform 8/16-bit TIFF supported, got {bits}")
    bps = bits[0] // 8
    if tags.get(_PLANAR, [1])[0] != 1:
        raise NotImplementedError("planar TIFF not supported")
    rows_per_strip = tags.get(_ROWS_PER_STRIP, [h])[0]
    offs = tags[_STRIP_OFF]
    if _STRIP_CNT in tags:
        cnts = tags[_STRIP_CNT]
    elif len(offs) == 1:
        cnts = [len(payload) - offs[0]]
    elif comp == 1:
        # uncompressed strip sizes are derivable from the geometry
        cnts, row = [], 0
        for _ in offs:
            nrows = min(rows_per_strip, h - row)
            cnts.append(nrows * w * spp * bps)
            row += nrows
    else:
        raise ValueError(
            "multi-strip compressed TIFF missing StripByteCounts "
            "(tag 279) — strip sizes are not derivable")
    raw = bytearray()
    row = 0
    for off, cnt in zip(offs, cnts):
        nrows = min(rows_per_strip, h - row)
        expected = nrows * w * spp * bps
        chunk = payload[off:off + cnt]
        if comp == 1:
            raw += chunk[:expected]
        elif comp == 32773:
            raw += unpackbits_decode(chunk, expected)
        elif comp == 5:
            raw += lzw_decode(chunk, expected)
        else:
            raise NotImplementedError(f"TIFF compression {comp}")
        row += nrows
    dtype = np.uint8 if bps == 1 else np.dtype(bo + "u2")
    img = np.frombuffer(bytes(raw), dtype=dtype)[:h * w * spp] \
        .reshape(h, w, spp)
    native = np.uint8 if bps == 1 else np.uint16
    img = img.astype(native)
    if pred == 2:
        img = _undiff(img)
    if photo == 0:  # white-is-zero
        img = (255 if bps == 1 else 65535) - img
    if spp == 1:
        img = np.repeat(img, 3, axis=2)
    return img[:, :, :3]


def _undiff(img: np.ndarray) -> np.ndarray:
    """Predictor 2: horizontal differencing per sample VALUE (mod the
    sample width — 16-bit differencing is on 16-bit words, not bytes)."""
    wide = np.uint32 if img.dtype == np.uint16 else np.uint16
    return np.cumsum(img.astype(wide), axis=1).astype(img.dtype)


def _diff(img: np.ndarray) -> np.ndarray:
    wide = np.int64 if img.dtype == np.uint16 else np.int16
    mod = 65536 if img.dtype == np.uint16 else 256
    d = img.astype(wide)
    d[:, 1:] -= img[:, :-1].astype(wide)
    return (d % mod).astype(img.dtype)


def encode_tiff(img: np.ndarray, compression: int = 1,
                predictor: int = 1, rows_per_strip: int | None = None,
                photometric: int | None = None,
                byte_order: str = "II") -> bytes:
    """Encode (h, w) or (h, w, 3) uint8 OR uint16 to baseline TIFF
    (``byte_order`` "II" little- or "MM" big-endian)."""
    img = np.asarray(img)
    if img.dtype not in (np.uint8, np.uint16):
        raise ValueError(f"encode_tiff takes uint8/uint16, got {img.dtype}")
    if byte_order not in ("II", "MM"):
        raise ValueError(f"byte_order must be 'II' or 'MM', got {byte_order!r}")
    bo = "<" if byte_order == "II" else ">"
    sample_bits = 8 * img.dtype.itemsize
    gray = img.ndim == 2
    if gray:
        img = img[:, :, None]
    h, w, spp = img.shape
    if photometric is None:
        photometric = 1 if spp == 1 else 2
    if rows_per_strip is None:
        rows_per_strip = h
    src = _diff(img) if predictor == 2 else img
    src = src.astype(bo + f"u{img.dtype.itemsize}")   # file byte order
    strips = []
    for r0 in range(0, h, rows_per_strip):
        chunk = src[r0:r0 + rows_per_strip].tobytes()
        if compression == 32773:
            chunk = packbits_encode(chunk)
        elif compression == 5:
            chunk = lzw_encode(chunk)
        elif compression != 1:
            raise NotImplementedError(f"TIFF compression {compression}")
        strips.append(chunk)

    def entry(tag, typ, vals):
        cnt = len(vals)
        fmt = _TYPE_FMT[typ]
        size = _TYPE_SIZE[typ] * cnt
        packed = struct.pack(f"{bo}{cnt}{fmt}", *vals)
        return tag, typ, cnt, packed, size

    # layout: header(8) + strip data + IFD + overflow values
    data_off = 8
    strip_offs = []
    pos = data_off
    for s in strips:
        strip_offs.append(pos)
        pos += len(s)
    if pos % 2:
        pos += 1
    ifd_off = pos

    entries = [
        entry(_W, 4, [w]), entry(_H, 4, [h]),
        entry(_BITS, 3, [sample_bits] * spp),
        entry(_COMP, 3, [compression]),
        entry(_PHOTO, 3, [photometric]),
        entry(_STRIP_OFF, 4, strip_offs),
        entry(_SPP, 3, [spp]),
        entry(_ROWS_PER_STRIP, 4, [rows_per_strip]),
        entry(_STRIP_CNT, 4, [len(s) for s in strips]),
        entry(_PLANAR, 3, [1]),
    ]
    if predictor == 2:
        entries.append(entry(_PREDICTOR, 3, [2]))
    entries.sort(key=lambda e: e[0])
    ifd_size = 2 + 12 * len(entries) + 4
    over_off = ifd_off + ifd_size
    ifd = bytearray(struct.pack(bo + "H", len(entries)))
    overflow = bytearray()
    for tag, typ, cnt, packed, size in entries:
        if size <= 4:
            val = packed + b"\0" * (4 - size)
        else:
            val = struct.pack(bo + "I", over_off + len(overflow))
            overflow += packed
        ifd += struct.pack(bo + "HHI", tag, typ, cnt) + val
    ifd += struct.pack(bo + "I", 0)  # next IFD

    out = bytearray(struct.pack(bo + "2sHI", byte_order.encode(), 42,
                                ifd_off))
    for s in strips:
        out += s
    if len(out) % 2:
        out += b"\0"
    out += ifd + overflow
    return bytes(out)
