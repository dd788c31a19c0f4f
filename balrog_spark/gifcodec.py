"""GIF87a/89a codec — pure numpy/stdlib, no codec library.

Clean-room from the public GIF structure: logical screen descriptor,
global/local color tables, sub-block framing, LZW image data (LSB-first
bit packing, variable initial code size, NO early change — the width grows
when the table reaches 2^bits, capped at 12), 4-pass interlacing, and
multi-frame animation (``gif_frames``: one composited frame per image
descriptor).

The encoder emits a GIF89a with a global color table built from the
image's distinct colors (<= 256 required — this is a codec, not a
quantizer)."""

from __future__ import annotations

import struct

import numpy as np


class _LSBBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, nbits: int) -> int:
        v = 0
        for i in range(nbits):
            byte = self.pos >> 3
            if byte >= len(self.data):
                return -1
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


def gif_lzw_decode(data: bytes, min_code_size: int,
                   expected: int) -> bytes:
    """GIF LZW: LSB-first, clear = 2^mcs, eoi = clear+1, width grows when
    the table reaches 2^bits (no early change), max 12 bits."""
    clear = 1 << min_code_size
    eoi = clear + 1
    rd = _LSBBitReader(data)
    out = bytearray()
    table: list[bytes] = []
    bits = min_code_size + 1
    prev: bytes | None = None

    def reset():
        nonlocal table, bits, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        bits = min_code_size + 1
        prev = None

    reset()
    while len(out) < expected:
        code = rd.read(bits)
        if code in (-1, eoi):
            break
        if code == clear:
            reset()
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        out += entry
        prev = entry
        if len(table) >= (1 << bits) and bits < 12:
            bits += 1
    return bytes(out[:expected])


def gif_lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF LZW encoder matching :func:`gif_lzw_decode`'s rule pair."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nacc = 0

    def emit(code: int, bits: int):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += bits
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    bits = min_code_size + 1
    emit(clear, bits)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], bits)
        table[nxt] = next_code
        next_code += 1
        # decoder table lags by one entry and has NO early change: it
        # widens when its len reaches 2^bits, so the encoder widens when
        # next_code exceeds 2^bits
        if next_code > (1 << bits) and bits < 12:
            bits += 1
        if next_code > 4095:
            emit(clear, bits)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            bits = min_code_size + 1
        cur = bytes([b])
    if cur:
        emit(table[cur], bits)
    emit(eoi, bits)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    """Reorder interlaced rows (4-pass 8/8/4/2 scheme) to natural order."""
    h = idx.shape[0]
    out = np.empty_like(idx)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for r in range(start, h, step):
            out[r] = idx[src]
            src += 1
    return out


def gif_frames(payload: bytes) -> list:
    """Decode every frame of a GIF to (h, w, 3) uint8 arrays. Frames are
    composited onto the logical screen honouring the GCE disposal
    method: 0/1 leave in place, 2 restore the frame rect to the
    background color, 3 restore to the pre-frame screen; transparency
    in a GCE keeps the underlying pixel."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, flags, bg, _ = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(payload[pos:pos + 3 * n],
                            dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    screen = np.zeros((h, w, 3), dtype=np.uint8)
    bg_rgb = np.zeros(3, dtype=np.uint8)
    if gct is not None:
        bg_rgb = gct[bg] if bg < len(gct) else bg_rgb
        screen[:, :] = bg_rgb
    frames = []
    transparent = None
    disposal = 0
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                size = payload[pos]
                gce = payload[pos + 1: pos + 1 + size]
                transparent = gce[3] if (gce[0] & 1) else None
                disposal = (gce[0] >> 2) & 7
                pos += 1 + size
            while payload[pos] != 0:  # remaining sub-blocks
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:  # image descriptor
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        ix, iy, iw, ih, iflags = struct.unpack("<HHHHB",
                                               payload[pos:pos + 9])
        pos += 9
        ct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            ct = np.frombuffer(payload[pos:pos + 3 * n],
                               dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF image without color table")
        mcs = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos] != 0:
            n = payload[pos]
            data += payload[pos + 1: pos + 1 + n]
            pos += 1 + n
        pos += 1
        idx = np.frombuffer(
            gif_lzw_decode(bytes(data), mcs, iw * ih),
            dtype=np.uint8)
        if idx.size < iw * ih:
            idx = np.pad(idx, (0, iw * ih - idx.size))
        idx = idx.reshape(ih, iw)
        if iflags & 0x40:
            idx = _deinterlace(idx)
        rgb = ct[np.minimum(idx, len(ct) - 1)]
        prev = screen.copy() if disposal == 3 else None
        region = screen[iy:iy + ih, ix:ix + iw]
        if transparent is not None:
            mask = (idx != transparent)[:, :, None]
            region[...] = np.where(mask, rgb, region)
        else:
            region[...] = rgb
        frames.append(screen.copy())
        # post-frame disposal prepares the canvas for the NEXT frame
        if disposal == 2:
            screen[iy:iy + ih, ix:ix + iw] = bg_rgb
        elif disposal == 3 and prev is not None:
            screen = prev
        transparent = None
        disposal = 0
    return frames


def decode_gif(payload: bytes) -> np.ndarray:
    """First frame of a GIF as (h, w, 3) uint8."""
    frames = gif_frames(payload)
    if not frames:
        raise ValueError("GIF contains no image")
    return frames[0]


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """Encode one (h, w, 3) uint8 frame (<= 256 distinct colors) as
    GIF89a with a global color table."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif needs <= 256 distinct colors")
    ctbits = max(1, int(np.ceil(np.log2(max(len(colors), 2)))))
    n_ct = 1 << ctbits
    table = np.zeros((n_ct, 3), dtype=np.uint8)
    table[:len(colors)] = colors
    idx = idx.astype(np.uint8).reshape(h, w)
    if interlace:
        rows = []
        for start, step in _INTERLACE_PASSES:
            rows.extend(range(start, h, step))
        idx = idx[np.array(rows)]
    mcs = max(2, ctbits)
    lzw = gif_lzw_encode(idx.tobytes(), mcs)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (ctbits - 1), 0, 0)
    out += table.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                       0x40 if interlace else 0)
    out += bytes([mcs])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3B"
    return bytes(out)
