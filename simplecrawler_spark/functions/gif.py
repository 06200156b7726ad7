"""Pure-stdlib GIF decode (GIF87a/GIF89a, first image frame).

Companion to functions/png.py: the container has no imaging library, but
GIF's LZW scheme is implementable with ints and bytes alone, so GIF joins
PNG in the REAL-decode subset of the multimodal feature kernel
(operators/multimodal.py). Implemented from the public GIF89a
specification (CompuServe, 1990) — logical screen descriptor, color
tables, sub-block framing, variable-width LSB-first LZW codes, and the
4-pass interlace row order.

Returns {"width", "height", "mean"}: true frame dimensions and the mean
over the frame's RGB bytes (palette-mapped), matching decode_png's
contract. Raises ValueError on anything malformed — callers treat that as
"not decodable here".
"""

from __future__ import annotations

__all__ = ["decode_gif"]


def _u16(b: bytes, off: int) -> int:
    return b[off] | (b[off + 1] << 8)


def _sub_blocks(data: bytes, off: int):
    """Concatenate the sub-block chain starting at ``off``; returns
    (payload bytes, offset past the terminator)."""
    out = bytearray()
    while True:
        if off >= len(data):
            raise ValueError("truncated sub-block chain")
        n = data[off]
        off += 1
        if n == 0:
            return bytes(out), off
        if off + n > len(data):
            raise ValueError("truncated sub-block")
        out += data[off:off + n]
        off += n


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    """GIF variable-width LZW (LSB-first bit packing)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    # dictionary: list of byte sequences; reset re-slices the prefix
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    # the loop ends at the pixel count, so a stream may omit its EOI code
    while len(out) < n_pixels:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    return out


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(data: bytes) -> dict:
    """Decode the FIRST image frame of a GIF87a/GIF89a payload."""
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF signature")
    packed = data[10]
    gct = None
    off = 13
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if off + 3 * n > len(data):
            raise ValueError("truncated global color table")
        gct = data[off:off + 3 * n]
        off += 3 * n
    while True:
        if off >= len(data):
            raise ValueError("no image descriptor")
        block = data[off]
        off += 1
        if block == 0x3B:  # trailer
            raise ValueError("no image frame before trailer")
        if block == 0x21:  # extension: label + sub-blocks
            if off >= len(data):
                raise ValueError("truncated extension")
            off += 1
            _, off = _sub_blocks(data, off)
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected block 0x{block:02x}")
        break
    if off + 9 > len(data):
        raise ValueError("truncated image descriptor")
    width = _u16(data, off + 4)
    height = _u16(data, off + 6)
    ipacked = data[off + 8]
    off += 9
    if width == 0 or height == 0 or width * height > 64_000_000:
        raise ValueError("implausible GIF dimensions")
    ct = gct
    if ipacked & 0x80:  # local color table
        n = 2 << (ipacked & 0x07)
        if off + 3 * n > len(data):
            raise ValueError("truncated local color table")
        ct = data[off:off + 3 * n]
        off += 3 * n
    if ct is None:
        raise ValueError("no color table")
    if off >= len(data):
        raise ValueError("missing LZW min code size")
    min_code_size = data[off]
    off += 1
    lzw, off = _sub_blocks(data, off)
    idx = _lzw_decode(lzw, min_code_size, width * height)
    if len(idx) < width * height:
        raise ValueError("decoded pixel count short")
    idx = idx[:width * height]
    if ipacked & 0x40:  # interlaced: reorder rows (4 passes)
        rows = [idx[r * width:(r + 1) * width] for r in range(height)]
        ordered: list = [None] * height
        src = 0
        for start, step in _INTERLACE_PASSES:
            for r in range(start, height, step):
                ordered[r] = rows[src]
                src += 1
        idx = bytearray().join(bytes(r) for r in ordered)
    n_colors = len(ct) // 3
    total = 0
    for i in idx:
        if i >= n_colors:
            raise ValueError("palette index out of range")
        base = 3 * i
        total += ct[base] + ct[base + 1] + ct[base + 2]
    return {"width": width, "height": height,
            "mean": total / (3 * width * height)}
