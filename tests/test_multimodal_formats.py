"""Format classifier + REAL GIF decode + JPEG header dims (VERDICT r04 #6).

A minimal in-test GIF encoder (clear-code-before-every-pixel LZW — valid
per the GIF89a spec, just uncompressed) provides known-pixel goldens for
functions/gif.py, including the 4-pass interlace order; JPEG dims come
from hand-built SOF0 marker streams. ``decode_image`` must report the
sniffed format honestly instead of absorbing everything non-PNG into the
fake-feature fallback."""

import struct

import pytest

from simplecrawler_spark.functions.gif import decode_gif
from simplecrawler_spark.functions.imagemeta import (jpeg_dimensions,
                                                     sniff_format)
from simplecrawler_spark.functions.png import encode_png
from simplecrawler_spark.operators.multimodal import (FEATURE_SCHEMA,
                                                      decode_image,
                                                      extract_features,
                                                      image_features)

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _lzw_trivial(indices, min_code_size, eoi=True):
    """LZW stream that emits CLEAR before every pixel code: no dictionary
    entries are ever used, so it is trivially correct (and bigger).
    ``eoi=False`` ends the stream at the last pixel code, without EOI."""
    clear = 1 << min_code_size
    codes = []
    for i in indices:
        codes.extend([clear, i])
    if eoi:
        codes.append(clear + 1)
    out = bytearray()
    acc = nbits = 0
    size = min_code_size + 1
    for c in codes:
        acc |= c << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif(width, height, palette, indices, interlace=False, v=b"89a",
         extensions=b"", eoi=True):
    """Assemble a single-frame GIF. ``palette``: list of (r, g, b)."""
    n = len(palette)
    size_field = max((n - 1).bit_length(), 1) - 1
    table = bytearray()
    for (r, g, b) in palette:
        table += bytes([r, g, b])
    table += bytes(3 * ((2 << size_field) - n))  # pad to 2^(N+1) entries
    lsd = struct.pack("<HHBBB", width, height, 0x80 | size_field, 0, 0)
    if interlace:
        rows = [indices[r * width:(r + 1) * width] for r in range(height)]
        stored = []
        for start, step in _INTERLACE_PASSES:
            for r in range(start, height, step):
                stored.extend(rows[r])
        indices = stored
    mcs = max(2, size_field + 1)
    lzw = _lzw_trivial(indices, mcs, eoi=eoi)
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    idesc = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height,
                                  0x40 if interlace else 0)
    return (b"GIF" + v + lsd + bytes(table) + extensions
            + idesc + bytes([mcs]) + bytes(blocks) + b"\x3b")


def _sof0(width, height):
    seg = struct.pack(">BHHB", 8, height, width, 3) + b"\x01\x11\x00" * 3
    return (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"        # APP0 stub
            + b"\xff\xc0" + struct.pack(">H", len(seg) + 2) + seg
            + b"\xff\xd9")


PALETTE = [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 0, 255)]


def test_gif_known_pixels():
    idx = [0, 1, 2, 3, 3, 2, 1, 0]  # 4x2
    g = _gif(4, 2, PALETTE, idx)
    d = decode_gif(g)
    assert (d["width"], d["height"]) == (4, 2)
    exp = sum(sum(PALETTE[i]) for i in idx) / (3 * len(idx))
    assert d["mean"] == pytest.approx(exp)


def test_gif_stream_without_eoi():
    # the LZW data ends at the last pixel code: no EOI code follows
    idx = [3, 0, 2, 1, 1, 2]  # 3x2
    d = decode_gif(_gif(3, 2, PALETTE, idx, eoi=False))
    assert (d["width"], d["height"]) == (3, 2)
    exp = sum(sum(PALETTE[i]) for i in idx) / (3 * len(idx))
    assert d["mean"] == pytest.approx(exp)


def test_gif_interlaced_and_87a_and_extension():
    idx = [(x + y) % 4 for y in range(8) for x in range(4)]  # 4x8
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext
    for v in (b"87a", b"89a"):
        g = _gif(4, 8, PALETTE, idx, interlace=True, v=v, extensions=ext)
        d = decode_gif(g)
        assert (d["width"], d["height"]) == (4, 8)
        exp = sum(sum(PALETTE[i]) for i in idx) / (3 * len(idx))
        assert d["mean"] == pytest.approx(exp)


def test_gif_rejects_garbage_bodies():
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"the quick brown fox jumps over it")
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a")
    with pytest.raises(ValueError):
        decode_gif(b"not a gif at all")


def test_sniff_format():
    assert sniff_format(_gif(1, 1, PALETTE, [0])) == "gif"
    assert sniff_format(_sof0(3, 4)) == "jpeg"
    assert sniff_format(encode_png(b"\x00", 1, 1, channels=1)) == "png"
    assert sniff_format(b"RIFF\x00\x00\x00\x00WEBPVP8 ") == "webp"
    assert sniff_format(b"BM rest of a bitmap") == "bmp"
    assert sniff_format(b"II*\x00tiff") == "tiff"
    assert sniff_format(b"MM\x00*tiff") == "tiff"
    assert sniff_format(b"plain text") == "unknown"
    assert sniff_format(b"") == "unknown"


def test_jpeg_dimensions():
    assert jpeg_dimensions(_sof0(640, 480)) == (640, 480)
    assert jpeg_dimensions(_sof0(1, 1)) == (1, 1)
    assert jpeg_dimensions(b"\xff\xd8\xff\xd9") is None  # EOI, no SOF
    assert jpeg_dimensions(b"\xff\xd8\xff\xc0\x00\x03") is None  # truncated
    assert jpeg_dimensions(b"nope") is None


def test_decode_image_per_format():
    g = decode_image(_gif(4, 2, PALETTE, [0, 1, 2, 3, 3, 2, 1, 0]))
    assert g["format"] == "gif" and g["decoded"] is True
    assert (g["width"], g["height"]) == (4, 2)

    j = decode_image(_sof0(12, 7), fake="deterministic")
    assert j["format"] == "jpeg" and j["decoded"] is False
    assert (j["width"], j["height"]) == (12, 7)   # real header dims
    assert j["mean_pixel"] is None
    with pytest.raises(NotImplementedError):
        decode_image(_sof0(12, 7))                # pixels still undecodable

    u = decode_image(b"BM not really", fake="deterministic")
    assert u["format"] == "bmp" and u["decoded"] is False \
        and u["width"] is None
    # garbage after a GIF magic: classified gif, decode declines
    t = decode_image(b"GIF89a" + b"x" * 40, fake="deterministic")
    assert t["format"] == "gif" and t["decoded"] is False


def test_extract_features_formats(spark):
    gif = _gif(4, 2, PALETTE, [0, 1, 2, 3, 3, 2, 1, 0])
    df = spark.createDataFrame(
        [(1, bytearray(gif)), (2, bytearray(_sof0(9, 5))),
         (3, bytearray(b"opaque"))],
        "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in
            df.mapInPandas(extract_features, FEATURE_SCHEMA).collect()}
    assert rows[1]["format"] == "gif" and rows[1]["decoded"]
    assert rows[2]["format"] == "jpeg" and not rows[2]["decoded"] \
        and (rows[2]["width"], rows[2]["height"]) == (9, 5)
    assert rows[3]["format"] == "unknown"


def test_image_features_oracle_slice(spark):
    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(20)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in image_features(docs).collect()}
    for i in range(20):
        expect = "gif" if i % 5 in (0, 1) else "unknown"
        assert rows[i]["format"] == expect, i
        assert rows[i]["decoded"] is False
