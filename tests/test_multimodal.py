"""pipeline.multimodal media codecs: PNG, PPM and GIF decoding against
the synthetic media spec, and decode_media's skip accounting."""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# PNG codec (stdlib zlib + numpy unfilter) and PPM header hardening
# ---------------------------------------------------------------------------


def test_png_roundtrip_all_filters():
    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import (
        _gradient_pixels, decode_png_pixels, encode_png)

    # heights >= 5 exercise every filter type (encoder cycles y % 5)
    for i, (w, h) in enumerate([(1, 1), (2, 7), (13, 11), (33, 24)]):
        px = _gradient_pixels(i, w, h)
        dec = decode_png_pixels(encode_png(px))
        assert dec.shape == (h, w, 3)
        assert (dec == px).all(), (w, h)


def test_png_unsupported_raises():
    import struct as _s
    import zlib as _z

    import pytest as _pt

    from osm2geojson_lite_spark.pipeline.multimodal import (
        _png_chunk, decode_png_pixels)

    # sub-8-bit depth rejected (8/16 supported)
    ihdr = _s.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0)
    blob = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(b"\0" * 26))
            + _png_chunk(b"IEND", b""))
    with _pt.raises(NotImplementedError):
        decode_png_pixels(blob)


def test_png_adam7_interlaced():
    import struct as _s
    import zlib as _z

    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import (
        _ADAM7_PASSES, _gradient_pixels, _png_chunk, decode_png_pixels)

    # build an Adam7 PNG by hand (filter 0 scanlines per pass) and check the
    # scatter reconstructs the original 9x10 RGB image exactly
    px = _gradient_pixels(3, 9, 10)
    h, w = px.shape[:2]
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7_PASSES:
        sub = px[y0::dy, x0::dx]
        for row in sub:
            raw.append(0)
            raw.extend(row.tobytes())
    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    blob = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))
    dec = decode_png_pixels(blob)
    assert dec.shape == (h, w, 3) and (dec == px).all()


def test_ppm_header_comments_and_trailing_bytes():
    from osm2geojson_lite_spark.pipeline.multimodal import (
        _ppm_header, decode_ppm_pixels)

    ppm = b"P6\n# comment\n3 2\n# more\n255\n" + bytes(range(18)) + b"TRAILER"
    assert _ppm_header(ppm)[:3] == (3, 2, 255)
    assert decode_ppm_pixels(ppm).flatten().tolist() == list(range(18))


def test_ppm_maxval_not_255_raises():
    import pytest as _pt

    from osm2geojson_lite_spark.pipeline.multimodal import decode_ppm_pixels

    with _pt.raises(NotImplementedError):
        decode_ppm_pixels(b"P6\n2 2\n65535\n" + bytes(24))


def test_media_decode_matches_spec_including_png():
    from osm2geojson_lite_spark.pipeline.multimodal import (
        _decode_one, media_spec, synthetic_blob)

    fmts = set()
    for i in range(150):
        _ref, _kind, payload = synthetic_blob(i)
        meta = _decode_one(payload)
        spec = media_spec(i)
        fmts.add(spec["format"])
        for k in ("format", "width", "height", "n_frames", "sample_rate",
                  "n_samples"):
            assert meta[k] == spec[k], (i, k)
    assert "png" in fmts  # corpus now includes compressed-container images


def test_png_palette_and_gray_variants():
    import struct as _s
    import zlib as _z

    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import (
        _png_chunk, decode_png_pixels)

    def build(color_type, channels, w, h, raw_rows, extra=b""):
        ihdr = _s.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        raw = b"".join(b"\0" + r for r in raw_rows)  # filter 0 rows
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + extra
                + _png_chunk(b"IDAT", _z.compress(raw))
                + _png_chunk(b"IEND", b""))

    # grayscale (type 0)
    rows = [bytes([10, 20, 30]), bytes([40, 50, 60])]
    g = decode_png_pixels(build(0, 1, 3, 2, rows))
    assert g.shape == (2, 3, 1) and g[1, 2, 0] == 60

    # palette (type 3): indices map through PLTE to RGB
    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    idx_rows = [bytes([0, 1]), bytes([2, 0])]
    p = decode_png_pixels(build(3, 1, 2, 2, idx_rows,
                                extra=_png_chunk(b"PLTE", palette)))
    assert p.shape == (2, 2, 3)
    assert p[0, 0].tolist() == [255, 0, 0]
    assert p[0, 1].tolist() == [0, 255, 0]
    assert p[1, 0].tolist() == [0, 0, 255]

    # RGBA (type 6)
    rgba_rows = [bytes([1, 2, 3, 4, 5, 6, 7, 8])]
    a = decode_png_pixels(build(6, 4, 2, 1, rgba_rows))
    assert a.shape == (1, 2, 4) and a[0, 1].tolist() == [5, 6, 7, 8]


def test_png_16bit_depth():
    import struct as _s
    import zlib as _z

    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import (
        _png_chunk, decode_png_pixels)

    # 16-bit grayscale 2x2, filter 0 then sub (bpp=2 bytes)
    ihdr = _s.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    row0 = b"\x00" + _s.pack(">HH", 0x1234, 0xABCD)
    # sub row: recon = raw + recon[x-1 pixel] bytewise; plant raw so that
    # recon pixel0 = 0x0102, pixel1 bytes = (0x01+0x03)%256, (0x02+0x04)%256
    row1 = b"\x01" + bytes([0x01, 0x02, 0x03, 0x04])
    blob = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(row0 + row1))
            + _png_chunk(b"IEND", b""))
    px = decode_png_pixels(blob)
    assert px.dtype == np.uint16 and px.shape == (2, 2, 1)
    assert px[0, 0, 0] == 0x1234 and px[0, 1, 0] == 0xABCD
    assert px[1, 0, 0] == 0x0102 and px[1, 1, 0] == 0x0406


# ---------------------------------------------------------------------------
# GIF codec (pure-stdlib LZW)
# ---------------------------------------------------------------------------


def test_gif_canonical_fixture():
    """Decode the canonical documented 1x1 white GIF — bytes NOT produced
    by our encoder, so this pins spec compliance, not self-consistency."""
    from osm2geojson_lite_spark.pipeline.multimodal import decode_gif_pixels

    one = bytes.fromhex(
        "474946383961010001008000"
        "00ffffff000000"
        "2c000000000100010000"
        "0202"
        "4401"
        "00"
        "3b")
    px = decode_gif_pixels(one)
    assert px.shape == (1, 1, 3) and px[0, 0].tolist() == [255, 255, 255]


def test_gif_lzw_roundtrip_width_growth_and_clear():
    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import (
        _lzw_decode, _lzw_encode)

    rng = np.random.default_rng(7)
    # 70k symbols over 200 values forces width growth to 12 bits AND a
    # table-full clear/restart mid-stream
    for n, alphabet in ((10, 4), (1000, 16), (70000, 200)):
        data = bytes(rng.integers(0, alphabet, n, dtype=np.uint8))
        ms = max(2, (alphabet - 1).bit_length())
        assert _lzw_decode(_lzw_encode(data, ms), ms) == data, (n, alphabet)
    rep = b"abcabcabd" * 3000  # deep dictionary chains
    assert _lzw_decode(_lzw_encode(rep, 8), 8) == rep


def test_gif_roundtrip_and_interlace():
    import struct as _s

    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import (
        _lzw_encode, _palette_pixels, decode_gif_pixels, encode_gif)

    for i, (w, h) in enumerate([(1, 1), (2, 7), (13, 11), (29, 23)]):
        p = _palette_pixels(i, w, h)
        dec = decode_gif_pixels(encode_gif(p))
        assert dec.shape == (h, w, 3) and (dec == p).all(), (w, h)

    # interlaced variant built by hand (pass-ordered rows, flag 0x40)
    p = _palette_pixels(9, 7, 13)
    flat = p.reshape(-1, 3)
    colors, inv = np.unique(flat, axis=0, return_inverse=True)
    ct_bits = max(1, int(len(colors) - 1).bit_length())
    ct = np.zeros((1 << ct_bits, 3), np.uint8)
    ct[:len(colors)] = colors
    ms = max(2, ct_bits)
    grid = inv.astype(np.uint8).reshape(13, 7)
    passes = np.concatenate([grid[0::8], grid[4::8], grid[2::4], grid[1::2]])
    lzw = _lzw_encode(passes.tobytes(), ms)
    blocks = bytearray()
    for j in range(0, len(lzw), 255):
        c = lzw[j:j + 255]
        blocks.append(len(c))
        blocks.extend(c)
    blocks.append(0)
    gif_i = (b"GIF89a" + _s.pack("<HHBBB", 7, 13, 0x80 | (ct_bits - 1), 0, 0)
             + ct.tobytes() + b"\x2C" + _s.pack("<HHHHB", 0, 0, 7, 13, 0x40)
             + bytes([ms]) + bytes(blocks) + b"\x3B")
    assert (decode_gif_pixels(gif_i) == p).all()


def _offset_gif(screen_w, screen_h, left, top, frame):
    """Hand-built GIF89a: logical screen (screen_w, screen_h), one frame of
    ``frame`` (h, w, 3) placed at (left, top) — the spec-valid sub-frame
    shape the decoder previously mispositioned (ADVICE r3)."""
    import struct as _struct

    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import _lzw_encode

    h, w, _ = frame.shape
    colors, inverse = np.unique(frame.reshape(-1, 3), axis=0,
                                return_inverse=True)
    ct_bits = max(1, int(len(colors) - 1).bit_length())
    ct = np.zeros((1 << ct_bits, 3), np.uint8)
    ct[: len(colors)] = colors
    min_size = max(2, ct_bits)
    lzw = _lzw_encode(inverse.astype(np.uint8).tobytes(), min_size)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)
    bg_index = 0
    return (b"GIF89a"
            + _struct.pack("<HHBBB", screen_w, screen_h,
                           0x80 | (ct_bits - 1), bg_index, 0)
            + ct.tobytes()
            + b"\x2C" + _struct.pack("<HHHHB", left, top, w, h, 0)
            + bytes([min_size]) + bytes(blocks)
            + b"\x3B")


def test_gif_offset_frame_composited():
    """A frame smaller than the logical screen decodes to the SCREEN size
    with the frame at (left, top) and background color elsewhere."""
    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import decode_gif_pixels

    frame = np.array([[[255, 0, 0], [0, 255, 0]],
                      [[0, 0, 255], [255, 0, 0]]], np.uint8)
    px = decode_gif_pixels(_offset_gif(5, 4, 2, 1, frame))
    assert px.shape == (4, 5, 3)
    assert (px[1:3, 2:4] == frame).all()
    # background = palette[bg_index=0] (lowest color after np.unique sort)
    bg = sorted(map(tuple, frame.reshape(-1, 3).tolist()))[0]
    assert tuple(px[0, 0]) == bg
    assert tuple(px[3, 4]) == bg
    # out-of-bounds placement is corrupt, not silently cropped
    with pytest.raises(ValueError, match="logical screen"):
        decode_gif_pixels(_offset_gif(3, 3, 2, 2, frame))


def test_decode_media_skip_narrow_and_counted(spark):
    """ADVICE r3: on_error='skip' drops ONLY declared decode failures, with
    an observable dropped count; a decoder BUG (TypeError) still raises."""
    from osm2geojson_lite_spark.pipeline import multimodal as mm

    rows = [
        ("ok://1", "image", bytearray(mm.encode_bmp(
            __import__("numpy").zeros((2, 2, 3), "uint8")))),
        ("bad://1", "image", bytearray(b"GIF89a\x00")),   # truncated
        ("bad://2", "image", bytearray(b"\x00\x01garbage")),
    ]
    media = spark.createDataFrame(
        rows, "media_ref string, kind string, payload binary")
    acc = spark.sparkContext.accumulator(0)
    out = mm.decode_media(media, on_error="skip", dropped_counter=acc)
    got = out.collect()
    assert [r["media_ref"] for r in got] == ["ok://1"]
    assert acc.value == 2

    # the skip net is the declared tuple only — programming-bug exception
    # types are NOT in it, so a decoder regression fails loudly even in
    # skip mode (the round-3 bare-Exception catch hid them)
    assert TypeError not in mm._DECODE_SKIP_ERRORS
    assert AttributeError not in mm._DECODE_SKIP_ERRORS
    assert KeyError not in mm._DECODE_SKIP_ERRORS
