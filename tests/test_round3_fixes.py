"""Round-3 regression tests: session-scoped cache management (VERDICT r2 #6)
and the fused emit aggregation (collections + first-relation bare geometry
in one groupBy)."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from osm2geojson_lite_spark import CacheScope, Options, convert
from osm2geojson_lite_spark.sources.synth import (
    REFERENCE_EXPECTED_DIR,
    fixture_documents,
)

from .conftest import needs_reference, normalize


def _expected(name: str) -> dict:
    with open(os.path.join(REFERENCE_EXPECTED_DIR, name + ".geojson")) as f:
        return json.load(f)


@needs_reference
def test_interleaved_converts_no_cross_unpersist(spark):
    """Two convert() pipelines with explicit scopes interleaved in one
    session: building the second must not unpersist the first's live
    caches, and both outputs stay correct."""
    docs_a = fixture_documents(spark).filter("doc_id = 'relation.json'")
    docs_b = fixture_documents(spark).filter("doc_id = 'route.osm'")

    with CacheScope() as scope_a, CacheScope() as scope_b:
        out_a = convert(docs_a, Options(complete_feature=True), scope=scope_a)
        # building B materializes B's caches while A's scope is live
        out_b = convert(docs_b, Options(complete_feature=True), scope=scope_b)

        # A's persisted intermediates must still be cached
        assert scope_a._cached, "scope A tracked no caches"
        for df in scope_a._cached:
            assert df.storageLevel.useMemory, "scope A cache was unpersisted"

        rows_a = out_a.collect()
        rows_b = out_b.collect()

    assert normalize(json.loads(rows_a[0]["geojson"])) == normalize(
        _expected("relation.json"))
    assert normalize(json.loads(rows_b[0]["geojson"])) == normalize(
        _expected("route.osm"))


@needs_reference
def test_scope_release_unpersists(spark):
    docs = fixture_documents(spark).filter("doc_id = 'way.json'")
    scope = CacheScope()
    convert(docs, Options(complete_feature=True), scope=scope).collect()
    cached = list(scope._cached)
    assert cached
    scope.release()
    for df in cached:
        assert df.storageLevel.useMemory is False


@needs_reference
def test_fused_emit_default_mode_matches_reference(spark):
    """Default mode through the fused emit: relation docs yield the first
    relation's bare geometry; feature-less docs yield an empty collection."""
    docs = fixture_documents(spark).filter(
        "doc_id in ('relation.json', 'empty.json')"
    )
    out = {r["doc_id"]: json.loads(r["geojson"])
           for r in convert(docs, Options(complete_feature=False)).collect()}
    exp = _expected("relation.json")
    # bare geometry == geometry of the first feature of the full collection
    assert normalize(out["relation.json"]) == normalize(exp["features"][0]["geometry"])
    assert out["empty.json"] == {"type": "FeatureCollection", "features": []}


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


# ---------------------------------------------------------------------------
# trained IVF quantizer: engine k-means == independently generated golden
# ---------------------------------------------------------------------------


def test_kmeans_centroids_match_golden(spark):
    import json as _json

    from osm2geojson_lite_spark.pipeline.similarity import kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got = kmeans_centroids(emb, n_centroids=16, n_iters=20, sample_size=512,
                           seed=0)
    with open(Path(__file__).parent / "golden" / "ivf_centroids.json") as f:
        golden = _json.load(f)
    assert len(got) == len(golden) == 16
    for c, (g_vec, o_vec) in enumerate(zip(got, golden)):
        assert g_vec == o_vec, f"centroid {c} diverged from golden"


# ---------------------------------------------------------------------------
# events DSL: literals containing operator/$ tokens survive compilation
# ---------------------------------------------------------------------------


def test_condition_to_sql_literals_untouched():
    from osm2geojson_lite_spark.operators.events import condition_to_sql

    assert condition_to_sql('$name=="a&&b"') == "element_at(attrs, 'name') = 'a&&b'"
    assert condition_to_sql('$k=="$id"') == "element_at(attrs, 'k') = '$id'"
    assert condition_to_sql('$v!="x==y"') == "element_at(attrs, 'v') <> 'x==y'"
    # numeric coercion still applies outside literals
    assert (condition_to_sql("$lat>39")
            == "cast(element_at(attrs, 'lat') as double) > 39")
    # quotes inside literals escape to doubled SQL quotes
    assert condition_to_sql('$a=="it\'s"') == "element_at(attrs, 'a') = 'it''s'"


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
