"""Tests: markdown assembly, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from paddleocr_spark.operators.markdown import render_markdown
from paddleocr_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    frame_sample,
    resize_plan,
    synth_media,
)


def test_render_markdown_kinds(spark):
    spans = [
        {"span_idx": 0, "kind": "title", "text": "My Title", "score": 1.0, "bbox": None},
        {"span_idx": 1, "kind": "para", "text": "hello *world*", "score": 1.0, "bbox": None},
        {"span_idx": 2, "kind": "list", "text": "item one", "score": 1.0, "bbox": None},
        {"span_idx": 3, "kind": "table", "text": "a | b\nc | d", "score": 1.0, "bbox": None},
        {"span_idx": 4, "kind": "code", "text": "x = 1", "score": 1.0, "bbox": None},
    ]
    df = spark.createDataFrame(
        [(1, spans)],
        "id long, spans array<struct<span_idx:int,kind:string,text:string,score:double,bbox:array<int>>>",
    )
    md = render_markdown(df).collect()[0].markdown
    assert "# My Title" in md
    assert r"hello \*world\*" in md
    assert "- item one" in md
    assert "| a | b |" in md and "| c | d |" in md
    assert "```\nx = 1\n```" in md


def test_multimodal_features(spark):
    media = synth_media(spark, 30)
    feats = extract_features(media.repartition(4)).collect()
    assert len(feats) == 30
    by_id = {r.media_id: r for r in feats}
    # round 5: image rows carry real PNGs and decode via the vendored
    # codec; audio/video payloads stay md5 chains on the stub path
    assert all(
        r.decoder == ("png" if r.kind == "image" else "fake") for r in feats
    )
    assert all(len(r.features) == FEATURE_DIM for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r.features)
    # deterministic across partitionings
    feats2 = {r.media_id: r.features for r in extract_features(media.coalesce(1)).collect()}
    assert {k: v.features for k, v in by_id.items()} == feats2


def test_resize_plan_and_frame_sample(spark):
    media = synth_media(spark, 30)
    plan = resize_plan(media.filter(F.col("kind") == "image"), max_side=736)
    for r in plan.collect():
        assert r.resize_w % 32 == 0 and r.resize_h % 32 == 0
        assert max(r.resize_w, r.resize_h) <= 736 + 16  # rounding headroom
    frames = frame_sample(media, every_n=10)
    rows = frames.groupBy("media_id").count().collect()
    metas = {r.media_id: r.meta.n_frames for r in media.filter("kind='video'").collect()}
    for r in rows:
        expect = (metas[r.media_id] - 1) // 10 + 1
        assert r["count"] == expect


def _tiny_png(w=3, h=2, rgb=(200, 10, 30)) -> bytes:
    """Hand-built valid PNG (pure stdlib): lets the real-decoder path be
    exercised without shipping image fixtures."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + bytes(rgb) * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decoder_dispatch_real_or_fallback(spark):
    """A VALID image payload decodes with PIL when available (decoder='pil',
    real dims in the features) and falls back to the stub otherwise; invalid
    bytes always take the stub path and never raise — in BOTH modes the
    schema and row count are identical (DecodeImage None-contract analog)."""
    from paddleocr_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _try_real_decoder,
        extract_features,
    )

    rows = [
        (0, "image", _tiny_png(), {"width": 3, "height": 2, "sample_rate": None,
                                   "n_frames": None, "fmt": "png"}),
        (1, "image", b"not an image", {"width": 1, "height": 1, "sample_rate": None,
                                       "n_frames": None, "fmt": "png"}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in extract_features(df).collect()}
    assert set(got) == {0, 1}
    assert got[1].decoder == "fake"  # invalid bytes: stub, no exception
    if _try_real_decoder():
        assert got[0].decoder == "pil"
    else:
        assert got[0].decoder == "png"  # round 5: vendored codec branch
    assert abs(got[0].features[0] - 3 / 1000.0) < 1e-12  # real width
    assert abs(got[0].features[1] - 2 / 1000.0) < 1e-12  # real height
    assert all(len(r.features) == 8 for r in got.values())


def test_synth_media_png_features_are_the_known_color(spark):
    """Image rows decode to EXACTLY the md5-derived solid color and the
    _png_payload dims — the values the DuckDB oracle recomputes; a decoder
    that mis-inverted any of the five cycling row filters would fail this
    (the decode-proof contract). Audio/video rows stay on the stub."""
    import hashlib

    from paddleocr_spark.operators.multimodal import extract_features, synth_media

    out = {r.media_id: r for r in extract_features(synth_media(spark, 24)).collect()}
    for i, r in out.items():
        if r.kind != "image":
            assert r.decoder == "fake"
            continue
        assert r.decoder == "png"
        h = hashlib.md5(f"media:{i}:rgb".encode()).digest()
        w, hh = 4 + (i * 5) % 12, 3 + (i * 7) % 9
        assert abs(r.features[0] - w / 1000.0) < 1e-12
        assert abs(r.features[1] - hh / 1000.0) < 1e-12
        assert abs(r.features[2] - h[0] / 255.0) < 1e-12
        assert abs(r.features[3] - h[1] / 255.0) < 1e-12
        assert abs(r.features[4] - h[2] / 255.0) < 1e-12


def test_pngcodec_roundtrip_and_refusals():
    """Vendored codec unit contract: encode→decode roundtrips the solid
    color across ALL five row filters; gray / palette / alpha color types
    decode; 16-bit, Adam7, truncation, bad filter types, corrupt zlib and
    out-of-range palette indices all return None (DecodeImage None
    contract) — never raise."""
    import struct
    import zlib

    from paddleocr_spark.functions.pngcodec import (
        PNG_SIG,
        channel_means,
        decode_png,
        encode_png,
    )

    p = encode_png(7, 11, (13, 200, 77))  # 11 rows → every filter used
    dec = decode_png(p)
    assert dec is not None
    w, h, ct, rows = dec
    assert (w, h, ct) == (7, 11, 2)
    assert channel_means(dec) == (13.0, 200.0, 77.0)
    # every row must be the same solid color after unfiltering
    assert all(bytes(r) == bytes((13, 200, 77)) * 7 for r in rows)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    def png(ihdr_args, raw, plte=None):
        ihdr = struct.pack(">IIBBBBB", *ihdr_args)
        body = PNG_SIG + chunk(b"IHDR", ihdr)
        if plte is not None:
            body += chunk(b"PLTE", plte)
        return body + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    # grayscale decodes; means replicate
    g = png((2, 2, 8, 0, 0, 0, 0), b"\x00\x40\x40\x00\x40\x40")
    dg = decode_png(g)
    assert dg is not None and channel_means(dg) == (0x40,)
    # palette resolves through PLTE to RGB rows
    pal = png((2, 1, 8, 3, 0, 0, 0), b"\x00\x01\x00",
              plte=bytes((9, 8, 7, 1, 2, 3)))
    dp = decode_png(pal)
    assert dp is not None and dp[2] == 2
    assert bytes(dp[3][0]) == bytes((1, 2, 3, 9, 8, 7))
    # RGBA decodes, alpha ignored by the feature mapping
    da = decode_png(png((1, 1, 8, 6, 0, 0, 0), b"\x00\x05\x06\x07\xff"))
    assert da is not None and channel_means(da)[:3] == (5.0, 6.0, 7.0)
    # refusals
    assert decode_png(b"") is None
    assert decode_png(b"not a png at all") is None
    assert decode_png(p[:20]) is None                      # truncated
    assert decode_png(png((1, 1, 16, 2, 0, 0, 0), b"\x00\x00\x00\x00\x00\x00\x00")) is None  # 16-bit
    assert decode_png(png((1, 1, 8, 2, 0, 0, 1), b"\x00\x01\x02\x03")) is None  # Adam7
    assert decode_png(png((1, 1, 8, 2, 0, 0, 0), b"\x09\x01\x02\x03")) is None  # filter 9
    assert decode_png(png((1, 1, 8, 3, 0, 0, 0), b"\x00\x05", plte=bytes((1, 2, 3)))) is None  # palette idx 5 > max
    bad = png((1, 1, 8, 2, 0, 0, 0), b"\x00\x01\x02\x03")
    bad = bad.replace(zlib.compress(b"\x00\x01\x02\x03"), b"GARBLEDZLIB!")
    assert decode_png(bad) is None                         # corrupt zlib
