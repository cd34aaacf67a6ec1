"""Multimodal plumbing: python-model checks for the stubbed decode
stages (the frame oracle covers frame_sample; thumbnails have an array
column → no SQL oracle, so the model check lives here)."""

from __future__ import annotations

import hashlib

import pytest

from apd_map_reduce_spark.operators.multimodal import (
    FRAME_COUNT,
    THUMB_GRID,
    decode_image,
    multimodal_frame_sample,
    multimodal_thumbnails,
)
from apd_map_reduce_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def py_thumb(b: bytes) -> list[int]:
    n = max(len(b), 1)
    cells = THUMB_GRID * THUMB_GRID
    step = max(n // cells, 1)
    return [sum(b[i * step : (i + 1) * step]) % 256 for i in range(cells)]


def test_thumbnails_match_python_model(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(20).cache()
    got = {r.doc_id: list(r.thumb) for r in multimodal_thumbnails(docs).collect()}
    for r in docs.collect():
        assert got[r.doc_id] == py_thumb(r.text.encode("utf-8")), f"doc {r.doc_id}"
    assert all(len(t) == THUMB_GRID * THUMB_GRID for t in got.values())


def test_frame_sample_shape_and_hashes(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(5).cache()
    frames = multimodal_frame_sample(docs).collect()
    assert len(frames) == 5 * FRAME_COUNT
    one = {r.doc_id: r.text.encode() for r in docs.collect()}
    for r in frames:
        b = one[r.doc_id]
        step = max(len(b) // FRAME_COUNT, 1)
        chunk = (
            b[r.frame_idx * step : (r.frame_idx + 1) * step]
            if r.frame_idx < FRAME_COUNT - 1
            else b[(FRAME_COUNT - 1) * step :]
        )
        assert r.frame_hash == hashlib.md5(chunk).hexdigest()


def test_decode_honest_without_codec():
    """Without a codec, decode raises the documented NotImplementedError;
    with one, garbage bytes surface the codec's own decode error."""
    from apd_map_reduce_spark.operators.multimodal import has_image_codec

    if has_image_codec():
        with pytest.raises(Exception) as exc:
            decode_image(b"\x89PNG...")
        assert not isinstance(exc.value, NotImplementedError)
    else:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG...")


def _png_bytes(pixels, size):
    """Tiny in-memory PNG (requires PIL; callers importorskip first)."""
    import io

    from PIL import Image

    img = Image.new("L", size)
    img.putdata(pixels)
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    return buf.getvalue()


def test_real_codec_metadata_and_phash(spark):
    """Codec-enabled twin of the byte-level stubs: real width/height
    from decoded pixels, and the shared banding machinery flags a
    one-region-brightened copy as a near-dup while a structurally
    different image stays out. Skips where PIL is absent (this
    container); green where codecs exist."""
    pytest.importorskip("PIL")
    from apd_map_reduce_spark.operators.multimodal import (
        image_metadata,
        image_phash_neardup,
    )

    w, h = 40, 24
    base = [(x * 255) // (w - 1) for y in range(h) for x in range(w)]  # ramp
    near = list(base)
    near[0] = 255 - near[0]  # single-pixel change -> low hamming
    checker = [255 * ((x // 4 + y // 4) % 2) for y in range(h) for x in range(w)]
    images = spark.createDataFrame(
        [
            (1, bytearray(_png_bytes(base, (w, h)))),
            (2, bytearray(_png_bytes(near, (w, h)))),
            (3, bytearray(_png_bytes(checker, (w, h)))),
        ],
        "doc_id LONG, payload BINARY",
    )
    meta = {r.doc_id: r for r in image_metadata(images).collect()}
    assert set(meta) == {1, 2, 3}
    assert all((m.width, m.height) == (w, h) for m in meta.values())
    assert all(m.mode == "L" for m in meta.values())
    assert meta[1].content_hash != meta[2].content_hash

    pairs = {(r.id_a, r.id_b): r.hamming for r in image_phash_neardup(images).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert all(3 not in k for k in pairs)


def test_null_and_empty_text_tokens(spark):
    """Null/empty text must yield zero tokens, not errors or null rows."""
    from pyspark.sql import functions as F

    from apd_map_reduce_spark.operators.invindex import inverted_index

    corpus = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "ok")],
        "file_id INT, line STRING",
    )
    idx = {r.word: r.file_ids for r in inverted_index(corpus).collect()}
    assert idx == {"ok": [4]}


def test_audio_stats_matches_python_model(spark):
    from apd_map_reduce_spark.operators.multimodal import multimodal_audio_stats

    docs = spark.createDataFrame(
        [(1, "AZ az"), (2, "~"), (3, "  ")],  # mixed signs around 128
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_samples, r.peak, r.energy, r.zero_crossings)
           for r in multimodal_audio_stats(docs).collect()}
    want = {}
    for doc_id, text in [(1, "AZ az"), (2, "~"), (3, "  ")]:
        v = [b - 128 for b in text.encode()]
        zc = sum(1 for a, b in zip(v, v[1:]) if (a < 0) != (b < 0))
        want[doc_id] = (len(v), max(abs(x) for x in v), sum(x * x for x in v), zc)
    assert got == want


def test_phash_neardup_matches_bruteforce(spark):
    """Banding completeness: for hamming <= PHASH_MAX_HAMMING the
    4-band pigeonhole guarantees candidate recall is EXACT, so the
    banded pair set must equal the brute-force pair set computed from
    the signatures in Python."""
    from apd_map_reduce_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        multimodal_phash,
        multimodal_phash_neardup,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    sigs = {r.doc_id: r.phash for r in multimodal_phash(docs).collect()}
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= PHASH_MAX_HAMMING
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal_phash_neardup(docs).collect()
    }
    assert set(got) == brute
    for (a, b), h in got.items():
        assert h == bin(sigs[a] ^ sigs[b]).count("1")


def test_phash_signature_model(spark):
    """Signature matches an independent Python model of the
    blocked-mean construction on the raw UTF-8 bytes."""
    from apd_map_reduce_spark.operators.multimodal import (
        PHASH_BITS,
        multimodal_phash,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    got = {r.doc_id: r.phash for r in multimodal_phash(docs).collect()}
    for doc_id, text in texts.items():
        b = text.encode("utf-8")
        n = len(b)
        sums = [
            sum(b[i * n // PHASH_BITS : (i + 1) * n // PHASH_BITS])
            for i in range(PHASH_BITS)
        ]
        total = sum(sums)
        expect = sum(1 << i for i, s in enumerate(sums) if s * PHASH_BITS > total)
        assert got[doc_id] == expect, doc_id


# --- vendored PNM encoders (pure bytes, no codec) ---------------------------

def _pgm_bytes(pixels, size):
    w, h = size
    assert len(pixels) == w * h
    return b"P5\n# test fixture\n%d %d\n255\n" % (w, h) + bytes(pixels)


def _ppm_bytes(pixels, size):
    w, h = size
    assert len(pixels) == w * h
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(
        c for rgb in pixels for c in rgb
    )


def test_pnm_decode_roundtrips_real_pixels():
    """The vendored binary-PGM/PPM decode path recovers the exact
    pixels the fixture encoder wrote — a REAL pixel decode in-container
    with no codec dependency."""
    from apd_map_reduce_spark.operators.multimodal import decode_image

    px = [(x * 7 + y * 31) % 256 for y in range(6) for x in range(9)]
    img = decode_image(_pgm_bytes(px, (9, 6)))
    assert (img.size, img.mode) == ((9, 6), "L")
    assert list(img.getdata()) == px

    rgb = [((x * 5) % 256, (y * 11) % 256, (x + y) % 256) for y in range(4) for x in range(5)]
    img2 = decode_image(_ppm_bytes(rgb, (5, 4)))
    assert (img2.size, img2.mode) == ((5, 4), "RGB")
    assert list(img2.getdata()) == rgb
    # PIL's exact integer ITU-R 601-2 luma on convert("L")
    luma = img2.convert("L")
    expect = [(r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16 for r, g, b in rgb]
    assert list(luma.getdata()) == expect


def test_pnm_downscale_matches_area_average_model():
    """The fallback resize is an exact area average: on a grid whose
    cells align with the 10x6 target, each output cell must equal its
    block's integer-rounded mean."""
    from apd_map_reduce_spark.operators.multimodal import decode_image

    w, h = 40, 24  # 4x4 source pixels per 10x6 target cell
    px = [(x // 4) * 20 + (y // 4) * 3 for y in range(h) for x in range(w)]
    img = decode_image(_pgm_bytes(px, (w, h)))
    small = img.resize((10, 6))
    assert small.size == (10, 6)
    got = list(small.getdata())
    expect = [tx * 20 + ty * 3 for ty in range(6) for tx in range(10)]
    assert got == expect


def test_real_pixel_path_in_container(spark):
    """image_metadata / image_phash_neardup over genuinely DECODED
    pixels, green without PIL: PNM payloads exercise the same
    mapInPandas plumbing, decode, grayscale conversion, 10x6
    downscale, banding, and exact-hamming verification as the
    codec-enabled path."""
    from apd_map_reduce_spark.operators.multimodal import (
        image_metadata,
        image_phash_neardup,
    )

    w, h = 40, 24
    base = [(x * 255) // (w - 1) for y in range(h) for x in range(w)]  # ramp
    near = list(base)
    near[0] = 255 - near[0]  # single-pixel change -> low hamming
    checker = [255 * ((x // 4 + y // 4) % 2) for y in range(h) for x in range(w)]
    rgb_ramp = [(v, v, v) for v in base]  # P6 twin of the ramp
    images = spark.createDataFrame(
        [
            (1, bytearray(_pgm_bytes(base, (w, h)))),
            (2, bytearray(_pgm_bytes(near, (w, h)))),
            (3, bytearray(_pgm_bytes(checker, (w, h)))),
            (4, bytearray(_ppm_bytes(rgb_ramp, (w, h)))),
        ],
        "doc_id LONG, payload BINARY",
    )
    meta = {r.doc_id: r for r in image_metadata(images).collect()}
    assert set(meta) == {1, 2, 3, 4}
    assert all((m.width, m.height) == (w, h) for m in meta.values())
    assert meta[1].mode == "L" and meta[4].mode == "RGB"
    assert meta[1].content_hash != meta[2].content_hash

    pairs = {(r.id_a, r.id_b): r.hamming for r in image_phash_neardup(images).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    # the gray-RGB twin decodes to the same luma plane -> hamming 0
    assert (1, 4) in pairs and pairs[(1, 4)] == 0
    assert all(3 not in k for k in pairs)
