"""Multimodal plumbing: binary columns, Arrow-batched decode/resize/frame
ops, and the media_ref citation-resolution join. Hermetic fake-codec
payloads cover the Spark plumbing; REAL pixel decode is exercised on
PNGs via the stdlib codec (functions/png.py) — only non-PNG real codecs
remain stubbed (operators/multimodal.py::_decode_real)."""

from __future__ import annotations

import pytest

from gpt4ocontentextraction_spark.fixtures import corpus_to_spark, make_corpus
from gpt4ocontentextraction_spark.operators import multimodal as mm
from gpt4ocontentextraction_spark.operators.extract import extract


@pytest.fixture(scope="module")
def extracted(spark):
    pdf, _ = make_corpus(seed=3, docs_per_class=3, include_giant=False)
    return extract(corpus_to_spark(spark, pdf))


@pytest.fixture(scope="module")
def media(spark, extracted):
    df = mm.synthesize_media_table(spark, extracted).cache()
    yield df
    # the session is shared across test modules: an un-released module
    # cache leaks into later modules' session-hygiene assertions
    df.unpersist(blocking=False)


def test_media_table_schema_and_blobs(media):
    rows = media.collect()
    assert rows, "extractor emitted no media refs"
    for r in rows:
        assert isinstance(r["data"], (bytes, bytearray))
        assert bytes(r["data"][:4]) == mm.MAGIC
        assert r["mime"] in ("image/fake", "video/fake")


def test_decode_features(media):
    feats = mm.decode_features(media).collect()
    by_ref = {r["media_ref"]: r for r in feats}
    for r in media.collect():
        f = by_ref[r["media_ref"]]
        assert f["width"] == r["width"] and f["height"] == r["height"]
        assert f["payload_len"] == len(r["data"]) - mm.HEADER_SIZE
        assert 0.0 <= f["mean_byte"] <= 255.0


def test_resize_changes_header_and_payload(media):
    out = {r["media_ref"]: r for r in mm.resize(media, 16, 16).collect()}
    for r in media.collect():
        o = out[r["media_ref"]]
        assert (o["width"], o["height"]) == (16, 16)
        magic, w, h = __import__('struct').unpack_from(mm.HEADER_FMT, bytes(o["data"]), 0)
        assert (magic, w, h) == (mm.MAGIC, 16, 16)
        assert len(o["data"]) - mm.HEADER_SIZE == max(1, 16 * 16 // 64)


def test_frame_sampling(media):
    vids = media.filter("media_kind = 'video'").collect()
    frames = mm.sample_frames(media, every_k=2).collect()
    if not vids:
        assert frames == []
        return
    per_ref = {}
    for f in frames:
        per_ref.setdefault(f["media_ref"], []).append(f["frame_no"])
    for v in vids:
        assert sorted(per_ref[v["media_ref"]]) == [0, 2]  # 4 frames, k=2


def test_citation_resolution_join(extracted, media):
    resolved = mm.resolve_citations(extracted, media)
    n_media_spans = (
        extracted.selectExpr(
            "size(filter(spans, s -> s.kind = 'media' and s.media_ref != ''))"
            " as n"
        ).groupBy().sum("n").collect()[0][0]
    )
    assert resolved.count() == n_media_spans
    assert set(resolved.columns) == {
        "media_ref", "doc_id", "caption", "media_kind", "width", "height"
    }


def test_real_decode_compressed_containers_still_stubbed():
    """Compressed audio/video containers genuinely need libav-class
    codecs the container lacks — those still raise; PNG/BMP/WAV decode
    for real (PNG/BMP here, WAV in test_wav)."""
    with pytest.raises(NotImplementedError):
        mm._decode_real(b"\x00\x00\x00\x18ftypmp42 not decodable")


def _gradient_png(w: int, h: int, ch: int = 3):
    import numpy as np

    from gpt4ocontentextraction_spark.functions.png import encode_png

    base = np.arange(h * w * ch, dtype=np.int64) % 251
    px = base.astype(np.uint8).reshape(h, w, ch)
    return px, encode_png(px)


def test_png_codec_filters_roundtrip():
    """Decoder handles all five scanline filters: hand-apply the filter
    math forward, assemble a PNG, decode, expect the original pixels."""
    import struct
    import zlib

    import numpy as np

    from gpt4ocontentextraction_spark.functions.png import (
        SIGNATURE,
        _chunk,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint8)
    h, w, ch = px.shape
    stride = w * ch
    flat = px.reshape(h, stride).astype(int)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raws = []
    for y, ft in enumerate([0, 1, 2, 3, 4, 1]):
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=int)
        cur = flat[y]
        line = [ft]
        for i in range(stride):
            left = cur[i - ch] if i >= ch else 0
            ul = prev[i - ch] if i >= ch else 0
            up = prev[i]
            pred = {0: 0, 1: left, 2: up, 3: (left + up) >> 1,
                    4: paeth(left, up, ul)}[ft]
            line.append((cur[i] - pred) & 0xFF)
        raws.append(bytes(line))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    blob = (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(raws)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(blob), px)
    # and the encoder round-trips (filter-0 path)
    assert np.array_equal(decode_png(encode_png(px)), px)


def test_png_real_decode_through_ingest_and_features(spark, tmp_path):
    """Real pixel decode end-to-end: PNG files on disk -> directory scan
    -> media table rows typed image/png -> decode_features statistics
    computed over the DECODED pixels (exact vs numpy)."""
    import os

    import numpy as np

    d = tmp_path / "png_media"
    os.makedirs(d)
    want = {}
    for i, (w, h, ch) in enumerate([(20, 12, 3), (9, 7, 1), (16, 5, 4)]):
        px, blob = _gradient_png(w, h, ch)
        (d / f"pic{i}.png").write_bytes(blob)
        want[f"pic{i}"] = (w, h, px)
    # a fake-codec neighbor in the same dir exercises the mixed dispatch
    (d / "fake0.fake").write_bytes(mm.encode_fake(7, 16, 8, 1))

    media = mm.ingest_media_dir(spark, str(d))
    rows = {r["media_ref"]: r for r in media.collect()}
    assert rows["fake0"]["mime"] == "image/fake"
    for ref, (w, h, px) in want.items():
        r = rows[ref]
        assert (r["media_kind"], r["mime"]) == ("image", "image/png")
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, 1)

    feats = {r["media_ref"]: r for r in mm.decode_features(media).collect()}
    for ref, (w, h, px) in want.items():
        f = feats[ref]
        assert f["payload_len"] == px.size
        assert f["mean_byte"] == pytest.approx(float(px.mean()))
        assert f["checksum"] == int(px.astype(np.int64).sum())


def test_png_resize_real_pixels(spark, tmp_path):
    """resize() on PNG rows decodes, nearest-neighbor-resamples the real
    pixels, and re-encodes a decodable PNG of the new dimensions."""
    import os

    import numpy as np

    from gpt4ocontentextraction_spark.functions.png import (
        decode_png,
        nearest_resize,
    )

    d = tmp_path / "png_resize"
    os.makedirs(d)
    px, blob = _gradient_png(24, 10, 3)
    (d / "a.png").write_bytes(blob)
    media = mm.ingest_media_dir(spark, str(d))
    out = mm.resize(media, 8, 6).collect()
    assert len(out) == 1
    got = decode_png(bytes(out[0]["data"]))
    assert got.shape == (6, 8, 3)
    assert np.array_equal(got, nearest_resize(px, 8, 6))


def test_ingest_media_dir_round_trip(spark, tmp_path):
    """S2/S3 directory scan feeds the media table: files written with the
    fake codec scan back with header metadata intact and identical
    decode_features to the in-memory path."""
    import os

    from gpt4ocontentextraction_spark.operators.multimodal import (
        decode_features,
        encode_fake,
        ingest_media_dir,
    )

    d = tmp_path / "media"
    os.makedirs(d)
    want = {}
    for i, (w, h, frames) in enumerate([(16, 8, 1), (32, 16, 4), (8, 8, 2)]):
        blob = encode_fake(100 + i, w, h, frames)
        (d / f"m{i}.fake").write_bytes(blob)
        want[f"m{i}"] = (w, h, frames, len(blob))

    media = ingest_media_dir(spark, str(d))
    rows = {r["media_ref"]: r for r in media.collect()}
    assert set(rows) == set(want)
    for ref, (w, h, frames, blen) in want.items():
        r = rows[ref]
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, frames)
        assert len(r["data"]) == blen
        assert r["media_kind"] == ("video" if frames > 1 else "image")

    feats = {r["media_ref"]: r for r in decode_features(media).collect()}
    for ref, (w, h, frames, blen) in want.items():
        f = feats[ref]
        assert f["payload_len"] == blen - 12  # header is 4s+i+i
        assert f["n_frames"] == frames


def test_bmp_codec_roundtrip_and_header_variants():
    import struct

    import numpy as np

    from gpt4ocontentextraction_spark.functions.bmp import (
        decode_bmp,
        encode_bmp,
        is_bmp,
    )

    rng = np.random.RandomState(11)
    # widths 1-5 exercise every 4-byte row-padding remainder
    for w in range(1, 6):
        px = rng.randint(0, 256, (3, w, 3), dtype=np.uint8)
        blob = encode_bmp(px)
        assert is_bmp(blob)
        assert np.array_equal(decode_bmp(blob), px)
    # top-down files (negative height) decode to the same pixels
    px = rng.randint(0, 256, (4, 3, 3), dtype=np.uint8)
    blob = bytearray(encode_bmp(px[::-1]))
    struct.pack_into("<i", blob, 22, -4)
    # encode stores bottom-up; re-marking the header top-down makes the
    # decoder read file order directly, i.e. the vertical flip
    assert np.array_equal(decode_bmp(bytes(blob)), px)
    # unsupported features raise with the feature named
    rle = bytearray(encode_bmp(px))
    struct.pack_into("<I", rle, 30, 1)  # BI_RLE8
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_bmp(bytes(rle))


def test_bmp_real_decode_through_ingest_resize_features(spark, tmp_path):
    """BMP joins PNG as a REAL codec end-to-end: directory scan types
    the rows image/bmp, features run over decoded pixels, and resize
    re-encodes a decodable BMP of the new dimensions (source container
    preserved)."""
    import os

    import numpy as np

    from gpt4ocontentextraction_spark.functions.bmp import (
        decode_bmp,
        encode_bmp,
    )
    from gpt4ocontentextraction_spark.functions.png import nearest_resize

    d = tmp_path / "bmp_media"
    os.makedirs(d)
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, (10, 24, 3), dtype=np.uint8)
    (d / "pic.bmp").write_bytes(encode_bmp(px))

    media = mm.ingest_media_dir(spark, str(d))
    r = media.collect()[0]
    assert (r["media_kind"], r["mime"]) == ("image", "image/bmp")
    assert (r["width"], r["height"], r["n_frames"]) == (24, 10, 1)

    f = mm.decode_features(media).collect()[0]
    assert f["payload_len"] == px.size
    assert f["checksum"] == int(px.astype(np.int64).sum())

    out = mm.resize(media, 8, 6).collect()[0]
    got = decode_bmp(bytes(out["data"]))
    assert np.array_equal(got, nearest_resize(px, 8, 6))
