"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference rasterizes pages to PNG and base64-ships them to a vision
model (docker/main.py:209-231). At 100 TB, media lives as opaque ``binary``
columns with typed metadata beside the text spans; decode/feature/resize/
frame-sample run as Arrow-batched pandas functions over ``mapInPandas``.

The container has no image/audio libraries, so synthetic payloads use a
deterministic FAKE codec (documented below) for hermetic tests — but PNG
(the reference's page-render format) decodes for REAL via the stdlib
codec in functions/png.py (zlib inflate + scanline unfilter; no PIL):
ingest/decode_features/resize operate on actual pixels for PNG blobs —
as do BMP (functions/bmp.py); WAV (functions/wav.py) decodes as audio.
Every other container raises NotImplementedError in _decode_real. Everything Spark-side is real and tested: the binary
column plumbing, schemas, batch shapes, UDF signatures, and the
media_ref join from extracted `media` spans to this table (Q4 citation
resolution, docker/main.py:825-847).

FAKE codec (media payloads are synthesized from media_ref, so tests are
hermetic): ``b"FAKE" + width:int32le + height:int32le + payload`` where
payload bytes are a seeded LCG stream of width*height//64 bytes. "Video"
payloads are N fixed-size frames back to back.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = b"FAKE"
HEADER_FMT = "<4sii"
HEADER_SIZE = struct.calcsize(HEADER_FMT)

MEDIA_SCHEMA_DDL = (
    "media_ref string, media_kind string, mime string, width int, height int,"
    " n_frames int, data binary"
)
FEATURES_DDL = (
    "media_ref string, width int, height int, n_frames int,"
    " payload_len long, mean_byte double, checksum long"
)


def _is_fake_blob(blob: bytes) -> bool:
    """True when blob carries the synthetic FAKE-codec framing; anything
    else routes to _decode_real. The ONE dispatch predicate for
    ingest/decode_features/resize — change the framing here only."""
    return (
        len(blob) >= HEADER_SIZE
        and struct.unpack_from(HEADER_FMT, blob, 0)[0] == MAGIC
    )


def _lcg_bytes(seed: int, n: int) -> np.ndarray:
    # deterministic byte stream. The LCG recurrence is sequential, so this
    # is a per-byte Python loop — fixture synthesis only, never a data
    # path (payloads are tens of bytes).
    out = np.empty(n, dtype=np.uint8)
    x = np.uint64(seed % (1 << 31) or 1)
    a, c, m = np.uint64(1103515245), np.uint64(12345), np.uint64(1 << 31)
    for i in range(n):
        x = (a * x + c) % m
        out[i] = np.uint8((x >> np.uint64(16)) & np.uint64(0xFF))
    return out


def encode_fake(seed: int, width: int, height: int, n_frames: int = 1) -> bytes:
    payload = _lcg_bytes(seed, max(1, (width * height) // 64) * n_frames)
    return struct.pack(HEADER_FMT, MAGIC, width, height) + payload.tobytes()


def synthesize_media_table(spark, extracted: DataFrame) -> DataFrame:
    """Build the media table from the media_refs the extractor emitted —
    one binary blob per referenced chart/figure (hermetic stand-in for the
    object store the refs would point at)."""
    refs = (
        extracted.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .filter(F.col("s.media_ref") != "")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            seeds = pdf["media_ref"].map(
                lambda r: sum(ord(c) * (31 ** (i % 5)) for i, c in enumerate(r))
            )
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_kind": np.where(
                        seeds % 3 == 0, "video", "image"
                    ),
                    "mime": np.where(
                        seeds % 3 == 0, "video/fake", "image/fake"
                    ),
                    "width": (seeds % 64 + 8).astype("int32"),
                    "height": (seeds % 48 + 8).astype("int32"),
                    "n_frames": np.where(seeds % 3 == 0, 4, 1).astype("int32"),
                    "data": [
                        encode_fake(int(s), int(s % 64 + 8), int(s % 48 + 8),
                                    4 if s % 3 == 0 else 1)
                        for s in seeds
                    ],
                }
            )

    return refs.mapInPandas(gen, MEDIA_SCHEMA_DDL)


def ingest_media_dir(spark, path: str, recursive: bool = True) -> DataFrame:
    """S2/S3 -> media-table bridge: scan a directory of media blobs
    (sources/tables.py::scan_binary_dir) into the MEDIA_SCHEMA shape.
    Width/height come from each blob's header, frame count from the
    payload length; media_ref is the file stem. Real-codec blobs route
    to the _decode_real stub like everywhere else."""
    import os

    from ..sources.tables import scan_binary_dir

    raw = scan_binary_dir(spark, path, recursive=recursive)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, blob in zip(pdf["path"], pdf["content"]):
                blob = bytes(blob)
                ref = os.path.splitext(os.path.basename(p))[0]
                # non-FAKE blobs route to the real decoder and its
                # result is ROWED (PNG decodes for real; other codecs
                # raise NotImplementedError inside _decode_real)
                if not _is_fake_blob(blob):
                    dec = _decode_real(blob)
                    rows.append(
                        (ref, dec["kind"], dec["mime"], dec["width"],
                         dec["height"], dec["n_frames"], blob)
                    )
                    continue
                _magic, w, h = struct.unpack_from(HEADER_FMT, blob, 0)
                frame_len = max(1, (w * h) // 64)
                frames = max(1, (len(blob) - HEADER_SIZE) // frame_len)
                kind = "video" if frames > 1 else "image"
                rows.append(
                    (ref, kind, f"{kind}/fake", w, h, frames, blob)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "media_kind", "mime", "width", "height",
                    "n_frames", "data",
                ],
            ).astype(
                {"width": "int32", "height": "int32", "n_frames": "int32"}
            )

    return raw.mapInPandas(run, MEDIA_SCHEMA_DDL)


def decode_features(media: DataFrame) -> DataFrame:
    """Payload statistics, Arrow-batched (mapInPandas). FAKE-codec blobs
    parse the synthetic header+payload; PNG blobs go through the REAL
    stdlib decoder and their statistics are over actual decoded pixels
    (so payload_len is the pixel count, not the compressed byte count)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob, frames in zip(
                pdf["media_ref"], pdf["data"], pdf["n_frames"]
            ):
                blob = bytes(blob)
                if not _is_fake_blob(blob):
                    dec = _decode_real(blob)
                    px = dec["pixels"]
                    rows.append(
                        (
                            ref,
                            dec["width"],
                            dec["height"],
                            int(dec["n_frames"]),
                            int(px.size),
                            float(px.mean()),
                            int(px.astype(np.int64).sum()),
                        )
                    )
                    continue
                _magic, w, h = struct.unpack_from(HEADER_FMT, blob, 0)
                payload = np.frombuffer(blob, dtype=np.uint8, offset=HEADER_SIZE)
                rows.append(
                    (
                        ref,
                        w,
                        h,
                        int(frames),
                        len(payload),
                        float(payload.mean()),
                        int(payload.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "width",
                    "height",
                    "n_frames",
                    "payload_len",
                    "mean_byte",
                    "checksum",
                ],
            ).astype({"width": "int32", "height": "int32", "n_frames": "int32"})

    return media.select(
        "media_ref", "data", "n_frames"
    ).mapInPandas(run, FEATURES_DDL)


def resize(media: DataFrame, new_width: int, new_height: int) -> DataFrame:
    """Resize. PNG blobs get a REAL nearest-neighbor pixel resize
    (decode -> index-map -> re-encode, all stdlib+numpy); fake-codec
    blobs subsample their synthetic payload to the new dimensions.
    Audio rows are excluded up front (resize is pixel semantics —
    `audio_resample` is the audio analog)."""
    if "media_kind" in media.columns:
        media = media.filter(F.col("media_kind") != "audio")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.bmp import encode_bmp, is_bmp
        from ..functions.png import encode_png, nearest_resize

        for pdf in batches:
            out = []
            for blob in pdf["data"]:
                blob = bytes(blob)
                if not _is_fake_blob(blob):
                    dec = _decode_real(blob)
                    # keep the source container: BMP stays BMP, else PNG
                    px = nearest_resize(dec["pixels"], new_width, new_height)
                    if is_bmp(blob):
                        out.append(encode_bmp(px))
                    else:
                        out.append(encode_png(px))
                    continue
                payload = np.frombuffer(blob, dtype=np.uint8, offset=HEADER_SIZE)
                n_new = max(1, (new_width * new_height) // 64)
                idx = np.linspace(0, len(payload) - 1, n_new).astype(np.int64)
                out.append(
                    struct.pack(HEADER_FMT, MAGIC, new_width, new_height)
                    + payload[idx].tobytes()
                )
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "width": np.int32(new_width),
                    "height": np.int32(new_height),
                    "data": out,
                }
            )

    return media.select("media_ref", "data").mapInPandas(
        run, "media_ref string, width int, height int, data binary"
    )


def sample_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Explode video payloads into every-k-th frame rows. A real-codec
    blob decodes for real and each sampled frame is re-emitted as a
    standalone PNG (the reference's per-page image shape,
    docker/main.py:209-227); fake-codec payloads keep the synthetic
    fixed-size-frame slicing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.png import encode_png

        for pdf in batches:
            refs, fnos, frames = [], [], []
            for ref, blob, n in zip(
                pdf["media_ref"], pdf["data"], pdf["n_frames"]
            ):
                blob = bytes(blob)
                if not _is_fake_blob(blob):
                    dec = _decode_real(blob)
                    real = [dec["pixels"]]
                    for f in range(0, len(real), every_k):
                        refs.append(ref)
                        fnos.append(f)
                        frames.append(encode_png(real[f]))
                    continue
                payload = np.frombuffer(blob, dtype=np.uint8, offset=HEADER_SIZE)
                per = max(1, len(payload) // max(int(n), 1))
                for f in range(0, int(n), every_k):
                    refs.append(ref)
                    fnos.append(f)
                    frames.append(payload[f * per:(f + 1) * per].tobytes())
            yield pd.DataFrame(
                {"media_ref": refs, "frame_no": np.array(fnos, dtype="int32"),
                 "frame": frames}
            )

    return (
        media.filter(F.col("media_kind") == "video")
        .select("media_ref", "data", "n_frames")
        .mapInPandas(run, "media_ref string, frame_no int, frame binary")
    )


AUDIO_FEATURES_DDL = (
    "media_ref string, rate int, channels int, n_samples int, "
    "duration_s double, rms double, peak double, zero_cross_rate double"
)


def audio_features(media: DataFrame) -> DataFrame:
    """Signal statistics over REAL decoded audio samples (functions/
    wav.py — stdlib RIFF/PCM codec): duration, RMS energy, peak
    amplitude, zero-crossing rate. The audio analog of decode_features:
    Arrow-batched mapInPandas, numpy-vectorized per clip, no per-sample
    Python. Reference analog: media attachments as opaque blobs
    (docker/main.py:209-227) — here the audio ones decode for real."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.wav import decode_wav

        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["data"]):
                dec = decode_wav(bytes(blob))
                s = dec["samples"].astype(np.float64)
                mono = s.mean(axis=1)
                zc = (
                    float(
                        np.mean(
                            np.signbit(mono[1:]) != np.signbit(mono[:-1])
                        )
                    )
                    if len(mono) > 1
                    else 0.0
                )
                rows.append(
                    (
                        ref,
                        dec["rate"],
                        dec["channels"],
                        int(s.shape[0]),
                        s.shape[0] / dec["rate"],
                        float(np.sqrt(np.mean(s * s))),
                        float(np.max(np.abs(s), initial=0.0)),
                        zc,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "rate", "channels", "n_samples",
                    "duration_s", "rms", "peak", "zero_cross_rate",
                ],
            ).astype(
                {"rate": "int32", "channels": "int32", "n_samples": "int32"}
            )

    return (
        media.filter(F.col("media_kind") == "audio")
        .select("media_ref", "data")
        .mapInPandas(run, AUDIO_FEATURES_DDL)
    )


def audio_resample(media: DataFrame, dst_rate: int) -> DataFrame:
    """Nearest-neighbor resample of every audio clip to dst_rate and
    re-encode as canonical 16-bit PCM WAV — the audio analog of the
    image nearest resize (decode -> index-map -> re-encode)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.wav import decode_wav, encode_wav, resample_nearest

        for pdf in batches:
            out = []
            for blob in pdf["data"]:
                dec = decode_wav(bytes(blob))
                out.append(
                    encode_wav(
                        resample_nearest(
                            dec["samples"], dec["rate"], dst_rate
                        ),
                        dst_rate,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "rate": np.int32(dst_rate),
                    "data": out,
                }
            )

    return (
        media.filter(F.col("media_kind") == "audio")
        .select("media_ref", "data")
        .mapInPandas(run, "media_ref string, rate int, data binary")
    )


def audio_clips(media: DataFrame, clip_s: float = 0.1) -> DataFrame:
    """Explode audio into fixed-duration clips, each re-emitted as a
    standalone WAV — the audio analog of sample_frames (video ->
    per-frame PNGs). The tail clip keeps its partial length, so
    concatenating the clips reconstructs the signal exactly."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.wav import decode_wav, encode_wav

        for pdf in batches:
            refs, nos, clips = [], [], []
            for ref, blob in zip(pdf["media_ref"], pdf["data"]):
                dec = decode_wav(bytes(blob))
                s, rate = dec["samples"], dec["rate"]
                step = max(1, int(round(rate * clip_s)))
                for i, start in enumerate(range(0, s.shape[0], step)):
                    refs.append(ref)
                    nos.append(i)
                    clips.append(encode_wav(s[start:start + step], rate))
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "clip_no": np.array(nos, dtype="int32"),
                    "clip": clips,
                }
            )

    return (
        media.filter(F.col("media_kind") == "audio")
        .select("media_ref", "data")
        .mapInPandas(run, "media_ref string, clip_no int, clip binary")
    )


def _decode_real(blob: bytes) -> dict:
    """Real-codec decode. PNG — the reference's central intermediate
    (docker/main.py:209-227 rasterizes pages to PNG) — is decoded to
    actual pixels with the stdlib codec (functions/png.py: zlib inflate
    + Sub/Up/Average/Paeth unfilter; no PIL needed). Returns
    {kind, mime, width, height, n_frames, pixels} where pixels is a
    (H, W, C) uint8 array.

    BMP (functions/bmp.py) decodes to pixels the same way. WAV
    (functions/wav.py, stdlib RIFF/PCM) is the real AUDIO codec: kind
    "audio", samples decoded for real, MEDIA_SCHEMA's width/height
    slots carrying channels/sample-rate. Every other container
    (JPEG/GIF/MP3/MP4/AVI...) raises NotImplementedError — callers must
    ROUTE the returned dict when decode succeeds, not assume this
    raises."""
    from ..functions.bmp import decode_bmp, is_bmp
    from ..functions.png import decode_png, is_png
    from ..functions.wav import decode_wav, is_wav

    if is_wav(blob):
        dec = decode_wav(blob)
        s = dec["samples"]
        # byte-stat view for the uniform feature path: the canonical
        # 16-bit quantization of the samples, as uint8 (deterministic)
        q = np.clip(
            np.floor(s.astype(np.float64) * 32768.0 + 0.5), -32768, 32767
        ).astype("<i2")
        return {
            "kind": "audio",
            "mime": "audio/wav",
            # MEDIA_SCHEMA's typed-metadata slots, repurposed for audio:
            # width carries the channel count, height the sample rate
            "width": dec["channels"],
            "height": dec["rate"],
            "n_frames": int(s.shape[0]),
            "pixels": q.reshape(-1).view(np.uint8),
            "samples": s,
            "rate": dec["rate"],
        }
    if is_png(blob):
        px = decode_png(blob)
        h, w, _c = px.shape
        return {
            "kind": "image",
            "mime": "image/png",
            "width": int(w),
            "height": int(h),
            "n_frames": 1,
            "pixels": px,
        }
    if is_bmp(blob):
        px = decode_bmp(blob)
        h, w, _c = px.shape
        return {
            "kind": "image",
            "mime": "image/bmp",
            "width": int(w),
            "height": int(h),
            "n_frames": 1,
            "pixels": px,
        }
    raise NotImplementedError(
        "only PNG, BMP and WAV real-codec decode is implemented "
        "(stdlib); other containers need codecs not present here"
    )


def resolve_citations(extracted: DataFrame, media: DataFrame) -> DataFrame:
    """Q4: join extracted media spans to the media table on media_ref
    (docker/main.py:825-847 citation -> artifact resolution)."""
    spans = (
        extracted.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .filter(F.col("s.media_ref") != "")
        .select(
            "doc_id",
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.text").alias("caption"),
        )
    )
    return spans.join(
        F.broadcast(media.select("media_ref", "media_kind", "width", "height")),
        "media_ref",
    )


def image_phash(media: DataFrame) -> DataFrame:
    """Perceptual fingerprint (64-bit dHash) per media row, Arrow-
    batched. PNG/BMP blobs hash REAL decoded pixels (functions/phash.py
    over the stdlib codecs); FAKE-codec blobs hash their deterministic
    synthetic payload tiled to one gray frame — same routing contract
    as decode_features. Output (media_ref, phash long).

    Scale shape: a pure mapInPandas projection — no shuffle; the hash
    is 8 bytes per image however large the blob, so everything
    downstream (the banded join) moves fingerprints, not pixels."""
    from ..functions.phash import dhash64

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["data"]):
                blob = bytes(blob)
                if not _is_fake_blob(blob):
                    px = _decode_real(blob)["pixels"]
                else:
                    _magic, w, h = struct.unpack_from(HEADER_FMT, blob, 0)
                    payload = np.frombuffer(
                        blob, dtype=np.uint8, offset=HEADER_SIZE
                    )
                    px = np.resize(payload, (max(h, 1), max(w, 1)))
                rows.append((ref, dhash64(px)))
            yield pd.DataFrame(rows, columns=["media_ref", "phash"])

    return media.select("media_ref", "data").mapInPandas(
        run, "media_ref string, phash long"
    )


def image_neardup(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs: dHash + the simhash64-style 4x16-bit
    banded equality join + exact bit_count(xor) verify. Pigeonhole: any
    pair within Hamming distance 3 differs in <= 3 of the 4 bands, so
    it collides on at least one band — recall 1 at the default
    threshold, no all-pairs comparison.

    Scale shape: the band explode is x4; the equality join shuffles
    (band, 8-byte hash, ref) only; verification is one JVM bit_count
    per candidate. Identical plan family to simhash64_pairs_banded
    (dedup.py), which gates the banded-join shape against a full
    oracle — this operator's codec leg is pytest-pinned instead
    (DuckDB cannot decode PNG)."""
    ph = image_phash(media)
    bands = ph.select(
        "media_ref",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.expr(f"(phash >> {16 * b}) & 65535").alias("v"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bv"),
    ).select("media_ref", "phash", "bv.b", "bv.v")
    a = bands.select(
        F.col("media_ref").alias("ref_a"),
        F.col("phash").alias("ph_a"),
        "b",
        "v",
    )
    b = bands.select(
        F.col("media_ref").alias("ref_b"),
        F.col("phash").alias("ph_b"),
        "b",
        "v",
    )
    cand = (
        a.join(b, ["b", "v"])
        .where(F.col("ref_a") < F.col("ref_b"))
        .select("ref_a", "ref_b", "ph_a", "ph_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(ph_a ^ ph_b)"))
        .where(F.col("hamming") <= max_hamming)
        .select("ref_a", "ref_b", "hamming")
    )
