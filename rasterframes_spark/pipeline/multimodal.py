"""Multimodal (image/audio/video) column handling for training-data
pipelines.

Media are opaque ``binary`` columns + a typed metadata struct — the same
"one row = one chunk, payload stays opaque until a kernel touches it"
posture as tiles. Decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` so payload bytes cross to Python once per
batch and partitions stream (no per-row py4j, no collect).

Codec status: the pure-python codecs in this repo make the common
formats REAL end-to-end — PNG (incl. Adam7), baseline+progressive JPEG,
lossless WebP, BMP/PPM/TIFF images (``decode_image``), animated GIF
(``sample_video_frames``), MP4/ISO-BMFF and WebM/Matroska container
demux (``video_metadata`` / ``demux_video_samples`` — compressed frame
payloads stay opaque for the GPU decode stage), WAV/FLAC/AIFF/AU audio
(``pipeline/audio.py``), PDF text (``extract_pdf_text``) and HTML text
(``extract_html_text``). Only pixel/sample decode of DCT-class codecs
(lossy WebP/AVIF, H.264/VP9/AV1, mp3/ogg audio decode) remains stubbed:
``decode='fake'`` produces a deterministic bytes-derived decode (so the
full Spark plumbing — schema, partitioning, UDF signature, batch shape —
is real and tested), and ``decode='real'`` raises NotImplementedError
where the codec call belongs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType, ArrayType,
    FloatType, LongType,
)

__all__ = [
    "MEDIA_SCHEMA", "media_table", "decode_image", "image_features",
    "image_metadata", "resize_image", "sample_video_frames",
    "video_metadata", "demux_video_samples",
    "phash_bits", "image_phash", "image_neardup_pairs",
    "extract_pdf_text", "pdf_metadata", "extract_html_text",
    "exif_metadata", "extract_document_text",
]

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),          # image | audio | video
    StructField("mime", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
    StructField("payload", BinaryType(), True),
])


def media_table(spark, df: DataFrame, payload_col: str, kind: str = "image",
                mime: str = "application/octet-stream") -> DataFrame:
    """Wrap an arbitrary binary column into the canonical media schema.

    ``media_id`` is monotonically_increasing_id — unique within one
    materialization, but NOT stable across re-computations of a lazy
    plan (Spark contract). Persist (or write out) the returned frame
    before joining it against derived results by media_id."""
    return df.select(
        F.monotonically_increasing_id().alias("media_id"),
        F.lit(kind).alias("kind"),
        F.lit(mime).alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
        F.col(payload_col).alias("payload"),
    )


def _fake_decode(payload: bytes, h: int, w: int) -> np.ndarray:
    """Deterministic stand-in for a real image decode: derive an h×w×3
    uint8 array from the payload digest (stable across processes)."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "little")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


_DECODED_SCHEMA = (
    "media_id long, height int, width int, channels int, pixels binary"
)


def decode_image(df: DataFrame, height: int = 32, width: int = 32,
                 decode: str = "fake") -> DataFrame:
    """payload binary -> decoded pixel buffer rows via mapInPandas.

    Real codec paths (pure-python, this repo): ``decode='png'``
    (``sources/png.py``: zlib inflate + scanline unfilter),
    ``decode='jpeg'`` (``sources/jpeg.py``: baseline JFIF — Huffman +
    batched-numpy IDCT, 4:4:4/4:2:2/4:2:0, restart markers),
    ``decode='webp'`` (``sources/webp.py``: lossless VP8L — prefix codes,
    LZ77, color cache, all four transforms), ``decode='bmp'`` /
    ``decode='ppm'`` (``sources/simple_images.py``: uncompressed BMP,
    binary netpbm), and ``decode='auto'`` (magic-byte sniff per row
    across all of them). Output dims
    come from the image, not the height/width args; rows whose payload
    fails to decode are dropped (corrupt-input tolerance, the behavior a
    web-scale ingest wants). ``decode='real'`` marks where an AVIF/lossy-
    WebP codec library would slot in; ``decode='fake'`` derives
    deterministic pixels from the payload digest (plumbing tests).
    """
    if decode == "real":
        raise NotImplementedError(
            "AVIF/lossy-WebP codecs not available in this environment; use "
            "decode='png'/'jpeg'/'webp'/'auto' or decode='fake'"
        )

    def run(batches):
        from rasterframes_spark.sources.jpeg import decode_jpeg
        from rasterframes_spark.sources.png import decode_png
        from rasterframes_spark.sources.simple_images import (
            decode_bmp, decode_ppm)
        from rasterframes_spark.sources.webp import decode_webp

        def decode_tiff_image(b: bytes):
            # whole-image multi-band read through the GeoTIFF codec
            # (plain TIFFs are GeoTIFFs without geo tags)
            from rasterframes_spark.sources import geotiff as GT

            info = GT.read_info(b)
            bands = [GT.read_window(b, info, 0, 0, info.width, info.height,
                                    bi) for bi in range(min(info.bands, 4))]
            a = np.stack(bands, axis=-1)
            return a[:, :, 0] if a.shape[2] == 1 else a

        named = {"png": decode_png, "jpeg": decode_jpeg,
                 "webp": decode_webp, "bmp": decode_bmp, "ppm": decode_ppm,
                 "tiff": decode_tiff_image}

        def sniff(b: bytes):
            if b[:8] == b"\x89PNG\r\n\x1a\n":
                return decode_png
            if b[:2] == b"\xff\xd8":
                return decode_jpeg
            if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
                return decode_webp
            if b[:2] == b"BM":
                return decode_bmp
            if b[:2] in (b"P5", b"P6"):
                return decode_ppm
            if b[:4] in (b"II*\x00", b"MM\x00*", b"II+\x00", b"MM\x00+"):
                return decode_tiff_image
            return None

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                if decode in ("png", "jpeg", "webp", "bmp", "ppm", "tiff",
                              "auto"):
                    b = bytes(payload)
                    codec = named.get(decode) or sniff(b)
                    if codec is None:
                        continue  # unknown format: drop the row
                    try:
                        arr = codec(b)
                    except Exception:
                        continue  # corrupt/unsupported payload: drop the row
                    if arr.ndim == 2:
                        arr = arr[:, :, None]
                    rows.append((int(mid), int(arr.shape[0]), int(arr.shape[1]),
                                 int(arr.shape[2]), arr.tobytes()))
                else:
                    arr = _fake_decode(bytes(payload), height, width)
                    rows.append((int(mid), height, width, 3, arr.tobytes()))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["media_id", "height", "width", "channels", "pixels"]
                )

    return df.select("media_id", "payload").mapInPandas(run, schema=_DECODED_SCHEMA)


def image_metadata(df: DataFrame) -> DataFrame:
    """payload binary -> (media_id, format, width, height, channels) from
    HEADER BYTES ONLY — no pixel decode (``sources/image_meta.py``).

    Covers PNG/JPEG/GIF/WebP (lossless + lossy + VP8X)/AVIF/HEIC/TIFF/BMP;
    this is the profile pass a billion-image corpus runs before spending
    any decode budget (drop tiny thumbnails, bucket by aspect ratio, route
    formats to decoders). AVIF/HEIC report ``channels`` as null (stored
    too deep for a header read). Unrecognized/corrupt payloads are
    dropped."""

    def run(batches):
        from rasterframes_spark.sources.image_meta import read_image_info

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    fmt, w, h, ch = read_image_info(bytes(payload))
                except ValueError:
                    continue
                rows.append((int(mid), fmt, w, h, ch,
                             len(bytes(payload))))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "media_id", "format", "width", "height", "channels",
                    "payload_bytes"])

    return df.select("media_id", "payload").mapInPandas(
        run, schema=("media_id long, format string, width int, height int, "
                     "channels int, payload_bytes long"))


def image_features(df: DataFrame, dim: int = 16, decode: str = "fake") -> DataFrame:
    """Decoded pixels -> fixed-size feature vector (channel-pooled grid
    means — the plumbing a CNN/CLIP encoder slots into)."""
    if decode == "real":
        raise NotImplementedError("feature encoder not available; use decode='fake'")

    side = int(np.sqrt(dim))

    def run(batches):
        for pdf in batches:
            ids, feats = [], []
            for mid, h, w, c, buf in zip(pdf["media_id"], pdf["height"],
                                         pdf["width"], pdf["channels"], pdf["pixels"]):
                arr = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(int(h), int(w), int(c))
                g = arr.mean(axis=2)
                # pool into side x side grid means
                hs = np.array_split(np.arange(int(h)), side)
                ws = np.array_split(np.arange(int(w)), side)
                f = np.array([[g[np.ix_(r, cl)].mean() for cl in ws] for r in hs],
                             dtype="float32").ravel()
                ids.append(int(mid))
                feats.append(f / 255.0)
            if ids:
                yield pd.DataFrame({"media_id": ids, "features": feats})

    return df.mapInPandas(run, schema="media_id long, features array<float>")


def resize_image(df: DataFrame, out_h: int, out_w: int,
                 method: str = "bilinear") -> DataFrame:
    """Resize decoded pixel buffers. ``method``: 'bilinear' (default —
    center-aligned separable interpolation, the standard training-data
    resize) or 'nearest' (exact index gather)."""
    if method not in ("bilinear", "nearest"):
        raise ValueError(f"resize_image: unknown method {method!r}")

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, h, w, c, buf in zip(pdf["media_id"], pdf["height"],
                                         pdf["width"], pdf["channels"], pdf["pixels"]):
                h, w, c = int(h), int(w), int(c)
                arr = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(h, w, c)
                if method == "nearest":
                    ri = np.minimum((np.arange(out_h) * h / out_h).astype(int), h - 1)
                    ci = np.minimum((np.arange(out_w) * w / out_w).astype(int), w - 1)
                    out = arr[np.ix_(ri, ci)]
                else:
                    y = (np.arange(out_h) + 0.5) * h / out_h - 0.5
                    x = (np.arange(out_w) + 0.5) * w / out_w - 0.5
                    y0 = np.clip(np.floor(y).astype(int), 0, h - 1)
                    x0 = np.clip(np.floor(x).astype(int), 0, w - 1)
                    y1 = np.clip(y0 + 1, 0, h - 1)
                    x1 = np.clip(x0 + 1, 0, w - 1)
                    wy = np.clip(y - y0, 0, 1)[:, None, None]
                    wx = np.clip(x - x0, 0, 1)[None, :, None]
                    f = arr.astype("float64")
                    res = (f[np.ix_(y0, x0)] * (1 - wx) * (1 - wy)
                           + f[np.ix_(y0, x1)] * wx * (1 - wy)
                           + f[np.ix_(y1, x0)] * (1 - wx) * wy
                           + f[np.ix_(y1, x1)] * wx * wy)
                    out = np.clip(np.round(res), 0, 255).astype("uint8")
                rows.append((int(mid), out_h, out_w, c, out.tobytes()))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["media_id", "height", "width", "channels", "pixels"]
                )

    return df.mapInPandas(run, schema=_DECODED_SCHEMA)


def sample_video_frames(df: DataFrame, every_ms: int = 1000,
                        decode: str = "fake") -> DataFrame:
    """video payload -> one row per sampled frame (frame_idx, ts_ms,
    height, width, channels, pixels).

    ``decode='gif'`` runs the repo's pure-python animated-GIF codec
    (``sources/gif.py``: LZW + full composition — transparency, disposal,
    interlace) — sampling picks the frame visible at each ``every_ms``
    timestamp from the per-frame delays; corrupt payloads are dropped.
    ``decode='real'`` marks where an mp4/webm pixel codec (ffmpeg) would
    slot in — for MP4 containers the demux layer IS real: use
    ``demux_video_samples``/``video_metadata`` to extract keyframe-aligned
    compressed samples without pixel decode. ``decode='fake'`` synthesizes
    frames from the payload digest (plumbing tests)."""
    if decode == "real":
        raise NotImplementedError(
            "mp4/webm pixel codecs (H.264/VP9/AV1) not available in this "
            "environment; use demux_video_samples() for real MP4 container "
            "demux, decode='gif' for GIF payloads, or decode='fake'")

    def run(batches):
        from rasterframes_spark.sources.gif import decode_gif

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                payload = bytes(payload)
                if decode == "gif":
                    try:
                        frames = decode_gif(payload)
                    except ValueError:
                        continue  # corrupt payload: drop the row
                    # timeline: frame i is visible in [start_i, start_i+delay)
                    starts = np.cumsum([0] + [max(d, 10) for d, _ in frames])
                    duration = int(starts[-1])
                    for i, ts in enumerate(range(0, duration, every_ms)):
                        fidx = int(np.searchsorted(starts, ts, side="right") - 1)
                        arr = frames[fidx][1]
                        rows.append((int(mid), i, ts, arr.shape[0],
                                     arr.shape[1], 3, arr.tobytes()))
                else:
                    duration = max(1000, (len(payload) % 10) * 1000)
                    for i, ts in enumerate(range(0, duration, every_ms)):
                        arr = _fake_decode(payload + ts.to_bytes(4, "little"), 16, 16)
                        rows.append((int(mid), i, ts, 16, 16, 3, arr.tobytes()))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "media_id", "frame_idx", "ts_ms", "height", "width",
                    "channels", "pixels"])

    return df.select("media_id", "payload").mapInPandas(
        run, schema=("media_id long, frame_idx int, ts_ms int, height int, "
                     "width int, channels int, pixels binary")
    )


# ---------------------------------------------------------------------------
# MP4 container demux (real: sources/mp4.py) — codec payloads stay opaque
# ---------------------------------------------------------------------------


def video_metadata(df: DataFrame) -> DataFrame:
    """MP4 or WebM/Matroska payload -> one row per video track: duration,
    timescale, sample and keyframe counts, codec id (sample-entry fourcc
    for MP4, ``V_VP9``-style CodecID for WebM). Pure container parse
    (``moov``/EBML headers are a few KB regardless of clip size) — the
    cheap first pass a video-corpus profile runs before committing GPU
    decode budget. Corrupt or unrecognized payloads are dropped.
    Timescale reports in ticks/second for both containers (WebM's
    TimestampScale is ns/tick; 1e9/scale normalizes it)."""

    def run(batches):
        from rasterframes_spark.sources.mp4 import read_mp4_info
        from rasterframes_spark.sources.webm import read_webm_info

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                data = bytes(payload)
                try:
                    if data[:4] == b"\x1aE\xdf\xa3":
                        w = read_webm_info(data)
                        for t in w.video_tracks:
                            rows.append((int(mid), t.number, t.codec_id,
                                         int(round(1e9 / w.timescale_ns)),
                                         float(w.duration_ms),
                                         t.n_samples, int(t.sync.sum()),
                                         int(t.sizes.sum())))
                        continue
                    info = read_mp4_info(data)
                except ValueError:
                    continue
                for t in info.video_tracks:
                    rows.append((int(mid), t.track_id, t.fourcc,
                                 t.timescale, float(t.duration_ms),
                                 t.n_samples, int(t.sync.sum()),
                                 int(t.sizes.sum())))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "media_id", "track_id", "fourcc", "timescale",
                    "duration_ms", "n_samples", "n_keyframes",
                    "total_bytes"])

    return df.select("media_id", "payload").mapInPandas(
        run, schema=("media_id long, track_id int, fourcc string, "
                     "timescale int, duration_ms double, n_samples int, "
                     "n_keyframes int, total_bytes long"))


def demux_video_samples(df: DataFrame, every_ms: int = 1000,
                        keyframes_only: bool = True) -> DataFrame:
    """MP4 or WebM payload -> one row per sampled frame with the still-
    compressed codec sample bytes (no pixel decode): (media_id, frame_idx,
    ts_ms, sample_idx, is_sync, sample).

    This is the shape a 100 TB video pipeline actually wants: container
    demux is cheap CPU work that parallelizes in ``mapInPandas``, while
    H.264/VP9 pixel decode belongs on the GPU stage that consumes this
    frame table. ``keyframes_only=True`` (default) snaps each tick to the
    nearest preceding sync sample so the downstream decoder needs no
    inter-frame state. Duplicate picks (two ticks hitting the same
    keyframe) are emitted once per tick, mirroring ``sample_video_frames``.
    """

    def run(batches):
        from rasterframes_spark.sources import mp4 as M
        from rasterframes_spark.sources import webm as W

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                data = bytes(payload)
                try:
                    if data[:4] == b"\x1aE\xdf\xa3":
                        info = W.read_webm_info(data)
                        picks = [(t, W.sample_indices_at(
                            t, every_ms, keyframes_only,
                            duration_ms=info.duration_ms), W.extract_frame)
                            for t in info.video_tracks]
                    else:
                        info = M.read_mp4_info(data)
                        picks = [(t, M.sample_indices_at(
                            t, every_ms, keyframes_only), M.extract_sample)
                            for t in info.video_tracks]
                except ValueError:
                    continue
                for t, idxs, extract in picks:
                    for fi, (ts, si) in enumerate(idxs):
                        rows.append((int(mid), fi, ts, si,
                                     bool(t.sync[si]),
                                     extract(data, t, si)))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "media_id", "frame_idx", "ts_ms", "sample_idx",
                    "is_sync", "sample"])

    return df.select("media_id", "payload").mapInPandas(
        run, schema=("media_id long, frame_idx int, ts_ms int, "
                     "sample_idx int, is_sync boolean, sample binary"))


# ---------------------------------------------------------------------------
# Perceptual image hashing + near-duplicate pairs
# ---------------------------------------------------------------------------


def _bilinear_resize(a: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Center-aligned separable bilinear resample of a 2-D float array —
    the SAME convention as resize_image's 3-D kernel (a divergence would
    silently break pHash stability across resizes)."""
    h, w = a.shape
    y = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    x = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(y).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(x).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(y - y0, 0, 1)[:, None]
    wx = np.clip(x - x0, 0, 1)[None, :]
    return (a[np.ix_(y0, x0)] * (1 - wx) * (1 - wy)
            + a[np.ix_(y0, x1)] * wx * (1 - wy)
            + a[np.ix_(y1, x0)] * (1 - wx) * wy
            + a[np.ix_(y1, x1)] * wx * wy)


def phash_bits(arr: np.ndarray, hash_size: int = 8,
               highfreq_factor: int = 4) -> int:
    """64-bit DCT perceptual hash of one decoded image (classic pHash):
    grayscale → center-aligned bilinear resize to (hash_size·factor)² →
    2-D DCT-II → top-left hash_size² low-frequency block → bit i set
    iff coeff_i > block median. Robust to re-encoding, resize, small
    noise and brightness shifts (median threshold is level-free).
    Pure numpy (matrix DCT — the 32×32 transform is a trivial matmul);
    returns a SIGNED 64-bit int (Spark LongType two's-complement)."""
    a = arr.astype("float64")
    if a.ndim == 3:
        a = a.mean(axis=2)
    n = hash_size * highfreq_factor
    g = _bilinear_resize(a, n, n)
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    D = np.cos(np.pi * (i + 0.5) * k / n)
    low = (D @ g @ D.T)[:hash_size, :hash_size]
    med = np.median(low)
    bits = (low > med).ravel()
    val = 0
    for b in np.nonzero(bits)[0]:
        val |= 1 << int(b)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def image_phash(df: DataFrame, hash_size: int = 8,
                highfreq_factor: int = 4) -> DataFrame:
    """(media_id, phash) over DECODED pixel rows (the output schema of
    :func:`decode_image` / :func:`resize_image`) — compose
    ``image_phash(decode_image(raw, decode='auto'))`` from payloads.
    One mapInPandas pass, 8 bytes out per image."""

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, h, w, c, buf in zip(pdf["media_id"], pdf["height"],
                                         pdf["width"], pdf["channels"],
                                         pdf["pixels"]):
                arr = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(
                    int(h), int(w), int(c))
                rows.append((int(mid),
                             phash_bits(arr, hash_size, highfreq_factor)))
            if rows:
                yield pd.DataFrame(rows, columns=["media_id", "phash"])

    return df.mapInPandas(run, schema="media_id long, phash long")


def image_neardup_pairs(df: DataFrame, max_hamming: int = 8,
                        hot_bucket_threshold: int = 10000,
                        hot_bucket_salts: int = 16,
                        input_rows: int | None = None) -> DataFrame:
    """Near-duplicate image pairs: (id_a, id_b, hamming) for images whose
    64-bit pHash differs in ≤ ``max_hamming`` bits — re-encoded, resized
    or lightly edited copies of the same picture.

    Input is a decoded-pixels frame (see :func:`image_phash`).  Same
    scale posture as text SimHash (pipeline/dedup.py): band the 64 bits
    into ``max_hamming + 1`` chunks — pigeonhole guarantees a qualifying
    pair collides on at least one clean chunk — equi-join per chunk
    (hot chunks salted), exact ``bit_count`` verify on candidates only —
    the shared ``pipeline/dedup.py:_hamming_pairs``. Never all-pairs."""
    from rasterframes_spark.pipeline.dedup import _hamming_pairs

    # the decode+DCT pass is the dominant cost and the banded frame is
    # scanned up to 3x (hot-bucket count + both self-join sides):
    # truncate lineage so the 16-byte-per-image hash frame computes once
    ph = image_phash(df).select(F.col("media_id").alias("__id"),
                                F.col("phash").alias("__ph")) \
        .localCheckpoint(eager=False)
    return _hamming_pairs(ph, "__ph", max_hamming, hot_bucket_threshold,
                          hot_bucket_salts, input_rows)


# ---------------------------------------------------------------------------
# PDF documents (sources/pdf.py) — the web corpus's document format
# ---------------------------------------------------------------------------


def pdf_metadata(df: DataFrame) -> DataFrame:
    """PDF payload -> (media_id, version, n_pages) from the object graph
    only (no content-stream decode — xref + page-tree walk, a few KB of
    reads regardless of document size). Corrupt/encrypted payloads are
    dropped."""

    def run(batches):
        from rasterframes_spark.sources.pdf import read_pdf_info

        for pdf_ in batches:
            rows = []
            for mid, payload in zip(pdf_["media_id"], pdf_["payload"]):
                if payload is None:
                    continue
                try:
                    info = read_pdf_info(bytes(payload))
                except ValueError:
                    continue
                rows.append((int(mid), info.version, info.n_pages))
            if rows:
                yield pd.DataFrame(rows,
                                   columns=["media_id", "version",
                                            "n_pages"])

    return df.select("media_id", "payload").mapInPandas(
        run, schema="media_id long, version string, n_pages int")


def extract_pdf_text(df: DataFrame, max_pages: int | None = None
                     ) -> DataFrame:
    """PDF payload -> one row per page: (media_id, page, text).

    The ingest step that turns a PDF corpus into a text corpus — every
    downstream operator (dedup, quality filters, C4/Gopher rules,
    tokenization) then applies unchanged. Pure-python extraction
    (``sources/pdf.py``): xref/ObjStm object graph, Flate + PNG
    predictors, page tree, ToUnicode/Differences font decode.
    ``max_pages`` caps per-document work (corpus PDFs can be thousands
    of pages; profile with ``pdf_metadata`` first). Corrupt or encrypted
    payloads are dropped — the web-ingest contract shared with
    decode_image/decode_audio."""

    def run(batches):
        from rasterframes_spark.sources.pdf import pdf_extract_text

        for pdf_ in batches:
            rows = []
            for mid, payload in zip(pdf_["media_id"], pdf_["payload"]):
                if payload is None:
                    continue
                try:
                    pages = pdf_extract_text(
                        bytes(payload),
                        pages=range(max_pages) if max_pages else None)
                except ValueError:
                    continue
                for i, t in enumerate(pages):
                    rows.append((int(mid), i, t))
            if rows:
                yield pd.DataFrame(rows,
                                   columns=["media_id", "page", "text"])

    return df.select("media_id", "payload").mapInPandas(
        run, schema="media_id long, page int, text string")


# ---------------------------------------------------------------------------
# HTML documents (sources/html_text.py) — the scraped-web ingest pass
# ---------------------------------------------------------------------------


def extract_html_text(df: DataFrame, text_col: str = "payload",
                      main_content: bool = True,
                      max_link_density: float = 0.5) -> DataFrame:
    """HTML payload (binary or string column) -> (media_id, title, lang,
    text): the scraped-web ingest step. ``main_content=True`` (default)
    prunes nav/header/footer/aside subtrees and high-link-density blocks
    (trafilatura-style boilerplate heuristics); False keeps all visible
    text. Decode errors fall back through utf-8 -> latin-1 (never drop a
    page for charset alone); rows with null payloads are dropped."""

    def run(batches):
        from rasterframes_spark.sources.html_text import parse_page

        for pdf_ in batches:
            rows = []
            for mid, payload in zip(pdf_["media_id"], pdf_[text_col]):
                if payload is None:
                    continue
                if isinstance(payload, (bytes, bytearray)):
                    try:
                        html = bytes(payload).decode("utf-8")
                    except UnicodeDecodeError:
                        html = bytes(payload).decode("latin1")
                else:
                    html = str(payload)
                # one parse per page: title/lang/text from the same feed
                title, lang, text = parse_page(html, main_content,
                                               max_link_density)
                rows.append((int(mid), title, lang, text))
            if rows:
                yield pd.DataFrame(rows, columns=["media_id", "title",
                                                  "lang", "text"])

    return df.select("media_id", text_col).mapInPandas(
        run, schema="media_id long, title string, lang string, text string")


def exif_metadata(df: DataFrame) -> DataFrame:
    """JPEG/TIFF payload -> EXIF profile row: (media_id, make, model,
    orientation, datetime, datetime_original, gps_lat, gps_lon). The
    curation signals an image pipeline groups and filters on — and the
    orientation every pixel-space dedup must realize first (a rotated
    re-upload is the same photo; see ``sources/exif.py
    apply_orientation``). Images without EXIF yield a row of nulls;
    corrupt payloads are dropped."""

    def run(batches):
        from rasterframes_spark.sources.exif import read_exif

        for pdf_ in batches:
            rows = []
            for mid, payload in zip(pdf_["media_id"], pdf_["payload"]):
                if payload is None:
                    continue
                try:
                    e = read_exif(bytes(payload))
                except ValueError:
                    continue
                o = e.get("orientation")
                rows.append((
                    int(mid), e.get("make"), e.get("model"),
                    int(o) if isinstance(o, int) else None,
                    e.get("datetime"), e.get("datetime_original"),
                    e.get("gps_lat"), e.get("gps_lon")))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "media_id", "make", "model", "orientation",
                    "datetime", "datetime_original", "gps_lat",
                    "gps_lon"])

    return df.select("media_id", "payload").mapInPandas(
        run, schema=("media_id long, make string, model string, "
                     "orientation int, datetime string, "
                     "datetime_original string, gps_lat double, "
                     "gps_lon double"))


def extract_document_text(df: DataFrame, max_pdf_pages: int | None = None,
                          max_payload_bytes: int | None = 256 << 20
                          ) -> DataFrame:
    """Any document payload -> (media_id, format, text): the unified
    ingest pass over a mixed corpus. Formats are sniffed per row —
    PDF (``sources/pdf.py``), DOCX and EPUB (``sources/office.py``),
    HTML (boilerplate-pruned main content, ``sources/html_text.py``),
    man/troff pages (``read_man_text``, gzipped or plain) and plain
    UTF-8 text; undecodable/binary rows drop. One Arrow crossing; each
    decoder is the same tested code its dedicated operator uses.

    ``max_payload_bytes`` (default 256 MiB) drops rows whose raw
    payload exceeds the cap before any parsing — crawled corpora
    contain multi-GB single "documents" and one of them must not stall
    a task (decompression inside each parser is separately bounded by
    ``sources/inflate.py``). Pass ``None`` to disable."""

    def run(batches):
        import zlib

        from rasterframes_spark.sources.html_text import extract_main_text
        from rasterframes_spark.sources.inflate import decompress_bounded
        from rasterframes_spark.sources.office import (
            read_docx_text, read_epub_text, read_man_text,
            sniff_document_format)
        from rasterframes_spark.sources.pdf import pdf_extract_text

        for pdf_ in batches:
            rows = []
            for mid, payload in zip(pdf_["media_id"], pdf_["payload"]):
                if payload is None:
                    continue
                if max_payload_bytes is not None \
                        and len(payload) > max_payload_bytes:
                    continue
                b = bytes(payload)
                kind = sniff_document_format(b)
                if kind is not None and b[:2] == b"\x1f\x8b":
                    # the sniff sees through gzip, so the handler must
                    # see the INNER bytes too: a gzipped HTML payload
                    # otherwise parses mojibake into a garbage text
                    # row, and a gzipped man page would inflate twice
                    try:
                        b = decompress_bounded(b, 31,
                                               what="document: gzip",
                                               require_complete=True)
                    except (zlib.error, ValueError):
                        continue
                try:
                    if kind == "pdf":
                        text = "\n".join(pdf_extract_text(
                            b, pages=(range(max_pdf_pages)
                                      if max_pdf_pages is not None
                                      else None)))
                    elif kind == "docx":
                        text = read_docx_text(b)
                    elif kind == "epub":
                        text = read_epub_text(b)
                    elif kind == "html":
                        text = extract_main_text(
                            b.decode("utf-8", "replace"))
                    elif kind == "man":
                        text = read_man_text(b)
                    elif kind == "text":
                        text = b.decode("utf-8")
                    else:
                        continue
                except ValueError:
                    continue
                rows.append((int(mid), kind, text))
            if rows:
                yield pd.DataFrame(rows,
                                   columns=["media_id", "format", "text"])

    return df.select("media_id", "payload").mapInPandas(
        run, schema="media_id long, format string, text string")
