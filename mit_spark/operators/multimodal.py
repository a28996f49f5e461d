"""Multimodal binary columns: image, video and audio as opaque ``binary``
payloads with typed metadata, and the operators that build, decode,
resize, frame-sample and summarise them over ``mapInPandas`` (SURVEY.md
§1.1 maps the reference's ``RawImage`` to such a payload).

Three functions carry every operator here:

- ``decode_frames(data)`` turns any image or video payload into
  (F, H, W, C) uint8 frames. It reads the container from the payload's
  magic bytes: PNG and baseline JPEG (the formats the reference's
  ``RawImage::new`` reads, crates/interface/src/image/mod.rs:155-177),
  Motion-JPEG AVI, and MITB. MITB is a raw container (magic, kind, dims,
  frame count, packed u8 frames) that stays for ``media_table``'s rolled-
  page videos and the frames ``frame_sample``/``resize_media`` derive:
  they need a lossless multi-frame format, and MJPEG is lossy.
- ``_payload_table`` explodes the media spans of a docs frame and maps
  each ref through one payload function (MITB, PNG, JPEG, AVI or WAV).
- ``_flat_map`` is the one Arrow-chunked ``mapInPandas`` loop.

The codecs are pure stdlib plus numpy (operators/png_codec.py,
jpeg_codec.py, wav_codec.py, avi_codec.py); JPEG streams outside the
baseline 4:4:4 subset fall back to PIL when it is installed.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_MAGIC = b"MITB"
_KINDS = {"image": b"I", "video": b"V", "audio": b"A"}
_KINDS_INV = {v: k for k, v in _KINDS.items()}

MEDIA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("content", BinaryType(), False),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType(), False),
                    StructField("width", IntegerType(), False),
                    StructField("height", IntegerType(), False),
                    StructField("channels", IntegerType(), False),
                    StructField("n_frames", IntegerType(), False),
                ]
            ),
            False,
        ),
    ]
)

FRAME = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("content", BinaryType(), False),
    ]
)

CHANNEL_STATS = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("channel", IntegerType(), False),
        StructField("mean", DoubleType(), False),
        StructField("std", DoubleType(), False),
    ]
)

AUDIO = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("content", BinaryType(), False),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType(), False),
                    StructField("rate", IntegerType(), False),
                    StructField("n_samples", IntegerType(), False),
                    StructField("channels", IntegerType(), False),
                ]
            ),
            False,
        ),
    ]
)

WAVEFORM_STATS = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("n_samples", IntegerType(), False),
        StructField("half_period", IntegerType(), False),
        StructField("rms", IntegerType(), False),
        StructField("peak", IntegerType(), False),
        StructField("zero_crossings", IntegerType(), False),
    ]
)


# ---------------------------------------------------------------------------
# codec


def encode_media(frames: np.ndarray, kind: str = "image") -> bytes:
    """Pack (F,H,W,C) or (H,W,C) uint8 into the MITB container."""
    if frames.ndim == 3:
        frames = frames[None]
    f, h, w, c = frames.shape
    header = _MAGIC + _KINDS[kind] + struct.pack("<HHBH", w, h, c, f)
    return header + frames.astype(np.uint8).tobytes()


def decode_media(data: bytes) -> tuple[str, np.ndarray]:
    """Unpack MITB container -> (kind, (F,H,W,C) uint8)."""
    if data[:4] != _MAGIC:
        raise ValueError("not a MITB container (use decode_external for real codecs)")
    kind = _KINDS_INV[data[4:5]]
    w, h, c, f = struct.unpack("<HHBH", data[5:12])
    arr = np.frombuffer(data[12:], dtype=np.uint8).reshape(f, h, w, c)
    return kind, arr


def decode_external(fmt: str, data: bytes) -> np.ndarray:
    """PNG or JPEG bytes -> (H,W,3) RGB uint8, like the reference's
    RawImage::new (crates/interface/src/image/mod.rs:155-177). PNG goes
    through operators/png_codec.py, gray/gray+alpha/RGBA normalized to RGB
    the way PIL's convert("RGB") does (alpha dropped, luminance
    replicated). JPEG goes through operators/jpeg_codec.py for its baseline
    subset (gray or 4:4:4 colour, no restart markers); other JPEGs go to
    PIL when it is installed and otherwise raise the codec's ValueError.
    Any other format raises NotImplementedError."""
    if fmt == "png":
        from mit_spark.operators.png_codec import decode_png

        arr = decode_png(data)
        c = arr.shape[2]
        if c == 3:
            return arr
        if c == 4:
            return arr[:, :, :3].copy()
        return np.repeat(arr[:, :, :1], 3, axis=2)
    if fmt == "jpeg":
        from mit_spark.operators.jpeg_codec import decode_jpeg

        try:
            arr = decode_jpeg(data)
        except ValueError as err:
            # outside the stdlib codec's baseline 4:4:4 subset (progressive,
            # subsampled, restart intervals): fall back to PIL if present
            try:  # pragma: no cover - PIL absent in this container
                import io

                from PIL import Image
            except ImportError:
                raise err from None
            return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))
        if arr.ndim == 2:
            return np.repeat(arr[:, :, None], 3, axis=2)
        return arr
    raise NotImplementedError(f"no codec for {fmt!r} (PNG and baseline JPEG only)")


def decode_frames(data: bytes) -> np.ndarray:
    """Image or video payload bytes -> (F, H, W, C) uint8 frames. The
    container is read from the payload's own magic bytes: MITB, the PNG
    signature, JPEG's SOI marker (FF D8) or a RIFF 'AVI ' header. PNG and
    JPEG give one RGB frame (decode_external), AVI every frame with gray
    ones replicated to RGB. Anything else, WAV included, raises ValueError."""
    data = bytes(data)
    if data[:4] == _MAGIC:
        return decode_media(data)[1]
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_external("png", data)[None]
    if data[:2] == b"\xff\xd8":
        return decode_external("jpeg", data)[None]
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from mit_spark.operators.avi_codec import decode_avi_mjpg

        frames = decode_avi_mjpg(data)
        return np.stack(
            [np.repeat(f[:, :, None], 3, axis=2) if f.ndim == 2 else f for f in frames]
        )
    raise ValueError(f"not an image or video payload (starts {data[:12]!r})")


# ---------------------------------------------------------------------------
# payloads: media_ref -> (content, meta), or None where the format does not
# apply. Page dims come from synth.media_truth (320-512 px a side, so every
# page holds whole 8x8 JPEG blocks) and video-ness from the ref's last two
# bytes, so each payload renders only what it encodes.


def _is_video(media_ref: str) -> bool:
    return int.from_bytes(media_ref.encode()[-2:], "little") % 7 == 0


def _page_dims(media_ref: str) -> tuple[int, int]:
    from mit_spark.synth import media_truth

    t = media_truth(media_ref)
    return t["width"], t["height"]


def _meta(mime: str, width: int, height: int, n_frames: int) -> dict:
    return {"mime": mime, "width": int(width), "height": int(height),
            "channels": 3, "n_frames": n_frames}


def synth_media_bytes(media_ref: str) -> tuple[bytes, dict]:
    """MITB payload for a media_ref: the synth page raster; a video ref
    (every 7th, by its last two bytes) becomes 4 frames of the raster
    rolled down 13 rows apiece."""
    from mit_spark.synth import render_media

    img = render_media(media_ref)
    if _is_video(media_ref):
        frames, kind = np.stack([np.roll(img, 13 * i, axis=0) for i in range(4)]), "video"
    else:
        frames, kind = img[None], "image"
    f, h, w, _ = frames.shape
    return encode_media(frames, kind), _meta(f"x-mit/{kind}", w, h, f)


def _png_payload(media_ref: str) -> tuple[bytes, dict] | None:
    """Image refs as PNG of the page raster, Sub-filtered so decoding undoes
    a real filter."""
    from mit_spark.operators.png_codec import encode_png
    from mit_spark.synth import render_media

    if _is_video(media_ref):
        return None
    img = render_media(media_ref)
    meta = _meta("image/png", img.shape[1], img.shape[0], 1)
    return encode_png(img, filter_type=1, level=1), meta


def jpeg_tile_image(
    media_ref: str, width: int, height: int, *, key_prefix: str | None = None
) -> np.ndarray:
    """Deterministic 8x8-tiled EVEN-gray image for a media_ref: tile (bx,by)
    holds 2 * (first-4-md5-bytes('<prefix>:<bx>:<by>') % 128), where the
    prefix defaults to 'jp:<ref>' (the JPEG image table) and video frames
    pass 'vf:<ref>:<frame>'. Dimensions are the ref's page size rounded
    DOWN to 8-multiples (whole MCUs). Flat even-gray DC-only blocks
    survive the baseline JPEG encode->decode round trip BIT-EXACT
    (jpeg_codec docstring), so the SQL oracles can state the decoded
    histograms in closed form from the same md5 arithmetic — while the
    payload still drives real Huffman coding and differential DC
    prediction across tiles. ONE definition of the tile arithmetic serves
    every oracle that mirrors it."""
    import hashlib

    prefix = key_prefix if key_prefix is not None else f"jp:{media_ref}"
    w8, h8 = width // 8 * 8, height // 8 * 8
    tiles = np.empty((h8 // 8, w8 // 8), dtype=np.uint8)
    for by in range(h8 // 8):
        for bx in range(w8 // 8):
            hv = int(hashlib.md5(f"{prefix}:{bx}:{by}".encode()).hexdigest()[:8], 16)
            tiles[by, bx] = 2 * (hv % 128)
    return np.kron(tiles, np.ones((8, 8), dtype=np.uint8))


def _jpeg_payload(media_ref: str) -> tuple[bytes, dict] | None:
    """Image refs as a gray baseline JPEG of jpeg_tile_image at the unscaled
    Annex-K tables, whose decode is bit-exact."""
    from mit_spark.operators.jpeg_codec import encode_jpeg

    if _is_video(media_ref):
        return None
    img = jpeg_tile_image(media_ref, *_page_dims(media_ref))
    return encode_jpeg(img, quality=50), _meta("image/jpeg", img.shape[1], img.shape[0], 1)


def _avi_payload(media_ref: str) -> tuple[bytes, dict] | None:
    """Video refs as a Motion-JPEG AVI of 4 tile images, frame f keyed
    'vf:<ref>:<f>'."""
    from mit_spark.operators.avi_codec import encode_avi_mjpg

    if not _is_video(media_ref):
        return None
    w, h = _page_dims(media_ref)
    frames = [
        jpeg_tile_image(media_ref, w, h, key_prefix=f"vf:{media_ref}:{f}")
        for f in range(4)
    ]
    meta = _meta("video/x-msvideo", w // 8 * 8, h // 8 * 8, 4)
    return encode_avi_mjpg(frames, quality=50), meta


def synth_audio_samples(media_ref: str) -> np.ndarray:
    """Deterministic mono PCM for a media_ref (the page's narration track):
    a square wave with md5-derived amplitude/period/length —
      a    = 256 * (1 + h('au:<ref>:amp') % 100)     (int16-safe)
      half = 8   * (1 + h('au:<ref>:per') % 16)      (half-period, samples)
      n    = 2*half * (50 + h('au:<ref>:len') % 50)  (whole periods)
    so RMS == peak == a exactly, and sign flips land every `half` samples
    (n/half - 1 zero crossings) — the closed forms the SQL oracle states
    from the same md5 arithmetic (queries._h_sql twin)."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    a = 256 * (1 + h(f"au:{media_ref}:amp") % 100)
    half = 8 * (1 + h(f"au:{media_ref}:per") % 16)
    n = 2 * half * (50 + h(f"au:{media_ref}:len") % 50)
    i = np.arange(n)
    return np.where((i // half) % 2 == 0, a, -a).astype(np.int16)


def _wav_payload(media_ref: str) -> tuple[bytes, dict]:
    from mit_spark.operators.wav_codec import encode_wav

    s = synth_audio_samples(media_ref)
    meta = {"mime": "audio/wav", "rate": 16000, "n_samples": int(s.shape[0]), "channels": 1}
    return encode_wav(s, rate=16000), meta


# ---------------------------------------------------------------------------
# Spark operators (all Arrow-batched; no per-row Python on the JVM side)

# Payload rows carry ~0.8-3 MB binaries, so Arrow's default 256-row batches
# become 0.2-0.8 GB frames: every UDF here processes and yields in small
# row chunks to bound worker memory and pipeline the JVM<->python transfer.
_CHUNK = 8


def _flat_map(df: DataFrame, fn, schema: StructType, *cols: str) -> DataFrame:
    """The one mapInPandas loop of this module: each _CHUNK-row slice of an
    Arrow batch yields one pandas frame of the tuples ``fn(*row)`` returns
    for its rows (``row`` holds ``cols``; tuples follow ``schema``)."""
    names = schema.fieldNames()

    def run(batches):
        import pandas as pd

        for pdf in batches:
            for i in range(0, len(pdf), _CHUNK):
                part = pdf.iloc[i : i + _CHUNK]
                rows = [out for row in zip(*(part[c] for c in cols)) for out in fn(*row)]
                yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema=schema)


def _payload_table(
    spark: SparkSession, docs_df: DataFrame, payload, schema: StructType = MEDIA
) -> DataFrame:
    """docs -> one ``schema`` row (doc_id, media_ref, content, meta) per
    media span that ``payload(ref)`` maps to (content, meta); spans it maps
    to None are left out. Media spans arrive clustered by generating doc
    partition (a heavy doc puts 64-256 in one), so they are spread on the
    (doc_id, media_ref) hash first, over the flagship media stage's task
    count."""
    from mit_spark.plans.pipeline import media_task_count

    spans = (
        docs_df.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
        .repartition(
            media_task_count(spark.sparkContext.defaultParallelism),
            F.xxhash64("doc_id", "media_ref"),
        )
    )

    def attach(doc, ref):
        out = payload(str(ref))
        return [] if out is None else [(doc, ref, *out)]

    return _flat_map(spans, attach, schema, "doc_id", "media_ref")


def media_table(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """docs -> one MEDIA row per media span, content an MITB payload
    (synth_media_bytes)."""
    return _payload_table(spark, docs_df, synth_media_bytes)


def media_table_png(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """Image spans as PNG payloads (operators/png_codec.py), the format the
    reference itself reads (RawImage::new,
    crates/interface/src/image/mod.rs:155-177). Video refs are left out:
    PNG holds one image."""
    return _payload_table(spark, docs_df, _png_payload)


def media_table_jpeg(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """Image spans as baseline JPEG payloads (operators/jpeg_codec.py) of
    the ref's tile image, whose decode is bit-exact, so the channel stats
    stay under a closed-form SQL oracle. Video refs are left out."""
    return _payload_table(spark, docs_df, _jpeg_payload)


def video_table(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """Video spans as Motion-JPEG AVI payloads (operators/avi_codec.py: a
    RIFF container, one MJPG 'vids' stream, every frame through the stdlib
    JPEG codec). Each of the 4 frames is the ref's tile image keyed by frame
    index ('vf:<ref>:<f>:<bx>:<by>'), so the stats stay under a closed-form
    SQL oracle. Image refs are left out."""
    return _payload_table(spark, docs_df, _avi_payload)


def audio_table(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """docs -> one AUDIO row per media span, content WAV bytes
    (operators/wav_codec.py) of the ref's square wave."""
    return _payload_table(spark, docs_df, _wav_payload, AUDIO)


def waveform_stats(audio_df: DataFrame) -> DataFrame:
    """Audio feature extraction: decode WAV, derive EVERYTHING from the
    decoded PCM — sample count, RMS, peak, zero-crossing count, and the
    half-period implied by the crossings (n / (zc+1)) — so a wrong header
    offset, endianness, or chunk walk breaks the value oracle. Integer
    outputs only: the synth waveforms make RMS/peak exact integers
    (float64 is exact for these magnitudes)."""

    def stats(ref, content):
        from mit_spark.operators.wav_codec import decode_wav

        _rate, arr = decode_wav(bytes(content))
        s = arr[:, 0].astype(np.int64)
        n = int(s.shape[0])
        rms = int(round(float(np.sqrt(np.mean(s * s)))))
        peak = int(np.abs(s).max())
        # zero crossings = POLARITY FLIPS: exact-zero samples carry
        # no polarity, so drop them before diffing (np.sign yields 0
        # at zeros, which would count entering AND leaving a zero or
        # a silence run as crossings and corrupt half_period)
        nz = s[s != 0]
        zc = int(np.count_nonzero(np.sign(nz[1:]) != np.sign(nz[:-1])))
        return [(ref, n, n // (zc + 1), rms, peak, zc)]

    return _flat_map(audio_df, stats, WAVEFORM_STATS, "media_ref", "content")


def frame_sample(media_df: DataFrame, every_k: int = 2) -> DataFrame:
    """Video frame sampling: one output row per kept frame (indices
    0, k, 2k, ...), each an MITB image; images pass through as frame 0. The
    Spark analogue of the reference's patch explode
    (det_arrange.rs:215-344): payload rows multiply, downstream ops
    parallelize per frame."""

    def sample(ref, content):
        frames = decode_frames(content)
        return [
            (ref, i, encode_media(frames[i], "image"))
            for i in range(0, frames.shape[0], every_k)
        ]

    return _flat_map(media_df, sample, FRAME, "media_ref", "content")


def resize_media(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """Bilinear resize of every frame (same imageops kernel as the detect
    path, crates/interface rayon.rs:394-434 semantics) into an MITB
    payload; meta is updated JVM-side so the plan shows the new dims
    without decoding."""
    from mit_spark.operators.imageops import resize

    cols = media_df.columns
    at = cols.index("content")

    def run(*row):
        frames = decode_frames(row[at])
        res = np.stack([resize(f, width, height) for f in frames])
        kind = "video" if res.shape[0] > 1 else "image"
        return [(*row[:at], encode_media(res, kind), *row[at + 1 :])]

    resized = _flat_map(media_df, run, media_df.schema, *cols)
    new_meta = F.struct(
        F.when(F.col("meta.n_frames") > 1, F.lit("x-mit/video"))
        .otherwise(F.lit("x-mit/image"))
        .alias("mime"),
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        F.col("meta.channels").alias("channels"),
        F.col("meta.n_frames").alias("n_frames"),
    )
    return resized.withColumn("meta", new_meta)


def channel_stats(media_df: DataFrame) -> DataFrame:
    """Feature extraction: per-channel mean/std over all frames of any
    decode_frames payload, rounded to 4dp. Moments come from a 256-bin
    integer histogram per channel — ONE pass over the uint8 frames instead
    of a 4x float32 expansion plus the two extra passes np.std makes; exact
    in float64 (a histogram of uint8 values loses nothing)."""
    vals = np.arange(256, dtype=np.float64)
    vals2 = vals * vals

    def stats(ref, content):
        frames = decode_frames(content)
        f, h, w, c = frames.shape
        flat = frames.reshape(-1, c)
        n = flat.shape[0]
        rows = []
        for ch in range(c):
            hist = np.bincount(np.ascontiguousarray(flat[:, ch]), minlength=256)
            hist = hist.astype(np.float64)
            mean = float(hist @ vals) / n
            var = max(float(hist @ vals2) / n - mean * mean, 0.0)
            rows.append((ref, w, h, f, ch, round(mean, 4), round(var ** 0.5, 4)))
        return rows

    return _flat_map(media_df, stats, CHANNEL_STATS, "media_ref", "content")
