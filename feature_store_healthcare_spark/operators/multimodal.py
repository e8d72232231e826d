"""Multimodal columns: opaque binary payloads + typed metadata (OP-52;
SURVEY.md §2.11, BASELINE.json:6; the reference's EMBEDDING value type at
feature_registry.py:42 is the only media-adjacent type it has).

Design: media is a row of ``(media_id, kind, content: binary, meta: struct)``.
The engine treats ``content`` as opaque bytes — Spark shuffles/stores it
without interpretation — while ``meta`` carries the typed, queryable facts
(dimensions, sample rate, duration, frame count).  Everything metadata-driven
(frame sampling, chunking, filtering, stats) is pure JVM column expressions;
only payload *decoding* needs Python, and runs as Arrow-batched
``mapInPandas`` so bytes cross the JVM→Python boundary once per batch, not
per row.

Decode paths (round-12: the real path now EXECUTES in this container):
``use_fake_decoder=True`` (default, kept for the byte-stat catalog oracle)
computes deterministic byte-level features without interpreting the payload;
``use_fake_decoder=False`` decodes real pixels through the built-in
pure-stdlib+numpy PNG/BMP codecs (operators/codecs.py — no Pillow needed),
falling back to Pillow only for formats outside that profile.
:func:`synthesize_image_media` emits REAL encoded PNG/BMP payloads whose
pixel values are a closed-form function of the row id, so
:func:`decode_image_pixels` is oracle-checkable end-to-end: Spark decodes
actual bytes, the SQL oracle computes the same statistics arithmetically —
any encoder/decoder defect (padding, BGR order, bottom-up flip, filter
reconstruction) breaks the value hash.  The Spark-side shape — schema,
batch iteration, partitioning — is identical across all paths.

Scale notes: media payloads dominate row size, so operators that don't need
``content`` must prune it (metadata queries never touch the binary column —
columnar parquet makes that free).  Decode fan-out is CPU-bound per row →
``repartition`` before ``mapInPandas`` spreads codec work; Arrow batch size
(``spark.sql.execution.arrow.maxRecordsPerBatch``) bounds peak Python memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_KINDS = ("image", "audio", "video")

MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META_TYPE, True),
    ]
)


def synthesize_media_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic fake media corpus from the documents table: the text
    bytes stand in for an encoded payload; metadata derives arithmetically
    from ``n_chars`` so every engine (incl. a SQL oracle) can reproduce it.

    kind cycles image→audio→video by id; image dims / audio sample-rate /
    video frame count are simple functions of payload length.
    """
    n = F.length(F.col(text_col))
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]), (F.col(id_col) % 3 + 1).cast("int")
    )
    meta = F.struct(
        F.when(kind == "image", F.lit("png"))
        .when(kind == "audio", F.lit("wav"))
        .otherwise(F.lit("mp4"))
        .alias("format"),
        F.when(kind == "image", (n % 512 + 64).cast("int")).alias("width"),
        F.when(kind == "image", (n % 256 + 64).cast("int")).alias("height"),
        F.when(kind == "image", F.lit(3)).alias("channels"),
        F.when(kind == "audio", F.lit(16_000)).alias("sample_rate"),
        F.when(kind == "audio", (n.cast("double") / F.lit(100.0))).alias("duration_s"),
        F.when(kind == "video", (n % 240 + 24).cast("int")).alias("n_frames"),
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        meta.alias("meta"),
    )


def synthesize_image_media(
    docs: DataFrame, id_col: str = "doc_id", sample_mod: int = 7
) -> DataFrame:
    """REAL encoded image corpus from the documents table (round-12: the
    executable counterpart of :func:`synthesize_media_table`'s opaque
    text-bytes payloads): every kept row becomes an actual PNG or BMP
    whose pixels are a closed-form function of the row id —

    - ``seed = id % 256``, ``w = id % 32 + 8``, ``h = id % 24 + 8``
    - pixel ``(y, x, c) = (seed + y + c) % 256`` (constant across x)
    - container: PNG for even ids (exercises zlib + scanline filters),
      BMP for odd ids (exercises padding/BGR/bottom-up)

    so a SQL oracle can recompute every pixel statistic arithmetically
    while Spark derives it by DECODING THE ACTUAL BYTES — a defect
    anywhere in encode or decode breaks the value hash.  ``sample_mod``
    keeps 1-in-N docs (deterministic ``id % N == 0``) so the codec work
    stays bounded at bench SFs.  Encoding runs as the same Arrow-batched
    ``mapInPandas`` shape as the decode kernels."""
    ids = docs.where(F.col(id_col) % sample_mod == 0).select(
        F.col(id_col).cast("long").alias("media_id")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from feature_store_healthcare_spark.operators.codecs import (
            encode_bmp,
            encode_png,
        )

        for pdf in batches:
            rows = []
            for media_id in pdf["media_id"]:
                mid = int(media_id)
                seed, w, h = mid % 256, mid % 32 + 8, mid % 24 + 8
                col = (seed + np.arange(h)[:, None] + np.arange(3)[None, :]) % 256
                arr = np.broadcast_to(
                    col[:, None, :].astype(np.uint8), (h, w, 3)
                )
                fmt = "png" if mid % 2 == 0 else "bmp"
                payload = encode_png(arr) if fmt == "png" else encode_bmp(arr)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "image",
                        "content": payload,
                        "meta": {
                            "format": fmt,
                            "width": w,
                            "height": h,
                            "channels": 3,
                            "sample_rate": None,
                            "duration_s": None,
                            "n_frames": None,
                        },
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return ids.mapInPandas(kernel, schema=MEDIA_SCHEMA)


def synthesize_audio_media(
    docs: DataFrame, id_col: str = "doc_id", sample_mod: int = 7
) -> DataFrame:
    """REAL encoded WAV corpus (the audio counterpart of
    :func:`synthesize_image_media`): every kept row becomes an actual
    16-bit PCM RIFF file whose samples are a closed-form function of the
    row id —

    - ``seed = id % 251``, ``n = id % 800 + 100`` samples, mono
    - ``sample_rate = 8000`` for even ids, ``16000`` for odd
    - sample ``t = (seed·31 + t·7) % 4096 − 2048`` (int16-safe)

    so a SQL oracle can recompute every waveform statistic while Spark
    decodes the actual RIFF bytes."""
    ids = docs.where(F.col(id_col) % sample_mod == 0).select(
        F.col(id_col).cast("long").alias("media_id")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from feature_store_healthcare_spark.operators.codecs import encode_wav

        for pdf in batches:
            rows = []
            for media_id in pdf["media_id"]:
                mid = int(media_id)
                seed, n = mid % 251, mid % 800 + 100
                sr = 8000 if mid % 2 == 0 else 16000
                samples = ((seed * 31 + np.arange(n) * 7) % 4096 - 2048).astype(
                    np.int16
                )
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "audio",
                        "content": encode_wav(samples, sr),
                        "meta": {
                            "format": "wav",
                            "width": None,
                            "height": None,
                            "channels": 1,
                            "sample_rate": sr,
                            "duration_s": n / sr,
                            "n_frames": None,
                        },
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return ids.mapInPandas(kernel, schema=MEDIA_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("first_sample", T.IntegerType()),
        T.StructField("mean_abs", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def decode_audio_features(media: DataFrame) -> DataFrame:
    """REAL waveform decode → per-clip statistics via the built-in WAV
    codec: sample count / rate / duration from the RIFF headers,
    first-sample (byte-order pin), mean |amplitude| (exact integer
    micro-unit floor), peak, and zero-crossing count (sign-change pin —
    catches any sample-order or signedness defect) from the decoded
    int16 array."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from feature_store_healthcare_spark.operators.codecs import decode_wav

        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                samples, sr = decode_wav(bytes(content))
                n, ch = samples.shape
                mono = samples[:, 0].astype(np.int64)
                absum = int(np.abs(mono).sum())
                sign = np.sign(mono)
                nz = sign != 0
                zc = int((np.diff(sign[nz]) != 0).sum())
                rows.append(
                    {
                        "media_id": media_id,
                        "sample_rate": sr,
                        "n_samples": n,
                        "channels": ch,
                        "duration_ms": n * 1000 // sr,
                        "first_sample": int(mono[0]),
                        "mean_abs": (absum * 1_000_000 // n) / 1e6,
                        "peak": int(np.abs(mono).max()),
                        "zero_crossings": zc,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    auds = media.where(F.col("kind") == "audio")
    return auds.mapInPandas(kernel, schema=AUDIO_FEATURES_SCHEMA)


def synthesize_video_media(
    docs: DataFrame,
    id_col: str = "doc_id",
    sample_mod: int = 7,
    content_mod: int | None = None,
) -> DataFrame:
    """REAL encoded video corpus (Y4M/YUV4MPEG2 — uncompressed planar
    frames, the video counterpart of :func:`synthesize_image_media`):

    - ``seed = id % 199``, ``T = id % 12 + 2`` frames
    - even dims ``w = (id % 16 + 4)·2``, ``h = (id % 10 + 3)·2`` (4:2:0)
    - luma ``(t, y, x) = (seed + 7t + y) % 256`` (constant across x)
    - frame rate 25:1 for even ids, 30:1 for odd

    so the SQL oracle recomputes every per-clip statistic while Spark
    walks the actual FRAME markers and planes.  ``content_mod`` makes
    frame CONTENT derive from ``id % content_mod`` while ``media_id``
    stays the full id — distinct videos with byte-identical content by
    construction, the corpus shape the frame-dedup entry needs (the
    default keeps every id's content unique-ish and the per-clip
    oracles' closed forms unchanged)."""
    ids = docs.where(F.col(id_col) % sample_mod == 0).select(
        F.col(id_col).cast("long").alias("media_id")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from feature_store_healthcare_spark.operators.codecs import encode_y4m

        for pdf in batches:
            rows = []
            for media_id in pdf["media_id"]:
                mid = int(media_id)
                cid = mid % content_mod if content_mod else mid
                seed, t = cid % 199, cid % 12 + 2
                w, h = (cid % 16 + 4) * 2, (cid % 10 + 3) * 2
                fps = (25, 1) if cid % 2 == 0 else (30, 1)
                col = (
                    seed + 7 * np.arange(t)[:, None] + np.arange(h)[None, :]
                ) % 256
                frames = np.broadcast_to(
                    col[:, :, None].astype(np.uint8), (t, h, w)
                )
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "video",
                        "content": encode_y4m(frames, fps=fps),
                        "meta": {
                            "format": "y4m",
                            "width": w,
                            "height": h,
                            "channels": 1,
                            "sample_rate": None,
                            "duration_s": t * fps[1] / fps[0],
                            "n_frames": t,
                        },
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return ids.mapInPandas(kernel, schema=MEDIA_SCHEMA)


VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps_num", T.IntegerType()),
        T.StructField("fps_den", T.IntegerType()),
        T.StructField("first_luma", T.IntegerType()),
        T.StructField("last_luma", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("max_luma", T.IntegerType()),
    ]
)


def decode_video_features(media: DataFrame) -> DataFrame:
    """REAL video decode → per-clip statistics via the built-in Y4M
    codec: frame count pins the FRAME-marker walk, width/height pin the
    plane sizes, ``first_luma``/``last_luma`` (pixel (0,0) of the first
    and last frame) pin FRAME ORDER, mean/max luma pin the plane
    contents.  Mean floors in exact integer micro-units (engine
    convention)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from feature_store_healthcare_spark.operators.codecs import decode_y4m

        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                frames, fps = decode_y4m(bytes(content))
                t, h, w = frames.shape
                flat = frames.reshape(-1).astype(np.int64)
                rows.append(
                    {
                        "media_id": media_id,
                        "width": w,
                        "height": h,
                        "n_frames": t,
                        "fps_num": fps[0],
                        "fps_den": fps[1],
                        "first_luma": int(frames[0, 0, 0]),
                        "last_luma": int(frames[-1, 0, 0]),
                        "mean_luma": (int(flat.sum()) * 1_000_000 // flat.size)
                        / 1e6,
                        "max_luma": int(flat.max()),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_FEATURES_SCHEMA.fields]
            )

    vids = media.where(F.col("kind") == "video")
    return vids.mapInPandas(kernel, schema=VIDEO_FEATURES_SCHEMA)


FRAME_SIG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("sig", T.StringType()),
    ]
)


def real_frame_signatures(media: DataFrame) -> DataFrame:
    """Per-frame content signatures from REAL decoded video (round 12;
    the executed-codec counterpart of :func:`frame_signatures`, which
    hashes payload byte slices without decoding): the Y4M stream is
    decoded, each frame's luma plane is md5'd — so two frames collide
    iff their decoded pixel content is byte-identical, across videos of
    any container framing.  Output feeds :func:`frame_dedup_groups`
    unchanged (same row shape)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        from feature_store_healthcare_spark.operators.codecs import decode_y4m

        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                frames, _ = decode_y4m(bytes(content))
                for idx in range(frames.shape[0]):
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_idx": idx,
                            "sig": _hashlib.md5(
                                frames[idx].tobytes()
                            ).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SIG_SCHEMA.fields]
            )

    vids = media.where(F.col("kind") == "video")
    return vids.mapInPandas(kernel, schema=FRAME_SIG_SCHEMA)


MEDIA_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("n_units", T.LongType()),
        T.StructField("first_value", T.IntegerType()),
        T.StructField("mean_value", T.DoubleType()),
        T.StructField("max_value", T.IntegerType()),
    ]
)


def decode_media_stats(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Unified REAL-decode statistics over a mixed media table — ONE
    Arrow kernel dispatching on the sniffed container: PNG/BMP → pixel
    values, WAV → |amplitude| of channel 0, Y4M → luma values.  The
    per-kind decoders stay the richer surfaces; this is the row shape an
    INCREMENTAL maintainer appends per micro-batch (every kind in one
    pass, one output table — see
    ``streaming.pipeline.streaming_media_stats_maintenance``).
    ``n_units`` counts decoded values, ``first_value`` pins
    orientation/byte order, the mean floors in integer micro-units.

    ``on_error`` (r12 ADVICE #2) decides what a null / truncated /
    out-of-profile payload does:

    - ``"raise"`` (default, the batch/oracle-parity path): the decode
      exception propagates — corrupt input in a curated batch table is
      a bug to surface, not data.
    - ``"null"``: the row survives as ``fmt='error'`` with ``n_units=0``
      and null value stats — the STREAMING posture, where one poison
      payload must not fail the micro-batch before its idempotency
      marker is written (availableNow retries would replay the same
      batch forever).
    - ``"skip"``: the row is dropped silently.
    """
    if on_error not in ("raise", "null", "skip"):
        raise ValueError(f"on_error must be raise|null|skip, got {on_error!r}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from feature_store_healthcare_spark.operators.codecs import (
            decode_image,
            decode_wav,
            decode_y4m,
            sniff_format,
        )

        for pdf in batches:
            rows = []
            for media_id, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                try:
                    payload = bytes(content) if content is not None else b""
                    fmt = sniff_format(payload)
                    if fmt == "wav":
                        samples, _ = decode_wav(payload)
                        vals = np.abs(samples[:, 0].astype(np.int64))
                    elif fmt == "y4m":
                        frames, _ = decode_y4m(payload)
                        vals = frames.reshape(-1).astype(np.int64)
                    else:
                        vals = decode_image(payload).reshape(-1).astype(np.int64)
                    if vals.size == 0:
                        raise ValueError("decoded payload holds zero units")
                except Exception:
                    if on_error == "raise":
                        raise
                    if on_error == "null":
                        rows.append(
                            {
                                "media_id": media_id,
                                "kind": kind,
                                "fmt": "error",
                                "n_units": 0,
                                "first_value": None,
                                "mean_value": None,
                                "max_value": None,
                            }
                        )
                    continue
                rows.append(
                    {
                        "media_id": media_id,
                        "kind": kind,
                        "fmt": fmt,
                        "n_units": int(vals.size),
                        "first_value": int(vals[0]),
                        "mean_value": (int(vals.sum()) * 1_000_000 // vals.size)
                        / 1e6,
                        "max_value": int(vals.max()),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_STATS_SCHEMA.fields]
            )

    return media.mapInPandas(kernel, schema=MEDIA_STATS_SCHEMA)


PIXEL_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("first_pixel", T.IntegerType()),
        T.StructField("mean_c0", T.DoubleType()),
        T.StructField("min_pixel", T.IntegerType()),
        T.StructField("max_pixel", T.IntegerType()),
        T.StructField("pixel_entropy", T.DoubleType()),
    ]
)


def decode_image_pixels(media: DataFrame) -> DataFrame:
    """REAL pixel decode → per-image statistics, built-in codecs only
    (no Pillow): width/height/first-pixel/channel-0 mean/min/max/value
    entropy all come from the DECODED array, so the statistics pin the
    full byte→pixel path — ``first_pixel`` catches a bottom-up-flip
    defect, ``mean_c0`` catches a BGR↔RGB swap, the dims catch stride/
    padding errors, and the entropy pins the whole value histogram.

    Float canonicalization matches the engine's conventions: the channel
    mean floors in exact integer micro-units (integer sums CAN tie at 6
    decimals, where half-even vs half-away rounding diverges); the
    entropy rounds to 6 (transcendental sums cannot tie).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from feature_store_healthcare_spark.operators.codecs import (
            decode_image,
            sniff_format,
        )

        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(content) if content is not None else b""
                arr = decode_image(payload)
                h, w, ch = arr.shape
                flat = arr.reshape(-1).astype(np.int64)
                counts = np.bincount(flat, minlength=256)
                p = counts[counts > 0] / flat.size
                entropy = round(float(-(p * np.log2(p)).sum()), 6)
                c0 = arr[:, :, 0].astype(np.int64)
                mean_c0 = (int(c0.sum()) * 1_000_000 // c0.size) / 1e6
                rows.append(
                    {
                        "media_id": media_id,
                        "fmt": sniff_format(payload),
                        "width": w,
                        "height": h,
                        "n_pixels": h * w,
                        "first_pixel": int(arr[0, 0, 0]),
                        "mean_c0": mean_c0,
                        "min_pixel": int(flat.min()),
                        "max_pixel": int(flat.max()),
                        "pixel_entropy": entropy,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in PIXEL_FEATURES_SCHEMA.fields]
            )

    images = media.where(F.col("kind") == "image")
    return images.mapInPandas(kernel, schema=PIXEL_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Metadata-only operators — pure JVM, never touch the binary column
# ---------------------------------------------------------------------------


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind corpus stats.  ``octet_length(content)`` comes from parquet
    column stats-friendly binary length; nothing decodes."""
    return media.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum(F.octet_length("content")).alias("total_bytes"),
        # decimal-accumulated float sum → result independent of partition /
        # accumulation order (bit-identical across engines)
        F.sum(
            F.coalesce(F.col("meta.duration_s"), F.lit(0.0)).cast("decimal(25,6)")
        )
        .cast("double")
        .alias("total_duration_s"),
        F.sum(F.coalesce(F.col("meta.n_frames"), F.lit(0))).alias("total_frames"),
    )


def sample_frames(media: DataFrame, every: int = 10) -> DataFrame:
    """Frame sampling as a metadata explode (video rows only): one output
    row per kept frame index — pure ``sequence``+``explode``, no decoding.
    The downstream frame *decoder* joins this plan back to ``content``."""
    vids = media.where(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
    )


def audio_chunks(media: DataFrame, chunk_s: float = 30.0) -> DataFrame:
    """Chunk audio by duration metadata: (media_id, chunk_idx, start_s,
    end_s) rows — the shape a transcription pipeline fans out over."""
    aud = media.where(F.col("kind") == "audio")
    n_chunks = F.ceil(F.col("meta.duration_s") / F.lit(chunk_s)).cast("int")
    chunks = aud.select(
        "media_id",
        F.col("meta.duration_s").alias("duration_s"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx").cast("double") * F.lit(chunk_s)
    return chunks.select(
        "media_id",
        "chunk_idx",
        start.alias("start_s"),
        F.least(start + F.lit(chunk_s), F.col("duration_s")).alias("end_s"),
    )


# ---------------------------------------------------------------------------
# Decode kernels — Arrow-batched mapInPandas; payload codec STUBBED
# ---------------------------------------------------------------------------

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("byte_entropy", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def decode_image_features(
    media: DataFrame, use_fake_decoder: bool = True
) -> DataFrame:
    """Decode → feature-extract for image rows.

    Fake path (default): deterministic byte statistics (length, mean, an
    entropy-ish score) computed with numpy over the raw payload — exercises
    the exact production plumbing (binary column through Arrow into pandas,
    batched, schema'd) without interpreting the payload.  Real path
    (``use_fake_decoder=False``): decodes actual pixels via the built-in
    PNG/BMP codecs (Pillow only for other formats) and computes the same
    statistic shapes over the PIXEL array — width/height come from the
    decoded dimensions, mean/entropy from pixel values, and ``n_bytes``
    counts the decoded pixel-buffer bytes instead of the payload's.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from feature_store_healthcare_spark.operators.codecs import decode_image

        for pdf in batches:
            rows = []
            for media_id, content, meta in zip(
                pdf["media_id"], pdf["content"], pdf["meta"]
            ):
                payload = bytes(content) if content is not None else b""
                if use_fake_decoder:
                    arr = np.frombuffer(payload, dtype=np.uint8)
                    decoded_w = decoded_h = None
                else:
                    pixels = decode_image(payload)
                    decoded_h, decoded_w = pixels.shape[:2]
                    arr = pixels.reshape(-1)
                if arr.size:
                    counts = np.bincount(arr, minlength=256)
                    p = counts[counts > 0] / arr.size
                    # entropy: round to 6 decimals — canonical across engines
                    # (transcendental terms can't land on a .5 tie, so the
                    # rounding-mode difference between Python/numpy
                    # [half-even] and SQL engines [half-away] never fires)
                    entropy = round(float(-(p * np.log2(p)).sum()), 6)
                    # mean: byte sums are exact integers, and an integer
                    # mean CAN tie at 6 decimals (e.g. 95.4140625), where
                    # half-even vs half-away rounding diverges — so floor in
                    # exact integer micro-units instead of rounding
                    mean = (
                        int(arr.sum(dtype=np.int64)) * 1_000_000 // arr.size
                    ) / 1e6
                else:
                    entropy, mean = 0.0, 0.0
                meta = meta if isinstance(meta, dict) else {}
                rows.append(
                    {
                        "media_id": media_id,
                        "n_bytes": arr.size,
                        "mean_byte": mean,
                        "byte_entropy": entropy,
                        # fake path reports the METADATA dims (payload is
                        # opaque); real path reports the DECODED dims
                        "width": meta.get("width") if use_fake_decoder else decoded_w,
                        "height": meta.get("height") if use_fake_decoder else decoded_h,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields]
            )

    images = media.where(F.col("kind") == "image")
    return images.mapInPandas(kernel, schema=IMAGE_FEATURES_SCHEMA)


def resize_images(
    media: DataFrame, width: int, height: int, use_fake_decoder: bool = True
) -> DataFrame:
    """Resize image rows to ``width`` × ``height``.

    Fake path (default): passes payload bytes through and rewrites the
    metadata — the plan shape of the real op with an opaque payload;
    pure JVM, no Python.  Real path (``use_fake_decoder=False``):
    decode → deterministic nearest-neighbor resample → re-encode in the
    SAME container format (PNG stays PNG, BMP stays BMP) through an
    Arrow-batched ``mapInPandas`` kernel; non-image rows pass through
    untouched so the output is a full media table either way."""
    new_meta = F.struct(
        F.col("meta.format").alias("format"),
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        F.col("meta.channels").alias("channels"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.duration_s").alias("duration_s"),
        F.col("meta.n_frames").alias("n_frames"),
    )
    if use_fake_decoder:
        return media.withColumn(
            "meta",
            F.when(F.col("kind") == "image", new_meta).otherwise(F.col("meta")),
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from feature_store_healthcare_spark.operators.codecs import (
            decode_image,
            encode_bmp,
            encode_png,
            resize_nearest,
            sniff_format,
        )

        for pdf in batches:
            out = pdf.copy()
            for i in range(len(pdf)):
                if pdf["kind"].iloc[i] != "image" or pdf["content"].iloc[i] is None:
                    continue
                payload = bytes(pdf["content"].iloc[i])
                fmt = sniff_format(payload)
                pixels = resize_nearest(decode_image(payload), width, height)
                if pixels.shape[2] == 1:
                    pixels = pixels[:, :, 0]
                out.iat[i, out.columns.get_loc("content")] = (
                    encode_bmp(pixels) if fmt == "bmp" else encode_png(pixels)
                )
                meta = pdf["meta"].iloc[i]
                meta = dict(meta) if isinstance(meta, dict) else {}
                meta["width"], meta["height"] = width, height
                out.iat[i, out.columns.get_loc("meta")] = meta
            yield out

    resized = media.where(F.col("kind") == "image").mapInPandas(
        kernel, schema=media.schema
    )
    return resized.unionByName(media.where(F.col("kind") != "image"))


def frame_signatures(
    media: DataFrame, every: int = 10, window: int = 64
) -> DataFrame:
    """Per-sampled-frame content signature (the perceptual-hash analog on
    the stubbed codec): each kept frame hashes a ``window``-byte slice of
    the payload at its frame offset.  With a real codec the md5-of-slice
    becomes pHash-of-decoded-frame; the plan shape — metadata explode,
    payload sliced JVM-side, NO Python in the loop — is the production
    one either way.

    Output: (media_id, frame_idx, sig).  Entirely codegen (explode +
    substr + md5); payload bytes never leave the JVM.
    """
    vids = media.where(F.col("kind") == "video")
    payload = F.decode(F.col("content"), "UTF-8")
    frames = vids.select(
        "media_id",
        payload.alias("__payload"),
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
    )
    sig = F.md5(
        F.col("__payload").substr(F.col("frame_idx") + 1, F.lit(window))
    )
    return frames.select("media_id", "frame_idx", sig.alias("sig"))


def frame_dedup_groups(frames: DataFrame) -> DataFrame:
    """Cross-video duplicate-frame groups: frames sharing a signature,
    with a deterministic keeper (lexicographically smallest
    (media_id, frame_idx)).  One partial-aggregatable groupBy on the
    hash-uniform signature — the same no-skew shuffle shape as exact doc
    dedup (OP-48), applied at frame granularity."""
    keeper = F.min(F.struct("media_id", "frame_idx")).alias("__k")
    out = frames.groupBy("sig").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("media_id").alias("n_media"),
        keeper,
    )
    return out.where(F.col("n_frames") > 1).select(
        "sig",
        "n_frames",
        "n_media",
        F.col("__k.media_id").alias("keeper_media_id"),
        F.col("__k.frame_idx").alias("keeper_frame_idx"),
    )
