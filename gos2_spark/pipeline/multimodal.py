"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct; the
Spark-side machinery (schemas, batch iteration via mapInPandas, partition
sizing) is real and tested. FOUR codecs decode FOR REAL, all pure
stdlib+numpy: PNG (png.py: zlib inflate + scanline unfilter), baseline
JPEG (jpeg.py: Huffman + dequant + IDCT, plus a marker/DQT parser that
reads any JPEG's metadata), WAV PCM audio (audio.py: RIFF walk +
8/16/24/32-bit decode), and MJPEG-in-AVI video (video.py: container walk
+ per-frame JPEG, sampled chunks only). Compressed audio/video codecs
(MP3/H.264/...) need torchaudio/pyav, absent in this container, so the
decode hooks raise NotImplementedError for them and the deterministic
fake (clearly marked) stands in. Swapping in another decoder changes one
function, not the pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, StringType, StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),        # image | audio | video
    StructField("mime", StringType()),
    StructField("payload", BinaryType()),
    StructField("meta_width", IntegerType()),  # typed metadata columns
    StructField("meta_height", IntegerType()),
    StructField("meta_duration_ms", IntegerType()),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("features", ArrayType(FloatType())),
])


def synth_media(spark, num_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = hash-derived bytes)."""
    return (
        spark.range(num_rows)
        .select(
            F.concat(F.lit("m"), F.col("id")).alias("media_id"),
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("kind"),
            F.lit("application/octet-stream").alias("mime"),
            F.sha2(F.concat(F.lit(seed), F.col("id")), 256).cast("binary").alias("payload"),
            (F.col("id") % 640 + 16).cast("int").alias("meta_width"),
            (F.col("id") % 480 + 16).cast("int").alias("meta_height"),
            (F.col("id") % 90000).cast("int").alias("meta_duration_ms"),
        )
    )


def synth_media_png(spark, num_rows: int, max_side: int = 24) -> DataFrame:
    """Deterministic REAL-PNG media table: payload is a valid PNG whose
    pixel (y, x, c) = (id + y * W + x + c) mod 256 — encoded distributed
    (pandas UDF, one encode per row inside executors, never the driver).
    Channel count cycles 1/3/4 by id so gray/RGB/RGBA all appear."""
    import pandas as pd  # noqa: F811 (kept local for the UDF closure)

    from ..spark.functions import pandas_udf
    from .png import encode_png

    @pandas_udf(BinaryType())
    def _enc(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w = i % max_side + 2
            h = (i * 7) % max_side + 2
            ch = (1, 3, 4)[i % 3]
            base = np.arange(h * w * ch, dtype=np.int64).reshape(h, w, ch)
            out.append(encode_png(((base + i) % 256).astype(np.uint8)))
        return pd.Series(out)

    return (
        spark.range(num_rows)
        .select(
            F.concat(F.lit("png"), F.col("id")).alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("image/png").alias("mime"),
            _enc(F.col("id")).alias("payload"),
            (F.col("id") % max_side + 2).cast("int").alias("meta_width"),
            ((F.col("id") * 7) % max_side + 2).cast("int").alias("meta_height"),
            F.lit(0).cast("int").alias("meta_duration_ms"),
        )
    )


def synth_media_jpeg(spark, num_rows: int, max_side: int = 24,
                     quality: int = 92) -> DataFrame:
    """Deterministic REAL-JPEG media table: payload is a valid baseline
    JFIF stream of a smooth gradient image (pixel (y, x, c) derived from
    id), encoded distributed via a pandas UDF (one encode per row inside
    executors). Channel count cycles gray/RGB by id."""
    import pandas as pd  # noqa: F811 (kept local for the UDF closure)

    from ..spark.functions import pandas_udf
    from .jpeg import encode_jpeg

    @pandas_udf(BinaryType())
    def _enc(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w = i % max_side + 8
            h = (i * 5) % max_side + 8
            ch = (1, 3)[i % 2]
            yy, xx = np.mgrid[0:h, 0:w]
            base = np.stack(
                [(yy * (c + 2) + xx + i) % 256 for c in range(ch)], axis=-1
            ).astype(np.uint8)
            out.append(encode_jpeg(base, quality=quality))
        return pd.Series(out)

    return (
        spark.range(num_rows)
        .select(
            F.concat(F.lit("jpg"), F.col("id")).alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("image/jpeg").alias("mime"),
            _enc(F.col("id")).alias("payload"),
            (F.col("id") % max_side + 8).cast("int").alias("meta_width"),
            ((F.col("id") * 5) % max_side + 8).cast("int").alias("meta_height"),
            F.lit(0).cast("int").alias("meta_duration_ms"),
        )
    )


def synth_media_wav(spark, num_rows: int, max_frames: int = 50,
                    sample_rate: int = 8000) -> DataFrame:
    """Deterministic REAL-WAV media table: payload is a valid RIFF PCM
    stream whose int16 sample (k, c) = ((id*31 + k*7 + c*13) % 65536)
    - 32768, encoded distributed. Channel count cycles mono/stereo."""
    import pandas as pd  # noqa: F811 (kept local for the UDF closure)

    from ..spark.functions import pandas_udf
    from .audio import encode_wav

    @pandas_udf(BinaryType())
    def _enc(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            n = i % max_frames + 20
            ch = (1, 2)[i % 2]
            k = np.arange(n, dtype=np.int64)[:, None]
            c = np.arange(ch, dtype=np.int64)[None, :]
            s = ((i * 31 + k * 7 + c * 13) % 65536 - 32768).astype(np.int16)
            out.append(encode_wav(s, sample_rate=sample_rate))
        return pd.Series(out)

    return (
        spark.range(num_rows)
        .select(
            F.concat(F.lit("wav"), F.col("id")).alias("media_id"),
            F.lit("audio").alias("kind"),
            F.lit("audio/wav").alias("mime"),
            _enc(F.col("id")).alias("payload"),
            F.lit(0).cast("int").alias("meta_width"),
            F.lit(0).cast("int").alias("meta_height"),
            (((F.col("id") % max_frames) + 20) * 1000 / sample_rate)
            .cast("int").alias("meta_duration_ms"),
        )
    )


def synth_media_avi(spark, num_rows: int, fps: float = 25.0) -> DataFrame:
    """Deterministic REAL-MJPEG-AVI media table: each payload is a valid
    AVI whose frame f is a constant-gray image of value
    (id*37 + f*11) % 256 — constant 8x8 blocks survive quality-95 JPEG
    EXACTLY (DC-only, quant step 2), so per-frame means are integers an
    oracle can reconstruct. Encoded distributed via a pandas UDF."""
    import pandas as pd  # noqa: F811 (kept local for the UDF closure)

    from ..spark.functions import pandas_udf
    from .video import encode_avi_mjpeg

    @pandas_udf(BinaryType())
    def _enc(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w = i % 16 + 8
            h = (i * 3) % 16 + 8
            n = i % 8 + 3
            frames = [
                np.full((h, w), (i * 37 + f * 11) % 256, dtype=np.uint8)
                for f in range(n)
            ]
            out.append(encode_avi_mjpeg(frames, fps=fps, quality=95))
        return pd.Series(out)

    return (
        spark.range(num_rows)
        .select(
            F.concat(F.lit("avi"), F.col("id")).alias("media_id"),
            F.lit("video").alias("kind"),
            F.lit("video/x-msvideo").alias("mime"),
            _enc(F.col("id")).alias("payload"),
            (F.col("id") % 16 + 8).cast("int").alias("meta_width"),
            ((F.col("id") * 3) % 16 + 8).cast("int").alias("meta_height"),
            (((F.col("id") % 8) + 3) * 1000 / F.lit(fps))
            .cast("int").alias("meta_duration_ms"),
        )
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_real(payload: bytes, kind: str) -> np.ndarray:
    """The real decoder hook: bytes -> (H, W, C) uint8 pixel array.

    TWO image codecs decode FOR REAL here, no image library needed:
    PNG (pure stdlib zlib inflate + scanline unfilter, png.py) and
    baseline JPEG (marker walk + DHT Huffman decode + dequant + IDCT,
    jpeg.py; 4:4:4 and grayscale — progressive/subsampled streams raise).
    Audio/video codecs require torchaudio / pyav, absent in this
    container, and raise NotImplementedError; a production deployment adds
    them here and the surrounding mapInPandas pipeline is unchanged.
    """
    b = bytes(payload)
    if kind == "image" and b[:8] == _PNG_SIG:
        from .png import decode_png

        return decode_png(b)
    if kind == "image" and b[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(b)
    raise NotImplementedError(
        f"no decoder for kind={kind!r} payload head={b[:4]!r} in this "
        "environment (PNG and baseline JPEG are supported); use "
        "extract_features(deterministic_fake=True) for opaque payloads"
    )


def decode_audio_real(payload: bytes) -> np.ndarray:
    """The real AUDIO decoder hook: bytes -> (n_frames, channels) float64
    waveform in [-1, 1). WAV/RIFF PCM decodes FOR REAL (pure stdlib struct
    + numpy reshape, audio.py); compressed codecs (MP3/AAC/OGG) need
    torchaudio/pyav, absent here, and raise NotImplementedError."""
    b = bytes(payload)
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        from .audio import decode_wav

        return decode_wav(b)
    raise NotImplementedError(
        f"no audio decoder for payload head={b[:4]!r} (WAV PCM is supported)"
    )


def decode_video_real(payload: bytes, every_ms: int = 1000):
    """The real VIDEO decoder hook: bytes -> (container info, sampled
    frame arrays). MJPEG-in-AVI decodes FOR REAL (RIFF walk + per-frame
    baseline JPEG, video.py) and only the SAMPLED frame chunks are
    decoded; interframe codecs (H.264/VP9/...) need pyav, absent here,
    and raise NotImplementedError."""
    b = bytes(payload)
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        from .video import sample_avi_frames

        return sample_avi_frames(b, every_ms=every_ms)
    raise NotImplementedError(
        f"no video decoder for payload head={b[:4]!r} (MJPEG AVI is supported)"
    )


def _fake_decode_batch(payloads: pd.Series, dim: int) -> np.ndarray:
    """Deterministic fake 'decode': features derived from payload bytes.

    Stands in for the decoder so the distributed plumbing (Arrow batches,
    schema, partitioning) is exercised end to end with reproducible values.
    """
    out = np.zeros((len(payloads), dim), dtype=np.float32)
    for i, p in enumerate(payloads):
        b = np.frombuffer(bytes(p), dtype=np.uint8)
        reps = int(np.ceil(dim / len(b)))
        out[i] = (np.tile(b, reps)[:dim].astype(np.float32) - 127.5) / 127.5
    return out


def extract_features(
    media: DataFrame,
    feature_dim: int = 64,
    frame_sample_every_ms: int = 1000,
    deterministic_fake: bool = True,
    batch_size_hint: int = 256,
) -> DataFrame:
    """media table -> per-item feature rows via mapInPandas.

    The generator iterates Arrow batches (bounded memory per task — required
    for multi-MB payloads at scale); video rows fan out to sampled frames.
    """
    def _real_row(payload: bytes, kind: str) -> tuple[int, int, int, list]:
        # per-channel mean then std, zero-padded to feature_dim — a fixed,
        # decoder-independent contract the tests and oracles can reproduce
        f = np.zeros(feature_dim, dtype=np.float32)
        if kind == "audio":
            wav = decode_audio_real(payload)  # (n_frames, channels) float
            n, ch = wav.shape
            f[:ch] = wav.mean(axis=0)
            f[ch:2 * ch] = wav.std(axis=0)
            # audio convention: width = channel count, height = 0,
            # n_frames = PCM frame count
            return ch, 0, n, f.tolist()
        if kind == "video":
            info, frames = decode_video_real(
                payload, every_ms=frame_sample_every_ms
            )
            ch = frames[0].shape[2]
            px = np.concatenate(
                [fr.reshape(-1, ch) for fr in frames]
            ).astype(np.float64)
            f[:ch] = px.mean(axis=0)
            f[ch:2 * ch] = px.std(axis=0)
            # video convention: container dims, n_frames = SAMPLED frames
            return info["width"], info["height"], len(frames), f.tolist()
        img = decode_real(payload, kind)  # (H, W, C) uint8
        h, w, ch = img.shape
        px = img.reshape(-1, ch).astype(np.float64)
        f[:ch] = px.mean(axis=0)
        f[ch:2 * ch] = px.std(axis=0)
        return w, h, 1, f.tolist()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            if deterministic_fake:
                feats = list(_fake_decode_batch(pdf["payload"], feature_dim))
                widths = pdf["meta_width"].astype("int32")
                heights = pdf["meta_height"].astype("int32")
            else:
                decoded = [
                    _real_row(p, k)
                    for p, k in zip(pdf["payload"], pdf["kind"])
                ]
                widths = pd.Series([d[0] for d in decoded], dtype="int32")
                heights = pd.Series([d[1] for d in decoded], dtype="int32")
                feats = [d[3] for d in decoded]
            if deterministic_fake:
                n_frames = np.where(
                    pdf["kind"].to_numpy() == "video",
                    np.maximum(
                        1,
                        pdf["meta_duration_ms"].to_numpy()
                        // frame_sample_every_ms,
                    ),
                    1,
                ).astype(np.int32)
            else:
                n_frames = np.array(
                    [d[2] for d in decoded], dtype=np.int32
                )
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "width": widths,
                "height": heights,
                "n_frames": n_frames,
                "features": feats,
            })

    from ..spark.functions import dropping_zip_importers

    return media.mapInPandas(dropping_zip_importers(gen), schema=FEATURE_SCHEMA)

