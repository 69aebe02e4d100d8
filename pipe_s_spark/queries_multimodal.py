"""Multimodal queries over binary image/video/audio columns (deterministic fake codecs; real Spark-side plumbing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_s_spark.sources import load_table

from pipe_s_spark.queries_llm_shared import (
    _mm_byte,
)




# --- multimodal (oracle-checked via the deterministic fake codecs) -------


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-asset decode pipeline, end-to-end oracle-checked: binary
    assets synthesized from documents, mapInPandas decode kernel
    (deterministic sha256 fake standing in for PIL/torchvision), scalar
    outputs + a float64 checksum over the 16-dim feature vector. The
    plumbing (blob-free pruning, Arrow batch bounds, kernel schema) is
    the production path; only the codec body is the documented fake."""
    from pipe_s_spark.functions import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    assets = M.synthesize_assets(docs)
    feats = M.extract_image_features(assets)
    return feats.select(
        "asset_id",
        "width",
        "height",
        "n_channels",
        F.round(
            F.aggregate("features", F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("feat_sum"),
    )


SQL_MULTIMODAL_IMAGE = f"""
WITH assets AS (
    SELECT doc_id AS asset_id, sha256(repeat(md5(text), 8)) AS h
    FROM documents WHERE doc_id % 3 = 0
)
SELECT asset_id,
       CAST(64 + {_mm_byte(0)} % 192 AS INTEGER) AS width,
       CAST(64 + {_mm_byte(1)} % 192 AS INTEGER) AS height,
       3 AS n_channels,
       ROUND(list_sum(list_transform(generate_series(0, 15),
             i -> CAST(CAST(CAST(('0x' || substr(h, 2*i+1, 2)) AS INTEGER) / 255.0 - 0.5 AS REAL) AS DOUBLE))), 6) AS feat_sum
FROM assets
"""


def q_multimodal_frame_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling pipeline (one row -> N frames through
    mapInPandas), oracle-checked on per-frame md5 digests."""
    from pipe_s_spark.functions import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    assets = M.synthesize_assets(docs)
    frames = M.sample_video_frames(assets, n_frames=4)
    return frames.select("asset_id", "frame_idx", F.md5("frame_bytes").alias("digest"))


SQL_MULTIMODAL_FRAMES = """
WITH assets AS (
    SELECT doc_id AS asset_id, repeat(md5(text), 8) AS content
    FROM documents WHERE doc_id % 3 = 2
)
SELECT asset_id, CAST(i AS INTEGER) AS frame_idx,
       md5(substr(content, i * 64 + 1, 64)) AS digest
FROM assets, generate_series(0, 3) AS t(i)
"""


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-asset decode pipeline with a REAL codec: deterministic PCM
    WAV blobs are synthesized per audio-modality document (seeded by
    md5(text)), then ``parse_wav_header`` — a genuine RIFF chunk walker,
    pure Python, no codec dependency — recovers sample rate / channels /
    bit depth / frame count and computes RMS loudness over the int16
    samples. The oracle predicts every field ANALYTICALLY from the
    synthesis formula, so any parsing bug (chunk offsets, pad bytes,
    little-endian fields, sample decode) breaks parity; samples are
    exact multiples of 2^-7 so the RMS is bit-identical on both sides."""
    from pipe_s_spark.functions import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    assets = M.synthesize_audio_assets(docs)
    feats = M.extract_audio_features(assets)
    return feats.select(
        "asset_id",
        "sample_rate",
        "n_channels",
        "bits_per_sample",
        "n_frames",
        "duration_ms",
        F.round("rms", 6).alias("rms"),
    )


SQL_MULTIMODAL_AUDIO = """
WITH p AS (
    SELECT doc_id AS asset_id,
           md5(text) AS h,
           CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) AS b0,
           CAST(('0x' || substr(md5(text), 3, 2)) AS INTEGER) AS b1
    FROM documents WHERE doc_id % 3 = 1
), d AS (
    SELECT asset_id, h,
           (ARRAY[8000, 16000, 22050, 44100])[(b0 % 4) + 1] AS rate,
           8 * (1 + b1 % 32) AS nf
    FROM p
)
SELECT asset_id,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(CASE WHEN h IS NULL THEN NULL ELSE 1 END AS INTEGER) AS n_channels,
       CAST(CASE WHEN h IS NULL THEN NULL ELSE 16 END AS INTEGER) AS bits_per_sample,
       CAST(nf AS BIGINT) AS n_frames,
       CAST((nf * 1000) // rate AS BIGINT) AS duration_ms,
       ROUND(sqrt(list_sum(list_transform(generate_series(0, 7),
             i -> pow((CAST(('0x' || substr(h, 2*i+1, 2)) AS INTEGER) - 128) / 128.0, 2))) / 8), 6) AS rms
FROM d
"""


QUERIES = {
    q_multimodal_image_features: SQL_MULTIMODAL_IMAGE,
    q_multimodal_frame_digests: SQL_MULTIMODAL_FRAMES,
    q_multimodal_audio_features: SQL_MULTIMODAL_AUDIO,
}
