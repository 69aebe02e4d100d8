"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched kernels.

The Spark-side architecture is the real deliverable here and is fully
tested: binary payload + metadata struct schema, mapInPandas kernels
with explicit output schemas, partition-size control for memory-bounded
decode. Image/video codec work is stubbed deterministically because
this environment has no imaging libraries — each stub documents the
production swap (PIL/torchvision/ffmpeg) and fakes in a clearly-marked
way. The audio path is REAL for integer-PCM WAV (``parse_wav_header``
is a full RIFF chunk walker, pure Python); only compressed codecs need
the soundfile/librosa swap.

At 100 TB: binary columns ride parquet fine (they're just byte arrays);
the rules that matter are (a) keep metadata in separate scalar columns
so pruning/filtering never touches the blobs, (b) decode in mapInPandas
with small maxRecordsPerBatch so executor memory is bounded by
batch_rows x max_asset_size, (c) emit features, never decoded rasters,
across shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def synthesize_assets(docs: DataFrame, modality_mod: int = 3) -> DataFrame:
    """Deterministic fake assets derived from the documents table —
    the test stand-in for an ingested binary corpus."""
    modality = (
        F.when(F.col("doc_id") % modality_mod == 0, "image")
        .when(F.col("doc_id") % modality_mod == 1, "audio")
        .otherwise("video")
    )
    content = F.encode(F.repeat(F.md5(F.col("text")), 8), "utf-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.concat(F.lit("application/x-fake-"), modality).alias("mime"),
        F.length(content).cast("long").alias("n_bytes"),
        content.alias("content"),
    )


IMAGE_FEATURES_SCHEMA = (
    "asset_id long, width int, height int, n_channels int, features array<float>"
)


def decode_image_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: decode image blobs -> dimensions + feature
    vector.

    STUB: no imaging library in this container. Production swap:
    ``PIL.Image.open(io.BytesIO(b))`` + a torchvision encoder. The fake
    derives deterministic dims/features from the bytes so the plumbing
    (schemas, batching, null handling) is fully exercised.
    """
    import hashlib

    def fake_decode(b: bytes | None):
        if b is None:
            return None
        h = hashlib.sha256(b).digest()
        width = 64 + h[0] % 192
        height = 64 + h[1] % 192
        feats = [((h[i] / 255.0) - 0.5) for i in range(16)]
        return width, height, 3, feats

    for pdf in batches:
        out = {"asset_id": [], "width": [], "height": [], "n_channels": [], "features": []}
        for aid, blob in zip(pdf["asset_id"], pdf["content"]):
            d = fake_decode(blob)
            out["asset_id"].append(aid)
            if d is None:
                out["width"].append(None)
                out["height"].append(None)
                out["n_channels"].append(None)
                out["features"].append(None)
            else:
                w, hgt, c, f = d
                out["width"].append(w)
                out["height"].append(hgt)
                out["n_channels"].append(c)
                out["features"].append(f)
        yield pd.DataFrame(out)


FRAME_SAMPLE_SCHEMA = "asset_id long, frame_idx int, frame_bytes binary"


def frame_sample_batch(n_frames: int = 4):
    """Kernel factory: sample N 'frames' from each video blob.

    STUB: production swap is ffmpeg/pyav keyframe extraction; the fake
    slices the blob into equal chunks (real plumbing: one input row ->
    many output rows through mapInPandas)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"asset_id": [], "frame_idx": [], "frame_bytes": []}
            for aid, blob in zip(pdf["asset_id"], pdf["content"]):
                if blob is None:
                    continue
                step = max(1, len(blob) // n_frames)
                for i in range(n_frames):
                    rows["asset_id"].append(aid)
                    rows["frame_idx"].append(i)
                    rows["frame_bytes"].append(bytes(blob[i * step : (i + 1) * step]))
            yield pd.DataFrame(rows)

    return kernel


def parse_wav_header(b: bytes | None) -> tuple | None:
    """Parse a RIFF/WAVE PCM file: returns (sample_rate, n_channels,
    bits_per_sample, n_frames, pcm_bytes) or None if the blob is not a
    well-formed PCM WAV.

    This is a REAL parser (pure Python, no codec dependency): it walks
    the RIFF chunk list generically — unknown chunks (LIST, JUNK, ...)
    are skipped by their declared size, odd-sized chunks honor the RIFF
    pad byte — and only accepts audio_format=1 (integer PCM).
    Compressed formats (mp3/ogg/aac) still need the production codec
    swap (soundfile/librosa); for those this returns None and
    ``decode_audio_batch`` emits a null feature row, same as the image
    kernel's null-blob convention.
    """
    import struct

    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    fmt = None
    data = None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF pads odd chunks to even
    if fmt is None or data is None:
        return None
    audio_format, n_channels, sample_rate, _byte_rate, block_align, bits = fmt
    if audio_format != 1 or n_channels < 1 or sample_rate < 1 or bits % 8:
        return None
    frame_bytes = block_align or n_channels * (bits // 8)
    if frame_bytes == 0:
        return None
    return sample_rate, n_channels, bits, len(data) // frame_bytes, data


AUDIO_FEATURES_SCHEMA = (
    "asset_id long, sample_rate int, n_channels int, bits_per_sample int, "
    "n_frames long, duration_ms long, rms double"
)


def decode_audio_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for audio: sample rate / channels / duration /
    loudness (RMS over int16 PCM samples, normalized to [-1, 1]).

    The header walk and PCM decode are real (``parse_wav_header``);
    only non-PCM codecs need the production swap (soundfile/librosa),
    in which case the row comes back null rather than failing the job.
    """
    import math
    import struct

    for pdf in batches:
        out = {k: [] for k in (
            "asset_id", "sample_rate", "n_channels", "bits_per_sample",
            "n_frames", "duration_ms", "rms",
        )}
        for aid, blob in zip(pdf["asset_id"], pdf["content"]):
            parsed = parse_wav_header(bytes(blob) if blob is not None else None)
            out["asset_id"].append(aid)
            if parsed is None:
                for k in ("sample_rate", "n_channels", "bits_per_sample",
                          "n_frames", "duration_ms", "rms"):
                    out[k].append(None)
                continue
            rate, ch, bits, n_frames, data = parsed
            rms = None
            if bits == 16 and len(data) >= 2:
                n = len(data) // 2
                samples = struct.unpack(f"<{n}h", data[: 2 * n])
                rms = math.sqrt(sum((s / 32768.0) ** 2 for s in samples) / n)
            out["sample_rate"].append(rate)
            out["n_channels"].append(ch)
            out["bits_per_sample"].append(bits)
            out["n_frames"].append(n_frames)
            out["duration_ms"].append(n_frames * 1000 // rate)
            out["rms"].append(rms)
        yield pd.DataFrame(out)


def extract_audio_features(assets: DataFrame, batch_rows: int = 256) -> DataFrame:
    """Decode audio assets into scalar features, memory-bounded the same
    way as the image path (Arrow batch rows cap peak decode memory)."""
    spark = assets.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
    audio = assets.filter(F.col("modality") == "audio")
    return audio.mapInPandas(decode_audio_batch, schema=AUDIO_FEATURES_SCHEMA)


def synthesize_wav(seed_hex: str) -> bytes:
    """Deterministic PCM-WAV blob from a 32-char md5 hex seed — the test
    stand-in for an ingested audio corpus. Parameters and samples derive
    from the seed so an analytic oracle can predict every decoded field:

    - sample_rate = [8000, 16000, 22050, 44100][b0 % 4]
    - mono, 16-bit; n_frames = 8 * (1 + b1 % 32)
    - samples repeat an 8-sample period: s_i = (b_i - 128) * 256 over
      the first 8 digest bytes (so RMS equals one period's RMS)
    - when b0 is even a junk LIST chunk precedes fmt/data, so the
      oracle also covers the chunk-walker's skip path
    """
    import struct

    bs = bytes.fromhex(seed_hex)
    rate = (8000, 16000, 22050, 44100)[bs[0] % 4]
    n_frames = 8 * (1 + bs[1] % 32)
    period = [(bs[i] - 128) * 256 for i in range(8)]
    data = struct.pack(f"<{n_frames}h", *(period[i % 8] for i in range(n_frames)))
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b""
    if bs[0] % 2 == 0:
        junk = b"not-audio-metadata!"  # odd size: exercises the pad byte
        chunks += b"LIST" + struct.pack("<I", len(junk)) + junk + b"\x00"
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synthesize_audio_assets(docs: DataFrame, modality_mod: int = 3) -> DataFrame:
    """Audio-slice counterpart of ``synthesize_assets``: real WAV blobs
    (``synthesize_wav`` seeded by md5(text)) for the audio-modality
    documents, built in a mapInPandas kernel (binary construction is not
    expressible as a Catalyst expression)."""
    import hashlib

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # null text -> null blob (matches md5(NULL) = NULL oracles)
            blobs = [
                None if t is None else synthesize_wav(hashlib.md5(t.encode()).hexdigest())
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "modality": "audio",
                    "mime": "audio/x-wav",
                    "n_bytes": [None if b is None else len(b) for b in blobs],
                    "content": blobs,
                }
            )

    audio_docs = docs.filter(F.col("doc_id") % modality_mod == 1).select("doc_id", "text")
    return audio_docs.mapInPandas(
        kernel,
        schema="asset_id long, modality string, mime string, n_bytes long, content binary",
    )


def extract_image_features(assets: DataFrame, batch_rows: int = 256) -> DataFrame:
    """Decode image assets into features, memory-bounded.

    Repartitioning by asset_id spreads blobs evenly; Arrow batch size
    caps peak decode memory at batch_rows x max_asset_bytes.
    """
    spark = assets.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
    images = assets.filter(F.col("modality") == "image")
    return images.mapInPandas(decode_image_batch, schema=IMAGE_FEATURES_SCHEMA)


def sample_video_frames(assets: DataFrame, n_frames: int = 4) -> DataFrame:
    videos = assets.filter(F.col("modality") == "video")
    return videos.mapInPandas(frame_sample_batch(n_frames), schema=FRAME_SAMPLE_SCHEMA)
