"""Multimodal column plumbing: opaque binary payloads + typed metadata.

North-star operator family. Convention: a modality column is
``binary`` (image/audio/video bytes) beside a ``map<string,string>``
metadata column (the reference's metadata-map convention,
`schema_manager.py:40`). The Spark-side plumbing — schema, Arrow batch
shape, partition-friendly mapInPandas signature — is real and tested;
the actual codec calls are STUBBED (image/audio libraries are not in
this container) behind ``decode_stub``: a deterministic fake that
derives "features" from the byte content, or NotImplementedError for
the real path. EXCEPTIONS — one REAL stdlib codec per modality: PNG
images (``operators/png.py``: zlib inflate + all five scanline
filters, any 8-bit gray/RGB/RGBA payload), PCM WAV audio
(``operators/wav.py``: RIFF chunk parse, 8/16-bit samples), and
uncompressed AVI video (``operators/avi.py``: nested RIFF LIST walk,
bottom-up padded BGR DIB frames) — plus further real image codecs:
baseline-sequential JPEG (``operators/jpeg.py``: canonical Huffman,
dequantize, IDCT, 4:2:0 upsample) and GIF87a/89a
(``operators/gif.py``: sub-block reassembly, full LZW with CLEAR
resets and 12-bit width growth, multi-frame rasters, palette
mapping). The stub remains only for byte formats that genuinely
require codec libraries this container lacks (progressive JPEG, MP3,
H.264, ...).

Scale notes: binary payloads ride in parquet alongside metadata, so
pruning/pushdown still applies to the metadata columns; decode runs in
mapInPandas (Arrow-batched, one Python worker per core, no
driver-side collection). Feature extraction over 100 TB of media is
scan-shaped: no shuffle at all until a later aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "id bigint, modality string, n_bytes int, checksum string, "
    "width int, height int, duration_ms int"
)


def attach_binary_payload(
    df: DataFrame, text_col: str, id_col: str, modality: str = "image"
) -> DataFrame:
    """Build a multimodal-shaped frame from a text table (test
    harness): payload = utf-8 bytes, metadata map with modality tag."""
    return df.select(
        F.col(id_col).alias("id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.create_map(
            F.lit("modality"), F.lit(modality),
            F.lit("source_col"), F.lit(text_col),
        ).alias("meta"),
    )


def read_binary_dir(
    spark,
    path: str,
    modality: str = "image",
    glob: str | None = None,
) -> DataFrame:
    """Load a directory of media files into the multimodal frame shape
    via Spark's binaryFile source: (id, payload, meta) where id is a
    deterministic 64-bit hash of the file path and meta carries
    modality/path/length.

    This is the real ingestion edge for image/audio/video corpora:
    binaryFile streams file bytes into executor-side rows (one file per
    row, driver never sees payloads), so the decode/feature/resize
    operators below run directly on what a 100 TB media crawl would
    look like. Use ``pathGlobFilter`` (``glob``) to select extensions;
    binaryFile also supports recursiveFileLookup for nested layouts.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    return raw.select(
        F.xxhash64("path").alias("id"),
        F.col("content").alias("payload"),
        F.create_map(
            F.lit("modality"), F.lit(modality),
            F.lit("path"), F.col("path"),
            F.lit("length"), F.col("length").cast("string"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes, modality: str) -> dict:
    """Deterministic fake decode. REAL DECODE NOT IMPLEMENTED —
    requires image/audio codecs not present in this container; swap
    this function for PIL/libav calls in production.

    The fake "features" are pure functions of the payload that any
    SQL engine can replay (codepoint sum of the first 16 chars of the
    UTF-8 decode + byte length), which is what lets the driver's
    DuckDB oracle check the mapInPandas plumbing end-to-end — schema,
    Arrow batch shape, row expansion — with exact values."""
    if modality not in ("image", "audio", "video"):
        raise NotImplementedError(f"unknown modality {modality!r}")
    n = len(payload)
    head = (
        sum(ord(c) for c in payload.decode("utf-8", "replace")[:16])
        if n
        else 0
    )
    if modality == "image":
        return {"width": 16 + head % 64, "height": 16 + n % 64, "duration_ms": 0}
    return {"width": 0, "height": 0, "duration_ms": 100 + (head + n) % 10_000}


def sum_image_stats(*images: dict) -> dict:
    """One row of pixel stats over several decoded images of a doc:
    pixel counts and channel sums add up, ``r_min``/``r_max`` take the
    extremes. Each image is a codec decoder's stats dict (bmp, tga,
    pcx, pnm). Pure Python, so executor-side decode loops can call
    it."""
    return {
        "n_images": len(images),
        "n_px": sum(im["n_px"] for im in images),
        "r_sum": sum(im["r_sum"] for im in images),
        "g_sum": sum(im["g_sum"] for im in images),
        "b_sum": sum(im["b_sum"] for im in images),
        "r_min": min(im["r_min"] for im in images),
        "r_max": max(im["r_max"] for im in images),
    }


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over (id, payload, meta) frames.

    Arrow-batched: each Python worker receives pandas batches, decodes
    per row (stub), and emits a typed feature frame. This is the
    canonical slow-path shape — batch-level Python, never row-at-a-time
    UDF, never collect().
    """
    import hashlib

    from local_stream_stack_spark.operators.gif import GIF_MAGICS
    from local_stream_stack_spark.operators.jpeg import JPEG_MAGIC
    from local_stream_stack_spark.operators.png import PNG_MAGIC, decode_image
    from local_stream_stack_spark.operators.wav import (
        RIFF_MAGIC,
        WAVE_MAGIC,
        decode_audio,
    )

    def _decode(p: bytes, m: str) -> dict:
        # real paths first: PNG, PCM-WAV, and uncompressed-AVI
        # payloads decode with the stdlib codecs; everything else
        # falls back to the clearly-marked stub (now only compressed
        # or foreign byte formats)
        if m == "image" and p[:8] == PNG_MAGIC:
            d = decode_image(p)
            return {"width": d["width"], "height": d["height"], "duration_ms": 0}
        if m == "image" and p[:2] == JPEG_MAGIC:
            from local_stream_stack_spark.operators.jpeg import (
                decode_image_jpeg,
            )

            j = decode_image_jpeg(p)
            return {"width": j["width"], "height": j["height"], "duration_ms": 0}
        if m == "image" and p[:6] in GIF_MAGICS:
            from local_stream_stack_spark.operators.gif import (
                decode_image_gif,
            )

            g = decode_image_gif(p)
            return {"width": g["width"], "height": g["height"], "duration_ms": 0}
        if m == "audio" and p[:4] == RIFF_MAGIC and p[8:12] == WAVE_MAGIC:
            a = decode_audio(p)
            return {"width": 0, "height": 0, "duration_ms": a["duration_ms"]}
        if m == "video" and p[:4] == RIFF_MAGIC and p[8:12] == b"AVI ":
            from local_stream_stack_spark.operators.avi import decode_video

            v = decode_video(p)
            return {
                "width": v["width"],
                "height": v["height"],
                "duration_ms": v["duration_ms"],
            }
        return decode_stub(p, m)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # column-at-a-time (no row boxing); only the codec call
            # itself is per-item — that is inherent to decoding
            payloads = [
                bytes(p) if p is not None else b"" for p in pdf["payload"]
            ]
            modalities = [
                (m or {}).get("modality", "image") for m in pdf["meta"]
            ]
            feats = [
                _decode(p, m) for p, m in zip(payloads, modalities)
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "modality": modalities,
                    "n_bytes": [len(p) for p in payloads],
                    "checksum": [hashlib.md5(p).hexdigest() for p in payloads],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "duration_ms": [f["duration_ms"] for f in feats],
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_stub(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic fake resize. REAL RESIZE NOT IMPLEMENTED — swap
    for PIL/opencv in production. The fake derives output bytes from
    (payload, target dims) so tests can assert determinism and
    size-dependence without a codec."""
    import hashlib

    seed = hashlib.md5(payload + f"{width}x{height}".encode()).digest()
    out_len = max(16, min(len(payload), (width * height) // 64))
    return (seed * (out_len // len(seed) + 1))[:out_len]


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """mapInPandas resize over (id, payload, meta): same schema out,
    payload replaced, meta annotated with the target dims. Scan-shaped
    (no shuffle); Arrow moves the binary columns in batches."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["payload"] = [
                resize_stub(bytes(p) if p is not None else b"", width, height)
                for p in out["payload"]
            ]
            out["meta"] = [
                {**(m or {}), "resized_to": f"{width}x{height}"}
                for m in out["meta"]
            ]
            yield out

    return df.mapInPandas(run, schema=df.schema)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """mapInPandas frame sampling: one input video row expands to one
    row per sampled frame (frame_idx, frame_ms, frame payload bytes).
    REAL FRAME EXTRACTION NOT IMPLEMENTED — the stub derives per-frame
    bytes from (payload, frame_idx); swap for libav in production.

    Row-expanding UDF shape: output cardinality = duration/every_ms
    per input, decided executor-side — the driver never sees payloads.
    """
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                bytes(p) if p is not None else b"" for p in pdf["payload"]
            ]
            modalities = [
                (m or {}).get("modality", "video") for m in pdf["meta"]
            ]
            rows = []
            for rid, payload, modality in zip(pdf["id"], payloads, modalities):
                duration = decode_stub(payload, modality)["duration_ms"]
                for idx, ms in enumerate(range(0, max(duration, 1), every_ms)):
                    rows.append(
                        {
                            "id": rid,
                            "frame_idx": idx,
                            "frame_ms": ms,
                            # fake frame bytes as a SQL-replayable pure
                            # function of (payload, idx) — see decode_stub
                            "frame": hashlib.md5(
                                payload + b"|" + str(idx).encode()
                            ).digest(),
                        }
                    )
            yield pd.DataFrame(rows, columns=["id", "frame_idx", "frame_ms", "frame"])

    return df.mapInPandas(
        run, schema="id bigint, frame_idx int, frame_ms int, frame binary"
    )
