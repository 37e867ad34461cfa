"""Multimodal column plumbing: opaque binary payloads + typed
metadata, processed with Arrow-batched mapInPandas. Payloads are
bytes, not vector columns, so they stay on the pandas batch path;
vector columns cross the boundary through operators/arrowvec.

The pattern a 100 TB multimodal pipeline needs: media stored as
``binary`` columns (or object-store URIs) beside structured metadata;
decode / feature-extract / resize / frame-sample run as vectorized
Python over Arrow batches, with batch size controlled by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of images
fits in executor memory.

The actual codec step is STUBBED — image/audio libraries are not
engine dependencies — behind ``decode_media``: real Spark plumbing
(schema, batching, partitioning), deterministic fake decode. Swapping
in a real codec changes only the inside of that one function.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta_source", T.StringType()),
        T.StructField("meta_lang", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("first_cp", T.IntegerType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)


def decode_media(payload: bytes, media_type: str) -> dict:
    """STUB codec. Real deployment: PIL/libav decode here.

    Deterministic fake: byte-level features only, so the Spark-side
    plumbing (Arrow transfer, batch shapes, schema) is fully testable
    and oracle-checkable without media libraries installed.
    """
    if media_type not in ("text", "image", "audio", "video"):
        raise NotImplementedError(f"unknown media type {media_type!r}")
    # first_cp: code point of the first decoded character (-1 for an
    # empty payload). Code point, not raw byte, so the DuckDB oracle
    # (ascii(text)) is exact for non-ASCII payloads too.
    return {
        "n_bytes": len(payload),
        "first_cp": (
            ord(payload.decode("utf-8", errors="replace")[0]) if payload else -1
        ),
        "payload_md5": hashlib.md5(payload).hexdigest(),
    }


def extract_features(
    media: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow moves each batch JVM->Python as one buffer; the iterator
    form streams batches so a partition never materializes fully in
    Python memory — the shape that holds at 100 TB.

    ``carry`` names metadata columns copied through to the output
    (types taken from the input schema), so a decode->aggregate
    pipeline groups on metadata in ONE scan instead of re-scanning
    the media table and joining the features back on media_id (the
    two-scans-plus-join shape the r12 review flagged in
    q_multimodal_stats).
    """
    in_schema = media.schema
    out_schema = T.StructType(
        list(FEATURE_SCHEMA.fields) + [in_schema[c] for c in carry]
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                decode_media(p, t)
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "media_type", pdf["media_type"].values)
            for c in carry:
                out[c] = pdf[c].values
            yield out

    return media.mapInPandas(_batches, out_schema)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def resize_media(payload: bytes, media_type: str, w: int, h: int) -> bytes:
    """STUB resize. Real deployment: PIL thumbnail / libswscale here.

    Deterministic fake: truncate-or-cycle the byte stream to w*h bytes,
    preserving the (payload, target-shape) -> bytes contract so batch
    shapes and memory behavior are real."""
    if media_type not in ("text", "image", "audio", "video"):
        raise NotImplementedError(f"unknown media type {media_type!r}")
    n = w * h
    if not payload:
        return b"\x00" * n
    reps = -(-n // len(payload))
    return (payload * reps)[:n]


def resize_batch(media: DataFrame, w: int = 8, h: int = 8) -> DataFrame:
    """mapInPandas resize: every payload mapped to a fixed w x h byte
    buffer — the image-normalization stage of a multimodal pipeline
    (output rows are fixed-size, so downstream batches are uniform)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": w,
                    "height": h,
                    "resized": [
                        resize_media(p, t, w, h)
                        for p, t in zip(pdf["payload"], pdf["media_type"])
                    ],
                }
            )

    return media.mapInPandas(_batches, RESIZE_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4, frame_size: int = 16) -> DataFrame:
    """mapInPandas frame sampling: each payload split into n_frames
    evenly-spaced fixed-size windows (the video keyframe-sampling
    shape: one input row -> n output rows, 1:N flatMap through Arrow).
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                ln = max(len(p), 1)
                for f in range(n_frames):
                    off = (f * ln) // n_frames
                    chunk = bytes(p[off : off + frame_size])
                    frames.append(chunk + b"\x00" * (frame_size - len(chunk)))
                    ids.append(mid)
                    idxs.append(f)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(_batches, FRAME_SCHEMA)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter: view the documents table as a multimodal media table
    (utf-8 payload bytes + metadata). Real pipelines read parquet with
    a true binary column; the operator surface is identical."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.col("source").alias("meta_source"),
        F.col("lang").alias("meta_lang"),
    )
