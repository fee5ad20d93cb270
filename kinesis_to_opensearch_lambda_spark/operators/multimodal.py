"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side plumbing is real — schemas, Arrow-batched
``mapInPandas`` operators, partitioning discipline — while the actual
codec work is a deterministic fake (no image/audio codec library is a
dependency), so the pipeline shape is fully testable.

Scale notes: binary payloads ride in the same row as their metadata, so
filters on metadata prune *before* bytes move (select the metadata
columns only and Parquet never reads the blob pages).  Per-batch Arrow
transfer in mapInPandas amortizes serialization; frame extraction fans
out rows, so the operator repartitions by doc afterwards if a shuffle
key is needed downstream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FRAME_SCHEMA = "doc_id bigint, frame_idx int, byte_offset bigint"


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Test-table adapter: materialize an opaque binary column (the
    UTF-8 bytes of the text) plus typed metadata, the shape a real
    image/audio table would have."""
    return df.select(
        "*",
        F.col(text_col).cast("binary").alias("payload"),
        F.octet_length(text_col).alias("n_bytes"),
        F.lower(F.hex(F.substring(text_col, 1, 4).cast("binary"))).alias("header_hex"),
        F.md5(text_col).alias("checksum"),
    )


def fake_decode_meta(n_bytes: int) -> tuple[int, int]:
    """Deterministic fake of a decoded image's (width, height) — keeps
    the plumbing testable without codecs."""
    return (n_bytes % 64 + 16, (n_bytes // 7) % 64 + 16)


def extract_frames(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Frame-sampling operator over binary payloads via ``mapInPandas``.

    Real Arrow-batched plumbing: each pandas batch fans out one row per
    sampled frame (``n_bytes % 5 + 1`` frames — deterministic fake of a
    video keyframe index; a real decoder drops into ``_frames_of``
    unchanged).  Output schema is fixed (FRAME_SCHEMA) so downstream
    relational ops compose.
    """

    def _frames_of(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            n_frames = pdf["n_bytes"].to_numpy() % 5 + 1
            doc_ids = pdf[id_col].to_numpy().repeat(n_frames)
            frame_idx = [i for n in n_frames for i in range(n)]
            out = pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "frame_idx": pd.array(frame_idx, dtype="int32"),
                }
            )
            out["byte_offset"] = out["frame_idx"].astype("int64") * 4096
            yield out

    return df.select(id_col, "n_bytes").mapInPandas(_frames_of, FRAME_SCHEMA)


SKETCH_SCHEMA = "doc_id bigint, phash bigint"
_SKETCH_BITS = 60


def payload_parity_sketch(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """60-bit near-dup sketch of an opaque binary payload, computed in
    Arrow-batched ``mapInPandas`` (the codec seam: a DCT perceptual
    hash over decoded pixels drops into ``_sketch_of`` unchanged).

    Content-defined chunking (split on the 0x20 delimiter byte) hashes
    each chunk to one of 60 buckets (md5, engine-portable); bit *i* of
    the sketch is the PARITY of bucket *i*'s chunk count.  Editing one
    chunk therefore flips at most 2 bits — the locality property that
    makes banded-hamming candidate generation work — while unrelated
    payloads differ in ~30 of 60 uniform bits.
    """
    import hashlib

    def _sketch_of(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            hashes = []
            for payload in pdf["payload"]:
                counts = [0] * _SKETCH_BITS
                for chunk in bytes(payload).split(b" "):
                    h = int(hashlib.md5(chunk).hexdigest()[:15], 16) % _SKETCH_BITS
                    counts[h] ^= 1
                phash = 0
                for i, parity in enumerate(counts):
                    phash |= parity << i
                hashes.append(phash)
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "phash": pd.array(hashes, dtype="int64")}
            )

    return df.select(id_col, "payload").mapInPandas(_sketch_of, SKETCH_SCHEMA)
