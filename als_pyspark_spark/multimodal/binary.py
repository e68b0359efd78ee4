"""Multimodal column plumbing: opaque binary payloads + typed metadata.

No image/audio/video libraries are available, so the DECODE step is a
deterministic fake (byte-level features, byte-slice frames) — but the
Spark-side plumbing is real and the part that matters at 100 TB:

- payloads live in a BINARY column, never in driver memory;
- metadata is a typed STRUCT column (format, n_bytes) so pruning works —
  a metadata-only query never reads the payload bytes;
- feature extraction runs via mapInPandas (Arrow-batched), the correct
  shape for wrapping Pillow/torchvision/ffmpeg later: per-batch decode,
  schema declared up front, partition-parallel.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, head_hash STRING, fake_mean_luma DOUBLE"
)


def with_binary_payload(documents: DataFrame) -> DataFrame:
    """Make a multimodal table from documents: text bytes stand in for an
    encoded image; metadata struct carries format + size."""
    return documents.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("fake/utf8").alias("format"),
            F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_features(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for decode→feature-extract on one Arrow batch.

    n_bytes/head_hash are honest byte-level features; fake_mean_luma is a
    deterministic stand-in for a pixel statistic (mean byte value / 255).
    """
    payloads = batch["payload"]
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "n_bytes": payloads.map(len).astype("int64"),
            "head_hash": payloads.map(
                lambda b: hashlib.md5(bytes(b)[:16]).hexdigest()
            ),
            "fake_mean_luma": payloads.map(
                lambda b: (sum(bytes(b)) / len(b) / 255.0) if len(b) else 0.0
            ),
        }
    )


FRAME_SCHEMA = "doc_id BIGINT, frame_idx BIGINT, frame_hash STRING"
_FRAME_BYTES = 32  # fake frame stride
_FRAME_STEP = 4  # sample every 4th frame
_RESIZE_BYTES = 8  # fake resize: keep the first 8 bytes of a frame


def sample_frames(multimodal: DataFrame) -> DataFrame:
    """Frame-sample + resize over 'video' payloads via mapInPandas.

    The fake pipeline treats the payload as fixed-stride frames
    (_FRAME_BYTES), samples every _FRAME_STEP-th frame, 'resizes' by
    keeping the first _RESIZE_BYTES bytes, and emits the md5 per sampled
    frame — one-to-many per input row, the exact shape of a real
    frame-extraction job (and byte-deterministic, so it carries a full
    DuckDB oracle). Swap the slice for a real frame decoder and
    resampler later; the Spark-side batching/schema doesn't change.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out_doc, out_idx, out_hash = [], [], []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                raw = bytes(payload)
                n_frames = len(raw) // _FRAME_BYTES
                for f in range(0, n_frames, _FRAME_STEP):
                    chunk = raw[f * _FRAME_BYTES : f * _FRAME_BYTES + _RESIZE_BYTES]
                    out_doc.append(doc_id)
                    out_idx.append(f)
                    out_hash.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "frame_hash": out_hash}
            )

    return multimodal.select("doc_id", "payload").mapInPandas(run, FRAME_SCHEMA)


def extract_features(multimodal: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, partition-parallel,
    schema-stable — swap _fake_features for a real decoder later."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _fake_features(batch)

    return multimodal.select("doc_id", "payload").mapInPandas(run, FEATURE_SCHEMA)
