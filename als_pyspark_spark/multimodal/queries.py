"""Registry entries for the multimodal plumbing.

The fake feature extractor is deterministic byte math, so it gets an exact
DuckDB oracle — proving the mapInPandas plumbing (schema, batching,
binary round-trip) is correct end-to-end, not just "runs".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from als_pyspark_spark.multimodal.binary import extract_features, with_binary_payload
from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.tables import load_table


@query(
    "q_multimodal_metadata",
    oracle="""
SELECT doc_id,
       'fake/utf8' AS format,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
""",
    tags=("multimodal", "metadata"),
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only projection over the multimodal table — column pruning
    means the binary payload is never read for this query."""
    d = load_table(spark, sf_dir, "documents")
    mm = with_binary_payload(d)
    return mm.select("doc_id", F.col("meta.format").alias("format"), F.col("meta.n_bytes").alias("n_bytes"))


@query(
    "q_multimodal_features",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       MD5(SUBSTRING(text, 1, 16)) AS head_hash
FROM documents
""",
    tags=("multimodal", "pandas-udf"),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction (deterministic fake decode).

    head_hash = md5 of the first 16 payload bytes — matches md5 of the
    first 16 chars since the corpus is ASCII. fake_mean_luma is excluded
    from the oracle (float); it is covered by tests/test_multimodal.py.
    """
    d = load_table(spark, sf_dir, "documents")
    feats = extract_features(with_binary_payload(d))
    return feats.select("doc_id", "n_bytes", "head_hash")


@query(
    "q_multimodal_frame_sample",
    oracle="""
SELECT d.doc_id,
       CAST(f AS BIGINT) AS frame_idx,
       MD5(SUBSTRING(d.text, 1 + f * 32, 8)) AS frame_hash
FROM documents d,
     LATERAL (
        SELECT UNNEST(generate_series(0, CAST(octet_length(encode(d.text)) // 32 AS INT) - 1, 4)) AS f
     )
""",
    tags=("multimodal", "frames", "pandas-udf"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample + resize over binary payloads (mapInPandas, one-to-many
    per row). The fake decode is byte slicing, so the oracle recomputes the
    exact same frames with SUBSTRING — plumbing verified end-to-end."""
    from als_pyspark_spark.multimodal.binary import sample_frames

    d = load_table(spark, sf_dir, "documents")
    return sample_frames(with_binary_payload(d))


@query(
    "q_multimodal_audio_windows",
    oracle="""
WITH w AS (
    SELECT doc_id, text,
           unnest(generate_series(
               0, CAST(CEIL(octet_length(encode(text)) / 64.0) AS INT) - 1
           )) AS win_idx
    FROM documents
    WHERE octet_length(encode(text)) > 0
)
SELECT doc_id,
       CAST(win_idx AS BIGINT) AS win_idx,
       md5(substr(text, win_idx * 64 + 1, 64)) AS frame_hash
FROM w
""",
    tags=("multimodal", "audio", "windows"),
)
def q_multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride sample windows over an opaque 'audio' payload: slice
    each BINARY payload into 64-byte windows (the last may be short) and
    fingerprint each — the windowing step an audio feature pipeline runs
    before STFT/mel extraction, here with a deterministic fake in place of
    the codec decode (no audio library is available; see
    multimodal/binary.py).

    Unlike the mapInPandas feature path, this one stays ENTIRELY JVM-side:
    sequence+explode for the window index, binary substring for the slice,
    md5 for the fingerprint — the payload bytes never cross to Python.
    The oracle slices the same bytes as text (the fake payload is UTF-8 of
    an ASCII column, so char and byte offsets coincide).

    Zero-byte payloads are filtered on BOTH sides: for n=0 the window-index
    range is (0, -1), which Spark's ``sequence`` renders as a DESCENDING
    two-element array [0, -1] (it auto-negates the step) while DuckDB's
    ``generate_series`` renders empty — an engine divergence that only an
    empty document would expose, so the empty-doc case is excluded
    explicitly rather than left to fixture luck."""
    d = load_table(spark, sf_dir, "documents")
    mm = with_binary_payload(d)
    n = F.col("meta.n_bytes")
    wins = F.sequence(
        F.lit(0).cast("long"), F.ceil(n / F.lit(64.0)).cast("long") - 1
    )
    return (
        mm.where(n > 0)
        .select("doc_id", "payload", F.explode(wins).alias("win_idx"))
        .select(
            "doc_id",
            "win_idx",
            F.md5(
                F.expr("substring(payload, CAST(win_idx * 64 + 1 AS INT), 64)")
            ).alias("frame_hash"),
        )
    )
