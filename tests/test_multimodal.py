"""Multimodal plumbing: binary round-trip, mapInPandas batch shape,
payload pruning."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from als_pyspark_spark.multimodal.binary import (
    extract_features,
    with_binary_payload,
)
from als_pyspark_spark.sources.tables import load_table


def test_payload_schema(spark, sf_dir):
    mm = with_binary_payload(load_table(spark, sf_dir, "documents"))
    schema = {f.name: f.dataType.simpleString() for f in mm.schema.fields}
    assert schema["payload"] == "binary"
    assert schema["meta"] == "struct<format:string,n_bytes:bigint>"


def test_features_deterministic(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(50)
    feats = extract_features(with_binary_payload(d)).collect()
    docs = {r.doc_id: r.text for r in d.collect()}
    assert len(feats) == 50
    for r in feats:
        text = docs[r.doc_id]
        assert r.n_bytes == len(text.encode())
        assert r.head_hash == hashlib.md5(text.encode()[:16]).hexdigest()
        assert 0.0 <= r.fake_mean_luma <= 1.0


def test_metadata_only_query_prunes_payload(spark, sf_dir):
    mm = with_binary_payload(load_table(spark, sf_dir, "documents"))
    meta_only = mm.select("doc_id", F.col("meta.n_bytes"))
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan


def test_audio_windows_drops_empty_payload(spark, tmp_path):
    """Zero-byte payload regression: for n=0 Spark's sequence(0, -1) yields
    a DESCENDING [0, -1] (two bogus windows) while DuckDB's generate_series
    is empty — the query must filter empty docs on both sides so the
    engines agree. Built on a synthetic fixture because the shipped one has
    no empty documents (the divergence was latent)."""
    import duckdb

    from als_pyspark_spark.registry import load_all_queries

    docs = spark.createDataFrame(
        [
            (1, "", "en", "web", 0),
            (2, "a" * 70, "en", "web", 70),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf = str(tmp_path / "sf_empty")
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    q = load_all_queries()["q_multimodal_audio_windows"]
    got = {tuple(r) for r in q.build(spark, sf).collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    want = {tuple(r) for r in con.execute(q.oracle).fetchall()}
    con.close()

    assert got == want
    assert all(r[0] == 2 for r in got), "empty doc leaked into windows"
    assert len(got) == 2  # ceil(70/64) = 2 windows for the non-empty doc
