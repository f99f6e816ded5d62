"""Persisted embedding indexes (operators/vector_index.py): incremental
near-dup parity with full recompute, replay idempotence, parameter
pinning, and codebook train-once reuse."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_ai_spark.operators.similarity import (
    embedding_near_dups,
    ivf_topk,
)
from document_ai_spark.operators.vector_index import (
    CodebookIndex,
    EmbeddingIndex,
)

COS_MIN = 0.999
EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _dup_emb(spark):
    """Embeddings UNION scaled copies (cosine exactly 1) — guaranteed
    near-dup pairs that SPAN batch boundaries under the id-hash split."""
    emb = spark.read.parquet(EMB)
    dup = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(2.0).cast("float"))
         .alias("embedding"),
        F.col("label"))
    return emb.unionByName(dup)


def _batches(df, k=3):
    b = F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(k))
    return [df.where(b == i) for i in range(k)]


def _pairset(df):
    return {(r["id_a"], r["id_b"], r["cos_sim"]) for r in df.collect()}


def test_incremental_embed_parity_with_full_recompute(spark, tmp_path):
    emb = _dup_emb(spark)
    idx = EmbeddingIndex(str(tmp_path / "emb_idx"))
    incremental = set()
    for i, b in enumerate(_batches(emb, 3)):
        incremental |= _pairset(idx.append_and_find(
            spark, b, batch_id=f"batch-{i}", cos_min=COS_MIN))
    full = _pairset(embedding_near_dups(emb, cos_min=COS_MIN))
    assert full, "corpus must contain planted near-dup pairs"
    assert incremental == full
    # At least one pair crosses a batch boundary.
    assign = {r["vec_id"]: r["b"] for r in emb.withColumn(
        "b", F.pmod(F.xxhash64(F.col("vec_id").cast("string")),
                    F.lit(3))).collect()}
    assert any(assign[a] != assign[b] for a, b, _ in full)


def test_embed_replay_is_idempotent(spark, tmp_path):
    emb = _dup_emb(spark)
    batches = _batches(emb, 3)
    idx = EmbeddingIndex(str(tmp_path / "emb_idx2"))
    out = [
        _pairset(idx.append_and_find(spark, b, batch_id=f"batch-{i}",
                                     cos_min=COS_MIN))
        for i, b in enumerate(batches)]
    n = len(idx.committed_batches())
    replay = _pairset(idx.append_and_find(spark, batches[1],
                                          batch_id="batch-1",
                                          cos_min=COS_MIN))
    assert replay == out[1]
    assert len(idx.committed_batches()) == n
    per_vec = (idx.index_df(spark).groupBy("vec_id", "band").count()
               .agg(F.max("count")).first()[0])
    assert per_vec == 1


def test_embed_index_duplicate_id_no_self_pair(spark, tmp_path):
    """A vec_id repeated inside one batch never pairs with itself — the
    self-pair guard of the shared sweep (embedding_near_dups' rule)."""
    emb = spark.createDataFrame(
        [(5, [1.0, 2.0, 3.0, 4.0] * 2), (5, [1.0, 2.0, 3.0, 4.0] * 2),
         (6, [2.0, 4.0, 6.0, 8.0] * 2)],
        "vec_id long, embedding array<double>")
    idx = EmbeddingIndex(str(tmp_path / "dup_idx"), bands=2, rows=4)
    pairs = _pairset(idx.append_and_find(spark, emb, "b0", cos_min=0.5))
    assert pairs == {(5, 6, 1.0)}


def test_embed_index_param_and_format_pinning(spark, tmp_path):
    root = str(tmp_path / "emb_idx3")
    EmbeddingIndex(root, bands=4, rows=8)
    with pytest.raises(ValueError, match="bands"):
        EmbeddingIndex(root, bands=8, rows=4)
    import json
    import os
    root2 = str(tmp_path / "emb_idx4")
    os.makedirs(root2)
    with open(os.path.join(root2, "_meta.json"), "w") as f:
        json.dump({"bands": 4, "rows": 8, "format": 99}, f)
    with pytest.raises(ValueError, match="format"):
        EmbeddingIndex(root2)


def test_codebook_train_once_and_reuse(spark, tmp_path):
    emb = spark.read.parquet(EMB)
    cb = CodebookIndex(str(tmp_path / "codebook"))
    assert not cb.is_trained()
    c1 = cb.ensure(spark, emb)
    assert cb.is_trained()
    # Second ensure() must NOT retrain: feed garbage — a retrain would
    # produce different centroids; the committed codebook must win.
    garbage = emb.withColumn(
        "embedding", F.transform("embedding",
                                 lambda v: v * F.lit(-3.0).cast("float")))
    c2 = cb.ensure(spark, garbage)
    rows1 = {(r["centroid_id"], tuple(r["cent"])) for r in c1.collect()}
    rows2 = {(r["centroid_id"], tuple(r["cent"])) for r in c2.collect()}
    assert rows1 == rows2

    # A fresh handle over the same root loads the same codebook.
    rows3 = {(r["centroid_id"], tuple(r["cent"]))
             for r in CodebookIndex(str(tmp_path / "codebook"))
             .centroids(spark).collect()}
    assert rows3 == rows1


def test_ivf_topk_with_persisted_codebook_matches_retrained(spark, tmp_path):
    """ivf_topk(codebook=committed) == ivf_topk() retraining in-line —
    the 6-decimal rounding makes the parquet round-trip bit-exact."""
    emb = spark.read.parquet(EMB)
    cb = CodebookIndex(str(tmp_path / "codebook2"))
    cents = cb.ensure(spark, emb)
    persisted = {tuple(r) for r in
                 ivf_topk(emb, probe_ids=[0, 1, 2], k=5,
                          codebook=cents).collect()}
    retrained = {tuple(r) for r in
                 ivf_topk(emb, probe_ids=[0, 1, 2], k=5).collect()}
    assert persisted == retrained


def test_codebook_param_pinning(spark, tmp_path):
    root = str(tmp_path / "codebook3")
    CodebookIndex(root, k=8)
    with pytest.raises(ValueError, match="k"):
        CodebookIndex(root, k=16)


def test_stream_embed_dedup_parity(spark, tmp_path):
    """Streamed vector micro-batches through the persisted index == the
    corpus-wide embedding_near_dups recompute."""
    import glob

    from document_ai_spark.streaming.feedback import stream_embed_dedup

    emb = _dup_emb(spark).select("vec_id", "embedding")
    in_dir = str(tmp_path / "vec_in")
    for b in _batches(emb, 2):
        b.coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_embed_dedup(spark, in_dir, str(tmp_path / "vec_idx"),
                           str(tmp_path / "vec_pairs"),
                           str(tmp_path / "vec_ckpt"), cos_min=COS_MIN)
    q.awaitTermination()
    got = set()
    for d in glob.glob(str(tmp_path / "vec_pairs" / "batch=*")):
        got |= _pairset(spark.read.parquet(d))
    full = _pairset(embedding_near_dups(_dup_emb(spark), cos_min=COS_MIN))
    assert got == full
