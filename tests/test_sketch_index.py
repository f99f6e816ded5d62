"""Incremental dedup vs persisted sketch index: parity with full
recompute, idempotent re-runs, streaming integration."""
from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from document_ai_spark.operators.dedup import banded_near_dup_pairs
from document_ai_spark.operators.sketch_index import SketchIndex

JACCARD_MIN = 0.5


def _dup_corpus(spark):
    """60 docs incl. mutated-copy families that SPAN batch boundaries."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = []
    for i in range(40):
        rows.append((f"d{i:03d}", f"unique document {i} " + " ".join(
            f"w{i}x{j}" for j in range(15))))
    # family A: 4 mutated copies; family B: 3 copies
    for j, mut in enumerate(["", " extra", " tail word", " more stuff"]):
        rows.append((f"a{j}", base + mut))
    for j, mut in enumerate(["", " x", " yz"]):
        rows.append((f"b{j}", base.replace("alpha", "ALPHA") + mut))
    return spark.createDataFrame(rows, "doc_id string, text string")


def _batches(df, k=3):
    """Deterministic k-way split that separates dup-family members."""
    b = F.pmod(F.xxhash64("doc_id"), F.lit(k))
    return [df.where(b == i) for i in range(k)]


def _pairset(df):
    return {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()}


def test_incremental_parity_with_batch_recompute(spark, tmp_path):
    docs = _dup_corpus(spark)
    batches = _batches(docs, 3)
    idx = SketchIndex(str(tmp_path / "sketch_idx"))
    incremental = set()
    for i, b in enumerate(batches):
        incremental |= _pairset(idx.append_and_find(
            spark, b, batch_id=f"batch-{i}", jaccard_min=JACCARD_MIN))

    full = _pairset(banded_near_dup_pairs(docs, jaccard_min=JACCARD_MIN))
    assert full, "corpus must contain near-dup pairs"
    assert incremental == full
    # And at least one pair crosses a batch boundary (the incremental
    # path's raison d'etre).
    assignment = {r["doc_id"]: r["b"] for r in docs.withColumn(
        "b", F.pmod(F.xxhash64("doc_id"), F.lit(3))).collect()}
    assert any(assignment[a] != assignment[b] for a, b, _ in full)


def test_rerun_batch_is_idempotent(spark, tmp_path):
    docs = _dup_corpus(spark)
    batches = _batches(docs, 3)
    idx = SketchIndex(str(tmp_path / "sketch_idx2"))
    out = []
    for i, b in enumerate(batches):
        out.append(_pairset(idx.append_and_find(
            spark, b, batch_id=f"batch-{i}", jaccard_min=JACCARD_MIN)))
    n_batches = len(idx.committed_batches())
    # Replay the middle batch: same pairs, no index growth.
    replay = _pairset(idx.append_and_find(
        spark, batches[1], batch_id="batch-1", jaccard_min=JACCARD_MIN))
    assert replay == out[1]
    assert len(idx.committed_batches()) == n_batches
    # Index rows per doc stay unique.
    per_doc = (idx.index_df(spark).groupBy("doc_id", "band")
               .count().agg(F.max("count")).first()[0])
    assert per_doc == 1


def test_mismatched_band_params_rejected(spark, tmp_path):
    root = str(tmp_path / "sketch_idx3")
    SketchIndex(root, bands=4, rows=2)
    with pytest.raises(ValueError, match="bands"):
        SketchIndex(root, bands=8, rows=1)


def test_stream_dedup_parity(spark, tmp_path):
    """Streamed micro-batches through the index == batch recompute."""
    from document_ai_spark.streaming.feedback import stream_dedup

    docs = _dup_corpus(spark)
    in_dir = str(tmp_path / "stream_in")
    # Two waves of files so availableNow triggers multiple micro-batches.
    for i, b in enumerate(_batches(docs, 2)):
        b.coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_dedup(spark, in_dir, str(tmp_path / "stream_idx"),
                     str(tmp_path / "stream_pairs"),
                     str(tmp_path / "stream_ckpt"),
                     jaccard_min=JACCARD_MIN)
    q.awaitTermination()
    got = set()
    for d in glob.glob(str(tmp_path / "stream_pairs" / "batch=*")):
        got |= _pairset(spark.read.parquet(d))
    full = _pairset(banded_near_dup_pairs(docs, jaccard_min=JACCARD_MIN))
    assert got == full


def test_old_format_index_rejected(spark, tmp_path):
    """A pre-versioning (v1) index — band hashes over bottom-k sketch
    slices, no minhash_sig column — must be refused, not silently
    appended to (new band hashes would never join old ones)."""
    import json
    import os

    root = str(tmp_path / "sketch_idx_v1")
    os.makedirs(root)
    with open(os.path.join(root, "_meta.json"), "w") as f:
        json.dump({"bands": 4, "rows": 2}, f)   # v1: no format field
    with pytest.raises(ValueError, match="format"):
        SketchIndex(root)


def test_numeric_doc_ids_keep_their_type(spark, tmp_path):
    """doc_id is an id column: bigint ids stay bigint in the pairs —
    numeric least/greatest (5 before 1000005), not the lexicographic
    order a cast to the declared string type would give — and the type
    is pinned in _meta.json for a fresh handle's schema-pinned reads."""
    text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    b0 = spark.createDataFrame([(5, text), (7, "something else entirely")],
                               "doc_id bigint, text string")
    b1 = spark.createDataFrame([(1000005, text + " tail")],
                               "doc_id bigint, text string")
    root = str(tmp_path / "sketch_num")
    idx = SketchIndex(root)
    idx.append_and_find(spark, b0, "b0", jaccard_min=JACCARD_MIN)
    pairs = idx.append_and_find(spark, b1, "b1", jaccard_min=JACCARD_MIN)
    assert [(r.doc_a, r.doc_b) for r in pairs.collect()] == [(5, 1000005)]
    assert dict(pairs.dtypes)["doc_a"] == "bigint"
    fresh = SketchIndex(root).index_df(spark)
    assert dict(fresh.dtypes)["doc_id"] == "bigint"
    assert {r.doc_id for r in fresh.collect()} == {5, 7, 1000005}


def test_reopened_index_reads_first_batch_schema(spark, tmp_path):
    """A fresh handle on an index whose files hold bigint doc_ids (the
    declared type is string) reads with the first batch's footer schema;
    _meta.json holds only the parameters, as in indexes written before
    reads were schema-pinned. A later batch is widened to the stored
    types (int -> bigint), never re-typed: a batch of string doc_ids is
    refused."""
    import json
    import os

    text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    root = str(tmp_path / "sketch_reopen")
    b0 = spark.createDataFrame([(5, text)], "doc_id bigint, text string")
    SketchIndex(root).append_and_find(spark, b0, "b0",
                                      jaccard_min=JACCARD_MIN)
    with open(os.path.join(root, "_meta.json")) as f:
        assert set(json.load(f)) == {"bands", "rows", "format"}

    idx = SketchIndex(root)
    pairs = idx.append_and_find(
        spark, spark.createDataFrame([(1000005, text + " tail")],
                                     "doc_id int, text string"),
        "b1", jaccard_min=JACCARD_MIN)
    assert [(r.doc_a, r.doc_b) for r in pairs.collect()] == [(5, 1000005)]
    assert dict(idx.index_df(spark).dtypes)["doc_id"] == "bigint"
    with pytest.raises(ValueError, match="doc_id"):
        idx.append_and_find(
            spark, spark.createDataFrame([("d9", text)],
                                         "doc_id string, text string"),
            "b2", jaccard_min=JACCARD_MIN)
    assert idx.committed_batches() == ["b0", "b1"]
