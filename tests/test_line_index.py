"""Incremental hot-line index (operators/line_index.py): parity with a
corpus-wide line_dedup recompute, idempotent replay, param pinning,
streaming integration."""
from __future__ import annotations

import glob
import time

import pytest
from pyspark.sql import functions as F

from document_ai_spark.operators.curation import line_dedup
from document_ai_spark.operators.line_index import LineIndex


def _line_corpus(spark):
    """40 docs; two boilerplate lines whose occurrences SPAN batch
    boundaries (every 4th / 5th doc), bodies unique per doc."""
    rows = []
    for i in range(1, 41):
        lines = [f"body {i} unique line one", f"second unique {i}"]
        if i % 4 == 0:
            lines.insert(0, "subscribe to our newsletter")
        if i % 5 == 0:
            lines.append("follow us on social media")
        rows.append((i, "\n".join(lines)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batches(df, k=4):
    """Ascending doc_id ranges — the append-only ingestion order the
    index's first-seen-wins rule assumes."""
    return [df.where((F.col("doc_id") > i * 10)
                     & (F.col("doc_id") <= (i + 1) * 10))
            for i in range(k)]


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def test_incremental_parity_with_global_recompute(spark, tmp_path):
    docs = _line_corpus(spark)
    idx = LineIndex(str(tmp_path / "line_idx"))
    got = set()
    for i, b in enumerate(_batches(docs)):
        got |= _rowset(idx.append_and_strip(spark, b, f"batch-{i}"))
    want = _rowset(line_dedup(docs))
    assert got == want
    # the parity is non-trivial: strips happened, and some in batches
    # AFTER the canonical doc's batch
    removed = {r[0] for r in want if r[3] > 0}
    assert any(d > 10 for d in removed) and any(d <= 10 for d in removed)


def test_replay_batch_is_idempotent(spark, tmp_path):
    docs = _line_corpus(spark)
    batches = _batches(docs)
    idx = LineIndex(str(tmp_path / "line_idx2"))
    outs = [_rowset(idx.append_and_strip(spark, b, f"batch-{i}"))
            for i, b in enumerate(batches)]
    n = len(idx.committed_batches())
    # replay the SECOND batch: identical strip, no index growth —
    # before_seq hides both its own rows and later batches' counts
    replay = _rowset(idx.append_and_strip(spark, batches[1], "batch-1"))
    assert replay == outs[1]
    assert len(idx.committed_batches()) == n


def test_reopened_index_reads_first_batch_schema(spark, tmp_path):
    """A fresh handle reads with the first batch's footer schema: string
    doc_ids stay string (the declared keep_doc_id type is long), and the
    strip keeps its parity with a corpus-wide recompute."""
    batches = [b.withColumn("doc_id", F.format_string("d%03d", "doc_id"))
               for b in _batches(_line_corpus(spark))]
    root = str(tmp_path / "line_reopen")
    got = set()
    for i, b in enumerate(batches):
        got |= _rowset(LineIndex(root).append_and_strip(spark, b,
                                                        f"batch-{i}"))
    docs = batches[0]
    for b in batches[1:]:
        docs = docs.unionByName(b)
    assert got == _rowset(line_dedup(docs))
    assert dict(LineIndex(root).index_df(spark).dtypes)["keep_doc_id"] \
        == "string"


def test_mismatched_min_docs_rejected(spark, tmp_path):
    root = str(tmp_path / "line_idx3")
    LineIndex(root, min_docs=2)
    with pytest.raises(ValueError, match="min_docs"):
        LineIndex(root, min_docs=3)


def test_stream_line_dedup_parity(spark, tmp_path):
    """Streamed micro-batches through the index == global recompute
    (waves written in ascending doc order)."""
    from document_ai_spark.streaming.feedback import stream_line_dedup

    docs = _line_corpus(spark)
    in_dir = str(tmp_path / "stream_in")
    lo = docs.where(F.col("doc_id") <= 20)
    hi = docs.where(F.col("doc_id") > 20)
    lo.repartition(2).write.mode("append").parquet(in_dir)
    time.sleep(1.1)   # distinct mtimes: FileStreamSource batches oldest-first
    hi.repartition(2).write.mode("append").parquet(in_dir)
    q = stream_line_dedup(spark, in_dir, str(tmp_path / "stream_idx"),
                          str(tmp_path / "stream_out"),
                          str(tmp_path / "stream_ckpt"))
    q.awaitTermination()
    got = set()
    for d in glob.glob(str(tmp_path / "stream_out" / "batch=*")):
        got |= _rowset(spark.read.parquet(d))
    assert got == _rowset(line_dedup(docs))
