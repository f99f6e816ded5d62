"""Persisted incremental hot-line index: the streaming/batch-accretive
twin of curation.line_dedup (the CCNet/C4-style corpus-level exact line
dedup), built on the shared AtomicBatchIndex commit discipline that the
MinHash sketch index and embedding index use.

Each committed batch stores only its own per-line aggregate
(lk = md5(line), n_docs seen in the batch, the batch's min doc_id) —
index size is O(distinct lines), and appending a batch never rewrites
earlier state. A batch is stripped against the counts accreted across
ALL earlier-committed batches plus itself, so a line crosses the
min_docs threshold exactly once and every later occurrence is removed.

Keep rule (first-seen-wins, matching SketchIndex): the canonical copy
is the min doc_id across all batches committed so far. When batches
arrive in ascending doc_id order — the append-only ingestion contract
the other indexes document — k-batch incremental output at min_docs=2
is IDENTICAL to a corpus-wide line_dedup recompute (pinned by
tests/test_line_index.py). For min_docs > 2 a line whose threshold
crossing spans batches diverges by construction: occurrences emitted
before the count reached min_docs cannot be retroactively stripped
(streaming emits once); counts still accrete, so every occurrence
after the crossing is stripped.

Exactness note: cross-batch counts are exact because a doc_id appears
in exactly one batch (each document is ingested once), so summing
per-batch count-distinct never double-counts a document.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .batch_index import AtomicBatchIndex
from .curation import line_frequencies, strip_hot_lines

_INDEX_FORMAT = 1
_INDEX_SCHEMA = "lk string, n_docs long, keep_doc_id long"


class LineIndex(AtomicBatchIndex):
    """Accretive (lk, n_docs, keep_doc_id) line-frequency index with
    atomic per-batch commits and idempotent replay."""

    FORMAT = _INDEX_FORMAT
    SCHEMA = _INDEX_SCHEMA

    def __init__(self, root: str, min_docs: int = 2):
        super().__init__(root, {"min_docs": min_docs})
        self.min_docs = min_docs

    def append_and_strip(self, spark: SparkSession, batch_df: DataFrame,
                         batch_id: str) -> DataFrame:
        """Strip hot lines from ``batch_df(doc_id, text)`` using the
        index state plus the batch itself, then commit the batch's line
        aggregate. Returns (doc_id, text_dedup, n_lines, n_removed) —
        one row per batch doc. Re-running a committed batch_id strips
        against exactly the index it saw the first time (Batch.prior)
        without double-appending."""
        # line_frequencies IS the batch-local per-line aggregate
        # (count-distinct docs + min doc_id, blank lines excluded);
        # the staging write materializes it once for both the strip
        # below and the committed index batch.
        b = self._open_batch(
            spark, batch_id, lambda: line_frequencies(batch_df))

        # Accrete: earlier-committed counts + this batch's. min() over
        # keep_doc_id implements first-seen-wins under the ascending-
        # doc_id ingestion contract (see module docstring).
        combined = (self.prior_df(spark, b)
                    .unionByName(b.rows)
                    .groupBy("lk")
                    .agg(F.sum("n_docs").alias("n_total"),
                         F.min("keep_doc_id").alias("keep_doc_id")))
        hot = (combined.where(F.col("n_total") >= self.min_docs)
               .select("lk", "keep_doc_id"))
        return self._close_batch(strip_hot_lines(batch_df, hot), b)
