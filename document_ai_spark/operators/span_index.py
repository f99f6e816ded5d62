"""Persisted incremental hot-span index: the streaming/batch-accretive
twin of curation.dup_span_stats (the Lee et al. 2022 exact-substring
duplication signal), on the shared AtomicBatchIndex commit discipline
of the sketch, embedding and line indexes.

Each committed batch stores only its own per-window aggregate
(fp = md5 of the w-token window, n_docs seen in the batch) — index size
is O(distinct windows), appending never rewrites earlier state, and
cross-batch counts are exact because each document is ingested once.

Semantics — deliberately FIRST-SEEN-WINS, unlike the batch operator:
``dup_span_stats`` is a symmetric quality signal (every member of a
duplicated family scores high, and a threshold filter drops them ALL);
scoring each batch against counts accreted so far means the FIRST copy
of any duplicated content scores 0 at emission time and survives, while
every later copy sees the accreted count >= min_docs and scores high.
That is the streaming keep rule the SketchIndex/LineIndex family
already implements — one canonical copy rides through, the tail is
filtered — and the right default for an append-only ingestion pipeline
(a batch recompute cannot keep a canonical copy without a second pass).
Within-batch duplication behaves exactly like the batch operator. The
divergence is pinned by tests/test_span_index.py, not papered over.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .batch_index import AtomicBatchIndex
from .curation import dup_span_stats_against, span_frequencies

_INDEX_FORMAT = 1
_INDEX_SCHEMA = "fp string, n_docs long"


class SpanIndex(AtomicBatchIndex):
    """Accretive (fp, n_docs) window-frequency index with atomic
    per-batch commits and idempotent replay."""

    FORMAT = _INDEX_FORMAT
    SCHEMA = _INDEX_SCHEMA

    def __init__(self, root: str, w: int = 50, min_docs: int = 2):
        super().__init__(root, {"w": w, "min_docs": min_docs})
        self.w = w
        self.min_docs = min_docs

    def append_and_score(self, spark: SparkSession, batch_df: DataFrame,
                         batch_id: str) -> DataFrame:
        """Score ``batch_df(doc_id, text)`` against the index state plus
        the batch itself, then commit the batch's window aggregate.
        Returns the dup_span_stats contract — (doc_id, n_tokens,
        n_windows, n_dup_windows, dup_span_frac), one row per batch doc.
        Re-running a committed batch_id scores against exactly the index
        it saw the first time (Batch.prior) without double-appending."""
        # span_frequencies IS the batch-local aggregate; the staging
        # write materializes it once for both the scoring below and
        # the committed index batch.
        b = self._open_batch(
            spark, batch_id,
            lambda: span_frequencies(batch_df, w=self.w))

        hot = (self.prior_df(spark, b)
               .unionByName(b.rows)
               .groupBy("fp")
               .agg(F.sum("n_docs").alias("n_total"))
               .where(F.col("n_total") >= self.min_docs)
               .select("fp"))
        return self._close_batch(
            dup_span_stats_against(batch_df, hot, w=self.w), b)
