"""Incremental containment detection against a PERSISTED winnowed
fingerprint index — the subset-duplication member of the incremental
family (sketch_index: jaccard near-dups; vector_index: embedding
near-dups; span_index: anonymous hot-window counts; here: ATTRIBUTED
containment pairs, "this new doc is mostly inside THAT existing doc").

The ingest-time question it answers: a syndicated article, a quote
farm, or a template-wrapped copy arrives AFTER its canonical source —
jaccard vs the 3x-larger container is ~ |A|/|B|, below any banding
S-curve, so the SketchIndex never surfaces it. The winnow guarantee
(any shared span >= w + window - 1 tokens collides on a selected
fingerprint) makes the pair reachable with a recall FLOOR instead.

Layout and commit discipline: AtomicBatchIndex (one parquet dir per
committed batch under root/index/, staged + atomically renamed; format
and (w, window) pinned in _meta.json; idempotent replay via the
batch's recorded commit sequence).

Scale shape per batch: the batch's winnowed fp-set rows materialize
once (the staging write); intra-batch pairs ride the batch-operator
path (_containment_candidates: capped fp buckets, one pair-count
aggregation); batch-vs-index probing pre-filters the index scan with a
broadcast LEFT SEMI join on the batch's DISTINCT fps, so only touched
fp buckets of a 10^12-row index are read, then caps each matched
bucket and aggregates shared counts. The broadcast is the batch's fp
set (~2/(window+1) x batch tokens) — noticeably larger than the
SketchIndex's band-key broadcast at equal batch size, so containment
probing wants SMALLER micro-batches or a LARGER window; both knobs
trade probe cost against the detection floor and are pinned per index
in _meta.json.

Parity contract (tested): running k batches incrementally emits
exactly the pair set of ``containment_pairs`` recomputed over the
union — each pair (a in batch i, b in batch j <= i) surfaces when
batch i lands, once, with identical shared_fps and containment (the
score is symmetric, so arrival order cannot change it). SCOPE: parity
holds while no fp bucket exceeds ``max_bucket`` — when the cap
engages (adversarial boilerplate fps; drops are observed, never
silent), the incremental path caps the index and batch sides
independently while the batch operator caps the UNION bucket, so the
two may keep different survivors; hot fps belong to
winnow_hot_spans/stripping before either path runs. Input contract
(family-wide): doc_id is a key — ingest each doc once; exact-dup
upstream owns re-crawled copies.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .batch_index import AtomicBatchIndex
from .dedup import MAX_BUCKET
from .mining import (
    WINNOW_W,
    WINNOW_WINDOW,
    _containment_candidates,
    _containment_verdict,
    winnow_fp_sets,
)

_INDEX_FORMAT = 1
_INDEX_SCHEMA = "doc_id string, n_fp long, fp string"


class WinnowIndex(AtomicBatchIndex):
    """Persisted winnowed fp-set index with atomic batch commits.

    (w, window) define the fingerprints and the detection floor;
    mixing either across batches would silently stop old and new rows
    from colliding — AtomicBatchIndex pins both plus the format in
    _meta.json and raises on mismatch."""

    FORMAT = _INDEX_FORMAT
    SCHEMA = _INDEX_SCHEMA

    def __init__(self, root: str, w: int = WINNOW_W,
                 window: int = WINNOW_WINDOW):
        super().__init__(root, {"w": w, "window": window})
        self.w, self.window = w, window

    def append_and_find(self, spark: SparkSession, batch_df: DataFrame,
                        batch_id: str, containment_min: float = 0.5,
                        min_shared: int = 1,
                        max_bucket: int = MAX_BUCKET) -> DataFrame:
        """Containment pairs involving at least one doc of ``batch_df``
        (batch-internal + batch-vs-index), then commit the batch's
        fp-set rows. Re-running an already-committed batch_id returns
        its pairs again without double-appending (idempotent resume:
        the probe reads exactly the batches committed before it, the
        index state it saw the first time)."""
        # doc_id is pinned to string so heterogeneous upstream id types
        # cannot split the index schema across batches.
        def build():
            return (winnow_fp_sets(
                batch_df.select(F.col("doc_id").cast("string")
                                .alias("doc_id"), "text"),
                self.w, self.window)
                .select("doc_id",
                        F.col("n_fp").cast("long").alias("n_fp"), "fp"))

        b = self._open_batch(spark, batch_id, build)
        new = b.rows

        # (a) batch-internal pairs: the batch operator's bucket path.
        cands = _containment_candidates(new, max_bucket)

        # (b) batch-vs-index pairs: touched-bucket semi-join probe,
        # capped per fp, then ONE shared-count aggregation. No
        # first-collision trick exists for containment (the score
        # needs the COUNT), so the aggregation is the real cost —
        # its input is bounded by cap x batch fp count.
        if b.prior:
            keys = new.select("fp").distinct()
            # distinct BEFORE the cap: a doc_id committed in several
            # batches (same-text re-ingestion) holds identical index
            # rows per batch; without the dedup each copy would both
            # eat a cap slot and multiply the shared-fp COUNT below,
            # inflating containment past 1.0. (Changed-text
            # re-ingestion under one doc_id stays out of contract —
            # ingest-once per doc_id, the family rule.)
            idx = self.prior_df(spark, b).join(
                F.broadcast(keys), ["fp"], "left_semi").distinct()
            w_ = Window.partitionBy("fp").orderBy("doc_id")
            idx = (idx.withColumn("_rn", F.row_number().over(w_))
                   .where(F.col("_rn") <= max_bucket).drop("_rn"))
            # cap the BATCH side too: a boilerplate fp shared by the
            # whole micro-batch must not fan out unboundedly either.
            new_capped = (new.withColumn("_rn", F.row_number().over(w_))
                          .where(F.col("_rn") <= max_bucket).drop("_rn"))
            cross = (new_capped.alias("n").join(idx.alias("o"), "fp")
                     # a re-ingested doc_id must not pair with itself
                     .where(F.col("n.doc_id") != F.col("o.doc_id"))
                     .groupBy(F.least("n.doc_id", "o.doc_id")
                              .alias("doc_a"),
                              F.greatest("n.doc_id", "o.doc_id")
                              .alias("doc_b"),
                              # the score is symmetric (least(n_a, n_b)),
                              # so n_a/n_b need not track id order
                              F.col("n.n_fp").alias("n_a"),
                              F.col("o.n_fp").alias("n_b"))
                     .agg(F.count(F.lit(1)).alias("shared_fps")))
            cands = cands.unionByName(cross)

        return self._close_batch(
            _containment_verdict(cands, containment_min, min_shared), b)
