"""Persisted embedding indexes: IVF codebook + incremental near-dup.

Two persisted structures a 100 TB embedding pipeline maintains instead
of recomputing per run (both on the AtomicBatchIndex commit discipline —
staging write, atomic rename, parameter + format pinning):

``CodebookIndex`` — the trained IVF codebook. ``kmeans_codebook``
(similarity.py) is deterministic but costs Lloyd passes over the
training sample; the round-3 engine retrained it on EVERY ivf_topk
call. Train once, commit the k-row codebook, and every later query /
micro-batch loads it (components are rounded to 6 decimals before the
write, so the parquet round-trip is bit-exact and a reloaded codebook
produces identical assignments — parity-tested).

``EmbeddingIndex`` — incremental embedding-cosine near-dup detection,
the vector twin of sketch_index.SketchIndex: banded sign-LSH rows
(vec_id, emb, bks, band, bucket) persist per committed batch; a new
micro-batch finds (a) its internal pairs and (b) pairs against ONLY the
index buckets it touches (broadcast semi-join on the batch's band
keys), then appends its own rows. Sign buckets are a pure per-vector
function — no corpus dependence — so k incremental batches emit exactly
the pair set of ``embedding_near_dups`` recomputed over the union
(parity contract, tested), each pair once, at its first colliding band.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..streaming.commit import publish
from .batch_index import AtomicBatchIndex
from .similarity import (
    EMB_LSH_BANDS,
    EMB_LSH_ROWS,
    EMB_MAX_BUCKET,
    IVF_ITERS,
    IVF_K,
    IVF_SAMPLE_MOD,
    _band_bucket,
    _first_band_cond,
    _pair_groups,
    _sweep_pairs,
    kmeans_codebook,
)


class CodebookIndex(AtomicBatchIndex):
    """Train-once / load-forever IVF codebook."""

    FORMAT = 1
    SCHEMA = "centroid_id bigint, cent array<double>"
    _BATCH = "codebook"

    def __init__(self, root: str, k: int = IVF_K, iters: int = IVF_ITERS,
                 sample_mod: int = IVF_SAMPLE_MOD):
        super().__init__(root, {"k": k, "iters": iters,
                                "sample_mod": sample_mod})
        self.k, self.iters, self.sample_mod = k, iters, sample_mod
        self._rows = None

    def is_trained(self) -> bool:
        return self._is_committed(self._BATCH)

    def centroid_rows(self, spark: SparkSession) -> list:
        """The committed k (centroid_id, cent) rows, read once per
        handle: the codebook is train-once, so every later assignment
        reuses them without a parquet re-read and collect."""
        if self._rows is None:
            if not self.is_trained():
                raise ValueError(f"no committed codebook under {self.root}; "
                                 "call ensure(spark, emb) first")
            self._rows = self.index_df(spark).collect()
        return self._rows

    def centroids(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.centroid_rows(spark),
                                     self.row_schema())

    def ensure(self, spark: SparkSession, emb: DataFrame) -> DataFrame:
        """The committed codebook, training it from ``emb`` only if this
        index has none yet, as the index's one batch (stage, stamp,
        publish; a replay of a committed codebook trains nothing)."""
        if not self.is_trained():
            b = self._open_batch(spark, self._BATCH, lambda: kmeans_codebook(
                emb, self.k, self.iters, self.sample_mod))
            if not b.replay:
                publish(b.stage, b.final)
        return self.centroids(spark)


_EMB_SCHEMA = ("vec_id bigint, emb array<double>, bks array<int>, "
               "band int, bucket int")


def banded_vector_rows(emb: DataFrame, bands: int = EMB_LSH_BANDS,
                       rows: int = EMB_LSH_ROWS) -> DataFrame:
    """(vec_id, emb, bks, band, bucket) — one row per vector per band;
    the unit EmbeddingIndex stores and joins on. ``bks`` carries ALL
    band buckets so the first-colliding-band pair dedup stays local."""
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    bucket_vec = F.array(*[
        _band_bucket(F.col("emb"), band, rows) for band in range(bands)])
    band_keys = F.array(*[
        F.struct(F.lit(band).alias("band"),
                 F.element_at("bks", band + 1).alias("bucket"))
        for band in range(bands)])
    return (base.withColumn("bks", bucket_vec)
            .select("vec_id", "emb", "bks", F.explode(band_keys).alias("bk"))
            .select("vec_id", "emb", "bks", "bk.band", "bk.bucket"))


class EmbeddingIndex(AtomicBatchIndex):
    """Persisted banded sign-LSH embedding index with atomic commits."""

    FORMAT = 1
    SCHEMA = _EMB_SCHEMA

    def __init__(self, root: str, bands: int = EMB_LSH_BANDS,
                 rows: int = EMB_LSH_ROWS):
        super().__init__(root, {"bands": bands, "rows": rows})
        self.bands, self.rows = bands, rows

    def append_and_find(self, spark: SparkSession, batch_emb: DataFrame,
                        batch_id: str, cos_min: float = 0.95,
                        max_bucket: int = EMB_MAX_BUCKET) -> DataFrame:
        """Near-dup pairs involving at least one vector of ``batch_emb``
        (batch-internal + batch-vs-index), then commit the batch's
        banded rows. Replaying a committed batch_id returns its pairs
        again without double-appending (idempotent resume): it probes
        exactly the index state it saw the first time (Batch.prior)."""
        b = self._open_batch(
            spark, batch_id,
            lambda: banded_vector_rows(batch_emb, self.bands, self.rows))

        # Round 6: per-item norms once (not per pair — the old _verify
        # re-folded both norms for every candidate) and survivors-only
        # emission inside the HOF/join, the similarity.py sweep shape.
        from .similarity import _cosine_pre, item_norm
        new = b.rows.withColumn("nrm", item_norm("emb"))

        # (a) batch-internal pairs: embedding_near_dups' own sweep over
        # the batch's buckets (items vec_id-sorted by the cap, so
        # id_a < id_b).
        intra = _sweep_pairs(_pair_groups(new, max_bucket), cos_min)

        # (b) batch-vs-index: probe ONLY buckets the batch touches
        # (broadcast of the batch's band keys), cap the matched index
        # buckets, then equi-join — never an index scan. Norms for the
        # index side are computed on the probed sliver only.
        cands = intra
        if b.prior:
            keys = new.select("band", "bucket").distinct()
            idx = self.prior_df(spark, b).join(
                F.broadcast(keys), ["band", "bucket"], "left_semi")
            w = Window.partitionBy("band", "bucket").orderBy("vec_id")
            idx = (idx.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") <= max_bucket).drop("_rn")
                   .withColumn("onrm", item_norm("emb")))
            cross = (new.alias("n").join(
                idx.alias("o"), ["band", "bucket"])
                .where(F.expr(_first_band_cond("n.bks", "o.bks")))
                .withColumn("cos_sim", F.round(_cosine_pre(
                    F.col("n.emb"), F.col("o.emb"),
                    F.col("n.nrm"), F.col("onrm")), 6))
                .where(F.col("cos_sim") >= cos_min)
                .select(F.least("n.vec_id", "o.vec_id").alias("id_a"),
                        F.greatest("n.vec_id", "o.vec_id").alias("id_b"),
                        "cos_sim"))
            cands = intra.unionByName(cross)

        return self._close_batch(cands, b)


class SemanticIndex(AtomicBatchIndex):
    """Incremental SemDeDup: persisted per-cluster membership + the
    shared train-once codebook, so a stream of embedding batches is
    semantically deduplicated without ever recomputing corpus-wide.

    Keep rule (arrival-order greedy — the streaming form of the public
    SemDeDup code's upper-triangular rule): a batch vector is dropped
    iff it is >= cos_min similar to ANY already-indexed vector of its
    cluster (earlier batches win, kept or dropped — exactly the
    batch rule's "earlier item wins regardless of its own verdict"),
    or to an earlier keep-order vector of its own batch
    (cos-to-centroid ASC, vec_id ASC — the batch semdedup order).
    Every batch vector is indexed (winners AND losers), so a future
    vector chained to a dropped one is still caught. Identical to
    batch semdedup whenever arrival order refines the batch keep
    order (parity-tested with planted cos-1 copies arriving after
    their originals); for families that SPAN batches in the other
    direction the representative differs by first-seen-wins — the
    same documented delta as stream_curate vs curate.

    Size k for the EVENTUAL index, not the first batch: the rule is
    k ~ expected_corpus/2500 so the mean cluster sits under
    max_cluster (4096) — with the IVF_K=8 default a large index
    cap-truncates ~every cluster probe and passes near-dups as
    sem_keep=true (observed via the lsh_cap metric, never silent, but
    a near-no-op; see semdedup's auto-k note).

    Scale shape: the codebook's k rows are read once per handle and
    ride in the assignment's task closure; assignment is one window on
    vec_id. The verdicts are ONE pass: the index is probed ONLY at
    clusters the batch touches (broadcast semi-join on the batch's
    centroid ids) and capped per cluster by vec_id; one grouping per
    centroid_id carries the batch items in keep order and the capped
    index items, and one mapInArrow judges every batch vector against
    both (similarity.batch_and_index_verdicts) — never an index scan,
    no index x index cosines. Commits are atomic and replay-idempotent
    (Batch.prior), the AtomicBatchIndex contract."""

    FORMAT = 1
    SCHEMA = ("vec_id bigint, emb array<double>, centroid_id bigint, "
              "cos_c double")

    def __init__(self, root: str, cos_min: float = 0.95,
                 k: int = IVF_K, iters: int = IVF_ITERS,
                 max_cluster: int = None):
        from .similarity import SEM_MAX_CLUSTER
        super().__init__(root, {"cos_min": cos_min, "k": k,
                                "iters": iters})
        self.cos_min, self.k, self.iters = cos_min, k, iters
        self.max_cluster = max_cluster or SEM_MAX_CLUSTER
        self.codebook = CodebookIndex(f"{root}/_codebook", k=k,
                                      iters=iters)

    def _assign(self, spark: SparkSession,
                batch_emb: DataFrame) -> DataFrame:
        # the ONE shared assignment rule — see similarity._assign_with_cos
        from .similarity import _assign_with_cos
        base = batch_emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"))
        cb = self.codebook
        return _assign_with_cos(base, cb.ensure(spark, batch_emb),
                                crows=cb.centroid_rows(spark))

    def append_and_find(self, spark: SparkSession, batch_emb: DataFrame,
                        batch_id: str) -> DataFrame:
        """Verdicts (vec_id, centroid_id, cos_c, sem_keep) for the
        batch, then commit its assigned rows. Replay returns the same
        verdicts (probes the index state before its own seq).

        vec_id is a key: the assignment keeps one row per vec_id, so a
        batch that repeats a vec_id gets one verdict for it."""
        from .similarity import batch_and_index_verdicts

        b = self._open_batch(spark, batch_id,
                             lambda: self._assign(spark, batch_emb))
        idx = None
        if b.prior:
            # a semi-join needs no distinct on the probe keys
            idx = self.prior_df(spark, b).join(
                F.broadcast(b.rows.select("centroid_id")), ["centroid_id"],
                "left_semi")
        return self._close_batch(batch_and_index_verdicts(
            b.rows, idx, self.cos_min, self.max_cluster), b)
