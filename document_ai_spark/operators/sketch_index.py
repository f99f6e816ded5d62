"""Incremental near-dup detection against a PERSISTED sketch index.

A real 100 TB training-data pipeline never recomputes corpus-wide MinHash
sketches per run: sketches of already-ingested documents are computed
once, persisted, and every new micro-batch is deduped by (a) comparing
its docs against each other and (b) joining its banded sketches against
the committed index — then its sketches are appended for the next batch.

Layout (mirrors the ManifestStore commit discipline, streaming/store.py):
one parquet directory per committed batch under ``root/index/``, written
to ``root/_staging/`` first and atomically renamed — a crash mid-append
leaves the index at the previous consistent snapshot, and re-running the
batch is idempotent (same banded rows overwrite staging and re-rename).

Scale shape: the per-batch work shuffles only the BATCH's (doc_id,
8-hash sketch) rows; the committed index is touched by one equi-join on
(band, band_hash) that is pre-filtered with a broadcast semi-join on the
batch's band keys — a micro-batch of 10^5 docs probes ~bands x 10^5
buckets of a 10^12-row index and never scans the rest. Both the batch
buckets and the matched index buckets are capped (deterministically, by
sorted doc_id) so one degenerate shingle bucket cannot expand O(n^2)
pairs in a reducer.

Parity contract (tested): running k batches incrementally emits exactly
the pair set of ``banded_near_dup_pairs`` recomputed over the union —
each pair (a, b) with a in batch i, b in batch j <= i surfaces when
batch i lands, once.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.tokenize import WS_RANGES
from .batch_index import AtomicBatchIndex
from .dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MAX_BUCKET,
    _cap_bucket_items,
    with_minhash_signature,
    with_minhash_sketch,
)

_INDEX_SCHEMA = ("doc_id string, minhash_sketch array<string>, "
                 "minhash_sig array<bigint>, band int, band_hash string")

# On-disk format version, stamped into _meta.json at creation and checked
# on open. Bump whenever the row schema or the band-hash derivation
# changes (v2 = band hashes over k-permutation signature slices + the
# minhash_sig column; v1 indexes banded the bottom-k sketch and carry no
# sig column — appending v2 rows to a v1 index would silently never join
# old band hashes against new ones).
_INDEX_FORMAT = 2


def banded_sketch_rows(df: DataFrame, bands: int = LSH_BANDS,
                       rows: int = LSH_ROWS) -> DataFrame:
    """(doc_id, minhash_sketch, minhash_sig, band, band_hash) — one row
    per doc per band; the unit the index stores and joins on. Band keys
    come from the position-stable k-permutation signature; the bottom-k
    sketch rides along for the exact-jaccard verify (see
    dedup.with_minhash_signature for why the two coexist)."""
    # Zero-token docs never index; cheap text predicate before the
    # sketch projection (see dedup.near_dup_pairs for why not
    # size(sketch) > 0 after it).
    s = with_minhash_signature(with_minhash_sketch(
        df.where(F.col("text").rlike(f"[^{WS_RANGES}]"))),
        n_hashes=bands * rows).select(
        "doc_id", "minhash_sketch", "minhash_sig")
    band_expr = F.explode(F.expr(
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        f"  'band', b,"
        f"  'band_hash', md5(concat_ws('|', slice(minhash_sig, "
        f"                b * {rows} + 1, {rows})))))"
    )).alias("bk")
    return (s.select("doc_id", "minhash_sketch", "minhash_sig", band_expr)
            .select("doc_id", "minhash_sketch", "minhash_sig",
                    "bk.band", "bk.band_hash"))


def _first_band_cond(sig_x: str, sig_y: str, rows: int) -> str:
    """SQL condition: the current `band` is the FIRST band where the two
    SIGNATURES' band slices agree — the local (shuffle-free) multi-band
    pair dedup used across the dedup family (see
    dedup.banded_near_dup_pairs)."""
    return (
        "CASE WHEN band = 0 THEN true ELSE NOT exists("
        "  transform(sequence(0, band - 1), b -> "
        f"    slice({sig_x}, b * {rows} + 1, {rows}) == "
        f"    slice({sig_y}, b * {rows} + 1, {rows})), "
        "  t -> t) END"
    )


def _expand_pairs(grouped: DataFrame, max_bucket: int,
                  rows: int = LSH_ROWS) -> DataFrame:
    """(band,bucket) item lists -> candidate pairs with both sketches,
    each multi-band pair emitted once (first-collision band, locally)."""
    grouped = _cap_bucket_items(grouped, max_bucket)
    cond = _first_band_cond("x.minhash_sig", "y.minhash_sig", rows)
    return grouped.select(F.explode(F.expr(
        "flatten(transform(items, (x, i) -> "
        "  transform(filter(slice(items, i + 2, size(items)), "
        f"            y -> {cond}), y -> "
        "    struct(x.doc_id AS id_x, y.doc_id AS id_y, "
        "           x.minhash_sketch AS sk_a, y.minhash_sketch AS sk_b))))"
    )).alias("p")).select("p.*")


def _verify(pairs: DataFrame, jaccard_min: float) -> DataFrame:
    """Canonicalize and sketch-Jaccard filter. Pairs arrive already
    unique: intra-batch and batch-vs-index sources are disjoint (the
    index holds only earlier batches), and each source emits a
    multi-band pair once via the first-collision-band filter."""
    inter = F.size(F.array_intersect("sk_a", "sk_b"))
    union = F.size(F.array_union("sk_a", "sk_b"))
    return (pairs
            # a doc_id appearing twice (duplicate input rows, or a
            # re-ingested id meeting its own committed sketch) must
            # not emit a self-pair
            .where(F.col("id_x") != F.col("id_y"))
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= jaccard_min)
            .select(F.least("id_x", "id_y").alias("doc_a"),
                    F.greatest("id_x", "id_y").alias("doc_b"),
                    "jaccard"))


class SketchIndex(AtomicBatchIndex):
    """Persisted banded-MinHash index with atomic batch commits.

    (bands, rows) define the band hashes and `format` the row schema +
    hash derivation; mixing either across batches would make index rows
    silently un-joinable — AtomicBatchIndex pins all three in
    _meta.json and raises on mismatch."""

    FORMAT = _INDEX_FORMAT
    SCHEMA = _INDEX_SCHEMA

    def __init__(self, root: str, bands: int = LSH_BANDS,
                 rows: int = LSH_ROWS):
        super().__init__(root, {"bands": bands, "rows": rows})
        self.bands, self.rows = bands, rows

    def append_and_find(self, spark: SparkSession, batch_df: DataFrame,
                        batch_id: str, jaccard_min: float = 0.5,
                        max_bucket: int = MAX_BUCKET) -> DataFrame:
        """Near-dup pairs involving at least one doc of ``batch_df``
        (batch-internal + batch-vs-index), then commit the batch's
        sketches. Re-running an already-committed batch_id returns its
        pairs again without double-appending (idempotent resume)."""
        b = self._open_batch(
            spark, batch_id,
            lambda: banded_sketch_rows(batch_df, self.bands, self.rows))
        new = b.rows

        # (a) batch-internal pairs: group new rows by (band, band_hash).
        new_grouped = (
            new.groupBy("band", "band_hash")
            .agg(F.collect_list(
                F.struct("doc_id", "minhash_sketch", "minhash_sig"))
                .alias("items"))
            .where(F.size("items") > 1))
        intra = _expand_pairs(new_grouped, max_bucket, self.rows)

        # (b) batch-vs-index pairs. Probe-side pre-filter: the index scan
        # keeps only buckets the batch actually touches (broadcast of the
        # batch's band keys — micro-batch-sized; a semi-join needs no
        # distinct), THEN the matched index buckets are capped and joined.
        # b.prior: a replayed batch probes exactly the index it saw
        # the first time — not itself (self-pairs, duplicated intra
        # pairs) and not later-committed batches (pairs those batches
        # already emitted).
        cands = intra
        if b.prior:
            keys = new.select("band", "band_hash")
            idx = self.prior_df(spark, b).join(
                F.broadcast(keys), ["band", "band_hash"], "left_semi")
            w = Window.partitionBy("band", "band_hash").orderBy("doc_id")
            idx = (idx.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") <= max_bucket).drop("_rn"))
            cross = (new.alias("n").join(
                idx.alias("o"), ["band", "band_hash"]).select(
                "band",
                F.col("n.doc_id").alias("id_x"),
                F.col("o.doc_id").alias("id_y"),
                F.col("n.minhash_sketch").alias("sk_a"),
                F.col("o.minhash_sketch").alias("sk_b"),
                F.col("n.minhash_sig").alias("sig_a"),
                F.col("o.minhash_sig").alias("sig_b"))
                .where(F.expr(_first_band_cond("sig_a", "sig_b", self.rows)))
                .drop("band", "sig_a", "sig_b"))
            cands = intra.unionByName(cross)

        return self._close_batch(_verify(cands, jaccard_min), b)
