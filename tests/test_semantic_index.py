"""SemanticIndex: incremental SemDeDup over the persisted codebook —
batch parity on arrival-respecting plantings, first-seen-wins across
batches, loser-indexed chains, replay idempotence."""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from document_ai_spark.operators.similarity import semdedup
from document_ai_spark.operators.vector_index import SemanticIndex

DIM = 8


def _vec(*head):
    v = list(head) + [0.0] * (DIM - len(head))
    return [float(x) for x in v]


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, v, "l") for i, v in rows],
        "vec_id bigint, embedding array<float>, label string")


def _scaled(rows, offset=1000000):
    return [(i + offset, [2.0 * x for x in v]) for i, v in rows]


def test_incremental_matches_batch_on_ordered_arrival(spark, tmp_path):
    """Originals in batch 1, cos-1 copies in batch 2: the union of
    incremental verdicts equals the batch semdedup recompute."""
    base = [(i, _vec(math.cos(i), math.sin(i))) for i in range(12)]
    copies = _scaled(base)
    idx = SemanticIndex(str(tmp_path / "idx"), cos_min=0.95, k=2,
                        iters=1)
    # The documented production path: ONE codebook shared by every
    # consumer (train once, pass in) — batch vs incremental parity is
    # defined against the same geometry.
    cb = idx.codebook.ensure(spark, _emb(spark, base + copies))
    v1 = idx.append_and_find(spark, _emb(spark, base), "b1")
    v2 = idx.append_and_find(spark, _emb(spark, copies), "b2")
    inc = {r["vec_id"]: r["sem_keep"]
           for r in v1.collect() + v2.collect()}
    full = {r["vec_id"]: r["sem_keep"]
            for r in semdedup(_emb(spark, base + copies), cos_min=0.95,
                              codebook=cb).collect()}
    assert inc == full
    # every cos-1 copy is dropped; each original i also pairs with
    # i+6 (|i - (i+6) mod 2pi| = 0.283 rad -> cos 0.96 >= 0.95), so
    # exactly one of each natural pair survives — the same verdicts in
    # both computations (covered by inc == full).
    assert not any(inc[i] for i, _ in copies)
    assert sum(1 for i, _ in base if inc[i]) == 6


def test_first_seen_wins_across_batches(spark, tmp_path):
    """A later-batch vector similar to an indexed one is dropped even
    when the batch keep-order (cos-to-centroid) would prefer it."""
    a = _vec(1)                                  # IS the centroid
    b = _vec(math.cos(0.22), math.sin(0.22))     # farther (batch rule
    idx = SemanticIndex(str(tmp_path / "idx"), cos_min=0.95, k=1,
                        iters=1)                  # would keep b)
    v1 = idx.append_and_find(spark, _emb(spark, [(0, a)]), "b1")
    v2 = idx.append_and_find(spark, _emb(spark, [(1, b)]), "b2")
    assert v1.collect()[0]["sem_keep"] is True
    assert v2.collect()[0]["sem_keep"] is False   # earlier batch won


def test_losers_are_indexed_chains_collapse(spark, tmp_path):
    """Batch 2's vector similar ONLY to batch 1's dropped vector is
    still dropped — losers enter the index, the stream_curate rule."""
    # centroid trains to ~a (k=1, init = vec 0). Keep order is
    # farthest-from-centroid FIRST, so within batch 1 b (farther)
    # wins and a is the dropped one. c is similar ONLY to the dropped
    # a (angle -0.18 from it; 0.36 from b, below the 0.98 gate).
    t_a, t_b, t_c = 0.0, 0.18, -0.18
    cos_min = round(math.cos(0.20), 2)           # 0.98
    a, b, c = (_vec(math.cos(t), math.sin(t)) for t in (t_a, t_b, t_c))
    idx = SemanticIndex(str(tmp_path / "idx"), cos_min=cos_min, k=1,
                        iters=1)
    v1 = {r["vec_id"]: r["sem_keep"] for r in
          idx.append_and_find(spark, _emb(spark, [(0, a), (1, b)]),
                              "b1").collect()}
    assert v1 == {0: False, 1: True}             # a dropped by b
    v2 = idx.append_and_find(spark, _emb(spark, [(2, c)]),
                             "b2").collect()[0]
    assert v2["sem_keep"] is False               # dropped by the LOSER a


def test_replay_is_idempotent(spark, tmp_path):
    base = [(i, _vec(math.cos(i), math.sin(i))) for i in range(6)]
    idx = SemanticIndex(str(tmp_path / "idx"), cos_min=0.95, k=2,
                        iters=1)
    first = {(r["vec_id"], r["sem_keep"]) for r in
             idx.append_and_find(spark, _emb(spark, base),
                                 "b1").collect()}
    idx.append_and_find(spark, _emb(spark, _scaled(base)), "b2")
    again = {(r["vec_id"], r["sem_keep"]) for r in
             idx.append_and_find(spark, _emb(spark, base),
                                 "b1").collect()}
    assert first == again                        # probes pre-b2 state
    n_rows = idx.index_df(spark).count()
    assert n_rows == 12                          # no double-append


def _two_leg_reference(spark, idx, batch_id):
    """The verdicts of committed ``batch_id`` under the two-leg SQL
    composition: greedy_drop_expr over the keep-ordered clusters
    capped at max_cluster, OR
    batch_vs_index_dropped (SQL join filter) against the batches
    committed before it, each cluster capped to its max_cluster lowest
    vec_ids."""
    import os

    from pyspark.sql import Window

    from document_ai_spark.operators.dedup import _cap_bucket_items
    from document_ai_spark.operators.similarity import (
        batch_vs_index_dropped,
        greedy_drop_expr,
        item_norm,
    )

    new = spark.read.parquet(os.path.join(idx.index_dir, batch_id))
    grouped = _cap_bucket_items(new.groupBy("centroid_id").agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("cos_c").alias("c"), F.col("vec_id").alias("v"),
            F.col("emb").alias("e"),
            item_norm("emb").alias("nrm")))).alias("items")),
        idx.max_cluster)
    dropped = {r.r.vec_id for r in grouped.select(F.explode(
        greedy_drop_expr(idx.cos_min)).alias("r")).collect() if r.r.dropped}
    w = Window.partitionBy("centroid_id").orderBy("vec_id")
    prior = (idx.index_df(spark, before_seq=idx._batch_seq(batch_id))
             .withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") <= idx.max_cluster))
    dropped |= {r.vec_id for r in batch_vs_index_dropped(
        new, prior, idx.cos_min).collect()}
    return {r.vec_id: r.vec_id not in dropped for r in new.collect()}


def _angle(t):
    return _vec(math.cos(t), math.sin(t))


@pytest.mark.parametrize("cos_min", [0.95, 0.0])
def test_one_pass_verdicts_match_two_leg_composition(spark, tmp_path,
                                                     cos_min):
    """The fused intra + cross verdicts equal the two-leg composition on
    edge fixtures at a small max_cluster: a batch item beyond the intra
    cap is still dropped by its index match; zero-norm vectors drop by
    the cross leg at cos_min <= 0 but never by the intra leg; NaN,
    ragged, null and null-element vectors; a replayed batch_id returns
    identical verdicts. b2 holds no null or ragged vector, so it runs
    the dgemm kernels; b3's cluster is dirty and takes the SQL forms."""
    idx = SemanticIndex(str(tmp_path / "idx"), cos_min=cos_min, k=1,
                        iters=1, max_cluster=3)
    # even ids (the training sample) sit symmetric around angle 0, so
    # the one centroid is at angle 0 and vec 0 is closest to it
    clean = [(0, _angle(0.0)), (1, _angle(1.0)), (2, _angle(0.3)),
             (3, _angle(-1.0)), (4, _angle(-0.3)), (6, _angle(0.6)),
             (8, _angle(-0.6))]
    idx.codebook.ensure(spark, _emb(spark, clean))
    # the zero vector (cos_c 0.0) follows the opposite one (cos_c -1.0)
    # in keep order, so the intra leg does judge it
    b1 = clean + [(100, [0.0] * DIM), (101, _angle(math.pi))]
    # the copy of vec 0 sorts next to last in keep order (cos_c ASC;
    # only the NaN vector follows), far beyond max_cluster = 3; index
    # probing keeps vec_ids 0, 1, 2 (incl. 0)
    b2 = [(1000, [2.0 * x for x in _angle(0.0)]),
          (10, _angle(0.8)), (11, _angle(-0.8)), (12, _angle(0.45)),
          (13, _angle(-0.45)), (200, [0.0] * DIM),
          (201, [float("nan")] * DIM)]
    b3 = [(1002, [3.0 * x for x in _angle(0.3)]), (300, [0.0] * DIM),
          (302, [1.0] * (DIM // 2)), (303, None),
          (304, [1.0, None] + [1.0] * (DIM - 2))]
    from document_ai_spark.operators.dedup import collect_cap_metrics

    got = {}
    for name, rows in (("b1", b1), ("b2", b2), ("b3", b3)):
        with collect_cap_metrics() as caps:
            got[name] = {r.vec_id: r.sem_keep for r in idx.append_and_find(
                spark, _emb(spark, rows), name).collect()}
        assert got[name] == _two_leg_reference(spark, idx, name), name
        # the intra cap stays observed: one cluster, 3 items judged
        assert caps.summary() == {"lsh_cap_dropped": len(rows) - 3,
                                  "lsh_max_bucket": len(rows)}, name
    assert got["b2"][1000] is False         # beyond the cap, index match
    assert got["b1"][100] is True           # intra: zero-norm is false
    for zero in (got["b2"][200], got["b3"][300]):
        assert zero is (cos_min > 0)        # cross: zero-norm scores 0.0
    assert got["b2"][201] is False          # NaN drops
    again = {r.vec_id: r.sem_keep for r in
             idx.append_and_find(spark, _emb(spark, b2), "b2").collect()}
    assert again == got["b2"]


def _job_ids(spark, group, fn):
    """Spark jobs started by ``fn()`` (counted, not timed)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_index_reads_start_no_jobs(spark, tmp_path):
    """Reading committed and staged batches is schema-pinned: building
    index_df over several committed batches, the probe prefix of an
    opened batch, a re-read of its staged rows and a fresh handle's
    index_df start no Spark job (no schema inference per read)."""
    base = [(i, _vec(math.cos(i), math.sin(i))) for i in range(6)]
    idx = SemanticIndex(str(tmp_path / "idx"), cos_min=0.95, k=2,
                        iters=1)
    for b in range(3):
        idx.append_and_find(spark, _emb(spark, _scaled(base, 100 * b)),
                            f"b{b}")
    opened = idx._open_batch(
        spark, "b3", lambda: idx._assign(spark, _emb(spark, base)))
    assert len(opened.prior) == 3 and not opened.replay

    def reads():
        idx.index_df(spark)
        idx.index_df(spark, before_seq=3)
        idx.prior_df(spark, opened)
        idx._read(spark, [opened.stage])
        idx._open_batch(spark, "b1", None)      # replay: no build
        # a fresh handle takes the schema from a parquet footer
        SemanticIndex(idx.root, cos_min=0.95, k=2, iters=1).index_df(spark)
    assert _job_ids(spark, "index-reads", reads) == []


def test_second_append_does_not_reread_codebook(spark, tmp_path,
                                                monkeypatch):
    """The train-once codebook is memoized per handle: after the first
    append its rows cost no job, and a second append never reads the
    committed codebook again."""
    base = [(i, _vec(math.cos(i), math.sin(i))) for i in range(6)]
    idx = SemanticIndex(str(tmp_path / "idx"), cos_min=0.95, k=2,
                        iters=1)
    first = {r.vec_id: r.sem_keep for r in idx.append_and_find(
        spark, _emb(spark, base), "b1").collect()}
    cb = idx.codebook
    assert _job_ids(spark, "codebook-rows", lambda: (
        cb.centroid_rows(spark), cb.centroids(spark))) == []

    def reread(*args, **kwargs):
        raise AssertionError("committed codebook re-read")
    monkeypatch.setattr(cb, "index_df", reread)
    second = {r.vec_id: r.sem_keep for r in idx.append_and_find(
        spark, _emb(spark, _scaled(base)), "b2").collect()}
    assert set(first.values()) and not any(second.values())


def test_dirty_batch_runs_the_clean_batch_jobs(spark, tmp_path):
    """Routing dirty clusters to the SQL forms adds no Spark job: a
    probing append whose batch holds one ragged and one null-element
    vector runs as many jobs as an all-clean batch (job ids per call,
    not timed), and both dirty vectors keep (NULL cosines)."""
    idx = SemanticIndex(str(tmp_path / "idx"), cos_min=0.95, k=2,
                        iters=1)
    idx.append_and_find(spark, _emb(spark, [(i, _angle(0.5 * i))
                                            for i in range(6)]), "b0")
    clean = [(100 + i, _angle(0.5 * i + 0.2)) for i in range(4)]
    dirty = clean[:2] + [(200, [1.0] * (DIM // 2)),
                         (201, [1.0, None] + [1.0] * (DIM - 2))]
    jobs, got = {}, {}
    for name, rows in (("b1", clean), ("b2", dirty)):
        def call():
            got[name] = {r.vec_id: r.sem_keep for r in idx.append_and_find(
                spark, _emb(spark, rows), name).collect()}
        jobs[name] = len(_job_ids(spark, f"sem-{name}", call))
    assert jobs["b1"] == jobs["b2"] > 0
    assert got["b2"][200] is True and got["b2"][201] is True
