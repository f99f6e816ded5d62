"""Review regressions for the similarity/IVF family: zero-norm
vectors, non-dense vec_ids, duplicate-id inputs."""
from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from document_ai_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dups,
    kmeans_codebook,
    semdedup,
)


def _emb(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in rows],
        "vec_id long, embedding array<double>")


def test_zero_norm_vectors_never_match(spark):
    """cos(0-vector, anything) = 0.0, never NaN: Spark orders NaN above
    every real number, so unguarded NaN >= cos_min was TRUE and two
    empty-doc vectors counted as near-dups (and engine parity broke —
    DuckDB orders NaN differently)."""
    rows = [(0, [0.0] * 8), (1, [0.0] * 8),
            (2, [1.0, 2.0] + [0.0] * 6), (3, [1.0, 2.0] + [0.0] * 6)]
    pairs = embedding_near_dups(_emb(spark, rows), cos_min=0.9,
                                bands=2, rows=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) not in got               # zero pair must NOT match
    assert (2, 3) in got                   # identical real pair must
    # brute force: zero probe scores 0.0 against everything, never NaN
    bf = brute_force_topk(_emb(spark, rows), probe_ids=[0], k=3).collect()
    assert bf and all(r["cos_sim"] == 0.0 for r in bf)


def test_semdedup_zero_vectors_kept_not_nan_dropped(spark):
    """A zero vector inside a cluster must not drop (or be dropped by)
    anything via NaN comparisons."""
    rows = [(i, [float(i + 1), 1.0, 0.0, 0.0]) for i in range(6)]
    rows += [(10, [0.0] * 4), (11, [0.0] * 4)]
    out = {r["vec_id"]: r["sem_keep"]
           for r in semdedup(_emb(spark, rows), cos_min=0.99,
                             k=2).collect()}
    assert out[10] and out[11]             # zero vectors match nothing


def test_kmeans_codebook_offset_ids(spark):
    """Non-dense / offset vec_ids (the planted-copy convention uses
    base+1000000) must still train k centroids: the old `vec_id < k`
    init silently produced an EMPTY codebook and semdedup returned an
    empty frame."""
    rows = [(1_000_000 + i,
             [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
            for i in range(40)]
    cents = kmeans_codebook(_emb(spark, rows), k=4).collect()
    assert len(cents) == 4
    out = semdedup(_emb(spark, rows), cos_min=0.999, k=4).collect()
    assert len(out) == 40                  # every vector gets a verdict


def test_kmeans_codebook_all_odd_ids_trains(spark):
    """vec_id % 2 == 0 over all-odd ids is an EMPTY training sample;
    the fallback must train on the full input instead of silently
    keeping the raw init vectors."""
    rows = [(2 * i + 1,
             [float((i * 5 + j) % 7 - 3) for j in range(8)])
            for i in range(30)]
    df = _emb(spark, rows)
    cents = {r["centroid_id"]: r["cent"]
             for r in kmeans_codebook(df, k=3, iters=1).collect()}
    assert len(cents) == 3
    init = {r["vec_id"]: [float(v) for v in r["embedding"]]
            for r in df.orderBy("vec_id").limit(3).collect()}
    # at least one centroid moved off its raw init vector
    assert any(cents[i] != init[i] for i in init)


def test_embedding_near_dups_duplicate_id_no_self_pair(spark):
    rows = [(5, [1.0, 2.0, 3.0, 4.0] * 2), (5, [1.0, 2.0, 3.0, 4.0] * 2)]
    pairs = embedding_near_dups(_emb(spark, rows), cos_min=0.5,
                                bands=2, rows=4).collect()
    assert pairs == []


@pytest.mark.parametrize("cos_min", [0.999, 0.5, 0.0, -0.5])
def test_sweep_arrow_matches_sql(spark, cos_min):
    """Round-6 parity contract: the vectorized Arrow pair sweep must be
    bit-identical to the pure-JVM HOF sweep on every adversarial input
    class — NaN vectors (Spark orders NaN above all doubles, so NaN
    cosines survive the filter in BOTH paths), zero-norm vectors
    (scored 0.0 via the CASE short-circuit, even against a ragged
    partner), ragged dimensions and null elements (NULL cosine ->
    dropped), and duplicate ids (self-pair guard)."""
    rows = [
        (0, [1.0, 2.0] + [0.0] * 62), (1, [2.0, 4.0] + [0.0] * 62),
        (2, [0.0] * 64), (3, [0.0] * 64),
        (4, [float("nan")] * 64), (5, [1.0] * 64),
        (6, [1.0] * 32),                    # ragged dims
        (7, None),                          # null embedding
        (8, [1.0, None] + [1.0] * 62),      # null element
        (9, [1.0] * 64), (9, [1.0] * 64),   # duplicate id
        (10, [-1.0] * 64), (11, [-1.0] * 64),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    sql_rows = sorted(
        (r.id_a, r.id_b, str(r.cos_sim))
        for r in embedding_near_dups(df, cos_min=cos_min,
                                     sweep="sql").collect())
    arrow_rows = sorted(
        (r.id_a, r.id_b, str(r.cos_sim))
        for r in embedding_near_dups(df, cos_min=cos_min,
                                     sweep="arrow").collect())
    assert sql_rows == arrow_rows
    assert sql_rows                         # non-degenerate fixture


@pytest.mark.parametrize("cos_min", [0.95, 0.5, 0.999])
def test_semdedup_sweep_arrow_matches_sql(spark, cos_min):
    """greedy_verdicts parity: the vectorized Arrow greedy sweep must
    agree with the pure-JVM greedy_drop_expr on every verdict,
    including NaN vectors (drop — Spark orders NaN above all doubles),
    zero-norm vectors (keep — the CASE scores them false), ragged/null
    vectors (NULL cosine -> keep post-coalesce), duplicate ids, and
    near-threshold cosines (the ambiguous band resolves via a JVM
    round, never a Python one)."""
    from document_ai_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 2.0] + [0.0] * 62), (1, [2.0, 4.0] + [0.0] * 62),
        (2, [0.0] * 64), (3, [0.0] * 64),
        (4, [float("nan")] * 64), (5, [1.0] * 64),
        (6, [1.0] * 32),
        (7, None),
        (8, [1.0, None] + [1.0] * 62),
        (9, [1.0] * 64), (9, [1.0] * 64),
        (10, [-1.0] * 64), (11, [-1.0] * 64),
        (12, [1.0, 0.1] + [0.0] * 62), (13, [1.0, 0.11] + [0.0] * 62),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    def norm(out):
        d = {}
        for r in out.collect():
            d.setdefault(r.vec_id, []).append(
                (r.centroid_id, str(r.cos_c), r.sem_keep))
        return {k: sorted(v) for k, v in d.items()}

    a = norm(semdedup(df, cos_min=cos_min, k=3, sweep="sql"))
    b = norm(semdedup(df, cos_min=cos_min, k=3, sweep="arrow"))
    assert a == b


def test_assign_arrow_matches_window(spark):
    """_assign_with_cos parity: the BLAS-candidate + JVM-argmax
    assignment must equal the k-way window form on every edge — NaN
    vectors (NaN cosines win, Spark orders NaN above all), zero-norm
    vectors and zero-norm CENTROIDS (0.0 via the CASE short-circuit,
    even against ragged rows — the dot is never evaluated), ragged
    dims and null elements (NULL cosines -> lowest centroid_id), and
    round-boundary near-ties (resolved by the JVM round, never a
    Python one)."""
    from pyspark.sql import functions as F

    from document_ai_spark.operators.similarity import (
        _assign_with_cos,
        kmeans_codebook,
    )

    rows = [
        (0, [1.0, 2.0] + [0.0] * 62), (1, [2.0, 4.0] + [0.0] * 62),
        (2, [0.0] * 64), (3, [0.0] * 64),
        (4, [float("nan")] * 64), (5, [1.0] * 64),
        (6, [1.0] * 32),                    # ragged
        (7, None),
        (8, [1.0, None] + [1.0] * 62),
        (9, [1.0] * 64), (10, [-1.0] * 64), (11, [-1.0] * 64),
        (12, [1.0, 0.1] + [0.0] * 62), (13, [1.0, 0.11] + [0.0] * 62),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    base = df.select("vec_id",
                     F.col("embedding").cast("array<double>").alias("emb"))
    cents = kmeans_codebook(df, 4)
    a = sorted((r.vec_id, r.centroid_id, str(r.cos_c))
               for r in _assign_with_cos(base, cents,
                                         impl="window").collect())
    b = sorted((r.vec_id, r.centroid_id, str(r.cos_c))
               for r in _assign_with_cos(base, cents,
                                         impl="arrow").collect())
    assert a == b and a


@pytest.mark.parametrize("cos_min", [0.95, 0.5, 0.0, -0.5])
def test_batch_vs_index_arrow_matches_sql(spark, cos_min):
    """batch_and_index_verdicts parity: the one-pass Arrow verdicts must
    reproduce the SQL legs exactly — the intra greedy_drop_expr sweep
    OR the centroid-keyed batch_vs_index_dropped join filter: NULL
    cosines keep, NaN drops, zero-norm pairs score 0.0 against the
    index (dropping only at cos_min <= 0) but false within the batch,
    ragged/null vectors route through the per-pair fallbacks. The NaN
    vector comes last in its cluster's keep order, so its NaN cosines
    hide no earlier item's cross-leg verdict (vec 7 against index vec
    15, cosine ~0.99995)."""
    from document_ai_spark.operators.similarity import (
        batch_and_index_verdicts,
        batch_vs_index_dropped,
        greedy_verdicts,
        item_norm,
    )

    new_rows = [
        (0, 0, 0.1, [1.0, 2.0] + [0.0] * 62), (1, 0, 0.2, [0.0] * 64),
        (2, 1, 0.9, [float("nan")] * 64), (3, 1, 0.4, [1.0] * 64),
        (4, 0, None, [1.0] * 32),
        (5, 1, None, None), (6, 0, None, [1.0, None] + [1.0] * 62),
        (7, 1, 0.5, [1.0, 0.1] + [0.0] * 62),
    ]
    idx_rows = [
        (10, 0, [2.0, 4.0] + [0.0] * 62), (11, 0, [0.0] * 64),
        (12, 1, [1.0] * 64), (13, 1, [-1.0] * 64),
        (14, 0, [1.0] * 32), (15, 1, [1.0, 0.11] + [0.0] * 62),
        (16, 0, None),
    ]
    new = spark.createDataFrame(
        new_rows,
        "vec_id long, centroid_id long, cos_c double, emb array<double>")
    idx = spark.createDataFrame(
        idx_rows, "vec_id long, centroid_id long, emb array<double>")
    grouped = new.groupBy("centroid_id").agg(F.array_sort(F.collect_list(
        F.struct(F.col("cos_c").alias("c"), F.col("vec_id").alias("v"),
                 F.col("emb").alias("e"),
                 item_norm(F.col("emb")).alias("nrm")))).alias("items"))
    intra = {r.vec_id for r in greedy_verdicts(grouped, cos_min,
                                               sweep="sql").collect()
             if r.dropped}
    cross = {r.vec_id for r in
             batch_vs_index_dropped(new, idx, cos_min).collect()}
    got = {r.vec_id: r.sem_keep for r in batch_and_index_verdicts(
        new, idx, cos_min, max_cluster=64).collect()}
    assert got == {i: i not in intra | cross for i, *_ in new_rows}
    assert cross - intra     # the cross leg decides some verdict alone
