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


def _routes(grouped, *arrays, field="e"):
    """The set of routing verdicts (clean or not) the JVM takes over
    ``grouped``'s groups."""
    from document_ai_spark.operators.similarity import _clean

    return {r.c for r in grouped.select(
        _clean(field, *arrays).alias("c")).collect()}


_SWEEP_ROWS = [
    (0, [1.0, 2.0] + [0.0] * 62), (1, [2.0, 4.0] + [0.0] * 62),
    (2, [0.0] * 64), (3, [0.0] * 64),
    (4, [float("nan")] * 64), (5, [1.0] * 64),
    (6, [1.0] * 32),                    # ragged dims
    (7, None),                          # null embedding
    (8, [1.0, None] + [1.0] * 62),      # null element
    (9, [1.0] * 64), (9, [1.0] * 64),   # duplicate id
    (10, [-1.0] * 64), (11, [-1.0] * 64),
    # a bucket where one ragged item sits beside clean ones: sign bits
    # (+ - + - ...) shared by 20-22 only; 23 stops after 32 dims
    (20, [1.0, -1.0] * 32), (21, [1.1, -1.0] * 32),
    (22, [1.0, -1.2] * 32), (23, [1.0, -1.0] * 16),
    (30, [-1.0, 1.0] * 32), (31, [-1.0, 1.1] * 32),   # a clean bucket
]
# Zero-norm and NaN vectors share every band's bucket with a dirty item
# above; without the dirty rows they reach the NumPy kernel.
_DIRTY = {6, 7, 8, 23}


@pytest.mark.parametrize("cos_min", [0.999, 0.5, 0.0, -0.5])
def test_sweep_arrow_matches_sql(spark, cos_min):
    """Parity contract: the production pair sweep (NumPy over clean
    buckets, the SQL form's pairs passed through for the rest) equals
    _sweep_pairs_sql over the same capped buckets on every adversarial
    input class — NaN vectors (Spark orders NaN above all doubles, so
    NaN cosines survive the filter), zero-norm vectors (scored 0.0 via
    the CASE short-circuit, even against a ragged partner), ragged
    dimensions and null elements (NULL cosine -> dropped), duplicate
    ids (self-pair guard), and a bucket where one ragged item sits
    beside clean ones. The fixture runs whole (both routes in one
    batch) and without its dirty rows (every bucket clean)."""
    from document_ai_spark.operators.similarity import (
        _near_dup_groups,
        _sweep_pairs_sql,
    )

    clean = [r for r in _SWEEP_ROWS if r[0] not in _DIRTY]
    for rows, routes in ((_SWEEP_ROWS, {True, False}), (clean, {True})):
        df = spark.createDataFrame(rows,
                                   "vec_id: long, embedding: array<double>")
        grouped = _near_dup_groups(df, 4, 8, 4096)
        assert _routes(grouped, "items", field="emb") == routes
        sql_rows = sorted(
            (r.id_a, r.id_b, str(r.cos_sim))
            for r in _sweep_pairs_sql(grouped, cos_min).collect())
        arrow_rows = sorted(
            (r.id_a, r.id_b, str(r.cos_sim))
            for r in embedding_near_dups(df, cos_min=cos_min).collect())
        assert sql_rows == arrow_rows
        assert sql_rows                     # non-degenerate fixture
        if cos_min == 0.5:                  # the mixed and clean buckets
            assert {(20, 21), (20, 22), (21, 22), (30, 31)} <= {
                (a, b) for a, b, _ in sql_rows}


_SEM_ROWS = [
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


def test_repeated_vec_id_returns_one_row(spark, tmp_path):
    """vec_id is a key: the assignment keeps one row per vec_id, so the
    15 fixture rows (vec_id 9 twice) give 14 verdicts from semdedup and
    from SemanticIndex.append_and_find alike. Pinned so that changing
    this (keeping or counting the repeats) is a deliberate change."""
    from document_ai_spark.operators.vector_index import SemanticIndex

    df = spark.createDataFrame(_SEM_ROWS,
                               "vec_id: long, embedding: array<double>")
    assert len(_SEM_ROWS) == 15
    assert semdedup(df, cos_min=0.95, k=3).count() == 14
    idx = SemanticIndex(str(tmp_path / "idx"), cos_min=0.95, k=3, iters=1)
    assert idx.append_and_find(spark, df, "b1").count() == 14


def _semdedup_sql(spark, df, cos_min, k=None, max_cluster=4096,
                  codebook=None):
    """semdedup as the SQL composition the one pass replaced, spelled
    out: the window-form assignment, the keep-ordered clusters capped
    at max_cluster, the SQL greedy pass (greedy_drop_expr), and the
    completeness left join that keeps every beyond-cap item. Returns
    the frame and its lsh_cap counts."""
    from document_ai_spark.operators.dedup import (
        _cap_bucket_items,
        collect_cap_metrics,
    )
    from document_ai_spark.operators.similarity import (
        _assign_window,
        greedy_drop_expr,
        item_norm,
    )

    cents = codebook if codebook is not None else kmeans_codebook(df, k)
    base = df.select("vec_id",
                     F.col("embedding").cast("array<double>").alias("emb"))
    assigned = _assign_window(base, cents)
    with collect_cap_metrics() as caps:
        grouped = _cap_bucket_items(
            assigned.groupBy("centroid_id").agg(F.array_sort(
                F.collect_list(F.struct(
                    F.col("cos_c").alias("c"), F.col("vec_id").alias("v"),
                    F.col("emb").alias("e"),
                    item_norm("emb").alias("nrm")))).alias("items")),
            max_cluster)
        judged = (grouped.select(F.explode(greedy_drop_expr(cos_min))
                                 .alias("r"))
                  .select(F.col("r.vec_id").alias("vec_id"),
                          (~F.coalesce("r.dropped", F.lit(False)))
                          .alias("_sk")))
        out = (assigned.select("vec_id", "centroid_id", "cos_c")
               .join(judged, "vec_id", "left")
               .withColumn("sem_keep", F.coalesce("_sk", F.lit(True)))
               .drop("_sk")).collect()
    return out, caps.summary()


def _verdicts(rows):
    """vec_id -> the set of (centroid_id, cos_c, sem_keep) it got."""
    d = {}
    for r in rows:
        d.setdefault(r.vec_id, set()).add(
            (r.centroid_id, str(r.cos_c), r.sem_keep))
    return d


@pytest.mark.parametrize("cos_min", [0.95, 0.5, 0.999])
def test_semdedup_sweep_arrow_matches_sql(spark, cos_min):
    """semdedup (one batch_and_index_verdicts pass) equals the SQL
    composition on every verdict, including NaN vectors (drop — Spark
    orders NaN above all doubles), zero-norm vectors (keep — the CASE
    scores them false), ragged/null vectors (NULL cosine -> keep),
    duplicate ids, and near-threshold cosines (the ambiguous band
    resolves via a JVM round, never a Python one). The
    fixture runs whole (dirty clusters) and without its null, null-
    element and ragged rows (clean clusters, the NumPy kernels)."""
    clean = [r for r in _SEM_ROWS if r[0] not in _DIRTY]
    for rows in (_SEM_ROWS, clean):
        df = spark.createDataFrame(rows,
                                   "vec_id: long, embedding: array<double>")
        cents = kmeans_codebook(df, 3)
        ref, _ = _semdedup_sql(spark, df, cos_min, codebook=cents)
        got = semdedup(df, cos_min=cos_min, codebook=cents).collect()
        assert _verdicts(got) == _verdicts(ref)
        # the assignment keeps one row per vec_id
        assert len(got) == len({r[0] for r in rows})


@pytest.mark.parametrize("dirty", [False, True])
def test_semdedup_cap_matches_sql_composition(spark, dirty):
    """max_cluster=2 on a 4-member cluster: the one pass judges the
    first two items in keep order, keeps the ones beyond the cap, and
    observes the same lsh_cap counts as the SQL composition. With a
    ragged vector beside them (NULL cos_c, first in keep order) the
    cluster takes the SQL form, which must judge the capped prefix
    only."""
    from document_ai_spark.operators.dedup import collect_cap_metrics

    base = [1.0, 0.1] + [0.0] * 6
    rows = [(i, [x * (1 + 0.001 * i) for x in base]) for i in range(4)]
    rows.append((9, [0.0, 1.0] + [0.0] * 6))
    if dirty:
        rows.append((8, base[:4]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)],
        "centroid_id bigint, cent array<double>")
    ref, ref_caps = _semdedup_sql(spark, df, 0.95, max_cluster=2,
                                  codebook=cents)
    with collect_cap_metrics() as caps:
        got = semdedup(df, cos_min=0.95, codebook=cents,
                       max_cluster=2).collect()
    assert _verdicts(got) == _verdicts(ref)
    assert len(got) == len(rows)
    assert sum(not r.sem_keep for r in got) == (0 if dirty else 1)
    n = 5 if dirty else 4
    assert caps.summary() == ref_caps == {"lsh_cap_dropped": n - 2,
                                          "lsh_max_bucket": n}


_ASSIGN_ROWS = [
    (0, [1.0, 2.0] + [0.0] * 62), (1, [2.0, 4.0] + [0.0] * 62),
    (2, [0.0] * 64), (3, [0.0] * 64),
    (4, [float("nan")] * 64), (5, [1.0] * 64),
    (6, [1.0] * 32),                    # ragged
    (7, None),
    (8, [1.0, None] + [1.0] * 62),
    (9, [1.0] * 64), (10, [-1.0] * 64), (11, [-1.0] * 64),
    (12, [1.0, 0.1] + [0.0] * 62), (13, [1.0, 0.11] + [0.0] * 62),
    (14, [0.0] * 32),                   # ragged zero vector
]


def _assignments(df):
    return sorted((r.vec_id, r.centroid_id, str(r.cos_c))
                  for r in df.collect())


def _uses_arrow(df) -> bool:
    return "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()


def test_assign_arrow_matches_window(spark):
    """_assign_with_cos parity: with a clean codebook, the
    BLAS-candidate + JVM-argmax assignment must equal the k-way window
    form (_assign_window) on every edge — NaN vectors (NaN cosines win,
    Spark orders NaN above all), zero-norm vectors and a zero-norm
    CENTROID (0.0 via the CASE short-circuit, even against ragged rows
    — the dot is never evaluated), ragged dims and null elements
    (NULL cosines -> lowest centroid_id), and round-boundary near-ties
    (resolved by the JVM round, never a Python one)."""
    from document_ai_spark.operators.similarity import (
        _assign_window,
        _assign_with_cos,
    )

    df = spark.createDataFrame(_ASSIGN_ROWS,
                               "vec_id: long, embedding: array<double>")
    base = df.select("vec_id",
                     F.col("embedding").cast("array<double>").alias("emb"))
    trained = kmeans_codebook(
        df.where(~F.col("vec_id").isin(6, 7, 8, 14)), 4)
    unit = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 63), (1, [0.0, 1.0] + [0.0] * 62),
         (2, [-1.0] * 64), (99, [0.0] * 64)],
        "centroid_id long, cent array<double>")
    for cb in (trained, unit):
        got = _assign_with_cos(base, cb)
        assert _uses_arrow(got)
        a = _assignments(_assign_window(base, cb))
        assert _assignments(got) == a and a
    # ragged rows score 0.0 against the zero centroid and NULL against
    # the rest; a ragged zero vector scores 0.0 against every centroid
    assert (6, 99, "0.0") in a and (14, 0, "0.0") in a
    assert (7, 0, "None") in a and (8, 0, "None") in a


def test_assign_degenerate_codebook_takes_window_form(spark):
    """A codebook with a ragged centroid (or a null component) sends the
    whole assignment to the window form."""
    from document_ai_spark.operators.similarity import (
        _assign_window,
        _assign_with_cos,
    )

    df = spark.createDataFrame(_ASSIGN_ROWS,
                               "vec_id: long, embedding: array<double>")
    base = df.select("vec_id",
                     F.col("embedding").cast("array<double>").alias("emb"))
    for bad in ([1.0] * 32, [1.0, None] + [0.0] * 62):
        cb = spark.createDataFrame(
            [(0, [1.0] + [0.0] * 63), (1, bad),
             (2, [0.0, 1.0] + [0.0] * 62)],
            "centroid_id long, cent array<double>")
        got = _assign_with_cos(base, cb)
        assert not _uses_arrow(got)
        a = _assignments(_assign_window(base, cb))
        assert _assignments(got) == a and a


@pytest.mark.parametrize("cos_min", [0.95, 0.5, 0.0, -0.5])
def test_batch_vs_index_arrow_matches_sql(spark, cos_min):
    """batch_and_index_verdicts parity: the one-pass verdicts must
    reproduce the SQL forms exactly — the intra greedy_drop_expr sweep
    OR the centroid-keyed batch_vs_index_dropped join filter: NULL
    cosines keep, NaN drops, zero-norm pairs score 0.0 against the
    index (dropping only at cos_min <= 0) but false within the batch.
    Cluster 2 is clean (the NumPy kernels), cluster 0 holds one ragged
    and one null-element item beside clean ones and cluster 1 a null
    vector (the SQL forms). The NaN vectors come last in their
    cluster's keep order, so their NaN cosines hide no earlier item's
    cross-leg verdict (vec 7 against index vec 15, cosine ~0.99995)."""
    from document_ai_spark.operators.similarity import (
        batch_and_index_verdicts,
        batch_vs_index_dropped,
        greedy_drop_expr,
        item_norm,
    )

    new_rows = [
        (0, 0, 0.1, [1.0, 2.0] + [0.0] * 62), (1, 0, 0.2, [0.0] * 64),
        (2, 1, 0.9, [float("nan")] * 64), (3, 1, 0.4, [1.0] * 64),
        (4, 0, None, [1.0] * 32),
        (5, 1, None, None), (6, 0, None, [1.0, None] + [1.0] * 62),
        (7, 1, 0.5, [1.0, 0.1] + [0.0] * 62),
        (20, 2, 0.1, [1.0, 2.0] + [0.0] * 62), (21, 2, 0.2, [0.0] * 64),
        (22, 2, 0.3, [2.0, 4.0] + [0.0] * 62),
        (23, 2, 0.4, [1.0, 0.1] + [0.0] * 62),
        (24, 2, 0.9, [float("nan")] * 64),
    ]
    idx_rows = [
        (10, 0, [2.0, 4.0] + [0.0] * 62), (11, 0, [0.0] * 64),
        (12, 1, [1.0] * 64), (13, 1, [-1.0] * 64),
        (14, 0, [1.0] * 32), (15, 1, [1.0, 0.11] + [0.0] * 62),
        (16, 0, None),
        (30, 2, [0.0] * 64), (31, 2, [1.0, 0.11] + [0.0] * 62),
    ]
    new = spark.createDataFrame(
        new_rows,
        "vec_id long, centroid_id long, cos_c double, emb array<double>")
    idx = spark.createDataFrame(
        idx_rows, "vec_id long, centroid_id long, emb array<double>")
    grouped = new.groupBy("centroid_id").agg(F.array_sort(F.collect_list(
        F.struct(F.col("cos_c").alias("c"), F.col("vec_id").alias("v"),
                 F.col("emb").alias("e"),
                 item_norm("emb").alias("nrm")))).alias("items"))
    assert _routes(grouped, "items") == {True, False}
    intra = {r.r.vec_id for r in grouped.select(
        F.explode(greedy_drop_expr(cos_min)).alias("r")).collect()
             if r.r.dropped}
    cross = {r.vec_id for r in
             batch_vs_index_dropped(new, idx, cos_min).collect()}
    got = {r.vec_id: r.sem_keep for r in batch_and_index_verdicts(
        new, idx, cos_min, max_cluster=64).collect()}
    assert got == {i: i not in intra | cross for i, *_ in new_rows}
    assert cross - intra     # the cross leg decides some verdict alone
    assert not got[22] and not got[24]      # clean cluster: intra, NaN
