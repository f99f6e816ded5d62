"""Similarity search over an embedding column (array<float>).

Two paths, mirroring how a real 100 TB pipeline tiers ANN:
  * brute-force cosine top-k for a SMALL probe set: probe vectors are
    broadcast, the corpus streams once, per-probe top-k via window —
    O(corpus x probes) but a single scan, no shuffle of the corpus.
  * sign-LSH bucketed variant: bucket = sign-bit pattern of hyperplane
    dimensions. Probes only compare against their own bucket — the scale
    path where the corpus side is hash-partitioned by bucket and never
    fully scanned per query.

Near-duplicate detection uses BANDED multi-probe sign-LSH (bands x rows
sign bits over disjoint dimension slices): a pair collides if it agrees
on ANY band, buckets are capped (observed drop metric, never silent), and
pair expansion only ever happens inside a (band, bucket) group — no
unbounded self-join at 10^12 vectors.

IVF uses a trained codebook: deterministic seeded Lloyd iterations
(init = first-k, few iterations, id-sampled training set). Each round
collects the k-row codebook to the driver (control-plane sized) and
ships it in the assignment's task closure.

One rule per verdict: the SQL forms (_cosine_pre, _sweep_pairs_sql,
greedy_drop_expr, batch_vs_index_dropped, _assign_window) DEFINE the
cosine semantics, including NULL, ragged and null-element embeddings
(zip_with pads with NULL, the CASE guard scores zero norms). The
mapInArrow kernels are dense NumPy over clean blocks only: the JVM
decides per group (bucket, cluster) or per row whether every item has
a norm (item_norm is NULL exactly for null arrays and null elements)
and one dimension, evaluates the SQL form for the rest in the same
projection, and the kernel passes those verdicts through unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import fan_out
from .dedup import _cap_bucket_items, _observe_cap


def _cosine(a, b):
    """Cosine similarity with a ZERO-NORM GUARD: a zero embedding (an
    empty document's vector) makes the denominator 0 and the raw
    division yields NaN — and Spark orders NaN ABOVE every real number,
    so an unguarded NaN >= cos_min is TRUE and two garbage vectors
    would count as near-dups (review finding; DuckDB's NaN ordering
    differs, so parity would also break on such inputs). Defined as
    cos = 0.0 when either norm is 0: zero vectors match nothing —
    malformed upstream, exact dedup owns byte-identical empties."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when(na * nb == 0.0, F.lit(0.0)).otherwise(dot / (na * nb))


def _cosine_pre(a, b, na, nb):
    """_cosine with both norms PRECOMPUTED (round-6 optimization, guide
    §1.2 per-task work): every scoring path here evaluates O(pairs)
    cosines, and _cosine's two inline norm folds tripled the per-pair
    array work — precomputing item_norm once per ITEM leaves one
    zip_with+aggregate fold per pair. The norm expression is the same
    sqrt(aggregate(acc + v*v)) fold, so na*nb and dot/(na*nb) see
    bit-identical inputs and results are unchanged (oracle-verified)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)
    return F.when(na * nb == 0.0, F.lit(0.0)).otherwise(dot / (na * nb))


def brute_force_topk(emb: DataFrame, probe_ids, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors per probe id.
    Returns (probe_id, vec_id, cos_sim, rank) — ties broken by vec_id."""
    base = fan_out(emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))) \
        .withColumn("nrm", item_norm("emb"))
    probes = base.where(F.col("vec_id").isin(list(probe_ids))).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("probe_emb"),
        F.col("nrm").alias("probe_nrm"))
    scored = (
        base.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", F.round(_cosine_pre(
            "emb", "probe_emb", F.col("nrm"), F.col("probe_nrm")), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )


# Top-k search wants recall (narrow bands, many of them); near-dup dedup
# wants tight buckets (cos>=0.95 pairs share long sign runs). Measured at
# sf0.01 vs brute force: 16x4 -> 0.90 recall@5, 4x8 -> 0.08 — but 4x8
# finds 100% of planted near-dups. (bands, rows) is the standard
# LSH recall/cost dial; tune rows up as corpus density grows.
LSH_TOPK_BANDS = 16
LSH_TOPK_ROWS = 4


def lsh_topk(emb: DataFrame, probe_ids, k: int = 5,
             bands: int = None, rows: int = None) -> DataFrame:
    """Approximate top-k via banded multi-probe sign-LSH: a candidate is
    any vector sharing ANY band bucket with the probe (union over bands,
    de-duplicated before scoring). Multi-band probing is the difference
    between 2% and 90% measured recall — a single wide bucket demands
    agreement on every hyperplane at once, while bands only need one
    narrow agreement. Same output shape as brute_force_topk; recall < 1
    by design.

    Input contract: the embedding dimension must cover bands*rows sign
    bits — an out-of-range element_at reads NULL, degrading every
    overflowing band to ONE bucket (a hidden full scan per probe)."""
    bands = bands if bands is not None else LSH_TOPK_BANDS
    rows = rows if rows is not None else LSH_TOPK_ROWS
    base = fan_out(emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))) \
        .withColumn("nrm", item_norm("emb"))
    band_keys = F.array(*[
        F.struct(F.lit(band).alias("band"),
                 _band_bucket(F.col("emb"), band, rows).alias("bucket"))
        for band in range(bands)])
    banded = (base.select("vec_id", "emb", "nrm",
                          F.explode(band_keys).alias("bk"))
              .select("vec_id", "emb", "nrm", "bk.band", "bk.bucket"))
    probes = banded.where(F.col("vec_id").isin(list(probe_ids))).select(
        F.col("vec_id").alias("probe_id"), "band", "bucket",
        F.col("emb").alias("probe_emb"), F.col("nrm").alias("probe_nrm"))
    # Score BEFORE the cross-band dedup: the groupBy then exchanges one
    # 8-byte double per surviving (probe, candidate) row instead of two
    # full embeddings (~1 KB at 64 dims) — the same drop-the-payload
    # discipline the near-dup path's first-band trick applies; identical
    # output (a multi-band pair's cos is the same in every band).
    scored = (
        banded.join(F.broadcast(probes), ["band", "bucket"])
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", F.round(_cosine_pre(
            "emb", "probe_emb", F.col("nrm"), F.col("probe_nrm")), 6))
        .groupBy("probe_id", "vec_id")          # dedup across bands
        .agg(F.first("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# IVF with a trained codebook
# ---------------------------------------------------------------------------

IVF_K = 8
IVF_ITERS = 2
IVF_SAMPLE_MOD = 2   # train on vec_id % MOD == 0 (deterministic sample)


def _assign_with_cos(base: DataFrame, cents: DataFrame,
                     crows: list | None = None) -> DataFrame:
    """Argmax-cosine centroid per vector, KEEPING the winning cos_c;
    ties to the lowest centroid_id. The ONE assignment rule shared by
    Lloyd training, semdedup, and the incremental SemanticIndex (a
    tie-break or rounding change lands once, preserving their
    batch == incremental parity contract).

    _assign_window defines the rule; _assign_arrow computes it for a
    clean codebook. A degenerate codebook (an empty one, a null
    centroid, a null component or ragged dimensions) sends the whole
    assignment to the window form — the driver decides from the k
    codebook rows it holds anyway.

    ``crows``: the codebook's (centroid_id, cent) rows when the caller
    already holds them (vector_index.CodebookIndex memoizes them); the
    collect job is then skipped.

    vec_id is a key: both forms keep ONE row per vec_id (the window's
    row_number, the Arrow path's argmax window), silently dropping
    every further row that repeats it."""
    if crows is None:
        crows = cents.select("centroid_id", "cent").collect()
    cvecs = [r["cent"] for r in crows]
    if not cvecs or not all(v is not None and None not in v
                            and len(v) == len(cvecs[0]) for v in cvecs):
        return _assign_window(base, cents)
    return _assign_arrow(base, cents, crows)


def _assign_window(base: DataFrame, cents: DataFrame) -> DataFrame:
    """The assignment rule as SQL: the k-way broadcast cross join scores
    every (vector, centroid) pair with the guarded cosine, and a
    row_number window on vec_id keeps `round(cos, 6) DESC NULLS LAST,
    centroid_id ASC`. It shuffles every vector k times with its
    embedding aboard."""
    scored = (base.withColumn("_nrm", item_norm("emb"))
              .crossJoin(F.broadcast(
                  cents.withColumn("_cnrm", item_norm("cent"))))
              .withColumn("cos_c", F.round(_cosine_pre(
                  "emb", "cent", F.col("_nrm"), F.col("_cnrm")), 6)))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("centroid_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "emb", "centroid_id", "cos_c"))


def _assign_arrow(base: DataFrame, cents: DataFrame,
                  crows: list) -> DataFrame:
    """Vectorized argmax-cosine assignment against a CLEAN codebook
    (guide §4.2 + §2.3), equal to _assign_window.

    The k codebook rows ride in the task closure. Per Arrow batch, a
    BLAS gram X @ C.T scores every (vector, centroid) pair; per row,
    every centroid within 2e-6 of the row's best BLAS score (margin =
    the 1e-6 rounding quantum the JVM argmax compares at, doubled for
    the ~1.4e-14 BLAS-vs-fold error) is emitted as a CANDIDATE with its
    EXACT left-fold cosine, and the JVM resolves `round(cos, 6) DESC,
    centroid_id ASC` over the ~1.05 candidates/row — so rounding and
    the final ordering stay in the JVM, while the exchange carries each
    embedding ~once instead of k times. Zero-norm sides score 0.0; NaN
    cosines win (Spark orders NaN above all doubles).

    The JVM marks a row clean (`ok`) when its norm is not NULL and its
    dimension is the codebook's. A dirty row takes the CASE verdict
    straight from its JVM norm: 0.0 against every centroid where
    nrm * cn = 0, else NULL against all of them, which the window rule
    resolves to the lowest centroid_id."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    cids = [r["centroid_id"] for r in crows]
    CM = np.array([[float(x) for x in r["cent"]] for r in crows])
    k, dc = CM.shape
    cn = np.zeros(k)
    for t in range(dc):
        cn += CM[:, t] * CM[:, t]       # exact fold
    cn = np.sqrt(cn)
    imin = cids.index(min(cids))

    out_schema = StructType([
        StructField("vec_id", base.schema["vec_id"].dataType),
        StructField("emb", base.schema["emb"].dataType),
        StructField("centroid_id", cents.schema["centroid_id"].dataType),
        StructField("cos_raw", DoubleType())])

    def assign(batches):
        import pyarrow as pa

        cid_arr = pa.array(cids)
        for batch in batches:
            embl = batch.column("emb")
            if isinstance(embl, pa.ChunkedArray):
                embl = embl.combine_chunks()
            if len(embl) == 0:
                continue
            nx = batch.column("nrm").to_numpy(zero_copy_only=False)
            ok = batch.column("ok").to_numpy(zero_copy_only=False)
            rc, rd = np.nonzero(ok)[0], np.nonzero(~ok)[0]
            X = embl.values.to_numpy(zero_copy_only=False)[
                embl.offsets.to_numpy()[rc][:, None] + np.arange(dc)]
            B = X @ CM.T
            den = nx[rc, None] * cn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                B /= den
            np.copyto(B, 0.0, where=(den == 0.0))
            nanm = np.isnan(B)
            Bf = np.where(nanm, np.inf, B)
            cand = nanm | (Bf >= (Bf.max(axis=1) - 2e-6)[:, None])
            ri, ci = np.nonzero(cand)
            acc = np.zeros(len(ri))
            for t in range(dc):
                acc += X[ri, t] * CM[ci, t]     # exact left fold
            dend = nx[rc[ri]] * cn[ci]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / dend
            cos = np.where(dend == 0.0, 0.0, cos)
            # dirty rows: NULL norms are NaN here and never compare 0
            zero = (nx[rd, None] * cn[None, :]) == 0.0
            zr, zc = np.nonzero(zero)
            rn = rd[~zero.any(axis=1)]
            rows = np.concatenate([rc[ri], rd[zr], rn])
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id").take(pa.array(rows)),
                 embl.take(pa.array(rows)),
                 cid_arr.take(pa.array(np.concatenate(
                     [ci, zc, np.full(len(rn), imin)]))),
                 pa.array(np.concatenate([cos, np.zeros(len(zr) + len(rn))]),
                          mask=np.arange(len(rows)) >= len(ri) + len(zr),
                          type=pa.float64())],
                names=["vec_id", "emb", "centroid_id", "cos_raw"])

    nrm = item_norm("emb")
    cand_df = (base.select("vec_id", "emb", nrm.alias("nrm"),
                           (nrm.isNotNull() & (F.size("emb") == dc))
                           .alias("ok"))
               .mapInArrow(assign, out_schema))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("centroid_id"))
    return (cand_df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "emb", "centroid_id",
                    F.round("cos_raw", 6).alias("cos_c")))


def _assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """_assign_with_cos without the score column (Lloyd's shape)."""
    return _assign_with_cos(base, cents).drop("cos_c")


def kmeans_codebook(emb: DataFrame, k: int = IVF_K, iters: int = IVF_ITERS,
                    sample_mod: int = IVF_SAMPLE_MOD) -> DataFrame:
    """Deterministic seeded Lloyd training, pure DataFrame ops.

    init = the k lowest-vec_id vectors (TakeOrdered by vec_id — ANY
    orderable id type works; the old `vec_id < k` arithmetic silently
    trained an undersized or empty codebook on offset/string ids,
    review finding); each iteration assigns a sampled training set
    (vec_id % sample_mod == 0 — at 10^12 vectors the sample, not the
    corpus, pays the extra passes; INTEGER-id contract — when the
    modulo sample comes back EMPTY, e.g. all-odd ids, training falls
    back to the full input instead of silently keeping the raw init
    vectors) to its argmax-cosine centroid and recomputes centroids as
    the elementwise mean (posexplode -> groupBy(centroid, pos) avg ->
    re-assemble). Components are rounded to 6 decimals per iteration so
    the codebook is bit-stable across partition orderings and engines
    (distributed float summation is not associative). Empty clusters
    keep their previous centroid.

    Returns a k-row DataFrame (centroid_id, cent: array<double>).
    """
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    # Iterative-lineage discipline: without materialization, iteration i's
    # lazy plan CONTAINS iterations 0..i-1, so the training set is scanned
    # O(iters^2) times and the plan tree grows per round. persist() pins
    # the sampled training frame (the only re-read input) and the k-row
    # codebook is eagerly localCheckpoint()ed each round — executor-side,
    # no driver collect — truncating the lineage to a constant.
    train = base.where(F.col("vec_id") % sample_mod == 0).persist()
    if sample_mod > 1 and train.isEmpty():
        train.unpersist()
        train = base.persist()
    cents = base.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cent"))
    try:
        for _ in range(iters):
            assigned = _assign(train, cents)
            means = (
                assigned.select("centroid_id",
                                F.posexplode("emb").alias("pos", "v"))
                .groupBy("centroid_id", "pos")
                .agg(F.round(F.avg("v"), 6).alias("av"))
                .groupBy("centroid_id")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "av"))),
                    lambda s: s.getField("av")).alias("new_cent"))
            )
            cents = (cents.join(means, "centroid_id", "left")
                     .select("centroid_id",
                             F.coalesce("new_cent", "cent").alias("cent"))
                     .localCheckpoint())
    finally:
        train.unpersist()
    return cents


IVF_NPROBE = 2


def ivf_topk(emb: DataFrame, probe_ids, k: int = 5,
             n_clusters: int = IVF_K, nprobe: int = IVF_NPROBE,
             codebook: DataFrame = None) -> DataFrame:
    """Approximate top-k with IVF: each probe searches its `nprobe`
    closest clusters — at 10^12 vectors the corpus is hash-partitioned by
    centroid_id and a query touches nprobe/K of it. nprobe is the
    standard IVF recall/latency dial (nprobe=1 misses every neighbor
    whose top-1 cluster differs from the probe's).

    ``codebook``: a pretrained (centroid_id, cent) DataFrame — e.g. from
    vector_index.CodebookIndex — so repeated queries and incremental
    batches skip Lloyd retraining; None trains in-line (the codebook is
    deterministic and 6-decimal-rounded, so both paths give identical
    results — parity-tested).

    vec_id is a key: the assignment (_assign_with_cos) keeps one row
    per vec_id, so rows repeating a vec_id are searched as one."""
    cents = codebook if codebook is not None \
        else kmeans_codebook(emb, n_clusters)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    assigned = _assign(base, cents)             # data side: top-1 cluster
    probe_base = base.where(F.col("vec_id").isin(list(probe_ids)))
    probe_scored = probe_base.crossJoin(F.broadcast(cents)).withColumn(
        "cos_c", F.round(_cosine("emb", "cent"), 6))
    wp = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("centroid_id"))
    probes = (probe_scored.withColumn("rn", F.row_number().over(wp))
              .where(F.col("rn") <= nprobe)
              .select(F.col("vec_id").alias("probe_id"), "centroid_id",
                      F.col("emb").alias("probe_emb"),
                      item_norm("emb").alias("probe_nrm")))
    scored = (
        assigned.withColumn("nrm", item_norm("emb"))
        .join(F.broadcast(probes), "centroid_id")
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", F.round(_cosine_pre(
            "emb", "probe_emb", F.col("nrm"), F.col("probe_nrm")), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding near-duplicates: banded multi-probe sign-LSH
# ---------------------------------------------------------------------------

EMB_LSH_BANDS = 4
EMB_LSH_ROWS = 8     # sign bits per band -> 256 buckets/band
EMB_MAX_BUCKET = 4096


def _band_bucket(e, band: int, rows: int):
    b = F.lit(0)
    for i in range(rows):
        b = b + F.when(F.element_at(e, band * rows + i + 1) >= 0,
                       F.lit(1 << i)).otherwise(F.lit(0))
    return b


def _clean(field: str, *arrays: str):
    """The JVM's routing predicate over a group's item arrays: every
    item has a norm (item_norm is NULL exactly for null arrays and
    null elements) and all items share one size(``field``). Groups
    where it holds go to the NumPy kernels; the rest to the SQL form."""
    sizes = ", ".join(f"transform({a}, x -> size(x.{field}))"
                      for a in arrays)
    return F.expr(" AND ".join(
        [f"forall({a}, x -> x.nrm IS NOT NULL)" for a in arrays]
        + [f"size(array_distinct(concat({sizes}))) = 1"]))


def embedding_near_dups(emb: DataFrame, cos_min: float = 0.95,
                        bands: int = EMB_LSH_BANDS,
                        rows: int = EMB_LSH_ROWS,
                        max_bucket: int = EMB_MAX_BUCKET) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH.

    `bands` bands of `rows` sign bits over disjoint dimension slices: a
    candidate pair needs agreement on ANY band (multi-probe recall; a true
    near-dup with one flipped sign bit still collides on the other bands),
    while each band's bucket space (2^rows) keeps expected bucket size
    corpus/2^rows — tunable independently of recall, unlike a single wide
    bucket. Pair expansion is intra-(band, bucket) only, buckets are
    capped at `max_bucket` with an observed drop metric, and bucket items
    are vec_id-sorted so pairs come out id_a < id_b without a
    least/greatest pass. A pair colliding in several bands is emitted
    ONCE — at its FIRST colliding band, decided locally from the bucket
    vector each item carries — so no pair-dedup shuffle exists; at scale
    that exchange (every multi-band candidate pair carrying two full
    embeddings) is the path's largest intermediate. Cap caveat: a pair
    whose first-collision band was truncated is dropped even if
    co-present later; caps engage only on adversarial buckets and the
    drop is observed."""
    return _sweep_pairs(_near_dup_groups(emb, bands, rows, max_bucket),
                        cos_min)


def _near_dup_groups(emb: DataFrame, bands: int, rows: int,
                     max_bucket: int) -> DataFrame:
    """embedding_near_dups' capped (band, bucket, items) groups."""
    base = fan_out(emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")))
    bucket_vec = F.array(*[
        _band_bucket(F.col("emb"), band, rows) for band in range(bands)])
    band_keys = F.array(*[
        F.struct(F.lit(band).alias("band"),
                 F.element_at("bks", band + 1).alias("bucket"))
        for band in range(bands)])
    # Per-item L2 norm computed ONCE map-side (round 6, guide §1.2): the
    # sweep is O(pairs) and the old inline _cosine re-folded both
    # norms per PAIR — 3 array folds/pair down to 1. Same sqrt(fold)
    # expression, so rounded cosines are bit-identical.
    banded = (base.withColumn("bks", bucket_vec)
              .withColumn("nrm", item_norm("emb"))
              .select("vec_id", "emb", "bks", "nrm",
                      F.explode(band_keys).alias("bk"))
              .select("vec_id", "emb", "bks", "nrm", "bk.band", "bk.bucket"))
    return _pair_groups(banded, max_bucket)


def _pair_groups(banded: DataFrame, max_bucket: int) -> DataFrame:
    """(band, bucket, items) for every (band, bucket) of ``banded``
    (vec_id, emb, bks, nrm, band, bucket) holding two or more rows, the
    items vec_id-sorted and capped at ``max_bucket`` (observed) — the
    input of the pair sweeps, shared with vector_index.EmbeddingIndex."""
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("vec_id", "emb", "bks", "nrm"))
             .alias("items"))
        .where(F.size("items") > 1)
    )
    return _cap_bucket_items(grouped, max_bucket)


def _first_band_cond(bks_x: str, bks_y: str) -> str:
    """SQL condition: the current `band` is the first whose buckets
    agree (bucket equality <=> sign-slice agreement) — the shuffle-free
    multi-band pair dedup of the sweeps and of EmbeddingIndex's
    batch-vs-index join."""
    return ("CASE WHEN band = 0 THEN true ELSE NOT exists("
            f"  slice(zip_with({bks_x}, {bks_y}, (a, c) -> a = c), "
            "        1, band), t -> t) END")


def _pair_array_sql(cos_min: float) -> str:
    """The per-bucket pair sweep as one JVM higher-order expression over
    a capped, vec_id-sorted `items` array: the array of
    struct(id_a, id_b, cos_sim) for every upper-triangle pair that
    passes the self-pair guard (duplicate vec_id input rows) and the
    first-band rule and scores round(cos, 6) >= cos_min. Only surviving
    triples are ever materialized (round 6, guide §1.2/§2.3). A NULL
    cosine (ragged dims, null elements) fails the filter; a zero-norm
    pair scores 0.0 even against a ragged partner (the CASE
    short-circuits before the dot); NaN passes (Spark orders NaN above
    all doubles)."""
    return (
        "flatten(transform(items, (x, i) -> "
        "  filter(transform(filter(slice(items, i + 2, size(items)), "
        "           y -> x.vec_id != y.vec_id AND "
        f"               ({_first_band_cond('x.bks', 'y.bks')})), y -> "
        "     struct(x.vec_id AS id_a, y.vec_id AS id_b, "
        "            round(CASE WHEN x.nrm * y.nrm = 0.0D THEN 0.0D ELSE "
        "              aggregate(zip_with(x.emb, y.emb, (a, b) -> a * b), "
        "                        cast(0.0 as double), (acc, v) -> acc + v) "
        "              / (x.nrm * y.nrm) END, 6) AS cos_sim)), "
        f"    p -> p.cos_sim >= {float(cos_min)!r})))"
    )


def _sweep_pairs_sql(grouped: DataFrame, cos_min: float) -> DataFrame:
    """The pair sweep's SQL form: (id_a, id_b, cos_sim) exploded from
    _pair_array_sql — the definition _sweep_pairs is tested against."""
    return (grouped.select(F.explode(F.expr(_pair_array_sql(cos_min)))
                           .alias("p"))
            .select("p.*"))


# Safety margin for the Arrow kernels' raw-cosine pre-filter: JVM
# round(x, 6) moves x by at most 5e-7 (+ sub-ulp decimal->double
# conversion error), so no raw cosine below cos_min - 1e-6 can round to
# >= cos_min. The margin only controls how many NON-survivors cross the
# Python->JVM boundary; the JVM applies the exact round + threshold.
_SWEEP_MARGIN = 1e-6


def _cand_cos_exact(np, X, nr, floor, extra_mask=None):
    """(ii, jj, cos) for every strict-upper-triangle pair whose EXACT
    cosine could reach ``floor``: a BLAS gram matrix (X @ X.T) finds
    candidates with 1e-9 slack, then the exact left-fold dot product
    is recomputed for candidates only.

    Soundness of the slack: |fl_blas(dot) - fl_fold(dot)| <=
    2*d*u*sum|x_k y_k| <= 2*64*1.1e-16*(na*nb), i.e. the BLAS cosine
    is within ~1.4e-14 of the fold cosine — 5 orders under the 1e-9
    slack — and non-finite BLAS entries are unconditionally candidates.
    The returned cos values are the bit-exact fold (one rounded
    multiply + one rounded add per dimension, ascending — identical to
    aggregate(zip_with(...))); NaN cosines are included (callers
    decide their fate). Zero-norm pairs are EXCLUDED (den == 0);
    callers that can accept them (thresholds <= 0 score them 0.0 via
    the CASE guard) must add them separately.

    Why BLAS at all: the previous kernel materialized the full n x n
    fold via d outer-product passes — ~25 GB of memory traffic for a
    4096-item cluster — while dgemm is cache-blocked; the exact fold
    is then paid only for the (rare) candidate pairs."""
    n, d = X.shape
    den = nr[:, None] * nr[None, :]
    C = X @ X.T if d else np.zeros((n, n))
    with np.errstate(divide="ignore", invalid="ignore"):
        C /= den
    cand = (den != 0.0) & (~np.isfinite(C) | (C >= floor - 1e-9))
    cand &= ~np.tri(n, dtype=bool)          # strict upper triangle
    if extra_mask is not None:
        cand &= extra_mask
    ii, jj = np.nonzero(cand)
    if len(ii) == 0:
        return ii, jj, np.zeros(0)
    acc = np.zeros(len(ii))
    for k in range(d):
        acc += X[ii, k] * X[jj, k]          # exact left fold
    return ii, jj, acc / (nr[ii] * nr[jj])


def _sweep_pairs(grouped: DataFrame, cos_min: float) -> DataFrame:
    """The per-bucket pair sweep: mapInArrow + NumPy over clean buckets
    (guide §4.2 "hand whole batches to vectorized native libraries"),
    equal to _sweep_pairs_sql (parity-tested in
    tests/test_similarity_edges.py).

    A bucket holding a null, null-element or ragged vector (_clean is
    false) is answered by _pair_array_sql in the projection that feeds
    the kernel, and the kernel passes those pairs through. For a clean
    bucket:
      * products and the dot-product accumulation run in IEEE float64
        in the SAME order as the JVM fold (one rounded multiply and
        one rounded add per dimension, ascending — zip_with +
        aggregate's left fold);
      * norms are NOT recomputed — the JVM-computed `nrm` field is
        used, and den = nrm_a * nrm_b / division are single correctly-
        rounded IEEE ops in both runtimes;
      * the final round-half-up + `>= cos_min` run in the JVM on the
        surviving RAW cosines (no Python rounding anywhere; rounding
        the SQL form's already-rounded cosines again is the identity);
        the NumPy side pre-filters with a conservative margin
        (>= cos_min - 1e-6, or NaN — NaN cosines survive the JVM
        filter; zero-norm pairs score exactly 0.0 as in _cosine).
    Candidate semantics (upper-triangle of the vec_id-sorted capped
    bucket, self-pair guard, first-collision-band dedup over `bks`) are
    identical. Cost: the O(n^2 d) sweep runs as ~d vectorized
    numpy ops per bucket instead of n^2 interpreted lambda folds —
    measured 8x on the sf1.0 sweep stage."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    thr = float(cos_min) - _SWEEP_MARGIN
    # id type is generic (long ids in the registry, string ids in the
    # index/streaming callers) — carry the input's own vec_id type.
    id_type = grouped.schema["items"].dataType.elementType["vec_id"].dataType
    out_schema = StructType([
        StructField("id_a", id_type), StructField("id_b", id_type),
        StructField("cos_raw", DoubleType())])

    def sweep(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            clean = batch.column("clean").to_numpy(zero_copy_only=False)
            if not clean.all():
                sql = pc.filter(batch.column("sql_pairs"),
                                pa.array(~clean)).flatten()
                if len(sql):
                    yield pa.RecordBatch.from_arrays(
                        [sql.field("id_a"), sql.field("id_b"),
                         sql.field("cos_sim")],
                        names=["id_a", "id_b", "cos_raw"])
            bands_col = batch.column("band").to_numpy(zero_copy_only=False)
            items = batch.column("items")
            if isinstance(items, pa.ChunkedArray):
                items = items.combine_chunks()
            offs = items.offsets.to_numpy()
            struct = items.values
            vec_ids = struct.field("vec_id").to_numpy(zero_copy_only=False)
            nrms = struct.field("nrm").to_numpy(zero_copy_only=False)
            embl = struct.field("emb")
            emb_offs = embl.offsets.to_numpy()
            emb_vals = embl.values.to_numpy(zero_copy_only=False)
            bksl = struct.field("bks")
            bks_offs = bksl.offsets.to_numpy()
            bks_vals = bksl.values.to_numpy(zero_copy_only=False)
            acc_a, acc_b, acc_c = [], [], []
            for r in np.nonzero(clean)[0]:
                i0, i1 = offs[r], offs[r + 1]
                n = i1 - i0
                ids = vec_ids[i0:i1]
                nr = nrms[i0:i1]
                d = int(emb_offs[i0 + 1] - emb_offs[i0])
                X = emb_vals[emb_offs[i0]:emb_offs[i1]].reshape(n, d)
                # Candidate mask: self-pair guard + first-collision-
                # band rule, applied BEFORE any cosine work.
                pm = ids[:, None] != ids[None, :]
                band = int(bands_col[r])
                if band > 0:
                    B = bks_vals[bks_offs[i0]:bks_offs[i1]] \
                        .reshape(n, -1)[:, :band]
                    pm &= (B[:, None, :] != B[None, :, :]).all(axis=2)
                ii, jj, cos = _cand_cos_exact(np, X, nr, thr, pm)
                keep = (cos >= thr) | np.isnan(cos)
                if keep.any():
                    acc_a.append(ids[ii[keep]])
                    acc_b.append(ids[jj[keep]])
                    acc_c.append(cos[keep])
                if thr <= 0.0:
                    # zero-norm pairs score exactly 0.0 (the CASE
                    # guard) and pass a non-positive threshold.
                    den0 = (nr[:, None] * nr[None, :]) == 0.0
                    den0 &= ~np.tri(n, dtype=bool)
                    den0 &= pm
                    zi, zj = np.nonzero(den0)
                    if len(zi):
                        acc_a.append(ids[zi])
                        acc_b.append(ids[zj])
                        acc_c.append(np.zeros(len(zi)))
            if acc_a:
                pa_id = struct.field("vec_id").type
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(acc_a)).cast(pa_id),
                     pa.array(np.concatenate(acc_b)).cast(pa_id),
                     pa.array(np.concatenate(acc_c), type=pa.float64())],
                    names=["id_a", "id_b", "cos_raw"])

    clean = _clean("emb", "items")
    pairs = (grouped.select("band", "items", clean.alias("clean"),
                            F.when(~clean, F.expr(_pair_array_sql(cos_min)))
                            .alias("sql_pairs"))
             .mapInArrow(sweep, out_schema))
    return (pairs.withColumn("cos_sim", F.round("cos_raw", 6))
            .where(F.col("cos_sim") >= cos_min)
            .select("id_a", "id_b", "cos_sim"))


# ---------------------------------------------------------------------------
# SemDeDup: cluster-based semantic deduplication
# ---------------------------------------------------------------------------

SEM_MAX_CLUSTER = 4096   # per-cluster item cap (observed drops, as LSH)
SEM_MEAN_CLUSTER = 2500  # auto-k target mean (sits well under the cap)


def item_norm(emb: str):
    """Per-item L2 norm of array column ``emb``, carried INSIDE the
    cluster items struct (field ``nrm``): the greedy sweep then
    computes each norm once per ITEM instead of once per PAIR (the
    sweep is O(n^2) pairs), and the zero-norm guard below costs one
    multiply instead of two extra aggregate folds. sqrt-then-multiply
    matches the old inline order, so rounded cosines are bit-identical.
    NULL exactly for a null array or one with a null element.

    Written as SQL text: a Python-lambda higher-order Column costs
    ~12 ms of py4j calls to build on the driver, the parsed text
    ~0.3 ms; the expression is the same."""
    return F.expr(f"sqrt(aggregate({emb}, 0D, (acc, v) -> acc + v * v))")


def greedy_drop_expr(cos_min: float):
    """The SemDeDup greedy verdict over a sorted `items`
    array<struct<c,v,e,nrm>> column: per item y at 0-based position j,
    dropped iff ANY of the j earlier items is >= cos_min
    cosine-similar. exists() short-circuits; the first item of every
    cluster is always kept (empty slice). The SQL form of the intra
    verdicts of batch_and_index_verdicts. Zero-norm guard: a raw 0/0
    cosine is NaN, which Spark orders ABOVE every real number — unguarded,
    NaN >= cos_min is TRUE and a zero (empty-doc) vector would drop
    against anything; guarded, zero vectors match nothing (the
    _cosine convention)."""
    return F.expr(_greedy_drop_sql(cos_min))


def _greedy_drop_sql(cos_min: float) -> str:
    """greedy_drop_expr's SQL text."""
    return (
        "transform(items, (y, j) -> struct("
        "  y.v AS vec_id, "
        "  exists(slice(items, 1, j), x -> "
        "    CASE WHEN x.nrm * y.nrm = 0.0D THEN false ELSE "
        "    round(aggregate(zip_with(x.e, y.e, (a, b) -> a * b), "
        "                    cast(0.0 as double), (acc, p) -> acc + p) "
        "          / (x.nrm * y.nrm), 6) "
        f"    >= {cos_min} END) AS dropped))")


def batch_vs_index_dropped(new: DataFrame, idx: DataFrame,
                           cos_min: float) -> DataFrame:
    """Distinct `vec_id`s of ``new`` rows scoring round(cos, 6) >=
    cos_min against ANY ``idx`` row of the same centroid — the
    incremental SemanticIndex's batch-vs-index rule as a SQL join
    filter (per-side norms precomputed, one fold per pair).

    It is the reference semantics of the cross leg of
    batch_and_index_verdicts (parity-tested): NULL cosines
    (ragged/null vectors) fail the filter -> keep; NaN drops (Spark
    orders NaN above all doubles); a zero-norm pair scores 0.0 via the
    CASE short-circuit and drops only when cos_min <= 0."""
    cross = (new.alias("n").withColumn("_nn", item_norm("emb"))
             .join(idx.alias("o")
                   .withColumn("_on", item_norm("emb")),
                   ["centroid_id"])
             .where(F.round(_cosine_pre(F.col("n.emb"), F.col("o.emb"),
                                        F.col("_nn"), F.col("_on")), 6)
                    >= cos_min))
    return cross.select(F.col("n.vec_id").alias("vec_id")).distinct()


class _ItemViews:
    """NumPy views over an Arrow ``list<struct<..., e, nrm>>`` column:
    per-row item offsets, the item structs, the embedding list array
    and its offsets, the JVM-computed norms and the flat embedding
    values (NaN where an element is null: only clean blocks read them)."""

    def __init__(self, np, pa, col):
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        self.offs = col.offsets.to_numpy()
        self.struct = col.values
        embl = self.struct.field("e")
        self.emb_offs = embl.offsets.to_numpy()
        self.nrm = self.struct.field("nrm").to_numpy(zero_copy_only=False)
        self.vals = embl.values.to_numpy(zero_copy_only=False)

    def matrix(self, i0, n):
        """The n x d matrix of the clean block of n items at i0."""
        e0 = self.emb_offs[i0]
        d = int(self.emb_offs[i0 + 1] - e0)
        return self.vals[e0:self.emb_offs[i0 + n]].reshape(n, d)


def _fold_verdicts(np, n, jj, cos, lo, hi):
    """(definite, amb) for n judged items from the candidate cosines
    ``cos`` of items ``jj``: NaN or >= hi drops definitely (round(x, 6)
    moves x by < 1e-6); raw cosines in [lo, hi) of items not dropped
    definitely go to ``amb`` for the JVM's exact round."""
    dd = np.zeros(n, dtype=bool)
    amb = [[] for _ in range(n)]
    if len(jj):
        t = np.isnan(cos) | (cos >= hi)
        dd[jj[t]] = True
        am = ~t & (cos >= lo)
        for j, c in zip(jj[am], cos[am]):
            if not dd[j]:
                amb[int(j)].append(float(c))
    return dd, amb


def _greedy_block(np, V, i0, n, lo, hi):
    """Greedy SemDeDup verdicts for the n keep-ordered items of the
    clean block of ``V`` at i0: item j is judged against every earlier
    item. Zero-norm pairs are excluded by the kernel — exactly the
    CASE -> false rule of greedy_drop_expr."""
    ii, jj, cos = _cand_cos_exact(np, V.matrix(i0, n), V.nrm[i0:i0 + n],
                                  lo)
    return _fold_verdicts(np, n, jj, cos, lo, hi)


def _rect_block(np, N, a0, m, O, b0, p, lo, hi):
    """Batch-vs-index verdicts for the m items of ``N`` at a0 against
    the p items of ``O`` at b0 (ANY over O), one clean block of one
    dimension, under batch_vs_index_dropped's rule: dgemm candidates at
    1e-9 slack (_cand_cos_exact's discipline), the bit-exact left-fold
    cosine for candidates only, zero-norm pairs scored 0.0."""
    nx, ny = N.nrm[a0:a0 + m], O.nrm[b0:b0 + p]
    X, Y = N.matrix(a0, m), O.matrix(b0, p)
    den = nx[:, None] * ny[None, :]
    B = X @ Y.T
    with np.errstate(divide="ignore", invalid="ignore"):
        B /= den
    np.copyto(B, 0.0, where=(den == 0.0))
    ri, ci = np.nonzero(~np.isfinite(B) | (B >= lo - 1e-9))
    cos = np.zeros(0)
    if len(ri):
        acc = np.zeros(len(ri))
        for t in range(X.shape[1]):
            acc += X[ri, t] * Y[ci, t]          # exact left fold
        dend = nx[ri] * ny[ci]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = acc / dend
        cos = np.where(dend == 0.0, 0.0, cos)
    return _fold_verdicts(np, m, ri, cos, lo, hi)


def _cross_drop_sql(cos_min: float) -> str:
    """batch_vs_index_dropped's filter as a higher-order expression:
    per `items` entry y, whether ANY `o_items` entry scores
    round(cos, 6) >= cos_min against it (NULL when only NULL cosines
    are found, which the caller reads as keep)."""
    return (
        "transform(items, y -> exists(o_items, o -> "
        "  round(CASE WHEN y.nrm * o.nrm = 0.0D THEN 0.0D ELSE "
        "    aggregate(zip_with(y.e, o.e, (a, b) -> a * b), "
        "              cast(0.0 as double), (acc, p) -> acc + p) "
        f"    / (y.nrm * o.nrm) END, 6) >= {float(cos_min)!r}))")


def batch_and_index_verdicts(new: DataFrame, idx: DataFrame | None,
                             cos_min: float,
                             max_cluster: int) -> DataFrame:
    """(vec_id, centroid_id, cos_c, sem_keep) for every row of ``new``
    (vec_id, emb, centroid_id, cos_c) — the SemDeDup verdicts (semdedup,
    and the incremental SemanticIndex) in ONE grouping per centroid_id
    and ONE mapInArrow pass.

    ``idx``: index rows of the clusters ``new`` touches (None: no
    index); each cluster is capped here to its ``max_cluster`` lowest
    vec_ids. A batch vector is dropped iff
      * intra: it is among its cluster's first ``max_cluster`` batch
        items in keep order (cos_c ASC, vec_id ASC) and an earlier one
        of them scores round(cos, 6) >= cos_min — greedy_drop_expr's
        rule: zero-norm pairs are false, NULL cosines keep, NaN drops;
        items beyond the cap keep unless the cross leg drops them, and
        the cap is observed as lsh_cap (_cap_bucket_items' metric);
      * cross: it scores round(cos, 6) >= cos_min against ANY capped
        index row of its cluster — batch_vs_index_dropped's rule:
        zero-norm pairs score 0.0, NULL cosines keep, NaN drops. Every
        batch vector is judged, also those beyond the intra cap.
    A cluster holding a null, null-element or ragged vector on either
    side (_clean is false) is answered by those SQL forms in the
    projection that feeds the kernel; the kernel passes the verdicts
    through. Clean clusters run _greedy_block and _rect_block, which
    return definite verdicts plus the raw cosines in the ambiguous
    band; the JVM applies the one round:
    sem_keep = NOT (definite OR exists(amb, round(c, 6) >= cos_min)).
    No index x index cosine is computed."""
    from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                                   StructField, StructType)

    def item(side, c):
        return F.struct(F.lit(side).alias("s"), c.alias("c"),
                        F.col("vec_id").alias("v"), F.col("emb").alias("e"),
                        item_norm("emb").alias("nrm")).alias("it")

    rows = new.select("centroid_id", item(0, F.col("cos_c")))
    if idx is not None:
        w = Window.partitionBy("centroid_id").orderBy("vec_id")
        capped = (idx.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") <= max_cluster))
        rows = rows.unionByName(capped.select(
            "centroid_id", item(1, F.lit(None).cast("double"))))
    # array_sort on struct(s, c, v, ...) with s constant orders the
    # batch items by (cos_c ASC, vec_id ASC): the keep order.
    grouped = (rows.groupBy("centroid_id")
               .agg(F.collect_list("it").alias("_all"))
               .selectExpr("centroid_id",
                           "array_sort(filter(_all, x -> x.s = 0)) AS items",
                           "filter(_all, x -> x.s = 1) AS o_items"))
    grouped = _observe_cap(grouped, max_cluster)
    cap = int(max_cluster)
    clean = _clean("e", "items", "o_items")
    # The intra SQL verdicts judge the capped prefix only: the
    # one-element transform binds greedy_drop_expr's `items` to it.
    sql_drop = F.expr(
        f"zip_with({_cross_drop_sql(cos_min)}, "
        f"transform(transform(array(slice(items, 1, {cap})), "
        f"items -> {_greedy_drop_sql(cos_min)})[0], r -> r.dropped), "
        "(c, i) -> coalesce(c, false) OR coalesce(i, false))")
    routed = grouped.select("centroid_id", "items", "o_items",
                            clean.alias("clean"),
                            F.when(~clean, sql_drop).alias("sql_drop"))

    lo = float(cos_min) - _SWEEP_MARGIN
    hi = float(cos_min) + _SWEEP_MARGIN
    out_schema = StructType([
        StructField("vec_id", new.schema["vec_id"].dataType),
        StructField("centroid_id", new.schema["centroid_id"].dataType),
        StructField("cos_c", DoubleType()),
        StructField("dropped_def", BooleanType()),
        StructField("amb", ArrayType(DoubleType()))])

    def judge(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            N = _ItemViews(np, pa, batch.column("items"))
            O = _ItemViews(np, pa, batch.column("o_items"))
            clean = batch.column("clean").to_numpy(zero_copy_only=False)
            sql = batch.column("sql_drop")
            sql_offs = sql.offsets.to_numpy()
            sql_vals = sql.values.to_numpy(zero_copy_only=False)
            pos, grp, out_def, out_amb = [], [], [], []
            for r in range(len(N.offs) - 1):
                a0, m = int(N.offs[r]), int(N.offs[r + 1] - N.offs[r])
                if m == 0:
                    continue
                amb = [[] for _ in range(m)]
                if not clean[r]:
                    dd = sql_vals[sql_offs[r]:sql_offs[r + 1]]
                else:
                    nc = min(m, cap)
                    dd = np.zeros(m, dtype=bool)
                    if nc:
                        dd[:nc], amb[:nc] = _greedy_block(np, N, a0, nc,
                                                          lo, hi)
                    b0 = int(O.offs[r])
                    p = int(O.offs[r + 1]) - b0
                    if p:
                        dc, ac = _rect_block(np, N, a0, m, O, b0, p,
                                             lo, hi)
                        dd |= dc
                        amb = [[] if dd[j] else amb[j] + ac[j]
                               for j in range(m)]
                pos.append(np.arange(a0, a0 + m))
                grp.append(np.full(m, r))
                out_def.append(dd)
                out_amb.extend(amb)
            if pos:
                take = pa.array(np.concatenate(pos))
                yield pa.RecordBatch.from_arrays(
                    [N.struct.field("v").take(take),
                     batch.column("centroid_id").take(
                         pa.array(np.concatenate(grp))),
                     N.struct.field("c").take(take),
                     pa.array(np.concatenate(out_def), type=pa.bool_()),
                     pa.array(out_amb, type=pa.list_(pa.float64()))],
                    names=["vec_id", "centroid_id", "cos_c",
                           "dropped_def", "amb"])

    judged = routed.mapInArrow(judge, out_schema)
    return judged.selectExpr(
        "vec_id", "centroid_id", "cos_c",
        "NOT (dropped_def OR exists(amb, c -> round(c, 6) >= "
        f"{float(cos_min)!r})) AS sem_keep")


def semdedup(emb: DataFrame, cos_min: float = 0.95,
             k: int = None, iters: int = IVF_ITERS,
             codebook: DataFrame = None,
             max_cluster: int = SEM_MAX_CLUSTER) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embeddings, then inside each cluster drop every vector that is
    cosine-similar (>= cos_min) to a vector EARLIER in the cluster's
    keep order. Keep order is (cos-to-centroid ASC, vec_id ASC) — the
    paper keeps the example with the LOWEST similarity to the
    centroid, and the public reference code applies exactly this
    greedy upper-triangular rule (earlier items win regardless of
    their own verdict), so no connected-components pass exists in the
    published method either.

    Output: one row per input vec_id — (vec_id, centroid_id, cos_c,
    sem_keep). Downstream joins `WHERE sem_keep` to materialize the
    deduplicated corpus. vec_id is a key: the assignment
    (_assign_with_cos) keeps one row per vec_id, so rows repeating a
    vec_id come back as one row, and no counter records the others.

    Scale shape: the codebook broadcasts (train once via
    kmeans_codebook / vector_index.CodebookIndex, pass it in);
    assignment is one vec_id window over ~1 candidate per vector; then
    ONE exchange groups each cluster and the O(n_c^2) cosine sweep runs
    LOCALLY per cluster — no pair explosion ever shuffles, the verdict
    comes out of the same task that holds the cluster. It is the
    SemanticIndex's one pass (batch_and_index_verdicts) with no index.
    Per-task work is bounded by `max_cluster`: only the first
    max_cluster items of a cluster in keep order are judged, the rest
    keep their verdict row as kept, and the truncation is observed via
    the lsh_cap metric. Size k so the MEAN cluster sits well under the
    cap, k ~ corpus/2500 with the 4096 default: the 10x evidence run at
    500k/k=200 measured max natural cluster 2780 with zero drops;
    k ~ corpus/5000 would put the mean itself above the cap and
    truncate most clusters. With ``k=None`` (the default) and no
    prebuilt codebook, k derives from that rule via one count() action
    at plan build — a fixed small k on a large corpus would silently
    cap-truncate ~every cluster and pass ~everything as sem_keep=true
    (the derive_salt_buckets precedent: data-sized, not guessed). That
    is the paper's own cost profile: SemDeDup is O(N^2/k) cosine work,
    paid map-side."""
    if codebook is None and k is None:
        k = max(IVF_K, emb.count() // SEM_MEAN_CLUSTER)
    cents = codebook if codebook is not None \
        else kmeans_codebook(emb, k, iters)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    return batch_and_index_verdicts(_assign_with_cos(base, cents), None,
                                    cos_min, max_cluster)
