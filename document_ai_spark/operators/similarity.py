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
(init = first-k, few iterations, id-sampled training set) entirely as
DataFrame ops — no driver collect; centroids stay a k-row DataFrame that
is broadcast into the assignment join.

Dot products are computed with built-in higher-order functions
(zip_with + aggregate) — JVM-side, no Python.
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
        .withColumn("nrm", item_norm(F.col("emb")))
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
        .withColumn("nrm", item_norm(F.col("emb")))
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
                     impl: str | None = None,
                     crows: list | None = None) -> DataFrame:
    """Argmax-cosine centroid per vector, KEEPING the winning cos_c;
    ties to the lowest centroid_id. The ONE assignment rule shared by
    Lloyd training, semdedup, and the incremental SemanticIndex (a
    tie-break or rounding change lands once, preserving their
    batch == incremental parity contract).

    Implementations (parity-tested equal): "arrow" (default) — BLAS
    candidate scoring + JVM argmax over ~1 candidate/row; "window" —
    the k-way broadcast cross join + row_number window, which shuffles
    every vector k times with its embedding aboard.

    ``crows``: the codebook's (centroid_id, cent) rows when the caller
    already holds them (vector_index.CodebookIndex memoizes them); the
    arrow form then skips its collect job."""
    if impl is None:
        impl = EMB_SWEEP_DEFAULT
    if impl == "arrow":
        return _assign_arrow(base, cents, crows)
    scored = (base.withColumn("_nrm", item_norm(F.col("emb")))
              .crossJoin(F.broadcast(
                  cents.withColumn("_cnrm", item_norm(F.col("cent")))))
              .withColumn("cos_c", F.round(_cosine_pre(
                  "emb", "cent", F.col("_nrm"), F.col("_cnrm")), 6)))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("centroid_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "emb", "centroid_id", "cos_c"))


def _assign_arrow(base: DataFrame, cents: DataFrame,
                  crows: list | None = None) -> DataFrame:
    """Vectorized argmax-cosine assignment (guide §4.2 + §2.3).

    The codebook is collected to the driver (k rows — control-plane
    sized, like the convergence scalars) and shipped in the task
    closure. Per Arrow batch, a BLAS gram X @ C.T scores every
    (vector, centroid) pair; per row, every centroid within 2e-6 of
    the row's best BLAS score (margin = the 1e-6 rounding quantum the
    JVM argmax compares at, doubled for the ~1.4e-14 BLAS-vs-fold
    error) is emitted as a CANDIDATE with its EXACT left-fold cosine,
    and the JVM resolves `round(cos, 6) DESC, centroid_id ASC` over
    the ~1.05 candidates/row — so rounding and the final ordering stay
    in the JVM, bit-equal to the window form, while the exchange
    carries each embedding ~once instead of k times and the per-pair
    fold work collapses into dgemm.

    SQL-semantics edges mirrored exactly: zero-norm sides score 0.0
    (the CASE guard); NaN cosines win (Spark orders NaN above all
    doubles, desc NULLS LAST below them); vectors whose dimension
    differs from the codebook's, or with null elements / null arrays,
    get NULL cosines against every centroid, and the window rule then
    picks the LOWEST centroid_id with cos_c NULL — emitted directly."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    if crows is None:
        crows = cents.select("centroid_id", "cent").collect()
    if not crows:
        return base.sparkSession.createDataFrame(
            [], StructType(list(base.schema.fields) + [
                StructField("centroid_id",
                            cents.schema["centroid_id"].dataType),
                StructField("cos_c", DoubleType())]))
    cids = [r["centroid_id"] for r in crows]
    cvecs = [r["cent"] for r in crows]
    min_cid = min(cids)
    clean = all(v is not None and all(x is not None for x in v)
                and len(v) == len(cvecs[0]) for v in cvecs)

    id_type = base.schema["vec_id"].dataType
    cid_type = cents.schema["centroid_id"].dataType
    out_schema = StructType([
        StructField("vec_id", id_type),
        StructField("emb", base.schema["emb"].dataType),
        StructField("centroid_id", cid_type),
        StructField("cos_raw", DoubleType())])

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        if not clean:
            # Degenerate codebook (null/ragged centroids): defer to the
            # per-row Python mirror of the zip_with semantics.
            yield from _assign_batches_slow(batches, cids, cvecs, pa)
            return
        CM = np.array([[float(x) for x in v] for v in cvecs])
        k, dc = CM.shape
        cn = np.zeros(k)
        for t in range(dc):
            cn += CM[:, t] * CM[:, t]       # exact fold
        cn = np.sqrt(cn)
        CMT = CM.T.copy()

        for batch in batches:
            vec_col = batch.column("vec_id")
            embl = batch.column("emb")
            if isinstance(embl, pa.ChunkedArray):
                embl = embl.combine_chunks()
            m = len(embl)
            if m == 0:
                continue
            offs = embl.offsets.to_numpy()
            dims = np.diff(offs)
            has_null = embl.null_count > 0 or embl.values.null_count > 0
            uniform = (not has_null and dims.min() == dims.max()
                       and int(dims[0]) == dc)
            if not uniform:
                # Split: rows that can't score (wrong dim / nulls) get
                # the NULL-cos verdict (lowest centroid_id); clean
                # dc-dim rows are scored below, row by row.
                yield from _assign_mixed(batch, embl, offs, dims, dc,
                                         CM, cn, cids, min_cid, pa, np)
                continue
            X = embl.values.to_numpy(zero_copy_only=False) \
                .reshape(m, dc)
            nx = np.zeros(m)
            for t in range(dc):
                nx += X[:, t] * X[:, t]     # exact fold
            nx = np.sqrt(nx)
            B = X @ CMT
            den = nx[:, None] * cn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                B /= den
            np.copyto(B, 0.0, where=(den == 0.0))
            nanm = np.isnan(B)
            Bf = np.where(nanm, np.inf, B)
            best = Bf.max(axis=1)
            cand = nanm | (Bf >= (best - 2e-6)[:, None])
            ri, ci = np.nonzero(cand)
            acc = np.zeros(len(ri))
            for t in range(dc):
                acc += X[ri, t] * CM[ci, t]     # exact left fold
            dend = nx[ri] * cn[ci]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / dend
            cos = np.where(dend == 0.0, 0.0, cos)
            yield pa.RecordBatch.from_arrays(
                [vec_col.take(pa.array(ri)),
                 embl.take(pa.array(ri)),
                 pa.array([cids[c] for c in ci]),
                 pa.array(cos, type=pa.float64())],
                names=["vec_id", "emb", "centroid_id", "cos_raw"])

    cand_df = base.select("vec_id", "emb").mapInArrow(assign, out_schema)
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("centroid_id"))
    return (cand_df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "emb", "centroid_id",
                    F.round("cos_raw", 6).alias("cos_c")))


def _assign_mixed(batch, embl, offs, dims, dc, CM, cn, cids, min_cid,
                  pa, np):
    """Per-row scoring for batches with ragged/null rows, mirroring
    the SQL CASE order exactly: a NULL norm (null array / null
    elements) makes every cosine NULL (lowest-centroid_id verdict);
    a REAL zero den scores 0.0 via the CASE short-circuit EVEN when
    the dimensions are ragged (the dot is never evaluated); only then
    does a ragged dot become NULL."""
    vec_col = batch.column("vec_id")
    ri_out, cid_out, cos_out = [], [], []
    for r in range(len(embl)):
        row = embl[r].as_py()
        if row is None or any(v is None for v in row):
            # NULL norm -> NULL against every centroid.
            ri_out.append(r)
            cid_out.append(min_cid)
            cos_out.append(None)
            continue
        x = np.array(row) if row else np.zeros(0)
        nx = 0.0
        for v in row:
            nx = nx + v * v
        nx = nx ** 0.5
        if len(row) != dc:
            # Ragged vs the codebook: zero-den pairs score 0.0 (CASE
            # short-circuit); every other cosine is NULL (padded dot).
            zero = [c for c in range(CM.shape[0])
                    if nx * cn[c] == 0.0]
            if zero:
                for c in zero:
                    ri_out.append(r)
                    cid_out.append(cids[c])
                    cos_out.append(0.0)
            else:
                ri_out.append(r)
                cid_out.append(min_cid)
                cos_out.append(None)
            continue
        # exact fold against every centroid; tiny k
        for c in range(CM.shape[0]):
            den = nx * cn[c]
            if den == 0.0:
                cos = 0.0
            else:
                acc = 0.0
                for t in range(dc):
                    acc = acc + x[t] * CM[c, t]
                cos = acc / den
            ri_out.append(r)
            cid_out.append(cids[c])
            cos_out.append(float(cos))
    if ri_out:
        yield pa.RecordBatch.from_arrays(
            [vec_col.take(pa.array(ri_out)),
             embl.take(pa.array(ri_out)),
             pa.array(cid_out),
             pa.array(cos_out, type=pa.float64())],
            names=["vec_id", "emb", "centroid_id", "cos_raw"])


def _assign_batches_slow(batches, cids, cvecs, pa):
    """Whole-input fallback for degenerate (null/ragged) codebooks:
    reproduce zip_with's NULL-pad cosine per (row, centroid) and let
    the JVM argmax sort it out. Correctness-only path."""
    for batch in batches:
        vec_col = batch.column("vec_id")
        embl = batch.column("emb")
        if isinstance(embl, pa.ChunkedArray):
            embl = embl.combine_chunks()
        ri_out, cid_out, cos_out = [], [], []
        for r in range(len(embl)):
            row = embl[r].as_py()
            for cid, cv in zip(cids, cvecs):
                cos = _py_zipwith_cos(row, cv)
                ri_out.append(r)
                cid_out.append(cid)
                cos_out.append(cos)
        if ri_out:
            yield pa.RecordBatch.from_arrays(
                [vec_col.take(pa.array(ri_out)),
                 embl.take(pa.array(ri_out)),
                 pa.array(cid_out),
                 pa.array(cos_out, type=pa.float64())],
                names=["vec_id", "emb", "centroid_id", "cos_raw"])


def _py_zipwith_cos(a, b):
    """Python mirror of round-free _cosine_pre over possibly null /
    ragged lists, in the SQL CASE's evaluation order: NULL norms first
    (-> NULL), then the zero-den short-circuit (-> 0.0, even ragged),
    then the padded dot (ragged -> NULL)."""
    if a is None or any(v is None for v in a):
        return None
    if b is None or any(v is None for v in b):
        return None
    na = 0.0
    for v in a:
        na = na + v * v
    nb = 0.0
    for v in b:
        nb = nb + v * v
    den = (na ** 0.5) * (nb ** 0.5)
    if den == 0.0:
        return 0.0
    if len(a) != len(b):
        return None                     # padded dot -> NULL
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc / den


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
    results — parity-tested)."""
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
                      item_norm(F.col("emb")).alias("probe_nrm")))
    scored = (
        assigned.withColumn("nrm", item_norm(F.col("emb")))
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
# Default pair-sweep implementation: "arrow" (vectorized NumPy over
# Arrow batches — guide §4.2) or "sql" (pure JVM HOF expression). The
# two are bit-identical (parity-tested); "sql" remains for deployments
# that must keep plans Python-free.
EMB_SWEEP_DEFAULT = "arrow"


def _band_bucket(e, band: int, rows: int):
    b = F.lit(0)
    for i in range(rows):
        b = b + F.when(F.element_at(e, band * rows + i + 1) >= 0,
                       F.lit(1 << i)).otherwise(F.lit(0))
    return b


def embedding_near_dups(emb: DataFrame, cos_min: float = 0.95,
                        bands: int = EMB_LSH_BANDS,
                        rows: int = EMB_LSH_ROWS,
                        max_bucket: int = EMB_MAX_BUCKET,
                        sweep: str | None = None) -> DataFrame:
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
    base = fan_out(emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")))
    bucket_vec = F.array(*[
        _band_bucket(F.col("emb"), band, rows) for band in range(bands)])
    band_keys = F.array(*[
        F.struct(F.lit(band).alias("band"),
                 F.element_at("bks", band + 1).alias("bucket"))
        for band in range(bands)])
    # Per-item L2 norm computed ONCE map-side (round 6, guide §1.2): the
    # sweep below is O(pairs) and the old inline _cosine re-folded both
    # norms per PAIR — 3 array folds/pair down to 1. Same sqrt(fold)
    # expression, so rounded cosines are bit-identical.
    banded = (base.withColumn("bks", bucket_vec)
              .withColumn("nrm", item_norm(F.col("emb")))
              .select("vec_id", "emb", "bks", "nrm",
                      F.explode(band_keys).alias("bk"))
              .select("vec_id", "emb", "bks", "nrm", "bk.band", "bk.bucket"))
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("vec_id", "emb", "bks", "nrm"))
             .alias("items"))
        .where(F.size("items") > 1)
    )
    grouped = _cap_bucket_items(grouped, max_bucket)
    if sweep is None:
        sweep = EMB_SWEEP_DEFAULT
    if sweep == "arrow":
        return _sweep_pairs_arrow(grouped, cos_min)
    return _sweep_pairs_sql(grouped, cos_min)


def _sweep_pairs_sql(grouped: DataFrame, cos_min: float) -> DataFrame:
    """Per-bucket pair sweep as a pure JVM higher-order expression.

    Round-6 sweep shape (guide §1.2/§2.3): score and threshold INSIDE
    the per-bucket HOF — the old form materialized a struct carrying
    BOTH full embeddings for every candidate pair, exploded all of
    them, and only then scored and filtered; now only surviving
    (id_a, id_b, cos_sim) triples are ever materialized/exploded.
    Self-pair guard (duplicate vec_id input rows) lives in the
    candidate filter; cosine/round/threshold expressions are the same
    ops in the same order as round 5, so output rows are bit-identical."""
    first_band = (
        "CASE WHEN band = 0 THEN true ELSE NOT exists("
        "  slice(zip_with(x.bks, y.bks, (a, c) -> a = c), 1, band), "
        "  t -> t) END"
    )
    pair_expr = (
        "flatten(transform(items, (x, i) -> "
        "  filter(transform(filter(slice(items, i + 2, size(items)), "
        f"           y -> x.vec_id != y.vec_id AND ({first_band})), y -> "
        "     struct(x.vec_id AS id_a, y.vec_id AS id_b, "
        "            round(CASE WHEN x.nrm * y.nrm = 0.0D THEN 0.0D ELSE "
        "              aggregate(zip_with(x.emb, y.emb, (a, b) -> a * b), "
        "                        cast(0.0 as double), (acc, v) -> acc + v) "
        "              / (x.nrm * y.nrm) END, 6) AS cos_sim)), "
        f"    p -> p.cos_sim >= {float(cos_min)!r})))"
    )
    return (grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.*"))


# Safety margin for the Arrow sweep's raw-cosine pre-filter: JVM
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


def _sweep_pairs_arrow(grouped: DataFrame, cos_min: float) -> DataFrame:
    """Vectorized per-bucket pair sweep: mapInArrow + NumPy (guide §4.2
    "hand whole batches to vectorized native libraries").

    Bit-parity contract with _sweep_pairs_sql (parity-tested in
    tests/test_similarity_edges.py):
      * products and the dot-product accumulation run in IEEE float64
        in the SAME order as the JVM fold (one outer-product
        multiply-add per dimension, ascending — each step is one
        rounded multiply and one rounded add, exactly zip_with +
        aggregate's left fold);
      * norms are NOT recomputed — the JVM-computed `nrm` field is
        used, and den = nrm_a * nrm_b / division are single correctly-
        rounded IEEE ops in both runtimes;
      * the final round-half-up + `>= cos_min` run in the JVM on the
        surviving RAW cosines (no Python rounding anywhere); the NumPy
        side pre-filters with a conservative margin (>= cos_min - 1e-6,
        or NaN — Spark orders NaN above all doubles so NaN cosines
        survive the JVM filter, and the pre-filter must not drop them;
        zero-norm pairs score exactly 0.0 as in _cosine);
      * pairs whose cosine would be NULL JVM-side (ragged dimensions —
        zip_with pads with null — or null vector elements) are dropped,
        which is exactly what the JVM's `NULL >= cos_min` filter does.
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

        for batch in batches:
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
            bksl = struct.field("bks")
            bks_offs = bksl.offsets.to_numpy()
            bks_vals = bksl.values.to_numpy(zero_copy_only=False)
            emb_has_null = (embl.null_count > 0
                            or embl.values.null_count > 0)
            if not emb_has_null:
                emb_vals = embl.values.to_numpy(zero_copy_only=False)
            acc_a, acc_b, acc_c = [], [], []
            for r in range(len(items)):
                i0, i1 = offs[r], offs[r + 1]
                n = i1 - i0
                if n < 2:
                    continue
                ids = vec_ids[i0:i1]
                nr = nrms[i0:i1]
                e0, e1 = emb_offs[i0], emb_offs[i1]
                dims = np.diff(emb_offs[i0:i1 + 1])
                # Ragged dims or null elements -> NULL cosines JVM-side
                # -> dropped by the `>= cos_min` filter; mirror by
                # emitting nothing for the affected pairs. Mixed-dim
                # buckets keep their uniform-dim majority via the
                # general (rare) per-pair path below.
                uniform = dims.min() == dims.max()
                if not uniform or emb_has_null:
                    _sweep_bucket_slow(embl, i0, i1, ids, nr, bks_vals,
                                       bks_offs, bands_col[r], thr,
                                       acc_a, acc_b, acc_c)
                    continue
                d = int(dims[0])
                if d == 0:
                    X = np.zeros((n, 0))
                else:
                    X = emb_vals[e0:e1].reshape(n, d)
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

    pairs = grouped.select("band", "items").mapInArrow(sweep, out_schema)
    # Exact JVM round + threshold on survivors only — identical
    # expressions to the SQL sweep, so results are bit-identical.
    return (pairs.withColumn("cos_sim", F.round("cos_raw", 6))
            .where(F.col("cos_sim") >= cos_min)
            .select("id_a", "id_b", "cos_sim"))


def _sweep_bucket_slow(embl, i0, i1, ids, nr, bks_vals, bks_offs, band,
                       thr, acc_a, acc_b, acc_c):
    """Per-pair fallback for buckets with ragged dimensions or null
    vector elements (adversarial inputs only — never the hot path).
    Reproduces zip_with's pad-with-null semantics: any ragged pair or
    null product makes the JVM cosine NULL, which the `>= cos_min`
    filter drops — so those pairs are simply not emitted."""
    import numpy as np

    n = i1 - i0
    pyrows = [embl[int(i0) + j].as_py() for j in range(n)]
    band = int(band)
    for j in range(1, n):
        for i in range(j):
            if ids[i] == ids[j]:
                continue
            if band > 0:
                bi = bks_vals[bks_offs[i0 + i]:bks_offs[i0 + i] + band]
                bj = bks_vals[bks_offs[i0 + j]:bks_offs[i0 + j] + band]
                if (bi == bj).any():
                    continue
            den = nr[i] * nr[j]
            if den == 0.0:
                # Zero-norm guard fires BEFORE the dot product JVM-side
                # (CASE short-circuit), so a zero-norm side yields 0.0
                # even against a ragged/NULL-padded partner.
                cos = 0.0
            else:
                a, b = pyrows[i], pyrows[j]
                if a is None or b is None or len(a) != len(b) \
                        or any(v is None for v in a) \
                        or any(v is None for v in b):
                    continue        # NULL cosine JVM-side -> dropped
                acc = 0.0
                for x, y in zip(a, b):
                    acc = acc + x * y
                cos = acc / den
            if cos >= thr or np.isnan(cos):
                acc_a.append(np.array([ids[i]]))
                acc_b.append(np.array([ids[j]]))
                acc_c.append(np.array([cos]))


# ---------------------------------------------------------------------------
# SemDeDup: cluster-based semantic deduplication
# ---------------------------------------------------------------------------

SEM_MAX_CLUSTER = 4096   # per-cluster item cap (observed drops, as LSH)
SEM_MEAN_CLUSTER = 2500  # auto-k target mean (sits well under the cap)


def item_norm(emb_col):
    """Per-item L2 norm carried INSIDE the cluster items struct (field
    ``nrm``): the greedy sweep then computes each norm once per ITEM
    instead of once per PAIR (the sweep is O(n^2) pairs), and the
    zero-norm guard below costs one multiply instead of two extra
    aggregate folds. sqrt-then-multiply matches the old inline order,
    so rounded cosines are bit-identical."""
    return F.sqrt(F.aggregate(emb_col, F.lit(0.0),
                              lambda acc, v: acc + v * v))


def greedy_drop_expr(cos_min: float):
    """The SemDeDup greedy verdict over a sorted `items`
    array<struct<c,v,e,nrm>> column: per item y at 0-based position j,
    dropped iff ANY of the j earlier items is >= cos_min
    cosine-similar. exists() short-circuits; the first item of every
    cluster is always kept (empty slice). semdedup's "sql" sweep, and
    the reference the Arrow kernels are parity-tested against.
    Zero-norm guard: a raw 0/0 cosine is
    NaN, which Spark orders ABOVE every real number — unguarded,
    NaN >= cos_min is TRUE and a zero (empty-doc) vector would drop
    against anything; guarded, zero vectors match nothing (the
    _cosine convention)."""
    return F.expr(
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
    cross = (new.alias("n").withColumn("_nn", item_norm(F.col("emb")))
             .join(idx.alias("o")
                   .withColumn("_on", item_norm(F.col("emb"))),
                   ["centroid_id"])
             .where(F.round(_cosine_pre(F.col("n.emb"), F.col("o.emb"),
                                        F.col("_nn"), F.col("_on")), 6)
                    >= cos_min))
    return cross.select(F.col("n.vec_id").alias("vec_id")).distinct()


class _ItemViews:
    """NumPy views over an Arrow ``list<struct<..., e, nrm>>`` column:
    per-row item offsets, the item structs, the embedding list array
    and its offsets, the JVM-computed norms, and — when no vector or
    element is null — the flat embedding values."""

    def __init__(self, np, pa, col):
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        self.offs = col.offsets.to_numpy()
        self.struct = col.values
        self.embl = self.struct.field("e")
        self.emb_offs = self.embl.offsets.to_numpy()
        nrm = self.struct.field("nrm")
        self.nrm = nrm.to_numpy(zero_copy_only=False)
        self.dirty = (self.embl.null_count > 0
                      or self.embl.values.null_count > 0
                      or nrm.null_count > 0)
        self.vals = None if self.dirty else \
            self.embl.values.to_numpy(zero_copy_only=False)

    def dims(self, np, i0, n):
        return np.diff(self.emb_offs[i0:i0 + n + 1])

    def matrix(self, np, i0, n, d):
        if d == 0:
            return np.zeros((n, 0))
        return self.vals[self.emb_offs[i0]:self.emb_offs[i0 + n]] \
            .reshape(n, d)


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


def _rect_block(np, N, a0, m, O, b0, p, lo, hi):
    """Batch-vs-index verdicts for the m items of ``N`` at a0 against
    the p items of ``O`` at b0 (ANY over O), under
    batch_vs_index_dropped's rule: dgemm candidates at 1e-9 slack
    (_cand_cos_exact's discipline), the bit-exact left-fold cosine for
    candidates only, zero-norm pairs scored 0.0. Null/ragged vectors
    take the per-pair fallback."""
    nx, ny = N.nrm[a0:a0 + m], O.nrm[b0:b0 + p]
    ndims, odims = N.dims(np, a0, m), O.dims(np, b0, p)
    if N.dirty or O.dirty or ndims.min() != ndims.max() \
            or odims.min() != odims.max() or ndims[0] != odims[0]:
        dd, amb = _rect_slow(np, N.embl, O.embl, a0, m, b0, p, nx, ny,
                             lo, hi)
        return np.asarray(dd, dtype=bool), amb
    d = int(ndims[0])
    X, Y = N.matrix(np, a0, m, d), O.matrix(np, b0, p, d)
    den = nx[:, None] * ny[None, :]
    B = X @ Y.T if d else np.zeros((m, p))
    with np.errstate(divide="ignore", invalid="ignore"):
        B /= den
    np.copyto(B, 0.0, where=(den == 0.0))
    ri, ci = np.nonzero(~np.isfinite(B) | (B >= lo - 1e-9))
    cos = np.zeros(0)
    if len(ri):
        acc = np.zeros(len(ri))
        for t in range(d):
            acc += X[ri, t] * Y[ci, t]          # exact left fold
        dend = nx[ri] * ny[ci]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = acc / dend
        cos = np.where(dend == 0.0, 0.0, cos)
    return _fold_verdicts(np, m, ri, cos, lo, hi)


def batch_and_index_verdicts(new: DataFrame, idx: DataFrame | None,
                             cos_min: float,
                             max_cluster: int) -> DataFrame:
    """(vec_id, centroid_id, cos_c, sem_keep) for every row of ``new``
    (vec_id, emb, centroid_id, cos_c) — the incremental SemanticIndex
    verdicts in ONE grouping per centroid_id and ONE mapInArrow pass.

    ``idx``: index rows of the clusters ``new`` touches (None: empty
    index); each cluster is capped here to its ``max_cluster`` lowest
    vec_ids. A batch vector is dropped iff
      * intra: it is among its cluster's first ``max_cluster`` batch
        items in keep order (cos_c ASC, vec_id ASC) and an earlier one
        of them scores round(cos, 6) >= cos_min — greedy_verdicts'
        rule: zero-norm pairs are false, NULL cosines keep, NaN drops;
        the cap is observed as lsh_cap (_cap_bucket_items' metric);
      * cross: it scores round(cos, 6) >= cos_min against ANY capped
        index row of its cluster — batch_vs_index_dropped's rule:
        zero-norm pairs score 0.0, NULL cosines keep, NaN drops. Every
        batch vector is judged, also those beyond the intra cap.
    Both legs run semdedup's per-cluster kernels (_greedy_block,
    _rect_block) and return definite verdicts plus the raw cosines in
    the ambiguous band; the JVM applies the one round:
    sem_keep = NOT (definite OR exists(amb, round(c, 6) >= cos_min)).
    No index x index cosine is computed."""
    from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                                   StructField, StructType)

    def item(side, c):
        return F.struct(F.lit(side).alias("s"), c.alias("c"),
                        F.col("vec_id").alias("v"), F.col("emb").alias("e"),
                        item_norm(F.col("emb")).alias("nrm")).alias("it")

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
               .select("centroid_id",
                       F.array_sort(F.filter("_all", lambda x: x["s"] == 0))
                       .alias("items"),
                       F.filter("_all", lambda x: x["s"] == 1)
                       .alias("o_items")))
    grouped = _observe_cap(grouped, max_cluster)

    lo = float(cos_min) - _SWEEP_MARGIN
    hi = float(cos_min) + _SWEEP_MARGIN
    cap = int(max_cluster)
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
            pos, grp, out_def, out_amb = [], [], [], []
            for r in range(len(N.offs) - 1):
                a0, m = int(N.offs[r]), int(N.offs[r + 1] - N.offs[r])
                if m == 0:
                    continue
                nc = min(m, cap)
                dd = np.zeros(m, dtype=bool)
                amb = [[] for _ in range(m)]
                if nc:
                    dd[:nc], amb[:nc] = _greedy_block(np, N, a0, nc,
                                                      lo, hi)
                b0, p = int(O.offs[r]), int(O.offs[r + 1] - O.offs[r])
                if p:
                    dc, ac = _rect_block(np, N, a0, m, O, b0, p, lo, hi)
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

    judged = grouped.select("centroid_id", "items", "o_items") \
        .mapInArrow(judge, out_schema)
    return judged.select(
        "vec_id", "centroid_id", "cos_c",
        (~(F.col("dropped_def")
           | F.exists("amb", lambda c: F.round(c, 6) >= F.lit(cos_min))))
        .alias("sem_keep"))


def _rect_slow(np, nel, oel, a0, m, b0, p, nx, ny, lo, hi):
    """Per-pair fallback of the rectangular kernel (null/ragged
    vectors), in the SQL CASE order: real zero den -> 0.0 (even
    ragged); NULL norm or padded dot -> NULL (keep); NaN -> drop."""
    import math

    nrows = [nel[a0 + j].as_py() for j in range(m)]
    orows = [oel[b0 + j].as_py() for j in range(p)]
    dd = [False] * m
    amb = [[] for _ in range(m)]
    for j in range(m):
        for i in range(p):
            cos = _case_cos(nrows[j], orows[i], nx[j] * ny[i])
            if cos is None:
                continue
            if math.isnan(cos) or cos >= hi:
                dd[j] = True
                break
            if lo <= cos < hi:
                amb[j].append(cos)
        if dd[j]:
            amb[j] = []
    return dd, amb


def _case_cos(a, b, den):
    """round-free _cosine over possibly null/ragged lists in the SQL
    CASE's order: den == 0.0 (a REAL zero) short-circuits to 0.0
    before the dot; NULL norms (NaN den from null elements is caught
    by the null checks) or a padded dot give None."""
    import math

    if isinstance(den, float) and den == 0.0 \
            and a is not None and b is not None \
            and all(v is not None for v in a) \
            and all(v is not None for v in b):
        return 0.0
    if a is None or b is None or len(a) != len(b) \
            or any(v is None for v in a) or any(v is None for v in b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc / den


def greedy_verdicts(grouped: DataFrame, cos_min: float,
                    sweep: str | None = None) -> DataFrame:
    """(vec_id, dropped) for every item of every sorted cluster in
    ``grouped`` (the capped `items: array<struct<c, v, e, nrm>>` frame)
    under the SemDeDup greedy rule — item j is dropped iff ANY earlier
    item scores round(cos, 6) >= cos_min against it.

    semdedup's seam; its per-cluster kernel (_greedy_block) is also the
    intra leg of the incremental SemanticIndex's one-pass verdicts
    (batch_and_index_verdicts), so their batch == incremental parity
    holds by construction. `sweep` picks the implementation: "arrow"
    (vectorized NumPy, default) or "sql" (the pure-JVM
    greedy_drop_expr). Verdict equivalence note: the SQL exists() can
    return NULL for a pair whose cosine is NULL (null elements / ragged
    dims) — consumers coalesce NULL to false/keep, and the Arrow path
    emits false directly; the parity test compares post-coalesce
    semantics."""
    if sweep is None:
        sweep = EMB_SWEEP_DEFAULT
    if sweep == "arrow":
        return _greedy_arrow(grouped, cos_min)
    return (grouped.select(F.explode(greedy_drop_expr(cos_min)).alias("r"))
            .select(F.col("r.vec_id").alias("vec_id"),
                    F.col("r.dropped").alias("dropped")))


def _greedy_arrow(grouped: DataFrame, cos_min: float) -> DataFrame:
    """Vectorized greedy sweep: mapInArrow + NumPy (guide §4.2), same
    kernel discipline as _sweep_pairs_arrow — exact left-fold dot
    products, JVM-computed norms reused, NO Python rounding anywhere.

    Round-exactness without a Python round: each item returns a
    DEFINITE verdict when every relevant cosine is at least 1e-6 away
    from cos_min (round(x, 6) moves x by < 1e-6, so the comparison is
    decided), plus an `amb` array of the raw cosines inside the
    ambiguous band (width 2e-6 — empty for any real corpus). The final
    verdict is `definite OR exists(amb, c -> round(c, 6) >= cos_min)`,
    evaluated in the JVM — bit-exactly the SQL sweep's comparison.
    Pairs the SQL CASE scores as false (zero-norm sides) or NULL
    (null/ragged vectors — see greedy_verdicts) contribute nothing;
    NaN cosines drop (Spark orders NaN above all doubles)."""
    from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                                   StructField, StructType)

    lo = float(cos_min) - _SWEEP_MARGIN
    hi = float(cos_min) + _SWEEP_MARGIN
    id_type = grouped.schema["items"].dataType.elementType["v"].dataType
    out_schema = StructType([
        StructField("vec_id", id_type),
        StructField("dropped_def", BooleanType()),
        StructField("amb", ArrayType(DoubleType()))])

    def sweep(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            V = _ItemViews(np, pa, batch.column("items"))
            pos, out_def, out_amb = [], [], []
            for r in range(len(V.offs) - 1):
                i0, n = int(V.offs[r]), int(V.offs[r + 1] - V.offs[r])
                if n == 0:
                    continue
                dd, amb = _greedy_block(np, V, i0, n, lo, hi)
                pos.append(np.arange(i0, i0 + n))
                out_def.append(dd)
                out_amb.extend(amb)
            if pos:
                yield pa.RecordBatch.from_arrays(
                    [V.struct.field("v").take(pa.array(np.concatenate(pos))),
                     pa.array(np.concatenate(out_def), type=pa.bool_()),
                     pa.array(out_amb, type=pa.list_(pa.float64()))],
                    names=["vec_id", "dropped_def", "amb"])

    judged = grouped.select("items").mapInArrow(sweep, out_schema)
    return judged.select(
        "vec_id",
        (F.col("dropped_def")
         | F.exists("amb", lambda c: F.round(c, 6) >= F.lit(cos_min)))
        .alias("dropped"))


def _greedy_block(np, V, i0, n, lo, hi):
    """Greedy SemDeDup verdicts for the n keep-ordered items of ``V`` at
    i0: item j is judged against every earlier item. Zero-norm pairs
    are excluded by the kernel — exactly the CASE -> false rule of the
    SQL sweep; null/ragged clusters take the per-pair fallback."""
    nr = V.nrm[i0:i0 + n]
    dims = V.dims(np, i0, n)
    if V.dirty or dims.min() != dims.max():
        dd, amb = _greedy_cluster_slow(V.embl, i0, n, nr, lo, hi)
        return np.asarray(dd, dtype=bool), amb
    ii, jj, cos = _cand_cos_exact(np, V.matrix(np, i0, n, int(dims[0])),
                                  nr, lo)
    return _fold_verdicts(np, n, jj, cos, lo, hi)


def _greedy_cluster_slow(embl, i0, n, nr, lo, hi):
    """Per-pair fallback for clusters with null/ragged vectors.
    NULL-cosine pairs (ragged dims, null elements, null norms) score
    NULL in the SQL sweep, which both consumers treat as keep — so
    they contribute nothing here."""
    import math

    pyrows = [embl[i0 + j].as_py() for j in range(n)]
    dd = [False] * n
    amb = [[] for _ in range(n)]
    for j in range(1, n):
        for i in range(j):
            den = nr[i] * nr[j]
            if den == 0.0:
                continue                    # CASE -> false
            a, b = pyrows[i], pyrows[j]
            if a is None or b is None or len(a) != len(b) \
                    or any(v is None for v in a) \
                    or any(v is None for v in b):
                continue                    # NULL cosine -> keep
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + x * y
            raw = acc / den
            if math.isnan(raw) or raw >= hi:
                dd[j] = True
            elif lo <= raw < hi:
                amb[j].append(raw)
        if dd[j]:
            amb[j] = []
    return dd, amb


def semdedup(emb: DataFrame, cos_min: float = 0.95,
             k: int = None, iters: int = IVF_ITERS,
             codebook: DataFrame = None,
             max_cluster: int = SEM_MAX_CLUSTER,
             sweep: str | None = None) -> DataFrame:
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

    Output: one row per vector — (vec_id, centroid_id, cos_c,
    sem_keep). Downstream joins `WHERE sem_keep` to materialize the
    deduplicated corpus.

    Scale shape: the codebook broadcasts (train once via
    kmeans_codebook / vector_index.CodebookIndex, pass it in);
    assignment is one broadcast cross join + a vec_id window (ONE hash
    exchange of (vec_id, emb)); then ONE exchange groups each cluster
    and the O(n_c^2) cosine sweep runs LOCALLY per cluster via an
    indexed HOF — no pair explosion ever shuffles, the verdict comes
    out of the same task that holds the cluster. Per-task work is
    bounded by `max_cluster` (deterministic array_sort truncation with
    the observed lsh_cap drop metric — size k so the MEAN cluster sits
    well under the cap, k ~ corpus/2500 with the 4096 default: the 10x
    evidence run at 500k/k=200 measured max natural cluster 2780 with
    zero drops; k ~ corpus/5000 would put the mean itself above the
    cap and truncate most clusters). With ``k=None`` (the default) and
    no prebuilt codebook, k derives from that rule via one count()
    action at plan build — a fixed small k on a large corpus would
    silently cap-truncate ~every cluster and pass ~everything as
    sem_keep=true (the derive_salt_buckets precedent: data-sized, not
    guessed). That is the paper's own cost profile: SemDeDup is
    O(N^2/k) cosine work, paid map-side."""
    if codebook is None and k is None:
        k = max(IVF_K, emb.count() // SEM_MEAN_CLUSTER)
    cents = codebook if codebook is not None \
        else kmeans_codebook(emb, k, iters)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    # assigned feeds TWO plan branches (the cluster sweep and the
    # row-completeness join below); without materialization Catalyst
    # plans them as independent subtrees and the broadcast-argmax
    # assignment runs twice per query (measured: 2.5 s per pass at
    # 40k x 64d — round 6). A LAZY localCheckpoint computes it once
    # and shares the partitions; same lineage-truncation discipline
    # as duplicate_clusters.
    assigned = _assign_with_cos(base, cents).localCheckpoint(eager=False)
    # array_sort on struct(c, v, e, nrm) orders lexicographically by
    # (cos_c ASC, vec_id ASC); vec_id is unique so the later fields are
    # never compared. The sorted prefix IS the keep order.
    grouped = (assigned.groupBy("centroid_id")
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col("cos_c").alias("c"),
                   F.col("vec_id").alias("v"),
                   F.col("emb").alias("e"),
                   item_norm(F.col("emb")).alias("nrm"))))
                   .alias("items")))
    grouped = _cap_bucket_items(grouped, max_cluster)
    judged = (greedy_verdicts(grouped, cos_min, sweep=sweep)
              .select("vec_id", (~F.col("dropped")).alias("_sk")))
    # Row-completeness under the cap: a truncated item vanishes from
    # `items`, so its verdict must not vanish with it — every assigned
    # vector gets a row, beyond-cap items default to KEPT (uncompared;
    # the truncation is observed via the lsh_cap metric, never silent).
    return (assigned.select("vec_id", "centroid_id", "cos_c")
            .join(judged, "vec_id", "left")
            .withColumn("sem_keep", F.coalesce("_sk", F.lit(True)))
            .drop("_sk"))
