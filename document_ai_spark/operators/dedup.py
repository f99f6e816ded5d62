"""Deduplication operators: exact, MinHash-bucketed near-dup, SimHash,
n-gram Jaccard — the dedup family a pretraining-data pipeline needs.

Design for scale:
  * exact dedup = hash-groupBy on md5(text): one shuffle, partial agg
    map-side, no text comparison ever crosses the wire (only 32-byte keys).
  * near-dup = bottom-k MinHash sketch per doc (array expr, no UDF) ->
    candidate generation by MIN-hash bucket join (docs sharing their
    smallest shingle hash land in one bucket) -> exact Jaccard verify on
    candidates only. The candidate join is an equi-join on the bucket key,
    NOT a cross join — at 10^12 docs the cross join is impossible, the
    bucket join shuffles each doc once.
  * SimHash = 16-bit bitwise-majority signature over word hashes, pure
    integer expressions; hamming-0 collision = near-dup bucket.

All hashing is md5-based so the DuckDB oracle computes bit-identical
values (Spark xxhash64 has no DuckDB twin).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.tokenize import WS_RANGES, tokens_sql

SHINGLE_K = 3          # words per shingle (char k-grams on CJK runs)
SKETCH_SIZE = 8        # bottom-k sketch size
SIMHASH_BITS = 16
# Candidate-bucket hard cap: a bucket of n docs expands O(n^2) pairs inside
# ONE reducer task, so an adversarial hot bucket (10^8 empty/boilerplate
# docs sharing a min-shingle at 100 TB) must be truncated, never collected
# whole. 256 keeps the worst task at ~32k pairs while sitting far above any
# organic bucket at test SFs (sf0.1 max observed: <20).
MAX_BUCKET = 256

_cap_obs_counter = [0]

# Active cap-metric collectors (see collect_cap_metrics): when non-empty,
# _cap_bucket_items additionally attaches an Observation object to the
# plan and registers it with the innermost collector, so a checkpointed
# runner can persist the drop counts into its lineage rows. THREAD-LOCAL:
# two concurrent checkpointed/curate runs on one driver (threads, or a
# foreachBatch stream alongside a batch job) must not cross-attribute
# each other's observations — the collector therefore only sees plans
# BUILT on the same thread as the `with collect_cap_metrics()` block.
import threading as _threading

_cap_tls = _threading.local()


def _cap_collectors() -> list:
    stack = getattr(_cap_tls, "stack", None)
    if stack is None:
        stack = _cap_tls.stack = []
    return stack


class _CapCollector:
    """Observations attached while this collector was active."""

    def __init__(self):
        self.observations = []

    def summary(self, timeout_sec: float = 5.0) -> dict:
        """Aggregate cap metrics AFTER the plan(s) executed: total
        dropped candidates and the largest bucket seen.

        Bounded (store.observed_value): an observation whose plan never
        executed an action (e.g. a user extract_fn that builds a capped
        dedup stage but prunes its result) is skipped after
        ``timeout_sec`` with a warning and counted in
        ``lsh_cap_unobserved`` — Observation.get alone would block that
        caller forever. One whose subtree AQE elided (empty input)
        counts as no drops."""
        import warnings

        from ..streaming.store import observed_value

        dropped, biggest, unobserved = 0, 0, 0
        for obs in self.observations:
            n = observed_value(obs, "n_dropped_candidates", timeout_sec)
            if not n.fired:
                unobserved += 1
                warnings.warn(
                    "collect_cap_metrics: a capped-LSH plan built in this "
                    "block never executed an action; its drop counts are "
                    "not included (lsh_cap_unobserved)")
                continue
            dropped += int(n.value or 0)
            biggest = max(biggest, int(observed_value(
                obs, "max_bucket_size").value or 0))
        out = {"lsh_cap_dropped": dropped, "lsh_max_bucket": biggest}
        if unobserved:
            out["lsh_cap_unobserved"] = unobserved
        return out


class collect_cap_metrics:
    """Context manager: collect the bucket-cap observe() metrics of every
    capped LSH plan BUILT inside the block ON THIS THREAD (dedup,
    similarity, sketch/vector index paths all flow through
    _cap_bucket_items; the stack is thread-local so concurrent runs on
    one driver don't cross-attribute observations).

    with collect_cap_metrics() as caps:
        out = build_and_write_plan(...)     # plan executes here
    lineage.metrics = json.dumps({**caps.summary(), ...})
    """

    def __enter__(self) -> _CapCollector:
        c = _CapCollector()
        _cap_collectors().append(c)
        return c

    def __exit__(self, *exc) -> None:
        _cap_collectors().pop()


def _cap_bucket_items(grouped: DataFrame, max_bucket: int) -> DataFrame:
    """Deterministically truncate candidate buckets to `max_bucket` items.

    Items are array_sort'ed first so the kept prefix is stable across runs
    (collect_list order is not), and the truncation is NOT silent: an
    `observe` metric (lsh_cap_N: n_dropped_candidates / max_bucket_size)
    is attached to the plan and surfaces through QueryExecution listeners
    and the UI on every run.

    Memory honesty: the cap bounds the PAIR EXPANSION and everything
    downstream, not the collect_list buffer itself — the aggregation
    still materializes each bucket's full item array in one group
    buffer before the slice (ObjectHashAggregate's sort-based fallback
    spills BETWEEN groups, not inside one). A degenerate single bucket
    in the 10^8-row class (a corpus-wide shared template) can OOM a
    reducer before the cap runs. The designed defense is upstream:
    band_bucket_stats / suggest_bucket_cap exist to detect exactly
    that bucket in a cheap keys-only pre-flight (no item payloads, no
    collect) before any dedup query runs; at scale, pathological keys
    it reports get filtered or salted first. The windowed alternative
    (row_number pre-filter, then collect) bounds the buffer too but
    pays a per-partition sort on EVERY run — wrong default for the
    overwhelmingly common case the stats pass keeps us in.

    Interaction with first-collision-band pair dedup (banded_near_dup_pairs,
    similarity.embedding_near_dups, sketch_index cross pairs): when a
    pair's FIRST colliding band is truncated away by the cap, the pair is
    lost entirely — a later band where both sides survive still skips it
    (its first-band filter sees the earlier collision). The metric counts
    bucket truncation, not these suppressed later-band recoveries;
    accepted trade-off, caps only engage on adversarial buckets."""
    return (_observe_cap(grouped, max_bucket)
            .withColumn("items",
                        F.slice(F.array_sort("items"), 1, max_bucket)))


def _observe_cap(grouped: DataFrame, max_bucket: int) -> DataFrame:
    """Attach _cap_bucket_items' lsh_cap observation (candidates
    beyond ``max_bucket`` per `items` array, largest array) WITHOUT
    truncating — for a consumer that applies the cap to `items` itself
    and still needs the items beyond it."""
    _cap_obs_counter[0] += 1

    def metrics():
        n = F.size("items")
        return (F.sum(F.greatest(n - max_bucket, F.lit(0)))
                .alias("n_dropped_candidates"),
                F.max(n).alias("max_bucket_size"))

    sized = grouped.observe(f"lsh_cap_{_cap_obs_counter[0]}", *metrics())
    stack = _cap_collectors()
    if stack:
        from pyspark.sql import Observation
        obs = Observation()
        sized = sized.observe(obs, *metrics())
        stack[-1].observations.append(obs)
    return sized


def _word_shingles_sql(k: int = SHINGLE_K) -> str:
    """SQL text of the k-token shingle array (space-joined).

    Tokens come from the script-aware tokenizer (functions/tokenize.py):
    spaced scripts shingle by words exactly as before; CJK runs shingle
    by character k-grams, so near-dup detection works on no-space
    scripts instead of collapsing each document to one giant token.

    The tokens array is wrapped in a 1-element array + transform so the
    regex tokenize evaluates ONCE per row — referencing it directly
    inside the per-shingle lambda would re-tokenize the text per shingle
    (O(len^2), measured 4x slower at sf0.1).

    Zero-token documents (empty/whitespace-only text) have ZERO
    shingles — not one empty-string shingle — so they never enter dedup
    buckets; both engines mirror this (DuckDB's array_to_string(NULL
    slices) diverges from Spark's array_join otherwise).

    Round 6: the per-shingle string is built with concat_ws over k
    element_at lookups instead of array_join(slice(...)) — the slice
    allocated a k-element array per shingle and was the single biggest
    cost of the whole sketch pipeline (measured 2x on the shingle
    stage at sf1.0). Identical output: for size(toks) >= k every
    window has exactly k tokens; shorter docs take the explicit
    < k branch, whose single shingle is all tokens joined — exactly
    what slice(toks, 1, k) produced."""
    parts = ", ".join(f"element_at(toks, i + {j})" for j in range(k))
    return (
        f"element_at(transform(array({tokens_sql()}), toks -> "
        "  CASE WHEN size(toks) = 0 THEN array() "
        f"  WHEN size(toks) < {k} THEN array(concat_ws(' ', toks)) ELSE "
        f"  transform(sequence(1, size(toks) - {k - 1}), "
        f"            i -> concat_ws(' ', {parts})) END"
        "), 1)"
    )


def _word_shingles(k: int = SHINGLE_K):
    return F.expr(_word_shingles_sql(k))


def with_minhash_sketch(df: DataFrame, sketch_size: int = SKETCH_SIZE
                        ) -> DataFrame:
    """Bottom-k MinHash sketch: the k lexicographically-smallest md5 values
    over the doc's word shingles. Pure array expressions."""
    hashes = F.transform(_word_shingles(), lambda s: F.md5(s))
    sketch = F.slice(F.array_sort(F.array_distinct(hashes)), 1, sketch_size)
    # Projection boundary between sketch and bucket: deriving the bucket
    # from the sketch EXPRESSION would evaluate the whole tokenize ->
    # shingle -> md5 -> sort pipeline twice per row (HOFs sit outside
    # codegen subexpression elimination; CollapseProject's cost check
    # keeps the two-step select uncollapsed).
    # try_: a zero-token doc has an EMPTY sketch; its bucket is NULL
    # (plain element_at throws out-of-bounds under ANSI mode).
    return (df.withColumn("minhash_sketch", sketch)
            .select("*", F.try_element_at("minhash_sketch", F.lit(1))
                    .alias("minhash_bucket")))


# k-permutation MinHash family: ONE md5 per shingle (28-bit prefix) run
# through k linear-congruential permutations h_i(x) = (A[i]*x + B[i]) mod P.
# P is the Mersenne prime 2^31-1; A[i]*x < 2^31 * 2^28 = 2^59, so the
# arithmetic is exact in 64-bit on BOTH engines (DuckDB BIGINT errors on
# overflow; Java long would silently wrap — staying under 2^63 keeps the
# two bit-identical). The first 8 constants are the fixed legacy values
# (pins every round-1..4 artifact bit-for-bit); permutations beyond 8
# are derived deterministically by minhash_constants() below, so k is
# unbounded (production pipelines run 64-128).
MINHASH_P = 2147483647
MINHASH_A = [1103515245, 1299709, 15485863, 32452843,
             49979687, 67867967, 86028121, 104395301]
MINHASH_B = [12345, 54321, 771919, 104729,
             224737, 350377, 479909, 611953]


def minhash_constants(k: int) -> tuple:
    """(A, B) LCG constant lists for k permutations, any k >= 1.

    Positions 0-7 are the legacy fixed constants; positions >= 8 derive
    from md5 of a fixed per-index tag — deterministic across processes,
    seeds, and engines (the values are materialized as integer LITERALS
    into both the Spark and DuckDB SQL, so parity is by construction).
    Every derived A lands in [1, P-1] and B in [0, P-1], preserving the
    64-bit overflow proof above (A*hash < 2^31 * 2^28 = 2^59)."""
    import hashlib
    A, B = list(MINHASH_A), list(MINHASH_B)
    for i in range(len(A), k):
        ha = hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()
        hb = hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()
        # 60 hex-bit prefix mod the range: bias < 2^-29, irrelevant here.
        A.append(int(ha[:15], 16) % (MINHASH_P - 1) + 1)
        B.append(int(hb[:15], 16) % MINHASH_P)
    return A[:k], B[:k]


def with_minhash_signature(df: DataFrame, n_hashes: int = SKETCH_SIZE
                           ) -> DataFrame:
    """k-permutation MinHash signature: position i = min over the doc's
    shingles of the i-th LCG permutation of the shingle's 28-bit md5
    prefix — k independent MinHash functions at ONE md5 per shingle.

    Why this EXISTS next to the bottom-k sketch: LSH banding needs
    POSITION-STABLE signatures. Slicing a bottom-k (ordered) sketch into
    bands is insertion-UNstable — one new small hash shifts every later
    position and all bands miss at once (measured: a jaccard-0.78 pair,
    one appended word, 0/4 band hits). Position i here depends only on
    the shingle SET under permutation i, so a near-dup pair agrees on
    each position independently with probability ~jaccard. The bottom-k
    sketch remains the exact-jaccard estimator used by the verify stage
    and min-bucket candidates.

    ``n_hashes`` is unbounded (constants derive on demand); cost is
    O(shingles x k) integer multiply-add-mods per row — at k=128 the
    stage stays whole-stage-codegen but does 16x the k=8 arithmetic,
    the standard price of a production-resolution signature.

    The shingle array and the per-shingle base hashes are materialized
    once inside the expression (single-split discipline, one md5 pass);
    the k permutations are integer multiply-add-mod — all JVM codegen."""
    A, B = minhash_constants(n_hashes)
    sh = _word_shingles_sql()
    a_arr = "array(" + ", ".join(str(a) for a in A) + ")"
    b_arr = "array(" + ", ".join(str(b) for b in B) + ")"
    sig = F.expr(
        f"element_at(transform(array({sh}), sh -> "
        "  element_at(transform(array(transform(sh, s -> "
        "      cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint))), "
        "    hs -> "
        f"    transform(sequence(0, {n_hashes - 1}), i -> "
        f"      array_min(transform(hs, h -> "
        f"        pmod(element_at({a_arr}, i + 1) * h "
        f"             + element_at({b_arr}, i + 1), {MINHASH_P}))))), 1)"
        "), 1)"
    )
    return df.withColumn("minhash_sig", sig)


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (content_hash, n_dups, keep_doc_id)."""
    return (
        df.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_dups"),
             F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def near_dup_pairs(df: DataFrame, jaccard_min: float = 0.6,
                   max_bucket: int = MAX_BUCKET) -> DataFrame:
    """MinHash-bucketed candidate pairs verified by sketch-Jaccard.

    groupBy(bucket) + intra-bucket pair expansion instead of a bucket
    self-join: the expensive sketch computation runs ONCE per doc (a
    self-join would recompute the whole upstream for each side), and the
    single shuffle moves only (doc_id, 8-hash sketch) pairs — at 10^12
    docs that's the difference between one pass and two full passes over
    the corpus. Hot buckets are truncated to `max_bucket` items with an
    observed drop metric (see _cap_bucket_items) so one degenerate shingle
    can never OOM a reducer. Returns (doc_a, doc_b, jaccard), doc_a<doc_b."""
    # Zero-token docs (empty/whitespace/NULL text) have empty sketches
    # and no bucket; filter them on the CHEAP text predicate BEFORE the
    # sketch projection — a size(minhash_sketch) > 0 filter after it
    # would be pushed through the projection by substituting the alias,
    # re-deriving the whole tokenize->shingle->md5 pipeline per row just
    # for the predicate (measured +50% on this query at sf0.1).
    s = with_minhash_sketch(
        df.where(F.col("text").rlike(f"[^{WS_RANGES}]"))).select(
        "doc_id", "minhash_bucket", "minhash_sketch")
    grouped = (
        s.groupBy("minhash_bucket")
        .agg(F.collect_list(F.struct("doc_id", "minhash_sketch"))
             .alias("items"))
        .where(F.size("items") > 1)
    )
    grouped = _cap_bucket_items(grouped, max_bucket)
    # Round-6 sweep shape (guide §1.2/§2.3): score and threshold INSIDE
    # the per-bucket HOF — the old form materialized a struct carrying
    # both 8-hash sketches for every candidate pair, exploded all of
    # them, and only then scored and filtered; now only surviving
    # (doc_a, doc_b, jaccard) triples are materialized/exploded. The
    # self-pair guard (duplicate doc_id input rows pair positionally
    # with themselves; doc_id-is-a-key contract) lives in the candidate
    # filter; jaccard/round/threshold/least/greatest are the same ops,
    # so output rows are bit-identical.
    pair_expr = (
        "flatten(transform(items, (x, i) -> "
        "  filter(transform(filter(slice(items, i + 2, size(items)), "
        "           y -> x.doc_id != y.doc_id), y -> "
        "     struct(least(x.doc_id, y.doc_id) AS doc_a, "
        "            greatest(x.doc_id, y.doc_id) AS doc_b, "
        "            round(size(array_intersect(x.minhash_sketch, "
        "                                       y.minhash_sketch)) "
        "                  / size(array_union(x.minhash_sketch, "
        "                                     y.minhash_sketch)), 6) "
        "            AS jaccard)), "
        f"    p -> p.jaccard >= {float(jaccard_min)!r})))"
    )
    return (grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.*"))


LSH_BANDS = 4          # sketch of 8 hashes -> 4 bands x 2 rows
LSH_ROWS = 2


def banded_near_dup_pairs(df: DataFrame, jaccard_min: float = 0.5,
                          bands: int = LSH_BANDS, rows: int = LSH_ROWS,
                          max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Canonical MinHash+LSH: shingle -> minhash sketch -> split into
    `bands` bands of `rows` hashes -> band-hash bucket join -> exact
    sketch-Jaccard verify.

    vs near_dup_pairs (single min-hash bucket): banding catches pairs
    that differ in their minimum shingle but agree on ANY band — higher
    recall at the cost of `bands` shuffled copies of (doc_id, sketch).
    Band keys come from the k-PERMUTATION signature
    (with_minhash_signature), not slices of the bottom-k sketch: bottom-k
    positions shift under insertion, so banding them loses exactly the
    near-miss pairs banding exists to catch. The bottom-k sketch still
    rides along as the verify stage's jaccard estimator.
    Pair expansion happens inside (band, bucket) groups, so the join is
    still equi, never cross. A pair agreeing on several bands is emitted
    ONCE — at its FIRST colliding band, decided locally inside the
    expansion (each side's sketch is in the bucket, so earlier-band
    slices compare in-place) — which removes the pair-dedup shuffle an
    explicit groupBy(doc_a, doc_b) would cost. At 10^12 docs that
    shuffle is the largest intermediate in the whole dedup path (every
    multi-band candidate pair, each carrying two sketches). Caveat under
    the cap: a pair whose first-collision band was truncated by
    `max_bucket` is dropped even if co-present in a later band — caps
    only engage on adversarial buckets and the drop is observed, never
    silent.
    """
    # Cheap text predicate, not size(sketch) > 0 — see near_dup_pairs:
    # a post-projection filter re-derives the sketch pipeline per row.
    # Signature length = bands*rows: every permutation feeds exactly one
    # band key (k=8 at the 4x2 default, 64 at 16x4, 128 at 16x8/32x4).
    s = with_minhash_signature(with_minhash_sketch(
        df.where(F.col("text").rlike(f"[^{WS_RANGES}]"))),
        n_hashes=bands * rows).select(
        "doc_id", "minhash_sketch", "minhash_sig")
    # One row per (band, band_hash): explode the signature into band keys.
    band_expr = F.explode(F.expr(
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        f"  'band', b,"
        f"  'band_hash', md5(concat_ws('|', slice(minhash_sig, "
        f"                b * {rows} + 1, {rows})))))"
    )).alias("bk")
    banded = s.select("doc_id", "minhash_sketch", "minhash_sig",
                      band_expr).select(
        "doc_id", "minhash_sketch", "minhash_sig", "bk.band", "bk.band_hash")
    grouped = (
        banded.groupBy("band", "band_hash")
        .agg(F.collect_list(
            F.struct("doc_id", "minhash_sketch", "minhash_sig"))
            .alias("items"))
        .where(F.size("items") > 1)
    )
    grouped = _cap_bucket_items(grouped, max_bucket)
    # First-collision-band filter: emit (x, y) in band b only when no
    # earlier band b' < b bucketed them together (signature-slice
    # equality <=> equal md5 band keys). Purely local — no dedup exchange.
    first_band = (
        "CASE WHEN band = 0 THEN true ELSE NOT exists("
        "  transform(sequence(0, band - 1), b -> "
        f"    slice(x.minhash_sig, b * {rows} + 1, {rows}) == "
        f"    slice(y.minhash_sig, b * {rows} + 1, {rows})), "
        "  t -> t) END"
    )
    # Inline score-and-filter sweep — see near_dup_pairs (identical
    # round-6 shape; self-pair guard in the candidate filter).
    pair_expr = (
        "flatten(transform(items, (x, i) -> "
        "  filter(transform(filter(slice(items, i + 2, size(items)), "
        f"           y -> x.doc_id != y.doc_id AND ({first_band})), y -> "
        "     struct(least(x.doc_id, y.doc_id) AS doc_a, "
        "            greatest(x.doc_id, y.doc_id) AS doc_b, "
        "            round(size(array_intersect(x.minhash_sketch, "
        "                                       y.minhash_sketch)) "
        "                  / size(array_union(x.minhash_sketch, "
        "                                     y.minhash_sketch)), 6) "
        "            AS jaccard)), "
        f"    p -> p.jaccard >= {float(jaccard_min)!r})))"
    )
    return (grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.*"))


def duplicate_clusters(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster).

    The operator every dedup pipeline ends with: pairs say "a ~ b", but
    keeping one doc per DUPLICATE CLUSTER needs the transitive closure
    (a~b, b~c => keep one of {a,b,c}). Iterative min-label propagation:
    each round every node adopts the smallest label among itself and its
    neighbors — pure joins + groupBy-min, shuffle keys are doc ids, no
    driver-side graph. The cluster id is the component's minimum doc_id:
    deterministic, engine-independent.

    CONVERGENCE-CHECKED (round-3 fix for the round-2 latent defect): each
    round materializes the label table (localCheckpoint truncates the
    exponentially-deepening lazy lineage) and counts changed labels in
    the same pass; the loop runs until that count is 0. A component of
    diameter d converges in d rounds — near-dup components are
    near-cliques (d 1-2), so typical cost is 2-3 cheap jobs over the
    (doc_id, label) table, but a chained template family of ANY diameter
    now clusters correctly instead of silently splitting. `max_iter` is a
    runaway bound only; exceeding it raises rather than returning a
    silently-wrong answer.

    Input: (doc_a, doc_b [, ...]) pair rows. Output covers only docs
    that appear in some pair (singletons are their own cluster by
    definition and need no row at 10^12 scale)."""
    # Materialize edges once: each round re-reads them, and recomputing a
    # (possibly UDF-heavy) upstream near-dup plan per round would multiply
    # the whole pipeline cost by the round count.
    edges = pairs.select("doc_a", "doc_b").localCheckpoint()
    labels = (edges.select(F.col("doc_a").alias("doc_id"))
              .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
              .distinct()
              .withColumn("label", F.col("doc_id")))
    for _ in range(max_iter):
        la = labels.select(F.col("doc_id").alias("doc_a"),
                           F.col("label").alias("l_a"))
        lb = labels.select(F.col("doc_id").alias("doc_b"),
                           F.col("label").alias("l_b"))
        m = edges.join(la, "doc_a").join(lb, "doc_b")
        best = F.least("l_a", "l_b")
        cand = (m.select(F.col("doc_a").alias("doc_id"), best.alias("cand"))
                .unionByName(m.select(F.col("doc_b").alias("doc_id"),
                                      best.alias("cand")))
                .groupBy("doc_id").agg(F.min("cand").alias("cand")))
        flagged = (labels.join(cand, "doc_id", "left")
                   .select("doc_id",
                           F.least("label", F.coalesce("cand", "label"))
                           .alias("label"),
                           (F.coalesce("cand", "label") < F.col("label"))
                           .cast("int").alias("_chg"))
                   .localCheckpoint())
        n_changed = flagged.agg(F.sum("_chg")).first()[0] or 0
        labels = flagged.drop("_chg")
        if n_changed == 0:
            return labels.withColumnRenamed("label", "cluster")
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} rounds — "
        "component diameter exceeds the bound; raise max_iter")


def duplicate_clusters_star(pairs: DataFrame, max_iter: int = 30
                            ) -> DataFrame:
    """Connected components via the ALTERNATING large-star / small-star
    algorithm (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") — same output contract as duplicate_clusters
    ((doc_id, cluster = component-min), covering every doc in a pair).

    Why it exists next to min-label propagation: label propagation
    converges in DIAMETER rounds. Near-dup components are near-cliques
    (2-3 rounds), but a chained template family of diameter d costs d
    full (doc_id, label) materializations — and past max_iter it raises.
    The alternating algorithm contracts path-length exponentially
    (O(log^2 n) rounds worst case, ~log n in practice): a 300-link chain
    that label propagation cannot finish within its 50-round bound
    converges here in a handful of rounds (tested).

    Each round is two joins + groupBy-mins over the EDGE set only
    (shuffle keys are doc ids); edges are localCheckpoint()ed per round
    (lineage truncation, same discipline as duplicate_clusters).
    Convergence = edge set unchanged over a full round, checked with a
    count + order-insensitive hash-sum in ONE tiny aggregate — not an
    exceptAll diff (which would shuffle both edge sets per round).
    """
    def large_star(e: DataFrame) -> DataFrame:
        bidir = e.unionByName(e.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        m = (bidir.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("u", "mn").alias("mn")))
        return (bidir.join(m, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("mn").alias("v"))
                .where(F.col("u") != F.col("v"))
                .distinct())

    def small_star(e: DataFrame) -> DataFrame:
        o = e.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
        m = (o.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("u", "mn").alias("mn")))
        out = (o.join(m, "u")
               .select(F.col("v").alias("u"), F.col("mn").alias("v"))
               .unionByName(m.select("u", F.col("mn").alias("v"))))
        return (out.where(F.col("u") != F.col("v")).distinct())

    def checksum(e: DataFrame):
        # decimal(38,0) accumulator: a long sum of 64-bit hashes
        # overflows (ANSI raises); decimal summation is exact.
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.concat_ws("|", "u", "v"))
                  .cast("decimal(38,0)")).alias("h")
        ).first()

    edges = (pairs.select(F.col("doc_a").alias("u"),
                          F.col("doc_b").alias("v"))
             .where(F.col("u") != F.col("v")).distinct()
             .localCheckpoint())
    nodes = (edges.select(F.col("u").alias("doc_id"))
             .unionByName(edges.select(F.col("v").alias("doc_id")))
             .distinct().localCheckpoint())
    prev = checksum(edges)
    for _ in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint()
        cur = checksum(edges)
        if cur == prev:
            # Claimed fixed point. The (count, hash-sum) convergence
            # check could in principle collide across DIFFERENT edge
            # sets, so cheaply assert the star-forest shape before
            # trusting it: every u maps to exactly one v, and every
            # edge points downward (v < u = toward the component min).
            # One tiny aggregate over the final edge table; a violation
            # raises instead of emitting conflicting doc_id rows.
            shape = (edges.groupBy("u")
                     .agg(F.count("*").alias("deg"),
                          F.max((F.col("u") <= F.col("v")).cast("int"))
                          .alias("bad_dir"))
                     .agg(F.max("deg").alias("max_deg"),
                          F.max("bad_dir").alias("bad_dir")).first())
            if shape["max_deg"] is not None and (
                    shape["max_deg"] > 1 or shape["bad_dir"] == 1):
                raise RuntimeError(
                    "duplicate_clusters_star: converged edge set is not "
                    "a star forest (checksum collision or non-star fixed "
                    "point) — refusing to emit a conflicting mapping")
            # Fixed point: edges form a star forest (u -> component min).
            mapping = edges.select(F.col("u").alias("doc_id"),
                                   F.col("v").alias("cluster"))
            return (nodes.join(mapping, "doc_id", "left")
                    .select("doc_id",
                            F.coalesce("cluster", "doc_id").alias("cluster")))
        prev = cur
    raise RuntimeError(
        f"duplicate_clusters_star did not converge in {max_iter} rounds")


def with_simhash(df: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """16-bit SimHash: per word, take md5's first 4 hex chars as a 16-bit
    int; signature bit b = majority of word-hash bit b. Integer exprs only."""
    # Single-pass: word hashes and per-bit majority counts are computed
    # exactly once per row via 1-element-array lambda wrappers — a naive
    # per-bit aggregate would hash every word `bits` times (measured 8s at
    # sf0.1; this form is sub-second). Pure integer exprs, codegen.
    # Tokens are script-aware (CJK chars hash individually); a document
    # with ZERO tokens gets signature 0, mirrored in the oracle (the
    # all-zero majority vote would otherwise set every bit).
    sig = F.expr(
        f"element_at(transform(array({tokens_sql()}), tk -> "
        "element_at(transform(array(named_struct("
        "  'hs', transform(tk, "
        "        w -> cast(conv(substring(md5(w), 1, 4), 16, 10) as bigint)),"
        "  'n', size(tk))), s -> "
        "element_at(transform(array(named_struct("
        "    'cnts', aggregate(s.hs, "
        f"             array_repeat(0, {bits}), "
        "              (acc, h) -> transform(acc, (c, i) -> "
        "                c + cast((shiftright(h, i) & 1) as int))),"
        "    'n', s.n)), t -> "
        "  IF(t.n = 0, cast(0 as bigint), "
        f"  aggregate(sequence(0, {bits - 1}), cast(0 as bigint), "
        "             (acc, b) -> acc + IF(element_at(t.cnts, b + 1) * 2 >= t.n, "
        "                                  shiftleft(cast(1 as bigint), b), "
        "                                  cast(0 as bigint))))"
        "), 1)), 1)), 1)"
    )
    return df.withColumn("simhash", sig)


def ngram_jaccard_pairs(df: DataFrame, sample_ids, k: int = SHINGLE_K
                        ) -> DataFrame:
    """Exact n-gram Jaccard for a small probe set vs the corpus: probe side
    is broadcast (tiny), corpus side streams — no full cross join."""
    sh = df.withColumn("shingles",
                       F.array_distinct(_word_shingles(k=k)))
    probe = sh.where(F.col("doc_id").isin(list(sample_ids))).select(
        F.col("doc_id").alias("probe_id"),
        F.col("shingles").alias("probe_shingles"))
    pairs = sh.crossJoin(F.broadcast(probe)).where(
        F.col("doc_id") != F.col("probe_id"))
    inter = F.size(F.array_intersect("shingles", "probe_shingles"))
    union = F.size(F.array_union("shingles", "probe_shingles"))
    return pairs.select(
        "probe_id", "doc_id",
        F.round(inter / union, 6).alias("jaccard"))


def band_bucket_stats(df: DataFrame, bands: int = LSH_BANDS,
                      rows: int = LSH_ROWS) -> DataFrame:
    """Per-band LSH bucket-size distribution — the DATA-DRIVEN sizing
    signal behind the `max_bucket` cap and the banding shuffle budget.

    MAX_BUCKET=256 is a safety constant chosen far above any organic
    bucket; this operator measures what the organic buckets actually
    look like on a given corpus, per band: how many docs index, how
    many buckets they hash into, how many buckets would expand pairs
    (size > 1), the largest bucket, and the exact candidate-pair count
    Σ n·(n−1)/2 the expansion stage will emit. Feed it a
    deterministic_sample slice to budget a 100 TB run before launching
    it; `suggest_bucket_cap` turns the answer into a cap.

    Scale shape: the signature-only projection (no bottom-k sketch —
    stats never verify pairs), one shuffle of bare (band, band_hash)
    keys, then a `bands`-row rollup with map-side partials. Strictly
    cheaper than any dedup query it budgets for.

    Oracle: the `band_bucket_stats` registry row mirrors the k-perm
    signature + banding CTEs in DuckDB and the same two aggregates."""
    s = with_minhash_signature(
        df.where(F.col("text").rlike(f"[^{WS_RANGES}]")),
        n_hashes=bands * rows)
    banded = s.select(F.explode(F.expr(
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        f"  'band', b,"
        f"  'band_hash', md5(concat_ws('|', slice(minhash_sig, "
        f"                b * {rows} + 1, {rows})))))"
    )).alias("bk")).select("bk.band", "bk.band_hash")
    buckets = banded.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("n"))
    return (buckets.groupBy("band").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("n") > 1).cast("long")).alias("n_colliding_buckets"),
        F.max("n").alias("max_bucket"),
        # double, not bigint: a degenerate shared-template bucket past
        # ~3e9 rows overflows n*(n-1) in int64 and ANSI mode would
        # crash the budgeting query on exactly the corpus it is meant
        # to budget. Exact below 2^53 pairs, approximate beyond — a
        # sizing signal, not an invariant.
        F.sum(F.expr("cast(n as double) * (n - 1) / 2"))
         .alias("candidate_pairs")))


def suggest_bucket_cap(df: DataFrame, bands: int = LSH_BANDS,
                       rows: int = LSH_ROWS, margin: int = 8,
                       floor: int = 64) -> int:
    """Derive the `max_bucket` cap from the corpus instead of a
    constant: the next power of two >= margin x the largest organic
    bucket (any band), never below `floor`.

    The cap must sit ABOVE every organic bucket (a cap that bites on
    real buckets silently costs recall — the observed-drop metric would
    show it, but the point of the cap is to bound ADVERSARIAL buckets
    only) and low enough that a degenerate bucket cannot OOM a reducer;
    margin x organic-max is the standard compromise. Runs one
    band_bucket_stats pass (drive it on a deterministic_sample for a
    pre-flight budget at full scale); the collect is a `bands`-row
    control-plane scalar, not data-plane traffic."""
    stats = band_bucket_stats(df, bands=bands, rows=rows) \
        .agg(F.max("max_bucket")).first()
    biggest = int(stats[0] or 1)
    cap = max(floor, margin * biggest)
    return 1 << (cap - 1).bit_length()


def corpus_overlap(docs_a: DataFrame, docs_b: DataFrame,
                   jaccard_min: float = 0.5,
                   bands: int = LSH_BANDS, rows: int = LSH_ROWS,
                   max_bucket: int = MAX_BUCKET) -> DataFrame:
    """BIG-vs-BIG fuzzy corpus overlap: for every doc of ``docs_a``, how
    many ``docs_b`` docs it near-duplicates and the best sketch-Jaccard
    — "how much of this crawl is already in the training set", measured
    before deciding to ingest it.

    This is the two-big-corpora member of the family: eval-sized B goes
    through sketch_contamination (B broadcasts, A never shuffles);
    append-only ingestion goes through SketchIndex (B is the persisted
    index). Here BOTH sides are corpus-scale, so both shuffle ONCE on
    their banded keys into a shuffle-hash equi join — never a broadcast,
    never a cross join. The B side is capped per (band, band_hash)
    bucket (deterministic min-doc_id prefix, same discipline as
    _cap_bucket_items) so a degenerate shared-boilerplate bucket bounds
    the join's per-key fanout at max_bucket; multi-band duplicate hits
    are absorbed by the per-doc count_distinct/max aggregate, so no
    first-band filter and no pair-dedup exchange is needed.

    Returns (doc_id, n_b_matches, max_jaccard), one row per A doc with
    >= 1 match clearing ``jaccard_min``.

    Oracle: the `corpus_overlap` registry row mirrors the banding and
    the bottom-k estimate CTE-for-CTE over a planted mutated copy."""
    from pyspark.sql import Window

    from .sketch_index import banded_sketch_rows
    a = banded_sketch_rows(docs_a, bands=bands, rows=rows).select(
        "doc_id", "minhash_sketch", "band", "band_hash")
    b = banded_sketch_rows(docs_b, bands=bands, rows=rows).select(
        F.col("doc_id").alias("b_id"),
        F.col("minhash_sketch").alias("b_sketch"),
        "band", "band_hash")
    w = Window.partitionBy("band", "band_hash").orderBy("b_id")
    b = (b.withColumn("_rn", F.row_number().over(w))
         .where(F.col("_rn") <= max_bucket).drop("_rn"))
    inter = F.size(F.array_intersect("minhash_sketch", "b_sketch"))
    union = F.size(F.array_union("minhash_sketch", "b_sketch"))
    cand = (a.join(b, ["band", "band_hash"])
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= jaccard_min))
    return (cand.groupBy("doc_id")
            .agg(F.count_distinct("b_id").alias("n_b_matches"),
                 F.max("jaccard").alias("max_jaccard")))


def novel_docs(docs_a: DataFrame, docs_b: DataFrame,
               jaccard_min: float = 0.5,
               bands: int = LSH_BANDS, rows: int = LSH_ROWS,
               max_bucket: int = MAX_BUCKET) -> DataFrame:
    """``docs_a`` minus everything fuzzy-present in ``docs_b`` — the
    ingest-the-new-crawl filter (corpus_overlap hits, anti-joined)."""
    hits = corpus_overlap(docs_a, docs_b, jaccard_min=jaccard_min,
                          bands=bands, rows=rows, max_bucket=max_bucket)
    return docs_a.join(hits.select("doc_id"), "doc_id", "left_anti")


def dedup_weights(docs: DataFrame, pairs: DataFrame,
                  max_iter: int = 30) -> DataFrame:
    """Soft deduplication (SoftDeDup, She et al. 2024: reweight, don't
    delete): every document survives, but each near-dup family of size
    n contributes weight 1/n per member — a family sums to one
    document's worth of expected sampling mass, singletons keep 1.0.

    `pairs` is any canonical (doc_a < doc_b) near-dup pair stream
    (banded LSH, sketch index, embedding LSH); the transitive closure
    comes from duplicate_clusters_star (O(log^2 n) rounds, any family
    diameter). Output: (doc_id, cluster, weight) for EVERY input doc.

    Scale shape: the closure's own exchanges (audited at
    dup_clusters_star) plus one count per cluster id (map-side
    partials), one join of (cluster, n) onto the closure rows — all
    keyed on ids, never text — and one left join onto the doc_id
    projection of the corpus. Downstream samplers multiply this weight
    into their existing md5-uniform draw (stratified_sample /
    budget_sample), so "soft" costs no extra corpus pass."""
    clusters = duplicate_clusters_star(pairs, max_iter=max_iter)
    sizes = clusters.groupBy("cluster").agg(F.count(F.lit(1)).alias("_n"))
    weighted = (clusters.join(sizes, "cluster")
                .select("doc_id", "cluster",
                        F.round(F.lit(1.0) / F.col("_n"), 6)
                        .alias("weight")))
    return (docs.select("doc_id").join(weighted, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster", F.col("doc_id")).alias("cluster"),
                    F.coalesce("weight", F.lit(1.0)).alias("weight")))
