"""End-to-end training-data curation: quality gate -> near-dup cluster
removal -> token budget.

The composition every pretraining-data pipeline runs before a training
job: drop low-quality documents, collapse each near-duplicate cluster to
one representative, then report how many training tokens survive per
(lang, source) slice. Built entirely from this repo's operators —
with_quality_score (textquality), banded_near_dup_pairs +
duplicate_clusters (dedup), token_budget (textquality) — so its scale
shape is theirs: one quality scan (JVM exprs), one banded-LSH candidate
shuffle with capped buckets, label propagation over the pair table only
(near-dup pairs are a tiny fraction of the corpus), an anti-join of the
corpus against the loser set, and a low-cardinality rollup. No stage
touches more than (doc_id, sketch)-sized rows after the first scan.

Oracle: the `curation_budget` row in __spark_entry__.py computes the
same pipeline in DuckDB (quality CASEs, LSH CTEs, a recursive-CTE
transitive closure, anti-join, budget rollup) — a green row checks the
whole composition end-to-end, not just the parts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.tokenize import ws_trim, ws_trim_sql

from .dedup import banded_near_dup_pairs, duplicate_clusters
from .textquality import (
    repetition_stats,
    token_budget,
    with_quality_score,
    with_unigram_logprob,
)


def curate(docs: DataFrame, quality_min: float = 0.8,
           jaccard_min: float = 0.5) -> DataFrame:
    """docs(doc_id, text, lang, source) -> per-(lang, source) token
    budget of the quality-gated, near-dup-deduplicated corpus.

    Keep rule: a doc survives iff quality_score >= quality_min AND it is
    its near-dup cluster's representative (the cluster's min doc_id —
    deterministic, engine-independent). Singletons have no cluster row
    and survive by definition."""
    q = (with_quality_score(docs)
         .where(F.col("quality_score") >= quality_min)
         .select("doc_id", "text", "lang", "source"))
    pairs = banded_near_dup_pairs(q, jaccard_min=jaccard_min)
    losers = (duplicate_clusters(pairs)
              .where(F.col("doc_id") != F.col("cluster"))
              .select("doc_id"))
    kept = q.join(losers, "doc_id", "left_anti")
    return token_budget(kept)


def slice_logprob_floors(docs: DataFrame, k: float = 3.0) -> DataFrame:
    """Per-(lang, source) unigram-logprob floor: the Tukey lower fence
    q25 - k*(q75 - q25) of the slice's per-doc logprob distribution.

    The word-salad threshold is CORPUS-RELATIVE (ln-probs shift with
    corpus token count) and SLICE-RELATIVE (a CJK char-token slice has a
    different frequency profile than an English word-token slice, so one
    global constant misfires across languages). The fence is an
    unsupervised outlier rule: it assumes salad-like docs are a MINORITY
    of the slice (validated at <=20% contamination on the mixed-lang
    labeled corpus, CALIBRATION.md) sitting far below the natural mass
    relative to the natural IQR. Exact `percentile` (not approx) so the
    DuckDB oracle's quantile_cont matches bit-for-bit; floors round to
    4 decimals on both engines.

    Scale shape: the unigram pipeline's (doc_id, logprob) output — one
    row per doc — grouped by the low-cardinality slice key; the floors
    table is slice-sized and broadcasts. CAVEAT at extreme slice
    cardinality: exact percentile buffers every per-doc logprob of a
    slice in one aggregation buffer, so a 10^9+-doc slice should
    derive its floors from a deterministic_sample of the corpus (the
    fence is quantile-based and sample-stable) rather than the full
    scan; approx_percentile is NOT a drop-in because its sketch is not
    bit-identical across engines (the oracle rows pin exact
    percentile == DuckDB quantile_cont)."""
    lp = with_unigram_logprob(docs).select("doc_id", "unigram_logprob")
    slc = docs.select("doc_id", "lang", "source")
    return (lp.join(slc, "doc_id")
            .groupBy("lang", "source")
            .agg(F.expr("percentile(unigram_logprob, 0.25)").alias("q25"),
                 F.expr("percentile(unigram_logprob, 0.75)").alias("q75"))
            .select("lang", "source",
                    F.round(F.col("q25")
                            - k * (F.col("q75") - F.col("q25")),
                            4).alias("logprob_floor")))


def quality_gates(docs: DataFrame, quality_min: float = 0.8,
                  dup_line_max: float = 0.3, top_bigram_max: float = 0.2,
                  logprob_min=None) -> DataFrame:
    """Composite pretraining-quality gate: per doc, every gate signal
    plus the combined ``keep`` verdict.

      * quality_score >= quality_min      (length + stopword bands)
      * dup_line_frac <= dup_line_max     (boilerplate/chrome filter)
      * top_bigram_frac <= top_bigram_max (Gopher repetition filter)
      * unigram_logprob >= threshold      (word-salad filter; skipped
        when logprob_min is None — the threshold is corpus-relative.
        Pass a float to pin it globally, or "auto" to derive a
        PER-(lang, source) floor from the corpus's own quantiles
        (slice_logprob_floors); auto output adds lang/source/
        logprob_floor columns.)

    Calibrated on the labeled micro-corpus (sources/labeled.py):
    quality_score ALONE does not reject word salad (salad scores exactly
    0.8 — length band 1.0, stopword band floor 0.5) or repetition bombs;
    the composite rule separates all four classes; per-slice floors hold
    their precision/recall on the mixed-lang corpus (CALIBRATION.md).

    Scale shape: three audited component scans (with_quality_score,
    repetition_stats, with_unigram_logprob) joined on doc_id only; no
    stage carries text past its own scan. Zero-token docs have no
    unigram row — the left join + coalesce(-inf) fails them closed.
    In auto mode the unigram subtree appears twice in the plan (per-doc
    rows + the floors aggregate); a production run persists the floors
    table once per corpus instead."""
    q = with_quality_score(docs).select("doc_id", "quality_score")
    rep = repetition_stats(docs).select(
        "doc_id", "dup_line_frac", "top_bigram_frac")
    out = q.join(rep, "doc_id")
    keep = ((F.col("quality_score") >= quality_min)
            & (F.col("dup_line_frac") <= dup_line_max)
            & (F.col("top_bigram_frac") <= top_bigram_max))
    if logprob_min is not None:
        lp = with_unigram_logprob(docs).select("doc_id", "unigram_logprob")
        out = out.join(lp, "doc_id", "left")
        if logprob_min == "auto":
            floors = slice_logprob_floors(docs)
            slc = docs.select("doc_id", "lang", "source")
            # NULL-SAFE floors join: a NULL lang/source is a real slice
            # (the floors groupBy keeps NULL keys) — a plain equi-join
            # would leave every such doc floorless, silently disabling
            # the word-salad gate for exactly the lang-ID-failure docs
            # it should scrutinize (review finding).
            fl = floors.select(F.col("lang").alias("_fl_lang"),
                               F.col("source").alias("_fl_source"),
                               "logprob_floor")
            out = (out.join(slc, "doc_id")
                   .join(F.broadcast(fl),
                         F.col("lang").eqNullSafe(F.col("_fl_lang"))
                         & F.col("source").eqNullSafe(F.col("_fl_source")),
                         "left")
                   # restore the stable gate-signal column order
                   .select("doc_id", "quality_score", "dup_line_frac",
                           "top_bigram_frac", "unigram_logprob", "lang",
                           "source", "logprob_floor"))
            # Missing floor coalesces to +inf, not -inf: a slice has no
            # floor row only when it produced ZERO unigram rows (every
            # doc zero-token), and those docs must fail CLOSED as the
            # docstring promises — -inf >= -inf let them pass (review
            # finding).
            keep = keep & (F.coalesce("unigram_logprob", F.lit(-1e9))
                           >= F.coalesce("logprob_floor", F.lit(1e9)))
        else:
            keep = keep & (F.coalesce("unigram_logprob", F.lit(-1e9))
                           >= logprob_min)
    return out.withColumn("keep", keep)


def eval_ngrams(eval_docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-grams of an evaluation/benchmark set: the
    contamination blocklist. Eval sets are small (10^3-10^5 docs), so
    the result broadcasts."""
    from .dedup import _word_shingles
    return (eval_docs
            .select(F.explode(_word_shingles(n)).alias("ngram"))
            .distinct())


def contamination(docs: DataFrame, blocklist: DataFrame, n: int = 3
                  ) -> DataFrame:
    """Per-document benchmark-contamination hits: (doc_id, n_hits) for
    every doc sharing >= 1 word n-gram with the eval blocklist.

    The standard decontamination step before training (GPT-3 appendix C
    style, word-n-gram variant). Scale shape: the corpus streams ONCE —
    explode n-grams map-side, inner-join against the BROADCAST blocklist
    (no corpus shuffle on the join), then one groupBy(doc_id) with
    map-side partial counts. No stage carries more than
    (doc_id, ngram)-sized rows."""
    from .dedup import _word_shingles
    grams = docs.select("doc_id", F.explode(_word_shingles(n)).alias("ngram"))
    return (grams.join(F.broadcast(blocklist), "ngram")
            .groupBy("doc_id")
            .agg(F.count_distinct("ngram").alias("n_hits")))


def decontaminate(docs: DataFrame, eval_docs: DataFrame, n: int = 3
                  ) -> DataFrame:
    """Corpus minus every document contaminated by the eval set."""
    hits = contamination(docs, eval_ngrams(eval_docs, n), n)
    return docs.join(hits.select("doc_id"), "doc_id", "left_anti")


def line_dedup(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """Corpus-level exact line dedup (the CCNet / C4 / RefinedWeb
    boilerplate pass): a non-blank line occurring in >= min_docs
    DISTINCT documents is boilerplate (nav chrome, cookie banners,
    license headers); every occurrence is removed EXCEPT those in the
    smallest doc_id containing it, so the corpus keeps exactly one
    canonical source per hot line (the same first-seen-wins rule as
    exact_duplicates). Blank/whitespace-only lines are never hot —
    removing them would merge paragraphs.

    docs(doc_id, text, ...) -> (doc_id, text_dedup, n_lines,
    n_removed), one row per input doc; a doc whose every line is
    removed survives with text_dedup = ''.

    Scale shape: lines shuffle by a 32-byte md5 line key, never the
    line text past the map side of the hot aggregate — three
    exchanges total: (1) the hot-line aggregate (map-side partial
    count-distinct on the md5 key), (2) the corpus-lines-vs-hot join
    on the key (the hot set is the frequency tail — orders of
    magnitude smaller than the corpus, but at web scale still too
    big to broadcast, so AQE picks the strategy), (3) the per-doc
    rebuild groupBy(doc_id). Rebuild order rides a (pos, line)
    struct through array_sort — no window, no driver state.

    Oracle: the `line_dedup` row mirrors this in DuckDB (zipped
    unnest + string_agg ORDER BY pos)."""
    return strip_hot_lines(docs, hot_lines(docs, min_docs))


def _doc_lines(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.coalesce("text", F.lit("")), "\n"))
        .alias("pos", "line"))


def line_frequencies(docs: DataFrame) -> DataFrame:
    """Per-line corpus frequency table: (lk = md5(line),
    n_docs = distinct docs containing it, keep_doc_id = min doc_id)
    for every non-blank line. The map-side partial count-distinct on
    32-byte keys is the only aggregate; also the accretion unit of the
    incremental LineIndex (operators/line_index.py)."""
    return (_doc_lines(docs).withColumn("lk", F.md5("line"))
            .where(ws_trim(F.col("line")) != "")
            .groupBy("lk")
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.min("doc_id").alias("keep_doc_id")))


def hot_lines(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """The corpus-wide boilerplate-line table behind line_dedup:
    (lk = md5(line), keep_doc_id = min doc_id) for every non-blank
    line in >= min_docs distinct documents. Computed ONCE per corpus
    and reused — the checkpointed curation CLI persists it and strips
    per bucket, so the aggregate is not re-run per partition."""
    return (line_frequencies(docs)
            .where(F.col("n_docs") >= min_docs)
            .select("lk", "keep_doc_id"))


def strip_hot_lines(docs: DataFrame, hot: DataFrame) -> DataFrame:
    """Apply a hot_lines table: remove every hot-line occurrence
    outside its canonical doc, rebuild text in original order.

    One aggregate does both the rebuild and the bookkeeping:
    collect_list skips NULLs, so collecting `when(keep, struct)` ships
    only the surviving lines through the rebuild shuffle (removed
    boilerplate never leaves the map side) while count(*) still sees
    every line — no separate per-doc totals aggregate, no totals join."""
    flagged = (_doc_lines(docs).withColumn("lk", F.md5("line"))
               .join(hot, "lk", "left"))
    keep = (F.col("keep_doc_id").isNull()
            | (F.col("doc_id") == F.col("keep_doc_id")))
    agg = (flagged.groupBy("doc_id")
           .agg(F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "line"))))
                .alias("kept_ls"),
                F.count(F.lit(1)).alias("n_lines")))
    return agg.select(
        "doc_id",
        F.array_join(F.transform("kept_ls", lambda s: s["line"]), "\n")
        .alias("text_dedup"),
        "n_lines",
        (F.col("n_lines") - F.size("kept_ls")).alias("n_removed"))


def strip_repeated_lines(docs: DataFrame) -> DataFrame:
    """Intra-document exact line dedup — the within-doc repetition pass
    (RefinedWeb's line-level "remove repeated content" rule), the
    complement of line_dedup's CORPUS-level boilerplate pass: a
    non-blank line that already appeared EARLIER IN THE SAME DOCUMENT
    is removed, the first occurrence stays, and blank/whitespace-only
    lines always stay (they are paragraph structure, and
    first-occurrence-wins would merge every paragraph into the first).

    docs(doc_id, text, ...) -> (doc_id, text_dedup, n_lines,
    n_removed), one row per input doc — same contract as
    strip_hot_lines so the two passes compose.

    Scale shape: map-side ONLY — no shuffle, no per-doc state outside
    the row. The keep rule is `first index of this line == own index`,
    a pure HOF over the split array, bound ONCE via the array+transform
    struct idiom (HOFs re-evaluate per reference otherwise). Per-task
    compute is O(n_lines * cost(array_position)) = O(n_lines^2) string
    compares on a pathological doc — for real documents (10^2..10^4
    lines) that is microseconds; a corpus of adversarial
    million-duplicate-line docs should run line_dedup first, whose
    relational shape bounds per-task work by partition size.

    Oracle: the `intra_doc_line_dedup` registry row mirrors the HOF
    with DuckDB's indexed list_filter + list_position."""
    s = F.expr(
        "element_at(transform(array(split(coalesce(text, ''), '\\n')), "
        "ls -> named_struct("
        f"  'kept', filter(ls, (l, i) -> {ws_trim_sql('l')} = '' "
        "                 OR array_position(ls, l) = i + 1), "
        "  'n', size(ls))), 1)")
    # long, not int: strip_hot_lines emits count()-typed longs for the
    # same columns, and the DuckDB oracle's len() is BIGINT — keep the
    # two passes schema-compatible so they compose and compare.
    return (docs.withColumn("_rl", s)
            .select("doc_id",
                    F.array_join(F.col("_rl.kept"), "\n")
                    .alias("text_dedup"),
                    F.col("_rl.n").cast("long").alias("n_lines"),
                    (F.col("_rl.n") - F.size(F.col("_rl.kept")))
                    .cast("long").alias("n_removed")))


def deterministic_sample(docs: DataFrame, fraction: float = 0.25,
                         key: str = "doc_id") -> DataFrame:
    """Reproducible corpus sampling: keep a row iff the first two hex
    chars of md5(key) fall below floor(fraction * 256).

    Unlike df.sample(), the decision is a pure function of the row key —
    identical across runs, engines (DuckDB computes the same md5), and
    cluster layouts, which is what eval-set carving and A/B corpus
    splits need at 10^12 docs. Map-side only: no shuffle, no RNG state.

    Granularity is 1/256 (two hex chars): fraction rounds DOWN to
    floor(fraction * 256)/256, so any fraction < 1/256 keeps nothing.
    fraction >= 1.0 returns the input unchanged (the naive hex compare
    would break there: format(256,'02x') is the 3-char '100', and
    'ff' > '100' lexicographically keeps only ~1/16 of rows)."""
    if fraction <= 0:
        raise ValueError(f"fraction must be positive, got {fraction}")
    if fraction >= 1.0:
        return docs
    cut = format(int(fraction * 256), "02x")
    return docs.where(
        F.substring(F.md5(F.col(key).cast("string")), 1, 2) < F.lit(cut))


def _window_fp_sql(w: int) -> str:
    """Spark SQL text: array<struct<s,fp,n_tokens>> of the w-token
    sliding-window fingerprints of ``text``, 1-based start position.

    The tokens array is bound once via the array+transform idiom
    (dedup._word_shingles_sql discipline — a direct second reference
    would re-run the regex tokenize per field). Short docs (1..w-1
    tokens) yield ONE window holding the whole doc, mirroring the
    shingle builder; zero-token docs yield one NULL-fp sentinel row so
    explode keeps the doc (count(fp) still sees 0 windows)."""
    from ..functions.tokenize import tokens_sql
    # NULL text folds to '' (zero tokens) BEFORE tokenize — without
    # this, size(NULL tokens) = -1 leaks into n_tokens via greatest()
    # null-skipping and the doc reports -1 tokens.
    toks = tokens_sql("coalesce(text, '')")
    return (
        f"element_at(transform(array({toks}), toks -> "
        "  CASE WHEN size(toks) = 0 THEN "
        "    array(named_struct('s', 0, 'fp', CAST(NULL AS STRING), "
        "                       'n_tokens', 0)) "
        f"  ELSE transform(sequence(1, greatest(size(toks) - {w - 1}, 1)), "
        f"    i -> named_struct('s', i, "
        f"      'fp', md5(array_join(slice(toks, i, {w}), ' ')), "
        "      'n_tokens', size(toks))) END"
        "), 1)"
    )


def dup_span_stats(docs: DataFrame, w: int = 50, min_docs: int = 2
                   ) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the fraction of its tokens covered by a w-token
    window whose fingerprint also occurs in >= min_docs DISTINCT
    documents. The per-doc filter form of ExactSubstr — corpora drop or
    down-weight docs whose dup_span_frac exceeds a threshold, without
    materialising a corpus-wide suffix array.

    docs(doc_id, text, ...) -> (doc_id, n_tokens, n_windows,
    n_dup_windows, dup_span_frac), one row per input doc (zero-token
    docs included with frac 0.0). Coverage is EXACT under window
    overlap: each hot window expands to its token index range map-side
    (<= w ints per hot row) and the per-doc distinct-index count is
    taken after flatten — two hot windows sharing tokens never double
    count.

    Scale shape (the line_dedup discipline): windows shuffle as 32-byte
    md5 fingerprints, never text. Exchanges: the hot-fingerprint
    exact-distinct aggregate (fp,doc_id then fp — partial counts only),
    the windows-vs-hot join on fp (the hot set is the cross-doc
    frequency tail; AQE picks broadcast vs shuffle), and the final
    groupBy(doc_id) whose rows carry at most one <= w-int range per hot
    window. Within-doc repetition is deliberately out of scope here
    (repetition_stats owns it); min_docs counts distinct documents.

    Oracle: the `dup_span_frac` row mirrors this in DuckDB (zipped
    unnest for (s, fp), generate_series range expansion, COUNT(DISTINCT
    p) coverage)."""
    return dup_span_stats_against(docs, hot_span_fps(docs, w, min_docs), w)


def _span_windows(docs: DataFrame, w: int) -> DataFrame:
    return (docs
            .select("doc_id", F.explode(F.expr(_window_fp_sql(w))).alias("wn"))
            .select("doc_id", F.col("wn.s").alias("s"),
                    F.col("wn.fp").alias("fp"),
                    F.col("wn.n_tokens").alias("n_tokens")))


def hot_span_fps(docs: DataFrame, w: int = 50, min_docs: int = 2
                 ) -> DataFrame:
    """The corpus-wide duplicated-window table behind dup_span_stats:
    one (fp) row per w-token window fingerprint occurring in >= min_docs
    distinct documents. Computed ONCE per corpus and reusable — the
    checkpointed curation CLI persists it under <output>/_hot_spans and
    scores each bucket against it (the hot_lines discipline). Reuses
    span_frequencies' aggregate (the line_frequencies -> hot_lines
    pattern) so the window-count definition lives in one place."""
    return (span_frequencies(docs, w)
            .where(F.col("n_docs") >= min_docs)
            .select("fp"))


def dup_span_stats_against(docs: DataFrame, hot: DataFrame, w: int = 50
                           ) -> DataFrame:
    """Score docs against a (possibly persisted) hot_span_fps table —
    same output contract as dup_span_stats. Coverage semantics are
    per-document, so scoring a SUBSET of the corpus against the full
    corpus's hot table is exact, which is what lets the curation CLI
    strip per bucket without re-running the corpus aggregate."""
    win = _span_windows(docs, w)
    joined = win.join(hot.withColumn("hot", F.lit(True)), "fp", "left")
    cov = F.when(F.col("hot"),
                 F.sequence(F.col("s"),
                            F.least(F.col("s") + F.lit(w - 1),
                                    F.col("n_tokens"))))
    agg = (joined
           .select("doc_id", "n_tokens", "fp", "hot", cov.alias("cov"))
           .groupBy("doc_id")
           .agg(F.max("n_tokens").cast("long").alias("n_tokens"),
                F.count("fp").alias("n_windows"),
                F.count(F.when(F.col("hot"), F.lit(1)))
                 .alias("n_dup_windows"),
                F.size(F.array_distinct(F.flatten(F.collect_list("cov"))))
                 .cast("long").alias("covered")))
    return agg.select(
        "doc_id", "n_tokens", "n_windows", "n_dup_windows",
        F.round(F.col("covered") / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
         .alias("dup_span_frac"))


def _hex_cut(frac_col):
    """Seeded-cut literal for fraction `frac_col`: keep a row iff the
    first 8 hex chars of its md5 draw compare below
    floor(frac * 2^32) in hex. 2^-32 granularity — the hash_split
    discipline; the earlier 4-hex (2^-16) cut rounded any fraction
    below 1/65536 to ZERO, silently emptying exactly the
    web-scale slices an absolute token budget exists to thin (review
    finding). Shared by temperature_rebalance and budget_sample so the
    granularity can never drift between them."""
    return F.lower(F.lpad(F.hex(
        F.floor(frac_col * F.lit(4294967296.0)).cast("bigint")), 8, "0"))


def _nullsafe_slice_join(docs: DataFrame, fr: DataFrame, keys) -> tuple:
    """LEFT-side docs joined to per-slice table `fr` with NULL-SAFE key
    equality: a NULL lang/source is a real slice (groupBy keeps NULL
    keys), so a plain equi-join silently drops or un-floors every such
    doc. Returns (joined_df, fr_alias_cols) with fr's key columns
    aliased _fr_<key> so callers can drop them."""
    fr2 = fr.select(*[F.col(k).alias(f"_fr_{k}") for k in keys],
                    *[c for c in fr.columns if c not in keys])
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"_fr_{k}"))
        cond = c if cond is None else (cond & c)
    return docs.join(F.broadcast(fr2), cond), [f"_fr_{k}" for k in keys]


def temperature_rebalance(docs: DataFrame, tau: float = 2.0,
                          keys=("lang", "source"), id_col: str = "doc_id"
                          ) -> DataFrame:
    """Multinomial temperature rebalancing of corpus slices (the
    XLM-R / mT5 mixture rule): slice s with doc share p_s is kept with
    probability proportional to p_s^(1/tau), so tau > 1 flattens the
    mixture toward small slices. Downsample-only: per-slice keep
    fractions are w_s = p_s^(1/tau - 1) normalized by max_s w_s, so the
    rarest slice keeps everything and larger slices thin out
    deterministically — no replication, no RNG.

    Keep rule: first 8 hex chars of md5(id) < floor(frac * 2^32) in
    hex (2^-32 granularity via the shared _hex_cut; frac >= 1.0 keeps
    all — same discipline as deterministic_sample). A pure function of
    (id, slice counts): identical across runs, engines, and cluster
    layouts. ``tau`` must be positive (tau -> inf approaches uniform;
    tau < 1 sharpens toward big slices, still downsample-only).

    Engine parity: tau == 2.0 evaluates w_s as 1/sqrt(p_s) — sqrt,
    division and multiplication are exactly rounded in IEEE 754, so the
    DuckDB oracle (`rebalance_sample`) computes bit-identical cuts.
    Other tau go through pow(), which libms round differently in the
    last ulp; cuts may flip on exact boundaries, so only tau=2.0 is on
    the correctness surface.

    Scale shape: one count aggregate over the corpus (key + partial
    count rows), two single-row reductions, then one BROADCAST join of
    the per-slice fraction table (slice cardinality, not corpus) back
    onto the scan and a map-side filter. The corpus is read twice
    (counts must be global before filtering) and never shuffled.

    Returns the kept rows with a ``keep_frac`` audit column."""
    if tau <= 0:
        raise ValueError(f"temperature_rebalance: tau must be positive "
                         f"(got {tau})")
    keys = list(keys)
    counts = docs.groupBy(*keys).agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("n_total"))
    p = F.col("n_docs") / F.col("n_total")
    if tau == 2.0:
        w = F.lit(1.0) / F.sqrt(p)
    else:
        w = F.pow(p, 1.0 / tau - 1.0)
    weights = (counts.crossJoin(F.broadcast(total))
               .select(*keys, w.alias("w")))
    wmax = weights.agg(F.max("w").alias("w_max"))
    fracs = (weights.crossJoin(F.broadcast(wmax))
             .select(*keys, (F.col("w") / F.col("w_max")).alias("keep_frac")))
    keep = ((F.col("keep_frac") >= 1.0)
            | (F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
               < _hex_cut(F.col("keep_frac"))))
    joined, fr_cols = _nullsafe_slice_join(docs, fracs, keys)
    return (joined.where(keep)
            .select(*docs.columns, "keep_frac"))


def span_frequencies(docs: DataFrame, w: int = 50) -> DataFrame:
    """Per-window corpus frequency table: (fp = md5 of the w-token
    window, n_docs = distinct docs containing it). The accretion unit
    of the incremental SpanIndex (operators/span_index.py), mirroring
    line_frequencies for the line index."""
    return (_span_windows(docs, w)
            .where(F.col("fp").isNotNull())
            .groupBy("fp")
            .agg(F.count_distinct("doc_id").alias("n_docs")))


def pack_sequences(docs: DataFrame, seq_len: int = 2048,
                   bucket_width: int = 100_000,
                   order_col: str = "doc_id") -> DataFrame:
    """Concatenate-and-split training-sequence packing (the GPT-style
    pretraining layout): documents are laid out in ascending
    ``order_col`` order (doc_id by default; pass epoch_shuffle's
    ``shuffle_pos`` to pack a shuffled epoch — it is dense 0..n-1, so
    the same bucketing math holds) and the token stream is sliced into
    seq_len-token training sequences. Per doc: its global
    ``start_offset`` in the stream, the ``chunk_id`` its first token
    lands in, the in-chunk position ``chunk_pos``, and ``n_chunks`` it
    spans (0 for zero-token docs — they occupy no stream space).

    The global running sum is the textbook DISTRIBUTED two-pass prefix
    sum — Spark's window-without-partition would funnel the whole
    corpus through ONE task, so instead:

      1. bucket docs by floor(doc_id / bucket_width) — order-preserving,
         so bucket b's offset is the sum of all earlier buckets,
      2. per-bucket totals (one tiny aggregate; rows = corpus /
         bucket_width), cumulated with a window over that BUCKET-COUNT-
         sized table (single partition of a tiny table — the classic
         carry step), broadcast back,
      3. within-bucket running sum under the hash partition on bucket
         (one exchange + per-bucket sort, bounded by bucket_width rows
         per task).

    Sizing: per-task work is max(bucket_width, n/bucket_width) rows, so
    bucket_width ~ sqrt(corpus rows) balances the carry table against
    the bucket sort — 10^6 for a 10^12-doc corpus (both sides 10^6
    rows). The 100k default suits 10^9-10^11 rows; it is a DATA-sized
    knob, independent of cluster size.

    Token counts come from the shared script-aware tokenizer, so
    packing, budgets and dedup all agree on what a token is. Exact in
    64-bit: counts are integers, no floating point anywhere. Oracle:
    the `pack_sequences` row mirrors it with one SUM() OVER (ORDER BY
    doc_id) in DuckDB — same math, single-node shape."""
    from ..functions.tokenize import tokens_sql
    toks = tokens_sql("coalesce(text, '')")
    cols = ["doc_id"] + ([order_col] if order_col != "doc_id" else [])
    base = docs.select(
        *cols, F.expr(f"size({toks})").cast("long").alias("n_tokens"))
    return _pack_stream(base, seq_len, bucket_width, order_col)


def _pack_stream(base: DataFrame, seq_len: int, bucket_width: int,
                 order_col: str, extra_cols: tuple = ()) -> DataFrame:
    """The shared packing core: given (doc_id[, order_col], n_tokens
    [, extra_cols...]), add the distributed two-pass prefix sum and the
    chunk math (see pack_sequences for the full scale story).
    ``extra_cols`` are carried through to the output unchanged."""
    from pyspark.sql import Window
    base = base.withColumn(
        "_bk", F.floor(F.col(order_col) / F.lit(bucket_width)))
    totals = base.groupBy("_bk").agg(F.sum("n_tokens").alias("_bk_total"))
    carry = Window.orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_bk", F.coalesce(F.sum("_bk_total").over(carry), F.lit(0))
                .alias("_bk_offset"))
    within = (Window.partitionBy("_bk").orderBy(order_col)
              .rowsBetween(Window.unboundedPreceding, -1))
    start = (F.coalesce(F.sum("n_tokens").over(within), F.lit(0))
             + F.col("_bk_offset"))
    out = (base.join(F.broadcast(offsets), "_bk")
           .select("doc_id", *extra_cols, "n_tokens",
                   start.alias("start_offset")))
    # integer `div`, not floor(/): the double division inside floor()
    # loses exactness past 2^53 stream tokens (a 10^12-doc corpus is
    # within an order of magnitude of that)
    pos = F.expr(f"start_offset % {seq_len}")
    return out.select(
        "doc_id", *extra_cols, "n_tokens", "start_offset",
        F.expr(f"start_offset div {seq_len}").alias("chunk_id"),
        pos.alias("chunk_pos"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
         .otherwise(F.expr(
             f"(start_offset % {seq_len} + n_tokens - 1) div {seq_len}") + 1)
         .cast("long").alias("n_chunks"))


def pack_interleaved(docs: DataFrame, seq_len: int = 2048,
                     media_tokens: int = 576,
                     bucket_width: int = 100_000,
                     order_col: str = "doc_id") -> DataFrame:
    """Multimodal training-sequence packing over the INTERLEAVED span
    table (doc_id, spans: array<struct<kind,text,media_ref,offset>>) —
    the bridge between the extraction side (ordered text+media span
    sequences) and the training-layout side (pack_sequences).

    A multimodal LM consumes each media span as a FIXED placeholder
    budget (``media_tokens``; e.g. 576 = a 24x24 vision-patch grid),
    so a document's stream length is

        sum(tokens(text spans)) + media_tokens * n_media_spans

    and the packing math is pack_sequences' exactly, over that total.
    Text spans tokenize INDEPENDENTLY (the model inserts media
    boundaries between spans, so no cross-span token merging — also
    what keeps the count distributable: one aggregate() HOF per row,
    never a concat of the whole document).

    Output adds (n_text_tokens, n_media) next to the pack_sequences
    columns. Scale shape: the span aggregate is map-side (spans are
    already per-row); then the shared distributed two-pass prefix sum
    (see pack_sequences — bucket totals, tiny carry window, bounded
    within-bucket sort). Zero-span and all-media docs pack like any
    other; a doc with 0 total tokens occupies no stream space
    (n_chunks = 0, the pack_sequences contract).

    Span-kind contract: a NULL ``kind`` matches NEITHER filter (NULL
    comparisons), contributing zero stream length — correct for the
    extraction pipeline's explode_outer placeholder spans (kind NULL,
    no content, emitted for zero-span docs), but it means a MALFORMED
    span carrying real text under a NULL kind is silently unbudgeted;
    upstream owns kind validity."""
    from ..functions.tokenize import tokens_sql
    span_toks = tokens_sql("coalesce(s.text, '')")
    cols = ["doc_id"] + ([order_col] if order_col != "doc_id" else [])
    base = docs.select(
        *cols,
        F.coalesce(
            F.expr(f"aggregate(filter(spans, s -> s.kind = 'text'), 0L, "
                   f"(acc, s) -> acc + size({span_toks}))"),
            F.lit(0)).cast("long").alias("n_text_tokens"),       # NULL spans
        F.coalesce(
            F.expr("size(filter(spans, s -> s.kind <> 'text'))"),
            F.lit(0)).cast("long").alias("n_media"))
    base = base.withColumn(
        "n_tokens",
        F.col("n_text_tokens") + F.lit(media_tokens) * F.col("n_media"))
    return _pack_stream(base, seq_len, bucket_width, order_col,
                        extra_cols=("n_text_tokens", "n_media"))


def epoch_shuffle(docs: DataFrame, seed: int = 0,
                  prefix_len: int = 3) -> DataFrame:
    """Deterministic global training-order permutation (the per-epoch
    shuffle every pretraining job runs before packing): each doc gets a
    ``shuffle_pos`` in 0..n-1 from the seeded hash order
    md5(seed ':' doc_id), ties broken by doc_id. Changing ``seed``
    yields an independent permutation; same seed is bit-stable across
    runs and engines (md5 + ASCII hex ordering agree everywhere).

    A global ROW_NUMBER would funnel the corpus through one task, so
    this reuses the pack_sequences two-pass shape on the HASH-ORDERED
    key space: bucket by the first ``prefix_len`` hex chars of the key
    (order-preserving prefix, 16^prefix_len buckets), per-bucket counts
    cumulated with a window over that tiny bucket table (the carry
    step), broadcast back, then within-bucket ROW_NUMBER under the hash
    partition — per-task work bounded by corpus / 16^prefix_len rows.
    prefix_len sizes the bucket space to the DATA (3 → 4096 buckets;
    10^12 docs → ~2.4e8 rows/bucket at 5 → 10^6 buckets), independent
    of cluster size.

    Oracle: the `epoch_shuffle` registry row mirrors it with one
    ROW_NUMBER() OVER (ORDER BY md5(...), doc_id) in DuckDB — same
    permutation, single-node shape."""
    from pyspark.sql import Window
    key = F.md5(F.concat_ws(
        ":", F.lit(str(seed)), F.col("doc_id").cast("string")))
    base = (docs.select("doc_id", key.alias("_key"))
            .select("doc_id", "_key",
                    F.substring("_key", 1, prefix_len).alias("_bk")))
    counts = base.groupBy("_bk").agg(F.count("*").alias("_n"))
    carry = Window.orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_bk",
        F.coalesce(F.sum("_n").over(carry), F.lit(0)).alias("_off"))
    within = Window.partitionBy("_bk").orderBy("_key", "doc_id")
    pos = F.row_number().over(within).cast("long") - 1 + F.col("_off")
    return (base.join(F.broadcast(offsets), "_bk")
            .select("doc_id", pos.cast("long").alias("shuffle_pos")))


def sketch_contamination(docs: DataFrame, eval_docs: DataFrame,
                         jaccard_min: float = 0.5,
                         bands: int = 4, rows: int = 2) -> DataFrame:
    """Fuzzy benchmark contamination: MinHash-LSH match of every corpus
    doc against a (small) eval/benchmark set. The exact word-n-gram
    blocklist (`contamination`) misses paraphrased or lightly-edited
    leakage — a near-verbatim eval question with one word changed shares
    almost no 3-grams but almost all MinHash bands. This is the
    doc-level fuzzy complement, the same detector family the dedup path
    uses, pointed across corpora.

    docs x eval_docs -> (doc_id, n_evals_hit, max_jaccard), one row per
    corpus doc whose sketch-Jaccard against >= 1 eval doc clears
    ``jaccard_min``.

    Scale shape: the CORPUS NEVER SHUFFLES — eval sets are 10^3-10^5
    docs, so the eval side's banded sketch rows broadcast and the band
    join is a map-side broadcast-hash join; band-collision candidates
    (a tiny fraction of the corpus) flow into one groupBy(doc_id) with
    map-side partials. A pair colliding in several bands carries the
    same jaccard into the aggregate, so count_distinct/max absorb the
    multi-band duplicates — no first-band filter, no pair-dedup
    exchange. Both sides reuse banded_sketch_rows, so what counts as a
    token/shingle/band agrees with the whole dedup family.

    Oracle: the `sketch_contamination` registry row mirrors the banding
    and the bottom-k jaccard estimate CTE-for-CTE in DuckDB."""
    from .sketch_index import banded_sketch_rows
    ev = (banded_sketch_rows(eval_docs, bands=bands, rows=rows)
          .select(F.col("doc_id").alias("eval_id"),
                  F.col("minhash_sketch").alias("eval_sketch"),
                  "band", "band_hash"))
    corp = banded_sketch_rows(docs, bands=bands, rows=rows).select(
        "doc_id", "minhash_sketch", "band", "band_hash")
    inter = F.size(F.array_intersect("minhash_sketch", "eval_sketch"))
    union = F.size(F.array_union("minhash_sketch", "eval_sketch"))
    cand = (corp.join(F.broadcast(ev), ["band", "band_hash"])
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= jaccard_min))
    return (cand.groupBy("doc_id")
            .agg(F.count_distinct("eval_id").alias("n_evals_hit"),
                 F.max("jaccard").alias("max_jaccard")))


def decontaminate_fuzzy(docs: DataFrame, eval_docs: DataFrame,
                        jaccard_min: float = 0.5,
                        bands: int = 4, rows: int = 2) -> DataFrame:
    """Corpus minus every doc fuzzy-contaminated by the eval set
    (sketch_contamination hits, anti-joined)."""
    hits = sketch_contamination(docs, eval_docs, jaccard_min=jaccard_min,
                                bands=bands, rows=rows)
    return docs.join(hits.select("doc_id"), "doc_id", "left_anti")


BLOOM_M_BITS = 1 << 20   # bitmap-size FLOOR: 2^20 bits = 16 Ki longs
BLOOM_K = 4              # probes per key
BLOOM_BITS_PER_KEY = 16  # sizing rule: ~0.2% fp at k=4


def bloom_size(n_keys: int) -> int:
    """Bitmap bits for ``n_keys``: the next power of two covering
    BLOOM_BITS_PER_KEY x n_keys, floored at BLOOM_M_BITS. A fixed 2^20
    against a 10^8-key eval registry would saturate — every corpus row
    Bloom-positive, the confirm join degraded to the full anti-join
    the operator exists to avoid (output stays exact either way; this
    is the performance dial)."""
    m = BLOOM_M_BITS
    while m < BLOOM_BITS_PER_KEY * max(n_keys, 1):
        m <<= 1
    return m


def _bloom_positions(key, m_bits: int, k: int):
    """The k double-hash probe positions (Kirsch-Mitzenmacher 2006,
    "Less hashing, same performance") of a key column, as an
    array<bigint> of values in [0, m_bits).

    Two full-text hashes total: h1 = xxhash64(key) and the stride
    h2 = xxhash64(xxhash64(key)). Both ride into the probe loop through
    the single-element-struct idiom — a lambda that referenced h1/h2
    directly would re-inline (and re-hash the text) once PER PROBE,
    because Spark HOF lambdas re-evaluate captured outer expressions at
    every reference; lambda variables do not. Both hashes are reduced
    mod m BEFORE the i*stride multiply so no intermediate exceeds k*m —
    Spark 4 ANSI mode throws on bigint overflow, and correctness must
    not lean on wraparound anyway. The stride is forced odd: m is a
    power of two (asserted by callers), so an odd stride generates the
    full cycle and the k probes are pairwise distinct."""
    h1 = F.pmod(F.xxhash64(key), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(F.xxhash64(key)), F.lit(m_bits)) \
          .bitwiseOR(F.lit(1))
    return F.flatten(F.transform(
        F.array(F.struct(h1.alias("h1"), h2.alias("h2"))),
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.pmod(
                s["h1"] + i.cast("bigint") * s["h2"], F.lit(m_bits)))))


def bloom_bitmap(keys: DataFrame, key_col: str = "text",
                 m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K) -> list:
    """Dense Bloom bitmap (a Python list of m_bits/64 longs) over the
    non-null values of ``keys[key_col]``.

    Built relationally — explode the probe positions map-side, distinct
    them, bit_or per 64-bit word — so the eval set itself is never
    driver-materialized; the ONE driver collect is of at most m_bits/64
    (word, bits) rows, control-plane sized like the store's manifest
    reads. m_bits is the standard Bloom dial: ~16 bits/key gives ~0.2%
    false positives at k=4 (false positives only cost confirm-join
    traffic here — never a wrong answer, see bloom_decontaminate)."""
    assert m_bits >= 64 and m_bits & (m_bits - 1) == 0, \
        "m_bits must be a power of two >= 64"
    pos = (keys.where(F.col(key_col).isNotNull())
           .select(F.explode(
               _bloom_positions(F.col(key_col), m_bits, k)).alias("p"))
           .distinct())
    rows = (pos.select(F.shiftright("p", 6).alias("w"),
                       F.pmod("p", F.lit(64)).alias("b"))
            .groupBy("w")
            .agg(F.expr("bit_or(shiftleft(cast(1 as bigint), "
                        "cast(b as int)))").alias("bits"))
            .collect())
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def bloom_bitmap_df(keys: DataFrame, key_col: str = "text",
                    m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
                    ) -> DataFrame:
    """EXECUTOR-built Bloom bitmap: a ONE-ROW DataFrame whose `_bm`
    column is the dense array<bigint> of m_bits/64 words.

    Round-6 replacement for shipping bloom_bitmap()'s Python list as a
    plan literal: `F.lit(words)` builds one py4j/Catalyst expression
    node PER ELEMENT — measured 6.6 s of pure driver time at the 2^20
    default and effectively unbounded at the 2^26+ bits a 10^8-key
    eval registry needs — so the advertised scale path was closed at
    plan build. Here the words never leave the executors: the same
    relational (word, bits) aggregate is collect_list'ed into a map
    and densified with a transform over sequence(0, n-1), and the one
    row reaches the corpus as a single BroadcastExchange (~m_bits/8
    bytes once per executor, the same bytes the literal would have
    shipped inside every task binary). Probe with bloom_hit_col.

    An empty eval set yields one row of all-zero words (element_at on
    the empty map is NULL -> coalesce 0), so every probe misses —
    same contract as the list form."""
    assert m_bits >= 64 and m_bits & (m_bits - 1) == 0, \
        "m_bits must be a power of two >= 64"
    pos = (keys.where(F.col(key_col).isNotNull())
           .select(F.explode(
               _bloom_positions(F.col(key_col), m_bits, k)).alias("p"))
           .distinct())
    words = (pos.select(F.shiftright("p", 6).cast("int").alias("w"),
                        F.pmod("p", F.lit(64)).alias("b"))
             .groupBy("w")
             .agg(F.expr("bit_or(shiftleft(cast(1 as bigint), "
                         "cast(b as int)))").alias("bits")))
    n_words = m_bits // 64
    return (words.agg(F.map_from_arrays(
                F.collect_list("w"), F.collect_list("bits")).alias("m"))
            .select(F.expr(
                f"transform(sequence(0, {n_words - 1}), "
                "i -> coalesce(element_at(m, i), cast(0 as bigint)))")
                .alias("_bm")))


def bloom_hit_col(key, bm, m_bits: int, k: int = BLOOM_K):
    """bloom_hit against a bitmap COLUMN (the `_bm` array from
    bloom_bitmap_df, attached via one broadcast cross join) instead of
    a plan-literal list. Identical probe math; m_bits must match the
    bitmap's 64 * size(_bm)."""
    return F.forall(
        _bloom_positions(key, m_bits, k),
        lambda p: F.call_function(
            "shiftright",
            F.element_at(bm, F.shiftright(p, 6).cast("int") + F.lit(1)),
            F.pmod(p, F.lit(64)).cast("int"))
        .bitwiseAND(F.lit(1)) == F.lit(1))


def bloom_eval_texts(eval_docs: DataFrame,
                     text_col: str = "text") -> DataFrame:
    """The canonical eval-text frame every bloom caller shares: the
    distinct non-null texts as one `_etext` column. Centralized so the
    library op, the curation CLI, and the streaming twin can never
    diverge on null/normalization semantics."""
    return (eval_docs.where(F.col(text_col).isNotNull())
            .select(F.col(text_col).alias("_etext")).distinct())


def bloom_hit(key, words: list, k: int = BLOOM_K):
    """Boolean column: all k probe positions of ``key`` are set in the
    bitmap. The bitmap ships as ONE array<bigint> literal inside the
    plan (the task binary), so membership is a pure map-side expression
    — zero joins, zero shuffles, zero per-row Python."""
    m_bits = len(words) * 64
    bm = F.lit(words)
    return F.forall(
        _bloom_positions(key, m_bits, k),
        # call_function: the F.shiftright wrapper only takes a Python
        # int shift amount; the SQL function takes a column.
        lambda p: F.call_function(
            "shiftright",
            F.element_at(bm, F.shiftright(p, 6).cast("int") + F.lit(1)),
            F.pmod(p, F.lit(64)).cast("int"))
        .bitwiseAND(F.lit(1)) == F.lit(1))


def bloom_decontaminate(docs: DataFrame, eval_docs: DataFrame,
                        text_col: str = "text",
                        m_bits: int = None,
                        k: int = BLOOM_K) -> DataFrame:
    """Exact whole-text decontamination when the eval set is too big to
    broadcast: (doc_id, keep) with keep = false iff the document's text
    appears verbatim in ``eval_docs``.

    `contamination`/`decontaminate` broadcast the eval n-gram set —
    right for 10^3-10^5 eval docs, impossible for held-out-set
    registries in the 10^8 range (3+ GB of broadcast n-grams). This is
    the production alternative: a Bloom filter over the eval texts.

    Scale shape, in order:
      1. bitmap build — one pass over the eval side, fully ON the
         executors (bloom_bitmap_df: the words are never collected to
         the driver — round 6; the old plan-literal list cost 6.6 s of
         driver time at the 2^20 default and never finished at the
         2^26+ bits a 10^8-key registry needs); with ``m_bits=None``
         (default) the size derives from the eval count via
         bloom_size() — ~16 bits/key, 128 KiB for 10^5 eval docs,
         200 MB for 10^8, broadcast once per executor;
      2. candidate filter — the CORPUS NEVER SHUFFLES: the one-row
         bitmap arrives via a single BroadcastExchange cross join and
         the membership test is a map-side integer expression (one
         xxhash64 of the text + k probe ops against the array column);
      3. exact confirm — only Bloom-POSITIVE rows (true hits + the ~fp
         fraction) join the eval texts on the 8-byte hash key with a
         text-equality filter behind it, so a 64-bit collision can
         never condemn an innocent document and Bloom false positives
         cost shuffle bytes, never correctness: output == plain exact
         anti-join, which is exactly what the DuckDB oracle computes;
      4. verdict — the confirmed-contaminated doc_id list (tiny: true
         leakage is rare by construction) broadcasts back over the
         corpus for the keep column.
    Null-text documents cannot match anything and keep=true.

    The fuzzy complement is `sketch_contamination` (paraphrase-level);
    this op is the exact-verbatim tier of the same decontamination
    battery, GPT-3 appendix-C style but at registry scale."""
    ev = bloom_eval_texts(eval_docs, text_col)
    if m_bits is None:
        m_bits = bloom_size(ev.count())
    bitmap = bloom_bitmap_df(ev, "_etext", m_bits=m_bits, k=k)
    contaminated = bloom_contaminated(docs, ev, bitmap,
                                      text_col=text_col, k=k,
                                      m_bits=m_bits)
    return (docs.join(F.broadcast(contaminated.withColumn(
                "_hit", F.lit(True))), "doc_id", "left")
            .select("doc_id", F.col("_hit").isNull().alias("keep")))


def bloom_contaminated(docs: DataFrame, eval_texts: DataFrame,
                       bitmap=None, text_col: str = "text",
                       k: int = BLOOM_K, m_bits: int = None,
                       words: list = None) -> DataFrame:
    """The reusable core of bloom_decontaminate: distinct doc_ids whose
    text appears verbatim in ``eval_texts`` (one `_etext` column),
    using a PREBUILT bitmap — for callers that amortize the bitmap
    across buckets/batches (the curation CLI builds it once per run).
    Bloom-positive rows join on the 8-byte text hash with a
    text-equality filter behind it, so the result is exact.

    ``bitmap``: the one-row frame from bloom_bitmap_df (pass its
    ``m_bits`` too) — attached to the corpus via one broadcast cross
    join, so the corpus side still never shuffles before the confirm
    join. A Python list (legacy bloom_bitmap output) is still accepted
    for small filters, where the plan-literal cost is negligible.

    ``words``: deprecated keyword alias of ``bitmap`` (the parameter's
    former name)."""
    if words is not None:
        if bitmap is not None:
            raise TypeError("pass bitmap or its deprecated alias words, "
                            "not both")
        import warnings
        warnings.warn("bloom_contaminated(words=...) is deprecated; "
                      "pass bitmap=", DeprecationWarning, stacklevel=2)
        bitmap = words
    if bitmap is None:
        raise TypeError("bloom_contaminated() missing the bitmap argument")
    if isinstance(bitmap, DataFrame):
        if m_bits is None:
            raise ValueError("m_bits is required with a bitmap frame")
        cand = (docs.where(F.col(text_col).isNotNull())
                .crossJoin(F.broadcast(bitmap))
                .where(bloom_hit_col(F.col(text_col), F.col("_bm"),
                                     m_bits, k=k))
                .select("doc_id", F.col(text_col).alias("_ctext")))
    else:
        cand = (docs.where(F.col(text_col).isNotNull()
                           & bloom_hit(F.col(text_col), bitmap, k=k))
                .select("doc_id", F.col(text_col).alias("_ctext")))
    return (cand.alias("c")
            .join(eval_texts.alias("e"),
                  F.xxhash64("c._ctext") == F.xxhash64("e._etext"))
            .where(F.col("c._ctext") == F.col("e._etext"))
            .select("doc_id").distinct())


def canonical_docs(docs: DataFrame, jaccard_min: float = 0.5) -> DataFrame:
    """Best-copy selection inside each near-dup cluster: instead of
    curate()'s "keep the minimum doc_id", keep the member with the
    HIGHEST quality score (ties -> lowest doc_id) — the production
    dedup policy (keep the cleanest mirror of a page, not an arbitrary
    one).

    Output: one row per clustered document —
    (doc_id, cluster, quality_score, keep). Singletons (docs in no
    near-dup pair) are implicitly kept and not listed, same contract as
    dedup.duplicate_clusters.

    Scale shape: clusters come from the banded-LSH pair table (tiny vs
    the corpus) via the O(log^2 n) star algorithm; the quality scan is
    one pass of JVM exprs; the argmax is a row_number window
    partitioned by cluster — per-task state is bounded by the largest
    dup family, which the LSH bucket cap already bounds upstream.

    Oracle: registry row `canonical_docs` mirrors the full composition
    (LSH CTEs -> recursive-closure clusters -> quality CASEs -> window
    argmax) in DuckDB.
    """
    from pyspark.sql import Window

    from .dedup import duplicate_clusters_star

    pairs = banded_near_dup_pairs(docs, jaccard_min=jaccard_min)
    clusters = duplicate_clusters_star(pairs)
    quality = with_quality_score(docs).select("doc_id", "quality_score")
    members = clusters.join(quality, "doc_id")
    w = (Window.partitionBy("cluster")
         .orderBy(F.desc("quality_score"), F.asc("doc_id")))
    return members.select(
        "doc_id", "cluster", "quality_score",
        (F.row_number().over(w) == 1).alias("keep"))


def hash_split(docs: DataFrame, weights=None, seed: int = 0,
               key: str = "doc_id") -> DataFrame:
    """Deterministic multi-way corpus split (the train/val/test carve
    every training job runs): adds a ``split`` label chosen by where the
    32-bit value of md5(seed ':' key)'s first 8 hex chars falls among
    the cumulative weight cutoffs.

    Properties a 10^12-doc corpus needs and df.randomSplit() lacks:

      * PURE FUNCTION OF THE ROW KEY — identical across runs, engines,
        cluster layouts, and partition counts (randomSplit's assignment
        depends on partition iteration order, so a repartition reshuffles
        the split).
      * STABLE UNDER GROWTH — each doc's label is independent of every
        other doc, so appending a crawl batch never moves an existing
        doc between splits (an ntile/row_number split renumbers
        everything). This is what keeps yesterday's held-out set held
        out.
      * Map-side only: no shuffle, no RNG state, whole-stage codegen.
      * Granularity 2^-32 (vs deterministic_sample's 1/256): good for
        a 0.001% eval carve at web scale.
      * ``seed`` re-deals the whole split; seeds are independent
        because the hash preimage includes it.

    ``weights`` is an ordered {label: weight} dict (normalized
    internally; default 90/5/5 train/val/test). The CASE cutoffs are
    floor(cum_frac * 2^32) with the last forced to 2^32, so labels are
    disjoint and exhaustive by construction.

    Oracle: the `hash_split` registry row mirrors the md5-prefix
    arithmetic with ('0x' || substr(md5(..),1,8))::BIGINT in DuckDB —
    the same 32-bit integer, same cutoffs, bit-identical labels."""
    if weights is None:
        weights = {"train": 0.90, "val": 0.05, "test": 0.05}
    if len(weights) < 2:
        raise ValueError("hash_split needs >= 2 labels")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive, got {weights}")
    total = float(sum(weights.values()))
    labels = list(weights)
    cuts, cum = [], 0.0
    for name in labels[:-1]:
        cum += weights[name] / total
        cuts.append(int(cum * 2 ** 32))
    u = F.expr(
        f"cast(conv(substring(md5(concat('{seed}', ':', "
        f"cast({key} as string))), 1, 8), 16, 10) as bigint)")
    label = F.lit(labels[-1])
    for name, cut in zip(reversed(labels[:-1]), reversed(cuts)):
        label = F.when(u < cut, F.lit(name)).otherwise(label)
    return docs.withColumn("split", label)


def chunk_manifest(docs: DataFrame, seq_len: int = 2048,
                   bucket_width: int = 100_000,
                   order_col: str = "doc_id") -> DataFrame:
    """The training-reader's view of pack_sequences: one row per
    (chunk, document-segment), i.e. exactly which token range of which
    document fills each position of each fixed-length training sequence.

    pack_sequences answers "where does doc d land?"; a data loader needs
    the inverse — "chunk c is assembled from THESE segments, in THIS
    order". Per row: ``chunk_id``, ``doc_id``, ``chunk_pos`` (the
    segment's first token position inside the chunk), ``doc_offset``
    (the segment's first token position inside the document) and
    ``seg_len`` tokens. Segments within a chunk tile it exactly —
    chunk_pos runs 0..seq_len-1 with no gaps or overlaps except in the
    stream's final (possibly short) chunk; zero-token docs occupy no
    stream space and emit no rows.

    Scale shape: pack_sequences' two-pass prefix sum (its exchanges, no
    new ones) plus a per-doc explode of its chunk range — output rows =
    corpus rows + total_tokens/seq_len extra boundary rows, each task's
    explosion bounded by its own docs' n_tokens/seq_len. All integer
    expression math, whole-stage codegen.

    Oracle: the `chunk_manifest` registry row rebuilds the offsets with
    SUM() OVER and the segment tiling with generate_series in DuckDB —
    same integer math, single-node shape."""
    packed = pack_sequences(docs, seq_len=seq_len,
                            bucket_width=bucket_width, order_col=order_col)
    seg = F.explode(F.expr(
        f"transform(sequence(chunk_id, chunk_id + n_chunks - 1), c -> "
        f"named_struct("
        f"  'chunk_id', c,"
        f"  'chunk_pos', greatest(start_offset - c * {seq_len}, 0),"
        f"  'doc_offset', greatest(c * {seq_len} - start_offset, 0),"
        f"  'seg_len', least((c + 1) * {seq_len}, "
        f"                   start_offset + n_tokens) "
        f"             - greatest(c * {seq_len}, start_offset)))"
    )).alias("seg")
    return (packed.where(F.col("n_tokens") > 0)
            .select("doc_id", seg)
            .select("seg.chunk_id", "doc_id", "seg.chunk_pos",
                    "seg.doc_offset", "seg.seg_len"))


def budget_sample(docs: DataFrame, max_tokens: int,
                  keys=("lang", "source"), id_col: str = "doc_id",
                  seed: int = 0) -> DataFrame:
    """Cap every corpus slice at an ABSOLUTE token budget (the "at most
    N tokens from each source" rule a mixture spec states directly):
    slice s with T_s total tokens keeps each doc with probability
    min(1, max_tokens / T_s), so the kept slice carries ~max_tokens
    tokens in expectation. The doc-count complement is
    temperature_rebalance (relative flattening); this one takes the
    budget in the unit the training job is priced in.

    Keep rule: first 8 hex chars of md5(seed ':' id) < floor(frac *
    2^32) in hex — the shared _hex_cut (2^-32 granularity; the old
    2^-16 cut rounded any fraction under 1/65536 to zero, i.e. a slice
    past 65536 x max_tokens tokens was dropped ENTIRELY instead of
    thinned — exactly the web-scale slice an absolute budget targets),
    with hash_split's seeded preimage so re-deals are available. A
    pure function of (seed, id,
    slice totals): appending a crawl batch re-dilutes a slice through
    its new total only — it never flips which EXISTING docs a given
    (total, seed) kept, and the sampled (not prefix-cut) rule is what
    makes that composition possible: an exact greedy cut to max_tokens
    would reshuffle its keep set on every append (and cost a
    pack_sequences-style prefix sum; use pack_sequences downstream if
    an exact cut is required).

    Engine parity: T_s is an exact BIGINT sum of script-aware token
    counts; max_tokens / T_s is one exactly-rounded IEEE division, so
    the DuckDB oracle computes bit-identical cuts.

    Scale shape: one token-count aggregate (key + partial-sum rows),
    then a BROADCAST of the per-slice fraction table back onto the
    scan and a map-side filter — the corpus is read twice and never
    shuffled. Returns kept rows + (keep_frac, slice_tokens) audit
    columns."""
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    from ..functions.tokenize import tokens_sql
    keys = list(keys)
    n_tok = F.expr(f"size({tokens_sql('coalesce(text, %s)' % repr(''))})") \
        .cast("long")
    totals = (docs.withColumn("_nt", n_tok)
              .groupBy(*keys).agg(F.sum("_nt").alias("slice_tokens")))
    frac = F.when(F.col("slice_tokens") <= 0, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.lit(float(max_tokens)) / F.col("slice_tokens")))
    fr = totals.select(*keys, "slice_tokens", frac.alias("keep_frac"))
    h = F.substring(F.md5(F.concat_ws(
        ":", F.lit(str(seed)), F.col(id_col).cast("string"))), 1, 8)
    keep = (F.col("keep_frac") >= 1.0) | (h < _hex_cut(F.col("keep_frac")))
    joined, _fr_cols = _nullsafe_slice_join(docs, fr, keys)
    return (joined.where(keep)
            .select(*docs.columns, "slice_tokens", "keep_frac"))


def hot_span_keepers(docs: DataFrame, w: int = 50, min_docs: int = 2
                     ) -> DataFrame:
    """The (fp, keep_doc_id) table behind strip_dup_spans: every
    w-token window fingerprint held by >= min_docs distinct docs, with
    the min doc_id as keeper. Computed ONCE per corpus and persistable
    (the _hot_spans discipline) so per-bucket strips stay exact."""
    return (_span_windows(docs, w)
            .where(F.col("fp").isNotNull())
            .groupBy("fp")
            .agg(F.count_distinct("doc_id").alias("_nd"),
                 F.min("doc_id").alias("keep_doc_id"))
            .where(F.col("_nd") >= min_docs)
            .select("fp", "keep_doc_id"))


def strip_dup_spans(docs: DataFrame, w: int = 50, min_docs: int = 2,
                    hot: DataFrame = None) -> DataFrame:
    """ExactSubstr in its REMOVAL form (Lee et al. 2022): delete every
    cross-document duplicated w-token span from every holder EXCEPT
    the keeper (min doc_id among the span's documents); the keeper
    keeps all its occurrences (within-doc repetition stays
    repetition_stats' scope, matching dup_span_stats). Output:
    (doc_id, text_dedup, n_tokens, n_removed_tokens, removed_frac),
    one row per input doc. ``hot``: a precomputed/persisted
    hot_span_keepers table — scoring a corpus SUBSET against the full
    corpus's keepers stays exact (per-doc semantics), which is what
    lets the curation CLI strip per bucket.

    Reconstruction is tokenizer-level: surviving tokens re-join with
    single spaces (documented whitespace normalization — the reference
    ExactSubstr removes byte ranges via a corpus-wide suffix array,
    which does not distribute; hot-fingerprint windows are the
    standard map-reduce form and the removal is exact at token
    granularity under window overlap, since positions union before
    filtering).

    Scale shape (the dup_span_stats discipline): windows shuffle as
    32-byte fingerprints; the hot table is (fp, keep_doc_id) from one
    exact-distinct aggregate; covered positions expand map-side
    (<= w ints per hot window) into a per-doc position set; ONE
    tokenize pass rebuilds the text map-side with an indexed filter —
    the text itself never shuffles."""
    from ..functions.tokenize import tokens_sql

    win = _span_windows(docs, w)
    hotk = (hot if hot is not None
            else hot_span_keepers(docs, w, min_docs)) \
        .select("fp", F.col("keep_doc_id").alias("_keep"))
    drop = (win.join(hotk, "fp")
            .where(F.col("doc_id") != F.col("_keep"))
            .select("doc_id",
                    F.explode(F.sequence(
                        F.col("s"),
                        F.least(F.col("s") + F.lit(w - 1),
                                F.col("n_tokens")))).alias("p"))
            .groupBy("doc_id")
            .agg(F.collect_set("p").alias("drop_idx")))
    toks = tokens_sql("coalesce(text, '')")
    # Single tokenize eval (array+transform idiom); filter index i is
    # 0-based while window positions are 1-based — hence i + 1.
    rebuilt = F.expr(
        f"element_at(transform(array({toks}), tk -> named_struct("
        "'clean', array_join(filter(tk, (x, i) -> "
        "  NOT array_contains(drop_idx, i + 1)), ' '), "
        "'n', size(tk))), 1)")
    return (docs.join(drop, "doc_id", "left")
            .withColumn("drop_idx",
                        F.coalesce("drop_idx",
                                   F.expr("cast(array() as array<int>)")))
            .withColumn("_r", rebuilt)
            .select("doc_id",
                    F.col("_r.clean").alias("text_dedup"),
                    F.col("_r.n").cast("long").alias("n_tokens"),
                    F.size("drop_idx").cast("long")
                    .alias("n_removed_tokens"),
                    F.round(F.size("drop_idx")
                            / F.greatest(F.col("_r.n"), F.lit(1)), 6)
                    .alias("removed_frac")))
