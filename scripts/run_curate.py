"""spark-submit entrypoint for the training-data curation pipeline.

Cluster usage (same packaging as run_extract.py):

    cd /root/repo && zip -r /tmp/document_ai_spark.zip document_ai_spark
    spark-submit --py-files /tmp/document_ai_spark.zip \
        scripts/run_curate.py \
        --input  <documents parquet: doc_id, text, lang, source> \
        --output <store root> \
        --buckets 64 --run-id curate-1 [--logprob-min -8.0|auto] \
        [--eval <benchmark-docs parquet for decontamination>] \
        [--eval-ngram 8 --eval-fuzzy 0.5] [--scrub-pii]

Per doc-id-hash bucket, checkpointed (kill + re-submit with the same
--output resumes at the last committed bucket; lineage + the observe()
cap/gate metrics land in <output>/_manifests/):

  1. composite quality gates (quality bands, Gopher repetition filters,
     optional unigram-logprob floor — thresholds per CALIBRATION.md),
  1b. optional exact-substring duplication filter (--dup-span-max:
     drop docs whose token coverage by corpus-duplicated w-token
     windows exceeds the threshold; hot-window table persisted under
     <output>/_hot_spans, the _hot_lines discipline),
  1b'. optional ExactSubstr REMOVAL (--strip-dup-spans: delete
     cross-doc duplicated w-token spans from all but the keeper doc;
     keeper table persisted under <output>/_hot_span_keepers),
  1c. optional C4 cleaning (--c4: Raffel et al. 2020 line/page rules
     applied before the gates — gates and dedup see the cleaned text),
     RefinedWeb line-wise corrections (--rw-lines, after --c4),
     FineWeb ratio gate (--fineweb: punct/short/dup-line/newline
     ratios at the published thresholds, ratio columns on the audit),
     Gopher rule set (--gopher: the published Rae et al.
     2021 App. A flags, knobs --gopher-min-words/--gopher-min-stops),
     Gopher n-gram repetition rules (--rep-ngrams: top-{2,3,4} /
     dup-{5..10} char fractions at the published thresholds),
     and CCNet perplexity-bucket filter (--ppl-keep head,middle:
     corpus-level per-lang unigram-LM terciles, bucket map persisted
     under <output>/_ppl_buckets),
  2. optional benchmark decontamination against --eval: exact word
     n-gram blocklist (--eval-ngram), plus the paraphrase-robust
     MinHash-LSH fuzzy pass (--eval-fuzzy; sketch_contamination —
     eval side broadcast, the bucket never shuffles),
  3. incremental near-dup dedup against the PERSISTED sketch index at
     <output>/_sketch_index (first-seen-wins across buckets AND across
     re-runs — the streaming keep rule),
  4. optional PII redaction of survivors (--scrub-pii: e-mail/phone/
     IPv4 -> typed placeholders + per-doc counts; applied LAST so gates
     and the dedup index key on original bytes),
  5. optional deterministic split labels (--split
     train=0.9,val=0.05,test=0.05: hash_split on doc_id — stable
     across resumes and corpus growth),
  6. survivors land in <output>/data/bucket=<b>/;
  7. optional --slice-budget caps every (lang, source) slice of the
     COMMITTED survivors at ~N tokens (budget_sample) into
     <output>/data_budgeted/;
  8. optional --dsir-top K resamples the committed survivors by DSIR
     hashed-n-gram importance weight (Gumbel top-K; target = --dsir-ref
     parquet or the --dsir-target predicate) into <output>/data_dsir/;
  9. optional --soft-dedup writes SoftDeDup 1/|family| weights for the
     committed survivors into <output>/doc_weights (pair with
     --jaccard-min > 1 to downweight families instead of dropping).

The gate signal columns ride along, so the output doubles as a
per-document quality audit table. A final token_budget rollup over all
committed survivors prints at the end.
"""
from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--run-id", default="curate-0")
    ap.add_argument("--quality-min", type=float, default=0.8)
    ap.add_argument("--dup-line-max", type=float, default=0.3)
    ap.add_argument("--top-bigram-max", type=float, default=0.2)
    ap.add_argument("--logprob-min", default=None,
                    type=lambda v: v if v == "auto" else float(v),
                    help="unigram-logprob floor: a float pins it "
                         "globally; 'auto' derives it per (lang, source) "
                         "slice from corpus quantiles (CALIBRATION.md); "
                         "off by default")
    ap.add_argument("--jaccard-min", type=float, default=0.5)
    ap.add_argument("--line-dedup", type=int, default=0, metavar="MIN_DOCS",
                    help="corpus-level exact line dedup before the "
                         "gates: strip non-blank lines occurring in >= "
                         "MIN_DOCS distinct docs everywhere but their "
                         "canonical (min doc_id) source; 0 = off. The "
                         "hot-line table is computed once per corpus, "
                         "persisted under <output>/_hot_lines, and "
                         "reused across buckets and resumes")
    ap.add_argument("--intra-line-dedup", action="store_true",
                    help="strip lines repeated WITHIN a document "
                         "(first occurrence stays, blanks always stay) "
                         "after the corpus-level --line-dedup pass; "
                         "map-side only, no shuffle")
    ap.add_argument("--dup-span-max", type=float, default=None,
                    metavar="FRAC",
                    help="drop docs whose dup_span_frac (fraction of "
                         "tokens covered by a w-token window duplicated "
                         "across >= --dup-span-min-docs distinct docs) "
                         "exceeds FRAC. The hot-window table is computed "
                         "once from the ORIGINAL corpus, persisted under "
                         "<output>/_hot_spans, and reused across buckets "
                         "and resumes; per-doc coverage is scored on the "
                         "post-line-dedup text. NOTE: a quality filter, "
                         "not a dedup — every member of a duplicated "
                         "family above FRAC is dropped (first-seen-wins "
                         "dedup is the sketch index's job)")
    ap.add_argument("--dup-span-w", type=int, default=50)
    ap.add_argument("--dup-span-min-docs", type=int, default=2)
    ap.add_argument("--strip-dup-spans", action="store_true",
                    help="ExactSubstr REMOVAL form (Lee et al. 2022): "
                         "delete cross-doc duplicated --dup-span-w-token "
                         "spans from every doc except the keeper (min "
                         "doc_id) BEFORE the gates; the (fp, keeper) "
                         "table comes once from the ORIGINAL corpus "
                         "(<output>/_hot_span_keepers, reused on "
                         "resume). Complements --dup-span-max, which "
                         "drops whole docs instead")
    ap.add_argument("--soft-dedup", action="store_true",
                    help="post-pass: SoftDeDup 1/|family| weights over "
                         "the COMMITTED survivors (banded-LSH closure) "
                         "into <output>/doc_weights; pair with "
                         "--jaccard-min above 1.0 to keep families "
                         "intact and let the sampler downweight them "
                         "instead of the index dropping them")
    ap.add_argument("--eval", default=None,
                    help="benchmark docs parquet; survivors sharing a "
                         "word --eval-ngram-gram with it are dropped")
    ap.add_argument("--eval-ngram", type=int, default=3, metavar="N",
                    help="n for the exact blocklist (default 3; "
                         "production decontamination runs 8-13 to avoid "
                         "common-phrase false positives — pair the "
                         "larger n with --eval-fuzzy for paraphrases)")
    ap.add_argument("--eval-fuzzy", type=float, default=None,
                    metavar="JACCARD",
                    help="ALSO fuzzy-decontaminate against --eval: drop "
                         "survivors whose MinHash sketch-Jaccard vs any "
                         "eval doc >= JACCARD (sketch_contamination — "
                         "catches paraphrased leakage the exact n-gram "
                         "pass misses); requires --eval")
    ap.add_argument("--eval-fuzzy-bands", type=int, default=4)
    ap.add_argument("--eval-fuzzy-rows", type=int, default=2)
    ap.add_argument("--eval-bloom", action="store_true",
                    help="ALSO drop survivors whose WHOLE text appears "
                         "verbatim in --eval, via a Bloom bitmap built "
                         "once per run — the registry-scale exact tier "
                         "(the n-gram blocklist broadcasts the eval "
                         "set; this ships ~m/8 bytes per task instead)")
    ap.add_argument("--eval-bloom-m", type=int, default=0,
                    metavar="M_BITS",
                    help="Bloom bitmap bits (power of two); 0 = derive "
                         "from the eval count (~16 bits/key keeps "
                         "confirm-join traffic at ~0.2%% of the corpus)")
    ap.add_argument("--nb-ref", default=None, metavar="PARQUET",
                    help="reference 'good' corpus (doc_id, text): train "
                         "a Naive Bayes classifier (ref = positive, a "
                         "deterministic --nb-neg-frac sample of the "
                         "input = negative) and drop docs scoring below "
                         "--nb-min log-odds — the CCNet/fastText "
                         "model-based filter. The model is trained ONCE "
                         "per run, persisted under <output>/_nb_model, "
                         "and reused across buckets and resumes")
    ap.add_argument("--nb-min", type=float, default=0.0,
                    help="minimum nb_logodds to keep (with --nb-ref)")
    ap.add_argument("--nb-neg-frac", type=float, default=0.2,
                    help="deterministic fraction of the input sampled "
                         "as the negative training class (with "
                         "--nb-ref)")
    ap.add_argument("--split", default=None, metavar="W",
                    help="carve survivors into deterministic splits, "
                         "e.g. 'train=0.9,val=0.05,test=0.05': adds a "
                         "`split` column via hash_split (pure function "
                         "of --split-seed and doc_id — stable across "
                         "resumes and corpus growth)")
    ap.add_argument("--split-seed", type=int, default=0)
    ap.add_argument("--slice-budget", type=int, default=None,
                    metavar="TOKENS",
                    help="after curation, cap every (lang, source) "
                         "slice of the committed survivors at ~TOKENS "
                         "tokens (budget_sample over the FINAL corpus "
                         "— budgets apply to what survived the gates, "
                         "not the raw crawl); budgeted rows land in "
                         "<output>/data_budgeted/")
    ap.add_argument("--gopher", action="store_true",
                    help="apply the Gopher rule set (Rae et al. 2021 "
                         "App. A: word count, mean word length, symbol/"
                         "bullet/ellipsis ratios, alpha fraction, "
                         "required stopwords) as an extra gate on the "
                         "post-line-dedup text; per-rule flags ride the "
                         "audit output")
    ap.add_argument("--gopher-min-words", type=int, default=50,
                    help="Gopher word-count floor (paper default 50; "
                         "tune down for short-document corpora)")
    ap.add_argument("--gopher-min-stops", type=int, default=2,
                    help="required distinct Gopher stopwords "
                         "(paper default 2)")
    ap.add_argument("--c4", action="store_true",
                    help="apply the C4 cleaning rules (Raffel et al. "
                         "2020 §2.2) BEFORE the quality gates: keep "
                         "only terminal-punctuation lines with >= 5 "
                         "words and no javascript/cookie-policy "
                         "boilerplate, drop brace/lorem-ipsum pages "
                         "and pages with < 3 surviving lines; gates "
                         "and dedup then see the CLEANED text")
    ap.add_argument("--rw-lines", action="store_true",
                    help="apply the RefinedWeb line-wise corrections "
                         "(Penedo et al. 2023 App. G.2) AFTER --c4: "
                         "drop mainly-uppercase / numeric-only / "
                         "social-counter / single-word lines, and drop "
                         "docs losing > 5% of their chars; gates and "
                         "dedup see the corrected text")
    ap.add_argument("--fineweb", action="store_true",
                    help="apply the FineWeb custom filters (Penedo et "
                         "al. 2024 \u00a73.4: punct-line ratio, short-"
                         "line ratio, duplicated-line char fraction, "
                         "newline/word ratio) as an extra doc gate; "
                         "ratio columns ride the audit output")
    ap.add_argument("--diversity", action="store_true",
                    help="apply the lexical-diversity gate "
                         "(diversity_stats): drop docs below "
                         "--char-entropy-min bits of character entropy "
                         "or below --ttr-min type-token ratio — the "
                         "compression-proxy filter for base64/hex "
                         "blobs, single-char runs, and repeated-token "
                         "spam that token-level gates can't see; the "
                         "ttr/entropy columns ride the audit output")
    ap.add_argument("--char-entropy-min", type=float, default=2.0,
                    help="character-entropy floor in bits (natural "
                         "prose sits ~4.1-4.3; the default 2.0 only "
                         "drops extreme low-diversity junk)")
    ap.add_argument("--ttr-min", type=float, default=0.1,
                    help="type-token-ratio floor (natural text sits "
                         "~0.4-0.9; repeated-token spam -> ~0)")
    ap.add_argument("--rep-ngrams", action="store_true",
                    help="apply Gopher's n-gram repetition rules "
                         "(top-{2,3,4}-gram / dup-{5..10}-gram char "
                         "fractions at the published thresholds, "
                         "ngram_repetition) on the post-line-dedup "
                         "text; frac columns ride the audit output. "
                         "Docs with <2 tokens have no frac row and "
                         "pass this gate by definition")
    ap.add_argument("--ppl-keep", default=None, metavar="BUCKETS",
                    help="CCNet perplexity-bucket filter: keep only "
                         "docs whose per-lang unigram-LM third is in "
                         "this comma list, e.g. 'head,middle' (CCNet "
                         "trains on head+middle). Buckets are computed "
                         "ONCE from the raw corpus (the LM and its "
                         "thresholds are corpus-relative), persisted "
                         "under <output>/_ppl_buckets, and reused "
                         "across buckets and resumes")
    ap.add_argument("--dsir-top", type=int, default=None, metavar="K",
                    help="after curation, DSIR-resample the committed "
                         "survivors (Xie et al. 2023): Gumbel-top-K by "
                         "hashed unigram+bigram importance weight into "
                         "<output>/data_dsir/")
    ap.add_argument("--dsir-ref", default=None, metavar="PARQUET",
                    help="reference target corpus for --dsir-top "
                         "(doc_id, text) — e.g. a trusted-domain "
                         "sample; when absent the target distribution "
                         "comes from survivors matching --dsir-target")
    ap.add_argument("--dsir-target", default="lang = 'en'",
                    help="SQL predicate defining the in-corpus target "
                         "distribution when --dsir-ref is absent")
    ap.add_argument("--dsir-seed", type=int, default=0)
    ap.add_argument("--scrub-pii", action="store_true",
                    help="redact e-mail/phone/IPv4 in survivors with "
                         "typed placeholders (operators/web.py) as the "
                         "LAST step — gates and dedup see the original "
                         "text; per-doc removal counts ride the audit "
                         "output")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from document_ai_spark.operators.curation import (
        dup_span_stats_against,
        eval_ngrams,
        hot_lines,
        hot_span_fps,
        quality_gates,
        strip_hot_lines,
    )
    from document_ai_spark.operators.sketch_index import (
        SketchIndex,
        first_seen_losers,
    )
    from document_ai_spark.operators.web import scrub_pii
    from document_ai_spark.operators.textquality import token_budget
    from document_ai_spark.session import get_spark
    from document_ai_spark.streaming.checkpoint import run_checkpointed

    if args.eval_fuzzy is not None and not args.eval:
        ap.error("--eval-fuzzy requires --eval")
    if args.eval_bloom and not args.eval:
        ap.error("--eval-bloom requires --eval")
    split_weights = None
    if args.split:
        try:
            split_weights = {
                part.split("=")[0]: float(part.split("=")[1])
                for part in args.split.split(",")}
        except (IndexError, ValueError):
            ap.error("--split expects 'name=frac,name=frac,...'")

    spark = get_spark("document_ai_spark.curate", master=args.master)
    docs = spark.read.parquet(args.input)
    idx = SketchIndex(f"{args.output}/_sketch_index")
    block = None
    eval_docs = None
    bloom_df = None
    bloom_ev = None
    bloom_mbits = 0
    if args.eval:
        eval_docs = spark.read.parquet(args.eval)
        block = F.broadcast(
            eval_ngrams(eval_docs, n=args.eval_ngram)).cache()
        if args.eval_bloom:
            # Bitmap built ONCE per run (deterministic from the eval
            # set, so resume sees the identical filter); per-bucket
            # cost is a map-side membership test + an exact confirm
            # join over the Bloom-positive sliver.
            from document_ai_spark.operators.curation import (
                bloom_bitmap_df,
                bloom_eval_texts,
            )
            from document_ai_spark.operators.curation import bloom_size
            bloom_ev = bloom_eval_texts(eval_docs).cache()
            bloom_mbits = args.eval_bloom_m or bloom_size(bloom_ev.count())
            # Round 6: executor-built one-row bitmap frame (never a
            # plan literal), cached so the build runs once per run.
            bloom_df = bloom_bitmap_df(
                bloom_ev, "_etext", m_bits=bloom_mbits).cache()

    hot = None
    if args.line_dedup:
        # One corpus-wide aggregate, persisted; deterministic from the
        # input, so a killed run's resume reads the identical table
        # instead of re-running the shuffle.
        import os
        hot_path = f"{args.output}/_hot_lines"
        if not os.path.exists(os.path.join(hot_path, "_SUCCESS")):
            hot_lines(docs, min_docs=args.line_dedup) \
                .write.mode("overwrite").parquet(hot_path)
        hot = spark.read.parquet(hot_path)

    nb_model = nb_params = None
    if args.nb_ref:
        # Train once from (reference positives, deterministic corpus
        # sample negatives) over ORIGINAL text; persist both tables so
        # a resumed run scores with the identical model (same
        # discipline as _hot_lines). Parquet round-trips doubles
        # bit-exactly, so resume scores match the first run's.
        import os

        from document_ai_spark.operators.classifier import nb_train
        from document_ai_spark.operators.curation import (
            deterministic_sample,
        )
        nb_path = f"{args.output}/_nb_model"
        if not os.path.exists(os.path.join(nb_path, "params", "_SUCCESS")):
            ref = spark.read.parquet(args.nb_ref) \
                .select("doc_id", "text").withColumn("label", F.lit(True))
            neg = deterministic_sample(
                docs, fraction=args.nb_neg_frac) \
                .select("doc_id", "text").withColumn("label", F.lit(False))
            model, params = nb_train(ref.unionByName(neg))
            model.write.mode("overwrite").parquet(f"{nb_path}/model")
            params.write.mode("overwrite").parquet(f"{nb_path}/params")
        nb_model = spark.read.parquet(f"{nb_path}/model")
        nb_params = spark.read.parquet(f"{nb_path}/params")

    ppl_keep = ppl_map = None
    if args.ppl_keep:
        ppl_keep = [b.strip() for b in args.ppl_keep.split(",")
                    if b.strip()]
        if not ppl_keep or set(ppl_keep) - {"head", "middle", "tail"}:
            ap.error("--ppl-keep expects a comma list of "
                     "head/middle/tail")
        # The unigram LM and its per-lang tercile thresholds are
        # corpus-relative, so buckets must come from ONE corpus-wide
        # pass over the ORIGINAL text — never per checkpoint bucket
        # (a bucket-local LM shifts every logprob). Persisted like
        # _hot_lines: deterministic from the input, resume-identical.
        import os

        from document_ai_spark.operators.selection import (
            perplexity_buckets,
        )
        pb_path = f"{args.output}/_ppl_buckets"
        if not os.path.exists(os.path.join(pb_path, "_SUCCESS")):
            perplexity_buckets(docs).write.mode("overwrite") \
                .parquet(pb_path)
        ppl_map = spark.read.parquet(pb_path)

    hot_spans = None
    if args.dup_span_max is not None:
        # Same discipline as _hot_lines: one corpus-wide aggregate over
        # the ORIGINAL input, persisted, identical on resume. Scoring a
        # bucket against the full-corpus table is exact because coverage
        # is a per-document function of (own windows, hot membership).
        import os
        hs_path = f"{args.output}/_hot_spans"
        if not os.path.exists(os.path.join(hs_path, "_SUCCESS")):
            hot_span_fps(docs, w=args.dup_span_w,
                         min_docs=args.dup_span_min_docs) \
                .write.mode("overwrite").parquet(hs_path)
        hot_spans = spark.read.parquet(hs_path)

    span_keepers = None
    if args.strip_dup_spans:
        import os
        from document_ai_spark.operators.curation import hot_span_keepers
        sk_path = f"{args.output}/_hot_span_keepers"
        if not os.path.exists(os.path.join(sk_path, "_SUCCESS")):
            hot_span_keepers(docs, w=args.dup_span_w,
                             min_docs=args.dup_span_min_docs) \
                .write.mode("overwrite").parquet(sk_path)
        span_keepers = spark.read.parquet(sk_path)

    def curate_bucket(sub, _payloads, bucket):
        if hot is not None:
            stripped = strip_hot_lines(sub, hot).select(
                "doc_id", F.col("text_dedup").alias("text"),
                F.col("n_removed").alias("n_boiler_lines_removed"))
            sub = sub.select("doc_id", "lang", "source") \
                .join(stripped, "doc_id")
        if args.intra_line_dedup:
            # Within-doc repeats, on the post-boilerplate text; pure
            # map-side HOF so it adds no exchange to the bucket plan.
            from document_ai_spark.operators.curation import (
                strip_repeated_lines,
            )
            rl = strip_repeated_lines(sub).select(
                "doc_id", F.col("text_dedup").alias("text"),
                F.col("n_removed").alias("n_intra_lines_removed"))
            sub = sub.drop("text").join(rl, "doc_id")
        if args.c4:
            # Line-level cleaning belongs with the boilerplate passes:
            # downstream gates, dedup sketches, and the persisted index
            # all key on the cleaned text.
            from document_ai_spark.operators.web import c4_clean
            c = c4_clean(sub.select("doc_id", "text"))
            sub = (sub.drop("text")
                   .join(c.where("c4_keep")
                         .select("doc_id",
                                 F.col("text_clean").alias("text"),
                                 (F.col("n_lines") - F.col("n_kept_lines"))
                                 .alias("n_c4_lines_removed")),
                         "doc_id"))
        if args.rw_lines:
            # RefinedWeb line-wise corrections ride after C4: same
            # contract (cleaned text feeds gates, sketches, index).
            from document_ai_spark.operators.web import refinedweb_lines
            r = refinedweb_lines(sub.select("doc_id", "text"))
            sub = (sub.drop("text")
                   .join(r.where("rw_keep")
                         .select("doc_id",
                                 F.col("text_clean").alias("text"),
                                 F.col("n_removed_lines")
                                 .alias("n_rw_lines_removed")),
                         "doc_id"))
        if span_keepers is not None:
            # Removal belongs with the other text-rewrite passes: the
            # gates, sketches, and persisted index key on the stripped
            # text (per-doc semantics, exact per bucket vs the corpus
            # keeper table).
            from document_ai_spark.operators.curation import (
                strip_dup_spans,
            )
            sd = strip_dup_spans(sub.select("doc_id", "text"),
                                 w=args.dup_span_w, hot=span_keepers)
            sub = (sub.drop("text")
                   .join(sd.select("doc_id",
                                   F.col("text_dedup").alias("text"),
                                   F.col("n_removed_tokens")
                                   .alias("n_span_tokens_removed")),
                         "doc_id"))
        gated = quality_gates(
            sub, quality_min=args.quality_min,
            dup_line_max=args.dup_line_max,
            top_bigram_max=args.top_bigram_max,
            logprob_min=args.logprob_min)
        carry = ["doc_id", "text", "lang", "source"] + (
            ["n_boiler_lines_removed"] if hot is not None else []) + (
            ["n_intra_lines_removed"] if args.intra_line_dedup else []) + (
            ["n_c4_lines_removed"] if args.c4 else []) + (
            ["n_rw_lines_removed"] if args.rw_lines else []) + (
            ["n_span_tokens_removed"] if args.strip_dup_spans else [])
        kept = (sub.select(*carry)
                .join(gated, "doc_id")
                .where("keep")
                .drop("keep"))
        if args.gopher:
            # Published-constant rule set on the post-line-dedup text;
            # per-rule flags join onto the audit output so a dropped
            # rule is attributable.
            from document_ai_spark.operators.selection import (
                gopher_rules,
            )
            gr = gopher_rules(kept.select("doc_id", "text"),
                              min_words=args.gopher_min_words,
                              min_stop_hits=args.gopher_min_stops)
            kept = (kept
                    .join(gr.select("doc_id", "ok_words", "ok_mwl",
                                    "ok_symbols", "ok_bullets",
                                    "ok_ellipsis", "ok_alpha", "ok_stops",
                                    "gopher_keep"), "doc_id")
                    .where("gopher_keep").drop("gopher_keep"))
        if args.rep_ngrams:
            from document_ai_spark.operators.textquality import (
                ngram_repetition,
            )
            rep = ngram_repetition(kept.select("doc_id", "text"))
            # left join: docs too short for any n>=2 gram have no row
            # and keep (coalesce true) — the word-count gates own them.
            kept = (kept
                    .join(rep, "doc_id", "left")
                    .where(F.coalesce("rep_keep", F.lit(True)))
                    .drop("rep_keep"))
        if args.fineweb:
            from document_ai_spark.operators.web import fineweb_filters
            fw = fineweb_filters(kept.select("doc_id", "text"))
            kept = (kept
                    .join(fw.select("doc_id", "line_punct_ratio",
                                    "short_line_frac",
                                    "dup_line_char_frac",
                                    "newline_word_ratio",
                                    "fineweb_keep"), "doc_id")
                    .where("fineweb_keep").drop("fineweb_keep"))
        if args.diversity:
            # Map-side per-row folds (zero exchanges) on the same
            # post-line-dedup text the other gates see; the diversity
            # columns ride the audit output so a drop is attributable.
            from document_ai_spark.operators.textquality import (
                with_diversity_stats,
            )
            dv = with_diversity_stats(kept.select("doc_id", "text")) \
                .select("doc_id", "ttr", "token_entropy", "char_entropy")
            kept = (kept
                    .join(dv, "doc_id")
                    .where((F.col("char_entropy")
                            >= args.char_entropy_min)
                           & (F.col("ttr") >= args.ttr_min)))
        if ppl_map is not None:
            # Join against the persisted corpus-level bucket map; the
            # ppl_bucket label rides the audit output. Zero-token docs
            # have no bucket row, but the quality gate already dropped
            # them.
            kept = (kept
                    .join(ppl_map.select("doc_id", "ppl_bucket"),
                          "doc_id")
                    .where(F.col("ppl_bucket").isin(ppl_keep)))
        if nb_model is not None:
            # Model-based quality gate (CCNet shape): score against the
            # persisted NB model; the score column rides the audit
            # output. Scored on the post-line-dedup text the other
            # gates see. Zero-token docs carry no score row, but the
            # quality gate has already dropped them (n_tokens < 10).
            from document_ai_spark.operators.classifier import nb_score
            scores = nb_score(kept.select("doc_id", "text"),
                              nb_model, nb_params)
            kept = (kept
                    .join(scores.select("doc_id", "nb_logodds"), "doc_id")
                    .where(F.col("nb_logodds") >= args.nb_min))
        if hot_spans is not None:
            spans = dup_span_stats_against(
                kept.select("doc_id", "text"), hot_spans,
                w=args.dup_span_w)
            kept = (kept
                    .join(spans.select("doc_id", "dup_span_frac"), "doc_id")
                    .where(F.col("dup_span_frac") <= args.dup_span_max))
        if block is not None:
            from document_ai_spark.operators.dedup import _word_shingles
            hits = (kept.select(
                "doc_id",
                F.explode(_word_shingles(args.eval_ngram)).alias("ngram"))
                .join(block, "ngram").select("doc_id").distinct())
            kept = kept.join(hits, "doc_id", "left_anti")
        if bloom_df is not None:
            from document_ai_spark.operators.curation import (
                bloom_contaminated,
            )
            bhits = bloom_contaminated(kept.select("doc_id", "text"),
                                       bloom_ev, bloom_df,
                                       m_bits=bloom_mbits)
            kept = kept.join(bhits, "doc_id", "left_anti")
        if args.eval_fuzzy is not None:
            from document_ai_spark.operators.curation import (
                sketch_contamination,
            )
            fhits = sketch_contamination(
                kept.select("doc_id", "text"), eval_docs,
                jaccard_min=args.eval_fuzzy,
                bands=args.eval_fuzzy_bands, rows=args.eval_fuzzy_rows)
            kept = kept.join(fhits.select("doc_id"), "doc_id", "left_anti")
        # Incremental dedup vs the persisted index: first-seen-wins (the
        # stream_curate keep rule) — a doc is dropped iff it near-dups
        # ANY doc from an earlier-committed bucket (earlier wins,
        # regardless of id) or a smaller-id doc in its own bucket. Index
        # state commits per bucket under this batch_id, so resume
        # replays are idempotent.
        pairs = idx.append_and_find(
            spark, kept.select("doc_id", "text"),
            batch_id=f"{args.run_id}-b{bucket}",
            jaccard_min=args.jaccard_min)
        survivors = kept.join(
            first_seen_losers(pairs, kept.select("doc_id")), "doc_id",
            "left_anti")
        if args.scrub_pii:
            # Last so the sketch index / hot-line table stay keyed on
            # original bytes — resumes and incremental probes of a
            # scrubbed run remain comparable with unscrubbed history.
            survivors = scrub_pii(survivors)
        if split_weights is not None:
            # Pure map-side function of (seed, doc_id): a resumed
            # bucket re-derives the identical labels, so the split is
            # checkpoint-safe by construction.
            from document_ai_spark.operators.curation import hash_split
            survivors = hash_split(survivors, weights=split_weights,
                                   seed=args.split_seed)
        return survivors

    store = run_checkpointed(
        spark, docs, spark.createDataFrame([], "media_ref string"),
        args.output, run_id=args.run_id, buckets=args.buckets,
        extract_fn=curate_bucket)

    lineage = store.lineage_df(spark)
    lineage.orderBy("partition_id").show(100, truncate=False)
    survivors = store.read_committed(spark)
    n_in, n_out = docs.count(), survivors.count()
    print(f"curated {n_in} -> {n_out} docs "
          f"({len(store.committed_buckets())} buckets)")
    token_budget(survivors.select("doc_id", "text", "lang", "source")) \
        .show(100, truncate=False)
    if args.slice_budget is not None:
        # Budgets are stated against the CURATED corpus (what a
        # training job would actually read), so this runs over the
        # committed survivors, not the raw crawl. Deterministic from
        # (committed set, seed): re-running overwrites byte-identically.
        from document_ai_spark.operators.curation import budget_sample
        budgeted = budget_sample(survivors, max_tokens=args.slice_budget)
        budgeted.write.mode("overwrite") \
            .parquet(f"{args.output}/data_budgeted")
        n_b = budgeted.count()
        print(f"slice budget {args.slice_budget} tokens: "
              f"{n_out} -> {n_b} docs -> {args.output}/data_budgeted")
        token_budget(budgeted.select("doc_id", "text", "lang", "source")) \
            .show(100, truncate=False)
    if args.dsir_top is not None:
        # DSIR over the COMMITTED survivors (resampling binds on what a
        # training job reads). Deterministic from (committed set, seed,
        # target): re-running overwrites byte-identically.
        from document_ai_spark.operators.selection import dsir_sample
        tgt_docs = tgt_pred = None
        if args.dsir_ref:
            tgt_docs = spark.read.parquet(args.dsir_ref) \
                .select("doc_id", "text")
        else:
            tgt_pred = F.expr(args.dsir_target)
        sel = dsir_sample(
            survivors.select("doc_id", "text", "lang", "source"),
            k=args.dsir_top, target=tgt_pred, seed=args.dsir_seed,
            target_docs=tgt_docs)
        picked = survivors.join(
            sel.select("doc_id", "dsir_logw", "gumbel_key"), "doc_id")
        picked.write.mode("overwrite").parquet(f"{args.output}/data_dsir")
        n_d = picked.count()
        print(f"dsir top-{args.dsir_top}: {n_out} -> {n_d} docs -> "
              f"{args.output}/data_dsir")
    if args.soft_dedup:
        # Weights over the COMMITTED survivors: deterministic from the
        # committed set, so re-running overwrites byte-identically.
        from document_ai_spark.operators.dedup import (
            banded_near_dup_pairs,
            dedup_weights,
        )
        surv = survivors.select("doc_id", "text")
        wts = dedup_weights(surv, banded_near_dup_pairs(
            surv, jaccard_min=args.jaccard_min
            if args.jaccard_min <= 1.0 else 0.5))
        wts.write.mode("overwrite").parquet(f"{args.output}/doc_weights")
        n_fam = wts.where("weight < 1.0").count()
        print(f"soft-dedup: {n_fam} docs in families -> "
              f"{args.output}/doc_weights")
    spark.stop()


if __name__ == "__main__":
    main()
