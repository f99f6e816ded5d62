"""Feedback loop + incremental ingest (reference §2.9 streaming analogs).

The reference appends correction feedback to a JSON file and aggregates
per-method accuracy to pick future strategies (reference
backend/services/agentic_ai.py:88-101, 404-475). Here:

  * the feedback table is an append-only parquet directory,
  * strategy accuracy (A9) is a plain aggregation,
  * similar-feedback lookup (J4) is a filter + arrays_overlap + recent-N,
  * incremental ingest is Structured Streaming over the interleaved-doc
    directory with the SAME extraction pipeline applied per micro-batch
    via foreachBatch — batch/stream parity by construction.

Every ``stream_*`` twin runs on one micro-batch driver (``_micro_batches``)
and supplies only its per-batch body. Exactly-once across restarts is
the driver's per-batch output overwrite plus, for the twins that keep
a persisted index, the index's idempotent replay of a batch id; the
index commit rules live in operators/batch_index.py and
streaming/commit.py.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

FEEDBACK_SCHEMA = (
    "ts timestamp, doc_id string, field_name string, predicted_value string,"
    " correct_value string, extraction_method string, was_correct boolean,"
    " doc_type string, languages array<string>"
)


def append_feedback(df: DataFrame, path: str) -> None:
    df.write.mode("append").parquet(path)


def strategy_accuracy(feedback: DataFrame) -> DataFrame:
    """Per-method accuracy ratio (agentic_ai.py:447-475)."""
    return (
        feedback.groupBy("extraction_method")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.col("was_correct").cast("int")), 6)
             .alias("accuracy"),
        )
        .orderBy("extraction_method")
    )


def best_strategy(feedback: DataFrame) -> DataFrame:
    """Argmax accuracy with deterministic method-name tie-break."""
    acc = strategy_accuracy(feedback)
    w = Window.orderBy(F.desc("accuracy"), F.asc("extraction_method"))
    return (acc.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") == 1).drop("rnk"))


def similar_feedback(feedback: DataFrame, doc_type: str,
                     languages: list, limit: int = 10) -> DataFrame:
    """Last-N feedback for the same doc_type with language overlap
    (agentic_ai.py:431-445): filter + arrays_overlap + recent-N."""
    lang_arr = F.array(*[F.lit(x) for x in languages])
    return (
        feedback.where(F.col("doc_type") == doc_type)
        .where(F.arrays_overlap("languages", lang_arr))
        .orderBy(F.desc("ts"), F.desc("doc_id"))
        .limit(limit)
    )


def _micro_batches(spark: SparkSession, in_dir: str, schema, out_dir: str,
                   checkpoint_dir: str, body):
    """Stream the parquet files of ``in_dir`` (read with ``schema``, 4
    files per trigger) until none is left, writing each non-empty
    micro-batch's ``body(batch_df, batch_id)`` frame over
    ``out_dir/batch=<id>/``: a foreachBatch replay after a crash
    (checkpoint not yet committed) rewrites the same directory instead
    of appending duplicate rows. Returns the StreamingQuery."""
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            body(batch_df, batch_id).write.mode("overwrite").parquet(
                f"{out_dir}/batch={batch_id}")

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
        .writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(spark: SparkSession, in_dir: str, index_root: str,
                 pairs_dir: str, checkpoint_dir: str,
                 jaccard_min: float = 0.5):
    """Incremental near-dup detection over a document stream: each
    micro-batch is deduped against the PERSISTED sketch index (batch
    internal + batch-vs-all-previous), its pairs land under
    ``pairs_dir/batch=<id>/``, and its sketches are committed to the
    index for the next batch (operators/sketch_index.py).

    Exactly-once across restarts: append_and_find is idempotent per
    batch_id (see _micro_batches). Returns the StreamingQuery."""
    from ..operators.sketch_index import SketchIndex

    idx = SketchIndex(index_root)
    return _micro_batches(
        spark, in_dir, "doc_id string, text string", pairs_dir,
        checkpoint_dir, lambda df, i: idx.append_and_find(
            spark, df.select("doc_id", "text"), batch_id=f"stream-{i}",
            jaccard_min=jaccard_min))


def stream_containment(spark: SparkSession, in_dir: str, index_root: str,
                       pairs_dir: str, checkpoint_dir: str,
                       containment_min: float = 0.5,
                       min_shared: int = 1):
    """Incremental CONTAINMENT detection over a document stream — the
    stream_dedup twin for subset-duplication: each micro-batch is
    probed against the persisted winnowed-fp index
    (operators/winnow_index.py), so a syndicated copy arriving after
    its canonical source is flagged at arrival even though its jaccard
    (~ |A|/|B|) never trips the sketch-index path. Same exactly-once
    shape: idempotent append_and_find per batch_id + per-batch output
    overwrite. Returns the StreamingQuery."""
    from ..operators.winnow_index import WinnowIndex

    idx = WinnowIndex(index_root)
    return _micro_batches(
        spark, in_dir, "doc_id string, text string", pairs_dir,
        checkpoint_dir, lambda df, i: idx.append_and_find(
            spark, df.select("doc_id", "text"), batch_id=f"stream-{i}",
            containment_min=containment_min, min_shared=min_shared))


def stream_extract(spark: SparkSession, in_dir: str, out_dir: str,
                   checkpoint_dir: str, payloads_df: DataFrame):
    """Structured Streaming ingest: watch in_dir for new interleaved-doc
    parquet files, run the SAME batch pipeline per micro-batch. Output
    lands under ``out_dir/batch=<id>/`` with per-batch OVERWRITE (see
    _micro_batches). Returns the StreamingQuery (caller awaits/stops)."""
    from ..plans.pipeline import extract
    from ..sources.docgen import interleaved_schema

    # micro-batches are small (maxFilesPerTrigger) — pin the reassembly
    # salt instead of paying derive_salt_buckets' approxQuantile action
    # on every batch
    return _micro_batches(
        spark, in_dir, interleaved_schema(), out_dir, checkpoint_dir,
        lambda df, i: extract(df, payloads_df, salt_buckets=8).withColumn(
            "out_spans", F.to_json("out_spans")))


def stream_curate(spark: SparkSession, in_dir: str, index_root: str,
                  out_dir: str, checkpoint_dir: str,
                  quality_min: float = 0.8, jaccard_min: float = 0.5,
                  c4: bool = False, gopher: bool = False,
                  gopher_min_words: int = 50, gopher_min_stops: int = 2,
                  rw_lines: bool = False, fineweb: bool = False):
    """Streaming training-data curation: per micro-batch, quality-gate ->
    near-dup against the PERSISTED sketch index -> append survivors.

    Keep rule (greedy first-seen-wins — the standard streaming dedup
    contract): a batch doc is dropped iff it near-dups ANY doc from an
    earlier batch (earlier wins, regardless of id), or a smaller-id doc
    within its own batch. Every gated doc's sketch joins the index
    (winners AND losers), so a future doc chained to a dropped one is
    still caught — transitive families stay collapsed across batches
    without ever recomputing corpus-wide sketches. This intentionally
    differs from batch `curate` only in representative choice for
    clusters that SPAN batches (first-seen vs global-min id); the pair
    sets are identical (oracle row incremental_near_dup).

    Exactly-once: append_and_find is idempotent per batch_id and each
    batch's survivors land in an overwritten per-batch directory.
    Returns the StreamingQuery; read ``out_dir`` afterwards for the kept
    corpus (token_budget over it gives the running training budget)."""
    from ..operators.sketch_index import SketchIndex, first_seen_losers
    from ..operators.textquality import with_quality_score

    idx = SketchIndex(index_root)

    def curate_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        src = batch_df
        if c4:
            # Stateless map — streaming-safe by construction; the index
            # then keys on CLEANED text, matching the batch CLI's --c4.
            from ..operators.web import c4_clean
            cc = c4_clean(src.select("doc_id", "text"))
            src = (src.drop("text")
                   .join(cc.where("c4_keep")
                         .select("doc_id",
                                 F.col("text_clean").alias("text")),
                         "doc_id"))
        if rw_lines:
            # Stateless like c4 — the RefinedWeb line corrections feed
            # the gates and the persisted index with corrected text.
            from ..operators.web import refinedweb_lines
            rw = refinedweb_lines(src.select("doc_id", "text"))
            src = (src.drop("text")
                   .join(rw.where("rw_keep")
                         .select("doc_id",
                                 F.col("text_clean").alias("text")),
                         "doc_id"))
        gated = (with_quality_score(src)
                 .where(F.col("quality_score") >= quality_min)
                 .select("doc_id", "text", "lang", "source"))
        if gopher:
            from ..operators.selection import gopher_rules
            g = gopher_rules(gated.select("doc_id", "text"),
                             min_words=gopher_min_words,
                             min_stop_hits=gopher_min_stops)
            gated = gated.join(
                g.where("gopher_keep").select("doc_id"), "doc_id")
        if fineweb:
            from ..operators.web import fineweb_filters
            fw = fineweb_filters(gated.select("doc_id", "text"))
            gated = gated.join(
                fw.where("fineweb_keep").select("doc_id"), "doc_id")
        pairs = idx.append_and_find(
            spark, gated.select("doc_id", "text"),
            batch_id=f"curate-{batch_id}", jaccard_min=jaccard_min)
        return gated.join(first_seen_losers(pairs, gated.select("doc_id")),
                          "doc_id", "left_anti")

    return _micro_batches(
        spark, in_dir,
        "doc_id string, text string, lang string, source string",
        out_dir, checkpoint_dir, curate_batch)


def stream_embed_dedup(spark: SparkSession, in_dir: str, index_root: str,
                       pairs_dir: str, checkpoint_dir: str,
                       cos_min: float = 0.95):
    """Incremental embedding-cosine near-dup detection over a vector
    stream — the embedding twin of stream_dedup: each micro-batch is
    compared against the PERSISTED banded sign-LSH index (batch internal
    + batch-vs-all-previous), its pairs land under
    ``pairs_dir/batch=<id>/``, and its banded rows are committed to the
    index for the next batch (operators/vector_index.py EmbeddingIndex).

    Exactly-once across restarts: append_and_find is idempotent per
    batch_id (see _micro_batches). Returns the StreamingQuery."""
    from ..operators.vector_index import EmbeddingIndex

    idx = EmbeddingIndex(index_root)
    return _micro_batches(
        spark, in_dir, "vec_id bigint, embedding array<float>", pairs_dir,
        checkpoint_dir, lambda df, i: idx.append_and_find(
            spark, df.select("vec_id", "embedding"), batch_id=f"stream-{i}",
            cos_min=cos_min))


def stream_line_dedup(spark: SparkSession, in_dir: str, index_root: str,
                      out_dir: str, checkpoint_dir: str,
                      min_docs: int = 2):
    """Incremental corpus-level line dedup over a document stream — the
    line twin of stream_dedup: each micro-batch is stripped against the
    PERSISTED hot-line counts accreted by all previous batches plus
    itself (operators/line_index.py LineIndex), its cleaned docs land
    under ``out_dir/batch=<id>/``, and its per-line aggregate is
    committed to the index for the next batch.

    Exactly-once across restarts: append_and_strip is idempotent per
    batch_id (before_seq replay; see _micro_batches). Returns the
    StreamingQuery."""
    from ..operators.line_index import LineIndex

    idx = LineIndex(index_root, min_docs=min_docs)
    return _micro_batches(
        spark, in_dir, "doc_id long, text string", out_dir, checkpoint_dir,
        lambda df, i: idx.append_and_strip(
            spark, df.select("doc_id", "text"), batch_id=f"stream-{i}"))


def stream_span_filter(spark: SparkSession, in_dir: str, index_root: str,
                       out_dir: str, checkpoint_dir: str,
                       w: int = 50, min_docs: int = 2,
                       max_frac: float = None):
    """Incremental exact-substring duplication scoring over a document
    stream — the span twin of stream_line_dedup: each micro-batch is
    scored against the PERSISTED w-token-window counts accreted by all
    previous batches plus itself (operators/span_index.py SpanIndex,
    first-seen-wins: the first copy of duplicated content scores 0 and
    survives), its scored docs land under ``out_dir/batch=<id>/``, and
    its window aggregate is committed to the index for the next batch.
    With ``max_frac`` set, rows scoring above it are dropped instead of
    emitted (the streaming form of run_curate's --dup-span-max).

    Exactly-once across restarts: append_and_score is idempotent per
    batch_id (before_seq replay; see _micro_batches). Returns the
    StreamingQuery."""
    from ..operators.span_index import SpanIndex

    idx = SpanIndex(index_root, w=w, min_docs=min_docs)

    def score_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        scored = idx.append_and_score(
            spark, batch_df.select("doc_id", "text"),
            batch_id=f"stream-{batch_id}")
        if max_frac is not None:
            scored = scored.where(F.col("dup_span_frac") <= max_frac)
        return scored

    return _micro_batches(spark, in_dir, "doc_id long, text string",
                          out_dir, checkpoint_dir, score_batch)


def stream_decontaminate(spark: SparkSession, in_dir: str, eval_path: str,
                         out_dir: str, checkpoint_dir: str,
                         ngram: int = 3, fuzzy_jaccard: float = None,
                         bands: int = 4, rows: int = 2,
                         bloom: bool = False, bloom_m: int = None):
    """Streaming benchmark decontamination: every micro-batch of
    incoming documents is filtered against a STATIC eval/benchmark set
    — the exact word-n-gram blocklist, plus (with ``fuzzy_jaccard``
    set) the paraphrase-robust MinHash-LSH pass
    (operators/curation.py sketch_contamination), plus (with
    ``bloom=True``) the whole-text Bloom exact tier for eval sets too
    big to broadcast as n-grams (bloom_decontaminate's filter: the
    bitmap builds ONCE at stream setup and rides every micro-batch
    plan as a literal, the confirm join touches Bloom-positive rows
    only). The ingestion-side twin of run_curate's
    --eval/--eval-fuzzy/--eval-bloom.

    Unlike the dedup twins there is NOTHING TO INDEX: decontamination
    is memoryless (the eval set is fixed), so each batch is a pure
    map-side filter — the blocklist and the eval sketch rows broadcast
    once and the batch never shuffles (the per-doc candidate aggregate
    shuffles band collisions only). Exactly-once across restarts the
    simple way: per-batch output dirs are overwritten on replay.
    Survivors land under ``out_dir/batch=<id>/``. Returns the
    StreamingQuery."""
    from ..operators.curation import (
        bloom_bitmap_df,
        bloom_contaminated,
        bloom_eval_texts,
        eval_ngrams,
        sketch_contamination,
    )
    from ..operators.dedup import _word_shingles

    eval_docs = spark.read.parquet(eval_path)
    block = F.broadcast(eval_ngrams(eval_docs, n=ngram))
    bloom_df = bloom_texts = None
    bloom_mbits = 0
    if bloom:
        # cache: every micro-batch's confirm join reuses these frames —
        # without it each batch re-scans the eval parquet and re-runs
        # the distinct shuffle (prohibitive at registry-scale eval
        # sets). The bitmap is the round-6 executor-built one-row
        # frame (never a plan literal), cached so the position
        # explode/bit_or runs once per stream, not per micro-batch.
        from ..operators.curation import bloom_size
        bloom_texts = bloom_eval_texts(eval_docs).cache()
        bloom_mbits = bloom_m or bloom_size(bloom_texts.count())
        bloom_df = bloom_bitmap_df(
            bloom_texts, "_etext", m_bits=bloom_mbits).cache()

    def filter_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        hits = (batch_df.select(
            "doc_id", F.explode(_word_shingles(ngram)).alias("ngram"))
            .join(block, "ngram").select("doc_id").distinct())
        kept = batch_df.join(hits, "doc_id", "left_anti")
        if bloom_df is not None:
            bhits = bloom_contaminated(kept.select("doc_id", "text"),
                                       bloom_texts, bloom_df,
                                       m_bits=bloom_mbits)
            kept = kept.join(bhits, "doc_id", "left_anti")
        if fuzzy_jaccard is not None:
            fh = sketch_contamination(
                kept.select("doc_id", "text"), eval_docs,
                jaccard_min=fuzzy_jaccard, bands=bands, rows=rows)
            kept = kept.join(fh.select("doc_id"), "doc_id", "left_anti")
        return kept

    return _micro_batches(spark, in_dir, "doc_id string, text string",
                          out_dir, checkpoint_dir, filter_batch)
