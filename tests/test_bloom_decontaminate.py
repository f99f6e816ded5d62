"""bloom_decontaminate: exact-output equivalence regardless of Bloom
false positives, plus the bitmap/probe primitives.

The op's contract is that the Bloom layer is a pure prefilter: the
(doc_id, keep) output must equal a plain exact anti-join for EVERY
(m_bits, k), including pathologically small bitmaps where nearly every
document is a false positive. These tests pin that, plus the null/empty
edges and the probe-distinctness property the double-hash construction
guarantees.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_ai_spark.operators.curation import (
    BLOOM_K,
    bloom_bitmap,
    bloom_decontaminate,
    bloom_hit,
)


def _docs(spark):
    rows = [(i, f"document body number {i} with shared prefix")
            for i in range(40)]
    rows += [(100 + i, f"document body number {i} with shared prefix")
             for i in range(0, 40, 5)]          # exact copies of 0,5,..,35
    rows.append((200, None))                    # null text
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _evals(spark):
    rows = [(f"document body number {i} with shared prefix",)
            for i in range(0, 40, 5)]
    rows += [("an eval question that appears nowhere in the corpus",),
             (None,)]
    return spark.createDataFrame(rows, "text string")


def _exact_keep(spark):
    """Ground truth via a plain exact anti-join."""
    ev = _evals(spark).where(F.col("text").isNotNull()).distinct()
    hit = (_docs(spark).join(ev, "text", "left_semi")
           .select("doc_id").toPandas()["doc_id"])
    contaminated = set(hit)
    return {r["doc_id"]: r["doc_id"] not in contaminated
            for r in _docs(spark).select("doc_id").collect()}


@pytest.mark.parametrize("m_bits", [64, 1 << 10, 1 << 16])
def test_output_exact_at_any_bitmap_size(spark, m_bits):
    got = {r["doc_id"]: r["keep"]
           for r in bloom_decontaminate(_docs(spark), _evals(spark),
                                        m_bits=m_bits).collect()}
    assert got == _exact_keep(spark)


def test_tiny_bitmap_floods_candidates_but_not_output(spark):
    """m_bits=64 with 9 eval texts saturates the bitmap: most documents
    are Bloom-positive, yet the confirm join keeps the verdict exact."""
    ev = (_evals(spark).where(F.col("text").isNotNull())
          .select(F.col("text").alias("_etext")).distinct())
    words = bloom_bitmap(ev, "_etext", m_bits=64)
    n_cand = (_docs(spark)
              .where(F.col("text").isNotNull()
                     & bloom_hit(F.col("text"), words)).count())
    n_true = sum(not keep for keep in _exact_keep(spark).values())
    assert n_cand > n_true          # false positives present...
    got = {r["doc_id"]: r["keep"]
           for r in bloom_decontaminate(_docs(spark), _evals(spark),
                                        m_bits=64).collect()}
    assert got == _exact_keep(spark)   # ...and the output ignores them


def test_null_text_and_empty_eval(spark):
    empty = spark.createDataFrame([], "text string")
    got = bloom_decontaminate(_docs(spark), empty, m_bits=1 << 10)
    assert all(r["keep"] for r in got.collect())
    # the null-text document is keep=true even with a real eval set
    got2 = {r["doc_id"]: r["keep"]
            for r in bloom_decontaminate(_docs(spark), _evals(spark),
                                         m_bits=1 << 10).collect()}
    assert got2[200] is True


def test_row_completeness(spark):
    out = bloom_decontaminate(_docs(spark), _evals(spark), m_bits=1 << 10)
    assert out.count() == _docs(spark).count()
    assert out.columns == ["doc_id", "keep"]


def test_probe_positions_distinct_and_bounded(spark):
    """Odd stride on a power-of-two table => the k probes of every key
    are pairwise distinct and in [0, m)."""
    from document_ai_spark.operators.curation import _bloom_positions
    m = 1 << 10
    bad = (_docs(spark).where(F.col("text").isNotNull())
           .select(_bloom_positions(F.col("text"), m, BLOOM_K).alias("p"))
           .where((F.size(F.array_distinct("p")) != BLOOM_K)
                  | F.exists("p", lambda x: (x < 0) | (x >= m)))
           .count())
    assert bad == 0


def test_bitmap_build_matches_probe_reads(spark):
    """Every eval key must hit its own bitmap (no false negatives by
    construction)."""
    ev = (_evals(spark).where(F.col("text").isNotNull())
          .select(F.col("text").alias("_etext")).distinct())
    words = bloom_bitmap(ev, "_etext", m_bits=1 << 12)
    misses = ev.where(~bloom_hit(F.col("_etext"), words)).count()
    assert misses == 0


def test_registry_scale_bitmap_2pow26(spark):
    """Round-6 verdict criterion: at m_bits = 2^26 (the ~10^6.5-key
    class where the old F.lit(words) plan literal took minutes of
    driver time and never finished Column construction) the
    executor-built bitmap frame must (a) keep the output equal to the
    exact anti-join, (b) leave the corpus side exchange-free before
    the confirm join, and (c) deliver the bitmap via broadcast — (b)
    and (c) are pinned by test_bitmap_frame_plan_shape."""
    out = bloom_decontaminate(_docs(spark), _evals(spark), m_bits=1 << 26)
    got = {r["doc_id"]: r["keep"] for r in out.collect()}
    assert got == _exact_keep(spark)


def test_bitmap_frame_plan_shape(spark):
    """The candidate-filter subtree must show the round-6 shape: the
    bitmap arrives via BroadcastExchange (broadcast cross join of the
    one-row frame), and the corpus side of the candidate filter has no
    Exchange below the confirm join's shuffle."""
    from document_ai_spark.operators.curation import (
        bloom_bitmap_df,
        bloom_eval_texts,
        bloom_hit_col,
    )

    ev = bloom_eval_texts(_evals(spark))
    bm = bloom_bitmap_df(ev, "_etext", m_bits=1 << 12)
    cand = (_docs(spark).where(F.col("text").isNotNull())
            .crossJoin(F.broadcast(bm))
            .where(bloom_hit_col(F.col("text"), F.col("_bm"), 1 << 12)))
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    # corpus side: scan -> filter -> broadcast nested loop; the only
    # exchanges in the whole candidate plan belong to the bitmap BUILD
    # (positions distinct + word bit_or + global collect_list), never
    # to the corpus scan subtree.
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in corpus_side


def test_bitmap_frame_matches_list_bitmap(spark):
    """bloom_bitmap_df's dense word array must equal bloom_bitmap's
    list word-for-word (same positions aggregate, densified on the
    executors instead of the driver)."""
    from document_ai_spark.operators.curation import bloom_bitmap_df

    ev = (_evals(spark).where(F.col("text").isNotNull())
          .select(F.col("text").alias("_etext")).distinct())
    words = bloom_bitmap(ev, "_etext", m_bits=1 << 12)
    frame = bloom_bitmap_df(ev, "_etext", m_bits=1 << 12).collect()
    assert len(frame) == 1
    assert list(frame[0]["_bm"]) == words
    # empty eval set -> one all-zero row
    empty = spark.createDataFrame([], "_etext string")
    z = bloom_bitmap_df(empty, "_etext", m_bits=256).collect()
    assert len(z) == 1 and list(z[0]["_bm"]) == [0, 0, 0, 0]


def test_contaminated_accepts_deprecated_words_keyword(spark):
    """bloom_contaminated(..., words=<list bitmap>) — the parameter's
    former name — still works, warns, and equals the bitmap= form."""
    from document_ai_spark.operators.curation import (
        bloom_contaminated,
        bloom_eval_texts,
    )

    ev = bloom_eval_texts(_evals(spark))
    words = bloom_bitmap(ev, "_etext", m_bits=1 << 12)
    with pytest.warns(DeprecationWarning, match="words"):
        old = bloom_contaminated(_docs(spark), ev, words=words)
    new = bloom_contaminated(_docs(spark), ev, bitmap=words)
    got = {r["doc_id"] for r in old.collect()}
    assert got == {r["doc_id"] for r in new.collect()} and got
    with pytest.raises(TypeError):
        bloom_contaminated(_docs(spark), ev, bitmap=words, words=words)
