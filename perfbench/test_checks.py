"""The benchmark's output checks pass on correct outputs and fail on each
kind of corruption they exist to catch.

    python3 -m pytest perfbench -q

Correct outputs come from the single-node oracle (extraction) or from
the planted copies themselves (curation), at a few hundred docs; no
Spark session is started.
"""
from __future__ import annotations

import copy

import pytest

from perfbench import checks, inputs

SEED = 7


@pytest.fixture(scope="module")
def extraction():
    from document_ai_spark.plans import oracle
    docs, payloads = inputs.corpus_rows(300, SEED)
    spans, fields = oracle.golden(docs, payloads)
    golden = {r["doc_id"]: dict(r) for r in fields}
    for r in spans:
        golden[r["doc_id"]]["spans"] = r["spans"]
    rows = [dict(golden[d["doc_id"]]) for d in docs]
    sample = {d["doc_id"]: golden[d["doc_id"]] for d in docs[::10]}
    return docs, rows, sample


def test_extraction_passes_on_oracle_output(extraction):
    docs, rows, sample = extraction
    assert checks.extraction_errors(docs, rows, sample) == []


def test_extraction_fails_on_dropped_doc(extraction):
    docs, rows, sample = extraction
    assert checks.extraction_errors(docs, rows[1:], sample)


def test_extraction_fails_on_duplicated_doc(extraction):
    docs, rows, sample = extraction
    assert checks.extraction_errors(docs, rows + [rows[5]], sample)


def test_extraction_fails_on_swapped_spans(extraction):
    docs, rows, sample = extraction
    i = next(i for i, r in enumerate(rows)
             if len(r["spans"]) >= 2 and r["doc_id"] not in sample)
    bad = copy.deepcopy(rows)
    s = bad[i]["spans"]
    s[0], s[1] = s[1], s[0]
    assert checks.extraction_errors(docs, bad, sample)


def test_extraction_fails_on_wrong_field(extraction):
    docs, rows, sample = extraction
    i = next(i for i, r in enumerate(rows) if r["doc_id"] in sample)
    bad = copy.deepcopy(rows)
    bad[i]["horse_power"] = (bad[i]["horse_power"] or 0) + 1
    assert checks.extraction_errors(docs, bad, sample)


def test_checkpoint_checks():
    ids = [f"doc_{i:09d}" for i in range(300)]
    lineage = [{"rows_in": 150, "rows_out": 150}] * 2
    assert checks.checkpoint_errors(ids, ids, lineage) == []
    assert checks.checkpoint_errors(ids, ids[1:], lineage)
    assert checks.checkpoint_errors(ids, ids + ids[:1], lineage)
    assert checks.checkpoint_errors(
        ids, ids, [{"rows_in": 150, "rows_out": 150}])


@pytest.fixture(scope="module")
def stream():
    """4 batches x 80 docs, outputs as a correct program reports them: every
    vector in one cluster, each planted text pair found, each planted
    embedding copy dropped and every other vector kept."""
    batches = inputs.stream_batches(SEED, batches=4, batch_docs=80)
    pairs = [list(b.text_copies) for b in batches]
    verdicts = []
    for b in batches:
        copies = {c for c, _ in b.emb_copies}
        verdicts.append([{"vec_id": v, "centroid_id": 0, "cos_c": 0.0,
                          "sem_keep": v not in copies}
                         for v, _ in b.vectors])
    return batches, pairs, verdicts


def test_curation_passes_on_correct_output(stream):
    assert checks.curation_errors(*stream, cos_min=0.95) == []


def test_curation_fails_on_kept_embedding_copy(stream):
    batches, pairs, verdicts = stream
    bad = copy.deepcopy(verdicts)
    copy_id = batches[2].emb_copies[0][0]
    next(r for r in bad[2] if r["vec_id"] == copy_id)["sem_keep"] = True
    assert checks.curation_errors(batches, pairs, bad, cos_min=0.95)


def test_curation_fails_on_missing_text_pair(stream):
    batches, pairs, verdicts = stream
    bad = copy.deepcopy(pairs)
    bad[3] = bad[3][1:]
    assert checks.curation_errors(batches, bad, verdicts, cos_min=0.95)


def test_curation_fails_on_unjustified_drop(stream):
    batches, pairs, verdicts = stream
    bad = copy.deepcopy(verdicts)
    next(r for r in bad[1] if r["sem_keep"])["sem_keep"] = False
    assert checks.curation_errors(batches, pairs, bad, cos_min=0.95)


def test_planted_text_copies_are_one_word_edits(stream):
    batches, _, _ = stream
    text = {d: t for b in batches for d, t in b.texts}
    for b in batches:
        for c, s in b.text_copies:
            a, o = text[c].split(), text[s].split()
            assert a[:-1] == o[:-1] and a[-1] != o[-1]
