"""Seeded inputs for the benchmark workloads, and their fingerprints.

The extraction workloads read a ``sources/docgen`` corpus written to
parquet by the program's own distributed writer. The curation workload
reads a text + embedding stream that this module generates itself, with
planted near-copies whose expected verdicts are known up front.

Every input is a pure function of (workload size, seed). Its fingerprint
is a SHA-256 over a canonical JSON form of the generated rows, checked
against ``fingerprints.json`` so that a change to the generator reads as
a changed workload rather than as a change in speed.
"""
from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import numpy as np

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")

# Extraction corpus of extract_checkpointed. Each pass runs the pipeline
# once per bucket plus a kill and a resume, about 2 s of fixed cost per
# bucket on 4 cores, so the corpus is kept small.
CHECKPOINT_DOCS = 400

# Curation stream: BATCHES x BATCH_DOCS docs per pass. From the second
# batch on, TEXT_COPY_SHARE of a batch are one-word edits of earlier
# texts and EMB_COPY_SHARE are x2-scaled copies of earlier embeddings.
BATCHES = 3
BATCH_DOCS = 100
TEXT_COPY_SHARE = 0.10
EMB_COPY_SHARE = 0.10
EMB_DIM = 32
VOCAB = 4000
WORDS_MIN, WORDS_MAX = 150, 250


def _digest(obj) -> str:
    blob = json.dumps(obj, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


# -- extraction corpus --------------------------------------------------------

def corpus_rows(n_docs: int, seed: int) -> Tuple[List[Dict], List[Dict]]:
    """The docs and payload rows docgen generates for (n_docs, seed), the
    same rows ``write_corpus`` writes (both call ``docgen.gen_doc``)."""
    from document_ai_spark.sources.docgen import gen_corpus_local
    return gen_corpus_local(n_docs, seed)


def corpus_fingerprint(docs: List[Dict], payloads: List[Dict]) -> str:
    return _digest([docs, payloads])


def write_corpus(spark, out_dir: str, n_docs: int, seed: int):
    """Write the corpus with the program's writer, one file per core;
    return (docs, payloads) DataFrames read back from parquet."""
    from document_ai_spark.sources.docgen import write_corpus as docgen_write
    docgen_write(spark, out_dir, n_docs=n_docs, seed=seed,
                 partitions=spark.sparkContext.defaultParallelism)
    return (spark.read.parquet(f"{out_dir}/documents_interleaved.parquet"),
            spark.read.parquet(f"{out_dir}/media_payloads.parquet"))


# -- curation stream ----------------------------------------------------------

@dataclass
class StreamBatch:
    texts: List[Tuple[str, str]]                  # (doc_id, text)
    vectors: List[Tuple[int, List[float]]]        # (vec_id, embedding)
    text_copies: List[Tuple[str, str]] = field(default_factory=list)
    emb_copies: List[Tuple[int, int]] = field(default_factory=list)


def stream_batches(seed: int, batches: int = BATCHES,
                   batch_docs: int = BATCH_DOCS) -> List[StreamBatch]:
    """Text + embedding batches with planted copies of EARLIER batches.

    A text copy replaces the last word of an earlier original with a
    different word: one of its word 3-shingles changes, so its Jaccard to
    the source is (S-1)/(S+1) >= 0.986 for S >= 148 shingles and every
    one of the index's 4 LSH bands collides with probability >= 0.97.
    An embedding copy is its source times 2, so the cosine is exactly 1.
    """
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choices(letters, k=rng.randint(3, 9)))
                    for _ in range(VOCAB)})
    orig_texts: List[Tuple[str, str]] = []
    orig_vecs: List[Tuple[int, List[float]]] = []
    out: List[StreamBatch] = []
    n_text = int(batch_docs * TEXT_COPY_SHARE)
    n_emb = int(batch_docs * EMB_COPY_SHARE)
    for b in range(batches):
        batch = StreamBatch([], [])
        text_slots = set(rng.sample(range(batch_docs), n_text)) if b else set()
        emb_slots = set(rng.sample(range(batch_docs), n_emb)) if b else set()
        new_texts, new_vecs = [], []
        for j in range(batch_docs):
            doc_id = f"s{b:02d}-{j:05d}"
            vec_id = b * 100_000 + j
            if j in text_slots:
                src_id, src = rng.choice(orig_texts)
                words = src.split()
                last = words[-1]
                while words[-1] == last:
                    words[-1] = rng.choice(vocab)
                batch.texts.append((doc_id, " ".join(words)))
                batch.text_copies.append((doc_id, src_id))
            else:
                words = rng.choices(vocab, k=rng.randint(WORDS_MIN, WORDS_MAX))
                text = " ".join(words)
                batch.texts.append((doc_id, text))
                new_texts.append((doc_id, text))
            if j in emb_slots:
                src_vid, src_vec = orig_vecs[rng.randrange(len(orig_vecs))]
                batch.vectors.append((vec_id, [2.0 * x for x in src_vec]))
                batch.emb_copies.append((vec_id, src_vid))
            else:
                vec = [float(x) for x in nrng.standard_normal(EMB_DIM)]
                batch.vectors.append((vec_id, vec))
                new_vecs.append((vec_id, vec))
        orig_texts += new_texts
        orig_vecs += new_vecs
        out.append(batch)
    return out


def stream_fingerprint(batches: List[StreamBatch]) -> str:
    return _digest([[b.texts, b.vectors, b.text_copies, b.emb_copies]
                    for b in batches])


# -- recorded fingerprints ----------------------------------------------------

def fingerprint(workload: str, seed: int) -> str:
    """Fingerprint of the inputs ``workload`` generates for ``seed``."""
    if workload == "extract_checkpointed":
        return corpus_fingerprint(*corpus_rows(CHECKPOINT_DOCS, seed))
    if workload == "curate_stream":
        return stream_fingerprint(stream_batches(seed))
    raise ValueError(f"unknown workload {workload!r}")


def recorded_fingerprint(workload: str, seed: int):
    """The recorded fingerprint for (workload, seed), or None when that
    seed was never recorded."""
    with open(FINGERPRINTS) as f:
        return json.load(f).get(workload, {}).get(str(seed))
