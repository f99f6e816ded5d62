"""The workloads and the per-layer probes they share.

A workload's ``run_pass`` does one operation: it times the calls into the
program and checks the outputs outside the timed region. It returns
(seconds, docs, errors). The harness in ``run.py`` owns warm-up, the
timed loop and the result line.
"""
from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from typing import Dict, List, Optional

from . import checks, inputs
from .trace import TimedStore, Timings, functions_probe, job_group

BUCKETS = 2                 # checkpoint buckets per run
KILL_AFTER = BUCKETS // 2   # committed buckets before the simulated crash
GOLDEN_SAMPLE = 40          # docs compared field by field with the oracle
PROBE_DOCS = 400            # corpus of the probes for layers a workload skips
PROBE_BATCHES, PROBE_BATCH_DOCS = 3, 60
FUNCTIONS_DOCS = 1000       # docs the functions-kernel probe runs on
PIPELINE_REPS = 2
COS_MIN = 0.95              # SemanticIndex drop threshold


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _file_count(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


class Context:
    def __init__(self, spark, work: str, seed: int, trace: bool,
                 cores: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.trace, self.cores = trace, cores
        self.timings = Timings()
        self.probe_corpus = None        # written on first use by a probe

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# -- shared operations --------------------------------------------------------

def extraction_rows(ext, sample_ids) -> List[Dict]:
    """Collect extraction outputs in the shape checks.extraction_errors
    reads: span texts and fields only for the sampled docs."""
    from pyspark.sql import functions as F
    sampled = F.col("doc_id").isin(sorted(sample_ids))
    cols = [F.when(sampled, F.col(c)).alias(c)
            for c in checks.FIELD_COLS + ("zones",)]
    rows = []
    for r in ext.select("doc_id", "out_spans", *cols).collect():
        keep_text = r["doc_id"] in sample_ids
        row = r.asDict()
        row["spans"] = [(s["kind"], s["text"] if keep_text else None,
                         s["media_ref"], s["order"]) for s in r["out_spans"]]
        if keep_text:
            z = r["zones"]
            row["zones"] = (z["header"], z["body"], z["footer"])
        rows.append(row)
    return rows


def golden_sample(docs, payloads, seed: int) -> Dict[str, Dict]:
    """Oracle spans and fields of a seeded doc sample."""
    from document_ai_spark.plans import oracle
    sample = random.Random(seed).sample(docs, min(GOLDEN_SAMPLE, len(docs)))
    refs = {s["media_ref"] for d in sample for s in d["spans"]}
    spans, fields = oracle.golden(
        sample, [p for p in payloads if p["media_ref"] in refs])
    out = {r["doc_id"]: dict(r) for r in fields}
    for r in spans:
        out[r["doc_id"]]["spans"] = r["spans"]
    return out


def checkpoint_cycle(ctx: Context, docs_df, pay_df, root: str,
                     timings: Optional[Timings]):
    """Ingest, run until the simulated crash after KILL_AFTER buckets,
    then resume to completion. Returns (seconds, buckets the resume
    skipped)."""
    from document_ai_spark.streaming.checkpoint import (
        JobKilled, ManifestStore, ingest_bucketed, run_checkpointed)

    def store():
        s = ManifestStore(root)
        return TimedStore(s, timings) if timings else s

    input_path = os.path.join(root, "_input")
    t0 = time.perf_counter()
    ingest_bucketed(docs_df, input_path, BUCKETS)
    if timings:
        timings.spans["checkpoint.ingest_s"].append(time.perf_counter() - t0)
    try:
        run_checkpointed(ctx.spark, None, pay_df, root, buckets=BUCKETS,
                         fail_after=KILL_AFTER, docs_path=input_path,
                         store=store())
        raise RuntimeError("the simulated crash did not happen")
    except JobKilled:
        pass
    resume = store()
    skipped = len(resume.committed_buckets())
    run_checkpointed(ctx.spark, None, pay_df, root, buckets=BUCKETS,
                     docs_path=input_path, store=resume)
    return time.perf_counter() - t0, skipped


def checkpoint_errors(ctx: Context, root: str, docs, golden) -> List[str]:
    """Check the committed output as a checkpointed run and as an
    extraction of ``docs``."""
    from document_ai_spark.streaming.checkpoint import ManifestStore
    store = ManifestStore(root)
    rows = extraction_rows(store.read_committed(ctx.spark), set(golden))
    return (checks.checkpoint_errors(
                [d["doc_id"] for d in docs], [r["doc_id"] for r in rows],
                list(store.committed_buckets().values()))
            + checks.extraction_errors(docs, rows, golden))


def streaming_metrics(t: Timings, root: str, skipped: int) -> Dict:
    from document_ai_spark.streaming.checkpoint import ManifestStore
    store = ManifestStore(root)
    lineage = store.committed_buckets()
    return {
        "checkpoint.ingest_s": t.median("checkpoint.ingest_s"),
        "checkpoint.bucket_p50_s": statistics.median(
            m["latency_ms"] for m in lineage.values()) / 1e3,
        "store.write_bucket_s": t.median("store.write_bucket_s"),
        "store.commit_s": t.median("store.commit_s"),
        "store.committed_buckets_s": t.median("store.committed_buckets_s"),
        "checkpoint.resume_skipped_buckets": skipped,
        "store.files_per_bucket": statistics.mean(
            _file_count(store.committed_path(b)) for b in lineage),
    }


def write_stream(batches, out_dir: str) -> List[tuple]:
    """Write each batch's texts and vectors as parquet; return the paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    paths = []
    for b, batch in enumerate(batches):
        tp = os.path.join(out_dir, f"texts-{b:02d}.parquet")
        vp = os.path.join(out_dir, f"vectors-{b:02d}.parquet")
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(pa.table({
            "doc_id": [d for d, _ in batch.texts],
            "text": [t for _, t in batch.texts]}), tp)
        pq.write_table(pa.table({
            "vec_id": pa.array([v for v, _ in batch.vectors], pa.int64()),
            "embedding": pa.array([e for _, e in batch.vectors],
                                  pa.list_(pa.float64()))}), vp)
        paths.append((tp, vp))
    return paths


def curate_stream(ctx: Context, paths, root: str,
                  timings: Optional[Timings]):
    """Append every batch to fresh persisted sketch and semantic indexes.
    Returns (seconds, pairs per batch, verdicts per batch)."""
    from document_ai_spark.operators.sketch_index import SketchIndex
    from document_ai_spark.operators.vector_index import SemanticIndex
    spark = ctx.spark
    pairs, verdicts = [], []
    t0 = time.perf_counter()
    sketch = SketchIndex(os.path.join(root, "sketch"))
    sem = SemanticIndex(os.path.join(root, "semantic"), cos_min=COS_MIN)
    for b, (tp, vp) in enumerate(paths):
        t_b = time.perf_counter()
        pairs.append([(r["doc_a"], r["doc_b"]) for r in sketch.append_and_find(
            spark, spark.read.parquet(tp), f"b{b:02d}").collect()])
        t_s = time.perf_counter()
        verdicts.append([r.asDict() for r in sem.append_and_find(
            spark, spark.read.parquet(vp), f"b{b:02d}").collect()])
        if timings:
            timings.spans["sketch_index.append"].append(t_s - t_b)
            timings.spans["semantic_index.append"].append(
                time.perf_counter() - t_s)
    secs = time.perf_counter() - t0
    if timings:
        with timings.timed("batch_index.committed_batches_s"):
            sketch.committed_batches()
    return secs, pairs, verdicts


def _growth(per_batch: List[float], batches: int) -> float:
    """Mean of the last quarter over the first quarter of the batches
    that probe an index (every batch but the first), median over
    streams."""
    ratios = []
    for i in range(0, len(per_batch), batches):
        probing = per_batch[i + 1:i + batches]
        q = max(1, len(probing) // 4)
        ratios.append(statistics.mean(probing[-q:])
                      / statistics.mean(probing[:q]))
    return statistics.median(ratios)


def operator_metrics(ctx: Context, t: Timings, root: str, batches: int,
                     pairs, verdicts) -> Dict:
    infos = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return {
        "sketch_index.append_s": statistics.median(
            t.spans["sketch_index.append"]),
        "semantic_index.append_s": statistics.median(
            t.spans["semantic_index.append"]),
        "sketch_index.append_growth": _growth(
            t.spans["sketch_index.append"], batches),
        "semantic_index.append_growth": _growth(
            t.spans["semantic_index.append"], batches),
        "batch_index.committed_batches_s": t.median(
            "batch_index.committed_batches_s"),
        "operators.pairs_found": sum(len(p) for p in pairs),
        "operators.vectors_dropped": sum(
            1 for rows in verdicts for r in rows if not r["sem_keep"]),
        "operators.index_files": _file_count(root),
        "operators.held_block_bytes": held,
    }


def pipeline_metrics(ctx: Context, docs_df, pay_df) -> Dict:
    """Noop-sink timings of the pipeline's public stage functions."""
    from document_ai_spark.plans import pipeline as P
    t = Timings()
    with job_group(ctx.spark, "perfbench.probe.pipeline"):
        for _ in range(PIPELINE_REPS):
            with t.timed("pipeline.derive_salt_s"):
                P.derive_salt_buckets(docs_df)
            with t.timed("pipeline.parse_spans_s"):
                (P.parse_spans(docs_df, pay_df).write.format("noop")
                 .mode("overwrite").save())
            with t.timed("pipeline.extract_s"):
                (P.extract(docs_df, pay_df).write.format("noop")
                 .mode("overwrite").save())
    return {k: t.median(k) for k in t.spans}


# -- probes for the layers a workload does not exercise -----------------------

def _probe_corpus(ctx: Context):
    if ctx.probe_corpus is None:
        ctx.probe_corpus = inputs.write_corpus(
            ctx.spark, ctx.path("probe-corpus"), PROBE_DOCS, ctx.seed)
    return ctx.probe_corpus


def probe_streaming(ctx: Context) -> Dict:
    docs_df, pay_df = _probe_corpus(ctx)
    t = Timings()
    root = ctx.path("probe-checkpoint")
    with job_group(ctx.spark, "perfbench.probe.streaming"):
        _, skipped = checkpoint_cycle(ctx, docs_df, pay_df, root, t)
    return streaming_metrics(t, root, skipped)


def probe_operators(ctx: Context) -> Dict:
    batches = inputs.stream_batches(ctx.seed, PROBE_BATCHES, PROBE_BATCH_DOCS)
    paths = write_stream(batches, ctx.path("probe-stream"))
    t = Timings()
    root = ctx.path("probe-indexes")
    with job_group(ctx.spark, "perfbench.probe.operators"):
        _, pairs, verdicts = curate_stream(ctx, paths, root, t)
    return operator_metrics(ctx, t, root, PROBE_BATCHES, pairs, verdicts)


def probe_pipeline(ctx: Context) -> Dict:
    return pipeline_metrics(ctx, *_probe_corpus(ctx))


def probe_functions(ctx: Context, docs=None, payloads=None) -> Dict:
    if docs is None:
        docs, payloads = inputs.corpus_rows(FUNCTIONS_DOCS, ctx.seed)
    docs = docs[:FUNCTIONS_DOCS]
    refs = {s["media_ref"] for d in docs for s in d["spans"]}
    return functions_probe(docs, [p for p in payloads
                                  if p["media_ref"] in refs])


# -- workloads ----------------------------------------------------------------

class ExtractCheckpointed:
    """Each pass: ingest, a checkpointed run killed after half its
    buckets, and a resume to completion into a fresh ManifestStore."""

    warmup_docs = inputs.CHECKPOINT_DOCS
    pass_s = 6.0        # nominal seconds of a warm pass on 4 cores

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.n_docs = inputs.CHECKPOINT_DOCS
        self.passes = 0
        self.last_bytes = 0

    def setup(self) -> str:
        ctx = self.ctx
        self.docs, self.payloads = inputs.corpus_rows(self.n_docs, ctx.seed)
        self.docs_df, self.pay_df = inputs.write_corpus(
            ctx.spark, ctx.path("corpus"), self.n_docs, ctx.seed)
        self.golden = golden_sample(self.docs, self.payloads, ctx.seed)
        return inputs.corpus_fingerprint(self.docs, self.payloads)

    def run_pass(self):
        ctx = self.ctx
        root = ctx.path(f"checkpoint-{self.passes:03d}")
        self.passes += 1
        timings = ctx.timings if ctx.trace else None
        secs, self.skipped = checkpoint_cycle(ctx, self.docs_df, self.pay_df,
                                              root, timings)
        errors = checkpoint_errors(ctx, root, self.docs, self.golden)
        self.last_bytes = dir_bytes(os.path.join(root, "data"))
        if self.passes > 1:     # keep the newest store for the trace
            shutil.rmtree(ctx.path(f"checkpoint-{self.passes - 2:03d}"))
        self.last_root = root
        return secs, self.n_docs, errors

    def stored_ratio(self) -> float:
        return self.last_bytes / dir_bytes(self.ctx.path("corpus"))

    def layer_metrics(self) -> Dict:
        ctx = self.ctx
        return {**probe_functions(ctx, self.docs, self.payloads),
                **pipeline_metrics(ctx, self.docs_df, self.pay_df),
                **streaming_metrics(ctx.timings, self.last_root,
                                    self.skipped),
                **probe_operators(ctx)}


class CurateStream:
    """Each pass streams every batch through SketchIndex and
    SemanticIndex ``append_and_find`` on fresh persisted indexes."""

    warmup_docs = inputs.BATCHES * inputs.BATCH_DOCS
    pass_s = 12.0       # nominal seconds of a warm pass on 4 cores

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.n_docs = inputs.BATCHES * inputs.BATCH_DOCS
        self.passes = 0
        self.last_bytes = 0

    def setup(self) -> str:
        self.batches = inputs.stream_batches(self.ctx.seed)
        self.paths = write_stream(self.batches, self.ctx.path("stream"))
        return inputs.stream_fingerprint(self.batches)

    def run_pass(self):
        ctx = self.ctx
        root = ctx.path(f"indexes-{self.passes:03d}")
        self.passes += 1
        timings = ctx.timings if ctx.trace else None
        secs, pairs, verdicts = curate_stream(ctx, self.paths, root, timings)
        errors = checks.curation_errors(self.batches, pairs, verdicts,
                                        COS_MIN)
        self.last_bytes = dir_bytes(root)
        self.last = (root, pairs, verdicts)
        return secs, self.n_docs, errors

    def stored_ratio(self) -> float:
        return self.last_bytes / dir_bytes(self.ctx.path("stream"))

    def layer_metrics(self) -> Dict:
        ctx = self.ctx
        root, pairs, verdicts = self.last
        return {**probe_functions(ctx), **probe_pipeline(ctx),
                **probe_streaming(ctx),
                **operator_metrics(ctx, ctx.timings, root, inputs.BATCHES,
                                   pairs, verdicts)}


WORKLOADS = {
    "extract_checkpointed": ExtractCheckpointed,
    "curate_stream": CurateStream,
}
