"""Checkpointed, resumable extraction runs with per-partition lineage.

North-rule requirement: "every partition writes lineage + row-count/latency
metrics to a checkpoint table so a killed job resumes exactly at the last
committed Iceberg snapshot". Storage is behind the SnapshotStore interface
(store.py): ManifestStore (parquet + atomic-rename manifests — always
available) or IcebergStore (real catalog, when the runtime jars resolve).

A "partition" here is a deterministic doc_id hash bucket — stable across
runs and cluster sizes, which is what makes resume exact: re-running skips
every bucket whose commit record exists, and reprocessing a bucket is
idempotent (same input slice -> same output).

Scan discipline: the input is first INGESTED ONCE into a parquet layout
physically partitioned by the same pmod(xxhash64(doc_id), B) bucket
expression (or the caller points at an already-bucketed table). Each
bucket iteration then reads ONLY that bucket's files via partition
pruning — B iterations touch the input once in total, where filtering an
unpartitioned source per bucket would scan it B times (at 100 TB, 1 pass
vs 32). Row counts ride the write job itself as df.observe() metrics; no
separate count() jobs.

The reference analog is the batch-job progress dict + per-file error
capture (reference backend/main.py:522-562) and the WorkflowState
reasoning log (backend/services/coordinator.py:19-29) — there, in-memory
and lost on crash; here, durable and resumable.
"""
from __future__ import annotations

import json
import os
import time
from typing import Callable, Iterable, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .store import (  # noqa: F401  (re-exported public surface)
    IcebergStore,
    IcebergUnavailable,
    Lineage,
    ManifestStore,
    SnapshotStore,
    affected_buckets,
    iceberg_available,
    observed_value,
)


class JobKilled(RuntimeError):
    """Raised by the test hook to simulate a mid-run crash."""


def ingest_bucketed(docs_df: DataFrame, path: str, buckets: int) -> str:
    """One full pass over the source, written parquet-partitioned by the
    run's bucket expression so per-bucket reads prune to 1/B of files."""
    (docs_df
     .withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))
    return path


def bucket_slice(spark: SparkSession, input_path: str, bucket: int
                 ) -> DataFrame:
    """Partition-pruned read of one bucket (only bucket=<b>/ files)."""
    return (spark.read.parquet(input_path)
            .where(F.col("bucket") == bucket).drop("bucket"))


def run_checkpointed(
    spark: SparkSession,
    docs_df: Optional[DataFrame],
    payloads_df: DataFrame,
    out_root: str,
    run_id: str = "run-0",
    buckets: int = 16,
    extract_fn: Optional[Callable[[DataFrame, DataFrame], DataFrame]] = None,
    fail_after: Optional[int] = None,
    docs_path: Optional[str] = None,
    store: Optional[SnapshotStore] = None,
) -> SnapshotStore:
    """Bucket-at-a-time checkpointed run; resumes by skipping committed
    buckets. ``fail_after`` commits N buckets then raises (crash test).

    ``docs_path``, when given, must point at a parquet dataset already
    partitioned by a ``bucket`` column matching this run's bucket count
    (e.g. a previous ingest_bucketed output); ``docs_df`` is then unused.
    Otherwise ``docs_df`` is ingested once under ``out_root``/_input.

    Scan discipline caveat: the DOCS side is ingested bucketed (each
    bucket reads 1/B of files), but ``payloads_df`` is joined whole per
    bucket — B scans of the payload source. At scale, use the bucketed
    storage layout (sources/bucketed.py, run_extract.py
    --bucketed-layout), which co-partitions payloads by the same key
    and removes both the scans and the join exchanges.
    """
    from ..plans.pipeline import extract as default_extract

    extract_fn = extract_fn or default_extract
    store = store or ManifestStore(out_root)
    # The bucket count defines the doc->partition assignment; resuming with
    # a different count would skip the wrong slices. Pin it in run meta.
    os.makedirs(out_root, exist_ok=True)
    meta_path = os.path.join(out_root, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta["buckets"] != buckets:
            raise ValueError(
                f"store at {out_root} was created with buckets="
                f"{meta['buckets']}; cannot resume with buckets={buckets}")
    else:
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"buckets": buckets, "run_id": run_id}, f)
        os.rename(tmp, meta_path)

    if docs_path is None:
        docs_path = os.path.join(out_root, "_input")
        # Spark's _SUCCESS marker doubles as the ingest commit record: a
        # crash mid-ingest leaves it absent and the resume re-ingests.
        if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
            if docs_df is None:
                raise ValueError("docs_df or a pre-ingested docs_path "
                                 "is required")
            ingest_bucketed(docs_df, docs_path, buckets)

    # Default pipeline: derive the reassembly salt ONCE from the whole
    # ingested corpus instead of letting extract() re-run its
    # approxQuantile action on every bucket slice (one scan per bucket,
    # and per-bucket quantiles are the wrong population anyway —
    # SURVEY §7.4 sizes K from corpus span-count quantiles). The input
    # is immutable after ingest, so a resume re-derives the same K;
    # reassembly output is byte-identical for any K (pinned by
    # test_skew), making this purely a cost change.
    done = store.committed_buckets()
    committed_this_run = 0

    if extract_fn is default_extract:
        from ..plans.pipeline import derive_salt_buckets

        # Derived AFTER the committed-buckets check and only when work
        # remains: a fully-committed no-op resume must not pay the
        # corpus-wide approxQuantile scan (review finding). The input
        # is immutable after ingest, so any resume that does have
        # pending buckets re-derives the identical K.
        if len(done) < buckets:
            k_salt = derive_salt_buckets(spark.read.parquet(docs_path))

            def extract_fn(d, p):                   # noqa: E731
                return default_extract(d, p, salt_buckets=k_salt)

    from ..operators.dedup import collect_cap_metrics

    for b in range(buckets):
        if b in done:
            continue
        t0 = time.monotonic()
        obs_in = Observation()
        sub = bucket_slice(spark, docs_path, b)
        # Docs deleted while this bucket was uncommitted: the ingested
        # input still contains them, so filter them out here — otherwise
        # a resume-after-delete would silently resurrect deleted doc_ids.
        tombs = store.pending_tombstones(b)
        if tombs:
            sub = sub.where(~F.col("doc_id").isin(tombs))
        sub_raw = sub
        sub = sub.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
        # Plan metrics ride the write job itself and land in the lineage
        # row (Lineage.metrics): missing-payload counts from the output
        # column, LSH bucket-cap drops from any capped dedup stage the
        # extract_fn composed (collect_cap_metrics hooks
        # dedup._cap_bucket_items for the duration of the bucket).
        with collect_cap_metrics() as caps:
            # Bucket-aware extract functions (e.g. per-bucket incremental
            # dedup batch ids) declare a third REQUIRED parameter and
            # receive b. Count only non-defaulted positionals: the
            # default pipeline's extract(docs, payloads, salt_buckets=K)
            # must NOT get b as its salt count (bucket 0 would make the
            # reassembly salt pmod(offset, 0) — remainder by zero).
            import inspect
            required = [
                p for p in inspect.signature(extract_fn).parameters.values()
                if p.default is inspect.Parameter.empty
                and p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)]
            out = (extract_fn(sub, payloads_df, b) if len(required) >= 3
                   else extract_fn(sub, payloads_df))
            obs_out = None
            if "n_missing_payloads" in out.columns:
                obs_out = Observation()
                out = out.observe(
                    obs_out,
                    F.sum(F.col("n_missing_payloads").cast("long"))
                     .alias("missing_payloads"))
            rows_out = store.write_bucket(b, out)  # rows ride the write job
        metrics = {}
        if caps.observations:
            metrics.update(caps.summary())
        if obs_out is not None:
            mp = observed_value(obs_out, "missing_payloads")
            if mp.fired:            # elided-empty: no rows, none missing
                metrics["missing_payloads"] = int(mp.value or 0)
            else:
                metrics["missing_payloads_unobserved"] = 1
        # No rows_in when AQE elided the observed subtree (every row of
        # the bucket filtered at runtime, e.g. a gate that keeps
        # nothing) or the subtree never ran: fall back to one count()
        # of the (deterministic) pre-observe input.
        rows_in = observed_value(obs_in, "rows_in").value
        if rows_in is None:
            rows_in = sub_raw.count()
        store.commit(Lineage(
            run_id=run_id,
            partition_id=b,
            snapshot_id=store.snapshot_id(),
            rows_in=int(rows_in),
            rows_out=rows_out,
            latency_ms=round((time.monotonic() - t0) * 1000, 3),
            committed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            metrics=json.dumps(metrics, sort_keys=True),
        ))
        if tombs:
            store.clear_tombstones(b)   # applied and committed above
        committed_this_run += 1
        if fail_after is not None and committed_this_run >= fail_after:
            raise JobKilled(
                f"simulated crash after {committed_this_run} buckets")
    return store


def delete_docs(spark: SparkSession, store: SnapshotStore,
                doc_ids: Iterable[str], out_root: str) -> int:
    """Row-level delete (reference DELETE /documents/{id}, backend/
    main.py:695-705) against a checkpointed store: rewrites only the
    buckets the ids hash into and commits each as a new snapshot.
    Returns the number of buckets rewritten."""
    meta_path = os.path.join(out_root, "_meta.json")
    with open(meta_path) as f:
        buckets = json.load(f)["buckets"]
    return store.delete_docs(spark, doc_ids, buckets)
