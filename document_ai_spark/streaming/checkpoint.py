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
expression (store.bucket_expr; or the caller points at an
already-bucketed table). Reads prune to the buckets they need, so the
run touches the input once in total, where filtering an unpartitioned
source per bucket would scan it B times (at 100 TB, 1 pass vs 32).
Reads are schema-pinned: the schema comes from one parquet footer of
the ingested input (pyarrow), so no read starts a schema-inference job.

Waves. With the default extraction and a store that supports waves
(ManifestStore), the run extracts a *wave* of consecutive pending
buckets in one Spark plan: one read of the wave's buckets, the
extraction, and one write partitioned by bucket into one staging
directory. Buckets are then committed one by one, in bucket order, so a
kill still lands between two bucket commits and ``fail_after`` still
counts commits. A wave takes pending buckets while their ingested bytes
(file sizes, no job) fit in ``spark.sql.files.maxPartitionBytes x
defaultParallelism`` — one round of scan tasks at Spark's own split
size. A bucket larger than that is a wave of one, so large inputs keep
bucket-sized checkpoints. A custom ``extract_fn`` gets waves of one (it
may aggregate across its input, so a wave could change its answer), as
does a store without wave support (IcebergStore).

Counts come from files, not Observations: a bucket's rows_in is the row
count in its ingested files' footers less the tombstoned ids present in
them; rows_out and (default extraction) missing_payloads come from the
staged output's footers and ``n_missing_payloads`` column. The
reassembly salt K is derived once per run root and kept in
``_meta.json``, so a resume runs no schema-inference or approxQuantile
job.

Staged reuse. Once a wave's job succeeds its staging directory is sealed
with a ``_wave.json`` record: per bucket, the salt and the pending
tombstones it was computed under, and its counts. A resume commits a
still-staged bucket without re-extracting it only if its current
tombstones (and the salt) equal the recorded ones; a ``delete_docs`` in
between forces a recompute of that bucket.

The file-level commit rules (the pinned ``_meta.json``, whole-or-absent
JSON records, directory publish, schema-pinned reads) live in commit.py;
the bucket commit protocol on top of them is ManifestStore's (store.py).

The reference analog is the batch-job progress dict + per-file error
capture (reference backend/main.py:522-562) and the WorkflowState
reasoning log (backend/services/coordinator.py:19-29) — there, in-memory
and lost on crash; here, durable and resumable.
"""
from __future__ import annotations

import inspect
import json
import os
import time
from typing import Callable, Dict, Iterable, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructType

from .commit import META, pin_meta, read_json, read_parquet, write_json
from .store import (  # noqa: F401  (re-exported public surface)
    IcebergStore,
    IcebergUnavailable,
    Lineage,
    ManifestStore,
    SnapshotStore,
    affected_buckets,
    bucket_expr,
    column_sum,
    footer_rows,
    footer_schema,
    iceberg_available,
    observed_value,
    parquet_files,
)


class JobKilled(RuntimeError):
    """Raised by the test hook to simulate a mid-run crash."""


def ingest_bucketed(docs_df: DataFrame, path: str, buckets: int) -> str:
    """One full pass over the source, written parquet-partitioned by the
    run's bucket expression so per-bucket reads prune to 1/B of files."""
    (docs_df
     .withColumn("bucket", bucket_expr(buckets))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))
    return path


def bucket_slice(spark: SparkSession, input_path: str, bucket: int
                 ) -> DataFrame:
    """Partition-pruned, schema-pinned read of one bucket (only
    bucket=<b>/ files) — the read the runner makes."""
    return _BucketedInput(spark, input_path).read([bucket], [])


class _BucketedInput:
    """The ingested input, parquet under ``<path>/bucket=<b>/``. Its
    schema, sizes and row counts come from the files themselves."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark, self.path = spark, path
        self._schema: Optional[StructType] = None

    def files(self, bucket: int) -> List[str]:
        return parquet_files(os.path.join(self.path, f"bucket={bucket}"))

    def nbytes(self, bucket: int) -> int:
        return sum(os.path.getsize(f) for f in self.files(bucket))

    def schema(self) -> StructType:
        """Read schema: the docs columns from one footer, plus the
        ``bucket`` partition column."""
        if self._schema is None:
            first = next(f for name in sorted(os.listdir(self.path))
                         if name.startswith("bucket=")
                         for f in parquet_files(
                             os.path.join(self.path, name)))
            self._schema = footer_schema(first).add("bucket", IntegerType())
        return self._schema

    def read(self, buckets: List[int], tombstones: List[str]
             ) -> DataFrame:
        """The given buckets' docs, less the tombstoned ids (docs deleted
        while their bucket was uncommitted: the ingested input still
        holds them, and reading them would resurrect them)."""
        df = (read_parquet(self.spark, [self.path], self.schema())
              .where(F.col("bucket").isin(buckets)))
        if tombstones:
            df = df.where(~F.col("doc_id").isin(tombstones))
        return df.drop("bucket")

    def rows(self, bucket: int, tombstones: List[str]) -> int:
        """rows_in of a bucket: its footer row count less the rows whose
        doc_id is tombstoned (read with pyarrow only when any is)."""
        files = self.files(bucket)
        n = footer_rows(files)
        if tombstones:
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq
            gone = pa.array(tombstones, pa.string())
            for f in files:
                ids = pq.read_table(f, columns=["doc_id"])["doc_id"]
                n -= pc.sum(pc.is_in(ids, value_set=gone)).as_py() or 0
        return n

    def waves(self, pending: List[int]) -> List[List[int]]:
        """Consecutive runs of ``pending`` whose ingested bytes fit in
        one round of scan tasks (maxPartitionBytes x defaultParallelism);
        a bucket larger than that is a wave of one."""
        bound = (self.spark._jsparkSession.sessionState().conf()
                 .filesMaxPartitionBytes()
                 * self.spark.sparkContext.defaultParallelism)
        waves: List[List[int]] = []
        size = 0
        for b in pending:
            nb = self.nbytes(b)
            if not waves or size + nb > bound:
                waves.append([])
                size = 0
            waves[-1].append(b)
            size += nb
        return waves


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
    """Checkpointed run; resumes by skipping committed buckets.
    ``fail_after`` commits N buckets then raises (crash test).

    The default extraction on a wave-capable store runs in waves: one
    Spark plan extracts several consecutive pending buckets (as many as
    fit in maxPartitionBytes x defaultParallelism ingested bytes) and
    one write stages them partitioned by bucket; each bucket is then
    committed on its own, in bucket order. A custom ``extract_fn`` or a
    store without wave support runs one bucket per plan. Lineage counts
    come from parquet footers; a resume commits a bucket staged by a
    sealed wave without recomputing it when its pending tombstones are
    unchanged (see the module docstring).

    ``docs_path``, when given, must point at a parquet dataset already
    partitioned by a ``bucket`` column matching this run's bucket count
    (e.g. a previous ingest_bucketed output); ``docs_df`` is then unused.
    Otherwise ``docs_df`` is ingested once under ``out_root``/_input.

    Scan discipline caveat: the DOCS side is ingested bucketed, but
    ``payloads_df`` is joined whole per plan — one scan of the payload
    source per wave. At scale, use the bucketed storage layout
    (sources/bucketed.py, run_extract.py --bucketed-layout), which
    co-partitions payloads by the same key and removes both the scans
    and the join exchanges.
    """
    from ..plans.pipeline import extract as default_extract

    store = store or ManifestStore(out_root)
    # The bucket count defines the doc->partition assignment; resuming
    # with a different count would skip the wrong slices, so it is pinned.
    meta = pin_meta(out_root, {"buckets": buckets, "run_id": run_id},
                    ["buckets"], "store", "resume")

    if docs_path is None:
        docs_path = os.path.join(out_root, "_input")
        # Spark's _SUCCESS marker doubles as the ingest commit record: a
        # crash mid-ingest leaves it absent and the resume re-ingests.
        if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
            if docs_df is None:
                raise ValueError("docs_df or a pre-ingested docs_path "
                                 "is required")
            ingest_bucketed(docs_df, docs_path, buckets)
    inp = _BucketedInput(spark, docs_path)

    done = store.committed_buckets()
    pending = [b for b in range(buckets) if b not in done]
    if not pending:
        return store
    tombs = {b: store.pending_tombstones(b) for b in pending}

    if extract_fn is None or extract_fn is default_extract:
        # Default pipeline: the reassembly salt K is derived ONCE per run
        # root from the whole ingested corpus (per-bucket quantiles are
        # the wrong population — SURVEY §7.4 sizes K from corpus
        # span-count quantiles) and kept in _meta.json, so a resume does
        # not re-run the approxQuantile scan. The input is immutable
        # after ingest, and reassembly output is byte-identical for any
        # K (pinned by test_skew), so this is purely a cost change.
        if "salt_buckets" not in meta:
            from ..plans.pipeline import derive_salt_buckets
            meta["salt_buckets"] = derive_salt_buckets(
                read_parquet(spark, [docs_path], inp.schema()))
            write_json(os.path.join(out_root, META), meta)
        k_salt = meta["salt_buckets"]

        def fn(d, p):
            return default_extract(d, p, salt_buckets=k_salt)
        bucket_aware = False
        waves = store.supports_waves
    else:
        # Bucket-aware extract functions (e.g. per-bucket incremental
        # dedup batch ids) declare a third REQUIRED parameter and
        # receive b. Count only non-defaulted positionals.
        fn, k_salt, waves = extract_fn, None, False
        bucket_aware = len([
            p for p in inspect.signature(extract_fn).parameters.values()
            if p.default is inspect.Parameter.empty
            and p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)]) >= 3

    def run_wave(wave: List[int]) -> Dict[int, dict]:
        """Extract and stage ``wave``; returns its per-bucket entries
        (salt, tombstones, rows_in, rows_out, metrics), sealed."""
        out = fn(inp.read(wave, sorted(i for b in wave for i in tombs[b])),
                 payloads_df).withColumn("bucket", bucket_expr(buckets))
        if len(wave) > 1:
            # One writer task per bucket (AQE splits a large one): a
            # plain partitioned write would leave one file per task in
            # every bucket of the wave.
            out = out.hint("rebalance", "bucket")
        rows_out = store.write_bucket(tuple(wave), out)
        entries = {b: {
            "salt": k_salt,
            "tombstones": tombs[b],
            "rows_in": inp.rows(b, tombs[b]),
            "rows_out": rows_out[b],
            "metrics": json.dumps({"missing_payloads": column_sum(
                store.staged_files(b), "n_missing_payloads")}),
        } for b in wave}
        store.seal_wave(entries)
        return entries

    def run_one(b: int) -> Dict[int, dict]:
        """Extract and stage bucket ``b`` alone. Plan metrics ride the
        write job and land in the lineage row: missing-payload counts
        from the output column, LSH bucket-cap drops from any capped
        dedup stage the extract_fn composed (collect_cap_metrics hooks
        dedup._cap_bucket_items for the duration of the bucket)."""
        from ..operators.dedup import collect_cap_metrics

        sub = inp.read([b], tombs[b])
        with collect_cap_metrics() as caps:
            out = fn(sub, payloads_df, b) if bucket_aware else fn(
                sub, payloads_df)
            obs_out = None
            if "n_missing_payloads" in out.columns:
                obs_out = Observation()
                out = out.observe(
                    obs_out,
                    F.sum(F.col("n_missing_payloads").cast("long"))
                     .alias("missing_payloads"))
            rows_out = store.write_bucket(b, out)
        metrics = {}
        if caps.observations:
            metrics.update(caps.summary())
        if obs_out is not None:
            mp = observed_value(obs_out, "missing_payloads")
            if mp.fired:            # elided-empty: no rows, none missing
                metrics["missing_payloads"] = int(mp.value or 0)
            else:
                metrics["missing_payloads_unobserved"] = 1
        return {b: {"rows_in": inp.rows(b, tombs[b]), "rows_out": rows_out,
                    "metrics": json.dumps(metrics, sort_keys=True)}}

    entries: Dict[int, dict] = {}
    if waves:
        entries = {b: e for b, e in store.sealed_waves().items()
                   if b in tombs and e["salt"] == k_salt
                   and e["tombstones"] == tombs[b]}
        plan = inp.waves([b for b in pending if b not in entries])
    else:
        plan = [[b] for b in pending]
    plan_iter = iter(plan)
    shares: Dict[int, float] = {}       # per-bucket share of wave time
    committed_this_run = 0
    for b in pending:
        if b not in entries:
            # b opens the next planned wave: waves are consecutive runs
            # of the pending buckets that need computing.
            wave = next(plan_iter)
            t_wave = time.monotonic()
            entries.update(run_wave(wave) if waves else run_one(b))
            share = (time.monotonic() - t_wave) / len(wave)
            shares.update({w: share for w in wave})
        t0 = time.monotonic()
        e = entries.pop(b)
        store.commit(Lineage(
            run_id=run_id,
            partition_id=b,
            snapshot_id=store.snapshot_id(),
            rows_in=int(e["rows_in"]),
            rows_out=int(e["rows_out"]),
            latency_ms=round((shares.get(b, 0.0) + time.monotonic() - t0)
                             * 1000, 3),
            committed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            metrics=e["metrics"],
        ))
        if tombs[b]:
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
    buckets = read_json(os.path.join(out_root, META))["buckets"]
    return store.delete_docs(spark, doc_ids, buckets)
