"""SnapshotStore surface: bucket-pruned resume scans, row-level delete,
and the ManifestStore/IcebergStore interface split (Iceberg skipped when
the runtime jars are absent, as in this sandbox)."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from document_ai_spark.streaming.checkpoint import (
    IcebergStore,
    IcebergUnavailable,
    ManifestStore,
    bucket_slice,
    delete_docs,
    iceberg_available,
    ingest_bucketed,
    run_checkpointed,
)

BUCKETS = 8


def _stores(spark, tmp_path):
    yield ManifestStore(str(tmp_path / "manifest_store"))
    if iceberg_available(spark):
        yield IcebergStore(spark, "ckpt_iceberg_test")
    # else: skipped — jars absent in this sandbox; the probe is the test.


def test_bucket_slice_reads_only_its_partition(spark, corpus_dfs, tmp_path):
    docs_df, _ = corpus_dfs
    path = str(tmp_path / "bucketed_input")
    ingest_bucketed(docs_df, path, BUCKETS)

    all_files = {
        r[0] for r in spark.read.parquet(path)
        .select(F.input_file_name()).distinct().collect()}
    b0_files = {
        r[0] for r in bucket_slice(spark, path, 0)
        .select(F.input_file_name()).distinct().collect()}
    assert b0_files and b0_files < all_files
    assert all(f"bucket={0}" in f for f in b0_files)
    # Partition pruning must appear in the physical plan, not just happen
    # to touch fewer files.
    plan = bucket_slice(spark, path, 0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan

    # The union of slices is exactly the input (no doc lost to bucketing).
    n = sum(bucket_slice(spark, path, b).count() for b in range(BUCKETS))
    assert n == docs_df.count()


def test_lineage_from_observe_matches_input(spark, corpus_dfs, tmp_path):
    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_obs")
    store = run_checkpointed(spark, docs_df, payloads_df, root,
                             buckets=4, run_id="obs-run")
    lin = store.lineage_df(spark).collect()
    assert sum(r["rows_in"] for r in lin) == docs_df.count()
    assert sum(r["rows_out"] for r in lin) == docs_df.count()


def test_delete_docs_excludes_and_resume_stays_exact(
        spark, corpus_dfs, tmp_path):
    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_del")
    store = run_checkpointed(spark, docs_df, payloads_df, root,
                             buckets=BUCKETS)
    victims = [r["doc_id"] for r in docs_df.select("doc_id").limit(3)
               .collect()]
    before = store.read_committed(spark).count()
    snap_before = store.snapshot_id()

    n_rewritten = delete_docs(spark, store, victims, root)
    assert 1 <= n_rewritten <= 3

    remaining = store.read_committed(spark)
    assert remaining.count() == before - 3
    assert remaining.where(F.col("doc_id").isin(victims)).count() == 0
    # Delete advanced the snapshot counter (new commits, not mutation).
    assert store.snapshot_id() > snap_before

    # Resume after delete: every bucket is committed, nothing reruns,
    # the deleted docs stay gone.
    store2 = run_checkpointed(spark, docs_df, payloads_df, root,
                              buckets=BUCKETS)
    again = store2.read_committed(spark)
    assert again.count() == before - 3
    assert again.where(F.col("doc_id").isin(victims)).count() == 0
    # Lineage records the delete rewrites.
    assert any(r["run_id"].startswith("delete:")
               for r in store2.lineage_df(spark).collect())


def test_delete_mid_run_tombstones_uncommitted_buckets(
        spark, corpus_dfs, tmp_path):
    """Delete issued against a PARTIALLY-completed run must not resurrect
    the deleted docs when the remaining buckets are later resumed (the
    round-2 defect: the ingested _input still contains them)."""
    from document_ai_spark.streaming.checkpoint import JobKilled

    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_mid_del")
    with pytest.raises(JobKilled):
        run_checkpointed(spark, docs_df, payloads_df, root,
                         buckets=BUCKETS, fail_after=2)
    store = ManifestStore(root)
    done = set(store.committed_buckets())
    assert len(done) == 2

    # Pick victims from buckets that are NOT yet committed.
    from document_ai_spark.streaming.store import bucket_of_ids
    cands = [r["doc_id"] for r in docs_df.select("doc_id").collect()]
    by_bucket = bucket_of_ids(spark, cands, BUCKETS)
    victims = sorted(d for b, ids in by_bucket.items() if b not in done
                     for d in ids)[:3]
    assert len(victims) == 3

    n_rewritten = delete_docs(spark, store, victims, root)
    assert n_rewritten == 0   # nothing committed to rewrite...
    assert any(store.pending_tombstones(b)
               for b in range(BUCKETS))   # ...but tombstones recorded

    # Resume: deleted docs must NOT come back from the ingested input.
    store2 = run_checkpointed(spark, docs_df, payloads_df, root,
                              buckets=BUCKETS)
    final = store2.read_committed(spark)
    assert final.where(F.col("doc_id").isin(victims)).count() == 0
    assert final.count() == docs_df.count() - 3
    # Tombstones are consumed on commit.
    assert all(not store2.pending_tombstones(b) for b in range(BUCKETS))


def test_lineage_latest_commit_wins_by_seq(spark, corpus_dfs, tmp_path):
    """committed_buckets must order re-commits by the monotone seq, never
    by snapshot_id strings (Iceberg snapshot ids are random longs)."""
    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_seq")
    store = run_checkpointed(spark, docs_df, payloads_df, root, buckets=4)
    lin = store.lineage_df(spark).collect()
    seqs = sorted(r["seq"] for r in lin)
    assert seqs == list(range(1, 5))   # monotone, stamped by commit()
    # A delete rewrite must supersede the original commit for its bucket.
    victim = docs_df.select("doc_id").first()["doc_id"]
    delete_docs(spark, store, [victim], root)
    from document_ai_spark.streaming.checkpoint import affected_buckets
    b = affected_buckets(spark, [victim], 4)[0]
    rec = store.committed_buckets()[b]
    assert rec["run_id"].startswith("delete:")
    assert rec["seq"] == 5


def test_store_interface_parametrized(spark, corpus_dfs, tmp_path):
    """Same contract for every available store implementation."""
    docs_df, payloads_df = corpus_dfs
    ran = 0
    for store in _stores(spark, tmp_path):
        root = str(tmp_path / f"root_{type(store).__name__}")
        st = run_checkpointed(spark, docs_df, payloads_df, root,
                              buckets=4, store=store)
        assert len(st.committed_buckets()) == 4
        assert st.read_committed(spark).count() == docs_df.count()
        ran += 1
    assert ran >= 1


def test_iceberg_probe_raises_cleanly(spark):
    if iceberg_available(spark):
        pytest.skip("iceberg jars present; unavailability path not testable")
    with pytest.raises(IcebergUnavailable):
        IcebergStore(spark, "nope")
