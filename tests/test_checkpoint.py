"""Resume-idempotence: a killed run resumes at the last committed snapshot
and produces byte-identical output (north_rule requirement)."""
from __future__ import annotations

import os

import pytest

from document_ai_spark.plans.pipeline import extract
from document_ai_spark.streaming.checkpoint import (
    JobKilled,
    ManifestStore,
    run_checkpointed,
)


def _span_map(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                      for s in r["out_spans"]]
        for r in rows
    }


def test_kill_resume_byte_identical(spark, corpus_dfs, tmp_path):
    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt")

    # Direct (non-checkpointed) reference output.
    direct = _span_map(extract(docs_df, payloads_df)
                       .select("doc_id", "out_spans").collect())

    # Run 1: crash after 2 of 6 buckets committed.
    with pytest.raises(JobKilled):
        run_checkpointed(spark, docs_df, payloads_df, root,
                         buckets=6, fail_after=2)
    store = ManifestStore(root)
    done_after_crash = set(store.committed_buckets())
    assert len(done_after_crash) == 2

    # Committed data must not be touched by the resume run.
    mtimes_before = {
        b: os.path.getmtime(store.committed_path(b))
        for b in done_after_crash
    }

    # Run 2: resume completes the remaining buckets.
    store = run_checkpointed(spark, docs_df, payloads_df, root, buckets=6)
    assert len(store.committed_buckets()) == 6
    for b, t in mtimes_before.items():
        assert os.path.getmtime(store.committed_path(b)) == t, \
            f"bucket {b} was rewritten on resume"

    resumed = _span_map(store.read_committed(spark)
                        .select("doc_id", "out_spans").collect())
    assert resumed == direct


def test_lineage_metrics_recorded(spark, corpus_dfs, tmp_path):
    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt2")
    store = run_checkpointed(spark, docs_df, payloads_df, root,
                             run_id="run-x", buckets=4)
    lin = store.lineage_df(spark).collect()
    assert len(lin) == 4
    assert sum(r["rows_in"] for r in lin) == docs_df.count()
    assert sum(r["rows_out"] for r in lin) == docs_df.count()
    assert all(r["latency_ms"] > 0 for r in lin)
    assert all(r["run_id"] == "run-x" for r in lin)
    # Snapshot ids are monotone commit counters recording the snapshot
    # that CONTAINS each commit (post-commit counter value, mirroring
    # the Iceberg path's post-write table snapshot).
    snaps = sorted(r["snapshot_id"] for r in lin)
    assert snaps == [f"snap-{i:06d}" for i in range(1, 5)]


def test_observe_metrics_persisted_in_lineage(spark, corpus_dfs, tmp_path):
    """Bucket-cap drops and missing-payload counts ride the write job as
    observe() metrics and land in the committed lineage rows — surviving
    a kill/resume (committed rows keep their metrics; resumed buckets
    record their own)."""
    import json

    from pyspark.sql import functions as F

    from document_ai_spark.operators.dedup import banded_near_dup_pairs

    docs_df, payloads_df = corpus_dfs

    # --- extraction run with PLANTED missing payloads (drop half the
    # payload rows) across a crash + resume ------------------------------
    starved = payloads_df.where(F.xxhash64("media_ref") % 2 == 0)
    root = str(tmp_path / "ckpt_metrics")
    with pytest.raises(JobKilled):
        run_checkpointed(spark, docs_df, starved, root, buckets=4,
                         fail_after=2)
    store = run_checkpointed(spark, docs_df, starved, root, buckets=4)
    lin = store.lineage_df(spark).collect()
    assert len(lin) == 4
    got_missing = sum(json.loads(r["metrics"]).get("missing_payloads", 0)
                      for r in lin)
    expected_missing = (extract(docs_df, starved)
                        .agg(F.sum("n_missing_payloads")).first()[0])
    assert expected_missing > 0, "test corpus must starve some payloads"
    assert got_missing == expected_missing

    # --- dedup run with a HOT bucket forced over a tiny cap -------------
    texts = spark.createDataFrame(
        [(f"d{i:03d}", "alpha beta gamma delta epsilon zeta")
         for i in range(12)] +
        [(f"u{i:03d}", f"unique words {i} " + " ".join(
            f"w{i}x{j}" for j in range(8))) for i in range(8)],
        "doc_id string, text string")

    def dedup_fn(sub, _payloads):
        return banded_near_dup_pairs(sub, jaccard_min=0.0, max_bucket=2)

    root2 = str(tmp_path / "ckpt_dedup")
    store2 = run_checkpointed(spark, texts, payloads_df, root2, buckets=2,
                              extract_fn=dedup_fn)
    lin2 = [json.loads(r["metrics"])
            for r in store2.lineage_df(spark).collect()]
    assert any(m.get("lsh_cap_dropped", 0) > 0 for m in lin2), lin2
    assert max(m.get("lsh_max_bucket", 0) for m in lin2) > 2


def test_runtime_empty_bucket_commits(spark, corpus_dfs, tmp_path):
    """An extract_fn that filters EVERY row at runtime must still
    commit its buckets: AQE's PropagateEmptyRelation can collapse the
    whole write subtree, and the lineage counts, read from parquet
    footers, still come out (rows_out 0)."""
    import pyspark.sql.functions as F

    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_empty")

    def drop_all(sub, _payloads):
        return (sub.where(F.lit(False))
                .select("doc_id", F.lit("x").alias("text")))

    store = run_checkpointed(spark, docs_df, payloads_df, root,
                             run_id="run-empty", buckets=3,
                             extract_fn=drop_all)
    lin = store.lineage_df(spark).collect()
    assert len(lin) == 3
    assert sum(r["rows_in"] for r in lin) == docs_df.count()
    assert all(r["rows_out"] == 0 for r in lin)


def test_leftover_tmp_manifest_is_ignored(spark, tmp_path):
    """Review regression: a crash mid-commit leaves a partial
    .tmp-<b>.json in _manifests; committed_buckets must skip it (it
    previously either raised on the partial JSON — bricking every
    resume — or fabricated a commit record)."""
    from document_ai_spark.streaming.store import ManifestStore

    store = ManifestStore(str(tmp_path / "st_tmp"))
    with open(f"{store.manifest_dir}/.tmp-3.json", "w") as f:
        f.write('{"partition_id": 3, "run_id"')      # truncated write
    assert store.committed_buckets() == {}


def test_recommit_sweeps_aside_and_serves_new_data(spark, tmp_path):
    """Re-committing a bucket swaps via a rename-aside (never a window
    where the manifest points at a missing directory); the aside dir is
    swept and reads serve the new data."""
    import os

    from document_ai_spark.streaming.store import Lineage, ManifestStore

    store = ManifestStore(str(tmp_path / "st_re"))

    def commit_rows(vals, snap):
        df = spark.createDataFrame([(v,) for v in vals], "doc_id string")
        rows = store.write_bucket(0, df)
        store.commit(Lineage(
            run_id="r", partition_id=0, snapshot_id=snap,
            rows_in=len(vals), rows_out=rows, latency_ms=1.0,
            committed_at="t"))

    commit_rows(["a", "b"], "x")
    commit_rows(["c"], "y")
    assert not os.path.exists(store.committed_path(0) + ".old")
    got = {r["doc_id"] for r in store.read_committed(spark).collect()}
    assert got == {"c"}
    # post-commit snapshot ids: second commit is snap-000002
    assert store.committed_buckets()[0]["snapshot_id"] == "snap-000002"
    assert store.snapshot_id() == "snap-000002"


def test_write_bucket_empty_output_returns_zero(spark, tmp_path):
    """A runtime-empty bucket (AQE may elide its whole subtree) stages
    and counts 0 rows from its footers."""
    from pyspark.sql import functions as F

    from document_ai_spark.streaming.store import ManifestStore

    store = ManifestStore(str(tmp_path / "st_empty"))
    df = (spark.range(100).select(F.col("id").cast("string")
                                  .alias("doc_id"))
          .where(F.length("doc_id") > 10))           # runtime-empty
    assert store.write_bucket(1, df) == 0


# -- waves --------------------------------------------------------------------

def _job_ids(spark, group, fn):
    """Spark jobs started by ``fn()`` (counted, not timed)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _committed_ids(spark, store):
    return sorted(r["doc_id"] for r in
                  store.read_committed(spark).select("doc_id").collect())


def _all_ids(docs_df):
    return sorted(r["doc_id"] for r in docs_df.select("doc_id").collect())


@pytest.fixture
def wave_bytes(spark):
    """Sets the wave bound (maxPartitionBytes x defaultParallelism) to
    the given number of bytes for the test, restoring it afterwards."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)

    def set_bound(nbytes):
        par = spark.sparkContext.defaultParallelism
        spark.conf.set(key, str(max(1, nbytes // par)))
    yield set_bound
    spark.conf.set(key, old)


def test_write_bucket_runs_one_job(spark, tmp_path):
    """A nonempty bucket write is one Spark job: rows_out comes from the
    staged footers, with no Observation and no recount."""
    store = ManifestStore(str(tmp_path / "st_one"))
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "doc_id string")
    rows = []
    assert len(_job_ids(spark, "write-bucket",
                        lambda: rows.append(store.write_bucket(0, df)))) == 1
    assert rows == [3]


def test_kill_between_commits_of_one_wave(spark, corpus_dfs, tmp_path,
                                          wave_bytes):
    """fail_after lands between two commits of one wave; the resume
    loses and duplicates no doc and leaves committed buckets alone."""
    from document_ai_spark.streaming.checkpoint import ingest_bucketed
    from document_ai_spark.streaming.store import parquet_files

    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_waves")
    ingest_bucketed(docs_df, os.path.join(root, "_input"), 6)
    sizes = [sum(os.path.getsize(f) for f in parquet_files(
        os.path.join(root, "_input", f"bucket={b}"))) for b in range(6)]
    wave_bytes(sizes[0] + sizes[1] + sizes[2] // 2)    # waves of ~2
    with pytest.raises(JobKilled):
        run_checkpointed(spark, docs_df, payloads_df, root, buckets=6,
                         fail_after=1)
    store = ManifestStore(root)
    done = set(store.committed_buckets())
    staged = set(store.sealed_waves())
    assert len(done) == 1
    # the first wave holds more than the committed bucket, not all six
    assert done == {0} and staged == {1}
    mtimes = {b: os.path.getmtime(store.committed_path(b)) for b in done}

    store = run_checkpointed(spark, docs_df, payloads_df, root, buckets=6)
    assert _committed_ids(spark, store) == _all_ids(docs_df)
    lin = store.committed_buckets().values()
    assert sum(m["rows_in"] for m in lin) == docs_df.count()
    assert sum(m["rows_out"] for m in lin) == docs_df.count()
    for b, t in mtimes.items():
        assert os.path.getmtime(store.committed_path(b)) == t
    assert not os.listdir(store.staging_dir)


def test_delete_in_staged_bucket_recomputes_it(spark, corpus_dfs, tmp_path):
    """A doc deleted from a staged but uncommitted bucket: the resume
    recomputes that bucket without the doc and commits the other staged
    buckets as staged."""
    from document_ai_spark.streaming.checkpoint import delete_docs
    from document_ai_spark.streaming.store import bucket_of_ids

    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_wave_del")
    with pytest.raises(JobKilled):
        run_checkpointed(spark, docs_df, payloads_df, root, buckets=4,
                         fail_after=1)
    store = ManifestStore(root)
    staged = store.sealed_waves()
    assert len(staged) == 3
    by_bucket = bucket_of_ids(spark, _all_ids(docs_df), 4)
    hit = min(staged)
    victim = by_bucket[hit][0]
    files = {b: sorted(os.path.basename(f) for f in store.staged_files(b))
             for b in staged}
    assert delete_docs(spark, store, [victim], root) == 0

    store = run_checkpointed(spark, docs_df, payloads_df, root, buckets=4)
    assert _committed_ids(spark, store) == sorted(
        set(_all_ids(docs_df)) - {victim})
    lin = store.committed_buckets()
    assert lin[hit]["rows_in"] == len(by_bucket[hit]) - 1
    assert lin[hit]["rows_out"] == len(by_bucket[hit]) - 1
    for b in staged:
        got = sorted(f for f in os.listdir(store.committed_path(b))
                     if f.endswith(".parquet") and not f.startswith("."))
        assert (got == files[b]) == (b != hit), b


def test_resume_of_staged_buckets_runs_no_job(spark, corpus_dfs, tmp_path):
    """Pending buckets all staged by a sealed wave, tombstones unchanged:
    the resume commits them without a single Spark job."""
    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_wave_nojob")
    with pytest.raises(JobKilled):
        run_checkpointed(spark, docs_df, payloads_df, root, buckets=4,
                         fail_after=1)
    stores = []
    jobs = _job_ids(spark, "staged-resume", lambda: stores.append(
        run_checkpointed(spark, docs_df, payloads_df, root, buckets=4)))
    assert jobs == []
    assert len(stores[0].committed_buckets()) == 4
    assert _committed_ids(spark, stores[0]) == _all_ids(docs_df)


def test_bucket_without_rows_commits_empty(spark, corpus_dfs, tmp_path):
    """More buckets than docs: partitionBy writes no directory for an
    empty bucket, yet every bucket commits (rows_out 0) and the committed
    snapshot reads back."""
    docs_df, payloads_df = corpus_dfs
    few = docs_df.orderBy("doc_id").limit(3)
    root = str(tmp_path / "ckpt_wave_empty")
    store = run_checkpointed(spark, few, payloads_df, root, buckets=8)
    lin = store.committed_buckets()
    assert len(lin) == 8
    assert sum(m["rows_out"] for m in lin.values()) == 3
    assert sum(m["rows_out"] == 0 for m in lin.values()) >= 5
    assert _committed_ids(spark, store) == _all_ids(few)


def test_resume_runs_no_salt_or_schema_job(spark, corpus_dfs, tmp_path,
                                           monkeypatch):
    """The salt K is derived once per run root and kept in _meta.json,
    and every input read is schema-pinned: a resume that must recompute
    its pending buckets runs no approxQuantile and no schema inference."""
    import json

    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_wave_salt")
    with pytest.raises(JobKilled):
        run_checkpointed(spark, docs_df, payloads_df, root, buckets=4,
                         fail_after=1)
    with open(os.path.join(root, "_meta.json")) as f:
        k = json.load(f)["salt_buckets"]
    store = ManifestStore(root)
    for wave in os.listdir(store.staging_dir):   # crash before the seal
        os.remove(os.path.join(store.staging_dir, wave, "_wave.json"))

    def no_quantile(*args, **kwargs):
        raise AssertionError("approxQuantile ran on resume")

    pin, read = DataFrameReader.schema, DataFrameReader.parquet

    def pinned(self, schema):
        self._pinned = True
        return pin(self, schema)

    def parquet(self, *paths, **kwargs):
        assert getattr(self, "_pinned", False), f"unpinned read {paths}"
        return read(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrame, "approxQuantile", no_quantile)
    monkeypatch.setattr(DataFrameReader, "schema", pinned)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    store = run_checkpointed(spark, docs_df, payloads_df, root, buckets=4)
    monkeypatch.undo()
    assert _committed_ids(spark, store) == _all_ids(docs_df)
    with open(os.path.join(root, "_meta.json")) as f:
        assert json.load(f)["salt_buckets"] == k


def test_legacy_meta_resumes(spark, corpus_dfs, tmp_path):
    """A _meta.json written without a salt still opens: the resume
    derives K once and stores it. A bucket-count mismatch still raises."""
    import json

    docs_df, payloads_df = corpus_dfs
    root = str(tmp_path / "ckpt_legacy")
    with pytest.raises(JobKilled):
        run_checkpointed(spark, docs_df, payloads_df, root, buckets=3,
                         fail_after=1, extract_fn=extract)
    meta_path = os.path.join(root, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    k = meta.pop("salt_buckets")
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="buckets=3"):
        run_checkpointed(spark, docs_df, payloads_df, root, buckets=4)

    store = run_checkpointed(spark, docs_df, payloads_df, root, buckets=3)
    assert _committed_ids(spark, store) == _all_ids(docs_df)
    with open(meta_path) as f:
        assert json.load(f)["salt_buckets"] == k
