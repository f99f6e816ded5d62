"""The shared file-level commit rules (streaming/commit.py): directory
publish across its crash windows, whole-or-absent JSON records, and
schema-pinned reads of the checkpoint store."""
from __future__ import annotations

import os
import time

import pytest

from document_ai_spark.streaming import commit
from document_ai_spark.streaming.commit import publish, write_json


def _job_ids(spark, group, fn):
    """Spark jobs started by ``fn()`` (counted, not timed)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _tree(path, name, text):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write(text)


def _listing(path):
    return {n: open(os.path.join(path, n)).read() for n in os.listdir(path)}


@pytest.mark.parametrize("window", ["final_exists", "aside_left_by_crash"])
def test_publish_lands_stage_and_leaves_no_aside(tmp_path, window):
    """(a) a re-publish over an existing final directory; (b) the state
    a crash between publish's two renames leaves: no final directory
    and the old one still aside. Either way the stage lands whole and
    no aside survives."""
    stage, final = str(tmp_path / "stage"), str(tmp_path / "final")
    _tree(stage, "part-0.parquet", "new")
    if window == "final_exists":
        _tree(final, "part-0.parquet", "old")
    else:
        _tree(final + commit.ASIDE, "part-0.parquet", "old")
    publish(stage, final)
    assert _listing(final) == {"part-0.parquet": "new"}
    assert sorted(os.listdir(tmp_path)) == ["final"]


def _failing_replace(monkeypatch):
    """Make write_json's rename fail, as a crash before it would: the
    dot-prefixed temp is left behind."""
    def boom(src, dst):
        raise OSError("crash before rename")
    monkeypatch.setattr(commit.os, "replace", boom)


def test_leftover_json_temp_is_never_a_record(spark, tmp_path,
                                              monkeypatch):
    """A temp that a crashed write_json leaves behind is read neither
    as an index's ``_meta.json`` nor as a row of a staged parquet
    directory."""
    from document_ai_spark.operators.sketch_index import SketchIndex

    root = str(tmp_path / "idx")
    with monkeypatch.context() as m:
        _failing_replace(m)
        with pytest.raises(OSError, match="crash before rename"):
            SketchIndex(root, bands=4, rows=2)
    assert [n for n in os.listdir(root) if n.startswith(".")] == [
        "._meta.json.tmp"]
    # the temp pinned nothing: other parameters open, and get pinned
    SketchIndex(root, bands=8, rows=4)
    with pytest.raises(ValueError, match="cannot append"):
        SketchIndex(root, bands=4, rows=2)

    stage = str(tmp_path / "stage")
    spark.createDataFrame([(1,), (2,)], "x long").write.parquet(stage)
    with monkeypatch.context() as m:
        _failing_replace(m)
        with pytest.raises(OSError):
            write_json(os.path.join(stage, "_seq.json"), {"seq": 1})
    assert os.path.exists(os.path.join(stage, "._seq.json.tmp"))
    assert not os.path.exists(os.path.join(stage, "_seq.json"))
    assert all(not os.path.basename(f).startswith(".")
               for f in commit.parquet_files(stage))
    assert sorted(r["x"] for r in
                  commit.read_parquet(spark, [stage]).collect()) == [1, 2]


def test_read_committed_starts_no_job(spark, tmp_path):
    """The committed snapshot's read takes its schema from a footer:
    building it starts no Spark job (an unpinned read starts one to
    infer the schema)."""
    from document_ai_spark.streaming.store import Lineage, ManifestStore

    store = ManifestStore(str(tmp_path / "st"))
    for b in range(3):
        df = spark.createDataFrame([(f"d{b}", b)], "doc_id string, n int")
        rows = store.write_bucket(b, df)
        store.commit(Lineage(run_id="r", partition_id=b, snapshot_id="",
                             rows_in=1, rows_out=rows, latency_ms=0.0,
                             committed_at=time.strftime("%Y")))
    read = []
    assert _job_ids(spark, "read-committed", lambda: read.append(
        store.read_committed(spark))) == []
    assert sorted(tuple(r) for r in read[0].collect()) == [
        ("d0", 0), ("d1", 1), ("d2", 2)]
