"""The bounded Observation reader (streaming/store.observed_value) and
the IcebergStore truncate decision it feeds: a value, elided-empty
(the observed plan ran but AQE collapsed the observed subtree, so no
metrics row exists) and never fired are three different answers, and
only the first two say how many rows a bucket write produced."""
from __future__ import annotations

from types import SimpleNamespace

import pytest

from document_ai_spark.streaming import store as S


def _obs_class(fired: bool, row: dict | None):
    """A stand-in for pyspark's Observation: ``fired`` is what the JVM
    getRowOrEmpty reports; ``row`` None makes ``get`` throw the way the
    empty row of an elided subtree does inside toPyRow."""
    class Obs:
        def __init__(self):
            self._jo = SimpleNamespace(getRowOrEmpty=lambda: SimpleNamespace(
                isDefined=lambda: fired))

        @property
        def get(self):
            if row is None:
                raise RuntimeError("toPyRow on an empty row")
            return row
    return Obs


def test_observed_value_three_outcomes():
    value = S.observed_value(_obs_class(True, {"n": 3})(), "n", 0.1)
    elided = S.observed_value(_obs_class(True, None)(), "n", 0.1)
    never = S.observed_value(_obs_class(False, None)(), "n", 0.1)
    assert (value.fired, value.value) == (True, 3)
    assert (elided.fired, elided.value) == (True, None)
    assert (never.fired, never.value) == (False, None)


@pytest.mark.parametrize("outcome, want", [
    (S.Observed(True, 5), (False, 5)),
    (S.Observed(True, 0), (True, 0)),
    (S.Observed(True), (True, 0)),           # elided-empty
    (S.Observed(False), (False, None)),      # never fired: no DELETE
])
def test_iceberg_truncate_decision(outcome, want):
    assert S.iceberg_bucket_rows(outcome) == want


class _Spark:
    """Records the SQL an IcebergStore issues; the snapshots query
    answers added-records = 7."""

    def __init__(self):
        self.statements = []
        self.catalog = SimpleNamespace(tableExists=lambda name: True)

    def sql(self, query):
        self.statements.append(query)
        return SimpleNamespace(collect=lambda: [{"n": "7"}])


class _Frame:
    """The bucket's output frame: observe/withColumn pass through and
    overwritePartitions records the write."""

    def __init__(self):
        self.writes = []

    def observe(self, obs, *cols):
        return self

    def withColumn(self, *args):
        return self

    def writeTo(self, table):
        return SimpleNamespace(
            overwritePartitions=lambda: self.writes.append(table))


@pytest.mark.parametrize("fired, row, deletes, rows_out", [
    (False, None, False, 7),             # never fired: snapshot summary
    (True, None, True, 0),               # elided-empty: truncate
    (True, {"rows_out": 0}, True, 0),
    (True, {"rows_out": 4}, False, 4),
])
def test_iceberg_write_bucket_truncates_only_empty_writes(
        spark, monkeypatch, fired, row, deletes, rows_out):
    """An unobserved rows_out must not truncate the partition the write
    just replaced (that DELETE loses the bucket's rows); only an
    elided-empty or zero-row write does. The Iceberg jars are absent,
    so the store runs over recording stand-ins."""
    monkeypatch.setattr(S, "Observation", _obs_class(fired, row))
    st = object.__new__(S.IcebergStore)
    st.spark, st.table = _Spark(), "cat.db.t"
    out = _Frame()
    assert st.write_bucket(3, out) == rows_out
    assert out.writes == ["cat.db.t"]
    issued = [q for q in st.spark.statements if q.startswith("DELETE")]
    assert issued == (["DELETE FROM cat.db.t WHERE bucket = 3"]
                      if deletes else [])
