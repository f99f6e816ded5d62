"""Shared atomic-commit machinery for persisted operator indexes.

Both the MinHash sketch index (sketch_index.py) and the embedding
vector/codebook indexes (vector_index.py) persist per-batch parquet
directories under ``root/index/`` with the same discipline:

  * writes land in ``root/_staging/<batch>`` first and are atomically
    renamed into place — a crash mid-append leaves the index at the
    previous consistent snapshot;
  * each committed batch carries a ``_seq.json`` monotone sequence
    stamped at commit, so listing order is COMMIT order, not
    lexicographic batch names;
  * ``_meta.json`` pins the parameters that define on-disk
    joinability (band counts, k, format version, ...); opening with
    different parameters raises instead of silently producing rows
    that never join old ones.

An index's READ schema is the schema its first committed batch was
written with, taken from that batch's parquet footer (no Spark job; the
declared ``SCHEMA`` stands in while the index is empty). Every committed
and staged batch is read with it, so opening an index runs no
schema-inference job. The first batch is written as built: columns that
carry the caller's ids keep the caller's type (numeric and string ids
order differently in least/greatest pair output). Later batches are
written in the read schema; a narrower numeric type is widened to it,
any other difference is refused, because a cast could turn an id into
NULL or wrap it.

Each append lists the committed batches once (``_open_batch``) and
hands the find logic the batches it may probe (``Batch.prior``),
instead of re-listing ``index/`` per question.

Re-running an already-committed batch id is idempotent: subclasses
detect the existing ``_SUCCESS`` and replay against exactly the index
state the batch saw the first time (``Batch.prior``, the batches
committed strictly before its own seq).
"""
from __future__ import annotations

import json
import os
from typing import Callable, Dict, List, NamedTuple, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DataType, StructType

# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _widens(src: DataType, dst: DataType) -> bool:
    """``src`` casts to ``dst`` without loss: a wider integer type or
    float to double, element-wise for arrays."""
    if isinstance(src, ArrayType) and isinstance(dst, ArrayType):
        return _widens(src.elementType, dst.elementType)
    s, d = src.simpleString(), dst.simpleString()
    if s in _INTEGRAL and d in _INTEGRAL:
        return _INTEGRAL.index(s) <= _INTEGRAL.index(d)
    return s == d or (s, d) == ("float", "double")


class Batch(NamedTuple):
    """One opened append: the batch's index rows (read back from staging,
    or from the committed directory on replay) and the batches committed
    strictly before its commit sequence, in commit order."""
    rows: DataFrame
    replay: bool
    stage: str
    final: str
    prior: List[str]


class AtomicBatchIndex:
    """Base: parameter pinning + atomic per-batch commits + seq order."""

    #: subclasses set: meta format version + row schema of index files
    FORMAT: int = 1
    SCHEMA: str = ""

    def __init__(self, root: str, params: Dict):
        self.root = root
        self.index_dir = os.path.join(root, "index")
        self.staging_dir = os.path.join(root, "_staging")
        for d in (self.index_dir, self.staging_dir):
            os.makedirs(d, exist_ok=True)
        meta_path = os.path.join(root, "_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            fmt = meta.get("format", 1)   # pre-versioning indexes are v1
            if fmt != self.FORMAT:
                raise ValueError(
                    f"index at {root} has on-disk format v{fmt}; this code "
                    f"writes v{self.FORMAT}. Rebuild the index — appending "
                    "would silently produce un-joinable rows.")
            for key, val in params.items():
                if meta.get(key) != val:
                    raise ValueError(
                        f"index at {root} was built with {key}="
                        f"{meta.get(key)!r}; cannot append with {key}={val!r}")
        else:
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({**params, "format": self.FORMAT}, f)
            os.rename(tmp, meta_path)
        self.params = dict(params)
        self._schema = None

    # -- schema ----------------------------------------------------------

    def row_schema(self) -> StructType:
        """The read schema: the one the index's first committed batch was
        written with, or the declared ``SCHEMA`` while none is."""
        if self._schema is None:
            committed = self._committed()
            if not committed:
                return StructType.fromDDL(self.SCHEMA)
            import pyarrow.parquet as pq
            d = os.path.join(self.index_dir, committed[0][0])
            part = min(f for f in os.listdir(d)
                       if f.startswith("part-") and f.endswith(".parquet"))
            kv = pq.read_schema(os.path.join(d, part)).metadata
            self._schema = StructType.fromJson(
                json.loads(kv[_SPARK_SCHEMA_KEY]))
        return self._schema

    def _write_rows(self, rows: DataFrame, stage: str,
                    first: bool) -> None:
        """Write ``rows`` to ``stage``: the index's ``first`` batch as
        built, later batches in the read schema (see module doc)."""
        if first:
            self._schema = rows.schema
            rows.write.mode("overwrite").parquet(stage)
            return
        have = {f.name: f.dataType for f in rows.schema}
        cols = []
        for f in self.row_schema().fields:
            t = have.get(f.name)
            if t is None or t.simpleString() == f.dataType.simpleString():
                cols.append(F.col(f.name))   # a missing column fails here
            elif _widens(t, f.dataType):
                cols.append(F.col(f.name).cast(f.dataType))
            else:
                raise ValueError(
                    f"index at {self.root} stores {f.name} as "
                    f"{f.dataType.simpleString()}; cannot append a batch "
                    f"with {f.name} {t.simpleString()}")
        rows.select(*cols).write.mode("overwrite").parquet(stage)

    def _read(self, spark: SparkSession, paths: List[str]) -> DataFrame:
        if not paths:
            return spark.createDataFrame([], self.row_schema())
        return spark.read.schema(self.row_schema()).parquet(*paths)

    # -- committed listing -----------------------------------------------

    def _batch_seq(self, name: str) -> int:
        with open(os.path.join(self.index_dir, name, "_seq.json")) as f:
            return json.load(f)["seq"]

    def _committed(self) -> List[Tuple[str, int]]:
        """(name, seq) of every committed batch in COMMIT order: one
        directory listing and one ``_seq.json`` read per batch."""
        done = [(d, self._batch_seq(d)) for d in os.listdir(self.index_dir)
                if os.path.exists(os.path.join(self.index_dir, d,
                                               "_SUCCESS"))]
        return sorted(done, key=lambda ds: ds[1])

    def committed_batches(self) -> List[str]:
        """Committed batch names in COMMIT order."""
        return [d for d, _ in self._committed()]

    def index_df(self, spark: SparkSession,
                 before_seq: int = None) -> DataFrame:
        """Committed index rows; with ``before_seq``, only batches
        committed strictly earlier (what a replayed batch must see)."""
        return self._read(spark, [
            os.path.join(self.index_dir, d) for d, s in self._committed()
            if before_seq is None or s < before_seq])

    def prior_df(self, spark: SparkSession, batch: Batch) -> DataFrame:
        """The index rows ``batch`` probes: its ``prior`` batches."""
        return self._read(spark, [os.path.join(self.index_dir, d)
                                  for d in batch.prior])

    def _next_seq(self) -> int:
        return 1 + max((s for _, s in self._committed()), default=0)

    def _stage_paths(self, batch_id: str):
        return (os.path.join(self.staging_dir, batch_id),
                os.path.join(self.index_dir, batch_id))

    def _is_committed(self, batch_id: str) -> bool:
        return os.path.exists(
            os.path.join(self.index_dir, batch_id, "_SUCCESS"))

    def _stamp_seq(self, stage: str, seq: int) -> None:
        with open(os.path.join(stage, "_seq.json"), "w") as f:
            json.dump({"seq": seq}, f)

    def _commit(self, stage: str, final: str) -> None:
        import shutil
        shutil.rmtree(final, ignore_errors=True)
        os.rename(stage, final)

    # -- shared append skeleton ------------------------------------------
    # Every incremental index follows the same prologue/epilogue around
    # its find/score logic; subclasses compose these two instead of
    # re-spelling the replay discipline (a fix to the shared protocol
    # lands once, not per index).

    def _open_batch(self, spark: SparkSession, batch_id: str,
                    build_fn: Callable[[], DataFrame]) -> Batch:
        """Stage-or-replay prologue: materialize ``build_fn()`` (the
        batch's index rows) into staging — the parquet write IS the
        one-time materialization the find logic re-reads — or, on
        replay of a committed batch_id, reuse the committed files and
        the seq they were stamped with."""
        committed = self._committed()
        seqs = dict(committed)
        stage, final = self._stage_paths(batch_id)
        replay = batch_id in seqs
        if replay:
            src, seq = final, seqs[batch_id]
        else:
            self._write_rows(build_fn(), stage, first=not committed)
            src = stage
            seq = 1 + max(seqs.values(), default=0)
            self._stamp_seq(stage, seq)
        return Batch(self._read(spark, [src]), replay, stage, final,
                     [d for d, s in committed if s < seq])

    def _close_batch(self, result_df: DataFrame, batch: Batch) -> DataFrame:
        """Epilogue: materialize the result BEFORE the commit rename
        invalidates the staging path its lazy plan reads from, then
        commit (no-op on replay)."""
        out = result_df.localCheckpoint()
        if not batch.replay:
            self._commit(batch.stage, batch.final)
        return out
