"""The file-level commit rules, written once.

The checkpoint store (store.ManifestStore), the run root's
``_meta.json`` (checkpoint.py) and every persisted operator index
(operators/batch_index.AtomicBatchIndex) commit through these helpers:

  * ``write_json`` — a JSON record is whole or absent: it is written to
    a dot-prefixed temp in its own directory, then ``os.replace``'d
    over the final name. Every reader skips dot-prefixed names (so do
    Spark and ``parquet_files``), so a temp that a crash leaves behind
    is never read as a record.
  * ``pin_meta`` — ``_meta.json`` pins the parameters that give a root
    its on-disk meaning. The first open writes it; every later open
    checks it and refuses a mismatch, naming the key.
  * ``publish`` — a staged directory replaces its final path: an
    existing final directory is renamed aside (``<final>.old``), the
    stage renamed in, the aside removed. The final path never holds a
    half-swapped directory, and an aside left by a crash between the
    two renames is swept by the next publish. Asides are never read.
  * ``read_parquet`` — a parquet read whose schema is pinned from a
    footer (pyarrow), so it starts no schema-inference job.
"""
from __future__ import annotations

import json
import os
import shutil
from typing import Any, Dict, Iterable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

META = "_meta.json"
ASIDE = ".old"
# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_json(path: str) -> Any:
    with open(path) as f:
        return json.load(f)


def write_json(path: str, obj: Any, sort_keys: bool = False) -> None:
    """Write ``obj`` to ``path`` whole or not at all."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=sort_keys)
    os.replace(tmp, path)


def pin_meta(root: str, meta: Dict, pinned: Iterable[str], what: str,
             action: str, absent: Optional[Dict] = None) -> Dict:
    """``root/_meta.json``: written as ``meta`` on first use; otherwise
    read, and a ``pinned`` key whose stored value (``absent[key]`` when
    the file lacks it) differs from ``meta``'s is refused. Returns the
    stored meta."""
    path = os.path.join(root, META)
    if not os.path.exists(path):
        os.makedirs(root, exist_ok=True)
        write_json(path, meta)
        return dict(meta)
    stored = read_json(path)
    for key in pinned:
        have = stored.get(key, (absent or {}).get(key))
        if have != meta[key]:
            raise ValueError(
                f"{what} at {root} was created with {key}={have!r}; "
                f"cannot {action} with {key}={meta[key]!r}")
    return stored


def publish(stage: str, final: str) -> None:
    """Move the staged directory ``stage`` to ``final`` (see module
    doc): after a crash at any point, ``final`` holds the old or the
    new directory, or nothing (a redo), and the next publish of the
    same path sweeps the aside."""
    aside = final + ASIDE
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.exists(final):
        os.replace(final, aside)
    os.replace(stage, final)
    shutil.rmtree(aside, ignore_errors=True)


def parquet_files(directory: str) -> List[str]:
    """The data files of one parquet directory (no hidden, ``_`` or
    checksum files), sorted; empty when the directory does not exist."""
    if not os.path.isdir(directory):
        return []
    return sorted(os.path.join(directory, f) for f in os.listdir(directory)
                  if f.endswith(".parquet") and not f.startswith((".", "_")))


def footer_schema(path: str) -> StructType:
    """The Spark row schema a parquet file was written with, read from
    its footer with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq
    kv = pq.read_schema(path).metadata
    return StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY]))


def footer_rows(files: Iterable[str]) -> int:
    """Rows in the given parquet files, from their footers."""
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def column_sum(files: Iterable[str], column: str) -> int:
    """Sum of one integer column over the given parquet files, read
    with pyarrow (NULLs count as 0, as in SQL's sum)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    total = 0
    for f in files:
        s = pc.sum(pq.read_table(f, columns=[column])[column]).as_py()
        total += int(s or 0)
    return total


def read_parquet(spark: SparkSession, paths: List[str],
                 schema: Optional[StructType] = None) -> DataFrame:
    """Parquet read of ``paths`` with ``schema``, or with the schema in
    the footer of the first data file under them."""
    if schema is None:
        first = next((f for p in paths for f in parquet_files(p)), None)
        if first is not None:
            schema = footer_schema(first)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)
