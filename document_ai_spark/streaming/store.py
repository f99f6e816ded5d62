"""Snapshot-store interface behind the checkpointed extraction runner.

Two implementations of one contract (SURVEY.md §7.6):

  * ManifestStore — Parquet data files + per-bucket JSON manifests
    committed via atomic rename. Runs anywhere; emulates Iceberg's
    commit/visibility semantics (a bucket is visible iff its manifest
    exists; manifests are only ever created whole).
  * IcebergStore — a real Iceberg catalog table partitioned by bucket,
    with lineage in a companion table and snapshot ids from the table's
    own metadata. Requires the iceberg-spark runtime jars; construction
    probes for them and raises IcebergUnavailable when absent (this
    sandbox ships no jars, so tests parameterize over both stores and
    skip Iceberg cleanly).

The runner (checkpoint.run_checkpointed) only talks to the interface:
    committed_buckets() -> {bucket: lineage dict}
    write_bucket(bucket, out_df) -> rows_out   (data write, maybe staged)
    commit(lineage)                            (atomic publish)
    read_committed(spark) / lineage_df(spark) / snapshot_id()
    delete_docs(spark, doc_ids, buckets) -> n_buckets_rewritten
A store whose ``supports_waves`` is true also stages a whole wave of
buckets in one write (``write_bucket`` with a tuple of buckets) and
keeps a sealed wave's staged buckets across a crash (``seal_wave`` /
``sealed_waves`` / ``staged_files``).

ManifestStore's file-level commit rules (whole-or-absent JSON records,
the aside swap of a bucket directory, schema-pinned reads) live in
commit.py, shared with the persisted operator indexes; the parquet
footer helpers are re-exported from there.
"""
from __future__ import annotations

import abc
import os
import shutil
import time
from dataclasses import dataclass
from typing import (Any, Dict, Iterable, List, NamedTuple, Optional,
                    Tuple)

from pyspark.sql import (Column, DataFrame, Observation, SparkSession,
                         functions as F)

from .commit import (  # noqa: F401  (footer helpers, re-exported)
    column_sum,
    footer_rows,
    footer_schema,
    parquet_files,
    publish,
    read_json,
    read_parquet,
    write_json,
)

WAVE_RECORD = "_wave.json"


@dataclass
class Lineage:
    run_id: str
    partition_id: int
    snapshot_id: str
    rows_in: int
    rows_out: int
    latency_ms: float
    committed_at: str
    # Monotone commit sequence, stamped by the store's commit() — the ONLY
    # safe "latest wins" ordering key. Iceberg snapshot ids are random
    # 64-bit longs (not monotone) and committed_at has second granularity
    # (ties), so neither orders re-commits correctly on its own.
    seq: int = 0
    # JSON dict of per-bucket plan metrics observed during the write job
    # (missing_payloads, lsh_cap_dropped, lsh_max_bucket, ...) — the
    # observe() numbers a 100 TB operator would otherwise only see in the
    # Spark UI, persisted where resume/monitoring actually looks. Kept as
    # a JSON string so the lineage schema stays stable as ops add metrics.
    metrics: str = "{}"


_LINEAGE_SCHEMA = ("run_id string, partition_id int, snapshot_id string, "
                   "rows_in long, rows_out long, latency_ms double, "
                   "committed_at string, seq long, metrics string")


def bucket_expr(buckets: int) -> Column:
    """The doc -> bucket assignment of a checkpointed run:
    pmod(xxhash64(doc_id), B). The ingest, the wave write and the
    delete path all use this one expression; a Python reimplementation
    of xxhash64 would silently drift."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(buckets))


class IcebergUnavailable(RuntimeError):
    """Raised when the Iceberg Spark runtime is not on the classpath."""


class Observed(NamedTuple):
    """One bounded Observation read, with three outcomes:
    ``fired`` and a ``value`` (the metric); ``fired`` with value None
    (elided-empty: the observed plan ran, but AQE's
    PropagateEmptyRelation collapsed the observed subtree to an empty
    LocalTableScan — its input was empty — so no metrics row exists);
    or not ``fired`` (the observed subtree never executed within the
    timeout, so nothing is known — never read that as zero)."""
    fired: bool
    value: Any = None


def observed_value(obs: Observation, key: str,
                   timeout_sec: float = 5.0) -> Observed:
    """Bounded Observation read of metric ``key``. A bare ``obs.get``
    survives neither failure mode: on an elided subtree it throws
    inside toPyRow, and on a plan whose CollectMetrics node never
    executed (e.g. an extract_fn whose output does not derive from the
    observed input) it BLOCKS forever. Polls the JVM getRowOrEmpty,
    which resolves on the first check in the normal already-fired
    case, and sleeps between polls while unfired."""
    deadline = time.monotonic() + timeout_sec
    while True:
        jo = getattr(obs, "_jo", None)
        if jo is not None and jo.getRowOrEmpty().isDefined():
            try:
                return Observed(True, obs.get.get(key))
            except Exception:          # noqa: BLE001 — the empty row
                return Observed(True)
        if time.monotonic() >= deadline:
            return Observed(False)
        time.sleep(0.05)


def iceberg_bucket_rows(written: Observed) -> Tuple[bool, Optional[int]]:
    """(truncate, rows_out) for an IcebergStore bucket write from the
    outcome of its rows_out observation. overwritePartitions with an
    EMPTY input replaces nothing, so stale rows of a crashed prior
    write would stay visible (resurrecting tombstone-deleted docs): an
    empty write — elided-empty or a count of 0 — truncates the
    partition. A never-fired observation says nothing about the rows
    just written, so it must NOT truncate (that DELETE would remove
    the rows the write committed); rows_out is then None and the
    caller reads it from the committed snapshot."""
    if not written.fired:
        return False, None
    rows = int(written.value or 0)
    return rows == 0, rows


class SnapshotStore(abc.ABC):
    """Commit/visibility contract for bucket-at-a-time checkpointed runs."""

    # True when write_bucket also takes a tuple of buckets (one staged
    # write for a wave) and sealed waves survive a crash; see
    # ManifestStore. Other stores get waves of one.
    supports_waves = False

    @abc.abstractmethod
    def committed_buckets(self) -> Dict[int, dict]: ...

    @abc.abstractmethod
    def snapshot_id(self) -> str: ...

    @abc.abstractmethod
    def write_bucket(self, bucket: int, out_df: DataFrame) -> int:
        """Write one bucket's output (staged where the backend allows)
        in a single write job; returns its rows_out."""

    @abc.abstractmethod
    def commit(self, lineage: Lineage) -> None:
        """Atomically publish the bucket written by write_bucket."""

    @abc.abstractmethod
    def read_committed(self, spark: SparkSession) -> DataFrame: ...

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """The checkpoint/metrics table as a DataFrame — one shared
        implementation over committed_buckets() (the two stores'
        copies had drifted; setdefault covers pre-seq/metrics legacy
        manifest rows)."""
        rows = list(self.committed_buckets().values())
        if not rows:
            return spark.createDataFrame([], _LINEAGE_SCHEMA)
        for r in rows:
            r.setdefault("seq", 0)
            if r.get("metrics") is None:
                r["metrics"] = "{}"
            r.setdefault("metrics", "{}")
        return spark.createDataFrame(rows).select(
            "run_id", "partition_id", "snapshot_id", "rows_in", "rows_out",
            "latency_ms", "committed_at", "seq", "metrics")

    @abc.abstractmethod
    def delete_docs(self, spark: SparkSession, doc_ids: Iterable[str],
                    buckets: int) -> int:
        """Row-level delete (reference DELETE endpoint, backend/main.py:
        695-705): remove the given doc_ids from committed data, preserving
        snapshot semantics. Ids hashing into UNCOMMITTED buckets are
        recorded as pending tombstones so a later resume cannot resurrect
        them from the ingested input. Returns the number of buckets
        rewritten."""

    @abc.abstractmethod
    def pending_tombstones(self, bucket: int) -> List[str]:
        """doc_ids deleted while `bucket` was still uncommitted; the
        runner filters them out when it finally processes the bucket."""

    @abc.abstractmethod
    def clear_tombstones(self, bucket: int) -> None:
        """Drop the bucket's pending tombstones (called after the bucket
        commits with the tombstones applied)."""


def bucket_of_ids(spark: SparkSession, doc_ids: Iterable[str],
                  buckets: int) -> Dict[int, List[str]]:
    """{bucket: [doc_ids hashing into it]} — computed with the SAME Spark
    expression that assigned them (bucket_expr)."""
    ids = [(str(d),) for d in doc_ids]
    if not ids:
        return {}
    out: Dict[int, List[str]] = {}
    for r in (spark.createDataFrame(ids, "doc_id string")
              .select("doc_id", bucket_expr(buckets).alias("b"))
              .collect()):
        out.setdefault(int(r["b"]), []).append(r["doc_id"])
    return out


def affected_buckets(spark: SparkSession, doc_ids: Iterable[str],
                     buckets: int) -> List[int]:
    """Buckets the given doc_ids hash into (see bucket_of_ids)."""
    return sorted(bucket_of_ids(spark, doc_ids, buckets))


class ManifestStore(SnapshotStore):
    """Atomic-rename manifest commits emulating Iceberg snapshot visibility.

    Layout under ``root``:
        data/bucket=<b>/      committed parquet output for bucket b
        _staging/<b>/          in-flight single-bucket writes (never read)
        _staging/wave-<t>/     one wave's write, partitioned bucket=<b>/;
                               its _wave.json seals it (see seal_wave)
        _manifests/<b>.json    commit record = lineage row (atomic rename)
        _snapshot.json         monotone commit counter (survives deletes)

    Row counts come from the staged files' parquet footers (pyarrow, no
    Spark job), never from an Observation.
    """

    supports_waves = True

    def __init__(self, root: str) -> None:
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.staging_dir = os.path.join(root, "_staging")
        self.manifest_dir = os.path.join(root, "_manifests")
        self.tombstone_dir = os.path.join(root, "_tombstones")
        for d in (self.data_dir, self.staging_dir, self.manifest_dir,
                  self.tombstone_dir):
            os.makedirs(d, exist_ok=True)
        # bucket -> the staged directory commit() promotes for it
        self._staged: Dict[int, str] = {}

    def committed_buckets(self) -> Dict[int, dict]:
        out = {}
        for name in os.listdir(self.manifest_dir):
            # dot-prefixed names are in-flight temps (.tmp-<b>.json): a
            # crash mid-commit leaves one behind, and reading it would
            # either raise on the partial JSON (bricking every resume)
            # or fabricate a commit record — both violate the
            # manifests-are-created-whole contract.
            if name.endswith(".json") and not name.startswith("."):
                m = read_json(os.path.join(self.manifest_dir, name))
                out[int(m["partition_id"])] = m
        return out

    # -- snapshot counter ---------------------------------------------------

    def _seq_path(self) -> str:
        return os.path.join(self.root, "_snapshot.json")

    def _seq(self) -> int:
        if os.path.exists(self._seq_path()):
            return read_json(self._seq_path())["seq"]
        return len(self.committed_buckets())

    def snapshot_id(self) -> str:
        """Monotone commit counter — advances on every commit, including
        delete rewrites (a manifest-count would stand still there)."""
        return f"snap-{self._seq():06d}"

    # -- paths --------------------------------------------------------------

    def staged_path(self, bucket: int) -> str:
        return os.path.join(self.staging_dir, str(bucket))

    def committed_path(self, bucket: int) -> str:
        return os.path.join(self.data_dir, f"bucket={bucket}")

    # -- write / commit -----------------------------------------------------

    def write_bucket(self, bucket, out_df: DataFrame):
        """Stage output in one Spark job; rows come from the staged
        footers.

        ``bucket`` an int: ``out_df`` is that bucket's output, staged at
        staged_path(bucket); returns its rows_out. ``bucket`` a tuple of
        buckets (a wave): ``out_df`` carries a ``bucket`` column and is
        written partitionBy("bucket") into a new ``_staging/wave-<t>``;
        returns {bucket: rows_out}. partitionBy writes no directory for
        a bucket without rows, so each such bucket gets an empty file
        with the output schema (one small job each), as a single-bucket
        write of no rows would have."""
        if not isinstance(bucket, tuple):
            path = self.staged_path(bucket)
            out_df.write.mode("overwrite").parquet(path)
            self._staged[bucket] = path
            return footer_rows(parquet_files(path))
        # Unsealed waves are leftovers of wave jobs that crashed: never
        # reused, so drop them before staging the next one.
        for wave in self._wave_dirs():
            if not os.path.exists(os.path.join(wave, WAVE_RECORD)):
                shutil.rmtree(wave, ignore_errors=True)
        wave = os.path.join(self.staging_dir, f"wave-{time.time_ns():020d}")
        out_df.write.partitionBy("bucket").parquet(wave)
        rows = {}
        for b in bucket:
            path = os.path.join(wave, f"bucket={b}")
            if not parquet_files(path):
                out_df.sparkSession.createDataFrame(
                    [], out_df.drop("bucket").schema
                ).write.mode("overwrite").parquet(path)
            self._staged[b] = path
            rows[b] = footer_rows(parquet_files(path))
        return rows

    def staged_files(self, bucket: int) -> List[str]:
        """Parquet files of the staged output commit() would promote."""
        return parquet_files(self._staged.get(bucket,
                                              self.staged_path(bucket)))

    def _wave_dirs(self) -> List[str]:
        return [os.path.join(self.staging_dir, n)
                for n in sorted(os.listdir(self.staging_dir))
                if n.startswith("wave-")]

    def seal_wave(self, entries: Dict[int, dict]) -> None:
        """Record, atomically, that the wave just written for the
        buckets of ``entries`` completed: ``_wave.json`` holds one
        caller-defined entry per bucket (what the staged copy was
        computed from, and its counts)."""
        wave = os.path.dirname(self._staged[next(iter(entries))])
        write_json(os.path.join(wave, WAVE_RECORD),
                   {"buckets": {str(b): e for b, e in entries.items()}},
                   sort_keys=True)

    def sealed_waves(self) -> Dict[int, dict]:
        """{bucket: entry} for every bucket still staged by a sealed
        wave (the newest wave wins). commit() of such a bucket promotes
        that staged copy, unless the bucket is written again first."""
        out: Dict[int, dict] = {}
        for wave in self._wave_dirs():
            rec = os.path.join(wave, WAVE_RECORD)
            if not os.path.exists(rec):
                continue
            for b, entry in read_json(rec)["buckets"].items():
                path = os.path.join(wave, f"bucket={b}")
                if os.path.isdir(path):
                    out[int(b)] = entry
                    self._staged[int(b)] = path
        return out

    def _sweep_waves(self, bucket: int) -> None:
        """After ``bucket`` committed: drop stale staged copies of it in
        older waves, then every sealed wave with no bucket left."""
        for wave in self._wave_dirs():
            shutil.rmtree(os.path.join(wave, f"bucket={bucket}"),
                          ignore_errors=True)
            if (os.path.exists(os.path.join(wave, WAVE_RECORD))
                    and not any(n.startswith("bucket=")
                                for n in os.listdir(wave))):
                shutil.rmtree(wave, ignore_errors=True)

    def commit(self, lineage: Lineage) -> None:
        """Promote the bucket's staged output -> data, then write the
        manifest atomically.

        Crash-window discipline (each step leaves a resumable state):
          1. counter FIRST — a crash after it leaves a seq gap, never a
             duplicate (seq is the documented latest-wins key; writing
             it last could reissue the same seq to two commits);
          2. on RE-commit, the old manifest is removed before the data
             swap — the bucket reads as uncommitted for the swap window,
             so a crash inside it means redo, never a manifest pointing
             at missing/half-swapped data (the old rmtree-before-rename
             left exactly that: manifest committed, directory gone);
          3. the staged directory replaces the committed one through
             commit.publish (old renamed aside to bucket=<b>.old, new
             renamed in, aside deleted; a leftover aside is swept) — no
             point where the committed path is missing while a manifest
             references it;
          4. manifest written whole (commit.write_json: atomic publish).
        .old paths are never read (reads go through committed_path
        only)."""
        seq_next = self._seq() + 1
        lineage.seq = seq_next       # monotone 'latest commit wins' key
        # The id of the snapshot that CONTAINS this commit (the counter
        # value after it) — mirrors the Iceberg path, which records the
        # post-write table snapshot; recording the pre-commit id was
        # off by one (review finding).
        lineage.snapshot_id = f"snap-{seq_next:06d}"
        write_json(self._seq_path(), {"seq": seq_next})
        man = os.path.join(self.manifest_dir,
                           f"{lineage.partition_id}.json")
        if os.path.exists(man):
            os.remove(man)
        publish(self._staged.pop(lineage.partition_id,
                                 self.staged_path(lineage.partition_id)),
                self.committed_path(lineage.partition_id))
        write_json(man, lineage.__dict__)
        self._sweep_waves(lineage.partition_id)

    # -- tombstones -----------------------------------------------------------

    def _tombstone_path(self, bucket: int) -> str:
        return os.path.join(self.tombstone_dir, f"{bucket}.json")

    def pending_tombstones(self, bucket: int) -> List[str]:
        p = self._tombstone_path(bucket)
        return read_json(p)["doc_ids"] if os.path.exists(p) else []

    def _add_tombstones(self, bucket: int, doc_ids: List[str]) -> None:
        merged = sorted(set(self.pending_tombstones(bucket)) | set(doc_ids))
        write_json(self._tombstone_path(bucket), {"doc_ids": merged})

    def clear_tombstones(self, bucket: int) -> None:
        p = self._tombstone_path(bucket)
        if os.path.exists(p):
            os.remove(p)

    def read_committed(self, spark: SparkSession) -> DataFrame:
        """Union of all committed bucket outputs (the visible snapshot),
        schema-pinned from a footer: no Spark job."""
        paths = [self.committed_path(b) for b in self.committed_buckets()]
        if not paths:
            raise ValueError("no committed buckets")
        return read_parquet(spark, paths)

    # -- delete ---------------------------------------------------------------

    def delete_docs(self, spark: SparkSession, doc_ids: Iterable[str],
                    buckets: int) -> int:
        """Rewrite only the buckets the doc_ids hash into, minus those
        docs, and commit each rewrite as a new snapshot. Untouched buckets
        keep their files byte-identical. Buckets NOT yet committed get a
        pending tombstone instead (the ingested input under _input still
        contains the deleted docs — without the tombstone a later resume
        would silently resurrect them; the runner applies + clears the
        tombstone when it finally commits the bucket)."""
        ids = [str(d) for d in doc_ids]
        done = self.committed_buckets()
        rewritten = 0
        for b, b_ids in sorted(bucket_of_ids(spark, ids, buckets).items()):
            if b not in done:
                self._add_tombstones(b, b_ids)
                continue
            t0 = time.monotonic()
            cur = read_parquet(spark, [self.committed_path(b)])
            kept = cur.where(~F.col("doc_id").isin(b_ids))
            rows_out = self.write_bucket(b, kept)
            prev = done[b]
            self.commit(Lineage(
                run_id=f"delete:{prev['run_id']}",
                partition_id=b,
                snapshot_id=self.snapshot_id(),
                rows_in=prev["rows_out"],
                rows_out=rows_out,
                latency_ms=round((time.monotonic() - t0) * 1000, 3),
                committed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                           time.gmtime()),
            ))
            rewritten += 1
        return rewritten


def iceberg_available(spark: SparkSession) -> bool:
    """Capability probe: is the Iceberg Spark runtime on the classpath?"""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class IcebergStore(SnapshotStore):
    """SnapshotStore over a real Iceberg catalog.

    Data lives in ``<table>`` partitioned by bucket; lineage in
    ``<table>_lineage``. Bucket publication uses overwritePartitions —
    an atomic Iceberg snapshot replacing exactly that bucket's partition.
    A crash between the data commit and the lineage append leaves the
    bucket without a lineage row, so resume redoes it; overwritePartitions
    makes the redo idempotent (same input slice -> same partition
    contents), preserving the exactly-at-last-snapshot resume contract.

    Construction raises IcebergUnavailable when the runtime jars are
    missing, so callers fall back to ManifestStore.
    """

    def __init__(self, spark: SparkSession, table: str) -> None:
        if not iceberg_available(spark):
            raise IcebergUnavailable(
                "iceberg-spark runtime jars not on the classpath")
        self.spark = spark
        self.table = table
        self.lineage_table = f"{table}_lineage"
        self.tombstone_table = f"{table}_tombstones"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.lineage_table} "
            f"({_LINEAGE_SCHEMA}) USING iceberg")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.tombstone_table} "
            f"(bucket int, doc_id string) USING iceberg")

    def _lineage_rows(self) -> List[dict]:
        if not self.spark.catalog.tableExists(self.lineage_table):
            return []
        return [r.asDict() for r in
                self.spark.table(self.lineage_table).collect()]

    def committed_buckets(self) -> Dict[int, dict]:
        out: Dict[int, dict] = {}
        # 'Latest commit wins' MUST order on the monotone seq column:
        # Iceberg snapshot ids are random longs (string-sorting them is
        # not even numeric order) and committed_at ties at second
        # granularity — seq is the commit order by construction, with
        # committed_at as a legacy-row tiebreaker.
        for r in sorted(self._lineage_rows(),
                        key=lambda r: (r.get("seq") or 0,
                                       r["committed_at"])):
            out[int(r["partition_id"])] = r
        return out

    def _next_seq(self) -> int:
        rows = self._lineage_rows()
        return 1 + max((r.get("seq") or 0 for r in rows), default=0)

    def snapshot_id(self) -> str:
        if not self.spark.catalog.tableExists(self.table):
            return "snap-000000"
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1").collect()
        return f"snap-{row[0]['snapshot_id']}" if row else "snap-000000"

    def write_bucket(self, bucket: int, out_df: DataFrame) -> int:
        obs = Observation()
        tagged = (out_df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
                  .withColumn("bucket", F.lit(bucket)))
        existed = self.spark.catalog.tableExists(self.table)
        if existed:
            tagged.writeTo(self.table).overwritePartitions()
        else:
            (tagged.writeTo(self.table).partitionedBy("bucket")
             .using("iceberg").create())
        truncate, rows = iceberg_bucket_rows(
            observed_value(obs, "rows_out"))
        if truncate and existed:
            self.spark.sql(f"DELETE FROM {self.table} "
                           f"WHERE bucket = {int(bucket)}")
        if rows is None:
            rows = self._added_records()
        return rows

    def _added_records(self) -> int:
        """added-records of the table's latest snapshot: the rows the
        write that just committed it added."""
        row = self.spark.sql(
            f"SELECT summary['added-records'] AS n FROM {self.table}"
            ".snapshots ORDER BY committed_at DESC LIMIT 1").collect()
        return int(row[0]["n"] or 0) if row else 0

    def commit(self, lineage: Lineage) -> None:
        lineage.seq = self._next_seq()
        self.spark.createDataFrame([lineage.__dict__], _LINEAGE_SCHEMA) \
            .writeTo(self.lineage_table).append()

    def read_committed(self, spark: SparkSession) -> DataFrame:
        committed = list(self.committed_buckets())
        if not committed:
            raise ValueError("no committed buckets")
        return (spark.table(self.table)
                .where(F.col("bucket").isin(committed)).drop("bucket"))

    def pending_tombstones(self, bucket: int) -> List[str]:
        if not self.spark.catalog.tableExists(self.tombstone_table):
            return []
        return sorted(r["doc_id"] for r in self.spark
                      .table(self.tombstone_table)
                      .where(F.col("bucket") == bucket).collect())

    def clear_tombstones(self, bucket: int) -> None:
        self.spark.sql(f"DELETE FROM {self.tombstone_table} "
                       f"WHERE bucket = {int(bucket)}")

    def delete_docs(self, spark: SparkSession, doc_ids: Iterable[str],
                    buckets: int) -> int:
        ids = [str(d) for d in doc_ids]
        done = self.committed_buckets()
        per_bucket = bucket_of_ids(spark, ids, buckets)
        hit = [b for b in sorted(per_bucket) if b in done]
        # Uncommitted buckets: tombstone instead of DELETE — the data
        # isn't in the table yet, and a resume would otherwise reprocess
        # the deleted docs back in from the ingested input.
        pend = [(b, i) for b in sorted(per_bucket) if b not in done
                for i in per_bucket[b]]
        if pend:
            spark.createDataFrame(pend, "bucket int, doc_id string") \
                .writeTo(self.tombstone_table).append()
        if not hit:
            return 0
        # Iceberg row-level DELETE: one atomic snapshot, only the affected
        # partitions' files rewritten (copy-on-write) or delete files added
        # (merge-on-read). Ids are SQL-escaped ('' doubling) — a quote in a
        # doc_id must not break or inject into the statement.
        id_list = ", ".join("'{}'".format(i.replace("'", "''"))
                            for i in ids)
        bucket_list = ", ".join(str(int(b)) for b in hit)
        t0 = time.monotonic()
        spark.sql(f"DELETE FROM {self.table} "
                  f"WHERE doc_id IN ({id_list}) "
                  f"AND bucket IN ({bucket_list})")
        latency = round((time.monotonic() - t0) * 1000, 3)
        # Keep the two store implementations' delete contracts symmetric:
        # ManifestStore records a delete:<run_id> lineage row per rewritten
        # bucket and advances the snapshot; mirror that here.
        snap = self.snapshot_id()
        now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        for b in hit:
            prev = done[b]
            rows_out = (spark.table(self.table)
                        .where(F.col("bucket") == b).count())
            self.commit(Lineage(
                run_id=f"delete:{prev['run_id']}",
                partition_id=b,
                snapshot_id=snap,
                rows_in=prev["rows_out"],
                rows_out=rows_out,
                latency_ms=latency,
                committed_at=now,
            ))
        return len(hit)
