"""SparkSession factory with the engine's scale-oriented defaults.

AQE on (runtime shuffle coalescing + skew-join splitting), Arrow exchange
on (all our UDFs are Arrow-vectorized). The master is Spark's choice
unless a caller names one: spark-submit's ``--master``, or ``local[*]``
under plain ``python``. The tuning constants below are defaults that
``shuffle_partitions=`` and ``extra_conf=`` override.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Post-shuffle partition sizing (round 6, optimization guide §2.2).
# The engine's operators are CPU-dense per row (tokenize + md5 + HOF
# pair sweeps), so post-shuffle partition sizing must follow COMPUTE,
# not bytes: the default 64m AQE advisory folds a 32-partition shuffle
# of a ~30 MB table into one or two post-shuffle partitions and
# serializes the O(n^2) LSH pair-sweep and window stages on a 32-core
# box (measured: embed_near_dups 42.7 s -> 33.3 s at sf1.0 from this
# knob alone). A small advisory is safe at every scale because AQE
# only coalesces DOWN toward it — it never splits big shuffles, it
# only stops byte-based coalescing from starving compute-dense stages
# (the same reasoning bench.py's _SCALING_CONF documents for the
# extraction legs). Override with extra_conf. NOTE on scans: the
# bench tables are single-row-group parquet files, so
# files.maxPartitionBytes cannot parallelize them (measured: 6 splits
# = 5 empty tasks, zero speedup) — map-side parallelism for expensive
# per-row work comes from session.fan_out / compute-above-sort query
# shapes instead, which stay no-ops on real multi-split inputs.
ADVISORY_PARTITION_BYTES = "1m"
MIN_PARTITION_BYTES = "256k"


def get_spark(app_name: str = "document_ai_spark",
              master: str | None = None,
              shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
              extra_conf: dict | None = None) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                ADVISORY_PARTITION_BYTES)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                MIN_PARTITION_BYTES)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/document_ai_spark_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def fan_out(df, target: int | None = None):
    """Round-robin repartition a CPU-dense input up to the cluster's
    core count when its natural partitioning underfills it (guide §2.5
    "input skew: one huge unsplittable file ... repartition immediately
    after the read").

    Scale-adaptive by construction: a real-scale input arrives in
    thousands of row-group splits, getNumPartitions() >= target, and
    this is a no-op — no shuffle is ever added at scale. It only fires
    on the small/un-splittable-file layout (bench tables are single
    1-row-group-per-MB files) where the shuffle it adds moves a few MB
    once so the expensive per-row work downstream (tokenize, md5,
    shingle, sketch) runs on every core instead of one. Costs one plan
    analysis (getNumPartitions plans the query; it runs no job)."""
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
