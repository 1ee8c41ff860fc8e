"""SparkSession builders.

Local-mode sessions sized for the sandbox (single JVM); the engine itself
is written for multi-executor clusters — all parallelism flows through
DataFrame partitioning, never driver-side loops.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    parallelism: int = 32,
    app_name: str = "olaf_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    b = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        # scan-parallelism FLOOR (not a fixed split size): a table smaller
        # than maxPartitionBytes otherwise scans as ONE task, serializing
        # every zero-shuffle pipeline above it (match_tally's mapInArrow,
        # lineitem_agg's pre-agg) onto one core. The floor is derived from
        # the session's core count, so it stays correct on a cluster
        # (whose big tables already split past it) — optimization guide §6.
        .config("spark.sql.files.minPartitionNum", str(parallelism))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def rebalance_scan(spark: SparkSession, df, key: str):
    """Rebalance a scan that arrives in fewer partitions than the session
    has cores, hash-partitioned on a real high-cardinality key.

    A single-file table with one 1M-row parquet row group scans as ONE
    unsplittable task (minPartitionNum splits by byte range, but a row
    group cannot be shared), so every tokenize/pack pipeline above it
    serializes onto one core before its first wide exchange (guide §2.5:
    unsplittable input -> repartition right after the read). NO-OP when
    the scan already splits to >= the session parallelism — a cluster run
    over a many-file table never pays the extra exchange. Hash on a key
    rather than keyless round-robin: the latter pays the
    sort-before-repartition pass (SPARK-23207)."""
    from pyspark.sql import functions as F

    # tiny inputs keep their partitioning: below a few MB of source bytes
    # the exchange's fixed cost exceeds any parallelism win (measured at
    # sf0.1: bigrams build 3.9 s -> 4.8 s with an unconditional rebalance).
    # Decided from inputFiles() first: it needs no physical plan, where
    # getNumPartitions() converts the plan to an RDD.
    try:
        total = sum(os.path.getsize(f[7:] if f.startswith("file:") else f)
                    for f in df.inputFiles())
    except OSError:
        total = None
    if total is not None and 0 < total < (4 << 20):
        return df
    want = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want, F.col(key))


def prewarm_python_workers(spark: SparkSession) -> None:
    """Fork + import one reusable Python/Arrow worker per core.

    Cold pandas-UDF stages pay worker fork + numpy/pandas import once per
    core (~30 s wall for 32 workers on this box). Real clusters run with
    warm executors; call this before timing builds or serving latency.
    """
    cores = spark.sparkContext.defaultParallelism

    def _noop(it):
        yield from it

    (
        spark.range(0, cores * 4, 1, cores * 4)
        .mapInPandas(_noop, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
