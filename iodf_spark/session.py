"""SparkSession builder tuned for this engine.

Local mode is used for tests/bench (local[N], one JVM); the conf below is
written so the same code scales to a multi-executor cluster: AQE enabled
(runtime re-plan, skew-join splitting, partition coalescing), shuffle
partitions sized to cores locally (on a real cluster, set to ~2-3x total
cores or rely on AQE coalescing), Arrow enabled for the Pandas-UDF slow path,
session timezone pinned to UTC so timestamps compare exactly against the
DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Rebalance an under-parallelized input ahead of a compute-heavy
    narrow stage (vector kernels, tokenization, sketching).

    Single-row-group parquet files — the local testdata shape — produce ONE
    scan split, so every downstream narrow stage runs on one core of N
    until the first shuffle (measured: the whole ivf64 cell assignment ran
    in 1 task). A 100 TB table scans as thousands of splits, in which case
    this is a NO-OP — the guard, not the repartition, is the point: an
    unconditional repartition would be a full-corpus shuffle at scale.
    The explicit partition count keeps AQE from coalescing the small
    shuffle back down to one partition.

    Call it on the PRUNED projection (id + payload columns only), after
    any pushable filters — a repartition above the scan would block
    predicate pushdown."""
    sc = df.sparkSession.sparkContext
    tgt = int(target) if target else sc.defaultParallelism
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning edge; never fail the query
        return df
    if 2 * nparts <= tgt:
        return df.repartition(tgt)
    return df


def _default_driver_mem() -> str:
    """60% of physical RAM, capped at 32g: a fixed 32g heap on a 16 GB
    host lets the JVM grow until the kernel kills it. ``SPARK_DRIVER_MEM``
    overrides."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):  # no sysconf (non-POSIX)
        return "32g"
    return f"{max(512, min(32 << 10, int(ram * 0.6) >> 20))}m"


def get_spark(app_name: str = "iodf_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the unrolled 64-term vector kernels (operators/similarity.py)
        # compile to large codegen classes; the default 100-entry generated-
        # class cache thrashes when a full 50-query workload runs twice
        # (measured: the ANN family pays its full ~10 s janino compile on
        # EVERY repeat). Static conf: takes effect at session creation.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns
        # type — read as long, converted to µs timestamps in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
