"""SparkSession factory with scale-oriented defaults.

Configs chosen for the 100TB design point (SURVEY.md §4):
  - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  - Arrow-batched Python UDFs with a bounded batch size (the hit-buffer
    analogue: bound per-batch memory, since turns vary in length)
  - shuffle partition count from the environment (a real cluster submits
    with --conf; local tests size it to cores)
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app: str = "cld2_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, int(os.environ.get("CLD2S_SHUFFLE_PARTITIONS", cores)))
    # Keep glibc from mmap/munmap-ing the kernels' large transient NumPy
    # arrays: every munmap triggers cross-core TLB-shootdown IPIs, which
    # serialize all Python workers on a many-core box (measured: 4x -> 20x
    # scaling at 32 procs with heap reuse). Set on the driver env so the
    # JVM-spawned Python workers inherit it, and on executorEnv for real
    # clusters.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, "1073741824")
    return (
        SparkSession.builder
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pin the session timezone: date_trunc/unix_timestamp and Arrow
        # timestamp conversion must not depend on the host zone (the DuckDB
        # oracle truncates naive UTC timestamps).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("CLD2S_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the body of a `with` block, then put the
    caller's value back, also when the body raises. For a job-scoped
    setting that must not leak into the rest of the session."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def ensure_parallelism(df, min_factor: int = 2):
    """Repartition a COMPUTE-HEAVY input only when its partition count is
    far below the cluster's parallelism.

    Small tables (one parquet file, a couple of row groups) arrive with
    1-2 partitions; a per-row-expensive projection (per-shingle md5,
    per-token explode, JPEG decode) then runs on 1-2 cores no matter how
    many are idle — a parquet row group is the minimum split unit, so no
    maxPartitionBytes setting can fix it. At real corpus scale the scan
    has thousands of splits and this is a NO-OP (npart >= parallelism /
    min_factor), so the extra exchange is only ever paid when it buys
    cores. getNumPartitions() reads plan metadata — no job."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        npart = df.rdd.getNumPartitions()
    except Exception:
        return df
    if npart * min_factor < par:
        return df.repartition(par)
    return df
