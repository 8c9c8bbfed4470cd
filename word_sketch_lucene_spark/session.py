"""SparkSession factory with scale-aware defaults.

Local mode here is a stand-in for a multi-executor cluster: shuffle
partitioning, AQE, and Arrow settings are chosen so the same code runs
unchanged under ``spark-submit --py-files`` on a real cluster (the
partition counts scale with ``spark.default.parallelism`` there).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(total_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: half
    the host's physical memory (``total_bytes``, read from the OS when
    None) in whole GB, at least ``1g`` — a fixed large heap lets the
    JVM grow past what a small host has."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total_bytes // 2 // (1 << 30))}g"


def get_spark(
    app_name: str = "spark-fulltext",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE on (runtime coalesce + skew-join backstop; explicit salting is
      still the primary skew defense in :mod:`..index.build`).
    - Arrow on (every Python boundary in this repo is pandas/Arrow batched).
    - UTC session timezone (oracle comparisons against DuckDB are UTC-naive).
    """
    # One worker = one core: stop numpy/BLAS inside pandas-UDF workers from
    # spawning a thread pool per worker (n_workers × n_threads oversubscription
    # collapses throughput at high parallelism).
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(v, "1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.default.parallelism", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
