"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` but every config here is chosen for the
1000-executor / 100 TB case and is harmless locally:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- Arrow on: every pandas UDF crosses the JVM/Python boundary in columnar
  batches instead of pickled rows.
- UTC session timezone: deterministic timestamp semantics (the reference
  mixes epoch-int and ISO-string comparison; see SURVEY §1.2 —
  reference main/indexes/indexers/chroma_indexer.py:81-103 vs
  main/indexes/indexers/sqllite_indexer.py:131-133. We standardize on
  typed UTC timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "documents-vector-search-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the test-scale 32; on a real
    cluster set it to ~2-3x total cores (or rely on AQE coalescing,
    which is enabled and shrinks it automatically).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else 32),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=false: AQE coalesces post-shuffle partitions
        # toward advisoryPartitionSizeInBytes (bytes-driven) instead of
        # stopping at the default-parallelism floor — the scale-correct
        # setting (guide §2.2: partition count should follow data size,
        # not core count). Env-overridable for A/B and deployments.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_AQE_ADVISORY_BYTES", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 128 MiB input splits: good default for parquet scans at scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # file:// paths through the raw local filesystem (FileSystem and
        # FileContext APIs): Hadoop's default checksummed wrapper writes
        # a hidden .crc twin beside every file, and without the native
        # Hadoop library each file create forks a `chmod` process — the
        # twin doubles that per-file cost. A partitioned Parquet write of
        # 512 small files took 3.2 s instead of 4.4 s (median of 8
        # interleaved pairs, 4-CPU local[4]). Cluster storage (hdfs://,
        # s3a://) is unaffected.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
