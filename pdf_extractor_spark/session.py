"""SparkSession builder tuned for the extraction workload.

Local mode is a stand-in for a multi-executor cluster: every knob below is
chosen so the same job scales to 1000 executors — AQE for runtime re-plan and
skew-join splitting, Arrow for the vectorized kernel, small Arrow batches
because `html` payloads are large blobs (a 10k-record batch of 100 KB pages
would be ~1 GB of Arrow memory per task).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# html blobs can be 100 KB+; keep Arrow batches small so executor memory per
# task stays bounded at 100 TB scale (batch bytes ≈ records × avg_doc_bytes).
ARROW_MAX_RECORDS_PER_BATCH = 256


def get_spark(
    app_name: str = "pdf_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[%s]" % (os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS_PER_BATCH))
        # html-blob tables decode to ~10× their on-disk size in the Python
        # kernel; smaller splits keep scan parallelism ≥ cores even for
        # modest inputs and bound per-task memory at 100 TB scale.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_MAX_PARTITION_BYTES", "16m"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # effective only when THIS builder starts the JVM (tests/bench/
        # embedded use); under spark-submit the driver JVM already exists —
        # pass --driver-memory there instead
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` (a bare path or any Hadoop URI), both
    py4j handles: the one way driver-side code lists, probes, writes,
    renames or deletes a path, so every scheme resolves the same way."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath
