"""SparkSession construction tuned for this engine.

Local-mode testing runs on ``local[N]``; the same configuration scales to a
multi-executor cluster (the confs below are cluster-safe: AQE, skew-join
handling, Arrow batching). Nothing here is test-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local-mode core count: SPARK_GRAFT_CPUS, else the CPUs this process may use
# (sched_getaffinity is Linux-only; elsewhere every CPU of the host). On a real
# cluster the same builder is used with master/memory supplied by spark-submit.
_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(
    len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1
)


def get_spark(
    app_name: str = "semantic_search_system_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configuration.

    ``master=None`` defers to spark-submit / an existing session; tests pass
    ``local[_DEF_CPUS]`` explicitly. ``shuffle_partitions`` defaults to the
    core count in local mode. Under spark-submit the driver host's CPUs say
    nothing about the executors, so it defaults to SPARK_GRAFT_CPUS or 32 —
    at cluster scale it should be ~2-3x total executor cores (AQE coalescing,
    which is enabled, can merge partitions but not add them).
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
        cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else _DEF_CPUS
        if cores == "*":
            cores = _DEF_CPUS
        if shuffle_partitions is None:
            shuffle_partitions = max(int(cores), 4)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # AQE: runtime partition coalescing + skew-join splitting. The entity /
        # topic key distribution is power-law (hot entities appear in ~every
        # doc), so skew handling is load-bearing, not optional.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow: the only Python on the hot path is vectorized pandas UDFs.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Deterministic oracle comparison (duckdb timestamps are UTC-naive).
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        # bucketed-table warehouse (co-located joins); deployment-specific
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/sss_spark_warehouse"
        ),
        # Scan-split sizing: 32 MiB yields enough splits to keep every core
        # busy on this engine's document corpora (span arrays expand ~4-8x in
        # memory vs parquet bytes); raise via env for wide-row workloads.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"
        ),
        "spark.sql.files.openCostInBytes": "1048576",
        # Dynamic-partition parquet writes: with 0 (the default) Spark SORTS
        # every task's rows by partition key before writing; our pipeline
        # tables have only N_BUCKETS=8 dynamic partitions per task, so
        # concurrent writers skip that whole-task sort (measured on the
        # ×256 corpus: the graph stage's write-side cost is the pipeline's
        # largest super-proportional term). Tables with more partitions than
        # this (e.g. the √N-bucket IVF assignment) fall back to sort-based
        # writing automatically.
        "spark.sql.maxConcurrentOutputFileWriters": os.environ.get(
            "SPARK_GRAFT_MAX_WRITERS", "16"
        ),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        # file:// writes skip the Hadoop checksum layer (every staged parquet
        # file otherwise writes a .crc sibling — measured ~20% of the warm
        # partitioned-commit wall at sf0.1, pure overhead on a local disk
        # whose durability story is the catalog's own atomic manifest +
        # staging protocol). Scheme-scoped: hdfs:///s3a:// tables are
        # untouched, and the env override restores checksummed local I/O.
        "spark.hadoop.fs.file.impl": os.environ.get(
            "SPARK_GRAFT_LOCAL_FS", "org.apache.hadoop.fs.RawLocalFileSystem"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, data, schema: str):
    """Small driver-side DataFrame via the pandas→Arrow local-relation path.

    ``createDataFrame(list_of_tuples)`` parallelizes PICKLED rows across
    defaultParallelism slices; any downstream single-task consumer (a
    coalesce(1) write, a broadcast build) then funnels every slice through one
    Python worker round-trip — measured 4-7 s PER WRITE for an 8-row centroid
    table on this host. The pandas path ships one Arrow batch to the JVM as a
    LocalRelation (~0.2 s) and stays JVM-side from there. ``schema`` is the
    DDL string; column order must match the tuple order."""
    import pandas as pd
    from pyspark.sql.types import StructType

    # real DDL parse, not schema.split(',') — a comma inside a parameterized
    # type (decimal(10,2), map<string,int>) would silently misname columns
    names = [f.name for f in StructType.fromDDL(schema).fields]
    pdf = pd.DataFrame(list(data), columns=names)
    return spark.createDataFrame(pdf, schema)
