"""SparkSession construction tuned for this engine, and the driver budget.

Local-mode testing runs on ``local[N]``; the same configuration scales to a
multi-executor cluster (the confs below are cluster-safe: AQE, skew-join
handling, Arrow batching). Nothing here is test-only.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession

# Local-mode core count: SPARK_GRAFT_CPUS, else the CPUs this process may use
# (sched_getaffinity is Linux-only; elsewhere every CPU of the host). On a real
# cluster the same builder is used with master/memory supplied by spark-submit.
_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(
    len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1
)

# the share of the driver JVM's heap that one driver-side stage may hold
DRIVER_HEAP_SHARE = 0.25


@functools.lru_cache(maxsize=None)
def _max_heap(sc) -> int:  # fixed for the JVM's life; a lookup costs ~1 ms of py4j calls
    return sc._jvm.java.lang.Runtime.getRuntime().maxMemory()


def driver_budget(spark: SparkSession) -> int:
    """``DRIVER_HEAP_SHARE`` of the heap the driver JVM reports (under
    spark-submit the ``spark.driver.memory`` conf need not be that heap)."""
    return int(_max_heap(spark.sparkContext) * DRIVER_HEAP_SHARE)


def driver_fits(spark: SparkSession, est_bytes: float) -> bool:
    """Whether a stage estimated to hold ``est_bytes`` on the driver runs
    there: the one gate between every driver twin and its Spark plan."""
    return est_bytes <= driver_budget(spark)


def get_spark(
    app_name: str = "semantic_search_system_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configuration.

    ``master=None`` defers to spark-submit / an existing session; tests pass
    ``local[_DEF_CPUS]`` explicitly. The driver heap: SPARK_GRAFT_DRIVER_MEM,
    else half the box's RAM given a ``master``, else spark-submit's.
    ``shuffle_partitions`` defaults to the core count in local mode. Under
    spark-submit the driver host's CPUs say nothing about the executors, so
    it defaults to SPARK_GRAFT_CPUS or 32 — at cluster scale it should be
    ~2-3x total executor cores (AQE coalescing, which is enabled, can merge
    partitions but not add them)."""
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
        # No table is saved to the warehouse, but the in-memory catalog
        # creates the default database directory on first use, which would
        # otherwise be spark-warehouse/ in the cwd — the checkout.
        "spark.sql.warehouse.dir": "/tmp/sss_spark_warehouse",
        # Scan-split sizing: 32 MiB yields enough splits to keep every core
        # busy on this engine's document corpora (span arrays expand ~4-8x in
        # memory vs parquet bytes); wide-row workloads can raise it through
        # extra_conf.
        "spark.sql.files.maxPartitionBytes": "33554432",
        "spark.sql.files.openCostInBytes": "1048576",
        # Dynamic-partition parquet writes: with 0 (the default) Spark SORTS
        # every task's rows by partition key before writing; our pipeline
        # tables have only N_BUCKETS=8 dynamic partitions per task, so
        # concurrent writers skip that whole-task sort (measured on the
        # ×256 corpus: the graph stage's write-side cost is the pipeline's
        # largest super-proportional term). Tables with more partitions than
        # this (e.g. the √N-bucket IVF assignment) fall back to sort-based
        # writing automatically.
        "spark.sql.maxConcurrentOutputFileWriters": "16",
        # file:// writes skip the Hadoop checksum layer (every staged parquet
        # file otherwise writes a .crc sibling — measured ~20% of the warm
        # partitioned-commit wall at sf0.1, pure overhead on a local disk
        # whose durability story is the catalog's own atomic manifest +
        # staging protocol). Scheme-scoped: hdfs:///s3a:// tables are
        # untouched, and extra_conf (or --conf) restores checksummed local I/O.
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
        # The same for Structured Streaming's checkpoint logs (offsets,
        # commits, file-source log), which are written through Hadoop's
        # FileContext API, not FileSystem: the line above does not reach
        # them. Their writes stay temp-file-plus-rename atomic; the checksum
        # layer cost ~75 ms of each warm 120-doc stream query on local[4]
        # (latestOffset, walCommit and commitOffsets: 2 x ~23 ms vs ~47 ms).
        "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.RawLocalFs",
        # Catalog.read passes one directory per manifest partition, and past
        # this many paths (default 32, which an uncompacted stream table
        # passes after its fifth epoch) Spark lists them in a Spark job.
        # Measured on local[4], one file per directory, job vs driver
        # listing: 0.4-1.5 s vs 60-90 ms at 40-48 directories, 5.4 s vs
        # 0.4-0.5 s at 1,000. Past 1,024 the job lists remote stores in
        # parallel.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    }
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    if heap := os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (master and f"{phys // 2**21}m"):
        conf["spark.driver.memory"] = heap
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
