"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same configs are what we would
set cluster-side (AQE on, sensible shuffle partitioning, Arrow for the
Pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "agensgraph_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # console progress bars share the terminal with bench's stdout
        # JSON; the driver's tail capture is a fixed window, so keep
        # the output channel clean of \r-rewritten stage bars
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores TIMESTAMP(NANOS) parquet (events.ts);
        # read as long and convert in the loader (values are micro-precision)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the default 100-entry generated-class cache thrashes on a
        # many-query analytics workload (every big projection — 32-slot
        # minhash signatures, wide TPC-H aggregates — is a distinct
        # class, and a janino recompile costs seconds): measured on the
        # 29-query bench, interleaved runs re-paid compilation every
        # pass. Static conf, so it must be set at session build.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # reliable-checkpoint mode (paths._ckpt with
        # spark.agensgraph.checkpointDir) writes one checkpoint per
        # generation; without this the retired generations' files
        # accumulate until the volume fills — the ContextCleaner only
        # deletes checkpoint data when this static conf is on
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # PySpark captures the Python call site of every DataFrame call
        # for error context. Spark documents it as costly: building the
        # plans of the eight sf0.1 perfbench Cypher reads took 2.5-2.8 s
        # with it and 1.4-1.5 s without (local[4]; 408-3,121 py4j round
        # trips per read against 128-821), and the sites it records
        # point into the compiler, not at the user's query. Errors keep
        # their message. Static conf, so it must be set at session build.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
