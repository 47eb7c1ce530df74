"""SparkSession construction with scale-oriented defaults.

The reference hand-rolls its parallelism (goroutine fan-out, HTTP worker
cluster — transfer_service.go:451-477,698-760; transfer_object_service_client.go:20-23).
Here the cluster manager + AQE replace all of that; this module only pins
the configs that matter for a 100 TB run and for deterministic tests.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe (and desirable) to set on an existing session at
# runtime — e.g. the session the correctness driver hands us.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic, engine-portable timestamps (DuckDB is tz-naive).
    "spark.sql.session.timeZone": "UTC",
    # testdata events.parquet stores TIMESTAMP(NANOS) which the Spark
    # parquet reader rejects; read as long and convert (io/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones. Essential at 100 TB, harmless at sf0.01.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF boundary (multimodal stubs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Recursive CTEs (q16 streaks) emit one row per input row across
    # all depth levels — linear in the table, so the 1M-row safety
    # default trips at ~sf1.0. The level limit (100) is the real
    # runaway guard and stays at its default.
    "spark.sql.cteRecursionRowLimit": "2000000000",
}

# Python-worker native-library thread cap (optimization r15, guide
# §4.2): Spark tasks are the parallelism unit — every Arrow-batch
# kernel (BLAS matmul scorers, codec walks) runs in its own worker
# process, so a multithreaded BLAS inside each worker multiplies to
# task_slots x blas_threads runnable threads (32 x 32 on local[32]:
# measured sim_ann_methods pooled build 16.6-21 s -> 12.4-13.3 s and
# exec 2.0-2.3 -> 1.7-1.8 s with the cap). Results are unchanged —
# GEMM partitions output blocks per thread, each element's reduction
# order is fixed (oracle hash re-verified on tuned AND vanilla
# sessions either way). Parameterized for clusters where executors
# get dedicated cores and a different split is wanted.
_WORKER_BLAS = os.environ.get("SPARK_GRAFT_WORKER_BLAS_THREADS", "1")

# Builder-time configs for sessions we create ourselves.
BUILD_CONFS: dict[str, str] = {
    **RUNTIME_CONFS,
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # reaches Python workers in every deploy mode: pyspark copies
    # spark.executorEnv.* into the worker env at task launch
    "spark.executorEnv.OPENBLAS_NUM_THREADS": _WORKER_BLAS,
    "spark.executorEnv.OMP_NUM_THREADS": _WORKER_BLAS,
    "spark.executorEnv.MKL_NUM_THREADS": _WORKER_BLAS,
    # keep managed tables (bucketing demos/tests) out of the repo tree
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/etly_spark_warehouse"
    ),
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Ignored in local[] mode (the driver JVM is the executor); sizes
    # the per-JVM heap under local-cluster / standalone masters.
    "spark.executor.memory": os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "3g"),
    # PySpark's call-site capture: while on, every DataFrame/Column API
    # call walks the Python stack and makes about 5 extra py4j round
    # trips (getActiveSession, the PySparkCurrentOrigin lookup, a conf
    # get, set and clear). Off, a traced transfer_incremental iteration
    # on a 4 vCPU host made about 550 py4j calls instead of about 1230.
    # Cost: JVM error messages lose the Python file:line "DataFrame
    # query context"; the Python traceback still has it. Static conf:
    # it takes effect only when the session is created.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "etly_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # SPARK_GRAFT_MASTER overrides the whole master URL — the
    # local-cluster[2,N,M] serialization proof (separate executor JVMs
    # + Python workers) runs the standard tools unchanged through it.
    default_master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(
        master or default_master
    )
    for k, v in BUILD_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to a session we did not build.

    The correctness driver owns its SparkSession; these confs are all
    runtime-settable SQL confs, so this is safe to call on any session.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — keep going
    return spark
