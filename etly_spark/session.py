"""SparkSession construction with scale-oriented defaults.

The reference hand-rolls its parallelism (goroutine fan-out, HTTP worker
cluster — transfer_service.go:451-477,698-760; transfer_object_service_client.go:20-23).
Here the cluster manager + AQE replace all of that; this module only pins
the configs that matter for a 100 TB run and for deterministic tests.
"""

from __future__ import annotations

import os
import weakref

from py4j.java_gateway import java_import
from pyspark.sql import SparkSession

# The package root, for Python workers that start outside the repo.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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
    # Python workers fork from etly_spark/worker_daemon.py, which stops
    # each task's importlib.invalidate_caches() from re-reading Spark's
    # zip archives: 97-159 ms per task on a 4 vCPU host, 0.1 ms with
    # it; a 4-partition mapInPandas noop fell from 0.34-0.41 s to
    # 0.19-0.25 s. Workers import the daemon through the package root
    # on their PYTHONPATH (Spark merges it with its own zips and the
    # JVM's PYTHONPATH), so they find it from any cwd and in
    # local-cluster executors. Static conf: sessions built elsewhere
    # keep pyspark.daemon.
    "spark.python.daemon.module": "etly_spark.worker_daemon",
    "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT,
    # Catalyst's generated-class cache holds 100 classes by default,
    # fewer than the catalog's working set: each perfbench catalog
    # iteration recompiled 6 classes for text_quality and 3 for
    # q9_set_ops (about 10 ms each, CodegenMetrics' compilation count);
    # at 1000 both recompile none. Static conf.
    "spark.sql.codegen.cache.maxEntries": "1000",
}

# JVM classes PySpark names on hot paths through star imports: without
# a single import each py4j lookup first misses Class.forName over every
# star-imported package (~287 jars on the classpath here), 0.16 ms for
# PythonUtils and 0.4-0.6 ms for PythonSQLUtils instead of a 0.08 ms
# round trip. PySpark 4.1 already imports `functions` this way.
HOT_JVM_CLASSES = (
    "org.apache.spark.sql.functions",
    "org.apache.spark.api.python.PythonUtils",
    "org.apache.spark.sql.api.python.PythonSQLUtils",
)
_IMPORTED_VIEWS: "weakref.WeakSet" = weakref.WeakSet()


def import_hot_jvm_classes(spark: SparkSession) -> None:
    """Single-import HOT_JVM_CLASSES into the session's JVM view, once."""
    jvm = getattr(spark, "_jvm", None)  # None on Spark Connect
    if jvm is None or jvm in _IMPORTED_VIEWS:
        return
    for fqn in HOT_JVM_CLASSES:
        java_import(jvm, fqn)
    _IMPORTED_VIEWS.add(jvm)


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
    import_hot_jvm_classes(spark)
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
    import_hot_jvm_classes(spark)
    return spark
