"""Canonical loaders for the synthetic test tables.

One place that knows the quirks of `/root/testdata/sf*`:

- ``events.parquet`` stores TIMESTAMP(NANOS) which Spark's parquet reader
  rejects outright; we read it with ``spark.sql.legacy.parquet.nanosAsLong``
  and convert the long to a micro-second TIMESTAMP_NTZ (integer floor
  division — exactly what DuckDB's ns→µs coercion produces, so oracle
  comparisons line up bit-for-bit).
- Everything else reads as-is; ms-timestamps arrive as TIMESTAMP_NTZ.

At scale these loaders are just `spark.read.parquet` — predicate pushdown,
column pruning and partition pruning all apply; nothing here ever collects.

Schemas are read once per file fingerprint: inferring a parquet schema
runs a footer-reading Spark job, so ``read_parquet`` caches the
inferred ``StructType`` under ``staging._dep_sig`` (path, size and
mtime_ns of every file) and reads with ``spark.read.schema(...)``.
The file listing still happens on every read, and a rewritten file
gets a new fingerprint, so its new schema is inferred again.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etly_spark.io.fs import is_local, strip_file_scheme
from etly_spark.io.staging import _dep_sig
from etly_spark.session import tune_session

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# fixes region=5 / nation=25 rows; supplier/part/customer grow with SF).
BROADCAST_DIMS = {"region", "nation"}


# file fingerprint -> inferred schema; shared by pooled driver threads
_SCHEMAS: dict[str, StructType] = {}
_SCHEMAS_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    after the first read of the same file contents. A remote URL has no
    local fingerprint, so Spark infers its schema on every read."""
    if not is_local(path):
        return spark.read.parquet(path)
    sig = _dep_sig(strip_file_scheme(path))
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(sig)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _SCHEMAS_LOCK:
            _SCHEMAS[sig] = schema
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns epoch → µs epoch → TIMESTAMP_NTZ (matches DuckDB coercion).
        # Integer division: ns values exceed 2^53, double math would round.
        df = df.withColumn(
            "ts", F.to_timestamp_ntz(F.timestamp_micros(F.expr("ts DIV 1000")))
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
