"""Datastore source (S3 in SURVEY §2): SQL-ish sources → DataFrames.

Reference parity (transfer_service.go:343-405): the dsc driver abstraction
(csv / bigquery / sql) streams rows into a channel; here each driver maps
to a native Spark reader, so predicate pushdown into JDBC/BigQuery is free
(the reference pushes nothing). The "bare table name wraps into SELECT *"
defaulting (transfer_service.go:369-372) is preserved.
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from etly_spark.config import Source

_SELECT_RE = re.compile(r"^\s*select\s", re.IGNORECASE)
_FROM_RE = re.compile(r"\bfrom\s+([A-Za-z_][A-Za-z0-9_.]*)", re.IGNORECASE)


def normalize_sql(text: str) -> str:
    """Bare table name → SELECT * FROM t (transfer_service.go:369-372)."""
    if not _SELECT_RE.match(text):
        return f"SELECT * FROM {text.strip()}"
    return text


def read_datastore(spark: SparkSession, source: Source) -> DataFrame:
    """Dispatch on DsConfig.DriverName: csv | parquet | jdbc."""
    from etly_spark.io.tables import read_parquet
    from etly_spark.session import tune_session

    tune_session(spark)
    sql = normalize_sql(source.name)
    cfg = source.ds_config or {}
    driver = (cfg.get("DriverName") or "").lower()
    params = cfg.get("Parameters") or {}

    if driver in ("csv", "parquet", "orc", "ndjson", "json", "xml"):
        url = params.get("url", "")
        base = url[len("file://") :] if url.startswith("file://") else url
        m = _FROM_RE.search(sql)
        if not m:
            raise ValueError(f"cannot find table in SQL: {sql}")
        table = m.group(1)
        ext = params.get("ext", driver if driver != "ndjson" else "json")
        path = os.path.join(base, f"{table}.{ext}")
        if driver == "csv":
            df = spark.read.option("header", "true").csv(path)
        elif driver == "parquet":
            df = read_parquet(spark, path)
        elif driver == "orc":
            df = spark.read.orc(path)
        elif driver == "xml":
            # Spark 4 built-in XML source (rowTag selects the record element)
            df = (
                spark.read.format("xml")
                .option("rowTag", params.get("rowTag", "row"))
                .load(path)
            )
        else:
            df = spark.read.json(path)
        # a per-call view name: the session is shared by concurrent
        # window groups, so a view under the bare table name could be
        # replaced by another group's read between registration and
        # analysis (or replace a caller's own view of that name); the
        # analyzed query keeps its plan after the view is dropped
        view = f"etly_ds_{uuid.uuid4().hex}"
        df.createTempView(view)
        try:
            return spark.sql(sql[: m.start(1)] + view + sql[m.end(1) :])
        finally:
            spark.catalog.dropTempView(view)

    if driver == "jdbc":
        reader = spark.read.format("jdbc").option("url", params.get("url", ""))
        # partitioned JDBC reads (partitionColumn/lowerBound/upperBound/
        # numPartitions) are the 100 TB path — Spark rejects `query` +
        # `partitionColumn` together, so the SQL becomes a dbtable
        # subquery (live-executed against embedded Derby in
        # tests/test_jdbc_live.py); a single-connection `query` read is
        # the degenerate case.
        if "partitionColumn" in params:
            reader = reader.option("dbtable", f"({sql}) etly_sub")
        else:
            reader = reader.option("query", sql)
        for k, v in params.items():
            if k not in ("url",):
                reader = reader.option(k, v)
        return reader.load()

    if driver == "bigquery":
        # spark-bigquery-connector not present in this container; the
        # option mapping is kept real, the load is gated.
        try:
            return (
                spark.read.format("bigquery")
                .option("query", sql)
                .options(**{k: str(v) for k, v in params.items()})
                .load()
            )
        except Exception as e:  # pragma: no cover - connector absent
            raise NotImplementedError(
                "bigquery connector unavailable in this environment"
            ) from e

    raise ValueError(f"unsupported datastore driver: {driver!r}")
