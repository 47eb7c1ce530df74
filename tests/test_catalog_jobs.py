"""Work counts of the catalog's read and query paths: schemas are read
once per table file, q9 is one scan, mm_decode_frames decodes once in
one Python stage.
These pin the Spark jobs and Python passes a query submits, not its
times."""

from __future__ import annotations

import threading
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from conftest import spark_jobs

from etly_spark.io import tables
from etly_spark.io.tables import load_table


def test_load_table_reads_schema_once_per_file(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    load_table(spark, str(tmp_path), "t")  # infers and caches the schema
    df, jobs = spark_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert df.columns == ["a"] and df.count() == 3

    time.sleep(0.01)
    pq.write_table(pa.table({"a": [4, 5], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(4, "x"), (5, "y")]


def test_schema_cache_shared_by_threads(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1], "v": [2.0]}), path)
    barrier = threading.Barrier(6)
    schemas, errors = [], []

    def run():
        try:
            barrier.wait()
            for _ in range(5):
                schemas.append(tables.read_parquet(spark, str(path)).schema)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not errors, errors
    assert len(schemas) == 30 and all(s == schemas[0] for s in schemas)
    assert [f.name for f in schemas[0].fields] == ["k", "v"]
    assert sum(k.startswith(f"{path}|") for k in tables._SCHEMAS) == 1


def test_q9_set_ops_matches_duckdb_with_nulls(spark, tmp_path):
    """Keys in all four (big, recent) combinations, a NULL key in both
    sets, and rows whose price or date is NULL."""
    from datetime import datetime

    from etly_spark.queries import REGISTRY

    old, new = datetime(2000, 6, 1), datetime(2001, 3, 1)
    rows = [  # (o_custkey, o_totalprice, o_orderdate)
        (1, 400000.0, new), (1, 10.0, old),  # big & recent
        (2, 400000.0, old), (2, None, None),  # big only
        (3, 10.0, new), (3, None, new),  # recent only
        (4, 10.0, old), (4, None, old),  # neither
        (5, 400000.0, None),  # big, NULL date
        (6, None, new),  # recent, NULL price
        (None, 500000.0, old), (None, 1.0, new),  # NULL key in both sets
        (7, 300000.0, datetime(2001, 1, 1)),  # boundary: recent only
    ]
    cust, price, date = zip(*rows)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(len(rows)), pa.int64()),
                "o_custkey": pa.array(cust, pa.int64()),
                "o_totalprice": pa.array(price, pa.float64()),
                "o_orderdate": pa.array(date, pa.timestamp("us")),
            }
        ),
        tmp_path / "orders.parquet",
    )
    spec = REGISTRY["q9_set_ops"]
    got = [tuple(r) for r in spec.spark(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{tmp_path / 'orders.parquet'}')"
    )
    want = [tuple(r) for r in con.execute(spec.oracle).fetchall()]
    assert got == want
    assert got == [("except", 2), ("intersect", 2), ("union", 7)]


def _python_rows_received(df) -> list[int]:
    """pythonNumRowsReceived of every MapInPandas node in the executed
    (adaptive) plan; the SQL metric sums over every job that ran it."""
    out = []

    def walk(node):
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        if name == "MapInPandas":
            out.append(int(node.metrics().apply("pythonNumRowsReceived").value()))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_mm_decode_frames_runs_each_python_decode_once(spark, tmp_path):
    from etly_spark.queries.multimodal import mm_decode_frames

    n_docs = 120  # doc_id % 50 == 13 puts docs 13, 63, 113 on the avi path
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": [f"doc {i} " + "lorem ipsum " * (i % 40) for i in range(n_docs)],
            }
        ),
        tmp_path / "documents.parquet",
    )
    df = mm_decode_frames(spark, str(tmp_path))
    rows = df.collect()
    assert {r.variant for r in rows} == {"stub", "y4m", "avi"}
    # one pass of one Python stage, which emits the stub, y4m and avi
    # rows together: the JVM takes each output row from Python once
    assert _python_rows_received(df) == [len(rows)]
