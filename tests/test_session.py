"""What sessions built by `get_spark` save per task and per query: the
worker daemon keeps Spark's zip directories across tasks, the JVM
names PySpark looks up on hot paths resolve by single import, and the
generated-code cache holds the catalog's working set."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
from py4j import protocol as proto

from etly_spark.session import HOT_JVM_CLASSES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def test_python_tasks_keep_zip_directories(spark):
    """Every zip importer in a worker is the daemon's kind, and the
    per-task cache invalidation no longer re-reads the archives."""

    # nested so that it pickles by value: workers cannot import tests
    def _importer_probe(batches):
        import importlib
        import sys
        import time
        import zipimport

        for _ in batches:
            pass
        importers = list(sys.path_importer_cache.values())
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1000
        yield pd.DataFrame(
            {
                "zips": [sum(isinstance(i, zipimport.zipimporter) for i in importers)],
                "plain": [sum(type(i) is zipimport.zipimporter for i in importers)],
                "ms": [ms],
            }
        )

    n = spark.sparkContext.defaultParallelism
    df = spark.range(n).repartition(n)
    for _ in range(2):  # the second pass runs in reused workers
        rows = df.mapInPandas(_importer_probe, "zips long, plain long, ms double").collect()
        assert len(rows) == n
        for r in rows:
            assert r.zips > 0, r  # Spark's zips are on the worker path
            assert r.plain == 0, r
            assert r.ms < 5.0, r


_OUTSIDE_PAYLOAD = """
import sys
sys.path.insert(0, {repo!r})
from etly_spark.operators.multimodal import attach_binary_payload, decode_features
from etly_spark.session import get_spark

spark = get_spark("outside-cwd", "local[2]")
df = spark.createDataFrame([(1, "ab"), (2, "xyz")], "doc_id long, text string")
rows = decode_features(attach_binary_payload(df)).orderBy("doc_id").collect()
assert [(r.doc_id, r.byte_len) for r in rows] == [(1, 2), (2, 3)], rows
print("OUTSIDE-OK")
"""


def test_get_spark_from_outside_the_repo_runs_python_udf(tmp_path):
    """The daemon and the kernels import from the package root that
    get_spark puts on the workers' PYTHONPATH, not from the cwd."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(_OUTSIDE_PAYLOAD.format(repo=REPO))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "OUTSIDE-OK" in proc.stdout


def test_hot_jvm_names_resolve_by_single_import(spark):
    """Building q1 looks up the hot JVM names; py4j resolves a short
    name through the view's single imports (which dir() lists) before
    it probes any star-imported package."""
    from etly_spark.queries import REGISTRY

    client = spark.sparkContext._gateway._gateway_client
    sent: list[str] = []
    send = client.send_command

    def spy(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = spy
    try:
        REGISTRY["q1_pricing_summary"].spark(spark, SF)
    finally:
        del client.send_command
    prefix = proto.REFLECTION_COMMAND_NAME + proto.REFL_GET_UNKNOWN_SUB_COMMAND_NAME
    looked_up = {c[len(prefix) :].split("\n", 1)[0] for c in sent if c.startswith(prefix)}
    hot = {fqn.rsplit(".", 1)[1] for fqn in HOT_JVM_CLASSES}
    assert looked_up & hot, looked_up
    assert looked_up & hot <= set(dir(spark.sparkContext._jvm))


CATALOG = (
    "q1_pricing_summary",
    "etly_mod_routing",
    "etly_meta_rollup",
    "q9_set_ops",
    "text_quality",
    "mm_decode_frames",
)


def test_second_catalog_pass_compiles_no_class(spark):
    """The six benchmark catalog queries fit the generated-code cache:
    a second pass (noop writes, cold CacheManager) compiles nothing."""
    from etly_spark.queries import REGISTRY

    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        for q in CATALOG:
            spark.catalog.clearCache()
            REGISTRY[q].spark(spark, SF).write.format("noop").mode("overwrite").save()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before == 0
