"""io/staging.py — the staged-intermediate contract: build once per
process, atomic commit, dependency-fingerprint invalidation, empty-table
schema round-trip."""

import os
import time

import pytest
from pyspark.sql import functions as F

from etly_spark.io import staging


def test_stage_builds_once_then_reuses(spark, tmp_path):
    dep = tmp_path / "in.txt"
    dep.write_text("v1")
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("x"))

    for _ in range(3):
        df = staging.stage_table(spark, "t1", build, deps=[str(dep)])
        assert df.count() == 5
    assert len(calls) == 1  # built exactly once, reused from parquet


def test_stage_invalidates_on_dep_change(spark, tmp_path):
    dep = tmp_path / "in.txt"
    dep.write_text("v1")
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    staging.stage_table(spark, "t2", build, deps=[str(dep)])
    # mtime granularity: force a visibly different mtime_ns
    time.sleep(0.01)
    dep.write_text("v2-longer")
    staging.stage_table(spark, "t2", build, deps=[str(dep)])
    assert len(calls) == 2  # content change ⇒ new stage identity


def test_stage_keys_are_independent(spark, tmp_path):
    dep = tmp_path / "in.txt"
    dep.write_text("v1")
    a = staging.stage_table(spark, "ka", lambda: spark.range(2), deps=[str(dep)])
    b = staging.stage_table(spark, "kb", lambda: spark.range(7), deps=[str(dep)])
    assert (a.count(), b.count()) == (2, 7)


def test_empty_stage_round_trips_schema(spark):
    df = spark.range(10).filter(F.col("id") < 0).select("id", F.lit("s").alias("tag"))
    out = staging.stage_table(spark, "empty", lambda: df)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "tag"]
    # reuse path hits the saved-schema read too
    out2 = staging.stage_table(spark, "empty", lambda: df)
    assert out2.schema == out.schema


@pytest.mark.parametrize("api", ["stage_path", "stage_dir"])
def test_concurrent_builders_one_commit(spark, api):
    """Threads racing to build the same stage: exactly one build and one
    commit, every caller gets the committed dir with identical rows, and
    no tmp is left behind — two pooled branches wanting the same staged
    artifact (a DataFrame stage or an index that writes its own dir)."""
    import threading

    key = f"race-{api}"
    n = 4
    builds, results, errors = [], [], []
    barrier = threading.Barrier(n)

    def df():
        builds.append(1)
        return spark.range(100).selectExpr("id", "id * 2 as v")

    def stage() -> str:
        if api == "stage_path":
            return staging.stage_path(spark, key, df)
        return staging.stage_dir(key, (), lambda tmp: df().write.parquet(tmp))

    def run():
        try:
            barrier.wait()
            results.append(sorted((r.id, r.v) for r in spark.read.parquet(stage()).collect()))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not errors, errors
    assert len(builds) == 1
    assert len(results) == n and all(r == results[0] for r in results)
    assert results[0][0] == (0, 0) and len(results[0]) == 100
    assert not [d for d in os.listdir(staging._root()) if d.startswith("_tmp-")]
    # later consumers hit the single commit
    before = dict(staging.stats)
    stage()
    assert staging.stats["hits"] == before["hits"] + 1


def test_stage_root_is_process_scoped(spark):
    staging.stage_table(spark, "root-check", lambda: spark.range(1))
    assert staging._STAGE_ROOT and os.path.isdir(staging._STAGE_ROOT)
    assert os.path.basename(staging._STAGE_ROOT).startswith("etly_stage_")


def test_bm25_postings_staged_probe(spark):
    """r12 (verdict item 5): bm25 probes the STAGED inverted-postings
    table — rows identical across invocations, the second invocation
    hits the stage instead of rebuilding, and the probe plan reaches
    the parquet scan with a pushed term filter (the index-lookup
    shape, not a tokenize pass)."""
    from pyspark.sql import functions as F

    from etly_spark.queries.text import bm25_postings, text_top_terms

    sf = "/root/testdata/sf0.001"
    r1 = sorted(map(tuple, text_top_terms(spark, sf).collect()))
    before = dict(staging.stats)
    r2 = sorted(map(tuple, text_top_terms(spark, sf).collect()))
    assert r1 == r2 and any(v == "bm25" for v, *_ in r1)
    assert staging.stats["hits"] > before["hits"]
    assert staging.stats["misses"] == before["misses"]
    plan = (
        bm25_postings(spark, sf)
        .where(F.col("term").isin(["alpha", "beta"]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "term" in plan and "Scan parquet" in plan


def test_stage_row_second_call_runs_no_job(spark, tmp_path):
    """stage_row memoizes the collected row by committed stage path: the
    second call still counts a stage hit but submits no Spark job."""
    from conftest import spark_jobs

    dep = tmp_path / "in.txt"
    dep.write_text("v1")

    def build():
        return spark.range(10).agg(F.sum("id").alias("s"), F.max("id").alias("m"))

    first, _ = spark_jobs(spark, lambda: staging.stage_row(spark, "row1", build, [str(dep)]))
    before = dict(staging.stats)
    second, jobs = spark_jobs(
        spark, lambda: staging.stage_row(spark, "row1", build, [str(dep)])
    )
    assert (first.s, first.m) == (45, 9) and second == first
    assert jobs == 0
    assert staging.stats["hits"] == before["hits"] + 1
    # a changed input is a new stage path, so the memo is not consulted
    time.sleep(0.01)
    dep.write_text("v2-longer")
    third, jobs = spark_jobs(
        spark,
        lambda: staging.stage_row(
            spark, "row1", lambda: spark.range(4).agg(F.sum("id").alias("s")), [str(dep)]
        ),
    )
    assert third.s == 6 and jobs > 0


def test_stage_counters_exact_under_threads(spark, tmp_path):
    """Pooled driver threads bump staging.stats concurrently; no update
    may be lost (a tiny switch interval forces interleaving)."""
    import sys
    import threading

    built = []

    def build():
        built.append(1)
        return spark.range(1)

    keys = [f"counter-{tmp_path.name}-{i}" for i in range(8)]
    n_threads, per_thread = 8, 200
    before = dict(staging.stats)
    barrier = threading.Barrier(n_threads)
    errors = []

    def run(t):
        try:
            barrier.wait()
            for i in range(per_thread):
                staging.stage_path(spark, keys[(t + i) % len(keys)], build)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(300)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors
    assert len(built) == len(keys)  # one build per fingerprint
    assert staging.stats["misses"] == before["misses"] + len(keys)
    assert staging.stats["hits"] == before["hits"] + n_threads * per_thread - len(keys)
