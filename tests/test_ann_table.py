"""The sim_ann_methods method table: one row per ANN method drives the
Spark pool, the output union, the recall rows and the DuckDB oracle, so
the table must be self-consistent, and a failing branch must neither
run the queued ones nor leave the fixture persists behind."""

import re
import time

import pytest

import etly_spark.queries.similarity as sim
from etly_spark.queries.catalog import release_cache

SF = "/root/testdata/sf0.001"


def test_table_is_self_consistent():
    tags = [m.tag for m in sim.ANN_TABLE]
    assert len(tags) == len(set(tags))
    by_tag = {m.tag: m for m in sim.ANN_TABLE}
    bases = {m.base for m in sim.ANN_TABLE if m.base}
    for m in sim.ANN_TABLE:
        assert m.fixture in sim.ANN_FIXTURES, m.tag
        assert m.kind in (sim.TOP5, sim.RADIUS), m.tag
        if m.base:
            assert m.base in by_tag, m.tag
            assert by_tag[m.base].fixture == m.fixture, m.tag
        # no dead row: every result is emitted or feeds a recall row
        assert m.emit or m.base or m.tag in bases, m.tag


def test_oracle_sql_is_derived_from_the_table():
    sql = sim._ANN_SQL
    for m in sim.ANN_TABLE:
        assert len(re.findall(rf"\bm_{m.tag} AS MATERIALIZED \(", sql)) == 1, m.tag
        assert sql.count(f"'{m.tag}' AS method") == int(m.emit), m.tag
        assert sql.count(f"'recall_{m.tag}'") == int(bool(m.base)), m.tag
    assert len(re.findall(r"\bm_\w+ AS MATERIALIZED \(", sql)) == len(sim.ANN_TABLE)


def test_failing_branch_cancels_queue_and_releases_fixtures(spark, monkeypatch):
    jsc = spark.sparkContext._jsc
    release_cache()
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keySet())

    started: list[str] = []

    def boom(spark_, sf_dir, fx):
        raise RuntimeError("branch failed")

    def counted(spark_, sf_dir, fx):
        started.append(fx.tag)
        time.sleep(1.0)  # hold the worker until the error has been seen
        return spark_.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cos_sim double"
        )

    table = [
        m._replace(build=boom if i == 0 else counted)
        for i, m in enumerate(sim.ANN_TABLE)
    ]
    monkeypatch.setattr(sim, "ANN_TABLE", table)
    with pytest.raises(RuntimeError, match="branch failed"):
        sim.sim_ann_methods(spark, SF)
    # the pool has 8 workers: the branches already running when the
    # first one failed (plus the one its freed worker may pick up)
    # finish, every queued one is cancelled
    assert len(started) <= 8 < len(table) - 1
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
