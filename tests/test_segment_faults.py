"""Fault matrix over the segment log's stores (io/compact on the local
FS): the rollup state, the ledger sidecar and the IVF index. Every
os.rename/os.replace io/commit makes during each step of a store's
life is made to raise once. The store's own reader must then return
the rows from before the step or from after it, never a partial or
doubled state, and re-running the step must heal to the clean run's
rows."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from test_sim_inc import SF  # the sf0.001 test corpus

from etly_spark.io import commit


class _FaultyOS:
    """io/commit's view of ``os``: counts rename/replace calls and makes
    the ``fail_on``-th one raise."""

    def __init__(self, fail_on: int | None = None):
        self.fail_on = fail_on
        self.calls = 0

    def __getattr__(self, name):
        return getattr(os, name)

    def _move(self, fn, src, dst):
        self.calls += 1
        if self.calls == self.fail_on:
            raise OSError(f"injected failure of move #{self.calls}")
        return fn(src, dst)

    def rename(self, src, dst):
        return self._move(os.rename, src, dst)

    def replace(self, src, dst):
        return self._move(os.replace, src, dst)


def _run_matrix(monkeypatch, root, seed, steps, view) -> int:
    """``seed(path)`` builds the store, ``steps`` are (label, op(path))
    run in order, ``view(path)`` is the store's reader. Every trial runs
    in a fresh copy of the state before its step. Returns the number of
    injected faults."""
    clean = root / "clean"
    seed(str(clean))
    faults = 0
    after = view(str(clean))
    for i, (label, op) in enumerate(steps):
        snap = root / f"before-{i}"
        shutil.copytree(clean, snap)
        before = after
        counter = _FaultyOS()
        with monkeypatch.context() as m:
            m.setattr(commit, "os", counter)
            op(str(clean))
        after = view(str(clean))
        assert counter.calls, f"{label}: no commit to fault"
        for k in range(1, counter.calls + 1):
            trial = root / f"{i}-{k}"
            shutil.copytree(snap, trial)
            with monkeypatch.context() as m:
                m.setattr(commit, "os", _FaultyOS(fail_on=k))
                with pytest.raises(OSError, match="injected"):
                    op(str(trial))
            assert view(str(trial)) in (before, after), (label, k)
            op(str(trial))
            assert view(str(trial)) == after, (label, k)
            shutil.rmtree(trial)
        faults += counter.calls
    return faults


def test_rollup_state_fault_matrix(spark, tmp_path, monkeypatch):
    """fold → compact → fold → a second compact that supersedes the
    first segment."""
    from etly_spark.operators import incremental_agg as IA

    keys, merges = ["k"], {"n": "sum", "hi": "max"}
    schema = spark.createDataFrame([], "k string, n long, hi long").schema

    def fold(epoch, rows):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["k", "n", "hi"])
        return lambda state: IA.fold_rows(
            state, pdf, epoch, keys=keys, merges=merges, schema=schema
        )

    def compact(state):
        IA.compact(spark, state, keys=keys, merges=merges, threshold=0)

    def seed(state):
        fold(0, [("a", 2, 5), ("b", 1, 1)])(state)

    def view(state):
        return sorted(map(tuple, IA.read(spark, state, keys=keys, merges=merges).collect()))

    steps = [
        ("fold", fold(1, [("a", 1, 7), ("c", 4, 9)])),
        ("compact", compact),
        ("fold after compact", fold(2, [("a", 3, 1)])),
        ("second compact", compact),
    ]
    assert _run_matrix(monkeypatch, tmp_path, seed, steps, view) >= 8


def test_ledger_sidecar_fault_matrix(tmp_path, monkeypatch):
    """_append_ledger_sidecar → compact_ledger_sidecar, read through
    ProcessedIndex."""
    from etly_spark.meta import ObjectMeta, ProcessedIndex
    from etly_spark.pipeline import _append_ledger_sidecar, compact_ledger_sidecar

    urls = [f"file:///in/f{i}.json" for i in range(6)]

    def append(run_ts, files):
        entries = [ObjectMeta(source=u, record_processed=1) for u in files]
        return lambda root: _append_ledger_sidecar(
            os.path.join(root, "meta.json.files"), run_ts, entries
        )

    def seed(root):
        append("2024-01-01T00", urls[:2])(root)
        append("2024-01-01T01", urls[2:3])(root)

    def view(root):
        idx = ProcessedIndex("file://" + os.path.join(root, "meta.json"))
        return sorted(idx.processed_among(urls))

    steps = [
        ("append", append("2024-01-01T02", urls[3:5])),
        ("compact", lambda root: compact_ledger_sidecar(
            os.path.join(root, "meta.json.files"), threshold=1
        )),
    ]
    assert _run_matrix(monkeypatch, tmp_path, seed, steps, view) >= 5


def test_ivf_index_fault_matrix(spark, tmp_path, monkeypatch):
    """folded epochs + tombstones → compact_ivf_postings →
    purge_ivf_tombstones, read through the IVF probe (an epoch fold
    commits like the tombstone fold: one replace_dir). A first
    tombstone fold that fails at its commit leaves an empty
    tombstones/ dir, which the probe must read as no tombstones."""
    from etly_spark.io.tables import load_table
    from etly_spark.queries.similarity import (
        _IVFINC_DEL,
        _normed,
        _probe_ivf_index,
        _query_pdf,
        centroid_plan,
        compact_ivf_postings,
        fold_ivf_epoch,
        fold_ivf_tombstones,
        purge_ivf_tombstones,
        select_centroids,
    )

    s = _normed(load_table(spark, SF, "embeddings"))
    shard0 = s.where(F.col("vec_id") % 2 == 0)
    cent_pdf = select_centroids(shard0)
    q_pdf = _query_pdf(s)

    def seed(d):
        centroid_plan(shard0).write.parquet(os.path.join(d, "quantizer"))
        for e in range(2):
            fold_ivf_epoch(
                s.where(F.col("vec_id") % 2 == e), cent_pdf, os.path.join(d, "postings"), e
            )

    def view(d):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
            for r in _probe_ivf_index(spark, d, q_pdf=q_pdf).collect()
        )

    steps = [
        ("tombstones", lambda d: fold_ivf_tombstones(
            s.where(F.expr(_IVFINC_DEL)), os.path.join(d, "tombstones"), 0
        )),
        ("compact", lambda d: compact_ivf_postings(d, threshold=1)),
        ("purge", lambda d: purge_ivf_tombstones(spark, d)),
    ]
    assert _run_matrix(monkeypatch, tmp_path, seed, steps, view) >= 6
