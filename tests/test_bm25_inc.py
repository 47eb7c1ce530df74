"""Incremental BM25 index maintenance (r13, operators/bm25.py) — the
text-side ivf_inc: O(shard) epoch folds, doc tombstones, a probe whose
results equal the batch build over the live docs (BM25 statistics are
linear, so the fold loses nothing by construction — and the gated
'bm25_inc' variant of text_top_terms proves it cross-engine)."""

from __future__ import annotations

import json
import os
import time

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from etly_spark.session import get_spark

    return get_spark("test-bm25-inc")


def _mtimes(root: str) -> dict:
    out = {}
    for dp, _dd, ff in os.walk(root):
        for f in ff:
            p = os.path.join(dp, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _docs(spark, ids):
    rows = [(i, f"alpha beta gamma doc{i % 5} " * (1 + i % 3)) for i in ids]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fold_is_append_only_and_replay_idempotent(spark, tmp_path):
    from etly_spark.operators.bm25 import fold_bm25_epoch, probe_bm25_index

    d = str(tmp_path / "idx")
    fold_bm25_epoch(_docs(spark, range(0, 20)), d, 0)
    before = _mtimes(os.path.join(d, "postings", "epoch=0"))
    time.sleep(0.05)
    fold_bm25_epoch(_docs(spark, range(20, 40)), d, 1)
    # epoch 0 untouched by epoch 1's fold
    after = _mtimes(os.path.join(d, "postings", "epoch=0"))
    assert before == after
    rows1 = sorted(
        map(tuple, probe_bm25_index(spark, d, ["alpha", "doc1"]).collect())
    )
    # replaying epoch 1 (the streaming retry shape) changes nothing
    fold_bm25_epoch(_docs(spark, range(20, 40)), d, 1)
    rows2 = sorted(
        map(tuple, probe_bm25_index(spark, d, ["alpha", "doc1"]).collect())
    )
    assert rows1 == rows2 and len(rows1) > 0


def test_tombstones_remove_docs_and_idf_reacts(spark, tmp_path):
    """Deleting docs must (a) drop them from results and (b) change
    OTHER docs' scores — df/n_docs/avgdl are live statistics, not
    frozen ones."""
    from etly_spark.operators.bm25 import (
        fold_bm25_epoch,
        fold_bm25_tombstones,
        probe_bm25_index,
    )

    d = str(tmp_path / "idx")
    fold_bm25_epoch(_docs(spark, range(0, 30)), d, 0)
    pre = {
        (r["term"], r["doc_id"]): r["score"]
        for r in probe_bm25_index(spark, d, ["doc1"]).collect()
    }
    doomed = [i for i in range(0, 30) if i % 5 == 1][:3]
    fold_bm25_tombstones(
        spark.createDataFrame([(i,) for i in doomed], "doc_id long"), d, 1
    )
    post = {
        (r["term"], r["doc_id"]): r["score"]
        for r in probe_bm25_index(spark, d, ["doc1"]).collect()
    }
    assert all(("doc1", i) not in post for i in doomed)
    survivors = set(pre) & set(post)
    assert survivors
    # idf rose (df and n_docs both fell; the survivors' scores moved)
    assert any(post[k] != pre[k] for k in survivors)


def test_gated_variant_exercises_deletion(spark):
    """The catalog's bm25_inc rows must DIFFER from bm25's — the
    checked delete batch provably intersects the retrieval results
    (the ivf_inc delete-batch contract), and no tombstoned doc
    appears."""
    from etly_spark.queries.text import _BM25INC_DEL, text_top_terms

    rows = text_top_terms(spark, SF).collect()
    bm = {(r["rank"], r["term"]) for r in rows if r["variant"] == "bm25"}
    inc = {(r["rank"], r["term"]) for r in rows if r["variant"] == "bm25_inc"}
    assert inc and bm
    assert inc != bm, "delete batch did not intersect retrieval results"
    mod, val = 10, 7
    assert _BM25INC_DEL == f"doc_id % {mod} = {val}"
    for _rank, t in inc:
        doc_id = int(t.rsplit(":", 1)[1])
        assert doc_id % mod != val


def test_streamed_bm25_matches_batch_and_rejects_bad_op(spark, tmp_path):
    """streaming/ann.start_bm25_index folds arriving doc shards +
    CDC deletes into the same index the batch fold produces; a
    malformed op fails loudly."""
    from etly_spark.operators.bm25 import (
        fold_bm25_epoch,
        fold_bm25_tombstones,
        probe_bm25_index,
    )
    from etly_spark.streaming.ann import start_bm25_index

    src = tmp_path / "in"
    src.mkdir()

    def text(i: int) -> str:
        return f"alpha beta gamma doc{i % 5} " * (1 + i % 3)

    def write_shard(name: str, ids, op=None, ops=None) -> None:
        lines = []
        for i in ids:
            rec = {"doc_id": i, "text": text(i)}
            if op or ops:
                rec["op"] = ops[i] if ops else op
            lines.append(json.dumps(rec))
        (src / name).write_text("\n".join(lines) + "\n")

    write_shard("s1.json", range(0, 25), op="add")
    write_shard("s2.json", range(25, 50), op="add")
    write_shard("s3.json", [1, 6, 11], op="del")
    schema = "doc_id long, text string, op string"
    idx = str(tmp_path / "idx")
    q = start_bm25_index(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        idx,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    streamed = sorted(
        map(tuple, probe_bm25_index(spark, idx, ["alpha", "doc1"]).collect())
    )
    # batch twin over the same shards + same deletes
    bidx = str(tmp_path / "bidx")
    fold_bm25_epoch(_docs(spark, range(0, 25)), bidx, 0)
    fold_bm25_epoch(_docs(spark, range(25, 50)), bidx, 1)
    fold_bm25_tombstones(
        spark.createDataFrame([(1,), (6,), (11,)], "doc_id long"), bidx, 2
    )
    batch = sorted(
        map(tuple, probe_bm25_index(spark, bidx, ["alpha", "doc1"]).collect())
    )
    assert streamed == batch and len(streamed) > 0

    # malformed op: loud failure, not silent drop
    write_shard("s4.json", [99], op="upsert")
    q2 = start_bm25_index(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        idx,
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="refusing to silently drop"):
        q2.awaitTermination(120)
        raise RuntimeError(str(q2.exception()) if q2.exception() else "no error")


def test_probe_reads_prune_on_term(spark, tmp_path):
    """The probe's term-IN filter reaches the postings scan as a
    PushedFilters entry — the index-lookup plan, not a corpus scan."""
    from etly_spark.operators.bm25 import fold_bm25_epoch, probe_bm25_index

    d = str(tmp_path / "idx")
    fold_bm25_epoch(_docs(spark, range(0, 30)), d, 0)
    plan = probe_bm25_index(spark, d, ["alpha"])._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "alpha" in plan


def test_compaction_preserves_probe_and_keeps_term_sort(spark, tmp_path):
    """compact_bm25_index folds loose epochs into one segment with
    probe rows identical pre/post; the compacted postings re-sort by
    term so row-group pruning survives the merge."""
    from etly_spark.operators.bm25 import (
        compact_bm25_index,
        fold_bm25_epoch,
        fold_bm25_tombstones,
        probe_bm25_index,
    )

    d = str(tmp_path / "idx")
    for e in range(6):
        fold_bm25_epoch(_docs(spark, range(e * 10, e * 10 + 10)), d, e)
    fold_bm25_tombstones(
        spark.createDataFrame([(3,), (17,)], "doc_id long"), d, 99
    )
    pre = sorted(
        map(tuple, probe_bm25_index(spark, d, ["alpha", "doc2"]).collect())
    )
    compact_bm25_index(d, threshold=2)
    post = sorted(
        map(tuple, probe_bm25_index(spark, d, ["alpha", "doc2"]).collect())
    )
    assert pre == post and len(pre) > 0
    pdirs = os.listdir(os.path.join(d, "postings"))
    assert sum(1 for x in pdirs if not x.startswith("epoch=_")) == 0
    seg = [x for x in pdirs if x.startswith("epoch=_")]
    assert seg
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(d, "postings", seg[0], "part-00000.parquet")
    )
    terms = t.column("term").to_pylist()
    assert terms == sorted(terms)


def test_probe_ignores_covered_leftovers_after_compaction(spark, tmp_path):
    """A crash after compact_bm25_index committed its segments but
    before it removed the folded epochs leaves epoch=0 next to the
    segments that hold its rows, in postings, doclen and stats alike.
    The probe reads only live partitions, so it still returns exactly
    the pre-compaction rows (doubled rows would shift df, n_docs and
    avgdl, and so every score)."""
    import shutil

    from etly_spark.operators.bm25 import (
        compact_bm25_index,
        fold_bm25_epoch,
        fold_bm25_tombstones,
        probe_bm25_index,
    )

    d = str(tmp_path / "idx")
    for e in range(4):
        fold_bm25_epoch(_docs(spark, range(e * 12, e * 12 + 12)), d, e)
    fold_bm25_tombstones(spark.createDataFrame([(5,)], "doc_id long"), d, 9)
    pre = sorted(
        map(tuple, probe_bm25_index(spark, d, ["alpha", "doc2"]).collect())
    )
    snaps = {}
    for sub in ("postings", "doclen", "stats"):
        snaps[sub] = str(tmp_path / f"{sub}.epoch0")
        shutil.copytree(os.path.join(d, sub, "epoch=0"), snaps[sub])
    compact_bm25_index(d, threshold=2)
    for sub, snap in snaps.items():
        shutil.copytree(snap, os.path.join(d, sub, "epoch=0"))
    after = sorted(
        map(tuple, probe_bm25_index(spark, d, ["alpha", "doc2"]).collect())
    )
    assert after == pre and len(pre) > 0


def _segment_columns(root: str) -> list[list[str]]:
    """Column names of every parquet file in ``root``'s segments."""
    import glob

    import pyarrow.parquet as pq

    return [
        pq.read_schema(f).names
        for f in sorted(glob.glob(os.path.join(root, "epoch=_*", "*.parquet")))
    ]


def test_purge_drops_dead_rows_and_preserves_probe(spark, tmp_path):
    """purge_bm25_tombstones rewrites live postings/doclen, recomputes
    the stats partials, and drops the tombstone side-table — probe rows
    byte-identical pre/post, bytes shrink, and a RE-RUN heals (the
    crash rule: every step idempotent)."""
    from etly_spark.operators.bm25 import (
        fold_bm25_epoch,
        fold_bm25_tombstones,
        probe_bm25_index,
        purge_bm25_tombstones,
    )

    d = str(tmp_path / "idx")
    for e in range(4):
        fold_bm25_epoch(_docs(spark, range(e * 15, e * 15 + 15)), d, e)
    doomed = [i for i in range(60) if i % 4 == 1]
    fold_bm25_tombstones(
        spark.createDataFrame([(i,) for i in doomed], "doc_id long"), d, 9
    )
    pre = sorted(
        map(tuple, probe_bm25_index(spark, d, ["alpha", "doc2"]).collect())
    )
    st = purge_bm25_tombstones(spark, d)
    assert st["purged_docs"] == len(doomed)
    assert st["live_docs"] == 60 - len(doomed)
    # loose epochs collapsed into one segment per table (the byte-drop
    # claim is a scale property — parquet per-file overhead swamps a
    # toy corpus's dead rows — measured at 10x in tools/stress_bm25.py)
    for sub in ("postings", "doclen", "stats"):
        dirs = os.listdir(os.path.join(d, sub))
        assert sum(1 for x in dirs if not x.startswith("epoch=_")) == 0
        # the segment's dir names its epoch; its files carry no epoch column
        assert _segment_columns(os.path.join(d, sub)) and all(
            "epoch" not in cols for cols in _segment_columns(os.path.join(d, sub))
        )
    assert not os.path.isdir(os.path.join(d, "tombstones"))
    post = sorted(
        map(tuple, probe_bm25_index(spark, d, ["alpha", "doc2"]).collect())
    )
    assert pre == post and len(pre) > 0
    # re-run on an already-purged index: a no-op heal, rows unchanged
    st2 = purge_bm25_tombstones(spark, d)
    assert st2["purged_docs"] == 0
    again = sorted(
        map(tuple, probe_bm25_index(spark, d, ["alpha", "doc2"]).collect())
    )
    assert again == post

def test_probe_on_fully_tombstoned_index_fails_loudly(spark, tmp_path):
    """r14 (ADVICE): with every indexed doc tombstoned, avgdl's
    denominator is zero — the probe must raise, not emit null scores."""
    from etly_spark.operators.bm25 import (
        fold_bm25_epoch,
        fold_bm25_tombstones,
        probe_bm25_index,
    )

    d = str(tmp_path / "idx")
    fold_bm25_epoch(_docs(spark, range(0, 10)), d, 0)
    fold_bm25_tombstones(
        spark.createDataFrame([(i,) for i in range(0, 10)], "doc_id long"),
        d,
        1,
    )
    with pytest.raises(ValueError, match="no live documents"):
        probe_bm25_index(spark, d, ["alpha"])


def test_streamed_readd_of_tombstoned_doc_fails_loudly(spark, tmp_path):
    """r14 (ADVICE): tombstones are a global set (delete-final), so an
    'add' of a tombstoned doc_id would fold postings the probe hides
    forever — the writer must reject the batch loudly."""
    from etly_spark.streaming.ann import start_bm25_index

    src = tmp_path / "in"
    src.mkdir()

    def write_shard(name: str, ids, op) -> None:
        lines = [
            json.dumps({"doc_id": i, "text": f"alpha doc{i}", "op": op})
            for i in ids
        ]
        (src / name).write_text("\n".join(lines) + "\n")

    schema = "doc_id long, text string, op string"
    idx = str(tmp_path / "idx")

    def drain():
        # one drain per arrival: the file source's intra-drain order is
        # not path-sorted, so adds/dels must arrive in separate drains
        # for a deterministic tombstone state
        q = start_bm25_index(
            spark.readStream.schema(schema).json(str(src)),
            idx,
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    write_shard("s1.json", range(0, 10), "add")
    drain()
    write_shard("s2.json", [3, 4], "del")
    drain()

    write_shard("s3.json", [4], "add")  # re-add after delete: corrupt
    with pytest.raises(Exception, match="deletes are final"):
        drain()
