"""Config-addressable ANN index maintenance (r14 — verdict item 2,
operators/ann_index_sink): a Transfer JSON whose Target is
TransferMethod=annIndexFold owns an IVFPQ maintenance index — each
scheduled window folds newly-arrived embedding shards as one raw
epoch, the quantizer freezes on the first window, and the encode rung
runs inline per the config. The folded index's probe is hash-gated
against the same DuckDB batch oracle the ivfpq_inc catalog row uses."""

from __future__ import annotations

import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from etly_spark.config import transfer_from_dict
from etly_spark.io.tables import load_table
from etly_spark.pipeline import DONE, NOOP, TransferService
from etly_spark.queries.similarity import (
    _ivfpq_inc_sql,
    _normed,
    _probe_ivfpq_index,
    _query_pdf,
)

SF = "/root/testdata/sf0.001"
SHARDS = 4


@pytest.fixture(scope="module")
def spark():
    from etly_spark.session import get_spark

    return get_spark("test-ann-index-sink")


def _corpus_rows(spark):
    return (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )


def _write_shard(src_dir, name: str, rows, op: str | None = None) -> None:
    lines = []
    for r in rows:
        rec = {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
        if op:
            rec["op"] = op
        lines.append(json.dumps(rec))
    (src_dir / name).write_text("\n".join(lines) + "\n")


def _transfer(tmp_path, index_options=None) -> object:
    return transfer_from_dict(
        {
            "Name": "ann-index",
            "Source": {
                "Name": "file://<pwd>in",
                "Type": "url",
                "DataFormat": "ndjson",
                "DataType": "etly.EmbeddingRecord",
            },
            "Target": {
                "Name": "file://<pwd>out/index",
                "Type": "url",
                "TransferMethod": "annIndexFold",
                "IndexOptions": index_options
                or {"AnticipatedShards": SHARDS, "EncodeEvery": SHARDS},
            },
            "Meta": {"Name": "file://<pwd>out/meta.json"},
            "MaxTransfers": 10,
        },
        base_dir=str(tmp_path) + os.sep,
    )


def test_transfer_owned_index_matches_batch_oracle(spark, tmp_path):
    """Four arrival windows (one shard file each, vec_id % 4 = e — the
    gated ivfpq_inc partition), quantizer frozen on window 0 sized for
    AnticipatedShards=4, encode rung fired by the config on window 4;
    the probe over the Transfer-built index hash-matches the DuckDB
    batch two-stage build (the ivfpq_inc oracle with no deletes)."""
    src = tmp_path / "in"
    src.mkdir()
    (tmp_path / "out").mkdir()
    rows = _corpus_rows(spark)
    t = _transfer(tmp_path)
    svc = TransferService(spark)
    for e in range(SHARDS):
        _write_shard(
            src, f"shard{e}.json", [r for r in rows if r["vec_id"] % SHARDS == e]
        )
        result = svc.run(t)
        assert result.status == DONE, result.error

    index_dir = str(tmp_path / "out" / "index")
    post = os.path.join(index_dir, "postings")
    # the encode rung ran: raw epochs folded into one codes segment
    segs = [d for d in os.listdir(post) if d.startswith("epoch=_codes-")]
    raw = [
        d
        for d in os.listdir(post)
        if d.startswith("epoch=") and not d.startswith("epoch=_")
    ]
    assert segs and not raw, (segs, raw)

    q_pdf = _query_pdf(_normed(load_table(spark, SF, "embeddings")))
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in _probe_ivfpq_index(spark, index_dir, q_pdf).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(SF, 'embeddings.parquet')}'"
    )
    want = sorted(
        (int(q), int(n), int(rk), float(c))
        for q, n, rk, c in con.execute(
            _ivfpq_inc_sql(
                cent_where=f"vec_id % {SHARDS} = 0", del_where="FALSE"
            )
        ).fetchall()
    )
    con.close()
    assert got == want and len(got) > 0

    # idempotence: a re-run with no new files is a NOOP and rewrites
    # nothing (the meta ledger's file-grain exactly-once)
    def mtimes():
        out = {}
        for dp, _dd, ff in os.walk(index_dir):
            for f in ff:
                p = os.path.join(dp, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = mtimes()
    again = svc.run(t)
    assert again.status in (DONE, NOOP)
    assert mtimes() == before


def test_transfer_cdc_deletes_and_malformed_op(spark, tmp_path):
    """A window carrying op='del' rows folds a tombstone partition the
    probe honors; an explicit malformed op fails the window loudly."""
    src = tmp_path / "in"
    src.mkdir()
    (tmp_path / "out").mkdir()
    rows = _corpus_rows(spark)
    t = _transfer(tmp_path, index_options={"AnticipatedShards": 1})
    svc = TransferService(spark)
    _write_shard(src, "shard0.json", rows)
    assert svc.run(t).status == DONE

    q_pdf = _query_pdf(_normed(load_table(spark, SF, "embeddings")))
    index_dir = str(tmp_path / "out" / "index")
    pre = _probe_ivfpq_index(spark, index_dir, q_pdf).collect()
    victim = pre[0]["neighbor_id"]
    _write_shard(
        src, "shard1.json", [r for r in rows if r["vec_id"] == victim], op="del"
    )
    assert svc.run(t).status == DONE
    post_rows = _probe_ivfpq_index(spark, index_dir, q_pdf).collect()
    assert victim not in {r["neighbor_id"] for r in post_rows}

    _write_shard(
        src, "shard2.json", [r for r in rows if r["vec_id"] == 0], op="upsert"
    )
    res = svc.run(t)
    assert res.status == "ERROR" and "refusing to silently drop" in res.error


def test_retried_batch_after_encode_folds_nothing(spark, tmp_path):
    """A batch retried after the inline encode rung absorbed its raw
    epoch (a crash before the ledger recorded it) must not fold its
    vectors a second time: the probe is unchanged and no raw epoch
    reappears next to the codes segment."""
    from etly_spark.operators.ann_index_sink import fold_window_into_index

    index_dir = str(tmp_path / "index")
    opts = {"AnticipatedShards": SHARDS, "EncodeEvery": 1}
    shards = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    for e in range(2):
        fold_window_into_index(
            spark, shards.where(F.col("vec_id") % SHARDS == e), index_dir, f"k{e}", opts
        )
    q_pdf = _query_pdf(_normed(load_table(spark, SF, "embeddings")))
    before = sorted(map(tuple, _probe_ivfpq_index(spark, index_dir, q_pdf).collect()))
    fold_window_into_index(
        spark, shards.where(F.col("vec_id") % SHARDS == 1), index_dir, "k1", opts
    )
    post = os.path.join(index_dir, "postings")
    assert sorted(os.listdir(post)) == ["epoch=_codes-000001", "epoch=_codes-000002"]
    after = sorted(map(tuple, _probe_ivfpq_index(spark, index_dir, q_pdf).collect()))
    assert after == before and len(before) > 0


def test_retried_batch_after_purge_folds_nothing(spark, tmp_path):
    """A purge supersedes the codes segment that absorbed a batch's raw
    epoch. The segment's manifest carries that epoch forward, so a
    retry of the batch still folds no adds, and the probe lists each
    neighbour once per query, as before the retry."""
    from etly_spark.operators.ann_index_sink import fold_window_into_index
    from etly_spark.queries.similarity import purge_ivf_tombstones

    index_dir = str(tmp_path / "index")
    opts = {"AnticipatedShards": SHARDS, "EncodeEvery": 1}
    shards = load_table(spark, SF, "embeddings").select("vec_id", "embedding")

    def batch(e: int):
        return shards.where(F.col("vec_id") % SHARDS == e)

    for e in range(2):
        fold_window_into_index(spark, batch(e), index_dir, f"k{e}", opts)
    q_pdf = _query_pdf(_normed(load_table(spark, SF, "embeddings")))
    before = sorted(map(tuple, _probe_ivfpq_index(spark, index_dir, q_pdf).collect()))
    purge_ivf_tombstones(spark, index_dir)
    assert fold_window_into_index(spark, batch(1), index_dir, "k1", opts) == []
    post = os.path.join(index_dir, "postings")
    assert os.listdir(post) == ["epoch=_compacted-000001"]
    probe = _probe_ivfpq_index(spark, index_dir, q_pdf).collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in probe]
    assert len(pairs) == len(set(pairs))
    assert sorted(map(tuple, probe)) == before and len(before) > 0


def test_worker_rpc_folds_into_index(spark, tmp_path):
    """The worker RPC (run_object) follows Target.TransferMethod like a
    batch run: an annIndexFold target folds the object into its index
    under the epoch a batch of that one file gets (md5 of its source
    set), and no ndjson file lands at the index path."""
    import hashlib

    src = tmp_path / "in"
    src.mkdir()
    (tmp_path / "out").mkdir()
    rows = [r for r in _corpus_rows(spark) if r["vec_id"] % SHARDS == 0]
    _write_shard(src, "shard0.json", rows)
    url = "file://" + str(src / "shard0.json")
    resp = TransferService(spark).run_object(_transfer(tmp_path), url)
    assert resp["Error"] == "" and resp["RecordProcessed"] == len(rows)
    index_dir = tmp_path / "out" / "index"
    assert index_dir.is_dir() and (index_dir / "quantizer").is_dir()
    epoch = f"epoch={hashlib.md5(url.encode()).hexdigest()[:12]}"
    assert resp["Outputs"] == [str(index_dir / "postings" / epoch)]
    assert os.listdir(index_dir / "postings") == [epoch]
    assert os.listdir(tmp_path / "out") == ["index"]


def test_datastore_source_rejected(tmp_path):
    """annIndexFold keys its fold epochs by the batch's source files; a
    datastore query re-run has none, so the config is refused up front
    (the Rollup rule)."""
    t = _transfer(tmp_path)
    t.source.type = "datastore"
    with pytest.raises(ValueError, match="annIndexFold requires a url-type source"):
        t.validate()
