"""Incremental IVF index maintenance (r11, `sim_ann_methods` method
'ivf_inc'): the quantizer freezes on the first arrival shard, every
later shard folds in as its own append-only postings partition, and
the folded index answers queries exactly like a batch build over the
union under the same frozen quantizer."""

import os
import time

import duckdb
from pyspark.sql import functions as F

from etly_spark.functions import vector as V
from etly_spark.io.tables import load_table
from etly_spark.queries.similarity import (
    _IVFINC_DEL,
    _IVFINC_EPOCHS,
    _IVFINC_SQL,
    _normed,
    _probe_ivf_index,
    centroid_plan,
    compact_ivf_postings,
    fold_ivf_epoch,
    fold_ivf_tombstones,
    select_centroids,
    sim_ivf_inc,
)

SF = "/root/testdata/sf0.001"


def _mtimes(root: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_fold_is_append_only_and_lossless(spark, tmp_path):
    """Folding epoch e touches ONLY epoch=e; the union of folds equals
    a one-shot assignment of the whole corpus against the frozen
    quantizer (nothing lost, nothing reassigned)."""
    s = _normed(load_table(spark, SF, "embeddings"))
    cent_pdf = select_centroids(s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0))
    postings = str(tmp_path / "postings")

    for e in range(_IVFINC_EPOCHS - 1):
        fold_ivf_epoch(
            s.where(F.col("vec_id") % _IVFINC_EPOCHS == e), cent_pdf, postings, e
        )
    before = _mtimes(postings)
    assert before, "expected postings files from the first folds"
    time.sleep(0.05)  # mtime_ns granularity guard
    fold_ivf_epoch(
        s.where(F.col("vec_id") % _IVFINC_EPOCHS == (_IVFINC_EPOCHS - 1)),
        cent_pdf,
        postings,
        _IVFINC_EPOCHS - 1,
    )
    after = _mtimes(postings)
    touched = {
        p
        for p in before
        if after.get(p) != before[p] or p not in after
    }
    assert not touched, f"earlier epochs were rewritten: {sorted(touched)[:5]}"

    folded = sorted(
        (r["vec_id"], r["cent_id"])
        for r in spark.read.parquet(postings).select("vec_id", "cent_id").collect()
    )
    oneshot = sorted(
        (r["vec_id"], r["cent_id"])
        for r in V.assign_nearest(
            s.select("vec_id", "embedding", "nrm"), cent_pdf
        ).collect()
    )
    assert folded == oneshot and len(folded) == s.count()


def test_ivf_inc_matches_batch_oracle(spark):
    """sim_ivf_inc's top-k rows equal the DuckDB BATCH build over the
    union under the same frozen (shard-0) quantizer — the lossless-
    maintenance invariant the driver gate re-checks at sf0.01."""
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in sim_ivf_inc(spark, SF).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(SF, 'embeddings.parquet')}'"
    )
    want = sorted(
        (int(q), int(n), int(rk), float(c))
        for q, n, rk, c in con.execute(_IVFINC_SQL).fetchall()
    )
    con.close()
    assert got == want and len(got) > 0


def _build_index(spark, root: str) -> str:
    """A throwaway ivf_inc-shaped index (quantizer + per-epoch
    postings + tombstones) built through the production fold fns."""
    s = _normed(load_table(spark, SF, "embeddings"))
    shard0 = s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0)
    centroid_plan(shard0).write.parquet(os.path.join(root, "quantizer"))
    cent_pdf = select_centroids(shard0)
    for e in range(_IVFINC_EPOCHS):
        fold_ivf_epoch(
            s.where(F.col("vec_id") % _IVFINC_EPOCHS == e),
            cent_pdf,
            os.path.join(root, "postings"),
            e,
        )
    fold_ivf_tombstones(
        s.where(F.expr(_IVFINC_DEL)), os.path.join(root, "tombstones"), 0
    )
    return root


def _rows(df) -> list:
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in df.collect()
    )


def test_tombstones_remove_a_real_neighbor(spark, tmp_path):
    """The deterministic delete batch must INTERSECT the no-delete
    top-k (the gate exercises deletion, it doesn't just tolerate it):
    with tombstones the results change, and no tombstoned vec_id
    survives as a neighbor."""
    d = _build_index(spark, str(tmp_path / "idx"))
    with_del = _rows(_probe_ivf_index(spark, d))
    os.rename(os.path.join(d, "tombstones"), os.path.join(d, "tombstones.off"))
    no_del = _rows(_probe_ivf_index(spark, d))
    assert with_del != no_del
    deleted = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(d, "tombstones.off")).collect()
    }
    assert deleted
    assert not deleted & {n for _q, n, _rk, _c in with_del}
    assert deleted & {n for _q, n, _rk, _c in no_del}


def test_compaction_preserves_results(spark, tmp_path):
    """compact_ivf_postings folds the loose epoch partitions into one
    never-rewritten segment; the probe answers identically before and
    after, and the loose dirs are gone."""
    d = _build_index(spark, str(tmp_path / "idx"))
    before = _rows(_probe_ivf_index(spark, d))
    compact_ivf_postings(d, threshold=1)
    loose = [
        n
        for n in os.listdir(os.path.join(d, "postings"))
        if n.startswith("epoch=") and not n.startswith("epoch=_compacted-")
    ]
    assert not loose, f"loose postings epochs survived: {loose}"
    assert _rows(_probe_ivf_index(spark, d)) == before and len(before) > 0


def test_streamed_index_matches_batch_and_resumes(spark, tmp_path):
    """streaming/ann.start_ivf_index folds arriving embedding shards
    into the same index the batch fold produces (quantizer frozen on
    the first micro-batch), and a RESUMED run on the same checkpoint
    appends the new shard without touching the folded epochs."""
    import json

    from etly_spark.functions import vector as V
    from etly_spark.streaming.ann import start_ivf_index

    src = tmp_path / "in"
    src.mkdir()
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def vec(i: int) -> list:
        return [float((i * 37 + j * 11) % 19 - 9) for j in range(8)]

    def write_shard(name: str, ids) -> None:
        (src / name).write_text(
            "\n".join(json.dumps({"vec_id": i, "embedding": vec(i)}) for i in ids)
            + "\n"
        )

    write_shard("s1.json", range(0, 40))
    write_shard("s2.json", range(40, 80))
    write_shard("s3.json", range(80, 120))

    schema = "vec_id long, embedding array<double>"

    def drain() -> None:
        q = start_ivf_index(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src)),
            idx,
            ckpt,
        )
        q.awaitTermination(120)

    drain()
    streamed = sorted(
        (r["vec_id"], r["cent_id"])
        for r in spark.read.parquet(os.path.join(idx, "postings"))
        .select("vec_id", "cent_id")
        .collect()
    )
    # batch twin: one-shot assignment of the union under the STREAMED
    # frozen quantizer — the maintenance loop must lose nothing
    all_docs = spark.read.schema(schema).json(str(src))
    s = all_docs.select(
        "vec_id", "embedding", V.l2_norm_pd(F.col("embedding")).alias("nrm")
    )
    cent_pdf = V._staged_pdf(os.path.join(idx, "quantizer"))
    batch = sorted(
        (r["vec_id"], r["cent_id"])
        for r in V.assign_nearest(s, cent_pdf).select("vec_id", "cent_id").collect()
    )
    assert streamed == batch and len(streamed) == 120

    # resume: a 4th shard arrives; the restarted query folds ONLY it
    before = _mtimes(os.path.join(idx, "postings"))
    time.sleep(0.05)
    write_shard("s4.json", range(120, 160))
    drain()
    after = _mtimes(os.path.join(idx, "postings"))
    touched = {p for p in before if after.get(p) != before[p]}
    assert not touched, f"resume rewrote folded epochs: {sorted(touched)[:5]}"
    n = spark.read.parquet(os.path.join(idx, "postings")).count()
    assert n == 160


def test_streamed_cdc_ops_route_adds_and_deletes(spark, tmp_path):
    """A stream carrying op='add'/'del' rows (the CDC shape) routes
    adds to postings and deletes to the same epoch's tombstones inside
    ONE foreachBatch; the probed index equals the batch build minus the
    deleted ids."""
    import json

    from etly_spark.streaming.ann import start_ivf_index

    src = tmp_path / "in"
    src.mkdir()
    idx = str(tmp_path / "idx")

    def vec(i: int) -> list:
        return [float((i * 29 + j * 13) % 17 - 8) for j in range(8)]

    def row(i: int, op: str) -> str:
        return json.dumps({"vec_id": i, "embedding": vec(i), "op": op})

    (src / "s1.json").write_text(
        "\n".join(row(i, "add") for i in range(0, 50)) + "\n"
    )
    # shard 2: new adds + a deletion batch retracting two live vectors
    (src / "s2.json").write_text(
        "\n".join([row(i, "add") for i in range(50, 80)]
                  + [row(3, "del"), row(41, "del")]) + "\n"
    )

    schema = "vec_id long, embedding array<double>, op string"
    q = start_ivf_index(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        idx,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    live = {
        r["query_id"]
        for r in _probe_ivf_index(spark, idx, qwhere="vec_id >= 0")
        .select("query_id")
        .distinct()
        .collect()
    }
    assert 3 not in live and 41 not in live
    assert {0, 1, 2, 4, 50, 79} <= live
    n_postings = spark.read.parquet(os.path.join(idx, "postings")).count()
    n_tomb = spark.read.parquet(os.path.join(idx, "tombstones")).count()
    assert n_postings == 80 and n_tomb == 2  # deletes never rewrite postings


def test_deleted_vector_is_not_a_query_either(spark):
    """Review finding (r11): with a qwhere that OVERLAPS the delete
    set, the Spark probe reads queries from the post-anti-join postings
    — the oracle's q CTE must exclude deleted vectors too, or the
    engines diverge. Pin the non-default-qwhere parity end-to-end."""
    from etly_spark.queries.similarity import _IVFINC_DEL, _ivf_sql

    qwhere = "vec_id < 200"  # vec_id 102 is deleted (102 % 89 = 13)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in sim_ivf_inc(spark, SF, qwhere=qwhere).collect()
    )
    assert 102 not in {q for q, *_ in got}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(SF, 'embeddings.parquet')}'"
    )
    sql = _ivf_sql(
        qwhere=qwhere,
        cent_where=f"vec_id % {_IVFINC_EPOCHS} = 0",
        del_where=_IVFINC_DEL,
    )
    want = sorted(
        (int(q), int(n), int(rk), float(c)) for q, n, rk, c in con.execute(sql).fetchall()
    )
    con.close()
    assert got == want and len(got) > 0


def test_frozen_quantizer_differs_from_batch_selection(spark):
    """The invariant is only meaningful if the frozen quantizer is a
    genuinely different centroid set than a full-corpus selection —
    otherwise 'ivf_inc' would silently re-test 'ivf'."""
    s = _normed(load_table(spark, SF, "embeddings"))
    frozen = set(
        select_centroids(s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0))["cent_id"]
    )
    batch = set(select_centroids(s)["cent_id"])
    assert frozen != batch


def test_compaction_crash_recovery_heals_duplicates(spark, tmp_path):
    """r12 (ADVICE medium): a crash between the segment rename and the
    loose-dir removal leaves duplicate postings rows. The probe must
    answer correctly in the window (it reads only live partitions), and
    the next compact call must heal it via the segment's _folded.json
    manifest — without folding the duplicates into a second segment."""
    import shutil

    d = _build_index(spark, str(tmp_path / "idx"))
    before = _rows(_probe_ivf_index(spark, d))
    post = os.path.join(d, "postings")
    snap = str(tmp_path / "epoch0.snapshot")
    shutil.copytree(os.path.join(post, "epoch=0"), snap)
    compact_ivf_postings(d, threshold=1)
    # simulate the crash: the segment committed but epoch=0's removal
    # "didn't happen" — restore it, duplicating its rows
    shutil.copytree(snap, os.path.join(post, "epoch=0"))
    n_dup = spark.read.parquet(post).count()
    n_seg = spark.read.parquet(
        os.path.join(post, "epoch=_compacted-000001")
    ).count()
    assert n_dup > n_seg, "precondition: duplicates are really present"
    assert _rows(_probe_ivf_index(spark, d)) == before  # leftover invisible
    compact_ivf_postings(d, threshold=64)  # recovery, below threshold
    names = [n for n in os.listdir(post) if n.startswith("epoch=")]
    assert names == ["epoch=_compacted-000001"], names
    assert spark.read.parquet(post).count() == n_seg
    assert _rows(_probe_ivf_index(spark, d)) == before


def test_purge_ivf_tombstones(spark, tmp_path):
    """r12 (verdict item 3): the offline purge rewrites live postings as
    one segment, drops the dead rows AND the tombstone side-table, and
    the probe answers identically before and after — with measurably
    fewer bytes on disk and nothing left for the probe to anti-join."""
    from etly_spark.queries.similarity import purge_ivf_tombstones

    d = _build_index(spark, str(tmp_path / "idx"))
    before = _rows(_probe_ivf_index(spark, d))
    n_tomb = spark.read.parquet(os.path.join(d, "tombstones")).count()
    assert n_tomb > 0
    stats = purge_ivf_tombstones(spark, d)
    assert stats["purged_rows"] == n_tomb
    assert not os.path.isdir(os.path.join(d, "tombstones"))
    post = os.path.join(d, "postings")
    loose = [
        n for n in os.listdir(post)
        if n.startswith("epoch=") and not n.startswith("epoch=_compacted-")
    ]
    assert not loose, f"superseded loose epochs survived: {loose}"
    # the segment's dir names its epoch; its files carry no epoch column
    import glob

    import pyarrow.parquet as pq

    seg_files = glob.glob(os.path.join(post, "epoch=_compacted-*", "*.parquet"))
    assert seg_files
    assert all("epoch" not in pq.read_schema(f).names for f in seg_files)
    assert stats["bytes_after"] < stats["bytes_before"]
    assert stats["live_rows"] == spark.read.parquet(post).count()
    assert _rows(_probe_ivf_index(spark, d)) == before and len(before) > 0


def test_purge_after_compaction_supersedes_segments(spark, tmp_path):
    """Purge covers COMPACTED segments too: its manifest names them,
    numbering continues past them (max+1, never count+1 — a recycled
    name would collide with recovery manifests), and the probe is
    unchanged."""
    from etly_spark.queries.similarity import purge_ivf_tombstones

    d = _build_index(spark, str(tmp_path / "idx"))
    before = _rows(_probe_ivf_index(spark, d))
    compact_ivf_postings(d, threshold=1)
    purge_ivf_tombstones(spark, d)
    post = os.path.join(d, "postings")
    names = sorted(n for n in os.listdir(post) if n.startswith("epoch="))
    assert names == ["epoch=_compacted-000002"], names
    assert _rows(_probe_ivf_index(spark, d)) == before
    # a new epoch folds in after the purge (the stream resumed) and a
    # later compact folds it into segment 3, not a recycled 1
    s = _normed(load_table(spark, SF, "embeddings"))
    cent_pdf = select_centroids(s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0))
    fold_ivf_epoch(s.where(F.col("vec_id") % 1009 == 7), cent_pdf, post, 99)
    compact_ivf_postings(d, threshold=0)
    names = sorted(n for n in os.listdir(post) if n.startswith("epoch="))
    assert names == ["epoch=_compacted-000002", "epoch=_compacted-000003"], names


def test_streamed_cdc_rejects_malformed_op(spark, tmp_path):
    """ADVICE r11: rows whose op is neither 'add' nor 'del' must fail
    the fold loudly — a malformed CDC feed silently losing vectors is
    the worst failure mode an index maintenance loop can have."""
    import json

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from etly_spark.streaming.ann import start_ivf_index

    src = tmp_path / "in"
    src.mkdir()

    def row(i: int, op: str) -> str:
        return json.dumps(
            {"vec_id": i, "embedding": [float(i + j) for j in range(8)], "op": op}
        )

    (src / "s1.json").write_text(
        "\n".join([row(0, "add"), row(1, "upsert"), row(2, "del")]) + "\n"
    )
    q = start_ivf_index(
        spark.readStream.schema("vec_id long, embedding array<double>, op string")
        .json(str(src)),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException, match="op not in"):
        q.awaitTermination(120)


def test_split_hot_cells_structure_and_pruning(spark, tmp_path):
    """r12 (verdict item 2): splitting is log-structured — gen-0 epochs
    byte-untouched, superseded rows never rewritten, a probed split
    parent's candidate set (its 4 nearest sub-cells) is strictly
    smaller than the unsplit cell, and a re-run at the same cap is a
    no-op."""
    from etly_spark.queries.similarity import (
        _read_postings,
        _splits_state,
        split_hot_cells,
    )

    d = _build_index(spark, str(tmp_path / "idx"))
    post = os.path.join(d, "postings")
    before_mtimes = _mtimes(post)
    before_rows = _rows(_probe_ivf_index(spark, d))
    stats = split_hot_cells(spark, d)
    assert stats["split"], "default cap must split at least one cell here"
    # gen-0 epochs byte-identical (append-only contract)
    after = _mtimes(post)
    touched = {p for p in before_mtimes if after.get(p) != before_mtimes[p]}
    assert not touched, f"split rewrote gen-0 epochs: {sorted(touched)[:5]}"
    # split rows: every parent's sub-cells partition the parent's rows
    posts = _read_postings(spark, post)
    for p in stats["split"][:3]:
        n_parent = posts.where(
            F.col("parent").isNull() & (F.col("cent_id") == int(p))
        ).count()
        subs = (
            posts.where(F.col("parent") == int(p))
            .groupBy("cent_id")
            .count()
            .collect()
        )
        assert sum(r["count"] for r in subs) == n_parent
        assert len(subs) >= 2
        # probing 4 sub-cells touches fewer rows than the whole cell —
        # meaningful only when the cell grew more than nprobe sub-cells
        # (k_c = floor(sqrt(cell_n)) > 4 needs cell_n > 16)
        if len(subs) > 4:
            top4 = sorted((r["count"] for r in subs), reverse=True)[:4]
            assert sum(top4) < n_parent
    # idempotent at the same explicit cap
    again = split_hot_cells(spark, d, cap=stats["cap"])
    assert again["split"] == []
    # results change (the probe now sees the two-level quantizer) but
    # stay valid top-k rows; no superseded gen-0 row leaks: every
    # candidate of a split parent carries its sub-assignment
    parents, _ = _splits_state(os.path.join(d, "quantizer_splits"))
    assert sorted(stats["split"]) == parents
    after_rows = _rows(_probe_ivf_index(spark, d))
    assert len(after_rows) == len(before_rows) > 0


def test_split_matches_two_level_batch_oracle(spark):
    """sim_ivf_split's rows equal the DuckDB batch TWO-LEVEL build
    (gen-0 assign -> cap -> hash sub-centroids -> reassign -> expanded
    probe) minus deletions — the same lossless-maintenance invariant
    the driver gate re-checks at sf0.01."""
    from etly_spark.queries.similarity import _IVFSPLIT_SQL, sim_ivf_split

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in sim_ivf_split(spark, SF).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(SF, 'embeddings.parquet')}'"
    )
    want = sorted(
        (int(q), int(n), int(rk), float(c))
        for q, n, rk, c in con.execute(_IVFSPLIT_SQL).fetchall()
    )
    con.close()
    assert got == want and len(got) > 0


def test_fold_after_split_routes_through_sub_cells(spark, tmp_path):
    """A shard folded AFTER a split routes its rows one level further:
    rows landing in a split parent carry (parent=p, cent_id=one of p's
    sub-cells); rows in unsplit cells carry parent NULL. The streamed
    writer passes the splits dir too."""
    from etly_spark.queries.similarity import (
        _read_postings,
        _splits_state,
        split_hot_cells,
    )

    d = _build_index(spark, str(tmp_path / "idx"))
    stats = split_hot_cells(spark, d)
    assert stats["split"]
    splits_dir = os.path.join(d, "quantizer_splits")
    parents, _tok = _splits_state(splits_dir)
    s = _normed(load_table(spark, SF, "embeddings"))
    shard = s.where(F.col("vec_id") % 101 == 3)
    cent_pdf = select_centroids(s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0))
    post = os.path.join(d, "postings")
    fold_ivf_epoch(shard, cent_pdf, post, 77, splits_dir=splits_dir)
    ep = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(post, "epoch=77")
    )
    n = ep.count()
    assert n == shard.count() > 0
    routed = ep.where(F.col("parent").isNotNull())
    sub_ids = {
        int(r["cent_id"])
        for r in V._read_parquet_dir(splits_dir).itertuples(index=False)
        for r in [r._asdict() if hasattr(r, "_asdict") else r]
    } if False else {
        int(c) for c in V._read_parquet_dir(splits_dir)["cent_id"]
    }
    for r in routed.collect():
        assert int(r["parent"]) in parents
        assert int(r["cent_id"]) in sub_ids
    # unsplit rows keep the gen-0 assignment exactly
    plain = ep.where(F.col("parent").isNull())
    for r in plain.select("cent_id").distinct().collect():
        assert int(r["cent_id"]) not in parents


def test_second_split_generation_is_append_only(spark, tmp_path):
    """A LATER split_hot_cells call (corpus grew / lower cap) splits
    only cells not yet split, as its own batch: a second splits file
    and a second _split-* segment appear, the first generation's files
    are byte-untouched, and the probe still answers with valid rows."""
    from etly_spark.queries.similarity import _splits_state, split_hot_cells

    d = _build_index(spark, str(tmp_path / "idx"))
    s1 = split_hot_cells(spark, d)
    assert s1["split"]
    splits_dir = os.path.join(d, "quantizer_splits")
    gen1_files = set(os.listdir(splits_dir))
    gen1_mtimes = _mtimes(splits_dir)
    rows1 = _rows(_probe_ivf_index(spark, d))
    # force a second generation: cap low enough that some remaining
    # unsplit cell exceeds it
    s2 = split_hot_cells(spark, d, cap=1)
    assert s2["split"] and not (set(s1["split"]) & set(s2["split"]))
    after_files = set(os.listdir(splits_dir))
    assert gen1_files < after_files
    touched = {
        p for p, v in gen1_mtimes.items() if _mtimes(splits_dir).get(p) != v
    }
    assert not touched
    parents, _ = _splits_state(splits_dir)
    assert sorted(set(s1["split"]) | set(s2["split"])) == parents
    segs = [
        n
        for n in os.listdir(os.path.join(d, "postings"))
        if n.startswith("epoch=_split-")
    ]
    assert len(segs) == 2
    rows2 = _rows(_probe_ivf_index(spark, d))
    assert len(rows2) == len(rows1) > 0


def test_purge_preserves_split_index(spark, tmp_path):
    """r12: purging a SPLIT index must keep the split segments' parent
    column (a schema-sampling read would drop it and detach every
    split row from its probe key) and may compact away the superseded
    gen-0 rows; probe rows identical before/after, splits table
    untouched."""
    from etly_spark.queries.similarity import (
        _read_postings,
        purge_ivf_tombstones,
        split_hot_cells,
    )

    d = _build_index(spark, str(tmp_path / "idx"))
    stats = split_hot_cells(spark, d)
    assert stats["split"]
    before = _rows(_probe_ivf_index(spark, d))
    pstats = purge_ivf_tombstones(spark, d)
    assert _rows(_probe_ivf_index(spark, d)) == before and len(before) > 0
    post = os.path.join(d, "postings")
    posts = _read_postings(spark, post)
    # split rows kept their parent; no superseded gen-0 row survived
    assert posts.where(F.col("parent").isNotNull()).count() > 0
    leftover = posts.where(
        F.col("parent").isNull() & F.col("cent_id").isin(stats["split"])
    ).count()
    assert leftover == 0
    assert pstats["purged_rows"] > 0  # tombstoned + superseded rows gone


def test_ivfpq_codes_stage_partition_prunes(spark):
    """r12: the staged codes table is hive-partitioned on the coarse
    cell, so the probe's cell filter prunes DIRECTORIES — the scan plan
    must carry the cells in PartitionFilters, not just a post-scan
    filter (an unpartitioned write interleaves cells across row groups
    and stats prune nothing)."""
    import os

    from pyspark.sql import functions as F

    from etly_spark.functions import vector as V
    from etly_spark.io.staging import stage_path
    from etly_spark.queries.similarity import _PQ_M, _ivfpq_index, sim_ivfpq_probe

    assert len(sim_ivfpq_probe(spark, SF).collect()) > 0  # end-to-end
    asn, cb_path, _cent, _tag = _ivfpq_index(spark, SF, None, "iid")
    codes_path = stage_path(
        spark,
        f"ivfpq-codes:{SF}:iid",
        lambda: V.ivfpq_codes(asn, cb_path, m=_PQ_M, cell_col="cell"),
        deps=[os.path.join(SF, "embeddings.parquet")],
        partition_by=["cell"],
    )
    plan = (
        spark.read.parquet(codes_path)
        .where(F.col("cell").isin([3, 7]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters")[1][:160]
    assert "cell" in pf and ("3" in pf or "7" in pf)


def test_ivfpq_adc_matches_decode_probe(spark):
    """r12: ADC lookup-table scoring (no reconstruction) retrieves the
    same neighbors as the gated decode probe — per-m association drift
    is ULP-scale, far below the neighbor margins, so the top-5 PAIR
    SETS are identical on the deterministic corpus."""
    from etly_spark.queries.similarity import sim_ivfpq_adc, sim_ivfpq_probe

    dec = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in sim_ivfpq_probe(spark, SF).collect()
    )
    adc = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in sim_ivfpq_adc(spark, SF).collect()
    )
    assert dec == adc and len(dec) > 0


def test_compaction_unifies_split_generation_schemas(spark, tmp_path):
    """r13 (ADVICE): loose epochs folded BEFORE a split carry 4 columns
    while epochs folded AFTER carry a 5th 'parent' column — compaction
    must unify the generations (null-fill, the mergeSchema read's rule)
    instead of raising ArrowInvalid, and the probe answers identically
    across the fold."""
    from etly_spark.queries.similarity import _splits_state, split_hot_cells

    d = _build_index(spark, str(tmp_path / "idx"))
    split_hot_cells(spark, d)
    splits_dir = os.path.join(d, "quantizer_splits")
    assert _splits_state(splits_dir)[0]
    s = _normed(load_table(spark, SF, "embeddings"))
    cent_pdf = select_centroids(s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0))
    post = os.path.join(d, "postings")
    # post-split epochs: 5-column (parent) partitions beside the 4-col
    # pre-split ones
    for e in (91, 92):
        fold_ivf_epoch(
            s.where(F.col("vec_id") % 97 == e - 90),
            cent_pdf,
            post,
            e,
            splits_dir=splits_dir,
        )
    before = _rows(_probe_ivf_index(spark, d))
    compact_ivf_postings(d, threshold=1)  # both generations in one fold
    loose = [
        n
        for n in os.listdir(post)
        if n.startswith("epoch=") and not n.startswith("epoch=_")
    ]
    assert not loose
    assert _rows(_probe_ivf_index(spark, d)) == before and len(before) > 0


def test_recovery_spares_reused_epoch_id_with_new_content(spark, tmp_path):
    """r13 (ADVICE): the _folded.json manifest carries per-partition
    content markers — a FRESH epoch dir reusing a name an old manifest
    covers (checkpoint reset / refold after purge) must survive
    recovery; only a dir whose parts still match the marker (the true
    crash leftover) is removed."""
    from etly_spark.io.compact import recover_covered_partitions

    d = _build_index(spark, str(tmp_path / "idx"))
    post = os.path.join(d, "postings")
    compact_ivf_postings(d, threshold=1)  # writes the marker manifest
    # refold epoch 0 from a DIFFERENT shard — same name, new content
    s = _normed(load_table(spark, SF, "embeddings"))
    cent_pdf = select_centroids(s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0))
    fold_ivf_epoch(s.where(F.col("vec_id") % 103 == 5), cent_pdf, post, 0)
    n_fresh = spark.read.parquet(os.path.join(post, "epoch=0")).count()
    assert n_fresh > 0
    removed = recover_covered_partitions(post, "epoch")
    assert "epoch=0" not in removed
    assert spark.read.parquet(os.path.join(post, "epoch=0")).count() == n_fresh


def test_ivfpq_codes_payload_is_packed_binary(spark):
    """r13 (verdict item 4): the staged codes payload is ONE 2m-byte
    uint16-LE binary per vector (dense slots in the cb_id-sorted book),
    not m longs — 4x smaller Arrow traffic and disk footprint; slots
    stay under the 1024-codeword clamp so uint16 never truncates."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from etly_spark.queries.similarity import (
        _PQ_M,
        _ivfpq_codes_path,
        _ivfpq_index,
    )

    asn, cb_path, _cent, tag = _ivfpq_index(spark, SF, None, None)
    codes_path = _ivfpq_codes_path(spark, SF, asn, cb_path, tag)
    df = spark.read.parquet(codes_path)
    field = {f.name: f.dataType for f in df.schema.fields}["codes"]
    assert isinstance(field, BinaryType)
    sample = df.limit(64).collect()
    assert sample
    for r in sample:
        assert len(r["codes"]) == 2 * _PQ_M
        slots = np.frombuffer(r["codes"], dtype="<u2")
        assert slots.max() < 1024


# ---------------------------------------------------------- ivfpq_inc
# r13 (verdict item 1): the maintenance index with the PRODUCTION
# payload — frozen quantizer + frozen per-cell PQ books, epochs folded
# as 2m-byte packed codes, ADC probe.


def _build_codes_index(spark, root: str, encode: bool = True) -> str:
    """A throwaway ivfpq_inc-shaped index built through the production
    freeze/fold/encode functions (r13 LSM shape: raw folds are the
    write buffer; encode=False leaves the buffer unencoded)."""
    from etly_spark.queries.similarity import (
        _ivfpq_cells,
        encode_ivfpq_postings,
        fold_ivfpq_epoch,
    )

    s = _normed(load_table(spark, SF, "embeddings"))
    shard0 = s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0)
    nlist = _ivfpq_cells(shard0.count() * _IVFINC_EPOCHS)
    centroid_plan(shard0, k=nlist).write.parquet(os.path.join(root, "quantizer"))
    cent_pdf = V._staged_pdf(os.path.join(root, "quantizer"))
    for e in range(_IVFINC_EPOCHS):
        fold_ivfpq_epoch(
            s.where(F.col("vec_id") % _IVFINC_EPOCHS == e),
            cent_pdf,
            os.path.join(root, "postings"),
            e,
        )
    if encode:
        encode_ivfpq_postings(spark, root)
    fold_ivf_tombstones(
        s.where(F.expr(_IVFINC_DEL)), os.path.join(root, "tombstones"), 0
    )
    return root


def _qpdf(spark):
    from etly_spark.queries.similarity import _query_pdf

    return _query_pdf(_normed(load_table(spark, SF, "embeddings")), "vec_id < 8")


def test_ivfpq_inc_matches_batch_oracle(spark):
    """sim_ivfpq_inc's top-k rows equal the DuckDB BATCH two-stage
    build (frozen shard-0 quantizer + frozen shard-0 books, encode the
    union, ADC-score) minus deletions — the codes-payload maintenance
    invariant the driver gate re-checks at sf0.01."""
    from etly_spark.queries.similarity import _IVFPQINC_SQL, sim_ivfpq_inc

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in sim_ivfpq_inc(spark, SF).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(SF, 'embeddings.parquet')}'"
    )
    want = sorted(
        (int(q), int(n), int(rk), float(c))
        for q, n, rk, c in con.execute(_IVFPQINC_SQL).fetchall()
    )
    con.close()
    assert got == want and len(got) > 0


def test_ivfpq_inc_fold_append_only_and_codes_sized(spark, tmp_path):
    """r13 LSM shape: raw folds touch ONLY their own epoch (the write
    buffer is O(shard)); after the encode rung the steady-state
    postings are an ORDER OF MAGNITUDE smaller than the raw buffer —
    the maintenance index stops being corpus-sized."""
    from etly_spark.queries.similarity import (
        encode_ivfpq_postings,
        fold_ivfpq_epoch,
    )

    d = _build_codes_index(spark, str(tmp_path / "pq"), encode=False)
    post = os.path.join(d, "postings")

    def _bytes(root):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dd, ff in os.walk(root)
            for f in ff
        )

    raw_bytes = _bytes(post)
    before = _mtimes(post)
    time.sleep(0.05)
    s = _normed(load_table(spark, SF, "embeddings"))
    cent_pdf = V._staged_pdf(os.path.join(d, "quantizer"))
    fold_ivfpq_epoch(s.where(F.col("vec_id") % 101 == 7), cent_pdf, post, 99)
    after = _mtimes(post)
    touched = {p for p in before if after.get(p) != before[p]}
    assert not touched

    stats = encode_ivfpq_postings(spark, d)
    assert stats["raw_dirs"] == _IVFINC_EPOCHS + 1
    assert stats["encoded_rows"] > 0 and stats["book_rows_added"] > 0
    loose = [
        n for n in os.listdir(post)
        if n.startswith("epoch=") and not n.startswith("epoch=_")
    ]
    assert not loose, "encode rung left raw dirs behind"
    # postings payload shrinks even at this tiny SF (the codebook is
    # corpus-size-INDEPENDENT and dominates only below ~10k vectors;
    # the 1M measurement — 24 MB codes vs 190 MB raw — is STRESS.md's)
    codes_bytes = _bytes(post)
    assert codes_bytes * 2 < raw_bytes, (codes_bytes, raw_bytes)


def test_ivfpq_inc_tombstones_remove_real_neighbor(spark, tmp_path):
    from etly_spark.queries.similarity import _probe_ivfpq_index

    d = _build_codes_index(spark, str(tmp_path / "pq"))
    q_pdf = _qpdf(spark)
    with_del = _rows(_probe_ivfpq_index(spark, d, q_pdf))
    os.rename(os.path.join(d, "tombstones"), os.path.join(d, "tombstones.off"))
    no_del = _rows(_probe_ivfpq_index(spark, d, q_pdf))
    assert with_del != no_del
    deleted = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(d, "tombstones.off")).collect()
    }
    assert deleted
    assert not deleted & {n for _q, n, _rk, _c in with_del}
    assert deleted & {n for _q, n, _rk, _c in no_del}


def test_ivfpq_inc_compaction_and_purge_preserve_probe(spark, tmp_path):
    """compact_ivf_postings and purge_ivf_tombstones over the LSM
    index: raw buffer epochs folded after the encode rung compact like
    any loose partitions, the two-payload probe answers identically
    across compaction AND purge, and purge drops the tombstone
    side-table + dead rows from the mixed payload."""
    from etly_spark.queries.similarity import (
        _probe_ivfpq_index,
        fold_ivfpq_epoch,
        purge_ivf_tombstones,
    )

    d = _build_codes_index(spark, str(tmp_path / "pq"))  # encoded
    post = os.path.join(d, "postings")
    s = _normed(load_table(spark, SF, "embeddings"))
    cent_pdf = V._staged_pdf(os.path.join(d, "quantizer"))
    # two raw buffer epochs on top of the codes segment (mixed state)
    fold_ivfpq_epoch(s.where(F.col("vec_id") % 101 == 7), cent_pdf, post, 90)
    fold_ivfpq_epoch(s.where(F.col("vec_id") % 103 == 5), cent_pdf, post, 91)
    q_pdf = _qpdf(spark)
    before = _rows(_probe_ivfpq_index(spark, d, q_pdf))
    assert len(before) > 0
    compact_ivf_postings(d, threshold=1)
    loose = [
        n for n in os.listdir(post)
        if n.startswith("epoch=") and not n.startswith("epoch=_")
    ]
    assert not loose
    assert _rows(_probe_ivfpq_index(spark, d, q_pdf)) == before
    stats = purge_ivf_tombstones(spark, d)
    assert stats["purged_rows"] > 0
    assert not os.path.isdir(os.path.join(d, "tombstones"))
    assert _rows(_probe_ivfpq_index(spark, d, q_pdf)) == before


def test_encode_rung_two_payload_probe_and_book_topup(spark, tmp_path):
    """The LSM read/merge cycle: a pure-raw buffer probes exactly; the
    encode rung quantizes it (books selected from the full folded
    pool); later raw folds serve EXACTLY from the buffer beside the
    codes; a second encode adds a segment WITHOUT growing the books
    when the target hasn't grown, and encodes under the same book
    state (slot-stable appends)."""
    from etly_spark.queries.similarity import (
        _probe_ivfpq_index,
        encode_ivfpq_postings,
        fold_ivfpq_epoch,
    )

    d = _build_codes_index(spark, str(tmp_path / "pq"), encode=False)
    post = os.path.join(d, "postings")
    q_pdf = _qpdf(spark)
    raw_rows = _rows(_probe_ivfpq_index(spark, d, q_pdf))
    assert len(raw_rows) > 0  # pure write-buffer probe (exact scores)
    st1 = encode_ivfpq_postings(spark, d)
    assert st1["book_rows_added"] > 0 and st1["segments"] == 1
    coded_rows = _rows(_probe_ivfpq_index(spark, d, q_pdf))
    assert len(coded_rows) == len(raw_rows)  # quantized scores differ,
    # the probe contract (Q x 5 rows) does not
    s = _normed(load_table(spark, SF, "embeddings"))
    cent_pdf = V._staged_pdf(os.path.join(d, "quantizer"))
    fold_ivfpq_epoch(s.where(F.col("vec_id") % 101 == 7), cent_pdf, post, 90)
    mixed_rows = _rows(_probe_ivfpq_index(spark, d, q_pdf))
    assert len(mixed_rows) == len(raw_rows)
    st2 = encode_ivfpq_postings(spark, d)
    # same corpus-size class: target unchanged -> no book growth, but
    # the buffer epoch got its own codes segment
    assert st2["segments"] == 2 and st2["raw_dirs"] == 1
    assert _rows(_probe_ivfpq_index(spark, d, q_pdf)) is not None
    # idempotence: nothing left to encode
    st3 = encode_ivfpq_postings(spark, d)
    assert st3["raw_dirs"] == 0 and st3["encoded_rows"] == 0


def test_recursive_split_mints_negative_leaf_ids(spark, tmp_path):
    """r13 (verdict item 2): sub-cells can re-split — a second rung at
    cap=1 splits hot SUB leaves into fresh NEGATIVE leaf ids (a dead
    leaf id can never be reborn), liveness keys on the cell id alone,
    folds route arrivals down the chain, and the probe still answers
    with valid live rows."""
    from etly_spark.queries.similarity import _splits_state, split_hot_cells

    d = _build_index(spark, str(tmp_path / "idx"))
    s1 = split_hot_cells(spark, d)
    assert s1["split"]
    # second rung: force EVERY live leaf above 1 row to split — this
    # includes the level-1 sub leaves, which must mint negative ids
    s2 = split_hot_cells(spark, d, cap=1)
    splits_dir = os.path.join(d, "quantizer_splits")
    pdf = V._read_parquet_dir(splits_dir)
    sub_ids = {int(c) for c in pdf["cent_id"]}
    split_nodes = {int(p) for p in pdf["parent"]}
    level1_subs_split = set(s2["split"]) & {int(c) for c in pdf["cent_id"]}
    assert level1_subs_split, "no level-1 sub leaf was hot at cap=1"
    assert any(i < 0 for i in sub_ids), "deep split minted no negative ids"
    # negative children belong to split SUB nodes, not gen-0 cells
    for p, c in zip(pdf["parent"], pdf["cent_id"]):
        if int(c) < 0:
            assert int(p) in sub_ids or int(p) < 0
    # own-id exclusion: no split node is its own child
    assert all(int(p) != int(c) for p, c in zip(pdf["parent"], pdf["cent_id"]))
    parents, _ = _splits_state(splits_dir)
    assert set(parents) == split_nodes
    rows = _rows(_probe_ivf_index(spark, d))
    assert len(rows) > 0
    # every returned neighbor is a live, non-tombstoned row
    deleted = {
        r["vec_id"] for r in spark.read.parquet(os.path.join(d, "tombstones")).collect()
    }
    assert not deleted & {n for _q, n, _rk, _c in rows}
    # fold AFTER the recursive split: arrivals route to live leaves
    s = _normed(load_table(spark, SF, "embeddings"))
    cent_pdf = select_centroids(s.where(F.col("vec_id") % _IVFINC_EPOCHS == 0))
    fold_ivf_epoch(
        s.where(F.col("vec_id") % 97 == 11),
        cent_pdf,
        os.path.join(d, "postings"),
        88,
        splits_dir=splits_dir,
    )
    ep = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(d, "postings", "epoch=88")
    )
    landed = {int(r["cent_id"]) for r in ep.select("cent_id").distinct().collect()}
    assert not landed & split_nodes, "a fold landed rows in a SPLIT node"


def test_codes_split_routing_frozen_encoding(spark, tmp_path):
    """r13: splitting the CODES index re-clusters decoded vectors but
    never re-encodes — sub leaves inherit the gen-0 root's book (roots
    re-derived from the splits chain), so a probe wide enough to cover
    every leaf returns BYTE-IDENTICAL rows before and after the split;
    raw folds after the split route to live leaves; a mixed buffer
    rejects the split rung until encoded."""
    import pytest

    from etly_spark.queries.similarity import (
        _probe_ivfpq_index,
        _splits_state,
        encode_ivfpq_postings,
        fold_ivfpq_epoch,
        split_hot_cells,
    )

    d = _build_codes_index(spark, str(tmp_path / "pq"))  # encoded
    q_pdf = _qpdf(spark)
    wide_before = _rows(_probe_ivfpq_index(spark, d, q_pdf, nprobe=64))
    narrow_before = _rows(_probe_ivfpq_index(spark, d, q_pdf))
    stats = split_hot_cells(spark, d)
    assert stats["split"], "no codes cell was hot at the default cap"
    splits_dir = os.path.join(d, "quantizer_splits")
    parents, _ = _splits_state(splits_dir)
    # frozen encoding: the all-leaves probe is invariant under the split
    assert _rows(_probe_ivfpq_index(spark, d, q_pdf, nprobe=64)) == wide_before
    narrow_after = _rows(_probe_ivfpq_index(spark, d, q_pdf))
    assert len(narrow_after) == len(narrow_before) > 0
    # split segment rows: (vec_id, cent_id=sub leaf, codes), no parent
    seg = [
        n
        for n in os.listdir(os.path.join(d, "postings"))
        if n.startswith("epoch=_split-")
    ]
    assert len(seg) == 1
    segdf = spark.read.parquet(os.path.join(d, "postings", seg[0]))
    assert set(segdf.columns) == {"vec_id", "cent_id", "codes"}
    landed_sub = {
        int(r["cent_id"]) for r in segdf.select("cent_id").distinct().collect()
    }
    assert landed_sub and not landed_sub & set(stats["split"])
    # a raw fold routed through the splits lands in live leaves; the
    # MIXED state rejects a second split until encoded
    s = _normed(load_table(spark, SF, "embeddings"))
    cent_pdf = V._staged_pdf(os.path.join(d, "quantizer"))
    fold_ivfpq_epoch(
        s.where(F.col("vec_id") % 97 == 13),
        cent_pdf,
        os.path.join(d, "postings"),
        87,
        splits_dir=splits_dir,
    )
    ep = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(d, "postings", "epoch=87")
    )
    landed = {int(r["cent_id"]) for r in ep.select("cent_id").distinct().collect()}
    assert not landed & set(parents)
    with pytest.raises(ValueError, match="encode_ivfpq_postings first"):
        split_hot_cells(spark, d)
    encode_ivfpq_postings(spark, d)
    assert len(_rows(_probe_ivfpq_index(spark, d, q_pdf))) == len(narrow_before)


def test_drift_trigger_fires_in_live_loop(spark, tmp_path):
    """r13 (verdict item 5): the split trigger (max leaf share >
    4/nlist) is computed INSIDE the maintenance loop — every streamed
    fold updates the drift sidecar, and the first epoch whose
    cumulative max share crosses the trigger stamps a one-shot alert.
    Deterministic fixture: epoch 0 freezes 32 orthogonal one-hot
    centroids (share 1/32 each, no fire), epochs 1-2 pile clones into
    cell 5 — share crosses 4/32 = 0.125 exactly at epoch 2."""
    import json

    from etly_spark.queries.similarity import (
        compact_ivf_postings,
        ivf_drift_stats,
    )
    from etly_spark.streaming.ann import start_ivf_index

    src = tmp_path / "in"
    src.mkdir()
    idx = str(tmp_path / "idx")

    def onehot(i: int) -> list:
        return [1.0 if j == i % 32 else 0.0 for j in range(32)]

    (src / "s1.json").write_text(
        "\n".join(
            json.dumps({"vec_id": i, "embedding": onehot(i)}) for i in range(32)
        )
        + "\n"
    )
    for e, lo in ((2, 100), (3, 200)):
        (src / f"s{e}.json").write_text(
            "\n".join(
                json.dumps({"vec_id": lo + i, "embedding": onehot(5)})
                for i in range(3)
            )
            + "\n"
        )
    # the file source orders batches by mtime — pin strictly increasing
    # stamps so s1 (the freeze batch) is provably epoch 0
    for k, name in enumerate(("s1.json", "s2.json", "s3.json")):
        os.utime(src / name, (1_700_000_000 + k, 1_700_000_000 + k))
    q = start_ivf_index(
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        idx,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    with open(os.path.join(idx, "drift_stats.json")) as f:
        state = json.load(f)
    alert = state["alert"]
    # epoch 1: cell5 = 4/35 = 0.114 < 0.125; epoch 2: 7/38 = 0.184 fires
    assert alert is not None and alert["epoch"] == "2"
    assert alert["cell"] == 5 and alert["share"] > 0.125
    # offline recompute agrees, and the compaction rung reports it too
    off = ivf_drift_stats(idx)
    assert off["fired"] and off["max_cell"] == 5
    assert abs(off["max_share"] - alert["share"]) < 1e-9
    comp = compact_ivf_postings(idx, threshold=1)
    assert comp["fired"] and comp["max_cell"] == 5


def test_ivfpq_rerank_refines_within_adc_candidates(spark):
    """r13: the refine step is a re-ORDERING device, not a new search —
    every rerank top-5 pair must come from ADC's top-refine_k candidate
    set, and its score must be the EXACT cosine (equal to the brute
    plan's score for that pair, which ADC's quantized score generally
    is not)."""
    from etly_spark.queries.similarity import (
        _RERANK_R,
        sim_ivfpq_adc,
        sim_ivfpq_rerank,
        sim_topk_bruteforce,
    )

    rr = sim_ivfpq_rerank(spark, SF).collect()
    assert len(rr) > 0
    # candidate containment: rebuild ADC's refine set (top-R pairs)
    from etly_spark.queries.similarity import _ivfpq_adc_scored, _topk

    scored, _ = _ivfpq_adc_scored(spark, SF, None, "vec_id < 8", None, None, 4)
    cand = {
        (r["query_id"], r["neighbor_id"])
        for r in _topk(scored, _RERANK_R).collect()
    }
    assert all((r["query_id"], r["neighbor_id"]) in cand for r in rr)
    # exactness: where rerank and brute agree on a pair, scores match
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim_topk_bruteforce(spark, SF).collect()
    }
    common = [r for r in rr if (r["query_id"], r["neighbor_id"]) in bf]
    assert common, "rerank found none of brute's top-5 — broken refine"
    for r in common:
        assert r["cos_sim"] == bf[(r["query_id"], r["neighbor_id"])]
    # and the refine must dominate raw ADC on recall vs brute
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_ivfpq_adc(spark, SF).collect()
    }
    rr_pairs = {(r["query_id"], r["neighbor_id"]) for r in rr}
    assert len(rr_pairs & set(bf)) >= len(adc & set(bf))


def test_lsm_probe_refine_rung_is_exact_and_dominates(spark):
    """r13: the refine rung composes with the MAINTENANCE index — the
    top-R merged candidates (codes segments + raw write buffer, post-
    tombstone) re-score against the source-of-truth vector store
    (refine_src; the LSM postings deliberately carry no raw embeddings
    for coded rows). Refined scores are exact (equal brute's for the
    common pairs) and refined recall vs brute dominates the unrefined
    probe's."""
    from etly_spark.io.tables import load_table
    from etly_spark.queries.similarity import (
        _normed,
        _probe_ivfpq_index,
        _query_pdf,
        ivfpq_inc_index,
        sim_topk_bruteforce,
    )

    d = ivfpq_inc_index(spark, SF)
    nsrc = _normed(load_table(spark, SF, "embeddings"))
    q_pdf = _query_pdf(nsrc)
    plain = _probe_ivfpq_index(spark, d, q_pdf).collect()
    refined = _probe_ivfpq_index(
        spark, d, q_pdf, refine_k=32, refine_src=nsrc
    ).collect()
    assert len(refined) == len(plain) > 0
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim_topk_bruteforce(spark, SF, nsrc, q_pdf).collect()
    }
    for r in refined:
        k = (r["query_id"], r["neighbor_id"])
        if k in bf:
            assert r["cos_sim"] == bf[k]
    hits = lambda rows: len({(r["query_id"], r["neighbor_id"]) for r in rows} & set(bf))  # noqa: E731
    assert hits(refined) >= hits(plain)
    # missing refine_src is a loud config error, not a silent fallback
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refine_src"):
        _probe_ivfpq_index(spark, d, q_pdf, refine_k=32)


def test_refine_k_narrower_than_final_k_is_a_loud_error(spark):
    """A refine set smaller than the final top-k would silently
    truncate the answer — config error, not a tuning choice."""
    import pytest as _pytest

    from etly_spark.queries.similarity import sim_ivfpq_rerank

    with _pytest.raises(ValueError, match="refine_k=3"):
        sim_ivfpq_rerank(spark, SF, refine_k=3).collect()


def test_refine_missing_candidate_vector_is_a_loud_error(spark):
    """r14 (ADVICE): a stale/partial vector store must not silently
    shrink the refined answer — the point-fetch asserts it covered the
    whole candidate id set and raises naming the missing ids."""
    import pytest as _pytest

    from etly_spark.queries.similarity import (
        _exact_refine,
        _query_pdf,
        sim_topk_bruteforce,
    )

    nsrc = _normed(load_table(spark, SF, "embeddings"))
    q_pdf = _query_pdf(nsrc)
    scored = sim_topk_bruteforce(spark, SF, nsrc, q_pdf).select(
        "query_id", "neighbor_id", "cos_sim"
    )
    # drop one candidate's vector from the "store": refine must notice
    victim = scored.collect()[0]["neighbor_id"]
    partial = nsrc.where(F.col("vec_id") != victim)
    with _pytest.raises(ValueError, match="missing"):
        _exact_refine(spark, scored, 8, partial, q_pdf)


def test_filtered_ann_matches_filtered_brute_and_respects_predicate(spark):
    """r14 (filtered search): every returned neighbor satisfies the
    metadata predicate; with a 100%-selective predicate the filtered
    path degenerates to exactly the unfiltered rerank plan (sel=1 →
    nprobe_f=nprobe, no candidate dropped) — the scaling rule's
    identity case."""
    from etly_spark.queries.similarity import (
        _FILTER_MB_LT,
        _MB_MOD,
        sim_ivfpq_filtered,
        sim_ivfpq_rerank,
    )

    rows = sim_ivfpq_filtered(spark, SF).collect()
    assert rows
    mb = lambda v: ((v % 2147483648) * 48271) % 4294967296 % _MB_MOD  # noqa: E731
    assert all(mb(r["neighbor_id"]) < _FILTER_MB_LT for r in rows)
    # identity case: predicate matching everything == unfiltered rerank
    full = sorted(
        map(tuple, sim_ivfpq_filtered(spark, SF, mb_lt=_MB_MOD).collect())
    )
    rerank = sorted(map(tuple, sim_ivfpq_rerank(spark, SF).collect()))
    assert full == rerank


def test_filtered_ann_empty_bucket_fails_loudly(spark):
    """r14: a predicate matching no indexed vector is a config error,
    not an empty answer."""
    import pytest as _pytest

    from etly_spark.queries.similarity import sim_ivfpq_filtered

    with _pytest.raises(ValueError, match="matches no indexed"):
        sim_ivfpq_filtered(spark, SF, mb_lt=0)


def test_filtered_ann_predicate_reaches_codes_scan(spark):
    """r14: the metadata predicate must reach the staged codes scan as
    a pushed filter COMPOSED with the cell IN filter — the one-pruned-
    scan design, not a post-filter."""
    from etly_spark.queries.similarity import sim_ivfpq_filtered

    plan = (
        sim_ivfpq_filtered(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "mb" in plan


def test_radius_results_are_exact_and_contained_in_threshold_brute(spark):
    """r14 (radius search): every returned pair is a TRUE tau-neighbor
    with the exact cosine (contained in the threshold-brute ground
    truth with equal scores), and an unreachable tau returns an empty
    frame with the contract schema."""
    from etly_spark.queries.similarity import (
        _QC_WHERE,
        _query_pdf,
        clustered_embedding,
        sim_brute_radius,
        sim_ivfpq_radius,
    )

    cb = _normed(
        load_table(spark, SF, "embeddings").select(
            "vec_id", clustered_embedding().alias("embedding")
        )
    )
    qc_pdf = _query_pdf(cb, _QC_WHERE)
    approx = sim_ivfpq_radius(
        spark, SF, cb, qwhere=_QC_WHERE, corpus_tag="clustered", q_pdf=qc_pdf
    ).collect()
    assert approx
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim_brute_radius(spark, SF, cb, qc_pdf).collect()
    }
    for r in approx:
        k = (r["query_id"], r["neighbor_id"])
        assert k in exact, f"radius returned a non-neighbor {k}"
        assert r["cos_sim"] == exact[k]
    # density: the probe recovers most of the planted clusters
    assert len(approx) >= 0.7 * len(exact)
    empty = sim_ivfpq_radius(
        spark, SF, cb, qwhere=_QC_WHERE, corpus_tag="clustered",
        q_pdf=qc_pdf, tau=0.999999, adc_thr=0.999999,
    )
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "neighbor_id", "rank", "cos_sim",
    ]


def test_opq_permutation_is_orthogonal_and_score_preserving(spark):
    """r14 (OPQ): the staged artifact is a true permutation of the 64
    dims (a bijection — an orthogonal matrix), so exact cosine top-k
    over the permuted corpus equals top-k over the raw corpus; only
    the PQ subspace ALLOCATION changes."""
    from etly_spark.io.staging import stage_table  # noqa: F401
    from etly_spark.queries.similarity import (
        _QC_WHERE,
        _SQ_DIM,
        _opq_perm_path,
        _query_pdf,
        aniso_embedding,
        opq_permute,
        sim_topk_bruteforce,
    )

    ab = _normed(
        load_table(spark, SF, "embeddings").select(
            "vec_id", aniso_embedding().alias("embedding")
        )
    )
    perm_path = _opq_perm_path(spark, SF, ab, "aniso")
    pdf = spark.read.parquet(perm_path).toPandas()
    assert sorted(pdf["slot"]) == list(range(1, _SQ_DIM + 1))
    assert sorted(pdf["dim"]) == list(range(1, _SQ_DIM + 1))
    # energy-sorted GROUPING: slot order must follow the MEASURED
    # per-dim energies exactly (finite-sample variance makes adjacent
    # theoretical divisors swap ranks, so check against the data, not
    # the 1/divisor theory), and align with the divisor spectrum
    # coarsely (the 16 highest-energy slots all come from the 32
    # smallest divisors)
    import numpy as np

    by_slot = pdf.sort_values("slot")["dim"].tolist()
    emb = np.array(
        [list(r["embedding"]) for r in ab.select("embedding").collect()]
    )
    energy = (emb * emb).sum(axis=0)  # index j-1
    want = sorted(
        range(1, _SQ_DIM + 1), key=lambda j: (-float(energy[j - 1]), j)
    )
    assert by_slot == want, "grouping is not measured-energy-sorted"
    divisors = [((d * 37) % 64) + 1 for d in by_slot[:16]]
    assert max(divisors) <= 32, divisors
    # score-preserving: exact top-k identical on raw vs permuted corpus
    qa = _query_pdf(ab, _QC_WHERE)
    raw = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_topk_bruteforce(spark, SF, ab, qa).collect()
    }
    permuted = opq_permute(spark, SF, ab, "aniso")
    qp = _query_pdf(permuted, _QC_WHERE)
    per = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_topk_bruteforce(spark, SF, permuted, qp).collect()
    }
    assert raw == per


def test_radius_distributed_path_equals_point_fetch(spark, monkeypatch):
    """r14: above _RADIUS_COLLECT_CAP survivors the radius rung must
    switch to the distributed rescore join (no density-sized driver
    list) and produce EXACTLY the point-fetch path's rows; the
    fail-loud store-coverage check survives the switch."""
    import etly_spark.queries.similarity as S

    cb = S._normed(
        load_table(spark, SF, "embeddings").select(
            "vec_id", S.clustered_embedding().alias("embedding")
        )
    )
    qc_pdf = S._query_pdf(cb, S._QC_WHERE)

    def run():
        return sorted(
            map(
                tuple,
                S.sim_ivfpq_radius(
                    spark, SF, cb, qwhere=S._QC_WHERE,
                    corpus_tag="clustered", q_pdf=qc_pdf,
                ).collect(),
            )
        )

    point = run()
    monkeypatch.setattr(S, "_RADIUS_COLLECT_CAP", 1)
    distributed = run()
    assert distributed == point and len(point) > 0
    # coverage check on the distributed path: a store missing one
    # candidate vector raises instead of silently shrinking the answer
    victim = point[0][1]
    import pytest as _pytest

    scored, (nsrc, qp) = S._ivfpq_adc_scored(
        spark, SF, cb, S._QC_WHERE, "clustered", qc_pdf, 4
    )
    partial = nsrc.where(F.col("vec_id") != victim)
    with _pytest.raises(ValueError, match="missing"):
        S._exact_threshold(
            spark, scored, S._RADIUS_ADC_THR, S._RADIUS_TAU, partial, qp
        )
