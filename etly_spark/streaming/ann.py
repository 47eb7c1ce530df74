"""Continuous ANN index maintenance (r11).

The batch form (queries/similarity.sim_ivf_inc) folds arrival shards
into an append-only IVF postings index under a quantizer frozen on the
first shard. This module is the same maintenance loop as ONE
Structured Streaming writer, so a crawl's embedding stream keeps the
search index current without ever rebuilding it:

- the FIRST micro-batch freezes the quantizer: hash-selected
  centroids from that batch alone (queries/similarity.centroid_plan —
  K_CENTROIDS rows at any corpus size), committed with
  ``io/commit.publish_dir`` so a crash never leaves a half-written
  centroid set and a second writer adopts the first one's;
- EVERY micro-batch folds its vectors as its own postings partition
  keyed by the epoch id (fold_ivf_epoch) — O(batch) work, no earlier
  epoch read or rewritten. Replay-safe: a replayed epoch re-assigns
  the same rows against the same committed quantizer and overwrites
  only its own partition (the signature-index contract,
  streaming/dedup.start_signature_index);
- deletion feeds fold the same way: a stream carrying an ``op``
  column ('add' / 'del' — the CDC shape) routes adds to postings and
  deletes to a tombstone partition of the same epoch, both inside the
  one exactly-once foreachBatch (fold_ivf_tombstones);
- compaction (queries/similarity.compact_ivf_postings) runs on a
  drained stream, exactly like compact_signature_index.

The folded index is probed by queries/similarity._probe_ivf_index —
the production query plan, unchanged between batch and streaming
builds (pinned equal in tests/test_sim_inc.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from etly_spark.io.commit import publish_dir
from etly_spark.io.compact import live_partitions, read_live


def start_ivf_index(stream: DataFrame, index_dir: str, checkpoint_dir: str):
    """Start the index-maintenance query over an arriving
    (vec_id, embedding) stream; returns the StreamingQuery (drain with
    ``availableNow`` semantics — the trigger is set here so every
    caller gets the drain-then-stop shape the compaction contract
    assumes). A stream carrying an ``op`` column is treated as CDC:
    op='add' rows fold into postings, op='del' rows into the same
    epoch's tombstone partition (quantizer freezes on the first batch's
    ADDS). Replayed epochs rewrite only their own partitions on both
    sides, so the exactly-once story is unchanged."""
    from pyspark.sql import functions as F

    from etly_spark.functions import vector as V
    from etly_spark.queries.similarity import (
        centroid_plan,
        fold_ivf_epoch,
        fold_ivf_tombstones,
        record_fold_drift,
    )

    qdir = os.path.join(index_dir, "quantizer")

    def fold(bdf: DataFrame, epoch_id: int) -> None:
        # ONE counting job per micro-batch (r12 — the r11 form ran up to
        # three isEmpty() jobs before the real fold), doubling as the
        # CDC feed validation: a malformed op value must fail loudly,
        # not silently drop vectors from both postings and tombstones
        # (ADVICE r11).
        adds, dels = bdf, None
        if "op" in bdf.columns:
            c = bdf.agg(
                F.count(F.when(F.col("op") == "add", 1)).alias("n_add"),
                F.count(F.when(F.col("op") == "del", 1)).alias("n_del"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            bad = c["n"] - c["n_add"] - c["n_del"]
            if bad:
                raise ValueError(
                    f"CDC epoch {epoch_id}: {bad} row(s) with op not in "
                    "('add','del') — refusing to silently drop vectors"
                )
            has_adds, has_dels = c["n_add"] > 0, c["n_del"] > 0
            adds = bdf.where(F.col("op") == "add").drop("op")
            dels = bdf.where(F.col("op") == "del").select("vec_id")
        else:
            has_adds, has_dels = not bdf.isEmpty(), False
        if not (has_adds or has_dels):
            return
        s = adds.select(
            "vec_id", "embedding", V.l2_norm_pd(F.col("embedding")).alias("nrm")
        )
        if not os.path.isdir(qdir) and has_adds:
            publish_dir(qdir, lambda tmp: centroid_plan(s).write.parquet(tmp))
        if has_adds:
            # (a deletes-only stream before any add has no quantizer to
            # assign against — adds are skipped only when there are none)
            # splits_dir: arrivals route through any committed hot-cell
            # splits (r12 — split_hot_cells runs on a drained stream;
            # the fold picks the new generation up on the next batch)
            fold_ivf_epoch(
                s,
                V._staged_pdf(qdir),
                os.path.join(index_dir, "postings"),
                epoch_id,
                splits_dir=os.path.join(index_dir, "quantizer_splits"),
            )
            # live drift accounting (r13): O(batch) leaf-count update
            # of the sidecar; the first time the max leaf share
            # crosses the split trigger the sidecar stamps a one-shot
            # alert — the operator's cue to schedule split_hot_cells
            # on the next drained window
            record_fold_drift(index_dir, epoch_id)
        if has_dels:
            fold_ivf_tombstones(
                dels, os.path.join(index_dir, "tombstones"), epoch_id
            )

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_bm25_index(stream: DataFrame, index_dir: str, checkpoint_dir: str):
    """The BM25 maintenance loop as ONE Structured Streaming writer
    (r13 — the start_ivf_index shape for the TEXT retrieval index): an
    arriving (doc_id, text) stream folds each micro-batch as its own
    postings/doclen/stats epoch partitions (operators/bm25.
    fold_bm25_epoch — O(batch), earlier epochs never read or
    rewritten; replay overwrites only the epoch's own partitions). A
    stream carrying an ``op`` column is CDC: op='add' rows fold into
    the index, op='del' rows into the same epoch's doc tombstone
    partition; malformed op values fail loudly (the r12 ANN-loop
    contract). BM25 has no quantizer to freeze, so there is no
    first-batch commit step — every statistic the probe needs is a
    linear fold.

    CDC contract (r14, ADVICE — ADD-ONCE / DELETE-FINAL): tombstones
    are a global doc_id set, not an epoch-ordered log, so a doc_id may
    be added at most once and, once deleted, never re-added — an 'add'
    of a tombstoned doc_id would fold postings the probe's anti-join
    then hides FOREVER, and a duplicate 'add' of a live doc_id would
    double-count n_docs/df silently. Re-adds of TOMBSTONED ids are
    detected here and fail loudly (the tombstone set is bounded by
    delete density — one broadcast-sized check per batch). Duplicate
    'add's of live ids are the upstream writer's exactly-once duty:
    detecting them would read every epoch's doc_id column per batch —
    O(index) per fold, exactly what the O(batch) loop exists to avoid.
    Upsert semantics = emit 'del' then re-key the new version (a fresh
    doc_id), the standard LSM discipline."""
    from pyspark.sql import functions as F

    from etly_spark.operators.bm25 import fold_bm25_epoch, fold_bm25_tombstones

    def fold(bdf: DataFrame, epoch_id: int) -> None:
        adds, dels = bdf, None
        if "op" in bdf.columns:
            c = bdf.agg(
                F.count(F.when(F.col("op") == "add", 1)).alias("n_add"),
                F.count(F.when(F.col("op") == "del", 1)).alias("n_del"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            bad = c["n"] - c["n_add"] - c["n_del"]
            if bad:
                raise ValueError(
                    f"CDC epoch {epoch_id}: {bad} row(s) with op not in "
                    "('add','del') — refusing to silently drop documents"
                )
            has_adds, has_dels = c["n_add"] > 0, c["n_del"] > 0
            adds = bdf.where(F.col("op") == "add").drop("op")
            dels = bdf.where(F.col("op") == "del").select("doc_id")
        else:
            has_adds, has_dels = not bdf.isEmpty(), False
        if has_adds:
            adds = adds.select("doc_id", "text")
            tomb = os.path.join(index_dir, "tombstones")
            if live_partitions(tomb, "epoch"):
                # ADD-ONCE/DELETE-FINAL enforcement (r14, ADVICE): an
                # 'add' of an already-tombstoned doc_id would fold rows
                # the probe's global anti-join hides forever — corrupt
                # silently. The tombstone set is delete-density-sized,
                # so this is one broadcast join per batch, not O(index).
                spark_ = adds.sparkSession
                doomed = read_live(spark_, tomb, "epoch").select("doc_id")
                readds = [
                    r["doc_id"]
                    for r in adds.join(F.broadcast(doomed), "doc_id")
                    .select("doc_id").distinct().limit(20).collect()
                ]
                if readds:
                    raise ValueError(
                        f"CDC epoch {epoch_id}: add of tombstoned "
                        f"doc_id(s) {readds} — deletes are final; "
                        "re-key the new version with a fresh doc_id"
                    )
            fold_bm25_epoch(adds, index_dir, epoch_id)
        if has_dels:
            fold_bm25_tombstones(dels, index_dir, epoch_id)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
