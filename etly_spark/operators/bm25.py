"""Incremental BM25 index maintenance (r13) — the TEXT-side analog of
the ANN maintenance loop (queries/similarity.fold_ivf_epoch): a
retrieval index over a growing corpus is FOLDED, not rebuilt.

BM25's statistics are all linear in documents, so — unlike the ANN
index, which freezes a quantizer — append-only maintenance is exact by
construction: the folded index equals the batch build over the union,
minus deletions. Layout (one directory per index):

- ``postings/epoch=N/``   (doc_id, term, tf)  — the arrival shard's own
  inverted postings, tokenized ONCE at fold time (O(shard); earlier
  epochs never read or rewritten). Rows are sorted by term within the
  partition so parquet row-group min/max stats prune a term-probe's
  read — the index-lookup plan at 100 TB.
- ``doclen/epoch=N/``     (doc_id, dl)        — per-doc token counts,
  the candidate-scoring join side.
- ``stats/epoch=N/``      (n_docs, sum_dl)    — one-row partials; the
  probe folds them into live n_docs/avgdl with two exact integer sums
  and ONE double division (bit-compatible with the oracle's
  SUM/COUNT form).
- ``tombstones/epoch=N/`` (doc_id)            — the log-structured
  deletes (the fold_ivf_tombstones shape): anti-joined at probe time,
  subtracted from the stats partials; df is computed AT PROBE over the
  live probed-term postings, so a delete immediately stops counting
  toward idf with no index rewrite.

Reference parity: the reference engine has no retrieval index at all —
this extends the staged-BM25 probe (queries/text.bm25_postings, r12)
with the maintenance loop a production corpus needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etly_spark.io.commit import replace_dir
from etly_spark.io.compact import (
    compact_partitions,
    dir_bytes,
    live_partitions,
    read_live,
    supersede_partitions,
)


def _commit(df: DataFrame, dest: str, sort_cols: list[str] | None = None) -> None:
    """Write one epoch partition: a replayed epoch replaces only its own
    directory, never a neighbor's."""
    w = df.sortWithinPartitions(*sort_cols) if sort_cols else df
    replace_dir(dest, lambda tmp: w.write.parquet(tmp))


def fold_bm25_epoch(docs: DataFrame, index_dir: str, epoch: int) -> None:
    """Fold one arrival shard of (doc_id, text) into the index as that
    epoch's own postings/doclen/stats partitions — O(shard) tokenize,
    no earlier epoch read or rewritten. Replay-safe by epoch key."""
    from etly_spark.functions import text as T
    from etly_spark.queries.catalog import scoped_persist

    tf = scoped_persist(
        docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        eager=False,
    )
    # term-sorted postings: a probe's term-IN filter prunes row groups
    _commit(
        tf.repartition(1), os.path.join(index_dir, "postings", f"epoch={epoch}"),
        sort_cols=["term"],
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    _commit(dl, os.path.join(index_dir, "doclen", f"epoch={epoch}"))
    _commit(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        ),
        os.path.join(index_dir, "stats", f"epoch={epoch}"),
    )


def fold_bm25_tombstones(doomed: DataFrame, index_dir: str, epoch: int) -> None:
    """Append a deletion batch (doc_id rows) as that epoch's tombstone
    partition — the log-structured remove_ids. The probe anti-joins
    them out and subtracts their doclen from the live stats; nothing in
    the index is rewritten."""
    _commit(
        doomed.select("doc_id").distinct(),
        os.path.join(index_dir, "tombstones", f"epoch={epoch}"),
    )


def probe_bm25_index(
    spark,
    index_dir: str,
    qterms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-docs per query term over the FOLDED index: one
    pushed term-IN read of the postings epochs (term-sorted row groups
    prune), tombstones anti-joined, df computed over the LIVE probed
    postings (deletes stop counting toward idf immediately), dl joined
    from the doclen epochs, n_docs/avgdl folded from the stats partials
    minus the tombstoned docs' own (count, dl). Scores match the batch
    build-minus-deletes bit-for-bit at 6 dp — BM25's statistics are
    linear, so the fold IS the batch result (the gated 'bm25_inc'
    variant of text_top_terms proves it cross-engine)."""
    posts = read_live(spark, os.path.join(index_dir, "postings"), "epoch")
    dl = read_live(spark, os.path.join(index_dir, "doclen"), "epoch")
    stats = read_live(spark, os.path.join(index_dir, "stats"), "epoch")
    tomb_dir = os.path.join(index_dir, "tombstones")
    tot = stats.agg(
        F.sum("n_docs").alias("_n"), F.sum("sum_dl").alias("_s")
    )
    if live_partitions(tomb_dir, "epoch"):
        doomed = read_live(spark, tomb_dir, "epoch").select("doc_id").distinct()
        dead = dl.join(F.broadcast(doomed), "doc_id").agg(
            F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("_dn"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("_ds"),
        )
        # BEFORE dividing (r14, ADVICE): a fully-tombstoned index makes
        # the avgdl denominator zero — collect the one-row partials
        # first and fail loudly instead of nulling every score. The
        # stats partials and dead-doc totals are bounded (one row each).
        _t, _d = tot.crossJoin(F.broadcast(dead)).first(), None
        live_n = int(_t["_n"] or 0) - int(_t["_dn"] or 0)
        if live_n <= 0:
            raise ValueError(
                f"probe_bm25_index({index_dir}): no live documents — "
                "every indexed doc is tombstoned (or the stats table "
                "is empty); run purge_bm25_tombstones or fold live "
                "documents first"
            )
        live_stats = tot.crossJoin(F.broadcast(dead)).select(
            (F.col("_n") - F.col("_dn")).alias("n_docs"),
            (
                (F.col("_s") - F.col("_ds"))
                / (F.col("_n") - F.col("_dn")).cast("double")
            ).alias("avgdl"),
        )
        cand = posts.where(F.col("term").isin(qterms)).join(
            F.broadcast(doomed), "doc_id", "left_anti"
        )
    else:
        _t = tot.first()
        if _t is None or _t["_n"] is None or int(_t["_n"]) <= 0:
            raise ValueError(
                f"probe_bm25_index({index_dir}): no live documents — "
                "the stats table is empty; fold documents first"
            )
        live_stats = tot.select(
            F.col("_n").alias("n_docs"),
            (F.col("_s") / F.col("_n").cast("double")).alias("avgdl"),
        )
        cand = posts.where(F.col("term").isin(qterms))
    df_live = cand.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        cand.join(F.broadcast(df_live), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(live_stats))
        .select(
            "term",
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1
                )
                * F.col("tf")
                * F.lit(k1 + 1)
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("score"),
        )
    )


def compact_bm25_index(index_dir: str, threshold: int = 16) -> None:
    """Fold the index's loose epoch partitions into never-rewritten
    segments once they exceed ``threshold`` (the compact_ivf_postings
    rung, payload-agnostic): postings re-sort by term at the merge so
    the compacted segment keeps the row-group pruning the per-epoch
    sort bought; doclen/stats fold as plain concats (their consumers
    aggregate, order-free). Offline contract: no active writer."""
    compact_partitions(
        os.path.join(index_dir, "postings"), "epoch", threshold,
        sort_by=["term"],
    )
    compact_partitions(os.path.join(index_dir, "doclen"), "epoch", threshold)
    compact_partitions(os.path.join(index_dir, "stats"), "epoch", threshold)


def purge_bm25_tombstones(spark, index_dir: str) -> dict:
    """Offline tombstone PURGE (the purge_ivf_tombstones rung for the
    text index): rewrite live postings and doclen (each anti-joined
    against the tombstone set — the probe's own filter) as one new
    segment apiece, recompute the stats partials from the purged
    doclen, then drop the tombstone side-table. After it the probe
    scans no dead rows and broadcasts no tombstones.

    Contract: offline (no active writer, no concurrent probe). The
    three-table swap cannot be atomic, so the crash rule is
    RE-RUN-TO-HEAL: each step is individually idempotent (re-purging
    already-purged postings anti-joins nothing; stats always recompute
    from the current doclen). A probe between the swaps over-counts
    avgdl by at most the dead fraction, transiently.

    Returns {"live_docs", "purged_docs", "bytes_before", "bytes_after"}.
    """
    import shutil

    post = os.path.join(index_dir, "postings")
    dlen = os.path.join(index_dir, "doclen")
    stat = os.path.join(index_dir, "stats")
    tomb = os.path.join(index_dir, "tombstones")
    bytes_before = dir_bytes(post, dlen, stat, tomb)
    doomed = (
        read_live(spark, tomb, "epoch").select("doc_id").distinct()
        if live_partitions(tomb, "epoch")
        else None
    )
    n_docs_before = read_live(spark, dlen, "epoch").count()

    def _swap(root: str, live_df, sort_cols=None) -> None:
        # consolidate to ~the superseded partition count: the purge IS
        # a compaction — spraying default-parallelism part files would
        # swap dead rows for per-file overhead
        def write(tmp: str, n: int) -> None:
            # the partition dir names the segment: a partition-discovered
            # epoch column must not land in its files
            w = live_df.drop("epoch").coalesce(max(1, n))
            if sort_cols:
                w = w.sortWithinPartitions(*sort_cols)
            w.write.parquet(tmp)

        supersede_partitions(root, "epoch", write)

    posts = read_live(spark, post, "epoch")
    dls = read_live(spark, dlen, "epoch")
    if doomed is not None:
        posts = posts.join(F.broadcast(doomed), "doc_id", "left_anti")
        dls = dls.join(F.broadcast(doomed), "doc_id", "left_anti")
    _swap(post, posts, sort_cols=["term"])
    _swap(dlen, dls)
    live_dl = read_live(spark, dlen, "epoch")
    _swap(
        stat,
        live_dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        ),
    )
    if os.path.isdir(tomb):
        shutil.rmtree(tomb, ignore_errors=True)
    n_docs_after = read_live(spark, dlen, "epoch").count()
    return {
        "live_docs": n_docs_after,
        "purged_docs": n_docs_before - n_docs_after,
        "bytes_before": bytes_before,
        "bytes_after": dir_bytes(post, dlen, stat),
    }
