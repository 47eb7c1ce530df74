"""Config-addressable ANN index maintenance (r14 — verdict item 2).

The engine's declared query surface is the etly-style Transfer JSON
(reference `config.go:15-35`), and the reference's own "special sink"
precedent is the BigQuery load path dispatched off the Target
(`transfer_service.go:566-663`). The r11-r13 index machinery
(fold/encode/compact/purge/drift for ivf/ivfpq) was reachable only
from Python and Structured Streaming APIs; this module puts it behind
a Target, so a Transfer rule can OWN an index the way the reference's
config owns a BQ load:

    "Target": {
      "Name": "file:///indexes/embeddings",
      "TransferMethod": "annIndexFold",
      "IndexOptions": {"AnticipatedShards": 4, "EncodeEvery": 4,
                        "CompactThreshold": 16}
    }

Semantics per batch (one scheduled run of a ledger group — the
look-back windows sharing a meta URL — over newly-arrived shard files;
the meta ledger's exactly-once file tracking decides what is new,
unchanged):

- records need ``vec_id`` (long) + ``embedding`` (array<double>); the
  builtin ``etly.EmbeddingRecord`` schema decodes exactly that from
  ndjson. An optional ``op`` column is CDC ('add'/'del' — malformed
  values fail loudly, the streaming-loop contract);
- the FIRST batch freezes the coarse quantizer from its own adds,
  nlist sized for the ANTICIPATED index (first-shard count x
  ``AnticipatedShards`` — the ivfpq_inc_index rule: a quantizer sized
  for the sample alone measurably caps recall at scale), committed
  with one atomic rename;
- every batch folds its adds as ONE raw epoch partition keyed by the
  md5 of the batch's sorted source-file set — O(batch), earlier
  epochs never read or rewritten, and a crashed-then-retried batch
  OVERWRITES its own partition (the rollup per-file-epoch idempotence
  rule) or, once a segment holds that partition's rows, folds no adds;
- deletes fold as the batch's tombstone partition (delete-final);
- maintenance runs inline, config-owned: ``EncodeEvery`` quantizes the
  raw write buffer into a codes segment once that many loose raw
  epochs accumulate (encode_ivfpq_postings — books topped up from the
  rows being encoded); ``CompactThreshold`` tiers loose codes/raw
  partitions (compact_ivf_postings); the drift sidecar updates every
  fold (record_fold_drift — the split trigger's live metric).

The folded index is probed by queries/similarity._probe_ivfpq_index —
the SAME production read path as the Python/streaming builds, pinned
hash-identical to the batch DuckDB oracle in
tests/test_ann_index_sink.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etly_spark.io.commit import publish_dir
from etly_spark.io.compact import folded_partitions, live_partitions


def fold_window_into_index(
    spark: SparkSession,
    records: DataFrame,
    index_dir: str,
    epoch_key: str,
    opts: dict | None = None,
) -> list[str]:
    """Fold one Transfer batch's records into the IVFPQ maintenance
    index at ``index_dir``; returns the paths this batch wrote (the
    Transfer result's outputs surface). See the module docstring for
    the full contract."""
    from etly_spark.queries.similarity import (
        _ivfpq_cells,
        _normed,
        centroid_plan,
        fold_ivf_tombstones,
        fold_ivfpq_epoch,
        record_fold_drift,
    )
    from etly_spark.functions import vector as V

    opts = opts or {}
    adds, dels = records, None
    if "op" in records.columns:
        # NULL op = a plain record (the etly.EmbeddingRecord schema
        # always carries the column; absent-field JSON decodes null) —
        # only explicit non-add/del values are malformed
        is_add = F.col("op").isNull() | (F.col("op") == "add")
        c = records.agg(
            F.count(F.when(is_add, 1)).alias("n_add"),
            F.count(F.when(F.col("op") == "del", 1)).alias("n_del"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        bad = c["n"] - c["n_add"] - c["n_del"]
        if bad:
            raise ValueError(
                f"annIndexFold window {epoch_key}: {bad} row(s) with op "
                "not in ('add','del') — refusing to silently drop vectors"
            )
        adds = records.where(is_add)
        dels = (
            records.where(F.col("op") == "del").select("vec_id")
            if c["n_del"]
            else None
        )
        if not c["n_add"]:
            adds = None
    outputs: list[str] = []
    post = os.path.join(index_dir, "postings")
    qdir = os.path.join(index_dir, "quantizer")
    if adds is not None:
        shard = _normed(adds.select("vec_id", "embedding")).persist()
        try:
            n = shard.count()
            if n and f"epoch={epoch_key}" not in folded_partitions(post, "epoch"):
                if not os.path.isdir(qdir):
                    # freeze on the first window, sized for the
                    # anticipated index (the ivfpq_inc_index rule)
                    anticipated = int(opts.get("AnticipatedShards", 4) or 4)
                    nlist = _ivfpq_cells(n * max(1, anticipated))
                    publish_dir(
                        qdir,
                        lambda tmp: centroid_plan(shard, k=nlist).write.parquet(tmp),
                    )
                cent_pdf = V._staged_pdf(qdir)
                fold_ivfpq_epoch(
                    shard,
                    cent_pdf,
                    post,
                    epoch_key,
                    splits_dir=os.path.join(index_dir, "quantizer_splits"),
                )
                record_fold_drift(index_dir, epoch_key)
                outputs.append(os.path.join(post, f"epoch={epoch_key}"))
        finally:
            shard.unpersist()
    if dels is not None:
        tdir = os.path.join(index_dir, "tombstones")
        fold_ivf_tombstones(dels, tdir, epoch_key)
        outputs.append(os.path.join(tdir, f"epoch={epoch_key}"))

    _maintain(spark, index_dir, opts)
    return outputs


def _maintain(spark: SparkSession, index_dir: str, opts: dict) -> None:
    """The config-owned maintenance rungs, run inline after the fold
    (the window is the quiet point — no concurrent writer, which is
    exactly the offline contract the rungs require)."""
    from etly_spark.queries.similarity import (
        compact_ivf_postings,
        encode_ivfpq_postings,
    )

    post = os.path.join(index_dir, "postings")
    if not os.path.isdir(post):
        return
    encode_every = int(opts.get("EncodeEvery", 0) or 0)
    if encode_every:
        raw = [d for d in live_partitions(post, "epoch") if not d.startswith("epoch=_")]
        if len(raw) >= encode_every:
            encode_ivfpq_postings(spark, index_dir)
    compact_at = int(opts.get("CompactThreshold", 0) or 0)
    if compact_at:
        compact_ivf_postings(index_dir, threshold=compact_at)
