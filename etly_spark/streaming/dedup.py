"""Continuous-ingest sketch-index maintenance.

The 100 TB dedup story is incremental: a crawler streams document
batches forever, and each batch must be near-dup-checked against
EVERYTHING ingested so far without recomputing the corpus sketch. The
two pieces:

- ``start_signature_index`` — a Structured Streaming query that folds
  each micro-batch into a parquet minhash-signature index. Each epoch
  writes its own ``epoch=N`` directory (``io/commit.replace_dir``), so a
  replayed micro-batch (crash between write and checkpoint commit)
  overwrites its own output instead of duplicating it — the standard
  idempotent-foreachBatch pattern; exactly-once lands on the
  checkpoint, not on writer luck.
- ``read_signature_index`` — the accumulated (doc_id, sig) table, a
  drop-in for the batch ``minhash_sigs`` stage: signatures are built by
  the SAME bulk builder (operators/sketch.py), so a streamed index is
  bit-identical to a batch-built one and every LSH consumer
  (queries.dedup.lsh_incremental_pairs — the band-probe shape) can
  run against it.

Scale: per-trigger work is O(batch) — shingle explode + one hash
aggregate per micro-batch; the index grows one small parquet dir per
epoch (compactable exactly like the meta sidecar); nothing driver-side
grows with history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from etly_spark.io.commit import replace_dir
from etly_spark.io.compact import compact_partitions, read_live
from etly_spark.operators.sketch import minhash_signatures


def start_feature_index(
    stream: DataFrame,
    transform,
    index_dir: str,
    checkpoint: str,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain ANY per-record feature index from a stream: each
    micro-batch runs ``transform`` (DataFrame -> DataFrame) and lands
    in its own ``epoch=N`` dir, replaced on replay — the idempotent
    fold shared by every modality's index (text sketches, image
    perceptual hashes, ...). ``available_now=True`` drains the backlog
    then stops; otherwise the query runs continuously."""

    def fold_batch(bdf: DataFrame, epoch_id: int) -> None:
        replace_dir(
            f"{index_dir}/epoch={epoch_id}", lambda tmp: transform(bdf).write.parquet(tmp)
        )

    writer = stream.writeStream.foreachBatch(fold_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_signature_index(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Minhash signature index from a streaming document source."""
    return start_feature_index(
        doc_stream,
        lambda bdf: minhash_signatures(bdf, id_col=id_col, text_col=text_col),
        index_dir,
        checkpoint,
        available_now=available_now,
    )


def read_signature_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The accumulated sketch table (id, sig) across all ingested
    epochs — live partitions, epoch column dropped (consumers see
    exactly the batch ``minhash_sigs`` shape)."""
    return read_live(spark, index_dir, "epoch").drop("epoch")


def start_pixel_index(
    media_stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Perceptual-hash image index from a streaming media source
    (doc_id, payload): micro-batches are REAL-decoded and folded via
    the shared idempotent epoch contract; the accumulated index feeds
    `image_near_dup_incremental` — continuous-ingest image dedup."""
    from etly_spark.operators.multimodal import decode_pixel_features

    return start_feature_index(
        media_stream,
        decode_pixel_features,
        index_dir,
        checkpoint,
        available_now=available_now,
    )


def read_pixel_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The accumulated image feature table across all epochs (epoch
    column dropped — consumers see the decode_pixel_features shape)."""
    return read_live(spark, index_dir, "epoch").drop("epoch")


def start_line_index(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """First-occurrence LINE-hash index (r9) — the streaming half of
    the C4 line-dedup recipe: each micro-batch folds its newline-split
    lines to (line_h = md5(line), first_ord = min(doc_id*1e6+line_no))
    through one map-side-combinable aggregate; the accumulated index is
    what an arriving shard probes to drop lines the corpus already
    contains (queries.dedup's line_incremental semantics, continuous
    form). Per-trigger work is O(batch); duplicate lines WITHIN a
    micro-batch collapse before writing, so index growth tracks
    distinct-new-lines, not raw volume."""
    from pyspark.sql import functions as F

    def transform(bdf: DataFrame) -> DataFrame:
        lines = bdf.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("_ln", "_line"),
        )
        return lines.groupBy(
            F.md5(F.col("_line").cast("binary")).alias("line_h")
        ).agg(F.min(F.col("_id") * 1000000 + F.col("_ln")).alias("first_ord"))

    return start_feature_index(
        doc_stream, transform, index_dir, checkpoint, available_now=available_now
    )


def read_line_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The accumulated (line_h, first_ord) table — min across epochs,
    so a line seen in several micro-batches keeps its earliest
    occurrence (one combinable aggregate over the live epochs;
    compactable exactly like the signature index)."""
    from pyspark.sql import functions as F

    return (
        read_live(spark, index_dir, "epoch")
        .drop("epoch")
        .groupBy("line_h")
        .agg(F.min("first_ord").alias("first_ord"))
    )


def dedup_lines_incremental(batch: DataFrame, index: DataFrame,
                            *, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Dedupe an ARRIVING batch against the accumulated line index
    plus itself: a line survives only when the index has no earlier
    occurrence and no earlier line in the batch matches (ties inside
    one document keep the earliest position). Returns the batch with
    ``text_col`` rebuilt order-preserving — the continuous-ingest form
    of queries.dedup's 'line_incremental' rule. Plan: explode -> left
    join the index on the high-NDV line hash -> one min-groupBy for
    the in-batch rule -> reassembly; no window on the hot-line tail."""
    from pyspark.sql import functions as F

    others = [c for c in batch.columns if c != text_col]
    lines = batch.select(
        *others,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_ln", "_line"),
    ).withColumn("_h", F.md5(F.col("_line").cast("binary"))).withColumn(
        "_ord", F.col(id_col) * 1000000 + F.col("_ln")
    )
    firsts = lines.groupBy("_h").agg(F.min("_ord").alias("_bfirst"))
    marked = (
        lines.join(firsts, "_h")
        .join(index.withColumnRenamed("line_h", "_h"), "_h", "left")
        .withColumn(
            "_keep",
            (F.col("first_ord").isNull() & (F.col("_ord") == F.col("_bfirst")))
            # blank separators are structure, not repeated content —
            # never removed (matches etly.DedupLines)
            | (F.trim("_line") == ""),
        )
    )
    # Aggregate over ALL lines (collect_list skips the null structs of
    # removed lines) so a doc whose every line was removed rebuilds to
    # '' — while a doc that produced NO lines (null text) gets no row
    # here, and the final coalesce preserves its null text verbatim.
    rebuilt = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("_keep"), F.struct("_ln", "_line")))
                ),
                lambda x: x["_line"],
            ),
            "\n",
        ).alias("_rebuilt")
    )
    return (
        batch.join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce("_rebuilt", F.col(text_col)))
        .drop("_rebuilt")
    )


def compact_signature_index(index_dir: str, threshold: int = 64) -> None:
    """Fold loose per-epoch partitions into a never-rewritten compacted
    segment once their count exceeds ``threshold`` (io/compact.py — the
    same tiering as the meta ledger sidecar): a long-running ingest is
    one small directory per micro-batch forever otherwise.

    Contract: run while the index has NO active writer (e.g. after an
    availableNow drain). Compacting an epoch whose checkpoint commit is
    still pending would let a replayed micro-batch re-create its epoch
    dir next to the segment holding the same rows — duplicate
    signatures inflate band-bucket sizes at probe time."""
    compact_partitions(index_dir, "epoch", threshold)
