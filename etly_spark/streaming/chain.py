"""Composed continuous-crawl chain (r10).

Each streaming PIECE (warc source, first-occurrence line index,
durable rollups) has its own e2e test; this module chains them into
ONE checkpointed streaming query — the continuous form of the
crawl→corpus batch pipeline:

    warc stream → WET main-text → line dedup vs the ACCUMULATED index
      (+ in-batch first-occurrence) → deduped docs sink
                                    → line-index fold
                                    → per-host rollup state

Exactly-once under replay, by construction: all three sinks are keyed
by the query's epoch_id and a replay replaces its own epoch dir
(``io/commit.replace_dir``, the epoch-fold contract), and the dedup
probe reads the index RESTRICTED to epoch < current — so a replayed
micro-batch never sees its own failed attempt's index contribution
(which would mark every line "already seen" and empty the replayed
docs). Partition pruning makes the epoch filter free.

Scale: per-trigger work is O(batch) — one warc parse task per shard,
one map-side-combinable line aggregate, one keyed rollup fold; the
index grows with distinct-new-lines, compactable offline via
compact_signature_index (drained stream only, same contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etly_spark.io.commit import replace_dir
from etly_spark.io.compact import live_partitions, read_live

ROLLUP_SPEC = {"n_docs": "count", "kept_chars": "sum:n_chars"}


def _doc_id(col: F.Column) -> F.Column:
    """Deterministic numeric doc identity from the record URI, using
    the FULL 43-bit headroom: the line-index ord encoding is
    doc_id*1e6 + line_no, so ids must stay under 2^63/1e6 ≈ 2^43 — 14
    hex digits overflowed ANSI multiplication, and the r10 form's 10
    digits (2^40) left 8x collision odds on the table for no reason.
    11 hex digits (2^44) masked to 43 bits claims the whole budget:
    (2^43-1)*1e6 + 999999 ≈ 8.80e18 < 2^63-1. Distinct URIs colliding
    WOULD interleave their rebuilds (fold_epoch guarantees one row per
    uri, which removes the real-world duplicate-fetch case; residual
    hash-collision odds are ~n²/2^44 per batch — one in ~17M for a
    1k-doc micro-batch)."""
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 11), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit((1 << 43) - 1))
    )


def read_line_index_before(
    spark: SparkSession, index_dir: str, epoch: int
) -> DataFrame:
    """The accumulated line index from epochs STRICTLY BEFORE ``epoch``
    (replay safety: a re-run micro-batch must not probe its own failed
    attempt's contribution). Empty-safe for the first epoch.

    Compacted segments (``epoch=_compacted-NNNNNN``) make the partition
    column a STRING, where ``epoch < N`` would string-compare; they only
    ever hold drained epochs, so every non-numeric partition is kept and
    numeric ones are filtered by try_cast < epoch."""
    if not live_partitions(index_dir, "epoch"):
        return spark.createDataFrame([], "line_h string, first_ord long")
    epl = F.expr("try_cast(epoch AS BIGINT)")
    return (
        read_live(spark, index_dir, "epoch")
        .where(epl.isNull() | (epl < F.lit(epoch)))
        .drop("epoch")
        .groupBy("line_h")
        .agg(F.min("first_ord").alias("first_ord"))
    )


def fold_epoch(
    bdf: DataFrame,
    epoch_id: int,
    *,
    docs_dir: str,
    index_dir: str,
    state_dir: str,
) -> None:
    """The chain's per-micro-batch fold, module-level so the replay
    test can re-invoke exactly what Spark re-invokes on a retry.
    ``bdf`` is the wet-decoded batch (uri, text, ...)."""
    from etly_spark.functions.url import url_host
    from etly_spark.operators import incremental_agg as IA
    from etly_spark.streaming.dedup import dedup_lines_incremental

    partial_cols, merges = IA.rollup_plan(ROLLUP_SPEC)
    sp = bdf.sparkSession
    # One row per URI before dedup: a shard carrying the same URL
    # fetched twice would otherwise share a doc_id and the per-doc
    # rebuild would interleave both texts. The survivor is the
    # smallest-md5 content — DETERMINISTIC, so a replayed epoch picks
    # the same row (dropDuplicates would not).
    docs = (
        bdf.where(F.col("text").isNotNull() & (F.col("text") != ""))
        .groupBy("uri")
        .agg(
            F.min(
                F.struct(
                    F.md5(F.col("text").cast("binary")).alias("_k"),
                    F.col("text").alias("text"),
                )
            ).alias("_t")
        )
        .select("uri", F.col("_t.text").alias("text"))
        .withColumn("doc_id", _doc_id(F.col("uri")))
    )
    # probe BEFORE contributing (see module doc); persist BOTH frames
    # with two consumers: docs (the uri-dedup shuffle feeds the line-
    # index fold AND the dedup probe) and dd (docs sink + rollup fold)
    docs = docs.persist()
    idx = read_line_index_before(sp, index_dir, epoch_id)
    dd = dedup_lines_incremental(docs, idx).persist()
    try:
        replace_dir(
            f"{docs_dir}/epoch={epoch_id}",
            lambda tmp: dd.withColumn("n_chars", F.length("text")).write.parquet(tmp),
        )
        # this epoch's line contribution comes from the ORIGINAL batch
        # lines (first occurrences the corpus now owns), anti-joined
        # against the prior index so the fold writes only lines the
        # corpus has NOT seen — index growth tracks distinct-NEW-lines
        # (the module contract), not per-epoch distinct lines; without
        # the anti-join every later probe's groupBy(line_h) re-folds
        # the duplicated rows forever. Membership-safe: consumers only
        # test first_ord IS NULL, and a replayed epoch recomputes the
        # same anti-join against the same epoch-< index.
        new_lines = (
            docs.select(
                F.posexplode(F.split("text", "\n")).alias("_ln", "_line"),
                F.col("doc_id").alias("_id"),
            )
            .groupBy(F.md5(F.col("_line").cast("binary")).alias("line_h"))
            .agg(F.min(F.col("_id") * 1000000 + F.col("_ln")).alias("first_ord"))
            .join(idx.select("line_h"), "line_h", "left_anti")
        )
        replace_dir(
            f"{index_dir}/epoch={epoch_id}", lambda tmp: new_lines.write.parquet(tmp)
        )
        IA.fold(
            state_dir,
            dd.withColumn("host", url_host(F.col("uri")))
            .withColumn("n_chars", F.length("text"))
            .groupBy("host")
            .agg(*partial_cols),
            epoch_id,
            keys=["host"],
            merges=merges,
        )
    finally:
        dd.unpersist()
        docs.unpersist()


def start_crawl_corpus_stream(
    spark: SparkSession,
    crawl_dir: str,
    *,
    docs_dir: str,
    index_dir: str,
    state_dir: str,
    checkpoint: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """One checkpointed query: warc → wet → line-dedup → three folds."""
    from etly_spark.sources.storage import warc_records
    from etly_spark.streaming.rollup import _bind_checkpoint

    _bind_checkpoint(state_dir, checkpoint)

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    bin_df = reader.load(crawl_dir).filter(F.col("length") > 0)
    wet = warc_records(bin_df, main=True)

    def fold(bdf: DataFrame, epoch_id: int) -> None:
        fold_epoch(
            bdf,
            epoch_id,
            docs_dir=docs_dir,
            index_dir=index_dir,
            state_dir=state_dir,
        )

    writer = wet.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_corpus(spark: SparkSession, docs_dir: str) -> DataFrame:
    """The deduped corpus across all drained epochs."""
    return spark.read.parquet(docs_dir).drop("epoch")
