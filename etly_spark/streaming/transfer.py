"""Streaming transfer mode: the etly incremental loop as Structured
Streaming (SURVEY §7 step 9).

The reference's whole scheduler/meta machinery — frequency polling
(service.go:48-98), processed-file skip (transfer_service.go:503-505),
per-file ledger (meta.go:6-26) — is, in Spark terms, exactly the
streaming file source + checkpoint: new files discovered per trigger,
each file processed exactly once across restarts, progress in the commit
log. This service swaps the batch source for `readStream`; both modes
share the decode kernels (sources/storage), the enricher, and inside
`foreachBatch` the batch engine's chain step and ledger step: each
micro-batch is a one-window batch through keep → count → transform →
sink (routed write or ``annIndexFold``) → E1 (MaxErrorCounts), then per
file one ObjectMeta into the JSON ledger and the parquet sidecar. So
F1-F4, R1-R6, E1 and M1 mean the same in both modes; exactly-once is
carried by the checkpoint, and the ledger stays the etly-compatible
status surface and the batch skip-set's source of truth.

Scale: the file source lists incrementally (maxFilesPerTrigger bounds
per-trigger work); state lives in the checkpoint, not the driver heap;
the per-batch driver work is O(files in batch), never O(records).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etly_spark.config import Transfer
from etly_spark.meta import Meta
from etly_spark.pipeline import (
    KEEP,
    TransferResult,
    TransferService,
    _file_stats,
    _local,
    _UrlWindow,
)
from etly_spark.sources.storage import (
    FILE,
    RAW,
    _decode_ndjson,
    _forced_codec_ext,
    cdx_records,
    get_schema,
    line_records,
    warc_records,
)
from etly_spark.templates import expand_source_url_template


class StreamingTransferService:
    """Run a Transfer rule as a continuous (or run-once) stream."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._batch = TransferService(spark)

    def start(
        self,
        t: Transfer,
        *,
        now: datetime | None = None,
        checkpoint: str | None = None,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
    ) -> StreamingQuery:
        """Start the stream. ``available_now=True`` ≈ one `transferOnce`
        sweep (drains the backlog then stops); otherwise the trigger
        interval is ``t.frequency`` — the scheduler loop, in-engine.

        ``now`` is UTC, matching the batch engine (pipeline.py run()) so
        <dateFormat:> expansion resolves identically in both modes."""
        now = now or datetime.now(timezone.utc)
        src_url = expand_source_url_template(t.source.name, now, t.base_dir)
        target_template = expand_source_url_template(t.target.name, now, t.base_dir)
        meta_url = self._batch._meta_url_for(t, now)
        checkpoint = checkpoint or os.path.join(_local(src_url), ".etly_checkpoint")

        fmt = (t.source.data_format or "ndjson").lower()
        cap = max_files_per_trigger or t.max_transfers
        schema = get_schema(t.source.data_type) if t.source.data_type else None
        if fmt in ("warc", "wet", "cdx") or t.source.compression:
            # web archives and Source.Compression objects stream through
            # the binaryFile file source — the same checkpointed
            # exactly-once file discovery as text — and the shared
            # kernels: each new .warc[.gz] object is one task through
            # storage.warc_records, and a forced codec (which the text
            # source would pick by EXTENSION only) decodes through the
            # batch forced-codec route's line kernel
            reader = self.spark.readStream.format("binaryFile").schema(
                # the binaryFile source's fixed schema — streaming file
                # sources require it stated up front
                "path string, modificationTime timestamp, "
                "length long, content binary"
            )
            if cap:
                reader = reader.option("maxFilesPerTrigger", cap)
            # zero-byte objects (in-flight upload markers) are skipped
            # at list time on the batch path (transfer_service.go:
            # 516-519); here they would raise inside the parse and
            # poison every checkpoint retry — filter on the source's
            # length column, same contract
            bin_df = reader.load(_local(src_url)).filter(F.col("length") > 0)
            if t.source.filter_reg_exp:
                # S2 filter BEFORE the parse — a sidecar the regex
                # excludes (manifest.json, README) must never reach a
                # decoder, where its error would poison the micro-batch
                # on every checkpoint retry. Matches against the
                # source's Hadoop URI (path column); the batch path
                # filters the same pattern at list time.
                bin_df = bin_df.filter(F.col("path").rlike(t.source.filter_reg_exp))
            if fmt == "cdx":
                decoded = cdx_records(bin_df)
            elif fmt in ("warc", "wet"):
                decoded = warc_records(bin_df, main=(fmt == "wet"))
            else:
                raw = line_records(bin_df, forced_ext=_forced_codec_ext(t.source))
                decoded = _decode_ndjson(raw, t.source, schema)
        else:
            reader = self.spark.readStream.format("text")
            if cap:
                reader = reader.option("maxFilesPerTrigger", cap)
            raw = (
                reader.load(_local(src_url))
                .withColumnRenamed("value", RAW)
                .withColumn(FILE, F.input_file_name())
            )
            if t.source.filter_reg_exp:
                # S2 regex filter — same regex semantics as the batch
                # path (transfer_service.go:488-495), on the file URL.
                raw = raw.filter(F.col(FILE).rlike(t.source.filter_reg_exp))
            decoded = _decode_ndjson(raw, t.source, schema)
        decoded = self._batch._enrich(decoded, t, src_url)

        def process_batch(bdf: DataFrame, epoch_id: int) -> None:
            self._process_batch(bdf, epoch_id, t, target_template, meta_url, now)

        writer = decoded.writeStream.foreachBatch(process_batch).option(
            "checkpointLocation", _local(checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif t.frequency:
            secs = int(t.frequency.to_timedelta().total_seconds())
            writer = writer.trigger(processingTime=f"{secs} seconds")
        return writer.start()

    # ----------------------------------------------------------------- #

    def _process_batch(
        self,
        bdf: DataFrame,
        epoch_id: int,
        t: Transfer,
        target_template: str,
        meta_url: str,
        ts: datetime,
    ) -> None:
        """One micro-batch = one etly worker sweep, a one-window batch
        through the batch engine's chain and ledger steps; $batchCount
        is the micro-batch id. The micro-batch is persisted: the
        per-file ledger stats and the sink both read it. The stats run
        first, as the batch's one driver collect: their rows name the
        batch's files (routing keys, ledger entries) and carry the
        ledger counts."""
        bdf = bdf.persist()
        try:
            svc = self._batch
            stats = _file_stats(bdf.withColumn(KEEP, svc._keep_column(bdf, t)))
            if not stats:
                return
            w = _UrlWindow(ts=ts, target_template=target_template, eligible=sorted(stats))
            keys = svc._file_keys(t, [w])
            key_col = svc._routed_key_column(t, keys, batch_count=epoch_id)
            svc._run_chain(t, bdf, [w], key_col)
            meta = Meta.load(meta_url)
            svc._record_ledger(meta, meta_url, [w], stats, keys, TransferResult(name=t.name))
            meta.save()
        finally:
            bdf.unpersist()
