"""The transfer engine: a Transfer spec compiles to ONE DataFrame DAG.

Reference lifecycle collapse (SURVEY §3): etly's master/worker fan-out
(per-window goroutines → per-file goroutines → HTTP cluster scatter,
transfer_service.go:451-477,698-760; transfer_object_service_client.go)
is replaced by a single declarative plan per ledger group per run — the
look-back windows that share one meta URL:

    read (S1,S2,S4,S5) → enrich (F2) → filter (F1) → transform (F3)
      → route (R1-R6) → ndjson/gzip sink (K1,B1) → meta ledger (M1,M2)

A group loads its ledger once, lists every window, answers the skip set
with one sidecar probe over the union of the listings, and runs one plan
over all windows' eligible files; each file keeps its own window's
target key, and the sidecar keeps one run_ts partition per window.
Everything after decode and enrich is one chain step (`_run_chain`:
keep → count → transform → sink → E1) and one ledger step
(`_record_ledger`), shared by ledger groups, datastore windows, the
worker RPC and streaming micro-batches. Spark's scheduler provides
P1-P4; Catalyst fuses F1-F4 into whole-stage codegen. Per-file record
counts for the meta ledger come from one extra aggregation job over the
decoded batch, which reads the source again unless Rollup or Datasheet
made the group persist it (the reference counts them record-at-a-time
in Go, transfer.go:70-77). That job runs BESIDE the sink, on one helper
driver thread, so a landing tick waits for the slower of the two, not
their sum (transfer_incremental on a 4 vCPU host, 3 seeds: landing
latency p50 1.0-1.2 s with the job after the sink, 0.83-0.88 s beside
it). It stays a separate job because observe() has no exact keyed
aggregate: one CollectMetrics carrying per-file counters over a file
index cost 3.8-4.0 s vs 2.6-3.0 s on a 128-file batch and 31-34 s vs
7.5-8.9 s on a 512-file batch (25 records per file, same host), its
per-row cost growing with the file count.

Scale notes:
- the parse→write path is one distributed job regardless of file count;
- routing uses `partitionBy` on a computed key column; finalization is
  two-tier — single-part rolls become metadata renames on the driver
  (the same class of work as Spark's own commit protocol) and
  multi-part rolls are concatenated by executor tasks, so no output
  byte ever streams through the driver (reference parity: workers own
  the upload, target_transformation.go:29-53);
- `<file>`-style 1:1 naming constrains output parallelism by definition;
  templates without it produce task-parallel multi-part output.
"""

from __future__ import annotations

import hashlib
import os
import re
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etly_spark import registry
from etly_spark import builtins as _builtins  # noqa: F401  (registers etly.* names)
from etly_spark.config import Transfer
from etly_spark.io import fs as fsio
from etly_spark.io.commit import write_file
from etly_spark.meta import Meta, ObjectMeta, ProcessedIndex, ProcessingStatus, sidecar_dir
from etly_spark.sources.datastore import read_datastore
from etly_spark.sources.storage import (
    CORRUPT,
    DTYPE,
    FILE,
    RAW,
    filter_storage_objects,
    is_hidden,
    list_source_objects,
    probe_unreadable,
    read_records,
)
from etly_spark.templates import (
    expand_date,
    expand_env,
    expand_pwd,
    expand_source_url_template,
    expand_target_key,
)

TKEY = "__tkey__"
KEEP = "__keep__"
VAR_PREFIX = "__var_"

# task.go:9-14
RUNNING, TRANSFERRING, NOOP, DONE, ERROR = "RUNNING", "TRANSFERRING", "NOOP", "DONE", "ERROR"

# P3: bound on concurrent window-group submissions per transfer run. The
# reference spawns one goroutine per window group unboundedly
# (transfer_service.go:451-477); a bounded pool keeps driver thread count
# and simultaneous Spark job graphs predictable at 24h+ look-backs.
MAX_WINDOW_THREADS = 8


class MaxErrorsExceeded(RuntimeError):
    """E1 abort (transfer.go:17-25) — a policy decision, not a file
    fault, so the fault-isolation probe must not swallow or retry it."""


@dataclass
class TransferProgress:
    """transfer_progress.go:8-17."""

    record_read: int = 0
    record_processed: int = 0
    record_skipped: int = 0
    record_errors: int = 0
    file_processed: int = 0
    elapsed_sec: float = 0.0


@dataclass
class TransferResult:
    name: str
    status: str = RUNNING
    error: str = ""
    progress: TransferProgress = field(default_factory=TransferProgress)
    outputs: list[str] = field(default_factory=list)


@dataclass
class _UrlWindow:
    """One look-back window of a URL source within its ledger group —
    also the one-window batch of a datastore window, the worker RPC's
    object and a streaming micro-batch."""

    ts: datetime
    target_template: str
    src_url: str = ""
    objects: list[tuple[str, int]] = field(default_factory=list)  # the listing: (url, size)
    eligible: list[str] = field(default_factory=list)
    pending: int = 0
    n_rec: int = 0  # records this run landed from the window


def _local(url: str) -> str:
    return url[len("file://") :] if url.startswith("file://") else url


def _norm_file_url(path_or_url: str) -> str:
    """input_file_name() returns file:///abs/path — normalize ours to match."""
    p = _local(path_or_url)
    return "file://" + os.path.abspath(p)


class TransferService:
    """transfer_service.go:68-111 re-expressed on Spark."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # ------------------------------------------------------------- run --

    def run(self, transfer: Transfer, now: datetime | None = None) -> TransferResult:
        now = now or datetime.now(timezone.utc)
        result = TransferResult(name=transfer.name or transfer.source.name)
        t0 = time.time()
        try:
            transfer.validate()
            self._run_windows(transfer, self._time_window(transfer, now), result)
            result.status = DONE if result.progress.file_processed or result.progress.record_processed else NOOP
        except Exception as e:  # status wrap: transfer_service.go:49-66
            result.status = ERROR
            result.error = str(e)
        result.progress.elapsed_sec = time.time() - t0
        return result

    def run_object(self, transfer: Transfer, source_url: str, now: datetime | None = None) -> dict:
        """Worker RPC semantics (POST /etly/transfer; reference
        transfer_object_service.go:15-33 + server.go:91-96): transfer ONE
        storage object through the full operator chain as a one-window
        batch and report counts — no meta ledger write (the caller owns
        the ledger, as the reference's master does). Also the on-demand
        reprocess hook.
        """
        now = now or datetime.now(timezone.utc)
        transfer.validate()
        w = _UrlWindow(
            ts=now,
            target_template=expand_source_url_template(
                transfer.target.name, now, transfer.base_dir
            ),
            eligible=[source_url],
        )
        df = read_records(self.spark, transfer.source, [_local(source_url)])
        df = self._enrich(df, transfer, source_url)
        key_col = self._routed_key_column(transfer, self._file_keys(transfer, [w]))
        _, outputs, counts, _ = self._run_chain(transfer, df, [w], key_col)
        return {
            "RecordProcessed": counts["kept"],
            "RecordSkipped": counts["total"] - counts["corrupt"] - counts["kept"],
            "RecordErrors": counts["corrupt"],
            "Outputs": outputs,
            "Error": "",
        }

    # -------------------------------------------- window orchestration --

    def _run_windows(self, t: Transfer, windows: list, result: TransferResult) -> None:
        """P3 (transfer_service.go:451-477): windows grouped by their
        meta URL; groups submit CONCURRENTLY from a bounded driver
        thread pool. A URL-source group runs as ONE pass per run
        (`_run_url_group`): one ledger load, one skip-set probe, one
        Spark plan over every window's eligible files, one ledger save
        — a group owns its ledger file, so ledger writes never race.
        Datastore windows run one SQL query each, in order within their
        group. Each worker wraps ``inheritable_thread_target`` so the
        caller's job-group property propagates: a TimeOut cancel
        (service._run_bounded) still kills exactly this run's jobs.
        Per-group progress merges under a lock; the first group failure
        is re-raised after every group finishes (reference parity:
        goroutines run to completion independently)."""
        merge_lock = threading.Lock()

        def run_group(tss: list) -> None:
            gres = TransferResult(name=result.name)
            try:
                if t.source.type == "datastore":
                    for ts in tss:
                        self._run_datastore_window(t, ts, gres)
                else:
                    self._run_url_group(t, tss, gres)
            finally:
                with merge_lock:
                    _merge_result(result, gres)

        groups: dict[str, list] = {}
        for ts in windows:
            groups.setdefault(self._meta_url_for(t, ts), []).append(ts)

        if len(groups) <= 1 or MAX_WINDOW_THREADS <= 1:
            for tss in groups.values():
                run_group(tss)
            return

        from pyspark import inheritable_thread_target

        # session form: child threads inherit local properties (the
        # TimeOut job group) AND session tags; captured at submit time
        # in the calling thread — exactly where _run_bounded set them
        inherit = inheritable_thread_target(self.spark)
        with ThreadPoolExecutor(
            max_workers=min(MAX_WINDOW_THREADS, len(groups)),
            thread_name_prefix="etly-window",
        ) as pool:
            futures = [pool.submit(inherit(run_group), tss) for tss in groups.values()]
            errors = [f.exception() for f in futures]
        for exc in errors:
            if exc is not None:
                raise exc

    def _meta_url_for(self, t: Transfer, ts: datetime) -> str:
        """The ledger URL a window writes — also the P3 grouping key
        (windows sharing a ledger form one group)."""
        if t.meta:
            return expand_source_url_template(t.meta.name, ts, t.base_dir)
        if t.source.type == "datastore":
            return ""
        src_url = expand_source_url_template(t.source.name, ts, t.base_dir)
        return os.path.join(_local(src_url), ".etly_meta.json")

    # ----------------------------------------------------- time window --

    def _time_window(self, t: Transfer, now: datetime):
        """W1 (transfer_service.go:820-861): one concrete timestamp per
        unit step in the look-back window; duplicate template expansions
        collapse. 2 days ⇒ 2 windows; 24 hours ⇒ 24 windows."""
        if not t.time_window or not t.time_window.duration:
            return [now]
        step = t.time_window.to_timedelta() / max(t.time_window.duration, 1)
        seen: set[tuple] = set()
        out = []
        for i in range(t.time_window.duration):
            ts = now - step * i
            key = (
                expand_date(t.source.name, ts),
                expand_date(t.target.name, ts),
                expand_date(t.meta.name, ts) if t.meta else "",
            )
            if key not in seen:
                seen.add(key)
                out.append(ts)
        return out

    # ------------------------------------------------------ URL source --

    def _run_url_window(self, t: Transfer, ts: datetime) -> _UrlWindow:
        """Expand one window's source and target templates and list its
        source; the rest of the work is shared by the window's ledger
        group (`_run_url_group`)."""
        src_url = expand_source_url_template(t.source.name, ts, t.base_dir)
        return _UrlWindow(
            ts=ts,
            src_url=src_url,
            target_template=expand_source_url_template(t.target.name, ts, t.base_dir),
            objects=list_source_objects(src_url, self.spark),
        )

    def _run_url_group(self, t: Transfer, tss: list, result: TransferResult) -> None:
        """One pass over the windows that share a ledger: load the Meta
        once, list every window, answer the skip set with ONE sidecar
        probe over the union of the listings, filter each window on its
        own (MaxTransfers stays per window), transfer every eligible
        file in one plan, then roll up status per source and save once.
        A tick that finds nothing starts no transfer job."""
        meta_url = self._meta_url_for(t, tss[0])
        meta = Meta.load(meta_url)
        windows = [self._run_url_window(t, ts) for ts in tss]
        # M1 skip-set at scale: the bounded JSON holds only recent
        # entries; full history is answered by the parquet-sidecar index
        # scoped to the listings (driver memory O(listed), never
        # O(history)). Union keeps just-written entries visible even
        # before any sidecar exists (and legacy metas keep working).
        processed = set(meta.processed) | ProcessedIndex(meta_url).processed_among(
            u for w in windows for u, _ in w.objects
        )
        claimed: set[str] = set()
        for w in windows:
            # a file two windows list (same source, different target)
            # goes to the first of them, as in a window-by-window run
            objects = [(u, s) for u, s in w.objects if u not in claimed]
            w.eligible = filter_storage_objects(
                objects,
                filter_reg_exp=t.source.filter_reg_exp,
                processed=processed,
                max_transfers=t.max_transfers,
            )
            claimed.update(w.eligible)
            # Hidden files are excluded like zero-byte ones: both classes
            # are permanently ineligible, so counting them would report
            # pending work that can never drain.
            waiting = [u for u, s in objects if s > 0 and not is_hidden(u) and u not in processed]
            w.pending = max(len(waiting) - len(w.eligible), 0)

        batch = [w for w in windows if w.eligible]
        if batch:
            self._transfer_group(t, batch, meta, meta_url, result)

        # M2 status roll-up per source, even on NOOP (transfer_service.go:
        # 547-564; meta.go:48-61): a source's record count grows by what
        # this run landed from it. resource_processed is listing-scoped,
        # so it stays correct after the JSON evicts old entries.
        done = processed | set(meta.processed)
        for w in windows:
            prev = meta.resource_status.get(w.src_url, ProcessingStatus())
            meta.put_status(
                w.src_url,
                ProcessingStatus(
                    resource_processed=sum(u in done for u, _ in w.objects),
                    resource_pending=w.pending,
                    record_processed=prev.record_processed + w.n_rec,
                ),
            )
        meta.save()

    def _transfer_group(
        self,
        t: Transfer,
        batch: list[_UrlWindow],
        meta: Meta,
        meta_url: str,
        result: TransferResult,
    ) -> None:
        """Per-file fault isolation (transfer_service.go:718-737 parity,
        Spark-shaped): the group reads all its files in ONE job (the fast
        path — no per-file overhead when everything is healthy). If that
        job fails, a distributed probe reads each file end-to-end to
        attribute the failure: unreadable files (truncated gzip, missing
        object, permission) get an error ledger entry in their own
        window's sidecar partition — recorded as processed, so the next
        run skips them, matching the reference's "log this to meta so we
        can skip it next time" (transfer_service.go:640-648) — and the
        healthy files retry in one plan. The probe is O(batch bytes) but
        runs ONLY on the failure path. Divergence from the reference, by
        design: a file failing mid-stream contributes ZERO records (the
        reference keeps records decoded before a gzip.ErrChecksum, :731,
        making counts depend on the truncation point); all-or-nothing per
        file keeps the ledger deterministic under replay."""
        try:
            self._transfer_url_files(t, batch, meta, meta_url, result)
            return
        except MaxErrorsExceeded:
            raise
        except Exception:
            from etly_spark.sources.storage import _forced_codec_ext

            bad = probe_unreadable(
                self.spark,
                [u for w in batch for u in w.eligible],
                forced_ext=_forced_codec_ext(t.source),
            )
            if not bad:
                raise
        stats = {
            _norm_file_url(u): {"error": f"failed to read source object {u}: {bad[u]}"}
            for u in bad
        }
        failed = [replace(w, eligible=sorted(u for u in w.eligible if u in bad)) for w in batch]
        self._record_ledger(meta, meta_url, failed, stats, {}, result)
        for w in batch:
            w.eligible = [u for u in w.eligible if u not in bad]
        meta.save()  # bad entries survive even if the retry fails too
        healthy = [w for w in batch if w.eligible]
        if healthy:
            self._transfer_url_files(t, healthy, meta, meta_url, result)

    def _transfer_url_files(
        self,
        t: Transfer,
        batch: list[_UrlWindow],
        meta: Meta,
        meta_url: str,
        result: TransferResult,
    ) -> None:
        """Transfer a ledger group's eligible files in one plan: read →
        operator chain → sink → per-file ledger records, each under its
        own window. Batch-scoped stages (DedupLines, RemoveSpans,
        AttachRobots, the E1 error count, the rollup compaction) see the
        whole batch. Sets each window's ``n_rec``."""
        keys = self._file_keys(t, batch)
        eligible = [u for w in batch for u in w.eligible]
        df = read_records(self.spark, t.source, [_local(u) for u in eligible])
        df = self._enrich(df, t, batch[0].src_url, [w.src_url for w in batch])
        persist = bool(t.rollup or t.datasheet)
        if persist:
            # extra consumers beyond the sink (per-file rollup partials,
            # the datasheet report pass): cache the decoded batch
            # (MEMORY_AND_DISK; bounded by MaxTransfers x MaxAllowedSize
            # per window) so the source is read and decoded once, not
            # once per consumer
            df = df.persist()
        try:
            out, outputs, _, stats = self._run_chain(
                t, df, batch, self._routed_key_column(t, keys), file_stats=True
            )
            result.outputs.extend(outputs)
            if t.rollup:
                self._fold_rollup(t, eligible, out)
            if t.datasheet:
                self._ship_datasheet(t, batch, out)
            self._record_ledger(meta, meta_url, batch, stats, keys, result)
        finally:
            if persist:
                df.unpersist()

    def _run_chain(
        self,
        t: Transfer,
        df: DataFrame,
        batch: list[_UrlWindow],
        key_col,
        file_stats: bool = False,
    ) -> tuple[DataFrame, list[str], dict[str, int], dict[str, dict] | None]:
        """The operator chain after decode and enrich, shared by every
        entry point — a URL ledger group, and as one-window batches a
        datastore window, the worker RPC's object and a streaming
        micro-batch: flag F1 keep, count, drop corrupt and skipped rows,
        F3 transform, sink, E1. Returns the transformed rows, the sink's
        outputs, the batch's ``total``/``corrupt``/``kept`` counts and,
        with ``file_stats``, the per-file ledger stats (else None).

        The per-file stats are their own aggregation job over the
        keep-flagged input (`_file_stats`). It runs BESIDE the sink on
        one helper driver thread, started just before the sink and
        joined after it, so a tick pays max(sink, stats) and not their
        sum. The helper inherits the caller's job group and session
        tags (a TimeOut cancel reaches it too); its handle is local to
        this call, so concurrent ledger groups never see each other's
        stats; it is always joined before the step returns or raises,
        and when the sink or E1 raises, that exception wins and the
        stats are dropped.

        The counters ride the sink job itself (observe(): CollectMetrics
        below the keep/corrupt filter sees every decoded row) — no second
        pass for global counts, and a datastore query executes once.

        The sink follows Target.TransferMethod. ``annIndexFold`` folds
        each window's rows into its target index (ann_index_sink — the
        reference's special-sink dispatch shape, transfer_service.go:
        566-663) under an epoch keyed by the md5 of those windows' sorted
        source set, so a crashed-then-retried batch overwrites its own
        partition. Anything else is the routed write keyed by ``key_col``.

        E1 (transfer.go:17-25; MaxErrorCounts unset tolerates all) is
        checked after the sink, like the reference, which also counts
        while streaming the transfer: the abort comes after work was
        spent, the caller records no ledger entry, and the next run
        reprocesses the batch."""
        flagged = df.withColumn(KEEP, self._keep_column(df, t))
        obs = Observation()
        out = flagged.observe(obs, *_counters()).filter(~F.col(CORRUPT) & F.col(KEEP))
        out = self._transform(out, t)
        # no thread starts unless a stats job is submitted
        with ThreadPoolExecutor(max_workers=1, thread_name_prefix="etly-stats") as helper:
            stats_job = None
            if file_stats:
                from pyspark import inheritable_thread_target

                inherit = inheritable_thread_target(self.spark)
                stats_job = helper.submit(inherit(lambda: _file_stats(flagged)))
            if (t.target.transfer_method or "").lower() == "annindexfold":
                from etly_spark.operators.ann_index_sink import fold_window_into_index

                outputs = []
                for target, ws, rows in _window_slices(out, batch, lambda w: w.target_template):
                    sources = sorted(_norm_file_url(u) for w in ws for u in w.eligible)
                    epoch_key = hashlib.md5("|".join(sources).encode()).hexdigest()[:12]
                    outputs += fold_window_into_index(
                        self.spark, rows, _local(target), epoch_key, t.target.index_options
                    )
            else:
                outputs = self._write_routed(out, key_col, t)
            counts = {k: int(v or 0) for k, v in obs.get.items()}
            if t.max_error_counts is not None and 0 < counts["corrupt"] >= max(
                t.max_error_counts, 1
            ):
                raise MaxErrorsExceeded(
                    f"reached max errors {counts['corrupt']} >= {t.max_error_counts}"
                )
        return out, outputs, counts, stats_job.result() if stats_job else None

    def _record_ledger(
        self,
        meta: Meta | None,
        meta_url: str,
        batch: list[_UrlWindow],
        stats: dict[str, dict],
        keys: dict[str, str],
        result: TransferResult,
    ) -> None:
        """M1 (meta.go:6-26; transfer_service.go:739-757): one ObjectMeta
        per eligible file of each window, built from the file's stats row
        (``total``/``corrupt``/``kept``, a ``corrupt_sample`` line or a
        read ``error``) and target key, both keyed like FILE
        (``_norm_file_url``). Every file counts in ``result``'s progress
        and its window's ``n_rec``. With a ``meta``, each window's
        entries go to both ledgers: the BOUNDED JSON (the reference-
        compatible status surface, the most recent MAX_JSON_PROCESSED
        entries) and the run_ts-partitioned parquet sidecar, one
        partition per window — the durable full history and the skip-set
        source of truth (meta.ProcessedIndex), appended in O(the
        window's files) at any history size, vs the reference's full
        Processed-map rewrite per window."""
        progress = result.progress
        for w in batch:
            w.n_rec = 0
            entries: list[ObjectMeta] = []
            for url in w.eligible:
                fid = _norm_file_url(url)
                s = stats.get(fid) or {}
                total, corrupt, kept = (int(s.get(k) or 0) for k in ("total", "corrupt", "kept"))
                error = s.get("error") or ""
                message = error
                if corrupt and s.get("corrupt_sample"):
                    message = f"failed to decode json ({corrupt} times): {s['corrupt_sample'][:200]}"
                entries.append(
                    ObjectMeta(
                        source=url,
                        target=keys.get(fid, ""),
                        record_processed=kept,
                        record_skipped=total - corrupt - kept,
                        record_errors=corrupt,
                        message=message,
                        error=error,
                    )
                )
                w.n_rec += kept
                progress.record_read += total
                progress.record_processed += kept
                progress.record_skipped += total - corrupt - kept
                progress.record_errors += corrupt
                progress.file_processed += 1
            if meta is None:
                continue
            for om in entries:
                if om.message:
                    meta.add_error(om.message)
                meta.record(om)
            _append_ledger_sidecar(sidecar_dir(meta_url), w.ts.isoformat(), entries)

    def _ship_datasheet(self, t: Transfer, batch: list[_UrlWindow], out) -> None:
        """Config-addressable datasheet report (r12 — Transfer.Datasheet):
        compute the per-source datasheet (operators/datasheet) over the
        transferred rows (the post-transform kept set) and commit it
        atomically at the expanded report path — the release
        documentation ships with the data it documents. One report per
        distinct expanded path, over the rows of the windows that expand
        to it; ``window_ts`` is the newest of those windows. One extra
        aggregate pass per report over the persisted batch; media stats
        activate when PayloadField (or a 'payload' binary column) is
        present."""
        from etly_spark.operators.datasheet import build_datasheet, write_datasheet

        payload = t.datasheet.payload_field
        # a configured PayloadField that the batch's columns don't
        # carry is a config error, not a silent auto-detect fallback
        # (r13, ADVICE): masking a typo'd field name would quietly drop
        # the media stats or compute them from a different column
        if payload and payload not in out.columns:
            raise ValueError(
                f"Transfer {t.name!r}: Datasheet.PayloadField {payload!r} "
                f"not among the window's columns {sorted(out.columns)}"
            )
        name = expand_env(expand_pwd(t.datasheet.name, t.base_dir))
        for path, ws, rows in _window_slices(out, batch, lambda w: expand_date(name, w.ts)):
            sheet = build_datasheet(rows.drop(KEEP), payload_col=payload or None)
            sheet["transfer"] = t.name
            sheet["window_ts"] = ws[0].ts.isoformat()
            write_datasheet(sheet, path)

    def _fold_rollup(self, t: Transfer, eligible: list[str], out) -> None:
        """Spark-native Rollup extension (Transfer.Rollup): fold this
        batch's keyed partial aggregates into the durable incremental-agg
        state (operators/incremental_agg) — ONE epoch PER FILE, keyed by
        the md5 of the file URL. Per-file epochs make every retry shape
        idempotent: a crash between this fold and the ledger write
        retried later — even with a CHANGED batch (a new file arrived,
        MaxTransfers truncation shifted) — overwrites exactly the
        already-folded files' own epochs and adds the new ones; no batch
        composition can double-count a file (batch-level epochs could:
        {a,b} folded, ledger write fails, retry folds {a,b,c} under a
        new epoch — a and b doubled). The exactly-once ledger guarantees
        no two SUCCESSFUL runs fold the same file. One aggregate job per
        batch computes all per-file partials (bounded by files x key
        cardinality — rollup keys are low-cardinality by contract);
        each partial lands driver-side via pyarrow (the ledger-sidecar
        precedent). One rollup StateDir belongs to ONE transfer.
        URL-source transfers only: batch identity comes from the
        exactly-once file ledger (a datastore query re-run has no such
        identity — config validation rejects the combination)."""
        from etly_spark.operators import incremental_agg as IA

        spec = t.rollup
        state = expand_env(expand_pwd(spec.state_dir, t.base_dir))
        partial_cols, merges = IA.rollup_plan(spec.aggregates)
        agg = out.groupBy(F.col(FILE).alias("__file"), *spec.keys).agg(*partial_cols)
        pdf = agg.toPandas()
        # pyarrow needs bytes, not bytearray (HLL sketch partials)
        for c in merges:
            if len(pdf) and isinstance(pdf[c].iloc[0], bytearray):
                pdf[c] = pdf[c].map(bytes)
        for url in eligible:
            norm = _norm_file_url(url)
            sub = pdf[pdf["__file"] == norm].drop(columns="__file")
            epoch = hashlib.md5(norm.encode()).hexdigest()
            # schema pinned from the Spark aggregate: a zero-row sub
            # (file fully filtered out) must not arrow-infer null types
            # into the state (permanent type-mismatch corruption once
            # compacted — see fold_rows)
            IA.fold_rows(
                state, sub, epoch, keys=spec.keys, merges=merges, schema=agg.schema
            )
        IA.compact(
            self.spark,
            state,
            keys=spec.keys,
            merges=merges,
            threshold=spec.compact_threshold,
        )

    # ------------------------------------------------ datastore source --

    def _run_datastore_window(self, t: Transfer, ts: datetime, result: TransferResult) -> None:
        """One datastore window: the SQL source is one logical file, a
        one-window batch through the shared chain and ledger steps."""
        # <pwd>/env/date templates inside DsConfig parameter values expand
        # into this window's copy of the source: written back into
        # t.source they would pin every later window and run to this
        # window's date, and race between concurrent groups
        ds = t.source.ds_config or {}
        params = {
            k: expand_source_url_template(v, ts, t.base_dir) if isinstance(v, str) else v
            for k, v in (ds.get("Parameters") or {}).items()
        }
        src = replace(t.source, ds_config={**ds, "Parameters": params})

        df = read_datastore(self.spark, src)
        data_cols = list(df.columns)
        df = (
            df.withColumn(RAW, F.to_json(F.struct(*data_cols)))
            .withColumn(FILE, F.lit(src.name))
            .withColumn(CORRUPT, F.lit(False))
        )
        df = self._enrich(df, t, src.name)
        w = _UrlWindow(
            ts=ts,
            target_template=expand_source_url_template(t.target.name, ts, t.base_dir),
            eligible=[src.name],
        )
        key_col = self._record_key_column(t, F.lit(w.target_template))
        _, outputs, counts, _ = self._run_chain(t, df, [w], key_col)
        result.outputs.extend(outputs)

        meta_url = self._meta_url_for(t, ts)
        meta = Meta.load(meta_url) if meta_url else None
        fid = _norm_file_url(src.name)
        self._record_ledger(meta, meta_url, [w], {fid: counts}, {fid: w.target_template}, result)
        if meta is not None:
            meta.put_status(
                src.name,
                ProcessingStatus(resource_processed=1, record_processed=counts["kept"]),
            )
            meta.save()

    # ------------------------------------------------- operator chain ---

    def _enrich(
        self, df: DataFrame, t: Transfer, source_url: str, source_urls: list[str] | None = None
    ) -> DataFrame:
        """F2 (content_enricher.go:9-30): context-aware column adds.
        ``source_url`` is the newest window's source; ``source_urls``
        lists every window whose files are in the batch."""
        if not t.content_enricher:
            return df
        fn = registry.enrichers.get(t.content_enricher)
        ctx = {"source_url": source_url, "source_urls": source_urls or [source_url], "transfer": t}
        return fn(df, ctx)

    def _keep_column(self, df: DataFrame, t: Transfer):
        """F1 (filter.go:11-30): predicate; null-safe (null ⇒ skip)."""
        if not t.filter:
            return F.lit(True)
        pred = registry.filters.get(t.filter)(df)
        return F.coalesce(pred, F.lit(False))

    def _transform(self, df: DataFrame, t: Transfer) -> DataFrame:
        """F3 (transformer.go:7-31): 1→1 projection to a new shape.

        A transformer returns either a list[Column] (projection — engine
        preserves routing metadata columns) or a full DataFrame (advanced;
        must keep metadata columns itself).
        """
        df = self._attach_source_vars(df, t)
        meta_cols = [
            c
            for c in df.columns
            if c in (RAW, FILE, CORRUPT, DTYPE, KEEP) or c.startswith(VAR_PREFIX)
        ]
        if not t.transformer:
            data_cols = [c for c in df.columns if c not in meta_cols]
            return df.select(*meta_cols, *data_cols)
        fn = registry.transformers.get(t.transformer)
        out = fn(df)
        if isinstance(out, DataFrame):
            return out
        return df.select(*[F.col(c) for c in meta_cols], *out)

    def _attach_source_vars(self, df: DataFrame, t: Transfer) -> DataFrame:
        """R6 worker side, `Source: "source"` (util.go:215-242): a
        source-record variable evaluates against the record BEFORE the
        transformer reshapes it — materialized as a hidden column that
        rides through the transform into the routing key."""
        for ve in t.variable_extraction:
            if (ve.source or "").lower() == "source" and ve.provider:
                col = registry.variable_providers.get(ve.provider)()
                df = df.withColumn(f"{VAR_PREFIX}{ve.name}__", col.cast("string"))
        return df

    # ------------------------------------------------------- routing ----

    def _master_variables(self, t: Transfer, source_url: str) -> dict[str, str]:
        """R6 master side (util.go:190-213): regex capture group 1."""
        out: dict[str, str] = {}
        for ve in t.variable_extraction:
            if (ve.source or "").lower() == "sourceurl" and ve.reg_expr:
                m = re.search(ve.reg_expr, source_url)
                out[ve.name] = m.group(1) if m else ""
        return out

    def _file_keys(self, t: Transfer, batch: list[_UrlWindow]) -> dict[str, str]:
        """R1-R6 master side: each eligible file's target key (its
        window's template + sourceUrl vars), keyed like FILE."""
        return {
            _norm_file_url(u): expand_target_key(
                w.target_template, u, w.ts, self._master_variables(t, u), t.base_dir
            )
            for w in batch
            for u in w.eligible
        }

    def _routed_key_column(self, t: Transfer, file_keys: dict[str, str], batch_count: int = 0):
        """R1: per-file key via a literal map on input_file_name, then
        record-level $vars substituted as column expressions."""
        pairs: list = []
        for k, v in file_keys.items():
            pairs.extend([F.lit(k), F.lit(v)])
        key = F.create_map(*pairs)[F.col(FILE)]
        return self._record_key_column(t, key, batch_count)

    def _record_key_column(self, t: Transfer, key, batch_count: int = 0):
        """R1 worker side (util.go:215-242) + $thread/$batchCount state
        (transfer_service.go:204-206,242-243). $thread ⇒ partition id;
        $batchCount ⇒ 0 in batch mode (micro-batch id in streaming).

        Replacements are applied longest-name-first — including the
        built-in $thread/$batchCount — mirroring templates.expand_vars
        (util.go:244-251 parity): a variable whose name is a prefix of
        another ($a vs $ab, or a user var named $threadX) must not be
        clobbered by the shorter substitution."""
        subs: list[tuple[str, object]] = [
            ("thread", F.spark_partition_id().cast("string")),
            ("batchCount", F.lit(str(batch_count))),
        ]
        for ve in t.variable_extraction:
            if not ve.provider:
                continue
            src = (ve.source or "").lower()
            if src == "source":
                # evaluated pre-transform; materialized by _attach_source_vars
                subs.append((ve.name, F.col(f"{VAR_PREFIX}{ve.name}__")))
            elif src == "target":
                col = registry.variable_providers.get(ve.provider)()
                subs.append((ve.name, col.cast("string")))
        for name, col in sorted(subs, key=lambda nv: len(nv[0]), reverse=True):
            key = F.replace(key, F.lit(f"${name}"), col)
        return key

    # --------------------------------------------------------- sink -----

    def _write_routed(self, out: DataFrame, key_col, t: Transfer) -> list[str]:
        """K1 + B1 (target_transformation.go:29-53; transfer_service.go:
        193-274): ndjson-encode, group by computed target key, write.

        One distributed job: partitionBy(TKEY) into a staging dir, then
        two-tier finalization (`_finalize_routed`) — metadata renames on
        the driver for local single-part rolls, executor tasks for
        anything that moves bytes (concat / remote upload)."""
        meta_cols = {RAW, FILE, CORRUPT, DTYPE, KEEP, TKEY} | {
            c for c in out.columns if c.startswith(VAR_PREFIX)
        }
        data_cols = [c for c in out.columns if c not in meta_cols]
        fmt = (t.target.data_format or "ndjson").lower()
        if fmt in ("parquet", "csv", "orc", "xml"):
            return self._write_routed_dataset(out, key_col, t, data_cols, fmt)
        # F4 line encode — or the RawMarshaler hook (encoding.go:21-23,
        # util.go:156-168): a Target.DataType with a registered
        # raw_encoder produces the output line itself, bypassing JSON.
        if t.target.data_type and t.target.data_type in registry.raw_encoders:
            line = registry.raw_encoders.get(t.target.data_type)(out, data_cols)
        else:
            line = F.to_json(F.struct(*[F.col(c) for c in data_cols]))
        encoded = out.withColumn(TKEY, key_col).select(
            F.col(TKEY), line.alias("value")
        )

        comp = (t.target.compression or "").lower()
        warc_sink = fmt == "warc"
        py_codec: str | None = None
        if warc_sink:
            # WET-style egress: each record line becomes one conversion
            # record at finalization (fsio.concat_warc); compression
            # 'gzip' selects per-record members (the .warc.gz shape),
            # anything else is rejected — warc records are framed
            # individually, stream codecs don't apply
            if comp not in ("", "gzip"):
                raise ValueError(
                    f"warc targets support only gzip compression: {comp}"
                )
        elif comp:
            from etly_spark.io import compress as _compress

            if comp not in _compress.SINK_CODECS:
                raise ValueError(f"unsupported target compression: {comp}")
            _, jvm_codec = _compress.SINK_CODECS[comp]
            # deflate has a JVM codec but raw zlib streams do NOT
            # concatenate (a reader silently stops at the first
            # stream's end), so any codec outside CONCATENATABLE must
            # take the python finalization route, where concat_compress
            # compresses the whole roll as ONE stream
            py_codec = (
                None
                if (jvm_codec and comp in _compress.CONCATENATABLE)
                else comp
            )
        staging = os.path.join(
            t.base_dir, f".etly_staging_{uuid.uuid4().hex[:12]}"
        )
        writer = encoded.write.mode("append").partitionBy(TKEY)
        if comp and py_codec is None and not warc_sink:
            # Hadoop-bundled codec: compress inside the JVM write job
            writer = writer.option("compression", jvm_codec)
        # python-route codecs (xz/lz4/snappy — io/compress.py) stage
        # PLAIN text and compress during finalization byte-jobs: every
        # roll part becomes one member/frame appended to the output
        # (all four formats concatenate by spec, like gzip members),
        # so executor tasks stream part-at-a-time — bounded memory.
        # B1's size bound therefore applies to UNCOMPRESSED bytes,
        # matching the reference's 64 MiB pre-compression flush
        # (transfer_service.go:209-212).
        try:
            writer.text(staging)  # inside the finally-scope: a failed
            # write job must not leak its partial staging dir
            return self._finalize_routed(
                staging,
                t,
                py_codec=py_codec,
                # None = not a warc sink; bool = per-record gzip members
                warc_gz=(comp == "gzip") if warc_sink else None,
            )
        finally:
            fsio.delete_tree(staging)

    def _finalize_routed(
        self,
        staging: str,
        t: Transfer,
        py_codec: str | None = None,
        warc_gz: bool | None = None,
    ) -> list[str]:
        """Two-tier staging→target finalization.

        B1 (transfer_service.go:27,209-212): bound output object size.
        When a key's concatenated output would exceed MaxAllowedSize the
        overflow rolls to numbered siblings (key, key.1, key.2, …) — the
        Spark analogue of the reference's 64 MiB flush-per-batch.

        Scale contract: the driver only PLANS rolls from the staging
        listing (O(#parts) metadata) and performs local renames (inode
        updates — the same class of work as Spark's FileOutputCommitter).
        Every byte-moving job (multi-part concat, upload to a remote
        scheme) is shipped to executor tasks via ``sc.parallelize`` so no
        output byte ever streams through the driver (reference parity:
        workers own the upload, target_transformation.go:29-53)."""
        max_bytes = t.target.max_allowed_size or 0
        outputs: list[str] = []
        renames: list[tuple[str, str]] = []  # driver-side metadata only
        byte_jobs: list[tuple[list[str], str]] = []  # executor-side
        for final, part_dir, parts in _staged_partitions(staging):
            fsio.makedirs(os.path.dirname(final) or ".")
            # plan rolls: greedy pack of committed parts under max_bytes
            rolls: list[list[str]] = [[]]
            written = 0
            for pname, psize in parts:
                if max_bytes and rolls[-1] and written + psize > max_bytes:
                    rolls.append([])
                    written = 0
                rolls[-1].append(os.path.join(part_dir, pname))
                written += psize
            for i, roll in enumerate(rolls):
                dst = final if i == 0 else f"{final}.{i}"
                outputs.append(dst)
                if (
                    py_codec is None
                    and warc_gz is None
                    and len(roll) == 1
                    and fsio.is_local(dst)
                ):
                    renames.append((roll[0], dst))
                else:
                    # py_codec/warc force the byte-job path: the task
                    # transforms while it moves, so the rename
                    # shortcut (which moves bytes verbatim) is out
                    byte_jobs.append((roll, dst))
            # replay idempotency: a crashed earlier attempt (e.g. a
            # streaming micro-batch retried from the checkpoint) may have
            # left MORE roll siblings than this attempt plans — moves
            # overwrite plan positions 0..n-1, so clear any stale tail.
            # One stat past the plan per key; O(stale) when crash-recovering.
            i = max(len(rolls), 1)
            while fsio.exists(f"{final}.{i}"):
                fsio.delete(f"{final}.{i}")
                i += 1
        for src, dst in renames:
            fsio.move(src, dst)
        if byte_jobs:
            self._run_byte_jobs(byte_jobs, compression=py_codec, warc_gz=warc_gz)
        return outputs

    def _write_routed_dataset(
        self, out: DataFrame, key_col, t: Transfer, data_cols: list[str], fmt: str
    ) -> list[str]:
        """Columnar dataset sink (Spark-native extension beyond the
        reference's ndjson K1; the sink a training-data pipeline actually
        lands on): each routed key becomes a DATASET DIRECTORY of
        parquet/csv parts. Columnar objects are not concatenatable, and
        multi-file datasets are the native shape, so finalization never
        moves bytes for local targets (per-part renames) and ships one
        upload task per part for remote schemes — B1's byte-roll is
        meaningless here and is intentionally not applied."""
        encoded = out.withColumn(TKEY, key_col).select(TKEY, *data_cols)
        if t.target.cluster_by:
            # Z-order the whole output before the partitioned write:
            # within every routed key dir, each file then covers a
            # compact hyper-rectangle of the clustered columns, so
            # parquet min/max pruning works on ANY of them
            # (operators/layout.py; footer-verified e2e).
            from etly_spark.operators.layout import zorder_by

            encoded = zorder_by(encoded, t.target.cluster_by, t.target.cluster_files)
        staging = os.path.join(
            t.base_dir, f".etly_staging_{uuid.uuid4().hex[:12]}"
        )
        writer = encoded.write.mode("append").partitionBy(TKEY)
        outputs: list[str] = []
        renames: list[tuple[str, str]] = []
        byte_jobs: list[tuple[list[str], str]] = []
        try:
            if fmt == "csv":
                writer = writer.option("header", True)
                ext = "csv"
                if (t.target.compression or "").lower() == "gzip":
                    writer = writer.option("compression", "gzip")
                    ext = "csv.gz"  # codec suffix must survive the rename
                writer.csv(staging)
            elif fmt == "orc":
                writer.orc(staging)
                ext = "orc"
            elif fmt == "xml":
                # Spark 4 built-in XML source; one <row> element per record
                writer.format("xml").option("rowTag", "row").save(staging)
                ext = "xml"
            else:
                writer.parquet(staging)
                ext = "parquet"
            for final, part_dir, sized_parts in _staged_partitions(staging):
                parts = [pname for pname, _ in sized_parts]
                fsio.makedirs(final)
                for i, pname in enumerate(parts):
                    dst = f"{final.rstrip('/')}/part-{i:05d}.{ext}"
                    src = os.path.join(part_dir, pname)
                    if fsio.is_local(dst):
                        renames.append((src, dst))
                    else:
                        byte_jobs.append(([src], dst))  # single-file upload
                # replay idempotency: drop stale parts from a richer
                # earlier attempt
                i = len(parts)
                while fsio.exists(f"{final.rstrip('/')}/part-{i:05d}.{ext}"):
                    fsio.delete(f"{final.rstrip('/')}/part-{i:05d}.{ext}")
                    i += 1
                outputs.append(final)
            for src, dst in renames:
                fsio.move(src, dst)
            if byte_jobs:
                self._run_byte_jobs(byte_jobs)
        finally:
            fsio.delete_tree(staging)
        return outputs

    def _run_byte_jobs(
        self,
        byte_jobs: list[tuple[list[str], str]],
        compression: str | None = None,
        warc_gz: bool | None = None,
    ) -> None:
        """Ship O(bytes) finalization (concat / remote upload) to executor
        tasks — one task per output object. With ``compression`` set
        (a python-route codec: xz/lz4/snappy), each task compresses
        part-at-a-time while concatenating (fsio.concat_compress); with
        ``warc_gz`` set (warc sink), each task frames the staged lines
        into conversion records (fsio.concat_warc)."""
        sc = self.spark.sparkContext
        if warc_gz is not None:
            per_gz = warc_gz
            sc.parallelize(byte_jobs, len(byte_jobs)).foreach(
                lambda job: fsio.concat_warc(job[0], job[1], per_gz)
            )
        elif compression is None:
            sc.parallelize(byte_jobs, len(byte_jobs)).foreach(
                lambda job: fsio.concat(job[0], job[1])
            )
        else:
            comp = compression
            sc.parallelize(byte_jobs, len(byte_jobs)).foreach(
                lambda job: fsio.concat_compress(job[0], job[1], comp)
            )


def _merge_result(total: TransferResult, w: TransferResult) -> None:
    """Fold one group's result into the run total (caller holds the
    merge lock when groups run concurrently)."""
    total.outputs.extend(w.outputs)
    tp, wp = total.progress, w.progress
    tp.record_read += wp.record_read
    tp.record_processed += wp.record_processed
    tp.record_skipped += wp.record_skipped
    tp.record_errors += wp.record_errors
    tp.file_processed += wp.file_processed


def _counters() -> list:
    """The chain's three counters — the batch observation and the
    per-file ledger stats aggregate the same ones."""
    return [
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col(CORRUPT).cast("long")).alias("corrupt"),
        F.sum((~F.col(CORRUPT) & F.col(KEEP)).cast("long")).alias("kept"),
    ]


def _file_stats(flagged: DataFrame) -> dict[str, dict]:
    """The ledger's per-file stats rows, keyed by FILE: ONE distributed
    aggregate of the chain's counters plus a sample corrupt line,
    collected once — bounded by the batch's files, so nothing
    per-record ever sits on the driver."""
    sample = F.first(F.when(F.col(CORRUPT), F.col(RAW)), ignorenulls=True)
    agg = flagged.groupBy(FILE).agg(*_counters(), sample.alias("corrupt_sample"))
    return {r[FILE]: r.asDict() for r in agg.collect()}


def _window_slices(out: DataFrame, batch: list[_UrlWindow], path_of):
    """Split a group batch by a per-window expanded path (a datasheet
    report, an index dir): yield (path, windows, rows) with the rows of
    those windows' files — all of ``out`` when every window expands to
    the same path, so the common case adds no filter."""
    by_path: dict[str, list[_UrlWindow]] = {}
    for w in batch:
        by_path.setdefault(path_of(w), []).append(w)
    for path, ws in by_path.items():
        if len(by_path) == 1:
            yield path, ws, out
        else:
            files = [_norm_file_url(u) for w in ws for u in w.eligible]
            yield path, ws, out.where(F.col(FILE).isin(files))


def _unescape_partition_value(value: str) -> str:
    """Spark escapes partition values like Hive (%XX for special chars)."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), value)


def _staged_partitions(staging: str):
    """Iterate a partitionBy(TKEY) staging dir: yield each key's
    (final_target, part_dir, [(part_name, size), …]) with the key
    unescaped and localized — the shared front half of both finalizers
    (roll sink and dataset sink), so the key-parsing and committed-part
    selection can't drift between them."""
    for name, _, is_dir in sorted(fsio.listdir(staging)):
        if not is_dir or not name.startswith(f"{TKEY}="):
            continue
        final = _unescape_partition_value(name[len(TKEY) + 1 :])
        if fsio.is_local(final):
            final = _local(final)
        part_dir = os.path.join(staging, name)
        parts = sorted(
            (pname, psize)
            for pname, psize, pdir in fsio.listdir(part_dir)
            if pname.startswith("part-") and not pname.endswith(".crc") and not pdir
        )
        yield final, part_dir, parts


# Hive's reserved path characters (Spark ExternalCatalogUtils.escapePathName):
# values containing these are %XX-escaped in partition directory names.
_HIVE_PATH_RESERVED = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(32)} | {chr(127)}


def _escape_partition_value(value: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_PATH_RESERVED else ch for ch in value
    )


# Sidecar compaction: loose run_ts partitions before folding the oldest
# into a compacted segment. Tiered — a segment is never rewritten — so
# amortized compaction cost per window is O(that window's files) and the
# directory count stays bounded (#segments grows as windows/threshold,
# loose dirs never exceed the threshold).
COMPACT_THRESHOLD = 256


def compact_ledger_sidecar(stats_dir: str, threshold: int = COMPACT_THRESHOLD) -> None:
    """Fold loose per-run partitions into one numbered compacted segment
    once their count exceeds ``threshold`` — the log-structured answer
    to "a window per hour for a year is 8 760 directories". Per-row
    provenance survives in the ``timestamp`` column. Shared machinery:
    io/compact.py (also used by the streaming signature index)."""
    from etly_spark.io.compact import compact_partitions

    compact_partitions(stats_dir, "run_ts", threshold)


def _append_ledger_sidecar(
    stats_dir: str, run_ts: str, entries: list[ObjectMeta]
) -> None:
    """Append one run's per-file ledger entries as a Hive-partitioned
    parquet file — the durable full-history ledger behind the bounded
    JSON (`meta.ProcessedIndex` answers the skip-set from its `source`
    column; audits read one run's directory via partition pruning).
    Written driver-side with Arrow: the rows are already collected and
    bounded by MaxTransfers — a Spark write job here is per-task commit
    overhead for a KB of data. Per-window cost is O(this run's files),
    flat at any history size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not entries:
        return
    part_dir = os.path.join(stats_dir, f"run_ts={_escape_partition_value(run_ts)}")
    str_cols = ["source", "target", "error", "message", "timestamp"]
    int_cols = ["record_processed", "record_skipped", "record_errors"]
    table = pa.table(
        {
            **{c: pa.array([getattr(e, c) for e in entries], pa.string()) for c in str_cols},
            **{c: pa.array([getattr(e, c) for e in entries], pa.int64()) for c in int_cols},
        }
    )
    write_file(
        os.path.join(part_dir, f"part-{uuid.uuid4().hex[:12]}.parquet"),
        lambda tmp: pq.write_table(table, tmp),
    )
    # threshold read at call time so tests/operators can tune the module global
    compact_ledger_sidecar(stats_dir, threshold=COMPACT_THRESHOLD)
