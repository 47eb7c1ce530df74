"""Incremental, file-grain exactly-once state (the reference's meta.json).

Mirrors meta.go:6-61 + persistence (transfer_service.go:113-162): a JSON
ledger next to the target recording, per source URL, the outcome of its
transfer — so re-runs skip processed files (transfer_service.go:503-505)
and BigQuery-style failures are remembered and skipped next run
(transfer_service.go:628-649).

Hardening vs the reference (SURVEY §7.4): the meta write is atomic
(``io/commit.write_file``) and happens only *after* the data commit, so
a crash between data write and meta write re-processes (at-least-once
into an overwrite-idempotent target) instead of silently losing files.

Scale (the 100× design): the reference rewrites its whole Processed map
every window — O(history) serialization per window, unbounded driver
JSON. Here the durable per-file history lives in the run_ts-partitioned
parquet ledger SIDECAR next to the JSON (`<meta>.files/`, appended
O(new-files) per window — flat forever), and the skip-set is answered
by ``ProcessedIndex.processed_among(listed)``: a columnar membership
probe that pushes the listed-URL set into the parquet scan, so driver
memory is O(listed ∩ history), never O(history). The JSON keeps only
the ``MAX_JSON_PROCESSED`` most recent entries (and ``MAX_JSON_ERRORS``
error messages) — it is the BOUNDED etly-compatible status surface
(`/etly/info`, the reference's meta.json shape), not the source of
truth for skipping. ``resource_status`` stays per-source (reference
parity, meta.go:48-61): one entry per distinct expanded source URL,
each adding the records a run landed from it to its previous count —
bounded per meta FILE by the look-back's window count (windows sharing
a ledger form one P3 group and one pass per run).

For streaming mode Spark's checkpoint/commit-log supersedes this ledger.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from etly_spark.io.commit import write_file

# JSON ledger bounds: the most recent entries kept in the
# reference-compatible meta.json; the parquet sidecar holds full history
# (including every error message, in the `error`/`message` columns).
MAX_JSON_PROCESSED = 10_000
MAX_JSON_ERRORS = 1_000


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


@dataclass
class ObjectMeta:
    """meta.go:6-26 — per-source-file outcome."""

    source: str
    target: str = ""
    record_processed: int = 0
    record_skipped: int = 0
    record_errors: int = 0
    timestamp: str = field(default_factory=_now)
    message: str = ""
    error: str = ""


@dataclass
class ProcessingStatus:
    """meta.go:28-32."""

    resource_processed: int = 0
    resource_pending: int = 0
    record_processed: int = 0


@dataclass
class Meta:
    """meta.go:39-61 — the per-target ledger."""

    url: str
    processed: dict[str, ObjectMeta] = field(default_factory=dict)
    errors: list[dict] = field(default_factory=list)
    resource_status: dict[str, ProcessingStatus] = field(default_factory=dict)
    status: ProcessingStatus = field(default_factory=ProcessingStatus)

    def is_processed(self, source_url: str) -> bool:
        """Presence-based, matching transfer_service.go:503-505: ANY
        recorded entry — including a load-failure entry (error set) —
        is skipped on the next run ('log this to meta so we can skip
        it next time', transfer_service.go:640-648)."""
        return source_url in self.processed

    def record(self, om: ObjectMeta) -> None:
        self.processed[om.source] = om

    def add_error(self, err: str) -> None:
        self.errors.append({"error": err, "time": _now()})

    def put_status(self, source: str, status: ProcessingStatus) -> None:
        """Roll up per-source counters into a total (meta.go:48-61)."""
        self.resource_status[source] = status
        total = ProcessingStatus()
        for s in self.resource_status.values():
            total.resource_processed += s.resource_processed
            total.resource_pending += s.resource_pending
            total.record_processed += s.record_processed
        self.status = total

    # -- persistence (atomic; transfer_service.go:146-162 equivalent) -----

    def save(self) -> None:
        path = _strip_scheme(self.url)
        processed = self.processed
        if len(processed) > MAX_JSON_PROCESSED:
            # keep the most recent entries (ISO timestamps sort
            # chronologically); the parquet sidecar holds full history
            # and the skip-set (ProcessedIndex) consults it, so
            # eviction here never causes reprocessing
            keep = sorted(processed, key=lambda k: processed[k].timestamp)[
                -MAX_JSON_PROCESSED:
            ]
            processed = {k: processed[k] for k in keep}
        payload = {
            "URL": self.url,
            "Processed": {k: asdict(v) for k, v in processed.items()},
            # bounded like Processed: a decade of corrupt-line messages
            # must not balloon the status surface (full history is in
            # the sidecar's error/message columns)
            "Errors": self.errors[-MAX_JSON_ERRORS:],
            "ResourceStatus": {k: asdict(v) for k, v in self.resource_status.items()},
            "Status": asdict(self.status),
        }

        def write(tmp: str) -> None:
            with open(tmp, "w") as f:
                json.dump(payload, f, indent=1, sort_keys=True)

        write_file(path, write)

    @classmethod
    def load(cls, url: str) -> Meta:
        """transfer_service.go:113-144 — missing file ⇒ fresh meta."""
        path = _strip_scheme(url)
        if not os.path.exists(path):
            return cls(url=url)
        with open(path) as f:
            raw = json.load(f)
        m = cls(url=url)
        for k, v in (raw.get("Processed") or {}).items():
            m.processed[k] = ObjectMeta(**v)
        m.errors = raw.get("Errors") or []
        for k, v in (raw.get("ResourceStatus") or {}).items():
            m.resource_status[k] = ProcessingStatus(**v)
        if raw.get("Status"):
            m.status = ProcessingStatus(**raw["Status"])
        return m


def _strip_scheme(url: str) -> str:
    if url.startswith("file://"):
        return url[len("file://") :]
    return url


def sidecar_dir(meta_url: str) -> str:
    """The run_ts-partitioned parquet ledger directory for a meta URL."""
    return _strip_scheme(meta_url) + ".files"


class ProcessedIndex:
    """Scalable skip-set over the parquet ledger sidecar.

    ``processed_among(urls)`` answers "which of THESE listed urls were
    ever recorded?" by pushing the url set into a columnar scan of the
    sidecar's ``source`` column (pyarrow dataset filter — parquet
    dictionary/statistics prune most row groups). Cost per window:
    read O(history bytes of ONE column, pruned), driver memory
    O(listed ∩ history) — never the O(history) dict the monolithic
    JSON ledger materialized. Presence-based like ``Meta.is_processed``
    (an error entry also skips: transfer_service.go:640-648)."""

    def __init__(self, meta_url: str):
        self.dir = sidecar_dir(meta_url)

    def processed_among(self, urls) -> set[str]:
        urls = set(urls)
        if not urls or not os.path.isdir(self.dir):
            return set()
        import pyarrow as pa
        import pyarrow.dataset as ds

        from etly_spark.io.compact import live_partitions, parquet_parts

        # one retry: a concurrent compaction (another transfer sharing
        # this meta URL) may remove partition dirs between our listing
        # and the scan — re-listing then sees the committed segment
        # instead. A second failure is a broken ledger and raises: an
        # empty answer would re-transfer every file the bounded JSON no
        # longer lists.
        for attempt in (0, 1):
            try:
                files = [
                    os.path.join(self.dir, d, f)
                    for d in live_partitions(self.dir, "run_ts")
                    for f in parquet_parts(os.path.join(self.dir, d))
                ]
                if not files:
                    return set()
                data = ds.dataset(files, format="parquet")
                if "source" not in data.schema.names:
                    return set()  # pre-r6 stats-only sidecar: no skip info
                table = data.to_table(
                    columns=["source"], filter=ds.field("source").isin(sorted(urls))
                )
                return set(table["source"].to_pylist())
            except (OSError, pa.ArrowInvalid):
                if attempt:
                    raise
