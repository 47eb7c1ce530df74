"""Pipeline spec: dataclasses mirroring the reference Transfer rule.

Shape parity with config.go:15-147 (Transfer/Source/Target/Resource/
Duration) and the JSON layout of test/transfer_config{1,2}.json, so a
reference user's config ports with field-name fidelity. The spec is the
engine's "query": it compiles to one DataFrame DAG per run
(read → dispatch → enrich → filter → transform → route → write).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Any

_UNITS = {
    "day": timedelta(days=1),
    "hour": timedelta(hours=1),
    "min": timedelta(minutes=1),
    "sec": timedelta(seconds=1),
    "milli": timedelta(milliseconds=1),
}


@dataclass
class Duration:
    """config.go:145-186 — duration with unit ∈ day/hour/min/sec/milli."""

    duration: int = 0
    unit: str = "sec"

    def to_timedelta(self) -> timedelta:
        u = self.unit.lower()
        if u not in _UNITS:
            raise ValueError(f"Unsupported time unit {self.unit}")
        return _UNITS[u] * self.duration

    @classmethod
    def from_dict(cls, d: dict | None) -> Duration | None:
        if not d:
            return None
        return cls(duration=int(d.get("Duration", 0)), unit=d.get("Unit", "sec"))


@dataclass
class DataTypeMatch:
    """Per-line decode-type dispatch (config.go:248-251): substring match
    selects the schema; empty data_type ⇒ drop the line."""

    matching_fragment: str
    data_type: str = ""


@dataclass
class VariableExtraction:
    """config.go:254-268 — declarative $var extraction: from sourceUrl via
    regex capture group 1, or from source/target record via provider."""

    name: str
    source: str  # 'sourceUrl' | 'source' | 'target'
    reg_expr: str | None = None
    provider: str | None = None


@dataclass
class Resource:
    """config.go:72-98 — URI + format + codec (+ schema/datastore config)."""

    name: str = ""  # URL, SQL, or bq://project/dataset.table
    type: str = "url"  # 'url' | 'datastore'
    data_format: str = "ndjson"  # ndjson | json | csv | parquet | text
    compression: str = ""  # '' | gzip/bzip2/deflate/xz/lz4/snappy (io/compress.SINK_CODECS)
    credential_file: str = ""
    data_type: str = ""  # registered schema name (Source side)
    schema_url: str = ""  # BigQuery-style schema file (Target side)
    ds_config: dict[str, Any] = field(default_factory=dict)


@dataclass
class Source(Resource):
    """config.go:113-118."""

    filter_reg_exp: str = ""
    data_type_match: list[DataTypeMatch] = field(default_factory=list)
    batch_size: int = 0


@dataclass
class Target(Resource):
    """config.go:132-136; default max batch 64 MiB (transfer_service.go:27)."""

    transfer_method: str = ""
    max_allowed_size: int = 64 * 1024 * 1024
    # Z-order clustering for columnar dataset sinks: rows are Morton-
    # clustered on these columns before the write so parquet min/max
    # pruning works on every listed column (operators/layout.py).
    cluster_by: list[str] = field(default_factory=list)
    cluster_files: int = 8
    # annIndexFold targets (r14 — operators/ann_index_sink): knobs for
    # the config-owned index maintenance loop. AnticipatedShards sizes
    # the frozen quantizer; EncodeEvery / CompactThreshold schedule the
    # offline rungs inline once that many loose partitions accumulate.
    index_options: dict = field(default_factory=dict)


@dataclass
class Rollup:
    """Spark-native extension (no reference analogue — meta.go tracks
    files only): a durable keyed rollup folded per run from the
    transferred records' partial aggregates (operators/incremental_agg).
    ``aggregates`` maps output column -> 'count' | 'sum:<col>' |
    'min:<col>' | 'max:<col>' | 'distinct:<col>'; folds land one epoch
    PER FILE (md5 of the file URL), so every retry shape — including a
    crash retried with a changed batch — overwrites its own per-file
    partials instead of double-counting. Keys should be low-cardinality
    (it is an aggregate rollup); url-type sources only."""

    state_dir: str = ""
    keys: list[str] = field(default_factory=list)
    aggregates: dict[str, str] = field(default_factory=dict)
    compact_threshold: int = 16


@dataclass
class DatasheetSpec:
    """Spark-native extension (r12, no reference analogue): ship a
    corpus DATASHEET (operators/datasheet — Gebru et al. per-source
    composition/lang/quality/dup/PII/media rollups) with the transfer's
    output. ``name`` is the JSON report path (<pwd>/date templates
    expand like Meta.Name; one report per distinct expanded path,
    written atomically over the transferred rows of the windows that
    expand to it); ``payload_field`` names an optional
    binary column for the media stats (auto-detects 'payload')."""

    name: str = ""
    payload_field: str | None = None


@dataclass
class Transfer:
    """The transfer rule (config.go:15-35): the engine's query unit."""

    name: str = ""
    source: Source = field(default_factory=Source)
    target: Target = field(default_factory=Target)
    meta: Resource | None = None
    time_window: Duration | None = None
    frequency: Duration | None = None
    max_parallel_transfers: int = 0
    max_transfers: int = 0
    transformer: str = ""
    filter: str = ""
    content_enricher: str = ""
    variable_extraction: list[VariableExtraction] = field(default_factory=list)
    max_error_counts: int | None = None
    time_out: Duration | None = None
    repeat: int = 0
    fail_retry: int = 1
    rollup: Rollup | None = None
    datasheet: DatasheetSpec | None = None
    base_dir: str = "."  # <pwd> expansion base (config file directory)

    def validate(self) -> None:
        """config.go:53-65: every named callable must be registered."""
        from etly_spark import builtins as _builtins  # noqa: F401  (registers etly.* names)
        from etly_spark import registry

        if self.source.data_type and self.source.data_type not in registry.schemas:
            raise ValueError(
                f"failed to lookup schema for data type '{self.source.data_type}': "
                f"{self.source.name} -> {self.target.name}"
            )
        comp = (self.source.compression or "").lower()
        fmt = (self.source.data_format or "ndjson").lower()
        if comp:
            # config-level, BEFORE any window runs: a bad combination
            # raised mid-read would be misrouted into per-file fault
            # isolation (the probe would attribute a config mistake to
            # data files)
            from etly_spark.io import compress as _compress

            if comp not in _compress.SINK_CODECS:
                raise ValueError(f"unsupported source compression: {comp}")
            if fmt in ("csv", "parquet"):
                raise ValueError(
                    f"Source.Compression is not supported for format {fmt!r}"
                )
            if fmt in ("warc", "wet") and comp != "gzip":
                raise ValueError(
                    f"warc sources support only gzip compression: {comp}"
                )
        for attr, reg in [
            ("transformer", registry.transformers),
            ("filter", registry.filters),
            ("content_enricher", registry.enrichers),
        ]:
            nm = getattr(self, attr)
            if nm and nm not in reg:
                raise ValueError(f"failed to lookup {attr} '{nm}'")
        for ve in self.variable_extraction:
            if ve.source.lower() in ("source", "target") and (
                not ve.provider or ve.provider not in registry.variable_providers
            ):
                raise ValueError(f"failed to lookup variable provider '{ve.provider}'")
        if self.rollup is not None:
            # pure-Python spec check: validation must not need a live
            # SparkSession (config linting / service startup ordering)
            from etly_spark.operators.incremental_agg import parse_rollup_spec

            if not (self.rollup.state_dir and self.rollup.keys and self.rollup.aggregates):
                raise ValueError("Rollup requires StateDir, Keys and Aggregates")
            if "://" in self.rollup.state_dir:
                # including file:// — Spark would resolve the URI while
                # the state store's os.* bookkeeping would use the raw
                # string, silently splitting the state in two places
                raise ValueError(
                    "Rollup.StateDir must be a plain local path: the state "
                    "store's epoch/manifest bookkeeping is local-filesystem "
                    "only"
                )
            if self.source.type == "datastore":
                raise ValueError(
                    "Rollup requires a url-type source: fold epochs are keyed "
                    "by the exactly-once file ledger, which a datastore query "
                    "re-run does not have (the fold would silently never run)"
                )
            parse_rollup_spec(self.rollup.aggregates)  # surface bad specs at config time
        method = (self.target.transfer_method or "").lower()
        if method == "annindexfold" and self.source.type == "datastore":
            raise ValueError(
                "annIndexFold requires a url-type source: fold epochs are "
                "keyed by the batch's source-file set, which a datastore "
                "query re-run does not have"
            )
        if self.datasheet is not None and not self.datasheet.name:
            raise ValueError("Datasheet requires Name (the JSON report path)")


def _resource_from_dict(d: dict, cls=Resource):
    kw = dict(
        name=d.get("Name", ""),
        type=d.get("Type", "url"),
        data_format=d.get("DataFormat", "ndjson"),
        compression=d.get("Compression", ""),
        credential_file=d.get("CredentialFile", ""),
        data_type=d.get("DataType", ""),
        schema_url=d.get("Schema", "") if isinstance(d.get("Schema"), str) else "",
        ds_config=d.get("DsConfig", {}) or {},
    )
    if cls is Source:
        kw.update(
            filter_reg_exp=d.get("FilterRegExp", ""),
            batch_size=int(d.get("BatchSize", 0) or 0),
            data_type_match=[
                DataTypeMatch(m.get("MatchingFragment", ""), m.get("DataType", ""))
                for m in d.get("DataTypeMatch", []) or []
            ],
        )
    if cls is Target:
        kw.update(
            transfer_method=d.get("TransferMethod", ""),
            max_allowed_size=int(d.get("MaxAllowedSize", 0) or 0) or 64 * 1024 * 1024,
            cluster_by=list(d.get("ClusterBy", []) or []),
            cluster_files=int(d.get("ClusterFiles", 0) or 0) or 8,
            index_options=dict(d.get("IndexOptions", {}) or {}),
        )
    return cls(**kw)


def transfer_from_dict(d: dict, base_dir: str = ".") -> Transfer:
    return Transfer(
        name=d.get("Name", ""),
        source=_resource_from_dict(d.get("Source", {}) or {}, Source),
        target=_resource_from_dict(d.get("Target", {}) or {}, Target),
        meta=_resource_from_dict(d["Meta"]) if d.get("Meta") else None,
        time_window=Duration.from_dict(d.get("TimeWindow")),
        frequency=Duration.from_dict(d.get("Frequency")),
        max_parallel_transfers=int(d.get("MaxParallelTransfers", 0) or 0),
        max_transfers=int(d.get("MaxTransfers", 0) or 0),
        transformer=d.get("Transformer", ""),
        filter=d.get("Filter", ""),
        content_enricher=d.get("ContentEnricher", ""),
        variable_extraction=[
            VariableExtraction(
                name=v.get("Name", ""),
                source=v.get("Source", ""),
                reg_expr=v.get("RegExpr"),
                provider=v.get("Provider"),
            )
            for v in d.get("VariableExtraction", []) or []
        ],
        max_error_counts=d.get("MaxErrorCounts"),
        time_out=Duration.from_dict(d.get("TimeOut")),
        repeat=int(d.get("Repeat", 0) or 0),
        fail_retry=max(1, int(d.get("FailRetry", 1) or 1)),
        rollup=(
            Rollup(
                state_dir=d["Rollup"].get("StateDir", ""),
                keys=list(d["Rollup"].get("Keys", []) or []),
                aggregates=dict(d["Rollup"].get("Aggregates", {}) or {}),
                # .get default (not or-chaining): an explicit 0 means
                # compact-on-every-fold and must survive the parse;
                # an explicit JSON null falls back to the default
                compact_threshold=(
                    16
                    if d["Rollup"].get("CompactThreshold", 16) is None
                    else int(d["Rollup"].get("CompactThreshold", 16))
                ),
            )
            if d.get("Rollup")
            else None
        ),
        datasheet=(
            DatasheetSpec(
                name=d["Datasheet"].get("Name", ""),
                payload_field=d["Datasheet"].get("PayloadField"),
            )
            if d.get("Datasheet")
            else None
        ),
        base_dir=base_dir,
    )


@dataclass
class TransferConfig:
    transfers: list[Transfer] = field(default_factory=list)

    @classmethod
    def from_json(cls, path: str) -> TransferConfig:
        """Load {"Transfers": [...]} (config.go:284-296); <pwd> resolves
        relative to the config file's directory."""
        with open(path) as f:
            raw = json.load(f)
        base = os.path.dirname(os.path.abspath(path))
        return cls(
            transfers=[transfer_from_dict(t, base) for t in raw.get("Transfers", [])]
        )
