"""Windows sharing one ledger run as ONE pass per run: one Meta load
and save, one skip-set probe, one Spark plan over every window's
eligible files, one sidecar partition per window that had files. The
status roll-up adds each source's landed records to its own previous
count, and the window-scoped pieces (datasheet paths, enricher
context) keep their per-window meaning inside the merged batch."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pyarrow.dataset as ds
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etly_spark import pipeline as pipeline_mod
from etly_spark import registry
from etly_spark.config import DatasheetSpec, Duration, Resource, Source, Target, Transfer
from etly_spark.meta import Meta, ProcessedIndex, sidecar_dir
from etly_spark.pipeline import DONE, NOOP, TransferService

import tests.test_pipeline_e2e  # noqa: F401 — registers test.Log1 types

NOW = datetime(2024, 1, 10, 12, 0, 0, tzinfo=timezone.utc)


def _write_log(path, ids) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(
        "".join(f'{{"Id":{i},"Name":"n{i}","Type":"a"}}\n' for i in ids)
    )


def _daily(tmp_path, days: int, **kw) -> Transfer:
    return Transfer(
        name="grp",
        source=Source(
            name=str(tmp_path / "in" / "<dateFormat:yyyyMMdd>"), data_type="test.Log1"
        ),
        target=Target(name=str(tmp_path / "out" / "<dateFormat:yyyyMMdd>" / "<file>")),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),  # ONE ledger
        transformer="test.Log1ToLog2",
        time_window=Duration(duration=days, unit="day"),
        base_dir=str(tmp_path),
        **kw,
    )


def test_shared_ledger_status_total_equals_records_landed(spark, tmp_path):
    """Each source's record_processed grows by what the run landed from
    it (meta.go:48-61), so the ledger total is the records landed — not
    a per-window re-add of the running total."""
    for day, ids in (("20240108", [1, 2]), ("20240109", [3, 4, 5]), ("20240110", [6, 7, 8, 9])):
        _write_log(tmp_path / "in" / day / "a.log", ids)
    t = _daily(tmp_path, 3)
    meta_path = str(tmp_path / "out" / "meta.json")

    r1 = TransferService(spark).run(t, NOW)
    assert r1.status == DONE, r1.error
    m = Meta.load(meta_path)
    assert m.status.record_processed == 9
    by_src = {os.path.basename(k): v.record_processed for k, v in m.resource_status.items()}
    assert by_src == {"20240108": 2, "20240109": 3, "20240110": 4}
    assert m.status.resource_processed == 3 and m.status.resource_pending == 0

    # second run: one new file in one window; the others add nothing
    _write_log(tmp_path / "in" / "20240109" / "b.log", [10, 11])
    r2 = TransferService(spark).run(t, NOW)
    assert r2.status == DONE, r2.error
    assert r2.progress.record_processed == 2
    m = Meta.load(meta_path)
    assert m.status.record_processed == 11
    assert m.status.resource_processed == 4

    r3 = TransferService(spark).run(t, NOW)
    assert r3.status == NOOP, r3.error
    assert Meta.load(meta_path).status.record_processed == 11


def test_one_pass_per_ledger_group_work_counts(spark, tmp_path, monkeypatch):
    """A 24-hour look-back on one ledger with files in 2 windows: one
    read and one routed write per run, one Meta load/save and one
    skip-set probe per group, one sidecar partition per window that
    had files, and no Spark job at all on a tick that finds nothing."""
    hours = (0, 5)
    for h in hours:
        d = (NOW - timedelta(hours=h)).strftime("%Y%m%d%H")
        _write_log(tmp_path / "in" / d / f"h{h}.log", [h * 10 + 1, h * 10 + 2])
    t = Transfer(
        name="counts",
        source=Source(
            name=str(tmp_path / "in" / "<dateFormat:yyyyMMddHH>"), data_type="test.Log1"
        ),
        target=Target(name=str(tmp_path / "out" / "<dateFormat:yyyyMMddHH>" / "<file>")),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),
        transformer="test.Log1ToLog2",
        time_window=Duration(duration=24, unit="hour"),
        base_dir=str(tmp_path),
    )

    calls: dict[str, int] = {}

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(pipeline_mod, "read_records", counted("read", pipeline_mod.read_records))
    svc = TransferService
    monkeypatch.setattr(svc, "_write_routed", counted("write", svc._write_routed))
    monkeypatch.setattr(svc, "_run_url_window", counted("window", svc._run_url_window))
    monkeypatch.setattr(Meta, "load", classmethod(counted("load", Meta.load.__func__)))
    monkeypatch.setattr(Meta, "save", counted("save", Meta.save))
    monkeypatch.setattr(
        ProcessedIndex, "processed_among", counted("skipset", ProcessedIndex.processed_among)
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(group: str):
        calls.clear()
        sc.setJobGroup(group, group)
        try:
            res = TransferService(spark).run(t, NOW)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return res, len(tracker.getJobIdsForGroup(group))

    res, jobs = run("ledger-groups-landing")
    assert res.status == DONE, res.error
    assert res.progress.file_processed == 2 and res.progress.record_processed == 4
    assert calls == {"window": 24, "load": 1, "skipset": 1, "read": 1, "write": 1, "save": 1}
    assert jobs > 0  # the job-group probe sees this run's jobs

    parts = sorted(os.listdir(sidecar_dir(str(tmp_path / "out" / "meta.json"))))
    assert len(parts) == 2, parts
    run_ts = set(
        ds.dataset(sidecar_dir(str(tmp_path / "out" / "meta.json")), partitioning="hive")
        .to_table(columns=["run_ts"])["run_ts"]
        .to_pylist()
    )
    assert run_ts == {(NOW - timedelta(hours=h)).isoformat() for h in hours}

    res, jobs = run("ledger-groups-empty")
    assert res.status == NOOP, res.error
    assert calls == {"window": 24, "load": 1, "skipset": 1, "save": 1}
    assert jobs == 0


def _register_doc_schema() -> None:
    if "test.SheetDoc" not in registry.schemas:
        registry.schemas.register(
            "test.SheetDoc",
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("text", StringType()),
                    StructField("source", StringType()),
                ]
            ),
        )


def _write_docs(path, ids) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(
        "".join(
            json.dumps({"doc_id": i, "text": f"plain document number {i}", "source": "crawl"})
            + "\n"
            for i in ids
        )
    )


def _doc_transfer(tmp_path, **kw) -> Transfer:
    _register_doc_schema()
    return Transfer(
        name="sheets",
        source=Source(
            name=str(tmp_path / "in" / "<dateFormat:yyyyMMdd>"), data_type="test.SheetDoc"
        ),
        target=Target(name=str(tmp_path / "out" / "<dateFormat:yyyyMMdd>" / "<file>")),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),
        time_window=Duration(duration=2, unit="day"),
        base_dir=str(tmp_path),
        **kw,
    )


def test_datasheet_per_expanded_path_in_merged_batch(spark, tmp_path):
    """A date-templated Datasheet.Name over 2 windows of one batch gives
    2 reports, each over its own window's rows."""
    _write_docs(tmp_path / "in" / "20240109" / "d.log", [1, 2])
    _write_docs(tmp_path / "in" / "20240110" / "d.log", [3, 4, 5])
    t = _doc_transfer(
        tmp_path,
        datasheet=DatasheetSpec(name=str(tmp_path / "out" / "sheet-<dateFormat:yyyyMMdd>.json")),
    )
    res = TransferService(spark).run(t, NOW)
    assert res.status == DONE, res.error
    for day, docs, back in (("20240109", 2, 1), ("20240110", 3, 0)):
        sheet = json.loads((tmp_path / "out" / f"sheet-{day}.json").read_text())
        assert sheet["corpus"]["docs"] == docs, day
        assert sheet["window_ts"] == (NOW - timedelta(days=back)).isoformat()


_CTX_SEEN: list[dict] = []

if "test.CaptureCtx" not in registry.enrichers:

    @registry.enrichers.register("test.CaptureCtx")
    def _capture_ctx(df, ctx):
        _CTX_SEEN.append(ctx)
        return df


def test_enricher_context_lists_every_window_of_the_batch(spark, tmp_path):
    """ctx['source_url'] stays the newest window's source string;
    ctx['source_urls'] lists every window whose files are in the batch."""
    _write_docs(tmp_path / "in" / "20240109" / "d.log", [1])
    _write_docs(tmp_path / "in" / "20240110" / "d.log", [2])
    _write_docs(tmp_path / "in" / "20240107" / "d.log", [3])  # outside the look-back
    t = _doc_transfer(tmp_path, content_enricher="test.CaptureCtx")
    _CTX_SEEN.clear()
    res = TransferService(spark).run(t, NOW)
    assert res.status == DONE, res.error
    assert len(_CTX_SEEN) == 1
    newest, older = (str(tmp_path / "in" / d) for d in ("20240110", "20240109"))
    assert _CTX_SEEN[0]["source_url"] == newest
    assert _CTX_SEEN[0]["source_urls"] == [newest, older]
