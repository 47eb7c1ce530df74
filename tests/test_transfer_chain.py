"""One Transfer operator chain behind every entry point: a batch run
(TransferService.run), a streaming micro-batch
(StreamingTransferService.start) and the worker RPC
(TransferService.run_object) land the same per-file counts, ledger
message and routed bytes for the same input, and the streaming path
keeps E1 (MaxErrorCounts) and the parquet ledger sidecar like the
batch path."""

from __future__ import annotations

import os
import threading
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etly_spark import registry
from etly_spark.config import Resource, Source, Target, Transfer
from etly_spark.meta import Meta, ProcessedIndex, sidecar_dir
from etly_spark.pipeline import DONE, TransferService
from etly_spark.streaming import StreamingTransferService

if "chain.Log" not in registry.schemas:
    registry.schemas.register(
        "chain.Log",
        StructType(
            [
                StructField("Id", LongType()),
                StructField("Name", StringType()),
                StructField("Type", StringType()),
            ]
        ),
    )

    @registry.transformers.register("chain.LogToKV")
    def log_to_kv(df):
        return [
            F.col("Id").alias("Key"),
            F.concat_ws("/", F.col("Name"), F.col("Type")).alias("Value"),
        ]

    @registry.filters.register("chain.OnlyTypeA")
    def only_type_a(df):
        return df["Type"] == "a"


FILES = {
    "file1.log": '{"Id":1,"Name":"a","Type":"a"}\n{"werwe:\n{"Id":2,"Name":"b","Type":"b"}\n',
    "file2.log": '{"Id":3,"Name":"c","Type":"a"}\n{"Id":4,"Name":"d","Type":"b"}\n',
}
# per file: (processed, skipped, errors), the ledger message, the routed bytes
COUNTS = {"file1.log": (1, 1, 1), "file2.log": (1, 1, 0)}
MESSAGES = {"file1.log": 'failed to decode json (1 times): {"werwe:', "file2.log": ""}
OUTPUT = {
    "file1.log": b'{"Key":1,"Value":"a/a"}\n',
    "file2.log": b'{"Key":3,"Value":"c/a"}\n',
}


def _transfer(tmp_path, **kw) -> Transfer:
    src = tmp_path / "in"
    src.mkdir()
    (tmp_path / "out").mkdir()
    for name, text in FILES.items():
        (src / name).write_text(text)
    return Transfer(
        name="chain",
        source=Source(name=str(src), data_type="chain.Log"),
        target=Target(name=str(tmp_path / "out" / "<file>")),
        meta=Resource(name=str(tmp_path / "meta.json")),
        transformer="chain.LogToKV",
        filter="chain.OnlyTypeA",
        base_dir=str(tmp_path),
        **kw,
    )


def _stream(spark, t: Transfer):
    q = StreamingTransferService(spark).start(t, available_now=True)
    q.awaitTermination(120)
    return q


def _ledger(tmp_path) -> dict:
    meta = Meta.load(str(tmp_path / "meta.json"))
    return {
        os.path.basename(om.source): (
            (om.record_processed, om.record_skipped, om.record_errors),
            om.message,
        )
        for om in meta.processed.values()
    }


@pytest.mark.parametrize("entry", ["batch", "stream", "rpc"])
def test_entry_points_agree(spark, tmp_path, entry):
    t = _transfer(tmp_path)
    if entry == "rpc":
        # the worker RPC writes no ledger (no message): it reports counts
        counts = {}
        for name in FILES:
            r = TransferService(spark).run_object(t, "file://" + str(tmp_path / "in" / name))
            assert r["Error"] == ""
            counts[name] = (r["RecordProcessed"], r["RecordSkipped"], r["RecordErrors"])
        assert not (tmp_path / "meta.json").exists()
    else:
        if entry == "batch":
            res = TransferService(spark).run(t)
            assert res.status == DONE, res.error
        else:
            assert _stream(spark, t).exception() is None
        ledger = _ledger(tmp_path)
        counts = {name: c for name, (c, _) in ledger.items()}
        assert {name: m for name, (_, m) in ledger.items()} == MESSAGES
    assert counts == COUNTS
    out = {p.name: p.read_bytes() for p in (tmp_path / "out").iterdir()}
    assert out == OUTPUT


def test_stream_max_error_counts_stops_without_ledger(spark, tmp_path):
    """E1 holds in streaming mode: the first decode error reaches
    MaxErrorCounts 1, the micro-batch fails, the query stops, and
    neither ledger records the batch (the restart reprocesses it)."""
    t = _transfer(tmp_path, max_error_counts=1)
    q = StreamingTransferService(spark).start(t, available_now=True)
    with pytest.raises(Exception, match="max errors"):
        q.awaitTermination(120)
    assert not q.isActive
    assert not (tmp_path / "meta.json").exists()
    assert not os.path.exists(sidecar_dir(str(tmp_path / "meta.json")))


def test_stream_ledger_reaches_sidecar(spark, tmp_path):
    """A streaming micro-batch appends the parquet ledger sidecar, so
    its files are in the skip-set source of truth (ProcessedIndex) like
    a batch run's, not only in the bounded JSON."""
    t = _transfer(tmp_path)
    assert _stream(spark, t).exception() is None
    sources = set(Meta.load(str(tmp_path / "meta.json")).processed)
    assert len(sources) == len(FILES)
    assert ProcessedIndex(str(tmp_path / "meta.json")).processed_among(sources) == sources


def _drain_listener_bus(spark) -> None:
    """The status tracker is fed asynchronously by the listener bus;
    drain it so job starts and ends submitted so far are visible."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_ledger_stats_jobs_run_in_the_callers_job_group(spark, tmp_path):
    """The per-file stats job runs on a helper driver thread beside the
    sink; it inherits the caller's job group, so a TimeOut cancel
    (service._run_bounded cancels by job group) reaches it too. Every
    job submitted between two marker jobs — the run's sink and stats
    jobs at least — is in the run's group."""
    t = _transfer(tmp_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = uuid.uuid4().hex

    def in_group(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    in_group(f"before-{tag}", lambda: spark.range(1).collect())
    res = in_group(f"run-{tag}", lambda: TransferService(spark).run(t))
    assert res.status == DONE, res.error
    in_group(f"after-{tag}", lambda: spark.range(1).collect())
    _drain_listener_bus(spark)

    lo = max(tracker.getJobIdsForGroup(f"before-{tag}"))
    hi = min(tracker.getJobIdsForGroup(f"after-{tag}"))
    during = set(range(lo + 1, hi))
    assert len(during) >= 2, during  # the sink job and the stats job
    assert during <= set(tracker.getJobIdsForGroup(f"run-{tag}")), during


def test_stream_micro_batch_collects_once(spark, tmp_path, monkeypatch):
    """A streaming micro-batch makes ONE driver collect: the per-file
    stats rows name the batch's files and carry the ledger counts (no
    separate distinct-FILE collect)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    per_batch: list[int] = []
    inside = threading.local()
    collect = ClassicDataFrame.collect
    process = StreamingTransferService._process_batch

    def counted_collect(self):
        if getattr(inside, "on", False):
            per_batch[-1] += 1
        return collect(self)

    def counted_process(self, *args, **kwargs):
        per_batch.append(0)
        inside.on = True
        try:
            return process(self, *args, **kwargs)
        finally:
            inside.on = False

    monkeypatch.setattr(ClassicDataFrame, "collect", counted_collect)
    monkeypatch.setattr(StreamingTransferService, "_process_batch", counted_process)
    t = _transfer(tmp_path)
    assert _stream(spark, t).exception() is None
    assert per_batch == [1], per_batch
    assert {name: c for name, (c, _) in _ledger(tmp_path).items()} == COUNTS
