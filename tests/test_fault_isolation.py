"""Per-file fault isolation (transfer_service.go:718-737 parity).

A window reads all eligible files in ONE Spark job; when one file is
unreadable (truncated gzip here), the failure must be attributed to THAT
file — error entry in the meta ledger, marked processed so the next run
skips it ("log this to meta so we can skip it next time",
transfer_service.go:640-648) — while the healthy files' records still
land. The second run must NOOP.
"""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etly_spark import registry
from etly_spark.config import TransferConfig
from etly_spark.meta import Meta
from etly_spark.pipeline import DONE, NOOP, TransferService
from etly_spark.sources.storage import probe_object

if "test.FaultLog" not in registry.schemas:
    registry.schemas.register(
        "test.FaultLog",
        StructType([StructField("Id", LongType()), StructField("Name", StringType())]),
    )


def _gz_bytes(text: str) -> bytes:
    return gzip.compress(text.encode())


@pytest.fixture()
def faultdir(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "good.log.gz").write_bytes(
        _gz_bytes('{"Id":1,"Name":"a"}\n{"Id":2,"Name":"b"}\n')
    )
    # valid gzip stream cut mid-member: decompression hits EOF mid-stream
    whole = _gz_bytes(('{"Id":9,"Name":"x"}\n' * 200))
    (src / "bad.log.gz").write_bytes(whole[: len(whole) // 2])
    (tmp_path / "out").mkdir()
    return tmp_path


def _config(tmp_path) -> TransferConfig:
    cfg = {
        "Transfers": [
            {
                "Name": "fault",
                "Source": {
                    "Name": "file://<pwd>in",
                    "Type": "url",
                    "DataFormat": "ndjson",
                    "DataType": "test.FaultLog",
                },
                "Target": {
                    "Name": "file://<pwd>out/<file>",
                    "Type": "url",
                    "DataFormat": "ndjson",
                    "Compression": "gzip",
                },
                "Meta": {"Name": "file://<pwd>out/meta.json"},
                "MaxTransfers": 10,
            }
        ]
    }
    path = tmp_path / "transfer.json"
    path.write_text(json.dumps(cfg))
    return TransferConfig.from_json(str(path))


def test_probe_object_classifies_files(faultdir):
    good = "file://" + str(faultdir / "in" / "good.log.gz")
    bad = "file://" + str(faultdir / "in" / "bad.log.gz")
    assert probe_object(good) is None
    assert probe_object(bad) is not None
    assert probe_object("file://" + str(faultdir / "in" / "missing.gz"))


def test_bad_file_isolated_good_file_lands(spark, faultdir):
    cfg = _config(faultdir)
    svc = TransferService(spark)
    result = svc.run(cfg.transfers[0])
    assert result.status == DONE, result.error
    # the failed batch's per-file stats job (a helper thread beside the
    # sink) was joined before the run returned: no job outlives it
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []

    # healthy file's records landed
    out = faultdir / "out" / "good.log.gz"
    assert out.exists()
    lines = gzip.decompress(out.read_bytes()).decode().strip().splitlines()
    assert len(lines) == 2
    assert {json.loads(l)["Id"] for l in lines} == {1, 2}
    # the bad file produced no output object
    assert not (faultdir / "out" / "bad.log.gz").exists()

    # ledger: both files recorded; bad one carries the error
    meta = Meta.load(str(faultdir / "out" / "meta.json"))
    bad_url = "file://" + str(faultdir / "in" / "bad.log.gz")
    good_url = "file://" + str(faultdir / "in" / "good.log.gz")
    assert meta.is_processed(good_url) and meta.is_processed(bad_url)
    assert meta.processed[bad_url].error
    assert meta.processed[good_url].record_processed == 2
    assert any("bad.log.gz" in e["error"] for e in meta.errors)

    # second run: both files skipped → NOOP, no reprocessing
    result2 = svc.run(cfg.transfers[0])
    assert result2.status == NOOP, result2.error
    meta2 = Meta.load(str(faultdir / "out" / "meta.json"))
    assert len(meta2.errors) == len(meta.errors)  # no new error entries


def test_all_files_healthy_no_probe_cost(spark, tmp_path):
    """Happy path still single-job (sanity: isolation path not taken)."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "f.log").write_text('{"Id":5,"Name":"z"}\n')
    (tmp_path / "out").mkdir()
    cfg = _config(tmp_path)
    svc = TransferService(spark)
    result = svc.run(cfg.transfers[0])
    assert result.status == DONE, result.error
    assert (tmp_path / "out" / "f.log").exists()
