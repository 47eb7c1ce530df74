"""Fault isolation across windows: one window's unreadable file must be
attributed to that window — its own ledger when windows run as
concurrent groups, its own sidecar partition when they share a ledger
and run as one batch — while every other window lands normally."""

from __future__ import annotations

import gzip
import json
from datetime import datetime, timezone

import pyarrow.dataset as ds

from etly_spark.config import Duration, Resource, Source, Target, Transfer
from etly_spark.meta import Meta, sidecar_dir
from etly_spark.pipeline import DONE, NOOP, TransferService

import tests.test_fault_isolation  # noqa: F401 — registers test.FaultLog


DAYS = ("20240108", "20240109", "20240110")
NOW = datetime(2024, 1, 10, 12, 0, 0, tzinfo=timezone.utc)


def _three_windows_one_bad(tmp_path, meta_name: str) -> Transfer:
    for day in DAYS:
        d = tmp_path / "in" / day
        d.mkdir(parents=True)
        (d / "good.log.gz").write_bytes(
            gzip.compress(f'{{"Id":{int(day[-2:])},"Name":"n{day}"}}\n'.encode())
        )
    # middle window also has a truncated gzip
    whole = gzip.compress(('{"Id":9,"Name":"x"}\n' * 200).encode())
    (tmp_path / "in" / "20240109" / "bad.log.gz").write_bytes(whole[: len(whole) // 2])
    (tmp_path / "out").mkdir()
    return Transfer(
        name="pfault",
        source=Source(
            name=str(tmp_path / "in" / "<dateFormat:yyyyMMdd>"),
            data_type="test.FaultLog",
        ),
        target=Target(
            name=str(tmp_path / "out" / "<dateFormat:yyyyMMdd>" / "<file>"),
            compression="gzip",
        ),
        meta=Resource(name=str(tmp_path / "out" / meta_name)),
        time_window=Duration(duration=3, unit="day"),
        base_dir=str(tmp_path),
    )


def _assert_healthy_files_landed(tmp_path) -> None:
    # every window's healthy file landed — including the faulted window's
    for day in DAYS:
        out = tmp_path / "out" / day / "good.log.gz"
        assert out.exists(), f"healthy output missing for {day}"
        rec = json.loads(gzip.decompress(out.read_bytes()).decode().splitlines()[0])
        assert rec["Id"] == int(day[-2:])


def test_one_bad_window_does_not_poison_siblings(spark, tmp_path):
    t = _three_windows_one_bad(tmp_path, "meta-<dateFormat:yyyyMMdd>.json")
    result = TransferService(spark).run(t, NOW)
    assert result.status == DONE, result.error
    _assert_healthy_files_landed(tmp_path)

    # the bad file is ledgered as an error in ITS window's meta only
    m_bad = Meta.load(str(tmp_path / "out" / "meta-20240109.json"))
    bad_entries = [v for v in m_bad.processed.values() if v.error]
    assert len(bad_entries) == 1 and "bad.log.gz" in bad_entries[0].source
    for day in ("20240108", "20240110"):
        m = Meta.load(str(tmp_path / "out" / f"meta-{day}.json"))
        assert not [v for v in m.processed.values() if v.error]
        assert len(m.processed) == 1

    # all three windows (incl. the bad file's skip entry) NOOP on re-run
    r2 = TransferService(spark).run(t, NOW)
    assert r2.status == NOOP, (r2.status, r2.error)


def test_bad_file_in_shared_ledger_batch_lands_in_its_window(spark, tmp_path):
    """Three windows sharing one meta file run as one batch: the merged
    read fails, the probe attributes the truncated gzip, and the error
    entry lands under the bad window's run_ts partition while every
    window's healthy file lands in the retry."""
    t = _three_windows_one_bad(tmp_path, "meta.json")
    result = TransferService(spark).run(t, NOW)
    assert result.status == DONE, result.error
    assert result.progress.file_processed == 4
    _assert_healthy_files_landed(tmp_path)

    meta_url = str(tmp_path / "out" / "meta.json")
    m = Meta.load(meta_url)
    assert len(m.processed) == 4
    bad = [v for v in m.processed.values() if v.error]
    assert len(bad) == 1 and bad[0].source.endswith("20240109/bad.log.gz")
    rows = (
        ds.dataset(sidecar_dir(meta_url), partitioning="hive")
        .to_table(columns=["run_ts", "source", "error"])
        .to_pylist()
    )
    assert len(rows) == 4
    by_file = {"/".join(r["source"].split("/")[-2:]): r for r in rows}
    bad_row = by_file["20240109/bad.log.gz"]
    assert bad_row["error"] and bad_row["run_ts"] == "2024-01-09T12:00:00+00:00"
    for day in DAYS:
        row = by_file[f"{day}/good.log.gz"]
        assert not row["error"]
        assert row["run_ts"] == f"{day[:4]}-{day[4:6]}-{day[6:]}T12:00:00+00:00"

    r2 = TransferService(spark).run(t, NOW)
    assert r2.status == NOOP, (r2.status, r2.error)
