"""M1 at scale: the JSON meta is a bounded status surface; the parquet
ledger sidecar is the durable skip-set source of truth (VERDICT r5 punch
item 2 — no monolithic O(history) rewrite per window)."""

from __future__ import annotations

import json
import os

import pytest

from etly_spark import meta as meta_mod
from etly_spark import pipeline as pipeline_mod
from etly_spark.config import TransferConfig
from etly_spark.meta import Meta, ObjectMeta, ProcessedIndex, sidecar_dir
from etly_spark.pipeline import DONE, NOOP, TransferService, _append_ledger_sidecar


def test_ledger_write_is_flat_per_window(tmp_path, monkeypatch):
    """Simulate many windows against one meta: per-window cost must be
    one O(new-files) parquet append + a bounded JSON rewrite — never a
    growing rewrite of the whole history."""
    monkeypatch.setattr(meta_mod, "MAX_JSON_PROCESSED", 100)
    meta_url = str(tmp_path / "meta.json")
    json_sizes = []
    for w in range(20):
        meta = Meta.load(meta_url)
        entries = [
            ObjectMeta(
                source=f"file:///src/w{w:02d}/f{i:03d}.log",
                target=f"file:///out/w{w:02d}/f{i:03d}.log",
                record_processed=3,
            )
            for i in range(100)
        ]
        # one failed file per window — error entries must be durable too
        entries.append(
            ObjectMeta(source=f"file:///src/w{w:02d}/bad.gz", error="truncated gzip")
        )
        meta.add_error(f"w{w:02d}: truncated gzip")
        for e in entries:
            meta.record(e)
        _append_ledger_sidecar(sidecar_dir(meta_url), f"2017-06-12T{w:02d}:00:00", entries)
        meta.save()
        json_sizes.append(os.path.getsize(meta_url))

    # JSON bounded: once the cap is hit, size stays flat (not O(history))
    assert len(json.load(open(meta_url))["Processed"]) == 100
    assert max(json_sizes[5:]) <= json_sizes[4] * 1.05
    # errors list bounded too (MAX_JSON_ERRORS patched below the window
    # count would be overkill here — assert the cap is applied)
    monkeypatch.setattr(meta_mod, "MAX_JSON_ERRORS", 5)
    m = Meta.load(meta_url)
    m.save()
    assert len(json.load(open(meta_url))["Errors"]) == 5
    assert json.load(open(meta_url))["Errors"][-1]["error"].startswith("w19")

    # sidecar append is O(new) by construction: one file per window
    parts = sorted(os.listdir(sidecar_dir(meta_url)))
    assert len(parts) == 20
    for p in parts:
        files = os.listdir(os.path.join(sidecar_dir(meta_url), p))
        assert len([f for f in files if f.endswith(".parquet")]) == 1

    # the index answers membership over the FULL history — including
    # entries long evicted from the JSON, and error entries
    idx = ProcessedIndex(meta_url)
    probe = {
        "file:///src/w00/f000.log",  # oldest, evicted from JSON
        "file:///src/w03/bad.gz",  # error entry
        "file:///src/w19/f099.log",  # newest
        "file:///src/w07/nonexistent.log",
    }
    assert idx.processed_among(probe) == probe - {"file:///src/w07/nonexistent.log"}
    assert "file:///src/w00/f000.log" not in Meta.load(meta_url).processed


def test_index_tolerates_legacy_stats_sidecar(tmp_path):
    """A pre-r6 sidecar (stats-only schema, no `source` column) must
    degrade to 'no skip info' — never crash, never skip wrongly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta_url = str(tmp_path / "meta.json")
    part = tmp_path / "meta.json.files" / "run_ts=2017-06-12T00%3A00%3A00"
    part.mkdir(parents=True)
    pq.write_table(
        pa.table({"__file__": ["file:///a"], "total": [1], "kept": [1]}),
        str(part / "part-legacy.parquet"),
    )
    assert ProcessedIndex(meta_url).processed_among({"file:///a"}) == set()


def test_sidecar_compaction_bounds_directory_count(tmp_path, monkeypatch):
    """Log-structured sidecar: once loose run partitions exceed the
    threshold they fold into a compacted segment (never rewritten), so
    directory count stays bounded at any window count and the index
    still answers the full history."""
    monkeypatch.setattr(pipeline_mod, "COMPACT_THRESHOLD", 8)
    meta_url = str(tmp_path / "meta.json")
    all_urls = set()
    for w in range(30):
        entries = [
            ObjectMeta(source=f"file:///s/w{w:02d}/f{i}.log", record_processed=1)
            for i in range(5)
        ]
        all_urls.update(e.source for e in entries)
        _append_ledger_sidecar(sidecar_dir(meta_url), f"2024-01-01T{w:02d}:00:00", entries)

    names = sorted(os.listdir(sidecar_dir(meta_url)))
    segs = [d for d in names if d.startswith("run_ts=_compacted-")]
    loose = [d for d in names if d.startswith("run_ts=") and d not in segs]
    assert segs, "no compacted segment created"
    assert len(loose) <= 8, f"loose partitions not bounded: {len(loose)}"
    # full history still answered — across segments AND loose runs
    idx = ProcessedIndex(meta_url)
    assert idx.processed_among(all_urls) == all_urls
    assert idx.processed_among({"file:///s/w00/f0.log", "file:///nope"}) == {
        "file:///s/w00/f0.log"
    }


def _ledger_with_two_runs(tmp_path) -> str:
    meta_url = str(tmp_path / "meta.json")
    for w in range(2):
        _append_ledger_sidecar(
            sidecar_dir(meta_url),
            f"2024-01-01T0{w}:00:00",
            [ObjectMeta(source=f"file:///s/w{w}/f{i}.log") for i in range(3)],
        )
    return meta_url


def test_skip_set_raises_on_torn_sidecar_part(tmp_path):
    """A half-written part file is a broken ledger: the skip-set must
    fail loudly, not answer 'nothing processed' (which would re-transfer
    every file the bounded JSON no longer lists)."""
    meta_url = _ledger_with_two_runs(tmp_path)
    run = os.path.join(sidecar_dir(meta_url), sorted(os.listdir(sidecar_dir(meta_url)))[0])
    good = os.path.join(run, os.listdir(run)[0])
    with open(good, "rb") as f:
        head = f.read(40)
    with open(os.path.join(run, "part-torn.parquet"), "wb") as f:
        f.write(head)
    import pyarrow as pa

    with pytest.raises((OSError, pa.ArrowInvalid)):
        ProcessedIndex(meta_url).processed_among({"file:///s/w1/f0.log"})


def test_skip_set_ignores_tmp_leftover(tmp_path):
    """A crash before a sidecar part's commit leaves a `_tmp-*` file;
    the skip-set's answer is unchanged by it."""
    meta_url = _ledger_with_two_runs(tmp_path)
    probe = {"file:///s/w0/f1.log", "file:///s/w1/f2.log", "file:///nope"}
    before = ProcessedIndex(meta_url).processed_among(probe)
    run = os.path.join(sidecar_dir(meta_url), sorted(os.listdir(sidecar_dir(meta_url)))[1])
    with open(os.path.join(run, "_tmp-0123456789ab"), "wb") as f:
        f.write(b"PAR1 torn")
    assert ProcessedIndex(meta_url).processed_among(probe) == before
    assert before == probe - {"file:///nope"}


@pytest.fixture()
def many_files_cfg(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    for i in range(25):
        (src / f"f{i:03d}.log").write_text(
            f'{{"Id":{i},"Name":"n{i}","Type":"a"}}\n'
        )
    (tmp_path / "out").mkdir()
    cfg = {
        "Transfers": [
            {
                "Name": "many",
                "Source": {
                    "Name": "file://<pwd>in",
                    "Type": "url",
                    "DataFormat": "ndjson",
                    "DataType": "test.Log1",
                },
                "Target": {"Name": "file://<pwd>out/<mod:2>_<file>", "Type": "url"},
                "Meta": {"Name": "file://<pwd>out/meta.json"},
                "Transformer": "test.Log1ToLog2",
                "MaxTransfers": 100,
            }
        ]
    }
    p = tmp_path / "transfer.json"
    p.write_text(json.dumps(cfg))
    return tmp_path, TransferConfig.from_json(str(p))


def test_skip_survives_json_eviction(spark, many_files_cfg, monkeypatch):
    """End-to-end: with the JSON bound far below the file count, a
    re-run is still NOOP — the sidecar index, not the JSON, is the
    skip-set source of truth."""
    import tests.test_pipeline_e2e  # registers test.Log1 schema/transformer

    monkeypatch.setattr(meta_mod, "MAX_JSON_PROCESSED", 10)
    tmp_path, cfg = many_files_cfg
    svc = TransferService(spark)
    r1 = svc.run(cfg.transfers[0])
    assert r1.status == DONE, r1.error
    assert r1.progress.file_processed == 25

    m = Meta.load(str(tmp_path / "out" / "meta.json"))
    assert len(m.processed) == 10  # bounded surface

    r2 = svc.run(cfg.transfers[0])
    assert r2.status == NOOP
    assert r2.progress.record_processed == 0 and r2.progress.file_processed == 0
