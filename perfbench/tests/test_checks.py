"""Output checkers on small generated cases, clean and corrupted (no Spark)."""

import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen


def _generate(tmp_path):
    paths = [str(tmp_path / "in" / f"f{i}.ndjson.gz") for i in range(3)]
    exp = gen.write_event_files(np.random.default_rng(7), paths, 40, first_id=1)
    return paths, exp


def _land(out_dir, records):
    """Write records the way the transfer sink lands them."""
    os.makedirs(out_dir, exist_ok=True)
    lines = "".join(json.dumps({"Key": k, "Value": v}) + "\n" for k, v in records)
    with open(os.path.join(out_dir, "bucket-0.ndjson.gz"), "wb") as fh:
        fh.write(gzip.compress(lines.encode()))


def _expected_records(paths):
    out = []
    for p in paths:
        for line in gzip.decompress(open(p, "rb").read()).decode().splitlines():
            r = json.loads(line)
            out.append((r["id"], gen.kv_value(r["type"], r["user"], r["msg"])))
    return out


def test_generator_is_deterministic_and_counts_what_it_wrote(tmp_path):
    paths, exp = _generate(tmp_path / "a")
    paths2, exp2 = _generate(tmp_path / "b")
    assert [open(p, "rb").read() for p in paths] == [open(p, "rb").read() for p in paths2]
    assert exp.ids == list(range(1, 121)) and exp2.digest == exp.digest
    assert [i for i, _ in _expected_records(paths)] == exp.ids
    assert gen.value_digest(v for _, v in _expected_records(paths)) == exp.digest


def test_landed_matches_clean_and_detects_corruption(tmp_path):
    paths, exp = _generate(tmp_path)
    recs = _expected_records(paths)
    out = str(tmp_path / "out")
    _land(out, recs)
    assert checks.landed_matches(checks.read_landed(out), exp) == []

    _land(out, recs[:-1])  # a lost record
    assert any("landed" in p for p in checks.landed_matches(checks.read_landed(out), exp))

    _land(out, recs[:-1] + [recs[0]])  # right count, one duplicate
    problems = checks.landed_matches(checks.read_landed(out), exp)
    assert any("duplicate" in p for p in problems)

    bad = list(recs)
    bad[3] = (bad[3][0], bad[3][1] + "x")  # same ids, altered value
    _land(out, bad)
    assert checks.landed_matches(checks.read_landed(out), exp) == [
        "landed values differ from the generated values"
    ]


def _ledger(meta, files, sidecar_sources):
    urls = {"file://" + os.path.abspath(f): {} for f in files}
    os.makedirs(os.path.dirname(meta), exist_ok=True)
    with open(meta, "w") as fh:
        json.dump({"Processed": urls}, fh)
    part = os.path.join(meta + ".files", "run_ts=2026-01-01T12")
    os.makedirs(part, exist_ok=True)
    pq.write_table(pa.table({"source": ["file://" + os.path.abspath(f) for f in sidecar_sources]}),
                   os.path.join(part, "part-0.parquet"))


def test_ledger_lists_each_file_once(tmp_path):
    paths, _ = _generate(tmp_path)
    meta = str(tmp_path / "meta" / "m.json")
    _ledger(meta, paths, paths)
    assert checks.ledger_lists_once(meta, paths) == []

    _ledger(meta, paths, paths + paths[:1])  # a file recorded twice
    assert checks.ledger_lists_once(meta, paths) == ["ledger sidecar lists 1 files more than once"]

    _ledger(meta, paths[:2], paths[:2])  # a file never recorded
    problems = checks.ledger_lists_once(meta, paths)
    assert len(problems) == 2 and all("1 files missing" in p for p in problems)
