"""Output checks that do not rely on the engine under test.

Transfer outputs are read back with ``gzip`` and ``json`` and compared
with what the generator wrote; the ledger is read with ``json`` and
``pyarrow``. Catalog results are compared with the DuckDB oracle the way
``tools/check_correctness.py`` compares them (same canonicalizer).
"""

from __future__ import annotations

import gzip
import json
import os
from collections import Counter
from dataclasses import dataclass, field

from perfbench import gen


@dataclass
class Landed:
    ids: list[int] = field(default_factory=list)
    values: list[str] = field(default_factory=list)


def read_landed(out_dir: str) -> Landed:
    """Every ndjson record under ``out_dir`` (gzip or plain)."""
    landed = Landed()
    for dirpath, _dirs, files in os.walk(out_dir):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, "rb") as fh:
                data = fh.read()
            if data[:2] == b"\x1f\x8b":
                data = gzip.decompress(data)
            for line in data.decode().splitlines():
                if line:
                    rec = json.loads(line)
                    landed.ids.append(rec["Key"])
                    landed.values.append(rec["Value"])
    return landed


def output_size(out_dir: str) -> tuple[int, int]:
    """(files, bytes) under a directory tree."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(out_dir):
        for fn in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size


def landed_matches(landed: Landed, exp: gen.Expected) -> list[str]:
    """Exactly the expected records landed, each once."""
    problems = []
    n, distinct = len(landed.ids), len(set(landed.ids))
    if n != len(exp.ids):
        problems.append(f"landed {n} records, expected {len(exp.ids)}")
    if distinct != n:
        problems.append(f"{n - distinct} duplicate ids landed")
    if sorted(landed.ids) != sorted(exp.ids):
        problems.append("landed ids differ from the generated ids")
    elif gen.value_digest(landed.values) != exp.digest:
        problems.append("landed values differ from the generated values")
    return problems


def _file_url(path: str) -> str:
    return "file://" + os.path.abspath(path)


def ledger_lists_once(meta_path: str, files: list[str]) -> list[str]:
    """The JSON ledger and its parquet sidecar each list every input
    file exactly once, and nothing else."""
    import pyarrow.parquet as pq

    want = {_file_url(f) for f in files}
    problems = []
    with open(meta_path) as fh:
        processed = set(json.load(fh).get("Processed") or {})
    if processed != want:
        problems.append(
            f"ledger json: {len(want - processed)} files missing, {len(processed - want)} unexpected"
        )
    sources: Counter = Counter()
    side = meta_path + ".files"
    for dirpath, _dirs, names in os.walk(side):
        if os.path.basename(dirpath).startswith("_tmp-"):
            continue
        for fn in names:
            if fn.endswith(".parquet"):
                sources.update(pq.read_table(os.path.join(dirpath, fn), columns=["source"])
                               .column("source").to_pylist())
    if set(sources) != want:
        problems.append(f"ledger sidecar: {len(want - set(sources))} files missing, "
                        f"{len(set(sources) - want)} unexpected")
    dups = sum(1 for c in sources.values() if c > 1)
    if dups:
        problems.append(f"ledger sidecar lists {dups} files more than once")
    return problems


def transfer_ok(res) -> list[str]:
    if res.status not in ("DONE", "NOOP"):
        return [f"transfer status {res.status}: {res.error[:300]}"]
    return []


def transfer_result(res, exp: gen.Expected) -> list[str]:
    """The run's own progress report agrees with the generator."""
    if res.status != "DONE":
        return [f"transfer status {res.status}: {res.error[:300]}"]
    p = res.progress
    problems = []
    if p.record_processed != len(exp.ids):
        problems.append(f"reported {p.record_processed} records processed, expected {len(exp.ids)}")
    if p.record_errors:
        problems.append(f"reported {p.record_errors} corrupt records, expected none")
    if p.file_processed != len(exp.files):
        problems.append(f"reported {p.file_processed} files, expected {len(exp.files)}")
    return problems


TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


class Oracle:
    """DuckDB views over the generated tables; compares one query's
    Spark result with its oracle SQL (row count, columns, value hash)."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def compare(self, spec, pdf) -> list[str]:
        from tools.check_correctness import norm_cell, table_hash

        sp_cols = list(pdf.columns)
        sp_rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        if not sp_rows:
            return [f"{spec.name}: empty result"]
        if spec.oracle is None:
            for r in sp_rows:
                for v in r:
                    norm_cell(v)
            return []
        ref = self.con.execute(spec.oracle).df()
        du_cols = list(ref.columns)
        du_rows = [tuple(r) for r in ref.itertuples(index=False, name=None)]
        if len(sp_rows) != len(du_rows):
            return [f"{spec.name}: {len(sp_rows)} rows, oracle {len(du_rows)}"]
        if sorted(sp_cols) != sorted(du_cols):
            return [f"{spec.name}: columns {sorted(sp_cols)}, oracle {sorted(du_cols)}"]
        if table_hash(sp_cols, sp_rows) != table_hash(du_cols, du_rows):
            return [f"{spec.name}: value hash differs from the oracle"]
        return []
