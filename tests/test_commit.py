"""io/commit.py — durable commits: a crash at any commit point leaves
nothing a reader can see, and a re-run heals to the same bytes."""

from __future__ import annotations

import ast
import os
import pathlib
import threading

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from etly_spark.io import commit
from etly_spark.io.compact import commit_segment

_TABLE = pa.table({"id": pa.array([1, 2, 3], pa.int64()), "v": ["a", "b", "c"]})
_NEW = pa.table({"id": pa.array([7, 8], pa.int64()), "v": ["x", "y"]})


def _seed(root: pathlib.Path) -> None:
    for k in (1, 2):
        d = root / f"k={k}"
        d.mkdir(parents=True)
        pq.write_table(_TABLE, str(d / "part-0.parquet"))


def _write_dir(tmp: str) -> None:
    os.makedirs(tmp)
    pq.write_table(_NEW, os.path.join(tmp, "part-0.parquet"))


def _torn_dir(tmp: str) -> None:
    _write_dir(tmp)
    with open(os.path.join(tmp, "part-1.parquet"), "wb") as f:
        f.write(b"PAR1 torn")
    raise RuntimeError("crash mid-write")


def _torn_file(tmp: str) -> None:
    with open(tmp, "wb") as f:
        f.write(b"PAR1 torn")
    raise RuntimeError("crash mid-write")


# primitive -> (commit with a given write, the matching torn write)
CASES = {
    "publish_dir": (lambda root, w: commit.publish_dir(str(root / "k=3"), w), _torn_dir),
    "replace_dir": (lambda root, w: commit.replace_dir(str(root / "k=2"), w), _torn_dir),
    "write_file": (
        lambda root, w: commit.write_file(str(root / "k=1" / "part-1.parquet"), w),
        _torn_file,
    ),
    "commit_segment": (
        lambda root, w: commit_segment(str(root), "k", w, ["k=1", "k=2"]),
        _torn_dir,
    ),
}


def _good_write(name: str):
    return (lambda tmp: pq.write_table(_NEW, tmp)) if name == "write_file" else _write_dir


def _view(spark, root: pathlib.Path):
    sdf = spark.read.parquet(str(root))
    data = ds.dataset(str(root), format="parquet", partitioning="hive")
    return (
        sorted(tuple(r) for r in sdf.collect()),
        sdf.schema.simpleString(),
        sorted(data.to_table().to_pylist(), key=lambda r: sorted(r.items())),
        str(data.schema),
    )


def _files(root: pathlib.Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()
    }


def _flaky(monkeypatch, name: str, fail_on: int) -> None:
    """Make the ``fail_on``-th call of os.<name> raise, once."""
    real = getattr(os, name)
    calls = {"n": 0}

    def fn(src, dst, *a, **kw):
        calls["n"] += 1
        if calls["n"] == fail_on:
            raise OSError(f"injected {name} failure")
        return real(src, dst, *a, **kw)

    monkeypatch.setattr(os, name, fn)


def _crash_cases():
    for name in CASES:
        yield pytest.param(name, "write", 0, id=f"{name}-write")
        yield pytest.param(name, "rename", 1, id=f"{name}-rename")
    # the swap's second rename fails after the old dir went aside
    yield pytest.param("replace_dir", "rename", 2, id="replace_dir-rename2")


@pytest.mark.parametrize("name,fault,fail_on", list(_crash_cases()))
def test_crash_leaves_nothing_visible_and_rerun_heals(
    spark, tmp_path, monkeypatch, name, fault, fail_on
):
    run, torn = CASES[name]
    clean, root = tmp_path / "clean", tmp_path / "root"
    _seed(clean)
    run(clean, _good_write(name))
    _seed(root)
    before = _view(spark, root)
    with monkeypatch.context() as m:
        if fault == "rename":
            _flaky(m, "replace" if name == "write_file" else "rename", fail_on)
        with pytest.raises((RuntimeError, OSError)):
            run(root, torn if fault == "write" else _good_write(name))
    assert _view(spark, root) == before
    assert not [p for p in root.rglob("*") if p.name.startswith(("_tmp-", "_old-"))]
    run(root, _good_write(name))
    assert _files(root) == _files(clean)


def test_bm25_replay_crash_keeps_postings(spark, tmp_path, monkeypatch):
    """A replayed bm25 epoch that fails before its commit leaves the
    postings read unchanged (no leftover tmp partition, no lost epoch)."""
    from etly_spark.operators.bm25 import fold_bm25_epoch

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 3} gamma") for i in range(8)], "doc_id long, text string"
    )
    idx = str(tmp_path / "bm25")
    for e in (0, 1):
        fold_bm25_epoch(docs.where(docs.doc_id % 2 == e), idx, e)
    post = os.path.join(idx, "postings")

    def read():
        df = spark.read.parquet(post)
        return df.schema.simpleString(), sorted(tuple(r) for r in df.collect())

    before = read()
    with monkeypatch.context() as m:
        _flaky(m, "rename", 1)
        with pytest.raises(OSError):
            fold_bm25_epoch(docs.where(docs.doc_id % 2 == 1), idx, 1)
    assert read() == before
    fold_bm25_epoch(docs.where(docs.doc_id % 2 == 1), idx, 1)
    assert read() == before


def test_publish_dir_concurrent_writers_one_commit(tmp_path):
    """Eight writers race to publish the same dir: one commit wins,
    every caller gets ``final`` back, and no tmp is left behind."""
    final = str(tmp_path / "idx" / "quantizer")
    n = 8
    barrier = threading.Barrier(n)
    results, errors = [], []

    def writer(i: int):
        def write(tmp: str) -> None:
            os.makedirs(tmp)
            with open(os.path.join(tmp, f"writer-{i}"), "w") as f:
                f.write(str(i))
            barrier.wait()

        try:
            results.append(commit.publish_dir(final, write))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(60)
    assert not errors, errors
    assert results == [final] * n
    assert len(os.listdir(final)) == 1
    assert os.listdir(tmp_path / "idx") == ["quantizer"]


def test_renames_only_in_commit_module():
    """Gate against regrowth: os.rename/os.replace appear in etly_spark/
    only inside io/commit.py (the durable commit) and io/fs.py (the
    transfer-output transport)."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "etly_spark"
    allowed = {pkg / "io" / "commit.py", pkg / "io" / "fs.py"}
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path in allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("rename", "replace")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "os"
                and {a.name for a in node.names} & {"rename", "replace"}
            ):
                found.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not found, found


def test_commit_segment_lost_race_takes_next_number(tmp_path, monkeypatch):
    """A concurrent committer took the segment number with a different
    manifest: the segment commits under the next number, the rival is
    untouched, and the covered dirs go only once our manifest is
    committed."""
    import json

    from etly_spark.io import compact

    root = tmp_path / "root"
    _seed(root)
    rival = root / "k=_compacted-000001"
    real = compact.next_segment
    calls = {"n": 0}

    def racing(r, key, kind="_compacted"):
        calls["n"] += 1
        if calls["n"] == 1:  # the rival publishes between naming and commit
            rival.mkdir()
            (rival / "_folded.json").write_text(json.dumps({"k=9": []}))
            return str(rival)
        return real(r, key, kind)

    monkeypatch.setattr(compact, "next_segment", racing)
    seg = commit_segment(str(root), "k", _write_dir, ["k=1", "k=2"])
    assert seg == str(root / "k=_compacted-000002")
    assert json.loads((rival / "_folded.json").read_text()) == {"k=9": []}
    assert sorted(p.name for p in root.iterdir()) == [
        "k=_compacted-000001", "k=_compacted-000002"
    ]


def test_commit_segment_overlapping_rival_raises_and_removes_nothing(tmp_path, monkeypatch):
    """A rival committed a segment holding some of our covered dirs
    under the number we wanted: committing ours next to it would publish
    the shared rows twice, so commit_segment raises, leaves the loose
    dirs in place, and readers see every row exactly once."""
    import json

    from etly_spark.io import compact

    root = tmp_path / "root"
    _seed(root)
    real = compact.next_segment
    calls = {"n": 0}

    def racing(r, key, kind="_compacted"):
        calls["n"] += 1
        if calls["n"] == 1:  # the rival folds k=1 between naming and commit
            marker = compact.partition_marker(str(root / "k=1"))
            rival = real(r, key, kind)
            os.makedirs(rival)
            pq.write_table(_TABLE, os.path.join(rival, "part-0.parquet"))
            with open(os.path.join(rival, "_folded.json"), "w") as f:
                json.dump({"k=1": marker}, f)
            return rival
        return real(r, key, kind)

    monkeypatch.setattr(compact, "next_segment", racing)
    with pytest.raises(RuntimeError, match="overlapping"):
        commit_segment(str(root), "k", _write_dir, ["k=1", "k=2"])
    assert sorted(p.name for p in root.iterdir()) == [
        "k=1", "k=2", "k=_compacted-000001"
    ]
    live = compact.live_partitions(str(root), "k")
    assert live == ["k=2", "k=_compacted-000001"]
    rows = [i for d in live for i in pq.read_table(str(root / d))["id"].to_pylist()]
    assert sorted(rows) == [1, 1, 2, 2, 3, 3]


def test_commit_segment_identical_rival_is_ours(tmp_path, monkeypatch):
    """A rival that committed the very manifest we were about to commit
    (the same fold, retried) is adopted: no second segment, covered dirs
    removed."""
    from etly_spark.io import compact

    root = tmp_path / "root"
    _seed(root)
    real_publish = compact.publish_dir

    def twice(final, write):
        real_publish(final, write)  # the rival's identical commit
        return real_publish(final, write)

    monkeypatch.setattr(compact, "publish_dir", twice)
    seg = commit_segment(str(root), "k", _write_dir, ["k=1", "k=2"])
    assert seg == str(root / "k=_compacted-000001")
    assert sorted(p.name for p in root.iterdir()) == ["k=_compacted-000001"]


def test_live_partitions_hide_covered_dirs_by_content(tmp_path):
    """A dir a committed manifest covers is invisible while its parts
    still match the recorded marker — also when the covering segment is
    itself superseded — and visible again once its content changes (a
    reused id)."""
    from etly_spark.io import compact

    root = tmp_path / "root"
    _seed(root)
    saved = _files(root)
    commit_segment(str(root), "k", _write_dir, ["k=1", "k=2"])
    for name, data in saved.items():  # a crash before the removals
        (root / name).parent.mkdir(exist_ok=True)
        (root / name).write_bytes(data)
    assert compact.live_partitions(str(root), "k") == ["k=_compacted-000001"]
    pq.write_table(_NEW, str(root / "k=2" / "part-0.parquet"))  # new content
    assert compact.live_partitions(str(root), "k") == ["k=2", "k=_compacted-000001"]
    assert compact.recover_covered_partitions(str(root), "k") == ["k=1"]
    assert sorted(p.name for p in root.iterdir()) == ["k=2", "k=_compacted-000001"]


def test_removal_crash_leaves_no_partial_partition(tmp_path, monkeypatch):
    """A crash part-way through deleting a dir a new segment covers must
    not leave the remaining parts under the dir's name: their marker no
    longer matches the manifest, so readers would see them next to the
    segment that already holds their rows."""
    import shutil

    root = tmp_path / "root"
    (root / "k=1").mkdir(parents=True)
    pq.write_table(_TABLE, str(root / "k=1" / "part-0.parquet"))
    pq.write_table(_NEW, str(root / "k=1" / "part-1.parquet"))

    def torn(path, *a, **kw):
        os.remove(os.path.join(path, "part-0.parquet"))
        raise OSError("crash mid-delete")

    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", torn)
        with pytest.raises(OSError):
            commit_segment(str(root), "k", _write_dir, ["k=1"])
    data = ds.dataset(str(root), format="parquet", partitioning="hive")
    assert sorted(data.to_table()["id"].to_pylist()) == [7, 8]


def test_segment_log_internals_stay_in_compact_module():
    """Gate: under etly_spark/, the segment log's internals — covered-dir
    recovery, content markers, segment numbering and the manifest file
    name — appear only in io/compact.py; every other module goes through
    live_partitions / read_live / commit_segment / compact_partitions.
    No module anywhere keeps a second coverage format: the rollup
    store's old ``_covered.json`` manifest and ``base-`` segment prefix
    may not come back."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "etly_spark"
    private = {"recover_covered_partitions", "partition_marker", "next_segment"}
    allowed = pkg / "io" / "compact.py"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            names = set()
            if isinstance(node, ast.Name):
                names = {node.id}
            elif isinstance(node, ast.Attribute):
                names = {node.attr}
            elif isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                names = {n for n in ("_folded.json", "_covered.json") if n in node.value}
                if node.value.startswith("base-"):
                    names.add("base-")
            banned = {"_covered.json", "base-"}
            if path != allowed:
                banned |= private | {"_folded.json"}
            for n in sorted(names & banned):
                found.append(f"{path.relative_to(pkg)}:{node.lineno}:{n}")
    assert not found, found


def test_folded_partitions_survive_a_supersede(tmp_path):
    """Manifests are cumulative: after a purge supersedes the segment
    that absorbed ``k=abc``, ``folded_partitions`` still names it (a
    retried fold of that epoch must be refused), and the content-marker
    rule still shows a fresh dir under a reused name."""
    from etly_spark.io import compact

    root = tmp_path / "root"
    (root / "k=abc").mkdir(parents=True)
    pq.write_table(_TABLE, str(root / "k=abc" / "part-0.parquet"))
    commit_segment(str(root), "k", _write_dir, ["k=abc"], kind="_codes")
    assert compact.folded_partitions(str(root), "k") == {"k=abc"}
    compact.supersede_partitions(str(root), "k", lambda tmp, _n: _write_dir(tmp))
    assert sorted(p.name for p in root.iterdir()) == ["k=_compacted-000001"]
    assert compact.folded_partitions(str(root), "k") == {"k=abc", "k=_codes-000001"}
    (root / "k=abc").mkdir()
    pq.write_table(_NEW.slice(0, 1), str(root / "k=abc" / "part-0.parquet"))
    assert compact.live_partitions(str(root), "k") == ["k=_compacted-000001", "k=abc"]


def test_segment_commit_sweeps_day_old_leftovers(tmp_path):
    """A segment commit deletes the ``_tmp-*``/``_old-*`` leftovers of
    crashed commits once nothing in them is newer than a day, and keeps
    a fresh one (another writer may still be filling it)."""
    import time

    root = tmp_path / "root"
    _seed(root)
    stale, fresh = root / "_old-0123456789ab", root / "_tmp-ba9876543210"
    for d in (stale, fresh):
        (d / "sub").mkdir(parents=True)
        (d / "sub" / "part-0").write_bytes(b"x")
    day_old = time.time() - 2 * 86400
    for p in (stale / "sub" / "part-0", stale / "sub", stale):
        os.utime(p, (day_old, day_old))
    commit_segment(str(root), "k", _write_dir, ["k=1", "k=2"])
    assert sorted(p.name for p in root.iterdir()) == [fresh.name, "k=_compacted-000001"]


def test_transfer_chain_steps_are_the_only_sites():
    """Gate: under etly_spark/, the Transfer chain's invariants live in
    its two shared steps, so no entry point (ledger group, datastore
    window, worker RPC, streaming micro-batch) grows its own copy:
    the batch Observation, the E1 raise and the sink calls
    (fold_window_into_index, _write_routed) appear only in
    pipeline.TransferService._run_chain, and an ObjectMeta built from
    per-file stats only in pipeline.TransferService._record_ledger. The
    per-file stats job (_file_stats) is used once in _run_chain, which
    runs it beside the sink, and once in the streaming _process_batch,
    as the micro-batch's one collect: a sequential second stats pass
    after the sink cannot come back."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "etly_spark"
    home = {
        "Observation": "_run_chain",
        "MaxErrorsExceeded": "_run_chain",
        "fold_window_into_index": "_run_chain",
        "_write_routed": "_run_chain",
        "ObjectMeta": "_record_ledger",
    }
    stats_kw = {"record_processed", "record_skipped", "record_errors"}

    def callee(node) -> str | None:
        if isinstance(node, ast.Name):
            return node.id
        return node.attr if isinstance(node, ast.Attribute) else None

    found, seen = [], set()
    stats_uses: dict[tuple[str, str], int] = {}

    def visit(node, where: str, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Name) and child.id == "_file_stats":
                stats_uses[(where, fn)] = stats_uses.get((where, fn), 0) + 1
            name = None
            if isinstance(child, ast.Raise) and child.exc is not None:
                exc = child.exc.func if isinstance(child.exc, ast.Call) else child.exc
                name = callee(exc) if callee(exc) == "MaxErrorsExceeded" else None
            elif isinstance(child, ast.Call):
                name = callee(child.func)
                if name == "MaxErrorsExceeded" or (
                    name == "ObjectMeta" and not stats_kw & {k.arg for k in child.keywords}
                ):
                    name = None  # the raise is checked; other ObjectMetas are not stats rows
            if name in home:
                if (where, fn) == ("pipeline.py", home[name]):
                    seen.add(name)
                else:
                    found.append(f"{where}:{child.lineno}:{fn}:{name}")
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            visit(child, where, inner)

    for path in sorted(pkg.rglob("*.py")):
        visit(ast.parse(path.read_text(), str(path)), str(path.relative_to(pkg)), "")
    assert not found, found
    assert seen == set(home), set(home) - seen
    assert stats_uses == {
        ("pipeline.py", "_run_chain"): 1,
        ("streaming/transfer.py", "_process_batch"): 1,
    }, stats_uses
