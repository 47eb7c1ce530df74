"""Run-scoped staged intermediate tables.

A staged table is an intermediate DataFrame materialized ONCE per
process as parquet under a run-scoped directory and re-read by every
downstream consumer — the engine-level way to declare "this artifact
is shared between pipeline stages". The reference re-runs each query
from raw inputs (it has no intermediate store); a real training-data
pipeline persists stage outputs (the verified near-dup pair table,
a sketch table) and fans consumers out from them — this primitive is
that contract.

Semantics:
- the first consumer builds the artifact and commits it with
  ``io/commit.publish_dir``; every later consumer in the same process
  — regardless of which SparkSession asks — reads the committed dir.
  ``stage_dir`` is the build-once core (fingerprint, committed fast
  path, per-fingerprint build lock, stats) for any directory artifact,
  including the incremental indices that write their own layout;
  ``stage_path``/``stage_table``/``stage_row`` stage a DataFrame;
- invalidation is by dependency fingerprint: the stage path hashes the
  logical key plus (path, size, mtime_ns) of every declared input
  file, so a changed input yields a NEW stage directory, never a
  stale read;
- the stage root is per-process (`mkdtemp`) and deleted at
  interpreter exit, so cross-run staleness is structurally
  impossible; the schema is saved alongside the data, so an EMPTY
  staged table (e.g. a corpus with no duplicate pairs) reads back
  with its schema intact.

Scale: at 100 TB the stage write is one shuffle-free parquet write of
an intermediate that is already proportional to result density (the
pair table), and it saves every downstream recompute of the stage —
exactly the trade a cluster pipeline makes when it lands stage output
on the cluster FS between jobs.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import tempfile
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

from etly_spark.io.commit import publish_dir

_STAGE_ROOT: str | None = None

# observability (and test hooks): how often a stage was reused vs built,
# and the cumulative one-time build+commit cost (reported by bench.py so
# the amortized stage cost is never invisible). Pooled branches bump it
# from many driver threads, so every update holds _STATS_LOCK.
stats = {"hits": 0, "misses": 0, "build_sec": 0.0}
_STATS_LOCK = threading.Lock()


def _count(key: str, n: float = 1) -> None:
    with _STATS_LOCK:
        stats[key] = round(stats[key] + n, 4)


def _root() -> str:
    global _STAGE_ROOT
    if _STAGE_ROOT is None:
        _STAGE_ROOT = tempfile.mkdtemp(prefix="etly_stage_")
        atexit.register(shutil.rmtree, _STAGE_ROOT, ignore_errors=True)
    return _STAGE_ROOT


def run_scratch_dir(prefix: str) -> str:
    """A fresh scratch directory under the per-process stage root
    (auto-removed at interpreter exit). NOT fingerprinted: every call
    returns a NEW directory — for per-invocation materializations that
    must be recomputed on every run (the opposite contract of
    stage_table: nothing here is ever reused across invocations)."""
    path = os.path.join(_root(), f"{prefix}-{uuid.uuid4().hex[:12]}")
    os.makedirs(path)
    return path


def _dep_sig(path: str) -> str:
    """(path, size, mtime_ns) for a file; recursed for a directory —
    any byte-level change to an input flips the stage fingerprint."""
    p = os.path.abspath(path)
    if os.path.isdir(p):
        parts = []
        for dirpath, _dirs, files in os.walk(p):
            for fn in sorted(files):
                fp = os.path.join(dirpath, fn)
                st = os.stat(fp)
                parts.append(f"{os.path.relpath(fp, p)}:{st.st_size}:{st.st_mtime_ns}")
        return f"{p}|dir|{';'.join(parts)}"
    st = os.stat(p)
    return f"{p}|{st.st_size}|{st.st_mtime_ns}"


def stage_table(
    spark: SparkSession,
    key: str,
    build: Callable[[], DataFrame],
    deps: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Return the staged table for ``key``: build + commit it on first
    use, read the committed parquet afterwards. ``deps`` are the input
    files/dirs whose content the stage derives from (fingerprinted into
    the stage identity)."""
    return _read_stage(spark, stage_path(spark, key, build, deps))


def _read_stage(spark: SparkSession, path: str) -> DataFrame:
    with open(os.path.join(path, "_schema.json")) as f:
        schema = StructType.fromJson(json.loads(f.read()))
    return spark.read.schema(schema).parquet(path)


# committed stage path -> its collected single row (see stage_row)
_ROWS: dict[str, Row] = {}
_ROWS_LOCK = threading.Lock()


def stage_row(
    spark: SparkSession,
    key: str,
    build: Callable[[], DataFrame],
    deps: list[str] | tuple[str, ...] = (),
) -> Row:
    """The first row of a one-row staged table (a stats or bounds row
    the driver needs as Python values). The collected row is memoized
    by committed stage path: a committed path is content-fingerprinted
    and never rewritten, so the memo cannot go stale, and later calls
    run no Spark job."""
    path = stage_path(spark, key, build, deps)
    with _ROWS_LOCK:
        row = _ROWS.get(path)
    if row is None:
        row = _read_stage(spark, path).collect()[0]
        with _ROWS_LOCK:
            _ROWS[path] = row
    return row


def stage_path(
    spark: SparkSession,
    key: str,
    build: Callable[[], DataFrame],
    deps: list[str] | tuple[str, ...] = (),
    partition_by: list[str] | tuple[str, ...] = (),
) -> str:
    """Like stage_table, but return the committed parquet DIRECTORY
    instead of reading it back — for artifacts consumed executor-side
    (e.g. per-cell PQ codebooks loaded lazily inside an Arrow kernel,
    functions/vector._staged_books): the artifact is written by a
    distributed job and never materialized on the driver. In cluster
    mode the stage root must live on storage all executors can read —
    the same contract stage_table's read-back path already has.

    ``partition_by`` hive-partitions the stage (the ivfpq codes table
    partitions on the coarse cell, so a probe's cell filter PRUNES
    directories instead of scanning interleaved row groups; note
    _staged_pdf's flat glob cannot read a partitioned stage — consume
    these through spark.read)."""

    def write(tmp: str) -> None:
        df = build()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        with open(os.path.join(tmp, "_schema.json"), "w") as f:
            f.write(df.schema.json())

    return stage_dir(key, deps, write)


def _fingerprint(key: str, deps: list[str] | tuple[str, ...]) -> str:
    return hashlib.sha1(
        "\n".join([key, *(_dep_sig(d) for d in deps)]).encode()
    ).hexdigest()[:24]


_BUILD_LOCKS: dict[str, threading.Lock] = {}
_BUILD_LOCKS_GUARD = threading.Lock()


def stage_dir(
    key: str,
    deps: list[str] | tuple[str, ...],
    write: Callable[[str], object],
) -> str:
    """The committed stage directory for ``key``: ``write(tmp)`` fills
    it once per process per dependency fingerprint, later calls return
    it without building. A committed path is always complete (the
    publish is one rename), so it is served without a lock; a builder
    holds the fingerprint's lock, so pooled branches sharing a stage
    build it once and the second arrival takes the hit path."""
    fp = _fingerprint(key, deps)
    path = os.path.join(_root(), fp)
    if os.path.exists(path):
        _count("hits")
        return path
    with _BUILD_LOCKS_GUARD:
        lock = _BUILD_LOCKS.setdefault(fp, threading.Lock())
    try:
        with lock:
            if os.path.exists(path):
                _count("hits")
                return path
            _count("misses")
            t0 = time.monotonic()

            def timed(tmp: str) -> None:
                write(tmp)
                _count("build_sec", time.monotonic() - t0)

            return publish_dir(path, timed)
    finally:
        # the fast path serves every later reader, so a committed
        # fingerprint's lock entry is dropped
        if os.path.exists(path):
            with _BUILD_LOCKS_GUARD:
                _BUILD_LOCKS.pop(fp, None)
