"""Log-structured compaction for append-per-run hive-partitioned dirs.

Shared by the meta ledger sidecar (one ``run_ts=…`` partition per
window, pipeline.py), the streaming indices (one ``epoch=…`` partition
per micro-batch, streaming/dedup.py), the incremental ANN and BM25
indices (queries/similarity.py, operators/bm25.py) and the rollup
state (one ``epoch=…`` partial per fold, operators/incremental_agg.py):
all append one small partition per unit of work — the write pattern
that is O(new) per run but accumulates directories forever. When loose
partitions exceed ``threshold`` they fold into a numbered
``<key>=_compacted-NNNNNN`` segment that is NEVER rewritten (tiered),
so amortized compaction cost per run stays O(that run's rows) and
directory count stays bounded at any run count.

Visibility rule: ``commit_segment`` publishes a segment together with
a ``_folded.json`` manifest recording the content marker of every dir
it absorbed. A ``<key>=…`` dir is LIVE unless a committed manifest
covers it with the marker its parquet parts still carry
(``live_partitions``). Every reader and every fold-candidate picker
lists through that rule (``read_live`` for Spark), so the rows of a
covered dir are seen once, inside its segment, from the instant the
segment commits. Removing covered dirs is storage cleanup that
``commit_segment`` and ``compact_partitions`` do; no reader waits for
it.

Manifests are cumulative: a segment covering other segments (a purge,
a rollup compaction) carries their entries forward, so
``folded_partitions`` — a retried fold's refusal list — names every
partition the root ever folded. ``commit_segment`` also reclaims the
root's day-old ``_tmp-*``/``_old-*`` crash leftovers.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

from etly_spark.io.commit import publish_dir, remove_dir

_MANIFEST = "_folded.json"


def parquet_parts(pdir: str) -> list[str]:
    """Sorted names of the parquet parts in one partition dir."""
    return sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))


def dir_bytes(*roots: str) -> int:
    """Total size of every file under ``roots`` (absent roots count 0)."""
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for root in roots
        for dp, _dd, ff in os.walk(root)
        for f in ff
    )


def partition_marker(pdir: str) -> list[list]:
    """Content marker for one partition dir: sorted [name, size] of its
    parquet parts. A name-only manifest would hide (and remove) a FRESH
    ``epoch=N`` dir whose id was reused after a fold (streaming
    checkpoint reset, refolding the same shard index) — data loss, not
    duplicates."""
    return [[f, os.path.getsize(os.path.join(pdir, f))] for f in parquet_parts(pdir)]


def _partitions(root: str, key: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if d.startswith(f"{key}="))


def _covered(root: str, key: str, names: list[str]) -> dict[str, list]:
    """{dir name: content marker} over every committed manifest. Any
    special (underscore-valued) segment may carry one — ``_compacted-*``
    here, ``_codes-*`` from the ANN encode rung — and a manifest may
    cover segments too (a purge supersedes earlier ones; numbering is
    max+1, so a covered segment name never comes back)."""
    covered: dict[str, list] = {}
    for d in names:
        if d.startswith(f"{key}=_"):
            try:
                with open(os.path.join(root, d, _MANIFEST)) as f:
                    covered.update(json.load(f))
            except FileNotFoundError:
                continue
    return covered


def folded_partitions(root: str, key: str) -> set[str]:
    """Names whose rows a committed segment holds, whether or not the
    dir — or the segment that first absorbed it — is still on disk."""
    return set(_covered(root, key, _partitions(root, key)))


def live_partitions(root: str, key: str) -> list[str]:
    """Sorted names of the ``<key>=value`` dirs of ``root`` that no
    committed manifest covers with their current content marker."""
    names = _partitions(root, key)
    covered = _covered(root, key, names)
    return [
        d
        for d in names
        if d not in covered or partition_marker(os.path.join(root, d)) != covered[d]
    ]


def read_live(spark, root: str, key: str, merge_schema: bool = False):
    """Spark read of ``root``'s live partitions. ``basePath`` keeps the
    partition column, as a read of ``root`` itself would."""
    reader = spark.read.option("basePath", root)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*(os.path.join(root, d) for d in live_partitions(root, key)))


def recover_covered_partitions(root: str, key: str) -> list[str]:
    """Remove every ``<key>=value`` dir of ``root`` that is not live (a
    committed segment holds its rows). Returns the removed names."""
    live = set(live_partitions(root, key))
    removed = [d for d in _partitions(root, key) if d not in live]
    for d in removed:
        remove_dir(os.path.join(root, d))
    return removed


def next_segment(root: str, key: str, kind: str = "_compacted") -> str:
    """Name of the next ``<key>=<kind>-NNNNNN`` segment: max existing
    number + 1 — NEVER count+1, which would recycle a name after a
    purge deletes earlier segments and make it collide with a manifest
    that still covers the old name."""
    hi = 0
    pre = f"{key}={kind}-"
    for d in _partitions(root, key):
        if d.startswith(pre):
            try:
                hi = max(hi, int(d[len(pre):]))
            except ValueError:
                continue
    return os.path.join(root, f"{pre}{hi + 1:06d}")


def _sweep_leftovers(root: str) -> None:
    """Delete the ``_tmp-*``/``_old-*`` leftovers of crashed io/commit
    writes under ``root`` once nothing in them is newer than a day:
    another process may still be writing its tmp, and a Spark write's
    _temporary/ files keep a live tmp's newest mtime fresh."""
    for d in os.listdir(root):
        if not d.startswith(("_tmp-", "_old-")):
            continue
        p = os.path.join(root, d)
        try:
            files = [os.path.join(dp, f) for dp, _dd, ff in os.walk(p) for f in ff]
            if max(map(os.path.getmtime, [p, *files])) >= time.time() - 86400:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.unlink(p)
        except OSError:
            continue  # vanished mid-listing (its writer finished)


def commit_segment(
    root: str,
    key: str,
    write: Callable[[str], object],
    covered: list[str],
    kind: str = "_compacted",
) -> str:
    """Publish a never-rewritten segment under the next
    ``<key>=<kind>-NNNNNN`` name: ``write(tmp)`` fills it, the
    ``_folded.json`` manifest records the content marker of every
    ``covered`` dir plus every entry of the covered segments' own
    manifests, and the covered dirs are removed after the commit.
    Dirs an earlier segment already covers are removed first, so
    removing a covered segment never uncovers anything.

    A rival committer that took the number first: an identical manifest
    is our commit; a disjoint one means we take the next number; an
    overlapping one raises RuntimeError and removes nothing (its
    segment already holds some of our rows). Returns the segment path."""
    recover_covered_partitions(root, key)
    markers = _covered(root, key, covered)
    markers.update({d: partition_marker(os.path.join(root, d)) for d in covered})

    def _write(tmp: str) -> None:
        write(tmp)
        with open(os.path.join(tmp, _MANIFEST), "w") as f:
            json.dump(markers, f)

    while True:
        seg = publish_dir(next_segment(root, key, kind), _write)
        with open(os.path.join(seg, _MANIFEST)) as f:
            theirs = json.load(f)
        if theirs == markers:
            break
        if theirs.keys() & markers.keys():
            raise RuntimeError(f"{seg}: overlapping segment committed concurrently")
    for d in covered:
        remove_dir(os.path.join(root, d))
    _sweep_leftovers(root)
    return seg


def supersede_partitions(
    root: str, key: str, write: Callable[[str, int], object]
) -> str:
    """Commit one segment covering every live partition of ``root``
    (a tombstone purge's rewrite, a rollup compaction). ``write(tmp, n)`` fills it from
    those ``n`` partitions' rows."""
    covered = live_partitions(root, key)
    return commit_segment(root, key, lambda tmp: write(tmp, len(covered)), covered)


def compact_partitions(
    root: str, key: str, threshold: int, sort_by: list[str] | None = None
) -> None:
    """Fold loose ``<key>=value`` partitions under ``root`` into one
    compacted segment once their count exceeds ``threshold``; covered
    dirs are removed on every call. ``sort_by`` re-sorts the
    concatenated segment (the bm25 postings fold keeps its term order,
    so row-group stats still prune a term probe)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    recover_covered_partitions(root, key)
    # underscore partition VALUES are reserved for special segments
    # (_compacted-* here; the ANN index's _split-* reassignment
    # segments, whose wider schema must never be concat-folded with
    # gen-0 epochs) — only plain loose partitions fold
    loose = [d for d in live_partitions(root, key) if not d.startswith(f"{key}=_")]
    if len(loose) <= threshold:
        return
    tables = [
        pq.read_table(os.path.join(root, d, f))
        for d in loose
        for f in parquet_parts(os.path.join(root, d))
    ]
    if not tables:
        return
    # promote_options unifies ACROSS SCHEMA GENERATIONS: post-split ANN
    # epochs carry a 5th 'parent' column while pre-split loose epochs
    # have 4 — missing columns null-fill, exactly how _read_postings'
    # mergeSchema read treats them.
    merged = pa.concat_tables(tables, promote_options="default")
    if sort_by:
        merged = merged.sort_by([(c, "ascending") for c in sort_by])

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        pq.write_table(merged, os.path.join(tmp, "part-00000.parquet"))

    commit_segment(root, key, write, loose)
