"""Log-structured compaction for append-per-run hive-partitioned dirs.

Shared by the meta ledger sidecar (one ``run_ts=…`` partition per
window, pipeline.py), the streaming signature index (one ``epoch=…``
partition per micro-batch, streaming/dedup.py) and the incremental ANN
postings index (queries/similarity.compact_ivf_postings): all append
one small partition per unit of work — the write pattern that is
O(new) per run but accumulates directories forever. When loose
partitions exceed ``threshold`` they fold into a numbered
``<key>=_compacted-NNNNNN`` segment that is NEVER rewritten (tiered),
so amortized compaction cost per run stays O(that run's rows) and
directory count stays bounded at any run count.

Crash safety: ``commit_segment`` publishes the segment through
``io/commit.publish_dir`` together with a ``_folded.json`` manifest
naming every loose dir it absorbed, BEFORE the loose dirs are removed.
A crash in the window between the commit and the removals leaves
DUPLICATE rows (the loose dirs' data also lives in the segment).
Consumers differ on whether that is tolerable:

- the meta skip-set and the dedup band index are presence-based /
  distinct-pair shaped — duplicates are harmless there;
- the ANN probe is NOT duplicate-tolerant (its row_number top-k would
  rank the same neighbor twice), so queries/similarity._probe_ivf_index
  dedupes its candidate set defensively.

Every later ``compact_partitions`` call heals the window first: it
reads each committed segment's manifest and removes any loose dir the
manifest says is already folded (idempotent — removing them again is
the exact action the crashed run failed to finish), so duplicates
never reach a second segment.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from etly_spark.io.commit import publish_dir

_MANIFEST = "_folded.json"


def partition_marker(pdir: str) -> list[list]:
    """Content marker for one partition dir: sorted [name, size] of its
    parquet parts. Recorded in the ``_folded.json`` manifest at fold
    time so recovery removes a loose dir only when its CONTENT is what
    the segment absorbed: a name-only manifest would
    silently delete a FRESH ``epoch=N`` dir whose id was reused after a
    purge (streaming checkpoint reset, refolding the same shard index)
    — data loss, not duplicates."""
    return sorted(
        [f, os.path.getsize(os.path.join(pdir, f))]
        for f in os.listdir(pdir)
        if f.endswith(".parquet")
    )


def recover_covered_partitions(root: str, key: str) -> list[str]:
    """Finish any crashed compaction under ``root``: remove loose
    ``<key>=value`` dirs that a committed segment's ``_folded.json``
    manifest records as already folded. Returns the removed dir names.
    Safe to call any time — a dir is removed only when its data
    provably lives inside a committed segment: dict-form manifests
    carry a per-partition content marker and a loose dir whose current
    parquet parts differ from the marker is LEFT ALONE (it was
    recreated after the fold — removing it would lose data); legacy
    list-form manifests remove by name."""
    if not os.path.isdir(root):
        return []
    prefix = f"{key}="
    covered: dict[str, object] = {}
    for d in os.listdir(root):
        # any special (underscore-valued) segment may carry a manifest:
        # _compacted-* (this module), _codes-* (the ANN encode rung)
        if not d.startswith(f"{prefix}_"):
            continue
        mf = os.path.join(root, d, _MANIFEST)
        if os.path.isfile(mf):
            try:
                with open(mf) as f:
                    m = json.load(f)
            except (OSError, ValueError):
                continue  # unreadable manifest: leave the loose dirs be
            if isinstance(m, dict):
                covered.update(m)
            else:  # legacy list manifest: name-only coverage
                covered.update({n: None for n in m})
    removed = []
    for d in sorted(covered):
        p = os.path.join(root, d)
        # a manifest may cover SEGMENTS too (the tombstone-purge rewrite
        # supersedes earlier _compacted-* dirs); segment numbering is
        # max+1 so a covered name is never legitimately recreated
        if not d.startswith(prefix) or not os.path.isdir(p):
            continue
        marker = covered[d]
        if marker is not None and partition_marker(p) != marker:
            continue  # same name, DIFFERENT content: a reused id, keep it
        shutil.rmtree(p, ignore_errors=True)
        removed.append(d)
    return removed


def next_segment(root: str, key: str, kind: str = "_compacted") -> str:
    """Name of the next ``<key>=<kind>-NNNNNN`` segment: max existing
    number + 1 — NEVER count+1, which would recycle a name after a
    purge deletes earlier segments and make it collide with a recovery
    manifest that still covers the old name."""
    hi = 0
    pre = f"{key}={kind}-"
    if os.path.isdir(root):
        for d in os.listdir(root):
            if d.startswith(pre):
                try:
                    hi = max(hi, int(d[len(pre):]))
                except ValueError:
                    continue
    return os.path.join(root, f"{pre}{hi + 1:06d}")


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
    ``covered`` dir, and the covered dirs are removed only after the
    commit. A segment number taken by a concurrent committer with a
    different manifest is retried under the next number, so covered
    dirs are removed only when a committed manifest names them.
    Returns the segment path."""
    markers = {d: partition_marker(os.path.join(root, d)) for d in covered}

    def _write(tmp: str) -> None:
        write(tmp)
        with open(os.path.join(tmp, _MANIFEST), "w") as f:
            json.dump(markers, f)

    while True:
        seg = publish_dir(next_segment(root, key, kind), _write)
        with open(os.path.join(seg, _MANIFEST)) as f:
            if json.load(f) == markers:
                break
    for d in covered:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return seg


def compact_partitions(
    root: str, key: str, threshold: int, sort_by: list[str] | None = None
) -> None:
    """Fold loose ``<key>=value`` partitions under ``root`` into one
    compacted segment once their count exceeds ``threshold``. Always
    runs crash recovery first (see module docstring). ``sort_by``
    re-sorts the concatenated segment (the bm25 postings fold keeps
    its term order, so row-group stats still prune a term probe)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.isdir(root):
        return
    recover_covered_partitions(root, key)
    prefix = f"{key}="
    names = [d for d in os.listdir(root) if d.startswith(prefix)]
    # underscore partition VALUES are reserved for special segments
    # (_compacted-* here; the ANN index's _split-* reassignment
    # segments, whose wider schema must never be concat-folded with
    # gen-0 epochs) — only plain loose partitions fold
    loose = sorted(d for d in names if not d.startswith(f"{prefix}_"))
    if len(loose) <= threshold:
        return
    tables = [
        pq.read_table(os.path.join(root, d, f))
        for d in loose
        for f in sorted(os.listdir(os.path.join(root, d)))
        if f.endswith(".parquet")
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
