"""Durable local commits: the one place an artifact becomes visible.

Every durable artifact the engine keeps (staged tables, the IVF/IVFPQ/
BM25 indices, the meta ledger and its parquet sidecar, rollups,
streaming state, datasheets) is written under a tmp name and made
visible with one rename. The tmp is an ``_tmp-<uuid>`` sibling in the
target's own directory:

- the underscore hides it from Spark and pyarrow dataset discovery
  (and from source listings), so a crash before the rename leaves
  nothing a reader can see;
- the same directory keeps the rename on one filesystem, so it is
  atomic.

Replaced or removed content goes aside as ``_old-<uuid>`` before it is
deleted, so no reader sees a half-deleted directory. Tmp files carry no
``.parquet`` suffix, so flat-dir globs skip them too. Object-store
targets commit through ``io/fs.move`` instead.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable


def _sibling(path: str, tag: str) -> str:
    return os.path.join(os.path.dirname(path), f"{tag}-{uuid.uuid4().hex[:12]}")


def _drop(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.unlink(path)


def _written(final: str, write: Callable[[str], object]) -> str:
    """Run ``write`` on a fresh tmp sibling of ``final``; on failure the
    tmp is removed and the error re-raised."""
    os.makedirs(os.path.dirname(final) or ".", exist_ok=True)
    tmp = _sibling(final, "_tmp")
    try:
        write(tmp)
    except BaseException:
        _drop(tmp)
        raise
    return tmp


def publish_dir(final: str, write: Callable[[str], object]) -> str:
    """Commit a write-once directory: first writer wins. ``write(tmp)``
    fills a tmp dir that is renamed to ``final``; a writer that loses
    the race (``final`` appeared meanwhile) drops its own tmp and
    returns the winner's ``final``."""
    tmp = _written(final, write)
    try:
        os.rename(tmp, final)
    except OSError:
        _drop(tmp)
        if not os.path.isdir(final):
            raise
    return final


def replace_dir(final: str, write: Callable[[str], object]) -> str:
    """Commit a replayable directory (an epoch partition): the new
    content replaces any existing ``final``. The old dir is renamed
    aside first and removed only after the new one is in place; if
    the swap fails it is put back, so readers see either the old or
    the new content (absent only for the two renames' duration, or
    after a crash between them — the old content then survives as
    ``_old-*``)."""
    tmp = _written(final, write)
    aside = _sibling(final, "_old") if os.path.isdir(final) else None
    try:
        if aside is not None:
            os.rename(final, aside)
        try:
            os.rename(tmp, final)
        except BaseException:
            # put the old content back; if even that fails it stays
            # in _old-*, never deleted
            old, aside = aside, None
            if old is not None:
                os.rename(old, final)
            raise
    except BaseException:
        _drop(tmp)
        raise
    finally:
        if aside is not None:
            shutil.rmtree(aside, ignore_errors=True)
    return final


def remove_dir(path: str) -> None:
    """Retract a directory: it leaves its name with one rename, then is
    deleted, so a crash mid-delete leaves only ``_old-*`` garbage."""
    aside = _sibling(path, "_old")
    try:
        os.rename(path, aside)
    except FileNotFoundError:
        return
    shutil.rmtree(aside, ignore_errors=True)


def write_file(path: str, write: Callable[[str], object]) -> str:
    """Commit one file: ``write(tmp)`` fills a tmp file that atomically
    replaces ``path`` — a reader sees the old file or the new one,
    never a torn one."""
    tmp = _written(path, write)
    try:
        os.replace(tmp, path)
    except BaseException:
        _drop(tmp)
        raise
    return path
