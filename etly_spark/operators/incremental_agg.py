"""Incremental maintenance of keyed aggregates across runs.

The 100 TB rollup story: a pipeline that lands a batch per window must
keep corpus-level statistics (per-source doc counts, token totals,
per-lang quality sums, min/max watermarks) WITHOUT rescanning history.
For distributive/algebraic aggregates the textbook answer is partial
aggregation + merge: each run folds only its batch's partials into a
durable store, and the current value is the merge of all folds —
per-run work is O(batch + key cardinality), never O(history).

This module is the batch twin of the streaming epoch fold
(streaming/dedup.py:start_feature_index) with the one property record
indexes don't need: MERGE-AWARENESS. A replayed or compacted partial
must never double-count, so a fold refuses any epoch a committed
segment already holds.

Layout under ``state_dir``: an io/compact segment log keyed ``epoch``::

    epoch=<K>/              one parquet dir per fold (partial agg rows,
                            key-cardinality sized; replay overwrites its
                            own epoch — idempotent)
    epoch=_compacted-<N>/   the merge of the previous segment and the
                            loose epochs; its cumulative manifest names
                            every epoch ever merged

The reader merges the live partitions (io/compact.live_partitions), so
a crash between a segment's commit and its cleanup cannot double-count.

Aggregates are declared as ``merges: {column: 'sum'|'min'|'max'}`` over
partial columns the caller computes (count -> sum of partial counts,
avg -> sum/sum of two partials, distinct -> fold a sketch column).
Exact float sums under refold follow the repo's cross-engine contract:
route them through DECIMAL partials if bit-stability matters.

No reference analogue (viant/etly tracks files, not aggregates —
meta.go is presence-only); this extends M1's exactly-once ledger idea
to the relational surface.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etly_spark.io.commit import replace_dir
from etly_spark.io.compact import folded_partitions, live_partitions, supersede_partitions

# One lock per state dir (process-level): concurrent driver threads may
# share one rollup state, and two unsynchronized compact() calls would
# race for the same segment name. Folds of distinct epochs are
# write-disjoint but cheap to serialize alongside.
_STATE_LOCKS: dict[str, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def _state_lock(state_dir: str) -> threading.Lock:
    key = os.path.abspath(state_dir)
    with _LOCKS_GUARD:
        return _STATE_LOCKS.setdefault(key, threading.Lock())

# 'hll' merges DataSketches HLL binaries (hll_union_agg): the sketch
# answer to the one aggregate partial-merge can't do exactly —
# COUNT(DISTINCT) — making distinct counts incrementally maintainable
# at bounded state per key. Read back with hll_estimate().
_MERGE_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "hll": lambda c: F.hll_union_agg(c, allowDifferentLgConfigK=False),
}


def hll_estimate(col) -> F.Column:
    """Estimate column for a folded 'hll' sketch (read-side helper)."""
    return F.hll_sketch_estimate(col)


def _check_layout(state_dir: str) -> None:
    """Refuse a state dir holding a dir other than ``epoch=`` partitions
    and hidden ``_``/``.`` entries: the segment-log reader would skip
    the compacted bases of the earlier layout and undercount."""
    if not os.path.isdir(state_dir):
        return
    for d in sorted(os.listdir(state_dir)):
        if not d.startswith(("epoch=", "_", ".")) and os.path.isdir(
            os.path.join(state_dir, d)
        ):
            raise ValueError(
                f"rollup state {state_dir} holds {d}/, a compacted base of an "
                "earlier layout: compacted rollups are now epoch=_compacted-* "
                "segments of one segment log. Refold into a fresh state dir."
            )


def _fold_epoch(state_dir: str, epoch: int | str, write: Callable[[str], object]) -> bool:
    """Commit ``write``'s partial as ``epoch=<epoch>``, replacing a
    replayed one, unless a committed segment already holds that epoch
    (applying it again would double-count). Epoch ids are strings (ints
    from streaming epoch_ids and test folds stringify; the pipeline's
    per-file folds use full md5 hex — collision-free without squeezing
    into an int)."""
    with _state_lock(state_dir):
        _check_layout(state_dir)
        if f"epoch={epoch}" in folded_partitions(state_dir, "epoch"):
            return False
        replace_dir(os.path.join(state_dir, f"epoch={epoch}"), write)
        return True


def fold(
    state_dir: str,
    partial: DataFrame,
    epoch: int | str,
    *,
    keys: list[str],
    merges: dict[str, str],
) -> bool:
    """Fold one batch's partial aggregate into the store.

    ``partial`` must already be aggregated per ``keys`` (one shuffle
    over the BATCH only — history is never read). Replaying an epoch
    overwrites its own directory; an epoch already merged into a
    compacted segment is skipped entirely. Returns True if the fold was
    applied, False if it was a no-op replay of a compacted epoch."""
    cols = list(keys) + list(merges)
    return _fold_epoch(
        state_dir, epoch, lambda tmp: partial.select(*cols).write.parquet(tmp)
    )


def read(
    spark: SparkSession,
    state_dir: str,
    *,
    keys: list[str],
    merges: dict[str, str],
) -> DataFrame:
    """The current aggregate: the live partitions (the compacted segment
    + the loose epochs it does not cover), merged. Input rows number
    (segment keys + per-epoch keys), so this is a small-table merge at
    any history length."""
    _check_layout(state_dir)
    live = live_partitions(state_dir, "epoch")
    if not live:
        raise FileNotFoundError(f"no folded state under {state_dir}")
    # leaf paths, no basePath: a partition-discovered epoch column would
    # override a rollup key of the same name
    df = spark.read.parquet(*(os.path.join(state_dir, d) for d in live))
    return df.groupBy(*keys).agg(
        *[_MERGE_FNS[kind](c).alias(c) for c, kind in merges.items()]
    )


def compact(
    spark: SparkSession,
    state_dir: str,
    *,
    keys: list[str],
    merges: dict[str, str],
    threshold: int = 16,
) -> bool:
    """Supersede every live partition (the previous segment + the
    loose epochs) with one merged segment once loose epochs exceed
    ``threshold`` (io/compact.supersede_partitions). Aggregate rows are
    key-cardinality sized, so the full re-merge is cheap; the segment
    is committed before the dirs it covers are removed, so the worst
    crash outcome is some un-reclaimed disk, never a double count."""
    with _state_lock(state_dir):
        _check_layout(state_dir)
        loose = [
            d for d in live_partitions(state_dir, "epoch") if not d.startswith("epoch=_")
        ]
        if len(loose) <= threshold:
            return False
        merged = read(spark, state_dir, keys=keys, merges=merges)
        supersede_partitions(state_dir, "epoch", lambda tmp, _n: merged.write.parquet(tmp))
        return True


def parse_rollup_spec(aggregates: dict[str, str]) -> dict[str, tuple[str, str]]:
    """Validate a config-level aggregate spec (`Rollup.Aggregates`:
    column -> 'count' | 'sum:<col>' | 'min:<col>' | 'max:<col>' |
    'distinct:<col>') into {name: (kind, source_col)}. Pure Python —
    config validation must work with no SparkSession alive (building a
    Column without one raises from the JVM bridge)."""
    out: dict[str, tuple[str, str]] = {}
    for name, spec in aggregates.items():
        kind, _, col = spec.partition(":")
        if (kind == "count" and not col) or (
            kind in ("sum", "min", "max", "distinct") and col
        ):
            out[name] = (kind, col)
        else:
            raise ValueError(f"unknown rollup aggregate '{spec}' for '{name}'")
    return out


def rollup_plan(aggregates: dict[str, str]):
    """Compile an aggregate spec into (partial agg columns, merge spec).
    'count' partials merge by sum (the classic distributive
    decomposition); 'distinct' partials are HLL sketches merged by
    union (read-side estimate via hll_estimate)."""
    cols, merges = [], {}
    for name, (kind, col) in parse_rollup_spec(aggregates).items():
        if kind == "count":
            cols.append(F.count(F.lit(1)).alias(name))
            merges[name] = "sum"
        elif kind == "distinct":
            cols.append(F.hll_sketch_agg(col).alias(name))
            merges[name] = "hll"
        else:
            cols.append(_MERGE_FNS[kind](col).alias(name))
            merges[name] = kind
    return cols, merges


def delta(
    spark: SparkSession,
    newer_dir: str,
    older_dir: str,
    *,
    keys: list[str],
    sums: list[str],
) -> DataFrame:
    """Per-key difference between two rollup snapshots: what a
    monitoring pipeline computes between periodic copies of a
    cumulative state (this crawl vs last crawl — corpus growth per
    source, new-token influx per lang). Only additive columns are
    diffable (sum/count merges); keys present in one snapshot only get
    zero on the missing side. One small-table full-outer join — both
    inputs are key-cardinality sized at any history length."""
    merges = {c: "sum" for c in sums}
    new = read(spark, newer_dir, keys=keys, merges=merges)
    old = read(spark, older_dir, keys=keys, merges=merges)
    for k in keys:
        new = new.withColumnRenamed(k, f"__nk_{k}")
    for c in sums:
        new = new.withColumnRenamed(c, f"__new_{c}")
        old = old.withColumnRenamed(c, f"__old_{c}")
    # null-safe equality: a NULL key value is one bucket, not two
    # (a plain key-list join would split it into +new and -old rows)
    cond = None
    for k in keys:
        c = F.col(f"__nk_{k}").eqNullSafe(F.col(k))
        cond = c if cond is None else (cond & c)
    joined = new.join(old, cond, "full_outer")
    out_cols = [F.coalesce(F.col(f"__nk_{k}"), F.col(k)).alias(k) for k in keys]
    for c in sums:
        out_cols.append(
            (
                F.coalesce(F.col(f"__new_{c}"), F.lit(0))
                - F.coalesce(F.col(f"__old_{c}"), F.lit(0))
            ).alias(f"d_{c}")
        )
    return joined.select(*out_cols)


def fold_rows(
    state_dir: str,
    pdf,
    epoch: int | str,
    *,
    keys: list[str],
    merges: dict[str, str],
    schema=None,
) -> bool:
    """Driver-side fold of an already-collected partial (a pandas frame
    with the key + merge columns): pyarrow write, no Spark job. For
    per-file partials whose rows are bounded by (files x key
    cardinality) — the ledger-sidecar precedent; launching a Spark
    write (with its per-task commit protocol) per tiny partial would be
    pure overhead. Same epoch semantics as ``fold`` (covered refusal,
    replay replaces its own dir).

    ``schema`` (a Spark StructType covering at least keys+merges, or a
    pyarrow Schema in cols order) pins the parquet types. Without it a
    ZERO-ROW partial (a file whose rows were all filtered/corrupt)
    arrow-infers every column as null — and if compact() runs while
    only such empty epochs are loose, the compacted segment commits with
    the wrong schema and every later read/compact fails permanently
    with a parquet type mismatch. Callers that can see a Spark schema
    must pass it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(keys) + list(merges)
    arrow_schema = None
    if schema is not None:
        if isinstance(schema, pa.Schema):
            arrow_schema = schema
        else:
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            arrow_schema = to_arrow_schema(StructType([schema[c] for c in cols]))

    def write(tmp: str) -> None:
        table = pa.Table.from_pandas(pdf[cols], schema=arrow_schema, preserve_index=False)
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "part-0.parquet"))

    return _fold_epoch(state_dir, epoch, write)
