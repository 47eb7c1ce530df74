"""Streaming twin of the batch rollup fold (operators/incremental_agg).

A continuous ingest keeps corpus statistics current by folding each
micro-batch's partial aggregate into the same durable state the batch
pipeline uses: epoch = the foreachBatch epoch_id, so a replayed
micro-batch (crash between fold and checkpoint commit) overwrites its
own partial — the idempotent-foreachBatch pattern; exactly-once lands
on the checkpoint. Unlike an in-memory streaming aggregation with
``outputMode("complete")``, the state here survives query restarts,
is readable by ANY batch consumer mid-stream via ``incremental_agg.
read``, and never holds unbounded keys in executor state stores.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from etly_spark.io.commit import write_file
from etly_spark.operators import incremental_agg as IA


def _write_json(path: str, obj: dict) -> None:
    def write(tmp: str) -> None:
        with open(tmp, "w") as fh:
            json.dump(obj, fh)

    write_file(path, write)


def _bind_checkpoint(state_dir: str, checkpoint: str) -> None:
    """Refuse to reuse a rollup state with a DIFFERENT checkpoint:
    foreachBatch epoch_ids restart at 0 under a fresh checkpoint, so a
    re-drain of already-folded source files would collide with (or
    double-count against) the old epochs. The marker ties the epoch
    space to its checkpoint; deleting the checkpoint means starting a
    fresh state_dir too."""
    marker = os.path.join(state_dir, "_stream.json")
    cp = os.path.abspath(checkpoint)
    # the sentinel lives in BOTH dirs with a shared random id: a
    # checkpoint deleted and recreated AT THE SAME PATH (rm -rf — the
    # most common operator move) loses its sentinel, so the bind check
    # still refuses instead of replaying epoch 0.. into folded state
    cp_sentinel = os.path.join(cp, "_rollup_bind.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            bound = json.load(fh)
        fresh_cp = not os.path.exists(cp_sentinel)
        if not fresh_cp:
            with open(cp_sentinel) as fh:
                cp_id = json.load(fh)["bind_id"]
        if bound["checkpoint"] != cp or fresh_cp or cp_id != bound["bind_id"]:
            raise ValueError(
                f"rollup state {state_dir} is bound to checkpoint "
                f"{bound['checkpoint']} (bind {bound['bind_id']}); this "
                "checkpoint is different or was recreated — its epoch ids "
                "would replay into folded state. Use a fresh state_dir "
                "with a fresh checkpoint."
            )
        return
    import uuid

    bind_id = uuid.uuid4().hex
    # sentinel first, marker last: a crash between (or inside) the two
    # commits leaves no marker, so the next start binds afresh
    _write_json(cp_sentinel, {"bind_id": bind_id})
    _write_json(marker, {"checkpoint": cp, "bind_id": bind_id})


def start_rollup(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    *,
    keys: list[str],
    aggregates: dict[str, str],
    compact_threshold: int = 16,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain a durable keyed rollup from a stream. ``aggregates``
    uses the config-level spec ('count' | 'sum:<col>' | 'min:<col>' |
    'max:<col>' | 'distinct:<col>' — incremental_agg.rollup_plan).
    The state_dir is bound to its checkpoint on first start; reusing it
    with a different checkpoint is refused (epoch-space collision)."""
    _bind_checkpoint(state_dir, checkpoint)
    partial_cols, merges = IA.rollup_plan(aggregates)

    def fold_batch(bdf: DataFrame, epoch_id: int) -> None:
        IA.fold(
            state_dir,
            bdf.groupBy(*keys).agg(*partial_cols),
            epoch_id,
            keys=keys,
            merges=merges,
        )
        IA.compact(
            bdf.sparkSession,
            state_dir,
            keys=keys,
            merges=merges,
            threshold=compact_threshold,
        )

    writer = stream.writeStream.foreachBatch(fold_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
