"""Incremental keyed-aggregate maintenance (operators/incremental_agg):
fold-equals-batch, replay idempotence, merge-aware compaction, and the
avg-via-two-partials pattern."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from etly_spark.io.compact import folded_partitions
from etly_spark.operators import incremental_agg as IA


def _ensure_rollup_schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etly_spark import registry

    if "test.RollupLog" not in registry.schemas:
        registry.schemas.register(
            "test.RollupLog",
            StructType(
                [
                    StructField("Id", LongType()),
                    StructField("Name", StringType()),
                    StructField("Type", StringType()),
                ]
            ),
        )


_ensure_rollup_schema()

KEYS = ["src"]
MERGES = {"n": "sum", "tot": "sum", "lo": "min", "hi": "max"}


def _batch(spark, rows):
    return spark.createDataFrame(rows, "src string, v long")


def _partial(df):
    return df.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("tot"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )


def _current(spark, state):
    return {
        r["src"]: (r["n"], r["tot"], r["lo"], r["hi"])
        for r in IA.read(spark, state, keys=KEYS, merges=MERGES).collect()
    }


BATCHES = [
    [("a", 1), ("a", 5), ("b", 10)],
    [("a", 3), ("c", 7)],
    [("b", -2), ("c", 100), ("c", 0)],
]


def test_folds_equal_batch_aggregate(spark, tmp_path):
    state = str(tmp_path / "state")
    for i, rows in enumerate(BATCHES):
        assert IA.fold(state, _partial(_batch(spark, rows)), i, keys=KEYS, merges=MERGES)
    want = {
        r["src"]: (r["n"], r["tot"], r["lo"], r["hi"])
        for r in _partial(_batch(spark, sum(BATCHES, []))).collect()
    }
    assert _current(spark, state) == want
    assert want["c"] == (3, 107, 0, 100)


def test_replay_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "state")
    for i, rows in enumerate(BATCHES):
        IA.fold(state, _partial(_batch(spark, rows)), i, keys=KEYS, merges=MERGES)
    before = _current(spark, state)
    # crash-replay of epoch 1 overwrites its own partial, not appends
    IA.fold(state, _partial(_batch(spark, BATCHES[1])), 1, keys=KEYS, merges=MERGES)
    assert _current(spark, state) == before


def test_compaction_preserves_values_and_skips_covered_replays(spark, tmp_path):
    state = str(tmp_path / "state")
    for i, rows in enumerate(BATCHES):
        IA.fold(state, _partial(_batch(spark, rows)), i, keys=KEYS, merges=MERGES)
    before = _current(spark, state)
    assert IA.compact(spark, state, keys=KEYS, merges=MERGES, threshold=1)
    assert _current(spark, state) == before
    # one compacted segment, no loose epochs
    names = os.listdir(state)
    assert [d for d in names if d.startswith("epoch=")] == ["epoch=_compacted-000001"]
    # replaying a compacted epoch is a refused no-op (it is already
    # merged into the segment — applying it again would double-count)
    assert not IA.fold(state, _partial(_batch(spark, BATCHES[0])), 0, keys=KEYS, merges=MERGES)
    assert _current(spark, state) == before
    # new epochs keep folding on top of the segment
    IA.fold(state, _partial(_batch(spark, [("a", 100)])), 9, keys=KEYS, merges=MERGES)
    after = _current(spark, state)
    assert after["a"] == (before["a"][0] + 1, before["a"][1] + 100, before["a"][2], 100)
    # second compaction tier covers the union
    assert IA.compact(spark, state, keys=KEYS, merges=MERGES, threshold=0)
    assert _current(spark, state) == after
    assert not IA.fold(state, _partial(_batch(spark, BATCHES[1])), 1, keys=KEYS, merges=MERGES)


def test_below_threshold_compaction_is_noop(spark, tmp_path):
    state = str(tmp_path / "state")
    IA.fold(state, _partial(_batch(spark, BATCHES[0])), 0, keys=KEYS, merges=MERGES)
    assert not IA.compact(spark, state, keys=KEYS, merges=MERGES, threshold=16)


def test_avg_via_two_partials(spark, tmp_path):
    """Algebraic aggregates decompose into mergeable partials: avg =
    folded sum / folded count — exact at any fold order for ints."""
    state = str(tmp_path / "avg")
    for i, rows in enumerate(BATCHES):
        IA.fold(
            state,
            _batch(spark, rows).groupBy("src").agg(
                F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
            ),
            i,
            keys=KEYS,
            merges={"s": "sum", "c": "sum"},
        )
    cur = IA.read(spark, state, keys=KEYS, merges={"s": "sum", "c": "sum"})
    got = {r["src"]: r["avg"] for r in cur.select("src", (F.col("s") / F.col("c")).alias("avg")).collect()}
    assert got == {"a": 3.0, "b": 4.0, "c": 107 / 3}


def test_read_empty_state_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        IA.read(spark, str(tmp_path / "nope"), keys=KEYS, merges=MERGES)


def test_config_addressable_rollup_across_incremental_runs(spark, tmp_path):
    """Transfer.Rollup folds per-window partial aggregates into durable
    state: two incremental runs over a growing source dir yield the
    full-corpus aggregate, and a NOOP re-run (all files in the ledger)
    folds nothing."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etly_spark import registry
    from etly_spark.config import Resource, Rollup, Source, Target, Transfer
    from etly_spark.pipeline import DONE, NOOP, TransferService

    if "test.RollupLog" not in registry.schemas:
        registry.schemas.register(
            "test.RollupLog",
            StructType(
                [
                    StructField("Id", LongType()),
                    StructField("Name", StringType()),
                    StructField("Type", StringType()),
                ]
            ),
        )

    src = tmp_path / "in"
    src.mkdir()
    state = str(tmp_path / "rollup")

    def write_batch(fname, rows):
        (src / fname).write_text(
            "\n".join(
                '{"Id": %d, "Name": "%s", "Type": "t"}' % (i, nm) for i, nm in rows
            )
            + "\n"
        )

    t = Transfer(
        name="rollup-e2e",
        source=Source(name=str(src), data_type="test.RollupLog"),
        target=Target(name=str(tmp_path / "out" / "<file>")),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),
        rollup=Rollup(
            state_dir=state,
            keys=["Name"],
            aggregates={"n": "count", "max_id": "max:Id", "min_id": "min:Id"},
        ),
        base_dir=str(tmp_path),
    )
    t.validate()
    svc = TransferService(spark)

    write_batch("b0.log", [(1, "x"), (2, "x"), (3, "y")])
    assert svc.run(t).status == DONE
    cur = {
        r["Name"]: (r["n"], r["max_id"], r["min_id"])
        for r in IA.read(spark, state, keys=["Name"], merges={"n": "sum", "max_id": "max", "min_id": "min"}).collect()
    }
    assert cur == {"x": (2, 2, 1), "y": (1, 3, 3)}

    # incremental: a second file lands; only it is read, the rollup folds on top
    write_batch("b1.log", [(9, "y"), (10, "z")])
    assert svc.run(t).status == DONE
    cur = {
        r["Name"]: (r["n"], r["max_id"], r["min_id"])
        for r in IA.read(spark, state, keys=["Name"], merges={"n": "sum", "max_id": "max", "min_id": "min"}).collect()
    }
    assert cur == {"x": (2, 2, 1), "y": (2, 9, 3), "z": (1, 10, 10)}

    # NOOP re-run: nothing eligible -> no fold, state unchanged
    assert svc.run(t).status == NOOP
    again = {
        r["Name"]: (r["n"], r["max_id"], r["min_id"])
        for r in IA.read(spark, state, keys=["Name"], merges={"n": "sum", "max_id": "max", "min_id": "min"}).collect()
    }
    assert again == cur


def test_rollup_config_validation():
    from etly_spark.config import Rollup, Transfer

    t = Transfer(name="bad", rollup=Rollup(state_dir="/tmp/x", keys=["k"], aggregates={"n": "median:v"}))
    with pytest.raises(ValueError, match="unknown rollup aggregate"):
        t.validate()
    t2 = Transfer(name="bad2", rollup=Rollup(state_dir="", keys=[], aggregates={}))
    with pytest.raises(ValueError, match="Rollup requires"):
        t2.validate()


def test_streaming_rollup_matches_batch_and_survives_restart(spark, tmp_path):
    """The streaming fold (streaming/rollup.py) maintains the same
    durable state across two availableNow drains; the accumulated
    rollup equals the batch aggregate of everything streamed, and the
    checkpoint prevents refolding drained files."""
    from etly_spark.streaming.rollup import start_rollup

    src = tmp_path / "sin"
    src.mkdir()
    state = str(tmp_path / "sstate")
    ckpt = str(tmp_path / "sckpt")

    spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 10)], "k string, v long"
    ).write.parquet(str(src / "p0.parquet"))

    def drain():
        stream = spark.readStream.schema("k string, v long").parquet(str(src / "*.parquet"))
        q = start_rollup(
            stream, state, ckpt,
            keys=["k"], aggregates={"n": "count", "tot": "sum:v", "hi": "max:v"},
        )
        q.awaitTermination(120)

    drain()
    merges = {"n": "sum", "tot": "sum", "hi": "max"}
    cur = {
        r["k"]: (r["n"], r["tot"], r["hi"])
        for r in IA.read(spark, state, keys=["k"], merges=merges).collect()
    }
    assert cur == {"a": (2, 6, 5), "b": (1, 10, 10)}

    # restart with new data: only the new file folds
    spark.createDataFrame([("b", 2), ("c", 7)], "k string, v long").write.parquet(
        str(src / "p1.parquet")
    )
    drain()
    cur = {
        r["k"]: (r["n"], r["tot"], r["hi"])
        for r in IA.read(spark, state, keys=["k"], merges=merges).collect()
    }
    assert cur == {"a": (2, 6, 5), "b": (2, 12, 10), "c": (1, 7, 7)}

    # a third drain with nothing new folds nothing
    drain()
    again = {
        r["k"]: (r["n"], r["tot"], r["hi"])
        for r in IA.read(spark, state, keys=["k"], merges=merges).collect()
    }
    assert again == cur


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_key_st = st.sampled_from(["a", "b", "c"])
_batch_st = st.lists(st.tuples(_key_st, st.integers(-50, 50)), min_size=1, max_size=4)
# an op is either a fold (epoch, batch) — repeated epochs model replays —
# or a compaction with a small threshold
_op_st = st.one_of(
    st.tuples(st.just("fold"), st.integers(0, 3), _batch_st),
    st.tuples(st.just("compact"), st.integers(0, 2), st.none()),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op_st, min_size=1, max_size=6))
def test_any_fold_compact_interleaving_reads_exactly(spark, tmp_path_factory, ops):
    """For ANY interleaving of folds (with replayed epochs) and
    compactions: read() equals the batch aggregate of one contribution
    per epoch — the FIRST batch folded for epochs that were compacted
    before their replay arrived (covered epochs refuse refolds), else
    the LAST batch folded. Never a double count, never a lost fold."""
    state = str(tmp_path_factory.mktemp("prop"))
    effective: dict[int, list] = {}
    folded_any = False
    for op in ops:
        if op[0] == "fold":
            _, epoch, rows = op
            applied = IA.fold(
                state, _partial(_batch(spark, rows)), epoch, keys=KEYS, merges=MERGES
            )
            # a fold is refused exactly when its epoch is compacted
            assert applied == (f"epoch={epoch}" not in folded_partitions(state, "epoch"))
            if applied:
                effective[epoch] = rows
                folded_any = True
        else:
            IA.compact(spark, state, keys=KEYS, merges=MERGES, threshold=op[1])
    if not folded_any:
        return
    want = {
        r["src"]: (r["n"], r["tot"], r["lo"], r["hi"])
        for r in _partial(_batch(spark, sum(effective.values(), []))).collect()
    }
    assert _current(spark, state) == want


def test_distinct_via_hll_sketch_folds(spark, tmp_path):
    """'distinct:<col>' folds DataSketches HLL partials: overlapping
    batches union to the true distinct count (exact at small
    cardinality), surviving compaction — the sketch answer to the one
    aggregate plain partial-merge can't maintain."""
    state = str(tmp_path / "hll")
    cols, merges = IA.rollup_plan({"u": "distinct:v", "n": "count"})
    for i, rows in enumerate([[("a", 1), ("a", 2), ("b", 7)], [("a", 2), ("a", 3)]]):
        IA.fold(
            state,
            _batch(spark, rows).groupBy("src").agg(*cols),
            i,
            keys=KEYS,
            merges=merges,
        )

    def current():
        cur = IA.read(spark, state, keys=KEYS, merges=merges)
        return {
            r["src"]: (int(r["u_est"]), r["n"])
            for r in cur.select("src", IA.hll_estimate("u").alias("u_est"), "n").collect()
        }

    assert current() == {"a": (3, 4), "b": (1, 1)}
    assert IA.compact(spark, state, keys=KEYS, merges=merges, threshold=0)
    assert current() == {"a": (3, 4), "b": (1, 1)}
    # fold after compaction keeps unioning
    IA.fold(state, _batch(spark, [("b", 8)]).groupBy("src").agg(*cols), 5, keys=KEYS, merges=merges)
    assert current() == {"a": (3, 4), "b": (2, 2)}


def test_crash_retry_same_batch_different_walltime_no_double_count(spark, tmp_path):
    """The fold epoch is keyed by the FILE BATCH alone: if a run crashes
    after the fold but before the ledger write, the retry (same files,
    later wall-clock ts) overwrites its own epoch instead of folding a
    second one — the review-found double-count is pinned closed."""
    import shutil
    from datetime import datetime, timedelta, timezone

    from etly_spark.config import Resource, Rollup, Source, Target, Transfer
    from etly_spark.pipeline import DONE, TransferService

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text('{"Id": 1, "Name": "x", "Type": "t"}\n')
    state = str(tmp_path / "rollup")
    t = Transfer(
        name="retry",
        source=Source(name=str(src), data_type="test.RollupLog"),
        target=Target(name=str(tmp_path / "out" / "<file>")),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),
        rollup=Rollup(state_dir=state, keys=["Name"], aggregates={"n": "count"}),
        base_dir=str(tmp_path),
    )
    svc = TransferService(spark)
    t0 = datetime.now(timezone.utc)
    assert svc.run(t, now=t0).status == DONE
    # simulate a crash AFTER the fold but BEFORE the ledger landed:
    # wipe the meta JSON + sidecar so the same file is eligible again
    (tmp_path / "out" / "meta.json").unlink()
    shutil.rmtree(str(tmp_path / "out" / "meta.json.files"), ignore_errors=True)
    assert svc.run(t, now=t0 + timedelta(hours=3)).status == DONE
    cur = IA.read(spark, state, keys=["Name"], merges={"n": "sum"}).collect()
    assert {r["Name"]: r["n"] for r in cur} == {"x": 1}  # not 2


def test_compact_threshold_zero_survives_config_parse():
    from etly_spark.config import transfer_from_dict

    t = transfer_from_dict(
        {
            "Name": "x",
            "Rollup": {
                "StateDir": "/tmp/s",
                "Keys": ["k"],
                "Aggregates": {"n": "count"},
                "CompactThreshold": 0,
            },
        }
    )
    assert t.rollup.compact_threshold == 0


def test_rollup_rejects_remote_state_dir():
    from etly_spark.config import Rollup, Transfer

    t = Transfer(
        name="r",
        rollup=Rollup(state_dir="s3://bucket/x", keys=["k"], aggregates={"n": "count"}),
    )
    with pytest.raises(ValueError, match="local path"):
        t.validate()


def test_streaming_rollup_refuses_foreign_checkpoint(spark, tmp_path):
    """A rollup state is bound to its checkpoint: restarting with a
    fresh checkpoint over existing state (epoch ids restart at 0 and
    would collide with folded epochs) is refused loudly."""
    from etly_spark.streaming.rollup import start_rollup

    src = tmp_path / "s"
    src.mkdir()
    spark.createDataFrame([("a", 1)], "k string, v long").write.parquet(
        str(src / "p.parquet")
    )
    state, ck1, ck2 = str(tmp_path / "st"), str(tmp_path / "ck1"), str(tmp_path / "ck2")

    def drain(ck):
        stream = spark.readStream.schema("k string, v long").parquet(str(src / "*.parquet"))
        q = start_rollup(stream, state, ck, keys=["k"], aggregates={"n": "count"})
        q.awaitTermination(120)

    drain(ck1)
    drain(ck1)  # same checkpoint: fine
    with pytest.raises(ValueError, match="bound to checkpoint"):
        drain(ck2)


def test_streaming_rollup_binds_after_torn_marker_write(spark, tmp_path, monkeypatch):
    """A crash part-way through writing the bind marker leaves no torn
    ``_stream.json``: the next start binds afresh and folds, instead of
    failing every later start in json.load."""
    import json

    from etly_spark.streaming.rollup import start_rollup

    src = tmp_path / "s"
    src.mkdir()
    spark.createDataFrame([("a", 1)], "k string, v long").write.parquet(
        str(src / "p.parquet")
    )
    state, ck = str(tmp_path / "st"), str(tmp_path / "ck")

    def drain():
        stream = spark.readStream.schema("k string, v long").parquet(str(src / "*.parquet"))
        q = start_rollup(stream, state, ck, keys=["k"], aggregates={"n": "count"})
        q.awaitTermination(120)

    real_dump = json.dump

    def torn_marker(obj, fh, *a, **kw):
        if isinstance(obj, dict) and "checkpoint" in obj:
            text = json.dumps(obj)
            fh.write(text[: len(text) // 2])
            raise OSError("crash mid-write")
        return real_dump(obj, fh, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_marker)
        with pytest.raises(OSError, match="crash mid-write"):
            drain()
    drain()
    cur = IA.read(spark, state, keys=["k"], merges={"n": "sum"}).collect()
    assert {r["k"]: r["n"] for r in cur} == {"a": 1}


def test_state_in_the_earlier_base_layout_fails_loudly(spark, tmp_path):
    """A state dir holding a compacted ``base-*`` dir of the earlier
    layout is refused by read, fold and compact, naming the dir: the
    segment-log reader would skip it and silently undercount."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    state = tmp_path / "state"
    IA.fold(str(state), _partial(_batch(spark, BATCHES[1])), 1, keys=KEYS, merges=MERGES)
    base = state / "base-000001"
    (base / "data").mkdir(parents=True)
    table = pa.Table.from_pandas(_partial(_batch(spark, BATCHES[0])).toPandas())
    pq.write_table(table, str(base / "data" / "part-0.parquet"))
    (base / "_covered.json").write_text(json.dumps({"epochs": ["0"]}))
    with pytest.raises(ValueError, match="base-000001.*layout"):
        IA.read(spark, str(state), keys=KEYS, merges=MERGES)
    with pytest.raises(ValueError, match="base-000001.*layout"):
        IA.fold(str(state), _partial(_batch(spark, BATCHES[2])), 2, keys=KEYS, merges=MERGES)
    with pytest.raises(ValueError, match="base-000001.*layout"):
        IA.compact(spark, str(state), keys=KEYS, merges=MERGES, threshold=0)


def test_rollup_key_named_epoch_keeps_its_values(spark, tmp_path):
    """The state's partitions are named ``epoch=…``; a rollup keyed by
    its own ``epoch`` column must still group by that column's values,
    not by the partition names."""
    state = str(tmp_path / "state")
    partial = spark.createDataFrame([("x", 2)], "epoch string, n long")
    for i, n in enumerate((2, 3)):
        pdf = spark.createDataFrame([("x", n)], partial.schema).toPandas()
        IA.fold_rows(state, pdf, i, keys=["epoch"], merges={"n": "sum"}, schema=partial.schema)
    got = IA.read(spark, state, keys=["epoch"], merges={"n": "sum"}).collect()
    assert [tuple(r) for r in got] == [("x", 5)]


def test_snapshot_delta_equals_interim_folds(spark, tmp_path):
    """delta(newer, older) over two snapshots of a cumulative rollup
    equals the aggregate of exactly the batches folded in between —
    including keys that appeared only after the snapshot."""
    import shutil

    state = str(tmp_path / "state")
    snap = str(tmp_path / "snap")
    m = {"n": "sum", "tot": "sum"}

    def part(rows):
        return _batch(spark, rows).groupBy("src").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("tot")
        )

    IA.fold(state, part(BATCHES[0]), 0, keys=KEYS, merges=m)
    IA.fold(state, part(BATCHES[1]), 1, keys=KEYS, merges=m)
    shutil.copytree(state, snap)
    IA.fold(state, part(BATCHES[2]), 2, keys=KEYS, merges=m)
    IA.fold(state, part([("d", 42)]), 3, keys=KEYS, merges=m)

    got = {
        r["src"]: (r["d_n"], r["d_tot"])
        for r in IA.delta(spark, state, snap, keys=KEYS, sums=["n", "tot"]).collect()
    }
    want_rows = part(BATCHES[2] + [("d", 42)]).collect()
    want = {r["src"]: (r["n"], r["tot"]) for r in want_rows}
    # keys untouched since the snapshot read as zero-delta
    for k in set(got) - set(want):
        assert got[k] == (0, 0)
    assert {k: v for k, v in got.items() if k in want} == want


def test_config_rollup_with_distinct_sketch(spark, tmp_path):
    """'distinct:<col>' flows through the config surface: the pipeline
    folds HLL partials per window and the estimate over accumulated
    state equals the exact distinct count across runs."""
    from etly_spark.config import Resource, Rollup, Source, Target, Transfer
    from etly_spark.pipeline import DONE, TransferService

    src = tmp_path / "in"
    src.mkdir()
    state = str(tmp_path / "rollup")
    t = Transfer(
        name="hll-e2e",
        source=Source(name=str(src), data_type="test.RollupLog"),
        target=Target(name=str(tmp_path / "out" / "<file>")),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),
        rollup=Rollup(
            state_dir=state, keys=["Type"], aggregates={"u_names": "distinct:Name"}
        ),
        base_dir=str(tmp_path),
    )
    t.validate()
    svc = TransferService(spark)
    (src / "b0.log").write_text(
        '{"Id":1,"Name":"x","Type":"t"}\n{"Id":2,"Name":"y","Type":"t"}\n'
    )
    assert svc.run(t).status == DONE
    (src / "b1.log").write_text(
        '{"Id":3,"Name":"y","Type":"t"}\n{"Id":4,"Name":"z","Type":"t"}\n'
    )
    assert svc.run(t).status == DONE
    cur = IA.read(spark, state, keys=["Type"], merges={"u_names": "hll"})
    est = cur.select(IA.hll_estimate("u_names").alias("e")).collect()[0]["e"]
    assert int(est) == 3  # x, y, z — y deduped across runs by the sketch union


def test_delta_null_key_is_one_bucket(spark, tmp_path):
    """A NULL key value is ONE bucket in the snapshot delta (a plain
    key-list join would split it into +new and -old rows)."""
    import shutil

    state, snap = str(tmp_path / "s"), str(tmp_path / "sn")
    m = {"n": "sum"}
    b1 = spark.createDataFrame([(None, 3), ("a", 1)], "src string, n long")
    IA.fold(state, b1, 0, keys=KEYS, merges=m)
    shutil.copytree(state, snap)
    b2 = spark.createDataFrame([(None, 7), ("a", 2)], "src string, n long")
    IA.fold(state, b2, 1, keys=KEYS, merges=m)
    got = {r["src"]: r["d_n"] for r in IA.delta(spark, state, snap, keys=KEYS, sums=["n"]).collect()}
    assert got == {None: 7, "a": 2}


def test_concurrent_folds_and_compactions_are_serialized(spark, tmp_path):
    """P3 runs windows from concurrent driver threads sharing one
    rollup state: interleaved fold+compact from many threads must
    neither error (the base-N rename race) nor lose/double any fold."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    state = str(tmp_path / "conc")
    m = {"n": "sum"}

    def work(e):
        b = spark.createDataFrame([("k", 1)], "src string, n long")
        IA.fold(state, b, e, keys=KEYS, merges=m)
        IA.compact(spark, state, keys=KEYS, merges=m, threshold=2)

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=6) as pool:
        futures = [pool.submit(inherit(work), e) for e in range(12)]
        errs = [f.exception() for f in futures]
    assert errs == [None] * 12, errs
    cur = IA.read(spark, state, keys=KEYS, merges=m).collect()
    assert {r["src"]: r["n"] for r in cur} == {"k": 12}


def test_example_config_round_trips_every_extension_field():
    """examples/curation_transfer.json exercises the full config
    surface added this round (Rollup incl. an HLL distinct aggregate,
    ClusterBy, the etly.RedactPII builtin name) and validates — the
    user-facing proof the extensions are config-addressable."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etly_spark import registry
    from etly_spark.config import TransferConfig

    if "example.Doc" not in registry.schemas:
        registry.schemas.register(
            "example.Doc",
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("text", StringType()),
                    StructField("lang", StringType()),
                    StructField("n_chars", LongType()),
                ]
            ),
        )
    path = os.path.join(os.path.dirname(__file__), "..", "examples", "curation_transfer.json")
    cfg = TransferConfig.from_json(path)
    t, t2 = cfg.transfers[:2]  # transfer 3 (r10 RemoveSpans) has no extension fields
    t.validate()
    t2.validate()
    assert t2.content_enricher == "etly.DedupLines"
    assert t2.transformer == "etly.QualityScore"
    assert t2.filter == "etly.QualityGate"
    assert t.transformer == "etly.RedactPII"
    assert t.target.cluster_by == ["lang", "n_chars"]
    assert t.rollup.aggregates["uniq_docs"] == "distinct:doc_id"
    assert t.rollup.compact_threshold == 16
    assert t.time_window.duration == 2 and t.frequency.unit == "hour"


def test_crash_retry_with_changed_batch_composition_no_double_count(spark, tmp_path):
    """Per-FILE fold epochs: a crash between fold and ledger retried
    with a GROWN batch (a new file arrived meanwhile) overwrites the
    already-folded files' own epochs and adds only the new file —
    batch-level epochs would fold the old files twice."""
    import shutil

    from etly_spark.config import Resource, Rollup, Source, Target, Transfer
    from etly_spark.pipeline import DONE, TransferService

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text('{"Id": 1, "Name": "x", "Type": "t"}\n')
    (src / "b.log").write_text('{"Id": 2, "Name": "x", "Type": "t"}\n')
    state = str(tmp_path / "rollup")
    t = Transfer(
        name="retry2",
        source=Source(name=str(src), data_type="test.RollupLog"),
        target=Target(name=str(tmp_path / "out" / "<file>")),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),
        rollup=Rollup(state_dir=state, keys=["Name"], aggregates={"n": "count"}),
        base_dir=str(tmp_path),
    )
    svc = TransferService(spark)
    assert svc.run(t).status == DONE
    # crash-sim: folds landed, ledger did not; meanwhile file c arrives
    (tmp_path / "out" / "meta.json").unlink()
    shutil.rmtree(str(tmp_path / "out" / "meta.json.files"), ignore_errors=True)
    (src / "c.log").write_text('{"Id": 3, "Name": "y", "Type": "t"}\n')
    assert svc.run(t).status == DONE
    cur = {r["Name"]: r["n"] for r in IA.read(spark, state, keys=["Name"], merges={"n": "sum"}).collect()}
    assert cur == {"x": 2, "y": 1}  # not x:4


def test_streaming_rollup_refuses_recreated_checkpoint(spark, tmp_path):
    """rm -rf of the checkpoint at the SAME path loses the bind
    sentinel: the restart is refused instead of replaying epoch 0..
    into folded state."""
    import shutil

    from etly_spark.streaming.rollup import start_rollup

    src = tmp_path / "s"
    src.mkdir()
    spark.createDataFrame([("a", 1)], "k string, v long").write.parquet(
        str(src / "p.parquet")
    )
    state, ck = str(tmp_path / "st"), str(tmp_path / "ck")

    def drain():
        stream = spark.readStream.schema("k string, v long").parquet(str(src / "*.parquet"))
        q = start_rollup(stream, state, ck, keys=["k"], aggregates={"n": "count"})
        q.awaitTermination(120)

    drain()
    shutil.rmtree(ck)  # the common operator move
    with pytest.raises(ValueError, match="recreated"):
        drain()


def test_zero_row_partials_do_not_corrupt_state_schema(spark, tmp_path):
    """ADVICE r6 (medium): a file whose rows are all filtered/corrupt
    folds a ZERO-ROW partial. Without a pinned schema, arrow infers
    every column as null type; if compact() runs while only such empty
    epochs are uncovered, the base segment commits with the wrong
    schema and every later read/compact of the state fails permanently
    with a parquet type mismatch. With the Spark schema passed through,
    empty epochs are typed correctly and the state keeps working."""
    state = str(tmp_path / "state")
    partial = _partial(_batch(spark, [("a", 1)]))
    empty_pdf = partial.limit(0).toPandas()

    # only empty epochs uncovered, then compact at threshold 0
    for i in range(3):
        assert IA.fold_rows(
            state, empty_pdf, f"empty-{i}", keys=KEYS, merges=MERGES,
            schema=partial.schema,
        )
    assert IA.compact(spark, state, keys=KEYS, merges=MERGES, threshold=0)

    # the state must still accept and read real partials
    assert IA.fold_rows(
        state, _partial(_batch(spark, [("a", 2), ("b", 7)])).toPandas(),
        "real-1", keys=KEYS, merges=MERGES, schema=partial.schema,
    )
    cur = _current(spark, state)
    assert cur["a"] == (1, 2, 2, 2)
    assert cur["b"] == (1, 7, 7, 7)
    # and compact again over the mixed base+epoch state
    assert IA.compact(spark, state, keys=KEYS, merges=MERGES, threshold=0)
    assert _current(spark, state) == cur


def test_fold_commits_epoch_dir_atomically(spark, tmp_path):
    """ADVICE r6 (low): the Spark-side fold() must land epoch dirs via
    tmp+rename like fold_rows — no in-place overwrite a reader could
    see torn. After a fold, the state dir contains only the epoch dir
    (no _tmp leftovers), and replay overwrites cleanly."""
    state = str(tmp_path / "state")
    p = _partial(_batch(spark, [("a", 3)]))
    assert IA.fold(state, p, 1, keys=KEYS, merges=MERGES)
    assert IA.fold(state, p, 1, keys=KEYS, merges=MERGES)  # replay
    entries = sorted(os.listdir(state))
    assert entries == ["epoch=1"], entries
    assert _current(spark, state)["a"] == (1, 3, 3, 3)


def test_compact_lost_race_keeps_loose_epochs(spark, tmp_path, monkeypatch):
    """Another process publishing the same segment with an overlapping
    coverage wins the name: compact must fail and keep the loose epochs
    its segment does not hold, not drop them."""
    import json

    from etly_spark.io import commit, compact

    state = str(tmp_path / "state")
    for i, rows in enumerate(BATCHES):
        IA.fold(state, _partial(_batch(spark, rows)), i, keys=KEYS, merges=MERGES)
    before = _current(spark, state)

    def rival_first(final, write):
        def rival(tmp):
            os.makedirs(tmp)
            with open(os.path.join(tmp, "_folded.json"), "w") as fh:
                json.dump({"epoch=0": []}, fh)

        commit.publish_dir(final, rival)
        return commit.publish_dir(final, write)

    monkeypatch.setattr(compact, "publish_dir", rival_first)
    with pytest.raises(RuntimeError, match="committed concurrently"):
        IA.compact(spark, state, keys=KEYS, merges=MERGES, threshold=1)
    loose = {
        d for d in os.listdir(state) if d.startswith("epoch=") and not d.startswith("epoch=_")
    }
    assert loose == {f"epoch={i}" for i in range(len(BATCHES))}
    monkeypatch.undo()
    shutil.rmtree(os.path.join(state, "epoch=_compacted-000001"))
    assert _current(spark, state) == before
