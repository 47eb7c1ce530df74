"""The workloads, ``transfer_incremental`` and ``catalog``. Each drives the
engine through its public entry points only: ``TransferService.run`` for
the transfers, the registered catalog builders followed by a ``noop``
write for the catalog.

A workload sets itself up (untimed, but counted in ``setup_s``) and then
yields ops. An op has an untimed ``prepare``, a timed ``run`` and an
untimed ``check`` that returns the problems it found; the runner in
``run.py`` owns the clock, the tracer and the failure accounting.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np

from perfbench import checks, gen

# A fixed scheduler clock: timed ticks always see the same 24 windows.
NOW = datetime(2026, 1, 1, 12, 30, tzinfo=timezone.utc)


@dataclass
class Op:
    key: str  # what is repeated: a query name, "history", "landing", "empty"
    kind: str  # "primary" ops feed the latency metrics; "empty" the no-op ticks
    run: object  # () -> info, timed
    check: object = None  # (info) -> list[str], untimed
    prepare: object = None  # () -> None, untimed
    records: int = 0  # input records the op commits when it succeeds


def _register_callables() -> None:
    """Schema and transformer the Transfer names in config."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from etly_spark import registry

    if "perfbench.Event" in registry.schemas:
        return
    registry.schemas.register(
        "perfbench.Event",
        StructType([
            StructField("id", LongType()),
            StructField("type", StringType()),
            StructField("user", LongType()),
            StructField("value", DoubleType()),
            StructField("msg", StringType()),
        ]),
    )
    registry.transformers.register(
        "perfbench.EventToKV",
        lambda df: [
            F.col("id").alias("Key"),
            F.concat_ws("/", F.col("type"), F.col("user").cast("string"), F.col("msg")).alias("Value"),
        ],
    )


class TransferIncremental:
    """A 24-hour look-back over hourly source directories sharing one
    ledger. History is processed by an earlier scheduler run; timed
    ticks at the fixed ``NOW`` alternate between landing a few files
    (one of them late, into an older hour) and landing nothing."""

    name = "transfer_incremental"
    ITERATION_S = 2.2  # nominal, on 4 cores: a landing and an empty tick
    HOURS = 24
    # History: HISTORY_HOURS of the look-back hold FILES_PER_HOUR files
    # each. At most 32 per window keeps Spark's file listing on the
    # driver, as it is for the few files a tick lands.
    HISTORY_HOURS = 4
    FILES_PER_HOUR = 32
    RECORDS_PER_FILE = 25
    LANDING_FILES = 5
    # The ledger sidecar has one loose partition per window that took
    # files: one per history hour, then the current hour's and one per
    # landing tick for its late hour, which no other tick reuses. The
    # warm-up tick brings the count to the threshold and the first timed
    # landing tick past it, so that tick compacts the sidecar.
    COMPACT_THRESHOLD = HISTORY_HOURS + 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        self.rng = np.random.default_rng(seed)
        self.next_id = 1
        self.next_file = 0
        self.landings = 0
        self.expected = gen.Expected()

    def _hour_dir(self, hours_back: int) -> str:
        ts = NOW - timedelta(hours=hours_back)
        return os.path.join(self.src_root, ts.strftime("%Y/%m/%d/%H"))

    def _land(self, hours_back: list[int]) -> gen.Expected:
        paths = []
        for h in hours_back:
            paths.append(os.path.join(self._hour_dir(h), f"ev-{self.next_file:06d}.ndjson.gz"))
            self.next_file += 1
        exp = gen.write_event_files(self.rng, paths, self.RECORDS_PER_FILE, first_id=self.next_id)
        self.next_id += len(paths) * self.RECORDS_PER_FILE
        self.expected.merge(exp)
        return exp

    def setup(self) -> None:
        from etly_spark import pipeline
        from etly_spark.config import Duration, Resource, Source, Target, Transfer

        _register_callables()
        pipeline.COMPACT_THRESHOLD = self.COMPACT_THRESHOLD
        self.src_root = os.path.join(self.work, "in")
        self.out = os.path.join(self.work, "out")
        self.meta = os.path.join(self.work, "meta", "ledger.json")
        self.transfer = Transfer(
            name="incremental",
            source=Source(name=os.path.join(self.src_root, "<dateFormat:yyyy/MM/dd/HH>"),
                          data_type="perfbench.Event", filter_reg_exp=r"\.ndjson\.gz$"),
            target=Target(name=os.path.join(self.out, "<dateFormat:yyyy/MM/dd/HH>", "<file>"),
                          compression="gzip"),
            meta=Resource(name=self.meta),
            transformer="perfbench.EventToKV",
            time_window=Duration(self.HOURS, "hour"),
            base_dir=self.work,
        )
        self.service = pipeline.TransferService(self.spark)
        older = np.arange(1, self.HOURS)
        hours = self.rng.choice(older, self.HISTORY_HOURS, replace=False)
        self._land([int(h) for h in hours for _ in range(self.FILES_PER_HOUR)])
        self.late_hours = [int(h) for h in self.rng.permutation(np.setdiff1d(older, hours))]

    def warm_ops(self) -> list[Op]:
        """The history, an earlier scheduler run over the same look-back,
        then one landing and one empty tick: the first ticks of a process
        are slower while the JVM compiles."""
        return [
            Op("history", "warm",
               lambda: self.service.run(self.transfer, now=NOW - timedelta(minutes=20)),
               checks.transfer_ok),
            Op("landing", "warm", self._landing, self._check_landing),
            Op("empty", "warm", self._empty, self._check_empty),
        ]

    def _landing(self):
        late = self.late_hours[self.landings % len(self.late_hours)]
        self.landings += 1
        exp = self._land([0] * (self.LANDING_FILES - 1) + [late])
        res = self.service.run(self.transfer, now=NOW)
        return {"result": res, "expected": exp}

    def _check_landing(self, info) -> list[str]:
        return checks.transfer_result(info["result"], info["expected"])

    def _empty(self):
        return {"result": self.service.run(self.transfer, now=NOW)}

    def _check_empty(self, info) -> list[str]:
        res = info["result"]
        if res.status != "NOOP":
            return [f"empty tick status {res.status} {res.error[:200]}"]
        return []

    def iteration(self, i: int) -> list[Op]:
        records = self.LANDING_FILES * self.RECORDS_PER_FILE
        return [
            Op("landing", "primary", self._landing, self._check_landing, records=records),
            Op("empty", "empty", self._empty, self._check_empty),
        ]

    def output_tree(self) -> str:
        return self.out

    def final_check(self) -> list[str]:
        """Exactly once: every generated id landed once, every input file
        is in the ledger once."""
        landed = checks.read_landed(self.out)
        problems = checks.landed_matches(landed, self.expected)
        problems += checks.ledger_lists_once(self.meta, self.expected.files)
        return problems


# Queries from the relational, etly, text and multimodal groups, and how
# often each runs in an iteration. q9_set_ops persists intermediates,
# text_quality reads a staged table, mm_decode_frames runs Python code in
# Spark's workers, which must import etly_spark (the runner sets
# PYTHONPATH for them). The dedup queries cost 5-8 s cold and 2-4 s a
# pass at this size, and sim_ann_methods over a minute cold. The three
# cheap, driver-bound rows run three times so that the median op falls
# inside their cluster of times: with every row run equally often it sat
# on the slowest cheap op, which one hiccup moves.
CATALOG_QUERIES = {
    "q1_pricing_summary": 3,
    "q9_set_ops": 1,
    "etly_mod_routing": 3,
    "etly_meta_rollup": 3,
    "text_quality": 1,
    "mm_decode_frames": 1,
}


class Catalog:
    """Registered catalog queries over generated tables, run as
    ``bench.py`` runs them: builder call, then a ``noop`` write, with a
    cold CacheManager per query. The tables are the same for every seed,
    as a fixed data set would be; the seed permutes query order."""

    DATA_SEED = 0

    name = "catalog"
    ITERATION_S = 10.0  # nominal, on 4 cores: the twelve queries of an iteration

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        self.rng = np.random.default_rng(seed)

    def setup(self) -> None:
        from etly_spark.queries import REGISTRY

        self.data = os.path.join(self.work, "data")
        gen.write_catalog_tables(np.random.default_rng(self.DATA_SEED), self.data)
        missing = [q for q in CATALOG_QUERIES if q not in REGISTRY]
        if missing:
            raise RuntimeError(f"queries not registered: {missing}")
        self.specs = {q: REGISTRY[q] for q in CATALOG_QUERIES}

    def warm_ops(self) -> list[Op]:
        """One untimed pass: builds every stage and checks each result
        against the DuckDB oracle once."""
        oracle = checks.Oracle(self.data)
        ops = []
        for q in CATALOG_QUERIES:
            spec = self.specs[q]
            ops.append(Op(q, "warm",
                          lambda spec=spec: spec.spark(self.spark, self.data).toPandas(),
                          lambda pdf, spec=spec: oracle.compare(spec, pdf),
                          self.spark.catalog.clearCache))
        return ops

    def build(self, spec):
        return spec.spark(self.spark, self.data)

    def execute(self, spec, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _query(self, spec):
        self.execute(spec, self.build(spec))

    def iteration(self, i: int) -> list[Op]:
        runs = [q for q, n in CATALOG_QUERIES.items() for _ in range(n)]
        return [
            Op(q, "primary", lambda spec=self.specs[q]: self._query(spec),
               prepare=self.spark.catalog.clearCache)
            for q in (runs[j] for j in self.rng.permutation(len(runs)))
        ]

    def output_tree(self) -> str | None:
        return None

    def final_check(self) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (TransferIncremental, Catalog)}
