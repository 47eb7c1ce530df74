"""Scheduler + task registry + management service (reference C1/C2).

- Frequency scheduling with next-run bookkeeping (service.go:48-98,
  config.go:189-197): a 1 s ticker fires `run()`; a Transfer runs when
  its next-run time has passed and it is not already running; next run =
  now + Frequency.
- `transfer_once` (service.go:100-129): run-now API with the `Repeat`
  loop, optionally async.
- Task registry (task_registry.go:8-18): active + bounded history (20).
- Status roll-up (service.go:32-46): worst-of recent task statuses.

Intentional fixes vs reference quirks (SURVEY §7.4): `GetTasksList`
limit is a count, not an end index; no unsynchronized error shadowing —
all registry mutation is behind one lock.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime, timedelta, timezone

from pyspark.sql import SparkSession

from etly_spark.config import Transfer
from etly_spark.pipeline import DONE, ERROR, NOOP, RUNNING, TransferResult, TransferService

MAX_HISTORY = 20  # task_registry.go:8
MAX_STATUS_TASK_COUNT = 10  # service.go:20

VERSION = "0.1.0"


@dataclass
class Task:
    """task.go:24-33."""

    id: str
    name: str
    status: str = RUNNING
    start_time: str = ""
    error: str = ""
    progress: dict = field(default_factory=dict)
    outputs: list[str] = field(default_factory=list)

    def to_dict(self) -> dict:
        return asdict(self)


class TaskRegistry:
    """Active + bounded history (task_registry.go:8-18), lock-protected."""

    def __init__(self, max_history: int = MAX_HISTORY):
        self._lock = threading.Lock()
        self._active: dict[str, Task] = {}
        self._history: list[Task] = []
        self._max_history = max_history

    def register(self, task: Task) -> None:
        with self._lock:
            self._active[task.id] = task

    def archive(self, task: Task) -> None:
        with self._lock:
            self._active.pop(task.id, None)
            self._history.insert(0, task)
            del self._history[self._max_history :]

    def tasks(self, status: str | None = None, limit: int = 0) -> list[Task]:
        with self._lock:
            out = list(self._active.values()) + list(self._history)
        if status:
            out = [t for t in out if t.status == status]
        return out[:limit] if limit else out

    def get(self, ids: list[str]) -> list[Task]:
        with self._lock:
            all_tasks = {t.id: t for t in itertools.chain(self._active.values(), self._history)}
        return [all_tasks[i] for i in ids if i in all_tasks]


class Service:
    """The scheduled engine (service.go:48-142) minus the HTTP layer."""

    def __init__(self, spark: SparkSession, transfers: list[Transfer]):
        self.transfers = transfers
        self.engine = TransferService(spark)
        self.registry = TaskRegistry()
        self._next_run: dict[str, datetime] = {}
        self._running: set[str] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._task_seq = itertools.count(1)

    # ------------------------------------------------------ scheduling --

    def start(self, tick_sec: float = 1.0) -> None:
        """service.go:48-71: background ticker loop."""
        if self._thread and self._thread.is_alive():
            return
        self._stop.clear()

        def loop() -> None:
            while not self._stop.is_set():
                try:
                    self.run_due()
                except Exception:
                    pass  # per-transfer errors are captured in tasks
                self._stop.wait(tick_sec)

        self._thread = threading.Thread(target=loop, name="etly-scheduler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        """No infinite recursion here (server.go:42-45 quirk)."""
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)
        # long-lived servers end cache-clean: drop any catalog-query
        # intermediates still scoped-persisted in this session
        from etly_spark.queries.catalog import release_cache

        release_cache()

    def run_due(self, now: datetime | None = None) -> list[Task]:
        """service.go:77-98: run every due transfer (sequentially — Spark
        owns intra-job parallelism; concurrent DAGs can be layered on via
        driver threads when jobs are genuinely independent)."""
        now = now or datetime.now(timezone.utc)
        ran: list[Task] = []
        for t in self.transfers:
            key = t.name or t.source.name
            with self._lock:
                due = self._next_run.get(key)
                if key in self._running:
                    continue
                if due is not None and now < due:
                    continue
                # schedule next run BEFORE running (config.go:189-197);
                # the first tick runs the transfer immediately — matching
                # reference service.go:80 — and arms the next slot here
                freq = t.frequency.to_timedelta() if t.frequency else timedelta(seconds=0)
                self._next_run[key] = now + freq
                self._running.add(key)
            try:
                ran.append(self._run_one(t, now))
            finally:
                with self._lock:
                    self._running.discard(key)
        return ran

    def transfer_once(
        self, transfers: list[Transfer] | None = None, *, async_: bool = False
    ) -> list[Task]:
        """service.go:100-129 with the Repeat loop."""
        targets = transfers if transfers is not None else self.transfers

        def run_all() -> list[Task]:
            out: list[Task] = []
            for t in targets:
                out.append(self._run_one(t, datetime.now(timezone.utc)))
                for _ in range(max(t.repeat, 0)):
                    out.append(self._run_one(t, datetime.now(timezone.utc)))
            return out

        if async_:
            th = threading.Thread(target=run_all, daemon=True)
            th.start()
            return []
        return run_all()

    # ------------------------------------------------------------ runs --

    def _run_one(self, t: Transfer, now: datetime) -> Task:
        task = Task(
            id=f"task-{next(self._task_seq)}",
            name=t.name or t.source.name,
            start_time=now.isoformat(),
        )
        self.registry.register(task)
        # E2 (big_query.go:127-139; config.go:37-42): on failure retry
        # `FailRetry` times with 3^i-second backoff.
        attempts = max(t.fail_retry, 0) + 1
        result: TransferResult = self._run_bounded(t, now)
        for i in range(attempts - 1):
            if result.status != ERROR:
                break
            time.sleep(self._backoff(i))
            result = self._run_bounded(t, now)
        task.status = result.status
        task.error = result.error
        task.progress = asdict(result.progress)
        task.outputs = result.outputs
        self.registry.archive(task)
        return task

    def _run_bounded(self, t: Transfer, now: datetime) -> TransferResult:
        """Enforce ``Transfer.TimeOut`` (util.go:253-262,
        transfer_service.go:472-477): bound each transfer run by a wall
        clock; on expiry cancel the transfer's Spark job group (so the
        cluster stops burning on it, not just the driver thread) and
        surface ERROR — a hung transfer must not wedge its scheduler slot.
        """
        secs = t.time_out.to_timedelta().total_seconds() if t.time_out else 0.0
        if secs <= 0:
            return self.engine.run(t, now)

        sc = self.engine.spark.sparkContext
        group = f"etly-timeout-{t.name or t.source.name}-{next(self._task_seq)}"
        box: dict[str, TransferResult | BaseException] = {}

        def target() -> None:
            # job group is per-calling-thread (pinned-thread mode), so the
            # cancel below hits exactly this run's Spark jobs
            sc.setJobGroup(group, f"etly transfer {t.name or t.source.name}", True)
            try:
                box["result"] = self.engine.run(t, now)
            except BaseException as exc:  # surfaced as ERROR below
                box["exc"] = exc

        th = threading.Thread(target=target, name=group, daemon=True)
        th.start()
        th.join(secs)
        if th.is_alive():
            try:
                sc.cancelJobGroup(group)
            except Exception:
                pass
            return TransferResult(
                name=t.name or t.source.name,
                status=ERROR,
                error=f"transfer timed out after {secs:g}s (TimeOut)",
            )
        if "exc" in box:
            raise box["exc"]  # non-transfer failure: propagate as before
        return box["result"]

    @staticmethod
    def _backoff(attempt: int) -> float:
        """3^i seconds (big_query.go:133); overridable in tests."""
        return float(3**attempt)

    # ---------------------------------------------------------- status --

    def status(self) -> dict:
        """service.go:32-46: worst status over the recent tasks."""
        recent = self.registry.tasks(limit=MAX_STATUS_TASK_COUNT)
        overall = "ok"
        if any(t.status == ERROR for t in recent):
            overall = "error"
        elif any(t.status == RUNNING for t in recent):
            overall = "running"
        return {
            "status": overall,
            "tasks": [t.to_dict() for t in recent],
        }

    def errors(self) -> list[dict]:
        return [t.to_dict() for t in self.registry.tasks(status=ERROR)]

    def info(self, name: str) -> dict:
        """service.go:201-261: re-read the transfer's meta from storage."""
        from etly_spark.meta import Meta
        from etly_spark.templates import expand_date, expand_env, expand_pwd

        for t in self.transfers:
            if (t.name or t.source.name) == name:
                if not t.meta:
                    return {"name": name, "meta": None}
                url = expand_date(
                    expand_env(expand_pwd(t.meta.name, t.base_dir)), datetime.now(timezone.utc)
                )
                m = Meta.load(url)
                return {
                    "name": name,
                    "meta": {
                        "url": m.url,
                        "processed": {k: asdict(v) for k, v in m.processed.items()},
                        "errors": list(m.errors),
                        "status": asdict(m.status),
                    },
                }
        raise KeyError(f"unknown transfer: {name!r}")

    def rollup(self, name: str) -> dict:
        """Current incremental-rollup aggregate for a transfer (Spark
        extension — GET /etly/rollup/{name}): the durable keyed state
        `Transfer.Rollup` folds per window, merged and returned as JSON
        rows. 'distinct' sketch columns are returned as their HLL
        estimates. Key cardinality bounds the response by design."""
        from etly_spark.operators import incremental_agg as IA
        from etly_spark.templates import expand_env, expand_pwd

        for t in self.transfers:
            if (t.name or t.source.name) == name:
                if not t.rollup:
                    return {"name": name, "rollup": None}
                state = expand_env(expand_pwd(t.rollup.state_dir, t.base_dir))
                _, merges = IA.rollup_plan(t.rollup.aggregates)
                try:
                    # a concurrent compact()'s post-commit cleanup can
                    # delete the dirs a read just resolved — a
                    # transient race. Holding IA's state lock across
                    # the collect would fix it but stalls every fold()
                    # behind a monitoring poll's Spark job; instead
                    # retry once (the second resolve sees the
                    # post-compact state, which is complete: the new
                    # segment's manifest covers every dir it merged).
                    from pyspark.sql import functions as F

                    last_exc: Exception | None = None
                    collected = None
                    for _ in range(2):
                        try:
                            cur = IA.read(
                                self.engine.spark,
                                state,
                                keys=t.rollup.keys,
                                merges=merges,
                            )
                            cols = list(t.rollup.keys) + [
                                (
                                    IA.hll_estimate(c).alias(c)
                                    if kind == "hll"
                                    else F.col(c)
                                )
                                for c, kind in merges.items()
                            ]
                            collected = cur.select(*cols).collect()
                            break
                        except Exception as retry_exc:
                            # FileNotFoundError is ALSO retried: the
                            # compact-cleanup race can surface as a
                            # covered dir vanishing mid-listing, which
                            # must not masquerade as an empty state
                            last_exc = retry_exc
                    if collected is None:
                        if isinstance(last_exc, FileNotFoundError) and not (
                            os.path.isdir(state)
                            and any(
                                d.startswith("epoch=")
                                for d in os.listdir(state)
                            )
                        ):
                            # genuinely never-folded state
                            raise last_exc
                        if isinstance(last_exc, FileNotFoundError):
                            raise RuntimeError(
                                f"rollup state {state} unreadable twice "
                                f"during compaction: {last_exc}"
                            )
                        raise last_exc  # both attempts failed: real error
                except FileNotFoundError:
                    return {"name": name, "rollup": {"state_dir": state, "rows": []}}
                except Exception as e:
                    # unreadable state: could be a fold mid-write (epoch
                    # dir exists, parquet not yet committed — transient)
                    # or a real misconfiguration (spec/schema mismatch —
                    # permanent). A status endpoint reports the message
                    # instead of a 500; monitors alert on the error field
                    # being present, so a permanent failure stays visible
                    return {
                        "name": name,
                        "rollup": {"state_dir": state, "rows": [], "error": str(e)[:300]},
                    }
                # timestamps/decimals from min/max/decimal-partial rollups
                # are not JSON types — stringify anything non-primitive
                rows = [
                    {
                        k: (v if isinstance(v, (int, float, str, bool, type(None))) else str(v))
                        for k, v in r.asDict().items()
                    }
                    for r in collected
                ]
                return {"name": name, "rollup": {"state_dir": state, "rows": rows}}
        raise KeyError(f"unknown transfer: {name!r}")
