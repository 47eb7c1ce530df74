"""Per-round benchmark: run every catalog query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full execution with the `noop` sink (all work, no
result materialization on the driver) — the same shape a cluster write has.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etly_spark.queries import REGISTRY  # noqa: E402
from etly_spark.session import get_spark  # noqa: E402


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else -1.0


# Queries that gained NEW BRANCHES in a given round: a ">threshold" ratio
# against an OLDER round's artifact is new work, not a slowdown, and the
# regression gate reports it under "nb" (annotated) instead of "n"
# (unexplained). Tags are "r<N>:+what"; the annotation only applies when
# the compared-against artifact predates round N, so entries self-expire
# once the branch is inside the baseline being compared to.
NEW_BRANCHES: dict[str, str] = {}


def _branch_round(tag: str) -> int:
    m = re.match(r"r(\d+):", tag)
    return int(m.group(1)) if m else 0


def run_query(spark, builder, sf_dir: str) -> float:
    # Each timed run is a full computation: queries that persist() their
    # sketch tables leave session-lifetime entries in the CacheManager,
    # and a re-run's identical analyzed plan would silently substitute
    # the cached relation — min-of-N would then report cache-replay
    # time, not the query.
    spark.catalog.clearCache()
    t0 = time.monotonic()
    df = builder(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def bench_pipeline(spark, sf_dir: str) -> dict:
    """Throughput of the transfer engine itself (the reference's core
    workload): export events as ndjson files, run a full Transfer
    (decode → filter → transform → mod-routed ndjson sink + meta)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etly_spark import registry
    from etly_spark.config import Resource, Source, Target, Transfer
    from etly_spark.pipeline import TransferService

    work = tempfile.mkdtemp(prefix="etly_bench_")
    try:
        src_dir = os.path.join(work, "in")
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        n_records = ev.count()
        # Input file count scales with the corpus: the engine maps
        # source files to Spark tasks (the reference's P1/P2 per-file
        # parallelism), so a FIXED 8-file input capped the engine at
        # 8-way decode above sf0.1 — measured at 10x: 8 files 293k
        # rec/s, 32 files 720k (2.46x). Small corpora keep few files
        # (per-task overhead dominates under ~30k records/file:
        # 32 files at sf0.1 measured 90k vs 124k with 8). r<=6 numbers
        # used a fixed 8 and are comparable only at sf0.1.
        n_files = max(8, min(256, n_records // 30000))
        ev.select(
            F.to_json(
                F.struct(
                    F.col("event_id").alias("Id"),
                    F.col("event_type").alias("Type"),
                    F.col("user_id").alias("User"),
                )
            ).alias("value")
        ).repartition(n_files).write.mode("overwrite").text(src_dir)

        if "bench.Event" not in registry.schemas:
            from pyspark.sql.types import LongType, StringType, StructField, StructType

            registry.schemas.register(
                "bench.Event",
                StructType(
                    [
                        StructField("Id", LongType()),
                        StructField("Type", StringType()),
                        StructField("User", LongType()),
                    ]
                ),
            )
            registry.transformers.register(
                "bench.EventToKV",
                lambda df: [
                    F.col("Id").alias("Key"),
                    F.concat_ws("/", F.col("Type"), F.col("User").cast("string")).alias(
                        "Value"
                    ),
                ],
            )
        t = Transfer(
            name="bench-transfer",
            source=Source(name=src_dir, data_type="bench.Event", filter_reg_exp=r"part-"),
            target=Target(name=os.path.join(work, "out", "bucket-<mod:4>.log")),
            meta=Resource(name=os.path.join(work, "meta.json")),
            transformer="bench.EventToKV",
            base_dir=work,
        )
        t0 = time.monotonic()
        result = TransferService(spark).run(t)
        sec = time.monotonic() - t0
        ok = result.status == "DONE" and result.progress.record_processed == n_records
        return {
            "records": n_records,
            "sec": round(sec, 4),
            "records_per_sec": round(n_records / sec, 1),
            "ok": ok,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def regressions_vs_previous(times: dict, sf: float, threshold: float = 1.25) -> dict | None:
    """Round-over-round regression gate (r7 verdict item 4): diff this
    run's minima against the newest BENCH_r*.json driver artifact via
    tools/bench_compare's extractor, and report queries slower than
    ``threshold``x (and >0.05 s absolute — sub-tick ratios are noise).
    The stdout line carries only the compact summary (count + the 3
    worst ratios keyed by 12-char name prefixes, inside the 1900-char
    tail budget); bench_detail.json gets every regressed query. None
    when no artifact from the same core count exists or the scales
    differ (ratios would be meaningless)."""
    import glob
    import importlib.util

    here = os.path.dirname(os.path.abspath(__file__))
    prior = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    # Newest artifact from a COMPARABLE run: a driver record taken at a
    # different core count (the r14_c8 8-core control glob-sorts after
    # the 32-core r14 artifact) would flag per-query core-scaling as
    # regression — ratios across core counts are not code deltas.
    # No such artifact: no gate — an incomparable one would only mislead.
    cpus_now = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    prev = None
    for cand in reversed(prior):
        try:
            with open(cand) as fh:
                cpus_prev = json.load(fh).get("cpus")
            if cpus_prev is not None and int(cpus_prev) != cpus_now:
                continue
        except (OSError, ValueError, TypeError):  # unreadable or a garbled "cpus"
            continue
        prev = cand
        break
    if prev is None:
        return None
    try:
        with open(prev) as fh:
            rec = json.load(fh)
        prev_sf = (rec.get("parsed") or {}).get("sf")
        if prev_sf is not None and prev_sf != sf:
            return {"vs": os.path.basename(prev), "skipped": "sf-mismatch"}
        spec = importlib.util.spec_from_file_location(
            "bench_compare", os.path.join(here, "tools", "bench_compare.py")
        )
        bc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(bc)
        old = bc._extract(prev)
    except Exception as exc:
        print(f"# regression compare failed vs {prev}: {exc}", file=sys.stderr)
        return None
    rows = sorted(
        (
            (round(times[q] / old[q], 2), q)
            for q in set(old) & set(times)
            if old[q] > 0 and times[q] >= 0
            and times[q] / old[q] > threshold and times[q] - old[q] > 0.05
        ),
        reverse=True,
    )
    m = re.search(r"r(\d+)", os.path.basename(prev))
    prev_round = int(m.group(1)) if m else 0
    # Split annotated new-branch growth (the branch landed AFTER the
    # compared-against round, so the ratio is new work by construction)
    # from unexplained regressions.
    annotated = {
        q: {"ratio": r, "tag": NEW_BRANCHES[q]}
        for r, q in rows
        if q in NEW_BRANCHES and _branch_round(NEW_BRANCHES[q]) > prev_round
    }
    unexplained = [(r, q) for r, q in rows if q not in annotated]
    # stdout rendering is budget-capped: round tag ("r07"), unexplained
    # count + 3 worst ratios keyed by 12-char name prefixes (unique
    # across the registry at that length; checked by the bench-contract
    # test), and the annotated count ("nb"). bench_detail.json carries
    # the full names, the whole list, and the annotation tags.
    out = {
        "vs": f"r{m.group(1)}" if m else os.path.basename(prev)[:8],
        "n": len(unexplained),
        "w": {q[:12]: min(r, 99.99) for r, q in unexplained[:3]},
        "detail": {
            "regressed": {q: r for r, q in unexplained},
            "old": {q: old[q] for _, q in unexplained},
            "old_all": old,
            "new_branches": annotated,
        },
    }
    if annotated:
        out["nb"] = len(annotated)
    return out


def steady_state_probe(
    spark,
    sf_dir: str,
    flagged: dict[str, float],
    old: dict[str, float],
    threshold: float = 1.25,
    reruns: int = 3,
) -> dict:
    """Auto-forensics on regression flags (r8 verdict item 6): min-of-N
    totals are noisy ±10-25% under ambient load (r5, r8 each produced
    false flags that needed a manual quiet-machine re-run), so when the
    gate flags rows, re-run JUST those rows ``reruns``x right here —
    the session is maximally warm by now — and record min/med plus a
    ``confirmed`` verdict (steady min still past the threshold vs the
    prior artifact) so the adjudication ships IN the artifact."""
    out: dict[str, dict] = {}
    for q in flagged:
        spec = REGISTRY.get(q)
        if spec is None:
            continue
        try:
            sample = sorted(run_query(spark, spec.spark, sf_dir) for _ in range(reruns))
        except Exception as exc:
            print(f"# steady probe FAIL {q}: {exc}", file=sys.stderr)
            continue
        mn, md = sample[0], sample[len(sample) // 2]
        o = old.get(q)
        confirmed = bool(o and o > 0 and mn / o > threshold and mn - o > 0.05)
        out[q] = {"min": round(mn, 4), "med": round(md, 4), "confirmed": confirmed}
    return out


def machine_cal() -> list:
    """Deterministic hardware-speed stamp (r11): round-over-round bench
    ratios conflate code changes with machine drift — r9 measured a
    ~1.5x hypervisor CPU steal and r11's VM ran untouched queries ~1.2x
    slower than r10's, both only inferable indirectly (canary). Two
    fixed workloads, best-of-3 each — a BLAS matmul (the Arrow-kernel
    regime, GFLOP/s) and a pure-Python loop (the driver/interpreter
    regime, Mloop/s) — stamp every round's artifact with absolute CPU
    speed, so a future diff can NORMALIZE cross-round ratios instead of
    inferring drift. ~1 s total, ~25 stdout chars."""
    import numpy as np

    a = np.full((1024, 1024), 1.000001)
    gflops = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(4):
            a @ a
        gflops = max(gflops, 4 * 2 * 1024**3 / (time.perf_counter() - t0) / 1e9)
    mloops = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        _py_loop()
        mloops = max(mloops, _LOOP_M / (time.perf_counter() - t0))
    # parallel efficiency: the same loop on every core at once — CPU
    # steal and memory-bus contention show here (per-process rate under
    # full fan-out / solo rate) while leaving the solo numbers
    # untouched; the r11 VM measured solo rates IDENTICAL across runs
    # while the catalog wall swung +-15%, i.e. ambient drift lives in
    # this dimension. Pool dispatch overhead is measured with a no-op
    # map on the same warm pool and subtracted.
    import multiprocessing as mp

    nproc = min(32, os.cpu_count() or 1)
    # fork()ing the live driver (JVM gateway + BLAS threads resident) can
    # in principle leave a child wedged on a copied-locked lock; every
    # wait below is bounded so a wedged child costs the stamp's third
    # dimension, never the round's JSON line.
    pool = mp.get_context("fork").Pool(nproc)
    try:
        t0 = time.perf_counter()
        pool.map_async(_py_noop, range(nproc)).get(timeout=30)
        over = time.perf_counter() - t0
        dt = None
        for _ in range(2):  # best-of-2: the contended regime is noisy
            t0 = time.perf_counter()
            pool.map_async(_py_worker, range(nproc)).get(timeout=60)
            d = max(1e-6, time.perf_counter() - t0 - over)
            dt = d if dt is None else min(dt, d)
        eff = min(1.0, (_LOOP_M / dt) / mloops) if mloops else 0.0
    except mp.TimeoutError:
        eff = -1.0  # sentinel: parallel probe wedged/overloaded
    finally:
        pool.terminate()
        pool.join()
    return [int(round(gflops)), int(round(mloops)), round(eff, 2)]


_LOOP_M = 10.0  # loop iterations / 1e6


def _py_loop() -> int:
    s = 0
    for i in range(int(_LOOP_M * 1e6)):
        s += i & 1023
    return s


def _py_worker(_i: int) -> int:
    return _py_loop()


def _py_noop(_i: int) -> int:
    return 0


def ambient_canary(
    spark, sf_dir: str, old_all: dict[str, float], exclude: set, reruns: int = 3
) -> dict | None:
    """Ambient-drift control for the steady probe: an r9 session found
    ALL rows ~1.5x slower than the prior artifact (hypervisor CPU
    steal, invisible to loadavg) — a steady 'confirmed' verdict cannot
    distinguish code regression from machine drift between rounds. So
    alongside the flagged rows, re-run ONE cheap UNTOUCHED query (not
    flagged, not a NEW_BRANCHES entry) and record its ratio vs the
    prior artifact: a canary ratio near the flagged rows' ratios reads
    as environment, near 1.0 as real regressions. Detail-sidecar only
    (no stdout budget impact)."""
    candidates = sorted(
        (t, q)
        for q, t in old_all.items()
        if q in REGISTRY and q not in exclude and t and t > 0.2
    )
    if not candidates:
        return None
    prior, name = candidates[0]
    try:
        sample = sorted(run_query(spark, REGISTRY[name].spark, sf_dir) for _ in range(reruns))
    except Exception as exc:
        print(f"# canary FAIL {name}: {exc}", file=sys.stderr)
        return None
    return {
        "query": name,
        "prior": prior,
        "min": round(sample[0], 4),
        "ratio": round(sample[0] / prior, 2),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("etly-spark-bench")

    # Warm-up: (a) one UNTIMED pass over the FULL catalog (r15, the r13
    # verdict's item 4 / r14 item 2b measurement fix): JIT/codegen for
    # every operator and every per-process stage build happen BEFORE the
    # timed runs, so minima measure steady-state computation instead of
    # first-touch compilation (r15 baseline: sim_ann_methods bench-min
    # 37.7 s vs 27.4 s once warm, mm_binary_metadata 3.7 vs 2.7 — pure
    # warmup noise that generated regression flags every round). Stage
    # build cost stays visible: the stg [hits, misses, build_sec]
    # counters are process-global and still report every build. This is
    # a measurement fix, not a protocol weakening — each timed run still
    # clears the CacheManager and computes from the parquet inputs.
    # (b) a no-op Arrow pass to fork the Python workers, (c) one scan of
    # every input table so the OS page cache holds the parquet bytes —
    # otherwise the numbers measure the disk state of the machine
    # (cold-cache runs showed +40% on text-heavy queries), not the engine.
    specs = sorted(REGISTRY.items())
    for name, spec in specs:
        try:
            run_query(spark, spec.spark, sf_dir)
        except Exception as exc:
            print(f"# warmup query failed ({name}): {exc}", file=sys.stderr)
    try:
        spark.range(0, 128, 1, 32).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:
        print(f"# warmup python-worker pass failed: {exc}", file=sys.stderr)
    from etly_spark.io.tables import TABLES, load_table

    for tbl in TABLES:
        try:
            load_table(spark, sf_dir, tbl).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(f"# warmup table scan failed ({tbl}): {exc}", file=sys.stderr)

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    load_before = os.getloadavg()
    times: dict[str, float] = {}
    spread: dict[str, dict] = {}
    for name, spec in specs:
        try:
            # min-of-N: steady-state time, insulated from GC/compilation.
            # The full sample (min/med/max) is reported per query so a
            # machine-load drift (r5: 1.29x median rise on untouched
            # queries) is visible as min<<med instead of silently
            # polluting the headline.
            sample = sorted(run_query(spark, spec.spark, sf_dir) for _ in range(runs))
            times[name] = round(sample[0], 4)
            spread[name] = {
                "min": round(sample[0], 4),
                "med": round(sample[len(sample) // 2], 4),
                "max": round(sample[-1], 4),
            }
        except Exception as exc:  # record failures as -1, keep benching
            print(f"# bench FAIL {name}: {exc}", file=sys.stderr)
            times[name] = -1.0

    try:
        # best-of-N, same steady-state policy as the queries: the engine's
        # throughput, not the session's first-job codegen/worker spin-up
        pipeline = max(
            (bench_pipeline(spark, sf_dir) for _ in range(runs)),
            key=lambda p: p["records_per_sec"] if p["ok"] else -1.0,
        )
    except Exception as exc:
        print(f"# pipeline bench FAIL: {exc}", file=sys.stderr)
        pipeline = {"ok": False, "error": str(exc)}

    ok = [v for v in times.values() if v >= 0]
    total = round(sum(ok), 4)

    def group_of(name: str) -> str:
        for prefix in ("etly", "dedup", "sim", "text", "mm"):
            if name.startswith(prefix + "_"):
                return prefix
        return "relational"

    groups: dict[str, float] = {}
    for name, sec in times.items():
        if sec >= 0:
            groups[group_of(name)] = round(groups.get(group_of(name), 0.0) + sec, 4)

    from etly_spark.io import staging

    regr = regressions_vs_previous(times, sf_from_dir(sf_dir))
    if regr and regr.get("detail", {}).get("regressed"):
        steady = steady_state_probe(
            spark,
            sf_dir,
            regr["detail"]["regressed"],
            regr["detail"].get("old", {}),
        )
        regr["detail"]["steady"] = steady
        # sc = steady-confirmed count: flags that SURVIVE the in-session
        # re-run. sc == 0 with n > 0 means "all flags were load noise".
        regr["sc"] = sum(1 for v in steady.values() if v["confirmed"])
        exclude = set(regr["detail"]["regressed"]) | set(NEW_BRANCHES)
        canary = ambient_canary(
            spark, sf_dir, regr["detail"].get("old_all", {}), exclude
        )
        if canary is not None:
            regr["detail"]["canary"] = canary

    load_after = os.getloadavg()
    try:
        cal = machine_cal()
    except Exception as exc:
        print(f"# machine_cal failed: {exc}", file=sys.stderr)
        cal = None
    # Drift visibility without per-query bloat: the three totals. A loaded
    # machine (r5's 1.29x ambient drift) shows as med_total >> value.
    med_total = round(sum(s["med"] for s in spread.values()), 3)
    max_total = round(sum(s["max"] for s in spread.values()), 3)

    # Full per-query spread + loadavg triples go to a sidecar file: the
    # driver captures only the LAST ~2000 chars of stdout, and r6's
    # spread-inflated 6 KB line pushed its own head out of the capture
    # window (BENCH_r06.json parsed: null). The stdout line is budgeted
    # <= ~1800 chars: contract fields + compact aggregates only.
    detail = {
        "regressions": regr,
        "med_total": med_total,
        "max_total": max_total,
        "spread": spread,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "pipeline": pipeline,
        "staging": dict(staging.stats),
        "sf": sf_from_dir(sf_dir),
        "runs_per_query": runs,
        "machine_cal": (
            {"np_gflops": cal[0], "py_mloops": cal[1], "par_eff": cal[2]}
            if cal
            else None
        ),
        # protocol change in round 4: clearCache before every timed run,
        # so minima measure full computations (r1-r3 minima partially
        # measured CacheManager replay and are NOT comparable). Round 6
        # added disk-staged pair/sig tables built once in warmup —
        # dedup_* numbers for r<=5 measured inline recompute.
        "protocol": "full-catalog untimed warmup (r15); warm page-cache/JVM/python-workers; cold CacheManager per run; disk stages persist",
    }
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "bench_detail.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"# bench_detail.json write failed: {exc}", file=sys.stderr)

    line = format_line(
        total=total,
        times=times,
        groups=groups,
        sf=sf_from_dir(sf_dir),
        n_failed=len(times) - len(ok),
        runs=runs,
        med_total=med_total,
        max_total=max_total,
        load=(load_before[0], load_after[0]),
        pipeline=pipeline,
        staging_stats=dict(staging.stats),
        regr=regr,
        cal=cal,
    )
    if len(line) > LINE_BUDGET:
        print(f"# WARNING bench line {len(line)} chars > {LINE_BUDGET} budget", file=sys.stderr)
    print(line)
    return 0


# Hard ceiling: the driver records only the LAST 2000 chars of stdout and
# parses the JSON line found inside. r5's ~1920-char line parsed; r6's
# ~6 KB line lost its own head (BENCH_r06.json "parsed": null). The
# budget is the 2000-char tail minus a 60-char safety margin for a
# trailing newline/stray bytes — the JSON line is the LAST thing printed
# (warnings go to stderr), so the tail always contains it whole.
LINE_BUDGET = 1940


def format_line(
    *,
    total: float,
    times: dict,
    groups: dict,
    sf: float,
    n_failed: int,
    runs: int,
    med_total: float,
    max_total: float,
    load: tuple,
    pipeline: dict,
    staging_stats: dict,
    regr: dict | None = None,
    cal: list | None = None,
) -> str:
    return json.dumps(
        {
            "metric": "catalog_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": {k: round(v, 3) for k, v in times.items()},
            "groups": {k: round(v, 2) for k, v in groups.items()},
            "sf": sf,
            "n_queries": len(times),
            "n_failed": n_failed,
            "runs": runs,
            # short keys + list forms below are BUDGET choices (the
            # driver tails 2000 chars): med = catalog total of per-query
            # medians (load drift shows as med >> value), pipe =
            # [records_per_sec, ok], stg = [hits, misses, build_sec],
            # regr.w = worst round-over-round ratios keyed by 14-char
            # name prefix. bench_detail.json spells everything out,
            # including per-query max and the full regression list.
            "med": med_total,
            "load": [round(load[0], 1), round(load[1], 1)],
            "pipe": [pipeline.get("records_per_sec"), pipeline.get("ok", False)],
            "stg": [
                staging_stats.get("hits"),
                staging_stats.get("misses"),
                staging_stats.get("build_sec"),
            ],
            **(
                {"regr": {k: v for k, v in regr.items() if k != "detail"}}
                if regr is not None
                else {}
            ),
            # cal = [BLAS GFLOP/s, python Mloop/s, parallel efficiency]
            # — this machine's absolute speed stamp (machine_cal):
            # divide two rounds' stamps to separate hardware drift from
            # code regressions; par_eff < ~0.8 reads as steal/contention
            **({"cal": cal} if cal else {}),
            "proto": "minN;coldcache;sc;cal",
        },
        separators=(",", ":"),
    )


if __name__ == "__main__":
    raise SystemExit(main())
