"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload transfer_incremental --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it, prefixed ``# detail``, carries the
environment stamp and the figures that are not contract metrics
(records/s, no-op tick, bytes out per byte in, peak RSS, error rate,
the tail's percentile and sample count, the host probe and the wall
times before host scaling, see host.py). Spans and the full result are
written to ``.perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("transfer_incremental", "catalog")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let Spark's Python workers import ``etly_spark`` whatever their
    working directory is."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, len(os.sched_getaffinity(0)))))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    import tempfile

    tempfile.tempdir = tmp


def env_stamp(spark, seed: int) -> dict:
    import pyspark

    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        import subprocess

        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True).stdout.strip() or None
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
        "seed": seed,
    }


class Runner:
    """Owns the clock, the host probe, the failure accounting and, when
    tracing, the tracer, the Spark probe and the py4j counter."""

    def __init__(self, spark, workload, trace: bool):
        from perfbench import layers
        from perfbench.trace import Py4jCounter, SparkProbe, Tracer

        self.jvm = spark.sparkContext._jvm
        self.records: list[dict] = []
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.tracer = self.probe = self.py4j = None
        self.probes: list[dict] = []
        if trace:
            self.tracer = Tracer()
            layers.install(self.tracer, workload)
            self.probe = SparkProbe(spark)
            self.py4j = Py4jCounter(spark)

    def close(self) -> None:
        if self.tracer:
            self.tracer.unpatch()
            self.py4j.close()

    def fail(self, what: str, problems: list[str]) -> None:
        self.failed += 1
        self.problems += [f"{what}: {p}" for p in problems]

    def run_op(self, op, n: int, traced: bool) -> dict:
        from perfbench import host

        self.attempted += 1
        rec = {"key": op.key, "kind": op.kind, "ok": False, "traced": traced,
               "records": op.records}
        op_id = f"op-{n}"
        try:
            if op.prepare:
                op.prepare()
            rec["probe_s"] = host.probe(self.jvm)
            if traced:
                self.tracer.begin_op(op_id, op.key)
                self.probe.begin(op_id)
                self.py4j.active = True
            t0 = time.monotonic()
            try:
                info = op.run()
            finally:
                rec["latency"] = time.monotonic() - t0
                if traced:
                    self.py4j.active = False
                    span = self.tracer.end_op()
                    pr = self.probe.end(op_id, span["start"], span["end"])
                    pr["op"] = op_id
                    self.probes.append(pr)
            problems = op.check(info) if op.check else []
        except Exception:
            problems = [traceback.format_exc(limit=4)]
        rec["ok"] = not problems
        if problems:
            self.fail(f"{op.kind} op {op.key}", problems)
        return rec


def cpu_ticks() -> list[int]:
    """The machine's CPU tick counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from /proc/stat; empty where there is none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def measure(runner: Runner, wl, seconds: float, trace: bool) -> dict:
    """Warm up, then run ``seconds / wl.ITERATION_S`` whole iterations:
    the nominal iteration time fixes the work done per run, so a slower
    or faster machine changes how long a run takes, not how many ops it
    times (the last ops of a run are still a little faster than the
    first). A traced run does twice as many, at least four, traced and
    untraced in ABBA order (T U U T T U U T ...), so both halves see the
    same warm-up and the tracing overhead is measured in the same
    process; the first iteration is traced, since a workload may do
    something once per run there (the incremental ledger compacts)."""
    from etly_spark.io import staging
    from perfbench import host

    host.probe(runner.jvm, repeats=10)  # its JVM code compiles over the first calls
    warm = [runner.run_op(op, -1 - j, traced=False)["latency"]
            for j, op in enumerate(wl.warm_ops())]
    setup_s = time.monotonic() - T_PROCESS
    staging0 = dict(staging.stats)
    ticks0 = cpu_ticks()
    t0 = time.monotonic()
    iterations = max(1, round(seconds / wl.ITERATION_S))
    if trace:
        iterations = max(4, 2 * iterations)
    n = 0
    for i in range(iterations):
        traced = trace and i % 4 in (0, 3)
        for op in wl.iteration(i):
            rec = runner.run_op(op, n, traced)
            rec["iteration"] = i
            runner.records.append(rec)
            n += 1
    measure_s = time.monotonic() - t0
    # the share of CPU time the hypervisor gave to other guests while
    # timing: a run on a busy host reads slower for reasons outside it
    spent = [b - a for a, b in zip(ticks0, cpu_ticks())]
    steal_pct = 100.0 * spent[7] / sum(spent) if len(spent) == 8 and sum(spent) else None
    staging_delta = {k: staging.stats[k] - staging0[k] for k in staging0}
    return {"setup_s": setup_s, "warm_s": warm, "iterations": iterations, "measure_s": measure_s,
            "steal_pct": steal_pct, "staging_delta": staging_delta}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etly_spark", "__init__.py")):
        print(f"perfbench: no etly_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work)
    spark = None
    try:
        from etly_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        return run_workload(spark, args, work, out_dir, time.monotonic() - T_PROCESS)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def run_workload(spark, args, work: str, out_dir: str, session_s: float) -> int:
    from perfbench import report
    from perfbench.workloads import WORKLOADS

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    stamp = env_stamp(spark, args.seed)
    wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
    runner = Runner(spark, wl, bool(args.trace))
    try:
        try:
            t0 = time.monotonic()
            wl.setup()
            inputs_s = time.monotonic() - t0
        except Exception:
            runner.attempted += 1
            runner.fail("setup", [traceback.format_exc(limit=6)])
            print(f"# problems {json.dumps(runner.problems)}")
            print(json.dumps({"correct": False, "attempted": runner.attempted,
                              "failed": runner.failed, "metrics": {}}))
            return 1
        m = measure(runner, wl, args.seconds, bool(args.trace))
        m.update(session_s=session_s, inputs_s=inputs_s)
        runner.attempted += 1  # the final exactly-once check
        try:
            final = wl.final_check()
        except Exception:
            final = [traceback.format_exc(limit=4)]
        if final:
            runner.fail("final check", final)
    finally:
        runner.close()
    result = report.build(runner, wl, m, stamp, jvm_pid, bool(args.trace))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    if runner.tracer:
        runner.tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"))
    if runner.problems:
        print(f"# problems {json.dumps(runner.problems[:20])}")
    print(f"# detail {json.dumps(result['detail'], default=str)}")
    print(json.dumps(result["line"]))
    return 0 if result["line"]["correct"] else 1


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and every process it
    started (Spark's Python workers) have exited."""
    import signal
    import subprocess

    if spark is None:
        return
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for grace in (30, 10):
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            alive = [p for p in started if _running(p)]
            if not alive:
                return
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


if __name__ == "__main__":
    sys.exit(main())
