"""Turn a run's op records into the result line and its detail."""

from __future__ import annotations

import os

from perfbench import checks, host, layers, stats
from perfbench.trace import peak_rss_mb

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


def per_layer_unit(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name == "spark.parallelism":
        return "ratio"
    if name == "trace.overhead_pct":
        return "%"
    return "count"


def run_s(recs: list[dict]) -> float:
    """Wall time of one iteration: each kind of op once, at its median."""
    by_key: dict[str, list[float]] = {}
    for r in recs:
        by_key.setdefault(r["key"], []).append(r["latency"])
    return sum(stats.median(v) for v in by_key.values())


def state_sizes(wl) -> dict:
    out = {}
    tree = wl.output_tree()
    if tree:
        out["output_files"], out["output_bytes"] = checks.output_size(tree)
    meta = getattr(wl, "meta", None)
    if meta and os.path.exists(meta):
        _, side = checks.output_size(meta + ".files")
        out["ledger_bytes"] = os.path.getsize(meta) + side
    return out


def build(runner, wl, m: dict, stamp: dict, jvm_pid: int, trace: bool) -> dict:
    timed = [r for r in runner.records if r["ok"]]
    plain = [r for r in timed if not r["traced"]]
    primary = [r["latency"] for r in plain if r["kind"] == "primary"]
    empty = [r["latency"] for r in plain if r["kind"] == "empty"]
    tail = stats.tail(primary)
    end_state = state_sizes(wl)
    wall = {
        "setup_s": m["setup_s"],
        "run_s": run_s(plain),
        "latency_p50_s": stats.median(primary),
        "latency_tail_s": tail["value"],
    }
    probes = [r["probe_s"] for r in runner.records if "probe_s" in r]
    factor = host.scale(probes)
    e2e = {k: v * factor for k, v in wall.items()}
    busy = sum(r["latency"] for r in plain)
    records = sum(r["records"] for r in plain)
    expected = getattr(wl, "expected", None)  # what the output tree came from
    detail = {
        "workload": wl.name,
        "env": stamp,
        "setup_phases_s": {"session": m["session_s"], "inputs": m["inputs_s"],
                           "warm_ops": m["warm_s"]},
        "iterations": m["iterations"],
        "measure_s": m["measure_s"],
        "host_steal_pct": m["steal_pct"],
        "host_probe_s": stats.median(probes),
        "host_scale": factor,
        "wall_s": wall,
        "ops": len(runner.records),
        "error_rate": runner.failed / max(runner.attempted, 1),
        "peak_rss_mb": peak_rss_mb(jvm_pid),
        "latency_tail": tail,
        "records_per_s": records / busy if records and busy else None,
        "noop_tick_s": stats.median(empty) if empty else None,
        "bytes_out_per_in": (end_state["output_bytes"] / expected.in_bytes
                             if expected and "output_bytes" in end_state else None),
        "by_key_median_s": {k: stats.median([r["latency"] for r in plain if r["key"] == k])
                            for k in sorted({r["key"] for r in plain})},
    }
    if trace:
        traced = [r for r in timed if r["traced"]]
        traced_iters = len({r["iteration"] for r in traced})
        staging_per_it = {k: v / m["iterations"] for k, v in m["staging_delta"].items()}
        metrics = layers.per_layer(runner.tracer.spans, runner.probes, runner.py4j.calls,
                                   staging_per_it, traced_iters, end_state)
        t_run, u_run = run_s(traced), wall["run_s"]
        metrics["trace.traced_run_s"] = t_run
        metrics["trace.untraced_run_s"] = u_run
        metrics["trace.overhead_s"] = t_run - u_run
        metrics["trace.overhead_pct"] = 100.0 * (t_run - u_run) / u_run if u_run else 0.0
        detail["split"] = {k: layers.split(runner.tracer.spans, runner.probes, k)
                           for k in sorted({r["key"] for r in traced})}
        detail["end_to_end_untraced_iterations"] = e2e
        units = {k: per_layer_unit(k) for k in metrics}
    else:
        metrics, units = e2e, END_TO_END_UNITS
    line = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return {"line": line, "detail": detail, "problems": runner.problems,
            "records": runner.records}
