"""Which engine functions the traced run wraps, and the per-layer
metrics computed from the spans and Spark probes of the traced ops."""

from __future__ import annotations

import os

from perfbench import stats
from perfbench.trace import Tracer, layer_self_times

LAYERS = ("sources", "meta", "pipeline", "io", "queries", "staging", "cache")
# the catalog workload's queries come from these modules
QUERY_GROUPS = {
    "relational": "relational", "etly_ops": "etly", "text": "text", "multimodal": "mm",
}


def _count(args, res) -> dict:
    return {"n": len(res or ())}


def _query_group(args, res) -> dict:
    spec = args[1]
    mod = getattr(spec.spark, "__wrapped__", spec.spark).__module__.rsplit(".", 1)[-1]
    return {"query": spec.name, "group": QUERY_GROUPS.get(mod, mod)}


def _segments(stats_dir: str) -> int:
    try:
        return sum(d.startswith("run_ts=_compacted-") for d in os.listdir(stats_dir))
    except OSError:
        return 0


def install(tracer: Tracer, workload) -> None:
    """Wrap each layer's public functions (and the benchmark's own
    build/exec split of a catalog query)."""
    from etly_spark import meta, pipeline
    from etly_spark.io import fs, staging
    from etly_spark.queries import catalog
    from etly_spark.sources import storage

    svc = pipeline.TransferService
    tracer.patch(storage, "list_source_objects", "sources", "list", _count)
    tracer.patch(storage, "filter_storage_objects", "sources", "filter")
    tracer.patch(storage, "read_records", "sources", "read_plan")
    tracer.patch(meta.Meta, "load", "meta", "load")
    tracer.patch(meta.Meta, "save", "meta", "save")
    tracer.patch(meta.ProcessedIndex, "processed_among", "meta", "skipset")
    tracer.patch(pipeline, "_append_ledger_sidecar", "meta", "append")

    orig_compact = pipeline.compact_ledger_sidecar

    def compact(stats_dir, *args, **kwargs):
        before = _segments(stats_dir)
        orig_compact(stats_dir, *args, **kwargs)
        compact.folded = _segments(stats_dir) > before

    tracer._set(pipeline, "compact_ledger_sidecar",
                tracer.wrap(compact, "meta", "compact", lambda a, r: {"n": int(compact.folded)}),
                orig_compact)
    tracer.patch(svc, "run", "pipeline", "run")
    tracer.patch(svc, "_run_url_window", "pipeline", "window")
    tracer.patch(svc, "_write_routed", "pipeline", "write")
    tracer.patch(svc, "_finalize_routed", "pipeline", "finalize")
    tracer.patch(fs, "move", "io", "move")
    tracer.patch(fs, "listdir", "io", "listdir")
    tracer.patch(fs, "delete_tree", "io", "delete_tree")
    tracer.patch(staging, "stage_table", "staging", "stage_table")
    tracer.patch(staging, "stage_path", "staging", "stage_path")
    tracer.patch(catalog, "scoped_persist", "cache", "persist")
    tracer.patch(catalog, "release_cache", "cache", "release")
    for attr in ("build", "execute"):
        if hasattr(type(workload), attr):
            tracer.patch(type(workload), attr, "queries", attr, _query_group)


def per_layer(spans: list[dict], probes: list[dict], py4j_calls: int,
              staging_per_it: dict, iterations: int, end_state: dict) -> dict:
    """Per-layer metrics per traced iteration (counts and seconds summed
    over the iteration's ops), plus end-of-run state sizes.
    ``staging_per_it`` is the change in ``staging.stats`` per timed
    iteration, traced or not: the stats are process-wide counters."""
    it = max(iterations, 1)
    by_name: dict[tuple[str, str], list[dict]] = {}
    for s in spans:
        by_name.setdefault((s["layer"], s["name"]), []).append(s)

    def dur(layer, name, **match):
        return sum(s["end"] - s["start"] for s in by_name.get((layer, name), ())
                   if all(s.get(k) == v for k, v in match.items())) / it

    def calls(layer, name):
        return len(by_name.get((layer, name), ())) / it

    def total(layer, name, key="n"):
        return sum(s.get(key, 0) for s in by_name.get((layer, name), ())) / it

    m = {
        "sources.list_s": dur("sources", "list"),
        "sources.listed_objects": total("sources", "list"),
        "sources.filter_s": dur("sources", "filter"),
        "sources.read_plan_s": dur("sources", "read_plan"),
        "meta.load_s": dur("meta", "load"),
        "meta.save_s": dur("meta", "save"),
        "meta.skipset_s": dur("meta", "skipset"),
        "meta.append_s": dur("meta", "append"),
        "meta.compact_s": dur("meta", "compact"),
        "meta.compactions": total("meta", "compact"),
        "meta.ledger_bytes": end_state.get("ledger_bytes", 0),
        "pipeline.windows": calls("pipeline", "window"),
        "pipeline.window_s": dur("pipeline", "window"),
        "pipeline.write_s": dur("pipeline", "write"),
        "pipeline.finalize_s": dur("pipeline", "finalize"),
        "io.moves": calls("io", "move"),
        "io.fs_s": dur("io", "move") + dur("io", "listdir") + dur("io", "delete_tree"),
        "io.output_files": end_state.get("output_files", 0),
        "io.output_bytes": end_state.get("output_bytes", 0),
        "queries.build_s": dur("queries", "build"),
        "queries.exec_s": dur("queries", "execute"),
    }
    for group in sorted(set(QUERY_GROUPS.values())):
        m[f"queries.build_s.{group}"] = dur("queries", "build", group=group)
        m[f"queries.exec_s.{group}"] = dur("queries", "execute", group=group)
    stage_s = dur("staging", "stage_path")
    m.update({
        "staging.hits": staging_per_it.get("hits", 0),
        "staging.misses": staging_per_it.get("misses", 0),
        "staging.build_s": staging_per_it.get("build_sec", 0.0),
        "staging.lookup_s": max(stage_s - staging_per_it.get("build_sec", 0.0), 0.0),
        "cache.persists": calls("cache", "persist"),
        "cache.persist_s": dur("cache", "persist"),
    })
    busy = sum(p["job_busy_s"] for p in probes)
    run = sum(p["executor_run_s"] for p in probes)
    for key in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                "shuffle_bytes", "python_bytes", "job_busy_s"):
        m[f"spark.{key}"] = sum(p[key] for p in probes) / it
    m["spark.parallelism"] = run / busy if busy else 0.0
    m["driver.nonjob_s"] = sum(p["nonjob_s"] for p in probes) / it
    m["driver.py4j_calls"] = py4j_calls / it
    own = layer_self_times(spans)
    for layer in (*LAYERS, "op"):
        m[f"{layer}.self_s"] = own.get(layer, 0.0) / it
    return m


def split(spans: list[dict], probes: list[dict], key: str) -> dict:
    """How much of the ops named ``key`` was Spark-job time, and how the
    rest (driver time outside any job) divides over the layers."""
    ops = [s for s in spans if s["layer"] == "op" and s["name"] == key]
    if not ops:
        return {}
    ids = {s["op"] for s in ops}
    wall = sum(s["end"] - s["start"] for s in ops)
    jobs = {p["op"]: p for p in probes if p["op"] in ids}
    busy = sum(p["job_busy_s"] for p in jobs.values())
    nonjob_by_layer: dict[str, float] = {}
    own = stats.self_times([s for s in spans if s["op"] in ids])
    for s in spans:
        if s["op"] not in ids:
            continue
        iv = jobs[s["op"]]["job_intervals"] if s["op"] in jobs else []
        # the part of this span's self time outside every Spark job,
        # approximated by scaling its self time by its uncovered share
        d = s["end"] - s["start"]
        if d <= 0:
            continue
        share = stats.uncovered(s["start"], s["end"], iv) / d
        nonjob_by_layer[s["layer"]] = nonjob_by_layer.get(s["layer"], 0.0) + own[s["id"]] * share
    return {"ops": len(ops), "wall_s": wall, "job_busy_s": busy,
            "nonjob_s": wall - busy, "nonjob_by_layer_s": nonjob_by_layer}
