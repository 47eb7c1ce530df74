"""The driver records only the LAST 2000 chars of bench.py's stdout and
parses the JSON line found inside (BENCH_r05 parsed at ~1920 chars;
BENCH_r06's spread-inflated ~6 KB line came back "parsed": null).

This gates the output-line construction against the real registry: worst
plausible values, all 50 query names, staging/pipeline/load fields — the
line must stay under bench.LINE_BUDGET and round-trip through json.loads
with the contract-required keys."""

import json

import bench
from etly_spark.queries import REGISTRY


def _worst_case_line() -> str:
    # 4-digit seconds with 3 decimals is the widest realistic rendering.
    times = {name: 999.999 for name in REGISTRY}
    groups = {
        g: 9999.99 for g in ("dedup", "relational", "text", "etly", "mm", "sim")
    }
    return bench.format_line(
        total=99999.9999,
        times=times,
        groups=groups,
        sf=100.0,
        n_failed=50,
        runs=10,
        med_total=99999.999,
        max_total=99999.999,
        load=(99.9, 99.9),
        pipeline={"records_per_sec": 99999999.9, "ok": False},
        staging_stats={"hits": 9999, "misses": 9999, "build_sec": 9999.9999},
        cal=[9999, 999, 1.0],
        regr={
            "vs": "r99",
            "n": 50,
            "nb": 50,
            "sc": 50,
            # worst-case rendering: 3 prefix-truncated names at the
            # capped ratio width ("detail" must be stripped from the
            # stdout line — it goes to bench_detail.json only)
            "w": {n[:12]: 99.99 for n in sorted(REGISTRY, key=len)[-3:]},
            "detail": {
                "regressed": {n: 99.99 for n in REGISTRY},
                "old": {n: 9999.9999 for n in REGISTRY},
                "steady": {
                    n: {"min": 9999.9, "med": 9999.9, "confirmed": True}
                    for n in REGISTRY
                },
                "new_branches": {
                    n: {"ratio": 99.99, "tag": "r99:+x"} for n in REGISTRY
                },
            },
        },
    )


def test_line_under_driver_tail_budget():
    line = _worst_case_line()
    assert "\n" not in line
    assert len(line) <= bench.LINE_BUDGET, len(line)


def test_line_carries_contract_fields():
    d = json.loads(_worst_case_line())
    assert d["metric"] == "catalog_total_runtime"
    assert d["unit"] == "sec"
    assert set(d["queries"]) == set(REGISTRY)
    for key in ("value", "sf", "n_queries", "groups"):
        assert key in d


def test_regression_field_present_and_compact():
    d = json.loads(_worst_case_line())
    assert d["regr"]["vs"] == "r99"
    assert len(d["regr"]["w"]) == 3
    assert "detail" not in d["regr"]  # full list lives in bench_detail.json
    # 12-char prefixes must stay unique across the registry, or the
    # compact regr keys would collide
    assert len({n[:12] for n in REGISTRY}) == len(REGISTRY)


def test_regressions_vs_previous_diffs_real_artifact(tmp_path, monkeypatch):
    # a synthetic prior artifact in an isolated dir: the compare must
    # flag only the >1.25x & >0.05s rows, sorted worst-first, capped at 6
    prior = {
        "tail": "",
        "parsed": {
            "sf": 0.1,
            "queries": {"a": 1.0, "b": 0.01, "c": 2.0, "d": 4.0},
        },
    }
    import os
    import shutil

    (tmp_path / "tools").mkdir()
    shutil.copy(
        os.path.join(os.path.dirname(bench.__file__), "tools", "bench_compare.py"),
        tmp_path / "tools" / "bench_compare.py",
    )
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(prior))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    out = bench.regressions_vs_previous({"a": 1.5, "b": 1.0, "c": 1.9, "d": 40.0}, 0.1)
    assert out["vs"] == "r01"
    # b: huge ratio (capped at 99.99 in w) but old=0.01 -> still flagged
    # (delta 0.99 > 0.05); a: 1.5x flagged; c improved -> absent;
    # d: 10x; worst-first ordering
    assert list(out["w"]) == ["b", "d", "a"]
    assert out["w"]["b"] == 99.99
    assert out["n"] == 3
    assert out["detail"]["regressed"]["d"] == 10.0
    # sf mismatch -> explicit skip, no bogus ratios
    assert bench.regressions_vs_previous({"a": 9.9}, 20.0)["skipped"] == "sf-mismatch"


def test_steady_state_probe_adjudicates_flags(monkeypatch):
    """r8 verdict item 6: flagged rows are re-run in-session; a flag is
    'confirmed' only when the steady-state MIN is still past the
    threshold vs the prior artifact — load-noise flags come back
    confirmed=False so the verdict reads the adjudication from the
    artifact instead of needing a manual quiet-machine re-run."""
    name = next(iter(REGISTRY))
    calls = []

    def fake_run(spark, builder, sf_dir):
        calls.append(1)
        # noisy first sample, steady after: min = 1.0
        return [3.0, 1.0, 1.1][(len(calls) - 1) % 3]

    monkeypatch.setattr(bench, "run_query", fake_run)
    # old=0.9 -> steady min 1.0 is 1.11x: NOT confirmed (noise flag)
    out = bench.steady_state_probe(None, "sf", {name: 3.3}, {name: 0.9})
    assert out[name]["min"] == 1.0 and out[name]["confirmed"] is False
    # old=0.5 -> steady min 1.0 is 2.0x: confirmed real regression
    calls.clear()
    out2 = bench.steady_state_probe(None, "sf", {name: 6.6}, {name: 0.5})
    assert out2[name]["confirmed"] is True
    assert len(calls) == 3  # reruns default
    # unknown query names are skipped, not fatal
    assert bench.steady_state_probe(None, "sf", {"nope": 9.9}, {}) == {}


def test_ambient_canary_picks_cheap_untouched_row(monkeypatch):
    """The canary must be an UNTOUCHED query (not flagged, not a
    NEW_BRANCHES entry), the cheapest prior row above the 0.2s noise
    floor, and report its steady ratio vs the prior artifact."""
    names = sorted(REGISTRY)
    flagged, branch, cheap = names[0], names[1], names[2]
    monkeypatch.setattr(bench, "NEW_BRANCHES", {branch: "r9:+x"})
    monkeypatch.setattr(bench, "run_query", lambda *a: 0.9)
    old_all = {flagged: 0.25, branch: 0.25, cheap: 0.45, names[3]: 0.6,
               names[4]: 0.1}  # names[4] under the noise floor
    out = bench.ambient_canary(None, "sf", old_all, {flagged, branch})
    assert out["query"] == cheap and out["prior"] == 0.45
    assert out["ratio"] == 2.0
    # nothing eligible -> None, not a crash
    assert bench.ambient_canary(None, "sf", {flagged: 1.0}, {flagged}) is None


def test_regression_detail_carries_old_times(tmp_path, monkeypatch):
    import os
    import shutil

    (tmp_path / "tools").mkdir()
    shutil.copy(
        os.path.join(os.path.dirname(bench.__file__), "tools", "bench_compare.py"),
        tmp_path / "tools" / "bench_compare.py",
    )
    prior = {"tail": "", "parsed": {"sf": 0.1, "queries": {"a": 1.0}}}
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(prior))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    out = bench.regressions_vs_previous({"a": 2.0}, 0.1)
    assert out["detail"]["old"] == {"a": 1.0}


def test_new_branch_annotation_splits_and_self_expires(tmp_path, monkeypatch):
    # A query listed in NEW_BRANCHES with a branch round NEWER than the
    # compared-against artifact moves from "n"/"w" to "nb"/detail; once
    # the baseline round catches up, the annotation no longer applies.
    import os
    import shutil

    (tmp_path / "tools").mkdir()
    shutil.copy(
        os.path.join(os.path.dirname(bench.__file__), "tools", "bench_compare.py"),
        tmp_path / "tools" / "bench_compare.py",
    )
    prior = {"tail": "", "parsed": {"sf": 0.1, "queries": {"a": 1.0, "b": 1.0}}}
    (tmp_path / "BENCH_r05.json").write_text(json.dumps(prior))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    monkeypatch.setattr(bench, "NEW_BRANCHES", {"a": "r6:+newmode"})
    out = bench.regressions_vs_previous({"a": 2.0, "b": 2.0}, 0.1)
    assert out["n"] == 1 and list(out["w"]) == ["b"]
    assert out["nb"] == 1
    assert out["detail"]["new_branches"]["a"] == {"ratio": 2.0, "tag": "r6:+newmode"}
    # baseline at r6 already contains the branch -> annotation expires
    (tmp_path / "BENCH_r06.json").write_text(json.dumps(prior))
    out2 = bench.regressions_vs_previous({"a": 2.0, "b": 2.0}, 0.1)
    assert out2["n"] == 2 and "nb" not in out2


def _prior_dir(tmp_path, monkeypatch, artifacts: dict) -> None:
    import os
    import shutil

    (tmp_path / "tools").mkdir()
    shutil.copy(
        os.path.join(os.path.dirname(bench.__file__), "tools", "bench_compare.py"),
        tmp_path / "tools" / "bench_compare.py",
    )
    for name, rec in artifacts.items():
        (tmp_path / name).write_text(json.dumps(rec))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")


def test_regression_skips_artifact_with_garbled_cpus(tmp_path, monkeypatch):
    # an unparsable "cpus" must not crash the gate: that artifact is
    # skipped and the newest same-core one is the comparand
    prior = {"sf": 0.1, "queries": {"a": 1.0}}
    _prior_dir(tmp_path, monkeypatch, {
        "BENCH_r01.json": {"tail": "", "cpus": 8, "parsed": prior},
        "BENCH_r02.json": {"tail": "", "cpus": "eight", "parsed": prior},
        "BENCH_r03.json": {"tail": "", "cpus": [8], "parsed": prior},
    })
    out = bench.regressions_vs_previous({"a": 2.0}, 0.1)
    assert out["vs"] == "r01" and out["n"] == 1


def test_regression_gate_off_without_same_core_artifact(tmp_path, monkeypatch):
    # only artifacts from another core count: no gate (None), never a
    # comparison against an incomparable run
    prior = {"sf": 0.1, "queries": {"a": 1.0}}
    _prior_dir(tmp_path, monkeypatch, {
        "BENCH_r01.json": {"tail": "", "cpus": 32, "parsed": prior},
        "BENCH_r02.json": {"tail": "", "cpus": 4, "parsed": prior},
    })
    assert bench.regressions_vs_previous({"a": 2.0}, 0.1) is None
