import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from etly_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("etly-spark-tests")
    yield s


def spark_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group on this thread; return its
    result and the number of Spark jobs it submitted."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


# Shared plan-gate pattern (test_plans.py + test_prefix.py): a Window
# whose ONLY partition key is a given column. In the formatted plan a
# window spec prints as windowspecdefinition(<partition cols>, <order
# specs>, frame); a single-key partition shows the key followed
# directly by an order spec (`... ASC/DESC`) or the frame. Kept in ONE
# place so a Spark plan-text change can't silently disable one of the
# two skew gates.
import re as _re


def single_key_window_re(key: str) -> "_re.Pattern[str]":
    return _re.compile(
        rf"windowspecdefinition\({key}#\d+[A-Za-z]*,\s*"
        r"(?:[^,()]+ (?:ASC|DESC)|specifiedwindowframe)"
    )


# Any-column variant (r8, verdict item 5): captures the single
# partition key's NAME so the gate can check it against the measured
# low-NDV column set instead of a hardcoded `lang`.
ANY_SINGLE_KEY_WINDOW_RE = _re.compile(
    r"windowspecdefinition\((\w+)#\d+[A-Za-z]*,\s*"
    r"(?:[^,()]+ (?:ASC|DESC)|specifiedwindowframe)"
)


_LOW_NDV_CACHE: dict[int, dict[str, int]] = {}


def low_ndv_columns(spark, threshold: int = 64) -> dict[str, int]:
    """Measured low-cardinality columns across every catalog table:
    {column_name: max NDV seen}. A column qualifies when its
    approx_count_distinct stays under ``threshold`` at BOTH sf0.001 and
    sf0.01 — constant across a 10x scale-up means intrinsically
    low-cardinality (lang, event_type, order status...), not a
    small-sample artifact. A window partitioned SOLELY by such a key
    funnels its dominant value through one task at 100x; the plan gate
    in test_plans.py flags any such window in any catalog plan.
    Measured once per threshold per test session (three tests consume
    it; the scan is tables x 2 sf_dirs of NDV aggregation jobs)."""
    if threshold in _LOW_NDV_CACHE:
        return _LOW_NDV_CACHE[threshold]
    from pyspark.sql import functions as F

    from etly_spark.io.tables import TABLES, load_table

    seen: dict[str, int] = {}
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for tbl in TABLES:
            df = load_table(spark, sf_dir, tbl)
            cols = [
                c for c, t in df.dtypes
                if not t.startswith(("array", "struct", "map", "binary"))
            ]
            if not cols:
                continue
            row = df.agg(
                *[F.approx_count_distinct(c).alias(c) for c in cols]
            ).collect()[0]
            for c in cols:
                seen[c] = max(seen.get(c, 0), int(row[c]))
    out = {c: n for c, n in seen.items() if n < threshold}
    _LOW_NDV_CACHE[threshold] = out
    return out
