"""Per-branch wall-clock profile of sim_ann_methods.

Times each method branch of the composite query in isolation with the
noop sink, pre-building the staged artifacts first (one throwaway full
run) so branch numbers measure the probe/scoring work, not index
builds. Fixtures and branches come from the query's own method table
(similarity.ANN_FIXTURES / ANN_TABLE), keyed by output tag. Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_ann_branches.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etly_spark.queries import REGISTRY  # noqa: E402
from etly_spark.queries.catalog import release_cache  # noqa: E402
from etly_spark.session import get_spark  # noqa: E402
import etly_spark.queries.similarity as sim  # noqa: E402


def t(spark, label, df) -> float:
    spark.sparkContext.setJobDescription(label)
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    sec = time.monotonic() - t0
    spark.sparkContext.setJobDescription(None)
    return round(sec, 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ann-branch-profile")

    # Throwaway full run: builds every staged artifact + warms JVM/workers.
    t0 = time.monotonic()
    REGISTRY["sim_ann_methods"].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    full_cold = round(time.monotonic() - t0, 3)
    spark.catalog.clearCache()
    t0 = time.monotonic()
    REGISTRY["sim_ann_methods"].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    full_warm = round(time.monotonic() - t0, 3)
    spark.catalog.clearCache()
    release_cache()

    out: dict[str, float] = {"_full_cold": full_cold, "_full_warm": full_warm}

    fixtures = {tag: sim.ann_fixture(spark, sf_dir, tag) for tag in sim.ANN_FIXTURES}
    for m in sim.ANN_TABLE:
        secs = []
        for _ in range(2):
            try:
                df = m.build(spark, sf_dir, fixtures[m.fixture])
                secs.append(t(spark, f"branch:{m.tag}", df))
            except Exception as exc:
                print(f"# FAIL {m.tag}: {exc}", file=sys.stderr)
                secs.append(-1.0)
                break
        out[m.tag] = min(secs)

    total = round(sum(v for k, v in out.items() if not k.startswith("_") and v > 0), 3)
    out["_branch_sum"] = total
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
