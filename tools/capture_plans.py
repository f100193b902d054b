#!/usr/bin/env python
"""Capture .explain('formatted') for every bench-tier query into a fresh
temporary directory (``plans-*`` under the system temp dir; the path is
printed first). Nothing is written inside the repository.

Usage:
    python tools/capture_plans.py before            # <tmp>/<key>_before.txt
    python tools/capture_plans.py after key1 key2   # only the named keys
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/capture_plans.py before

Plans are BUILT, not executed (eager-by-construction keys — sinks,
checkpointed loops — do run their internal jobs, same as tests/test_plan_audit).
Streaming keys cannot be explain()'d without running the stream; for those the
plan file records the batch-side frame where the operator exposes one, else a
SKIP marker.
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from data_integration_exercise_spark.registry import queries
    from data_integration_exercise_spark.session import get_session

    keys = (
        bench.HEADLINE + bench.NEW_TIER + bench.R5_TIER + bench.R5B_TIER
        + bench.R5C_TIER + bench.R6_TIER + bench.R7_TIER + bench.R8_TIER
        + bench.R10_TIER + bench.R11_TIER + bench.R12_TIER + bench.R13_TIER
        + bench.R14_TIER
    )
    if only:
        keys = [k for k in keys if k in only] + sorted(only - set(keys))

    out_dir = tempfile.mkdtemp(prefix="plans-")
    print(f"writing plans to {out_dir}")

    spark = get_session("capture_plans")
    qs = queries()
    for key in keys:
        if key not in qs:
            continue
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        try:
            df = qs[key](spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # streaming frames / build-time failures
            txt = f"SKIP: {type(e).__name__}: {e}\n"
        with open(path, "w") as f:
            f.write(txt)
        print(f"{key}: {len(txt)} bytes -> {path}")


if __name__ == "__main__":
    main()
