"""Shared fixtures: one SparkSession per test session, parity helpers."""

from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from data_integration_exercise_spark.session import get_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("engine-tests")
    yield s


@pytest.fixture(scope="session")
def registry_built(spark):
    """Every registered key built once at sf0.001 for the registry-wide
    sweeps: ``key -> (output schema, executed plan)``. The plan is None
    for stream keys — building their frame runs the stream, and the
    returned frame is a re-read of its sink."""
    from data_integration_exercise_spark.plans.inspect import simple_plan
    from data_integration_exercise_spark.registry import queries

    built = {}
    for key, fn in queries().items():
        df = fn(spark, SF_SMOKE)
        plan = None if key.startswith("stream_") else simple_plan(df)
        built[key] = (df.schema, plan)
    return built
