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


def events_copy(spark, tmp_path, layout: str) -> str:
    """An sf dir whose ``events.parquet`` has ``layout``: a testdata scale
    as it lies, or a copy of sf0.001 in tmp_path — Spark-written
    directory (µs NTZ), Spark-written LTZ (INT96), or one pyarrow file
    with ``ts`` cast to timestamp[ns] or timestamp[us, UTC]."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    if layout.startswith("sf"):
        return os.path.join(os.path.dirname(SF_SMOKE), layout)
    src = f"{SF_SMOKE}/events.parquet"
    out = tmp_path / layout / "events.parquet"
    if layout in ("spark_dir", "spark_int96"):
        df = spark.read.parquet(src)
        if layout == "spark_int96":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.parquet(str(out))
    else:
        ts_type = {"ns_file": pa.timestamp("ns"), "us_utc_file": pa.timestamp("us", "UTC")}
        tbl = pq.read_table(src)
        i = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(i, "ts", tbl.column(i).cast(ts_type[layout]))
        out.parent.mkdir()
        pq.write_table(tbl, out)
    return str(out.parent)

