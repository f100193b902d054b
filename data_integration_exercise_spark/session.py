"""SparkSession factory with the engine's operative configuration.

The reference is a single-process eager pandas script (SURVEY.md §3.1); this
engine replaces that with a lazy, distributed Catalyst-planned session. The
settings here are the ones correctness depends on (UTC, nanosecond-parquet
legacy flag) plus scale posture (AQE on, modest shuffle parallelism that AQE
coalesces at small SF and that would be raised on a real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs that correctness depends on. Applied defensively
# by io.prepare() too, because the driver may hand us a session it built
# itself (see __spark_entry__.py contract).
RUNTIME_CONFS = {
    # events.parquet stores timestamp[ns]; Spark 4 hard-fails on read without
    # this (FIXTURES.md "events"): [PARQUET_TYPE_ILLEGAL] INT64 (TIMESTAMP(NANOS,..)).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # All testdata timestamps are timezone-naive; pin UTC so TimestampType
    # (ltz) <-> TimestampNTZType casts are identity and oracle parity holds.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing + skew-join splitting. At 100 TB this
    # is what adapts static plans to real data sizes; at sf<=0.1 it collapses
    # the shuffle partitions down so fixed overhead stays low.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Stateful streaming disables AQE, so a 200-partition default becomes 200
    # state-store tasks per micro-batch; pin the harness parallelism here so
    # driver-built plain sessions behave like the tuned builder. On a real
    # cluster this would scale with executor count.
    "spark.sql.shuffle.partitions": "32",
}


def get_session(app_name: str = "data-integration-exercise-spark") -> SparkSession:
    """Build (or reuse) the shared local session.

    local[$SPARK_GRAFT_CPUS] (default all cores), shuffle.partitions=32 to
    match the test harness; on a real cluster this would be ~2-3x total cores
    or simply left to AQE's initial partition num.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
