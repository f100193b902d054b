"""Table loading and view registration.

Single chokepoint for reading the driver-generated parquet (TESTDATA.md):
every operator goes through :func:`load_table` (streams through
:func:`read_raw` + :func:`canonicalize`) so the events nanosecond
workaround and session confs are applied uniformly regardless of who built
the SparkSession (the driver builds its own for verify runs).

Scale posture: these are plain ``spark.read.parquet`` scans — Catalyst gets
full predicate pushdown / column pruning, and on a cluster the same code
reads a 100 TB table as a partitioned file listing. No collect, no caching
policy here (callers opt in per workload).

Staging: every copy, sink and checkpoint an operator writes lives under
``/tmp/die_spark_stage/p<pid>/`` — copies of inputs at
``<sf_cache_tag>/<key>`` (:func:`stage_dir`), stream sinks and their state
at ``sink/<scope_tag>__<name>`` (:func:`sink_dir`). Copies of immutable
inputs are written once per process (:func:`stage_once`).
"""

from __future__ import annotations

import hashlib
import os
import re
from typing import Callable

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from .schemas import EVENTS_RAW, EVENTS_RAW_US, SCHEMAS, TABLES
from .session import RUNTIME_CONFS


def sf_cache_tag(sf_dir: str) -> str:
    """Collision-free per-``sf_dir`` tag for staged-copy paths and catalog
    table names.

    Basename alone is NOT enough: two different paths sharing a basename
    (e.g. ``/a/sf0.01`` and ``/b/sf0.01``) in one process would silently
    reuse each other's staged data — the same bug class the per-PID-only
    plan_cbo_stats cache hit in round 6 (ADVICE r6 item 1). Keep the
    basename for human-readable paths, disambiguate with a digest of the
    full absolute path.
    """
    full = os.path.abspath(sf_dir.rstrip("/") or "/")
    base = re.sub(r"[^A-Za-z0-9._-]", "_", os.path.basename(full) or "root")
    return f"{base}_{hashlib.md5(full.encode()).hexdigest()[:8]}"


def scope_tag(sf_dir: str) -> str:
    """:func:`sf_cache_tag` spelled as a catalog identifier (every character
    outside ``[A-Za-z0-9_]`` becomes ``_``), for names that must differ per
    ``sf_dir``: catalog tables, memory-sink views, stream sinks. A name
    without it, reused by a run at another scale in the same process,
    would leave a still-live lazy handle reading the other scale's data."""
    return re.sub(r"[^A-Za-z0-9_]", "_", sf_cache_tag(sf_dir))


def sink_scope(sf_dir: str, name: str) -> str:
    """Per-(sf_dir, operator) name of a stream's sink, view, state or
    checkpoint. Name alone is NOT enough: the same operator run at two
    sf_dirs in one process would share one checkpoint — in append mode the
    second run restarts the first run's query, whose file-source log
    points at the other scale's input and whose output still holds the
    other scale's rows. Reuse at the same (sf_dir, name) is deliberate:
    an append-mode rerun replays an all-files-processed checkpoint
    idempotently."""
    return f"{scope_tag(sf_dir)}__{name}"


def _process_root() -> str:
    # PID component: a concurrent driver verify and a local pytest run must
    # not overwrite each other's staged copies mid-read (stage_once is
    # per-process, so the paths must be too).
    return f"/tmp/die_spark_stage/p{os.getpid()}"


def stage_dir(sf_dir: str, key: str) -> str:
    """Where this process stages ``key``'s copy of ``sf_dir``'s data."""
    return os.path.join(_process_root(), sf_cache_tag(sf_dir), key)


def sink_dir(sf_dir: str, name: str) -> str:
    """Where this process keeps stream sink, state or checkpoint ``name``
    for ``sf_dir`` (scoped by :func:`sink_scope`)."""
    return os.path.join(_process_root(), "sink", sink_scope(sf_dir, name))


_staged: set[str] = set()  # paths stage_once has written in THIS process


def stage_once(path: str, write: Callable[[], object]) -> None:
    """Run ``write()`` unless this process already staged ``path``.

    For copies of immutable inputs: the source cannot change under a
    running process, so a copy this process wrote is current. ``path`` is
    recorded only once ``write`` returns, so a write that raises (a failed
    audit) runs again on the next call."""
    if path not in _staged:
        write()
        _staged.add(path)


def prepare(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs correctness depends on (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable in some session; builder path sets it
    return spark


class EventsLayoutError(ValueError):
    """``events.ts`` has a parquet type no pinned raw schema describes."""


def _events_schema(path: str) -> StructType:
    """Pinned raw schema for the ``events`` table at ``path`` (one parquet
    file or a Spark-written directory), chosen by the ``ts`` type in its
    footer: timestamp[ns] → EVENTS_RAW (a nanosAsLong bigint),
    timestamp[us] without a time zone → EVENTS_RAW_US (TIMESTAMP_NTZ).
    Anything else raises :class:`EventsLayoutError`. INT96 is coerced to
    ms here so a legacy Spark timestamp lands in that error instead of
    passing for ns."""
    fmt = ds.ParquetFileFormat(coerce_int96_timestamp_unit="ms")
    ts = ds.dataset(path, format=fmt).schema.field("ts").type
    if pa.types.is_timestamp(ts) and ts.unit == "ns":
        return EVENTS_RAW
    if pa.types.is_timestamp(ts) and ts.unit == "us" and ts.tz is None:
        return EVENTS_RAW_US
    raise EventsLayoutError(
        f"{path}: events.ts is {ts}; expected timestamp[ns] or "
        "timestamp[us] without a time zone"
    )


def read_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch read of ``{sf_dir}/{name}.parquet`` in its physical layout.

    Every table is read with a PINNED schema (schemas.py, measured from the
    driver parquet): an unpinned ``spark.read.parquet`` runs a Spark job
    to read the footer schema (~40-50 ms warm at sf0.1, against ~7 ms
    pinned), and a production 100 TB reader pins schemas anyway so
    file-set sampling never runs. Parquet reconciles by name and errors
    loudly on a type change; the full-registry emulator sweep (all three
    scales) plus tests/parity guard against silent drift.

    ``events``' physical layout varies by driver round (ns-bigint vs µs
    TIMESTAMP_NTZ), so its schema is picked per call from the ``ts`` type
    in the footer, read with pyarrow on the driver (~0.1 ms, no Spark job;
    NOT cached, every invocation re-reads the input). Its ``schema`` is
    what a stream over the same file reads with.
    """
    prepare(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _events_schema(path) if name == "events" else SCHEMAS[name]
    return spark.read.schema(schema).parquet(path)


def canonicalize(df: DataFrame, name: str) -> DataFrame:
    """Project a :func:`read_raw`-shaped frame — batch or streaming — to the
    engine-facing shape (schemas.py); only ``events`` changes.

    ``events`` becomes the pair ``ts`` (TimestampNTZ, µs) + ``ts_us``
    (bigint epoch-µs — for arithmetic that must exactly match a DuckDB
    oracle computing ``epoch_ns(ts)//1000``), handling BOTH physical
    layouts the driver has generated across rounds:

    - timestamp[ns] parquet — Spark 4 reads it only via nanosAsLong=true as
      a bigint; floor-truncate to µs with *integer* division (``ts div
      1000`` — float division at 1.7e18 ns exceeds double's 2^53 integer
      range and corrupts low-order digits).
    - timestamp[us] parquet (driver testdata since round 4) — arrives as
      TIMESTAMP_NTZ; with the session pinned to UTC (prepare) the
      ntz→ltz cast is wall-clock identity, so ``unix_micros`` is exact.
    """
    if name != "events":
        return df
    if isinstance(df.schema["ts"].dataType, LongType):
        ts = F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        ts_us = F.expr("ts div 1000")
    else:
        ts = F.col("ts").cast("timestamp_ntz")
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.select(
        "event_id",
        ts.alias("ts"),
        ts_us.alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the 10 operative tables from ``{sf_dir}/{name}.parquet``
    in its canonical shape (:func:`read_raw` + :func:`canonicalize`)."""
    return canonicalize(read_raw(spark, sf_dir, name), name)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (names match the DuckDB oracle's)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
