"""Structured Streaming surface over ``events`` (SURVEY.md §2.9).

Strategy (batch-equivalence verification): each operator consumes an input
table with ``spark.readStream`` + an ``availableNow`` trigger into a sink,
and returns the sink contents. For a bounded input the windowed/stateful
semantics match a batch SQL equivalent, which is the DuckDB oracle; the two
genuinely trigger-dependent ops (watermark drops, foreachBatch) stay
rows-only [SURVEY §2.9].

Inputs (_table_stream): a single-batch stream reads ``{sf_dir}/{table}.parquet``
in place — no copy is written. Only the multi-batch keys stage their input,
as a range split into part files read one per micro-batch, and the
deterministic-watermark key stages its three pinned batches; both stages
are written once per process (io.stage_once).

Scale posture: these pipelines are written exactly as they would run
unbounded — keyed state (window/session/dedup aggregations partitioned by
time bucket or user), watermarks bounding state, no global collects.
Sinks match output cardinality: windowed aggregates whose row count grows
with data volume land in an executor-written parquet sink
(_parquet_result); only provably small keyed results (≤ tens of users /
segments) use the driver-resident memory sink. State stores run one task
wave (_state_partitions).

Checkpoints: every engine stream runs inside _stream_partitions, which
also pins the FileSystem-based checkpoint manager. Spark's default
FileContext-based manager forks a ``readlink`` process for each link-status
call when Hadoop runs without its native library, several per checkpoint
rename; the engine's checkpoints are local files, where both managers
rename alike.

Determinism: event time is the µs-truncated ``ts`` (io.canonicalize, the
same projection batch reads get), so window boundaries hash-match oracles
computing on epoch_ns(ts)//1000.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from ..functions.encode import (
    cents,
    cents_sql,
    md5_bucket,
    md5_bucket_duck,
    md5_int,
    md5_int_duck,
    milli,
)
from ..functions.sets import (
    MINHASH_PERMS,
    V,
    band_sigs_sql,
    minhash_bands_duck,
    vocab_idx_duck,
    vocab_idx_sql,
)
from ..functions.vectors import (
    centroid_ranks_duck,
    lloyd_centroids,
    lloyd_duck,
    milli_rows_duck,
)
from ..io import (
    canonicalize,
    load_table,
    read_raw,
    sink_dir,
    sink_scope,
    stage_dir,
    stage_once,
)
from ..registry_util import new_registry
from ..schemas import EVENTS

QUERIES, ORACLES, register = new_registry()

_US_15MIN = 900_000_000
_US_30MIN = 1_800_000_000


def _table_stream(spark, sf_dir: str, table: str, n_files: int = 1, order_col: str = "ts"):
    """File-source stream over one input table, canonicalized exactly like
    its batch read (io.canonicalize); ``events``' ts arrives as
    TimestampType for watermarks.

    ``n_files == 1`` reads ``{sf_dir}/{table}.parquet`` in place, with the
    schema of the batch read's footer. ``readStream`` rejects a file path
    ("Option 'basePath' must be a directory"), so a single-file table
    streams ``sf_dir`` filtered to its file name; a Spark-written table
    directory streams the directory.

    ``n_files > 1`` stages a MULTI-micro-batch source for operators whose
    cross-batch merge is the thing under test: a deterministic
    repartitionByRange split on ``order_col`` into ``n_files`` part files,
    read one per trigger. The split is written once per process per
    (sf, table, n_files), through io.stage_once."""
    raw = read_raw(spark, sf_dir, table)
    reader = spark.readStream.schema(raw.schema)
    path = f"{sf_dir}/{table}.parquet"
    if n_files > 1:
        stage = stage_dir(sf_dir, f"{table}_stream_{n_files}")
        stage_once(
            stage,
            lambda: raw.repartitionByRange(n_files, order_col)
            .write.mode("overwrite")
            .parquet(stage),
        )
        src = reader.option("maxFilesPerTrigger", 1).parquet(stage)
    elif os.path.isdir(path):
        src = reader.parquet(path)
    else:
        src = reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)
    s = canonicalize(src, table)
    if table == "events":
        # Watermarks require TimestampType (ltz), not ntz; with the session
        # pinned to UTC (io.prepare) the cast is wall-clock identity, and
        # outputs are cast back to ntz so hashes stay timezone-free.
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


def _state_partitions(spark) -> str:
    """State-store task count: one task wave, at most 8. Stateful streaming
    has no AQE coalescing, so every micro-batch pays one task per shuffle
    partition — measured 2.05s→1.17s at sf0.1 going 32→8 at local[32];
    below 8 cores, 8 tasks would run as two mostly idle waves. On a real
    cluster this scales with executor cores (it also fixes the state-store
    count for the checkpoint's lifetime, so it's a deliberate deployment
    choice). Outputs do not depend on it (tests/test_streaming.py)."""
    return str(min(8, spark.sparkContext.defaultParallelism))


_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextmanager
def _stream_partitions(spark):
    """Run a streaming query with _state_partitions shuffle partitions and
    the FileSystem-based checkpoint manager. Both confs are restored on
    exit, or unset if they had no value, so queries outside the engine
    (e.g. on HDFS) keep Spark's defaults.

    Why the manager is pinned: Spark's default,
    FileContextBasedCheckpointFileManager, calls getFileLinkStatus several
    times per atomic rename, and when Hadoop runs without libhadoop each
    call forks ``readlink`` (FileUtil.readLink through Shell.runCommand).
    The offset log, the commit log, the state-store deltas and the
    checksum files all commit through such renames. On ``file:`` both
    managers rename alike (check that the destination is free, then
    rename), and the engine's checkpoints are always local (io.sink_dir,
    or Spark's temporary checkpoint), so no guarantee is lost."""
    confs = {
        "spark.sql.shuffle.partitions": _state_partitions(spark),
        "spark.sql.streaming.checkpointFileManagerClass": _CHECKPOINT_FILE_MANAGER,
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _run_to_memory(stream_df, name: str, mode: str) -> None:
    with _stream_partitions(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def _memory_result(spark, stream_df, name: str, mode: str, sf_dir: str) -> DataFrame:
    """Memory-sink runner — only for BOUNDED result sets (per-user/segment
    aggregates, ≤ a few thousand rows): the memory sink materializes on the
    driver. Growing-output windows use _parquet_result instead. The view
    name is sf-scoped (io.sink_scope): the returned handle is lazy, so a
    name-only view re-registered by a later run at another scale would
    silently swap its contents."""
    scoped = sink_scope(sf_dir, name)
    _run_to_memory(stream_df, scoped, mode)
    return spark.table(scoped)


def _parquet_result(spark, stream_df, name: str, mode: str, sf_dir: str) -> DataFrame:
    """Executor-side sink for streams whose output GROWS with data volume
    (per-window, per-session, per-dedup-key rows): results land in parquet
    files written by executors — nothing materializes on the driver, unlike
    the memory sink. Append mode uses the native checkpointed parquet sink;
    complete mode (which the parquet sink proper doesn't support) uses
    foreachBatch + overwrite — the standard idempotent complete-mode file
    sink, each micro-batch replacing the whole aggregate. The returned
    DataFrame scans the final state lazily, with the stream's schema (no
    footer inference). The path is sf-scoped (io.sink_dir) so two scales
    in one process can't alias each other's checkpoint or output."""
    out = sink_dir(sf_dir, name)
    with _stream_partitions(spark):
        if mode == "complete":
            writer = stream_df.writeStream.foreachBatch(
                lambda batch_df, _id: batch_df.write.mode("overwrite").parquet(out)
            ).outputMode(mode)
        else:
            writer = (
                stream_df.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", out + "_ckpt")
                .outputMode(mode)
            )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    return spark.read.schema(stream_df.schema).parquet(out)


@register(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           count(*)               AS n,
           round(sum(value), 4)   AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark, sf_dir):
    """Per-hour × event-type tumbling-window aggregation. State is keyed by
    (window, type) — bounded by watermark in unbounded operation; identical
    to a date_trunc group-by on a bounded input."""
    s = _table_stream(spark, sf_dir, "events")
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("hour_start"), "event_type", "n", "sum_value"
        )
    )
    return _parquet_result(spark, agg, "stream_tumbling", "complete", sf_dir)


@register(
    "stream_sliding",
    oracle=f"""
    WITH e AS (
        SELECT epoch_ns(ts) // 1000 AS ts_us, event_type FROM events
    ), slid AS (
        SELECT make_timestamp((ts_us // {_US_15MIN}) * {_US_15MIN}
                              - CAST(i AS BIGINT) * {_US_15MIN})
                   AS window_start,
               event_type
        FROM e, unnest([0, 1, 2, 3]) AS t(i)
    )
    SELECT window_start, event_type, count(*) AS n
    FROM slid GROUP BY 1, 2
    """,
)
def stream_sliding(spark, sf_dir):
    """1-hour window sliding every 15 minutes: each event lands in 4 windows.
    The oracle reconstructs Spark's epoch-aligned window starts by exploding
    each event into floor15(ts) - i·15min for i∈0..3 — exactly the window
    set Spark assigns."""
    s = _table_stream(spark, sf_dir, "events")
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("timestamp_ntz").alias("window_start"), "event_type", "n")
    )
    return _parquet_result(spark, agg, "stream_sliding", "complete", sf_dir)


@register(
    "stream_session",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS ts_us FROM events
    ), marked AS (
        SELECT *,
               CASE WHEN ts_us - lag(ts_us) OVER w > {_US_30MIN}
                    OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sessions AS (
        SELECT *,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           make_timestamp(min(ts_us)) AS session_start,
           count(*)                   AS n_events,
           round(sum(value), 4)       AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session(spark, sf_dir):
    """Per-user session windows with a 30-minute gap. Spark session
    semantics, pinned by tests/test_properties.py on a hand-built frame: an
    event at exactly prev_end (= last_ts + gap) MERGES into the session, so
    the oracle's new-session rule is ``diff > gap`` (strict)."""
    s = _table_stream(spark, sf_dir, "events")
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min("ts").cast("timestamp_ntz").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )
    return _parquet_result(spark, agg, "stream_session", "complete", sf_dir)


@register("stream_watermark_late")  # rows-only: drop rule is trigger-dependent
def stream_watermark_late(spark, sf_dir):
    """Watermark-bounded append-mode aggregation consumed file-by-file
    (maxFilesPerTrigger=1 over 8 time-ranged files): late rows arriving
    after the 10-minute watermark advances past their window are dropped —
    how many depends on batch boundaries, which is exactly why this op is
    rows-only (SURVEY §2.9)."""
    s = _table_stream(spark, sf_dir, "events", n_files=8)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("timestamp_ntz").alias("window_start"), "event_type", "n")
    )
    return _parquet_result(spark, agg, "stream_watermark_late", "append", sf_dir)


#: deterministic-watermark geometry: 15-minute windows (900e6 µs), 10-minute
#: watermark delay (600e6 µs), and a 1-minute safety margin (60e6 µs) on
#: BOTH the staged drop set and the kept-window readout, so no row or window
#: ever sits exactly on Spark's eviction boundary (whose <=-vs-< semantics
#: the operator therefore never has to assume).
_WM_WINDOW_US = 900_000_000
_WM_CLOSE_US = 660_000_000  # delay (600e6) + margin (60e6)


def _staged_watermark_stream(spark, sf_dir: str):
    """Three-batch staged event stream with an EXACTLY COMPUTABLE drop set
    (VERDICT r12 item 7). Batch 1 holds the on-time rows INCLUDING the
    global max timestamp, so the watermark computed after it stands at
    max(ts) − 10 min. Batch 2 is a single on-time "advance" row (the
    min-event_id on-time row whose ts sits strictly BELOW the max, so the
    max-ts row itself always stays in batch 1): Spark ≥3.4 splits the
    late-events watermark
    from the eviction watermark — batch N filters late input against the
    watermark in effect DURING batch N−1 (measured here on 4.1.2:
    numRowsDroppedByWatermark stays 0 when the late file lands in batch 2,
    drops everything when it lands in batch 3) — so this spacer batch
    commits max(ts) − 10 min as batch 3's late-event filter. Batch 3 holds
    the designated late set — rows with even event_id whose 15-minute
    window closed at least 1 min BELOW that watermark — all dropped under
    either <=-or-< boundary semantics. Each batch is one part-file (a
    multi-file half could split across micro-batches, letting the max-ts
    batch precede sibling on-time rows) with pinned mtimes 100 s apart,
    since the file source orders batches by modification time. Returns
    (stream, max_us); the two scalar collects are stage GEOMETRY, not
    data movement."""
    stage = stage_dir(sf_dir, "events_wm_det")
    ev = load_table(spark, sf_dir, "events")
    # no events: every staged batch is empty, as in the oracle, whatever
    # the literal
    mx = ev.agg(F.max("ts_us")).collect()[0][0] or 0

    def write():
        late = (F.col("event_id") % 2 == 0) & (
            F.expr(f"ts_us div {_WM_WINDOW_US}") * _WM_WINDOW_US + _WM_WINDOW_US
            <= F.lit(mx - _WM_CLOSE_US)
        )
        ontime = ev.filter(~late)
        # The advance row must NOT be the sole holder of max(ts): routing
        # that row to batch 2 would leave batch 1's watermark below
        # mx − 10 min, letting part of the designated late set through
        # batch 3's late filter (round-13 review finding). Restrict the
        # pick to on-time rows strictly below the max; if none exists
        # (degenerate: every on-time row at mx), the advance file is
        # empty — an empty file is still a batch, so the spacer still
        # commits batch 1's watermark ahead of the late batch.
        adv_id = (
            ontime.filter(F.col("ts_us") < mx)
            .agg(F.min("event_id"))
            .collect()[0][0]
        )
        adv_pred = (
            F.col("event_id") == adv_id if adv_id is not None else F.lit(False)
        )
        os.makedirs(stage, exist_ok=True)
        for name, frame, mtime in (
            ("00_ontime", ontime.filter(~adv_pred), 1_700_000_000),
            ("01_advance", ontime.filter(adv_pred), 1_700_000_100),
            ("02_late", ev.filter(late), 1_700_000_200),
        ):
            tmp = f"{stage}_tmp_{name}"
            frame.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.startswith("part-")][0]
            dst = os.path.join(stage, f"{name}.parquet")
            os.replace(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dst, (mtime, mtime))

    stage_once(stage, write)
    s = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return s, mx


@register(
    "stream_watermark_deterministic",
    oracle=f"""
    WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
    keep AS (
        SELECT (epoch_us(ts) // {_WM_WINDOW_US}) * {_WM_WINDOW_US} AS ws_us,
               event_type
        FROM events, m
        WHERE NOT (event_id % 2 = 0
                   AND (epoch_us(ts) // {_WM_WINDOW_US}) * {_WM_WINDOW_US}
                       + {_WM_WINDOW_US} <= mx - {_WM_CLOSE_US})
    )
    SELECT make_timestamp(ws_us) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM keep, m
    WHERE ws_us + {_WM_WINDOW_US} <= mx - {_WM_CLOSE_US}
    GROUP BY ws_us, event_type
    """,
)
def stream_watermark_deterministic(spark, sf_dir):
    """Watermark drop semantics converted from rows-only to HASH truth
    (VERDICT r12 item 7): the staged three-batch input pins the batch
    boundaries, so the drop set is exactly the staged late half and the
    kept set is the batch SQL of the on-time subset restricted to windows
    that closed ≥1 min below the final watermark — both sides of the
    margin, so Spark's eviction-boundary choice can't flip a row. The
    general trigger-dependent case stays covered by the rows-only
    `stream_watermark_late`; this key is the deterministic-by-construction
    variant a pipeline uses to TEST its late-data policy. 100 TB: identical
    plan to any watermarked windowed agg — per-batch partial agg into
    watermark-bounded state keyed by (window, type); the readout filter is
    a scalar comparison on the window key."""
    s, mx = _staged_watermark_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
    )
    res = _parquet_result(
        spark, agg, "stream_watermark_deterministic", "append", sf_dir
    )
    closed = (
        F.unix_micros(F.col("window_start").cast("timestamp")) + _WM_WINDOW_US
        <= F.lit(mx - _WM_CLOSE_US)
    )
    return res.filter(closed)


@register(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id,
           event_type,
           date_trunc('minute', ts) AS minute
    FROM events
    """,
)
def stream_dedup(spark, sf_dir):
    """Stateful streaming dedup on (user, type, minute). Which physical row
    survives is batch-order-dependent, so the query projects exactly the
    dedup key — the key SET is deterministic and hash-verifiable. State is
    bounded by the watermark in unbounded operation."""
    s = _table_stream(spark, sf_dir, "events")
    dedup = (
        s.withWatermark("ts", "1 hour")
        .select(
            "user_id", "event_type", F.date_trunc("minute", "ts").cast("timestamp_ntz").alias("minute"), "ts"
        )
        .dropDuplicates(["user_id", "event_type", "minute"])
        .select("user_id", "event_type", "minute")
    )
    return _parquet_result(spark, dedup, "stream_dedup", "append", sf_dir)


@register(
    "stream_static_join",
    oracle="""
    SELECT c_mktsegment,
           count(*)             AS n,
           round(sum(value), 4) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    WHERE c_custkey < 15
    GROUP BY c_mktsegment
    """,
)
def stream_static_join(spark, sf_dir):
    """Stream-static enrichment: the event stream joins a static customer dim
    (user_id ↔ c_custkey, 15 users) then aggregates per segment. The static
    side is broadcast to every micro-batch — the standard dimension-enrich
    shape for streaming ETL."""
    s = _table_stream(spark, sf_dir, "events")
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 15)
    )
    agg = (
        s.join(dim, s.user_id == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    return _memory_result(spark, agg, "mem_stream_static_join", "complete", sf_dir)


@register("stream_foreachbatch")  # rows-only: sink side-effects, trigger-dependent
def stream_foreachbatch(spark, sf_dir):
    """foreachBatch sink: each micro-batch upserts (overwrite-by-batch dir)
    into a parquet area; the query returns the re-read final state. This is
    the escape hatch for sinks Structured Streaming lacks natively (JDBC
    upserts, MERGE targets)."""
    out = stage_dir(sf_dir, "foreachbatch_out")

    def counts(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        counts(batch_df).write.mode("overwrite").parquet(f"{out}/batch_{batch_id}")

    s = _table_stream(spark, sf_dir, "events")
    with _stream_partitions(spark):
        q = s.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
        q.awaitTermination()
    # read back with the writer's schema: inferring is a job per read
    return (
        spark.read.schema(counts(s).schema)
        .parquet(f"{out}/*")
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"))
    )


@register(
    "stream_stateful_running",
    oracle="""
    SELECT user_id,
           count(*)             AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_running(spark, sf_dir):
    """Custom stateful operator via ``applyInPandasWithState``: a per-user
    running (count, sum) accumulator the built-in windowed aggregates can't
    express (arbitrary Python state transition per key per micro-batch).
    The staged input is split into 4 time-ranged files consumed one per
    micro-batch (maxFilesPerTrigger=1), so the state provably carries
    ACROSS batches: update-mode emits a cumulative row per (user, batch),
    and the final cumulative row per user — selected by the strictly
    increasing n_events — must equal the global batch aggregate, which is
    the oracle. State is a 2-field struct per user (bounded: 15 users);
    unbounded deployments would add a timeout to expire idle keys."""
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout

    s = _table_stream(spark, sf_dir, "events", n_files=4)

    def update(key, pdfs, state):
        import pandas as pd

        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [tot]}
        )

    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = _memory_result(spark, out, "mem_stream_stateful_running", "update", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        mem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("total_value", 4).alias("total_value"))
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id,
           v.event_id               AS view_id,
           p.event_id               AS purchase_id,
           epoch_ns(v.ts) // 1000   AS view_ts_us,
           epoch_ns(p.ts) // 1000   AS purchase_ts_us
    FROM events v JOIN events p
      ON v.user_id = p.user_id
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
      AND epoch_ns(p.ts) // 1000 <  epoch_ns(v.ts) // 1000 + 3600000000
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join: views matched to same-user purchases
    that happen within the following hour — the canonical attribution
    query. Both sides are independent watermarked streams; the equi-key
    (user_id) plus the two-sided event-time bound is exactly what Spark
    needs to size the join state and evict rows once the other side's
    watermark passes view_ts + 1h, so state stays bounded on an unbounded
    feed. On a bounded availableNow run (single micro-batch: nothing is
    ever late) the result equals the batch interval join the oracle runs.
    Output carries epoch-µs bigints so hashes are timezone-free."""
    views = (
        _table_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
            F.col("ts_us").alias("view_ts_us"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        _table_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("ts_us").alias("purchase_ts_us"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("user_id", "view_id", "purchase_id", "view_ts_us", "purchase_ts_us")
    return _parquet_result(spark, joined, "stream_stream_join", "append", sf_dir)


@register(
    "stream_cdc_upsert",
    oracle=f"""
    WITH latest AS (
        SELECT user_id, event_type,
               {cents_sql('value')} AS cents,
               epoch_ns(ts) // 1000 AS t, event_id,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id,
           event_type AS last_type,
           cents      AS last_cents,
           t          AS last_t
    FROM latest WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_upsert(spark, sf_dir):
    """Streaming CDC upsert — the foreachBatch MERGE pattern every
    lakehouse sink runs: the event log streams in 4 time-ranged files
    (one per micro-batch); each batch reduces to its per-user latest row,
    then merges latest-wins into a parquet snapshot, with 'error' events
    acting as DELETE tombstones. Tombstones PERSIST in the snapshot state
    (a filtered-out tombstone would let an older batch's value
    resurrect) and are dropped only in the returned view. Because the
    merge is associative latest-wins on a deterministic (t, event_id)
    order, the final snapshot is independent of batch boundaries — which
    is exactly what makes it hash-verifiable against the batch oracle,
    and what makes the pattern safe under reprocessing/backfill in
    production. The batch-local reduce before the merge keeps per-batch
    state traffic at |users in batch|, not |events|.

    100 TB: swap the parquet overwrite for MERGE INTO on a transactional
    table format; the per-batch shape (reduce -> keyed merge) is
    unchanged, and state size is bounded by live keys, not stream
    length."""
    from pyspark.sql import Window

    src = _table_stream(spark, sf_dir, "events", n_files=4)
    snap = sink_dir(sf_dir, "stream_cdc_upsert_state")
    ckpt = sink_dir(sf_dir, "stream_cdc_upsert_ckpt")
    import shutil

    # fresh state AND checkpoint per invocation: a stale checkpoint would
    # mark the staged files already-consumed and skip every batch
    shutil.rmtree(snap, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("t"), F.desc("event_id")
    )

    def changes(df):
        return df.select(
            "user_id",
            "event_type",
            cents("value").alias("cents"),
            F.unix_micros("ts").alias("t"),
            "event_id",
        )

    # read back with the writer's schema: inferring it is a job per read
    snap_schema = changes(src).schema

    def merge(batch_df, _id):
        b = changes(batch_df)
        latest_b = b.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        ).drop("rn")
        bspark = batch_df.sparkSession
        if os.path.isdir(snap):
            merged = (
                bspark.read.schema(snap_schema)
                .parquet(snap)
                .unionByName(latest_b)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
            # materialize before overwriting the path we just read
            merged = merged.localCheckpoint()
        else:
            merged = latest_b
        merged.write.mode("overwrite").parquet(snap)

    with _stream_partitions(spark):
        q = (
            src.writeStream.foreachBatch(merge)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.schema(snap_schema)
        .parquet(snap)
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("cents").alias("last_cents"),
            F.col("t").alias("last_t"),
        )
    )


@register(
    "stream_topk_per_window",
    oracle="""
    WITH counts AS (
        SELECT date_trunc('hour', ts) AS hour_start, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT hour_start, event_type, n,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY hour_start
                                     ORDER BY n DESC, event_type ASC) AS rnk
        FROM counts
    )
    WHERE rnk <= 3
    """,
)
def stream_topk_per_window(spark, sf_dir):
    """Streaming leaderboard: the top-3 event types of every tumbling hour.
    Structured Streaming cannot rank over its own windowed aggregation
    (no window-function-over-aggregate in a streaming plan), so this is
    the standard two-stage shape: the STREAM maintains the (window, type)
    counts — bounded state under the watermark, exactly stream_tumbling's
    machinery — and the leaderboard rank runs as a bounded BATCH pass over
    the sink table (|windows|·|types| rows, partitioned by window; ties
    break on event_type so the cut is deterministic). This is how
    dashboards actually consume windowed streams: heavy counting in the
    stream, cheap ranking at read time.

    100 TB: stream state is (windows × types) rows regardless of event
    volume; the rank pass partitions by window over the sink — never a
    global sort, never per-event work."""
    s = _table_stream(spark, sf_dir, "events")
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n",
        )
    )
    counts = _parquet_result(spark, agg, "stream_topk_per_window", "complete", sf_dir)
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("hour_start").orderBy(F.col("n").desc(), F.col("event_type").asc())
    )
    return (
        counts.withColumn("rnk", rnk.cast("long")).filter(F.col("rnk") <= 3)
    )


_MINHASH_SIG_ORACLE = f"""
    WITH {minhash_bands_duck(vocab_idx_duck("token"), MINHASH_PERMS, V, len(MINHASH_PERMS))}
    , sig AS (
        SELECT d.lang, b.sig FROM documents d LEFT JOIN bands b USING (doc_id)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)                         AS n_docs,
           CAST(count(DISTINCT sig) AS BIGINT)              AS n_kept,
           CAST(count(*) - count(DISTINCT sig) AS BIGINT)   AS n_dropped,
           CAST(1000 * count(DISTINCT sig) // count(*) AS BIGINT)
               AS kept_permille
    FROM sig GROUP BY lang
"""


@register("stream_dedup_minhash", oracle=_MINHASH_SIG_ORACLE)
def stream_dedup_minhash(spark, sf_dir):
    """Streaming near-dup dedup AT INGEST: every arriving document gets its
    full 8-permutation MinHash signature (the same deterministic
    vocabulary-index arithmetic as dedup_minhash_lsh — one BIGINT packing
    all 8 minhashes, a bijection of the tuple) and `dropDuplicates` on
    (lang, signature) keeps the first arrival of each near-dup class —
    the admission-control form of dedup a 100 TB ingest pipeline runs so
    exact/near duplicate crawl shards never reach storage. WHICH physical
    doc survives is batch-order-dependent, so (the stream_dedup
    discipline) the verified output is the order-independent readout:
    per-lang arrivals vs kept near-dup classes and the keep rate. The
    batch oracle computes the same class count via COUNT(DISTINCT sig).

    100 TB: signature computation is a narrow per-row projection (no
    pre-aggregation, unlike the batch mask build — ingest sees one doc at
    a time); dedup state is one row per KEPT class, partitioned on the
    dedup key — state scales with unique content, not arrivals. In
    unbounded operation the key set is bounded with
    dropDuplicatesWithinWatermark on ingest time (trade: re-admits a
    class after the horizon); this bounded demo keeps exact state."""
    idxs = f"array_distinct(transform(split(text, ' '), t -> {vocab_idx_sql('t')}))"
    (sig,) = band_sigs_sql("_idxs", MINHASH_PERMS, V, len(MINHASH_PERMS))
    s = _table_stream(spark, sf_dir, "documents")
    kept = (
        s.withColumn("_idxs", F.expr(idxs))
        .select("doc_id", "lang", F.expr(sig).alias("sig"))
        .dropDuplicates(["lang", "sig"])
    )
    sink = _parquet_result(spark, kept, "stream_dedup_minhash", "append", sf_dir)
    arrivals = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    kept_counts = sink.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    return (
        arrivals.join(kept_counts, "lang")
        .select(
            "lang",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_dropped"),
            F.expr("CAST(1000 * n_kept div n_docs AS BIGINT)").alias(
                "kept_permille"
            ),
        )
    )


def _ann_ingest_oracle() -> str:
    """stream_ann_ingest's oracle: the base-split Lloyd training of
    sim_ann_append, then frozen-centroid assignment of EVERY vector and
    the per-list ingest dashboard."""
    m = md5_bucket_duck("vec_id", 10)
    return f"""
    WITH {lloyd_duck(split=f"{m} <> 0")}
    , allq AS (
        {milli_rows_duck()}
    ), {centroid_ranks_duck("rA", "allq")}
    , tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM rA WHERE rn = 1
    )
    SELECT cluster AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(d2) AS BIGINT) AS inertia_q,
           CAST(1000 * count(*) // t.n AS BIGINT) AS share_permille
    FROM rA CROSS JOIN tot t WHERE rn = 1 GROUP BY cluster, t.n"""


@register("stream_ann_ingest", oracle=_ann_ingest_oracle())
def stream_ann_ingest(spark, sf_dir):
    """Streaming ANN-index ingest — the vector-store twin of
    stream_dedup_minhash's dedup-at-ingest: the 8-list IVF index trains
    BATCH-side on the ~90% md5-hash BASE split (the shared fixed-
    3-iteration quantized Lloyd of sim_ann_append / sim_kmeans_lloyd /
    plan_ivf_probe_geometry), and every ARRIVING vector is assigned to
    the FROZEN centroids inside the stream itself: the 8x64 integer
    model is baked into the streaming projection as literals (the
    model-distribution path — 8 rows of trained centroids move to the
    plan, data never moves to the driver), and each row takes the
    (d2, cluster) argmin of its 8 quantized squared-L2 distances in one
    transform/zip_with fold (vectors.nearest_sql, the assignment rule of
    the trainer itself). STATELESS streaming inference: no
    watermark, no state store, nothing to recover beyond the sink
    offsets. The verified readout is the ingest dashboard over the
    assignment sink: per-list arrivals, quantized inertia, and integer
    share permille; the oracle replays the identical trajectory
    (base-split training, frozen assignment of all vectors) in CTEs.

    100 TB: this is how a production vector store actually ingests —
    train offline (amortized, sim_ann_append's arm), broadcast the
    frozen coarse quantizer into every ingest executor, assign each
    arriving vector with a narrow per-row projection, append
    (list_id, vec) to the posting-list sink. Per-row cost is k·dim
    integer multiply-adds; state is zero; throughput scales with
    executors, not with index size."""
    e = load_table(spark, sf_dir, "embeddings")
    m = md5_bucket("vec_id", 10)
    base = (
        e.select("vec_id", "label", milli().alias("qarr"), m.alias("m"))
        .filter(F.col("m") != 0)
        .drop("m")
        .localCheckpoint(eager=False)
    )
    # model distribution: the trained 8x64 table becomes plan literals
    model = lloyd_centroids(base)
    s = _table_stream(spark, sf_dir, "embeddings")
    assigned = (
        s.select("vec_id", milli().alias("_q"))
        .select("vec_id", F.expr(model.argmin_sql("_q")).alias("_best"))
        .select(
            "vec_id",
            F.col("_best.c").alias("cluster"),
            F.col("_best.d").alias("d2"),
        )
    )
    sink = _parquet_result(spark, assigned, "stream_ann_ingest", "append", sf_dir)
    tot = sink.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        sink.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum("d2").cast("long").alias("inertia_q"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cluster").cast("long").alias("cluster_id"),
            "n_assigned",
            "inertia_q",
            F.expr("CAST(1000 * n_assigned div n AS BIGINT)").alias(
                "share_permille"
            ),
        )
    )


_QSK_STREAM_K = 512

_QSK_STREAM_ORACLE = f"""
    WITH c AS (
        SELECT o_orderpriority AS pri, o_orderkey AS k,
               {cents_sql('o_totalprice')} AS cents,
               {md5_int_duck("o_orderkey", 12)}
                   AS skey
        FROM orders
    ), samp AS (
        SELECT pri, k, cents,
               row_number() OVER (PARTITION BY pri ORDER BY skey, k) AS rn
        FROM c
    ), sr AS (
        SELECT pri, cents,
               row_number() OVER (PARTITION BY pri ORDER BY cents, k) AS r,
               count(*) OVER (PARTITION BY pri) AS m
        FROM samp WHERE rn <= {_QSK_STREAM_K}
    ), est AS (
        SELECT pri, CAST(max(m) AS BIGINT) AS m,
               min(CASE WHEN 100 * r >= 50 * m THEN cents END) AS p50_cents,
               min(CASE WHEN 100 * r >= 90 * m THEN cents END) AS p90_cents
        FROM sr GROUP BY pri
    ), tot AS (
        SELECT pri, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY pri
    )
    SELECT est.pri AS o_orderpriority, tot.n, est.m,
           est.p50_cents, est.p90_cents
    FROM est JOIN tot ON est.pri = tot.pri
"""


@register("stream_quantile_ingest", oracle=_QSK_STREAM_ORACLE)
def stream_quantile_ingest(spark, sf_dir):
    """Streaming quantile-sketch ingest — the micro-batch twin of
    agg_quantile_sketch_merge, closing the ingest trio next to
    stream_dedup_minhash (dedup-at-ingest) and stream_ann_ingest
    (index-at-ingest): a per-group bottom-k KMV sample plus a running
    count is maintained AS DATA LANDS, so p50/p90 are answerable after
    every micro-batch without ever rescanning history. orders is staged
    into 4 files and streamed with maxFilesPerTrigger=1, so the merge
    really runs across 4 micro-batches; foreachBatch folds each batch
    into versioned state (bottom-k of prev-state ∪ batch, counts
    accumulated), and the readout runs nearest-rank over the final
    sample.

    Hash-oracled DESPITE batching because the bottom-k algebra is
    batch-split independent: bottom_k(bottom_k(A) ∪ B) = bottom_k(A ∪ B),
    so the final state equals the global bottom-k no matter how the
    files were split into batches, and the batch-SQL oracle states the
    global form directly. State versions are immutable parquet dirs (no
    read-then-overwrite-self); the latest version is discovered from the
    manifest at read time, so checkpointed re-runs (bench median-of-3)
    replay nothing and read the settled state — the io.sink_scope
    discipline keeps scales apart.

    100 TB: per-batch work is one narrow projection + a groups×k-bounded
    merge against state that never exceeds groups × (k + 1) rows — state
    scales with GROUPS, not arrivals; the sample-key hash makes the
    retained sample identical to what a batch job over the full corpus
    would keep, which is what makes streaming-vs-batch parity testable
    at all (the lambda-architecture reconciliation property)."""
    stream = _table_stream(spark, sf_dir, "orders", n_files=4, order_col="o_orderkey")

    base = sink_dir(sf_dir, "stream_quantile_ingest")

    def _latest_version(below: int | None = None) -> int:
        """Largest on-disk state version, optionally strictly below a
        batch id: a REPLAYED micro-batch (foreachBatch is at-least-once —
        a crash between the state write and the checkpoint commit replays
        the batch) must read its predecessor's state, never its own
        half-committed version — self-read would both double-count the
        batch and overwrite a path being read from."""
        root = os.path.dirname(base)
        prefix = os.path.basename(base) + "_v"
        if not os.path.isdir(root):
            return -1
        vs = [
            int(d[len(prefix):])
            for d in os.listdir(root)
            if d.startswith(prefix)
            and d[len(prefix):].isdigit()
            # completeness check: only versions holding BOTH halves count
            # (the atomic rename publish makes half versions impossible
            # going forward; this also rejects any stranded pre-fix dir)
            and os.path.isdir(os.path.join(root, d, "sample"))
            and os.path.isdir(os.path.join(root, d, "counts"))
        ]
        if below is not None:
            vs = [v for v in vs if v < below]
        return max(vs, default=-1)

    def keyed(df):
        return df.select(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderkey").alias("k"),
            cents("o_totalprice").alias("cents"),
        ).withColumn(
            "skey",
            md5_int("k", 12),
        )

    # read back with the writers' schemas: inferring is a job per read
    sample_schema, counts_schema = keyed(stream).schema, "pri string, n long"

    def _merge(batch_df, batch_id: int) -> None:
        from pyspark.sql import Window as W

        b = keyed(batch_df)
        bs = batch_df.sparkSession
        prev = _latest_version(below=batch_id)
        if prev >= 0:
            prev_s = bs.read.schema(sample_schema).parquet(f"{base}_v{prev}/sample")
            prev_c = bs.read.schema(counts_schema).parquet(f"{base}_v{prev}/counts")
        else:
            prev_s = b.limit(0)
            prev_c = bs.createDataFrame([], counts_schema)
        rn = F.row_number().over(
            W.partitionBy("pri").orderBy("skey", "k")
        )
        sample = (
            prev_s.unionByName(b)
            .withColumn("_rn", rn)
            .filter(F.col("_rn") <= _QSK_STREAM_K)
            .drop("_rn")
        )
        counts = (
            prev_c.unionByName(
                b.groupBy("pri").agg(F.count(F.lit(1)).cast("long").alias("n"))
            )
            .groupBy("pri")
            .agg(F.sum("n").cast("long").alias("n"))
        )
        # Atomic version commit (ADVICE r12 item 3): the two frames land
        # under a .tmp staging dir and a single os.rename publishes the
        # version — a crash between the sample and counts writes can no
        # longer leave a half version that _latest_version() would pick
        # up. A replayed batch (at-least-once foreachBatch) recomputes the
        # identical deterministic content from prev-state, so an existing
        # published dir is simply replaced.
        out = f"{base}_v{batch_id}"
        tmp = f"{out}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        sample.write.mode("overwrite").parquet(f"{tmp}/sample")
        counts.write.mode("overwrite").parquet(f"{tmp}/counts")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)

    with _stream_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", base + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    final = _latest_version()
    sample = spark.read.schema(sample_schema).parquet(f"{base}_v{final}/sample")
    counts = spark.read.schema(counts_schema).parquet(f"{base}_v{final}/counts")
    from ..operators.aggregates import _nearest_rank_quantiles

    est = _nearest_rank_quantiles(
        sample, ["pri"], "m", "p50_cents", "p90_cents"
    )
    return est.join(counts, "pri").select(
        F.col("pri").alias("o_orderpriority"),
        "n",
        "m",
        "p50_cents",
        "p90_cents",
    )
