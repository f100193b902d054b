"""Batch-equivalence parity for §2.9 streaming ops (bounded availableNow runs)."""

from __future__ import annotations

import pytest

from data_integration_exercise_spark.io import sink_dir, sink_scope, stage_dir
from data_integration_exercise_spark.streaming import streams

from .conftest import SF_SMOKE as SMOKE, events_copy
from .parity import assert_parity, run_rows_only

SF = "/root/testdata/sf0.01"


def _staged_streams(sf_dir):
    """Stream-input stages this process wrote for ``sf_dir``."""
    import glob

    return glob.glob(stage_dir(sf_dir, "*_stream*"))


@pytest.mark.parametrize("key", sorted(streams.ORACLES))
def test_parity(spark, key):
    assert_parity(spark, key)


@pytest.mark.parametrize("key", sorted(set(streams.QUERIES) - set(streams.ORACLES)))
def test_rows_only(spark, key):
    assert run_rows_only(spark, key, SF) > 0


def test_watermark_drops_some_rows(spark):
    """With file-by-file triggers over time-ranged files, the 10-minute
    watermark should emit fewer-or-equal (window, type) rows than the
    no-late-data total — and the run must terminate (no hung trigger)."""
    n_append = streams.QUERIES["stream_watermark_late"](spark, SF).count()
    assert 0 < n_append


def test_stateful_running_state_spans_batches(spark):
    """The update-mode memory sink must hold MULTIPLE cumulative rows for
    at least one user — proof the accumulator carried across micro-batches
    (4 staged files, one per trigger) rather than re-initializing."""
    streams.QUERIES["stream_stateful_running"](spark, SF).collect()
    emitted = spark.table(
        sink_scope(SF, "mem_stream_stateful_running")
    ).toPandas()
    per_user = emitted.groupby("user_id").size()
    assert per_user.max() > 1, per_user.to_dict()
    # cumulative rows are strictly increasing in n_events per user
    for _, g in emitted.groupby("user_id"):
        ns = sorted(g.n_events)
        assert ns == sorted(set(ns)), ns


def test_cdc_upsert_state_is_scoped_per_scale(spark):
    """A stream_cdc_upsert result stays readable after the key runs at
    another scale in the same process: each scale keeps its state under
    its own sink name, so the second run's fresh state cannot delete the
    files the first handle reads."""
    cdc = streams.QUERIES["stream_cdc_upsert"]
    smoke = cdc(spark, SMOKE)
    expected = sorted(smoke.collect())
    cdc(spark, SF)
    assert sorted(smoke.collect()) == expected


def test_live_unbounded_rate_source_semantics(spark):
    """True unbounded-stream check (not availableNow batch-equivalence): a
    rate source runs under a processingTime trigger; the watermark must
    ADVANCE with event time, and append mode must emit only CLOSED windows
    (window.end <= watermark at emission) — the drop/emit rule the staged
    parquet runs can only assert by batch-equivalence."""
    import time as _time

    import pandas as pd
    from pyspark.sql import functions as F

    src = spark.readStream.format("rate").option("rowsPerSecond", 200).load()
    agg = (
        src.withWatermark("timestamp", "2 seconds")
        .groupBy(F.window("timestamp", "1 second"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("ws"),
            F.col("window.end").alias("we"),
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("live_rate_windows")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if (
                q.lastProgress
                and q.lastProgress.get("eventTime", {}).get("watermark", "1970") > "1971"
                and spark.table("live_rate_windows").count() > 0
            ):
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    # Assert only after stop(): reading the memory sink while the query runs
    # races against progress reporting — addBatch makes rows visible BEFORE
    # the batch's progress (and its watermark) is published, so a live read
    # can see windows "ahead of" lastProgress and fail spuriously under
    # full-suite contention.
    out = spark.table("live_rate_windows").toPandas()
    assert len(out) > 0, "no closed windows emitted within deadline"
    wms = [
        pd.Timestamp(p["eventTime"]["watermark"]).tz_localize(None)
        for p in q.recentProgress
        if p.get("eventTime", {}).get("watermark", "1970") > "1971"
    ]
    assert wms, "watermark never advanced"
    # append-mode guarantee: every emitted window closed at/before the
    # watermark that triggered its emission. A progress entry reports the
    # watermark its batch USED, so a final batch interrupted by stop() may
    # have emitted under a watermark one advance beyond max(watermark over
    # recentProgress). But EVERY batch's watermark — including that one — is
    # max(eventTime.max over all COMPLETED prior batches) − the 2 s delay,
    # and those eventTime.max values are all in recentProgress. That bound
    # is race-free and tight: an emit-before-close bug surfaces windows
    # ~3 s ahead of the watermark (delay + open-window span) and fails it.
    et_max = max(
        pd.Timestamp(p["eventTime"]["max"]).tz_localize(None)
        for p in q.recentProgress
        if p.get("eventTime", {}).get("max")
    )
    wm_bound = et_max - pd.Timedelta(seconds=2)
    assert (pd.to_datetime(out.we) <= wm_bound).all(), (out.we.max(), wm_bound)


def test_cdc_upsert_state_spans_batches_and_tombstones_win(spark):
    """The snapshot must reflect per-user latest across ALL 4 micro-batches
    (not just the last file): every user whose final event is an 'error'
    tombstone is absent; every other user carries their true last event."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table

    out = {r.user_id: r for r in streams.QUERIES["stream_cdc_upsert"](spark, SF).collect()}
    e = load_table(spark, SF, "events")
    w_last = (
        e.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts_us"), F.desc("event_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    )
    for r in w_last:
        if r.event_type == "error":
            assert r.user_id not in out
        else:
            got = out[r.user_id]
            assert got.last_type == r.event_type
            assert got.last_t == r.ts_us


def test_stream_topk_per_window_matches_batch_rank(spark):
    """The streaming leaderboard must equal the same rank computed from a
    plain batch groupBy: per-hour top-3 with deterministic tiebreaks,
    ranks dense 1..3, counts non-increasing within each hour."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table
    from data_integration_exercise_spark.streaming import streams

    sf = "/root/testdata/sf0.01"
    got = (
        streams.QUERIES["stream_topk_per_window"](spark, sf)
        .toPandas()
        .sort_values(["hour_start", "rnk"])
        .reset_index(drop=True)
    )
    e = load_table(spark, sf, "events")
    counts = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .toPandas()
    )
    rows = []
    for hs, g in counts.groupby("hour_start"):
        g = g.sort_values(["n", "event_type"], ascending=[False, True]).head(3)
        for i, r in enumerate(g.itertuples(), 1):
            rows.append((hs, r.event_type, r.n, i))
    import pandas as pd

    want = (
        pd.DataFrame(rows, columns=["hour_start", "event_type", "n", "rnk"])
        .sort_values(["hour_start", "rnk"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.event_type.values == want.event_type.values).all()
    assert (got.n.values == want.n.values).all()
    assert (got.rnk.values == want.rnk.values).all()


def test_stream_dedup_minhash_agrees_with_batch_signatures(spark):
    """The streaming kept-class count must equal a batch count of distinct
    full MinHash signatures computed through the BATCH mask machinery (the
    batch keys pack per band with sets.band_sigs_sql; here the full 8-perm
    signature is re-derived independently from the sets.doc_masks bits) —
    ties the streaming ingest path to the batch dedup family, and pins
    n_kept <= n_docs with exact complement accounting."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.functions.sets import (
        MINHASH_PERMS,
        V,
        doc_masks,
    )

    got = {
        r.lang: r
        for r in streams.QUERIES["stream_dedup_minhash"](spark, SF).collect()
    }
    set_idx = "filter(sequence(1, 31), i -> (shiftright(mask, i - 1) & 1) = 1)"
    terms = " + ".join(
        f"array_min(transform(_idxs, i -> CAST(({a} * i + {b}) % {V} AS BIGINT)))"
        f" * {V ** p}L"
        for p, (a, b) in enumerate(MINHASH_PERMS)
    )
    batch = (
        doc_masks(spark, SF)
        .withColumn("_idxs", F.expr(set_idx))
        .select("lang", F.expr(f"CAST({terms} AS BIGINT)").alias("sig"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("sig").alias("n_classes"),
        )
        .collect()
    )
    assert got, "no output rows"
    for b in batch:
        g = got[b.lang]
        assert g.n_docs == b.n_docs
        assert g.n_kept == b.n_classes
        assert g.n_dropped == g.n_docs - g.n_kept
        assert 0 < g.n_kept <= g.n_docs


def test_stream_ann_ingest_reconciles_with_batch_append(spark):
    """The streaming ingest and the batch append arm share one trajectory:
    both train on the ~90% md5 BASE split and assign against the frozen
    final centroids. Per list, the stream's arrivals must therefore equal
    sim_ann_append's n_base + n_new exactly, and shares must sum to ~1000
    (integer-floor slack below |lists|)."""
    from data_integration_exercise_spark.operators import curation

    got = {
        r.cluster_id: (r.n_assigned, r.share_permille)
        for r in streams.QUERIES["stream_ann_ingest"](spark, SF).collect()
    }
    batch = {
        r.cluster_id: r.n_base + r.n_new
        for r in curation.QUERIES["sim_ann_append"](spark, SF).collect()
    }
    assert {c: n for c, (n, _) in got.items()} == batch
    share_sum = sum(s for _, s in got.values())
    assert 1000 - len(got) < share_sum <= 1000


def test_stream_quantile_ingest_merges_across_batches(spark):
    """The sketch-at-ingest contract: (a) the run really crosses
    micro-batches — the 4-file staging with maxFilesPerTrigger=1 must
    leave >= 2 immutable state versions on disk; (b) the final state is
    batch-split independent — per-group m = min(n, 512) exactly, and the
    p50/p90 read-outs sit inside the group's true value envelope
    (p50 <= p90); (c) counts reconcile with the batch arrivals."""
    import os

    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table

    rows = streams.QUERIES["stream_quantile_ingest"](spark, SF).collect()
    assert len(rows) == 5
    truth = {
        r["o_orderpriority"]: r["n"]
        for r in load_table(spark, SF, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n == truth[r.o_orderpriority]
        assert r.m == min(r.n, 512)
        assert r.p50_cents <= r.p90_cents

    base = sink_dir(SF, "stream_quantile_ingest")
    root, prefix = os.path.dirname(base), os.path.basename(base) + "_v"
    versions = [d for d in os.listdir(root) if d.startswith(prefix)]
    assert len(versions) >= 2, (
        f"expected multi-batch state history, found {versions}"
    )


@pytest.mark.parametrize("layout", ["spark_dir", "ns_file"])
def test_in_place_source_layouts(spark, tmp_path, layout):
    """A single-batch stream reads its table in place in every input
    layout and gets the rows the testdata's single µs file gives: a
    Spark-written table directory (the sf1 replica's layout) and a
    timestamp[ns] single file (the rounds-1-3 driver layout, canonicalized
    on the stream by the same projection as batch reads). Neither writes a
    staged copy."""
    copy = events_copy(spark, tmp_path, layout)
    fn = streams.QUERIES["stream_tumbling"]
    want = sorted(fn(spark, SMOKE).collect())
    got = sorted(fn(spark, copy).collect())
    assert want and got == want
    assert _staged_streams(copy) == []


def test_single_batch_keys_stage_nothing(spark, tmp_path):
    """On a fresh input path, single-batch stream keys over events and over
    documents leave no staged ``*_stream*`` copy behind."""
    import os

    alias = tmp_path / "sf0.001"
    os.symlink(SMOKE, alias)
    for key in ("stream_tumbling", "stream_dedup_minhash"):
        assert streams.QUERIES[key](spark, str(alias)).collect()
    assert _staged_streams(str(alias)) == []


@pytest.mark.parametrize("key", ["stream_tumbling", "stream_session"])
def test_output_independent_of_state_partitions(spark, monkeypatch, key):
    """The state-store partition count follows the core count
    (_state_partitions); the rows must not: one partition and eight give
    the same result."""
    results = {}
    for n in ("1", "8"):
        calls = []

        def fixed(_spark, n=n, calls=calls):
            calls.append(n)
            return n

        monkeypatch.setattr(streams, "_state_partitions", fixed)
        results[n] = sorted(streams.QUERIES[key](spark, SF).collect())
        assert calls, "the derived partition count was never consulted"
    assert results["1"] and results["1"] == results["8"]


_PARTS = "spark.sql.shuffle.partitions"
_CKPT = "spark.sql.streaming.checkpointFileManagerClass"


def test_stream_context_scopes_its_confs(spark):
    """_stream_partitions sets the state-partition count and the checkpoint
    manager only while the stream runs: on exit, normal or by an
    exception, the partition count is back and the manager conf is unset
    again (or back to a value set before)."""
    parts = spark.conf.get(_PARTS)
    assert spark.conf.get(_CKPT, None) is None
    with streams._stream_partitions(spark):
        assert spark.conf.get(_PARTS) == streams._state_partitions(spark)
        assert spark.conf.get(_CKPT) == streams._CHECKPOINT_FILE_MANAGER
    assert (spark.conf.get(_PARTS), spark.conf.get(_CKPT, None)) == (parts, None)

    with pytest.raises(RuntimeError, match="body"):
        with streams._stream_partitions(spark):
            raise RuntimeError("body")
    assert (spark.conf.get(_PARTS), spark.conf.get(_CKPT, None)) == (parts, None)

    default = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    spark.conf.set(_CKPT, default)
    try:
        with streams._stream_partitions(spark):
            assert spark.conf.get(_CKPT) == streams._CHECKPOINT_FILE_MANAGER
        assert spark.conf.get(_CKPT) == default
    finally:
        spark.conf.unset(_CKPT)


def test_stream_key_matches_oracle_under_pinned_checkpoint_manager(spark):
    """A stream key whose offset log, commit log and state store commit
    through the pinned manager still returns its oracle's rows, and leaves
    the manager conf unset."""
    assert_parity(spark, "stream_tumbling", SMOKE)
    assert spark.conf.get(_CKPT, None) is None
