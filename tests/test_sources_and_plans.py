"""Oracle parity for §2.1 connectors + physical-plan property checks (§4)."""

from __future__ import annotations

import pytest

from data_integration_exercise_spark.io import stage_dir
from data_integration_exercise_spark.operators import joins
from data_integration_exercise_spark.plans import inspect
from data_integration_exercise_spark.sources import connectors

from .conftest import events_copy
from .parity import assert_parity

SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize("key", sorted(connectors.ORACLES))
def test_parity(spark, key):
    assert_parity(spark, key)


def test_projection_pushdown_plan(spark):
    """The scan must prune to 2 columns and push the quantity filter."""
    df = connectors.QUERIES["scan_projection_pushdown"](spark, SF)
    cols = inspect.read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols
    assert inspect.has_pushed_filter(df, "GreaterThan(l_quantity,40.0)")


def test_flagship_pushdown_plan(spark):
    """Flagship Q1: shipdate filter pushed, schema pruned to used columns."""
    from data_integration_exercise_spark.operators import aggregates

    df = aggregates.QUERIES["agg_pricing_summary"](spark, SF)
    plan = inspect.formatted_plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    cols = set(inspect.read_schema_columns(df))
    assert "l_orderkey" not in cols  # unused column must not be read


def test_broadcast_dim_plan(spark):
    """join_broadcast_dim must plan as BroadcastHashJoin (no fact shuffle)."""
    df = joins.QUERIES["join_broadcast_dim"](spark, SF)
    assert inspect.uses_broadcast_join(df)


def test_bucketed_join_has_no_shuffle(spark):
    """With broadcast disabled, the bucketed-table join must still plan
    without an Exchange on either side — the bucket spec supplies the
    hash partitioning that a shuffle would otherwise create."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        connectors.QUERIES["sink_bucketed"](spark, SF)  # stage the tables
        li_name, ord_name = connectors.bucketed_table_names(SF)
        li_b = spark.table(li_name)
        o_b = spark.table(ord_name)
        joined = li_b.join(o_b, li_b.l_orderkey == o_b.o_orderkey)
        plan = inspect.formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_dynamic_partition_pruning_plan(spark):
    """The partitioned-scan ⋈ filtered-dim join must inject a runtime
    dynamicpruning expression into the scan's PartitionFilters."""
    df = connectors.QUERIES["scan_dynamic_pruning"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]


def test_cbo_stats_drive_planning(spark):
    """plan_cbo_stats must leave the optimizer with real rowCount statistics
    on the analyzed catalog tables (the CBO input), and the query itself
    must plan with cbo enabled."""
    df = connectors.QUERIES["plan_cbo_stats"](spark, SF)
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"
    tbl = connectors.cbo_table_name(SF, "orders")
    stats = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").toPandas()
    stat_row = stats[stats.col_name == "Statistics"]
    assert not stat_row.empty and "rows" in stat_row.data_type.iloc[0], stats
    # optimized plan of the query carries a defined rowCount (stats flowed)
    row_count = (
        df._jdf.queryExecution().optimizedPlan().stats().rowCount()
    )
    assert row_count.isDefined()


def test_compaction_reduces_file_count(spark):
    """sink_compacted must leave the compacted copy with far fewer parquet
    files than the fragmented input while preserving content (content parity
    is the oracle's job; the file-count drop is the compaction's point)."""
    import glob
    import os

    connectors.QUERIES["sink_compacted"](spark, SF).collect()
    frag = stage_dir(SF, "sink_compacted_fragmented")
    comp = stage_dir(SF, "sink_compacted")
    n_frag = len(glob.glob(os.path.join(frag, "*.parquet")))
    n_comp = len(glob.glob(os.path.join(comp, "*.parquet")))
    assert n_frag >= 32 and n_comp <= 8, (n_frag, n_comp)


def test_manifest_atomic_commit_hides_orphans_and_shares_files(spark):
    """sink_manifest_atomic's commit protocol, checked at the file level:
    the orphan batch's parquet files ARE physically present in the shared
    data/ directory (so a directory-listing reader WOULD see them — the
    raw-dir read proves it by returning more rows), yet the manifest read
    excludes them; the live pointer is v2; v2's manifest reuses every v1
    file (append = shared immutable files); no temp files survive the
    rename-commit."""
    import json
    import os

    connectors.QUERIES["sink_manifest_atomic"](spark, SF).collect()
    root = stage_dir(SF, "sink_manifest_atomic")
    data_files = os.listdir(os.path.join(root, "data"))
    assert any(f.startswith("orphan-") for f in data_files)
    assert open(os.path.join(root, "_current")).read().strip() == "v2"
    man = {
        v: json.load(open(os.path.join(root, "_manifests", f"{v}.json")))
        for v in ("v1", "v2")
    }
    assert set(man["v1"]["files"]) <= set(man["v2"]["files"])
    for v in man:
        for p in man[v]["files"]:
            assert os.path.exists(os.path.join(root, p)), (v, p)
            assert not os.path.basename(p).startswith("orphan-"), (v, p)
    assert not [f for f in os.listdir(root) if f.endswith(".tmp")]
    committed = spark.read.parquet(
        *[os.path.join(root, p) for p in man["v2"]["files"]]
    ).count()
    raw_dir = spark.read.parquet(os.path.join(root, "data")).count()
    assert raw_dir > committed  # the orphan rows a listing-based reader would leak


def test_manifest_expire_removes_only_unreachable_files(spark):
    """sink_manifest_expire's GC, checked at the file level on the run
    directory it just staged: after expiry the data dir holds exactly the
    live manifest's files (orphans gone, every v1 file retained because v2
    references it), v1's manifest is deleted so time travel to it fails,
    and the live read-through still works."""
    import json
    import os

    connectors.QUERIES["sink_manifest_expire"](spark, SF).collect()
    base = stage_dir(SF, "sink_manifest_expire")
    run = max(os.listdir(base))  # latest runN
    root = os.path.join(base, run)
    assert os.listdir(os.path.join(root, "_manifests")) == ["v2.json"]
    man = json.load(open(os.path.join(root, "_manifests", "v2.json")))
    on_disk = {os.path.join("data", f) for f in os.listdir(os.path.join(root, "data"))}
    assert on_disk == set(man["files"])
    assert not any(os.path.basename(p).startswith("orphan-") for p in on_disk)
    assert any(os.path.basename(p).startswith("batch1-") for p in on_disk)
    n = spark.read.parquet(*[os.path.join(root, p) for p in man["files"]]).count()
    assert n > 0


def test_jsonl_shards_are_capped_and_keyrange_disjoint(spark):
    """sink_jsonl_shards must honor maxRecordsPerFile (no shard exceeds the
    4096-record cap) and the range partitioning (shards from different
    partitions cover disjoint doc_id ranges, so a manifest over them is
    meaningful)."""
    import glob
    import json
    import os

    connectors.QUERIES["sink_jsonl_shards"](spark, SF).collect()
    files = sorted(
        glob.glob(os.path.join(stage_dir(SF, "sink_jsonl_shards"), "*.json"))
    )
    assert files, "no JSONL shards written"
    part_ranges = {}
    for f in files:
        with open(f) as fh:
            ids = [json.loads(line)["doc_id"] for line in fh if line.strip()]
        assert len(ids) <= 4096, (f, len(ids))
        part = os.path.basename(f).split("-")[1]  # part-NNNNN-uuid.json
        lo, hi = part_ranges.get(part, (min(ids), max(ids)))
        part_ranges[part] = (min(lo, min(ids)), max(hi, max(ids)))
    spans = sorted(part_ranges.values())
    for (_, prev_hi), (next_lo, _) in zip(spans, spans[1:]):
        assert prev_hi < next_lo, spans


def test_clustered_sink_files_prune(spark):
    """sink_clustered must produce files whose shipdate spans are narrow
    enough that the January-1997 predicate touches at most 2 of them —
    that file-footer min/max disjointness IS the data-skipping claim."""
    import datetime
    import glob
    import os

    import pyarrow.parquet as pq

    connectors.QUERIES["sink_clustered"](spark, SF).collect()
    files = glob.glob(
        os.path.join(stage_dir(SF, "sink_clustered"), "*.parquet")
    )
    assert len(files) >= 6, files
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        ci = names.index("l_shipdate")
        stats = [
            md.row_group(rg).column(ci).statistics
            for rg in range(md.num_row_groups)
        ]
        spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    lo, hi = datetime.datetime(1997, 1, 1), datetime.datetime(1997, 2, 1)
    touching = [s for s in spans if s[0] < hi and s[1] >= lo]
    assert len(touching) <= 2, spans


def test_runtime_bloom_filter_in_plan(spark):
    """With broadcast off and the scan threshold lowered, the urgent-orders
    join must carry a runtime bloom filter on the fact scan."""
    from pyspark.sql import functions as F
    from data_integration_exercise_spark.io import load_table

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_th = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1B",
    )
    try:
        o = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_th,
        )


def test_exchange_reuse_plan(spark):
    """plan_exchange_reuse's two consumers of the per-customer rollup must
    share one shuffle: the executed plan carries a ReusedExchange node."""
    from data_integration_exercise_spark.sources.connectors import QUERIES

    df = QUERIES["plan_exchange_reuse"](spark, SF)
    assert len(df.collect()) > 0  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan[:2000]


def test_interval_overlap_checkpoint_prevents_double_fact_scan(spark):
    """The span rollup is localCheckpointed before the self-join, so the
    final plan must read the checkpointed RDD and contain NO parquet scan
    of lineitem (a refactor dropping the checkpoint would re-execute the
    orders-by-lineitem aggregate on both join sides)."""
    from data_integration_exercise_spark.operators import joins

    df = joins.QUERIES["join_interval_overlap"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "span checkpoint dropped: fact rescan is back"
    assert "ExistingRDD" in plan or "LocalTableScan" in plan


def test_heavy_hitters_candidates_are_broadcast(spark):
    """The exact-recount pass must join the token stream against the tiny
    MG candidate set via broadcast — a shuffle join here would defeat the
    bounded-memory design."""
    from data_integration_exercise_spark.operators import aggregates

    df = aggregates.QUERIES["agg_heavy_hitters"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def _scan_output_rows(df) -> int:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()

    def walk(node):
        rows = []
        if node.nodeName().startswith("Scan"):
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    rows.append(kv._2().value())
        for i in range(node.children().length()):
            rows += walk(node.children().apply(i))
        return rows

    return sum(walk(plan))


def test_zorder_layout_prunes_rowgroups_in_both_dimensions(spark):
    """A partkey-range predicate over the z-ordered copy must scan a small
    fraction of the table (row-group stats pruning), while the SAME
    predicate over a date-clustered copy scans everything — the
    measurable claim behind sink_zorder's docstring."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table
    from data_integration_exercise_spark.sources import connectors

    sf = "/root/testdata/sf0.01"
    # materialize the z-ordered copy via the operator itself
    connectors.QUERIES["sink_zorder"](spark, sf).collect()
    zpath = stage_dir(sf, "sink_zorder")
    li = load_table(spark, sf, "lineitem")
    total = li.count()
    pred = (F.col("l_partkey") >= 100) & (F.col("l_partkey") < 150)
    z_rows = _scan_output_rows(spark.read.parquet(zpath).filter(pred))
    # 1-D date-clustered copy (the sink_clustered layout)
    dpath = stage_dir(sf, "zorder_test_bydate")
    li.repartitionByRange(8, "l_shipdate").sortWithinPartitions(
        "l_shipdate"
    ).write.mode("overwrite").parquet(dpath)
    d_rows = _scan_output_rows(spark.read.parquet(dpath).filter(pred))
    assert d_rows == total, "date layout unexpectedly pruned a partkey filter"
    assert z_rows <= total // 2, (z_rows, total)
    assert z_rows < d_rows


def test_manifest_pruning_skips_files_at_planning_time(spark):
    """The manifest-planned read must touch a strict subset of the 16
    staged files (numFiles metric) and still return the exact answer of
    an all-files read."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.sources import connectors

    sf = "/root/testdata/sf0.01"
    df = connectors.QUERIES["scan_manifest_pruned"](spark, sf)
    got = {tuple(r) for r in df.collect()}
    nf = len(df.inputFiles())
    assert 0 < nf < 16, f"manifest pruning read {nf} files"
    data = stage_dir(sf, "scan_manifest") + "/data"
    lo = F.lit("1997-03-01").cast("timestamp_ntz")
    hi = F.lit("1997-06-01").cast("timestamp_ntz")
    want = {
        tuple(r)
        for r in spark.read.parquet(data)
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
        .collect()
    }
    assert got == want


def test_time_travel_versions_are_isolated(spark):
    """v1 must stay byte-identical after v2 exists (immutability), v2 must
    differ by exactly the deleted keys, and the two fingerprints must
    differ."""
    from data_integration_exercise_spark.sources import connectors

    sf = "/root/testdata/sf0.01"
    first = (
        connectors.QUERIES["scan_time_travel"](spark, sf)
        .toPandas()
        .set_index("version")
    )
    again = (
        connectors.QUERIES["scan_time_travel"](spark, sf)
        .toPandas()
        .set_index("version")
    )
    assert first.equals(again)  # re-resolving a version is stable
    import duckdb

    con = duckdb.connect()
    deleted = con.execute(
        f"SELECT count(*) FROM read_parquet('{sf}/orders.parquet') "
        "WHERE o_orderkey % 13 = 0"
    ).fetchone()[0]
    con.close()
    assert first.loc[1, "n_rows"] - first.loc[2, "n_rows"] == deleted
    assert first.loc[1, "fingerprint"] != first.loc[2, "fingerprint"]


def test_wap_publish_report_green_and_rerun_stable(spark):
    """A clean stage must publish (all checks pass, published_rows > 0) and
    re-running must re-read the already-published table unchanged."""
    from data_integration_exercise_spark.sources import connectors

    sf = "/root/testdata/sf0.01"
    r1 = connectors.QUERIES["sink_wap_publish"](spark, sf).toPandas()
    r2 = connectors.QUERIES["sink_wap_publish"](spark, sf).toPandas()
    assert r1.passed.all()
    assert set(r1.check_name) == {
        "row_count",
        "dup_pk",
        "null_pk",
        "min_price_cents_pos",
        "published_rows",
    }
    assert r1.sort_values("check_name").reset_index(drop=True).equals(
        r2.sort_values("check_name").reset_index(drop=True)
    )


def test_partition_evolution_prunes_each_layout(spark):
    """Both physical layouts must prune at their own granularity: the
    month layout to its ym partitions, the evolved layout to its wk
    partitions (the predicate spans 1997-03-15..04-20)."""
    from data_integration_exercise_spark.sources import connectors

    df = connectors.QUERIES["scan_partition_evolution"](
        spark, "/root/testdata/sf0.01"
    )
    df.collect()  # ensure staged
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # two scans; partition filters must appear on ym and day
    assert "ym" in plan and "wk" in plan
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan):
        assert m.group(1).strip(), "scan with empty partition filters"


def _new_jobs(spark, call) -> set[int]:
    """Ids of the Spark jobs ``call()`` launched, from statusTracker once
    the listener bus has delivered every event."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    call()
    bus.waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup()) - before


@pytest.mark.parametrize(
    "layout", ["sf0.001", "sf0.01", "sf0.1", "spark_dir", "ns_file"]
)
def test_events_read_pins_inferred_schema_without_a_job(spark, tmp_path, layout):
    """read_raw's events schema is the one Spark infers from the footer,
    but picked without the Spark job that inference runs."""
    from data_integration_exercise_spark.io import read_raw

    sf_dir = events_copy(spark, tmp_path, layout)
    frames = []
    assert _new_jobs(spark, lambda: frames.append(read_raw(spark, sf_dir, "events"))) == set()
    assert _new_jobs(
        spark, lambda: frames.append(spark.read.parquet(f"{sf_dir}/events.parquet"))
    ), "schema inference ran no job: the no-job check above shows nothing"
    pinned, inferred = frames
    assert pinned.schema == inferred.schema
    assert pinned.count() == inferred.count() > 0


@pytest.mark.parametrize("layout", ["us_utc_file", "spark_int96"])
def test_events_read_refuses_unsupported_ts(spark, tmp_path, layout):
    """A ``ts`` type no pinned raw schema describes (UTC-adjusted µs,
    Spark's INT96) raises the named error instead of reading with a wrong
    schema."""
    from data_integration_exercise_spark.io import EventsLayoutError, read_raw

    sf_dir = events_copy(spark, tmp_path, layout)
    with pytest.raises(EventsLayoutError, match="events.ts"):
        read_raw(spark, sf_dir, "events")
