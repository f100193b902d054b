"""ETL lifecycle operators: CDC upsert, SCD2 history, data profiling.

Reference parity: the pandas exercise's whole purpose is integrating
snapshots of heterogeneous sources into one clean table (SURVEY §0/§3.1) —
these operators are that lifecycle expressed as distributed, deterministic
Spark plans: merge-latest-wins upserts, slowly-changing-dimension interval
construction, and the column-profiling QA pass every integration job runs
before trusting its inputs.

Scale posture: upsert is one window over the key partitioning (at 100 TB:
identical shape, or delegate to a MERGE-capable table format — the plan
below IS the merge kernel those formats run); SCD2 is two windows over the
same partitioning (one shuffle total); profiling is a single all-column
aggregation pass unpivoted with ``stack`` (never one scan per column).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import (
    cents,
    cents_sql,
    hex_int_duck,
    hex_int_sql,
    md5_bucket,
    md5_bucket_duck,
    md5_hex,
    md5_hex_duck,
    md5_int_duck,
    md5_int_py,
    md5_int_sql,
)
from ..io import load_table, stage_dir, stage_once
from ..registry_util import new_registry
from ..sources.connectors import (
    _TT_FP_DUCK,
    _TT_ROW_EXPR,
    _TT_VERSIONS_DUCK,
    _tt_versions,
)

QUERIES, ORACLES, register = new_registry()


@register(
    "etl_upsert_latest",
    oracle="""
    WITH base AS (
        SELECT c_custkey, c_acctbal, c_mktsegment, 1 AS version FROM customer
    ), updates AS (
        SELECT c_custkey, round(c_acctbal + 100.0, 2) AS c_acctbal,
               c_mktsegment, 2 AS version
        FROM customer WHERE c_custkey % 3 = 0
    ), merged AS (
        SELECT *, row_number() OVER (
            PARTITION BY c_custkey ORDER BY version DESC
        ) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
    )
    SELECT c_custkey, c_acctbal, c_mktsegment, CAST(version AS BIGINT) AS version
    FROM merged WHERE rn = 1
    """,
)
def etl_upsert_latest(spark, sf_dir):
    """CDC merge, latest-version-wins: a base snapshot unioned with an
    update batch (every third customer's balance +100), deduplicated to the
    highest version per key via one window. This is the upsert kernel —
    union + row_number over the key — that MERGE INTO compiles to; the only
    shuffle is on the merge key."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey", "c_acctbal", "c_mktsegment", F.lit(1).alias("version")
    )
    updates = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        "c_mktsegment",
        F.lit(2).alias("version"),
    )
    w = Window.partitionBy("c_custkey").orderBy(F.col("version").desc())
    return (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey", "c_acctbal", "c_mktsegment", F.col("version").cast("long").alias("version")
        )
    )


@register(
    "etl_scd2_intervals",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_status
        FROM orders
    ), changes AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey FROM seq
        WHERE prev_status IS NULL OR prev_status <> o_orderstatus
    )
    SELECT o_custkey, o_orderstatus, o_orderdate AS effective_from,
           lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS effective_to,
           (lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL) AS is_current
    FROM changes
    """,
)
def etl_scd2_intervals(spark, sf_dir):
    """SCD type-2 history build: treat each customer's order stream as a
    changing 'status' attribute; keep only change rows (status differs from
    the previous observation), then stitch validity intervals with lead()
    — effective_to is the next change's date, NULL marks the open/current
    row. Both windows share one (custkey)-partitioned sort, so the whole
    history builds in a single shuffle. Deterministic tiebreak via
    (o_orderdate, o_orderkey)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
        .select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    eff_to = F.lead("o_orderdate").over(w2)
    return changes.select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("effective_from"),
        eff_to.alias("effective_to"),
        eff_to.isNull().alias("is_current"),
    )


@register(
    "etl_data_profile",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) AS n_rows,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_num,
           CAST(max(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*),
           CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           round(min(o_totalprice), 4), round(max(o_totalprice), 4),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           NULL, NULL, min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_status_nullable', count(*),
           CAST(count(*) - count(nullif(o_orderstatus, 'O')) AS BIGINT),
           CAST(count(DISTINCT nullif(o_orderstatus, 'O')) AS BIGINT),
           NULL, NULL,
           min(nullif(o_orderstatus, 'O')), max(nullif(o_orderstatus, 'O'))
    FROM orders
    """,
)
def etl_data_profile(spark, sf_dir):
    """Column-profiling QA pass (row counts, null counts, distinct counts,
    min/max) for a representative column set, computed in ONE aggregation
    scan and unpivoted to long form with ``stack`` — the idiomatic Spark
    shape for profiling N columns without N table scans. Numeric min/max
    surface as doubles, string min/max as strings (never stringify floats:
    engine float-formatting differs). The nullable pseudo-column proves the
    null accounting against injected nulls."""
    o = load_table(spark, sf_dir, "orders")
    nullable = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    a = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # o_orderkey
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("nn_ok"),
        F.countDistinct("o_orderkey").alias("nd_ok"),
        F.min("o_orderkey").cast("double").alias("mn_ok"),
        F.max("o_orderkey").cast("double").alias("mx_ok"),
        # o_custkey
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("nn_ck"),
        F.countDistinct("o_custkey").alias("nd_ck"),
        F.min("o_custkey").cast("double").alias("mn_ck"),
        F.max("o_custkey").cast("double").alias("mx_ck"),
        # o_totalprice
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("nn_tp"),
        F.countDistinct("o_totalprice").alias("nd_tp"),
        F.round(F.min("o_totalprice"), 4).alias("mn_tp"),
        F.round(F.max("o_totalprice"), 4).alias("mx_tp"),
        # o_orderstatus
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("nn_os"),
        F.countDistinct("o_orderstatus").alias("nd_os"),
        F.min("o_orderstatus").alias("mn_os"),
        F.max("o_orderstatus").alias("mx_os"),
        # injected-null pseudo-column
        F.sum(nullable.isNull().cast("long")).alias("nn_nl"),
        F.countDistinct(nullable).alias("nd_nl"),
        F.min(nullable).alias("mn_nl"),
        F.max(nullable).alias("mx_nl"),
    )
    return a.selectExpr(
        """stack(5,
           'o_orderkey',       n_rows, nn_ok, nd_ok, mn_ok, mx_ok,
               CAST(NULL AS STRING), CAST(NULL AS STRING),
           'o_custkey',        n_rows, nn_ck, nd_ck, mn_ck, mx_ck,
               CAST(NULL AS STRING), CAST(NULL AS STRING),
           'o_totalprice',     n_rows, nn_tp, nd_tp, mn_tp, mx_tp,
               CAST(NULL AS STRING), CAST(NULL AS STRING),
           'o_orderstatus',    n_rows, nn_os, nd_os,
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_os, mx_os,
           'o_status_nullable', n_rows, nn_nl, nd_nl,
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_nl, mx_nl
        ) AS (col, n_rows, n_null, n_distinct, min_num, max_num, min_str, max_str)"""
    )


@register(
    "diag_skew_keys",
    oracle="""
    WITH freq AS (
        SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey
    ), stats AS (
        SELECT avg(cnt) AS avg_cnt, CAST(count(*) AS BIGINT) AS n_keys FROM freq
    )
    SELECT f.key, CAST(f.cnt AS BIGINT) AS cnt, s.n_keys,
           round(f.cnt / s.avg_cnt, 4) AS skew_ratio
    FROM freq f CROSS JOIN stats s
    ORDER BY f.cnt DESC, f.key ASC
    LIMIT 10
    """,
)
def diag_skew_keys(spark, sf_dir):
    """Join-key skew diagnostic: top-10 heaviest o_custkey values with
    their frequency ratio vs the mean key — the report that decides whether
    a downstream join needs salting (operators/joins.py join_skew_salted)
    or AQE skew splitting. Two aggregations (key counts, then a 1-row
    global) + a broadcast of the 1-row stats; the top-k is a TakeOrdered,
    never a full sort. avg = exact-int total / exact-int count, so the
    ratio is bit-identical across engines before rounding."""
    o = load_table(spark, sf_dir, "orders")
    freq = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = freq.agg(
        F.avg("cnt").alias("avg_cnt"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        freq.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "cnt",
            "n_keys",
            F.round(F.col("cnt") / F.col("avg_cnt"), 4).alias("skew_ratio"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(10)
    )


@register(
    "etl_calendar_spine",
    oracle="""
    WITH spine AS (
        SELECT unnest(generate_series(TIMESTAMP '1995-01-01 00:00:00',
                                      TIMESTAMP '2001-12-01 00:00:00',
                                      INTERVAL 1 MONTH)) AS month_start
    ), monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS revenue
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY 1
    )
    SELECT CAST(s.month_start AS TIMESTAMP) AS month_start,
           CAST(coalesce(m.n_orders, 0) AS BIGINT) AS n_orders,
           coalesce(m.revenue, 0.0) AS revenue
    FROM spine s LEFT JOIN monthly m ON m.m = s.month_start
    """,
)
def etl_calendar_spine(spark, sf_dir):
    """Calendar-spine densification: a generated month series (``sequence``
    + explode — no source table needed) LEFT-joined to sparse monthly
    aggregates so empty months surface as explicit zero rows — the dense
    time axis every reporting/forecast consumer expects. The spine is a
    literal-range broadcast (84 rows); the fact side is one grouped
    shuffle. Month keys stay timestamp_ntz on both engines."""
    o = load_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("2001-12-01 00:00:00").cast("timestamp_ntz"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_start")
    )
    monthly = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("timestamp_ntz").alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )
    return spine.join(monthly, spine.month_start == monthly.m, "left").select(
        "month_start",
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


@register(
    "etl_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
                ELSE o_orderstatus END   AS status,
           CAST(count(*) AS BIGINT)      AS n,
           round(sum(o_totalprice), 4)   AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def etl_schema_evolution(spark, sf_dir):
    """Schema evolution across parquet generations: generation 1 was written
    before `o_orderstatus` existed (even order keys, 3 columns); generation
    2 carries the new column. A single `mergeSchema=true` read unions both
    layouts, null-filling the missing column for old files — exactly how a
    long-lived 100 TB lake absorbs schema additions without rewriting
    history. The report groups by the evolved column with nulls folded to a
    sentinel, and the oracle reconstructs the same split from the source
    table, proving no rows or values were lost across the generation
    boundary. At scale, keep mergeSchema OFF for steady-state reads (footer
    merging costs a file-listing pass) and declare the superset schema
    explicitly — the null-filling behavior is the same; the demo turns it
    on to prove the union semantics."""
    base = stage_dir(sf_dir, "etl_schema_evolution")

    def write():
        o = load_table(spark, sf_dir, "orders")
        gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        gen2 = o.filter(F.col("o_orderkey") % 2 != 0).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        gen1.write.mode("overwrite").parquet(base + "/gen=1")
        gen2.write.mode("overwrite").parquet(base + "/gen=2")

    stage_once(base, write)
    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/gen=1", base + "/gen=2"
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderstatus"), F.lit("<pre-schema>")).alias("status")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


@register(
    "etl_snapshot_diff",
    oracle="""
    WITH a AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 23 <> 0
    ), b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 23 = 2 THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 23 <> 1
    )
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           a.o_totalprice AS old_totalprice,
           b.o_totalprice AS new_totalprice
    FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice <> b.o_totalprice
    """,
)
def etl_snapshot_diff(spark, sf_dir):
    """Snapshot diff — the change-data report between two table versions:
    rows only in the new snapshot are 'added', rows only in the old are
    'removed', rows whose payload differs are 'changed'; unchanged rows are
    filtered out. Snapshots are derived deterministically from orders
    (key ≡ 0 mod 23 absent from A, ≡ 1 absent from B, ≡ 2 repriced in B)
    so both engines diff identical inputs. The +100.0 perturbation is exact
    in doubles, so 'changed' detection is bit-exact.

    100 TB: one co-partitioned FULL OUTER JOIN on the primary key — both
    sides shuffle once on the same key (or zero times if the snapshots are
    bucketed on it, the sink_bucketed path); the unchanged-row filter
    drops the overwhelming majority before any downstream consumer."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    a = o.filter(F.col("o_orderkey") % 23 != 0).select(
        F.col("o_orderkey").alias("a_key"), F.col("o_totalprice").alias("old_totalprice")
    )
    b = (
        o.filter(F.col("o_orderkey") % 23 != 1)
        .select(
            F.col("o_orderkey").alias("b_key"),
            F.when(
                F.col("o_orderkey") % 23 == 2, F.col("o_totalprice") + 100.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("new_totalprice"),
        )
    )
    j = a.join(b, a.a_key == b.b_key, "full_outer")
    return j.filter(
        F.col("a_key").isNull()
        | F.col("b_key").isNull()
        | (F.col("old_totalprice") != F.col("new_totalprice"))
    ).select(
        F.coalesce("a_key", "b_key").alias("o_orderkey"),
        F.when(F.col("a_key").isNull(), "added")
        .when(F.col("b_key").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
        "old_totalprice",
        "new_totalprice",
    )


@register(
    "etl_gdpr_cascade",
    oracle="""
    WITH del AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ), ord_purge AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del)
    ), c AS (
        SELECT 'customer' AS table_name,
               CAST((SELECT count(*) FROM del) AS BIGINT) AS rows_purged,
               CAST((SELECT count(*) FROM customer) AS BIGINT) AS rows_total
    ), o AS (
        SELECT 'orders' AS table_name,
               CAST((SELECT count(*) FROM ord_purge) AS BIGINT),
               CAST((SELECT count(*) FROM orders) AS BIGINT)
    ), l AS (
        SELECT 'lineitem' AS table_name,
               CAST((SELECT count(*) FROM lineitem
                     WHERE l_orderkey IN (SELECT o_orderkey FROM ord_purge))
                    AS BIGINT),
               CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    )
    SELECT table_name, rows_purged,
           rows_total - rows_purged AS rows_retained
    FROM (SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l)
    """,
)
def etl_gdpr_cascade(spark, sf_dir):
    """Right-to-be-forgotten cascade audit: given a deletion-request set of
    customer keys (here the deterministic c_custkey % 97 = 0 slice), report
    exactly how many rows each downstream table purges and retains when the
    deletion propagates customer → orders → lineitem through the foreign-key
    chain — the dry-run every GDPR/CCPA pipeline executes before a
    destructive write, and the same semi-join shape the actual purge uses
    (filter = anti-join against the purge set).

    100 TB: the deletion set is tiny and BROADCASTS to the orders scan; the
    purged-order keyset feeds lineitem as a semi-join whose build side AQE
    sizes (broadcast while small, shuffle-hash beyond). Each table
    contributes one map-side-combined count — no row data moves, only
    counts; the report is 3 rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    delset = c.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    ord_purge = o.join(
        F.broadcast(delset), o.o_custkey == delset.c_custkey, "left_semi"
    ).select("o_orderkey")
    li_purge = li.join(ord_purge, li.l_orderkey == ord_purge.o_orderkey, "left_semi")

    def report(name, purged_df, total_df):
        purged = purged_df.agg(F.count(F.lit(1)).alias("rows_purged"))
        total = total_df.agg(F.count(F.lit(1)).alias("rows_total"))
        return purged.crossJoin(total).select(
            F.lit(name).alias("table_name"),
            F.col("rows_purged").cast("long").alias("rows_purged"),
            (F.col("rows_total") - F.col("rows_purged"))
            .cast("long")
            .alias("rows_retained"),
        )

    return (
        report("customer", delset, c)
        .unionAll(report("orders", ord_purge, o))
        .unionAll(report("lineitem", li_purge, li))
    )


@register(
    "etl_cdc_deletes",
    oracle="""
    WITH log AS (
        SELECT c_custkey, c_acctbal, c_mktsegment, 'I' AS op, 1 AS version
        FROM customer
        UNION ALL
        SELECT c_custkey, round(c_acctbal + 100.0, 2), c_mktsegment, 'U', 2
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, NULL, NULL, 'D', 3
        FROM customer WHERE c_custkey % 5 = 0
    ), latest AS (
        SELECT *, row_number() OVER (
            PARTITION BY c_custkey ORDER BY version DESC
        ) AS rn
        FROM log
    )
    SELECT c_custkey, c_acctbal, c_mktsegment,
           CAST(version AS BIGINT) AS version
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def etl_cdc_deletes(spark, sf_dir):
    """CDC apply with tombstones — the delete-aware upgrade of
    etl_upsert_latest: a change log of inserts (v1), updates (v2, every
    3rd key), and DELETE tombstones (v3, every 5th key) collapses to
    latest-wins per key, and tombstoned keys VANISH from the snapshot
    (keys divisible by 15 get updated then deleted — the delete must win).
    This is the merge a lakehouse MERGE INTO performs; expressed as
    union → one per-key window → filter, it needs exactly one shuffle on
    the key and no mutable table state.

    100 TB: the window partitions on the merge key (same shuffle the
    upsert needs anyway); tombstones flow through the log as ordinary
    rows, so retention/vacuum policy is a later filter, not a special
    code path."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey", "c_acctbal", "c_mktsegment",
        F.lit("I").alias("op"), F.lit(1).alias("version"),
    )
    upd = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        "c_mktsegment",
        F.lit("U").alias("op"), F.lit(2).alias("version"),
    )
    dele = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit("D").alias("op"), F.lit(3).alias("version"),
    )
    w = Window.partitionBy("c_custkey").orderBy(F.desc("version"))
    return (
        base.unionByName(upd).unionByName(dele)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("c_custkey", "c_acctbal", "c_mktsegment",
                F.col("version").cast("long").alias("version"))
    )


_MV_CUTOFF = "1998-06-01 00:00:00"  # the already-materialized history boundary


@register(
    "etl_incremental_agg_refresh",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
               AS revenue_cents,
           CAST(max({cents_sql('o_totalprice')}) AS BIGINT)
               AS max_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def etl_incremental_agg_refresh(spark, sf_dir):
    """Incremental materialized-view refresh: the per-priority revenue
    rollup is maintained as ALGEBRAIC PARTIAL STATE (count, sum, max per
    group) so a new data slice refreshes the view by merging two small
    state tables — never rescanning history. Here the 'materialized'
    state is built from orders before the cutoff, the 'arriving' slice is
    everything after, and the merge is state-wise (+, +, greatest). The
    oracle recomputes the full aggregate from scratch — the refresh is
    correct iff the merge is algebraically exact, which integer cents
    guarantee (this is the same mergeable-state discipline as
    agg_hll_sketch_merge, exact instead of sketched; AVG-style measures
    must be carried as (sum, n), never merged as averages).

    100 TB: the refresh cost is O(|new slice| + |groups|) regardless of
    history size — the difference between a nightly full rebuild and a
    minutes-long incremental one. The cutoff split stands in for the
    partition boundary a production MV tracks."""
    o = load_table(spark, sf_dir, "orders")
    price_cents = cents("o_totalprice")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp_ntz")

    def partial_state(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(price_cents).cast("long").alias("revenue_cents"),
            F.max(price_cents).cast("long").alias("max_cents"),
        )

    history = partial_state(o.filter(F.col("o_orderdate") < cutoff))
    arriving = partial_state(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        history.unionByName(arriving)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )
    )
    return merged


@register(
    "etl_surrogate_keys",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT)
               AS surrogate_key
    FROM customer
    """,
)
def etl_surrogate_keys(spark, sf_dir):
    """Dense surrogate-key assignment (1..N in natural-key order) WITHOUT
    the single-partition global window the naive row_number() plan
    degenerates to: customers range-repartition on the natural key, each
    partition ranks LOCALLY, and a per-partition row-count table (tiny —
    one row per partition) turns into exclusive prefix offsets that are
    broadcast back; surrogate = local rank + partition offset. Range
    partitions are ordered and non-overlapping, so the composition equals
    the global row_number exactly — the oracle states the naive form and
    the equality IS the correctness claim. monotonically_increasing_id()
    is the tempting wrong answer: partition-layout-dependent, sparse, and
    unstable across reruns.

    100 TB: one range exchange (sampling pass + shuffle), per-partition
    local sorts, and a |partitions|-row offset table — the id assignment
    every dimension-table build needs, at any scale."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    parts = c.repartitionByRange(8, "c_custkey").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("pid").orderBy("c_custkey")
    local = parts.withColumn(
        "lrank", F.row_number().over(w_local).cast("long")
    # localCheckpoint is CORRECTNESS here, not just lesson-4 economy: the
    # offsets rollup and the final join both re-execute this subtree, and
    # repartitionByRange re-SAMPLES its boundaries per execution — at
    # sf0.1 the two executions picked different boundaries, so the offset
    # table disagreed with the ranks (off-by-20 surrogate keys; found by
    # the round-7 sf0.1 emulation sweep). Pinning one materialization
    # makes pid/lrank a single consistent fact for both consumers.
    ).localCheckpoint(eager=False)
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.count("*").cast("long").alias("n"))
        # bounded global window: one row per PARTITION (8 rows), the
        # offsets-of-counts shape — never over data rows
        .withColumn("off", F.coalesce(F.sum("n").over(w_off), F.lit(0)).cast("long"))
        .select("pid", "off")
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "c_custkey",
            "c_mktsegment",
            (F.col("off") + F.col("lrank")).cast("long").alias("surrogate_key"),
        )
    )


@register(
    "etl_table_fingerprint",
    oracle=f"""
    WITH c AS (
        SELECT bit_xor({md5_int_duck(
                   "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || c_mktsegment "
                   f"|| '|' || CAST({cents_sql('c_acctbal')} AS VARCHAR)",
                   15)}) AS fp,
               CAST(count(*) AS BIGINT) AS n
        FROM customer
    ), o AS (
        SELECT bit_xor({md5_int_duck(
                   "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) "
                   "|| '|' || o_orderstatus || '|' "
                   f"|| CAST({cents_sql('o_totalprice')} AS VARCHAR)",
                   15)}) AS fp,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
    )
    SELECT 'customer' AS table_name, fp AS fingerprint, n AS n_rows FROM c
    UNION ALL
    SELECT 'orders', fp, n FROM o
    """,
)
def etl_table_fingerprint(spark, sf_dir):
    """Order-independent table fingerprint: XOR of a 60-bit content hash
    of every row's canonical string — the cheap way to answer 'is the
    migrated copy byte-equivalent?' for a 100 TB table: both sides
    compute one scan-speed aggregate and compare two integers, no sort,
    no row shipping, any partitioning (XOR is commutative/associative, so
    the combine order is free — the same mergeability argument as the
    sketch family, here collision-bounded instead of approximate). Floats
    enter the canonical string as integer cents, the same discipline the
    oracles use; 60 bits keeps the hex→int conversion inside signed
    int64 in both engines. Caveat documented honestly: XOR cannot see a
    row REPLACED by a duplicate of another existing row (pairs cancel) —
    the row count beside it closes the common cases, and a
    multiset-resistant variant sums hashes mod 2⁶⁰ at one extra op.

    100 TB: one narrow map + a 1-row partial aggregate per table."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")

    def fp(df, cols_expr, name):
        return df.agg(
            F.expr(f"bit_xor({md5_int_sql(cols_expr, 15)})").alias("fingerprint"),
            F.count("*").cast("long").alias("n_rows"),
        ).select(F.lit(name).alias("table_name"), "fingerprint", "n_rows")

    c_expr = (
        "concat(CAST(c_custkey AS STRING), '|', c_name, '|', c_mktsegment, "
        f"'|', CAST({cents_sql('c_acctbal')} AS STRING))"
    )
    o_expr = (
        "concat(CAST(o_orderkey AS STRING), '|', CAST(o_custkey AS STRING), "
        "'|', o_orderstatus, '|', "
        f"CAST({cents_sql('o_totalprice')} AS STRING))"
    )
    return fp(c, c_expr, "customer").unionByName(fp(o, o_expr, "orders"))


@register(
    "etl_unpivot_melt",
    oracle=f"""
    WITH wide AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS ym,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum({cents_sql('o_totalprice')})
                    AS BIGINT) AS revenue_cents,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM orders GROUP BY 1
    )
    SELECT ym, 'n_orders' AS metric, n_orders AS value FROM wide
    UNION ALL
    SELECT ym, 'revenue_cents' AS metric, revenue_cents AS value FROM wide
    UNION ALL
    SELECT ym, 'n_customers' AS metric, n_customers AS value FROM wide
    """,
)
def etl_unpivot_melt(spark, sf_dir):
    """Wide→long melt of a monthly KPI table: three metric columns
    (n_orders / revenue_cents / n_customers, all exact BIGINTs) unpivot to
    (ym, metric, value) rows via Spark's native ``DataFrame.unpivot`` —
    the inverse of agg_pivot, and the shape every metrics warehouse needs
    at the boundary between wide storage and long consumers.

    100 TB: unpivot is a NARROW transformation (each input row emits its k
    metric rows map-side, no shuffle beyond the source rollup) — the
    oracle's 3-way UNION ALL restates the semantics but would re-scan the
    wide table per metric; Spark's Expand-based unpivot scans once."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("revenue_cents"),
        F.count_distinct("o_custkey").cast("long").alias("n_customers"),
    )
    return wide.unpivot(
        ids=["ym"],
        values=["n_orders", "revenue_cents", "n_customers"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "etl_data_vault",
    oracle=f"""
    WITH hub_customer AS (
        SELECT {md5_hex_duck('c_custkey')} AS hk FROM customer
    ), hub_supplier AS (
        SELECT {md5_hex_duck('s_suppkey')} AS hk FROM supplier
    ), link_trade AS (
        SELECT {md5_hex_duck(
                   "CAST(o_custkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)")} AS hk
        FROM (SELECT DISTINCT o.o_custkey, l.l_suppkey
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
    ), sat_customer AS (
        SELECT {md5_hex_duck(
                   "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || c_mktsegment "
                   f"|| '|' || CAST({cents_sql('c_acctbal')} AS VARCHAR)")}
            AS hk
        FROM customer
    )
    SELECT 'hub_customer' AS vault_table, CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor({hex_int_duck('hk', 15)}) AS fingerprint
    FROM hub_customer
    UNION ALL
    SELECT 'hub_supplier', CAST(count(*) AS BIGINT),
           bit_xor({hex_int_duck('hk', 15)})
    FROM hub_supplier
    UNION ALL
    SELECT 'link_trade', CAST(count(*) AS BIGINT),
           bit_xor({hex_int_duck('hk', 15)})
    FROM link_trade
    UNION ALL
    SELECT 'sat_customer', CAST(count(*) AS BIGINT),
           bit_xor({hex_int_duck('hk', 15)})
    FROM sat_customer
    """,
)
def etl_data_vault(spark, sf_dir):
    """Data Vault 2.0 modeling layer: hubs carry md5 hash keys of pure
    business keys, the link carries the hash of the (customer, supplier)
    relationship derived from the fact stream, and the satellite hashes
    the descriptive attributes (hashdiff — the change-detection key SCD
    loading uses). Each vault table reports its row count and XOR content
    fingerprint, so the load is verifiable end to end without shipping
    rows.

    100 TB: hub/satellite builds are narrow maps over the dimensions;
    the link build is the one distinct shuffle on the fact join — vault
    loading parallelizes by hash key BY DESIGN (that is the entire
    argument for hash keys over sequences in DV 2.0), and the
    fingerprints are the same scan-speed audit etl_table_fingerprint
    runs."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")

    def fp(df, name):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr(f"bit_xor({hex_int_sql('hk', 15)})").alias("fingerprint"),
        ).select(F.lit(name).alias("vault_table"), "n_rows", "fingerprint")

    hub_c = c.select(md5_hex("c_custkey").alias("hk"))
    hub_s = s.select(md5_hex("s_suppkey").alias("hk"))
    link = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            md5_hex(
                F.concat(
                    F.col("o_custkey").cast("string"),
                    F.lit("|"),
                    F.col("l_suppkey").cast("string"),
                )
            ).alias("hk")
        )
    )
    sat = c.select(
        md5_hex(
            F.concat(
                F.col("c_custkey").cast("string"),
                F.lit("|"),
                F.col("c_name"),
                F.lit("|"),
                F.col("c_mktsegment"),
                F.lit("|"),
                cents("c_acctbal").cast("string"),
            )
        ).alias("hk")
    )
    return (
        fp(hub_c, "hub_customer")
        .unionByName(fp(hub_s, "hub_supplier"))
        .unionByName(fp(link, "link_trade"))
        .unionByName(fp(sat, "sat_customer"))
    )


@register(
    "etl_reconcile_buckets",
    oracle=f"""
    WITH {_TT_VERSIONS_DUCK}, f1 AS (
        SELECT o_orderkey % 16 AS bucket,
               CAST(count(*) AS BIGINT) AS n_v1,
               bit_xor({_TT_FP_DUCK}) AS fp_v1
        FROM v1 GROUP BY o_orderkey % 16
    ), f2 AS (
        SELECT o_orderkey % 16 AS bucket,
               CAST(count(*) AS BIGINT) AS n_v2,
               bit_xor({_TT_FP_DUCK}) AS fp_v2
        FROM v2 GROUP BY o_orderkey % 16
    )
    SELECT f1.bucket, f1.n_v1, f2.n_v2, f1.fp_v1, f2.fp_v2,
           (f1.fp_v1 != f2.fp_v2 OR f1.n_v1 != f2.n_v2) AS differs
    FROM f1 JOIN f2 ON f1.bucket = f2.bucket
    """,
)
def etl_reconcile_buckets(spark, sf_dir):
    """Hierarchical reconciliation drill-down — what you run when two
    table fingerprints DISAGREE: both versions (the scan_time_travel
    snapshot definitions) fingerprint per key-bucket (key % 16), so a
    whole-table mismatch localizes to the handful of buckets whose XOR
    or count differs, and the next drill level only rescans those. Here
    v2 carries deterministic deletes and price corrections, so the test
    can assert exactly which buckets light up (every bucket containing a
    %11 or %13 key).

    100 TB: each level is one scan-speed aggregate per side with a
    16-row exchange — log₁₆(keyspace) levels pinpoint a single damaged
    row without ever shipping data, the binary-search-by-checksum
    pattern every cross-region copy validator uses."""
    v1, v2 = _tt_versions(load_table(spark, sf_dir, "orders"))

    def bucketed(df, n_col, fp_col):
        return df.groupBy((F.col("o_orderkey") % 16).alias("bucket")).agg(
            F.count("*").cast("long").alias(n_col),
            F.expr(f"bit_xor({md5_int_sql(_TT_ROW_EXPR, 15)})").alias(fp_col),
        )

    f1 = bucketed(v1, "n_v1", "fp_v1")
    f2 = bucketed(v2, "n_v2", "fp_v2")
    return f1.join(f2, "bucket").select(
        "bucket",
        "n_v1",
        "n_v2",
        "fp_v1",
        "fp_v2",
        (
            (F.col("fp_v1") != F.col("fp_v2")) | (F.col("n_v1") != F.col("n_v2"))
        ).alias("differs"),
    )


@register(
    "etl_late_dim_unknown",
    oracle=f"""
    WITH dim AS (
        SELECT c.c_custkey, n.n_name
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE {md5_bucket_duck("'late|' || CAST(c.c_custkey AS VARCHAR)", 10)} != 0
    )
    SELECT coalesce(d.n_name, 'UNKNOWN') AS nation,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql('o.o_totalprice')}) AS BIGINT)
               AS revenue_cents,
           CAST(count(DISTINCT CASE WHEN d.c_custkey IS NULL
                                    THEN o.o_custkey END) AS BIGINT)
               AS n_late_members
    FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
    GROUP BY 1
    """,
)
def etl_late_dim_unknown(spark, sf_dir):
    """Late-arriving-dimension handling with an UNKNOWN-member bucket: a
    hash-selected 10% of customers is withheld from the dimension
    (simulating members whose dim rows haven't replicated yet), the fact
    LEFT-joins the dim, and unresolved keys roll into the 'UNKNOWN'
    nation rather than silently dropping revenue — the inferred-member
    pattern every Kimball warehouse runs, with an audit column counting
    the distinct late members per bucket so the repair backlog is
    observable.

    100 TB: one broadcast dim join (the withheld-member filter is a
    projection on the dim side), one nation-keyed rollup; the UNKNOWN
    bucket concentrates all late keys but is pre-aggregated before any
    further joins, so it cannot become a skew key downstream."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter(
            md5_bucket(F.concat(F.lit("late|"), F.col("c_custkey").cast("string")), 10)
            != 0
        )
        .select("c_custkey", "n_name")
    )
    return (
        o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey, "left")
        .groupBy(F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("revenue_cents"),
            F.count_distinct(
                F.when(F.col("c_custkey").isNull(), F.col("o_custkey"))
            )
            .cast("long")
            .alias("n_late_members"),
        )
    )


@register(
    "etl_partition_backfill_plan",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('month', min(o_orderdate)) AS lo,
               date_trunc('month', max(o_orderdate)) AS hi
        FROM orders
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m
        FROM bounds
    ), ing AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
        WHERE (year(o_orderdate) * 12 + month(o_orderdate)) % 9 <> 0
        GROUP BY 1
    )
    SELECT CAST(year(s.m) * 100 + month(s.m) AS BIGINT) AS ym,
           coalesce(ing.n_rows, 0) AS n_rows,
           CASE WHEN ing.m IS NULL THEN 'missing' ELSE 'ok' END AS status
    FROM spine s LEFT JOIN ing ON ing.m = s.m
    """,
)
def etl_partition_backfill_plan(spark, sf_dir):
    """Partition-backfill planning — the daily ops question 'which
    partitions does the warehouse copy LACK?': a month spine derived from
    the source's own bounds is anti-compared against the months actually
    present in the ingested copy (here a partitioned parquet staging of
    orders with a simulated feed outage: every 9th calendar month dropped),
    and each spine month ships with its landed row count and a
    missing/ok status — filter status='missing' and you have the backfill
    work list. The missing/ok status needs only the partition DIRECTORY
    listing of the staged copy; the per-month n_rows beside it costs a
    footer-level count over the partitioned files (partition-pruned,
    metadata-only for parquet counts) — at 100 TB, drop n_rows and the
    plan is a directory listing plus a |months|-row join. Spine bounds
    come from data (min/max), never literals, so the plan tracks the
    source as it grows."""
    o = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long")
    midx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    base = stage_dir(sf_dir, "etl_partition_backfill")
    landed = o.filter(midx % 9 != 0).withColumn("ym", ym)
    stage_once(
        base,
        lambda: landed.write.mode("overwrite").partitionBy("ym").parquet(base),
    )
    present = (
        spark.read.schema(landed.schema).parquet(base)
        .groupBy("ym")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    bounds = o.agg(
        (F.year(F.min("o_orderdate")) * 12 + F.month(F.min("o_orderdate")))
        .cast("int")
        .alias("lo"),
        (F.year(F.max("o_orderdate")) * 12 + F.month(F.max("o_orderdate")))
        .cast("int")
        .alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi)")).alias("mi")
    ).select(
        (
            F.floor((F.col("mi") - 1) / 12) * 100 + ((F.col("mi") - 1) % 12 + 1)
        )
        .cast("long")
        .alias("ym")
    )
    return spine.join(F.broadcast(present), "ym", "left").select(
        "ym",
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        F.when(F.col("n_rows").isNull(), "missing").otherwise("ok").alias("status"),
    )


# ---------------------------------------------------------------------------
# Differential-privacy-shaped release (round 10)
# ---------------------------------------------------------------------------

_DP_EPS_MILLI = 1000  # ε = 1.0
_DP_CAP = 5  # per-customer contribution cap ⇒ L1 sensitivity of the count
#: the released domain is the fixed 5-value TPC-H segment set — releasing
#: over a FIXED domain (not the observed one) is itself part of the DP
#: contract (observed-domain release leaks which cells are non-empty)
_DP_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _dp_noise(seg: str) -> int:
    """Integer Laplace(b = sensitivity/ε) noise for one released cell,
    inverse-CDF applied to an md5-derived uniform. Computed in PYTHON and
    embedded as a literal in both engines (the sim_ndcg_eval zero-libm
    discipline): DETERMINISTIC BY DESIGN so the release is
    oracle-verifiable in this exercise — a production boundary draws u
    from a CSPRNG instead; mechanism shape, clipping, and sensitivity
    accounting are unchanged."""
    import math

    b = _DP_CAP / (_DP_EPS_MILLI / 1000.0)
    u = (md5_int_py(f"dp|{seg}", 12) + 0.5) / 16**12
    # standard Laplace inverse CDF around 0.5
    noise = -b * math.copysign(1.0, u - 0.5) * math.log(1.0 - 2.0 * abs(u - 0.5))
    return int(math.floor(noise + 0.5))


def _dp_case(fmt) -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {fmt(s)}" for s in _DP_SEGMENTS
    )
    return f"CASE c_mktsegment {whens} END"


@register(
    "etl_dp_release",
    oracle=f"""
    WITH per_user AS (
        SELECT c.c_mktsegment, o.o_custkey,
               least(CAST(count(*) AS BIGINT), {_DP_CAP}) AS contrib
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), cells AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(contrib) AS BIGINT) AS clipped_count
        FROM per_user GROUP BY 1
    )
    SELECT c_mktsegment AS segment,
           n_users, clipped_count,
           CAST({_dp_case(_dp_noise)} AS BIGINT) AS noise,
           CAST(clipped_count + {_dp_case(_dp_noise)} AS BIGINT)
               AS released_count,
           CAST({_DP_EPS_MILLI} AS BIGINT) AS epsilon_milli,
           CAST({_DP_CAP} AS BIGINT) AS sensitivity
    FROM cells
    """,
)
def etl_dp_release(spark, sf_dir):
    """Differential-privacy-shaped count release over segments — the
    governance sibling of etl_pii_mask/etl_gdpr_cascade, and the
    distributed parts are the REAL content of a DP SQL boundary:
    (1) per-user contribution CAPPING (each customer counts at most
    {cap} orders — a per-user rollup + least(), which is what bounds the
    L1 sensitivity a user has on the released number; without it DP
    guarantees are vacuous), (2) explicit sensitivity/ε accounting
    carried in the output, and (3) release over the FIXED segment
    domain. The Laplace(sensitivity/ε) noise is inverse-CDF applied to
    an md5-derived uniform, computed in Python and embedded as literals
    in both engines — deterministic BY DESIGN so the mechanism is
    hash-verifiable here (production swaps a CSPRNG at the boundary;
    noise/clipped_count columns are exposed for verification and would
    not leave a real release).

    100 TB: the capping rollup keys on (segment, user) — the same
    shuffle the plain count needs; everything after is a 5-row cell
    table. Cap + noise are O(1) extra work at any scale."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_user = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.least(F.count(F.lit(1)), F.lit(_DP_CAP))
            .cast("long")
            .alias("contrib")
        )
    )
    noise_case = _dp_case(_dp_noise)
    return (
        per_user.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("contrib").cast("long").alias("clipped_count"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            "n_users",
            "clipped_count",
            F.expr(f"CAST({noise_case} AS BIGINT)").alias("noise"),
            F.expr(f"CAST(clipped_count + {noise_case} AS BIGINT)").alias(
                "released_count"
            ),
            F.lit(_DP_EPS_MILLI).cast("long").alias("epsilon_milli"),
            F.lit(_DP_CAP).cast("long").alias("sensitivity"),
        )
    )


@register(
    "etl_k_anonymity",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                    // 1000000 AS BIGINT) AS spend_band
        FROM orders GROUP BY o_custkey
    ), recs AS (
        SELECT c.c_nationkey, c.c_mktsegment,
               CAST({cents_sql('c.c_acctbal')} // 100000
                    AS BIGINT) AS bal_band,
               coalesce(s.spend_band, CAST(-1 AS BIGINT)) AS sens
        FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    )
    SELECT c_nationkey, c_mktsegment, bal_band,
           CAST(count(*) AS BIGINT) AS class_n,
           CAST(count(DISTINCT sens) AS BIGINT) AS l_distinct,
           count(*) >= 5 AS k_anonymous,
           count(DISTINCT sens) >= 2 AS l_diverse,
           CAST(CASE WHEN count(*) >= 5 AND count(DISTINCT sens) >= 2
                THEN 0 ELSE count(*) END AS BIGINT) AS rows_to_suppress
    FROM recs GROUP BY 1, 2, 3
    """,
)
def etl_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavasajjhala
    et al. 2007, ICDE "l-diversity") of the customer table before a data
    release: quasi-identifier = (nation, market segment, account-balance
    band of 1000), sensitive attribute = the customer's total-spend band
    (10k-wide, −1 for never-ordered). Each equivalence class reports its
    size, its sensitive-value diversity, the k≥5 / l≥2 verdicts, and how
    many rows a suppression-based release would drop (classes failing
    either bar must be suppressed or generalized further — this audit is
    the decision input for that loop). Completes the governance family:
    etl_pii_mask hides identifiers, etl_dp_release noises counts, this
    measures re-identification risk of the quasi-identifiers themselves.

    All-exact: balance/spend bands are integer floor-divisions on
    cent-integers (round(x*100) first — the established cents contract),
    l-diversity is an exact distinct count, no floats anywhere.

    100 TB: one per-customer spend rollup (the same o_custkey shuffle any
    per-customer feature needs), one key-equi join customer⋈spend, one
    QI-keyed rollup whose output is domain-bounded (|nations|·|segments|·
    |bal bands| — generalization bands exist precisely to keep this
    bounded), count(DISTINCT) over a banded sensitive domain is a bounded
    two-level aggregate. No windows, no collects."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = o.groupBy("o_custkey").agg(
        F.expr(
            f"CAST(CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)"
            " div 1000000 AS BIGINT)"
        ).alias("spend_band")
    )
    recs = c.join(spend, c.c_custkey == spend.o_custkey, "left").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            f"CAST({cents_sql('c_acctbal')} div 100000 AS BIGINT)"
        ).alias("bal_band"),
        F.coalesce(F.col("spend_band"), F.lit(-1).cast("long")).alias("sens"),
    )
    cls = recs.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("class_n"),
        F.countDistinct("sens").cast("long").alias("l_distinct"),
    )
    return cls.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "class_n",
        "l_distinct",
        (F.col("class_n") >= 5).alias("k_anonymous"),
        (F.col("l_distinct") >= 2).alias("l_diverse"),
        F.when((F.col("class_n") >= 5) & (F.col("l_distinct") >= 2), F.lit(0))
        .otherwise(F.col("class_n"))
        .cast("long")
        .alias("rows_to_suppress"),
    )


def _rendezvous_expr(n_shards: int) -> str:
    """argmax over shards of the 48-bit md5 weight h(doc, s) — the HRW
    (highest-random-weight) pick, as one codegen'd struct-max projection."""
    h = md5_int_sql("concat(CAST(doc_id AS STRING), ':', CAST(s AS STRING))", 12)
    return (
        f"array_max(transform(sequence(0, {n_shards - 1}), s -> "
        f"struct({h} AS h, s))).s"
    )


def _rendezvous_duck(n_shards: int) -> str:
    h = md5_int_duck("doc_id::VARCHAR || ':' || s::VARCHAR", 12)
    return (
        f"list_max(list_transform(generate_series(0, {n_shards - 1}), s -> "
        f"{{'h': {h}, 's': s}})).s"
    )


@register(
    "etl_rendezvous_shard",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id,
               CAST({_rendezvous_duck(8)} AS BIGINT) AS shard8,
               CAST({_rendezvous_duck(9)} AS BIGINT) AS shard9
        FROM documents
    )
    SELECT shard8,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN shard9 <> shard8 THEN 1 END) AS BIGINT)
               AS n_moved,
           CAST(count(CASE WHEN shard9 <> shard8 THEN 1 END) * 1000
                // count(*) AS BIGINT) AS moved_permille
    FROM assigned GROUP BY shard8
    """,
)
def etl_rendezvous_shard(spark, sf_dir):
    """Rendezvous (highest-random-weight) sharding — Thaler & Ravishankar
    1996, the consistent-placement scheme behind cache rings and shard
    maps: each doc goes to argmax over shards of h(doc, shard), so when
    the shard count grows S -> S+1 ONLY the docs whose new-shard weight
    wins move (expected 1/(S+1) of the corpus), and they can only move TO
    the new shard — no reshuffle of the surviving S shards, the property
    mod-hashing (sample_hash_mod's bucketing) lacks (changing the modulus
    remaps ~everything). The operator assigns documents under S=8 and
    S=9 and reports, per old shard, how many docs the growth step moves
    (expected ~111 permille) — the migration-cost table an incremental
    100 TB pipeline reads before resizing its shard map.

    Exactness: the HRW weight is the repo's 48-bit md5 content hash, the
    argmax is an integer struct-max — one shuffle-free codegen'd
    projection per shard count (the transform stays inside the row;
    S=8/9 here, and HRW at larger S is still O(S) per key with no state,
    no lookup table, no coordination). The movement identity (a doc
    moves iff its S=9 argmax IS the new shard 8) is pinned in
    tests/test_etl.py; output is |shards| rows at any scale."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    assigned = d.select(
        "doc_id",
        F.expr(_rendezvous_expr(8)).cast("long").alias("shard8"),
        F.expr(_rendezvous_expr(9)).cast("long").alias("shard9"),
    )
    return assigned.groupBy("shard8").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(F.col("shard9") != F.col("shard8"), 1))
        .cast("long")
        .alias("n_moved"),
        F.floor(
            F.count(F.when(F.col("shard9") != F.col("shard8"), 1))
            * F.lit(1000)
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("moved_permille"),
    )
