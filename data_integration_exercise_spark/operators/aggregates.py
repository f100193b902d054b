"""Aggregation operators (SURVEY.md §2.4).

Reference parity: the pandas exercise's ``groupby().agg`` summary analytics
(SURVEY.md §0/§3.1 — reference checkout empty, reconstructed surface),
re-expressed as Catalyst hash aggregates: partial (map-side combine) →
shuffle on group keys → final. At 100 TB the partial agg is what keeps the
shuffle proportional to |groups|, not |rows|.

Float-hash discipline (SURVEY.md §2 defensive rule): every float aggregate is
rounded to 4dp in BOTH the DataFrame query and the DuckDB oracle, with
identical aliases.
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
    md5_hex_duck,
    md5_hex_sql,
    md5_int,
    md5_int_duck,
    md5_int_sql,
)
from ..io import load_table, register_views
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()

# TPC-H Q1's pricing-summary date bound (within l_shipdate's 1995..2001 domain)
_Q1_CUTOFF = "1998-09-02 00:00:00"


@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 4)                                        AS sum_qty,
           round(sum(l_extendedprice), 4)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    """Flagship (TPC-H Q1 shape): pricing summary by returnflag/linestatus.

    Plan shape (verified via explain, SURVEY.md §3.3): FileScan with
    PushedFilters on l_shipdate + ReadSchema pruned to the 7 used columns →
    partial HashAggregate → Exchange(hash on 2 low-cardinality keys, 6
    groups) → final HashAggregate. Scales: shuffle carries 6 rows per map
    task regardless of input size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(net), 4).alias("sum_disc_price"),
            F.round(F.sum(net * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_global",
    oracle="""
    SELECT min(o_totalprice)           AS min_price,
           max(o_totalprice)           AS max_price,
           round(sum(o_totalprice), 4) AS sum_price,
           round(avg(o_totalprice), 4) AS avg_price,
           count(*)                    AS n_orders,
           min(o_orderdate)            AS first_date,
           max(o_orderdate)            AS last_date
    FROM orders
    """,
)
def agg_global(spark, sf_dir):
    """Ungrouped aggregates over orders — single partial-agg reduce to 1 row.

    Scale: map-side partials mean the shuffle moves one row per task.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT count(DISTINCT o_custkey)                          AS n_custs,
           count(DISTINCT (o_orderstatus, o_orderpriority))   AS n_status_prio,
           count(*)                                           AS n_rows
    FROM orders
    """,
)
def agg_count_distinct(spark, sf_dir):
    """Exact distinct counts (dedup accounting). Catalyst plans the classic
    expand + two-phase aggregate; exact-distinct shuffles the distinct keys,
    which is the right trade until cardinality explodes (then
    agg_approx_distinct is the 100 TB path)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct("o_orderstatus", "o_orderpriority").alias("n_status_prio"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register("agg_approx_distinct")  # rows-only: approximate by design (SURVEY §2.4)
def agg_approx_distinct(spark, sf_dir):
    """HyperLogLog++ distinct of l_orderkey at rsd=0.01 — the constant-memory
    distinct that survives 100 TB where exact distinct shuffles every key."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
    )


#: deterministic-HLL geometry: 64 registers (6 index bits off the top of a
#: 48-bit md5-derived hash), 42-bit tail, alpha_64 = 0.709 (Flajolet et al.
#: 2007, m=64). The register SUM is exact in double — at most 64 dyadic
#: terms 2^-m (m <= 43) plus an integer, needing <= 49 mantissa bits — so
#: the raw estimate is one deterministic multiply+divide, hash-stable
#: cross-engine with no libm call (the ln small-range correction is
#: deliberately NOT applied; n_exact and v_zero in the output let a reader
#: apply any correction downstream).
_HLL_DET_M = 64
_HLL_DET_TAIL = 1 << 42


@register(
    "agg_hll_deterministic",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               {md5_int_duck("'hll:' || CAST(user_id AS VARCHAR)", 12)} AS h
        FROM events
    ), rb AS (
        SELECT event_type, h // {_HLL_DET_TAIL} AS bucket,
               43 - length(ltrim(bin(h % {_HLL_DET_TAIL}), '0')) AS rank
        FROM h
    ), regs AS (
        SELECT event_type, bucket, CAST(max(rank) AS BIGINT) AS m
        FROM rb GROUP BY 1, 2
    ), est AS (
        SELECT event_type,
               CAST({_HLL_DET_M} - count(*) AS BIGINT) AS v_zero,
               ({_HLL_DET_M} - count(*)) * 1.0 + sum(pow(2.0, -m)) AS s
        FROM regs GROUP BY 1
    ), ex AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY 1
    )
    SELECT e.event_type, x.n_exact, e.v_zero,
           round(0.709 * {_HLL_DET_M * _HLL_DET_M} / e.s, 4) AS est_raw
    FROM est e JOIN ex x USING (event_type)
    """,
)
def agg_hll_deterministic(spark, sf_dir):
    """HyperLogLog with the approximation HASH-VERIFIED (r13): the
    rows-only `agg_approx_distinct` / `agg_hll_sketch_merge` keys use
    engine sketches whose estimates are theirs alone; this key builds the
    HLL from first principles on the repo's cross-engine hash — 48-bit
    md5-derived value hash, top 6 bits pick one of 64 registers, register
    value = leading-zero rank of the 42-bit tail (string-exact via
    length(ltrim(bin(w), '0')); w = 0 degenerates to rank 43 with no CASE
    since the ltrim leaves ''), registers maxed — so registers are
    integers and the raw Flajolet estimate alpha·m²/S is reproducible to
    the bit (see the geometry note above for why S is float-EXACT).
    Built the mergeable way: per-(type, user_id%4 shard) partial
    registers maxed into the merged register table — max-merge is the
    entire HLL merge algebra, and the oracle computing global registers
    DIRECTLY is what proves partial-then-merge ≡ one-pass. Output per
    event_type: exact distinct (the verification target), v_zero register
    state, and the 4dp raw estimate.

    100 TB: per-shard register tables are 64 rows regardless of input
    (the constant-memory distinct); only registers move to the merge, and
    yesterday's partials union in without rescanning — the lambda
    property agg_quantile_sketch_merge pins for quantiles, now pinned for
    distinct counts."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = F.expr(md5_int_sql("concat('hll:', CAST(user_id AS STRING))", 12))
    rb = ev.select(
        "event_type",
        F.pmod("user_id", F.lit(4)).alias("shard"),
        h.alias("h"),
    ).select(
        "event_type",
        "shard",
        F.expr(f"h div {_HLL_DET_TAIL}").alias("bucket"),
        (
            F.lit(43)
            - F.length(
                F.expr(f"trim(LEADING '0' FROM bin(h % {_HLL_DET_TAIL}))")
            )
        ).alias("rank"),
    )
    partial = rb.groupBy("event_type", "shard", "bucket").agg(
        F.max("rank").alias("m_part")
    )
    regs = partial.groupBy("event_type", "bucket").agg(
        F.max("m_part").cast("long").alias("m")
    )
    est = regs.groupBy("event_type").agg(
        (F.lit(_HLL_DET_M) - F.count(F.lit(1))).cast("long").alias("v_zero"),
        (
            (F.lit(_HLL_DET_M) - F.count(F.lit(1))) * F.lit(1.0)
            + F.sum(F.pow(F.lit(2.0), -F.col("m")))
        ).alias("s"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        est.join(ex, "event_type")
        .select(
            "event_type",
            "n_exact",
            "v_zero",
            F.round(F.lit(0.709) * F.lit(float(_HLL_DET_M * _HLL_DET_M)) / F.col("s"), 4).alias(
                "est_raw"
            ),
        )
    )


@register("agg_hll_sketch_merge")  # rows-only: sketch estimate is approximate
def agg_hll_sketch_merge(spark, sf_dir):
    """Mergeable-sketch distinct: Datasketches HLL sketches built per
    (flag, shard) then union-merged per flag — the two-level shape of a
    100 TB distinct count, where each executor/partition/day builds its own
    fixed-size sketch and only the ~KB binaries move to the final merge
    (sketches also persist, so yesterday's partials never rescan). The
    16-way shard here stands in for that partial stage; the union merges
    registers losslessly, though the reported estimate differs slightly
    from a single-pass sketch's (direct sketches use the HIP estimator,
    unions the composite one — both bounded, both asserted within 5% of
    exact in tests; ``rel_error_e4`` carries the quantitative
    self-signal)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    partial = (
        li.withColumn("shard", F.pmod(F.col("l_partkey"), F.lit(16)))
        .groupBy("l_returnflag", "shard")
        .agg(F.hll_sketch_agg("l_partkey", F.lit(12)).alias("sketch"))
    )
    merged = partial.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_parts")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    return merged.join(exact, "l_returnflag").select(
        "l_returnflag",
        "est_parts",
        "exact_parts",
        (
            F.floor(
                F.abs(F.col("est_parts") - F.col("exact_parts"))
                * F.lit(10000)
                / F.col("exact_parts")
            )
        ).alias("rel_error_e4"),
    )


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 4) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) > 12
    """,
)
def agg_having(spark, sf_dir):
    """Post-aggregation group filter (HAVING). The filter sits above the final
    HashAggregate, pruning groups before any downstream join/sink."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        )
        .filter(F.col("n_orders") > 12)
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r_name,
           n_name,
           grouping(r_name)          AS g_r,
           grouping(n_name)          AS g_n,
           count(*)                  AS n_cust,
           round(sum(c_acctbal), 4)  AS acct_total
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark, sf_dir):
    """ROLLUP region→nation hierarchy with grand total; dims broadcast."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").alias("g_r"),
        F.grouping("n_name").alias("g_n"),
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 4).alias("acct_total"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           grouping(o_orderstatus)     AS g_s,
           grouping(o_orderpriority)   AS g_p,
           count(*)                    AS n,
           round(sum(o_totalprice), 4) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark, sf_dir):
    """CUBE over two low-cardinality dims — Catalyst Expand produces the 4
    grouping sets in one pass (no 4x rescan of the fact table)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").alias("g_s"),
        F.grouping("o_orderpriority").alias("g_p"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag,
           l_linestatus,
           grouping(l_returnflag) AS g_rf,
           grouping(l_linestatus) AS g_ls,
           round(sum(l_quantity), 4) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("agg_grouping_sets", oracle=_GROUPING_SETS_SQL)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping() flags disambiguating subtotal
    NULLs from (absent-here) natural NULLs. Same SQL text runs on both
    engines (dialect-portable subset)."""
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4)      AS std_price,
           round(var_samp(l_quantity), 4)              AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark, sf_dir):
    """Statistical aggregates (the exercise's summary-stat surface). Values
    chosen to keep magnitudes small enough that 4dp rounding absorbs
    engine-side summation-order noise."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("cov_qty_disc"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT c_mktsegment,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90,
           count(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per market segment (both engines use
    linear interpolation). At 100 TB you'd switch to approx_percentile —
    exact percentile requires a per-group sort."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_conditional",
    oracle="""
    SELECT c_mktsegment,
           -- CAST: DuckDB integer sum yields HUGEINT (→ float64 in pandas);
           -- BIGINT keeps the hash representation identical to Spark's long
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END), 4) AS urgent_rev
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_conditional(spark, sf_dir):
    """Crosstab via conditional aggregation (pandas crosstab equivalent)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def n_status(s):
        return F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))

    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            n_status("F").alias("n_f"),
            n_status("O").alias("n_o"),
            n_status("P").alias("n_p"),
            F.round(
                F.sum(
                    F.when(
                        F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")
                    ).otherwise(0.0)
                ),
                4,
            ).alias("urgent_rev"),
        )
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT c_mktsegment,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_pivot(spark, sf_dir):
    """pivot() with pinned values (pandas pivot_table). Pinning the value list
    avoids the extra distinct-collection job AND keeps the column set stable
    for the oracle; empty cells coalesced to 0 to match FILTER-count SQL."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    piv = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return piv.select(
        "c_mktsegment",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ("F", "O", "P")],
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
           count(*) AS n
    FROM orders
    GROUP BY o_custkey
    """,
)
def agg_collect_sorted(spark, sf_dir):
    """Per-customer sorted key list. collect_list order is nondeterministic
    under parallelism — sort_array makes it stable (SURVEY §5.6 determinism
    rule); serialized to a string so the value-hash is type-stable."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("o_orderkey")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("order_keys"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_min_max_by",
    oracle="""
    WITH best AS (
        SELECT o_custkey, o_orderkey AS best_order, o_totalprice AS best_price
        FROM orders
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) = 1
    ), worst AS (
        SELECT o_custkey, o_orderkey AS worst_order
        FROM orders
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC) = 1
    )
    SELECT best.o_custkey, best_order, best_price, worst_order
    FROM best JOIN worst USING (o_custkey)
    """,
)
def agg_min_max_by(spark, sf_dir):
    """argmax/argmin per group via max_by/min_by over a (value, key) struct —
    the struct tiebreak makes the pick deterministic (DuckDB 1.0 arg_max has
    no composite ordering, so the oracle states the same semantics as
    row_number windows)."""
    o = load_table(spark, sf_dir, "orders")
    tie = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", tie).alias("best_order"),
        F.max("o_totalprice").alias("best_price"),
        F.min_by("o_orderkey", tie).alias("worst_order"),
    )


@register(
    "agg_first_last",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey, o_orderkey AS first_order, o_orderdate AS first_date
        FROM orders
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) = 1
    ), lasts AS (
        SELECT o_custkey, o_orderkey AS last_order, o_orderdate AS last_date
        FROM orders
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    )
    SELECT firsts.o_custkey, first_order, first_date, last_order, last_date
    FROM firsts JOIN lasts USING (o_custkey)
    """,
)
def agg_first_last(spark, sf_dir):
    """First/last order per customer by explicit (date, key) order — never
    F.first()/F.last(), which are nondeterministic under parallelism
    (SURVEY §5.6); min_by/max_by on a struct is a single-pass agg (no window
    shuffle-and-sort needed)."""
    o = load_table(spark, sf_dir, "orders")
    tie = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return o.groupBy("o_custkey").agg(
        F.min_by("o_orderkey", tie).alias("first_order"),
        F.min("o_orderdate").alias("first_date"),
        F.max_by("o_orderkey", tie).alias("last_order"),
        F.max("o_orderdate").alias("last_date"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           count(*)                                      AS n,
           round(min(o_totalprice), 4)                   AS lo,
           round(max(o_totalprice), 4)                   AS hi,
           round(sum(o_totalprice), 4)                   AS total
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram(spark, sf_dir):
    """Equi-width histogram (50k buckets over o_totalprice) — the
    distribution profile behind partition sizing and skew decisions.
    Bucket assignment is a codegen'd floor-division on the scan (one
    shuffle on ≤~20 bucket keys); DuckDB floor() returns DOUBLE so both
    sides cast the bucket id to BIGINT."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH cnt AS (
        SELECT c_mktsegment, c_nationkey, count(*) AS n
        FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, c_nationkey AS mode_nation, CAST(n AS BIGINT) AS n
    FROM cnt
    QUALIFY row_number() OVER (
        PARTITION BY c_mktsegment ORDER BY n DESC, c_nationkey ASC) = 1
    """,
)
def agg_mode_deterministic(spark, sf_dir):
    """Deterministic MODE (most frequent value): per segment, the most
    common customer nation — computed as count + argmax window with an
    explicit (count desc, value asc) tiebreak, NOT an engine mode()
    aggregate whose tie choice is implementation-defined. Two keyed
    aggregations; the window runs over ≤(segments × nations) rows."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    cnt = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), F.col("c_nationkey").asc()
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("c_nationkey").alias("mode_nation"), "n")
    )


@register(
    "agg_corr_matrix",
    oracle="""
    SELECT 'quantity_price' AS pair,
           round(corr(l_quantity, l_extendedprice), 4) AS r
    FROM lineitem
    UNION ALL
    SELECT 'quantity_discount', round(corr(l_quantity, l_discount), 4)
    FROM lineitem
    UNION ALL
    SELECT 'price_discount', round(corr(l_extendedprice, l_discount), 4)
    FROM lineitem
    UNION ALL
    SELECT 'discount_tax', round(corr(l_discount, l_tax), 4)
    FROM lineitem
    """,
)
def agg_corr_matrix(spark, sf_dir):
    """Pairwise correlation matrix over the lineitem measures, computed in
    ONE aggregation pass (all corr() pairs in a single agg, unpivoted with
    stack) — the multi-column profiling shape again: N² statistics, one
    scan. corr is a ratio of co-moments, stable to summation order at 4dp."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qp"),
        F.round(F.corr("l_quantity", "l_discount"), 4).alias("qd"),
        F.round(F.corr("l_extendedprice", "l_discount"), 4).alias("pd"),
        F.round(F.corr("l_discount", "l_tax"), 4).alias("dt"),
    )
    return a.selectExpr(
        """stack(4,
           'quantity_price',    qp,
           'quantity_discount', qd,
           'price_discount',    pd,
           'discount_tax',      dt
        ) AS (pair, r)"""
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH t AS (
        SELECT l_returnflag, l_extendedprice, l_quantity,
               sum(l_quantity) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber,
                            l_partkey, l_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
        FROM lineitem
    )
    SELECT l_returnflag, min(l_extendedprice) AS weighted_median_price
    FROM t
    WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Exact weighted median (price weighted by quantity) per return flag —
    an aggregate Spark has no builtin for, composed from two windows over
    one partitioning: running weight along the price order and the
    partition total; the median is the minimum price in the suffix where
    2·cum ≥ tot (the qualifying set is a suffix of the price order, so a
    plain min replaces any first_value gymnastics). Ordering ends in the
    (orderkey, linenumber, partkey, suppkey) unique key so the cumulative
    sums are engine-identical; quantities are integral doubles, so 2·cum
    and tot are exact. One shuffle on l_returnflag + a tiny rollup; at
    100 TB swap the flag for any higher-cardinality group key and the
    shape is unchanged."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    order_cols = [
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
    ]
    wp = Window.partitionBy("l_returnflag")
    t = (
        li.select(
            "l_returnflag", "l_extendedprice", "l_quantity",
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        )
        .withColumn(
            "cum",
            F.sum("l_quantity").over(
                wp.orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("tot", F.sum("l_quantity").over(wp))
    )
    return (
        t.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("weighted_median_price"))
    )


@register(
    "agg_gini_segments",
    oracle=f"""
    WITH c AS (
        SELECT c_mktsegment,
               {cents_sql('c_acctbal')} AS cents,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey) AS rk
        FROM customer
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round((2.0 * sum(rk * cents)) / (count(*) * sum(cents))
                 - (CAST(count(*) AS DOUBLE) + 1) / count(*), 4) AS gini
    FROM c GROUP BY c_mktsegment
    """,
)
def agg_gini_segments(spark, sf_dir):
    """Gini concentration of account balances per market segment — the
    inequality readout of a numeric distribution (0 = uniform, →1 =
    concentrated), via the sorted-rank identity
    G = 2·Σ(rᵢ·xᵢ)/(n·Σxᵢ) − (n+1)/n. Balances become exact integer cents
    and ranks are integers (ties share equal x, so tie order can't change
    Σ rᵢ·xᵢ), so both engines divide identical integer sums — the whole
    float surface is two final divisions, rounded at 4dp.

    100 TB: one window rank + one aggregate, both partitioned by segment;
    no global sort (rank order only matters within a segment)."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        "c_mktsegment",
        cents("c_acctbal").alias("cents"),
        F.row_number().over(w).alias("rk"),
    )
    n = F.count("*")
    return ranked.groupBy("c_mktsegment").agg(
        n.cast("long").alias("n_customers"),
        F.round(
            (F.lit(2.0) * F.sum(F.col("rk") * F.col("cents")))
            / (n * F.sum("cents"))
            - (n.cast("double") + 1) / n,
            4,
        ).alias("gini"),
    )


@register(
    "agg_ab_ttest",
    oracle=f"""
    WITH x AS (
        SELECT o_orderpriority,
               CASE WHEN {md5_bucket_duck("o_orderkey", 10)} < 5
                    THEN 'A' ELSE 'B' END AS grp,
               {cents_sql('o_totalprice')} AS cents
        FROM orders
    ), s AS (
        SELECT o_orderpriority, grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS s2
        FROM x GROUP BY o_orderpriority, grp
    ), w AS (
        SELECT a.o_orderpriority,
               a.n AS n_a, b.n AS n_b,
               CAST(a.s1 AS DOUBLE) / a.n / 100 AS mean_a,
               CAST(b.s1 AS DOUBLE) / b.n / 100 AS mean_b,
               (CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * a.s1 / a.n)
                   / (a.n - 1) AS var_a,
               (CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * b.s1 / b.n)
                   / (b.n - 1) AS var_b
        FROM s a JOIN s b ON a.o_orderpriority = b.o_orderpriority
        WHERE a.grp = 'A' AND b.grp = 'B'
    )
    SELECT o_orderpriority, n_a, n_b,
           round(mean_a, 4) AS mean_a,
           round(mean_b, 4) AS mean_b,
           round((mean_a - mean_b)
                 / sqrt(var_a / n_a / 10000 + var_b / n_b / 10000), 4) AS t_stat
    FROM w
    """,
)
def agg_ab_ttest(spark, sf_dir):
    """Welch two-sample t-test per order priority: orders are split into
    A/B arms by content hash (the sampling.py discipline — the split is
    reproducible across engines and partitionings), and each arm's mean
    order value is compared with the Welch statistic. The experiment-
    readout query of every A/B platform. All moments come from integer
    cent sums (Σx, Σx² exact — decimal(38,0) Spark-side / HUGEINT in the
    oracle, since Σx² exceeds int64 beyond ~2k rows per cell at max
    o_totalprice), so the float surface is the final mean/variance
    divisions — identical doubles in both engines, rounded at 4dp. On a
    null split like this hash split, |t| ≲ 2 is the expected regime.

    100 TB: one partial-aggregated groupBy per (priority, arm) — ten
    output cells regardless of order volume."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    grp = F.when(md5_bucket("o_orderkey", 10) < 5, "A").otherwise("B")
    s = (
        o.select(
            "o_orderpriority",
            grp.alias("grp"),
            cents("o_totalprice").cast("decimal(18,0)").alias("cents"),
        )
        .groupBy("o_orderpriority", "grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
    )
    a = s.filter(F.col("grp") == "A").select(
        "o_orderpriority",
        F.col("n").alias("n_a"),
        F.col("s1").alias("sa1"),
        F.col("s2").alias("sa2"),
    )
    b = s.filter(F.col("grp") == "B").select(
        F.col("o_orderpriority").alias("prio_b"),
        F.col("n").alias("n_b"),
        F.col("s1").alias("sb1"),
        F.col("s2").alias("sb2"),
    )
    j = a.join(b, a.o_orderpriority == b.prio_b)
    mean_a = F.col("sa1").cast("double") / F.col("n_a") / 100
    mean_b = F.col("sb1").cast("double") / F.col("n_b") / 100
    var_a = (
        F.col("sa2").cast("double")
        - F.col("sa1").cast("double") * F.col("sa1") / F.col("n_a")
    ) / (F.col("n_a") - 1)
    var_b = (
        F.col("sb2").cast("double")
        - F.col("sb1").cast("double") * F.col("sb1") / F.col("n_b")
    ) / (F.col("n_b") - 1)
    t = (mean_a - mean_b) / F.sqrt(
        var_a / F.col("n_a") / 10000 + var_b / F.col("n_b") / 10000
    )
    return j.select(
        "o_orderpriority",
        "n_a",
        "n_b",
        F.round(mean_a, 4).alias("mean_a"),
        F.round(mean_b, 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
    )


_KS_PRIS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_KS_D = ",\n               ".join(
    f"CAST(sum(CASE WHEN pri = '{p}' THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
    for i, p in enumerate(_KS_PRIS)
)
_KS_F = ", ".join(f"sum(c{i}) OVER w AS f{i}" for i in range(5))
_KS_T = ", ".join(f"CAST(sum(c{i}) AS HUGEINT) AS n{i}" for i in range(5))
_KS_M = ",\n            ".join(
    f"max(abs(CAST(f.f{i} AS HUGEINT) * (t.nt - t.n{i})"
    f" - (CAST(f.f0 + f.f1 + f.f2 + f.f3 + f.f4 AS HUGEINT) - f.f{i})"
    f" * t.n{i})) AS d{i}"
    for i in range(5)
)
_KS_UNION = "\n        UNION ALL\n".join(
    f"""        SELECT '{p}' AS pri,
               CAST(t.n{i} AS BIGINT) AS n_group,
               CAST(t.nt - t.n{i} AS BIGINT) AS n_rest,
               round(CAST(m.d{i} AS DOUBLE)
                     / (CAST(t.n{i} AS DOUBLE)
                        * CAST(t.nt - t.n{i} AS DOUBLE)), 4) AS ks_stat
        FROM m, t"""
    for i, p in enumerate(_KS_PRIS)
)


@register(
    "agg_ks_test",
    oracle=f"""
    WITH c AS (
        SELECT {cents_sql('o_totalprice')} AS cents,
               o_orderpriority AS pri
        FROM orders
    ), d AS (
        SELECT cents,
               {_KS_D}
        FROM c GROUP BY cents
    ), f AS (
        SELECT cents, {_KS_F}
        FROM d
        WINDOW w AS (ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), t AS (
        SELECT {_KS_T},
               CAST(sum(c0 + c1 + c2 + c3 + c4) AS HUGEINT) AS nt
        FROM d
    ), m AS (
        SELECT
            {_KS_M}
        FROM f, t
    )
{_KS_UNION}
    """,
)
def agg_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic, one-vs-rest per order
    priority: D = sup_x |F_grp(x) − F_rest(x)| over the o_totalprice
    empirical CDFs — the distribution-drift monitor a pipeline runs when
    a segment's numeric feed may have shifted (the continuous analogue of
    the chi-square count audit). Everything up to the final division is
    exact integer arithmetic on integer cents: the sup is
    max |F1·n2 − F2·n1| (decimal/HUGEINT — the products pass int64 around
    1e10 input rows), and the single d/(n1·n2) division + 4dp round is
    the only float surface, identical IEEE ops in both engines.

    Scale shape (Spark side): the CDF is a DISTRIBUTED prefix sum — not
    one global window over every distinct price. (1) groupBy(cents)
    collapses ties with a map-side-combined count; (2) rows bucket by
    $1000 price bands, and a ≤~600-row bucket-total frame (bounded by the
    price DOMAIN, not row count) takes the only unpartitioned window to
    produce per-bucket offsets; (3) within-bucket cumsums run partitioned
    and parallel, plus the broadcast offset. The oracle uses the naive
    global window — it is a correctness reference, not the scale path.

    100 TB: shuffle volume is |distinct cents| after local combine;
    the global step touches ≤ price-domain/1000 rows regardless of row
    count; output is 5 rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        cents("o_totalprice").alias("cents"), F.col("o_orderpriority").alias("pri")
    )
    d = base.groupBy("cents").agg(
        *[
            F.sum(F.when(F.col("pri") == p, 1).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i, p in enumerate(_KS_PRIS)
        ]
    )
    d = d.withColumn("bkt", F.expr("cents div 100000"))
    bt = d.groupBy("bkt").agg(*[F.sum(f"c{i}").alias(f"b{i}") for i in range(5)])
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    off = bt.select(
        "bkt",
        *[
            F.coalesce(F.sum(f"b{i}").over(wb), F.lit(0)).alias(f"o{i}")
            for i in range(5)
        ],
    )
    wc = (
        Window.partitionBy("bkt")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = d.join(F.broadcast(off), "bkt").select(
        "cents",
        *[
            (F.sum(f"c{i}").over(wc) + F.col(f"o{i}")).alias(f"f{i}")
            for i in range(5)
        ],
    )
    tot = d.agg(
        *[F.sum(f"c{i}").cast("decimal(38,0)").alias(f"n{i}") for i in range(5)],
        F.sum(
            F.col("c0") + F.col("c1") + F.col("c2") + F.col("c3") + F.col("c4")
        )
        .cast("decimal(38,0)")
        .alias("nt"),
    )
    ft = (
        F.col("f0") + F.col("f1") + F.col("f2") + F.col("f3") + F.col("f4")
    ).cast("decimal(38,0)")
    m = (
        f.crossJoin(F.broadcast(tot))
        .agg(
            *[
                F.max(
                    F.abs(
                        F.col(f"f{i}").cast("decimal(38,0)")
                        * (F.col("nt") - F.col(f"n{i}"))
                        - (ft - F.col(f"f{i}")) * F.col(f"n{i}")
                    )
                ).alias(f"d{i}")
                for i in range(5)
            ],
            *[F.first(f"n{i}").alias(f"n{i}") for i in range(5)],
            F.first("nt").alias("nt"),
        )
    )
    stack_args = ", ".join(
        f"'{p}', n{i}, d{i}" for i, p in enumerate(_KS_PRIS)
    )
    stacked = m.select(
        F.expr(f"stack(5, {stack_args}) AS (pri, n_g, dmax)"), F.col("nt")
    )
    rest = F.col("nt") - F.col("n_g")
    return stacked.select(
        "pri",
        F.col("n_g").cast("long").alias("n_group"),
        rest.cast("long").alias("n_rest"),
        F.round(
            F.col("dmax").cast("double")
            / (F.col("n_g").cast("double") * rest.cast("double")),
            4,
        ).alias("ks_stat"),
    )


@register(
    "agg_chi_square",
    oracle="""
    WITH o AS (
        SELECT event_type, hour(ts) AS hr, CAST(count(*) AS BIGINT) AS obs
        FROM events GROUP BY event_type, hour(ts)
    ), dense AS (
        SELECT t.event_type, h.hr, COALESCE(o.obs, 0) AS obs
        FROM (SELECT DISTINCT event_type FROM o) t
        CROSS JOIN (SELECT DISTINCT hr FROM o) h
        LEFT JOIN o ON o.event_type = t.event_type AND o.hr = h.hr
    ), r AS (
        SELECT event_type, CAST(sum(obs) AS BIGINT) AS rtot
        FROM dense GROUP BY event_type
    ), c AS (
        SELECT hr, CAST(sum(obs) AS BIGINT) AS ctot FROM dense GROUP BY hr
    ), n AS (
        SELECT CAST(sum(obs) AS BIGINT) AS ntot,
               count(DISTINCT event_type) AS nr,
               count(DISTINCT hr) AS nc
        FROM dense
    ), terms AS (
        SELECT dense.event_type, r.rtot,
               CAST(round(
                   (CAST(dense.obs AS DOUBLE)
                    - CAST(r.rtot AS DOUBLE) * CAST(c.ctot AS DOUBLE)
                      / CAST(n.ntot AS DOUBLE))
                   * (CAST(dense.obs AS DOUBLE)
                      - CAST(r.rtot AS DOUBLE) * CAST(c.ctot AS DOUBLE)
                        / CAST(n.ntot AS DOUBLE))
                   / (CAST(r.rtot AS DOUBLE) * CAST(c.ctot AS DOUBLE)
                      / CAST(n.ntot AS DOUBLE)), 4) AS DECIMAL(18,4)) AS term,
               n.nr, n.nc
        FROM dense JOIN r USING (event_type) JOIN c USING (hr), n
    ), per_type AS (
        SELECT event_type,
               CAST(min(rtot) AS BIGINT)     AS n_events,
               CAST(sum(term) AS DECIMAL(38,4)) AS part,
               (min(nr) - 1) * (min(nc) - 1) AS dof
        FROM terms GROUP BY event_type
    ), tot AS (SELECT CAST(sum(part) AS DECIMAL(38,4)) AS total FROM per_type)
    SELECT event_type, n_events,
           CAST(part AS DOUBLE)  AS chi2_part,
           CAST(total AS DOUBLE) AS chi2_total,
           CAST(dof AS BIGINT)   AS dof
    FROM per_type, tot
    """,
)
def agg_chi_square(spark, sf_dir):
    """Pearson chi-square independence audit of event_type × hour-of-day —
    the categorical drift monitor (is a segment's category mix diverging
    from the marginal product?), sibling of agg_ks_test's continuous CDF
    drift. The contingency table is DENSIFIED first (distinct types ×
    distinct hours spine, zero-filled) so empty cells contribute their
    full expected-count term instead of silently vanishing.

    Determinism: each cell term (O−E)²/E runs in doubles with one pinned
    op order over exact integer counts (E = R·C/N; all IEEE ops correctly
    rounded ⇒ identical in both engines — the (O·N−R·C)² integer form
    would overflow 128-bit at ~1e9-row cells, so the double form is the
    scale-safe one), then rounds at 4dp and sums as DECIMAL(18,4): a sum
    of exact decimals is partition-order-independent where a float sum of
    the raw terms would not be.

    100 TB: the only full-scan work is the (type, hour) count groupBy —
    map-side combined to ≤|types|·24 cells; marginals and the term join
    run on the broadcast-sized contingency table itself."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count("*").cast("long").alias("obs")
    )
    types = o.select("event_type").distinct()
    hours = o.select("hr").distinct()
    dense = (
        types.crossJoin(hours)
        .join(o, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce("obs", F.lit(0)).cast("long").alias("obs"),
        )
    )
    r = dense.groupBy("event_type").agg(F.sum("obs").alias("rtot"))
    c = dense.groupBy("hr").agg(F.sum("obs").alias("ctot"))
    n = dense.agg(
        F.sum("obs").alias("ntot"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("hr").alias("nc"),
    )
    j = (
        dense.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "hr")
        .crossJoin(F.broadcast(n))
    )
    e = (
        F.col("rtot").cast("double")
        * F.col("ctot").cast("double")
        / F.col("ntot").cast("double")
    )
    diff = F.col("obs").cast("double") - e
    term = F.round(diff * diff / e, 4).cast("decimal(18,4)")
    per_type = j.groupBy("event_type").agg(
        F.min("rtot").cast("long").alias("n_events"),
        F.sum(term).cast("decimal(38,4)").alias("part"),
        ((F.min("nr") - 1) * (F.min("nc") - 1)).alias("dof"),
    )
    tot = per_type.agg(F.sum("part").cast("decimal(38,4)").alias("total"))
    return per_type.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_events",
        F.col("part").cast("double").alias("chi2_part"),
        F.col("total").cast("double").alias("chi2_total"),
        F.col("dof").cast("long").alias("dof"),
    )


@register(
    "agg_mann_whitney",
    oracle=f"""
    WITH x AS (
        SELECT o_orderpriority AS pri,
               CASE WHEN {md5_bucket_duck("o_orderkey", 10)} < 5
                    THEN 1 ELSE 0 END AS is_a,
               {cents_sql('o_totalprice')} AS cents
        FROM orders
    ), g AS (
        SELECT pri, cents,
               CAST(count(*) AS BIGINT) AS ct,
               CAST(sum(is_a) AS BIGINT) AS ca
        FROM x GROUP BY pri, cents
    ), f AS (
        SELECT pri, ct, ca,
               COALESCE(sum(ct) OVER (PARTITION BY pri ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS cumbefore
        FROM g
    ), per AS (
        SELECT pri,
               CAST(sum(ca) AS BIGINT)           AS n_a,
               CAST(sum(ct) - sum(ca) AS BIGINT) AS n_b,
               CAST(sum(CAST(ca AS HUGEINT) * (2 * cumbefore + ct + 1))
                    AS HUGEINT)                  AS r2a,
               CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT) AS tie
        FROM f GROUP BY pri
    ), u AS (
        SELECT pri, n_a, n_b, tie,
               r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2,
               CAST(n_a AS HUGEINT) * n_b             AS mean2,
               CAST(n_a + n_b AS BIGINT)              AS n
        FROM per
    )
    SELECT pri AS o_orderpriority, n_a, n_b,
           CAST(u2 AS BIGINT) AS u2,
           round((CAST(u2 AS DOUBLE) - CAST(mean2 AS DOUBLE))
                 / (2.0 * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                                / 12.0)
                               * ((CAST(n AS DOUBLE) + 1.0)
                                  - CAST(tie AS DOUBLE)
                                    / (CAST(n AS DOUBLE)
                                       * (CAST(n AS DOUBLE) - 1.0))))),
                 4) AS z_stat
    FROM u
    """,
)
def agg_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test per order priority over the same
    content-hash A/B split as agg_ab_ttest — the nonparametric member of
    the experiment-readout family (t-test compares means, KS compares
    CDFs, chi-square compares category mixes, U compares rank
    distributions, robust to outliers). Ranks are kept EXACT in doubled
    units: a tie group at value v spans ranks [F(v⁻)+1, F(v)], so twice
    its average rank is the integer 2·F(v⁻)+c+1 — no .5 fractions, no
    float ranks. U2 = 2·U, the tie-corrected variance term Σ(t³−t), and
    the group sizes are all exact decimal/HUGEINT integers; the z-score
    is the only float surface, one pinned op sequence in both engines,
    rounded at 4dp. On the null hash split |z| ≲ 2 is the expected regime.

    Scale shape: rank prefix sums run in windows PARTITIONED by priority
    over the tie-collapsed (priority, cents) frame — for a skewed single
    giant group, compose with agg_ks_test's bucket-offset prefix sum
    (same algebra, one extra tiny join).

    100 TB: groupBy(pri, cents) collapses ties map-side; everything after
    is proportional to distinct values, and output is 5 rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    is_a = F.when(md5_bucket("o_orderkey", 10) < 5, 1).otherwise(0)
    g = (
        o.select(
            F.col("o_orderpriority").alias("pri"),
            is_a.alias("is_a"),
            cents("o_totalprice").alias("cents"),
        )
        .groupBy("pri", "cents")
        .agg(
            F.count("*").cast("long").alias("ct"),
            F.sum("is_a").cast("long").alias("ca"),
        )
    )
    wf = (
        Window.partitionBy("pri")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    f = g.select(
        "pri",
        "ct",
        "ca",
        F.coalesce(F.sum("ct").over(wf), F.lit(0)).alias("cumbefore"),
    )
    contrib = F.col("ca").cast("decimal(38,0)") * (
        2 * F.col("cumbefore") + F.col("ct") + 1
    )
    cube = F.col("ct").cast("decimal(38,0)") * F.col("ct") * F.col("ct") - F.col(
        "ct"
    )
    per = f.groupBy("pri").agg(
        F.sum("ca").cast("long").alias("n_a"),
        (F.sum("ct") - F.sum("ca")).cast("long").alias("n_b"),
        F.sum(contrib).cast("decimal(38,0)").alias("r2a"),
        F.sum(cube).cast("decimal(38,0)").alias("tie"),
    )
    u2 = F.col("r2a") - F.col("n_a").cast("decimal(38,0)") * (F.col("n_a") + 1)
    mean2 = F.col("n_a").cast("decimal(38,0)") * F.col("n_b")
    n_d = (F.col("n_a") + F.col("n_b")).cast("double")
    var = (F.col("n_a").cast("double") * F.col("n_b").cast("double") / F.lit(12.0)) * (
        (n_d + F.lit(1.0))
        - F.col("tie").cast("double") / (n_d * (n_d - F.lit(1.0)))
    )
    z = (u2.cast("double") - mean2.cast("double")) / (F.lit(2.0) * F.sqrt(var))
    return per.select(
        F.col("pri").alias("o_orderpriority"),
        "n_a",
        "n_b",
        u2.cast("long").alias("u2"),
        F.round(z, 4).alias("z_stat"),
    )


_MG_K = 30  # Misra-Gries counters per partition; report threshold = n/_MG_K


@register(
    "agg_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM tok
    )
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM tok, tot
    GROUP BY token, tot.n
    HAVING count(*) * {_MG_K} > tot.n
    """,
)
def agg_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters via a two-pass Misra-Gries sketch: tokens whose
    corpus frequency exceeds n/k (k=30). Pass 1 runs a mergeable
    Misra-Gries summary per partition (mapInPandas with cross-batch state:
    merge each Arrow batch's value_counts into ≤k counters; on overflow
    subtract the (k+1)-th count from all and drop non-positives — the
    Agarwal et al. mergeable-summaries formulation, total decrement ≤
    n_p/(k+1)). Any token with global count > n/k therefore has
    count_p > n_p/(k+1) in at least one partition (averaging argument)
    and MUST survive in that partition's summary, so the ≤ k·P candidate
    union is a superset of the true hitters. Pass 2 broadcast-semi-joins
    the token stream against the candidates and re-counts them EXACTLY, so
    the final HAVING filter — integer cross-multiplied, no division — is
    precise; partition-dependent candidate noise is filtered out and the
    result is deterministic.

    100 TB: this is the bounded-memory shape for a token universe that
    does NOT fit in an executor (a trillion-distinct-token web corpus):
    pass 1 keeps k counters per task and ships k rows per partition —
    no shuffle of the raw stream — and pass 2 shuffles only rows matching
    the tiny broadcast candidate set. A plain groupBy-HAVING (the oracle)
    would shuffle every distinct token."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))

    def mg_summaries(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for t, c in pdf["token"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > _MG_K:
                sub = sorted(counters.values(), reverse=True)[_MG_K]
                counters = {t: c - sub for t, c in counters.items() if c > sub}
        yield pd.DataFrame({"token": list(counters)})

    candidates = tokens.mapInPandas(mg_summaries, "token string").distinct()
    total = tokens.agg(F.count("*").cast("long").alias("n"))
    return (
        tokens.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * _MG_K > F.col("n"))
        .select("token", "n_occurrences")
    )


_BOOT_B = 64  # bootstrap replicates
#: Poisson(1) CDF thresholds scaled to the 16-bit hash domain: h<24109 -> 0
#: draws, <48219 -> 1, ... (identical integer literals in both engines).
_POIS_TH = [24109, 48219, 60273, 64292, 65296, 65497, 65531]


def _pois_case(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS_TH)
    )
    return f"CASE {cases} ELSE {len(_POIS_TH)} END"


@register(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS pri, o_orderkey,
               {cents_sql('o_totalprice')} AS cents
        FROM orders
    ), hashed AS (
        SELECT pri, cents,
               list_transform(range(8),
                   g -> {md5_hex_duck(
                       "CAST(o_orderkey AS VARCHAR) || ':' || CAST(g AS VARCHAR)")}) AS hs
        FROM base
    ), rep AS (
        SELECT b.pri, b.cents, t.i AS rb,
               {_pois_case(hex_int_duck("b.hs[t.i // 8 + 1]", 4, "4 * (t.i % 8)"))}
                   AS w
        FROM hashed b CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS i) t
    ), means AS (
        SELECT pri, rb,
               CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100 AS mean_b
        FROM rep GROUP BY pri, rb
    ), ranked AS (
        SELECT pri, mean_b,
               row_number() OVER (PARTITION BY pri ORDER BY mean_b, rb) AS rn
        FROM means
    ), pt AS (
        SELECT pri, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS DOUBLE) / count(*) / 100 AS mean
        FROM base GROUP BY pri
    )
    SELECT pt.pri AS o_orderpriority, pt.n,
           round(pt.mean, 4) AS mean,
           round(lo.mean_b, 4) AS ci_lo,
           round(hi.mean_b, 4) AS ci_hi
    FROM pt
    JOIN ranked lo ON lo.pri = pt.pri AND lo.rn = 2
    JOIN ranked hi ON hi.pri = pt.pri AND hi.rn = {_BOOT_B - 1}
    """,
)
def agg_bootstrap_ci(spark, sf_dir):
    """95% bootstrap confidence interval for mean order value per priority
    via the SINGLE-PASS Poisson bootstrap: instead of materializing B
    resamples, each row draws a Poisson(1) replication weight per
    replicate b from the content hash md5(key:b) — the streaming-bootstrap
    trick (Chamandy et al., Google) that makes resampling mergeable and
    partition-proof, exactly what a 100 TB table needs (no multiplicity-B
    data copy, no coordinated RNG state; the hash IS the randomness, so
    any re-partitioning reproduces the draw). Weights come from integer
    CDF thresholds on the 16-bit hash (identical literals in both
    engines); each replicate mean is a ratio of exact integer sums, and
    the CI bounds are nearest-rank order statistics of the B=64 replicate
    means (rank 2 / rank 63 ≈ 2.5%/97.5%) — picked by row_number, never
    interpolated, so there is no percentile-interpolation float hazard.

    100 TB: the replicate dimension multiplies the partial-agg input ×B
    but the shuffle only carries |groups|·B partial sums; everything
    before the 64-row-per-group rank step is map-side."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("pri"),
        "o_orderkey",
        cents("o_totalprice").alias("cents"),
    )
    # Explicit fan-out before the 8-md5 projection and the ×B explode (the
    # dedup_minhash_openvocab repartition discipline): a raw single-file
    # scan is ONE task, which serialized the 64× replicate expansion —
    # measured 4.55 s → 0.99 s at sf0.1 from this exchange alone. On a
    # multi-file 100 TB input the scan is already parallel and this
    # shuffle moves ~24 bytes/row against 64× downstream work.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = base.repartition(n_part, F.col("o_orderkey"))
    # one md5 yields eight independent 16-bit draws; computing the 8 row
    # hashes BEFORE the xB explode cuts per-replicate work to substr+conv
    # (measured 8.0 s -> see SURVEY round-5 notes; 64 md5/row -> 8 md5/row)
    hashed = base.withColumn(
        "hs",
        F.expr(
            "transform(sequence(0, 7), g -> "
            + md5_hex_sql("concat(CAST(o_orderkey AS STRING), ':', CAST(g AS STRING))")
            + ")"
        ),
    )
    rep = hashed.withColumn(
        "rb", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1)))
    ).withColumn(
        "w",
        F.expr(
            _pois_case(hex_int_sql("hs[rb div 8]", 4, "4 * (rb % 8)"))
        ),
    )
    means = rep.groupBy("pri", "rb").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w")
            / 100
        ).alias("mean_b")
    )
    w_rank = Window.partitionBy("pri").orderBy("mean_b", "rb")
    # |groups|·B rows (320 at sf0.1) feed TWO consumers (the rank-2 and
    # rank-63 filters); without a lineage cut the ×B expansion subtree
    # re-embeds under both broadcast builds and the whole replicate pass
    # runs twice — the checkpoint halves the expansion at any scale for a
    # bounded-row materialization (round-14 optimization).
    ranked = means.withColumn("rn", F.row_number().over(w_rank)).localCheckpoint(
        eager=False
    )
    pt = base.groupBy("pri").agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("cents").cast("double") / F.count("*") / 100).alias("mean"),
    )
    lo = ranked.filter(F.col("rn") == 2).select(
        F.col("pri").alias("pri_lo"), F.col("mean_b").alias("lo")
    )
    hi = ranked.filter(F.col("rn") == _BOOT_B - 1).select(
        F.col("pri").alias("pri_hi"), F.col("mean_b").alias("hi")
    )
    return (
        pt.join(F.broadcast(lo), pt.pri == lo.pri_lo)
        .join(F.broadcast(hi), pt.pri == hi.pri_hi)
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n",
            F.round("mean", 4).alias("mean"),
            F.round("lo", 4).alias("ci_lo"),
            F.round("hi", 4).alias("ci_hi"),
        )
    )


#: Benford's-law expected first-digit frequencies, permille (floor(1000 *
#: log10(1 + 1/d) + 0.5) precomputed as literals — no engine transcendental)
_BENFORD_PERMILLE = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67, 7: 58, 8: 51, 9: 46}

_BENFORD_CASE = "CASE d " + " ".join(
    f"WHEN '{d}' THEN {p}" for d, p in _BENFORD_PERMILLE.items()
) + " END"


@register(
    "agg_benford_deviation",
    oracle=f"""
    WITH digits AS (
        SELECT substr(CAST({cents_sql('o_totalprice')}
                           AS VARCHAR), 1, 1) AS d
        FROM orders
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM digits
    ), obs AS (
        SELECT d, CAST(count(*) AS BIGINT) AS n_d FROM digits GROUP BY d
    )
    SELECT CAST(obs.d AS BIGINT) AS digit,
           obs.n_d,
           CAST(1000 * obs.n_d // tot.n AS BIGINT) AS obs_permille,
           CAST({_BENFORD_CASE} AS BIGINT) AS exp_permille,
           CAST(1000 * obs.n_d // tot.n - ({_BENFORD_CASE}) AS BIGINT)
               AS dev_permille
    FROM obs, tot
    """,
)
def agg_benford_deviation(spark, sf_dir):
    """Benford's-law first-digit audit over order values — the
    fraud/data-quality screen: observed leading-digit frequencies against
    the log10(1+1/d) expectation. The leading digit comes from the STRING
    form of the integer cents (×100 shifts the decimal point without
    changing the leading significant digit), so no log10/pow runs in
    either engine; the expected frequencies are precomputed permille
    literals and the deviation is integer arithmetic throughout. TPC-H
    prices are near-uniform in a fixed range, so large deviations are
    EXPECTED here — the op verifies the measurement machinery, and its
    docstring honestly reports that this corpus is a Benford
    counter-example, not a conforming one.

    100 TB: one map (substr of a cast) + a 9-group aggregate — scan-bound
    with a constant-size shuffle."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            cents("o_totalprice").cast("string"), 1, 1
        ).alias("d")
    )
    tot = digits.agg(F.count("*").cast("long").alias("n"))
    obs = digits.groupBy("d").agg(F.count("*").cast("long").alias("n_d"))
    exp_col = F.expr(_BENFORD_CASE).cast("long")
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").cast("long").alias("digit"),
        "n_d",
        F.expr("1000 * n_d div n").cast("long").alias("obs_permille"),
        exp_col.alias("exp_permille"),
        (F.expr("1000 * n_d div n") - exp_col).cast("long").alias("dev_permille"),
    )


@register(
    "agg_hhi_concentration",
    oracle=f"""
    WITH s AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey,
               CAST(sum({cents_sql('o.o_totalprice')})
                    AS BIGINT) AS cust_cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ), t AS (
        SELECT seg, CAST(sum(cust_cents) AS HUGEINT) AS tot,
               CAST(sum(CAST(cust_cents AS HUGEINT) * cust_cents) AS HUGEINT)
                   AS sumsq,
               CAST(count(*) AS BIGINT) AS n_custs
        FROM s GROUP BY seg
    )
    SELECT seg AS c_mktsegment, n_custs,
           CAST(10000 * sumsq // (tot * tot) AS BIGINT) AS hhi_bp,
           CAST(10000 // n_custs AS BIGINT) AS uniform_hhi_bp
    FROM t
    """,
)
def agg_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman concentration index per market segment: HHI =
    Σ share_i² over each customer's revenue share of the segment, in
    basis points — the market-concentration companion to
    agg_gini_segments (HHI weights the LARGE players quadratically where
    Gini measures overall dispersion). Computed entirely in integers:
    HHI_bp = 10⁴·Σc_i² / (Σc_i)² with cent sums in decimal/HUGEINT (Σc²
    passes int64 around 10⁵ customers at max order values), one
    floor-division at the end. The uniform baseline 10⁴/n is emitted so
    the reader sees concentration relative to the all-equal floor.

    100 TB: two stacked partial aggregates (customer rollup, then
    segment moments) — shuffle volume is |customers| then |segments|."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("cust_cents"))
    )
    t = s.groupBy("seg").agg(
        F.sum("cust_cents").cast("decimal(38,0)").alias("tot"),
        F.sum(F.col("cust_cents").cast("decimal(38,0)") * F.col("cust_cents"))
        .cast("decimal(38,0)")
        .alias("sumsq"),
        F.count("*").cast("long").alias("n_custs"),
    )
    # `div` (integral divide) on decimals truncates EXACTLY; a `/` + cast
    # would round the decimal quotient at its result scale first and can
    # step over an integer boundary a floor never crosses
    return t.select(
        F.col("seg").alias("c_mktsegment"),
        "n_custs",
        F.expr(
            "CAST((CAST(10000 AS DECIMAL(38,0)) * sumsq) div (tot * tot) AS BIGINT)"
        ).alias("hhi_bp"),
        F.expr("CAST(10000 div n_custs AS BIGINT)").alias("uniform_hhi_bp"),
    )


@register(
    "agg_winsorized_mean",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS pri,
               {cents_sql('o_totalprice')} AS cents
        FROM orders
    ), ranked AS (
        SELECT pri, cents,
               row_number() OVER (PARTITION BY pri ORDER BY cents) AS rn,
               CAST(count(*) OVER (PARTITION BY pri) AS BIGINT) AS n
        FROM c
    ), cuts AS (
        SELECT pri,
               max(CASE WHEN rn = (n * 5 + 99) // 100 THEN cents END) AS lo,
               max(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END) AS hi,
               max(n) AS n
        FROM ranked GROUP BY pri
    )
    SELECT r.pri AS o_orderpriority,
           cuts.n,
           cuts.lo AS p05_cents,
           cuts.hi AS p95_cents,
           CAST(sum(least(greatest(r.cents, cuts.lo), cuts.hi)) // cuts.n
                AS BIGINT) AS winsorized_mean_cents,
           CAST(sum(r.cents) // cuts.n AS BIGINT) AS raw_mean_cents
    FROM ranked r JOIN cuts ON r.pri = cuts.pri
    GROUP BY r.pri, cuts.n, cuts.lo, cuts.hi
    """,
)
def agg_winsorized_mean(spark, sf_dir):
    """5%-winsorized mean order value per priority: values below the p5 /
    above the p95 cut are CLAMPED to the cut (not dropped — winsorizing
    keeps n and dampens tails where trimming changes the denominator).
    The cuts are nearest-rank order statistics — rank ceil(q·n) by
    row_number over the deterministic (cents, …) order — never
    interpolated percentiles, so the whole computation is integer-exact
    end to end (the raw mean is emitted beside it to show the tail
    influence). The robust-location companion to events_anomaly_mad's
    robust-scale flags.

    100 TB: one keyed window for ranks (same shuffle the groupBy needs),
    a |groups|-row cut table broadcast back, one clamped sum. For
    heavier data swap the rank window for the distributed-CDF bucket
    shape (agg_ks_test) — semantics identical."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderpriority").alias("pri"), cents("o_totalprice").alias("cents")
    )
    w = Window.partitionBy("pri").orderBy("cents")
    wn = Window.partitionBy("pri")
    ranked = c.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn).cast("long")
    )
    cuts = ranked.groupBy("pri").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n * 5 + 99) div 100"), F.col("cents"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.expr("(n * 95 + 99) div 100"), F.col("cents"))
        ).alias("hi"),
        F.max("n").alias("n"),
    )
    return (
        ranked.select("pri", "cents")
        .join(F.broadcast(cuts.withColumnRenamed("pri", "pri_c")),
              F.col("pri") == F.col("pri_c"))
        .groupBy("pri", "n", "lo", "hi")
        .agg(
            F.expr("CAST(sum(least(greatest(cents, lo), hi)) div n AS BIGINT)")
            .alias("winsorized_mean_cents"),
            F.expr("CAST(sum(cents) div n AS BIGINT)").alias("raw_mean_cents"),
        )
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n",
            F.col("lo").alias("p05_cents"),
            F.col("hi").alias("p95_cents"),
            "winsorized_mean_cents",
            "raw_mean_cents",
        )
    )


@register(
    "agg_pareto_crossover",
    oracle=f"""
    WITH s AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey,
               CAST(sum({cents_sql('o.o_totalprice')})
                    AS BIGINT) AS cust_cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ), r AS (
        SELECT seg, cust_cents,
               row_number() OVER w AS rn,
               CAST(sum(cust_cents) OVER (
                   PARTITION BY seg ORDER BY cust_cents DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum,
               CAST(sum(cust_cents) OVER (PARTITION BY seg) AS BIGINT) AS tot,
               CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n_custs
        FROM s
        WINDOW w AS (PARTITION BY seg ORDER BY cust_cents DESC, o_custkey)
    )
    SELECT seg AS c_mktsegment,
           max(n_custs) AS n_custs,
           CAST(min(rn) AS BIGINT) AS k_top,
           CAST(1000 * min(rn) // max(n_custs) AS BIGINT)
               AS top_share_permille
    FROM r WHERE 5 * cum >= 4 * tot
    GROUP BY seg
    """,
)
def agg_pareto_crossover(spark, sf_dir):
    """Pareto 80/20 crossover per market segment: the smallest k such that
    the top-k customers (by revenue) hold ≥ 80% of segment revenue, and
    that k as a permille of the customer base — the concentration readout
    stated the way an account team consumes it ('x% of customers are 80%
    of revenue'). The 80% cut is the integer cross-multiplication
    5·cumsum ≥ 4·total on the rank-ordered running sum (deterministic
    (revenue DESC, custkey) order), so no percentage float exists; near-
    uniform TPC-H spend puts the crossover near 700‰ rather than 200‰,
    which the test asserts as the honest null reading.

    100 TB: one customer rollup shuffle, one per-segment window over the
    ROLLED-UP frame (|customers| rows, not |orders|), and a min-filter —
    the same two-stage shape as agg_hhi_concentration."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("cust_cents"))
    )
    w = Window.partitionBy("seg").orderBy(F.desc("cust_cents"), "o_custkey")
    wp = Window.partitionBy("seg")
    r = s.select(
        "seg",
        F.row_number().over(w).alias("rn"),
        F.sum("cust_cents")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum"),
        F.sum("cust_cents").over(wp).cast("long").alias("tot"),
        F.count("*").over(wp).cast("long").alias("n_custs"),
    )
    return (
        r.filter(5 * F.col("cum") >= 4 * F.col("tot"))
        .groupBy(F.col("seg").alias("c_mktsegment"))
        .agg(
            F.max("n_custs").alias("n_custs"),
            F.min("rn").cast("long").alias("k_top"),
            F.expr("CAST(1000 * min(rn) div max(n_custs) AS BIGINT)").alias(
                "top_share_permille"
            ),
        )
    )


@register(
    "agg_linear_trend",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri,
               CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
                              o_orderdate) AS BIGINT) AS x,
               CAST(sum({cents_sql('o_totalprice')})
                    AS BIGINT) AS y
        FROM orders GROUP BY 1, 2
    ), m AS (
        SELECT pri, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM daily GROUP BY pri
    )
    SELECT pri AS o_orderpriority,
           CAST(n AS BIGINT) AS n_days,
           CAST(1000000 * (n * sxy - sx * sy)
                // (n * sxx - sx * sx) AS BIGINT) AS slope_microcents_per_day,
           CAST(sy // n AS BIGINT) AS mean_daily_cents
    FROM m
    """,
)
def agg_linear_trend(spark, sf_dir):
    """Per-priority OLS revenue trend: slope of the daily-revenue-vs-day
    least-squares line, closed form slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    evaluated entirely on exact integers — x is the integer day index
    (datediff vs a pinned anchor), y the exact daily cents sum, the four
    moments accumulate in decimal(38,0)/HUGEINT (nΣxy scales past int64 at
    cluster SFs), and the single division is the truncating integer div
    both engines share (toward zero, signed — verified), scaled to
    micro-cents/day first so no precision is thrown away. No float exists
    anywhere in the plan.

    100 TB: two groupBy passes (daily rollup, then 5-group moments) with
    full map-side partial aggregation — the regression itself is O(groups).
    This is the mergeable-moments pattern (same family as agg_ab_ttest):
    shard moments add, so the fit distributes perfectly."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("pri"),
            F.datediff(
                F.col("o_orderdate"),
                F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
            )
            .cast("long")
            .alias("x"),
            cents("o_totalprice").alias("cents"),
        )
        .groupBy("pri", "x")
        .agg(F.sum("cents").alias("y"))
    )
    dec = "decimal(38,0)"
    m = daily.groupBy("pri").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
    )
    return m.select(
        F.col("pri").alias("o_orderpriority"),
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            """CAST(1000000 * (n * sxy - sx * sy)
                    div (n * sxx - sx * sx) AS BIGINT)"""
        ).alias("slope_microcents_per_day"),
        F.expr("CAST(sy div n AS BIGINT)").alias("mean_daily_cents"),
    )


@register(
    "agg_count_min_sketch",
    oracle=f"""
    WITH ev AS (SELECT user_id FROM events),
    r AS (SELECT unnest([0, 1, 2]) AS r),
    cells AS (
        SELECT r.r,
               {md5_bucket_duck(
                   "CAST(r.r AS VARCHAR) || '|' || CAST(ev.user_id AS VARCHAR)", 32)} AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM ev CROSS JOIN r GROUP BY 1, 2
    ), keys AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
        FROM ev GROUP BY user_id
    )
    SELECT k.user_id, k.exact_count,
           CAST(min(c.c) AS BIGINT) AS cms_estimate,
           CAST(min(c.c) - k.exact_count AS BIGINT) AS overcount
    FROM keys k
    CROSS JOIN r
    JOIN cells c
      ON c.r = r.r
     AND c.b = {md5_bucket_duck(
                   "CAST(r.r AS VARCHAR) || '|' || CAST(k.user_id AS VARCHAR)", 32)}
    GROUP BY k.user_id, k.exact_count
    """,
)
def agg_count_min_sketch(spark, sf_dir):
    """Count-Min sketch built in pure SQL: a 3×32 counter matrix (three
    md5-salted hash rows, 32 buckets) over the event stream, then the CMS
    point estimate min_r counter[r][h_r(key)] for every key, emitted
    beside the exact count and the (always ≥ 0) overcount — the sketch's
    one-sided error made visible and hash-verifiable, since md5 bucketing
    is deterministic across engines, partitionings, and merges.

    100 TB: the 96-cell counter matrix is a map-side-combined groupBy over
    the raw stream (each shard's partial matrix ADDS — the mergeability
    that makes CMS the streaming/distributed frequency primitive; same
    family as agg_hll_sketch_merge); the estimate pass broadcasts the
    96-row matrix back onto the distinct-key rollup. Nothing in the plan
    holds per-key state beyond the keyed rollup itself."""
    e = load_table(spark, sf_dir, "events").select("user_id")

    def bucket(r, key_col):
        return md5_bucket(F.concat(F.lit(f"{r}|"), F.col(key_col).cast("string")), 32)

    hashed = e.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), bucket(r, "user_id").alias("b"))
                    for r in (0, 1, 2)
                ]
            )
        ).alias("h")
    ).select("h.r", "h.b")
    cells = hashed.groupBy("r", "b").agg(F.count("*").cast("long").alias("c"))
    keys = e.groupBy("user_id").agg(F.count("*").cast("long").alias("exact_count"))
    probes = keys.select(
        "user_id",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), bucket(r, "user_id").alias("b"))
                    for r in (0, 1, 2)
                ]
            )
        ).alias("h"),
    ).select("user_id", "exact_count", "h.r", "h.b")
    return (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
        )
    )


@register(
    "agg_quantile_sketch",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS pri,
               {cents_sql('o_totalprice')} AS cents
        FROM orders
    ), binned AS (
        SELECT pri, length(bin(cents)) AS b, CAST(count(*) AS BIGINT) AS c
        FROM c GROUP BY 1, 2
    ), cum AS (
        SELECT pri, b, c,
               sum(c) OVER (PARTITION BY pri ORDER BY b) AS le,
               sum(c) OVER (PARTITION BY pri) AS n
        FROM binned
    ), hit AS (
        SELECT pri, CAST(max(n) AS BIGINT) AS n,
               min(CASE WHEN 100 * le >= 50 * n THEN b END) AS b50,
               min(CASE WHEN 100 * le >= 95 * n THEN b END) AS b95,
               min(CASE WHEN 100 * le >= 99 * n THEN b END) AS b99
        FROM cum GROUP BY pri
    )
    SELECT pri AS o_orderpriority, n,
           CAST(1 << (b50 - 1) AS BIGINT) AS p50_lo_cents,
           CAST((1 << b50) - 1 AS BIGINT)  AS p50_hi_cents,
           CAST(1 << (b95 - 1) AS BIGINT) AS p95_lo_cents,
           CAST((1 << b95) - 1 AS BIGINT)  AS p95_hi_cents,
           CAST(1 << (b99 - 1) AS BIGINT) AS p99_lo_cents,
           CAST((1 << b99) - 1 AS BIGINT)  AS p99_hi_cents
    FROM hit
    """,
)
def agg_quantile_sketch(spark, sf_dir):
    """Mergeable quantile sketch: a log₂-binned histogram per segment (bin
    = the integer bit-length of the cents value — computed as the LENGTH
    of the binary string, an exact integer in both engines; never log(),
    which is a libm transcendental) answers p50/p95/p99 with guaranteed
    2× relative error, emitting each quantile's exact [2^(b−1), 2^b−1]
    bin bounds. Nearest-rank bin selection is the integer cross-multiply
    100·cum ≥ q·n — no percentile interpolation, no float.

    This is the t-digest/KLL niche done with a provable-error fixed-bin
    sketch: per-shard bin counts ADD, so at 100 TB every executor emits
    its ≤64-bin partial, one map-side-combined groupBy merges them, and
    the quantile read-out runs on segments×64 rows — the exact
    percentile_disc alternative when a full sort per segment is
    unaffordable and a bounded relative error is acceptable (accuracy is
    tunable by sub-bin splitting; the MERGEABILITY is the point). The
    per-segment cum window is bounded by the 64-bin domain."""
    o = load_table(spark, sf_dir, "orders")
    binned = (
        o.select(
            F.col("o_orderpriority").alias("pri"),
            cents("o_totalprice").alias("cents"),
        )
        .select("pri", F.length(F.conv(F.col("cents").cast("string"), 10, 2)).alias("b"))
        .groupBy("pri", "b")
        .agg(F.count("*").cast("long").alias("c"))
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("pri")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("pri")
    cum = binned.select(
        "pri",
        "b",
        "c",
        F.sum("c").over(wcum).alias("le"),
        F.sum("c").over(wall).alias("n"),
    )
    hit = cum.groupBy("pri").agg(
        F.max("n").cast("long").alias("n"),
        F.min(F.when(100 * F.col("le") >= 50 * F.col("n"), F.col("b"))).alias("b50"),
        F.min(F.when(100 * F.col("le") >= 95 * F.col("n"), F.col("b"))).alias("b95"),
        F.min(F.when(100 * F.col("le") >= 99 * F.col("n"), F.col("b"))).alias("b99"),
    )
    return hit.select(
        F.col("pri").alias("o_orderpriority"),
        "n",
        F.expr("shiftleft(1L, b50 - 1)").alias("p50_lo_cents"),
        F.expr("shiftleft(1L, b50) - 1").alias("p50_hi_cents"),
        F.expr("shiftleft(1L, b95 - 1)").alias("p95_lo_cents"),
        F.expr("shiftleft(1L, b95) - 1").alias("p95_hi_cents"),
        F.expr("shiftleft(1L, b99 - 1)").alias("p99_lo_cents"),
        F.expr("shiftleft(1L, b99) - 1").alias("p99_hi_cents"),
    )


#: Mergeable-quantile-sketch geometry: bottom-K_SHARD sample rows per
#: (group, shard) partial, bottom-K_MERGE of the shard-partial union per
#: group. K_MERGE rank error ~ 0.5/sqrt(512) ≈ 2.2% — the pinned test bound
#: (tests/test_aggregates.py) is the observed sf0.01 error with 2× headroom.
_QSKM_K_SHARD = 128
_QSKM_K_MERGE = 512


def _nearest_rank_quantiles(frame, group_cols, total_alias, out50, out90):
    """Nearest-rank p50/p90 read-out over a (group_cols, k, cents) frame:
    rank by (cents, k) within the group, then the smallest cents whose
    rank clears the integer cross-multiply 100·r ≥ q·total — no
    percentile interpolation, no float. THE shared read-out for the whole
    sketch family (agg_quantile_sketch_merge, plan_quantile_sketch_geometry,
    streaming/streams.stream_quantile_ingest): the geometry planner's
    K=512-equals-shard-merge pin only means anything if all three read
    quantiles by literally the same rule."""
    wrank = Window.partitionBy(*group_cols).orderBy("cents", "k")
    wall = Window.partitionBy(*group_cols)
    ranked = frame.select(
        *group_cols,
        "cents",
        F.row_number().over(wrank).alias("r"),
        F.count(F.lit(1)).over(wall).alias("t"),
    )
    return ranked.groupBy(*group_cols).agg(
        F.max("t").cast("long").alias(total_alias),
        F.min(
            F.when(100 * F.col("r") >= 50 * F.col("t"), F.col("cents"))
        ).alias(out50),
        F.min(
            F.when(100 * F.col("r") >= 90 * F.col("t"), F.col("cents"))
        ).alias(out90),
    )


@register(
    "agg_quantile_sketch_merge",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS pri, o_orderkey AS k,
               {cents_sql('o_totalprice')} AS cents,
               CAST(o_orderkey % 16 AS BIGINT) AS shard,
               {md5_int_duck("o_orderkey", 12)}
                   AS skey
        FROM orders
    ), partials AS (
        SELECT pri, k, cents, skey,
               row_number() OVER (PARTITION BY pri, shard
                                  ORDER BY skey, k) AS rn
        FROM c
    ), merged AS (
        SELECT pri, k, cents,
               row_number() OVER (PARTITION BY pri ORDER BY skey, k) AS rn2
        FROM partials WHERE rn <= {_QSKM_K_SHARD}
    ), sranked AS (
        SELECT pri, cents,
               row_number() OVER (PARTITION BY pri ORDER BY cents, k) AS r,
               count(*) OVER (PARTITION BY pri) AS m
        FROM merged WHERE rn2 <= {_QSKM_K_MERGE}
    ), est AS (
        SELECT pri, CAST(max(m) AS BIGINT) AS m,
               min(CASE WHEN 100 * r >= 50 * m THEN cents END) AS p50_cents,
               min(CASE WHEN 100 * r >= 90 * m THEN cents END) AS p90_cents
        FROM sranked GROUP BY pri
    ), eranked AS (
        SELECT pri, cents,
               row_number() OVER (PARTITION BY pri ORDER BY cents, k) AS r,
               count(*) OVER (PARTITION BY pri) AS n
        FROM c
    ), ex AS (
        SELECT pri, CAST(max(n) AS BIGINT) AS n,
               min(CASE WHEN 100 * r >= 50 * n THEN cents END)
                   AS exact_p50_cents,
               min(CASE WHEN 100 * r >= 90 * n THEN cents END)
                   AS exact_p90_cents
        FROM eranked GROUP BY pri
    )
    SELECT est.pri AS o_orderpriority, ex.n, est.m,
           est.p50_cents, est.p90_cents,
           ex.exact_p50_cents, ex.exact_p90_cents,
           CAST(abs(est.p50_cents - ex.exact_p50_cents) * 1000
                // ex.exact_p50_cents AS BIGINT) AS err_p50_permille,
           CAST(abs(est.p90_cents - ex.exact_p90_cents) * 1000
                // ex.exact_p90_cents AS BIGINT) AS err_p90_permille
    FROM est JOIN ex ON est.pri = ex.pri
    """,
)
def agg_quantile_sketch_merge(spark, sf_dir):
    """Union-mergeable quantile sketch (VERDICT r11 item 6) — the quantile
    twin of agg_hll_sketch_merge, via a two-level KMV-style coordinated
    sample: each of 16 shards keeps its bottom-128 rows by a deterministic
    48-bit md5 sample key (the repo's one cross-engine hash, the
    dedup_minhash_openvocab idiom), the per-group merge re-takes the
    bottom-512 of the shard-partial union, and p50/p90 read out by
    nearest-rank (integer cross-multiply 100·r ≥ q·m — no interpolation,
    no float) over the merged sample's cents values.

    Bottom-k-by-hash is the sketch that MERGES by construction: the
    bottom-k of a union of bottom-k partials equals the union's bottom-k
    whenever no shard holds more than k of the global winners (16 shards ×
    128 ≫ 512 global — astronomically safe margins here; and even when the
    cap binds the merge is still a deterministic uniform-by-hash sample,
    so the oracle, which replicates the same two-stage rule, agrees
    exactly). At 100 TB: the partial stage shuffles once on (group, shard)
    and keeps ≤k rows of state per shard — yesterday's partials persist
    and never rescan, exactly like the HLL twin's register files — the
    merge moves only groups×k sample rows, and the read-out runs on
    groups×512. log₂-bin agg_quantile_sketch trades accuracy-per-byte
    differently (bounded RELATIVE value error vs this sketch's bounded
    RANK error with exact sample values); shipping both is the point.

    Unlike the rows-only HLL twin, every stage here is integer/md5-exact
    in both engines, so this key is fully HASH-oracled: the truth arm
    (exact nearest-rank p50/p90 via a full per-group sort — the
    verification harness you would drop at 100 TB) and the quantized
    err_*_permille self-signals are part of the compared product. At tiny
    scales (group n ≤ 512) the sample IS the group and err = 0;
    tests/test_aggregates.py pins that plus the sf0.01 error bound."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderkey").alias("k"),
            cents("o_totalprice").alias("cents"),
        )
        .withColumn("shard", F.pmod(F.col("k"), F.lit(16)))
        .withColumn(
            "skey",
            md5_int("k", 12),
        )
    )
    wpart = Window.partitionBy("pri", "shard").orderBy("skey", "k")
    partials = o.withColumn("rn", F.row_number().over(wpart)).filter(
        F.col("rn") <= _QSKM_K_SHARD
    )
    wmerge = Window.partitionBy("pri").orderBy("skey", "k")
    merged = partials.withColumn("rn2", F.row_number().over(wmerge)).filter(
        F.col("rn2") <= _QSKM_K_MERGE
    )

    est = _nearest_rank_quantiles(merged, ["pri"], "m", "p50_cents", "p90_cents")
    ex = _nearest_rank_quantiles(
        o, ["pri"], "n", "exact_p50_cents", "exact_p90_cents"
    )
    return est.join(ex, "pri").select(
        F.col("pri").alias("o_orderpriority"),
        "n",
        "m",
        "p50_cents",
        "p90_cents",
        "exact_p50_cents",
        "exact_p90_cents",
        (
            F.floor(
                F.abs(F.col("p50_cents") - F.col("exact_p50_cents"))
                * F.lit(1000)
                / F.col("exact_p50_cents")
            )
            .cast("long")
            .alias("err_p50_permille")
        ),
        (
            F.floor(
                F.abs(F.col("p90_cents") - F.col("exact_p90_cents"))
                * F.lit(1000)
                / F.col("exact_p90_cents")
            )
            .cast("long")
            .alias("err_p90_permille")
        ),
    )


@register(
    "agg_seasonality_dow",
    oracle=f"""
    WITH d AS (
        SELECT o_orderpriority AS pri,
               CAST(date_part('isodow', o_orderdate) AS BIGINT) AS dow,
               {cents_sql('o_totalprice')} AS cents
        FROM orders
    ), per AS (
        SELECT pri, dow, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM d GROUP BY pri, dow
    ), tot AS (
        SELECT pri, CAST(sum(revenue_cents) AS BIGINT) AS total_cents FROM per
        GROUP BY pri
    )
    SELECT p.pri AS o_orderpriority, p.dow, p.n_orders, p.revenue_cents,
           CAST(7000 * CAST(p.revenue_cents AS HUGEINT)
                // t.total_cents AS BIGINT) AS seasonality_permille
    FROM per p JOIN tot t ON p.pri = t.pri
    """,
)
def agg_seasonality_dow(spark, sf_dir):
    """Day-of-week seasonality index per priority: each ISO weekday's
    revenue share scaled so a perfectly flat week reads 1000‰ per day
    (7000·share, truncating div — integer exact; ISO dow pinned Mon=1 on
    both engines, the fn_date convention). The index > 1000 marks
    over-trading days; the test asserts the 7 values straddle 1000.

    100 TB: one (priority, dow) rollup (map-side combined, ≤ 35 groups)
    + a broadcast totals join. The HUGEINT/decimal product: 7000·cents
    exceeds int64 once a segment's revenue passes ~1.3e15 cents."""
    o = load_table(spark, sf_dir, "orders")
    per = (
        o.select(
            F.col("o_orderpriority").alias("pri"),
            (F.weekday("o_orderdate") + 1).cast("long").alias("dow"),
            cents("o_totalprice").alias("cents"),
        )
        .groupBy("pri", "dow")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    tot = per.groupBy("pri").agg(F.sum("revenue_cents").alias("total_cents"))
    return (
        per.join(F.broadcast(tot), "pri")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "dow",
            "n_orders",
            "revenue_cents",
            F.expr(
                """CAST(7000 * CAST(revenue_cents AS DECIMAL(38,0))
                        div total_cents AS BIGINT)"""
            ).alias("seasonality_permille"),
        )
    )


@register(
    "agg_ratio_delta_method",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               {md5_bucket_duck("user_id", 2)}
                   AS arm,
               CAST(count(*) AS BIGINT) AS y,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN {cents_sql('value')}
                             ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY user_id
    ), m AS (
        SELECT arm, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM u GROUP BY arm
    ), f AS (
        SELECT arm, CAST(n AS BIGINT) AS n_users,
               CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
               CAST(n AS DOUBLE) AS nd,
               CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
               CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
               CAST(sxy AS DOUBLE) AS sxyd
        FROM m
    ), g AS (
        SELECT arm, n_users, r,
               sqrt((((sxxd - sxd * sxd / nd)
                      - 2 * r * (sxyd - sxd * syd / nd))
                      + r * r * (syyd - syd * syd / nd))
                    / (nd - 1) / nd)
                   / (syd / nd) AS se
        FROM f
    )
    SELECT arm, n_users,
           CAST(floor(1e6 * r) AS BIGINT) AS ratio_micro,
           CAST(floor(1e6 * se) AS BIGINT) AS se_micro,
           CAST(floor(1e6 * (r - 1.96 * se)) AS BIGINT) AS ci_lo_micro,
           CAST(floor(1e6 * (r + 1.96 * se)) AS BIGINT) AS ci_hi_micro
    FROM g
    """,
)
def agg_ratio_delta_method(spark, sf_dir):
    """Ratio-metric confidence interval via the delta method — the A/B
    readout agg_ab_ttest cannot give: revenue-per-event is a ratio of two
    user-level sums, so its variance needs Var(x̄/ȳ) ≈ (vₓ − 2R·c_xy +
    R²·v_y)/(n·ȳ²), with every moment accumulated as an EXACT integer
    (HUGEINT/decimal) and the float surface confined to one pinned
    expression tree of correctly-rounded IEEE ops (div/mul/sub/sqrt —
    identical nesting in both engines ⇒ identical doubles), floored to
    micro units (floor of identical doubles never diverges; SURVEY §10
    lesson 8). Arms are the md5 hash split agg_ab_ttest uses.

    100 TB: one user-keyed rollup, one 2-group moment fold — the
    mergeable-moments family; the delta method is precisely what makes
    ratio metrics computable in one distributed pass (the naive
    alternative resamples users)."""
    e = load_table(spark, sf_dir, "events")
    arm = md5_bucket("user_id", 2)
    u = e.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.count("*").cast("long").alias("y"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                cents("value"),
            ).otherwise(0)
        ).alias("x"),
    )
    dec = "decimal(38,0)"
    m = u.groupBy("arm").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    f = m.select(
        "arm",
        F.col("n").cast("long").alias("n_users"),
        (F.col("sx").cast("double") / F.col("sy").cast("double")).alias("r"),
        F.col("n").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.col("sxx").cast("double").alias("sxxd"),
        F.col("syy").cast("double").alias("syyd"),
        F.col("sxy").cast("double").alias("sxyd"),
    )
    g = f.select(
        "arm",
        "n_users",
        "r",
        F.expr(
            """sqrt((((sxxd - sxd * sxd / nd)
                      - 2 * r * (sxyd - sxd * syd / nd))
                      + r * r * (syyd - syd * syd / nd))
                    / (nd - 1) / nd)
                   / (syd / nd)"""
        ).alias("se"),
    )
    return g.select(
        "arm",
        "n_users",
        F.floor(F.lit(1e6) * F.col("r")).cast("long").alias("ratio_micro"),
        F.floor(F.lit(1e6) * F.col("se")).cast("long").alias("se_micro"),
        F.floor(F.lit(1e6) * (F.col("r") - 1.96 * F.col("se")))
        .cast("long")
        .alias("ci_lo_micro"),
        F.floor(F.lit(1e6) * (F.col("r") + 1.96 * F.col("se")))
        .cast("long")
        .alias("ci_hi_micro"),
    )


@register(
    "agg_ab_power_mde",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               {md5_bucket_duck("user_id", 2)}
                   AS arm,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN {cents_sql('value')}
                             ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY user_id
    ), m AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM u
    ), f AS (
        SELECT n_a, n_b,
               CAST(n AS DOUBLE) AS nd,
               CAST(sx AS DOUBLE) AS sxd,
               CAST(sxx AS DOUBLE) AS sxxd
        FROM m
    ), g AS (
        SELECT n_a, n_b,
               sqrt((sxxd - sxd * sxd / nd) / (nd - 1)) AS sd,
               sxd / nd AS mean,
               CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
        FROM f
    )
    SELECT n_a, n_b,
           CAST(floor(1e4 * sd) AS BIGINT) AS pooled_sd_centicents,
           CAST(floor(1e4 * ((1.96 + 0.8416) * sd
                             * sqrt(1.0 / nad + 1.0 / nbd))) AS BIGINT)
               AS mde_abs_centicents,
           CAST(floor(1000 * ((1.96 + 0.8416) * sd
                              * sqrt(1.0 / nad + 1.0 / nbd)) / mean)
                AS BIGINT) AS mde_rel_permille
    FROM g
    """,
)
def agg_ab_power_mde(spark, sf_dir):
    """A/B power analysis: the minimum detectable effect at α = 0.05,
    power = 0.80 for the user-spend metric under the current md5 arm
    split — MDE = (z₀.₉₇₅ + z₀.₈)·sd·√(1/nₐ + 1/n_b), the number every
    experiment review asks for BEFORE shipping a test. Moments accumulate
    as exact integers; the float surface is one pinned IEEE tree
    (sub/div/mul/sqrt with the z literals 1.96 and 0.8416), floored to
    centi-cent / permille integers (floor of identical doubles never
    diverges — lesson 8).

    100 TB: one user rollup + a single global moment fold — the
    experiment-sizing query runs at the same cost as a count."""
    e = load_table(spark, sf_dir, "events")
    arm = md5_bucket("user_id", 2)
    u = e.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                cents("value"),
            ).otherwise(0)
        ).alias("x"),
    )
    dec = "decimal(38,0)"
    m = u.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    g = m.select(
        "n_a",
        "n_b",
        F.expr(
            """sqrt((CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1))"""
        ).alias("sd"),
        F.expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").alias("mean"),
        F.col("n_a").cast("double").alias("nad"),
        F.col("n_b").cast("double").alias("nbd"),
    )
    return g.select(
        "n_a",
        "n_b",
        F.floor(F.lit(1e4) * F.col("sd")).cast("long").alias("pooled_sd_centicents"),
        F.floor(
            F.lit(1e4)
            * (
                (F.lit(1.96) + F.lit(0.8416))
                * F.col("sd")
                * F.sqrt(F.lit(1.0) / F.col("nad") + F.lit(1.0) / F.col("nbd"))
            )
        )
        .cast("long")
        .alias("mde_abs_centicents"),
        F.floor(
            F.lit(1000)
            * (
                (F.lit(1.96) + F.lit(0.8416))
                * F.col("sd")
                * F.sqrt(F.lit(1.0) / F.col("nad") + F.lit(1.0) / F.col("nbd"))
            )
            / F.col("mean")
        )
        .cast("long")
        .alias("mde_rel_permille"),
    )


@register(
    "agg_rollforward_balance",
    oracle=f"""
    WITH inflow AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS ym,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS inflow_cents
        FROM orders GROUP BY 1
    ), outflow AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS ym,
               CAST(sum({cents_sql('l_extendedprice')}) AS BIGINT)
                   AS outflow_cents
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ), months AS (
        SELECT coalesce(i.ym, o.ym) AS ym,
               coalesce(i.inflow_cents, 0) AS inflow_cents,
               coalesce(o.outflow_cents, 0) AS outflow_cents
        FROM inflow i FULL OUTER JOIN outflow o ON i.ym = o.ym
    )
    SELECT ym,
           CAST(coalesce(sum(inflow_cents - outflow_cents) OVER (
                ORDER BY ym ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS opening_cents,
           inflow_cents, outflow_cents,
           CAST(sum(inflow_cents - outflow_cents) OVER (
                ORDER BY ym ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS closing_cents
    FROM months
    """,
)
def agg_rollforward_balance(spark, sf_dir):
    """Monthly balance roll-forward — the accounting reconciliation table
    (opening + inflow − outflow = closing, every month, with this
    month's closing next month's opening): order revenue flows in,
    returned-line value flows out, all exact integer cents. The identity
    is structural (both balances come from the SAME cumulative window at
    different frame ends), so it cannot drift — and the test asserts the
    ledger chains anyway, because a rollforward whose identity isn't
    checked is how reconciliation bugs ship.

    100 TB: two month-level rollups (map-side combined) + a full outer
    join on the month key + one window over the CALENDAR-bounded month
    axis — the global window is bounded by months, not rows."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    inflow = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym")).agg(
        F.sum(cents("o_totalprice")).alias("inflow_cents")
    )
    outflow = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ym"))
        .agg(
            F.sum(cents("l_extendedprice")).alias("outflow_cents")
        )
    )
    months = (
        inflow.join(outflow, "ym", "full_outer")
        .select(
            "ym",
            F.coalesce("inflow_cents", F.lit(0)).alias("inflow_cents"),
            F.coalesce("outflow_cents", F.lit(0)).alias("outflow_cents"),
        )
    )
    from pyspark.sql import Window

    net = F.col("inflow_cents") - F.col("outflow_cents")
    w_open = Window.orderBy("ym").rowsBetween(Window.unboundedPreceding, -1)
    w_close = Window.orderBy("ym").rowsBetween(Window.unboundedPreceding, 0)
    # bounded global window: one row per calendar month
    return months.select(
        "ym",
        F.coalesce(F.sum(net).over(w_open), F.lit(0))
        .cast("long")
        .alias("opening_cents"),
        "inflow_cents",
        "outflow_cents",
        F.sum(net).over(w_close).cast("long").alias("closing_cents"),
    )


@register(
    "agg_yoy_growth",
    oracle=f"""
    WITH monthly AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS ym,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS revenue_cents
        FROM orders GROUP BY 1
    )
    SELECT ym, revenue_cents,
           lag(revenue_cents, 12) OVER (ORDER BY ym) AS prior_year_cents,
           CAST(1000 * (revenue_cents - lag(revenue_cents, 12) OVER (ORDER BY ym))
                // lag(revenue_cents, 12) OVER (ORDER BY ym) AS BIGINT)
               AS yoy_growth_permille
    FROM monthly
    """,
)
def agg_yoy_growth(spark, sf_dir):
    """Year-over-year growth per month: each month against the same month
    one year earlier via lag(12) over the calendar axis, growth as a
    signed truncating permille (both engines truncate toward zero —
    verified). Months without a prior-year counterpart emit NULLs rather
    than silently dropping — the honest edge for the first year.

    100 TB: one month rollup + a window over the calendar-bounded month
    axis."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym")).agg(
        F.sum(cents("o_totalprice")).alias("revenue_cents")
    )
    w = Window.orderBy("ym")
    prior = F.lag("revenue_cents", 12).over(w)
    # bounded global window: one row per calendar month
    return monthly.select(
        "ym",
        "revenue_cents",
        prior.alias("prior_year_cents"),
        F.expr(
            """CAST(1000 * (revenue_cents - lag(revenue_cents, 12) OVER (ORDER BY ym))
                    div lag(revenue_cents, 12) OVER (ORDER BY ym) AS BIGINT)"""
        ).alias("yoy_growth_permille"),
    )


#: KMV sketch parameters: k minimum 60-bit md5-derived hash values per set.
#: Domain M = 2^60; the classic estimator D-hat = (k-1)*M / h_(k).
_KMV_K = 128
_KMV_M = 1 << 60
_KMV_H = md5_int_duck(
    "'kmv|' || CAST(user_id AS VARCHAR) || '@' || "
    "CAST(epoch_ns(ts) // 1000 // 86400000000 AS VARCHAR)",
    15,
)


@register(
    "agg_kmv_set_ops",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT event_type AS side, {_KMV_H} AS h
        FROM events WHERE event_type IN ('click', 'purchase')
    ), ska AS (
        SELECT h FROM ud WHERE side = 'click' ORDER BY h LIMIT {_KMV_K}
    ), skb AS (
        SELECT h FROM ud WHERE side = 'purchase' ORDER BY h LIMIT {_KMV_K}
    ), sku AS (
        SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb)
        ORDER BY h LIMIT {_KMV_K}
    ), ka AS (
        SELECT CAST(count(*) AS BIGINT) AS k_a, max(h) AS hk_a FROM ska
    ), kb AS (
        SELECT CAST(count(*) AS BIGINT) AS k_b, max(h) AS hk_b FROM skb
    ), ku AS (
        SELECT CAST(count(*) AS BIGINT) AS k_u, max(h) AS hk_u FROM sku
    ), com AS (
        SELECT CAST(count(*) AS BIGINT) AS n_common FROM sku
        WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)
    ), flags AS (
        SELECT h,
               max(CASE WHEN side = 'click' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN side = 'purchase' THEN 1 ELSE 0 END) AS in_b
        FROM ud GROUP BY h
    ), ex AS (
        SELECT CAST(sum(in_a) AS BIGINT) AS n_a_exact,
               CAST(sum(in_b) AS BIGINT) AS n_b_exact,
               CAST(count(*) AS BIGINT) AS n_union_exact,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_inter_exact
        FROM flags
    )
    SELECT ex.n_a_exact, ex.n_b_exact, ex.n_union_exact, ex.n_inter_exact,
           CAST(CAST(ka.k_a - 1 AS HUGEINT) * {_KMV_M} // ka.hk_a AS BIGINT)
               AS est_a,
           CAST(CAST(kb.k_b - 1 AS HUGEINT) * {_KMV_M} // kb.hk_b AS BIGINT)
               AS est_b,
           CAST(CAST(ku.k_u - 1 AS HUGEINT) * {_KMV_M} // ku.hk_u AS BIGINT)
               AS est_union,
           CAST(com.n_common * (CAST(ku.k_u - 1 AS HUGEINT) * {_KMV_M} // ku.hk_u)
                // ku.k_u AS BIGINT) AS est_inter,
           CAST(1000 * com.n_common // ku.k_u AS BIGINT) AS jaccard_est_permille,
           CAST(1000 * ex.n_inter_exact // ex.n_union_exact AS BIGINT)
               AS jaccard_exact_permille
    FROM ex CROSS JOIN ka CROSS JOIN kb CROSS JOIN ku CROSS JOIN com
    """,
)
def agg_kmv_set_ops(spark, sf_dir):
    """KMV (k-minimum-values) distinct sketches with SET-OPERATION algebra:
    sketch the set of click user-days and the set of purchase user-days
    (k = 128 smallest 60-bit md5 hashes each), then estimate |A|, |B|,
    |A∪B|, |A∩B| and the Jaccard similarity FROM THE SKETCHES ALONE —
    union sketch = k smallest of the merged sketches (KMV_k(A∪B) ⊆
    KMV_k(A) ∪ KMV_k(B), so it is exactly computable), intersection via
    the standard J-hat = |union-sketch ∩ A ∩ B| / k (membership of a
    union-sketch value in A is decidable from KMV_k(A) because the union's
    k-th minimum never exceeds A's). Everything is exact integer
    arithmetic on the deterministic hashes — the estimator
    (k−1)·2⁶⁰ div h₍ₖ₎ rides HUGEINT/decimal(38,0) — so both engines
    produce bit-identical estimates. Exact distinct counts ride along as
    audit columns (the sample_importance_estimate discipline).

    100 TB: THE mergeable-sketch pattern HLL cannot give you — KMV
    supports intersection, not just union. Per-side sketches come from
    ``ORDER BY h LIMIT k`` = TakeOrderedAndProject (per-partition top-k
    heaps, no global sort, no full shuffle); the deduplicated (side,
    user-day) frame localCheckpoints once and feeds the two sketch scans
    plus ONE exact-audit groupBy. At a real 100 TB the audit columns are
    the thing you'd drop; the sketch path shuffles k = 128 rows per set."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    h = md5_int(
        F.concat(
            F.lit("kmv|"),
            F.col("user_id").cast("string"),
            F.lit("@"),
            F.expr("ts_us div 86400000000").cast("string"),
        ),
        15,
    )
    ud = (
        e.select(F.col("event_type").alias("side"), h.alias("h"))
        .distinct()
        .localCheckpoint()
    )
    ska = ud.filter(F.col("side") == "click").select("h").orderBy("h").limit(_KMV_K)
    skb = (
        ud.filter(F.col("side") == "purchase").select("h").orderBy("h").limit(_KMV_K)
    )
    ska = ska.localCheckpoint()
    skb = skb.localCheckpoint()
    sku = ska.union(skb).distinct().orderBy("h").limit(_KMV_K).localCheckpoint()
    ka = ska.agg(
        F.count("*").cast("long").alias("k_a"), F.max("h").alias("hk_a")
    )
    kb = skb.agg(
        F.count("*").cast("long").alias("k_b"), F.max("h").alias("hk_b")
    )
    ku = sku.agg(
        F.count("*").cast("long").alias("k_u"), F.max("h").alias("hk_u")
    )
    com = (
        sku.join(ska, "h", "semi")
        .join(skb, "h", "semi")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    ex = (
        ud.groupBy("h")
        .agg(
            F.max(F.when(F.col("side") == "click", 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("side") == "purchase", 1).otherwise(0)).alias(
                "in_b"
            ),
        )
        .agg(
            F.sum("in_a").cast("long").alias("n_a_exact"),
            F.sum("in_b").cast("long").alias("n_b_exact"),
            F.count("*").cast("long").alias("n_union_exact"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter_exact"),
        )
    )
    est = lambda k, hk: F.expr(  # noqa: E731
        f"CAST(CAST({k} - 1 AS DECIMAL(38,0)) * {_KMV_M} div {hk} AS BIGINT)"
    )
    return (
        ex.crossJoin(F.broadcast(ka))
        .crossJoin(F.broadcast(kb))
        .crossJoin(F.broadcast(ku))
        .crossJoin(F.broadcast(com))
        .select(
            "n_a_exact",
            "n_b_exact",
            "n_union_exact",
            "n_inter_exact",
            est("k_a", "hk_a").alias("est_a"),
            est("k_b", "hk_b").alias("est_b"),
            est("k_u", "hk_u").alias("est_union"),
            F.expr(
                f"""CAST(n_common * (CAST(k_u - 1 AS DECIMAL(38,0)) * {_KMV_M}
                         div hk_u) div nullif(k_u, 0) AS BIGINT)"""
            ).alias("est_inter"),
            F.expr("CAST(1000 * n_common div nullif(k_u, 0) AS BIGINT)").alias(
                "jaccard_est_permille"
            ),
            F.expr(
                "CAST(1000 * n_inter_exact div nullif(n_union_exact, 0) AS BIGINT)"
            ).alias("jaccard_exact_permille"),
        )
    )


#: experiment cutover: events strictly before this epoch-µs instant are the
#: "pre" period (2024-01-16T00:00:00Z — the midpoint of the 30-day log).
_DID_CUT_US = 1_705_363_200_000_000
#: the treatment arm of a user: half of the salted md5 buckets, 'T' or 'C'
_DID_ARM_DUCK = (
    "CASE WHEN "
    + md5_bucket_duck("'did|' || CAST(user_id AS VARCHAR)", 10)
    + " < 5 THEN 'T' ELSE 'C' END"
)


def _did_arm():
    did = F.concat(F.lit("did|"), F.col("user_id").cast("string"))
    return F.when(md5_bucket(did, 10) < 5, "T").otherwise("C")


@register(
    "agg_did_uplift",
    oracle=f"""
    WITH p AS (
        SELECT {_DID_ARM_DUCK} AS arm,
               CASE WHEN epoch_ns(ts) // 1000 < {_DID_CUT_US}
                    THEN 'pre' ELSE 'post' END AS period,
               {cents_sql('value')} AS cents
        FROM events WHERE event_type = 'purchase'
    ), s AS (
        SELECT CAST(count(*) FILTER (arm = 'T' AND period = 'pre') AS BIGINT)
                   AS n_t_pre,
               CAST(count(*) FILTER (arm = 'T' AND period = 'post') AS BIGINT)
                   AS n_t_post,
               CAST(count(*) FILTER (arm = 'C' AND period = 'pre') AS BIGINT)
                   AS n_c_pre,
               CAST(count(*) FILTER (arm = 'C' AND period = 'post') AS BIGINT)
                   AS n_c_post,
               CAST(sum(CAST(cents AS HUGEINT)) FILTER (arm = 'T' AND period = 'pre')
                   AS HUGEINT) AS s_t_pre,
               CAST(sum(CAST(cents AS HUGEINT)) FILTER (arm = 'T' AND period = 'post')
                   AS HUGEINT) AS s_t_post,
               CAST(sum(CAST(cents AS HUGEINT)) FILTER (arm = 'C' AND period = 'pre')
                   AS HUGEINT) AS s_c_pre,
               CAST(sum(CAST(cents AS HUGEINT)) FILTER (arm = 'C' AND period = 'post')
                   AS HUGEINT) AS s_c_post
        FROM p
    ), m AS (
        SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
               1000000 * s_t_pre // n_t_pre AS m_t_pre,
               1000000 * s_t_post // n_t_post AS m_t_post,
               1000000 * s_c_pre // n_c_pre AS m_c_pre,
               1000000 * s_c_post // n_c_post AS m_c_post
        FROM s
    )
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
           CAST(m_t_pre AS BIGINT) AS mean_t_pre_microcents,
           CAST(m_t_post AS BIGINT) AS mean_t_post_microcents,
           CAST(m_c_pre AS BIGINT) AS mean_c_pre_microcents,
           CAST(m_c_post AS BIGINT) AS mean_c_post_microcents,
           CAST((m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS BIGINT)
               AS did_microcents
    FROM m
    """,
)
def agg_did_uplift(spark, sf_dir):
    """Difference-in-differences experiment readout: users hash into
    treatment/control arms (per-USER assignment — the unit of treatment,
    unlike agg_ab_ttest's per-order split), purchases split pre/post a
    fixed cutover instant, and the uplift estimate is the classic 2×2
    DiD — (T_post − T_pre) − (C_post − C_pre) — on mean purchase value.
    Cell means are exact integer micro-cents (10⁶·Σcents div n, sums in
    decimal(38,0)/HUGEINT), so the DiD estimate is a difference of exact
    integers: no float anywhere, bit-identical across engines. On this
    null assignment the true uplift is 0, so |DiD| should be small
    relative to the cell means — asserted in tests.

    100 TB: ONE global aggregate with eight conditional partials
    (map-side combine does all the work — a single 1-row result, zero
    joins, zero shuffles beyond the final 8-number merge); the arm/period
    labels are pure projections. This is the canonical experimentation-
    platform readout shape."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    arm = _did_arm()
    period = F.when(F.col("ts_us") < _DID_CUT_US, "pre").otherwise("post")
    p = e.select(
        arm.alias("arm"),
        period.alias("period"),
        cents("value").cast("decimal(38,0)").alias("cents"),
    )

    def cell(a, per, agg, name):
        cond = (F.col("arm") == a) & (F.col("period") == per)
        return agg(F.when(cond, F.col("cents"))).alias(name)

    s = p.agg(
        F.count(F.when((F.col("arm") == "T") & (F.col("period") == "pre"), 1))
        .cast("long")
        .alias("n_t_pre"),
        F.count(F.when((F.col("arm") == "T") & (F.col("period") == "post"), 1))
        .cast("long")
        .alias("n_t_post"),
        F.count(F.when((F.col("arm") == "C") & (F.col("period") == "pre"), 1))
        .cast("long")
        .alias("n_c_pre"),
        F.count(F.when((F.col("arm") == "C") & (F.col("period") == "post"), 1))
        .cast("long")
        .alias("n_c_post"),
        cell("T", "pre", F.sum, "s_t_pre"),
        cell("T", "post", F.sum, "s_t_post"),
        cell("C", "pre", F.sum, "s_c_pre"),
        cell("C", "post", F.sum, "s_c_post"),
    )
    m = s.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.expr("1000000 * s_t_pre div n_t_pre").alias("m_t_pre"),
        F.expr("1000000 * s_t_post div n_t_post").alias("m_t_post"),
        F.expr("1000000 * s_c_pre div n_c_pre").alias("m_c_pre"),
        F.expr("1000000 * s_c_post div n_c_post").alias("m_c_post"),
    )
    return m.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.col("m_t_pre").cast("long").alias("mean_t_pre_microcents"),
        F.col("m_t_post").cast("long").alias("mean_t_post_microcents"),
        F.col("m_c_pre").cast("long").alias("mean_c_pre_microcents"),
        F.col("m_c_post").cast("long").alias("mean_c_post_microcents"),
        F.expr("CAST((m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS BIGINT)").alias(
            "did_microcents"
        ),
    )


@register(
    "agg_cuped_adjusted",
    oracle=f"""
    WITH p AS (
        SELECT user_id,
               {_DID_ARM_DUCK} AS arm,
               CAST(sum(CASE WHEN epoch_ns(ts) // 1000 < {_DID_CUT_US}
                             THEN {cents_sql('value')}
                             ELSE 0 END) AS HUGEINT) AS x,
               CAST(sum(CASE WHEN epoch_ns(ts) // 1000 >= {_DID_CUT_US}
                             THEN {cents_sql('value')}
                             ELSE 0 END) AS HUGEINT) AS y
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ), pooled AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx
        FROM p
    ), arms AS (
        SELECT arm,
               CAST(count(*) AS HUGEINT) AS n_arm,
               CAST(sum(x) AS HUGEINT) AS sx_arm,
               CAST(sum(y) AS HUGEINT) AS sy_arm
        FROM p GROUP BY arm
    ), theta AS (
        SELECT n * sxy - sx * sy AS th_num,
               n * sxx - sx * sx AS th_den,
               n, sx
        FROM pooled
    ), adj AS (
        SELECT a.arm, CAST(a.n_arm AS BIGINT) AS n_users,
               CAST(1000000 * a.sy_arm // a.n_arm AS BIGINT)
                   AS raw_mean_microcents,
               CAST(1000000 * (a.sy_arm * t.th_den * t.n
                               - t.th_num * (a.sx_arm * t.n - t.sx * a.n_arm))
                    // (a.n_arm * t.th_den * t.n) AS BIGINT)
                   AS cuped_mean_microcents
        FROM arms a CROSS JOIN theta t
    )
    SELECT t.arm AS arm_t, c.arm AS arm_c,
           t.n_users AS n_t, c.n_users AS n_c,
           t.raw_mean_microcents AS raw_mean_t,
           c.raw_mean_microcents AS raw_mean_c,
           t.raw_mean_microcents - c.raw_mean_microcents AS raw_diff_microcents,
           t.cuped_mean_microcents AS cuped_mean_t,
           c.cuped_mean_microcents AS cuped_mean_c,
           t.cuped_mean_microcents - c.cuped_mean_microcents
               AS cuped_diff_microcents
    FROM adj t JOIN adj c ON t.arm = 'T' AND c.arm = 'C'
    """,
)
def agg_cuped_adjusted(spark, sf_dir):
    """CUPED variance-reduced experiment readout (Deng et al. 2013 — the
    industry-standard pre-period adjustment): per user, x = pre-cutover
    purchase cents (the covariate) and y = post-cutover cents (the
    metric); θ = cov(x,y)/var(x) estimated POOLED across arms, and each
    arm's adjusted mean is ȳ − θ(x̄_arm − x̄). Everything stays an exact
    integer rational — θ is carried as the pair (nΣxy − ΣxΣy,
    nΣx² − (Σx)²) and the adjusted mean is one decimal(38,0)/HUGEINT
    expression over exact sums, truncated to micro-cents — so the
    variance-reduced lift is bit-identical across engines (a float θ
    would order-depend). Same hash arms and cutover as agg_did_uplift:
    DiD corrects with the CONTROL's time delta, CUPED with each unit's
    OWN pre-period — the two standard answers to the same noise problem.

    100 TB: one user-keyed conditional rollup builds (x, y); pooled
    moments and the 2-row arm table are single partial aggregates —
    three scans of a per-user frame that is itself one shuffle of the
    fact log. Magnitude audit: Σy·θ_den·n ≈ 10³⁵ at 10⁹ users × 10⁵
    cents stays inside decimal(38,0)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    arm = _did_arm()
    value_cents = cents("value").cast("decimal(38,0)")
    p = e.groupBy("user_id", arm.alias("arm")).agg(
        F.sum(F.when(F.col("ts_us") < _DID_CUT_US, value_cents).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("x"),
        F.sum(F.when(F.col("ts_us") >= _DID_CUT_US, value_cents).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    p = p.localCheckpoint()
    pooled = p.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    arms = p.groupBy("arm").agg(
        F.count("*").cast("decimal(38,0)").alias("n_arm"),
        F.sum("x").alias("sx_arm"),
        F.sum("y").alias("sy_arm"),
    )
    adj = arms.crossJoin(F.broadcast(pooled)).select(
        "arm",
        F.col("n_arm").cast("long").alias("n_users"),
        F.expr("CAST(1000000 * sy_arm div n_arm AS BIGINT)").alias(
            "raw_mean_microcents"
        ),
        F.expr(
            """CAST(1000000 * (sy_arm * (n * sxx - sx * sx) * n
                               - (n * sxy - sx * sy)
                                 * (sx_arm * n - sx * n_arm))
                    div (n_arm * (n * sxx - sx * sx) * n) AS BIGINT)"""
        ).alias("cuped_mean_microcents"),
    )
    t = adj.filter(F.col("arm") == "T").select(
        F.col("arm").alias("arm_t"),
        F.col("n_users").alias("n_t"),
        F.col("raw_mean_microcents").alias("raw_mean_t"),
        F.col("cuped_mean_microcents").alias("cuped_mean_t"),
    )
    c = adj.filter(F.col("arm") == "C").select(
        F.col("arm").alias("arm_c"),
        F.col("n_users").alias("n_c"),
        F.col("raw_mean_microcents").alias("raw_mean_c"),
        F.col("cuped_mean_microcents").alias("cuped_mean_c"),
    )
    return t.crossJoin(F.broadcast(c)).select(
        "arm_t",
        "arm_c",
        "n_t",
        "n_c",
        "raw_mean_t",
        "raw_mean_c",
        (F.col("raw_mean_t") - F.col("raw_mean_c")).alias("raw_diff_microcents"),
        "cuped_mean_t",
        "cuped_mean_c",
        (F.col("cuped_mean_t") - F.col("cuped_mean_c")).alias(
            "cuped_diff_microcents"
        ),
    )


@register(
    "agg_price_volume_mix",
    oracle=f"""
    WITH yearly AS (
        SELECT p.p_brand,
               CAST(strftime(l.l_shipdate, '%Y') AS INTEGER) AS yr,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS q,
               CAST(sum({cents_sql('l.l_extendedprice')})
                    AS BIGINT) AS rev_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1999-01-01'
          AND l.l_shipdate < TIMESTAMP '2001-01-01'
        GROUP BY 1, 2
    ), paired AS (
        SELECT a.p_brand, a.q AS q0, b.q AS q1,
               a.rev_cents AS rev0_cents, b.rev_cents AS rev1_cents
        FROM yearly a JOIN yearly b ON a.p_brand = b.p_brand
        WHERE a.yr = 1999 AND b.yr = 2000
    ), fx AS (
        SELECT p_brand, q0, q1, rev0_cents, rev1_cents,
               CAST(1000000 * (CAST(rev1_cents AS HUGEINT) * q0
                               - CAST(rev0_cents AS HUGEINT) * q1)
                    // q1 AS BIGINT) AS price_effect_micro,
               CAST(1000000 * CAST(rev0_cents AS HUGEINT) * (q1 - q0)
                    // q0 AS BIGINT) AS volume_effect_micro
        FROM paired
    )
    SELECT p_brand, q0, q1, rev0_cents, rev1_cents,
           rev1_cents - rev0_cents AS delta_cents,
           price_effect_micro, volume_effect_micro,
           1000000 * (rev1_cents - rev0_cents)
               - price_effect_micro - volume_effect_micro AS joint_effect_micro
    FROM fx
    """,
)
def agg_price_volume_mix(spark, sf_dir):
    """Price-volume-mix decomposition of year-over-year revenue growth per
    brand (the FP&A bridge chart): Δrev splits into a price effect
    (p₁ − p₀)·q₀ = (rev₁·q₀ − rev₀·q₁) div q₁, a volume effect
    p₀·(q₁ − q₀) = rev₀·Δq div q₀, and the joint term defined RESIDUALLY
    (10⁶·Δrev − price − volume) so the three effects reconcile to the
    revenue bridge EXACTLY by construction — no float drift can break the
    waterfall. Unit prices never materialize as floats; both effects are
    single HUGEINT/decimal(38,0) rationals truncated to micro-cents.

    100 TB: one (brand, year)-keyed rollup over the fact scan with the
    shipdate predicate pushed to parquet, then a self-join on the ≤25-row
    brand axis — the decomposition is free once the rollup exists."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1999-01-01") & (F.col("l_shipdate") < "2001-01-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    yearly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.year("l_shipdate").alias("yr"))
        .agg(
            F.sum(F.round("l_quantity").cast("long")).alias("q"),
            F.sum(cents("l_extendedprice")).alias("rev_cents"),
        )
    )
    a = yearly.filter(F.col("yr") == 1999).select(
        "p_brand",
        F.col("q").alias("q0"),
        F.col("rev_cents").alias("rev0_cents"),
    )
    b = yearly.filter(F.col("yr") == 2000).select(
        "p_brand",
        F.col("q").alias("q1"),
        F.col("rev_cents").alias("rev1_cents"),
    )
    fx = a.join(b, "p_brand").select(
        "p_brand",
        "q0",
        "q1",
        "rev0_cents",
        "rev1_cents",
        F.expr(
            """CAST(1000000 * (CAST(rev1_cents AS DECIMAL(38,0)) * q0
                               - CAST(rev0_cents AS DECIMAL(38,0)) * q1)
                    div q1 AS BIGINT)"""
        ).alias("price_effect_micro"),
        F.expr(
            """CAST(1000000 * CAST(rev0_cents AS DECIMAL(38,0)) * (q1 - q0)
                    div q0 AS BIGINT)"""
        ).alias("volume_effect_micro"),
    )
    return fx.select(
        "p_brand",
        "q0",
        "q1",
        "rev0_cents",
        "rev1_cents",
        (F.col("rev1_cents") - F.col("rev0_cents")).alias("delta_cents"),
        "price_effect_micro",
        "volume_effect_micro",
        (
            F.lit(1000000) * (F.col("rev1_cents") - F.col("rev0_cents"))
            - F.col("price_effect_micro")
            - F.col("volume_effect_micro")
        ).alias("joint_effect_micro"),
    )


@register(
    "agg_quantile_treatment_effect",
    oracle=f"""
    WITH p AS (
        SELECT event_id,
               {_DID_ARM_DUCK} AS arm,
               {cents_sql('value')} AS cents
        FROM events WHERE event_type = 'purchase'
    ), ranked AS (
        SELECT arm, cents,
               CAST(row_number() OVER (PARTITION BY arm
                                       ORDER BY cents, event_id) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY arm) AS BIGINT) AS n
        FROM p
    ), deciles AS (
        SELECT r.arm, d.k, r.cents
        FROM ranked r JOIN (SELECT unnest(range(1, 10)) AS k) d
          ON r.rn = (d.k * r.n + 9) // 10
    )
    SELECT t.k AS decile,
           t.cents AS t_value_cents,
           c.cents AS c_value_cents,
           t.cents - c.cents AS qte_cents
    FROM deciles t JOIN deciles c ON t.k = c.k
    WHERE t.arm = 'T' AND c.arm = 'C'
    """,
)
def agg_quantile_treatment_effect(spark, sf_dir):
    """Quantile treatment effects — the distributional view the mean-based
    readouts (t-test, DiD, CUPED) cannot give: per decile k, the exact
    nearest-rank quantile (rank ⌈k·n/10⌉ = (k·n+9) div 10, ties broken by
    event_id so the order statistic is fully determined) of purchase
    value in each hash arm, and their difference. A treatment that only
    moves the tail shows a flat QTE curve with a spiked 9th decile —
    invisible to every mean. All integer cents; no interpolation (the
    nearest-rank estimator is the one that stays exact).

    100 TB: one ranking window per arm (two partitions here — the
    documented exact path; the mergeable approx path is
    agg_quantile_sketch) + a 9-row broadcast rank probe; the decile join
    touches 9 rows per arm."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    arm = _did_arm()
    p = e.select(
        "event_id",
        arm.alias("arm"),
        cents("value").alias("cents"),
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("arm").orderBy("cents", "event_id")
    wn = Window.partitionBy("arm")
    ranked = p.select(
        "arm",
        "cents",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    ks = spark.range(1, 10).select(F.col("id").cast("long").alias("k"))
    deciles = ranked.join(
        F.broadcast(ks),
        F.col("rn") == F.expr("(k * n + 9) div 10"),
    ).select("arm", "k", "cents")
    t = deciles.filter(F.col("arm") == "T").select(
        F.col("k").alias("decile"), F.col("cents").alias("t_value_cents")
    )
    c = deciles.filter(F.col("arm") == "C").select(
        F.col("k").alias("decile"), F.col("cents").alias("c_value_cents")
    )
    return t.join(c, "decile").select(
        "decile",
        "t_value_cents",
        "c_value_cents",
        (F.col("t_value_cents") - F.col("c_value_cents")).alias("qte_cents"),
    )


#: raking: 2 full IPF sweeps (row then column, twice) — fixed iteration
#: count so both engines run the identical integer recursion.
_IPF_SWEEPS = 2


def _ipf_oracle() -> str:
    steps = []
    prev = "w0"
    for i in range(1, _IPF_SWEEPS + 1):
        steps.append(
            f""", r{i} AS (
        SELECT p.seg, p.rg, p.n, p.w * t.tgt // m.wsum AS w
        FROM {prev} p
        JOIN (SELECT seg, sum(n * w) AS wsum FROM {prev} GROUP BY seg) m
          ON p.seg = m.seg
        CROSS JOIN tot t
    ), c{i} AS (
        SELECT p.seg, p.rg, p.n, p.w * t.tgt // m.wsum AS w
        FROM r{i} p
        JOIN (SELECT rg, sum(n * w) AS wsum FROM r{i} GROUP BY rg) m
          ON p.rg = m.rg
        CROSS JOIN tot t
    )"""
        )
        prev = f"c{i}"
    return f"""
    WITH cells AS (
        SELECT c.c_mktsegment AS seg, r.r_name AS rg,
               CAST(count(*) AS HUGEINT) AS n
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(sum(n) * 1000000 // 5 AS HUGEINT) AS tgt FROM cells
    ), w0 AS (
        SELECT seg, rg, n, CAST(1000000 AS HUGEINT) AS w FROM cells
    ){"".join(steps)}
    SELECT seg AS c_mktsegment, rg AS r_name,
           CAST(n AS BIGINT) AS n_customers,
           CAST(w AS BIGINT) AS weight_micro,
           CAST(n * w AS BIGINT) AS weighted_micro
    FROM {prev}
    """


@register("agg_ipf_raking", oracle=_ipf_oracle())
def agg_ipf_raking(spark, sf_dir):
    """Survey raking / iterative proportional fitting: calibrate per-cell
    weights on the (market segment × region) contingency table so BOTH
    margins match uniform targets (total/5 per segment and per region) —
    the post-stratification step every survey/panel pipeline runs when
    the sample's mix drifts from the population's. Two full IPF sweeps
    (row-adjust then column-adjust, twice — a FIXED count, so the
    recursion is identical on both engines), every update the exact
    integer w·target div Σ(n·w) in micro units; the oracle unrolls the
    same sweeps as CTEs. After two sweeps the row margins are exact and
    the column margins are within integer-truncation slack — the test
    bounds both.

    100 TB: the contingency table is |segments|·|regions| rows (25 here)
    built by one keyed rollup with two broadcast dim joins; each sweep is
    two groupBys + a broadcast of the 1-row target — iteration cost is
    independent of fact volume, the signature IPF property."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("r_name").alias("rg"))
        .agg(F.count("*").cast("decimal(38,0)").alias("n"))
        .localCheckpoint()
    )
    tot = cells.agg(
        F.expr("CAST(sum(n) * 1000000 div 5 AS DECIMAL(38,0))").alias("tgt")
    )
    cur = cells.withColumn("w", F.lit(1_000_000).cast("decimal(38,0)")).crossJoin(
        F.broadcast(tot)
    )
    for _ in range(_IPF_SWEEPS):
        for key in ["seg", "rg"]:
            marg = cur.groupBy(key).agg(
                F.sum(F.col("n") * F.col("w")).alias("wsum")
            )
            cur = (
                cur.join(F.broadcast(marg), key)
                .withColumn("w", F.expr("w * tgt div wsum").cast("decimal(38,0)"))
                .drop("wsum")
            )
    return cur.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("rg").alias("r_name"),
        F.col("n").cast("long").alias("n_customers"),
        F.col("w").cast("long").alias("weight_micro"),
        (F.col("n") * F.col("w")).cast("long").alias("weighted_micro"),
    )


@register(
    "agg_mann_kendall",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01'
        GROUP BY 1, 2
    ), s AS (
        SELECT a.pri,
               CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                             WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM daily a JOIN daily b ON a.pri = b.pri AND a.d < b.d
        GROUP BY a.pri
    ), n AS (
        SELECT pri, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY pri
    ), ties AS (
        SELECT pri, CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (SELECT pri, cents, count(*) AS t FROM daily
              GROUP BY pri, cents HAVING count(*) > 1)
        GROUP BY pri
    )
    SELECT n.pri AS o_orderpriority, n.n_days, s.s_stat,
           n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
               - coalesce(ties.tie_term, 0) AS var18,
           CASE WHEN s.s_stat > 0 THEN 'increasing'
                WHEN s.s_stat < 0 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM n JOIN s ON n.pri = s.pri
    LEFT JOIN ties ON n.pri = ties.pri
    """,
)
def agg_mann_kendall(spark, sf_dir):
    """Mann-Kendall non-parametric trend test over each priority's
    final-two-month daily revenue: S = Σ_{i<j} sign(xⱼ − xᵢ) — a pure
    integer statistic, no distributional assumption, the standard
    monotone-trend detector for irregular series (completes the
    non-parametric family beside agg_ks_test and agg_mann_whitney). The
    variance ships as the exact integer 18·Var(S) = n(n−1)(2n+5) − Σ
    t(t−1)(2t+5) with the tie correction computed from actual duplicate
    values, so a consumer can form the z-statistic without this engine
    ever touching a float.

    100 TB: the pairwise sign sum runs on the calendar-bounded daily
    rollup (≤ 61 rows per priority → ≤ 1 830 pairs), never the fact
    table; the self-join is per-priority and the rollup is map-side
    combined."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-06-01"
    )
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("d"),
        )
        .agg(
            F.sum(cents("o_totalprice")).alias("cents")
        )
        .localCheckpoint()
    )
    a = daily.select("pri", F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(
        F.col("pri").alias("pri_b"), F.col("d").alias("db"), F.col("cents").alias("cb")
    )
    s = (
        a.join(b, (F.col("pri") == F.col("pri_b")) & (F.col("da") < F.col("db")))
        .groupBy("pri")
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n = daily.groupBy("pri").agg(F.count("*").cast("long").alias("n_days"))
    ties = (
        daily.groupBy("pri", "cents")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("pri")
        .agg(
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)")).cast("long").alias(
                "tie_term"
            )
        )
    )
    return (
        n.join(s, "pri")
        .join(ties, "pri", "left")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_days",
            "s_stat",
            (
                F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            ).alias("var18"),
            F.when(F.col("s_stat") > 0, "increasing")
            .when(F.col("s_stat") < 0, "decreasing")
            .otherwise("none")
            .alias("trend"),
        )
    )


@register(
    "agg_acf_lags",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        FROM daily
    ), r AS (
        SELECT CAST(tot.n * cents - tot.s AS HUGEINT) AS x,
               row_number() OVER (ORDER BY d) AS rn
        FROM daily, tot
    ), lags(k) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
    num AS (
        SELECT k,
               CAST(sum(a.x * b.x) AS HUGEINT) AS num,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM r a JOIN lags ON true JOIN r b ON b.rn = a.rn + k
        GROUP BY k
    ), den AS (
        SELECT CAST(sum(x * x) AS HUGEINT) AS den FROM r
    )
    SELECT CAST(k AS BIGINT) AS lag, n_terms,
           CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                * (1000 * ((1000 * abs(num)) // den)
                   + (1000 * ((1000 * abs(num)) % den)) // den)
               AS BIGINT) AS acf_micro
    FROM num, den
    """,
)
def agg_acf_lags(spark, sf_dir):
    """Autocorrelation function of the daily order-revenue series at lags
    1-7 — the diagnostic every forecasting pipeline runs before choosing a
    model (weekly seasonality shows as a lag-7 spike; compare
    agg_seasonality_dow, which asserts the pattern this measures). Zero
    float surface: with x̄ = S/n, each deviation is scaled to the exact
    integer X_t = n·x_t − S, the lag-k numerator Σ X_t·X_{t+k} and
    denominator Σ X_t² accumulate in DECIMAL(38)/HUGEINT (26-digit
    products — past int64, far under 128-bit), and the ratio ships in
    integer micro-units via the exact two-stage division
    10⁶·n ÷ d = 10³·(10³n ÷ d) + (10³·(10³n mod d)) ÷ d, which keeps every
    intermediate within 10³·den instead of 10⁶·den — the difference
    between overflowing DECIMAL(38) near 1000× this revenue scale and
    surviving it. Lag pairing is by ROW
    (rank order), not calendar date, so gap days do not produce null
    terms; the rank self-join (b.rn = a.rn + k) sidesteps the
    one-lead-column-per-lag plan.

    100 TB: the only corpus-scale work is the daily rollup (map-side
    combined); the ACF itself runs on the ~2.4k-row series × 7 lags."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long").alias("d")
    ).agg(F.sum(cents("o_totalprice")).alias("cents"))
    tot = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("s")
    )
    w = Window.orderBy("d")
    r = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            (F.col("n") * F.col("cents") - F.col("s"))
            .cast("decimal(38,0)")
            .alias("x"),
            F.row_number().over(w).alias("rn"),
        )
        .localCheckpoint()
    )
    lags = F.broadcast(
        spark.createDataFrame([(k,) for k in range(1, 8)], "k long")
    )
    b = r.select(F.col("x").alias("xb"), F.col("rn").alias("rnb"))
    num = (
        r.crossJoin(lags)
        .join(b, F.col("rnb") == F.col("rn") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.col("x") * F.col("xb")).alias("num"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )
    den = r.agg(F.sum(F.col("x") * F.col("x")).alias("den"))
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("k").alias("lag"),
            "n_terms",
            # coalesce→raise_error: under non-ANSI Spark a DECIMAL(38,0)
            # overflow of num/den (or a zero-variance den) NULLs silently
            # and the sign term would propagate it into the output; fail
            # loudly instead so a future scale-up past the documented
            # ~1000x headroom is an error, not a NULL row (ADVICE r6).
            F.coalesce(
                (
                    F.when(F.col("num") < 0, -1).otherwise(1)
                    * F.expr(
                        "1000 * (CAST(1000 AS DECIMAL(38,0)) * abs(num) div den)"
                        " + (CAST(1000 AS DECIMAL(38,0))"
                        "    * (CAST(1000 AS DECIMAL(38,0)) * abs(num) % den))"
                        "   div den"
                    )
                ).cast("long"),
                F.raise_error(
                    F.lit(
                        "agg_acf_lags: acf_micro is NULL — DECIMAL(38,0) "
                        "overflow of the lag-product sums (or zero-variance "
                        "series); the ~1000x revenue headroom was exceeded"
                    )
                ).cast("long"),
            ).alias("acf_micro"),
        )
    )


@register(
    "agg_srm_check",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT user_id, event_type,
               CASE WHEN {md5_bucket_duck("user_id", 10)} < 5
                    THEN 'A' ELSE 'B' END AS arm
        FROM events
    ), cells AS (
        SELECT event_type,
               CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a_obs,
               CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS n_b_obs,
               CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a_sim,
               CAST(count(*) FILTER (arm = 'B' AND user_id % 5 <> 0) AS BIGINT)
                   AS n_b_sim
        FROM pairs GROUP BY 1
    ), scen AS (
        SELECT event_type, 'observed' AS scenario, n_a_obs AS n_a, n_b_obs AS n_b
        FROM cells
        UNION ALL
        SELECT event_type, 'sim_b_drop', n_a_sim, n_b_sim FROM cells
    )
    SELECT event_type, scenario, n_a, n_b,
           CAST((1000000::HUGEINT * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b)
                AS BIGINT) AS chi2_micro,
           CAST(CASE WHEN (1000000::HUGEINT * (n_a - n_b) * (n_a - n_b))
                          // (n_a + n_b) > 3841459 THEN 1 ELSE 0 END AS BIGINT)
               AS srm_flag
    FROM scen
    """,
)
def agg_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail — the first sanity check every
    experimentation platform runs before reading a metric: per segment
    (event_type), the md5-hash 50/50 user assignment's observed arm counts
    are tested with the one-degree χ² goodness-of-fit statistic, which for
    an even split reduces to (n_a − n_b)²/n — emitted in integer
    micro-units, flagged against the 0.05 critical value 3.841459. Two
    scenarios per segment prove both behaviors of the guardrail on real
    data: ``observed`` (the clean hash split — expected NOT to flag) and
    ``sim_b_drop`` (a simulated one-arm ingestion bug dropping the 20% of
    B-arm users with user_id ≡ 0 mod 5 — expected to flag once segments
    have a few hundred users). Distinct from agg_chi_square: that tests
    INDEPENDENCE on a contingency table; this tests goodness-of-fit
    against a designed ratio.

    100 TB: one distinct (user, segment) rollup — map-side combined — then
    per-segment cells; both scenario columns come from the SAME pass
    (conditional counts), so the simulation costs zero extra scans. The
    (n_a−n_b)² product rides decimal(38,0)/HUGEINT: at 10⁹ users per arm a
    20% drop makes the squared diff ×10⁶ overflow int64."""
    e = load_table(spark, sf_dir, "events")
    arm = F.when(md5_bucket("user_id", 10) < 5, "A").otherwise("B")
    pairs = e.select("user_id", "event_type", arm.alias("arm")).distinct()
    cells = pairs.groupBy("event_type").agg(
        F.count(F.when(F.col("arm") == "A", True)).cast("long").alias("n_a_obs"),
        F.count(F.when(F.col("arm") == "B", True)).cast("long").alias("n_b_obs"),
        F.count(F.when(F.col("arm") == "A", True)).cast("long").alias("n_a_sim"),
        F.count(
            F.when((F.col("arm") == "B") & (F.col("user_id") % 5 != 0), True)
        )
        .cast("long")
        .alias("n_b_sim"),
    )
    scen = cells.select(
        "event_type",
        F.expr(
            "stack(2, 'observed', n_a_obs, n_b_obs,"
            " 'sim_b_drop', n_a_sim, n_b_sim) AS (scenario, n_a, n_b)"
        ),
    )
    chi2 = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_a - n_b) * (n_a - n_b))"
        " div (n_a + n_b) AS BIGINT)"
    )
    return scen.select(
        "event_type",
        "scenario",
        "n_a",
        "n_b",
        chi2.alias("chi2_micro"),
        F.when(chi2 > 3841459, 1).otherwise(0).cast("long").alias("srm_flag"),
    )


def _cramers_pair(df, a_col, b_col, pair_name):
    """One Cramér's-V association row from a cell-count cross-tab.

    Everything downstream of the single groupBy is derived from the tiny
    cell table (≤ |a|·|b| rows): row totals, column totals, and n re-roll
    from cells, never from the fact scan, and join back via broadcast. The
    cell table is localCheckpoint'd because four consumers would otherwise
    re-run the scan (SURVEY §9 lesson 4)."""
    cells = (
        df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
        .localCheckpoint(eager=False)
    )
    rt = cells.groupBy("a").agg(F.sum("obs").cast("long").alias("rt"))
    ct = cells.groupBy("b").agg(F.sum("obs").cast("long").alias("ct"))
    tot = cells.agg(
        F.sum("obs").cast("long").alias("n"),
        F.count_distinct("a").cast("long").alias("r"),
        F.count_distinct("b").cast("long").alias("c"),
    )
    j = (
        cells.join(F.broadcast(rt), "a")
        .join(F.broadcast(ct), "b")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = (F.col("obs") - e) * (F.col("obs") - e) / e
    agg = j.groupBy("n", "r", "c").agg(F.round(F.sum(term), 4).alias("chi2"))
    mindim = F.least(F.col("r"), F.col("c")) - 1
    return agg.select(
        F.lit(pair_name).alias("pair"),
        F.col("n"),
        F.col("r").alias("card_a"),
        F.col("c").alias("card_b"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.col("chi2"),
        F.round(F.sqrt(F.col("chi2") / (F.col("n") * mindim)), 4).alias("cramers_v"),
    )


_CRAMERS_ORACLE_PAIR = """
    SELECT '{name}' AS pair, n, r AS card_a, c AS card_b,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof, chi2,
           round(sqrt(chi2 / (n * (least(r, c) - 1))), 4) AS cramers_v
    FROM (
        SELECT any_value(t.n) AS n, any_value(t.r) AS r, any_value(t.c) AS c,
               round(sum((cells.obs - CAST(rt.rt AS DOUBLE) * ct.ct / t.n)
                         * (cells.obs - CAST(rt.rt AS DOUBLE) * ct.ct / t.n)
                         / (CAST(rt.rt AS DOUBLE) * ct.ct / t.n)), 4) AS chi2
        FROM (
            SELECT {a} AS a, {b} AS b, CAST(count(*) AS BIGINT) AS obs
            FROM orders GROUP BY 1, 2
        ) cells
        JOIN (
            SELECT {a} AS a, CAST(count(*) AS BIGINT) AS rt
            FROM orders GROUP BY 1
        ) rt ON cells.a = rt.a
        JOIN (
            SELECT {b} AS b, CAST(count(*) AS BIGINT) AS ct
            FROM orders GROUP BY 1
        ) ct ON cells.b = ct.b
        CROSS JOIN (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT {a}) AS BIGINT) AS r,
                   CAST(count(DISTINCT {b}) AS BIGINT) AS c
            FROM orders
        ) t
    )
"""


@register(
    "agg_cramers_v",
    oracle=" UNION ALL ".join(
        _CRAMERS_ORACLE_PAIR.format(name=name, a=a, b=b)
        for name, a, b in [
            ("priority_x_status", "o_orderpriority", "o_orderstatus"),
            ("priority_x_month", "o_orderpriority", "month(o_orderdate)"),
            ("status_x_year", "o_orderstatus", "year(o_orderdate)"),
        ]
    ),
)
def agg_cramers_v(spark, sf_dir):
    """Cramér's V categorical-association screen: chi-square and the
    normalized V = sqrt(chi2 / (n·(min(r,c)−1))) for three column pairs of
    the orders table — the one-number "are these dimensions independent?"
    diagnostic a feature-selection or data-profiling pass runs over every
    categorical pair. Cell/row/column counts are exact integers; chi-square
    is the lone float sum and is rounded at 4dp BEFORE feeding V (both
    engines take sqrt of the same rounded double, so the 15-60 term
    summation-order noise at 1e-13 can never reach the hash).

    100 TB: one groupBy per pair over the fact scan (map-side combined,
    |cells| ≤ r·c rows out), then every total re-derives from the tiny cell
    table — broadcast joins only, no second fact pass. The three pair
    scans stay independent (Catalyst shares the scan via exchange reuse
    where profitable); output is 3 rows at any scale."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.month("o_orderdate").alias("o_month"),
        F.year("o_orderdate").alias("o_year"),
    ).localCheckpoint(eager=False)
    return (
        _cramers_pair(o, "o_orderpriority", "o_orderstatus", "priority_x_status")
        .unionAll(_cramers_pair(o, "o_orderpriority", "o_month", "priority_x_month"))
        .unionAll(_cramers_pair(o, "o_orderstatus", "o_year", "status_x_year"))
    )


def _mi_pair(df, a_col, b_col, pair_name):
    """One mutual-information row from the cell-count cross-tab. Same
    derive-everything-from-the-tiny-cell-table shape as _cramers_pair;
    each probability is a ratio of exact integer counts so log2 sees
    identical doubles in both engines (events_entropy_mix precedent)."""
    cells = (
        df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
        .localCheckpoint(eager=False)
    )
    rt = cells.groupBy("a").agg(F.sum("obs").cast("long").alias("rt"))
    ct = cells.groupBy("b").agg(F.sum("obs").cast("long").alias("ct"))
    tot = cells.agg(F.sum("obs").cast("long").alias("n"))
    ratio = (F.col("obs").cast("double") * F.col("n")) / (
        F.col("rt").cast("double") * F.col("ct")
    )
    mi = (
        cells.join(F.broadcast(rt), "a")
        .join(F.broadcast(ct), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(
                F.sum((F.col("obs").cast("double") / F.col("n")) * F.log2(ratio)), 4
            ).alias("mi_bits")
        )
    )
    pa = F.col("rt").cast("double") / F.col("n")
    ha = (
        rt.crossJoin(F.broadcast(tot))
        .agg(F.round(-F.sum(pa * F.log2(pa)), 4).alias("h_a_bits"))
    )
    pb = F.col("ct").cast("double") / F.col("n")
    hb = (
        ct.crossJoin(F.broadcast(tot))
        .agg(F.round(-F.sum(pb * F.log2(pb)), 4).alias("h_b_bits"))
    )
    return (
        mi.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.lit(pair_name).alias("pair"),
            F.col("n"),
            F.col("mi_bits"),
            F.col("h_a_bits"),
            F.col("h_b_bits"),
            F.round(F.col("mi_bits") / F.col("h_a_bits"), 4).alias("u_a_given_b"),
            F.round(F.col("mi_bits") / F.col("h_b_bits"), 4).alias("u_b_given_a"),
        )
    )


_MI_ORACLE_PAIR = """
    SELECT '{name}' AS pair, n, mi_bits, h_a_bits, h_b_bits,
           round(mi_bits / h_a_bits, 4) AS u_a_given_b,
           round(mi_bits / h_b_bits, 4) AS u_b_given_a
    FROM (
        SELECT any_value(t.n) AS n,
               round(sum((CAST(cells.obs AS DOUBLE) / t.n)
                         * log2((CAST(cells.obs AS DOUBLE) * t.n)
                                / (CAST(rt.rt AS DOUBLE) * ct.ct))), 4) AS mi_bits
        FROM (
            SELECT {a} AS a, {b} AS b, CAST(count(*) AS BIGINT) AS obs
            FROM orders GROUP BY 1, 2
        ) cells
        JOIN (SELECT {a} AS a, CAST(count(*) AS BIGINT) AS rt
              FROM orders GROUP BY 1) rt ON cells.a = rt.a
        JOIN (SELECT {b} AS b, CAST(count(*) AS BIGINT) AS ct
              FROM orders GROUP BY 1) ct ON cells.b = ct.b
        CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM orders) t
    )
    CROSS JOIN (
        SELECT round(-sum((CAST(rt AS DOUBLE) / n) * log2(CAST(rt AS DOUBLE) / n)),
                     4) AS h_a_bits
        FROM (SELECT {a} AS a, CAST(count(*) AS BIGINT) AS rt
              FROM orders GROUP BY 1) rt
        CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM orders) t
    )
    CROSS JOIN (
        SELECT round(-sum((CAST(ct AS DOUBLE) / n) * log2(CAST(ct AS DOUBLE) / n)),
                     4) AS h_b_bits
        FROM (SELECT {b} AS b, CAST(count(*) AS BIGINT) AS ct
              FROM orders GROUP BY 1) ct
        CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM orders) t
    )
"""


@register(
    "agg_mutual_information",
    oracle=" UNION ALL ".join(
        _MI_ORACLE_PAIR.format(name=name, a=a, b=b)
        for name, a, b in [
            ("priority_x_status", "o_orderpriority", "o_orderstatus"),
            ("priority_x_month", "o_orderpriority", "month(o_orderdate)"),
            ("status_x_year", "o_orderstatus", "year(o_orderdate)"),
        ]
    ),
)
def agg_mutual_information(spark, sf_dir):
    """Mutual information and uncertainty coefficients for the same three
    orders column pairs as agg_cramers_v — the information-theoretic
    association screen (MI in bits, Theil's U = MI / H(target) in both
    directions) that, unlike V, reads directly as "knowing B removes this
    fraction of A's entropy". Every probability is a ratio of exact
    integer counts; the three entropy/MI sums each round at 4dp, and the
    U ratios divide the ROUNDED values (deterministic given the rounded
    inputs hash-match).

    100 TB: identical shape to agg_cramers_v — one map-side-combined
    groupBy per pair, marginals re-derived from the ≤ r·c cell table,
    broadcast-only joins, 3 output rows at any scale. The obs·n double
    product is the documented large-scale rounding surface: exact below
    2^53, identically-rounded IEEE above."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.month("o_orderdate").alias("o_month"),
        F.year("o_orderdate").alias("o_year"),
    ).localCheckpoint(eager=False)
    return (
        _mi_pair(o, "o_orderpriority", "o_orderstatus", "priority_x_status")
        .unionAll(_mi_pair(o, "o_orderpriority", "o_month", "priority_x_month"))
        .unionAll(_mi_pair(o, "o_orderstatus", "o_year", "status_x_year"))
    )


# Month-half split boundary for the KS drift test (events span 2024-01,
# FIXTURES.md): first 15 days vs the rest — the same two occasions as
# events_capture_recapture.
_DRIFT_SPLIT_US = 1_705_363_200_000_000  # 2024-01-16 00:00:00 UTC, epoch-µs


@register(
    "agg_ks_drift_bh",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 1000000) AS BIGINT) AS vu,
               CASE WHEN epoch_ns(ts) // 1000 < 1705363200000000
                    THEN 1 ELSE 0 END AS in_a
        FROM events
    ), cells AS (
        SELECT event_type, vu,
               CAST(sum(in_a) AS BIGINT) AS c1,
               CAST(sum(1 - in_a) AS BIGINT) AS c2
        FROM v GROUP BY 1, 2
    ), cum AS (
        SELECT event_type,
               sum(c1) OVER (PARTITION BY event_type ORDER BY vu
                             ROWS UNBOUNDED PRECEDING) AS f1,
               sum(c2) OVER (PARTITION BY event_type ORDER BY vu
                             ROWS UNBOUNDED PRECEDING) AS f2,
               CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
               CAST(sum(c2) OVER (PARTITION BY event_type) AS BIGINT) AS n2
        FROM cells
    ), stat AS (
        SELECT event_type, any_value(n1) AS n1, any_value(n2) AS n2,
               CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num
        FROM cum GROUP BY event_type
    ), p AS (
        SELECT event_type, n1, n2,
               CAST(1000000 * d_num // (n1 * n2) AS BIGINT) AS d_micro,
               round(least(1.0,
                   2 * exp(-(2 * CAST(d_num AS DOUBLE) * d_num)
                           / (CAST(n1 AS DOUBLE) * n2 * (n1 + n2)))), 4)
                   AS p_approx
        FROM stat
    ), ranked AS (
        SELECT p.*,
               row_number() OVER (ORDER BY p_approx ASC, event_type ASC)
                   AS bh_rank,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM p
    ), kstar AS (
        SELECT coalesce(max(CASE WHEN p_approx * m <= bh_rank * 0.05
                                 THEN bh_rank END), 0) AS k
        FROM ranked
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_first, CAST(n2 AS BIGINT) AS n_second,
           d_micro, p_approx,
           CAST(bh_rank AS BIGINT) AS bh_rank,
           CAST(CASE WHEN bh_rank <= kstar.k THEN 1 ELSE 0 END AS BIGINT)
               AS bh_flag
    FROM ranked CROSS JOIN kstar
    """,
)
def agg_ks_drift_bh(spark, sf_dir):
    """Distribution-drift monitor with multiple-testing control: per event
    type, the two-sample Kolmogorov-Smirnov statistic between the value
    distributions of the two month-halves, then Benjamini-Hochberg across
    the type family at q = 0.05 — the monitoring pattern where m metrics
    are tested every run and raw 0.05 thresholds would false-alarm
    ~m·0.05 of the time. D's sup is exact integer arithmetic
    (max |F1·n2 − F2·n1| over floor-microunit values, the agg_ks_test
    precedent; products pass int64 near 1e10 rows per type — the
    decimal escape documented there applies), the p-value is the
    standard 2·exp(−2·D²·n1n2/(n1+n2)) approximation on identical
    doubles, and the BH rank/threshold comparison runs on the 4dp-ROUNDED
    p so both engines rank the same values. BH's step-up rule:
    k* = max{k : p(k) ≤ k·q/m}, flag ranks ≤ k* (flags every hypothesis
    below the largest passing rank, including non-passing ones — that is
    the rule, not a bug).

    100 TB: the CDF cumsum partitions by event_type over the value-unit
    axis (the banded two-pass decomposition in agg_ks_test is the scale
    path for a single huge type; this oracle-matching form keeps one
    window per type). The BH stage runs on an m-row frame (m = |types|)
    — its global rank window is a bounded axis by construction; the frame
    localCheckpoints for its two consumers, so the audited plan shows
    checkpoint scans (the dedup_connected_components pattern) rather than
    the window itself."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("vu"),
        F.when(F.col("ts_us") < _DRIFT_SPLIT_US, 1).otherwise(0).alias("in_a"),
    )
    cells = e.groupBy("event_type", "vu").agg(
        F.sum("in_a").cast("long").alias("c1"),
        F.sum(1 - F.col("in_a")).cast("long").alias("c2"),
    )
    wt = Window.partitionBy("event_type")
    cum = (
        cells.withColumn(
            "f1",
            F.sum("c1").over(wt.orderBy("vu").rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "f2",
            F.sum("c2").over(wt.orderBy("vu").rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("n1", F.sum("c1").over(wt).cast("long"))
        .withColumn("n2", F.sum("c2").over(wt).cast("long"))
    )
    stat = (
        cum.withColumn(
            "d_term", F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
        )
        .groupBy("event_type")
        .agg(
            F.any_value("n1").alias("n1"),
            F.any_value("n2").alias("n2"),
            F.max("d_term").cast("long").alias("d_num"),
        )
    )
    p_tbl = stat.select(
        "event_type",
        F.col("n1").cast("long").alias("n_first"),
        F.col("n2").cast("long").alias("n_second"),
        F.expr("CAST(1000000 * d_num DIV (n1 * n2) AS BIGINT)").alias("d_micro"),
        F.round(
            F.least(
                F.lit(1.0),
                2
                * F.exp(
                    -(2 * F.col("d_num").cast("double") * F.col("d_num"))
                    / (F.col("n1").cast("double") * F.col("n2") * (F.col("n1") + F.col("n2")))
                ),
            ),
            4,
        ).alias("p_approx"),
    ).localCheckpoint(eager=False)  # consumers: ranked frame + m count
    m = p_tbl.agg(F.count(F.lit(1)).cast("long").alias("m"))
    wb = Window.orderBy(F.col("p_approx").asc(), F.col("event_type").asc())
    ranked = (
        p_tbl.crossJoin(F.broadcast(m))
        .withColumn("bh_rank", F.row_number().over(wb).cast("long"))
        .localCheckpoint(eager=False)  # consumers: k* + final flag
    )
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_approx") * F.col("m") <= F.col("bh_rank") * 0.05,
                    F.col("bh_rank"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return ranked.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        "n_first",
        "n_second",
        "d_micro",
        "p_approx",
        "bh_rank",
        F.when(F.col("bh_rank") <= F.col("k"), 1).otherwise(0).cast("long").alias("bh_flag"),
    )


@register(
    "agg_tukey_fences",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS pri,
               {cents_sql('o_totalprice')} AS cents
        FROM orders
    ), r AS (
        SELECT pri, cents,
               row_number() OVER (PARTITION BY pri ORDER BY cents) AS rn,
               CAST(count(*) OVER (PARTITION BY pri) AS BIGINT) AS n
        FROM c
    ), q AS (
        SELECT pri, any_value(n) AS n,
               max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1,
               max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3
        FROM r GROUP BY pri
    )
    SELECT c.pri AS o_orderpriority,
           q.n AS n_orders,
           q.q1 AS q1_cents, q.q3 AS q3_cents,
           CAST(q.q3 - q.q1 AS BIGINT) AS iqr_cents,
           CAST(count(CASE WHEN 2 * c.cents < 2 * q.q1 - 3 * (q.q3 - q.q1)
                           THEN 1 END) AS BIGINT) AS n_low_outliers,
           CAST(count(CASE WHEN 2 * c.cents > 2 * q.q3 + 3 * (q.q3 - q.q1)
                           THEN 1 END) AS BIGINT) AS n_high_outliers
    FROM c JOIN q ON c.pri = q.pri
    GROUP BY c.pri, q.n, q.q1, q.q3
    """,
)
def agg_tukey_fences(spark, sf_dir):
    """Tukey-fence outlier audit per order priority: Q1/Q3 as EXPLICIT
    type-1 order statistics (positions ceil(n/4), ceil(3n/4) — no engine
    quantile interpolation), the IQR, and the count of rows beyond the
    1.5·IQR fences. The fence comparison is doubled on both sides
    (2·x < 2·Q1 − 3·IQR) so the half-unit 1.5 multiplier never leaves
    integer arithmetic — every output digit is exact. The classic
    profiling op an ETL runs per segment before trusting a numeric feed.

    100 TB: the rank window partitions by priority over integer cents
    (for one huge group the banded two-pass rank decomposition in
    agg_ks_test is the scale path); the fence-count pass re-joins the
    tiny quartile table broadcast-side, so the fact table is scanned
    twice and shuffled once."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        cents("o_totalprice").alias("cents"),
    ).localCheckpoint(eager=False)  # consumers: rank pass + fence count
    wp = Window.partitionBy("pri")
    r = o.withColumn("rn", F.row_number().over(wp.orderBy("cents"))).withColumn(
        "n", F.count(F.lit(1)).over(wp).cast("long")
    )
    n = F.col("n")
    q = r.groupBy("pri").agg(
        F.any_value("n").alias("n"),
        F.max(F.when(F.col("rn") == F.floor((n + 3) / 4), F.col("cents"))).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.floor((3 * n + 3) / 4), F.col("cents"))
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        o.join(F.broadcast(q), "pri")
        .groupBy("pri", "n", "q1", "q3")
        .agg(
            F.count(
                F.when(2 * F.col("cents") < 2 * F.col("q1") - 3 * iqr, 1)
            ).cast("long").alias("n_low_outliers"),
            F.count(
                F.when(2 * F.col("cents") > 2 * F.col("q3") + 3 * iqr, 1)
            ).cast("long").alias("n_high_outliers"),
        )
        .select(
            F.col("pri").alias("o_orderpriority"),
            F.col("n").alias("n_orders"),
            F.col("q1").alias("q1_cents"),
            F.col("q3").alias("q3_cents"),
            iqr.cast("long").alias("iqr_cents"),
            "n_low_outliers",
            "n_high_outliers",
        )
    )


@register(
    "agg_calibration_ece",
    oracle="""
    WITH scored AS (
        SELECT least(9, CAST(floor(value / 50) AS INT)) AS bin,
               CAST(floor(2000 * value) AS BIGINT) AS p_micro,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(p_micro) AS BIGINT) // count(*) AS conf_micro,
               1000000 * CAST(sum(y) AS BIGINT) // count(*) AS acc_micro
        FROM scored GROUP BY bin
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS big_n,
               CAST(sum(n * abs(acc_micro - conf_micro)) AS BIGINT)
                 // CAST(sum(n) AS BIGINT) AS ece_micro
        FROM bins
    )
    SELECT b.bin, b.n, b.conf_micro, b.acc_micro,
           CAST(abs(b.acc_micro - b.conf_micro) AS BIGINT) AS gap_micro,
           t.ece_micro
    FROM bins b CROSS JOIN tot t
    """,
)
def agg_calibration_ece(spark, sf_dir):
    """Expected Calibration Error of a deterministic toy scorer: treat
    value/500 as a model's predicted purchase probability, the actual
    event type as the outcome, bucket into 10 equal-width confidence
    bins, and report per-bin confidence vs accuracy plus the
    bin-weighted ECE — the standard "is this model's probability a
    probability?" eval, demonstrated on a feed where score and outcome
    are independent so the readout is an honestly miscalibrated model
    (high-confidence bins still hit the ~20% base rate). Everything is
    integer micro-units: p̂ quantizes via floor(2000·value), per-bin
    confidence/accuracy are truncating divisions, ECE is
    Σ n_b·|acc−conf| // N — no float ever aggregates.

    100 TB: one stateless projection + one map-side-combined 10-group
    rollup; the ECE total rides a 1-row broadcast BNLJ back onto the bin
    table. Output is ≤ 10 rows at any scale."""
    e = load_table(spark, sf_dir, "events").select(
        F.least(F.lit(9), F.floor(F.col("value") / 50).cast("int")).alias("bin"),
        F.expr("CAST(floor(2000 * value) AS BIGINT)").alias("p_micro"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = e.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(p_micro) AS BIGINT) DIV count(1)").alias("conf_micro"),
        F.expr("1000000 * CAST(sum(y) AS BIGINT) DIV count(1)").alias("acc_micro"),
    ).localCheckpoint(eager=False)  # consumers: ECE total + final select
    tot = bins.agg(
        F.expr(
            "CAST(sum(n * abs(acc_micro - conf_micro)) AS BIGINT) DIV sum(n)"
        ).alias("ece_micro")
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "conf_micro",
        "acc_micro",
        F.abs(F.col("acc_micro") - F.col("conf_micro")).cast("long").alias("gap_micro"),
        "ece_micro",
    )


_GINI_BASE_SQL = """
        SELECT o.o_orderstatus AS y,
               o.o_orderpriority AS f_priority,
               month(o.o_orderdate) AS f_month,
               year(o.o_orderdate) AS f_year,
               c.c_mktsegment AS f_segment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""

_GINI_FEATURE_SQL = """
    SELECT '{name}' AS feature,
           CAST(count(*) AS BIGINT) AS n_values,
           round(1 - sum(s2n) / any_value(t.big_n), 4) AS gini_split,
           round(t.gini_root, 4) AS gini_root,
           round(t.gini_root - (1 - sum(s2n) / any_value(t.big_n)), 4)
               AS gini_gain
    FROM (
        SELECT fv, CAST(sum(cnt * cnt) AS DOUBLE) / sum(cnt) AS s2n
        FROM (
            SELECT {col} AS fv, y, CAST(count(*) AS BIGINT) AS cnt
            FROM ({base}) GROUP BY 1, 2
        ) GROUP BY fv
    )
    CROSS JOIN (
        SELECT any_value(nn.big_n) AS big_n,
               1 - sum((CAST(m.cnt AS DOUBLE) / nn.big_n)
                       * (CAST(m.cnt AS DOUBLE) / nn.big_n)) AS gini_root
        FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt
              FROM ({base}) GROUP BY y) m
        CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS big_n
                    FROM ({base})) nn
    ) t
    GROUP BY t.big_n, t.gini_root
"""


@register(
    "agg_gini_split_screen",
    oracle=" UNION ALL ".join(
        _GINI_FEATURE_SQL.format(name=n, col=c, base=_GINI_BASE_SQL)
        for n, c in [
            ("priority", "f_priority"),
            ("month", "f_month"),
            ("year", "f_year"),
            ("segment", "f_segment"),
        ]
    ),
)
def agg_gini_split_screen(spark, sf_dir):
    """Decision-stump feature screen: for each candidate feature of the
    order+customer join, the weighted Gini impurity of the order-status
    target after splitting on that feature, the root impurity, and the
    Gini gain — the one-pass "which column predicts the label at all?"
    ranking that tree ensembles and feature-selection pipelines start
    from. Every count is exact; the impurity terms Σ n_vc²/n_v are
    double divisions of exact integers summed over ≤ |feature| values
    and rounded 4dp (the chi-square/Cramér discipline — 1e-16
    combine-order noise cannot reach the 4th decimal at these term
    counts). Expected reading on THIS feed: gains ≈ 0 for every feature —
    the synthetic generator assigns status independently (real TPC-H
    would put the signal in the date), and an honest screen reports the
    absence of signal rather than inventing one.

    100 TB: one orders⋈customer join, then one map-side-combined
    (feature, target) groupBy per feature — |cells| ≤ r·c rows out; the
    root-impurity scalar broadcasts via 1-row BNLJ. Four 1-row outputs
    union at the driver-plan level, zero extra fact passes beyond the
    per-feature rollups (Catalyst shares the joined scan via exchange
    reuse where profitable)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("o_orderstatus").alias("y"),
            F.col("o_orderpriority").alias("f_priority"),
            F.month("o_orderdate").alias("f_month"),
            F.year("o_orderdate").alias("f_year"),
            F.col("c_mktsegment").alias("f_segment"),
        )
        .localCheckpoint(eager=False)  # consumers: 4 feature screens + root
    )
    marg = base.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("big_n"))
    tot = (
        marg.crossJoin(F.broadcast(n_row))  # 1-row BNLJ, never a global window
        .agg(
            F.any_value("big_n").alias("big_n"),
            (
                1
                - F.sum(
                    (F.col("cnt").cast("double") / F.col("big_n"))
                    * (F.col("cnt").cast("double") / F.col("big_n"))
                )
            ).alias("gini_root"),
        )
    )

    def screen(col, name):
        cells = base.groupBy(F.col(col).alias("fv"), "y").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        per_v = cells.groupBy("fv").agg(
            (F.sum(F.col("cnt") * F.col("cnt")).cast("double") / F.sum("cnt")).alias(
                "s2n"
            )
        )
        split = 1 - F.sum("s2n") / F.any_value("big_n")
        return (
            per_v.crossJoin(F.broadcast(tot))
            .groupBy("big_n", "gini_root")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_values"),
                F.round(split, 4).alias("gini_split"),
                F.round(F.any_value("gini_root"), 4).alias("gini_root_r"),
                F.round(F.any_value("gini_root") - split, 4).alias("gini_gain"),
            )
            .select(
                F.lit(name).alias("feature"),
                "n_values",
                "gini_split",
                F.col("gini_root_r").alias("gini_root"),
                "gini_gain",
            )
        )

    return (
        screen("f_priority", "priority")
        .unionAll(screen("f_month", "month"))
        .unionAll(screen("f_year", "year"))
        .unionAll(screen("f_segment", "segment"))
    )


@register(
    "agg_js_drift",
    oracle="""
    WITH v AS (
        SELECT event_type,
               least(9, CAST(floor(value / 50) AS INT)) AS bin,
               CASE WHEN epoch_ns(ts) // 1000 < 1705363200000000
                    THEN 1 ELSE 0 END AS in_a
        FROM events
    ), cells AS (
        SELECT event_type, bin,
               CAST(sum(in_a) AS BIGINT) AS a,
               CAST(sum(1 - in_a) AS BIGINT) AS b
        FROM v GROUP BY 1, 2
    ), tot AS (
        SELECT event_type,
               CAST(sum(a) AS BIGINT) AS big_a,
               CAST(sum(b) AS BIGINT) AS big_b
        FROM cells GROUP BY event_type
    )
    SELECT c.event_type,
           any_value(t.big_a) AS n_first,
           any_value(t.big_b) AS n_second,
           round(0.5 * (
               sum(CASE WHEN c.a > 0 THEN
                   (CAST(c.a AS DOUBLE) / t.big_a)
                   * log2(CAST(2 * c.a AS DOUBLE) * t.big_b
                          / (CAST(c.a AS DOUBLE) * t.big_b
                             + CAST(c.b AS DOUBLE) * t.big_a))
                   ELSE 0 END)
             + sum(CASE WHEN c.b > 0 THEN
                   (CAST(c.b AS DOUBLE) / t.big_b)
                   * log2(CAST(2 * c.b AS DOUBLE) * t.big_a
                          / (CAST(c.a AS DOUBLE) * t.big_b
                             + CAST(c.b AS DOUBLE) * t.big_a))
                   ELSE 0 END)), 4) AS js_bits,
           CAST(1000000 * sum(abs(c.a * t.big_b - c.b * t.big_a))
                // (2 * any_value(t.big_a) * any_value(t.big_b))
                AS BIGINT) AS tv_micro
    FROM cells c JOIN tot t ON c.event_type = t.event_type
    GROUP BY c.event_type
    """,
)
def agg_js_drift(spark, sf_dir):
    """Jensen-Shannon divergence (bits) + total-variation distance between
    the two month-halves' value histograms per event type — the BINNED
    drift companion to agg_ks_drift_bh (KS sees the worst single point;
    JS/TV weigh the whole shape, and JS is the symmetric, always-finite
    divergence monitoring dashboards actually plot). Every probability
    ratio entering log2 is a ratio of exact integers
    (2aB / (aB + bA) — the mixture denominator cleared), zero-count bins
    contribute exactly 0, the ≤ 10-term sums round at 4dp, and TV is
    pure integer micro-units via Σ|a·B − b·A| // 2AB.

    100 TB: one stateless projection, one map-side-combined
    (type, bin) rollup, one |types|-row total join — the bin table is
    ≤ 10·|types| rows at any scale."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.least(F.lit(9), F.floor(F.col("value") / 50).cast("int")).alias("bin"),
        F.when(F.col("ts_us") < _DRIFT_SPLIT_US, 1).otherwise(0).alias("in_a"),
    )
    cells = e.groupBy("event_type", "bin").agg(
        F.sum("in_a").cast("long").alias("a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("b"),
    ).localCheckpoint(eager=False)  # consumers: totals + the scored join
    tot = cells.groupBy("event_type").agg(
        F.sum("a").cast("long").alias("big_a"),
        F.sum("b").cast("long").alias("big_b"),
    )
    a, b = F.col("a"), F.col("b")
    ba, bb = F.col("big_a"), F.col("big_b")
    mix_den = a.cast("double") * bb + b.cast("double") * ba
    term_a = F.when(
        a > 0,
        (a.cast("double") / ba) * F.log2((2 * a).cast("double") * bb / mix_den),
    ).otherwise(0.0)
    term_b = F.when(
        b > 0,
        (b.cast("double") / bb) * F.log2((2 * b).cast("double") * ba / mix_den),
    ).otherwise(0.0)
    return (
        cells.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("big_a").alias("n_first"),
            F.any_value("big_b").alias("n_second"),
            F.round(0.5 * (F.sum(term_a) + F.sum(term_b)), 4).alias("js_bits"),
            F.expr(
                "CAST(1000000 * sum(abs(a * big_b - b * big_a))"
                " DIV (2 * any_value(big_a) * any_value(big_b)) AS BIGINT)"
            ).alias("tv_micro"),
        )
    )


@register(
    "agg_kendall_tau",
    oracle=f"""
    WITH monthly AS (
        SELECT o_orderpriority AS pri,
               CAST(date_diff('month', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS x,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   // 100 AS y
        FROM orders GROUP BY 1, 2
    ), pairs AS (
        SELECT a.pri,
               CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS c,
               CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS d,
               CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END AS tx,
               CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END AS ty
        FROM monthly a JOIN monthly b ON a.pri = b.pri AND a.m < b.m
    )
    SELECT pri AS o_orderpriority,
           CAST(sum(c) AS BIGINT) AS concordant,
           CAST(sum(d) AS BIGINT) AS discordant,
           CAST(sum(tx) AS BIGINT) AS ties_x,
           CAST(sum(ty) AS BIGINT) AS ties_y,
           round((sum(c) - sum(d))
                 / sqrt((sum(c) + sum(d) + sum(tx))
                        * 1.0 * (sum(c) + sum(d) + sum(ty))), 4) AS tau_b
    FROM pairs GROUP BY 1
    """,
)
def agg_kendall_tau(spark, sf_dir):
    """Kendall's τ-b rank correlation between each priority's monthly order
    COUNT and monthly revenue — the robust "do busier months earn more?"
    monotone-association test that, unlike Pearson (agg_corr_matrix) and
    Spearman (text_spearman_length_vocab), is built purely from pairwise
    integer comparisons: concordant/discordant/tied pair COUNTS, so the
    whole statistic is exact until one final division.

    τ-b = (C − D) / √((C+D+Tx)(C+D+Ty)) with Tx/Ty the single-side tie
    counts (both-tied pairs drop from both factors — the tie correction
    that plain τ-a lacks). x is an exact count, y exact whole dollars.

    100 TB: the O(n²) pair expansion runs on the MONTHLY rollup, not the
    fact table — n is bounded by the calendar (~80 months/priority, ~3.2k
    pairs), so the self-join input is a few hundred rows regardless of
    fact scale; the only fact-scale work is one map-side-combined
    groupBy. The pair join is an equi-join on pri + month inequality —
    no CartesianProduct."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        (
            (F.year("o_orderdate") - F.lit(1970)) * 12 + F.month("o_orderdate") - 1
        ).cast("long").alias("m"),
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.expr(
            f"CAST(sum({cents_sql('o_totalprice')}) AS BIGINT) DIV 100"
        ).alias("y"),
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    prod = (F.col("b.x") - F.col("a.x")) * (F.col("b.y") - F.col("a.y"))
    pairs = a.join(
        b, (F.col("a.pri") == F.col("b.pri")) & (F.col("a.m") < F.col("b.m"))
    ).select(
        F.col("a.pri").alias("pri"),
        F.when(prod > 0, 1).otherwise(0).alias("c"),
        F.when(prod < 0, 1).otherwise(0).alias("d"),
        F.when(
            (F.col("a.x") == F.col("b.x")) & (F.col("a.y") != F.col("b.y")), 1
        ).otherwise(0).alias("tx"),
        F.when(
            (F.col("a.y") == F.col("b.y")) & (F.col("a.x") != F.col("b.x")), 1
        ).otherwise(0).alias("ty"),
    )
    s = pairs.groupBy("pri").agg(
        F.sum("c").cast("long").alias("concordant"),
        F.sum("d").cast("long").alias("discordant"),
        F.sum("tx").cast("long").alias("ties_x"),
        F.sum("ty").cast("long").alias("ties_y"),
    )
    c, d = F.col("concordant"), F.col("discordant")
    tx, ty = F.col("ties_x"), F.col("ties_y")
    return s.select(
        F.col("pri").alias("o_orderpriority"),
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.round(
            (c - d) / F.sqrt((c + d + tx) * 1.0 * (c + d + ty)), 4
        ).alias("tau_b"),
    )


@register(
    "agg_lorenz_deciles",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum({cents_sql('o_totalprice')})
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS rnk,
               CAST(count(*) OVER () AS BIGINT) AS n,
               CAST(sum(cents) OVER () AS BIGINT) AS total
        FROM spend
    ), deciles AS (
        SELECT CAST((rnk - 1) * 10 // n + 1 AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(cents) AS BIGINT) AS decile_cents,
               CAST(any_value(total) AS BIGINT) AS total
        FROM ranked GROUP BY 1
    )
    SELECT decile, n_cust, decile_cents,
           round(decile_cents * 1.0 / total, 4) AS share,
           round(sum(decile_cents) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1.0 / total, 4) AS cum_share
    FROM deciles
    """,
)
def agg_lorenz_deciles(spark, sf_dir):
    """Lorenz curve of customer spend in exact deciles: customers ranked
    by lifetime spend (integer cents, custkey tiebreak — a unique total
    order, so decile membership can't flap), cut into ten equal-count
    bins, each reporting its spend share and the cumulative share. The
    inequality readout behind agg_gini_segments — Gini summarizes it to
    one number, the Lorenz points show WHERE the curve bends (the
    "bottom half of customers carry 32% of revenue" sentence).

    The global rank uses the etl_surrogate_keys range-partition + offset
    decomposition: range-repartition on (cents, custkey), rank locally,
    add broadcast exclusive-prefix offsets — never a single-partition
    window over customers. n and total ride the same 8-row offsets
    rollup. localCheckpoint pins one boundary sampling (the round-7
    repartitionByRange landmine).

    100 TB: one map-side-combined per-customer rollup, one range
    exchange, and a 10-row cumulative window on the bounded decile axis
    (UNPARTITIONED_WINDOW_OK)."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.expr(
            f"CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)"
        ).alias("cents")
    )
    parts = spend.repartitionByRange(8, "cents", "o_custkey").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("pid").orderBy("cents", "o_custkey")
    local = parts.withColumn(
        "lrank", F.row_number().over(w_local).cast("long")
    ).localCheckpoint(eager=False)
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("cents").cast("long").alias("part_cents"),
        )
        # bounded global windows: one row per PARTITION (8 rows)
        .withColumn(
            "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).cast("long")
        )
        .withColumn("n", F.sum("cnt").over(Window.partitionBy()).cast("long"))
        .withColumn(
            "total", F.sum("part_cents").over(Window.partitionBy()).cast("long")
        )
        .select("pid", "off", "n", "total")
    )
    deciles = (
        local.join(F.broadcast(offsets), "pid")
        .withColumn(
            "decile",
            # integer DIV, not double /: float quotients at the decile
            # boundary could truncate to the wrong bin
            F.expr("((off + lrank - 1) * 10) DIV n + 1").cast("long"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.sum("cents").cast("long").alias("decile_cents"),
            F.any_value("total").alias("total"),
        )
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return deciles.select(
        "decile",
        "n_cust",
        "decile_cents",
        F.round(F.col("decile_cents") * 1.0 / F.col("total"), 4).alias("share"),
        F.round(
            F.sum("decile_cents").over(w_cum) * 1.0 / F.col("total"), 4
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes rate shrinkage (round 10)
# ---------------------------------------------------------------------------

_EB_K = 20  # prior strength (pseudo-observations)


@register(
    "agg_eb_shrinkage",
    oracle=f"""
    WITH per AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS s
        FROM orders GROUP BY 1
    ), prior AS (
        SELECT (CAST(sum(s) AS BIGINT) * 1000000) // CAST(sum(n) AS BIGINT)
                   AS m_micro
        FROM per
    )
    SELECT p.o_custkey, p.n AS n_orders, p.s AS n_f,
           CAST((p.s * 1000000) // p.n AS BIGINT) AS raw_rate_micro,
           CAST((p.s * 1000000 + pr.m_micro * {_EB_K}) // (p.n + {_EB_K})
                AS BIGINT) AS shrunk_rate_micro,
           pr.m_micro AS prior_micro
    FROM per p, prior pr
    """,
)
def agg_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes rate shrinkage (the m-estimate of Cestnik 1990,
    ECAI; the "IMDb weighted rating" / Dirichlet-smoothing formula):
    each customer's completed-order rate is pulled toward the
    data-derived global prior with K=20 pseudo-observations —
    shrunk = (s + m·K)/(n + K) — so a 2-for-2 customer no longer
    outranks a 95-for-100 one. THE standard small-n correction before
    ranking, segmenting, or thresholding per-entity rates (per-domain
    quality rates in corpus curation are the same shape); the reported
    prior and raw rate make the shrinkage auditable per row.

    All-integer micro fixed-point: the prior mean is one floor-divided
    global ratio, the posterior one floor-divided linear blend — no
    floats, engine-identical.

    100 TB: one map-side-combinable per-customer rollup (the shuffle any
    per-entity rate needs) + a 1-row broadcast prior; output is
    entity-sized. The prior aggregates the ROLLUP, not the fact table —
    no second fact pass."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("s"),
    )
    prior = per.agg(
        F.expr("(CAST(sum(s) AS BIGINT) * 1000000) div CAST(sum(n) AS BIGINT)")
        .alias("m_micro")
    )
    return per.crossJoin(F.broadcast(prior)).select(
        "o_custkey",
        F.col("n").alias("n_orders"),
        F.col("s").alias("n_f"),
        F.expr("(s * 1000000) div n").cast("long").alias("raw_rate_micro"),
        F.expr(f"(s * 1000000 + m_micro * {_EB_K}) div (n + {_EB_K})")
        .cast("long")
        .alias("shrunk_rate_micro"),
        F.col("m_micro").alias("prior_micro"),
    )


# ---------------------------------------------------------------------------
# Wald SPRT sequential test (round 10)
# ---------------------------------------------------------------------------

# Pre-registered design constants, Python-computed once and embedded as
# IDENTICAL integer literals in both engines (the etl_dp_release /
# events_burst_kleinberg micro-nat discipline — no runtime libm surface):
# H0: P(purchase)=0.18 vs H1: P=0.22, alpha = beta = 0.05.
_SPRT_C1 = 200_671  # round(1e6 * ln(p1/p0)),     per-success increment
_SPRT_C0 = -50_010  # round(1e6 * ln((1-p1)/(1-p0))), per-failure increment
_SPRT_A = 2_944_439  # round(1e6 * ln((1-beta)/alpha)), accept-H1 bound
# accept-H0 bound is the symmetric -A since alpha = beta


@register(
    "agg_sprt_sequential",
    oracle=f"""
    WITH b AS (
        SELECT CAST(ts AS DATE) AS day,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
        FROM events
        WHERE {md5_bucket_duck("event_id", 10)} >= 5
    ), d AS (
        SELECT day, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(x) AS BIGINT) AS n_purchases
        FROM b GROUP BY 1
    ), c AS (
        SELECT day, n_events, n_purchases,
               sum(n_purchases * {_SPRT_C1}
                   + (n_events - n_purchases) * ({_SPRT_C0})) OVER (
                   ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum_llr_micro
        FROM d
    ), dec AS (
        SELECT *, CASE WHEN cum_llr_micro >= {_SPRT_A} THEN 'accept_h1'
                       WHEN cum_llr_micro <= -{_SPRT_A} THEN 'accept_h0'
                       ELSE 'continue' END AS decision
        FROM c
    )
    SELECT day, n_events, n_purchases,
           CAST(cum_llr_micro AS BIGINT) AS cum_llr_micro, decision,
           decision <> 'continue' AND coalesce(min(CASE WHEN decision <> 'continue'
               THEN day END) OVER (), DATE '9999-12-31') = day AS is_first_crossing
    FROM dec
    """,
)
def agg_sprt_sequential(spark, sf_dir):
    """Wald's sequential probability ratio test (Wald 1945, Ann. Math.
    Stat. — the optimal sequential design every modern A/B early-stopping
    engine descends from) over the hashed-out B arm of the event stream:
    the cumulative log-likelihood ratio of H1 (purchase share 0.22) vs
    H0 (0.18) walks day by day, and the test stops the first day it
    crosses ±ln((1−β)/α). Emits the full daily trajectory (the monitoring
    dashboard), the per-day decision, and the single first-crossing day —
    the continuous-monitoring complement to agg_ab_ttest's fixed-horizon
    readout and agg_ab_power_mde's pre-sizing.

    Exactness: the four design constants are Python-computed micro-nat
    integers embedded as identical literals in both engines (the
    events_burst_kleinberg discipline — zero runtime libm surface); the
    trajectory itself is pure integer multiply-add, and the LLR is
    additive so day-grain partial sums ARE the per-event walk's
    end-of-day values.

    100 TB: arm filter + one map-side-combinable day rollup (the only
    fact pass); the cumulative/first-crossing windows run over the
    CALENDAR-BOUNDED day table (~hundreds of rows at any SF — the
    win_moving_avg bounded-axis contract), never over events."""
    e = load_table(spark, sf_dir, "events")
    b = e.filter(md5_bucket("event_id", 10) >= 5).select(
        F.to_date("ts").alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    d = b.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("x").cast("long").alias("n_purchases"),
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.withColumn(
        "cum_llr_micro",
        F.sum(
            F.col("n_purchases") * _SPRT_C1
            + (F.col("n_events") - F.col("n_purchases")) * _SPRT_C0
        )
        .over(w_cum)
        .cast("long"),
    )
    dec = c.withColumn(
        "decision",
        F.when(F.col("cum_llr_micro") >= _SPRT_A, "accept_h1")
        .when(F.col("cum_llr_micro") <= -_SPRT_A, "accept_h0")
        .otherwise("continue"),
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    first = F.min(
        F.when(F.col("decision") != "continue", F.col("day"))
    ).over(w_all)
    return dec.select(
        "day",
        "n_events",
        "n_purchases",
        "cum_llr_micro",
        "decision",
        (
            (F.col("decision") != "continue")
            & (F.coalesce(first, F.lit("9999-12-31").cast("date")) == F.col("day"))
        ).alias("is_first_crossing"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_customers,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via bitmap partial aggregation (the
    Spark 3.5+ bitmap_construct_agg family — the roaring-bitmap-style
    exact-distinct technique): customer ids bucket into fixed 32k-bit
    bitmaps, each (priority, bucket) cell ORs its positions map-side,
    and the distinct count is the sum of per-bucket popcounts. Same
    ANSWER as count(DISTINCT) — the oracle states the plain form — but a
    different 100 TB story: COUNT(DISTINCT x) shuffles every distinct
    VALUE (an Expand + re-shuffle whose width is data-dependent and
    skew-prone), while the bitmap plan shuffles at most
    |groups|·⌈keyspace/32768⌉ fixed-size bitmaps whose size is known
    BEFORE the job runs — the difference between a capacity plan and a
    hope. agg_approx_distinct is the 2%-error sketch; this is the exact
    answer at bounded shuffle width for dense integer keyspaces
    (sparse/huge keyspaces keep the sketch or dictionary-encode first,
    as its docstring notes).

    Both aggregation levels are map-side combinable; no expand, no
    value-granular shuffle, no Python."""
    o = load_table(spark, sf_dir, "orders")
    buckets = o.groupBy(
        "o_orderpriority", F.expr("bitmap_bucket_number(o_custkey)").alias("bkt")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias(
            "bm"
        ),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return buckets.groupBy("o_orderpriority").agg(
        F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias(
            "n_distinct_customers"
        ),
        F.sum("n").cast("long").alias("n_orders"),
    )


@register(
    "agg_anova_f",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST({cents_sql('o_totalprice')}
                    AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST({cents_sql('o_totalprice')}
                    AS HUGEINT) * {cents_sql('o_totalprice')})
                    AS HUGEINT) AS s2
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(s1) AS HUGEINT) AS s1_all
        FROM g
    ), parts AS (
        -- fold-left over the priority-ordered term lists: float summation
        -- must have ONE deterministic order in both engines (a bare sum()
        -- over doubles is partition-order-dependent and flaps exact parity
        -- in the last ulp)
        SELECT t.k, t.n_total,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(CAST(g.s1 AS DOUBLE) * CAST(g.s1 AS DOUBLE) / g.n
                        / 10000 ORDER BY g.o_orderpriority)),
                   (a, b) -> a + b)
                 - (CAST(t.s1_all AS DOUBLE) * CAST(t.s1_all AS DOUBLE)
                    / t.n_total) / 10000 AS ssb,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(CAST(g.s2 AS DOUBLE) / 10000
                        - CAST(g.s1 AS DOUBLE) * CAST(g.s1 AS DOUBLE)
                          / g.n / 10000 ORDER BY g.o_orderpriority)),
                   (a, b) -> a + b) AS ssw
        FROM g, tot t GROUP BY 1, 2, t.s1_all
    )
    SELECT k AS n_groups, n_total,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n_total - k AS BIGINT) AS df_within,
           round(ssb / (k - 1), 4) AS ms_between,
           round(ssw / (n_total - k), 4) AS ms_within,
           round((ssb / (k - 1)) / (ssw / (n_total - k)), 4) AS f_stat
    FROM parts
    """,
)
def agg_anova_f(spark, sf_dir):
    """One-way ANOVA F-test (Fisher 1925) of mean order value across the
    five priorities — the k-group generalization of agg_ab_ttest's
    two-sample comparison, and the readout that tells an experimenter
    whether ANY arm differs before pairwise drilling. Decomposes total
    variance into between-group (Σ s1_g²/n_g − S²/N) and within-group
    (Σ s2_g − s1_g²/n_g) sums of squares, both assembled from EXACT
    integer cent moments (Σx, Σx² in decimal(38,0)/HUGEINT — Σx²
    outgrows int64 beyond ~2k rows per cell, the agg_ab_ttest
    discipline); the float surface is the final SS divisions, identical
    doubles both engines, rounded 4dp. On this hash-free natural split
    F ≈ 1 is the null regime.

    100 TB: one map-side-combinable (priority, moments) rollup — 5 cells
    — then driver-free scalar algebra on the 5-row frame with a 1-row
    broadcast total. Nothing else moves."""
    o = load_table(spark, sf_dir, "orders")
    price_cents = cents("o_totalprice")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(price_cents.cast("decimal(38,0)")).alias("s1"),
        F.sum((price_cents.cast("decimal(38,0)") * price_cents)).alias("s2"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum("s1").cast("decimal(38,0)").alias("s1_all"),
    )
    # Fold-left over priority-ordered term arrays: a bare F.sum over the
    # five per-group doubles is partition-order-dependent in the last ulp,
    # which flaps the strict-equality parity harness (the exact decimal
    # moments are order-free; only the float reduction needs pinning).
    tb = (
        F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
        / 10000
    )
    tw = (
        F.col("s2").cast("double") / 10000
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
        / 10000
    )
    parts = (
        g.crossJoin(F.broadcast(tot))
        .select("k", "n_total", "s1_all", "o_orderpriority", tb.alias("tb"), tw.alias("tw"))
        .groupBy("k", "n_total", "s1_all")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("o_orderpriority", "tb"))
                    ),
                    lambda x: x["tb"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("ssb_raw"),
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("o_orderpriority", "tw"))
                    ),
                    lambda x: x["tw"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("ssw"),
        )
    )
    return parts.select(
        F.col("k").alias("n_groups"),
        "n_total",
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n_total") - F.col("k")).cast("long").alias("df_within"),
        F.round(
            (
                F.col("ssb_raw")
                - F.col("s1_all").cast("double")
                * F.col("s1_all").cast("double")
                / F.col("n_total")
                / 10000
            )
            / (F.col("k") - 1),
            4,
        ).alias("ms_between"),
        F.round(F.col("ssw") / (F.col("n_total") - F.col("k")), 4).alias(
            "ms_within"
        ),
        F.round(
            (
                (
                    F.col("ssb_raw")
                    - F.col("s1_all").cast("double")
                    * F.col("s1_all").cast("double")
                    / F.col("n_total")
                    / 10000
                )
                / (F.col("k") - 1)
            )
            / (F.col("ssw") / (F.col("n_total") - F.col("k"))),
            4,
        ).alias("f_stat"),
    )


# Ljung-Box critical value: chi²(df=7) 95th percentile, a fixed design
# constant embedded identically in both engines (the SPRT/burst micro-nat
# discipline). Standard table value 14.0671404493 → micro units.
_LJUNG_CRIT_MICRO = 14_067_140


def _ljung_box_oracle() -> str:
    return f"""
    WITH acf AS ({ORACLES["agg_acf_lags"]}
    ), nn AS (
        SELECT CAST(max(n_terms + lag) AS BIGINT) AS n FROM acf
    ), terms AS (
        SELECT acf.lag,
               CAST((nn.n * (nn.n + 2) * CAST(acf.acf_micro AS HUGEINT)
                     * acf.acf_micro)
                    // ((nn.n - acf.lag) * 1000000) AS BIGINT) AS term_micro
        FROM acf, nn
    )
    SELECT CAST(count(*) AS BIGINT) AS df,
           nn.n AS n_obs,
           CAST(sum(term_micro) AS BIGINT) AS q_micro,
           CAST({_LJUNG_CRIT_MICRO} AS BIGINT) AS crit_micro,
           sum(term_micro) > {_LJUNG_CRIT_MICRO} AS reject_white_noise
    FROM terms, nn GROUP BY nn.n
    """


@register("agg_ljung_box", oracle=_ljung_box_oracle())
def agg_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau white-noise test (Ljung & Box 1978,
    Biometrika) over agg_acf_lags' integer autocorrelations: Q =
    n(n+2)·Σ_{{k=1..7}} r_k²/(n−k), compared against the χ²(7) 95%
    critical value — the one-number answer to "is there ANY serial
    structure left?", the standard residual diagnostic after every
    win_holt_* / win_kalman_filter / win_stl_decompose fit. COMPOSES ON
    the registered ACF plan (the graph_modularity composition pattern):
    the same integer micro autocorrelations the driver already verifies
    feed Q, so the two keys can never drift apart; the critical value is
    a fixed design constant embedded identically in both engines.

    All-integer: r_k² ≤ 1e12 promotes to decimal(38,0)/HUGEINT before
    the n(n+2) product (≈5.8e18 at the calendar-bounded n≈2400 — the day
    axis does NOT grow with SF, but the promotion removes the headroom
    cliff anyway), one floor division per term, integer sum.

    100 TB: everything downstream of the ACF's own day rollup is a 7-row
    frame + a 1-row n broadcast. The cost IS agg_acf_lags."""
    acf = agg_acf_lags(spark, sf_dir)
    nn = acf.agg(
        F.max(F.col("n_terms") + F.col("lag")).cast("long").alias("n")
    )
    terms = acf.crossJoin(F.broadcast(nn)).select(
        "n",
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * (n + 2)"
            " * CAST(acf_micro AS DECIMAL(38,0)) * acf_micro"
            " div ((n - lag) * 1000000) AS BIGINT)"
        ).alias("term_micro"),
    )
    return terms.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("term_micro").cast("long").alias("q_micro"),
    ).select(
        "df",
        F.col("n").alias("n_obs"),
        "q_micro",
        F.lit(_LJUNG_CRIT_MICRO).cast("long").alias("crit_micro"),
        (F.col("q_micro") > _LJUNG_CRIT_MICRO).alias("reject_white_noise"),
    )


# TOST equivalence margin: ±2% of the pooled mean order value, and the
# one-sided z critical value at alpha=0.05 (1.6448536270) in micro units —
# fixed design constants, identical literals both engines.
_TOST_MARGIN_PERMILLE = 20
_TOST_Z_CRIT_MICRO = 1_644_854


@register(
    "agg_tost_equivalence",
    oracle=f"""
    WITH x AS (
        SELECT o_orderpriority,
               CASE WHEN {md5_bucket_duck("o_orderkey", 10)} < 5
                    THEN 'A' ELSE 'B' END AS grp,
               {cents_sql('o_totalprice')} AS cents
        FROM orders
    ), s AS (
        SELECT o_orderpriority, grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS s2
        FROM x GROUP BY 1, 2
    ), w AS (
        SELECT a.o_orderpriority, a.n AS n_a, b.n AS n_b,
               CAST(a.s1 AS DOUBLE) / a.n AS mean_a,
               CAST(b.s1 AS DOUBLE) / b.n AS mean_b,
               (CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * a.s1 / a.n)
                   / (a.n - 1) / a.n
               + (CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * b.s1 / b.n)
                   / (b.n - 1) / b.n AS se2,
               (CAST(a.s1 AS DOUBLE) + CAST(b.s1 AS DOUBLE))
                   / (a.n + b.n) AS pooled_mean
        FROM s a JOIN s b ON a.o_orderpriority = b.o_orderpriority
        WHERE a.grp = 'A' AND b.grp = 'B'
    )
    SELECT o_orderpriority, n_a, n_b,
           round((mean_a - mean_b) / 100, 4) AS diff_dollars,
           round(pooled_mean * {_TOST_MARGIN_PERMILLE} / 1000 / 100, 4)
               AS margin_dollars,
           round((mean_a - mean_b + pooled_mean * {_TOST_MARGIN_PERMILLE}
                  / 1000) / sqrt(se2), 4) AS t_lower,
           round((mean_a - mean_b - pooled_mean * {_TOST_MARGIN_PERMILLE}
                  / 1000) / sqrt(se2), 4) AS t_upper,
           (mean_a - mean_b + pooled_mean * {_TOST_MARGIN_PERMILLE} / 1000)
               / sqrt(se2) > {_TOST_Z_CRIT_MICRO} / 1000000.0
           AND (mean_a - mean_b - pooled_mean * {_TOST_MARGIN_PERMILLE} / 1000)
               / sqrt(se2) < -{_TOST_Z_CRIT_MICRO} / 1000000.0
               AS equivalent
    FROM w
    """,
)
def agg_tost_equivalence(spark, sf_dir):
    """TOST equivalence test (Schuirmann 1987, the two-one-sided-tests
    procedure behind every bioequivalence and "no-regression" launch
    gate) per priority on the hashed A/B arms: a non-significant t-test
    can NEVER certify "the arms are the same" — TOST can, by rejecting
    BOTH one-sided hypotheses that the difference exceeds ±2% of the
    pooled mean. Completes the experiment-readout family:
    agg_ab_ttest detects difference, agg_ab_power_mde sizes it,
    agg_sprt_sequential stops early, this certifies equivalence. On the
    null hash split with these n, equivalence should certify — the
    guardrail-readout regime.

    Exactness: moments are exact decimal(38,0)/HUGEINT cent sums (the
    agg_ab_ttest discipline); the margin (permille of pooled mean) and
    the one-sided z critical value are fixed integer design constants;
    the float surface is the final mean/SE algebra — identical doubles
    both engines, 4dp.

    100 TB: one (priority, arm) moments rollup — ten cells — then scalar
    algebra; nothing else moves."""
    o = load_table(spark, sf_dir, "orders")
    price_cents = cents("o_totalprice")
    grp = F.when(md5_bucket("o_orderkey", 10) < 5, "A").otherwise("B")
    s = o.groupBy("o_orderpriority", grp.alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(price_cents.cast("decimal(38,0)")).alias("s1"),
        F.sum(price_cents.cast("decimal(38,0)") * price_cents).alias("s2"),
    )
    a = s.filter(F.col("grp") == "A").select(
        "o_orderpriority",
        F.col("n").alias("n_a"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = s.filter(F.col("grp") == "B").select(
        "o_orderpriority",
        F.col("n").alias("n_b"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    w = (
        a.join(b, "o_orderpriority")
        .withColumn("mean_a", F.col("s1a").cast("double") / F.col("n_a"))
        .withColumn("mean_b", F.col("s1b").cast("double") / F.col("n_b"))
        .withColumn(
            "se2",
            (
                F.col("s2a").cast("double")
                - F.col("s1a").cast("double") * F.col("s1a").cast("double") / F.col("n_a")
            )
            / (F.col("n_a") - 1)
            / F.col("n_a")
            + (
                F.col("s2b").cast("double")
                - F.col("s1b").cast("double") * F.col("s1b").cast("double") / F.col("n_b")
            )
            / (F.col("n_b") - 1)
            / F.col("n_b"),
        )
        .withColumn(
            "pooled_mean",
            (F.col("s1a").cast("double") + F.col("s1b").cast("double"))
            / (F.col("n_a") + F.col("n_b")),
        )
    )
    margin = F.col("pooled_mean") * _TOST_MARGIN_PERMILLE / 1000
    t_lo = (F.col("mean_a") - F.col("mean_b") + margin) / F.sqrt("se2")
    t_hi = (F.col("mean_a") - F.col("mean_b") - margin) / F.sqrt("se2")
    zc = _TOST_Z_CRIT_MICRO / 1_000_000.0
    return w.select(
        "o_orderpriority",
        "n_a",
        "n_b",
        F.round((F.col("mean_a") - F.col("mean_b")) / 100, 4).alias(
            "diff_dollars"
        ),
        F.round(margin / 100, 4).alias("margin_dollars"),
        F.round(t_lo, 4).alias("t_lower"),
        F.round(t_hi, 4).alias("t_upper"),
        ((t_lo > zc) & (t_hi < -zc)).alias("equivalent"),
    )


#: K-ladder for the quantile-sketch geometry planner.
_QSKG_LADDER = (16, 32, 64, 128, 256, 512)


@register(
    "plan_quantile_sketch_geometry",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS pri, o_orderkey AS k,
               {cents_sql('o_totalprice')} AS cents,
               {md5_int_duck("o_orderkey", 12)}
                   AS skey
        FROM orders
    ), ranked AS (
        SELECT pri, k, cents,
               row_number() OVER (PARTITION BY pri ORDER BY skey, k) AS rn
        FROM c
    ), ladder(k_cap) AS (VALUES {", ".join(f"({k})" for k in _QSKG_LADDER)}),
    cand AS (
        SELECT pri, CAST(k_cap AS BIGINT) AS k_cap, k, cents
        FROM ranked JOIN ladder ON rn <= k_cap
    ), sr AS (
        SELECT pri, k_cap, cents,
               row_number() OVER (PARTITION BY pri, k_cap
                                  ORDER BY cents, k) AS r,
               count(*) OVER (PARTITION BY pri, k_cap) AS m
        FROM cand
    ), est AS (
        SELECT pri, k_cap, CAST(max(m) AS BIGINT) AS m,
               min(CASE WHEN 100 * r >= 50 * m THEN cents END) AS p50,
               min(CASE WHEN 100 * r >= 90 * m THEN cents END) AS p90
        FROM sr GROUP BY pri, k_cap
    ), er AS (
        SELECT pri, cents,
               row_number() OVER (PARTITION BY pri ORDER BY cents, k) AS r,
               count(*) OVER (PARTITION BY pri) AS n
        FROM c
    ), ex AS (
        SELECT pri,
               min(CASE WHEN 100 * r >= 50 * n THEN cents END) AS e50,
               min(CASE WHEN 100 * r >= 90 * n THEN cents END) AS e90
        FROM er GROUP BY pri
    ), errs AS (
        SELECT est.k_cap, est.m,
               abs(est.p50 - ex.e50) * 1000 // ex.e50 AS ep50,
               abs(est.p90 - ex.e90) * 1000 // ex.e90 AS ep90
        FROM est JOIN ex ON est.pri = ex.pri
    )
    SELECT k_cap,
           CAST(sum(m) AS BIGINT)    AS sample_rows,
           CAST(max(ep50) AS BIGINT) AS max_err_p50_permille,
           CAST(max(ep90) AS BIGINT) AS max_err_p90_permille
    FROM errs GROUP BY k_cap
    """,
)
def plan_quantile_sketch_geometry(spark, sf_dir):
    """Quantile-sketch K-geometry planner — the third planner table,
    closing the family next to plan_lsh_band_geometry (band config vs
    candidate cost/recall) and plan_ivf_probe_geometry (nprobe vs
    scan/recall): for each sample cap K in {16..512} it reports the two
    numbers the knob trades off — state cost (sample_rows kept per group)
    and worst-group p50/p90 rank-sketch error vs the exact arm, in
    quantized permille. A 100 TB deployment reads this table once on a
    hash-sample to size agg_quantile_sketch_merge / stream_quantile_ingest
    state before paying for it (rank error ~ 0.5/sqrt(K): halving error
    costs 4x state — the table shows where that stops paying for itself).

    One rank window per group feeds every ladder rung (the K cut is a
    predicate on the SAME rn, so the 6-config sweep costs one window +
    a <= sum(ladder)-rows-per-group broadcast-ladder expansion, not 6
    scans); the exact arm is the shared verification harness you would
    drop at scale. All md5/integer arithmetic — the full table
    hash-verifies cross-engine. At K=512 the one-level cut here equals
    the two-level shard merge of agg_quantile_sketch_merge by the
    bottom-k algebra, an equality tests/test_aggregates.py pins."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderkey").alias("k"),
            cents("o_totalprice").alias("cents"),
        )
        .withColumn(
            "skey",
            md5_int("k", 12),
        )
    )
    wpri = Window.partitionBy("pri").orderBy("skey", "k")
    sub = (
        o.withColumn("rn", F.row_number().over(wpri))
        .filter(F.col("rn") <= max(_QSKG_LADDER))
    )
    ladder = spark.createDataFrame(
        [(k,) for k in _QSKG_LADDER], "k_cap: long"
    )
    cand = sub.join(F.broadcast(ladder), F.col("rn") <= F.col("k_cap")).select(
        "pri", "k_cap", "k", "cents"
    )
    est = _nearest_rank_quantiles(cand, ["pri", "k_cap"], "m", "p50", "p90")
    ex = _nearest_rank_quantiles(o, ["pri"], "n", "e50", "e90").drop("n")
    errs = est.join(F.broadcast(ex), "pri").select(
        "k_cap",
        "m",
        F.floor(
            F.abs(F.col("p50") - F.col("e50")) * F.lit(1000) / F.col("e50")
        ).alias("ep50"),
        F.floor(
            F.abs(F.col("p90") - F.col("e90")) * F.lit(1000) / F.col("e90")
        ).alias("ep90"),
    )
    return errs.groupBy("k_cap").agg(
        F.sum("m").cast("long").alias("sample_rows"),
        F.max("ep50").cast("long").alias("max_err_p50_permille"),
        F.max("ep90").cast("long").alias("max_err_p90_permille"),
    )
