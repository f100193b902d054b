"""Window-function operators (SURVEY.md §2.5).

Beyond the reference's pandas surface (groupby/transform at best) — this is
the analytic layer the driver mandates. Determinism rules (SURVEY §5.6)
applied throughout: every window ordering ends in a unique key tiebreak, and
null ordering is explicit (Spark ASC defaults nulls-first, DuckDB nulls-last).

Scale: all windows partition by a key (customer/user) except the two
pre-aggregated daily series (bounded rows) — raw-event global windows are
banned; a single-partition window is a one-executor sort at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import cents, cents_sql
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()


@register(
    "win_topn_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
    FROM orders
    QUALIFY rn <= 3
    """,
)
def win_topn_per_group(spark, sf_dir):
    """Top-3 orders per customer by totalprice (tie-broken by orderkey).
    row_number + filter plans as WindowGroupLimit in Spark 4 — per-partition
    top-k without materializing full ranks."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "win_ranking",
    oracle="""
    SELECT o_orderkey,
           c_mktsegment,
           CAST(rank()       OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC) AS BIGINT) AS rnk,
           CAST(dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC) AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS quartile,
           round(percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC), 4) AS pct_rank,
           round(cume_dist()    OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC), 4) AS cdist
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def win_ranking(spark, sf_dir):
    """Full ranking family per market segment. rank/percent_rank/cume_dist
    order by value only (ties share ranks — deterministic); ntile needs a
    total order, so it carries the key tiebreak."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    by_val = Window.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc())
    total = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        "c_mktsegment",
        F.rank().over(by_val).cast("long").alias("rnk"),
        F.dense_rank().over(by_val).cast("long").alias("drnk"),
        F.ntile(4).over(total).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(by_val), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(by_val), 4).alias("cdist"),
    )


@register(
    "win_lag_lead",
    oracle="""
    WITH e AS (SELECT event_id, user_id, value, epoch_ns(ts) // 1000 AS ts_us
               FROM events)
    SELECT event_id,
           user_id,
           round(value - lag(value) OVER w, 4)  AS delta_value,
           ts_us - lag(ts_us) OVER w            AS gap_us,
           lead(event_id) OVER w                AS next_event
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    """,
)
def win_lag_lead(spark, sf_dir):
    """Per-user event deltas: value change and µs gap since previous event,
    next event id. Ordering (ts_us, event_id) is total → deterministic."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta_value"),
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
        F.lead("event_id").over(w).alias("next_event"),
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_spend
    FROM orders
    """,
)
def win_running_sum(spark, sf_dir):
    """Cumulative spend per customer in (date, key) order. The frame order is
    total, so both engines accumulate the identical float sequence."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("cum_spend"),
    )


def _daily_revenue(spark, sf_dir):
    """Shared pre-aggregation: revenue per order day (bounded series)."""
    o = load_table(spark, sf_dir, "orders")
    # date_trunc returns tz-aware TimestampType even on ntz input — cast back
    # so result hashes stay timezone-free (identity under the pinned UTC)
    return o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("timestamp_ntz").alias("day")
    ).agg(F.sum("o_totalprice").alias("day_rev"))


_DAILY_CTE = """
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS day, sum(o_totalprice) AS day_rev
        FROM orders GROUP BY 1
    )
"""


@register(
    "win_moving_avg",
    oracle=_DAILY_CTE
    + """
    SELECT day,
           round(avg(day_rev) OVER (
               ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
    FROM daily
    """,
)
def win_moving_avg(spark, sf_dir):
    """7-row moving average over the *pre-aggregated* daily series — the
    window is global but the input is bounded (one row per day), which is
    the only acceptable global-window shape at scale."""
    daily = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day", F.round(F.avg("day_rev").over(w), 4).alias("ma7")
    )


@register(
    "win_range_frame",
    oracle=_DAILY_CTE
    + """
    SELECT day,
           round(sum(day_rev) OVER (
               ORDER BY CAST(epoch(day) AS BIGINT)
               RANGE BETWEEN 2505600 PRECEDING AND CURRENT ROW), 4) AS trailing_30d
    FROM daily
    """,
)
def win_range_frame(spark, sf_dir):
    """30-day trailing revenue via a RANGE frame over epoch seconds
    (2,505,600s = 29 days back + current day = 30 calendar days) — RANGE
    handles calendar gaps that a ROWS frame would silently ignore."""
    daily = _daily_revenue(spark, sf_dir).withColumn(
        "epoch_s", F.unix_timestamp(F.col("day").cast("timestamp")).cast("long")
    )
    w = Window.orderBy("epoch_s").rangeBetween(-2505600, Window.currentRow)
    return daily.select(
        "day", F.round(F.sum("day_rev").over(w), 4).alias("trailing_30d")
    )


@register(
    "win_first_last_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey)  OVER w AS last_key,
           CAST(count(*) OVER w AS BIGINT) AS n_in_cust
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last_value(spark, sf_dir):
    """first_value/last_value with an explicit full frame — the default frame
    (unbounded-preceding → current-row) makes last_value just "current row",
    the classic trap; the full frame states the intent."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
        F.count(F.lit(1)).over(w).alias("n_in_cust"),
    )


@register(
    "win_gaps_islands",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, event_id,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000, event_id) AS rn,
               row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY epoch_ns(ts) // 1000, event_id) AS rn_t
        FROM events
    ), islands AS (
        SELECT user_id, event_type, rn - rn_t AS grp, count(*) AS len
        FROM seq GROUP BY user_id, event_type, rn - rn_t
    )
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT)  AS n_streaks,
           CAST(max(len) AS BIGINT)  AS max_streak
    FROM islands GROUP BY user_id, event_type
    """,
)
def win_gaps_islands(spark, sf_dir):
    """Gaps-and-islands streak detection: per user, maximal runs of
    consecutive same-type events via the classic rn − rn_per_type grouping
    key (batch cousin of stream_session's sessionization). Both row_number
    windows share the user_id partitioning, so the whole query is one
    shuffle + two cascaded small aggregations. Ordering is the total order
    (ts_us, event_id) — the oracle orders by epoch_ns//1000 to see the
    exact µs-truncated instants Spark sees (sub-µs ns would tie-break
    differently)."""
    e = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    islands = (
        e.select(
            "user_id",
            "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return islands.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").cast("long").alias("max_streak"),
    )


@register(
    "win_percent_of_total",
    oracle="""
    WITH rev AS (
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, revenue,
           round(100.0 * revenue / sum(revenue) OVER (), 4) AS pct_of_total
    FROM rev
    """,
)
def win_percent_of_total(spark, sf_dir):
    """Ratio-to-report: each nation's share of global revenue via an
    unpartitioned window sum OVER the 25-row aggregate — the window runs
    over the rollup, never the fact, so the 'global' window is trivially
    cheap at any scale (the fact sees only its one grouped shuffle).
    supplier is deliberately NOT broadcast-hinted: it scales with SF
    (~1e9 rows at 100 TB), so the projected 2-column build side is left to
    AQE/autoBroadcastJoinThreshold, which broadcasts it while it fits and
    falls back to shuffle join when it doesn't; nation (25 rows always) is
    hinted."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        "revenue",
        F.round(100.0 * F.col("revenue") / F.sum("revenue").over(w), 4).alias(
            "pct_of_total"
        ),
    )


@register(
    "win_ntile_distribution",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           ntile(4) OVER w                                              AS quartile,
           CAST(floor(1000000 * percent_rank() OVER w) AS BIGINT)       AS pr_e6,
           CAST(floor(1000000 * cume_dist() OVER w) AS BIGINT)          AS cd_e6
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def win_ntile_distribution(spark, sf_dir):
    """Distribution window family: quartile bucketing (ntile), percent_rank
    and cume_dist per order-status partition. The ordering ends in the
    unique o_orderkey, so every row's rank is total and the distribution
    values are exact small-integer ratios — identical double division in
    both engines, floored to e6 integers so the hash carries no float
    formatting. One shuffle on o_orderstatus; each partition sorts once
    and all three functions share the same window frame."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.floor(F.lit(1000000.0) * F.percent_rank().over(w)).cast("long").alias("pr_e6"),
        F.floor(F.lit(1000000.0) * F.cume_dist().over(w)).cast("long").alias("cd_e6"),
    )


@register(
    "win_rolling_corr",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS day,
               CAST(count(*) AS BIGINT) AS n_orders,
               sum(o_totalprice) AS value
        FROM orders
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
        GROUP BY o_orderdate
    ), sums AS (
        SELECT day, n_orders,
               sum(CAST(n_orders AS DOUBLE)) OVER w AS sx,
               sum(value) OVER w AS sy,
               sum(CAST(n_orders AS DOUBLE) * value) OVER w AS sxy,
               sum(CAST(n_orders AS DOUBLE) * n_orders) OVER w AS sxx,
               sum(value * value) OVER w AS syy
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, n_orders,
           CASE WHEN 7 * sxx - sx * sx > 0 AND 7 * syy - sy * sy > 0
                THEN round((7 * sxy - sx * sy)
                           / (sqrt(7 * sxx - sx * sx)
                              * sqrt(7 * syy - sy * sy)), 4)
                END AS corr7
    FROM sums
    QUALIFY row_number() OVER (ORDER BY day) >= 7
    """,
)
def win_rolling_corr(spark, sf_dir):
    """Rolling 7-day correlation between daily order count and daily value
    — the co-movement diagnostic for a pair of KPI series. Only complete
    7-row windows are emitted (partial windows make corr engine-dependent:
    a 1-row window is NULL vs NaN territory). The correlation comes from
    five explicit windowed moment sums with a zero-variance guard, NOT
    from ``corr()``: a zero-variance window (7 days of identical
    n_orders — REAL at small SFs, found by the round-7 sf0.001 emulation
    sweep) makes ANSI-mode Spark's corr RAISE DivideByZero inside the
    aggregate, where no outer when()/NaN-normalization can reach; the
    explicit form guards the denominator before dividing and emits an
    honest NULL in both engines. The five sums accumulate the identical
    float sequence in both engines (the win_running_sum precedent), and
    the single guarded divide + 4dp round is the only further float
    surface. Bounded global window: one row per 1995 day (≤365 rows
    after pre-aggregation).

    100 TB: the window runs on the pre-aggregated daily frame, not the
    fact table — the groupBy reduces first, so the single-partition sort
    touches ≤365 rows regardless of input scale."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.filter(F.col("o_orderdate").between("1995-01-01", "1995-12-31"))
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_totalprice").alias("value"),
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    wn = Window.orderBy("day")
    x = F.col("n_orders").cast("double")
    sums = daily.select(
        "day",
        "n_orders",
        F.sum(x).over(w7).alias("sx"),
        F.sum("value").over(w7).alias("sy"),
        F.sum(x * F.col("value")).over(w7).alias("sxy"),
        F.sum(x * F.col("n_orders")).over(w7).alias("sxx"),
        F.sum(F.col("value") * F.col("value")).over(w7).alias("syy"),
        F.row_number().over(wn).alias("rn"),
    )
    varx = 7 * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = 7 * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        (varx > 0) & (vary > 0),
        F.round(
            (7 * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.sqrt(varx) * F.sqrt(vary)),
            4,
        ),
    )
    return (
        sums.filter(F.col("rn") >= 7)
        .select("day", "n_orders", corr.alias("corr7"))
    )


@register(
    "win_ewma",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri, o_orderdate AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS daily_cents
        FROM orders GROUP BY 1, 2
    ), lagged AS (
        SELECT pri, day, daily_cents,
               lag(daily_cents, 1) OVER w AS x1,
               lag(daily_cents, 2) OVER w AS x2,
               lag(daily_cents, 3) OVER w AS x3,
               lag(daily_cents, 4) OVER w AS x4,
               lag(daily_cents, 5) OVER w AS x5,
               lag(daily_cents, 6) OVER w AS x6,
               row_number() OVER w AS rn
        FROM daily WINDOW w AS (PARTITION BY pri ORDER BY day)
    )
    SELECT pri AS o_orderpriority, day, daily_cents,
           round((CAST(daily_cents AS DOUBLE)
                  + 0.7 * (CAST(x1 AS DOUBLE)
                  + 0.7 * (CAST(x2 AS DOUBLE)
                  + 0.7 * (CAST(x3 AS DOUBLE)
                  + 0.7 * (CAST(x4 AS DOUBLE)
                  + 0.7 * (CAST(x5 AS DOUBLE)
                  + 0.7 * CAST(x6 AS DOUBLE)))))))
                 / 3.058819 / 100.0, 4) AS ewma
    FROM lagged WHERE rn >= 7
    """,
)
def win_ewma(spark, sf_dir):
    """7-day exponentially weighted moving average of daily order value per
    priority (decay q = 0.7, i.e. α = 0.3) — the trend smoother a KPI
    pipeline runs beside win_moving_avg's flat window. Only complete 7-row
    windows are emitted, so the normalizer is the constant Σq^j = 3.058819
    (a decimal literal, parsed to the identical double by both engines —
    never computed as (1−q⁷)/(1−q), which would add a float op that could
    differ).

    Determinism: inputs are exact integer cents (daily sums); the EWMA is
    ONE pinned Horner chain x₀+q·(x₁+q·(…+q·x₆)) of correctly-rounded
    IEEE ops written in identical nesting in both engines, then a
    division by the literal normalizer, then the 4dp round — no float
    window aggregate, no summation-order surface at all (lag() moves
    values, it does not add them).

    100 TB: the groupBy reduces the fact table to one row per (priority,
    day) map-side; the lag window is partitioned per priority over that
    pre-aggregated frame."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderdate").alias("day"),
            cents("o_totalprice").alias("cents"),
        )
        .groupBy("pri", "day")
        .agg(F.sum("cents").cast("long").alias("daily_cents"))
    )
    w = Window.partitionBy("pri").orderBy("day")
    lagged = daily.select(
        "pri",
        "day",
        "daily_cents",
        *[F.lag("daily_cents", j).over(w).alias(f"x{j}") for j in range(1, 7)],
        F.row_number().over(w).alias("rn"),
    )
    h = F.col("x6").cast("double")
    for j in (5, 4, 3, 2, 1):
        h = F.col(f"x{j}").cast("double") + F.lit(0.7) * h
    h = F.col("daily_cents").cast("double") + F.lit(0.7) * h
    return lagged.filter(F.col("rn") >= 7).select(
        F.col("pri").alias("o_orderpriority"),
        "day",
        "daily_cents",
        F.round(h / F.lit(3.058819) / F.lit(100.0), 4).alias("ewma"),
    )


@register(
    "win_cusum_drift",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri, o_orderdate AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS daily_cents
        FROM orders GROUP BY 1, 2
    ), t AS (
        SELECT pri, day, daily_cents,
               CAST(sum(daily_cents) OVER (PARTITION BY pri)
                    // count(*) OVER (PARTITION BY pri) AS BIGINT) AS target
        FROM daily
    ), p AS (
        SELECT pri, day, daily_cents,
               CAST(sum(daily_cents - target) OVER (
                   PARTITION BY pri ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS pre
        FROM t
    )
    SELECT pri AS o_orderpriority, day, daily_cents,
           CAST(pre - least(min(pre) OVER (
               PARTITION BY pri ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 0) AS BIGINT) AS cusum_cents
    FROM p
    """,
)
def win_cusum_drift(spark, sf_dir):
    """One-sided CUSUM drift detector per order priority: the classic
    change-point statistic S_i = max(0, S_{i-1} + (x_i - target)) over each
    priority's daily-revenue series, with target = the series' own floored
    mean daily cents. The recursion is NOT window-expressible directly, but
    its closed form is: S_i = P_i − min(0, min_{j≤i} P_j) where P is the
    plain running sum of the demeaned series — so two stacked prefix
    windows (running sum, then prefix-min of it) compute an inherently
    sequential statistic in one partitioned, parallel pass per priority.
    Every quantity is integer cents (the floored-mean target keeps the
    demeaned deltas integral), so the emitted series is bit-exact in both
    engines — no float surface at all.

    100 TB: the windows run on the pre-aggregated (priority, day) frame —
    ≤ |days|·|priorities| rows regardless of order volume — partitioned by
    priority, so each series sorts locally within its task; the fact scan
    reduces map-side before the one small shuffle."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("daily_cents"))
    )
    w_seq = (
        Window.partitionBy("pri")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = daily.withColumn(
        "target",
        F.expr(
            "sum(daily_cents) OVER (PARTITION BY pri) "
            "div count(*) OVER (PARTITION BY pri)"
        ),
    )
    p = t.withColumn(
        "pre", F.sum(F.col("daily_cents") - F.col("target")).over(w_seq).cast("long")
    )
    return p.select(
        F.col("pri").alias("o_orderpriority"),
        "day",
        "daily_cents",
        (F.col("pre") - F.least(F.min("pre").over(w_seq), F.lit(0).cast("long")))
        .cast("long")
        .alias("cusum_cents"),
    )


@register(
    "win_drawdown",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri, o_orderdate AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS daily_cents
        FROM orders GROUP BY 1, 2
    ), cum AS (
        SELECT pri, day, daily_cents,
               CAST(sum(daily_cents - 1500000) OVER w AS BIGINT) AS equity
        FROM daily
        WINDOW w AS (PARTITION BY pri ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), dd AS (
        SELECT pri, day, equity,
               CAST(max(equity) OVER (
                   PARTITION BY pri ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - equity AS BIGINT) AS drawdown
        FROM cum
    )
    SELECT pri AS o_orderpriority,
           CAST(max(drawdown) AS BIGINT) AS max_drawdown_cents,
           CAST(min(equity) AS BIGINT) AS equity_low_cents,
           CAST(max(equity) AS BIGINT) AS equity_high_cents
    FROM dd GROUP BY pri
    """,
)
def win_drawdown(spark, sf_dir):
    """Maximum drawdown per priority over the demeaned cumulative revenue
    curve (each day contributes daily_cents − a fixed 15 000.00 baseline,
    so the equity curve actually wanders): drawdown_i = running-max(equity)
    − equity_i, and max drawdown is its peak — the risk statistic every
    monitoring dashboard pairs with CUSUM (CUSUM detects upward drift;
    drawdown measures the worst peak-to-trough slide). Like
    win_cusum_drift, a sequential-looking statistic becomes two stacked
    prefix windows (running sum, then prefix-max of it) — partitioned,
    parallel, and all integer cents, no float surface.

    100 TB: both windows run on the pre-aggregated (priority, day) frame;
    the fact scan reduces map-side before the one small shuffle."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderdate").alias("day")
    ).agg(F.sum(cents("o_totalprice")).cast("long").alias("daily_cents"))
    w = (
        Window.partitionBy("pri")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.withColumn(
        "equity", F.sum(F.col("daily_cents") - 1_500_000).over(w).cast("long")
    )
    dd = cum.withColumn(
        "drawdown", (F.max("equity").over(w) - F.col("equity")).cast("long")
    )
    return dd.groupBy(F.col("pri").alias("o_orderpriority")).agg(
        F.max("drawdown").cast("long").alias("max_drawdown_cents"),
        F.min("equity").cast("long").alias("equity_low_cents"),
        F.max("equity").cast("long").alias("equity_high_cents"),
    )


@register(
    "win_hampel_filter",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri, o_orderdate AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), lw AS (
        SELECT pri, day, cents,
               list_sort(list(cents) OVER w) AS win,
               CAST(count(*) OVER w AS BIGINT) AS n_win
        FROM daily
        WINDOW w AS (PARTITION BY pri ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), med AS (
        SELECT pri, day, cents, win[4] AS rmed
        FROM lw WHERE n_win = 7
    ), mad AS (
        SELECT med.pri, med.day, med.cents, med.rmed,
               list_sort(list_transform(l.win, x -> abs(x - med.rmed)))[4] AS rmad
        FROM med JOIN lw l USING (pri, day)
    )
    SELECT pri AS o_orderpriority, day, cents, rmed AS rolling_median_cents,
           rmad AS rolling_mad_cents,
           (rmad > 0 AND abs(cents - rmed) > 3 * rmad) AS is_outlier
    FROM mad
    """,
)
def win_hampel_filter(spark, sf_dir):
    """Hampel outlier filter: each day's revenue against the ROLLING
    7-day median ± 3·rolling-MAD — the robust windowed cousin of
    win_zscore_outliers (a single spike cannot drag its own threshold).
    No engine has a median window function; both sides collect the 7-row
    frame into an array, sort it, and index the middle — exact integer
    order statistics, no interpolation, so the strict compare needs no
    rounding guard. Only complete 7-day frames emit; MAD = 0 (a constant
    week) flags nothing via the explicit conjunct (the
    events_anomaly_mad rule).

    100 TB: the frame is a CONSTANT 7 rows, so the collect-sort-index
    costs O(7 log 7) per row inside a priority-partitioned window — the
    legitimate use of collect_list in a frame (unbounded frames would
    not be); daily pre-aggregation bounds the window input to the
    calendar."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderdate").alias("day")
    ).agg(F.sum(cents("o_totalprice")).alias("cents"))
    w = Window.partitionBy("pri").orderBy("day").rowsBetween(-3, 3)
    lw = daily.select(
        "pri",
        "day",
        "cents",
        F.array_sort(F.collect_list("cents").over(w)).alias("win"),
        F.count("*").over(w).alias("n_win"),
    ).filter(F.col("n_win") == 7)
    med = lw.withColumn("rmed", F.expr("win[3]"))
    mad = med.withColumn(
        "rmad", F.expr("array_sort(transform(win, x -> abs(x - rmed)))[3]")
    )
    return mad.select(
        F.col("pri").alias("o_orderpriority"),
        "day",
        "cents",
        F.col("rmed").alias("rolling_median_cents"),
        F.col("rmad").alias("rolling_mad_cents"),
        (
            (F.col("rmad") > 0)
            & (F.abs(F.col("cents") - F.col("rmed")) > 3 * F.col("rmad"))
        ).alias("is_outlier"),
    )


@register(
    "win_rolling_slope",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS revenue_cents
        FROM orders GROUP BY 1, 2
    ), sums AS (
        SELECT o_orderpriority, day, revenue_cents,
               CAST(count(*) OVER w AS HUGEINT) AS n,
               CAST(sum(CAST(day AS HUGEINT)) OVER w AS HUGEINT) AS sx,
               CAST(sum(CAST(revenue_cents AS HUGEINT)) OVER w AS HUGEINT) AS sy,
               CAST(sum(CAST(day AS HUGEINT) * revenue_cents) OVER w AS HUGEINT)
                   AS sxy,
               CAST(sum(CAST(day AS HUGEINT) * day) OVER w AS HUGEINT) AS sxx
        FROM daily
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
                     RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT o_orderpriority, day, revenue_cents,
           CAST(n AS BIGINT) AS n_window,
           CASE WHEN n * sxx - sx * sx > 0
                THEN CAST(1000000 * (n * sxy - sx * sy)
                          // (n * sxx - sx * sx) AS BIGINT)
           END AS slope_microcents_per_day
    FROM sums
    """,
)
def win_rolling_slope(spark, sf_dir):
    """Rolling 30-day OLS revenue trend per order priority: the regression
    slope over each trailing window comes from five EXACT windowed sums
    (n, Σx, Σy, Σxy, Σx² — x = epoch-day, y = daily cents, all
    decimal(38,0)/HUGEINT), so slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is a
    ratio of exact integers, emitted as a signed truncating micro-cents-
    per-day value (Spark ``div`` ≡ DuckDB ``//``, both toward zero —
    §9 discipline). Single-day windows have zero x-variance and emit an
    honest NULL instead of a fake flat slope. The windowed-sums trick is
    how agg_linear_trend's closed form slides without recomputation.

    100 TB: one day-grain rollup (map-side combined), then one RANGE-
    framed window per priority over the calendar-bounded daily series —
    ~2 400 rows per partition regardless of fact volume. Products ride
    decimal(38,0): n·Σxy exceeds int64 once daily revenue crosses ~10¹⁴
    cents-days."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long").alias(
            "day"
        ),
    ).agg(
        F.sum(cents("o_totalprice")).alias("revenue_cents")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rangeBetween(-29, Window.currentRow)
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = daily.select(
        "o_orderpriority",
        "day",
        "revenue_cents",
        F.count("*").over(w).cast("decimal(38,0)").alias("n"),
        F.sum(d38("day")).over(w).alias("sx"),
        F.sum(d38("revenue_cents")).over(w).alias("sy"),
        F.sum(d38("day") * F.col("revenue_cents")).over(w).alias("sxy"),
        F.sum(d38("day") * F.col("day")).over(w).alias("sxx"),
    )
    return sums.select(
        "o_orderpriority",
        "day",
        "revenue_cents",
        F.col("n").cast("long").alias("n_window"),
        F.when(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
            F.expr(
                """CAST(1000000 * (n * sxy - sx * sy)
                        div (n * sxx - sx * sx) AS BIGINT)"""
            ),
        ).alias("slope_microcents_per_day"),
    )


@register(
    "win_holt_linear",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01'
        GROUP BY 1, 2
    ), idxed AS (
        SELECT pri, day, cents,
               CAST(row_number() OVER (PARTITION BY pri ORDER BY day) AS BIGINT)
                   AS i,
               CAST(count(*) OVER (PARTITION BY pri) AS BIGINT) AS n_days
        FROM daily
    ), rec AS (
        SELECT pri, i, n_days, cents AS l, CAST(0 AS BIGINT) AS b
        FROM idxed WHERE i = 1
        UNION ALL
        SELECT x.pri, x.i, x.n_days,
               (x.cents + 3 * (r.l + r.b)) // 4 AS l,
               (((x.cents + 3 * (r.l + r.b)) // 4 - r.l) + 3 * r.b) // 4 AS b
        FROM idxed x JOIN rec r ON x.pri = r.pri AND x.i = r.i + 1
    )
    SELECT pri AS o_orderpriority, n_days,
           l AS level_cents, b AS trend_cents,
           l + b AS forecast_next_cents
    FROM rec WHERE i = n_days
    """,
)
def win_holt_linear(spark, sf_dir):
    """Holt double-exponential smoothing (level + trend) over each
    priority's final-two-month daily revenue series, α = β = 1/4 as exact
    integer recurrences — lₜ = (yₜ + 3(l+b)) div 4, bₜ = ((lₜ−l) + 3b)
    div 4 — folded in ONE codegen'd ``aggregate`` HOF over the sorted
    per-group array (the win_ewma Horner-chain discipline extended to
    2-state recursion, which no window frame can express). The oracle
    replays the identical integer recursion as a recursive CTE, so every
    step truncates identically and the fold is bit-exact. Gap days are
    treated as consecutive observations (documented; a calendar-spine
    variant would densify first — etl_calendar_spine exists for exactly
    that).

    100 TB: one day-grain rollup, then one collect per priority of a
    CALENDAR-BOUNDED series (≤ 61 elements regardless of fact volume) and
    a linear fold — state-recursive smoothing without a driver loop,
    UDF, or per-row shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-06-01"
    )
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
    ).agg(
        F.sum(cents("o_totalprice")).alias("cents")
    )
    series = daily.groupBy("pri").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"],
        ).alias("ys")
    )
    fold = F.expr(
        """
        aggregate(
            slice(ys, 2, size(ys) - 1),
            named_struct('l', ys[0], 'b', CAST(0 AS BIGINT)),
            (acc, y) -> named_struct(
                'l', (y + 3 * (acc.l + acc.b)) div 4,
                'b', (((y + 3 * (acc.l + acc.b)) div 4 - acc.l) + 3 * acc.b) div 4
            )
        )
        """
    )
    return series.select(
        F.col("pri").alias("o_orderpriority"),
        F.size("ys").cast("long").alias("n_days"),
        fold.alias("st"),
    ).select(
        "o_orderpriority",
        "n_days",
        F.col("st.l").alias("level_cents"),
        F.col("st.b").alias("trend_cents"),
        (F.col("st.l") + F.col("st.b")).alias("forecast_next_cents"),
    )


@register(
    "win_stl_decompose",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), t AS (
        SELECT pri, day, cents,
               count(*) OVER w AS n7,
               sum(cents) OVER w AS s7
        FROM daily
        WINDOW w AS (PARTITION BY pri ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), tf AS (
        SELECT pri, day, cents,
               CAST((1000000 * s7) // 7 AS BIGINT) AS trend_micro,
               CAST(1000000 * cents - (1000000 * s7) // 7 AS BIGINT)
                   AS det_micro,
               day % 7 AS dow
        FROM t WHERE n7 = 7
    ), seas AS (
        SELECT pri, dow,
               CAST(sum(det_micro) // count(*) AS BIGINT) AS seasonal_micro
        FROM tf GROUP BY 1, 2
    )
    SELECT tf.pri AS o_orderpriority, tf.day AS day,
           tf.cents AS revenue_cents, tf.trend_micro,
           s.seasonal_micro,
           tf.det_micro - s.seasonal_micro AS residual_micro
    FROM tf JOIN seas s ON tf.pri = s.pri AND tf.dow = s.dow
    """,
)
def win_stl_decompose(spark, sf_dir):
    """Classical seasonal-trend decomposition (the moving-average core of
    STL, without loess) of each priority's daily revenue series:
    trend = centered 7-day moving average (full windows only), seasonal =
    per-day-of-week mean of the detrended series, residual = the rest —
    additive, and exactly reconstructible (value·10⁶ ≡ trend + seasonal +
    residual by construction). Zero float surface: cents are exact longs,
    trend is (10⁶·Σ₇) div 7, the seasonal mean is a signed truncating
    integer division (Spark ``div`` ≡ DuckDB ``//``, both toward zero),
    and the residual is pure subtraction — so the decomposition is
    hash-verified cross-engine, unlike the float STL every stats library
    ships. DOW index is epoch-day mod 7 (day 0 = Thursday); the label is
    an index, not a name, by design.

    100 TB: one map-side-combined day-grain rollup is the only
    corpus-scale work; the windows and the seasonal rollup run on 5
    calendar-bounded series (~2.4k rows each, partitioned by priority —
    no global window). The decomposition output is the forecasting
    pre-processing step win_holt_linear and agg_seasonality_dow consume
    conceptually; gap days are treated as absent (the centered window is
    by ROW), with etl_calendar_spine as the densifying companion."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
    ).agg(
        F.sum(cents("o_totalprice")).alias("cents")
    )
    w = Window.partitionBy("pri").orderBy("day").rowsBetween(-3, 3)
    t = (
        daily.select(
            "pri",
            "day",
            "cents",
            F.count(F.lit(1)).over(w).alias("n7"),
            F.sum("cents").over(w).alias("s7"),
        )
        .filter(F.col("n7") == 7)
        .select(
            "pri",
            "day",
            "cents",
            F.expr("(1000000 * s7) div 7").alias("trend_micro"),
            F.expr("1000000 * cents - (1000000 * s7) div 7").alias("det_micro"),
            (F.col("day") % 7).alias("dow"),
        )
        # referenced by BOTH the seasonal rollup and the final join — without
        # the checkpoint the corpus-scale daily rollup executes twice in one
        # action (SURVEY §10 lesson 4)
        .localCheckpoint(eager=False)
    )
    seas = t.groupBy("pri", "dow").agg(
        F.expr("sum(det_micro) div count(*)").alias("seasonal_micro")
    )
    return t.join(F.broadcast(seas), ["pri", "dow"]).select(
        F.col("pri").alias("o_orderpriority"),
        "day",
        F.col("cents").alias("revenue_cents"),
        "trend_micro",
        "seasonal_micro",
        (F.col("det_micro") - F.col("seasonal_micro")).alias("residual_micro"),
    )


@register(
    "win_theil_sen",
    oracle=f"""
    WITH monthly AS (
        SELECT o_orderpriority AS pri,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                   AS mi,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), nm AS (
        SELECT pri, CAST(count(*) AS BIGINT) AS n_months FROM monthly GROUP BY 1
    ), pairs AS (
        SELECT a.pri,
               CAST((1000000 * (b.cents - a.cents)) // (b.mi - a.mi) AS BIGINT)
                   AS slope_micro
        FROM monthly a JOIN monthly b ON a.pri = b.pri AND b.mi > a.mi
    ), ranked AS (
        SELECT pri, slope_micro,
               row_number() OVER (PARTITION BY pri ORDER BY slope_micro) AS rn,
               CAST(count(*) OVER (PARTITION BY pri) AS BIGINT) AS n_pairs
        FROM pairs
    )
    SELECT r.pri AS o_orderpriority, nm.n_months, r.n_pairs,
           r.slope_micro AS theil_sen_micro
    FROM ranked r JOIN nm ON r.pri = nm.pri
    WHERE r.rn = (r.n_pairs + 1) // 2
    """,
)
def win_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend per priority: the LOWER MEDIAN of all
    pairwise slopes of the monthly revenue series, in truncating integer
    microcents/month — the breakdown-point-29% alternative to
    agg_linear_trend's OLS slope (one wild month moves OLS, not the
    median of ~3.2k pairwise slopes). Every slope is an exact integer
    division ((10⁶·Δcents) div Δmonth — Spark ``div`` ≡ DuckDB ``//``,
    both toward zero, Δmonth > 0), and the median is picked positionally
    from the sorted slope multiset (rank (n+1) div 2), so the estimator is
    hash-verified cross-engine with no float quantile interpolation.

    100 TB: the pairwise expansion is on the MONTH-grain series — a
    calendar-bounded axis (~80 rows/priority → ~3.2k pairs, data-size-
    independent), so the O(n²) stage never grows with fact volume; the
    only corpus-scale work is the month rollup (map-side combined). The
    collect_list median rides the same bounded axis. Slope numerators
    stay > 25 000× under int64 at this revenue scale (documented, same
    headroom discipline as win_rolling_slope's decimal note)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mi"),
    ).agg(
        F.sum(cents("o_totalprice")).alias("cents")
    ).localCheckpoint(eager=False)  # referenced 3× (both pair sides + counts)
    a = monthly.select(
        "pri", F.col("mi").alias("a_mi"), F.col("cents").alias("a_cents")
    )
    b = monthly.select(
        F.col("pri").alias("prib"),
        F.col("mi").alias("b_mi"),
        F.col("cents").alias("b_cents"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("pri") == F.col("prib")) & (F.col("b_mi") > F.col("a_mi")),
    ).select(
        "pri",
        F.expr("(1000000 * (b_cents - a_cents)) div (b_mi - a_mi)").alias(
            "slope_micro"
        ),
    )
    med = pairs.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            "element_at(array_sort(collect_list(slope_micro)),"
            " CAST((count(1) + 1) div 2 AS INT))"
        ).alias("theil_sen_micro"),
    )
    nm = monthly.groupBy("pri").agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    return med.join(F.broadcast(nm), "pri").select(
        F.col("pri").alias("o_orderpriority"),
        "n_months",
        "n_pairs",
        "theil_sen_micro",
    )


@register(
    "win_holt_winters",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), prep AS (
        SELECT pri, CAST(count(*) AS BIGINT) AS n,
               list(cents ORDER BY day) AS ys
        FROM daily GROUP BY pri
    ), init AS (
        SELECT pri, n, CAST(list_sum(ys[1:7]) AS BIGINT) // 7 AS l0, ys
        FROM prep
    ), rec AS (
        -- the per-step observation rides the recursion as a shrinking
        -- list (rest[1] peeled each step): a join against a windowed CTE
        -- here re-evaluates that CTE once PER ITERATION (measured 22 s);
        -- list peeling runs the same 12k steps in ~1 s. list_reduce was
        -- rejected outright: DuckDB 1.0 mutates the accumulator struct
        -- field-by-field, so 'l'/'b' updates leak into the 's' expression
        -- (diagnosed against a step-by-step Python replay).
        SELECT pri, n, CAST(7 AS BIGINT) AS t, l0 AS l,
               CAST(0 AS BIGINT) AS b,
               list_transform(ys[1:7], y -> y - l0) AS s, ys[8:] AS rest
        FROM init
        UNION ALL
        SELECT r.pri, r.n, r.t + 1,
               (r.rest[1] - r.s[CAST(r.t % 7 AS INT) + 1] + 3 * (r.l + r.b)) // 4 AS l,
               (((r.rest[1] - r.s[CAST(r.t % 7 AS INT) + 1] + 3 * (r.l + r.b)) // 4) - r.l + 3 * r.b) // 4 AS b,
               list_transform(r.s, (v, k) -> CASE
                   WHEN k - 1 = CAST(r.t % 7 AS INT)
                   THEN ((r.rest[1] - ((r.rest[1] - r.s[CAST(r.t % 7 AS INT) + 1] + 3 * (r.l + r.b)) // 4)) + 3 * v) // 4
                   ELSE v END) AS s,
               r.rest[2:] AS rest
        FROM rec r WHERE len(r.rest) > 0
    )
    SELECT f.pri AS o_orderpriority, f.n AS n_days,
           CAST(h.h AS BIGINT) AS h,
           f.l + h.h * f.b
               + f.s[CAST((f.n + h.h - 1) % 7 AS INT) + 1]
               AS forecast_cents
    FROM rec f CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h
    WHERE f.t = f.n
    """,
)
def win_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (level + trend + 7-slot day-of-week seasonal,
    α = β = γ = 1/4) over each priority's FULL daily revenue series, with
    the 7-day-ahead forecast as the product — the seasonal completion of
    win_holt_linear's 2-state fold, now 9 integer states folded in one
    codegen'd ``aggregate`` HOF (the seasonal vector rides the
    accumulator as an array; the active slot updates via an
    index-matched ``transform``). Every recurrence is a truncating
    integer division (Spark ``div`` ≡ DuckDB ``//``, both toward zero,
    signed operands included), initialization is l₀ = (Σ first 7) div 7,
    s₀ⱼ = yⱼ − l₀, b₀ = 0, so the oracle's recursive CTE — which carries
    the seasonal LIST through the recursion and updates one element per
    step — replays the fold bit-exactly. Gap days are consecutive
    observations (win_holt_linear's documented caveat;
    etl_calendar_spine densifies when that matters).

    100 TB: one map-side-combined day-grain rollup, then a linear fold
    per priority over a CALENDAR-BOUNDED array (~2.4k elements regardless
    of fact volume) — 12k total fold steps, no driver loop, no UDF, no
    per-row shuffle. Forecast slot for horizon h is (n + h − 1) mod 7 off
    the final state."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
    ).agg(
        F.sum(cents("o_totalprice")).alias("cents")
    )
    series = daily.groupBy("pri").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"],
        ).alias("ys")
    )
    prepared = series.select(
        "pri",
        F.size("ys").cast("long").alias("n_days"),
        "ys",
        F.expr(
            "aggregate(slice(ys, 1, 7), CAST(0 AS BIGINT), (a, x) -> a + x)"
            " div 7"
        ).alias("l0"),
    ).withColumn("s0", F.expr("transform(slice(ys, 1, 7), y -> y - l0)"))
    lt = (
        "(y - element_at(acc.s, CAST(acc.i % 7 AS INT) + 1)"
        " + 3 * (acc.l + acc.b)) div 4"
    )
    fold = F.expr(
        f"""
        aggregate(
            slice(ys, 8, size(ys) - 7),
            named_struct('l', l0, 'b', CAST(0 AS BIGINT), 's', s0,
                         'i', CAST(7 AS BIGINT)),
            (acc, y) -> named_struct(
                'l', {lt},
                'b', (({lt}) - acc.l + 3 * acc.b) div 4,
                's', transform(acc.s, (v, k) -> IF(k = CAST(acc.i % 7 AS INT),
                         ((y - ({lt})) + 3 * v) div 4, v)),
                'i', acc.i + 1
            )
        )
        """
    )
    horizons = F.explode(F.expr("sequence(1, 7)")).alias("h")
    return (
        prepared.select("pri", "n_days", fold.alias("st"))
        .select("pri", "n_days", "st", horizons)
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_days",
            F.col("h").cast("long").alias("h"),
            F.expr(
                "st.l + h * st.b"
                " + element_at(st.s, CAST((n_days + h - 1) % 7 AS INT) + 1)"
            ).alias("forecast_cents"),
        )
    )


# Kalman recurrence constants (micro fixed-point): measurement noise R,
# process noise Q, and the prior variance P0 — all in the same micro scale,
# so the gain K = 10⁶·P⁻/(P⁻+R) is a pure integer in [0, 10⁶] whose
# sequence depends only on (P0, Q, R), never on the data. Q/R = 1/4 puts
# the steady-state gain near 0.39, a visibly-smoothing-but-tracking filter.
_KALMAN_R = 1_000_000
_KALMAN_Q = 250_000
_KALMAN_P0 = 1_000_000
# The K expression repeated through the fold (Spark) and recursion (DuckDB):
# predicted variance P⁻ = p + Q, then K = 10⁶·P⁻ div (P⁻ + R).
_KALMAN_K = (
    f"(1000000 * (acc.p + {_KALMAN_Q})) div (acc.p + {_KALMAN_Q} + {_KALMAN_R})"
)
_KALMAN_K_SQL = (
    f"(1000000 * (r.p + {_KALMAN_Q})) // (r.p + {_KALMAN_Q} + {_KALMAN_R})"
)


@register(
    "win_kalman_filter",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   // 1000 AS y
        FROM orders GROUP BY 1, 2
    ), prep AS (
        SELECT pri, CAST(count(*) AS BIGINT) AS n, list(y ORDER BY day) AS ys
        FROM daily GROUP BY pri
    ), rec AS (
        -- list peeling (rest[1] consumed per step), the win_holt_winters
        -- recursion shape: a join against a windowed CTE would re-evaluate
        -- it once per iteration.
        SELECT pri, n, CAST(1 AS BIGINT) AS t, ys[1] AS x,
               CAST({_KALMAN_P0} AS BIGINT) AS p, CAST(0 AS BIGINT) AS ai,
               CAST(0 AS BIGINT) AS k, ys[2:] AS rest
        FROM prep
        UNION ALL
        SELECT r.pri, r.n, r.t + 1,
               r.x + (({_KALMAN_K_SQL}) * (r.rest[1] - r.x)) // 1000000 AS x,
               ((1000000 - ({_KALMAN_K_SQL})) * (r.p + {_KALMAN_Q}))
                   // 1000000 AS p,
               r.ai + abs(r.rest[1] - r.x) AS ai,
               {_KALMAN_K_SQL} AS k,
               r.rest[2:] AS rest
        FROM rec r WHERE len(r.rest) > 0
    )
    SELECT pri AS o_orderpriority, n AS n_days, x AS x_filtered,
           p AS p_micro, k AS gain_micro,
           CASE WHEN n > 1 THEN ai // (n - 1) ELSE NULL END AS mean_abs_innov
    FROM rec WHERE t = n
    """,
)
def win_kalman_filter(spark, sf_dir):
    """1-D Kalman filter (random-walk state model) over each priority's
    daily revenue series, folded as 4 integer states — level x, variance p,
    cumulative |innovation| ai, last gain k — in one codegen'd ``aggregate``
    HOF. All arithmetic is micro fixed-point with truncating integer
    division (Spark ``div`` ≡ DuckDB ``//``, toward zero, signed operands
    included): P⁻ = p + Q; K = 10⁶·P⁻ div (P⁻ + R); x' = x + K·(y − x) div
    10⁶; p' = (10⁶ − K)·P⁻ div 10⁶. The gain sequence depends only on
    (P0, Q, R) = (1e6, 250k, 1e6) micro and converges to the
    steady-state root of the Riccati recurrence (390,388 micro, pinned by
    test_kalman_fold_matches_python_replay); the
    data enters only through the level updates. Observations are daily
    cents div 1000 (tens of dollars), bounding every product: K·innov ≤
    10⁶·|y| and (10⁶−K)·P⁻ ≤ 10⁶·(P0+Q) ≪ 2⁶³ with ~10⁶× revenue
    headroom. Gap days are consecutive observations (win_holt_linear's
    documented caveat; etl_calendar_spine densifies when that matters).

    100 TB: one map-side-combined day-grain rollup, then a linear fold per
    priority over a CALENDAR-BOUNDED array (~2.4k elements regardless of
    fact volume) — no driver loop, no UDF, no per-row shuffle. The oracle
    replays the recursion bit-exactly via the list-peeling recursive CTE
    (the win_holt_winters pattern)."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day"),
        )
        .agg(
            F.sum(cents("o_totalprice")).alias("cents")
        )
        .select("pri", "day", F.expr("cents div 1000").alias("y"))
    )
    series = daily.groupBy("pri").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))),
            lambda s: s["y"],
        ).alias("ys")
    )
    fold = F.expr(
        f"""
        aggregate(
            slice(ys, 2, size(ys) - 1),
            named_struct('x', element_at(ys, 1),
                         'p', CAST({_KALMAN_P0} AS BIGINT),
                         'ai', CAST(0 AS BIGINT),
                         'k', CAST(0 AS BIGINT)),
            (acc, y) -> named_struct(
                'x', acc.x + (({_KALMAN_K}) * (y - acc.x)) div 1000000,
                'p', ((1000000 - ({_KALMAN_K})) * (acc.p + {_KALMAN_Q}))
                         div 1000000,
                'ai', acc.ai + abs(y - acc.x),
                'k', {_KALMAN_K}
            )
        )
        """
    )
    return (
        series.select(
            "pri", F.size("ys").cast("long").alias("n_days"), fold.alias("st")
        )
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_days",
            F.col("st.x").alias("x_filtered"),
            F.col("st.p").alias("p_micro"),
            F.col("st.k").alias("gain_micro"),
            F.expr("IF(n_days > 1, st.ai div (n_days - 1), NULL)").alias(
                "mean_abs_innov"
            ),
        )
    )


@register(
    "win_pettitt_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT event_type, day, cnt,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               rank() OVER (PARTITION BY event_type ORDER BY cnt ASC)
                 + CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) + 1
                 - rank() OVER (PARTITION BY event_type ORDER BY cnt DESC)
                 AS r2
        FROM daily
    ), u AS (
        SELECT event_type, day, t, n,
               sum(r2) OVER (PARTITION BY event_type ORDER BY t
                             ROWS UNBOUNDED PRECEDING) - t * (n + 1) AS ut
        FROM ranked
    ), best AS (
        SELECT event_type, day, n, ut, abs(ut) AS k,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(ut) DESC, day ASC) AS rn
        FROM u WHERE t < n
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           day AS cp_day,
           CAST(k AS BIGINT) AS k_stat,
           CASE WHEN ut > 0 THEN 'down' WHEN ut < 0 THEN 'up'
                ELSE 'none' END AS shift_dir,
           round(least(1.0, 2 * exp(-6.0 * k * k
                 / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n))), 4)
               AS p_approx
    FROM best WHERE rn = 1
    """,
)
def win_pettitt_changepoint(spark, sf_dir):
    """Pettitt changepoint test per event type's daily-count series: the
    rank-based Mann-Whitney statistic U_t = 2·Σ_{i≤t} r_i − t(n+1)
    computed for every split point, the maximizing day as the detected
    changepoint, and the classic 2·exp(−6K²/(n³+n²)) significance
    approximation. The midrank trick keeps it integer-exact: with
    rank_asc + (n+1) − rank_desc = 2·midrank, the doubled ranks are
    BIGINTs, so every U_t is an exact integer in both engines — the only
    float is the final exp(), rounded at 4dp on identical inputs. U_t > 0
    at the argmax means early observations rank high (a downward shift).

    100 TB: the daily rollup is the only pass over raw events (map-side
    combined, |types|·|days| rows out); the rank/cumsum windows ride
    |types| partitions of a bounded calendar axis — the documented
    bounded-axis whitelist shape (≤ a few thousand days per type), the
    same contract as win_stl_decompose. K ≤ n²/2 keeps K² inside int64
    for any series up to ~55k points; longer series should pre-aggregate
    to weeks (the test is rank-based, so coarsening is the standard
    remedy)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wt = Window.partitionBy("event_type")
    ranked = (
        daily.withColumn("t", F.row_number().over(wt.orderBy("day")))
        .withColumn("n", F.count(F.lit(1)).over(wt).cast("long"))
        .withColumn(
            "r2",
            F.rank().over(wt.orderBy(F.col("cnt").asc()))
            + F.col("n")
            + 1
            - F.rank().over(wt.orderBy(F.col("cnt").desc())),
        )
    )
    u = ranked.withColumn(
        "ut",
        F.sum("r2").over(wt.orderBy("t").rowsBetween(Window.unboundedPreceding, 0))
        - F.col("t") * (F.col("n") + 1),
    ).filter(F.col("t") < F.col("n"))
    best = u.withColumn("k", F.abs("ut")).withColumn(
        "rn",
        F.row_number().over(wt.orderBy(F.col("k").desc(), F.col("day").asc())),
    ).filter(F.col("rn") == 1)
    n_d = F.col("n").cast("double")
    return best.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("day").alias("cp_day"),
        F.col("k").cast("long").alias("k_stat"),
        F.when(F.col("ut") > 0, "down")
        .when(F.col("ut") < 0, "up")
        .otherwise("none")
        .alias("shift_dir"),
        F.round(
            F.least(
                F.lit(1.0),
                2 * F.exp(-6.0 * F.col("k") * F.col("k") / (n_d * F.col("n") * F.col("n") + n_d * F.col("n"))),
            ),
            4,
        ).alias("p_approx"),
    )


@register(
    "win_sax_paa",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2
    ), idx AS (
        SELECT pri, day, cnt,
               row_number() OVER (PARTITION BY pri ORDER BY day) AS t,
               CAST(count(*) OVER (PARTITION BY pri) AS BIGINT) AS n
        FROM daily
    ), seg AS (
        SELECT pri, CAST((t - 1) * 8 // n AS INT) AS seg,
               any_value(n) AS n,
               CAST(sum(cnt) AS BIGINT) AS seg_sum,
               CAST(count(*) AS BIGINT) AS seg_days
        FROM idx GROUP BY 1, 2
    ), sym AS (
        SELECT pri, seg, n,
               CAST(seg_sum AS DOUBLE) / seg_days AS paa,
               ntile(4) OVER (PARTITION BY pri
                              ORDER BY CAST(seg_sum AS DOUBLE) / seg_days ASC,
                                       seg ASC) AS q
        FROM seg
    )
    SELECT pri AS o_orderpriority,
           any_value(n) AS n_days,
           string_agg(CASE q WHEN 1 THEN 'a' WHEN 2 THEN 'b'
                             WHEN 3 THEN 'c' ELSE 'd' END,
                      '' ORDER BY seg) AS sax_word,
           round(min(paa), 4) AS min_paa,
           round(max(paa), 4) AS max_paa
    FROM sym
    GROUP BY pri
    """,
)
def win_sax_paa(spark, sf_dir):
    """Quantile-SAX symbolic series compression: each order priority's
    daily-count series is Piecewise-Aggregate-Approximated into 8 equal
    segments and each segment's mean is mapped to a quartile symbol a-d
    via ntile — the shape fingerprint ("abdcadbb") that lets downstream
    similarity/motif queries compare million-point series as 8-char
    strings. Classic SAX places breakpoints on a Gaussian assumption;
    the quantile variant used here is rank-based, which keeps it
    integer-exact: segment means are single divisions of exact integer
    sums (bit-identical across engines), and ntile's ordering carries a
    seg-index tiebreak so tied means cannot split differently.

    100 TB: one map-side-combined daily rollup over the fact scan, then
    all windows ride |priorities| partitions of the bounded calendar axis
    (the win_stl_decompose whitelist shape); the 8-segment rollup and the
    word assembly are |priorities|·8 rows — output is 5 rows at any
    scale factor."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wp = Window.partitionBy("pri")
    idx = daily.withColumn("t", F.row_number().over(wp.orderBy("day"))).withColumn(
        "n", F.count(F.lit(1)).over(wp).cast("long")
    )
    seg = idx.groupBy(
        "pri", F.expr("CAST((t - 1) * 8 DIV n AS INT)").alias("seg")
    ).agg(
        F.any_value("n").alias("n"),
        F.sum("cnt").cast("long").alias("seg_sum"),
        F.count(F.lit(1)).cast("long").alias("seg_days"),
    )
    paa = F.col("seg_sum").cast("double") / F.col("seg_days")
    sym = seg.withColumn("paa", paa).withColumn(
        "q", F.ntile(4).over(wp.orderBy(paa.asc(), F.col("seg").asc()))
    )
    letter = (
        F.when(F.col("q") == 1, "a")
        .when(F.col("q") == 2, "b")
        .when(F.col("q") == 3, "c")
        .otherwise("d")
    )
    return (
        sym.withColumn("sym", letter)
        .groupBy("pri")
        .agg(
            F.any_value("n").alias("n_days"),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(seg, sym))),"
                " s -> s.sym), '')"
            ).alias("sax_word"),
            F.round(F.min("paa"), 4).alias("min_paa"),
            F.round(F.max("paa"), 4).alias("max_paa"),
        )
        .withColumnRenamed("pri", "o_orderpriority")
    )


@register(
    "win_bollinger_bands",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   // 100 AS y
        FROM orders GROUP BY 1, 2
    ), w AS (
        SELECT pri, day, y,
               CAST(count(*) OVER win AS BIGINT) AS k,
               CAST(sum(y) OVER win AS BIGINT) AS s,
               CAST(sum(y * y) OVER win AS BIGINT) AS s2
        FROM daily
        WINDOW win AS (PARTITION BY pri ORDER BY day
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT pri AS o_orderpriority, day, y,
           round(CAST(s AS DOUBLE) / k, 4) AS mean_dollars,
           round(sqrt(CAST(k * s2 - s * s AS DOUBLE) / (k * (k - 1))), 4)
               AS std_dollars,
           CAST(CASE WHEN k * y - s > 0
                     AND (k - 1) * (k * y - s) * (k * y - s)
                         > 4 * k * (k * s2 - s * s)
                     THEN 1 ELSE 0 END AS BIGINT) AS breakout_up,
           CAST(CASE WHEN k * y - s < 0
                     AND (k - 1) * (k * y - s) * (k * y - s)
                         > 4 * k * (k * s2 - s * s)
                     THEN 1 ELSE 0 END AS BIGINT) AS breakout_down
    FROM w WHERE k = 20
    """,
)
def win_bollinger_bands(spark, sf_dir):
    """Bollinger bands over each priority's daily revenue: 20-day rolling
    mean ± 2σ with breakout flags — the volatility envelope that turns a
    revenue series into "is today abnormal given the recent regime?".
    The flags never touch a float: y vs mean ± 2σ cross-multiplies to
    (k−1)·(k·y − S)² > 4k·(k·S2 − S²) with a sign guard — exact BIGINT
    in whole dollars (cents DIV 100; the dollar truncation keeps the
    squared terms ~1e15, inside int64 with ~10³× revenue headroom —
    beyond that the comparison moves to DECIMAL(38,0), the
    win_rolling_corr guarded-moment precedent). The emitted mean/σ are
    single divisions/sqrts of exact integer window sums, rounded 4dp.
    Rows with an incomplete 20-day warm-up window are excluded (classic
    Bollinger semantics).

    100 TB: one map-side-combined day-grain rollup, then one
    priority-partitioned window over the bounded calendar axis (the
    win_moving_avg shape) — no global sort, no second fact pass."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long").alias("day"),
    ).agg(
        F.expr(
            f"CAST(sum({cents_sql('o_totalprice')}) AS BIGINT) DIV 100"
        ).alias("y")
    )
    win = (
        Window.partitionBy("pri").orderBy("day").rowsBetween(-19, 0)
    )
    w = (
        daily.withColumn("k", F.count(F.lit(1)).over(win).cast("long"))
        .withColumn("s", F.sum("y").over(win).cast("long"))
        .withColumn("s2", F.sum(F.col("y") * F.col("y")).over(win).cast("long"))
        .filter(F.col("k") == 20)
    )
    k, s, s2, y = F.col("k"), F.col("s"), F.col("s2"), F.col("y")
    dev = k * y - s
    var_num = k * s2 - s * s
    exceed = (k - 1) * dev * dev > 4 * k * var_num
    return w.select(
        F.col("pri").alias("o_orderpriority"),
        "day",
        "y",
        F.round(s.cast("double") / k, 4).alias("mean_dollars"),
        F.round(F.sqrt(var_num.cast("double") / (k * (k - 1))), 4).alias(
            "std_dollars"
        ),
        F.when((dev > 0) & exceed, 1).otherwise(0).cast("long").alias("breakout_up"),
        F.when((dev < 0) & exceed, 1).otherwise(0).cast("long").alias("breakout_down"),
    )


@register(
    "win_rsi",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   // 100 AS y
        FROM orders GROUP BY 1, 2
    ), d AS (
        SELECT pri, day, y,
               y - lag(y) OVER (PARTITION BY pri ORDER BY day) AS delta
        FROM daily
    ), w AS (
        SELECT pri, day, y,
               CAST(count(delta) OVER win AS BIGINT) AS k,
               CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END)
                    OVER win AS BIGINT) AS g,
               CAST(sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END)
                    OVER win AS BIGINT) AS l
        FROM d
        WINDOW win AS (PARTITION BY pri ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT pri AS o_orderpriority, day, y, g AS gain_sum, l AS loss_sum,
           CASE WHEN g + l = 0 THEN 50.0
                ELSE round(100.0 * g / (g + l), 4) END AS rsi
    FROM w WHERE k = 14
    """,
)
def win_rsi(spark, sf_dir):
    """14-day RSI (relative strength index, SMA variant) over each
    priority's daily revenue: RSI = 100·G/(G+L) where G/L are the window
    sums of positive/negative day-over-day deltas. The momentum gauge that
    pairs with win_bollinger_bands' volatility envelope — bands say "is
    today's LEVEL abnormal", RSI says "is the recent DIRECTION one-sided".

    Exactness: deltas of whole-dollar integers are integers, so G and L
    are exact BIGINT window sums; the single final division is rounded
    4dp, and the G+L=0 flat-regime case is pinned to 50.0 (the
    conventional neutral reading) instead of tripping ANSI div-by-zero.
    Warm-up rows with fewer than 14 deltas are excluded via an exact
    non-null count, not a row offset — the first row of each series has a
    NULL delta, so k=14 first holds on row 15.

    100 TB: one map-side-combined day-grain rollup, then two ordered
    passes over the same priority-partitioned bounded calendar axis (lag,
    then the rolling sums) — Spark plans both in a single sort, no
    global window, no second fact scan."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long").alias("day"),
    ).agg(
        F.expr(
            f"CAST(sum({cents_sql('o_totalprice')}) AS BIGINT) DIV 100"
        ).alias("y")
    )
    ordered = Window.partitionBy("pri").orderBy("day")
    win = ordered.rowsBetween(-13, 0)
    d = daily.withColumn("delta", F.col("y") - F.lag("y").over(ordered))
    gain = F.when(F.col("delta") > 0, F.col("delta")).otherwise(F.lit(0))
    loss = F.when(F.col("delta") < 0, -F.col("delta")).otherwise(F.lit(0))
    w = (
        d.withColumn("k", F.count("delta").over(win).cast("long"))
        .withColumn("g", F.sum(gain).over(win).cast("long"))
        .withColumn("l", F.sum(loss).over(win).cast("long"))
        .filter(F.col("k") == 14)
    )
    g, l = F.col("g"), F.col("l")
    return w.select(
        F.col("pri").alias("o_orderpriority"),
        "day",
        "y",
        g.alias("gain_sum"),
        l.alias("loss_sum"),
        F.when(g + l == 0, F.lit(50.0))
        .otherwise(F.round(100.0 * g / (g + l), 4))
        .alias("rsi"),
    )


# ---------------------------------------------------------------------------
# Matrix profile (round 10)
# ---------------------------------------------------------------------------

_MP_M = 6  # subsequence length (months): half-year motifs
_MP_EXCL = 3  # trivial-match exclusion zone (m/2)


@register(
    "win_matrix_profile",
    oracle=f"""
    WITH monthly AS (
        SELECT o_orderpriority AS pri,
               CAST(date_diff('month', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   // 100 AS v
        FROM orders GROUP BY 1, 2
    ), win AS (
        SELECT a.pri, a.m AS pos, list(b.v ORDER BY b.m) AS w
        FROM monthly a JOIN monthly b
          ON a.pri = b.pri AND b.m BETWEEN a.m AND a.m + {_MP_M - 1}
        GROUP BY 1, 2 HAVING count(*) = {_MP_M}
    ), d AS (
        SELECT w1.pri, w1.pos, w2.pos AS pos2,
               CAST(list_sum(list_transform(range(1, {_MP_M + 1}),
                   k -> (w1.w[k] - w2.w[k]) * (w1.w[k] - w2.w[k])))
                   AS BIGINT) AS d2
        FROM win w1 JOIN win w2
          ON w1.pri = w2.pri AND abs(w1.pos - w2.pos) >= {_MP_EXCL}
    ), mp AS (
        SELECT pri, pos, pos2, d2,
               row_number() OVER (PARTITION BY pri, pos
                                  ORDER BY d2, pos2) AS rn
        FROM d
    )
    SELECT pri AS o_orderpriority, pos, pos2 AS nn_pos, d2 AS mp_d2,
           d2 = min(d2) OVER (PARTITION BY pri) AS is_motif,
           d2 = max(d2) OVER (PARTITION BY pri) AS is_discord
    FROM mp WHERE rn = 1
    """,
)
def win_matrix_profile(spark, sf_dir):
    """Matrix profile (Yeh et al. 2016, ICDM — the all-pairs subsequence
    similarity index behind motif and discord discovery) of each
    priority's monthly-revenue series: for every gap-free 6-month window,
    the squared-L2 distance to its nearest OTHER window (exclusion zone
    |Δpos| ≥ 3 kills trivial self-matches) plus that neighbor's position;
    the per-priority min flags the MOTIF (the most-repeated half-year
    pattern, both endpoints marked) and the max flags the DISCORD (the
    most anomalous half-year — matrix-profile discords are the classic
    subsequence-anomaly detector, complementary to the pointwise
    MAD/CUSUM/Pettitt family which can't see shape anomalies).

    All-exact: revenue in integer dollars (floor cents//100 — keeps d2
    within BIGINT headroom at any SF), integer squared-L2, (d2, pos2)
    tie-break; windows are built by a bounded (pri, m±5) range self-join
    with a count=6 gate so calendar gaps can't silently shorten a
    subsequence.

    100 TB: the profile runs on the MONTHLY rollup — one fact-scan
    groupBy, then everything downstream is |priorities|·|months| ≈ 400
    rows: the O(n²)-per-series pair join is n≈84, not fact-scale (the
    STOMP trick matters when n is large; here the rollup IS the
    reduction). Longer series at finer grain would block the pair join
    on coarse time bands first — candidate-generation + re-rank, the
    LSH shape in time-index space."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        (
            (F.year("o_orderdate") - F.lit(1970)) * 12
            + F.month("o_orderdate")
            - 1
        )
        .cast("long")
        .alias("m"),
    ).agg(
        F.expr(
            f"CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)"
            " div 100"
        ).alias("v")
    )
    b = monthly.select(
        F.col("pri").alias("pri_b"), F.col("m").alias("mb"), F.col("v").alias("vb")
    )
    win = (
        monthly.join(
            b,
            (F.col("pri") == F.col("pri_b"))
            & F.col("mb").between(F.col("m"), F.col("m") + _MP_M - 1),
        )
        .groupBy("pri", F.col("m").alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("mb", "vb"))),
                lambda s: s["vb"],
            ).alias("w"),
        )
        .filter(F.col("n") == _MP_M)
        .drop("n")
    )
    w2 = win.select(
        F.col("pri").alias("pri2"), F.col("pos").alias("pos2"), F.col("w").alias("w_2")
    )
    d2 = F.aggregate(
        F.zip_with("w", "w_2", lambda a, c: (a - c) * (a - c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = win.join(
        w2,
        (F.col("pri") == F.col("pri2"))
        & (F.abs(F.col("pos") - F.col("pos2")) >= _MP_EXCL),
    ).select("pri", "pos", "pos2", d2.alias("d2"))
    rn = F.row_number().over(
        Window.partitionBy("pri", "pos").orderBy("d2", "pos2")
    )
    mp = pairs.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")
    w_pri = Window.partitionBy("pri")
    return mp.select(
        F.col("pri").alias("o_orderpriority"),
        "pos",
        F.col("pos2").alias("nn_pos"),
        F.col("d2").alias("mp_d2"),
        (F.col("d2") == F.min("d2").over(w_pri)).alias("is_motif"),
        (F.col("d2") == F.max("d2").over(w_pri)).alias("is_discord"),
    )


# ---------------------------------------------------------------------------
# Dynamic time warping (round 10)
# ---------------------------------------------------------------------------

_DTW_INF = 400_000_000_000_000_000  # unreachable-cell sentinel, ≪ 2^63 even
_DTW_W = 8  # Sakoe-Chiba band radius (months)


@register(
    "win_dtw_pairs",
    oracle=f"""
    WITH RECURSIVE monthly AS (
        SELECT o_orderpriority AS pri,
               CAST(date_diff('month', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
               CAST(CAST(sum({cents_sql('o_totalprice')})
                    AS BIGINT) // 100 AS BIGINT) AS v
        FROM orders GROUP BY 1, 2
    ), ser AS (
        SELECT pri, list(v ORDER BY m) AS s FROM monthly GROUP BY pri
    ), pairs AS (
        SELECT a.pri AS pri_a, b.pri AS pri_b, a.s AS xs, b.s AS ys
        FROM ser a JOIN ser b ON a.pri < b.pri
    ), rec AS (
        -- flattened (i, j) band-DTW recursion: one cell appended per step,
        -- row hand-off when j wraps (the win_kalman_filter list-peeling
        -- family, extended to a 2-D DP)
        SELECT pri_a, pri_b, xs, ys,
               CAST(len(xs) AS BIGINT) AS m, CAST(len(ys) AS BIGINT) AS n,
               CAST(1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS j,
               [CAST(0 AS BIGINT)]
                 || list_transform(ys, y -> CAST({_DTW_INF} AS BIGINT)) AS prev,
               [CAST({_DTW_INF} AS BIGINT)] AS cur
        FROM pairs
        UNION ALL
        SELECT pri_a, pri_b, xs, ys, m, n,
               CASE WHEN j = n THEN i + 1 ELSE i END,
               CASE WHEN j = n THEN CAST(0 AS BIGINT) ELSE j + 1 END,
               CASE WHEN j = n THEN cur ELSE prev END,
               CASE WHEN j = n THEN [CAST({_DTW_INF} AS BIGINT)]
                    ELSE list_append(cur,
                        CASE WHEN abs(i - (j + 1)) > {_DTW_W}
                             THEN CAST({_DTW_INF} AS BIGINT)
                             ELSE abs(xs[i] - ys[j + 1])
                                  + least(prev[j + 2], prev[j + 1],
                                          cur[len(cur)])
                        END)
               END
        FROM rec WHERE NOT (i = m AND j = n)
    )
    SELECT pri_a, pri_b, m AS n_a, n AS n_b,
           CAST(cur[n + 1] AS BIGINT) AS dtw_cost,
           CAST(cur[n + 1] // (m + n) AS BIGINT) AS dtw_per_step
    FROM rec WHERE i = m AND j = n
    """,
)
def win_dtw_pairs(spark, sf_dir):
    """Dynamic-time-warping distance (Sakoe & Chiba 1978, IEEE TASSP —
    the banded DP that made DTW practical) between every pair of order
    priorities' monthly-revenue series: the minimal warped-alignment
    L1 cost, with a band radius of 8 months bounding how far the
    alignment may stretch. DTW answers the question lockstep metrics
    (win_rolling_corr, the matrix profile's fixed windows) cannot: are
    two series the same SHAPE shifted or locally stretched in time —
    the standard similarity for clustering series whose cycles drift.

    All-exact: integer-dollar observations, L1 cell costs, and a 4e17
    sentinel for out-of-band cells (a min-path can add at most
    |path| ≤ n_a+n_b step costs on top of one sentinel, keeping every
    value far under 2^63 at any SF). The DP is a NESTED aggregate HOF —
    the outer fold carries the previous DP row across series elements,
    the inner fold builds each row left-to-right (the insertion move
    needs the cell just written, which transform() cannot see) — one
    codegen'd expression, no UDF, no driver loop; the oracle replays the
    identical band-DTW as a flattened (i,j) recursive CTE, one cell per
    recursion step with row hand-off when j wraps (the
    win_kalman_filter list-peeling family, extended to 2-D DP).

    100 TB: one map-side-combined monthly rollup (the only fact-scan),
    then |priorities|² bounded pair work on ~84-element arrays — the
    5-row series frame broadcasts, so the pair join moves nothing. The
    O(n·min(n, 2w)) banded DP per pair is rollup-scale; fact volume only
    changes the cell VALUES, never the DP size."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        (
            (F.year("o_orderdate") - F.lit(1970)) * 12
            + F.month("o_orderdate")
            - 1
        )
        .cast("long")
        .alias("m"),
    ).agg(
        F.expr(
            f"CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)"
            " div 100"
        ).alias("v")
    )
    ser = monthly.groupBy("pri").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "v"))), lambda s: s["v"]
        ).alias("s")
    )
    b = ser.select(F.col("pri").alias("pri_b"), F.col("s").alias("ys"))
    pairs = ser.select(F.col("pri").alias("pri_a"), F.col("s").alias("xs")).join(
        F.broadcast(b), F.col("pri_a") < F.col("pri_b")
    )
    dtw = F.expr(
        f"""
        element_at(
          aggregate(
            sequence(1, size(xs)),
            concat(array(CAST(0 AS BIGINT)),
                   transform(ys, y -> CAST({_DTW_INF} AS BIGINT))),
            (prev, i) -> aggregate(
                sequence(1, size(ys)),
                array(CAST({_DTW_INF} AS BIGINT)),
                (cur, j) -> concat(cur, array(
                    IF(abs(i - j) > {_DTW_W}, CAST({_DTW_INF} AS BIGINT),
                       abs(element_at(xs, i) - element_at(ys, j))
                       + least(element_at(prev, j + 1),
                               element_at(prev, j),
                               element_at(cur, size(cur))))))
            )
          ),
          size(ys) + 1)
        """
    )
    return pairs.select(
        "pri_a",
        "pri_b",
        F.size("xs").cast("long").alias("n_a"),
        F.size("ys").cast("long").alias("n_b"),
        dtw.alias("dtw_cost"),
    ).select(
        "pri_a",
        "pri_b",
        "n_a",
        "n_b",
        "dtw_cost",
        F.expr("dtw_cost div (n_a + n_b)").alias("dtw_per_step"),
    )
