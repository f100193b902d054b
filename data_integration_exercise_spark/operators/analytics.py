"""Composite analytic workloads — TPC-H shapes adapted to the operative
schema (SURVEY.md §1.2: no l_commitdate/l_receiptdate/o_shippriority etc.,
thresholds calibrated to the measured data domains).

These exercise the engine end-to-end the way a reference user's reporting
queries would: multi-table joins + selective filters + grouped aggregation +
top-k, each compiling to broadcast-dim joins over a single fact-shuffle
(verified plan shapes, §4). All hash-verified.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..registry_util import new_registry
from .joins import ORACLES as _JOIN_ORACLES
from .joins import join_multiway_star

QUERIES, ORACLES, register = new_registry()

def _net():
    """Column arithmetic binds to the JVM, so build lazily (import-safe)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(s: str):
    return F.lit(s).cast("timestamp_ntz")


@register(
    "tpch_q3_unshipped",
    oracle="""
    SELECT o_orderkey,
           o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate ASC, o_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3_unshipped(spark, sf_dir):
    """Q3 shape (shippriority column absent → dropped): top-10 highest-value
    orders booked before but shipped after the cutoff, BUILDING segment."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .filter(o.o_orderdate < _ts("1996-07-01 00:00:00"))
        .join(li, li.l_orderkey == o.o_orderkey)
        .filter(li.l_shipdate > _ts("1996-07-01 00:00:00"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(_net()), 4).alias("revenue"))
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
        )
        .limit(10)
    )


@register(
    "tpch_q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark, sf_dir):
    """Q6: revenue-change forecast — a pure scan-filter-aggregate whose
    selective predicates must ALL reach PushedFilters (no join at all)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q10_returns",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def tpch_q10_returns(spark, sf_dir):
    """Q10: top-20 customers by returned-item revenue in a quarter — the
    'who is hurting us' report; nation dim broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .filter(
            (o.o_orderdate >= _ts("1996-10-01 00:00:00"))
            & (o.o_orderdate < _ts("1997-01-01 00:00:00"))
        )
        .join(li, li.l_orderkey == o.o_orderkey)
        .filter(li.l_returnflag == "R")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_net()), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "tpch_q14_promo",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def tpch_q14_promo(spark, sf_dir):
    """Q14: promo revenue share for one month (p_type domain is single-word
    — 'PROMO' exact, measured). Part dim broadcast; conditional aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _net()).otherwise(F.lit(0.0))
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-03-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1996-04-01 00:00:00"))
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(_net()), 4).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 300
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 4) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN big      ON big.l_orderkey = orders.o_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def tpch_q18_large_orders(spark, sf_dir):
    """Q18: large-volume orders (total qty > 300 — p99 is 262 in this data,
    so this is the true tail). The HAVING subquery runs first and semi-joins
    the fact — at scale this pre-aggregation is what keeps the 3-way join
    from materializing every order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(big.withColumnRenamed("l_orderkey", "bk"), F.col("bk") == o.o_orderkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
    WITH flows AS (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue, count(*) AS n_lines
    FROM flows
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark, sf_dir):
    """Q7 shape: bilateral trade volume between two nations by ship year.
    Both nation dims broadcast (25 rows); the disjunctive nation pair
    predicate prunes before the fact shuffle. year() cast to long on both
    sides (DuckDB year() is BIGINT, Spark's is int)."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        )
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(F.sum(_net()), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q8_market_share",
    oracle="""
    WITH flows AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n1.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region   ON n2.n_regionkey = r_regionkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END), 4)
               AS nation_volume,
           round(sum(volume), 4) AS total_volume,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END)
                 / sum(volume), 4) AS mkt_share
    FROM flows
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark, sf_dir):
    """Q8 shape: NATION_3 suppliers' share of PROMO-part revenue sold to
    ASIA customers, by order year. Seven-table join — all four dims
    broadcast, so the physical plan is a single lineitem scan with chained
    broadcast hash joins, then one shuffle for the year rollup."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_regionkey").alias("rk2"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", _net()).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p.filter(F.col("p_type") == "PROMO")), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("rk2") == F.col("r_regionkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            F.round(F.sum(nat_vol), 4).alias("nation_volume"),
            F.round(F.sum(_net()), 4).alias("total_volume"),
            F.round(F.sum(nat_vol) / F.sum(_net()), 4).alias("mkt_share"),
        )
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - 0.5 * p_retailprice * l_quantity), 4) AS profit_proxy
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    """,
)
def tpch_q9_product_profit(spark, sf_dir):
    """Q9 shape: profit on red parts by supplier nation and year. The
    schema has no partsupp/ps_supplycost, so cost is proxied as half the
    part's retail price per unit (documented adaptation). The LIKE filter
    on the broadcast part dim prunes the fact before any shuffle."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = _net() - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_name").like("%red%"))),
            li.l_partkey == p.p_partkey,
        )
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(F.round(F.sum(profit), 4).alias("profit_proxy"))
    )


@register(
    "tpch_q12_priority_shipping",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def tpch_q12_priority_shipping(spark, sf_dir):
    """Q12 shape (no l_shipmode column → grouped by l_returnflag instead):
    urgent vs non-urgent line counts for 1997 shipments. Conditional
    integer sums cast to long on both sides (DuckDB integer sum is
    HUGEINT→float in pandas otherwise)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_custdist",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def tpch_q13_custdist(spark, sf_dir):
    """Q13: customer order-count distribution, excluding 5-LOW orders via a
    join-side predicate (the filter must live in the LEFT JOIN condition,
    not WHERE — a WHERE would drop zero-order customers). Two cascaded
    aggregations; the second groups ~thousands of rows, trivially."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark, sf_dir):
    """Q15: the revenue-max supplier(s) for one quarter. The max is taken
    over 4dp-rounded revenues so the scalar-subquery comparison is exact in
    both engines; Spark expresses it as a 1-row broadcast cross join, not a
    driver collect."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1996-04-01 00:00:00"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(_net()), 4).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH pa AS (
        SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_limit
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < qty_limit
    """,
)
def tpch_q17_small_qty_revenue(spark, sf_dir):
    """Q17: revenue locked in small-quantity Brand#1 orders — the
    correlated AVG subquery decorrelated into a per-part aggregate joined
    back to the fact (exactly what Catalyst does to the correlated form).
    The per-part avg table is partkey-sized, far smaller than the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_brand") == "Brand#1")),
            li.l_partkey == p.p_partkey,
        )
        .join(pa, F.col("pk") == li.l_partkey)
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def tpch_q19_disjunctive(spark, sf_dir):
    """Q19 shape: OR-of-ANDs over join-crossing predicates (brand/size from
    part, quantity from lineitem). Catalyst can push the per-side common
    bounds; the residual disjunction evaluates post-join inside codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm = lambda brand, s1, s2, q1, q2: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s1, s2)
        & F.col("l_quantity").between(q1, q2)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(
            arm("Brand#1", 1, 15, 1, 20)
            | arm("Brand#2", 10, 30, 10, 30)
            | arm("Brand#3", 20, 50, 20, 40)
        )
        .agg(
            F.round(F.sum(_net()), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q22_dormant_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    ), ordcnt AS (
        SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
    )
    SELECT c_mktsegment, count(*) AS n_cust, round(sum(c_acctbal), 4) AS total_bal
    FROM customer
    CROSS JOIN avg_bal
    LEFT JOIN ordcnt ON o_custkey = c_custkey
    WHERE c_acctbal > round(ab, 2) AND coalesce(n_orders, 0) <= 3
    GROUP BY c_mktsegment
    """,
)
def tpch_q22_dormant_customers(spark, sf_dir):
    """Q22 shape adapted to the data (every sf0.01 customer has orders, so
    'no orders in 7 years' → 'at most 3 orders'): wealthy low-activity
    customers per segment. The global-avg scalar subquery is rounded to
    cents before comparison so the float threshold is identical across
    engines' summation orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("ab")
    )
    ordcnt = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .join(ordcnt, c.c_custkey == ordcnt.o_custkey, "left")
        .filter(
            (F.col("c_acctbal") > F.col("ab"))
            & (F.coalesce(F.col("n_orders"), F.lit(0)) <= 3)
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark, sf_dir):
    """Q4 shape (order-priority checking), adapted: the original's
    commit-vs-receipt lateness test becomes 'some line shipped more than
    60 days after the order date' (the operative schema has no
    l_commitdate/l_receiptdate). The EXISTS compiles to a LEFT SEMI join
    with the date bound riding the equi-key — one quarter of orders probes
    the lineitem fact, no row multiplication, then a 5-group rollup."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_suppkey,
               max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey, l_suppkey
    ), m AS (
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT)  AS n_supp,
               CAST(sum(late) AS BIGINT) AS n_late
        FROM li GROUP BY l_orderkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM li JOIN m USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE late = 1 AND n_supp >= 2 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21_waiting_supplier(spark, sf_dir):
    """Q21 shape (suppliers who kept orders waiting), adapted to shipdate
    lateness: count, per supplier, the multi-supplier orders where that
    supplier was the ONLY late shipper. The textbook form is two
    correlated EXISTS/NOT-EXISTS self-joins; the distributed rewrite
    computes per-order supplier/lateness counts as a WINDOW over the
    per-supplier rollup (not a second rollup joined back — that would
    recompute the whole fact subtree) and turns both correlations into
    predicates on those counts. Exactly three exchanges — (okey, skey)
    rollup, okey window, final s_name rollup — asserted in tests; the
    supplier dim rides in as a broadcast at the end."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    culprits = (
        per_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter(
            (F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        culprits.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(floor(10000 * sum(l_extendedprice) / sum(l_quantity))
                    AS BIGINT) AS cost_e4
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
        SELECT ps.*, s_name, n_name
        FROM ps JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
    ), best AS (
        SELECT *, min(cost_e4) OVER (PARTITION BY l_partkey) AS min_cost
        FROM eu
    )
    SELECT p_partkey, p_name, s_name, n_name, cost_e4
    FROM best JOIN part ON p_partkey = l_partkey
    WHERE cost_e4 = min_cost AND p_name LIKE '%bolt%'
    """,
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape (minimum-cost supplier), adapted: the operative schema has
    no partsupp, so observed unit cost per (part, supplier) is derived from
    lineitem (Σ price / Σ qty, e4-floored to an integer so the min-equality
    is float-safe). The original's correlated scalar subquery ('cost = the
    regional minimum for this part') becomes a min window over the part
    partitioning — one shuffle instead of a rejoin of the whole subquery.
    Dims broadcast; ties at the minimum keep all winning suppliers, as in
    the original."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.floor(
            F.lit(10000.0) * F.sum("l_extendedprice") / F.sum("l_quantity")
        )
        .cast("long")
        .alias("cost_e4")
    )
    eu = (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("l_partkey", "l_suppkey", "cost_e4", "s_name", "n_name")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey")
    best = eu.withColumn("min_cost", F.min("cost_e4").over(w)).filter(
        F.col("cost_e4") == F.col("min_cost")
    )
    return best.join(F.broadcast(p), best.l_partkey == p.p_partkey).select(
        "p_partkey", "p_name", "s_name", "n_name", "cost_e4"
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
    WITH de AS (
        SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS v
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, round(v, 4) AS part_value
    FROM de, (SELECT sum(v) AS tot FROM de) t
    WHERE v > 0.001 * t.tot
    """,
)
def tpch_q11_important_stock(spark, sf_dir):
    """Q11 shape (important stock identification), adapted: per-part flow
    value through one nation's suppliers, kept where it exceeds 0.1% of
    that nation's total flow. The global threshold is a one-row aggregate
    cross-joined back (broadcast nested loop of a scalar — the distributed
    form of Q11's uncorrelated subquery); the nation's supplier set rides
    in as a broadcast before the fact aggregation, so the big shuffle is
    the per-part rollup only."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey"
    )
    de = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_net()).alias("v"))
    )
    tot = de.agg(F.sum("v").alias("tot"))
    return (
        de.crossJoin(F.broadcast(tot))
        .filter(F.col("v") > 0.001 * F.col("tot"))
        .select(F.col("l_partkey").alias("partkey"), F.round("v", 4).alias("part_value"))
    )


@register(
    "tpch_q16_supplier_cardinality",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#9'
      AND p_type NOT LIKE 'PROMO%'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_cardinality(spark, sf_dir):
    """Q16 shape (parts/supplier relationship), adapted: distinct supplier
    counts per (brand, type, size) from observed lineitem supply, with the
    original's complained-about suppliers proxied by negative account
    balance and excluded via a broadcast ANTI join (the distributed NOT
    IN — never a filter against a collected list). Part attributes ride
    the broadcast part dim; the one shuffle is the distinct-aggregation
    over the fact."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9") & (~F.col("p_type").like("PROMO%"))
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q20_dominant_supplier",
    oracle="""
    WITH flow AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%bolt%'
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey
    ), tot AS (
        SELECT l_partkey, sum(qty) AS total_qty FROM flow GROUP BY l_partkey
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (
        SELECT f.l_suppkey
        FROM flow f JOIN tot USING (l_partkey)
        WHERE f.qty > 0.5 * total_qty
    )
    """,
)
def tpch_q20_dominant_supplier(spark, sf_dir):
    """Q20 shape (suppliers with dominant flow), adapted: availqty > half
    of shipped quantity becomes 'this supplier shipped more than half of a
    bolt part's 1997 flow'. Two rollups over the same (partkey) shuffle
    partitioning, then the qualifying supplier keys semi-join the supplier
    dim (IN-subquery → LEFT SEMI). Quantities are integral doubles, so
    sums and the 0.5× compare are exact."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    flow = (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = flow.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    dominant = (
        flow.join(tot, "l_partkey")
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", "n_name")
    )


@register(
    "tpch_q5_local_supplier",
    oracle=_JOIN_ORACLES["join_multiway_star"] + "\nORDER BY revenue DESC",
)
def tpch_q5_local_supplier(spark, sf_dir):
    """Q5: local-supplier revenue by nation — same-nation customer/supplier
    pairs inside one region for one order year, largest revenue first. The
    last uncovered TPC-H shape (q1 is agg_pricing_summary; q2-q22 all have
    keys): its signature feature is the co-location predicate
    c_nationkey = s_nationkey, folded into an equi-join condition (no
    post-filter).

    The plan is join_multiway_star's dimension-first Q5 (lineitem meets
    the broadcast ASIA suppliers before any shuffle; orders and customer
    follow unhinted) plus the ORDER BY over its 5 output rows."""
    return join_multiway_star(spark, sf_dir).orderBy(F.col("revenue").desc())
