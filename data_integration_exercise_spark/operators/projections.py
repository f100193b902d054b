"""Projection / filter / predicate operators (SURVEY.md §2.2).

Reference parity: the pandas exercise's column selection, renaming, computed
columns, boolean-mask filtering, and null cleaning (SURVEY.md §0 — empty
checkout, reconstructed surface). Spark-first: every predicate here is a
Catalyst expression, so filters push down to the parquet scan (verify with
``plans.pushed_filters``) and unused columns never leave the reader.

Dialect note: DuckDB casts double→int with round-half-away, Spark truncates —
int casts below only ever touch integral-valued doubles (measured: l_quantity
is integral, l_extendedprice has exactly 2dp).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.encode import cents_sql
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()


@register(
    "proj_select_alias",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           l_quantity AS qty,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price,
           upper(l_returnflag) AS flag
    FROM lineitem
    """,
)
def proj_select_alias(spark, sf_dir):
    """Select + rename + computed column. ReadSchema prunes to 5 of 11 cols."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("qty"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
        F.upper("l_returnflag").alias("flag"),
    )


@register(
    "filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE (l_quantity > 30 AND l_discount <= 0.05) OR NOT (l_returnflag = 'A')
    """,
)
def filter_compound(spark, sf_dir):
    """AND/OR/NOT predicate mix — folded into one pushed-down scan filter."""
    li = load_table(spark, sf_dir, "lineitem")
    pred = ((F.col("l_quantity") > 30) & (F.col("l_discount") <= 0.05)) | ~(
        F.col("l_returnflag") == "A"
    )
    return li.filter(pred).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"
    )


@register(
    "filter_in_between",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice BETWEEN 50000 AND 200000
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1998-12-31 00:00:00'
    """,
)
def filter_in_between(spark, sf_dir):
    """IN-list + numeric and temporal BETWEEN; all three reach PushedFilters."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(50000, 200000)
        & F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1998-12-31 00:00:00").cast("timestamp_ntz"),
        )
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


@register(
    "filter_like",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE '%old%' OR p_type ILIKE 'eco%'
    """,
)
def filter_like(spark, sf_dir):
    """LIKE infix + ILIKE prefix pattern matching on part names/types."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%old%") | F.col("p_type").ilike("eco%")
    ).select("p_partkey", "p_name", "p_type")


@register(
    "filter_null_handling",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           nullif(l_discount, 0.0)                 AS disc_or_null,
           coalesce(nullif(l_discount, 0.0), -1.0) AS disc_filled,
           (nullif(l_discount, 0.0) IS NULL)       AS was_zero
    FROM lineitem
    WHERE l_quantity <= 5
    """,
)
def filter_null_handling(spark, sf_dir):
    """NULL semantics: nullif-injected nulls, coalesce fill, IS NULL flag —
    the core cleaning step of a pandas integration exercise, with SQL
    three-valued logic instead of NaN-as-null."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_null = F.nullif(F.col("l_discount"), F.lit(0.0))
    return li.filter(F.col("l_quantity") <= 5).select(
        "l_orderkey",
        "l_linenumber",
        disc_null.alias("disc_or_null"),
        F.coalesce(disc_null, F.lit(-1.0)).alias("disc_filled"),
        disc_null.isNull().alias("was_zero"),
    )


@register(
    "proj_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority LIKE '1-%' THEN 'urgent'
                WHEN o_orderpriority LIKE '2-%' THEN 'high'
                ELSE 'normal' END AS priority_tier,
           CASE WHEN o_totalprice >= 250000 THEN 'large'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'small' END AS size_tier
    FROM orders
    """,
)
def proj_case_when(spark, sf_dir):
    """Multi-branch CASE projections (priority + price tiering)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority").like("1-%"), "urgent")
        .when(F.col("o_orderpriority").like("2-%"), "high")
        .otherwise("normal")
        .alias("priority_tier"),
        F.when(F.col("o_totalprice") >= 250000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("size_tier"),
    )


@register(
    "proj_cast",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_d,
           CAST(l_orderkey AS VARCHAR)            AS key_str,
           CAST(l_quantity AS INTEGER)            AS qty_int
    FROM lineitem
    WHERE l_linenumber = 1
    """,
)
def proj_cast(spark, sf_dir):
    """Type casts: double→decimal(12,2), timestamp→date, bigint→string,
    double→int (integral values only — see module dialect note)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("decimal(12,2)").cast("double").alias("price_dec"),
        F.col("l_shipdate").cast("date").cast("string").alias("ship_d"),
        F.col("l_orderkey").cast("string").alias("key_str"),
        F.col("l_quantity").cast("int").alias("qty_int"),
    )


@register(
    "sql_adhoc_interface",
    oracle=f"""
    SELECT n.n_name,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(sum({cents_sql('o.o_totalprice')}) AS BIGINT)
               AS revenue_cents
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY n.n_name
    HAVING count(*) >= 5
    """,
)
def sql_adhoc_interface(spark, sf_dir):
    """The ad-hoc SQL surface: every operative table is registered as a
    temp view (io.register_views) and the query is RAW ANSI SQL through
    spark.sql() — the interface an analyst migrating from the reference
    engine's SQL prompt actually uses, run here without touching the
    DataFrame API. The string is dialect-shared with the DuckDB oracle
    verbatim except for nothing — the same text runs on both engines,
    which is itself the compatibility claim under test. Catalyst treats
    the parsed plan identically to a DataFrame plan (same pushdown,
    broadcast, AQE), so there is no performance cliff between the two
    surfaces.

    100 TB: identical plan to the equivalent DataFrame query; views are
    metadata only."""
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT n.n_name,
               CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
               CAST(sum({cents_sql('o.o_totalprice')}) AS BIGINT)
                   AS revenue_cents
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY n.n_name
        HAVING count(*) >= 5
        """
    )


@register(
    "sql_parameterized",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum({cents_sql('c_acctbal')}) AS BIGINT)
               AS balance_cents
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') AND c_acctbal >= 100.0
    GROUP BY c_mktsegment
    """,
)
def sql_parameterized(spark, sf_dir):
    """Parameterized SQL — the injection-safe surface a production SQL
    gateway exposes: the query text carries ONLY named placeholders
    (:segments, :min_bal) and the values travel as bound arguments
    through ``spark.sql(query, args=...)``; Catalyst substitutes them as
    literals BEFORE optimization, so constant folding and predicate
    pushdown see the real values (a prepared plan with unknown
    parameters could not prune). The oracle states the same query with
    the values inlined — binding is a client-surface concern the result
    must be invariant to, which is exactly what the hash check proves.

    100 TB: identical plan to the literal query; parameter binding is
    free at planning time."""
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum({cents_sql('c_acctbal')}) AS BIGINT)
                   AS balance_cents
        FROM customer
        WHERE c_mktsegment IN (:seg_a, :seg_b) AND c_acctbal >= :min_bal
        GROUP BY c_mktsegment
        """,
        args={"seg_a": "BUILDING", "seg_b": "MACHINERY", "min_bal": 100.0},
    )


@register(
    "sql_recursive_cte",
    oracle=f"""
    WITH RECURSIVE chain AS (
        SELECT c_custkey, 0 AS depth, c_custkey AS root_key,
               {cents_sql('c_acctbal')} AS path_balance_cents
        FROM customer WHERE c_custkey < 10
        UNION ALL
        SELECT c.c_custkey, p.depth + 1, p.root_key,
               p.path_balance_cents + {cents_sql('c.c_acctbal')}
        FROM customer c JOIN chain p ON c.c_custkey // 10 = p.c_custkey
        WHERE c.c_custkey >= 10
    )
    SELECT c_custkey, CAST(depth AS BIGINT) AS depth,
           root_key, path_balance_cents
    FROM chain
    """,
)
def sql_recursive_cte(spark, sf_dir):
    """Recursive CTE on the SQL surface (Spark 4's WITH RECURSIVE —
    SPARK-24497, new in this major version): flatten the implicit
    customer hierarchy parent(c) = c div 10 into per-customer depth, root
    ancestor, and the exact path-summed account balance down the chain —
    the org-chart/BOM rollup shape that is NOT expressible as joins of
    static depth (the hierarchy deepens with the key domain: depth
    log₁₀ N). Anchor = the sub-10 roots; each recursion step is one
    equi-join, so the whole traversal is depth-many shuffles, not a
    driver loop — contrast with graph_bfs_distances, which hand-rolls the
    same frontier iteration imperatively. Balances accumulate in exact
    integer cents.

    100 TB: each recursion level joins the (shrinking) frontier against
    the customer table on its key — broadcast-able frontiers, and AQE
    re-plans each level independently. Recursion depth is log₁₀ of the
    key domain (4 levels at 10⁴ keys, 10 at 10¹⁰), not data volume."""
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH RECURSIVE chain AS (
            SELECT c_custkey, 0 AS depth, c_custkey AS root_key,
                   {cents_sql('c_acctbal')} AS path_balance_cents
            FROM customer WHERE c_custkey < 10
            UNION ALL
            SELECT c.c_custkey, p.depth + 1, p.root_key,
                   p.path_balance_cents + {cents_sql('c.c_acctbal')}
            FROM customer c JOIN chain p ON c.c_custkey div 10 = p.c_custkey
            WHERE c.c_custkey >= 10
        )
        SELECT c_custkey, CAST(depth AS BIGINT) AS depth,
               root_key, path_balance_cents
        FROM chain
        """
    )
