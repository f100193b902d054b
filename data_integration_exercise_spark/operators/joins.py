"""Join operators (SURVEY.md §2.3).

Reference parity: the pandas exercise's ``pd.merge`` per source pair is the
"integration" core (SURVEY.md §0 — empty checkout, reconstructed surface).
Spark-first re-expression:

  - equi joins → shuffle hash / sort-merge picked by Catalyst + AQE
  - small dimensions → explicit ``F.broadcast`` (no shuffle of the fact side)
  - theta/range on time → *banded* join: equi on (key, time-bucket) with the
    exact predicate as residual — bounds candidates at any scale
  - as-of → union + last_value window (one shuffle, no candidate explosion)
  - skew → deterministic salting (plus AQE skewJoin as the automatic path)

Time arithmetic on events uses ``ts_us`` (epoch µs bigints, io.load_table)
so comparisons hash-match the DuckDB oracle exactly despite the parquet
files carrying sub-µs nanosecond precision.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import cents, cents_sql, hex_int, md5_hex
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()


@register(
    "join_inner_equi",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark, sf_dir):
    """Plain inner equi-join orders⋈customer. Catalyst picks broadcast-hash
    below the 10MB threshold, sort-merge above; AQE can demote at runtime."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_broadcast_dim",
    oracle="""
    SELECT n_name,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast_dim(spark, sf_dir):
    """Fact ⋈ broadcast dims: the fact table never shuffles for the join —
    at 100 TB this is mandatory for true dimensions (supplier/nation here)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


@register(
    "join_multiway_star",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def join_multiway_star(spark, sf_dir):
    """TPC-H Q5: 6-table star join, local-supplier revenue by ASIA nation.
    The one Q5 plan (tpch_q5_local_supplier orders this frame by revenue).

    Dimension-first: lineitem first meets the broadcast ASIA suppliers
    (s ⋈ n ⋈ r filtered to one region, ~1/5 of suppliers) map-side, so
    the other regions' lineitem rows are gone before any shuffle. The
    year-filtered orders then join on l_orderkey, and customer on
    (c_custkey, c_nationkey) = (o_custkey, s_nationkey): the local-supplier
    condition rides that join as a second equi-key. Neither of those two
    joins carries a hint — Catalyst broadcasts the filtered orders while
    they are small (sf1) and shuffles them at 100 TB, where the exchange
    on l_orderkey then carries only the ASIA slice of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    asia_s = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(r.r_name == "ASIA")), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    year_o = o.filter(
        (o.o_orderdate >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (o.o_orderdate < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    return (
        li.join(F.broadcast(asia_s), li.l_suppkey == asia_s.s_suppkey)
        .join(year_o, li.l_orderkey == year_o.o_orderkey)
        .join(
            c,
            (c.c_custkey == year_o.o_custkey)
            & (c.c_nationkey == asia_s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           count(o_orderkey)                          AS n_orders,
           coalesce(round(sum(o_totalprice), 4), 0.0) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def join_left_outer(spark, sf_dir):
    """LEFT OUTER customer→orders with null-side aggregation: customers with
    zero orders survive with n_orders=0 (count over the null column)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.round(F.sum("o_totalprice"), 4), F.lit(0.0)).alias(
                "total_spend"
            ),
        )
    )


@register(
    "join_full_outer",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k, o_totalprice AS a_price
               FROM orders WHERE o_orderkey < 1000),
         b AS (SELECT o_orderkey AS k, o_totalprice AS b_price
               FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500)
    SELECT coalesce(a.k, b.k) AS k,
           a_price,
           b_price,
           (a.k IS NULL) AS only_b,
           (b.k IS NULL) AS only_a
    FROM a FULL JOIN b ON a.k = b.k
    """,
)
def join_full_outer(spark, sf_dir):
    """FULL OUTER over two overlapping key slices — both unmatched sides
    survive with nulls; coalesce reconstructs the unified key."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") < 1000).select(
        F.col("o_orderkey").alias("ak"), F.col("o_totalprice").alias("a_price")
    )
    b = o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500)).select(
        F.col("o_orderkey").alias("bk"), F.col("o_totalprice").alias("b_price")
    )
    return a.join(b, a.ak == b.bk, "full").select(
        F.coalesce(a.ak, b.bk).alias("k"),
        "a_price",
        "b_price",
        a.ak.isNull().alias("only_b"),
        b.bk.isNull().alias("only_a"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark, sf_dir):
    """LEFT SEMI: customers having at least one large order. Semi join never
    duplicates the left side and only ships the key column of the right."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark, sf_dir):
    """LEFT ANTI: customers with no large order — the referential-integrity /
    orphan-audit pattern of an integration pipeline."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    """,
)
def join_cross(spark, sf_dir):
    """Explicit small cross product (5×25). Cross joins are only ever safe on
    bounded dims — the engine never cross-joins facts (SURVEY §5.7)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_theta_range",
    oracle="""
    WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us FROM events)
    SELECT e1.event_id AS id1,
           e2.event_id AS id2,
           e1.user_id  AS user_id,
           e2.ts_us - e1.ts_us AS diff_us
    FROM e e1 JOIN e e2
      ON e1.user_id = e2.user_id
     AND e1.event_id < e2.event_id
     AND abs(e2.ts_us - e1.ts_us) <= 60000000
    """,
)
def join_theta_range(spark, sf_dir):
    """Band join: same-user event pairs within 60s. Implemented as an equi
    join on (user_id, 60s time bucket) with e1 exploded to its 3 adjacent
    buckets and the exact |Δt|≤60s predicate as residual — candidate count
    stays O(events per bucket), not O(events per user)², at any scale.
    Each qualifying pair matches exactly one (candidate bucket == e2's
    bucket), so no dedup is needed."""
    BAND_US = 60_000_000
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts_us")
    bucket = (F.col("ts_us") / F.lit(BAND_US)).cast("long")
    e1 = (
        e.withColumn(
            "cand_bucket",
            F.explode(F.array(bucket - 1, bucket, bucket + 1)),
        )
        .withColumnRenamed("event_id", "id1")
        .withColumnRenamed("ts_us", "ts1")
    )
    e2 = (
        e.withColumn("bucket", bucket)
        .withColumnRenamed("event_id", "id2")
        .withColumnRenamed("ts_us", "ts2")
        .withColumnRenamed("user_id", "user2")
    )
    return (
        e1.join(
            e2,
            (e1.user_id == e2.user2)
            & (e1.cand_bucket == e2.bucket)
            & (e1.id1 < e2.id2)
            & (F.abs(e2.ts2 - e1.ts1) <= BAND_US),
        )
        .select(
            "id1",
            "id2",
            "user_id",
            (F.col("ts2") - F.col("ts1")).alias("diff_us"),
        )
    )


@register(
    "join_asof",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               epoch_ns(ts) // 1000 AS ts_us,
               event_id,
               CASE WHEN event_type = 'click' THEN 'c' ELSE 'p' END AS kind,
               CASE WHEN event_type = 'click' THEN event_id END AS c_id,
               CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END AS c_ts
        FROM events
        WHERE event_type IN ('click', 'purchase')
    )
    SELECT user_id,
           event_id AS purchase_id,
           ts_us    AS purchase_ts_us,
           last_value(c_id IGNORE NULLS) OVER w AS click_id,
           last_value(c_ts IGNORE NULLS) OVER w AS click_ts_us
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    QUALIFY kind = 'p'
    """,
)
def join_asof(spark, sf_dir):
    """As-of join: each purchase matched to the latest click at-or-before it
    (per user). Spark has no native ASOF; the scalable idiom is union both
    streams, sort once per user, and carry the last click forward with an
    ignore-nulls last_value window — one shuffle, no candidate explosion
    (vs. the naive ts<= join whose candidates grow with history length).
    Ties at equal ts_us: clicks sort before purchases ('c' < 'p'), so an
    equal-timestamp click is visible to the purchase; among equal-ts clicks
    the max event_id wins."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    ev = e.select(
        "user_id",
        "ts_us",
        "event_id",
        F.when(F.col("event_type") == "click", "c").otherwise("p").alias("kind"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("c_id"),
        F.when(F.col("event_type") == "click", F.col("ts_us")).alias("c_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("click_id", F.last("c_id", ignorenulls=True).over(w))
        .withColumn("click_ts_us", F.last("c_ts", ignorenulls=True).over(w))
        .filter(F.col("kind") == "p")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts_us").alias("purchase_ts_us"),
            "click_id",
            "click_ts_us",
        )
    )


@register(
    "join_skew_salted",
    oracle="""
    WITH fact AS (
        SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 100 END AS k,
               l_extendedprice
        FROM lineitem
    ), dim AS (
        SELECT range AS k, 'grp_' || CAST(range % 5 AS VARCHAR) AS payload
        FROM range(100)
    )
    SELECT payload,
           count(*) AS n,
           round(sum(l_extendedprice), 4) AS total
    FROM fact JOIN dim USING (k)
    GROUP BY payload
    """,
)
def join_skew_salted(spark, sf_dir):
    """Skew-resistant join: ~70% of fact rows share key 0 (synthetic hotspot).
    Deterministic salting (salt = l_orderkey % 8 — never rand(), SURVEY §5.6)
    splits the hot key across 8 reducers; the dim side is replicated ×8 via
    explode. AQE's skewJoin handles this automatically for sort-merge joins;
    salting is the explicit technique for when it can't (e.g. aggregations
    keyed on the skewed column)."""
    SALTS = 8
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_orderkey") % 100)
        .alias("k"),
        "l_extendedprice",
        (F.col("l_orderkey") % SALTS).alias("salt"),
    )
    dim = (
        spark.range(100)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("grp_"), (F.col("id") % 5).cast("string")).alias("payload"),
        )
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SALTS)])))
    )
    return (
        fact.join(dim, ["k", "salt"])
        .groupBy("payload")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("total"),
        )
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH span AS (
        SELECT o.o_custkey AS cust, o.o_orderkey AS okey,
               o.o_orderdate AS s, max(l.l_shipdate) AS e
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3
    )
    SELECT a.cust AS c_custkey, CAST(count(*) AS BIGINT) AS n_concurrent_pairs
    FROM span a JOIN span b
      ON a.cust = b.cust AND a.okey < b.okey
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY 1
    """,
)
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap self-join: pairs of a customer's orders whose
    fulfillment spans [o_orderdate, max(l_shipdate)] overlap — the
    "concurrently open orders" readout. The Spark plan is the BINNED
    interval join: each span explodes into its covered month bins (spans
    run ~1-5 months, so fan-out is small and bounded by the span DOMAIN),
    pairs meet on the (customer, month-bin) equi-key, and each true pair
    is counted exactly once by keeping only the bin containing
    greatest(a.start, b.start) — for an overlapping pair that month lies
    in both spans by definition, and for a non-overlapping pair the exact
    predicate kills the candidate. The oracle states the plain theta
    self-join; the binned plan is the one that scales.

    100 TB: a raw per-customer theta join is quadratic inside hot keys
    with no shuffle key Catalyst can use beyond cust; the month bin turns
    it into an equi-join whose per-task candidate count is bounded by
    (orders live in that month) — time-locality does the pruning. The
    same shape handles key-free interval joins (bin becomes the only
    key)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    span = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderdate").alias("s"),
        )
        .agg(F.max("l_shipdate").alias("e"))
        # both self-join sides reference span: checkpoint materializes the
        # orders-by-lineitem rollup once instead of executing it twice
        # (measured sf0.1: 5.8 s -> 4.2 s end-to-end). A fan-out repartition
        # was tried here in round 14 and measured WORSE (2.2 -> 2.8 s): the
        # pair join shuffles both sides on (cust, bin) anyway, so the extra
        # exchange buys nothing
        .localCheckpoint()
    )
    mon = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    binned = span.withColumn(
        "bin", F.explode(F.sequence(mon(F.col("s")), mon(F.col("e"))))
    )
    a = binned.select(
        F.col("cust"), F.col("okey").alias("okey_a"),
        F.col("s").alias("s_a"), F.col("e").alias("e_a"), "bin",
    )
    b = binned.select(
        F.col("cust").alias("cust_b"), F.col("okey").alias("okey_b"),
        F.col("s").alias("s_b"), F.col("e").alias("e_b"),
        F.col("bin").alias("bin_b"),
    )
    pairs = a.join(
        b,
        (F.col("cust") == F.col("cust_b"))
        & (F.col("bin") == F.col("bin_b"))
        & (F.col("okey_a") < F.col("okey_b"))
        & (F.col("s_a") <= F.col("e_b"))
        & (F.col("s_b") <= F.col("e_a"))
        & (F.col("bin") == mon(F.greatest(F.col("s_a"), F.col("s_b")))),
    )
    return pairs.groupBy(F.col("cust").alias("c_custkey")).agg(
        F.count("*").cast("long").alias("n_concurrent_pairs")
    )


_BLOOM_BITS = 1024  # 16 x 64-bit words; 3 probes


def _bloom_positions(key_col: str):
    """Three independent 10-bit positions from one md5 of the key."""
    h = md5_hex(key_col)
    return [hex_int(h, 4, 4 * i) % _BLOOM_BITS for i in range(3)]


@register(
    "join_bloom_prefilter",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql('o.o_totalprice')}) AS BIGINT)
               AS revenue_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_acctbal > 9000
    GROUP BY c.c_mktsegment
    """,
)
def join_bloom_prefilter(spark, sf_dir):
    """Join with an explicit Bloom-filter pre-pass: the selective customer
    subset (acctbal > 9000) builds a 1024-bit Bloom filter (bit_or over
    3 md5-derived positions per key, 16 BIGINT words in ONE scalar row),
    which is broadcast and applied to the orders scan BEFORE the join —
    rows whose key misses any of the 3 bits are provably non-matching and
    die at the scan. False positives only let extra rows reach the real
    (broadcast) join, so the result is EXACTLY the plain join the oracle
    states. This is the mechanism Spark's runtime row-level bloomFilter
    injection (plan_runtime_filter) applies engine-side — hand-rolled it
    works where the optimizer won't inject: ahead of UDF stages, custom
    sinks, or a shuffle whose build side the planner can't see.

    100 TB: the filter costs one md5 + three AND/shift per probe row at
    scan speed and removes the non-matching bulk before any exchange;
    the filter itself is 128 bytes regardless of build-side size (size
    the bit count to build-side cardinality in production)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    build = c.filter(F.col("c_acctbal") > 9000).select(
        "c_custkey", "c_mktsegment"
    )
    word_bits = (
        build.select(F.explode(F.array(*_bloom_positions("c_custkey"))).alias("p"))
        .select(
            F.expr("p div 64").alias("word"),
            F.expr("shiftleft(1L, cast(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    bloom = word_bits.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bloom")
    )
    probed = o.crossJoin(F.broadcast(bloom)).withColumns(
        {f"p{i}": pos for i, pos in enumerate(_bloom_positions("o_custkey"))}
    )
    # python-side F.shiftleft only takes a literal shift; the SQL form
    # accepts column shift amounts, so the 3 bit tests are expr() strings.
    bit_hit = [
        F.expr(
            f"(coalesce(element_at(bloom, p{i} div 64), 0L)"
            f" & shiftleft(1L, cast(p{i} % 64 AS INT))) != 0"
        )
        for i in range(3)
    ]
    prefiltered = probed.filter(bit_hit[0] & bit_hit[1] & bit_hit[2]).select(
        "o_custkey", "o_totalprice"
    )
    return (
        prefiltered.join(
            F.broadcast(build), prefiltered.o_custkey == build.c_custkey
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(cents("o_totalprice"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


@register(
    "join_temporal_scd2",
    oracle=f"""
    WITH seq AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_status
        FROM orders
    ), hist AS (
        SELECT o_custkey, o_orderstatus AS status,
               o_orderdate AS effective_from,
               lead(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS effective_to
        FROM seq
        WHERE prev_status IS NULL OR prev_status <> o_orderstatus
    ), probes AS (
        SELECT o.o_custkey, l.l_shipdate,
               {cents_sql('l.l_extendedprice')} AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT h.status AS status_at_ship,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(p.cents) AS BIGINT) AS revenue_cents
    FROM probes p
    LEFT JOIN hist h
      ON p.o_custkey = h.o_custkey
     AND h.effective_from <= p.l_shipdate
     AND (p.l_shipdate < h.effective_to OR h.effective_to IS NULL)
    GROUP BY h.status
    """,
)
def join_temporal_scd2(spark, sf_dir):
    """Point-in-time dimension join — the query every SCD2 history exists
    for: each shipped line item picks up the customer status that was
    VALID AT ITS SHIP DATE. The oracle states the natural interval theta
    join; Spark instead runs the as-of shape that scales: change rows and
    probe rows UNION into one stream, one customer-keyed window
    carry-forwards the last change (changes sort before probes on equal
    dates, matching the closed-open interval convention; ties among
    same-date changes resolve by orderkey exactly as the interval stitch
    does) — no interval join, no range explosion, one shuffle on the
    dimension key. Probes before a customer's first change keep NULL
    status on both sides.

    100 TB: the union stream is facts + changes partitioned once on
    custkey; the window moves values (no sums); the final rollup is
    |status| rows. The theta-join formulation the oracle uses would be a
    per-customer cross of facts × history versions — the as-of rewrite is
    THE standard fix (cf. join_asof), here applied to SCD2."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
        .select(
            "o_custkey",
            F.col("o_orderdate").alias("t"),
            F.lit(0).alias("tag"),
            F.col("o_orderkey").alias("tie"),
            F.col("o_orderstatus").alias("status"),
            F.lit(None).cast("long").alias("cents"),
        )
    )
    probes = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select(
            "o_custkey",
            F.col("l_shipdate").alias("t"),
            F.lit(1).alias("tag"),
            F.col("l_orderkey").alias("tie"),
            F.lit(None).cast("string").alias("status"),
            cents("l_extendedprice").alias("cents"),
        )
    )
    stream = changes.unionByName(probes)
    wc = (
        Window.partitionBy("o_custkey")
        .orderBy("t", "tag", "tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = stream.withColumn(
        "status_at_ship", F.last("status", ignorenulls=True).over(wc)
    )
    return (
        carried.filter(F.col("tag") == 1)
        .groupBy("status_at_ship")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


@register(
    "join_null_safe",
    oracle=f"""
    WITH l AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderkey % 97 END AS bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS revenue_cents
        FROM orders GROUP BY 1
    ), r AS (
        SELECT CASE WHEN l_orderkey % 7 = 0 THEN NULL
                    ELSE l_orderkey % 97 END AS bucket,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem GROUP BY 1
    )
    SELECT l.bucket, l.n_orders, l.revenue_cents, r.n_items
    FROM l JOIN r ON l.bucket IS NOT DISTINCT FROM r.bucket
    """,
)
def join_null_safe(spark, sf_dir):
    """NULL-safe equi-join (Spark ``<=>`` / eqNullSafe ≡ SQL IS NOT
    DISTINCT FROM): the one join-predicate semantic a plain ``=`` cannot
    express — under ``=`` the NULL bucket silently drops (NULL = NULL is
    NULL, not true); under ``<=>`` the two NULL groups MATCH, so the
    quarantine bucket survives the join. Both sides pre-aggregate to one
    row per bucket (97 moduli + the NULL bucket), making the NULL-key
    row's presence in the output the observable contract.

    100 TB: null-safe equality still plans as a hash join in Spark (the
    key is wrapped, not theta-joined) — same shuffle/broadcast strategies
    apply; pre-aggregation keeps the NULL group from becoming a skew key
    when nulls are a large fraction of the fact table (the real-world
    case this semantic exists for)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    l = o.groupBy(
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_orderkey") % 97)
        .alias("bucket")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("revenue_cents"),
    )
    r = li.groupBy(
        F.when(F.col("l_orderkey") % 7 == 0, None)
        .otherwise(F.col("l_orderkey") % 97)
        .alias("bucket")
    ).agg(F.count("*").cast("long").alias("n_items"))
    return l.join(r, l["bucket"].eqNullSafe(r["bucket"])).select(
        l["bucket"], "n_orders", "revenue_cents", "n_items"
    )


@register(
    "join_mutual_best_match",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, c_nationkey,
               {cents_sql('c_acctbal')} AS c_cents
        FROM customer
    ), s AS (
        SELECT s_suppkey, s_nationkey,
               {cents_sql('s_acctbal')} AS s_cents
        FROM supplier
    ), cand AS (
        SELECT c.c_custkey, s.s_suppkey, c.c_nationkey AS nationkey,
               abs(c.c_cents - s.s_cents) AS dist_cents
        FROM c JOIN s ON c.c_nationkey = s.s_nationkey
    ), best_c AS (
        SELECT c_custkey, s_suppkey FROM (
            SELECT c_custkey, s_suppkey,
                   row_number() OVER (PARTITION BY c_custkey
                                      ORDER BY dist_cents, s_suppkey) AS rn
            FROM cand)
        WHERE rn = 1
    ), best_s AS (
        SELECT c_custkey, s_suppkey FROM (
            SELECT c_custkey, s_suppkey,
                   row_number() OVER (PARTITION BY s_suppkey
                                      ORDER BY dist_cents, c_custkey) AS rn
            FROM cand)
        WHERE rn = 1
    )
    SELECT b.c_custkey, b.s_suppkey, cand.nationkey, cand.dist_cents
    FROM best_c b
    JOIN best_s m ON b.c_custkey = m.c_custkey AND b.s_suppkey = m.s_suppkey
    JOIN cand ON cand.c_custkey = b.c_custkey AND cand.s_suppkey = b.s_suppkey
    """,
)
def join_mutual_best_match(spark, sf_dir):
    """Mutual-best-match entity linkage: customers and suppliers block on
    nation, score by exact |account-balance| distance in cents, and a pair
    links only when EACH side is the other's single best candidate
    (ties → smallest key) — the mutual-nearest-neighbor rule that gives a
    deterministic 1:1 partial matching without iterative assignment
    (greedy global matching is sequential; mutual-best is its standard
    distributed relaxation, also the rule used for embedding-space
    bitext/record alignment). Every score is an exact integer, so the
    matching is engine-identical.

    100 TB: candidates form per-block (nation) products — the record-
    linkage blocking discipline (never a global cross join); the two
    argmax windows partition on each side's key, and the mutual check is
    one equi-join of the two best-lists. Oversized blocks get the
    join_skew_salted treatment upstream."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        cents("c_acctbal").alias("c_cents"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        cents("s_acctbal").alias("s_cents"),
    )
    cand = (
        c.join(F.broadcast(s), c.c_nationkey == s.s_nationkey)
        .select(
            "c_custkey",
            "s_suppkey",
            F.col("c_nationkey").alias("nationkey"),
            F.abs(F.col("c_cents") - F.col("s_cents")).alias("dist_cents"),
        )
        .localCheckpoint()
    )
    wc = Window.partitionBy("c_custkey").orderBy("dist_cents", "s_suppkey")
    ws = Window.partitionBy("s_suppkey").orderBy("dist_cents", "c_custkey")
    best_c = (
        cand.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "s_suppkey")
    )
    best_s = (
        cand.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "s_suppkey")
    )
    return (
        best_c.join(best_s, ["c_custkey", "s_suppkey"])
        .join(cand, ["c_custkey", "s_suppkey"])
        .select("c_custkey", "s_suppkey", "nationkey", "dist_cents")
    )


# Nearest-asof tolerance: 1 hour in epoch-µs.
_ASOF_TOL_US = 3_600_000_000


@register(
    "join_asof_nearest",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               epoch_ns(ts) // 1000 AS ts_us,
               event_id,
               CASE WHEN event_type = 'click' THEN 'c' ELSE 'p' END AS kind,
               CASE WHEN event_type = 'click' THEN event_id END AS c_id,
               CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END AS c_ts
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ), carried AS (
        SELECT user_id, ts_us, event_id, kind,
               last_value(c_id IGNORE NULLS) OVER wb AS b_id,
               last_value(c_ts IGNORE NULLS) OVER wb AS b_ts,
               first_value(c_id IGNORE NULLS) OVER wf AS f_id,
               first_value(c_ts IGNORE NULLS) OVER wf AS f_ts
        FROM ev
        WINDOW wb AS (PARTITION BY user_id ORDER BY ts_us, kind, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY ts_us, kind, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ), chosen AS (
        SELECT user_id, event_id AS purchase_id, ts_us AS purchase_ts_us,
               b_ts IS NOT NULL AND ts_us - b_ts <= 3600000000 AS bok,
               f_ts IS NOT NULL AND f_ts - ts_us <= 3600000000 AS fok,
               b_id, b_ts, f_id, f_ts
        FROM carried WHERE kind = 'p'
    )
    SELECT user_id, purchase_id, purchase_ts_us,
           CASE WHEN bok AND (NOT fok OR purchase_ts_us - b_ts <= f_ts - purchase_ts_us)
                THEN b_id WHEN fok THEN f_id END AS click_id,
           CASE WHEN bok AND (NOT fok OR purchase_ts_us - b_ts <= f_ts - purchase_ts_us)
                THEN b_ts - purchase_ts_us WHEN fok THEN f_ts - purchase_ts_us
           END AS gap_us,
           CASE WHEN bok AND (NOT fok OR purchase_ts_us - b_ts <= f_ts - purchase_ts_us)
                THEN 'backward' WHEN fok THEN 'forward' END AS direction
    FROM chosen
    """,
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-asof join with tolerance: each purchase matched to its
    temporally CLOSEST click (before or after, per user) within 1 hour —
    the sensor-fusion / attribution variant where the backward-only
    convention of join_asof is wrong. Same scalable idiom, doubled: one
    union-sort per user carries the last click backward (ignore-nulls
    last_value) AND the next click forward (ignore-nulls first_value over
    the following frame) in a single window pass; the nearer in-tolerance
    candidate wins, ties prefer the backward click (signed gap_us ≤ 0
    means the click preceded). No candidate explosion, one shuffle.
    Equal-timestamp clicks sort before purchases, so they are backward
    candidates with gap 0, never forward ones.

    100 TB: identical shape to join_asof — one user-keyed shuffle, both
    carries in one WindowExec; the naive |Δt| ≤ tol band join would
    explode with history density."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    ev = e.select(
        "user_id",
        "ts_us",
        "event_id",
        F.when(F.col("event_type") == "click", "c").otherwise("p").alias("kind"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("c_id"),
        F.when(F.col("event_type") == "click", F.col("ts_us")).alias("c_ts"),
    )
    ord_ = [F.col("ts_us"), F.col("kind"), F.col("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*ord_)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*ord_)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = (
        ev.withColumn("b_id", F.last("c_id", ignorenulls=True).over(wb))
        .withColumn("b_ts", F.last("c_ts", ignorenulls=True).over(wb))
        .withColumn("f_id", F.first("c_id", ignorenulls=True).over(wf))
        .withColumn("f_ts", F.first("c_ts", ignorenulls=True).over(wf))
        .filter(F.col("kind") == "p")
    )
    ts = F.col("ts_us")
    bok = F.col("b_ts").isNotNull() & (ts - F.col("b_ts") <= _ASOF_TOL_US)
    fok = F.col("f_ts").isNotNull() & (F.col("f_ts") - ts <= _ASOF_TOL_US)
    back_wins = bok & (~fok | (ts - F.col("b_ts") <= F.col("f_ts") - ts))
    return carried.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        ts.alias("purchase_ts_us"),
        F.when(back_wins, F.col("b_id")).when(fok, F.col("f_id")).alias("click_id"),
        F.when(back_wins, F.col("b_ts") - ts)
        .when(fok, F.col("f_ts") - ts)
        .alias("gap_us"),
        F.when(back_wins, "backward").when(fok, "forward").alias("direction"),
    )
