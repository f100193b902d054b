"""Oracle-parity tests for §2.3 join operators."""

from __future__ import annotations

import pytest

from data_integration_exercise_spark.operators import joins

from .parity import assert_parity


@pytest.mark.parametrize("key", sorted(joins.ORACLES))
def test_parity(spark, key):
    assert_parity(spark, key)


def test_semi_anti_partition_customer(spark):
    """Property (SURVEY §5.5): semi ∪ anti partitions customer exactly."""
    from data_integration_exercise_spark.io import load_table

    sf = "/root/testdata/sf0.01"
    n_cust = load_table(spark, sf, "customer").count()
    n_semi = joins.QUERIES["join_semi"](spark, sf).count()
    n_anti = joins.QUERIES["join_anti"](spark, sf).count()
    assert n_semi + n_anti == n_cust


def test_interval_overlap_matches_unbinned_theta_join(spark):
    """The month-binned plan must reproduce the naive theta self-join
    exactly (the bin + first-bin rule is a pure optimization, not a
    semantics change)."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r.c_custkey, r.n_concurrent_pairs)
        for r in joins.QUERIES["join_interval_overlap"](spark, sf).collect()
    }
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    span = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderdate").alias("s"),
        )
        .agg(F.max("l_shipdate").alias("e"))
    )
    a = span.select("cust", F.col("okey").alias("ka"), F.col("s").alias("sa"), F.col("e").alias("ea"))
    b = span.select(F.col("cust").alias("cb"), F.col("okey").alias("kb"), F.col("s").alias("sb"), F.col("e").alias("eb"))
    want = {
        (r.cust, r.n)
        for r in a.join(
            b,
            (F.col("cust") == F.col("cb"))
            & (F.col("ka") < F.col("kb"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea")),
        )
        .groupBy("cust")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_bloom_prefilter_equals_plain_join_and_filters_rows(spark):
    """False positives must not change the result: compare against the
    plain broadcast join. Also verify the bloom pass is selective at all
    (it must pass fewer probe rows than the full orders scan — with 1024
    bits and a small build side, most non-matching keys die)."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table
    from data_integration_exercise_spark.operators.joins import _bloom_positions

    sf = "/root/testdata/sf0.01"
    got = {
        (r.c_mktsegment, r.n_orders, r.revenue_cents)
        for r in joins.QUERIES["join_bloom_prefilter"](spark, sf).collect()
    }
    c = load_table(spark, sf, "customer").filter(F.col("c_acctbal") > 9000)
    o = load_table(spark, sf, "orders")
    want = {
        (r.c_mktsegment, r.n_orders, r.revenue_cents)
        for r in o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .collect()
    }
    assert got == want and len(want) > 0
    # selectivity: count probe rows surviving the 3-bit test
    word_bits = (
        c.select(F.explode(F.array(*_bloom_positions("c_custkey"))).alias("p"))
        .select(F.expr("p div 64").alias("word"),
                F.expr("shiftleft(1L, cast(p % 64 AS INT))").alias("bit"))
        .groupBy("word").agg(F.bit_or("bit").alias("bits"))
    )
    bloom = word_bits.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bloom")
    )
    probed = o.crossJoin(F.broadcast(bloom)).withColumns(
        {f"p{i}": pos for i, pos in enumerate(_bloom_positions("o_custkey"))}
    )
    tests = [
        F.expr(
            f"(coalesce(element_at(bloom, p{i} div 64), 0L)"
            f" & shiftleft(1L, cast(p{i} % 64 AS INT))) != 0"
        )
        for i in range(3)
    ]
    n_pass = probed.filter(tests[0] & tests[1] & tests[2]).count()
    n_match = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).count()
    assert n_match <= n_pass < o.count()


def test_temporal_scd2_conserves_lineitems(spark):
    """Every line item lands in exactly one status bucket (incl. NULL for
    pre-history probes), so n_items must sum to |lineitem| and revenue to
    the exact total cents."""
    import duckdb

    from data_integration_exercise_spark.operators import joins

    pdf = joins.QUERIES["join_temporal_scd2"](
        spark, "/root/testdata/sf0.01"
    ).toPandas()
    con = duckdb.connect()
    n, cents = con.execute(
        "SELECT count(*), sum(CAST(round(l_extendedprice * 100) AS BIGINT)) "
        "FROM read_parquet('/root/testdata/sf0.01/lineitem.parquet')"
    ).fetchone()
    con.close()
    assert pdf.n_items.sum() == n
    assert pdf.revenue_cents.sum() == cents


def test_null_safe_join_keeps_null_bucket(spark):
    """The NULL bucket must survive the join (the semantic the op exists
    for), a plain = join must drop exactly that one row, and the modulo
    buckets partition the fact tables."""
    from data_integration_exercise_spark.operators import joins

    pdf = joins.QUERIES["join_null_safe"](spark, "/root/testdata/sf0.01").toPandas()
    null_row = pdf[pdf.bucket.isna()]
    assert len(null_row) == 1 and null_row.n_orders.iloc[0] > 0 and null_row.n_items.iloc[0] > 0
    assert len(pdf) == 98  # all 97 moduli survive the mod-7 nulling + NULL
    import duckdb

    n_orders = duckdb.sql(
        "SELECT count(*) FROM '/root/testdata/sf0.01/orders.parquet'"
    ).fetchone()[0]
    assert pdf.n_orders.sum() == n_orders


def test_mutual_best_match_is_one_to_one_and_mutual(spark):
    """The matching must be a 1:1 partial matching (no key repeats), every
    pair must be in-block (same nation), and spot-recomputing both argmaxes
    for a few pairs must confirm mutuality."""
    import duckdb

    from data_integration_exercise_spark.operators import joins

    pdf = joins.QUERIES["join_mutual_best_match"](
        spark, "/root/testdata/sf0.01"
    ).toPandas()
    assert len(pdf) > 0
    assert pdf.c_custkey.is_unique and pdf.s_suppkey.is_unique
    cand = duckdb.sql(
        """
        SELECT c.c_custkey, s.s_suppkey, c.c_nationkey,
               abs(CAST(round(c.c_acctbal * 100) AS BIGINT)
                   - CAST(round(s.s_acctbal * 100) AS BIGINT)) AS d
        FROM '/root/testdata/sf0.01/customer.parquet' c
        JOIN '/root/testdata/sf0.01/supplier.parquet' s
          ON c.c_nationkey = s.s_nationkey
        """
    ).df()
    for _, row in pdf.head(5).iterrows():
        mine = cand[cand.c_custkey == row.c_custkey].sort_values(["d", "s_suppkey"])
        assert mine.iloc[0].s_suppkey == row.s_suppkey
        theirs = cand[cand.s_suppkey == row.s_suppkey].sort_values(["d", "c_custkey"])
        assert theirs.iloc[0].c_custkey == row.c_custkey
        assert mine.iloc[0].d == row.dist_cents


def test_asof_nearest_agrees_with_backward_and_prefers_closer(spark):
    """Consistency with join_asof: when the nearest match is backward it
    must equal the backward-asof match; every emitted gap is within the
    1-hour tolerance; forward matches exist (the rows backward-asof
    cannot serve) and every match is genuinely the nearer candidate."""
    from data_integration_exercise_spark.operators import joins as J

    near = (
        J.QUERIES["join_asof_nearest"](spark, "/root/testdata/sf0.01")
        .toPandas()
        .set_index("purchase_id")
    )
    back = (
        J.QUERIES["join_asof"](spark, "/root/testdata/sf0.01").toPandas().set_index("purchase_id")
    )
    assert len(near) == len(back)
    matched = near[near.direction.notna()]
    assert (matched.gap_us.abs() <= 3_600_000_000).all()
    bwd = matched[matched.direction == "backward"]
    fwd = matched[matched.direction == "forward"]
    assert len(bwd) > 0 and len(fwd) > 0
    # backward picks must agree with the backward-asof join exactly
    assert (bwd.click_id == back.loc[bwd.index].click_id).all()
    assert (bwd.gap_us <= 0).all() and (fwd.gap_us > 0).all()
    # a forward match means backward was absent or farther
    b_ts = back.loc[fwd.index].click_ts_us
    b_gap = fwd.purchase_ts_us - b_ts
    farther_or_absent = b_ts.isna() | (b_gap > fwd.gap_us)
    assert farther_or_absent.all()


def _subtree(plan: str, head: str) -> str:
    """The lines of a physical-plan tree string from the first node whose
    text contains ``head`` down to the end of that node's subtree."""
    import re

    def depth(line):
        m = re.search(r"[+:]- ", line)
        return m.start() if m else -1

    lines = plan.splitlines()
    i = next(i for i, line in enumerate(lines) if head in line)
    out = [lines[i]]
    for line in lines[i + 1 :]:
        if depth(line) <= depth(lines[i]):
            break
        out.append(line)
    return "\n".join(out)


@pytest.mark.parametrize("key", ["join_multiway_star", "tpch_q5_local_supplier"])
def test_q5_lineitem_meets_asia_suppliers_before_its_shuffle(spark, key):
    """The 100 TB posture of the one Q5 plan: with size-based broadcasts
    off and no AQE to rescue the plan, lineitem still joins the broadcast
    ASIA suppliers map-side, so the exchange on l_orderkey ships only the
    ASIA slice of lineitem — never the whole fact table."""
    from data_integration_exercise_spark.registry import queries

    from .conftest import SF_T2 as sf

    # built first: load_table re-applies the session's AQE setting
    keys = ("join_multiway_star", "tpch_q5_local_supplier")
    frames = {k: queries()[k](spark, sf) for k in keys}
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    prior = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        plan = frames[key]._jdf.queryExecution().executedPlan().toString()
        assert not plan.startswith("AdaptiveSparkPlan"), plan
        below = _subtree(plan, "Exchange hashpartitioning(l_orderkey")
        assert "BroadcastHashJoin [l_suppkey" in below, plan
        assert "(r_name#" in below and "= ASIA)" in below, below
        star, q5 = (sorted(df.collect()) for df in frames.values())
        assert star == q5 and star
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
