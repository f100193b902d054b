"""Oracle parity + invariants for the ETL lifecycle operators."""

from __future__ import annotations

import pytest

from data_integration_exercise_spark.io import load_table
from data_integration_exercise_spark.operators import etl
from data_integration_exercise_spark.sources import connectors as etl_connectors

from .parity import assert_parity

SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize("key", sorted(etl.ORACLES))
def test_parity(spark, key):
    assert_parity(spark, key)


def test_upsert_is_keyed_and_versioned(spark):
    """Upsert output: one row per customer; every key divisible by 3 took
    the version-2 update, all others kept version 1."""
    pdf = etl.QUERIES["etl_upsert_latest"](spark, SF).toPandas()
    n_cust = load_table(spark, SF, "customer").count()
    assert len(pdf) == n_cust
    assert pdf.c_custkey.is_unique
    assert (pdf[pdf.c_custkey % 3 == 0].version == 2).all()
    assert (pdf[pdf.c_custkey % 3 != 0].version == 1).all()


def test_scd2_intervals_are_contiguous(spark):
    """Per customer: exactly one open (is_current) row; intervals chain —
    each row's effective_to equals the next row's effective_from; and
    consecutive rows never share a status (else they'd be one interval)."""
    pdf = (
        etl.QUERIES["etl_scd2_intervals"](spark, SF)
        .toPandas()
        .sort_values(["o_custkey", "effective_from"])
    )
    assert (pdf.groupby("o_custkey").is_current.sum() == 1).all()
    for _, g in pdf.groupby("o_custkey"):
        closed = g.iloc[:-1]
        assert (
            closed.effective_to.values == g.effective_from.iloc[1:].values
        ).all()
        assert (g.o_orderstatus.iloc[:-1].values != g.o_orderstatus.iloc[1:].values).all()


def test_profile_nullable_column_counts_nulls(spark):
    pdf = etl.QUERIES["etl_data_profile"](spark, SF).toPandas().set_index("col")
    assert pdf.loc["o_orderstatus", "n_null"] == 0
    assert pdf.loc["o_status_nullable", "n_null"] > 0
    assert (
        pdf.loc["o_status_nullable", "n_distinct"]
        == pdf.loc["o_orderstatus", "n_distinct"] - 1
    )


def test_gdpr_cascade_counts_are_consistent(spark):
    """Purged+retained must equal each table's full count, the customer
    purge must match the %97 slice exactly, and the cascade must actually
    reach both downstream tables."""

    rows = {
        r.table_name: r
        for r in etl.QUERIES["etl_gdpr_cascade"](spark, SF).collect()
    }
    assert set(rows) == {"customer", "orders", "lineitem"}
    for name in rows:
        t = load_table(spark, SF, name)
        assert rows[name].rows_purged + rows[name].rows_retained == t.count()
    c = load_table(spark, SF, "customer")
    expect = c.filter((c.c_custkey % 97) == 0).count()
    assert rows["customer"].rows_purged == expect
    assert rows["orders"].rows_purged > 0
    assert rows["lineitem"].rows_purged > rows["orders"].rows_purged


def test_cdc_deletes_tombstones_win_and_counts_reconcile(spark):
    """Keys % 5 == 0 must be absent (even when also updated: % 15 keys get
    U then D — delete wins); survivors carry the right version; row count
    = n - n_deleted."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table

    out = etl.QUERIES["etl_cdc_deletes"](spark, SF).toPandas()
    c = load_table(spark, SF, "customer").select("c_custkey").toPandas()
    n, n_del = len(c), (c.c_custkey % 5 == 0).sum()
    assert len(out) == n - n_del
    assert not (out.c_custkey % 5 == 0).any()
    assert (out[out.c_custkey % 3 == 0].version == 2).all()
    assert (out[out.c_custkey % 3 != 0].version == 1).all()


def test_incremental_refresh_cutoff_actually_splits(spark):
    """The merge is only a real test if both state tables are non-empty;
    verify the cutoff splits orders and the merged state equals a direct
    full recompute (beyond the oracle, in-Spark)."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table
    from data_integration_exercise_spark.operators.etl import _MV_CUTOFF

    o = load_table(spark, SF, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp_ntz")
    n_hist = o.filter(F.col("o_orderdate") < cutoff).count()
    n_new = o.filter(F.col("o_orderdate") >= cutoff).count()
    assert n_hist > 0 and n_new > 0
    got = {
        r.o_orderpriority: (r.n_orders, r.revenue_cents, r.max_cents)
        for r in etl.QUERIES["etl_incremental_agg_refresh"](spark, SF).collect()
    }
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    want = {
        r.o_orderpriority: (r.n, r.rc, r.mx)
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(cents).cast("long").alias("rc"),
            F.max(cents).cast("long").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_idempotent_overwrite_replaces_only_the_backfilled_partition(spark):
    """June revenue = original + 1000 cents * n_june * 100; every other
    month's revenue is untouched; re-running the operator yields the
    identical table (idempotency)."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table

    first = {
        str(r.month): (r.n, r.revenue_cents)
        for r in etl_connectors.QUERIES["sink_idempotent_overwrite"](spark, SF).collect()
    }
    again = {
        str(r.month): (r.n, r.revenue_cents)
        for r in etl_connectors.QUERIES["sink_idempotent_overwrite"](spark, SF).collect()
    }
    assert first == again and len(first) == 12
    o = load_table(spark, SF, "orders")
    orig = {
        str(r.month): (r.n, r.rc)
        for r in o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rc"),
        )
        .collect()
    }
    for m, (n, rc) in orig.items():
        gn, grc = first[m]
        assert gn == n
        if m.startswith("1997-06"):
            assert grc == rc + 100_000 * n  # +$1000.00 per order
        else:
            assert grc == rc


def test_surrogate_keys_are_dense_ordered_and_layout_proof(spark):
    """Keys must be exactly 1..N in natural-key order, and identical after
    an adversarial repartition of the input path (layout independence is
    the whole point vs monotonically_increasing_id)."""
    out = (
        etl.QUERIES["etl_surrogate_keys"](spark, SF)
        .toPandas()
        .sort_values("surrogate_key")
    )
    n = len(out)
    assert list(out.surrogate_key) == list(range(1, n + 1))
    assert list(out.c_custkey) == sorted(out.c_custkey)
    again = (
        etl.QUERIES["etl_surrogate_keys"](spark, SF)
        .toPandas()
        .sort_values("surrogate_key")
    )
    assert (out.values == again.values).all()


def test_table_fingerprint_detects_single_row_change(spark):
    """Identical copies (even adversarially repartitioned) agree; flipping
    ONE row's value flips the fingerprint; n_rows matches the table."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table

    out = {r.table_name: r for r in etl.QUERIES["etl_table_fingerprint"](spark, SF).collect()}
    c = load_table(spark, SF, "customer")
    assert out["customer"].n_rows == c.count()
    expr = (
        "concat(CAST(c_custkey AS STRING), '|', c_name, '|', c_mktsegment, "
        "'|', CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS STRING))"
    )
    agg = "bit_xor(CAST(conv(substring(md5({e}), 1, 15), 16, 10) AS BIGINT))"
    same = (
        c.repartition(17, "c_mktsegment")
        .agg(F.expr(agg.format(e=expr)).alias("fp"))
        .first()
        .fp
    )
    assert same == out["customer"].fingerprint
    tampered = (
        c.withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") == 1, F.col("c_acctbal") + 0.01).otherwise(
                F.col("c_acctbal")
            ),
        )
        .agg(F.expr(agg.format(e=expr)).alias("fp"))
        .first()
        .fp
    )
    assert tampered != out["customer"].fingerprint


def test_unpivot_roundtrips_the_wide_table(spark):
    """Melting then re-pivoting must reproduce the wide rollup exactly —
    unpivot loses nothing."""
    from data_integration_exercise_spark.operators import etl

    pdf = etl.QUERIES["etl_unpivot_melt"](spark, "/root/testdata/sf0.01").toPandas()
    wide = pdf.pivot(index="ym", columns="metric", values="value")
    assert set(wide.columns) == {"n_orders", "revenue_cents", "n_customers"}
    assert wide.notna().all().all()
    assert (wide.n_orders >= wide.n_customers).all()
    assert (pdf.groupby("ym").size() == 3).all()


def test_data_vault_counts(spark):
    """Hub counts equal dimension cardinalities; the link equals the
    distinct trade-pair count; satellite rows mirror the hub."""
    import duckdb

    from data_integration_exercise_spark.operators import etl

    pdf = etl.QUERIES["etl_data_vault"](
        spark, "/root/testdata/sf0.01"
    ).toPandas().set_index("vault_table")
    con = duckdb.connect()
    nc, ns, nl = con.execute(
        """
        SELECT (SELECT count(*) FROM read_parquet('/root/testdata/sf0.01/customer.parquet')),
               (SELECT count(*) FROM read_parquet('/root/testdata/sf0.01/supplier.parquet')),
               (SELECT count(*) FROM (
                   SELECT DISTINCT o.o_custkey, l.l_suppkey
                   FROM read_parquet('/root/testdata/sf0.01/orders.parquet') o
                   JOIN read_parquet('/root/testdata/sf0.01/lineitem.parquet') l
                     ON o.o_orderkey = l.l_orderkey))
        """
    ).fetchone()
    con.close()
    assert pdf.loc["hub_customer", "n_rows"] == nc
    assert pdf.loc["sat_customer", "n_rows"] == nc
    assert pdf.loc["hub_supplier", "n_rows"] == ns
    assert pdf.loc["link_trade", "n_rows"] == nl


def test_reconcile_buckets_flags_exactly_the_touched_buckets(spark):
    """A bucket differs iff it contains a deleted (%13) or corrected (%11)
    key — with 15000 orders every bucket contains both, so ALL 16 must
    flag; count deltas must sum to the deleted-row count."""
    import duckdb

    from data_integration_exercise_spark.operators import etl

    pdf = etl.QUERIES["etl_reconcile_buckets"](
        spark, "/root/testdata/sf0.01"
    ).toPandas()
    assert len(pdf) == 16
    assert pdf.differs.all()
    con = duckdb.connect()
    deleted = con.execute(
        "SELECT count(*) FROM read_parquet('/root/testdata/sf0.01/orders.parquet') "
        "WHERE o_orderkey % 13 = 0"
    ).fetchone()[0]
    con.close()
    assert (pdf.n_v1 - pdf.n_v2).sum() == deleted


def test_late_dim_unknown_conserves_revenue(spark):
    """No revenue may vanish on unresolved members: bucket totals equal the
    raw fact totals, the UNKNOWN bucket is non-empty (10% withheld), and
    late-member counts only appear there."""
    from data_integration_exercise_spark.operators import etl

    pdf = etl.QUERIES["etl_late_dim_unknown"](spark, "/root/testdata/sf0.01").toPandas()
    import duckdb

    tot = duckdb.sql(
        "SELECT count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)) "
        "FROM '/root/testdata/sf0.01/orders.parquet'"
    ).fetchone()
    assert pdf.n_orders.sum() == tot[0]
    assert pdf.revenue_cents.sum() == tot[1]
    unk = pdf[pdf.nation == "UNKNOWN"]
    assert len(unk) == 1 and unk.n_late_members.iloc[0] > 0
    assert (pdf[pdf.nation != "UNKNOWN"].n_late_members == 0).all()


def test_backfill_plan_flags_exactly_the_outage_months(spark):
    """The simulated feed outage drops every 9th calendar month; the plan
    must flag exactly those spine months as missing (n_rows 0) and report
    positive landed counts everywhere else, over a contiguous spine."""
    from data_integration_exercise_spark.operators import etl

    pdf = (
        etl.QUERIES["etl_partition_backfill_plan"](spark, SF)
        .toPandas()
        .sort_values("ym")
        .reset_index(drop=True)
    )
    midx = (pdf.ym // 100) * 12 + pdf.ym % 100
    assert list(midx) == list(range(int(midx.min()), int(midx.max()) + 1))
    missing = pdf.status == "missing"
    assert (missing == (midx % 9 == 0)).all()
    assert (pdf.loc[missing, "n_rows"] == 0).all()
    assert (pdf.loc[~missing, "n_rows"] > 0).all()


def test_vacuum_plan_protects_shared_files(spark):
    """v2 re-references 5 of v1's 8 bucket files, so vacuum must reclaim
    exactly the 3 rewritten-bucket files (their rows = source rows with
    bucket < 3), keep 8 live files, and find the single orphan; a second
    call in the same process must return the identical plan (staging is
    idempotent)."""
    import duckdb

    from data_integration_exercise_spark.sources import connectors as C

    sf = "/root/testdata/sf0.01"
    pdf = (
        C.QUERIES["etl_vacuum_retention_plan"](spark, sf)
        .toPandas()
        .set_index("status")
    )
    src = duckdb.sql(
        f"""
        SELECT count(*) FILTER (o_orderkey % 8 < 3) AS lt3,
               count(*) FILTER (o_orderkey % 8 >= 3) AS ge3,
               count(*) FILTER (o_orderkey % 8 < 3 AND o_orderkey % 13 <> 0)
                   AS lt3_kept,
               count(*) FILTER (o_orderkey % 17 = 0) AS orphan
        FROM '{sf}/orders.parquet'
        """
    ).df().iloc[0]
    assert pdf.loc["expired_reclaimable", "n_files"] == 3
    assert pdf.loc["expired_reclaimable", "n_rows"] == src.lt3
    assert pdf.loc["live", "n_files"] == 8
    assert pdf.loc["live", "n_rows"] == src.ge3 + src.lt3_kept
    assert pdf.loc["orphan", "n_files"] == 1
    assert pdf.loc["orphan", "n_rows"] == src.orphan
    again = (
        C.QUERIES["etl_vacuum_retention_plan"](spark, sf)
        .toPandas()
        .set_index("status")
    )
    assert (again == pdf).all().all()


def test_wap_rollback_serves_v1_and_quarantines_v2(spark):
    """After the failed v2 audit the published path must still hold v1
    EXACTLY (full distinct keys, original row count), the corrupted stage
    must sit in quarantine with its dup count intact, and a second call in
    the same process must return the identical ledger."""
    import duckdb

    from data_integration_exercise_spark.sources import connectors as C

    sf = "/root/testdata/sf0.01"
    pdf = C.QUERIES["etl_wap_rollback"](spark, sf).toPandas().set_index("step")
    src = duckdb.sql(
        f"""
        SELECT count(*) AS n,
               count(*) - count(DISTINCT o_orderkey % 1000) AS dups
        FROM '{sf}/orders.parquet'
        """
    ).df().iloc[0]
    assert pdf.loc["publish_v1", "observed"] == src.n
    assert pdf.loc["serving_rows", "observed"] == src.n
    assert pdf.loc["audit_v2_dup_pk", "observed"] == src.dups > 0
    assert pdf.loc["rollback_quarantined", "observed"] == src.n
    # the published files themselves still carry v1's full key space
    from data_integration_exercise_spark.io import stage_dir

    pub = spark.read.parquet(stage_dir(sf, "etl_wap_rollback") + "/published")
    assert pub.select("o_orderkey").distinct().count() == src.n
    again = C.QUERIES["etl_wap_rollback"](spark, sf).toPandas().set_index("step")
    assert (again == pdf).all().all()


def test_dp_release_invariants(spark):
    """Mechanism accounting must hold exactly: released = clipped + noise,
    clipping never exceeds the raw per-user count sum, the noise literal
    matches the Python inverse-CDF helper, and the fixed ε/sensitivity
    ride every row."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table
    from data_integration_exercise_spark.operators import etl

    SF = "/root/testdata/sf0.01"
    rows = {r.segment: r for r in etl.QUERIES["etl_dp_release"](spark, SF).collect()}
    assert set(rows) <= set(etl._DP_SEGMENTS)
    raw = {
        r.c_mktsegment: (r.n, r.users)
        for r in (
            load_table(spark, SF, "orders")
            .join(
                load_table(spark, SF, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("o_custkey").alias("users"),
            )
            .collect()
        )
    }
    for seg, r in rows.items():
        assert r.noise == etl._dp_noise(seg)
        assert r.released_count == r.clipped_count + r.noise
        assert r.epsilon_milli == etl._DP_EPS_MILLI
        assert r.sensitivity == etl._DP_CAP
        n_raw, users = raw[seg]
        assert r.n_users == users
        # clipping bounds: between users*1-if-capped floor and raw count
        assert r.clipped_count <= min(n_raw, users * etl._DP_CAP)
        assert r.clipped_count >= users  # every user has >= 1 order


def test_k_anonymity_partition_and_suppression_invariants(spark):
    """Equivalence classes must partition the customer table exactly
    (Σ class_n = |customer|), l-diversity can never exceed class size,
    and the suppression column must be 0 exactly on passing classes."""
    pdf = etl.QUERIES["etl_k_anonymity"](spark, SF).toPandas()
    n_cust = load_table(spark, SF, "customer").count()
    assert int(pdf.class_n.sum()) == n_cust
    assert (pdf.l_distinct <= pdf.class_n).all()
    assert (pdf.l_distinct >= 1).all()
    passing = pdf.k_anonymous & pdf.l_diverse
    assert (pdf.loc[passing, "rows_to_suppress"] == 0).all()
    assert (pdf.loc[~passing, "rows_to_suppress"] == pdf.loc[~passing, "class_n"]).all()
    assert (pdf.k_anonymous == (pdf.class_n >= 5)).all()
    assert (pdf.l_diverse == (pdf.l_distinct >= 2)).all()


def test_rendezvous_shard_movement_identity(spark):
    """HRW invariants: (a) growth moves ~1/9 of docs (global permille in
    [60, 170] around the expected 111 — 500 docs, md5-deterministic);
    (b) the movement identity — a doc's assignment changes S=8 -> S=9
    IFF its S=9 argmax is the NEW shard 8, never a reshuffle among the
    surviving shards; (c) all 8 old shards are populated."""
    from pyspark.sql import functions as F

    rows = etl.QUERIES["etl_rendezvous_shard"](spark, SF).collect()
    assert sorted(r.shard8 for r in rows) == list(range(8))
    n, moved = sum(r.n_docs for r in rows), sum(r.n_moved for r in rows)
    assert 60 <= moved * 1000 // n <= 170, (moved, n)

    d = load_table(spark, SF, "documents").select("doc_id")
    from data_integration_exercise_spark.operators.etl import (
        _rendezvous_expr,
    )

    assigned = d.select(
        F.expr(_rendezvous_expr(8)).alias("s8"),
        F.expr(_rendezvous_expr(9)).alias("s9"),
    )
    bad = assigned.filter(
        (F.col("s8") != F.col("s9")) & (F.col("s9") != 8)
    ).count()
    assert bad == 0, f"{bad} docs moved to a surviving shard"
