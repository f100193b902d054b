"""Unit tier (SURVEY.md §5.4): hand-computable micro-frames pinning the
exact edge-case semantics the big parity tests exercise only statistically."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_left_join_null_side_aggregation(spark):
    """count(col) skips nulls: an unmatched left row aggregates to 0."""
    c = spark.createDataFrame([(1,), (2,)], "k long")
    o = spark.createDataFrame([(1, 10.0)], "k long, v double")
    out = {
        r.k: (r.n, r.s)
        for r in c.join(o, "k", "left")
        .groupBy("k")
        .agg(F.count("v").alias("n"), F.coalesce(F.sum("v"), F.lit(0.0)).alias("s"))
        .collect()
    }
    assert out == {1: (1, 10.0), 2: (0, 0.0)}


def test_except_all_multiset_arithmetic(spark):
    """exceptAll subtracts occurrences: {a,a,b} − {a} = {a,b}."""
    a = spark.createDataFrame([("a",), ("a",), ("b",)], "x string")
    b = spark.createDataFrame([("a",)], "x string")
    assert sorted(r.x for r in a.exceptAll(b).collect()) == ["a", "b"]


def test_last_value_default_frame_trap(spark):
    """The default window frame ends at CURRENT ROW, so last() degenerates
    to the current row — the trap win_first_last_value avoids with an
    explicit unbounded frame."""
    df = spark.createDataFrame([(1, 1), (1, 2), (1, 3)], "g int, v int")
    default_frame = Window.partitionBy("g").orderBy("v")
    full_frame = default_frame.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rows = df.select(
        "v",
        F.last("v").over(default_frame).alias("deflt"),
        F.last("v").over(full_frame).alias("full"),
    ).collect()
    assert all(r.deflt == r.v for r in rows)  # the trap
    assert all(r.full == 3 for r in rows)  # the intent


def test_band_join_inclusive_boundary(spark):
    """The 60s band predicate is inclusive: a pair exactly 60s apart counts
    (|Δt| <= 60_000_000 µs), one µs beyond does not."""
    from data_integration_exercise_spark.operators.joins import QUERIES  # noqa: F401

    # replicate the predicate shape on a micro-frame
    e = spark.createDataFrame(
        [(1, 10, 0), (2, 10, 60_000_000), (3, 10, 60_000_001)],
        "event_id long, user_id long, ts_us long",
    )
    e1 = e.selectExpr("event_id id1", "user_id u1", "ts_us t1")
    e2 = e.selectExpr("event_id id2", "user_id u2", "ts_us t2")
    pairs = sorted(
        (r.id1, r.id2)
        for r in e1.join(
            e2,
            (F.col("u1") == F.col("u2"))
            & (F.col("id1") < F.col("id2"))
            & (F.abs(F.col("t2") - F.col("t1")) <= 60_000_000),
        ).collect()
    )
    assert pairs == [(1, 2), (2, 3)]  # (1,3) is 60.000001s apart: excluded


def test_null_safe_equality_truth_table(spark):
    """<=> three-valued truth table: null<=>null TRUE, null<=>x FALSE."""
    df = spark.createDataFrame(
        [(None, None), (None, 1.0), (1.0, 1.0), (1.0, 2.0)], "a double, b double"
    )
    got = [r.eq for r in df.select(F.col("a").eqNullSafe(F.col("b")).alias("eq")).collect()]
    assert got == [True, False, True, False]


def test_rollup_null_vs_natural_null_disambiguation(spark):
    """grouping() distinguishes subtotal NULLs from data NULLs."""
    df = spark.createDataFrame([(None, 1), ("x", 2)], "k string, v int")
    rows = {
        (r.k, r.g): r.s
        for r in df.rollup("k")
        .agg(F.grouping("k").alias("g"), F.sum("v").alias("s"))
        .collect()
    }
    assert rows[(None, 0)] == 1  # natural null group
    assert rows[(None, 1)] == 3  # rollup grand total
    assert rows[("x", 0)] == 2


def test_upsert_latest_version_wins(spark):
    """Union + row_number keeps exactly the max-version row per key, and
    keys present only in the update batch insert (the 'upsert' half)."""
    base = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k long, v string, version int")
    upd = spark.createDataFrame([(2, "B", 2), (3, "C", 2)], "k long, v string, version int")
    w = Window.partitionBy("k").orderBy(F.col("version").desc())
    out = {
        r.k: (r.v, r.version)
        for r in base.unionByName(upd)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert out == {1: ("a", 1), 2: ("B", 2), 3: ("C", 2)}


def test_gaps_islands_grouping_key(spark):
    """rn − rn_per_type is constant exactly within a maximal same-type run:
    A A B A → islands (A,2) (B,1) (A,1)."""
    df = spark.createDataFrame(
        [(1, "A", 1), (2, "A", 2), (3, "B", 3), (4, "A", 4)],
        "id long, t string, ts long",
    )
    w_all = Window.partitionBy(F.lit(1)).orderBy("ts", "id")
    w_typ = Window.partitionBy("t").orderBy("ts", "id")
    islands = (
        df.select("t", (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("grp"))
        .groupBy("t", "grp")
        .count()
    )
    got = sorted((r.t, r["count"]) for r in islands.collect())
    assert got == [("A", 1), ("A", 2), ("B", 1)]


def test_label_propagation_converges_to_min(spark):
    """Min-label propagation on a 2-component graph: {1-2-3} and {4-5}
    converge to components 1 and 4 in diameter iterations."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (4, 5), (5, 4)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(i, i) for i in range(1, 6)], "doc_id long, component long"
    )
    for _ in range(5):
        nbr = edges.join(labels, edges.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"), "component"
        )
        labels = (
            labels.unionByName(nbr)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
        )
    got = {r.doc_id: r.component for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_hash_mod_sample_is_partitioning_invariant(spark):
    """The content-hash sample selects the same keys regardless of how the
    input is partitioned — the reproducibility property engine-native
    seeded sample() does NOT have across different partitionings."""
    from data_integration_exercise_spark.functions.encode import md5_bucket

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    pick = lambda d: sorted(  # noqa: E731
        r.k for r in d.filter(md5_bucket("k", 10) == 0).collect()
    )
    assert pick(df.repartition(1)) == pick(df.repartition(17, "k"))
