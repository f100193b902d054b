"""Python UDF / UDAF / UDTF surface (SURVEY.md §2.11).

These exist to prove the extension surface — every core operator in this
engine uses built-in JVM expressions instead (UDFs are the slow path:
row-at-a-time Python ≈10-100× slower than codegen; Arrow-batched pandas_udf
recovers most of it). Determinism rule: no per-batch statistics — anything
depending on batch boundaries (e.g. per-batch z-score) is re-expressed
against globally-joined stats.

UDF objects are constructed inside the query functions: the @udf/@pandas_udf/
@udtf decorators resolve their return-type DDL against the active session,
so module-level construction would fail at import time.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf
from pyspark.sql.types import IntegerType

from ..functions.encode import cents, cents_sql
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()


@register(
    "udf_python_scalar",
    oracle="""
    SELECT o_orderkey,
           CAST(split_part(o_orderpriority, '-', 1) AS INTEGER) AS prio_num
    FROM orders
    """,
)
def udf_python_scalar(spark, sf_dir):
    """Row-at-a-time Python UDF parsing '1-URGENT' → 1 (the one deliberate
    slow-path demo — boundary 4 in the lifecycle trace: executor JVM ↔
    Python worker). The same logic is one split_part call in SQL."""

    @udf(IntegerType())
    def parse_priority(p: str) -> int | None:
        if p is None or "-" not in p:
            return None
        head = p.split("-", 1)[0]
        return int(head) if head.isdigit() else None

    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", parse_priority("o_orderpriority").alias("prio_num"))


@register(
    "udf_pandas_vectorized",
    oracle="""
    SELECT o_orderkey,
           round((o_totalprice - avg(o_totalprice) OVER ())
                 / stddev_samp(o_totalprice) OVER (), 4) AS z
    FROM orders
    """,
)
def udf_pandas_vectorized(spark, sf_dir):
    """pandas_udf (Arrow-batched) z-score of o_totalprice. The mean/std are
    computed once globally and broadcast-joined, then the UDF is pure
    elementwise math — per-batch statistics would be nondeterministic under
    repartitioning (SURVEY §5.6)."""

    @pandas_udf("double")
    def zscore(x: pd.Series, mu: pd.Series, sigma: pd.Series) -> pd.Series:
        return (x - mu) / sigma

    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.avg("o_totalprice").alias("mu"), F.stddev_samp("o_totalprice").alias("sigma")
    )
    return o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        F.round(zscore(F.col("o_totalprice"), F.col("mu"), F.col("sigma")), 4).alias(
            "z"
        ),
    )


@register(
    "udaf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_discount * l_quantity) / sum(l_quantity), 4) AS w_avg_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_grouped_agg(spark, sf_dir):
    """Grouped-aggregate pandas_udf: quantity-weighted average discount per
    returnflag — the Arrow path for custom aggregations that genuinely
    can't be expressed with built-ins (this one can; it's the demo)."""

    @pandas_udf("double")
    def weighted_avg(disc: pd.Series, qty: pd.Series) -> float:
        return float((disc * qty).sum() / qty.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_avg("l_discount", "l_quantity"), 4).alias("w_avg_disc")
    )


@register(
    "udf_pandas_iterator",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey,
           round(ln(1 + l_extendedprice) * 100, 4) AS scaled_log_price
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def udf_pandas_iterator(spark, sf_dir):
    """Iterator-of-Series pandas_udf — the model-inference shape: expensive
    one-time setup (loading weights, opening a session) happens ONCE per
    Python worker, then every Arrow batch streams through the initialized
    state. Here the 'model' is a deterministic scale constant so the oracle
    stays SQL-expressible; in production the body would call the real
    predictor batch-by-batch."""
    import numpy as np

    @pandas_udf("double")
    def scaled_log(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        scale = 100.0  # stands in for load_model(); runs once per worker
        for x in batches:
            # log(1+x), NOT log1p: both engines must evaluate the same
            # libm expression or last-ulp drift breaks value-hash parity
            yield np.log(1.0 + x) * scale

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.round(scaled_log("l_extendedprice"), 4).alias("scaled_log_price"),
    )


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def udf_map_in_arrow(spark, sf_dir):
    """mapInArrow — the zero-copy batch surface below mapInPandas: the
    function sees raw ``pyarrow.RecordBatch`` objects, skipping the
    pandas conversion entirely. The right level for columnar codecs /
    Arrow-native kernels; compute here is pyarrow.compute so the whole
    pipeline stays in Arrow memory."""

    def charge_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            ep, disc, tax = (b.column(i) for i in (3, 4, 5))
            # unrounded: row-wise double math with the same association as
            # the SQL evaluates bit-identically in both engines, and 4dp
            # rounding of decimal-terminating products is a known tie trap
            charge = pc.multiply(
                pc.multiply(ep, pc.subtract(pa.scalar(1.0), disc)),
                pc.add(pa.scalar(1.0), tax),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), b.column(2), charge],
                ["l_orderkey", "l_linenumber", "l_partkey", "charge"],
            )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        )
    )
    return li.mapInArrow(
        charge_batches,
        "l_orderkey long, l_linenumber int, l_partkey long, charge double",
    )


@register(
    "udtf_python",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id < 50)
    SELECT doc_id,
           unnest(list_transform(toks, (x, i) -> i - 1)) AS pos,
           unnest(toks)                                  AS token
    FROM d
    """,
)
def udtf_python(spark, sf_dir):
    """Python UDTF (Spark ≥3.5) in a LATERAL join — the table-function
    extension surface; semantics identical to fn_explode's posexplode."""

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            if text:
                for i, tok in enumerate(text.split(" ")):
                    yield i, tok

    spark.udtf.register("die_tokenize", Tokenize)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM documents d, LATERAL die_tokenize(d.text) t
        WHERE d.doc_id < 50
        """
    )


@register(
    "udf_grouped_train",
    oracle=f"""
    WITH per_order AS (
        SELECT n.n_name, o.o_orderkey,
               CAST(count(*) AS BIGINT) AS n_items,
               {cents_sql('o.o_totalprice')} AS cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, o.o_orderkey, o.o_totalprice
    ), sums AS (
        SELECT n_name,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(n_items) AS HUGEINT) AS sx,
               CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(n_items AS HUGEINT) * cents) AS HUGEINT) AS sxy,
               CAST(sum(CAST(n_items AS HUGEINT) * n_items) AS HUGEINT) AS sxx
        FROM per_order GROUP BY n_name
    )
    SELECT n_name, CAST(n AS BIGINT) AS n_orders,
           CAST(1000000 * (n * sxy - sx * sy)
                // (n * sxx - sx * sx) AS BIGINT) AS slope_microcents_per_item,
           CAST(1000000 * (sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx)
                // ((n * sxx - sx * sx) * n) AS BIGINT) AS intercept_microcents
    FROM sums
    """,
)
def udf_grouped_train(spark, sf_dir):
    """Grouped-map model training via applyInPandas — the one-model-per-
    segment pattern (per-nation OLS of order value on basket size): each
    nation's orders arrive as ONE pandas frame and the fit runs in
    arbitrary Python. The fit itself uses exact arbitrary-precision
    Python-int moment sums (Σx, Σy, Σxy, Σx²) rather than numpy float
    reductions, so slope/intercept are exact integer rationals truncated
    to micro-cents — bit-identical to the oracle's HUGEINT closed form
    (float summation ORDER would differ between engines; §10 lesson 9).

    100 TB: applyInPandas shuffles once on the group key and streams each
    group through Arrow; 25 nation-sized groups is the degenerate-skew
    case, so real deployments sub-shard (train on per-shard moments, merge
    — exactly what the exact integer moments permit: they are mergeable
    partials, unlike fitted coefficients)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_orderkey", "o_totalprice")
        .agg(F.count("*").cast("long").alias("n_items"))
        .select(
            "n_name",
            "n_items",
            cents("o_totalprice").alias("cents"),
        )
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = [int(v) for v in pdf["n_items"]]
        ys = [int(v) for v in pdf["cents"]]
        n_ = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        num, den = n_ * sxy - sx * sy, n_ * sxx - sx * sx
        # Python int division truncates toward MINUS infinity; match the
        # engines' toward-zero `div` explicitly
        def tdiv(a, b):
            q = abs(a) // abs(b)
            return q if (a >= 0) == (b >= 0) else -q

        slope = tdiv(1_000_000 * num, den)
        intercept = tdiv(1_000_000 * (sy * den - num * sx), den * n_)
        return pd.DataFrame(
            {
                "n_name": [pdf["n_name"].iloc[0]],
                "n_orders": [n_],
                "slope_microcents_per_item": [slope],
                "intercept_microcents": [intercept],
            }
        )

    return per_order.groupBy("n_name").applyInPandas(
        fit,
        "n_name string, n_orders long, slope_microcents_per_item long, "
        "intercept_microcents long",
    )
