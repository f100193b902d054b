"""The engine's integer vector geometry, each rule written once per dialect.

The exact-vector keys quantize embeddings to integers (``encode.milli``,
or the PQ keys' ``floor(x * 1024)``), so every distance and every
centroid below is integer arithmetic and both engines agree bit for bit:

- **Squared L2.** ``sum((a_i - b_i)^2)`` over two integer arrays, folded
  into a ``BIGINT``.
- **The nearest centroid.** The ``(d2, cluster)`` argmin: ``array_min``
  over ``(d, c)`` structs compares field by field, so ties go to the first
  index, which is the lowest id because centroid ids ascend.
- **The quantized Lloyd.** Seeds are the ``LLOYD_K`` vectors of the
  training split with the smallest ``(md5(vec_id), vec_id)``; then
  ``LLOYD_ITERS`` fixed iterations of the ``(d2, cluster)`` assignment and
  truncating-division centroid means. A cluster that loses every vector
  drops out and the survivors keep their original ids. No step depends on
  the data's order or partitioning, so the trajectory is the same in both
  engines and at any core count.

Dialects: Spark ``Column`` (plain names), Spark SQL text (``*_sql``) and
DuckDB SQL text (``*_duck``). The Spark trainer keeps the ``k x dim``
table on the driver and embeds it in each pass as literal arrays; the
DuckDB oracles unroll the same iterations as CTEs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .encode import md5_order, md5_order_duck, milli_duck

#: seeds of the quantized Lloyd (clusters that empty drop out)
LLOYD_K = 8
#: fixed Lloyd iterations: no data-dependent stopping in either engine
LLOYD_ITERS = 3


def array_sql(items, elem: str = "bigint") -> str:
    """Spark SQL array literal of the rendered ``items``. An empty one is
    typed ``array<elem>``: an untyped ``array()`` is VOID, which zip_with
    rejects when a driver-collected table came back empty."""
    return f"array({', '.join(items)})" if items else f"CAST(array() AS array<{elem}>)"


def _longs_sql(vals) -> str:
    return array_sql([f"{int(v)}L" for v in vals])


# --- squared L2 -----------------------------------------------------------------


def sq_l2(a, b):
    """Squared L2 of two integer array columns (names or Columns)."""
    return F.aggregate(
        F.zip_with(a, b, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq_l2_sql(a: str, b: str) -> str:
    """Squared L2 of two integer array expressions, e.g. ``slice(pv, 1, 16)``."""
    return (
        f"aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


# --- the nearest centroid ----------------------------------------------------------


def _dist_structs_sql(vec: str, cents: str, ids: str | None) -> str:
    c = f"element_at({ids}, i + 1)" if ids else "CAST(i AS BIGINT)"
    return f"transform({cents}, (cent, i) -> struct({sq_l2_sql(vec, 'cent')} AS d, {c} AS c))"


def nearest_sql(vec: str, cents: str, ids: str | None = None) -> str:
    """The ``(d2, c)`` argmin of ``vec`` over ``cents``, an array of centroid
    arrays: one struct ``(d, c)``, ``d`` the squared L2 and ``c`` the
    centroid's id, ``ids[i]`` (ascending) or, without ``ids``, its index.
    Refer to the struct's fields through an alias: HOFs are interpreted, so
    each inlined reference would fold every distance again."""
    return f"array_min({_dist_structs_sql(vec, cents, ids)})"


def ranked_sql(vec: str, cents: str, ids: str | None = None) -> str:
    """Every centroid of ``cents`` as a ``(d, c)`` struct (see
    :func:`nearest_sql`), sorted by ``(d, c)``: element ``r`` is the
    ``r``-th nearest, so element 0 is the argmin."""
    return f"array_sort({_dist_structs_sql(vec, cents, ids)})"


# --- the quantized Lloyd, Spark ----------------------------------------------------


@dataclass(frozen=True, eq=False)
class LloydModel:
    """A trained index, on the driver: the surviving cluster ``ids``
    (ascending), their integer centroids ``cents``, and ``n_total`` = |q|,
    read from the last training rollup."""

    q: DataFrame
    ids: list
    cents: list
    n_total: int

    def _table_sql(self) -> tuple:
        cents = array_sql([_longs_sql(c) for c in self.cents], "array<bigint>")
        return cents, _longs_sql(self.ids)

    def argmin_sql(self, vec: str) -> str:
        """:func:`nearest_sql` of ``vec`` over the table, as literals."""
        return nearest_sql(vec, *self._table_sql())

    def ranked_sql(self, vec: str) -> str:
        """:func:`ranked_sql` of ``vec`` over the table, as literals."""
        return ranked_sql(vec, *self._table_sql())

    def assign(self, q: DataFrame | None = None) -> DataFrame:
        """``q`` (by default the training frame) with each vector's nearest
        ``cluster`` and its ``d2``."""
        # cluster is coalesce-pinned NON-NULLABLE (value-identical: the
        # argmin over a non-empty table is never null): downstream
        # equi-joins on `cluster` otherwise make InferFiltersFromConstraints
        # add isnotnull(cluster), and filter pushdown inlines the alias, so
        # the whole literal argmin re-runs per row inside that inferred
        # filter (measured in sim_ann_ivfadc's plan as a 4.4k-char Filter)
        return (self.q if q is None else q).select(
            "vec_id", "label", "qarr", F.expr(self.argmin_sql("qarr")).alias("_best")
        ).select(
            "vec_id",
            "label",
            "qarr",
            F.coalesce(F.col("_best.c"), F.lit(-1)).alias("cluster"),
            F.col("_best.d").alias("d2"),
        )


def lloyd_centroids(q) -> LloydModel:
    """Train the quantized Lloyd on a ``(vec_id, label, qarr)`` frame.

    The ``k x dim`` table stays on the driver between iterations (O(1)
    state at any corpus size, the standard distributed k-means layout, cf.
    Spark MLlib KMeans) and enters each pass as literal arrays built as ONE
    SQL string, not ``k * dim`` ``F.lit()`` Columns, each a py4j round
    trip. So an iteration is one job: a map-only literal argmin and one ``(cluster, pos)`` partial-agg
    rollup collected as ``k * dim`` rows. A frame-resident trainer paid a
    broadcast build, a vec_id window argmin (shuffle and sort), a join and
    an eager checkpoint per iteration; the four keys that trained through
    it then took 3.3, 2.8, 1.9 and 1.5 s longer (``git show
    0e1a742:OPTIMIZATION_r14.md``).

    Seeds are one TakeOrdered job. Cluster ids are the seeds' ranks and
    ride through every iteration: when a cluster loses all its vectors the
    survivors keep their ids, as in the oracle's CTEs, which simply have no
    rows for it. Renumbering survivors by list index would fork every
    later label and tie-break. Empty ``q`` trains to an empty model."""
    seed_rows = (
        q.select("vec_id", "qarr")
        .orderBy(*md5_order("vec_id"))
        .limit(LLOYD_K)
        .collect()
    )
    cents = [list(r["qarr"]) for r in seed_rows]
    model = LloydModel(q, list(range(len(cents))), cents, 0)
    dim = len(cents[0]) if cents else 0
    for _ in range(LLOYD_ITERS):
        rows = (
            model.assign()
            # posexplode_OUTER + pos-notnull is the inner posexplode
            # exactly, minus the inferred size filter that re-inlines
            # qarr's defining quantization per row
            # (pipeline._band_signatures)
            .select("cluster", F.posexplode_outer(F.col("qarr")).alias("pos", "qv"))
            .filter(F.col("pos").isNotNull())
            .groupBy("cluster", "pos")
            .agg(F.expr("sum(qv) div count(*)").alias("c"), F.count("*").alias("n"))
            .collect()
        )
        by_cluster = {}
        for r in rows:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = int(r["c"])
        # every vector adds one pos-0 row, so their counts sum to |q|:
        # block sizing reads it here instead of running a count() job
        n_total = sum(int(r["n"]) for r in rows if int(r["pos"]) == 0)
        ids = sorted(by_cluster)
        cents = [[by_cluster[k][p] for p in range(dim)] for k in ids]
        model = LloydModel(q, ids, cents, n_total)
    return model


# --- the quantized Lloyd, DuckDB ----------------------------------------------------


def milli_rows_duck(where: str = "") -> str:
    """``SELECT`` of ``(vec_id, qv, pos)``: one row per milli-unit component
    of every embedding, or of those matching ``where``."""
    cond = f" WHERE {where}" if where else ""
    return f"""SELECT vec_id,
               unnest({milli_duck()}) AS qv,
               unnest(range(len(embedding))) AS pos
        FROM embeddings{cond}"""


def lloyd_trained_duck(prefix: str = "") -> str:
    """Name of the CTE :func:`lloyd_duck` leaves the trained centroids in."""
    return f"{prefix}c{LLOYD_ITERS}"


def centroid_ranks_duck(name: str, src: str = "q", cents: str = "") -> str:
    """CTE ``name`` ``(vec_id, cluster, d2, rn)``: every vector of ``src``
    ``(vec_id, qv, pos)`` against every centroid of ``cents``
    ``(cluster, pos, c)``, by default the trained ones, ``rn`` ranking a
    vector's centroids by ``(d2, cluster)``; ``rn = 1`` is its assignment
    (the E-step)."""
    cents = cents or lloyd_trained_duck()
    return f"""{name} AS (
        SELECT vec_id, cluster, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM (
            SELECT q.vec_id, c.cluster,
                   CAST(sum((q.qv - c.c) * (q.qv - c.c)) AS BIGINT) AS d2
            FROM {src} q JOIN {cents} c ON q.pos = c.pos
            GROUP BY 1, 2))"""


def lloyd_duck(split: str = "", prefix: str = "") -> str:
    """The trainer's CTEs, for a ``WITH`` clause: ``q`` (the quantized
    vectors of the ``embeddings`` rows matching ``split``, or of all),
    ``seeds``, then per iteration ``r{i}`` ranks and ``c{i}`` centroids
    ``(cluster, pos, c)`` from ``c0`` (the seeds) to
    :func:`lloyd_trained_duck`. ``prefix`` renames every CTE so the chain
    can share a ``WITH`` clause with CTEs named ``q`` or ``a1``."""
    p = prefix
    cond = f" WHERE {split}" if split else ""
    parts = [
        f"""{p}q AS (
        {milli_rows_duck(split)}
    ), {p}seeds AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY {md5_order_duck('vec_id')}) - 1
                   AS cluster
        FROM embeddings{cond}
        ORDER BY {md5_order_duck('vec_id')} LIMIT {LLOYD_K}
    ), {p}c0 AS (
        SELECT s.cluster, q.pos, q.qv AS c FROM {p}seeds s JOIN {p}q q USING (vec_id)
    )"""
    ]
    for i in range(1, LLOYD_ITERS + 1):
        parts.append(f""", {centroid_ranks_duck(f"{p}r{i}", f"{p}q", f"{p}c{i - 1}")}
    , {p}c{i} AS (
        SELECT r.cluster, q.pos, CAST(sum(q.qv) // count(*) AS BIGINT) AS c
        FROM {p}q q JOIN {p}r{i} r USING (vec_id) WHERE r.rn = 1 GROUP BY 1, 2
    )""")
    return "".join(parts)
