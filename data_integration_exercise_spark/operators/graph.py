"""Graph analytics over the order network (extension tier).

Three graphs, each built by one Spark helper and one SQL CTE that every
key on it reads:

- the CONTACT graph (``_pairs``/``_edges``, ``_CONTACT_CTE``): customers
  and suppliers are nodes, with an (undirected) edge whenever a
  customer's order contains a line shipped by a supplier — the bipartite
  trade network implied by orders ⋈ lineitem. Node ids are disjoint
  integers (customer c → 2c, supplier s → 2s+1), decoded back to
  ``(node_type, node_key)`` by ``_decode``/``_decode_sql``;
- the NATION co-trade graph (``_nation_flows``, ``_NATION_CTE``): an
  undirected, line-count-weighted edge between the nations of every
  cross-border customer/supplier pair;
- the directed TOP-3 trade graph (``_trade_top3_edges``, ``_TOP3_CTE``):
  each nation → its 3 largest supplier nations by revenue.

Determinism discipline: PageRank is computed in FIXED-POINT integer
arithmetic (rank scaled by 1e9, every division a floor-div) so each
iteration is exact in both engines — float PageRank would accumulate
summation-order noise and could never hash-match. The DuckDB oracle is
the same recurrence unrolled into one CTE per iteration.

Scale shape: each iteration is one edges⋈ranks equi-join + one groupBy —
the same bounded-shuffle loop dedup_connected_components runs; lineage is
cut per iteration with localCheckpoint. At 100 TB both sides pre-partition
on the node key once and every iteration reuses that partitioning.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import cents_sql
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()

#: fixed-point scale (rank mass of the whole graph = SCALE)
_SCALE = 1_000_000_000
_PR_ITERS = 5


# ---------------------------------------------------------------------------
# The contact graph
# ---------------------------------------------------------------------------


def _pairs(spark, sf_dir):
    """Distinct customer↔supplier contact pairs ``(cnode, snode)``."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )


def _edges(spark, sf_dir):
    """Distinct customer↔supplier contact edges, both directions.

    The two direction sets are disjoint by id parity, so the union needs
    no extra dedup shuffle."""
    pairs = _pairs(spark, sf_dir)
    fwd = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"))
    rev = pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    return fwd.unionByName(rev)


def _decode(node):
    """``node_type`` and ``node_key`` of the encoded node id column ``node``."""
    return [
        F.when(F.col(node) % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr(f"{node} div 2").alias("node_key"),
    ]


# The contact graph in SQL: pairs(cnode, snode), edges(src, dst) in both
# directions and deg(src, d). MATERIALIZED is load-bearing: DuckDB inlines
# plain CTEs at every reference, so an unrolled loop would re-run the
# orders⋈lineitem join once per reference.
_CONTACT_CTE = """pairs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS MATERIALIZED (
        SELECT cnode AS src, snode AS dst FROM pairs
        UNION ALL
        SELECT snode AS src, cnode AS dst FROM pairs
    ), deg AS MATERIALIZED (
        SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
    )"""


def _decode_sql(node: str) -> str:
    """The SQL twin of ``_decode``."""
    return (
        f"CASE WHEN {node} % 2 = 0 THEN 'customer' ELSE 'supplier' END"
        f" AS node_type, {node} // 2 AS node_key"
    )


# ---------------------------------------------------------------------------
# PageRank and personalized PageRank: one propagation loop
# ---------------------------------------------------------------------------


def _propagate(edges, deg, ranks, teleport):
    """``_PR_ITERS`` fixed-point rank rounds over the checkpointed contact
    edges: r'(v) = teleport(v) + (85·Σ floor(r_u / deg_u)) div 100 over
    v's in-neighbors u. ``ranks`` is the initial ``(node, r)`` frame and
    ``teleport`` a column over ``dst``, the receiving node.

    The degree-annotated edge list is hash-partitioned on ``src`` once
    before its own localCheckpoint, so every round's edges⋈ranks join
    reuses that partitioning and only the node-sized rank table moves. No
    per-round checkpoint — at a fixed 5 rounds the recurrence over the
    checkpointed inputs stays one flat Catalyst plan; a long or
    convergence-driven loop should instead cut lineage every K≈5 rounds
    like propagate_min_labels does."""
    edges_deg = edges.join(deg, "src").repartition("src").localCheckpoint(
        eager=False  # first iteration's join materializes it (round-14)
    )
    for _ in range(_PR_ITERS):
        contrib = edges_deg.join(
            ranks, edges_deg.src == ranks.node
        ).select("dst", F.expr("r div d").alias("c"))
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = summed.select(
            F.col("dst").alias("node"),
            (teleport + F.expr("(85 * s) div 100")).cast("long").alias("r"),
        )
    return ranks


def _rank_ctes(r0: str, teleport: str, scalars: str) -> str:
    """The SQL twin of ``_propagate``: CTEs ``r0``..``r{_PR_ITERS}(node, r)``
    over ``_CONTACT_CTE``. ``r0`` is the initial-rank query; ``teleport``
    is an expression over ``inflow.node`` and the one-row CTE
    ``scalars``."""
    parts = [f""", r0 AS (
        {r0}
    )"""]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f""", r{i} AS (
        SELECT inflow.node,
               {teleport} + (85 * inflow.s) // 100 AS r
        FROM (
            SELECT e.dst AS node, CAST(sum(r.r // dg.d) AS BIGINT) AS s
            FROM edges e
            JOIN r{i - 1} r ON r.node = e.src
            JOIN deg dg ON dg.src = e.src
            GROUP BY e.dst
        ) inflow, {scalars}
    )"""
        )
    return "".join(parts)


def _pagerank_oracle() -> str:
    ranks = _rank_ctes(
        r0=f"SELECT src AS node, {_SCALE} // nn.n AS r FROM deg, nn",
        teleport=f"(15 * ({_SCALE} // nn.n)) // 100",
        scalars="nn",
    )
    return f"""
    WITH {_CONTACT_CTE}, nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM deg
    ){ranks}
    SELECT {_decode_sql("node")}, CAST(r AS BIGINT) AS rank_fp
    FROM r{_PR_ITERS}"""


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """Five fixed-point PageRank iterations (damping 0.85) over the
    customer↔supplier trade network. Every node keeps an exact integer
    rank: r' = (15·(SCALE div n)) div 100 + (85·Σ floor(r_u / deg_u)) div
    100 over in-neighbors — floor-division at each step makes the result
    engine-exact, so the unrolled-CTE oracle hash-matches bit for bit.
    The undirected edge set guarantees every node has in-edges (no
    dangling-mass term needed).

    Iteration shape: the edge list is checkpointed FIRST, so the
    orders⋈lineitem derivation runs exactly once — before this cut, the
    un-materialized ``deg``/``nn`` subtree reappeared in the final plan
    once per iteration (6 full fact-join rescans per collect; the cut took
    sf0.1 from 27.5 s to 3.1 s at local[32], SURVEY §9). The node count
    is one scalar ``count()`` to the driver (the blessed
    measured-cardinality probe pattern, cf. pipeline.py
    plan_adaptive_threshold_join), folding the per-node teleport term into
    an exact integer literal. The rounds are ``_propagate``, shared with
    graph_ppr."""
    # lazy checkpoint: the deg.count() probe right below materializes it in
    # the same job (eager paid a separate materialization pass — round-14)
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # scalar probe: node count → exact integer literals below (no edges:
    # every frame below is empty, as in the oracle, whatever the literal)
    n = max(deg.count(), 1)
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(_SCALE // n).cast("long").alias("r")
    )
    ranks = _propagate(edges, deg, ranks, F.lit((15 * (_SCALE // n)) // 100))
    return ranks.select(*_decode("node"), F.col("r").alias("rank_fp"))


@register(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_CONTACT_CTE}
    SELECT node_type, d AS degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM (SELECT {_decode_sql("src")}, d FROM deg)
    GROUP BY node_type, d
    """,
)
def graph_degree_distribution(spark, sf_dir):
    """Degree histogram of the trade network per node class — the first
    diagnostic run on any new graph (skew in this histogram predicts
    which PageRank/label-propagation keys will hot-spot). Two shuffles:
    degree count, then histogram rollup."""
    deg = _edges(spark, sf_dir).groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg.select(*_decode("src"), F.col("d").alias("degree"))
        .groupBy("node_type", "degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# The nation co-trade graph
# ---------------------------------------------------------------------------


def _nation_flows(spark, sf_dir):
    """The nation co-trade graph ``(u, v, w)``: an edge u < v whenever a
    customer in one of the two nations buys from a supplier in the other,
    weighted by the number of such lines. One map-side-combined fact
    rollup to at most |nations|² rows."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _triangles(e):
    """Triangles ``(n1 < n2 < n3)`` of an oriented ``u < v`` edge list:
    wedge join on the shared middle vertex, closed by a third equi-join,
    so each triangle is emitted exactly once."""
    e1 = e.select(F.col("u").alias("n1"), F.col("v").alias("n2"))
    e2 = e.select(F.col("u").alias("m1"), F.col("v").alias("n3"))
    e3 = e.select(F.col("u").alias("k1"), F.col("v").alias("k2"))
    return (
        e1.join(e2, e1.n2 == e2.m1)
        .join(e3, (F.col("n1") == e3.k1) & (F.col("n3") == e3.k2))
        .select("n1", "n2", "n3")
    )


def _strong_wedges(spark, sf_dir):
    """The strong-trade nation graph and its wedges, as
    ``(strong(u, v), deg(a, dg), wedges(u, mid, mid2, v))``.

    The raw co-trade graph is complete, so edges are thresholded to the
    TOP QUARTILE by weight (row_number over (w DESC, u, v) ≤ ⌊|E|/4⌋ —
    exact integers, deterministic tiebreak). ``wedges`` holds every path
    u – mid – v with u < v over both edge directions."""
    flows = _nation_flows(spark, sf_dir)
    stats = flows.agg(F.count(F.lit(1)).alias("ecnt"))
    strong = (
        flows.crossJoin(F.broadcast(stats))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("w"), "u", "v")),
        )
        # greatest(1, ·): a projected graph with <4 edges must keep its top
        # edge, not silently go empty (ADVICE r6 item 3 — degenerate
        # analogue of the sf0.1 empty-set failure fixed in round 6)
        .filter(F.col("rk") <= F.greatest(F.lit(1), F.expr("ecnt div 4")))
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    d = strong.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        strong.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = d.groupBy("a").agg(F.count(F.lit(1)).alias("dg"))
    d1 = d.select(F.col("a").alias("u"), F.col("b").alias("mid"))
    d2 = d.select(F.col("a").alias("mid2"), F.col("b").alias("v"))
    wedges = d1.join(d2, (F.col("mid") == F.col("mid2")) & (F.col("u") < F.col("v")))
    return strong, deg, wedges


# The nation graph in SQL: flows(u, v, w), the twin of _nation_flows.
_NATION_CTE = """flows AS MATERIALIZED (
        SELECT least(c.c_nationkey, s.s_nationkey)    AS u,
               greatest(c.c_nationkey, s.s_nationkey) AS v,
               CAST(count(*) AS BIGINT)               AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    )"""

# tri(n1, n2, n3) over flows, the twin of _triangles
_TRIANGLES_CTE = """, tri AS (
        SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
        FROM flows e1
        JOIN flows e2 ON e1.v = e2.u
        JOIN flows e3 ON e3.u = e1.u AND e3.v = e2.v
    )"""

# strong(u, v), d(a, b), deg(a, dg) and wedge(u, v, mid) over flows, the
# twin of _strong_wedges
_STRONG_CTE = """, strong AS (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (ORDER BY w DESC, u, v) AS rk,
                   count(*) OVER () AS ecnt
            FROM flows)
        WHERE rk <= greatest(1, ecnt // 4)
    ), d AS (
        SELECT u AS a, v AS b FROM strong
        UNION ALL
        SELECT v, u FROM strong
    ), deg AS (
        SELECT a, CAST(count(*) AS BIGINT) AS dg FROM d GROUP BY a
    ), wedge AS (
        SELECT d1.a AS u, d2.b AS v, d1.b AS mid
        FROM d d1 JOIN d d2 ON d1.b = d2.a AND d1.a < d2.b
    )"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_NATION_CTE}{_TRIANGLES_CTE}
    SELECT n1, n2, n3 FROM tri
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Triangle enumeration on the nation co-trade graph (undirected edge
    when any customer in nation u buys from any supplier in nation v). The
    customer↔supplier contact graph itself is bipartite — triangle-free by
    construction — so the motif question only makes sense on this
    projected nation graph. Edges are oriented u < v, so each triangle is
    emitted exactly once as (n1 < n2 < n3).

    100 TB: the heavy part is the edge projection (big fact joins
    feeding a low-cardinality rollup); the motif join runs on the tiny
    projected edge list. The projection is localCheckpointed (the pagerank
    discipline — SURVEY §9 lesson 3): the edge list feeds all THREE legs of
    the triangle join, and without materialization each leg re-runs the
    full fact-join subtree (observed: 3× the scan work in the physical
    plan). For large graphs the same plan holds with degree-based
    orientation (orient edges low-degree → high-degree) which bounds the
    wedge fan-out — id order stands in for degree order here."""
    e = _nation_flows(spark, sf_dir).select("u", "v").localCheckpoint(eager=True)
    return _triangles(e)


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH {_NATION_CTE}{_STRONG_CTE}, cn AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS cn FROM wedge GROUP BY u, v
    ), nonadj AS (
        SELECT cn.u, cn.v, cn.cn FROM cn
        WHERE NOT EXISTS (
            SELECT 1 FROM strong e WHERE e.u = cn.u AND e.v = cn.v)
    )
    SELECT CAST(nonadj.u AS BIGINT) AS u,
           CAST(nonadj.v AS BIGINT) AS v,
           nonadj.cn                AS common_neighbors,
           round(CAST(nonadj.cn AS DOUBLE)
                 / (CAST(du.dg AS DOUBLE) + CAST(dv.dg AS DOUBLE)
                    - CAST(nonadj.cn AS DOUBLE)), 4) AS jaccard
    FROM nonadj
    JOIN deg du ON nonadj.u = du.a
    JOIN deg dv ON nonadj.v = dv.a
    """,
)
def graph_link_prediction(spark, sf_dir):
    """Common-neighbor / Jaccard link prediction on the strong-trade nation
    graph: which nation pairs do NOT trade heavily today but share many
    strong trading partners — the classic who-should-connect-next score
    (Liben-Nowell–Kleinberg), and the graph-side analogue of
    similarity-join candidate generation. Strong edges are the top
    quartile by weight (``_strong_wedges``). A rank cut keeps the
    strong-edge FRACTION stable at every scale factor; the previous
    ≥1.25×-mean relative cut was measured to empty out at sf0.1, where the
    300 pair weights concentrate (law of large numbers) until nothing
    clears 1.25× mean — relative-to-mean is no more scale-stable than an
    absolute count.

    Exactness: weights, degrees, and common-neighbor counts are integers;
    the single float surface is the final Jaccard division, rounded 4dp.

    100 TB: the fact joins reduce to a ≤|nations|² weighted edge list
    map-side; the wedge join, threshold scan, and NOT-EXISTS anti-join all
    run on that tiny projection (the pagerank/triangle discipline). For
    billion-node graphs the identical plan holds with degree-ordered
    orientation bounding wedge fan-out."""
    strong, deg, wedges = _strong_wedges(spark, sf_dir)
    cn = wedges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("cn"))
    nonadj = cn.join(strong, ["u", "v"], "left_anti")
    du = deg.select(F.col("a").alias("u"), F.col("dg").alias("du"))
    dv = deg.select(F.col("a").alias("v"), F.col("dg").alias("dv"))
    jac = F.col("cn").cast("double") / (
        F.col("du").cast("double")
        + F.col("dv").cast("double")
        - F.col("cn").cast("double")
    )
    return (
        nonadj.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.col("u").cast("long").alias("u"),
            F.col("v").cast("long").alias("v"),
            F.col("cn").alias("common_neighbors"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


_BFS_MAX_DEPTH = 8
_BFS_SEEDS = 5


def _bfs_oracle() -> str:
    parts = [
        f"""
    WITH {_CONTACT_CTE}, seeds AS (
        SELECT src AS node FROM (
            SELECT src, row_number() OVER (ORDER BY d DESC, src) AS rn FROM deg
        ) WHERE rn <= {_BFS_SEEDS}
    ), d0 AS MATERIALIZED (SELECT node, 0 AS dist FROM seeds),
    v0 AS MATERIALIZED (SELECT node FROM d0)"""
    ]
    for k in range(1, _BFS_MAX_DEPTH + 1):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and the
        # v-chain references each prior level twice, so inlining would
        # duplicate the edge join 2^depth times (measured: the un-hinted
        # 8-level unroll never finishes).
        parts.append(f""",
    d{k} AS MATERIALIZED (
        SELECT DISTINCT e.dst AS node, {k} AS dist
        FROM edges e JOIN d{k - 1} p ON e.src = p.node
        WHERE e.dst NOT IN (SELECT node FROM v{k - 1})
    ),
    v{k} AS MATERIALIZED (
        SELECT node FROM v{k - 1} UNION SELECT node FROM d{k})""")
    union = "\n        UNION ALL\n".join(
        f"        SELECT node, dist FROM d{k}" for k in range(_BFS_MAX_DEPTH + 1)
    )
    parts.append(f"""
    SELECT {_decode_sql("node")}, CAST(dist AS BIGINT) AS dist
    FROM ({union})""")
    return "".join(parts)


@register("graph_bfs_distances", oracle=_bfs_oracle())
def graph_bfs_distances(spark, sf_dir):
    """Multi-source BFS: hop distance of every reachable node from the 5
    highest-degree suppliers/customers (ties to lowest id) — the
    blast-radius / influence-distance query. Spark runs the frontier
    loop: each round joins the frontier against the edge list, distincts
    the next ring, and anti-joins everything already visited; the
    frontier and visited sets localCheckpoint per round so no round
    re-executes prior lineage (the graph_pagerank lesson). The loop stops
    when the frontier empties and RAISES if depth exceeds the oracle's
    unrolled 8 levels — the answer can therefore never silently diverge
    from the static-CTE oracle. Unreached components are absent from the
    output on both sides by construction.

    100 TB: per round one edges⋈frontier equi-join (both sides
    partitioned on the node key) + distinct + anti-join — the standard
    bounded-shuffle BFS; total work is O(edges within the reached
    ball)."""
    edges = _edges(spark, sf_dir).localCheckpoint()
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    w = Window.orderBy(F.desc("d"), F.asc("src"))
    seeds = (
        deg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BFS_SEEDS)
        .select(F.col("src").alias("node"))
    )
    frontier = seeds.withColumn("dist", F.lit(0)).localCheckpoint()
    visited = frontier.select("node").localCheckpoint()
    out = [frontier]
    depth = 0
    while True:
        nxt = (
            edges.join(
                frontier.select(F.col("node").alias("fnode")),
                F.col("src") == F.col("fnode"),
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        depth += 1
        # lazy checkpoint + count(): ONE job both materializes the round's
        # frontier and answers the emptiness probe (eager + isEmpty was two
        # blocking jobs per round — round-14; ~4 jobs/round → 2)
        frontier = nxt.withColumn("dist", F.lit(depth)).localCheckpoint(eager=False)
        if frontier.count() == 0:
            break
        if depth > _BFS_MAX_DEPTH:
            raise RuntimeError(
                f"BFS exceeded {_BFS_MAX_DEPTH} levels; widen the oracle unroll"
            )
        out.append(frontier)
        visited = visited.unionByName(frontier.select("node")).localCheckpoint(
            eager=False
        )
    alld = out[0]
    for f_ in out[1:]:
        alld = alld.unionByName(f_)
    return alld.select(*_decode("node"), F.col("dist").cast("long").alias("dist"))


_LPA_ITERS = 4


def _lpa_ctes() -> str:
    """CTEs ``l0``..``l{_LPA_ITERS}(node, label)`` over ``_CONTACT_CTE``:
    the SQL twin of ``_lpa_from_edges``."""
    parts = [
        """, l0 AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
    )"""
    ]
    for i in range(1, _LPA_ITERS + 1):
        parts.append(
            f""", l{i} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT e.dst AS node, r.label,
                   row_number() OVER (PARTITION BY e.dst
                                      ORDER BY count(*) DESC, r.label) AS rn
            FROM edges e JOIN l{i - 1} r ON r.node = e.src
            GROUP BY e.dst, r.label)
        WHERE rn = 1
    )"""
        )
    return "".join(parts)


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH {_CONTACT_CTE}{_lpa_ctes()}
    SELECT {_decode_sql("node")}, CAST(label AS BIGINT) AS community
    FROM l{_LPA_ITERS}
    """,
)
def graph_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation over the trade
    network: every node starts as its own label; each of the 4 FIXED
    rounds re-labels every node with its neighbors' most frequent label,
    ties to the smallest label id — a fully deterministic rule (classic
    LPA breaks ties randomly and is therefore unverifiable; smallest-label
    is the standard derandomization), so the unrolled-CTE oracle matches
    exactly. Fixed rounds rather than convergence: synchronous LPA can
    oscillate on bipartite graphs (this one IS bipartite), so a
    convergence loop could livelock — the fixed-round form is the honest
    contract, and the round count is pinned in both engines.

    100 TB: each round is one edges⋈labels equi-join + a (dst, label)
    rollup + a dst-keyed window — all partitioned on the node key, the
    same bounded-shuffle iteration PageRank/BFS/CC run; the edge list is
    checkpointed once up front and each round's label table localCheckpoints
    so no round re-executes prior lineage. The oracle's per-level CTEs are
    MATERIALIZED (SURVEY §10 lesson 7: plain CTE inlining is exponential
    in depth)."""
    edges = _edges(spark, sf_dir).localCheckpoint()
    return _lpa_from_edges(edges).select(
        *_decode("node"), F.col("label").cast("long").alias("community")
    )


def _lpa_from_edges(edges):
    """The 4 fixed LPA rounds over an already-checkpointed edge frame:
    ``(node, label)``.

    Split out so graph_modularity can share ONE edge materialization with
    the propagation it grades (it previously re-ran the orders⋈lineitem
    distinct a second time for its own pairs/degree frames — ~1.5 s of
    duplicated shuffle at sf0.1, and a duplicated scan at any scale)."""
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ITERS):
        counted = (
            edges.join(
                labels.withColumnsRenamed({"node": "src_node"}),
                F.col("src") == F.col("src_node"),
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (c DESC, label ASC) as min(struct(-c, label)) — a hash
        # aggregate with map-side partials instead of the former
        # row_number window (exchange + full sort per round); the struct
        # order is total because label is unique per (node, label) row, so
        # the winner is identical (round-14 optimization). Lazy checkpoint:
        # the next round's join materializes it — same lineage cut, one
        # fewer blocking job per round.
        labels = (
            counted.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "label")).alias("b"))
            .select("node", F.col("b.label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


_KCORE_K = 3
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    parts = [
        f"""
    WITH {_CONTACT_CTE}, e0 AS (SELECT src, dst FROM edges)"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""", k{i} AS MATERIALIZED (
        SELECT src FROM e{i - 1} GROUP BY src HAVING count(*) >= {_KCORE_K}
    ), e{i} AS MATERIALIZED (
        SELECT e.src, e.dst FROM e{i - 1} e
        JOIN k{i} a ON e.src = a.src
        JOIN k{i} b ON e.dst = b.src
    )"""
        )
    parts.append(
        f"""
    SELECT {_decode_sql("src")}, CAST(count(*) AS BIGINT) AS core_degree
    FROM e{_KCORE_ROUNDS} GROUP BY src"""
    )
    return "".join(parts)


@register("graph_k_core", oracle=_kcore_oracle())
def graph_k_core(spark, sf_dir):
    """3-core decomposition of the trade network by iterative peeling:
    repeatedly drop nodes with degree < 3 and the edges touching them
    until the survivor set is stable — the standard cohesive-subgraph /
    spam-cluster primitive. Both engines run EXACTLY 6 peeling rounds
    (peeling is idempotent at the fixed point, so extra rounds are
    no-ops and the unrolled oracle stays exact); Spark additionally
    CHECKS convergence after round 6 and raises if another round would
    still remove nodes — the answer can never silently be a non-core.
    Emitted: every surviving node with its within-core degree.

    100 TB: each round is one degree rollup + two semi-join filters, all
    partitioned on the node key (the CC/BFS/LPA bounded-shuffle loop);
    the edge list shrinks monotonically so later rounds are cheaper.
    localCheckpoint per round cuts the 6-deep lineage."""
    edges = _edges(spark, sf_dir).localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        keep = (
            edges.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("src")
        )
        edges = (
            edges.join(keep, "src")
            .join(keep.withColumnsRenamed({"src": "dst"}), "dst")
            .select("src", "dst")
            .localCheckpoint()
        )
    # convergence check: one more peel must remove nothing
    still = (
        edges.groupBy("src")
        .agg(F.count("*").alias("d"))
        .filter(F.col("d") < _KCORE_K)
        .count()
    )
    if still:
        raise RuntimeError(
            f"k-core not converged after {_KCORE_ROUNDS} rounds; widen the unroll"
        )
    return (
        edges.groupBy("src")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .select(*_decode("src"), "core_degree")
    )


@register(
    "graph_assortativity",
    oracle=f"""
    WITH {_CONTACT_CTE}, ed AS (
        SELECT CAST(ds.d AS HUGEINT) AS x, CAST(dd.d AS HUGEINT) AS y
        FROM edges e
        JOIN deg ds ON e.src = ds.src
        JOIN deg dd ON e.dst = dd.src
    ), m AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        FROM ed
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           CAST(floor(1e6 *
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
               AS BIGINT) AS assortativity_micro
    FROM m
    """,
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the trade network: the Pearson correlation
    of (source degree, destination degree) over all directed edges —
    negative for hub-and-spoke graphs (high-degree suppliers connect to
    low-degree customers), positive for social-style graphs; THE
    one-number structure diagnostic after the degree histogram. Moments
    accumulate as exact HUGEINT/decimal integers; the correlation itself
    is one pinned IEEE tree floored to micro units (lesson 8).

    100 TB: degree table joined twice onto the edge list (both joins on
    the node key), then a single moment fold — the same bounded-shuffle
    budget as one PageRank iteration."""
    edges = _edges(spark, sf_dir).localCheckpoint()
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    dec = "decimal(38,0)"
    ed = (
        edges.join(deg.withColumnsRenamed({"src": "src", "d": "dx"}), "src")
        .join(
            deg.withColumnsRenamed({"src": "dst", "d": "dy"}),
            "dst",
        )
        .select(F.col("dx").cast(dec).alias("x"), F.col("dy").cast(dec).alias("y"))
    )
    m = ed.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.floor(
            F.lit(1e6)
            * (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.sqrt(
                    F.col("n").cast("double") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                * F.sqrt(
                    F.col("n").cast("double") * F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy").cast("double")
                )
            )
        )
        .cast("long")
        .alias("assortativity_micro"),
    )


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH {_NATION_CTE}{_STRONG_CTE}, scored AS (
        SELECT w.u, w.v,
               CAST(count(*) AS BIGINT) AS common_neighbors,
               CAST(sum(1000000000000 //
                        CAST(floor(1e6 * log2(CAST(dz.dg AS DOUBLE)) + 1e-6)
                             AS BIGINT)) AS BIGINT) AS aa_score_micro
        FROM wedge w JOIN deg dz ON w.mid = dz.a
        GROUP BY w.u, w.v
    )
    SELECT CAST(s.u AS BIGINT) AS u, CAST(s.v AS BIGINT) AS v,
           s.common_neighbors, s.aa_score_micro
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM strong e WHERE e.u = s.u AND e.v = s.v)
    """,
)
def graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction on the strong-trade nation graph — the
    degree-weighted refinement of graph_link_prediction's common-neighbor
    count: each shared partner z contributes 1/log₂(deg z), so a RARE
    shared partner (low degree) predicts a future edge far more strongly
    than a hub everyone trades with. The per-neighbor term is the exact
    integer 10¹² div floor(10⁶·log₂(deg) + 1e-6) (one guarded
    transcendental of a small exact integer — the §10 discipline; deg ≥ 2
    always, since a common neighbor touches both endpoints), and the pair
    score is an exact integer sum of those terms, so ranking is engine-
    identical with no float accumulation.

    100 TB: identical shape to the sibling op — fact joins collapse
    map-side to the ≤|nations|² edge list; the wedge join carries the mid
    node so its degree joins BEFORE the pair rollup (one extra broadcast
    join versus the CN count, same shuffle structure)."""
    strong, deg, wedges = _strong_wedges(spark, sf_dir)
    dz = deg.select(F.col("a").alias("mid"), F.col("dg").alias("dg_mid"))
    term = F.expr(
        """1000000000000 div
           CAST(floor(1e6 * log2(CAST(dg_mid AS DOUBLE)) + 1e-6) AS BIGINT)"""
    )
    scored = (
        wedges.join(F.broadcast(dz), "mid")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(term).cast("long").alias("aa_score_micro"),
        )
    )
    return scored.join(strong, ["u", "v"], "left_anti").select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        "common_neighbors",
        "aa_score_micro",
    )


@register(
    "graph_modularity",
    oracle=f"""
    WITH {_CONTACT_CTE}{_lpa_ctes()}, m AS (
        SELECT CAST(count(*) AS HUGEINT) AS m FROM pairs
    ), intra AS (
        SELECT nc.label AS community, CAST(count(*) AS BIGINT) AS e_c
        FROM pairs p
        JOIN l{_LPA_ITERS} nc ON p.cnode = nc.node
        JOIN l{_LPA_ITERS} ns ON p.snode = ns.node
        WHERE nc.label = ns.label
        GROUP BY nc.label
    ), dsum AS (
        SELECT n.label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(CAST(deg.d AS HUGEINT)) AS HUGEINT) AS d_c
        FROM l{_LPA_ITERS} n JOIN deg ON n.node = deg.src
        GROUP BY n.label
    )
    SELECT CAST(d.community AS BIGINT) AS community, d.n_nodes,
           CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra_edges,
           CAST(d.d_c AS BIGINT) AS degree_sum,
           CAST(1000000 * (4 * m.m * coalesce(i.e_c, 0) - d.d_c * d.d_c)
                // (4 * m.m * m.m) AS BIGINT) AS contrib_micro
    FROM dsum d LEFT JOIN intra i ON d.community = i.community
    CROSS JOIN m
    """,
)
def graph_modularity(spark, sf_dir):
    """Newman modularity of the label-propagation communities — the eval
    that says whether LPA found structure or noise: per community c,
    contribution e_c/m − (d_c/2m)², carried as the exact integer
    (4m·e_c − d_c²) div 4m² in micro units (one signed truncating
    division per community; Q = Σ contrib). Composes ON the registered
    graph_label_propagation plan, so the score always grades the shipped
    communities — and on THIS graph it exposes a textbook failure:
    synchronous LPA on a bipartite graph oscillates into the 2-coloring
    (all customers one label, all suppliers the other), every edge
    crosses, and Q lands at exactly −0.5 — the eval catching a real
    algorithmic artifact is the point of having it.

    100 TB: ONE edge materialization serves both the propagation and the
    grade — the orders⋈lineitem distinct edge list localCheckpoints once
    and feeds the 4 LPA rounds (_lpa_from_edges — the identical plan the
    registered graph_label_propagation runs), the undirected pair list
    (the even-src half of the bidirectional frame: a narrow filter, no
    second shuffle), and the per-node degree rollup (groupBy src on the
    bidirectional frame — each node's out-edges ARE its degree). The LPA
    labels frame then localCheckpoints once for its three consumers, and
    intra-edge count, degree sums, and node counts are three keyed
    rollups on the bounded edge/node lists. (Round 10: previously this
    re-ran the edge join+distinct a second time for pairs/deg — ~1.5 s
    of duplicated shuffle at sf0.1 and a duplicated fact scan at any
    scale.)"""
    edges = _edges(spark, sf_dir).localCheckpoint()
    nodes = (
        _lpa_from_edges(edges)
        .withColumnsRenamed({"label": "community"})
        .localCheckpoint()
    )
    # fwd half of the bidirectional distinct frame = the undirected pairs
    pairs = edges.filter(F.col("src") % 2 == 0).select(
        F.col("src").alias("cnode"), F.col("dst").alias("snode")
    )
    m = pairs.agg(F.count("*").cast("decimal(38,0)").alias("m"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    nc = nodes.withColumnsRenamed({"node": "cnode", "community": "comm_c"})
    ns = nodes.withColumnsRenamed({"node": "snode", "community": "comm_s"})
    intra = (
        pairs.join(nc, "cnode")
        .join(ns, "snode")
        .filter(F.col("comm_c") == F.col("comm_s"))
        .groupBy(F.col("comm_c").alias("community"))
        .agg(F.count("*").cast("long").alias("e_c"))
    )
    dsum = (
        nodes.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(F.col("d").cast("decimal(38,0)")).alias("d_c"),
        )
    )
    return (
        dsum.join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("community").cast("long").alias("community"),
            "n_nodes",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("long").alias("intra_edges"),
            F.col("d_c").cast("long").alias("degree_sum"),
            F.expr(
                """CAST(1000000 * (4 * m * coalesce(e_c, 0) - d_c * d_c)
                        div (4 * m * m) AS BIGINT)"""
            ).alias("contrib_micro"),
        )
    )


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_NATION_CTE}{_TRIANGLES_CTE}, deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT u AS node FROM flows UNION ALL SELECT v FROM flows)
        GROUP BY node
    ), tri_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT n1 AS node FROM tri
            UNION ALL SELECT n2 FROM tri
            UNION ALL SELECT n3 FROM tri)
        GROUP BY node
    ), gstat AS (
        SELECT CAST(3 * (SELECT count(*) FROM tri) AS BIGINT) AS closed,
               CAST(sum(degree * (degree - 1) / 2) AS BIGINT) AS wedges
        FROM deg
    )
    SELECT deg.node AS nationkey, deg.degree,
           coalesce(tri_node.n_triangles, 0) AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN (2000 * coalesce(tri_node.n_triangles, 0))
                     // (deg.degree * (deg.degree - 1))
                ELSE 0 END AS local_cc_permille,
           (1000 * gstat.closed) // gstat.wedges AS global_transitivity_permille
    FROM deg LEFT JOIN tri_node ON tri_node.node = deg.node CROSS JOIN gstat
    """,
)
def graph_clustering_coefficient(spark, sf_dir):
    """Clustering coefficients on the projected nation co-trade graph
    (graph_triangle_count's edge set): per node, local CC =
    2·tri(v) / (deg(v)·(deg(v)−1)) — how close the neighborhood is to a
    clique — and the graph-level transitivity 3·|triangles| / |wedges|,
    both as exact integer permille (floor division), so the structure
    numbers are hash-verified rather than floats. Triangle credit per
    node comes from exploding each (n1,n2,n3) motif row to its three
    corners; degree-0/1 nodes report 0 by the deg ≥ 2 guard.

    100 TB: identical cost profile to graph_triangle_count — the fact-join
    edge projection dominates and is localCheckpointed once; degrees,
    motifs, and both coefficient levels run on the tiny projected graph.
    The global number rides every row via a 1-row broadcast, the same
    scalar-join idiom as percent-of-total."""
    e = _nation_flows(spark, sf_dir).select("u", "v").localCheckpoint(eager=True)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = _triangles(e).localCheckpoint(eager=True)
    tri_node = (
        tri.select(F.explode(F.array("n1", "n2", "n3")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    glob = deg.agg(
        F.sum(F.expr("degree * (degree - 1) div 2")).cast("long").alias("wedges")
    ).crossJoin(
        F.broadcast(tri.agg((3 * F.count(F.lit(1))).cast("long").alias("closed")))
    )
    return (
        deg.join(tri_node, "node", "left")
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("node").alias("nationkey"),
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2000 * coalesce(n_triangles, 0)) div (degree * (degree - 1))"
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("local_cc_permille"),
            F.expr("(1000 * closed) div wedges")
            .cast("long")
            .alias("global_transitivity_permille"),
        )
    )


# graph_neighborhood_function composes the BFS product: ring sizes ->
# neighborhood function -> effective diameter, so its oracle wraps the
# bfs oracle as a subquery (DuckDB allows a WITH inside FROM (...)).
_NEIGHBORHOOD_ORACLE = """
    WITH rings AS MATERIALIZED (
        SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
        FROM ({bfs}) b GROUP BY dist
    ), t AS (
        SELECT CAST(sum(n_nodes) AS BIGINT) AS total,
               CAST(min(CASE WHEN cum * 10 >= 9 * total THEN dist END)
                   AS BIGINT) AS d90
        FROM (
            SELECT dist, n_nodes,
                   sum(n_nodes) OVER (ORDER BY dist
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(n_nodes) OVER () AS total
            FROM rings
        )
    )
    SELECT r.dist,
           r.n_nodes,
           CAST(sum(r2.n_nodes) AS BIGINT) AS cum_nodes,
           1000 * CAST(sum(r2.n_nodes) AS BIGINT) // t.total
               AS coverage_permille,
           t.d90 AS eff_diameter_d90
    FROM rings r
    JOIN rings r2 ON r2.dist <= r.dist
    CROSS JOIN t
    GROUP BY r.dist, r.n_nodes, t.total, t.d90
"""


@register(
    "graph_neighborhood_function",
    oracle=_NEIGHBORHOOD_ORACLE.format(bfs=ORACLES["graph_bfs_distances"]),
)
def graph_neighborhood_function(spark, sf_dir):
    """Neighborhood function of the contact graph from the BFS seeds: how
    many nodes sit at each hop distance, the cumulative reach and its
    permille coverage, and the effective diameter d90 (first hop count
    covering >= 90% of everything reachable) -- the ANF/HyperANF readout
    that answers "how many hops until a message from the hubs reaches
    almost everyone". Composes graph_bfs_distances (the loop runs once;
    its per-round frontiers are already localCheckpoint-backed) and adds
    only integer ring rollups: the cumulative sum is a broadcast
    theta-self-join over the <= max-depth-row ring table, never a global
    window, and coverage is truncating permille.

    100 TB: all post-BFS work is on a |depth|-row table (bounded by the
    oracle's unrolled 8 levels); the BFS itself is the documented
    bounded-shuffle frontier loop."""
    dist = graph_bfs_distances(spark, sf_dir)
    rings = (
        dist.groupBy("dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .localCheckpoint(eager=False)  # consumers: cum join (x2) + totals
    )
    r2 = rings.select(
        F.col("dist").alias("dist2"), F.col("n_nodes").alias("n2")
    )
    cum = (
        rings.join(F.broadcast(r2), F.col("dist2") <= F.col("dist"))
        .groupBy("dist", "n_nodes")
        .agg(F.sum("n2").cast("long").alias("cum_nodes"))
    )
    tot = rings.agg(F.sum("n_nodes").cast("long").alias("total"))
    d90 = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(
                    F.col("cum_nodes") * 10 >= 9 * F.col("total"), F.col("dist")
                )
            ).cast("long").alias("d90")
        )
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(d90))
        .select(
            "dist",
            "n_nodes",
            "cum_nodes",
            F.expr("1000 * cum_nodes DIV total").alias("coverage_permille"),
            F.col("d90").alias("eff_diameter_d90"),
        )
    )


# ---------------------------------------------------------------------------
# The directed top-3 trade graph
# ---------------------------------------------------------------------------


def _trade_top3_edges(spark, sf_dir):
    """Directed top-3-trading-partner nation edges (shared by
    graph_trade_reciprocity and graph_scc_condensation): nation A -> B iff
    B is among A's 3 largest supplier nations by exact cross-border
    integer-cents revenue, row_number total order (cents DESC, dst ASC) so
    ties can't flap between engines. One map-side-combined fact rollup to
    <=625 (src,dst) rows, then a dimension-sized ranking window."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    flow = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(
            F.expr(
                f"CAST(sum({cents_sql('l_extendedprice')}) AS BIGINT)"
            ).alias("cents")
        )
    )
    rk = Window.partitionBy("src").orderBy(F.col("cents").desc(), F.col("dst").asc())
    return (
        flow.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 3)
        .select("src", "dst")
    )


# The top-3 graph in SQL: edges(src, dst), the twin of _trade_top3_edges.
# MATERIALIZED: inlined at both sides of reciprocity's self-join, the fact
# rollup under it took 25 s at sf0.1 in DuckDB, 0.15 s materialized.
_TOP3_CTE = f"""flow AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(sum({cents_sql('l.l_extendedprice')})
                    AS BIGINT) AS cents
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cents DESC, dst ASC) AS rk
        FROM flow
    ), edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rk <= 3)"""


@register(
    "graph_trade_reciprocity",
    oracle=f"""
    WITH {_TOP3_CTE}
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS out_deg,
           CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS mutual,
           round(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS reciprocity
    FROM edges e
    LEFT JOIN edges r ON e.src = r.dst AND e.dst = r.src
    JOIN nation n ON e.src = n.n_nationkey
    GROUP BY 1
    """,
)
def graph_trade_reciprocity(spark, sf_dir):
    """Directed-graph reciprocity on the top-3-trading-partner graph:
    nation A → nation B iff B is one of A's 3 largest supplier nations by
    cross-border revenue. Reciprocity per nation = fraction of its top-3
    partners that rank A in THEIR top-3 — the classic directed-network
    mutuality measure (the full nation⋈nation flow graph is dense at
    every scale factor — all 25×24 pairs trade, measured — so raw edge
    reciprocity is degenerately 1.0; top-k thresholding is what makes the
    direction informative).

    Exactness: flows are exact integer cents; the top-3 cut is a
    row_number with a (cents DESC, dst ASC) total order, so ties can't
    flap between engines; reciprocity is the single rounded division.

    100 TB: the only fact-scale work is one groupBy (src,dst) rollup —
    map-side combined, ≤625 output rows regardless of input size; the
    ranking window, the self-join on the 75-edge set, and the broadcast
    nation lookup all run on dimension-sized data."""
    n = load_table(spark, sf_dir, "nation")
    # both the forward and reversed side consume the edge set — checkpoint
    # so the fact-scale rollup underneath runs ONCE, not per consumer
    edges = _trade_top3_edges(spark, sf_dir).localCheckpoint(eager=False)
    rev = edges.select(F.col("src").alias("r_src"), F.col("dst").alias("r_dst"))
    return (
        edges.join(
            rev,
            (F.col("src") == F.col("r_dst")) & (F.col("dst") == F.col("r_src")),
            "left",
        )
        .join(F.broadcast(n), F.col("src") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("out_deg"),
            F.sum(F.when(F.col("r_src").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("mutual"),
            F.round(
                F.sum(F.when(F.col("r_src").isNotNull(), 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("reciprocity"),
        )
    )


@register(
    "graph_scc_condensation",
    oracle=f"""
    WITH {_TOP3_CTE},
    closure AS (
        WITH RECURSIVE reach(a, b) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        ) SELECT * FROM reach
    ), mutual AS (
        SELECT c1.a AS u, c1.b AS v
        FROM closure c1 JOIN closure c2 ON c1.a = c2.b AND c1.b = c2.a
        UNION SELECT n_nationkey, n_nationkey FROM nation
    ), scc AS (
        SELECT u, CAST(min(v) AS BIGINT) AS scc_id FROM mutual GROUP BY u
    )
    SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size,
           CAST(min(u) AS BIGINT) AS min_member,
           CAST(max(u) AS BIGINT) AS max_member
    FROM scc GROUP BY 1
    """,
)
def graph_scc_condensation(spark, sf_dir):
    """Strongly connected components of the directed top-3-trading-partner
    graph (graph_trade_reciprocity's edge set): u and v share an SCC iff
    each reaches the other along directed top-partner edges; component id
    is the minimum member key. Emits the condensation summary — one row
    per SCC with size and member range. Where reciprocity scores 1-hop
    mutuality, SCC finds the full mutually-reachable trading blocs (the
    sf0.01 graph has one 6-nation bloc + 19 singleton nations — directed
    structure the undirected dedup_connected_components machinery can't
    see, since weak connectivity would merge everything).

    Transitive closure by iterated relational join to a fixed point —
    log-diameter doublings (closure ∘ closure), each a distinct'd
    equi-join, localCheckpoint-pinned per round (the
    dedup_connected_components delta-frontier discipline). Mutual pairs =
    closure ∩ transpose(closure); scc_id = min over the mutual set ∪
    self.

    100 TB: the only fact-scale work is the one (src,dst) rollup the edge
    set derives from (≤625 rows out regardless of input); closure
    iterations run on ≤|V|² = 625 rows with ⌈log₂ diameter⌉ = 5 rounds
    for 25 nodes. For million-node graphs the same loop holds at
    O(closure) memory — the documented trade-off vs label-propagation
    SCC (FW-BW) which this bounded condensation doesn't need."""
    edges = _trade_top3_edges(spark, sf_dir).localCheckpoint(eager=True)
    closure = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    for _ in range(5):  # paths up to 2^5 = 32 ≥ graph diameter bound (24)
        hop = (
            closure.alias("l")
            .join(
                closure.alias("r"), F.col("l.b") == F.col("r.a")
            )
            .select(F.col("l.a").alias("a"), F.col("r.b").alias("b"))
        )
        closure = closure.unionByName(hop).distinct().localCheckpoint(eager=True)
    rev = closure.select(F.col("a").alias("ra"), F.col("b").alias("rb"))
    mutual = (
        closure.join(
            rev, (F.col("a") == F.col("rb")) & (F.col("b") == F.col("ra"))
        )
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
    )
    n = load_table(spark, sf_dir, "nation")
    selfp = n.select(
        F.col("n_nationkey").alias("u"), F.col("n_nationkey").alias("v")
    )
    scc = (
        mutual.unionByName(selfp)
        .groupBy("u")
        .agg(F.min("v").cast("long").alias("scc_id"))
    )
    return scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("long").alias("scc_size"),
        F.min("u").cast("long").alias("min_member"),
        F.max("u").cast("long").alias("max_member"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (round 10)
# ---------------------------------------------------------------------------

_HITS_ITERS = 3


def _hits_oracle() -> str:
    parts = [
        f"""
    WITH {_CONTACT_CTE}, cs AS (
        SELECT cnode // 2 AS c, snode // 2 AS s FROM pairs
    ), nc AS (
        SELECT CAST(count(DISTINCT c) AS BIGINT) AS n FROM cs
    ), h0 AS (
        SELECT DISTINCT c, {_SCALE} // nc.n AS h FROM cs, nc
    )"""
    ]
    for i in range(1, _HITS_ITERS + 1):
        # each raw half-step sum feeds its normalizer and the next join;
        # inlined, DuckDB re-ran it at every reference (5.5 s at sf0.1,
        # 0.45 s MATERIALIZED)
        parts.append(
            f""", a{i}r AS MATERIALIZED (
        SELECT e.s, CAST(sum(h.h) AS BIGINT) AS ar
        FROM cs e JOIN h{i - 1} h ON h.c = e.c GROUP BY e.s
    ), a{i}t AS (
        SELECT CAST(sum(ar) AS BIGINT) AS t FROM a{i}r
    ), a{i} AS (
        SELECT s, ({_SCALE} * ar) // a{i}t.t AS a FROM a{i}r, a{i}t
    ), h{i}r AS MATERIALIZED (
        SELECT e.c, CAST(sum(a.a) AS BIGINT) AS hr
        FROM cs e JOIN a{i} a ON a.s = e.s GROUP BY e.c
    ), h{i}t AS (
        SELECT CAST(sum(hr) AS BIGINT) AS t FROM h{i}r
    ), h{i} AS (
        SELECT c, ({_SCALE} * hr) // h{i}t.t AS h FROM h{i}r, h{i}t
    )"""
        )
    parts.append(
        f"""
    SELECT 'customer' AS node_type, c AS node_key, CAST(h AS BIGINT) AS score_fp
    FROM h{_HITS_ITERS}
    UNION ALL
    SELECT 'supplier', s, CAST(a AS BIGINT) FROM a{_HITS_ITERS}"""
    )
    return "".join(parts)


@register("graph_hits", oracle=_hits_oracle())
def graph_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999, JACM 46(5)) on the
    DIRECTED customer→supplier purchase graph: customers score as HUBS
    (they point at many good authorities), suppliers as AUTHORITIES
    (pointed at by many good hubs) — the directed complement to
    graph_pagerank's undirected rank, and the classic two-sided
    importance measure for bipartite commerce graphs.

    Iterative contract (the graph_pagerank/sim_kmeans_lloyd template):
    FIXED 3 unrolled mutual-recursion rounds (a = Eᵀh then h = E a), no
    data-dependent stopping, so the plan is hash-stable and the oracle
    unrolls the identical rounds as CTEs. Exact integer fixed-point
    throughout: init h = SCALE div |customers|; each half-step L1-
    normalizes by floor-dividing against the global sum, which keeps
    every score ≤ SCALE (1e9) and every SCALE·x product ≤ 1e18 — inside
    BIGINT headroom at ANY scale factor (the usual L2 normalization is
    irrational and engine-divergent; L1 floor-division is bit-exact on
    both engines).

    100 TB: the edge derivation (the only fact-table work) runs once and
    is localCheckpointed; the distinct-customer count is one scalar probe
    (the blessed measured-cardinality pattern). Each round is two
    node-keyed hash joins + two map-side-combinable rollups + two 1-ROW
    broadcast cross-joins for the normalizers — the data moved per round
    is node-sized, never fact-sized, and the edge frame's partitioning is
    reused by every round's join."""
    # the directed (customer, supplier) edges are the decoded contact pairs
    edges = (
        _pairs(spark, sf_dir)
        .select(F.expr("cnode div 2").alias("c"), F.expr("snode div 2").alias("s"))
        # lazy: the customer-distinct probe below materializes it (round-14)
        .localCheckpoint(eager=False)
    )
    # ONE distinct-customer frame for both the cardinality probe and the
    # init vector (was two separate distinct passes over edges — round-14)
    hc = edges.select("c").distinct().localCheckpoint(eager=False)
    # scalar cardinality probe (no edges: every frame below is empty, as
    # in the oracle, whatever the literal)
    n_cust = max(hc.count(), 1)
    h = hc.select("c", F.lit(_SCALE // n_cust).cast("long").alias("h"))
    a = None
    for _ in range(_HITS_ITERS):
        # Each half-step's raw-score frame feeds BOTH its own normalizer
        # sum and the normalized join — without a lineage cut the doubled
        # subtree re-embeds per round and the flat plan grows ~4× per
        # iteration (566 exchanges at 3 rounds when first measured). Cut
        # after each node-sized rollup, the propagate_min_labels pattern.
        ar = (
            edges.join(h, "c")
            .groupBy("s")
            .agg(F.sum("h").cast("long").alias("ar"))
            # lazy: the normalizer broadcast build materializes it (round-14)
            .localCheckpoint(eager=False)
        )
        at = ar.agg(F.sum("ar").cast("long").alias("t"))
        a = ar.crossJoin(F.broadcast(at)).select(
            "s", F.expr(f"({_SCALE} * ar) div t").cast("long").alias("a")
        )
        hr = (
            edges.join(a, "s")
            .groupBy("c")
            .agg(F.sum("a").cast("long").alias("hr"))
            .localCheckpoint(eager=False)
        )
        ht = hr.agg(F.sum("hr").cast("long").alias("t"))
        h = hr.crossJoin(F.broadcast(ht)).select(
            "c", F.expr(f"({_SCALE} * hr) div t").cast("long").alias("h")
        )
    hubs = h.select(
        F.lit("customer").alias("node_type"),
        F.col("c").cast("long").alias("node_key"),
        F.col("h").alias("score_fp"),
    )
    auths = a.select(
        F.lit("supplier").alias("node_type"),
        F.col("s").cast("long").alias("node_key"),
        F.col("a").alias("score_fp"),
    )
    return hubs.unionByName(auths)


# ---------------------------------------------------------------------------
# Personalized PageRank (round 10)
# ---------------------------------------------------------------------------


def _ppr_oracle() -> str:
    ranks = _rank_ctes(
        r0=f"""SELECT deg.src AS node,
               CASE WHEN deg.src = seed.snode
                    THEN CAST({_SCALE} AS BIGINT) ELSE CAST(0 AS BIGINT)
               END AS r
        FROM deg, seed""",
        teleport=(
            "CASE WHEN inflow.node = seed.snode"
            f" THEN (15 * CAST({_SCALE} AS BIGINT)) // 100 ELSE 0 END"
        ),
        scalars="seed",
    )
    return f"""
    WITH {_CONTACT_CTE}, seed AS MATERIALIZED (
        SELECT src AS snode FROM deg ORDER BY d DESC, src LIMIT 1
    ){ranks}
    SELECT {_decode_sql("r.node")},
           CAST(r.r AS BIGINT) AS ppr_fp,
           r.node = seed.snode AS is_seed
    FROM r{_PR_ITERS} r, seed
    WHERE r.r > 0"""


@register("graph_ppr", oracle=_ppr_oracle())
def graph_ppr(spark, sf_dir):
    """Personalized PageRank (Jeh & Widom 2003, WWW "Scaling
    Personalized Web Search") seeded at the best-connected customer in
    the trade network: the teleport mass returns to ONE node instead of
    spreading uniformly, so the fixed point ranks every node by
    proximity-weighted multi-hop connectivity TO THAT CUSTOMER — the
    standard graph-similarity/recommendation score, where
    graph_pagerank's uniform teleport measures global importance. Seed
    choice is deterministic data: max degree, min node id tie-break
    (one TakeOrdered(1) scalar probe — the blessed
    measured-cardinality pattern — embedded as a literal; the oracle
    derives the identical seed via its own ORDER BY/LIMIT CTE).

    Iterative contract: graph_pagerank's ``_propagate`` loop (FIXED 5
    rounds) with the initial mass and the teleport term on the seed only,
    r' = 0.15·SCALE·[node=seed] + 0.85·Σ floor(r_u/deg_u), all-integer
    floor division, bit-exact vs the unrolled-CTE oracle. Zero-mass
    nodes ride the frame explicitly (floor(0/d) = 0) so the join shape is
    identical every round; rows that remain zero after 5 rounds (outside
    the seed's 5-hop ball) are filtered at the end in both engines."""
    # lazy checkpoint: the seed probe right below materializes it in the
    # same job (round-14)
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # scalar probe: deterministic max-degree seed (no edges: every frame
    # below is empty, as in the oracle, whatever the literal)
    seed_row = deg.orderBy(F.col("d").desc(), F.col("src")).first()
    seed = int(seed_row["src"]) if seed_row is not None else 0
    ranks = deg.select(
        F.col("src").alias("node"),
        F.when(F.col("src") == seed, F.lit(_SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    teleport = F.when(F.col("dst") == seed, F.lit((15 * _SCALE) // 100)).otherwise(
        F.lit(0)
    )
    ranks = _propagate(edges, deg, ranks, teleport)
    return ranks.filter(F.col("r") > 0).select(
        *_decode("node"),
        F.col("r").alias("ppr_fp"),
        (F.col("node") == seed).alias("is_seed"),
    )
