"""Pattern-mining and retrieval workloads — market-basket rules, item
co-occurrence recommendations, and related "what sells with what" queries
the reference's group-by/merge surface implies but never names.

Everything here follows the house integer discipline: supports are exact
counts, confidences/lifts are integer permille via truncating division
(Spark ``div`` ≡ DuckDB ``//`` — both truncate toward zero, verified), and
any product that could exceed int64 at 100 TB is computed in decimal(38,0)
/ HUGEINT before the final BIGINT cast.

Scale posture: basket expansion is always per-group (bounded by basket
size, never all-pairs over the corpus), dimension tables broadcast, and the
candidate space is capped by the dimension's cardinality (brand pairs ≤
25·24/2 rows at ANY scale factor — output size is data-independent).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import md5_bucket, md5_bucket_duck
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()


@register(
    "mine_association_rules",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS HUGEINT) AS n_orders FROM items
    ), sup AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY p_brand
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(count(*) AS BIGINT) AS support_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    )
    SELECT p.brand_a, p.brand_b, p.support_ab,
           sa.s AS support_a, sb.s AS support_b,
           CAST(1000 * p.support_ab // sa.s AS BIGINT) AS conf_a_to_b_permille,
           CAST(1000 * p.support_ab // sb.s AS BIGINT) AS conf_b_to_a_permille,
           CAST(1000 * n.n_orders * p.support_ab
                // (CAST(sa.s AS HUGEINT) * sb.s) AS BIGINT) AS lift_permille
    FROM pairs p
    JOIN sup sa ON p.brand_a = sa.p_brand
    JOIN sup sb ON p.brand_b = sb.p_brand
    CROSS JOIN n
    WHERE p.support_ab >= 20
    """,
)
def mine_association_rules(spark, sf_dir):
    """Market-basket association rules over brands co-purchased in one
    order: for each unordered brand pair with support ≥ 20 orders, exact
    support counts plus confidence (both directions) and lift in integer
    permille — truncating division only, so every output digit is exact.

    100 TB: ONE shuffle total on the fact side — collect_set dedups
    inside the basket groupBy, so no separate distinct pass; the basket
    table localCheckpoints because three consumers (pairs, supports,
    order count) would otherwise each re-execute the fact join (SURVEY §9
    lesson 4). Pair candidates explode each order's SORTED basket into
    its C(k,2) pairs map-side (bounded by basket size, never a corpus
    self-join), and the rule table is capped at C(25,2) = 300 rows at any
    scale — supports grow, the output does not. Brand supports and the
    1-row order count broadcast onto the pair rollup. Lift's
    N·support_ab product is decimal(38,0)/HUGEINT: at 1.5e10 orders the
    int64 ceiling is real."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        # explicit fan-out before the checkpoint pins the layout: AQE
        # coalesces the tiny basket rollup to ~1 partition, which would
        # serialize the C(k,2) explosion below (the round-14
        # dedup_minhash_openvocab discipline); this exchange moves one
        # compacted basket row per order, after the map-side partial agg
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")), F.col("l_orderkey")
        )
        .localCheckpoint()
    )
    # per-order C(k,2) pair explosion: flatten(transform × slice) is pure
    # codegen — no self-join, no shuffle beyond the basket groupBy + fan-out
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(brands, (x, i) ->
                        transform(slice(brands, i + 2, size(brands)), y ->
                            struct(x AS brand_a, y AS brand_b))))
                    """
                )
            ).alias("pr")
        )
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("long").alias("support_ab"))
        .filter(F.col("support_ab") >= 20)
    )
    sup = (
        baskets.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").cast("long").alias("s"))
    )
    n = baskets.agg(F.count("*").cast("decimal(38,0)").alias("n_orders"))
    sa = sup.withColumnsRenamed({"p_brand": "brand_a", "s": "support_a"})
    sb = sup.withColumnsRenamed({"p_brand": "brand_b", "s": "support_b"})
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "support_ab",
            "support_a",
            "support_b",
            F.expr("1000 * support_ab div support_a").alias("conf_a_to_b_permille"),
            F.expr("1000 * support_ab div support_b").alias("conf_b_to_a_permille"),
            F.expr(
                """CAST(1000 * n_orders * support_ab
                        div (CAST(support_a AS DECIMAL(38,0)) * support_b)
                        AS BIGINT)"""
            ).alias("lift_permille"),
        )
    )


@register(
    "sim_item_neighbors",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT o.o_custkey, p.p_brand
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
    ), deg AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM baskets GROUP BY p_brand
    ), co AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(count(*) AS BIGINT) AS co
        FROM baskets a JOIN baskets b
          ON a.o_custkey = b.o_custkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    ), sym AS (
        SELECT brand_a AS brand, brand_b AS neighbor, co FROM co
        UNION ALL
        SELECT brand_b AS brand, brand_a AS neighbor, co FROM co
    ), scored AS (
        SELECT s.brand, s.neighbor, s.co,
               CAST(1000000 * s.co * s.co
                    // (CAST(da.n AS HUGEINT) * dn.n) AS BIGINT) AS cos2_ppm
        FROM sym s
        JOIN deg da ON s.brand = da.p_brand
        JOIN deg dn ON s.neighbor = dn.p_brand
    )
    SELECT brand, neighbor, co, cos2_ppm, rnk FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY brand
                   ORDER BY cos2_ppm DESC, neighbor) AS BIGINT) AS rnk
        FROM scored)
    WHERE rnk <= 3
    """,
)
def sim_item_neighbors(spark, sf_dir):
    """Item-item collaborative filtering: top-3 "customers also bought"
    neighbors per brand, ranked by co-occurrence cosine over customer
    baskets. cos(a,b) = co/√(nₐ·n_b) is compared via the monotone integer
    surrogate 10⁶·co² div (nₐ·n_b) (cos² in ppm) — no square root, no
    float surface anywhere; rank ties break on neighbor name.

    100 TB: same basket-explosion shape as mine_association_rules but at
    customer granularity — ONE customer-keyed shuffle builds the basket
    table (collect_set dedups in-shuffle, no separate distinct), which
    localCheckpoints because both the pair explosion and the degree
    rollup consume it (SURVEY §9 lesson 4 — otherwise each re-executes
    the two fact joins). Pairs explode per basket map-side (C(k,2), k ≤
    25 brands); the similarity matrix is ≤ 300 undirected entries at any
    SF. Brand degree vector broadcasts; the final top-3 window runs on ≤
    600 rows. co² rides HUGEINT/decimal — co ~ 1e9 customers squares past
    int64."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        # explicit fan-out before the checkpoint (see mine_association_rules:
        # AQE coalesces the tiny basket rollup to ~1 partition, serializing
        # the C(k,2) pair explosion); moves one basket row per customer
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")), F.col("o_custkey")
        )
        .localCheckpoint()
    )
    co = (
        per_cust.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(brands, (x, i) ->
                        transform(slice(brands, i + 2, size(brands)), y ->
                            struct(x AS brand_a, y AS brand_b))))
                    """
                )
            ).alias("pr")
        )
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("long").alias("co"))
    )
    deg = (
        per_cust.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").cast("long").alias("n"))
    )
    sym = co.select(
        F.col("brand_a").alias("brand"), F.col("brand_b").alias("neighbor"), "co"
    ).unionAll(
        co.select(
            F.col("brand_b").alias("brand"), F.col("brand_a").alias("neighbor"), "co"
        )
    )
    da = deg.withColumnsRenamed({"p_brand": "brand", "n": "n_brand"})
    dn = deg.withColumnsRenamed({"p_brand": "neighbor", "n": "n_neighbor"})
    scored = (
        sym.join(F.broadcast(da), "brand")
        .join(F.broadcast(dn), "neighbor")
        .select(
            "brand",
            "neighbor",
            "co",
            F.expr(
                """CAST(1000000 * CAST(co AS DECIMAL(38,0)) * co
                        div (CAST(n_brand AS DECIMAL(38,0)) * n_neighbor)
                        AS BIGINT)"""
            ).alias("cos2_ppm"),
        )
    )
    w = Window.partitionBy("brand").orderBy(
        F.col("cos2_ppm").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("brand", "neighbor", "co", "cos2_ppm", "rnk")
    )


#: BM25 constants, pre-scaled to integers: k1 = 1.2, b = 0.75 give the
#: per-term factor tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl·N/S); multiplying
#: through by 10·S turns it into the exact rational
#: 22·S·tf / (10·S·tf + 3·S + 9·dl·N) with S = Σdl (corpus token count).
_BM25_QUERY_TERMS = ("dup", "spark", "merge")


@register(
    "text_bm25_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), corpus AS (
        SELECT CAST(sum(dl) AS HUGEINT) AS s,
               CAST(count(*) AS HUGEINT) AS n
        FROM dl
    ), qdf AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks WHERE term IN ('dup', 'spark', 'merge') GROUP BY term
    ), idf AS (
        SELECT term,
               CAST(floor(1e6 * log2((2.0 * n + 2) / (2 * df + 1)) + 1e-6)
                    AS BIGINT) AS idf_micro
        FROM qdf CROSS JOIN corpus
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE term IN ('dup', 'spark', 'merge')
        GROUP BY doc_id, term
    ), contrib AS (
        SELECT tf.doc_id,
               CAST(CAST(idf.idf_micro AS HUGEINT) * 22 * c.s * tf.tf
                    // (10 * c.s * tf.tf + 3 * c.s + 9 * CAST(dl.dl AS HUGEINT) * c.n)
                    AS BIGINT) AS part_micro
        FROM tf
        JOIN idf ON tf.term = idf.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN corpus c
    ), scored AS (
        SELECT doc_id,
               CAST(sum(part_micro) AS BIGINT) AS score_micro,
               CAST(count(*) AS BIGINT) AS n_terms_matched
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, score_micro, n_terms_matched,
           CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
                AS BIGINT) AS rank
    FROM scored
    ORDER BY score_micro DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_search(spark, sf_dir):
    """BM25 full-text retrieval (Okapi, Lucene idf form) for a fixed
    3-term disjunctive query, top-20 documents. Every factor is exact
    integer arithmetic: the tf saturation term is cleared of its float
    constants by multiplying through by 10·S (k1 = 1.2, b = 0.75 become
    the integer rational 22·S·tf / (10·S·tf + 3·S + 9·dl·N)), and
    idf = log2((2N+2)/(2df+1)) — always positive in this form — is floored
    to integer micro-bits with the +1e-6 libm guard (the
    text_bigram_lm_score discipline). The only division is the shared
    truncating integer div; rank ties break on doc_id so the LIMIT-20
    cutoff is deterministic.

    100 TB: dl and per-term tf are two map-side-combined groupBys over the
    token stream (tf pre-filtered to the query terms AT THE SCAN — the
    inverted-index access path expressed as predicate pushdown); corpus
    totals and the 3-row idf table broadcast onto the ≤ |q|·N_matched
    contrib rows; global top-20 is Spark's TakeOrdered (per-partition
    top-k, no full sort). Products ride HUGEINT/decimal(38,0): idf·22·S·tf
    passes int64 once S reaches cluster scale."""
    d = load_table(spark, sf_dir, "documents")
    terms = list(_BM25_QUERY_TERMS)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    corpus = dl.agg(
        F.sum(F.col("dl").cast("decimal(38,0)")).alias("s"),
        F.count("*").cast("decimal(38,0)").alias("n"),
    )
    qtoks = toks.filter(F.col("term").isin(terms))
    qdf = qtoks.groupBy("term").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    idf = qdf.crossJoin(F.broadcast(corpus)).select(
        "term",
        F.floor(
            F.lit(1e6)
            * F.log2(
                (F.lit(2.0) * F.col("n").cast("double") + 2)
                / (2 * F.col("df") + 1)
            )
            + F.lit(1e-6)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    tf = qtoks.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.expr(
                """CAST(CAST(idf_micro AS DECIMAL(38,0)) * 22 * s * tf
                        div (10 * s * tf + 3 * s
                             + 9 * CAST(dl AS DECIMAL(38,0)) * n)
                        AS BIGINT)"""
            ).alias("part_micro"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.sum("part_micro").cast("long").alias("score_micro"),
        F.count("*").cast("long").alias("n_terms_matched"),
    )
    top = scored.orderBy(F.col("score_micro").desc(), "doc_id").limit(20)
    w = Window.orderBy(F.col("score_micro").desc(), "doc_id")
    # rank window runs on the 20 surviving rows only — bounded global window
    return top.select(
        "doc_id",
        "score_micro",
        "n_terms_matched",
        F.row_number().over(w).cast("long").alias("rank"),
    )


#: synthetic planar coordinates: 4 md5 hex digits of a salted key, mod 10⁴ —
#: deterministic across engines (the sampling-module bucket idiom), standing
#: in for real lat/lon so the GRID-JOIN mechanics are testable without a geo
#: library. Cell side 512 ≥ radius 300, so a 3×3 neighborhood is complete.
_GRID_MOD = 10_000
_CELL = 512
_RADIUS2 = 300 * 300


@register(
    "join_spatial_grid",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey,
               {md5_bucket_duck("'cx|' || CAST(c_custkey AS VARCHAR)", _GRID_MOD)} AS x,
               {md5_bucket_duck("'cy|' || CAST(c_custkey AS VARCHAR)", _GRID_MOD)} AS y
        FROM customer
    ), s AS (
        SELECT s_suppkey,
               {md5_bucket_duck("'sx|' || CAST(s_suppkey AS VARCHAR)", _GRID_MOD)} AS sx,
               {md5_bucket_duck("'sy|' || CAST(s_suppkey AS VARCHAR)", _GRID_MOD)} AS sy
        FROM supplier
    ), s9 AS (
        SELECT s.*, s.sx // {_CELL} + dx.dx AS cell_x, s.sy // {_CELL} + dy.dy AS cell_y
        FROM s
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) dx
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) dy
    ), cand AS (
        SELECT c.c_custkey, s9.s_suppkey,
               (c.x - s9.sx) * (c.x - s9.sx)
                   + (c.y - s9.sy) * (c.y - s9.sy) AS dist2
        FROM c JOIN s9
          ON c.x // {_CELL} = s9.cell_x AND c.y // {_CELL} = s9.cell_y
        WHERE (c.x - s9.sx) * (c.x - s9.sx)
                  + (c.y - s9.sy) * (c.y - s9.sy) <= {_RADIUS2}
    )
    SELECT c_custkey, s_suppkey, CAST(dist2 AS BIGINT) AS dist2
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY c_custkey ORDER BY dist2, s_suppkey) AS rn
        FROM cand)
    WHERE rn = 1
    """,
)
def join_spatial_grid(spark, sf_dir):
    """Nearest-supplier-within-radius spatial join via GRID BUCKETING —
    the spatial-hash analogue of banded LSH: both sides land in 512-unit
    grid cells, the small side replicates into its 3×3 cell neighborhood
    (cell ≥ radius, so the neighborhood provably covers every ≤ 300-unit
    match), candidates meet on a plain (cell_x, cell_y) equi-key, and the
    exact integer squared distance filters inside the join. Per customer
    the nearest match wins (dist², then suppkey — deterministic). All
    integer; coordinates are md5-derived stand-ins for lat/lon.

    100 TB: the win is turning an O(|C|·|S|) theta join into an equi-join
    on cell keys — Spark shuffles both sides by cell (or broadcasts the
    ×9-replicated dim side, as here), and each task only compares points
    in adjacent cells. Density skew (a hot cell) is the salted-join
    problem and would get the join_skew_salted treatment; the final
    per-customer window partitions on the probe key, so it scales with
    the probe side."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")

    def coord(salt, key):
        salted = F.concat(F.lit(f"{salt}|"), F.col(key).cast("string"))
        return md5_bucket(salted, _GRID_MOD)

    c = c.select(
        "c_custkey", coord("cx", "c_custkey").alias("x"), coord("cy", "c_custkey").alias("y")
    )
    s = s.select(
        "s_suppkey",
        coord("sx", "s_suppkey").alias("sx"),
        coord("sy", "s_suppkey").alias("sy"),
    )
    offsets = F.expr(
        "explode(flatten(transform(array(-1, 0, 1), dx -> "
        "transform(array(-1, 0, 1), dy -> struct(dx AS dx, dy AS dy)))))"
    )
    s9 = s.select("*", offsets.alias("o")).select(
        "s_suppkey",
        "sx",
        "sy",
        (F.expr(f"sx div {_CELL}") + F.col("o.dx")).alias("cell_x"),
        (F.expr(f"sy div {_CELL}") + F.col("o.dy")).alias("cell_y"),
    )
    cand = (
        c.withColumn("cell_x", F.expr(f"x div {_CELL}"))
        .withColumn("cell_y", F.expr(f"y div {_CELL}"))
        .join(F.broadcast(s9), ["cell_x", "cell_y"])
        .withColumn(
            "dist2",
            (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
            + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy")),
        )
        .filter(F.col("dist2") <= _RADIUS2)
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "s_suppkey", F.col("dist2").cast("long").alias("dist2"))
    )


#: RRF smoothing constant (the standard k = 60 from the original paper) and
#: the integer contribution scale: contribution(rank) = 1e9 div (60 + rank).
_RRF_K = 60
_RRF_SCALE = 1_000_000_000


@register(
    "sim_hybrid_rrf",
    oracle=None,  # assembled below — needs the similarity-module constants
)
def sim_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion: the BM25 lexical
    ranking (the text_bm25_search scoring, unlimited) and the quantized-
    cosine vector ranking (the sim_quantized_cosine rule over the aligned
    embeddings table) fuse as RRF(d) = Σ 10⁹ div (60 + rankᵢ(d)) — the
    integer form of the standard 1/(k+rank) sum, so fusion is exact and
    engine-identical even though the two underlying scores live on
    incomparable scales (that scale-freeness is WHY RRF is the default
    hybrid fusion). Docs absent from the sparse lexical list contribute
    only their vector term (standard RRF over ranked-list union); top-20
    fused docs win, ties on doc_id.

    100 TB: each leg is its own proven scale shape (BM25: two map-side
    token rollups + broadcast idf; cosine: scan + TakeOrdered); fusion
    adds one full-outer join on doc_id and a 20-row TakeOrdered — the
    fusion stage is never the bottleneck, and each leg can be served from
    its own index/store."""
    from .similarity import _Q8_NORM_SQ, QVEC_Q8, _dot, _vec

    d = load_table(spark, sf_dir, "documents")
    terms = list(_BM25_QUERY_TERMS)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    corpus = dl.agg(
        F.sum(F.col("dl").cast("decimal(38,0)")).alias("s"),
        F.count("*").cast("decimal(38,0)").alias("n"),
    )
    qtoks = toks.filter(F.col("term").isin(terms))
    qdf = qtoks.groupBy("term").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    idf = qdf.crossJoin(F.broadcast(corpus)).select(
        "term",
        F.floor(
            F.lit(1e6)
            * F.log2(
                (F.lit(2.0) * F.col("n").cast("double") + 2) / (2 * F.col("df") + 1)
            )
            + F.lit(1e-6)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    tf = qtoks.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    text_scores = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.expr(
                """CAST(CAST(idf_micro AS DECIMAL(38,0)) * 22 * s * tf
                        div (10 * s * tf + 3 * s
                             + 9 * CAST(dl AS DECIMAL(38,0)) * n)
                        AS BIGINT)"""
            ).alias("part_micro"),
        )
        .groupBy("doc_id")
        .agg(F.sum("part_micro").cast("long").alias("score_micro"))
    )
    wt = Window.orderBy(F.col("score_micro").desc(), "doc_id")
    # bounded global window: only docs matching ≥1 query term are ranked
    text_rank = text_scores.select(
        "doc_id", F.row_number().over(wt).cast("long").alias("text_rank")
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), _vec("embedding").alias("v")
    )
    s = e.withColumn("mx", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))))
    q = s.withColumn(
        "qv",
        F.transform(
            F.col("v"),
            lambda x: F.floor(x * F.lit(127.0) / F.col("mx")).cast("double"),
        ),
    )
    probe = F.array(*[F.lit(float(x)) for x in QVEC_Q8])
    cos = F.floor(
        F.lit(10000.0)
        * _dot(F.col("qv"), probe)
        / (F.sqrt(_dot(F.col("qv"), F.col("qv"))) * F.sqrt(F.lit(float(_Q8_NORM_SQ))))
    ).cast("long")
    wv = Window.orderBy(F.col("cos_q8_e4").desc(), "doc_id")
    # bounded global window: one rank pass over the embedding corpus — at
    # 100 TB this leg would come from the ANN index's top-N instead
    vec_rank = q.select("doc_id", cos.alias("cos_q8_e4")).select(
        "doc_id", F.row_number().over(wv).cast("long").alias("vec_rank")
    )

    fused = (
        text_rank.join(vec_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            "text_rank",
            "vec_rank",
            (
                F.coalesce(
                    F.expr(f"{_RRF_SCALE} div ({_RRF_K} + text_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{_RRF_SCALE} div ({_RRF_K} + vec_rank)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_score_nano"),
        )
    )
    return fused.orderBy(F.col("rrf_score_nano").desc(), "doc_id").limit(20)


def _hybrid_rrf_oracle() -> str:
    from .similarity import _Q8_NORM_SQ, _sql_list, QVEC_Q8

    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), corpus AS (
        SELECT CAST(sum(dl) AS HUGEINT) AS s, CAST(count(*) AS HUGEINT) AS n
        FROM dl
    ), qdf AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks WHERE term IN ('dup', 'spark', 'merge') GROUP BY term
    ), idf AS (
        SELECT term,
               CAST(floor(1e6 * log2((2.0 * n + 2) / (2 * df + 1)) + 1e-6)
                    AS BIGINT) AS idf_micro
        FROM qdf CROSS JOIN corpus
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE term IN ('dup', 'spark', 'merge')
        GROUP BY doc_id, term
    ), text_scores AS (
        SELECT tf.doc_id,
               CAST(sum(CAST(idf.idf_micro AS HUGEINT) * 22 * c.s * tf.tf
                    // (10 * c.s * tf.tf + 3 * c.s + 9 * CAST(dl.dl AS HUGEINT) * c.n))
                    AS BIGINT) AS score_micro
        FROM tf
        JOIN idf ON tf.term = idf.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN corpus c
        GROUP BY tf.doc_id
    ), text_rank AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
               AS BIGINT) AS text_rank
        FROM text_scores
    ), ev AS (
        SELECT vec_id AS doc_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), sq AS (
        SELECT doc_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM ev
    ), qv AS (
        SELECT doc_id,
               list_transform(v, x -> CAST(floor(x * 127 / mx) AS BIGINT)) AS qv
        FROM sq
    ), cosd AS (
        SELECT doc_id,
               CAST(floor(10000 * list_dot_product(qv, {_sql_list(QVEC_Q8)})
                    / (sqrt(list_dot_product(qv, qv)) * sqrt({_Q8_NORM_SQ})))
                    AS BIGINT) AS cos_q8_e4
        FROM qv
    ), vec_rank AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_q8_e4 DESC, doc_id)
               AS BIGINT) AS vec_rank
        FROM cosd
    )
    SELECT coalesce(t.doc_id, v.doc_id) AS doc_id, t.text_rank, v.vec_rank,
           CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + t.text_rank), 0)
                + coalesce({_RRF_SCALE} // ({_RRF_K} + v.vec_rank), 0) AS BIGINT)
               AS rrf_score_nano
    FROM text_rank t FULL OUTER JOIN vec_rank v ON t.doc_id = v.doc_id
    ORDER BY rrf_score_nano DESC, doc_id
    LIMIT 20
    """


ORACLES["sim_hybrid_rrf"] = _hybrid_rrf_oracle()


@register(
    "mine_frequent_triples",
    oracle="""
    WITH items AS MATERIALIZED (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
    ), pairs AS MATERIALIZED (
        SELECT a.p_brand AS ba, b.p_brand AS bb,
               CAST(count(*) AS BIGINT) AS s
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    ), triples AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, c.p_brand AS brand_c,
               CAST(count(*) AS BIGINT) AS support_abc
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        JOIN items c ON a.l_orderkey = c.l_orderkey AND b.p_brand < c.p_brand
        GROUP BY 1, 2, 3
    )
    SELECT t.brand_a, t.brand_b, t.brand_c, t.support_abc,
           ab.s AS support_ab, ac.s AS support_ac, bc.s AS support_bc,
           CAST(1000 * t.support_abc
                // least(ab.s, ac.s, bc.s) AS BIGINT) AS conf_min_permille
    FROM triples t
    JOIN pairs ab ON t.brand_a = ab.ba AND t.brand_b = ab.bb
    JOIN pairs ac ON t.brand_a = ac.ba AND t.brand_c = ac.bb
    JOIN pairs bc ON t.brand_b = bc.ba AND t.brand_c = bc.bb
    ORDER BY t.support_abc DESC, t.brand_a, t.brand_b, t.brand_c
    LIMIT 50
    """,
)
def mine_frequent_triples(spark, sf_dir):
    """Frequent 3-itemset mining over brand baskets, the A-priori step
    beyond mine_association_rules' pairs: the top-50 brand triples by
    co-purchase support (canonical brand tiebreaks — a top-N product,
    not a relative threshold, because triple supports concentrate toward
    their true tiny rates as N grows and any fixed percentage eventually
    selects nothing), annotated with the three pairwise supports and the
    completion confidence support_abc / min(pair supports) in integer
    permille. All counts are exact; the one division is truncating.

    100 TB: the C(k,3) per-basket expansion is pure codegen
    (flatten(transform × slice × slice)) — no corpus self-join; the
    candidate space is capped at C(25,3) = 2300 rows at ANY scale, so
    pair-support joins broadcast and the top-50 is a
    TakeOrderedAndProject over those 2300, never a global sort. The
    basket table localCheckpoints once for its two consumers (triples,
    pairs)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        # explicit fan-out before the checkpoint (see mine_association_rules)
        # — here the serialized expansion would be C(k,3) per basket
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")), F.col("l_orderkey")
        )
        .localCheckpoint()
    )
    triples = (
        baskets.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(brands, (x, i) ->
                        flatten(transform(slice(brands, i + 2, size(brands)), (y, j) ->
                            transform(slice(brands, i + j + 3, size(brands)), z ->
                                struct(x AS brand_a, y AS brand_b, z AS brand_c))))))
                    """
                )
            ).alias("tr")
        )
        .select("tr.brand_a", "tr.brand_b", "tr.brand_c")
        .groupBy("brand_a", "brand_b", "brand_c")
        .agg(F.count("*").cast("long").alias("support_abc"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(brands, (x, i) ->
                        transform(slice(brands, i + 2, size(brands)), y ->
                            struct(x AS ba, y AS bb))))
                    """
                )
            ).alias("pr")
        )
        .select("pr.ba", "pr.bb")
        .groupBy("ba", "bb")
        .agg(F.count("*").cast("long").alias("s"))
    )
    ab = pairs.withColumnsRenamed({"ba": "brand_a", "bb": "brand_b", "s": "support_ab"})
    ac = pairs.withColumnsRenamed({"ba": "brand_a", "bb": "brand_c", "s": "support_ac"})
    bc = pairs.withColumnsRenamed({"ba": "brand_b", "bb": "brand_c", "s": "support_bc"})
    return (
        triples.join(F.broadcast(ab), ["brand_a", "brand_b"])
        .join(F.broadcast(ac), ["brand_a", "brand_c"])
        .join(F.broadcast(bc), ["brand_b", "brand_c"])
        .select(
            "brand_a",
            "brand_b",
            "brand_c",
            "support_abc",
            "support_ab",
            "support_ac",
            "support_bc",
            F.expr(
                "CAST(1000 * support_abc DIV least(support_ab, support_ac, support_bc)"
                " AS BIGINT)"
            ).alias("conf_min_permille"),
        )
        .orderBy(
            F.col("support_abc").desc(), "brand_a", "brand_b", "brand_c"
        )
        .limit(50)
    )
