"""Vector-similarity & multimodal operators (SURVEY.md §2.10).

Embeddings: array<float> length 64, int label 0–9 (measured). All vector
math runs in Spark SQL higher-order functions (zip_with/aggregate) — JVM
codegen, no UDFs; elements are cast to double before arithmetic so results
match DuckDB's double math.

Scale strategy:
  - exact pairwise ops block on ``label`` (10-way partition of the O(n²));
  - ``sim_knn_query`` is a linear scan + TakeOrdered (the brute-force
    baseline that always works);
  - ``sim_ann_lsh`` is the sublinear path: deterministic random-hyperplane
    signatures → bucket equi-join → exact re-rank of candidates only.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import (
    md5_bucket,
    md5_bucket_duck,
    md5_int_py,
    milli,
    milli_duck,
    milli_py,
)
from ..functions.sets import band_pairs, first_match_band
from ..functions.vectors import array_sql, nearest_sql, sq_l2, sq_l2_sql
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()


def _vec(col):
    """float[] → double[] (oracle parity: DuckDB lists are double math)."""
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _normalized(df, vec_col: str = "v"):
    """Pre-normalize vectors so pairwise cosine is a single dot product.

    Pairwise _cosine costs 3 dot products per PAIR; normalizing up front
    costs 1 per VECTOR and 1 per pair — measured 4.1s → expected ~3x less
    HOF work on the sf0.1 bench (2k vectors, ~200k same-label pairs).
    Equal to dot/(|a||b|) up to ~1ulp, absorbed by the 4dp rounding."""
    nrm = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
    return df.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda x: x / nrm)
    )


# ---------------------------------------------------------------------------
# deterministic literal query vector / hyperplanes (SURVEY §5.6: no rand())
# ---------------------------------------------------------------------------

DIM = 64
#: fixed kNN probe vector: q[i] = ((i % 7) - 3) / 3
QUERY_VEC = [round(((i % 7) - 3) / 3.0, 6) for i in range(DIM)]
N_PLANES = 12
#: fixed LSH hyperplanes: h[p][i] = ((i * (p + 2) + 13) % 7) - 3  (ints)
HYPERPLANES = [[((i * (p + 2) + 13) % 7) - 3 for i in range(DIM)] for p in range(N_PLANES)]

# ---------------------------------------------------------------------------
# LSH geometry scale ladder (VERDICT r13 items 3-4). A FIXED bands×bits
# geometry has per-band bucket occupancy n / 2^bits — linear in corpus
# size, so bucket-mate candidate pairs grow quadratically (sim_ann_graph
# measured 13.2× wall at 10× data, sim_ann_lsh 11.2×, SCALE_r13.json).
# The ladder is the plan_lsh_band_geometry planner's decision baked into
# the index build: rows-per-band (bits) grows with MEASURED corpus size so
# occupancy stays ≤ ~_LSH_TARGET_BUCKET, and the band count grows alongside
# (OR-of-ANDs: one extra band per extra bit) to claw back the p^bits recall
# loss. Thresholds are exact integers shared verbatim with the
# sim_ann_graph oracle's CASE, and at every driver-verified scale
# (n ≤ 2048) the ladder returns the original 4×3 geometry unchanged.
# ---------------------------------------------------------------------------

N_BANDS = 4
BAND_BITS = 3  # N_BANDS * BAND_BITS == N_PLANES
_LSH_TARGET_BUCKET = 256
_LSH_MAX_BITS = 9


def _lsh_geometry(n: int) -> tuple[int, int]:
    """(bands, bits) for a corpus of n vectors: smallest bits ≥ BAND_BITS
    with n ≤ _LSH_TARGET_BUCKET·2^bits (capped), bands = N_BANDS + growth."""
    bits = BAND_BITS
    while bits < _LSH_MAX_BITS and n > _LSH_TARGET_BUCKET << bits:
        bits += 1
    return N_BANDS + (bits - BAND_BITS), bits


def _lsh_plane(p: int) -> list[int]:
    """Plane p of the extended pool: 0..N_PLANES-1 are the original
    HYPERPLANES (so tier-3 geometry — every driver-verified scale — is
    bit-identical to the pre-ladder build); ≥ N_PLANES are md5-derived ±1
    rows (the plan_lsh_band_geometry pool discipline: deterministic, no
    rand(), integer dots stay exact)."""
    if p < N_PLANES:
        return HYPERPLANES[p]
    # the parity of the whole digest is the parity of its last hex digit
    return [
        1 if md5_int_py(f"annpool:{p}:{i}", 1, 31) % 2 == 0 else -1 for i in range(DIM)
    ]


def _lsh_plane_index(band: int, j: int, bits: int) -> int:
    """Pool index of bit j of band ``band`` at tier ``bits``. Tier 3 keeps
    the original contiguous HYPERPLANES layout (bit-identity with the
    pre-ladder build at every driver-verified scale); DEEPER tiers address
    the md5 pool exclusively, because the original 12 planes repeat with
    period 7 in p — a naive band·bits+j layout at bits ≥ 8 would put plane
    7 (= plane 0) in band 0 and burn 1-2 signature bits, re-admitting
    exactly the bucket growth the ladder bounds (round-14 review
    finding 2)."""
    if bits == BAND_BITS:
        return band * bits + j
    return N_PLANES + band * bits + j


#: total pool size = the originals + bands·bits at the deepest tier
#: (12 + 10 bands × 9 bits)
_LSH_POOL = N_PLANES + _lsh_geometry(10**18)[0] * _LSH_MAX_BITS


def _sql_list(xs) -> str:
    return "[" + ", ".join(str(x) for x in xs) + "]"


#: block count for exact pairwise ops — bounds any one task to a
#: (n_key/N_BLOCKS)² pair space. 4 is plenty at test SFs; at 100 TB set to
#: ceil(max_key_count / rows_per_task) so skewed keys still fit one task.
N_BLOCKS = 4


#: exact-pair block sizing: one task's similarity matrix is (rows_per_task)²
#: doubles — 4096² ≈ 134 MB, comfortably inside an executor task.
ROWS_PER_BLOCK_TASK = 4096


def adaptive_n_blocks(
    df, key_col: str = "label", rows_per_task: int = ROWS_PER_BLOCK_TASK
) -> int:
    """Pick the exact-pair block count from MEASURED key cardinality.

    One tiny agg (groupBy key → max count) decides how many blocks the
    pairwise stage needs so the largest key's matrix still fits one task:
    B = ceil(max_key_rows / rows_per_task). At test SFs (≈200 rows/label)
    this returns 1 — the blocked plan degenerates to one matmul per label
    with zero replication overhead — while a 100 TB skewed key engages
    exactly the B that bounds task memory. Same measured-cardinality
    pattern as plan_adaptive_threshold_join; the operator's output is
    exact for every B, so the choice never shows in the result."""
    maxc = df.groupBy(key_col).count().agg(F.max("count")).first()[0] or 0
    return max(1, -(-maxc // rows_per_task))


def with_block_pair(df, id_col: str, n_blocks: int = N_BLOCKS):
    """Replicate each row once per partner block for exact block-pair joins.

    Adds ``_g`` (own block = id mod n_blocks) and ``_p`` (partner block,
    exploded over 0..n_blocks-1). Joining two copies on
    ``l._g == r._p AND l._p == r._g`` (plus the usual keys) visits every
    pair exactly once while raising join-key cardinality by n_blocks², so a
    skewed key no longer lands in a single task. Replication cost is
    n_blocks× the input — the classic block-nested decomposition trade."""
    return df.withColumn(
        "_g", F.pmod(F.col(id_col), F.lit(n_blocks))
    ).withColumn("_p", F.explode(F.array(*[F.lit(i) for i in range(n_blocks)])))


@register(
    "sim_topk_cosine",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT e1.vec_id AS id1,
           e2.vec_id AS id2,
           e1.label  AS label,
           round(list_cosine_similarity(e1.v, e2.v), 4) AS sim
    FROM e e1 JOIN e e2 ON e1.label = e2.label AND e1.vec_id < e2.vec_id
    ORDER BY sim DESC, id1 ASC, id2 ASC
    LIMIT 100
    """,
)
def sim_topk_cosine(spark, sf_dir):
    """Top-100 most-similar same-label pairs by cosine. Label blocking keeps
    the pair space at Σ|label|² (≈10× smaller than n²); ordering uses the
    4dp-rounded similarity + id tiebreaks so the top-100 boundary is
    engine-independent.

    Physical strategy: dense pairwise similarity is the one workload where
    Arrow + BLAS beats codegen'd HOFs — applyInPandas does one matmul per
    block instead of per-pair array folds (measured 4.6× faster at sf0.1,
    same rounded output as the HOF/DuckDB path on both operative scale
    factors). Tasks are keyed (label, block-pair) with block = vec_id mod
    N_BLOCKS, so one task holds at most 2·(n_label/N_BLOCKS) vectors — a
    skewed label divides across N_BLOCKS·(N_BLOCKS+1)/2 tasks instead of
    capping at one task's RAM; the block count itself comes from
    adaptive_n_blocks, so at small label sizes B=1 and the decomposition
    costs nothing. Each task emits only its local top-100
    (pruning is safe: the global top-100 order is a total order, so every
    global winner wins its own block) and sims leave pandas UNROUNDED —
    the 4dp rounding happens in Spark SQL so it follows the engine's
    half-up decimal rule, not numpy's half-to-even."""
    e = _normalized(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _vec("embedding").alias("v")
        )
    )
    # (_b1,_b2) is distinct across a vector's replicas (one per partner
    # block), so no dedup shuffle is needed before the grouping.
    blocked = with_block_pair(e, "vec_id", adaptive_n_blocks(e)).withColumn(
        "_b1", F.least("_g", "_p")
    ).withColumn("_b2", F.greatest("_g", "_p"))

    def per_block_pair(key, pdf):
        import numpy as np
        import pandas as pd

        _, b1, b2 = key
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        if b1 == b2:
            V = np.stack(pdf["v"].to_numpy())
            S = V @ V.T
            i, j = np.triu_indices(len(pdf), k=1)
            id1, id2, sims = ids[i], ids[j], S[i, j]
        else:
            ga = pdf["_g"].to_numpy() == b1
            A, C = pdf[ga], pdf[~ga]
            if len(A) == 0 or len(C) == 0:
                return pd.DataFrame(
                    {"id1": [], "id2": [], "label": [], "sim": []}
                ).astype({"id1": "int64", "id2": "int64", "label": "int32", "sim": "float64"})
            S = np.stack(A["v"].to_numpy()) @ np.stack(C["v"].to_numpy()).T
            ia, ic = np.meshgrid(np.arange(len(A)), np.arange(len(C)), indexing="ij")
            a_ids = A["vec_id"].to_numpy()[ia.ravel()]
            c_ids = C["vec_id"].to_numpy()[ic.ravel()]
            id1 = np.minimum(a_ids, c_ids)
            id2 = np.maximum(a_ids, c_ids)
            sims = S.ravel()
        out = pd.DataFrame(
            {"id1": id1, "id2": id2, "label": pdf["label"].iloc[0], "sim": sims}
        )
        # local pruning key: half-away-from-zero 4dp (matches F.round below
        # except on binary-exact half boundaries, which don't occur at 4dp
        # for cosine of these vectors)
        out["_r"] = np.sign(out["sim"]) * np.floor(np.abs(out["sim"]) * 1e4 + 0.5) / 1e4
        return (
            out.sort_values(["_r", "id1", "id2"], ascending=[False, True, True])
            .head(100)
            .drop(columns="_r")
        )

    return (
        blocked.groupBy("label", "_b1", "_b2")
        .applyInPandas(per_block_pair, "id1 long, id2 long, label int, sim double")
        .select("id1", "id2", "label", F.round("sim", 4).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id1").asc(), F.col("id2").asc())
        .limit(100)
    )


@register(
    "sim_knn_query",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT vec_id, label,
           round(list_cosine_similarity(v, {_sql_list(QUERY_VEC)}), 4) AS sim
    FROM e
    ORDER BY sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def sim_knn_query(spark, sf_dir):
    """k=10 nearest neighbours to a fixed literal query vector — brute-force
    cosine scan + TakeOrdered(10): the exact baseline every ANN variant is
    measured against. One pass, no shuffle except the 10-row top-k merge."""
    e = load_table(spark, sf_dir, "embeddings")
    q = F.array(*[F.lit(float(x)) for x in QUERY_VEC])
    sim = F.round(_cosine(_vec(F.col("embedding")), q), 4)
    return (
        e.select("vec_id", "label", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register("sim_ann_lsh")  # rows-only: approximate by design (SURVEY §2.10)
def sim_ann_lsh(spark, sf_dir):
    """Approximate top-100 same-label pairs via banded random-hyperplane LSH:
    literal hyperplanes → sign bits → bands of sign bits; candidate
    pairs agree on *any* band (classic OR-of-ANDs banding — a single
    all-bits bucket had 5% recall on this data, banding restores it), then
    exact cosine re-rank of candidates only. Deterministic (hyperplanes are
    module constants, no rand()). The bands×bits geometry comes from the
    _lsh_geometry scale ladder on a one-scalar cardinality probe — per-band
    bucket occupancy stays ≤ ~_LSH_TARGET_BUCKET instead of growing
    linearly with the corpus (the 11.2×-at-10×-data seam, SCALE_r13.json);
    at driver-verified scales the ladder returns the original 4×3 geometry
    bit-identically. At 100 TB the per-band equi-join touches only
    colliding pairs — sublinear in the pair space; recall vs
    sim_topk_cosine is asserted in tests."""
    # RAW vectors throughout: sign bits are scale-invariant, so hashing the
    # un-normalized embedding gives identical signatures while avoiding the
    # _normalized expression — projection collapse re-inlines the
    # norm-divide into EVERY one of the 12 dot references (measured 11.2s
    # just to build 2000 signature rows at sf0.1 when hashing normalized
    # vectors; raw-vector hashing + raw-cosine re-rank is ~40x cheaper).
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec("embedding").alias("v")
    )
    bands, bits = _lsh_geometry(e.count())
    band_sigs = []
    for b in range(bands):
        sig = F.lit(0)
        for j in range(bits):
            plane = _lsh_plane(_lsh_plane_index(b, j, bits))
            h = F.array(*[F.lit(float(x)) for x in plane])
            sig = sig + F.when(_dot(F.col("v"), h) >= 0, F.lit(2**j)).otherwise(
                F.lit(0)
            )
        band_sigs.append(sig)
    # Signature rows carry the 4-int sig array, NOT the 64-float vector:
    # pair dedup happens inside the bucket join via the first-matching-band
    # predicate (each pair emits exactly once — no dropDuplicates shuffle of
    # vector-width rows), and vectors join back AFTER dedup for the re-rank
    # (node-sized side, broadcast-able).
    # Explicit vec_id fan-out before the signature projection and band
    # explosion — the _openvocab_band_rows discipline: the bucket join's
    # build side broadcasts at these sizes, so both the bands×bits dot
    # products and the candidate expansion run at THIS frame's partition
    # count, and a raw single-file scan is ONE task doing the whole
    # bucket-mate enumeration (AQE coalescing cannot see the downstream
    # expansion). On a multi-file 100 TB input the scan is already parallel
    # and this exchange is one vector-width pass, dwarfed by the expansion.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # posexplode_OUTER (pipeline._band_signatures rationale): the inner
    # form's inferred `size(sigs) > 0` filter re-inlines all bands×bits
    # hyperplane dot products into an always-true predicate below the
    # Generate; sigs is a constructed array, so outer ≡ inner row-for-row.
    banded = (
        e.repartition(n_part, F.col("vec_id"))
        .withColumn("sigs", F.array(*band_sigs))
        .select(
            "vec_id", "label", "sigs",
            F.posexplode_outer("sigs").alias("band", "sig"),
        )
    )
    cand = band_pairs(
        banded, bands, carry=("label",), same="label", key="vec_id"
    ).select(
        F.col("doc1").alias("id1"), F.col("doc2").alias("id2"), F.col("label1").alias("label")
    )
    v1 = e.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"))
    v2 = e.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"))
    sim = F.round(_cosine(F.col("v1"), F.col("v2")), 4)
    approx = (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .select("id1", "id2", "label", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id1").asc(), F.col("id2").asc())
        .limit(100)
    )
    # Quantitative signal for the rows-only check: recall@100 against the
    # exact top-100 (sim_topk_cosine), carried as a constant column so the
    # approximation quality is visible in the result itself, not only in
    # tests. The exact pass costs one extra blocked matmul at verify scale.
    from pyspark.sql import Window

    exact = sim_topk_cosine(spark, sf_dir).select("id1", "id2", F.lit(1).alias("_hit"))
    return (
        approx.join(exact, ["id1", "id2"], "left")
        .withColumn(
            "recall_at_100",
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).over(
                    Window.partitionBy(F.lit(1))
                )
                / 100.0,
                4,
            ),
        )
        .drop("_hit")
    )


@register(
    "multimodal_join",
    oracle="""
    SELECT label,
           count(*)                                AS n_docs,
           round(avg(n_chars), 4)                  AS avg_chars,
           count(DISTINCT lang)                    AS n_langs,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY label
    """,
)
def multimodal_join(spark, sf_dir):
    """Unified multimodal view: text (documents) ⋈ vectors (embeddings) on
    doc_id = vec_id, then per-label text statistics — the 'align modalities
    on a shared key, analyze jointly' pattern. Inner join by design: at
    sf0.1 only 2k of 5k docs have embeddings (measured)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_tokens"),
        )
    )


@register(
    "skyline_pareto",
    oracle="""
    WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
               FROM orders WHERE o_custkey < 100)
    SELECT o1.o_orderkey, o1.o_totalprice, o1.o_orderdate
    FROM o o1
    WHERE NOT EXISTS (
        SELECT 1 FROM o o2
        WHERE o2.o_totalprice >= o1.o_totalprice
          AND o2.o_orderdate  <= o1.o_orderdate
          AND (o2.o_totalprice > o1.o_totalprice
               OR o2.o_orderdate < o1.o_orderdate)
    )
    """,
)
def skyline_pareto(spark, sf_dir):
    """Skyline (Pareto frontier): orders maximizing totalprice while
    minimizing orderdate, via anti-join against dominating rows. Input is
    key-bounded (custkey<100) because dominance is a nested-loop predicate;
    the distributed skyline at scale pre-filters with a coarse grid (each
    cell's local skyline first — PAPERS.md skyline-in-SparkSQL pattern)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )
    o2 = o.select(
        F.col("o_totalprice").alias("p2"), F.col("o_orderdate").alias("d2")
    )
    dominated = (
        (F.col("p2") >= F.col("o_totalprice"))
        & (F.col("d2") <= F.col("o_orderdate"))
        & ((F.col("p2") > F.col("o_totalprice")) | (F.col("d2") < F.col("o_orderdate")))
    )
    return o.join(o2, dominated, "left_anti")


# ---------------------------------------------------------------------------
# int8 quantization: 4x memory compression for the 100 TB embedding store
# ---------------------------------------------------------------------------

#: query vector quantized with the same per-vector max-abs int8 rule the
#: data side uses (max|q| is exactly 1.0 for QUERY_VEC)
QVEC_Q8 = [math.floor(x * 127.0) for x in QUERY_VEC]
_Q8_NORM_SQ = sum(x * x for x in QVEC_Q8)  # exact integer


@register(
    "sim_quantized_cosine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), s AS (
        SELECT vec_id, label, v,
               list_max(list_transform(v, x -> abs(x))) AS mx
        FROM e
    ), q AS (
        SELECT vec_id, label,
               list_transform(v, x -> CAST(floor(x * 127 / mx) AS BIGINT)) AS qv
        FROM s
    )
    SELECT vec_id, label,
           CAST(floor(
               10000 * list_dot_product(qv, {_sql_list(QVEC_Q8)})
               / (sqrt(list_dot_product(qv, qv)) * sqrt({_Q8_NORM_SQ}))
           ) AS BIGINT) AS cos_q8_e4
    FROM q
    ORDER BY cos_q8_e4 DESC, vec_id
    LIMIT 100
    """,
)
def sim_quantized_cosine(spark, sf_dir):
    """Top-100 nearest to the fixed probe under int8-quantized cosine —
    the memory-compression path a 100 TB embedding store actually runs:
    per-vector max-abs scaling to [-127, 127] ints shrinks the store 4×
    (float32 → int8) and turns every dot product into exact integer math,
    so ranking is bit-identical across engines with no float-summation
    order hazard (the one rounding happens in the final divide; the score
    is floored to an e4 integer). The quantization rule (floor(x·127/mx))
    and the scoring expression are kept operation-for-operation identical
    to the DuckDB oracle. Scale shape: a single scan + per-row O(dim)
    work + TakeOrdered(100) — no shuffle at all until the final top-k
    merge; recall vs the exact ranking is asserted in tests (≥85/100 at
    both operative SFs)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec("embedding").alias("v")
    )
    s = e.withColumn(
        "mx", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    )
    q = s.withColumn(
        "qv",
        F.transform(
            F.col("v"),
            lambda x: F.floor(x * F.lit(127.0) / F.col("mx")).cast("double"),
        ),
    )
    probe = F.array(*[F.lit(float(x)) for x in QVEC_Q8])
    score = F.floor(
        F.lit(10000.0)
        * _dot(F.col("qv"), probe)
        / (F.sqrt(_dot(F.col("qv"), F.col("qv"))) * F.sqrt(F.lit(float(_Q8_NORM_SQ))))
    ).cast("long")
    return (
        q.select("vec_id", "label", score.alias("cos_q8_e4"))
        .orderBy(F.desc("cos_q8_e4"), F.asc("vec_id"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# MMR diversified retrieval
# ---------------------------------------------------------------------------

#: the first 5 LSH hyperplanes double as integer probe vectors for MMR
_MMR_PROBES = HYPERPLANES[:5]
_MMR_PN2 = [sum(x * x for x in p) for p in _MMR_PROBES]
_MMR_CAND = 16  # relevance short-list per probe
_MMR_K = 8  # diversified picks per probe


def _mmr_oracle() -> str:
    probes_rows = ", ".join(
        f"({p}, {_sql_list(_MMR_PROBES[p])}::BIGINT[], {_MMR_PN2[p]})"
        for p in range(len(_MMR_PROBES))
    )
    steps = []
    for k in range(2, _MMR_K + 1):
        steps.append(f"""
    s{k} AS MATERIALIZED (
        SELECT u.pid, list_append(u.chosen, u.vec_id) AS chosen,
               u.vec_id AS picked, {k} AS step, u.score AS mmr_score
        FROM (
            SELECT s.pid, s.chosen, c.vec_id,
                   7 * c.rel - 3 * ms.msim AS score,
                   row_number() OVER (PARTITION BY s.pid
                       ORDER BY 7 * c.rel - 3 * ms.msim DESC, c.vec_id) AS rn
            FROM s{k - 1} s
            JOIN cand c ON c.pid = s.pid
                       AND NOT list_contains(s.chosen, c.vec_id)
            JOIN (SELECT p.pid, p.va, max(p.sim) AS msim
                  FROM psim p JOIN s{k - 1} s2
                    ON p.pid = s2.pid AND list_contains(s2.chosen, p.vb)
                  GROUP BY p.pid, p.va) ms
              ON ms.pid = s.pid AND ms.va = c.vec_id
        ) u WHERE u.rn = 1
    )""")
    union = "\n        UNION ALL\n".join(
        f"        SELECT pid, picked, step, mmr_score FROM s{k}"
        for k in range(1, _MMR_K + 1)
    )
    return f"""
    WITH q AS (
        SELECT vec_id,
               {milli_duck()} AS qv
        FROM embeddings
    ), qn AS (
        SELECT vec_id, qv,
               CAST(list_dot_product(qv, qv) AS BIGINT) AS n2
        FROM q
    ), probes(pid, pv, pn2) AS (VALUES {probes_rows}),
    scored AS (
        SELECT p.pid, e.vec_id, e.qv, e.n2,
               CASE WHEN CAST(list_dot_product(e.qv, p.pv) AS BIGINT) < 0
                    THEN -1 ELSE 1 END
               * (10000 * CAST(list_dot_product(e.qv, p.pv) AS BIGINT)
                        * CAST(list_dot_product(e.qv, p.pv) AS BIGINT)
                  // (e.n2 * p.pn2)) AS rel
        FROM qn e CROSS JOIN probes p
    ), cand AS MATERIALIZED (
        SELECT pid, vec_id, qv, n2, rel FROM (
            SELECT *, row_number() OVER (PARTITION BY pid
                          ORDER BY rel DESC, vec_id) AS rn
            FROM scored
        ) WHERE rn <= {_MMR_CAND}
    ), psim AS MATERIALIZED (
        SELECT a.pid, a.vec_id AS va, b.vec_id AS vb,
               CASE WHEN CAST(list_dot_product(a.qv, b.qv) AS BIGINT) < 0
                    THEN -1 ELSE 1 END
               * (10000 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
                        * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
                  // (a.n2 * b.n2)) AS sim
        FROM cand a JOIN cand b
          ON a.pid = b.pid AND a.vec_id <> b.vec_id
    ), s1 AS MATERIALIZED (
        SELECT pid, [vec_id] AS chosen, vec_id AS picked, 1 AS step,
               7 * rel AS mmr_score
        FROM (SELECT pid, vec_id, rel,
                     row_number() OVER (PARTITION BY pid
                         ORDER BY rel DESC, vec_id) AS rn
              FROM cand) WHERE rn = 1
    ),{",".join(steps)}
    SELECT pid AS probe_id, CAST(step AS BIGINT) AS sel_rank,
           CAST(picked AS BIGINT) AS vec_id,
           CAST(mmr_score AS BIGINT) AS mmr_score
    FROM ({union})
    """


@register("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark, sf_dir):
    """Maximal Marginal Relevance retrieval: per probe, a 16-candidate
    relevance short-list is greedily re-ranked into 8 picks maximizing
    λ·rel − (1−λ)·max-sim-to-already-picked (λ=0.7) — the diversification
    step a retrieval-augmented data pipeline runs so near-duplicate
    passages don't crowd a context window. Every score is integer:
    rel and pair-sim are signed cosine² basis points
    (sign(dot)·10⁴·dot²/(|a|²|b|²), exact int64 floor-division on
    1e3-quantized vectors), and the MMR objective is ×10 integerized to
    7·rel − 3·sim, ties to lowest vec_id — so the greedy trajectory is
    bit-identical in both engines. The oracle unrolls the 8 greedy steps
    as static CTE stages (argmax via window per step); the Spark side
    runs the same greedy vectorized inside one applyInPandas per probe
    group.

    100 TB: relevance scoring is a scan-speed map (broadcast probe
    literals) + per-probe top-16 partial top-k; the greedy is O(k·c) on
    ≤16 rows per group, embarrassingly parallel across probes/queries —
    the sequential dependency never leaves a task."""
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        milli().alias("qv"),
    ).withColumn(
        "n2",
        F.aggregate(
            F.zip_with("qv", "qv", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    probe_structs = [
        F.struct(
            F.lit(p).alias("pid"),
            F.array(*[F.lit(int(x)).cast("long") for x in _MMR_PROBES[p]]).alias("pv"),
            F.lit(_MMR_PN2[p]).cast("long").alias("pn2"),
        )
        for p in range(len(_MMR_PROBES))
    ]
    scored = q.select(
        "vec_id", "qv", "n2", F.explode(F.array(*probe_structs)).alias("pr")
    ).select(
        F.col("pr.pid").alias("pid"),
        "vec_id",
        "qv",
        "n2",
        F.aggregate(
            F.zip_with("qv", F.col("pr.pv"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot"),
        F.col("pr.pn2").alias("pn2"),
    ).withColumn(
        "rel",
        F.when(F.col("dot") < 0, -1).otherwise(1).cast("long")
        * F.expr("10000 * dot * dot div (n2 * pn2)"),
    )
    from pyspark.sql import Window as W

    wc = W.partitionBy("pid").orderBy(F.desc("rel"), "vec_id")
    cand = (
        scored.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= _MMR_CAND)
        .select("pid", "vec_id", "qv", "n2", "rel")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rel", "vec_id"], ascending=[False, True])
        ids = [int(x) for x in pdf.vec_id]
        rels = {int(v): int(r) for v, r in zip(pdf.vec_id, pdf.rel)}
        qvs = {int(v): [int(x) for x in qv] for v, qv in zip(pdf.vec_id, pdf.qv)}
        n2s = {int(v): int(n) for v, n in zip(pdf.vec_id, pdf.n2)}

        def sim(a: int, b: int) -> int:
            dot = sum(x * y for x, y in zip(qvs[a], qvs[b]))
            s = (10000 * dot * dot) // (n2s[a] * n2s[b])
            return -s if dot < 0 else s

        pid = int(pdf.pid.iloc[0])
        chosen = [ids[0]]
        out = [(pid, 1, ids[0], 7 * rels[ids[0]])]
        while len(chosen) < _MMR_K:
            best = None
            for c in ids:
                if c in chosen:
                    continue
                score = 7 * rels[c] - 3 * max(sim(c, s) for s in chosen)
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, score)
            chosen.append(best[1])
            out.append((pid, len(chosen), best[1], best[2]))
        return pd.DataFrame(
            out, columns=["probe_id", "sel_rank", "vec_id", "mmr_score"]
        )

    return cand.groupBy("pid").applyInPandas(
        greedy, "probe_id long, sel_rank long, vec_id long, mmr_score long"
    )


_RECALL_K = 100
#: integer probe for the reference ranking: the 1e3-quantized QUERY_VEC
_QVEC_I = [milli_py(x) for x in QUERY_VEC]
_QVEC_I_N2 = sum(x * x for x in _QVEC_I)


@register(
    "sim_recall_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               {milli_duck()} AS qv
        FROM embeddings
    ), ref AS (
        SELECT vec_id FROM (
            SELECT vec_id, row_number() OVER (ORDER BY
                       CASE WHEN CAST(list_dot_product(qv, {{probe}}) AS BIGINT) < 0
                            THEN -1 ELSE 1 END
                       * (CAST(100000000 AS HUGEINT)
                          * CAST(list_dot_product(qv, {{probe}}) AS HUGEINT)
                          * CAST(list_dot_product(qv, {{probe}}) AS BIGINT)
                          // (CAST(list_dot_product(qv, qv) AS HUGEINT) * {_QVEC_I_N2}))
                       DESC, vec_id) AS rn
            FROM q) WHERE rn <= {_RECALL_K}
    ), s AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), sc AS (
        SELECT vec_id, list_max(list_transform(v, x -> abs(x))) AS mx, v FROM s
    ), q8 AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(x * 127 / mx) AS BIGINT)) AS qv
        FROM sc
    ), cand AS (
        SELECT vec_id FROM (
            SELECT vec_id,
                   row_number() OVER (ORDER BY
                       CAST(floor(
                           10000 * list_dot_product(qv, {_sql_list(QVEC_Q8)})
                           / (sqrt(list_dot_product(qv, qv)) * sqrt({_Q8_NORM_SQ}))
                       ) AS BIGINT) DESC, vec_id) AS rn
            FROM q8) WHERE rn <= {_RECALL_K}
    )
    SELECT CAST({_RECALL_K} AS BIGINT) AS k,
           CAST((SELECT count(*) FROM cand JOIN ref USING (vec_id)) AS BIGINT)
               AS n_overlap,
           CAST(1000 * (SELECT count(*) FROM cand JOIN ref USING (vec_id))
                // {_RECALL_K} AS BIGINT) AS recall_permille
    """.replace("{probe}", _sql_list(_QVEC_I)),
)
def sim_recall_eval(spark, sf_dir):
    """Retrieval-quality evaluation AS AN OPERATOR: recall@100 of the int8
    max-abs-quantized cosine ranking (sim_quantized_cosine's scoring)
    against a reference ranking — both fully deterministic, so the recall
    NUMBER itself is hash-verified cross-engine, not just asserted in a
    test. The reference ranks by signed integer cos² (sign·10⁸·dot² /
    (|v|²|q|²) on 1e3-quantized ints — x↦sign(x)·x² is strictly
    increasing, so the ranking equals the cosine ranking with zero float
    surface); the candidate ranking is the e4-floored int8 score. This is
    the eval loop a 100 TB embedding store runs after every quantization
    or index change — here it is a first-class, oracle-checked query
    rather than test-only code.

    100 TB: two scan-speed scoring passes + two TakeOrdered(k) partial
    top-ks + a k-row join."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = milli()
    probe = F.array(*[F.lit(int(x)).cast("long") for x in _QVEC_I])
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qd = e.select("vec_id", qv.alias("qv")).select(
        "vec_id",
        idot(F.col("qv"), probe).alias("dot"),
        idot(F.col("qv"), F.col("qv")).alias("n2"),
    )
    ref_score = F.when(F.col("dot") < 0, -1).otherwise(1).cast("long").cast(
        "decimal(38,0)"
    ) * F.expr(
        # decimal(38,0): 1e8 * dot^2 tops ~4e22, past int64 — HUGEINT in the
        # oracle, decimal with INTEGRAL div here (the exact-truncation pair)
        "CAST(100000000 AS DECIMAL(38,0)) * dot * dot "
        f"div (CAST(n2 AS DECIMAL(38,0)) * {_QVEC_I_N2})"
    )
    ref = (
        qd.select("vec_id", ref_score.alias("s"))
        .orderBy(F.desc("s"), "vec_id")
        .limit(_RECALL_K)
        .select("vec_id")
    )
    # int8 candidate ranking — identical scoring to sim_quantized_cosine
    v = e.select("vec_id", _vec("embedding").alias("v"))
    sc = v.withColumn("mx", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))))
    q8 = sc.withColumn(
        "qv",
        F.transform(
            F.col("v"), lambda x: F.floor(x * F.lit(127.0) / F.col("mx")).cast("double")
        ),
    )
    probe8 = F.array(*[F.lit(float(x)) for x in QVEC_Q8])
    score8 = F.floor(
        F.lit(10000.0)
        * _dot(F.col("qv"), probe8)
        / (F.sqrt(_dot(F.col("qv"), F.col("qv"))) * F.sqrt(F.lit(float(_Q8_NORM_SQ))))
    ).cast("long")
    cand = (
        q8.select("vec_id", score8.alias("s"))
        .orderBy(F.desc("s"), "vec_id")
        .limit(_RECALL_K)
        .select("vec_id")
    )
    return (
        cand.join(ref, "vec_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
        .select(
            F.lit(_RECALL_K).cast("long").alias("k"),
            "n_overlap",
            F.expr(f"CAST(1000 * n_overlap div {_RECALL_K} AS BIGINT)").alias(
                "recall_permille"
            ),
        )
    )


#: shared PQ quantize→codebook→assignment CTE chain — used verbatim by the
#: sim_pq_quantize and sim_adc_search oracles so the two can never drift
#: (the _LM_SCORED_CTE precedent).
_PQ_CODES_CTE = """q AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(x * 1024) AS BIGINT)) AS qv
        FROM embeddings
    ), sub AS (
        SELECT vec_id, m.m, q.qv[m.m * 8 + 1 : m.m * 8 + 8] AS sv
        FROM q CROSS JOIN (SELECT unnest(range(0, 8)) AS m) m
    ), sube AS (
        SELECT vec_id, m,
               unnest(list_transform(sv, (v, i) -> i)) AS i,
               unnest(sv) AS x
        FROM sub
    ), seed AS (
        SELECT m, vec_id AS c, i, x AS cent FROM sube WHERE vec_id < 16
    ), a1 AS (
        SELECT s.vec_id, s.m, sd.c,
               CAST(sum((s.x - sd.cent) * (s.x - sd.cent)) AS BIGINT) AS d2
        FROM sube s JOIN seed sd ON s.m = sd.m AND s.i = sd.i
        GROUP BY s.vec_id, s.m, sd.c
    ), asg1 AS (
        SELECT vec_id, m, c FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2, c) AS rn
            FROM a1)
        WHERE rn = 1
    ), cbe AS (
        SELECT s.m, a.c, s.i,
               CAST(sum(s.x) // count(*) AS BIGINT) AS cent
        FROM sube s JOIN asg1 a ON s.vec_id = a.vec_id AND s.m = a.m
        GROUP BY s.m, a.c, s.i
    ), scored AS (
        SELECT s.vec_id, s.m, cb.c,
               CAST(sum((s.x - cb.cent) * (s.x - cb.cent)) AS BIGINT) AS d2
        FROM sube s JOIN cbe cb ON s.m = cb.m AND s.i = cb.i
        GROUP BY s.vec_id, s.m, cb.c
    ), best AS (
        SELECT vec_id, m, c, d2 FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2, c) AS rn
            FROM scored)
        WHERE rn = 1
    )"""


def _pq_parts(spark, sf_dir):
    """Shared Spark-side PQ construction: (sub-vectors, codebook, best
    assignment) — the exact mirror of the oracle's _PQ_CODES_CTE, factored
    so sim_pq_quantize and sim_adc_search cannot drift.

    Round-14 shape: the codebook is O(1) (8 subspaces × 16 centroids × 8
    ints) at any corpus size, so both the seed table (vec_id < 16, one
    bounded collect) and the one-Lloyd-step refined codebook (one 128-row
    partial-agg rollup + collect) live on the driver and embed into the
    assignment passes as ONE nested literal array indexed by m — the
    vectors.lloyd_centroids discipline. That turns the former
    seed-broadcast join + (vec_id, m) window argmin (shuffle + sort over
    n·8 rows) + sub⋈asg1 join + second window into two map-only argmin
    projections; the only remaining exchange is the codebook rollup
    itself. Rules unchanged and
    integer-exact: argmin ties to the lowest centroid id via
    array_min-over-(d2, c) structs; means are truncating floor-div; the
    centroid literal arrays are ordered by c so index = c."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(x * 1024) AS BIGINT))"
        ).alias("qv"),
    )
    # explode_OUTER (pipeline._band_signatures rationale): the inner form's
    # inferred size filter re-evaluates the 8-subvector slice build per row;
    # transform over a literal sequence is never null/empty, outer ≡ inner.
    sub = q.select(
        "vec_id",
        F.explode_outer(
            F.expr(
                """transform(sequence(0, 7), m ->
                       struct(m AS m, slice(qv, m * 8 + 1, 8) AS sv))"""
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))

    def _cb_sql(table) -> str:
        """Nested literal: array over m of array over c of centroid arrays
        (ordered by c within each m, so the argmin index IS c)."""
        return array_sql(
            [
                array_sql(
                    [array_sql([f"{int(v)}L" for v in cent]) for _, cent in table[m]],
                    "array<bigint>",
                )
                for m in range(8)
            ]
        )

    def _assign_sql(table) -> str:
        """(d2, c) argmin of sv against its m's centroid list, c the
        index (cs[i] maps it back to the centroid id, identity here but
        kept explicit)."""
        return nearest_sql(
            "sv", f"element_at({_cb_sql(table)}, CAST(m AS INT) + 1)"
        )

    seed_rows = (
        q.filter(F.col("vec_id") < 16)
        .select("vec_id", "qv")
        .collect()  # bounded probe: ≤16 rows at any scale
    )
    seed_table = {m: [] for m in range(8)}
    for r in sorted(seed_rows, key=lambda r: r["vec_id"]):
        qv = list(r["qv"])
        for m in range(8):
            seed_table[m].append((int(r["vec_id"]), qv[m * 8 : m * 8 + 8]))
    # map the argmin INDEX back to the seed's centroid id (= its vec_id;
    # identity 0..15 on this corpus, explicit for generality). Index order
    # is c-ascending, so argmin-by-(d2, index) == argmin-by-(d2, c).
    seed_ids = [c for c, _ in seed_table[0]]
    seed_ids_lit = array_sql([f"{int(c)}L" for c in seed_ids])
    asg1 = sub.select(
        "vec_id",
        "m",
        "sv",
        F.expr(
            f"element_at({seed_ids_lit}, "
            f"CAST({_assign_sql(seed_table)}.c AS INT) + 1)"
        ).alias("c"),
    )
    cb_rows = (
        asg1.groupBy("m", "c")
        .agg(
            F.array(
                *[
                    F.expr(f"CAST(sum(sv[{i}]) div count(*) AS BIGINT)")
                    for i in range(8)
                ]
            ).alias("centroid")
        )
        .collect()  # bounded: ≤128 rows at any scale
    )
    cb_table = {m: [] for m in range(8)}
    for r in sorted(cb_rows, key=lambda r: (r["m"], r["c"])):
        cb_table[int(r["m"])].append((int(r["c"]), list(r["centroid"])))
    # a seed centroid can lose every vector in the Lloyd step; keep the
    # surviving ids explicit so the literal index maps back to c
    cs_by_m = {m: [c for c, _ in cb_table[m]] for m in cb_table}
    cb = spark.createDataFrame(
        [(m, c, cent) for m in range(8) for c, cent in cb_table[m]],
        "m long, c long, centroid array<long>",
    )
    best_struct = _assign_sql(cb_table)

    def _c_of(m_expr: str) -> str:
        """Map argmin INDEX back to centroid id via the per-m survivor
        list (identity when all 16 survive)."""
        cs_lit = array_sql(
            [array_sql([f"{int(c)}L" for c in cs_by_m[m]]) for m in range(8)]
        )
        return f"element_at(element_at({cs_lit}, CAST(m AS INT) + 1), CAST({m_expr} AS INT) + 1)"

    # c is coalesce-pinned NON-NULLABLE (value-identical: the argmin over a
    # non-empty literal codebook is never null on real rows): downstream
    # equi-joins on c otherwise make InferFiltersFromConstraints add
    # isnotnull(c) and filter pushdown inlines the whole argmin + survivor
    # lookup into that inferred filter (as in vectors.lloyd_centroids).
    best = sub.select(
        "vec_id",
        "m",
        F.coalesce(F.expr(_c_of(best_struct + ".c")), F.lit(-1)).alias("c"),
        F.expr(best_struct + ".d").alias("d2"),
    )
    return sub, cb, best


@register(
    "sim_pq_quantize",
    oracle=f"""
    WITH {_PQ_CODES_CTE}
    SELECT vec_id,
           string_agg(CAST(c AS VARCHAR), '-' ORDER BY m) AS pq_code,
           CAST(sum(d2) AS BIGINT) AS recon_err_sq
    FROM best GROUP BY vec_id
    """,
)
def sim_pq_quantize(spark, sf_dir):
    """Product quantization — the compression layer every billion-vector
    ANN index (FAISS IVF-PQ) stands on: the 64-dim embedding splits into
    8 sub-vectors of 8 dims, each assigned to its nearest of 16 per-
    subspace centroids, so a vector stores as an 8-symbol code (4 bytes)
    instead of 256 float bytes. Everything is exact integer: elements
    quantize to int (floor ×1024) BEFORE any mean (a float mean would be
    summation-order-dependent), codebooks start from 16 REAL sub-vectors
    (vec_id 0-15 — k-means++-style spread, where modulo-partition means
    would all collapse to the global mean on this data) refined by ONE
    exact Lloyd step (integer argmin assign, truncating-div means) —
    assignment is integer squared-L2 argmin with smallest-centroid ties,
    and the emitted reconstruction error is the exact integer residual.

    100 TB: the codebook is a 128-row broadcast (8 subspaces × 16
    centroids); encoding is a map-side explode → argmin per (vec,
    subspace) with NO shuffle on the vector table beyond the final
    per-vec regroup — at a billion vectors this is one pass, and
    distance queries against codes become 8 table lookups (the ADC
    trick), which is why PQ beats raw floats at scale."""
    _sub, _cb, best = _pq_parts(spark, sf_dir)
    return best.groupBy("vec_id").agg(
        F.concat_ws(
            "-",
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "c"))),
                lambda st: st.c.cast("string"),
            ),
        ).alias("pq_code"),
        F.sum("d2").cast("long").alias("recon_err_sq"),
    )


#: probe sub-element explode + per-(probe, m, c) ADC distance table — the
#: two query-side stages every ADC consumer shares (sim_adc_search and
#: curation's sim_ann_ivfadc interpolate this ONE text after
#: _PQ_CODES_CTE, so the searcher's distance-table construction can't
#: drift between the full-scan and IVF-restricted forms — round-13
#: review finding).
_PQ_ADC_CTE = """probee AS (
        SELECT vec_id AS probe_id, m,
               unnest(list_transform(sv, (v, i) -> i)) AS i,
               unnest(sv) AS x
        FROM sub WHERE vec_id < 5
    ), dtab AS (
        SELECT p.probe_id, p.m, cb.c,
               CAST(sum((p.x - cb.cent) * (p.x - cb.cent)) AS BIGINT) AS d2
        FROM probee p JOIN cbe cb ON p.m = cb.m AND p.i = cb.i
        GROUP BY p.probe_id, p.m, cb.c
    )"""


@register(
    "sim_adc_search",
    oracle=f"""
    WITH {_PQ_CODES_CTE}, {_PQ_ADC_CTE}, adc AS (
        SELECT d.probe_id, b.vec_id, CAST(sum(d.d2) AS BIGINT) AS adc_d2
        FROM best b JOIN dtab d ON b.m = d.m AND b.c = d.c
        WHERE b.vec_id != d.probe_id
        GROUP BY d.probe_id, b.vec_id
    )
    SELECT probe_id, vec_id, adc_d2, CAST(rn AS BIGINT) AS rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_d2, vec_id) AS rn
        FROM adc)
    WHERE rn <= 5
    """,
)
def sim_adc_search(spark, sf_dir):
    """Asymmetric distance computation over PQ codes — how a billion-
    vector index actually answers queries: each of the 5 probe vectors
    precomputes its 8×4 integer distance table to the codebook
    (||probe_m − centroid(m,c)||², exact), and every database vector's
    approximate distance is then just the SUM OF 8 TABLE LOOKUPS on its
    code symbols — the database vectors themselves are never touched
    again. Top-5 per probe, (distance, vec_id) ties. Shares _pq_parts /
    _PQ_CODES_CTE with sim_pq_quantize, so encoder and searcher can't
    drift; everything integer, so the APPROXIMATE result is still exactly
    hash-verifiable (approximation error is in the metric, not the
    engine).

    100 TB: the distance table is |probes|·32 rows broadcast onto the
    code table (8 rows per vector, narrow join on (m, c)); per-probe
    accumulation is one groupBy on (probe, vec). No vector data moves —
    that is the entire point of PQ+ADC at scale; recall tuning is
    codebook size, measured here by the companion recall test."""
    sub, cb, best = _pq_parts(spark, sf_dir)
    probes = sub.filter(F.col("vec_id") < 5).withColumnsRenamed(
        {"vec_id": "probe_id", "sv": "pv"}
    )
    dtab = probes.join(F.broadcast(cb), "m").select(
        "probe_id",
        "m",
        "c",
        sq_l2("pv", "centroid").alias("td2"),
    )
    adc = (
        best.drop("d2")
        .join(F.broadcast(dtab), ["m", "c"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("td2").cast("long").alias("adc_d2"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy("adc_d2", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("probe_id", "vec_id", "adc_d2", "rnk")
    )


@register(
    "sim_truncated_dims_eval",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(x * 1024) AS BIGINT)) AS qv
        FROM embeddings
    ), pairs AS (
        SELECT p.vec_id AS probe_id, b.vec_id,
               p.qv AS pv, b.qv AS bv
        FROM q p CROSS JOIN q b
        WHERE p.vec_id < 5 AND b.vec_id != p.vec_id
    ), pe AS (
        SELECT probe_id, vec_id,
               unnest(list_transform(pv, (v, i) -> i)) AS i,
               unnest(pv) AS px, unnest(bv) AS bx
        FROM pairs
    ), d AS (
        SELECT probe_id, vec_id,
               CAST(sum((px - bx) * (px - bx)) AS BIGINT) AS d_full,
               CAST(sum(CASE WHEN i <= 16
                             THEN (px - bx) * (px - bx) ELSE 0 END) AS BIGINT)
                   AS d_trunc
        FROM pe GROUP BY probe_id, vec_id
    ), rf AS (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY d_full, vec_id) AS r_full,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY d_trunc, vec_id) AS r_trunc
        FROM d
    )
    SELECT probe_id,
           CAST(count(*) FILTER (r_full <= 5 AND r_trunc <= 5) AS BIGINT)
               AS overlap_at_5,
           CAST(min(CASE WHEN r_full = 1 THEN r_trunc END) AS BIGINT)
               AS trunc_rank_of_true_nn
    FROM rf GROUP BY probe_id
    """,
)
def sim_truncated_dims_eval(spark, sf_dir):
    """Matryoshka-style truncation evaluation: how much retrieval quality
    survives keeping only the first 16 of 64 embedding dims — per probe,
    the overlap between the full-dimension top-5 and the truncated top-5,
    plus where the TRUE nearest neighbor lands in the truncated ranking.
    The modern embedding-serving question (MRL / dimension-sliced
    indexes), answered with exact integer-quantized L2 on both sides so
    the evaluation itself is hash-verifiable.

    100 TB: the 5 probes broadcast against the corpus (linear scan, no
    pair shuffle); both distances come out of ONE zip_with pass over
    each pair (the truncated sum is a conditional inside the same fold);
    rankings are probe-partitioned windows."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(x * 1024) AS BIGINT))"
        ).alias("qv"),
    )
    probes = q.filter(F.col("vec_id") < 5).withColumnsRenamed(
        {"vec_id": "probe_id", "qv": "pv"}
    )
    d = (
        q.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            sq_l2("pv", "qv").alias("d_full"),
            F.expr(sq_l2_sql("slice(pv, 1, 16)", "slice(qv, 1, 16)")).alias(
                "d_trunc"
            ),
        )
    )
    from pyspark.sql import Window

    wf = Window.partitionBy("probe_id").orderBy("d_full", "vec_id")
    wt = Window.partitionBy("probe_id").orderBy("d_trunc", "vec_id")
    rf = d.select(
        "probe_id",
        "vec_id",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wt).alias("r_trunc"),
    )
    return rf.groupBy("probe_id").agg(
        F.sum(
            F.when((F.col("r_full") <= 5) & (F.col("r_trunc") <= 5), 1).otherwise(0)
        )
        .cast("long")
        .alias("overlap_at_5"),
        F.min(F.when(F.col("r_full") == 1, F.col("r_trunc")))
        .cast("long")
        .alias("trunc_rank_of_true_nn"),
    )


#: NDCG@5 discount weights: w_i = 10^12 div floor(10^6*log2(i+1) + 1e-6),
#: computed ONCE here and shared verbatim by query and oracle — the same
#: module-level-constant discipline as QVEC_Q8, so no cross-engine libm
#: surface exists at all.
_NDCG_W = {
    i: 10**12 // math.floor(1e6 * math.log2(i + 1) + 1e-6) for i in range(1, 6)
}
_NDCG_IDCG = sum((6 - i) * w for i, w in _NDCG_W.items())
_NDCG_W_SQL = "CASE rnk " + " ".join(
    f"WHEN {i} THEN {w}" for i, w in _NDCG_W.items()
) + " END"


@register(
    "sim_ndcg_eval",
    oracle=f"""
    WITH {_PQ_CODES_CTE}, probee AS (
        SELECT vec_id AS probe_id, m,
               unnest(list_transform(sv, (v, i) -> i)) AS i,
               unnest(sv) AS x
        FROM sub WHERE vec_id < 5
    ), dtab AS (
        SELECT p.probe_id, p.m, cb.c,
               CAST(sum((p.x - cb.cent) * (p.x - cb.cent)) AS BIGINT) AS d2
        FROM probee p JOIN cbe cb ON p.m = cb.m AND p.i = cb.i
        GROUP BY p.probe_id, p.m, cb.c
    ), adc AS (
        SELECT d.probe_id, b.vec_id, CAST(sum(d.d2) AS BIGINT) AS adc_d2
        FROM best b JOIN dtab d ON b.m = d.m AND b.c = d.c
        WHERE b.vec_id != d.probe_id
        GROUP BY d.probe_id, b.vec_id
    ), sys AS (
        SELECT probe_id, vec_id, rnk FROM (
            SELECT probe_id, vec_id,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY adc_d2, vec_id) AS rnk
            FROM adc)
        WHERE rnk <= 5
    ), gte AS (
        SELECT vec_id, unnest(list_transform(qv, (v, i) -> i)) AS i,
               unnest(qv) AS x
        FROM q
    ), gtp AS (
        SELECT vec_id AS probe_id, i, x FROM gte WHERE vec_id < 5
    ), gtd AS (
        SELECT p.probe_id, v.vec_id,
               CAST(sum((p.x - v.x) * (p.x - v.x)) AS BIGINT) AS d2
        FROM gtp p JOIN gte v ON p.i = v.i
        WHERE v.vec_id != p.probe_id
        GROUP BY 1, 2
    ), gtr AS (
        SELECT probe_id, vec_id, CAST(6 - rn AS BIGINT) AS rel FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
                                         ORDER BY d2, vec_id) AS rn
            FROM gtd)
        WHERE rn <= 5
    )
    SELECT s.probe_id,
           CAST(sum(coalesce(g.rel, 0) * ({_NDCG_W_SQL})) AS BIGINT)
               AS dcg_micro,
           CAST({_NDCG_IDCG} AS BIGINT) AS idcg_micro,
           CAST(1000 * sum(coalesce(g.rel, 0) * ({_NDCG_W_SQL}))
                // {_NDCG_IDCG} AS BIGINT) AS ndcg_permille,
           CAST(sum(CASE WHEN g.rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
    FROM sys s LEFT JOIN gtr g
      ON s.probe_id = g.probe_id AND s.vec_id = g.vec_id
    GROUP BY s.probe_id
    """,
)
def sim_ndcg_eval(spark, sf_dir):
    """NDCG@5 ranking-quality eval of the PQ/ADC searcher against the
    EXACT quantized-distance ranking — the graded companion to
    sim_recall_eval (recall says whether the right items surfaced; NDCG
    says whether they surfaced in the right ORDER, discounting misplaced
    tail hits). Relevance is 6 − exact_rank for the exact top-5, 0
    otherwise; discount weights 10¹² div ⌊10⁶·log₂(i+1)⌋ are module-level
    Python constants shared VERBATIM by query and oracle, so there is no
    cross-engine transcendental surface at all; DCG/IDCG/NDCG are exact
    integer sums and one truncating division. Composes on the registered
    sim_adc_search plan (same PQ codes, same tiebreaks).

    100 TB: ground truth is the brute-force exact pass you run on a
    SAMPLE of probes (5 here) — the standard index-quality audit; the
    eval joins two top-5 lists per probe, so its cost is the two
    retrieval passes, nothing more."""
    adc = sim_adc_search(spark, sf_dir).select(
        "probe_id", "vec_id", F.col("rnk").cast("long").alias("rnk")
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(floor(x * 1024) AS BIGINT))").alias(
            "qv"
        ),
    )
    probes = q.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("qp")
    )
    from pyspark.sql import Window

    gtd = (
        q.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            sq_l2("qp", "qv").alias("d2"),
        )
    )
    wg = Window.partitionBy("probe_id").orderBy("d2", "vec_id")
    gtr = (
        gtd.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "vec_id", (F.lit(6) - F.col("rn")).cast("long").alias("rel"))
    )
    joined = adc.join(gtr, ["probe_id", "vec_id"], "left").select(
        "probe_id",
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
        F.expr(_NDCG_W_SQL).alias("w"),
    )
    return joined.groupBy("probe_id").agg(
        F.sum(F.col("rel") * F.col("w")).cast("long").alias("dcg_micro"),
        F.lit(_NDCG_IDCG).cast("long").alias("idcg_micro"),
        F.expr(f"CAST(1000 * sum(rel * w) div {_NDCG_IDCG} AS BIGINT)").alias(
            "ndcg_permille"
        ),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
    )


_GRAPH_M = 4  # out-degree of the neighbor graph
_GRAPH_K = 5  # results per query
_GRAPH_QMOD = 101  # query set: vec_id % _GRAPH_QMOD == 0


def _ann_graph_oracle() -> str:
    # Sign bits for the ENTIRE extended plane pool, then dynamic-width band
    # signatures: the _lsh_geometry ladder's (bands, bits) is recomputed in
    # SQL from count(*) with the same integer thresholds, band b's
    # signature is the 2^j-weighted dot of signs[b·bits+1 .. (b+1)·bits] —
    # at tier 3 (every driver-verified scale) this is bit-identical to the
    # original fixed 4×3 oracle.
    sign_entries = ", ".join(
        f"CASE WHEN list_dot_product(qv, {_sql_list(_lsh_plane(p))})"
        " >= 0 THEN 1 ELSE 0 END"
        for p in range(_LSH_POOL)
    )
    bits_case = (
        "CASE "
        + " ".join(
            f"WHEN (SELECT count(*) FROM q) <= {_LSH_TARGET_BUCKET << b} THEN {b}"
            for b in range(BAND_BITS, _LSH_MAX_BITS)
        )
        + f" ELSE {_LSH_MAX_BITS} END"
    )
    powers = _sql_list([1 << j for j in range(_LSH_MAX_BITS)])
    return f"""
    WITH q AS (
        SELECT vec_id,
               {milli_duck()} AS qv
        FROM embeddings
    ), geom AS (
        SELECT bits, {N_BANDS - BAND_BITS} + bits AS bands
        FROM (SELECT {bits_case} AS bits)
    ), qn AS (
        SELECT vec_id, qv,
               CAST(list_dot_product(qv, qv) AS BIGINT) AS n2
        FROM q
    ), s AS (
        SELECT vec_id, [{sign_entries}] AS signs FROM q
    ), banded AS (
        -- slice start mirrors _lsh_plane_index: tier 3 = the original
        -- contiguous layout, deeper tiers offset past the 12 originals
        SELECT vec_id, band,
               CAST(list_dot_product(
                   list_slice(signs, start0 + 1,
                              start0 + (SELECT bits FROM geom)),
                   list_slice({powers}, 1, (SELECT bits FROM geom)))
                   AS BIGINT) AS sig
        FROM (SELECT vec_id, signs, band,
                     CASE WHEN (SELECT bits FROM geom) = {BAND_BITS}
                          THEN band * {BAND_BITS}
                          ELSE {N_PLANES} + band * (SELECT bits FROM geom)
                     END AS start0
              FROM (SELECT vec_id, signs,
                           unnest(range((SELECT bands FROM geom))) AS band
                    FROM s))
    ),
    bucket_pairs AS (
        SELECT DISTINCT b1.vec_id AS src, b2.vec_id AS dst
        FROM banded b1
        JOIN banded b2 ON b1.band = b2.band AND b1.sig = b2.sig
                      AND b1.vec_id <> b2.vec_id
    ), scored_edges AS (
        SELECT p.src, p.dst,
               (CASE WHEN CAST(list_dot_product(a.qv, b.qv) AS BIGINT) < 0
                     THEN -1 ELSE 1 END)
               * CAST((100000000::HUGEINT
                       * CAST(list_dot_product(a.qv, b.qv) AS HUGEINT)
                       * CAST(list_dot_product(a.qv, b.qv) AS BIGINT))
                      // (a.n2::HUGEINT * b.n2) AS BIGINT) AS score
        FROM bucket_pairs p
        JOIN qn a ON a.vec_id = p.src
        JOIN qn b ON b.vec_id = p.dst
    ), nbr AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY score DESC, dst ASC) AS rn
            FROM scored_edges) WHERE rn <= {_GRAPH_M}
    ), queries AS (
        SELECT vec_id AS qid FROM q WHERE vec_id % {_GRAPH_QMOD} = 0
    ), seeds AS (
        SELECT DISTINCT qs.qid, b2.vec_id AS cand
        FROM queries qs
        JOIN banded bq ON bq.vec_id = qs.qid
        JOIN banded b2 ON b2.band = bq.band AND b2.sig = bq.sig
                      AND b2.vec_id <> qs.qid
    ), cand AS (
        SELECT DISTINCT qid, cand FROM (
            SELECT qid, cand FROM seeds
            UNION ALL
            SELECT s.qid, n.dst AS cand FROM seeds s
            JOIN nbr n ON n.src = s.cand
        ) WHERE cand <> qid
    ), reranked AS (
        SELECT c.qid, c.cand,
               (CASE WHEN CAST(list_dot_product(a.qv, b.qv) AS BIGINT) < 0
                     THEN -1 ELSE 1 END)
               * CAST((100000000::HUGEINT
                       * CAST(list_dot_product(a.qv, b.qv) AS HUGEINT)
                       * CAST(list_dot_product(a.qv, b.qv) AS BIGINT))
                      // (a.n2::HUGEINT * b.n2) AS BIGINT) AS score
        FROM cand c
        JOIN qn a ON a.vec_id = c.qid
        JOIN qn b ON b.vec_id = c.cand
    )
    SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank,
           cand AS vec_id, score AS signed_cos2_x1e8
    FROM (
        SELECT qid, cand, score,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, cand ASC) AS rn
        FROM reranked) WHERE rn <= {_GRAPH_K}
    """


@register("sim_ann_graph", oracle=_ann_graph_oracle())
def sim_ann_graph(spark, sf_dir):
    """Graph-based ANN (the NSW/HNSW family's batch formulation),
    completing the index spectrum next to brute force (sim_knn_query),
    banded LSH (sim_ann_lsh), IVF (sim_ann_ivf) and IVF-PQ
    (sim_pq_quantize/sim_adc_search): an INDEX PASS builds a bounded
    out-degree-4 neighbor graph (LSH bucket-mates re-ranked exactly, top-4
    per node), and the QUERY PASS seeds each query with its own bucket-
    mates, expands one hop along the graph — the 'follow the neighbors of
    close nodes' step that gives graph indexes their recall — and exactly
    re-ranks the united candidate set to top-5. Unlike library ANN, every
    stage is hash-verified cross-engine: vectors are 1e3-quantized to
    integers (the sim_recall_eval discipline), sign bits come from integer
    hyperplane dots, and ranking uses signed integer cos²
    (sign·10⁸·dot² div |a|²|b|² — strictly increasing in cosine, zero
    float surface).

    100 TB: graph build touches only bucket-colliding pairs (banded
    equi-join — never all-pairs) and caps the materialized index at 4
    edges/node; the bands×bits geometry comes from the _lsh_geometry scale
    ladder on a one-scalar cardinality probe, so per-band bucket occupancy
    (and with it the bucket-mate pair count per vector) stays bounded as
    the corpus grows instead of scaling linearly (the 13.2×-at-10×-data
    seam, SCALE_r13.json; the oracle recomputes the same integer tier from
    count(*)). The query pass is equi-joins against a broadcast-scale
    query set, with candidates bounded by |seeds|·(1+M). Beam iterations
    beyond one hop would repeat the expand join; one hop is the
    measured-sufficient depth here (recall pinned in tests)."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = milli()
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    qn = (
        e.select("vec_id", qv.alias("qv"))
        # explicit vec_id fan-out (the _openvocab_band_rows discipline): a
        # raw single-file scan is ONE partition, and the checkpoint pins
        # that layout — serializing the bands×bits signature folds, the
        # bucket-join expansion AND both sides of every scoring join
        # downstream; AQE cannot widen a materialized RDD
        .repartition(n_part, F.col("vec_id"))
        .withColumn("n2", idot(F.col("qv"), F.col("qv")))
        # referenced by the signature build and by BOTH sides of every
        # scoring join — checkpoint or the quantization re-runs 5×
        .localCheckpoint(eager=False)
    )
    # The signature expression is built as ONE SQL string: composing it
    # from 768 F.lit() Column objects (12 planes × 64 components) costs
    # ~2 s of py4j plan-construction chatter PER INVOCATION — driver-side
    # latency, not execution (profiled; the sig job itself is
    # milliseconds on 2k rows).
    def _plane_dot(p: int) -> str:
        h = "array(" + ", ".join(f"{x}L" for x in _lsh_plane(p)) + ")"
        return (
            f"aggregate(zip_with(qv, {h}, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    bands, bits = _lsh_geometry(e.count())
    band_exprs = ", ".join(
        " + ".join(
            f"(CASE WHEN {_plane_dot(_lsh_plane_index(b, j, bits))} >= 0"
            f" THEN {2 ** j} ELSE 0 END)"
            for j in range(bits)
        )
        for b in range(bands)
    )
    # posexplode_OUTER (pipeline._band_signatures rationale): the inner
    # form's inferred size filter re-inlines the bands×bits dot-product
    # build into an always-true predicate that the checkpoint then
    # MATERIALIZES (2× the signature stage); sigs is a constructed array,
    # outer ≡ inner row-for-row.
    banded = (
        qn.select("vec_id", F.expr(f"array({band_exprs})").alias("sigs"))
        .select(
            "vec_id", "sigs", F.posexplode_outer("sigs").alias("band", "sig")
        )
        .localCheckpoint(eager=False)  # 3 references: pair join sides + seeds
    )
    b1 = banded.select(
        F.col("vec_id").alias("src"), F.col("sigs").alias("sigs1"), "band", "sig"
    )
    b2 = banded.select(
        F.col("vec_id").alias("dst"),
        F.col("sigs").alias("sigs2"),
        F.col("band").alias("band2"),
        F.col("sig").alias("sig2"),
    )
    # src < dst: enumerate each undirected bucket pair ONCE — score is
    # symmetric, so scoring the half-pair set and mirroring afterwards
    # halves the 64-element fold work (measured 5.7 s → 4.5 s at sf0.1).
    # Multi-band collisions dedup INSIDE the join via the first-matching-
    # band predicate (the _lsh_candidate_pairs carry) instead of the former
    # distinct — one fewer shuffle of the expanded pair set (round-14).
    bucket_pairs = b1.join(
        b2,
        (F.col("band") == F.col("band2"))
        & (F.col("sig") == F.col("sig2"))
        & (F.col("src") < F.col("dst"))
        & (first_match_band(bands) == F.col("band")),
    ).select("src", "dst")

    def scored(pairs, left, right):
        a = qn.select(
            F.col("vec_id").alias("_a"), F.col("qv").alias("qa"),
            F.col("n2").alias("n2a"),
        )
        b = qn.select(
            F.col("vec_id").alias("_b"), F.col("qv").alias("qb"),
            F.col("n2").alias("n2b"),
        )
        return (
            pairs.join(a, F.col(left) == F.col("_a"))
            .join(b, F.col(right) == F.col("_b"))
            .withColumn("dot", idot(F.col("qa"), F.col("qb")))
            .select(
                left,
                right,
                F.expr(
                    "(CASE WHEN dot < 0 THEN -1 ELSE 1 END)"
                    " * CAST((CAST(100000000 AS DECIMAL(38,0)) * dot * dot)"
                    "        div (CAST(n2a AS DECIMAL(38,0)) * n2b) AS BIGINT)"
                ).alias("score"),
            )
        )

    from pyspark.sql import Window

    w_src = Window.partitionBy("src").orderBy(
        F.col("score").desc(), F.col("dst").asc()
    )
    # mirror inline (explode, one pass) — a self-union would re-execute the
    # scored subtree and give the halving back
    edges = scored(bucket_pairs, "src", "dst").select(
        # explode_OUTER: a constructed 2-struct array is never null/empty,
        # and the inner form's inferred size filter would rebuild it per
        # row in an always-true predicate (pipeline._band_signatures).
        F.explode_outer(
            F.array(
                F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
            )
        ).alias("e"),
        "score",
    ).select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"), "score")
    nbr = (
        edges.withColumn("rn", F.row_number().over(w_src))
        .filter(F.col("rn") <= _GRAPH_M)
        .select("src", "dst")
    )
    queries = qn.filter(F.col("vec_id") % _GRAPH_QMOD == 0).select(
        F.col("vec_id").alias("qid")
    )
    bq = banded.withColumnRenamed("vec_id", "qid").withColumnRenamed(
        "sigs", "sigs1"
    )
    seeds = (
        F.broadcast(queries)
        .join(bq, "qid")
        .join(
            b2,
            (F.col("band") == F.col("band2"))
            & (F.col("sig") == F.col("sig2"))
            & (F.col("dst") != F.col("qid"))
            # first-matching-band dedup replaces the former distinct
            & (first_match_band(bands) == F.col("band")),
        )
        .select("qid", F.col("dst").alias("cand"))
        .localCheckpoint(eager=False)  # referenced by union AND expand join
    )
    expanded = seeds.join(
        nbr, seeds.cand == nbr.src
    ).select("qid", F.col("dst").alias("cand"))
    cand = (
        seeds.unionByName(expanded)
        .filter(F.col("cand") != F.col("qid"))
        .distinct()
    )
    w_q = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("cand").asc()
    )
    return (
        scored(cand, "qid", "cand")
        .withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= _GRAPH_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rn").cast("long").alias("rank"),
            F.col("cand").alias("vec_id"),
            F.col("score").alias("signed_cos2_x1e8"),
        )
    )


@register(
    "sim_centroid_classify",
    oracle=f"""
    WITH e0 AS (
        SELECT vec_id, label,
               {md5_bucket_duck("vec_id", 5)}
                   AS b,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qa
        FROM embeddings
    ), q AS (
        SELECT vec_id, label, b,
               unnest(list_transform(generate_series(1, len(qa)), i ->
                   struct_pack(pos := i, qv := qa[i]))) AS u
        FROM e0
    ), comps AS (
        SELECT vec_id, label, b, u.pos AS pos, u.qv AS qv FROM q
    ), cent AS (
        SELECT label, pos, CAST(sum(qv) AS BIGINT) AS s
        FROM comps WHERE b <> 0 GROUP BY 1, 2
    ), nc AS (
        SELECT label, CAST(sum(s * s) AS BIGINT) AS nc FROM cent GROUP BY 1
    ), na AS (
        SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS na
        FROM comps WHERE b = 0 GROUP BY 1
    ), dots AS (
        SELECT t.vec_id, c.label AS label_pred,
               CAST(sum(t.qv * c.s) AS BIGINT) AS dot
        FROM comps t JOIN cent c ON t.pos = c.pos
        WHERE t.b = 0
        GROUP BY 1, 2
    ), scored AS (
        SELECT d.vec_id, d.label_pred,
               (CASE WHEN d.dot < 0 THEN -1 ELSE 1 END)
                 * ((CAST(d.dot AS HUGEINT) * d.dot * 1000000)
                    // (CAST(na.na AS HUGEINT) * nc.nc)) AS sc
        FROM dots d
        JOIN na ON d.vec_id = na.vec_id AND na.na > 0
        JOIN nc ON d.label_pred = nc.label
    ), pick AS (
        SELECT vec_id, label_pred,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sc DESC, label_pred ASC) AS rn
        FROM scored
    )
    SELECT e0.label AS label_true, p.label_pred,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM pick p JOIN e0 ON p.vec_id = e0.vec_id
    WHERE p.rn = 1
    GROUP BY 1, 2
    """,
)
def sim_centroid_classify(spark, sf_dir):
    """Nearest-centroid classification over the embeddings table with a
    deterministic 80/20 content-hash split: per-label centroids from the
    train buckets, every test vector assigned to its most-cosine-similar
    centroid, output as the exact confusion matrix — the cheap "are these
    embeddings linearly separable by label?" eval a curation pipeline runs
    before spending on a real probe. Everything is integer-exact: vectors
    quantize to milli-units via floor() (floor, never round — Spark
    rounds half-up, DuckDB half-even, floor agrees everywhere), the
    centroid is used UN-normalized (cosine is scale-invariant, so the
    integer component-sum vector ranks identically to the mean), and
    ranking uses the signed squared-cosine in integer micro-units —
    sign(dot)·dot²·10⁶ // (‖a‖²·‖c‖²) — computed in DECIMAL(38,0)/HUGEINT
    (dot² alone can reach ~7e20), with a label tiebreak. No float enters
    the comparison, so the argmax is bit-stable across engines and
    partitionings.

    100 TB: the centroid table is |labels|·dim rows — broadcast; test
    vectors never pairwise-join anything (this is the O(n·k) counterpoint
    to sim_topk_cosine's O(n²/B)), and the three aggregations are
    map-side-combined shuffles on (label,pos) / vec_id-shaped keys. The
    int64 component-sum headroom (±1000-unit comps) is ~9e12 train rows
    per label; past that the centroid sum itself moves to DECIMAL(38,0).

    Cites SURVEY §2.10 (similarity-search family) and the sampling.py
    md5-bucket split convention."""
    e0 = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            md5_bucket("vec_id", 5).alias("b"),
            F.expr(
                "transform(embedding,"
                " x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
            ).alias("qa"),
        )
        .localCheckpoint(eager=False)  # consumers: comps + the truth join
    )
    comps = e0.select(
        "vec_id", "label", "b", F.posexplode("qa").alias("pos", "qv")
    )
    cent = (
        comps.filter(F.col("b") != 0)
        .groupBy("label", "pos")
        .agg(F.sum("qv").cast("long").alias("s"))
        .localCheckpoint(eager=False)  # consumers: dots + nc
    )
    nc = cent.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).cast("long").alias("nc"))
    na = (
        comps.filter(F.col("b") == 0)
        .groupBy("vec_id")
        .agg(F.sum(F.col("qv") * F.col("qv")).cast("long").alias("na"))
        .filter(F.col("na") > 0)
    )
    dots = (
        comps.filter(F.col("b") == 0)
        .join(F.broadcast(cent.withColumnRenamed("label", "label_pred")), "pos")
        .groupBy("vec_id", "label_pred")
        .agg(F.sum(F.col("qv") * F.col("s")).cast("long").alias("dot"))
    )
    scored = (
        dots.join(na, "vec_id")
        .join(F.broadcast(nc.withColumnRenamed("label", "label_pred")), "label_pred")
        .withColumn(
            "sc",
            F.expr(
                "(CASE WHEN dot < 0 THEN -1 ELSE 1 END)"
                " * ((CAST(dot AS DECIMAL(38,0)) * dot * 1000000)"
                "    DIV (CAST(na AS DECIMAL(38,0)) * nc))"
            ),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sc").desc(), F.col("label_pred").asc()
    )
    pick = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pick.join(e0.select("vec_id", F.col("label").alias("label_true")), "vec_id")
        .groupBy("label_true", "label_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


@register(
    "sim_silhouette_eval",
    oracle="""
    WITH e0 AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qa
        FROM embeddings
    ), comps AS (
        SELECT vec_id, label, u.pos AS pos, u.qv AS qv
        FROM (
            SELECT vec_id, label,
                   unnest(list_transform(generate_series(1, len(qa)), i ->
                       struct_pack(pos := i, qv := qa[i]))) AS u
            FROM e0
        )
    ), cent AS (
        SELECT label, pos, CAST(sum(qv) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS cnt
        FROM comps GROUP BY 1, 2
    ), dnum AS (
        SELECT t.vec_id, t.label AS own_label, c.label AS cand_label,
               any_value(c.cnt) AS cnt,
               CAST(sum((t.qv * c.cnt - c.s) * (t.qv * c.cnt - c.s))
                   AS BIGINT) AS d2
        FROM comps t JOIN cent c ON t.pos = c.pos
        GROUP BY 1, 2, 3
    ), dists AS (
        SELECT vec_id, own_label, cand_label,
               sqrt(CAST(d2 AS DOUBLE)) / cnt AS dist
        FROM dnum
    ), ab AS (
        SELECT vec_id, own_label,
               max(CASE WHEN cand_label = own_label THEN dist END) AS a,
               min(CASE WHEN cand_label <> own_label THEN dist END) AS b
        FROM dists GROUP BY 1, 2
    )
    SELECT own_label AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg((b - a) / greatest(a, b)), 4) AS mean_silhouette,
           CAST(count(CASE WHEN b < a THEN 1 END) AS BIGINT) AS n_negative,
           round(avg(a), 4) AS mean_a,
           round(avg(b), 4) AS mean_b
    FROM ab
    GROUP BY own_label
    """,
)
def sim_silhouette_eval(spark, sf_dir):
    """Simplified (centroid-based) silhouette per label over the
    embeddings: a(i) = distance to the own-label centroid, b(i) = nearest
    other centroid, s(i) = (b-a)/max(a,b) -- the cluster-quality eval that
    says whether labels form tight, separated clusters (s->1) or overlap
    (s<=0), at O(n*k) instead of exact silhouette's O(n^2). The distance
    core is integer-exact: ||v - S/c||^2 = sum((v_i*c - S_i)^2)/c^2 keeps
    the numerator an exact BIGINT (centroids never materialize as floats;
    the per-row sqrt/division is a single deterministic IEEE op, not a
    float aggregate), so a/b comparisons are bit-stable. Only the three
    per-label means are float sums -- each rounds at 4dp. Own centroid
    includes the point itself (the standard simplified-silhouette
    convention). Expected reading on this corpus: ~0 everywhere -- the
    synthetic embeddings have no label geometry (the sim_centroid_classify
    finding, confirmed here by an independent metric).

    100 TB: the |labels|*dim centroid table broadcasts; each vector joins
    only its components against k centroids (O(n*k) work, map-side rollup
    on vec_id); no pairwise pass exists. The (v_i*c - S_i)^2 numerator
    passes int64 when cnt*|comp| nears 2^31 -- pin the decimal escalation
    there."""
    e0 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("qa"),
    )
    comps = e0.select(
        "vec_id", "label", F.posexplode("qa").alias("pos", "qv")
    ).localCheckpoint(eager=False)  # consumers: centroid build + distance join
    cent = comps.groupBy(F.col("label").alias("cand_label"), "pos").agg(
        F.sum("qv").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    diff = F.col("qv") * F.col("cnt") - F.col("s")
    dnum = (
        comps.withColumnRenamed("label", "own_label")
        .join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "own_label", "cand_label")
        .agg(
            F.any_value("cnt").alias("cnt"),
            F.sum(diff * diff).cast("long").alias("d2"),
        )
    )
    dists = dnum.select(
        "vec_id",
        "own_label",
        "cand_label",
        (F.sqrt(F.col("d2").cast("double")) / F.col("cnt")).alias("dist"),
    )
    ab = dists.groupBy("vec_id", "own_label").agg(
        F.max(
            F.when(F.col("cand_label") == F.col("own_label"), F.col("dist"))
        ).alias("a"),
        F.min(
            F.when(F.col("cand_label") != F.col("own_label"), F.col("dist"))
        ).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return ab.groupBy(F.col("own_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.avg(s), 4).alias("mean_silhouette"),
        F.count(F.when(F.col("b") < F.col("a"), 1)).cast("long").alias("n_negative"),
        F.round(F.avg("a"), 4).alias("mean_a"),
        F.round(F.avg("b"), 4).alias("mean_b"),
    )
