"""Deterministic sampling operators.

Training-data pipelines sample constantly — for eval splits, for cheap
profiling, for debugging at scale. Engine-native ``df.sample()`` is
seed-based but implementation-specific (Spark's XORShift vs DuckDB's RNG),
so it can never hash-match across engines; these operators instead sample by
**content hash** (md5 of the row key), which is deterministic, reproducible
across engines AND across cluster sizes/partitionings — the property a
production eval-split must have (re-running the pipeline on a re-partitioned
copy of the data yields the identical split).

Hash-mod sampling is also the 100 TB story: a filter on ``md5(key)`` is
embarrassingly parallel, needs no coordination, no sort, and no state —
unlike reservoir sampling, which needs a global pass.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import (
    cents,
    cents_sql,
    md5_bucket,
    md5_bucket_duck,
    md5_hex,
    md5_int,
    md5_int_duck,
    md5_int_sql,
    md5_order,
    md5_order_duck,
    milli,
    milli_duck,
)
from ..functions.vectors import array_sql, sq_l2_sql
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()


@register(
    "sample_hash_mod",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE {md5_bucket_duck('o_orderkey', 10)} = 0
    """,
)
def sample_hash_mod(spark, sf_dir):
    """~10% deterministic sample of orders: keep rows whose md5(key) falls
    in bucket 0 of 10. Pure scan+filter (codegen'd md5), no shuffle; the
    same rows are selected regardless of partitioning or cluster size."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(md5_bucket("o_orderkey", 10) == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "sample_stratified",
    oracle=f"""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer
    WHERE {md5_bucket_duck('c_custkey', 20)}
          < CASE WHEN c_mktsegment = 'BUILDING' THEN 4 ELSE 1 END
    """,
)
def sample_stratified(spark, sf_dir):
    """Stratified hash sampling with per-stratum rates: 20% of BUILDING
    customers, 5% of every other segment (rate = allowed buckets / 20).
    Changing a stratum's rate only widens its bucket range, so previously
    sampled rows stay sampled — nested/consistent samples for free."""
    c = load_table(spark, sf_dir, "customer")
    rate_buckets = F.when(F.col("c_mktsegment") == "BUILDING", 4).otherwise(1)
    return c.filter(md5_bucket("c_custkey", 20) < rate_buckets).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )


@register(
    "sample_k_per_stratum",
    oracle=f"""
    SELECT c_mktsegment, c_custkey, c_acctbal
    FROM customer
    QUALIFY row_number() OVER (
        PARTITION BY c_mktsegment
        ORDER BY {md5_order_duck('c_custkey')}
    ) <= 5
    """,
)
def sample_k_per_stratum(spark, sf_dir):
    """Exactly-k-per-group sample (k=5 per segment): rank rows inside each
    stratum by md5(key) — a deterministic 'random' order both engines agree
    on — and keep the first k. The bounded-output alternative to rate
    sampling when downstream wants fixed-size per-group exemplars; one
    shuffle on the stratum key, k rows kept per group map-side via
    partial top-k."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(*md5_order("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
    )


@register(
    "sample_train_valid_test",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang, n_chars,
               {md5_bucket_duck('doc_id', 100)} AS bucket
        FROM documents
    )
    SELECT doc_id, lang, n_chars,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """,
)
def sample_train_valid_test(spark, sf_dir):
    """80/10/10 train/valid/test split by content hash — THE eval-split
    pattern for training-data pipelines: membership depends only on
    md5(doc_id), so the split is identical across reruns, engines,
    partitionings and cluster sizes, and appending new data never moves an
    existing doc between splits (no leakage from re-splitting). Pure
    projection over a scan: embarrassingly parallel at any scale."""
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_bucket("doc_id", 100)
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "sample_priority_topk",
    oracle=f"""
    WITH pri AS (
        SELECT o_orderkey, o_totalprice,
               CAST({cents_sql('o_totalprice')} * 65537 AS DOUBLE)
               / ({md5_int_duck('o_orderkey', 4)} + 1) AS priority
        FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           CAST(floor(priority) AS BIGINT) AS priority_floor
    FROM pri
    ORDER BY priority DESC, o_orderkey
    LIMIT 100
    """,
)
def sample_priority_topk(spark, sf_dir):
    """Priority sampling (Duffield-Lund-Thorup): each order draws priority
    w/u with weight w = its value in cents and u uniform on (0,1]; the
    top-k priorities form a weighted sample without replacement whose
    max(w, tau) estimator gives unbiased subset sums. u comes from the
    content-hash discipline — u = (h+1)/65537 with h the md5 16-bit
    bucket — so the sample is reproducible across engines, partitionings
    and cluster sizes. Determinism note: priority = double(w·65537)/(h+1)
    is ONE exact integer product (< 2^53) followed by ONE IEEE division,
    which both engines round identically — unlike the textbook u^(1/w)
    exponent form whose transcendental log/pow has no cross-engine
    rounding guarantee. The reported priority is FLOORED to an integer
    (floor of identical doubles is identical) rather than round()ed —
    Spark and DuckDB round() disagree on decimal-terminating ties (README
    discipline list), floor never does.

    100 TB: global top-k, not a global sort — Spark's
    TakeOrderedAndProject keeps k rows per partition map-side and merges
    k·P on the driver; the scan is the only full pass."""
    o = load_table(spark, sf_dir, "orders")
    h = md5_int("o_orderkey", 4)
    priority = (cents("o_totalprice") * 65537).cast("double") / (h + 1)
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            priority.alias("priority_raw"),
        )
        .orderBy(F.desc("priority_raw"), "o_orderkey")
        .limit(100)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.floor("priority_raw").cast("long").alias("priority_floor"),
        )
    )


@register(
    "sample_balanced_classes",
    oracle=f"""
    WITH k AS (
        SELECT min(cnt) AS k FROM (
            SELECT count(*) AS cnt FROM documents GROUP BY lang
        )
    )
    SELECT lang, doc_id, n_chars
    FROM documents, k
    QUALIFY row_number() OVER (
        PARTITION BY lang
        ORDER BY {md5_order_duck('doc_id')}
    ) <= k.k
    """,
)
def sample_balanced_classes(spark, sf_dir):
    """Class-balanced downsampling: every language keeps exactly
    min-class-size documents (the majority classes are downsampled to the
    measured minority count — en is ~3x fr in this corpus), chosen in the
    deterministic md5 order so the balanced subset is reproducible across
    engines and re-partitionings. The per-class k is MEASURED (one tiny
    groupBy→min aggregate carried as a 1-row broadcast), the same
    measured-cardinality pattern as adaptive_n_blocks — never a config
    constant that goes stale as the corpus grows.

    100 TB: one shuffle on the class key with map-side partial top-k
    (rank <= k prunes per partition); the k probe costs one scalar agg.
    The balanced-mixture alternative with repetition is
    sample_mix_rebalance; this is the strict no-repetition variant."""
    d = load_table(spark, sf_dir, "documents")
    k = d.groupBy("lang").count().agg(F.min("count").alias("k"))
    w = Window.partitionBy("lang").orderBy(*md5_order("doc_id"))
    return (
        d.crossJoin(F.broadcast(k))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("k"))
        .select("lang", "doc_id", "n_chars")
    )


_TEMP_K = 300  # total docs in the temperature-balanced mix


@register(
    "sample_temperature_mix",
    oracle=f"""
    WITH n AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM documents GROUP BY lang
    ), w AS (
        SELECT lang, nl, CAST(floor(sqrt(nl)) AS BIGINT) AS sl FROM n
    ), tot AS (
        SELECT CAST(sum(sl) AS BIGINT) AS s FROM w
    ), k AS (
        SELECT lang, nl, sl, ({_TEMP_K} * sl) // tot.s AS kl FROM w, tot
    )
    SELECT d.lang, d.doc_id, d.n_chars
    FROM documents d JOIN k ON k.lang = d.lang
    QUALIFY row_number() OVER (
        PARTITION BY d.lang
        ORDER BY {md5_order_duck('d.doc_id')}
    ) <= k.kl
    """,
)
def sample_temperature_mix(spark, sf_dir):
    """Temperature-scaled language mix (the mT5/XLM-R α-sampling rule at
    α = 0.5): per-language quotas ∝ √n_lang, so low-resource languages are
    up-weighted relative to their raw share without majority languages
    vanishing — the standard pretraining-mix compromise between
    proportional and uniform. Determinism: the weight is floor(√n) as an
    INTEGER (IEEE sqrt of an integer is correctly rounded and identical
    in both engines, floor makes it discrete), the normalizer is the
    integer sum of those weights, and each quota is one integer
    floor-division — no float normalization sum whose order could
    differ. Selection inside a language is the reproducible md5 order.

    100 TB: the quota table is |langs| rows (broadcast); selection is the
    same one-shuffle partial-top-k as sample_k_per_stratum. The quotas
    adapt to the measured distribution — nothing is hard-coded."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        d.groupBy("lang")
        .agg(F.count("*").cast("long").alias("nl"))
        .withColumn("sl", F.floor(F.sqrt(F.col("nl"))).cast("long"))
    )
    tot = w.agg(F.sum("sl").cast("long").alias("s"))
    k = w.crossJoin(F.broadcast(tot)).select(
        "lang", F.expr(f"({_TEMP_K} * sl) div s").alias("kl")
    )
    win = Window.partitionBy("lang").orderBy(*md5_order("doc_id"))
    return (
        d.join(F.broadcast(k), "lang")
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= F.col("kl"))
        .select("lang", "doc_id", "n_chars")
    )


_MIX_WEIGHT_SQL = (
    "CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 15 WHEN 'es' THEN 15 "
    "WHEN 'fr' THEN 15 WHEN 'zh' THEN 15 ELSE 10 END"
)
_EPOCH_CAP_PERMILLE = 4000  # never repeat a source more than 4 epochs


@register(
    "sample_token_budget_mix",
    oracle=f"""
    WITH avail AS (
        SELECT lang,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens,
               CAST({_MIX_WEIGHT_SQL} AS BIGINT) AS weight_pct
        FROM documents GROUP BY lang
    ), budget AS (
        SELECT (3 * CAST(sum(avail_tokens) AS BIGINT)) // 2 AS budget_total
        FROM avail
    ), plan AS (
        SELECT lang, avail_tokens, weight_pct,
               (budget.budget_total * weight_pct) // 100 AS target_tokens
        FROM avail, budget
    )
    SELECT lang, avail_tokens, weight_pct, target_tokens,
           least({_EPOCH_CAP_PERMILLE},
                 (1000 * target_tokens) // avail_tokens) AS epochs_permille,
           ((1000 * target_tokens) // avail_tokens) > {_EPOCH_CAP_PERMILLE}
               AS capped,
           avail_tokens
               * least({_EPOCH_CAP_PERMILLE},
                       (1000 * target_tokens) // avail_tokens) // 1000
               AS planned_tokens
    FROM plan
    """,
)
def sample_token_budget_mix(spark, sf_dir):
    """Token-budget epoch allocation — the planning step a pretraining mix
    actually starts from: given a total token budget (here 150% of the
    corpus, so some languages must repeat) and a target language mix
    (integer weight table; unknown langs get a floor weight), allocate
    target tokens per lang and convert to an epoch multiplier, capped at
    4 epochs (the standard repeated-data guidance) with the cap surfaced
    as a flag so the shortfall is visible, not silently eaten. Every
    number is an integer (floor-division permille epochs), so the plan is
    bit-identical across engines and across partitionings. 100 TB: one
    scan-speed token-count aggregate to a |langs|-row plan table; the plan
    then drives sample_temperature_mix-style selection — planning never
    touches row data."""
    d = load_table(spark, sf_dir, "documents")
    avail = (
        d.groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).cast("long").alias("avail_tokens"))
        .withColumn("weight_pct", F.expr(f"CAST({_MIX_WEIGHT_SQL} AS BIGINT)"))
    )
    budget = avail.agg(
        F.expr("(3 * CAST(sum(avail_tokens) AS BIGINT)) div 2").alias("budget_total")
    )
    raw_epochs = "(1000 * target_tokens) div avail_tokens"
    return (
        avail.crossJoin(F.broadcast(budget))
        .withColumn(
            "target_tokens", F.expr("(budget_total * weight_pct) div 100")
        )
        .select(
            "lang",
            "avail_tokens",
            "weight_pct",
            "target_tokens",
            F.expr(f"least({_EPOCH_CAP_PERMILLE}, {raw_epochs})").alias(
                "epochs_permille"
            ),
            F.expr(f"{raw_epochs} > {_EPOCH_CAP_PERMILLE}").alias("capped"),
            F.expr(
                f"avail_tokens * least({_EPOCH_CAP_PERMILLE}, {raw_epochs}) div 1000"
            ).alias("planned_tokens"),
        )
    )


@register(
    "sample_importance_estimate",
    oracle=f"""
    WITH s AS (
        SELECT {cents_sql('o_totalprice')} AS cents,
               {md5_bucket_duck('o_orderkey', 10)} = 0 AS in_sample
        FROM orders
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sample,
               CAST(sum(cents) AS BIGINT) AS true_total_cents,
               CAST(10 * sum(CASE WHEN in_sample THEN cents ELSE 0 END)
                    AS BIGINT) AS estimated_total_cents
        FROM s
    )
    SELECT n_total, n_sample, true_total_cents, estimated_total_cents,
           CAST(1000 * abs(estimated_total_cents - true_total_cents)
                // true_total_cents AS BIGINT) AS abs_error_permille
    FROM agg
    """,
)
def sample_importance_estimate(spark, sf_dir):
    """Horvitz-Thompson estimation from a hash sample: the 10%
    deterministic md5 bucket (sample_hash_mod's exact rule) estimates the
    corpus revenue total by weighting every sampled row at 1/p = 10; the
    exact total, the estimate, and the realized error (permille) are all
    emitted — the query pattern that makes 10× cheaper dashboards
    honest, because the weight correction and its error are computed, not
    assumed. Everything integer (the weight is exact, the error is a
    truncating div).

    100 TB: one scan computes BOTH totals in a single aggregate (the
    estimate costs nothing extra here because the scan already runs; in
    production only the sampled partition is scanned and the true total
    is the known baseline being reconciled). Hash sampling keeps the
    estimate reproducible across engines and reruns — a seeded RNG
    sample could never be cross-verified."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        cents("o_totalprice").alias("cents"),
        (md5_bucket("o_orderkey", 10) == 0).alias("in_sample"),
    )
    agg = s.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0))
        .cast("long")
        .alias("n_sample"),
        F.sum("cents").alias("true_total_cents"),
        (F.lit(10) * F.sum(F.when(F.col("in_sample"), F.col("cents")).otherwise(0)))
        .cast("long")
        .alias("estimated_total_cents"),
    )
    return agg.select(
        "n_total",
        "n_sample",
        "true_total_cents",
        "estimated_total_cents",
        F.expr(
            """CAST(1000 * abs(estimated_total_cents - true_total_cents)
                    div true_total_cents AS BIGINT)"""
        ).alias("abs_error_permille"),
    )


#: deterministic negatives per customer for implicit-feedback training pairs
_NEG_K = 2


@register(
    "sample_negatives",
    oracle=f"""
    WITH pos AS (
        SELECT DISTINCT o.o_custkey, p.p_brand
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
    ), brands AS (
        SELECT DISTINCT p_brand FROM part
    ), cand AS (
        SELECT c.c_custkey AS o_custkey, b.p_brand
        FROM customer c CROSS JOIN brands b
        WHERE NOT EXISTS (SELECT 1 FROM pos
                          WHERE pos.o_custkey = c.c_custkey
                            AND pos.p_brand = b.p_brand)
    ), neg AS (
        SELECT o_custkey, p_brand FROM (
            SELECT o_custkey, p_brand,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY {md5_int_duck(
                           "'neg|' || CAST(o_custkey AS VARCHAR) || '|' || p_brand",
                           15)}, p_brand) AS rn
            FROM cand)
        WHERE rn <= {_NEG_K}
    )
    SELECT o_custkey, p_brand, CAST(1 AS BIGINT) AS label FROM pos
    UNION ALL
    SELECT o_custkey, p_brand, CAST(0 AS BIGINT) AS label FROM neg
    """,
)
def sample_negatives(spark, sf_dir):
    """Deterministic negative sampling for implicit-feedback training
    pairs (the word2vec / two-tower recsys data-prep step): positives are
    the observed distinct (customer, brand) purchases; negatives are, per
    customer, the 2 hash-ranked brands the customer has NEVER
    bought — an ANTI-JOIN against the positives, so label noise is zero
    by construction (uniform random negatives would collide with unseen
    positives). The md5 ranking makes the draw reproducible across
    engines, partitionings, and reruns (§10 lesson 10).

    100 TB: the candidate space is customers × the BROADCAST 25-row brand
    dimension (linear in customers, never |users|×|items| materialized
    beyond the stream), the anti-join shuffles on the composite key, and
    the per-customer top-k window partitions on the probe key. For a
    million-item catalog the same shape holds with a hash-bucketed
    candidate slice instead of the full cross product."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    pos = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("o_custkey", "p_brand")
        .distinct()
    )
    brands = p.select("p_brand").distinct()
    cand = (
        c.select(F.col("c_custkey").alias("o_custkey"))
        .crossJoin(F.broadcast(brands))
        .join(pos, ["o_custkey", "p_brand"], "left_anti")
    )
    h = md5_int(
        F.concat(
            F.lit("neg|"),
            F.col("o_custkey").cast("string"),
            F.lit("|"),
            F.col("p_brand"),
        ),
        15,
    )
    w = Window.partitionBy("o_custkey").orderBy(h.asc(), F.col("p_brand").asc())
    neg = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NEG_K)
        .select("o_custkey", "p_brand")
    )
    return pos.select(
        "o_custkey", "p_brand", F.lit(1).cast("long").alias("label")
    ).unionAll(
        neg.select("o_custkey", "p_brand", F.lit(0).cast("long").alias("label"))
    )


#: Neyman optimal-allocation total sample size
_NEYMAN_N = 200


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH strata AS (
        SELECT o_orderpriority AS stratum,
               CAST(count(*) AS HUGEINT) AS n_h,
               CAST(sum(CAST({cents_sql('o_totalprice')} AS HUGEINT)) AS HUGEINT)
                   AS s1,
               CAST(sum(CAST({cents_sql('o_totalprice')} AS HUGEINT)
                        * CAST({cents_sql('o_totalprice')} AS HUGEINT))
                    AS HUGEINT) AS s2
        FROM orders GROUP BY 1
    ), scored AS (
        SELECT stratum, n_h,
               CAST(floor(sqrt(CAST((n_h * s2 - s1 * s1) // n_h // (n_h - 1)
                                    AS DOUBLE))) AS HUGEINT) AS sd_cents,
               n_h * CAST(floor(sqrt(CAST((n_h * s2 - s1 * s1) // n_h // (n_h - 1)
                                          AS DOUBLE))) AS HUGEINT) AS weight
        FROM strata
    ), tot AS (
        SELECT CAST(sum(weight) AS HUGEINT) AS wtot FROM scored
    )
    SELECT stratum, CAST(n_h AS BIGINT) AS n_stratum,
           CAST(sd_cents AS BIGINT) AS sd_cents,
           CAST({_NEYMAN_N} * weight // wtot AS BIGINT) AS alloc_n,
           CAST(1000000 * weight // wtot AS BIGINT) AS alloc_share_ppm
    FROM scored CROSS JOIN tot
    """,
)
def sample_neyman_allocation(spark, sf_dir):
    """Neyman optimal allocation for stratified sampling: each stratum's
    share of the n = 200 sample budget is proportional to N_h·σ_h —
    high-variance strata get oversampled, the design that minimizes the
    estimator variance at fixed cost (the planning step in front of
    sample_stratified, which executes given rates). σ_h comes from exact
    HUGEINT cent moments; the single float touch is one IEEE sqrt, which
    IS correctly rounded (unlike log/exp — IEEE 754 requires exact
    rounding for sqrt), so floor(sqrt(x)) of the identical double is
    deterministic across engines; the integer division before it keeps
    the radicand identically truncated on both sides. Allocations are
    truncating integer shares.

    100 TB: one partial-aggregated rollup per stratum (5 rows), then
    arithmetic on the 5-row frame — the allocation plan costs one scan
    regardless of volume, and its output feeds the executing sampler."""
    o = load_table(spark, sf_dir, "orders")
    price_cents = cents("o_totalprice").cast("decimal(38,0)")
    strata = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count("*").cast("decimal(38,0)").alias("n_h"),
        F.sum(price_cents).alias("s1"),
        F.sum(price_cents * price_cents).alias("s2"),
    )
    sd = F.floor(
        F.sqrt(
            F.expr("(n_h * s2 - s1 * s1) div n_h div (n_h - 1)").cast("double")
        )
    ).cast("decimal(38,0)")
    scored = strata.select(
        "stratum", "n_h", sd.alias("sd_cents"), (F.col("n_h") * sd).alias("weight")
    )
    tot = scored.agg(F.sum("weight").alias("wtot"))
    return scored.crossJoin(F.broadcast(tot)).select(
        "stratum",
        F.col("n_h").cast("long").alias("n_stratum"),
        F.col("sd_cents").cast("long").alias("sd_cents"),
        F.expr(f"CAST({_NEYMAN_N} * weight div wtot AS BIGINT)").alias("alloc_n"),
        F.expr("CAST(1000000 * weight div wtot AS BIGINT)").alias(
            "alloc_share_ppm"
        ),
    )


@register(
    "sample_kfold_assignments",
    oracle=f"""
    WITH f AS (
        SELECT {md5_bucket_duck('o_orderkey', 5)} AS fold, o_orderstatus
        FROM orders
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS big_n FROM f
    )
    SELECT fold,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(1000 * count(*) // any_value(t.big_n) AS BIGINT)
               AS share_permille,
           CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)
               AS n_status_f,
           CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT)
               AS n_status_o,
           CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT)
               AS n_status_p
    FROM f CROSS JOIN t
    GROUP BY fold
    """,
)
def sample_kfold_assignments(spark, sf_dir):
    """5-fold cross-validation assignment audit: every order lands in
    exactly one md5-content-hash fold (deterministic and
    partitioning/engine-independent — the same property every sampler in
    this module leans on), with fold sizes, permille shares, and the
    per-class counts a CV harness checks before trusting the split
    (near-equal folds, class balance preserved). Being hash-derived, the
    same row keeps its fold when data is appended — no leakage between
    re-runs of an experiment.

    100 TB: a single stateless projection + one 5-group map-side-combined
    rollup; the grand total broadcasts as a 1-row BNLJ."""
    o = load_table(spark, sf_dir, "orders")
    f = o.select(
        md5_bucket("o_orderkey", 5).alias("fold"), "o_orderstatus"
    )
    t = f.agg(F.count(F.lit(1)).cast("long").alias("big_n"))
    return (
        f.crossJoin(F.broadcast(t))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr("CAST(1000 * count(1) DIV any_value(big_n) AS BIGINT)").alias(
                "share_permille"
            ),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).cast("long").alias(
                "n_status_f"
            ),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).cast("long").alias(
                "n_status_o"
            ),
            F.count(F.when(F.col("o_orderstatus") == "P", 1)).cast("long").alias(
                "n_status_p"
            ),
        )
    )


@register(
    "sample_systematic",
    oracle=f"""
    WITH ordered AS (
        SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
               row_number() OVER (
                   ORDER BY {md5_order_duck('o_orderkey')}
               ) AS rn
        FROM orders
    )
    SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
    FROM ordered WHERE rn % 100 = 1
    """,
)
def sample_systematic(spark, sf_dir):
    """Systematic 1-in-100 sample: rank every order along a pseudo-random
    axis (md5 of the key) and keep every 100th row. Versus
    sample_hash_mod's Bernoulli-style bucket filter, systematic sampling
    guarantees the EXACT sample size ceil(N/100) — the property survey
    methodology cares about when downstream cost is budgeted per row —
    while the hashed sort axis removes the periodicity risk of stepping
    through a meaningfully-ordered file. Deterministic and engine-portable
    (md5 is bit-identical everywhere; the o_orderkey tiebreak makes the
    total order unique, so no rank flapping).

    100 TB: an honest global rank NEEDS a total order, but NOT a
    single-partition window — this is the etl_surrogate_keys
    decomposition: range-repartition on the digest, rank LOCALLY per
    partition, roll partition counts into broadcast exclusive-prefix
    offsets, global rn = offset + local rank. Range partitions are
    ordered and non-overlapping so the composition equals the naive
    global row_number exactly (the oracle states the naive form; the
    equality is the correctness claim). localCheckpoint pins ONE
    boundary sampling — repartitionByRange re-samples per execution,
    the round-7 sf0.1 landmine. For budget-capped selection without a
    sort, sample_priority_topk is the cheaper cousin; this key is the
    exact-grid variant."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    keyed = o.withColumn("h", md5_hex("o_orderkey"))
    parts = keyed.repartitionByRange(8, "h", "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("pid").orderBy("h", "o_orderkey")
    local = parts.withColumn(
        "lrank", F.row_number().over(w_local).cast("long")
    ).localCheckpoint(eager=False)
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.count("*").cast("long").alias("n"))
        # bounded global window: one row per PARTITION (8 rows) — the
        # offsets-of-counts shape, never over data rows
        .withColumn("off", F.coalesce(F.sum("n").over(w_off), F.lit(0)).cast("long"))
        .select("pid", "off")
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .filter((F.col("off") + F.col("lrank")) % 100 == 1)
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# k-center greedy coreset (round 10)
# ---------------------------------------------------------------------------

_KCENTER_K = 8


def _kcenter_oracle() -> str:
    parts = [f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id, label, {milli_duck()} AS qv
        FROM embeddings
    ), c1 AS MATERIALIZED (
        SELECT 1 AS rank, vec_id, label, qv FROM q
        ORDER BY {md5_order_duck('vec_id')} LIMIT 1
    )"""]
    prev = "c1"
    for i in range(2, _KCENTER_K + 1):
        parts.append(f""", d{i} AS MATERIALIZED (
        SELECT q.vec_id, q.label, q.qv,
               min(CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                   j -> (q.qv[j] - c.qv[j]) * (q.qv[j] - c.qv[j]))) AS BIGINT))
                   AS min_d2
        FROM q, {prev} c GROUP BY 1, 2, 3
    ), p{i} AS MATERIALIZED (
        SELECT {i} AS rank, vec_id, label, qv FROM d{i}
        ORDER BY min_d2 DESC, vec_id LIMIT 1
    ), c{i} AS MATERIALIZED (
        SELECT * FROM {prev} UNION ALL SELECT * FROM p{i}
    )""")
        prev = f"c{i}"
    parts.append(f""", radius AS (
        SELECT CAST(max(min_d2) AS BIGINT) AS coverage_radius_d2 FROM (
            SELECT q.vec_id,
                   min(CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                       j -> (q.qv[j] - c.qv[j]) * (q.qv[j] - c.qv[j])))
                       AS BIGINT)) AS min_d2
            FROM q, {prev} c GROUP BY 1)
    )
    SELECT CAST(c.rank AS BIGINT) AS rank, c.vec_id, c.label,
           r.coverage_radius_d2
    FROM {prev} c CROSS JOIN radius r""")
    return "".join(parts)


@register("sample_coreset_kcenter", oracle=_kcenter_oracle())
def sample_coreset_kcenter(spark, sf_dir):
    """Greedy k-center coreset selection (farthest-point traversal — the
    2-approximation of Gonzalez 1985, the coreset/data-pruning selector
    of Sener & Savarese 2018): seed with the hash-smallest vector (the
    repo's derandomization rule), then 7 times add the point FARTHEST
    from the chosen set (max over min-d2, vec_id tie-break). Output: the
    8 chosen centers in selection order plus the final coverage radius
    max_v min_{c∈C} d²(v, c) — the k-center objective the greedy
    2-approximates, i.e. 'every vector is within √radius of a kept
    exemplar'. Coresets pick the most-diverse exemplars for labeling /
    eval-set construction / data pruning — the selection counterpart of
    dedup (which removes the redundant; this KEEPS the maximally
    spread).

    All integer: milli-quantized vectors, exact integer squared-L2,
    total-order tie-breaks — the unrolled 8-step trajectory is
    hash-stable across engines and partitionings (the sim_kmeans_lloyd /
    graph_pagerank fixed-iteration contract; the oracle unrolls the same
    8 steps as MATERIALIZED CTEs).

    100 TB: each of the k rounds is ONE broadcast of the ≤k chosen
    centers, one narrow zip_with distance pass, and a TakeOrdered(1)
    reduce — no shuffle at all beyond the top-1 merge; the chosen-set
    frame localCheckpoints each round (graph-loop discipline, lineage
    stays flat). k passes over the data is the honest cost of the greedy
    guarantee; at huge scale you run it on a hash-sample or pre-cluster
    (the semdedup blocking), structure unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", "label", milli().alias("qv")
    ).localCheckpoint(eager=False)

    # Round-15 shape: the chosen set is BOUNDED (k = 8 at any corpus
    # size), so it lives on the driver between rounds and embeds into each
    # pass as literal arrays — the vectors.lloyd_centroids driver-side
    # trainer pattern. Each round is ONE map-only TakeOrdered(1) job
    # (min-d2 as a least() over k literal d2 folds); the former
    # frame-resident loop paid a broadcast build, an n×|C| crossJoin
    # expansion, a vec_id groupBy SHUFFLE and an eager checkpoint per
    # round. Trajectory
    # identical: same integer d2, least() = the old per-group min, same
    # (min_d2 DESC, vec_id ASC) pick order.
    def _min_d2(centers):
        terms = [
            sq_l2_sql("qv", array_sql([f"{int(v)}L" for v in c[3]]))
            for c in centers
        ]
        return F.expr(
            terms[0] if len(terms) == 1 else f"least({', '.join(terms)})"
        )

    seed_rows = (
        q.orderBy(*md5_order("vec_id"))
        .limit(1)
        .select("vec_id", "label", "qv")
        .collect()
    )
    # label keeps the table's INT type (schemas.EMBEDDINGS) — the output
    # schema must be byte-identical to the old frame-resident shape
    out_schema = "rank long, vec_id long, label int, coverage_radius_d2 long"
    if not seed_rows:  # empty corpus → empty selection, like the old shape
        return spark.createDataFrame([], out_schema)

    def _center(rank, row):
        # a null label passes through as null, as in the oracle
        label = None if row["label"] is None else int(row["label"])
        return (rank, int(row["vec_id"]), label, [int(x) for x in row["qv"]])

    chosen = [_center(1, seed_rows[0])]

    for i in range(2, _KCENTER_K + 1):
        pick = (
            q.select("vec_id", "label", "qv", _min_d2(chosen).alias("min_d2"))
            .orderBy(F.col("min_d2").desc(), F.col("vec_id").asc())
            .limit(1)
            .select("vec_id", "label", "qv")
            .collect()[0]
        )
        chosen.append(_center(i, pick))

    radius = int(
        q.agg(F.max(_min_d2(chosen)).cast("long").alias("r")).first()["r"]
    )
    return spark.createDataFrame(
        [(rank, vid, lab, radius) for rank, vid, lab, _ in chosen], out_schema
    )


# ---------------------------------------------------------------------------
# PPS systematic sampling (round 10)
# ---------------------------------------------------------------------------

_PPS_N = 100  # fixed sample budget (picks)


@register(
    "sample_pps_systematic",
    oracle=f"""
    WITH ordered AS (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               {cents_sql('o_totalprice')} AS cents,
               sum({cents_sql('o_totalprice')}) OVER (
                   ORDER BY {md5_order_duck('o_orderkey')}
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM orders
    ), tot AS (
        SELECT CAST(sum(cents) AS BIGINT) AS t FROM ordered
    ), grid AS (
        SELECT t, t // {_PPS_N} AS step, (t // {_PPS_N}) // 2 AS start
        FROM tot
    ), hits AS (
        SELECT o.*,
               least({_PPS_N}, CASE WHEN o.cum > g.start
                   THEN (o.cum - g.start + g.step - 1) // g.step
                   ELSE 0 END)
             - least({_PPS_N}, CASE WHEN o.cum - o.cents > g.start
                   THEN (o.cum - o.cents - g.start + g.step - 1) // g.step
                   ELSE 0 END) AS n_hits
        FROM ordered o, grid g
    )
    SELECT o_orderkey, o_custkey, o_orderpriority, cents,
           CAST(n_hits AS BIGINT) AS n_hits
    FROM hits WHERE n_hits > 0
    """,
)
def sample_pps_systematic(spark, sf_dir):
    """Probability-proportional-to-size systematic sample (Madow 1949;
    the πps design behind every large survey and the size-weighted
    cousin of sample_systematic): lay a fixed grid of {100} equally
    spaced points over the cumulative-revenue axis (step = T div 100,
    deterministic mid-step start) and keep each order whose cumulative
    slice contains ≥1 grid point — inclusion probability ∝ order value,
    and an order worth more than one step is picked multiple times
    (n_hits is its sampling weight divisor, reported per row). The
    pseudo-random md5 walk order removes periodicity, and the fixed
    100-point budget makes downstream cost exactly plannable — the
    size-biased complement to sample_systematic's equal-probability
    grid. All-integer: cents axis, floor step, ceil-count of grid points
    below a boundary via (x−start+step−1) div step on non-negative
    operands (identical truncation both engines), count capped at the
    budget so the grid never runs past T.

    100 TB: the global cumulative sum NEVER runs in one partition —
    range-repartition on the digest, cumsum LOCALLY per partition, roll
    per-partition totals into broadcast exclusive-prefix offsets, global
    cum = offset + local cum (the sample_systematic/etl_surrogate_keys
    decomposition; range partitions are ordered and disjoint so the
    composition equals the naive global window the oracle states). The
    grid parameters are one 1-row broadcast; localCheckpoint pins ONE
    range-boundary sampling per execution."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        cents("o_totalprice").alias("cents"),
    )
    keyed = o.withColumn("h", md5_hex("o_orderkey"))
    parts = keyed.repartitionByRange(8, "h", "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("pid").orderBy("h", "o_orderkey")
    local = parts.withColumn(
        "lcum", F.sum("cents").over(w_local).cast("long")
    ).localCheckpoint(eager=False)
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.sum("cents").cast("long").alias("pt"))
        # bounded global window: one row per PARTITION (8 rows) — the
        # offsets-of-counts shape, never over data rows
        .withColumn("off", F.coalesce(F.sum("pt").over(w_off), F.lit(0)).cast("long"))
        .select("pid", "off")
    )
    grid = (
        local.agg(F.sum("cents").cast("long").alias("t"))
        .select(
            F.expr(f"t div {_PPS_N}").alias("step"),
            F.expr(f"(t div {_PPS_N}) div 2").alias("start"),
        )
    )
    npts = (
        "least({n}, IF({x} > start, ({x} - start + step - 1) div step, 0))"
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("cum", (F.col("off") + F.col("lcum")).cast("long"))
        .crossJoin(F.broadcast(grid))
        .withColumn(
            "n_hits",
            (
                F.expr(npts.format(n=_PPS_N, x="cum"))
                - F.expr(npts.format(n=_PPS_N, x="(cum - cents)"))
            ).cast("long"),
        )
        .filter(F.col("n_hits") > 0)
        .select("o_orderkey", "o_custkey", "o_orderpriority", "cents", "n_hits")
    )


@register(
    "sample_ht_estimate",
    oracle=f"""
    WITH ordered AS (
        SELECT o_orderpriority,
               {cents_sql('o_totalprice')} AS cents,
               sum({cents_sql('o_totalprice')}) OVER (
                   ORDER BY {md5_order_duck('o_orderkey')}
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM orders
    ), tot AS (
        SELECT CAST(sum(cents) AS BIGINT) AS t FROM ordered
    ), grid AS (
        SELECT t, t // {_PPS_N} AS step, (t // {_PPS_N}) // 2 AS start
        FROM tot
    ), picks AS (
        SELECT o.o_orderpriority, o.cents, g.t,
               least({_PPS_N}, CASE WHEN o.cum > g.start
                   THEN (o.cum - g.start + g.step - 1) // g.step
                   ELSE 0 END)
             - least({_PPS_N}, CASE WHEN o.cum - o.cents > g.start
                   THEN (o.cum - o.cents - g.start + g.step - 1) // g.step
                   ELSE 0 END) AS n_hits
        FROM ordered o, grid g
    ), est AS (
        SELECT o_orderpriority,
               CAST(sum(CAST(n_hits * 1000000 AS HUGEINT) * t
                        // ({_PPS_N} * cents)) AS BIGINT)
                   AS est_orders_micro,
               CAST(sum(n_hits) * (any_value(t) // {_PPS_N}) AS BIGINT)
                   AS est_revenue_cents
        FROM picks WHERE n_hits > 0 GROUP BY 1
    ), truth AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS true_orders,
               CAST(sum({cents_sql('o_totalprice')}) AS BIGINT)
                   AS true_revenue_cents
        FROM orders GROUP BY 1
    )
    SELECT tr.o_orderpriority, tr.true_orders, tr.true_revenue_cents,
           coalesce(e.est_orders_micro, 0) AS est_orders_micro,
           coalesce(e.est_revenue_cents, 0) AS est_revenue_cents
    FROM truth tr LEFT JOIN est e USING (o_orderpriority)
    """,
)
def sample_ht_estimate(spark, sf_dir):
    """Hansen-Hurwitz / Horvitz-Thompson estimation readout (Hansen &
    Hurwitz 1943; Horvitz & Thompson 1952, JASA) over the
    sample_pps_systematic design: each of the 100 grid picks carries
    draw probability p_i = cents_i/T, so the order-COUNT estimate is
    (1/100)·Σ n_hits·T/cents_i (big orders are down-weighted exactly as
    they were over-sampled) and the revenue estimate collapses to
    hits·T/100 — PPS is self-weighting for its own size variable, which
    is WHY the design exists. Per priority: truth vs both estimates,
    unpicked priorities reported at 0 — the estimator-bias readout every
    sampling pipeline should ship next to its sampler.

    All-integer: the count terms promote to decimal(38,0)/HUGEINT before
    the floor-divide (n_hits·1e6·T outgrows int64 at large SF), each
    term floors once, sums stay BIGINT. 100 TB: the pick derivation is
    the sample_pps_systematic plan (range-repartitioned local cumsum +
    8-row offsets + 1-row grid broadcasts); the truth side is one
    map-side-combinable priority rollup; estimates join truth on the
    5-row priority domain."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents("o_totalprice").alias("cents"),
    )
    keyed = o.withColumn("h", md5_hex("o_orderkey"))
    parts = keyed.repartitionByRange(8, "h", "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("pid").orderBy("h", "o_orderkey")
    local = parts.withColumn(
        "lcum", F.sum("cents").over(w_local).cast("long")
    ).localCheckpoint(eager=False)
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.sum("cents").cast("long").alias("pt"))
        # 8-row offsets-of-counts window, the sample_pps_systematic shape
        .withColumn("off", F.coalesce(F.sum("pt").over(w_off), F.lit(0)).cast("long"))
        .select("pid", "off")
    )
    grid = local.agg(F.sum("cents").cast("long").alias("t")).select(
        "t",
        F.expr(f"t div {_PPS_N}").alias("step"),
        F.expr(f"(t div {_PPS_N}) div 2").alias("start"),
    )
    npts = "least({n}, IF({x} > start, ({x} - start + step - 1) div step, 0))"
    picks = (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("cum", (F.col("off") + F.col("lcum")).cast("long"))
        .crossJoin(F.broadcast(grid))
        .withColumn(
            "n_hits",
            (
                F.expr(npts.format(n=_PPS_N, x="cum"))
                - F.expr(npts.format(n=_PPS_N, x="(cum - cents)"))
            ).cast("long"),
        )
        .filter(F.col("n_hits") > 0)
    )
    est = picks.groupBy("o_orderpriority").agg(
        F.sum(
            F.expr(
                "CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000"
                f" * t div ({_PPS_N} * cents) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("est_orders_micro"),
        (F.sum("n_hits") * F.expr(f"any_value(t div {_PPS_N})"))
        .cast("long")
        .alias("est_revenue_cents"),
    )
    truth = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("true_orders"),
        F.sum("cents").cast("long").alias("true_revenue_cents"),
    )
    return truth.join(F.broadcast(est), "o_orderpriority", "left").select(
        "o_orderpriority",
        "true_orders",
        "true_revenue_cents",
        F.coalesce("est_orders_micro", F.lit(0)).cast("long").alias(
            "est_orders_micro"
        ),
        F.coalesce("est_revenue_cents", F.lit(0)).cast("long").alias(
            "est_revenue_cents"
        ),
    )


#: weighted-reservoir geometry: top-K per group by the A-ES key.
_WRES_K = 32


@register(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH c AS (
        SELECT l_returnflag AS flag, l_orderkey AS ok, l_linenumber AS ln,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
        WHERE l_quantity >= 1
    ), keyed AS (
        SELECT flag, ok, ln, w,
               list_max(list_transform(generate_series(1, w), j ->
                   {md5_int_duck("ok::VARCHAR || '-' || ln::VARCHAR || '-' "
                                 "|| w::VARCHAR || '-' || j::VARCHAR", 12)}
               )) AS skey
        FROM c
    ), ranked AS (
        SELECT flag, ok, ln, w, skey,
               CAST(row_number() OVER (PARTITION BY flag
                                       ORDER BY skey DESC, ok, ln, w)
                    AS BIGINT) AS smp_rank
        FROM keyed
    )
    SELECT flag AS l_returnflag, ok AS l_orderkey, ln AS l_linenumber,
           w, skey, smp_rank
    FROM ranked WHERE smp_rank <= {_WRES_K}
    """,
)
def sample_weighted_reservoir(spark, sf_dir):
    """Weighted sampling WITHOUT replacement, deterministic across engines
    and partitionings — Efraimidis-Spirtakis A-ES done integer-exact: the
    A-ES key u^(1/w) needs libm pow on a float uniform, but for INTEGER
    weights the identity P(max of w iid uniforms <= t) = t^w means the max
    of w independent md5 draws has exactly the u^(1/w) distribution, so
    the key is array_max over w 48-bit content hashes — no float, no RNG,
    no pow. Top-K per group by (key DESC, id) is then a valid weighted
    sample: P(row i beats row j) = w_i/(w_i + w_j), heavier rows
    proportionally likelier (the l_quantity weight here stands in for the
    quality-score/token-count weights an LLM-corpus selection pass uses).

    Mergeable/scale posture (the sketch-family contract): the key is one
    shuffle-free codegen'd projection on the scan (sequence(1, w) stays
    inside the row — w <= 50 here; megaweight corpora would bucket w
    first), per-partition top-K partials merge by re-taking top-K of the
    union (same bottom-k algebra as agg_quantile_sketch_merge, flipped to
    max), and only groups x K rows ever move. Contrast sample_pps_*:
    PPS estimates totals from inclusion probabilities; this one hands you
    the concrete weighted-without-replacement sample rows.

    The engine-native alternative (df.sample / rand()-ranked windows) can
    never hash-match DuckDB and resamples per run; this is reproducible
    corpus curation — same sample on a laptop and a 1000-executor
    cluster. tests/test_sampling.py pins the weighting bias (sampled mean
    weight well above the corpus mean)."""
    # w >= 1 guard on BOTH engines: a zero/negative weight means "never
    # sample me", but Spark's sequence(1, w) would DESCEND for w < 1 and
    # hand such a row a competitive key while DuckDB's generate_series
    # returns empty (NULL key, sorts last) — a latent cross-engine
    # divergence on data this corpus doesn't currently contain
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 1)
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").alias("ln"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        # the key projection below computes ~w md5 draws PER ROW (~25x the
        # row count) — the dedup_minhash_openvocab repartition discipline:
        # a single-file scan is 1-3 tasks, so without this fan-out one task
        # does nearly the entire hash workload (measured ~25 s -> ~3 s at
        # sf0.1); on a real multi-file 100 TB input the scan is already
        # parallel and this exchange is cheap relative to the projection
        .repartition(n_part, F.col("ok"))
    )
    # the hash identity folds the WEIGHT in: the synthetic lineitem does not
    # enforce a (l_orderkey, l_linenumber) primary key, so two distinct rows
    # can share the pair — without w in the draw string they would share the
    # whole draw sequence, and the (skey, ok, ln) tie-break could not
    # separate them (rows identical on every sort column except w ranked
    # differently per engine). With w folded in, any rows still identical on
    # (flag, ok, ln, w) are identical output rows, so rank interchange among
    # them is invisible to the order-insensitive compare.
    keyed = li.withColumn(
        "skey",
        F.expr(
            "array_max(transform(sequence(1L, w), j -> "
            + md5_int_sql(
                "concat(CAST(ok AS STRING), '-', CAST(ln AS STRING), '-', "
                "CAST(w AS STRING), '-', CAST(j AS STRING))",
                12,
            )
            + "))"
        ),
    )
    wrank = Window.partitionBy("flag").orderBy(
        F.desc("skey"), F.asc("ok"), F.asc("ln"), F.asc("w")
    )
    return (
        keyed.withColumn(
            "smp_rank", F.row_number().over(wrank).cast("long")
        )
        .filter(F.col("smp_rank") <= _WRES_K)
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("ok").alias("l_orderkey"),
            F.col("ln").alias("l_linenumber"),
            "w",
            "skey",
            "smp_rank",
        )
    )


#: epoch-shuffle geometry: epochs replayed, reader shards per epoch.
_EPOCH_N = 3
_EPOCH_SHARDS = 8


@register(
    "sample_epoch_shuffle",
    oracle=f"""
    WITH e AS (
        SELECT doc_id, unnest(range({_EPOCH_N})) AS epoch FROM documents
    ), keyed AS (
        SELECT epoch, doc_id,
               {md5_int_duck("'e' || epoch::VARCHAR || ':' || doc_id::VARCHAR", 12)}
                   AS okey
        FROM e
    ), placed AS (
        SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
               okey % {_EPOCH_SHARDS} AS shard,
               row_number() OVER (PARTITION BY epoch, okey % {_EPOCH_SHARDS}
                                  ORDER BY okey, doc_id) AS pos
        FROM keyed
    )
    SELECT epoch, doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(pos AS BIGINT) AS pos
    FROM placed
    """,
)
def sample_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch training-data ordering — the data-loader
    shuffle: each epoch assigns every doc a fresh md5 order key
    ('e{{epoch}}:{{doc_id}}'), the key's residue picks the reader shard and
    its rank within the shard is the read position, so every epoch is an
    independent-looking permutation that is REPRODUCIBLE (same order on a
    laptop, a 1000-executor cluster, and a resumed run — a checkpoint at
    (epoch, shard, pos) resumes exactly) and requires NO global sort:
    shard assignment is a projection, position is a per-(epoch, shard)
    rank — at 100 TB that is |shards| independent sorts of corpus/|shards|
    keys each, embarrassingly parallel, versus the driver-side
    random.shuffle a naive loader cannot scale. Epoch replay and shard
    count are the two knobs a curriculum/packing stage composes with
    (text_pack_sequences consumes exactly this ordering). Engine-exact:
    one 48-bit md5 key, integer residue, (okey, doc_id) tie-break."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = F.explode(
        F.array(*[F.lit(e) for e in range(_EPOCH_N)])
    ).alias("epoch")
    keyed = d.select("doc_id", epochs).select(
        F.col("epoch").cast("long").alias("epoch"),
        "doc_id",
        F.expr(
            md5_int_sql(
                "concat('e', CAST(epoch AS STRING), ':', CAST(doc_id AS STRING))", 12
            )
        ).alias("okey"),
    )
    keyed = keyed.withColumn(
        "shard", F.pmod(F.col("okey"), F.lit(_EPOCH_SHARDS)).cast("long")
    )
    wpos = Window.partitionBy("epoch", "shard").orderBy("okey", "doc_id")
    return keyed.select(
        "epoch",
        "doc_id",
        "shard",
        F.row_number().over(wpos).cast("long").alias("pos"),
    )


#: token-stream batch budget (tokens per training batch slice).
_TSB_BUDGET = 1024


@register(
    "sample_token_stream_batches",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars // 4 + 1 AS tokens,
               {md5_int_duck("'e0:' || doc_id::VARCHAR", 12)} AS okey
        FROM documents
    ), placed AS (
        SELECT doc_id, tokens, okey,
               okey % {_EPOCH_SHARDS} AS shard
        FROM keyed
    ), laid AS (
        SELECT shard, doc_id, tokens,
               -- sum() OVER types HUGEINT in DuckDB: pin BIGINT so the
               -- division and generate_series bind (the dtype lint class)
               CAST(COALESCE(sum(tokens) OVER (
                   PARTITION BY shard ORDER BY okey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_tok
        FROM placed
    ), spans AS (
        SELECT shard, doc_id, tokens, start_tok,
               CAST(start_tok // {_TSB_BUDGET} AS BIGINT) AS b0,
               CAST((start_tok + tokens - 1) // {_TSB_BUDGET} AS BIGINT)
                   AS b1
        FROM laid
    ), hits AS (
        SELECT shard, doc_id, tokens, start_tok, b0,
               unnest(generate_series(b0, b1)) AS batch_id
        FROM spans
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(batch_id AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN b0 < batch_id THEN 1 END) AS BIGINT)
               AS n_carryover,
           CAST(sum(
               least(start_tok + tokens, (batch_id + 1) * {_TSB_BUDGET})
               - greatest(start_tok, batch_id * {_TSB_BUDGET})
           ) AS BIGINT) AS tokens_in_batch
    FROM hits GROUP BY shard, batch_id
    """,
)
def sample_token_stream_batches(spark, sf_dir):
    """Token-stream batch layout — the GPT-style pretraining loader's
    final stage, composing with sample_epoch_shuffle's ordering: each
    shard's documents are CONCATENATED in their epoch-0 shuffle order
    into one token stream (token proxy: n_chars div 4 + 1) and sliced
    into fixed 1024-token batches; a document whose span crosses a
    slice boundary belongs to every batch it overlaps (the carryover the
    loader handles with attention masking). Output per (shard, batch):
    docs touched, carryovers, and the exact token fill — which must be
    EXACTLY the budget for every non-terminal batch, the invariant
    tests/test_sampling.py pins (a fill < budget anywhere but the tail
    means the layout dropped tokens).

    100 TB: the layout is one cumulative-sum window per shard over the
    already-sharded ordering (no global state: shard streams are
    independent), the span explode is bounded by tokens/budget + 1 rows
    per doc, and the rollup is map-side combinable — the whole batch
    manifest for a trillion-token corpus is computable in one pass and is
    O(total_tokens / budget) rows. Integer-exact end to end (md5 order
    key, integer division spans, least/greatest overlap), so the full
    manifest hash-verifies cross-engine."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.floor(F.col("n_chars") / 4) + 1).cast("long").alias("tokens"),
        F.expr(md5_int_sql("concat('e0:', CAST(doc_id AS STRING))", 12)).alias(
            "okey"
        ),
    ).withColumn(
        "shard", F.pmod(F.col("okey"), F.lit(_EPOCH_SHARDS)).cast("long")
    )
    wlay = (
        Window.partitionBy("shard")
        .orderBy("okey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    laid = d.withColumn(
        "start_tok", F.coalesce(F.sum("tokens").over(wlay), F.lit(0))
    )
    spans = laid.select(
        "shard",
        "doc_id",
        "tokens",
        "start_tok",
        F.expr(f"start_tok DIV {_TSB_BUDGET}").alias("b0"),
        F.expr(f"(start_tok + tokens - 1) DIV {_TSB_BUDGET}").alias("b1"),
    )
    hits = spans.select(
        "shard",
        "doc_id",
        "tokens",
        "start_tok",
        "b0",
        F.explode(F.sequence("b0", "b1")).alias("batch_id"),
    )
    end_tok = F.col("start_tok") + F.col("tokens")
    win_lo = F.col("batch_id") * _TSB_BUDGET
    win_hi = (F.col("batch_id") + 1) * _TSB_BUDGET
    return hits.groupBy("shard", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(F.col("b0") < F.col("batch_id"), 1))
        .cast("long")
        .alias("n_carryover"),
        F.sum(F.least(end_tok, win_hi) - F.greatest(F.col("start_tok"), win_lo))
        .cast("long")
        .alias("tokens_in_batch"),
    )
