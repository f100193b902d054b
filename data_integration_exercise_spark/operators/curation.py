"""Corpus-curation extensions: quality filtering, mix control, containment
dedup, embedding hygiene, and data-quality auditing.

These extend SURVEY §2.10's training-data family with the curation stages a
production pretraining pipeline runs between raw ingest and tokenization:
Gopher-style rule filters, repetition detection, source-mix accounting and
rebalancing, quote/subset (containment) dedup, nearest-centroid clustering
over embeddings, embedding sanity checks, referential data-quality audits,
and gap-filling for downstream feature spines.

Hash-verifiability discipline (same as pipeline.py): every score is integer
arithmetic — counts, permille ratios via integer division (Spark ``div`` and
DuckDB ``//`` both truncate toward zero), and embedding values quantized to
integers with ``floor(1000·x + 0.5)`` (bit-identical in both engines since
the float→double widening and IEEE double multiply are exact). No raw float
aggregate ever reaches the output.

Thresholds (token bounds, permille cutoffs, norm bands) are calibrated
against the measured sf0.01 corpus distributions (see docstrings) so each
filter genuinely splits the data — a filter that keeps 100% of rows verifies
nothing.
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
    md5_hex_duck,
    milli,
    milli_duck,
)
from ..functions.sets import (
    bigram_inter,
    bigram_mask_cols,
    inter_duck,
    salted_lang_pairs,
    token_set_duck,
    vocab_idx_duck,
    vocab_idx_sql,
)
from ..functions.vectors import (
    centroid_ranks_duck,
    lloyd_centroids,
    lloyd_duck,
    lloyd_trained_duck,
    milli_rows_duck,
    sq_l2,
)
from ..io import load_table
from ..registry_util import new_registry
from .similarity import _PQ_ADC_CTE, _PQ_CODES_CTE, ROWS_PER_BLOCK_TASK

QUERIES, ORACLES, register = new_registry()


# ---------------------------------------------------------------------------
# Quality filtering
# ---------------------------------------------------------------------------

@register(
    "text_gopher_quality",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, source, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST((n_chars - len(string_split(text, ' ')) + 1) * 100
                    // len(string_split(text, ' ')) AS BIGINT) AS mean_tok_len_x100,
               CAST(1000 * len({token_set_duck()})
                    // len(string_split(text, ' ')) AS BIGINT) AS ttr_permille,
               CAST(len(list_filter({token_set_duck()},
                                    t -> t IN ('a', 'the'))) AS BIGINT) AS n_stop_types
        FROM documents
    )
    SELECT doc_id, source, lang, n_tokens, mean_tok_len_x100, ttr_permille,
           n_stop_types,
           (n_tokens BETWEEN 20 AND 90)              AS flag_len,
           (mean_tok_len_x100 BETWEEN 400 AND 520)   AS flag_mean_len,
           (ttr_permille >= 300)                     AS flag_ttr,
           (n_stop_types >= 1)                       AS flag_stop,
           ((n_tokens BETWEEN 20 AND 90)
            AND (mean_tok_len_x100 BETWEEN 400 AND 520)
            AND ttr_permille >= 300
            AND n_stop_types >= 1)                   AS keep
    FROM m
    """,
)
def text_gopher_quality(spark, sf_dir):
    """Gopher-style rule filter (Rae et al. 2021 §A1.1 adapted to this
    corpus): token-count bounds, mean-token-length band, type/token ratio
    floor, and stopword presence, AND-combined into a keep decision.

    Calibration vs measured sf0.01 distributions: n_tokens 10–99 (bounds
    20–90 drop ~15%), mean_len_x100 370–530 (band 400–520), ttr_permille
    p10=321 (floor 300), 47/500 docs have zero stopwords. All-integer
    scoring — exact across engines.

    100 TB: pure narrow map over the scan (one split per row, no shuffle);
    whole-stage codegen'd HOFs. The natural first stage of every curation
    DAG — runs at scan speed and prunes before anything expensive."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    mean_len = F.expr(
        "CAST((n_chars - size(split(text, ' ')) + 1) * 100 AS BIGINT)"
        " div CAST(size(split(text, ' ')) AS BIGINT)"
    )
    ttr = F.expr(
        "CAST(1000 * size(array_distinct(split(text, ' '))) AS BIGINT)"
        " div CAST(size(split(text, ' ')) AS BIGINT)"
    )
    n_stop = F.size(
        F.filter(F.array_distinct(toks), lambda t: t.isin("a", "the"))
    ).cast("long")
    m = d.select(
        "doc_id",
        "source",
        "lang",
        n_tokens.alias("n_tokens"),
        mean_len.alias("mean_tok_len_x100"),
        ttr.alias("ttr_permille"),
        n_stop.alias("n_stop_types"),
    )
    flag_len = F.col("n_tokens").between(20, 90)
    flag_mean = F.col("mean_tok_len_x100").between(400, 520)
    flag_ttr = F.col("ttr_permille") >= 300
    flag_stop = F.col("n_stop_types") >= 1
    return m.select(
        "*",
        flag_len.alias("flag_len"),
        flag_mean.alias("flag_mean_len"),
        flag_ttr.alias("flag_ttr"),
        flag_stop.alias("flag_stop"),
        (flag_len & flag_mean & flag_ttr & flag_stop).alias("keep"),
    )


@register(
    "text_repetition_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), r AS (
        SELECT doc_id, lang,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(list_max(list_transform(list_distinct(toks),
                    x -> len(list_filter(toks, y -> y = x)))) AS BIGINT) AS top_tok_cnt,
               CAST(len(toks) - 1 AS BIGINT) AS n_bigrams,
               CAST(len(list_distinct(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1]))) AS BIGINT) AS n_distinct_bigrams
        FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST(1000 * top_tok_cnt // n_tokens AS BIGINT) AS top_tok_permille,
           CAST(1000 * (n_bigrams - n_distinct_bigrams) // n_bigrams AS BIGINT)
               AS dup_bigram_permille,
           (1000 * top_tok_cnt // n_tokens > 150
            OR 1000 * (n_bigrams - n_distinct_bigrams) // n_bigrams > 80)
               AS flag_repetitive
    FROM r
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Repetition detection (the Gopher/C4 "repetitious content" family):
    most-frequent-token coverage and duplicate-bigram fraction per document,
    permille-scaled, with a repetitive flag at the measured p90 thresholds
    (top-token p90=139‰ → cutoff 150; dup-bigram p90=65‰ → cutoff 80).

    100 TB: computed entirely with array HOFs inside the row — no explode,
    no shuffle, no state. The top-token count is O(|vocab|·n) per row via
    transform-over-distinct (vocab is 31 here; for open vocabularies the
    explode+groupBy form in text_tokenize_wordcount is the fallback).
    Requires ≥2 tokens per doc (corpus min is 10)."""
    d = load_table(spark, sf_dir, "documents")
    # all four stats read a MATERIALIZED token column: `split(text)` inside
    # a lambda body re-evaluates per element (the old top-token transform
    # re-split the text once per distinct token, the bigram transform once
    # per bigram — O(n²)+ tokenization per doc); an attribute reference is
    # O(1) per element
    r = d.select("doc_id", "lang", F.split("text", " ").alias("toks")).select(
        "doc_id",
        "lang",
        F.expr("CAST(size(toks) AS BIGINT)").alias("n_tokens"),
        F.expr(
            """
            CAST(array_max(transform(array_distinct(toks),
                 x -> size(filter(toks, y -> y = x)))) AS BIGINT)
            """
        ).alias("top_tok_cnt"),
        F.expr("CAST(size(toks) - 1 AS BIGINT)").alias("n_bigrams"),
        F.expr(
            """
            CAST(size(array_distinct(zip_with(
                 slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1),
                 (x, y) -> concat(x, ' ', y)))) AS BIGINT)
            """
        ).alias("n_distinct_bigrams"),
    )
    top_pm = F.expr("1000 * top_tok_cnt div n_tokens")
    dup_pm = F.expr("1000 * (n_bigrams - n_distinct_bigrams) div n_bigrams")
    return r.select(
        "doc_id",
        "lang",
        "n_tokens",
        top_pm.alias("top_tok_permille"),
        dup_pm.alias("dup_bigram_permille"),
        ((top_pm > 150) | (dup_pm > 80)).alias("flag_repetitive"),
    )


# ---------------------------------------------------------------------------
# Source-mix accounting & rebalancing
# ---------------------------------------------------------------------------

@register(
    "text_domain_mix",
    oracle="""
    WITH g AS (
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source, lang
    ), t AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
               CAST(sum(n_tokens) AS BIGINT) AS tot_tokens
        FROM g
    )
    SELECT g.source, g.lang, g.n_docs, g.n_tokens,
           CAST(1000 * g.n_tokens // t.tot_tokens AS BIGINT) AS tok_share_permille,
           CAST(1000 * g.n_docs // t.tot_docs AS BIGINT)     AS doc_share_permille
    FROM g, t
    """,
)
def text_domain_mix(spark, sf_dir):
    """Corpus-composition report: per (source, lang) document and token
    counts plus permille shares of the whole corpus — the accounting table a
    data-mixture design (e.g. The Pile / Dolma mixture tables) starts from.

    100 TB: one partial-aggregated groupBy over (source, lang) — low
    cardinality, so the shuffle is tiny regardless of input size — and the
    grand total is a 1-row broadcast joined back (no global window)."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.expr("CAST(size(split(text, ' ')) AS BIGINT)")
    g = d.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(n_tok).cast("long").alias("n_tokens"),
    )
    tot = g.agg(
        F.sum("n_docs").cast("long").alias("tot_docs"),
        F.sum("n_tokens").cast("long").alias("tot_tokens"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.expr("1000 * n_tokens div tot_tokens").alias("tok_share_permille"),
        F.expr("1000 * n_docs div tot_docs").alias("doc_share_permille"),
    )


@register(
    "sample_mix_rebalance",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, source, lang,
               CAST(200 + 150 * (CAST(substr(source, 4) AS INTEGER) % 5)
                    AS BIGINT) AS rate_permille
        FROM documents
    )
    SELECT doc_id, source, lang, rate_permille,
           CAST(1000000 // rate_permille AS BIGINT) AS weight_x1000
    FROM r
    WHERE {md5_bucket_duck("doc_id", 1000)}
          < rate_permille
    """,
)
def sample_mix_rebalance(spark, sf_dir):
    """Per-source downsampling to a target mixture: each source gets a keep
    rate (200–800‰, derived deterministically from the source id), rows are
    kept by content-hash bucket (md5 of doc_id — the sampling.py discipline:
    reproducible across engines, partitionings, and cluster sizes), and each
    kept row carries its inverse-propensity weight ×1000 so downstream
    aggregates can re-weight.

    100 TB: scan + codegen'd md5 filter — embarrassingly parallel, no
    shuffle, no coordination; exactly how production mixture rebalancing
    runs (cf. C4/Dolma per-source sampling)."""
    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.lit(200)
        + F.lit(150) * (F.substring("source", 4, 10).cast("int") % 5)
    ).cast("long")
    bucket = md5_bucket("doc_id", 1000)
    return (
        d.select("doc_id", "source", "lang", rate.alias("rate_permille"))
        .filter(bucket < F.col("rate_permille"))
        .select(
            "doc_id",
            "source",
            "lang",
            "rate_permille",
            F.expr("1000000 div rate_permille").alias("weight_x1000"),
        )
    )


# ---------------------------------------------------------------------------
# Containment dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_containment_bigram",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   string_split(text, ' ')[1:len(string_split(text, ' ')) - 1],
                   (x, i) -> x || ' ' || string_split(text, ' ')[i + 1])) AS sh
        FROM documents
    )
    SELECT d1.doc_id AS doc1, d2.doc_id AS doc2, d1.lang AS lang,
           CAST(1000 * {inter_duck("d1.sh", "d2.sh")}
                // least(len(d1.sh), len(d2.sh)) AS BIGINT)
               AS containment_permille,
           CASE WHEN len(d1.sh) <= len(d2.sh) THEN d1.doc_id
                ELSE d2.doc_id END AS subsumed_doc
    FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
    WHERE 1000 * {inter_duck("d1.sh", "d2.sh")}
          // least(len(d1.sh), len(d2.sh)) >= 800
    """,
)
def dedup_containment_bigram(spark, sf_dir):
    """Containment (quote/subset) dedup: C(A,B) = |A∩B| / min(|A|,|B|) over
    bigram-shingle sets, permille-scaled, keeping pairs ≥ 800‰ and flagging
    the smaller document as subsumed. Containment catches what Jaccard
    misses — a short document quoted inside a long one has high containment
    but low Jaccard (the union is dominated by the long doc).

    Spark path runs on exact 961-bit bigram bitsets packed into 16 BIGINT
    columns: pair intersection is 16 codegen'd AND+popcounts — bit-identical
    to the oracle's list_intersect since the bitset has no collisions (same
    discipline as the MinHash re-rank's token masks). Measured at sf0.1:
    74 s (array_intersect pair loop) → 2.5 s (this shape).

    100 TB: same blocking story as dedup_ngram_jaccard — lang-block pairs at
    demo scale; the production path is MinHash over shingles where band
    collisions bound candidates (dedup_minhash_lsh), with this exact
    containment as the re-rank. Open-vocabulary corpora (no exact bitset):
    swap the re-rank seam for array_intersect-on-candidates or the
    MinHash-estimate score — SURVEY §14 "Open-vocabulary fallback"."""
    d = load_table(spark, sf_dir, "documents")
    docs = bigram_mask_cols(d)
    pairs = (
        salted_lang_pairs(docs)
        .select(
            "doc1",
            "doc2",
            "lang",
            F.col("a_nsh").alias("n1"),
            F.col("b_nsh").alias("n2"),
            bigram_inter().alias("inter"),
        )
        .filter(
            F.expr("1000 * CAST(inter AS BIGINT) div CAST(least(n1, n2) AS BIGINT)")
            >= 800
        )
    )
    return pairs.select(
        "doc1",
        "doc2",
        "lang",
        F.expr("1000 * CAST(inter AS BIGINT) div CAST(least(n1, n2) AS BIGINT)").alias(
            "containment_permille"
        ),
        F.when(F.col("n1") <= F.col("n2"), F.col("doc1"))
        .otherwise(F.col("doc2"))
        .alias("subsumed_doc"),
    )


# ---------------------------------------------------------------------------
# Embedding operators
# ---------------------------------------------------------------------------


@register(
    "sim_nearest_centroid",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               unnest({milli_duck()}) AS qv,
               unnest(range(len(embedding))) AS pos
        FROM embeddings
    ), cent AS (
        SELECT label AS clabel, pos,
               CAST(sum(qv) // count(*) AS BIGINT) AS c
        FROM q GROUP BY label, pos
    ), dist AS (
        SELECT q.vec_id, q.label, cent.clabel,
               sum((q.qv - cent.c) * (q.qv - cent.c)) AS d2
        FROM q JOIN cent ON q.pos = cent.pos
        GROUP BY q.vec_id, q.label, cent.clabel
    ), best AS (
        SELECT vec_id, label, clabel AS assigned_label,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
        FROM dist
    )
    SELECT label, assigned_label, CAST(count(*) AS BIGINT) AS n_vectors
    FROM best WHERE rn = 1 GROUP BY label, assigned_label
    """,
)
def sim_nearest_centroid(spark, sf_dir):
    """Nearest-centroid assignment (one k-means E-step with label-derived
    centroids) + confusion summary: centroids are the per-label means of
    quantized embeddings (integer floor-division keeps them exact), every
    vector is assigned to the squared-L2-nearest centroid (ties → lowest
    label), and the output is the label × assigned contingency table —
    the clustering-quality readout.

    100 TB: centroids are a tiny (k·dim) aggregate broadcast to every
    executor; assignment is a narrow zip_with/aggregate HOF per row (no
    shuffle, no UDF); only the final k×k contingency groupBy shuffles —
    the canonical distributed k-means step shape."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", "label", milli().alias("qarr")
    )
    # generator child INLINE, not via the qarr alias: exploding an aliased
    # array makes InferFiltersFromGenerate add `size(qarr) > 0` below the
    # Generate and filter pushdown inlines the alias — the quantization
    # transform re-evaluated twice per row inside an always-true filter at
    # the scan (an inline child skips the inference; semantics identical).
    exploded = e.select(
        "label", F.posexplode(milli()).alias("pos", "qv")
    )
    cent = (
        exploded.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
        .select("clabel", "pos", F.expr("s div n").alias("c"))
    )
    carr = cent.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("carr")
    )
    scored = q.crossJoin(F.broadcast(carr)).select(
        "vec_id", "label", "clabel", sq_l2("qarr", "carr").alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("label", F.col("clabel").alias("assigned_label"))
        .agg(F.count("*").cast("long").alias("n_vectors"))
    )


@register(
    "sim_embedding_hygiene",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               {milli_duck()} AS qarr
        FROM embeddings
    ), m AS (
        SELECT vec_id, label,
               CAST(len(qarr) AS BIGINT) AS dim,
               CAST(list_sum(list_transform(qarr, x -> x * x)) AS BIGINT) AS qnorm2,
               CAST(len(list_filter(qarr, x -> x = 0)) AS BIGINT) AS n_zero_dims,
               CAST(len(list_filter(qarr, x -> abs(x) >= 2000)) AS BIGINT) AS n_sat_dims
        FROM q
    )
    SELECT vec_id, label, dim, qnorm2, n_zero_dims, n_sat_dims,
           (qnorm2 < 999200)  AS flag_low_norm,
           (qnorm2 > 1000900) AS flag_high_norm,
           (qnorm2 >= 999200 AND qnorm2 <= 1000900 AND n_sat_dims = 0) AS keep
    FROM m
    """,
)
def sim_embedding_hygiene(spark, sf_dir):
    """Embedding sanity audit — the checks an embedding table needs before
    any similarity work: dimensionality, quantized squared L2 norm, zero and
    saturated dimension counts, and norm-band flags. Band 999200–1000900 is
    calibrated to the measured sf0.01 unit-norm corpus (min 998328 / p5
    999128 / p95 1000965 / max 1001790) so both tails actually flag rows.

    100 TB: narrow map-only HOFs over the scan — no shuffle, no UDF; runs at
    scan speed and short-circuits broken upstream encoders before an
    expensive ANN build."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select("vec_id", "label", milli().alias("qarr"))
    qnorm2 = F.aggregate(
        F.transform("qarr", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    m = q.select(
        "vec_id",
        "label",
        F.size("qarr").cast("long").alias("dim"),
        qnorm2.alias("qnorm2"),
        F.size(F.filter("qarr", lambda x: x == 0)).cast("long").alias("n_zero_dims"),
        F.size(F.filter("qarr", lambda x: F.abs(x) >= 2000))
        .cast("long")
        .alias("n_sat_dims"),
    )
    low = F.col("qnorm2") < 999200
    high = F.col("qnorm2") > 1000900
    return m.select(
        "*",
        low.alias("flag_low_norm"),
        high.alias("flag_high_norm"),
        (~low & ~high & (F.col("n_sat_dims") == 0)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Data-quality audit & gap filling
# ---------------------------------------------------------------------------

@register(
    "etl_dq_checks",
    oracle="""
    SELECT 'orders_orphan_custkey' AS check_name,
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT) AS n_violations,
           CAST(count(*) AS BIGINT) AS n_total
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem_discount_out_of_range',
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_duplicate_pk',
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'customer_null_mktsegment',
           CAST(count(*) FILTER (WHERE c_mktsegment IS NULL) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'events_null_user',
           CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'documents_empty_text',
           CAST(count(*) FILTER (WHERE n_chars = 0 OR text = '') AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM documents
    """,
)
def etl_dq_checks(spark, sf_dir):
    """Cross-table data-quality audit: referential integrity (orphan foreign
    keys via left-join null counts), primary-key uniqueness, null-rate and
    domain checks — one row per named check with violation and total counts.
    The assertion table a pipeline gates a publish on.

    100 TB: each check is one aggregate pass; the referential checks are
    joins whose strategy AQE picks (broadcast when the dimension fits,
    shuffle otherwise) — never a collect. All eight checks run as one job
    via union, sharing the session's scan cache where tables repeat."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    l = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents")

    def check(name, df, violation_col):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.sum(F.when(violation_col, 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
            F.count("*").cast("long").alias("n_total"),
        )

    orphan_orders = o.join(
        c.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "left"
    )
    orphan_items = l.join(
        o.select("o_orderkey"), l.l_orderkey == F.col("o_orderkey"), "left"
    )
    dup_pk = o.agg(
        F.lit("orders_duplicate_pk").alias("check_name"),
        (F.count("*") - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("n_violations"),
        F.count("*").cast("long").alias("n_total"),
    )
    parts = [
        check("orders_orphan_custkey", orphan_orders, F.col("c_custkey").isNull()),
        check("lineitem_orphan_orderkey", orphan_items, F.col("o_orderkey").isNull()),
        check(
            "lineitem_discount_out_of_range",
            l,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5),
        ),
        check("lineitem_nonpositive_qty", l, F.col("l_quantity") <= 0),
        dup_pk,
        check("customer_null_mktsegment", c, F.col("c_mktsegment").isNull()),
        check("events_null_user", ev, F.col("user_id").isNull()),
        check("documents_empty_text", d, (F.col("n_chars") == 0) | (F.col("text") == "")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "etl_forward_fill",
    oracle="""
    WITH spine AS (
        SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
                                      INTERVAL 1 DAY))::DATE AS day,
               p.o_orderpriority
        FROM (SELECT DISTINCT o_orderpriority FROM orders) p
    ), daily AS (
        SELECT o_orderdate AS day, o_orderpriority,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
        GROUP BY o_orderdate, o_orderpriority
    ), joined AS (
        SELECT s.day, s.o_orderpriority, d.cnt,
               last_value(d.cnt IGNORE NULLS) OVER (
                   PARTITION BY s.o_orderpriority ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        FROM spine s LEFT JOIN daily d
          ON s.day = d.day AND s.o_orderpriority = d.o_orderpriority
    )
    SELECT day, o_orderpriority,
           CAST(coalesce(filled, 0) AS BIGINT) AS n_orders,
           (cnt IS NULL) AS was_filled
    FROM joined
    """,
)
def etl_forward_fill(spark, sf_dir):
    """Gap-fill + last-observation-carried-forward: a dense daily spine per
    order priority over 1995 Q1, left-joined to observed daily order counts,
    with missing days filled by the most recent observed value (leading gaps
    → 0) and a was_filled provenance flag — the standard feature-spine
    densification before any time-series modeling.

    100 TB: the spine is generated (no scan), the observed side is a pruned
    aggregate (partition-pruned scan at scale), and the fill is one window
    per priority — the partition count bounds parallelism, which is the
    correct trade for a per-entity LOCF (each entity's timeline must be
    contiguous in one task)."""
    o = load_table(spark, sf_dir, "orders")
    prios = o.select("o_orderpriority").distinct()
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-03-31").cast("date"),
            )
        ).alias("day")
    )
    spine = days.crossJoin(F.broadcast(prios))
    daily = (
        o.filter(
            F.col("o_orderdate").between("1995-01-01", "1995-03-31")
        )
        .groupBy(
            F.col("o_orderdate").alias("day"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    joined = spine.join(
        daily,
        (spine.day == daily.day) & (spine.o_orderpriority == daily.prio),
        "left",
    ).select(spine.day, "o_orderpriority", "cnt")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "day",
        "o_orderpriority",
        F.coalesce(F.last("cnt", ignorenulls=True).over(w), F.lit(0))
        .cast("long")
        .alias("n_orders"),
        F.col("cnt").isNull().alias("was_filled"),
    )


# ---------------------------------------------------------------------------
# Privacy, robust stats, featurization
# ---------------------------------------------------------------------------

@register(
    "etl_pii_mask",
    oracle=f"""
    WITH g AS (
        SELECT c.c_custkey,
               substr({md5_hex_duck('c.c_name')}, 1, 16)           AS name_hash,
               CAST(floor(c.c_acctbal / 500) * 500 AS BIGINT)     AS acctbal_band,
               c.c_mktsegment,
               r.r_name                                           AS region
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    ), k AS (
        SELECT region, c_mktsegment, acctbal_band,
               CAST(count(*) AS BIGINT) AS group_n
        FROM g GROUP BY region, c_mktsegment, acctbal_band
    )
    SELECT g.c_custkey,
           CASE WHEN k.group_n >= 5 THEN g.name_hash ELSE '*' END AS name_hash,
           g.acctbal_band, g.c_mktsegment, g.region, k.group_n,
           (k.group_n < 5) AS suppressed
    FROM g JOIN k
      ON g.region = k.region AND g.c_mktsegment = k.c_mktsegment
     AND g.acctbal_band = k.acctbal_band
    """,
)
def etl_pii_mask(spark, sf_dir):
    """Pseudonymization + k-anonymity pass over the customer dimension:
    names become salted-width md5 prefixes, account balances are banded to
    500-unit buckets, nation generalizes to region, and any
    (region, segment, band) quasi-identifier group with fewer than k=5
    members is suppressed (hash replaced by '*') — the standard release
    gate before customer data leaves the trust boundary.

    100 TB: two broadcast dim joins (nation/region), one low-cardinality
    groupBy for the k-census, and a broadcast join of that census back —
    no full-table shuffle; runs at scan speed."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    g = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            "c_custkey",
            F.substring(md5_hex("c_name"), 1, 16).alias("name_hash"),
            (F.floor(F.col("c_acctbal") / 500) * 500).cast("long").alias(
                "acctbal_band"
            ),
            "c_mktsegment",
            F.col("r_name").alias("region"),
        )
    )
    k = g.groupBy("region", "c_mktsegment", "acctbal_band").agg(
        F.count("*").cast("long").alias("group_n")
    )
    return g.join(
        F.broadcast(k), ["region", "c_mktsegment", "acctbal_band"]
    ).select(
        "c_custkey",
        F.when(F.col("group_n") >= 5, F.col("name_hash"))
        .otherwise(F.lit("*"))
        .alias("name_hash"),
        "acctbal_band",
        "c_mktsegment",
        "region",
        "group_n",
        (F.col("group_n") < 5).alias("suppressed"),
    )


@register(
    "win_zscore_outliers",
    oracle=f"""
    WITH c AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST({cents_sql('o_totalprice')} AS HUGEINT) AS cents
        FROM orders
    ), m AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice, cents,
               sum(cents) OVER w         AS s1,
               sum(cents * cents) OVER w AS s2,
               count(*) OVER w           AS n
        FROM c
        WINDOW w AS (PARTITION BY o_orderpriority)
    ), zc AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CASE WHEN n * s2 - s1 * s1 = 0 THEN NULL
                    ELSE CAST(n * cents - s1 AS DOUBLE)
                         / sqrt(CAST(n AS DOUBLE)
                                * CAST(n * s2 - s1 * s1 AS DOUBLE)
                                / (CAST(n AS DOUBLE) - 1.0))
               END AS zv
        FROM m
    )
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           round(zv, 4) + 0.0 AS z,
           (abs(zv) > 1.7)  AS is_outlier
    FROM zc
    """,
)
def win_zscore_outliers(spark, sf_dir):
    """Per-group z-score outlier flags: each order's total priced against
    its priority group's mean/stddev, |z| > 1.7 flagged — the distribution
    check a pipeline runs on every numeric feed. Threshold calibrated to
    the corpus: o_totalprice is near-uniform per priority, and a uniform
    distribution bounds |z| at √3 ≈ 1.732 (measured max 1.77), so the
    gaussian 2.5σ convention would flag nothing; 1.7 flags the measured
    extreme tail of both sides.

    The moments are EXACT integer-cent sums (sum, sum-of-squares in
    decimal/HUGEINT — the agg_ab_ttest discipline; ADVICE r4): both
    engines derive z from identical integers with the same three IEEE
    ops (two divides, one sqrt, all correctly rounded), so the flag and
    the 4dp-rounded z are bit-identical and partition-order-proof —
    float window aggregates over raw doubles would be summation-order
    traps at the |z|≈1.7 boundary. A zero-variance group yields NULL on
    both engines by explicit case. Both moments + count come from ONE
    window partitioning (no second shuffle).

    100 TB: one hash-partitioned window over the group key; moments are
    O(1) per row once the partition is resident; integer sums are exact
    regardless of executor count or merge order."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    m = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        cents("o_totalprice").cast("decimal(18,0)").alias("cents"),
    ).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        "cents",
        F.sum("cents").over(w).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("s2"),
        F.count("*").over(w).alias("n"),
    )
    nd = F.col("n").cast("double")
    b = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    a = F.col("n") * F.col("cents") - F.col("s1")
    zv = F.when(b == 0, F.lit(None)).otherwise(
        a.cast("double") / F.sqrt(nd * b.cast("double") / (nd - F.lit(1.0)))
    )
    return m.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        # + 0.0 normalizes IEEE negative zero: a z of −1e-9 rounds to
        # −0.0 in DuckDB but 0.0 in Spark (hash mismatch at sf0.1, found
        # by the round-7 sweep); −0.0 + 0.0 = +0.0, every other finite
        # value is unchanged
        (F.round(zv, 4) + F.lit(0.0)).alias("z"),
        (F.abs(zv) > 1.7).alias("is_outlier"),
    )


@register(
    "text_hashing_vectorizer",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               list_filter(
                   list_transform(string_split(text, ' '),
                       t -> {vocab_idx_duck('t')} - 1),
                   i -> i IS NOT NULL) AS idxs
        FROM documents
    )
    SELECT doc_id,
           array_to_string(
               list_transform(range(0, 16),
                   b -> CAST(len(list_filter(idxs, i -> i % 16 = b)) AS BIGINT)),
               ',')                                               AS vec,
           CAST(len(list_distinct(list_transform(idxs, i -> i % 16)))
                AS BIGINT)                                        AS nnz,
           CAST(len(idxs) AS BIGINT)                              AS l1
    FROM d
    """,
)
def text_hashing_vectorizer(spark, sf_dir):
    """Feature hashing (the 'hashing trick'): token counts folded into a
    fixed 16-bucket count vector by index-mod — the featurization that
    needs no vocabulary broadcast and no fitting pass, which is what makes
    it the streaming/100 TB-safe vectorizer (any new token maps somewhere
    deterministic). Bucket = vocab index mod 16; counts are exact ints.
    Out-of-vocabulary tokens are dropped explicitly on BOTH sides (Spark:
    array_position miss → 0 → idx −1, filtered with i >= 0; DuckDB:
    list_position miss → NULL, filtered with i IS NOT NULL) so OOV
    handling is defined and identical if the closed-vocab assumption ever
    breaks (ADVICE r4); l1 therefore counts in-vocab tokens.

    100 TB: narrow map-only HOFs, no shuffle, no state — runs at scan
    speed and emits a constant-width feature column ready for ML."""
    d = load_table(spark, sf_dir, "documents")
    idxs = F.expr(
        f"filter(transform(split(text, ' '),"
        f" t -> {vocab_idx_sql('t')} - 1), i -> i >= 0)"
    )
    m = d.select("doc_id", idxs.alias("idxs"))
    vec = F.expr(
        "transform(sequence(0, 15),"
        " b -> CAST(size(filter(idxs, i -> i % 16 = b)) AS BIGINT))"
    )
    # vec is emitted STRINGIFIED (fn_array/agg_collect_sorted precedent):
    # no driver-green key has ever carried a raw array column, and the
    # driver's value-hash comparator is only known to handle scalars.
    return m.select(
        "doc_id",
        F.array_join(vec, ",").alias("vec"),
        F.size(F.array_distinct(F.expr("transform(idxs, i -> i % 16)")))
        .cast("long")
        .alias("nnz"),
        F.size("idxs").cast("long").alias("l1"),
    )


#: the self-trained bigram LM scoring pipeline as a reusable CTE chain —
#: shared verbatim by text_bigram_lm_score and text_ccnet_buckets so the
#: two oracles can never drift apart.
_LM_SCORED_CTE = """toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(range(1, len(t))) AS u(i)
    ), c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
       c1 AS (SELECT w1, count(*) AS c FROM bg GROUP BY w1),
    scored AS (
        SELECT bg.doc_id,
               CAST(floor(1e6 * log2(CAST(c2.c AS DOUBLE) / c1.c) + 1e-6)
                    AS BIGINT) AS lp
        FROM bg
        JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        JOIN c1 ON bg.w1 = c1.w1
    )"""


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH {_LM_SCORED_CTE}
    SELECT doc_id,
           CAST(count(*) AS BIGINT)           AS n_bigrams,
           CAST(sum(lp) // count(*) AS BIGINT) AS avg_logp_micro,
           (sum(lp) // count(*) < -4950000)    AS flag_low_quality
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_lm_score(spark, sf_dir):
    """Bigram language-model quality score — the perplexity-filter stage of
    a CCNet/Dolma-style pipeline, self-trained on the corpus: P(w2|w1) =
    c(w1,w2)/c(w1) from corpus bigram counts, each bigram scored
    floor(1e6·log2 P + 1e-6), per-doc average in integer micro-bits via
    truncating division. log2 is a libm transcendental with no
    correct-rounding guarantee, so the floor carries a +1e-6 guard
    (ADVICE r4): at the realistic boundary class — P an exact power of
    two, where 1e6·log2 P is exactly an integer — a one-ulp-low libm
    result would otherwise floor one lower on one engine; the guard
    (≫ the ~4e-9 max abs error of 1-ulp log2 scaled by 1e6, ≪ the gap
    to the next representable count ratio) makes both engines agree. Low scores = improbable token sequences. Threshold −4.95
    bits/bigram is the measured p10 (range −5.26…−4.70), so the flag fires
    on a real tail.

    100 TB: two count aggregates over the exploded bigram stream (map-side
    combined; |vocab|² ≤ 961 rows each) broadcast back onto the stream —
    the model is tiny by construction, the corpus is never re-paired. This
    is exactly how KenLM-scored filtering parallelizes, minus the external
    model file."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # zip_with over two slices of a MATERIALIZED token column — never
    # `split(text)[i + 1]` inside the lambda: a lambda body re-evaluates
    # outer non-attribute subexpressions per element, so the old form
    # re-split the text once per bigram (O(n²) tokenization per doc).
    bg = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        F.explode(
            F.expr(
                """
                zip_with(slice(toks, 1, size(toks) - 1),
                         slice(toks, 2, size(toks) - 1),
                         (x, y) -> struct(x AS w1, y AS w2))
                """
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    # THREE consumers (c2, c1, scored) each re-ran the scan+tokenize+explode
    # subtree; fan the bigram stream out (a raw single-file scan is one
    # task) and cut lineage so the stream computes once (round-14; the
    # dedup_minhash_openvocab repartition discipline + SURVEY §9 lesson 4)
    bg = bg.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), F.col("doc_id")
    ).localCheckpoint(eager=False)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    lp = F.floor(
        F.lit(1e6) * F.log2(F.col("c2").cast("double") / F.col("c1")) + F.lit(1e-6)
    ).cast("long")
    scored = (
        bg.join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), ["w1"])
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.expr("sum(lp) div count(*)").alias("avg_logp_micro"),
        (F.expr("sum(lp) div count(*)") < -4950000).alias("flag_low_quality"),
    )


@register(
    "text_pii_scrub",
    oracle="""
    WITH blob AS (
        SELECT c_custkey,
               'contact ' || c_name
               || ' phone ' || lpad(CAST(c_custkey % 89 + 10 AS VARCHAR), 2, '0')
                  || '-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || CASE WHEN c_custkey % 3 = 0
                       THEN ' alt ' || lpad(CAST(c_custkey % 77 + 20 AS VARCHAR), 2, '0')
                            || '-' || lpad(CAST(c_custkey % 811 AS VARCHAR), 3, '0')
                            || '-' || lpad(CAST(c_custkey % 7013 AS VARCHAR), 4, '0')
                       ELSE '' END
               || ' email ' || lower(replace(c_name, '#', '.')) || '@example.com'
               || ' segment ' || c_mktsegment AS txt
        FROM customer
    )
    SELECT c_custkey,
           regexp_replace(
               regexp_replace(txt, '[0-9]{2,3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+', '[EMAIL]', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(txt, '[0-9]{2,3}-[0-9]{3}-[0-9]{4}'))
                AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(txt,
                    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+'))
                AS BIGINT) AS n_emails
    FROM blob
    """,
)
def text_pii_scrub(spark, sf_dir):
    """Regex PII scrubbing — the redaction stage every training-data
    pipeline runs before text leaves the trust boundary (C4/Dolma-style):
    phone numbers and email addresses are replaced with typed placeholder
    tokens and the per-document redaction counts are kept as the audit
    signal. The operative schema carries no raw PII columns, so the
    PII-bearing contact blob is SYNTHESIZED deterministically from
    customer fields first (phone digits from custkey, email from the
    name; every third row carries a second phone so counts vary) — the
    regex plumbing, placeholder convention, and count audit are the real
    artifact.

    Cross-engine care: patterns stay in the Java-regex ∩ RE2 common
    subset ([0-9]/ranges/bounded repeats — no backrefs, no lookaround),
    counts are extracted BEFORE replacement, and DuckDB's regexp_replace
    gets the explicit 'g' flag Spark applies by default. The quantifier
    '[a-z][a-z]+' replaces the usual '{2,}' TLD idiom because leftmost
    semantics agree on it in both engines.

    100 TB: narrow map-only projection — regex scrub runs at scan speed
    inside whole-stage codegen, no shuffle, no state."""
    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    phone = F.concat_ws(
        "-",
        F.lpad((key % 89 + 10).cast("string"), 2, "0"),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
    )
    alt = F.when(
        key % 3 == 0,
        F.concat(
            F.lit(" alt "),
            F.concat_ws(
                "-",
                F.lpad((key % 77 + 20).cast("string"), 2, "0"),
                F.lpad((key % 811).cast("string"), 3, "0"),
                F.lpad((key % 7013).cast("string"), 4, "0"),
            ),
        ),
    ).otherwise("")
    email = F.concat(
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com"),
    )
    txt = F.concat(
        F.lit("contact "),
        F.col("c_name"),
        F.lit(" phone "),
        phone,
        alt,
        F.lit(" email "),
        email,
        F.lit(" segment "),
        F.col("c_mktsegment"),
    )
    phone_re = "[0-9]{2,3}-[0-9]{3}-[0-9]{4}"
    email_re = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
    blob = c.select("c_custkey", txt.alias("txt"))
    return blob.select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace("txt", phone_re, "[PHONE]"), email_re, "[EMAIL]"
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all("txt", F.lit(phone_re), 0))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all("txt", F.lit(email_re), 0))
        .cast("long")
        .alias("n_emails"),
    )


@register(
    "dedup_semdedup",
    oracle=f"""
    WITH q0 AS (
        SELECT vec_id,
               {milli_duck()} AS qv
        FROM embeddings
    ), meta AS (
        SELECT count(*) AS n,
               greatest(10, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
                   AS k,
               min(qv[1]) AS lo, max(qv[1]) AS hi
        FROM q0
    ), q AS (
        SELECT vec_id, qv,
               (qv[1] - (SELECT lo FROM meta)) * (SELECT k FROM meta)
                   // ((SELECT hi FROM meta) - (SELECT lo FROM meta) + 1) AS g
        FROM q0
    ), qe AS (
        SELECT vec_id, g, unnest(qv) AS qv_i,
               unnest(range(len(qv))) AS pos
        FROM q
    ), cent AS (
        SELECT g AS clabel, pos, CAST(sum(qv_i) // count(*) AS BIGINT) AS c
        FROM qe GROUP BY g, pos
    ), dist AS (
        SELECT qe.vec_id, cent.clabel,
               sum((qe.qv_i - cent.c) * (qe.qv_i - cent.c)) AS d2
        FROM qe JOIN cent ON qe.pos = cent.pos
        GROUP BY qe.vec_id, cent.clabel
    ), assign AS (
        SELECT vec_id, clabel AS cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
        FROM dist
    ), v AS (
        SELECT q.vec_id, a.cluster, q.qv,
               CAST(list_dot_product(q.qv, q.qv) AS BIGINT) AS n2
        FROM q JOIN assign a ON q.vec_id = a.vec_id AND a.rn = 1
    ), hits AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2, a.cluster,
               CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot,
               a.n2 AS n2a, b.n2 AS n2b
        FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE CAST(list_dot_product(a.qv, b.qv) AS BIGINT) > 0
          AND 25 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
                 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
              >= 4 * a.n2 * b.n2
    )
    SELECT id2 AS vec_id,
           CAST(min(cluster) AS BIGINT) AS cluster,
           CAST(min(id1) AS BIGINT) AS dup_of,
           CAST(count(*) AS BIGINT) AS n_cluster_dups,
           CAST(max(10000 * dot * dot // (n2a * n2b)) AS BIGINT) AS max_cos2_bp
    FROM hits GROUP BY id2
    """,
)
def dedup_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    only compares embeddings WITHIN their k-means cluster — the cluster is
    the blocking unit, so the pairwise stage costs Σ|cluster|² instead of
    n². One E-step assigns each vector to the nearest integer-mean
    centroid (squared-L2 on 1e3-quantized ints — exact, ties to lowest
    centroid id); within a cluster, a vector is a near-dup of an earlier
    one when cosine ≥ 0.4, decided ENTIRELY in integer arithmetic:
    dot > 0 ∧ 25·dot² ≥ 4·|a|²·|b|² (cross-multiplied cosine², no sqrt,
    no float surface anywhere — products bounded ≲ 8e14 < 2⁶³ for these
    1e3-quantized 64-dim vectors). Dropped rows report their keeper
    (lowest id), dup count, and max cos² in basis points (integer floor
    division). Cross-cluster near-dups are invisible BY DESIGN — that is
    SemDeDup's accepted recall trade for removing the quadratic bound.

    The centroid count SCALES WITH THE CORPUS: k = max(10, ⌈√n⌉) from a
    one-scalar cardinality probe (the blessed measured-plan-choice
    pattern), seeded by range-binning the first quantized component into k
    bins over its measured [min, max] — deterministic, value-based (no
    global-sort window), and exactly reproducible in the oracle from the
    same three scalars. The round-13 sf1 probe measured the former fixed
    10-label seeding at 24.6× wall on 10× data (Σ|cluster|² with linearly
    growing clusters is quadratic, VERDICT r13 item 2); with k ∝ √n both
    the n·k assignment and the Σ|cluster|² ≈ n²/k pair stage are O(n^1.5).

    100 TB: centroids are a tiny broadcast (√n rows); assignment is narrow
    per-row HOF math; the pair join keys on (cluster, block-pair) —
    with_block_pair sub-blocks inside big clusters so one hot cluster
    spreads over B² tasks, the same bound as the exact ε-join family."""
    import math

    from .similarity import adaptive_n_blocks, with_block_pair

    e = load_table(spark, sf_dir, "embeddings")
    q0 = e.select("vec_id", milli().alias("qv"))
    probe = q0.agg(
        F.count("*").alias("n"),
        F.min(F.col("qv")[0]).alias("lo"),
        F.max(F.col("qv")[0]).alias("hi"),
    ).first()
    n = probe["n"] or 0
    lo = probe["lo"] if probe["lo"] is not None else 0
    hi = probe["hi"] if probe["hi"] is not None else 0
    k = max(10, math.isqrt(max(n - 1, 0)) + 1)
    span = hi - lo + 1
    q = q0.withColumn("g", F.expr(f"(qv[0] - {lo}) * {k} div {span}"))
    exploded = q.select("g", F.posexplode("qv").alias("pos", "qv_i"))
    cent = (
        exploded.groupBy(F.col("g").alias("clabel"), "pos")
        .agg(F.sum("qv_i").alias("s"), F.count("*").alias("n"))
        .select("clabel", "pos", F.expr("s div n").alias("c"))
    )
    carr = cent.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("carr")
    )
    d2 = sq_l2("qv", "carr")
    idot = F.aggregate(
        F.zip_with("qv", "qv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assigned = (
        q.crossJoin(F.broadcast(carr))
        .select("vec_id", "qv", "clabel", d2.alias("d2"))
        # (d2, clabel) argmin as a min-struct hash aggregate instead of the
        # former row_number window: map-side partials collapse the n·k
        # assignment rows to one per vector BEFORE the exchange, and the
        # per-partition sort disappears (round-14; the struct order is
        # total because clabel is unique per row, so the winner is
        # identical — qv rides the struct and is never compared)
        .groupBy("vec_id")
        # qv rides a separate first() (identical across the group — it is
        # the vector itself), NOT the min struct: a 64-long array inside
        # the comparison struct would be rebuilt per n·k row
        .agg(F.min(F.struct("d2", "clabel")).alias("b"), F.first("qv").alias("qv"))
        .select("vec_id", F.col("b.clabel").alias("cluster"), "qv")
        .withColumn("n2", idot)
        # explicit fan-out before the checkpoint: AQE coalesces the tiny
        # assignment rollup to ~1 partition, which would serialize the
        # blocked pair join below (the dedup_minhash_openvocab discipline)
        .repartition(n_part, F.col("vec_id"))
        # the n·k assignment feeds the adaptive_n_blocks probe action AND
        # both sides of the pair join — checkpoint or it executes 3×
        # (SURVEY §10 lesson 4; round-14 review finding 4)
        .localCheckpoint(eager=False)
    )
    blocked = with_block_pair(
        assigned, "vec_id", adaptive_n_blocks(assigned, "cluster")
    )
    a = blocked.select(
        F.col("vec_id").alias("id1"), "cluster", F.col("qv").alias("qv1"),
        F.col("n2").alias("n2a"), "_g", "_p",
    )
    b = blocked.select(
        F.col("vec_id").alias("id2"), F.col("cluster").alias("cluster2"),
        F.col("qv").alias("qv2"), F.col("n2").alias("n2b"),
        F.col("_g").alias("_g2"), F.col("_p").alias("_p2"),
    )
    pdot = F.aggregate(
        F.zip_with("qv1", "qv2", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    hits = (
        a.join(
            b,
            (F.col("cluster") == F.col("cluster2"))
            & (F.col("_g") == F.col("_p2"))
            & (F.col("_p") == F.col("_g2"))
            & (F.col("id1") < F.col("id2")),
        )
        .withColumn("dot", pdot)
        .filter(
            (F.col("dot") > 0)
            & (25 * F.col("dot") * F.col("dot") >= 4 * F.col("n2a") * F.col("n2b"))
        )
    )
    return hits.groupBy(F.col("id2").alias("vec_id")).agg(
        F.min("cluster").cast("long").alias("cluster"),
        F.min("id1").cast("long").alias("dup_of"),
        F.count("*").cast("long").alias("n_cluster_dups"),
        F.max(
            F.expr("10000 * dot * dot div (n2a * n2b)")
        ).cast("long").alias("max_cos2_bp"),
    )


@register(
    "text_ccnet_buckets",
    oracle=f"""
    WITH {_LM_SCORED_CTE}, per_doc AS (
        SELECT doc_id, CAST(sum(lp) // count(*) AS BIGINT) AS avg_logp_micro
        FROM scored GROUP BY doc_id
    ), langd AS (
        SELECT p.doc_id, d.lang, p.avg_logp_micro
        FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
    ), bucketed AS (
        SELECT lang, avg_logp_micro,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY avg_logp_micro DESC, doc_id) AS b
        FROM langd
    )
    SELECT lang,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(avg_logp_micro) AS BIGINT) AS min_logp_micro,
           CAST(max(avg_logp_micro) AS BIGINT) AS max_logp_micro
    FROM bucketed GROUP BY lang, b
    """,
)
def text_ccnet_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: per language, documents split into
    head/middle/tail terciles of the self-trained bigram-LM score (head =
    most probable text, the slice CCNet keeps preferentially; tail = the
    candidates for dropping or re-review). Reuses text_bigram_lm_score's
    scoring verbatim (the oracle shares the same CTE chain constant, so
    the two ops cannot drift); the tercile cut is ntile(3) over the
    deterministic (score DESC, doc_id) total order — both engines split
    n into the same ceil/floor group sizes, so bucket membership is
    engine-stable without any threshold constant.

    100 TB: scoring is the broadcast-model pattern (tiny count model onto
    the bigram stream); the tercile window shuffles once on lang. With
    billions of docs per language swap ntile for the pre-aggregated
    distributed-CDF rank (the agg_ks_test shape) — semantics identical."""
    scored = text_bigram_lm_score(spark, sf_dir).select(
        "doc_id", "avg_logp_micro"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    langd = scored.join(d, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_logp_micro"), F.asc("doc_id")
    )
    b = F.ntile(3).over(w)
    return (
        langd.withColumn("b", b)
        .groupBy(
            "lang",
            F.when(F.col("b") == 1, "head")
            .when(F.col("b") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("avg_logp_micro").cast("long").alias("min_logp_micro"),
            F.max("avg_logp_micro").cast("long").alias("max_logp_micro"),
        )
    )


@register(
    "pipeline_corpus_curate",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST((n_chars - len(string_split(text, ' ')) + 1) * 100
                    // len(string_split(text, ' ')) AS BIGINT) AS mtl,
               CAST(1000 * len({token_set_duck()})
                    // len(string_split(text, ' ')) AS BIGINT) AS ttr,
               CAST(len(list_filter({token_set_duck()},
                                    t -> t IN ('a', 'the'))) AS BIGINT) AS nst
        FROM documents
    ), kept AS (
        SELECT doc_id, lang, text FROM m
        WHERE n_tokens BETWEEN 20 AND 90 AND mtl BETWEEN 400 AND 520
          AND ttr >= 300 AND nst >= 1
    ), fp AS (
        SELECT doc_id, lang,
               array_to_string(list_sort({token_set_duck()}), ',')
                   AS fingerprint
        FROM kept
    ), uniq AS (
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang, row_number() OVER (
                PARTITION BY fingerprint ORDER BY doc_id) AS rn
            FROM fp
        ) WHERE rn = 1
    ), splits AS (
        SELECT lang,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
        FROM (SELECT lang,
                     {md5_bucket_duck("doc_id", 100)} AS b
              FROM uniq)
    ), audit AS (
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_raw,
               CAST(count(*) FILTER (k.doc_id IS NOT NULL) AS BIGINT)
                   AS n_quality,
               CAST(count(*) FILTER (u.doc_id IS NOT NULL) AS BIGINT)
                   AS n_unique
        FROM documents d
        LEFT JOIN kept k ON k.doc_id = d.doc_id
        LEFT JOIN uniq u ON u.doc_id = d.doc_id
        GROUP BY d.lang
    )
    SELECT s.lang, s.split, CAST(count(*) AS BIGINT) AS n_docs,
           a.n_raw, a.n_quality, a.n_unique
    FROM splits s JOIN audit a ON a.lang = s.lang
    GROUP BY s.lang, s.split, a.n_raw, a.n_quality, a.n_unique
    """,
)
def pipeline_corpus_curate(spark, sf_dir):
    """End-to-end corpus curation in ONE lazy plan — the composition the
    individual operators exist for: Gopher quality gate → exact-fingerprint
    dedup (keep lowest id per duplicate group) → deterministic 80/10/10
    content-hash split, emitting the per-(lang, split) counts with the
    per-lang funnel audit (raw → quality-kept → unique) attached. Each
    stage reuses the exact semantics of its standalone operator
    (text_gopher_quality's thresholds, dedup_exact_text's fingerprint,
    sample_train_valid_test's buckets), so this op doubles as an
    integration test that the pieces compose without materialization
    between stages.

    100 TB: quality is scan-speed map work; dedup is one shuffle on the
    fingerprint; the split is a map; the audit rides the same frame with
    two broadcast-sized left joins. Catalyst pipelines all of it — no
    intermediate writes, exactly how a production curation DAG should
    run before its single sink."""
    d = load_table(spark, sf_dir, "documents")
    g = text_gopher_quality(spark, sf_dir).select("doc_id", "keep")
    kept = (
        d.select("doc_id", "lang", "text")
        .join(g, "doc_id")
        .filter(F.col("keep"))
        .drop("keep")
    )
    fp = kept.select(
        "doc_id",
        "lang",
        F.array_join(
            F.array_sort(F.array_distinct(F.split("text", " "))), ","
        ).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    uniq = (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )
    b = md5_bucket("doc_id", 100)
    splits = uniq.select(
        "lang",
        F.when(b < 80, "train").when(b < 90, "valid").otherwise("test").alias(
            "split"
        ),
    )
    audit = (
        d.select("doc_id", "lang")
        .join(kept.select(F.col("doc_id").alias("kd")), F.col("doc_id") == F.col("kd"), "left")
        .join(uniq.select(F.col("doc_id").alias("ud")), F.col("doc_id") == F.col("ud"), "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            F.count("kd").cast("long").alias("n_quality"),
            F.count("ud").cast("long").alias("n_unique"),
        )
    )
    return (
        splits.groupBy("lang", "split")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .join(F.broadcast(audit), "lang")
        .select("lang", "split", "n_docs", "n_raw", "n_quality", "n_unique")
    )


@register(
    "text_lm_backoff_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(range(1, len(t))) AS u(i)
    ), c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2),
       c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw FROM bg GROUP BY w1),
       uni AS (
        SELECT tok AS w2, CAST(count(*) AS BIGINT) AS uw FROM (
            SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ), tot AS (SELECT CAST(count(*) AS HUGEINT) AS T FROM (SELECT unnest(t) FROM toks)),
    scored AS (
        SELECT bg.doc_id,
               CAST(floor(1e6 * log2(
                   CAST(7 * CAST(c2.cb AS HUGEINT) * tot.T
                        + 3 * CAST(uni.uw AS HUGEINT) * c1.cw AS DOUBLE)
                   / CAST(10 * CAST(c1.cw AS HUGEINT) * tot.T AS DOUBLE)
               ) + 1e-6) AS BIGINT) AS lp
        FROM bg
        JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        JOIN c1 ON bg.w1 = c1.w1
        JOIN uni ON bg.w2 = uni.w2
        CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(lp) // count(*) AS BIGINT) AS avg_logp_micro
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_backoff_score(spark, sf_dir):
    """Interpolated (Jelinek-Mercer) bigram/unigram LM scoring — the
    smoothing text_bigram_lm_score deliberately omits: P = 0.7·P_bigram +
    0.3·P_unigram, so unseen-in-context words back off to their corpus
    rate instead of −∞, which is what production perplexity filters
    (KenLM-style) actually do. The mixture stays an exact integer
    rational ((7·c_b·T + 3·u_{w2}·c_{w1}) / (10·c_{w1}·T), HUGEINT/
    decimal numerator — c_b·T passes int64 at cluster scale) until the
    single log2, floored to micro-bits with the +1e-6 libm guard.

    100 TB: three count models over the token stream (all map-side
    combined; each ≤ |vocab|² rows) broadcast onto the bigram stream +
    one 1-row total — the bigram-LM shuffle budget plus one broadcast."""
    d = load_table(spark, sf_dir, "documents")
    # zip_with over two slices of a MATERIALIZED token column — never
    # `split(text)[i + 1]` inside the lambda: a lambda body re-evaluates
    # outer non-attribute subexpressions per element, so the old form
    # re-split the text once per bigram (O(n²) tokenization per doc).
    bg = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        F.explode(
            F.expr(
                """
                zip_with(slice(toks, 1, size(toks) - 1),
                         slice(toks, 2, size(toks) - 1),
                         (x, y) -> struct(x AS w1, y AS w2))
                """
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("cb"))
    c1 = bg.groupBy("w1").agg(F.count("*").cast("long").alias("cw"))
    uni = toks.groupBy(F.col("tok").alias("w2")).agg(
        F.count("*").cast("long").alias("uw")
    )
    tot = toks.agg(F.count("*").cast("decimal(38,0)").alias("T"))
    lp = F.floor(
        F.lit(1e6)
        * F.log2(
            F.expr(
                """CAST(7 * CAST(cb AS DECIMAL(38,0)) * T
                        + 3 * CAST(uw AS DECIMAL(38,0)) * cw AS DOUBLE)"""
            )
            / F.expr("CAST(10 * CAST(cw AS DECIMAL(38,0)) * T AS DOUBLE)")
        )
        + F.lit(1e-6)
    ).cast("long")
    scored = (
        bg.join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), ["w1"])
        .join(F.broadcast(uni), ["w2"])
        .crossJoin(F.broadcast(tot))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.expr("sum(lp) div count(*)").alias("avg_logp_micro"),
    )


@register(
    "sim_cluster_purity",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               unnest({milli_duck()}) AS qv,
               unnest(range(len(embedding))) AS pos
        FROM embeddings
    ), cent AS (
        SELECT label AS clabel, pos,
               CAST(sum(qv) // count(*) AS BIGINT) AS c
        FROM q GROUP BY label, pos
    ), dist AS (
        SELECT q.vec_id, q.label, cent.clabel,
               sum((q.qv - cent.c) * (q.qv - cent.c)) AS d2
        FROM q JOIN cent ON q.pos = cent.pos
        GROUP BY q.vec_id, q.label, cent.clabel
    ), best AS (
        SELECT vec_id, label, clabel AS assigned_label,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
        FROM dist
    ), cells AS (
        SELECT label, assigned_label, CAST(count(*) AS BIGINT) AS n_vectors
        FROM best WHERE rn = 1 GROUP BY label, assigned_label
    ), ranked AS (
        SELECT assigned_label, label, n_vectors,
               row_number() OVER (PARTITION BY assigned_label
                                  ORDER BY n_vectors DESC, label) AS rk,
               CAST(sum(n_vectors) OVER (PARTITION BY assigned_label) AS BIGINT)
                   AS n_cluster
        FROM cells
    )
    SELECT assigned_label, n_cluster,
           label AS majority_label,
           n_vectors AS n_majority,
           CAST(1000 * n_vectors // n_cluster AS BIGINT) AS purity_permille
    FROM ranked WHERE rk = 1
    """,
)
def sim_cluster_purity(spark, sf_dir):
    """Per-cluster purity readout composed ON the registered
    sim_nearest_centroid contingency table: for each assigned cluster,
    its size, majority true label (ties → lowest label), majority count,
    and purity in exact integer permille — the clustering-eval companion
    to text_langid_confusion's classifier eval. Because it consumes the
    same plan the driver verifies, the metric can never drift from the
    assignment it claims to score.

    100 TB: the contingency table is k×k (≤ 100 cells for any corpus);
    the argmax window and purity arithmetic run on that bounded frame —
    evaluation cost is entirely the upstream assignment pass."""
    cells = sim_nearest_centroid(spark, sf_dir)
    w = Window.partitionBy("assigned_label").orderBy(
        F.col("n_vectors").desc(), F.col("label")
    )
    wtot = Window.partitionBy("assigned_label")
    ranked = cells.select(
        "assigned_label",
        "label",
        "n_vectors",
        F.row_number().over(w).alias("rk"),
        F.sum("n_vectors").over(wtot).cast("long").alias("n_cluster"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "assigned_label",
        "n_cluster",
        F.col("label").alias("majority_label"),
        F.col("n_vectors").alias("n_majority"),
        F.expr("CAST(1000 * n_vectors div n_cluster AS BIGINT)").alias(
            "purity_permille"
        ),
    )


@register(
    "text_kl_source_drift",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
    ), vocab AS (
        SELECT DISTINCT token FROM tok
    ), vstat AS (
        SELECT CAST(count(*) AS BIGINT) AS v FROM vocab
    ), corpus AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), ctot AS (
        SELECT CAST(count(*) AS BIGINT) AS t FROM tok
    ), src AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS cs
        FROM tok GROUP BY source, token
    ), stot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS ts FROM tok GROUP BY source
    ), grid AS (
        SELECT s.source, v.token, coalesce(src.cs, 0) AS cs, st.ts,
               c.c, ct.t, vs.v
        FROM (SELECT DISTINCT source FROM tok) s
        CROSS JOIN vocab v
        LEFT JOIN src ON src.source = s.source AND src.token = v.token
        JOIN stot st ON st.source = s.source
        JOIN corpus c ON c.token = v.token
        CROSS JOIN ctot ct CROSS JOIN vstat vs
    ), terms AS (
        SELECT source, ts, v,
               (cs + 1) * CAST(floor(1e6 * log2(
                   (CAST(cs AS DOUBLE) + 1) * (t + v)
                   / ((CAST(ts AS DOUBLE) + v) * (c + 1))) + 1e-6) AS BIGINT)
                   AS wterm
        FROM grid
    )
    SELECT source, CAST(max(ts) AS BIGINT) AS n_tokens,
           CAST(max(v) AS BIGINT) AS vocab_size,
           CAST(sum(wterm) // (max(ts) + max(v)) AS BIGINT) AS kl_micro
    FROM terms GROUP BY source
    """,
)
def text_kl_source_drift(spark, sf_dir):
    """Per-source distribution-shift audit: KL(P_source ‖ P_corpus) over
    the Laplace-smoothed unigram distributions — the drift detector a
    training pipeline runs before admitting a new source (a source whose
    token mix diverges from the corpus gets flagged, not silently mixed).
    Implemented as the exact integer functional Σ (c_s+1)·⌊10⁶·log₂(ratio)
    + 1e-6⌋ div (T_s+V): one guarded transcendental per (source, vocab)
    cell of an exact rational, weighted and normalized by integer
    arithmetic only — the summation order cannot drift because the terms
    are integers. Smoothing uses the corpus vocabulary V, so sources
    missing a token still contribute its mass honestly.

    100 TB: two token rollups (per-source and corpus) shrink the stream
    to |sources|·|vocab| cells; the grid is a broadcast cross of the two
    tiny dimensions. For open-vocabulary corpora the vocab axis is the
    hashing-vectorizer's bucketed one (text_hashing_vectorizer) — same
    shape, fixed width."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.select("token").distinct()
    vstat = vocab.agg(F.count("*").cast("long").alias("v"))
    corpus = tok.groupBy("token").agg(F.count("*").cast("long").alias("c"))
    ctot = tok.agg(F.count("*").cast("long").alias("t"))
    src = tok.groupBy("source", "token").agg(
        F.count("*").cast("long").alias("cs")
    )
    stot = tok.groupBy("source").agg(F.count("*").cast("long").alias("ts"))
    grid = (
        tok.select("source")
        .distinct()
        .crossJoin(F.broadcast(vocab))
        .join(src, ["source", "token"], "left")
        .fillna({"cs": 0})
        .join(F.broadcast(stot), "source")
        .join(F.broadcast(corpus), "token")
        .crossJoin(F.broadcast(ctot))
        .crossJoin(F.broadcast(vstat))
    )
    wterm = (F.col("cs") + 1) * F.floor(
        F.lit(1e6)
        * F.log2(
            (F.col("cs").cast("double") + 1)
            * (F.col("t") + F.col("v"))
            / ((F.col("ts").cast("double") + F.col("v")) * (F.col("c") + 1))
        )
        + F.lit(1e-6)
    ).cast("long")
    return (
        grid.select("source", "ts", "v", wterm.alias("wterm"))
        .groupBy("source")
        .agg(
            F.max("ts").cast("long").alias("n_tokens"),
            F.max("v").cast("long").alias("vocab_size"),
            F.expr("CAST(sum(wterm) div (max(ts) + max(v)) AS BIGINT)").alias(
                "kl_micro"
            ),
        )
    )


def _kmeans_oracle() -> str:
    """sim_kmeans_lloyd's oracle: the unrolled Lloyd over every vector, its
    final E-step and the per-cluster readout."""
    return f"""
    WITH {lloyd_duck()}
    , {centroid_ranks_duck("rF")}
    , lab AS (
        SELECT r.cluster, e.label, CAST(count(*) AS BIGINT) AS n
        FROM rF r JOIN embeddings e USING (vec_id) WHERE r.rn = 1 GROUP BY 1, 2
    ), maj AS (
        SELECT cluster, label AS majority_label, n AS n_majority FROM (
            SELECT cluster, label, n,
                   row_number() OVER (PARTITION BY cluster
                                      ORDER BY n DESC, label ASC) AS rn
            FROM lab) WHERE rn = 1
    )
    SELECT a.cluster AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(a.d2) AS BIGINT) AS inertia_q,
           any_value(m.majority_label) AS majority_label,
           round(any_value(m.n_majority) * 1.0 / count(*), 4) AS purity
    FROM rF a JOIN maj m ON a.cluster = m.cluster
    WHERE a.rn = 1
    GROUP BY 1"""


def _ann_append_oracle() -> str:
    """sim_ann_append's oracle: train the index on the ~90% hash-split BASE
    (seeds from the base only), then assign the ~10% NEW batch to the
    frozen trained centroids and report per-list occupancy, growth,
    appended inertia, and the imbalance flag."""
    m = md5_bucket_duck("vec_id", 10)
    return f"""
    WITH {lloyd_duck(split=f"{m} <> 0")}
    , newq AS (
        {milli_rows_duck(f"{m} = 0")}
    ), {centroid_ranks_duck("rB")}
    , base_occ AS (
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_base
        FROM rB WHERE rn = 1 GROUP BY cluster
    ), {centroid_ranks_duck("rN", "newq")}
    , new_occ AS (
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_new,
               CAST(sum(d2) AS BIGINT) AS new_inertia_q
        FROM rN WHERE rn = 1 GROUP BY cluster
    ), tot AS (
        SELECT CAST((SELECT sum(n_base) FROM base_occ) AS BIGINT) AS tb,
               CAST((SELECT count(*) FROM rN WHERE rn = 1) AS BIGINT) AS tn
    )
    SELECT b.cluster AS cluster_id,
           b.n_base,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(1000 * coalesce(n.n_new, 0) // b.n_base AS BIGINT)
               AS growth_permille,
           CAST(coalesce(n.new_inertia_q, 0) AS BIGINT) AS new_inertia_q,
           CAST(CASE WHEN (b.n_base + coalesce(n.n_new, 0)) * 8
                          > 2 * (t.tb + t.tn)
                     THEN 1 ELSE 0 END AS BIGINT) AS needs_split
    FROM base_occ b LEFT JOIN new_occ n ON b.cluster = n.cluster
    CROSS JOIN tot t"""


@register("sim_ann_append", oracle=_ann_append_oracle())
def sim_ann_append(spark, sf_dir):
    """Incremental ANN index maintenance — the production 'append to a
    trained IVF index without reclustering' path the batch family
    (sim_ann_ivf / sim_kmeans_lloyd) points to. The 8-centroid index is
    trained by the fixed 3-iteration quantized Lloyd (vectors.lloyd_centroids)
    on the ~90% BASE hash split only (split = md5(vec_id) mod 10, the
    sampling.py discipline — deterministic, reproducible, no rand()); the
    ~10% NEW batch is then assigned to the FROZEN final centroids. The
    readout is the index-maintenance dashboard, all integer-exact: per
    list (cluster), current occupancy n_base, appended n_new, integer
    growth_permille, the appended vectors' quantized inertia (how well
    the old geometry fits the new data — drift shows up as inertia
    disproportion), and needs_split = occupancy exceeding 2× the mean
    list size after the append — the imbalance trigger production IVF
    deployments (e.g. Faiss add + periodic re-train) act on.

    100 TB: training is the offline/amortized arm; the APPEND arm — the
    thing that runs per ingest batch — is one narrow pass over the new
    batch taking the argmin over the 8 centroids embedded as literals,
    and an 8-row rollup: no shuffle of the base
    corpus, no recluster, cost linear in the batch. The base-occupancy
    arm here re-derives n_base from the final E-step for hash
    verifiability; a deployed index reads it from posting-list metadata.
    Oracle unrolls the same trajectory (base-only seeds/training, frozen
    assignment) in CTEs."""
    e = load_table(spark, sf_dir, "embeddings")
    m = md5_bucket("vec_id", 10)
    allq = e.select(
        "vec_id", "label", milli().alias("qarr"), m.alias("m")
    )
    base = allq.filter(F.col("m") != 0).drop("m").localCheckpoint(eager=False)
    newb = allq.filter(F.col("m") == 0).drop("m")

    model = lloyd_centroids(base)
    base_occ = (
        model.assign()
        .groupBy("cluster")
        .agg(F.count("*").cast("long").alias("n_base"))
    )

    # The append path proper: frozen centroids, one map-side literal
    # argmin over the batch.
    new_assign = model.assign(newb)
    new_occ = new_assign.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_new"),
        F.sum("d2").cast("long").alias("new_inertia_q"),
    )
    tot = base_occ.agg(
        F.sum("n_base").cast("long").alias("tb")
    ).crossJoin(new_assign.agg(F.count("*").cast("long").alias("tn")))
    return (
        base_occ.join(new_occ, "cluster", "left")
        .fillna({"n_new": 0, "new_inertia_q": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cluster").alias("cluster_id"),
            "n_base",
            F.col("n_new").cast("long").alias("n_new"),
            F.expr("CAST(1000 * n_new div n_base AS BIGINT)").alias(
                "growth_permille"
            ),
            F.col("new_inertia_q").cast("long").alias("new_inertia_q"),
            F.when(
                (F.col("n_base") + F.col("n_new")) * 8
                > 2 * (F.col("tb") + F.col("tn")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("needs_split"),
        )
    )


#: the trainer's CTEs carry a "k" prefix: _PQ_CODES_CTE already names q
_IVFADC_ORACLE = f"""
    WITH {_PQ_CODES_CTE}, {lloyd_duck(prefix="k")}
    , {centroid_ranks_duck("krF", "kq", lloyd_trained_duck("k"))}
    , kprobe AS (
        SELECT vec_id AS probe_id, cluster FROM krF WHERE vec_id < 5 AND rn <= 3
    ), cand AS (
        SELECT p.probe_id, a.vec_id
        FROM kprobe p JOIN krF a USING (cluster)
        WHERE a.rn = 1 AND a.vec_id != p.probe_id
    ), {_PQ_ADC_CTE}, adc AS (
        SELECT c.probe_id, c.vec_id, CAST(sum(t.d2) AS BIGINT) AS adc_d2
        FROM cand c
        JOIN best b ON b.vec_id = c.vec_id
        JOIN dtab t ON t.probe_id = c.probe_id AND t.m = b.m AND t.c = b.c
        GROUP BY 1, 2
    )
    SELECT probe_id, vec_id, adc_d2, CAST(rn AS BIGINT) AS rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_d2, vec_id) AS rn
        FROM adc)
    WHERE rn <= 5
"""


@register("sim_ann_ivfadc", oracle=_IVFADC_ORACLE)
def sim_ann_ivfadc(spark, sf_dir):
    """IVF + PQ/ADC composed — the FAISS IVFADC architecture, THE layout
    a billion-vector production index actually ships: a coarse quantizer
    (the 8-centroid fixed-3-iteration integer Lloyd, vectors.lloyd_centroids —
    shared with sim_kmeans_lloyd / sim_ann_append so trainer and index
    cannot drift) partitions the corpus into inverted lists; each of the
    5 probes ranks the coarse centroids and scans only its nprobe=3
    nearest lists; within the candidate lists, distance is the PQ/ADC sum
    of 8 integer table lookups (_pq_parts, shared with sim_pq_quantize /
    sim_adc_search). Top-5 per probe by (adc_d2, vec_id). Every stage is
    integer-exact with total-order tie-breaks, so the APPROXIMATE result
    is hash-verified cross-engine — unlike `sim_ann_ivf` (rows-only, real
    float centroids), this key pins the full IVF+PQ trajectory.

    100 TB: the coarse centroid table (8×64 ints) and the PQ codebook
    (128 rows) broadcast; list assignment is one narrow zip_with pass;
    the probe side moves only |probes|·nprobe list keys into the
    candidate equi-join, so the ADC scan touches ~nprobe/nlist of the
    code table instead of all of it — the entire point of IVF — and the
    codes themselves are 8 ints/vector, never the raw embeddings."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", "label", milli().alias("qarr")
    ).localCheckpoint(eager=False)
    model = lloyd_centroids(q)
    lists = model.assign().select("vec_id", "cluster")
    # each probe's 3 nearest lists, read map-side off its ranked centroids
    probe_lists = _centroid_ranks(
        q.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"),
            F.slice(F.expr(model.ranked_sql("qarr")), 1, 3).alias("ranked"),
        ),
        "probe_id",
    ).select("probe_id", "cluster")
    cand = (
        probe_lists.join(lists, "cluster")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
    )
    from .similarity import _pq_parts

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
        cand.join(best.drop("d2"), "vec_id")
        .join(F.broadcast(dtab), ["probe_id", "m", "c"])
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("td2").cast("long").alias("adc_d2"))
    )
    w = Window.partitionBy("probe_id").orderBy("adc_d2", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("probe_id", "vec_id", "adc_d2", "rnk")
    )


def _centroid_ranks(df, key: str):
    """(key, cluster, crank): one row per element of ``df``'s ``ranked``
    array of ``(d, c)`` structs, ``crank`` its 1-based position."""
    # posexplode_OUTER + pos-notnull is the inner posexplode exactly, minus
    # the inferred size filter that re-folds the ranked array's distances
    return (
        df.select(key, F.posexplode_outer("ranked").alias("pos", "r"))
        .filter(F.col("pos").isNotNull())
        .select(
            key,
            F.col("r.c").alias("cluster"),
            (F.col("pos") + 1).cast("long").alias("crank"),
        )
    )


@register("sim_kmeans_lloyd", oracle=_kmeans_oracle())
def sim_kmeans_lloyd(spark, sf_dir):
    """Distributed k-means (k=8, 3 full Lloyd iterations + final E-step)
    over the quantized embeddings — the iterative-ML capstone of the
    similarity family, and every step is EXACT so the whole trajectory is
    hash-oracleable: vectors quantize to integer milli-units
    (``encode.milli``), centroids are integer floor-division means
    (quantized-Lloyd semantics — documented, deterministic, the
    sim_nearest_centroid rule), distances are integer squared-L2, and
    every argmin tie breaks (d2, cluster). Seeds are the 8 vectors with
    the smallest md5(vec_id) — hash-derived like all repo randomness, so
    the trajectory is identical across engines, partitionings, and scale
    reruns. Output: per-cluster size, integer inertia, majority label +
    purity (the unsupervised-fit readout; labels carry no geometry in
    this synthetic corpus, so purity ~1/|labels| is the pinned honest
    reading).

    100 TB: the canonical distributed Lloyd shape (vectors.lloyd_centroids)
    — the k·dim centroid table stays on the driver and enters each pass
    as literal arrays, so an iteration is ONE job: a narrow map-side
    argmin over integer squared-L2 (no UDF, no shuffle) and one
    (cluster,pos) rollup (map-side combined, k·dim rows collected). The
    seeds are one TakeOrdered collect of the 8 smallest md5(vec_id); no
    ranking window, broadcast or checkpointed centroid table exists, and
    the final E-step is the same map-side argmin.

    Convergence contract (the graph_pagerank precedent for iterative
    ops): the plan unrolls a FIXED 3 Lloyd iterations + one final
    E-step — no data-dependent stopping, so the physical plan and the
    oracle's unrolled CTE chain are the same finite computation at any
    scale. Hash-stability follows because every step is closed over the
    integers: milli-unit quantized inputs, floor-div centroid means,
    integer squared-L2 distances, and total-order tie-breaks at both
    argmins ((d2, cluster) for assignment, (n DESC, label ASC) for the
    majority vote) — no float accumulates across iterations, so there
    is no engine/partitioning/order sensitivity to amplify."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", "label", milli().alias("qarr")
    ).localCheckpoint(eager=False)

    final = lloyd_centroids(q).assign()
    lab = final.groupBy("cluster", "label").agg(F.count("*").alias("n"))
    w_maj = Window.partitionBy("cluster").orderBy(F.col("n").desc(), F.col("label").asc())
    maj = (
        lab.withColumn("rn", F.row_number().over(w_maj))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("majority_label"), F.col("n").alias("n_majority"))
    )
    return (
        final.groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum("d2").cast("long").alias("inertia_q"),
        )
        .join(F.broadcast(maj), "cluster")
        .select(
            F.col("cluster").alias("cluster_id"),
            "n_vectors",
            "inertia_q",
            "majority_label",
            F.round(F.col("n_majority") * 1.0 / F.col("n_vectors"), 4).alias(
                "purity"
            ),
        )
    )


def _ivf_geometry_oracle() -> str:
    """plan_ivf_probe_geometry's oracle: the unrolled Lloyd over every
    vector, then the nprobe sweep — centroid ranks per sampled query, exact
    top-10 truth, and the cumulative scanned-rows / recall readout per
    probe count."""
    return f"""
    WITH {lloyd_duck()}
    , {centroid_ranks_duck("rF")}
    , lists AS (
        SELECT cluster, CAST(count(*) AS BIGINT) AS list_n
        FROM rF WHERE rn = 1 GROUP BY cluster
    ), crank AS (
        SELECT vec_id AS qid, cluster, CAST(rn AS BIGINT) AS crank
        FROM rF WHERE vec_id % 7 = 0
    ), tdist AS (
        SELECT s.vec_id AS qid, t.vec_id AS nb,
               CAST(sum((t.qv - s.qv) * (t.qv - s.qv)) AS BIGINT) AS d2
        FROM q t JOIN q s ON t.pos = s.pos
        WHERE s.vec_id % 7 = 0 AND t.vec_id <> s.vec_id
        GROUP BY 1, 2
    ), truth AS (
        SELECT qid, nb FROM (
            SELECT qid, nb,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY d2, nb) AS rn
            FROM tdist) WHERE rn <= 10
    ), tr AS (
        SELECT t.qid, c.crank
        FROM truth t
        JOIN rF a ON t.nb = a.vec_id AND a.rn = 1
        JOIN crank c ON c.qid = t.qid AND c.cluster = a.cluster
    ), nq AS (
        SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries
        FROM q WHERE vec_id % 7 = 0
    ), nn AS (
        SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_corpus FROM q
    ), probes AS (
        SELECT unnest(range(1, 9)) AS nprobe
    ), scan_by_crank AS (
        SELECT c.crank, CAST(sum(l.list_n) AS BIGINT) AS s
        FROM crank c JOIN lists l ON c.cluster = l.cluster
        GROUP BY 1
    ), hit_by_crank AS (
        SELECT crank, CAST(count(*) AS BIGINT) AS h FROM tr GROUP BY 1
    ), sc AS (
        SELECT p.nprobe, CAST(sum(sb.s) AS BIGINT) AS scanned
        FROM probes p JOIN scan_by_crank sb ON sb.crank <= p.nprobe
        GROUP BY 1
    ), ht AS (
        SELECT p.nprobe, CAST(sum(hb.h) AS BIGINT) AS hits
        FROM probes p JOIN hit_by_crank hb ON hb.crank <= p.nprobe
        GROUP BY 1
    )
    SELECT CAST(p.nprobe AS BIGINT) AS nprobe,
           nq.n_queries,
           CAST(coalesce(sc.scanned, 0) AS BIGINT) AS scanned_rows,
           CAST(1000 * coalesce(sc.scanned, 0)
                // (nq.n_queries * nn.n_corpus) AS BIGINT)
               AS scanned_permille,
           CAST(coalesce(ht.hits, 0) AS BIGINT) AS truth_hits,
           CAST(1000 * coalesce(ht.hits, 0) // (10 * nq.n_queries) AS BIGINT)
               AS recall_permille
    FROM probes p
    LEFT JOIN sc ON sc.nprobe = p.nprobe
    LEFT JOIN ht ON ht.nprobe = p.nprobe
    CROSS JOIN nq CROSS JOIN nn"""


@register("plan_ivf_probe_geometry", oracle=_ivf_geometry_oracle())
def plan_ivf_probe_geometry(spark, sf_dir):
    """IVF probe-count planner (Jegou/Douze/Schmid, TPAMI 2011 — the
    inverted-file coarse quantizer every IVF/IVFADC deployment tunes):
    for each nprobe in 1..8 over the 8-list index trained by the shared
    fixed-3-iteration quantized Lloyd (vectors.lloyd_centroids — the exact
    trajectory sim_kmeans_lloyd and sim_ann_append hash-verify), report
    the two numbers the knob trades off: the fraction of the corpus an
    nprobe-list search scans, and recall@10 against the exact
    squared-L2 truth for a deterministic query sample (vec_id % 7 = 0).
    Recall uses the standard IVF identity: a true top-10 neighbor is
    found at probe depth p iff the rank of ITS list among the query's
    distance-ordered centroids is <= p (probed true neighbors always
    win the exact re-rank), so the whole sweep reduces to one centroid-
    rank lookup per (query, true-neighbor) pair — the 8-point curve
    costs no more than one recall eval. The LSH counterpart is
    plan_lsh_band_geometry; together they close SURVEY's planner story:
    every approximate index family ships the cost/recall table its
    100 TB deployment consults before picking the operating point.

    All-integer (quantized milli-unit vectors, integer squared-L2,
    (d2, id) and (d2, cluster) tie-breaks, truncating permille), so the
    curve itself hash-verifies cross-engine.

    100 TB: training amortizes offline (sim_ann_append's arm); the
    sweep's own cost is the sampled-truth arm — the query sample
    replicated into ceil(corpus/4096)-row blocks and scored by one
    Arrow int64 matmul per task (the documented eval expense, linear in
    corpus x sample, never corpus²; task memory bounded by the block
    size regardless of corpus) — plus Q x 8 centroid ranks and two
    8-row cumulative rollups. The planner output is 8 rows at any
    scale; scanned_rows comes from list-size metadata, not a rescan."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", "label", milli().alias("qarr")
    ).localCheckpoint(eager=False)
    model = lloyd_centroids(q)

    # every vector's 8 centroids ranked map-side by (d2, cluster) — feeds
    # both the final assignment (rank 1) and the query-side centroid ranks;
    # checkpointed so neither re-folds the distances
    ranked = q.select(
        "vec_id", F.expr(model.ranked_sql("qarr")).alias("ranked")
    ).localCheckpoint(eager=False)
    member = ranked.select("vec_id", F.col("ranked")[0]["c"].alias("cluster"))
    lists = member.groupBy("cluster").agg(
        F.count("*").cast("long").alias("list_n")
    )
    crank_f = (
        _centroid_ranks(ranked.filter(F.col("vec_id") % 7 == 0), "vec_id")
        .select(F.col("vec_id").alias("qid"), "cluster", "crank")
        .localCheckpoint(eager=False)
    )

    # exact truth for the sampled queries — dense pairwise is the one
    # workload where Arrow + BLAS beats codegen'd HOFs (sim_topk_cosine's
    # measured discipline): the corpus splits into ceil(n/4096)-row
    # blocks, the query sample replicates into every block, one int64
    # matmul per task scores its block via |x|^2 + |q|^2 - 2x.q (exact —
    # milli-unit values keep every term far below 2^63), and each task
    # emits only its local top-10 per query (safe: the global (d2, nb)
    # order is total, so every global winner wins its own block). The
    # global cut is one window over blocks*10 rows per query.
    qs = q.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("qid"), F.col("qarr").alias("arr")
    )
    # corpus cardinality read from the trainer's last rollup: one fewer
    # sequential driver job than a q.count() probe
    n_corpus_rows = model.n_total
    n_blocks = max(1, -(-n_corpus_rows // ROWS_PER_BLOCK_TASK))
    corp = q.select(
        F.col("vec_id").alias("qid"),
        F.col("qarr").alias("arr"),
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"),
        F.lit(False).alias("is_q"),
    )
    qrep = qs.withColumn(
        "blk", F.explode(F.array(*[F.lit(i) for i in range(n_blocks)]))
    ).withColumn("is_q", F.lit(True))

    def _block_top10(key, pdf):
        import numpy as np
        import pandas as pd

        qp = pdf[pdf["is_q"]]
        cp = pdf[~pdf["is_q"]]
        if len(qp) == 0 or len(cp) == 0:
            return pd.DataFrame({"qid": [], "nb": [], "d2": []}).astype(
                {"qid": "int64", "nb": "int64", "d2": "int64"}
            )
        qm = np.stack(qp["arr"].to_numpy()).astype(np.int64)
        cm = np.stack(cp["arr"].to_numpy()).astype(np.int64)
        d = (
            (qm * qm).sum(axis=1)[:, None]
            + (cm * cm).sum(axis=1)[None, :]
            - 2 * (qm @ cm.T)
        )
        qids = qp["qid"].to_numpy()
        cids = cp["qid"].to_numpy()
        outs = []
        for i in range(len(qids)):
            mask = cids != qids[i]
            di, ci = d[i][mask], cids[mask]
            order = np.lexsort((ci, di))[:10]
            outs.append(
                pd.DataFrame({"qid": qids[i], "nb": ci[order], "d2": di[order]})
            )
        return pd.concat(outs, ignore_index=True)

    wt = Window.partitionBy("qid").orderBy("d2", "nb")
    truth = (
        corp.unionByName(qrep.select("qid", "arr", "blk", "is_q"))
        .groupBy("blk")
        .applyInPandas(_block_top10, "qid long, nb long, d2 long")
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= 10)
        .select("qid", "nb")
    )
    # broadcast the O(sample) sides (truth is ~10 rows per sampled query,
    # crank_f is Q x 8); member is the full-corpus vec_id->cluster frame
    # and must stay on the probe side of the hash join (ADVICE r11)
    tr = (
        member.withColumnRenamed("vec_id", "nb")
        .join(F.broadcast(truth), "nb")
        .join(F.broadcast(crank_f), ["qid", "cluster"])
        .select("qid", "crank")
    )

    # n_corpus is already on the driver (the block-count scalar above) —
    # reuse it as a literal instead of a second full-corpus aggregation
    nq_nn = qs.agg(F.count("*").cast("long").alias("n_queries")).withColumn(
        "n_corpus", F.lit(int(n_corpus_rows)).cast("long")
    )
    scan_by = (
        crank_f.join(F.broadcast(lists), "cluster")
        .groupBy("crank")
        .agg(F.sum("list_n").cast("long").alias("s"))
    )
    hit_by = tr.groupBy("crank").agg(F.count("*").cast("long").alias("h"))
    probes = spark.range(1, 9).select(F.col("id").alias("nprobe"))
    sc = (
        probes.join(F.broadcast(scan_by), F.col("crank") <= F.col("nprobe"))
        .groupBy("nprobe")
        .agg(F.sum("s").cast("long").alias("sc"))
    )
    ht = (
        probes.join(F.broadcast(hit_by), F.col("crank") <= F.col("nprobe"))
        .groupBy("nprobe")
        .agg(F.sum("h").cast("long").alias("ht"))
    )
    return (
        probes.join(sc, "nprobe", "left")
        .join(ht, "nprobe", "left")
        .crossJoin(F.broadcast(nq_nn))
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_queries",
            F.coalesce("sc", F.lit(0)).cast("long").alias("scanned_rows"),
            F.expr(
                "CAST(1000 * coalesce(sc, 0)"
                " div nullif(n_queries * n_corpus, 0) AS BIGINT)"
            ).alias("scanned_permille"),
            F.coalesce("ht", F.lit(0)).cast("long").alias("truth_hits"),
            F.expr(
                "CAST(1000 * coalesce(ht, 0)"
                " div nullif(10 * n_queries, 0) AS BIGINT)"
            ).alias("recall_permille"),
        )
    )
