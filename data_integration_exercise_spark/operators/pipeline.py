"""Training-data pipeline extensions beyond SURVEY §2.10's core set.

The driver mandates first-class large-scale training-data operators:
MinHash-LSH and SimHash dedup, language-ID, quality scoring, token counting,
document fingerprinting, multimodal binary columns with a stubbed decode,
and an embedding similarity threshold join.

Design rule that makes almost all of these HASH-verifiable (not just
rows-only): every hash/signature is **deterministic integer arithmetic over
the token's index in the measured 31-word vocabulary** (or, on the
open-vocabulary path, its 48-bit md5 content hash). No engine hash
functions (xxhash/city) whose implementations could differ. The token-set
encodings, the exact Jaccard, the size bound and the MinHash signature,
band packing and band join are written once per dialect in
``functions/sets.py``; this module composes them into operators.

Scale notes per operator in docstrings; the shared shape is: explode →
keyed integer aggregation → equi-join on (band, signature) — no O(n²)
anywhere except the calibrated threshold join, which blocks on label.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import (
    hex_int_duck,
    md5_bucket,
    md5_bucket_duck,
    md5_hex,
    md5_hex_duck,
    md5_int,
    md5_int_duck,
    md5_int_py,
    milli,
    milli_duck,
)
from ..functions.sets import (
    MINHASH_PERMS,
    MINHASH_PERMS_WIDE,
    N_BANDS,
    OV_M,
    ROWS_PER_BAND,
    V,
    WIDE_ROWS_PER_BAND,
    array_jaccard,
    band_pairs,
    band_pairs_duck,
    band_sigs_sql,
    bigram_inter,
    bigram_mask_cols,
    doc_masks,
    inter_duck,
    jaccard_duck,
    jaccard_size_bound,
    mask_idxs_sql,
    mask_inter_sql,
    mask_jaccard,
    mask_union_sql,
    minhash_bands_duck,
    salted_lang_pairs,
    tok_idx,
    token_hashes_sql,
    token_set_duck,
    union_duck,
    vocab_idx_duck,
    vocab_idx_sql,
)
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()

_SIMHASH_MULT = 2654435761  # Knuth multiplicative constant
_SIMHASH_BITS = 16
_FP_MOD = 1_000_003


def _minhash_pairs_oracle(key: str, m: int) -> str:
    """Oracle of the verified MinHash pair stream ``(doc1, doc2, jaccard)``
    over token keys ``key`` mod ``m``: banded candidates re-ranked at exact
    Jaccard >= 0.8."""
    return f"""
    WITH {minhash_bands_duck(key, MINHASH_PERMS, m, ROWS_PER_BAND)},
    {band_pairs_duck()}, sets AS (
        SELECT doc_id, {token_set_duck()} AS s FROM documents
    )
    SELECT doc1, doc2, round({jaccard_duck("s1.s", "s2.s")}, 4) AS jaccard
    FROM cand
    JOIN sets s1 ON s1.doc_id = doc1
    JOIN sets s2 ON s2.doc_id = doc2
    WHERE {jaccard_duck("s1.s", "s2.s")} >= 0.8
"""


_MINHASH_ORACLE = _minhash_pairs_oracle(vocab_idx_duck("token"), V)


def _band_signatures(spark, sf_dir, perms, rows_per_band):
    """(doc_id, lang, mask, sigs, band, sig): one row per (doc, LSH band).

    All len(perms) minhashes and the banded signatures are computed from
    the 31-bit token-set mask (sets.doc_masks) in ONE codegen'd projection
    (sets.band_sigs_sql: mh_p = min over set bits i of (a_p*i + b_p) mod
    31, packed per band). This replaces the former token-by-perm crossJoin
    pipeline — |tokens|*|P| exploded rows through two shuffled groupBys
    (32M rows at sf0.1 for the wide bank) — with zero additional shuffle
    beyond the mask build: per doc it is |P| array-min scans of a
    <=31-element array, then inline() to n_bands rows. At 100 TB the
    signature stage is embarrassingly parallel and shuffle-free; only the
    (band, sig) bucket join moves data."""
    band_sigs = band_sigs_sql("_idxs", perms, V, rows_per_band)
    # Explicit doc_id fan-out before the band explosion (the
    # salted_lang_pairs discipline): the bucket join broadcasts its build
    # side, so the candidate expansion runs at THIS frame's partition count,
    # which AQE coalescing would merge to ONE task (measured 8.0 s → 1.4 s
    # for the sf0.1 candidate stream from this exchange alone).
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # posexplode_OUTER, not posexplode (round 15): exploding an ALIASED
    # array makes InferFiltersFromGenerate add `size(sigs) > 0 AND
    # isnotnull(sigs)` below the Generate, and filter pushdown then inlines
    # the alias — the whole signature build re-evaluates inside an
    # always-true filter (sigs is a constructed n_bands-element array:
    # never null, never empty, so outer ≡ inner row-for-row and the
    # inferred filter simply isn't generated for outer explodes).
    return (
        doc_masks(spark, sf_dir)
        .repartition(n_part, F.col("doc_id"))
        .withColumn("_idxs", F.expr(mask_idxs_sql("mask")))
        .withColumn("sigs", F.expr(f"array({', '.join(band_sigs)})"))
        .select(
            "doc_id",
            "lang",
            "mask",
            "sigs",
            F.posexplode_outer("sigs").alias("band", "sig"),
        )
    )


def _lsh_candidate_pairs(
    spark, sf_dir, perms=MINHASH_PERMS, rows_per_band=ROWS_PER_BAND,
    same_lang=False, dedup_pairs=True,
):
    """(doc1 < doc2, lang, jac) pairs sharing any MinHash band signature,
    BEFORE the >=0.8 re-rank filter — the ONE bucketed candidate generator
    behind dedup_minhash_lsh, dedup_minhash_keepers,
    dedup_connected_components and dedup_lsh_pr_eval. One equi-join on
    (band, sig) (sets.band_pairs) enumerates bucket-mates; never an
    all-pairs product. The 8-byte token masks ride the band rows into the
    join, so the exact Jaccard is computed INSIDE the join stage (two
    bit_count ops), before any further shuffle.

    dedup_pairs=True (the default) emits each pair exactly once despite
    multi-band collisions (~20M raw vs 7.9M distinct candidates at sf0.1
    for the wide bank) without a distinct shuffle; dedup_pairs=False emits
    one row per colliding band, for consumers whose aggregation is
    idempotent under duplicates (min/max per key — dedup_minhash_keepers
    measured 6.4s → 2.8s at sf0.1 from this)."""
    sig = _band_signatures(spark, sf_dir, perms, rows_per_band)
    return band_pairs(
        sig,
        len(perms) // rows_per_band,
        carry=("lang", "mask"),
        dedup_pairs=dedup_pairs,
        same="lang" if same_lang else None,
    ).select(
        "doc1", "doc2", F.col("lang1").alias("lang"),
        mask_jaccard("mask1", "mask2").alias("jac"),
    )


def _lsh_scored_pairs(
    spark, sf_dir, perms=MINHASH_PERMS, rows_per_band=ROWS_PER_BAND, same_lang=False
):
    """_lsh_candidate_pairs re-ranked at exact Jaccard >= 0.8 — the
    production near-dup pair stream (candidate generation + verification)."""
    cand = _lsh_candidate_pairs(spark, sf_dir, perms, rows_per_band, same_lang)
    return cand.filter(F.col("jac") >= 0.8).select(
        "doc1", "doc2", "lang", F.round("jac", 4).alias("jaccard")
    )


def _top3_pairs_oracle(pairs: str) -> str:
    """Per doc1 the top-3 pairs of the pair stream ``pairs`` by jaccard
    (doc2-ascending tiebreak), plus the uncapped ``n_pairs``."""
    return f"""
    WITH pairs AS ({pairs}), ranked AS (
        SELECT doc1, doc2, jaccard,
               CAST(row_number() OVER (PARTITION BY doc1
                                       ORDER BY jaccard DESC, doc2)
                    AS BIGINT) AS pair_rank,
               CAST(count(*) OVER (PARTITION BY doc1) AS BIGINT) AS n_pairs
        FROM pairs
    )
    SELECT doc1, doc2, jaccard, pair_rank, n_pairs
    FROM ranked WHERE pair_rank <= 3
"""


@register("dedup_minhash_lsh", oracle=_top3_pairs_oracle(_MINHASH_ORACLE))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding near-dup detection — the 100 TB path that
    dedup_near_jaccard's exact self-join points to. 8 permutations over
    vocab indices → 4 bands of 2 → candidates share any band signature
    (equi-join, no pair enumeration) → exact Jaccard ≥ 0.8 re-rank of
    candidates only. All-integer signatures ⇒ hash-verifiable, unlike
    library MinHash implementations. The re-rank compares 31-bit token-set
    masks carried through the bucket join (_lsh_scored_pairs) — two
    bit_count ops per candidate, filtered before the pair-dedup shuffle.

    The DECLARED product is bounded (VERDICT r7 item 4): per doc1, the
    top-3 highest-Jaccard pairs (doc2-ascending tiebreak on the 4dp-rounded
    score, identical in both engines since the ratios of ≤31-bit-count
    integers are IEEE-exact) plus n_pairs, the doc's UNCAPPED ≥0.8 pair
    count — so output is O(3·docs-with-dups) ≈ 1.3k rows at sf0.1 instead
    of the O(pairs) ≈ 2.9M row list that was quadratic in the dup-dense
    region (the old shape's 17 s bench median was ~11 s of pure result
    materialization). The raw pair stream stays internal
    (_lsh_scored_pairs) for dedup_connected_components /
    dedup_minhash_keepers / dedup_lsh_pr_eval; the cap costs one extra
    doc1-keyed shuffle of the pair stream into the ranking window."""
    return _top3_pairs(_lsh_scored_pairs(spark, sf_dir))


def _top3_pairs(pairs):
    """Per doc1 the top-3 pairs of ``pairs`` by jaccard (doc2-ascending
    tiebreak), plus the uncapped ``n_pairs``."""
    part = Window.partitionBy("doc1")
    ranked = part.orderBy(F.desc("jaccard"), F.asc("doc2"))
    return (
        pairs.withColumn("pair_rank", F.row_number().over(ranked).cast("long"))
        .withColumn("n_pairs", F.count(F.lit(1)).over(part).cast("long"))
        .filter(F.col("pair_rank") <= 3)
        .select("doc1", "doc2", "jaccard", "pair_rank", "n_pairs")
    )


_MINHASH_KEEPERS_ORACLE = f"""
    WITH pairs AS (
        SELECT doc1, doc2 FROM ({_MINHASH_ORACLE}) p
    ), attributed AS (
        SELECT doc2 AS dup_doc, min(doc1) AS keeper FROM pairs GROUP BY doc2
    )
    SELECT keeper, count(*) AS n_dups FROM attributed GROUP BY keeper
"""


@register("dedup_minhash_keepers", oracle=_MINHASH_KEEPERS_ORACLE)
def dedup_minhash_keepers(spark, sf_dir):
    """Bounded-output companion to dedup_minhash_lsh (VERDICT r5 item 4):
    the same banded-LSH ≥0.8 candidate machinery, but the product is the
    100 TB-shaped one — each dup doc attributed to its smallest similar
    neighbor (min doc1 over its pairs; doc1 < doc2 makes every doc2 a dup),
    then keepers rolled up to (keeper, n_dups). Two map-side-combined
    aggregations collapse the multi-million-row pair stream inside the
    executors, so the result (and anything a driver/sink must materialize)
    scales with the number of KEEPERS, not pairs — at sf0.1 that is ~2.9 M
    pairs in, 434 rows out. Because min(doc1) is idempotent under
    duplicates, the multi-band pair-dedup machinery (the sigs-array carry
    + zip_with first-match test) is dead weight HERE: the
    dedup_pairs=False candidate stream runs on bare (band, sig, mask) rows
    and duplicate cross-band collisions collapse for free in the partial
    aggregate — measured 6.4 s (deduped stream) → 2.8 s at sf0.1,
    identical output. The
    pair-list key stays registered for audit; full transitive groups live
    in dedup_connected_components."""
    cand = _lsh_candidate_pairs(spark, sf_dir, dedup_pairs=False)
    return (
        cand.filter(F.col("jac") >= 0.8)
        .groupBy("doc2")
        .agg(F.min("doc1").alias("keeper"))
        .groupBy("keeper")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )


def _openvocab_band_rows(spark, sf_dir):
    """(doc_id, sigs, band, sig): banded MinHash rows with NO vocabulary
    assumption — the general corpus path SURVEY §14 documented in prose,
    now executable. Token keys are 48-bit md5-derived content hashes, so
    the signature stage needs no dictionary, no fit pass, and no closed
    31-word bitset: mh_p = min over the doc's distinct-token hashes of
    (a_p·h + b_p) mod (2^31−1), packed per band (sets.band_sigs_sql).
    Everything happens inside ONE
    codegen'd projection on the scan — transform/array_min over the
    split-token array — so at 100 TB the signature stage is shuffle-free
    and embarrassingly parallel; only the (band, sig) bucket join moves
    data. Contrast _band_signatures, which buys its integer re-rank masks
    with the corpus-specific closed vocabulary.

    The explicit doc_id repartition before the band explosion is the
    _band_signatures fan-out (measured 117 s → single-digit s at sf0.1)."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = load_table(spark, sf_dir, "documents")
    band_sigs = band_sigs_sql("_hs", MINHASH_PERMS, OV_M, ROWS_PER_BAND)
    # posexplode_OUTER (the _band_signatures rationale): the inner explode's
    # inferred `size(sigs) > 0` filter inlined the ENTIRE signature build —
    # including the md5 token hashing, 16 evaluations per doc — into an
    # always-true predicate below the Generate (measured: the openvocab
    # signature stage was ~17 md5 passes per doc instead of 1). sigs is a
    # constructed N_BANDS-element array, so outer ≡ inner row-for-row.
    #
    # `mk` is the 64-bit RESIDUE MASK of the token-hash set (bit h mod 64):
    # a bit set in mk1 but not in mk2 certifies ≥1 token of doc1 absent
    # from doc2, so |∩| ≤ n1 − bit_count(mk1 & ~mk2) — an upper bound the
    # candidate join uses to discard pairs that provably cannot reach
    # J ≥ 0.8 BEFORE their token arrays enter the re-rank joins
    # (_openvocab_scored_pairs; residue collisions only weaken the bound,
    # never break it, so the prune is lossless by construction).
    mask = (
        "aggregate(_hs, CAST(0 AS BIGINT), (acc, h) -> "
        "acc | shiftleft(CAST(1 AS BIGINT), CAST(pmod(h, 64) AS INT)))"
    )
    return (
        d.select("doc_id", F.expr(token_hashes_sql()).alias("_hs"))
        .withColumn("sigs", F.expr(f"array({', '.join(band_sigs)})"))
        .withColumn("n_tok", F.size("_hs").cast("long"))
        .withColumn("mk", F.expr(mask))
        .repartition(n_part, F.col("doc_id"))
        .select(
            "doc_id", "sigs", "n_tok", "mk",
            F.posexplode_outer("sigs").alias("band", "sig"),
        )
    )


@register(
    "dedup_minhash_openvocab",
    oracle=_top3_pairs_oracle(_minhash_pairs_oracle(md5_int_duck("token", 12), OV_M)),
)
def dedup_minhash_openvocab(spark, sf_dir):
    """dedup_minhash_lsh for corpora WITHOUT a closed vocabulary — the
    100 TB-general MinHash path (VERDICT r10 item 6, SURVEY §14
    "Open-vocabulary fallback" promoted from prose to a keyed, hash-oracled
    operator). Three seams change vs the bitset path, none of the shape:

    1. Shingle keys are 64-bit-class CONTENT HASHES (48-bit md5-derived —
       the repo's one cross-engine-reproducible hash) instead of positions
       in a 31-word dictionary: no fit pass, no dictionary broadcast, works
       on any corpus.
    2. MinHash permutations run mod the Mersenne prime 2^31−1 instead of
       mod 31 — same fixed (a, b) literals, same 4-band × 2-row geometry,
       still integer-exact in both engines.
    3. The exact re-rank joins the DEDUPED candidate pair stream back to
       the token-set arrays and scores Jaccard via array_intersect — the
       candidate-only re-rank; the 31-bit bitmask trick is unavailable
       without the closed vocab. Sizes are small ints, so the ratio is
       IEEE-exact cross-engine (round 4dp as everywhere).

    Candidates still dedup WITHOUT a distinct shuffle (the sigs-array
    first-match test from _lsh_candidate_pairs), and the declared product
    is the bounded r7 shape: per doc1 the top-3 pairs by Jaccard plus the
    uncapped n_pairs — O(docs-with-dups) output at any scale. At 100 TB:
    signature stage shuffle-free on the scan; one (band, sig) equi-join;
    token arrays move only for candidate docs (two hash joins), never
    through the band explosion. tests/test_pipeline.py asserts both LSH
    paths' verified pairs are sound (subset of the exact all-pairs ≥0.8
    truth, identical 4dp scores) with recall ≥0.98 — measured 0.995 here
    vs the bitset path's 0.989; the two geometries miss different ~0.5%
    slivers, so set EQUALITY does not hold (nor should it between two
    honest LSH configs)."""
    return _top3_pairs(_openvocab_scored_pairs(spark, sf_dir))


def _openvocab_scored_pairs(spark, sf_dir, size_bound=True):
    """The open-vocabulary verified pair stream (doc1 < doc2, jaccard ≥ 0.8):
    candidate generation off _openvocab_band_rows' (band, sig) equi-join
    (sigs-array first-match dedup, no distinct shuffle), exact re-rank by
    joining the candidate pairs back onto token-set arrays — the
    array_intersect seam SURVEY §14 names as open-vocab fallback #1.

    ``size_bound`` (VERDICT r12 item 5) adds the Jaccard size-bound
    prefilter INSIDE the candidate join: J(s1,s2) ≤ min(|s1|,|s2|) /
    max(|s1|,|s2|) (the intersection is at most the smaller set, the union
    at least the larger), so J ≥ 0.8 forces 5·min(|s1|,|s2|) ≥
    4·max(|s1|,|s2|) — integer-exact, no float threshold. Candidates
    outside the bound can never survive the ≥0.8 re-rank filter, so the
    output is provably identical (tests/test_pipeline.py asserts equality
    against size_bound=False); what changes is that their token-set arrays
    never move through the two re-rank joins. ``size_bound=False`` exists
    only for that equivalence test."""
    on = None
    if size_bound:
        n1, n2 = F.col("n_tok1"), F.col("n_tok2")
        # residue-mask prune (round 15, lossless — see _openvocab_band_rows):
        # J ≥ 0.8 ⇔ 9·|∩| ≥ 4·(n1+n2), and |∩| ≤ min(n1 − miss₁, n2 − miss₂)
        # where missᵢ counts residues of side i absent from the other side's
        # mask; pairs failing the bound can never survive the exact re-rank,
        # so their token arrays never enter the two re-rank joins. Measured
        # at sf0.1: 5.96M candidates → 3.60M (79% of the ~3.0M false
        # candidates gone; the verified stream is 2.96M pairs and provably
        # unchanged — the size_bound=False equality test covers this path).
        inter_ub = F.least(
            n1 - F.expr("bit_count(mk1 & ~mk2)"),
            n2 - F.expr("bit_count(mk2 & ~mk1)"),
        )
        on = jaccard_size_bound(n1, n2) & (9 * inter_ub >= 4 * (n1 + n2))
    cand = band_pairs(
        _openvocab_band_rows(spark, sf_dir), N_BANDS, carry=("n_tok", "mk"), on=on
    ).select("doc1", "doc2")
    # Re-rank on the 48-bit CONTENT-HASH token sets, not the string sets:
    # array_intersect over ~40-element string arrays was the operator's
    # single largest cost (measured 5.5 s → 3.1 s for the scored stream at
    # sf0.1 — per-candidate hash-set build over variable-length UTF8 vs
    # fixed 8-byte longs). |distinct-hash ∩| = |distinct-string ∩| unless
    # two distinct observed tokens collide in 48 bits (~|vocab|²/2^49);
    # tests/test_pipeline.py pins output equality against the string-set
    # re-rank at driver scales, and the hashes are the SAME token keys the
    # signature/candidate stage already stands on.
    sets = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(token_hashes_sql()).alias("s")
    )
    pairs = (
        cand.join(sets.select(F.col("doc_id").alias("doc1"), F.col("s").alias("s1")), "doc1")
        .join(sets.select(F.col("doc_id").alias("doc2"), F.col("s").alias("s2")), "doc2")
        .withColumn("jac", array_jaccard("s1", "s2"))
        .filter(F.col("jac") >= 0.8)
        .select("doc1", "doc2", F.round("jac", 4).alias("jaccard"))
    )
    return pairs


_LSH_PR_ORACLE = f"""
    WITH {minhash_bands_duck(vocab_idx_duck("token"), MINHASH_PERMS, V, ROWS_PER_BAND,
                             by="doc_id, lang")},
    {band_pairs_duck(same_lang=True)}, docs AS (
        SELECT doc_id, lang, {token_set_duck()} AS s FROM documents
    ), scored AS (
        SELECT {jaccard_duck("s1.s", "s2.s")} AS jac
        FROM cand
        JOIN docs s1 ON s1.doc_id = doc1
        JOIN docs s2 ON s2.doc_id = doc2
    ), cagg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(count(*) FILTER (WHERE jac >= 0.8) AS BIGINT) AS n_found
        FROM scored
    ), eagg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_exact
        FROM docs d1 JOIN docs d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
        WHERE {jaccard_duck("d1.s", "d2.s")} >= 0.8
    )
    SELECT n_candidates, n_found, n_exact,
           (1000 * n_found) // n_exact      AS recall_permille,
           (1000 * n_found) // n_candidates AS cand_precision_permille
    FROM cagg, eagg
"""


@register("dedup_lsh_pr_eval", oracle=_LSH_PR_ORACLE)
def dedup_lsh_pr_eval(spark, sf_dir):
    """LSH-tuning evaluation AS AN OPERATOR (the sim_recall_eval pattern
    applied to dedup): for the production 4-band×2-row MinHash config,
    measure against the exact same-lang Jaccard≥0.8 truth set (a) banding
    RECALL — what fraction of true near-dup pairs land in some shared
    bucket (post-re-rank the found set is a subset of truth, so recall is
    n_found/n_exact), and (b) candidate PRECISION — what fraction of
    bucket-proposed pairs survive the exact re-rank, i.e. how much
    verification work the band geometry wastes. Both in integer permille
    (floor division), so the quality numbers are hash-verified
    cross-engine rather than asserted in a test. This is the loop a 100 TB
    dedup run closes on a sample before committing a band config: recall
    too low → more bands / fewer rows per band; precision too low → the
    opposite. 100 TB cost: the candidate stage is the production banded
    equi-join; the truth stage is the O(n²-per-lang) exact join and runs
    on a SAMPLE there — the structure of the measurement is unchanged."""
    cand = _lsh_candidate_pairs(spark, sf_dir, same_lang=True)
    cagg = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.count(F.when(F.col("jac") >= 0.8, True)).cast("long").alias("n_found"),
    )
    # localCheckpoint: the truth path references the mask rollup on BOTH
    # sides of the salted self-join (d1/d2), so without it the token
    # explode + bit_or subtree executes twice in the same action (SURVEY
    # §10 lesson 4 — checkpoint re-referenced subtrees; VERDICT r6 item 7).
    docs = doc_masks(spark, sf_dir).localCheckpoint(eager=False)
    pairs = salted_lang_pairs(docs)
    eagg = pairs.filter(mask_jaccard("a_mask", "b_mask") >= 0.8).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return (
        cagg.crossJoin(F.broadcast(eagg))
        .withColumn(
            "recall_permille", F.expr("(1000 * n_found) div nullif(n_exact, 0)")
        )
        .withColumn(
            "cand_precision_permille",
            F.expr("(1000 * n_found) div nullif(n_candidates, 0)"),
        )
    )


_SIMHASH_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, unnest({token_set_duck()}) AS token
        FROM documents
    ), idx AS (
        SELECT doc_id,
               (CAST({vocab_idx_duck('token')} AS BIGINT) * {_SIMHASH_MULT})
                   % 65536 AS g
        FROM tok
    ), bits(bit, pow2) AS (VALUES {", ".join(f"({j}, {2**j})" for j in range(_SIMHASH_BITS))}),
    contrib AS (
        SELECT doc_id, bit, pow2,
               sum(CASE WHEN (g // pow2) % 2 = 1 THEN 1 ELSE -1 END) AS bal
        FROM idx CROSS JOIN bits
        GROUP BY doc_id, bit, pow2
    ), sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN bal > 0 THEN pow2 ELSE 0 END) AS BIGINT) AS simhash
        FROM contrib GROUP BY doc_id
    )
    SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_doc
    FROM sh GROUP BY simhash
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark, sf_dir):
    """SimHash dedup: 16-bit signatures from token-index bit balances
    (Knuth-multiplied vocab index, majority vote per bit). Docs sharing a
    signature are dup candidates — reported as (simhash, group size, keep
    doc). Pure integer math, single shuffle per aggregation level; at scale
    the hamming-≤k expansion joins each signature against its k-bit-flip
    neighborhood (multi-probe), still equi-joins."""
    idx = tok_idx(spark, sf_dir, distinct=True).select(
        "doc_id", (F.col("idx").cast("long") * _SIMHASH_MULT % 65536).alias("g")
    )
    bits = F.broadcast(
        spark.createDataFrame(
            [(j, 2**j) for j in range(_SIMHASH_BITS)], "bit int, pow2 long"
        )
    )
    contrib = (
        idx.crossJoin(bits)
        .groupBy("doc_id", "bit", "pow2")
        .agg(
            F.sum(
                F.when(F.expr("(g div pow2) % 2") == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias("bal")
        )
    )
    sh = contrib.groupBy("doc_id").agg(
        F.sum(F.when(F.col("bal") > 0, F.col("pow2")).otherwise(F.lit(0)))
        .cast("long")
        .alias("simhash")
    )
    return sh.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc")
    )


_LANG_ID_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
    ), profile AS (
        SELECT lang AS cand_lang, token, count(*) AS cnt
        FROM tok GROUP BY lang, token
    ), totals AS (
        SELECT lang AS cand_lang, count(*) AS tot FROM tok GROUP BY lang
    ), scored AS (
        SELECT t.doc_id, t.lang, totals.cand_lang,
               round(sum(ln((coalesce(profile.cnt, 0) + 1.0)
                            / (totals.tot + {V}))), 6) AS score
        FROM tok t
        CROSS JOIN totals
        LEFT JOIN profile ON profile.cand_lang = totals.cand_lang
                         AND profile.token = t.token
        GROUP BY t.doc_id, t.lang, totals.cand_lang, totals.tot
    )
    SELECT doc_id, lang, cand_lang AS pred_lang,
           (lang = cand_lang) AS correct
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, cand_lang ASC) = 1
"""


@register("text_lang_id", oracle=_LANG_ID_ORACLE)
def text_lang_id(spark, sf_dir):
    """Language-ID via corpus-trained unigram naive Bayes: per-lang Laplace-
    smoothed token log-probs, argmax per doc (score rounded to 6dp before
    the deterministic (score, lang) tiebreak). The n-gram heuristic shape
    the driver asks for, with the profile learned relationally — a groupBy,
    not a model file; scales as two keyed aggregations + a broadcast of the
    155-row profile."""
    tok = tok_idx(spark, sf_dir, distinct=False).select("doc_id", "lang", "token")
    profile = tok.groupBy(F.col("lang").alias("cand_lang"), "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = tok.groupBy(F.col("lang").alias("cand_lang")).agg(
        F.count(F.lit(1)).alias("tot")
    )
    scored = (
        tok.crossJoin(F.broadcast(totals))
        .join(
            F.broadcast(profile),
            ["cand_lang", "token"],
            "left",
        )
        .groupBy("doc_id", "lang", "cand_lang", "tot")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                        / (F.col("tot") + V)
                    )
                ),
                6,
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand_lang").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("cand_lang").alias("pred_lang"),
            (F.col("lang") == F.col("cand_lang")).alias("correct"),
        )
    )


@register(
    "text_quality_score",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks, n_chars FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
               CAST(len(list_filter(toks, t -> t IN ('a', 'the'))) AS BIGINT)
                   AS n_stop,
               n_chars
        FROM d
    )
    SELECT doc_id, n_tokens,
           round(CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens, 4) AS avg_tok_len,
           round(CAST(n_stop AS DOUBLE) / n_tokens, 4)                 AS stop_ratio,
           round(CAST(n_types AS DOUBLE) / n_tokens, 4)                AS ttr,
           -- integer permille: 0.4*ttr + 0.3*(1-stop) + 0.3*min(n/50,1),
           -- common denominator 500*n_tokens, floor-divided — float round()
           -- on the 3-term sum hit a repr-tie (0.72125) that Spark rounds up
           -- and DuckDB rounds down, so the score stays in integer space
           CAST((1000 * (200 * n_types + 150 * (n_tokens - n_stop)
                         + 3 * least(n_tokens, 50) * n_tokens))
                // (500 * n_tokens) AS BIGINT)                         AS quality_permille
    FROM m
    """,
)
def text_quality_score(spark, sf_dir):
    """Heuristic doc-quality scoring: type/token ratio, stopword ratio,
    length saturation — the filter stage of a training-data pipeline.
    Ratios of exact integers ⇒ bit-identical across engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_types = F.size(F.array_distinct(toks)).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("a", "the"))).cast("long")
    ttr = n_types.cast("double") / n_tokens
    stop_ratio = n_stop.cast("double") / n_tokens
    # integer permille score — see oracle comment (float round hit a repr-tie)
    quality_permille = F.expr(
        """
        CAST(1000 * (200 * size(array_distinct(split(text, ' ')))
             + 150 * (size(split(text, ' '))
                      - size(filter(split(text, ' '), t -> t IN ('a', 'the'))))
             + 3 * least(size(split(text, ' ')), 50) * size(split(text, ' ')))
             AS BIGINT)
        div CAST(500 * size(split(text, ' ')) AS BIGINT)
        """
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round((F.col("n_chars") - n_tokens + 1).cast("double") / n_tokens, 4).alias(
            "avg_tok_len"
        ),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(ttr, 4).alias("ttr"),
        quality_permille.alias("quality_permille"),
    )


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)            AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS re_tokens,
           CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
               AS vowel_groups,
           round(CAST(n_chars AS DOUBLE)
                 / len(string_split(text, ' ')), 4)                AS chars_per_tok
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting three ways: whitespace split, regex word tokens, and a
    BPE-ish sub-word proxy (vowel-group count ≈ syllable segments). All
    codegen'd regex — the cheap first-pass length accounting every corpus
    pipeline runs before real tokenization."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+")).cast("long").alias("re_tokens"),
        F.regexp_count("text", F.lit("[aeiou]+")).cast("long").alias("vowel_groups"),
        F.round(
            F.col("n_chars").cast("double") / F.size(F.split("text", " ")), 4
        ).alias("chars_per_tok"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t -> CAST({vocab_idx_duck('t')} AS BIGINT))
                   AS idxs
        FROM documents
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), idxs),
                       (h, i) -> (h * 33 + i) % {_FP_MOD}) AS fingerprint
    FROM d
    """,
)
def text_fingerprint(spark, sf_dir):
    """Rolling polynomial document fingerprint: fold h ← (33h + idx) mod
    1000003 over the token-index sequence — order-sensitive (unlike the
    token-set fingerprint in dedup_exact_text), so re-ordered docs get
    different prints. Constant-width key for shuffle-cheap exact dedup at
    any scale."""
    d = load_table(spark, sf_dir, "documents")
    idxs = F.expr(
        f"transform(split(text, ' '), t -> CAST({vocab_idx_sql('t')} AS BIGINT))"
    )
    fp = F.aggregate(
        idxs, F.lit(0).cast("long"), lambda h, i: (h * 33 + i) % _FP_MOD
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@register(
    "multimodal_decode",
    oracle=f"""
    SELECT doc_id,
           16                                                      AS n_bytes,
           CAST({md5_int_duck("text", 2)} AS INTEGER)               AS width,
           CAST({md5_int_duck("text", 2, 2)} AS INTEGER)            AS height,
           CASE {md5_int_duck("text", 2, 4)} % 3
                WHEN 0 THEN 'RGB' WHEN 1 THEN 'L' ELSE 'RGBA' END  AS mode
    FROM documents
    """,
)
def multimodal_decode(spark, sf_dir):
    """Multimodal binary-column plumbing: an opaque image-bytes column
    (deterministic fake: md5(text) digest — the container has no image
    libs, so the real decoder is STUBBED per the driver contract) pushed
    through mapInPandas. The Spark-side machinery is real: BinaryType
    column, Arrow-batched iterator UDF, explicit output schema, metadata
    extraction per batch — swap `_fake_decode` for PIL/libav and the
    pipeline is production-shaped. Hash-verified because the fake decode is
    pure md5 byte math the oracle reproduces."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(md5_hex("text")).alias("img")
    )

    def decode_batches(batches):
        import pandas as pd

        for pdf in batches:
            imgs = pdf["img"]
            try:
                raise ImportError("no image codec in this container")
                # real path would be: from PIL import Image; Image.open(...)
            except ImportError:
                # deterministic fake decode: header bytes as dimensions
                out = pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "n_bytes": imgs.map(len).astype("int32"),
                        "width": imgs.map(lambda b: b[0]).astype("int32"),
                        "height": imgs.map(lambda b: b[1]).astype("int32"),
                        "mode": imgs.map(
                            lambda b: ["RGB", "L", "RGBA"][b[2] % 3]
                        ),
                    }
                )
            yield out

    return d.mapInPandas(
        decode_batches,
        "doc_id long, n_bytes int, width int, height int, mode string",
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   string_split(text, ' ')[1:len(string_split(text, ' ')) - 1],
                   (x, i) -> x || ' ' || string_split(text, ' ')[i + 1])) AS sh
        FROM documents
    )
    SELECT d1.doc_id AS doc1, d2.doc_id AS doc2, d1.lang AS lang,
           round({jaccard_duck("d1.sh", "d2.sh")}, 4) AS shingle_jaccard
    FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
    WHERE {jaccard_duck("d1.sh", "d2.sh")} >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """n-gram (bigram shingle) Jaccard near-dup detection — order-SENSITIVE,
    unlike dedup_near_jaccard's token sets: re-ordered docs share tokens but
    not shingles (measured: 7,958 token-set pairs ≥0.8 collapse to 6 shingle
    pairs ≥0.5 in this corpus). Same blocking/scale story as the token-set
    variant; MinHash over shingles is the LSH path.

    Spark path runs on exact 961-bit bigram bitsets (bigram_mask_cols):
    pair intersection is 16 codegen'd AND+popcounts instead of an
    array_intersect hash-set build over ~90 strings — identical output
    (the bitset has no collisions, and Jaccard is a ratio of the same
    exact integers). Measured at sf0.1: 119 s → ~2.5 s."""
    d = load_table(spark, sf_dir, "documents")
    docs = bigram_mask_cols(d)
    pairs = salted_lang_pairs(docs)
    scored = pairs.select(
        "doc1",
        "doc2",
        "lang",
        (F.col("a_nsh") + F.col("b_nsh")).alias("nsum"),
        bigram_inter().alias("inter"),
    )
    jac = F.col("inter").cast("double") / (F.col("nsum") - F.col("inter"))
    return (
        scored.filter(jac >= 0.5)
        .select("doc1", "doc2", "lang", F.round(jac, 4).alias("shingle_jaccard"))
    )


IVF_K = 16  # Voronoi seeds (the first 16 vectors — deterministic, data-derived)
IVF_PROBES = 4  # clusters the query searches


@register("sim_ann_ivf")  # rows-only: approximate by design
def sim_ann_ivf(spark, sf_dir):
    """IVF-bucketed approximate nearest neighbours. Coarse quantizer =
    Voronoi cells around 16 deterministic data-derived seeds (vec_id < 16 —
    a fixed-literal-formula centroid set had 0 recall: arbitrary directions
    don't align with the data's neighborhood structure); every vector joins
    its argmax-dot seed, the query probes its top-4 seed cells (multi-probe)
    and exact-ranks only those candidates. Fully relational: assignment is
    a broadcast join + max_by, so at 100 TB it becomes a write-time
    partition key enabling cluster-pruned scans. Recall vs sim_knn_query is
    asserted in tests."""
    from .similarity import QUERY_VEC, _cosine, _dot, _vec

    # RAW vectors: the per-seed score dot(v, cv)/|cv| orders seeds exactly
    # like cosine (|v| is constant across seeds) without referencing a
    # pre-normalized column 16 times per row — projection collapse
    # re-inlines the interpreted norm-divide into every reference (see
    # sim_ann_lsh / _lsh_threshold_pairs for the measured pathology).
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec("embedding").alias("v")
    )
    seeds = F.broadcast(
        e.filter(F.col("vec_id") < IVF_K).select(
            F.col("vec_id").alias("cluster"), F.col("v").alias("cv")
        )
    )
    # assignment: nearest seed by cosine, ties to the lowest cluster id
    seed_score = _dot(F.col("v"), F.col("cv")) / F.sqrt(
        _dot(F.col("cv"), F.col("cv"))
    )
    assigned = (
        e.crossJoin(seeds)
        .groupBy("vec_id", "label")
        .agg(
            F.max_by(
                "cluster", F.struct(seed_score, -F.col("cluster"))
            ).alias("cluster"),
            F.first("v").alias("v"),  # v is constant within the group
        )
    )

    import math

    qn = math.sqrt(sum(x * x for x in QUERY_VEC))
    q = F.array(*[F.lit(float(x / qn)) for x in QUERY_VEC])
    probe = F.broadcast(
        seeds.select(
            "cluster",
            (_dot(F.col("cv"), q) / F.sqrt(_dot(F.col("cv"), F.col("cv")))).alias(
                "qd"
            ),
        )
        .orderBy(F.col("qd").desc(), F.col("cluster").asc())
        .limit(IVF_PROBES)
        .select("cluster")
    )
    approx = (
        assigned.join(probe, "cluster", "left_semi")
        .select(
            "vec_id",
            "label",
            "cluster",
            F.round(_cosine(F.col("v"), q), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    # recall@10 vs the exact kNN (sim_knn_query) as a constant column — the
    # rows-only driver check then carries a quantitative quality signal.
    from pyspark.sql import Window

    from .similarity import sim_knn_query

    exact = sim_knn_query(spark, sf_dir).select("vec_id", F.lit(1).alias("_hit"))
    return (
        approx.join(exact, ["vec_id"], "left")
        .withColumn(
            "recall_at_10",
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).over(
                    Window.partitionBy(F.lit(1))
                )
                / 10.0,
                4,
            ),
        )
        .drop("_hit")
    )


@register(
    "multimodal_framesample",
    oracle=f"""
    WITH frames AS (
        SELECT doc_id, i AS frame_idx,
               CAST({hex_int_duck(f"{md5_hex_duck('text')} || {md5_hex_duck('text')}",
                                  2, "i * 8")} AS INTEGER)
                   AS frame_lum
        FROM documents, unnest([0, 2, 4, 6]) AS t(i)
    )
    SELECT doc_id, frame_idx, frame_lum
    FROM frames
    """,
)
def multimodal_framesample(spark, sf_dir):
    """Frame sampling over an opaque video-bytes column: synthetic 32-byte
    'video' (doubled md5 digest, 8 frames x 4 bytes), mapInPandas samples
    every 2nd frame and extracts a per-frame feature (first byte as
    luminance proxy). The decode/sample plumbing — binary column in, long
    (doc, frame, feature) table out, Arrow batches — is exactly what a real
    libav frame sampler plugs into; the fake stays byte-deterministic so
    the oracle can recompute it from md5 hex."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(F.concat(md5_hex("text"), md5_hex("text"))).alias("video")
    )

    FRAME_BYTES, STRIDE = 4, 2

    def sample_batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, video in zip(pdf["doc_id"], pdf["video"]):
                n_frames = len(video) // FRAME_BYTES
                for i in range(0, n_frames, STRIDE):
                    rows.append((doc_id, i, video[i * FRAME_BYTES]))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_lum"])

    return d.mapInPandas(
        sample_batches, "doc_id long, frame_idx int, frame_lum int"
    )


def _exact_threshold_pairs(e_raw, threshold: float):
    """EXACT ε-join over raw (vec_id, label, v): every same-label pair with
    rounded cosine ≥ threshold, via the (label, block-pair) decomposition
    (see with_block_pair; block count measured per run by adaptive_n_blocks,
    so small labels skip the replication). Normalizes internally — the
    single post-join dot references each normalized vector once, so the
    interpreted-HOF re-expansion that bites multi-reference consumers (see
    _lsh_threshold_pairs) does not apply here."""
    from .similarity import _dot, _normalized, adaptive_n_blocks, with_block_pair

    e_norm = _normalized(e_raw)
    e = with_block_pair(e_norm, "vec_id", adaptive_n_blocks(e_norm))
    e1 = e.select(
        F.col("vec_id").alias("id1"), "label", F.col("v").alias("v1"), "_g", "_p"
    )
    e2 = e.select(
        F.col("vec_id").alias("id2"),
        F.col("label").alias("label2"),
        F.col("v").alias("v2"),
        F.col("_g").alias("_g2"),
        F.col("_p").alias("_p2"),
    )
    sim = F.round(_dot(F.col("v1"), F.col("v2")), 4)
    return (
        e1.join(
            e2,
            (e1.label == e2.label2)
            & (e1._g == e2._p2)
            & (e1._p == e2._g2)
            & (e1.id1 < e2.id2),
        )
        .select("id1", "id2", "label", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def _lsh_threshold_pairs(e_raw, threshold: float):
    """APPROXIMATE ε-join: banded random-hyperplane candidates (same
    signature scheme as sim_ann_lsh) re-ranked exactly — sublinear in the
    pair space, recall < 1. The scale path the cost rule switches to when
    the exact pair budget is exceeded.

    Takes RAW (vec_id, label, v): sign bits are scale-invariant, and
    hashing a pre-normalized column re-inlines the interpreted norm-divide
    into all 12 hyperplane dot references (see sim_ann_lsh). Pair dedup
    rides the bucket join via the first-matching-band predicate — no
    dropDuplicates shuffle of vector-width rows — and NORMALIZED vectors
    join back post-dedup (one reference per side) for the single-dot
    re-rank."""
    from .similarity import BAND_BITS, HYPERPLANES, N_BANDS, _dot, _normalized

    band_sigs = []
    for b in range(N_BANDS):
        sig = F.lit(0)
        for j in range(BAND_BITS):
            plane = HYPERPLANES[b * BAND_BITS + j]
            h = F.array(*[F.lit(float(x)) for x in plane])
            sig = sig + F.when(_dot(F.col("v"), h) >= 0, F.lit(2**j)).otherwise(F.lit(0))
        band_sigs.append(sig)
    # posexplode_OUTER (the _band_signatures rationale): the inner form's
    # inferred size filter re-inlines every hyperplane dot product into an
    # always-true predicate; sigs is a constructed N_BANDS array, outer ≡
    # inner row-for-row.
    banded = e_raw.withColumn("sigs", F.array(*band_sigs)).select(
        "vec_id", "label", "sigs", F.posexplode_outer("sigs").alias("band", "sig")
    )
    cand = band_pairs(
        banded, N_BANDS, carry=("label",), same="label", key="vec_id"
    ).select(
        F.col("doc1").alias("id1"), F.col("doc2").alias("id2"), F.col("label1").alias("label")
    )
    e_norm = _normalized(e_raw)
    v1 = e_norm.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"))
    v2 = e_norm.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"))
    sim = F.round(_dot(F.col("v1"), F.col("v2")), 4)
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .select("id1", "id2", "label", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def threshold_join_strategy(e, budget_pairs: int = 5_000_000) -> str:
    """Stats-driven physical-strategy choice for the cosine ε-join — the
    Python-level analogue of a Catalyst cost-based rule: estimate the exact
    plan's compare count (Σ n_label·(n_label-1)/2, one tiny distributed agg
    → one scalar to the driver) and pick the exact block-pair plan while it
    fits the budget, else the sublinear LSH-bucketed plan. Keeping the
    decision on a measured cardinality (not a guess) is exactly what
    plan_cbo_stats demonstrates for joins via ANALYZE TABLE."""
    est = (
        e.groupBy("label")
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"))
        .collect()[0]["pairs"]
    )
    return "exact" if (est or 0) <= budget_pairs else "lsh"


@register(
    "plan_adaptive_threshold_join",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT e1.vec_id AS id1, e2.vec_id AS id2, e1.label AS label,
           round(list_cosine_similarity(e1.v, e2.v), 4) AS sim,
           'exact' AS strategy
    FROM e e1 JOIN e e2 ON e1.label = e2.label AND e1.vec_id < e2.vec_id
    WHERE round(list_cosine_similarity(e1.v, e2.v), 4) >= 0.4
    """,
)
def plan_adaptive_threshold_join(spark, sf_dir):
    """Adaptive ε-join: threshold_join_strategy picks the physical plan from
    measured label cardinalities — exact block-pair join under the pair
    budget, LSH-bucketed candidates over it. At every driver scale factor
    the estimate (≤ ~200k pairs) is far below the 5M budget, so the chosen
    plan is 'exact' and the output hash-matches the exact oracle (the
    strategy column records the decision); the LSH branch and the
    over-budget decision are pinned by unit tests on synthetic inputs."""
    from .similarity import _vec

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec("embedding").alias("v")
    )
    strategy = threshold_join_strategy(e)
    pairs = (
        _exact_threshold_pairs(e, 0.4)
        if strategy == "exact"
        else _lsh_threshold_pairs(e, 0.4)
    )
    return pairs.withColumn("strategy", F.lit(strategy))


@register(
    "sim_threshold_join",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT e1.vec_id AS id1, e2.vec_id AS id2, e1.label AS label,
           round(list_cosine_similarity(e1.v, e2.v), 4) AS sim
    FROM e e1 JOIN e e2 ON e1.label = e2.label AND e1.vec_id < e2.vec_id
    WHERE round(list_cosine_similarity(e1.v, e2.v), 4) >= 0.4
    """,
)
def sim_threshold_join(spark, sf_dir):
    """Cosine ε-join: all same-label pairs with similarity ≥ 0.4 (threshold
    calibrated to this data — max observed same-label cosine is 0.475, so
    this is the 'embedding near-duplicate' surface for the measured
    distribution). The self-join is keyed (label, block-pair) via
    with_block_pair, so the equi-join key cardinality is label×N_BLOCKS²
    and a skewed label spreads across many tasks instead of one; total
    compare count is unchanged (this stays the EXACT ε-join — the
    sublinear approximate variant is sim_ann_lsh, and
    plan_adaptive_threshold_join picks between the two from measured
    cardinalities)."""
    from .similarity import _vec

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec("embedding").alias("v")
    )
    return _exact_threshold_pairs(e, 0.4)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), p AS (
        SELECT e1.vec_id AS id1, e2.vec_id AS id2,
               round(list_cosine_similarity(e1.v, e2.v), 4) AS sim
        FROM e e1 JOIN e e2 ON e1.label = e2.label AND e1.vec_id < e2.vec_id
        WHERE round(list_cosine_similarity(e1.v, e2.v), 4) >= 0.4
    )
    SELECT d.doc_id, d.lang,
           min(p.id1)  AS dup_of,
           count(*)    AS n_earlier_dups,
           max(p.sim)  AS max_sim
    FROM p JOIN documents d ON d.doc_id = p.id2
    GROUP BY d.doc_id, d.lang
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate dedup on ``documents``: a doc is
    dropped when an earlier doc (smaller id, same label) sits within cosine
    ≥ 0.4 of its embedding (threshold calibrated to this corpus — max
    same-label cosine is ~0.475). The report lists every dropped doc with
    its keeper (``dup_of`` = smallest such earlier id — pure-integer
    tiebreak, no float ordering), the duplicate count, and the strongest
    similarity; survivors are the anti-join of documents against this
    result. Completes the dedup family (exact / MinHash / SimHash / n-gram
    Jaccard / Levenshtein / embedding-cosine). Pairs come from the same
    block-bounded exact ε-join as sim_threshold_join — (label, block-pair)
    equi-join keys, so at 100 TB a skewed label spreads over N_BLOCKS²
    tasks; swap in _lsh_threshold_pairs for the sublinear approximate path.
    ``max`` over 4dp-rounded sims is order-independent, so the float column
    hashes stably (sums would not)."""
    from .similarity import _vec

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec("embedding").alias("v")
    )
    pairs = _exact_threshold_pairs(e, 0.4)
    dropped = pairs.groupBy("id2").agg(
        F.min("id1").alias("dup_of"),
        F.count(F.lit(1)).alias("n_earlier_dups"),
        F.max("sim").alias("max_sim"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return dropped.join(docs, dropped.id2 == docs.doc_id).select(
        "doc_id", "lang", "dup_of", "n_earlier_dups", "max_sim"
    )


def propagate_min_labels(labels, edges, max_iters=50, stats=None):
    """Iterative min-label propagation to a fixed point.

    ``labels``: (doc_id, component) initial labels; ``edges``: directed
    (src, dst) pairs — pass both directions for an undirected graph.

    Iteration shape (ports the measured 13.6→8.2 s pattern of
    graph_pagerank's loop, ``graph._propagate``): the edge list is
    hash-partitioned on ``src`` ONCE and localCheckpoint-ed, so every
    round's edges⋈frontier join reuses that partitioning and only
    node-sized tables move. Propagation is
    delta-based: after round 1 only the FRONTIER — nodes whose label
    shrank last round — sends messages (a node whose label is stable
    already delivered it to every neighbor the round it last changed), so
    join input collapses from |E| to |E_active| as components converge.
    Labels fold in neighbor minima via a left join + least() rather than
    union+re-aggregate, and the convergence check is a filter-count over
    the round's already-materialized checkpoint — no extra join, no
    collect. Needs diameter-many rounds; raises RuntimeError if the fixed
    point is not reached within ``max_iters`` instead of silently
    returning stale labels (a >max_iters-diameter graph must fail loudly,
    not hash-mismatch downstream).

    ``stats``, if a list, collects the per-round frontier size (the count
    already computed for the convergence check — no extra action) so
    tests can pin the delta property: join input must shrink as
    components converge, not stay at |V| every round."""
    # lazy: round 1's join materializes the (expensive) candidate-join
    # edge list in the same job (round-14; eager paid a separate pass)
    edges = edges.repartition("src").localCheckpoint(eager=False)
    frontier = labels
    for _ in range(max_iters):
        nbr = (
            edges.join(frontier, edges.src == frontier.doc_id)
            .select(F.col("dst").alias("doc_id"), "component")
            .groupBy("doc_id")
            .agg(F.min("component").alias("nbr_min"))
        )
        merged = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.col("component").alias("prev"),
                F.least(
                    "component", F.coalesce("nbr_min", "component")
                ).alias("component"),
            )
            # lazy: the convergence count below materializes it — one
            # blocking job per round instead of two (round-14)
            .localCheckpoint(eager=False)
        )
        labels = merged.select("doc_id", "component")
        frontier = merged.filter(F.col("component") < F.col("prev")).select(
            "doc_id", "component"
        )
        n_changed = frontier.count()
        if stats is not None:
            stats.append(n_changed)
        if n_changed == 0:
            return labels
    raise RuntimeError(
        f"min-label propagation did not converge in {max_iters} iterations; "
        "graph diameter exceeds the cap — raise max_iters"
    )


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE sets AS MATERIALIZED (
        SELECT doc_id, lang, {token_set_duck()} AS s
        FROM documents
    ), edges AS MATERIALIZED (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM sets a JOIN sets b
          ON a.lang = b.lang AND a.doc_id <> b.doc_id
        WHERE {jaccard_duck("a.s", "b.s")} >= 0.8
    ), reach AS (
        SELECT doc_id, doc_id AS comp FROM sets
        UNION
        SELECT e.dst AS doc_id, r.comp
        FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, CAST(min(comp) AS BIGINT) AS component,
           (doc_id = min(comp)) AS is_canonical
    FROM reach GROUP BY doc_id
    """,
)
def dedup_connected_components(spark, sf_dir):
    """Near-duplicate GROUPS, not just pairs: the Jaccard ≥ 0.8 pair graph
    (same edge rule as dedup_near_jaccard) collapsed into connected
    components by iterative min-label propagation — each doc converges to
    the smallest doc_id reachable from it, which is the group's canonical
    representative (one keeper per group is what a dedup pipeline actually
    ships). The edge list is the 100 TB path: MinHash-LSH band candidates
    (_lsh_scored_pairs with the 32-perm/8×4 high-recall bank — bucketed
    equi-join, no all-pairs product) re-ranked at exact Jaccard ≥ 0.8 via
    31-bit token masks with the same-lang rule. Banding has per-pair recall
    ≈99.8%, and dup clusters are near-cliques, so the transitive closure is
    unchanged — verified empirically against the exact edge set at
    sf0.001/0.01/0.1 (0 component mismatches; the narrower 8-perm bank
    loses a component at sf0.1, hence the wide bank here), which is why the
    recursive-CTE oracle below still holds. Propagation is the
    large-star/small-star pattern from the MapReduce connected-components
    literature and raises on non-convergence."""
    pairs = _lsh_scored_pairs(
        spark,
        sf_dir,
        perms=MINHASH_PERMS_WIDE,
        rows_per_band=WIDE_ROWS_PER_BAND,
        same_lang=True,
    ).select("doc1", "doc2")
    masks = doc_masks(spark, sf_dir)
    # No checkpoint here: propagate_min_labels repartitions the edge list on
    # src and checkpoints it once — materializing twice would double the
    # candidate-join cost.
    edges = pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")).unionByName(
        pairs.select(F.col("doc2").alias("src"), F.col("doc1").alias("dst"))
    )
    labels = masks.select("doc_id", F.col("doc_id").alias("component"))
    labels = propagate_min_labels(labels, edges)
    return labels.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


@register(
    "multimodal_audio_energy",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, {md5_hex_duck('text')} || {md5_hex_duck('reverse(text)')} AS hx
        FROM documents
    ), w AS (
        SELECT doc_id, hx, unnest([0, 1, 2, 3]) AS win_idx FROM h
    )
    SELECT doc_id, win_idx,
           CAST(list_sum(list_transform(range(8),
                i -> {hex_int_duck('hx', 2, '(win_idx * 8 + i) * 2')}))
                AS BIGINT) AS energy
    FROM w
    """,
)
def multimodal_audio_energy(spark, sf_dir):
    """Audio-feature plumbing, completing the image/audio/video modality
    triple (multimodal_decode, multimodal_framesample): a 32-byte synthetic
    'waveform' (md5(text) ‖ md5(reverse(text)) — byte-deterministic so the
    oracle can recompute it) windowed into 4 frames of 8 samples, per-window
    energy = sample sum, via mapInPandas over the BinaryType column. Swap
    the energy lambda for librosa MFCCs and the Spark-side shape — binary
    in, (doc, window, feature) long table out, Arrow batches — is unchanged;
    the codec import is the stubbed seam per the driver contract."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.unhex(F.concat(md5_hex("text"), md5_hex(F.reverse("text")))).alias("audio"),
    )

    WIN, N_WIN = 8, 4

    def energy_batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, audio in zip(pdf["doc_id"], pdf["audio"]):
                try:
                    raise ImportError("no audio codec in this container")
                    # real path: librosa.load(io.BytesIO(audio)) → MFCC/RMS
                except ImportError:
                    for w in range(N_WIN):
                        rows.append(
                            (doc_id, w, sum(audio[w * WIN : (w + 1) * WIN]))
                        )
            yield pd.DataFrame(rows, columns=["doc_id", "win_idx", "energy"])

    return d.mapInPandas(energy_batches, "doc_id long, win_idx int, energy long")


def _resize_oracle() -> str:
    def b(k: int) -> str:  # 0-based byte k of the md5 digest, as 0..255
        return md5_int_duck("text", 2, 2 * k)

    def pool(i: int, j: int) -> str:  # 2x2 average-pool block (i, j), floor
        ks = [4 * (2 * i) + 2 * j, 4 * (2 * i) + 2 * j + 1,
              4 * (2 * i + 1) + 2 * j, 4 * (2 * i + 1) + 2 * j + 1]
        return f"CAST(({' + '.join(b(k) for k in ks)}) // 4 AS BIGINT)"

    return f"""
    SELECT doc_id,
           {pool(0, 0)} AS p00,
           {pool(0, 1)} AS p01,
           {pool(1, 0)} AS p10,
           {pool(1, 1)} AS p11
    FROM documents
    """


@register("multimodal_resize", oracle=_resize_oracle())
def multimodal_resize(spark, sf_dir):
    """Image resize stage of the multimodal pipeline: the 16-byte fake
    image (md5 digest — real codecs are stubbed per the driver contract,
    the Spark plumbing is real) is treated as a 4×4 grayscale grid and
    average-pooled 2× to a 2×2 thumbnail with integer floor math, the
    standard pre-embedding downsample. Arrow-batched mapInPandas with a
    vectorized numpy pool over the whole batch (reshape + block-sum — no
    per-row Python), BinaryType in, fixed typed schema out: swap the
    buffer parse for PIL's Image.resize and nothing else changes. Byte
    math is exact, so the DuckDB hex-substr oracle hash-matches."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(md5_hex("text")).alias("img")
    )

    def resize_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            A = (
                np.stack(
                    pdf["img"].map(lambda b: np.frombuffer(b, dtype=np.uint8)).to_numpy()
                )
                .astype(np.int64)
                .reshape(-1, 2, 2, 2, 2)  # (n, row_blk, row_in, col_blk, col_in)
            )
            P = A.sum(axis=(2, 4)) // 4  # (n, row_blk, col_blk)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "p00": P[:, 0, 0],
                    "p01": P[:, 0, 1],
                    "p10": P[:, 1, 0],
                    "p11": P[:, 1, 1],
                }
            )

    return d.mapInPandas(
        resize_batches, "doc_id long, p00 long, p01 long, p10 long, p11 long"
    )


@register(
    "text_pack_sequences",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), c AS (
        SELECT doc_id, lang, n_tok,
               CAST(sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM t
    )
    SELECT doc_id, lang, n_tok,
           (cum - n_tok) // 256       AS chunk_first,
           (cum - 1) // 256           AS chunk_last,
           (cum - n_tok) % 256        AS offset_in_chunk
    FROM c
    """,
)
def text_pack_sequences(spark, sf_dir):
    """Sequence packing for pretraining batches: concatenate each language's
    docs in doc_id order and cut the token stream every CAP=256 tokens —
    the concat-and-chunk packing GPT-style loaders use. Pure integer window
    math (running token count per lang, floor-div for the chunk ids), so
    the map from doc to (first chunk, last chunk, offset) is engine-exact.
    One shuffle on lang; the running sum never leaves the partition, and at
    100 TB the partition key becomes (lang, shard) with per-shard chunk id
    spaces — the window shape is unchanged."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    return c.select(
        "doc_id",
        "lang",
        "n_tok",
        F.expr("(cum - n_tok) div 256").alias("chunk_first"),
        F.expr("(cum - 1) div 256").alias("chunk_last"),
        F.expr("(cum - n_tok) % 256").alias("offset_in_chunk"),
    )


@register(
    "text_chunk_overlap",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
    )
    SELECT doc_id, lang,
           i // 24                                   AS chunk_idx,
           CAST(i AS BIGINT)                         AS start_tok,
           array_to_string(l[i + 1:i + 32], ' ')     AS chunk_text,
           least(CAST(32 AS BIGINT), len(l) - i)     AS n_chunk_tok
    FROM tok, unnest(generate_series(0, len(l) - 1, 24)) AS t(i)
    """,
)
def text_chunk_overlap(spark, sf_dir):
    """Overlapping context-window chunking (RAG prep): each doc's token
    sequence becomes windows of W=32 tokens at stride S=24 (8-token
    overlap), emitted as strings (chunk_text) keyed by (doc, chunk_idx).
    Start offsets come from an integer sequence — no UDF; slice+array_join
    stay in codegen. Chunk boundaries depend only on the doc's own token
    count, so the operator is embarrassingly parallel (narrow — no shuffle
    at all) and its output is engine-exact at any partitioning."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("l")
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("l"),
            F.explode(
                F.expr("sequence(0, size(l) - 1, 24)")
            ).alias("start_tok"),
        )
        .select(
            "doc_id",
            "lang",
            F.expr("start_tok div 24").alias("chunk_idx"),
            F.col("start_tok").cast("long").alias("start_tok"),
            F.expr("array_join(slice(l, start_tok + 1, 32), ' ')").alias("chunk_text"),
            F.expr("least(CAST(32 AS BIGINT), size(l) - start_tok)").alias(
                "n_chunk_tok"
            ),
        )
    )


@register(
    "dedup_contamination_ngram",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, string_split(text, ' ') AS l
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), g AS (
        SELECT doc_id, lang, array_to_string(l[i:i + 2], ' ') AS gram
        FROM tok, unnest(generate_series(1, len(l) - 2)) AS t(i)
    ), ev AS (
        SELECT DISTINCT gram, doc_id AS eval_doc FROM g WHERE doc_id % 100 = 0
    ), tr AS (
        SELECT DISTINCT doc_id, lang, gram FROM g WHERE doc_id % 100 <> 0
    )
    SELECT tr.doc_id, tr.lang,
           CAST(count(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
           min(ev.eval_doc)                        AS first_eval_doc
    FROM tr JOIN ev USING (gram)
    GROUP BY tr.doc_id, tr.lang
    """,
)
def dedup_contamination_ngram(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    3-gram with the held-out eval slice (doc_id % 100 == 0 — stands in for
    a real benchmark table). Gram length is tuned to the corpus's 31-word
    vocabulary so the check exercises real matches; with a real tokenizer
    the same plan runs at the standard 8-13 gram window. Both sides shingle to distinct 5-grams; the
    eval gram table rides an explicit broadcast (eval sets are tiny next
    to the corpus — the asymmetry that makes decontamination cheap at
    100 TB: the fact side is a narrow gram stream, never a pair join).
    Report: distinct shared grams + smallest matching eval doc per
    contaminated train doc."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.split("text", " ").alias("l"))
        .filter(F.size("l") >= 3)
    )
    grams = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 2), i -> array_join(slice(l, i, 3), ' '))"
            )
        ).alias("gram"),
    )
    ev = (
        grams.filter(F.col("doc_id") % 100 == 0)
        .select("gram", F.col("doc_id").alias("eval_doc"))
        .distinct()
    )
    tr = grams.filter(F.col("doc_id") % 100 != 0).distinct()
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id", "lang")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.min("eval_doc").alias("first_eval_doc"),
        )
    )


@register(
    "dedup_incremental",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               array_to_string(list_sort({token_set_duck()}), ',')
                   AS fp,
               {token_set_duck()} AS s,
               {md5_bucket_duck("doc_id", 10)}
                   AS bkt
        FROM documents
    ), incr AS (SELECT * FROM d WHERE bkt = 0),
       base AS (SELECT * FROM d WHERE bkt <> 0),
    exact AS (
        SELECT i.doc_id, min(b.doc_id) AS exact_dup_of
        FROM incr i JOIN base b ON i.fp = b.fp
        GROUP BY i.doc_id
    ), near AS (
        SELECT i.doc_id, b.doc_id AS near_dup_of,
               round({jaccard_duck("i.s", "b.s")}, 4) AS near_jaccard,
               row_number() OVER (
                   PARTITION BY i.doc_id
                   ORDER BY {jaccard_duck("i.s", "b.s")} DESC, b.doc_id ASC) AS rn
        FROM incr i JOIN base b ON i.lang = b.lang
        WHERE {jaccard_duck("i.s", "b.s")} >= 0.8
    )
    SELECT i.doc_id, i.lang,
           e.exact_dup_of,
           n.near_dup_of,
           n.near_jaccard,
           (n.near_dup_of IS NULL) AS is_new
    FROM incr i
    LEFT JOIN exact e ON i.doc_id = e.doc_id
    LEFT JOIN near n ON i.doc_id = n.doc_id AND n.rn = 1
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental dedup: check a daily increment (the md5-bucket-0 ~10%
    slice — sampling.py's partitioning-stable split discipline) against the
    historical base corpus WITHOUT re-clustering the base. Each increment
    doc reports its exact duplicate in the base (token-set fingerprint
    match), its best near-duplicate (token-mask Jaccard ≥ 0.8 within the
    same lang, highest similarity, ties to the lowest base id), and an
    is_new verdict — the admission-control query a continuously-fed
    training corpus runs per ingest batch.

    100 TB: the round-13 sf1 probe measured the former lang-blocked
    increment×base pair stage at 132× wall on 10× data — lang blocking
    leaves an O(|incr|·|base|/|langs|) product that is quadratic in corpus
    size (VERDICT r13 item 1). The pair stage now runs over DISTINCT
    (lang, mask) values, not docs: Jaccard is a pure function of the two
    31-bit token masks, so docs sharing a mask are interchangeable and the
    per-mask min base doc_id settles the tie-break. Candidates come from
    an exact pigeonhole band join — J ≥ 0.8 on ≤32-bit sets forces
    Hamming(m1, m2) ≤ 6, so splitting bits 0..30 into 7 bands guarantees
    every qualifying pair agrees on at least one whole band (7 bands > 6
    differing bits) — plus the integer size-bound prefilter
    (5·min(|s1|,|s2|) ≥ 4·max, implied by the 0.8 threshold). Both stages
    are lossless, so the output is provably identical to the all-pairs
    report at EVERY scale (tests/test_pipeline.py asserts equality against
    the unbanded path); wall scales with distinct-mask count, which
    saturates as content repeats, never with the doc-pair product."""
    return _incremental_report(spark, sf_dir, banded=True)


#: 7 pigeonhole bands over mask bits 0..30: (shift, width) — 5+5+5+4+4+4+4.
_INCR_BANDS = [(0, 5), (5, 5), (10, 5), (15, 4), (19, 4), (23, 4), (27, 4)]


def _incremental_report(spark, sf_dir, banded=True):
    """Shared body of ``dedup_incremental``. ``banded=False`` keeps the
    pre-round-14 lang-blocked all-pairs near stage alive for the
    losslessness equality test (the size_bound=False pattern)."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), ",")
    bkt = md5_bucket("doc_id", 10)
    masks = doc_masks(spark, sf_dir)
    # localCheckpoint: incr feeds the exact join, the near stage, and the
    # final report spine; base feeds the exact join and the near stage —
    # without the cut the fp/mask build subtree re-executes per reference
    # (SURVEY §10 lesson 4).
    docs = (
        d.select("doc_id", fp.alias("fp"), bkt.alias("bkt"))
        .join(masks, "doc_id")
        .select("doc_id", "lang", "fp", "mask", "bkt")
        .localCheckpoint(eager=False)
    )
    incr = docs.filter(F.col("bkt") == 0).drop("bkt")
    base = docs.filter(F.col("bkt") != 0).drop("bkt")

    i_fp = incr.select(F.col("doc_id"), F.col("fp"))
    b_fp = base.select(F.col("doc_id").alias("b_doc"), F.col("fp").alias("b_fp"))
    exact = (
        i_fp.join(b_fp, F.col("fp") == F.col("b_fp"))
        .groupBy("doc_id")
        .agg(F.min("b_doc").alias("exact_dup_of"))
    )

    near = (
        _incremental_near_banded(incr, base)
        if banded
        else _incremental_near_allpairs(incr, base)
    )
    return (
        incr.select("doc_id", "lang")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "exact_dup_of",
            "near_dup_of",
            "near_jaccard",
            F.col("near_dup_of").isNull().alias("is_new"),
        )
    )


def _mask_band_rows(df, mask_col, keep):
    """7 pigeonhole band rows per input row: (keep…, band, val) with
    val = the _INCR_BANDS slice of ``mask_col``. An equi-join of two such
    streams on (band, val) is an EXACT candidate generator for token-mask
    Jaccard ≥ 0.8 — J ≥ 0.8 on ≤32-bit sets forces Hamming ≤ 6 < 7 bands,
    so every qualifying pair shares at least one whole band (pigeonhole);
    extra collisions are filtered by the exact re-rank. Shared by
    dedup_incremental and dedup_soft_weights."""
    structs = ", ".join(
        f"named_struct('band', {i}, "
        f"'val', CAST(shiftright({mask_col}, {off}) & {(1 << w) - 1} AS INT))"
        for i, (off, w) in enumerate(_INCR_BANDS)
    )
    return df.select(
        *keep, F.explode(F.expr(f"array({structs})")).alias("bv")
    ).select(*keep, F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))


def _incremental_near_banded(incr, base):
    """Best same-lang near-dup per increment doc via the distinct-mask
    pigeonhole-band pair stage (see dedup_incremental docstring for the
    losslessness argument). Data volumes: band rows are 7 per DISTINCT
    (lang, mask), the pair join moves 8-byte masks only, and the winner
    re-attaches to increment docs by one (lang, mask) equi-join — no doc
    token arrays ever enter a pair product."""
    i_m = incr.select("lang", F.col("mask").alias("i_mask")).distinct()
    b_m = base.groupBy("lang", F.col("mask").alias("b_mask")).agg(
        F.min("doc_id").alias("min_doc")
    )

    ib = _mask_band_rows(i_m, "i_mask", ["lang", "i_mask"])
    bb = _mask_band_rows(b_m, "b_mask", ["lang", "b_mask", "min_doc"])
    ic = F.bit_count("i_mask").cast("long")
    bc = F.bit_count("b_mask").cast("long")
    jac = mask_jaccard("i_mask", "b_mask")
    w = Window.partitionBy("lang", "i_mask").orderBy(
        F.col("jac").desc(), F.col("min_doc").asc()
    )
    best = (
        F.broadcast(ib)
        .join(bb, ["lang", "band", "val"])
        .filter(jaccard_size_bound(ic, bc))
        .select("lang", "i_mask", "b_mask", "min_doc")
        .distinct()
        .select("lang", "i_mask", "min_doc", jac.alias("jac"))
        .filter(F.col("jac") >= 0.8)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        incr.select("doc_id", "lang", F.col("mask").alias("i_mask"))
        .join(F.broadcast(best), ["lang", "i_mask"])
        .select(
            "doc_id",
            F.col("min_doc").alias("near_dup_of"),
            F.round("jac", 4).alias("near_jaccard"),
        )
    )


def _incremental_near_allpairs(incr, base):
    """The pre-round-14 lang-blocked increment×base near stage — O(n²) in
    corpus size (132× wall at 10× data, SCALE_r13.json); retained ONLY as
    the equality reference for the banded path's losslessness test."""
    i_m = incr.select(
        F.col("doc_id"), F.col("lang"), F.col("mask").alias("i_mask")
    )
    b_m = base.select(
        F.col("doc_id").alias("near_doc"),
        F.col("lang").alias("b_lang"),
        F.col("mask").alias("b_mask"),
    )
    jac = mask_jaccard("i_mask", "b_mask")
    w = Window.partitionBy("doc_id").orderBy(F.col("jac").desc(), F.col("near_doc").asc())
    return (
        F.broadcast(i_m)
        .join(b_m, F.col("lang") == F.col("b_lang"))
        .select("doc_id", "near_doc", jac.alias("jac"))
        .filter(F.col("jac") >= 0.8)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("near_doc").alias("near_dup_of"),
            F.round("jac", 4).alias("near_jaccard"),
        )
    )


# 3 flipped bits spread across bands 0, 1, 2 (bits 3, 20, 40) — the
# deterministic stand-in for re-encoding jitter; band 3 stays intact so a
# perturbed copy still collides with its original on at least one band.
_PHASH_JITTER = (1 << 3) | (1 << 20) | (1 << 40)


@register(
    "multimodal_phash_dedup",
    oracle=f"""
    WITH img AS (
        SELECT doc_id AS img_id,
               {md5_int_duck("text", 15)} AS ph
        FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               xor({md5_int_duck("text", 15)},
                   {_PHASH_JITTER})
        FROM documents WHERE doc_id % 50 = 0
        UNION ALL
        SELECT doc_id + 2000000,
               {md5_int_duck("text", 15)}
        FROM documents WHERE doc_id % 100 = 0
    ), b AS (
        SELECT img_id, ph, i AS band, (ph // p2) % 32768 AS val
        FROM img CROSS JOIN (VALUES (0, 1), (1, 32768), (2, 1073741824),
                                    (3, 35184372088832)) AS t(i, p2)
    ), cand AS (
        SELECT DISTINCT b1.img_id AS img1, b2.img_id AS img2
        FROM b b1 JOIN b b2
          ON b1.band = b2.band AND b1.val = b2.val
         AND b1.img_id < b2.img_id
    )
    SELECT img1, img2,
           CAST(bit_count(xor(i1.ph, i2.ph)) AS BIGINT) AS hamming
    FROM cand
    JOIN img i1 ON i1.img_id = img1
    JOIN img i2 ON i2.img_id = img2
    WHERE bit_count(xor(i1.ph, i2.ph)) <= 8
    """,
)
def multimodal_phash_dedup(spark, sf_dir):
    """Perceptual-hash near-dup detection for an image corpus — the
    multimodal sibling of dedup_minhash_lsh: 60-bit signatures banded into
    4×15-bit buckets, candidates from the (band, value) equi-join (never
    all pairs), re-ranked by exact Hamming distance bit_count(xor) ≤ 8.
    This is how web-scale image dedup actually runs (pHash/PDQ → band
    buckets → Hamming re-rank). The container has no image codecs, so the
    pHash stage is a deterministic STUB (md5 of the content the fake
    decoder in multimodal_decode reads — identical images hash identically)
    and every 50th image gains a re-encoded variant with 3 flipped bits
    spread across bands 0-2 while every 100th gains a byte-identical
    re-upload copy; a real pHash slots into the same column. The
    banding, bucket join, first-band in-join dedup, and Hamming re-rank —
    the parts that matter at scale — are real and exercised in both the
    exact-match (hamming 0) and near-match (hamming 3) regimes.

    100 TB: signature is a scan-speed projection; only (band, value)
    buckets shuffle; pair dedup happens INSIDE the join via the
    first-matching-band rule (SURVEY §9 lesson 2 — no distinct shuffle on
    Spark's side; the oracle uses DISTINCT as the plain-SQL reference)."""
    d = load_table(spark, sf_dir, "documents")
    ph = md5_int("text", 15)
    base = d.select(F.col("doc_id").alias("img_id"), ph.alias("ph"))
    variants = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("img_id"),
        ph.bitwiseXOR(F.lit(_PHASH_JITTER)).alias("ph"),
    )
    reuploads = d.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 2000000).alias("img_id"), ph.alias("ph")
    )
    imgs = base.unionAll(variants).unionAll(reuploads)
    # integer div, NOT `/`: float division of a 60-bit value loses bits
    # beyond the 53-bit double mantissa and would desync from the oracle
    band_vals = F.array(
        *[F.expr(f"(ph div {2 ** (15 * i)}) % 32768") for i in range(4)]
    )
    # posexplode_OUTER (the _band_signatures rationale): the inner form's
    # inferred size filter re-inlines the md5 phash build per band
    # reference; sigs is a constructed 4-element array, outer ≡ inner.
    sig = imgs.select("img_id", "ph", band_vals.alias("sigs")).select(
        "img_id", "ph", "sigs", F.posexplode_outer("sigs").alias("band", "sig")
    )
    hamming = F.bit_count(F.col("ph1").bitwiseXOR(F.col("ph2"))).cast("long")
    return (
        band_pairs(sig, 4, carry=("ph",), key="img_id")
        .select(F.col("doc1").alias("img1"), F.col("doc2").alias("img2"), hamming.alias("hamming"))
        .filter(F.col("hamming") <= 8)
    )


@register(
    "dedup_soft_weights",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, {token_set_duck()} AS s
        FROM documents
    ), pairs AS (
        SELECT d1.doc_id AS a, d2.doc_id AS b
        FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
        WHERE 5 * {inter_duck("d1.s", "d2.s")} >= 4 * {union_duck("d1.s", "d2.s")}
    ), deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near_dups
        FROM (SELECT a AS doc_id FROM pairs
              UNION ALL
              SELECT b AS doc_id FROM pairs)
        GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang,
           COALESCE(deg.n_near_dups, 0) AS n_near_dups,
           CAST(1000 // (1 + COALESCE(deg.n_near_dups, 0)) AS BIGINT)
               AS weight_permille
    FROM d LEFT JOIN deg ON d.doc_id = deg.doc_id
    """,
)
def dedup_soft_weights(spark, sf_dir):
    """Soft dedup: instead of DROPPING near-duplicates, every document gets
    a training weight 1000/(1 + #near-dups) permille — a duplicate cluster
    of size m contributes ~1 document's worth of gradient in total, but no
    single copy (with its possibly-unique context) is lost. This is the
    down-weighting alternative the D4/SlimPajama line of work argues for
    over hard removal. Near-dup degree = count of OTHER same-lang docs at
    token-set Jaccard ≥ 0.8, decided in integers (5·inter ≥ 4·union on
    bit_count of 31-bit masks — no float threshold); the weight itself is
    an integer permille floor-division. Docs with no neighbor keep weight
    1000, via the left join.

    100 TB: the round-13 sf1 probe measured the former salted same-lang
    all-pairs self-join at 12.1× wall on 10× data (VERDICT r13 item 4 —
    blocked-exact is still O(n²/|langs|)). The degree is a pure function
    of the doc's 31-bit mask — same-mask docs are mutual J=1 near-dups and
    share every neighbor — so the pair stage now runs over DISTINCT
    (lang, mask) values carrying their doc counts: deg(M) =
    Σ cnt(M') over qualifying M' (self included) − 1. Candidates come from
    the _mask_band_rows pigeonhole join + the 5·min ≥ 4·max size bound —
    both LOSSLESS for J ≥ 0.8 — so the output is provably identical to the
    all-pairs report at every scale (no recall fork, which is why the
    adaptive exact-vs-LSH strategy pick this seam once planned for is
    unnecessary: exact stays affordable). Wall scales with distinct-mask
    count (saturating as content repeats), never the doc-pair product;
    the degree rollup and the doc re-attach are one (lang, mask)
    equi-join each."""
    # localCheckpoint: the mask rollup feeds BOTH the distinct-mask pair
    # stage and the final doc re-attach — without it the token explode +
    # bit_or subtree executes twice per action (SURVEY §10 lesson 4).
    masks = doc_masks(spark, sf_dir).localCheckpoint(eager=False)
    mg = masks.groupBy("lang", "mask").agg(F.count("*").cast("long").alias("cnt"))
    a = _mask_band_rows(
        mg.select("lang", F.col("mask").alias("a_mask")), "a_mask",
        ["lang", "a_mask"],
    )
    b = _mask_band_rows(
        mg.select("lang", F.col("mask").alias("b_mask"), F.col("cnt").alias("b_cnt")),
        "b_mask",
        ["lang", "b_mask", "b_cnt"],
    )
    ac = F.bit_count("a_mask").cast("long")
    bc = F.bit_count("b_mask").cast("long")
    deg_mask = (
        a.join(b, ["lang", "band", "val"])
        .filter(jaccard_size_bound(ac, bc))
        .select("lang", "a_mask", "b_mask", "b_cnt")
        .distinct()
        .filter(
            F.expr(
                f"5 * {mask_inter_sql('a_mask', 'b_mask')}"
                f" >= 4 * {mask_union_sql('a_mask', 'b_mask')}"
            )
        )
        .groupBy("lang", F.col("a_mask").alias("mask"))
        .agg((F.sum("b_cnt") - 1).cast("long").alias("deg"))
    )
    # Spine = the documents table, NOT the mask frame: a doc whose text
    # explodes to zero token rows (NULL text) has no doc_masks row but
    # must still appear with weight 1000, exactly as the oracle's LEFT
    # JOIN from documents keeps it (round-14 review finding 1).
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        d.join(masks.select("doc_id", "mask"), "doc_id", "left")
        .join(deg_mask, ["lang", "mask"], "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("deg"), F.lit(0).cast("long")).alias("n_near_dups"),
            F.expr("CAST(1000 div (1 + coalesce(deg, 0)) AS BIGINT)").alias(
                "weight_permille"
            ),
        )
    )


@register(
    "multimodal_shard_plan",
    oracle="""
    WITH ordered AS (
        SELECT doc_id, lang, n_chars,
               sum(n_chars) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_chars AS cum_before
        FROM documents
    ), planned AS (
        SELECT doc_id, lang, n_chars, cum_before // 4000 AS shard_id
        FROM ordered
    )
    SELECT lang, CAST(shard_id AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM planned GROUP BY lang, shard_id
    """,
)
def multimodal_shard_plan(spark, sf_dir):
    """WebDataset-style shard planning: documents pack sequentially (by
    doc_id within language) into ~4000-char shards — shard_id is the
    EXCLUSIVE prefix sum of sizes divided by the capacity, the exact
    greedy first-fit a tar-shard writer performs, computed as one window
    instead of a sequential loop. Emitted per shard: count, bytes, and
    the [first, last] doc range (shards are contiguous by construction —
    the property that makes resumable sequential writers possible).

    100 TB: the prefix sum partitions by language here; for a single
    global sequence at petabyte scale, swap the window for the
    etl_surrogate_keys two-phase construction (per-range local sums + a
    broadcast offset table) — the packing rule itself is unchanged. The
    per-shard rollup reuses the window's partitioning."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(
            """(sum(n_chars) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_chars) div 4000"""
        ).alias("shard_id"),
    )
    return planned.groupBy("lang", "shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH pred AS ({_LANG_ID_ORACLE}
    ), m AS (
        SELECT lang AS true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2
    ), rt AS (
        SELECT true_lang, CAST(sum(n_docs) AS BIGINT) AS n_true FROM m GROUP BY 1
    ), ct AS (
        SELECT pred_lang, CAST(sum(n_docs) AS BIGINT) AS n_pred FROM m GROUP BY 1
    )
    SELECT m.true_lang, m.pred_lang, m.n_docs, rt.n_true, ct.n_pred,
           CAST(1000 * m.n_docs // rt.n_true AS BIGINT) AS share_of_true_permille,
           CAST(1000 * m.n_docs // ct.n_pred AS BIGINT) AS share_of_pred_permille
    FROM m JOIN rt ON m.true_lang = rt.true_lang
           JOIN ct ON m.pred_lang = ct.pred_lang
    """,
)
def text_langid_confusion(spark, sf_dir):
    """Model-evaluation confusion matrix for the text_lang_id classifier
    against the gold ``lang`` column: one row per observed (true,
    predicted) pair with exact counts, class totals, and integer-permille
    shares — diagonal rows read as per-class recall (share_of_true) and
    precision (share_of_pred), off-diagonal rows as directed confusion
    rates. Composes ON the registered text_lang_id plan (same predictions
    the driver verifies), so the eval can never drift from the model it
    claims to score.

    100 TB: the expensive part is the prediction plan itself; the matrix
    is one (true, pred)-keyed count (≤ |langs|² = 25 cells) with two
    broadcast total joins — evaluation cost is amortized into the scoring
    pass."""
    pred = text_lang_id(spark, sf_dir)
    m = pred.groupBy(
        F.col("lang").alias("true_lang"), "pred_lang"
    ).agg(F.count("*").cast("long").alias("n_docs"))
    rt = m.groupBy("true_lang").agg(F.sum("n_docs").cast("long").alias("n_true"))
    ct = m.groupBy("pred_lang").agg(F.sum("n_docs").cast("long").alias("n_pred"))
    return (
        m.join(F.broadcast(rt), "true_lang")
        .join(F.broadcast(ct), "pred_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n_docs",
            "n_true",
            "n_pred",
            F.expr("CAST(1000 * n_docs div n_true AS BIGINT)").alias(
                "share_of_true_permille"
            ),
            F.expr("CAST(1000 * n_docs div n_pred AS BIGINT)").alias(
                "share_of_pred_permille"
            ),
        )
    )


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, {token_set_duck()} AS s
        FROM documents
    ), scored AS (
        SELECT (1000 * {inter_duck("d1.s", "d2.s")}) // {union_duck("d1.s", "d2.s")}
                   AS permille
        FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
    ), bucketed AS (
        SELECT (permille // 50) * 50 AS threshold_permille,
               CAST(count(*) AS BIGINT) AS n_pairs_bucket
        FROM scored WHERE permille >= 500 GROUP BY 1
    ), cum AS (
        SELECT threshold_permille, n_pairs_bucket,
               CAST(sum(n_pairs_bucket) OVER (
                   ORDER BY threshold_permille DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_pairs_at_or_above,
               CAST(sum(n_pairs_bucket) OVER () AS BIGINT) AS total
        FROM bucketed
    )
    SELECT threshold_permille, n_pairs_bucket, n_pairs_at_or_above,
           (1000 * n_pairs_at_or_above) // total AS share_permille
    FROM cum
    """,
)
def dedup_threshold_sweep(spark, sf_dir):
    """The dedup-threshold tuning curve in ONE pass: every same-lang pair's
    exact Jaccard (integer permille off the 31-bit token masks) is bucketed
    to 50-permille threshold steps ≥ 500, and a descending cumulative sum
    turns the histogram into the curve every dedup rollout decision reads —
     'how many pairs would a ≥ t cut affect, and what share of the ≥ 0.5
    mass is that'. Sweeping thresholds by re-running the pair stage per
    candidate t is the naive shape; the histogram+cumsum shape pays the
    pair scan ONCE for the whole curve. Companion to dedup_lsh_pr_eval
    (which fixes t = 0.8 and tunes the BAND GEOMETRY; this fixes the
    candidate stream and tunes t).

    100 TB: pair generation is the salted same-lang self-join on 8-byte
    masks (exact — the measured-corpus definition; swap in
    _lsh_scored_pairs for an LSH-bounded stream when the corpus outgrows
    blocked-exact range, same downstream histogram). Everything after the
    pair stream is a ≤11-row threshold axis: the cumulative window is
    bounded by construction."""
    masks = doc_masks(spark, sf_dir)
    pairs = salted_lang_pairs(masks)
    permille = F.expr(
        f"(1000 * {mask_inter_sql('a_mask', 'b_mask')})"
        f" div {mask_union_sql('a_mask', 'b_mask')}"
    )
    bucketed = (
        pairs.select(permille.alias("permille"))
        .filter(F.col("permille") >= 500)
        .groupBy(F.expr("(permille div 50) * 50").alias("threshold_permille"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs_bucket"))
    )
    w_cum = (
        Window.orderBy(F.col("threshold_permille").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    cum = bucketed.select(
        "threshold_permille",
        "n_pairs_bucket",
        F.sum("n_pairs_bucket").over(w_cum).cast("long").alias("n_pairs_at_or_above"),
        F.sum("n_pairs_bucket").over(w_all).cast("long").alias("total"),
    )
    return cum.select(
        "threshold_permille",
        "n_pairs_bucket",
        "n_pairs_at_or_above",
        F.expr("(1000 * n_pairs_at_or_above) div total").alias("share_permille"),
    )


# ---------------------------------------------------------------------------
# LSH band-geometry planner (round 10): measured candidate cost + integer
# closed-form recall per (bands × rows) config — the tuning table a 100 TB
# dedup/ANN run reads before committing a band geometry. Complements
# dedup_lsh_pr_eval (which measures ONE config against exact truth) and the
# Catalyst cosine→LSH extension (whose shipped 8×4 geometry appears as one
# row here).
# ---------------------------------------------------------------------------

import math as _math

_GEOM_DIM = 64  # embeddings.parquet vector dimensionality (FIXTURES.md)
_GEOM_POOL = 32  # hyperplane pool = max bands·rows across the config grid
_GEOM_CONFIGS = [(1, 8), (2, 4), (4, 2), (4, 4), (8, 2), (8, 4), (16, 2)]
#: target threshold τ = 0.40 (the repo's ε-join surface, sim_threshold_join)
#: collision probability per hyperplane p = 1 − acos(τ)/π, floored to
#: permille IN PYTHON so both engines consume the same integer constant
#: (zero cross-engine libm surface — the sim_ndcg_eval discipline).
_GEOM_P_PERMILLE = _math.floor(1000 * (1 - _math.acos(0.4) / _math.pi))


def _geom_hyperplanes() -> list[list[int]]:
    """±1 hyperplane pool, md5-derived (deterministic like all repo
    randomness), shared verbatim by the Spark expression and the oracle."""
    # the parity of the whole digest is the parity of its last hex digit
    return [
        [
            1 if md5_int_py(f"lshgeom:{j}:{i}", 1, 31) % 2 == 0 else -1
            for i in range(_GEOM_DIM)
        ]
        for j in range(_GEOM_POOL)
    ]


def _geom_recall_permille(bands: int, rows: int) -> int:
    """1 − (1 − p^rows)^bands in stepwise-floored permille — exact integer
    arithmetic, so the estimate is engine-identical by construction."""
    pr = 1000
    for _ in range(rows):
        pr = pr * _GEOM_P_PERMILLE // 1000
    miss = 1000
    for _ in range(bands):
        miss = miss * (1000 - pr) // 1000
    return 1000 - miss


def _geom_case(expr_fmt: str) -> str:
    """CASE cfg WHEN '<BxR>' THEN <literal> END over the config grid."""
    whens = " ".join(
        f"WHEN '{b}x{r}' THEN {expr_fmt.format(b=b, r=r, rec=_geom_recall_permille(b, r))}"
        for b, r in _GEOM_CONFIGS
    )
    return f"CASE cfg {whens} END"


def _geom_oracle() -> str:
    H = _geom_hyperplanes()
    sign_entries = ", ".join(
        "CASE WHEN list_dot_product(qarr, ["
        + ", ".join(str(v) for v in H[j])
        + "]) >= 0 THEN 1 ELSE 0 END"
        for j in range(_GEOM_POOL)
    )
    branches = []
    for b_cnt, r_cnt in _GEOM_CONFIGS:
        for b in range(b_cnt):
            key = str(b)
            for k in range(1, r_cnt + 1):
                key = f"({key} * 2 + signs[{b * r_cnt + k}])"
            branches.append(
                f"SELECT '{b_cnt}x{r_cnt}' AS cfg, {key} AS key FROM s"
            )
    keys_sql = " UNION ALL ".join(branches)
    return f"""
    WITH q AS (
        SELECT {milli_duck()} AS qarr
        FROM embeddings
    ), s AS (
        SELECT [{sign_entries}] AS signs FROM q
    ), keys AS (
        {keys_sql}
    ), buckets AS (
        SELECT cfg, key, CAST(count(*) AS BIGINT) AS n
        FROM keys GROUP BY 1, 2
    )
    SELECT cfg,
           CAST({_geom_case("{b}")} AS BIGINT) AS bands,
           CAST({_geom_case("{r}")} AS BIGINT) AS rows_per_band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(max(n) AS BIGINT) AS max_bucket,
           CAST({_geom_case("{rec}")} AS BIGINT) AS est_recall_permille
    FROM buckets GROUP BY cfg
    """


@register("plan_lsh_band_geometry", oracle=_geom_oracle())
def plan_lsh_band_geometry(spark, sf_dir):
    """LSH band-geometry tuning table: for each (bands × rows-per-band)
    config on a shared 32-hyperplane pool, the MEASURED candidate-join
    cost (Σ C(n_bucket, 2), plus bucket count and max bucket — the skew
    signal) next to the integer closed-form recall estimate
    1 − (1 − p^rows)^bands at τ=0.4. This is the table a 100 TB dedup/ANN
    run reads to pick its band config BEFORE paying for the candidate
    join — recall too low → more bands; candidate_pairs too high → more
    rows per band (dedup_lsh_pr_eval then measures the chosen config
    against exact truth; the Catalyst cosine→LSH extension ships the 8×4
    row of this grid).

    Everything is exact integer arithmetic: vectors quantize to
    milli-units (the ``encode.milli`` rule — ±1-hyperplane dot products are
    then exact integers, no float-summation-order hazard at the sign
    boundary), hyperplanes are md5-derived ±1 literals shared verbatim
    with the oracle, and the recall estimate is stepwise-floored permille
    computed in Python and embedded as literals in BOTH engines (the
    sim_ndcg_eval zero-libm discipline).

    100 TB: one scan → one narrow projection (32 sign bits/vector) → one
    explode (Σ bands = 43 rows/vector) → two keyed rollups, all map-side
    combinable; output is |configs| = 7 rows. At full scale the planner
    runs on a deterministic hash-sample (sample_hash_mod) — candidate
    counts scale as the sample-rate square per bucket, which the read-out
    divides back; the structure is unchanged."""
    H = _geom_hyperplanes()
    h_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{v}L" for v in row) + ")" for row in H
    ) + ")"
    signs_expr = f"""transform(sequence(1, {_GEOM_POOL}), j ->
        IF(aggregate(zip_with(qarr, element_at({h_lit}, j), (x, h) -> x * h),
                     0L, (a, x) -> a + x) >= 0L, 1L, 0L))"""
    branches = []
    for b_cnt, r_cnt in _GEOM_CONFIGS:
        branches.append(
            f"""transform(sequence(0, {b_cnt - 1}), b ->
                named_struct('cfg', '{b_cnt}x{r_cnt}', 'key',
                    aggregate(sequence(1, {r_cnt}), CAST(b AS BIGINT),
                              (acc, k) -> acc * 2L
                                          + element_at(signs, b * {r_cnt} + k))))"""
        )
    keys_expr = "flatten(array(" + ", ".join(branches) + "))"

    e = load_table(spark, sf_dir, "embeddings")
    signs = e.select(milli().alias("qarr")).select(
        F.expr(signs_expr).alias("signs")
    )
    kx = signs.select(F.explode(F.expr(keys_expr)).alias("ck")).select(
        "ck.cfg", "ck.key"
    )
    buckets = kx.groupBy("cfg", "key").agg(F.count(F.lit(1)).alias("n"))
    per_cfg = buckets.groupBy("cfg").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("candidate_pairs"),
        F.max("n").cast("long").alias("max_bucket"),
    )
    return per_cfg.select(
        "cfg",
        F.expr(f"CAST({_geom_case('{b}')} AS BIGINT)").alias("bands"),
        F.expr(f"CAST({_geom_case('{r}')} AS BIGINT)").alias("rows_per_band"),
        "n_buckets",
        "candidate_pairs",
        "max_bucket",
        F.expr(f"CAST({_geom_case('{rec}')} AS BIGINT)").alias(
            "est_recall_permille"
        ),
    )
