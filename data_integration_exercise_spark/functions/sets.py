"""The engine's set-similarity rules, each written once per dialect.

The dedup family verifies against DuckDB only if both engines encode token
sets, score overlap and hash signatures identically:

- **Token sets.** A token's key is its 1-based index in the 31-word
  ``VOCAB`` (0 or NULL for a miss), so a set is losslessly a 31-bit mask
  and a bigram set a 961-bit bitset; without a closed vocabulary it is
  its 48-bit md5 content hash.
- **Exact overlap.** Jaccard is a ratio of exact integer set sizes (of
  token masks, of key arrays or of DuckDB lists), so the double is the
  same in both engines. ``J >= 0.8`` implies the size bound
  ``5·min(|A|, |B|) >= 4·max(|A|, |B|)``, a lossless prune.
- **MinHash.** Permutation ``p`` of a key ``x`` is ``(a_p·x + b_p) mod M``
  with fixed literals, minimized over a document's distinct keys. A band
  packs its minhashes little-endian in base ``M``: a bijection of the
  band's tuple (each ``mh < M``), so candidates — pairs ``doc1 < doc2``
  sharing a ``(band, sig)`` — do not depend on the packing.

Dialects: Spark ``Column`` (plain names), Spark SQL text (``*_sql``) and
DuckDB SQL text (``*_duck``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from .encode import md5_int_sql

#: measured 31-word corpus vocabulary (sorted; see SURVEY §1.2 / FIXTURES.md)
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window",
]
#: |VOCAB| = 31, prime: the closed-vocabulary MinHash modulus
V = len(VOCAB)

_VOCAB_SPARK = "array(" + ", ".join(f"'{w}'" for w in VOCAB) + ")"
_VOCAB_DUCK = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"

#: MinHash permutations h_p(x) = (a·x + b) mod M — fixed literals, no rand()
MINHASH_PERMS = [(3, 1), (5, 7), (7, 2), (11, 5), (2, 9), (9, 4), (13, 8), (6, 11)]
ROWS_PER_BAND = 2
N_BANDS = len(MINHASH_PERMS) // ROWS_PER_BAND  # OR of 4 ANDs-of-2

#: wider permutation bank for the high-recall candidate config (8 bands of 4
#: rows) used by dedup_connected_components: per-pair recall at J≥0.8 is
#: 1-(1-s⁴)⁸ ≈ 0.998, and measured component equality vs the exact edge set
#: holds at sf0.001/0.01/0.1 (the 4×2 config above loses a component at
#: sf0.1). Fixed literals, all `a` invertible mod 31.
MINHASH_PERMS_WIDE = [
    (3, 24), (5, 8), (7, 23), (11, 21), (2, 21), (9, 9), (13, 7), (6, 21),
    (17, 6), (19, 21), (23, 19), (29, 0), (4, 12), (8, 10), (12, 8), (14, 23),
    (15, 0), (16, 8), (18, 23), (20, 7), (21, 15), (22, 23), (24, 7), (25, 15),
    (26, 23), (27, 0), (28, 8), (30, 23), (10, 8), (1, 8), (3, 23), (5, 7),
]
WIDE_ROWS_PER_BAND = 4

#: open-vocabulary MinHash modulus — the Mersenne prime 2^31 - 1. Token keys
#: are 48-bit content hashes, so a*h+b stays < 2^52 and a packed band
#: mh0 + mh1*M < 2^62 — all BIGINT-exact.
OV_M = 2_147_483_647


# --- token sets and the vocabulary index ---------------------------------------


def token_set_duck() -> str:
    return "list_distinct(string_split(text, ' '))"


def token_hashes_sql() -> str:
    """The distinct tokens of ``text`` as 48-bit md5 content hashes."""
    return f"transform(array_distinct(split(text, ' ')), t -> {md5_int_sql('t', 12)})"


def vocab_idx_sql(t: str) -> str:
    """1-based ``VOCAB`` index of token ``t``, 0 for a miss."""
    return f"array_position({_VOCAB_SPARK}, {t})"


def vocab_idx_duck(t: str) -> str:
    """1-based ``VOCAB`` index of token ``t``, NULL for a miss."""
    return f"list_position({_VOCAB_DUCK}, {t})"


def tok_idx(spark, sf_dir, distinct: bool):
    """(doc_id, lang, token, idx): one row per (doc, token), idx ∈ 1..31."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " ")) if distinct else F.split("text", " ")
    return d.select(
        "doc_id", "lang", F.explode(toks).alias("token")
    ).withColumn("idx", F.expr(vocab_idx_sql("token")))


def doc_masks(spark, sf_dir):
    """(doc_id, lang, mask): the token set as a 31-bit integer bitmask.

    The corpus vocabulary is exactly the 31 VOCAB words (idx ∈ 1..31), so a
    token SET is losslessly one long, and exact Jaccard between two docs is
    bit_count(m1 & m2) / bit_count(m1 | m2) — two codegen'd integer ops per
    pair instead of array_intersect over token arrays. This is what makes
    re-ranking millions of LSH candidates cheap: the candidate join carries
    8-byte masks, not string arrays. Open-vocabulary corpora have no
    lossless bitset: SURVEY §14 "Open-vocabulary fallback"."""
    idx = tok_idx(spark, sf_dir, distinct=True)
    return idx.groupBy("doc_id", "lang").agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(idx - 1 AS INT)))"
        ).alias("mask")
    )


def mask_idxs_sql(mask: str) -> str:
    """The 1-based token indexes set in a 31-bit ``mask``, ascending."""
    return f"filter(sequence(1, {V}), i -> (shiftright({mask}, i - 1) & 1) = 1)"


def bigram_mask_cols(d):
    """(doc_id, lang, m0..m15, nsh): the distinct-bigram set of ``text`` as
    an exact 961-bit bitset in 16 BIGINT columns, plus its cardinality.

    Both tokens of every bigram are in the 31-word vocabulary, so a bigram
    has an exact index (i-1)·31 + (j-1) ∈ [0, 961) from the 1-based
    ``array_position`` token indexes — no collisions, so
    :func:`bigram_inter` is the EXACT shingle-set intersection (the
    bigram analogue of doc_masks). Built via explode + bit_or GROUP BY:
    whole-stage codegen'd, map-side combined, a filter-pushdown barrier
    (a per-row HOF bitset gets its defining aggregate re-inlined into every
    pushed reference — SURVEY §9 lesson 1), and the output is evenly
    hash-partitioned for a following pair join. The exploded index list is
    already distinct, so count(*) IS the set size."""
    # One array_position per TOKEN over a materialized index column, then
    # zip_with over two slices — never `split(text)[i + 1]` (or a second
    # array_position) inside the lambda: a lambda body re-evaluates outer
    # non-attribute subexpressions per element, so the old form re-split
    # the text AND re-scanned the vocabulary per bigram (O(n²)
    # tokenization per doc; measured 1.75 s → 0.4 s for the sf0.1 mask
    # build from this rewrite alone).
    ids = F.expr(f"transform(split(text, ' '), t -> {vocab_idx_sql('t')})")
    bigram_idx = F.expr(
        f"""
        array_distinct(zip_with(
            slice(ids, 1, size(ids) - 1), slice(ids, 2, size(ids) - 1),
            (a, b) -> (a - 1) * {V} + (b - 1)))
        """
    )
    bg = d.select("doc_id", "lang", ids.alias("ids")).select(
        "doc_id", "lang", F.explode(bigram_idx).alias("b")
    )
    return bg.groupBy("doc_id", "lang").agg(
        *[
            F.expr(
                f"bit_or(IF(b div 64 = {j}, shiftleft(CAST(1 AS BIGINT),"
                f" CAST(b % 64 AS INT)), CAST(0 AS BIGINT)))"
            ).alias(f"m{j}")
            for j in range(16)
        ],
        F.count("*").cast("long").alias("nsh"),
    )


# --- exact overlap -----------------------------------------------------------------


def mask_inter_sql(a: str, b: str) -> str:
    """|A ∩ B| of two token masks."""
    return f"bit_count({a} & {b})"


def mask_union_sql(a: str, b: str) -> str:
    """|A ∪ B| of two token masks."""
    return f"bit_count({a} | {b})"


def mask_jaccard(a: str, b: str):
    """Column: the exact Jaccard of two token-mask columns, a double."""
    return F.expr(f"CAST({mask_inter_sql(a, b)} AS DOUBLE) / {mask_union_sql(a, b)}")


def array_jaccard(a: str, b: str):
    """Column: the exact Jaccard of two distinct-key array columns, a double."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def bigram_inter(a: str = "a_m", b: str = "b_m"):
    """Column: |A ∩ B| of two bigram bitsets, the columns ``{a}0..{a}15``
    and ``{b}0..{b}15``, a BIGINT."""
    terms = " + ".join(mask_inter_sql(f"{a}{j}", f"{b}{j}") for j in range(16))
    return F.expr(f"CAST({terms} AS BIGINT)")


def jaccard_size_bound(n1, n2):
    """Column: the set sizes ``n1``, ``n2`` allow ``J >= 0.8``, decided in
    integers as ``5·min >= 4·max``."""
    return 5 * F.least(n1, n2) >= 4 * F.greatest(n1, n2)


def inter_duck(a: str, b: str) -> str:
    """|A ∩ B| of two distinct-element lists, a BIGINT."""
    return f"len(list_intersect({a}, {b}))"


def union_duck(a: str, b: str) -> str:
    """|A ∪ B| of two distinct-element lists, a BIGINT."""
    return f"(len({a}) + len({b}) - {inter_duck(a, b)})"


def jaccard_duck(a: str, b: str) -> str:
    """The exact Jaccard of two distinct-element lists, a DOUBLE."""
    return f"CAST({inter_duck(a, b)} AS DOUBLE) / {union_duck(a, b)}"


# --- MinHash -------------------------------------------------------------------------


def _band_weight(m: int, p: int, rows_per_band: int) -> int:
    """Weight of permutation ``p``'s minhash in its band's packed signature."""
    return m ** (p % rows_per_band)


def band_sigs_sql(arr: str, perms, m: int, rows_per_band: int) -> list:
    """One BIGINT signature expression per band of ``perms`` over the key
    array ``arr``: its minhashes packed little-endian in base ``m``."""
    terms = [
        f"CAST(array_min(transform({arr}, x -> ({a} * x + {b}) % {m})) AS BIGINT)"
        f" * {_band_weight(m, p, rows_per_band)}"
        for p, (a, b) in enumerate(perms)
    ]
    return [
        " + ".join(terms[i : i + rows_per_band])
        for i in range(0, len(terms), rows_per_band)
    ]


def first_match_band(n_bands: int, c1: str = "sigs1", c2: str = "sigs2"):
    """Column: index of the FIRST band where the two carried signature
    arrays agree — the pair-dedup predicate `first_match_band(...) == band`
    keeps each colliding pair in exactly one band without a distinct
    shuffle. A flat CASE chain, not a zip_with equality array: no array
    allocated per candidate row (measured 8.0 s → 3.1 s for the sf0.1
    closed-vocab candidate stream). The join guarantees a match at the
    join band, so the ELSE arm is reached only when that is the last."""
    if n_bands == 1:  # zero WHEN branches would render unparseable SQL
        return F.lit(0)
    branches = " ".join(
        f"WHEN {c1}[{i}] = {c2}[{i}] THEN {i}" for i in range(n_bands - 1)
    )
    return F.expr(f"CASE {branches} ELSE {n_bands - 1} END")


def band_pairs(
    rows, n_bands: int, carry=(), dedup_pairs=True, same=None, on=None, key="doc_id"
):
    """The (band, sig) self-join of band rows ``(key, sigs, band, sig,
    *carry)``: every pair ``doc1 < doc2`` of ``key`` values sharing a band
    signature, never an all-pairs product. Each carried column ``c``
    arrives as ``c1`` and ``c2``; ``same`` names a carried column both
    sides must agree on; ``on`` adds a condition on the carried columns
    inside the join.

    ``dedup_pairs`` carries the ``sigs`` arrays and keeps a pair only in
    the FIRST band where they agree (:func:`first_match_band`), so a pair
    colliding in several bands is emitted once without a distinct shuffle.
    Without it the join emits one row per colliding band, for consumers
    whose aggregation is idempotent under duplicates."""
    cols = [*carry, "sigs"] if dedup_pairs else list(carry)
    b1 = rows.select(
        F.col(key).alias("doc1"),
        *[F.col(c).alias(f"{c}1") for c in cols],
        "band",
        "sig",
    )
    b2 = rows.select(
        F.col(key).alias("doc2"),
        *[F.col(c).alias(f"{c}2") for c in cols],
        F.col("band").alias("band2"),
        F.col("sig").alias("sig2"),
    )
    cond = (b1.band == b2.band2) & (b1.sig == b2.sig2) & (b1.doc1 < b2.doc2)
    if same:
        cond = cond & (F.col(f"{same}1") == F.col(f"{same}2"))
    if dedup_pairs:
        cond = cond & (first_match_band(n_bands) == b1.band)
    if on is not None:
        cond = cond & on
    return b1.join(b2, cond)


def minhash_bands_duck(key: str, perms, m: int, rows_per_band: int, by: str = "doc_id") -> str:
    """CTEs for a ``WITH`` clause, ending in ``bands`` ``(by..., band,
    sig)``: each document's distinct tokens ``token`` keyed by the
    expression ``key``, minhashed by ``perms`` mod ``m`` and packed
    per band of ``rows_per_band``."""
    values = ", ".join(
        f"({p}, {p // rows_per_band}, {a}, {b}, {_band_weight(m, p, rows_per_band)})"
        for p, (a, b) in enumerate(perms)
    )
    return f"""tok AS (
        SELECT {by}, unnest({token_set_duck()}) AS token FROM documents
    ), perms(p, band, a, b, w) AS (VALUES {values}),
    mh AS (
        SELECT {by}, band, w, min((a * {key} + b) % {m}) AS mh
        FROM tok CROSS JOIN perms
        GROUP BY {by}, p, band, w
    ), bands AS (
        SELECT {by}, band, CAST(sum(mh * w) AS BIGINT) AS sig
        FROM mh GROUP BY {by}, band
    )"""


def band_pairs_duck(same_lang: bool = False) -> str:
    """CTE ``cand`` ``(doc1, doc2)``: the distinct pairs ``doc1 < doc2``
    sharing a ``(band, sig)`` of ``bands`` (which carries ``lang`` for
    ``same_lang``)."""
    lang = " AND b1.lang = b2.lang" if same_lang else ""
    return f"""cand AS (
        SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2
        FROM bands b1 JOIN bands b2
          ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id{lang}
    )"""


# --- the salted same-lang pair stream ------------------------------------------------


def salted_lang_pairs(docs, n_buckets: int = 8):
    """All same-lang (doc1 < doc2) pairs from a (doc_id, lang, …) frame,
    with the self-join salted by doc_id % n_buckets: lang alone gives only
    |langs| join blocks (5 here), capping parallelism at 5 tasks regardless
    of cluster size; bucketing the right side and replicating the left
    across all buckets yields |langs|·B independent blocks, each pair met
    exactly once — the join_skew_salted treatment applied to a self-join.
    Columns besides doc_id/lang are carried through with a_/b_ renames.

    The replicated side broadcasts, so the pair stage's parallelism is the
    PROBE side's partition count — 1 task for a raw single-file scan
    (measured: 17 s single-task levenshtein at sf0.1). The probe side is
    therefore repartitioned on doc_id with an EXPLICIT count: a count-less
    repartition is fair game for AQE coalescing, which sees a few MB and
    merges it back to one partition, serializing the pair expansion
    downstream (whose cost its heuristic cannot see)."""
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    carried = [c for c in docs.columns if c not in ("doc_id", "lang")]
    d1 = docs.select(
        F.col("doc_id").alias("doc1"),
        "lang",
        *[F.col(c).alias(f"a_{c}") for c in carried],
        F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("bkt"),
    )
    d2 = docs.repartition(n_part, F.col("doc_id")).select(
        F.col("doc_id").alias("doc2"),
        F.col("lang").alias("lang2"),
        *[F.col(c).alias(f"b_{c}") for c in carried],
        (F.col("doc_id") % n_buckets).cast("int").alias("bkt2"),
    )
    return d1.join(
        d2,
        (d1.lang == d2.lang2) & (d1.bkt == d2.bkt2) & (d1.doc1 < d2.doc2),
    )
