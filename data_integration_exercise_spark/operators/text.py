"""Text-analytics & dedup operators over ``documents`` (SURVEY.md §2.10).

Driver-mandated LLM-data-pipeline surface. Everything here is pure
DataFrame/HOF — tokenization is ``split`` + ``explode``/``transform``, no
Python in the row path, so the whole module rides whole-stage codegen.

Corpus facts (measured this session): 31-word vocabulary, 10–99 tokens/doc,
langs {en,fr,es,zh,de}, 0 exact duplicate strings but dense token-SET
near-duplicates — dedup operates on normalized token sets by design.

Scale: every aggregation is keyed (term / doc / lang); the only quadratic
op is the within-language Jaccard self-join, whose scale path is the
MinHash-LSH variant in pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import md5_bucket, md5_bucket_duck, md5_int_duck, md5_int_sql
from ..functions.sets import (
    doc_masks,
    jaccard_duck,
    mask_jaccard,
    salted_lang_pairs,
    token_set_duck,
)
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()

STOPWORDS = ("a", "the")

#: inline sentiment lexicon over the measured 31-word vocabulary
LEXICON: dict[str, float] = {
    "fast": 1.0,
    "slow": -1.0,
    "big": 0.5,
    "small": -0.5,
    "dup": -1.0,
    "merge": 0.5,
    "spark": 1.0,
    "scan": -0.25,
    "join": 0.25,
    "query": 0.25,
}

_LEX_VALUES_SQL = ", ".join(f"('{w}', {s})" for w, s in LEXICON.items())


@register(
    "text_tokenize_wordcount",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token NOT IN ('a', 'the')
    GROUP BY token
    """,
)
def text_tokenize_wordcount(spark, sf_dir):
    """Global word counts with stopword filtering — the canonical
    tokenize→explode→groupBy pipeline; shuffle carries one row per distinct
    term thanks to partial aggregation."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(~F.col("token").isin(*STOPWORDS))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
)
def text_tfidf(spark, sf_dir):
    """tf·idf per (doc, term) — pure SQL formula (tf × ln(N/df)), no MLlib,
    so it is oracle-checkable. Three keyed aggregations + one broadcast of
    the tiny df table; N rides a broadcast 1-row cross join (no collect)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )


@register(
    "text_ngrams",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS tok,
               unnest(list_transform(string_split(text, ' '), (x, i) -> i)) AS pos
        FROM documents
    ), b AS (
        SELECT lang,
               tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS bigram
        FROM t
    )
    SELECT lang, bigram, count(*) AS n
    FROM b WHERE bigram IS NOT NULL
    GROUP BY lang, bigram
    """,
)
def text_ngrams(spark, sf_dir):
    """Bigram counts per language via posexplode + per-doc lead window —
    the window shuffles once on doc_id; n-gram assembly is pure codegen
    (concat), and the same idiom extends to any n."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        t.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .withColumn("bigram", F.concat_ws(" ", "tok", "nxt"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_lang_stats",
    oracle="""
    WITH doc_stats AS (
        SELECT lang, source, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        FROM documents GROUP BY lang, source
    ), vocab AS (
        SELECT lang, source, count(DISTINCT token) AS vocab_size
        FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY lang, source
    )
    SELECT lang, source, n_docs, avg_chars, vocab_size
    FROM doc_stats JOIN vocab USING (lang, source)
    """,
)
def text_lang_stats(spark, sf_dir):
    """Per-(lang, source) doc counts, avg length, vocabulary richness.
    Doc-level stats and token-level distinct are computed at their own
    grains then joined — aggregating avg(n_chars) over exploded tokens
    would silently weight by token count."""
    d = load_table(spark, sf_dir, "documents")
    doc_stats = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )
    vocab = (
        d.select("lang", "source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "source")
        .agg(F.countDistinct("token").alias("vocab_size"))
    )
    return doc_stats.join(vocab, ["lang", "source"])


@register(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH lex(word, score) AS (VALUES {_LEX_VALUES_SQL}),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT t.doc_id,
           round(sum(coalesce(lex.score, 0.0)) / count(*), 4) AS sentiment,
           CAST(count(lex.word) AS BIGINT) AS n_scored
    FROM toks t LEFT JOIN lex ON t.token = lex.word
    GROUP BY t.doc_id
    """,
)
def text_sentiment_lexicon(spark, sf_dir):
    """Lexicon-scored sentiment: exploded tokens ⋈ broadcast 10-word score
    table, averaged per doc (unmatched tokens score 0). The lexicon is a
    literal inline table — the standard broadcast-enrich shape for any
    token-level annotation at scale."""
    d = load_table(spark, sf_dir, "documents")
    lex = F.broadcast(
        spark.createDataFrame(list(LEXICON.items()), "word string, score double")
    )
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        toks.join(lex, toks.token == lex.word, "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.coalesce("score", F.lit(0.0))) / F.count(F.lit(1)), 4
            ).alias("sentiment"),
            F.count("word").alias("n_scored"),
        )
    )


@register(
    "dedup_exact_text",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id,
               array_to_string(list_sort({token_set_duck()}), ',')
                   AS fingerprint
        FROM documents
    )
    SELECT fingerprint,
           min(doc_id) AS keep_doc,
           count(*)    AS group_size
    FROM fp
    GROUP BY fingerprint
    """,
)
def dedup_exact_text(spark, sf_dir):
    """Exact dedup on the *normalized token-set fingerprint* (sorted distinct
    tokens). Raw strings have zero duplicates in this corpus (measured), but
    the token-set collapses near-identical docs; keep-rule = min doc_id
    (deterministic). At 100 TB the fingerprint would be an md5 of this string
    — same groupBy, constant-width key."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), ",")
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


@register(
    "dedup_near_jaccard",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, {token_set_duck()} AS s
        FROM documents
    )
    SELECT d1.doc_id AS doc1,
           d2.doc_id AS doc2,
           d1.lang   AS lang,
           round({jaccard_duck("d1.s", "d2.s")}, 4) AS jaccard
    FROM d d1 JOIN d d2 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
    WHERE {jaccard_duck("d1.s", "d2.s")} >= 0.8
    """,
)
def dedup_near_jaccard(spark, sf_dir):
    """Near-duplicate pairs: token-set Jaccard ≥ 0.8, blocked by language
    (same-lang self-join, id1<id2). This is the EXACT variant — total
    compare count is O(n² per lang) by definition; the LSH-banded variant
    (pipeline.dedup_minhash_lsh) is the sublinear 100 TB path.

    Spark path runs on 31-bit token-set masks (sets.doc_masks — the
    vocabulary is exactly 31 words, so a token SET is losslessly one long):
    pair Jaccard is bit_count(m1 & m2) / bit_count(m1 | m2), two codegen'd
    integer ops instead of array_intersect over string arrays (measured
    44 s → ~4 s at sf0.1), and the self-join is salted by doc_id % 8 so
    parallelism isn't capped at the language count
    (sets.salted_lang_pairs). Jaccard stays a ratio of the same exact
    integers, so both engines produce bit-identical doubles."""
    pairs = salted_lang_pairs(doc_masks(spark, sf_dir))
    return (
        pairs.select("doc1", "doc2", "lang", mask_jaccard("a_mask", "b_mask").alias("jac"))
        .filter(F.col("jac") >= 0.8)
        .select("doc1", "doc2", "lang", F.round("jac", 4).alias("jaccard"))
    )


@register(
    "text_keywords_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM scored
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) <= 3
    """,
)
def text_keywords_topk(spark, sf_dir):
    """Keyword extraction: top-3 terms per doc by tf·idf — the per-document
    summarization step after text_tfidf's scoring. Ranking happens on the
    4dp-ROUNDED score (ln outputs are irrational, so rounding cannot hit
    the decimal-terminating tie trap) with a term-name tiebreak, making the
    top-k identical across engines. Same plan as text_tfidf plus one
    windowed partial top-k per doc."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "text_pmi_cooccurrence",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({token_set_duck()}) AS tok
        FROM documents
    ), pairs AS (
        SELECT a.tok AS tok1, b.tok AS tok2, count(*) AS n_ab
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    ), freq AS (
        SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ), total AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tok1, tok2, CAST(n_ab AS BIGINT) AS n_ab,
           round(ln(CAST(n_ab AS DOUBLE) * n_docs
                    / (f1.n * CAST(f2.n AS DOUBLE))), 4) AS pmi
    FROM pairs
    JOIN freq f1 ON f1.tok = tok1
    JOIN freq f2 ON f2.tok = tok2
    CROSS JOIN total
    WHERE n_ab >= 50
    """,
)
def text_pmi_cooccurrence(spark, sf_dir):
    """Token co-occurrence with pointwise mutual information: document-level
    pair counts (distinct tokens, doc-blocked self-join — bounded by the
    31-word vocab, never corpus-quadratic) scored ln(P(a,b)/P(a)P(b)) and
    thresholded to frequent pairs. PMI's ln output is irrational, so 4dp
    rounding is tie-safe. The association-mining primitive behind phrase
    detection and topic seeding."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    a = toks.select("doc_id", F.col("tok").alias("tok1"))
    b = toks.select(F.col("doc_id").alias("doc2"), F.col("tok").alias("tok2"))
    pairs = (
        a.join(b, (a.doc_id == b.doc2) & (a.tok1 < b.tok2))
        .groupBy("tok1", "tok2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 50)
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    f1 = freq.select(F.col("tok").alias("tok1"), F.col("n").alias("n1"))
    f2 = freq.select(F.col("tok").alias("tok2"), F.col("n").alias("n2"))
    total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        pairs.join(F.broadcast(f1), "tok1")
        .join(F.broadcast(f2), "tok2")
        .crossJoin(F.broadcast(total))
        .select(
            "tok1",
            "tok2",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("n1") * F.col("n2").cast("double"))
                ),
                4,
            ).alias("pmi"),
        )
    )


@register(
    "dedup_fuzzy_levenshtein",
    oracle="""
    SELECT d1.doc_id AS doc1,
           d2.doc_id AS doc2,
           d1.lang   AS lang,
           levenshtein(d1.text, d2.text) AS lev
    FROM documents d1 JOIN documents d2
      ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id
    WHERE abs(len(d1.text) - len(d2.text)) <= 10
      AND levenshtein(d1.text, d2.text) <= 10
    """,
)
def dedup_fuzzy_levenshtein(spark, sf_dir):
    """Edit-distance near-dup pairs (lev ≤ 10, same lang) — the char-level
    dedup family member: catches small insertions/typos/trims that token-set
    Jaccard treats as unrelated vocabulary changes and vice versa (a token
    reorder is Jaccard-1.0 but large edit distance; measured: the corpus's
    lev distribution is bimodal, ≤5 or ≫10, so the threshold is stable).
    The self-join is salted by doc_id % 8 (sets.salted_lang_pairs) so
    the exact O(n² per lang) compare count spreads over |langs|·8 tasks
    instead of capping at the language count (measured 16.2 s → ~3 s at
    sf0.1). The length prefilter rides the join condition: lev ≤ 10 implies
    ``|len(t1)−len(t2)| ≤ 10``, an O(1) test that prunes the quadratic pair
    stream before the O(len²) Wagner-Fischer kernel evaluates (measured
    59.6→~3 s at sf0.01; the identical implied predicate is in the oracle so
    DuckDB prunes too). Both engines implement classic Wagner-Fischer, so
    the distances are identical integers."""
    d = load_table(spark, sf_dir, "documents")
    texts = d.select("doc_id", "lang", "text")
    # threshold form = banded Wagner-Fischer, O(len·10) not O(len²); returns
    # -1 above the band, exact distance inside it — same integers as DuckDB.
    lev = F.levenshtein("a_text", "b_text", 10)
    return (
        salted_lang_pairs(texts)
        .filter(F.abs(F.length("a_text") - F.length("b_text")) <= 10)
        .filter((lev >= 0) & (lev <= 10))
        .select("doc1", "doc2", "lang", lev.alias("lev"))
    )


@register(
    "text_ngram_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
        FROM toks, unnest(range(1, len(t))) AS u(i)
    ), db AS (
        SELECT DISTINCT doc_id, bigram FROM bg
    ), freq AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS df FROM db GROUP BY bigram
    )
    SELECT db.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
           CAST(sum(CASE WHEN freq.df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare,
           CAST(1000 * sum(CASE WHEN freq.df <= 2 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS novelty_permille
    FROM db JOIN freq ON db.bigram = freq.bigram
    GROUP BY db.doc_id
    """,
)
def text_ngram_novelty(spark, sf_dir):
    """N-gram novelty score: the share of a document's distinct bigrams
    that are RARE corpus-wide (document frequency ≤ 2) — high scores mark
    documents contributing genuinely new text patterns (worth keeping in
    a curation pass even if other quality signals are middling), low
    scores mark documents made entirely of boilerplate n-grams. Document
    frequency comes from the deduplicated (doc, bigram) stream so a
    bigram repeated within one doc counts once; everything is integer
    counts and one permille floor-division.

    100 TB: the same explode → groupBy → broadcast-model-back shape as
    text_tfidf — the df table is bounded by the bigram vocabulary, and
    the scoring join rides the exploded stream with a map-side
    broadcast."""
    d = load_table(spark, sf_dir, "documents")
    # zip_with over two slices of a materialized token column — the old
    # lambda re-split the text per bigram (O(n²) tokenization per doc;
    # see sets.bigram_mask_cols)
    bg = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        F.explode(
            F.expr(
                """
                zip_with(slice(toks, 1, size(toks) - 1),
                         slice(toks, 2, size(toks) - 1),
                         (x, y) -> concat(x, ' ', y))
                """
            )
        ).alias("bigram"),
    ).distinct()
    freq = bg.groupBy("bigram").agg(F.count("*").cast("long").alias("df"))
    rare = F.sum(F.when(F.col("df") <= 2, 1).otherwise(0))
    return (
        bg.join(F.broadcast(freq), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_distinct_bigrams"),
            rare.cast("long").alias("n_rare"),
            F.expr(
                "CAST(1000 * sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) "
                "div count(*) AS BIGINT)"
            ).alias("novelty_permille"),
        )
    )


@register(
    "text_zipf_slope",
    oracle="""
    WITH freq AS (
        SELECT token, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ), ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY f DESC, token) AS BIGINT) AS r,
               f
        FROM freq
    ), pts AS (
        SELECT CAST(floor(1e6 * log2(CAST(r AS DOUBLE)) + 1e-6) AS HUGEINT) AS x,
               CAST(floor(1e6 * log2(CAST(f AS DOUBLE)) + 1e-6) AS HUGEINT) AS y
        FROM ranked
    ), m AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CAST(1000000 * (n * sxy - sx * sy)
                // (n * sxx - sx * sx) AS BIGINT) AS zipf_slope_micro
    FROM m
    """,
)
def text_zipf_slope(spark, sf_dir):
    """Zipf's-law fit of the corpus rank-frequency curve: OLS slope of
    log₂(freq) vs log₂(rank) — the one-number lexical-diversity
    diagnostic (natural corpora sit near −1; this synthetic near-uniform
    vocabulary reads much flatter, and the test asserts that honest
    value). Both logs are floored integer micro-bits with the +1e-6 libm
    guard (the text_bigram_lm_score discipline), the OLS closed form runs
    on decimal/HUGEINT moments (the agg_linear_trend pattern), and the
    single signed division is the shared truncating div — no float
    surface survives to the output.

    100 TB: one token-frequency groupBy (map-side combined), then a
    ranking window and the 5-moment fold over |vocab| rows — the heavy
    lifting is the frequency rollup; everything after is bounded by
    vocabulary size, which grows sublinearly in corpus size."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("f"))
    )
    w = Window.orderBy(F.desc("f"), F.asc("token"))
    # bounded global window: |vocab| rows, not corpus rows
    dec = "decimal(38,0)"
    pts = freq.select(
        F.floor(F.lit(1e6) * F.log2(F.row_number().over(w).cast("double")) + F.lit(1e-6))
        .cast(dec)
        .alias("x"),
        F.floor(F.lit(1e6) * F.log2(F.col("f").cast("double")) + F.lit(1e-6))
        .cast(dec)
        .alias("y"),
    )
    m = pts.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.expr(
            """CAST(1000000 * (n * sxy - sx * sy)
                    div (n * sxx - sx * sx) AS BIGINT)"""
        ).alias("zipf_slope_micro"),
    )


@register(
    "text_dedup_paragraph_chunks",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), chunks AS (
        SELECT doc_id, k.k AS chunk_idx,
               array_to_string(t[k.k * 10 + 1 : k.k * 10 + 10], ' ') AS chunk
        FROM toks
        CROSS JOIN (SELECT unnest(range(0, 200)) AS k) k
        WHERE k.k * 10 < len(t)
    ), df AS (
        SELECT chunk, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM chunks GROUP BY chunk
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN d.n_occurrences > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(1000 * sum(CASE WHEN d.n_occurrences > 1 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS dup_permille
    FROM chunks c JOIN df d ON c.chunk = d.chunk
    GROUP BY c.doc_id
    """,
)
def text_dedup_paragraph_chunks(spark, sf_dir):
    """Sub-document (paragraph-level) duplication audit — the Dolma/
    RefinedWeb stage that exact whole-doc dedup misses: documents split
    into non-overlapping 10-token chunks (the paragraph stand-in for this
    corpus), each chunk's corpus-wide occurrence count is computed, and
    every document reports its duplicated-chunk fraction in permille —
    the removal/downweight signal for boilerplate-heavy pages.

    100 TB: chunking is a narrow map (slice arithmetic, no shuffle); the
    chunk-frequency model is one map-side-combined groupBy on the chunk
    string (in production, on a 64-bit chunk fingerprint — same plan);
    the broadcast-back is a fingerprint join. Work scales with corpus
    tokens, state with DISTINCT chunks — exactly how the paragraph-dedup
    stage of a web-scale pipeline is shaped."""
    d = load_table(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id",
        F.explode(
            F.expr(
                """filter(
                       transform(sequence(0, 199), k ->
                           struct(k AS chunk_idx,
                                  array_join(slice(split(text, ' '),
                                                   k * 10 + 1, 10), ' ')
                                      AS chunk,
                                  k * 10 < size(split(text, ' ')) AS keep)),
                       s -> s.keep)"""
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.chunk_idx").alias("chunk_idx"), F.col("c.chunk").alias("chunk"))
    df_model = chunks.groupBy("chunk").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
    return (
        chunks.join(df_model, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("n_occurrences") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.expr(
                "CAST(1000 * sum(CASE WHEN n_occurrences > 1 THEN 1 ELSE 0 END)"
                " div count(*) AS BIGINT)"
            ).alias("dup_permille"),
        )
    )


_BPE_ROUNDS = 8


def _bpe_chain_sql() -> str:
    """The shared WITH-prologue reproducing the _BPE_ROUNDS merge chain in
    DuckDB (words -> s0 .. s{N}), with the word carried through every round
    so both the training oracle (round stats) and the encoding oracle
    (per-word subword counts) can build on the same chain."""
    parts = [
        """
    WITH words AS (
        SELECT token AS w, CAST(count(*) AS BIGINT) AS f FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ), s0 AS MATERIALIZED (
        SELECT w, array_to_string(string_split_regex(w, ''), ' ') || ' </w>' AS seq, f
        FROM words
    )"""
    ]
    for i in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f""", p{i} AS MATERIALIZED (
        SELECT sym1 || ' ' || sym2 AS pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
            SELECT t[j] AS sym1, t[j+1] AS sym2, f FROM (
                SELECT string_split(seq, ' ') AS t, f FROM s{i - 1}),
                unnest(range(1, len(t))) AS u(j))
        GROUP BY sym1, sym2
    ), b{i} AS MATERIALIZED (
        SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1
    ), s{i} AS MATERIALIZED (
        SELECT w, trim(replace(' ' || seq || ' ',
                            ' ' || (SELECT pair FROM b{i}) || ' ',
                            ' ' || replace((SELECT pair FROM b{i}), ' ', '')
                                || ' ')) AS seq, f
        FROM s{i - 1}
    ), t{i} AS (
        SELECT CAST(sum(f * len(string_split(seq, ' '))) AS BIGINT) AS total
        FROM s{i}
    )"""
        )
    return "".join(parts)


def _bpe_oracle() -> str:
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({i} AS BIGINT) AS round, (SELECT pair FROM b{i}) AS pair, "
        f"replace((SELECT pair FROM b{i}), ' ', '') AS new_symbol, "
        f"(SELECT cnt FROM b{i}) AS pair_count, "
        f"(SELECT total FROM t{i}) AS corpus_symbols_after"
        for i in range(1, _BPE_ROUNDS + 1)
    )
    return _bpe_chain_sql() + "\n    " + rows


def _bpe_encode_oracle() -> str:
    return (
        _bpe_chain_sql()
        + f""", enc AS (
        SELECT w, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sub
        FROM s{_BPE_ROUNDS}
    ), tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT doc_id, lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(len(w) + 1) AS BIGINT) AS n_symbols_raw,
           (1000 * CAST(sum(n_sub) AS BIGINT)) // CAST(sum(len(w) + 1) AS BIGINT)
               AS compression_permille
    FROM tok JOIN enc USING (w)
    GROUP BY doc_id, lang
    """
    )


def _bpe_merge_chain(spark, sf_dir):
    """Run the _BPE_ROUNDS merge loop once; return (final word table
    (w, seq, f) with seq fully merged, per-round stats frame). Shared by
    text_bpe_train (emits the rounds) and text_bpe_encode (applies the
    merged vocabulary) so the two keys cannot drift apart."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("f"))
    )
    s = words.select(
        "w",
        F.concat(
            F.array_join(F.split("w", ""), " "), F.lit(" </w>")
        ).alias("seq"),
        "f",
    ).localCheckpoint()
    out = None
    for i in range(1, _BPE_ROUNDS + 1):
        pairs = (
            s.select(
                F.posexplode(F.expr("slice(split(seq, ' '), 1, size(split(seq, ' ')) - 1)")).alias("j", "sym1"),
                F.col("seq"),
                F.col("f"),
            )
            .select(
                F.concat(
                    F.col("sym1"),
                    F.lit(" "),
                    F.expr("split(seq, ' ')[j + 1]"),
                ).alias("pair"),
                "f",
            )
            .groupBy("pair")
            .agg(F.sum("f").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1)
        s = (
            s.crossJoin(F.broadcast(best))
            .select(
                "w",
                F.expr(
                    """trim(replace(concat(' ', seq, ' '),
                                    concat(' ', pair, ' '),
                                    concat(' ', replace(pair, ' ', ''), ' ')))"""
                ).alias("seq"),
                "f",
            )
            .localCheckpoint()
        )
        total = s.agg(
            F.sum(F.col("f") * F.size(F.split("seq", " "))).cast("long").alias(
                "corpus_symbols_after"
            )
        )
        row = (
            best.crossJoin(F.broadcast(total))
            .select(
                F.lit(i).cast("long").alias("round"),
                "pair",
                F.expr("replace(pair, ' ', '')").alias("new_symbol"),
                F.col("cnt").cast("long").alias("pair_count"),
                "corpus_symbols_after",
            )
        )
        out = row if out is None else out.unionByName(row)
    return s, out


@register("text_bpe_train", oracle=_bpe_oracle())
def text_bpe_train(spark, sf_dir):
    """Byte-pair-encoding tokenizer TRAINING as a distributed query — the
    subword-vocabulary stage of every LLM data pipeline: 8 merge rounds,
    each picking the corpus-weighted most frequent adjacent symbol pair
    (ties lexicographic — classic BPE tie-breaks arbitrarily and would be
    unverifiable) and fusing it everywhere via delimiter-padded string
    replace, which performs exactly BPE's leftmost non-overlapping merge
    in both engines. Emitted per round: the merge, its weighted count,
    and the corpus token count after the merge — the compression curve.

    100 TB: THE point of this shape — the only corpus-scale pass is the
    word-frequency rollup (map-side combined); every merge round then
    operates on the VOCABULARY table (|vocab| rows, sublinear in corpus),
    with the winning pair carried as a broadcast 1-row join, never a
    driver literal. This is how subword training actually scales: word
    counts once, merge loop on the count table (the HuggingFace
    tokenizers design, distributed). Rounds localCheckpoint so the loop
    stays flat (lesson 13: plan-compile cost is real cost)."""
    return _bpe_merge_chain(spark, sf_dir)[1]


@register("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark, sf_dir):
    """Apply the trained BPE vocabulary — the other half of the tokenizer
    story: exact subword token counts per document under the 8-round merge
    table, not the whitespace/regex proxies of text_token_count. The
    corpus is never re-segmented row by row: encoding happens once on the
    VOCABULARY table (each word's fully-merged seq length is its subword
    count), and documents just join words to that table — the standard
    word-level tokenizer cache. Emitted per doc: word count, exact BPE
    token count, raw symbol count (chars + </w>), and the realized
    compression in integer permille — hash-verified cross-engine, so the
    'how many tokens is my corpus' number a training run budgets against
    is checked, not estimated.

    100 TB: one corpus tokenize pass joined to a |vocab|-row broadcast
    table (the merge loop itself is sublinear in corpus — see
    text_bpe_train); the per-doc rollup is one map-side-combined groupBy."""
    s, _ = _bpe_merge_chain(spark, sf_dir)
    enc = s.select(
        "w", F.size(F.split("seq", " ")).cast("long").alias("n_sub")
    )
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    return (
        tok.join(F.broadcast(enc), "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("w") + 1).cast("long").alias("n_symbols_raw"),
        )
        .withColumn(
            "compression_permille",
            F.expr("(1000 * n_bpe_tokens) div n_symbols_raw"),
        )
    )


#: winnowing parameters (Schleimer/Wilkerson/Aiken, MOSS): k-gram size 4,
#: window 4 → guarantee: any shared run of ≥ k+w-1 = 7 tokens yields at
#: least one shared fingerprint. Pairs need ≥ 5 shared prints to report.
_WINNOW_K = 4
_WINNOW_W = 4
_WINNOW_MIN_SHARED = 5


@register(
    "dedup_winnowing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_WINNOW_K + _WINNOW_W - 1}
    ), kg AS (
        SELECT doc_id, n - {_WINNOW_K - 1} AS m, CAST(u.i AS BIGINT) AS p,
               {md5_int_duck(
                   f"'win|' || array_to_string(toks[u.i:u.i + {_WINNOW_K - 1}], ' ')",
                   15)} AS h
        FROM t, unnest(range(1, n - {_WINNOW_K - 2})) AS u(i)
    ), win AS (
        SELECT doc_id, p - o.off AS j, h, p
        FROM kg, unnest(range({_WINNOW_W})) AS o(off)
        WHERE p - o.off >= 1 AND p - o.off <= m - {_WINNOW_W - 1}
    ), sel AS (
        SELECT doc_id, j, min(struct_pack(h := h, np := -p)) AS s
        FROM win GROUP BY doc_id, j
    ), fp AS (
        SELECT DISTINCT doc_id, s.h AS h FROM sel
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_fingerprints
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
)
def dedup_winnowing(spark, sf_dir):
    """Winnowing fingerprint dedup (Schleimer-Wilkerson-Aiken, the MOSS
    algorithm): every 4-token k-gram hashes to a 60-bit integer, each
    sliding window of 4 consecutive k-gram hashes selects its minimum
    (ties → rightmost, via min over the (h, −pos) struct — lexicographic
    struct comparison is identical in both engines), and documents
    sharing ≥ 5 selected fingerprints pair up. Unlike MinHash (a GLOBAL
    similarity sketch), winnowing is POSITION-LOCAL: it provably catches
    any copied run of ≥ k+w−1 = 7 tokens regardless of how different the
    rest of the two documents is — the plagiarism/boilerplate detector,
    complementary to dedup_minhash_lsh.

    100 TB: fingerprint density is 2/(w+1) ≈ 40% of k-grams — each doc
    emits a bounded print set map-side (array HOFs, no shuffle); the only
    shuffles are the (doc, window) argmin groupBy and the print-bucket
    equi-join (the LSH-band join shape — never all-pairs). A hot print
    (true boilerplate) is the salted-join case; at this corpus the
    buckets stay tiny."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    d = d.filter(F.size("toks") >= _WINNOW_K + _WINNOW_W - 1)
    harr = F.expr(
        f"""
        transform(sequence(1, size(toks) - {_WINNOW_K - 1}), i ->
            {md5_int_sql(
                f"concat('win|', concat_ws(' ', slice(toks, i, {_WINNOW_K})))", 15)})
        """
    )
    kg = d.select(
        "doc_id",
        (F.size("toks") - (_WINNOW_K - 1)).alias("m"),
        F.posexplode(harr).alias("p0", "h"),
    ).select("doc_id", "m", (F.col("p0") + 1).alias("p"), "h")
    win = (
        kg.select(
            "doc_id",
            "m",
            "p",
            "h",
            F.explode(F.expr(f"sequence(0, {_WINNOW_W - 1})")).alias("off"),
        )
        .withColumn("j", F.col("p") - F.col("off"))
        .filter((F.col("j") >= 1) & (F.col("j") <= F.col("m") - (_WINNOW_W - 1)))
    )
    sel = win.groupBy("doc_id", "j").agg(
        F.min(F.struct(F.col("h"), (-F.col("p")).alias("np"))).alias("s")
    )
    fp = sel.select("doc_id", F.col("s.h").alias("h")).distinct()
    a = fp.select(F.col("doc_id").alias("doc_a"), "h")
    b = fp.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_fingerprints"))
        .filter(F.col("n_shared_fingerprints") >= _WINNOW_MIN_SHARED)
    )


@register(
    "text_bigram_generate",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT string_split(text, ' ') AS ws FROM documents
    ), uni AS (
        SELECT u.tkn AS token, count(*) AS c
        FROM (SELECT unnest(ws) AS tkn FROM tok) u GROUP BY 1
    ), seeds AS (
        SELECT token FROM (
            SELECT token, row_number() OVER (ORDER BY c DESC, token ASC) AS rn
            FROM uni) WHERE rn <= 3
    ), bg AS (
        SELECT p.w1, p.w2 FROM (
            SELECT unnest(list_transform(ws[1:len(ws) - 1],
                       (w, i) -> {'w1': w, 'w2': ws[i + 1]})) AS p
            FROM tok) t
    ), succ AS (
        SELECT w1, w2 FROM (
            SELECT w1, w2,
                   row_number() OVER (PARTITION BY w1
                                      ORDER BY count(*) DESC, w2 ASC) AS rn
            FROM bg GROUP BY w1, w2) WHERE rn = 1
    ), rec AS (
        SELECT token AS seed, CAST(0 AS BIGINT) AS step, token FROM seeds
        UNION ALL
        SELECT r.seed, r.step + 1, s.w2
        FROM rec r JOIN succ s ON s.w1 = r.token WHERE r.step < 8
    )
    SELECT seed, step, token FROM rec
    """,
)
def text_bigram_generate(spark, sf_dir):
    """Greedy decoding from the corpus-trained bigram LM — the generation
    half of the text_bigram_lm_score story, wholly in SQL: the successor
    table argmax(P(w2|w1)) ≡ argmax count(w1,w2) (ties → alphabetical) is
    a vocab-bounded rollup, the 3 seeds are the most frequent corpus
    tokens (TakeOrdered, no global window), and 8 greedy steps unroll as
    8 broadcast joins against the ≤31-row successor table — the lazy
    loop-unrolled plan shape graph_pagerank established. Greedy argmax
    chains may (correctly, deterministically) enter cycles; a token with
    no successor ends its chain early. Output: (seed, step, token) —
    the decode trace, hash-verified cross-engine against a recursive-CTE
    replay.

    100 TB: the ONLY corpus-scale work is the bigram count rollup
    (map-side combined — the same rollup the LM scorer builds); decode
    itself touches vocab-sized tables regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("ws")
    )
    toks = d.select(F.explode("ws").alias("token"))
    seeds = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(3)
        .select("token")
    )
    bg = d.select(
        F.explode(
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1),"
                " (w, i) -> struct(w AS w1, ws[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    w_succ = Window.partitionBy("w1").orderBy(
        F.col("c").desc(), F.col("w2").asc()
    )
    succ = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w_succ))
        .filter(F.col("rn") == 1)
        .select("w1", "w2")
        .localCheckpoint(eager=False)  # re-referenced by all 8 decode steps
    )
    cur = seeds.select(
        F.col("token").alias("seed"),
        F.lit(0).cast("long").alias("step"),
        "token",
    )
    out = cur
    for i in range(1, 9):
        cur = cur.join(
            F.broadcast(succ), cur.token == succ.w1
        ).select(
            "seed", F.lit(i).cast("long").alias("step"), F.col("w2").alias("token")
        )
        out = out.unionByName(cur)
    return out


@register(
    "text_readability",
    oracle="""
    WITH d AS (
        SELECT lang,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_words,
               CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
                   AS n_syll,
               CAST(len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       w -> len(regexp_extract_all(w, '[aeiouy]+')) >= 3))
                   AS BIGINT) AS n_long
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_syll) AS BIGINT) AS n_syllables,
           CAST(1000 * sum(n_long) // sum(n_words) AS BIGINT)
               AS long_word_permille,
           round(CAST(sum(n_words) AS DOUBLE) / count(*), 4) AS words_per_doc,
           round(206.835
                 - 1.015 * (CAST(sum(n_words) AS DOUBLE) / count(*))
                 - 84.6 * (CAST(sum(n_syll) AS DOUBLE) / sum(n_words)), 4)
               AS flesch_proxy
    FROM d
    GROUP BY lang
    """,
)
def text_readability(spark, sf_dir):
    """Corpus readability profile per language: word counts, a
    vowel-group syllable proxy, the share of 3+-syllable "long" words in
    integer permille, and a Flesch-reading-ease proxy
    206.835 − 1.015·(words/doc) − 84.6·(syllables/word) — the
    quality-scoring pass a pretraining pipeline runs to bucket documents
    by linguistic complexity. The synthetic corpus has no sentence
    punctuation (FIXTURES.md), so the document stands in for the sentence
    unit; syllables = maximal [aeiouy]+ runs, the standard cheap proxy.
    Every count is an exact integer computed by identical regexes in both
    engines; the two Flesch ratios divide exact integers (identical
    doubles) and round at 4dp.

    100 TB: a single stateless projection + one map-side-combined groupBy
    on lang — the regex work stays in whole-stage codegen (no Python), and
    the per-doc word array is never materialized past its task. Output is
    |langs| rows at any scale."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").alias("n_words"),
        F.expr(
            "CAST(size(regexp_extract_all(text, '[aeiouy]+', 0)) AS BIGINT)"
        ).alias("n_syll"),
        F.expr(
            "CAST(size(filter(split(trim(text), '\\\\s+'),"
            " w -> size(regexp_extract_all(w, '[aeiouy]+', 0)) >= 3)) AS BIGINT)"
        ).alias("n_long"),
    )
    words = F.sum("n_words")
    syll = F.sum("n_syll")
    docs = F.count(F.lit(1))
    return d.groupBy("lang").agg(
        docs.cast("long").alias("n_docs"),
        words.cast("long").alias("n_words"),
        syll.cast("long").alias("n_syllables"),
        F.expr("CAST(1000 * sum(n_long) DIV sum(n_words) AS BIGINT)").alias(
            "long_word_permille"
        ),
        F.round(words.cast("double") / docs, 4).alias("words_per_doc"),
        F.round(
            F.lit(206.835)
            - 1.015 * (words.cast("double") / docs)
            - 84.6 * (syll.cast("double") / words),
            4,
        ).alias("flesch_proxy"),
    )


# RAKE stopword set for the synthetic corpus: its vocabulary's only
# function words (FIXTURES.md "documents").
_RAKE_STOPS = ("a", "the")


@register(
    "text_rake_keyphrases",
    oracle="""
    WITH words AS (
        SELECT doc_id, u.pos AS pos, u.w AS w,
               CASE WHEN u.w IN ('a', 'the') THEN 1 ELSE 0 END AS stop
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(regexp_split_to_array(trim(text), '\\s+'))),
                       i -> struct_pack(
                           pos := i,
                           w := regexp_split_to_array(trim(text), '\\s+')[i]))) AS u
            FROM documents
        )
    ), islands0 AS (
        SELECT doc_id, pos, w, stop,
               sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS phrase_id
        FROM words
    ), islands AS (
        SELECT doc_id, pos, w, phrase_id FROM islands0 WHERE stop = 0
    ), phrases AS (
        SELECT doc_id, phrase_id,
               string_agg(w, ' ' ORDER BY pos) AS phrase,
               CAST(count(*) AS BIGINT) AS plen
        FROM islands GROUP BY 1, 2
    ), wstats AS (
        SELECT i.w,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(p.plen) AS BIGINT) AS degree
        FROM islands i
        JOIN phrases p ON i.doc_id = p.doc_id AND i.phrase_id = p.phrase_id
        GROUP BY i.w
    ), scored AS (
        SELECT p.doc_id, p.phrase_id, p.phrase, p.plen,
               CAST(sum(1000000 * ws.degree // ws.freq) AS BIGINT) AS score_micro
        FROM islands i
        JOIN phrases p ON i.doc_id = p.doc_id AND i.phrase_id = p.phrase_id
        JOIN wstats ws ON i.w = ws.w
        GROUP BY 1, 2, 3, 4
    )
    SELECT phrase,
           any_value(plen) AS n_words,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           any_value(score_micro) AS score_micro
    FROM scored
    GROUP BY phrase
    ORDER BY any_value(score_micro) DESC, phrase ASC
    LIMIT 20
    """,
)
def text_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction over the corpus: candidate phrases are
    maximal stopword-free word runs (gaps-and-islands on the only two
    function words in the synthetic vocabulary), each word scores
    degree/frequency over phrase co-occurrence, and a phrase scores the
    sum of its members — the classic unsupervised keyword extractor a
    curation pipeline runs to label document clusters. Scores are integer
    micro-units via per-word truncating division BEFORE the sum, so the
    top-20 ranking never compares floats (identical phrase text ⇒
    identical member stats ⇒ identical score in both engines; ties break
    on phrase text).

    100 TB: one explode of the tokenized corpus, a per-doc cumsum window
    (docs are the partition axis — bounded per-task by document length),
    then word- and phrase-keyed map-side-combined rollups; the word-stats
    table is vocabulary-bounded and broadcasts. Top-20 is a
    TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.expr("split(trim(text), '\\\\s+')")).alias("pos", "w")
    )
    words = d.withColumn(
        "stop", F.when(F.col("w").isin(*_RAKE_STOPS), 1).otherwise(0)
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        words.withColumn(
            "phrase_id",
            F.sum("stop").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .filter(F.col("stop") == 0)
        .select("doc_id", "pos", "w", "phrase_id")
        .localCheckpoint(eager=False)  # consumers: phrases, wstats, scored
    )
    phrases = islands.groupBy("doc_id", "phrase_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, w))),"
            " s -> s.w), ' ')"
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    ).localCheckpoint(eager=False)  # consumers: wstats join + scored join
    wstats = (
        islands.join(phrases, ["doc_id", "phrase_id"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    scored = (
        islands.join(phrases, ["doc_id", "phrase_id"])
        .join(F.broadcast(wstats), "w")
        .groupBy("doc_id", "phrase_id", "phrase", "plen")
        .agg(
            F.sum(F.expr("1000000 * degree DIV freq")).cast("long").alias("score_micro")
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.any_value("plen").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.any_value("score_micro").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("phrase").asc())
        .limit(20)
    )


@register(
    "text_spearman_length_vocab",
    oracle="""
    WITH d AS (
        SELECT lang,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS x,
               CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                   AS BIGINT) AS y
        FROM documents
    ), r AS (
        SELECT lang, x, y,
               rank() OVER (PARTITION BY lang ORDER BY x ASC)
                 + CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) + 1
                 - rank() OVER (PARTITION BY lang ORDER BY x DESC) AS rx2,
               rank() OVER (PARTITION BY lang ORDER BY y ASC)
                 + CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) + 1
                 - rank() OVER (PARTITION BY lang ORDER BY y DESC) AS ry2,
               CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        FROM d
    )
    SELECT lang,
           any_value(n) AS n_docs,
           CAST(sum((rx2 - ry2) * (rx2 - ry2)) AS BIGINT) AS sum_d2_x4,
           round(1 - 1.5 * CAST(sum((rx2 - ry2) * (rx2 - ry2)) AS DOUBLE)
                     / (any_value(n) * (CAST(any_value(n) AS DOUBLE)
                                        * any_value(n) - 1)), 4) AS rho_approx
    FROM r WHERE n > 1
    GROUP BY lang
    """,
)
def text_spearman_length_vocab(spark, sf_dir):
    """Spearman rank correlation per language between document length
    (words) and vocabulary size (distinct words) — the monotone-relation
    eval ("does length keep buying vocabulary, or saturate?") that rank
    correlation answers robustly where Pearson would chase outliers. The
    midrank trick (rank_asc + (n+1) − rank_desc = 2·midrank, the Pettitt
    precedent) keeps doubled ranks integral, so Σd² is an exact BIGINT in
    ×4 units and ρ = 1 − 1.5·Σd²ₓ₄ / (n(n²−1)) is a single division of
    exact integers rounded 4dp. Classic caveat documented: the closed
    form omits the tie correction, so it equals the exact (Pearson-of-
    ranks) Spearman only when ties are absent; with midranks it is the
    standard uncorrected approximation.

    100 TB: the regex projections stay in codegen; the rank windows
    partition by lang (the bounded |langs| axis of this corpus — for a
    single giant group the two-pass banded rank decomposition in
    agg_ks_test is the scale path); output is |langs| rows."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").alias("x"),
        F.expr(
            "CAST(size(array_distinct(split(trim(text), '\\\\s+'))) AS BIGINT)"
        ).alias("y"),
    )
    wl = Window.partitionBy("lang")
    n = F.count(F.lit(1)).over(wl).cast("long")
    r = d.select(
        "lang",
        (
            F.rank().over(wl.orderBy(F.col("x").asc()))
            + n + 1
            - F.rank().over(wl.orderBy(F.col("x").desc()))
        ).alias("rx2"),
        (
            F.rank().over(wl.orderBy(F.col("y").asc()))
            + n + 1
            - F.rank().over(wl.orderBy(F.col("y").desc()))
        ).alias("ry2"),
        n.alias("n"),
    ).filter(F.col("n") > 1)
    d2 = (F.col("rx2") - F.col("ry2")) * (F.col("rx2") - F.col("ry2"))
    nn = F.any_value("n")
    return r.groupBy("lang").agg(
        nn.alias("n_docs"),
        F.sum(d2).cast("long").alias("sum_d2_x4"),
        F.round(
            1
            - 1.5
            * F.sum(d2).cast("double")
            / (nn * (nn.cast("double") * nn - 1)),
            4,
        ).alias("rho_approx"),
    )


@register(
    "text_lexical_overlap",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT lang, w
        FROM (
            SELECT lang,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        )
    ), sizes AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n FROM vocab GROUP BY lang
    ), inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM vocab a JOIN vocab b ON a.w = b.w AND a.lang < b.lang
        GROUP BY 1, 2
    )
    SELECT i.lang_a, i.lang_b,
           sa.n AS vocab_a, sb.n AS vocab_b, i.n_common,
           CAST(1000000 * i.n_common // (sa.n + sb.n - i.n_common) AS BIGINT)
               AS jaccard_micro,
           CAST(1000 * i.n_common // least(sa.n, sb.n) AS BIGINT)
               AS containment_permille
    FROM inter i
    JOIN sizes sa ON i.lang_a = sa.lang
    JOIN sizes sb ON i.lang_b = sb.lang
    """,
)
def text_lexical_overlap(spark, sf_dir):
    """Pairwise vocabulary overlap between language sub-corpora:
    distinct-token Jaccard (micro) and min-containment (permille) for
    every lang pair — the corpus-comparison audit that detects shared
    boilerplate, mislabeled languages, or contamination between supposed
    corpora (this synthetic feed shares one vocabulary, so the pinned
    reading is near-total overlap — the audit must SAY so). All counts
    distinct-exact, divisions truncating.

    100 TB: vocab is one distinct (lang, token) rollup (map-side
    combined, vocabulary-bounded output); the pair join runs on the
    vocabulary table, never the corpus, and sizes broadcast. Output is
    C(|langs|, 2) rows."""
    v = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.expr("split(trim(text), '\\\\s+')")).alias("w"))
        .distinct()
        .localCheckpoint(eager=False)  # consumers: sizes + both join sides
    )
    sizes = v.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = v.select(F.col("lang").alias("lang_a"), "w")
    b = v.select(F.col("lang").alias("lang_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.withColumnsRenamed({"lang": "lang_a", "n": "vocab_a"})
    sb = sizes.withColumnsRenamed({"lang": "lang_b", "n": "vocab_b"})
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            F.expr(
                "CAST(1000000 * n_common DIV (vocab_a + vocab_b - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_micro"),
            F.expr(
                "CAST(1000 * n_common DIV least(vocab_a, vocab_b) AS BIGINT)"
            ).alias("containment_permille"),
        )
    )


@register(
    "text_bigram_richness",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS tok,
               unnest(list_transform(string_split(text, ' '),
                                     (x, i) -> i)) AS pos
        FROM documents
    ), big AS (
        SELECT a.lang, a.tok || ' ' || b.tok AS bg
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), freq AS (
        SELECT lang, bg, CAST(count(*) AS BIGINT) AS f FROM big GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(f) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           round(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
               AS hapax_ratio,
           round(count(*) * 1.0 / sum(f), 4) AS type_token_ratio
    FROM freq GROUP BY 1
    """,
)
def text_bigram_richness(spark, sf_dir):
    """Per-language lexical-richness profile over word BIGRAM types: total
    bigram tokens, distinct types, hapax legomena (types seen exactly
    once), hapax ratio, and type-token ratio. The vocabulary-growth
    diagnostic a corpus curator reads before dedup/mixing — a collapsing
    hapax ratio across snapshots means the crawl is saturating (or
    self-duplicating). Unigram types are degenerate on this synthetic
    corpus (31-word vocabulary, measured), so richness is computed on
    bigrams (~900 types/lang) where the frequency spectrum is real.

    Exactness: everything is integer counts until the two final ratios
    (rounded 4dp).

    100 TB: sliding bigrams come from one zip of the token array with
    itself (transform over indices — no self-join in Spark, the oracle's
    join is DuckDB-only); the frequency spectrum is a two-level
    map-side-combinable groupBy (lang,bg)→(lang), both partial-agg
    friendly. Output is 5 rows; vocab state is bounded by the type count,
    not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    bigrams = d.select(
        "lang",
        F.explode(
            F.expr(
                "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),"
                " (t, i) -> concat(t, ' ', element_at(split(text, ' '), i + 2)))"
            )
        ).alias("bg"),
    )
    freq = bigrams.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("f"))
    hap = F.when(F.col("f") == 1, 1).otherwise(0)
    return freq.groupBy("lang").agg(
        F.sum("f").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(hap).cast("long").alias("hapax"),
        F.round(F.sum(hap) * 1.0 / F.count(F.lit(1)), 4).alias("hapax_ratio"),
        F.round(F.count(F.lit(1)) * 1.0 / F.sum("f"), 4).alias("type_token_ratio"),
    )


_EXSUB_K = 8  # window length in tokens (Lee et al. use 50 BPE tokens; this
#              corpus's docs run 10-100 tokens, so 8 keeps spans informative)


@register(
    "dedup_exact_substring_coverage",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), w AS (
        SELECT doc_id, lang,
               unnest(list_transform(
                   range(1, len(toks) - {_EXSUB_K - 2}),
                   i -> array_to_string(toks[i:i + {_EXSUB_K - 1}], ' ')))
                   AS span
        FROM d WHERE len(toks) >= {_EXSUB_K}
    ), c AS (
        SELECT span, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY span
    )
    SELECT w.doc_id, any_value(w.lang) AS lang,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(*) FILTER (c.n >= 2) AS BIGINT) AS n_dup_windows,
           CAST(1000 * count(*) FILTER (c.n >= 2) // count(*) AS BIGINT)
               AS dup_coverage_permille
    FROM w JOIN c USING (span)
    GROUP BY w.doc_id
    """,
)
def dedup_exact_substring_coverage(spark, sf_dir):
    """Exact-substring duplication coverage (Lee et al. 2022,
    arXiv:2107.06499 'Deduplicating Training Data Makes Language Models
    Better' — the ExactSubstr readout): for every sliding 8-token window
    of every document, is that exact span seen ANYWHERE else in the corpus
    (any second occurrence, inter- or intra-document)? Per document:
    window count, duplicated-window count, and coverage in permille — the
    number ExactSubstr CUTS spans by, and the complement of winnowing
    (dedup_winnowing samples ~40% of k-gram fingerprints to find PAIRS;
    this measures exact full-window duplication MASS per doc).

    All-exact: the join key is the span STRING itself (no hash, no
    collisions), counts are integers, coverage is floor-div permille.

    100 TB: explode is ~n_tokens rows/doc map-side; the span groupBy and
    the windows⋈counts join both hash-partition on span, so the second
    shuffle reuses the first's partitioning (exchange reuse); the per-doc
    rollup is map-side combinable. At full scale the span key is a 64-bit
    content hash instead of the string (8 bytes vs ~45) and a Bloom/CMS
    prefilter drops singleton spans before the join — the structure is
    unchanged; Lee et al.'s suffix-array construction trades this
    shuffle for sort-based locality on a single machine."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    w = (
        d.filter(F.size("toks") >= _EXSUB_K)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    f"""transform(sequence(1, size(toks) - {_EXSUB_K - 1}),
                        i -> concat_ws(' ', slice(toks, i, {_EXSUB_K})))"""
                )
            ).alias("span"),
        )
    )
    # the span-count side broadcasts back onto w, so there is no exchange
    # for ReuseExchange to share and the scan-stage explode ran once per
    # consumer (and single-task on a raw single-file scan); fan out + cut
    # lineage so the window stream computes once, in parallel (round-14;
    # measured 2.0 → 1.6 s at sf0.1, identical output)
    w = w.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), F.col("doc_id")
    ).localCheckpoint(eager=False)
    c = w.groupBy("span").agg(F.count(F.lit(1)).cast("long").alias("n"))
    dup = F.when(F.col("n") >= 2, 1).otherwise(0)
    return (
        w.join(c, "span")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(dup).cast("long").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_coverage_permille",
            F.expr("CAST(1000 * n_dup_windows div n_windows AS BIGINT)"),
        )
    )


@register(
    "text_chao1_richness",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
        SELECT lang, token, CAST(count(*) AS BIGINT) AS n
        FROM tok WHERE token <> '' GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(count(*) FILTER (n = 1) AS BIGINT) AS f1,
           CAST(count(*) FILTER (n = 2) AS BIGINT) AS f2,
           CAST(count(*)
                + (count(*) FILTER (n = 1)) * ((count(*) FILTER (n = 1)) - 1)
                  // (2 * ((count(*) FILTER (n = 2)) + 1)) AS BIGINT)
               AS chao1_est,
           CAST((1000 * (count(*) FILTER (n = 1))) // sum(n) AS BIGINT)
               AS unseen_mass_permille
    FROM tf GROUP BY lang
    """,
)
def text_chao1_richness(spark, sf_dir):
    """Vocabulary-richness census per language: Chao1 species-richness
    estimate (Chao 1984, Scand. J. Stat. — bias-corrected form
    V + F1(F1−1)/(2(F2+1)) from the singleton/doubleton counts) plus the
    Good-Turing unseen-probability mass P0 = F1/N (Good 1953,
    Biometrika) in exact permille. Answers the corpus-sizing question
    behind every crawl-more decision: how much vocabulary has this
    corpus NOT seen yet, and how far below the true type count is the
    observed vocabulary — the same frequency-of-frequencies statistics
    text_zipf_slope reads for its exponent, aimed at coverage instead.

    All integer: the bias-corrected Chao1 denominator (F2+1) never
    divides by zero, floor-division both engines; unseen mass is an
    exact integer permille.

    100 TB: stage 1 is the canonical (lang, token) wordcount shuffle —
    map-side combinable, the cheapest pass any corpus statistic needs;
    stage 2 collapses it to a frequency-of-frequencies rollup whose
    input is vocab-sized and output |lang|-sized. Nothing else moves."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    one = F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long")
    two = F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).cast("long")
    return tf.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        one.alias("f1"),
        two.alias("f2"),
        (
            F.count(F.lit(1))
            + F.expr(
                "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)"
                " * (sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) - 1)"
                " div (2 * (sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) + 1))"
            )
        )
        .cast("long")
        .alias("chao1_est"),
        F.expr(
            "(1000 * sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)) div sum(n)"
        )
        .cast("long")
        .alias("unseen_mass_permille"),
    )


_BURST_MIN_TOTAL = 20  # support floor: VMR over fewer occurrences is noise
_BURST_TOPK = 50


@register(
    "text_burstiness",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), per_doc AS (
        SELECT token, doc_id, CAST(count(*) AS BIGINT) AS x
        FROM tok WHERE token <> '' GROUP BY 1, 2
    ), nd AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM documents
    ), stats AS (
        SELECT token,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS q,
               CAST(count(*) AS BIGINT) AS df
        FROM per_doc GROUP BY token
    )
    SELECT token, s AS n_occurrences, df AS doc_freq,
           CAST((1000::HUGEINT * q) // s - (1000::HUGEINT * s) // nd.n
                AS BIGINT) AS vmr_permille
    FROM stats, nd
    WHERE s >= {_BURST_MIN_TOTAL}
    ORDER BY vmr_permille DESC, token LIMIT {_BURST_TOPK}
    """,
)
def text_burstiness(spark, sf_dir):
    """Token burstiness census (Church & Gale 1995, "Poisson mixtures";
    Katz 1996): the variance-to-mean ratio of each token's per-document
    count, zeros included — a Poisson-scattered token reads ≈1000
    permille, while content words CLUMP (one doc uses them many times,
    most never) and read far above it. The top-50 burstiest tokens with
    support ≥ 20; burstiness is the classic signal separating topical
    content words from function words at equal frequency, which
    frequency-only statistics (text_tfidf's df, text_zipf_slope) cannot
    see. Uses the algebraic identity Var/mean = Σx²/Σx − Σx/N, so the
    two floor-divided permille terms are exact integers in BOTH engines
    (the products promote to decimal(38,0)/HUGEINT first — Σx²·1000
    outgrows int64 on 100 TB corpora).

    100 TB: one (token, doc) rollup (the tokenize shuffle every corpus
    statistic pays), one token rollup, a 1-row doc-count broadcast, and
    a bounded global top-50 (TakeOrdered — the topk_global shape, never
    a full sort)."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = per_doc.groupBy("token").agg(
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    return (
        stats.filter(F.col("s") >= _BURST_MIN_TOTAL)
        .crossJoin(F.broadcast(nd))
        .select(
            "token",
            F.col("s").alias("n_occurrences"),
            F.col("df").alias("doc_freq"),
            F.expr(
                "CAST(CAST(1000 AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))"
                " div s"
                " - CAST(1000 AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))"
                " div n AS BIGINT)"
            ).alias("vmr_permille"),
        )
        .orderBy(F.col("vmr_permille").desc(), "token")
        .limit(_BURST_TOPK)
    )


@register(
    "text_heaps_curve",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, text,
               {md5_bucket_duck("doc_id", 10)} + 1 AS decile
        FROM documents
    ), tok AS (
        SELECT decile, unnest(string_split(text, ' ')) AS token FROM ranked
    ), per AS (
        SELECT decile, token, CAST(count(*) AS BIGINT) AS n
        FROM tok WHERE token <> '' GROUP BY 1, 2
    ), first_seen AS (
        SELECT token, CAST(min(decile) AS BIGINT) AS first_decile
        FROM per GROUP BY token
    ), tokens_per AS (
        SELECT decile, CAST(sum(n) AS BIGINT) AS n_tokens FROM per GROUP BY 1
    ), new_per AS (
        SELECT first_decile AS decile, CAST(count(*) AS BIGINT) AS new_types
        FROM first_seen GROUP BY 1
    )
    SELECT t.decile, t.n_tokens,
           coalesce(n.new_types, 0) AS new_types,
           CAST(sum(coalesce(n.new_types, 0)) OVER (
               ORDER BY t.decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_types,
           CAST(sum(t.n_tokens) OVER (
               ORDER BY t.decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
    FROM tokens_per t LEFT JOIN new_per n USING (decile)
    """,
)
def text_heaps_curve(spark, sf_dir):
    """Heaps'-law vocabulary growth curve (Heaps 1978; Herdan 1960): how
    many NEW word types each ~10%-of-corpus slice contributes, with the
    cumulative type and token counts that trace V(n) — the curve whose
    flattening rate answers "how much new vocabulary will the next 10 TB
    of crawl buy?" (the prospective complement to text_chao1_richness's
    point estimate of the unseen tail). Slices are content-hash buckets
    (the sampling.py hash-mod discipline — decile = md5(doc_id) mod 10),
    so the curve is reproducible, collection-order-free, and the
    assignment is a pure per-row projection: no global rank, no window,
    nothing sequential anywhere in the plan (actual slice sizes ride the
    cum_tokens column).

    All-exact: first-occurrence decile is a min() — no sequential scan
    over documents is ever needed, which is the whole trick: "new at
    slice k" ≡ "min slice containing the type is k", turning a
    seemingly-sequential statistic into two map-side-combinable rollups.

    100 TB: the (decile, token) rollup is the standard tokenize shuffle;
    first_seen collapses it vocab-sized; the cumulative windows ride the
    10-row decile table (bounded axis)."""
    d = load_table(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        "text",
        (md5_bucket("doc_id", 10) + 1)
        .cast("long")
        .alias("decile"),
    )
    per = (
        ranked.select(
            "decile", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("decile", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    tokens_per = per.groupBy("decile").agg(
        F.sum("n").cast("long").alias("n_tokens")
    )
    new_per = (
        per.groupBy("token")
        .agg(F.min("decile").cast("long").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tokens_per.join(F.broadcast(new_per), "decile", "left")
        .select(
            "decile",
            "n_tokens",
            F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
        )
        .withColumn(
            "cum_types", F.sum("new_types").over(w_cum).cast("long")
        )
        .withColumn(
            "cum_tokens", F.sum("n_tokens").over(w_cum).cast("long")
        )
    )
