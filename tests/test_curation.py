"""Oracle-parity + semantic tests for the corpus-curation extensions."""

from __future__ import annotations

import pytest

from data_integration_exercise_spark.operators import curation

from .parity import assert_parity

SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize("key", sorted(curation.ORACLES))
def test_parity(spark, key):
    assert_parity(spark, key)


def test_gopher_filter_actually_splits(spark):
    """A quality filter that keeps everything (or nothing) verifies nothing —
    the calibrated thresholds must split the corpus."""
    rows = curation.QUERIES["text_gopher_quality"](spark, SF).collect()
    kept = sum(r.keep for r in rows)
    assert 0 < kept < len(rows), f"filter kept {kept}/{len(rows)}"
    # every keep decision must equal the AND of its component flags
    assert all(
        r.keep == (r.flag_len and r.flag_mean_len and r.flag_ttr and r.flag_stop)
        for r in rows
    )


def test_repetition_permilles_are_bounded(spark):
    rows = curation.QUERIES["text_repetition_stats"](spark, SF).collect()
    assert all(0 <= r.top_tok_permille <= 1000 for r in rows)
    assert all(0 <= r.dup_bigram_permille < 1000 for r in rows)
    assert any(r.flag_repetitive for r in rows)
    assert not all(r.flag_repetitive for r in rows)


def test_domain_mix_shares_sum_near_1000(spark):
    """Integer-division shares under-count by < n_groups permille total."""
    rows = curation.QUERIES["text_domain_mix"](spark, SF).collect()
    tok_share = sum(r.tok_share_permille for r in rows)
    assert 1000 - len(rows) <= tok_share <= 1000
    assert sum(r.n_docs for r in rows) == 500


def test_mix_rebalance_rates_and_weights(spark):
    rows = curation.QUERIES["sample_mix_rebalance"](spark, SF).collect()
    assert 0 < len(rows) < 500  # downsampled, not pass-through
    for r in rows:
        assert r.rate_permille in {200, 350, 500, 650, 800}
        assert r.weight_x1000 == 1_000_000 // r.rate_permille
    # higher-rate sources keep a larger fraction of their docs
    from collections import Counter

    kept = Counter(r.rate_permille for r in rows)
    assert kept[800] > kept[200]


def test_containment_flags_smaller_doc(spark):
    rows = curation.QUERIES["dedup_containment_bigram"](spark, SF).collect()
    for r in rows:
        assert r.subsumed_doc in (r.doc1, r.doc2)
        assert 800 <= r.containment_permille <= 1000


def test_nearest_centroid_confusion_is_complete(spark):
    rows = curation.QUERIES["sim_nearest_centroid"](spark, SF).collect()
    assert sum(r.n_vectors for r in rows) == 500
    # label-derived centroids must self-assign far above the 10% chance
    # level (synthetic labels are only weakly clustered: measured 207/500)
    diag = sum(r.n_vectors for r in rows if r.label == r.assigned_label)
    assert diag >= 150, f"centroid assignment degenerate: diag={diag}/500"


def test_embedding_hygiene_flags_both_tails(spark):
    rows = curation.QUERIES["sim_embedding_hygiene"](spark, SF).collect()
    assert len(rows) == 500
    assert all(r.dim == 64 for r in rows)
    assert any(r.flag_low_norm for r in rows)
    assert any(r.flag_high_norm for r in rows)
    assert not any(r.flag_low_norm and r.flag_high_norm for r in rows)


def test_dq_checks_clean_corpus_passes(spark):
    rows = {r.check_name: r for r in curation.QUERIES["etl_dq_checks"](spark, SF).collect()}
    assert len(rows) == 8
    # driver testdata is referentially clean — the audit must agree
    assert rows["orders_orphan_custkey"].n_violations == 0
    assert rows["lineitem_orphan_orderkey"].n_violations == 0
    assert rows["orders_duplicate_pk"].n_violations == 0
    assert all(r.n_total > 0 for r in rows.values())


def test_forward_fill_is_dense_and_monotone(spark):
    rows = curation.QUERIES["etl_forward_fill"](spark, SF).collect()
    prios = {r.o_orderpriority for r in rows}
    # dense spine: 90 days x each priority
    assert all(
        sum(1 for r in rows if r.o_orderpriority == p) == 90 for p in prios
    )
    assert any(r.was_filled for r in rows)
    assert all(r.n_orders >= 0 for r in rows)


def test_pii_mask_suppression_is_consistent(spark):
    rows = curation.QUERIES["etl_pii_mask"](spark, SF).collect()
    for r in rows:
        assert r.suppressed == (r.group_n < 5)
        assert (r.name_hash == "*") == r.suppressed
        assert r.acctbal_band % 500 == 0
    assert any(r.suppressed for r in rows)
    assert any(not r.suppressed for r in rows)


def test_zscore_flags_are_symmetric_threshold(spark):
    rows = curation.QUERIES["win_zscore_outliers"](spark, SF).collect()
    # threshold 1.7: o_totalprice is near-uniform per priority, which bounds
    # |z| at sqrt(3) ~ 1.732. z is now derived from exact integer-cent
    # moments, so the only ambiguity left is the 4dp rounding of z itself:
    # a reported |z| of exactly 1.7000 could sit either side unrounded.
    for r in rows:
        if abs(r.z) > 1.7:
            assert r.is_outlier
        elif abs(r.z) < 1.7:
            assert not r.is_outlier
    assert any(r.is_outlier for r in rows)
    assert any(not r.is_outlier for r in rows)


def test_hashing_vectorizer_preserves_mass(spark):
    rows = curation.QUERIES["text_hashing_vectorizer"](spark, SF).collect()
    for r in rows:
        vec = [int(x) for x in r.vec.split(",")]
        assert len(vec) == 16
        assert sum(vec) == r.l1  # every token lands in exactly one bucket
        assert r.nnz == sum(1 for v in vec if v > 0)


def test_pii_scrub_leaves_no_pii_and_counts_vary(spark):
    """After scrubbing no phone/email pattern may survive, placeholders
    must appear exactly as often as the pre-scrub counts, and the second
    synthetic phone must make n_phones vary across rows."""
    import re

    rows = curation.QUERIES["text_pii_scrub"](spark, SF).collect()
    assert rows
    phone = re.compile(r"[0-9]{2,3}-[0-9]{3}-[0-9]{4}")
    email = re.compile(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+")
    for r in rows:
        assert not phone.search(r.scrubbed), r.scrubbed
        assert not email.search(r.scrubbed), r.scrubbed
        assert r.scrubbed.count("[PHONE]") == r.n_phones
        assert r.scrubbed.count("[EMAIL]") == r.n_emails
    assert {r.n_phones for r in rows} == {1, 2}


def test_semdedup_matches_numpy_reference(spark):
    """Full numpy replay at sf0.001: quantize, k = max(10, ceil(sqrt(n))),
    range-bin seed groups on the first quantized component, integer-mean
    centroids per seed bin, nearest-centroid assignment (tie -> lowest),
    within-cluster integer cosine rule, keeper = lowest id. Must match
    exactly."""
    import math

    import numpy as np

    from data_integration_exercise_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.vec_id: (r.cluster, r.dup_of, r.n_cluster_dups, r.max_cos2_bp)
        for r in curation.QUERIES["dedup_semdedup"](spark, sf).collect()
    }
    rows = load_table(spark, sf, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    q = np.floor(np.array([r.embedding for r in rows], dtype=np.float64) * 1000 + 0.5).astype(np.int64)
    def trunc_div(s, n):
        # Spark `div` and DuckDB integer `//` both truncate toward zero;
        # numpy floor_divide floors — not the same for negative sums.
        return np.sign(s) * (np.abs(s) // n)

    n = len(ids)
    k = max(10, math.isqrt(max(n - 1, 0)) + 1)
    lo, hi = int(q[:, 0].min()), int(q[:, 0].max())
    seed = (q[:, 0] - lo) * k // (hi - lo + 1)  # non-negative: // == div
    cents = {
        g: trunc_div(q[seed == g].sum(axis=0), (seed == g).sum())
        for g in sorted(set(seed.tolist()))
    }
    clabels = sorted(cents)
    cmat = np.stack([cents[c] for c in clabels])
    d2 = ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
    assign = np.array([clabels[j] for j in d2.argmin(axis=1)])  # argmin ties -> lowest index = lowest clabel
    n2 = (q * q).sum(axis=1)
    want = {}
    order = np.argsort(ids)
    for i in order:
        for j in order:
            if ids[i] >= ids[j] or assign[i] != assign[j]:
                continue
            dot = int(q[i] @ q[j])
            if dot > 0 and 25 * dot * dot >= 4 * int(n2[i]) * int(n2[j]):
                bp = (10000 * dot * dot) // (int(n2[i]) * int(n2[j]))
                c, d, n, m = want.get(ids[j], (assign[j], ids[i], 0, 0))
                want[ids[j]] = (assign[j], min(d, ids[i]), n + 1, max(m, bp))
    assert got == want and len(want) > 0


def test_ccnet_buckets_are_terciles_with_ordered_ranges(spark):
    """Per lang: three buckets whose sizes differ by at most 1 and sum to
    the doc count; head score range sits at-or-above middle, middle
    at-or-above tail (weak inequalities: ties can straddle a cut)."""
    out = curation.QUERIES["text_ccnet_buckets"](spark, SF).toPandas()
    docs = curation.QUERIES["text_bigram_lm_score"](spark, SF).toPandas()
    from data_integration_exercise_spark.io import load_table

    langs = load_table(spark, SF, "documents").toPandas()
    per_lang = langs.groupby("lang").size()
    for lang, g in out.groupby("lang"):
        assert set(g.bucket) == {"head", "middle", "tail"}
        assert g.n_docs.sum() == per_lang[lang]
        assert g.n_docs.max() - g.n_docs.min() <= 1
        gd = g.set_index("bucket")
        assert gd.loc["head", "min_logp_micro"] >= gd.loc["middle", "max_logp_micro"] - 0
        assert gd.loc["middle", "min_logp_micro"] >= gd.loc["tail", "max_logp_micro"] - 0
    assert len(docs) == per_lang.sum()


def test_corpus_curate_funnel_is_consistent_with_standalone_stages(spark):
    """n_raw >= n_quality >= n_unique per lang; per-lang split counts sum
    to n_unique; and the quality stage agrees with text_gopher_quality's
    own keep column."""
    out = curation.QUERIES["pipeline_corpus_curate"](spark, SF).toPandas()
    g = curation.QUERIES["text_gopher_quality"](spark, SF).toPandas()
    for lang, grp in out.groupby("lang"):
        a = grp.iloc[0]
        assert a.n_raw >= a.n_quality >= a.n_unique > 0
        assert grp.n_docs.sum() == a.n_unique
        assert (grp[["n_raw", "n_quality", "n_unique"]].nunique() == 1).all()
        assert a.n_quality == g[g.lang == lang]["keep"].sum()
    assert set(out.split) == {"train", "valid", "test"}


def test_backoff_score_dominates_pure_bigram(spark):
    """Interpolation with the unigram floor can only RAISE the score of a
    document relative to pure-bigram scoring when rare continuations
    exist, and both scores must correlate strongly (same corpus, same
    model family)."""
    from data_integration_exercise_spark.operators import curation

    back = (
        curation.QUERIES["text_lm_backoff_score"](spark, "/root/testdata/sf0.01")
        .toPandas()
        .set_index("doc_id")
    )
    pure = (
        curation.QUERIES["text_bigram_lm_score"](spark, "/root/testdata/sf0.01")
        .toPandas()
        .set_index("doc_id")
    )
    j = back.join(pure, lsuffix="_b", rsuffix="_p")
    assert (j.n_bigrams_b == j.n_bigrams_p).all()
    assert j.avg_logp_micro_b.corr(j.avg_logp_micro_p) > 0.9


def test_cluster_purity_ties_out_with_contingency(spark):
    """Purity rows must recompute exactly from the nearest-centroid
    contingency: per-cluster majority, sizes, and permille floor."""
    from data_integration_exercise_spark.operators import curation

    cells = (
        curation.QUERIES["sim_nearest_centroid"](spark, "/root/testdata/sf0.01")
        .toPandas()
    )
    pur = (
        curation.QUERIES["sim_cluster_purity"](spark, "/root/testdata/sf0.01")
        .toPandas()
        .set_index("assigned_label")
    )
    for cl, grp in cells.groupby("assigned_label"):
        top = grp.sort_values(["n_vectors", "label"], ascending=[False, True]).iloc[0]
        row = pur.loc[cl]
        assert row.n_cluster == grp.n_vectors.sum()
        assert row.majority_label == top.label and row.n_majority == top.n_vectors
        assert row.purity_permille == 1000 * top.n_vectors // grp.n_vectors.sum()
    assert pur.purity_permille.between(1, 1000).all()


def test_kl_drift_nonnegative_and_uniform_corpus(spark):
    """KL against the pooled corpus: 20 sources, each KL >= 0 up to the
    per-term floor truncation (bounded below by -V/(T_s+V) micro), and on
    this uniformly-generated corpus no source should drift far."""
    from data_integration_exercise_spark.operators import curation

    pdf = curation.QUERIES["text_kl_source_drift"](
        spark, "/root/testdata/sf0.01"
    ).toPandas()
    assert len(pdf) == 20
    assert (pdf.vocab_size == 31).all()
    # floor-truncation can push a true-zero KL slightly negative: bound it
    assert (pdf.kl_micro >= -1000).all()
    assert (pdf.kl_micro < 200_000).all()  # < 0.2 bits: same-distribution regime


def test_ivf_probe_geometry_curve_reads_as_ivf_theory(spark):
    """The nprobe planner table must read as IVF theory says: scanned
    fraction and recall both rise monotonically with probe depth, and
    probing every list IS exhaustive search — exactly full scan, exactly
    full recall, by construction rather than approximately."""
    rows = {
        r.nprobe: r
        for r in curation.QUERIES["plan_ivf_probe_geometry"](spark, SF).collect()
    }
    assert sorted(rows) == list(range(1, 9))
    nq = rows[1].n_queries
    assert nq > 0 and all(r.n_queries == nq for r in rows.values())
    for p in range(2, 9):
        assert rows[p].scanned_rows >= rows[p - 1].scanned_rows
        assert rows[p].truth_hits >= rows[p - 1].truth_hits
    assert rows[8].scanned_permille == 1000
    assert rows[8].recall_permille == 1000
    assert rows[8].truth_hits == 10 * nq
    # the tradeoff is real at the other end: the first probe reads only a
    # fraction of the corpus and recovers only part of the truth
    assert rows[1].scanned_permille < 1000
    assert 0 < rows[1].truth_hits < 10 * nq


def test_ivf_probe_geometry_matches_numpy_reference(spark):
    """Full numpy replay at sf0.001 — a third implementation independent of
    both engines: md5-ranked seeds, 3 truncating-div Lloyd iterations with
    (d2, cluster) argmin, final assignment, per-query centroid ranks,
    exact top-10 truth by (d2, id), and the cumulative nprobe sweep."""
    import hashlib

    import numpy as np

    from data_integration_exercise_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.nprobe: (r.n_queries, r.scanned_rows, r.scanned_permille,
                   r.truth_hits, r.recall_permille)
        for r in curation.QUERIES["plan_ivf_probe_geometry"](spark, sf).collect()
    }
    rows = load_table(spark, sf, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    q = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64) * 1000 + 0.5
    ).astype(np.int64)
    order = np.argsort(ids)
    ids, q = ids[order], q[order]

    def trunc_div(s, n):
        return np.sign(s) * (np.abs(s) // n)

    md5s = np.array([hashlib.md5(str(i).encode()).hexdigest() for i in ids])
    seed_rows = sorted(range(len(ids)), key=lambda i: (md5s[i], ids[i]))[:8]
    cents = {c: q[i].copy() for c, i in enumerate(seed_rows)}

    def assign(cents):
        cl = sorted(cents)
        cmat = np.stack([cents[c] for c in cl])
        d2 = ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        return np.array([cl[j] for j in d2.argmin(axis=1)]), d2, cl

    for _ in range(3):
        a, _, _ = assign(cents)
        cents = {
            c: trunc_div(q[a == c].sum(axis=0), int((a == c).sum()))
            for c in sorted(set(a.tolist()))
        }
    a, d2, cl = assign(cents)
    list_n = {c: int((a == c).sum()) for c in cl}
    qmask = ids % 7 == 0
    n_queries, n_corpus = int(qmask.sum()), len(ids)
    # crank[query_row][cluster] = 1-based rank of that cluster by (d2, id)
    crank = {}
    for i in np.where(qmask)[0]:
        ranked = sorted(cl, key=lambda c: (d2[i][cl.index(c)], c))
        crank[i] = {c: r + 1 for r, c in enumerate(ranked)}
    hits_by_rank = {}
    scan_by_rank = {}
    for i in np.where(qmask)[0]:
        for c in cl:
            scan_by_rank[crank[i][c]] = (
                scan_by_rank.get(crank[i][c], 0) + list_n[c]
            )
        pd2 = ((q - q[i]) ** 2).sum(axis=1)
        cand = [j for j in range(len(ids)) if j != i]
        top10 = sorted(cand, key=lambda j: (pd2[j], ids[j]))[:10]
        for j in top10:
            r = crank[i][a[j]]
            hits_by_rank[r] = hits_by_rank.get(r, 0) + 1
    want = {}
    for p in range(1, 9):
        sc = sum(v for r, v in scan_by_rank.items() if r <= p)
        ht = sum(v for r, v in hits_by_rank.items() if r <= p)
        want[p] = (
            n_queries,
            sc,
            1000 * sc // (n_queries * n_corpus),
            ht,
            1000 * ht // (10 * n_queries),
        )
    assert got == want


def test_ivfadc_recall_floors(spark):
    """sim_ann_ivfadc is approximate twice over — the nprobe=3/8 coarse
    restriction and the shared PQ distortion. Pin both honestly: against
    sim_adc_search's FULL-corpus ADC top-5 (isolating the IVF layer's
    cost) recall must hold ≥0.5 (measured 0.60 at sf0.01 — nprobe=3 is
    where the curve plateaus into the PQ floor), and the IVF result must
    be a consistent ADC ranking: every returned pair's adc_d2 must equal
    the full-ADC distance for that (probe, vec) when present there."""
    from data_integration_exercise_spark.operators import similarity

    full = {
        (r.probe_id, r.vec_id): r.adc_d2
        for r in similarity.QUERIES["sim_adc_search"](spark, SF).collect()
    }
    got = curation.QUERIES["sim_ann_ivfadc"](spark, SF).collect()
    got_pairs = {(r.probe_id, r.vec_id) for r in got}
    recall = len(got_pairs & set(full)) / len(full)
    assert recall >= 0.5, f"IVF layer recall vs full ADC collapsed: {recall}"
    for r in got:
        if (r.probe_id, r.vec_id) in full:
            assert r.adc_d2 == full[(r.probe_id, r.vec_id)], (
                f"ADC distance drifted between IVF and full scan for "
                f"({r.probe_id}, {r.vec_id})"
            )


def test_lloyd_centroids_keep_original_ids_when_a_cluster_empties(spark):
    """When a seed cluster loses all vectors (duplicate vectors among the
    seeds: the higher-id twin's cluster empties at the first argmin, which
    ties to the lowest cluster id), the SURVIVORS must keep their original
    cluster ids — renumbering by list index silently forks every later
    label and tie-break from the unrolled-CTE oracle.
    Replays the full trajectory in numpy with original-id bookkeeping and
    asserts the trained table and the assignment both match."""
    import hashlib

    import numpy as np

    from data_integration_exercise_spark.functions.vectors import lloyd_centroids

    # 8 vectors => all 8 seed; ids 3 and 5 share a vector, so the md5-later
    # twin's seed cluster provably empties after the first assignment.
    vecs = {
        0: [0, 0, 0, 0],
        1: [100, 0, 0, 0],
        2: [0, 100, 0, 0],
        3: [50, 50, 0, 0],
        4: [0, 0, 100, 0],
        5: [50, 50, 0, 0],
        6: [0, 0, 0, 100],
        7: [25, 25, 25, 25],
    }
    rows = [(i, "x", v) for i, v in vecs.items()]
    q = spark.createDataFrame(
        rows, "vec_id long, label string, qarr array<long>"
    )
    model = lloyd_centroids(q)

    ids = np.array(sorted(vecs))
    mat = np.stack([vecs[i] for i in ids]).astype("int64")
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    cents = {c: mat[order[c]].copy() for c in range(8)}

    def np_assign(cents):
        keys = sorted(cents)
        d2 = np.stack(
            [((mat - cents[c]) ** 2).sum(axis=1) for c in keys], axis=1
        )
        pick = d2.argmin(axis=1)  # first min -> lowest surviving cluster id
        return np.array([keys[p] for p in pick]), d2.min(axis=1)

    for _ in range(3):
        a, _ = np_assign(cents)
        new = {}
        for c in set(a.tolist()):
            mem = mat[a == c]
            s = mem.sum(axis=0)
            new[c] = np.sign(s) * (np.abs(s) // len(mem))
        cents = new
    assert len(cents) < 8, "construction must actually empty a cluster"

    expect_table = {c: [int(x) for x in v] for c, v in cents.items()}
    got_table = {c: list(v) for c, v in zip(model.ids, model.cents)}
    assert got_table == expect_table

    a, d = np_assign(cents)
    expect_assign = {int(i): (int(c), int(dd)) for i, c, dd in zip(ids, a, d)}
    got_assign = {
        r.vec_id: (r.cluster, r.d2) for r in model.assign().collect()
    }
    assert got_assign == expect_assign


def test_lloyd_n_total_counts_the_training_frame(spark):
    """|q| rides the training rollups, so block sizing reads the corpus
    size without a count() job; with 5 vectors and 8 seeds every vector
    seeds its own cluster."""
    from data_integration_exercise_spark.functions.vectors import lloyd_centroids

    q = spark.createDataFrame(
        [(i, "x", [i, 0]) for i in range(5)],
        "vec_id long, label string, qarr array<long>",
    )
    assert lloyd_centroids(q).n_total == 5
