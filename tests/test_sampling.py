"""Oracle parity + invariants for the deterministic sampling operators."""

from __future__ import annotations

import pytest

from data_integration_exercise_spark.io import load_table
from data_integration_exercise_spark.operators import sampling

from .conftest import SF_SMOKE
from .parity import assert_parity

SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize("key", sorted(sampling.ORACLES))
def test_parity(spark, key):
    assert_parity(spark, key)


def test_hash_mod_rate_is_sane(spark):
    """~10% sample: rate within [5%, 15%] of the base table."""
    from data_integration_exercise_spark.io import load_table

    n_all = load_table(spark, SF, "orders").count()
    n_sample = sampling.QUERIES["sample_hash_mod"](spark, SF).count()
    assert 0.05 * n_all <= n_sample <= 0.15 * n_all, (n_sample, n_all)


def test_stratified_sample_is_nested(spark):
    """Bucket-based rates are nested: the 5% bucket (0) is a subset of the
    20% buckets (0..3), so every non-BUILDING sampled key must also appear
    if its segment were widened to 4 buckets — equivalently, all sampled
    non-BUILDING keys fall in bucket 0."""
    pdf = sampling.QUERIES["sample_stratified"](spark, SF).toPandas()
    import hashlib

    for _, row in pdf.iterrows():
        bucket = (
            int(hashlib.md5(str(row.c_custkey).encode()).hexdigest()[:4], 16) % 20
        )
        limit = 4 if row.c_mktsegment == "BUILDING" else 1
        assert bucket < limit, (row.c_custkey, row.c_mktsegment, bucket)


def test_k_per_stratum_sizes(spark):
    """Exactly 5 rows per segment (every segment has ≥5 customers)."""
    pdf = sampling.QUERIES["sample_k_per_stratum"](spark, SF).toPandas()
    sizes = pdf.groupby("c_mktsegment").size()
    assert (sizes == 5).all(), sizes.to_dict()


def test_priority_sample_favors_heavy_weights_and_is_stable(spark):
    """k=100 of the highest w/u priorities: the sampled mean order value
    must exceed the population mean (weighted sampling), the result must
    be identical across two runs with different partitioning, and
    priorities are >= the weight itself (u <= 1)."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table

    out = sampling.QUERIES["sample_priority_topk"](spark, SF).toPandas()
    assert len(out) == 100
    pop_mean = (
        load_table(spark, SF, "orders").agg(F.avg("o_totalprice")).first()[0]
    )
    assert out.o_totalprice.mean() > pop_mean
    # priority = w/u with u <= 1, so floor(priority) >= cents - 1
    assert (out.priority_floor >= (out.o_totalprice * 100).round() - 1).all()
    again = sampling.QUERIES["sample_priority_topk"](spark, SF).toPandas()
    assert (out.o_orderkey.values == again.o_orderkey.values).all()


def test_balanced_classes_equalizes_to_minority_count(spark):
    """Every class must end at exactly the measured minority size, and
    kept rows are a subset of the original table."""
    from data_integration_exercise_spark.io import load_table

    out = sampling.QUERIES["sample_balanced_classes"](spark, SF).toPandas()
    orig = load_table(spark, SF, "documents").toPandas()
    minority = orig.groupby("lang").size().min()
    sizes = out.groupby("lang").size()
    assert (sizes == minority).all() and len(sizes) == orig.lang.nunique()
    assert set(out.doc_id) <= set(orig.doc_id)


def test_temperature_mix_upweights_low_resource_langs(spark):
    """The √n quota must give minority languages a LARGER share of the mix
    than their raw corpus share, majority languages a smaller one, and
    per-lang counts must equal the integer quota exactly."""
    import math

    from data_integration_exercise_spark.io import load_table

    out = sampling.QUERIES["sample_temperature_mix"](spark, SF).toPandas()
    orig = load_table(spark, SF, "documents").toPandas()
    n = orig.groupby("lang").size()
    sl = {la: math.floor(math.sqrt(v)) for la, v in n.items()}
    S = sum(sl.values())
    got = out.groupby("lang").size()
    for la in n.index:
        assert got.get(la, 0) == (300 * sl[la]) // S
    total_out = got.sum()
    for la in n.index:
        raw_share = n[la] / n.sum()
        mix_share = got[la] / total_out
        if raw_share < 1 / len(n):
            assert mix_share > raw_share, (la, raw_share, mix_share)
    big = n.idxmax()
    assert got[big] / total_out < n[big] / n.sum()


def test_token_budget_mix_invariants(spark):
    """The epoch plan never exceeds the 4-epoch cap, caps exactly when the
    uncapped allocation would, and never plans more than the target."""
    rows = sampling.QUERIES["sample_token_budget_mix"](spark, SF).collect()
    assert rows, "plan table empty"
    for r in rows:
        assert 0 < r.epochs_permille <= 4000
        assert r.capped == (1000 * r.target_tokens // r.avail_tokens > 4000)
        assert r.planned_tokens <= r.target_tokens
        assert r.planned_tokens == r.avail_tokens * r.epochs_permille // 1000
    # the budget is 150% of the corpus: at least one lang must repeat (>1
    # epoch) for the plan to be meaningful
    assert any(r.epochs_permille > 1000 for r in rows)


def test_importance_estimate_within_sampling_error(spark):
    """The HT estimate must land within a plausible band of the truth
    (~10% sample of 15k rows ⇒ relative error well under 10%), and the
    emitted error must be the exact recomputed permille."""
    from data_integration_exercise_spark.operators import sampling

    r = sampling.QUERIES["sample_importance_estimate"](
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert r.n_total == 15000
    assert 0.05 < r.n_sample / r.n_total < 0.15
    assert (
        r.abs_error_permille
        == 1000 * abs(r.estimated_total_cents - r.true_total_cents) // r.true_total_cents
    )
    assert r.abs_error_permille < 100


def test_negative_sampling_exclusion_and_quota(spark):
    """Negatives must NEVER collide with positives (the anti-join
    guarantee), each customer gets min(2, 25 - n_pos) negatives, and the
    draw is deterministic across reruns."""
    from data_integration_exercise_spark.operators import sampling

    pdf = (
        sampling.QUERIES["sample_negatives"](spark, "/root/testdata/sf0.01")
        .toPandas()
    )
    pos = pdf[pdf.label == 1]
    neg = pdf[pdf.label == 0]
    pk = set(map(tuple, pos[["o_custkey", "p_brand"]].values))
    nk = set(map(tuple, neg[["o_custkey", "p_brand"]].values))
    assert not (pk & nk)
    n_pos = pos.groupby("o_custkey").size()
    n_neg = neg.groupby("o_custkey").size()
    for cust, k in n_neg.items():
        expect = min(2, 25 - n_pos.get(cust, 0))
        assert k == expect, (cust, k, expect)
    # rerun: identical draw
    pdf2 = (
        sampling.QUERIES["sample_negatives"](spark, "/root/testdata/sf0.01")
        .toPandas()
    )
    assert set(map(tuple, pdf2[pdf2.label == 0][["o_custkey", "p_brand"]].values)) == nk


def test_neyman_allocation_tracks_variance(spark):
    """Allocations must sum to ≈ the budget (truncation only), shares to
    ≈ 1e6 ppm, and the stratum with the largest N_h·sd must get the
    largest allocation."""
    from data_integration_exercise_spark.operators import sampling

    pdf = sampling.QUERIES["sample_neyman_allocation"](
        spark, "/root/testdata/sf0.01"
    ).toPandas()
    assert len(pdf) == 5
    assert (pdf.sd_cents > 0).all()
    assert 200 - 5 <= pdf.alloc_n.sum() <= 200
    assert 1_000_000 - 5 <= pdf.alloc_share_ppm.sum() <= 1_000_000
    w = pdf.n_stratum * pdf.sd_cents
    assert pdf.loc[w.idxmax(), "alloc_n"] == pdf.alloc_n.max()


def test_kfold_partitions_and_balances(spark):
    """The 5 folds partition the table exactly, sizes are near-equal
    (hash uniformity), per-class counts sum to the class totals, and a
    re-run is bit-identical (content-hash determinism)."""
    import duckdb

    pdf = (
        sampling.QUERIES["sample_kfold_assignments"](spark, SF)
        .toPandas()
        .sort_values("fold")
        .reset_index(drop=True)
    )
    assert list(pdf.fold) == [0, 1, 2, 3, 4]
    con = duckdb.connect()
    n, nf, no, np_ = con.execute(
        f"""
        SELECT count(*),
               count(*) FILTER (o_orderstatus = 'F'),
               count(*) FILTER (o_orderstatus = 'O'),
               count(*) FILTER (o_orderstatus = 'P')
        FROM '{SF}/orders.parquet'
        """
    ).fetchone()
    assert pdf.n_orders.sum() == n
    assert (pdf.n_status_f.sum(), pdf.n_status_o.sum(), pdf.n_status_p.sum()) == (nf, no, np_)
    assert (pdf.share_permille == 1000 * pdf.n_orders // n).all()
    assert pdf.n_orders.max() < 1.15 * pdf.n_orders.min()
    again = (
        sampling.QUERIES["sample_kfold_assignments"](spark, SF)
        .toPandas()
        .sort_values("fold")
        .reset_index(drop=True)
    )
    assert pdf.equals(again)


def test_systematic_exact_grid_size(spark):
    """Systematic 1-in-100 yields EXACTLY ceil(N/100) rows — the property
    that distinguishes it from Bernoulli/hash-mod sampling."""
    import math

    import pandas as pd

    n = len(pd.read_parquet(f"{SF}/orders.parquet", columns=["o_orderkey"]))
    rows = sampling.QUERIES["sample_systematic"](spark, SF).collect()
    assert len(rows) == math.ceil(n / 100)


def test_systematic_matches_naive_global_rank(spark):
    """The range-partition + offset decomposition must select the SAME key
    set as the naive md5-sorted global row_number computed in pandas."""
    import hashlib

    import pandas as pd

    o = pd.read_parquet(f"{SF}/orders.parquet", columns=["o_orderkey"])
    o["h"] = o.o_orderkey.map(
        lambda k: hashlib.md5(str(k).encode()).hexdigest()
    )
    ranked = o.sort_values(["h", "o_orderkey"]).reset_index(drop=True)
    expect = set(ranked.o_orderkey[:: 100])
    got = {
        r.o_orderkey
        for r in sampling.QUERIES["sample_systematic"](spark, SF).collect()
    }
    assert got == expect


def test_kcenter_passes_null_label_through(spark, tmp_path):
    """Degenerate input: a chosen center whose label is null comes back
    with a null label (not a driver-side TypeError), and the selection
    still matches the oracle."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_integration_exercise_spark.schemas import TABLES

    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    tbl = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    ids = tbl.column("vec_id").to_pylist()
    # the k-center seed: the hash-smallest vec_id
    seed = min(ids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v))
    i = tbl.schema.get_field_index("label")
    labels = [
        None if v == seed else lab
        for v, lab in zip(ids, tbl.column(i).to_pylist())
    ]
    tbl = tbl.set_column(i, tbl.schema.field(i), pa.array(labels, tbl.schema.field(i).type))
    pq.write_table(tbl, tmp_path / "embeddings.parquet")

    rows = sampling.QUERIES["sample_coreset_kcenter"](spark, str(tmp_path)).collect()
    assert {r.vec_id: r.label for r in rows}[seed] is None
    assert_parity(spark, "sample_coreset_kcenter", str(tmp_path))


def test_kcenter_greedy_invariants(spark):
    """The k-center trajectory must satisfy the greedy definition: a pure
    numpy replay of farthest-point traversal from the same hash seed picks
    the identical center sequence, and the reported coverage radius equals
    max-over-vectors min-d2 to the chosen set."""
    import hashlib

    import numpy as np

    from data_integration_exercise_spark.io import load_table
    from data_integration_exercise_spark.operators import sampling

    SF = "/root/testdata/sf0.01"
    rows = sorted(
        sampling.QUERIES["sample_coreset_kcenter"](spark, SF).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, sampling._KCENTER_K + 1))
    radius = {r.coverage_radius_d2 for r in rows}
    assert len(radius) == 1
    radius = radius.pop()

    pdf = load_table(spark, SF, "embeddings").select("vec_id", "embedding").toPandas()
    ids = pdf.vec_id.to_numpy()
    q = np.floor(
        np.stack(pdf.embedding.map(np.asarray).to_numpy()).astype(np.float64) * 1000
        + 0.5
    ).astype(np.int64)
    seed_pos = min(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    chosen = [seed_pos]
    min_d2 = ((q - q[seed_pos]) ** 2).sum(axis=1)
    for _ in range(sampling._KCENTER_K - 1):
        # argmax of (min_d2, -vec_id): farthest first, smallest id on ties
        best = max(range(len(ids)), key=lambda i: (min_d2[i], -ids[i]))
        chosen.append(best)
        min_d2 = np.minimum(min_d2, ((q - q[best]) ** 2).sum(axis=1))
    assert [r.vec_id for r in rows] == [int(ids[i]) for i in chosen]
    assert radius == int(min_d2.max())


def test_pps_systematic_budget_and_size_bias(spark):
    """The PPS grid must spend its budget exactly (Σ n_hits = 100 — every
    grid point lands in exactly one order's cumulative slice), no order
    can absorb more points than its value spans (n_hits ≤ cents/step + 1),
    and the sampled orders' mean value must exceed the population mean —
    the size bias that IS the design."""
    import duckdb

    pdf = sampling.QUERIES["sample_pps_systematic"](spark, SF).toPandas()
    pop = duckdb.sql(
        """
        SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS t,
               count(*) AS n
        FROM '/root/testdata/sf0.01/orders.parquet'
        """
    ).df().iloc[0]
    t, n = int(pop.t), int(pop.n)
    step = t // 100
    assert int(pdf.n_hits.sum()) == 100
    assert (pdf.n_hits <= pdf.cents // step + 1).all()
    assert len(pdf) <= 100
    assert pdf.cents.mean() > t / n  # size-biased by construction


def test_ht_estimate_self_weighting_conservation(spark):
    """PPS is self-weighting for its own size variable: the revenue
    estimates must sum to exactly 100·(T div 100) across priorities
    (the whole grid's credit, floor loss < 100 cents), and every
    estimate column must be non-negative with truth rows for all 5
    priorities present."""
    import duckdb

    pdf = sampling.QUERIES["sample_ht_estimate"](spark, SF).toPandas()
    t = int(
        duckdb.sql(
            """
            SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
            FROM '/root/testdata/sf0.01/orders.parquet'
            """
        ).df().iloc[0, 0]
    )
    assert len(pdf) == 5
    assert int(pdf.est_revenue_cents.sum()) == (t // 100) * 100
    assert (pdf.est_orders_micro >= 0).all()
    assert (pdf.true_orders > 0).all()
    # count estimator sanity: the total estimate lands within 3x of truth
    est_total = pdf.est_orders_micro.sum() / 1_000_000
    true_total = pdf.true_orders.sum()
    assert 0.3 * true_total < est_total < 3 * true_total


def test_weighted_reservoir_bias_and_shape(spark):
    """A-ES invariants: (a) exactly K=32 rows per flag, ranks 1..K dense;
    (b) the weighting works — heavier rows are proportionally likelier,
    so the sampled mean weight must sit well above the corpus mean
    (size-biased expectation E[w^2]/E[w] ~ 33.7 vs E[w] ~ 25.5 on the
    uniform-1..50 quantity; the margin of +3 is > 2 sigma of the K*5
    sample and the draw is md5-deterministic anyway); (c) the A-ES key
    is within the 48-bit hash domain."""
    from pyspark.sql import functions as F

    rows = sampling.QUERIES["sample_weighted_reservoir"](spark, SF).collect()
    by_flag = {}
    for r in rows:
        by_flag.setdefault(r.l_returnflag, []).append(r)
        assert 1 <= r.w <= 50
        assert 0 <= r.skey < (1 << 48)
    for flag, grp in by_flag.items():
        assert sorted(r.smp_rank for r in grp) == list(
            range(1, len(grp) + 1)
        ), flag
        assert len(grp) == 32, flag
    sampled_mean = sum(r.w for r in rows) / len(rows)
    li = load_table(spark, SF, "lineitem")
    corpus_mean = li.agg(F.avg("l_quantity")).first()[0]
    assert sampled_mean > corpus_mean + 3, (
        f"weighted sample not size-biased: {sampled_mean} vs {corpus_mean}"
    )


def test_epoch_shuffle_is_a_family_of_distinct_permutations(spark):
    """Epoch-shuffle invariants: (a) each epoch covers every doc exactly
    once (a permutation, not a sample); (b) positions are dense 1..n
    within each (epoch, shard); (c) epochs genuinely differ — no two
    epochs produce the identical (shard, pos) placement for all docs;
    (d) shards are roughly balanced (no shard > 2x the ideal share)."""
    rows = sampling.QUERIES["sample_epoch_shuffle"](spark, SF).collect()
    from collections import defaultdict

    by_epoch = defaultdict(dict)
    by_es = defaultdict(list)
    for r in rows:
        by_epoch[r.epoch][r.doc_id] = (r.shard, r.pos)
        by_es[(r.epoch, r.shard)].append(r.pos)
    n_docs = len({r.doc_id for r in rows})
    assert sorted(by_epoch) == [0, 1, 2]
    for e, placing in by_epoch.items():
        assert len(placing) == n_docs, e
    for (e, s), poss in by_es.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), (e, s)
        assert len(poss) <= 2 * (n_docs // 8 + 1), (e, s, len(poss))
    assert by_epoch[0] != by_epoch[1] and by_epoch[1] != by_epoch[2]


def test_token_stream_batches_fill_exactly(spark):
    """Token-stream layout invariants: (a) every non-terminal batch in a
    shard is filled to EXACTLY the 1024-token budget (fill < budget
    anywhere else means the layout dropped tokens); (b) per shard the
    batch ids are dense 0..max; (c) total tokens across batches equals
    the corpus token count (div-4+1 proxy) exactly — carryover docs are
    counted by OVERLAP, never double-counted; (d) every batch holds at
    least one doc."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    rows = sampling.QUERIES["sample_token_stream_batches"](spark, SF).collect()
    by_shard = defaultdict(dict)
    for r in rows:
        by_shard[r.shard][r.batch_id] = r
        assert r.n_docs >= 1 and 0 <= r.n_carryover <= 1, r
    total = 0
    for shard, batches in by_shard.items():
        last = max(batches)
        assert sorted(batches) == list(range(last + 1)), shard
        for b, r in batches.items():
            total += r.tokens_in_batch
            if b < last:
                assert r.tokens_in_batch == 1024, (shard, b, r)
            else:
                assert 1 <= r.tokens_in_batch <= 1024, (shard, b, r)
    corpus_tokens = (
        load_table(spark, SF, "documents")
        .select((F.floor(F.col("n_chars") / 4) + 1).alias("t"))
        .agg(F.sum("t"))
        .first()[0]
    )
    assert total == corpus_tokens
