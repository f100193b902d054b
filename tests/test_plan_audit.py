"""Physical-plan audit over the ENTIRE registry — the scale contract as a test.

Two invariants every registered key must hold at any data scale:

1. No ``CartesianProduct`` anywhere. An unconstrained cross join is the one
   plan shape that cannot survive a 100× scale-up; every intentional
   scalar-broadcast crossJoin in this repo plans as a
   BroadcastNestedLoopJoin with a 1-row broadcast side instead.
2. Python stays out of the hot path. Row-at-a-time Python
   (``BatchEvalPython``) is allowed ONLY in the two §2.11 contract demos;
   Arrow-batched Python (pandas UDF / applyInPandas / mapInPandas /
   mapInArrow) ONLY in the pinned set of operators whose semantics
   genuinely need it (SURVEY §2.10/§2.11). Everything else must stay
   whole-stage-codegen JVM.

Plans are built (not executed) at sf0.001 so eager-by-construction keys
(sinks, checkpointed loops) stay cheap; streaming keys are excluded —
building their frames runs the availableNow stream, and their micro-batch
internals are audited by the streaming tests.
"""

from __future__ import annotations

import re

import pytest

from data_integration_exercise_spark.plans.inspect import simple_plan
from data_integration_exercise_spark.registry import queries

# Row-at-a-time Python: exactly the §2.11 boundary demos, nothing else.
ROW_PYTHON_OK = {"udf_python_scalar", "udtf_python"}

# Arrow-batched Python: the pinned set whose semantics need a Python kernel
# (BLAS block matmul, stateful greedy selection, binary-payload codecs, the
# UDF contract surface itself). A key appearing here and nowhere else in
# the registry keeps the "UDFs are the slow path" rule honest.
ARROW_PYTHON_OK = {
    "udf_pandas_vectorized",
    "udf_pandas_iterator",
    "udf_map_in_arrow",
    "udf_grouped_train",
    "udaf_grouped_agg",
    "sim_topk_cosine",
    "plan_ivf_probe_geometry",
    "sim_ann_lsh",
    "sim_mmr_diversify",
    "agg_heavy_hitters",
    "multimodal_decode",
    "multimodal_resize",
    "multimodal_framesample",
    "multimodal_audio_energy",
}

_PYTHON_MARKS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "FlatMapGroupsInPandasWithState",
)


# Exact exchange counts for the headline plans, measured and pinned: a
# future edit that silently adds a shuffle (losing a broadcast, breaking
# exchange reuse, un-pushing a partial aggregate) fails here before it
# costs anything at the bench — shuffle count is THE number that survives
# a 1000-executor scale-up unchanged when wall-clock comparisons don't.
EXPECTED_EXCHANGES = {
    #                       (data shuffles, broadcast exchanges)
    "agg_pricing_summary": (1, 0),  # one partial->final agg shuffle
    "join_multiway_star": (1, 5),  # nation, ASIA region, ASIA suppliers,
    #   year-filtered orders and customer broadcast at this SF; 1 agg shuffle
    "win_topn_per_group": (1, 0),
    "agg_count_distinct": (2, 0),  # distinct expand + final agg
    "sim_topk_cosine": (1, 0),  # one label-block shuffle into the kernel
    "tpch_q9_product_profit": (1, 4),
    "events_sessionize": (1, 0),
    "join_broadcast_dim": (1, 2),
    "dedup_minhash_lsh": (4, 1),  # mask groupBy + the explicit doc_id
    #   fan-out repartition in _band_signatures (round-14 optimization: AQE
    #   coalescing was serializing the candidate expansion to one task)
    #   + the doc1-keyed shuffle into the top-3 ranking window (the r8
    #   output bounding, VERDICT r7 item 4); the fan-out exchange prints
    #   once per join side statically and reuses at runtime
    "dedup_minhash_keepers": (6, 1),  # +2 static prints of the same
    #   _band_signatures fan-out exchange (runtime-reused, see above)
    # Round-7 extension (VERDICT r6 item 5): the remaining top-20 most
    # expensive benched keys. Streaming keys are excluded — their returned
    # frame is a post-run re-read, so its plan says nothing about the
    # streaming work.
    "dedup_connected_components": (0, 0),  # loop fully localCheckpoint-backed:
    #   the returned plan must stay a checkpoint scan, never a live re-derive
    "graph_modularity": (9, 1),  # LPA loop unrolled + modularity rollup
    "dedup_lsh_pr_eval": (7, 3),  # banded cand agg + checkpointed truth path
    #   (+2 static prints of the _band_signatures fan-out, runtime-reused)
    "agg_bootstrap_ci": (2, 2),  # round-14: explicit replicate fan-out is
    #   one of the two (the other is the means rollup); the rank-2/rank-63
    #   consumers read the checkpointed ranked table, so the former
    #   duplicated expansion subtrees are checkpoint-backed
    "join_interval_overlap": (3, 0),
    "tpch_q8_market_share": (1, 7),  # all dims broadcast; 1 agg shuffle
    "graph_pagerank": (11, 0),  # fixed 5-iteration loop, 1 shuffle + rollup
    "dedup_soft_weights": (4, 2),  # distinct-mask rollup + banded pair
    #   stage + per-mask degree rollup off the localCheckpoint-ed mask
    #   build, re-attached to the documents spine by two broadcast joins
    #   (r14: was (8, 2) with the salted all-pairs self-join —
    #   sub-quadratic AND a leaner visible plan)
    "dedup_semdedup": (3, 0),  # cluster-blocked pairs off the
    #   localCheckpoint-ed n·k assignment (r14: probe + both join sides
    #   read the checkpoint, so the visible plan is the pair stage +
    #   rollup only; was (9, 2) with the assignment subtree inlined 3x)
    "agg_heavy_hitters": (3, 2),
    # Round-7 additions (pinned at birth, same insurance as the top-20):
    "sim_ann_graph": (6, 5),  # bucket join + 2 ranked windows + expand join
    #   (round-14: the bucket-pair distinct shuffle is gone — multi-band
    #   collisions dedup inside the join via the first-matching-band carry)
    "dedup_threshold_sweep": (5, 1),  # salted pairs + bounded-axis cumsum
    "win_stl_decompose": (1, 1),  # day rollup; seasonal rollup on checkpoint
    "win_theil_sen": (2, 2),  # month rollup; pairs on checkpointed series
    "agg_srm_check": (2, 0),  # distinct (user, segment) + cell rollup
    "win_holt_winters": (2, 0),  # day rollup + per-priority fold
    "events_user_lifecycle": (4, 1),  # distinct rollup, self-join, ledger
    "etl_wap_rollback": (0, 0),  # ledger of driver-side audit scalars;
    #   the audit/rename work is eager at construction, like the sinks
    "text_bigram_generate": (9, 36),  # 8 unrolled decode joins, each
    #   broadcasting the (checkpoint-shared) vocab-bounded successor table
    # Round-7 continuation additions (pinned at birth):
    "win_kalman_filter": (2, 0),  # day rollup + per-priority fold
    # Round-8 additions (pinned at birth). The large counts on the
    # cross-tab pair screens are ≤ r·c-row rollups off the checkpointed
    # cell tables (one fact-scan groupBy per pair is the only big pass;
    # the checkpoint materializes once at runtime) — plan-text lineage,
    # not data movement.
    "events_interarrival_stats": (2, 0),  # gap window + per-type rank
    "events_capture_recapture": (2, 0),  # (type,user) flags + type rollup
    "events_markov_entropy": (4, 3),  # user window, trans rollup, top pick
    "agg_cramers_v": (15, 9),  # 3 fact groupBys + cell-table mini-rollups
    "agg_mutual_information": (30, 21),  # 3 fact groupBys + MI/H mini-rollups
    "agg_ks_drift_bh": (1, 1),  # one (type,vu) rollup; BH rides m rows
    "win_pettitt_changepoint": (2, 0),  # daily rollup + rank/cumsum windows
    "win_sax_paa": (2, 0),  # daily rollup + segment windows
    "text_readability": (1, 0),  # single lang rollup, regex in codegen
    "text_spearman_length_vocab": (1, 0),  # lang-partitioned rank windows
    "text_rake_keyphrases": (3, 3),  # island cumsum + word/phrase rollups
    "mine_frequent_triples": (4, 3),  # basket rollup + triple/pair rollups
    "sim_centroid_classify": (5, 4),  # centroid/norm/dot rollups + argmax
    "events_burst_kleinberg": (2, 0),  # day rollup + per-type Viterbi fold
    "sim_silhouette_eval": (4, 1),  # centroid rollup bcast + a/b rollups
    "agg_tukey_fences": (2, 1),  # rank pass + broadcast quartile re-join
    "agg_calibration_ece": (1, 1),  # 10-bin rollup + 1-row ECE broadcast
    "win_bollinger_bands": (2, 0),  # day rollup + priority moment window
    "graph_neighborhood_function": (5, 5),  # ring rollups off BFS checkpoints
    "join_asof_nearest": (1, 0),  # both carries in ONE user-keyed window pass
    "agg_gini_split_screen": (24, 8),  # 4 feature screens + root off the
    #   checkpointed join (cell-table mini-rollups, one fact pass each)
    "agg_js_drift": (2, 1),  # (type,bin) rollup + |types|-row total join
    "sample_kfold_assignments": (2, 1),  # 5-fold rollup + 1-row total BNLJ
    "text_lexical_overlap": (3, 3),  # vocab distinct + pair join + sizes
    "events_tier_migration": (5, 2),  # user rollup + 2 count-domain
    #   distributions + matrix (stream_topk_per_window is streaming —
    #   excluded like the rest of §2.9)
    # Round-8 seventh/eighth waves (pinned at birth):
    "tpch_q5_local_supplier": (2, 5),  # join_multiway_star's plan: agg
    #   shuffle + the orderBy range exchange; same five broadcasts
    "win_rsi": (2, 0),  # day rollup + priority delta/sum window
    "agg_kendall_tau": (3, 1),  # monthly rollup, pair join, pair rollup
    "text_bigram_richness": (2, 0),  # (lang,bg) rollup + lang rollup
    "graph_trade_reciprocity": (3, 1),  # 75-edge mutual join + rollup +
    #   nation broadcast off the localCheckpoint-backed edge set (the
    #   fact-scale rollup underneath runs once, 9.5 → 3.6 s cold at sf0.1)
    "sample_systematic": (2, 1),  # range exchange + offsets rollup + bcast
    "events_markov_eval": (5, 1),  # trans window, train/test rollups, argmax
    "agg_lorenz_deciles": (4, 1),  # spend rollup, range exchange, offsets,
    #   decile rollup + broadcast back
    "graph_scc_condensation": (4, 0),  # post-checkpoint mutual join + scc
    #   rollups; the closure loop is localCheckpoint-backed (invisible here,
    #   the dedup_connected_components pattern)
    "sim_kmeans_lloyd": (3, 1),  # round-14 driver-side trainer: the final
    #   E-step is a map-only literal-argmin (no assignment window, no
    #   centroid broadcast); remaining shuffles are the size/label/majority
    #   rollups
    # Round-10 additions (pinned at birth):
    "plan_lsh_band_geometry": (2, 0),  # (cfg,key) bucket rollup + cfg rollup
    "dedup_exact_substring_coverage": (2, 1),  # span rollup + per-doc
    #   rollup, both off the round-14 checkpointed span stream (the fan-out
    #   exchange and one explode are behind the checkpoint scan); the
    #   count side broadcasts back onto the stream
    "sample_coreset_kcenter": (0, 0),  # round-15 driver-side chosen set
    #   (the lloyd_centroids bounded-probe pattern): the declared frame is
    #   a LocalRelation of the 8 picks + literal radius; each selection
    #   round ran as a map-only TakeOrdered(1) job at build time (the old
    #   frame-resident loop paid a crossJoin+groupBy shuffle and an eager
    #   checkpoint per round — pin was (2, 2))
    # Round-10 late wave (pinned at birth):
    "win_matrix_profile": (8, 2),  # monthly rollup + window/pair/rank
    #   rollups on the ~400-row series table
    "graph_hits": (2, 2),  # final hub/authority normalize off the
    #   checkpointed half-step rollups (the 3 mutual-recursion rounds are
    #   checkpoint-backed); was 566 exchanges before the per-half-step cut
    "etl_k_anonymity": (3, 1),  # spend rollup + cust⋈spend join + QI rollup
    "events_shapley_attribution": (2, 1),  # purchases⋈touches user join +
    #   coalition rollup + |channels| rollup
    "text_chao1_richness": (2, 0),  # (lang,token) wordcount +
    #   frequency-of-frequencies rollup
    "win_dtw_pairs": (4, 1),  # monthly rollup + series rollup + broadcast
    #   pair join; the DP is one codegen'd expression, no exchange
    "sample_pps_systematic": (3, 2),  # range exchange + offsets rollup +
    #   offsets/grid broadcasts
    "agg_eb_shrinkage": (3, 1),  # customer rollup + prior agg + 1-row bcast
    "agg_sprt_sequential": (2, 0),  # arm day rollup + bounded day windows
    "events_eventually_follows": (5, 2),  # (user,type) span rollup +
    #   user-keyed self-join + 25-row pair rollup + distinct-user count
    "text_burstiness": (3, 1),  # (token,doc) rollup + token rollup +
    #   1-row doc-count bcast; top-50 rides TakeOrdered
    "agg_bitmap_distinct": (2, 0),  # (priority,bucket) bitmap OR + popcount
    #   rollup — fixed-width shuffles, no Expand
    "sample_ht_estimate": (5, 3),  # PPS pick plan (range exchange +
    #   offsets) + truth rollup + est/offsets/grid broadcasts
    "graph_ppr": (11, 0),  # graph_pagerank shape: fixed 5-round loop over
    #   the checkpointed src-partitioned edge frame + per-round rollup
    "text_heaps_curve": (4, 1),  # (decile,token) rollup + first-seen and
    #   token rollups + 10-row broadcast; cumsums ride the decile table
    "agg_anova_f": (4, 1),  # 5-cell moments rollup + total agg + scalar
    #   algebra on the broadcast-joined cell frame
    "agg_ljung_box": (6, 7),  # the composed agg_acf_lags plan (day rollup
    #   + 7 lag-join broadcasts) + the 7-row Q rollup
    "agg_tost_equivalence": (2, 1),  # one (priority,arm) moments rollup +
    #   the 5-row A⋈B cell join (broadcast)
    # Round-11 additions (pinned at birth):
    "sim_ann_append": (5, 3),  # driver-side trainer: both the base final
    #   E-step and the new-batch assign are map-only literal argmins (no
    #   vec_id window, no centroid broadcast); remaining: occupancy/growth
    #   rollups + the two 1-row total aggs riding a broadcast BNLJ back
    #   onto the 8-row list table (the agg_calibration_ece pattern)
    "plan_ivf_probe_geometry": (9, 6),  # post-checkpoint arms only
    #   (training + the scored/member/crank frames are checkpoint-backed):
    #   lists rollup + the blocked-matmul truth arm (corpus/query union
    #   shuffled by block into applyInPandas, then the global top-10
    #   window) + hit/scan crank rollups + the two 8-row cumulative
    #   sweeps + the 1-row n_queries agg (n_corpus rides as a literal —
    #   the block-count scalar is already on the driver) broadcast back
    #   onto the probe table
    "dedup_minhash_openvocab": (2, 3),  # signature projection rides the
    #   scan (no rollup); the explicit doc_id repartition fans the 1-task
    #   single-file probe side out before the band explosion (117 s → 13 s
    #   at sf0.1, the salted_lang_pairs discipline) + the bounded top-3
    #   ranking window on doc1; (band,sig) bucket join + two token-set
    #   re-rank joins broadcast at this SF
}

_SHUFFLE_RE = re.compile(
    r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)"
)


@pytest.mark.parametrize("key", sorted(EXPECTED_EXCHANGES))
def test_headline_plan_exchange_counts_are_pinned(spark, key):
    plan = queries()[key](spark, "/root/testdata/sf0.01")._jdf.queryExecution().executedPlan().toString()
    got = (len(_SHUFFLE_RE.findall(plan)), plan.count("BroadcastExchange"))
    assert got == EXPECTED_EXCHANGES[key], (
        f"{key}: plan has {got[0]} shuffles / {got[1]} broadcasts, "
        f"expected {EXPECTED_EXCHANGES[key]} — a shuffle was added or a "
        "broadcast was lost; re-derive the plan before re-pinning"
    )


# Keys whose executed plans contain a PARTITION-LESS window — allowed only
# because each such window provably runs over a BOUNDED intermediate, never
# raw fact rows (the claim VERDICT r6 accepted from inspection; pinned here
# so a new global window can't slip in unnoticed). Representative bounds:
# calendar axes (win_moving_avg/range_frame/rolling_corr, agg_yoy_growth,
# agg_rollforward_balance, events_cumulative_reach/survival_km), the 31-word
# vocabulary (text_zipf_slope), the ≤11-step threshold axis
# (dedup_threshold_sweep), distinct-VALUE rollups orders smaller than users
# (events_rfm_segments), $1000 price-band bucket totals (agg_ks_test), the
# |partitions|-row offset table (etl_surrogate_keys), per-query candidate
# rankings (text_bm25_search, sim_hybrid_rrf — list-capped when index-served
# at scale, per docstrings), candidate top-k re-ranks (sim_ann_lsh/ivf), and
# final presentation-order rows (sort_multikey, win_percent_of_total).
# Windows inside localCheckpoint'd subtrees are invisible to this audit —
# the checkpoint truncates the visible plan — so this pins the visible set.
UNPARTITIONED_WINDOW_OK = {
    # agg_ks_drift_bh's m-row BH rank window is real but invisible here:
    # its input frame localCheckpoints (multi-consumer reuse), so the
    # audited plan ends at checkpoint scans — the dedup_connected_components
    # pattern. Documented in its docstring instead of whitelisted.
    "agg_ks_test",
    "agg_rollforward_balance",
    "agg_yoy_growth",
    "dedup_threshold_sweep",
    "etl_surrogate_keys",
    # |partitions|-row offset table (the etl_surrogate_keys decomposition)
    "sample_systematic",
    # |partitions|-row offset table (same decomposition, cents axis)
    "sample_pps_systematic",
    "sample_ht_estimate",  # same offsets decomposition inside the pick CTE
    # |partitions|-row offset table + 10-row decile cumulative axis
    "agg_lorenz_deciles",
    # sim_kmeans_lloyd needs no entry: its 8 seeds are one TakeOrdered
    # collect on the driver, not a ranking window, and the trained
    # centroids enter its audited plan as literal arrays.
    "events_cumulative_reach",
    "events_rfm_segments",
    "events_tier_migration",  # count-domain distribution axis (rfm precedent)
    "events_survival_km",
    "sim_ann_ivf",
    "sim_ann_lsh",
    "sim_hybrid_rrf",
    "sort_multikey",
    "text_bm25_search",
    "text_zipf_slope",
    "win_moving_avg",
    "agg_sprt_sequential",  # calendar-bounded day table (moving_avg contract)
    "text_heaps_curve",  # 10-row decile cumulative axis (lorenz precedent)
    "win_percent_of_total",
    "win_range_frame",
    "win_rolling_corr",
}

_WINDOWSPEC_RE = re.compile(r"windowspecdefinition\(([^)]*)\)")
# a windowspec with NO partition columns starts with an order spec or goes
# straight to the frame; a partitioned one leads with bare columns
_NO_PARTITION_RE = re.compile(r"^(\S+ (ASC|DESC) NULLS|specifiedwindowframe)")


def test_no_cartesian_product_and_python_stays_whitelisted(registry_built):
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    violations = []
    for key, (schema, plan) in registry_built.items():
        if plan is None:
            continue
        # The driver hashes result VALUES; raw array/map/struct/binary
        # columns hash engine-specifically (the round-5 hashing-vectorizer
        # landmine) — the house convention stringifies them before output.
        complex_cols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, BinaryType, StructType))
        ]
        if complex_cols:
            violations.append(f"{key}: complex-typed output columns {complex_cols}")
        if "CartesianProduct" in plan:
            violations.append(f"{key}: CartesianProduct in plan")
        if "BatchEvalPython" in plan and key not in ROW_PYTHON_OK:
            violations.append(f"{key}: row-at-a-time Python outside the §2.11 demos")
        if (
            any(m in plan for m in _PYTHON_MARKS)
            and key not in ROW_PYTHON_OK
            and key not in ARROW_PYTHON_OK
        ):
            marks = [m for m in _PYTHON_MARKS if m in plan]
            violations.append(f"{key}: unexpected Python stage {marks}")
    assert not violations, "\n".join(violations)


def test_unpartitioned_windows_stay_whitelisted(registry_built):
    """Every partition-less window in every non-streaming plan must belong
    to a key whitelisted above with a documented bounded axis — a global
    window over unbounded rows is a one-executor sort at 100 TB."""
    violations = []
    for key, (_, plan) in registry_built.items():
        if plan is None:
            continue
        flagged = any(
            _NO_PARTITION_RE.match(m.group(1))
            for m in _WINDOWSPEC_RE.finditer(plan)
        )
        if flagged and key not in UNPARTITIONED_WINDOW_OK:
            violations.append(key)
        if not flagged and key in UNPARTITIONED_WINDOW_OK:
            violations.append(f"{key} (stale whitelist entry)")
    assert not violations, violations


def test_salting_spreads_hot_key(spark):
    """Adversarial check on the explicit salting treatment (VERDICT r7
    item 7): join_skew_salted's fact side concentrates ~70% of rows on
    key 0; after the (k, salt) re-key, NO single join group may hold more
    than ~1/8th of the hot key (the salt fans the hot key across 8
    groups), and the salted join's result must equal the plain unsalted
    join bit-for-bit."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table
    from data_integration_exercise_spark.operators import joins

    sf = "/root/testdata/sf0.01"
    li = load_table(spark, sf, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_orderkey") % 100)
        .alias("k"),
        (F.col("l_orderkey") % 8).alias("salt"),
    )
    sizes = {
        (r.k, r.salt): r.n
        for r in fact.groupBy("k", "salt").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    hot_total = sum(n for (k, _), n in sizes.items() if k == 0)
    hot_groups = [n for (k, _), n in sizes.items() if k == 0]
    assert len(hot_groups) == 8, "salt must fan the hot key into 8 groups"
    # l_orderkey % 8 is near-uniform, so no salted group should exceed
    # 1/8th of the hot key by more than 25%
    assert max(hot_groups) <= hot_total / 8 * 1.25, (hot_total, hot_groups)

    # exactness: the salted join result equals the plain unsalted join
    salted = {
        (r.payload, r.n, r.total)
        for r in joins.QUERIES["join_skew_salted"](spark, sf).collect()
    }
    dim = spark.range(100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("grp_"), (F.col("id") % 5).cast("string")).alias("payload"),
    )
    plain = {
        (r.payload, r.n, r.total)
        for r in load_table(spark, sf, "lineitem")
        .select(
            F.when(F.col("l_orderkey") % 10 < 7, F.lit(0))
            .otherwise(F.col("l_orderkey") % 100)
            .alias("k"),
            "l_extendedprice",
        )
        .join(dim, "k")
        .groupBy("payload")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("total"),
        )
        .collect()
    }
    assert salted == plain


def test_aqe_skew_join_splits_hot_partition(spark):
    """Adversarial AQE-skew test (VERDICT r7 item 7): a sort-merge join
    whose probe side puts ~90% of sf0.1's lineitem on ONE key must make
    AQE's OptimizeSkewedJoin split the hot partition — the final adaptive
    plan carries the skew=true marker — and the result must equal a
    broadcast-join reference computed without any skew handling. This is
    the automatic 100×-scale mechanism the explicit salting operator
    complements; thresholds are lowered because local sf0.1 partitions are
    megabytes, not the 256 MB production default."""
    from pyspark.sql import functions as F

    from data_integration_exercise_spark.io import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
    }
    prior = {}
    for k, v in confs.items():
        try:
            prior[k] = spark.conf.get(k)
        except Exception:
            prior[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
        # repartition(16) gives the join shuffle enough mappers that the
        # skew split has mapper ranges to cut at
        fact = li.repartition(16).select(
            F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
            .otherwise(F.col("l_orderkey") % 100)
            .alias("k"),
            "l_extendedprice",
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        )
        agg = (
            fact.join(dim, "k")
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_extendedprice"), 2).alias("t"),
            )
        )
        skewed = sorted((r.g, r.n, r.t) for r in agg.collect())
        plan = simple_plan(agg)
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    ref = (
        fact.join(F.broadcast(dim), "k")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("t"),
        )
    )
    assert skewed == sorted((r.g, r.n, r.t) for r in ref.collect())
