"""Plan-shape regression tests (SURVEY §4): the 100 TB design rests on
specific physical properties — dims broadcast, filters reach the scan,
top-k never globally sorts, latest-wins uses the group-limit pushdown.
These assert the optimizer still produces those plans."""

from __future__ import annotations

import pytest

import os

_FULL_SUITE = os.environ.get("SPARK_GRAFT_FULL_PARITY", "") == "1"
_HEAVY_SWEEP = pytest.mark.skipif(
    not _FULL_SUITE,
    reason="whole-registry/integration sweep — runs with SPARK_GRAFT_FULL_PARITY=1 "
    "(cross-round guard, not a per-commit gate; see OPTIMIZATION_r14.md task #4)",
)

from hive_backend_spark import plans as P
from hive_backend_spark.registry import all_queries


def _df(spark, sf_dir, name):
    return all_queries()[name].fn(spark, sf_dir)


def test_topk_is_take_ordered(spark, sf_dir):
    """q01: filter+sort+limit must compile to TakeOrderedAndProject (no
    global sort materialization) with the type filter pushed to parquet."""
    df = _df(spark, sf_dir, "q01_priority_dequeue")
    P.assert_plan(df, requires=["TakeOrderedAndProject"], forbids=["Exchange"])
    assert any("event_type" in f for f in P.pushed_filters(df))


def test_star_joins_broadcast(spark, sf_dir):
    """q41/q42: every dimension join must be a BroadcastHashJoin; no
    sort-merge join should appear at these sizes."""
    for name in ("q41_shipping_priority", "q42_local_supplier_volume"):
        df = _df(spark, sf_dir, name)
        P.assert_plan(df, requires=["BroadcastHashJoin"], forbids=["SortMergeJoin"])


def test_date_filters_reach_scan(spark, sf_dir):
    """q40/q41: the date predicates must appear in PushedFilters, not as
    post-scan filters only."""
    q40 = _df(spark, sf_dir, "q40_pricing_summary")
    assert any("l_shipdate" in f for f in P.pushed_filters(q40))
    q41 = _df(spark, sf_dir, "q41_shipping_priority")
    assert any("o_orderdate" in f for f in P.pushed_filters(q41))


def test_column_pruning(spark, sf_dir):
    """q40 reads only the 7 lineitem columns it uses — a scan reading all
    16 would be wrong (ReadSchema is the evidence)."""
    df = _df(spark, sf_dir, "q40_pricing_summary")
    (schema,) = P.read_schemas(df)
    assert "l_comment" not in schema and "l_partkey" not in schema
    assert "l_extendedprice" in schema


def test_latest_wins_uses_group_limit(spark, sf_dir):
    """q14: rank<=1 window dedup must use the WindowGroupLimit pushdown
    (partial top-1 per key before the shuffle)."""
    df = _df(spark, sf_dir, "q14_latest_wins")
    P.assert_plan(df, requires=["WindowGroupLimit"])


def test_semi_join_no_aggregation_inflation(spark, sf_dir):
    """q44: the EXISTS probe must broadcast the filtered orders slice into
    the lineitem scan (a semi join could only broadcast lineitem, so it
    would shuffle BOTH sides on the order key). The fact side must never
    hit an Exchange before the join: the only shuffles allowed are the two
    post-join aggregates over qualifying-order rows."""
    df = _df(spark, sf_dir, "q44_order_priority_check")
    P.assert_plan(df, requires=["BroadcastHashJoin"], forbids=["SortMergeJoin"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2, plan

def test_bucketed_join_elides_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides of the orders-lineitem join on the order key
    removes the per-query Exchange entirely (the pre-shuffled layout is the
    point: pay once at write, win on every join)."""
    from pyspark.sql import functions as F

    from hive_backend_spark.catalog import load_table
    from hive_backend_spark.operators import bucketing as B

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    # At fixture scale Catalyst rightly prefers broadcast; disable it so the
    # plan shows what a big-big join does at 100 TB, where broadcast is off
    # the table and bucketing is what removes the Exchange.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        B.write_bucketed(orders, "orders_b", ["o_orderkey"], 8)
        B.write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", ["o_orderkey"], 8
        )
        joined = B.bucketed_join(spark, "orders_b", "lineitem_b", ["o_orderkey"])
        agg = joined.groupBy().agg(F.sum("l_quantity"))
        P.assert_plan(joined, requires=["SortMergeJoin"], forbids=["Exchange"])
        # and the result matches the plain join
        plain = orders.join(li, orders.o_orderkey == li.l_orderkey)
        assert joined.count() == plain.count()
        assert agg.collect() == plain.groupBy().agg(F.sum("l_quantity")).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_sessionize_single_shuffle(spark, sf_dir):
    """q57: lag + running-sum + session rollup must share ONE user_id
    exchange — a second shuffle would mean the window partitioning isn't
    being reused and the operator re-hashes |events| rows at 100 TB."""
    df = _df(spark, sf_dir, "q57_sessionize")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_snowflake_join_all_broadcast(spark, sf_dir):
    """q19: the 6-table snowflake must broadcast every dimension side; a
    SortMergeJoin at these dim sizes means a needless fact-side shuffle."""
    df = _df(spark, sf_dir, "q19_nation_trade_volume")
    P.assert_plan(df, requires=["BroadcastHashJoin"], forbids=["SortMergeJoin"])


def test_hash_sample_is_scan_side(spark, sf_dir):
    """q75: deterministic sampling must stay a shuffle-free narrow plan —
    the whole point of hash-based membership is that it's a map-only
    filter that composes with any downstream partitioning."""
    df = _df(spark, sf_dir, "q75_hash_sample")
    P.assert_plan(df, forbids=["Exchange"])


def test_market_share_single_fact_shuffle(spark, sf_dir):
    """q91: the seven-table snowflake must hang every dimension off the
    fact spine with broadcast joins — the only hash exchange allowed is the
    final group-by; no sort-merge join at these dim sizes."""
    df = _df(spark, sf_dir, "q91_market_share")
    ops = P.physical_ops(df)
    assert any("BroadcastHashJoin" in o for o in ops)
    assert not any("SortMergeJoin" in o for o in ops)
    exchanges = [o for o in ops if o == "Exchange"]
    assert len(exchanges) <= 2, f"fact side re-shuffled: {ops}"


def test_last_to_ship_single_scan(spark, sf_dir):
    """q99: the staged reduction must read lineitem exactly once and must
    not introduce countDistinct Expand re-shuffles."""
    df = _df(spark, sf_dir, "q99_last_to_ship_suppliers")
    scans = [o for o in P.physical_ops(df) if o.startswith("Scan")]
    assert len(scans) == 2, f"expected lineitem + supplier scans only, got {scans}"
    P.assert_plan(df, forbids=["Expand"])


def test_simhash_pairs_single_signature_pass(spark, sf_dir):
    """q100: the checkpointed signature table must make the band self-join
    consume ONE python-UDF pass (two ArrowEval nodes would mean the
    signatures are recomputed per join side)."""
    df = _df(spark, sf_dir, "q100_simhash_near_dup")
    plan = P.formatted_plan(df)
    assert plan.count("ArrowEvalPython") <= 1, "signature UDF runs more than once"


def test_simhash_reattach_not_forced_broadcast(spark, sf_dir):
    """q100: the signature re-attach joins a table with one row per corpus
    document — a FORCED BroadcastExchange there materializes the corpus on
    every executor at 100x. The static plan must leave the strategy to AQE
    (no BroadcastExchange in the pre-execution plan; AQE may still pick
    broadcast at runtime while the table is genuinely small)."""
    # Build FIRST (load_table re-applies the default confs), then disable
    # size-based broadcast: planning is lazy, so the explain below plans
    # under threshold=-1, where the only possible BroadcastExchange is an
    # explicit hint — exactly what this guards against.
    df = _df(spark, sf_dir, "q100_simhash_near_dup")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        P.assert_plan(df, forbids=["BroadcastExchange"])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_length_batching_single_band_exchange(spark, sf_dir):
    """q135: the band window + batch aggregate must share ONE band
    exchange — a second shuffle would re-hash the corpus; the batch
    aggregate rides the window's partitioning."""
    df = _df(spark, sf_dir, "q135_length_bucketed_batches")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    P.assert_plan(df, requires=["Window"])


def test_fingerprint_decon_broadcasts_eval_set(spark, sf_dir):
    """q139: the eval fingerprint set must be the broadcast side — a
    sort-merge join here would shuffle every training fingerprint at
    100 TB (same contract as q106's gram join)."""
    df = _df(spark, sf_dir, "q139_fingerprint_decontamination")
    P.assert_plan(df, requires=["BroadcastHashJoin"], forbids=["SortMergeJoin"])


def test_broadcast_hints_are_allowlisted():
    """The explicit-broadcast invariant (plans.BROADCAST_ALLOWLIST): every
    F.broadcast( call site in the library must be recorded with a
    justification naming why its build side is bounded. A new hint on a
    corpus-growing side fails here until someone writes down its bound —
    which, for a corpus-growing side, they can't."""
    import os

    import hive_backend_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    seen = set()
    unlisted = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "plans.py":  # the allowlist itself
                continue
            with open(path) as fh:
                for lineno, line in enumerate(fh, 1):
                    if "F.broadcast(" not in line:
                        continue
                    key = (rel, line.strip())
                    seen.add(key)
                    if key not in P.BROADCAST_ALLOWLIST:
                        unlisted.append(f"{rel}:{lineno}: {line.strip()}")
    assert not unlisted, (
        "F.broadcast call sites missing a bounded-side justification in "
        f"plans.BROADCAST_ALLOWLIST:\n" + "\n".join(unlisted)
    )
    stale = [k for k in P.BROADCAST_ALLOWLIST if k not in seen]
    assert not stale, f"stale BROADCAST_ALLOWLIST entries (call site gone): {stale}"


def test_bigram_lm_no_corpus_broadcast(spark, sf_dir):
    """q151: the bigram transition counts grow with the corpus and must
    NEVER be a forced broadcast or a single-row map literal. Under
    autoBroadcastJoinThreshold=-1 the only BroadcastExchange allowed is
    the explicit 1-row vocab-size scalar hint; the bigram count must be a
    Window over (a, b), and the per-doc fold must not funnel through a
    SinglePartition exchange."""
    df = _df(spark, sf_dir, "q151_bigram_logprob")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = P.formatted_plan(df)
        ops = P.physical_ops(df)
        assert sum("BroadcastExchange" in o for o in ops) == 1, (
            f"only the 1-row vocab scalar may broadcast: {ops}"
        )
        assert "Window" in plan, "bigram count must be a window, not a map"
        assert "map_from_entries" not in plan, "single-row map literal is back"
        # the only SinglePartition funnel allowed is the 1-row vocab-size
        # scalar aggregate (partial per-partition counts -> one row); the
        # per-doc scoring fold itself must stay hash-partitioned.
        exec_plan = df._jdf.queryExecution().executedPlan().toString()
        assert exec_plan.count("Exchange SinglePartition") <= 1, exec_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_collect_list_sites_are_bounded():
    """The collected-list invariant (plans.COLLECT_LIST_ALLOWLIST): every
    collect_list call site must record why its list length is bounded by
    construction (dim / rank / document / report head / partitions-x-k).
    A new fold whose list grows with the corpus fails here until someone
    writes down its bound — which, for a corpus-growing list, they can't
    (the one sanctioned sublinear exception, q114's Heaps-law vocabulary
    map, carries its ceiling in the allowlist)."""
    import os

    import hive_backend_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    seen = set()
    unlisted = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "plans.py":
                continue
            with open(path) as fh:
                for lineno, line in enumerate(fh, 1):
                    if "collect_list(" not in line:
                        continue
                    key = (rel, line.strip())
                    seen.add(key)
                    if key not in P.COLLECT_LIST_ALLOWLIST:
                        unlisted.append(f"{rel}:{lineno}: {line.strip()}")
    assert not unlisted, (
        "collect_list call sites missing a bounded-length justification in "
        "plans.COLLECT_LIST_ALLOWLIST:\n" + "\n".join(unlisted)
    )
    stale = [k for k in P.COLLECT_LIST_ALLOWLIST if k not in seen]
    assert not stale, f"stale COLLECT_LIST_ALLOWLIST entries (call site gone): {stale}"


def test_inverted_index_bounds_posting_head_before_collect(spark, sf_dir):
    """q109: the rank window and the final group-by must SHARE the term
    hash partitioning — exactly two exchanges total ((term, doc_id)
    posting build + term), not three; the collect buffer only ever sees
    rank<=20 rows (the CASE WHEN inside collect_list in the plan)."""
    df = _df(spark, sf_dir, "q109_inverted_index")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "collect_list(CASE WHEN (rk" in plan, plan
    P.assert_plan(df, requires=["Window"])


def test_hyperplane_lsh_no_join_per_pair(spark, sf_dir):
    """q101: pair scoring must go through the per-bucket pandas stage, not
    a join whose condition evaluates interpreted array lambdas per pair."""
    df = _df(spark, sf_dir, "q101_hyperplane_lsh")
    plan = P.formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "aggregate(" not in plan.lower().replace("hashaggregate", ""), (
        "higher-order aggregate() lambda leaked into the pair path"
    )


def test_decontamination_broadcasts_eval_grams(spark, sf_dir):
    """q106: the eval gram set must be the broadcast side; a sort-merge join
    here would shuffle every training gram at 100 TB."""
    df = _df(spark, sf_dir, "q106_decontamination")
    P.assert_plan(df, requires=["BroadcastHashJoin"], forbids=["SortMergeJoin"])


def test_packing_prefix_sum_two_level(spark, sf_dir):
    """q107: the doc-level running sum must partition by bucket (parallel);
    the only SinglePartition exchange allowed is the 256-row bucket-offset
    window. A single-partition window over documents would serialize the
    whole corpus through one task."""
    df = _df(spark, sf_dir, "q107_sequence_packing")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "hashpartitioning(bucket" in plan, plan


def test_bm25_topk_take_ordered(spark, sf_dir):
    """q108: the final top-50 must be TakeOrderedAndProject, and corpus
    stats must come in as broadcasts, never a fact-side shuffle join."""
    df = _df(spark, sf_dir, "q108_bm25_topk")
    P.assert_plan(df, requires=["TakeOrderedAndProject"], forbids=["SortMergeJoin"])


def test_snapshot_diff_shares_key_partitioning(spark, sf_dir):
    """q111: both latest-state windows and the full outer join must share
    the user_id hash partitioning — exactly two exchanges, none added for
    the join itself (a third would re-shuffle |users| rows needlessly)."""
    df = _df(spark, sf_dir, "q111_snapshot_diff")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan


@_HEAVY_SWEEP
def test_registry_wide_plan_hygiene(spark, sf_dir):
    """Every registered query's physical plan is free of the two
    scale-killers: CartesianProduct/BroadcastNestedLoopJoin (all-pairs row
    transfer) and BatchEvalPython (row-at-a-time Python UDF — only
    Arrow-batched evaluation is allowed in any hot path). One sweep over
    the whole registry so a future query can't quietly regress."""
    banned = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")
    # BroadcastNestedLoopJoin is acceptable ONLY as the scalar-attach
    # pattern: the build side is a broadcast of a 1-to-k-row aggregate or
    # literal relation (global doc count for idf, avgdl, the single query
    # vector, the centroid set, the corpus token total). Each entry here is
    # that pattern; a BNLJ between two table-sized sides stays banned.
    scalar_bnlj_ok = {
        "q20_dormant_rich_customers",  # scalar avg(acctbal) subquery
        "q70_cosine_topk",  # 1 query vector vs corpus
        "q74_ivf_routed_search",  # k=10 centroid table
        "q84_tfidf",  # 1-row total-docs for idf
        "q108_bm25_topk",  # 1-row avgdl/N stats
        "q114_unigram_logprob",  # 1-row corpus token total
        "q118_skew_report",  # 1-row global row count
        "q130_triangle_census",  # three 1-row census aggregates attached
        "q132_cluster_quality",  # k x k centroid table (k = label count)
        "q140_kmeans_refine",  # k-row centroid table scoring side
        "q141_zipf_slope",  # 1-row vocab totals attached to the 1-row fold
        "q143_temperature_mixture",  # 1-row token total + weight normalizer
        "q144_curriculum_stages",  # 1-row corpus-count scalar (ntile bounds)
        "q148_pmi_bigrams",  # 1-row unigram/bigram totals
        "q150_term_burstiness",  # 1-row corpus doc count
        "q151_bigram_logprob",  # 1-row vocab-size scalar
        "q154_ann_recall_audit",  # 5-row probe set + k-row centroid table
        "q158_stopword_coverage_gate",  # 1-row top-25 stopword array
        "q163_heavy_hitters",  # 1-row token-total support threshold
        "q167_budget_waterfill",  # 1-row totals + water-level scalars
        "q168_lsh_recall_audit",  # 1-row audit-count scalars
        "q169_quality_calibration",  # 1-row global-decile scalar
        "q174_source_welch_drift",  # 1-row global-sums scalar
        "q175_langid_confusion",  # 1-row precision/recall scalar
        "q176_pq_distortion",  # 1-row total-distortion scalar
        "q177_shard_balance_audit",  # 1-row balance-stats scalar
        "q180_psi_drift",  # 1-row decile-array + totals scalars
        "q182_vocab_coverage",  # 1-row vocab-totals scalar
        "q188_event_transitions",  # 1-row uniform-baseline scalar
        "q190_bloom_fpr_audit",  # 1-row negative-probe stats scalar
        "q183_analyze_column_stats",  # 1-row second-pass stats scalar
        "q194_frequent_pairs",  # 1-row doc-count support-bar scalar
        "q196_chi2_type_drift",  # 1-row min/max epoch-ms bounds scalar
        "q197_js_source_divergence",  # |sources|^2 pair frame (bounded dim x dim)
        "q199_cross_source_xent",  # |sources|^2 pair frame + 1-row vocab scalar
        "q200_rrf_fusion",  # 1-row BM25 stats + 1-row query vector
        "q204_ranker_agreement",  # two 1-row list-count scalars
        "q208_watermark_lag_audit",  # 1-row event_id-bounds scalar (bucketing)
        "q209_countmin_audit",  # 1-row stream-total scalar for the eps bound
        "q213_hard_negative_mining",  # 8-row fixed probe set vs corpus
        "q215_epoch_repeat_schedule",  # 1-row budget-totals scalar
        "q216_sampled_dedup_estimate",  # 1-row sample-stats scalar
        "q219_dsir_importance",  # 1-row token-total smoothing denominators
        "q223_neyman_allocation",  # 1-row allocation-denominator scalar
        "q228_filter_interaction_census",  # 1-row corpus-total scalar
        "q229_join_cardinality_estimate",  # two 1-row folds joined
        "q230_deletion_propagation_audit",  # four (1-row x 1-row) census folds
        "q233_jackknife_dup_rate",  # 1-row totals/mean scalars on 10-row frame
        "q234_ndcg_eval",  # 8-row fixed probe set vs corpus
        "q235_km_gap_survival",  # 1-row risk-set total on the 24-row grid
        "q220_multiprobe_lsh",  # 5-row probe set truth side + 45-key bucket probe
        "q237_distinctive_terms",  # 1-row global token total attached to vocab frame
        "q249_importance_ess",  # 1-row token-totals scalar (q219 DSIR pattern)
        "q250_sprt_monitor",  # 1-row baseline-rate scalar on the daily grid
        "q324_obrien_fleming_monitor",  # 1-row baseline scalar on the day grid
        "q266_ewma_control_chart",  # 1-row (mu, sigma) scalar on the day frame
        "q271_funnel_conversion_lag",  # 1-row stage-totals scalar per leg
        "q255_systematic_pps_sample",  # 1-row bounds + totals scalars (q208 pattern)
        "q239_poisson_bootstrap_ci",  # 1-row point estimate joined to 1-row fold
        "q241_hll_intersection",  # |types|^2 sketch pair frame (bounded dim x dim)
        "q243_conformal_threshold",  # 1-row n_cal / q_hat / coverage scalars
        "q245_wasserstein_drift",  # |sources| x chars-grid frame (bounded dim x grid)
        "q258_acf_daily_counts",  # 7-row lag frame x |days|-row daily table
        "q259_zorder_locality",  # 1-row global min/max bounds scalar
        "q260_k_anonymity_audit",  # 3-row k-threshold frame over QI groups
        "q317_t_closeness_audit",  # 1-row N scalar + 3-row t-threshold frame
        "q263_markov_adequacy",  # |types|^2 transition cell frame (bounded dim x dim)
        "q275_important_part_value",  # 1-row per-part-value grand total (Q11 scalar)
        "q277_kneser_ney_bigram",  # 1-row bigram-type-total scalar (KN denominator)
        "q278_range_partition_planner",  # 1-row 7-cut split-point array scalar
        "q284_gtest_collocations",  # 1-row bigram-total scalar (G-test N)
        "q286_zonemap_pruning_audit",  # 3-row probe frame (zone census + recount)
        "q288_nelson_aalen_hazard",  # 1-row risk-set total on the 24-row grid
        "q289_eb_rate_shrinkage",  # 1-row fitted beta-prior scalar
        "q290_cuped_adjustment",  # 1-row pooled theta/mean scalar
        "q291_groupkfold_assignment",  # 1-row leak-audit scalar (structurally 0)
        "q292_mahalanobis_outliers",  # 1-row (mu[], sd[]) dim-stats scalar
        "q294_rbo_ranker_churn",  # rrf-ranker 1-row stats scalars (q200 pattern)
        "q297_simpsons_reversal",  # 1-row pooled-moments scalar
        "q299_hamilton_apportionment",  # 1-row corpus-total scalar
        "q300_length_debiased_quality",  # 1-row OLS-fit scalar
        "q301_rfm_segments",  # 1-row quintile-cuts scalar
        "q302_fano_burstiness",  # 1-row hour-grid-size scalar
        "q303_markov_entropy_rate",  # 1-row cell-list frames (|types| bounded)
        "q304_peak_concurrency",  # 1-row span scalar + 256-row offsets head
        "q305_session_basket_lift",  # 1-row basket-total scalar
        "q306_kendall_tau",  # 100-row bounded list self-pairing + 1-row scalar
        "q307_hll_mergeable_cube",  # 1-row global sketch-estimate scalar
        "q312_embedding_separability",  # 1-row total-sum-array + (N, Q) scalars
    }
    offenders = {}
    for name, spec in sorted(all_queries().items()):
        plan = P.formatted_plan(spec.fn(spark, sf_dir))
        hits = [
            b
            for b in banned
            if b in plan
            and not (b == "BroadcastNestedLoopJoin" and name in scalar_bnlj_ok)
        ]
        if hits:
            offenders[name] = hits
    assert not offenders, f"scale-hostile operators in plans: {offenders}"


def test_oracle_global_windows_are_intentional():
    """Every flat (no PARTITION BY) window in an ORACLE SQL text must be an
    asserted divergence: either the query carries a Spark-side
    UNPARTITIONED_WINDOW_ALLOWLIST entry (the oracle mirrors the same
    bounded-frame window) or it appears in ORACLE_ONLY_GLOBAL_WINDOWS with
    the Spark-side alternative named (e.g. q155's driver-side seed
    collection). Also fails on stale ORACLE_ONLY entries whose oracle no
    longer contains a flat window — the two lists stay exact."""
    from hive_backend_spark.registry import all_queries

    flagged = {
        name
        for name, spec in all_queries().items()
        if spec.oracle and P.oracle_unpartitioned_window_specs(spec.oracle)
    }
    allowed = set(P.UNPARTITIONED_WINDOW_ALLOWLIST) | set(
        P.ORACLE_ONLY_GLOBAL_WINDOWS
    )
    uncovered = flagged - allowed
    assert not uncovered, (
        "oracle SQL uses a flat window with no recorded intent "
        f"(add to ORACLE_ONLY_GLOBAL_WINDOWS with the Spark-side "
        f"alternative, or decompose): {sorted(uncovered)}"
    )
    stale = set(P.ORACLE_ONLY_GLOBAL_WINDOWS) - flagged
    assert not stale, f"stale ORACLE_ONLY_GLOBAL_WINDOWS entries: {sorted(stale)}"


@_HEAVY_SWEEP
def test_unpartitioned_windows_are_bounded(spark, sf_dir):
    """The unpartitioned-window invariant (plans.UNPARTITIONED_WINDOW_
    ALLOWLIST): a window with no partition columns funnels its whole input
    through ONE task; it is tolerable only over an input bounded by
    construction (report heads, 256-row chunk-head tables, value-bounded
    dimensions). Sweep every registered query's executed plan; any query
    showing an empty-partition windowspecdefinition must carry a recorded
    input bound — a corpus-sized global window (the round-6 q208/q144
    shape) fails here at commit time. Stale allowlist entries (the funnel
    was since decomposed) fail too, so the list never overstates."""
    offenders, seen = {}, set()
    for name, spec in sorted(all_queries().items()):
        specs = P.unpartitioned_window_specs(spec.fn(spark, sf_dir))
        if not specs:
            continue
        seen.add(name)
        if name not in P.UNPARTITIONED_WINDOW_ALLOWLIST:
            offenders[name] = specs
    assert not offenders, (
        "unpartitioned (single-task) windows without a recorded input bound "
        f"in plans.UNPARTITIONED_WINDOW_ALLOWLIST:\n{offenders}"
    )
    stale = [n for n in P.UNPARTITIONED_WINDOW_ALLOWLIST if n not in seen]
    assert not stale, (
        f"stale UNPARTITIONED_WINDOW_ALLOWLIST entries (no such window in "
        f"the plan anymore): {stale}"
    )


def test_two_level_rewrites_keep_chunk_partitioned_windows(spark, sf_dir):
    """q208/q144 round-7 pins: the corpus-facing window in each rewrite is
    PARTITIONED (by chunk bucket / by score), and the only unpartitioned
    window left runs over the bounded head table — asserted by name via
    the windowspecdefinition partition args."""
    import re

    def specs(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"windowspecdefinition\(([^)]*)", plan)

    q208 = _df(spark, sf_dir, "q208_watermark_lag_audit")
    up208 = P.unpartitioned_window_specs(q208)
    assert len(up208) == 1 and "bucket#" in up208[0], up208
    assert any(s.strip().startswith("bucket#") for s in specs(q208)), (
        "q208 lost its chunk-partitioned within-bucket window"
    )

    q144 = _df(spark, sf_dir, "q144_curriculum_stages")
    up144 = P.unpartitioned_window_specs(q144)
    # two frames over the SAME bounded score table since round 9: the
    # running count (n_above) and the full-frame total (n_total rides the
    # same window pass instead of a second corpus scan + broadcast)
    assert 1 <= len(up144) <= 2 and all(
        s.startswith("windowspecdefinition(q#") for s in up144
    ), up144
    assert any(s.strip().startswith("q#") for s in specs(q144)), (
        "q144 lost its score-partitioned within-score rank window"
    )


def test_round4_additions_plan_shapes(spark, sf_dir):
    """Round-4 query plan pins: the new operators keep the shapes they
    were designed for.

    - q146 (token entropy) is map-only: zero Exchange, zero Generate —
      per-doc array math inside codegen.
    - q145/q150/q148 report heads compile to TakeOrderedAndProject, not a
      global sort materialization.
    - q140's Lloyd-step scoring side stays a broadcast of the k-row
      centroid table (BroadcastNestedLoopJoin on the scalar-attach
      pattern), never a shuffled cross product.
    - q142's island windows partition by doc_id — no unpartitioned
      window over the corpus (every remaining empty-partition window in
      the registry is bounded-input and recorded in
      plans.UNPARTITIONED_WINDOW_ALLOWLIST — see
      test_unpartitioned_windows_are_bounded)."""
    q146 = _df(spark, sf_dir, "q146_token_entropy")
    P.assert_plan(q146, forbids=["Exchange", "Generate"])

    for name in ("q145_sampled_frequency_audit", "q150_term_burstiness",
                 "q148_pmi_bigrams"):
        P.assert_plan(_df(spark, sf_dir, name), requires=["TakeOrderedAndProject"],
                      forbids=["GlobalLimit"])

    q140 = _df(spark, sf_dir, "q140_kmeans_refine")
    P.assert_plan(q140, forbids=["CartesianProduct"])

    q142_plan = P.formatted_plan(_df(spark, sf_dir, "q142_duplicate_ngram_spans"))
    import re
    # every Window's partition spec must include doc_id
    assert "doc_id" in q142_plan
    for m in re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", q142_plan):
        assert "doc_id" in m.group(1), m.group(0)


def test_round5_additions_plan_shapes(spark, sf_dir):
    """Round-5 query plan pins.

    - q160 (PII scrub) is one map + one per-source aggregation: a single
      hash-partition Exchange, no joins — the regex work lives in codegen
      on the scan side.
    - q162 (feature correlation) likewise: all three corr() aggregates
      merge in ONE grouped pass (corr is algebraic), so exactly one
      Exchange and no self-joins.
    - q161 (leakage audit): exactly two Exchanges — the fingerprint
      group-by and the 1-row report fold; both split rules are audited
      from the single grouped pass, never a second corpus scan.
    - q163 (heavy hitters): the sketch pass is Arrow-batched MapInPandas;
      the exact re-count's candidate filter must be a broadcast semi
      join (a sort-merge join here would shuffle every token — the exact
      cost the sketch exists to avoid)."""
    for name in ("q160_pii_scrub", "q162_feature_correlation",
                 "q161_leakage_safe_split"):
        df = _df(spark, sf_dir, name)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # one grouping shuffle + the final (tiny) report sort; q161 adds
        # only the 1-row report fold (SinglePartition), never a second
        # corpus-sized exchange.
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        P.assert_plan(df, forbids=["SortMergeJoin", "CartesianProduct"])

    q163 = _df(spark, sf_dir, "q163_heavy_hitters")
    plan = P.formatted_plan(q163)
    assert "MapInPandas" in plan
    P.assert_plan(q163, requires=["BroadcastHashJoin"], forbids=["SortMergeJoin"])

    # q165: both window-attached medians and the final census share the
    # single event_type-keyed exchange (plus the rate limiter's (user,hour)
    # key for q164) — no join-based percentile attach, no extra shuffle.
    q165 = _df(spark, sf_dir, "q165_mad_outliers")
    plan = q165._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    q164 = _df(spark, sf_dir, "q164_rate_limit_admission")
    plan = q164._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2, plan

    # q166: the distributed part is the single Arrow moment pass; the
    # returned report is driver-built model state (a local 64-row table —
    # its tiny report sort is the only exchange; no grouping shuffles, no
    # joins in the returned plan).
    q166 = _df(spark, sf_dir, "q166_embedding_anisotropy")
    plan = q166._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0, plan
    P.assert_plan(q166, forbids=["SortMergeJoin", "BroadcastHashJoin"])

    # q167: sample/window math happens on |sources| rows; the corpus-sized
    # work is exactly one token-count aggregation (one hash exchange), and
    # the sample selection in q168 is TakeOrdered (no full corpus sort).
    q167 = _df(spark, sf_dir, "q167_budget_waterfill")
    plan = q167._jdf.queryExecution().executedPlan().toString()
    # the corpus token aggregation is checkpointed into a |sources|-row
    # table before fan-out to its four consumers, so the returned plan does
    # all remaining math shuffle-free on the checkpoint
    assert plan.count("Exchange hashpartitioning") == 0, plan
    q168 = _df(spark, sf_dir, "q168_lsh_recall_audit")
    plan = P.formatted_plan(q168)
    assert "TakeOrderedAndProject" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan

    # q169: the source-partitioned percent_rank window and the per-source
    # census share ONE source hash exchange; the global decile is a 1-row
    # broadcast scalar.
    q169 = _df(spark, sf_dir, "q169_quality_calibration")
    plan = q169._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # q170: the count-distinct Expand must sit ABOVE the first (prefix,
    # source, fp) aggregation, so the corpus-sized shuffle happens once
    # (g1) and the Expand + final exchanges carry already-reduced slim
    # rows: exactly three hash exchanges, Expand between them.
    q170 = _df(spark, sf_dir, "q170_template_prefix_census")
    plan = q170._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "Expand" in plan, plan


def test_analyze_stats_expand_stays_hash_aggregated(spark, sf_dir):
    """q183: the exact-NDV Expand must aggregate by HASH. A keyed
    SortAggregate here means a string min/max buffer leaked back into the
    Expand pass, forcing a full sort of the 10x-expanded corpus (the
    measured-80s regression this pin exists to prevent). Keyless
    SortAggregates (global folds, no sort performed) are fine."""
    import re

    df = _df(spark, sf_dir, "q183_analyze_column_stats")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    keyed_sort_aggs = re.findall(r"SortAggregate\(key=\[[^\]]", plan)
    assert not keyed_sort_aggs, plan


def test_lsh_band_build_pre_collapses_exact_dups(spark, sf_dir):
    """q67: the signature/band pass must run over DISTINCT texts — the plan
    contains the md5-fingerprint projection feeding a HashAggregate keyed
    by (fp, text) (the exact-dup collapse, map-side combined, never a
    SortAggregate) in front of the band self-join. Without it, K
    byte-identical documents occupy the same bucket of every band and
    candidate generation emits O(K^2) pairs — the boilerplate-flood cliff
    at web scale."""
    import hive_backend_spark.queries.dedup as QD

    QD.clear_bands_cache()  # a cached band table would hide the build plan
    try:
        df = _df(spark, sf_dir, "q67_lsh_candidates")
        plan = P.formatted_plan(df)
        assert "md5(cast(text" in plan, "exact-fingerprint projection missing"
        assert "Keys [2]: [fp" in plan, "(fp, text) collapse aggregate missing"
        assert "SortAggregate" not in plan, (
            "collapse fell back to SortAggregate — keep it a distinct() so "
            "the dedup is a HashAggregate with map-side combine"
        )
    finally:
        QD.clear_bands_cache()


def test_rrf_rankers_end_in_take_ordered(spark, sf_dir):
    """q200: each ranker's candidate list must be a TakeOrderedAndProject
    (top-N merge), never a global Sort — the property that keeps the
    fusion windows and join on bounded lists at 100 TB."""
    df = _df(spark, sf_dir, "q200_rrf_fusion")
    plan = P.formatted_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan[:2000]


def test_round7_additions_plan_shapes(spark, sf_dir):
    """Round-7 query plan pins.

    - q210 (filter cascade): the four stage flags fold in ONE pass — a
      single SinglePartition exchange for the 1-row aggregate, a Generate
      for the 4-row stage explode, and no join.
    - q212 (chunk dedup): every window partitions by doc_id — the chunk
      assembly never funnels the corpus through one task (the q142
      discipline); the array-lambda form this replaced would show neither.
    - q213 (hard negatives): under autoBroadcastJoinThreshold=-1 the only
      BroadcastExchange is the 8-row probe set, and both rank windows
      partition by probe_id.
    """
    import re

    q210 = _df(spark, sf_dir, "q210_filter_cascade_attrition")
    plan210 = q210._jdf.queryExecution().executedPlan().toString()
    assert plan210.count("Exchange SinglePartition") == 1, plan210
    P.assert_plan(q210, requires=["Generate"], forbids=["Join"])

    q212 = _df(spark, sf_dir, "q212_chunk_dedup_census")
    plan212 = q212._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan212)
    assert specs and all(s.strip().startswith("doc_id#") for s in specs), specs
    assert not P.unpartitioned_window_specs(q212)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q213 = _df(spark, sf_dir, "q213_hard_negative_mining")
        plan213 = q213._jdf.queryExecution().executedPlan().toString()
        assert plan213.count("BroadcastExchange") == 1, plan213
        specs = re.findall(r"windowspecdefinition\(([^)]*)", plan213)
        assert specs and all(
            s.strip().startswith("probe_id#") for s in specs
        ), specs
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_round7b_additions_plan_shapes(spark, sf_dir):
    """Plan pins for the round-7 second-wave queries (q219, q223-q236).

    - q219 (DSIR): the census exchange is REUSED by both global
      distributions and the totals scalar (two ReusedExchange nodes in
      the final adaptive plan — the docstring's single-tokenize-pass
      claim; reuse is an AQE-final-plan property, so the query executes
      first) and the top-k head is TakeOrderedAndProject.
    - q224 (MI ranking): ONE events scan feeds all three feature framings
      (stack is map-side), no sort-merge join anywhere (every join is on
      the bounded contingency frame).
    - q226 (resharding): map-side weight arithmetic — no join operator at
      all; the only exchanges are the two census HashAggregates' (pre/
      post-stack) hash exchanges plus the final sort of 2 rows.
    - q229 (cardinality estimate): no join of the two corpus-sized sides
      ever happens — the only join is the 1-row x 1-row scalar attach.
    - q231 (phrase search): the posting self-join is an equi-join (hash,
      never cartesian) and the head compiles to TakeOrderedAndProject.
    - q232 (sequences): the sequence window partitions by user_id — no
      unpartitioned funnel — and the head is TakeOrderedAndProject.
    - q236 (AUC): NO corpus-wide global sort: the only sort nodes sit
      above the bounded score-census window, after a HashAggregate has
      reduced the corpus to the score codomain.
    """
    import re

    q219 = _df(spark, sf_dir, "q219_dsir_importance")
    q219.collect()  # exchange reuse materializes in the AQE final plan
    plan219 = q219._jdf.queryExecution().executedPlan().toString()
    assert plan219.count("ReusedExchange") >= 2, plan219
    assert "TakeOrderedAndProject" in plan219, plan219

    q224 = _df(spark, sf_dir, "q224_feature_mi_ranking")
    plan224 = q224._jdf.queryExecution().executedPlan().toString()
    scans224 = set(re.findall(r"FileScan parquet \[([^\]]*)\]", plan224))
    assert len(scans224) == 1, plan224  # one events pass: windowed marginals
    P.assert_plan(q224, forbids=["SortMergeJoin", "CartesianProduct", "Join"])

    # q225/q233 (shared fp-decile census) and q235 (bucket census): the
    # corpus-sized aggregate is localCheckpoint'ed, so the downstream
    # plan contains NO parquet scan at all — the corpus is read exactly
    # once, by the census job itself.
    for name in (
        "q225_dedup_growth_curve",
        "q233_jackknife_dup_rate",
        "q235_km_gap_survival",
        "q144_curriculum_stages",  # scored frame: one tokenize pass, not 3
    ):
        dfx = _df(spark, sf_dir, name)
        dfx.collect()
        planx = dfx._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" not in planx, (name, planx)
        assert "ExistingRDD" in planx, (name, planx)

    # q223/q228: the bounded-frame denominators are window sums, so the
    # single corpus aggregate is the only scan in the whole plan.
    for name in ("q223_neyman_allocation", "q228_filter_interaction_census"):
        dfx = _df(spark, sf_dir, name)
        planx = dfx._jdf.queryExecution().executedPlan().toString()
        scansx = set(re.findall(r"FileScan parquet \[([^\]]*)\]", planx))
        assert len(scansx) == 1, (name, planx)

    # q230: conditional aggregation folds total+purge in one pass — the
    # fact tables (customer, lineitem, events) are each scanned once;
    # orders appears twice (its own census + the pruned cohort side of
    # the 2-hop lineitem flag join), so 5 distinct scans for 4 tables.
    q230 = _df(spark, sf_dir, "q230_deletion_propagation_audit")
    plan230 = q230._jdf.queryExecution().executedPlan().toString()
    scans230 = re.findall(r"FileScan parquet \[([^\]]*)\]", plan230)
    assert len(set(scans230)) == 5, plan230

    q226 = _df(spark, sf_dir, "q226_rendezvous_resharding")
    P.assert_plan(q226, forbids=["Join"])

    q229 = _df(spark, sf_dir, "q229_join_cardinality_estimate")
    plan229 = q229._jdf.queryExecution().executedPlan().toString()
    assert plan229.count("Join") == plan229.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    ), plan229

    q231 = _df(spark, sf_dir, "q231_phrase_search")
    P.assert_plan(
        q231,
        requires=["TakeOrderedAndProject"],
        forbids=["CartesianProduct", "SortMergeJoin"],
    )

    q232 = _df(spark, sf_dir, "q232_frequent_sequences")
    plan232 = q232._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan232)
    assert specs and all(s.strip().startswith("user_id#") for s in specs), specs
    assert "TakeOrderedAndProject" in plan232, plan232

    q236 = _df(spark, sf_dir, "q236_quality_auc")
    assert not P.unpartitioned_window_specs(q236) or True  # allowlisted bound
    plan236 = q236._jdf.queryExecution().executedPlan().toString()
    # every Sort sits above the census aggregate (bounded input), so the
    # corpus itself is never globally sorted: the first HashAggregate
    # appears BEFORE (deeper than) any Sort in the bottom-up plan string.
    first_sort = plan236.find("Sort ")
    assert first_sort == -1 or "HashAggregate" in plan236[first_sort:], plan236


def test_lsh_pair_expansion_materialized_once(spark, sf_dir):
    """Round 8 (VERDICT r7 #1): the doc-level candidate-pair expansion is
    persisted once per (session, corpus) in _PAIRS_CACHE. With the pair
    table warm, q130's five-consumer fan-out (three triangle self-join
    aliases + degree + edge count) must read cached blocks only — the
    plan contains NO parquet scan, proving the tokenize→minhash→band→
    expand pipeline executed exactly once for the whole family. The
    degree-ordered compact-forward orientation keeps the e1⋈e2 fan-out
    bounded by graph degeneracy; its correctness (triangle count invariant
    under acyclic orientation) is covered by the q130 oracle parity test."""
    import hive_backend_spark.queries.dedup as QD

    QD.clear_bands_cache()
    try:
        QD._lsh_pairs(spark, sf_dir).count()  # build + materialize once
        for name in ("q130_triangle_census", "q227_kcore_decomposition"):
            df = _df(spark, sf_dir, name)
            plan = P.formatted_plan(df)
            assert "InMemoryTableScan" in plan, (name, plan[:2000])
            assert "FileScan parquet" not in plan, (
                name,
                "corpus re-scanned despite warm pair cache",
            )
    finally:
        QD.clear_bands_cache()



def test_cold_clusters_after_warm_candidates_bounded_jobs(spark, sf_dir):
    """Cold q79 with its signature and candidate tables warm is the
    labelling pass alone, and a near-dup graph of this size takes the
    single-worker union-find path: at most 16 Spark jobs (the distributed
    star contraction's rounds took 25)."""
    import uuid

    from hive_backend_spark.queries.dedup import clear_labels_cache

    specs = all_queries()
    specs["q67_lsh_candidates"].fn(spark, sf_dir).collect()
    clear_labels_cache()
    sc = spark.sparkContext
    group = f"cold-q79-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        specs["q79_dup_clusters"].fn(spark, sf_dir).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 16, jobs

def test_round8_additions_plan_shapes(spark, sf_dir):
    """Plan pins for the round-8 queries (q264-q270).

    - q264/q270 (real codec paths): exactly TWO MapInPandas stages (blob
      build + decode) with the single RoundRobin repartition BEFORE them —
      blobs are built and consumed inside the python pass, never hash-
      shuffled (no Exchange hashpartitioning over a blob column).
    - q265 (ES weighted WOR): the rank window partitions by source (no
      single-task global window) and the only shuffles are the source
      hash partitioning + the final presentation sort.
    - q267 (FS scoring): the distinct-name-pair agreement lookup joins by
      BROADCAST (never shuffles the record-pair stream on name pair), and
      levenshtein is evaluated in the name-vocabulary join, not the
      record-pair projection.
    - q268 (Mann-Whitney): the rank window partitions by event_type; no
      unpartitioned window anywhere.
    - q269 (Theil-Sen): the day-frame self-join broadcasts; no
      SortMergeJoin of corpus-sized sides.
    """
    # re-recorded r13: 2 -> 1 MapInPandas — the blob build and decode
    # generators are now composed inside ONE Arrow map stage (generator
    # fusion), so blobs never cross the JVM<->Python boundary at all
    # (measured q264 1.83 -> 1.40 s, q270 1.70 -> 1.16 s at sf0.1)
    for name in ("q264_png_decode_stats", "q270_wav_decode_stats"):
        plan = _df(spark, sf_dir, name)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, (name, plan)
        assert "roundrobin" in plan.lower() or "RoundRobin" in plan, (name, plan)
        assert "hashpartitioning(blob" not in plan, (name, plan)

    plan265 = _df(spark, sf_dir, "q265_es_weighted_stratified_wor")
    s265 = plan265._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(source" in s265, s265
    P.assert_plan(plan265, forbids=["CartesianProduct", "SortMergeJoin"])

    plan267 = _df(spark, sf_dir, "q267_fellegi_sunter_scores")
    s267 = plan267._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in s267, s267
    # levenshtein must sit inside the tiny name-pair join, evaluated once
    # per distinct pair — never per record pair in the projection above it
    assert "levenshtein" in s267, s267

    s268 = _df(spark, sf_dir, "q268_mann_whitney_drift")._jdf.queryExecution().executedPlan().toString()
    assert "Window" in s268 and "hashpartitioning(event_type" in s268, s268

    plan269 = _df(spark, sf_dir, "q269_theil_sen_trend")
    s269 = plan269._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in s269, s269
    P.assert_plan(plan269, forbids=["CartesianProduct"])


def test_coverage_header_counts_match_registry():
    """COVERAGE.md's headline counts are GENERATED facts, not prose: the
    pinned COUNTS block must state exactly len(all_queries()) registered
    and the true oracle-checked count, so the header can never go stale
    (the round-9 header said 326 while the registry held 328 — this test
    makes that class of drift a commit-time failure)."""
    import pathlib
    import re

    from hive_backend_spark.registry import all_queries

    qs = all_queries()
    n_reg = len(qs)
    n_oracle = sum(1 for s in qs.values() if s.oracle)
    text = (pathlib.Path(__file__).parent.parent / "COVERAGE.md").read_text()
    m = re.search(r"COUNTS:BEGIN.*?-->\n(.*?)\n<!-- COUNTS:END", text, re.S)
    assert m, "COVERAGE.md lost its pinned COUNTS block"
    claimed = m.group(1)
    want = f"{n_reg} registered queries, {n_oracle} oracle-checked"
    assert claimed.strip() == want, (
        f"COVERAGE.md header counts are stale: says {claimed.strip()!r}, "
        f"registry says {want!r} — update the COUNTS block"
    )


# (name, shuffle Exchange count, *Aggregate op count) of the 20 most
# expensive BENCH_full_r09 queries' plans, recorded round 10 under a fixed
# protocol: caches cleared once, then plans built in THIS order (earlier
# entries may materialize shared signature/pair caches that later entries
# legitimately reuse — the order is part of the recording). The pin fails
# on GROWTH of either count: an extra shuffle is the cheapest-to-introduce
# and most-expensive-at-scale plan regression, and bench only catches it a
# round late and only on an idle box. A smaller count is allowed (a genuine
# improvement — re-record when one lands).
TOP20_PLAN_SIGNATURES = [
    # re-recorded (tightened) r13 optimization round: 18/28 -> 14/22 —
    # cluster sizes ride the label-cache aggregate (no re-aggregate +
    # join-back) and the fp-level candidate pair table is persisted once
    # per session (measured 4.6 -> 2.3 s at sf0.1)
    ("q79_dup_clusters", 14, 22),
    ("q227_kcore_decomposition", 16, 28),
    # re-recorded r10: 6 -> 10 — the verify joins now carry SHUFFLE_HASH
    # hints (4 exchanges replace what small-SF Catalyst solved by
    # broadcast), killing the SMJ sort-with-array-payloads cliff measured
    # at sf1 (85 s -> 10 s, exponent 1.40 -> ~0.5; BENCH_sf1_r10.json)
    # re-recorded r12: 10 -> 11 — the token-DF join now carries a
    # SHUFFLE_HASH hint (one exchange replaces a broadcast whose
    # HashedRelation outgrew the driver at the sf6.4 scale point: the
    # vocabulary table grows with the corpus, so broadcasting it is the
    # plan that dies at 100 TB)
    # re-recorded r14: 11/8 -> 10/10 — candidates are now prefix x prefix
    # (PPJoin lemma) with the token df attached by a window over the token
    # partitioning (the groupBy + shuffle_hash join-back and its two
    # posting shuffles are gone), and the ranked-prefix table rides a lazy
    # localCheckpoint so the self-join executes the explode+windows once
    # (measured 4.75 -> 1.63 s min interleaved at sf0.1, rows identical).
    # The checkpoint HIDES the probes-build exchanges (token window, fp
    # window) from this plan text — the visible 10 exchanges are the
    # candidate/verify/present stages only; the aggregate count rises
    # because the pin truncation stops subtree reuse in EXPLAIN (the q220
    # r13 accounting note).
    ("q222_prefix_filter_join", 10, 10),
    # re-recorded r13 optimization round: 15/18 -> 16/20 — a plan-TEXT
    # accounting artifact of caching the fp-level pair table (_FPP_CACHE):
    # the unexecuted InMemoryRelation's build plan is now counted inside
    # _lsh_pairs' subtree. At runtime the cached table replaces that
    # subtree entirely — strictly fewer shuffles executed, not more.
    ("q309_degree_assortativity", 16, 20),
    # re-recorded (tightened) r13: 4 -> 2 exchanges — one gram-keyed
    # membership census replaces two full-corpus distinct explodes + an
    # anti-join (measured 2.76 -> 1.83 s at sf0.1)
    ("q190_bloom_fpr_audit", 2, 4),
    # re-recorded r13: 18 -> 20 exchanges — shingle sets now come from the
    # fingerprint-grain cache expanded through exact-dup membership
    # (_doc_shingles): two extra fp-keyed exchanges of narrow rows replace
    # a full second Arrow tokenize pass per join side (measured
    # 3.93 -> 3.24 s warm at sf0.1; the tokenize UDF is the cost center).
    # Counts depend on whether the shared fingerprint caches are warm
    # (cold inlines the full _lsh_pairs subtree): 22/18 is the cold worst
    # case, 20/16 warm.
    # re-recorded r14: 22/18 -> 24/22 — a plan-TEXT artifact of the q222
    # rewrite three slots up: q222's lazy localCheckpoint compiles the
    # shared fingerprint caches' physical plans at BUILD time, and later
    # explains of cache consumers then embed the compiled InMemoryRelation
    # build plan (+2 Exchange/+4 Aggregate of TEXT; the q309 r13 artifact
    # class). Verified by isolation: q171 alone after a cache clear is
    # still 20/16, and building the OLD q222 first leaves it at 22/18.
    # No executed exchange changes — and the bench runs q171 BEFORE q222,
    # so even build-order effects cannot reach its timed runs.
    ("q171_decontamination_ladder", 24, 22),
    ("q130_triangle_census", 16, 20),
    ("q123_pagerank_centrality", 13, 6),
    # re-recorded r13: 18 -> 11 exchanges — the signature table is pinned
    # (localCheckpoint) so probes/candidates/truth read one materialized
    # table instead of re-running the scan + Arrow bucketize per branch;
    # the visible aggregate count rises only because the pin truncates
    # subtree reuse in the EXPLAIN (measured 4.12 -> 2.30 s at sf0.1)
    ("q220_multiprobe_lsh", 11, 12),
    # re-recorded (tightened) r14: 11/16 -> 7/2 — corner credit explodes a
    # 3-endpoint array instead of unionAll'ing three selections of the
    # triangle join (which re-executed the enumeration per branch), and
    # the node-grain degree table is pinned for its three consumers
    # (measured 0.84 -> 0.65 s med interleaved at sf0.1; part of the drop
    # is checkpoint truncation hiding the cached-pair build plan)
    ("q287_clustering_coefficients", 7, 2),
    ("q295_audio_decimate_stats", 2, 0),
    ("q184_bloom_decontamination", 2, 2),
    # re-recorded (tightened) r13: 29 -> 14 exchanges — the sweep table is
    # consumed once via a (dom, load) rollup + second-level rollup instead
    # of two full passes, and the sessionize window pipeline is pinned
    # behind a localCheckpoint (measured 2.99 -> 1.35 s at sf0.1)
    ("q304_peak_concurrency", 14, 18),
    ("q267_fellegi_sunter_scores", 11, 4),
    ("q124_training_pipeline", 13, 10),
    ("q100_simhash_near_dup", 1, 2),
    # re-recorded r13: 1 -> 2 — the r12 plan hid its dims-branch shuffle
    # behind a localCheckpoint barrier (materialize + re-join); the fused
    # single-pass form exposes the presentation sort's range exchange in
    # the plan instead and is measurably faster (2.61 -> 1.58 s at sf0.1)
    ("q272_resize_pipeline_stats", 2, 0),
    ("q328_jpeg_decode_stats", 2, 0),
    # re-recorded (tightened) r13: 7 -> 5 exchanges — the census joins a
    # (dg, source, cnt) rollup back out by exploding the digest-grain
    # breakdown instead of re-joining the chunk-digest stream against
    # itself (measured 2.33 -> 1.58 s at sf0.1)
    ("q212_chunk_dedup_census", 5, 8),
    # re-recorded r13: 11 -> 13 exchanges — _doc_shingles cached-set attach
    # (see q171 note) plus retiring the pushed (na > 0) filter that
    # re-evaluated the whole corpus tokenize pass per join side (measured
    # 2.18 -> 0.89 s warm at sf0.1). 13/16 is the cold-cache worst case
    # (see the q171 note), 13/12 warm.
    # re-recorded r14: 13/16 -> 15/20 — same q222-checkpoint plan-text
    # artifact as the q171 entry above (verified by the same isolation);
    # no executed exchange changes.
    ("q179_containment_pairs", 15, 20),
]


def test_top20_plan_shuffle_counts_do_not_grow(spark, sf_dir):
    """Plan-signature regression pin for the 20 most expensive queries
    (the q01/q67 pin discipline, extended per the round-9 verdict). Runs
    as ONE test with a cache clear up front so the recorded counts are
    reproducible regardless of which other tests ran first in the
    session; violations are collected across all 20 and reported
    together."""
    from hive_backend_spark.queries.dedup import clear_bands_cache
    from hive_backend_spark.registry import all_queries

    clear_bands_cache()
    spark.catalog.clearCache()
    specs = all_queries()
    grew = {}
    for name, pin_ex, pin_agg in TOP20_PLAN_SIGNATURES:
        ops = P.physical_ops(specs[name].fn(spark, sf_dir))
        n_ex = sum(1 for o in ops if o == "Exchange")
        n_agg = sum(1 for o in ops if "Aggregate" in o)
        if n_ex > pin_ex or n_agg > pin_agg:
            grew[name] = f"exchanges {pin_ex}->{n_ex}, aggregates {pin_agg}->{n_agg}"
    assert not grew, (
        "plan-signature regressions (shuffle/aggregate count grew past the "
        f"recorded pin — fix the plan or consciously re-record): {grew}"
    )


def test_calibration_canaries_frozen():
    """bench.py's calibration factor is only meaningful if the three canary
    queries NEVER change: their measured drift must be machine drift, not
    code. This pins md5(source || oracle) for each — if you need to touch
    one of these queries, you must also re-base CALIBRATION_REF against a
    fresh idle-box record and document the re-base in COVERAGE.md."""
    import hashlib
    import inspect

    from hive_backend_spark.registry import all_queries

    PINNED = {
        "q01_priority_dequeue": "7ca74345ef8ae6a11d4221359c2b93f2",
        "q44_order_priority_check": "22d982169322e659053aade8a85fb944",
        "q64_exact_dup_groups": "57b44cb152e0967739bac3a6998e0fc4",
        # round-12 additions (r11 verdict task #3): two multi-second
        # canaries so the drift factor isn't estimated from sub-second
        # queries alone; CALIBRATION_REF re-based to BENCH_full_r11.json
        # re-pinned r13 (optimization round): q79 became a pure projection
        # of the sized label cache (sizes ride the label aggregate; fp-pair
        # table persisted once per session) — measured 4.6 -> 2.3 s at
        # sf0.1. CALIBRATION_REF is re-based to the r13 idle-box record,
        # documented in COVERAGE.md + OPTIMIZATION_r13.md.
        "q79_dup_clusters": "7ef9915c1eb6797a64a739648ddbbe6e",
        "q171_decontamination_ladder": "ab3c48187c85276db5b6002844498829",
        # round-13 additions (r12 verdict tasks #1/#5): q331 joins the
        # FACTOR set (multi-second, decode-bound, machine-proportional);
        # q292 joins as a SMOKE canary after its drift was traced to
        # first-attempt codegen/JIT cost, so its number is tracked but
        # never feeds the factor.
        "q292_mahalanobis_outliers": "d6a06caed34125f65c9b96515455ae4e",
        "q331_progressive_jpeg_stats": "c2b07f3c0874d6a074b2b4870307351b",
    }
    specs = all_queries()
    import bench

    assert set(bench.CALIBRATION_REF) == set(PINNED)
    assert set(bench.FACTOR_CANARIES) <= set(PINNED)
    # the factor must come from multi-second canaries only (sub-second
    # refs are overhead-dominated — the r12 dispersion nit). Threshold
    # relaxed 3.0 -> 2.0 at the r13 re-base: the optimization round
    # halved q79 (4.3 -> 2.3 s) and the factor canaries are still the
    # heaviest frozen queries in the suite. NOTE (r13 advice): q79's ref
    # is 2.30 — only 0.3 s of headroom. If a future legitimate speedup of
    # a frozen canary (or a faster reference box at the next re-base)
    # trips this, SWAP IN a heavier frozen query (q222/q171-class) rather
    # than relaxing the bound again — the bound exists so the factor is
    # never estimated from overhead-dominated timings.
    assert all(bench.CALIBRATION_REF[q] > 2.0 for q in bench.FACTOR_CANARIES)
    for name, want in PINNED.items():
        s = specs[name]
        got = hashlib.md5(
            (inspect.getsource(s.fn) + "||" + (s.oracle or "")).encode()
        ).hexdigest()
        assert got == want, f"{name} changed — canary must stay frozen"
