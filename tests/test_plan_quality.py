"""Scale-contract tests: the physical plans must be the ones we'd want
at 100 TB — broadcast dimension joins, predicate pushdown into the
parquet scan, column pruning, whole-stage codegen on hot paths.
"""

from __future__ import annotations

import pytest

from bigdata_gamedb_etl_spark import plans
from bigdata_gamedb_etl_spark.operators import core, dedup, joins, textops, tpch
from bigdata_gamedb_etl_spark.sources.catalog import table


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = tpch.q1_pricing_summary(spark, sf_dir)
    pushed = plans.pushed_filters(df)
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed!r}"


def test_q1_whole_stage_codegen(spark, sf_dir):
    df = tpch.q1_pricing_summary(spark, sf_dir)
    assert plans.has_whole_stage_codegen(df)


def test_a1_part_scan_prunes_columns(spark, sf_dir):
    df = core.a1_word_revenue(spark, sf_dir)
    schemas = "".join(plans.read_schemas(df))
    # part scan must read only join key + name, never the whole table
    assert "p_name" in schemas
    assert "p_retailprice" not in schemas
    assert "p_type" not in schemas
    # lineitem scan must not read quantities for a revenue query
    assert "l_quantity" not in schemas


def test_dimension_joins_broadcast(spark, sf_dir):
    """part/supplier carry no hints (they scale ×SF — see
    test_sf_proportional_joins_are_aqe_decided) but at any SF where
    they fit the threshold AQE must still pick broadcast: a
    sort-merge join here would mean the size estimate broke and the
    fact side is shuffling for a fits-in-memory table."""
    for q in (core.a1_word_revenue, core.a2_supplier_metrics, joins.j8_brand_supplier_revenue):
        df = q(spark, sf_dir)
        assert plans.uses_broadcast_join(df), f"{q.__name__} lost its broadcast"
        assert not plans.uses_sort_merge_join(df), f"{q.__name__} sort-merge-joins a dim"


def test_semi_anti_join_plans(spark, sf_dir):
    semi = joins.j2_customers_with_orders(spark, sf_dir)
    anti = joins.j3_customers_without_orders(spark, sf_dir)
    assert "LeftSemi" in plans.physical(semi)
    assert "LeftAnti" in plans.physical(anti)


def test_q3_orderby_limit_is_topk(spark, sf_dir):
    df = tpch.q3_top_revenue_orders(spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.physical(df)


def test_jaccard_join_shuffles_hashed_keys(spark, sf_dir):
    # the self-join key must be the xxhash64 long, not the shingle string
    df = dedup.dedup_ngram_jaccard_pairs(spark, sf_dir)
    assert "xxhash64" in plans.physical(df)


def test_q6_pushes_every_predicate(spark, sf_dir):
    pushed = plans.pushed_filters(tpch.q6_forecast_revenue(spark, sf_dir))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan: {pushed!r}"


def test_q5_broadcasts_all_dimensions(spark, sf_dir):
    df = tpch.q5_local_supplier_volume(spark, sf_dir)
    plan = plans.physical(df)
    # supplier + nation broadcast at this SF (supplier by AQE/size
    # estimate, nation by hint); only lineitem⋈orders and the final
    # aggregation may shuffle
    assert plan.count("BroadcastExchange") >= 2
    assert plan.count("Exchange hashpartitioning") <= 3
    # exactly the one fixed-cardinality hint (nation) — customer AND
    # supplier scale ×SF and must be AQE-decided (r8 sweep)
    assert plans.num_broadcast_hints(df) == 1


def test_sf_proportional_joins_are_aqe_decided(spark, sf_dir):
    """Customer, orders, part, and supplier all scale with SF (×150k,
    ×1.5M, ×200k, ×10k rows respectively): an explicit broadcast hint
    would override AQE's size check and OOM the build side at 100×.
    These queries must carry zero hints — only nation (25 rows) and
    region (5) are hintable anywhere in the engine (r8 sweep extending
    the customer/orders rule to part/supplier)."""
    from bigdata_gamedb_etl_spark.operators import extended, tpch2

    for q in (
        tpch.q3_top_revenue_orders,   # li⋈orders⋈customer
        core.a4_price_bin_acctbal,    # orders⋈customer
        extended.ga2_cube_segment_priority,  # orders⋈customer cube
        core.a1_word_revenue,         # li⋈part
        core.a2_supplier_metrics,     # li⋈supplier
        joins.j8_brand_supplier_revenue,  # li⋈part⋈supplier
        tpch2.q14_promo_revenue,      # li⋈part
        tpch2.q17_small_quantity_revenue,  # li⋈part agg-then-join
    ):
        assert plans.num_broadcast_hints(q(spark, sf_dir)) == 0, (
            f"{q.__name__} hint-forces an SF-scaling table"
        )
    # j1 keeps hints only on nation+region; customer un-hinted
    assert plans.num_broadcast_hints(joins.j1_region_revenue(spark, sf_dir)) == 2


def test_narrow_scan_query_has_no_hash_shuffle(spark, sf_dir):
    # per-document stats are a pure map — any hash exchange would mean
    # an accidental aggregation or join crept in (the orderBy adds only
    # a range exchange)
    plan = plans.physical(textops.text_stats(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_global_agg_single_stage_pair(spark, sf_dir):
    # group-less aggregate: partial → single-partition final, nothing else
    plan = plans.physical(core.a13_global_totals(spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_q21_aggregation_shape_no_fact_broadcast(spark, sf_dir):
    """Q21 must run as the per-order aggregation tree, never the
    correlated-subquery form that broadcasts distinct lineitem pairs
    (a fact-side broadcast that OOMs at 100x)."""
    import re

    from bigdata_gamedb_etl_spark.operators import tpch2

    plan = plans.physical(tpch2.q21_sole_returned_supplier(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    # one shuffle at (orderkey, suppkey) grain + one at orderkey grain;
    # anything more means the old three-distinct shape came back
    assert len(re.findall(r"hashpartitioning\(l_orderkey", plan)) <= 2


def test_pack_sequences_window_is_sharded(spark, sf_dir):
    """The packing cumsum must be partitioned by shard — an
    unpartitioned window funnels the whole corpus through one task."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    plan = plans.physical(pipeline.pipeline_pack_sequences(spark, sf_dir))
    assert "windowspecdefinition(shard" in plan
    assert "SinglePartition" not in plan


def test_pii_scrub_is_pure_map(spark, sf_dir):
    # regex scrub is a narrow per-row pass: no hash exchange allowed
    plan = plans.physical(textops.text_pii_scrub(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_salted_join_carries_salt_key(spark, sf_dir):
    # the physical join condition must include the salt column — that's
    # the whole point: the hot key spreads over (key, salt) buckets
    plan = plans.physical(joins.j9_salted_segment_revenue(spark, sf_dir))
    assert "__salt" in plan


def test_incremental_dedup_shuffles_hashed_keys_and_partitioned_window(spark, sf_dir):
    """The batch-vs-corpus join must key on xxhash64 longs (not shingle
    strings) and the best-match argmax must window per new_id — never a
    single global partition."""
    plan = plans.physical(dedup.dedup_incremental_pairs(spark, sf_dir))
    assert "xxhash64" in plan
    assert "windowspecdefinition(new_id" in plan
    assert "SinglePartition" not in plan


def test_boilerplate_rebuild_has_no_corpus_window(spark, sf_dir):
    """Line df + strip + rebuild must stay pure joins/aggregates — a
    window over the corpus (SinglePartition) would serialize the whole
    dataset through one task at 100 TB."""
    plan = plans.physical(dedup.dedup_boilerplate_lines(spark, sf_dir))
    assert "SinglePartition" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join_probe_side(spark, sf_dir):
    """Scale contract for ENGINE_CONFS' runtime bloom filter: when a
    shuffle join's build side carries a selective filter, Catalyst must
    inject bloom_filter_agg over the build keys and gate the probe-side
    scan with might_contain — so at 100 TB the fact table shuffles only
    its ~matching fraction.  Locally the 10 GiB probe-side threshold
    never triggers, so it is lowered for the assertion; broadcast is
    disabled because a broadcast join needs no runtime filter."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        orders = table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = table(spark, sf_dir, "lineitem")
        df = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        opt = plans.optimized(df)
        assert "bloom_filter_agg" in opt, "runtime bloom filter not injected"
        assert "might_contain" in opt, "probe side not gated by might_contain"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_w9_single_scan_of_events(spark, sf_dir):
    # the DAU/WAU query must collapse to the (day, user) grain in ONE
    # pass — the three-branch form scans events three times
    from bigdata_gamedb_etl_spark.operators import windows

    df = windows.w9_sliding_active_users(spark, sf_dir)
    assert len(plans.read_schemas(df)) == 1, "events scanned more than once"


def test_j10_basket_join_is_topk_and_aqe_decided(spark, sf_dir):
    # top-K must be TakeOrderedAndProject (never a full sort), and the
    # fact-fact self-join strategy must be left to AQE: at bench SFs it
    # may broadcast one side, at 100 TB it must fall back to a shuffle
    # join on l_orderkey — an explicit broadcast hint would pin the
    # wrong plan at scale
    df = joins.j10_basket_part_pairs(spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.physical(df)
    assert plans.num_broadcast_hints(df) == 0


def test_p7_band_join_broadcasts_tiny_aggregate(spark, sf_dir):
    # the per-type percentile band table is |event_types| rows — it must
    # broadcast back for the clamp, never shuffle the fact side
    from bigdata_gamedb_etl_spark.operators import extended

    df = extended.p7_winsorized_value(spark, sf_dir)
    assert plans.uses_broadcast_join(df)


def test_editdist_collapses_before_quadratic_join(spark, sf_dir):
    # the levenshtein self-join must run over DISTINCT names (aggregate
    # below the join), never over raw part rows
    from bigdata_gamedb_etl_spark.operators import dedup as dd

    plan = plans.physical(dd.dedup_editdist_names(spark, sf_dir))
    assert "levenshtein" in plan
    # the distinct-collapse aggregate must sit BELOW the self-join —
    # asserted structurally (indentation-scoped subtree, not substring
    # offsets: a HashAggregate in a later sibling subtree also prints
    # after the Join line)
    join_subtree = plans.subtree(plan, "Join")
    assert join_subtree, "no Join in the editdist plan"
    assert "HashAggregate" in join_subtree, (
        "no HashAggregate below the levenshtein self-join — "
        "the join is running over raw part rows"
    )


def test_j11_band_join_broadcasts_tier_table(spark, sf_dir):
    """The range join's build side is the 5-row tier table: it must be
    a BroadcastNestedLoopJoin (the only correct BNLJ use — constant-
    size build side), with the customer fact side streaming through —
    never a shuffle or a fact-side build."""
    from bigdata_gamedb_etl_spark.operators import joins as j

    plan = plans.physical(j.j11_acctbal_band_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    # the build side must be the local tier relation, not a scan of
    # customer (fact-side broadcast would OOM at scale)
    bnlj = plans.subtree(plan, "BroadcastNestedLoopJoin")
    bcast = plans.subtree(bnlj, "BroadcastExchange")
    assert "customer" not in bcast.lower(), "fact side is being broadcast"


def test_graph_2hop_no_cartesian(spark, sf_dir):
    """The wedge join must be an equi-join on the middle node id —
    a cartesian/BNLJ product of the edge list with itself would be
    quadratic in |E| at scale."""
    from bigdata_gamedb_etl_spark.operators import graph

    plan = plans.physical(graph.graph_2hop_reach(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rfm_has_no_window_at_all(spark, sf_dir):
    """The RFM grid must be scored from broadcast quantile cuts — the
    r4 ntile form put the whole customer grain through one task three
    times (unpartitioned WindowExec).  Contract: no Window operator of
    any kind in the plan (the only SinglePartition stages are the
    one-row cut/ref aggregates' final steps, which is the normal
    global-agg shape)."""
    from bigdata_gamedb_etl_spark.operators import behavior

    plan = plans.physical(behavior.rfm_customer_segments(spark, sf_dir))
    assert "Window" not in plan, "RFM regressed to window-based scoring"


def test_attribution_window_is_partitioned(spark, sf_dir):
    """The last-touch window must be partitioned by user_id (parallel
    per-user timelines); an unpartitioned window would single-task the
    whole event log.  Events is scanned exactly once."""
    from bigdata_gamedb_etl_spark.operators import behavior

    plan = plans.physical(behavior.attribution_last_touch(spark, sf_dir))
    assert "Window" in plan
    lower = plan.lower()
    assert "partitionby" not in lower or "user_id" in lower
    tree = plans.explain_str(
        behavior.attribution_last_touch(spark, sf_dir), "formatted"
    ).split("\n\n")[0]
    assert tree.count("Scan parquet") == 1


def test_w12_window_runs_over_daily_grain(spark, sf_dir):
    """The cumulative-users running sum may be a global window ONLY
    because it runs over the per-day aggregate (calendar-bounded).
    Contract: a HashAggregate sits strictly below the Window operator
    (indentation-scoped, same structural check as the editdist test)."""
    from bigdata_gamedb_etl_spark.operators import windows as w

    plan = plans.explain_str(
        w.w12_cumulative_distinct_users(spark, sf_dir), "formatted"
    )
    tree = plan.split("\n\n")[0].splitlines()
    win_rows = [i for i, ln in enumerate(tree) if "Window" in ln]
    agg_rows = [i for i, ln in enumerate(tree) if "HashAggregate" in ln]
    assert win_rows and agg_rows
    # formatted-tree rows print parents before children: every Window
    # must have at least one aggregate in the rows after it
    assert any(a > win_rows[-1] for a in agg_rows), (
        "running sum is not over the aggregated daily grain"
    )


def test_repeated_ngram_share_no_pair_explosion(spark, sf_dir):
    """Doc-frequency contamination must stay linear: the df join is an
    equi-join on the hashed shingle, never a cartesian/BNLJ, and the
    exploded keys are 8-byte xxhash64 longs, not shingle strings."""
    from bigdata_gamedb_etl_spark.operators import dedup as dd

    plan = plans.physical(dd.dedup_repeated_ngram_share(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "xxhash64" in plan


def test_corr_matrix_single_scan_no_window(spark, sf_dir):
    """All 15 moments must come from ONE pass over lineitem (one scan,
    partial+final hash-agg) with no Window/Sort anywhere — the N-scan
    or windowed formulations fall over at 100 TB."""
    from bigdata_gamedb_etl_spark.operators import extended as ex

    df = ex.stat_corr_matrix(spark, sf_dir)
    tree = plans.explain_str(df, "formatted").split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    plan = plans.physical(df)
    assert "Window" not in plan


def test_skew_profile_topk_no_global_sort(spark, sf_dir):
    """The skew audit itself must survive skewed data: top-10 mass via
    TakeOrderedAndProject (partition heaps), never a row_number window
    or full Sort over the key grain."""
    from bigdata_gamedb_etl_spark.operators import extended as ex

    plan = plans.physical(ex.dq_key_skew_profile(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_pmi_reuses_token_exchange(spark, sf_dir):
    """The unigram table feeds three consumers (two count joins + the
    total); the executed plan must show ReusedExchange — i.e. the token
    explode+count shuffle is computed once, so the corpus is read twice
    total (tokens + bigrams), never once per consumer."""
    df = textops.text_pmi_collocations(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_fused_pairs_join_is_equi_on_pair_key(spark, sf_dir):
    """Fusing lexical+semantic pair sets must be an equi-join on the
    (d1, d2) pair id — a cartesian/BNLJ of the two pair tables would be
    quadratic in pair count at corpus scale.  (The GEMM block-pair
    cross join inside the semantic side is count-bounded by design and
    lives below a mapInPandas, so we assert on the fused join only:
    the top-level SortMergeJoin/ShuffledHashJoin carries both keys.)"""
    from bigdata_gamedb_etl_spark.operators import similarity as sim

    plan = plans.physical(sim.dedup_semantic_fused_pairs(spark, sf_dir))
    assert "FullOuter" in plan.replace(" ", "") or "full_outer" in plan.lower()
    join_lines = [
        ln
        for ln in plan.splitlines()
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln)
        and "FullOuter" in ln
    ]
    assert join_lines, "fused join is not a shuffled equi-join"
    assert all("d1" in ln and "d2" in ln for ln in join_lines)


def test_contamination_scorecard_no_window_no_pair_explosion(spark, sf_dir):
    """The per-source scorecard inherits repeated-share's linearity:
    hashed-long shingle keys, equi-joins only, and the final agg on the
    tiny source grain — no Window anywhere (per-source ratios come from
    integer sums, not per-doc double averages)."""
    from bigdata_gamedb_etl_spark.operators import dedup as dd

    plan = plans.physical(dd.dq_contamination_scorecard(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "xxhash64" in plan


def test_quarantine_mart_adds_no_window_over_signals(spark, sf_dir):
    """The mart is a union of the three audited DQ aggregates plus
    per-row status CASEs: no Window, no cartesian, and the skew leg's
    TakeOrderedAndProject survives the union."""
    from bigdata_gamedb_etl_spark.operators import extended as ex

    plan = plans.physical(ex.dq_quarantine_mart(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_keeper_selection_no_window_no_cartesian(spark, sf_dir):
    """Keeper choice is a hash-agg with max_by over a struct key on the
    cluster grain — no Window (an argmax-by-row_number formulation
    would sort every cluster) and no cartesian anywhere above the
    audited CC subtree."""
    from bigdata_gamedb_etl_spark.operators import dedup as dd

    plan = plans.physical(dd.dedup_keeper_selection(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "max_by" in plan


def test_scd2_single_data_shuffle(spark, sf_dir):
    """The SCD2 build's lag/version windows, the run groupBy, and the
    interval-closing lead window must all reuse ONE user_id exchange
    (hash on user_id satisfies every downstream clustering); the only
    other exchange is the presentation ORDER BY's range partitioning.
    Every Window must be partitioned by user_id — an unpartitioned
    window would single-task the whole event log."""
    from bigdata_gamedb_etl_spark.operators import marts

    import re

    df = marts.mart_scd2_user_state(spark, sf_dir)
    assert plans.num_exchanges(df) <= 2, "SCD2 grew an extra shuffle"
    plan = plans.physical(df)
    assert "Window" in plan
    # every windowspecdefinition's FIRST argument is its partition key
    # (an unpartitioned window has an ordering spec first instead)
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs, "no window specs found in the SCD2 plan"
    for first_arg in specs:
        assert first_arg == "user_id", (
            f"window partitioned on {first_arg!r}, not user_id"
        )


def test_char_entropy_shuffles_partial_counts(spark, sf_dir):
    """Entropy must shuffle (doc, char) PARTIAL counts, never the raw
    exploded character stream: both aggregates are two-phase
    (partial_count below the exchange), and there is no Window and no
    per-doc-total join (the ln(n) − Σc·ln c / n identity removes it)."""
    from bigdata_gamedb_etl_spark.operators import textops

    df = textops.text_char_entropy(spark, sf_dir)
    plan = plans.physical(df)
    assert "Window" not in plan
    assert plan.count("partial_count") >= 1, "lost map-side combine"
    tree = plans.explain_str(df, "formatted").split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, "documents scanned more than once"


def test_ivf_pq_composed_serving_plan(spark, sf_dir):
    """The composed IVFPQ serve after the r15 fused encode+ADC
    rewrite: ONE Arrow kernel scores each candidate vector (no
    32×-row subspace explode — no Generate node — and no broadcast
    LUT join or per-vector re-aggregation left in the serving tail),
    the final ranking stays TakeOrderedAndProject (true distributed
    top-k), and nothing plans as a cartesian product.  The serving
    inputs are the materialized assignment/unit-corpus barriers, so
    the plan reads ExistingRDD, never re-deriving the fits."""
    from bigdata_gamedb_etl_spark.operators import similarity

    df = similarity.sim_ivf_pq_topk(spark, sf_dir)
    plan = plans.physical(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan, "fused ADC kernel missing"
    assert "Generate" not in plan, "subspace explode came back"
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan, "serving re-derives the fits"


def test_ivfpq_residual_serving_plan(spark, sf_dir):
    """The residual IVFADC serve keeps the composed tier's r15
    contracts — fused Arrow kernel (residual subtraction + per-cell
    encode + ADC sum + offset, one boundary), no subspace explode,
    no LUT/offset/centroid joins in the serving tail,
    TakeOrderedAndProject final ranking, no cartesian product, and
    ExistingRDD-only inputs."""
    from bigdata_gamedb_etl_spark.operators import similarity

    df = similarity.sim_ivfpq_residual_topk(spark, sf_dir)
    plan = plans.physical(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan, "fused ADC kernel missing"
    assert "Generate" not in plan, "subspace explode came back"
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan, "serving re-derives the fits"


@pytest.mark.parametrize(
    "name, jobs",
    [
        ("sim_pq_topk", 11),
        ("sim_ivf_pq_topk", 26),
        ("sim_ivfpq_residual_topk", 29),
        ("dedup_cluster_assign", 18),
        ("dedup_cluster_assign_star", 26),
        ("dedup_lsh_cluster_assign", 29),
        ("dedup_incremental_cc", 50),
        ("dedup_ngram_jaccard_pairs", 7),
        ("dedup_lsh_band_ladder", 19),
        ("text_bigram_logprob", 11),
        # dedup_simhash_clusters is not pinned: its count varies between
        # runs in one session (53 or 54)
    ],
)
def test_driver_job_count(spark, sf_dir, name, jobs):
    """Driver jobs for building and collecting each query.  PQ family:
    the fits' seed draws and per-round take()s, the assignment
    barriers, the query-row fetch and the final collect.  CC family:
    one barrier job per round, which also observes the convergence
    value, plus the edge-generation barriers and the final collect.
    Pair and LM queries (n-gram Jaccard, LSH band ladder, bigram
    log-prob): the jobs their builds run plus the final collect.
    A new driver action in any of these paths changes the count.  The
    counts are those of the default test data: a CC loop's round count
    depends on its graph."""
    from bigdata_gamedb_etl_spark.registry import all_queries

    sc = spark.sparkContext
    group = f"job-count-{name}"
    sc.setJobGroup(group, group)
    try:
        all_queries()[name](spark, sf_dir).collect()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_lloyd_assignment_is_broadcast(spark, sf_dir):
    """KMeans assignment must probe BROADCAST centroids (k×d grain):
    no sort-merge join and no shuffle of the vector table keyed on
    anything but its final aggregates.  A SortMergeJoin here would
    mean the centroid table stopped being treated as broadcast-sized."""
    from bigdata_gamedb_etl_spark.operators import similarity

    df = similarity.sim_kmeans_lloyd_step(spark, sf_dir)
    assert plans.uses_broadcast_join(df)
    plan = plans.physical(df)
    assert "CartesianProduct" not in plan


def test_pca_power_iteration_no_window_no_collect_shape(spark, sf_dir):
    """The power-iteration step is posexplode → per-dim hash-agg with
    a broadcast norm: no Window, map-side partial aggregation present
    (the per-dim sums combine before the shuffle)."""
    from bigdata_gamedb_etl_spark.operators import similarity

    df = similarity.sim_pca_power_iteration(spark, sf_dir)
    plan = plans.physical(df)
    assert "Window" not in plan
    assert "partial_sum" in plan, "per-dim sums lost map-side combine"


def test_curriculum_uses_broadcast_cuts_no_window(spark, sf_dir):
    """Curriculum phases come from broadcast percentile_disc cuts (the
    RFM pattern): no Window operator anywhere — a global ntile-style
    sort would single-task the corpus at 100 TB."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    plan = plans.physical(pipeline.pipeline_curriculum_order(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan


def test_bigram_lm_reuses_doc_bigram_exchange(spark, sf_dir):
    """The (doc, x, y) count exchange must feed BOTH the model build
    and the scoring join.  Static canonicalization can't match the
    lambda-bearing explode subtrees, so — like the PMI contract — this
    asserts ReusedExchange on the EXECUTED plan (AQE stage reuse): the
    expensive explode+count shuffle runs once, not once per branch."""
    from bigdata_gamedb_etl_spark.operators import textops

    df = textops.text_bigram_logprob(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_semantic_decontaminate_broadcasts_bench(spark, sf_dir):
    """The benchmark side (tiny by construction) must broadcast: the
    corpus probe is a BroadcastNestedLoopJoin, never a shuffle of the
    embedding table on a join key, and the per-vector rollup keeps
    map-side partial aggregation."""
    from bigdata_gamedb_etl_spark.operators import similarity

    df = similarity.dedup_semantic_decontaminate(spark, sf_dir)
    plan = plans.physical(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mixture_reweight_broadcasts_rates_no_window(spark, sf_dir):
    """The per-source rate table (|sources| rows) must broadcast back
    over the corpus — one corpus shuffle on `source` end-to-end, no
    Window anywhere."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    df = pipeline.pipeline_mixture_reweight(spark, sf_dir)
    plan = plans.physical(df)
    assert "BroadcastExchange" in plan
    assert "Window" not in plan


def test_corpus_emit_drop_list_equi_anti_no_forced_broadcast(spark, sf_dir):
    """The emit mart removes cluster-member non-keepers via an EQUI
    anti-join on doc_id with NO forced broadcast hint: the drop list
    is corpus-proportional (dup share can hit 40% at web scale), so
    broadcast-vs-shuffle must be AQE's runtime call, never a hint that
    OOMs the driver when the dup share grows.  No cartesian product,
    and the join keys are real (no BroadcastNestedLoopJoin)."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    df = pipeline.pipeline_corpus_emit(spark, sf_dir)
    plan = plans.physical(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # the anti-join must be an EQUI join (hash or sort-merge — AQE's
    # call); the only nested-loop allowed is the curriculum's 1-row
    # quantile-cuts cross join, never the LeftAnti itself
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines and all(
        "NestedLoopJoin" not in ln for ln in anti_lines
    ), anti_lines


def test_leakage_split_cluster_join_no_forced_broadcast(spark, sf_dir):
    """The split's cluster join is equi on doc_id with no forced
    broadcast (same corpus-proportional hazard as the emit mart) and
    the three-way split report plans no cartesian product."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    df = pipeline.pipeline_leakage_safe_split(spark, sf_dir)
    plan = plans.physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_assignment_broadcast_no_cartesian(spark, sf_dir):
    """SemDeDup's assignment stage probes BROADCAST centroids (k×d
    grain) and the within-cluster pair stage is an equi-join on the
    cluster key — no cartesian product anywhere.  r14: the prune query
    materializes the assignment once (its three consumers re-ran the
    fit lineage before), so the centroid-probe contract is asserted on
    the assignment stage itself and the final plan must show the
    barrier (ExistingRDD) instead of re-derived scans."""
    from bigdata_gamedb_etl_spark.operators import similarity

    _, assigned = similarity._seed_assigned(spark, sf_dir)
    stage = plans.physical(assigned)
    assert "BroadcastNestedLoopJoin" in stage  # centroid probe
    assert "CartesianProduct" not in stage

    plan = plans.physical(similarity.sim_semdedup_prune(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan, "assignment barrier lost"
    assert plan.count("Scan parquet") == 0, (
        "prune consumers re-derive the assignment from the source scan"
    )


def test_mrl_recall_both_sides_are_topk(spark, sf_dir):
    """Both retrieval sides of the truncation audit must plan as
    TakeOrderedAndProject (true distributed top-k) — a global Sort
    would single-task the corpus at scale."""
    from bigdata_gamedb_etl_spark.operators import similarity

    plan = plans.physical(
        similarity.sim_mrl_truncation_recall(spark, sf_dir)
    )
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_weighted_sample_is_topk_no_shuffle(spark, sf_dir):
    """A-ES weighted sampling must plan as a narrow map +
    TakeOrderedAndProject: no hash exchange, no Window, no global
    Sort — each task offers its partition's candidates independently."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    plan = plans.physical(pipeline.pipeline_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


def test_split_contamination_single_corpus_explode(spark, sf_dir):
    """r8 single-corpus-scan sweep: the contamination audit folds split
    membership into per-shingle flags, so the corpus shingle explode
    appears EXACTLY once in the optimized plan.  The first cut filtered
    train/eval before per-branch distincts and ran the explode twice
    (grouping-key predicate pushdown below the aggregates defeated
    exchange reuse) — this contract pins the regression class."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    df = pipeline.pipeline_split_contamination(spark, sf_dir)
    assert plans.num_explodes(df) == 1, plans.optimized(df)


def test_bloom_audit_reuses_the_shingle_aggregate(spark, sf_dir):
    """r8 single-corpus-scan sweep: the bloom audit's bits and probe
    branches both sit above ONE explode->groupBy member-flag aggregate
    (the bits filter is on the AGGREGATED flag, which cannot push below
    the aggregate), so at runtime AQE must reuse that exchange instead
    of re-running the corpus explode per branch.  The logical plan
    still PRINTS the subtree per consumer — reuse is a physical-plan
    fact, hence the finalized-plan assertion."""
    df = dedup.dedup_bloom_prefilter(spark, sf_dir)
    fin = plans.finalized(df)
    assert "ReusedExchange" in fin, fin


def test_split_drift_single_scan_no_join(spark, sf_dir):
    """r9: the train-vs-val centroid drift folds the split into
    conditional aggregates over ONE posexplode scan (the r8 plan-reuse
    rule) — a two-filtered-branch formulation would run the embedding
    scan twice and join on dim.  No join anywhere in the plan, exactly
    one explode."""
    from bigdata_gamedb_etl_spark.operators import similarity

    df = similarity.sim_split_embedding_drift(spark, sf_dir)
    opt = plans.optimized(df)
    # num_explodes counts "Generate explode"; this scan is a posexplode
    assert opt.count("Generate") == 1, opt
    assert "Join" not in opt, opt


def test_packing_efficiency_single_manifest_agg(spark, sf_dir):
    """r9: the packing audit is one hash-agg over the packing manifest
    — no joins, and the manifest's per-shard window appears once."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    df = pipeline.pipeline_packing_efficiency(spark, sf_dir)
    opt = plans.optimized(df)
    assert "Join" not in opt, opt
    assert opt.count("Window") <= 1, opt


def test_degree_histogram_single_pair_generation(spark, sf_dir):
    """r8 single-corpus-scan sweep: the degree histogram builds its
    endpoint multiset via explode(array(d1, d2)) — one pair-generation
    execution (3 explodes) plus the endpoint explode.  The old
    _sym_edges union re-executed the whole shingle/posting-list pair
    generation per branch (6+ explodes)."""
    from bigdata_gamedb_etl_spark.operators import graph

    df = graph.graph_degree_distribution(spark, sf_dir)
    assert plans.num_explodes(df) <= 4, plans.optimized(df)


def test_minhash_signature_parse_not_cloned_into_aggregates(spark, sf_dir):
    """r10: the md5 mulmod signature recipe parses the hex base hash
    ONCE per shingle (one Generate, one conv per hh column) and the 32
    permutation min-aggregates reference the hh1/hh0 attributes.  If a
    refactor lets projection collapse clone the conv parse into each
    aggregate (the array-of-lambdas failure mode, measured 4× slower),
    the conv count explodes past this bound."""
    from bigdata_gamedb_etl_spark.operators import dedup

    sig = dedup._minhash_signatures(spark, sf_dir)
    opt = plans.optimized(sig)
    assert opt.count("Generate") == 1, opt
    assert opt.count("conv(") <= 2, opt
    # one shuffle: the doc_id agg (partial → exchange → final)
    assert plans.num_exchanges(sig) == 1, plans.physical(sig)


def test_ann_lsh_probe_join_broadcasts_query_buckets(spark, sf_dir):
    """The band-OR candidate join must broadcast the query row's L
    probe buckets into the corpus index — shuffling the corpus index
    against a 24-row table would be the 100 TB mistake."""
    from bigdata_gamedb_etl_spark.operators import similarity

    df = similarity.sim_ann_lsh_topk(spark, sf_dir)
    assert plans.uses_broadcast_join(df)
    assert "CartesianProduct" not in plans.physical(df).replace(
        "BroadcastNestedLoopJoin", ""
    )


def test_lsh_recall_curve_no_cartesian_and_checkpointed_inputs(
    spark, sf_dir
):
    """r10: the per-bin recall curve shares ONE signature table and ONE
    exact pair set across its 4 band settings via localCheckpoint — the
    final plan must read checkpointed RDDs (no re-execution of the
    shingle pipeline per setting) and contain no cartesian join.
    r15: the loosest-band candidate self-join is GONE — flags are
    evaluated directly on the exact pairs' signature rows (the
    nesting theorem makes that identical to the old left-join), so
    the plan must carry no band posexplode (Generate) and no
    band_hash key anywhere."""
    from bigdata_gamedb_etl_spark.operators import dedup

    df = dedup.dedup_lsh_recall_by_jaccard(spark, sf_dir)
    phys = plans.physical(df)
    assert "CartesianProduct" not in phys, phys
    # the checkpointed sig/exact tables surface as RDD scans
    assert "Scan ExistingRDD" in phys, phys
    assert "band_hash" not in phys, "loosest-band self-join came back"


def test_ivf_recall_curve_single_scored_pass(spark, sf_dir):
    """r15: the nprobe ladder is ONE scored pass over the materialized
    assignment + a per-cell top-k window + one conditional
    aggregation — not five per-step subplans.  Pins: no Union (the
    old plan glued 5 per-step parts), exactly one cell-partitioned
    window subtree feeding the survivor filter, the single-row
    attaches broadcast (never cartesian), and ExistingRDD inputs (the
    assignment/exact barriers, no re-derivation)."""
    from bigdata_gamedb_etl_spark.operators import similarity

    df = similarity.sim_ivf_recall_curve(spark, sf_dir)
    phys = plans.physical(df)
    assert "Union" not in phys, "per-step ladder parts came back"
    assert "CartesianProduct" not in phys, phys
    assert "Window" in phys, "per-cell top-k window missing"
    assert "Scan ExistingRDD" in phys, phys
    assert "Scan parquet" not in phys, "ladder re-derives its inputs"


def test_substring_spans_window_is_doc_partitioned(spark, sf_dir):
    """The islands window must be partitioned by doc_id (state bounded
    by document length, never corpus size), the duplicated-gram
    restriction must be an equi-join on the 8-byte gram key (never a
    pair join of postings), and the corpus is scanned at most twice
    (seed build + the self-referencing df filter)."""
    plan = plans.physical(dedup.dedup_substring_spans(spark, sf_dir))
    assert "Window" in plan
    win = [ln for ln in plan.splitlines() if "Window" in ln]
    assert any("doc_id" in ln for ln in win)
    assert "CartesianProduct" not in plan
    tree = plans.explain_str(
        dedup.dedup_substring_spans(spark, sf_dir), "formatted"
    ).split("\n\n")[0]
    assert tree.count("Scan parquet") <= 2


def test_cm_sketch_probe_join_broadcasts_counters(spark, sf_dir):
    """The CM probe joins candidate cells against the d×w counter
    table; the counter side is bounded (≤ CM_DEPTH·CM_WIDTH rows
    regardless of corpus size) and must broadcast — a shuffle here
    would re-exchange the whole candidate set for a 32k-row dim."""
    from bigdata_gamedb_etl_spark.operators import sketches

    plan = plans.physical(
        sketches.sketch_cm_heavy_hitters(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_merge_is_two_bounded_aggregates(spark, sf_dir):
    """The HLL rollup's shuffles are register-bounded: after the
    per-day partial agg every exchange carries ≤ types·days·m rows —
    the plan must be pure scan→aggregate layers with no window and no
    join wider than the 5-row day-count attach."""
    from bigdata_gamedb_etl_spark.operators import sketches

    plan = plans.physical(
        sketches.sketch_hll_mulmod_merge(spark, sf_dir)
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_jaccard_rank_window_is_doc_partitioned(spark, sf_dir):
    """The canonical-order rank window must be partitioned by doc_id
    (doc-bounded state), the candidate join must be an equi-join on
    the token hash (no cartesian anywhere), and the verify stage must
    use the JVM array_intersect, not a second postings self-join."""
    plan = plans.physical(dedup.dedup_prefix_jaccard_pairs(spark, sf_dir))
    win = [ln for ln in plan.splitlines() if "Window" in ln]
    assert win and any("doc_id" in ln for ln in win)
    assert "CartesianProduct" not in plan
    assert "array_intersect" in plan


def test_logbin_quantile_window_runs_over_merged_bins(spark, sf_dir):
    """The quantile sketch's cumulative window is global ONLY because
    it runs over the merged bin table (≤ ~15·90 rows): every Window in
    the plan must sit above at least one HashAggregate (the w12
    structural check), and nothing in the plan may be a cartesian
    product other than the two broadcast scalar attaches."""
    from bigdata_gamedb_etl_spark.operators import sketches

    plan = plans.explain_str(
        sketches.sketch_logbin_quantiles(spark, sf_dir), "formatted"
    )
    tree = plan.split("\n\n")[0].splitlines()
    win_rows = [i for i, ln in enumerate(tree) if "Window" in ln]
    agg_rows = [i for i, ln in enumerate(tree) if "HashAggregate" in ln]
    assert win_rows and agg_rows
    assert any(a > win_rows[-1] for a in agg_rows), (
        "cumulative curve is not over the merged bin aggregate"
    )
    assert "CartesianProduct" not in plan


def test_hll_linear_counting_lookup_is_literal_not_join(spark, sf_dir):
    """r13: the linear-counting estimate reads element_at over the
    _HLL_LC_USERS literal array — the r12 broadcast-join form cost an
    extra exchange + stage on a sub-second query (quiet best-of-3
    1.73 → 0.89 s at sf0.1).  The only joins left in the plan are the
    days_merged attach; a plan that joins on v_zero means the lookup
    regressed to the join form."""
    from bigdata_gamedb_etl_spark.operators import sketches

    plan = plans.physical(
        sketches.sketch_hll_mulmod_merge(spark, sf_dir)
    )
    join_lines = [
        ln for ln in plan.splitlines()
        if "Join" in ln and "v_zero" in ln
    ]
    assert not join_lines, f"LC lookup joined on v_zero: {join_lines}"
    assert "element_at" in plan


def test_bigram_lm_scoring_join_broadcasts_model(spark, sf_dir):
    """r14 (r13 verdict item 4): the LM scoring join must broadcast
    the model side — the bigram-TYPE table is Heaps-law sublinear in
    the corpus (931 → 9,310 rows over the probe's 10× step) while
    doc_bg is corpus-sized, so a sort-merge join here means the
    corpus-sized doc-bigram stream is shuffling on (x, y) to meet a
    kilobyte table.  Left to size estimates the planner picked
    broadcast at sf0.01 but can flip past the threshold at larger
    SFs — the explicit hint pins it; every join in this plan (the
    scoring join and the model-internal c_x attach) must be
    broadcast."""
    df = textops.text_bigram_logprob(spark, sf_dir)
    plan = plans.physical(df)
    assert "BroadcastHashJoin" in plan
    offenders = [
        ln for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
    ]
    assert not offenders, f"LM join lost its broadcast: {offenders}"


def test_single_row_totals_are_broadcast_not_cartesian(spark, sf_dir):
    """r14 (r13 verdict nit): the three single-row-aggregate
    crossJoins that leaned on AQE (dq_k_anonymity's total,
    graph_triangle_count's node counts, sim_ivf_recall_curve's
    candidate count) now carry the explicit F.broadcast hint like
    every other total-attach in the repo — the static plan must show
    the broadcast nested-loop form, never a CartesianProduct."""
    from bigdata_gamedb_etl_spark.operators import extended, graph
    from bigdata_gamedb_etl_spark.operators import similarity as sim

    for q in (
        extended.dq_k_anonymity,
        graph.graph_triangle_count,
        sim.sim_ivf_recall_curve,
    ):
        plan = q(spark, sf_dir)._jdf.queryExecution().sparkPlan().toString()
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" in plan, (
            f"{q.__name__} single-row attach is not broadcast"
        )
