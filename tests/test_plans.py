"""Physical-plan shape tests: the scale properties SURVEY §4 commits to
(pushdown, pruning, broadcast strategy, map-side partial aggregation)
must be visible in `.explain` output — a correct-but-degraded plan is a
regression even when results still match the oracle."""

from __future__ import annotations

import re

import pytest

from pyspark_pipelining_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def plan_of(spark, name: str) -> str:
    return formatted_plan(spark, QUERIES[name](spark, SF_SMOKE))


@pytest.fixture(scope="module")
def all_plan_texts(spark):
    """Formatted explain of EVERY registered query, built once per
    module and shared by the repo-wide invariant gate and the
    plan-shape lock gate (building 200+ plans — the iterative ones
    execute their loops during construction — is the expensive part,
    so the gates split one pass).

    Each build is cache-isolated (``runner.release`` before it), like
    ``tools/plan_lock.py``: plan text must not depend on build ORDER."""
    from pyspark_pipelining_spark import runner

    texts = {}
    for name in QUERIES:
        runner.release(spark)
        texts[name] = plan_of(spark, name)
    runner.release(spark)
    return texts


def test_pricing_summary_pushes_date_filter_and_prunes_columns(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # projection pruning: the 11-column lineitem scan must read only what
    # the query needs (no l_orderkey / l_partkey / l_suppkey)
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert col not in read
    # map-side partial agg: two HashAggregates around the key exchange
    assert plan.count("HashAggregate") >= 2


def test_revenue_by_region_broadcasts_all_dims(spark):
    plan = plan_of(spark, "revenue_by_region")
    # customer/nation/region are dimension-scale: every join must be a
    # broadcast hash join, never a sort-merge shuffle join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_reach_by_etype_auto_broadcasts_at_small_scale(spark):
    # With no hint, the size threshold still picks a broadcast join while
    # the projection side is small — the strategy is chosen, not forced.
    plan = plan_of(spark, "reach_by_etype")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_media_projection_join_degrades_without_broadcast(spark):
    """The projection side is household-cardinality: there must be NO
    forced-broadcast hint on it, so with the size threshold disabled the
    join degrades to a shuffled join instead of OOMing a 100 TB build."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, "reach_by_etype")
        tree = plan.split("\n\n")[0]
        assert "BroadcastHashJoin" not in tree, "projection dim is still hint-forced to broadcast"
        assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_sim_bruteforce_broadcasts_query_side(spark):
    plan = plan_of(spark, "sim_bruteforce_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_minhash_joins_only_on_band_buckets(spark):
    plan = plan_of(spark, "dedup_minhash")
    # the LSH self-join must be keyed (hash-partitioned equi-join on the
    # band/bsig bucket), never a cartesian/nested-loop candidate blowup
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["qa_trailing_window", "qa_hourshift"])
def test_qa_scans_prune_to_needed_columns(spark, name):
    plan = plan_of(spark, name)
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads, "expected a parquet scan"
    for line in reads:
        assert "props" not in line  # the wide JSON column must be pruned


def test_scrub_pii_is_map_side_only(spark):
    """PII scrubbing is per-row regex work: any Exchange in its plan
    means the operator picked up an accidental shuffle."""
    plan = plan_of(spark, "scrub_pii")
    assert "Exchange" not in plan


def test_contamination_broadcasts_eval_side(spark):
    """The corpus side must be probe-only: eval grams broadcast, corpus
    never shuffled on gram (only the final doc_id aggregation may
    exchange)."""
    plan = plan_of(spark, "contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_topk_uses_take_ordered_not_global_sort(spark):
    """Top-k must compile to TakeOrderedAndProject (per-partition heaps),
    never a full Sort + CollectLimit over the vocabulary."""
    plan = plan_of(spark, "vocab_topk")
    assert "TakeOrderedAndProject" in plan


def test_pack_greedy_moves_only_ids_and_costs(spark):
    """The packer's group shuffle must carry (doc_id, source, n_chars)
    only — document payload bytes stay at the scan."""
    plan = plan_of(spark, "pack_greedy")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan


def test_embedding_coherence_broadcasts_centroids(spark):
    """The (label, dim) centroid table is a true broadcast dim; the
    vector side must not be shuffled for the probe join."""
    plan = plan_of(spark, "embedding_coherence")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_attribution_is_one_shuffle_no_join(spark):
    """The union-window as-of plan must contain NO join node and exactly
    one hash exchange (the shared user_id shuffle) — the property that
    makes it survive hot keys where a range join explodes."""
    plan = plan_of(spark, "asof_attribution")
    assert "Join" not in plan
    exchanges = [
        l for l in plan.splitlines() if l.strip().startswith("(") and ") Exchange" in l
    ]
    assert len(exchanges) == 1


def test_partitioned_write_enables_directory_pruning(spark, tmp_path):
    """A partitioned table sink + a filter on the partition column must
    prune at the DIRECTORY level (PartitionFilters), not per-row — the
    scan-elimination mechanism that makes a 100 TB date/type-partitioned
    layout queryable."""
    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.sources.registry import load_table
    from pyspark_pipelining_spark.sources.sinks import write_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "ev_parted")
    write_table(ev, path, partition_by=["event_type"])
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = back._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters: [isnotnull(event_type" in scan
    assert "(event_type" in scan.split("PartitionFilters:")[1]
    assert back.count() > 0


def test_dim_join_triggers_dynamic_partition_pruning(spark, tmp_path):
    """Joining the partitioned fact to a selectively-filtered dim must
    inject a dynamicpruning subquery on the partition column — fact
    directories for dim-rejected keys are never read."""
    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.sources.registry import load_table
    from pyspark_pipelining_spark.sources.sinks import write_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "ev_parted_dpp")
    write_table(ev, path, partition_by=["event_type"])
    dim = spark.createDataFrame(
        [("purchase", 1), ("click", 2)], ["etype", "w"]
    ).filter(F.col("w") == 1)
    joined = spark.read.parquet(path).join(dim, F.col("event_type") == F.col("etype"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert joined.count() > 0


def test_dedup_lines_winner_agg_is_partial_no_window(spark):
    """The first-occurrence winner must come from a map-side-combinable
    min(struct) aggregation on the line fingerprint — NOT a row_number
    window, which would funnel every occurrence of a hot boilerplate
    line through one reducer."""
    plan = plan_of(spark, "dedup_lines")
    assert "Window" not in plan
    # partial_min proves the map-side combine exists before the shuffle
    assert "partial_min" in plan


def test_interval_attribution_is_hash_join_not_nested_loop(spark):
    """The binned interval join must compile to a hash equi-join on
    (key, bin) — a raw range predicate would give BroadcastNestedLoop /
    per-key cross-product work."""
    plan = plan_of(spark, "interval_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_bloom_prefilter_probe_side_broadcast_only(spark):
    """The bloom word table must reach the probe via broadcast joins —
    a SortMergeJoin would mean the candidate side got shuffled for the
    filter, defeating the prefilter's purpose."""
    plan = plan_of(spark, "bloom_prefilter")
    assert "BroadcastHashJoin" in plan


def test_chunk_overlap_is_map_side_only(spark):
    """Chunking is sequence/posexplode/substring per row: any Exchange
    means payload text got shuffled for nothing."""
    plan = plan_of(spark, "chunk_overlap")
    # the orderBy is presentation (range partitioning); no hash shuffle
    assert "Exchange hashpartitioning" not in plan


def test_value_outliers_broadcasts_stats_never_shuffles_fact(spark):
    """The per-type stats table (5 rows) must reach the fact via
    broadcast; a hashpartitioning Exchange on the fact side would mean
    the whole event table shuffles to apply a 5-row filter."""
    plan = plan_of(spark, "value_outliers")
    assert "BroadcastHashJoin" in plan


def test_funnel_report_is_single_user_shuffle(spark):
    """The funnel fold must cost exactly one hashpartitioning Exchange
    (on user_id) — the textbook per-step self-join formulation costs k."""
    plan = plan_of(spark, "funnel_report")
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_fuzzy_parts_is_equi_block_join_not_nested_loop(spark):
    """Blocking must reach the join: an equi hash/merge join on the
    block key, never a cartesian/nested-loop over all part pairs."""
    plan = plan_of(spark, "fuzzy_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # equi join on the block key survives


def test_lm_score_model_is_broadcast_no_python_workers(spark):
    """The bigram model joins back as a broadcast (vocab-sized dim);
    the whole pipeline is JVM-side — no Python/Arrow eval nodes."""
    plan = plan_of(spark, "lm_score")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # map-side partial combine on the bigram count agg
    assert plan.count("HashAggregate") >= 2


def test_cube_revenue_is_single_expand_one_shuffle(spark):
    """CUBE must be one Expand + one aggregation exchange — not one
    scan per granularity (the reference's per-granularity round-trips,
    SURVEY §2.4 A12)."""
    plan = plan_of(spark, "cube_revenue")
    tree = plan.split("\n\n")[0]
    assert tree.count("Expand") >= 1
    assert tree.count("Scan parquet") == 1


def test_trailing_user_value_is_single_window_one_shuffle(spark):
    """The RANGE frame must run as ONE Window over one user_id
    exchange — no self-join expansion of the trailing interval."""
    plan = plan_of(spark, "trailing_user_value")
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1
    assert "Join" not in tree
    assert tree.count("Exchange") == 1


def test_argmax_orders_is_one_agg_no_window(spark):
    """Struct-max argmax: map-side partial + final agg, no window, no
    join, no sort of the fact."""
    plan = plan_of(spark, "argmax_orders")
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    assert "Join" not in tree
    assert tree.count("HashAggregate") >= 2 or "SortAggregate" in tree


def test_kmeans_assignment_never_shuffles_vectors(spark):
    """Lloyd assignment is a map-side higher-order argmin against ONE
    broadcast centroid row: every Exchange in the plan is keyed on
    (cell/pos) centroid aggregation — the corpus (vec_id, vector) must
    never be a shuffle key."""
    plan = plan_of(spark, "kmeans_cells")
    tree = plan.split("\n\n")[0]
    for line in tree.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "vec_id" not in line, line


def test_pq_training_never_shuffles_vectors(spark):
    """PQ Lloyd training + ADC scoring: every shuffle is keyed on
    codebook coordinates (sub/cell/spos) or query ids; the one vec_id
    exchange is the narrow (id, m-codes) array groupBy — raw vectors
    are never a shuffle key."""
    import re

    df = QUERIES["sim_pq_topk"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    specs = [m.group(1) for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan)]
    assert specs, "expected shuffle exchanges in the PQ plan"
    for spec in specs:
        assert "ss#" not in spec and "embedding#" not in spec, spec
    vec_keyed = [s for s in specs if s.startswith("vec_id")]
    assert len(vec_keyed) == 1, vec_keyed  # only the code-array groupBy


def test_activity_islands_is_single_user_shuffle(spark):
    """Gaps-and-islands: the day dedup, the island numbering, and the
    island aggregation all ride ONE user_id exchange (two Windows on
    the same partitioning; the (user, grp) agg is satisfied by the
    user_id distribution)."""
    plan = plan_of(spark, "activity_islands")
    tree = plan.split("\n\n")[0].splitlines()
    assert sum("Exchange" in l and "Broadcast" not in l for l in tree) == 1
    assert sum("Window" in l for l in tree) == 2


def test_unshipped_revenue_topk_uses_take_ordered(spark):
    """The Q3 top-k must be a TakeOrderedAndProject over the aggregate,
    never a full global sort, and both date filters must reach the
    parquet scans."""
    plan = plan_of(spark, "unshipped_revenue_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("PushedFilters: [IsNotNull") >= 2


def test_market_share_broadcasts_all_dims_single_fact_agg(spark):
    """Q8 shape: every dim join is broadcast (fact never shuffles for
    them); the ratio window runs over nation-sized partials only."""
    plan = plan_of(spark, "market_share")
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" not in tree
    assert tree.count("BroadcastHashJoin") >= 3


def test_rp_sketch_is_pure_map_side(spark):
    """The JL projection must be shuffle-free: no Exchange anywhere in
    its plan (pure per-row integer arithmetic)."""
    plan = plan_of(spark, "rp_sketch")
    assert "Exchange" not in plan.split("\n\n")[0]


def test_ivfpq_corpus_flows_as_codes_never_vectors(spark):
    """IVF-PQ: after encoding, the corpus moves as (vec_id, cell,
    codes) only — no shuffle is keyed on the raw embedding; probes and
    distance tables are broadcast."""
    import re

    df = QUERIES["sim_ivfpq_topk"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for spec in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "embedding#" not in spec.group(1) and "ss#" not in spec.group(1), spec.group(1)


def test_inverted_index_topk_is_salted_two_phase(spark):
    """The hot-token guard: no window sort may run over a bare token
    partition (a stopword token would serialize its whole posting
    stream into one task).  Phase 1 must sort/partition on
    (token, salt) and the per-token merge must be a hash aggregate over
    the bounded salts*k partials."""
    import re

    plan = plan_of(spark, "inverted_index")
    # every window function must partition on (token, salt), never bare
    # token — windowspecdefinition(token#N, salt#M, ...) in the plan
    wspecs = re.findall(r"windowspecdefinition\((token#\d+[^,]*, [^,]*)", plan)
    assert wspecs, "no window spec found"
    for spec in wspecs:
        assert "salt#" in spec, f"window over bare token partition: {spec}"
    # phase 1 exchanges on (token, salt); phase-2 merge of the bounded
    # salts*k partials may hash on bare token (legitimately tiny rows)
    specs = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any(s.startswith("token#") and "salt#" in s for s in specs), specs
    # phase-2 merge is an aggregation (partial+final), not a window
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 2


def test_returned_revenue_topk_pushes_flag_and_date_filters(spark):
    """Q10 shape: the returnflag equality and the order-date range must
    reach the parquet scans, not sit above the join."""
    plan = plan_of(spark, "returned_revenue_topk")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate,1995-10-01" in plan


def test_volume_shipping_has_no_cartesian_or_nested_loop(spark):
    """Q7 shape: every hop is an equi-join (broadcast at test scale,
    shuffle-hash/SMJ on the fact pair at cluster scale) — a cartesian
    or nested-loop anywhere means a join condition got dropped."""
    plan = plan_of(spark, "volume_shipping")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_min_cost_supplier_broadcasts_dims_single_pair_shuffle(spark):
    """Q2 shape: part and supplier must come in as broadcast joins; the
    only exchange is the hash shuffle for the pair-distinct (plus AQE
    coalescing) — no dim-side shuffle."""
    plan = plan_of(spark, "min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_forecast_revenue_pushes_all_predicates(spark):
    """Q6 shape: a pure scan-aggregate — quantity and discount bounds
    must reach the parquet scan as pushed filters."""
    plan = plan_of(spark, "forecast_revenue")
    assert "LessThan(l_quantity,24" in plan
    assert "GreaterThanOrEqual(l_discount,0.04)" in plan
    # and no join at all
    assert "Join" not in plan


def test_range_join_bands_is_broadcast_nested_loop(spark):
    """The 5-row band table must be the broadcast side of a nested-loop
    range join — the correct shape for a non-equi dim join (a cartesian
    against an un-broadcast side would shuffle the fact)."""
    plan = plan_of(spark, "range_join_bands")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_waiting_orders_scans_lineitem_once(spark):
    """Q21 restated as one per-order aggregate: the classic EXISTS /
    NOT-EXISTS formulation self-joins the fact twice; ours must scan
    lineitem exactly once."""
    plan = plan_of(spark, "waiting_orders")
    assert plan.count("lineitem.parquet") == 1


def test_char_diversity_has_partial_aggregation(spark):
    """The exploded char stream must partially aggregate BEFORE the
    doc_id shuffle (≤26 rows per doc per partition cross the wire) —
    losing the map-side combine would shuffle one row per character."""
    plan = plan_of(spark, "char_diversity")
    assert "HashAggregate" in plan
    assert "partial_count" in plan


@pytest.mark.quick
def test_no_query_has_cartesian_or_python_row_udf(spark, all_plan_texts):
    """Repo-wide invariants over every registered query's physical
    plan: (1) no CartesianProduct — scalar stitches must broadcast, so
    they compile to BroadcastNestedLoopJoin over one row, never a
    cartesian of two real tables; (2) no BatchEvalPython — row-at-a-time
    Python UDFs are banned from the hot path (Arrow-batched
    mapInPandas/applyInPandas compile to different nodes and stay
    allowed)."""
    offenders = {}
    for name in QUERIES:
        plan = all_plan_texts[name]
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            bad.append("BatchEvalPython")
        if bad:
            offenders[name] = bad
    assert not offenders, f"plan invariant violations: {offenders}"


@pytest.mark.quick
def test_staged_plans_have_no_cartesian_or_python_row_udf(spark, all_plan_texts):
    """The repo-wide plan invariant over the last staged batch, now
    registered: no CartesianProduct, no BatchEvalPython — and each of
    the five is still in the registry the lock gate builds."""
    from tests.conftest import FORMERLY_STAGED

    offenders = {}
    for name in FORMERLY_STAGED:
        assert name in QUERIES, f"formerly staged query unregistered: {name}"
        plan = all_plan_texts[name]
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"staged plan invariant violations: {offenders}"


def test_ohlc_daily_has_no_window(spark):
    """open/close come from min_by/max_by aggregation (map-side
    combinable), never a row_number window — a hot (type, day) group
    must not funnel into a single sorted task."""
    plan = plan_of(spark, "ohlc_daily")
    assert "Window" not in plan


def test_product_profit_broadcasts_all_three_dims(spark):
    """Q9 shape: part/supplier/nation are broadcast; the only
    sort-merge or shuffle-hash join is lineitem ⋈ orders."""
    plan = plan_of(spark, "product_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_important_parts_keeps_global_total_lazy(spark):
    """Q11 shape: the group total must be a 1-row broadcast stitched in
    with a nested-loop join — never a driver collect (no LocalTableScan
    of a collected scalar) and never a real cartesian."""
    plan = plan_of(spark, "important_parts")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_merge_upsert_is_single_full_outer_join(spark):
    """MERGE classification compiles to exactly one full-outer join of
    target and source — no union-of-three-branches triple scan."""
    plan = plan_of(spark, "merge_upsert")
    # one physical join (the tree line + its detail block both mention
    # FullOuter), and each input scanned exactly once — a
    # union-of-branches MERGE would scan target/source repeatedly
    tree = plan.split("\n\n")[0]
    assert tree.count("FullOuter") == 1
    assert plan.count("customer.parquet") == 1
    assert plan.count("orders.parquet") == 1


def test_disjunctive_revenue_pushes_envelope_to_both_scans(spark):
    """Q19 shape: Catalyst cannot push the cross-side OR, so the query
    applies its envelope redundantly per side — brand IN + size range
    must reach the part scan, the quantity span the lineitem scan, and
    the join must be broadcast."""
    plan = plan_of(spark, "disjunctive_revenue")
    assert "In(p_brand, [Brand#12,Brand#23,Brand#34])" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree and "SortMergeJoin" not in tree


def test_bitmap_distinct_is_two_level_aggregate_no_expand(spark):
    """Exact bitmap distinct must be two ordinary hash aggregations
    (word OR, then popcount sum) — no Expand (the countDistinct plan),
    no window, partial aggregation on both levels."""
    plan = plan_of(spark, "bitmap_distinct_users")
    tree = plan.split("\n\n")[0]
    assert "Expand" not in tree and "Window" not in tree
    assert tree.count("HashAggregate") >= 4  # partial+final × two levels


def test_local_supplier_volume_broadcasts_the_join_cycle(spark):
    """Q5 shape: the nation cycle closes with broadcast hops on both
    sides and the one-region filter reaches the region scan."""
    plan = plan_of(spark, "local_supplier_volume")
    assert "EqualTo(r_name,ASIA)" in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in tree


def test_event_transitions_is_one_user_shuffle_then_cells(spark):
    """The lag window shuffles once on user_id; the probability window
    runs over the bounded transition-cell table only."""
    plan = plan_of(spark, "event_transitions")
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 2
    # the big input (events) is scanned exactly once
    assert plan.count("events.parquet") == 1


def test_oov_rate_vocab_is_take_ordered_and_broadcast(spark):
    """The top-k vocabulary must come from TakeOrdered (per-partition
    heaps) and join back as a broadcast — the token stream never
    shuffles for vocabulary membership."""
    plan = plan_of(spark, "oov_rate")
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_ks_drift_scans_events_at_most_twice(spark):
    """Binned KS: one scan for bounds, one for binning — the histogram
    branch must not multiply raw-event scans (the window work runs on
    the bounded 256-row table)."""
    plan = plan_of(spark, "ks_drift")
    assert plan.count("events.parquet") <= 2


def test_session_paths_topk_is_take_ordered(spark):
    """The global top-k over trigram counts must compile to
    TakeOrderedAndProject (per-partition heaps), never a full sort of
    the path-count table."""
    plan = plan_of(spark, "session_paths")
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree


def test_convergence_probes_are_bounded_actions_on_checkpointed_state(
    spark, monkeypatch
):
    """r06 watch-list: the per-round driver scalars of
    ``iterate``'s fixpoint mode (cluster_assignments' label sum, a
    k-core peel's edge count) are loop control over
    checkpointed, already-materialized frames.  Pin (1) the action
    count stays bounded by rounds+1 (convergence detection fires) and
    (2) every probed plan is a scan/agg of materialized state
    (LogicalRDD), never a join/recompute pipeline — so a refactor
    cannot silently turn loop control into a data-path collect.
    Only actions issued inside the operator call are recorded (the
    block probe is a bounded ``collect``), not the test's own result
    collect; an action nested in another (``first`` -> ``collect``)
    counts once."""
    # patch the CONCRETE class: pyspark.sql.DataFrame is the abstract
    # API in Spark 4; sessions hand out classic.dataframe.DataFrame,
    # whose own first/count/collect would shadow a base-class patch
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older pyspark: one concrete class
        from pyspark.sql import DataFrame

    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.operators import dedup, graph
    from pyspark_pipelining_spark.operators.iterate import iterate

    probed: list[str] = []
    recording = False

    def spy(orig):
        def action(self, *args, **kwargs):
            nonlocal recording
            if not recording:
                return orig(self, *args, **kwargs)
            probed.append(self._jdf.queryExecution().optimizedPlan().toString())
            recording = False
            try:
                return orig(self, *args, **kwargs)
            finally:
                recording = True

        return action

    for name in ("first", "count", "collect"):
        monkeypatch.setattr(DataFrame, name, spy(getattr(DataFrame, name)))

    def probes_of(build) -> list[str]:
        nonlocal recording
        probed.clear()
        recording = True
        try:
            result = build()
        finally:
            recording = False
        result.collect()
        return list(probed)

    # triangle (its own 2-core) + a pendant edge that peels away
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5)], "doc_1 bigint, doc_2 bigint"
    )
    cc_probes = probes_of(lambda: dedup.cluster_assignments(pairs, max_iter=12))
    # one tagged-sum probe per executed block (the first also sums the
    # init labels); converges inside the first block here
    assert 1 <= len(cc_probes) <= (12 + 3) // 4
    kc_probes = probes_of(
        lambda: iterate(graph.symmetrize(pairs), graph._peel(2), 50, until=F.count(F.lit(1)))
    )
    # initial count + peel round + fixpoint-confirm round — NOT max_rounds
    assert 2 <= len(kc_probes) <= 4
    for plan in cc_probes + kc_probes:
        assert "LogicalRDD" in plan and "Join" not in plan, plan


def test_fingerprint_parser_buckets_and_ignores():
    """Pure parse check: node kinds bucket correctly, codegen tags and
    expression ids are ignored, scan variants all land in `scans`, and
    non-cost nodes (Project/Filter) don't appear at all."""
    from pyspark_pipelining_spark.plans.fingerprint import (
        diff_locks,
        fingerprint_plan_text,
    )

    text = "\n".join(
        [
            "== Physical Plan ==",
            "AdaptiveSparkPlan (9)",
            "(1) Scan parquet ",
            "(2) Filter [codegen id : 1]",
            "(3) Project [codegen id : 1]",
            "(4) HashAggregate [codegen id : 1]",
            "(5) Exchange",
            "(6) HashAggregate [codegen id : 2]",
            "(7) BroadcastExchange",
            "(8) BroadcastHashJoin [codegen id : 2]",
            "===== Subqueries =====",
            "(10) Scan ExistingRDD",
            "(11) ReusedExchange [Reuses operator id: 7]",
            # catalog-qualified scan: dots/underscores in the kind must
            # still bucket into `scans` (r12 ADVICE blind spot)
            "(12) Scan parquet spark_catalog.default.some_table",
        ]
    )
    fp = fingerprint_plan_text(text)
    assert fp == {
        "bhj": 1,
        "broadcasts": 1,
        "hash_aggs": 2,
        "reused": 1,
        "scans": 3,
        "shuffles": 1,
    }
    drift = diff_locks({"q": fp}, {"q": {**fp, "shuffles": 2}})
    assert drift == ["q: shuffles 1 -> 2"]
    assert diff_locks({"q": fp}, {"q": dict(fp)}) == []


@pytest.mark.quick
def test_plan_shapes_match_committed_lock(spark, all_plan_texts):
    """Every registered query's physical-plan SHAPE — its
    counts of shuffle exchanges, broadcasts, join strategies, windows,
    aggregates, scans, generates — must match the committed lock
    (`tools/plan_lock.json`).  Motivation is the round-12 DPP finding:
    plans can degrade silently while every value-level oracle stays
    green, and per-query text assertions only pin the handful of
    queries someone thought to pin.  The lock pins all of them; an
    INTENTIONAL plan change regenerates it in the same commit
    (`python tools/plan_lock.py --write`) so the JSON diff is the
    review artifact.  Shape is taken from the AQE-initial plan (the
    deterministic part); runtime behaviors (coalescing, skew splits,
    DPP metrics, exchange reuse) have their own executed-plan tests."""
    import json
    import os

    from pyspark_pipelining_spark.plans.fingerprint import (
        diff_locks,
        fingerprint_plan_text,
    )

    lock_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "plan_lock.json",
    )
    with open(lock_path) as fh:
        locked = json.load(fh)
    current = {name: fingerprint_plan_text(t) for name, t in all_plan_texts.items()}
    diffs = diff_locks(locked, current)
    assert not diffs, (
        "plan shapes drifted from tools/plan_lock.json — if intentional, "
        "regenerate with `python tools/plan_lock.py --write` and commit the "
        "JSON diff alongside the change:\n" + "\n".join(diffs)
    )


@pytest.mark.quick
def test_rebuilt_query_runs_no_jobs(spark):
    """A query's build re-reads lake files the session has already read:
    ``load_table`` infers each file's schema once per session, so the
    second build of ``reach_overall`` runs no Spark job at all.  A
    schema-inference read (or any other driver action) added to its
    build fails here."""
    from tests.conftest import count_jobs

    def build():
        return QUERIES["reach_overall"](spark, SF_SMOKE)

    count_jobs(spark, build)
    _, jobs = count_jobs(spark, build)
    assert jobs == 0


@pytest.mark.quick
def test_pagerank_build_runs_no_driver_action(spark, tmp_path, monkeypatch):
    """Integer PageRank builds its whole plan without a driver action:
    the node count is a lazy 1-row crossJoin and the rounds run
    through ``iterate``'s fixed mode.  Building it over a parquet edge
    frame calls no DataFrame action.  (The build still runs Spark jobs:
    under AQE each lazily checkpointed round materializes its shuffle
    stages when the checkpoint is planned, so a job count cannot tell
    an action from the loop itself.)"""
    from pyspark.sql import DataFrame

    from pyspark_pipelining_spark.operators import graph
    from tests.test_operator_actions import ACTIONS

    path = str(tmp_path / "edges.parquet")
    pairs = [(0, i) for i in range(1, 5)]
    spark.createDataFrame(pairs + [(b, a) for a, b in pairs], "src long, dst long").write.parquet(
        path
    )
    edges = spark.read.parquet(path)

    def refuse(self, *args, **kwargs):
        raise AssertionError("driver action while building pagerank_int")

    with monkeypatch.context() as m:
        for action in ACTIONS:
            m.setattr(type(edges), action, refuse)
        out = graph.pagerank_int(edges)
    assert isinstance(out, DataFrame)
    assert out.count() == 5


def test_tfidf_cosine_postings_are_cached_for_reuse(spark):
    """The postings table feeds the norm fold plus BOTH sides of the
    pair join — it must come from the persisted handle
    (InMemoryTableScan), not three re-executions of the
    tokenize+tf+vocab chain."""
    from pyspark_pipelining_spark.operators import dedup
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    out = dedup.tfidf_cosine_pairs(docs)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in plan


def test_cooccur_pmi_marginals_are_windows_not_joins(spark):
    """The w1/w2 marginals come from sum windows over the pair-count
    table, not re-aggregated marginal tables joined back: the executed
    plan carries at most 4 hash exchanges (pair groupBy, the two
    marginal windows, and the grand-total branch's re-aggregation) —
    the join-back formulation measured 6+ and 2x the wall clock."""
    from pyspark_pipelining_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    plan = (
        QUERIES["cooccur_pmi"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "SortMergeJoin" not in plan


def test_prefix_joins_have_no_token_keyed_window(spark):
    """r09 skew-proofing regression guard: document frequency in the
    prefix joins must come from the groupBy+join-back (AQE-broadcast /
    AQE-skew-splittable), never from a window partitioned on the token
    — a token-keyed window keys each posting list to one
    non-splittable task.  Every window in the executed plans must
    partition by doc_id (group size bounded by document length), and
    the candidate pipeline must stay SMJ-free at this scale (the df
    table broadcasts)."""
    import re

    from pyspark_pipelining_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    for name in ("jaccard_prefix_pairs", "containment_pairs"):
        plan = (
            QUERIES[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        keys = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
        assert keys and keys <= {"doc_id"}, (name, keys)
        assert "SortMergeJoin" not in plan, name


def test_png_chunk_walk_fold_evaluates_once_per_row(spark):
    """The chunk-walk state machine must appear EXACTLY once in the
    executed plan: the clean-termination gate is folded into the
    posexplode generator (NULL → row dropped), because a Filter on the
    state struct gets predicate-pushed below the projection and
    re-evaluates the whole fold (and re-hexes the payload) once per
    referenced field — the shape this test guards against measured 4
    fold instances.  The signature pre-filter must hex only the first
    8 bytes, never the payload."""
    from pyspark_pipelining_spark.queries_ann_media import q_png_chunks
    from tests.conftest import SF_SMOKE

    plan = (
        q_png_chunks(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the fold's init-state literal is a stable single-instance marker
    assert plan.count("[8,true,false,[]]") == 1, plan.count("[8,true,false,[]]")
    assert "hex(substring(content" in plan  # 8-byte signature probe
    # the walk reads per-step binary slices: a full-payload hex would
    # make the inventory O(file size) instead of O(chunks · 12 bytes)
    assert "hex(content" not in plan


def test_theilsen_monthly_table_is_cached_for_self_join(spark):
    """The (segment, month) revenue table feeds BOTH sides of the
    pairwise-slope self-join — it must come from the persisted handle
    (InMemoryTableScan ×2), not two re-executions of the
    orders-scan + month fold."""
    from pyspark_pipelining_spark.queries_analytics import q_theilsen_trend
    from tests.conftest import SF_SMOKE

    plan = (
        q_theilsen_trend(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert plan.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in plan


def test_aqe_splits_planted_skewed_join(spark):
    """EVIDENCE for the skew claims the operator docstrings lean on
    (prefix joins: 'join-back is AQE-skew-splittable'): plant a hot key
    carrying ~90% of an incompressible fact and assert the final
    adaptive plan actually split it — SortMergeJoin(skew=true) with an
    'AQEShuffleRead skewed' on the fact side.

    Two mechanics this pins: (1) the skew decision happens on
    COMPRESSED map-output sizes, so the pad must be incompressible
    (sha2 per row) — a repeat('x', n) pad compresses below the
    threshold and AQE correctly declines to split; (2) only the final
    EXECUTED plan shows the reader (a fresh count() builds a different
    QueryExecution)."""
    from pyspark.sql import functions as F

    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.shuffle.partitions",
    )
    saved = {}
    for k in keys:
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", "8")
        fact = spark.range(0, 120_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 40 + 1)
            .alias("k"),
            F.expr(
                "concat(sha2(cast(id AS string), 256),"
                " sha2(cast(id + 7 AS string), 256))"
            ).alias("pad"),
        )
        dim = spark.range(0, 41).select(
            F.col("id").alias("k"), F.lit("d").alias("attr")
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) == 120_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    conf.unset(k)
                except Exception:
                    pass
            else:
                conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """The flip side of the skew-split evidence test: AQE merges the
    many near-empty post-shuffle partitions of a small aggregation
    (session.py enables coalescing) — the executed plan's
    AQEShuffleRead reports 'coalesced' and the output partition count
    lands far below the configured 32.  This is the same byte-based
    reader that silently UNDOES a bare repartition(cols) — the
    documented reason compute-bound spreads pass an explicit count."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 10_000)
        .groupBy((F.col("id") % 97).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # execute df ITSELF (a count() builds a separate QueryExecution
    # whose final adaptive plan this test would not see)
    assert len(df.collect()) == 97
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead coalesced" in plan, plan[:1500]
    assert df.rdd.getNumPartitions() < 32


def test_partition_pruned_revenue_scan_prunes_directories(spark):
    """The registered partition_pruned_revenue query's OWN scan (the
    DAG-materialized o_year layout) must carry a PartitionFilters
    predicate on the partition column — the end-to-end pruning story
    under the hard signal (r09 verdict item 3): directories for other
    years are eliminated before file listing, so the year query costs
    one year, not the table."""
    from pyspark_pipelining_spark.queries_coverage import (
        PRUNE_YEAR,
        q_partition_pruned_revenue,
    )
    from tests.conftest import SF_SMOKE

    df = q_partition_pruned_revenue(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "o_year" in l
    )
    assert "PartitionFilters:" in scan
    pf = scan.split("PartitionFilters:")[1]
    assert "o_year" in pf and str(PRUNE_YEAR) in pf
    # the partition predicate resolves ENTIRELY at the directory level:
    # the scan carries zero row-level data filters
    assert "DataFilters: []" in scan
    assert df.count() > 0


def test_dpp_top_year_revenue_scan_carries_dynamic_pruning(spark):
    """The registered dpp_top_year_revenue query's partitioned-fact
    scan must carry a ``dynamicpruning#`` IN-subquery inside its
    PartitionFilters — the runtime counterpart of the static test
    above (r10 verdict item 3): the qualifying year set exists only
    after the dim side (years ranked by order count) is built, and
    Catalyst reuses that broadcast as a directory-level filter, so a
    join-driven dashboard query still lists only the matching
    partition dirs."""
    from pyspark_pipelining_spark.queries_coverage import (
        DPP_TOP_YEARS,
        q_dpp_top_year_revenue,
    )
    from tests.conftest import SF_SMOKE

    df = q_dpp_top_year_revenue(spark, SF_SMOKE)
    # FileScan metadata values are truncated at
    # spark.sql.maxMetadataStringLength (default 100) when the tree
    # renders — in a long session the attribute ids grow wide enough
    # to cut "IN dynamicpruning#N" mid-token (observed: the full suite
    # at ~24k expression ids truncated to "IN dynamicpr…" and failed a
    # match that passes in isolation).  Widen for the render only.
    old_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old_len)
    scans = [
        l
        for l in plan.splitlines()
        if "FileScan" in l and ".dag_cache" in l and "dynamicpruning#" in l
    ]
    assert scans, plan
    # the dynamic predicate is a partition-level IN filter with zero
    # row-level data filters — pruning happens at directory listing
    assert any(
        "PartitionFilters:" in s
        and "IN dynamicpruning#" in s.split("PartitionFilters:")[1]
        for s in scans
    )
    assert all("DataFilters: []" in s for s in scans)
    # runtime result: exactly the top-k years survive
    assert df.count() == DPP_TOP_YEARS


def _walk_physical(node, out):
    """Collect (simpleName, node) for every physical node, descending
    through AQE query-stage boundaries (their subtrees are not
    children of the stage node)."""
    nm = node.getClass().getSimpleName()
    out.append((nm, node))
    ch = node.children()
    for i in range(ch.size()):
        _walk_physical(ch.apply(i), out)
    if "QueryStageExec" in nm:
        _walk_physical(node.plan(), out)
    return out


def test_dpp_top_year_revenue_executes_pruned_and_reuses_broadcast(spark):
    """The EXECUTED final plan, not just the initial one (r11 verdict
    item 5): under AQE, ``PlanAdaptiveDynamicPruningFilters`` keeps
    the pruning filter only when the join's broadcast can be REUSED
    (``reuseBroadcastOnly``) — when the ``sameResult`` match fails,
    the filter silently degrades to ``dynamicpruningexpression(true)``
    and the scan reads every directory (exactly what the pre-round-12
    window-shaped dim did).  Three pieces of hard evidence on the
    post-collect plan: (a) the final fact scan still carries the IN
    dynamicpruning partition filter, (b) the scan's own metrics show
    fewer files read than the layout holds (numFiles == top-k dirs <
    staticFilesNum), (c) the pruning subquery's final plan is a
    ``ReusedExchange`` of the join's broadcast — the dim side is
    built once, not recomputed per consumer."""
    from pyspark_pipelining_spark.queries_coverage import (
        DPP_TOP_YEARS,
        q_dpp_top_year_revenue,
    )
    from tests.conftest import SF_SMOKE

    df = q_dpp_top_year_revenue(spark, SF_SMOKE)
    assert df.count() == DPP_TOP_YEARS  # executes + finalizes AQE
    qe = df._jdf.queryExecution()
    fact_scans = [
        node
        for nm, node in _walk_physical(
            qe.executedPlan().finalPhysicalPlan(), []
        )
        if nm == "FileSourceScanExec" and ".dag_cache" in node.toString()
    ]
    assert len(fact_scans) == 1, [n for n, _ in _walk_physical(
        qe.executedPlan().finalPhysicalPlan(), [])]
    scan = fact_scans[0]
    # (a) the pruning filter SURVIVED adaptive re-planning
    assert "IN dynamicpruning#" in scan.partitionFilters().toString()
    # (b) the scan's metrics prove directory-level pruning RAN:
    # staticFilesNum counts the whole layout, numFiles what was read
    metrics = {}
    it = scan.metrics().keys().iterator()
    while it.hasNext():
        k = it.next()
        metrics[k] = scan.metrics().apply(k).value()
    assert "staticFilesNum" in metrics, metrics
    assert metrics["numFiles"] < metrics["staticFilesNum"], metrics
    assert metrics["numFiles"] == DPP_TOP_YEARS, metrics
    # (c) the pruning subquery reuses the join's broadcast exchange
    fmt = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    sub = fmt.split("===== Subqueries =====")
    assert len(sub) == 2, "no subquery section in the final plan"
    assert "dynamicpruning" in sub[1]
    assert "ReusedExchange" in sub[1], sub[1]


def test_png_pixel_stats_decode_evaluates_once_per_row(spark):
    """The whole decode chain is one let-bound expression: the chunk
    walk's init-state literal must appear EXACTLY once in the executed
    plan (every downstream layer references lambda-bound values, never
    re-derives the fold — the filter-pushdown duplication class), the
    signature probe hexes only the first 8 bytes, and the payload is
    never hexed whole."""
    from pyspark_pipelining_spark.queries_ann_media import q_png_pixel_stats
    from tests.conftest import SF_SMOKE

    plan = (
        q_png_pixel_stats(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("[8,true,false,[]]") == 1, plan.count("[8,true,false,[]]")
    assert "hex(substring(content" in plan
    assert "hex(content" not in plan


def test_wav_window_features_one_fold_one_decode(spark):
    """The signal-feature twin keeps every structural property of the
    registered `wav_pcm_windows` plan: exactly ONE sample fold (the
    extra zc/ac/prev accumulator fields ride the same `aggregate`, no
    second scan or re-decode), the explicit REPARTITION_BY_NUM spread
    before the fold (AQE must not byte-coalesce a compute-bound
    stage), the header hexing only its 44 canonical bytes, and the
    payload never hexed whole."""
    from pyspark_pipelining_spark.queries_ann_media import q_wav_window_features
    from tests.conftest import SF_SMOKE

    plan = (
        q_wav_window_features(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("aggregate(transform(sequence(0,") == 1, plan
    assert "REPARTITION_BY_NUM" in plan
    assert re.search(r"hex\(substring\(content#\d+, 1, 44\)\)", plan)
    assert "hex(content" not in plan


def test_wav_stereo_features_one_fold_one_decode(spark):
    """The staged stereo twin keeps the mono plan's every structural
    property: exactly ONE sample fold (both channels evaluate the same
    aggregate expression on their own 2-row explode of the shared
    chunk — no per-channel re-slice of the payload, no second decode
    pass), the REPARTITION_BY_NUM spread, header-only hexing, and the
    payload never hexed whole."""
    from pyspark_pipelining_spark.queries_ann_media import q_wav_stereo_features
    from tests.conftest import SF_SMOKE

    plan = (
        q_wav_stereo_features(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("aggregate(transform(sequence(0,") == 1, plan
    assert "REPARTITION_BY_NUM" in plan
    assert re.search(r"hex\(substring\(content#\d+, 1, 44\)\)", plan)
    assert "hex(content" not in plan
    # the channel fanout is a 2-literal explode, not a chunk re-cut
    assert plan.count("explode([0,1])") == 1, plan


@pytest.mark.quick
def test_rotation_scheme_guarantees():
    """The sampled-rotating certification scheme's contracts
    (CLAUDE.md; r13 verdict item 3): every registered query lands in
    EXACTLY one of the PERIOD phases (so 3 consecutive rounds cover
    the registry completely), never-driver-validated queries are
    always in the current slice, and the slice is a real sample —
    neither empty nor the whole registry."""
    import hashlib

    import __spark_entry__ as entry
    from pyspark_pipelining_spark.queries import QUERIES
    from tests.conftest import ROTATION_PERIOD, in_rotation, rotation_round

    for name in QUERIES:
        hits = [
            int(hashlib.md5(name.encode()).hexdigest(), 16) % ROTATION_PERIOD == ph
            for ph in range(ROTATION_PERIOD)
        ]
        assert sum(hits) == 1, name
    last = entry._last_green_rounds()
    never = [n for n in QUERIES if n not in last]
    assert all(in_rotation(n) for n in never), never
    sel = [n for n in QUERIES if in_rotation(n)]
    assert 0 < len(sel) < len(QUERIES)
    assert rotation_round() >= 1


def test_ivf_plane_dot_folds_evaluate_once_per_row(spark):
    """The r15 ivf_assign rewrite's regression gate: higher-order
    folds are CodegenFallback (no codegen subexpression elimination),
    so the former greatest+when-chain argmax carried 72 ``aggregate(``
    folds per corpus row (each 64-element plane dot re-evaluated up to
    9×) — measured as the r14 driver's sim_ivf_topk variance outlier.
    ``with_ivf_cell`` materializes the scores array once and takes
    ``array_position(array_max)``; pin the full-plan fold budget so a
    refactor (or a CollapseProject behavior change inlining the
    producer) fails here, not as a silent 9× slowdown.  Budget: 8
    corpus scores + 8 probe scores + cosine dot/norms and ranking ≈
    36; anything approaching the old 156 is the recomputation class."""
    for name, budget in (
        ("sim_ivf_topk", 50),
        ("sim_ivfpq_topk", 60),
        ("sim_ivfpq_rerank", 60),
        # learned-centroid IVF: one l2q fold per centroid in a
        # dedicated (d, cell)-struct projection (r15 ADVICE closed the
        # double-eval fold); 6 folds today, headroom for norms
        ("sim_ivf_learned_topk", 12),
    ):
        plan = (
            QUERIES[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = plan.count("aggregate(")
        assert n <= budget, (name, n, budget)
