"""Physical-plan shape assertions: the 100 TB posture is checked, not
assumed. Each test renders the executed/optimized plan and asserts the
property that keeps the operator viable at scale -- filters reaching
the parquet scan, projections pruning the read schema, small dims
broadcast, aggregates running partial-then-final, and no driver-side
collect in any engine path.
"""

import pytest
from pyspark.sql import functions as F

from java_mapreduce_framework_spark.operators import relational
from java_mapreduce_framework_spark.sources.tables import load_table


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushed_to_parquet_scan(spark, sf_small):
    df = relational.filter_predicate(load_table(spark, sf_small, "lineitem"))
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan


def test_projection_prunes_read_schema(spark, sf_small):
    df = relational.scan_project(load_table(spark, sf_small, "lineitem"))
    plan = _formatted(df)
    # ReadSchema must contain only the 3 projected columns -- a scan
    # reading all 16 lineitem columns for a 3-column projection would
    # read ~5x the bytes at 100 TB
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_small_dim_join_broadcasts(spark, sf_small):
    orders = load_table(spark, sf_small, "orders")
    customer = load_table(spark, sf_small, "customer")
    nation = load_table(spark, sf_small, "nation")
    df = relational.join_broadcast(orders, customer, nation)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan


def test_groupby_agg_is_partial_then_final(spark, sf_small):
    df = relational.groupby_agg(load_table(spark, sf_small, "lineitem"))
    plan = _formatted(df)
    # map-side combine: partial_count/partial_sum before the exchange
    assert "partial_count" in plan or "partial_sum" in plan


def test_wordcount_partial_aggregation(spark, sf_small):
    from java_mapreduce_framework_spark.operators.text import wordcount

    plan = _formatted(wordcount(load_table(spark, sf_small, "documents")))
    assert "partial_count" in plan


def test_sql_intake_pushes_view_filters(spark, sf_small):
    from java_mapreduce_framework_spark.plans.sql import run_sql

    df = run_sql(
        spark, sf_small, "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45"
    )
    plan = _formatted(df)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,45" in plan


def test_wholestage_codegen_covers_relational_core(spark, sf_small):
    df = relational.groupby_multikey(load_table(spark, sf_small, "lineitem"))
    # codegen mode lists generated subtrees; AQE's formatted view only
    # annotates them after execution
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in plan


def test_no_collect_in_engine_operator_paths():
    """Grep-level guard: engine operator modules never collect to the
    driver unless the site carries an explicit bounded-size
    justification — an inline `# bounded:` comment on the collect
    line (the Bloom bitmap's m/64 words, the model-sized PCA stats
    fold) or the documented query-vector/IVF-sample sites in
    similarity.py."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "java_mapreduce_framework_spark"
    offenders = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            if ".collect()" in line and "query set only" not in src.splitlines()[min(i, len(src.splitlines()) - 1)]:
                if "similarity.py" in str(p):
                    continue  # bounded query-side collect, documented
                if "# bounded" in line:
                    continue  # declared bounded-size sketch/model fold
                offenders.append(f"{p.name}:{i}")
    assert not offenders, f"driver-side collect in engine paths: {offenders}"


def test_topk_uses_takeordered_not_full_sort(spark, sf_small):
    df = relational.topk(load_table(spark, sf_small, "orders"))
    plan = _formatted(df)
    # TakeOrderedAndProject = per-partition heap + driver merge of k
    # rows; a global Sort + Limit would shuffle the full table
    assert "TakeOrderedAndProject" in plan


def test_set_ops_avoid_cartesian(spark, sf_small):
    orders = load_table(spark, sf_small, "orders")
    a = orders.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    b = orders.filter(F.col("o_orderdate") >= "1999-06-01").select("o_custkey")
    plan = _formatted(relational.set_intersect(a, b))
    assert "Cartesian" not in plan


def test_window_rank_pushes_group_limit(spark, sf_small):
    # Spark's WindowGroupLimit: the rnk <= k filter becomes a
    # per-partition group limit BEFORE the full window sort -- without
    # it, every order per customer is fully ranked then discarded
    df = relational.window_rank(load_table(spark, sf_small, "orders"))
    assert "WindowGroupLimit" in _formatted(df)


def _nodes(plan: str, name: str) -> int:
    """Count physical operators by their detail headings '(N) Name'
    (each node also appears once in the tree sketch)."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}\b", plan, flags=re.MULTILINE))


def test_sessionize_single_exchange_two_window_passes(spark, sf_small):
    from java_mapreduce_framework_spark.operators.temporal import sessionize

    plan = _formatted(sessionize(load_table(spark, sf_small, "events")))
    # lag + running-sum share one shuffle on user_id and one sort
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Sort") == 1


def test_curation_pipeline_single_shuffle(spark, sf_small):
    from java_mapreduce_framework_spark.operators.text import curation_pipeline

    plan = _formatted(curation_pipeline(load_table(spark, sf_small, "documents")))
    # dedup window is the only exchange; lang/quality/token stages fuse
    # into per-row expressions after it
    assert _nodes(plan, "Exchange") == 1


def test_join_asof_is_joinless_union_window(spark, sf_small):
    from java_mapreduce_framework_spark.operators.temporal import join_asof

    events = load_table(spark, sf_small, "events")
    orders = load_table(spark, sf_small, "orders")
    plan = _formatted(join_asof(events, orders))
    # the as-of primitive is union + ordered last_value, NOT a range
    # join: no join operator may appear, and the whole timeline costs
    # at most two exchanges (orders-side tie-dedup + the union sort) --
    # never an |L|x|R| candidate expansion
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert _nodes(plan, j) == 0
    assert _nodes(plan, "Exchange") <= 2


def test_join_range_banded_is_equi_join_not_nested_loop(spark, sf_small):
    from java_mapreduce_framework_spark.operators.temporal import join_range_banded

    plan = _formatted(join_range_banded(load_table(spark, sf_small, "events")))
    # band-bucket duplication turns the time-proximity theta join into
    # a hash-partitionable equi-join; a raw range predicate would force
    # the quadratic nested-loop per user
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert _nodes(plan, "CartesianProduct") == 0
    assert (
        _nodes(plan, "SortMergeJoin")
        + _nodes(plan, "ShuffledHashJoin")
        + _nodes(plan, "BroadcastHashJoin")
    ) >= 1


def test_pivot_conditional_agg_single_shuffle(spark, sf_small):
    plan = _formatted(relational.pivot_event_counts(load_table(spark, sf_small, "events")))
    # hand-written COUNT(CASE WHEN) pivot: one partial+final pass
    # around a single exchange; DataFrame.pivot would cost two of each
    assert _nodes(plan, "HashAggregate") == 2
    assert _nodes(plan, "Exchange") == 1


def test_join_skew_salted_is_shuffled_hash(spark, sf_small):
    plan = _formatted(
        relational.join_skew_salted(
            load_table(spark, sf_small, "lineitem"), load_table(spark, sf_small, "orders")
        )
    )
    # salted (key, salt) join must stay a hash join -- the whole point
    # is bounding per-task build partitions, not re-sorting both sides
    assert _nodes(plan, "ShuffledHashJoin") == 1
    assert _nodes(plan, "SortMergeJoin") == 0
    # and the final rollup is one partial+final pass
    assert _nodes(plan, "HashAggregate") == 2


def test_minhash_signatures_aggregate_partially(spark, sf_small):
    from java_mapreduce_framework_spark.operators.dedup import minhash_signatures

    plan = _formatted(minhash_signatures(load_table(spark, sf_small, "documents")))
    # the 128 per-permutation mins run map-side before the exchange, so
    # the shuffle carries one signature row per doc -- not the exploded
    # shingle stream
    assert "partial_min" in plan
    # one aggregation exchange (one signature row per doc crosses it);
    # r12 adds the conditional spread_scan REPARTITION exchange below
    # the explode (guide §2.5 input-skew guard -- fires only when the
    # scan has fewer splits than cores, i.e. never at production
    # layouts), so the budget is <= 2 and the extra one must be the
    # doc_id repartition, not a second aggregation shuffle
    n_ex = _nodes(plan, "Exchange")
    assert n_ex <= 2
    if n_ex == 2:
        assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(doc_id" in plan


def test_curation_scans_are_zero_shuffle(spark, sf_small):
    # normalization / PII / sampling / mixing are pure per-row stages:
    # their whole plan is a (filtered) scan — any Exchange would mean
    # an accidental shuffle in what should fuse into one corpus pass
    from java_mapreduce_framework_spark.operators import text as text_ops

    docs = load_table(spark, sf_small, "documents")
    for fn in (
        text_ops.text_normalize,
        text_ops.pii_redact,
        text_ops.sample_deterministic,
        text_ops.corpus_mix,
    ):
        plan = _formatted(fn(docs))
        assert _nodes(plan, "Exchange") == 0, fn.__name__


def test_grouping_cube_single_expand_partial_final(spark, sf_small):
    # cube = one Expand feeding ONE partial->final aggregation pair:
    # no per-grouping-set union of scans, one exchange total
    from java_mapreduce_framework_spark.operators.relational import grouping_cube

    plan = _formatted(grouping_cube(load_table(spark, sf_small, "lineitem")))
    assert _nodes(plan, "Expand") == 1
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Scan parquet") == 1


def test_sql_q6_predicates_reach_scan_single_agg(spark, sf_small):
    from java_mapreduce_framework_spark.plans.sql import REVENUE_FORECAST, run_sql

    plan = _formatted(run_sql(spark, sf_small, REVENUE_FORECAST))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]
    assert _nodes(plan, "Exchange") == 1  # single partial->final agg exchange


def test_sql_q5_broadcasts_dims(spark, sf_small):
    from java_mapreduce_framework_spark.plans.sql import REGIONAL_VOLUME, run_sql

    plan = _formatted(run_sql(spark, sf_small, REGIONAL_VOLUME))
    assert _nodes(plan, "CartesianProduct") == 0
    # region + nation (and at this SF the other dims too) come in as
    # broadcast joins; the plan must contain at least two
    assert _nodes(plan, "BroadcastHashJoin") >= 2


def test_bucketed_colocated_join_declared_query_no_join_exchange(spark, sf_small):
    """The declared join_bucketed_colocated query's SMJ must read both
    bucketed sides without an Exchange between scan and join (the
    groupBy after the join is allowed its own exchange)."""
    df = relational.join_bucketed_colocated(
        spark,
        load_table(spark, sf_small, "orders"),
        load_table(spark, sf_small, "customer"),
        table_suffix="_planshape",
    )
    plan = _formatted(df)
    # r12: with preferSortMergeJoin=false the planner may pick a
    # shuffled-hash join -- still exchange-free on bucketed sides,
    # and it skips both sorts; either strategy satisfies the contract
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # no exchange may partition on either JOIN key anywhere in the
    # plan -- the only allowed shuffle is the post-join groupBy on
    # c_nationkey
    assert "hashpartitioning(o_custkey" not in plan, "orders side shuffled"
    assert "hashpartitioning(c_custkey" not in plan, "customer side shuffled"
    assert "hashpartitioning(c_nationkey" in plan, "expected the groupBy exchange"
    for t in ("orders_bkt_planshape", "customer_bkt_planshape"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_partitioned_source_query_prunes_partitions(spark, sf_small):
    """The declared source_partitioned_pruned query's scan must carry
    the event_type filter as a PartitionFilter (directory pruning),
    not a post-scan filter."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.sources.roundtrip import (
        read_events_partitioned,
    )

    df = read_events_partitioned(spark, sf_small).filter(
        F.col("event_type") == "click"
    )
    plan = _formatted(df)
    assert "PartitionFilters" in plan
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "event_type" in pf_line


def test_feature_hashing_partial_aggregation(spark, sf_small):
    from java_mapreduce_framework_spark.operators.text import text_feature_hashing

    plan = _formatted(text_feature_hashing(load_table(spark, sf_small, "documents")))
    # one explosion feeding a map-side-combined hash aggregation
    assert "partial_sum" in plan
    assert _nodes(plan, "Exchange") == 1


def test_cdc_latest_wins_single_shuffle(spark, sf_small):
    from java_mapreduce_framework_spark.operators.relational import cdc_latest_wins

    plan = _formatted(cdc_latest_wins(load_table(spark, sf_small, "events")))
    # union is exchange-free; the only shuffle keys the rank window
    assert _nodes(plan, "Exchange") == 1


def test_stats_correlation_single_pass(spark, sf_small):
    from java_mapreduce_framework_spark.operators.relational import stats_correlation

    plan = _formatted(stats_correlation(load_table(spark, sf_small, "lineitem")))
    # all six moments in ONE partial->final aggregation over one scan
    assert "partial_sum" in plan
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Scan parquet") == 1


def test_correlated_subquery_shapes_decorrelate(spark, sf_small):
    """Every correlated-subquery SQL shape must lower to hash joins
    (decorrelated aggregate + rejoin, semi/anti for EXISTS forms) --
    never a per-row re-scan, nested-loop join, or cartesian product."""
    import re

    from java_mapreduce_framework_spark.plans import sql as S

    shapes = {
        "SMALL_QTY_REVENUE": 0,
        "MIN_COST_SUPPLIER": 0,
        "LATE_SOLE_SUPPLIER": 2,  # EXISTS -> semi, NOT EXISTS -> anti
        "DOMINANT_PART_SUPPLIERS": 2,  # two IN levels
        "CUSTOMER_ORDER_DISTRIBUTION": 0,
        "TOP_REVENUE_SUPPLIER": 0,
        "IMPORTANT_PART_VALUE": 0,
    }
    for name, min_semi_anti in shapes.items():
        df = S.run_sql(spark, sf_small, getattr(S, name))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        semi_anti = len(re.findall(r"LeftSemi|LeftAnti", plan))
        assert semi_anti >= min_semi_anti, (name, semi_anti, plan[:500])


def test_ordered_event_sequences_truncates_below_aggregate(spark, sf_small):
    """The row_number <= max_len filter must sit BELOW the collect_list
    aggregate, so the array any one group materializes is bounded by
    max_len -- a post-aggregate slice would first build the full
    per-user array (unbounded state for a mega-user). The rank window
    and the groupBy share one hash partitioning on user_id."""
    from java_mapreduce_framework_spark.operators.temporal import (
        ordered_event_sequences,
    )

    plan = _formatted(ordered_event_sequences(load_table(spark, sf_small, "events")))
    assert "rn" in plan and "row_number" in plan
    # formatted output prints the tree top-down (consumers above
    # producers): the truncating Filter must sit between the
    # collect_list aggregate (above it) and the rank Window (below it)
    lines = plan.splitlines()
    tree_end = next(i for i, ln in enumerate(lines) if ln.strip() == "" and i > 2)
    tree = "\n".join(lines[:tree_end])
    a = (
        tree.index("ObjectHashAggregate")
        if "ObjectHashAggregate" in tree
        else tree.index("HashAggregate")
    )
    f = tree.index("Filter")
    w = tree.index("Window")
    assert a < f < w, tree
    assert _nodes(plan, "Exchange") == 1  # window + groupBy reuse one shuffle


def test_sequence_packing_window_is_shard_parallel(spark, sf_small):
    """The packing prefix sum must NOT run as a single
    partitionBy(lang) window (one reducer per language at 100 TB):
    the plan's running-sum window partitions by (lang, shard), the
    offsets side is broadcast, and the shard stream is a narrow
    checkpointed projection consumed by both phases."""
    import re

    from java_mapreduce_framework_spark.operators.text import sequence_packing

    plan = _formatted(sequence_packing(load_table(spark, sf_small, "documents")))
    assert "BroadcastExchange" in plan  # offsets join never shuffles the stream
    # every windowspecdefinition ordering by doc_id (the per-doc
    # running sum over the full stream) must partition by shard too;
    # a lang-only partition spec there is the serialized shape. The
    # lang-only OFFSETS window (ordered by shard, over the tiny
    # aggregate) is the sanctioned exception.
    specs = re.findall(r"windowspecdefinition\(([^)]*?)specifiedwindowframe", plan)
    assert specs, plan
    big = [s for s in specs if "doc_id" in s]
    assert big, specs
    for s in big:
        assert "shard" in s, f"doc_id window not shard-parallel: {s}"


def test_doc_chunking_is_map_only(spark, sf_small):
    """Chunk construction must be row-local: no Exchange anywhere."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    plan = _formatted(text_ops.doc_chunking(load_table(spark, sf_small, "documents")))
    assert "Exchange" not in plan


def test_activity_streaks_single_user_exchange(spark, sf_small):
    """Distinct, window, and final agg all key on user: AQE-visible
    exchanges must all hash on user_id (no extra repartitions)."""
    from java_mapreduce_framework_spark.operators import temporal

    plan = _formatted(temporal.activity_streaks(load_table(spark, sf_small, "events")))
    ex = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln]
    assert ex and all("user_id" in ln for ln in ex)


def test_stratified_split_assignment_no_join(spark, sf_small):
    """The split decision is a pure row function: exactly one
    aggregation exchange (the audit count), zero joins."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    plan = _formatted(text_ops.stratified_split(load_table(spark, sf_small, "documents")))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial->final of ONE agg (AQE may show one reused)


def test_embedding_gram_shuffles_cells_not_vectors(spark, sf_small):
    """The only exchange after the GEMM pass carries (i, j, partial)
    cells -- d^2 rows per task, never embedding vectors."""
    from java_mapreduce_framework_spark.operators import similarity

    plan = _formatted(similarity.embedding_gram(load_table(spark, sf_small, "embeddings")))
    ex = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln]
    assert ex and all(("i#" in ln and "j#" in ln) for ln in ex)
    assert "embedding" not in " ".join(ex)


def test_bloom_probe_filters_before_join_exchange(spark, sf_small):
    """The bitmap bit-test must sit on the fact scan side BELOW the
    equi-join, so pruned rows never reach the join's shuffle/build."""
    from java_mapreduce_framework_spark.operators import relational as rel

    plan = _formatted(
        rel.join_bloom_pruned(
            load_table(spark, sf_small, "orders"),
            load_table(spark, sf_small, "customer"),
        )
    )
    # shiftright bit tests appear in a Filter above the orders scan,
    # and the final join is a broadcast hash join on c_custkey
    assert "shiftright" in plan and "BroadcastHashJoin" in plan
    filt = plan.index("shiftright")
    join = plan.index("BroadcastHashJoin")
    scan_orders = plan.index("Scan parquet")  # first scan in formatted order
    assert filt > 0 and join > 0 and scan_orders > 0


def test_bpe_merge_step_explodes_vocab_not_corpus(spark, sf_small):
    """The pair explosion's input must be the aggregated vocabulary:
    the Generate (explode) node sits ABOVE the word-count aggregate,
    so pair fan-out is vocab-bounded at any corpus size."""
    from java_mapreduce_framework_spark.operators.text import bpe_merge_step

    plan = _formatted(bpe_merge_step(load_table(spark, sf_small, "documents")))
    # two generates: token explode (below first agg) and pair explode.
    # The final agg keyed on sym_a/sym_b must aggregate partially
    # (combinable), and the plan must contain a word-count hash
    # aggregate feeding the second generate.
    assert plan.count("Generate") >= 2
    assert "partial_sum" in plan or "partial_count" in plan


def test_skyline_grid_prune_below_sweep(spark, sf_small):
    """The bucket stats side must be broadcast (tiny), and the final
    single-partition sweep window must consume a filtered input, not
    the raw distinct-pairs stream."""
    from java_mapreduce_framework_spark.operators.relational import skyline_pareto

    plan = _formatted(skyline_pareto(load_table(spark, sf_small, "part")))
    assert "BroadcastExchange" in plan  # the per-bucket prune table
    # grid prune: a Filter on lower_max sits below the global sort
    assert "lower_max" in plan


def test_mad_outliers_broadcasts_stats(spark, sf_small):
    """Both stats joins (median, MAD) must broadcast the tiny
    per-type table, never shuffle the events side twice more."""
    from java_mapreduce_framework_spark.operators.analytics import mad_outliers

    plan = _formatted(mad_outliers(load_table(spark, sf_small, "events")))
    assert plan.count("BroadcastHashJoin") >= 2


def test_time_resample_gapfill_aggregates_corpus_once(spark, sf_small):
    """Exactly one scan of events feeds a partial aggregate; the LOCF
    window input is the spine join, not raw events."""
    from java_mapreduce_framework_spark.operators.analytics import (
        time_resample_gapfill,
    )

    plan = _formatted(time_resample_gapfill(load_table(spark, sf_small, "events")))
    assert "partial_count" in plan or "partial_sum" in plan
    # spine side is generated + broadcast into the left join
    assert "Generate explode" in plan or "Generate" in plan


def test_train_shuffle_shard_single_window_shuffle(spark, sf_small):
    """One exchange hash-partitioned on shard feeds the rank window —
    the same partitioning the physical shard write would reuse."""
    from java_mapreduce_framework_spark.operators.text import train_shuffle_shard

    plan = _formatted(train_shuffle_shard(load_table(spark, sf_small, "documents")))
    # formatted mode lists node headers and arguments separately
    assert plan.count(") Exchange") == 1
    assert "hashpartitioning(shard" in plan
    assert "row_number" in plan


def test_attribution_linear_two_windows_no_join(spark, sf_small):
    """Both attribution windows key on a user-rooted hash: zero joins,
    and every exchange hashes on user_id (segment windows re-key on
    (user_id, seg), still user-prefixed)."""
    from java_mapreduce_framework_spark.operators import temporal

    plan = _formatted(temporal.attribution_linear(load_table(spark, sf_small, "events")))
    assert "Join" not in plan
    ex = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln]
    # ONE user exchange serves both windows -- hashpartitioning(user_id)
    # satisfies the (user_id, seg) clustering, so the segment window
    # adds only a sort -- plus the final per-channel agg exchange
    assert len([ln for ln in ex if "user_id" in ln]) == 1
    assert len(ex) == 2 and any("event_type" in ln for ln in ex)


def test_cluster_keep_best_rank_and_size_share_one_window(spark, sf_small):
    """The representative rank and the cluster size must come from ONE
    window shuffle over component_id -- a second exchange keyed on
    component_id would double the final pass at corpus scale."""
    from java_mapreduce_framework_spark.operators import dedup

    plan = _formatted(dedup.cluster_keep_best(load_table(spark, sf_small, "documents")))
    comp_ex = [
        ln for ln in plan.splitlines()
        if "Arguments: hashpartitioning" in ln and "component_id" in ln
    ]
    assert len(comp_ex) == 1


def test_split_by_cluster_assignment_is_expression_after_label_join(spark, sf_small):
    """After the CC label join the split itself must be a pure
    projection: no aggregation and no extra exchange downstream of
    the doc_id join (the plan's last exchange keys on doc_id)."""
    from java_mapreduce_framework_spark.operators import dedup

    plan = _formatted(dedup.split_by_cluster(load_table(spark, sf_small, "documents")))
    assert "csplit" in plan and "md5" in plan  # assignment is a projection
    # per-doc emission: nothing aggregates after the final (label) join
    assert "HashAggregate" not in plan.split("Join")[-1]


def test_interval_merge_all_exchanges_key_on_user(spark, sf_small):
    """Both window passes and the final (user, island) aggregate hash
    on user_id-prefixed keys -- no global sort, no re-keying."""
    from java_mapreduce_framework_spark.operators import temporal

    plan = _formatted(temporal.interval_merge(load_table(spark, sf_small, "events")))
    ex = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln]
    assert ex and all("user_id" in ln for ln in ex)
    assert "rangepartitioning" not in plan  # no global sort anywhere


def test_curriculum_order_no_global_sort(spark, sf_small):
    """Cut points ride a 1-row broadcast; positions come from
    PER-BUCKET windows -- the plan must hash-partition on bucket, and
    the only range partitioning allowed is none (a global ntile would
    show rangepartitioning over everything)."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    plan = _formatted(text_ops.curriculum_order(load_table(spark, sf_small, "documents")))
    # range partitioning may appear ONLY as the exact_quantiles
    # kernel's value-domain sharding (on the narrow `v` stream); a
    # global ntile would range-partition the corpus ordering columns
    # (quality / shuffle_key / doc_id) instead
    for ln in plan.splitlines():
        if "rangepartitioning" in ln:
            assert "v#" in ln.split("rangepartitioning", 1)[1], ln
    assert any(
        "hashpartitioning(bucket" in ln for ln in plan.splitlines()
    ), "within-bucket window must partition by bucket"


def test_percentile_stats_distributed_no_group_buffer(spark, sf_small):
    """The grouped quantile kernel must shard the value domain by
    (key, value) range — NOT run a grouped exact percentile whose
    buffer holds a whole group — and walk shards in Arrow."""
    from java_mapreduce_framework_spark.operators import temporal

    plan = _formatted(
        temporal.percentile_stats_distributed(load_table(spark, sf_small, "events"))
    )
    assert any(
        "rangepartitioning(k#" in ln for ln in plan.splitlines()
    ), "value-domain sharding on (k, v) missing"
    assert "MapInPandas" in plan
    assert "percentile(" not in plan  # no single-buffer exact aggregate


def test_stats_moments_two_aggregates_broadcast_join(spark, sf_small):
    """Mean pass and centered pass are both partial->final hash
    aggregates; the mean table joins back via broadcast (alphabet-
    sized), never a shuffle join."""
    from java_mapreduce_framework_spark.operators import temporal

    plan = _formatted(temporal.stats_moments(load_table(spark, sf_small, "events")))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # 2 aggs x partial+final


def test_image_patches_map_only(spark, sf_small):
    """Patch extraction is shuffle-free: encode + decode kernels are
    one map-only pipeline (scan bandwidth is the only scale axis)."""
    from java_mapreduce_framework_spark.operators import multimodal

    plan = _formatted(
        multimodal.image_patches(
            multimodal.attach_image_payload(load_table(spark, sf_small, "documents"))
        )
    )
    assert "Exchange" not in plan


def test_ann_pq_shortlist_is_broadcast_rescore(spark, sf_small):
    """The exact-rescore join must broadcast the (Q x shortlist)
    candidate set over the corpus -- a shuffle join would move the
    whole corpus for a few hundred candidates."""
    from java_mapreduce_framework_spark.operators import similarity

    plan = _formatted(
        similarity.similarity_ann_pq(load_table(spark, sf_small, "embeddings"))
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bootstrap_ci_single_scan_no_explode(spark, sf_small):
    """The 24 replicate sums fold as Arrow-kernel PARTIAL aggregates
    over ONE lineitem scan -- no Generate (explode) node anywhere (a
    Generate over scan rows would be the x24 row-multiplication
    regression; the r12 kernel rewrite also removed the stack() over
    the wide aggregate), one MapInPandas kernel, and the read schema
    carries only the 4 needed columns."""
    from java_mapreduce_framework_spark.operators import analytics

    import re

    plan = _formatted(
        analytics.stats_bootstrap_ci(load_table(spark, sf_small, "lineitem"))
    )
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 0
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_sorted_neighborhood_rank_is_sharded_and_join_is_equi(spark, sf_small):
    """No single-partition global window: every Window node keys on
    the shard; the candidate join is a plain equi-join (SortMergeJoin
    or shuffled hash on rn), never a range/nested-loop pair build."""
    import re

    from java_mapreduce_framework_spark.operators import dedup

    plan = _formatted(
        dedup.dedup_sorted_neighborhood(load_table(spark, sf_small, "documents"))
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Window \[[^\]]*partition", plan):
        seg = plan[m.start(): m.start() + 400]
        # offsets window is over the <=num_shards-row side table;
        # the rank window must partition by shard
        assert "shard" in seg or "shard_n" in seg


def test_naive_bayes_model_joins_are_broadcast(spark, sf_small):
    """Every model-side join in the confusion plan is a broadcast
    (the model is vocabulary-bounded); the only shuffles are the keyed
    aggregations and the per-doc argmax window."""
    from java_mapreduce_framework_spark.operators import ml

    plan = _formatted(
        ml.naive_bayes_confusion(load_table(spark, sf_small, "documents"))
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ml_moment_fits_are_map_then_fold(spark, sf_small):
    """linreg's whole distributed part is mapInPandas + one grouped
    SUM: exactly one exchange (the fold), no joins."""
    from java_mapreduce_framework_spark.operators import ml

    out = ml.linreg_normal(load_table(spark, sf_small, "embeddings"))
    # the returned frame is the driver-built coefficient table;
    # the plan property that matters is asserted by construction in
    # _tagged_moment_pass (collect is bounded) -- here we pin that the
    # result is model-sized
    assert out.count() == 8 + 1 + 2  # coefs + bias + r2 + n


def test_stats_gini_window_is_per_nation(spark, sf_small):
    """The rank window must partition by nation (per-key bounded
    sort), and no plan node may fall back to a nested-loop join."""
    import re

    from java_mapreduce_framework_spark.operators import analytics

    plan = _formatted(
        analytics.stats_gini(
            load_table(spark, sf_small, "orders"),
            load_table(spark, sf_small, "customer"),
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*?)specifiedwindowframe", plan)
    assert specs and all("c_nationkey" in s for s in specs), specs


def test_dp_noisy_counts_is_one_agg_no_join(spark, sf_small):
    """Noise is a row-local expression on top of the grouped count:
    zero joins, one partial->final aggregation exchange."""
    from java_mapreduce_framework_spark.operators import analytics

    plan = _formatted(analytics.dp_noisy_counts(load_table(spark, sf_small, "events")))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # one agg (AQE may show a reuse)


def test_basket_lift_apriori_prunes_before_pair_join(spark, sf_small):
    """The below-min-support items are semi-joined out BEFORE the pair
    self-join (the a-priori fan-out guard), and the global top-k
    collapses to TakeOrderedAndProject -- no full sort."""
    from java_mapreduce_framework_spark.operators import analytics

    plan = _formatted(analytics.basket_lift_topk(load_table(spark, sf_small, "lineitem")))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    # semi prune must sit upstream of the orderkey pair self-join
    assert plan.index("LeftSemi") < plan.rindex("TakeOrderedAndProject")


def test_column_profile_is_single_scan_no_expand(spark, sf_small):
    """All per-column metrics ride ONE fact-table scan; the two-level
    (col, value) aggregate must not plan the mixed-distinct Expand
    row-doubler, and the value shuffle must be partial-aggregated
    (map-side duplicate collapse -- the exact-profiling scale bound)."""
    from java_mapreduce_framework_spark.operators import relational as rel

    plan = _formatted(rel.column_profile(load_table(spark, sf_small, "lineitem")))
    assert "Expand" not in plan  # two-level agg, not distinct-Expand
    # one scan node: formatted output names it in the tree AND the
    # detail section, but there is exactly one Location block
    assert plan.count("Location") == 1
    assert "Join" not in plan
    assert "partial_count" in plan  # map-side collapse before shuffle


def test_sql_udaf_median_is_arrow_grouped_agg(spark, sf_small):
    """The registered UDAF must run on the Arrow grouped-agg path
    (AggregateInPandas), keyed on the GROUP BY -- one exchange, no
    row-at-a-time Python evaluation node."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    plan = _formatted(
        text_ops.sql_udaf_median(spark, load_table(spark, sf_small, "documents"))
    )
    # Spark 4 names the node ArrowAggregatePython (3.x: AggregateInPandas)
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    assert "BatchEvalPython" not in plan  # no non-Arrow Python path
    assert "Join" not in plan


def test_sql_pivot_lowers_to_conditional_aggregate(spark, sf_small):
    """Native PIVOT with an explicit IN list must lower to one
    grouped conditional aggregate over one scan -- no Expand, no
    join against a distinct-values subquery."""
    from java_mapreduce_framework_spark.plans.registry import queries

    plan = _formatted(queries()["sql_pivot_qty"](spark, sf_small))
    assert "partial_" in plan  # map-side combine survives the lowering
    assert "Expand" not in plan
    assert "Join" not in plan
    assert plan.count("Location") == 1  # single scan


def test_join_asof_ttl_is_joinless_union_window(spark, sf_small):
    """The TTL variant must keep join_asof's shape: union + ordered
    last_value, no join operator, the TTL test purely row-local after
    the single timeline pass."""
    from java_mapreduce_framework_spark.operators.temporal import join_asof_ttl

    events = load_table(spark, sf_small, "events")
    orders = load_table(spark, sf_small, "orders")
    plan = _formatted(join_asof_ttl(events, orders))
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert _nodes(plan, j) == 0
    assert _nodes(plan, "Exchange") <= 2  # tie-dedup + union sort


def test_dup_ngram_frac_uses_shuffle_hash_join(spark, sf_small):
    """The df join must stay a shuffled-hash join on the 8-byte
    shingle key -- sort-merge would add two corpus-scale sorts for an
    equality-only match."""
    from java_mapreduce_framework_spark.operators.text import (
        dup_ngram_fraction,
    )

    plan = _formatted(
        dup_ngram_fraction(load_table(spark, sf_small, "documents"))
    )
    assert "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_similarity_histogram_bounds_pair_stage(spark, sf_small):
    """The hash subsample must cut via TakeOrderedAndProject (per-
    partition heaps) -- a global sort of the corpus by hash would be
    the scale-killer; the self-pair join rides a broadcast."""
    from java_mapreduce_framework_spark.operators.similarity import (
        similarity_histogram,
    )

    plan = _formatted(
        similarity_histogram(load_table(spark, sf_small, "embeddings"))
    )
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_pair_llr_topk_never_sorts_globally(spark, sf_small):
    """Top-k collocations cut via TakeOrderedAndProject, never a
    global sort + row_number over the scored pair vocabulary."""
    from java_mapreduce_framework_spark.operators.text import pair_llr

    plan = _formatted(pair_llr(load_table(spark, sf_small, "documents")))
    assert "TakeOrderedAndProject" in plan


def test_novelty_frac_partial_aggregates(spark, sf_small):
    """Both the min-owner aggregate and the per-doc fold run
    partial-then-final (map-side combine)."""
    from java_mapreduce_framework_spark.operators.text import (
        novelty_fraction,
    )

    plan = _formatted(
        novelty_fraction(load_table(spark, sf_small, "documents"))
    )
    assert "partial_min" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_reorder_stats_single_exchange(spark, sf_small):
    """The lag window and the grouped aggregate share ONE o_custkey
    exchange -- Catalyst must reuse the partitioning, not add a
    second shuffle."""
    from java_mapreduce_framework_spark.operators.relational import (
        customer_reorder_stats,
    )

    import re

    plan = _formatted(
        customer_reorder_stats(load_table(spark, sf_small, "orders"))
    )
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan[:2000]


def test_ann_ivfpq_codes_partitioned_by_cell(spark, sf_small):
    """The code table must be hash-partitioned ON CELL before the ADC
    scan (the in-plan twin of a partitionBy(cell) index layout: the
    probe list prunes whole partitions at the source), and the exact
    rescore must broadcast the shortlist, never shuffle the corpus."""
    from java_mapreduce_framework_spark.operators import similarity

    plan = _formatted(
        similarity.similarity_ann_ivfpq(load_table(spark, sf_small, "embeddings"))
    )
    import re

    assert re.search(
        r"hashpartitioning\(cell#\d+", plan
    ), f"no cell-keyed exchange before the ADC scan:\n{plan[:2000]}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_window_bollinger_single_user_exchange(spark, sf_small):
    """The three rolling aggregates (count, sum, sum of squares) must
    ride ONE user_id window exchange -- no joins, no second shuffle."""
    from java_mapreduce_framework_spark.operators import temporal

    plan = _formatted(
        temporal.window_bollinger(load_table(spark, sf_small, "events"))
    )
    assert "Join" not in plan
    ex = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln]
    assert len(ex) == 1 and "user_id" in ex[0]


def test_window_drawdown_and_rsi_single_exchange(spark, sf_small):
    """Stacked windows (peak then max-drawdown; lag then rolling
    sums) share one (user_id) exchange and one sort each."""
    from java_mapreduce_framework_spark.operators import temporal

    for op in (temporal.window_drawdown, temporal.window_rsi):
        plan = _formatted(op(load_table(spark, sf_small, "events")))
        assert "Join" not in plan
        ex = [
            ln for ln in plan.splitlines()
            if "Arguments: hashpartitioning" in ln
        ]
        assert len(ex) == 1 and "user_id" in ex[0], op.__name__


def test_attribution_position_based_inherits_linear_shape(spark, sf_small):
    """The position-aware variant must keep attribution_linear's
    shape: zero joins, ONE user exchange serving all three windows
    (prev-purchase count, segment stats, touch rank), one final
    channel agg exchange."""
    from java_mapreduce_framework_spark.operators import temporal

    plan = _formatted(
        temporal.attribution_position_based(
            load_table(spark, sf_small, "events")
        )
    )
    assert "Join" not in plan
    ex = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln]
    assert len([ln for ln in ex if "user_id" in ln]) == 1
    assert len(ex) == 2 and any("attributed_type" in ln or "event_type" in ln
                                for ln in ex)


def test_quantile_sketch_stats_broadcast_not_shuffled(spark, sf_small):
    """The per-type (lo, hi, n) grid stats must come back as a
    BROADCAST join onto the scan -- a shuffled join here would add a
    corpus-sized exchange before binning."""
    from java_mapreduce_framework_spark.operators import analytics

    plan = _formatted(
        analytics.quantile_sketch(load_table(spark, sf_small, "events"))
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------------------------------- round 9


def test_daily_candle_indicators_single_user_exchange(spark, sf_small):
    """The three technical indicators share ONE user-keyed exchange:
    the daily-candle resample, every bounded frame, and the lag all
    run on the same (user_id) partitioning -- a second Exchange would
    mean the window keys diverged from the aggregation keys."""
    from java_mapreduce_framework_spark.operators import temporal as T

    ev = load_table(spark, sf_small, "events")
    for fn in (T.window_atr, T.window_stochastic):
        plan = _formatted(fn(ev))
        assert _nodes(plan, "Exchange") == 1, fn.__name__
    # MACD adds the two collect_list frames on the same key
    assert _nodes(plan := _formatted(T.window_macd(ev)), "Exchange") == 1, plan[:0]


def test_embedding_dim_stats_partial_then_final(spark, sf_small):
    """The per-dimension profile must combine map-side: the shuffle
    carries d x partitions partial rows, never the d x N exploded
    stream."""
    from java_mapreduce_framework_spark.operators import similarity as S

    plan = _formatted(S.embedding_dim_stats(load_table(spark, sf_small, "embeddings")))
    assert "partial_" in plan  # partial_count/partial_avg markers
    assert _nodes(plan, "Exchange") == 1


def test_chisq_marginals_broadcast_not_shuffled(spark, sf_small):
    """Row/column marginals and the grand total join back as
    broadcasts -- a SortMergeJoin here would shuffle the cell table
    three times for tables that are at most |types|+7 rows."""
    from java_mapreduce_framework_spark.operators import analytics as A

    plan = _formatted(A.chisq_independence(load_table(spark, sf_small, "events")))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_sentence_dedup_single_sentence_keyed_exchange(spark, sf_small):
    """First-occurrence ranking shuffles sentence instances ONCE on
    the normalized sentence; the doc rollup adds the doc-keyed
    exchange -- two total, nothing quadratic."""
    from java_mapreduce_framework_spark.operators import text as T

    plan = _formatted(T.sentence_dedup(load_table(spark, sf_small, "documents")))
    assert _nodes(plan, "Exchange") == 2


def test_candle_indicators_single_user_exchange(spark, sf_small):
    """The round-11 indicator family (vortex here as the
    representative: lag + two rolling sums) must ride _daily_candle's
    ONE user-keyed exchange -- every window and the candle aggregate
    key on user_id, so no stage re-partitions."""
    from java_mapreduce_framework_spark.operators import temporal

    plan = _formatted(
        temporal.window_vortex(load_table(spark, sf_small, "events"))
    )
    ex = [ln for ln in plan.splitlines()
          if "Arguments: hashpartitioning" in ln]
    assert ex and all("user_id" in ln for ln in ex)
    assert "Join" not in plan


def test_roc_auc_ranks_distinct_scores_not_documents(spark, sf_small):
    """The rank-sum AUC compresses to distinct score values BEFORE
    the (single-partition, score-count-bounded) rank window: the
    window input must be the per-score aggregate, so the plan shows
    the HashAggregate below the Window and no join anywhere."""
    from java_mapreduce_framework_spark.operators import ml

    plan = _formatted(
        ml.roc_auc_lang_length(load_table(spark, sf_small, "documents"))
    )
    assert "Join" not in plan
    assert plan.count("(1) Scan parquet") == 1  # one corpus pass
    # the per-score compression is a real aggregate and the rank
    # window runs once over its output
    assert "HashAggregate" in plan
    import re as _re

    assert len(_re.findall(r"^\(\d+\) Window\b", plan,
                           flags=_re.MULTILINE)) == 1


def test_round12_indicators_single_user_exchange(spark, sf_small):
    """The round-12 indicators inherit the daily-candle contract: the
    resample, every bounded frame, the EWMA collect_list frames, and
    the nested mass-index folds all run on ONE user_id exchange."""
    from java_mapreduce_framework_spark.operators import temporal as T

    ev = load_table(spark, sf_small, "events")
    for fn in (
        T.window_elder_ray,
        T.window_cmf,
        T.window_coppock,
        T.window_mass_index,
    ):
        plan = _formatted(fn(ev))
        assert _nodes(plan, "Exchange") == 1, fn.__name__


def test_round12_value_alphabet_stats_compress_first(spark, sf_small):
    """cliff_delta / cvm must aggregate the corpus to (type, value)
    counts BEFORE any window: the plan's window input is the grouped
    stream (partial aggregation markers present), and no second
    corpus scan appears."""
    from java_mapreduce_framework_spark.operators import analytics as A

    ev = load_table(spark, sf_small, "events")
    for fn in (A.cliff_delta, A.cvm_two_sample):
        plan = _formatted(fn(ev))
        assert "partial_" in plan, fn.__name__
        assert plan.count("events.parquet") == 1, fn.__name__


#: every operator in operators/graph.py that takes only a pair stream
#: (the vertex-taking loops -- pagerank, label propagation,
#: eigenvector centrality -- also read a vertex table)
PAIR_GRAPH_OPS = [
    "connected_components",
    "connected_components_star",
    "component_stats",
    "bfs_hops",
    "kcore",
    "triangle_count",
    "clustering_coefficient",
    "edge_triangle_support",
    "global_transitivity",
    "common_neighbors",
    "adamic_adar",
    "resource_allocation",
    "preferential_attachment",
    "edge_jaccard",
    "degree_histogram",
    "degree_assortativity",
    "degree_gini",
    "rich_club",
]


@pytest.mark.parametrize("op", PAIR_GRAPH_OPS)
def test_pair_graph_operator_checkpoints_pair_stream(spark, sf_small, op):
    """Every consumer of the pair stream (symmetrized edges, degree
    counts, wedge joins, closing joins) must read a CHECKPOINTED pair
    stream -- for the co-purchase graph the pair generation is itself
    a self-join that must not execute once per consumer (zero
    source-parquet scans in the final plan: everything reads the
    checkpoint)."""
    from java_mapreduce_framework_spark.operators import graph

    li = load_table(spark, sf_small, "lineitem")
    op_ = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        op_.alias("a")
        .join(
            op_.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("doc_a"),
            F.col("b.l_partkey").alias("doc_b"),
        )
        .count()
        .filter(F.col("count") >= 2)
        .drop("count")
    )
    plan = _formatted(getattr(graph, op)(pairs))
    assert "lineitem.parquet" not in plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
