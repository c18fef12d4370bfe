from pyspark.sql import Row
from pyspark.sql import functions as F

from java_mapreduce_framework_spark.operators import relational


def _orders(spark):
    return spark.createDataFrame(
        [
            Row(o_orderkey=1, o_custkey=10, o_totalprice=100.0, o_orderdate="2024-01-01"),
            Row(o_orderkey=2, o_custkey=10, o_totalprice=300.0, o_orderdate="2024-01-02"),
            Row(o_orderkey=3, o_custkey=10, o_totalprice=200.0, o_orderdate="2024-01-03"),
            Row(o_orderkey=4, o_custkey=20, o_totalprice=50.0, o_orderdate="2024-01-01"),
        ]
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))


def test_topk(spark):
    out = relational.topk(_orders(spark), k=2).collect()
    assert [r["o_orderkey"] for r in out] == [2, 3]


def test_window_rank_ties_and_filter(spark):
    out = relational.window_rank(_orders(spark), k=2)
    got = {(r["o_custkey"], r["o_orderkey"], r["rnk"]) for r in out.collect()}
    assert got == {(10, 2, 1), (10, 3, 2), (20, 4, 1)}


def test_window_running_agg(spark):
    out = relational.window_running_agg(_orders(spark))
    per_cust = {
        (r["o_custkey"], r["o_orderkey"]): r["running_total"] for r in out.collect()
    }
    assert per_cust[(10, 1)] == 100.0
    assert per_cust[(10, 2)] == 400.0
    assert per_cust[(10, 3)] == 600.0


def test_set_ops(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(2,), (4,)], ["k"])
    assert {r["k"] for r in relational.set_union(a, b).collect()} == {1, 2, 3, 4}
    assert {r["k"] for r in relational.set_intersect(a, b).collect()} == {2}
    assert {r["k"] for r in relational.set_except(a, b).collect()} == {1, 3}


def test_rollup_has_grand_total(spark, sf_small):
    from java_mapreduce_framework_spark.sources.tables import load_table

    out = relational.grouping_rollup(load_table(spark, sf_small, "lineitem"))
    total = out.filter(
        F.col("l_returnflag").isNull() & F.col("l_linestatus").isNull()
    ).collect()
    assert len(total) == 1
    assert total[0]["n_rows"] == 6000


def test_join_skew_salted_matches_plain_join(spark):
    lineitem = spark.createDataFrame(
        [(1, float(i)) for i in range(50)] + [(2, 5.0), (3, 7.0)],
        ["l_orderkey", "l_extendedprice"],
    )
    orders = spark.createDataFrame(
        [(1, "1-URGENT"), (2, "2-HIGH"), (3, "2-HIGH"), (4, "5-LOW")],
        ["o_orderkey", "o_orderpriority"],
    )
    out = {
        (r["o_orderpriority"], r["n_items"], r["revenue"])
        for r in relational.join_skew_salted(lineitem, orders, salt_buckets=4).collect()
    }
    assert out == {("1-URGENT", 50, 1225.0), ("2-HIGH", 2, 12.0)}


def test_join_broadcast_is_broadcast(spark, sf_small):
    from java_mapreduce_framework_spark.sources.tables import load_table

    df = relational.join_broadcast(
        load_table(spark, sf_small, "orders"),
        load_table(spark, sf_small, "customer"),
        load_table(spark, sf_small, "nation"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_grouping_cube_includes_all_grouping_sets(spark, sf_small):
    from java_mapreduce_framework_spark.operators.relational import grouping_cube
    from java_mapreduce_framework_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    out = grouping_cube(li).collect()
    flags = li.select("l_returnflag").distinct().count()
    stats = li.select("l_linestatus").distinct().count()
    # full cube: detail + rollup-by-flag + rollup-by-status + grand total
    assert len(out) == flags * stats + flags + stats + 1
    grand = [r for r in out if r["l_returnflag"] is None and r["l_linestatus"] is None]
    assert len(grand) == 1 and grand[0]["n_rows"] == li.count()


def test_unpivot_metrics_melts_three_measures(spark, sf_small):
    from java_mapreduce_framework_spark.operators.relational import unpivot_metrics
    from java_mapreduce_framework_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    out = unpivot_metrics(li)
    assert out.count() == li.count() * 3
    # (orderkey, linenumber) need not be unique in the synthetic data:
    # compare the multiset of melted values per metric for one key
    got: dict = {}
    for r in out.filter("l_orderkey = 201 AND l_linenumber = 4").collect():
        got.setdefault(r["metric"], []).append(r["val"])
    src = li.filter("l_orderkey = 201 AND l_linenumber = 4").collect()
    assert sorted(got["l_quantity"]) == sorted(r["l_quantity"] for r in src)
    assert sorted(got["l_extendedprice"]) == sorted(r["l_extendedprice"] for r in src)
    assert sorted(got["l_discount"]) == sorted(r["l_discount"] for r in src)


def test_groupby_argmax_latest_event_deterministic(spark):
    import datetime

    from java_mapreduce_framework_spark.operators.relational import groupby_argmax

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        # user 1: two events, later wins
        (1, ts, 1, "a", 1.0),
        (2, ts + datetime.timedelta(minutes=5), 1, "b", 2.0),
        # user 2: tie on ts -> higher event_id wins
        (3, ts, 2, "x", 3.0),
        (4, ts, 2, "y", 4.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r["user_id"]: (r["last_type"], r["last_value"]) for r in groupby_argmax(events).collect()}
    assert got == {1: ("b", 2.0), 2: ("y", 4.0)}


def test_groupby_argmax_is_aggregate_not_window(spark, sf_small):
    from java_mapreduce_framework_spark.operators.relational import groupby_argmax
    from java_mapreduce_framework_spark.sources.tables import load_table

    plan = groupby_argmax(load_table(spark, sf_small, "events"))._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # algebraic max_by, no per-group sort


def test_sql_promo_share_invariants(spark, sf_small):
    from java_mapreduce_framework_spark.plans.sql import PROMO_SHARE, run_sql

    row = run_sql(spark, sf_small, PROMO_SHARE).collect()[0]
    assert row["n_items"] > 0
    assert 0.0 < row["promo_revenue"] < row["total_revenue"]


def test_run_sql_registers_only_named_tables(spark, sf_small):
    """run_sql registers exactly the fixture views its SQL names, and on
    a warm session building the query launches no Spark job."""
    from java_mapreduce_framework_spark.plans.sql import REGIONAL_VOLUME, run_sql
    from java_mapreduce_framework_spark.sources.tables import TABLES

    run_sql(spark, sf_small, REGIONAL_VOLUME)  # warm the schema cache
    for name in TABLES:
        spark.catalog.dropTempView(name)
    sc = spark.sparkContext
    sc.setJobGroup("run_sql_warm", "run_sql_warm")
    try:
        run_sql(spark, sf_small, REGIONAL_VOLUME)
        assert sc.statusTracker().getJobIdsForGroup("run_sql_warm") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert views & set(TABLES) == {
        "customer", "orders", "lineitem", "supplier", "nation", "region"
    }


def test_run_sql_unknown_table_raises(spark, sf_small):
    import pytest
    from pyspark.errors import AnalysisException

    from java_mapreduce_framework_spark.plans.sql import run_sql

    with pytest.raises(AnalysisException):
        run_sql(spark, sf_small, "SELECT count(*) FROM lineitems")


def test_sketch_hll_merged_equals_direct_and_bounds_error(spark, sf_small):
    """Unioning per-group HLL sketches must give EXACTLY the estimate
    of sketching the whole column (HLL merge is lossless for a fixed
    config), and every estimate stays within 10% of exact."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators.relational import (
        sketch_hll_mergeable,
    )
    from java_mapreduce_framework_spark.sources.tables import load_table

    events = load_table(spark, sf_small, "events")
    rows = {r["event_type"]: r for r in sketch_hll_mergeable(events).collect()}
    direct = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).first()["e"]
    assert rows["__all__"]["approx_users"] == direct
    exact_all = events.select("user_id").distinct().count()
    assert abs(rows["__all__"]["approx_users"] - exact_all) <= 0.1 * exact_all
    for t, r in rows.items():
        if t == "__all__":
            continue
        assert abs(r["approx_users"] - r["exact_users"]) <= 0.1 * r["exact_users"]


def test_cdc_latest_wins_keeps_one_newest_version_per_key(spark, sf_small):
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators.relational import cdc_latest_wins
    from java_mapreduce_framework_spark.sources.tables import load_table

    events = load_table(spark, sf_small, "events")
    merged = cdc_latest_wins(events)
    n_events = events.count()
    assert merged.count() == n_events  # one surviving row per event_id
    # every updated key carries version 1 and the doubled value
    updated = merged.filter(F.col("event_id") % 10 == 0)
    assert updated.filter(F.col("version") != 1).count() == 0
    assert merged.filter((F.col("event_id") % 10 != 0) & (F.col("version") != 0)).count() == 0


def test_quality_constraints_single_pass_and_detects_violations(spark, sf_small):
    """The constraint suite must (a) pass wholesale on the clean TPC-H
    fixture, (b) evaluate in ONE scan of the table, and (c) actually
    flag a corrupted load."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators.relational import quality_constraints
    from java_mapreduce_framework_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    report = {r["constraint"]: r for r in quality_constraints(li).collect()}
    assert len(report) == 8
    # the synthetic fixture honors every TPC-H invariant EXCEPT
    # compound-key uniqueness (the generator reuses line numbers) --
    # the report must say so truthfully, with the exact ratio
    clean = {k for k, r in report.items() if r["passed"]}
    assert clean == set(report) - {"unique_pk"}
    n = li.count()
    n_pk = li.select("l_orderkey", "l_linenumber").distinct().count()
    assert report["unique_pk"]["metric"] == round(n_pk / n, 6)

    import re

    plan = quality_constraints(li)._sc._jvm.PythonSQLUtils.explainString(
        quality_constraints(li)._jdf.queryExecution(), "formatted"
    )
    # one physical scan: every metric (including the distinct-rewritten
    # uniqueness) rides the same pass over the table
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 1

    corrupted = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(999.0)).otherwise(F.col("l_quantity")),
    ).withColumn(
        "l_returnflag",
        F.when(F.col("l_orderkey") % 11 == 0, F.lit("Z")).otherwise(F.col("l_returnflag")),
    )
    bad = {r["constraint"]: r for r in quality_constraints(corrupted).collect()}
    assert not bad["range_quantity"]["passed"]
    assert not bad["domain_returnflag"]["passed"]
    assert bad["range_quantity"]["metric"] < 1.0
    # corruption touched values, not keys: uniqueness metric unchanged
    assert bad["unique_pk"]["metric"] == report["unique_pk"]["metric"]


def test_incremental_agg_merge_equals_direct(spark):
    """Merged per-day moment partials == direct whole-column stats."""
    import datetime as dt
    import statistics

    from java_mapreduce_framework_spark.operators import relational

    vals = [(d, v) for d in (1, 2, 3) for v in (1.5 * d, 2.5 * d, 10.0)]
    events = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 5, d, 12), 7, "buy", v, None)
            for i, (d, v) in enumerate(vals)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    [r] = relational.incremental_agg_merge(events).collect()
    xs = [v for _, v in vals]
    assert (r["n_days"], r["n_events"]) == (3, 9)
    assert abs(r["avg_value"] - round(sum(xs) / 9, 4)) < 1e-9
    assert abs(r["var_value"] - round(statistics.pvariance(xs), 4)) < 2e-4
    assert (r["min_value"], r["max_value"]) == (1.5, 10.0)


def test_zorder_index_interleave_reference(spark):
    """Engine Morton code == a python-reference interleave."""
    import datetime as dt

    from java_mapreduce_framework_spark.operators import relational

    def morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    epoch = dt.datetime(1970, 1, 1)
    rows = [(1, 3, 5), (2, 65535, 131071), (3, 0, 0), (4, 40000, 123456)]
    events = spark.createDataFrame(
        [
            (e, epoch + dt.timedelta(minutes=m), u, "x", 0.0, None)
            for e, u, m in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r["z_bucket"] for r in relational.zorder_index(events).collect()}
    want = {morton(u % 65536, m % 65536) >> 16 for _, u, m in rows}
    assert got == want


def test_join_bloom_pruned_no_false_negatives_and_prunes(spark, sf_small):
    """Bloom-pruned result == plain join result (no false negatives),
    and the bitmap actually rejects most non-matching fact rows."""
    from java_mapreduce_framework_spark.operators import relational
    from java_mapreduce_framework_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_small, "orders")
    customer = load_table(spark, sf_small, "customer")
    got = {
        r["o_orderpriority"]: (r["n_orders"], r["revenue"])
        for r in relational.join_bloom_pruned(orders, customer).collect()
    }
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING")
    want = {
        r["o_orderpriority"]: (r["n_orders"], float(r["revenue"]))
        for r in orders.join(dim, orders["o_custkey"] == dim["c_custkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .collect()
    }
    assert got == want
    # selectivity: the BUILDING segment is ~1/5 of customers, so the
    # bloom must reject a clear majority of orders (fp rate at
    # 3 hashes / 64k bits / ~30 keys is << 1%)
    n_match = orders.join(dim, orders["o_custkey"] == dim["c_custkey"]).count()
    assert n_match < orders.count() * 0.5


def test_corr_matrix_known_values(spark):
    """Perfect correlation on y=2x, matrix symmetric in its diagonal,
    off-diagonal matches numpy corrcoef."""
    import numpy as np

    from java_mapreduce_framework_spark.operators import analytics

    rng = np.random.default_rng(3)
    q = rng.uniform(1, 50, 40)
    d = rng.uniform(0, 0.1, 40)
    rows = [(float(qi), float(2 * qi), float(di)) for qi, di in zip(q, d)]
    df = spark.createDataFrame(rows, "l_quantity double, l_extendedprice double, l_discount double")
    got = {
        (r["metric_a"], r["metric_b"]): r["corr"]
        for r in analytics.corr_matrix(df).collect()
    }
    assert got[("quantity", "quantity")] == 1.0
    assert got[("quantity", "extendedprice")] == 1.0  # y = 2x
    want = float(np.corrcoef(q, d)[0, 1])
    assert abs(got[("quantity", "discount")] - round(want, 4)) < 1e-3


def test_ks_drift_planted_distributions(spark):
    """Disjoint supports give KS=1; identical samples give KS=0."""
    from java_mapreduce_framework_spark.operators import analytics

    def ev(i, t, v):
        return (i, None, 1, t, float(v), None)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    disjoint = spark.createDataFrame(
        [ev(i, "view", i) for i in range(5)]
        + [ev(100 + i, "click", 100 + i) for i in range(5)],
        schema,
    )
    [r] = analytics.ks_drift(disjoint).collect()
    assert (r["n_a"], r["n_b"], r["ks_stat"]) == (5, 5, 1.0)
    same = spark.createDataFrame(
        [ev(i, "view", i % 3) for i in range(6)]
        + [ev(100 + i, "click", i % 3) for i in range(6)],
        schema,
    )
    [r] = analytics.ks_drift(same).collect()
    assert r["ks_stat"] == 0.0


def test_psi_drift_identical_vs_shifted(spark):
    """Even/odd halves with identical distributions give PSI ~ 0; a
    shifted odd half gives a clearly positive PSI."""
    from java_mapreduce_framework_spark.operators import analytics

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    same = spark.createDataFrame(
        [(i, None, 1, "x", float((i // 2) % 100), None) for i in range(400)],
        schema,
    )
    total = {r["psi_total"] for r in analytics.psi_drift(same).collect()}
    assert len(total) == 1 and abs(total.pop()) < 1e-6
    shifted = spark.createDataFrame(
        [(i, None, 1, "x", float((i % 100) + (200 if i % 2 else 0)), None) for i in range(400)],
        schema,
    )
    total = {r["psi_total"] for r in analytics.psi_drift(shifted).collect()}
    assert len(total) == 1 and total.pop() > 1.0


def test_set_all_variants_multiset_semantics(spark):
    """INTERSECT ALL keeps min multiplicity; EXCEPT ALL subtracts."""
    from java_mapreduce_framework_spark.operators import relational

    a = spark.createDataFrame([(1,), (1,), (1,), (2,), (3,)], "x long")
    b = spark.createDataFrame([(1,), (1,), (3,), (3,), (4,)], "x long")
    inter = sorted(r["x"] for r in relational.set_intersect_all(a, b).collect())
    assert inter == [1, 1, 3]  # min(3,2)=2 ones... min counts
    exc = sorted(r["x"] for r in relational.set_except_all(a, b).collect())
    assert exc == [1, 2]  # 3-2 ones, the 2, zero 3s


def test_flatmap_explode_outer_preserves_empty_rows(spark):
    from java_mapreduce_framework_spark.operators import relational

    events = spark.createDataFrame(
        [(1, None, 1, "x", 0.0, '{"k": 3}'),   # m=0 -> NULL row kept
         (2, None, 1, "x", 0.0, '{"k": 5}'),   # m=2 -> steps 1,2
         (3, None, 1, "x", 0.0, None)],        # null props -> NULL row
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = sorted(
        (r["event_id"], r["step"])
        for r in relational.flatmap_explode_outer(events).collect()
    )
    assert got == [(1, None), (2, 1), (2, 2), (3, None)]


def test_audience_overlap_counts_shared_users(spark):
    from java_mapreduce_framework_spark.operators import relational

    rows = [(1, "view"), (1, "click"), (1, "view"), (2, "view"), (2, "buy"), (3, "click")]
    events = spark.createDataFrame(
        [(i, None, u, t, 0.0, None) for i, (u, t) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        (r["type_a"], r["type_b"]): r["n_shared"]
        for r in relational.audience_overlap(events).collect()
    }
    assert got == {("click", "view"): 1, ("buy", "view"): 1}


def test_target_encoding_shrinks_toward_global(spark):
    """Rare categories shrink harder toward the global mean than
    frequent ones; the blend is the textbook closed form."""
    from java_mapreduce_framework_spark.operators import analytics

    rows = [(i, "x", "en", "big", 100) for i in range(20)] + [
        (100, "x", "en", "rare", 500)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in analytics.target_encoding(docs).collect()}
    g = (20 * 100 + 500) / 21.0
    assert out["big"]["mean_target"] == 100.0
    assert out["rare"]["mean_target"] == 500.0
    assert out["rare"]["encoded"] == round((500 + 10 * g) / 11.0, 4)
    assert out["big"]["encoded"] == round((2000 + 10 * g) / 30.0, 4)
    # shrinkage: the rare category moves further toward g than big
    assert abs(out["rare"]["encoded"] - 500) > abs(out["big"]["encoded"] - 100)


def test_mad_outliers_flags_whale_not_bulk(spark):
    """One extreme value is flagged; the bulk (and zero-MAD groups)
    are not."""
    from java_mapreduce_framework_spark.operators import analytics

    rows = [(i, "2024-01-01 00:00:00", i, "buy", float(v), "{}")
            for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 1000])]
    # constant-valued group: MAD = 0, must be dropped entirely
    rows += [(100 + i, "2024-01-01 00:00:00", i, "flat", 5.0, "{}") for i in range(4)]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = analytics.mad_outliers(events, k=3.5).collect()
    assert [(r["event_id"], r["event_type"]) for r in out] == [(7, "buy")]


def test_skyline_pareto_frontier_exact(spark):
    """Frontier = points undominated on (min price, max size);
    dominated and duplicate points handled per the sweep contract."""
    from java_mapreduce_framework_spark.operators import relational as rel

    rows = [
        (1, "p", "m", "b", "t", 10, "c", 100.0, "x"),   # frontier (cheapest)
        (2, "p", "m", "b", "t", 20, "c", 150.0, "x"),   # frontier (bigger, pricier)
        (3, "p", "m", "b", "t", 15, "c", 180.0, "x"),   # dominated by 2
        (4, "p", "m", "b", "t", 20, "c", 150.0, "x"),   # duplicate of 2
        (5, "p", "m", "b", "t", 5, "c", 120.0, "x"),    # dominated by 1
        (6, "p", "m", "b", "t", 30, "c", 400.0, "x"),   # frontier (biggest)
    ]
    part = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_mfgr string, p_brand string,"
        " p_type string, p_size int, p_container string,"
        " p_retailprice double, p_comment string",
    )
    out = sorted(
        rel.skyline_pareto(part).collect(), key=lambda r: r["p_retailprice"]
    )
    assert [(r["p_retailprice"], r["p_size"], r["n_parts"]) for r in out] == [
        (100.0, 10, 1), (150.0, 20, 2), (400.0, 30, 1)
    ]


def test_join_interval_overlap_spans_quarters(spark):
    """An interval crossing a quarter boundary lands in both quarters."""
    from java_mapreduce_framework_spark.operators import relational as rel

    rows = [
        # ships Mar 30, linenumber 1 -> receipt Apr 5: overlaps Q1 + Q2
        (1, 1, 1, 1, 10.0, 1.0, 0.0, 0.0, "N", "O", "1995-03-30 00:00:00"),
        # ships Feb 1, linenumber 1 -> receipt Feb 7: Q1 only
        (2, 1, 1, 1, 5.0, 1.0, 0.0, 0.0, "N", "O", "1995-02-01 00:00:00"),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate"))
    out = {str(r["q_start"])[:10]: r for r in rel.join_interval_overlap(li).collect()}
    assert out["1995-01-01"]["n_in_transit"] == 2
    assert out["1995-04-01"]["n_in_transit"] == 1
    assert out["1995-01-01"]["sum_qty"] == 15.0


def test_time_resample_gapfill_locf(spark):
    """Silent hours appear with n_events=0 and carry the last value
    forward; hours before any data have NULL locf."""
    from java_mapreduce_framework_spark.operators import analytics

    rows = [
        (1, "2024-01-01 05:30:00", 1, "view", 10.0, "{}"),
        (2, "2024-01-01 08:10:00", 1, "view", 4.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        str(r["bucket_hour"]): r
        for r in analytics.time_resample_gapfill(events).collect()
    }
    assert len(out) == 720  # 30 days x 24 h x 1 type
    assert out["2024-01-01 04:00:00"]["n_events"] == 0
    assert out["2024-01-01 04:00:00"]["locf_value"] is None
    assert out["2024-01-01 05:00:00"]["n_events"] == 1
    gap = out["2024-01-01 06:00:00"]
    assert gap["n_events"] == 0 and gap["locf_value"] == 10.0
    assert out["2024-01-01 09:00:00"]["locf_value"] == 4.0


def test_ab_test_ztest_detects_planted_effect(spark):
    """A type converted only by variant-A users comes out significant;
    a uniformly-converted type does not."""
    from java_mapreduce_framework_spark.operators import analytics

    # find some user ids per variant under the op's own hash split
    import hashlib

    a_users = [u for u in range(1000) if hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] < "8"][:40]
    b_users = [u for u in range(1000) if hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] >= "8"][:40]
    rows = []
    eid = 0
    for u in a_users + b_users:
        for _ in range(10):  # everyone converts on 'view'
            rows.append((eid, "2024-01-01 00:00:00", u, "view", 1.0, "{}")); eid += 1
    for u in a_users:  # only A converts on 'buy'
        for _ in range(10):
            rows.append((eid, "2024-01-01 00:00:00", u, "buy", 1.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["event_type"]: r for r in analytics.ab_test_ztest(events).collect()}
    assert out["buy"]["significant"] is True and out["buy"]["zscore"] > 1.96
    assert "view" not in out or out["view"]["significant"] is False


def test_equidepth_histogram_balanced_and_contiguous(spark, sf_small):
    """Buckets must partition the rows, hold roughly equal counts
    (within 3x of ideal on real data with ties), and their [lo, hi]
    ranges must be ordered and non-overlapping."""
    from java_mapreduce_framework_spark.operators.relational import (
        equidepth_histogram,
    )
    from java_mapreduce_framework_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    rows = sorted(
        equidepth_histogram(li).collect(), key=lambda r: r["bucket"]
    )
    total = li.count()
    assert [r["bucket"] for r in rows] == list(range(len(rows)))
    assert sum(r["n_rows"] for r in rows) == total
    ideal = total / len(rows)
    assert all(r["n_rows"] < 3 * ideal for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert a["hi_price"] <= b["lo_price"]


def test_audience_overlap_kmv_estimator_accuracy(spark):
    """Above the k threshold the KMV theta estimator must land within
    ~4/sqrt(k) relative error on a controlled synthetic overlap
    (20k-user audiences, 50% overlap, k=256 — far below audience
    size, so the estimator path, not the exact regime, is exercised);
    also the k-smallest merge must be EXACT vs a direct global sort."""
    from java_mapreduce_framework_spark.operators.relational import (
        audience_overlap_kmv,
        kmv_sketches,
    )

    n, k = 20_000, 256
    rows = [(u, "A") for u in range(n)]
    rows += [(u, "B") for u in range(n // 2, n + n // 2)]
    events = spark.createDataFrame(
        [(u, t, 0.0) for u, t in rows], "user_id long, event_type string, value double"
    )
    got = {
        (r["type_a"], r["type_b"]): r["n_shared"]
        for r in audience_overlap_kmv(events, k=k, cells=16).collect()
    }
    true_inter = n // 2
    rel_err = abs(got[("A", "B")] - true_inter) / true_inter
    assert rel_err <= 4 / (k ** 0.5), (got, rel_err)
    # exact-k construction: per-cell merge == direct top-k of all hashes
    sk = {
        r["event_type"]: r["sketch"]
        for r in kmv_sketches(events, k=k, cells=16).collect()
    }
    direct = sorted(
        r["h"]
        for r in events.filter(F.col("event_type") == "A")
        .select(
            F.pmod(F.xxhash64("user_id"), F.lit(1 << 61)).alias("h")
        )
        .distinct()
        .collect()
    )[:k]
    assert sk["A"] == direct


def test_exact_quantiles_matches_builtin_percentile(spark):
    """The distributed order-statistic kernel must reproduce Spark's
    exact ``percentile`` (= DuckDB quantile_cont) bit-for-bit after
    the shared round(4) — in both raw and frequency-compressed modes,
    across shard counts (incl. shards > #values, forcing empty
    range partitions), and with heavy ties."""
    from java_mapreduce_framework_spark.operators.relational import (
        exact_quantiles,
    )

    vals = [1.5, 2.25, 2.25, 2.25, 7.0, 11.125, 13.5, 13.5, 40.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    expected = df.agg(
        F.transform(
            F.percentile("x", F.array(*[F.lit(q) for q in qs])),
            lambda b: F.round(b, 4),
        ).alias("bounds")
    ).collect()[0]["bounds"]
    for shards in (2, 16):
        for compress in (False, True):
            got = exact_quantiles(
                df, "x", qs, shards=shards, compress=compress
            ).collect()[0]["bounds"]
            assert got == expected, (shards, compress, got, expected)


def test_exact_quantiles_grouped_matches_builtin(spark):
    """Grouped kernel vs grouped F.percentile: keys with very
    different sizes (one spanning many range shards), ties, and a
    singleton group; both compress modes."""
    from java_mapreduce_framework_spark.operators.relational import (
        exact_quantiles_grouped,
    )

    rows = [("big", float(i % 97)) for i in range(2000)]
    rows += [("small", v) for v in (1.0, 2.0, 2.0, 9.5)]
    rows += [("one", 42.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    qs = [0.25, 0.5, 0.9]
    expected = {
        (r["k"], i): r["bounds"][i]
        for r in df.groupBy("k")
        .agg(
            F.transform(
                F.percentile("x", F.array(*[F.lit(q) for q in qs])),
                lambda b: F.round(b, 4),
            ).alias("bounds")
        )
        .collect()
        for i in range(len(qs))
    }
    for compress in (False, True):
        got = {
            (r["k"], r["q_idx"]): r["bound"]
            for r in exact_quantiles_grouped(
                df, "k", "x", qs, shards=16, compress=compress
            ).collect()
        }
        assert got == expected, (compress, got, expected)


def test_winsorize_stats_clip_bounds(spark):
    """Hand-built values: exactly the extremes clip, means move toward
    the center, and row counts are preserved (clip, don't drop)."""
    import datetime as dt

    from java_mapreduce_framework_spark.operators.temporal import winsorize_stats

    base = dt.datetime(2024, 1, 1)
    vals = list(range(1, 100)) + [10_000]  # one huge outlier
    events = spark.createDataFrame(
        [(i, 1, base, "a", float(v)) for i, v in enumerate(vals)],
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    r = winsorize_stats(events).collect()[0]
    assert r["n_events"] == 100
    assert r["n_clipped_high"] >= 1  # the outlier
    assert r["mean_winsorized"] < r["mean_raw"]  # pulled toward center


def test_bootstrap_ci_brackets_mean_and_matches_poisson_weights(spark, sf_small):
    """The interval must bracket the pinned full mean, and the
    replicate machinery must reproduce serially: replicate 0's
    weighted sum recomputed in Python from the same md5 scramble and
    integer ladder equals the engine's implied replicate mean."""
    import hashlib

    from java_mapreduce_framework_spark.operators import analytics
    from java_mapreduce_framework_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    out = {r["l_returnflag"]: r for r in analytics.stats_bootstrap_ci(li).collect()}
    assert out
    for r in out.values():
        assert r["ci_lo"] <= r["mean_price"] <= r["ci_hi"]
        assert r["se_boot"] > 0

    rows = li.select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    ).collect()
    ladder = [385750, 771499, 964374, 1028665, 1044738, 1047953,
              1048489, 1048565, 1048575]
    flags = sorted({r["l_returnflag"] for r in rows})
    for flag in flags:
        sub = [r for r in rows if r["l_returnflag"] == flag]
        sums = {"n": 0, "sx": 0}
        for r in sub:
            h = hashlib.md5(
                f"bs|{r['l_orderkey']}|{r['l_linenumber']}".encode()
            ).hexdigest()
            h8 = int(h[:8], 16)
            s2 = (((h8 * 1000003 + 0 * 999999937) % 1048576) * 48271 + 11) % 1048576
            w = sum(1 for t in ladder if s2 >= t)
            cents = int(round(r["l_extendedprice"] * 100))
            sums["n"] += w
            sums["sx"] += w * cents
        # replicate-0 mean must sit inside a few SE of the full mean
        mb = sums["sx"] / 100.0 / sums["n"]
        r = out[flag]
        assert abs(mb - r["mean_price"]) < 6 * max(r["se_boot"], 1e-9)


def test_welch_ttest_detects_planted_mean_shift(spark):
    """Variant-A users' 'buy' values sit 10 higher than B's -> huge t;
    'view' values identical across arms -> t == 0, insignificant.
    Reference t for the planted case: means differ by 10 with
    within-arm variance 0.25, so |t| must clear 1.96 by miles."""
    import hashlib

    from java_mapreduce_framework_spark.operators import analytics

    a_users = [u for u in range(1000)
               if hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] < "8"][:30]
    b_users = [u for u in range(1000)
               if hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] >= "8"][:30]
    rows, eid = [], 0
    for i, u in enumerate(a_users):
        rows.append((eid, "2024-01-01 00:00:00", u, "buy",
                     20.0 + (i % 2), "{}")); eid += 1
        rows.append((eid, "2024-01-01 00:00:00", u, "view", 5.0, "{}")); eid += 1
    for i, u in enumerate(b_users):
        rows.append((eid, "2024-01-01 00:00:00", u, "buy",
                     10.0 + (i % 2), "{}")); eid += 1
        rows.append((eid, "2024-01-01 00:00:00", u, "view", 5.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["event_type"]: r for r in analytics.welch_ttest(events).collect()}
    assert out["buy"]["significant"] is True and out["buy"]["t_stat"] > 10
    assert out["buy"]["n_a"] == 30 and out["buy"]["n_b"] == 30
    assert out["buy"]["mean_a"] == 20.5 and out["buy"]["mean_b"] == 10.5
    # zero-variance arms carry no test: the degenerate guard drops them
    assert "view" not in out


def test_mannwhitney_matches_scipy_free_reference(spark):
    """Planted shift: A's 'buy' values strictly dominate B's -> U at
    its maximum (n_a*n_b), huge z. Tied-rank arithmetic checked
    against a literal average-rank computation."""
    import hashlib

    from java_mapreduce_framework_spark.operators import analytics

    a_users = [u for u in range(1000)
               if hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] < "8"][:20]
    b_users = [u for u in range(1000)
               if hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] >= "8"][:20]
    rows, eid = [], 0
    for u in a_users:
        rows.append((eid, "2024-01-01 00:00:00", u, "buy", 100.0, "{}")); eid += 1
    for u in b_users:
        rows.append((eid, "2024-01-01 00:00:00", u, "buy", 1.0, "{}")); eid += 1
    # ties: every user contributes one identical 'view' value
    for u in a_users + b_users:
        rows.append((eid, "2024-01-01 00:00:00", u, "view", 7.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["event_type"]: r for r in analytics.mannwhitney_utest(events).collect()}
    buy = out["buy"]
    assert buy["u_stat"] == 400.0  # complete separation: U = n_a * n_b
    assert buy["significant"] is True and buy["zscore"] > 5
    # all-tied arm: every rank is the average -> U = n_a*n_b/2, z = 0
    view = out["view"]
    assert view["u_stat"] == 200.0 and view["zscore"] == 0.0
    assert view["significant"] is False


def test_anova_matches_closed_form(spark):
    """Three groups with planted means; F checked against the
    closed-form computation on the same pinned (rounded-6) means."""
    from java_mapreduce_framework_spark.operators import analytics

    rows, eid = [], 0
    groups = {"a": [10.0, 12.0, 14.0], "b": [20.0, 22.0, 24.0],
              "c": [10.0, 22.0, 34.0]}
    for g, vals in groups.items():
        for v in vals:
            rows.append((eid, "2024-01-01 00:00:00", eid, g, v, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = analytics.anova_oneway(events).collect()
    assert len(out) == 1
    r = out[0]
    # by hand: means 12, 22, 22 -> grand = 56/3 rounded 6 = 18.666667
    # ssb = 3*((12-g)^2 + 2*(22-g)^2), ssw = 8 + 8 + 288
    g = round(56 / 3, 6)
    ssb = 3 * ((12 - g) ** 2 + 2 * (22 - g) ** 2)
    assert r["k_groups"] == 3 and r["n_total"] == 9
    assert r["ss_within"] == 304.0
    assert abs(r["ss_between"] - round(ssb, 4)) < 1e-9
    f = (ssb / 2) / (304.0 / 6)
    assert abs(r["f_stat"] - round(f, 4)) < 1e-9
    assert abs(r["eta_sq"] - round(ssb / (ssb + 304.0), 4)) < 1e-9


def test_fdr_bh_step_up_prefix(spark, sf_small):
    """BH rejections are a prefix of the p-ranking, every rejected p
    sits at-or-below SOME later-rank criterion (step-up), and the
    p-approximation is monotone in |z|."""
    from java_mapreduce_framework_spark.operators import analytics
    from java_mapreduce_framework_spark.sources.tables import load_table

    out = sorted(
        analytics.fdr_bh(load_table(spark, sf_small, "events")).collect(),
        key=lambda r: r["p_rank"],
    )
    assert [r["p_rank"] for r in out] == list(range(1, len(out) + 1))
    # monotone p along the rank order, rejected set is a prefix
    ps = [r["p_approx"] for r in out]
    assert ps == sorted(ps)
    flags = [r["rejected"] for r in out]
    assert flags == sorted(flags, reverse=True)
    # step-up: the LAST rejected rank satisfies its own criterion
    rejected = [r for r in out if r["rejected"]]
    if rejected:
        last = rejected[-1]
        assert last["p_approx"] <= last["bh_crit"]
    # |z| larger -> p smaller (approximation is monotone)
    byz = sorted(out, key=lambda r: abs(r["zscore"]))
    pz = [r["p_approx"] for r in byz]
    assert pz == sorted(pz, reverse=True)


def test_interval_coverage_consistent_with_merge(spark, sf_small):
    """Coverage aggregates reproduce a direct fold over
    interval_merge's spans: covered <= window, counts add up."""
    from java_mapreduce_framework_spark.operators import temporal
    from java_mapreduce_framework_spark.sources.tables import load_table

    events = load_table(spark, sf_small, "events")
    spans = temporal.interval_merge(events).collect()
    cov = {r["user_id"]: r for r in
           temporal.interval_coverage(events).collect()}
    from collections import defaultdict
    n_spans, n_events = defaultdict(int), defaultdict(int)
    for s in spans:
        n_spans[s["user_id"]] += 1
        n_events[s["user_id"]] += s["n_events"]
    assert set(cov) == set(n_spans)
    for u, r in cov.items():
        assert r["n_spans"] == n_spans[u]
        assert r["n_events"] == n_events[u]
        assert r["covered_s"] <= r["window_s"] + 1e-9
        assert 0.0 < r["coverage"] <= 1.0


def test_l_diversity_flags_homogeneous_groups(spark):
    """A QI cell with one source is flagged regardless of size; a
    3-source cell is not."""
    from java_mapreduce_framework_spark.operators import text as t

    rows = [(i, "x", "en", "web", 50) for i in range(10)]
    rows += [(100 + i, "x", "de", ["web", "book", "wiki"][i], 50)
             for i in range(3)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {(r["lang"], r["size_bucket"]): r
           for r in t.l_diversity_audit(docs).collect()}
    en = out[("en", 0)]
    assert en["group_size"] == 10 and en["l_distinct"] == 1
    assert en["at_risk"] is True
    de = out[("de", 0)]
    assert de["group_size"] == 3 and de["l_distinct"] == 3
    assert de["at_risk"] is False


def test_funnel_time_to_convert_nonnegative_and_counts(spark, sf_small):
    """Delays are non-negative by min-ts chaining, step counts match
    funnel_conversion's survivors, and p50 <= p90."""
    from java_mapreduce_framework_spark.operators import analytics
    from java_mapreduce_framework_spark.sources.tables import load_table

    events = load_table(spark, sf_small, "events")
    out = {r["step"]: r
           for r in analytics.funnel_time_to_convert(events).collect()}
    fc = {r["stage"]: r["n_users"]
          for r in analytics.funnel_conversion(events).collect()}
    assert out["L1_signup->L2_view"]["n_users"] == fc["L2_view"]
    assert out["L2_view->L3_click"]["n_users"] == fc["L3_click"]
    assert out["L3_click->L4_purchase"]["n_users"] == fc["L4_purchase"]
    for r in out.values():
        assert 0.0 <= r["p50_s"] <= r["p90_s"]


def test_event_type_cooccurrence_bounds(spark, sf_small):
    """Support counts obey n_both <= min(n_a, n_b) and all 10
    unordered type pairs appear at this SF; lift > 0."""
    from java_mapreduce_framework_spark.operators import analytics
    from java_mapreduce_framework_spark.sources.tables import load_table

    events = load_table(spark, sf_small, "events")
    out = analytics.event_type_cooccurrence(events).collect()
    assert len(out) == 10
    for r in out:
        assert r["type_a"] < r["type_b"]
        assert 0 < r["n_both"] <= min(r["n_a"], r["n_b"])
        assert r["lift"] > 0


def test_user_behavior_entropy_bounds_and_known_values(spark):
    """Single-type user scores 0; a perfectly uniform 2-type user
    scores exactly 1 bit; entropy <= log2(n_types)."""
    import math

    from java_mapreduce_framework_spark.operators import analytics

    rows, eid = [], 0
    for _ in range(7):
        rows.append((eid, "2024-01-01 00:00:00", 1, "view", 1.0, "{}")); eid += 1
    for t in ["view", "click"] * 4:
        rows.append((eid, "2024-01-01 00:00:00", 2, t, 1.0, "{}")); eid += 1
    for t in ["view", "view", "click", "purchase"]:
        rows.append((eid, "2024-01-01 00:00:00", 3, t, 1.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["user_id"]: r
           for r in analytics.user_behavior_entropy(events).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["n_types"] == 1
    assert out[2]["entropy"] == 1.0 and out[2]["n_events"] == 8
    h3 = -(0.5 * math.log2(0.5) + 2 * 0.25 * math.log2(0.25))
    assert abs(out[3]["entropy"] - round(h3, 4)) < 1e-9
    for r in out.values():
        assert 0.0 <= r["entropy"] <= math.log2(max(r["n_types"], 2)) + 1e-9


def test_hourly_autocorrelation_detects_planted_period(spark):
    """A strictly 2-hour periodic series autocorrelates negatively at
    lag 1 and perfectly at even lags (12, 24); bounds hold."""
    from java_mapreduce_framework_spark.operators import analytics

    rows, eid = [], 0
    # 10 days of alternating 5-then-1 events per hour
    for hour in range(240):
        n = 5 if hour % 2 == 0 else 1
        for _ in range(n):
            ts = f"2024-01-{1 + hour // 24:02d} {hour % 24:02d}:30:00"
            rows.append((eid, ts, eid % 7, "beat", 1.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["lag_h"]: r["autocorr"]
           for r in analytics.hourly_autocorrelation(events).collect()}
    assert out[1] == -1.0   # perfect alternation
    assert out[12] == 1.0 and out[24] == 1.0
    assert out[6] == 1.0
    for v in out.values():
        assert -1.0 <= v <= 1.0


def test_levene_flags_planted_heteroscedasticity(spark):
    """Equal-spread groups pass; a 100x-spread group fails loudly."""
    from java_mapreduce_framework_spark.operators import analytics

    def mk(groups):
        rows, eid = [], 0
        for g, vals in groups.items():
            for v in vals:
                rows.append((eid, "2024-01-01 00:00:00", eid, g, float(v), "{}"))
                eid += 1
        return spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))

    same = mk({"a": [1, 2, 3, 4, 5] * 4, "b": [11, 12, 13, 14, 15] * 4})
    r = analytics.levene_brownforsythe(same).collect()[0]
    assert r["var_homogeneous"] is True and r["k_groups"] == 2
    hetero = mk({"a": [1, 2, 3, 4, 5] * 4,
                 "b": [-200, -100, 0, 100, 200] * 4})
    r = analytics.levene_brownforsythe(hetero).collect()[0]
    assert r["var_homogeneous"] is False and r["w_stat"] > 10


def test_customer_reorder_stats_hand_case(spark):
    """Gap stats verified on a literal order history; sub-min-orders
    customers drop."""
    from java_mapreduce_framework_spark.operators import relational

    rows = [
        (1, 10, "O", 5.0, "1995-01-01 00:00:00", "1-URGENT"),
        (2, 10, "O", 5.0, "1995-01-11 00:00:00", "1-URGENT"),
        (3, 10, "O", 5.0, "1995-02-10 00:00:00", "1-URGENT"),  # gaps 10, 30
        (4, 20, "O", 5.0, "1995-01-01 00:00:00", "1-URGENT"),
        (5, 20, "O", 5.0, "1995-01-02 00:00:00", "1-URGENT"),  # only 2 orders
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    out = {r["o_custkey"]: r
           for r in relational.customer_reorder_stats(orders).collect()}
    assert set(out) == {10}
    r = out[10]
    assert r["n_orders"] == 3 and r["n_gaps"] == 2
    assert r["mean_gap_days"] == 20.0
    assert r["min_gap_days"] == 10 and r["max_gap_days"] == 30


def test_kruskal_wallis_matches_scipy_free_reference(spark):
    """Hand-checkable H: three groups with a planted shift and ties,
    verified against a literal average-rank computation of H with tie
    correction (the scipy.stats.kruskal formula)."""
    from java_mapreduce_framework_spark.operators import analytics

    groups = {"a": [1.0, 2.0, 3.0], "b": [2.0, 4.0, 6.0],
              "c": [10.0, 11.0, 12.0]}
    rows, eid = [], 0
    for g, vals in groups.items():
        for v in vals:
            rows.append((eid, "2024-01-01 00:00:00", eid, g, v, "{}"))
            eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    r = analytics.kruskal_wallis(events).collect()[0]
    # literal reference: pooled average ranks with ties
    pooled = sorted(v for vals in groups.values() for v in vals)
    import collections
    cnt = collections.Counter(pooled)
    rank = {}
    before = 0
    for v in sorted(cnt):
        rank[v] = before + (cnt[v] + 1) / 2
        before += cnt[v]
    n = len(pooled)
    s = sum(
        sum(rank[v] for v in vals) ** 2 / len(vals)
        for vals in groups.values()
    )
    h = 12.0 * s / (n * (n + 1)) - 3 * (n + 1)
    c = 1.0 - sum(t**3 - t for t in cnt.values()) / (n**3 - n)
    assert r["k_groups"] == 3 and r["n_total"] == 9
    assert abs(r["h_stat"] - h / c) < 2e-4
    # df=2 -> chi2 crit 5.9915; planted shift is large enough to reject
    assert r["chi2_crit"] == 5.9915
    assert r["reject"] == (r["h_stat"] >= r["chi2_crit"])


def test_hhi_concentration_extremes(spark):
    """Monopoly -> HHI 1.0 / effective 1; perfect split across 4
    users -> HHI 0.25 / effective 4."""
    from java_mapreduce_framework_spark.operators import analytics

    rows, eid = [], 0
    for _ in range(6):  # one whale owns all 'mono' events
        rows.append((eid, "2024-01-01 00:00:00", 1, "mono", 1.0, "{}"))
        eid += 1
    for u in range(4):  # 2 events each across 4 users
        for _ in range(2):
            rows.append((eid, "2024-01-01 00:00:00", u, "flat", 1.0, "{}"))
            eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["event_type"]: r for r in
           analytics.hhi_concentration(events).collect()}
    assert out["mono"]["hhi"] == 1.0 and out["mono"]["effective_users"] == 1.0
    assert out["flat"]["hhi"] == 0.25 and out["flat"]["effective_users"] == 4.0
    assert out["flat"]["n_users"] == 4 and out["flat"]["n_events"] == 8


def test_cdc_merge_upsert_semantics(spark):
    """Keys: 1 base-only (kept), 2 base+U (replaced), 3 base+D
    (dropped), 4 change-only U (inserted); latest change per key
    wins."""
    from java_mapreduce_framework_spark.operators.relational import (
        cdc_merge_upsert,
    )

    rows = [
        # (orderkey, custkey, status, price, date, priority)
        (10, 1, "O", 100.0, "1997-01-01", "1-URGENT"),
        (20, 2, "O", 200.0, "1997-06-01", "1-URGENT"),
        (21, 2, "O", 250.0, "1998-05-01", "1-URGENT"),  # upsert
        (30, 3, "O", 300.0, "1997-02-01", "1-URGENT"),
        (31, 3, "O", 310.0, "1998-02-01", "1-URGENT"),  # superseded
        (32, 3, "F", 320.0, "1998-03-01", "1-URGENT"),  # delete wins
        (40, 4, "O", 400.0, "1998-04-01", "1-URGENT"),  # insert
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    out = {r["o_custkey"]: r for r in cdc_merge_upsert(orders).collect()}
    assert set(out) == {1, 2, 4}  # 3 deleted
    assert out[1]["o_orderkey"] == 10 and out[1]["src"] == "base"
    assert out[2]["o_orderkey"] == 21 and out[2]["src"] == "change"
    assert out[2]["o_totalprice"] == 250.0
    assert out[4]["o_orderkey"] == 40 and out[4]["src"] == "change"


def test_quantile_sketch_exact_on_uniform_grid(spark):
    """1..100 exactly once: every bin holds observations, the
    straddling-bin interpolation is exact for p50/p95/p99 up to one
    bin width; n and q fan-out are exact."""
    from java_mapreduce_framework_spark.operators.analytics import (
        quantile_sketch,
    )

    rows = [
        (i, "2024-01-01 00:00:00", i, "u", float(i), "{}")
        for i in range(1, 101)
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["q"]: r for r in quantile_sketch(events).collect()}
    assert set(out) == {0.5, 0.95, 0.99}
    assert all(r["n_events"] == 100 for r in out.values())
    width = 99.0 / 256
    for q in (0.5, 0.95, 0.99):
        true_q = 1 + 99.0 * q  # uniform grid ground truth (approx)
        assert abs(out[q]["est"] - true_q) <= width + 1e-6


def test_spearman_perfect_monotone_and_anticorrelation(spark):
    """Values strictly increasing in time -> rho 1; strictly
    decreasing -> rho -1; a tie-heavy series stays in (-1, 1)."""
    from java_mapreduce_framework_spark.operators import analytics

    rows, eid = [], 0
    for i in range(20):
        rows.append((eid, f"2024-01-01 00:{i:02d}:00", 1, "up",
                     float(i), "{}")); eid += 1
        rows.append((eid, f"2024-01-01 00:{i:02d}:00", 1, "down",
                     float(100 - i), "{}")); eid += 1
        rows.append((eid, f"2024-01-01 00:{i:02d}:00", 1, "tied",
                     float(i % 2), "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["event_type"]: r["spearman_rho"] for r in
           analytics.spearman_corr(events).collect()}
    assert out["up"] == 1.0
    assert out["down"] == -1.0
    assert -1.0 < out["tied"] < 1.0


def test_clv_cohort_hand_orders(spark):
    """Customer 1 orders in 1995-Q1 and 1995-Q3 (ages 0 and 2);
    customer 2 only in 1995-Q3 (its own cohort, age 0); revenue sums
    exact."""
    from java_mapreduce_framework_spark.operators.relational import (
        customer_clv_cohort,
    )

    rows = [
        (1, 1, "O", 100.10, "1995-02-01", "x"),
        (2, 1, "O", 50.20, "1995-08-01", "x"),
        (3, 2, "O", 70.00, "1995-09-01", "x"),
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    out = {(r["cohort_q"], r["age_q"]): r
           for r in customer_clv_cohort(orders).collect()}
    assert out[("1995-Q1", 0)]["revenue"] == 100.10
    assert out[("1995-Q1", 2)]["revenue"] == 50.20
    # both customers contribute to 1995-Q3 rows but in different cohorts
    assert out[("1995-Q3", 0)]["n_customers"] == 1
    assert out[("1995-Q3", 0)]["revenue"] == 70.00


def test_abc_classification_cut_points(spark):
    """Four parts at 70/10/10/10 revenue: the 70%-exact part is A
    (<= is inclusive), the next two land in B and C by the cumulative
    cut, and shares are exact."""
    from java_mapreduce_framework_spark.operators.relational import (
        orders_abc_classification,
    )

    rows = [
        # (orderkey, partkey, suppkey, linenumber, qty, extprice,
        #  discount, tax, rf, ls, shipdate)
        (1, 1, 1, 1, 1.0, 700.0, 0.0, 0.0, "N", "O", "1995-01-01"),
        (2, 2, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", "1995-01-01"),
        (3, 3, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", "1995-01-01"),
        (4, 4, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", "1995-01-01"),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate"))
    out = {r["l_partkey"]: r for r in
           orders_abc_classification(li).collect()}
    assert out[1]["abc_class"] == "A" and out[1]["cum_share"] == 0.7
    assert out[2]["abc_class"] == "B" and out[2]["cum_share"] == 0.8
    assert out[3]["abc_class"] == "B" and out[3]["cum_share"] == 0.9
    assert out[4]["abc_class"] == "C" and out[4]["revenue"] == 100.0


def test_benford_uniform_digits_deviate(spark):
    """Orders planted with uniform first digits: digit 1 runs a big
    NEGATIVE excess vs Benford's 30.1%, digit 9 a large positive one;
    expectations sum to n."""
    from java_mapreduce_framework_spark.operators.analytics import (
        benford_audit,
    )

    rows = []
    k = 0
    for d in range(1, 10):
        for _ in range(10):  # 10 orders per leading digit
            rows.append((k, 1, "O", d * 100.0 + 0.5, "1995-01-01", "x"))
            k += 1
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    out = {r["digit"]: r for r in benford_audit(orders).collect()}
    assert set(out) == set(range(1, 10))
    assert all(r["n_obs"] == 10 for r in out.values())
    assert out[1]["excess_pct"] < -50  # 10 obs vs ~27 expected
    assert out[9]["excess_pct"] > 100  # 10 obs vs ~4 expected
    assert abs(sum(r["expected"] for r in out.values()) - 90) < 0.01


def test_interarrival_burstiness_clocked_vs_bursty(spark):
    """A perfectly clocked stream has cv 0 -> B = -1; a bursty one
    (many tiny gaps + one huge) pushes cv > 1 -> B > 0."""
    from java_mapreduce_framework_spark.operators.analytics import (
        interarrival_burstiness,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for i in range(10):  # clocked: exactly 60s apart
        rows.append((eid, t0 + dt.timedelta(seconds=60 * i), 1, "clock",
                     1.0, "{}")); eid += 1
    burst_offsets = [0, 1, 2, 3, 4, 5, 6, 7, 8, 100000]
    for off in burst_offsets:
        rows.append((eid, t0 + dt.timedelta(seconds=off), 1, "burst",
                     1.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["event_type"]: r for r in
           interarrival_burstiness(events).collect()}
    assert out["clock"]["cv"] == 0.0 and out["clock"]["burstiness"] == -1.0
    assert out["clock"]["mean_gap_s"] == 60.0
    assert out["burst"]["cv"] > 1.0 and out["burst"]["burstiness"] > 0.0


def test_zscore_cross_sectional_hand_day(spark):
    """Counts 1, 3 on one day: z = +/-1 exactly (population sd);
    a solo-user day has sd 0 -> NULL."""
    from java_mapreduce_framework_spark.operators.analytics import (
        zscore_cross_sectional,
    )

    rows = [
        (0, "2024-01-01 10:00:00", 1, "x", 1.0, "{}"),
        (1, "2024-01-01 11:00:00", 2, "x", 1.0, "{}"),
        (2, "2024-01-01 12:00:00", 2, "x", 1.0, "{}"),
        (3, "2024-01-01 13:00:00", 2, "x", 1.0, "{}"),
        (4, "2024-01-02 10:00:00", 1, "x", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {(str(r["day"])[:10], r["user_id"]): r
           for r in zscore_cross_sectional(events).collect()}
    assert out[("2024-01-01", 1)]["zscore"] == -1.0
    assert out[("2024-01-01", 2)]["zscore"] == 1.0
    assert out[("2024-01-02", 1)]["zscore"] is None


def test_cohens_d_planted_effect(spark):
    """Arm A planted 1.0 higher than B with unit-ish spread: d is
    positive and sized ~1, Hedges' g slightly smaller, magnitude
    'large'; a no-effect arm reads negligible."""
    import hashlib

    from java_mapreduce_framework_spark.operators.analytics import cohens_d

    a_users = [u for u in range(1000)
               if hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] < "8"][:30]
    b_users = [u for u in range(1000)
               if hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] >= "8"][:30]
    rows, eid = [], 0
    spread = [-1.0, -0.5, 0.0, 0.5, 1.0] * 6
    for u, dlt in zip(a_users, spread):
        rows.append((eid, "2024-01-01 00:00:00", u, "fx", 11.0 + dlt, "{}"))
        eid += 1
        rows.append((eid, "2024-01-01 00:00:00", u, "nofx", 5.0 + dlt, "{}"))
        eid += 1
    for u, dlt in zip(b_users, spread):
        rows.append((eid, "2024-01-01 00:00:00", u, "fx", 10.0 + dlt, "{}"))
        eid += 1
        rows.append((eid, "2024-01-01 00:00:00", u, "nofx", 5.0 + dlt, "{}"))
        eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["event_type"]: r for r in cohens_d(events).collect()}
    fx = out["fx"]
    assert fx["cohens_d"] > 0.8 and fx["magnitude"] == "large"
    assert 0 < fx["hedges_g"] < fx["cohens_d"]
    assert out["nofx"]["magnitude"] == "negligible"


def test_runs_test_alternating_vs_blocked(spark):
    """A strictly alternating sequence has the maximum run count
    (z >> 0, rejected); a blocked half-half sequence has 2 runs
    (z << 0, rejected); a hand-mixed one sits in between."""
    from java_mapreduce_framework_spark.operators.analytics import runs_test

    rows, eid = [], 0
    for i in range(40):  # alternate below/above median
        rows.append((eid, f"2024-01-01 00:{i:02d}:00", 1, "alt",
                     1.0 if i % 2 else 9.0, "{}")); eid += 1
    for i in range(40):  # first half low, second half high
        rows.append((eid, f"2024-01-01 00:{i:02d}:00", 1, "blk",
                     1.0 if i < 20 else 9.0, "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["event_type"]: r for r in runs_test(events).collect()}
    alt, blk = out["alt"], out["blk"]
    assert alt["n_runs"] == 40 and alt["zscore"] > 1.96
    assert blk["n_runs"] == 2 and blk["zscore"] < -1.96
    assert alt["random_order"] is False and blk["random_order"] is False
    assert alt["n_above"] == 20 and alt["n_below"] == 20


def test_funnel_windowed_drops_late_conversions(spark):
    """User 1 converts each step within the 72h window; user 2's
    purchase lands outside it and drops at L4; both pass the
    unconstrained funnel, proving the window is the difference."""
    import datetime as dt

    from java_mapreduce_framework_spark.operators.analytics import (
        funnel_conversion,
        funnel_conversion_windowed,
    )

    t0 = dt.datetime(2024, 1, 1)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    rows = [
        (0, at(0), 1, "signup", 1.0, "{}"),
        (1, at(1), 1, "view", 1.0, "{}"),
        (2, at(2), 1, "click", 1.0, "{}"),
        (3, at(3), 1, "purchase", 1.0, "{}"),
        (4, at(0), 2, "signup", 1.0, "{}"),
        (5, at(1), 2, "view", 1.0, "{}"),
        (6, at(2), 2, "click", 1.0, "{}"),
        (7, at(2 + 100), 2, "purchase", 1.0, "{}"),  # 100h later
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    win = {r["stage"]: r["n_users"]
           for r in funnel_conversion_windowed(events).collect()}
    unc = {r["stage"]: r["n_users"]
           for r in funnel_conversion(events).collect()}
    assert win["L3_click"] == 2 and win["L4_purchase"] == 1
    assert unc["L4_purchase"] == 2
