"""Relational operators (SURVEY.md section 2B, MapReduce-core rows).

Each function takes DataFrames and returns a DataFrame; the fixture
wiring lives in ``plans/registry/relational.py``. Every operator here
is a pure declarative DataFrame plan -- Catalyst supplies pushdown, pruning,
partial aggregation, and join selection (the reference has no
optimizer at all, SURVEY.md section 4.1, so everything below is
strictly better than its map/shuffle/sort/reduce encoding:
reference mechanisms cited per function).

Scale notes (100 TB posture) are in each docstring; none of these
operators collects to the driver or materializes per-group arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dec2(col: str) -> F.Column:
    """2-decimal exact view of a money/rate column. Aggregates over
    money use decimal arithmetic so results are order-independent and
    engine-independent (float sums are neither)."""
    return F.col(col).cast("decimal(18,2)")


def scan_project(lineitem: DataFrame) -> DataFrame:
    """Scan + projection (reference: directory scan + tab-split,
    ``worker/WorkerServlet.java:510-530`` + ``worker/MapThread.java:50-51``).

    Column pruning reaches the parquet reader (ReadSchema carries only
    three columns), so at 100 TB this reads ~3/11ths of lineitem bytes.
    """
    return lineitem.select("l_orderkey", "l_partkey", "l_quantity")


def filter_predicate(lineitem: DataFrame) -> DataFrame:
    """Selection with a compound predicate (reference: map emitting 0/1
    records, ``Job.java:19``). All three conjuncts are
    parquet-pushdown-eligible (shows under PushedFilters), so row
    groups failing min/max stats are skipped entirely at scale.
    """
    return lineitem.select("l_orderkey", "l_quantity", "l_discount", "l_returnflag").filter(
        (F.col("l_quantity") > 30)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_discount").between(0.02, 0.08)
    )


def map_scalar(lineitem: DataFrame) -> DataFrame:
    """Per-row computed columns (reference: 1->1 map, ``Job.java:19``).
    Pure codegen expressions; zero shuffle."""
    # decimal arithmetic: price/discount are 2-decimal quantities, so
    # the product is exact in decimal(_, 4) -- double round() at the
    # .xx5 halfway points is engine-dependent and must be avoided
    net = (_dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec2("l_discount"))).cast(
        "double"
    )
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        F.upper("l_returnflag").alias("flag_uc"),
        F.year("l_shipdate").alias("ship_year"),
    )


def groupby_agg(lineitem: DataFrame) -> DataFrame:
    """Hash aggregation per key (reference: shuffle+sort+reduce,
    ``worker/WorkerServlet.java:449-496`` + ``ReduceThread.java``).

    Spark runs partial (map-side) aggregation before the exchange --
    the combiner the reference approximates by per-record
    pre-aggregation in ``job/WordCount.java:25-42`` -- so shuffle
    volume is O(groups x partitions), not O(rows), at any scale.
    """
    return lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


def groupby_multikey(lineitem: DataFrame) -> DataFrame:
    """Multi-column grouping keys (reference: composite-key encoding in
    the single string key). TPC-H Q1 shape."""
    revenue = F.sum(
        _dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec2("l_discount"))
    ).cast("double")
    return lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        revenue.alias("revenue"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )


def distinct_keys(lineitem: DataFrame) -> DataFrame:
    """Duplicate elimination (reference: group + emit key once).
    Partial-agg before shuffle => tiny exchange for low-cardinality keys."""
    return lineitem.select("l_returnflag", "l_linestatus").distinct()


def count_distinct(customer: DataFrame) -> DataFrame:
    """Exact distinct count per group. At 100 TB prefer
    approx_count_distinct (HLL) unless exactness is required; the exact
    form expands to a two-phase aggregate (distinct then count)."""
    return customer.groupBy("c_nationkey").agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.count("*").alias("n_customers"),
    )


def approx_count_distinct(lineitem: DataFrame) -> DataFrame:
    """Sketch-based distinct (HyperLogLog++). The 100 TB answer to
    count-distinct: fixed-size state per group, single shuffle of
    sketches, mergeable across partitions. rsd pinned for determinism
    of the estimate at a given Spark version."""
    return lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.count("*").alias("n_rows"),
    )


def sort_global(orders: DataFrame) -> DataFrame:
    """Total order (reference: external Unix sort per worker,
    ``worker/WorkerServlet.java:449-471`` -- which is only per-worker
    order; this is a true global sort). Spark range-partitions by
    sampled quantiles then sorts within partitions, spilling to disk
    -- the distributed analog of sort(1)'s external merge."""
    return orders.select("o_orderkey", "o_totalprice").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )


def topk(orders: DataFrame, k: int = 10) -> DataFrame:
    """Order + limit. Catalyst plans TakeOrderedAndProject: each
    partition keeps a k-heap, driver merges k x partitions rows --
    no global sort, no full shuffle; survives any scale-up.
    Tie-broken on o_orderkey for determinism."""
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(k)
    )


def join_equi_inner(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Reduce-side equi-join (reference encoding: map-side tag +
    grouped merge). Left to AQE: sort-merge for two large sides,
    auto-broadcast when one side is under the threshold."""
    return orders.join(customer, orders.o_custkey == customer.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


def join_left_outer(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left outer join + per-key count; customers with no orders kept
    at n_orders = 0 (count(o_orderkey) skips nulls)."""
    j = customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
    return j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("n_orders"))


def join_semi_anti(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Existence joins: semi (has orders) and anti (no orders), tagged
    and unioned. Semi/anti shuffle only the keys of the probe side --
    at scale vastly cheaper than inner-join + distinct."""
    on = customer.c_custkey == orders.o_custkey
    semi = customer.join(orders, on, "left_semi").select(
        "c_custkey", F.lit("has_orders").alias("tag")
    )
    anti = customer.join(orders, on, "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("tag")
    )
    return semi.unionAll(anti)


def join_broadcast(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Map-side (replicated) join: both dims explicitly broadcast, so
    the only shuffle is the final aggregation. This is the reference's
    'small side on every worker's classpath' pattern made explicit; at
    100 TB the fact table never moves for the join."""
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey).join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    return j.groupBy("n_name").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def set_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """UNION (distinct) via key-tagged grouping in the reference
    encoding; here union + distinct with partial agg."""
    return a.unionAll(b).distinct()


def set_intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def set_except(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)


def window_rank(orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k per group via rank window (reference: sorted groups from
    the external sort). Single hash-shuffle on the partition key, sort
    within partitions; rank filter prunes before any downstream op."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def window_running_agg(orders: DataFrame) -> DataFrame:
    """Running sum per customer over order date (deterministic frame:
    ties broken by o_orderkey)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


def grouping_rollup(lineitem: DataFrame) -> DataFrame:
    """Hierarchical totals (reference: multi-round MapReduce). One
    expand + single aggregation in Spark."""
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def unpivot_metrics(lineitem: DataFrame) -> DataFrame:
    """Wide→long unpivot (the inverse of ``pivot_event_counts``):
    three measure columns melt into (metric, val) pairs. Spark's
    native ``unpivot`` lowers to a single Expand over one scan — a
    per-row 1→≤3 generator with no shuffle at all; the UNION-ALL
    phrasing it replaces would scan the table once per measure.
    NULL measures are excluded (SQL UNPIVOT semantics — Spark's
    unpivot alone would keep them and diverge from the oracle)."""
    return (
        lineitem.select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "metric",
            "val",
        )
        .filter(F.col("val").isNotNull())
    )


def grouping_cube(lineitem: DataFrame) -> DataFrame:
    """All grouping-set combinations over (returnflag, linestatus) —
    the cube completion of ``grouping_rollup`` (reference license:
    same multi-round grouped-reduce, SURVEY §2A rows 4,7,8). One
    Expand + single partial→final aggregation: the expand multiplies
    rows ×4 *before* the map-side combine, so the shuffle still
    carries one row per (grouping set, group) per map partition."""
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def json_extract(events: DataFrame) -> DataFrame:
    """Parse JSON property strings (reference: jobs parse strings
    themselves, ``Job.java:19``). get_json_object is codegen'd; for
    repeated multi-key access prefer from_json once into a struct."""
    return events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


def groupby_argmax(events: DataFrame) -> DataFrame:
    """Latest event per user ("argmax" / last-value-per-key) as an
    ALGEBRAIC aggregate: ``max_by`` over a (ts, event_id) ordering
    struct runs partial→final like any max — the shuffle carries one
    candidate row per user per map partition. The window phrasing
    (row_number = 1) the oracle uses would instead sort every user's
    full history; at 100 TB the aggregate form is the only viable one.
    Tie-break on event_id makes the result deterministic."""
    picked = events.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_type", "ts", "value"), F.struct("ts", "event_id")
        ).alias("last")
    )
    return picked.select(
        "user_id",
        F.col("last.event_type").alias("last_type"),
        F.col("last.ts").alias("last_ts"),
        F.round("last.value", 4).alias("last_value"),
    )


def json_typed_agg(events: DataFrame) -> DataFrame:
    """Schema-on-read JSON: ``from_json`` parses ``props`` ONCE into a
    typed struct that downstream expressions and aggregates consume —
    the pattern for metadata columns at scale, vs ``get_json_object``
    re-parsing the string per accessed key. The parse fuses into the
    scan stage; the aggregation is the usual partial→final pair."""
    parsed = events.select(
        "event_type", F.from_json("props", "k INT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("p.k").alias("sum_k"),
        F.round(F.avg("p.k"), 4).alias("avg_k"),
    )


def groupby_salted(
    lineitem: DataFrame, salt_buckets: int = 8
) -> DataFrame:
    """Skew-resistant grouped aggregation: two-phase salt pattern.

    Phase 1 aggregates on (key, salt) -- a uniform random salt splits
    any hot key across ``salt_buckets`` reducers; phase 2 re-aggregates
    the per-salt partials on the key alone. For algebraic aggregates
    (count/sum/min/max) the composition is exact, so the result is
    identical to the direct ``groupBy`` -- the declared oracle is the
    plain GROUP BY.

    When to use at 100 TB: a handful of keys holding a large fraction
    of rows (null-ish defaults, bot users) make one reducer the
    straggler; AQE's skew-join splitting does not cover *aggregation*
    skew, so salting is the engine's prescription. For the
    well-distributed fixture keys, the extra exchange costs more than
    it saves -- this operator documents the pattern, measured against
    its unsalted twin in the bench. avg is composed as sum/count
    (algebraic), never averaged-of-averages.
    """
    salt = (F.rand(seed=7) * salt_buckets).cast("int")
    partial = (
        lineitem.withColumn("_salt", salt)
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.count("*").alias("pc"),
            F.sum("l_quantity").alias("pq"),
            F.sum(_dec2("l_extendedprice")).alias("pe"),
        )
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("pc").alias("n_rows"),
            F.round(F.sum("pq"), 2).alias("sum_qty"),
            (F.sum("pe").cast("double") / F.sum("pc")).alias("avg_price_raw"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "sum_qty",
            F.round(F.col("avg_price_raw"), 2).alias("avg_price"),
        )
    )


def join_skew_salted(
    lineitem: DataFrame, orders: DataFrame, salt_buckets: int = 8
) -> DataFrame:
    """Skew-resistant shuffle join: the salt-and-replicate pattern.

    The probe (fact) side gets a uniform random salt in
    [0, ``salt_buckets``); the build (dim) side is replicated once per
    salt value; the join key becomes (key, salt). Rows of a hot key,
    which a plain hash join piles onto one reducer, spread across
    ``salt_buckets`` tasks, and every probe row still meets each
    matching build row exactly once -- the result is identical to the
    plain equi-join, which is the declared oracle.

    When to use at 100 TB: both sides too large to broadcast AND a few
    hot join keys (null-ish default ids, bot users). AQE's skew split
    repairs sort-merge joins after the fact; explicit salting is the
    prescription when skew is known up front or the join is
    shuffled-hash. Cost: the replicated side shuffles ``salt_buckets``
    x its projected size -- replicate the smaller side, project it to
    the join key + needed columns first, and pick the smallest salt
    count that flattens the hot partitions. The shuffle_hash hint
    skips both sort passes; the salt split bounds each build
    partition by construction. (Aggregation-skew twin:
    ``groupby_salted``.)
    """
    dim = orders.select("o_orderkey", "o_orderpriority").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    fact = lineitem.select("l_orderkey", "l_extendedprice").withColumn(
        "_salt", (F.rand(seed=11) * salt_buckets).cast("int")
    )
    j = fact.join(
        dim.hint("shuffle_hash"),
        (fact["l_orderkey"] == dim["o_orderkey"]) & (fact["_salt"] == dim["_salt"]),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(_dec2("l_extendedprice")).cast("double"), 2).alias("revenue"),
    )


#: Closed set of event types in the fixtures; pivoting with explicit
#: values skips the extra distinct-discovery pass AND keeps the output
#: schema stable -- both required at 100 TB.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_event_counts(events: DataFrame) -> DataFrame:
    """Wide per-user activity profile: one column per event type.

    Hand-written conditional aggregation (COUNT(CASE WHEN ...) per
    type), NOT ``DataFrame.pivot``: even with an explicit value list,
    pivot compiles to TWO aggregate pairs around TWO exchanges (a
    pre-agg on (user, type), then the pivot agg), while the
    conditional form is one partial+final pass around a single
    exchange carrying five counters per user -- strictly less shuffle
    at any scale (pinned in test_plan_shape.py)."""
    return events.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
            for t in EVENT_TYPES
        ]
    )


def join_bucketed_colocated(
    spark,
    orders: DataFrame,
    customer: DataFrame,
    buckets: int = 8,
    table_suffix: str = "",
    source_fp: str | None = None,
) -> DataFrame:
    """Shuffle-free equi-join via bucketed tables: both sides are
    written ``bucketBy(buckets, key)`` + ``sortBy`` into the session
    warehouse once, after which the sort-merge join reads co-located,
    pre-sorted buckets -- NO Exchange on either side (asserted in
    tests/test_bucketing.py and tests/test_plan_shape.py).

    This is the 100 TB posture for a fact-dimension join repeated
    across a pipeline: pay one bucketed write, then every downstream
    join on the bucket key is exchange-free regardless of data size --
    the Spark-native equivalent of the reference's SHA-1-range
    co-location invariant (``job/WordCountContext.java:84-91``: equal
    keys always land on the same worker).

    The ``merge`` hint pins sort-merge (the strategy that exploits
    bucket layout) so the demonstration does not depend on size-based
    broadcast thresholds. Result is identical to the plain equi-join,
    which is the declared oracle.
    """
    from ..sources.staging import ensure_staged_table

    specs = (
        (f"orders_bkt{table_suffix}", orders, "o_custkey"),
        (f"customer_bkt{table_suffix}", customer, "c_custkey"),
    )
    # fingerprint mismatch (fixture regenerated) drops and rebuilds;
    # a fresh session ADOPTS intact staging by external registration
    # instead of re-writing it (sources.staging, VERDICT r11 #4)
    for name, df, key in specs:
        ensure_staged_table(
            spark,
            name,
            (lambda df=df: df),
            source_fp,
            bucket_cols=[key],
            buckets=buckets,
        )
    o = spark.table(specs[0][0])
    c = spark.table(specs[1][0])
    j = o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
    return j.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(_dec2("o_totalprice")).cast("double"), 2).alias("total_spend"),
    )


def stats_correlation(lineitem: DataFrame) -> DataFrame:
    """Per-group Pearson correlation (quantity vs extended price) from
    explicit first/second moments -- six SUMs and a COUNT in ONE
    partial+final aggregation pass, then the closed-form combine. The
    moment formulation is the map-side-combinable way to get
    covariance/correlation at scale (Welford-style streaming update is
    the numerically-safer single-machine form; over partitioned sums
    the moments ARE the mergeable state). Written as the same explicit
    expression on both engines rather than the built-in corr(), whose
    internal update order is implementation-defined."""
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sx"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("syy"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "l_returnflag", "n", F.round(corr, 4).alias("qty_price_corr")
    )


def window_ntile(orders: DataFrame, buckets: int = 4) -> DataFrame:
    """Per-customer spend quartiles via ntile: equal-count buckets
    WITHIN each key's partition (contrast ``quality_stratify``, which
    deliberately avoids a GLOBAL ntile -- one partition sorting the
    whole corpus; per-group ntile keys the sort to the group and
    scales like any other window). Deterministic: ordering ties broken
    by the unique order key."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.ntile(buckets).over(w).alias("spend_quartile"),
    )


def join_full_outer(orders: DataFrame) -> DataFrame:
    """Full outer join of two per-customer aggregates (big spenders vs
    recent buyers): rows survive from EITHER side, keys coalesced.
    MapReduce encodes this as reduce over the tagged union of both
    sides (reference licence: the grouped reduce,
    ``worker/ReduceThread.java:60-66``); Spark keeps it one shuffle
    join of two pre-aggregated sides."""
    big = (
        orders.filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_big"))
    )
    recent = (
        orders.filter(F.col("o_orderdate") >= "1999-06-01")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_recent"))
    )
    return (
        big.join(recent, "o_custkey", "full_outer")
        .select(
            F.col("o_custkey"),
            F.coalesce("n_big", F.lit(0)).alias("n_big"),
            F.coalesce("n_recent", F.lit(0)).alias("n_recent"),
        )
    )


def cdc_latest_wins(events: DataFrame, update_fraction_mod: int = 10) -> DataFrame:
    """Upsert/merge compute semantics (CDC "latest version wins"): a
    deterministic synthetic update batch (every ``update_fraction_mod``-th
    event re-emitted 1 hour later with an amended value) is unioned
    with the base, and one rank window per event_id keeps the newest
    version. This is the MERGE INTO / compaction kernel of a mutable
    table on an immutable store: union + per-key ordered dedup, a
    single hash shuffle on the key.

    At 100 TB the update batch is ≪ the base; partition-pruned
    rewrites (dynamic partition overwrite, exercised in
    tests/test_bucketing.py) bound the rewrite to touched partitions
    while THIS operator is the per-partition merge step."""
    base = events.select(
        "event_id", "ts", "user_id", "event_type", "value", F.lit(0).alias("version")
    )
    merged = latest_wins(base.unionByName(cdc_update_batch(events, update_fraction_mod)))
    return merged.select(
        "event_id", "ts", "user_id", "event_type", F.round("value", 2).alias("value"), "version"
    )


def cdc_update_batch(events: DataFrame, update_fraction_mod: int = 10) -> DataFrame:
    """The synthetic change batch of ``cdc_latest_wins``: every
    ``update_fraction_mod``-th event re-emitted 1 hour later with its
    value doubled, at version 1."""
    return events.filter(F.pmod("event_id", F.lit(update_fraction_mod)) == 0).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 2, 2).alias("value"),
        F.lit(1).alias("version"),
    )


def latest_wins(rows: DataFrame) -> DataFrame:
    """Keep the newest (version, ts) row per event_id: one rank window
    per key, a single hash shuffle. Associative over batches, so a
    stream may apply it once per microbatch (``stream_cdc_upsert``)."""
    w = Window.partitionBy("event_id").orderBy(
        F.col("version").desc(), F.col("ts").desc()
    )
    return rows.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") == 1).drop("rnk")


def sketch_hll_mergeable(events: DataFrame) -> DataFrame:
    """Mergeable cardinality sketches: per-event-type HLL sketches of
    the user set, PLUS the global estimate obtained by UNIONING the
    per-group sketches (never re-scanning the data). Sketch
    mergeability is the 100 TB cardinality pattern: partial sketches
    combine map-side and roll up across partitions/days without a
    second pass over raw data. Approximate by design -> rows-only
    check; the engine test bounds the estimates against exact counts
    and asserts merged == direct-global estimate."""
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    per_type_est = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sketch").alias("approx_users"),
        "exact_users",
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users"),
        F.lit(None).cast("bigint").alias("exact_users"),
    ).select(F.lit("__all__").alias("event_type"), "approx_users", "exact_users")
    return per_type_est.unionByName(merged)


def quality_constraints(lineitem: DataFrame) -> DataFrame:
    """Declarative data-quality validation (the Deequ/"unit tests for
    data" pattern): a constraint suite evaluated in ONE aggregation
    pass over the fact table, emitted as a long-form report
    (constraint, metric, passed). At 100 TB this shape matters: every
    completeness / range / uniqueness metric is a SUM/COUNT over the
    same scan -- partial aggregation applies, the shuffle carries one
    row -- where a per-constraint query suite would re-scan the table
    once per check. (Uniqueness needs count_distinct's two-phase
    expansion; it rides the same scan.)

    Constraints: key completeness, compound-key uniqueness, domain
    ranges (quantity 1..50, discount 0..0.1, tax 0..0.08,
    non-negative price), and set membership for the flag columns --
    the standard TPC-H invariants, so the fixture passes all of them
    and a corrupted load would not."""
    n = F.count("*")
    frac = lambda c: (F.sum(F.when(c, 1).otherwise(0)) / n)  # noqa: E731
    agg = lineitem.agg(
        n.alias("n"),
        (F.count("l_orderkey") / n).alias("complete_orderkey"),
        (F.count_distinct(F.struct("l_orderkey", "l_linenumber")) / n).alias("unique_pk"),
        frac(F.col("l_quantity").between(1, 50)).alias("range_quantity"),
        frac(F.col("l_discount").between(0.0, 0.1)).alias("range_discount"),
        frac(F.col("l_tax").between(0.0, 0.08)).alias("range_tax"),
        frac(F.col("l_extendedprice") > 0).alias("positive_price"),
        frac(F.col("l_returnflag").isin("A", "N", "R")).alias("domain_returnflag"),
        frac(F.col("l_linestatus").isin("O", "F")).alias("domain_linestatus"),
    )
    checks = [
        ("complete_orderkey", 1.0), ("unique_pk", 1.0),
        ("range_quantity", 1.0), ("range_discount", 1.0),
        ("range_tax", 1.0), ("positive_price", 1.0),
        ("domain_returnflag", 1.0), ("domain_linestatus", 1.0),
    ]
    long = agg.selectExpr(
        "stack({}, {}) AS (constraint, m)".format(
            len(checks),
            ", ".join(f"'{name}', {name}" for name, _ in checks),
        )
    ).select("constraint", F.round("m", 6).alias("metric"))
    thresholds = F.create_map(
        *[F.lit(x) for pair in checks for x in pair]
    )
    return long.select(
        "constraint",
        "metric",
        (F.col("metric") >= thresholds[F.col("constraint")]).alias("passed"),
    ).orderBy("constraint")


def window_percent_rank(orders: DataFrame) -> DataFrame:
    """Relative standing of every order inside its priority class:
    percent_rank (share of peers strictly below) and cume_dist (share
    at-or-below) over o_totalprice -- the distribution-position pair
    that complements rank/ntile in the window family. One hash
    shuffle on the partition key plus the window sort; both functions
    share a single window pass."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def incremental_agg_merge(events: DataFrame) -> DataFrame:
    """Mergeable-aggregation-state rollup: per-(type, day) PARTIAL
    moment states (count / sum / sum-of-squares / min / max) folded
    into exact per-type totals — the incremental-refresh shape where
    yesterday's partials are persisted and only the new day is
    scanned, then states merge by plain addition.

    Every statistic here is chosen to be mergeable: count, sum, sumsq
    add; min/max fold; mean and population variance derive from the
    merged moments ((ss - s^2/n) / n). That closure property is the
    whole design — the same merge works across days, batches,
    clusters, or checkpoint restarts, which is what makes 100 TB
    incremental pipelines possible without full rescans. Two
    map-side-combinable aggregations, one shuffle each, second input
    is day-count-sized.

    Emits (event_type, n_days, n_events, avg_value, var_value,
    min_value, max_value).
    """
    partials = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    n = F.sum("n")
    s = F.sum("s")
    ss = F.sum("ss")
    return partials.groupBy("event_type").agg(
        F.count("*").cast("int").alias("n_days"),
        n.alias("n_events"),
        F.round(s / n, 4).alias("avg_value"),
        F.round((ss - s * s / n) / n, 4).alias("var_value"),
        F.round(F.min("mn"), 4).alias("min_value"),
        F.round(F.max("mx"), 4).alias("max_value"),
    )


def zorder_index(events: DataFrame, bits: int = 16) -> DataFrame:
    """Z-order (Morton) curve index over the two query dimensions of
    the events table — (user_id, time) — plus the per-z-bucket
    population: the DATA-LAYOUT operator. Sorting a table by this key
    before writing clusters rows so that BOTH `user_id = ?` and
    time-range predicates hit few files, turning parquet min/max
    stats into 2-D data skipping (the Delta/Iceberg OPTIMIZE ZORDER
    idea, as a plain deterministic expression).

    The interleave is pure integer bit arithmetic (shift/or over
    ``bits`` positions, unrolled at plan-build time into one JVM
    expression) on bounded dimensions: user_id's low ``bits`` and the
    epoch-minute's low ``bits``. Map-only until the final tiny
    bucket-count aggregate; the intended consumer chains
    ``.orderBy("zval")`` into a range-partitioned write.

    Emits (z_bucket, n_events, n_users) — bucket = zval >> bits so
    output stays ~2^bits-bounded for the audit while still proving
    both dimensions interleave.
    """
    x = F.pmod(F.col("user_id"), F.lit(1 << bits)).cast("long")
    minute = F.floor(F.unix_micros("ts") / F.lit(60_000_000)).cast("long")
    y = F.pmod(minute, F.lit(1 << bits)).cast("long")
    zval = F.lit(0).cast("long")
    for i in range(bits):
        xbit = F.shiftright(x, i).bitwiseAND(F.lit(1))
        ybit = F.shiftright(y, i).bitwiseAND(F.lit(1))
        zval = zval.bitwiseOR(F.shiftleft(xbit, 2 * i)).bitwiseOR(
            F.shiftleft(ybit, 2 * i + 1)
        )
    return (
        events.select(
            "user_id", F.shiftright(zval, bits).alias("z_bucket")
        )
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def join_bloom_pruned(
    orders: DataFrame,
    customer: DataFrame,
    m_bits: int = 1 << 16,
    n_hashes: int = 3,
) -> DataFrame:
    """Fact-side Bloom pruning ahead of a shuffle join — the runtime-
    filter idea (Spark's own InjectRuntimeFilter / DPP) made explicit
    and engine-controlled: build a Bloom filter over the FILTERED dim
    keys (BUILDING-segment customers), broadcast its bitmap, and drop
    non-matching fact rows BEFORE they reach the join exchange. At
    100 TB the win is shuffle bytes: rows that cannot join never
    leave the scan stage (the equi-join still runs after, so false
    positives cost nothing but their shuffle and correctness is
    bloom-independent — no false negatives by construction).

    Build side: each key sets ``n_hashes`` bit positions
    (``xxhash64(seed, key) mod m``); positions fold into 64-bit words
    with a map-side-combinable ``bit_or`` aggregate, and the folded
    bitmap (m/64 longs — 8 KB at the default) is the ONE bounded
    collect (same class as the count-min sketch broadcast). Probe
    side: pure JVM bit-test expressions against the bitmap literal
    riding a 1-row broadcast.

    Emits (o_orderpriority, n_orders, revenue).
    """
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    pos = [
        F.pmod(F.xxhash64(F.lit(i), F.col("c_custkey")), F.lit(m_bits))
        for i in range(n_hashes)
    ]
    words = (
        dim.select(F.explode(F.array(*pos)).alias("p"))
        .groupBy((F.col("p") / 64).cast("int").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT)))"
            ).alias("bits")
        )
        .collect()  # bounded: m_bits/64 rows (8 KB default), sketch-sized
    )
    vec = [0] * (m_bits // 64)
    for r in words:
        vec[r["w"]] = r["bits"]
    bloom = orders.sparkSession.createDataFrame([(vec,)], "bf array<long>")

    probe_bits = []
    for i in range(n_hashes):
        p = f"pmod(xxhash64({i}, o_custkey), {m_bits})"
        probe_bits.append(
            f"((shiftright(element_at(bf, CAST({p} / 64 AS INT) + 1),"
            f" CAST(pmod({p}, 64) AS INT))) & 1) = 1"
        )
    pruned = (
        orders.join(F.broadcast(bloom))  # 1-row bitmap broadcast
        .filter(F.expr(" AND ".join(probe_bits)))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )
    return (
        pruned.join(F.broadcast(dim), pruned["o_custkey"] == dim["c_custkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec2("o_totalprice")).cast("double").alias("revenue"),
        )
    )


def set_intersect_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT ALL — multiset semantics: a row appears
    min(count_a, count_b) times. Spark plans this as one aggregation
    counting both sides' multiplicities plus a generate to re-expand —
    bag semantics without ever joining row-by-row."""
    return a.intersectAll(b)


def set_except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT ALL — multiset difference: max(count_a - count_b, 0)
    copies survive. Same count-and-reexpand plan shape as
    ``set_intersect_all``."""
    return a.exceptAll(b)


def flatmap_explode_outer(events: DataFrame) -> DataFrame:
    """Null-preserving flatMap: ``explode_outer`` keeps rows whose
    array is empty (or NULL) as one NULL-element row — the semantics
    an ETL needs when the parent row must survive enrichment (a plain
    explode silently DROPS those rows, a classic correctness trap).
    The exploded array derives from the props JSON (k mod 3 steps, so
    a third of the rows have an EMPTY array and only survive through
    the outer semantics). Map-only, zero shuffle."""
    m = F.pmod(F.get_json_object("props", "$.k").cast("int"), F.lit(3))
    # explicit empty-array guard: Spark's sequence(1, 0) would emit a
    # DESCENDING [1, 0] rather than an empty array
    steps = F.when(m > 0, F.sequence(F.lit(1), m)).otherwise(
        F.array().cast("array<int>")
    )
    return events.select(
        "event_id",
        F.explode_outer(steps).alias("step"),
    )


def audience_overlap(events: DataFrame) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how
    many distinct users did both — the cross-sell / co-engagement
    analytics primitive.

    Plan: distinct (user, type) first — the aggregate compression that
    makes the self-join safe (fan-out per user is bounded by the TYPE
    ALPHABET, not their event count); then the pair join keyed on
    user_id and one count per unordered pair. Output is
    |types|-choose-2 rows at any corpus size.

    Emits (type_a, type_b, n_shared).
    """
    ut = events.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_shared"))
    )


_KMV_SPACE = 1 << 61  # hash domain for the KMV estimator


def kmv_sketches(
    events: DataFrame, k: int = 4096, cells: int = 32
) -> DataFrame:
    """Per-audience KMV (k-minimum-values) sketch: the ``k`` smallest
    ``xxhash64(user_id)`` values of each event type's distinct-user
    set — the mergeable sketch for SET-OPERATION cardinalities
    (union/intersection), which per-group HLL cannot answer without
    inclusion-exclusion error stacking.

    Exact-k construction, two bounded phases (no audience is ever
    sorted or collected whole):

      1. distinct (user, type) compression, then per-(type, cell)
         k-smallest — users hash into ``cells`` cells, each cell's
         state is ~audience/cells values (size the knob so a cell
         holds O(k), the ``bucket_cap`` discipline);
      2. per type: merge ≤cells arrays of ≤k values and keep the k
         smallest. EXACT: every global top-k value is necessarily in
         its own cell's top-k.

    Emits (event_type, sketch array<long> ascending, n_distinct
    BIGINT exact-if-below-k). A sketch shorter than ``k`` IS the full
    membership hash set (small-audience regime: estimates below are
    exact by construction, the count-min exact-rescore discipline).
    """
    ut = events.select("user_id", "event_type").distinct()
    staged = ut.select(
        "event_type",
        F.pmod(F.xxhash64("user_id"), F.lit(_KMV_SPACE)).alias("h"),
        F.pmod(F.xxhash64("user_id", F.lit(7)), F.lit(cells)).alias("cell"),
    )
    per_cell = staged.groupBy("event_type", "cell").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("hs")
    )
    return per_cell.groupBy("event_type").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("hs"))), 1, k
        ).alias("sketch")
    )


def audience_overlap_kmv(
    events: DataFrame, k: int = 4096, cells: int = 32
) -> DataFrame:
    """``audience_overlap`` through mergeable KMV sketches — the
    100 TB posture for co-engagement matrices: audiences shrink to
    ≤k-value sketches BEFORE any pairing, so the pair stage touches
    |types|² tiny arrays instead of re-joining the distinct-user
    stream, and sketches persist/merge across corpus increments.

    Intersection estimator (theta-sketch form): θ = k-th smallest of
    the merged pair sketch; every distinct user is retained with
    probability θ/SPACE, so n̂_∩ = |{v ∈ A∩B : v ≤ θ}| · SPACE/θ.
    When the merged sketch holds fewer than k values it IS the full
    union membership and the intersection count is EXACT — the
    fixture regime, which is why this declares the same SQL oracle
    as the exact operator; the estimator path is error-bounded in
    ``tests/test_relational.py`` on synthetic large audiences
    (stderr ~ 1/sqrt(k)).

    Emits (type_a, type_b, n_shared) for overlapping pairs.
    """
    sk = kmv_sketches(events, k, cells)
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sketch").alias("sa")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sketch").alias("sb")
    )
    u = F.slice(
        F.array_sort(F.array_distinct(F.concat("sa", "sb"))), 1, k
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", "sa", "sb", u.alias("u"))
        .select(
            "type_a",
            "type_b",
            F.size("u").alias("nu"),
            F.element_at(F.col("u"), F.size("u")).alias("theta"),
            F.array_intersect("sa", "sb").alias("both"),
        )
    )
    c_below = F.size(
        F.filter("both", lambda v: v <= F.col("theta"))
    )
    est = F.when(
        F.col("nu") < k, F.size("both").cast("double")  # full membership
    ).otherwise(
        c_below.cast("double") * F.lit(float(_KMV_SPACE)) / F.col("theta")
    )
    return (
        pairs.select(
            "type_a",
            "type_b",
            F.round(est).cast("bigint").alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
    )


def skyline_pareto(part: DataFrame, bucket_width: float = 100.0) -> DataFrame:
    """2-D Pareto frontier (skyline) of parts: minimize
    ``p_retailprice``, maximize ``p_size`` — the points no other
    point beats on both axes (Börzsönyi et al., ICDE 2001). The
    query shape behind "best tradeoff" product pages and multi-metric
    data-quality frontiers.

    Distributed in two stages so the exact global sort-window never
    sees the full table:

    1. **Grid prune** (map-side): per price-bucket max size is a tiny
       combinable aggregate; a running max over STRICTLY-LOWER buckets
       (bucket-cardinality window) broadcasts back, and any point
       whose size <= that max is provably dominated (everything in a
       strictly lower bucket has strictly lower price). At 100 TB
       this discards ~everything before any global step.
    2. **Exact skyline** over the survivors: distinct (price, size)
       pairs ordered by (price asc, size desc); a pair survives iff
       its size exceeds the running max size over strictly-preceding
       pairs (textbook O(n log n) sweep as one window). Worst case
       (perfectly anti-correlated data) survivors = frontier = input;
       that blow-up is inherent to skylines, not to this plan.

    Emits (p_retailprice, p_size, n_parts) — duplicates on the
    frontier are collapsed with a count, ties broken nowhere (the
    sweep is deterministic on the distinct pairs).
    """
    pts = part.groupBy("p_retailprice", "p_size").agg(
        F.count("*").alias("n_parts")
    )
    bucket = F.floor(F.col("p_retailprice") / bucket_width).alias("bucket")
    per_bucket = pts.select(bucket, "p_size").groupBy("bucket").agg(
        F.max("p_size").alias("bucket_max")
    )
    wprev = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prune = per_bucket.select(
        "bucket", F.max("bucket_max").over(wprev).alias("lower_max")
    )
    survivors = (
        pts.withColumn("bucket", F.floor(F.col("p_retailprice") / bucket_width))
        .join(F.broadcast(prune), "bucket")
        .filter(F.col("lower_max").isNull() | (F.col("p_size") > F.col("lower_max")))
    )
    sweep = Window.orderBy(F.col("p_retailprice").asc(), F.col("p_size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        survivors.withColumn("run_max", F.max("p_size").over(sweep))
        .filter(F.col("run_max").isNull() | (F.col("p_size") > F.col("run_max")))
        .select("p_retailprice", "p_size", "n_parts")
    )


def join_interval_overlap(lineitem: DataFrame) -> DataFrame:
    """Interval-overlap join: every lineitem's transit interval
    [l_shipdate, l_receiptdate] against a generated calendar of
    quarters, counting shipments IN TRANSIT during each quarter
    (overlap predicate: start <= q_end AND end >= q_start) — the
    "concurrent intervals per period" shape behind occupancy,
    in-flight-inventory, and active-subscription queries.

    The calendar side is generated (28 quarters for the fixture's
    date span) and broadcast, so the overlap inequality runs as a
    broadcast nested-loop with fan-out bounded by the handful of
    quarters an interval can span — per-row work is
    O(|dim|) with a 28-row dim, and no shuffle touches the fact
    table until the final quarter-cardinality aggregation. For
    interval×interval joins where BOTH sides are large, band the
    time axis instead (``join_range_banded``'s chunking is exactly
    that path).

    The fixture carries no receipt date, so the transit end derives
    deterministically from the row: 1 + 5×l_linenumber days after
    shipping.

    Emits (q_start, n_in_transit, sum_qty).
    """
    spark = lineitem.sparkSession
    quarters = spark.sql(
        "SELECT explode(sequence(to_date('1992-01-01'),"
        " to_date('1998-10-01'), interval 3 month)) AS q_start"
    ).select(
        "q_start",
        F.date_add(F.add_months("q_start", 3), -1).alias("q_end"),
    )
    iv = lineitem.select(
        F.to_date("l_shipdate").alias("ship_day"),
        "l_linenumber",
        "l_quantity",
    ).withColumn(
        "receipt_day",
        F.date_add(F.col("ship_day"), F.lit(1) + F.col("l_linenumber") * 5),
    )
    overlap = (F.col("ship_day") <= F.col("q_end")) & (
        F.col("receipt_day") >= F.col("q_start")
    )
    return (
        iv.join(F.broadcast(quarters), overlap)
        .groupBy(F.col("q_start").cast("timestamp").alias("q_start"))
        .agg(
            F.count("*").alias("n_in_transit"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
    )


def exact_quantiles(
    vals: DataFrame,
    col: str,
    qs: list[float],
    shards: int = 32,
    compress: bool = False,
    decimals: int = 4,
) -> DataFrame:
    """Distributed EXACT interpolated quantiles (quantile_cont /
    Spark ``percentile`` semantics: pos = (n-1)*q, linear between the
    two straddling order statistics), returned as a 1-row DataFrame
    with an array column ``bounds`` (rounded to ``decimals``, in
    ``qs`` order).

    Spark's built-in exact ``percentile`` aggregate is a scale trap
    for a GLOBAL group: its state is the full value→count map, and
    the final merge materializes every distinct value in ONE
    aggregation buffer — billions of entries at 100 TB. This kernel
    keeps exactness while staying distributed end to end:

      1. optional value-frequency compression (``compress=True``) —
         ``groupBy(col).count()``, a plain partial→final aggregate
         whose state is spread across reducers by value hash; worth
         it only for high-duplication columns (token counts, ints) —
         for near-unique columns like prices the dedup shuffle costs
         more than it saves, so the default ships raw (value, 1)
         rows, exactly what any distributed sort shuffles;
      2. ``repartitionByRange`` on the value + in-partition sort, so
         each shard owns a contiguous slice of the sorted domain
         (``localCheckpoint`` pins the sampled range boundaries for
         the two consumers below);
      3. a two-phase exact prefix sum (the ``sequence_packing``
         pattern): per-shard totals roll up to a ≤``shards``-row
         offsets table, windowed on one partition because it is tiny,
         then broadcast-joined back — each shard now knows the global
         rank of its first row and the total row count N;
      4. per-shard Arrow ``mapInPandas`` walks its sorted (value,
         count) slice once and emits the order statistics at
         positions floor((N-1)q) and ceil((N-1)q) that fall inside
         the shard — at most 2·len(qs) rows leave the map;
      5. a tiny final aggregate interpolates lo/hi into the boundary
         array.

    No stage ever holds more than one shard's distinct values, so the
    memory bound is #distinct/shards — tune ``shards`` up with data
    volume. The only single-partition step is the ≤``shards``-row
    offsets window.
    """
    import math

    import numpy as np
    import pandas as pd

    # percentile/quantile_cont semantics: NULLs are ignored, not ranked
    vals = vals.filter(F.col(col).isNotNull())
    if compress:
        base = vals.groupBy(F.col(col).alias("v")).agg(
            F.count("*").alias("cnt")
        )
    else:
        base = vals.select(
            F.col(col).alias("v"), F.lit(1).cast("long").alias("cnt")
        )
    # Pin the narrow (v, cnt) stream: repartitionByRange's range-
    # boundary sampling job would otherwise re-run the full upstream
    # subtree (expensive when vals is a derived score pipeline).
    base = base.localCheckpoint(eager=False)
    # The range exchange feeds two consumers (offsets + the walk);
    # Catalyst's ReuseExchange dedupes the identical subtrees, and
    # even un-reused, range sampling over the pinned base is
    # deterministic (seeded per partition index), so pids agree.
    freq = (
        base.repartitionByRange(shards, "v")
        .sortWithinPartitions("v")
        .withColumn("pid", F.spark_partition_id())
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        freq.groupBy("pid")
        .agg(F.sum("cnt").alias("ptot"))
        .select(
            "pid",
            F.coalesce(F.sum("ptot").over(w_off), F.lit(0)).alias("offset"),
            F.sum("ptot").over(w_all).alias("n_total"),
        )
    )
    sliced = freq.join(F.broadcast(offsets), "pid").sortWithinPartitions("v")

    def _order_stats(batches):
        cum = None
        targets = None  # (q_idx, lo_pos, frac)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if cum is None:
                cum = int(pdf["offset"].iloc[0])
                n = int(pdf["n_total"].iloc[0])
                targets = []
                for i, q in enumerate(qs):
                    pos = (n - 1) * q
                    lo = int(math.floor(pos))
                    targets.append((i, lo, pos - lo))
            cnts = pdf["cnt"].to_numpy()
            ends = cum + np.cumsum(cnts)  # exclusive end rank per row
            out = []
            for i, lo, frac in targets:
                hi = lo + 1 if frac > 0 else lo
                for pos, part in ((lo, 0), (hi, 1)):
                    if cum <= pos < ends[-1]:
                        j = int(np.searchsorted(ends, pos, side="right"))
                        out.append((i, part, float(pdf["v"].iloc[j]), frac))
            cum = int(ends[-1])
            if out:
                yield pd.DataFrame(
                    out, columns=["q_idx", "part", "v", "frac"]
                )

    stats = sliced.mapInPandas(
        _order_stats, "q_idx int, part int, v double, frac double"
    )
    bound = F.round(
        F.col("v_lo") + (F.col("v_hi") - F.col("v_lo")) * F.col("frac"),
        decimals,
    )
    return (
        stats.groupBy("q_idx")
        .agg(
            F.max(F.when(F.col("part") == 0, F.col("v"))).alias("v_lo"),
            F.max(F.when(F.col("part") == 1, F.col("v"))).alias("v_hi"),
            F.first("frac").alias("frac"),
        )
        .select(F.struct(F.col("q_idx"), bound.alias("b")).alias("s"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list("s")), lambda s: s.getField("b")
            ).alias("bounds")
        )
    )


def exact_quantiles_grouped(
    vals: DataFrame,
    key: str,
    col: str,
    qs: list[float],
    shards: int = 32,
    compress: bool = False,
    decimals: int = 4,
) -> DataFrame:
    """Per-KEY exact interpolated quantiles without per-group value
    buffering — the grouped form of ``exact_quantiles``, for the case
    grouped ``F.percentile`` cannot survive: a low-cardinality key
    (event types, languages, sources) over an unbounded corpus, where
    each group's exact-percentile state would hold billions of values
    in one aggregation buffer.

    Same construction, keyed: range-partition on (key, value) — so a
    huge group SPANS MANY SHARDS, which is the whole point — then a
    per-(key, shard) exact prefix sum (tiny offsets table, windowed
    per key), and a per-shard Arrow walk over the sorted runs that
    emits only each key's straddling order statistics. Per-task
    memory is one shard's rows regardless of how skewed the groups
    are.

    Returns long-form (``key``, q_idx, bound) — one row per key per
    requested quantile, bound rounded to ``decimals``, matching
    Spark ``percentile`` / DuckDB ``quantile_cont`` bit-for-bit.
    NULL values are ignored (the percentile contract); the one edge
    divergence is a group whose values are ALL null — grouped
    ``percentile`` emits (key, NULL), this kernel emits no row.
    Callers needing that row left-join from the key set.
    """
    import math

    import numpy as np
    import pandas as pd

    # percentile/quantile_cont semantics: NULLs are ignored, not ranked
    vals = vals.filter(F.col(col).isNotNull())
    if compress:
        base = vals.groupBy(
            F.col(key).alias("k"), F.col(col).alias("v")
        ).agg(F.count("*").alias("cnt"))
    else:
        base = vals.select(
            F.col(key).alias("k"),
            F.col(col).alias("v"),
            F.lit(1).cast("long").alias("cnt"),
        )
    base = base.localCheckpoint(eager=False)
    freq = (
        base.repartitionByRange(shards, "k", "v")
        .sortWithinPartitions("k", "v")
        .withColumn("pid", F.spark_partition_id())
    )
    w_off = (
        Window.partitionBy("k")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy("k")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offsets = (
        freq.groupBy("pid", "k")
        .agg(F.sum("cnt").alias("ptot"))
        .select(
            "pid",
            "k",
            F.coalesce(F.sum("ptot").over(w_off), F.lit(0)).alias("offset"),
            F.sum("ptot").over(w_all).alias("n_total"),
        )
    )
    sliced = freq.join(F.broadcast(offsets), ["pid", "k"]).sortWithinPartitions(
        "k", "v"
    )

    def _order_stats(batches):
        cum: dict = {}  # key -> next global rank within the key
        meta: dict = {}  # key -> [(q_idx, lo_pos, frac)]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ks = pdf["k"].to_numpy()
            change = np.nonzero(ks[1:] != ks[:-1])[0] + 1
            starts = np.concatenate(([0], change))
            stops = np.concatenate((change, [len(ks)]))
            cnts_all = pdf["cnt"].to_numpy()
            out = []
            for s, e in zip(starts, stops):
                k = ks[s]
                if k not in cum:
                    cum[k] = int(pdf["offset"].iloc[s])
                    n = int(pdf["n_total"].iloc[s])
                    tgts = []
                    for i, q in enumerate(qs):
                        pos = (n - 1) * q
                        lo = int(math.floor(pos))
                        tgts.append((i, lo, pos - lo))
                    meta[k] = tgts
                c = cum[k]
                ends = c + np.cumsum(cnts_all[s:e])
                for i, lo, frac in meta[k]:
                    hi = lo + 1 if frac > 0 else lo
                    for pos, part in ((lo, 0), (hi, 1)):
                        if c <= pos < ends[-1]:
                            j = int(np.searchsorted(ends, pos, side="right"))
                            out.append(
                                (k, i, part, float(pdf["v"].iloc[s + j]), frac)
                            )
                cum[k] = int(ends[-1])
            if out:
                yield pd.DataFrame(
                    out, columns=["k", "q_idx", "part", "v", "frac"]
                )

    k_type = dict(base.dtypes)["k"]
    stats = sliced.mapInPandas(
        _order_stats,
        f"k {k_type}, q_idx int, part int, v double, frac double",
    )
    bound = F.round(
        F.col("v_lo") + (F.col("v_hi") - F.col("v_lo")) * F.col("frac"),
        decimals,
    )
    return (
        stats.groupBy("k", "q_idx")
        .agg(
            F.max(F.when(F.col("part") == 0, F.col("v"))).alias("v_lo"),
            F.max(F.when(F.col("part") == 1, F.col("v"))).alias("v_hi"),
            F.first("frac").alias("frac"),
        )
        .select(F.col("k").alias(key), "q_idx", bound.alias("bound"))
    )


def equidepth_histogram(lineitem: DataFrame, buckets: int = 10) -> DataFrame:
    """Equi-depth (quantile) histogram of ``l_extendedprice`` — the
    optimizer-statistics / data-profiling primitive where every bucket
    holds ~the same row count, unlike ``length_histogram``'s fixed
    widths.

    Deliberately NOT a global ``ntile`` window (whole corpus through
    ONE partition's sort) and NOT the built-in exact ``percentile``
    aggregate (whole value→count map in ONE final buffer): the
    interior cut points come from the distributed-exact
    ``exact_quantiles`` kernel above, the boundary array broadcasts,
    and bucket assignment is a pure row expression — count of
    boundaries at-or-below the value. Bucket populations are
    approximately-equal (exact only up to boundary ties/interpolation,
    the standard equi-depth contract).

    Boundaries are rounded to 4 before comparison on BOTH engines so
    assignment never hinges on sub-rounding float noise.

    Emits (bucket, n_rows, lo_price, hi_price, avg_price).
    """
    qs = [i / buckets for i in range(1, buckets)]
    bounds = exact_quantiles(lineitem, "l_extendedprice", qs)
    bucket = F.aggregate(
        "bounds",
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("l_extendedprice") >= b, 1).otherwise(0),
    )
    return (
        lineitem.select("l_extendedprice")
        .crossJoin(F.broadcast(bounds))
        .select("l_extendedprice", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo_price"),
            F.round(F.max("l_extendedprice"), 2).alias("hi_price"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
    )


def column_profile(lineitem: DataFrame) -> DataFrame:
    """Deequ-style column profiling of the fact table in ONE scan:
    per column, row/non-null counts, completeness, exact distinct
    cardinality, and min/max/mean of the value (numerics) or its
    length (strings) -- the data-quality summary a pipeline records
    per ingest batch (``quality_constraints`` is the pass/fail side;
    this is the describe side).

    Plan shape: unpivot with ``stack`` (row-local, x|columns|) then a
    TWO-LEVEL aggregate -- ``groupBy(col_name, value)`` first, tiny
    per-column rollup second. The value is constant within a
    (column, value) group, so every metric reconstructs exactly from
    (value, group count): n_nonnull = sum(cnt) over non-null groups,
    n_distinct = group count, sum = value*cnt folded as DECIMAL.
    This beats the naive one-shot mixed distinct+base aggregate 4x:
    no Expand row doubling (Spark plans a 2x Expand when distinct and
    non-distinct aggs share a grouping), and the map-side partial
    collapses duplicate values BEFORE the shuffle, so the exchange
    carries ~|distinct values| rows, not |rows| -- the property that
    keeps exact profiling viable at 100 TB (low-cardinality columns
    cost almost nothing; the shuffle is bounded by true cardinality,
    the same bound approx HLL profiling would hand the planner).
    Strings are profiled by length but keyed by full value, so their
    distinct counts stay exact. Means fold as DECIMAL(28,4) then
    divide once in double -- engine-identical; min/max are exact.

    Emits one row per profiled column (long form)."""
    cols = [
        ("l_quantity", "num"),
        ("l_extendedprice", "num"),
        ("l_discount", "num"),
        ("l_tax", "num"),
        ("l_linenumber", "num"),
        ("l_returnflag", "str"),
        ("l_linestatus", "str"),
    ]
    parts = []
    for c, kind in cols:
        if kind == "num":
            # numeric: the double IS the distinct key (injective for
            # fixed-point money/int values, all < 2^53)
            parts.append(f"'{c}', CAST({c} AS DOUBLE), CAST(NULL AS STRING)")
        else:
            # string: metric = length, distinct key = the value itself
            parts.append(f"'{c}', CAST(length({c}) AS DOUBLE), {c}")
    stacked = lineitem.selectExpr(
        f"stack({len(cols)}, {', '.join(parts)}) AS (col_name, vnum, vstr)"
    )
    nonnull = F.col("vnum").isNotNull() | F.col("vstr").isNotNull()
    per_value = stacked.groupBy("col_name", "vnum", "vstr").agg(
        F.count("*").alias("cnt")
    )
    return (
        per_value.groupBy("col_name")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.sum(F.when(nonnull, F.col("cnt")).otherwise(F.lit(0))).alias(
                "n_nonnull"
            ),
            F.sum(F.when(nonnull, F.lit(1)).otherwise(F.lit(0))).alias(
                "n_distinct"
            ),
            F.min("vnum").alias("min_v"),
            F.max("vnum").alias("max_v"),
            F.sum(F.col("vnum").cast("decimal(28,4)") * F.col("cnt")).alias(
                "sum_dec"
            ),
        )
        .selectExpr(
            "col_name",
            "CAST(n_rows AS BIGINT) AS n_rows",
            "CAST(n_nonnull AS BIGINT) AS n_nonnull",
            "round(CAST(n_nonnull AS DOUBLE) / n_rows, 4) AS completeness",
            "CAST(n_distinct AS BIGINT) AS n_distinct",
            "min_v",
            "max_v",
            "round(CAST(sum_dec AS DOUBLE) / n_nonnull, 4) AS mean_v",
        )
    )


def customer_reorder_stats(orders: DataFrame, min_orders: int = 3) -> DataFrame:
    """Per-customer reorder-cadence profile: the gaps between a
    customer's consecutive orders summarized as count / mean / min /
    max days -- the repurchase-rhythm signal behind churn prediction
    and inventory planning (a customer whose max gap suddenly dwarfs
    their mean has churned in all but name).

    One lag window per customer (hash exchange on o_custkey, ordered
    by date with orderkey tiebreak) produces the gap stream; ONE
    grouped aggregate on the SAME key summarizes it -- Catalyst reuses
    the exchange, so the plan carries a single shuffle. Gap arithmetic
    is exact integer days (datediff of DATE-truncated timestamps);
    the mean is the one double division, rounded 2. Customers with
    fewer than ``min_orders`` orders (fewer than 2 gaps) are dropped
    -- a single gap has no cadence to profile.

    Emits (o_custkey, n_orders, n_gaps, mean_gap_days, min_gap_days,
    max_gap_days).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap_d"),
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.count("gap_d").cast("bigint").alias("n_gaps"),
            F.round(F.avg("gap_d"), 2).alias("mean_gap_days"),
            F.min("gap_d").cast("bigint").alias("min_gap_days"),
            F.max("gap_d").cast("bigint").alias("max_gap_days"),
        )
        .filter(F.col("n_orders") >= min_orders)
    )


def cdc_merge_upsert(orders: DataFrame, cut: str = "1998-01-01") -> DataFrame:
    """MERGE INTO semantics over a snapshot + changelog -- the full
    upsert/delete application ``cdc_latest_wins`` (pure latest-wins,
    no base table, no deletes) stops short of: a target state keyed
    by customer absorbs a change batch where each change either
    UPSERTS the customer's record or DELETES it, latest change wins.

    Deterministic split of the fixture: the target is each customer's
    latest order BEFORE ``cut``; orders on/after the cut form the
    changelog, a final-status ('F') order meaning account closure
    (op 'D'), anything else an upsert (op 'U') carrying the new
    record.

    Plan: both the base state and the latest pending change per key
    come from ``max_by`` over a (date, key) ordering struct -- the
    groupby_argmax discipline, partial->final aggregates with no
    window sort -- followed by ONE full-outer keyed join and a
    row-local CASE: change absent -> keep base; 'D' -> drop; 'U' ->
    replace-or-insert. At 100 TB the changelog is a fraction of the
    base and the join shuffles only (key, one record) per side; a
    production deployment pairs this kernel with partition-pruned
    rewrites (see cdc_latest_wins's note).

    Emits the post-merge state (o_custkey, o_orderkey, o_totalprice,
    o_orderdate, src) where src tags 'base' kept rows vs 'change'
    applied upserts.

    Reference licence: reduce-side join + grouped fold (SURVEY.md
    §2A rows 3,4,7,8).
    """
    rec = F.struct("o_orderdate", "o_orderkey", "o_totalprice", "o_orderstatus")
    key = F.struct("o_orderdate", "o_orderkey")
    base = (
        orders.filter(F.col("o_orderdate") < F.lit(cut))
        .groupBy("o_custkey")
        .agg(F.max_by(rec, key).alias("r"))
        .select(
            "o_custkey",
            F.col("r.o_orderkey").alias("b_orderkey"),
            F.col("r.o_totalprice").alias("b_totalprice"),
            F.col("r.o_orderdate").alias("b_orderdate"),
        )
    )
    latest_change = (
        orders.filter(F.col("o_orderdate") >= F.lit(cut))
        .groupBy("o_custkey")
        .agg(F.max_by(rec, key).alias("r"))
        .select(
            "o_custkey",
            F.when(F.col("r.o_orderstatus") == "F", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("r.o_orderkey").alias("c_orderkey"),
            F.col("r.o_totalprice").alias("c_totalprice"),
            F.col("r.o_orderdate").alias("c_orderdate"),
        )
    )
    merged = base.join(latest_change, "o_custkey", "full_outer")
    return (
        merged.filter((F.col("op").isNull()) | (F.col("op") == "U"))
        .select(
            "o_custkey",
            F.when(F.col("op") == "U", F.col("c_orderkey"))
            .otherwise(F.col("b_orderkey"))
            .alias("o_orderkey"),
            F.when(F.col("op") == "U", F.col("c_totalprice"))
            .otherwise(F.col("b_totalprice"))
            .alias("o_totalprice"),
            F.when(F.col("op") == "U", F.col("c_orderdate"))
            .otherwise(F.col("b_orderdate"))
            .alias("o_orderdate"),
            F.when(F.col("op") == "U", F.lit("change"))
            .otherwise(F.lit("base"))
            .alias("src"),
        )
    )


def customer_clv_cohort(orders: DataFrame) -> DataFrame:
    """Cohorted customer-lifetime-value curve -- ``retention_cohorts``'
    revenue sibling on the orders table: customers cohort by the
    QUARTER of their first order; each cohort reports, per quarter of
    age, how many customers were active and the revenue they
    produced. The matrix every LTV model and payback-period analysis
    starts from.

    Cohort/age arithmetic is pure integers on date parts
    ((y2-y1)*4 + (q2-q1)); revenue sums run in DECIMAL(18,2) cast
    back to double (the money contract -- double sums round .xx5
    differently across engines). Plan: one argmin-style aggregate for
    first-order quarters (groupby_argmax discipline), an alphabet-ish
    keyed join back (customers x 1 row), one (cohort, age) rollup.

    Emits (cohort_q 'YYYY-Qn', age_q, n_customers, revenue).
    """
    qcol = (
        F.year("o_orderdate") * 4 + F.quarter("o_orderdate") - 1
    )  # absolute quarter index
    first = orders.groupBy("o_custkey").agg(
        F.min(qcol).alias("cohort_idx")
    )
    staged = (
        orders.select(
            "o_custkey",
            qcol.alias("q_idx"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .join(first, "o_custkey")
        .withColumn("age_q", F.col("q_idx") - F.col("cohort_idx"))
    )
    cohort_label = F.concat_ws(
        "-Q",
        F.floor(F.col("cohort_idx") / 4).cast("int").cast("string"),
        ((F.col("cohort_idx") % 4) + 1).cast("string"),
    )
    return (
        staged.groupBy("cohort_idx", "age_q")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum("price").cast("double").alias("revenue"),
        )
        .select(
            cohort_label.alias("cohort_q"),
            F.col("age_q").cast("int").alias("age_q"),
            "n_customers",
            "revenue",
        )
    )


def orders_abc_classification(lineitem: DataFrame) -> DataFrame:
    """ABC inventory classification of parts by discounted revenue --
    the cumulative-share cut every ops/procurement pipeline runs
    (A = parts inside the first 70% of revenue, B = to 90%, C =
    tail), and the skyline/pareto family's one-dimensional sibling.

    Exactness: per-line revenue extprice*(1-discount) is an exact
    integer in 1e-4 dollars (cents x (100 - discount_pct)); per-part
    sums and the running total are BIGINT window sums (integer
    running sums are engine-safe; double ones are not), and the
    class cut is an integer CROSS-MULTIPLICATION (cum*10 <= 7*total)
    so no share ratio is ever materialized. One keyed aggregate, one
    ordered window over the parts table (ties broken by partkey), a
    1-row total broadcast.

    Emits (l_partkey, revenue, cum_share, abc_class).
    """
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(rev_e4).alias("rev_e4")
    )
    w = Window.orderBy(F.col("rev_e4").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = per_part.agg(F.sum("rev_e4").alias("tot_e4"))
    cum = per_part.withColumn("cum_e4", F.sum("rev_e4").over(w)).join(
        F.broadcast(tot)
    )
    abc = (
        F.when(F.col("cum_e4") * 10 <= F.col("tot_e4") * 7, F.lit("A"))
        .when(F.col("cum_e4") * 10 <= F.col("tot_e4") * 9, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    # revenue to cents at INTEGER scale (X.5 quotients are exactly
    # representable, the one rounding rule both engines share), then
    # one exact division to dollars
    return cum.select(
        "l_partkey",
        (
            F.round(F.col("rev_e4") / F.lit(100.0)).cast("long")
            / F.lit(100.0)
        ).alias("revenue"),
        F.round(F.col("cum_e4") / F.col("tot_e4").cast("double"), 6).alias(
            "cum_share"
        ),
        abc.alias("abc_class"),
    )


def revenue_gini_by_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Gini coefficient of customer order-revenue concentration PER
    NATION -- the grouped form of ``stats_gini``'s single readout
    (which market's demand hangs on a handful of accounts): G =
    (2 * sum(rank * x) / (n * sum(x))) - (n + 1) / n over each
    nation's customer totals ranked ascending.

    Customer totals are exact 1e-2-dollar integers; ranks come from
    the unique-key (total, custkey) order inside one nation-
    partitioned window, so sum(rank * x) is an exact integer and G is
    ONE double expression. The nation dimension is broadcast; the
    only corpus-scale exchange is the customer-keyed aggregation.

    Emits (n_name, n_customers, gini).
    """
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_c"
            )
        )
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "o_custkey", "rev_c")
    )
    w = Window.partitionBy("n_name").orderBy("rev_c", "o_custkey")
    ranked = per_cust.select(
        "n_name", "rev_c", F.row_number().over(w).alias("r")
    )
    agg = ranked.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum("rev_c").alias("sx"),
        F.sum(F.col("r") * F.col("rev_c")).alias("srx"),
    )
    n = F.col("n").cast("double")
    gini = (
        F.lit(2.0)
        * F.col("srx").cast("double")
        / (n * F.col("sx").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return agg.filter((F.col("n") > 1) & (F.col("sx") > 0)).select(
        "n_name",
        F.col("n").cast("long").alias("n_customers"),
        F.round(gini, 6).alias("gini"),
    )
