"""Temporal / event-stream operators over the ``events`` table
(SURVEY.md M4): gap-based sessionization and tumbling-window
aggregation. Batch forms here; streaming variants in ``streaming/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import iterate


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessions: a new session starts when the gap since the
    user's previous event exceeds ``gap_seconds``. Classic lag +
    cumulative-sum construction (reference licensing: sort within key
    + grouped fold, SURVEY.md section 2B).

    One shuffle on user_id, then two window passes over the same
    sort order (Catalyst reuses the sort). Skewed users (bots) are the
    scale risk: mitigate with AQE skew handling or per-user date
    sub-partitioning when sessions never span days.
    """
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(order)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        events.select("user_id", "event_id", "ts", is_new.alias("is_new"))
        .select(
            "user_id",
            "event_id",
            F.sum("is_new").over(running).alias("session_id"),
        )
    )


def session_stats(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Per-session rollup on top of sessionize: bounds + event count.

    ``ts`` is carried through the window pass so the rollup is a plain
    grouped aggregation on the sessionized rows -- no join back to the
    input (one shuffle on user_id for the windows, one for the agg,
    which AQE usually collapses since user_id prefixes the agg key).
    """
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(order)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = events.select(
        "user_id", "event_id", "ts", is_new.alias("is_new")
    ).select("user_id", "ts", F.sum("is_new").over(running).alias("session_id"))
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-session rollup via the native ``session_window`` generator —
    the same gap-merge semantics Structured Streaming uses for
    streaming sessionization (``streaming.jobs.stream_sessionize``
    runs this exact plan on an unbounded source).

    Boundary semantics match ``sessionize`` exactly: Spark merges an
    event landing exactly ``gap`` after its predecessor into the same
    session (closed boundary, verified empirically in
    tests/test_temporal_sessions.py), the same strict-``>``
    new-session rule as the lag construction.
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


def tumbling_window_agg(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Fixed-window aggregation via the native window() generator
    (reference licensing: key = time-bucket(ts)). window() keeps the
    grouping a plain hash agg on (bucket, type) -- partial agg then one
    exchange; identical plan shape in Structured Streaming."""
    w = F.window("ts", duration)
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_window_agg(
    events: DataFrame, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding (hopping) window aggregation: each event contributes to
    size/slide overlapping windows -- the native ``window()`` generator
    expands rows before the grouped agg, so the plan stays a partial +
    final hash aggregation (shuffle carries one row per (window, type)
    group, not per event). Streaming-identical plan shape, like
    ``tumbling_window_agg``."""
    w = F.window("ts", size, slide)
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def percentile_stats(events: DataFrame) -> DataFrame:
    """Exact percentiles (continuous interpolation) of event values
    per type. Exact percentile sorts within each group -- fine for
    bounded group sizes; when groups are unbounded either switch to
    ``approx_percentile`` (t-digest sketch, mergeable map-side,
    bounded rank error) or keep exactness distributed with
    ``percentile_stats_distributed`` below (grouped range-partition
    kernel, bit-identical result)."""
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.max("value"), 4).alias("p100"),
    )


def percentile_stats_distributed(events: DataFrame) -> DataFrame:
    """Same contract as ``percentile_stats`` (exact p50/p95/p100 per
    event type) through the grouped distributed-quantile kernel
    (``operators/relational.py:exact_quantiles_grouped``): per-type
    order statistics come from (key, value)-range-partitioned shards
    with a per-(key, shard) prefix sum, so a HOT TYPE's values never
    concentrate in one aggregation buffer — the form that holds when
    group sizes are unbounded (low-cardinality key over an unbounded
    corpus), where grouped ``F.percentile`` sorts each group in one
    buffer and ``approx_percentile`` trades rank error. p100 is a
    plain max aggregate (already partial→final)."""
    from .relational import exact_quantiles_grouped

    qb = exact_quantiles_grouped(events, "event_type", "value", [0.5, 0.95])
    wide = qb.groupBy("event_type").agg(
        F.max(F.when(F.col("q_idx") == 0, F.col("bound"))).alias("p50"),
        F.max(F.when(F.col("q_idx") == 1, F.col("bound"))).alias("p95"),
    )
    mx = events.groupBy("event_type").agg(
        F.round(F.max("value"), 4).alias("p100")
    )
    return wide.join(mx, "event_type")


def approx_percentile_stats(events: DataFrame) -> DataFrame:
    """Sketch percentiles per event type: the 100 TB path promised in
    ``percentile_stats``'s docstring, declared as its own operator.
    ``approx_percentile`` builds a mergeable quantile sketch map-side
    (partial aggregation applies — the exact form must instead sort
    every group's values), with rank error ≤ 1/accuracy. Sketch
    estimates are engine-specific, so the driver check is rows-only;
    the unit test bounds the error against the exact operator."""
    return events.groupBy("event_type").agg(
        F.round(F.approx_percentile("value", F.lit(0.5), F.lit(10000)), 4).alias("p50"),
        F.round(F.approx_percentile("value", F.lit(0.95), F.lit(10000)), 4).alias("p95"),
        F.round(F.max("value"), 4).alias("p100"),
    )


def join_asof(events: DataFrame, orders: DataFrame) -> DataFrame:
    """As-of join: for each event, the user's most recent order with
    ``o_orderdate <= ts`` (the "latest value as of time t" primitive
    Spark lacks as a built-in).

    Scalable construction -- union + ordered last_value, NOT a range
    join: both sides are tagged and unioned on (key, time), one
    shuffle sorts each key's timeline, and ``last(..., ignorenulls)``
    over rows-preceding carries the latest order's columns forward to
    every event row. Cost is one exchange + one sort over |L|+|R| --
    no time-range candidate explosion, no per-row probe. Skewed keys
    follow the same AQE/salting prescription as any single-key window.

    Right-side (key, time) ties are resolved before the union (highest
    o_orderkey wins) so results are engine-deterministic; the oracle
    applies the same reduction, then DuckDB's native ASOF LEFT JOIN.
    """
    wdedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    r = (
        orders.withColumn("rn", F.row_number().over(wdedup))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("t"),
            F.lit(0).alias("tag"),
            F.col("o_orderkey"),
            F.col("o_totalprice"),
            F.lit(None).cast("bigint").alias("event_id"),
        )
    )
    left = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.col("event_id"),
    )
    # tag orders the right side FIRST at equal instants: an order at
    # exactly ts qualifies (>= semantics)
    timeline = Window.partitionBy("k").orderBy("t", "tag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        r.unionByName(left)
        .select(
            "k",
            "t",
            "tag",
            "event_id",
            F.last("o_orderkey", ignorenulls=True).over(timeline).alias("o_orderkey"),
            F.last("o_totalprice", ignorenulls=True).over(timeline).alias("o_totalprice"),
        )
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.col("t").alias("ts"),
            "o_orderkey",
            "o_totalprice",
        )
    )


def join_asof_ttl(
    events: DataFrame, orders: DataFrame, ttl_days: int = 9000
) -> DataFrame:
    """As-of join with a staleness bound (TTL): each event gets the
    user's most recent order at most ``ttl_days`` old (default
    calibrated to the fixture's 1995-2001 orders vs 2024 events so
    the bound actually bisects the staleness range) -- the
    feature-store point-in-time contract ("serve the latest feature
    value, but never one staler than the TTL"), where plain
    ``join_asof`` would happily carry a years-old match forward.

    Same union + ordered last_value construction (one exchange + one
    sort over |L|+|R|, no range-join candidate explosion): the carried
    struct also keeps the matched order's own timestamp, a row-local
    staleness test NULLs out expired matches after the window pass,
    and the staleness itself is emitted in exact fractional days
    (integer microsecond delta / 86400e6). TTL filtering after the
    single timeline pass costs nothing extra at any scale.

    Emits (event_id, user_id, ts, o_orderkey, o_totalprice,
    staleness_days) with NULL order columns when nothing fresh
    enough exists."""
    wdedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    r = (
        orders.withColumn("rn", F.row_number().over(wdedup))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("t"),
            F.lit(0).alias("tag"),
            F.col("o_orderkey"),
            F.col("o_totalprice"),
            F.lit(None).cast("bigint").alias("event_id"),
        )
    )
    left = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.col("event_id"),
    )
    timeline = Window.partitionBy("k").orderBy("t", "tag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    order_t = F.when(F.col("tag") == 0, F.col("t").cast("timestamp"))
    carried = (
        r.unionByName(left)
        .select(
            "k",
            "t",
            "tag",
            "event_id",
            F.last("o_orderkey", ignorenulls=True).over(timeline).alias("o_orderkey"),
            F.last("o_totalprice", ignorenulls=True).over(timeline).alias("o_totalprice"),
            F.last(order_t, ignorenulls=True).over(timeline).alias("t_match"),
        )
        .filter(F.col("tag") == 1)
    )
    stale_us = F.unix_micros(F.col("t").cast("timestamp")) - F.unix_micros(
        F.col("t_match")
    )
    fresh = stale_us <= F.lit(ttl_days * 86_400_000_000)
    return carried.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("t").alias("ts"),
        F.when(fresh, F.col("o_orderkey")).alias("o_orderkey"),
        F.when(fresh, F.col("o_totalprice")).alias("o_totalprice"),
        F.when(fresh, F.round(stale_us / 86_400_000_000.0, 4)).alias(
            "staleness_days"
        ),
    )


def join_range_banded(events: DataFrame, window_s: int = 60) -> DataFrame:
    """Time-proximity self-join: ordered pairs of a user's events at
    most ``window_s`` seconds apart -- the generic range-join pattern
    (correlation windows, conversation threading).

    Banded construction, NOT a theta join: with bucket width =
    ``window_s``, a qualifying pair's buckets differ by at most one,
    so the left side duplicates into (bucket, bucket+1) and the join
    is a plain equi-join on (user, bucket) -- O(pairs-per-band) work
    instead of the quadratic per-user cross product a range predicate
    alone would force. Each qualifying pair matches exactly once
    (same-bucket via the original copy, straddling via the +1 copy);
    the exact range predicate filters band false positives.
    """
    e = events.select(
        "user_id", "event_id", "ts", (F.col("ts").cast("long") / window_s).cast("long").alias("bkt")
    )
    a = e.select(
        F.col("user_id"),
        F.col("event_id").alias("eid_a"),
        F.col("ts").alias("ts_a"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("bkt"),
    )
    b = e.select(
        "user_id",
        F.col("event_id").alias("eid_b"),
        F.col("ts").alias("ts_b"),
        "bkt",
    )
    dt = F.col("ts_b").cast("long") - F.col("ts_a").cast("long")
    earlier = (F.col("ts_a") < F.col("ts_b")) | (
        (F.col("ts_a") == F.col("ts_b")) & (F.col("eid_a") < F.col("eid_b"))
    )
    return (
        a.join(b, ["user_id", "bkt"])
        .filter(earlier & (dt <= window_s))
        .select("user_id", "eid_a", "eid_b", dt.cast("int").alias("dt_s"))
    )


def window_lead_delta(events: DataFrame) -> DataFrame:
    """Per-user gap to the NEXT event (lead window): the inter-arrival
    series that feeds dwell-time and session-gap analyses. One hash
    shuffle on user_id + one sort; ties broken by event_id so the
    series is deterministic."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    # exact integer microsecond difference, ONE division -- identical
    # float result in any engine (a double-cast-then-subtract loses
    # precision at epoch magnitude)
    gap = (F.unix_micros(nxt) - F.unix_micros(F.col("ts"))) / F.lit(1_000_000.0)
    return events.select("user_id", "event_id", gap.alias("gap_s"))


def ordered_event_sequences(events: DataFrame, max_len: int = 50) -> DataFrame:
    """Per-user ordered action sequence as a delimited string -- the
    session-to-token-sequence construction step of a behavioral
    training pipeline.

    Bounded-state construction: a ``row_number()`` window over
    (user_id, ts, event_id) ranks events BEFORE any aggregation, and
    rows beyond ``max_len`` are filtered out pre-aggregate, so the
    per-user array the aggregation materializes is genuinely bounded
    by ``max_len`` even for a mega-user with millions of events (a
    post-aggregate ``slice`` would first collect the full array in
    one row). ``n_events`` is the TOTAL per-user count, taken from an
    unordered count window on the same hash partitioning -- the
    window pass and the groupBy reuse one shuffle on user_id.
    collect_list is UNORDERED by contract, so order is re-imposed
    inside the bounded row: collect (rn, action) structs, array_sort
    by rn, project the action, join.
    """
    from pyspark.sql import Window

    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("user_id")
    ranked = events.select(
        "user_id",
        "event_type",
        F.row_number().over(w_order).alias("rn"),
        F.count("*").over(w_all).alias("n_events"),
    ).filter(F.col("rn") <= max_len)
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
        lambda s: s["event_type"],
    )
    return ranked.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.concat_ws(",", seq).alias("action_seq"),
    )


def rolling_window_range(events: DataFrame, window_s: int = 600) -> DataFrame:
    """Trailing time-range features per event: count and value sum of
    the SAME user's events in the preceding ``window_s`` seconds,
    including the current row -- the RANGE-frame window (peers by time
    distance, not row count), which is the correct frame for
    irregularly-spaced event streams (a ROWS frame would mean 'last k
    events' regardless of how stale they are).

    Ordering key is integer epoch microseconds, so the frame bound
    (window_s * 1e6) is exact integer arithmetic cross-engine; value
    sums round through one terminal round(). One shuffle on user_id;
    within-partition sort is the window's requirement and AQE sizes
    the partitions."""
    from pyspark.sql import Window

    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-window_s * 1_000_000, 0)
    )
    return events.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_recent"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("recent_value"),
    )


def event_transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next_type | cur_type) with support counts -- the
    behavioral-model summary (what users do next) and the input to
    sequence-anomaly scoring.

    One lead window per user (hash shuffle on user_id, ties broken by
    event_id) produces the transition stream; a partial+final count
    aggregation keyed on the (cur, next) pair -- alphabet-sized, so
    the second shuffle is tiny regardless of corpus size -- and a
    per-cur total via a window over the aggregated matrix (runs over
    #event_types^2 rows, negligible). Probabilities are one integer
    division, rounded once."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select(
            "user_id",
            F.col("event_type").alias("cur_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("cur_type", "next_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    w_cur = Window.partitionBy("cur_type")
    return trans.select(
        "cur_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(w_cur), 4
        ).alias("p_next"),
    )


def sequence_likelihood(events: DataFrame) -> DataFrame:
    """Per-user behavioral likelihood: average log2-probability of the
    user's own transitions under the CORPUS transition matrix -- the
    sequence-anomaly score (bots and scripted flows replay high-
    probability loops and score high; erratic sequences score low).
    The behavioral analog of ``text.lm_unigram_score``.

    The matrix is rebuilt UNROUNDED here (probabilities feed math, not
    reports) and broadcast -- it is alphabet^2 rows, so the per-user
    scoring join is map-side; one lead window + one per-user
    aggregation are the only corpus-sized shuffles."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = events.select(
        "user_id",
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    w_cur = Window.partitionBy("cur_type")
    matrix = (
        trans.groupBy("cur_type", "next_type")
        .agg(F.count("*").alias("n"))
        .select(
            "cur_type",
            "next_type",
            (F.col("n") / F.sum("n").over(w_cur)).alias("p"),
        )
    )
    return (
        trans.join(F.broadcast(matrix), ["cur_type", "next_type"])
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_transitions"),
            F.round(F.avg(F.log2("p")), 4).alias("avg_log2p"),
        )
    )


def activity_streaks(events: DataFrame) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user — the classic streak/retention primitive (DAU streaks,
    training-data recency runs).

    Single-shuffle plan: distinct (user, day) — a map-side-combinable
    aggregate — then the standard island key ``day -
    row_number()`` inside one window over (user_id ORDER BY day):
    consecutive days share the anchor date, so one more grouped
    aggregate per (user, anchor) yields start/end/length. Both
    aggregations and the window hash-partition on user_id, so AQE
    coalesces them onto ONE exchange; per-user state in the window is
    a single counter (no arrays), and days-per-user is bounded by the
    calendar, so no skew pathology exists at any corpus scale.

    Reference parity: grouped aggregation over a derived key is the
    reference's reduce phase (`worker/ReduceThread.java:40-90`); the
    island anchor is just a computed group key.

    Emits (user_id, streak_start, streak_end, streak_days).
    """
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    return (
        days.withColumn(
            "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
        )
        .groupBy("user_id", "anchor")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count("*").cast("int").alias("streak_days"),
        )
        # midnight timestamps, the same convention as the tumbling/
        # session window family (and the dtype both engines agree on)
        .select(
            "user_id",
            F.col("start_day").cast("timestamp").alias("streak_start"),
            F.col("end_day").cast("timestamp").alias("streak_end"),
            "streak_days",
        )
    )


def window_time_decay(events: DataFrame, half_life_days: float = 1.0) -> DataFrame:
    """Exponentially time-decayed per-user engagement score — the
    classic recency-weighted feature: each event contributes
    ``value * 2^(-age / half_life)`` with age measured back from the
    USER'S OWN latest event (a pure function of the data, so the
    score is reproducible — no wall-clock "now" in the plan).

    One user-keyed window (max ts) fused with one user-keyed
    aggregation — same partitioning, so AQE runs them on a single
    exchange. Integer-microsecond age arithmetic keeps the exponent
    identical across engines before the one float pow.

    Emits (user_id, n_events, decayed_score, last_ts).
    """
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id")
    last_us = F.max(us).over(w)
    age_days = (last_us - us) / F.lit(86_400_000_000.0)
    term = F.col("value") * F.pow(F.lit(2.0), -age_days / F.lit(half_life_days))
    return (
        events.select(
            "user_id",
            F.col("ts"),
            term.alias("term"),
            last_us.alias("last_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("term"), 4).alias("decayed_score"),
            F.timestamp_micros(F.max("last_us")).alias("last_ts"),
        )
    )


def cdc_scd2(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type 2 build from a change stream:
    each user's events (ordered by ts, tie-broken by event_id) become
    validity intervals [valid_from, valid_to), open-ended for the
    current row — the standard warehouse historization of CDC feeds,
    complementing ``cdc_latest_wins`` (which keeps only the head).

    One lead window per user — a single keyed shuffle; per-row state
    in the window is one lookahead row. Emits every version, so
    downstream "as of time T" queries are a plain BETWEEN filter
    (which parquet min/max stats prune once sorted by valid_from).

    Emits (user_id, value, valid_from, valid_to, is_current).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return events.select(
        "user_id",
        "value",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def attribution_last_touch(events: DataFrame) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent PRECEDING non-purchase event of the same user (the
    marketing-analytics sibling of the as-of join, expressed as a
    carry-forward window instead of a join — zero join, one keyed
    shuffle).

    ``last(..., ignorenulls)`` over (user, ts rows to -1) carries the
    latest non-purchase type/time forward; purchases read it off.
    Purchases with no prior touch attribute NULL (kept — the
    "direct" bucket). Ties on ts break by event_id on BOTH engines.

    Emits (event_id, user_id, purchase_ts, attributed_type,
    attributed_ts).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase_type = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    non_purchase_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    return (
        events.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.last(non_purchase_type, ignorenulls=True).over(w).alias("attributed_type"),
            F.last(non_purchase_ts, ignorenulls=True).over(w).alias("attributed_ts"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "attributed_type",
            "attributed_ts",
        )
    )


def snapshot_diff(
    events: DataFrame,
    t1: str = "2024-01-15 00:00:00",
    t2: str = "2024-01-31 00:00:00",
) -> DataFrame:
    """Snapshot diff between two time-travel cuts of a CDC stream:
    each user's state at time T is their latest event at ts <= T
    (latest-wins, the ``cdc_latest_wins`` rule); the diff reports
    every user whose state was ADDED or CHANGED between ``t1`` and
    ``t2`` — the audit query behind "what moved between yesterday's
    and today's snapshot" on incremental tables.

    One scan computes BOTH snapshots: events after t2 are dropped,
    then a single rank window per user ordered (ts desc, event_id
    desc) is evaluated twice via conditional ranks — rank among
    rows <= t1 and rank among all rows <= t2 — so no second shuffle
    and no self-join. Only difference rows survive.

    Emits (user_id, status, old_type, old_value, new_type, new_value).
    """
    upto_t2 = events.filter(F.col("ts") <= F.lit(t2).cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    in_t1 = F.col("ts") <= F.lit(t1).cast("timestamp")
    marked = upto_t2.select(
        "user_id", "ts", "event_id", "event_type", "value", in_t1.alias("in_t1")
    ).withColumn(
        "rn2", F.row_number().over(w)
    ).withColumn(
        # rank among t1-eligible rows only: running count of t1 rows
        # down the same ordering
        "rn1",
        F.sum(F.col("in_t1").cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    new_state = marked.filter(F.col("rn2") == 1).select(
        "user_id",
        F.col("event_type").alias("new_type"),
        F.round("value", 2).alias("new_value"),
        F.col("event_id").alias("new_eid"),
    )
    old_state = marked.filter(in_t1 & (F.col("rn1") == 1)).select(
        "user_id",
        F.col("event_type").alias("old_type"),
        F.round("value", 2).alias("old_value"),
        F.col("event_id").alias("old_eid"),
    )
    j = new_state.join(old_state, "user_id", "left")
    return (
        j.filter(
            F.col("old_eid").isNull() | (F.col("old_eid") != F.col("new_eid"))
        )
        .select(
            "user_id",
            F.when(F.col("old_eid").isNull(), "added")
            .otherwise("changed")
            .alias("status"),
            "old_type",
            "old_value",
            "new_type",
            "new_value",
        )
    )


def join_asof_nearest(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Nearest-as-of join: for each event, the user's order with the
    MINIMUM |o_orderdate - ts| in either direction — the sensor-fusion
    / measurement-alignment variant of ``join_asof`` (backward-only
    is wrong when the closest reading may come just after).

    Same union-timeline construction, still ONE shuffle: both the
    backward candidate (``last(..., ignorenulls)`` over preceding
    rows) and the forward candidate (``first(..., ignorenulls)`` over
    following rows) are evaluated on the same sorted (key, time)
    window pass, then an exact integer microsecond-distance struct-min
    picks the winner (ties: lower distance, then lower o_orderkey —
    equal-date orders are pre-reduced to min o_orderkey so both
    engines agree). No range-candidate explosion at any scale.

    Emits (event_id, user_id, o_orderkey, dist_us) — events whose
    user has no orders keep NULLs.
    """
    wdedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy("o_orderkey")
    r = (
        orders.withColumn("rn", F.row_number().over(wdedup))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("t"),
            F.lit(0).alias("tag"),
            F.col("o_orderkey"),
            F.lit(None).cast("bigint").alias("event_id"),
        )
    )
    left = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.col("event_id"),
    )
    order_us = F.when(
        F.col("o_orderkey").isNotNull(), F.unix_micros(F.col("t"))
    )
    base = r.unionByName(left).select(
        "k", "t", "tag", "event_id", "o_orderkey", order_us.alias("ord_us")
    )
    tl = Window.partitionBy("k").orderBy("t", "tag")
    back = tl.rowsBetween(Window.unboundedPreceding, 0)
    fwd = tl.rowsBetween(0, Window.unboundedFollowing)
    cand = (
        base.select(
            "k",
            "t",
            "tag",
            "event_id",
            F.last("o_orderkey", ignorenulls=True).over(back).alias("bk_key"),
            F.last("ord_us", ignorenulls=True).over(back).alias("bk_us"),
            F.first("o_orderkey", ignorenulls=True).over(fwd).alias("fw_key"),
            F.first("ord_us", ignorenulls=True).over(fwd).alias("fw_us"),
        )
        .filter(F.col("tag") == 1)
    )
    ev_us = F.unix_micros(F.col("t"))
    bk = F.when(
        F.col("bk_key").isNotNull(),
        F.struct(
            (ev_us - F.col("bk_us")).alias("dist_us"),
            F.col("bk_key").alias("o_orderkey"),
        ),
    )
    fw = F.when(
        F.col("fw_key").isNotNull(),
        F.struct(
            (F.col("fw_us") - ev_us).alias("dist_us"),
            F.col("fw_key").alias("o_orderkey"),
        ),
    )
    best = F.least(bk, fw)  # least() skips NULL structs
    return cand.withColumn("best", best).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("best.o_orderkey").alias("o_orderkey"),
        F.col("best.dist_us").alias("dist_us"),
    )


def attribution_linear(events: DataFrame) -> DataFrame:
    """Linear multi-touch attribution — the companion to
    ``attribution_last_touch``: each purchase splits ONE unit of
    credit equally across ALL the user's non-purchase touches since
    their previous purchase, instead of crediting only the latest.

    Two-window construction, zero joins: a running count of PRECEDING
    purchases (rows frame, exclusive of self) segments each user's
    stream — the k-th purchase carries segment k, and so do exactly
    the touches that precede it since purchase k-1. A second,
    unordered window over (user_id, segment) then counts the touches
    and detects whether the segment is closed by a purchase; each
    touch in a closed segment earns 1/n_touch. Trailing touches after
    the last purchase stay uncredited (dropped), purchases with no
    prior touch keep their credit in the direct bucket (no touch rows
    to pay — also dropped here, same as last-touch's NULL bucket).

    ONE user_id exchange serves both windows — hashpartitioning on
    user_id already satisfies the (user_id, segment) clustering, so
    the segment window adds only a sort (asserted in
    tests/test_plan_shape.py) — followed by a partial-agg rollup to
    the per-channel report. No fan-out; state bounded by a user's
    events between two purchases.

    Emits (attributed_type, n_touches, total_credit) — one row per
    touch channel.
    """
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = F.count(
        F.when(F.col("event_type") == "purchase", F.lit(1))
    ).over(w_prev)
    staged = events.select(
        "event_id", "user_id", "ts", "event_type", seg.alias("seg")
    )
    w_seg = Window.partitionBy("user_id", "seg")
    n_touch = F.count(
        F.when(F.col("event_type") != "purchase", F.lit(1))
    ).over(w_seg)
    closed = F.max(
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
    ).over(w_seg)
    return (
        staged.select(
            "event_type",
            n_touch.alias("n_touch"),
            closed.alias("closed"),
        )
        .filter((F.col("event_type") != "purchase") & (F.col("closed") == 1))
        .groupBy(F.col("event_type").alias("attributed_type"))
        .agg(
            F.count("*").alias("n_touches"),
            F.round(F.sum(F.lit(1.0) / F.col("n_touch")), 4).alias("total_credit"),
        )
    )


def winsorize_stats(
    events: DataFrame, lo: float = 0.01, hi: float = 0.99
) -> DataFrame:
    """Percentile winsorization readout per event type — the outlier
    treatment that CLIPS to the p01/p99 fences instead of dropping
    rows (``mad_outliers``' robust sibling; dropping biases sums,
    clipping preserves row counts for downstream rate math).

    Two scans, both parallel: one exact interpolated-percentile
    aggregate per type (alphabet-sized output) broadcasts back onto
    the stream, then clamped values fold into one partial→final
    aggregate. The fences are rounded to 4 BEFORE clamping on both
    engines so clip decisions never hinge on sub-rounding noise.
    When group sizes are unbounded, the fence aggregate swaps for
    ``exact_quantiles_grouped`` (same values bit-for-bit, no
    per-group buffer) — see ``percentile_stats_distributed``.

    Emits (event_type, n_events, n_clipped_low, n_clipped_high,
    mean_raw, mean_winsorized).
    """
    fences = events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(lo)), 4).alias("f_lo"),
        F.round(F.percentile("value", F.lit(hi)), 4).alias("f_hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("f_lo")), F.col("f_hi"))
    return (
        events.join(F.broadcast(fences), "event_type")
        .select(
            "event_type",
            "value",
            clipped.alias("w"),
            (F.col("value") < F.col("f_lo")).cast("int").alias("is_lo"),
            (F.col("value") > F.col("f_hi")).cast("int").alias("is_hi"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_lo").alias("n_clipped_low"),
            F.sum("is_hi").alias("n_clipped_high"),
            F.round(F.avg("value"), 4).alias("mean_raw"),
            F.round(F.avg("w"), 4).alias("mean_winsorized"),
        )
    )


#: Fixed epoch anchor for trend regression x-values (2023-11-14T22:13:20Z).
#: Centering near the fixture's time range keeps x magnitudes ~1e3 so
#: both engines' covariance accumulations agree to well past the
#: rounding precision; an uncentered unix-hour x (~4.9e5) would put
#: slope agreement at the mercy of catastrophic-cancellation noise.
TREND_EPOCH = 1_700_000_000


def trend_regression(events: DataFrame) -> DataFrame:
    """Per-type linear trend of event values over time — the
    monitoring primitive behind "is this metric drifting": slope,
    intercept, and fit quality per event_type from the built-in
    least-squares aggregates (``regr_*`` — identical covariance
    formulas on Spark and DuckDB).

    One partial→final aggregate, alphabet-sized output; the x axis is
    hours since a fixed anchor so the arithmetic is well-conditioned
    (see ``TREND_EPOCH``).

    Emits (event_type, n_events, slope_per_hour, intercept, r2).
    """
    x = (F.unix_timestamp("ts") - F.lit(TREND_EPOCH)) / 3600.0
    return (
        events.select("event_type", x.alias("x"), F.col("value").alias("y"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope_per_hour"),
            F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 4).alias("r2"),
        )
    )


def interval_merge(events: DataFrame) -> DataFrame:
    """Merge overlapping per-user activity intervals -- the classic
    gaps-and-islands coalescing step (calendar consolidation, session
    fusion, retention-window building). Each event opens an interval
    of ``value`` seconds; touching/overlapping intervals of one user
    fuse into a maximal span.

    Plan: one window over (user_id ORDER BY start, event_id) computes
    the running max of prior interval ends -- a new island starts
    exactly where the current start exceeds every earlier end. The
    island id is a running count of those starts in the SAME window
    partitioning, then one grouped aggregate per (user_id, island)
    emits the span. Window pass and final aggregate both key on
    user_id (+island), so skew is bounded by one user's events and
    nothing ever materializes an unbounded per-group array.

    All boundary arithmetic is integer microseconds
    (``unix_micros + floor(value * 1e6)``), so overlap decisions are
    bit-identical cross-engine; spans rebuild via timestamp_micros.
    """
    from pyspark.sql import Window

    us = F.unix_micros("ts")
    end_us = us + F.floor(F.col("value") * F.lit(1_000_000.0)).cast("bigint")
    base = events.select(
        "user_id", "event_id", us.alias("s_us"), end_us.alias("e_us")
    )
    w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max_end = F.max("e_us").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.select(
        "user_id",
        "event_id",
        "s_us",
        "e_us",
        F.when(
            prev_max_end.isNull() | (F.col("s_us") > prev_max_end), 1
        ).otherwise(0).alias("new_island"),
    )
    # island id = running count of starts, SAME (s_us, event_id) total
    # order as the flag window -- ties must rank identically in both
    island = F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        flagged.select("user_id", "s_us", "e_us", island.cast("int").alias("island"))
        .groupBy("user_id", "island")
        .agg(
            F.timestamp_micros(F.min("s_us")).alias("span_start"),
            F.timestamp_micros(F.max("e_us")).alias("span_end"),
            F.count("*").alias("n_events"),
            F.round(
                (F.max("e_us") - F.min("s_us")) / F.lit(1_000_000.0), 4
            ).alias("span_s"),
        )
    )


def stats_moments(events: DataFrame) -> DataFrame:
    """Per-type higher-moment distribution profile -- skewness and
    excess kurtosis, the shape signals a drift monitor watches after
    mean/variance stop moving (fraud spikes fatten tails long before
    they shift the mean).

    Engine-exact construction: built-in ``skewness``/``kurtosis``
    differ across engines (population vs sample corrections), so both
    sides compute the SAME explicit formula from mean-centered power
    sums. Two passes: (1) per-type mean (alphabet-sized, rounded to 6
    to pin the centering constant bit-identically cross-engine),
    broadcast back; (2) one grouped aggregate of (v-mu)^2/3/4.
    Centered sums are numerically safe at any value magnitude --
    raw power sums would cancel catastrophically and make the rounded
    result engine-dependent. Both aggregations partial->final; the
    join is an alphabet-sized broadcast.

    Emits (event_type, n_events, mean, stddev, skewness, kurt_excess).
    """
    mu = events.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu")
    )
    d = F.col("value") - F.col("mu")
    cent = (
        events.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.max("mu").alias("mu"),
            F.sum(d * d).alias("m2s"),
            F.sum(d * d * d).alias("m3s"),
            F.sum(d * d * d * d).alias("m4s"),
        )
    )
    m2 = F.col("m2s") / F.col("n_events")
    m3 = F.col("m3s") / F.col("n_events")
    m4 = F.col("m4s") / F.col("n_events")
    return cent.select(
        "event_type",
        "n_events",
        F.round("mu", 4).alias("mean"),
        F.round(F.sqrt(m2), 4).alias("stddev"),
        F.round(m3 / F.pow(m2, 1.5), 4).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 4).alias("kurt_excess"),
    )


def event_paths_topk(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k most frequent 3-step event-type paths across all user
    timelines -- sequential-pattern mining's workhorse summary (what
    flows dominate), one order up from the first-order
    ``event_transition_matrix``.

    Plan: ONE window shuffle keyed on user_id builds consecutive
    triples with two ``lead``s over the (ts, event_id)-total order
    (ties broken by the unique event_id, so the path stream is
    engine-deterministic); a partial+final count keyed on the
    type-alphabet^3-bounded path string; the global top-k collapses to
    ``TakeOrderedAndProject`` (orderBy + limit -- per-partition heads
    only, no global sort shuffle). Per-user state is two lookahead
    rows; nothing scales beyond the event scan.

    Emits (path 'a>b>c', n_paths), count desc, path asc tie-break."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    triples = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        triples.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(k)
    )


def interval_gaps(events: DataFrame) -> DataFrame:
    """Idle-gap extraction between a user's merged activity spans --
    the inverse of ``interval_merge`` and the other half of the
    gaps-and-islands pattern (dormancy windows, SLA silence periods,
    session inter-arrival analysis all read the GAPS, not the spans).

    Plan: reuse ``interval_merge``'s island coalescing verbatim, then
    ONE extra window pass over (user_id ORDER BY island) lags the
    previous span end.  Consecutive islands have a strictly positive
    gap by construction (an island starts exactly where the running
    max of prior ends is exceeded), so the lag row is the whole
    answer -- no joins, and the added window repartitions on the same
    user_id key the merge aggregate just grouped on.

    Gap arithmetic stays in integer microseconds (the
    ``interval_merge`` discipline) so both engines agree bit-for-bit;
    emits (user_id, gap_start, gap_end, gap_s) -- one row per idle
    window between two consecutive spans of one user.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    from pyspark.sql import Window

    spans = interval_merge(events).select(
        "user_id",
        "island",
        F.unix_micros("span_start").alias("s_us"),
        F.unix_micros("span_end").alias("e_us"),
    )
    w = Window.partitionBy("user_id").orderBy("island")
    prev_end = F.lag("e_us").over(w)
    return (
        spans.select(
            "user_id",
            prev_end.alias("g_us"),
            F.col("s_us"),
        )
        .filter(F.col("g_us").isNotNull())
        .select(
            "user_id",
            F.timestamp_micros(F.col("g_us")).alias("gap_start"),
            F.timestamp_micros(F.col("s_us")).alias("gap_end"),
            # 4-decimal seconds via INTEGER half-up on the exact micros
            # delta -- round(double, 4) puts the two engines on
            # opposite sides of the .xx5 boundary for some deltas
            (
                F.expr("div(s_us - g_us + 50, 100)") / F.lit(10_000.0)
            ).alias("gap_s"),
        )
    )


def interval_coverage(events: DataFrame) -> DataFrame:
    """Per-user activity-coverage profile -- the one-row-per-user
    readout of the gaps-and-islands family (utilization / uptime
    dashboards read THIS, not the raw spans): how much of a user's
    active window (first span start to last span end) was actually
    covered by merged activity spans.

    Plan: reuse ``interval_merge``'s island coalescing verbatim, then
    ONE grouped aggregate per user over the (user_id, island) spans --
    the aggregate keys on the same user_id the merge window just
    partitioned by, so no new shuffle class appears and per-group
    state is four bigints. Output is user-cardinality sized.

    All duration math stays in integer microseconds (the
    ``interval_merge`` discipline): covered/window seconds are
    half-up integer rounding of exact micros sums, and the coverage
    ratio divides the two exact micros ints (one double op, rounded
    4). Spans have strictly positive width whenever ``value > 0``, so
    the ratio denominator is the guarded CASE both engines share.

    Emits (user_id, n_spans, n_events, covered_s, window_s,
    coverage).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    spans = interval_merge(events).select(
        "user_id",
        F.unix_micros("span_start").alias("s_us"),
        F.unix_micros("span_end").alias("e_us"),
        "n_events",
    )
    agg = spans.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum(F.col("e_us") - F.col("s_us")).alias("cov_us"),
        F.min("s_us").alias("min_s"),
        F.max("e_us").alias("max_e"),
    )
    win_us = F.col("max_e") - F.col("min_s")
    return agg.select(
        "user_id",
        "n_spans",
        "n_events",
        # half-up integer rounding on exact micros (interval_gaps
        # discipline) -- round(double, 4) splits engines at .xx5
        (F.expr("div(cov_us + 50, 100)") / F.lit(10_000.0)).alias("covered_s"),
        (F.expr("div(max_e - min_s + 50, 100)") / F.lit(10_000.0)).alias(
            "window_s"
        ),
        F.when(
            win_us > 0, F.round(F.col("cov_us") / win_us, 4)
        ).alias("coverage"),
    )


def window_ewma(
    events: DataFrame, alpha: float = 0.25, span: int = 24
) -> DataFrame:
    """Exponentially-weighted moving average of each user's event
    values -- the smoothing primitive behind rate dashboards and
    drift monitors (recent points dominate, old ones decay
    geometrically).

    The textbook recursion ``y_i = a*x_i + (1-a)*y_{i-1}`` is
    inherently sequential; the distributed formulation truncates the
    geometric tail at ``span`` lags (weight beyond 24 lags of 0.75 is
    < 0.1% -- the standard pandas ``ewm(..., adjust=True)``
    normalized form) so each row is a PURE function of its bounded
    frame:

        y_i = sum_{j=0..m} (1-a)^j x_{i-j} / sum_{j=0..m} (1-a)^j

    Plan: one window over (user_id ORDER BY ts, event_id) collects
    the bounded 24-row frame (``collect_list`` preserves frame
    order), then a row-local fold weights it -- no self-join, no
    explode, one exchange on user_id shared with nothing else.

    Cross-engine exactness: ``1-a = 0.75 = 3/4``, so ``0.75^j`` for
    ``j <= 23`` (3^23 < 2^37) is EXACTLY representable in a double --
    ``pow`` returns the identical bit pattern in the JVM and DuckDB,
    the weighted sums add the same doubles in the same frame order,
    and the 6-decimal round lands identically.  The denominator uses
    the closed geometric form ``(1 - 0.75^n) / 0.25``.

    Emits (event_id, user_id, ts, value, ewma).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    from pyspark.sql import Window

    decay = 1.0 - alpha
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(span - 1), 0)
    )
    vals = F.collect_list("value").over(w)
    return events.select(
        "event_id", "user_id", "ts", "value", vals.alias("vals")
    ).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(
            F.expr(
                f"aggregate(zip_with(vals, sequence(size(vals) - 1, 0, -1),"
                f" (v, e) -> v * pow({decay!r}, e)), 0D, (acc, x) -> acc + x)"
                f" / ((1.0 - pow({decay!r}, size(vals))) / {alpha!r})"
            ),
            6,
        ).alias("ewma"),
    )


def join_scd2_pointintime(events: DataFrame) -> DataFrame:
    """Point-in-time dimension join -- THE warehouse-correctness
    classic: each fact row joins the dimension VERSION that was valid
    at the fact's own timestamp, never the current one (training-data
    pipelines call this temporal-leakage prevention; feature stores
    call it a point-in-time join).

    Dimension = ``cdc_scd2`` over each user's 'signup' events (value
    is the versioned attribute); facts = 'purchase' events. Because
    SCD2 validity intervals partition each key's timeline, "the
    version valid at T" == "the last version with valid_from <= T" --
    so the join is the UNION + ordered carry-forward as-of kernel
    (``join_asof``'s shape: one exchange + one sort over |dim|+|fact|,
    no range-join candidate explosion, no per-row probe). A version
    starting exactly at the fact instant qualifies (tag orders the
    dimension first at equal times -- [valid_from, valid_to)
    semantics).

    Facts before a user's first version keep NULL dimension columns
    (left semantics -- the "unknown member" row of warehouse lore).

    Emits (event_id, user_id, ts, dim_value, version_from).
    """
    # zero-width versions ([t, t) from same-instant changes) can never
    # be valid at any T; dropping them also makes the carry-forward
    # deterministic when several versions share a valid_from
    dim = cdc_scd2(events.filter(F.col("event_type") == "signup")).filter(
        F.col("valid_to").isNull()
        | (F.col("valid_to") > F.col("valid_from"))
    ).select(
        F.col("user_id").alias("k"),
        F.col("valid_from").alias("t"),
        F.lit(0).alias("tag"),
        F.col("value").alias("dim_value"),
        F.col("valid_from").alias("version_from"),
        F.lit(None).cast("bigint").alias("event_id"),
    )
    facts = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("double").alias("dim_value"),
        F.lit(None).cast("timestamp").alias("version_from"),
        "event_id",
    )
    timeline = Window.partitionBy("k").orderBy("t", "tag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dim.unionByName(facts)
        .select(
            "k",
            "t",
            "tag",
            "event_id",
            F.last("dim_value", ignorenulls=True).over(timeline).alias("dim_value"),
            F.last("version_from", ignorenulls=True)
            .over(timeline)
            .alias("version_from"),
        )
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.col("t").alias("ts"),
            "dim_value",
            "version_from",
        )
    )


def window_cusum(events: DataFrame) -> DataFrame:
    """One-sided CUSUM drift detector per (user, event type) stream --
    the classic sequential change-point statistic (Page 1954): small
    persistent upward shifts accumulate where a z-score on single
    points stays quiet.

    The textbook recursion ``S_i = max(0, S_{i-1} + (x_i - target))``
    looks sequential, but the prefix identity
    ``S_i = P_i - min(0, min_{j<=i} P_j)`` (P = running sum of
    deviations) turns it into TWO stacked running windows over one
    (user, type) exchange -- no recursion, no self-join.

    Cross-engine exactness: deviations ride as integer MICRO-units
    (``floor(value * 1e6)`` of the identical double product, target =
    integer-div mean per type), so the running sums are exact bigint
    arithmetic in any evaluation order -- DuckDB's segment-tree window
    aggregation and Spark's sequential frame walk agree bit-for-bit,
    which double running sums would NOT.

    Alarm when the statistic exceeds one full in-control mean of
    cumulative drift (the declared, deliberately simple h; real
    deployments tune h in sigma units).

    Emits (event_id, user_id, event_type, ts, cusum, alarm).
    """
    v_u = F.floor(F.col("value") * F.lit(1_000_000.0)).cast("bigint")
    base = events.select(
        "event_id", "user_id", "event_type", "ts", v_u.alias("v_u")
    )
    mu = base.groupBy("event_type").agg(
        F.expr("div(sum(v_u), count(*))").alias("mu_u")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    stepped = (
        base.join(F.broadcast(mu), "event_type")
        .withColumn("p", F.sum(F.col("v_u") - F.col("mu_u")).over(run))
    )
    s_u = F.col("p") - F.least(F.min("p").over(run), F.lit(0))
    return stepped.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        (s_u / F.lit(1_000_000.0)).alias("cusum"),
        (s_u > F.abs(F.col("mu_u"))).alias("alarm"),
    )


def window_twap(events: DataFrame) -> DataFrame:
    """Per-(user, day) time-weighted average of ``value`` -- the TWAP
    primitive (finance: fair average price over a window; ops
    analytics: duration-weighted metric level, where plain AVG
    over-counts burst samples).

    Each reading holds from its timestamp until the user's next event
    that day; the day's TWAP is sum(value * hold) / sum(hold). The
    day's last reading has no hold duration and drops (and single-
    event days with it) -- the declared right-open convention.

    One lead window keyed (user, day) and a grouped aggregate on the
    SAME keys: single exchange end to end. Exactness: value rides in
    integer CENTS (floor of the identical double product) and holds
    in integer microseconds, so the weighted sums are exact bigints
    (cents x day-in-us < 2^62 -- no overflow) in any fold order; the
    single closing division produces the same double on both engines.

    Emits (user_id, day, n_holds, twap).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    # DATE stringifies differently across engines -- ship the day as a
    # midnight TIMESTAMP (the join_interval_overlap precedent)
    day = F.to_date("ts").cast("timestamp").alias("day")
    v_c = F.floor(F.col("value") * F.lit(100.0)).cast("bigint")
    base = events.select(
        "user_id", day, F.unix_micros("ts").alias("t_us"),
        "event_id", v_c.alias("v_c"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("t_us", "event_id")
    held = base.withColumn(
        "dt_us", F.lead("t_us").over(w) - F.col("t_us")
    ).filter(F.col("dt_us").isNotNull())
    return (
        held.groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n_holds"),
            F.sum(F.col("v_c") * F.col("dt_us")).alias("num"),
            F.sum("dt_us").alias("den"),
        )
        .select(
            "user_id",
            "day",
            "n_holds",
            F.round(F.col("num") / F.col("den") / F.lit(100.0), 6).alias("twap"),
        )
    )


def event_markov_stationary(events: DataFrame, rounds: int = 12) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain by fixed-round power iteration -- the long-run "where does
    user attention settle" readout of ``event_transition_matrix``
    (the matrix says what happens NEXT; the stationary vector says
    what fraction of steps the chain spends in each state forever).

    Exactness across engines: each round computes
    ``v'(j) = sum_i v(i) * P(i, j)`` with a DETERMINISTIC fold order
    -- the per-target terms are collected into an array sorted by
    source state and folded left with a 0.0 seed (IEEE ``0 + x == x``
    makes the seeded fold bit-equal to DuckDB's seedless
    ``list_reduce``). Double sums in engine-chosen order would drift
    in the last bit and compound over rounds; the sorted fold kills
    that by construction, so the final round-6 probabilities are
    bit-identical.

    Scale: the transition matrix (alphabet^2 rows, exact integer
    counts over ONE corpus-sized lead window -- the
    ``event_transition_matrix`` plan) is eagerly localCheckpoint'ed
    once; every iteration thereafter joins two ALPHABET-sized frames
    -- zero corpus passes inside the loop; ``session.iterate``
    checkpoints the state every 3rd round (its docstring states the
    contract). Dangling states (appearing
    only as next_type) RECEIVE mass each step and shed it at the next
    join -- so the emitted vector is the exact step-``rounds``
    distribution including mass that just arrived on dangling states;
    both engines and the numpy property replay
    (tests/test_property.py) share this contract.

    Emits (state, pi) -- the stationary probability per event type,
    rounded 6.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cur = Window.partitionBy("cur_type")
    matrix = (
        events.select(
            "user_id",
            F.col("event_type").alias("cur_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("cur_type", "next_type")
        .agg(F.count("*").alias("n"))
        .select(
            "cur_type",
            "next_type",
            (F.col("n") / F.sum("n").over(w_cur)).alias("mp"),
        )
        .localCheckpoint()
    )
    k = matrix.select("cur_type").distinct()
    v = k.select(
        F.col("cur_type").alias("state"),
        (F.lit(1.0) / F.count("*").over(Window.partitionBy())).alias("p"),
    )

    def step(v: DataFrame, _) -> DataFrame:
        terms = v.join(matrix, F.col("state") == F.col("cur_type")).select(
            "next_type",
            F.col("state").alias("src"),
            (F.col("p") * F.col("mp")).alias("term"),
        )
        return terms.groupBy("next_type").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ).alias("p")
        ).select(F.col("next_type").alias("state"), "p")

    v, _ = iterate(v, step, rounds, every=3)
    return v.select("state", F.round("p", 6).alias("pi"))


def dau_wau_mau(events: DataFrame, wau_days: int = 7, mau_days: int = 30) -> DataFrame:
    """Rolling distinct-user engagement -- the DAU/WAU/MAU triple plus
    the DAU/MAU stickiness ratio, the flagship product-analytics
    readout (a rolling DISTINCT is NOT a rolling sum: the same user
    active twice in a week is one WAU, which is why none of the
    sliding-sum windows can express this).

    Scale shape: ONE distinct (day, user) aggregate collapses the
    event stream first (map-side combine; the day-user matrix is the
    op's true input size), then each active pair fans out to the
    window anchors it supports via a row-local explode of 0..k-1 day
    offsets -- fan-out is x7/x30 on DISTINCT pairs, never on raw
    events -- and one count-distinct per anchor day finishes it.
    Anchors are restricted to days the corpus actually contains
    (calendar-bounded output). Days ship as midnight TIMESTAMP (the
    join_interval_overlap precedent: DATE renders differently across
    engines).

    Emits (day, dau, wau, mau, stickiness) with stickiness =
    round(dau / mau, 4).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md section 2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    du = (
        events.select(
            F.date_trunc("day", "ts").alias("day"), "user_id"
        )
        .distinct()
        .localCheckpoint()  # feeds dau + two fan-outs + the day spine
    )
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))

    def rolling(k: int, name: str) -> DataFrame:
        fan = du.select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {k - 1}),"
                    " i -> timestampadd(DAY, i, day))"
                )
            ).alias("day"),
            "user_id",
        )
        return (
            fan.join(days, "day", "left_semi")
            .groupBy("day")
            .agg(F.count_distinct("user_id").alias(name))
        )

    wau = rolling(wau_days, "wau")
    mau = rolling(mau_days, "mau")
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau") / F.col("mau"), 4).alias("stickiness"),
        )
    )


def window_ohlc(events: DataFrame) -> DataFrame:
    """Per-(user, day) OHLC resample of ``value`` -- the candle the
    metrics/finance world downsamples any tick stream into (open =
    first reading of the day, close = last, high/low = extremes);
    the order-sensitive companion of ``window_twap``'s time-weighted
    mean.

    Open/close are pinned by the total order (ts, event_id) -- same-
    timestamp ties break on event_id, the repo's standard tiebreak,
    so both engines pick the same reading. ONE exchange on (user_id,
    day): both rank windows and the final aggregate share it; high/
    low/count are plain aggregates on the same pass. Days ship as
    midnight TIMESTAMP (the join_interval_overlap precedent).

    Emits (user_id, day, open, high, low, close, n_readings).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md section 2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    day = F.date_trunc("day", "ts")
    w_asc = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = events.select(
        "user_id", day.alias("day"), "ts", "event_id", "value"
    ).select(
        "user_id",
        "day",
        "value",
        F.row_number().over(w_asc).alias("r_open"),
        F.row_number().over(w_desc).alias("r_close"),
    )
    return ranked.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("r_open") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("r_close") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_readings"),
    )


def window_bollinger(events: DataFrame, n: int = 24, k: int = 2) -> DataFrame:
    """Per-user Bollinger bands over the reading stream -- the rolling
    mean +/- ``k`` sigma envelope (middle/upper/lower) that turns
    ``hourly_anomaly_zscore``'s batch z-test into a per-reading
    online band, the standard "is this point unusual vs its own
    recent history" monitor.

    Exactness discipline (the window_cusum contract): DuckDB windows
    aggregate doubles via a segment tree while Spark folds the frame
    in order, so double window-sums are NOT cross-engine stable. The
    fixture's values are cents-exact; the rolling sum and sum of
    squares therefore run on BIGINT cents (sum cnt^2 bounded by
    n * (5e7)^2 ~ 6e16 at the fixture's 490.02 max -- inside int64),
    and mean/stddev come out of the two exact integers row-locally:
    var = (n*ssq - s^2) / (n*(n-1)), one division + sqrt per row,
    identical IEEE ops on identical inputs on both engines.

    Plan: ONE user_id exchange, one sort serves both rolling frames
    (rows between n-1 preceding and current); rows with fewer than
    ``n`` trailing readings emit NULL bands (warm-up, flagged by
    n_window). State per partition is the n-row frame -- at 100 TB
    the exchange carries (user, ts, cents), nothing wider.

    Emits (user_id, event_id, ts, value, mid, upper, lower,
    n_window).

    Reference licence: sort-within-key + grouped fold (SURVEY.md
    §2A rows 4,6,7 -- the secondary-sort contract).
    """
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(n - 1), 0)
    )
    base = events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.count("*").over(w).alias("n_window"),
        F.sum(cents).over(w).alias("s"),
        F.sum(cents * cents).over(w).alias("ssq"),
    )
    nn = F.col("n_window")
    var_c = (
        (nn * F.col("ssq") - F.col("s") * F.col("s")).cast("double")
        / (nn * (nn - 1))
    )
    sd_c = F.sqrt(F.greatest(var_c, F.lit(0.0)))
    # band values scaled to 1e-4 dollars and rounded to an INTEGER:
    # s/2400 lands on exact .5-at-digit-5 decimals whenever 3 | s, and
    # round(double, 4) on such boundaries splits engines (Spark
    # rounds the shortest decimal repr half-up, DuckDB the binary
    # value) -- integer-boundary rounding is the one case where both
    # rules provably agree (X.5 is always exactly representable)
    mean4 = F.col("s") * F.lit(100.0) / nn
    spread4 = F.lit(100.0 * k) * sd_c
    full = nn >= n
    return base.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(full, F.round(mean4).cast("long") / F.lit(1e4)).alias("mid"),
        F.when(
            full, F.round(mean4 + spread4).cast("long") / F.lit(1e4)
        ).alias("upper"),
        F.when(
            full, F.round(mean4 - spread4).cast("long") / F.lit(1e4)
        ).alias("lower"),
        nn.cast("int").alias("n_window"),
    )


def seasonal_dow_decompose(events: DataFrame) -> DataFrame:
    """Weekly-seasonality decomposition of the daily event-count
    series: each day's count splits into the day-of-week seasonal
    mean and an additive residual -- the first-pass STL stand-in that
    answers "is Monday always like this, or is THIS Monday weird?"
    (hourly_anomaly_zscore's calendar-seasonal sibling; residuals
    feed any downstream outlier rule).

    Exact arithmetic: daily counts and per-dow sums are integers, so
    dow_mean = sum/n_days is the single float division (rounded 4)
    and residual = count - dow_mean derives from it identically on
    both engines. Day-of-week alignment pinned to 0 = Sunday (Spark
    dayofweek is 1-based Sunday, DuckDB 0-based -- the time_heatmap
    convention).

    Plan: one day collapse (365 rows/year however big the corpus),
    one 7-row dow aggregate broadcast back. Nothing after the first
    partial->final count scales with events.

    Emits (day, dow, n_events, dow_mean, residual).

    Reference licence: grouped double-aggregation (SURVEY.md §2A
    rows 4,7,8).
    """
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n_events")
    )
    dowc = daily.withColumn("dow", F.dayofweek("day") - 1)
    seas = dowc.groupBy("dow").agg(
        F.sum("n_events").alias("s"), F.count("*").alias("n_days")
    )
    return (
        dowc.join(F.broadcast(seas), "dow")
        .select(
            "day",
            "dow",
            "n_events",
            F.round(F.col("s") / F.col("n_days"), 4).alias("dow_mean"),
            F.round(
                F.col("n_events") - F.col("s") / F.col("n_days"), 4
            ).alias("residual"),
        )
    )


def attribution_position_based(events: DataFrame) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution --
    the third member of the attribution family: first and last touch
    before a purchase each earn 40% of the credit, the middle touches
    split the remaining 20% evenly (1-touch segments keep 100%,
    2-touch segments 50/50). The industry-standard compromise between
    ``attribution_last_touch`` (recency-biased) and
    ``attribution_linear`` (position-blind).

    Credit is integer PARTS-PER-MILLION: 400000 to the edges, the
    middle share round(200000 / (n-2)) -- from exact integers, so the
    per-channel fold is an exact BIGINT sum, order-free on both
    engines (a fold of double credit fractions would not be); one
    division at the end converts to credit units (rounded 4).

    Plan: attribution_linear's two-window construction (running
    purchase count segments each user's stream; ONE user_id exchange
    serves both windows) plus a touch-rank row_number over the same
    sort order, then the per-channel rollup.

    Emits (attributed_type, n_touches, total_credit).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) with the secondary-sort contract
    (rows 4,6,7).
    """
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = F.count(
        F.when(F.col("event_type") == "purchase", F.lit(1))
    ).over(w_prev)
    staged = events.select(
        "event_id", "user_id", "ts", "event_type", seg.alias("seg")
    )
    w_seg = Window.partitionBy("user_id", "seg")
    n_touch = F.count(
        F.when(F.col("event_type") != "purchase", F.lit(1))
    ).over(w_seg)
    closed = F.max(
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
    ).over(w_seg)
    touches = (
        staged.select(
            "user_id",
            "seg",
            "ts",
            "event_id",
            "event_type",
            n_touch.alias("n_touch"),
            closed.alias("closed"),
        )
        .filter((F.col("event_type") != "purchase") & (F.col("closed") == 1))
    )
    w_pos = Window.partitionBy("user_id", "seg").orderBy("ts", "event_id")
    pos = touches.withColumn("pos", F.row_number().over(w_pos))
    nt = F.col("n_touch")
    edge = (F.col("pos") == 1) | (F.col("pos") == nt)
    ppm = (
        F.when(nt == 1, F.lit(1000000))
        .when(nt == 2, F.lit(500000))
        .when(edge, F.lit(400000))
        .otherwise(F.round(F.lit(200000.0) / (nt - 2)).cast("long"))
    )
    return (
        pos.select(
            F.col("event_type").alias("attributed_type"), ppm.alias("ppm")
        )
        .groupBy("attributed_type")
        .agg(
            F.count("*").alias("n_touches"),
            F.round(F.sum("ppm") / F.lit(1e6), 4).alias("total_credit"),
        )
    )


def stats_jarque_bera(events: DataFrame) -> DataFrame:
    """Jarque-Bera normality test per event type -- the gate before
    any z-score/parametric rule downstream (``hourly_anomaly_zscore``,
    ``ab_test_ztest`` assume roughly normal inputs; JB is the cheap
    moment-based check that assumption deserves): JB = n/6 * (S^2 +
    K^2/4) with S the skewness and K the excess kurtosis, chi2(2)
    under H0.

    Reuses ``stats_moments``' engine-exact discipline verbatim:
    per-type mean rounded 6 pins the centering constant, ONE grouped
    pass of centered power sums, row-local moment arithmetic on the
    alphabet-sized result -- the construction whose cross-engine
    agreement is already driver-hash-proven. The 5% cut is
    chi2_{0.95, 2} = 5.9915, a constant (df is always 2).

    Emits (event_type, n_events, jb_stat, chi2_crit, normal).
    """
    mu = events.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu")
    )
    d = F.col("value") - F.col("mu")
    cent = (
        events.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(d * d).alias("m2s"),
            F.sum(d * d * d).alias("m3s"),
            F.sum(d * d * d * d).alias("m4s"),
        )
    )
    n = F.col("n_events")
    m2 = F.col("m2s") / n
    m3 = F.col("m3s") / n
    m4 = F.col("m4s") / n
    s = m3 / F.pow(m2, F.lit(1.5))
    k = m4 / (m2 * m2) - F.lit(3.0)
    jb = F.round(n / F.lit(6.0) * (s * s + k * k / F.lit(4.0)), 4)
    return cent.select(
        "event_type",
        "n_events",
        jb.alias("jb_stat"),
        F.lit(5.9915).alias("chi2_crit"),
        (jb < F.lit(5.9915)).alias("normal"),
    )


def window_drawdown(events: DataFrame) -> DataFrame:
    """Per-user running peak and drawdown over the reading stream --
    the risk readout every monitoring dashboard pairs with the raw
    series (how far below the best-so-far are we, and what is the
    worst dip so far): peak = running max, drawdown = peak - value,
    max_drawdown = running max of drawdown.

    All three run on exact BIGINT cents (running MAX of integers is
    segment-tree-safe -- only double SUMS split engines), so the two
    stacked windows share one (user_id) exchange and one sort, and
    the /100 conversions at the end are identical integer/double
    divisions on both engines.

    Emits (user_id, event_id, ts, value, peak, drawdown,
    max_drawdown).
    """
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.max(cents).over(w).alias("peak_c"),
        cents.alias("c"),
    ).withColumn("dd_c", F.col("peak_c") - F.col("c"))
    return staged.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (F.col("peak_c") / F.lit(100.0)).alias("peak"),
        (F.col("dd_c") / F.lit(100.0)).alias("drawdown"),
        (F.max("dd_c").over(w) / F.lit(100.0)).alias("max_drawdown"),
    )


def window_rsi(events: DataFrame, n: int = 14) -> DataFrame:
    """Per-user Relative Strength Index over the last ``n`` deltas --
    the bounded-oscillator companion of ``window_bollinger`` (bands
    flag level excursions, RSI flags one-sided momentum): RSI =
    100 * sum(gains) / (sum(gains) + sum(losses)) over the trailing
    ``n`` reading-to-reading changes (the simple-average Cutler form,
    exactly representable -- Wilder's recursive smoothing is not
    cross-engine-exact).

    Gains/losses are BIGINT cents off one lag, their rolling sums
    exact integers over one more window on the SAME (user, ts,
    event_id) sort (one exchange total); the single division rounds
    at 4. Flat windows (no movement) and warm-up rows (< n deltas)
    emit NULL.

    Emits (user_id, event_id, ts, value, rsi, n_deltas).
    """
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    delta = cents - F.lag(cents).over(w_ord)
    staged = events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        delta.alias("d"),
    )
    w_roll = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(n - 1), 0)
    )
    gains = F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(F.lit(0))).over(
        w_roll
    )
    losses = F.sum(
        F.when(F.col("d") < 0, -F.col("d")).otherwise(F.lit(0))
    ).over(w_roll)
    n_deltas = F.count("d").over(w_roll)
    rsi = F.when(
        (n_deltas >= n) & (gains + losses > 0),
        F.round(F.lit(100.0) * gains / (gains + losses), 4),
    )
    return staged.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        rsi.alias("rsi"),
        n_deltas.cast("int").alias("n_deltas"),
    )


def attribution_first_touch(events: DataFrame) -> DataFrame:
    """First-touch attribution -- the fourth and final member of the
    attribution family (last-touch recency, linear position-blind,
    U-shaped position-based, and this: full credit to the touch that
    STARTED the journey, the acquisition-channel view): each purchase
    credits the FIRST non-purchase touch since the user's previous
    purchase.

    Construction: the family's shared running-purchase-count segment
    window, then ``first(..., ignorenulls)`` over the (user, seg)
    order carried up to the purchase row (the purchase is its
    segment's last row, so the frame sees every touch). Zero joins,
    ONE user_id exchange serving both windows; no-prior-touch
    purchases keep NULL (the direct bucket), ties break by event_id
    on both engines.

    Emits (event_id, user_id, purchase_ts, attributed_type,
    attributed_ts).
    """
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = F.count(
        F.when(F.col("event_type") == "purchase", F.lit(1))
    ).over(w_prev)
    staged = events.select(
        "event_id", "user_id", "ts", "event_type", seg.alias("seg")
    )
    w_seg = (
        Window.partitionBy("user_id", "seg")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    np_type = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    np_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    return (
        staged.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.first(np_type, ignorenulls=True).over(w_seg).alias(
                "attributed_type"
            ),
            F.first(np_ts, ignorenulls=True).over(w_seg).alias(
                "attributed_ts"
            ),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "attributed_type",
            "attributed_ts",
        )
    )


# ------------------------------------------------------------- round 9
# Technical-indicator windows over the per-(user, day) close series.
# Shared substrate: _daily_candle() resamples each user's events to
# one row per active day with integer-cent OHLC fields (the exact
# arithmetic window_ohlc/window_twap established), so every indicator
# below is a bounded-frame window over a day-count-sized series --
# one (user_id) exchange, integer sufficient statistics, one double
# expression at the end.


def _daily_candle(events: DataFrame, with_volume: bool = False) -> DataFrame:
    """(user_id, day, high_c, low_c, close_c) integer-cent daily
    candle -- close pinned by the (ts, event_id) total order.
    ``with_volume=True`` adds ``n_ev`` (events that day) for the
    volume-weighted indicators (OBV, MFI) without touching the
    default plan the round-9 pins cover.

    Partitioned by user_id UP FRONT: hash(user_id) satisfies the
    clustered-distribution requirement of every downstream stage (the
    (user_id, day) close-rank window, the (user_id, day) aggregate,
    and the indicators' (user_id) frames -- the subset rule), so the
    whole resample + indicator pipeline runs on ONE exchange; left to
    EnsureRequirements, the alias mismatch between the window's
    date_trunc projection and the groupBy key inserts three
    (measured, pinned in tests/test_plan_shape.py)."""
    cents = F.floor(F.col("value") * 100).cast("long")
    wd = Window.partitionBy(
        "user_id", F.date_trunc("day", "ts")
    ).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    r = events.repartition(F.col("user_id")).select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        cents.alias("v_c"),
        F.row_number().over(wd).alias("r_close"),
    )
    aggs = [
        F.max("v_c").alias("high_c"),
        F.min("v_c").alias("low_c"),
        F.max(F.when(F.col("r_close") == 1, F.col("v_c"))).alias("close_c"),
    ]
    if with_volume:
        aggs.append(F.count("*").alias("n_ev"))
    return r.groupBy("user_id", "day").agg(*aggs)


def window_macd(
    events: DataFrame,
    fast_decay: float = 0.75,
    fast_span: int = 12,
    slow_decay: float = 0.875,
    slow_span: int = 18,
) -> DataFrame:
    """MACD momentum indicator over each user's daily close series:
    fast EWMA minus slow EWMA of the integer-cent closes (the
    classic crossover signal, here with the engine's exact-arithmetic
    EWMA construction).

    Both EWMAs use ``window_ewma``'s normalized bounded-frame form --
    decays 3/4 and 7/8 chosen so EVERY in-frame power (0.75^j, j<12;
    0.875^j, j<18 -- 7^17 < 2^53) is exactly representable in a
    double, making the weighted folds bit-identical across engines.
    One user-keyed exchange feeds both frames and the daily resample.

    Emits (user_id, day, close_c, ema_fast, ema_slow, macd).
    """

    def ewma_expr(col: str, decay: float, span: int) -> str:
        alpha = 1.0 - decay
        return (
            f"aggregate(zip_with({col}, sequence(size({col}) - 1, 0, -1),"
            f" (v, e) -> v * pow({decay!r}, e)), 0D, (acc, x) -> acc + x)"
            f" / ((1.0 - pow({decay!r}, size({col}))) / {alpha!r})"
        )

    candle = _daily_candle(events)
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(fast_span - 1), 0)
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(slow_span - 1), 0)
    )
    framed = candle.select(
        "user_id",
        "day",
        "close_c",
        F.collect_list(F.col("close_c").cast("double")).over(wf).alias("vf"),
        F.collect_list(F.col("close_c").cast("double")).over(ws).alias("vs"),
    )
    fast = F.expr(ewma_expr("vf", fast_decay, fast_span))
    slow = F.expr(ewma_expr("vs", slow_decay, slow_span))
    return framed.select(
        "user_id",
        "day",
        "close_c",
        F.round(fast / 100.0, 6).alias("ema_fast"),
        F.round(slow / 100.0, 6).alias("ema_slow"),
        F.round((fast - slow) / 100.0, 6).alias("macd"),
    )


def window_stochastic(
    events: DataFrame, k_window: int = 14
) -> DataFrame:
    """Stochastic oscillator (%K/%D) over each user's daily closes:
    where today's close sits inside the rolling 14-day high-low range
    (0 = at the low, 100 = at the high), %D the 3-day smoothing.

    The rolling extrema are exact integer cents, %K one integer-ratio
    double, and %D the FIXED three-term average (k + lag1 + lag2)/3
    -- no data-ordered double fold. Flat ranges (high == low) emit
    NULL on both engines.

    Emits (user_id, day, close_c, pct_k, pct_d).
    """
    candle = _daily_candle(events)
    wk = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(k_window - 1), 0)
    )
    ranged = candle.select(
        "user_id",
        "day",
        "close_c",
        F.min("low_c").over(wk).alias("mn"),
        F.max("high_c").over(wk).alias("mx"),
    )
    k = F.when(
        F.col("mx") > F.col("mn"),
        (F.col("close_c") - F.col("mn")).cast("double")
        * 100.0
        / (F.col("mx") - F.col("mn")),
    )
    wo = Window.partitionBy("user_id").orderBy("day")
    with_k = ranged.select(
        "user_id", "day", "close_c", k.alias("k_raw")
    ).select(
        "user_id",
        "day",
        "close_c",
        "k_raw",
        F.lag("k_raw", 1).over(wo).alias("k1"),
        F.lag("k_raw", 2).over(wo).alias("k2"),
    )
    return with_k.select(
        "user_id",
        "day",
        "close_c",
        F.round(F.col("k_raw"), 4).alias("pct_k"),
        F.round(
            (F.col("k_raw") + F.col("k1") + F.col("k2")) / 3.0, 4
        ).alias("pct_d"),
    )


def window_atr(events: DataFrame, atr_window: int = 14) -> DataFrame:
    """Average True Range volatility over each user's daily candles:
    TR = max(high-low, |high-prev_close|, |low-prev_close|) in exact
    integer cents (first day falls back to high-low), ATR its
    rolling 14-day mean -- the position-sizing volatility number.

    One user-keyed exchange shared by the candle resample, the
    prev-close lag, and the rolling mean; TR is integer throughout
    and ATR one integer-sum ratio.

    Emits (user_id, day, true_range_c, atr).
    """
    candle = _daily_candle(events)
    wo = Window.partitionBy("user_id").orderBy("day")
    pc = F.lag("close_c").over(wo)
    tr = F.when(pc.isNull(), F.col("high_c") - F.col("low_c")).otherwise(
        F.greatest(
            F.col("high_c") - F.col("low_c"),
            F.abs(F.col("high_c") - pc),
            F.abs(F.col("low_c") - pc),
        )
    )
    wa = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(atr_window - 1), 0)
    )
    with_tr = candle.select("user_id", "day", tr.alias("true_range_c"))
    return with_tr.select(
        "user_id",
        "day",
        F.col("true_range_c").cast("long").alias("true_range_c"),
        F.round(
            F.sum("true_range_c").over(wa)
            / F.count("*").over(wa).cast("double")
            / 100.0,
            6,
        ).alias("atr"),
    )


# ------------------------------------------------------------------
# round 9, batch 3: volume-aware technical indicators over the daily
# candle substrate. Same exactness discipline as MACD/ATR: integer
# cents everywhere, at most one double expression per output column,
# exact-decay EWMA weights (decay a dyadic rational so pow(decay, j)
# is exactly representable).
# ------------------------------------------------------------------


def window_obv(events: DataFrame) -> DataFrame:
    """On-balance volume over each user's daily candles: volume (that
    day's event count) accumulates positively when the close rises,
    negatively when it falls -- the classic is-volume-confirming-the-
    move indicator.

    Direction = sign(close - prev_close) on exact integer cents (0 on
    the first day and on flat closes); OBV the running integer sum.
    One user-keyed exchange shared by the candle resample, the lag,
    and the cumulative frame.

    Emits (user_id, day, direction, obv).
    """
    candle = _daily_candle(events, with_volume=True)
    wo = Window.partitionBy("user_id").orderBy("day")
    prev = F.lag("close_c").over(wo)
    direction = F.when(
        prev.isNull() | (F.col("close_c") == prev), F.lit(0)
    ).when(F.col("close_c") > prev, F.lit(1)).otherwise(F.lit(-1))
    signed = candle.select(
        "user_id",
        "day",
        direction.alias("direction"),
        (direction * F.col("n_ev")).alias("flow"),
    )
    wc = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return signed.select(
        "user_id",
        "day",
        F.col("direction").cast("int").alias("direction"),
        F.sum("flow").over(wc).cast("long").alias("obv"),
    )


def window_donchian(events: DataFrame, channel_days: int = 7) -> DataFrame:
    """Donchian channel over each user's daily candles: the rolling
    7-day high/low envelope plus where today's close sits inside it
    (0 = at the channel low, 1 = at the high; NULL on a flat
    channel) -- the breakout detector.

    Rolling extrema are exact integer cents over a rows-frame;
    channel position is ONE integer-ratio double.

    Emits (user_id, day, don_high_c, don_low_c, chan_pos).
    """
    candle = _daily_candle(events)
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(channel_days - 1), 0)
    )
    hi = F.max("high_c").over(wr)
    lo = F.min("low_c").over(wr)
    return candle.select(
        "user_id",
        "day",
        hi.cast("long").alias("don_high_c"),
        lo.cast("long").alias("don_low_c"),
        F.round(
            F.when(
                hi > lo,
                (F.col("close_c") - lo).cast("double")
                / (hi - lo).cast("double"),
            ),
            6,
        ).alias("chan_pos"),
    )


def window_mfi(events: DataFrame, mfi_window: int = 14) -> DataFrame:
    """Money Flow Index over each user's daily candles: volume-
    weighted RSI -- raw money flow = typical price x volume, split
    into positive/negative by the typical-price direction, MFI =
    100 * pos / (pos + neg) over the rolling 14 days.

    Typical price is kept as the INTEGER 3x-sum high+low+close (the
    /3 never happens: both the direction comparison and the flow
    ratio are invariant to the common factor), so raw flows are exact
    integer cent-units; flat days (tp == prev tp) and the first day
    count as neither. MFI is ONE integer-ratio double, NULL when the
    window has no directional flow.

    Emits (user_id, day, mfi).
    """
    candle = _daily_candle(events, with_volume=True)
    wo = Window.partitionBy("user_id").orderBy("day")
    tp3 = F.col("high_c") + F.col("low_c") + F.col("close_c")
    prev = F.lag(tp3).over(wo)
    flow = tp3 * F.col("n_ev")
    flows = candle.select(
        "user_id",
        "day",
        F.when(prev.isNotNull() & (tp3 > prev), flow)
        .otherwise(F.lit(0))
        .alias("pos_flow"),
        F.when(prev.isNotNull() & (tp3 < prev), flow)
        .otherwise(F.lit(0))
        .alias("neg_flow"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(mfi_window - 1), 0)
    )
    pos = F.sum("pos_flow").over(wr)
    neg = F.sum("neg_flow").over(wr)
    return flows.select(
        "user_id",
        "day",
        F.round(
            F.when(
                pos + neg > 0,
                F.lit(100.0) * pos.cast("double")
                / (pos + neg).cast("double"),
            ),
            4,
        ).alias("mfi"),
    )


def window_keltner(
    events: DataFrame,
    decay: float = 0.875,
    span: int = 18,
    atr_window: int = 10,
    mult: int = 2,
) -> DataFrame:
    """Keltner channel over each user's daily candles: an exact-decay
    EWMA of the close as the center line, banded at +/- 2 x ATR(10)
    -- MACD's trend line wearing ATR's volatility envelope, the
    squeeze/breakout indicator.

    Composition of the two existing exact kernels: the EWMA fold uses
    the dyadic decay 7/8 (pow(0.875, j) exactly representable, same
    argument as window_macd), ATR is an integer-cent true-range mean.
    breach = -1/0/+1 for close below/inside/above the band, decided
    on the same doubles both engines computed identically.

    Emits (user_id, day, center, upper, lower, breach).
    """
    candle = _daily_candle(events)
    wo = Window.partitionBy("user_id").orderBy("day")
    pc = F.lag("close_c").over(wo)
    tr = F.when(pc.isNull(), F.col("high_c") - F.col("low_c")).otherwise(
        F.greatest(
            F.col("high_c") - F.col("low_c"),
            F.abs(F.col("high_c") - pc),
            F.abs(F.col("low_c") - pc),
        )
    )
    we = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        -(span - 1), 0
    )
    wa = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        -(atr_window - 1), 0
    )
    alpha = 1.0 - decay
    ewma = (
        f"aggregate(zip_with(vc, sequence(size(vc) - 1, 0, -1),"
        f" (v, e) -> v * pow({decay!r}, e)), 0D, (acc, x) -> acc + x)"
        f" / ((1.0 - pow({decay!r}, size(vc))) / {alpha!r})"
    )
    framed = candle.select(
        "user_id",
        "day",
        "close_c",
        F.collect_list(F.col("close_c").cast("double")).over(we).alias("vc"),
        tr.alias("tr"),
    ).select(
        "user_id",
        "day",
        "close_c",
        F.expr(ewma).alias("center_c"),
        (
            F.sum("tr").over(wa).cast("double")
            / F.count("*").over(wa).cast("double")
        ).alias("atr_c"),
    )
    upper = F.col("center_c") + F.lit(float(mult)) * F.col("atr_c")
    lower = F.col("center_c") - F.lit(float(mult)) * F.col("atr_c")
    return framed.select(
        "user_id",
        "day",
        F.round(F.col("center_c") / 100.0, 6).alias("center"),
        F.round(upper / 100.0, 6).alias("upper"),
        F.round(lower / 100.0, 6).alias("lower"),
        F.when(F.col("close_c").cast("double") > upper, F.lit(1))
        .when(F.col("close_c").cast("double") < lower, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("breach"),
    )

def window_ulcer_index(events: DataFrame, ui_window: int = 14) -> DataFrame:
    """Ulcer index over each user's daily closes: the RMS of the
    rolling percentage drawdown -- window_drawdown's depth readout
    squared and averaged, so long shallow slumps and short deep
    crashes rank on the same pain scale (Martin's downside-risk
    alternative to ATR's direction-blind volatility).

    Per-day percentage drawdown (close vs running peak close, exact
    integer cents) is ONE double, rounded to integer micro-percent
    before squaring -- the 14-day mean-of-squares folds exact
    integers (max 1e16 per term, window-bounded), and UI is one
    trailing sqrt.

    Emits (user_id, day, dd_micro_pct, ulcer_index).
    """
    candle = _daily_candle(events)
    wo = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    peak = F.max("close_c").over(wo)
    dd = candle.select(
        "user_id",
        "day",
        F.round(
            (peak - F.col("close_c")).cast("double")
            / peak.cast("double")
            * F.lit(1e8)
        ).cast("long").alias("dd_micro_pct"),  # percent x 1e6
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(ui_window - 1), 0)
    )
    return dd.select(
        "user_id",
        "day",
        "dd_micro_pct",
        F.round(
            F.sqrt(
                F.sum(
                    F.col("dd_micro_pct") * F.col("dd_micro_pct")
                ).over(wr).cast("double")
                / F.count("*").over(wr).cast("double")
            )
            / F.lit(1e6),
            6,
        ).alias("ulcer_index"),
    )

def window_ichimoku(events: DataFrame) -> DataFrame:
    """Ichimoku cloud over each user's daily candles: conversion/base
    lines as rolling (high+low)/2 midpoints (9/26 days), the two
    senkou cloud spans displaced 26 days FORWARD (so today's row
    carries the cloud computed 26 days ago, as charted), and the
    chikou lagging close from 26 days ahead.

    Midpoints live on the half-integer-cent lattice: every extremum
    is an exact integer and each output column divides once in
    double. Displacement is exact row arithmetic (lag/lead over the
    day order), never calendar math.

    Emits (user_id, day, tenkan, kijun, senkou_a, senkou_b, chikou).
    """
    candle = _daily_candle(events)
    def mid2(days: int):
        wr = (
            Window.partitionBy("user_id")
            .orderBy("day")
            .rowsBetween(-(days - 1), 0)
        )
        return F.max("high_c").over(wr) + F.min("low_c").over(wr)
    t2 = mid2(9)
    k2 = mid2(26)
    sb2 = mid2(52)
    wo = Window.partitionBy("user_id").orderBy("day")
    mids = candle.select(
        "user_id",
        "day",
        "close_c",
        t2.alias("t2"),
        k2.alias("k2"),
        (t2 + k2).alias("sa4"),
        sb2.alias("sb2"),
    )
    return mids.select(
        "user_id",
        "day",
        F.round(F.col("t2").cast("double") / 200.0, 6).alias("tenkan"),
        F.round(F.col("k2").cast("double") / 200.0, 6).alias("kijun"),
        F.round(
            F.lag("sa4", 26).over(wo).cast("double") / 400.0, 6
        ).alias("senkou_a"),
        F.round(
            F.lag("sb2", 26).over(wo).cast("double") / 200.0, 6
        ).alias("senkou_b"),
        F.round(
            F.lead("close_c", 26).over(wo).cast("double") / 100.0, 6
        ).alias("chikou"),
    )

def window_zscore_rolling(
    events: DataFrame, z_window: int = 14
) -> DataFrame:
    """Rolling z-score of each user's daily close against its own
    trailing 14-day mean/std -- hourly_anomaly_zscore's cousin scoped
    to the price series (the mean-reversion / anomaly trigger that
    Bollinger %b expresses in band units).

    Mean and variance are assembled from exact integer-cent window
    sums (n*ssq - s^2 at n^2 scale); z is ONE double expression, NULL
    on flat windows and on the first day (n == 1).

    Emits (user_id, day, close_c, zscore).
    """
    candle = _daily_candle(events)
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(z_window - 1), 0)
    )
    n = F.count("*").over(wr)
    s = F.sum("close_c").over(wr)
    ssq = F.sum(F.col("close_c") * F.col("close_c")).over(wr)
    var_n2 = n * ssq - s * s
    z = (
        (n * F.col("close_c") - s).cast("double")
        / F.sqrt(
            (var_n2 * n).cast("double") / (n - 1).cast("double")
        )
    )
    return candle.select(
        "user_id",
        "day",
        F.col("close_c").cast("long").alias("close_c"),
        F.round(
            F.when((n >= 2) & (var_n2 > 0), z),
            4,
        ).alias("zscore"),
    )


def window_vwap_bands(events: DataFrame, n: int = 14, k: int = 2) -> DataFrame:
    """Per-user rolling VWAP bands over the daily candle stream: the
    volume-weighted rolling mean of the integer-cent daily closes
    (volume = events that day) with a +/- ``k`` sigma envelope -- the
    volume-aware sibling of ``window_bollinger`` (a heavy-volume day
    pulls the center toward its close; Bollinger weighs all days
    equally) and the banded upgrade of ``window_twap``.

    Exactness: all rolling moments are BIGINT sums over the
    ``_daily_candle(with_volume=True)`` integers -- sum(close*vol),
    sum(vol), sum(close), sum(close^2) -- so the per-row VWAP and
    sigma come out of exact integers with one double expression each,
    and band values round at INTEGER 1e-4-dollar scale (the
    window_bollinger boundary rule).

    Plan: the candle's single user_id exchange satisfies the rolling
    frames (subset rule); nothing after the daily resample scales
    with raw events.

    Emits (user_id, day, close, vwap, upper, lower, n_window).
    """
    candle = _daily_candle(events, with_volume=True)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(n - 1), 0)
    )
    base = candle.select(
        "user_id",
        "day",
        F.col("close_c"),
        F.count("*").over(w).alias("n_window"),
        F.sum(F.col("close_c") * F.col("n_ev")).over(w).alias("pv"),
        F.sum("n_ev").over(w).alias("vol"),
        F.sum("close_c").over(w).alias("s"),
        F.sum(F.col("close_c") * F.col("close_c")).over(w).alias("ssq"),
    )
    nn = F.col("n_window")
    var_c = (
        (nn * F.col("ssq") - F.col("s") * F.col("s")).cast("double")
        / (nn * (nn - 1))
    )
    sd_c = F.sqrt(F.greatest(var_c, F.lit(0.0)))
    vwap4 = F.col("pv").cast("double") * F.lit(100.0) / F.col("vol")
    spread4 = F.lit(100.0 * k) * sd_c
    full = nn >= n
    return base.select(
        "user_id",
        "day",
        (F.col("close_c").cast("double") / F.lit(100.0)).alias("close"),
        F.when(full, F.round(vwap4).cast("long") / F.lit(1e4)).alias("vwap"),
        F.when(
            full, F.round(vwap4 + spread4).cast("long") / F.lit(1e4)
        ).alias("upper"),
        F.when(
            full, F.round(vwap4 - spread4).cast("long") / F.lit(1e4)
        ).alias("lower"),
        nn.cast("long").alias("n_window"),
    )


def window_pivot_points(events: DataFrame) -> DataFrame:
    """Classic floor-trader pivot levels off each user's PREVIOUS
    daily candle: P = (H+L+C)/3 with first resistance/support
    R1 = 2P - L, S1 = 2P - H and the second band R2 = P + (H-L),
    S2 = P - (H-L) -- the day-ahead reference grid every OHLC
    consumer derives, here from the engine's exact-integer candle.

    Exactness: every level rides as an integer numerator at 3x cent
    scale (p_x3 = H+L+C and friends -- /3 never executes on either
    engine until the single final double), and the breach flag
    compares 3*close against those integers exactly.

    Plan: the candle's one user_id exchange plus a lag window on the
    same key -- nothing beyond the daily resample scales with raw
    events.

    Emits (user_id, day, close, pivot, r1, s1, r2, s2, breach)
    (breach 1 above R1, -1 below S1, else 0; NULL first day).
    """
    candle = _daily_candle(events)
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = candle.select(
        "user_id",
        "day",
        "close_c",
        F.lag("high_c").over(w).alias("ph"),
        F.lag("low_c").over(w).alias("pl"),
        F.lag("close_c").over(w).alias("pc"),
    )
    p3 = F.col("ph") + F.col("pl") + F.col("pc")
    r1_3 = 2 * p3 - 3 * F.col("pl")
    s1_3 = 2 * p3 - 3 * F.col("ph")
    r2_3 = p3 + 3 * (F.col("ph") - F.col("pl"))
    s2_3 = p3 - 3 * (F.col("ph") - F.col("pl"))

    def dollars(x3):
        return F.round(x3.cast("double") / F.lit(300.0), 4)

    return lagged.select(
        "user_id",
        "day",
        (F.col("close_c").cast("double") / F.lit(100.0)).alias("close"),
        dollars(p3).alias("pivot"),
        dollars(r1_3).alias("r1"),
        dollars(s1_3).alias("s1"),
        dollars(r2_3).alias("r2"),
        dollars(s2_3).alias("s2"),
        F.when(F.col("ph").isNull(), F.lit(None).cast("int"))
        .when((3 * F.col("close_c")) > r1_3, F.lit(1))
        .when((3 * F.col("close_c")) < s1_3, F.lit(-1))
        .otherwise(F.lit(0))
        .alias("breach"),
    )


def window_williams_r(events: DataFrame, r_window: int = 14) -> DataFrame:
    """Williams %R over each user's daily closes: where today's close
    sits below the rolling 14-day high (0 = at the high, -100 = at
    the low) -- the stochastic oscillator's inverted twin, kept as
    its own indicator because chartists read the two against
    different trigger bands.

    Rolling extrema are exact integer cents; %R is ONE integer-ratio
    double rounded at INTEGER 1e-4 scale (the only .5-boundary rule
    both engines share -- round(x, 4) on a ratio splits them), NULL
    on a flat range (high == low) on both engines.

    Emits (user_id, day, close_c, pct_r).
    """
    candle = _daily_candle(events)
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(r_window - 1), 0)
    )
    hi = F.max("high_c").over(wr)
    lo = F.min("low_c").over(wr)
    return candle.select(
        "user_id",
        "day",
        "close_c",
        (
            F.round(
                F.when(
                    hi > lo,
                    (hi - F.col("close_c")).cast("double")
                    * F.lit(-100.0)
                    / (hi - lo).cast("double"),
                )
                * F.lit(1e4)
            ).cast("long")
            / F.lit(1e4)
        ).alias("pct_r"),
    )


def window_aroon(events: DataFrame, aroon_window: int = 14) -> DataFrame:
    """Aroon up/down over each user's daily candles: how recently the
    rolling 14-row high (resp. low) printed, scaled to [0, 100] --
    the trend-freshness indicator (100 = the extreme is today,
    0 = it is a full window ago).

    Row positions come from a per-user row_number; the position OF
    the rolling extreme is the max/min of an integer struct over the
    rows frame -- (high_c, rn) lexicographic max resolves a tied high
    to its LATEST row on both engines (and (low_c, -rn) min does the
    same for lows), so the tie rule is pinned by construction, not by
    engine quirks. Everything is integer until the two final
    100*k/(w-1) ratios.

    Emits (user_id, day, aroon_up, aroon_down).
    """
    candle = _daily_candle(events)
    wo = Window.partitionBy("user_id").orderBy("day")
    wr = wo.rowsBetween(-(aroon_window - 1), 0)
    rn = F.row_number().over(wo)
    based = candle.select("user_id", "day", "high_c", "low_c", rn.alias("rn"))
    hi_rn = F.max(F.struct("high_c", "rn")).over(
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(aroon_window - 1), 0)
    )["rn"]
    lo_rn = F.min(
        F.struct("low_c", (-F.col("rn")).alias("nrn"))
    ).over(
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(aroon_window - 1), 0)
    )["nrn"]
    w1 = aroon_window - 1
    return based.select(
        "user_id",
        "day",
        (
            F.round(
                (F.lit(w1) - (F.col("rn") - hi_rn)).cast("double")
                * F.lit(100.0) / F.lit(float(w1)) * F.lit(1e4)
            ).cast("long")
            / F.lit(1e4)
        ).alias("aroon_up"),
        (
            F.round(
                (F.lit(w1) - (F.col("rn") + lo_rn)).cast("double")
                * F.lit(100.0) / F.lit(float(w1)) * F.lit(1e4)
            ).cast("long")
            / F.lit(1e4)
        ).alias("aroon_down"),
    )


def window_vortex(events: DataFrame, vi_window: int = 14) -> DataFrame:
    """Vortex indicator (VI+/VI-) over each user's daily candles:
    rolling ratio of upward vortex movement |high - prev_low| (resp.
    downward |low - prev_high|) to true range -- the trend-reversal
    detector built, like ATR, on integer-cent range arithmetic.

    VM+/VM-/TR are exact integer cents per day (first day of a user
    contributes nothing on both engines); the two VI ratios are one
    integer-ratio double each, NULL while the rolling TR is zero.

    Emits (user_id, day, vi_plus, vi_minus).
    """
    candle = _daily_candle(events)
    wo = Window.partitionBy("user_id").orderBy("day")
    ph = F.lag("high_c").over(wo)
    pl = F.lag("low_c").over(wo)
    pc = F.lag("close_c").over(wo)
    tr = F.greatest(
        F.col("high_c") - F.col("low_c"),
        F.abs(F.col("high_c") - pc),
        F.abs(F.col("low_c") - pc),
    )
    terms = candle.select(
        "user_id",
        "day",
        F.when(ph.isNotNull(), F.abs(F.col("high_c") - pl))
        .otherwise(F.lit(0))
        .alias("vm_p"),
        F.when(ph.isNotNull(), F.abs(F.col("low_c") - ph))
        .otherwise(F.lit(0))
        .alias("vm_m"),
        F.when(ph.isNotNull(), tr).otherwise(F.lit(0)).alias("tr"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(vi_window - 1), 0)
    )
    s_tr = F.sum("tr").over(wr)
    return terms.select(
        "user_id",
        "day",
        (
            F.round(
                F.when(
                    s_tr > 0,
                    F.sum("vm_p").over(wr).cast("double")
                    / s_tr.cast("double"),
                )
                * F.lit(1e4)
            ).cast("long")
            / F.lit(1e4)
        ).alias("vi_plus"),
        (
            F.round(
                F.when(
                    s_tr > 0,
                    F.sum("vm_m").over(wr).cast("double")
                    / s_tr.cast("double"),
                )
                * F.lit(1e4)
            ).cast("long")
            / F.lit(1e4)
        ).alias("vi_minus"),
    )


def window_chande_momentum(
    events: DataFrame, cmo_window: int = 14
) -> DataFrame:
    """Chande momentum oscillator over each user's daily closes:
    100 * (gains - losses) / (gains + losses) over the rolling 14
    days -- RSI's unsmoothed, symmetric [-100, 100] cousin (kept
    distinct from window_rsi: no Wilder smoothing, so the statistic
    is a pure integer ratio).

    Daily close deltas are exact integer cents (a user's first day
    contributes nothing); gains/losses are rolling integer sums; the
    oscillator is ONE integer-ratio double, NULL while the window has
    no movement.

    Emits (user_id, day, close_c, cmo).
    """
    candle = _daily_candle(events)
    wo = Window.partitionBy("user_id").orderBy("day")
    d = F.col("close_c") - F.lag("close_c").over(wo)
    deltas = candle.select(
        "user_id",
        "day",
        "close_c",
        F.when(d > 0, d).otherwise(F.lit(0)).alias("gain"),
        F.when(d < 0, -d).otherwise(F.lit(0)).alias("loss"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(cmo_window - 1), 0)
    )
    g = F.sum("gain").over(wr)
    ls = F.sum("loss").over(wr)
    return deltas.select(
        "user_id",
        "day",
        "close_c",
        (
            F.round(
                F.when(
                    (g + ls) > 0,
                    (g - ls).cast("double") * F.lit(100.0)
                    / (g + ls).cast("double"),
                )
                * F.lit(1e4)
            ).cast("long")
            / F.lit(1e4)
        ).alias("cmo"),
    )


def window_force_index(
    events: DataFrame, fi_window: int = 13
) -> DataFrame:
    """Elder's force index over each user's daily candles: close
    delta x volume (events that day), smoothed as the rolling 13-day
    mean -- the buying/selling-pressure gauge that weights a move by
    how much traffic drove it.

    Raw force is an exact integer (cent delta x event count; a
    user's first day contributes nothing on both engines -- it has no
    delta, so it is excluded from the window count too); the smoothed
    index divides the rolling integer sum by the rolling count of
    FORCE-BEARING days, one integer-ratio double.

    Emits (user_id, day, force_13).
    """
    candle = _daily_candle(events, with_volume=True)
    wo = Window.partitionBy("user_id").orderBy("day")
    d = F.col("close_c") - F.lag("close_c").over(wo)
    raw = candle.select(
        "user_id", "day", (d * F.col("n_ev")).alias("force")
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(fi_window - 1), 0)
    )
    return raw.select(
        "user_id",
        "day",
        (
            F.round(
                F.sum("force").over(wr).cast("double")
                / F.count("force").over(wr).cast("double")
                * F.lit(1e4)
            ).cast("long")
            / F.lit(1e4)
        ).alias("force_13"),
    )


def allen_relation_profile(events: DataFrame) -> DataFrame:
    """Allen's interval-algebra profile of per-day event-type activity
    windows: for every day and every ordered type pair (type_a <
    type_b), classify the two types' [first event, last event]
    intervals into one of Allen's 13 relations, then count days per
    (pair, relation) -- the qualitative does-checkout-activity-nest-
    inside-browse-activity readout, and the standard vocabulary for
    temporal-reasoning audits.

    The interval table is bounded by days x type alphabet; the pair
    join is alphabet-squared per day (at most ~25 rows/day whatever
    the corpus). Classification is pure integer timestamp
    comparisons, written as the SAME ordered CASE chain on both
    engines (equals first, then the point relations, then the
    containment/overlap ones -- the chain order IS the tie rule).

    Emits (type_a, type_b, relation, n_days).
    """
    iv = events.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    a, b = iv.alias("a"), iv.alias("b")
    sa, ea = F.col("a.s"), F.col("a.e")
    sb, eb = F.col("b.s"), F.col("b.e")
    rel = (
        F.when((sa == sb) & (ea == eb), "equals")
        .when(ea < sb, "before")
        .when(eb < sa, "after")
        .when(ea == sb, "meets")
        .when(eb == sa, "met_by")
        .when((sa == sb) & (ea < eb), "starts")
        .when((sa == sb) & (ea > eb), "started_by")
        .when((ea == eb) & (sa > sb), "finishes")
        .when((ea == eb) & (sa < sb), "finished_by")
        .when((sa > sb) & (ea < eb), "during")
        .when((sa < sb) & (ea > eb), "contains")
        .when((sa < sb) & (ea > sb) & (ea < eb), "overlaps")
        .otherwise("overlapped_by")
    )
    return (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            rel.alias("relation"),
        )
        .groupBy("type_a", "type_b", "relation")
        .agg(F.count("*").alias("n_days"))
    )


def sax_weekly_words(events: DataFrame) -> DataFrame:
    """SAX symbolization of the daily event-count series, one word
    per ISO week: z-normalize the daily counts globally, cut at the
    standard-normal quartile breakpoints (-0.6745, 0, 0.6745) into
    the 4-letter alphabet a-d, and concatenate each week's symbols in
    day order -- the Lin/Keogh symbolic series representation that
    turns motif/anomaly search over a numeric series into string
    matching.

    Daily counts and the (S, sum x²) moments are exact integers; the
    z-scores are one double chain at unit scale identical on both
    engines, and a z landing exactly ON an irrational breakpoint is
    measure-zero. Word assembly is an ordered day-sequence fold
    (array_join over the sorted (day, symbol) structs), deterministic
    by the day key.

    Emits (week, n_days, sax_word).
    """
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("x"))
    mom = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("double") * F.col("x").cast("double")).alias(
            "sxx"
        ),
    )
    j = daily.crossJoin(F.broadcast(mom))
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    mu = s / n
    sd = F.sqrt((F.col("sxx") - s * s / n) / n)
    z = (F.col("x").cast("double") - mu) / sd
    sym = (
        F.when(z < F.lit(-0.6745), "a")
        .when(z < F.lit(0.0), "b")
        .when(z < F.lit(0.6745), "c")
        .otherwise("d")
    )
    tagged = j.filter(F.col("sxx") * n > s * s).select(
        F.date_trunc("week", "day").alias("week"),
        F.col("day"),
        sym.alias("sym"),
    )
    return (
        tagged.groupBy("week")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("day", "sym"))
                    ),
                    lambda st: st["sym"],
                ),
                "",
            ).alias("sax_word"),
        )
    )


def window_trix(
    events: DataFrame, decay: float = 0.75, span: int = 12
) -> DataFrame:
    """TRIX momentum indicator over each user's daily closes: the
    1-period rate of change of a TRIPLE-smoothed EWMA -- the classic
    noise-immune momentum gauge (three smoothing passes kill
    everything but the persistent trend; the rate of change turns it
    into an oscillator around zero).

    Each smoothing stage is ``window_ewma``'s normalized
    bounded-frame form (decay 3/4, 12-lag frame -- every in-frame
    power exactly representable in a double), stacked three times:
    stage k collects stage k-1's values over the same user-ordered
    frame and folds them IN FRAME ORDER on both engines, so e1/e2/e3
    are bit-identical doubles cross-engine (the macd precedent,
    chained). The final rate of change is one ratio rounded at
    INTEGER 1e-6 scale, NULL on a user's first day.

    One user_id exchange feeds the candle and all three stages.

    Emits (user_id, day, trix).
    """
    alpha = 1.0 - decay

    def fold(col: str) -> str:
        return (
            f"aggregate(zip_with({col}, sequence(size({col}) - 1, 0, -1),"
            f" (v, e) -> v * pow({decay!r}, e)), 0D, (acc, x) -> acc + x)"
            f" / ((1.0 - pow({decay!r}, size({col}))) / {alpha!r})"
        )

    candle = _daily_candle(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(span - 1), 0)
    )
    s1 = candle.select(
        "user_id",
        "day",
        F.collect_list(F.col("close_c").cast("double")).over(w).alias("v0"),
    ).select("user_id", "day", F.expr(fold("v0")).alias("e1"))
    s2 = s1.select(
        "user_id", "day", F.collect_list("e1").over(w).alias("v1")
    ).select("user_id", "day", F.expr(fold("v1")).alias("e2"))
    s3 = s2.select(
        "user_id", "day", F.collect_list("e2").over(w).alias("v2")
    ).select("user_id", "day", F.expr(fold("v2")).alias("e3"))
    wo = Window.partitionBy("user_id").orderBy("day")
    prev = F.lag("e3").over(wo)
    return s3.select(
        "user_id",
        "day",
        (
            F.round((F.col("e3") - prev) / prev * F.lit(1e6)).cast("long")
            / F.lit(1e6)
        ).alias("trix"),
    )


def window_hull_ma(events: DataFrame, span: int = 12) -> DataFrame:
    """Hull moving average over each user's daily closes: WMA over
    sqrt(n) lags of (2*WMA(n/2) - WMA(n)) -- the low-lag smoother
    (ordinary MAs trail the series; Hull's difference construction
    cancels most of the lag while keeping the smoothing).

    The two inner WMAs use INTEGER linear weights over integer cents
    (numerators exact, denominator the constant triangular number),
    their 2a-b combination is QUANTIZED to an exact 1e-4-cent integer
    before the outer pass (a double intermediate would make the outer
    weighted fold order-sensitive cross-engine -- the window_cusum
    segment-tree lesson), and the outer 3-lag WMA is again an exact
    integer fold. One user_id exchange feeds the candle and all
    three window passes.

    Emits (user_id, day, hma).
    """
    candle = _daily_candle(events)
    half = span // 2
    sq = max(2, int(span ** 0.5))
    w_half = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(half - 1), 0)
    )
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(span - 1), 0)
    )
    w_out = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(sq - 1), 0)
    )

    def wma_expr(col: str) -> str:
        return (
            f"aggregate(zip_with({col}, sequence(1, size({col})),"
            f" (v, j) -> v * j), 0D, (acc, x) -> acc + x)"
            f" / (size({col}) * (size({col}) + 1) / 2.0)"
        )

    staged = candle.select(
        "user_id",
        "day",
        F.collect_list(F.col("close_c").cast("double"))
        .over(w_half)
        .alias("vh"),
        F.collect_list(F.col("close_c").cast("double"))
        .over(w_full)
        .alias("vf"),
    ).select(
        "user_id",
        "day",
        # 2*WMA(half) - WMA(full), quantized to exact 1e-4-cent ints
        F.round(
            (
                F.lit(2.0) * F.expr(wma_expr("vh"))
                - F.expr(wma_expr("vf"))
            )
            * F.lit(1e4)
        )
        .cast("long")
        .alias("d4"),
    )
    out = staged.select(
        "user_id",
        "day",
        F.collect_list(F.col("d4").cast("double")).over(w_out).alias("vo"),
    )
    # the outer WMA lives in 1e-4-cent = 1e-6-dollar units; rounding
    # at integer scale and dividing by 1e6 emits dollars at 1e-6 grain
    return out.select(
        "user_id",
        "day",
        (
            F.round(F.expr(wma_expr("vo"))).cast("long") / F.lit(1e6)
        ).alias("hma"),
    )


def window_dpo(events: DataFrame, span: int = 14) -> DataFrame:
    """Detrended price oscillator over each user's daily closes:
    close minus the (span/2 + 1)-days-ago SMA(span) -- the cycle
    isolator (subtracting the DISPLACED moving average removes the
    trend component, leaving the oscillation the other indicators
    ride on top of).

    The SMA is an exact integer-cent rolling sum over a rows frame
    divided at INTEGER 1e-4 scale; the displacement is one lag of
    that quantized value, so dpo = close - displaced_sma is exact on
    the 1e-4-cent lattice on both engines. A user's first
    (span/2 + 1) days carry no displaced average and emit NULL.

    Emits (user_id, day, close_c, dpo).
    """
    candle = _daily_candle(events)
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(span - 1), 0)
    )
    wo = Window.partitionBy("user_id").orderBy("day")
    shift = span // 2 + 1
    sma4 = F.round(
        F.sum("close_c").over(wr) * F.lit(1e4)
        / F.count("close_c").over(wr).cast("double")
    ).cast("long")
    staged = candle.select(
        "user_id", "day", "close_c", sma4.alias("sma4")
    )
    disp = F.lag("sma4", shift).over(wo)
    return staged.select(
        "user_id",
        "day",
        "close_c",
        (
            (F.col("close_c") * F.lit(10000) - disp).cast("double")
            / F.lit(1e4)
        ).alias("dpo"),
    )


def window_elder_ray(
    events: DataFrame, decay: float = 0.875, span: int = 18
) -> DataFrame:
    """Elder-Ray index over each user's daily candles: bull power =
    high - EMA(close), bear power = low - EMA(close) -- how far the
    day's extremes stretch above/below the trend line (bulls able to
    push price over the average; bears able to drag it under). The
    crossover companion to ``window_keltner``'s band view, read as a
    pair of signed distances instead of a breach flag.

    The EMA is the exact-decay bounded-frame fold (dyadic decay 7/8:
    every in-frame power representable, the window_macd argument), so
    the center line is bit-identical cross-engine; the two powers are
    integer cents minus that double, rounded at 1e-6 dollars.

    Emits (user_id, day, bull_power, bear_power).
    """
    candle = _daily_candle(events)
    we = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        -(span - 1), 0
    )
    alpha = 1.0 - decay
    ewma = (
        f"aggregate(zip_with(vc, sequence(size(vc) - 1, 0, -1),"
        f" (v, e) -> v * pow({decay!r}, e)), 0D, (acc, x) -> acc + x)"
        f" / ((1.0 - pow({decay!r}, size(vc))) / {alpha!r})"
    )
    framed = candle.select(
        "user_id",
        "day",
        "high_c",
        "low_c",
        F.collect_list(F.col("close_c").cast("double")).over(we).alias("vc"),
    ).select(
        "user_id", "day", "high_c", "low_c", F.expr(ewma).alias("ema_c")
    )
    return framed.select(
        "user_id",
        "day",
        F.round(
            (F.col("high_c").cast("double") - F.col("ema_c")) / 100.0, 6
        ).alias("bull_power"),
        F.round(
            (F.col("low_c").cast("double") - F.col("ema_c")) / 100.0, 6
        ).alias("bear_power"),
    )


def window_cmf(events: DataFrame, cmf_window: int = 20) -> DataFrame:
    """Chaikin Money Flow over each user's daily candles: the rolling
    20-day ratio of money-flow volume to volume, where each day's
    money-flow multiplier ((close-low)-(high-close))/(high-low)
    locates the close inside the day's range -- the accumulation/
    distribution readout next to ``window_mfi``'s direction-split
    view.

    Exactness: the multiplier is one integer ratio ((2c-h-l)/(h-l),
    exact cents), but its product with volume is fractional -- so
    each day's money-flow volume is QUANTIZED to an exact 1e-6
    integer BEFORE the rolling sum (DuckDB windows sum via segment
    tree: a double frame-sum is fold-order-dependent cross-engine --
    the window_cusum lesson). Flat days (high == low) contribute
    zero flow but full volume, the standard convention. CMF is one
    integer-ratio double, 4 decimals.

    Emits (user_id, day, cmf).
    """
    candle = _daily_candle(events, with_volume=True)
    num = 2 * F.col("close_c") - F.col("high_c") - F.col("low_c")
    rng = F.col("high_c") - F.col("low_c")
    mfv6 = F.when(rng > 0, F.round(
        num.cast("double") * F.col("n_ev").cast("double") * F.lit(1e6)
        / rng.cast("double")
    ).cast("long")).otherwise(F.lit(0).cast("long"))
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(cmf_window - 1), 0)
    )
    staged = candle.select(
        "user_id", "day", mfv6.alias("mfv6"), F.col("n_ev")
    )
    return staged.select(
        "user_id",
        "day",
        F.round(
            F.sum("mfv6").over(wr).cast("double")
            / (F.lit(1e6) * F.sum("n_ev").over(wr).cast("double")),
            4,
        ).alias("cmf"),
    )


def window_coppock(
    events: DataFrame, roc_long: int = 14, roc_short: int = 11, wma: int = 10
) -> DataFrame:
    """Coppock curve over each user's daily closes: the 10-day
    linear-weighted moving average of ROC(14) + ROC(11) -- the
    long-horizon momentum bottom-finder (designed for monthly bars;
    here on the daily resample, same construction).

    Exactness: each ROC is one integer-cent ratio (exact doubles on
    both engines); their sum is QUANTIZED to an exact 1e-8 integer
    before the weighted fold, and the WMA is then an integer
    weighted sum over the frame (weights 1..10, triangular-number
    denominator) -- the window_hull_ma discipline. Days without a
    full ROC lookback are dropped BEFORE the weighted frame (a NULL
    inside a collect_list frame silently compacts on Spark but not
    in a SQL list aggregate -- filtering first keeps both engines on
    the identical value sequence).

    Emits (user_id, day, coppock).
    """
    candle = _daily_candle(events)
    wo = Window.partitionBy("user_id").orderBy("day")
    cl = F.col("close_c").cast("double")
    # a zero lookback close has no defined rate of change -- guard it
    # like a missing lookback (ANSI division errors on 0; NULL drops
    # below), zero-valued daily closes exist in the fixture
    roc = lambda k: F.when(  # noqa: E731
        F.lag("close_c", k).over(wo) > 0,
        (cl - F.lag("close_c", k).over(wo).cast("double"))
        / F.lag("close_c", k).over(wo).cast("double"),
    )
    r8 = F.round((roc(roc_long) + roc(roc_short)) * F.lit(1e8)).cast(
        "long"
    )
    staged = candle.select("user_id", "day", r8.alias("r8")).filter(
        F.col("r8").isNotNull()
    )
    ww = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(wma - 1), 0)
    )
    wsum = (
        f"aggregate(zip_with(vr, sequence(1, size(vr)),"
        f" (v, j) -> v * j), 0D, (acc, x) -> acc + x)"
    )
    framed = staged.select(
        "user_id",
        "day",
        F.collect_list(F.col("r8").cast("double")).over(ww).alias("vr"),
        F.count("r8").over(ww).alias("nw"),
    )
    tri = F.col("nw") * (F.col("nw") + 1) / 2
    return framed.select(
        "user_id",
        "day",
        F.round(
            F.expr(wsum) / (tri.cast("double") * F.lit(1e8)), 6
        ).alias("coppock"),
    )


def window_mass_index(
    events: DataFrame,
    decay: float = 0.875,
    span: int = 18,
    mass_window: int = 25,
) -> DataFrame:
    """Mass index over each user's daily candles: the rolling 25-day
    sum of EMA(range) / EMA(EMA(range)) -- the reversal-bulge
    detector (the ratio swells when the daily range widens faster
    than its own smoothed trend, regardless of direction).

    Exactness, in three stages: (1) the inner EMA folds INTEGER cent
    ranges with the exact dyadic decay 7/8 (every in-frame power
    representable -- the window_macd argument), producing identical
    doubles on both engines; (2) the outer EMA folds THOSE doubles in
    the same frame order, so it is identical too; (3) the ratio is
    QUANTIZED to an exact 1e-8 integer before the 25-day frame sum
    (segment-tree fold-order lesson). Days whose double-smoothed
    range is still zero (a user's opening run of flat candles) carry
    ratio 0 by convention.

    Emits (user_id, day, mass_index).
    """
    candle = _daily_candle(events)
    we = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        -(span - 1), 0
    )
    alpha = 1.0 - decay

    def ewma(col: str) -> str:
        return (
            f"aggregate(zip_with({col}, sequence(size({col}) - 1, 0, -1),"
            f" (v, e) -> v * pow({decay!r}, e)), 0D, (acc, x) -> acc + x)"
            f" / ((1.0 - pow({decay!r}, size({col}))) / {alpha!r})"
        )

    s1 = candle.select(
        "user_id",
        "day",
        F.collect_list(
            (F.col("high_c") - F.col("low_c")).cast("double")
        )
        .over(we)
        .alias("vc"),
    ).select("user_id", "day", F.expr(ewma("vc")).alias("e1"))
    s2 = s1.select(
        "user_id",
        "day",
        "e1",
        F.collect_list("e1").over(we).alias("ve"),
    ).select(
        "user_id",
        "day",
        "e1",
        F.expr(ewma("ve")).alias("e2"),
    )
    r8 = F.when(
        F.col("e2") > 0,
        F.round(F.col("e1") * F.lit(1e8) / F.col("e2")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    wm = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(mass_window - 1), 0)
    )
    # the frame sum of exact r8 integers divides ONCE by 1e8 -- no
    # closing round: the sum lands exactly on 6-decimal grid points
    # (it is an integer /1e8), where Spark's and DuckDB's round(x, 6)
    # can disagree by one ulp of representation (measured at sf0.01)
    return s2.select("user_id", "day", r8.alias("r8")).select(
        "user_id",
        "day",
        (F.sum("r8").over(wm).cast("double") / F.lit(1e8)).alias(
            "mass_index"
        ),
    )


def window_choppiness(events: DataFrame, chop_window: int = 14) -> DataFrame:
    """Choppiness index over each user's daily candles: 100 *
    log10(sum of true ranges / total range) / log10(n) over the
    rolling window -- the trending-vs-sideways regime detector (near
    100 = churn inside a band, near 0 = one directed move). The
    regime gate a signal pipeline consults BEFORE trusting a
    trend-following indicator like MACD.

    Exactness: true ranges and the window's high/low envelope are
    exact integer cents (window_atr's integers, window_donchian's
    extrema); both log10 arguments are integer ratios, so the two
    logarithms see identical doubles and the output is one rounded
    expression. Flat windows (envelope 0) and single-day windows
    (log10(1) = 0) emit NULL.

    Emits (user_id, day, chop).
    """
    candle = _daily_candle(events)
    wo = Window.partitionBy("user_id").orderBy("day")
    prev_c = F.lag("close_c").over(wo)
    tr = F.when(
        prev_c.isNull(), F.col("high_c") - F.col("low_c")
    ).otherwise(
        F.greatest(
            F.col("high_c") - F.col("low_c"),
            F.abs(F.col("high_c") - prev_c),
            F.abs(F.col("low_c") - prev_c),
        )
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(chop_window - 1), 0)
    )
    staged = candle.select(
        "user_id", "day", tr.alias("tr"), "high_c", "low_c"
    ).select(
        "user_id",
        "day",
        F.sum("tr").over(wr).alias("trs"),
        (F.max("high_c").over(wr) - F.min("low_c").over(wr)).alias("rng"),
        F.count("*").over(wr).alias("nw"),
    )
    chop = (
        F.lit(100.0)
        * F.log10(F.col("trs").cast("double") / F.col("rng").cast("double"))
        / F.log10(F.col("nw").cast("double"))
    )
    return staged.select(
        "user_id",
        "day",
        F.when((F.col("rng") > 0) & (F.col("nw") > 1), F.round(chop, 6))
        .alias("chop"),
    )


def window_ultimate_oscillator(
    events: DataFrame, w1: int = 7, w2: int = 14, w3: int = 28
) -> DataFrame:
    """Ultimate Oscillator over each user's daily candles: buying
    pressure / true range averaged over THREE nested horizons (7, 14,
    28 days), weighted 4:2:1 -- the multi-timeframe momentum gauge
    built to avoid the single-window whipsaw every plain oscillator
    suffers.

    Exactness: buying pressure (close - min(low, prev close)) and
    true range are exact integer cents; each horizon's ratio is one
    integer-ratio double; the weighted blend and the final x100 are
    one expression in the same op order on both engines, rounded 4.
    Windows whose true-range sum is zero emit NULL.

    Emits (user_id, day, ultimate_osc).
    """
    candle = _daily_candle(events)
    wo = Window.partitionBy("user_id").orderBy("day")
    prev_c = F.lag("close_c").over(wo)
    lo = F.when(prev_c.isNull(), F.col("low_c")).otherwise(
        F.least(F.col("low_c"), prev_c)
    )
    hi = F.when(prev_c.isNull(), F.col("high_c")).otherwise(
        F.greatest(F.col("high_c"), prev_c)
    )
    staged = candle.select(
        "user_id",
        "day",
        (F.col("close_c") - lo).alias("bp"),
        (hi - lo).alias("tr"),
    )

    def frame(k: int):
        return (
            Window.partitionBy("user_id")
            .orderBy("day")
            .rowsBetween(-(k - 1), 0)
        )

    sums = staged.select(
        "user_id",
        "day",
        *[
            c
            for k, tag in ((w1, "1"), (w2, "2"), (w3, "3"))
            for c in (
                F.sum("bp").over(frame(k)).alias(f"bp{tag}"),
                F.sum("tr").over(frame(k)).alias(f"tr{tag}"),
            )
        ],
    )
    ratio = lambda t: (  # noqa: E731
        F.col(f"bp{t}").cast("double") / F.col(f"tr{t}").cast("double")
    )
    uo = (
        F.lit(100.0)
        * (4 * ratio("1") + 2 * ratio("2") + ratio("3"))
        / F.lit(7.0)
    )
    return sums.select(
        "user_id",
        "day",
        F.when(
            (F.col("tr1") > 0) & (F.col("tr2") > 0) & (F.col("tr3") > 0),
            F.round(uo, 4),
        ).alias("ultimate_osc"),
    )
