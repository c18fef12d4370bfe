"""Temporal section of the declared query registry: sessionization,
windowed indicators, as-of joins and event-time aggregations over the
``events`` table, written over ``operators/temporal.py``."""

from __future__ import annotations

from ...operators import temporal
from .core import _EVTS, _register, _SESSION_WINDOW_SQL, _SESSIONIZE_SQL, _t


@_register("sessionize", _SESSIONIZE_SQL)
def _sessionize(spark, sf):
    return temporal.sessionize(_t(spark, sf, "events"))


@_register(
    "session_stats",
    f"""
    WITH s AS ({_SESSIONIZE_SQL})
    SELECT s.user_id, s.session_id, count(*) AS n_events,
           min(e.ts) AS session_start, max(e.ts) AS session_end
    FROM s JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events) e
      ON s.user_id = e.user_id AND s.event_id = e.event_id
    GROUP BY s.user_id, s.session_id
    """,
)
def _session_stats(spark, sf):
    return temporal.session_stats(_t(spark, sf, "events"))


@_register(
    "session_window_agg",
    _SESSION_WINDOW_SQL,
    note="native session_window generator; same strict-> gap boundary as sessionize",
)
def _session_window_agg(spark, sf):
    return temporal.session_window_agg(_t(spark, sf, "events"))


@_register(
    "tumbling_window_agg",
    f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM {_EVTS} GROUP BY date_trunc('hour', ts), event_type
    """,
)
def _tumbling_window_agg(spark, sf):
    return temporal.tumbling_window_agg(_t(spark, sf, "events"))


@_register(
    "join_asof",
    f"""
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1)
    SELECT e.event_id, e.user_id, e.ts, r.o_orderkey, r.o_totalprice
    FROM {_EVTS.replace('evts', 'e')} ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
    note="as-of join via union + ordered last_value; oracle uses native ASOF JOIN",
)
def _join_asof(spark, sf):
    return temporal.join_asof(_t(spark, sf, "events"), _t(spark, sf, "orders"))


@_register(
    "join_asof_ttl",
    f"""
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1),
    m AS (
      SELECT e.event_id, e.user_id, e.ts, r.o_orderkey, r.o_totalprice,
             (epoch_us(e.ts) - epoch_us(CAST(r.o_orderdate AS TIMESTAMP)))
               AS stale_us
      FROM {_EVTS.replace('evts', 'e')} ASOF LEFT JOIN r
        ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate)
    SELECT event_id, user_id, ts,
           CASE WHEN stale_us <= 777600000000000 THEN o_orderkey END
             AS o_orderkey,
           CASE WHEN stale_us <= 777600000000000 THEN o_totalprice END
             AS o_totalprice,
           CASE WHEN stale_us <= 777600000000000
                THEN round(stale_us / 86400000000.0, 4) END
             AS staleness_days
    FROM m
    """,
    note="as-of join with a staleness TTL (feature-store "
    "point-in-time contract): same single union-timeline pass as "
    "join_asof, carrying the matched order's own timestamp so the "
    "TTL test and fractional-day staleness are row-local afterwards",
)
def _join_asof_ttl(spark, sf):
    return temporal.join_asof_ttl(
        _t(spark, sf, "events"), _t(spark, sf, "orders")
    )


@_register(
    "join_range_banded",
    f"""
    WITH e AS (
      SELECT event_id, user_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM {_EVTS})
    SELECT a.user_id, a.event_id AS eid_a, b.event_id AS eid_b,
           CAST(b.s - a.s AS INTEGER) AS dt_s
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
     AND b.s - a.s <= 60
    """,
    note="time-proximity pairs via band-bucket equi-join; oracle is the theta self-join",
)
def _join_range_banded(spark, sf):
    return temporal.join_range_banded(_t(spark, sf, "events"))


@_register(
    "sliding_window_agg",
    f"""
    SELECT CAST(to_timestamp(s) AS TIMESTAMP) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM (SELECT event_type, value,
           unnest([CAST(floor(epoch(ts)/1800)*1800 AS BIGINT),
                   CAST(floor(epoch(ts)/1800)*1800 - 1800 AS BIGINT)]) AS s
          FROM {_EVTS})
    GROUP BY s, event_type
    """,
    note="1h windows hopping every 30min: each event lands in exactly 2 windows",
)
def _sliding_window_agg(spark, sf):
    return temporal.sliding_window_agg(_t(spark, sf, "events"))


@_register(
    "percentile_stats",
    f"""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(max(value), 4) AS p100
    FROM {_EVTS} GROUP BY event_type
    """,
    note="exact continuous-interpolation percentiles; approx_percentile is the 100TB swap",
)
def _percentile_stats(spark, sf):
    return temporal.percentile_stats(_t(spark, sf, "events"))


@_register(
    "approx_percentile_stats",
    None,
    note="mergeable quantile sketch (map-side partials); estimates are engine-specific -> rows-only",
)
def _approx_percentile_stats(spark, sf):
    return temporal.approx_percentile_stats(_t(spark, sf, "events"))


@_register(
    "percentile_stats_distributed",
    f"""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(max(value), 4) AS p100
    FROM {_EVTS} GROUP BY event_type
    """,
    note="same exact result through the grouped distributed-quantile "
    "kernel: (key, value)-range-partitioned order statistics, no "
    "per-group value buffer -- the unbounded-group-size form",
)
def _percentile_stats_distributed(spark, sf):
    return temporal.percentile_stats_distributed(_t(spark, sf, "events"))


@_register(
    "rolling_window_range",
    f"""
    SELECT user_id, event_id,
           count(*) OVER w AS n_recent,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS recent_value
    FROM {_EVTS}
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
    note="trailing 10-minute RANGE-frame window per user (count + "
    "DECIMAL-exact value sum); integer-microsecond frame bounds are "
    "engine-identical",
)
def _rolling_window_range(spark, sf):
    from ...operators import temporal

    return temporal.rolling_window_range(_t(spark, sf, "events"))


@_register(
    "event_transition_matrix",
    f"""
    WITH t AS (
      SELECT event_type AS cur_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM {{evts}}),
    m AS (SELECT cur_type, next_type, count(*) AS n_transitions
          FROM t WHERE next_type IS NOT NULL GROUP BY cur_type, next_type)
    SELECT cur_type, next_type, n_transitions,
           round(n_transitions * 1.0
                 / sum(n_transitions) OVER (PARTITION BY cur_type), 4) AS p_next
    FROM m
    """.replace("{evts}", _EVTS),
    note="first-order Markov transition matrix over per-user event "
    "sequences (lead window -> alphabet-sized count matrix -> row-"
    "normalized probabilities)",
)
def _event_transition_matrix(spark, sf):
    return temporal.event_transition_matrix(_t(spark, sf, "events"))


def _markov_stationary_oracle_sql(rounds: int = 12) -> str:
    """Unrolled chained-CTE mirror of
    ``temporal.event_markov_stationary``: one MATERIALIZED CTE per
    power-iteration round (MATERIALIZED keeps DuckDB from inlining
    the chain exponentially -- the graph_kcore lesson), each folding
    the per-target terms in SORTED source order via seedless
    ``list_reduce`` (bit-equal to the engine's 0.0-seeded fold since
    IEEE 0 + x == x for positive x)."""
    parts = [
        f"""
    WITH t AS (
      SELECT user_id, event_type AS cur_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM {_EVTS}),
    m AS MATERIALIZED (
      SELECT cur_type, next_type,
             count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY cur_type)
               AS mp
      FROM t WHERE next_type IS NOT NULL GROUP BY cur_type, next_type),
    v0 AS MATERIALIZED (
      SELECT cur_type AS state, 1.0e0 / count(*) OVER () AS p
      FROM (SELECT DISTINCT cur_type FROM m))"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    v{r} AS MATERIALIZED (
      SELECT m.next_type AS state,
             list_reduce(list(v.p * m.mp ORDER BY v.state),
                         (a, b) -> a + b) AS p
      FROM v{r - 1} v JOIN m ON m.cur_type = v.state
      GROUP BY m.next_type)"""
        )
    parts.append(
        f"""
    SELECT state, round(p, 6) AS pi FROM v{rounds}
    """
    )
    return "".join(parts)


@_register(
    "event_markov_stationary",
    _markov_stationary_oracle_sql(12),
    note="stationary distribution of the event-type Markov chain by "
    "12-round power iteration: matrix checkpointed once, every round "
    "joins two ALPHABET-sized frames with a sorted-source "
    "deterministic fold (bit-identical double sums both engines); "
    "unrolled MATERIALIZED chained-CTE oracle",
)
def _event_markov_stationary(spark, sf):
    return temporal.event_markov_stationary(_t(spark, sf, "events"))


@_register(
    "sequence_likelihood",
    f"""
    WITH t AS (
      SELECT user_id, event_type AS cur_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM {{evts}}),
    tr AS (SELECT * FROM t WHERE next_type IS NOT NULL),
    m AS (SELECT cur_type, next_type,
                 count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY cur_type) AS p
          FROM tr GROUP BY cur_type, next_type)
    SELECT user_id, count(*) AS n_transitions,
           round(avg(log2(p)), 4) AS avg_log2p
    FROM tr JOIN m USING (cur_type, next_type)
    GROUP BY user_id
    """.replace("{evts}", _EVTS),
    note="per-user behavioral likelihood under the corpus transition matrix "
    "(sequence-anomaly score, the behavioral lm_unigram_score); matrix is "
    "alphabet^2 and broadcast",
)
def _sequence_likelihood(spark, sf):
    return temporal.sequence_likelihood(_t(spark, sf, "events"))


@_register(
    "window_lead_delta",
    f"""
    SELECT user_id, event_id,
           (epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
            - epoch_us(ts)) / 1000000.0 AS gap_s
    FROM {_EVTS}
    """,
    note="per-user inter-arrival gaps via lead window; exact-micros arithmetic",
)
def _window_lead_delta(spark, sf):
    return temporal.window_lead_delta(_t(spark, sf, "events"))


@_register(
    "ordered_event_sequences",
    f"""
    SELECT user_id, count(*) AS n_events,
           array_to_string(list_slice(list(event_type ORDER BY ts, event_id),
                                      1, 50), ',') AS action_seq
    FROM {_EVTS}
    GROUP BY user_id
    """,
    note="per-user ordered action sequence string (training-sequence build)",
)
def _ordered_event_sequences(spark, sf):
    return temporal.ordered_event_sequences(_t(spark, sf, "events"))


@_register(
    "activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    isl AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      FROM days
    )
    SELECT user_id,
           CAST(min(day) AS TIMESTAMP) AS streak_start,
           CAST(max(day) AS TIMESTAMP) AS streak_end,
           CAST(count(*) AS INTEGER) AS streak_days
    FROM isl
    GROUP BY user_id, anchor
    """,
    note="gaps-and-islands consecutive-day streaks; island anchor = "
    "day - row_number, one user-keyed shuffle end to end",
)
def _activity_streaks(spark, sf):
    return temporal.activity_streaks(_t(spark, sf, "events"))


@_register(
    "window_time_decay",
    """
    WITH e AS (
      SELECT user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    w AS (
      SELECT user_id, value, us,
             max(us) OVER (PARTITION BY user_id) AS last_us
      FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * pow(2.0,
                 -((last_us - us) / 86400000000.0))), 4) AS decayed_score,
           make_timestamp(max(last_us)) AS last_ts
    FROM w GROUP BY user_id
    """,
    note="recency-weighted engagement score; age measured from the "
    "user's own latest event (no wall clock in the plan), integer-"
    "micros exponent, one user-keyed exchange",
)
def _window_time_decay(spark, sf):
    return temporal.window_time_decay(_t(spark, sf, "events"))


@_register(
    "cdc_scd2",
    f"""
    SELECT user_id, value,
           CAST(ts AS TIMESTAMP) AS valid_from,
           lead(CAST(ts AS TIMESTAMP)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM {_EVTS}
    """,
    note="SCD type-2 historization of a change stream: validity "
    "intervals via one lead window, open-ended current rows",
)
def _cdc_scd2(spark, sf):
    return temporal.cdc_scd2(_t(spark, sf, "events"))


@_register(
    "attribution_last_touch",
    f"""
    WITH marked AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attributed_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attributed_ts
      FROM {_EVTS}
    )
    SELECT event_id, user_id, ts AS purchase_ts,
           attributed_type, attributed_ts
    FROM marked WHERE event_type = 'purchase'
    """,
    note="last-touch attribution as a carry-forward window (zero "
    "joins): purchases credit the latest preceding non-purchase "
    "touch; no-prior-touch purchases keep NULL (the direct bucket)",
)
def _attribution_last_touch(spark, sf):
    return temporal.attribution_last_touch(_t(spark, sf, "events"))


@_register(
    "snapshot_diff",
    f"""
    WITH upto2 AS (
      SELECT * FROM {_EVTS} WHERE ts <= TIMESTAMP '2024-01-31 00:00:00'
    ),
    marked AS (
      SELECT user_id, event_id, event_type, value,
             ts <= TIMESTAMP '2024-01-15 00:00:00' AS in_t1,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn2,
             sum(CASE WHEN ts <= TIMESTAMP '2024-01-15 00:00:00'
                 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn1
      FROM upto2
    ),
    new_state AS (
      SELECT user_id, event_type AS new_type, round(value, 2) AS new_value,
             event_id AS new_eid
      FROM marked WHERE rn2 = 1
    ),
    old_state AS (
      SELECT user_id, event_type AS old_type, round(value, 2) AS old_value,
             event_id AS old_eid
      FROM marked WHERE in_t1 AND rn1 = 1
    )
    SELECT n.user_id,
           CASE WHEN o.old_eid IS NULL THEN 'added' ELSE 'changed' END AS status,
           o.old_type, o.old_value, n.new_type, n.new_value
    FROM new_state n LEFT JOIN old_state o USING (user_id)
    WHERE o.old_eid IS NULL OR o.old_eid <> n.new_eid
    """,
    note="time-travel snapshot diff (latest-wins state at two cuts): "
    "one scan, one window shuffle — both snapshots via conditional "
    "ranks down the same ordering, no self-join of the raw stream",
)
def _snapshot_diff(spark, sf):
    return temporal.snapshot_diff(_t(spark, sf, "events"))


@_register(
    "join_asof_nearest",
    f"""
    WITH o1 AS (
      SELECT o_custkey, o_orderdate, min(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    scored AS (
      SELECT evts.event_id, evts.user_id, o.o_orderkey,
             abs(epoch_us(evts.ts)
                 - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) AS dist_us,
             row_number() OVER (PARTITION BY evts.event_id
               ORDER BY abs(epoch_us(evts.ts)
                            - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))),
                        o.o_orderkey) AS rn
      FROM {_EVTS} JOIN o1 o ON o.o_custkey = evts.user_id
    )
    SELECT evts.event_id, evts.user_id, s.o_orderkey, s.dist_us
    FROM {_EVTS}
    LEFT JOIN (SELECT * FROM scored WHERE rn = 1) s USING (event_id)
    """,
    note="nearest-as-of join (either direction): backward and forward "
    "candidates from ONE sorted timeline pass, exact integer "
    "microsecond struct-min; oracle is the brute-force per-event rank "
    "over all the user's orders — a genuinely independent computation",
)
def _join_asof_nearest(spark, sf):
    return temporal.join_asof_nearest(
        _t(spark, sf, "events"), _t(spark, sf, "orders")
    )


@_register(
    "window_ohlc",
    """
    WITH r AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             value,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS r_open,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS r_close
      FROM events)
    SELECT user_id, day,
           max(CASE WHEN r_open = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN r_close = 1 THEN value END) AS close,
           count(*) AS n_readings
    FROM r GROUP BY user_id, day
    """,
    note="per-(user, day) OHLC candle resample -- order-sensitive "
    "companion of window_twap: open/close pinned by the (ts, "
    "event_id) total order, one (user, day) exchange shared by both "
    "rank windows and the final aggregate; days as midnight "
    "TIMESTAMP",
)
def _window_ohlc(spark, sf):
    return temporal.window_ohlc(_t(spark, sf, "events"))


@_register(
    "events_dau_wau_mau",
    """
    WITH du AS (
      SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                      user_id
      FROM events),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(DISTINCT user_id) AS dau
            FROM du GROUP BY day),
    wfan AS (SELECT du.day + i * INTERVAL 1 DAY AS day, du.user_id
             FROM du, range(0, 7) t(i)),
    wau AS (SELECT f.day, count(DISTINCT f.user_id) AS wau
            FROM wfan f JOIN days USING (day) GROUP BY f.day),
    mfan AS (SELECT du.day + i * INTERVAL 1 DAY AS day, du.user_id
             FROM du, range(0, 30) t(i)),
    mau AS (SELECT f.day, count(DISTINCT f.user_id) AS mau
            FROM mfan f JOIN days USING (day) GROUP BY f.day)
    SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau,
           round(dau / mau, 4) AS stickiness
    FROM dau JOIN wau USING (day) JOIN mau USING (day)
    """,
    note="rolling distinct-user engagement (DAU/WAU/MAU + DAU/MAU "
    "stickiness): a rolling DISTINCT, not a rolling sum -- ONE "
    "distinct (day, user) collapse first, then x7/x30 fan-out on "
    "DISTINCT pairs (never raw events) to trailing window anchors, "
    "one count-distinct per anchor; days ship as midnight TIMESTAMP",
)
def _events_dau_wau_mau(spark, sf):
    return temporal.dau_wau_mau(_t(spark, sf, "events"))


@_register(
    "attribution_linear",
    f"""
    WITH staged AS (
      SELECT user_id, event_type,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seg
      FROM {_EVTS}
    ),
    segd AS (
      SELECT event_type,
             count(CASE WHEN event_type <> 'purchase' THEN 1 END) OVER (
               PARTITION BY user_id, seg) AS n_touch,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id, seg) AS closed
      FROM staged
    )
    SELECT event_type AS attributed_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(sum(CAST(1.0 AS DOUBLE) / n_touch), 4) AS total_credit
    FROM segd
    WHERE event_type <> 'purchase' AND closed = 1
    GROUP BY 1
    """,
    note="linear multi-touch attribution: running purchase count "
    "segments each user's stream, every touch in a purchase-closed "
    "segment earns 1/n credit -- two windows, zero joins",
)
def _attribution_linear(spark, sf):
    return temporal.attribution_linear(_t(spark, sf, "events"))


@_register(
    "winsorize_stats",
    f"""
    WITH ev AS (SELECT event_type, value FROM {_EVTS}),
    fences AS (
      SELECT event_type,
             round(quantile_cont(value, 0.01), 4) AS f_lo,
             round(quantile_cont(value, 0.99), 4) AS f_hi
      FROM ev GROUP BY event_type
    )
    SELECT ev.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN value < f_lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN value > f_hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           round(avg(value), 4) AS mean_raw,
           round(avg(least(greatest(value, f_lo), f_hi)), 4) AS mean_winsorized
    FROM ev JOIN fences USING (event_type)
    GROUP BY ev.event_type
    """,
    note="p01/p99 winsorization readout: clip-don't-drop outlier "
    "treatment; alphabet-sized fences broadcast back, fences rounded "
    "BEFORE clamping so clip decisions never hinge on float noise",
)
def _winsorize_stats(spark, sf):
    return temporal.winsorize_stats(_t(spark, sf, "events"))


@_register(
    "trend_regression",
    f"""
    WITH ev AS (
      SELECT event_type,
             (epoch(ts) - {temporal.TREND_EPOCH}) / 3600.0 AS x,
             value AS y
      FROM {_EVTS}
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(regr_slope(y, x), 6) AS slope_per_hour,
           round(regr_intercept(y, x), 4) AS intercept,
           round(regr_r2(y, x), 4) AS r2
    FROM ev GROUP BY event_type
    """,
    note="per-type least-squares trend (metric-drift monitor): one "
    "partial->final regr_* aggregate; x anchored near the data range "
    "so covariance accumulation is well-conditioned on both engines",
)
def _trend_regression(spark, sf):
    return temporal.trend_regression(_t(spark, sf, "events"))


@_register(
    "interval_merge",
    """
    WITH base AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s_us, e_us,
             CASE WHEN max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s_us > max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS new_island
      FROM base
    ),
    islands AS (
      SELECT user_id, s_us, e_us,
             CAST(sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS INTEGER) AS island
      FROM flagged
    )
    SELECT user_id, island,
           make_timestamp(min(s_us)) AS span_start,
           make_timestamp(max(e_us)) AS span_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round((max(e_us) - min(s_us)) / 1000000.0, 4) AS span_s
    FROM islands GROUP BY user_id, island
    """,
    note="gaps-and-islands interval coalescing: running-max-of-ends "
    "window decides island starts, island id by running count in the "
    "SAME total order; all boundary math in integer microseconds",
)
def _interval_merge(spark, sf):
    return temporal.interval_merge(_t(spark, sf, "events"))


@_register(
    "stats_moments",
    f"""
    WITH ev AS (SELECT event_type, value FROM {_EVTS}),
    mu AS (
      SELECT event_type, round(avg(value), 6) AS mu FROM ev GROUP BY event_type
    ),
    cent AS (
      SELECT ev.event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             max(mu) AS mu,
             sum((value - mu) * (value - mu)) AS m2s,
             sum((value - mu) * (value - mu) * (value - mu)) AS m3s,
             sum((value - mu) * (value - mu) * (value - mu) * (value - mu)) AS m4s
      FROM ev JOIN mu USING (event_type)
      GROUP BY ev.event_type
    )
    SELECT event_type, n_events,
           round(mu, 4) AS mean,
           round(sqrt(m2s / n_events), 4) AS stddev,
           round((m3s / n_events) / pow(m2s / n_events, 1.5), 4) AS skewness,
           round((m4s / n_events) / pow(m2s / n_events, 2) - 3.0, 4) AS kurt_excess
    FROM cent
    """,
    note="per-type skewness/excess kurtosis from mean-centered power "
    "sums (built-in skewness/kurtosis differ cross-engine in sample "
    "corrections; the explicit population formula is engine-exact); "
    "centering constant pinned at 6 decimals, alphabet-sized broadcast "
    "join, both aggregations partial->final",
)
def _stats_moments(spark, sf):
    return temporal.stats_moments(_t(spark, sf, "events"))


@_register(
    "event_paths_topk",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM {_EVTS}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20
    """,
    note="top-20 3-step event-type paths: one user-keyed window "
    "shuffle (two leads over the (ts, event_id) total order), "
    "alphabet^3-bounded count, TakeOrderedAndProject top-k (no "
    "global sort)",
)
def _event_paths_topk(spark, sf):
    return temporal.event_paths_topk(_t(spark, sf, "events"))


@_register(
    "interval_gaps",
    """
    WITH base AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s_us, e_us,
             CASE WHEN max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s_us > max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS new_island
      FROM base
    ),
    islands AS (
      SELECT user_id, s_us, e_us,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    ),
    spans AS (
      SELECT user_id, island, min(s_us) AS s_us, max(e_us) AS e_us
      FROM islands GROUP BY user_id, island
    ),
    lagd AS (
      SELECT user_id, s_us,
             lag(e_us) OVER (PARTITION BY user_id ORDER BY island)
               AS g_us
      FROM spans
    )
    SELECT user_id,
           make_timestamp(g_us) AS gap_start,
           make_timestamp(s_us) AS gap_end,
           ((s_us - g_us + 50) // 100) / 10000.0 AS gap_s
    FROM lagd WHERE g_us IS NOT NULL
    """,
    note="idle-gap extraction between merged activity spans (the "
    "inverse of interval_merge): island coalescing reused verbatim "
    "plus one lag window on the SAME user_id key; integer-microsecond "
    "boundary math end to end",
)
def _interval_gaps(spark, sf):
    return temporal.interval_gaps(_t(spark, sf, "events"))


@_register(
    "interval_coverage",
    """
    WITH base AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s_us, e_us,
             CASE WHEN max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s_us > max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS new_island
      FROM base
    ),
    islands AS (
      SELECT user_id, s_us, e_us,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    ),
    spans AS (
      SELECT user_id, island, min(s_us) AS s_us, max(e_us) AS e_us,
             count(*) AS n_events
      FROM islands GROUP BY user_id, island
    ),
    agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(n_events) AS BIGINT) AS n_events,
             sum(e_us - s_us) AS cov_us,
             min(s_us) AS min_s, max(e_us) AS max_e
      FROM spans GROUP BY user_id
    )
    SELECT user_id, n_spans, n_events,
           ((cov_us + 50) // 100) / 10000.0 AS covered_s,
           ((max_e - min_s + 50) // 100) / 10000.0 AS window_s,
           CASE WHEN max_e - min_s > 0
                THEN round(cov_us * 1.0 / (max_e - min_s), 4) END
             AS coverage
    FROM agg
    """,
    note="per-user coverage readout over merged spans (utilization / "
    "uptime): interval_merge's island kernel verbatim plus one "
    "grouped aggregate on the SAME user_id key; covered/window "
    "seconds via half-up integer micros, ratio one double op on "
    "exact ints",
)
def _interval_coverage(spark, sf):
    return temporal.interval_coverage(_t(spark, sf, "events"))


@_register(
    "join_scd2_pointintime",
    f"""
    WITH dim AS (
      SELECT user_id, value, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM {_EVTS} WHERE event_type = 'signup'),
    facts AS (
      SELECT event_id, user_id, ts
      FROM {_EVTS} WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id, f.ts,
           d.value AS dim_value, d.valid_from AS version_from
    FROM facts f
    LEFT JOIN dim d ON d.user_id = f.user_id
                   AND d.valid_from <= f.ts
                   AND (d.valid_to > f.ts OR d.valid_to IS NULL)
    """,
    note="point-in-time dimension join (warehouse / feature-store "
    "temporal-leakage classic): SCD2 versions from signup events, "
    "purchases join the version valid AT the fact instant via the "
    "union + ordered carry-forward as-of kernel -- one exchange + "
    "one sort over dim+facts, no range-join candidate explosion; "
    "oracle is the brute-force interval join",
)
def _join_scd2_pointintime(spark, sf):
    return temporal.join_scd2_pointintime(_t(spark, sf, "events"))


@_register(
    "window_cusum",
    f"""
    WITH base AS (
      SELECT event_id, user_id, event_type, ts,
             CAST(floor(value * 1000000.0) AS BIGINT) AS v_u
      FROM {_EVTS}),
    mu AS (
      SELECT event_type,
             CAST(sum(v_u) AS BIGINT) // count(*) AS mu_u
      FROM base GROUP BY 1),
    stepped AS (
      SELECT b.event_id, b.user_id, b.event_type, b.ts, m.mu_u,
             sum(b.v_u - m.mu_u) OVER (
               PARTITION BY b.user_id, b.event_type
               ORDER BY b.ts, b.event_id
               ROWS UNBOUNDED PRECEDING) AS p
      FROM base b JOIN mu m USING (event_type)),
    scored AS (
      SELECT *,
             p - least(min(p) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING), 0) AS s_u
      FROM stepped)
    SELECT event_id, user_id, event_type, ts,
           s_u / 1000000.0 AS cusum,
           s_u > abs(mu_u) AS alarm
    FROM scored
    """,
    note="one-sided CUSUM drift detector per (user, type) stream via "
    "the prefix identity S = P - min(0, running min P): two stacked "
    "running windows over ONE keyed exchange, no recursion; "
    "deviations ride as exact integer micro-units so segment-tree "
    "and sequential window evaluation agree bit-for-bit",
)
def _window_cusum(spark, sf):
    return temporal.window_cusum(_t(spark, sf, "events"))


@_register(
    "window_twap",
    f"""
    WITH base AS (
      SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_id,
             CAST(floor(value * 100.0) AS BIGINT) AS v_c
      FROM {_EVTS}),
    held AS (
      SELECT *, lead(t_us) OVER (
               PARTITION BY user_id, day
               ORDER BY t_us, event_id) - t_us AS dt_us
      FROM base)
    SELECT user_id, day,
           CAST(count(*) AS BIGINT) AS n_holds,
           round(CAST(sum(v_c * dt_us) AS BIGINT) * 1.0
                 / CAST(sum(dt_us) AS BIGINT) / 100.0, 6) AS twap
    FROM held WHERE dt_us IS NOT NULL
    GROUP BY user_id, day
    """,
    note="per-(user, day) time-weighted average value (TWAP): each "
    "reading holds until the next event that day, last reading drops "
    "(right-open convention); one lead window + grouped agg on the "
    "SAME keys = single exchange; integer cents x integer micros "
    "keep the weighted sums exact in any fold order",
)
def _window_twap(spark, sf):
    return temporal.window_twap(_t(spark, sf, "events"))


@_register(
    "window_ewma",
    """
    WITH fr AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             list(value) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS vals
      FROM events
    )
    SELECT event_id, user_id, ts, value,
           round(
             list_sum(list_transform(
               vals, (v, i) -> v * pow(0.75, len(vals) - i)))
             / ((1.0 - pow(0.75, len(vals))) / 0.25), 6) AS ewma
    FROM fr
    """,
    note="bounded-frame exact EWMA (pandas ewm adjust=True semantics, "
    "24-lag truncation): collect_list over one user_id window + "
    "row-local weighted fold -- no self-join, no explode; 0.75^j for "
    "j<=23 is exactly representable in a double so both engines "
    "produce bit-identical weighted sums",
)
def _window_ewma(spark, sf):
    return temporal.window_ewma(_t(spark, sf, "events"))


@_register(
    "window_bollinger",
    f"""
    WITH c AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {_EVTS}),
    w AS (
      SELECT user_id, event_id, ts, value,
             count(*) OVER fr AS n_window,
             sum(cents) OVER fr AS s,
             sum(cents * cents) OVER fr AS ssq
      FROM c
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id, ts, value,
           CASE WHEN n_window >= 24 THEN
             CAST(round(s * 100.0 / n_window) AS BIGINT) / 1e4 END AS mid,
           CASE WHEN n_window >= 24 THEN
             CAST(round(s * 100.0 / n_window
                    + 200.0 * sqrt(greatest(
                        CAST(n_window * ssq - s * s AS DOUBLE)
                        / (n_window * (n_window - 1)), 0.0)))
                  AS BIGINT) / 1e4 END AS upper,
           CASE WHEN n_window >= 24 THEN
             CAST(round(s * 100.0 / n_window
                    - 200.0 * sqrt(greatest(
                        CAST(n_window * ssq - s * s AS DOUBLE)
                        / (n_window * (n_window - 1)), 0.0)))
                  AS BIGINT) / 1e4 END AS lower,
           CAST(n_window AS INTEGER) AS n_window
    FROM w
    """,
    note="per-user rolling mean +/- 2 sigma bands, 24-reading frame: "
    "rolling sum and sum-of-squares on BIGINT cents (DuckDB window "
    "doubles sum via segment tree -- the window_cusum lesson), "
    "mean/stddev derived row-locally from the two exact integers; "
    "bands rounded at INTEGER 1e-4-dollar scale (s/2400 lands on "
    ".5-at-digit-5 boundaries where round(double,4) splits engines); "
    "warm-up rows (< 24 readings) emit NULL bands",
)
def _window_bollinger(spark, sf):
    return temporal.window_bollinger(_t(spark, sf, "events"))


@_register(
    "seasonal_dow_decompose",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             count(*) AS n_events
      FROM {_EVTS} GROUP BY 1),
    d2 AS (SELECT day, dayofweek(day) AS dow, n_events FROM daily),
    seas AS (SELECT dow, sum(n_events) AS s, count(*) AS n_days
             FROM d2 GROUP BY 1)
    SELECT day, CAST(dow AS INTEGER) AS dow,
           CAST(n_events AS BIGINT) AS n_events,
           round(s * 1.0 / n_days, 4) AS dow_mean,
           round(n_events - s * 1.0 / n_days, 4) AS residual
    FROM d2 JOIN seas USING (dow)
    """,
    note="weekly-seasonality decomposition of the daily count "
    "series: day collapse (365 rows/year), 7-row dow mean broadcast "
    "back, additive residual; dow pinned 0 = Sunday (Spark is "
    "1-based -- the time_heatmap convention); the one float division "
    "is integer/integer rounded 4",
)
def _seasonal_dow_decompose(spark, sf):
    return temporal.seasonal_dow_decompose(_t(spark, sf, "events"))


@_register(
    "attribution_position_based",
    f"""
    WITH staged AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seg
      FROM {_EVTS}),
    segd AS (
      SELECT user_id, seg, event_id, ts, event_type,
             count(CASE WHEN event_type <> 'purchase' THEN 1 END) OVER (
               PARTITION BY user_id, seg) AS n_touch,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id, seg) AS closed
      FROM staged),
    touches AS (
      SELECT event_type, n_touch,
             row_number() OVER (
               PARTITION BY user_id, seg ORDER BY ts, event_id) AS pos
      FROM segd
      WHERE event_type <> 'purchase' AND closed = 1),
    cr AS (
      SELECT event_type,
             CASE WHEN n_touch = 1 THEN 1000000
                  WHEN n_touch = 2 THEN 500000
                  WHEN pos = 1 OR pos = n_touch THEN 400000
                  ELSE CAST(round(200000.0 / (n_touch - 2)) AS BIGINT)
             END AS ppm
      FROM touches)
    SELECT event_type AS attributed_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(sum(ppm) / 1e6, 4) AS total_credit
    FROM cr GROUP BY 1
    """,
    note="U-shaped 40/20/40 multi-touch attribution "
    "(attribution_linear's position-aware sibling): same two-window "
    "segment construction plus a touch-rank row_number on the same "
    "sort; credit carried as integer ppm so the per-channel fold is "
    "an exact BIGINT sum, one division at the end",
)
def _attribution_position_based(spark, sf):
    return temporal.attribution_position_based(_t(spark, sf, "events"))


@_register(
    "stats_jarque_bera",
    f"""
    WITH ev AS (SELECT event_type, value FROM {_EVTS}),
    mu AS (
      SELECT event_type, round(avg(value), 6) AS mu
      FROM ev GROUP BY event_type),
    cent AS (
      SELECT ev.event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             sum((value - mu) * (value - mu)) AS m2s,
             sum((value - mu) * (value - mu) * (value - mu)) AS m3s,
             sum((value - mu) * (value - mu) * (value - mu)
                 * (value - mu)) AS m4s
      FROM ev JOIN mu USING (event_type)
      GROUP BY ev.event_type),
    sk AS (
      SELECT event_type, n_events,
             (m3s / n_events) / pow(m2s / n_events, 1.5) AS s,
             (m4s / n_events)
               / ((m2s / n_events) * (m2s / n_events)) - 3.0 AS k
      FROM cent)
    SELECT event_type, n_events,
           round(n_events / 6.0 * (s * s + k * k / 4.0), 4) AS jb_stat,
           5.9915 AS chi2_crit,
           round(n_events / 6.0 * (s * s + k * k / 4.0), 4) < 5.9915
             AS normal
    FROM sk
    """,
    note="Jarque-Bera normality gate per type: JB = n/6*(S^2+K^2/4) "
    "from stats_moments' driver-hash-proven centered power sums "
    "(centering constant pinned at 6 decimals); chi2(2) crit 5.9915 "
    "is a constant -- df never varies",
)
def _stats_jarque_bera(spark, sf):
    return temporal.stats_jarque_bera(_t(spark, sf, "events"))


@_register(
    "window_drawdown",
    f"""
    WITH c AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(round(value * 100) AS BIGINT) AS cts
      FROM {_EVTS}),
    w AS (
      SELECT user_id, event_id, ts, value, cts,
             max(cts) OVER fr AS peak_c
      FROM c
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    d AS (SELECT *, peak_c - cts AS dd_c FROM w)
    SELECT user_id, event_id, ts, value,
           peak_c / 100.0 AS peak,
           dd_c / 100.0 AS drawdown,
           max(dd_c) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
             AS max_drawdown
    FROM d
    """,
    note="per-user running peak / drawdown / max drawdown on exact "
    "BIGINT cents (integer running MAX is segment-tree-safe); two "
    "stacked windows share one exchange and sort; /100 conversions "
    "are identical integer/double divisions",
)
def _window_drawdown(spark, sf):
    return temporal.window_drawdown(_t(spark, sf, "events"))


@_register(
    "window_rsi",
    f"""
    WITH c AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {_EVTS}),
    d AS (
      SELECT user_id, event_id, ts, value,
             cents - lag(cents) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS d
      FROM c),
    r AS (
      SELECT user_id, event_id, ts, value,
             sum(CASE WHEN d > 0 THEN d ELSE 0 END) OVER fr AS g,
             sum(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER fr AS l,
             count(d) OVER fr AS n_deltas
      FROM d
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id, ts, value,
           CASE WHEN n_deltas >= 14 AND g + l > 0
                THEN round(100.0 * g / (g + l), 4) END AS rsi,
           CAST(n_deltas AS INTEGER) AS n_deltas
    FROM r
    """,
    note="Cutler-form RSI over the trailing 14 deltas (simple "
    "averages are exactly representable; Wilder's recursive "
    "smoothing is not cross-engine-exact): gains/losses as BIGINT "
    "cents off one lag + one rolling window on the same sort, single "
    "rounded division; flat windows and warm-up rows NULL",
)
def _window_rsi(spark, sf):
    return temporal.window_rsi(_t(spark, sf, "events"))


@_register(
    "attribution_first_touch",
    f"""
    WITH staged AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seg
      FROM {_EVTS}),
    marked AS (
      SELECT event_id, user_id, ts, event_type,
             first_value(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS) OVER (
               PARTITION BY user_id, seg ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS attributed_type,
             first_value(CASE WHEN event_type <> 'purchase'
                              THEN ts END IGNORE NULLS) OVER (
               PARTITION BY user_id, seg ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS attributed_ts
      FROM staged)
    SELECT event_id, user_id, ts AS purchase_ts,
           attributed_type, attributed_ts
    FROM marked WHERE event_type = 'purchase'
    """,
    note="first-touch attribution (the acquisition-channel view "
    "completing the last/linear/position family): full credit to the "
    "first touch since the previous purchase via the shared segment "
    "window + first_value ignore-nulls; zero joins, one user "
    "exchange, direct bucket stays NULL",
)
def _attribution_first_touch(spark, sf):
    return temporal.attribution_first_touch(_t(spark, sf, "events"))


#: per-(user, day) integer-cent candle -- mirror of
#: temporal._daily_candle (close pinned by the (ts, event_id) order).
_CANDLE_CTE = """
    r AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(floor(value * 100.0) AS BIGINT) AS v_c,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS r_close
      FROM events),
    candle AS (
      SELECT user_id, day, max(v_c) AS high_c, min(v_c) AS low_c,
             max(CASE WHEN r_close = 1 THEN v_c END) AS close_c
      FROM r GROUP BY user_id, day)
"""


def _macd_oracle() -> str:
    def fold(col: str, decay: str, alpha: str) -> str:
        return (
            f"list_sum(list_transform({col}, (v, i) ->"
            f" v * pow({decay}, len({col}) - i)))"
            f" / ((1.0 - pow({decay}, len({col}))) / {alpha})"
        )

    fast = fold("vf", "0.75", "0.25")
    slow = fold("vs", "0.875", "0.125")
    return f"""
    WITH {_CANDLE_CTE},
    fr AS (
      SELECT user_id, day, close_c,
             list(CAST(close_c AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS vf,
             list(CAST(close_c AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 17 PRECEDING AND CURRENT ROW) AS vs
      FROM candle)
    SELECT user_id, day, close_c,
           round(({fast}) / 100.0, 6) AS ema_fast,
           round(({slow}) / 100.0, 6) AS ema_slow,
           round((({fast}) - ({slow})) / 100.0, 6) AS macd
    FROM fr
    """


@_register(
    "window_macd",
    _macd_oracle(),
    note="MACD over per-user daily integer-cent closes: two "
    "window_ewma-style normalized bounded-frame EWMAs (decays 3/4 "
    "and 7/8 -- every in-frame power exactly representable in a "
    "double, 7^17 < 2^53), one user-keyed exchange",
)
def _window_macd(spark, sf):
    return temporal.window_macd(_t(spark, sf, "events"))


@_register(
    "window_stochastic",
    f"""
    WITH {_CANDLE_CTE},
    rng AS (
      SELECT user_id, day, close_c,
             min(low_c) OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS mn,
             max(high_c) OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS mx
      FROM candle),
    k AS (
      SELECT user_id, day, close_c,
             CASE WHEN mx > mn THEN
               CAST(close_c - mn AS DOUBLE) * 100.0 / (mx - mn)
             END AS k_raw
      FROM rng),
    kk AS (
      SELECT user_id, day, close_c, k_raw,
             lag(k_raw, 1) OVER (PARTITION BY user_id ORDER BY day) AS k1,
             lag(k_raw, 2) OVER (PARTITION BY user_id ORDER BY day) AS k2
      FROM k)
    SELECT user_id, day, close_c,
           round(k_raw, 4) AS pct_k,
           round((k_raw + k1 + k2) / 3.0, 4) AS pct_d
    FROM kk
    """,
    note="stochastic oscillator over per-user daily candles: rolling "
    "14-day extrema in exact integer cents, %K one integer-ratio "
    "double, %D the FIXED three-term average; flat ranges NULL on "
    "both engines",
)
def _window_stochastic(spark, sf):
    return temporal.window_stochastic(_t(spark, sf, "events"))


@_register(
    "window_atr",
    f"""
    WITH {_CANDLE_CTE},
    tr AS (
      SELECT user_id, day,
             CASE WHEN lag(close_c) OVER w IS NULL
                  THEN high_c - low_c
                  ELSE greatest(high_c - low_c,
                                abs(high_c - lag(close_c) OVER w),
                                abs(low_c - lag(close_c) OVER w))
             END AS true_range_c
      FROM candle
      WINDOW w AS (PARTITION BY user_id ORDER BY day))
    SELECT user_id, day, CAST(true_range_c AS BIGINT) AS true_range_c,
           round(sum(true_range_c) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                 / CAST(count(*) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                   AS DOUBLE) / 100.0, 6) AS atr
    FROM tr
    """,
    note="Average True Range over per-user daily candles: TR exact "
    "integer cents (first day falls back to high-low), ATR one "
    "rolling integer-sum ratio; one user-keyed exchange end to end",
)
def _window_atr(spark, sf):
    return temporal.window_atr(_t(spark, sf, "events"))


#: daily candle + volume (events that day) -- mirror of
#: temporal._daily_candle(with_volume=True).
_CANDLE_VOL_CTE = """
    r AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(floor(value * 100.0) AS BIGINT) AS v_c,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS r_close
      FROM events),
    candle AS (
      SELECT user_id, day, max(v_c) AS high_c, min(v_c) AS low_c,
             max(CASE WHEN r_close = 1 THEN v_c END) AS close_c,
             count(*) AS n_ev
      FROM r GROUP BY user_id, day)
"""


@_register(
    "window_obv",
    f"""
    WITH {_CANDLE_VOL_CTE},
    d AS (
      SELECT user_id, day, n_ev,
             CASE WHEN lag(close_c) OVER w IS NULL
                    OR close_c = lag(close_c) OVER w THEN 0
                  WHEN close_c > lag(close_c) OVER w THEN 1
                  ELSE -1 END AS direction
      FROM candle WINDOW w AS (PARTITION BY user_id ORDER BY day))
    SELECT user_id, day,
           CAST(direction AS INTEGER) AS direction,
           CAST(sum(direction * n_ev) OVER (
                  PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS obv
    FROM d
    """,
    note="on-balance volume over per-user daily candles: direction "
    "decided on exact integer cents, OBV a running integer sum -- "
    "zero doubles anywhere; one user-keyed exchange",
)
def _window_obv(spark, sf):
    return temporal.window_obv(_t(spark, sf, "events"))


@_register(
    "window_donchian",
    f"""
    WITH {_CANDLE_CTE}
    SELECT user_id, day,
           CAST(max(high_c) OVER wr AS BIGINT) AS don_high_c,
           CAST(min(low_c) OVER wr AS BIGINT) AS don_low_c,
           round(CASE WHEN max(high_c) OVER wr > min(low_c) OVER wr THEN
                   CAST(close_c - min(low_c) OVER wr AS DOUBLE)
                   / CAST(max(high_c) OVER wr - min(low_c) OVER wr
                          AS DOUBLE)
                 END, 6) AS chan_pos
    FROM candle
    WINDOW wr AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    note="Donchian 7-day channel over per-user daily candles: "
    "rolling extrema exact integer cents, channel position one "
    "integer-ratio double, flat channels NULL on both engines",
)
def _window_donchian(spark, sf):
    return temporal.window_donchian(_t(spark, sf, "events"))


@_register(
    "window_mfi",
    f"""
    WITH {_CANDLE_VOL_CTE},
    tp AS (
      SELECT user_id, day,
             high_c + low_c + close_c AS tp3, n_ev
      FROM candle),
    f AS (
      SELECT user_id, day,
             CASE WHEN lag(tp3) OVER w IS NOT NULL
                   AND tp3 > lag(tp3) OVER w
                  THEN tp3 * n_ev ELSE 0 END AS pos_flow,
             CASE WHEN lag(tp3) OVER w IS NOT NULL
                   AND tp3 < lag(tp3) OVER w
                  THEN tp3 * n_ev ELSE 0 END AS neg_flow
      FROM tp WINDOW w AS (PARTITION BY user_id ORDER BY day)),
    wsum AS (
      SELECT user_id, day,
             sum(pos_flow) OVER wr AS pos, sum(neg_flow) OVER wr AS neg
      FROM f
      WINDOW wr AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT user_id, day,
           round(CASE WHEN pos + neg > 0 THEN
                   100.0 * CAST(pos AS DOUBLE) / CAST(pos + neg AS DOUBLE)
                 END, 4) AS mfi
    FROM wsum
    """,
    note="Money Flow Index (volume-weighted RSI) over per-user daily "
    "candles: typical price kept as the integer 3x-sum (the /3 "
    "cancels), raw flows exact integer cent-units, MFI one "
    "integer-ratio double; directionless windows NULL",
)
def _window_mfi(spark, sf):
    return temporal.window_mfi(_t(spark, sf, "events"))


def _keltner_oracle() -> str:
    ctr = (
        "list_sum(list_transform(vc, (v, i) ->"
        " v * pow(0.875, len(vc) - i)))"
        " / ((1.0 - pow(0.875, len(vc))) / 0.125)"
    )
    return f"""
    WITH {_CANDLE_CTE},
    tr AS (
      SELECT user_id, day, close_c,
             CASE WHEN lag(close_c) OVER w IS NULL
                  THEN high_c - low_c
                  ELSE greatest(high_c - low_c,
                                abs(high_c - lag(close_c) OVER w),
                                abs(low_c - lag(close_c) OVER w))
             END AS true_range_c
      FROM candle
      WINDOW w AS (PARTITION BY user_id ORDER BY day)),
    fr AS (
      SELECT user_id, day, close_c,
             list(CAST(close_c AS DOUBLE)) OVER we AS vc,
             sum(true_range_c) OVER wa AS trs,
             count(*) OVER wa AS trn
      FROM tr
      WINDOW we AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 17 PRECEDING AND CURRENT ROW),
             wa AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
    c1 AS (
      SELECT user_id, day, close_c,
             ({ctr}) AS center_c,
             CAST(trs AS DOUBLE) / CAST(trn AS DOUBLE) AS atr_c
      FROM fr)
    SELECT user_id, day,
           round(center_c / 100.0, 6) AS center,
           round((center_c + 2.0 * atr_c) / 100.0, 6) AS upper,
           round((center_c - 2.0 * atr_c) / 100.0, 6) AS lower,
           CAST(CASE WHEN CAST(close_c AS DOUBLE)
                          > center_c + 2.0 * atr_c THEN 1
                     WHEN CAST(close_c AS DOUBLE)
                          < center_c - 2.0 * atr_c THEN -1
                     ELSE 0 END AS INTEGER) AS breach
    FROM c1
    """


@_register(
    "window_keltner",
    _keltner_oracle(),
    note="Keltner channel: window_macd's exact-decay EWMA (dyadic "
    "decay 7/8, every in-frame power exactly representable) as the "
    "center, window_atr's integer-cent true-range mean as the band; "
    "breach decided on identical doubles",
)
def _window_keltner(spark, sf):
    return temporal.window_keltner(_t(spark, sf, "events"))


@_register(
    "window_ulcer_index",
    f"""
    WITH {_CANDLE_CTE},
    dd AS (
      SELECT user_id, day,
             CAST(round(CAST(max(close_c) OVER wo - close_c AS DOUBLE)
                        / CAST(max(close_c) OVER wo AS DOUBLE) * 1e8)
                  AS BIGINT) AS dd_micro_pct
      FROM candle
      WINDOW wo AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id, day, dd_micro_pct,
           round(sqrt(CAST(sum(dd_micro_pct * dd_micro_pct) OVER wr
                           AS DOUBLE)
                      / CAST(count(*) OVER wr AS DOUBLE)) / 1e6, 6)
             AS ulcer_index
    FROM dd
    WINDOW wr AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    note="Ulcer index (RMS of rolling percentage drawdown) over "
    "per-user daily closes: per-day drawdown one double rounded to "
    "integer micro-percent BEFORE squaring, window fold exact, one "
    "trailing sqrt",
)
def _window_ulcer_index(spark, sf):
    return temporal.window_ulcer_index(_t(spark, sf, "events"))


@_register(
    "window_ichimoku",
    f"""
    WITH {_CANDLE_CTE},
    mids AS (
      SELECT user_id, day, close_c,
             max(high_c) OVER w9 + min(low_c) OVER w9 AS t2,
             max(high_c) OVER w26 + min(low_c) OVER w26 AS k2,
             max(high_c) OVER w9 + min(low_c) OVER w9
             + max(high_c) OVER w26 + min(low_c) OVER w26 AS sa4,
             max(high_c) OVER w52 + min(low_c) OVER w52 AS sb2
      FROM candle
      WINDOW w9 AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
             w26 AS (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
             w52 AS (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
    SELECT user_id, day,
           round(CAST(t2 AS DOUBLE) / 200.0, 6) AS tenkan,
           round(CAST(k2 AS DOUBLE) / 200.0, 6) AS kijun,
           round(CAST(lag(sa4, 26) OVER wo AS DOUBLE) / 400.0, 6)
             AS senkou_a,
           round(CAST(lag(sb2, 26) OVER wo AS DOUBLE) / 200.0, 6)
             AS senkou_b,
           round(CAST(lead(close_c, 26) OVER wo AS DOUBLE) / 100.0, 6)
             AS chikou
    FROM mids
    WINDOW wo AS (PARTITION BY user_id ORDER BY day)
    """,
    note="Ichimoku cloud over per-user daily candles: every midpoint "
    "an exact half-integer (kept x2/x4 integer until one final "
    "division), spans displaced by exact ROW arithmetic (lag/lead "
    "26), edge rows NULL on both engines",
)
def _window_ichimoku(spark, sf):
    return temporal.window_ichimoku(_t(spark, sf, "events"))


@_register(
    "window_zscore_rolling",
    f"""
    WITH {_CANDLE_CTE},
    rz AS (
      SELECT user_id, day, close_c,
             count(*) OVER wr AS n,
             sum(close_c) OVER wr AS s,
             sum(close_c * close_c) OVER wr AS ssq
      FROM candle
      WINDOW wr AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT user_id, day, CAST(close_c AS BIGINT) AS close_c,
           round(CASE WHEN n >= 2 AND n * ssq - s * s > 0 THEN
                   CAST(n * close_c - s AS DOUBLE)
                   / sqrt(CAST((n * ssq - s * s) * n AS DOUBLE)
                          / CAST(n - 1 AS DOUBLE))
                 END, 4) AS zscore
    FROM rz
    """,
    note="rolling 14-day z-score of each user's daily close against "
    "its own trailing mean/std: exact integer-cent window moments at "
    "n^2 scale, z one double; flat windows and day one NULL",
)
def _window_zscore_rolling(spark, sf):
    return temporal.window_zscore_rolling(_t(spark, sf, "events"))


@_register(
    "window_vwap_bands",
    f"""
    WITH {_CANDLE_VOL_CTE},
    fr AS (
      SELECT user_id, day, close_c,
             count(*) OVER w AS n_window,
             sum(close_c * n_ev) OVER w AS pv,
             sum(n_ev) OVER w AS vol,
             sum(close_c) OVER w AS s,
             sum(close_c * close_c) OVER w AS ssq
      FROM candle
      WINDOW w AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
    b AS (
      SELECT user_id, day, close_c, n_window,
             CAST(pv AS DOUBLE) * 100.0 / vol AS vwap4,
             200.0 * sqrt(greatest(
               CAST(n_window * ssq - s * s AS DOUBLE)
               / (n_window * (n_window - 1)), 0.0)) AS spread4
      FROM fr)
    SELECT user_id, day,
           CAST(close_c AS DOUBLE) / 100.0 AS close,
           CASE WHEN n_window >= 14
                THEN CAST(round(vwap4) AS BIGINT) / 1e4 END AS vwap,
           CASE WHEN n_window >= 14
                THEN CAST(round(vwap4 + spread4) AS BIGINT) / 1e4
           END AS upper,
           CASE WHEN n_window >= 14
                THEN CAST(round(vwap4 - spread4) AS BIGINT) / 1e4
           END AS lower,
           CAST(n_window AS BIGINT) AS n_window
    FROM b
    """,
    note="rolling 14-day VWAP bands over the daily candle (volume = "
    "events that day): all window moments BIGINT sums over candle "
    "integers, vwap/sigma one double expression each, bands round at "
    "integer 1e-4-dollar scale (window_bollinger's boundary rule)",
)
def _window_vwap_bands(spark, sf):
    return temporal.window_vwap_bands(_t(spark, sf, "events"))


@_register(
    "window_pivot_points",
    f"""
    WITH {_CANDLE_CTE},
    lagged AS (
      SELECT user_id, day, close_c,
             lag(high_c) OVER w AS ph,
             lag(low_c) OVER w AS pl,
             lag(close_c) OVER w AS pc
      FROM candle
      WINDOW w AS (PARTITION BY user_id ORDER BY day)),
    lv AS (
      SELECT user_id, day, close_c, ph,
             ph + pl + pc AS p3,
             2 * (ph + pl + pc) - 3 * pl AS r1_3,
             2 * (ph + pl + pc) - 3 * ph AS s1_3,
             ph + pl + pc + 3 * (ph - pl) AS r2_3,
             ph + pl + pc - 3 * (ph - pl) AS s2_3
      FROM lagged)
    SELECT user_id, day,
           CAST(close_c AS DOUBLE) / 100.0 AS close,
           round(CAST(p3 AS DOUBLE) / 300.0, 4) AS pivot,
           round(CAST(r1_3 AS DOUBLE) / 300.0, 4) AS r1,
           round(CAST(s1_3 AS DOUBLE) / 300.0, 4) AS s1,
           round(CAST(r2_3 AS DOUBLE) / 300.0, 4) AS r2,
           round(CAST(s2_3 AS DOUBLE) / 300.0, 4) AS s2,
           CAST(CASE WHEN ph IS NULL THEN NULL
                     WHEN 3 * close_c > r1_3 THEN 1
                     WHEN 3 * close_c < s1_3 THEN -1
                     ELSE 0 END AS INTEGER) AS breach
    FROM lv
    """,
    note="floor-trader pivot levels off the previous daily candle "
    "(P/R1/S1/R2/S2): every level an integer numerator at 3x cent "
    "scale, /3 never executes until the single final double; breach "
    "compares 3*close against exact integers",
)
def _window_pivot_points(spark, sf):
    return temporal.window_pivot_points(_t(spark, sf, "events"))


@_register(
    "window_williams_r",
    f"""
    WITH {_CANDLE_CTE}
    SELECT user_id, day, close_c,
           CAST(round(CASE WHEN mx > mn THEN
                  (mx - close_c) * -100.0 / (mx - mn) END * 1e4)
                AS BIGINT) / 1e4 AS pct_r
    FROM (
      SELECT user_id, day, close_c,
             min(low_c) OVER w AS mn, max(high_c) OVER w AS mx
      FROM candle
      WINDOW w AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    """,
    note="Williams %%R (inverted stochastic, [-100, 0]) over each "
    "user's daily candles: exact integer rolling extrema, one "
    "integer-ratio double rounded at integer 1e-4 scale, NULL on "
    "flat ranges",
)
def _window_williams_r(spark, sf):
    return temporal.window_williams_r(_t(spark, sf, "events"))


@_register(
    "window_aroon",
    f"""
    WITH {_CANDLE_CTE},
    based AS (
      SELECT user_id, day, high_c, low_c,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM candle),
    ext AS (
      SELECT user_id, day, rn,
             struct_extract(max(struct_pack(h := high_c, r := rn))
                            OVER w, 'r') AS hi_rn,
             struct_extract(min(struct_pack(l := low_c, nr := -rn))
                            OVER w, 'nr') AS lo_nrn
      FROM based
      WINDOW w AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT user_id, day,
           CAST(round((13 - (rn - hi_rn)) * 100.0 / 13.0 * 1e4)
                AS BIGINT) / 1e4 AS aroon_up,
           CAST(round((13 - (rn + lo_nrn)) * 100.0 / 13.0 * 1e4)
                AS BIGINT) / 1e4 AS aroon_down
    FROM ext
    """,
    note="Aroon up/down (trend freshness, [0, 100]) over each user's "
    "daily candles: the rolling extreme's row position via an integer "
    "struct max -- (high, rn) lexicographic max pins a tied high to "
    "its LATEST row on both engines -- all integers until the final "
    "100*k/13 ratios at integer 1e-4 scale",
)
def _window_aroon(spark, sf):
    return temporal.window_aroon(_t(spark, sf, "events"))


@_register(
    "window_vortex",
    f"""
    WITH {_CANDLE_CTE},
    lagged AS (
      SELECT user_id, day, high_c, low_c,
             lag(high_c) OVER w AS ph, lag(low_c) OVER w AS pl,
             lag(close_c) OVER w AS pc
      FROM candle WINDOW w AS (PARTITION BY user_id ORDER BY day)),
    terms AS (
      SELECT user_id, day,
             CASE WHEN ph IS NOT NULL THEN abs(high_c - pl)
                  ELSE 0 END AS vm_p,
             CASE WHEN ph IS NOT NULL THEN abs(low_c - ph)
                  ELSE 0 END AS vm_m,
             CASE WHEN ph IS NOT NULL THEN
               greatest(high_c - low_c, abs(high_c - pc),
                        abs(low_c - pc)) ELSE 0 END AS tr
      FROM lagged)
    SELECT user_id, day,
           CAST(round(CASE WHEN sum(tr) OVER wr > 0 THEN
                  CAST(sum(vm_p) OVER wr AS DOUBLE)
                  / CAST(sum(tr) OVER wr AS DOUBLE) END * 1e4)
                AS BIGINT) / 1e4 AS vi_plus,
           CAST(round(CASE WHEN sum(tr) OVER wr > 0 THEN
                  CAST(sum(vm_m) OVER wr AS DOUBLE)
                  / CAST(sum(tr) OVER wr AS DOUBLE) END * 1e4)
                AS BIGINT) / 1e4 AS vi_minus
    FROM terms
    WINDOW wr AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    note="Vortex indicator VI+/VI- (trend-reversal detector) over "
    "each user's daily candles: vortex movements and true range are "
    "exact integer cents (first user-day contributes nothing), the "
    "two rolling ratios one integer-ratio double each at integer "
    "1e-4 scale, NULL while rolling TR is zero",
)
def _window_vortex(spark, sf):
    return temporal.window_vortex(_t(spark, sf, "events"))


@_register(
    "window_chande_momentum",
    f"""
    WITH {_CANDLE_CTE},
    deltas AS (
      SELECT user_id, day, close_c,
             CASE WHEN d > 0 THEN d ELSE 0 END AS gain,
             CASE WHEN d < 0 THEN -d ELSE 0 END AS loss
      FROM (SELECT user_id, day, close_c,
                   close_c - lag(close_c) OVER
                     (PARTITION BY user_id ORDER BY day) AS d
            FROM candle))
    SELECT user_id, day, close_c,
           CAST(round(CASE WHEN sum(gain) OVER wr + sum(loss) OVER wr > 0
                  THEN (sum(gain) OVER wr - sum(loss) OVER wr) * 100.0
                       / (sum(gain) OVER wr + sum(loss) OVER wr)
                  END * 1e4) AS BIGINT) / 1e4 AS cmo
    FROM deltas
    WINDOW wr AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    note="Chande momentum oscillator (unsmoothed symmetric RSI, "
    "[-100, 100]) over each user's daily closes: rolling integer "
    "gain/loss sums, one integer-ratio double at integer 1e-4 scale, "
    "NULL while the window has no movement",
)
def _window_chande_momentum(spark, sf):
    return temporal.window_chande_momentum(_t(spark, sf, "events"))


@_register(
    "window_force_index",
    f"""
    WITH {_CANDLE_VOL_CTE},
    raw AS (
      SELECT user_id, day,
             (close_c - lag(close_c) OVER
                (PARTITION BY user_id ORDER BY day)) * n_ev AS force
      FROM candle)
    SELECT user_id, day,
           CAST(round(CAST(sum(force) OVER wr AS DOUBLE)
                      / CAST(count(force) OVER wr AS DOUBLE) * 1e4)
                AS BIGINT) / 1e4 AS force_13
    FROM raw
    WINDOW wr AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)
    """,
    note="Elder force index (close delta x daily event volume, "
    "rolling 13-day mean over force-bearing days) per user: raw "
    "force exact integer, smoothed index one integer-ratio double at "
    "integer 1e-4 scale; a user's first day has no delta and is "
    "excluded from the window count on both engines",
)
def _window_force_index(spark, sf):
    return temporal.window_force_index(_t(spark, sf, "events"))


@_register(
    "interval_allen_profile",
    f"""
    WITH iv AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             min(ts) AS s, max(ts) AS e
      FROM {_EVTS} GROUP BY 1, 2)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CASE
             WHEN a.s = b.s AND a.e = b.e THEN 'equals'
             WHEN a.e < b.s THEN 'before'
             WHEN b.e < a.s THEN 'after'
             WHEN a.e = b.s THEN 'meets'
             WHEN b.e = a.s THEN 'met_by'
             WHEN a.s = b.s AND a.e < b.e THEN 'starts'
             WHEN a.s = b.s AND a.e > b.e THEN 'started_by'
             WHEN a.e = b.e AND a.s > b.s THEN 'finishes'
             WHEN a.e = b.e AND a.s < b.s THEN 'finished_by'
             WHEN a.s > b.s AND a.e < b.e THEN 'during'
             WHEN a.s < b.s AND a.e > b.e THEN 'contains'
             WHEN a.s < b.s AND a.e > b.s AND a.e < b.e THEN 'overlaps'
             ELSE 'overlapped_by'
           END AS relation,
           CAST(count(*) AS BIGINT) AS n_days
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.event_type < b.event_type
    GROUP BY 1, 2, 3
    """,
    note="Allen interval-algebra profile of per-day event-type "
    "activity windows (does checkout nest inside browse): interval "
    "table bounded by days x type alphabet, pair join alphabet-"
    "squared per day, classification the SAME ordered CASE chain of "
    "integer timestamp comparisons on both engines",
)
def _interval_allen_profile(spark, sf):
    return temporal.allen_relation_profile(_t(spark, sf, "events"))


@_register(
    "time_sax_words",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS s,
             sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx
      FROM daily),
    tagged AS (
      SELECT date_trunc('week', day) AS week, day,
             CASE WHEN (x - s / n) / sqrt((sxx - s * s / n) / n)
                       < -0.6745 THEN 'a'
                  WHEN (x - s / n) / sqrt((sxx - s * s / n) / n)
                       < 0.0 THEN 'b'
                  WHEN (x - s / n) / sqrt((sxx - s * s / n) / n)
                       < 0.6745 THEN 'c'
                  ELSE 'd' END AS sym
      FROM daily, mom WHERE sxx * n > s * s)
    SELECT week, CAST(count(*) AS BIGINT) AS n_days,
           string_agg(sym, '' ORDER BY day) AS sax_word
    FROM tagged GROUP BY week
    """,
    note="SAX symbolization of the daily count series, one word per "
    "ISO week (Lin/Keogh symbolic representation -- motif/anomaly "
    "search as string matching): exact integer moments, z-scores one "
    "double chain, standard-normal quartile breakpoints, word "
    "assembly ordered by the day key on both engines",
)
def _time_sax_words(spark, sf):
    return temporal.sax_weekly_words(_t(spark, sf, "events"))


def _trix_oracle(decay: str = "0.75", alpha: str = "0.25",
                 span: int = 12) -> str:
    """Three chained window_ewma-style normalized bounded-frame folds
    (the macd oracle's fold, stacked), then the 1-period rate of
    change at integer 1e-6 scale."""
    def fold(col: str) -> str:
        return (
            f"list_sum(list_transform({col}, (v, i) ->"
            f" v * pow({decay}, len({col}) - i)))"
            f" / ((1.0 - pow({decay}, len({col}))) / {alpha})"
        )

    frame = f"ROWS BETWEEN {span - 1} PRECEDING AND CURRENT ROW"
    return f"""
    WITH {_CANDLE_CTE},
    f1 AS (
      SELECT user_id, day, list(CAST(close_c AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY day {frame}) AS v0
      FROM candle),
    s1 AS (SELECT user_id, day, {fold('v0')} AS e1 FROM f1),
    f2 AS (
      SELECT user_id, day, list(e1) OVER (
               PARTITION BY user_id ORDER BY day {frame}) AS v1
      FROM s1),
    s2 AS (SELECT user_id, day, {fold('v1')} AS e2 FROM f2),
    f3 AS (
      SELECT user_id, day, list(e2) OVER (
               PARTITION BY user_id ORDER BY day {frame}) AS v2
      FROM s2),
    s3 AS (SELECT user_id, day, {fold('v2')} AS e3 FROM f3),
    lagged AS (
      SELECT user_id, day, e3,
             lag(e3) OVER (PARTITION BY user_id ORDER BY day) AS pe3
      FROM s3)
    SELECT user_id, day,
           CAST(round((e3 - pe3) / pe3 * 1e6) AS BIGINT) / 1e6 AS trix
    FROM lagged
    """


@_register(
    "window_trix",
    _trix_oracle(),
    note="TRIX (1-period rate of change of a triple-smoothed EWMA) "
    "over per-user daily closes: three stacked normalized "
    "bounded-frame folds (decay 3/4, every in-frame power exact in a "
    "double, folds run in frame order on both engines -- the macd "
    "precedent chained), rate of change at integer 1e-6 scale",
)
def _window_trix(spark, sf):
    return temporal.window_trix(_t(spark, sf, "events"))


def _hull_oracle(span: int = 12) -> str:
    half, sq = span // 2, max(2, int(span ** 0.5))

    def wma(col: str) -> str:
        return (
            f"list_sum(list_transform({col}, (v, i) -> v * i))"
            f" / (len({col}) * (len({col}) + 1) / 2.0)"
        )

    return f"""
    WITH {_CANDLE_CTE},
    fr AS (
      SELECT user_id, day,
             list(CAST(close_c AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN {half - 1} PRECEDING AND CURRENT ROW) AS vh,
             list(CAST(close_c AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN {span - 1} PRECEDING AND CURRENT ROW) AS vf
      FROM candle),
    staged AS (
      SELECT user_id, day,
             CAST(round((2.0 * ({wma('vh')}) - ({wma('vf')})) * 1e4)
                  AS BIGINT) AS d4
      FROM fr),
    outp AS (
      SELECT user_id, day,
             list(CAST(d4 AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN {sq - 1} PRECEDING AND CURRENT ROW) AS vo
      FROM staged)
    SELECT user_id, day,
           CAST(round({wma('vo')}) AS BIGINT) / 1e6 AS hma
    FROM outp
    """


@_register(
    "window_hull_ma",
    _hull_oracle(),
    note="Hull moving average (WMA over sqrt(n) lags of 2*WMA(n/2) - "
    "WMA(n), the low-lag smoother) over per-user daily closes: "
    "integer linear-weight folds in frame order, the 2a-b stage "
    "QUANTIZED to exact 1e-4-cent integers before the outer pass "
    "(the segment-tree fold-order lesson), output dollars at 1e-6",
)
def _window_hull_ma(spark, sf):
    return temporal.window_hull_ma(_t(spark, sf, "events"))


@_register(
    "window_dpo",
    f"""
    WITH {_CANDLE_CTE},
    staged AS (
      SELECT user_id, day, close_c,
             CAST(round(sum(close_c) OVER wr * 1e4
                        / CAST(count(close_c) OVER wr AS DOUBLE))
                  AS BIGINT) AS sma4
      FROM candle
      WINDOW wr AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT user_id, day, close_c,
           CAST(close_c * 10000
                - lag(sma4, 8) OVER (PARTITION BY user_id ORDER BY day)
                AS DOUBLE) / 1e4 AS dpo
    FROM staged
    """,
    note="detrended price oscillator (close minus the displaced "
    "SMA(14) -- the cycle isolator) per user: SMA quantized to exact "
    "1e-4-cent integers before the lag, dpo exact on that lattice; "
    "first span/2+1 days NULL on both engines",
)
def _window_dpo(spark, sf):
    return temporal.window_dpo(_t(spark, sf, "events"))


#: exact-decay EWMA fold over the frame list -- the window_keltner
#: identity (dyadic decay 7/8: every in-frame power exactly
#: representable, fold order = frame order on both engines).
_EWMA_7_8 = (
    "list_sum(list_transform(vc, (v, i) ->"
    " v * pow(0.875, len(vc) - i)))"
    " / ((1.0 - pow(0.875, len(vc))) / 0.125)"
)


@_register(
    "window_elder_ray",
    f"""
    WITH {_CANDLE_CTE},
    fr AS (
      SELECT user_id, day, high_c, low_c,
             list(CAST(close_c AS DOUBLE)) OVER we AS vc
      FROM candle
      WINDOW we AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 17 PRECEDING AND CURRENT ROW))
    SELECT user_id, day,
           round((high_c - ({_EWMA_7_8})) / 100.0, 6) AS bull_power,
           round((low_c - ({_EWMA_7_8})) / 100.0, 6) AS bear_power
    FROM fr
    """,
    note="Elder-Ray bull/bear power: day extremes minus the "
    "exact-decay EWMA center (window_keltner's 7/8 fold -- "
    "bit-identical cross-engine); one user_id exchange",
)
def _window_elder_ray(spark, sf):
    return temporal.window_elder_ray(_t(spark, sf, "events"))


@_register(
    "window_cmf",
    f"""
    WITH {_CANDLE_VOL_CTE},
    mf AS (
      SELECT user_id, day, n_ev,
             CASE WHEN high_c > low_c
                  THEN CAST(round((2 * close_c - high_c - low_c)
                                  * CAST(n_ev AS DOUBLE) * 1e6
                                  / (high_c - low_c)) AS BIGINT)
                  ELSE 0 END AS mfv6
      FROM candle)
    SELECT user_id, day,
           round(CAST(sum(mfv6) OVER wr AS DOUBLE)
                 / (1e6 * CAST(sum(n_ev) OVER wr AS DOUBLE)), 4) AS cmf
    FROM mf
    WINDOW wr AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    note="Chaikin Money Flow over daily candles: per-day money-flow "
    "volume quantized to exact 1e-6 integers BEFORE the rolling sums "
    "(segment-tree fold-order lesson); flat days carry zero flow, "
    "full volume",
)
def _window_cmf(spark, sf):
    return temporal.window_cmf(_t(spark, sf, "events"))


@_register(
    "window_coppock",
    f"""
    WITH {_CANDLE_CTE},
    rc AS (
      SELECT user_id, day,
             CAST(round((CASE WHEN lag(close_c, 14) OVER wo > 0
                         THEN (CAST(close_c AS DOUBLE)
                               - lag(close_c, 14) OVER wo)
                              / lag(close_c, 14) OVER wo END
                         + CASE WHEN lag(close_c, 11) OVER wo > 0
                           THEN (CAST(close_c AS DOUBLE)
                                 - lag(close_c, 11) OVER wo)
                                / lag(close_c, 11) OVER wo END) * 1e8)
                  AS BIGINT) AS r8
      FROM candle
      WINDOW wo AS (PARTITION BY user_id ORDER BY day)),
    fr AS (
      SELECT user_id, day,
             list(CAST(r8 AS DOUBLE)) OVER ww AS vr,
             count(r8) OVER ww AS nw
      FROM rc WHERE r8 IS NOT NULL
      WINDOW ww AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
    SELECT user_id, day,
           round(list_sum(list_transform(vr, (v, i) -> v * i))
                 / (CAST(nw * (nw + 1) AS DOUBLE) / 2.0 * 1e8),
                 6) AS coppock
    FROM fr
    """,
    note="Coppock curve: ROC(14)+ROC(11) quantized to exact 1e-8 "
    "integers before the 10-lag integer-weighted WMA fold (the "
    "hull_ma discipline); no-lookback days dropped pre-frame so both "
    "engines fold identical value sequences",
)
def _window_coppock(spark, sf):
    return temporal.window_coppock(_t(spark, sf, "events"))


@_register(
    "window_mass_index",
    f"""
    WITH {_CANDLE_CTE},
    s1 AS (
      SELECT user_id, day,
             list(CAST(high_c - low_c AS DOUBLE)) OVER we AS vc
      FROM candle
      WINDOW we AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 17 PRECEDING AND CURRENT ROW)),
    s1e AS (
      SELECT user_id, day, ({_EWMA_7_8}) AS e1 FROM s1),
    s2 AS (
      SELECT user_id, day, e1,
             list(e1) OVER we AS ve
      FROM s1e
      WINDOW we AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 17 PRECEDING AND CURRENT ROW)),
    s2e AS (
      SELECT user_id, day, e1,
             list_sum(list_transform(ve, (v, i) ->
                 v * pow(0.875, len(ve) - i)))
               / ((1.0 - pow(0.875, len(ve))) / 0.125) AS e2
      FROM s2),
    rr AS (
      SELECT user_id, day,
             CASE WHEN e2 > 0
                  THEN CAST(round(e1 * 1e8 / e2) AS BIGINT)
                  ELSE 0 END AS r8
      FROM s2e)
    SELECT user_id, day,
           CAST(sum(r8) OVER wm AS DOUBLE) / 1e8 AS mass_index
    FROM rr
    WINDOW wm AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    """,
    note="mass index (rolling 25-day sum of EMA(range)/EMA(EMA)): "
    "inner fold on integer cent ranges with the exact dyadic 7/8 "
    "decay, outer fold on the resulting identical doubles in frame "
    "order, ratio quantized to 1e-8 integers before the frame sum "
    "(whose /1e8 ships UNROUNDED -- the integer sum lands exactly on "
    "grid points where a closing round(x,6) splits engines); "
    "opening flat-candle runs carry ratio 0",
)
def _window_mass_index(spark, sf):
    return temporal.window_mass_index(_t(spark, sf, "events"))


@_register(
    "window_choppiness",
    f"""
    WITH {_CANDLE_CTE},
    tr AS (
      SELECT user_id, day, high_c, low_c,
             CASE WHEN lag(close_c) OVER wo IS NULL
                  THEN high_c - low_c
                  ELSE greatest(high_c - low_c,
                                abs(high_c - lag(close_c) OVER wo),
                                abs(low_c - lag(close_c) OVER wo))
             END AS tr1
      FROM candle
      WINDOW wo AS (PARTITION BY user_id ORDER BY day)),
    fr AS (
      SELECT user_id, day,
             sum(tr1) OVER wr AS trs,
             max(high_c) OVER wr - min(low_c) OVER wr AS rng,
             count(*) OVER wr AS nw
      FROM tr
      WINDOW wr AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT user_id, day,
           CASE WHEN rng > 0 AND nw > 1
                THEN round(100.0 * log10(CAST(trs AS DOUBLE)
                                         / CAST(rng AS DOUBLE))
                           / log10(CAST(nw AS DOUBLE)), 6)
           END AS chop
    FROM fr
    """,
    note="choppiness index (trend-vs-churn regime gate): true ranges "
    "and the window envelope are exact integer cents, both log10 "
    "arguments integer ratios -- identical doubles into identical "
    "logs; flat or single-day windows NULL",
)
def _window_choppiness(spark, sf):
    return temporal.window_choppiness(_t(spark, sf, "events"))


@_register(
    "window_ultimate_oscillator",
    f"""
    WITH {_CANDLE_CTE},
    bt AS (
      SELECT user_id, day,
             close_c - CASE WHEN lag(close_c) OVER wo IS NULL
                            THEN low_c
                            ELSE least(low_c, lag(close_c) OVER wo)
                       END AS bp,
             CASE WHEN lag(close_c) OVER wo IS NULL
                  THEN high_c ELSE greatest(high_c,
                                            lag(close_c) OVER wo)
             END
             - CASE WHEN lag(close_c) OVER wo IS NULL
                    THEN low_c
                    ELSE least(low_c, lag(close_c) OVER wo)
               END AS tr
      FROM candle
      WINDOW wo AS (PARTITION BY user_id ORDER BY day)),
    fr AS (
      SELECT user_id, day,
             sum(bp) OVER w1 AS bp1, sum(tr) OVER w1 AS tr1,
             sum(bp) OVER w2 AS bp2, sum(tr) OVER w2 AS tr2,
             sum(bp) OVER w3 AS bp3, sum(tr) OVER w3 AS tr3
      FROM bt
      WINDOW w1 AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
             w3 AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
    SELECT user_id, day,
           CASE WHEN tr1 > 0 AND tr2 > 0 AND tr3 > 0
                THEN round(100.0 * (4 * CAST(bp1 AS DOUBLE) / tr1
                                    + 2 * CAST(bp2 AS DOUBLE) / tr2
                                    + CAST(bp3 AS DOUBLE) / tr3)
                           / 7.0, 4)
           END AS ultimate_osc
    FROM fr
    """,
    note="Ultimate Oscillator (7/14/28-day buying-pressure blend, "
    "4:2:1 weights): integer-cent BP and TR frame sums, three "
    "integer-ratio doubles blended in one expression; zero "
    "true-range windows NULL",
)
def _window_ultimate_oscillator(spark, sf):
    return temporal.window_ultimate_oscillator(_t(spark, sf, "events"))
