"""round-9 batches 3-4 of the declared query registry: paired /
blocked classical tests (McNemar, Cochran's Q, Friedman ranks,
Cohen's kappa, Cronbach's alpha), serial-correlation diagnostics
(Durbin-Watson, PACF), mutual information, product growth accounting
(new/retained/resurrected/churned, activation latency, peak session
concurrency, active-days histogram), volume/risk technical
indicators (OBV, Donchian, MFI, Keltner, Ulcer index), text/LM
source diagnostics (character JS divergence, Simpson diversity, word
burstiness, cross entropy), two multimodal codec readouts (RMS
contrast, crest factor), and a nation trade-balance SQL intake query.

Every query is hash-oracled (DuckDB SQL over the same parquet); the
cross-engine exactness rules are the registry's usual ones: integer
sufficient statistics, at most one double expression per output
column written in the same operation order on both sides, identical
rounding, ties broken by unique keys.

Reference licence: all are multi-round grouped aggregations /
windows, the workload class the reference's map->shuffle->sort->
reduce core exists to express (SURVEY.md section 2A;
src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52 is its one
shipped job).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ...operators import (  # noqa: F401
    analytics,
    dedup,
    temporal,
    text,
)
from .core import (  # noqa: F401
    _EVTS,
    _register,
    _t,
)
from .round9 import _CANDLE_CTE  # noqa: F401

# ------------------------------------------------ shared SQL fragments

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

#: per-user (early, late) conversion bit pair -- mirror of
#: analytics.mcnemar_paired's per-user stage.
_PAIRED_BITS_CTE = """
    pu AS (
      SELECT user_id,
             max(CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) <= 15
                       AND event_type = 'purchase' THEN 1 ELSE 0 END)
               AS early,
             max(CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) > 15
                       AND event_type = 'purchase' THEN 1 ELSE 0 END)
               AS late
      FROM events GROUP BY user_id)
"""


# -------------------------------------------------- classical statistics


@_register(
    "stats_mcnemar",
    f"""
    WITH {_PAIRED_BITS_CTE},
    agg AS (
      SELECT count(*) AS n_users,
             sum(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END) AS c
      FROM pu)
    SELECT CAST(n_users AS BIGINT) AS n_users,
           CAST(b AS BIGINT) AS b_early_only,
           CAST(c AS BIGINT) AS c_late_only,
           round(CASE WHEN b + c > 0 THEN
                   pow(b - c, 2) / CAST(b + c AS DOUBLE)
                 END, 4) AS mcnemar_chi2
    FROM agg
    """,
    note="McNemar paired-binary test (converted early-month vs "
    "late-month, same users): only discordant pairs carry signal; "
    "exact integer b/c counts, chi2 one double division",
)
def _stats_mcnemar(spark, sf):
    return analytics.mcnemar_paired(_t(spark, sf, "events"))


@_register(
    "stats_cochran_q",
    """
    WITH pu AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x0,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x1,
             max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS x2
      FROM events GROUP BY user_id),
    agg AS (
      SELECT count(*) AS n_users,
             sum(x0) AS c0, sum(x1) AS c1, sum(x2) AS c2,
             sum((x0 + x1 + x2) * (x0 + x1 + x2)) AS ssq_rows
      FROM pu)
    SELECT CAST(n_users AS BIGINT) AS n_users,
           CAST(3 AS BIGINT) AS k,
           CAST(c0 + c1 + c2 AS BIGINT) AS t_total,
           round(CASE WHEN 3 * (c0 + c1 + c2) - ssq_rows > 0 THEN
                   2 * CAST(3 * (c0 * c0 + c1 * c1 + c2 * c2)
                            - (c0 + c1 + c2) * (c0 + c1 + c2) AS DOUBLE)
                   / CAST(3 * (c0 + c1 + c2) - ssq_rows AS DOUBLE)
                 END, 4) AS q_stat
    FROM agg
    """,
    note="Cochran's Q over k=3 did-the-user-do-it treatments "
    "(click/purchase/error): every sufficient statistic an exact "
    "integer bit sum, Q one double; NULL when all rows are constant",
)
def _stats_cochran_q(spark, sf):
    return analytics.cochran_q(_t(spark, sf, "events"))


@_register(
    "stats_friedman",
    """
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type),
    users AS (SELECT DISTINCT user_id FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    dense AS (
      SELECT u.user_id, t.event_type, coalesce(c.cnt, 0) AS cnt
      FROM users u CROSS JOIN types t
      LEFT JOIN counts c
        ON c.user_id = u.user_id AND c.event_type = t.event_type),
    ranked AS (
      SELECT user_id, event_type,
             2 * rank() OVER (PARTITION BY user_id ORDER BY cnt)
             + count(*) OVER (PARTITION BY user_id, cnt) - 1 AS mr2
      FROM dense),
    sums AS (
      SELECT event_type,
             CAST(sum(mr2) AS BIGINT) AS rank_sum_x2,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM ranked GROUP BY event_type),
    stat AS (
      SELECT round(12.0 / CAST(max(n_blocks) * count(*) * (count(*) + 1)
                               AS DOUBLE)
                   * (CAST(sum(rank_sum_x2 * rank_sum_x2) AS DOUBLE) / 4.0)
                   - 3.0 * max(n_blocks) * (count(*) + 1), 4)
               AS friedman_stat
      FROM sums)
    SELECT event_type, rank_sum_x2, n_blocks, friedman_stat
    FROM sums, stat
    """,
    note="Friedman rank test (users = blocks, event types = "
    "treatments, response = per-user type count over a dense grid): "
    "doubled midranks keep the rank sums on the integer lattice; the "
    "classic statistic (no tie correction, stated on both sides) is "
    "one double off integer rank sums",
)
def _stats_friedman(spark, sf):
    return analytics.friedman_ranks(_t(spark, sf, "events"))


_DAILY_X_CTE = """
    daily AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             count(*) AS x
      FROM events GROUP BY 1)
"""


@_register(
    "stats_durbin_watson",
    f"""
    WITH {_DAILY_X_CTE},
    t0 AS (SELECT min(day) AS d0 FROM daily),
    dd AS (SELECT date_diff('day', d0, day) AS t, x FROM daily, t0),
    mo AS (
      SELECT count(*) AS n, sum(t) AS st, sum(t * t) AS stt,
             sum(x) AS sy, sum(t * x) AS sty
      FROM dd),
    fit AS (
      SELECT n, st, sy,
             CAST(CAST(n * sty - st * sy AS BIGINT) AS DOUBLE)
             / CAST(CAST(n * stt - st * st AS BIGINT) AS DOUBLE) AS b
      FROM mo),
    res AS (
      SELECT dd.t, CAST(n AS BIGINT) AS n_days,
             round(b, 6) AS slope_per_day,
             CAST(round((CAST(x AS DOUBLE)
                         - (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE))
                           / CAST(n AS DOUBLE)
                         - b * CAST(t AS DOUBLE)) * 1e6) AS BIGINT) AS e6
      FROM dd, fit),
    lagged AS (
      SELECT n_days, slope_per_day, e6,
             e6 - lag(e6) OVER (ORDER BY t) AS de6
      FROM res)
    SELECT n_days, slope_per_day,
           round(CAST(sum(de6 * de6) AS DOUBLE)
                 / CAST(sum(e6 * e6) AS DOUBLE), 4) AS dw_stat
    FROM lagged GROUP BY n_days, slope_per_day
    """,
    note="Durbin-Watson on the daily-count OLS residuals: exact "
    "integer moment sums, slope/intercept each one double in the "
    "same operation order on both engines, residuals rounded to 1e-6 "
    "integers so the lag-difference fold is exact",
)
def _stats_durbin_watson(spark, sf):
    return analytics.durbin_watson_daily(_t(spark, sf, "events"))


@_register(
    "stats_mutual_information",
    """
    WITH cells AS (
      SELECT event_type,
             dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
             count(*) AS n_obs
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(n_obs) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT dow, sum(n_obs) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT sum(n_obs) AS n FROM cells),
    terms AS (
      SELECT n, n_obs,
             CAST(round((CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(n_obs AS DOUBLE) * CAST(n AS DOUBLE)
                             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
                        * 1e9) AS BIGINT) AS nano
      FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), tot)
    SELECT CAST(max(n) AS BIGINT) AS n_obs,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(nano) AS BIGINT) AS mi_nanonats,
           round(CAST(sum(nano) AS BIGINT) / 1e9, 6) AS mi_nats
    FROM terms
    """,
    note="mutual information between event_type and day-of-week: "
    "per-cell terms one double each off exact integer counts, "
    "rounded to integer nano-nats and summed exactly (no cross-cell "
    "double fold); marginals broadcast",
)
def _stats_mutual_information(spark, sf):
    return analytics.mutual_information(_t(spark, sf, "events"))


@_register(
    "stats_pacf",
    f"""
    WITH {_DAILY_X_CTE},
    led AS (
      SELECT x,
             lead(x, 1) OVER (ORDER BY day) AS x1,
             lead(x, 2) OVER (ORDER BY day) AS x2
      FROM daily),
    mo AS (
      SELECT count(*) AS n, sum(x) AS s, sum(x * x) AS sxx,
             sum(x * x1) AS c1,
             sum(CASE WHEN x1 IS NOT NULL THEN x END) AS a1,
             sum(x1) AS b1,
             sum(x * x2) AS c2,
             sum(CASE WHEN x2 IS NOT NULL THEN x END) AS a2,
             sum(x2) AS b2
      FROM led),
    g AS (
      SELECT n,
             CAST(CAST(n * n * sxx - n * s * s AS BIGINT) AS DOUBLE) AS g0,
             CAST(CAST(n * n * c1 - n * s * (a1 + b1) + (n - 1) * s * s
                       AS BIGINT) AS DOUBLE) AS g1,
             CAST(CAST(n * n * c2 - n * s * (a2 + b2) + (n - 2) * s * s
                       AS BIGINT) AS DOUBLE) AS g2
      FROM mo)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(g1 / g0, 6) AS r1,
           round(g2 / g0, 6) AS r2,
           round(CASE WHEN (g1 / g0) * (g1 / g0) <> 1.0 THEN
                   (g2 / g0 - (g1 / g0) * (g1 / g0))
                   / (1.0 - (g1 / g0) * (g1 / g0))
                 END, 6) AS pacf_lag2
    FROM g
    """,
    note="partial autocorrelation of daily counts at lags 1-2 "
    "(Durbin-Levinson closed form): lag covariances assembled from "
    "n^2-scaled exact integer sums, r1/r2/phi22 the only doubles",
)
def _stats_pacf(spark, sf):
    return analytics.pacf_daily(_t(spark, sf, "events"))


# ------------------------------------------------------ product analytics


@_register(
    "events_growth_accounting",
    """
    WITH active AS (
      SELECT DISTINCT user_id,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
      FROM events),
    fl AS (
      SELECT user_id, day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      FROM active),
    st AS (
      SELECT day,
             sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS n_new,
             sum(CASE WHEN prev_day IS NOT NULL
                       AND date_diff('day', prev_day, day) = 1
                      THEN 1 ELSE 0 END) AS n_retained,
             sum(CASE WHEN prev_day IS NOT NULL
                       AND date_diff('day', prev_day, day) > 1
                      THEN 1 ELSE 0 END) AS n_resurrected
      FROM fl GROUP BY day),
    ld AS (SELECT max(day) AS last_day FROM active),
    ch AS (
      SELECT day + INTERVAL 1 DAY AS day, count(*) AS n_churned
      FROM fl, ld
      WHERE (next_day IS NULL OR date_diff('day', day, next_day) > 1)
        AND day < last_day
      GROUP BY 1)
    SELECT coalesce(st.day, ch.day) AS day,
           CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
           CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
           CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected,
           CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
    FROM st FULL OUTER JOIN ch ON st.day = ch.day
    """,
    note="daily growth accounting (new/retained/resurrected/churned "
    "ledger, DAU = new + retained + resurrected): distinct user-day "
    "reduction, one user-keyed lag/lead window, two day-keyed "
    "rollups merged by a full outer join on the day-bounded ledger",
)
def _events_growth_accounting(spark, sf):
    return analytics.growth_accounting(_t(spark, sf, "events"))


@_register(
    "events_time_to_nth",
    f"""
    WITH r AS (
      SELECT user_id, ts,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM {_EVTS}),
    pu AS (
      SELECT user_id,
             max(CASE WHEN rn = 5 THEN epoch_us(ts) END) AS t_nth,
             min(CASE WHEN rn = 1 THEN epoch_us(ts) END) AS t_first
      FROM r WHERE rn IN (1, 5) GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(t_nth - t_first) AS BIGINT) AS n_reached,
           round(quantile_cont(t_nth - t_first, 0.5) / 1e6, 4) AS median_s,
           round(quantile_cont(t_nth - t_first, 0.9) / 1e6, 4) AS p90_s
    FROM pu
    """,
    note="activation latency (first event -> 5th event, per user): "
    "microsecond-exact integer gaps, exact interpolated median/p90 "
    "over the user-count-bounded gap set",
)
def _events_time_to_nth(spark, sf):
    return analytics.time_to_nth_event(_t(spark, sf, "events"))


@_register(
    "events_concurrency_peak",
    f"""
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    fl AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    se AS (
      SELECT user_id, ts,
             sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM fl),
    ses AS (
      SELECT user_id, session_id,
             min(ts) AS t_start, max(ts) AS t_end
      FROM se GROUP BY user_id, session_id),
    spans AS (
      SELECT user_id, session_id, t_start, t_end,
             unnest(generate_series(date_trunc('day', t_start),
                                    date_trunc('day', t_end),
                                    INTERVAL 1 DAY)) AS day
      FROM ses),
    pts AS (
      SELECT day, greatest(t_start, CAST(day AS TIMESTAMP)) AS ts,
             1 AS delta, user_id, session_id
      FROM spans
      UNION ALL
      SELECT day, t_end, -1, user_id, session_id
      FROM spans WHERE date_trunc('day', t_end) = day),
    run AS (
      SELECT day,
             sum(delta) OVER (
               PARTITION BY day
               ORDER BY ts, delta DESC, user_id, session_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
      FROM pts),
    tou AS (SELECT day, count(*) AS n FROM spans GROUP BY day)
    SELECT run.day,
           CAST(max(tou.n) AS BIGINT) AS n_sessions_touching,
           CAST(max(run.load) AS BIGINT) AS peak_concurrent
    FROM run JOIN tou ON run.day = tou.day
    GROUP BY run.day
    """,
    note="peak concurrent 30-min-gap sessions per day: sweep-line "
    "partitioned BY DAY (closed intervals: starts before ends at "
    "equal timestamps, so single-event sessions register), "
    "midnight carry-over re-emitted by the day-spanning explode, so "
    "no global-order window ever sees more than a day of points",
)
def _events_concurrency_peak(spark, sf):
    return analytics.concurrency_peak(_t(spark, sf, "events"))


# -------------------------------------------------- technical indicators


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


# ------------------------------------------------------------- text


@_register(
    "text_char_js_divergence",
    """
    WITH chars AS (
      SELECT source,
             unnest(list_transform(range(1, length(text) + 1),
                    i -> substr(text, CAST(i AS INT), 1))) AS ch
      FROM documents WHERE length(text) > 0),
    sc AS (SELECT source, ch, count(*) AS c_s
           FROM chars GROUP BY source, ch),
    gc AS (SELECT ch, count(*) AS c_g FROM chars GROUP BY ch),
    ns AS (SELECT source, sum(c_s) AS n_s FROM sc GROUP BY source),
    ng AS (SELECT sum(c_g) AS n_g FROM gc),
    grid AS (
      SELECT ns.source, ns.n_s,
             coalesce(sc.c_s, 0) AS c_s, gc.c_g, ng.n_g
      FROM ns CROSS JOIN gc
      LEFT JOIN sc ON sc.source = ns.source AND sc.ch = gc.ch
      CROSS JOIN ng),
    terms AS (
      SELECT source, n_s,
             CAST(round((CASE WHEN c_s > 0 THEN
                           0.5 * (CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE))
                           * ln((CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE))
                                / ((CAST(c_s AS DOUBLE)
                                    / CAST(n_s AS DOUBLE)
                                    + CAST(c_g AS DOUBLE)
                                      / CAST(n_g AS DOUBLE)) / 2.0))
                         ELSE 0.0 END
                         + 0.5 * (CAST(c_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                           * ln((CAST(c_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                                / ((CAST(c_s AS DOUBLE)
                                    / CAST(n_s AS DOUBLE)
                                    + CAST(c_g AS DOUBLE)
                                      / CAST(n_g AS DOUBLE)) / 2.0)))
                        * 1e9) AS BIGINT) AS nano
      FROM grid)
    SELECT source,
           CAST(max(n_s) AS BIGINT) AS n_chars,
           CAST(sum(nano) AS BIGINT) AS js_nanonats,
           round(CAST(sum(nano) AS BIGINT) / 1e9, 6) AS js_nats
    FROM terms GROUP BY source
    """,
    note="per-source character-distribution JS divergence vs the "
    "corpus (drift/contamination detector for TEXT, where "
    "ks_drift/psi_drift cover numerics): per-(source, char) terms "
    "one double each, integer nano-nat rounding, exact sums; dense "
    "source x alphabet grid is alphabet-bounded",
)
def _text_char_js_divergence(spark, sf):
    return text.char_js_divergence(_t(spark, sf, "documents"))


# -------------------------------------------------------- SQL intake


@_register(
    "sql_nation_trade_balance",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="per-nation trade balance (exports minus imports, domestic "
    "flows excluded) through the spark.sql intake: one flows "
    "aggregation, two-sided UNION ALL unpivot instead of an OR-join "
    "against the nation dimension, DECIMAL cents end to end",
)
def _sql_nation_trade_balance(spark, sf):
    from ..sql import NATION_TRADE_BALANCE, run_sql

    return run_sql(spark, sf, NATION_TRADE_BALANCE)


def _attach_sql_oracles() -> None:
    """sql_* queries' oracle IS the query text (dialect-shared subset)."""
    from .core import _REGISTRY, QuerySpec
    from .. import sql as _sql

    for name, stmt in (
        ("sql_nation_trade_balance", _sql.NATION_TRADE_BALANCE),
    ):
        spec = _REGISTRY[name]
        _REGISTRY[name] = QuerySpec(spec.name, spec.fn, stmt, spec.note)


_attach_sql_oracles()


# ------------------------------------------------ batch 4 (same round)

from ...operators import multimodal  # noqa: E402,F401
from .core import _TOKS, _EN, _ES, _DE  # noqa: E402,F401
from .multimodal import _PAYLOAD_CTE  # noqa: E402,F401

#: lang_id prediction CTE chain (verbatim from the lang_id oracle).
_LANG_PRED_CTE = f"""
    toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    h AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(t, x -> x IN {_EN})) AS INTEGER) AS en_hits,
             CAST(len(list_filter(t, x -> x IN {_ES})) AS INTEGER) AS es_hits,
             CAST(len(list_filter(t, x -> x IN {_DE})) AS INTEGER) AS de_hits
      FROM toks),
    p AS (
      SELECT lang,
             CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= de_hits THEN 'es'
                  ELSE 'de' END AS pred_lang
      FROM h)
"""

#: dense user x event_type count grid (shared by friedman / cronbach).
_DENSE_GRID_CTE = """
    counts AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type),
    users AS (SELECT DISTINCT user_id FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    dense AS (
      SELECT u.user_id, t.event_type, coalesce(c.cnt, 0) AS cnt
      FROM users u CROSS JOIN types t
      LEFT JOIN counts c
        ON c.user_id = u.user_id AND c.event_type = t.event_type)
"""


@_register(
    "stats_cohens_kappa",
    f"""
    WITH {_LANG_PRED_CTE},
    cm AS (SELECT lang, pred_lang, count(*) AS n_cell
           FROM p GROUP BY lang, pred_lang),
    r AS (SELECT lang, sum(n_cell) AS r FROM cm GROUP BY lang),
    c AS (SELECT pred_lang, sum(n_cell) AS c FROM cm GROUP BY pred_lang),
    ch AS (SELECT sum(r.r * c.c) AS rc
           FROM r JOIN c ON r.lang = c.pred_lang),
    a AS (SELECT sum(n_cell) AS n,
                 sum(CASE WHEN lang = pred_lang THEN n_cell END) AS diag
          FROM cm)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(diag AS BIGINT) AS n_agree,
           round(CASE WHEN n * n <> rc THEN
                   CAST(n * diag - rc AS DOUBLE)
                   / CAST(n * n - rc AS DOUBLE)
                 END, 4) AS kappa
    FROM a, ch
    """,
    note="Cohen's kappa between the stopword language heuristic and "
    "the labeled lang column (lang_id_confusion's chance-corrected "
    "scalar): integer confusion-cell sufficient statistics, kappa "
    "one double",
)
def _stats_cohens_kappa(spark, sf):
    return text.lang_id_kappa(_t(spark, sf, "documents"))


@_register(
    "stats_cronbach_alpha",
    f"""
    WITH {_DENSE_GRID_CTE},
    pi AS (SELECT event_type, count(*) AS n, sum(cnt) AS s,
                  sum(cnt * cnt) AS ssq
           FROM dense GROUP BY event_type),
    itf AS (SELECT max(n) AS n, count(*) AS k,
                   sum(n * ssq - s * s) AS sum_vj
            FROM pi),
    pu AS (SELECT user_id, sum(cnt) AS tot FROM dense GROUP BY user_id),
    tf AS (SELECT sum(tot) AS st, sum(tot * tot) AS stt,
                  count(*) AS n2
           FROM pu)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(k AS BIGINT) AS k,
           round(CASE WHEN n2 * stt - st * st > 0 THEN
                   CAST(k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
                   * (1.0 - CAST(sum_vj AS DOUBLE)
                            / CAST(n2 * stt - st * st AS DOUBLE))
                 END, 4) AS alpha
    FROM itf, tf
    """,
    note="Cronbach's alpha over the k event-type items (is per-type "
    "activity one engagement trait): item and row-total variances at "
    "n^2 scale from exact integer sums (the factor cancels), alpha "
    "one double; stats_friedman's dense grid reused",
)
def _stats_cronbach_alpha(spark, sf):
    return analytics.cronbach_alpha(_t(spark, sf, "events"))


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
    "events_active_days_histogram",
    """
    WITH ad AS (
      SELECT user_id,
             count(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)))
               AS active_days
      FROM events GROUP BY user_id),
    h AS (SELECT active_days, count(*) AS n_users
          FROM ad GROUP BY active_days),
    t AS (SELECT sum(n_users) AS total FROM h)
    SELECT CAST(active_days AS BIGINT) AS active_days,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(round(n_users * 1e6 / CAST(total AS DOUBLE)) AS BIGINT)
             / 1e6 AS share
    FROM h, t
    """,
    note="engagement-frequency histogram (users by distinct active "
    "days -- the L28-style distribution DAU/WAU/MAU averages hide): "
    "distinct user-day reduction, day-count-bounded histogram, "
    "shares at integer 1e-6 scale",
)
def _events_active_days_histogram(spark, sf):
    return analytics.active_days_histogram(_t(spark, sf, "events"))


@_register(
    "text_simpson_diversity",
    f"""
    WITH words AS (
      SELECT source, unnest({_TOKS}) AS word FROM documents),
    wc AS (SELECT source, word, count(*) AS c
           FROM words GROUP BY source, word),
    a AS (SELECT source, sum(c) AS n, count(*) AS n_types,
                 sum(c * (c - 1)) AS coll
          FROM wc GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           round(CASE WHEN n > 1 THEN
                   1.0 - CAST(coll AS DOUBLE)
                         / CAST(n * (n - 1) AS DOUBLE)
                 END, 6) AS simpson_diversity
    FROM a
    """,
    note="per-source Simpson lexical diversity (probability two "
    "tokens differ, length-unbiased unlike TTR): integer collision "
    "counts, one double per source",
)
def _text_simpson_diversity(spark, sf):
    return text.simpson_diversity(_t(spark, sf, "documents"))


@_register(
    "text_word_burstiness",
    f"""
    WITH dw AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
      GROUP BY doc_id, word),
    pw AS (SELECT word, count(*) AS df, sum(c) AS total,
                  sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS df_ge2
           FROM dw GROUP BY word),
    top AS (SELECT * FROM pw
            ORDER BY df DESC, total DESC, word LIMIT 100)
    SELECT word, CAST(df AS BIGINT) AS df,
           CAST(total AS BIGINT) AS total_count,
           round(CAST(total AS DOUBLE) / CAST(df AS DOUBLE), 6)
             AS mean_per_doc,
           CAST(round(df_ge2 * 1e6 / CAST(df AS DOUBLE)) AS BIGINT)
             / 1e6 AS repeat_doc_share
    FROM top
    """,
    note="Church-Gale word burstiness for the top-100-df vocabulary "
    "(content words clump, function words spread thin): per-(doc, "
    "word) reduction before any ranking, deterministic (df, total, "
    "word) top-k, integer sufficient statistics",
)
def _text_word_burstiness(spark, sf):
    return text.word_burstiness(_t(spark, sf, "documents"))


@_register(
    "lm_source_cross_entropy",
    f"""
    WITH words AS (
      SELECT source, unnest({_TOKS}) AS word FROM documents),
    sc AS (SELECT source, word, count(*) AS c_s
           FROM words GROUP BY source, word),
    gc AS (SELECT word, count(*) AS c_g FROM words GROUP BY word),
    ng AS (SELECT sum(c_g) AS n_g FROM gc),
    terms AS (
      SELECT source, c_s,
             CAST(round(CAST(c_s AS DOUBLE)
                        * ln(CAST(n_g AS DOUBLE) / CAST(c_g AS DOUBLE))
                        * 1e6) AS BIGINT) AS micro
      FROM sc JOIN gc USING (word), ng)
    SELECT source, CAST(sum(c_s) AS BIGINT) AS n_tokens,
           CAST(sum(micro) AS BIGINT) AS h_micronats,
           round(CAST(sum(micro) AS BIGINT) / 1e6
                 / CAST(sum(c_s) AS DOUBLE), 6) AS cross_entropy_nats
    FROM terms GROUP BY source
    """,
    note="per-source cross entropy under the corpus unigram LM (the "
    "domain-mix diagnostic before corpus reweighting): per-(source, "
    "word) terms one double each, integer micro-nat rounding, exact "
    "sums; word-keyed count join, 1-row corpus total broadcast",
)
def _lm_source_cross_entropy(spark, sf):
    return text.source_cross_entropy(_t(spark, sf, "documents"))


@_register(
    "multimodal_image_contrast",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, unnest(range(0, w * h)) AS k
           FROM geo),
    l AS (SELECT doc_id,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 2) % n AS INT) + 1]
                      AS BIGINT) AS lum
          FROM px),
    a AS (SELECT doc_id, count(*) AS n_px, sum(lum) AS s1,
                 sum(lum * lum) AS s2
          FROM l GROUP BY doc_id)
    SELECT doc_id, CAST(n_px AS BIGINT) AS n_px,
           CAST(s1 AS BIGINT) AS lum_sum,
           round(sqrt(CAST(n_px * s2 - s1 * s1 AS DOUBLE))
                 / CAST(n_px AS DOUBLE), 4) AS rms_contrast
    FROM a
    """,
    note="per-image RMS contrast over REAL decoded BMP pixels "
    "(image_entropy's stddev companion -- flat gradients carry "
    "entropy but no contrast): Arrow kernel emits integer (n, sum, "
    "sumsq) only, the sqrt runs as a Spark expression; oracle "
    "replays every pixel from the text bytes",
)
def _multimodal_image_contrast(spark, sf):
    return multimodal.image_contrast(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_dynamic_range",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0),
    a AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
                 CAST(list_max(list_transform(s, x -> abs(x)))
                      AS BIGINT) AS peak,
                 CAST(list_sum(list_transform(s, x -> x * x))
                      AS BIGINT) AS sumsq
          FROM pcm)
    SELECT doc_id, n_samples, peak,
           round(CASE WHEN sumsq > 0 THEN
                   10.0 * log10(CAST(peak * peak * n_samples AS DOUBLE)
                                / CAST(sumsq AS DOUBLE))
                 END, 4) AS crest_db
    FROM a
    """,
    note="per-clip crest factor (peak/RMS in dB) over REAL decoded "
    "PCM -- the compression/limiting diagnostic next to "
    "audio_clipping's hard-threshold count: integer (n, peak, sumsq) "
    "from the Arrow kernel, one log10 double; oracle replays samples "
    "from text bytes",
)
def _multimodal_audio_dynamic_range(spark, sf):
    return multimodal.audio_dynamic_range(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


# ------------------------------------------------ batch 5 (same round)


@_register(
    "stats_permutation_test",
    """
    WITH base AS (
      SELECT CAST(floor(value * 100.0) AS BIGINT) AS v_c,
             CASE WHEN substr(md5(CAST(event_id AS VARCHAR) || 'ab|'),
                              1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 1 ELSE 0 END AS g,
             event_id
      FROM events),
    obs AS (
      SELECT CAST(sum(CASE WHEN g = 1 THEN v_c ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             - CAST(sum(CASE WHEN g = 0 THEN v_c ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS obs_diff
      FROM base),
    perms AS (
      SELECT b.v_c, t.k,
             CASE WHEN substr(md5(CAST(b.event_id AS VARCHAR) || ':'
                                  || CAST(t.k AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 1 ELSE 0 END AS g
      FROM base b, range(64) t(k)),
    per_k AS (
      SELECT k,
             CAST(sum(CASE WHEN g = 1 THEN v_c ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             - CAST(sum(CASE WHEN g = 0 THEN v_c ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS diff_k
      FROM perms GROUP BY k),
    race AS (
      SELECT CAST(count(*) AS BIGINT) AS k_perms,
             max(round(obs_diff, 4)) AS obs_diff,
             CAST(sum(CASE WHEN abs(diff_k) >= abs(obs_diff)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_perms_ge
      FROM per_k, obs)
    SELECT k_perms, obs_diff, n_perms_ge,
           round(CAST(n_perms_ge + 1 AS DOUBLE)
                 / CAST(k_perms + 1 AS DOUBLE), 4) AS p_value
    FROM race
    """,
    note="assumption-free permutation test for the A/B mean-value "
    "gap: 64 DETERMINISTIC md5-bit relabelings (dp_noisy_counts "
    "discipline), each folded map-side; the >= race compares "
    "identically-computed doubles; fan-out bounded by the declared "
    "K, never data-dependent",
)
def _stats_permutation_test(spark, sf):
    return analytics.permutation_test(_t(spark, sf, "events"))


@_register(
    "stats_hodges_lehmann",
    """
    WITH daily AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             sum(CAST(floor(value * 100.0) AS BIGINT)) AS y
      FROM events GROUP BY 1),
    h1 AS (SELECT y AS y1 FROM daily WHERE date_part('day', day) <= 15),
    h2 AS (SELECT y AS y2 FROM daily WHERE date_part('day', day) > 15),
    p AS (SELECT y2 - y1 AS d_c FROM h2, h1)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(d_c, 0.5) / 100.0, 4) AS hl_shift
    FROM p
    """,
    note="Hodges-Lehmann location shift (median of cross-pair "
    "differences, first vs second half-month daily volumes): pair "
    "set CALENDAR-DAY-bounded, integer cents until the exact "
    "interpolated median",
)
def _stats_hodges_lehmann(spark, sf):
    return analytics.hodges_lehmann_shift(_t(spark, sf, "events"))


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
    "text_yule_k",
    f"""
    WITH words AS (
      SELECT source, unnest({_TOKS}) AS word FROM documents),
    wc AS (SELECT source, word, count(*) AS c
           FROM words GROUP BY source, word),
    a AS (SELECT source, sum(c) AS n, count(*) AS n_types,
                 sum(c * c) AS m2
          FROM wc GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           round(1e4 * CAST(m2 - n AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 4) AS yule_k
    FROM a
    """,
    note="Yule's K repeat-rate characteristic per source (stylometry "
    "/ template-farm fingerprint; simpson_diversity's heavy-repeater-"
    "weighted sibling): integer squared-count sums, K one double",
)
def _text_yule_k(spark, sf):
    return text.yule_k(_t(spark, sf, "documents"))


@_register(
    "text_heaps_fit",
    f"""
    WITH words AS (
      SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
    fs AS (SELECT word, min(doc_id) AS d0 FROM words GROUP BY word),
    npd AS (SELECT d0 AS doc_id, count(*) AS new_words
            FROM fs GROUP BY d0),
    tpd AS (SELECT doc_id, count(*) AS n_toks FROM words GROUP BY doc_id),
    curve AS (
      SELECT t.doc_id,
             sum(t.n_toks) OVER wo AS cum_toks,
             sum(coalesce(n.new_words, 0)) OVER wo AS vocab
      FROM tpd t LEFT JOIN npd n ON n.doc_id = t.doc_id
      WINDOW wo AS (ORDER BY t.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    pts AS (
      SELECT CAST(round(ln(CAST(cum_toks AS DOUBLE)) * 1e3) AS BIGINT)
               AS x,
             CAST(round(ln(CAST(vocab AS DOUBLE)) * 1e3) AS BIGINT)
               AS y
      FROM curve WHERE cum_toks > 0),
    mo AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts),
    fit AS (
      SELECT n, sx, sy,
             CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE) AS b
      FROM mo)
    SELECT CAST(n AS BIGINT) AS n_points,
           round(b, 6) AS heaps_beta,
           round(exp(((CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE)) / 1e3), 4) AS heaps_k
    FROM fit
    """,
    note="Heaps'-law (K, beta) fit over the vocabulary growth curve: "
    "per-checkpoint log points rounded to integer MILLI-nats (micro "
    "overflows the n*sum(xy) moment past ~500 checkpoints), OLS "
    "moments fold exact integers over the doc-count-bounded series "
    "(downsample checkpoints before the fold at 1e8+ docs), slope "
    "and intercept one double each",
)
def _text_heaps_fit(spark, sf):
    return text.heaps_fit(_t(spark, sf, "documents"))


@_register(
    "orders_open_backlog",
    """
    WITH done AS (
      SELECT l_orderkey, max(l_shipdate) AS done_ts
      FROM lineitem GROUP BY l_orderkey),
    spans AS (
      SELECT date_trunc('day', o.o_orderdate) AS open_day,
             date_trunc('day', d.done_ts) AS close_day
      FROM orders o JOIN done d ON o.o_orderkey = d.l_orderkey),
    op AS (SELECT open_day AS day, count(*) AS n_opened
           FROM spans GROUP BY open_day),
    cl AS (SELECT close_day AS day, count(*) AS n_closed
           FROM spans GROUP BY close_day),
    led AS (
      SELECT coalesce(op.day, cl.day) AS day,
             coalesce(n_opened, 0) AS n_opened,
             coalesce(n_closed, 0) AS n_closed
      FROM op FULL OUTER JOIN cl ON op.day = cl.day)
    SELECT day, CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_closed AS BIGINT) AS n_closed,
           CAST(sum(n_opened - n_closed) OVER (
                  ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_backlog
    FROM led
    """,
    note="daily open-order backlog (open from order date until the "
    "LAST line ships): keyed max reduction, two day-keyed rollups, "
    "one cumulative window over the calendar-bounded ledger",
)
def _orders_open_backlog(spark, sf):
    return analytics.open_order_backlog(
        _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


@_register(
    "sql_nation_top_customers",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="top-3 customers by lifetime revenue per nation through the "
    "spark.sql intake: windowed rank inside a dimension partition, "
    "deterministic (revenue DESC, name) ties, exact 1e-4-dollar "
    "integer revenue",
)
def _sql_nation_top_customers(spark, sf):
    from ..sql import NATION_TOP_CUSTOMERS, run_sql

    return run_sql(spark, sf, NATION_TOP_CUSTOMERS)


@_register(
    "multimodal_image_quadrants",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, w, h, unnest(range(0, w * h)) AS k
           FROM geo),
    g AS (SELECT doc_id, w, h, (k // w) AS r, (k % w) AS c,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 2) % n AS INT) + 1]
                      AS BIGINT) AS lum
          FROM px),
    q AS (
      SELECT doc_id,
             sum(CASE WHEN r < h // 2 AND c < w // 2 THEN lum
                      ELSE 0 END) AS q_tl,
             sum(CASE WHEN r < h // 2 AND c >= w // 2 THEN lum
                      ELSE 0 END) AS q_tr,
             sum(CASE WHEN r >= h // 2 AND c < w // 2 THEN lum
                      ELSE 0 END) AS q_bl,
             sum(CASE WHEN r >= h // 2 AND c >= w // 2 THEN lum
                      ELSE 0 END) AS q_br
      FROM g GROUP BY doc_id)
    SELECT doc_id, CAST(q_tl AS BIGINT) AS q_tl,
           CAST(q_tr AS BIGINT) AS q_tr,
           CAST(q_bl AS BIGINT) AS q_bl,
           CAST(q_br AS BIGINT) AS q_br,
           round(CASE WHEN q_tr + q_bl > 0 THEN
                   CAST(q_tl + q_br AS DOUBLE)
                   / CAST(q_tr + q_bl AS DOUBLE)
                 END, 4) AS diag_balance
    FROM q
    """,
    note="per-image quadrant luminance balance over REAL decoded BMP "
    "pixels (composition/vignetting probe): integer quadrant sums "
    "from the Arrow kernel (floor split, middle row/col to "
    "bottom/right), one ratio double; oracle replays every pixel",
)
def _multimodal_image_quadrants(spark, sf):
    return multimodal.image_quadrants(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_envelope",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0),
    segs AS (SELECT doc_id, n, s, unnest(range(0, 4)) AS seg FROM pcm),
    parts AS (
      SELECT doc_id, seg, (seg * n) // 4 AS lo,
             ((seg + 1) * n) // 4 AS hi, s
      FROM segs),
    vals AS (
      SELECT doc_id, seg, hi - lo AS n_in_seg,
             coalesce(list_sum(list_transform(
               list_slice(s, CAST(lo + 1 AS INT), CAST(hi AS INT)),
               x -> x * x)), 0) AS sumsq
      FROM parts)
    SELECT doc_id, CAST(seg AS INTEGER) AS seg,
           CAST(n_in_seg AS BIGINT) AS n_in_seg,
           CAST(sumsq AS BIGINT) AS sumsq,
           round(CASE WHEN n_in_seg > 0 THEN
                   sqrt(CAST(sumsq AS DOUBLE)
                        / CAST(n_in_seg AS DOUBLE))
                 END, 4) AS rms
    FROM vals
    """,
    note="per-clip 4-segment energy envelope over REAL decoded PCM "
    "(attack/sustain/decay shape above audio_vad's frame gate): "
    "floor segment boundaries i*n//4, integer (count, sumsq) per "
    "segment from the Arrow kernel, RMS one double; long scalar "
    "form, never an array column",
)
def _multimodal_audio_envelope(spark, sf):
    return multimodal.audio_envelope(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


def _attach_sql_oracles_b5() -> None:
    from .core import _REGISTRY, QuerySpec
    from .. import sql as _sql

    for name, stmt in (
        ("sql_nation_top_customers", _sql.NATION_TOP_CUSTOMERS),
    ):
        spec = _REGISTRY[name]
        _REGISTRY[name] = QuerySpec(spec.name, spec.fn, stmt, spec.note)


_attach_sql_oracles_b5()


# ------------------------------------------------ batch 6 (same round)


@_register(
    "stats_g_test",
    """
    WITH cells AS (
      SELECT event_type,
             dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
             count(*) AS n_obs
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(n_obs) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT dow, sum(n_obs) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT sum(n_obs) AS n FROM cells),
    terms AS (
      SELECT n, n_obs,
             CAST(round(2.0 * CAST(n_obs AS DOUBLE)
                        * ln(CAST(n_obs AS DOUBLE) * CAST(n AS DOUBLE)
                             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
                        * 1e9) AS BIGINT) AS nano
      FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), tot),
    lv AS (SELECT count(DISTINCT event_type) AS r,
                  count(DISTINCT dow) AS c
           FROM cells)
    SELECT CAST(max(n) AS BIGINT) AS n_obs,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST((max(r) - 1) * (max(c) - 1) AS BIGINT) AS dof,
           round(sum(nano) / 1e9, 4) AS g_stat
    FROM terms, lv
    """,
    note="G-test (log-likelihood ratio) of event_type x day-of-week "
    "independence -- chi-square's additive LR sibling: per-cell "
    "terms one double each off exact integers, rounded to integer "
    "nano-units, summed exactly",
)
def _stats_g_test(spark, sf):
    return analytics.g_test_independence(_t(spark, sf, "events"))


@_register(
    "stats_bartlett",
    """
    WITH g AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(floor(value * 100.0) AS BIGINT)) AS s,
             sum(CAST(floor(value * 100.0) AS BIGINT)
                 * CAST(floor(value * 100.0) AS BIGINT)) AS ssq
      FROM events GROUP BY event_type),
    f AS (SELECT * FROM g
          WHERE n >= 2 AND n * ssq - s * s > 0),
    per AS (
      SELECT n, n - 1 AS df,
             CAST(round((CAST(CAST(n * ssq - s * s AS BIGINT) AS DOUBLE)
                         / CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
               AS ss_micro,
             CAST(round(CAST(n - 1 AS DOUBLE)
                        * ln(CAST(CAST(n * ssq - s * s AS BIGINT)
                                  AS DOUBLE)
                             / CAST(CAST(n * (n - 1) AS BIGINT)
                                    AS DOUBLE))
                        * 1e9) AS BIGINT) AS ln_nano,
             CAST(round(1e9 / CAST(n - 1 AS DOUBLE)) AS BIGINT)
               AS inv_df_nano
      FROM f),
    a AS (
      SELECT count(*) AS k, sum(n) AS n_total, sum(df) AS df_tot,
             sum(ss_micro) AS ss_micro_tot,
             sum(ln_nano) AS ln_sum_nano,
             sum(inv_df_nano) AS inv_sum_nano
      FROM per)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(n_total AS BIGINT) AS n_total,
           round((CAST(df_tot AS DOUBLE)
                  * ln((CAST(ss_micro_tot AS DOUBLE) / 1e6)
                       / CAST(df_tot AS DOUBLE))
                  - CAST(ln_sum_nano AS DOUBLE) / 1e9)
                 / (1.0 + (CAST(inv_sum_nano AS DOUBLE) / 1e9
                           - 1.0 / CAST(df_tot AS DOUBLE))
                          / (3.0 * CAST(k - 1 AS DOUBLE))), 4)
             AS bartlett_stat
    FROM a
    """,
    note="Bartlett's equal-variance test across event types "
    "(stats_levene's parametric sibling): per-group variance/log/"
    "reciprocal terms each one double off exact integer cent "
    "moments, rounded to integer micro/nano units BEFORE the "
    "cross-group fold (group order cannot matter)",
)
def _stats_bartlett(spark, sf):
    return analytics.bartlett_test(_t(spark, sf, "events"))


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
    "orders_supplier_leadtime",
    """
    WITH d AS (
      SELECT l.l_suppkey,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS dd
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    a AS (
      SELECT l_suppkey, count(*) AS n, sum(dd) AS s,
             sum(dd * dd) AS ssq
      FROM d GROUP BY l_suppkey)
    SELECT l_suppkey, CAST(n AS BIGINT) AS n_items,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_days,
           round(CASE WHEN n >= 2 THEN
                   CAST(CAST(n * ssq - s * s AS BIGINT) AS DOUBLE)
                   / CAST(CAST(n * (n - 1) AS BIGINT) AS DOUBLE)
                 END, 4) AS var_days
    FROM a
    """,
    note="per-supplier fulfilment lead time (mean + variance of "
    "order->ship days; the vendor scorecard behind "
    "orders_ship_delay_profile's histogram): integer day deltas, "
    "n^2-scaled exact variance, supplier-dimension-sized output",
)
def _orders_supplier_leadtime(spark, sf):
    return analytics.supplier_leadtime(
        _t(spark, sf, "lineitem"), _t(spark, sf, "orders")
    )


@_register(
    "dp_exponential_median",
    """
    WITH vals AS (
      SELECT CAST(floor(value * 100.0) AS BIGINT) AS v_c FROM events),
    nr AS (SELECT count(*) AS n,
                  quantile_cont(v_c, 0.5) AS true_med_c
           FROM vals),
    bv AS (SELECT v_c, count(*) AS cnt FROM vals GROUP BY v_c),
    rk AS (
      SELECT v_c, cnt,
             sum(cnt) OVER (ORDER BY v_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - cnt AS below
      FROM bv),
    sc AS (
      SELECT v_c, n, true_med_c,
             0.5 * -abs(CAST(below + cnt AS DOUBLE)
                        - CAST(n AS DOUBLE) / 2.0)
             + -ln(-ln((list_sum(list_transform(range(1, 13), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(v_c AS VARCHAR) || '|expmed'),
                                CAST(i AS INT), 1)) - 1)
                 * pow(16, 12 - i))) + 1.0) / 281474976710658.0))
               AS score
      FROM rk, nr),
    pick AS (
      SELECT v_c, n, true_med_c,
             row_number() OVER (ORDER BY score DESC, v_c) AS rn
      FROM sc),
    nc AS (SELECT count(*) AS n_candidates FROM sc)
    SELECT CAST(n AS BIGINT) AS n_obs,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           round(true_med_c / 100.0, 4) AS true_median,
           round(v_c / 100.0, 2) AS dp_median
    FROM pick, nc WHERE rn = 1
    """,
    note="differentially-private median via the exponential "
    "mechanism with DETERMINISTIC md5-Gumbel selection "
    "(dp_noisy_counts' discipline for a non-additive statistic): "
    "12-hex-digit uniform is an exact integer < 2^53 on both "
    "engines, utility = -|rank - n/2|, argmax ties (score DESC, "
    "value) deterministic",
)
def _dp_exponential_median(spark, sf):
    return analytics.dp_exponential_median(_t(spark, sf, "events"))


@_register(
    "stream_cdc_upsert",
    f"""
    WITH base AS (SELECT event_id, ts, user_id, event_type, value,
                         0 AS version
                  FROM {_EVTS}),
    upd AS (SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
                   event_type, round(value * 2, 2) AS value,
                   1 AS version
            FROM {_EVTS} WHERE event_id % 10 = 0),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_id
                                       ORDER BY version DESC, ts DESC)
                      AS rnk
          FROM u)
    SELECT event_id, ts, user_id, event_type,
           round(value, 2) AS value, version
    FROM r WHERE rnk = 1
    """,
    note="MERGE INTO as a stream: change-batch files upsert into a "
    "persisted parquet target inside foreachBatch (read target + "
    "union + latest-(version, ts)-wins + overwrite) -- "
    "cdc_latest_wins' kernel made continuous. Latest-wins is "
    "associative over batches, so the drained target equals the "
    "batch oracle regardless of microbatch slicing "
    "(maxFilesPerTrigger=2 forces several), and re-merging an "
    "already-applied batch is a no-op (restart safety)",
)
def _stream_cdc_upsert(spark, sf):
    from ...streaming.jobs import stream_cdc_upsert

    return stream_cdc_upsert(spark, sf)


# ------------------------------------------------ batch 7 (same round)


@_register(
    "events_daily_type_entropy",
    """
    WITH cells AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             event_type, count(*) AS c
      FROM events GROUP BY 1, 2),
    totals AS (SELECT day, sum(c) AS n FROM cells GROUP BY day),
    terms AS (
      SELECT cells.day, n,
             CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
                        * 1e9) AS BIGINT) AS nano
      FROM cells JOIN totals ON cells.day = totals.day)
    SELECT day, CAST(max(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(sum(nano) / 1e9, 6) AS entropy_nats
    FROM terms GROUP BY day
    """,
    note="daily event-type mix entropy (day-grain drift alarm next "
    "to user_behavior_entropy's per-user view): per-cell nano-nat "
    "integer terms, exact per-day sums, calendar-bounded output",
)
def _events_daily_type_entropy(spark, sf):
    return analytics.daily_type_entropy(_t(spark, sf, "events"))


@_register(
    "orders_discount_depth",
    """
    WITH b AS (
      SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bracket,
             CAST(floor(l_discount * 10000) AS BIGINT) AS bps,
             CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2))
                - CAST(l_discount AS DECIMAL(18,2))) AS rev
      FROM lineitem),
    a AS (
      SELECT qty_bracket, count(*) AS n, sum(bps) AS sbps,
             CAST(sum(rev) * 10000 AS BIGINT) AS rev_c4
      FROM b GROUP BY qty_bracket)
    SELECT qty_bracket, CAST(n AS BIGINT) AS n_items,
           round(CAST(sbps AS DOUBLE) / CAST(n AS DOUBLE), 4)
             AS avg_discount_bps,
           CAST(rev_c4 AS DOUBLE) / 10000.0 AS revenue
    FROM a
    """,
    note="volume-discount policy curve per 10-unit quantity bracket: "
    "integer basis points and exact 1e-4-dollar DECIMAL revenue "
    "(the decimal->bigint cast never rounds), two single-double "
    "ratios",
)
def _orders_discount_depth(spark, sf):
    return analytics.discount_depth_profile(_t(spark, sf, "lineitem"))


@_register(
    "text_word_length_histogram",
    f"""
    WITH lens AS (
      SELECT CAST(length(unnest({_TOKS})) AS BIGINT) AS word_len
      FROM documents),
    h AS (SELECT word_len, count(*) AS n_tokens
          FROM lens GROUP BY word_len),
    t AS (SELECT sum(n_tokens) AS total FROM h)
    SELECT word_len, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(round(n_tokens * 1e6 / CAST(total AS DOUBLE)) AS BIGINT)
             / 1e6 AS share
    FROM h, t
    """,
    note="corpus word-length histogram (tokenizer-design diagnostic: "
    "fragmentation spikes at 1-2 chars, URL/concatenation tail past "
    "15): one token reduction, length-bounded output, shares at "
    "integer 1e-6 scale",
)
def _text_word_length_histogram(spark, sf):
    return text.word_length_histogram(_t(spark, sf, "documents"))


@_register(
    "sql_segment_repeat_rate",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="repeat-purchase rate per market segment through the "
    "spark.sql intake (the loyalty read on c_mktsegment): left join "
    "keeps order-less customers as dormant, repeat share at integer "
    "1e-6 scale",
)
def _sql_segment_repeat_rate(spark, sf):
    from ..sql import SEGMENT_REPEAT_RATE, run_sql

    return run_sql(spark, sf, SEGMENT_REPEAT_RATE)


def _attach_sql_oracles_b7() -> None:
    from .core import _REGISTRY, QuerySpec
    from .. import sql as _sql

    for name, stmt in (
        ("sql_segment_repeat_rate", _sql.SEGMENT_REPEAT_RATE),
    ):
        spec = _REGISTRY[name]
        _REGISTRY[name] = QuerySpec(spec.name, spec.fn, stmt, spec.note)


_attach_sql_oracles_b7()
