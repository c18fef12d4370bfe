"""round-9 section of the declared query registry: classical
statistics (chi-squared independence, Cramer's V, Kendall tau-b,
Theil-Sen, Grubbs, Wilcoxon signed-rank, Ljung-Box), product
analytics (bounce rate, power-user curve, churn hazard, binary
changepoint), technical-indicator windows (MACD, stochastic
oscillator, ATR), text/LM closers (hapax profile, sentence stats,
sentence dedup, Good-Turing counts), per-dimension embedding profile, two SQL-intake
queries, and two multimodal codec ops (dHash, clipping report).

Every query is hash-oracled (DuckDB SQL on the same parquet); the
cross-engine exactness rules are the registry's usual ones: integer
sufficient statistics, one double expression at the end, identical
rounding on both sides.

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
    ml,
    multimodal,
    relational,
    similarity,
    temporal,
    text,
)
from ...sources.tables import load_table  # noqa: F401
from .core import (  # noqa: F401
    _EVTS,
    _TOKS,
    _register,
    _t,
)
from .multimodal import _PAYLOAD_CTE  # noqa: F401
from .temporal import _SESSIONIZE_SQL  # noqa: F401

# ------------------------------------------------ shared SQL fragments

#: daily (day, x=n_events, y=value-cent-sum) series -- mirror of
#: analytics._daily_counts.
_DAILY_CTE = f"""
    daily AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             count(*) AS x,
             sum(CAST(floor(value * 100.0) AS BIGINT)) AS y
      FROM events GROUP BY 1)
"""

#: event_type x day-of-week contingency cells with marginals --
#: mirror of analytics.chisq_independence's cell stage (DuckDB
#: dayofweek is 0=Sunday; Spark's is 1=Sunday, hence the +1).
_CHISQ_CELLS_CTE = """
    c AS (
      SELECT event_type,
             dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
             count(*) AS n_obs
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(n_obs) AS rt FROM c GROUP BY 1),
    ct AS (SELECT dow, sum(n_obs) AS ct FROM c GROUP BY 1),
    tot AS (SELECT sum(n_obs) AS n FROM c),
    cells AS (
      SELECT event_type, dow, n_obs,
             CAST(rt * ct AS DOUBLE) / n AS expected
      FROM c JOIN rt USING (event_type) JOIN ct USING (dow), tot)
"""

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

#: sentence segmentation -- mirror of text._sentences_col.
_SENTS = (
    "list_filter(list_transform(string_split_regex(text, '[.!?]+'),"
    " s -> trim(s)), s -> s <> '')"
)

# -------------------------------------------------- classical statistics


@_register(
    "stats_chisq_independence",
    f"""
    WITH {_CHISQ_CELLS_CTE}
    SELECT event_type, dow, CAST(n_obs AS BIGINT) AS n_obs,
           round(expected, 4) AS expected,
           CAST(round((n_obs - expected) * (n_obs - expected)
                      / expected * 1e6) AS BIGINT) AS chi2_micro
    FROM cells
    """,
    note="chi-squared independence cells over the event_type x "
    "day-of-week contingency: expected = exact-integer rt*ct divided "
    "once in double, per-cell contribution as integer micro-units "
    "(no cross-cell double fold); marginals broadcast",
)
def _stats_chisq_independence(spark, sf):
    return analytics.chisq_independence(_t(spark, sf, "events"))


@_register(
    "stats_cramers_v",
    f"""
    WITH {_CHISQ_CELLS_CTE},
    micro AS (
      SELECT event_type, dow, n_obs,
             CAST(round((n_obs - expected) * (n_obs - expected)
                        / expected * 1e6) AS BIGINT) AS chi2_micro
      FROM cells)
    SELECT CAST(sum(n_obs) AS BIGINT) AS n_obs,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT dow) - 1) AS BIGINT) AS dof,
           round(sum(chi2_micro) / 1e6, 4) AS chi2,
           round(sqrt((sum(chi2_micro) / 1e6)
                      / (sum(n_obs)
                         * (least(count(DISTINCT event_type),
                                  count(DISTINCT dow)) - 1))), 4)
             AS cramers_v
    FROM micro
    """,
    note="Cramer's V effect size off the chisq cells: global "
    "chi-square is the exact integer SUM of per-cell micro-units, "
    "V one double expression off four exact integers",
)
def _stats_cramers_v(spark, sf):
    return analytics.cramers_v(_t(spark, sf, "events"))


@_register(
    "stats_kendall_tau",
    f"""
    WITH {_DAILY_CTE},
    p AS (
      SELECT b.x - a.x AS dx, b.y - a.y AS dy
      FROM daily a JOIN daily b ON a.day < b.day),
    agg AS (
      SELECT count(*) AS n0,
             sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
                      THEN 1 ELSE 0 END) AS conc,
             sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
                      THEN 1 ELSE 0 END) AS disc,
             sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS tx,
             sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS ty
      FROM p),
    nd AS (SELECT count(*) AS n_days FROM daily)
    SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(conc AS BIGINT) AS n_concordant,
           CAST(disc AS BIGINT) AS n_discordant,
           round(CASE WHEN n0 > tx AND n0 > ty THEN
                   (conc - disc)
                   / sqrt(CAST(n0 - tx AS DOUBLE) * (n0 - ty))
                 END, 4) AS tau_b
    FROM agg, nd
    """,
    note="Kendall tau-b between daily event count and daily value "
    "volume: the pair join is quadratic in CALENDAR DAYS (the O(N) "
    "daily reduction runs first), concordant/discordant/tie counts "
    "exact integers, one sqrt at the end",
)
def _stats_kendall_tau(spark, sf):
    return analytics.kendall_tau_daily(_t(spark, sf, "events"))


@_register(
    "stats_theil_sen",
    f"""
    WITH {_DAILY_CTE},
    dd AS (SELECT epoch_us(day) // 86400000000 AS t, x FROM daily),
    sl AS (
      SELECT CAST(b.x - a.x AS DOUBLE) / (b.t - a.t) AS slope
      FROM dd a JOIN dd b ON a.t < b.t),
    med AS (SELECT count(*) AS n_pairs,
                   quantile_cont(slope, 0.5) AS slope FROM sl),
    res AS (
      SELECT n_pairs, slope, x - slope * t AS r FROM dd, med)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           round(slope, 6) AS slope_per_day,
           round(quantile_cont(r, 0.5), 4) AS intercept
    FROM res GROUP BY n_pairs, slope
    """,
    note="Theil-Sen robust daily trend: median of day-pair slopes "
    "(each ONE double division of exact integers; pair set bounded "
    "by calendar days), exact interpolated median on both engines, "
    "1-row slope broadcast for the intercept residuals",
)
def _stats_theil_sen(spark, sf):
    return analytics.theil_sen_daily(_t(spark, sf, "events"))


@_register(
    "stats_grubbs",
    f"""
    WITH {_DAILY_CTE},
    mo AS (SELECT count(*) AS n, sum(x) AS s, sum(x * x) AS ssq
           FROM daily),
    dev AS (
      SELECT day, n, s, ssq, abs(n * x - s) AS dev,
             row_number() OVER (ORDER BY abs(n * x - s) DESC, day ASC)
               AS rn
      FROM daily, mo)
    SELECT CAST(n AS BIGINT) AS n_days, day AS suspect_day,
           CAST(dev AS BIGINT) AS dev_scaled,
           round(dev / sqrt(CAST(n AS DOUBLE)
                            * (n * ssq - s * s) / (n - 1)), 4) AS g_stat
    FROM dev WHERE rn = 1
    """,
    note="Grubbs max-deviation test on daily counts: deviations "
    "compared as exact integers |n*y - s| (argmax day decided with "
    "NO floating point, earliest-day ties), G one double off the "
    "exact moment integers",
)
def _stats_grubbs(spark, sf):
    return analytics.grubbs_daily(_t(spark, sf, "events"))


@_register(
    "stats_wilcoxon_signed_rank",
    """
    WITH h AS (
      SELECT user_id,
             sum(CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) <= 15
                      THEN CAST(floor(value * 100.0) AS BIGINT)
                      ELSE 0 END) AS a,
             sum(CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) >= 16
                      THEN CAST(floor(value * 100.0) AS BIGINT)
                      ELSE 0 END) AS b
      FROM events GROUP BY user_id),
    d AS (SELECT b - a AS d FROM h WHERE b - a <> 0),
    byval AS (
      SELECT abs(d) AS ad, count(*) AS cnt,
             sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS pos
      FROM d GROUP BY abs(d)),
    ranked AS (
      SELECT ad, cnt, pos,
             2 * coalesce(sum(cnt) OVER (
               ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS rank2
      FROM byval),
    agg AS (
      SELECT sum(cnt) AS n, sum(pos * rank2) AS w2p,
             sum((cnt - pos) * rank2) AS w2m
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(w2p AS BIGINT) AS w_plus2,
           CAST(w2m AS BIGINT) AS w_minus2,
           round((CAST(w2p AS DOUBLE) - CAST(n * (n + 1) AS DOUBLE) / 2)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 6), 4)
             AS z_stat
    FROM agg
    """,
    note="Wilcoxon signed-rank on per-user first-half vs second-half "
    "cent volume: zero diffs drop, |d| midranks carried DOUBLED as "
    "exact integers (the mannwhitney trick), normal-approx z one "
    "double off the exact (n, W+) pair",
)
def _stats_wilcoxon_signed_rank(spark, sf):
    return analytics.wilcoxon_signed_rank(_t(spark, sf, "events"))


def _ljung_box_oracle(max_lag: int = 7) -> str:
    num_cols = ",\n             ".join(
        f"sum(dev * lag(dev, {k}) OVER (ORDER BY day)) AS num_{k}"
        for k in range(1, max_lag + 1)
    )
    # window inside sum isn't valid SQL -- build lagged columns first
    lag_cols = ",\n             ".join(
        f"lag(dev, {k}) OVER (ORDER BY day) AS dev_{k}"
        for k in range(1, max_lag + 1)
    )
    num_aggs = ",\n             ".join(
        f"sum(dev * dev_{k}) AS num_{k}" for k in range(1, max_lag + 1)
    )
    selects = []
    for k in range(1, max_lag + 1):
        qterms = " + ".join(
            f"(CAST(num_{j} AS DOUBLE) / den) * (CAST(num_{j} AS DOUBLE) / den)"
            f" / (n - {j})"
            for j in range(1, k + 1)
        )
        selects.append(
            f"SELECT {k} AS lag, CAST(n AS BIGINT) AS n_days,"
            f" round(CAST(num_{k} AS DOUBLE) / den, 6) AS autocorr,"
            f" round(CAST(n AS DOUBLE) * (n + 2) * ({qterms}), 4)"
            f" AS q_cumulative FROM agg"
        )
        _ = num_cols  # (kept for clarity; lag_cols path is the real one)
    union = "\n    UNION ALL ".join(selects)
    return f"""
    WITH {_DAILY_CTE},
    mo AS (SELECT count(*) AS n, sum(x) AS s FROM daily),
    base AS (SELECT day, n, n * x - s AS dev FROM daily, mo),
    lagged AS (
      SELECT n, dev,
             {lag_cols}
      FROM base),
    agg AS (
      SELECT n, sum(dev * dev) AS den,
             {num_aggs}
      FROM lagged GROUP BY n)
    {union}
    """


@_register(
    "stats_ljung_box",
    _ljung_box_oracle(),
    note="Ljung-Box portmanteau over daily counts, lags 1..7: every "
    "autocovariance sums EXACT integers (n*y_t - s products), each "
    "r_k one integer-ratio double, Q folds the fixed 7-term sequence "
    "in lag order on both engines",
)
def _stats_ljung_box(spark, sf):
    return analytics.ljung_box_daily(_t(spark, sf, "events"))


# ---------------------------------------------------- product analytics


@_register(
    "events_session_bounce",
    f"""
    WITH ss AS ({_SESSIONIZE_SQL}),
    st AS (
      SELECT s.user_id, s.session_id, count(*) AS n_events,
             min(e.ts) AS session_start
      FROM ss s
      JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
            FROM events) e
        ON s.user_id = e.user_id AND s.event_id = e.event_id
      GROUP BY s.user_id, s.session_id)
    SELECT date_trunc('day', session_start) AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS bounce_rate
    FROM st GROUP BY 1
    """,
    note="daily bounce rate over 30-minute-gap sessions: sessionize "
    "kernel (one user-keyed exchange) + one day-keyed rollup, "
    "integer/integer ratio",
)
def _events_session_bounce(spark, sf):
    return analytics.session_bounce(_t(spark, sf, "events"))


@_register(
    "events_power_user_curve",
    """
    WITH du AS (
      SELECT DISTINCT user_id,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
      FROM events),
    per AS (SELECT user_id, count(*) AS active_days FROM du
            GROUP BY user_id),
    hist AS (SELECT active_days, count(*) AS n_users FROM per
             GROUP BY active_days)
    SELECT CAST(active_days AS BIGINT) AS active_days,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(sum(n_users) OVER (
             ORDER BY active_days DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_users_at_least
    FROM hist
    """,
    note="L28-style power-user curve: distinct (user, day) -> "
    "active-day histogram -> top-down cumulative, all integers",
)
def _events_power_user_curve(spark, sf):
    return analytics.power_user_curve(_t(spark, sf, "events"))


@_register(
    "events_churn_hazard",
    """
    WITH span AS (
      SELECT user_id,
             min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS first_day,
             max(date_trunc('day', CAST(ts AS TIMESTAMP))) AS last_day
      FROM events GROUP BY user_id),
    bw AS (
      SELECT CAST(floor(date_diff('day', first_day, last_day) / 7.0)
                  AS BIGINT) AS tenure_week,
             count(*) AS n_churned
      FROM span GROUP BY 1)
    SELECT tenure_week, CAST(n_churned AS BIGINT) AS n_churned,
           CAST(sum(n_churned) OVER (
             ORDER BY tenure_week DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_at_risk,
           round(n_churned / CAST(sum(n_churned) OVER (
             ORDER BY tenure_week DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE), 4) AS hazard
    FROM bw
    """,
    note="discrete-time churn hazard by tenure week: per-user "
    "(first, last) span, last-seen-week histogram, suffix-sum "
    "at-risk counts -- the retention curve's derivative, all "
    "integers plus one ratio",
)
def _events_churn_hazard(spark, sf):
    return analytics.churn_hazard(_t(spark, sf, "events"))


@_register(
    "time_changepoint_binary",
    f"""
    WITH {_DAILY_CTE},
    pre AS (
      SELECT day,
             row_number() OVER (ORDER BY day) AS k,
             sum(x) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k,
             sum(x * x) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_k,
             lead(day) OVER (ORDER BY day) AS next_day
      FROM daily),
    tot AS (SELECT max(k) AS n, max(s_k) AS s_n, max(q_k) AS q_n
            FROM pre),
    scored AS (
      SELECT next_day, n, s_n, q_n,
             (q_k - CAST(s_k * s_k AS DOUBLE) / k)
             + (q_n - q_k
                - CAST((s_n - s_k) * (s_n - s_k) AS DOUBLE) / (n - k))
               AS sse,
             day
      FROM pre, tot WHERE k < n),
    best AS (
      SELECT *, row_number() OVER (ORDER BY sse ASC, day ASC) AS rn
      FROM scored)
    SELECT next_day AS split_day, CAST(n AS BIGINT) AS n_days,
           round(q_n - CAST(s_n * s_n AS DOUBLE) / n, 4) AS sse_full,
           round(sse, 4) AS sse_split,
           round(CASE WHEN q_n - CAST(s_n * s_n AS DOUBLE) / n > 0 THEN
                   (q_n - CAST(s_n * s_n AS DOUBLE) / n - sse)
                   / (q_n - CAST(s_n * s_n AS DOUBLE) / n)
                 END, 4) AS rel_drop
    FROM best WHERE rn = 1
    """,
    note="binary changepoint on daily counts: integer prefix sums "
    "make every candidate split's SSE a closed-form double off "
    "exact integers; argmin ties break on day; split_day = first "
    "day of the right segment",
)
def _time_changepoint_binary(spark, sf):
    return analytics.changepoint_binary(_t(spark, sf, "events"))


# ----------------------------------------------- technical indicators


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


# --------------------------------------------------- text / LM closers


@_register(
    "text_hapax_ratio",
    f"""
    WITH w AS (
      SELECT lang, unnest({_TOKS}) AS word FROM documents),
    wc AS (SELECT lang, word, count(*) AS cnt FROM w GROUP BY 1, 2)
    SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           round(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS hapax_ratio
    FROM wc GROUP BY lang
    """,
    note="per-language hapax-legomenon profile (vocabulary-richness "
    "/ OCR-noise screen): (lang, word) counts then a lang rollup, "
    "all integers plus one ratio",
)
def _text_hapax_ratio(spark, sf):
    return text.hapax_ratio(_t(spark, sf, "documents"))


@_register(
    "text_sentence_stats",
    f"""
    WITH s AS (
      SELECT doc_id, {_SENTS} AS sents,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> '')) AS n_toks
      FROM documents)
    SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
           round(n_toks / CAST(greatest(len(sents), 1) AS DOUBLE), 4)
             AS avg_sentence_tokens,
           CAST(coalesce(list_max(list_transform(sents,
                                                 x -> length(x))), 0)
                AS BIGINT) AS max_sentence_chars
    FROM s
    """,
    note="per-document sentence-shape profile ([.!?]+ segmentation, "
    "trimmed, empties dropped): map-only row-local expressions, "
    "zero shuffle",
)
def _text_sentence_stats(spark, sf):
    return text.sentence_stats(_t(spark, sf, "documents"))


@_register(
    "dedup_sentence_exact",
    f"""
    WITH s AS (SELECT doc_id, {_SENTS} AS sents FROM documents),
    inst AS (
      SELECT doc_id, u.i - 1 AS idx, lower(u.s) AS snt
      FROM (SELECT doc_id,
                   unnest(list_transform(sents,
                          (x, i) -> struct_pack(s := x, i := i))) AS u
            FROM s)),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY snt
                                ORDER BY doc_id, idx) AS rn
      FROM inst)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duplicate
    FROM ranked GROUP BY doc_id
    """,
    note="cross-document exact sentence dedup report (C4's "
    "granularity): first occurrence by (doc_id, position) via ONE "
    "sentence-keyed rank window, then a doc rollup",
)
def _dedup_sentence_exact(spark, sf):
    return text.sentence_dedup(_t(spark, sf, "documents"))


@_register(
    "lm_good_turing_counts",
    f"""
    WITH w AS (SELECT unnest({_TOKS}) AS word FROM documents),
    wc AS (SELECT word, count(*) AS r FROM w GROUP BY word),
    nr AS (SELECT r, count(*) AS n_r FROM wc GROUP BY r)
    SELECT CAST(r AS BIGINT) AS r, CAST(n_r AS BIGINT) AS n_r,
           CASE WHEN lead(r) OVER (ORDER BY r) = r + 1 THEN
             round((r + 1) * lead(n_r) OVER (ORDER BY r)
                   / CAST(n_r AS DOUBLE), 4)
           END AS r_star
    FROM nr
    """,
    note="Good-Turing count-of-counts with adjusted r* = "
    "(r+1)*N_{{r+1}}/N_r (Katz/KN smoothing substrate): two count "
    "aggregations + one lead over the tiny count-frequency table; "
    "gap counts emit NULL on both engines",
)
def _lm_good_turing_counts(spark, sf):
    return text.good_turing_counts(_t(spark, sf, "documents"))


# ---------------------------------------------------------- embeddings


@_register(
    "embedding_dim_stats",
    """
    SELECT CAST(u.i - 1 AS INTEGER) AS dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(u.v), 6) + 0.0 AS mean_v,
           round(stddev_pop(u.v), 6) + 0.0 AS std_v,
           round(min(u.v), 6) + 0.0 AS min_v,
           round(max(u.v), 6) + 0.0 AS max_v
    FROM (SELECT unnest(list_transform(CAST(embedding AS DOUBLE[]),
                        (x, i) -> struct_pack(v := x, i := i))) AS u
          FROM embeddings)
    GROUP BY u.i
    """,
    note="per-dimension embedding distribution profile (dead dims, "
    "scale mismatches, saturation): posexplode + ONE partial+final "
    "aggregation per dim -- shuffle carries d x partitions rows; "
    "mean/stddev follow the embedding_standardize cross-engine "
    "precedent",
)
def _embedding_dim_stats(spark, sf):
    return similarity.embedding_dim_stats(_t(spark, sf, "embeddings"))


# ---------------------------------------------------------- SQL intake


@_register(
    "sql_yoy_growth",
    None,  # oracle attached below: the query text IS the oracle
    note="year-over-year revenue growth: calendar-year aggregate + "
    "lag window, exact integer-cent mod-based half-up division "
    "(sql_qoq_growth's yearly sibling)",
)
def _sql_yoy_growth(spark, sf):
    from ..sql import YOY_GROWTH, run_sql

    return run_sql(spark, sf, YOY_GROWTH)


@_register(
    "sql_discount_elasticity",
    None,  # oracle attached below
    note="demand by discount band: integer quantities and DECIMAL "
    "cent sums, per-band mean one integer-ratio double",
)
def _sql_discount_elasticity(spark, sf):
    from ..sql import DISCOUNT_ELASTICITY, run_sql

    return run_sql(spark, sf, DISCOUNT_ELASTICITY)


def _attach_round9_sql_oracles() -> None:
    from .. import sql as _sql
    from .core import _REGISTRY, QuerySpec

    for name, stmt in (
        ("sql_yoy_growth", _sql.YOY_GROWTH),
        ("sql_discount_elasticity", _sql.DISCOUNT_ELASTICITY),
    ):
        spec = _REGISTRY[name]
        _REGISTRY[name] = QuerySpec(spec.name, spec.fn, stmt, spec.note)


_attach_round9_sql_oracles()


# ---------------------------------------------------------- multimodal


@_register(
    "multimodal_image_dhash",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    grid AS (
      SELECT doc_id, n, bytes, w,
             k // 9 AS gi, k % 9 AS gj,
             ((k // 9) * h) // 8 AS ri,
             ((k % 9) * w) // 9 AS cj
      FROM geo, unnest(range(0, 72)) AS r(k)
    ),
    samp AS (
      SELECT doc_id, gi, gj,
             bytes[CAST((3 * (ri * w + cj)) % n AS INT) + 1]
               + bytes[CAST((3 * (ri * w + cj) + 1) % n AS INT) + 1]
               + bytes[CAST((3 * (ri * w + cj) + 2) % n AS INT) + 1]
               AS gray
      FROM grid
    ),
    bits AS (
      SELECT l.doc_id, l.gi, l.gj,
             CASE WHEN l.gray > r.gray THEN '1' ELSE '0' END AS bit
      FROM samp l
      JOIN samp r ON r.doc_id = l.doc_id AND r.gi = l.gi
                  AND r.gj = l.gj + 1
      WHERE l.gj < 8
    ),
    hashes AS (
      SELECT doc_id,
             string_agg(bit, '' ORDER BY gi, gj) AS dhash
      FROM bits GROUP BY doc_id
    )
    SELECT dhash, min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM hashes GROUP BY dhash
    """,
    note="perceptual difference-hash dedup over REAL decoded BMP "
    "pixels (image_ahash's gradient sibling -- survives global "
    "brightness shifts): nearest-neighbor 8x9 downsample (every "
    "grid point exactly one pixel -- no empty cells on w=8 "
    "fixtures), horizontal-neighbor bits as exact integer "
    "comparisons; oracle replays pixels from text bytes",
)
def _multimodal_image_dhash(spark, sf):
    return multimodal.image_dhash(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_clipping",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(len(list_filter(s, v -> abs(v) >= 16384)) AS BIGINT)
             AS n_clipped,
           CAST(coalesce(list_max(list_transform(s, v -> abs(v))), 0)
                AS BIGINT) AS peak_abs,
           CASE WHEN n > 0 THEN
             CAST(round(len(list_filter(s, v -> abs(v) >= 16384))
                        * 1e6 / n) AS BIGINT) / 1e6
           END AS clip_frac
    FROM pcm
    """,
    note="clipping/headroom report over REAL decoded PCM: half-scale "
    "threshold 16384 bisects the ASCII-derived fixture amplitudes "
    "(|s| <= 24576 -- a near-full-scale cut would pass vacuously); "
    "integer counts in the kernel, rate rounds at integer 1e-6 "
    "scale in a Spark expression",
)
def _multimodal_audio_clipping(spark, sf):
    return multimodal.audio_clipping(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


# ============================================================ batch 2


@_register(
    "events_new_vs_returning",
    """
    WITH du AS (
      SELECT DISTINCT user_id,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
      FROM events),
    fl AS (
      SELECT day,
             CASE WHEN day = min(day) OVER (PARTITION BY user_id)
                  THEN 1 ELSE 0 END AS is_new
      FROM du)
    SELECT day, CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(is_new) AS BIGINT) AS n_new,
           CAST(count(*) - sum(is_new) AS BIGINT) AS n_returning,
           round(sum(is_new) / CAST(count(*) AS DOUBLE), 4) AS new_share
    FROM fl GROUP BY day
    """,
    note="daily new-vs-returning split: distinct (user, day), "
    "per-user min-day window on the same key, day rollup -- the "
    "acquisition/retention decomposition, all integers",
)
def _events_new_vs_returning(spark, sf):
    return analytics.new_vs_returning(_t(spark, sf, "events"))


@_register(
    "events_value_pareto",
    """
    WITH pu AS (
      SELECT user_id,
             sum(CAST(floor(value * 100.0) AS BIGINT)) AS cents
      FROM events GROUP BY user_id),
    bk AS (
      SELECT ntile(10) OVER (ORDER BY cents DESC, user_id) AS decile,
             cents
      FROM pu),
    agg AS (
      SELECT decile, count(*) AS n_users, sum(cents) AS value_cents
      FROM bk GROUP BY decile)
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(value_cents AS BIGINT) AS value_cents,
           round(value_cents / CAST(sum(value_cents) OVER () AS DOUBLE), 4)
             AS share,
           round(sum(value_cents) OVER (
                   ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / CAST(sum(value_cents) OVER () AS DOUBLE), 4)
             AS cum_share
    FROM agg
    """,
    note="value-concentration Pareto curve: per-user cent totals, "
    "deterministic ntile over (cents DESC, user_id), integer-cent "
    "shares -- the curve behind the Gini/HHI single numbers",
)
def _events_value_pareto(spark, sf):
    return analytics.value_pareto(_t(spark, sf, "events"))


@_register(
    "events_type_share_trend",
    """
    WITH g AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT day, event_type, n,
             round(n / CAST(sum(n) OVER (PARTITION BY day) AS DOUBLE), 4)
               AS share
      FROM g)
    SELECT day, event_type, CAST(n AS BIGINT) AS n_events, share,
           round(share - lag(share) OVER (
             PARTITION BY event_type ORDER BY day), 4) AS share_delta
    FROM s
    """,
    note="event-type mix trend: day-partition share window on the "
    "(day, type) counts (no second shuffle), one lag per type -- "
    "catches mix shifts absolute volumes hide",
)
def _events_type_share_trend(spark, sf):
    return analytics.type_share_trend(_t(spark, sf, "events"))


@_register(
    "dp_randomized_response",
    """
    WITH r AS (
      SELECT event_type,
             CASE WHEN (CAST(strpos('0123456789abcdef',
                          substr(md5('rr|' || CAST(event_id AS VARCHAR)), 1, 1)) - 1
                        AS BIGINT) * 4096
                      + (strpos('0123456789abcdef',
                          substr(md5('rr|' || CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 256
                      + (strpos('0123456789abcdef',
                          substr(md5('rr|' || CAST(event_id AS VARCHAR)), 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef',
                          substr(md5('rr|' || CAST(event_id AS VARCHAR)), 4, 1)) - 1)
                      + 0.5) / 65536.0 < 0.75
                  THEN CASE WHEN value >= 50.0 THEN 1 ELSE 0 END
                  ELSE CASE WHEN value >= 50.0 THEN 0 ELSE 1 END
             END AS rep
      FROM events),
    g AS (SELECT event_type, count(*) AS n, sum(rep) AS n_rep FROM r
          GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(n_rep AS BIGINT) AS n_reported,
           round(n_rep / CAST(n AS DOUBLE), 4) AS reported_rate,
           round((n_rep / CAST(n AS DOUBLE) - 0.25) / 0.5, 4)
             AS est_true_rate
    FROM g
    """,
    note="Warner randomized response on (value >= 50) with the "
    "standard debiased estimator: deterministic md5-per-event coin "
    "(4-hex-digit midpoint uniform, digit-mirrored in the oracle "
    "like dp_noisy_counts), one grouped aggregation",
)
def _dp_randomized_response(spark, sf):
    return analytics.dp_randomized_response(_t(spark, sf, "events"))


@_register(
    "orders_repeat_interval",
    """
    WITH g AS (
      SELECT date_diff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS gap
      FROM orders),
    gg AS (SELECT CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           round(sum(gap) / CAST(count(*) AS DOUBLE), 4) AS mean_gap_days,
           round(quantile_cont(CAST(gap AS DOUBLE), 0.5), 4)
             AS p50_gap_days,
           round(quantile_cont(CAST(gap AS DOUBLE), 0.9), 4)
             AS p90_gap_days
    FROM gg
    """,
    note="repeat-purchase cadence: customer-keyed lag gaps in "
    "integer days; p50/p90 through the distributed order-statistic "
    "kernel (exact_quantiles), never single-buffer percentile",
)
def _orders_repeat_interval(spark, sf):
    return analytics.repeat_interval(_t(spark, sf, "orders"))


@_register(
    "orders_ship_delay_profile",
    """
    WITH j AS (
      SELECT floor(date_diff('day', o.o_orderdate, l.l_shipdate) / 7.0)
               AS delay_week
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    h AS (SELECT CAST(delay_week AS BIGINT) AS delay_week,
                 count(*) AS n_items
          FROM j GROUP BY 1)
    SELECT delay_week, CAST(n_items AS BIGINT) AS n_items,
           CAST(round(n_items * 1e6
                      / CAST(sum(n_items) OVER () AS DOUBLE)) AS BIGINT)
             / 1e6 AS share
    FROM h
    """,
    note="order-to-ship delay histogram by week: one o_orderkey "
    "join, row-local integer bucketing, week-count-bounded "
    "histogram + 1-row total; share rounds at integer 1e-6 scale "
    "(round(x,4) split engines on 9/60000-style shares, measured)",
)
def _orders_ship_delay_profile(spark, sf):
    return analytics.ship_delay_profile(
        _t(spark, sf, "lineitem"), _t(spark, sf, "orders")
    )


@_register(
    "lm_bigram_entropy_rate",
    f"""
    WITH toks AS (SELECT {_TOKS} AS t FROM documents),
    pr AS (
      SELECT u.a AS w1, u.b AS w2
      FROM (SELECT unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(a := t[i], b := t[i+1]))) AS u
            FROM toks WHERE len(t) >= 2)),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
    terms AS (
      SELECT c12.w1, c1.c1,
             CAST(round(c12 * ln(CAST(c1 AS DOUBLE) / c12) * 1e6)
                  AS BIGINT) AS t
      FROM c12 JOIN c1 ON c1.w1 = c12.w1)
    SELECT w1, CAST(c1 AS BIGINT) AS n_contexts,
           CAST(count(*) AS BIGINT) AS n_successors,
           CAST(sum(t) AS BIGINT) AS h_micro,
           round(sum(t) / (c1 * 1e6), 6) AS entropy_nats
    FROM terms GROUP BY w1, c1
    """,
    note="per-context conditional bigram entropy in integer "
    "micro-nats: each c12*ln(c1/c12) term rounds to int BEFORE the "
    "grouped sum (adamic_adar discipline -- no cross-term double "
    "fold); vocab-sized shuffles only",
)
def _lm_bigram_entropy_rate(spark, sf):
    return text.bigram_entropy_rate(_t(spark, sf, "documents"))


@_register(
    "quality_case_profile",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text)
                - length(regexp_replace(text, '[A-Z]', '', 'g'))
                AS BIGINT) AS n_upper,
           CAST(length(text)
                - length(regexp_replace(text, '[0-9]', '', 'g'))
                AS BIGINT) AS n_digit,
           CAST(length(text)
                - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                AS BIGINT) AS n_alpha,
           round((length(text)
                  - length(regexp_replace(text, '[A-Z]', '', 'g')))
                 / CAST(greatest(length(text)
                   - length(regexp_replace(text, '[A-Za-z]', '', 'g')), 1)
                   AS DOUBLE), 4) AS upper_ratio,
           round((length(text)
                  - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 4)
             AS digit_ratio,
           CAST(CASE WHEN regexp_matches(substr(text, 1, 1), '[A-Z]')
                     THEN 1 ELSE 0 END AS BIGINT) AS starts_capital
    FROM documents
    """,
    note="character-case/class profile (SHOUTING/serial-number/"
    "prose discriminator): length-of-stripped-string counting, "
    "map-only zero shuffle",
)
def _quality_case_profile(spark, sf):
    return text.case_profile(_t(spark, sf, "documents"))


@_register(
    "vocab_growth_curve",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
    fo AS (SELECT word, min(doc_id) AS first_doc FROM w GROUP BY word),
    curve AS (
      SELECT first_doc AS doc_id, count(*) AS n_new_words
      FROM fo GROUP BY first_doc)
    SELECT doc_id, CAST(n_new_words AS BIGINT) AS n_new_words,
           CAST(sum(n_new_words) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_vocab
    FROM curve
    """,
    note="Heaps'-law vocabulary growth in doc_id scan order: "
    "per-word first-occurrence doc, doc-keyed counts, one "
    "cumulative window over the doc-count-bounded curve",
)
def _vocab_growth_curve(spark, sf):
    return text.vocab_growth_curve(_t(spark, sf, "documents"))


@_register(
    "embedding_dim_clip_bounds",
    """
    WITH u AS (
      SELECT CAST(t.u.i - 1 AS INTEGER) AS dim, t.u.v AS v
      FROM (SELECT unnest(list_transform(CAST(embedding AS DOUBLE[]),
                          (x, i) -> struct_pack(v := x, i := i))) AS u
            FROM embeddings) t)
    SELECT dim, q_idx, bound FROM (
      SELECT dim, 0 AS q_idx,
             round(quantile_cont(v, 0.01), 6) + 0.0 AS bound
      FROM u GROUP BY dim
      UNION ALL
      SELECT dim, 1 AS q_idx,
             round(quantile_cont(v, 0.99), 6) + 0.0 AS bound
      FROM u GROUP BY dim)
    """,
    note="per-dimension p1/p99 clip bounds through the distributed "
    "order-statistic kernel (exact_quantiles_grouped: range-sharded, "
    "two-phase prefix sums, straddling statistics only) -- grouped "
    "percentile would buffer a dimension's full value list",
)
def _embedding_dim_clip_bounds(spark, sf):
    return similarity.embedding_dim_clip_bounds(_t(spark, sf, "embeddings"))


@_register(
    "multimodal_audio_silence",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0),
    idx AS (
      SELECT doc_id, n,
             list_filter(list_transform(s, (v, i) ->
               CASE WHEN abs(v) >= 8192 THEN i END), x -> x IS NOT NULL)
               AS loud,
             len(list_filter(s, v -> abs(v) < 8192)) AS n_silent
      FROM pcm)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(CASE WHEN len(loud) > 0 THEN loud[1] - 1 ELSE n END
                AS BIGINT) AS lead_silence,
           CAST(CASE WHEN len(loud) > 0 THEN n - loud[len(loud)]
                ELSE n END AS BIGINT) AS trail_silence,
           CAST(n_silent AS BIGINT) AS n_silent
    FROM idx
    """,
    note="leading/trailing-silence trim report over REAL decoded "
    "PCM: threshold 8192 bisects the ASCII-derived amplitudes "
    "(lowercase letters under, capitals/digits over -- "
    "non-degenerate by construction); integer counts in the kernel",
)
def _multimodal_audio_silence(spark, sf):
    return multimodal.audio_silence(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


@_register(
    "sql_customer_balance_deciles",
    None,  # oracle attached below: the query text IS the oracle
    note="customer balance deciles: deterministic ntile over "
    "(balance DESC, custkey), exact integer-cent aggregates",
)
def _sql_customer_balance_deciles(spark, sf):
    from ..sql import CUSTOMER_BALANCE_DECILES, run_sql

    return run_sql(spark, sf, CUSTOMER_BALANCE_DECILES)


@_register(
    "sql_parts_type_revenue",
    None,  # oracle attached below
    note="catalog-mix revenue by part type: one part join, DECIMAL "
    "cent sums, integer quantities",
)
def _sql_parts_type_revenue(spark, sf):
    from ..sql import PARTS_TYPE_REVENUE, run_sql

    return run_sql(spark, sf, PARTS_TYPE_REVENUE)


def _attach_round9_batch2_sql_oracles() -> None:
    from .. import sql as _sql
    from .core import _REGISTRY, QuerySpec

    for name, stmt in (
        ("sql_customer_balance_deciles", _sql.CUSTOMER_BALANCE_DECILES),
        ("sql_parts_type_revenue", _sql.PARTS_TYPE_REVENUE),
    ):
        spec = _REGISTRY[name]
        _REGISTRY[name] = QuerySpec(spec.name, spec.fn, stmt, spec.note)


_attach_round9_batch2_sql_oracles()
