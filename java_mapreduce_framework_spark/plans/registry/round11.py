"""round-11 additions to the declared query registry: the remaining
classic technical-indicator family over the per-user daily candle
stream (Williams %R, Aroon, Vortex, Chande momentum, Elder force
index), engagement/concentration readouts (DAU/MAU stickiness,
calendar heatmap, Lorenz curve), ML evaluation kernels (rank-formula
ROC-AUC, precision/recall curve, two-feature ridge fit), the
Mann-Kendall trend test and odds-ratio panel, skip-gram PMI, and an
Allen-relation profile over per-user daily activity intervals.

Every query is hash-oracled (DuckDB SQL over the same parquet) unless
noted. Cross-engine exactness follows the registry's house rules:
integer sufficient statistics, ratio outputs rounded at INTEGER scale
(round(x, 4) on a rational splits the engines on .xxxx5 boundaries --
the round-9 ship-delay lesson), at most one double expression per
output column written in the same operation order on both sides, ties
broken by unique keys.

Reference licence: all are grouped aggregations / windows / joins,
the workload class the reference's map->shuffle->sort->reduce core
exists to express (SURVEY.md section 2A;
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
from .core import (  # noqa: F401
    _DE,
    _EN,
    _ES,
    _EVTS,
    _TOKS,
    _register,
    _t,
)
from .round9 import _CANDLE_CTE  # noqa: F401
from .round9b import _CANDLE_VOL_CTE  # noqa: F401

# ------------------------------------------- technical indicators


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


# ------------------------------------------- classical statistics


@_register(
    "stats_mann_kendall",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    s AS (
      SELECT sum(CASE WHEN b.x > a.x THEN 1
                      WHEN b.x < a.x THEN -1 ELSE 0 END) AS s
      FROM daily a JOIN daily b ON a.day < b.day),
    ties AS (
      SELECT sum(t * (t - 1) * (2 * t + 5)) AS tie_sum, sum(t) AS n
      FROM (SELECT count(*) AS t FROM daily GROUP BY x))
    SELECT CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS s_stat,
           round(CAST(n * (n - 1) * (2 * n + 5) - tie_sum AS DOUBLE)
                 / 18.0, 4) AS var_s,
           round((CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                       WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                       ELSE 0.0 END)
                 / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_sum AS DOUBLE)
                        / 18.0), 4) AS z
    FROM s, ties WHERE n > 1
    """,
    note="Mann-Kendall monotone-trend test on daily event counts "
    "(significance companion to theil_sen's slope): S and the tie "
    "correction are exact integers off the day-bounded pair join, "
    "var(S) and the continuity-corrected z one double chain each",
)
def _stats_mann_kendall(spark, sf):
    return analytics.mann_kendall_daily(_t(spark, sf, "events"))


@_register(
    "stats_odds_ratio",
    """
    WITH users AS (
      SELECT DISTINCT user_id,
             CASE WHEN substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS variant
      FROM events),
    conv AS (
      SELECT user_id, event_type
      FROM events GROUP BY user_id, event_type HAVING count(*) >= 10),
    per_type AS (
      SELECT c.event_type, u.variant, count(*) AS n_conv
      FROM users u JOIN conv c USING (user_id)
      GROUP BY 1, 2),
    tot AS (
      SELECT sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b
      FROM users),
    wide AS (
      SELECT event_type,
             coalesce(max(CASE WHEN variant = 'A' THEN n_conv END), 0) AS a,
             coalesce(max(CASE WHEN variant = 'B' THEN n_conv END), 0) AS c
      FROM per_type GROUP BY event_type),
    cells AS (
      SELECT event_type, a, n_a - a AS b, c, n_b - c AS d
      FROM wide, tot)
    SELECT event_type,
           CAST(a AS BIGINT) AS conv_a, CAST(b AS BIGINT) AS miss_a,
           CAST(c AS BIGINT) AS conv_b, CAST(d AS BIGINT) AS miss_b,
           round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE) END, 4)
             AS odds_ratio,
           round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             exp(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                 - 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))
             END, 4) AS ci_low,
           round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             exp(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                 + 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))
             END, 4) AS ci_high
    FROM cells
    """,
    note="odds ratio + 95 pct Wald CI per event type over "
    "ab_test_ztest's md5 split and >=10-emissions conversion rule "
    "(the effect-size readout next to that test's significance): "
    "exact integer 2x2 cells, OR/ln/exp one double chain, zero cells "
    "emit NULL bounds",
)
def _stats_odds_ratio(spark, sf):
    return analytics.odds_ratio_ab(_t(spark, sf, "events"))


@_register(
    "stats_hellinger_weekpart",
    f"""
    WITH per_type AS (
      SELECT event_type,
             sum(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1 END)
               AS n_wd,
             sum(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
               AS n_we
      FROM {_EVTS} GROUP BY event_type),
    tot AS (
      SELECT sum(n_wd) AS t_wd, sum(n_we) AS t_we FROM per_type),
    terms AS (
      SELECT CAST(round(sqrt(CAST(n_wd AS DOUBLE) * n_we
                             / (CAST(t_wd AS DOUBLE) * t_we)) * 1e8)
                  AS BIGINT) AS term_e8,
             t_wd, t_we
      FROM per_type, tot)
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           CAST(t_wd AS BIGINT) AS n_weekday,
           CAST(t_we AS BIGINT) AS n_weekend,
           round(CAST(sum(term_e8) AS DOUBLE) / 1e8, 8) AS bc,
           round(sqrt(greatest(1.0 - CAST(sum(term_e8) AS DOUBLE) / 1e8,
                               0.0)), 6) AS hellinger
    FROM terms GROUP BY t_wd, t_we
    """,
    note="Hellinger distance between weekday and weekend event-type "
    "distributions (bounded symmetric distribution-shift readout): "
    "each Bhattacharyya term rounds to an integer at 1e-8 scale "
    "BEFORE the cross-type sum (per-term rounding discipline), H one "
    "double sqrt",
)
def _stats_hellinger_weekpart(spark, sf):
    return analytics.hellinger_weekpart(_t(spark, sf, "events"))


@_register(
    "stats_dagostino_skew",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    agg AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS s1,
             CAST(sum(x * x) AS DOUBLE) AS s2,
             CAST(sum(x * x * x) AS DOUBLE) AS s3,
             count(*) AS n_i
      FROM daily),
    mom AS (
      SELECT n, n_i,
             (n * s2 - s1 * s1) / (n * n) AS m2,
             (n * n * s3 - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1)
               / (n * n * n) AS m3
      FROM agg),
    g AS (
      SELECT n, n_i, m2, m3 / sqrt(m2 * m2 * m2) AS g1 FROM mom),
    tr AS (
      SELECT n, n_i, m2, g1,
             g1 * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0))) AS y,
             sqrt(2.0 * (3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0)
                         * (n + 3.0)
                         / ((n - 2.0) * (n + 5.0) * (n + 7.0)
                            * (n + 9.0)) - 1.0)) - 1.0 AS w2
      FROM g)
    SELECT CAST(n_i AS BIGINT) AS n_days,
           round(g1, 6) AS g1,
           round((1.0 / sqrt(ln(sqrt(w2))))
                 * ln(y / sqrt(2.0 / (w2 - 1.0))
                      + sqrt((y / sqrt(2.0 / (w2 - 1.0)))
                             * (y / sqrt(2.0 / (w2 - 1.0))) + 1.0)),
                 4) AS z
    FROM tr WHERE n_i > 8 AND m2 > 0
    """,
    note="D'Agostino skewness test of daily event counts (moments-"
    "only companion to jarque_bera, small-n normalizing transform): "
    "exact integer (n, S1, S2, S3), central moments in double at "
    "unit scale (S1^3 overflows int64 past ~2M events), the "
    "Y->beta2->W->delta->alpha->Z chain written in the same "
    "operation order on both engines",
)
def _stats_dagostino_skew(spark, sf):
    return analytics.dagostino_skew_daily(_t(spark, sf, "events"))


# --------------------------------------------- engagement / shape


@_register(
    "events_stickiness",
    f"""
    WITH ud AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id
      FROM {_EVTS}),
    dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
    spine AS (SELECT DISTINCT day FROM ud),
    mau AS (
      SELECT d.day AS day, count(DISTINCT u.user_id) AS mau
      FROM ud u JOIN spine d
        ON u.day <= d.day AND u.day >= d.day - INTERVAL 27 DAY
      GROUP BY d.day)
    SELECT dau.day AS day, CAST(dau AS BIGINT) AS dau,
           CAST(mau AS BIGINT) AS mau,
           CAST(CAST(round(dau * 1e6 / CAST(mau AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS stickiness
    FROM dau JOIN mau USING (day)
    """,
    note="DAU over trailing-28-day MAU per day (the engagement-"
    "quality ratio): corpus compresses to distinct (user, day) pairs "
    "first, trailing MAU is a calendar-bounded day-spine range join, "
    "ratio one integer ratio at 1e-6 scale",
)
def _events_stickiness(spark, sf):
    return analytics.stickiness_dau_mau(_t(spark, sf, "events"))


@_register(
    "events_calendar_heatmap",
    f"""
    WITH grid AS (
      SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
             count(*) AS n
      FROM {_EVTS} GROUP BY 1, 2)
    SELECT CAST(dow AS INTEGER) AS dow, CAST(hour AS INTEGER) AS hour,
           CAST(n AS BIGINT) AS n_events,
           CAST(CAST(round(n * 1e6 / CAST(sum(n) OVER () AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS share
    FROM grid
    """,
    note="day-of-week x hour-of-day traffic heatmap (load-shape "
    "readout, grid at most 7x24 whatever the corpus): one "
    "partial+final agg, share over a grid window at integer 1e-6 "
    "scale; dow = Spark dayofweek (1 = Sunday) = DuckDB dayofweek+1",
)
def _events_calendar_heatmap(spark, sf):
    return analytics.calendar_heatmap(_t(spark, sf, "events"))


@_register(
    "events_lorenz_curve",
    f"""
    WITH per_user AS (
      SELECT user_id, count(*) AS n FROM {_EVTS} GROUP BY user_id),
    deciled AS (
      SELECT n, ntile(10) OVER (ORDER BY n, user_id) AS decile
      FROM per_user),
    per_dec AS (
      SELECT decile, count(*) AS n_users, sum(n) AS n_events
      FROM deciled GROUP BY decile)
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(CAST(round(sum(n_events) OVER (ORDER BY decile
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) * 1e6
                           / CAST(sum(n_events) OVER () AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS cum_share
    FROM per_dec
    """,
    note="Lorenz curve of event volume by user decile (stats_gini "
    "unrolled into the curve): deciles via ntile over the unique-key "
    "(count, user_id) order, cumulative share one integer ratio at "
    "1e-6 scale",
)
def _events_lorenz_curve(spark, sf):
    return analytics.lorenz_curve_users(_t(spark, sf, "events"))


# --------------------------------------------- ML evaluation kernels


@_register(
    "ml_roc_auc",
    """
    WITH per_score AS (
      SELECT n_chars AS score, count(*) AS t,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
      FROM documents GROUP BY n_chars),
    ranked AS (
      SELECT t, pos,
             coalesce(sum(t) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS below
      FROM per_score),
    agg AS (
      SELECT sum(pos * (2 * below + t + 1)) AS sum_r2_pos,
             sum(pos) AS n_pos, sum(t - pos) AS n_neg
      FROM ranked)
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(sum_r2_pos AS BIGINT) AS sum_r2_pos,
           CAST(CAST(round(CAST(sum_r2_pos - n_pos * (n_pos + 1)
                                AS DOUBLE)
                           / (2.0 * n_pos * n_neg) * 1e6) AS BIGINT)
                AS DOUBLE) / 1e6 AS auc
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    """,
    note="ROC-AUC of document length as an English detector via the "
    "rank-sum (Mann-Whitney) identity -- no curve materialized; "
    "doubled midranks keep ties exact integers, AUC one integer "
    "ratio at 1e-6 scale; rank stage sees distinct score values, "
    "not documents",
)
def _ml_roc_auc(spark, sf):
    return ml.roc_auc_lang_length(_t(spark, sf, "documents"))


@_register(
    "ml_pr_curve",
    """
    WITH ranked AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents),
    cum AS (
      SELECT score, rn,
             sum(pos) OVER (ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos
      FROM ranked),
    tot AS (
      SELECT count(*) AS n,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_pos
      FROM documents),
    cuts AS (
      SELECT k, n_pos,
             CAST(floor(n * k / 10.0) AS INTEGER) AS rank_cut
      FROM range(1, 11) t(k), tot)
    SELECT k * 10 AS cut_pct,
           CAST(rank_cut AS BIGINT) AS rank_cut,
           CAST(score AS BIGINT) AS score_cut,
           CAST(cum_pos AS BIGINT) AS n_pos_at_cut,
           CAST(CAST(round(cum_pos * 1e6 / CAST(rank_cut AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS precision,
           CAST(CAST(round(cum_pos * 1e6 / CAST(n_pos AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS recall
    FROM cum JOIN cuts ON rn = rank_cut
    """,
    note="precision/recall of the length-as-English detector at 10 "
    "coverage cuts (roc_auc's operating-points companion): ranks "
    "deterministic via the (score DESC, doc_id) unique-key order; "
    "the rank space is compressed to distinct scores (roc_auc's "
    "discipline), each floor(N*k/10) cut located in its score "
    "bucket by a 10-row broadcast inequality join, in-bucket rank "
    "windowed per cut; ratios at integer 1e-6 scale",
)
def _ml_pr_curve(spark, sf):
    return ml.pr_curve_lang_length(_t(spark, sf, "documents"))


# ------------------------------------------------------- text / ml


@_register(
    "text_skipgram_pmi",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p,
             1 AS gap
      FROM toks WHERE len(t) > 1
      UNION ALL
      SELECT unnest(list_transform(range(1, len(t) - 1),
                    i -> struct_pack(w1 := t[i], w2 := t[i + 2]))) AS p,
             2 AS gap
      FROM toks WHERE len(t) > 2),
    c2 AS (
      SELECT p.w1 AS w1, p.w2 AS w2, gap, count(*) AS n_pair
      FROM pairs GROUP BY 1, 2, 3),
    words AS (SELECT unnest(t) AS word FROM toks),
    c1 AS (SELECT word, count(*) AS c1 FROM words GROUP BY word),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_tokens FROM words)
    SELECT w1, w2, gap, CAST(n_pair AS BIGINT) AS n_pair,
           round(log2(n_pair * n_tokens / (a.c1 * b.c1)), 4) AS pmi
    FROM c2
    JOIN c1 a ON a.word = w1
    JOIN c1 b ON b.word = w2
    CROSS JOIN tot
    WHERE n_pair >= 5
    ORDER BY n_pair DESC, w1, w2, gap LIMIT 30
    """,
    note="top-30 window-2 skip-gram collocations (gap 1 = adjacent, "
    "gap 2 = one word skipped) ranked by exact integer count with "
    "PMI attached: row-local pair construction (no positional "
    "self-join), 1-row token-total broadcast, count-desc ordering "
    "with the pair as tiebreak",
)
def _text_skipgram_pmi(spark, sf):
    return text.skipgram_pmi(_t(spark, sf, "documents"))


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
    "ml_ridge_two_feature",
    """
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 10000) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    agg AS (
      SELECT count(*) AS n_i,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) AS s1,
             CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x1 * x1) AS DOUBLE) AS s11,
             CAST(sum(x2 * x2) AS DOUBLE) AS s22,
             CAST(sum(x1 * x2) AS DOUBLE) AS s12,
             CAST(sum(x1 * y) AS DOUBLE) AS s1y,
             CAST(sum(x2 * y) AS DOUBLE) AS s2y
      FROM base),
    cen AS (
      SELECT n_i, n, s1, s2, sy,
             s11 - s1 * s1 / n AS c11,
             s22 - s2 * s2 / n AS c22,
             s12 - s1 * s2 / n AS c12,
             s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y
      FROM agg),
    fit AS (
      SELECT n_i, n, s1, s2, sy, c1y, c2y, c12, c11, c22,
             (c11 + 1000.0) * (c22 + 1000.0) - c12 * c12 AS det
      FROM cen)
    SELECT CAST(n_i AS BIGINT) AS n,
           round((c1y * (c22 + 1000.0) - c2y * c12) / det, 6) AS beta_qty,
           round(((c11 + 1000.0) * c2y - c12 * c1y) / det, 6) AS beta_disc,
           round(sy / n
                 - ((c1y * (c22 + 1000.0) - c2y * c12) / det) * (s1 / n)
                 - (((c11 + 1000.0) * c2y - c12 * c1y) / det) * (s2 / n),
                 4) AS intercept,
           1000.0 AS lam
    FROM fit WHERE n_i > 2
    """,
    note="closed-form two-feature ridge fit of revenue cents on "
    "(quantity, discount-percent): exact integer moments off ONE "
    "scan, the 2x2 regularized normal equations solved as scalar "
    "double expressions in the same operation order on both engines "
    "(intercept unpenalized, centered parameterization)",
)
def _ml_ridge_two_feature(spark, sf):
    return ml.ridge_two_feature(_t(spark, sf, "lineitem"))


# ------------------------------------------------------- streaming


@_register(
    "stream_hll_dau",
    None,
    note="streaming approximate DAU via per-day approx_count_distinct "
    "(ONE constant-size HLL sketch per day as streaming state -- the "
    "bounded-at-any-cardinality scale path next to "
    "stream_daily_active_users' exact watermarked-dedup form); "
    "approximate by design -> rows-only, relative error bounded in "
    "RECALL.json",
)
def _stream_hll_dau(spark, sf):
    from ...streaming.jobs import stream_hll_dau

    return stream_hll_dau(spark, sf)


# ------------------------------------------------ batch 2 (round 11)


@_register(
    "stats_seasonality_strength",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    dowd AS (
      SELECT day, x, dayofweek(day) + 1 AS dow FROM daily),
    per_dow AS (
      SELECT dow, count(*) AS n_g, sum(x) AS t_g
      FROM dowd GROUP BY dow),
    betw AS (
      SELECT sum(CAST(t_g AS DOUBLE) * CAST(t_g AS DOUBLE)
                 / CAST(n_g AS DOUBLE)) AS sb,
             sum(n_g) AS n, sum(t_g) AS s
      FROM per_dow),
    tot AS (
      SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx
      FROM daily)
    SELECT CAST(n AS BIGINT) AS n_days,
           round((sb - CAST(s AS DOUBLE) * s / n)
                 / (sxx - CAST(s AS DOUBLE) * s / n), 6) AS eta_squared
    FROM betw, tot
    WHERE n > 7 AND sxx - CAST(s AS DOUBLE) * s / n > 0
    """,
    note="weekly-seasonality strength eta² (between-dow / total "
    "variance of the daily count series): exact integer sufficient "
    "statistics, both variance sides one double chain at unit scale "
    "(S² in int64 overflows past ~3e9 events)",
)
def _stats_seasonality_strength(spark, sf):
    return analytics.seasonality_strength_dow(_t(spark, sf, "events"))


@_register(
    "stats_mood_median",
    f"""
    WITH med AS (
      SELECT round(quantile_cont(value, 0.5), 4) AS med FROM {_EVTS}),
    cells AS (
      SELECT
        sum(CASE WHEN substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1)
                      < '8' AND value > med THEN 1 ELSE 0 END) AS a_above,
        sum(CASE WHEN substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1)
                      < '8' AND value < med THEN 1 ELSE 0 END) AS a_below,
        sum(CASE WHEN substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1)
                      >= '8' AND value > med THEN 1 ELSE 0 END) AS b_above,
        sum(CASE WHEN substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1)
                      >= '8' AND value < med THEN 1 ELSE 0 END) AS b_below
      FROM {_EVTS}, med WHERE value <> med)
    SELECT CAST(a_above AS BIGINT) AS a_above,
           CAST(a_below AS BIGINT) AS a_below,
           CAST(b_above AS BIGINT) AS b_above,
           CAST(b_below AS BIGINT) AS b_below,
           round((a_above + a_below + b_above + b_below)
                 * greatest(abs(CAST(a_above AS DOUBLE) * b_below
                                - CAST(a_below AS DOUBLE) * b_above)
                            - (a_above + a_below + b_above + b_below)
                              / 2.0, 0.0)
                 * greatest(abs(CAST(a_above AS DOUBLE) * b_below
                                - CAST(a_below AS DOUBLE) * b_above)
                            - (a_above + a_below + b_above + b_below)
                              / 2.0, 0.0)
                 / (CAST(a_above + a_below AS DOUBLE)
                    * (b_above + b_below)
                    * (a_above + b_above)
                    * (a_below + b_below)), 4) AS chi2
    FROM cells
    WHERE a_above + a_below > 0 AND b_above + b_below > 0
      AND a_above + b_above > 0 AND a_below + b_below > 0
    """,
    note="Mood's median test over the md5 A/B split (assumption-free "
    "location test next to mannwhitney): pooled median pinned at 4 "
    "decimals before any comparison (runs_test discipline), exact "
    "integer 2x2 cells, Yates-corrected chi-square with the ad-bc "
    "cross-product in double (int64 overflow class)",
)
def _stats_mood_median(spark, sf):
    return analytics.mood_median_test(_t(spark, sf, "events"))


@_register(
    "orders_revenue_gini_by_nation",
    """
    WITH per_cust AS (
      SELECT n.n_name, o.o_custkey,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, o.o_custkey),
    ranked AS (
      SELECT n_name, rev_c,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY rev_c, o_custkey) AS r
      FROM per_cust),
    agg AS (
      SELECT n_name, count(*) AS n, sum(rev_c) AS sx,
             sum(r * rev_c) AS srx
      FROM ranked GROUP BY n_name)
    SELECT n_name, CAST(n AS BIGINT) AS n_customers,
           round(2.0 * CAST(srx AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini
    FROM agg WHERE n > 1 AND sx > 0
    """,
    note="Gini of customer order-revenue concentration per nation "
    "(grouped form of stats_gini): exact integer cent totals, "
    "unique-key (total, custkey) ranks in one nation-partitioned "
    "window, G one double expression; nation dimension broadcast",
)
def _orders_revenue_gini_by_nation(spark, sf):
    return relational.revenue_gini_by_nation(
        _t(spark, sf, "orders"),
        _t(spark, sf, "customer"),
        _t(spark, sf, "nation"),
    )


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


@_register(
    "corpus_lang_rebalance",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    mn AS (SELECT min(n_docs) AS min_docs FROM counts)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(CAST(round(min_docs * 1e6 / CAST(n_docs AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS keep_prob,
           CAST(round(n_docs * (CAST(CAST(round(min_docs * 1e6
                        / CAST(n_docs AS DOUBLE)) AS BIGINT) AS DOUBLE)
                      / 1e6)) AS BIGINT) AS expected_kept
    FROM counts, mn
    """,
    note="language-rebalancing sampling plan (downsample every "
    "language to the rarest one's count -- exact-uniformity "
    "companion to corpus_mix_temperature): 1-row min broadcast, "
    "keep_prob one integer ratio at 1e-6 scale",
)
def _corpus_lang_rebalance(spark, sf):
    return text.corpus_lang_rebalance(_t(spark, sf, "documents"))


@_register(
    "text_self_repetition",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               AS g
      FROM toks WHERE len(t) >= 3)
    SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
           CAST(CAST(round((len(g) - len(list_distinct(g))) * 1e6
                           / CAST(len(g) AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS rep_frac
    FROM grams
    """,
    note="within-doc 3-gram repetition fraction (doc-grain Gopher "
    "repetition signal; cross-doc twin is quality_dup_ngram_frac): "
    "map-only row-local gram construction via the shared grams_expr "
    "definition, ratio at integer 1e-6 scale",
)
def _text_self_repetition(spark, sf):
    return text.text_self_repetition(_t(spark, sf, "documents"))


@_register(
    "embedding_quantize_error_audit",
    """
    WITH elems AS (
      SELECT u.i - 1 AS dim, u.v AS x
      FROM (SELECT unnest(list_transform(CAST(embedding AS DOUBLE[]),
                          (x, i) -> struct_pack(v := x, i := i))) AS u
            FROM embeddings)),
    scales AS (
      SELECT dim, max(abs(x)) AS scale FROM elems GROUP BY dim),
    per_elem AS (
      SELECT e.dim, s.scale,
             CAST(round(abs(e.x - round(127.0 * e.x / s.scale)
                              * s.scale / 127.0) * 1e9) AS BIGINT)
               AS err_e9
      FROM elems e JOIN scales s ON e.dim = s.dim
      WHERE s.scale > 0)
    SELECT CAST(dim AS INTEGER) AS dim, scale,
           CAST(max(err_e9) AS DOUBLE) / 1e9 AS max_abs_err,
           CAST(CAST(round(sum(err_e9) / CAST(count(*) AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e9 AS mean_abs_err
    FROM per_elem GROUP BY dim, scale
    """,
    note="per-dimension symmetric int8 quantization ERROR AUDIT "
    "(what 4x "
    "storage compression costs in precision): exact double per-dim "
    "max scale, reconstruction deltas the same double chain both "
    "engines, per-element |err| to integers at 1e-9 BEFORE the mean "
    "fold (per-term rounding discipline)",
)
def _embedding_quantize_error_audit(spark, sf):
    return similarity.embedding_quantize_error_audit(
        _t(spark, sf, "embeddings")
    )


# ------------------------------------------------ batch 3 (round 11)

from .multimodal import _PAYLOAD_CTE  # noqa: E402,F401


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


@_register(
    "stats_quade",
    f"""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM {_EVTS} GROUP BY 1, 2),
    users AS (SELECT DISTINCT user_id FROM {_EVTS}),
    types AS (SELECT DISTINCT event_type FROM {_EVTS}),
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
    ranges AS (
      SELECT user_id, max(cnt) - min(cnt) AS rng
      FROM dense GROUP BY user_id),
    weights AS (
      SELECT user_id,
             2 * rank() OVER (ORDER BY rng)
             + count(*) OVER (PARTITION BY rng) - 1 AS q2
      FROM ranges),
    kk AS (SELECT count(*) + 1 AS k1 FROM types),
    cells AS (
      SELECT r.event_type, w.q2 * (r.mr2 - kk.k1) AS s4
      FROM ranked r JOIN weights w USING (user_id), kk),
    per_type AS (
      SELECT event_type, CAST(sum(s4) AS BIGINT) AS s4_sum,
             count(*) AS n_blocks,
             sum(CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE)) AS a16
      FROM cells GROUP BY event_type),
    tot AS (
      SELECT sum(a16) AS a16,
             sum(CAST(s4_sum AS DOUBLE) * CAST(s4_sum AS DOUBLE)) AS bsq16,
             CAST(max(n_blocks) AS DOUBLE) AS n
      FROM per_type)
    SELECT p.event_type, p.s4_sum,
           CASE WHEN t.a16 > t.bsq16 / t.n THEN
             round((t.n - 1.0) * (t.bsq16 / t.n)
                   / (t.a16 - t.bsq16 / t.n), 4)
           END AS quade_stat
    FROM per_type p, tot t
    """,
    note="Quade range-weighted rank test on the friedman substrate "
    "(blocks that spread more carry more weight): doubled midranks "
    "x doubled range-rank weights put the Quade scores on an exact "
    "quarter lattice (s4 integers); A/B sums of squares square in "
    "double at unit scale; perfect agreement emits NULL",
)
def _stats_quade(spark, sf):
    return analytics.quade_ranks(_t(spark, sf, "events"))


# ------------------------------------------------ batch 4 (round 11)


@_register(
    "events_markov_transitions",
    f"""
    WITH pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM {_EVTS}),
    counts AS (
      SELECT from_type, to_type, count(*) AS n_transitions
      FROM pairs WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type)
    SELECT from_type, to_type,
           CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST(CAST(round(n_transitions * 1e6
                           / CAST(sum(n_transitions)
                                  OVER (PARTITION BY from_type)
                                  AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS p
    FROM counts
    """,
    note="first-order Markov transition matrix of event types per "
    "user stream (the conditional rows behind event_markov_"
    "stationary's fixed point): one user-keyed lead window, "
    "alphabet-squared aggregation, row shares at integer 1e-6 scale",
)
def _events_markov_transitions(spark, sf):
    return analytics.markov_transitions(_t(spark, sf, "events"))


@_register(
    "customer_interpurchase_cv",
    """
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day',
                       CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS DATE),
                       CAST(o_orderdate AS DATE)) AS gap
      FROM orders),
    mom AS (
      SELECT o_custkey, count(*) AS n, sum(gap) AS s,
             sum(gap * gap) AS sxx
      FROM gaps WHERE gap IS NOT NULL
      GROUP BY o_custkey
      HAVING count(*) >= 2 AND sum(gap) > 0),
    bucketed AS (
      SELECT o_custkey,
             CASE WHEN sqrt((CAST(sxx AS DOUBLE)
                             - CAST(s AS DOUBLE) * s / n) / n)
                       / (CAST(s AS DOUBLE) / n) < 0.5 THEN 'regular'
                  WHEN sqrt((CAST(sxx AS DOUBLE)
                             - CAST(s AS DOUBLE) * s / n) / n)
                       / (CAST(s AS DOUBLE) / n) <= 1.0
                    THEN 'intermediate'
                  ELSE 'bursty' END AS bucket
      FROM mom)
    SELECT c.c_mktsegment, b.bucket,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM bucketed b JOIN customer c ON b.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, b.bucket
    """,
    note="inter-purchase regularity ladder per market segment "
    "(regular/intermediate/bursty by gap CV; a segment drifting "
    "bursty is churning in slow motion): exact integer day-gap "
    "moments off one customer-ordered window, CV one double chain, "
    "repeat customers only",
)
def _customer_interpurchase_cv(spark, sf):
    return analytics.interpurchase_cv(
        _t(spark, sf, "customer"), _t(spark, sf, "orders")
    )


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
    "events_peak_days",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    lagged AS (
      SELECT day, x,
             lag(x) OVER (ORDER BY day) AS xp,
             lead(x) OVER (ORDER BY day) AS xn
      FROM daily),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS s,
             sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx
      FROM daily)
    SELECT day, CAST(x AS BIGINT) AS n_events,
           CAST(xp AS BIGINT) AS prev_n, CAST(xn AS BIGINT) AS next_n,
           round((x - s / n) / sqrt((sxx - s * s / n) / n), 4) AS z
    FROM lagged, mom
    WHERE xp IS NOT NULL AND xn IS NOT NULL AND x > xp AND x > xn
      AND (x - s / n) / sqrt((sxx - s * s / n) / n) > 1.0
    """,
    note="local-peak days (strictly above both calendar neighbors "
    "AND global mean + 1 sigma -- 2 sigma is vacuous on the "
    "near-uniform fixture; load-spike inventory): exact "
    "integer neighbor comparisons, the z chain in double at unit "
    "scale in the same operation order on both engines",
)
def _events_peak_days(spark, sf):
    return analytics.peak_days(_t(spark, sf, "events"))


# ------------------------------------------------ batch 5 (round 11)


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


@_register(
    "stats_bartels_rank",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    ranked AS (
      SELECT day,
             2 * rank() OVER (ORDER BY x)
             + count(*) OVER (PARTITION BY x) - 1 AS r2
      FROM daily),
    lagged AS (
      SELECT r2, lag(r2) OVER (ORDER BY day) AS p2 FROM ranked),
    agg AS (
      SELECT count(*) AS n, sum(r2) AS s, sum(r2 * r2) AS sxx,
             sum(CASE WHEN p2 IS NOT NULL
                      THEN (r2 - p2) * (r2 - p2) ELSE 0 END) AS num4
      FROM lagged)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(CAST(num4 AS DOUBLE)
                 / ((n * CAST(sxx AS DOUBLE)
                     - CAST(s AS DOUBLE) * s) / n), 4) AS rvn,
           round((CAST(num4 AS DOUBLE)
                  / ((n * CAST(sxx AS DOUBLE)
                      - CAST(s AS DOUBLE) * s) / n) - 2.0)
                 / sqrt(4.0 / n), 4) AS z,
           abs((CAST(num4 AS DOUBLE)
                / ((n * CAST(sxx AS DOUBLE)
                    - CAST(s AS DOUBLE) * s) / n) - 2.0)
               / sqrt(4.0 / n)) < 1.96 AS random_order
    FROM agg
    WHERE n > 2 AND n * CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * s > 0
    """,
    note="Bartels rank test (rank von Neumann ratio ~2 under "
    "randomness; trend -> 0, oscillation -> 4) on daily counts -- "
    "the magnitude-order companion to runs_test: doubled midranks "
    "keep both quadratic sums exact integers, RVN and z one double "
    "chain each",
)
def _stats_bartels_rank(spark, sf):
    return analytics.bartels_rank_test(_t(spark, sf, "events"))


@_register(
    "stats_cusum_break",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    pref AS (
      SELECT day,
             sum(x) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
             row_number() OVER (ORDER BY day) AS k
      FROM daily),
    mom AS (
      SELECT count(*) AS n, sum(x) AS s,
             sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx
      FROM daily),
    best AS (
      SELECT day, n, s, sxx, abs(n * p - k * s) AS dev
      FROM pref, mom
      ORDER BY abs(n * p - k * s) DESC, day LIMIT 1)
    SELECT CAST(n AS BIGINT) AS n_days, day AS break_day,
           round(CAST(dev AS DOUBLE)
                 / (n * sqrt((sxx - CAST(s AS DOUBLE) * s / n) / n)
                    * sqrt(CAST(n AS DOUBLE))), 4) AS cusum_stat
    FROM best
    WHERE sxx * n > CAST(s AS DOUBLE) * s
    """,
    note="CUSUM structural-break scan of daily counts (level-shift "
    "day + Kolmogorov-style statistic; changepoint_binary's "
    "classical-test sibling): |n*P_k - k*S| exact integer "
    "cross-products decide the argmax day without a double, ties -> "
    "earliest; only the final normalization is a double chain",
)
def _stats_cusum_break(spark, sf):
    return analytics.cusum_break(_t(spark, sf, "events"))


@_register(
    "text_novelty_saturation",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      FROM toks WHERE len(t) >= 3),
    first AS (
      SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram),
    per_doc AS (
      SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
               AS n_first
      FROM grams g JOIN first f USING (gram)
      GROUP BY g.doc_id),
    deciled AS (
      SELECT n_grams, n_first,
             ntile(10) OVER (ORDER BY doc_id) AS decile
      FROM per_doc)
    SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_grams) AS BIGINT) AS n_grams,
           CAST(sum(n_first) AS BIGINT) AS n_first,
           CAST(CAST(round(sum(n_first) * 1e6
                           / CAST(sum(n_grams) AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS novelty
    FROM deciled GROUP BY decile
    """,
    note="corpus novelty-saturation curve (share of each doc-decile's "
    "3-grams that are corpus-first occurrences in doc_id order -- the "
    "acquisition diminishing-returns readout at the grain dedup "
    "operates on): first-carrier one exact min per gram, deciles = "
    "ntile(10) in closed form over the range-shard prefix-sum global "
    "rank (no corpus-cardinality window), shares at 1e-6",
)
def _text_novelty_saturation(spark, sf):
    return text.novelty_saturation(_t(spark, sf, "documents"))


def _acf_oracle(max_lag: int = 7) -> str:
    lag_cols = ",\n             ".join(
        f"lag(x, {k}) OVER (ORDER BY day) AS x{k}"
        for k in range(1, max_lag + 1)
    )
    branches = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({k} AS INTEGER) AS lag,
           CAST(sum(CASE WHEN x{k} IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           round(sum(CASE WHEN x{k} IS NOT NULL THEN
                   (n * CAST(x AS DOUBLE) - s)
                   * (n * CAST(x{k} AS DOUBLE) - s) END)
                 / sum((n * CAST(x AS DOUBLE) - s)
                       * (n * CAST(x AS DOUBLE) - s)), 4) AS acf
    FROM lagged"""
        for k in range(1, max_lag + 1)
    )
    return f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS s
      FROM daily),
    lagged AS (
      SELECT x,
             {lag_cols},
             n, s
      FROM daily, mom)
{branches}
    """


@_register(
    "stats_acf_table",
    _acf_oracle(),
    note="autocorrelation table of daily counts at lags 1..7 (read "
    "with stats_pacf and stats_ljung_box): per-lag cross-products of "
    "n*x - S deviations in double at unit scale off exact integers, "
    "one day-ordered window feeds all lags",
)
def _stats_acf_table(spark, sf):
    return analytics.acf_table(_t(spark, sf, "events"))


# ------------------------------------------------ batch 6 (round 11)


@_register(
    "text_stopword_profile",
    f"""
    WITH words AS (
      SELECT lang, unnest({_TOKS}) AS word FROM documents),
    agg AS (
      SELECT lang, count(*) AS n_tokens,
             sum(CASE WHEN word IN {_EN} THEN 1 ELSE 0 END) AS en_hits,
             sum(CASE WHEN word IN {_ES} THEN 1 ELSE 0 END) AS es_hits,
             sum(CASE WHEN word IN {_DE} THEN 1 ELSE 0 END) AS de_hits
      FROM words GROUP BY lang)
    SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CAST(round(en_hits * 1e6 / CAST(n_tokens AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS en_share,
           CAST(CAST(round(es_hits * 1e6 / CAST(n_tokens AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS es_share,
           CAST(CAST(round(de_hits * 1e6 / CAST(n_tokens AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS de_share
    FROM agg
    """,
    note="per-language stopword-share profile against the en/es/de "
    "stoplists lang_id keys on (off-diagonal mass = mislabeled or "
    "code-mixed corpus signal; marginal companion to "
    "lang_id_confusion): one explode + lang x 3 aggregation, shares "
    "at integer 1e-6 scale",
)
def _text_stopword_profile(spark, sf):
    return text.stopword_profile(_t(spark, sf, "documents"))


@_register(
    "events_weekend_lift",
    f"""
    WITH per_type AS (
      SELECT event_type,
             sum(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1 END)
               AS n_wd,
             sum(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
               AS n_we
      FROM {_EVTS} GROUP BY event_type),
    days AS (
      SELECT sum(CASE WHEN dayofweek(day) IN (0, 6) THEN 0 ELSE 1 END)
               AS wd_days,
             sum(CASE WHEN dayofweek(day) IN (0, 6) THEN 1 ELSE 0 END)
               AS we_days
      FROM (SELECT DISTINCT date_trunc('day', ts) AS day FROM {_EVTS}))
    SELECT event_type, CAST(n_wd AS BIGINT) AS n_weekday,
           CAST(n_we AS BIGINT) AS n_weekend,
           CASE WHEN n_wd > 0 AND we_days > 0 THEN
             CAST(CAST(round(CAST(n_we * wd_days AS DOUBLE) * 1e6
                             / CAST(n_wd * we_days AS DOUBLE)) AS BIGINT)
                  AS DOUBLE) / 1e6
           END AS lift
    FROM per_type, days
    """,
    note="weekend daily-rate lift per event type (which types drive "
    "hellinger_weekpart's shift, and which way): exact integer "
    "counts and calendar day counts, lift one integer cross-product "
    "ratio at 1e-6 scale",
)
def _events_weekend_lift(spark, sf):
    return analytics.weekend_lift(_t(spark, sf, "events"))
