"""Analytics section of the declared query registry: product
analytics, statistical tests and time-series diagnostics over the
event and order tables, written over ``operators/analytics.py``."""

from __future__ import annotations

from ...operators import analytics
from .core import _EVTS, _register, _SESSIONIZE_SQL, _t


@_register(
    "event_type_cooccurrence",
    f"""
    WITH s AS ({_SESSIONIZE_SQL}),
    st AS (
      SELECT DISTINCT s.user_id, s.session_id, e.event_type
      FROM s JOIN (SELECT event_id, user_id, event_type FROM events) e
        ON s.user_id = e.user_id AND s.event_id = e.event_id),
    tot AS (SELECT count(*) AS n_total
            FROM (SELECT DISTINCT user_id, session_id FROM st)),
    per AS (SELECT event_type, count(*) AS n_sess
            FROM st GROUP BY event_type),
    pr AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
           AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(pa.n_sess AS BIGINT) AS n_a,
           CAST(pb.n_sess AS BIGINT) AS n_b,
           round((n_both * 1.0 * t.n_total)
                 / (pa.n_sess * 1.0 * pb.n_sess), 4) AS lift
    FROM pr
    JOIN per pa ON pa.event_type = pr.type_a
    JOIN per pb ON pb.event_type = pr.type_b
    CROSS JOIN tot t
    """,
    note="session-level market basket over event types (the "
    "product-analytics reading of basket_lift_topk): sessionize "
    "carries type through, DISTINCT collapses to sessions x "
    "alphabet, pair self-join keyed on (user, session) with "
    "alphabet^2-bounded fan-out; lift row-local",
)
def _event_type_cooccurrence(spark, sf):
    return analytics.event_type_cooccurrence(_t(spark, sf, "events"))


@_register(
    "user_behavior_entropy",
    f"""
    WITH cnt AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type),
    per AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_types,
             list(c ORDER BY event_type) AS cells
      FROM cnt GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           round(log2(n_events)
                 - list_reduce(list_transform(cells, c -> c * log2(c)),
                               (a, b) -> a + b) / n_events, 4) AS entropy
    FROM per
    """,
    note="per-user behavioral entropy over the type mix (bot triage "
    "/ diversity score; sequence_likelihood scores ORDER, this "
    "scores MIX): two user-keyed aggregations, entropy folded in "
    "SORTED type order (markov-stationary determinism discipline)",
)
def _user_behavior_entropy(spark, sf):
    return analytics.user_behavior_entropy(_t(spark, sf, "events"))


@_register(
    "hourly_autocorrelation",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM {_EVTS} GROUP BY 1, 2),
    bounds AS (SELECT event_type, min(h) AS h0, max(h) AS h1
               FROM hourly GROUP BY 1),
    spine AS (
      SELECT event_type,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds),
    dense AS (
      SELECT s.event_type, s.h, coalesce(n, 0) AS n
      FROM spine s LEFT JOIN hourly USING (event_type, h)),
    lagd AS (
      SELECT event_type, n,
             lag(n, 1) OVER w AS y1, lag(n, 6) OVER w AS y6,
             lag(n, 12) OVER w AS y12, lag(n, 24) OVER w AS y24
      FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h)),
    pairs AS (
      SELECT event_type, 1 AS lag_h, n AS x, y1 AS y FROM lagd
      WHERE y1 IS NOT NULL
      UNION ALL SELECT event_type, 6, n, y6 FROM lagd WHERE y6 IS NOT NULL
      UNION ALL SELECT event_type, 12, n, y12 FROM lagd WHERE y12 IS NOT NULL
      UNION ALL SELECT event_type, 24, n, y24 FROM lagd WHERE y24 IS NOT NULL),
    m AS (
      SELECT event_type, lag_h, count(*) AS np,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pairs GROUP BY event_type, lag_h)
    SELECT event_type, CAST(lag_h AS INT) AS lag_h,
           CAST(np AS BIGINT) AS n_pairs,
           round((np * sxy - sx * sy)
                 / sqrt((np * sxx - sx * sx) * 1.0
                        * (np * syy - sy * sy)), 4) AS autocorr
    FROM m
    WHERE np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
    """,
    note="lag-{{1,6,12,24}} autocorrelation of the hourly count "
    "series per type (seasonality detector): one corpus aggregate, "
    "then a dense generated hour spine (gaps are REAL zeros in a "
    "count series), lag windows + explicit-moment Pearson r over "
    "(type x hours)-bounded rows",
)
def _hourly_autocorrelation(spark, sf):
    return analytics.hourly_autocorrelation(_t(spark, sf, "events"))


@_register(
    "time_heatmap",
    f"""
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hour_of_day,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM {_EVTS}
    GROUP BY 1, 2
    """,
    note="dow x hour activity heatmap; 7x24-bounded output",
)
def _time_heatmap(spark, sf):
    from ...operators import analytics

    return analytics.time_heatmap(_t(spark, sf, "events"))


@_register(
    "hourly_anomaly_zscore",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_hour,
             count(*) AS n_events
      FROM {_EVTS} GROUP BY 1, 2),
    stats AS (
      SELECT event_type, count(*) AS n, sum(n_events) AS sx,
             sum(n_events * n_events) AS sxx
      FROM hourly GROUP BY event_type
      HAVING count(*) > 1
         AND count(*) * sum(n_events * n_events)
             - sum(n_events) * sum(n_events) > 0)
    SELECT event_type, CAST(bucket_hour AS TIMESTAMP) AS bucket_hour, n_events,
           round((n_events - sx * 1.0 / n)
                 / sqrt((sxx - sx * 1.0 * sx / n) / (n - 1)), 4) AS zscore
    FROM hourly JOIN stats USING (event_type)
    WHERE abs(round((n_events - sx * 1.0 / n)
                    / sqrt((sxx - sx * 1.0 * sx / n) / (n - 1)), 4)) >= 2.5
    """,
    note="hourly count anomalies vs per-type moments (z >= 2.5); "
    "stats side is one row per type, broadcast",
)
def _hourly_anomaly_zscore(spark, sf):
    from ...operators import analytics

    return analytics.hourly_anomaly_zscore(_t(spark, sf, "events"))


@_register(
    "retention_cohorts",
    f"""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM {_EVTS} GROUP BY user_id),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM {_EVTS})
    SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', cohort_week, active_week) / 7 AS INT)
               AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM active JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    """,
    note="weekly retention cohorts; output bounded by weeks^2",
)
def _retention_cohorts(spark, sf):
    from ...operators import analytics

    return analytics.retention_cohorts(_t(spark, sf, "events"))


@_register(
    "funnel_conversion",
    f"""
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    s1 AS (SELECT user_id, min(ts) AS t FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'click' AND e.ts >= s2.t GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s3 ON e.user_id = s3.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s3.t GROUP BY e.user_id)
    SELECT 'L1_signup' AS stage, count(*) AS n_users FROM s1
    UNION ALL SELECT 'L2_view', count(*) FROM s2
    UNION ALL SELECT 'L3_click', count(*) FROM s3
    UNION ALL SELECT 'L4_purchase', count(*) FROM s4
    """,
    note="strict-order conversion funnel via min-ts chaining; "
    "fixed plan depth, all shuffles keyed on user_id",
)
def _funnel_conversion(spark, sf):
    from ...operators import analytics

    return analytics.funnel_conversion(_t(spark, sf, "events"))


@_register(
    "funnel_time_to_convert",
    f"""
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    s1 AS (SELECT user_id, min(ts) AS t FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'click' AND e.ts >= s2.t GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s3 ON e.user_id = s3.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s3.t GROUP BY e.user_id),
    d AS (
      SELECT 'L1_signup->L2_view' AS step,
             (epoch_us(s2.t) - epoch_us(s1.t)) / 1000000.0 AS delay_s
      FROM s1 JOIN s2 USING (user_id)
      UNION ALL
      SELECT 'L2_view->L3_click',
             (epoch_us(s3.t) - epoch_us(s2.t)) / 1000000.0
      FROM s2 JOIN s3 USING (user_id)
      UNION ALL
      SELECT 'L3_click->L4_purchase',
             (epoch_us(s4.t) - epoch_us(s3.t)) / 1000000.0
      FROM s3 JOIN s4 USING (user_id))
    SELECT step, CAST(count(*) AS BIGINT) AS n_users,
           round(quantile_cont(delay_s, 0.5), 4) AS p50_s,
           round(quantile_cont(delay_s, 0.9), 4) AS p90_s
    FROM d GROUP BY step
    """,
    note="time-to-convert distribution per funnel step (latency "
    "companion to funnel_conversion): min-ts chaining reused "
    "verbatim, exact integer-micros delays, median/p90 through the "
    "distributed grouped order-statistic kernel (no per-group "
    "buffer)",
)
def _funnel_time_to_convert(spark, sf):
    from ...operators import analytics

    return analytics.funnel_time_to_convert(_t(spark, sf, "events"))


@_register(
    "corr_matrix",
    """
    WITH m AS (
      SELECT CAST(l_quantity AS DOUBLE) AS quantity,
             CAST(l_extendedprice AS DOUBLE) AS extendedprice,
             CAST(l_discount AS DOUBLE) AS discount
      FROM lineitem
    ),
    pairs AS (
      SELECT 'quantity' AS metric_a, 'quantity' AS metric_b, quantity AS x, quantity AS y FROM m
      UNION ALL SELECT 'quantity', 'extendedprice', quantity, extendedprice FROM m
      UNION ALL SELECT 'quantity', 'discount', quantity, discount FROM m
      UNION ALL SELECT 'extendedprice', 'extendedprice', extendedprice, extendedprice FROM m
      UNION ALL SELECT 'extendedprice', 'discount', extendedprice, discount FROM m
      UNION ALL SELECT 'discount', 'discount', discount, discount FROM m
    )
    SELECT metric_a, metric_b, CAST(count(*) AS BIGINT) AS n,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / sqrt((count(*) * sum(x * x) - sum(x) * sum(x))
                        * (count(*) * sum(y * y) - sum(y) * sum(y))), 4) AS corr
    FROM pairs GROUP BY metric_a, metric_b
    """,
    note="full Pearson matrix in one pass: row-local pair explode + "
    "mergeable moment sums; shuffle carries O(p^2) rows at any scale",
)
def _corr_matrix(spark, sf):
    return analytics.corr_matrix(_t(spark, sf, "lineitem"))


@_register(
    "ks_drift",
    """
    WITH flagged AS (
      SELECT value,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('view', 'click')
    ),
    per_val AS (
      SELECT value, sum(ia) AS ca, sum(ib) AS cb FROM flagged GROUP BY value
    ),
    cdf AS (
      SELECT sum(ca) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             sum(cb) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
             sum(ca) OVER () AS na,
             sum(cb) OVER () AS nb
      FROM per_val
    )
    SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
           round(max(abs(cuma * 1.0 / na - cumb * 1.0 / nb)), 4) AS ks_stat
    FROM cdf
    """,
    note="exact two-sample KS: CDFs over the distinct-value-compressed "
    "stream (global window runs on distinct values, not rows); "
    "tie-exact by absorbing all rows at each value",
)
def _ks_drift(spark, sf):
    return analytics.ks_drift(_t(spark, sf, "events"))


@_register(
    "psi_drift",
    """
    WITH per_bucket AS (
      SELECT floor(value / 25.0) * 25.0 AS bucket_lo,
             sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM events GROUP BY 1
    ),
    props AS (
      SELECT bucket_lo, n_ref, n_cur,
             greatest(n_ref * 1.0 / sum(n_ref) OVER (), 1e-6) AS p_ref,
             greatest(n_cur * 1.0 / sum(n_cur) OVER (), 1e-6) AS p_cur
      FROM per_bucket
    ),
    contribs AS (
      SELECT bucket_lo, n_ref, n_cur,
             (p_cur - p_ref) * ln(p_cur / p_ref) AS contrib
      FROM props
    )
    SELECT bucket_lo, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round(contrib, 6) AS psi_contrib,
           round(sum(contrib) OVER (), 4) AS psi_total
    FROM contribs
    """,
    note="Population Stability Index over a deterministic even/odd "
    "event_id split; epsilon-clamped proportions, bucket-cardinality "
    "work after one aggregation",
)
def _psi_drift(spark, sf):
    return analytics.psi_drift(_t(spark, sf, "events"))


@_register(
    "target_encoding",
    """
    WITH per_cat AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             sum(n_chars) AS sum_t
      FROM documents GROUP BY source
    ),
    g AS (SELECT sum(sum_t) * 1.0 / sum(n_docs) AS mean_global FROM per_cat)
    SELECT source, n_docs,
           round(sum_t * 1.0 / n_docs, 4) AS mean_target,
           round((sum_t + 10.0 * mean_global) / (n_docs + 10.0), 4) AS encoded
    FROM per_cat CROSS JOIN g
    """,
    note="smoothed mean-target encoding (empirical-Bayes shrinkage); "
    "category-cardinality output, exact integer sums until the final "
    "division",
)
def _target_encoding(spark, sf):
    return analytics.target_encoding(_t(spark, sf, "documents"))


@_register(
    "mad_outliers",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS abs_dev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median(abs_dev) AS mad FROM dev
      GROUP BY event_type HAVING median(abs_dev) > 0
    )
    SELECT d.event_id, d.event_type, d.value,
           round(d.med, 4) AS med, round(m.mad, 4) AS mad,
           round(abs(d.value - d.med) / m.mad, 4) AS mad_score
    FROM dev d JOIN mad m USING (event_type)
    WHERE round(abs(d.value - d.med) / m.mad, 4) > 3.5
    """,
    note="robust MAD outlier gate: two exact-median aggregations + "
    "broadcast stats join; heavy tails no longer drag the scale they "
    "are scored against",
)
def _mad_outliers(spark, sf):
    return analytics.mad_outliers(_t(spark, sf, "events"))


@_register(
    "time_resample_gapfill",
    f"""
    WITH spine_h AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR))
             AS bucket_hour
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    spine AS (SELECT * FROM spine_h CROSS JOIN types),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_hour,
             CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS hour_value
      FROM {_EVTS} GROUP BY 1, 2
    )
    SELECT s.event_type, s.bucket_hour,
           coalesce(h.n, 0) AS n_events,
           last_value(h.hour_value IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.bucket_hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
    FROM spine s LEFT JOIN hourly h USING (event_type, bucket_hour)
    """,
    note="gap-filled hourly resample + LOCF per type: generated spine "
    "left-joined to one combinable aggregate; only the aggregate "
    "touches the corpus, the window runs over the spine",
)
def _time_resample_gapfill(spark, sf):
    return analytics.time_resample_gapfill(_t(spark, sf, "events"))


#: The md5 A/B user split (``operators.analytics._ab_arm``): TRUE for
#: arm A. concat_ws skips NULL on both engines, so a NULL user_id is
#: hashed as md5('ab') -> arm A on both engines; every A/B oracle
#: spells the split through this one string.
_AB_SPLIT = (
    "substr(md5(concat_ws('|', 'ab', CAST(user_id AS VARCHAR))),"
    " 1, 1) < '8'"
)


#: Shared two-proportion z-test CTE chain (hash A/B split -> per-type
#: z): ab_test_ztest's oracle selects ztab directly; stats_fdr_bh's
#: step-up builds on the SAME text, so the test definition (the
#: conv >= 10 threshold, the _AB_SPLIT split, the z formula) can never
#: drift between them.
_ZTEST_CTES = f"""
    users AS (
      SELECT DISTINCT user_id,
             CASE WHEN {_AB_SPLIT}
                  THEN 'A' ELSE 'B' END AS variant
      FROM events
    ),
    conv AS (
      SELECT user_id, event_type FROM events
      GROUP BY user_id, event_type HAVING count(*) >= 10
    ),
    per_type AS (
      SELECT c.event_type, u.variant, count(*) AS n_conv
      FROM users u JOIN conv c USING (user_id)
      GROUP BY c.event_type, u.variant
    ),
    tot_wide AS (
      SELECT sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b
      FROM users
    ),
    wide AS (
      SELECT event_type,
             coalesce(max(CASE WHEN p.variant = 'A' THEN p.n_conv END), 0)
               AS conv_a,
             coalesce(max(CASE WHEN p.variant = 'B' THEN p.n_conv END), 0)
               AS conv_b,
             t.n_a, t.n_b
      FROM per_type p CROSS JOIN tot_wide t
      GROUP BY event_type, t.n_a, t.n_b
    ),
    scored AS (
      SELECT *,
             (conv_a + conv_b) * 1.0 / (n_a + n_b) AS pp,
             conv_a * 1.0 / n_a - conv_b * 1.0 / n_b AS diff
      FROM wide
    ),
    ztab AS (
      SELECT event_type,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(conv_a AS BIGINT) AS conv_a,
             CAST(conv_b AS BIGINT) AS conv_b,
             round(diff / sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b)), 4)
               AS zscore,
             abs(diff / sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b))) >= 1.96
               AS significant
      FROM scored WHERE pp > 0 AND pp < 1
    )
"""


@_register(
    "ab_test_ztest",
    f"""
    WITH {_ZTEST_CTES.strip()}
    SELECT event_type, n_a, n_b, conv_a, conv_b, zscore, significant
    FROM ztab
    """,
    note="two-proportion z-test per event type over a deterministic "
    "hash A/B split: per-user compression first, everything after is "
    "type-alphabet sized",
)
def _ab_test_ztest(spark, sf):
    return analytics.ab_test_ztest(_t(spark, sf, "events"))


@_register(
    "stats_ttest_welch",
    f"""
    WITH base AS (
      SELECT event_type,
             CASE WHEN {_AB_SPLIT}
                  THEN 'A' ELSE 'B' END AS variant,
             value
      FROM events
    ),
    mu AS (
      SELECT event_type, variant, round(avg(value), 6) AS mu
      FROM base GROUP BY 1, 2
    ),
    cell AS (
      SELECT b.event_type, b.variant, count(*) AS n, max(m.mu) AS mu,
             sum((b.value - m.mu) * (b.value - m.mu)) AS css
      FROM base b
      JOIN mu m ON m.event_type = b.event_type AND m.variant = b.variant
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT event_type,
             max(CASE WHEN variant = 'A' THEN n END) AS n_a,
             max(CASE WHEN variant = 'B' THEN n END) AS n_b,
             max(CASE WHEN variant = 'A' THEN mu END) AS mean_a,
             max(CASE WHEN variant = 'B' THEN mu END) AS mean_b,
             max(CASE WHEN variant = 'A' THEN css END) AS css_a,
             max(CASE WHEN variant = 'B' THEN css END) AS css_b
      FROM cell GROUP BY event_type
    ),
    scored AS (
      SELECT *,
             css_a / (n_a - 1) / n_a AS va,
             css_b / (n_b - 1) / n_b AS vb
      FROM wide
      WHERE n_a > 1 AND n_b > 1 AND css_a + css_b > 0
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           mean_a, mean_b,
           round((mean_a - mean_b) / sqrt(va + vb), 4) AS t_stat,
           round((va + vb) * (va + vb)
                 / (va * va / (n_a - 1) + vb * vb / (n_b - 1)), 2) AS df,
           abs((mean_a - mean_b) / sqrt(va + vb)) >= 1.96 AS significant
    FROM scored
    """,
    note="Welch unequal-variance t-test per event type over the same "
    "deterministic hash A/B split as ab_test_ztest: per-arm means "
    "rounded 6 to pin the centering constant (stats_moments "
    "discipline), one centered-squares pass, Welch-Satterthwaite dof "
    "as row-local arithmetic on the alphabet-sized result",
)
def _stats_ttest_welch(spark, sf):
    return analytics.welch_ttest(_t(spark, sf, "events"))


@_register(
    "stats_anova",
    """
    WITH mu AS (
      SELECT event_type, round(avg(value), 6) AS mu, count(*) AS n
      FROM events GROUP BY event_type
    ),
    cell AS (
      SELECT e.event_type, max(m.n) AS n, max(m.mu) AS mu,
             sum((e.value - m.mu) * (e.value - m.mu)) AS css
      FROM events e JOIN mu m USING (event_type)
      GROUP BY e.event_type
    ),
    g AS (
      SELECT *, round(sum(mu * n) OVER () / sum(n) OVER (), 6) AS grand
      FROM cell
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(n) AS BIGINT) AS n_total,
             sum(n * (mu - grand) * (mu - grand)) AS ssb,
             sum(css) AS ssw
      FROM g
    )
    SELECT k_groups, n_total,
           round(ssb, 4) AS ss_between,
           round(ssw, 4) AS ss_within,
           round((ssb / (k_groups - 1)) / (ssw / (n_total - k_groups)), 4)
             AS f_stat,
           round(ssb / (ssb + ssw), 4) AS eta_sq
    FROM agg
    WHERE k_groups > 1 AND n_total > k_groups AND ssw > 0
    """,
    note="one-way ANOVA F across the full event-type alphabet: "
    "per-type means rounded 6 (stats_moments centering discipline), "
    "one centered-squares pass for SSW, grand mean re-derived from "
    "the SAME pinned means; F and eta-squared row-local on the "
    "one-row result",
)
def _stats_anova(spark, sf):
    return analytics.anova_oneway(_t(spark, sf, "events"))


@_register(
    "stats_levene",
    """
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type, abs(e.value - m.med) AS z
      FROM events e JOIN med m USING (event_type)
    ),
    mu AS (
      SELECT event_type, round(avg(z), 6) AS mu, count(*) AS n
      FROM z GROUP BY event_type
    ),
    cell AS (
      SELECT z.event_type, max(m.n) AS n, max(m.mu) AS mu,
             sum((z.z - m.mu) * (z.z - m.mu)) AS css
      FROM z JOIN mu m USING (event_type)
      GROUP BY z.event_type
    ),
    g AS (
      SELECT *, round(sum(mu * n) OVER () / sum(n) OVER (), 6) AS grand
      FROM cell
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(n) AS BIGINT) AS n_total,
             sum(n * (mu - grand) * (mu - grand)) AS ssb,
             sum(css) AS ssw
      FROM g
    ),
    crit AS (
      SELECT *,
             round(COALESCE(
               CASE k_groups - 1
                 WHEN 1 THEN 3.8415 WHEN 2 THEN 2.9957 WHEN 3 THEN 2.6049
                 WHEN 4 THEN 2.3719 WHEN 5 THEN 2.2141 WHEN 6 THEN 2.0986
                 WHEN 7 THEN 2.0096 WHEN 8 THEN 1.9384 WHEN 9 THEN 1.8799
                 WHEN 10 THEN 1.8307 WHEN 11 THEN 1.7886 WHEN 12 THEN 1.7522
               END,
               pow(1.0 - 2.0 / (9.0 * (k_groups - 1))
                   + 1.6448536 * sqrt(2.0 / (9.0 * (k_groups - 1))), 3.0)
             ), 4) AS f_crit
      FROM agg
    )
    SELECT k_groups, n_total,
           round((ssb / (k_groups - 1))
                 / (ssw / (n_total - k_groups)), 4) AS w_stat,
           f_crit,
           round((ssb / (k_groups - 1))
                 / (ssw / (n_total - k_groups)), 4) < f_crit
             AS var_homogeneous
    FROM crit
    WHERE k_groups > 1 AND n_total > k_groups AND ssw > 0
    """,
    note="Brown-Forsythe variance-homogeneity test (the assumption "
    "check behind stats_anova): exact per-type medians rounded 6 as "
    "the robust centers, then the anova machinery verbatim on "
    "|v - med|; one-row result, alphabet-sized tail",
)
def _stats_levene(spark, sf):
    return analytics.levene_brownforsythe(_t(spark, sf, "events"))


@_register(
    "survival_kaplan_meier",
    """
    WITH u AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS f,
             max(CAST(ts AS TIMESTAMP)) AS l
      FROM events GROUP BY user_id),
    m AS (SELECT max(epoch_us(l)) AS mx_us FROM u),
    per AS (
      SELECT (epoch_us(l) - epoch_us(f)) // 86400000000 AS duration_d,
             CASE WHEN epoch_us(l) <= mx_us - 86400000000
                  THEN 1 ELSE 0 END AS observed
      FROM u, m),
    dur AS (
      SELECT duration_d, count(*) AS n_at_d, sum(observed) AS n_events,
             count(*) - sum(observed) AS n_censored
      FROM per GROUP BY duration_d),
    n AS (SELECT count(*) AS n_users FROM per),
    base AS (
      SELECT d.*,
             n.n_users - coalesce(sum(n_at_d) OVER (
               ORDER BY duration_d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM dur d, n),
    st AS (
      SELECT *,
             CASE WHEN n_events = 0 THEN 0
                  WHEN n_events < n_risk THEN
                    CAST(round((ln(CAST(n_risk - n_events AS DOUBLE))
                                - ln(CAST(n_risk AS DOUBLE)))
                               * 1000000.0) AS BIGINT)
             END AS f_mnat,
             max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END) OVER (
               ORDER BY duration_d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wiped
      FROM base)
    SELECT duration_d, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_censored AS BIGINT) AS n_censored,
           CASE WHEN wiped = 1 THEN 0.0
                ELSE round(exp(sum(f_mnat) OVER (
                       ORDER BY duration_d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / 1000000.0), 6)
           END AS survival
    FROM st
    """,
    note="Kaplan-Meier survival over user activity lifetimes (churn "
    "observed after a 1-day silence before the observation edge -- "
    "the window that bisects this fixture's near-continuous users; "
    "30 days censors everyone, the join_asof_ttl lesson): KM factors "
    "as integer micro-nats, product as an exact integer prefix sum "
    "over the days-bounded duration table, one exp per row rounded "
    "6; risk-set wipe-out rows pin survival 0.0",
)
def _survival_kaplan_meier(spark, sf):
    return analytics.survival_kaplan_meier(_t(spark, sf, "events"))


@_register(
    "stats_fdr_bh",
    f"""
    WITH {_ZTEST_CTES.strip()},
    ptab AS (
      SELECT event_type, zscore,
             round(least(1.0, 2.0 * exp(-0.717 * abs(zscore)
                   - 0.416 * zscore * zscore)), 8) AS p_approx
      FROM ztab
    ),
    ranked AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY p_approx, event_type)
                  AS INTEGER) AS p_rank,
             count(*) OVER () AS m
      FROM ptab
    ),
    flagged AS (
      SELECT event_type, zscore, p_approx, p_rank,
             round(0.1e0 * p_rank / m, 8) AS bh_crit
      FROM ranked
    )
    SELECT event_type, zscore, p_approx, p_rank, bh_crit,
           p_rank <= coalesce(max(CASE WHEN p_approx <= bh_crit
                                       THEN p_rank END) OVER (), 0)
             AS rejected
    FROM flagged
    """,
    note="Benjamini-Hochberg FDR step-up over the per-type A/B "
    "z-tests (ab_test_ztest's CTE reused verbatim): closed-form "
    "normal-tail p (elementary ops only, identical doubles both "
    "engines, rounded 8 before ranking), two global windows over the "
    "ALPHABET-sized test table",
)
def _stats_fdr_bh(spark, sf):
    return analytics.fdr_bh(_t(spark, sf, "events"))


@_register(
    "customer_rfm_segments",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(max(o_orderdate) AS DATE)) AS INTEGER) AS r_v,
             CAST(count(*) AS BIGINT) AS f_v,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m_dec
      FROM orders GROUP BY 1),
    th AS (
      SELECT round(quantile_cont(CAST(r_v AS DOUBLE), 0.25), 4) AS r1,
             round(quantile_cont(CAST(r_v AS DOUBLE), 0.50), 4) AS r2,
             round(quantile_cont(CAST(r_v AS DOUBLE), 0.75), 4) AS r3,
             round(quantile_cont(CAST(f_v AS DOUBLE), 0.25), 4) AS f1,
             round(quantile_cont(CAST(f_v AS DOUBLE), 0.50), 4) AS f2,
             round(quantile_cont(CAST(f_v AS DOUBLE), 0.75), 4) AS f3,
             round(quantile_cont(CAST(m_dec AS DOUBLE), 0.25), 4) AS m1,
             round(quantile_cont(CAST(m_dec AS DOUBLE), 0.50), 4) AS m2,
             round(quantile_cont(CAST(m_dec AS DOUBLE), 0.75), 4) AS m3
      FROM cust),
    seg AS (
      SELECT m_dec,
             CAST(1 + (CASE WHEN CAST(r_v AS DOUBLE) > r1 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(r_v AS DOUBLE) > r2 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(r_v AS DOUBLE) > r3 THEN 1 ELSE 0 END)
               AS INTEGER) AS r_q,
             CAST(1 + (CASE WHEN CAST(f_v AS DOUBLE) > f1 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(f_v AS DOUBLE) > f2 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(f_v AS DOUBLE) > f3 THEN 1 ELSE 0 END)
               AS INTEGER) AS f_q,
             CAST(1 + (CASE WHEN CAST(m_dec AS DOUBLE) > m1 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(m_dec AS DOUBLE) > m2 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(m_dec AS DOUBLE) > m3 THEN 1 ELSE 0 END)
               AS INTEGER) AS m_q
      FROM cust CROSS JOIN th)
    SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(m_dec) AS DOUBLE), 2) AS revenue
    FROM seg GROUP BY 1, 2, 3
    """,
    note="RFM quartile segmentation: all nine cut points from ONE "
    "grouped exact-quantile kernel call over the long-form (metric, "
    "value) stream (no global ntile sort), cut arrays broadcast back, "
    "bucket assignment a pure row expression, monetary exact DECIMAL "
    "end to end",
)
def _customer_rfm_segments(spark, sf):
    return analytics.customer_rfm_segments(_t(spark, sf, "orders"))


@_register(
    "stats_bootstrap_ci",
    """
    WITH hashed AS (
      SELECT l_returnflag, l_extendedprice,
             md5('bs|' || CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_linenumber AS VARCHAR)) AS h
      FROM lineitem),
    base AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
             + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
             + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
             + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) AS h8
      FROM hashed),
    full_s AS (
      SELECT l_returnflag, count(*) AS n, sum(x) AS sx,
             round(CAST(sum(x) AS DOUBLE) / 100.0 / count(*), 6) AS c
      FROM base GROUP BY 1),
    weighted AS (
      SELECT l_returnflag, x, b,
             CASE WHEN s2 < 385750 THEN 0
                  WHEN s2 < 771499 THEN 1
                  WHEN s2 < 964374 THEN 2
                  WHEN s2 < 1028665 THEN 3
                  WHEN s2 < 1044738 THEN 4
                  WHEN s2 < 1047953 THEN 5
                  WHEN s2 < 1048489 THEN 6
                  WHEN s2 < 1048565 THEN 7
                  WHEN s2 < 1048575 THEN 8
                  ELSE 9 END AS w
      FROM (
        SELECT l_returnflag, x, b,
               ((((h8 * 1000003 + b * 999999937) % 1048576) * 48271 + 11)
                  % 1048576) AS s2
        FROM base CROSS JOIN (SELECT unnest(range(0, 24)) AS b) r)),
    reps AS (
      SELECT l_returnflag, b, sum(w * x) AS swx, sum(w) AS sw
      FROM weighted GROUP BY 1, 2),
    means AS (
      SELECT r.l_returnflag, f.c,
             CAST(r.swx AS DOUBLE) / 100.0 / r.sw - f.c AS dev
      FROM reps r JOIN full_s f USING (l_returnflag)
      WHERE r.sw > 0),
    spread AS (
      SELECT l_returnflag, c, count(*) AS nb,
             sum(dev) AS sd, sum(dev * dev) AS sdd
      FROM means GROUP BY 1, 2)
    SELECT l_returnflag,
           round(c, 4) AS mean_price,
           round(sqrt((sdd - sd * sd / nb) / (nb - 1)), 4) AS se_boot,
           round(c - 1.96 * sqrt((sdd - sd * sd / nb) / (nb - 1)), 4) AS ci_lo,
           round(c + 1.96 * sqrt((sdd - sd * sd / nb) / (nb - 1)), 4) AS ci_hi
    FROM spread
    """,
    note="Poissonized bootstrap: per-(row, replicate) Poisson(1) "
    "weights from overflow-safe modular scrambles of an md5-derived "
    "integer (deterministic across engines/retries); replicate sums "
    "in exact DECIMAL, variance centered on the pinned full mean",
)
def _stats_bootstrap_ci(spark, sf):
    return analytics.stats_bootstrap_ci(_t(spark, sf, "lineitem"))


@_register(
    "stats_gini",
    """
    WITH spend AS (
      SELECT c_nationkey, c_custkey,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT c_nationkey, c_custkey, x,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY x, c_custkey) AS i
      FROM spend),
    agg AS (
      SELECT c_nationkey, count(*) AS n, sum(x) AS sx,
             sum(CAST(i * x AS DECIMAL(28,2))) AS six
      FROM ranked GROUP BY 1)
    SELECT c_nationkey, CAST(n AS INT) AS n_customers,
           round(CAST(sx AS DOUBLE), 2) AS total_spend,
           round(2.0 * CAST(six AS DOUBLE) / (n * CAST(sx AS DOUBLE))
                 - (n + 1.0) / n, 4) AS gini
    FROM agg
    """,
    note="per-nation Gini of customer lifetime spend via the exact "
    "rank formula: DECIMAL-exact sums, one customer agg + one "
    "per-nation window -- tie rank-sums are order-invariant so the "
    "coefficient is deterministic",
)
def _stats_gini(spark, sf):
    return analytics.stats_gini(
        _t(spark, sf, "orders"), _t(spark, sf, "customer")
    )


@_register(
    "dp_noisy_counts",
    """
    WITH g AS (
      SELECT event_type,
             strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
             count(*) AS cnt
      FROM events GROUP BY 1, 2),
    n AS (
      SELECT event_type, day, cnt,
             md5('dp|' || event_type || '|' || day) AS h
      FROM g),
    u AS (
      SELECT event_type, day, cnt,
             ((  (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1))
              + 0.5) / 65536.0 - 0.5 AS uu
      FROM n)
    SELECT event_type, day,
           round(cnt + (-1.0) * sign(uu) * ln(1 - 2 * abs(uu)), 4)
             AS noisy_count
    FROM u
    """,
    note="eps-DP-style noisy count release with key-derived "
    "deterministic Laplace noise (md5 -> 4-hex-digit midpoint "
    "uniform -> inverse CDF); true counts never emitted",
)
def _dp_noisy_counts(spark, sf):
    return analytics.dp_noisy_counts(_t(spark, sf, "events"))


@_register(
    "basket_lift_topk",
    """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets),
    item AS (
      SELECT l_partkey, count(*) AS supp FROM baskets
      GROUP BY 1 HAVING count(*) >= 2),
    freq AS (
      SELECT b.l_orderkey, b.l_partkey
      FROM baskets b JOIN item USING (l_partkey)),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS support
      FROM freq a JOIN freq b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
           round(support * 1.0 / sa.supp, 4) AS confidence,
           round((support * n_orders) * 1.0 / (sa.supp * sb.supp), 4)
             AS lift
    FROM pairs
    JOIN item sa ON sa.l_partkey = part_a
    JOIN item sb ON sb.l_partkey = part_b
    CROSS JOIN tot
    ORDER BY lift DESC, support DESC, part_a, part_b
    LIMIT 20
    """,
    note="market-basket lift top-20 with the a-priori prune: "
    "below-min-support items semi-joined out BEFORE the pair "
    "self-join; 1-row total-orders broadcast scalar (allowlisted); "
    "TakeOrderedAndProject top-k",
)
def _basket_lift_topk(spark, sf):
    return analytics.basket_lift_topk(_t(spark, sf, "lineitem"))


@_register(
    "stats_mannwhitney",
    f"""
    WITH base AS (
      SELECT event_type,
             {_AB_SPLIT} AS is_a,
             value
      FROM events
      WHERE value IS NOT NULL
    ),
    vg AS (
      SELECT event_type, value, count(*) AS cnt,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS cnt_a
      FROM base GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *,
             2 * coalesce(sum(cnt) OVER (
               PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS rank2
      FROM vg
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(cnt_a) AS BIGINT) AS n_a,
             CAST(sum(cnt - cnt_a) AS BIGINT) AS n_b,
             CAST(sum(cnt_a * rank2) AS BIGINT) AS r2_a
      FROM ranked GROUP BY event_type
    ),
    scored AS (
      SELECT *,
             r2_a - n_a * (n_a + 1) AS u2,
             n_a * n_b AS mu2,
             sqrt(n_a * n_b * (n_a + n_b + 1) / 12.0) AS sigma
      FROM agg WHERE n_a > 0 AND n_b > 0
    )
    SELECT event_type, n_a, n_b,
           u2 / 2.0 AS u_stat,
           round((u2 - mu2) / (2 * sigma), 4) AS zscore,
           abs((u2 - mu2) / (2 * sigma)) >= 1.96 AS significant
    FROM scored
    """,
    note="Mann-Whitney U rank-sum test per event type over the same "
    "deterministic A/B hash split (nonparametric companion to "
    "stats_ttest_welch): tied values take average ranks carried "
    "DOUBLED as exact integers, U and rank sums stay exact bigints, "
    "one (type, value) fold + a cumulative window over the per-type "
    "value alphabet; large-sample z without tie correction by "
    "declared contract",
)
def _stats_mannwhitney(spark, sf):
    return analytics.mannwhitney_utest(_t(spark, sf, "events"))


@_register(
    "stats_kruskal_wallis",
    f"""
    WITH vg AS (
      SELECT event_type, value, count(*) AS cnt
      FROM {_EVTS} WHERE value IS NOT NULL
      GROUP BY event_type, value),
    vtot AS (SELECT value, sum(cnt) AS cnt_v FROM vg GROUP BY value),
    ranked AS (
      SELECT value, cnt_v,
             2 * coalesce(sum(cnt_v) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt_v + 1 AS rank2
      FROM vtot),
    pg AS (
      SELECT event_type, sum(cnt) AS n_g, sum(cnt * rank2) AS r2_g
      FROM vg JOIN ranked USING (value)
      GROUP BY event_type),
    terms AS (
      SELECT n_g,
             CAST(round(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
                        / n_g) AS BIGINT) AS term
      FROM pg),
    ties AS (
      SELECT sum(cnt_v * cnt_v * cnt_v - cnt_v) AS tie_sum FROM vtot),
    agg AS (
      SELECT count(*) AS k_groups, sum(n_g) AS n_total,
             sum(term) AS s_terms
      FROM terms),
    st AS (
      SELECT k_groups, n_total, s_terms, tie_sum,
             k_groups - 1 AS df1,
             CAST(n_total AS DOUBLE) AS n_d
      FROM agg, ties)
    SELECT CAST(k_groups AS INTEGER) AS k_groups,
           CAST(n_total AS BIGINT) AS n_total,
           round((3.0 * s_terms / (n_total * (n_total + 1))
                  - 3 * (n_total + 1))
                 / (1.0 - tie_sum / (n_d * n_d * n_d - n_d)), 4) AS h_stat,
           round(coalesce(
             CASE df1 WHEN 1 THEN 3.8415 WHEN 2 THEN 5.9915
                      WHEN 3 THEN 7.8147 WHEN 4 THEN 9.4877
                      WHEN 5 THEN 11.0705 WHEN 6 THEN 12.5916
                      WHEN 7 THEN 14.0671 WHEN 8 THEN 15.5073
                      WHEN 9 THEN 16.9190 WHEN 10 THEN 18.3070
                      WHEN 11 THEN 19.6751 WHEN 12 THEN 21.0261 END,
             df1 * pow(1.0 - 2.0 / (9.0 * df1)
                       + 1.6448536 * sqrt(2.0 / (9.0 * df1)), 3.0)), 4)
             AS chi2_crit,
           round((3.0 * s_terms / (n_total * (n_total + 1))
                  - 3 * (n_total + 1))
                 / (1.0 - tie_sum / (n_d * n_d * n_d - n_d)), 4)
           >= round(coalesce(
             CASE df1 WHEN 1 THEN 3.8415 WHEN 2 THEN 5.9915
                      WHEN 3 THEN 7.8147 WHEN 4 THEN 9.4877
                      WHEN 5 THEN 11.0705 WHEN 6 THEN 12.5916
                      WHEN 7 THEN 14.0671 WHEN 8 THEN 15.5073
                      WHEN 9 THEN 16.9190 WHEN 10 THEN 18.3070
                      WHEN 11 THEN 19.6751 WHEN 12 THEN 21.0261 END,
             df1 * pow(1.0 - 2.0 / (9.0 * df1)
                       + 1.6448536 * sqrt(2.0 / (9.0 * df1)), 3.0)), 4)
             AS reject
    FROM st
    """,
    note="rank-based k-group test (anova's distribution-free "
    "sibling): doubled tied ranks on the distinct value alphabet "
    "(mannwhitney contract), per-group terms rounded to exact "
    "integers BEFORE the k-term fold so the sum is order-free, tie "
    "correction from exact sum(t^3-t); chi2 crit derived from "
    "k_groups (stats_levene table, Wilson-Hilferty beyond)",
)
def _stats_kruskal_wallis(spark, sf):
    return analytics.kruskal_wallis(_t(spark, sf, "events"))


@_register(
    "events_hhi_concentration",
    f"""
    WITH pu AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM {_EVTS} GROUP BY 1, 2),
    a AS (
      SELECT event_type, count(*) AS n_users, sum(cnt) AS n_events,
             sum(cnt * cnt) AS sq
      FROM pu GROUP BY 1)
    SELECT event_type, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_events AS BIGINT) AS n_events,
           round(sq / (CAST(n_events AS DOUBLE) * n_events), 6) AS hhi,
           round(CAST(n_events AS DOUBLE) * n_events / sq, 4)
             AS effective_users
    FROM a
    """,
    note="whale-concentration audit (HHI + effective user count) "
    "per event type: shares never materialize -- sum(cnt^2)/total^2 "
    "from two exact BIGINTs, one rounded division per row, no "
    "order-dependent double fold",
)
def _events_hhi_concentration(spark, sf):
    return analytics.hhi_concentration(_t(spark, sf, "events"))


@_register(
    "sketch_quantile_mergeable",
    f"""
    WITH ev AS (SELECT event_type, value FROM {_EVTS}
                WHERE value IS NOT NULL),
    stats AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi,
             count(*) AS n
      FROM ev GROUP BY 1),
    binned AS (
      SELECT event_type, lo, hi, n,
             CAST(CASE WHEN hi = lo THEN 0
                  ELSE least(floor((value - lo) * 256 / (hi - lo)), 255)
                  END AS INTEGER) AS bin,
             count(*) AS cnt
      FROM ev JOIN stats USING (event_type)
      GROUP BY 1, 2, 3, 4, 5),
    cum AS (
      SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM binned),
    fan AS (
      SELECT cum.*, qq.q, ceil(qq.q * n) AS target
      FROM cum CROSS JOIN (
        SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
                       CAST(0.99 AS DOUBLE)]) AS q) qq)
    SELECT event_type, CAST(n AS BIGINT) AS n_events, q,
           round(lo + ((hi - lo) / 256.0)
                 * (bin + (target - (cum - cnt)) / cnt), 6) AS est
    FROM fan
    WHERE cum >= target AND cum - cnt < target
    """,
    note="mergeable fixed-bin quantile sketch (deterministic "
    "t-digest/KLL stand-in, hash-oracled unlike Spark's opaque "
    "approx_percentile): per-partition histograms on a common "
    "[min,max] grid merge associatively in the partial->final "
    "aggregate; p50/p95/p99 by integer-exact interpolation in the "
    "straddling bin",
)
def _sketch_quantile_mergeable(spark, sf):
    return analytics.quantile_sketch(_t(spark, sf, "events"))


@_register(
    "stats_spearman",
    f"""
    WITH ev AS (
      SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM {_EVTS} WHERE value IS NOT NULL),
    vg AS (SELECT event_type, value, count(*) AS cnt
           FROM ev GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, value,
             2 * coalesce(sum(cnt) OVER (PARTITION BY event_type
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS u
      FROM vg),
    rws AS (
      SELECT ev.event_type, u,
             2 * row_number() OVER (PARTITION BY ev.event_type
               ORDER BY ts, event_id) AS v
      FROM ev JOIN ranked ON ev.event_type = ranked.event_type
                         AND ev.value = ranked.value),
    agg AS (
      SELECT event_type, count(*) AS n, sum(u) AS su, sum(v) AS sv,
             sum(u * u) AS suu, sum(v * v) AS svv, sum(u * v) AS suv
      FROM rws GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           round((CAST(n AS DOUBLE) * suv - CAST(su AS DOUBLE) * sv)
                 / sqrt((CAST(n AS DOUBLE) * suu
                         - CAST(su AS DOUBLE) * su)
                        * (CAST(n AS DOUBLE) * svv
                           - CAST(sv AS DOUBLE) * sv)), 4)
             AS spearman_rho
    FROM agg
    """,
    note="Spearman rho of value vs event time per type (the monotone "
    "drift detector next to Pearson stats_correlation and "
    "trend_regression's line fit): doubled average value ranks off "
    "the alphabet collapse, doubled row_number time ranks (unique "
    "total order), exact BIGINT sums, one rounded double combination",
)
def _stats_spearman(spark, sf):
    return analytics.spearman_corr(_t(spark, sf, "events"))


@_register(
    "stats_benford",
    """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0),
    obs AS (SELECT digit, count(*) AS n_obs FROM c GROUP BY digit),
    tot AS (SELECT sum(n_obs) AS n FROM obs)
    SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
           round(n * log10(1.0 + 1.0 / digit), 4) AS expected,
           round((n_obs - n * log10(1.0 + 1.0 / digit))
                 / (n * log10(1.0 + 1.0 / digit)) * 100.0, 4)
             AS excess_pct,
           CAST(round((n_obs - n * log10(1.0 + 1.0 / digit))
                      * (n_obs - n * log10(1.0 + 1.0 / digit))
                      / (n * log10(1.0 + 1.0 / digit)) * 1e6) AS BIGINT)
             AS chi2_micro
    FROM obs, tot
    """,
    note="Benford first-digit audit of order amounts (fraud / "
    "synthetic-data screen): first digit via STRING math on exact "
    "integer cents (float floor(log10) flips below powers of ten); "
    "per-digit rows, chi-square contribution as integer micro-units "
    "-- no cross-digit double fold",
)
def _stats_benford(spark, sf):
    return analytics.benford_audit(_t(spark, sf, "orders"))


@_register(
    "events_interarrival_burstiness",
    f"""
    WITH g AS (
      SELECT event_type,
             CAST(floor((epoch_us(CAST(ts AS TIMESTAMP))
                    - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                        PARTITION BY event_type, user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id))
                   / 1000000) AS BIGINT) AS gp
      FROM events),
    gg AS (SELECT event_type, gp FROM g WHERE gp IS NOT NULL),
    agg AS (
      SELECT event_type, count(*) AS n_gaps, sum(gp) AS s,
             sum(gp * gp) AS ssq
      FROM gg GROUP BY 1)
    SELECT event_type, CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(round(s * 100.0 / n_gaps) AS BIGINT) / 100.0 AS mean_gap_s,
           round(sqrt(CAST(n_gaps AS DOUBLE) * ssq
                      - CAST(s AS DOUBLE) * s) / s, 4) AS cv,
           round((sqrt(CAST(n_gaps AS DOUBLE) * ssq
                       - CAST(s AS DOUBLE) * s) / s - 1)
                 / (sqrt(CAST(n_gaps AS DOUBLE) * ssq
                         - CAST(s AS DOUBLE) * s) / s + 1), 4)
             AS burstiness
    FROM agg
    """,
    note="per-type inter-arrival burstiness (Goh-Barabasi B = "
    "(cv-1)/(cv+1); 0 = Poisson, ->1 bursty, <0 clocked): integer-"
    "second gaps off one lag, mean/cv row-local from three exact "
    "integer sums",
)
def _events_interarrival_burstiness(spark, sf):
    return analytics.interarrival_burstiness(_t(spark, sf, "events"))


@_register(
    "events_zscore_cross_sectional",
    f"""
    WITH du AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id,
             count(*) AS cnt
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT day, count(*) AS m, sum(cnt) AS s, sum(cnt * cnt) AS ssq
      FROM du GROUP BY 1)
    SELECT day, user_id, CAST(cnt AS BIGINT) AS n_events,
           CASE WHEN m * ssq - s * s > 0 THEN
             round(CAST(m * cnt - s AS DOUBLE)
                   / sqrt(CAST(m * ssq - s * s AS DOUBLE)), 4)
           END AS zscore
    FROM du JOIN st USING (day)
    """,
    note="cross-sectional daily activity z-score per (day, user) -- "
    "peers-today comparison next to hourly_anomaly's own-history "
    "one: all-integer identity z = (m*cnt-s)/sqrt(m*ssq-s^2) keeps "
    "every value under the sqrt an exact BIGINT; all-tied days NULL",
)
def _events_zscore_cross_sectional(spark, sf):
    return analytics.zscore_cross_sectional(_t(spark, sf, "events"))


@_register(
    "stats_cohens_d",
    f"""
    WITH base AS (
      SELECT event_type,
             CASE WHEN {_AB_SPLIT}
                  THEN 'A' ELSE 'B' END AS variant,
             value
      FROM events),
    mu AS (
      SELECT event_type, variant, round(avg(value), 6) AS mu
      FROM base GROUP BY 1, 2),
    cell AS (
      SELECT b.event_type, b.variant, count(*) AS n, max(m.mu) AS mu,
             sum((b.value - m.mu) * (b.value - m.mu)) AS css
      FROM base b
      JOIN mu m ON m.event_type = b.event_type AND m.variant = b.variant
      GROUP BY 1, 2),
    wide AS (
      SELECT event_type,
             max(CASE WHEN variant = 'A' THEN n END) AS n_a,
             max(CASE WHEN variant = 'B' THEN n END) AS n_b,
             max(CASE WHEN variant = 'A' THEN mu END) AS mean_a,
             max(CASE WHEN variant = 'B' THEN mu END) AS mean_b,
             max(CASE WHEN variant = 'A' THEN css END) AS css_a,
             max(CASE WHEN variant = 'B' THEN css END) AS css_b
      FROM cell GROUP BY event_type),
    ok AS (
      SELECT *, sqrt((css_a + css_b) / (n_a + n_b - 2)) AS pooled
      FROM wide
      WHERE n_a > 1 AND n_b > 1 AND css_a + css_b > 0),
    sc AS (
      SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
             CAST(n_b AS BIGINT) AS n_b,
             round((mean_a - mean_b) / pooled, 4) AS cohens_d,
             round((mean_a - mean_b) / pooled
                   * (1.0 - 3.0 / (4 * (n_a + n_b) - 9)), 4) AS hedges_g
      FROM ok)
    SELECT event_type, n_a, n_b, cohens_d, hedges_g,
           CASE WHEN abs(cohens_d) < 0.2 THEN 'negligible'
                WHEN abs(cohens_d) < 0.5 THEN 'small'
                WHEN abs(cohens_d) < 0.8 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM sc
    """,
    note="Cohen's d + Hedges' g effect sizes over the A/B user hash "
    "(the magnitude readout the significance family omits): Welch "
    "machinery verbatim (pinned per-arm means, one centered-squares "
    "pass); magnitude bucket cuts on the ROUNDED d so the label "
    "cannot straddle engines",
)
def _stats_cohens_d(spark, sf):
    return analytics.cohens_d(_t(spark, sf, "events"))


@_register(
    "stats_runs_test",
    f"""
    WITH ev AS (
      SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events),
    med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
      FROM ev GROUP BY 1),
    sg AS (
      SELECT ev.event_type, ts, event_id,
             CASE WHEN value > med THEN 1 ELSE 0 END AS sgn
      FROM ev JOIN med USING (event_type)
      WHERE value <> med),
    rn AS (
      SELECT event_type, sgn,
             CASE WHEN lag(sgn) OVER w IS NULL
                    OR lag(sgn) OVER w <> sgn THEN 1 ELSE 0 END AS new_run
      FROM sg WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
    agg AS (
      SELECT event_type, sum(sgn) AS a, sum(1 - sgn) AS b,
             sum(new_run) AS r
      FROM rn GROUP BY 1),
    sc AS (
      SELECT event_type, CAST(a AS BIGINT) AS n_above,
             CAST(b AS BIGINT) AS n_below, CAST(r AS BIGINT) AS n_runs,
             round((r - (1.0 + 2 * CAST(a AS DOUBLE) * b
                         / (CAST(a AS DOUBLE) + b)))
                   / sqrt(2 * CAST(a AS DOUBLE) * b
                          * (2 * CAST(a AS DOUBLE) * b
                             - CAST(a AS DOUBLE) - b)
                          / ((CAST(a AS DOUBLE) + b)
                             * (CAST(a AS DOUBLE) + b)
                             * (CAST(a AS DOUBLE) + b - 1))), 4) AS zscore
      FROM agg WHERE a > 0 AND b > 0)
    SELECT event_type, n_above, n_below, n_runs, zscore,
           abs(zscore) < 1.96 AS random_order
    FROM sc
    """,
    note="Wald-Wolfowitz runs test of value-sequence randomness per "
    "type (the order-sensitive check moments can't make): median "
    "pinned at 4 decimals (winsorize fence discipline), equal-to-"
    "median rows dropped, run boundaries via lag over the (ts, "
    "event_id) total order; z in DOUBLE from exact integer a/b/R "
    "(2ab(2ab-a-b) overflows int64 -- the burstiness lesson)",
)
def _stats_runs_test(spark, sf):
    return analytics.runs_test(_t(spark, sf, "events"))


@_register(
    "funnel_conversion_windowed",
    f"""
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    s1 AS (SELECT user_id, min(ts) AS t FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t
           FROM e JOIN s1 USING (user_id)
           WHERE e.event_type = 'view' AND e.ts >= s1.t
             AND epoch_us(e.ts) <= epoch_us(s1.t) + 259200000000
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t
           FROM e JOIN s2 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts >= s2.t
             AND epoch_us(e.ts) <= epoch_us(s2.t) + 259200000000
           GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, min(e.ts) AS t
           FROM e JOIN s3 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts >= s3.t
             AND epoch_us(e.ts) <= epoch_us(s3.t) + 259200000000
           GROUP BY e.user_id)
    SELECT 'L1_signup' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT 'L2_view', CAST(count(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT 'L3_click', CAST(count(*) AS BIGINT) FROM s3
    UNION ALL
    SELECT 'L4_purchase', CAST(count(*) AS BIGINT) FROM s4
    """,
    note="conversion funnel with a 72h per-step window (the "
    "constraint funnel_conversion deliberately omits: a purchase "
    "three weeks after the click is not a conversion): same min-ts "
    "chain + one integer-microsecond upper bound per step; counts "
    "monotone and <= the unconstrained funnel stage-by-stage",
)
def _funnel_conversion_windowed(spark, sf):
    return analytics.funnel_conversion_windowed(_t(spark, sf, "events"))


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
                      THEN CAST(round(value * 100.0) AS BIGINT)
                      ELSE 0 END) AS a,
             sum(CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) >= 16
                      THEN CAST(round(value * 100.0) AS BIGINT)
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
    "events_retention_triangle",
    f"""
    WITH fs AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM {_EVTS} GROUP BY user_id),
    sizes AS (
      SELECT cohort_week, count(*) AS cohort_size
      FROM fs GROUP BY cohort_week),
    act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM {_EVTS}),
    tri AS (
      SELECT fs.cohort_week,
             CAST(date_diff('day', fs.cohort_week, a.active_week) / 7
                  AS INTEGER) AS week_offset,
             count(DISTINCT a.user_id) AS n_retained
      FROM act a JOIN fs ON fs.user_id = a.user_id
      GROUP BY 1, 2)
    SELECT t.cohort_week, t.week_offset,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(t.n_retained AS BIGINT) AS n_retained,
           CAST(CAST(round(t.n_retained * 1e6
                           / CAST(s.cohort_size AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS retained_share
    FROM tri t JOIN sizes s ON s.cohort_week = t.cohort_week
    """,
    note="weekly retention triangle (cohort x offset with cohort "
    "size and retained SHARE, offset 0 included): three user-keyed "
    "aggregates plus a weeks-bounded broadcast; shares round at "
    "integer 1e-6 scale",
)
def _events_retention_triangle(spark, sf):
    return analytics.retention_triangle(_t(spark, sf, "events"))


@_register(
    "orders_dow_profile",
    """
    WITH agg AS (
      SELECT dayofweek(o_orderdate) + 1 AS dow,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 10000
                  AS BIGINT) AS val_c4
      FROM orders GROUP BY 1),
    t AS (SELECT sum(n) AS n_total FROM agg)
    SELECT agg.dow,
           CAST(agg.n AS BIGINT) AS n_orders,
           CAST(agg.val_c4 AS DOUBLE) / CAST(10000 AS DOUBLE)
             AS total_value,
           CAST(CAST(round(agg.n * 1e6
                           / CAST(t.n_total AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS order_share
    FROM agg, t
    """,
    note="order-intake weekday profile (volume, exact-cents value, "
    "weekly demand share): one partial+final aggregate to 7 rows; "
    "money in 1e-4-dollar DECIMAL-derived integers, share at integer "
    "1e-6 scale; Spark dayofweek = DuckDB dayofweek + 1",
)
def _orders_dow_profile(spark, sf):
    return analytics.orders_dow_profile(_t(spark, sf, "orders"))


@_register(
    "stats_ansari_bradley",
    f"""
    WITH base AS (
      SELECT event_type,
             {_AB_SPLIT} AS is_a,
             value
      FROM events
      WHERE value IS NOT NULL),
    vg AS (
      SELECT event_type, value, count(*) AS cnt,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS cnt_a
      FROM base GROUP BY 1, 2),
    runs AS (
      SELECT event_type, cnt, cnt_a,
             coalesce(sum(cnt) OVER (
               PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
               AS lo,
             sum(cnt) OVER (PARTITION BY event_type) AS n_tot
      FROM vg),
    scored AS (
      SELECT event_type, cnt, cnt_a, n_tot,
             CAST(
               (CASE WHEN least(lo + cnt - 1,
                               CAST(floor((n_tot + 1) / 2) AS BIGINT)) >= lo
                     THEN (lo + least(lo + cnt - 1,
                                      CAST(floor((n_tot + 1) / 2) AS BIGINT)))
                          * (least(lo + cnt - 1,
                                   CAST(floor((n_tot + 1) / 2) AS BIGINT))
                             - lo + 1) / 2
                     ELSE 0 END)
               + (CASE WHEN (n_tot + 1 - (lo + cnt - 1))
                            <= (n_tot + 1
                                - greatest(lo,
                                           CAST(floor((n_tot + 1) / 2)
                                                AS BIGINT) + 1))
                       THEN ((n_tot + 1 - (lo + cnt - 1))
                             + (n_tot + 1
                                - greatest(lo,
                                           CAST(floor((n_tot + 1) / 2)
                                                AS BIGINT) + 1)))
                            * ((n_tot + 1
                                - greatest(lo,
                                           CAST(floor((n_tot + 1) / 2)
                                                AS BIGINT) + 1))
                               - (n_tot + 1 - (lo + cnt - 1)) + 1) / 2
                       ELSE 0 END)
               AS BIGINT) AS run_sum
      FROM runs),
    terms AS (
      SELECT event_type, cnt, cnt_a, n_tot, run_sum,
             CAST(round(cnt_a * run_sum * 1e6 / CAST(cnt AS DOUBLE))
                  AS BIGINT) AS t_a_micro,
             CAST(round(CAST(run_sum AS DOUBLE) * CAST(run_sum AS DOUBLE)
                        / CAST(cnt AS DOUBLE))
                  AS BIGINT) AS ssq_unit
      FROM scored),
    agg AS (
      SELECT event_type,
             CAST(sum(cnt_a) AS BIGINT) AS n_a,
             CAST(sum(cnt - cnt_a) AS BIGINT) AS n_b,
             CAST(max(n_tot) AS BIGINT) AS n_tot,
             CAST(sum(t_a_micro) AS BIGINT) AS t_a_micro,
             CAST(sum(run_sum) AS BIGINT) AS s_all,
             CAST(sum(ssq_unit) AS BIGINT) AS ssq_unit
      FROM terms GROUP BY event_type),
    v AS (
      SELECT event_type, n_a, n_b, t_a_micro, s_all, n_tot,
             CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
             * (CAST(n_tot AS DOUBLE) * CAST(ssq_unit AS DOUBLE)
                - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE))
             / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
                * (CAST(n_tot AS DOUBLE) - 1.0)) AS var
      FROM agg WHERE n_a > 0 AND n_b > 0 AND n_tot > 2),
    z AS (
      SELECT event_type, n_a, n_b,
             CAST(t_a_micro AS DOUBLE) / 1e6 AS t_a,
             CASE WHEN var > 0 THEN
               (CAST(t_a_micro AS DOUBLE) / 1e6
                - CAST(n_a AS DOUBLE)
                  * (CAST(s_all AS DOUBLE) / CAST(n_tot AS DOUBLE)))
               / sqrt(var)
             END AS zval
      FROM v)
    SELECT event_type, n_a, n_b,
           round(t_a, 6) AS t_ab,
           round(zval, 4) AS zscore,
           abs(zval) > 1.96 AS significant
    FROM z
    """,
    note="Ansari-Bradley two-sample dispersion test per event type "
    "over the md5 A/B split (nonparametric scale companion to "
    "stats_mannwhitney's location test): tie runs carry exact "
    "integer closed-form score sums, per-run rational terms round to "
    "integer micro-units BEFORE the fold, z one double expression",
)
def _stats_ansari_bradley(spark, sf):
    return analytics.ansari_bradley(_t(spark, sf, "events"))


@_register(
    "stats_ks_two_sample",
    f"""
    WITH base AS (
      SELECT event_type,
             {_AB_SPLIT} AS is_a,
             value
      FROM events
      WHERE value IS NOT NULL),
    vg AS (
      SELECT event_type, value, count(*) AS cnt,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS cnt_a
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT event_type,
             sum(cnt_a) OVER w AS ca,
             sum(cnt - cnt_a) OVER w AS cb
      FROM vg
      WINDOW w AS (PARTITION BY event_type ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    gap AS (
      SELECT event_type,
             max(ca) OVER wt AS n_a,
             max(cb) OVER wt AS n_b,
             abs(ca * max(cb) OVER wt - cb * max(ca) OVER wt) AS g
      FROM cum
      WINDOW wt AS (PARTITION BY event_type)),
    o AS (
      SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
             CAST(n_b AS BIGINT) AS n_b,
             CAST(max(g) AS BIGINT) AS d_num
      FROM gap GROUP BY 1, 2, 3),
    z AS (
      SELECT event_type, n_a, n_b,
             CAST(d_num AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS d,
             CAST(d_num AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
               * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
               AS zval
      FROM o WHERE n_a > 0 AND n_b > 0)
    SELECT event_type, n_a, n_b,
           round(d, 6) AS d_stat,
           round(zval, 4) AS ks_z,
           zval > 1.358 AS significant
    FROM z
    """,
    note="two-sample Kolmogorov-Smirnov per event type over the md5 "
    "A/B split (distribution-shape companion to mannwhitney/"
    "ansari_bradley): ECDF gap kept as the exact integer "
    "cross-product |ca*n_b - cb*n_a|, D and z one double each",
)
def _stats_ks_two_sample(spark, sf):
    return analytics.ks_two_sample(_t(spark, sf, "events"))


@_register(
    "stats_page_trend",
    f"""
    WITH {_DENSE_GRID_CTE},
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
    pos AS (
      SELECT event_type, rank_sum_x2, n_blocks,
             CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS j
      FROM sums),
    stat AS (
      SELECT CAST(sum(j * rank_sum_x2) AS BIGINT) AS l2,
             CAST(count(*) AS BIGINT) AS k,
             CAST(max(n_blocks) AS BIGINT) AS n
      FROM pos)
    SELECT event_type, CAST(j AS INTEGER) AS j, rank_sum_x2,
           round(CAST(l2 AS DOUBLE) / 2.0, 1) AS page_l,
           round(CASE WHEN CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                           * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1)
                           * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1)
                           / 144.0 > 0
                 THEN (CAST(l2 AS DOUBLE) / 2.0
                       - CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                         * (CAST(k AS DOUBLE) + 1)
                         * (CAST(k AS DOUBLE) + 1) / 4.0)
                      / sqrt(CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                             * CAST(k AS DOUBLE)
                             * (CAST(k AS DOUBLE) + 1)
                             * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1)
                             / 144.0)
                 END, 4) AS page_z
    FROM pos, stat
    """,
    note="Page's L ordered-alternative trend test (friedman's "
    "monotone sibling, alphabetical treatment order): doubled "
    "midranks over the dense user x type grid keep L2 an exact "
    "bigint; classical normal approximation one double expression",
)
def _stats_page_trend(spark, sf):
    return analytics.page_trend(_t(spark, sf, "events"))


@_register(
    "stats_sign_test",
    """
    WITH pu AS (
      SELECT user_id,
             sum(CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) <= 15
                      THEN CAST(floor(value * 100) AS BIGINT) END) AS es,
             count(CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) <= 15
                        THEN 1 END) AS en,
             sum(CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) > 15
                      THEN CAST(floor(value * 100) AS BIGINT) END) AS ls,
             count(CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) > 15
                        THEN 1 END) AS lcnt
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id),
    eligible AS (SELECT * FROM pu WHERE en > 0 AND lcnt > 0),
    agg AS (
      SELECT count(*) AS n_users,
             sum(CASE WHEN ls * en > es * lcnt THEN 1 ELSE 0 END) AS n_pos,
             sum(CASE WHEN ls * en < es * lcnt THEN 1 ELSE 0 END) AS n_neg,
             sum(CASE WHEN ls * en = es * lcnt THEN 1 ELSE 0 END) AS n_tie
      FROM eligible)
    SELECT CAST(n_users AS BIGINT) AS n_users,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(n_tie AS BIGINT) AS n_tie,
           round(CASE WHEN n_pos + n_neg > 0 THEN
                   (CAST(n_pos AS DOUBLE) - CAST(n_neg AS DOUBLE))
                   / sqrt(CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
                 END, 4) AS sign_z,
           abs((CAST(n_pos AS DOUBLE) - CAST(n_neg AS DOUBLE))
               / sqrt(CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)))
             > 1.96 AS significant
    FROM agg
    """,
    note="paired sign test, early-month vs late-month per-user value "
    "level (mcnemar's continuous-input sibling): signs decided on "
    "exact integer-cent cross-products (never a float mean), ties "
    "dropped, classical z one double",
)
def _stats_sign_test(spark, sf):
    return analytics.sign_test_paired(_t(spark, sf, "events"))


@_register(
    "events_user_lifespan_histogram",
    f"""
    WITH pu AS (
      SELECT user_id,
             date_diff('day',
                       date_trunc('day', min(ts)),
                       date_trunc('day', max(ts))) AS lifespan_days
      FROM {_EVTS} GROUP BY user_id),
    hist AS (
      SELECT lifespan_days, count(*) AS n_users
      FROM pu GROUP BY lifespan_days),
    t AS (SELECT sum(n_users) AS n_total FROM hist)
    SELECT CAST(lifespan_days AS INTEGER) AS lifespan_days,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(CAST(round(n_users * 1e6
                           / CAST(t.n_total AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS user_share
    FROM hist, t
    """,
    note="user-lifespan histogram (first-to-last-event day span): "
    "the engagement-duration view next to active_days_histogram's "
    "count view; one user-keyed aggregate, spans-bounded rollup, "
    "shares at integer 1e-6 scale",
)
def _events_user_lifespan_histogram(spark, sf):
    return analytics.user_lifespan_histogram(_t(spark, sf, "events"))


@_register(
    "events_hourly_load_factor",
    f"""
    WITH hourly AS (
      SELECT date_trunc('day', ts) AS day,
             date_part('hour', ts) AS hr,
             count(*) AS cnt
      FROM {_EVTS} GROUP BY 1, 2),
    tagged AS (
      SELECT day, hr, cnt,
             max(cnt) OVER (PARTITION BY day) AS peak,
             sum(cnt) OVER (PARTITION BY day) AS total
      FROM hourly)
    SELECT day,
           CAST(total AS BIGINT) AS n_events,
           CAST(min(CASE WHEN cnt = peak THEN hr END) AS INTEGER)
             AS peak_hour,
           CAST(peak AS BIGINT) AS peak_count,
           round(peak * 24.0 / CAST(total AS DOUBLE), 4) AS load_factor
    FROM tagged GROUP BY day, peak, total
    """,
    note="per-day peak-to-mean hourly load factor with the peak hour "
    "(ties -> earliest): two bounded aggregations + one 24-rows-per-"
    "day max window; load factor one double off exact integers",
)
def _events_hourly_load_factor(spark, sf):
    return analytics.hourly_load_factor(_t(spark, sf, "events"))


@_register(
    "events_type_share_by_dow",
    f"""
    WITH agg AS (
      SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS n
      FROM {_EVTS} GROUP BY 1, 2)
    SELECT event_type, CAST(dow AS INTEGER) AS dow,
           CAST(n AS BIGINT) AS n_events,
           CAST(CAST(round(n * 1e6
                           / CAST(sum(n) OVER (PARTITION BY dow)
                                  AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS dow_share
    FROM agg
    """,
    note="event-type mix by day-of-week (composition seasonality "
    "next to seasonal_dow_decompose's volume view): alphabet x 7 "
    "matrix, shares at integer 1e-6 scale within each weekday",
)
def _events_type_share_by_dow(spark, sf):
    return analytics.type_share_by_dow(_t(spark, sf, "events"))


@_register(
    "stats_poisson_dispersion",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily)
    SELECT n AS n_days, s AS n_events,
           round((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(s AS DOUBLE), 4)
             AS dispersion,
           round(((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(s AS DOUBLE)
                  - CAST(n - 1 AS DOUBLE))
                 / sqrt(2.0 * CAST(n - 1 AS DOUBLE)), 4) AS z,
           ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(s AS DOUBLE)
            - CAST(n - 1 AS DOUBLE))
           / sqrt(2.0 * CAST(n - 1 AS DOUBLE)) > 1.96 AS overdispersed
    FROM agg WHERE n > 1
    """,
    note="Poisson overdispersion index of daily counts (chi-square "
    "dispersion statistic, day-grain companion to "
    "interarrival_burstiness): exact integer moments off one "
    "day-keyed count, D and z one double each",
)
def _stats_poisson_dispersion(spark, sf):
    return analytics.poisson_dispersion(_t(spark, sf, "events"))


@_register(
    "forecast_seasonal_naive_mase",
    f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, day, x,
             lag(x, 1) OVER w AS p1, lag(day, 1) OVER w AS d1,
             lag(x, 7) OVER w AS p7, lag(day, 7) OVER w AS d7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CASE WHEN date_diff('day', d1, day) = 1
                           THEN abs(x - p1) END) AS BIGINT) AS s1,
             CAST(count(CASE WHEN date_diff('day', d1, day) = 1
                             THEN abs(x - p1) END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN date_diff('day', d7, day) = 7
                           THEN abs(x - p7) END) AS BIGINT) AS s7,
             CAST(count(CASE WHEN date_diff('day', d7, day) = 7
                             THEN abs(x - p7) END) AS BIGINT) AS n7
      FROM lagged GROUP BY event_type)
    SELECT event_type, n_days,
           round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 4) AS mae_lag1,
           round(CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE), 4) AS mae_lag7,
           round(CASE WHEN s1 > 0 THEN
                   CAST(s7 * n1 AS DOUBLE) / CAST(s1 * n7 AS DOUBLE)
                 END, 4) AS mase,
           s7 * n1 < s1 * n7 AS seasonal_better
    FROM agg WHERE n1 > 0 AND n7 > 0
    """,
    note="seasonal-naive MASE per event type (weekly lag-7 naive MAE "
    "vs lag-1 persistence MAE on daily counts, gap-checked lags): "
    "integer error sums, the seasonal_better verdict an exact "
    "integer cross-product, MAE/MASE one double each",
)
def _forecast_seasonal_naive_mase(spark, sf):
    return analytics.seasonal_naive_mase(_t(spark, sf, "events"))


@_register(
    "orders_monthly_value_zscore",
    """
    WITH monthly AS (
      SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 10000
                  AS BIGINT) AS rev_c4
      FROM orders GROUP BY 1),
    stat AS (
      SELECT month, n, rev_c4,
             count(*) OVER () AS m,
             sum(rev_c4) OVER () AS s,
             sum(CAST(rev_c4 AS DOUBLE) * CAST(rev_c4 AS DOUBLE)) OVER ()
               AS ssq
      FROM monthly)
    SELECT month, CAST(n AS BIGINT) AS n_orders,
           CAST(rev_c4 AS DOUBLE) / 10000.0 AS revenue,
           round(CASE WHEN (CAST(m AS DOUBLE) * ssq
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                           / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) > 0
                 THEN (CAST(rev_c4 AS DOUBLE)
                       - CAST(s AS DOUBLE) / CAST(m AS DOUBLE))
                      / sqrt((CAST(m AS DOUBLE) * ssq
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                             / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
                 END, 4) AS zscore,
           abs((CAST(rev_c4 AS DOUBLE)
                - CAST(s AS DOUBLE) / CAST(m AS DOUBLE))
               / sqrt((CAST(m AS DOUBLE) * ssq
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))) > 2.0
             AS is_anomaly
    FROM stat
    """,
    note="monthly order-book revenue z-scores (finance-side sibling "
    "of hourly_anomaly_zscore): exact 1e-4-dollar integer monthly "
    "revenues, cross-month moments via one months-bounded window, z "
    "one double expression",
)
def _orders_monthly_value_zscore(spark, sf):
    return analytics.orders_monthly_value_zscore(_t(spark, sf, "orders"))


@_register(
    "customer_recency_buckets",
    """
    WITH last AS (
      SELECT o_custkey,
             max(date_trunc('day', CAST(o_orderdate AS TIMESTAMP)))
               AS last_day
      FROM orders GROUP BY o_custkey),
    anchor AS (
      SELECT max(date_trunc('day', CAST(o_orderdate AS TIMESTAMP)))
               AS anchor
      FROM orders),
    j AS (
      SELECT date_diff('day', l.last_day, a.anchor) AS recency_days
      FROM customer c
      LEFT JOIN last l ON l.o_custkey = c.c_custkey
      CROSS JOIN anchor a),
    hist AS (
      SELECT CASE WHEN recency_days IS NULL THEN '5_never'
                  WHEN recency_days <= 30 THEN '1_active_30d'
                  WHEN recency_days <= 90 THEN '2_cooling_90d'
                  WHEN recency_days <= 365 THEN '3_dormant_1y'
                  ELSE '4_lost' END AS bucket,
             count(*) AS n_customers
      FROM j GROUP BY 1),
    t AS (SELECT sum(n_customers) AS n_total FROM hist)
    SELECT bucket, CAST(n_customers AS BIGINT) AS n_customers,
           CAST(CAST(round(n_customers * 1e6
                           / CAST(t.n_total AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS share
    FROM hist, t
    """,
    note="customer dormancy ladder (days since last order vs the "
    "book's final date, 30/90/365 buckets, never-ordered kept by the "
    "left join): one customer-keyed max + 1-row anchor broadcast + "
    "5-row rollup; shares at integer 1e-6 scale",
)
def _customer_recency_buckets(spark, sf):
    return analytics.customer_recency_buckets(
        _t(spark, sf, "customer"), _t(spark, sf, "orders")
    )


@_register(
    "events_error_rate_wilson",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             count(*) AS n,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e
      FROM {_EVTS} GROUP BY 1)
    SELECT day, CAST(n AS BIGINT) AS n_events,
           CAST(e AS BIGINT) AS n_errors,
           CAST(CAST(round(e * 1e6 / CAST(n AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS error_rate,
           round(((CAST(e AS DOUBLE) / CAST(n AS DOUBLE)
                   + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
                  - 1.96 * sqrt(CAST(e AS DOUBLE) / CAST(n AS DOUBLE)
                                * (1.0 - CAST(e AS DOUBLE)
                                         / CAST(n AS DOUBLE))
                                / CAST(n AS DOUBLE)
                                + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
                                            * CAST(n AS DOUBLE))))
                 / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS wilson_low,
           round(((CAST(e AS DOUBLE) / CAST(n AS DOUBLE)
                   + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
                  + 1.96 * sqrt(CAST(e AS DOUBLE) / CAST(n AS DOUBLE)
                                * (1.0 - CAST(e AS DOUBLE)
                                         / CAST(n AS DOUBLE))
                                / CAST(n AS DOUBLE)
                                + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
                                            * CAST(n AS DOUBLE))))
                 / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS wilson_high
    FROM daily
    """,
    note="daily error rate with a Wilson score interval "
    "(uncertainty-aware SLO readout; the interval of choice where "
    "small counts push normal bounds outside [0,1]): center/margin/"
    "denominator one double expression each off exact per-day "
    "integer (errors, total)",
)
def _events_error_rate_wilson(spark, sf):
    return analytics.error_rate_wilson(_t(spark, sf, "events"))


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
    f"""
    WITH users AS (
      SELECT DISTINCT user_id,
             CASE WHEN {_AB_SPLIT}
                  THEN 'A' ELSE 'B' END AS variant
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
        sum(CASE WHEN {_AB_SPLIT}
                      AND value > med THEN 1 ELSE 0 END) AS a_above,
        sum(CASE WHEN {_AB_SPLIT}
                      AND value < med THEN 1 ELSE 0 END) AS a_below,
        sum(CASE WHEN NOT ({_AB_SPLIT})
                      AND value > med THEN 1 ELSE 0 END) AS b_above,
        sum(CASE WHEN NOT ({_AB_SPLIT})
                      AND value < med THEN 1 ELSE 0 END) AS b_below
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


@_register(
    "stats_cliff_delta",
    f"""
    WITH vg AS (
      SELECT event_type, value,
             count(*) AS cnt,
             sum(CASE WHEN {_AB_SPLIT} THEN 1 ELSE 0 END) AS cnt_a
      FROM {_EVTS} WHERE value IS NOT NULL
      GROUP BY event_type, value),
    st AS (
      SELECT event_type, cnt_a, cnt - cnt_a AS cnt_b,
             coalesce(sum(cnt - cnt_a) OVER w, 0) AS b_below,
             coalesce(sum(cnt_a) OVER w, 0) AS a_below
      FROM vg
      WINDOW w AS (PARTITION BY event_type ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    agg AS (
      SELECT event_type, sum(cnt_a) AS n_a, sum(cnt_b) AS n_b,
             sum(cnt_a * b_below) AS gt_pairs,
             sum(cnt_b * a_below) AS lt_pairs
      FROM st GROUP BY event_type)
    SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(gt_pairs AS BIGINT) AS gt_pairs,
           CAST(lt_pairs AS BIGINT) AS lt_pairs,
           CAST(CAST(round((gt_pairs - lt_pairs) * 1e6
                           / CAST(n_a * n_b AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS cliff_delta
    FROM agg WHERE n_a > 0 AND n_b > 0
    """,
    note="Cliff's delta effect size per event type (mannwhitney's "
    "A/B split): greater/less pair counts off ONE exclusive "
    "cumulative window over the per-type value alphabet, exact "
    "bigints, delta one integer ratio at 1e-6",
)
def _stats_cliff_delta(spark, sf):
    return analytics.cliff_delta(_t(spark, sf, "events"))


@_register(
    "stats_cvm_two_sample",
    f"""
    WITH vg AS (
      SELECT event_type, value,
             count(*) AS cnt,
             sum(CASE WHEN {_AB_SPLIT} THEN 1 ELSE 0 END) AS cnt_a
      FROM {_EVTS} WHERE value IS NOT NULL
      GROUP BY event_type, value),
    st AS (
      SELECT event_type, cnt,
             sum(cnt_a) OVER w_in AS ca_in,
             sum(cnt) OVER w_in - sum(cnt_a) OVER w_in AS cb_in,
             sum(cnt_a) OVER w_all AS n_a,
             sum(cnt) OVER w_all - sum(cnt_a) OVER w_all AS n_b
      FROM vg
      WINDOW w_in AS (PARTITION BY event_type ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW),
             w_all AS (PARTITION BY event_type)),
    terms AS (
      SELECT event_type, n_a, n_b,
             CAST(round(CAST(cnt AS DOUBLE)
                        * (CAST(ca_in AS DOUBLE) / n_a
                           - CAST(cb_in AS DOUBLE) / n_b)
                        * (CAST(ca_in AS DOUBLE) / n_a
                           - CAST(cb_in AS DOUBLE) / n_b)
                        * 1e9) AS BIGINT) AS t9
      FROM st WHERE n_a > 0 AND n_b > 0),
    agg AS (
      SELECT event_type, max(n_a) AS n_a, max(n_b) AS n_b,
             sum(t9) AS t9
      FROM terms GROUP BY event_type)
    SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           round(CAST(t9 AS DOUBLE) * n_a * n_b
                 / (1e9 * CAST(n_a + n_b AS DOUBLE)
                        * CAST(n_a + n_b AS DOUBLE)), 6) AS cvm_stat
    FROM agg
    """,
    note="two-sample Cramer-von Mises per event type (ECDF form): "
    "whole-CDF distance next to ks_two_sample's max gap; per-value "
    "terms quantized to integer 1e-9 before the grouped sum (the "
    "micro-nat fold discipline)",
)
def _stats_cvm_two_sample(spark, sf):
    return analytics.cvm_two_sample(_t(spark, sf, "events"))


@_register(
    "stats_jonckheere_terpstra",
    """
    WITH grid AS (
      SELECT CAST(month(l_shipdate) AS INT) AS g,
             CAST(l_quantity AS BIGINT) AS v, count(*) AS cnt
      FROM lineitem GROUP BY 1, 2),
    pairs AS (
      SELECT CASE WHEN a.v < b.v THEN 2 * a.cnt * b.cnt
                  ELSE a.cnt * b.cnt END AS u2
      FROM grid a JOIN grid b
        ON a.g < b.g AND a.v <= b.v),
    jt AS (SELECT sum(u2) AS jt2 FROM pairs),
    sizes AS (SELECT g, sum(cnt) AS n_g FROM grid GROUP BY g),
    mom AS (
      SELECT sum(n_g) AS n, sum(n_g * n_g) AS s2,
             sum(n_g * n_g * (2 * n_g + 3)) AS s3
      FROM sizes)
    SELECT CAST(n AS BIGINT) AS n_total,
           CAST(coalesce(jt2, 0) AS BIGINT) AS jt2,
           CAST((n * n - s2) / 2 AS BIGINT) AS e_jt2,
           CASE WHEN CAST(n AS DOUBLE) * n * (2 * n + 3)
                     - CAST(s3 AS DOUBLE) > 0
                THEN round(CAST(coalesce(jt2, 0) - (n * n - s2) / 2
                                AS DOUBLE)
                           / (2.0 * sqrt((CAST(n AS DOUBLE) * n
                                          * (2 * n + 3)
                                          - CAST(s3 AS DOUBLE)) / 72.0)),
                           6)
           END AS zscore
    FROM jt CROSS JOIN mom
    """,
    note="Jonckheere-Terpstra monotone-trend test of quantity by "
    "ship month: corpus compresses to the 12 x 50 (month, quantity) "
    "grid FIRST, pairwise U fold is grid-squared not corpus-sized; "
    "ties half-credit via doubled-integer statistic; no-tie null "
    "variance (the mannwhitney simple-variant discipline)",
)
def _stats_jonckheere_terpstra(spark, sf):
    return analytics.jonckheere_terpstra(_t(spark, sf, "lineitem"))


@_register(
    "events_retention_halflife",
    f"""
    WITH fs AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM {_EVTS} GROUP BY user_id),
    sizes AS (
      SELECT cohort_week, count(*) AS cohort_size
      FROM fs GROUP BY cohort_week),
    act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM {_EVTS}),
    tri AS (
      SELECT fs.cohort_week,
             CAST(date_diff('day', fs.cohort_week, a.active_week) / 7
                  AS INTEGER) AS off,
             count(DISTINCT a.user_id) AS n_ret
      FROM act a JOIN fs ON fs.user_id = a.user_id
      GROUP BY 1, 2),
    pooled AS (
      SELECT off, sum(n_ret) AS ret, sum(s.cohort_size) AS size
      FROM tri t JOIN sizes s ON s.cohort_week = t.cohort_week
      WHERE off >= 1
      GROUP BY off
      HAVING sum(n_ret) > 0),
    pts AS (
      SELECT CAST(off AS BIGINT) AS x,
             CAST(round(ln(CAST(ret AS DOUBLE) / size) * 1e6)
                  AS BIGINT) AS y6
      FROM pooled),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y6) AS sy,
             sum(x * x) AS sxx, sum(x * y6) AS sxy
      FROM pts)
    SELECT CAST(n AS BIGINT) AS n_points,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             AS slope_micro_nats,
           CASE WHEN n * sxy - sx * sy <> 0
                THEN round(-0.6931471805599453 * 1e6
                           / (CAST(n * sxy - sx * sy AS DOUBLE)
                              / CAST(n * sxx - sx * sx AS DOUBLE)), 4)
           END AS half_life_weeks
    FROM m WHERE n >= 2
    """,
    note="exponential retention half-life: pooled weekly triangle "
    "per offset, ln(rate) rounded to integer micro-nats BEFORE the "
    "closed-form OLS moments (the lm_* fold discipline), half-life "
    "= -ln2/slope",
)
def _events_retention_halflife(spark, sf):
    return analytics.retention_halflife(_t(spark, sf, "events"))


@_register(
    "events_gini_trend",
    f"""
    WITH mu AS (
      SELECT date_trunc('month', ts) AS month, user_id,
             count(*) AS x
      FROM {_EVTS} GROUP BY 1, 2),
    ranked AS (
      SELECT month, x,
             row_number() OVER (PARTITION BY month
                                ORDER BY x, user_id) AS i
      FROM mu),
    agg AS (
      SELECT month, count(*) AS n, sum(x) AS sx, sum(i * x) AS six
      FROM ranked GROUP BY month)
    SELECT month, CAST(n AS BIGINT) AS n_users,
           CAST(sx AS BIGINT) AS n_events,
           round(2.0 * CAST(six AS DOUBLE) / (n * CAST(sx AS DOUBLE))
                 - (n + 1.0) / n, 4) AS gini
    FROM agg
    """,
    note="monthly Gini of per-user event concentration (stats_gini "
    "frozen per calendar month): integer counts, per-month rank "
    "window with the (count, user_id) unique-key tiebreak, "
    "closed-form coefficient rounded 4",
)
def _events_gini_trend(spark, sf):
    return analytics.gini_trend(_t(spark, sf, "events"))


@_register(
    "orders_cohort_ltv_curve",
    """
    WITH first AS (
      SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cm
      FROM orders GROUP BY o_custkey),
    sizes AS (SELECT cm, count(*) AS cohort_size FROM first GROUP BY cm),
    rev AS (
      SELECT f.cm,
             (year(o.o_orderdate) - year(f.cm)) * 12
               + (month(o.o_orderdate) - month(f.cm)) AS month_offset,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 10000
                  AS BIGINT) AS rev_c4
      FROM orders o JOIN first f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2),
    cum AS (
      SELECT cm, month_offset,
             sum(rev_c4) OVER (PARTITION BY cm ORDER BY month_offset
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum_c4
      FROM rev)
    SELECT c.cm AS cohort_month,
           CAST(c.month_offset AS INT) AS month_offset,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(CAST(round(c.cum_c4 * 1.0
                           / CAST(s.cohort_size AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e4 AS cum_ltv
    FROM cum c JOIN sizes s ON s.cm = c.cm
    """,
    note="cohort LTV payback curve (first-order-month cohorts x "
    "month offset, cumulative revenue per member): DECIMAL-exact "
    "1e-4-dollar integers, cumulative over the bounded offset axis, "
    "per-member ratio at 1e-4",
)
def _orders_cohort_ltv_curve(spark, sf):
    return analytics.cohort_ltv_curve(_t(spark, sf, "orders"))


def _lepage_oracle() -> str:
    """Compose the two component oracles verbatim as subqueries --
    LePage IS their sum of squared z's, so the oracle inherits every
    exactness argument the components already carry (both z's are
    rounded to 4 in their declared outputs; the squares and sum of
    identical doubles are identical)."""
    from .core import _REGISTRY

    w_sql = _REGISTRY["stats_mannwhitney"].oracle
    a_sql = _REGISTRY["stats_ansari_bradley"].oracle
    return f"""
    WITH w AS (SELECT event_type, zscore AS z_wilcoxon
               FROM ({w_sql})),
    a AS (SELECT event_type, zscore AS z_ansari
          FROM ({a_sql}))
    SELECT w.event_type, w.z_wilcoxon, a.z_ansari,
           round(w.z_wilcoxon * w.z_wilcoxon
                 + a.z_ansari * a.z_ansari, 6) AS lepage_l,
           (w.z_wilcoxon * w.z_wilcoxon
            + a.z_ansari * a.z_ansari) > 5.991 AS significant
    FROM w JOIN a ON a.event_type = w.event_type
    """


@_register(
    "stats_lepage",
    _lepage_oracle(),
    note="LePage omnibus location-or-scale test: z_Wilcoxon^2 + "
    "z_AnsariBradley^2 (chi2(2) null, 0.05 crit 5.991) -- pure "
    "composition of the two registered components over the same A/B "
    "split; both z's already rounded 4, so the oracle composes the "
    "component oracles verbatim",
)
def _stats_lepage(spark, sf):
    return analytics.lepage_test(_t(spark, sf, "events"))


@_register(
    "events_power_law_alpha",
    f"""
    WITH pu AS (
      SELECT user_id, count(*) AS x FROM {_EVTS} GROUP BY user_id),
    terms AS (
      SELECT CAST(round(ln(CAST(x AS DOUBLE) / 1.5) * 1e6) AS BIGINT)
               AS t6
      FROM pu WHERE x >= 2),
    agg AS (SELECT count(*) AS n, sum(t6) AS s6 FROM terms)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(2 AS BIGINT) AS xmin,
           round(1.0 + CAST(n AS DOUBLE) * 1e6 / CAST(s6 AS DOUBLE),
                 6) AS alpha
    FROM agg WHERE s6 > 0
    """,
    note="discrete power-law exponent of per-user activity "
    "(Hill/Clauset MLE, xmin=2): per-user ln terms rounded to "
    "integer micro-nats before the single order-free fold; the "
    "heavy-tail companion to events_gini_trend's concentration view",
)
def _events_power_law_alpha(spark, sf):
    return analytics.power_law_alpha(_t(spark, sf, "events"))


@_register(
    "orders_seasonality_index",
    """
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS INT) AS year,
             CAST(month(o_orderdate) AS INT) AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 10000
                  AS BIGINT) AS rev_c4
      FROM orders GROUP BY 1, 2),
    st AS (
      SELECT year, month, rev_c4,
             sum(rev_c4) OVER (PARTITION BY year) AS y_c4,
             count(*) OVER (PARTITION BY year) AS n_m
      FROM monthly)
    SELECT year, month,
           CAST(rev_c4 AS DOUBLE) / 1e4 AS revenue,
           CAST(CAST(round(rev_c4 * n_m * 1e6
                           / CAST(y_c4 AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS seasonality_index
    FROM st
    """,
    note="classical monthly seasonality index (month revenue vs the "
    "year's mean monthly revenue): DECIMAL-exact 1e-4-dollar "
    "integers, index cross-multiplies integers before ONE 1e-6 "
    "rounding -- no intermediate double mean",
)
def _orders_seasonality_index(spark, sf):
    return analytics.seasonality_index(_t(spark, sf, "orders"))


@_register(
    "stats_brunner_munzel",
    f"""
    WITH vg AS (
      SELECT event_type, value, count(*) AS cnt,
             sum(CASE WHEN {_AB_SPLIT} THEN 1 ELSE 0 END) AS cnt_a,
             count(*) - sum(CASE WHEN {_AB_SPLIT} THEN 1 ELSE 0 END)
               AS cnt_b
      FROM {_EVTS} WHERE value IS NOT NULL
      GROUP BY event_type, value),
    ranked AS (
      SELECT event_type, cnt, cnt_a, cnt_b,
             2 * coalesce(sum(cnt) OVER w, 0) + cnt + 1 AS r2p,
             2 * coalesce(sum(cnt_a) OVER w, 0) + cnt_a + 1 AS r2a,
             2 * coalesce(sum(cnt_b) OVER w, 0) + cnt_b + 1 AS r2b
      FROM vg
      WINDOW w AS (PARTITION BY event_type ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    agg AS (
      SELECT event_type, sum(cnt_a) AS n_a, sum(cnt_b) AS n_b,
             sum(cnt_a * r2p) AS sa, sum(cnt_b * r2p) AS sb,
             sum(cnt_a * (r2p - r2a) * (r2p - r2a)) AS ssa,
             sum(cnt_b * (r2p - r2b) * (r2p - r2b)) AS ssb
      FROM ranked GROUP BY event_type),
    m AS (
      SELECT event_type, n_a, n_b,
             CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
             CAST(ssa AS DOUBLE) AS ssad, CAST(ssb AS DOUBLE) AS ssbd
      FROM agg WHERE n_a > 1 AND n_b > 1),
    f AS (
      SELECT event_type, n_a, n_b, na, nb, sad, sbd,
             (ssad - (sad - na * (na + 1)) * (sad - na * (na + 1)) / na)
               / (na - 1) AS s2a,
             (ssbd - (sbd - nb * (nb + 1)) * (sbd - nb * (nb + 1)) / nb)
               / (nb - 1) AS s2b
      FROM m)
    SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           round((sbd / nb - (nb + 1)) / (2 * na), 6) AS p_hat,
           CASE WHEN na * s2a + nb * s2b > 0
                THEN round(na * nb * (sbd / nb - sad / na)
                           / ((na + nb) * sqrt(na * s2a + nb * s2b)),
                           4)
           END AS w_stat,
           CASE WHEN na * s2a + nb * s2b > 0
                THEN abs(na * nb * (sbd / nb - sad / na)
                         / ((na + nb) * sqrt(na * s2a + nb * s2b)))
                     > 1.96
           END AS significant
    FROM f
    """,
    note="Brunner-Munzel heteroscedastic rank test per event type "
    "(the nonparametric Behrens-Fisher answer; mannwhitney without "
    "the equal-variance assumption): pooled AND within-group "
    "midranks ride doubled as exact integers off the (type, value) "
    "compression, deviation terms exact bigints, one closing double "
    "expression; p_hat = estimated P(A<B) + ties/2",
)
def _stats_brunner_munzel(spark, sf):
    return analytics.brunner_munzel(_t(spark, sf, "events"))


@_register(
    "events_seasonal_naive_error",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM {_EVTS} GROUP BY 1),
    lagd AS (
      SELECT day, x,
             lag(day, 7) OVER (ORDER BY day) AS pday,
             lag(x, 7) OVER (ORDER BY day) AS px
      FROM daily),
    ok AS (
      SELECT x, px FROM lagd
      WHERE px IS NOT NULL AND date_diff('day', pday, day) = 7),
    agg AS (
      SELECT count(*) AS n, sum(abs(x - px)) AS sae, sum(x) AS sx
      FROM ok)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(CAST(round(sae * 1e6 / CAST(n AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS mae,
           CAST(CAST(round(sae * 1e6 / CAST(sx AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS wape
    FROM agg WHERE n > 0
    """,
    note="seasonal-naive (lag-7) daily-volume forecast error (MAE + "
    "WAPE) -- the baseline every forecaster must beat: exact integer "
    "daily counts and absolute errors off the calendar-bounded "
    "reduction, calendar-gap-aligned lag, two integer ratios at 1e-6",
)
def _events_seasonal_naive_error(spark, sf):
    return analytics.seasonal_naive_error(_t(spark, sf, "events"))
