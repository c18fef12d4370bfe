"""Round-12 additions to the declared query registry: indicator
completions (Elder-Ray, CMF, Coppock), effect-size / whole-CDF /
ordered-trend stats (Cliff's delta, Cramer-von Mises, Jonckheere-
Terpstra), cohort economics (retention half-life, Gini trend, LTV
curve), prefix dedup, Sobel edge density,
and two SQL-intake shapes. Every entry keeps the round-11 envelope
discipline: SURVEY §2B row (sync-tested), hash oracle, plan notes,
tests in tests/test_round12.py."""
from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from ...operators import (  # noqa: F401
    analytics,
    dedup,
    multimodal,
    temporal,
)
from .core import _EVTS, _register, _t
from .multimodal import _PAYLOAD_CTE  # noqa: E402
from .round9 import _CANDLE_CTE  # noqa: E402
from .round9b import _CANDLE_VOL_CTE  # noqa: E402

# ------------------------------------------------- window indicators

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


# --------------------------------------------------------- stats

_AB_SPLIT = (
    "substr(md5(concat_ws('|', 'ab', CAST(user_id AS VARCHAR))),"
    " 1, 1) < '8'"
)


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


# ------------------------------------------------- cohort economics


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


# ------------------------------------------------------------- dedup


@_register(
    "dedup_prefix_exact",
    """
    WITH el AS (
      SELECT doc_id, md5(substr(text, 1, 64)) AS prefix_hash,
             md5(text) AS full_hash
      FROM documents WHERE length(text) >= 64)
    SELECT prefix_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT full_hash) AS BIGINT) AS n_distinct_full
    FROM el GROUP BY prefix_hash
    HAVING count(*) > 1
    """,
    note="exact-PREFIX duplicate clusters (crawl-boilerplate "
    "detector): one md5-of-head groupBy, map-side combinable; "
    "n_distinct_full separates whole-doc copies from prefix-only "
    "template overlap",
)
def _dedup_prefix_exact(spark, sf):
    return dedup.dedup_prefix_exact(_t(spark, sf, "documents"))


# -------------------------------------------------------- multimodal


@_register(
    "multimodal_image_edge_density",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    lums AS (SELECT doc_id, w, h,
                    list_transform(range(0, w * h), k ->
                        bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                      + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                      + bytes[CAST((k * 3 + 2) % n AS INT) + 1]) AS L
             FROM geo),
    px AS (SELECT doc_id, w, h, L,
                  unnest(range(0, (h - 2) * (w - 2))) AS j
           FROM lums WHERE h > 2 AND w > 2),
    g AS (SELECT doc_id, (h - 2) * (w - 2) AS n_int,
                 (L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 2) AS INT) + 1]
                  + 2 * L[CAST((j // (w-2) + 1) * w + (j % (w-2) + 2) AS INT) + 1]
                  + L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 2) AS INT) + 1]
                  - L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 0) AS INT) + 1]
                  - 2 * L[CAST((j // (w-2) + 1) * w + (j % (w-2) + 0) AS INT) + 1]
                  - L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 0) AS INT) + 1]) AS gx,
                 (L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 0) AS INT) + 1]
                  + 2 * L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 1) AS INT) + 1]
                  + L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 2) AS INT) + 1]
                  - L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 0) AS INT) + 1]
                  - 2 * L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 1) AS INT) + 1]
                  - L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 2) AS INT) + 1]) AS gy
          FROM px),
    a AS (SELECT doc_id, max(n_int) AS n_interior,
                 sum(CASE WHEN gx * gx + gy * gy >= 40000
                          THEN 1 ELSE 0 END) AS n_edges
          FROM g GROUP BY doc_id)
    SELECT doc_id, CAST(n_interior AS BIGINT) AS n_interior,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(CAST(round(n_edges * 1e6
                           / CAST(n_interior AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS edge_density
    FROM a
    """,
    note="per-image Sobel edge density over REAL decoded BMP pixels "
    "(image_contrast's structure companion -- the blur/blank gate): "
    "integer 3x3 convolutions on interior luminance, exact edge "
    "flags at gx^2+gy^2 >= 40000, density one integer ratio at "
    "1e-6; oracle replays every pixel from the text bytes",
)
def _multimodal_image_edge_density(spark, sf):
    return multimodal.image_edge_density(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


# ---------------------------------------------------- SQL intake


@_register(
    "sql_supplier_share_trend",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="yearly revenue share per supplier nation with YoY share "
    "delta through the spark.sql intake (window-over-window: share "
    "within year, lag across years); revenue in exact 1e-4-dollar "
    "integers, shares at 1e-6, delta subtracts two already-rounded "
    "shares",
)
def _sql_supplier_share_trend(spark, sf):
    from ..sql import SUPPLIER_SHARE_TREND, run_sql

    return run_sql(spark, sf, SUPPLIER_SHARE_TREND)


@_register(
    "sql_value_band_migration",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="customer order-value band migration 1995 -> 1997 through "
    "the spark.sql intake (FULL OUTER JOIN transition matrix with "
    "ENTER/EXIT bands); fixed dollar cut points, DECIMAL-cent exact "
    "spend",
)
def _sql_value_band_migration(spark, sf):
    from ..sql import VALUE_BAND_MIGRATION, run_sql

    return run_sql(spark, sf, VALUE_BAND_MIGRATION)


def _attach_sql_oracles() -> None:
    """sql_* queries' oracle IS the query text (dialect-shared subset)."""
    from .. import sql as _sql
    from .core import _REGISTRY, QuerySpec

    for name, stmt in (
        ("sql_supplier_share_trend", _sql.SUPPLIER_SHARE_TREND),
        ("sql_value_band_migration", _sql.VALUE_BAND_MIGRATION),
    ):
        spec = _REGISTRY[name]
        _REGISTRY[name] = QuerySpec(spec.name, spec.fn, stmt, spec.note)


_attach_sql_oracles()


# -------------------------------------------- batch 2 (same round)


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
    "multimodal_audio_tempo",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   least(CAST(n // 64 AS INT), 16) AS nf
            FROM pbytes WHERE n // 64 >= 4),
    fr AS (SELECT doc_id, nf, unnest(range(0, nf)) AS f, bytes
           FROM geo),
    en AS (SELECT doc_id, nf, f,
                  list_sum(list_transform(
                      list_slice(bytes,
                                 CAST(f * 64 + 1 AS INT),
                                 CAST(f * 64 + 64 AS INT)),
                      b -> (b - 128) * (b - 128))) AS e
           FROM fr),
    cen AS (SELECT doc_id, nf, f,
                   nf * e - sum(e) OVER (PARTITION BY doc_id) AS c
            FROM en),
    lags AS (SELECT a.doc_id, a.nf, b.f - a.f AS lag,
                    sum(a.c * b.c) AS r
             FROM cen a JOIN cen b
               ON a.doc_id = b.doc_id AND b.f > a.f
                  AND b.f - a.f <= a.nf - 2
             GROUP BY 1, 2, 3),
    best AS (SELECT doc_id, nf, lag, r,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY r DESC, lag) AS rn
             FROM lags)
    SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
           CAST(lag AS BIGINT) AS best_lag,
           CAST(r AS BIGINT) AS r_best
    FROM best WHERE rn = 1
    """,
    note="frame-energy autocorrelation best lag over REAL decoded "
    "PCM (the onset-periodicity primitive under beat tracking): "
    "energies divide out the synthesizer's 256x amplitude to exact "
    "ints, centering multiplies through by n_frames (still exact), "
    "lag products bounded inside int64 by construction; ties to the "
    "lowest lag; oracle replays every sample from the text bytes",
)
def _multimodal_audio_tempo(spark, sf):
    return multimodal.audio_tempo_autocorr(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


@_register(
    "sql_top_growth_parts",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="top-10 parts by 1995->1996 revenue growth through the "
    "spark.sql intake (both-years join, exact integer delta rank, "
    "ties by part key)",
)
def _sql_top_growth_parts(spark, sf):
    from ..sql import TOP_GROWTH_PARTS, run_sql

    return run_sql(spark, sf, TOP_GROWTH_PARTS)


def _attach_sql_oracles_b2() -> None:
    from .. import sql as _sql
    from .core import _REGISTRY, QuerySpec

    spec = _REGISTRY["sql_top_growth_parts"]
    _REGISTRY["sql_top_growth_parts"] = QuerySpec(
        spec.name, spec.fn, _sql.TOP_GROWTH_PARTS, spec.note
    )


_attach_sql_oracles_b2()


# -------------------------------------------- batch 3 (same round)


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


def _cluster_histogram_oracle() -> str:
    """Splice the recursive-CTE connected-components oracle (the
    label-propagation twin's, reused verbatim) into CTE position and
    append the histogram + singleton tail -- the LePage composition
    discipline applied to the dedup family."""
    from .core import _REGISTRY

    cc_sql = _REGISTRY["dedup_cluster_components"].oracle
    marker = "SELECT node AS doc_id, min(root) AS component_id"
    idx = cc_sql.rindex(marker)
    head = cc_sql[:idx]
    return f"""{head},
    cc0 AS (SELECT node AS doc_id, min(root) AS component_id
            FROM reach GROUP BY node),
    csz AS (SELECT component_id, count(*) AS cluster_size
            FROM cc0 GROUP BY component_id),
    chist AS (SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
                     CAST(count(*) AS BIGINT) AS n_clusters
              FROM csz GROUP BY cluster_size),
    singles AS (
      SELECT CAST(1 AS BIGINT) AS cluster_size,
             CAST((SELECT count(*) FROM documents)
                  - (SELECT count(*) FROM cc0) AS BIGINT) AS n_clusters)
    SELECT * FROM chist
    UNION ALL
    SELECT * FROM singles WHERE n_clusters > 0
    """


@_register(
    "dedup_cluster_size_histogram",
    _cluster_histogram_oracle(),
    note="near-dup cluster size distribution (the duplication health "
    "report deciding keep-best-per-cluster vs edge triage): exact "
    "pair generation + min-label CC + two bounded counts; size-1 row "
    "counts the unclustered remainder so the histogram partitions "
    "the corpus; oracle splices the recursive-CTE CC oracle verbatim",
)
def _dedup_cluster_size_histogram(spark, sf):
    return dedup.cluster_size_histogram(_t(spark, sf, "documents"))


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
