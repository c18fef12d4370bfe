"""round-10 additions to the declared query registry: the weekly
retention triangle report, an order-book weekday profile, the
Ansari-Bradley nonparametric dispersion test (completing the
rank-test panel next to Mann-Whitney's location test), volume-
weighted VWAP bands over the daily candle stream, corpus-common
trigram coverage (boilerplate detector), a perplexity-bucket corpus
histogram, a border-vs-interior luminance readout over the REAL BMP
decode path, and two SQL-intake shapes (brand leaders within part
type, monthly priority mix).

Every query is hash-oracled (DuckDB SQL over the same parquet).
Cross-engine exactness follows the registry's house rules: integer
sufficient statistics (micro-unit rounding BEFORE grouped folds
where a term is irrational), at most one double expression per
output column written in the same operation order on both sides,
band/share rounding at INTEGER scale, ties broken by unique keys.

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
    multimodal,
    similarity,
    temporal,
    text,
)
from .core import (  # noqa: F401
    _EVTS,
    _TOKS,
    _register,
    _t,
)
from .multimodal import _PAYLOAD_CTE  # noqa: F401
from .round9b import _CANDLE_VOL_CTE  # noqa: F401

# ------------------------------------------------------------ events


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


# ------------------------------------------------------------ orders


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


# -------------------------------------------------------- statistics


@_register(
    "stats_ansari_bradley",
    """
    WITH base AS (
      SELECT event_type,
             substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
               AS is_a,
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


# ------------------------------------------------------------ window


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


# -------------------------------------------------------------- text


@_register(
    "text_common_trigram_coverage",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tg AS (
      SELECT doc_id,
             w1 || ' ' || w2 || ' ' || w3 AS gram
      FROM (
        SELECT doc_id,
               unnest(t[1:len(t) - 2]) AS w1,
               unnest(t[2:len(t) - 1]) AS w2,
               unnest(t[3:len(t)]) AS w3
        FROM toks WHERE len(t) >= 3)),
    top AS (
      SELECT gram, 1 AS is_common
      FROM (SELECT gram, count(*) AS cnt FROM tg GROUP BY gram)
      ORDER BY cnt DESC, gram ASC LIMIT 100),
    per_doc AS (
      SELECT tg.doc_id,
             count(*) AS n_trigrams,
             sum(coalesce(top.is_common, 0)) AS n_common
      FROM tg LEFT JOIN top ON top.gram = tg.gram
      GROUP BY tg.doc_id)
    SELECT doc_id,
           CAST(n_trigrams AS BIGINT) AS n_trigrams,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(CAST(round(n_common * 1e6
                           / CAST(n_trigrams AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS common_share
    FROM per_doc
    """,
    note="per-doc coverage by the corpus top-100 word trigrams "
    "(boilerplate/template detector): deterministic top-k cut "
    "(count DESC, gram ASC) compiles to TakeOrderedAndProject and "
    "broadcasts; share at integer 1e-6 scale",
)
def _text_common_trigram_coverage(spark, sf):
    return text.common_trigram_coverage(_t(spark, sf, "documents"))


@_register(
    "lm_perplexity_bucket",
    f"""
    WITH words AS (
      SELECT doc_id, lang, unnest({_TOKS}) AS word FROM documents),
    counts AS (SELECT word, count(*) AS c FROM words GROUP BY word),
    tot AS (SELECT count(*) AS t FROM words),
    per_doc AS (
      SELECT w.doc_id, w.lang,
             count(*) AS n_tokens,
             sum(CAST(round(ln(CAST(c.c AS DOUBLE) / CAST(tot.t AS DOUBLE))
                            * 1e6) AS BIGINT)) AS sum_micro
      FROM words w JOIN counts c ON c.word = w.word CROSS JOIN tot
      GROUP BY w.doc_id, w.lang),
    bucketed AS (
      SELECT lang,
             CAST(round(CAST(sum_micro AS DOUBLE) / (n_tokens * 1e6))
                  AS BIGINT) AS ppl_bucket,
             n_tokens, sum_micro
      FROM per_doc)
    SELECT ppl_bucket, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(sum_micro) AS DOUBLE) / (sum(n_tokens) * 1e6), 6)
             AS mean_avg_logprob
    FROM bucketed GROUP BY ppl_bucket, lang
    """,
    note="perplexity-bucket corpus histogram under the corpus's own "
    "unigram LM: per-token log-probs round to integer micro-nats "
    "BEFORE the per-doc sum, bucket = round(avg nats) off one exact "
    "integer division -- the report behind choosing a perplexity "
    "filter threshold, per language",
)
def _lm_perplexity_bucket(spark, sf):
    return text.lm_perplexity_bucket(_t(spark, sf, "documents"))


# -------------------------------------------------------- multimodal


@_register(
    "multimodal_image_border_mean",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, w, h,
                  unnest(range(0, w * h)) AS k
           FROM geo),
    l AS (SELECT doc_id, w, h,
                 CASE WHEN (k % w) IN (0, w - 1)
                        OR CAST(floor(k / w) AS BIGINT) IN (0, h - 1)
                      THEN 1 ELSE 0 END AS on_border,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 2) % n AS INT) + 1]
                      AS BIGINT) AS lum
          FROM px),
    a AS (SELECT doc_id,
                 count(*) AS n_px,
                 sum(on_border) AS n_border,
                 sum(on_border * lum) AS border_sum,
                 sum(lum) AS total_sum
          FROM l GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_px AS BIGINT) AS n_px,
           CAST(n_border AS BIGINT) AS n_border,
           CAST(border_sum AS BIGINT) AS border_sum,
           CAST(total_sum - border_sum AS BIGINT) AS interior_sum,
           round(CASE WHEN total_sum - border_sum > 0 THEN
                   CAST(border_sum * (n_px - n_border) AS DOUBLE)
                   / CAST((total_sum - border_sum) * n_border AS DOUBLE)
                 END, 4) AS border_ratio
    FROM a
    """,
    note="border-vs-interior luminance ratio over REAL decoded BMP "
    "pixels (letterbox / matting / watermark-frame detector): Arrow "
    "kernel emits integer sums only, the single ratio written as ONE "
    "division off exact integers; oracle replays every pixel from "
    "the text bytes",
)
def _multimodal_image_border_mean(spark, sf):
    return multimodal.image_border_mean(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


# -------------------------------------------------------- SQL intake


@_register(
    "sql_brand_type_leaders",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="top-3 part brands by revenue within each part type through "
    "the spark.sql intake (window-over-aggregate on the part "
    "dimension); revenue in exact 1e-4-dollar integer units",
)
def _sql_brand_type_leaders(spark, sf):
    from ..sql import BRAND_TYPE_LEADERS, run_sql

    return run_sql(spark, sf, BRAND_TYPE_LEADERS)


@_register(
    "sql_priority_mix_monthly",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="month x order-priority demand mix through the spark.sql "
    "intake; shares round at integer 1e-6 scale",
)
def _sql_priority_mix_monthly(spark, sf):
    from ..sql import PRIORITY_MIX_MONTHLY, run_sql

    return run_sql(spark, sf, PRIORITY_MIX_MONTHLY)


def _attach_sql_oracles() -> None:
    """sql_* queries' oracle IS the query text (dialect-shared subset)."""
    from .core import _REGISTRY, QuerySpec
    from .. import sql as _sql

    for name, stmt in (
        ("sql_brand_type_leaders", _sql.BRAND_TYPE_LEADERS),
        ("sql_priority_mix_monthly", _sql.PRIORITY_MIX_MONTHLY),
    ):
        spec = _REGISTRY[name]
        _REGISTRY[name] = QuerySpec(spec.name, spec.fn, stmt, spec.note)


_attach_sql_oracles()


# ---------------------------------------------- batch 2 (same round)

from .round9 import _CANDLE_CTE, _SENTS  # noqa: E402,F401
from .round9b import _DENSE_GRID_CTE  # noqa: E402,F401


@_register(
    "stats_ks_two_sample",
    """
    WITH base AS (
      SELECT event_type,
             substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
               AS is_a,
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
    "multimodal_image_colorfulness",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, unnest(range(0, w * h)) AS k
           FROM geo),
    l AS (SELECT doc_id,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1] AS BIGINT)
                   AS r,
                 CAST(bytes[CAST((k * 3 + 1) % n AS INT) + 1] AS BIGINT)
                   AS g,
                 CAST(bytes[CAST((k * 3 + 2) % n AS INT) + 1] AS BIGINT)
                   AS b
          FROM px),
    o AS (SELECT doc_id, 2 * r - 2 * g AS rg2, r + g - 2 * b AS yb2
          FROM l),
    a AS (SELECT doc_id, count(*) AS n_px,
                 sum(rg2) AS s1, sum(rg2 * rg2) AS q1,
                 sum(yb2) AS s2, sum(yb2 * yb2) AS q2
          FROM o GROUP BY doc_id)
    SELECT doc_id, CAST(n_px AS BIGINT) AS n_px,
           CAST(s1 AS BIGINT) AS rg2_sum,
           CAST(s2 AS BIGINT) AS yb2_sum,
           round((sqrt(CAST(n_px * q1 - s1 * s1 AS DOUBLE)
                       / (CAST(n_px AS DOUBLE) * CAST(n_px AS DOUBLE))
                       + CAST(n_px * q2 - s2 * s2 AS DOUBLE)
                         / (CAST(n_px AS DOUBLE) * CAST(n_px AS DOUBLE)))
                  + 0.3 * sqrt((CAST(s1 AS DOUBLE) / CAST(n_px AS DOUBLE))
                               * (CAST(s1 AS DOUBLE) / CAST(n_px AS DOUBLE))
                               + (CAST(s2 AS DOUBLE) / CAST(n_px AS DOUBLE))
                                 * (CAST(s2 AS DOUBLE)
                                    / CAST(n_px AS DOUBLE))))
                 / 2.0, 4) AS colorfulness
    FROM a
    """,
    note="Hasler-Susstrunk colorfulness over REAL decoded BMP pixels "
    "(grayscale-scan detector next to image_contrast): opponent "
    "channels at exact 2x integer scale, one closing double halved "
    "at the end; oracle replays every pixel",
)
def _multimodal_image_colorfulness(spark, sf):
    return multimodal.image_colorfulness(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_row_profile",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, w, unnest(range(0, w * h)) AS k
           FROM geo),
    l AS (SELECT doc_id, CAST(floor(k / w) AS INTEGER) AS row,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 2) % n AS INT) + 1]
                      AS BIGINT) AS lum
          FROM px),
    a AS (SELECT doc_id, row, count(*) AS n_in_row, sum(lum) AS lum_sum
          FROM l GROUP BY doc_id, row)
    SELECT doc_id, row,
           CAST(n_in_row AS BIGINT) AS n_in_row,
           CAST(lum_sum AS BIGINT) AS lum_sum,
           round(CAST(lum_sum AS DOUBLE) / CAST(n_in_row AS DOUBLE), 4)
             AS row_mean
    FROM a
    """,
    note="per-row luminance profile over REAL decoded BMP pixels "
    "(banding/letterbox diagnostic at row grain, long scalar form): "
    "integer row sums from the Arrow kernel, one mean double per row",
)
def _multimodal_image_row_profile(spark, sf):
    return multimodal.image_row_profile(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "text_sentence_length_gini",
    f"""
    WITH s AS (SELECT doc_id, {_SENTS} AS sents FROM documents),
    inst AS (
      SELECT doc_id, u.i AS idx, length(u.s) AS ln
      FROM (SELECT doc_id,
                   unnest(list_transform(sents,
                          (x, i) -> struct_pack(s := x, i := i))) AS u
            FROM s)),
    ranked AS (
      SELECT doc_id, ln,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY ln, idx) AS rn
      FROM inst),
    a AS (
      SELECT doc_id, count(*) AS n, sum(ln) AS s,
             sum(rn * ln) AS rs
      FROM ranked GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_sentences,
           round(CASE WHEN n >= 2 AND s > 0 THEN
                   CAST(2 * rs - (n + 1) * s AS DOUBLE)
                   / CAST(n * s AS DOUBLE)
                 END, 6) AS gini
    FROM a
    """,
    note="per-doc Gini of sentence char lengths (template-uniformity "
    "signal next to sentence_stats): sorted-rank numerator an exact "
    "integer (tie order provably cancels), one closing division",
)
def _text_sentence_length_gini(spark, sf):
    return text.sentence_length_gini(_t(spark, sf, "documents"))


@_register(
    "sql_order_linecount_distribution",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="order-size histogram (orders per line-item count) through "
    "the spark.sql intake; left join keeps zero-line orders honest",
)
def _sql_order_linecount_distribution(spark, sf):
    from ..sql import ORDER_LINECOUNT_DISTRIBUTION, run_sql

    return run_sql(spark, sf, ORDER_LINECOUNT_DISTRIBUTION)


def _attach_sql_oracles_b2() -> None:
    """sql_* queries' oracle IS the query text (dialect-shared subset)."""
    from .core import _REGISTRY, QuerySpec
    from .. import sql as _sql

    for name, stmt in (
        ("sql_order_linecount_distribution", _sql.ORDER_LINECOUNT_DISTRIBUTION),
    ):
        spec = _REGISTRY[name]
        _REGISTRY[name] = QuerySpec(spec.name, spec.fn, stmt, spec.note)


_attach_sql_oracles_b2()


# ---------------------------------------------- batch 3 (same round)


@_register(
    "doc_length_quantiles",
    """
    SELECT lang, q_idx, bound FROM (
      SELECT lang, 0 AS q_idx,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 4) + 0.0
               AS bound
      FROM documents GROUP BY lang
      UNION ALL
      SELECT lang, 1 AS q_idx,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) + 0.0
      FROM documents GROUP BY lang
      UNION ALL
      SELECT lang, 2 AS q_idx,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 4) + 0.0
      FROM documents GROUP BY lang
      UNION ALL
      SELECT lang, 3 AS q_idx,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 4) + 0.0
      FROM documents GROUP BY lang)
    """,
    note="per-language exact doc-length quantiles (p25/p50/p75/p90) "
    "through the distributed order-statistic kernel "
    "(exact_quantiles_grouped) -- grouped percentile would buffer a "
    "language's full value list; bit-equal to quantile_cont",
)
def _doc_length_quantiles(spark, sf):
    return text.doc_length_quantiles(_t(spark, sf, "documents"))


@_register(
    "token_count_histogram",
    f"""
    WITH t AS (
      SELECT source, len({_TOKS}) AS n_tokens FROM documents)
    SELECT source,
           CAST(length(CAST(n_tokens AS VARCHAR)) AS INTEGER)
             AS magnitude_digits,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1, 2
    """,
    note="order-of-magnitude token-count histogram per source "
    "(sequence-length planning view): bucket = decimal digit count "
    "of the token count -- exact on both engines by construction, "
    "no log2 boundary fp risk",
)
def _token_count_histogram(spark, sf):
    return text.token_count_histogram(_t(spark, sf, "documents"))


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
    "sql_supplier_hhi_by_nation",
    None,  # oracle attached below: the SAME SQL string runs on DuckDB
    note="supplier-concentration HHI per nation through the spark.sql "
    "intake: squared revenue shares per supplier, each term rounded "
    "to integer nano units BEFORE the per-nation fold",
)
def _sql_supplier_hhi_by_nation(spark, sf):
    from ..sql import SUPPLIER_HHI_BY_NATION, run_sql

    return run_sql(spark, sf, SUPPLIER_HHI_BY_NATION)


def _attach_sql_oracles_b3() -> None:
    """sql_* queries' oracle IS the query text (dialect-shared subset)."""
    from .core import _REGISTRY, QuerySpec
    from .. import sql as _sql

    for name, stmt in (
        ("sql_supplier_hhi_by_nation", _sql.SUPPLIER_HHI_BY_NATION),
    ):
        spec = _REGISTRY[name]
        _REGISTRY[name] = QuerySpec(spec.name, spec.fn, stmt, spec.note)


_attach_sql_oracles_b3()


@_register(
    "stream_daily_active_users",
    f"""
    SELECT date_trunc('day', ts) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM {_EVTS} GROUP BY 1
    """,
    note="streaming exact DAU: per-day distinct users as ONE stateful "
    "collect_set aggregation (streaming rejects count_distinct; the "
    "set state is the single-operator exact form, swapped for HLL or "
    "the watermarked dropDuplicates->agg chain unbounded); complete "
    "mode == batch distinct on the bounded fixture",
)
def _stream_daily_active_users(spark, sf):
    from ...streaming.jobs import stream_daily_active_users

    return stream_daily_active_users(spark, sf)


# ---------------------------------------------- batch 4 (same round)


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
    "embedding_label_cohesion",
    """
    WITH u AS (
      SELECT vec_id, label, CAST(t.u.i AS INTEGER) AS pos, t.u.v AS v
      FROM (SELECT vec_id, label,
                   unnest(list_transform(CAST(embedding AS DOUBLE[]),
                          (x, i) -> struct_pack(v := x, i := i))) AS u
            FROM embeddings) t),
    cent AS (
      SELECT label, pos, sum(v) / count(*) AS m
      FROM u GROUP BY 1, 2),
    pv AS (
      SELECT u.vec_id, u.label,
             sum(u.v * c.m) AS dot,
             sum(u.v * u.v) AS v2,
             sum(c.m * c.m) AS m2
      FROM u JOIN cent c ON c.label = u.label AND c.pos = u.pos
      GROUP BY 1, 2)
    SELECT vec_id, label,
           round(CASE WHEN v2 > 0 AND m2 > 0 THEN
                   dot / (sqrt(v2) * sqrt(m2))
                 END, 4) AS cos_to_centroid
    FROM pv
    """,
    note="per-vector cosine to its label centroid (cluster-cohesion / "
    "labeling-QA readout): label-keyed mean at the (label, dim) "
    "grain broadcast back, one cosine double per vector at round 4 "
    "(fold drift ~1e-15, far inside)",
)
def _embedding_label_cohesion(spark, sf):
    return similarity.embedding_label_cohesion(_t(spark, sf, "embeddings"))


@_register(
    "multimodal_audio_autocorr_pitch",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0),
    lags AS (SELECT k FROM (VALUES (2), (3), (4), (5), (8), (16), (32),
                            (64)) AS g(k)),
    raw AS (
      SELECT doc_id, n, k AS lag,
             CAST(list_sum(list_transform(range(1, n - k + 1),
                    i -> s[CAST(i AS INT)] * s[CAST(i + k AS INT)]))
                  AS BIGINT) AS ac_raw,
             CAST(list_sum(s[1:n - k]) AS BIGINT) AS head_sum,
             CAST(list_sum(s[k + 1:n]) AS BIGINT) AS tail_sum,
             CAST(list_sum(s) AS BIGINT) AS s_total,
             CAST(list_sum(list_transform(s, v -> v * v)) AS BIGINT)
               AS energy_raw
      FROM pcm JOIN lags ON n > k),
    cent AS (
      SELECT doc_id, n, lag,
             CAST(round(CAST(s_total AS DOUBLE) / n) AS BIGINT) AS c,
             ac_raw, head_sum, tail_sum, s_total, energy_raw
      FROM raw),
    cc AS (
      SELECT doc_id, n, lag,
             CAST(ac_raw - c * (head_sum + tail_sum)
                  + (n - lag) * c * c AS DOUBLE)
               / CAST(n - lag AS DOUBLE) AS mean_ac,
             energy_raw - 2 * c * s_total + n * c * c AS energy_c
      FROM cent),
    tagged AS (
      SELECT doc_id, n, lag, mean_ac, energy_c,
             max(mean_ac) OVER (PARTITION BY doc_id) AS mx
      FROM cc)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(min(CASE WHEN mean_ac = mx THEN lag END) AS INTEGER)
             AS best_lag,
           round(CASE WHEN energy_c > 0 THEN
                   mx * CAST(n AS DOUBLE) / CAST(energy_c AS DOUBLE)
                 END, 6) AS clarity
    FROM tagged GROUP BY doc_id, n, energy_c, mx
    """,
    note="mean-centered autocorrelation pitch probe over REAL decoded "
    "PCM at a fixed candidate-lag grid: the Arrow kernel emits raw "
    "integer sufficient statistics only, both engines derive the "
    "centered ac/energy identically (one shared round(S/n)), per-lag "
    "means normalize away term-count bias, argmax ties pin to the "
    "smallest lag",
)
def _multimodal_audio_autocorr_pitch(spark, sf):
    return multimodal.audio_autocorr_pitch(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


# ---------------------------------------------- batch 5 (same round)


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
