"""Relational section of the declared query registry: joins,
aggregations, window functions, set operations and sketches over the
TPC-H-style tables, written over ``operators/relational.py``."""

from __future__ import annotations

from ...operators import relational
from .core import _EVTS, _register, _t, _WORDS_CTE


@_register(
    "scan_project",
    "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
)
def _scan_project(spark, sf):
    return relational.scan_project(_t(spark, sf, "lineitem"))


@_register(
    "filter_predicate",
    """
    SELECT l_orderkey, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE l_quantity > 30
      AND l_returnflag IN ('A', 'R')
      AND l_discount BETWEEN 0.02 AND 0.08
    """,
)
def _filter_predicate(spark, sf):
    return relational.filter_predicate(_t(spark, sf, "lineitem"))


@_register(
    "map_scalar",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DOUBLE) AS net_price,
           upper(l_returnflag) AS flag_uc,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year
    FROM lineitem
    """,
)
def _map_scalar(spark, sf):
    return relational.map_scalar(_t(spark, sf, "lineitem"))


@_register(
    "flatmap_explode",
    _WORDS_CTE + "SELECT doc_id, word FROM words",
)
def _flatmap_explode(spark, sf):
    from ...functions.text import words_exploded

    return words_exploded(_t(spark, sf, "documents"))


@_register(
    "groupby_agg",
    """
    SELECT l_returnflag, count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           min(l_shipdate) AS min_shipdate,
           max(l_shipdate) AS max_shipdate
    FROM lineitem GROUP BY l_returnflag
    """,
)
def _groupby_agg(spark, sf):
    return relational.groupby_agg(_t(spark, sf, "lineitem"))


@_register(
    "groupby_multikey",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           round(avg(l_discount), 4) AS avg_disc
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def _groupby_multikey(spark, sf):
    return relational.groupby_multikey(_t(spark, sf, "lineitem"))


@_register(
    "groupby_salted",
    """
    SELECT l_returnflag, count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 2) AS avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    note="two-phase salt aggregation == plain GROUP BY (algebraic composition exact)",
)
def _groupby_salted(spark, sf):
    return relational.groupby_salted(_t(spark, sf, "lineitem"))


@_register(
    "distinct_keys",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def _distinct_keys(spark, sf):
    return relational.distinct_keys(_t(spark, sf, "lineitem"))


@_register(
    "count_distinct",
    """
    SELECT c_nationkey, count(DISTINCT c_mktsegment) AS n_segments,
           count(*) AS n_customers
    FROM customer GROUP BY c_nationkey
    """,
)
def _count_distinct(spark, sf):
    return relational.count_distinct(_t(spark, sf, "customer"))


@_register(
    "approx_count_distinct",
    None,
    note="HLL sketch estimate; approximate by design -> rows-only check",
)
def _approx_count_distinct(spark, sf):
    return relational.approx_count_distinct(_t(spark, sf, "lineitem"))


@_register(
    "sort_global",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey",
)
def _sort_global(spark, sf):
    return relational.sort_global(_t(spark, sf, "orders"))


@_register(
    "topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def _topk(spark, sf):
    return relational.topk(_t(spark, sf, "orders"))


@_register(
    "join_equi_inner",
    """
    SELECT o_orderkey, c_custkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def _join_equi_inner(spark, sf):
    return relational.join_equi_inner(_t(spark, sf, "orders"), _t(spark, sf, "customer"))


@_register(
    "join_left_outer",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def _join_left_outer(spark, sf):
    return relational.join_left_outer(_t(spark, sf, "customer"), _t(spark, sf, "orders"))


@_register(
    "join_semi_anti",
    """
    SELECT c_custkey, 'has_orders' AS tag FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT c_custkey, 'no_orders' AS tag FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def _join_semi_anti(spark, sf):
    return relational.join_semi_anti(_t(spark, sf, "customer"), _t(spark, sf, "orders"))


@_register(
    "join_broadcast",
    """
    SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def _join_broadcast(spark, sf):
    return relational.join_broadcast(
        _t(spark, sf, "orders"), _t(spark, sf, "customer"), _t(spark, sf, "nation")
    )


@_register(
    "join_skew_salted",
    """
    SELECT o_orderpriority, count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    note="salt-and-replicate skew join == plain equi-join (every probe row meets each build row once)",
)
def _join_skew_salted(spark, sf):
    return relational.join_skew_salted(_t(spark, sf, "lineitem"), _t(spark, sf, "orders"))


def _orders_split(spark, sf):
    from pyspark.sql import functions as F

    orders = _t(spark, sf, "orders")
    a = orders.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    b = orders.filter(F.col("o_orderdate") >= "1999-06-01").select("o_custkey")
    return a, b


_SPLIT_A = "SELECT o_custkey FROM orders WHERE o_totalprice > 400000"


_SPLIT_B = "SELECT o_custkey FROM orders WHERE o_orderdate >= '1999-06-01'"


@_register("set_union", f"{_SPLIT_A} UNION {_SPLIT_B}")
def _set_union(spark, sf):
    return relational.set_union(*_orders_split(spark, sf))


@_register("set_intersect", f"{_SPLIT_A} INTERSECT {_SPLIT_B}")
def _set_intersect(spark, sf):
    return relational.set_intersect(*_orders_split(spark, sf))


@_register("set_except", f"{_SPLIT_A} EXCEPT {_SPLIT_B}")
def _set_except(spark, sf):
    return relational.set_except(*_orders_split(spark, sf))


@_register(
    "window_rank",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             rank() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
    WHERE rnk <= 3
    """,
)
def _window_rank(spark, sf):
    return relational.window_rank(_t(spark, sf, "orders"))


@_register(
    "window_running_agg",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def _window_running_agg(spark, sf):
    return relational.window_running_agg(_t(spark, sf, "orders"))


@_register(
    "grouping_rollup",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def _grouping_rollup(spark, sf):
    return relational.grouping_rollup(_t(spark, sf, "lineitem"))


@_register(
    "unpivot_metrics",
    """
    SELECT l_orderkey, l_linenumber, metric, val FROM (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
      FROM lineitem)
    UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
    """,
)
def _unpivot_metrics(spark, sf):
    return relational.unpivot_metrics(_t(spark, sf, "lineitem"))


@_register(
    "grouping_cube",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def _grouping_cube(spark, sf):
    return relational.grouping_cube(_t(spark, sf, "lineitem"))


@_register(
    "json_extract",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
    FROM events
    """,  # no ts column used -> raw events view is fine
)
def _json_extract(spark, sf):
    return relational.json_extract(_t(spark, sf, "events"))


@_register(
    "groupby_argmax",
    f"""
    SELECT user_id, event_type AS last_type, ts AS last_ts,
           round(value, 4) AS last_value
    FROM (SELECT user_id, event_type, ts, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM {_EVTS})
    WHERE rn = 1
    """,
    note="algebraic max_by in Spark; window row_number=1 phrasing as oracle",
)
def _groupby_argmax(spark, sf):
    return relational.groupby_argmax(_t(spark, sf, "events"))


@_register(
    "json_typed_agg",
    """
    WITH p AS (
      SELECT event_type,
             CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                  THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
      FROM events)
    SELECT event_type, count(*) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           round(avg(k), 4) AS avg_k
    FROM p GROUP BY event_type
    """,
    note="from_json once into a typed struct; json_type + TRY_CAST guard mirrors "
    "from_json's NULL on quoted/fractional/overflowing k",
)
def _json_typed_agg(spark, sf):
    return relational.json_typed_agg(_t(spark, sf, "events"))


@_register(
    "pivot_event_counts",
    f"""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'error') AS n_error,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'view') AS n_view
    FROM {_EVTS} GROUP BY user_id
    """,
    note="explicit-values pivot == conditional aggregation",
)
def _pivot_event_counts(spark, sf):
    return relational.pivot_event_counts(_t(spark, sf, "events"))


@_register(
    "join_bucketed_colocated",
    """
    SELECT c_nationkey, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
    note="bucketed-table sort-merge join, exchange-free on both sides "
    "(plan asserted in tests); oracle is the plain equi-join",
)
def _join_bucketed_colocated(spark, sf):
    import pathlib

    from ...sources.tables import source_fingerprint

    suffix = "_" + pathlib.Path(sf).name.replace(".", "_")
    return relational.join_bucketed_colocated(
        spark,
        _t(spark, sf, "orders"),
        _t(spark, sf, "customer"),
        table_suffix=suffix,
        source_fp=source_fingerprint(sf, "orders", "customer"),
    )


@_register(
    "window_percent_rank",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    note="distribution-position window pair (percent_rank + cume_dist) per "
    "priority class; one window pass",
)
def _window_percent_rank(spark, sf):
    return relational.window_percent_rank(_t(spark, sf, "orders"))


@_register(
    "quality_constraints",
    """
    WITH agg AS (
      SELECT count(*) AS n,
             count(l_orderkey) * 1.0 / count(*) AS complete_orderkey,
             count(DISTINCT (l_orderkey, l_linenumber)) * 1.0 / count(*) AS unique_pk,
             sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) * 1.0 / count(*) AS range_quantity,
             sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) * 1.0 / count(*) AS range_discount,
             sum(CASE WHEN l_tax BETWEEN 0.0 AND 0.08 THEN 1 ELSE 0 END) * 1.0 / count(*) AS range_tax,
             sum(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END) * 1.0 / count(*) AS positive_price,
             sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) * 1.0 / count(*) AS domain_returnflag,
             sum(CASE WHEN l_linestatus IN ('O','F') THEN 1 ELSE 0 END) * 1.0 / count(*) AS domain_linestatus
      FROM lineitem),
    long AS (
      SELECT 'complete_orderkey' AS "constraint", complete_orderkey AS m FROM agg
      UNION ALL SELECT 'unique_pk', unique_pk FROM agg
      UNION ALL SELECT 'range_quantity', range_quantity FROM agg
      UNION ALL SELECT 'range_discount', range_discount FROM agg
      UNION ALL SELECT 'range_tax', range_tax FROM agg
      UNION ALL SELECT 'positive_price', positive_price FROM agg
      UNION ALL SELECT 'domain_returnflag', domain_returnflag FROM agg
      UNION ALL SELECT 'domain_linestatus', domain_linestatus FROM agg)
    SELECT "constraint", round(m, 6) AS metric, m >= 1.0 AS passed
    FROM long ORDER BY "constraint"
    """,
    note="Deequ-style data-quality suite: completeness / compound-key "
    "uniqueness / ranges / domains in ONE aggregation pass (per-constraint "
    "re-scans don't survive 100 TB); long-form report oracle",
)
def _quality_constraints(spark, sf):
    return relational.quality_constraints(_t(spark, sf, "lineitem"))


@_register(
    "stats_correlation",
    """
    WITH m AS (
      SELECT l_returnflag, count(*) AS n,
             sum(l_quantity) AS sx, sum(l_extendedprice) AS sy,
             sum(l_quantity * l_quantity) AS sxx,
             sum(l_extendedprice * l_extendedprice) AS syy,
             sum(l_quantity * l_extendedprice) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
               AS qty_price_corr
    FROM m
    """,
    note="Pearson corr from explicit mergeable moments (one agg pass); "
    "same closed form on both engines",
)
def _stats_correlation(spark, sf):
    return relational.stats_correlation(_t(spark, sf, "lineitem"))


@_register(
    "window_ntile",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(ntile(4) OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS INT)
               AS spend_quartile
    FROM orders
    """,
    note="per-group equal-count buckets; global ntile deliberately "
    "avoided (see quality_stratify)",
)
def _window_ntile(spark, sf):
    return relational.window_ntile(_t(spark, sf, "orders"))


@_register(
    "join_full_outer",
    """
    WITH big AS (SELECT o_custkey, count(*) AS n_big FROM orders
                 WHERE o_totalprice > 400000 GROUP BY o_custkey),
    recent AS (SELECT o_custkey, count(*) AS n_recent FROM orders
               WHERE o_orderdate >= '1999-06-01' GROUP BY o_custkey)
    SELECT coalesce(big.o_custkey, recent.o_custkey) AS o_custkey,
           coalesce(n_big, 0) AS n_big, coalesce(n_recent, 0) AS n_recent
    FROM big FULL OUTER JOIN recent ON big.o_custkey = recent.o_custkey
    """,
    note="full outer join of two per-customer aggregates, keys coalesced",
)
def _join_full_outer(spark, sf):
    return relational.join_full_outer(_t(spark, sf, "orders"))


@_register(
    "cdc_latest_wins",
    f"""
    WITH base AS (SELECT event_id, ts, user_id, event_type, value, 0 AS version
                  FROM {_EVTS}),
    upd AS (SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
                   round(value * 2, 2) AS value, 1 AS version
            FROM {_EVTS} WHERE event_id % 10 = 0),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_id
                                       ORDER BY version DESC, ts DESC) AS rnk
          FROM u)
    SELECT event_id, ts, user_id, event_type, round(value, 2) AS value, version
    FROM r WHERE rnk = 1
    """,
    note="upsert/merge kernel: union + latest-version-wins rank window",
)
def _cdc_latest_wins(spark, sf):
    return relational.cdc_latest_wins(_t(spark, sf, "events"))


@_register(
    "sketch_hll_mergeable",
    None,
    note="mergeable HLL cardinality sketches (approximate by design); "
    "merged-vs-direct equality and error bound asserted in tests",
)
def _sketch_hll_mergeable(spark, sf):
    return relational.sketch_hll_mergeable(_t(spark, sf, "events"))


@_register(
    "incremental_agg_merge",
    """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value FROM events
    )
    SELECT event_type,
           CAST(count(DISTINCT day) AS INTEGER) AS n_days,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value) / count(*), 4) AS avg_value,
           round((sum(value * value) - sum(value) * sum(value) / count(*))
                 / count(*), 4) AS var_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM base GROUP BY event_type
    """,
    note="per-(type, day) partial moment states merged to exact "
    "per-type totals — merge == direct computation proves the state "
    "design mergeable (oracle computes direct)",
)
def _incremental_agg_merge(spark, sf):
    return relational.incremental_agg_merge(_t(spark, sf, "events"))


def _zorder_oracle(bits: int = 16) -> str:
    x = f"(user_id % {1 << bits})"
    y = (
        "(CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 60000000) AS BIGINT)"
        f" % {1 << bits})"
    )
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    z = " | ".join(terms)
    return f"""
    SELECT (({z}) >> {bits}) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """


@_register(
    "zorder_index",
    _zorder_oracle(),
    note="Morton bit-interleave of (user_id, epoch-minute) -> "
    "2-D data-skipping layout key; oracle SQL generated from the "
    "same unrolled bit loop",
)
def _zorder_index(spark, sf):
    return relational.zorder_index(_t(spark, sf, "events"))


@_register(
    "join_bloom_pruned",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    """,
    note="explicit runtime filter: dim-key Bloom bitmap (bit_or word "
    "fold, 8 KB broadcast) prunes fact rows before the join exchange; "
    "no false negatives by construction, so output == plain join "
    "(which is what the oracle runs)",
)
def _join_bloom_pruned(spark, sf):
    return relational.join_bloom_pruned(
        _t(spark, sf, "orders"), _t(spark, sf, "customer")
    )


@_register("set_intersect_all", f"{_SPLIT_A} INTERSECT ALL {_SPLIT_B}")
def _set_intersect_all(spark, sf):
    return relational.set_intersect_all(*_orders_split(spark, sf))


@_register("set_except_all", f"{_SPLIT_A} EXCEPT ALL {_SPLIT_B}")
def _set_except_all(spark, sf):
    return relational.set_except_all(*_orders_split(spark, sf))


@_register(
    "flatmap_explode_outer",
    """
    WITH e AS (
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INT) % 3 AS m
      FROM events
    )
    SELECT event_id,
           CAST(unnest(CASE WHEN m IS NULL OR m = 0
                            THEN [CAST(NULL AS INT)]
                            ELSE range(1, m + 1) END) AS INT) AS step
    FROM e
    """,
    note="null-preserving flatMap (explode_outer): empty-array rows "
    "survive as one NULL-element row — the trap a plain explode "
    "silently drops",
)
def _flatmap_explode_outer(spark, sf):
    return relational.flatmap_explode_outer(_t(spark, sf, "events"))


@_register(
    "audience_overlap",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM ut a JOIN ut b ON a.user_id = b.user_id
      AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    note="co-engagement matrix: distinct-(user, type) compression "
    "FIRST, so self-join fan-out per user is bounded by the type "
    "alphabet; |types|-choose-2 output rows at any scale",
)
def _audience_overlap(spark, sf):
    return relational.audience_overlap(_t(spark, sf, "events"))


@_register(
    "audience_overlap_kmv",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM ut a JOIN ut b ON a.user_id = b.user_id
      AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    note="co-engagement through mergeable KMV sketches: audiences "
    "shrink to k-minimum-hash arrays BEFORE pairing (exact-k via "
    "per-cell top-k merge, never a whole-audience sort); below k "
    "the sketch is full membership so the intersection is EXACT -- "
    "the fixture regime, hence the same oracle as the exact "
    "operator; the theta estimator path is error-bounded in unit "
    "tests on synthetic large audiences",
)
def _audience_overlap_kmv(spark, sf):
    return relational.audience_overlap_kmv(_t(spark, sf, "events"))


@_register(
    "skyline_pareto",
    """
    WITH pts AS (
      SELECT p_retailprice, p_size, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_retailprice, p_size
    ),
    sweep AS (
      SELECT *, max(p_size) OVER (ORDER BY p_retailprice ASC, p_size DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
      FROM pts
    )
    SELECT p_retailprice, p_size, n_parts FROM sweep
    WHERE run_max IS NULL OR p_size > run_max
    """,
    note="2-D Pareto frontier (min price, max size): grid-prune by "
    "price bucket discards dominated points map-side before the exact "
    "sweep window ever sees them; oracle runs the unpruned sweep",
)
def _skyline_pareto(spark, sf):
    return relational.skyline_pareto(_t(spark, sf, "part"))


@_register(
    "join_interval_overlap",
    """
    WITH quarters AS (
      SELECT unnest(generate_series(DATE '1992-01-01', DATE '1998-10-01',
                                    INTERVAL 3 MONTH))::DATE AS q_start
    ),
    q AS (
      SELECT q_start, (q_start + INTERVAL 3 MONTH - INTERVAL 1 DAY)::DATE AS q_end
      FROM quarters
    )
    SELECT CAST(q_start AS TIMESTAMP) AS q_start,
           CAST(count(*) AS BIGINT) AS n_in_transit,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
    FROM (
      SELECT CAST(l_shipdate AS DATE) AS ship_day,
             CAST(l_shipdate AS DATE) + CAST(1 + l_linenumber * 5 AS INT)
               AS receipt_day,
             l_quantity
      FROM lineitem
    ) iv JOIN q
      ON ship_day <= q_end AND receipt_day >= q_start
    GROUP BY q_start
    """,
    note="interval-overlap join vs a generated quarter calendar "
    "(in-transit occupancy per period): broadcast nested-loop with a "
    "28-row dim; large-x-large interval joins band the axis instead",
)
def _join_interval_overlap(spark, sf):
    return relational.join_interval_overlap(_t(spark, sf, "lineitem"))


@_register(
    "equidepth_histogram",
    """
    WITH bounds AS (
      SELECT list_transform(
               quantile_cont(l_extendedprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
               b -> round(b, 4)) AS bs
      FROM lineitem
    ),
    assigned AS (
      SELECT l_extendedprice,
             CAST(len(list_filter(bs, b -> l_extendedprice >= b)) AS INTEGER)
               AS bucket
      FROM lineitem CROSS JOIN bounds
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           round(min(l_extendedprice), 2) AS lo_price,
           round(max(l_extendedprice), 2) AS hi_price,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM assigned GROUP BY bucket
    """,
    note="equi-depth histogram WITHOUT the global-ntile single-"
    "partition sort trap: exact percentile cut points (parallel "
    "partial->final), boundary array broadcast, assignment is a pure "
    "row expression",
)
def _equidepth_histogram(spark, sf):
    return relational.equidepth_histogram(_t(spark, sf, "lineitem"))


@_register(
    "column_profile",
    """
    WITH wide AS (
      SELECT count(*) AS n_rows,
        count(l_quantity) AS q_n, count(DISTINCT l_quantity) AS q_d,
        CAST(min(l_quantity) AS DOUBLE) AS q_min,
        CAST(max(l_quantity) AS DOUBLE) AS q_max,
        sum(CAST(l_quantity AS DECIMAL(28,4))) AS q_sum,
        count(l_extendedprice) AS e_n,
        count(DISTINCT l_extendedprice) AS e_d,
        CAST(min(l_extendedprice) AS DOUBLE) AS e_min,
        CAST(max(l_extendedprice) AS DOUBLE) AS e_max,
        sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS e_sum,
        count(l_discount) AS d_n, count(DISTINCT l_discount) AS d_d,
        CAST(min(l_discount) AS DOUBLE) AS d_min,
        CAST(max(l_discount) AS DOUBLE) AS d_max,
        sum(CAST(l_discount AS DECIMAL(28,4))) AS d_sum,
        count(l_tax) AS t_n, count(DISTINCT l_tax) AS t_d,
        CAST(min(l_tax) AS DOUBLE) AS t_min,
        CAST(max(l_tax) AS DOUBLE) AS t_max,
        sum(CAST(l_tax AS DECIMAL(28,4))) AS t_sum,
        count(l_returnflag) AS r_n,
        count(DISTINCT l_returnflag) AS r_d,
        CAST(min(length(l_returnflag)) AS DOUBLE) AS r_min,
        CAST(max(length(l_returnflag)) AS DOUBLE) AS r_max,
        sum(CAST(length(l_returnflag) AS DECIMAL(28,4))) AS r_sum,
        count(l_linestatus) AS s_n, count(DISTINCT l_linestatus) AS s_d,
        CAST(min(length(l_linestatus)) AS DOUBLE) AS s_min,
        CAST(max(length(l_linestatus)) AS DOUBLE) AS s_max,
        sum(CAST(length(l_linestatus) AS DECIMAL(28,4))) AS s_sum,
        count(l_linenumber) AS l_n, count(DISTINCT l_linenumber) AS l_d,
        CAST(min(l_linenumber) AS DOUBLE) AS l_min,
        CAST(max(l_linenumber) AS DOUBLE) AS l_max,
        sum(CAST(l_linenumber AS DECIMAL(28,4))) AS l_sum
      FROM lineitem),
    long AS (
      SELECT 'l_quantity' AS col_name, n_rows, q_n AS n_nonnull,
             q_d AS n_distinct, q_min AS min_v, q_max AS max_v,
             CAST(q_sum AS DOUBLE) AS sum_v FROM wide
      UNION ALL SELECT 'l_extendedprice', n_rows, e_n, e_d, e_min,
             e_max, CAST(e_sum AS DOUBLE) FROM wide
      UNION ALL SELECT 'l_discount', n_rows, d_n, d_d, d_min, d_max,
             CAST(d_sum AS DOUBLE) FROM wide
      UNION ALL SELECT 'l_tax', n_rows, t_n, t_d, t_min, t_max,
             CAST(t_sum AS DOUBLE) FROM wide
      UNION ALL SELECT 'l_returnflag', n_rows, r_n, r_d, r_min, r_max,
             CAST(r_sum AS DOUBLE) FROM wide
      UNION ALL SELECT 'l_linestatus', n_rows, s_n, s_d, s_min, s_max,
             CAST(s_sum AS DOUBLE) FROM wide
      UNION ALL SELECT 'l_linenumber', n_rows, l_n, l_d, l_min, l_max,
             CAST(l_sum AS DOUBLE) FROM wide)
    SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_nonnull AS BIGINT) AS n_nonnull,
           round(n_nonnull * 1.0 / n_rows, 4) AS completeness,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           min_v, max_v,
           round(sum_v / n_nonnull, 4) AS mean_v
    FROM long
    """,
    note="single-scan Deequ-style column profile (describe side of "
    "quality_constraints): two-level (col,value) aggregate -- map-side "
    "duplicate collapse, shuffle bounded by true cardinality, no "
    "mixed-distinct Expand; strings profiled by length, keyed by "
    "value; means fold DECIMAL then divide once in double",
)
def _column_profile(spark, sf):
    return relational.column_profile(_t(spark, sf, "lineitem"))


@_register(
    "customer_reorder_stats",
    """
    WITH gaps AS (
      SELECT o_custkey,
             datediff('day',
               CAST(lag(CAST(o_orderdate AS TIMESTAMP)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS TIMESTAMP), o_orderkey
               ) AS DATE),
               CAST(o_orderdate AS DATE)) AS gap_d
      FROM orders)
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(gap_d) AS BIGINT) AS n_gaps,
           round(avg(gap_d), 2) AS mean_gap_days,
           CAST(min(gap_d) AS BIGINT) AS min_gap_days,
           CAST(max(gap_d) AS BIGINT) AS max_gap_days
    FROM gaps GROUP BY o_custkey
    HAVING count(*) >= 3
    """,
    note="per-customer reorder cadence (gap stream via one lag "
    "window + grouped agg on the SAME o_custkey key -- single "
    "exchange): churn/repurchase-rhythm signal; exact integer day "
    "gaps, the mean is the one double division",
)
def _customer_reorder_stats(spark, sf):
    return relational.customer_reorder_stats(_t(spark, sf, "orders"))


@_register(
    "cdc_merge_upsert",
    """
    WITH rb AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
    base AS (
      SELECT o_custkey, o_orderkey AS b_orderkey,
             o_totalprice AS b_totalprice, o_orderdate AS b_orderdate
      FROM rb WHERE rn = 1),
    rc AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             o_orderstatus,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
    chg AS (
      SELECT o_custkey,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_orderkey AS c_orderkey, o_totalprice AS c_totalprice,
             o_orderdate AS c_orderdate
      FROM rc WHERE rn = 1)
    SELECT o_custkey,
           CASE WHEN op = 'U' THEN c_orderkey ELSE b_orderkey END
             AS o_orderkey,
           CASE WHEN op = 'U' THEN c_totalprice ELSE b_totalprice END
             AS o_totalprice,
           CASE WHEN op = 'U' THEN c_orderdate ELSE b_orderdate END
             AS o_orderdate,
           CASE WHEN op = 'U' THEN 'change' ELSE 'base' END AS src
    FROM base FULL OUTER JOIN chg USING (o_custkey)
    WHERE op IS NULL OR op = 'U'
    """,
    note="MERGE INTO semantics (upsert + delete + latest-wins) over "
    "a snapshot/changelog split of orders at 1998-01-01: base state "
    "and latest pending change both via max_by ordering structs "
    "(groupby_argmax discipline, no window sort), one full-outer "
    "keyed join, row-local CASE application; 'F' changes close the "
    "account (delete), others replace-or-insert",
)
def _cdc_merge_upsert(spark, sf):
    return relational.cdc_merge_upsert(_t(spark, sf, "orders"))


@_register(
    "customer_clv_cohort",
    """
    WITH o AS (
      SELECT o_custkey,
             year(o_orderdate) * 4 + quarter(o_orderdate) - 1 AS q_idx,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders),
    fq AS (SELECT o_custkey, min(q_idx) AS cohort_idx FROM o GROUP BY 1),
    staged AS (
      SELECT o.o_custkey, cohort_idx, q_idx - cohort_idx AS age_q, price
      FROM o JOIN fq USING (o_custkey))
    SELECT concat(CAST(cohort_idx // 4 AS VARCHAR), '-Q',
                  CAST(cohort_idx % 4 + 1 AS VARCHAR)) AS cohort_q,
           CAST(age_q AS INTEGER) AS age_q,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(price) AS DOUBLE) AS revenue
    FROM staged GROUP BY cohort_idx, age_q
    """,
    note="cohorted customer-lifetime-value matrix "
    "(retention_cohorts' revenue sibling on orders): cohort/age as "
    "pure integer quarter indices, revenue in DECIMAL(18,2) cast "
    "back (the money contract); one argmin aggregate + keyed join + "
    "one rollup",
)
def _customer_clv_cohort(spark, sf):
    return relational.customer_clv_cohort(_t(spark, sf, "orders"))


@_register(
    "orders_abc_classification",
    """
    WITH pp AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS rev_e4
      FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(rev_e4) AS tot_e4 FROM pp),
    cum AS (
      SELECT l_partkey, rev_e4,
             sum(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_e4
      FROM pp)
    SELECT l_partkey,
           CAST(round(rev_e4 / 100.0) AS BIGINT) / 100.0 AS revenue,
           round(cum_e4 / CAST(tot_e4 AS DOUBLE), 6) AS cum_share,
           CASE WHEN cum_e4 * 10 <= tot_e4 * 7 THEN 'A'
                WHEN cum_e4 * 10 <= tot_e4 * 9 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum, tot
    """,
    note="ABC revenue classification of parts (70/90 cumulative-share "
    "cuts): per-line revenue exact in 1e-4 dollars (cents x "
    "(100-disc_pct) integers), BIGINT running sums, class cut by "
    "integer cross-multiplication -- no share ratio materialized; "
    "revenue display rounded to cents at INTEGER scale",
)
def _orders_abc_classification(spark, sf):
    return relational.orders_abc_classification(_t(spark, sf, "lineitem"))


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
