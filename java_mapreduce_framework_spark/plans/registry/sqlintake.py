"""SQL-intake section of the declared query registry: queries that
run ANSI SQL text through ``plans.sql.run_sql``.

``_SQL_INTAKE`` lists the queries whose oracle is their own statement:
one ``(name, statement, note)`` row each, registered by one loop. The
queries whose oracle differs from the statement they run are declared
with ``@_register`` below it."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ...session import tune_session
from .. import sql
from .core import _insert, QuerySpec, _register


_SQL_INTAKE = (
    (
        "sql_pricing_summary",
        sql.PRICING_SUMMARY,
        "TPC-H-style Q1 through the spark.sql intake",
    ),
    (
        "sql_top_orders",
        sql.TOP_ORDERS,
        "TPC-H-style Q3 shape through the spark.sql intake",
    ),
    (
        "sql_revenue_forecast",
        sql.REVENUE_FORECAST,
        "TPC-H-style Q6 shape: all predicates pushed to the scan",
    ),
    (
        "sql_regional_volume",
        sql.REGIONAL_VOLUME,
        "TPC-H-style Q5 shape: 5-way join, region/nation broadcast",
    ),
    (
        "sql_promo_share",
        sql.PROMO_SHARE,
        "TPC-H-style Q14 shape: part join + FILTER-clause conditional agg",
    ),
    (
        "sql_order_priority_check",
        sql.ORDER_PRIORITY_CHECK,
        "TPC-H-style Q4 shape: correlated EXISTS -> left-semi join",
    ),
    (
        "sql_priority_shipments",
        sql.PRIORITY_SHIPMENTS,
        "TPC-H-style Q12 shape: CASE-conditional counts over the fact join",
    ),
    (
        "sql_parts_supplier_spread",
        sql.PARTS_SUPPLIER_SPREAD,
        "TPC-H-style Q16 shape: distinct-count + NOT IN blacklist",
    ),
    (
        "sql_big_orders",
        sql.BIG_ORDERS,
        "TPC-H-style Q18 shape: grouped-HAVING IN subquery",
    ),
    (
        "sql_bracketed_revenue",
        sql.BRACKETED_REVENUE,
        "TPC-H-style Q19 shape: OR-of-ANDs predicate bands",
    ),
    (
        "sql_dormant_customers",
        sql.DORMANT_CUSTOMERS,
        "TPC-H-style Q22 shape: scalar-avg subquery + NOT EXISTS anti-join",
    ),
    (
        "sql_grouping_sets",
        sql.GROUPING_SETS_MARGINALS,
        "explicit GROUPING SETS marginals + grouping() flags",
    ),
    (
        "sql_returned_revenue",
        sql.RETURNED_REVENUE,
        "TPC-H-style Q10 shape: returned-item revenue top-k",
    ),
    (
        "sql_small_qty_revenue",
        sql.SMALL_QTY_REVENUE,
        "TPC-H-style Q17 shape: correlated scalar avg-quantity subquery",
    ),
    (
        "sql_min_cost_supplier",
        sql.MIN_COST_SUPPLIER,
        "TPC-H-style Q2 shape: correlated min-cost subquery",
    ),
    (
        "sql_late_sole_supplier",
        sql.LATE_SOLE_SUPPLIER,
        "TPC-H-style Q21 shape: EXISTS (semi) + NOT EXISTS (anti) "
        "correlated subqueries",
    ),
    (
        "sql_dominant_part_suppliers",
        sql.DOMINANT_PART_SUPPLIERS,
        "TPC-H-style Q20 shape: nested IN + correlated scalar agg in "
        "HAVING",
    ),
    (
        "sql_customer_order_distribution",
        sql.CUSTOMER_ORDER_DISTRIBUTION,
        "TPC-H-style Q13 shape: ON-clause filter in outer join + "
        "aggregation over an aggregation",
    ),
    (
        "sql_top_revenue_supplier",
        sql.TOP_REVENUE_SUPPLIER,
        "TPC-H-style Q15 shape: CTE reused as join input and inside "
        "a MAX scalar subquery",
    ),
    (
        "sql_important_part_value",
        sql.IMPORTANT_PART_VALUE,
        "TPC-H-style Q11 shape: HAVING vs global scalar aggregate",
    ),
    (
        "sql_cross_nation_volume",
        sql.CROSS_NATION_VOLUME,
        "TPC-H-style Q7 shape: one dimension joined in two roles with "
        "a symmetric pair predicate",
    ),
    (
        "sql_nation_market_share",
        sql.NATION_MARKET_SHARE,
        "TPC-H-style Q8 shape: conditional/unconditional aggregate "
        "ratio (market share)",
    ),
    (
        "sql_nation_product_profit",
        sql.NATION_PRODUCT_PROFIT,
        "TPC-H-style Q9 shape: LIKE-filtered part dim in a 4-way "
        "fact chain, profit by nation x year",
    ),
    (
        "sql_qoq_growth",
        sql.QOQ_GROWTH,
        "quarter-over-quarter revenue growth: calendar-bounded "
        "quarter aggregate + lag window; DECIMAL money sums",
    ),
    (
        "sql_yoy_growth",
        sql.YOY_GROWTH,
        "year-over-year revenue growth: calendar-year aggregate + "
        "lag window, exact integer-cent mod-based half-up division "
        "(sql_qoq_growth's yearly sibling)",
    ),
    (
        "sql_discount_elasticity",
        sql.DISCOUNT_ELASTICITY,
        "demand by discount band: integer quantities and DECIMAL "
        "cent sums, per-band mean one integer-ratio double",
    ),
    (
        "sql_customer_balance_deciles",
        sql.CUSTOMER_BALANCE_DECILES,
        "customer balance deciles: deterministic ntile over "
        "(balance DESC, custkey), exact integer-cent aggregates",
    ),
    (
        "sql_parts_type_revenue",
        sql.PARTS_TYPE_REVENUE,
        "catalog-mix revenue by part type: one part join, DECIMAL "
        "cent sums, integer quantities",
    ),
    (
        "sql_nation_trade_balance",
        sql.NATION_TRADE_BALANCE,
        "per-nation trade balance (exports minus imports, domestic "
        "flows excluded) through the spark.sql intake: one flows "
        "aggregation, two-sided UNION ALL unpivot instead of an OR-join "
        "against the nation dimension, DECIMAL cents end to end",
    ),
    (
        "sql_nation_top_customers",
        sql.NATION_TOP_CUSTOMERS,
        "top-3 customers by lifetime revenue per nation through the "
        "spark.sql intake: windowed rank inside a dimension partition, "
        "deterministic (revenue DESC, name) ties, exact 1e-4-dollar "
        "integer revenue",
    ),
    (
        "sql_segment_repeat_rate",
        sql.SEGMENT_REPEAT_RATE,
        "repeat-purchase rate per market segment through the "
        "spark.sql intake (the loyalty read on c_mktsegment): left join "
        "keeps order-less customers as dormant, repeat share at integer "
        "1e-6 scale",
    ),
    (
        "sql_brand_type_leaders",
        sql.BRAND_TYPE_LEADERS,
        "top-3 part brands by revenue within each part type through "
        "the spark.sql intake (window-over-aggregate on the part "
        "dimension); revenue in exact 1e-4-dollar integer units",
    ),
    (
        "sql_priority_mix_monthly",
        sql.PRIORITY_MIX_MONTHLY,
        "month x order-priority demand mix through the spark.sql "
        "intake; shares round at integer 1e-6 scale",
    ),
    (
        "sql_order_linecount_distribution",
        sql.ORDER_LINECOUNT_DISTRIBUTION,
        "order-size histogram (orders per line-item count) through "
        "the spark.sql intake; left join keeps zero-line orders honest",
    ),
    (
        "sql_supplier_hhi_by_nation",
        sql.SUPPLIER_HHI_BY_NATION,
        "supplier-concentration HHI per nation through the spark.sql "
        "intake: squared revenue shares per supplier, each term rounded "
        "to integer nano units BEFORE the per-nation fold",
    ),
    (
        "sql_supplier_share_trend",
        sql.SUPPLIER_SHARE_TREND,
        "yearly revenue share per supplier nation with YoY share "
        "delta through the spark.sql intake (window-over-window: share "
        "within year, lag across years); revenue in exact 1e-4-dollar "
        "integers, shares at 1e-6, delta subtracts two already-rounded "
        "shares",
    ),
    (
        "sql_value_band_migration",
        sql.VALUE_BAND_MIGRATION,
        "customer order-value band migration 1995 -> 1997 through "
        "the spark.sql intake (FULL OUTER JOIN transition matrix with "
        "ENTER/EXIT bands); fixed dollar cut points, DECIMAL-cent exact "
        "spend",
    ),
    (
        "sql_top_growth_parts",
        sql.TOP_GROWTH_PARTS,
        "top-10 parts by 1995->1996 revenue growth through the "
        "spark.sql intake (both-years join, exact integer delta rank, "
        "ties by part key)",
    ),
)


def _run_statement(statement: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune_session(spark)
        return sql.run_sql(spark, sf_dir, statement)

    return fn


for _name, _statement, _note in _SQL_INTAKE:
    _insert(QuerySpec(_name, _run_statement(_statement), _statement, _note))


@_register(
    "sql_null_aware_anti",
    """
    SELECT 'null_free' AS variant, count(*) AS n FROM lineitem
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    UNION ALL
    SELECT 'null_bearing' AS variant, count(*) AS n FROM lineitem
    WHERE l_suppkey NOT IN (SELECT CASE WHEN s_acctbal < 0 THEN NULL
                                        ELSE s_suppkey END
                            FROM supplier)
    """,
    note="null-aware anti join semantics: NOT IN over a NULL-bearing "
    "subquery yields UNKNOWN for every probe row (count 0), vs the "
    "null-free variant's plain anti join -- the Catalyst "
    "NullAwareAntiJoin path, agreed with the oracle engine",
)
def _sql_null_aware_anti(spark, sf):
    return sql.run_sql(
        spark,
        sf,
        """
        SELECT 'null_free' AS variant, count(*) AS n FROM lineitem
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        UNION ALL
        SELECT 'null_bearing' AS variant, count(*) AS n FROM lineitem
        WHERE l_suppkey NOT IN (SELECT CASE WHEN s_acctbal < 0 THEN NULL
                                            ELSE s_suppkey END
                                FROM supplier)
        """,
    )


_SQL_LATERAL = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


@_register(
    "sql_lateral_top_orders",
    _SQL_LATERAL,
    note="LATERAL correlated subquery with per-row ORDER BY ... LIMIT "
    "(top-N per key in pure SQL): Catalyst decorrelates to a rank "
    "window — same text runs verbatim on the oracle engine",
)
def _sql_lateral_top_orders(spark, sf):
    return sql.run_sql(spark, sf, _SQL_LATERAL)


_SQL_RECURSIVE_SPINE = """
    WITH RECURSIVE spine(m) AS (
      SELECT CAST(DATE '1995-01-01' AS DATE)
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
      WHERE m < DATE '1996-12-01'
    ),
    mo AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
      FROM orders
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1997-01-01'
      GROUP BY 1
    )
    SELECT CAST(s.m AS TIMESTAMP) AS month,
           COALESCE(mo.n_orders, 0) AS n_orders,
           COALESCE(mo.total_price, 0.0) AS total_price
    FROM spine s LEFT JOIN mo ON mo.m = s.m
"""


@_register(
    "sql_recursive_month_spine",
    _SQL_RECURSIVE_SPINE,
    note="WITH RECURSIVE intake (Spark 4 recursive CTE): bounded "
    "monotone date-spine generation LEFT-JOINed to a grouped "
    "aggregate so empty months survive as zero rows — the gap-"
    "preserving reporting shape; same text runs verbatim on the "
    "oracle engine. Recursion depth is the calendar span (24), "
    "independent of data volume; the aggregate side stays "
    "partial->final with the date filter pushed to the scan",
)
def _sql_recursive_month_spine(spark, sf):
    return sql.run_sql(spark, sf, _SQL_RECURSIVE_SPINE)


_SQL_PIVOT_QTY = """
    SELECT l_returnflag,
           CAST(COALESCE(o, 0) AS DOUBLE) AS qty_open,
           CAST(COALESCE(f, 0) AS DOUBLE) AS qty_finished
    FROM (SELECT l_returnflag, l_linestatus,
                 CAST(l_quantity AS DECIMAL(18,2)) AS q FROM lineitem)
    PIVOT (SUM(q) FOR l_linestatus IN ('O' AS o, 'F' AS f))
"""


@_register(
    "sql_pivot_qty",
    """
    SELECT l_returnflag,
           CAST(COALESCE(sum(CASE WHEN l_linestatus = 'O'
                 THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0)
                AS DOUBLE) AS qty_open,
           CAST(COALESCE(sum(CASE WHEN l_linestatus = 'F'
                 THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0)
                AS DOUBLE) AS qty_finished
    FROM lineitem GROUP BY l_returnflag
    """,
    note="SQL PIVOT intake shape: Spark's native FROM ... PIVOT "
    "(SUM FOR col IN (...)) syntax, which Catalyst lowers to the "
    "same conditional-aggregate plan the oracle states explicitly "
    "with CASE -- one scan, one grouped agg, DECIMAL-exact sums",
)
def _sql_pivot_qty(spark, sf):
    return sql.run_sql(spark, sf, _SQL_PIVOT_QTY)
