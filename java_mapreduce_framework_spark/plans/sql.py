"""SQL intake: run ANSI SQL directly against the fixture tables.

The reference has no query language -- its IR is a 5-field job bean
(``master/Job.java:26-44``) and every computation is a hand-written
``Job`` class. On Spark the declarative path is free: register the
tables as temp views and hand the string to Catalyst, which supplies
the entire optimization stack (pushdown, pruning, join reordering,
AQE) that SURVEY.md section 4.1 records as absent in the reference.

``run_sql`` is the engine's third intake next to the DataFrame
operators (``operators/``) and the Job API (``plans/jobs.py``); all
three lower to the same Catalyst plans, demonstrated by the
``sql_*`` entries in the declared registry whose results hash-match
the DataFrame-built equivalents' oracles.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import TABLES, load_table


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each of ``tables`` as a temp view (idempotent;
    re-registering points the view at the new sf_dir). Each view reads
    through ``load_table``, so on a warm session registering it
    launches no Spark job."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Register the views the query names, then evaluate it -- the
    whole SQL layer.

    Views are selected by word match: every fixture table whose name
    appears as a word of the SQL text is registered. A table the query
    reads is always matched; over-matching (a column alias ``AS
    nation``) costs one extra view. A table the query names that is not
    a fixture still fails in ``spark.sql`` with ``AnalysisException``.

    The DataFrame is lazy as usual; Catalyst sees the full view
    definitions inline, so filters written over a view still push to
    the parquet scan (verified in tests/test_plan_shape.py).
    """
    words = set(re.findall(r"\w+", sql.lower()))
    register_views(spark, sf_dir, tuple(t for t in TABLES if t in words))
    return spark.sql(sql)


#: TPC-H-style Q1: pricing summary -- the canonical grouped-agg SQL.
PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

#: TPC-H-style Q6 shape: pure filter + ungrouped aggregate. The whole
#: query is a parquet scan with every predicate pushed (row-group
#: min/max skipping on l_shipdate) feeding one partial->final agg --
#: at 100 TB it reads only the date-matching row groups of 3 columns.
REVENUE_FORECAST = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""

#: TPC-H-style Q5 shape: 5-way join narrowed by a region filter --
#: the join-ordering/broadcast showcase (region and nation broadcast,
#: AQE picks strategies for the fact-side joins).
REGIONAL_VOLUME = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'AMERICA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1999-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

#: TPC-H-style Q14 shape: promo revenue share over a date slice of
#: lineitem x part. Exercises the part dimension (broadcast at this
#: size), date pushdown, and FILTER-clause conditional aggregation —
#: one partial->final pass, no second scan for the promo subtotal.
PROMO_SHARE = """
SELECT
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       FILTER (WHERE p_type = 'PROMO') AS DOUBLE) AS promo_revenue,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       AS DOUBLE) AS total_revenue,
  count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
"""

#: TPC-H-style Q3 shape: top unshipped orders by revenue.
TOP_ORDERS = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""

#: TPC-H-style Q4 shape: correlated EXISTS decorrelated by Catalyst
#: into a left-semi join on the fact table -- the late-shipment check
#: (no l_commitdate/l_receiptdate in this schema) keeps the
#: correlated date arithmetic of the original.
ORDER_PRIORITY_CHECK = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

#: TPC-H-style Q12 shape: CASE-conditional counts over a fact join
#: (l_shipmode is absent; l_returnflag is the grouping stand-in).
PRIORITY_SHIPMENTS = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

#: TPC-H-style Q16 shape: distinct-count per part attribute with a
#: NOT IN supplier blacklist (negative balances stand in for the
#: complaints predicate).
PARTS_SUPPLIER_SPREAD = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

#: TPC-H-style Q18 shape: large-volume orders via a grouped-HAVING IN
#: subquery re-joined to the dimensions.
BIG_ORDERS = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""

#: TPC-H-style Q19 shape: disjunction of brand/size/quantity bands --
#: the OR-of-ANDs predicate Catalyst splits into join-level and
#: scan-level conjuncts.
BRACKETED_REVENUE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""

#: TPC-H-style Q22 shape: scalar-average subquery + NOT EXISTS
#: anti-join (rich customers gone dormant -- no orders in the last
#: fixture years; every fixture customer has SOME order, so the
#: anti-join is windowed to stay non-degenerate).
DORMANT_CUSTOMERS = """
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '1999-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

#: TPC-H-style Q10 shape: returned-item revenue ranking -- fact joins
#: narrowed by a date slice and a flag, top-k on the aggregate.
RETURNED_REVENUE = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

#: GROUPING SETS beyond rollup/cube: explicit per-dimension marginals
#: plus the grand total, with grouping() flags disambiguating NULL
#: group values from NULL data. One Expand + single aggregation.
GROUPING_SETS_MARGINALS = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(grouping(l_returnflag) AS INT) AS g_flag,
       CAST(grouping(l_linestatus) AS INT) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""

#: TPC-H-style Q17 shape: correlated SCALAR aggregate subquery -- the
#: per-part average quantity gates each lineitem row. Catalyst
#: decorrelates this into an aggregate-then-join (one extra lineitem
#: aggregation keyed on l_partkey, re-joined to the filtered fact
#: scan), so at 100 TB it is two shuffles on the same key instead of a
#: per-row re-scan. Fixture quantities are integer-valued, so the
#: 0.2 * avg threshold is the same float64 in both engines (exact sum
#: / exact count); revenue goes through DECIMAL(18,2) per the money
#: discipline.
SMALL_QTY_REVENUE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
           AS avg_yearly,
       count(*) AS n_items
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#23'
  AND p_size <= 5
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""

#: TPC-H-style Q2 shape: correlated min-cost subquery selecting the
#: cheapest source per part (the fixture has no partsupp, so lineitem
#: plays the price list: cheapest shipment of the part). Decorrelates
#: to a min-aggregate on l_partkey joined back on BOTH the key and the
#: price equality. All emitted numerics are stored column values --
#: equality on them is bit-exact cross-engine; no arithmetic rounding.
MIN_COST_SUPPLIER = """
SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal,
       l.l_extendedprice AS min_price
FROM part p, supplier s, lineitem l
WHERE l.l_partkey = p.p_partkey
  AND l.l_suppkey = s.s_suppkey
  AND p.p_size < 5
  AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                           FROM lineitem l2
                           WHERE l2.l_partkey = p.p_partkey)
"""

#: TPC-H-style Q21 shape: EXISTS + NOT EXISTS correlated subqueries
#: (the fixture has no commit/receipt dates, so "late" is shipping
#: more than 60 days after the order date). Catalyst turns the EXISTS
#: into a left-semi and the NOT EXISTS into a null-aware left-anti
#: join, both keyed on l_orderkey -- three shuffles on one key at
#: 100 TB, never a per-row probe.
LATE_SOLE_SUPPLIER = """
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""

#: TPC-H-style Q20 shape: nested IN subqueries with a correlated
#: scalar aggregate in the HAVING -- suppliers carrying an outsized
#: share (>15%) of any red part's shipped quantity. Integer-valued
#: quantities keep the 0.15 * sum threshold exact in float64 on both
#: engines.
DOMINANT_PART_SUPPLIERS = """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l1.l_suppkey FROM lineitem l1
  WHERE l1.l_partkey IN (SELECT p_partkey FROM part
                         WHERE p_name LIKE 'red%')
  GROUP BY l1.l_suppkey, l1.l_partkey
  HAVING sum(l1.l_quantity) > 0.15 * (SELECT sum(l2.l_quantity)
                                      FROM lineitem l2
                                      WHERE l2.l_partkey = l1.l_partkey))
ORDER BY s_name
"""

#: TPC-H-style Q13 shape: filter inside the OUTER JOIN's ON clause
#: (customers keep their zero-order row), then a second aggregation
#: over the first's results -- the double-agg distribution query. Both
#: aggs are partial->final; the second one's key (a count) is tiny.
CUSTOMER_ORDER_DISTRIBUTION = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey) cc
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

#: TPC-H-style Q15 shape: aggregate reused twice -- once as the join
#: input, once inside an uncorrelated MAX scalar subquery gating the
#: rows. The revenue CTE is DECIMAL-exact cast to double, so the
#: equality against its own max is bit-identical cross-engine.
TOP_REVENUE_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""

#: TPC-H-style Q11 shape: group HAVING compared against a global
#: uncorrelated scalar aggregate (share-of-total cut). One grouped agg
#: + one full-scan agg, both partial->final; the scalar broadcasts.
IMPORTANT_PART_VALUE = """
SELECT l_partkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       > 0.0008 * (SELECT CAST(sum(CAST(l2.l_extendedprice AS DECIMAL(18,2)))
                               AS DOUBLE)
                   FROM lineitem l2)
ORDER BY part_value DESC
"""

#: TPC-H-style Q7 shape: two roles of the same dimension (nation
#: joined once through supplier, once through customer) with a
#: symmetric pair predicate, grouped by year. The nation dim
#: broadcasts twice; the three fact-side joins shuffle on their keys.
CROSS_NATION_VOLUME = """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue, count(*) AS n_items
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2))
                  - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

#: TPC-H-style Q8 shape: market share -- a conditional aggregate over
#: the same rows as the unconditional one, emitted as their ratio.
#: Both sums are DECIMAL-exact before the single double division, so
#: the ratio is bit-identical cross-engine.
NATION_MARKET_SHARE = """
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum(volume) AS DOUBLE) AS mkt_share
FROM (SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2))
                  - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
             n1.n_name AS supp_nation
      FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey) nations
GROUP BY o_year
ORDER BY o_year
"""

#: TPC-H-style Q9 shape: product profit by nation and year (the
#: fixture has no partsupp/supplycost, so retail price x quantity
#: stands in as cost). LIKE-filtered part dim joined into a 4-way
#: fact chain; all money stays DECIMAL until the final cast.
NATION_PRODUCT_PROFIT = """
SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
FROM (SELECT n.n_name AS nation,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2))
                  - CAST(l.l_discount AS DECIMAL(18,2)))
               - CAST(p.p_retailprice AS DECIMAL(18,2))
                 * CAST(l.l_quantity AS DECIMAL(18,2)) AS amount
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%plate%') profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


#: Quarter-over-quarter revenue growth: the canonical BI trend query
#: (time-bucketed money aggregate + lag window over the QUARTER
#: table, which is bounded by the calendar, never the data). Money
#: sums ride DECIMAL(18,2) so both engines fold order-independently,
#: and the percentage rounds via EXACT integer-cents arithmetic
#: (half-up away from zero), never round(double, 2) -- the .xx5
#: boundary splits half-up/half-even across engines (the
#: interval_gaps micros discipline). Integer division is spelled
#: ``(a - mod(a, b)) / b`` because neither ``div`` (Spark) nor ``//``
#: (DuckDB) parses in the other dialect; the subtraction makes the
#: quotient exactly divisible, so the double division is exact below
#: 2^53 (headroom: |quarterly delta| < ~$46e12 in cents x 20000).
QOQ_GROWTH = """
WITH q AS (
  SELECT date_trunc('quarter', CAST(o_orderdate AS TIMESTAMP)) AS qtr,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_c,
         count(*) AS n_orders
  FROM orders GROUP BY 1),
d AS (
  SELECT qtr, rev_c, n_orders,
         (rev_c - lag(rev_c) OVER (ORDER BY qtr)) * 10000 AS nm,
         lag(rev_c) OVER (ORDER BY qtr) AS prev_c
  FROM q)
SELECT qtr, CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
       n_orders,
       CAST(sign(nm)
            * ((2 * abs(nm) + prev_c
                - mod(2 * abs(nm) + prev_c, 2 * prev_c))
               / (2 * prev_c)) AS DOUBLE)
         / CAST(100 AS DOUBLE) AS qoq_pct
FROM d
"""


#: Year-over-year revenue growth -- QOQ_GROWTH's calendar-year
#: sibling, same exact-integer-cents growth arithmetic (mod-based
#: half-up division: neither `div` nor `//` parses in both dialects).
YOY_GROWTH = """
WITH y AS (
  SELECT date_trunc('year', CAST(o_orderdate AS TIMESTAMP)) AS yr,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_c,
         count(*) AS n_orders
  FROM orders GROUP BY 1),
d AS (
  SELECT yr, rev_c, n_orders,
         (rev_c - lag(rev_c) OVER (ORDER BY yr)) * 10000 AS nm,
         lag(rev_c) OVER (ORDER BY yr) AS prev_c
  FROM y)
SELECT yr, CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
       n_orders,
       CAST(sign(nm)
            * ((2 * abs(nm) + prev_c
                - mod(2 * abs(nm) + prev_c, 2 * prev_c))
               / (2 * prev_c)) AS DOUBLE)
         / CAST(100 AS DOUBLE) AS yoy_pct
FROM d
"""


#: Demand profile by discount band: does a deeper discount move
#: quantity? All aggregates exact (integer quantities, DECIMAL cent
#: sums); the per-band mean is one integer-ratio double.
DISCOUNT_ELASTICITY = """
SELECT CAST(round(l_discount * 100) AS INTEGER) AS disc_band,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
             / count(*), 4) AS avg_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) AS DOUBLE)
         / CAST(100 AS DOUBLE) AS revenue
FROM lineitem
GROUP BY 1
"""


#: Customer account-balance deciles: ntile over the (balance,
#: custkey) total order is deterministic in both dialects; balances
#: aggregate as exact integer cents.
CUSTOMER_BALANCE_DECILES = """
WITH b AS (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
         ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
  FROM customer)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(min(bal_c) AS DOUBLE) / CAST(100 AS DOUBLE) AS min_bal,
       CAST(max(bal_c) AS DOUBLE) / CAST(100 AS DOUBLE) AS max_bal,
       CAST(sum(bal_c) AS DOUBLE) / CAST(100 AS DOUBLE) AS sum_bal
FROM b GROUP BY decile
"""


#: Revenue by part type: the catalog-mix report (no partsupp table
#: in the fixture, so margin is out of scope -- volume and revenue
#: per type are in). DECIMAL cent sums, integer quantities.
PARTS_TYPE_REVENUE = """
SELECT p.p_type,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
         AS total_qty,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) AS DOUBLE)
         / CAST(100 AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY p.p_type
"""


#: Per-nation trade balance: exports (this nation's suppliers selling
#: to foreign customers) minus imports (its customers buying from
#: foreign suppliers), domestic flows excluded. One flows
#: aggregation, then a two-sided UNION ALL unpivot so each nation
#: rolls up without an OR-join against the nation dimension; DECIMAL
#: arithmetic kept in exact 1e-4-dollar integer units end to end (the
#: scale-4 product sum times 10000 is an INTEGER, so the BIGINT cast
#: never rounds -- Spark truncates decimal->bigint where DuckDB
#: rounds), one /10000 double at the end.
NATION_TRADE_BALANCE = """
WITH flows AS (
  SELECT s.s_nationkey AS supp_n, c.c_nationkey AS cust_n,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l.l_discount AS DECIMAL(18,2)))) * 10000
              AS BIGINT) AS rev_c4
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE s.s_nationkey <> c.c_nationkey
  GROUP BY s.s_nationkey, c.c_nationkey),
sides AS (
  SELECT supp_n AS nk, rev_c4 AS exp_c4, CAST(0 AS BIGINT) AS imp_c4
  FROM flows
  UNION ALL
  SELECT cust_n, CAST(0 AS BIGINT), rev_c4 FROM flows)
SELECT n.n_name AS nation,
       CAST(sum(exp_c4) AS BIGINT) AS export_c4,
       CAST(sum(imp_c4) AS BIGINT) AS import_c4,
       CAST(CAST(sum(exp_c4) AS BIGINT)
            - CAST(sum(imp_c4) AS BIGINT) AS DOUBLE)
         / CAST(10000 AS DOUBLE) AS trade_balance
FROM sides JOIN nation n ON n.n_nationkey = sides.nk
GROUP BY n.n_name
"""


#: Top-3 customers by lifetime revenue within each nation -- the
#: windowed-SQL intake shape (rank inside a dimension partition,
#: deterministic (revenue DESC, name) tie order). Revenue kept in
#: exact 1e-4-dollar integer units until the final /10000 double
#: (same truncate-vs-round rationale as NATION_TRADE_BALANCE).
NATION_TOP_CUSTOMERS = """
WITH rev AS (
  SELECT c.c_nationkey AS nk, c.c_name,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l.l_discount AS DECIMAL(18,2)))) * 10000
              AS BIGINT) AS rev_c4
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY c.c_nationkey, c.c_name),
rk AS (
  SELECT nk, c_name, rev_c4,
         row_number() OVER (
           PARTITION BY nk ORDER BY rev_c4 DESC, c_name) AS rn
  FROM rev)
SELECT n.n_name AS nation, rk.c_name AS customer,
       CAST(rk.rev_c4 AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue,
       CAST(rn AS INTEGER) AS rank_in_nation
FROM rk JOIN nation n ON n.n_nationkey = rk.nk
WHERE rn <= 3
"""


#: Repeat-purchase rate per market segment: the loyalty read on the
#: one customer attribute (c_mktsegment) nothing else in the intake
#: uses. Repeat share rounds at INTEGER 1e-6 scale (the one rule
#: both engines share on .5 boundaries).
SEGMENT_REPEAT_RATE = """
WITH oc AS (
  SELECT c.c_mktsegment, c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, c.c_custkey),
seg AS (
  SELECT c_mktsegment,
         count(*) AS n_customers,
         sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS n_repeat,
         sum(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END) AS n_dormant
  FROM oc GROUP BY c_mktsegment)
SELECT c_mktsegment AS segment,
       CAST(n_customers AS BIGINT) AS n_customers,
       CAST(n_repeat AS BIGINT) AS n_repeat,
       CAST(n_dormant AS BIGINT) AS n_dormant,
       CAST(CAST(round(n_repeat * 1e6
                       / CAST(n_customers AS DOUBLE)) AS BIGINT)
            AS DOUBLE) / 1e6 AS repeat_share
FROM seg
"""


#: Top-3 part brands by revenue within each part type -- the
#: window-over-aggregate intake shape on the part dimension (rank
#: inside p_type, deterministic (revenue DESC, brand) tie order).
#: Revenue in exact 1e-4-dollar integer units until the final /10000
#: double (the NATION_TRADE_BALANCE truncate-vs-round rationale).
BRAND_TYPE_LEADERS = """
WITH rev AS (
  SELECT p.p_type, p.p_brand,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l.l_discount AS DECIMAL(18,2)))) * 10000
              AS BIGINT) AS rev_c4,
         CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_type, p.p_brand),
rk AS (
  SELECT p_type, p_brand, rev_c4, n_items,
         row_number() OVER (
           PARTITION BY p_type ORDER BY rev_c4 DESC, p_brand) AS rn
  FROM rev)
SELECT p_type, p_brand,
       CAST(rev_c4 AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue,
       n_items,
       CAST(rn AS INTEGER) AS rank_in_type
FROM rk
WHERE rn <= 3
"""


#: Month x order-priority demand mix -- conditional-share SQL over
#: the order book (which priorities dominate intake, month by
#: month). Shares round at INTEGER 1e-6 scale (the one rule both
#: engines agree on at .5 boundaries).
PRIORITY_MIX_MONTHLY = """
WITH m AS (
  SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
         o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2),
t AS (
  SELECT month, CAST(sum(n_orders) AS BIGINT) AS n_month FROM m GROUP BY month)
SELECT m.month, m.o_orderpriority AS priority, m.n_orders,
       CAST(CAST(round(m.n_orders * 1e6
                       / CAST(t.n_month AS DOUBLE)) AS BIGINT)
            AS DOUBLE) / 1e6 AS month_share
FROM m JOIN t ON t.month = m.month
"""


#: Order-size histogram: how many orders carry n line items -- the
#: pure size distribution next to CUSTOMER_ORDER_DISTRIBUTION's
#: per-customer view (left join keeps zero-line orders honest).
ORDER_LINECOUNT_DISTRIBUTION = """
WITH lc AS (
  SELECT o.o_orderkey, count(l.l_orderkey) AS n_items
  FROM orders o
  LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey)
SELECT CAST(n_items AS BIGINT) AS n_items,
       CAST(count(*) AS BIGINT) AS n_orders
FROM lc GROUP BY n_items
"""


#: Supplier-concentration HHI per nation: how captive is each
#: nation's supply base (sum of squared revenue shares across its
#: suppliers). Shares square in DOUBLE off exact 1e-4-dollar integer
#: revenues, each term rounded to integer NANO units BEFORE the
#: per-nation fold (order-free exact sum), one /1e9 at the end.
SUPPLIER_HHI_BY_NATION = """
WITH rev AS (
  SELECT s.s_nationkey AS nk, l.l_suppkey,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l.l_discount AS DECIMAL(18,2)))) * 10000
              AS BIGINT) AS rev_c4
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey),
tot AS (
  SELECT nk, CAST(sum(rev_c4) AS BIGINT) AS tot_c4,
         CAST(count(*) AS BIGINT) AS n_suppliers
  FROM rev GROUP BY nk),
terms AS (
  SELECT r.nk, t.tot_c4, t.n_suppliers,
         CAST(round((CAST(r.rev_c4 AS DOUBLE) / CAST(t.tot_c4 AS DOUBLE))
                    * (CAST(r.rev_c4 AS DOUBLE) / CAST(t.tot_c4 AS DOUBLE))
                    * 1e9) AS BIGINT) AS hhi_nano
  FROM rev r JOIN tot t ON t.nk = r.nk)
SELECT n.n_name AS nation,
       CAST(max(n_suppliers) AS BIGINT) AS n_suppliers,
       CAST(max(tot_c4) AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue,
       round(CAST(sum(hhi_nano) AS BIGINT) / 1e9, 6) AS hhi
FROM terms JOIN nation n ON n.n_nationkey = terms.nk
GROUP BY n.n_name
"""


#: Yearly revenue share of each supplier NATION with its
#: year-over-year share delta -- the market-share trend view
#: (window-over-window SQL: share within year, then lag across
#: years). Revenue in exact 1e-4-dollar integers; shares round at
#: integer 1e-6 scale; the delta subtracts two already-rounded
#: shares so both engines subtract identical doubles.
SUPPLIER_SHARE_TREND = """
WITH rev AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS yr, s.s_nationkey AS nk,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l.l_discount AS DECIMAL(18,2)))) * 10000
              AS BIGINT) AS rev_c4
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY year(o.o_orderdate), s.s_nationkey),
sh AS (
  SELECT yr, nk, rev_c4,
         CAST(CAST(round(CAST(rev_c4 AS DOUBLE) * 1e6
                         / CAST(sum(rev_c4) OVER (PARTITION BY yr)
                                AS DOUBLE)) AS BIGINT) AS DOUBLE)
           / 1e6 AS share
  FROM rev)
SELECT n.n_name AS nation, yr,
       CAST(rev_c4 AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue,
       share,
       share - lag(share) OVER (PARTITION BY nk ORDER BY yr)
         AS share_delta
FROM sh JOIN nation n ON n.n_nationkey = sh.nk
"""


#: Customer order-value quartile-band migration between the 1995 and
#: 1997 calendar years: which value band a customer's spend fell in
#: each year, counted as a transition matrix (plus ENTER/EXIT bands
#: for customers active in only one year) -- the upgrade/downgrade
#: mix report. Bands cut at fixed dollar thresholds (quartile-free
#: by design: data-derived cut points would make the matrix drift
#: with scale factor); spend in exact DECIMAL cents.
VALUE_BAND_MIGRATION = """
WITH spend AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS yr,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS spend_c
  FROM orders
  WHERE year(o_orderdate) IN (1995, 1997)
  GROUP BY o_custkey, year(o_orderdate)),
banded AS (
  SELECT o_custkey, yr,
         CASE WHEN spend_c < 20000000 THEN 'low'
              WHEN spend_c < 50000000 THEN 'mid'
              WHEN spend_c < 100000000 THEN 'high'
              ELSE 'top' END AS band
  FROM spend),
mat AS (
  SELECT coalesce(a.band, 'ENTER') AS band_1995,
         coalesce(b.band, 'EXIT') AS band_1997
  FROM (SELECT o_custkey, band FROM banded WHERE yr = 1995) a
  FULL OUTER JOIN (SELECT o_custkey, band FROM banded WHERE yr = 1997) b
    ON a.o_custkey = b.o_custkey)
SELECT band_1995, band_1997, CAST(count(*) AS BIGINT) AS n_customers
FROM mat
GROUP BY band_1995, band_1997
"""


#: Parts with the largest revenue GROWTH from 1995 to 1996 -- the
#: momentum screen (top 10 by exact integer revenue delta, ties by
#: part key). Revenue in exact 1e-4-dollar integers; only parts
#: traded in BOTH years rank (an appearing/disappearing part is a
#: lifecycle event, not growth).
TOP_GROWTH_PARTS = """
WITH rev AS (
  SELECT l.l_partkey, CAST(year(o.o_orderdate) AS INT) AS yr,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l.l_discount AS DECIMAL(18,2)))) * 10000
              AS BIGINT) AS rev_c4
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE year(o.o_orderdate) IN (1995, 1996)
  GROUP BY l.l_partkey, year(o.o_orderdate)),
wide AS (
  SELECT a.l_partkey, a.rev_c4 AS rev_1995, b.rev_c4 AS rev_1996
  FROM (SELECT * FROM rev WHERE yr = 1995) a
  JOIN (SELECT * FROM rev WHERE yr = 1996) b
    ON a.l_partkey = b.l_partkey),
rk AS (
  SELECT p.p_name, w.l_partkey, w.rev_1995, w.rev_1996,
         w.rev_1996 - w.rev_1995 AS delta_c4,
         row_number() OVER (ORDER BY w.rev_1996 - w.rev_1995 DESC,
                            w.l_partkey) AS rn
  FROM wide w JOIN part p ON p.p_partkey = w.l_partkey)
SELECT p_name, CAST(l_partkey AS BIGINT) AS partkey,
       CAST(rev_1995 AS DOUBLE) / 1e4 AS rev_1995,
       CAST(rev_1996 AS DOUBLE) / 1e4 AS rev_1996,
       CAST(delta_c4 AS DOUBLE) / 1e4 AS revenue_growth,
       CAST(rn AS INTEGER) AS rank
FROM rk WHERE rn <= 10
"""
