"""Relational query pack — joins, aggregations, windows, set ops,
grouping sets, subqueries over the TPC-H-ish fixtures (SURVEY.md §2.3-2.7:
the reference has only key-lookup joins; everything here is the free
Spark-SQL capability surface, hash-checked against DuckDB).

Authoring style: ONE ANSI-SQL string executed by BOTH Spark SQL and the
DuckDB oracle (QuerySpec via ``shared_sql``) — zero drift by construction.
Events queries need dual fragments only for time handling (Spark reads the
parquet TIMESTAMP(NANOS) column as epoch-nanos long — see session.py —
while DuckDB reads TIMESTAMP_NS; both bucket via exact integer division).

Determinism rules for the value-hash gate:
- every float aggregate is round(x, 2..6);
- every LIMIT has a total deterministic ORDER BY tiebreak;
- ROLLUP/GROUPING-SETS nulls are COALESCEd to literals;
- extract()/row_number() results CAST to BIGINT (Spark int vs DuckDB
  bigint would otherwise differ in schema).

Scale notes (100 TB):
- dim tables (region/nation/supplier/part at TPC-H ratios) sit far under
  the broadcast threshold → Catalyst plans BroadcastHashJoin; the big
  fact-fact join (orders⋈lineitem) hash-shuffles on the join key and AQE
  handles skew/coalescing. Verified via .explain in tests/test_plans.py.
- aggregations are partial+final (map-side combine) automatically.
"""

from __future__ import annotations

from . import QuerySpec, shared_sql

# ---------------------------------------------------------------- TPC-H-ish

Q1_PRICING_SUMMARY = """
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2)                                       AS sum_qty,
       round(sum(l_extendedprice), 2)                                  AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                       AS avg_qty,
       round(avg(l_extendedprice), 4)                                  AS avg_price,
       round(avg(l_discount), 4)                                       AS avg_disc,
       count(*)                                                        AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""

Q3_SHIPPING_PRIORITY = """
SELECT o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(extract(year FROM o.o_orderdate) AS BIGINT)      AS order_year
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1998-01-01'
  AND l.l_shipdate  > DATE '1996-01-01'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""

Q5_LOCAL_SUPPLIER_VOLUME = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey   = c.c_custkey
JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
JOIN supplier s ON s.s_suppkey   = l.l_suppkey
                AND s.s_nationkey = c.c_nationkey
WHERE o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate <  DATE '1999-01-01'
GROUP BY n.n_name
"""

Q6_REVENUE_FORECAST = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*)                                    AS n_items
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01'
  AND l_shipdate <  DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

TOP_CUSTOMERS_PER_NATION = """
SELECT n_name, c_custkey, acctbal, rk
FROM (
  SELECT n.n_name,
         c.c_custkey,
         round(c.c_acctbal, 2) AS acctbal,
         CAST(row_number() OVER (PARTITION BY n.n_name
                                 ORDER BY c.c_acctbal DESC, c.c_custkey)
              AS BIGINT) AS rk
  FROM customer c
  JOIN nation n ON n.n_nationkey = c.c_nationkey
) t
WHERE rk <= 3
"""

ORDER_YEAR_ROLLUP = """
SELECT COALESCE(order_year, -1)      AS order_year,
       COALESCE(o_orderstatus, 'ALL') AS status,
       count(*)                                     AS n_orders,
       round(sum(o_totalprice), 2)                  AS total_price
FROM (
  SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
         o_orderstatus, o_totalprice
  FROM orders
) t
GROUP BY ROLLUP (order_year, o_orderstatus)
"""

LINEITEM_CUBE = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""

NATION_SET_OPS = """
SELECT n_name, 'both' AS tag FROM (
  SELECT n.n_name FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  INTERSECT
  SELECT n.n_name FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
) a
UNION ALL
SELECT n_name, 'customers_only' AS tag FROM (
  SELECT n.n_name FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  EXCEPT
  SELECT n.n_name FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
) b
"""

CUSTOMERS_WITHOUT_ORDERS = """
SELECT count(*) AS n_customers_no_orders
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

ABOVE_NATION_AVG_BALANCE = """
SELECT c.c_custkey, round(c.c_acctbal, 2) AS acctbal
FROM customer c
WHERE c.c_acctbal > (
  SELECT avg(c2.c_acctbal) FROM customer c2
  WHERE c2.c_nationkey = c.c_nationkey
)
"""

# avg over DECIMAL: a double sum's order decides a mean that sits on a
# rounding tie (sf0.01 Brand#4 is exactly 950.59375), so both engines
# average the cent-exact prices and round the exact mean half-up.
PART_SIZE_STATS = """
SELECT p_brand,
       count(DISTINCT p_type)     AS n_types,
       CAST(max(p_size) AS BIGINT) AS max_size,
       CAST(min(p_size) AS BIGINT) AS min_size,
       CAST(round(avg(CAST(p_retailprice AS DECIMAL(15, 2))), 4) AS DOUBLE) AS avg_price
FROM part
GROUP BY p_brand
"""

# NOTE: (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
# the ORDER BY must be total (up to fully-identical rows, whose relative
# order cannot affect lag/running outputs) or both engines are free to
# disagree on tie order.
LINEITEM_LAG_WINDOW = """
SELECT l_orderkey, l_linenumber, qty, prev_qty, running_qty
FROM (
  SELECT l_orderkey,
         CAST(l_linenumber AS BIGINT) AS l_linenumber,
         round(l_quantity, 2) AS qty,
         round(COALESCE(lag(l_quantity) OVER w, -1.0), 2) AS prev_qty,
         round(sum(l_quantity) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_quantity,
                                              l_extendedprice, l_partkey, l_suppkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW), 2) AS running_qty
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_quantity,
                        l_extendedprice, l_partkey, l_suppkey)
) t
WHERE l_orderkey <= 100
"""

Q4_ORDER_PRIORITY = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate <  DATE '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority
"""

Q7_VOLUME_BY_NATION_PAIR = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(extract(year FROM l.l_shipdate) AS BIGINT) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
  WHERE n1.n_nationkey < 3 AND n2.n_nationkey < 3
    AND n1.n_nationkey <> n2.n_nationkey
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""

Q12_SHIPMODE_CASE = """
SELECT CAST(extract(year FROM l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= DATE '1996-01-01'
  AND l_shipdate <  DATE '1999-01-01'
GROUP BY 1
"""

Q14_PROMO_SHARE = """
SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= DATE '1997-01-01'
  AND l_shipdate <  DATE '1998-01-01'
"""

Q18_LARGE_ORDERS = """
SELECT o.o_orderkey, round(o.o_totalprice, 2) AS total_price,
       round(t.sum_qty, 2) AS sum_qty
FROM orders o
JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150) t
  ON t.l_orderkey = o.o_orderkey
"""

# The positive-balance average via a conditional window aggregate over
# the SAME customer scan (avg ignores the CASE's NULLs) instead of a
# scalar subquery — Spark would otherwise scan customer twice; the
# NOT EXISTS anti-join against orders is unchanged.
Q22_IDLE_CUSTOMERS = """
SELECT seg, count(*) AS n_custs, round(sum(acctbal), 2) AS total_bal
FROM (
  SELECT substring(c_name, 1, 9) AS seg, c_acctbal AS acctbal, c_custkey,
         avg(CASE WHEN c_acctbal > 0 THEN c_acctbal END) OVER () AS avg_pos
  FROM customer
) c
WHERE acctbal > avg_pos
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY seg
"""

# ---------------------------------------------------- TPC-H suite completion
# The fixture schema is TPC-H-ish but slimmer than the spec: no partsupp
# table, no l_commitdate/l_receiptdate, no p_mfgr/p_container, no c_phone.
# Queries whose canonical form needs those columns are adapted to preserve
# the SHAPE that makes each query interesting (the operator composition the
# planner must handle), swapping only the missing columns:
#   q2/q11/q16/q20 — partsupp is replaced by the (l_partkey, l_suppkey)
#     supply relation derived from lineitem;
#   q21 — "received late" becomes "shipped > 90 days after the order";
#   q9  — supply cost becomes a retail-price cost proxy;
#   q13 — the o_comment NOT LIKE filter becomes an o_orderpriority filter.
# Determinism: min()/max() are exact on doubles (no fp-order risk); the
# sum()-threshold comparisons (q11/q15/q20) tolerate fp reorder because
# group sums sit far from the thresholds at both checked SFs.

# Correlated per-part minimum via min() OVER (PARTITION BY p_partkey) on
# the joined relation instead of the textbook correlated subquery (Spark
# inlines the supply CTE → a second lineitem aggregation + 3 dim scans).
# The part-side filters don't affect the partition's supplier set (the
# partition IS one part), so the window equals the correlated min.
Q2_MIN_COST_SUPPLIER = """
WITH supply AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
),
eu AS (
  SELECT s.s_name, n.n_name, p.p_partkey, su.unit_cost,
         min(su.unit_cost) OVER (PARTITION BY p.p_partkey) AS min_cost
  FROM part p
  JOIN supply su  ON su.partkey    = p.p_partkey
  JOIN supplier s ON s.s_suppkey   = su.suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  JOIN region r   ON r.r_regionkey = n.n_regionkey
  WHERE p.p_size = 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
)
SELECT s_name, n_name, p_partkey, round(unit_cost, 4) AS unit_cost
FROM eu
WHERE unit_cost = min_cost
ORDER BY s_name, p_partkey
LIMIT 100
"""

Q8_MARKET_SHARE = """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_8' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM (
  SELECT CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON l.l_partkey   = p.p_partkey
  JOIN supplier s ON s.s_suppkey   = l.l_suppkey
  JOIN orders o   ON o.o_orderkey  = l.l_orderkey
  JOIN customer c ON c.c_custkey   = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey  = n1.n_regionkey
  JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= DATE '1996-01-01'
    AND o.o_orderdate <  DATE '1998-01-01'
) all_nations
GROUP BY o_year
"""

Q9_PRODUCT_PROFIT = """
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount)
           - 0.5 * p.p_retailprice * l.l_quantity AS amount
  FROM part p
  JOIN lineitem l ON l.l_partkey   = p.p_partkey
  JOIN supplier s ON s.s_suppkey   = l.l_suppkey
  JOIN orders o   ON o.o_orderkey  = l.l_orderkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
"""

Q10_RETURNED_ITEMS = """
SELECT c.c_custkey, c.c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       round(c.c_acctbal, 2) AS acctbal,
       n.n_name
FROM customer c
JOIN orders o   ON o.o_custkey   = c.c_custkey
JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= DATE '1996-10-01'
  AND o.o_orderdate <  DATE '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

# Threshold via sum() OVER () on the aggregated relation instead of the
# textbook scalar subquery (which Spark inlines into a SECOND
# lineitem+supplier+nation scan): the grand total is the sum of the
# per-partkey sums, so one scan feeds both sides of the comparison.
Q11_IMPORTANT_STOCK = """
WITH agg AS (
  SELECT l.l_partkey AS partkey,
         sum(l.l_extendedprice * l.l_quantity) AS raw_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey   = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
)
SELECT partkey, round(raw_value, 2) AS value
FROM (SELECT partkey, raw_value, sum(raw_value) OVER () AS total FROM agg)
WHERE raw_value > total * 0.001
"""

Q13_ORDER_COUNT_DIST = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                     AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
"""

# Q15 argmax via a window over the aggregated revenue relation instead of
# the textbook scalar subquery: Spark inlines CTEs, so `(SELECT
# max(total_revenue) FROM revenue)` would scan + re-aggregate lineitem a
# second time. max() OVER () runs on the already-aggregated per-supplier
# rows (|suppliers|, tiny) — lineitem is scanned exactly once. Same rows
# in both engines.
Q15_TOP_SUPPLIER = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01'
    AND l_shipdate <  DATE '1996-04-01'
  GROUP BY l_suppkey
),
ranked AS (
  SELECT supplier_no, total_revenue,
         max(total_revenue) OVER () AS max_revenue
  FROM revenue
)
SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 2) AS total_revenue
FROM supplier s
JOIN ranked r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = r.max_revenue
ORDER BY s_suppkey
"""

Q16_SUPPLIER_CNT = """
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""

# Per-part threshold via avg() OVER (PARTITION BY l_partkey) instead of
# the correlated subquery (Spark decorrelates it into a second full
# lineitem scan + join). Brand is a property of the part, so windowing
# over the brand-filtered join sees exactly each part's lineitems.
Q17_SMALL_QTY_REVENUE = """
SELECT round(COALESCE(sum(l_extendedprice), 0.0) / 7.0, 2) AS avg_yearly,
       count(*) AS n_lines
FROM (
  SELECT l.l_extendedprice, l.l_quantity,
         avg(l.l_quantity) OVER (PARTITION BY l.l_partkey) AS avg_qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#23'
) t
WHERE l_quantity < 0.2 * avg_qty
"""

Q19_DISJUNCTIVE_PREDICATES = """
SELECT round(COALESCE(sum(l.l_extendedprice * (1 - l.l_discount)), 0.0), 2)
         AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 30
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
"""

# Per-part total via sum() OVER (PARTITION BY l_partkey) on the red-part
# rows instead of a separate part_totals CTE (Spark inlines the CTE into
# a second full lineitem scan). The date filter moves into a CASE inside
# the grouped sum so the window total still covers ALL of a part's rows.
Q20_EXCESS_SUPPLY = """
WITH x AS (
  SELECT l_partkey, l_suppkey, l_quantity,
         (l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01')
           AS in_win,
         sum(l_quantity) OVER (PARTITION BY l_partkey) AS total_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l_suppkey FROM x
  GROUP BY l_suppkey, l_partkey, total_qty
  HAVING sum(CASE WHEN in_win THEN l_quantity ELSE 0 END) > 0.1 * total_qty)
ORDER BY s_suppkey
"""

# EXISTS / NOT EXISTS collapsed into ONE per-order aggregate (distinct
# suppliers, distinct LATE suppliers): 'another supplier exists' ⇔
# n_supp >= 2, 'no OTHER supplier late' ⇔ n_late_supp = 1 (the outer row
# is itself late). Three lineitem scans become two.
Q21_WAITING_SUPPLIERS = """
WITH o_agg AS (
  SELECT l.l_orderkey,
         count(DISTINCT l.l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                             THEN l.l_suppkey END) AS n_late_supp
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey
)
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey   = s.s_suppkey
JOIN orders o    ON o.o_orderkey   = l1.l_orderkey
JOIN nation n    ON n.n_nationkey  = s.s_nationkey
JOIN o_agg a     ON a.l_orderkey   = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND n.n_name = 'NATION_2'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND a.n_supp >= 2
  AND a.n_late_supp = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 25
"""

OUTER_JOIN_NULL_AGG = """
SELECT c.c_mktsegment,
       count(*) AS n_rows,
       count(o.o_orderkey) AS n_orders,
       round(COALESCE(avg(o.o_totalprice), -1.0), 2) AS avg_price_or_sentinel
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""

LIKE_NAME_FILTER = """
SELECT p_brand, count(*) AS n
FROM part
WHERE p_name LIKE '%widget%' AND p_type LIKE 'PROM%'
GROUP BY p_brand
"""

# ------------------------------------------------------------------- events
# Spark sees ts as epoch-nanos BIGINT; DuckDB sees TIMESTAMP_NS. Bucketing
# uses exact integer division on nanos in both engines (no float rounding).

_NS_PER_HOUR = 3_600_000_000_000


def _events_pair(body: str) -> QuerySpec:
    """body may contain {HOUR} (hour bucket, BIGINT), {JSONK} (props->'k'
    as BIGINT) and {TS} (epoch-nanos BIGINT) placeholders; rendered per
    engine."""
    # {TS} is µs in BOTH engines: DuckDB reads the ns-parquet column as a
    # µs TIMESTAMP (epoch_ns returns µs*1000), so ns-side values must be
    # truncated to µs for parity
    spark_sql = body.format(
        HOUR=f"(ts div {_NS_PER_HOUR})",
        JSONK="CAST(get_json_object(props, '$.k') AS BIGINT)",
        TS="(ts div 1000)",
    )
    duck_sql = body.format(
        HOUR=f"(epoch_ns(ts) // {_NS_PER_HOUR})",
        JSONK="CAST(json_extract_string(props, '$.k') AS BIGINT)",
        TS="(epoch_ns(ts) // 1000)",
    )
    return shared_sql(spark_sql, "events (dual time fragments)", duck=duck_sql)


EVENTS_HOURLY = """
SELECT {HOUR}      AS hour_bucket,
       event_type,
       count(*)    AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""

EVENTS_JSON_PROPS = """
SELECT ({JSONK} % 10) AS k_mod,
       count(*)       AS n,
       count(DISTINCT user_id) AS n_users
FROM events
WHERE {JSONK} IS NOT NULL
GROUP BY 1
"""

# SCD2 dimension build (the warehouse slowly-changing-dimension type-2
# shape): collapse each user's event stream into validity intervals per
# consecutive event_type run. Islands come from a lag-change flag +
# running sum — every window partitions on user_id only (ONE Exchange
# carries all three window passes; the row_number-difference formulation
# would add a second partitioning on (user_id, event_type)). valid_to of
# the current segment renders as -1 (the open interval), is_current as
# 0/1 BIGINT so both engines hash identically.
EVENTS_USER_SEGMENTS_SCD2 = """
WITH flagged AS (
  SELECT user_id, event_type, {TS} AS ts_us, event_id,
         CASE WHEN lag(event_type)
                     OVER (PARTITION BY user_id ORDER BY {TS}, event_id)
                   IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
),
islands AS (
  SELECT user_id, event_type, ts_us,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
),
seg AS (
  SELECT user_id, event_type AS segment, island,
         min(ts_us) AS valid_from_us, count(*) AS n_events
  FROM islands GROUP BY user_id, event_type, island
)
SELECT user_id, segment, valid_from_us,
       COALESCE(lead(valid_from_us)
                  OVER (PARTITION BY user_id ORDER BY valid_from_us),
                -1) AS valid_to_us,
       CAST(CASE WHEN lead(valid_from_us)
                        OVER (PARTITION BY user_id ORDER BY valid_from_us)
                      IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS is_current,
       n_events
FROM seg
"""

# As-of join (operator Spark lacks natively — SURVEY.md §4 'custom
# operators'): for each click, the most recent STRICTLY PRIOR purchase by
# the same user, composed as a frame-bounded window max (no per-row
# subquery, one shuffle on user_id; at scale this beats a range-condition
# join because the frame never materializes pair candidates).
EVENTS_ASOF_LAST_PURCHASE = """
SELECT event_id, user_id, ts_us,
       COALESCE(last_purchase_us, -1) AS last_purchase_us
FROM (
  SELECT event_id, user_id, event_type, {TS} AS ts_us,
         max(CASE WHEN event_type = 'purchase' THEN {TS} END)
           OVER (PARTITION BY user_id ORDER BY {TS}, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_purchase_us
  FROM events
) t
WHERE event_type = 'click'
"""

# Range join: band predicate against a tiny inline dimension — Catalyst
# plans BroadcastNestedLoopJoin (broadcast side = 4 rows, fine); at scale
# a bucketing key turns it into an equi-join.
RANGE_JOIN_VALUE_BANDS = """
SELECT r.band, count(*) AS n_events, round(sum(e.value), 2) AS total_value
FROM events e
JOIN (SELECT * FROM VALUES (0.0, 50.0, 'low'), (50.0, 100.0, 'mid'),
                           (100.0, 150.0, 'high'), (150.0, 1e9, 'top')
      AS v(lo, hi, band)) r
  ON e.value >= r.lo AND e.value < r.hi
GROUP BY r.band
"""

# Sequential funnel (view → click → purchase, strictly later stage
# times) via three stacked windows over ONE user_id partitioning — the
# stage thresholds chain (t2 needs t1), but every window shares the same
# partition key, so Catalyst plans a single shuffle for all three.
EVENTS_FUNNEL_STAGES = """
WITH e1 AS (
  SELECT user_id, event_type, ts_us,
         min(CASE WHEN event_type = 'view' THEN ts_us END)
           OVER (PARTITION BY user_id) AS t1
  FROM (SELECT user_id, event_type, {TS} AS ts_us FROM events) base
),
e2 AS (
  SELECT user_id, event_type, ts_us, t1,
         min(CASE WHEN event_type = 'click' AND ts_us > t1 THEN ts_us END)
           OVER (PARTITION BY user_id) AS t2
  FROM e1
),
e3 AS (
  SELECT user_id, t1, t2,
         min(CASE WHEN event_type = 'purchase' AND ts_us > t2 THEN ts_us END)
           OVER (PARTITION BY user_id) AS t3
  FROM e2
),
u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      FROM e3 GROUP BY user_id)
SELECT CASE WHEN t3 IS NOT NULL THEN 'purchase'
            WHEN t2 IS NOT NULL THEN 'click'
            WHEN t1 IS NOT NULL THEN 'view'
            ELSE 'none' END AS deepest_stage,
       count(*) AS n_users
FROM u GROUP BY 1
"""

EVENTS_USER_ACTIVITY = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       CAST(max({HOUR}) - min({HOUR}) AS BIGINT) AS active_hour_span
FROM events
GROUP BY user_id
HAVING count(*) >= 2
"""


# Exact percentiles: Spark `percentile` and DuckDB `quantile_cont` use the
# same linear interpolation — verified value-identical at 4 decimals. (The
# approx_percentile/HLL family is deliberately NOT oracled: approximate
# answers differ by construction; the portable-sketch queries cover that
# ground with exactly-reproducible md5-salted formulations.)
_PCTL_BODY = """
SELECT event_type,
       round({P}(value, 0.5), 4)  AS p50,
       round({P}(value, 0.9), 4)  AS p90,
       round({P}(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
"""

# Robust per-type outlier profile: median + MAD (median absolute
# deviation) + 3-MAD outlier count — the heavy-tail-safe anomaly gate
# (mean/stddev z-scores melt under the very outliers they hunt; the
# median/MAD pair does not). Single-shuffle shape: both exact medians
# run as window aggregates over the SAME event_type partitioning (one
# Exchange, sort reused by the second Window) and the final per-type
# rollup preserves that partitioning. The only cross-engine-fragile
# quantities (the two interpolated medians) are rounded to 4 dp BEFORE
# any downstream arithmetic, so the 3-MAD comparison runs on
# bit-identical doubles in both engines (the int8_quantize half-up
# discipline applied to thresholds). Exact percentile buffers each
# partition's values — at 100 TB swap {P}=approx_percentile for
# sketch-sized state on the identical plan.
_MAD_BODY = """
WITH s AS (
  SELECT event_type, value,
         round({P}(value, 0.5) OVER (PARTITION BY event_type), 4) AS med
  FROM events
),
m AS (
  SELECT event_type, med, abs(value - med) AS dev,
         round({P}(abs(value - med), 0.5)
               OVER (PARTITION BY event_type), 4) AS mad
  FROM s
)
SELECT event_type, min(med) AS med, min(mad) AS mad,
       count(*) AS n_events,
       CAST(sum(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM m GROUP BY event_type
"""


# GROUPING SETS — the general form behind ROLLUP/CUBE (both already
# covered): sliced single-dimension marginals + grand total in ONE pass
# over orders (Spark Expand + single aggregate; a UNION ALL of three
# GROUP BYs would scan the fact table three times).
ORDERS_GROUPING_SETS = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL')   AS status,
       count(*)                         AS n_orders,
       round(sum(o_totalprice), 2)      AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


# Spark 4 VARIANT path for semi-structured props: parse the JSON ONCE
# into the binary-encoded VARIANT, then every extraction is a cheap
# typed variant_get — the engine-native replacement for repeated
# get_json_object string re-parses. DuckDB oracle re-parses per
# extraction (its JSON type); values are identical.
_EVENTS_VARIANT_SPARK = """
SELECT event_type,
       count(*) AS n,
       CAST(min(variant_get(v, '$.k', 'bigint')) AS BIGINT) AS min_k,
       CAST(max(variant_get(v, '$.k', 'bigint')) AS BIGINT) AS max_k,
       CAST(sum(variant_get(v, '$.k', 'bigint')) AS BIGINT) AS sum_k
FROM (SELECT event_type, parse_json(props) AS v FROM events)
GROUP BY event_type
"""

_EVENTS_VARIANT_DUCK = """
SELECT event_type,
       count(*) AS n,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
"""


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


# EWMA — the order-SENSITIVE sequential fold (smoothed per-user value):
# ewma_0 = v_0; ewma_i = (1-ALPHA)*ewma_{i-1} + ALPHA*v_i over the
# time-ordered event stream. Not expressible as a commutative aggregate;
# here it runs as a higher-order-function fold over the per-user value
# list (ONE shuffle, state bounded by a user's history — the batch twin
# of the applyInPandasWithState streaming operator). Both engines fold
# left-to-right over the identical (ts, event_id)-sorted list, so the
# IEEE-double sequence is bit-identical; 4dp rounding is belt-and-braces.
EWMA_ALPHA = 0.2


def _events_ewma(spark: SparkSession, sf_dir: str) -> "DataFrame":
    from pyspark.sql import functions as F

    from ..sources.tables import table

    ev = table(spark, sf_dir, "events")
    vals = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
        ),
        lambda s: s["value"],
    )
    g = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), vals.alias("vals")
    )
    ew = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1).cast("double"),
        lambda acc, v: acc * (1.0 - EWMA_ALPHA) + v * EWMA_ALPHA,
    )
    return g.select("user_id", "n_events", F.round(ew, 4).alias("ewma"))


# DuckDB list_reduce seeds with the first element — same init as the
# Spark slice-from-2 + element_at(1) formulation
_DUCK_EWMA = f"""
SELECT user_id, count(*) AS n_events,
       round(list_reduce(list(value ORDER BY ts, event_id),
             (acc, v) -> acc * {1.0 - EWMA_ALPHA} + v * {EWMA_ALPHA}), 4) AS ewma
FROM events GROUP BY user_id
"""


def _events_pivot(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """groupBy().pivot() — the DataFrame-API-only reshape (no SQL
    equivalent in Spark without hand-written CASE columns). Explicit pivot
    values keep the plan single-pass (no distinct-scan to discover
    columns) and the output schema stable for the driver."""
    from ..sources.tables import table

    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .count()
        .na.fill(0, _PIVOT_TYPES)
    )


# FILTER'd count(*) stays BIGINT in DuckDB (sum(CASE...) would widen to
# HUGEINT and fail the type-sensitive value hash)
_DUCK_PIVOT = "SELECT user_id, " + ", ".join(
    f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _PIVOT_TYPES
) + " FROM events GROUP BY user_id"


def _events_unpivot(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """unpivot()/melt — the wide→long inverse of the pivot reshape.
    Roundtrip contract: unpivot(pivot(events)) with the zero-fill rows
    dropped equals the direct (user_id, event_type) count — asserted by
    the oracle computing the long form straight from events. Plan: the
    melt is a narrow per-row explode of the wide columns; the only
    shuffle is the pivot's own groupBy."""
    wide = _events_pivot(spark, sf_dir)
    from pyspark.sql import functions as F

    return (
        wide.unpivot(
            ["user_id"], _PIVOT_TYPES, "event_type", "n"
        )
        .filter(F.col("n") > 0)
        .select("user_id", "event_type", "n")
    )


_DUCK_UNPIVOT = (
    "SELECT user_id, event_type, count(*) AS n "
    "FROM events GROUP BY user_id, event_type"
)


def _user_zscores(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """Default plan: the JVM-side window formulation."""
    from ..operators.grouped import user_value_zscores_window
    from ..sources.tables import table

    return user_value_zscores_window(table(spark, sf_dir, "events"))


def _user_zscores_grouped(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """The applyInPandas grouped-map twin — kept as the §2.10 grouped-map
    API exerciser (for kernels NOT expressible in SQL); same oracle."""
    from ..operators.grouped import user_value_zscores
    from ..sources.tables import table

    return user_value_zscores(table(spark, sf_dir, "events"))


def _duck_user_zscores() -> str:
    from ..operators.grouped import DUCK_USER_ZSCORES

    return DUCK_USER_ZSCORES


def _value_gmean(spark: SparkSession, sf_dir: str) -> "DataFrame":
    from ..operators.grouped import value_gmean_by_type
    from ..sources.tables import table

    return value_gmean_by_type(table(spark, sf_dir, "events"))


def _duck_value_gmean() -> str:
    from ..operators.grouped import DUCK_VALUE_GMEAN

    return DUCK_VALUE_GMEAN


QUERIES: dict[str, QuerySpec] = {
    "events_user_zscores": QuerySpec(
        fn=_user_zscores,
        oracle=_duck_user_zscores(),
        note="window-function z-scores (default plan) vs SQL window oracle",
    ),
    "events_user_zscores_grouped": QuerySpec(
        fn=_user_zscores_grouped,
        oracle=_duck_user_zscores(),
        note="applyInPandas grouped-map twin (§2.10 API exerciser)",
    ),
    "events_props_variant": shared_sql(
        _EVENTS_VARIANT_SPARK,
        "Spark 4 VARIANT semi-structured path: parse_json once, "
        "typed variant_get extractions, vs DuckDB JSON oracle",
        duck=_EVENTS_VARIANT_DUCK,
    ),
    "events_value_gmean_udaf": QuerySpec(
        fn=_value_gmean,
        oracle=_duck_value_gmean(),
        note="grouped-agg pandas UDF (the UDAF surface, §2.10): "
        "sorted-kernel geometric mean vs exp(avg(ln)) oracle",
    ),
    "tpch_q1_pricing_summary": shared_sql(Q1_PRICING_SUMMARY, "A-class agg parity"),
    "tpch_q3_shipping_priority": shared_sql(Q3_SHIPPING_PRIORITY, "3-way join + top-k"),
    "tpch_q5_local_supplier": shared_sql(Q5_LOCAL_SUPPLIER_VOLUME, "6-way join"),
    "tpch_q6_revenue_forecast": shared_sql(Q6_REVENUE_FORECAST, "scan + scalar agg"),
    "window_top_customers_per_nation": shared_sql(TOP_CUSTOMERS_PER_NATION, "ranking window"),
    "rollup_orders_by_year_status": shared_sql(ORDER_YEAR_ROLLUP, "ROLLUP grouping sets"),
    "cube_lineitem_flags": shared_sql(LINEITEM_CUBE, "CUBE grouping sets"),
    "setops_nation_coverage": shared_sql(NATION_SET_OPS, "INTERSECT/EXCEPT"),
    "anti_customers_without_orders": shared_sql(CUSTOMERS_WITHOUT_ORDERS, "anti join via NOT EXISTS"),
    "correlated_above_nation_avg": shared_sql(ABOVE_NATION_AVG_BALANCE, "correlated scalar subquery"),
    "part_brand_stats": shared_sql(PART_SIZE_STATS, "count distinct + min/max"),
    "window_lineitem_lag_running": shared_sql(LINEITEM_LAG_WINDOW, "lag + running sum frames"),
    "tpch_q4_order_priority": shared_sql(Q4_ORDER_PRIORITY, "EXISTS semi-join"),
    "tpch_q7_nation_volume": shared_sql(Q7_VOLUME_BY_NATION_PAIR, "self-join on nation, theta filter"),
    "tpch_q12_shipmode_case": shared_sql(Q12_SHIPMODE_CASE, "conditional aggregation"),
    "tpch_q14_promo_share": shared_sql(Q14_PROMO_SHARE, "ratio-of-sums scalar"),
    "tpch_q18_large_orders": shared_sql(Q18_LARGE_ORDERS, "HAVING-filtered derived join"),
    "tpch_q22_idle_customers": shared_sql(Q22_IDLE_CUSTOMERS, "anti join + scalar subquery"),
    "tpch_q2_min_cost_supplier": shared_sql(
        Q2_MIN_COST_SUPPLIER, "correlated min over derived supply relation"
    ),
    "tpch_q8_market_share": shared_sql(Q8_MARKET_SHARE, "8-way join, conditional share"),
    "tpch_q9_product_profit": shared_sql(Q9_PRODUCT_PROFIT, "5-way join, computed profit"),
    "tpch_q10_returned_items": shared_sql(Q10_RETURNED_ITEMS, "4-way join + top-k revenue"),
    "tpch_q11_important_stock": shared_sql(
        Q11_IMPORTANT_STOCK, "HAVING vs scalar-subquery fraction"
    ),
    "tpch_q13_order_count_dist": shared_sql(
        Q13_ORDER_COUNT_DIST, "left join + double aggregation histogram"
    ),
    "tpch_q15_top_supplier": shared_sql(Q15_TOP_SUPPLIER, "CTE reuse + argmax via scalar subquery"),
    "tpch_q16_supplier_cnt": shared_sql(
        Q16_SUPPLIER_CNT, "count distinct + NOT IN subquery exclusion"
    ),
    "tpch_q17_small_qty_revenue": shared_sql(
        Q17_SMALL_QTY_REVENUE, "correlated avg threshold per part"
    ),
    "tpch_q19_disjunctive_pred": shared_sql(
        Q19_DISJUNCTIVE_PREDICATES, "OR-of-conjunctions join predicate"
    ),
    "tpch_q20_excess_supply": shared_sql(
        Q20_EXCESS_SUPPLY, "nested IN chain + correlated-share HAVING"
    ),
    "tpch_q21_waiting_suppliers": shared_sql(
        Q21_WAITING_SUPPLIERS, "EXISTS + NOT EXISTS self-join on the fact table"
    ),
    "outer_join_null_agg": shared_sql(OUTER_JOIN_NULL_AGG, "left join null-aware aggregates"),
    "like_name_filter": shared_sql(LIKE_NAME_FILTER, "LIKE pushdown"),
    "events_asof_last_purchase": _events_pair(EVENTS_ASOF_LAST_PURCHASE),
    "events_user_segments_scd2": _events_pair(EVENTS_USER_SEGMENTS_SCD2),
    "range_join_value_bands": shared_sql(RANGE_JOIN_VALUE_BANDS, "band/range join"),
    "events_value_percentiles": shared_sql(
        _PCTL_BODY.format(P="percentile"),
        "exact interpolated percentiles (percentile vs quantile_cont)",
        duck=_PCTL_BODY.format(P="quantile_cont"),
    ),
    "events_user_ewma": QuerySpec(
        fn=_events_ewma,
        oracle=_DUCK_EWMA,
        note="order-sensitive EWMA fold per user (higher-order-function "
        "reduce over the time-sorted value list; batch twin of the "
        "stateful-streaming operator)",
    ),
    "events_value_mad_outliers": shared_sql(
        _MAD_BODY.format(P="percentile"),
        "median/MAD robust outlier profile, single-shuffle window "
        "formulation, thresholds rounded before comparison",
        duck=_MAD_BODY.format(P="quantile_cont"),
    ),
    "grouping_sets_orders": shared_sql(
        ORDERS_GROUPING_SETS, "GROUPING SETS single-pass marginals"
    ),
    "events_type_pivot": QuerySpec(
        fn=_events_pivot,
        oracle=_DUCK_PIVOT,
        note="DataFrame pivot() reshape vs FILTER'd-count oracle",
    ),
    "events_type_unpivot": QuerySpec(
        fn=_events_unpivot,
        oracle=_DUCK_UNPIVOT,
        note="unpivot()/melt wide-to-long inverse; roundtrip equals the "
        "direct (user_id, event_type) count",
    ),
    "events_hourly": _events_pair(EVENTS_HOURLY),
    "events_json_props": _events_pair(EVENTS_JSON_PROPS),
    "events_user_activity": _events_pair(EVENTS_USER_ACTIVITY),
    "events_funnel_stages": _events_pair(EVENTS_FUNNEL_STAGES),
}
