"""SQL text surface: analytical queries served as plain SQL over the
registered views (the interface the reference delegates to BigQuery/Tableau,
SURVEY.md §3 — here ``spark.sql`` IS the warehouse).

Every statement is written in the dialect subset Spark SQL and DuckDB share,
so the same text runs on both engines verbatim — the strongest possible
oracle (zero translation step to hide a semantics bug). Floating-point
aggregates use the fixed-point interior (functions/deterministic.py) inline;
COUNT/SUM-of-int results are cast to BIGINT because DuckDB widens to HUGEINT
where Spark stays at long.
"""

from __future__ import annotations

from fortune_500_financial_insights_pipeline_spark.functions.deterministic import sql_dsum as _dsum


REVENUE = _dsum("l_extendedprice * (1 - l_discount)")

SHARED_SQL: dict[str, str] = {
    # TPC-H Q3 shape: 3-way join, date-band filters on both sides, grouped
    # revenue, top-10. The o_orderkey group is high-cardinality — partial
    # aggregation + top-k keep the shuffle narrow.
    "q_sql_tpch_q3": f"""
SELECT o_orderkey, {REVENUE} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    # TPC-H Q5 shape: 6-way snowflake join (fact + 5 dims) with a region
    # filter that prunes through two dim hops; Catalyst/AQE broadcast the
    # small sides and reorder the join tree.
    "q_sql_tpch_q5": f"""
SELECT n_name, {REVENUE} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1994-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY n_name
""",
    # correlated scalar subquery (decorrelated by Catalyst into an agg+join)
    "q_sql_scalar_subquery": f"""
SELECT c_custkey, c_acctbal
FROM customer c
WHERE c_acctbal > (
  SELECT {_dsum('c2.c_acctbal')} / COUNT(*)
  FROM customer c2
  WHERE c2.c_nationkey = c.c_nationkey
)
""",
    # correlated EXISTS (rewritten to a semi-join)
    "q_sql_exists": """
SELECT s_suppkey, s_name
FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49
)
""",
    "q_sql_having": """
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
""",
    # conditional aggregation (the pivot-in-SQL idiom)
    "q_sql_case_agg": """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
       CAST(SUM(CASE WHEN l_quantity <= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_small
FROM lineitem
GROUP BY l_returnflag
""",
    "q_sql_grouping_sets": """
SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
""",
    "q_sql_cube": """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    # Several COUNT(DISTINCT ...) in one aggregation — Catalyst plans this
    # with an Expand (one row replicated per distinct column) so all
    # distinct sets resolve in a single shuffle, not one job each.
    "q_sql_multi_distinct": """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    # Window functions in SQL text: ranking, lag, and a framed moving
    # aggregate in one pass (same exchange on the partition key serves all
    # three — the DataFrame forms are q_window_rank/lag/moving_avg).
    "q_sql_window": """
SELECT o_custkey, o_orderkey,
       CAST(RANK() OVER w AS INTEGER) AS rk,
       CAST(COALESCE(LAG(o_orderkey) OVER w, -1) AS BIGINT) AS prev_order,
       CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / 1000000 AS mov_sum
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    # Recursive CTE (Spark 4 + DuckDB): a generated monthly spine LEFT
    # range-joined back to facts — months with zero orders still appear.
    "q_sql_recursive": """
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1995-01-01'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '1996-12-01'
)
SELECT CAST(EXTRACT(YEAR FROM m) AS BIGINT) AS y,
       CAST(EXTRACT(MONTH FROM m) AS BIGINT) AS mo,
       COUNT(o_orderkey) AS n_orders
FROM months LEFT JOIN orders
  ON o_orderdate >= m AND o_orderdate < m + INTERVAL 1 MONTH
GROUP BY y, mo
""",
    # Correlated LATERAL subquery with ORDER/LIMIT — top-1-per-group in
    # SQL form (the DataFrame form is q_window_rank).
    "q_sql_lateral": """
SELECT c_custkey, l.o_orderkey AS top_orderkey, l.o_totalprice AS top_price
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
) l
""",
    # ---- TPC-H-shaped suite over the columns the fixtures provide ----
    # Q1: the canonical pricing summary (SQL-text twin of the DataFrame
    # flagship q_groupby_agg — same fixed-point interior, same answer).
    "q_sql_tpch_q1": f"""
SELECT l_returnflag, l_linestatus,
       {_dsum('l_quantity')} AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_base_price,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {_dsum('l_quantity')} / COUNT(*) AS avg_qty,
       {_dsum('l_extendedprice')} / COUNT(*) AS avg_price,
       {_dsum('l_discount')} / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    # (no partsupp table; no commitdate/receiptdate/shipmode/phone/container
    # columns — each query keeps the canonical plan shape, with predicates
    # adapted to the fixture domain: dates 1995-2001, nations NATION_0..24.)
    #
    # Q4 shape: EXISTS semi-join from orders into lineitem with a
    # correlated inequality (shipped-after-order as the lateness proxy).
    "q_sql_tpch_q4": """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
""",
    # Q6 shape: single-table scan-heavy aggregate with a tight band filter —
    # the purest predicate-pushdown benchmark (no join, no group key).
    "q_sql_tpch_q6": f"""
SELECT {_dsum('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    # Q7 shape: volume shipping between two nations — double nation join
    # (supplier's vs customer's), disjunctive pair predicate, year extract.
    "q_sql_tpch_q7": f"""
SELECT supp_nation, cust_nation, l_year,
       {_dsum('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
    # Q8 shape: market share — a ratio of conditional to total revenue per
    # year over a region-filtered snowflake (part filter dropped: no partsupp
    # chain in fixtures, the plan shape is the point).
    "q_sql_tpch_q8": f"""
SELECT o_year,
       {_dsum("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END")}
         / {_dsum('volume')} AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM lineitem, orders, customer, supplier, nation n1, nation n2, region
  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'AMERICA'
    AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) all_nations
GROUP BY o_year
""",
    # Q10 shape: returned-item reporting — fact→dims join, returnflag filter,
    # high-cardinality group on the customer, top-20 by revenue.
    "q_sql_tpch_q10": f"""
SELECT c_custkey, c_name, {REVENUE} AS revenue, c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    # Q13 shape: customer order-count distribution — left outer join with an
    # extra ON-clause predicate, then a second aggregation over the counts.
    "q_sql_tpch_q13": """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
""",
    # Q14 shape: promotion-revenue percentage — conditional aggregate over a
    # fact×dim join, one output row.
    "q_sql_tpch_q14": f"""
SELECT 100.00 * {_dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
       / {REVENUE} AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
""",
    # Q15 shape: top supplier — CTE reused twice (grouped revenue + its MAX
    # as an uncorrelated scalar subquery); exact-decimal sums make the
    # equality-on-aggregate deterministic across engines.
    "q_sql_tpch_q15": f"""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         {REVENUE} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue0
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
""",
    # Q17 shape: small-quantity-order revenue — correlated scalar aggregate
    # subquery against the same fact table (per-part average quantity).
    "q_sql_tpch_q17": f"""
SELECT {_dsum('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#23' AND p_size < 15
  AND l_quantity < (
    SELECT 0.2 * ({_dsum('l2.l_quantity')} / COUNT(*))
    FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
""",
    # Q18 shape: large-volume customers — IN over a grouped HAVING subquery
    # on the fact table, then re-join and re-aggregate.
    "q_sql_tpch_q18": f"""
SELECT c_name, c_custkey, o_orderkey, o_totalprice,
       {_dsum('l_quantity')} AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING {_dsum('l_quantity')} > 300
  )
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
""",
    # Q19 shape: disjunction of conjunctive band predicates spanning both
    # join sides — exercises OR-pushdown through a join.
    "q_sql_tpch_q19": f"""
SELECT {REVENUE} AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 20 AND 30))
""",
    # Q2 shape: min-cost supplier per part — correlated scalar MIN subquery
    # against a reused CTE. Fixtures have no partsupp table, so the
    # part×supplier cost relation is derived from lineitem (min observed
    # unit price per pair); the derivation is shared by outer query and
    # subquery, so the aggregate-equality join keeps Q2's plan shape.
    "q_sql_tpch_q2": """
WITH partsupp AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice / l_quantity) AS ps_supplycost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM part, partsupp, supplier, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size <= 15 AND p_name LIKE '%widget%'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT MIN(ps2.ps_supplycost)
    FROM partsupp ps2, supplier s2, nation n2, region r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    # Q9 shape: product-type profit by nation and year — 5-way join with a
    # LIKE part filter, arithmetic in a derived column, two-key aggregate.
    # (No ps_supplycost: cost modeled as a 45% ratio of list price, which
    # preserves the profit-expression shape without the partsupp chain.)
    "q_sql_tpch_q9": f"""
SELECT nation, o_year, {_dsum('amount')} AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) - 0.45 * l_extendedprice AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%bolt%'
) profit
GROUP BY nation, o_year
""",
    # Q11 shape: important stock — grouped value with a HAVING threshold
    # that is a fraction of the same aggregate over the whole (nation-
    # filtered) relation, i.e. an uncorrelated scalar subquery re-running
    # the join. Fraction 0.003 keeps the selectivity scale-invariant the
    # way Q11's 0.0001/SF does (share-of-total, so SF cancels), and sits
    # below the observed max part-share (~0.005 at sf0.01) so the result
    # is non-empty at driver scale.
    "q_sql_tpch_q11": f"""
SELECT l_partkey, {_dsum('l_extendedprice')} AS total_value
FROM lineitem, supplier, nation
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name = 'NATION_13'
GROUP BY l_partkey
HAVING {_dsum('l_extendedprice')} > (
  SELECT {_dsum('l_extendedprice')} * 0.003
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_13'
)
""",
    # Q12 shape: shipping-priority counts — join + conditional two-way
    # sums per ship class. No l_shipmode column: class derived from line
    # number parity; lateness proxy = shipped after order date.
    "q_sql_tpch_q12": """
SELECT ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
  SELECT CASE WHEN l_linenumber % 2 = 0 THEN 'MAIL' ELSE 'SHIP' END AS ship_class,
         o_orderpriority
  FROM orders, lineitem
  WHERE o_orderkey = l_orderkey
    AND l_shipdate > o_orderdate
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
) t
GROUP BY ship_class
""",
    # Q16 shape: supplier count by part attributes — COUNT(DISTINCT) per
    # 3-key group, NOT-IN anti-subquery on the dimension, IN-list size
    # filter. partsupp derived implicitly via lineitem pairs.
    "q_sql_tpch_q16": """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 7, 10, 14, 19, 25, 32, 41, 50)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%08'
  )
GROUP BY p_brand, p_type, p_size
""",
    # Q20 shape: excess-inventory suppliers — IN over a grouped HAVING
    # subquery whose part set comes from a nested IN (part-name LIKE).
    "q_sql_tpch_q20": f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%rod%')
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING {_dsum('l_quantity')} > 50
)
""",
    # Q21 shape: suppliers who kept orders waiting — EXISTS (another
    # supplier contributed to the order) + NOT EXISTS (no OTHER supplier
    # was late on it). No commitdate: late = shipped >90 days after the
    # order date; the inner orders join keeps the lateness predicate
    # uncorrelated so both engines decorrelate cleanly.
    "q_sql_tpch_q21": """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3, orders o3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_orderkey = o3.o_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    # Multiset set-ops (INTERSECT ALL / EXCEPT ALL keep duplicates —
    # Spark plans them as aggregated counts + generate, not a distinct).
    "q_sql_intersect_all": """
SELECT c_nationkey AS nk FROM customer
INTERSECT ALL
SELECT s_nationkey FROM supplier
""",
    "q_sql_except_all": """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
    # UNPIVOT clause (wide->long): both engines parse the SQL-Server-style
    # relational UNPIVOT verbatim; the inverse of q_sql_pivot.
    "q_sql_unpivot": f"""
SELECT n_name, role, bal
FROM (
  SELECT n_name, cb.cust_bal, sb.supp_bal
  FROM nation
  JOIN (SELECT c_nationkey AS nk, {_dsum('c_acctbal')} AS cust_bal
        FROM customer GROUP BY c_nationkey) cb ON cb.nk = n_nationkey
  JOIN (SELECT s_nationkey AS nk, {_dsum('s_acctbal')} AS supp_bal
        FROM supplier GROUP BY s_nationkey) sb ON sb.nk = n_nationkey
) wide UNPIVOT (bal FOR role IN (cust_bal, supp_bal))
""",
    # Q22 shape: above-average account balance + anti-join (fixtures give
    # every customer at least one order, so the anti-join is on *recent*
    # orders; country code derived from nationkey — no phone column).
    "q_sql_tpch_q22": f"""
SELECT cntrycode, COUNT(*) AS numcust, {_dsum('c_acctbal')} AS totacctbal
FROM (
  SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode, c_acctbal, c_custkey
  FROM customer
  WHERE c_acctbal > (
      SELECT {_dsum('c2.c_acctbal')} / COUNT(*)
      FROM customer c2
      WHERE c2.c_acctbal > 0.0
    )
    AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c_custkey
        AND o.o_orderdate >= TIMESTAMP '2001-01-01'
    )
) custsale
GROUP BY cntrycode
""",
    # GROUP BY ALL (every non-aggregate select item groups implicitly) —
    # the modern analyst shorthand both dialects support; COUNT cast to
    # BIGINT for the HUGEINT divergence as everywhere else.
    "q_sql_group_by_all": f"""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ALL
""",
    # aggregate FILTER clause + count_if — the modern conditional-agg
    # shorthand both dialects share (SUM FILTER over an empty set is NULL
    # in both). Note: postfix IGNORE NULLS is NOT shared (DuckDB rejects
    # it), so that idiom stays on the DataFrame surface (q_gap_fill).
    "q_sql_filter_clause": """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000.0) AS BIGINT) AS n_large,
       CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
       (CAST(SUM(CAST(ROUND((o_totalprice) * 1000000) AS BIGINT))
             FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) / 1000000)
         AS urgent_value
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    # TRY_CAST error-tolerant parsing — the dirty-ingestion idiom: a mixed
    # numeric/word column parses to NULL instead of failing the job; both
    # engines round-trip double->varchar->double losslessly.
    "q_sql_try_cast": """
SELECT CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unparseable,
       CAST(COUNT(v) AS BIGINT) AS n_parsed,
       (CAST(SUM(CAST(ROUND((COALESCE(v, 0.0)) * 1000000) AS BIGINT)) AS DOUBLE)
        / 1000000) AS parsed_total
FROM (
  SELECT TRY_CAST(CASE WHEN p_partkey % 3 = 0
                       THEN CAST(p_retailprice AS STRING)
                       ELSE p_type END AS DOUBLE) AS v
  FROM part
)
""",
}
