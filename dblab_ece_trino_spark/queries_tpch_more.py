"""TPC-H canon, third tranche: Q2/Q8/Q9/Q11/Q13/Q15/Q16/Q20 shapes.

Completes the classic TPC-H decision-support surface over the driver
testdata.  The schema has no partsupp table, so the four queries that
touch it (Q2/Q11/Q16/Q20) use lineitem as the part↔supplier bridge —
the join/subquery/aggregation shapes (correlated scalar min, top-fraction
HAVING against a scalar total, distinct-pair counting, decorrelated
half-of-total) are preserved exactly.

Numeric discipline (see queries_tpch.py): aggregates in DECIMAL, round
before any downscale, final projections cast to DOUBLE (driver render
parity); thresholds algebraically cleared of division (``2·q > total``,
``v·1000 > total``) so no float comparison exists anywhere.  Q8's market
share is the one intentional ratio: both engines divide the SAME exact
decimal-derived doubles, so the quotient is bit-identical.
"""

from __future__ import annotations

from dblab_ece_trino_spark.operators.registry import register_sql
from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

_ONE = "CAST(1 AS DECIMAL(12,4))"
_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"
_DISC = "CAST(l_discount AS DECIMAL(12,4))"
_QTY = "CAST(l_quantity AS DECIMAL(12,2))"
_REV = f"{_PRICE} * ({_ONE} - {_DISC})"

# Q2 shape: minimum-cost supplier per part in a region — correlated
# scalar MIN subquery sharing the outer join tree (partsupp stands in as
# the distinct (part, supplier) pairs evidenced by lineitem).
_Q2 = """
SELECT DISTINCT
  CAST(s.s_acctbal AS DOUBLE) AS s_acctbal,
  s.s_name, n.n_name, p.p_partkey, p.p_name
FROM {part} p, {supplier} s, {lineitem} l, {nation} n, {region} r
WHERE p.p_partkey = l.l_partkey
  AND s.s_suppkey = l.l_suppkey
  AND p.p_size = 15
  AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'ASIA'
  AND s.s_acctbal = (
    SELECT min(s2.s_acctbal)
    FROM {supplier} s2, {lineitem} l2, {nation} n2, {region} r2
    WHERE p.p_partkey = l2.l_partkey
      AND s2.s_suppkey = l2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'ASIA')
ORDER BY s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""

# Q8 shape: market share of one nation inside a region per order year.
# Numerator/denominator are exact decimal sums emitted alongside the
# ratio; the ratio divides identical doubles on both engines.
_Q8 = f"""
SELECT
  o_year,
  CAST(sum_nation AS DOUBLE) AS nation_revenue,
  CAST(sum_all AS DOUBLE) AS total_revenue,
  round(CAST(sum_nation AS DOUBLE) / CAST(sum_all AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT
    year(o.o_orderdate) AS o_year,
    sum(CASE WHEN n2.n_name = 'NATION_1' THEN {_REV}
             ELSE CAST(0 AS DECIMAL(18,2)) END) AS sum_nation,
    sum({_REV}) AS sum_all
  FROM {{part}} p, {{supplier}} s, {{lineitem}} l, {{orders}} o,
       {{customer}} c, {{nation}} n1, {{nation}} n2, {{region}} r
  WHERE p.p_partkey = l.l_partkey
    AND s.s_suppkey = l.l_suppkey
    AND l.l_orderkey = o.o_orderkey
    AND o.o_custkey = c.c_custkey
    AND c.c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r.r_regionkey
    AND r.r_name = 'ASIA'
    AND s.s_nationkey = n2.n_nationkey
    AND p.p_type = 'PROMO'
  GROUP BY year(o.o_orderdate)
) t
ORDER BY o_year
"""

# Q9 shape: product-type profit by supplier nation and year.  Cost side
# approximates ps_supplycost with the part's retail price amortized per
# unit (schema has no partsupp); the profit expression keeps the classic
# rev − cost·qty structure in DECIMAL.
_Q9 = f"""
SELECT
  n.n_name AS nation,
  year(l.l_shipdate) AS o_year,
  CAST(round(sum({_REV} - CAST(p.p_retailprice AS DECIMAL(12,2))
                          * CAST(0.1 AS DECIMAL(4,2)) * {_QTY}), 2)
       AS DOUBLE) AS sum_profit
FROM {{part}} p, {{supplier}} s, {{lineitem}} l, {{nation}} n
WHERE p.p_partkey = l.l_partkey
  AND s.s_suppkey = l.l_suppkey
  AND s.s_nationkey = n.n_nationkey
  AND p.p_type = 'PROMO'
GROUP BY n.n_name, year(l.l_shipdate)
ORDER BY nation, o_year DESC
"""

# Q11 shape: parts holding an outsized share of total inventory value —
# HAVING against uncorrelated scalar aggregates.  The classic fixed
# fraction (0.0001/SF) is scale-dependent; the scale-free form keeps
# parts above 2× the average part value — division-free:
# value · n_parts > 2 · total.
_VALUE = f"{_PRICE} * {_QTY}"
_Q11 = f"""
SELECT
  l_partkey,
  CAST(round(sum({_VALUE}), 2) AS DOUBLE) AS part_value
FROM {{lineitem}} l, {{supplier}} s, {{nation}} n
WHERE l.l_suppkey = s.s_suppkey
  AND s.s_nationkey = n.n_nationkey
  AND n.n_name = 'NATION_0'
GROUP BY l_partkey
HAVING sum({_VALUE}) * (
  SELECT count(DISTINCT l_partkey)
  FROM {{lineitem}} l3, {{supplier}} s3, {{nation}} n3
  WHERE l3.l_suppkey = s3.s_suppkey
    AND s3.s_nationkey = n3.n_nationkey
    AND n3.n_name = 'NATION_0') > 2 * (
  SELECT sum({_VALUE})
  FROM {{lineitem}} l2, {{supplier}} s2, {{nation}} n2
  WHERE l2.l_suppkey = s2.s_suppkey
    AND s2.s_nationkey = n2.n_nationkey
    AND n2.n_name = 'NATION_0')
ORDER BY part_value DESC, l_partkey
"""

# Q13 shape: distribution of per-customer order counts; LEFT JOIN with a
# join-side filter so customers with zero qualifying orders count as 0.
_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM {customer} c
  LEFT JOIN {orders} o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

# Q15 shape: top supplier(s) by quarterly revenue — CTE consumed twice
# (join + scalar MAX); max over exact decimal sums, so the tie set is
# engine-stable.
_Q15 = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum({_REV}) AS total_revenue
  FROM {{lineitem}}
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(round(r.total_revenue, 2) AS DOUBLE) AS total_revenue
FROM {{supplier}} s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""

# Q16 shape: supplier counts per part attribute — distinct (attrs, supp)
# pairs first, then count (the two-level form; count(DISTINCT) plans via
# an Expand that doubles the fact at scale), with a NOT IN anti subquery.
_Q16 = """
SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
FROM (
  SELECT DISTINCT p.p_brand, p.p_type, p.p_size, l.l_suppkey
  FROM {part} p JOIN {lineitem} l ON p.p_partkey = l.l_partkey
  WHERE p.p_brand <> 'Brand#1'
    AND p.p_size IN (1, 5, 10, 15, 20)
    AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM {supplier} WHERE s_name LIKE '%7%')
) t
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

# Q20 shape, decorrelated: suppliers with an outsized share of some
# part's shipped quantity.  The classic correlated HAVING is rewritten
# as two aggregations + a join — one fact pass each, no correlated
# re-scan.  Parts here have ~26-30 suppliers shipping evenly, so the
# literal "more than half" never fires; the scale-free threshold keeps
# suppliers above 4× the part's average supplier share, division-free:
# q · n_supp > 4 · total (selective at every SF: ~24% of suppliers at
# sf0.01, ~3% at sf0.1).
# Spark inlines each CTE reference, so the per_ps → per_p two-CTE form
# scans and aggregates the fact TWICE; the window form computes the
# per-part totals over the already-aggregated (part, supplier) rows in
# the SAME hash partitioning (one fact pass + one window shuffle on the
# part key).  Measured at x10: 5.4s → ~2s.
_Q20 = f"""
WITH per_ps AS (
  SELECT l_partkey, l_suppkey, sum({_QTY}) AS q
  FROM {{lineitem}} GROUP BY l_partkey, l_suppkey
),
w AS (
  SELECT l_suppkey, q,
         sum(q) OVER (PARTITION BY l_partkey) AS tq,
         count(*) OVER (PARTITION BY l_partkey) AS n_supp
  FROM per_ps
)
SELECT DISTINCT s.s_name
FROM {{supplier}} s
JOIN w ON s.s_suppkey = w.l_suppkey
WHERE w.q * w.n_supp > 4 * w.tq
ORDER BY s_name
"""

for _name, _tpl in (
    ("tpch_q2", _Q2),
    ("tpch_q8", _Q8),
    ("tpch_q9", _Q9),
    ("tpch_q11", _Q11),
    ("tpch_q13", _Q13),
    ("tpch_q15", _Q15),
    ("tpch_q16", _Q16),
    ("tpch_q20", _Q20),
):
    register_sql(_name, _tpl.format(**_SPARK_TABLES), _tpl.format(**_ORACLE_TABLES))
