"""Modern SQL-surface operators: recursive CTE, inline VALUES, lateral
explode, map/struct access, UNPIVOT.

The reference's engine (Trino 477) supports all of these even though its
five benchmark queries don't exercise them (SURVEY §2.7/§2.8 "not
present" lists); a reference user switching to this engine keeps them.
Spark 4 covers each natively — these entries pin the behavior against the
DuckDB oracle with engine-portable formulations:

- DuckDB map extraction returns a single-element LIST (``m['k']`` →
  ``[v]``); the oracle indexes ``[1]`` to match Spark's scalar
  ``element_at``.
- Spark's ``LATERAL VIEW explode(sequence(...))`` is DuckDB's
  ``unnest(generate_series(...))`` — both 1-based inclusive.
- UNPIVOT uses the SQL-standard in-FROM syntax, identical both sides.
"""

from __future__ import annotations

from dblab_ece_trino_spark.operators.registry import register_template


# Recursive CTE: linear recursion with aggregation over the produced
# series (Spark 4 WITH RECURSIVE; identical text runs on DuckDB).
register_template(
    "op_recursive_cte",
    """
    WITH RECURSIVE seq(n) AS (
      SELECT 1
      UNION ALL
      SELECT n + 1 FROM seq WHERE n < 25
    )
    SELECT n % 5 AS bucket, count(*) AS cnt, CAST(sum(n) AS BIGINT) AS total
    FROM seq
    GROUP BY n % 5
    ORDER BY bucket
    """,
)

# Inline VALUES relation joined against a stored table.
register_template(
    "op_values_inline",
    """
    SELECT v.region_name, count(*) AS nations
    FROM {nation} n
    JOIN (VALUES (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA')) AS v(rk, region_name)
      ON n.n_regionkey = v.rk
    GROUP BY v.region_name
    ORDER BY region_name
    """,
)

# Lateral explode of a generated sequence — one output row per element,
# correlated to the outer row.
register_template(
    "op_lateral_explode",
    """
    SELECT r_regionkey, n
    FROM {region}
    LATERAL VIEW explode(sequence(1, r_regionkey + 1)) AS n
    """,
    """
    SELECT r_regionkey, unnest(generate_series(1, r_regionkey + 1)) AS n
    FROM {region}
    """,
)

# Map construction + key lookup, struct construction + field access.
register_template(
    "op_map_struct",
    """
    SELECT
      o_orderkey,
      element_at(map('status', o_orderstatus, 'priority', o_orderpriority),
                 'status') AS status,
      named_struct('k', o_orderkey, 'c', o_custkey).c AS custkey
    FROM {orders}
    WHERE o_orderkey < 500
    """,
    """
    SELECT
      o_orderkey,
      map(['status', 'priority'], [o_orderstatus, o_orderpriority])['status'][1]
        AS status,
      struct_pack(k := o_orderkey, c := o_custkey).c AS custkey
    FROM {orders}
    WHERE o_orderkey < 500
    """,
)

# UNPIVOT: wide numeric columns to (metric, value) rows — the inverse of
# op_pivot; SQL-standard syntax accepted verbatim by both engines.
register_template(
    "op_unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric,
           CAST(round(val, 2) AS DOUBLE) AS val
    FROM (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS qty,
             CAST(l_extendedprice AS DOUBLE) AS price
      FROM {lineitem}
      WHERE l_orderkey < 300
    ) UNPIVOT (val FOR metric IN (qty, price))
    """,
)

# Multiset set operations (bag semantics — Trino supports ALL variants).
register_template(
    "op_except_all",
    """
    SELECT o_custkey, count(*) AS n FROM (
      SELECT o_custkey FROM {orders} WHERE o_totalprice > 50000
      EXCEPT ALL
      SELECT o_custkey FROM {orders} WHERE o_orderstatus = 'F'
    ) t
    GROUP BY o_custkey
    """,
)

register_template(
    "op_intersect_all",
    """
    SELECT o_custkey, count(*) AS n FROM (
      SELECT o_custkey FROM {orders} WHERE o_totalprice > 50000
      INTERSECT ALL
      SELECT o_custkey FROM {orders} WHERE o_orderstatus = 'O'
    ) t
    GROUP BY o_custkey
    """,
)

# Null-safe equality join (IS NOT DISTINCT FROM — Trino surface; Spark
# also spells it <=>).  NULL keys match each other instead of vanishing,
# the semantics set-ops rely on internally.
register_template(
    "op_null_safe_join",
    """
    SELECT
      CASE WHEN a.k IS NULL THEN 'null-key' ELSE 'value-key' END AS side,
      count(*) AS n
    FROM (
      SELECT CASE WHEN l_partkey % 7 = 0 THEN NULL ELSE l_suppkey END AS k
      FROM {lineitem} WHERE l_orderkey < 300
    ) a
    JOIN (
      SELECT CASE WHEN l_partkey % 7 = 0 THEN NULL ELSE l_suppkey END AS k
      FROM {lineitem} WHERE l_orderkey < 300
    ) b
      ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1
    """,
)

# Date/interval arithmetic — INTERVAL literals are portable; date_diff's
# unit is an unquoted keyword in Spark and a string in DuckDB.
register_template(
    "op_interval_arith",
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(o_orderdate - INTERVAL 1 MONTH AS DATE) AS prior_month,
           CAST(date_diff(DAY, TIMESTAMP '1996-01-01 00:00:00', o_orderdate)
                AS BIGINT) AS days_since_epoch_96
    FROM {orders}
    WHERE o_orderkey < 400
    """,
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(o_orderdate - INTERVAL 1 MONTH AS DATE) AS prior_month,
           CAST(date_diff('day', TIMESTAMP '1996-01-01 00:00:00', o_orderdate)
                AS BIGINT) AS days_since_epoch_96
    FROM {orders}
    WHERE o_orderkey < 400
    """,
)

# Regular expressions.  DuckDB's regexp_replace replaces only the first
# match unless given the 'g' flag; Spark always replaces all — the oracle
# passes 'g' to align.
register_template(
    "op_regexp",
    """
    SELECT c_custkey,
           regexp_extract(c_name, '#(\\\\d+)', 1) AS cust_num,
           regexp_replace(c_name, '\\\\d', 'x') AS masked,
           c_name RLIKE '0{{3}}' AS has_zeros
    FROM {customer}
    WHERE c_custkey < 300
    """,
    """
    SELECT c_custkey,
           regexp_extract(c_name, '#(\\d+)', 1) AS cust_num,
           regexp_replace(c_name, '\\d', 'x', 'g') AS masked,
           regexp_matches(c_name, '0{{3}}') AS has_zeros
    FROM {customer}
    WHERE c_custkey < 300
    """,
)

# Collection aggregates: array_agg and string_agg.  Both are
# order-nondeterministic under parallelism, so results are sorted inside
# the aggregate expression (sort_array / ORDER BY) — the partition-count
# invariance discipline of SURVEY §5 applied to collection outputs.
# The numeric-array output is serialized to a string (numeric sort, then
# join) because the driver renders list columns differently per engine
# (numpy array vs Python list); strings are render-stable.
register_template(
    "op_collect_agg",
    """
    SELECT n_regionkey,
           array_join(transform(sort_array(collect_list(n_nationkey)),
                                x -> CAST(x AS STRING)), ',') AS nation_keys,
           concat_ws(',', sort_array(collect_list(n_name))) AS names
    FROM {nation}
    GROUP BY n_regionkey
    """,
    """
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_nationkey)), ',') AS nation_keys,
           string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM {nation}
    GROUP BY n_regionkey
    """,
)


# Typed JSON schema-on-read: from_json projects the JSON string to a
# typed struct at scan time (vs op_json_extract's per-path string
# extraction) — the ES-analog document surface.  count_if gives the
# conditional aggregate on the typed field.
register_template(
    "op_json_schema_read",
    """
    SELECT event_type,
           CAST(sum(from_json(props, 'k INT').k) AS BIGINT) AS sum_k,
           CAST(count_if(from_json(props, 'k INT').k > 50) AS BIGINT)
             AS n_big
    FROM {events}
    GROUP BY event_type
    ORDER BY event_type
    """,
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           CAST(count_if(CAST(json_extract_string(props, '$.k') AS INT) > 50)
                AS BIGINT) AS n_big
    FROM {events}
    GROUP BY event_type
    ORDER BY event_type
    """,
)

# Window navigation functions: first/last/nth value over the full
# partition frame, lead with an explicit default — raw doubles pass
# through untouched, so no rounding is needed for parity.
register_template(
    "op_window_navigation",
    """
    SELECT user_id, event_id,
           first_value(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS first_v,
           last_value(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_v,
           nth_value(value, 3) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS third_v,
           lead(value, 2, -1.0) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS lead2
    FROM {events}
    WHERE user_id < 15
    ORDER BY user_id, event_id
    """,
)


# Aggregate FILTER clause (SQL:2003) — per-aggregate predicates in one
# pass, the idiomatic alternative to CASE-wrapped aggs; one scan, one
# map-side-combinable agg.  Identical syntax on both engines.
register_template(
    "op_agg_filter_clause",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)
             AS n_bulk,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                FILTER (WHERE l_discount > 0.05) AS DOUBLE)
             AS discounted_revenue,
           CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.04)
             AS BIGINT) AS taxed_suppliers
    FROM {lineitem}
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)


# Ratio-to-report: each group's share of the grand total via a
# whole-partition window over the AGGREGATED frame (|groups| rows —
# metadata-scale; the raw fact crosses one hash agg only).  The share
# division runs on exact DECIMAL totals rendered through the same
# round(.., 9) on both engines.
register_template(
    "op_ratio_to_report",
    """
    WITH per_nation AS (
      SELECT c_nationkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(28,2)) AS revenue
      FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
      GROUP BY c_nationkey
    )
    SELECT c_nationkey,
           CAST(revenue AS DOUBLE) AS revenue,
           round(CAST(revenue AS DOUBLE)
                 / CAST(sum(revenue) OVER () AS DOUBLE), 9) AS share
    FROM per_nation
    ORDER BY c_nationkey
    """,
)


# --------------------------------- correlated subqueries / EXISTS (r12)
# Catalyst's RewriteCorrelatedScalarSubquery + RewritePredicateSubquery
# surface: a correlated scalar aggregate (per-nation spend comparison)
# AND a correlated EXISTS, in ONE query — both decorrelate into joins
# (the scalar into an aggregate+join, the EXISTS into a left-semi), so
# the physical plan is shuffle-bounded like any other join at 100 TB.
# The above-mean test is integer cross-multiplied (cents * n > sum) —
# no AVG double whose summation order could flip a boundary row; the
# multiplication rides DECIMAL(38,0)/HUGEINT so member-count x cents
# stays exact at warehouse scale.
def _register_correlated_subquery() -> None:
    tpl = """
    WITH spend AS (
      SELECT c.c_custkey, c.c_nationkey,
             CAST(round(sum(o.o_totalprice) * 100, 0) AS BIGINT) AS cents
      FROM {customer} c JOIN {orders} o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_nationkey
    )
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_above_mean,
           CAST(sum(s.cents) AS BIGINT) AS above_mean_cents
    FROM spend s JOIN {nation} n ON n.n_nationkey = s.c_nationkey
    WHERE CAST(s.cents AS {big})
            * (SELECT count(*) FROM spend s2
               WHERE s2.c_nationkey = s.c_nationkey)
          > (SELECT CAST(sum(CAST(s2.cents AS {big})) AS {big})
             FROM spend s2 WHERE s2.c_nationkey = s.c_nationkey)
      AND EXISTS (SELECT 1 FROM {orders} o2
                  WHERE o2.o_custkey = s.c_custkey
                    AND o2.o_orderstatus = 'F')
    GROUP BY n.n_name
    ORDER BY n.n_name
    """
    register_template(
        "op_correlated_subquery",
        tpl.replace("{big}", "DECIMAL(38,0)"),
        tpl.replace("{big}", "HUGEINT"),
    )


_register_correlated_subquery()


def _register_gaps_islands() -> None:
    """Gaps-and-islands — the canonical SQL interview pattern as a
    production streak detector: per customer, maximal runs of
    CONSECUTIVE calendar order-days (the island key is the classic
    date - row_number * INTERVAL 1 DAY anchor, constant exactly while
    days are consecutive), rolled into a global streak-length
    histogram plus the count of distinct streak anchors.  Differs from
    op_session_window (arbitrary time-gap sessionization) in being
    calendar-aligned — the shape retention/engagement pipelines use
    for daily-activity streaks.

    The per-customer window partitions by o_custkey (fine-grained hash
    shuffle, no data-scale single partition); distinct days first so
    multi-order days cannot split a streak.  Exact integer output.
    """
    tpl = """
    WITH days AS (
      SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
      FROM {orders}
    ),
    anch AS (
      SELECT o_custkey, d,
             d - CAST(row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY d) AS INT) AS anchor
      FROM days
    ),
    islands AS (
      SELECT o_custkey, anchor, CAST(count(*) AS BIGINT) AS len
      FROM anch
      GROUP BY o_custkey, anchor
    )
    SELECT CAST(len AS BIGINT) AS streak_len,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM islands
    GROUP BY len
    ORDER BY len
    """
    register_template("op_gaps_islands", tpl)


_register_gaps_islands()


def _register_lateral_subquery() -> None:
    """LATERAL correlated subquery (SQL:1999 lateral derived table;
    Spark 4 and DuckDB both execute the identical text): top-2 orders
    per high-value customer, the per-row dependent subplan Catalyst
    decorrelates into a ranked join (DecorrelateInnerQuery) rather
    than executing N subqueries.  The companion surface to
    op_correlated_subquery (scalar/EXISTS) — this one RETURNS rows
    from the dependent subquery.

    Cents are exact bigints; the inner ORDER BY breaks price ties by
    key so the row set is deterministic on both engines.
    """
    tpl = """
    SELECT c.c_custkey, t.o_orderkey, t.cents
    FROM {customer} c,
         LATERAL (
           SELECT o.o_orderkey,
                  CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
           FROM {orders} o
           WHERE o.o_custkey = c.c_custkey
           ORDER BY o.o_totalprice DESC, o.o_orderkey
           LIMIT 2
         ) t
    WHERE c.c_custkey < 100
    ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey
    """
    register_template("op_lateral_subquery", tpl)


_register_lateral_subquery()
