"""Statistical / analytical SQL surface: extreme-value selection
(``max_by``/``min_by``), regression + correlation aggregates, bucketed
histograms (``width_bucket``), bitwise aggregates, TRY-flavored safe
arithmetic, grouping marks over GROUPING SETS, approx-vs-exact quantile
tolerance, recursive hierarchy walk over table-derived edges, and a
blocked fuzzy-match (levenshtein) entity-resolution join.

The reference engine (Trino 477) ships this whole function surface even
though its five benchmark queries don't exercise it (SURVEY §2.8 "not
present" list); a reference user keeps every one of these when they
switch.  Spark 4 covers each natively — JVM-side, whole-stage-codegen
expressions; no Python in any hot path.

Scale notes (100 TB lens):
- every aggregate entry is a single hash partial→final aggregation — one
  shuffle, map-side combined;
- ``op_fuzzy_match`` is the canonical *blocked* ER self-join: the equi
  block key (brand) bounds the candidate space; levenshtein runs only
  inside blocks.  At larger block sizes the block key widens (brand ×
  container × size) exactly like LSH banding in operators/dedup.py —
  never all-pairs;
- ``op_hierarchy_walk`` is linear recursion with a per-iteration
  shuffle; depth is log2(keyspace) so the iteration count is bounded
  (7 here), the same shape as dedup_clusters' label propagation;
- DuckDB lacks ``width_bucket``; the oracle emulates it with exact
  integer-valued floor arithmetic (bucket width 50000 divides the domain
  exactly, inputs floored to integral doubles), so both formulas are
  bit-exact and the emulation cannot diverge at bucket boundaries.
"""

from __future__ import annotations

from dblab_ece_trino_spark.operators.registry import (
    register,
    register_sql,
    register_template,
)
from dblab_ece_trino_spark.session import shared_build
from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES


# Extreme-value selection: the row-valued argmax/argmin aggregates.
# Ordering keys are continuous doubles (per-group max/min unique in the
# testdata — asserted by tests/test_analytics.py), so the result is
# deterministic without a composite tiebreak (DuckDB's arg_max cannot
# order by a struct).
register_template(
    "op_min_max_by",
    """
    SELECT c_nationkey,
           max_by(c_name, c_acctbal) AS top_name,
           min_by(c_name, c_acctbal) AS bottom_name,
           CAST(round(max(c_acctbal), 2) AS DOUBLE) AS max_bal,
           CAST(round(min(c_acctbal), 2) AS DOUBLE) AS min_bal
    FROM {customer}
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    """
    SELECT c_nationkey,
           arg_max(c_name, c_acctbal) AS top_name,
           arg_min(c_name, c_acctbal) AS bottom_name,
           CAST(round(max(c_acctbal), 2) AS DOUBLE) AS max_bal,
           CAST(round(min(c_acctbal), 2) AS DOUBLE) AS min_bal
    FROM {customer}
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)

# Regression / correlation aggregate family — one partial→final hash agg.
# Rounded on both sides: the moment sums are order-of-summation
# sensitive in the last ulps.
register_template(
    "op_stats_regression",
    """
    SELECT l_returnflag,
           CAST(round(corr(l_quantity, l_extendedprice), 4) AS DOUBLE) AS corr_qp,
           CAST(round(covar_samp(l_quantity, l_extendedprice), 1) AS DOUBLE)
             AS covar_qp,
           CAST(round(stddev_samp(l_quantity), 4) AS DOUBLE) AS sd_qty,
           CAST(round(var_pop(l_quantity), 4) AS DOUBLE) AS var_qty,
           CAST(round(regr_slope(l_extendedprice, l_quantity), 4) AS DOUBLE)
             AS slope,
           CAST(round(regr_intercept(l_extendedprice, l_quantity), 2) AS DOUBLE)
             AS intercept,
           CAST(count(*) AS BIGINT) AS n
    FROM {lineitem}
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)

# width_bucket histogram of order value: equi-width binning into 12
# buckets over [0, 600000).  Inputs are floored to integral doubles and
# the bucket width (50000) divides the domain exactly, so Spark's
# width_bucket and the oracle's floor-arithmetic emulation agree exactly
# at every boundary.
register_template(
    "op_width_bucket_hist",
    """
    SELECT CAST(width_bucket(floor(o_totalprice), 0, 600000, 12) AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total_value
    FROM {orders}
    GROUP BY 1
    ORDER BY 1
    """,
    """
    SELECT CASE WHEN floor(o_totalprice) >= 600000 THEN CAST(13 AS BIGINT)
                ELSE CAST(floor(floor(o_totalprice) / 50000) AS BIGINT) + 1
           END AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total_value
    FROM {orders}
    GROUP BY 1
    ORDER BY 1
    """,
)

# Bitwise aggregates (bit_and / bit_or / bit_xor) — set-membership
# rollups over small integer domains.
register_template(
    "op_bit_aggregates",
    """
    SELECT l_returnflag,
           CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS all_bits,
           CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS any_bits,
           CAST(bit_xor(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS parity,
           CAST(count(*) AS BIGINT) AS n
    FROM {lineitem}
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)

# TRY-flavored safe arithmetic: division by a data-dependent zero and a
# failing string→number cast both yield NULL instead of failing the
# query (Trino's try(); Spark's try_divide/try_cast; DuckDB spells the
# same semantics with NULLIF + TRY_CAST).
register_template(
    "op_try_arithmetic",
    """
    SELECT l_returnflag,
           CAST(count(try_divide(l_extendedprice, l_quantity - 25)) AS BIGINT)
             AS ok_divides,
           CAST(round(sum(try_divide(l_extendedprice, l_quantity - 25)), 1)
                AS DOUBLE) AS sum_ratio,
           CAST(count(try_cast(l_returnflag AS DOUBLE)) AS BIGINT)
             AS numeric_flags,
           CAST(count(*) AS BIGINT) AS n
    FROM {lineitem}
    WHERE l_orderkey < 4000
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    """
    SELECT l_returnflag,
           CAST(count(l_extendedprice / nullif(l_quantity - 25, 0)) AS BIGINT)
             AS ok_divides,
           CAST(round(sum(l_extendedprice / nullif(l_quantity - 25, 0)), 1)
                AS DOUBLE) AS sum_ratio,
           CAST(count(TRY_CAST(l_returnflag AS DOUBLE)) AS BIGINT)
             AS numeric_flags,
           CAST(count(*) AS BIGINT) AS n
    FROM {lineitem}
    WHERE l_orderkey < 4000
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)

# GROUPING SETS with grouping marks: grouping(col) distinguishes "NULL
# because not grouped" from data NULLs; the combined grouping id is
# computed portably as grouping(a)*2 + grouping(b).
register_template(
    "op_grouping_marks",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT)
             AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS qty
    FROM {lineitem}
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY gid, l_returnflag, l_linestatus
    """,
)

# Approx-vs-exact quantile tolerance: the t-digest/KLL-style sketch
# (approx_percentile) must land within 1% of the exact interpolated
# quantile.  Oracle-checkable invariant (the boolean + the exact side),
# same pattern as op_approx_distinct.
register_template(
    "op_approx_percentile_tol",
    """
    SELECT CAST(round(percentile(o_totalprice, 0.5), 2) AS DOUBLE) AS exact_p50,
           CAST(round(percentile(o_totalprice, 0.9), 2) AS DOUBLE) AS exact_p90,
           CAST(abs(approx_percentile(o_totalprice, 0.5, 10000)
                    - percentile(o_totalprice, 0.5))
                <= percentile(o_totalprice, 0.5) * 0.01 AS BOOLEAN)
             AS p50_within_tol,
           CAST(abs(approx_percentile(o_totalprice, 0.9, 10000)
                    - percentile(o_totalprice, 0.9))
                <= percentile(o_totalprice, 0.9) * 0.01 AS BOOLEAN)
             AS p90_within_tol,
           CAST(count(*) AS BIGINT) AS n
    FROM {orders}
    """,
    """
    SELECT CAST(round(quantile_cont(o_totalprice, 0.5), 2) AS DOUBLE) AS exact_p50,
           CAST(round(quantile_cont(o_totalprice, 0.9), 2) AS DOUBLE) AS exact_p90,
           CAST(TRUE AS BOOLEAN) AS p50_within_tol,
           CAST(TRUE AS BOOLEAN) AS p90_within_tol,
           CAST(count(*) AS BIGINT) AS n
    FROM {orders}
    """,
)

# Recursive hierarchy walk over table-derived edges (binary-tree parent
# suppkey→suppkey/2): ancestor chain per supplier with depth-to-root.
# Linear recursion, one shuffle per iteration, log2(keyspace) iterations
# — the same bounded-iteration discipline as dedup_clusters.
register_template(
    "op_hierarchy_walk",
    """
    WITH RECURSIVE chain(suppkey, anc, depth) AS (
      SELECT s_suppkey, s_suppkey, 0 FROM {supplier}
      UNION ALL
      SELECT suppkey, CAST(floor(anc / 2.0) AS INT), depth + 1
      FROM chain WHERE anc > 1
    )
    SELECT suppkey,
           CAST(max(depth) AS BIGINT) AS depth_to_root,
           CAST(count(*) AS BIGINT) AS chain_len,
           CAST(sum(anc) AS BIGINT) AS anc_key_sum
    FROM chain
    GROUP BY suppkey
    ORDER BY suppkey
    """,
)

# Blocked fuzzy-match ER join: equi-join on the block key bounds the
# candidate space; levenshtein evaluates only inside blocks.  The
# all-pairs form never appears in the plan (tests/test_plans.py asserts
# no cartesian product).
register_template(
    "op_fuzzy_match",
    """
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM {part} a
    JOIN {part} b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY key_a, key_b
    """,
)


# Equi-depth histogram: 8 equal-count buckets with their value bounds —
# the complement of op_width_bucket_hist's equi-width form.  The Spark
# side computes the global rank with the TWO-LEVEL sharded form (range
# shards → parallel per-shard row_number → broadcast offsets from a
# triangular self-join over the one-row-per-shard counts — the same
# shape as llmprep.budget_select's cumsum), then derives the ntile
# bucket from (rank, n) with exact integer arithmetic: no
# single-partition sort anywhere, so the exact histogram itself scales
# (previously this entry was the labeled exact baseline at ~3x per 3x
# data; the approx_percentile cut-point path remains the cheaper
# alternative when exactness isn't required).  Tiebreak on the key makes
# bucket assignment total-order deterministic, so the sampled shard
# boundaries cannot change any row's rank.  Oracle: plain ntile.
def equidepth_histogram(
    df,
    value_col: str,
    key_col: str,
    k: int = 8,
    shards: int = 32,
):
    """Exact equi-depth histogram over (value, key) total order.

    bucket(r) replicates SQL ntile(k) over n rows: the first n % k
    buckets take ceil(n/k) rows, the rest floor(n/k) — all integer
    arithmetic on the two-level global rank r.
    """
    from pyspark.sql import Window, functions as F

    from dblab_ece_trino_spark.session import materialize

    sharded = materialize(
        df.select(value_col, key_col)
        .repartitionByRange(shards, F.col(value_col), F.col(key_col))
        .withColumn("__shard", F.spark_partition_id())
    )
    w = Window.partitionBy("__shard").orderBy(value_col, key_col)
    local = sharded.withColumn("__lr", F.row_number().over(w))
    counts = sharded.groupBy("__shard").agg(F.count("*").alias("__c"))
    offs = (
        counts.alias("a")
        .join(
            counts.alias("b"), F.col("b.__shard") < F.col("a.__shard"), "left"
        )
        .groupBy(F.col("a.__shard").alias("__shard"))
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__off"))
    )
    total = counts.agg(F.sum("__c").alias("__n")).withColumn("__k", F.lit(1))
    ranked = (
        local.join(F.broadcast(offs), "__shard")
        .withColumn("__r", F.col("__off") + F.col("__lr"))
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(total), "__k")
        .withColumn(
            "bucket",
            F.expr(
                f"CAST(CASE WHEN __r <= (__n % {k}) * (__n DIV {k} + 1) "
                f"THEN (__r - 1) DIV (__n DIV {k} + 1) + 1 "
                f"ELSE (__n % {k}) "
                f"  + (__r - (__n % {k}) * (__n DIV {k} + 1) - 1) "
                f"    DIV (__n DIV {k}) + 1 END AS INT)"
            ),
        )
    )
    return (
        ranked.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
        .orderBy("bucket")
    )


def _q_equidepth(spark, sf_dir):
    from dblab_ece_trino_spark.entrypoints import engine_for

    orders = engine_for(spark, sf_dir).catalogs.table("mongodb.tpch.orders")
    return equidepth_histogram(orders, "o_totalprice", "o_orderkey", k=8)


register(
    "op_equidepth_hist",
    _q_equidepth,
    oracle="""
    WITH t AS (
      SELECT o_totalprice,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM t
    GROUP BY bucket
    ORDER BY bucket
    """,
)


# Ordered string aggregation (SQL-standard LISTAGG ... WITHIN GROUP in
# Spark 4; DuckDB spells it string_agg with an ORDER BY argument).
# Explicit ordering makes the concatenation deterministic.
register_template(
    "op_string_agg",
    """
    SELECT c_nationkey,
           listagg(c_name, '|') WITHIN GROUP (ORDER BY c_name) AS names,
           CAST(count(*) AS BIGINT) AS n
    FROM {customer}
    WHERE c_custkey < 200
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    """
    SELECT c_nationkey,
           string_agg(c_name, '|' ORDER BY c_name) AS names,
           CAST(count(*) AS BIGINT) AS n
    FROM {customer}
    WHERE c_custkey < 200
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)

# median + mode.  median runs over integer cents: interpolation of two
# integers is exactly representable in double under either engine's
# formula ((a+b)/2 vs a+(b-a)*0.5 agree exactly for ints < 2^52), so no
# rounding is needed.  mode is deterministic here structurally:
# l_linenumber frequencies are strictly decreasing in the line number,
# so the modal value (1) is uniquely most frequent in every group.
register_template(
    "op_median_mode",
    """
    SELECT l_returnflag,
           CAST(median(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                AS DOUBLE) AS median_price_cents,
           CAST(mode(CAST(l_linenumber AS BIGINT)) AS BIGINT)
             AS modal_linenumber,
           CAST(count(*) AS BIGINT) AS n
    FROM {lineitem}
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)


# Mergeable-sketch rollup: per-day HLL sketches of distinct users,
# unioned into weekly estimates (Spark 3.5+ Apache DataSketches
# hll_sketch_agg / hll_union_agg).  THE 100-TB distinct-count pattern:
# the expensive pass over the raw event log happens ONCE at the finest
# grain, and every coarser rollup (week here; month/quarter/dashboard
# the same way) unions kilobyte sketches instead of re-scanning -- a
# count(DISTINCT) per window re-reads the log per window and shuffles
# raw user ids each time.  Sketches are deterministic (no RNG at agg
# time), so the within-tolerance boolean is stable; the oracle pins the
# exact per-week distinct counts and asserts the estimate lands within
# the documented +/-5% (>3 sigma for lgK=12's 1.6% rsd), mirroring the
# op_approx_distinct tolerance-oracle idiom.
def _op_hll_rollup(spark, sf_dir):
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.entrypoints import engine_for

    ev = engine_for(spark, sf_dir).catalogs.table("elastic.default.events")
    daily = ev.select(
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    sketches = daily.groupBy("week", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly_est = sketches.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = daily.groupBy("week").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return exact.join(weekly_est, "week").select(
        "week",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


register(
    "op_hll_rollup",
    _op_hll_rollup,
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           count(DISTINCT user_id) AS exact_users,
           true AS within_5pct
    FROM events
    GROUP BY 1
    """,
)


# RANGE-frame window: rolling 28-day revenue per customer.  The frame is
# VALUE-based (epoch-day RANGE BETWEEN 27 PRECEDING), not row-based --
# gaps in a customer's order history shrink the window contents, which
# ROWS frames get wrong.  Daily pre-aggregation (the GROUP BY under the
# window) bounds per-partition window input to distinct active days, and
# revenue stays DECIMAL until the final cast so the windowed sum is
# exact under any partitioning.  Engines differ only in the epoch-day
# expression; the frame semantics are identical.
_RANGE_FRAME_TPL = """
    WITH drev AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS day,
             {epoch_day} AS ed,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
               AS rev
      FROM {orders}
      GROUP BY 1, 2, 3
    )
    SELECT o_custkey, day,
           CAST(sum(rev) OVER (
             PARTITION BY o_custkey ORDER BY ed
             RANGE BETWEEN 27 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rev_28d
    FROM drev
"""

register_sql(
    "op_rolling_revenue_28d",
    _RANGE_FRAME_TPL.replace(
        "{epoch_day}", "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
    ).format(**_SPARK_TABLES),
    _RANGE_FRAME_TPL.replace(
        "{epoch_day}",
        "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))",
    ).format(**_ORACLE_TABLES),
)


# Winsorization: clamp a value column at its per-group p05/p95 before
# aggregating — the standard outlier-robust sum/mean.  Thresholds are
# DISCRETE percentiles (actual group elements, no interpolation) found
# from a WEIGHTED VALUE HISTOGRAM: groupBy(group, value) first (map-side
# combinable; the distinct-value domain is bounded by the price grid —
# 594k distinct cents under 6M AND under 18M replica rows — so the
# frame STOPS GROWING with the corpus), then a two-level cumulative
# count over range-sharded distinct values (per-shard running sums +
# broadcast per-(group, shard) offsets — op_equidepth_hist's rank
# machinery, weighted).  percentile_disc(f) = smallest value whose
# cumulative count reaches ceil(f·n), with ceil done in integers
# ((n + 19) div 20 for p05), so the oracle's percentile_disc matches
# bit-for-bit.  The alternatives measured on the x10/x30 replicas: a
# plain percentile_disc aggregate pins each group's whole value set in
# one task (flat ~9 s but O(group) memory — dies at 100 TB); ranking
# the raw rows instead of the histogram costs a sample pass + full-fact
# checkpoint + window (26 s at x30 vs ~6 s for this form).
def _q_winsorize(spark, sf_dir):
    from pyspark.sql import functions as F

    # ONE fact pass into the SESSION-SHARED histogram + rank (r16:
    # shared_price_cum — winsorize/MAD/boxplot probe identical frames):
    # the final clamped sum and clamp counts are weighted aggregations
    # of the SAME histogram the thresholds come from
    vf, cum = shared_price_cum(spark, sf_dir)
    th = thresholds_from_cum(
        cum, "l_returnflag", "c", {"lo": (1, 20), "hi": (19, 20)}
    )
    zero = F.lit(0)
    return (
        vf.join(F.broadcast(th), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.when(F.col("c") < F.col("lo"), F.col("cnt")).otherwise(zero))
            .cast("long")
            .alias("n_low_clamped"),
            F.sum(F.when(F.col("c") > F.col("hi"), F.col("cnt")).otherwise(zero))
            .cast("long")
            .alias("n_high_clamped"),
            F.sum(
                F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi"))
                * F.col("cnt")
            )
            .cast("long")
            .alias("winsorized_cents"),
        )
        .orderBy("l_returnflag")
    )


register(
    "op_winsorize",
    _q_winsorize,
    oracle="""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
      FROM lineitem
    ),
    th AS (
      SELECT l_returnflag,
             CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY c)
               AS BIGINT) AS lo,
             CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY c)
               AS BIGINT) AS hi
      FROM cents
      GROUP BY l_returnflag
    )
    SELECT c.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(c.c < t.lo) AS BIGINT) AS n_low_clamped,
           CAST(count_if(c.c > t.hi) AS BIGINT) AS n_high_clamped,
           CAST(sum(least(greatest(c.c, t.lo), t.hi)) AS BIGINT)
             AS winsorized_cents
    FROM cents c
    JOIN th t ON c.l_returnflag = t.l_returnflag
    GROUP BY c.l_returnflag
    ORDER BY c.l_returnflag
    """,
)


# Deequ-style data-quality expectation suite: declared invariants
# (non-null keys, positive amounts, domain membership, date range, key
# uniqueness) verified in ONE scan as conditional aggregates — the
# pre-publish gate a warehouse runs on every load.  Output is a single
# verdict row; at 100 TB this is a map-side-combinable single pass
# whatever the table width, which is why expectation suites are cheap
# enough to run on every batch.
register_template(
    "wh_expectations",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count_if(o_custkey IS NULL) AS BIGINT) AS null_custkey,
           CAST(count_if(o_totalprice <= 0) AS BIGINT) AS nonpositive_price,
           CAST(count_if(o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
             AS bad_status,
           CAST(count_if(CAST(o_orderdate AS DATE) < DATE '1992-01-01'
                      OR CAST(o_orderdate AS DATE) > DATE '1998-12-31')
             AS BIGINT) AS date_out_of_range,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
             AS duplicate_keys,
           (count_if(o_custkey IS NULL) = 0
            AND count_if(o_totalprice <= 0) = 0
            AND count_if(o_orderstatus NOT IN ('O', 'F', 'P')) = 0
            AND count(*) = count(DISTINCT o_orderkey)) AS all_passed
    FROM {orders}
    """,
)


# 2-D skyline (Pareto frontier): the days whose best order price is not
# dominated by any LATER day — "(recency, price) skyline", the classic
# multi-criteria operator.  Scalable form: one per-day max agg (the only
# full-data pass), then a running max over the calendar-bounded daily
# frame scanned in day-descending order — a point survives iff it beats
# every later day's best.  The quadratic NOT-EXISTS self-join the
# textbook definition implies never materializes.  max() is
# order-insensitive so doubles are safe without rounding.
register_template(
    "op_skyline_2d",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS best_price
      FROM {orders}
      GROUP BY 1
    ),
    w AS (
      SELECT day, best_price,
             max(best_price) OVER (ORDER BY day DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS later_best
      FROM daily
    )
    SELECT day, best_price
    FROM w
    WHERE later_best IS NULL OR best_price > later_best
    ORDER BY day
    """,
)


def grouped_cum_rank(vf, group_col, value_col, shards=None):
    """TWO-LEVEL cumulative rank over a weighted value histogram —
    range-sharded per-shard running sums plus broadcast per-(group,
    shard) offsets — so no group's value set ever sits in one task.
    Returns the ``cum`` frame carrying (group_col, value_col, __cum,
    __n); any set of discrete-percentile thresholds is then ONE keyed
    aggregate over it (``thresholds_from_cum``).  Split out of
    ``grouped_disc_thresholds`` in r16 so consumers that probe the
    SAME histogram repeatedly (the shared price histogram) rank it
    once."""
    from pyspark.sql import Window, functions as F

    from dblab_ece_trino_spark.session import materialize

    shards = shards or vf.sparkSession.sparkContext.defaultParallelism
    sharded = materialize(
        vf.repartitionByRange(
            shards, F.col(group_col), F.col(value_col)
        ).withColumn("__shard", F.spark_partition_id())
    )
    w = (
        Window.partitionBy(group_col, "__shard")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_cum = sharded.withColumn("__lc", F.sum("cnt").over(w))
    counts = sharded.groupBy(group_col, "__shard").agg(
        F.sum("cnt").alias("__c")
    )
    offs = (
        counts.alias("a")
        .join(
            counts.alias("b"),
            (F.col(f"b.{group_col}") == F.col(f"a.{group_col}"))
            & (F.col("b.__shard") < F.col("a.__shard")),
            "left",
        )
        .groupBy(
            F.col(f"a.{group_col}").alias(group_col),
            F.col("a.__shard").alias("__shard"),
        )
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__off"))
    )
    totals = counts.groupBy(group_col).agg(F.sum("__c").alias("__n"))
    return (
        local_cum.join(F.broadcast(offs), [group_col, "__shard"])
        .withColumn("__cum", F.col("__off") + F.col("__lc"))
        .join(F.broadcast(totals), group_col)
    )


def thresholds_from_cum(cum, group_col, value_col, fracs):
    """Discrete-percentile thresholds from a ``grouped_cum_rank`` frame:
    the smallest value whose cumulative weight reaches ceil(num*n/den),
    all integer arithmetic, bit-identical to DuckDB's
    percentile_disc."""
    from pyspark.sql import functions as F

    aggs = [
        F.min(
            F.when(
                F.col("__cum")
                >= F.expr(f"({num} * __n + {den - 1}) div {den}"),
                F.col(value_col),
            )
        ).alias(name)
        for name, (num, den) in fracs.items()
    ]
    return cum.groupBy(group_col).agg(*aggs)


def grouped_disc_thresholds(vf, group_col, value_col, fracs, shards=None):
    """Exact per-group discrete percentiles (percentile_disc semantics)
    from a weighted value histogram — see ``grouped_cum_rank`` for the
    two-level rank design and ``thresholds_from_cum`` for the
    threshold pick.

    ``vf`` is the histogram frame: (group_col, value_col, cnt).  Its
    cardinality is the DISTINCT value domain per group (the price grid
    here), which stops growing with the corpus — the property that
    makes this form flat at x30 where a native median()/percentile
    aggregate grows 4x (measured; see op_winsorize / op_mad_outliers
    block comments).  ``fracs`` maps output column name -> (num, den).
    """
    return thresholds_from_cum(
        grouped_cum_rank(vf, group_col, value_col, shards),
        group_col,
        value_col,
        fracs,
    )


@shared_build(
    consumers=(
        "op_winsorize",
        "op_mad_outliers",
        "op_boxplot_stats",
    )
)
def shared_price_cum(spark, sf_dir):
    """ONE (l_returnflag, price-cents) weighted histogram + its ranked
    cumulative frame, cached per (session, sf_dir) — the
    shared_ivf_build precedent applied to the discrete-percentile
    family (round-16): ``op_winsorize``, ``op_mad_outliers`` and
    ``op_boxplot_stats`` each re-scanned lineitem into the IDENTICAL
    histogram and re-ranked it for bit-identical cumulative counts.
    At 100 TB the value-domain histogram is the profile-store artifact
    a warehouse refreshes once per load and probes for every
    percentile-family statistic — the production shape.  Returns
    (vf, cum), both materialized; construction is deterministic
    (integer counts, integer two-level rank), so reuse is
    value-identical."""
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.session import materialize

    li = engine_for(spark, sf_dir).catalogs.table("psql.tpch.lineitem")
    vf = materialize(
        li.select(
            "l_returnflag",
            F.expr(
                "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
            ).alias("c"),
        )
        .groupBy("l_returnflag", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = materialize(grouped_cum_rank(vf, "l_returnflag", "c"))
    return vf, cum


# Robust dispersion: median absolute deviation with a 3-MAD outlier
# count per group — the outlier-resistant companion to op_winsorize's
# percentile clamp.  DISCRETE medians (percentile_disc semantics) from
# the same weighted-value-histogram rank machinery winsorize uses
# (grouped_disc_thresholds below): the value domain is the price grid
# (~594k distinct cents at x30, then the deviation grid after
# centering), so the histogram frames STOP GROWING with the corpus and
# every statistic is exact integer arithmetic end-to-end.  The native
# interpolating median() form was measured first and REJECTED: 11.7s at
# x10 -> 47.8s at x30 (4.1x at 3x data — per-group value sets pinned in
# one task, the ceiling the winsorize block documents).  ONE
# map-side-combinable fact pass (the (flag, cents) histogram); the
# deviation histogram and the outlier/row counts are all derived from
# that histogram by weighted aggregation (work ∝ the price grid, which
# stops growing with the corpus), not by re-scanning facts — the
# round-7 re-plan of the original three-fact-pass form (4.6 s -> see
# SCALE.md; identical values, counts summed from weights instead of
# per-row).
def _q_mad_outliers(spark, sf_dir):
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.session import materialize

    # the ONLY fact pass: the SESSION-SHARED histogram + rank (r16,
    # shared_price_cum) feeds both the median pick and the deviation
    # re-histogram below
    vf, cum = shared_price_cum(spark, sf_dir)
    med = thresholds_from_cum(cum, "l_returnflag", "c", {"med": (1, 2)})
    vf2 = materialize(
        vf.join(F.broadcast(med), "l_returnflag")
        .withColumn("adev", F.abs(F.col("c") - F.col("med")))
        .groupBy("l_returnflag", "med", "adev")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = grouped_disc_thresholds(vf2, "l_returnflag", "adev", {"mad": (1, 2)})
    return (
        vf2.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.max("med").cast("long").alias("median_cents"),
            F.max("mad").cast("long").alias("mad_cents"),
            F.sum("cnt").cast("long").alias("n"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), F.col("cnt"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


register(
    "op_mad_outliers",
    _q_mad_outliers,
    oracle="""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
      FROM lineitem
    ),
    med AS (
      SELECT l_returnflag,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c)
               AS BIGINT) AS med
      FROM cents GROUP BY l_returnflag
    ),
    dev AS (
      SELECT c.l_returnflag, c.c, m.med, abs(c.c - m.med) AS adev
      FROM cents c JOIN med m ON c.l_returnflag = m.l_returnflag
    ),
    mad AS (
      SELECT l_returnflag,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)
               AS BIGINT) AS mad
      FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           CAST(max(d.med) AS BIGINT) AS median_cents,
           CAST(max(m.mad) AS BIGINT) AS mad_cents,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(d.adev > 3 * m.mad) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
    GROUP BY d.l_returnflag
    ORDER BY d.l_returnflag
    """,
)


# Five-number boxplot summary per group — discrete Q1/Q3 (exact
# percentile_disc semantics from the shared weighted-histogram rank,
# the op_winsorize/op_mad_outliers machinery), integer IQR, and the
# Tukey 1.5-IQR outlier count with the fence test kept in EXACT
# integers (2*c < 2*q1 - 3*iqr, avoiding the half-unit float): the
# per-group profile every quality dashboard draws, and the third
# consumer of grouped_disc_thresholds — the histogram frame is the
# bounded price grid, so the form stays flat as the corpus grows.
def _q_boxplot_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    # ONE fact pass: the SESSION-SHARED histogram + rank (r16,
    # shared_price_cum); the Tukey fence count is a weighted
    # aggregation of the SAME histogram the quartiles come from
    vf, cum = shared_price_cum(spark, sf_dir)
    qs = thresholds_from_cum(
        cum, "l_returnflag", "c", {"q1": (1, 4), "med": (1, 2), "q3": (3, 4)}
    )
    return (
        vf.join(F.broadcast(qs), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.max("q1").cast("long").alias("q1_cents"),
            F.max("med").cast("long").alias("median_cents"),
            F.max("q3").cast("long").alias("q3_cents"),
            (F.max("q3") - F.max("q1")).cast("long").alias("iqr_cents"),
            F.sum(
                F.when(
                    (2 * F.col("c")
                     < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")))
                    | (2 * F.col("c")
                       > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


register(
    "op_boxplot_stats",
    _q_boxplot_stats,
    oracle="""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
      FROM lineitem
    ),
    qs AS (
      SELECT l_returnflag,
             CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY c)
               AS BIGINT) AS q1,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c)
               AS BIGINT) AS med,
             CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY c)
               AS BIGINT) AS q3
      FROM cents GROUP BY l_returnflag
    )
    SELECT c.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(q.q1) AS BIGINT) AS q1_cents,
           CAST(max(q.med) AS BIGINT) AS median_cents,
           CAST(max(q.q3) AS BIGINT) AS q3_cents,
           CAST(max(q.q3) - max(q.q1) AS BIGINT) AS iqr_cents,
           CAST(count_if(
             2 * c.c < 2 * q.q1 - 3 * (q.q3 - q.q1)
             OR 2 * c.c > 2 * q.q3 + 3 * (q.q3 - q.q1)
           ) AS BIGINT) AS n_outliers
    FROM cents c JOIN qs q ON c.l_returnflag = q.l_returnflag
    GROUP BY c.l_returnflag
    ORDER BY c.l_returnflag
    """,
)


# Wald–Wolfowitz runs test on the daily-revenue series: is the sequence
# of above/below-median days random, or does it trend/cluster?  The
# series frame is calendar-bounded (~2500 rows at any corpus size —
# the fact scan is the only corpus term), so the unpartitioned
# row_number/lag windows are bounded state, the ts_mom_yoy precedent.
# Ties with the median are dropped on both engines (the standard
# treatment), and the tie test is INTEGER-exact: lo/hi are the two
# discrete middle elements (rank floor/ceil of (n+1)/2), a day is a tie
# iff 2*cents = lo + hi, above iff 2*cents > lo + hi — equivalent to
# comparing against the interpolated median lo + (hi-lo)/2 but with no
# float in the keep decision (the round-5 ADVICE item: daily cent sums
# beyond 2^53 would make cross-engine double equality unreliable).
# Counts and the run total are exact integers; z is one per-row IEEE
# expression over them.
register_template(
    "op_runs_test",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS BIGINT) AS cents
      FROM {orders}
      GROUP BY CAST(o_orderdate AS DATE)
    ),
    ranked AS (
      SELECT d, cents,
             row_number() OVER (ORDER BY cents) AS rn,
             count(*) OVER () AS n
      FROM daily
    ),
    med AS (
      SELECT max(CASE WHEN 2 * rn <= n + 1 THEN cents END) AS lo,
             min(CASE WHEN 2 * rn >= n + 1 THEN cents END) AS hi
      FROM ranked
    ),
    signs AS (
      SELECT d, CASE WHEN 2 * cents > lo + hi THEN 1 ELSE 0 END AS up
      FROM daily CROSS JOIN med
      WHERE 2 * cents <> lo + hi
    ),
    runs AS (
      SELECT up,
             CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                    OR lag(up) OVER (ORDER BY d) <> up
                  THEN 1 ELSE 0 END AS newrun
      FROM signs
    ),
    agg AS (
      SELECT CAST(sum(up) AS BIGINT) AS n1,
             CAST(sum(1 - up) AS BIGINT) AS n2,
             CAST(sum(newrun) AS BIGINT) AS r
      FROM runs
    )
    SELECT n1, n2, r,
           (CAST(r AS DOUBLE)
              - (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1))
             / sqrt(2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                    / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1)))
             AS z_runs
    FROM agg
    """,
)


# Benford first-digit conformance audit over order totals — the classic
# fraud / data-fabrication screen: naturally-occurring multi-magnitude
# amounts follow P(d) = log10(1 + 1/d); fabricated or truncated data
# doesn't.  Exactness discipline: the leading digit is taken from the
# STRING rendering of exact integer cents (no log10(value) — the
# magnitude trick rides libm), per-digit counts are one conditional
# aggregate (map-side combinable, one scan), and the chi-square
# statistic is a FIXED-TEXTUAL-ORDER 9-term expression over those exact
# counts and hardcoded double literals of log10(1+1/d) — computing the
# constants with log10() at runtime would put a not-correctly-rounded
# libm call on both engines; literals make the finale pure
# per-row IEEE arithmetic, bit-identical everywhere (the bm25
# fixed-order-sum discipline).
def _register_benford() -> None:
    probs = [
        "0.3010299956639812", "0.17609125905568124", "0.12493873660829992",
        "0.09691001300805642", "0.07918124604762482", "0.06694678963061322",
        "0.05799194697768673", "0.05115252244738129", "0.04575749056067514",
    ]
    count_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN d = {i + 1} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n{i + 1}"
        for i in range(9)
    )
    chi_terms = " + ".join(
        f"(CAST(n{i + 1} AS DOUBLE) - CAST(n AS DOUBLE) * {p})"
        f" * (CAST(n{i + 1} AS DOUBLE) - CAST(n AS DOUBLE) * {p})"
        f" / (CAST(n AS DOUBLE) * {p})"
        for i, p in enumerate(probs)
    )
    tpl = f"""
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM {{orders}}
      WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT CAST(substr(CAST(c AS STRING), 1, 1) AS INT) AS d FROM cents
    ),
    counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {count_cols}
      FROM digits
    )
    SELECT n, n1, n2, n3, n4, n5, n6, n7, n8, n9,
           {chi_terms} AS chi2
    FROM counts
    """
    register_template("op_benford_test", tpl)


_register_benford()


# Chi-square test of independence between return flag and line status —
# the categorical-association companion to op_benford_test: same
# exactness discipline (per-cell counts are one conditional aggregate
# over a single scan, all exact BIGINTs; expected counts and the
# statistic are a FIXED-TEXTUAL-ORDER per-row expression over those
# integers, so both engines compute bit-identical doubles).  The cell
# grid is the known (A,N,R) x (F,O) domain — hardcoding it is what
# makes the fixed evaluation order possible; a pivoted dynamic grid
# would put a float sum over an unordered GROUP BY in the finale.
def _register_chi2_independence() -> None:
    flags, statuses = ["A", "N", "R"], ["F", "O"]
    cells = [(f, s) for f in flags for s in statuses]
    count_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN l_returnflag = '{f}' AND l_linestatus = '{s}'"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS n_{f}{s}"
        for f, s in cells
    )
    row_tot = {f: " + ".join(f"n_{f}{s}" for s in statuses) for f in flags}
    col_tot = {s: " + ".join(f"n_{f}{s}" for f in flags) for s in statuses}
    chi_terms = " + ".join(
        f"(CAST(n_{f}{s} AS DOUBLE)"
        f" - CAST({row_tot[f]} AS DOUBLE) * CAST({col_tot[s]} AS DOUBLE)"
        f" / CAST(n AS DOUBLE))"
        f" * (CAST(n_{f}{s} AS DOUBLE)"
        f" - CAST({row_tot[f]} AS DOUBLE) * CAST({col_tot[s]} AS DOUBLE)"
        f" / CAST(n AS DOUBLE))"
        f" / (CAST({row_tot[f]} AS DOUBLE) * CAST({col_tot[s]} AS DOUBLE)"
        f" / CAST(n AS DOUBLE))"
        for f, s in cells
    )
    sel = ", ".join(f"n_{f}{s}" for f, s in cells)
    tpl = f"""
    WITH counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {count_cols}
      FROM {{lineitem}}
      WHERE l_returnflag IN ('A', 'N', 'R') AND l_linestatus IN ('F', 'O')
    )
    SELECT n, {sel},
           {chi_terms} AS chi2,
           CAST(2 AS BIGINT) AS dof
    FROM counts
    """
    register_template("op_chi2_independence", tpl)


_register_chi2_independence()


# Two-sample Kolmogorov–Smirnov test between the A and R return flags'
# daily-revenue distributions — "are these two samples from the same
# distribution?" without any normality assumption.  EXACT beyond the
# usual treatment: the KS statistic max |F1 - F2| is computed by
# cross-multiplication over the cumulative integer counts
# (|n2*c1 - n1*c2|, maximized as a BIGINT), evaluated on the DISTINCT
# value frame so ties are handled by construction (both ecdfs step
# after all rows of a value); only the final division to D is a
# per-row IEEE op.  The cumulative windows run over the distinct daily
# cent values — a calendar-bounded frame (~2500 days x 2 flags), the
# op_runs_test precedent, so the unpartitioned window is bounded state
# at any corpus size and the fact scan is the only corpus term.
register_template(
    "op_ks_test",
    """
    WITH daily AS (
      SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
               AS BIGINT) AS cents
      FROM {lineitem}
      WHERE l_returnflag IN ('A', 'R')
      GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
    ),
    vals AS (
      SELECT cents,
             CAST(sum(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS a_cnt,
             CAST(sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS r_cnt
      FROM daily GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             sum(a_cnt) OVER (ORDER BY cents
               ROWS UNBOUNDED PRECEDING) AS c1,
             sum(r_cnt) OVER (ORDER BY cents
               ROWS UNBOUNDED PRECEDING) AS c2,
             sum(a_cnt) OVER () AS n1,
             sum(r_cnt) OVER () AS n2
      FROM vals
    )
    SELECT CAST(max(n1) AS BIGINT) AS n1,
           CAST(max(n2) AS BIGINT) AS n2,
           CAST(max(abs(n2 * c1 - n1 * c2)) AS BIGINT) AS d_num,
           CAST(max(abs(n2 * c1 - n1 * c2)) AS DOUBLE)
             / (CAST(max(n1) AS DOUBLE) * CAST(max(n2) AS DOUBLE))
             AS ks_d
    FROM cum
    """,
)


# Mann–Whitney U (Wilcoxon rank-sum) between the same two samples — the
# nonparametric location test.  Midranks for ties stay INTEGER by
# working in doubled units: a value with p pooled predecessors and t
# ties has midrank (2p + t + 1)/2, so the doubled rank sum
# R1x2 = sum a_cnt * (2p + t + 1) and the doubled statistic
# u1_x2 = R1x2 - n1*(n1+1) are exact BIGINTs under any partitioning.
# The tie-corrected variance term sum(t^3 - t) is likewise exact; the
# z finale is one per-row IEEE expression.  Same bounded distinct-value
# frame as op_ks_test.
register_template(
    "op_mann_whitney",
    """
    WITH daily AS (
      SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
               AS BIGINT) AS cents
      FROM {lineitem}
      WHERE l_returnflag IN ('A', 'R')
      GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
    ),
    vals AS (
      SELECT cents,
             CAST(sum(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS a_cnt,
             CAST(count(*) AS BIGINT) AS t
      FROM daily GROUP BY cents
    ),
    cum AS (
      SELECT a_cnt, t,
             coalesce(sum(t) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
             sum(a_cnt) OVER () AS n1,
             sum(t) OVER () AS n
      FROM vals
    ),
    agg AS (
      SELECT CAST(max(n1) AS BIGINT) AS n1,
             CAST(max(n) - max(n1) AS BIGINT) AS n2,
             CAST(max(n) AS BIGINT) AS n,
             CAST(sum(a_cnt * (2 * p + t + 1)) AS BIGINT) AS r1_x2,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_cubes
      FROM cum
    )
    SELECT n1, n2, r1_x2, tie_cubes,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           ((CAST(r1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2
              - CAST(n1 AS DOUBLE) * n2 / 2)
             / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                    * ((CAST(n AS DOUBLE) + 1)
                       - CAST(tie_cubes AS DOUBLE)
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))))
             AS z_u
    FROM agg
    """,
)


# Gini coefficient of per-customer spend — the inequality measure every
# revenue-concentration dashboard wants (how much of the book do the
# top customers carry).  G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) over
# ascending-sorted exact integer cents.  The global rank i is the
# TWO-LEVEL SHARDED row_number (range-repartition on the full sort key,
# per-shard local ranks, broadcast shard offsets — the
# llm_budget_select / llm_quantile_normalize discipline), so no
# single-partition window touches the per-customer frame at any scale;
# the rank-weighted sum Σ i·x_i is accumulated as DECIMAL(38,0)
# (i·x reaches ~1e20 at warehouse scale — past BIGINT, exact in
# decimal), and the Gini finale is one per-row IEEE expression over
# the exact totals.
def _register_gini() -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.session import materialize

    def _q(spark, sf_dir):
        from dblab_ece_trino_spark.entrypoints import engine_for

        o = engine_for(spark, sf_dir).catalogs.table("mongodb.tpch.orders")
        spend = o.groupBy("o_custkey").agg(
            F.sum(
                F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            ).alias("x")
        )
        shards = 32
        sharded = materialize(
            spend.repartitionByRange(shards, F.col("x"), F.col("o_custkey"))
            .withColumn("__shard", F.spark_partition_id())
        )
        counts = sharded.groupBy("__shard").agg(F.count("*").alias("__c"))
        offs = (
            counts.alias("a")
            .join(counts.alias("b"), F.col("b.__shard") < F.col("a.__shard"), "left")
            .groupBy(F.col("a.__shard").alias("__shard"))
            .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__off"))
        )
        ranked = (
            sharded.withColumn(
                "__lr",
                F.row_number().over(
                    Window.partitionBy("__shard").orderBy("x", "o_custkey")
                ),
            )
            .join(F.broadcast(offs), "__shard")
            .withColumn("i", (F.col("__off") + F.col("__lr")).cast("long"))
        )
        agg = ranked.agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("x").cast("long").alias("total_cents"),
            F.sum(
                (F.col("i").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
                .cast("decimal(38,0)")
            ).alias("__w"),
        )
        return agg.selectExpr(
            "n_customers",
            "total_cents",
            "(2 * CAST(__w AS DOUBLE)"
            " - (CAST(n_customers AS DOUBLE) + 1) * CAST(total_cents AS DOUBLE))"
            " / (CAST(n_customers AS DOUBLE) * CAST(total_cents AS DOUBLE))"
            " AS gini",
        )

    register(
        "op_gini_spend",
        _q,
        oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
      FROM spend
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(x) AS BIGINT) AS total_cents,
             sum(CAST(CAST(i AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
                 AS DECIMAL(38,0))) AS w
      FROM ranked
    )
    SELECT n_customers, total_cents,
           (2 * CAST(w AS DOUBLE)
              - (CAST(n_customers AS DOUBLE) + 1) * CAST(total_cents AS DOUBLE))
             / (CAST(n_customers AS DOUBLE) * CAST(total_cents AS DOUBLE))
             AS gini
    FROM agg
    """,
    )


_register_gini()


# ABC / Pareto revenue classification of parts — the merchandising
# 80/95 cut: class A parts carry the first 80% of cumulative revenue
# (descending), B the next 15%, C the tail.  The running revenue total
# is the TWO-LEVEL SHARDED cumsum (range-repartition on the full sort
# key (cents DESC, partkey), per-shard prefix sums, broadcast shard
# offsets — the llm_budget_select discipline; no single-partition
# window ever sees the per-part frame), and the class cuts are EXACT
# integer cross-multiplications (5*cum <= 4*total, 20*cum <= 19*total),
# so boundary parts classify identically on both engines.  Per-class
# revenue shares are one per-row IEEE division in the 3-row readout.
def _register_abc_pareto() -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.session import materialize

    def _q(spark, sf_dir):
        from dblab_ece_trino_spark.entrypoints import engine_for

        li = engine_for(spark, sf_dir).catalogs.table("psql.tpch.lineitem")
        spend = li.groupBy("l_partkey").agg(
            F.sum(
                F.expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
            ).alias("cents")
        )
        shards = 32
        sharded = materialize(
            spend.repartitionByRange(
                shards, F.col("cents").desc(), F.col("l_partkey")
            ).withColumn("__shard", F.spark_partition_id())
        )
        w = (
            Window.partitionBy("__shard")
            .orderBy(F.col("cents").desc(), F.col("l_partkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        local = sharded.withColumn("__lc", F.sum("cents").over(w))
        totals = sharded.groupBy("__shard").agg(F.sum("cents").alias("__t"))
        offs = (
            totals.alias("a")
            .join(totals.alias("b"), F.col("b.__shard") < F.col("a.__shard"), "left")
            .groupBy(F.col("a.__shard").alias("__shard"))
            .agg(F.coalesce(F.sum("b.__t"), F.lit(0)).alias("__off"))
        )
        grand = totals.agg(F.sum("__t").alias("__tot")).withColumn("__k", F.lit(1))
        classed = (
            local.join(F.broadcast(offs), "__shard")
            .withColumn("cum", F.col("__off") + F.col("__lc"))
            .withColumn("__k", F.lit(1))
            .join(F.broadcast(grand), "__k")
            .withColumn(
                "abc_class",
                # cross-multiply in DECIMAL(38,0): 20 * cum would pass
                # int64 once total revenue exceeds ~4.6e17 cents, where
                # Spark (non-ANSI) wraps silently; DuckDB's HUGEINT
                # side never had the hazard
                F.expr(
                    "CASE WHEN 5 * CAST(cum AS DECIMAL(38,0))"
                    "       <= 4 * CAST(__tot AS DECIMAL(38,0)) THEN 'A'"
                    " WHEN 20 * CAST(cum AS DECIMAL(38,0))"
                    "       <= 19 * CAST(__tot AS DECIMAL(38,0)) THEN 'B'"
                    " ELSE 'C' END"
                ),
            )
        )
        return (
            classed.groupBy("abc_class")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_parts"),
                F.sum("cents").cast("long").alias("cents"),
                (F.sum("cents") / F.max("__tot")).alias("revenue_share"),
            )
            .orderBy("abc_class")
        )

    register(
        "op_abc_pareto",
        _q,
        oracle="""
    WITH spend AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
               AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cents) OVER () AS tot
      FROM spend
    ),
    classed AS (
      SELECT cents, tot,
             CASE WHEN 5 * cum <= 4 * tot THEN 'A'
                  WHEN 20 * cum <= 19 * tot THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(sum(cents) AS DOUBLE) / CAST(max(tot) AS DOUBLE)
             AS revenue_share
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
    """,
    )


_register_abc_pareto()


def _register_moments_profile() -> None:
    """Higher-moment distribution profile — population variance,
    skewness g1 = m3/m2^1.5 and excess kurtosis g2 = m4/m2^2 - 3
    (Pearson's moment coefficients; the shape diagnostics every
    profiling pass reports next to mean/median) — per event-type over
    the daily revenue series.

    Exactness discipline: all power sums are computed over ANCHORED
    integers d = v - (S1 div n) (the per-type floor mean, itself an
    exact integer from a first window pass), so the DECIMAL(38,0)/
    HUGEINT numerators

      A2 = n*Sd2 - Sd1^2                       (= n^2 * m2)
      A3 = n^2*Sd3 - 3n*Sd1*Sd2 + 2*Sd1^3      (= n^3 * m3)
      A4 = n^3*Sd4 - 4n^2*Sd1*Sd3
           + 6n*Sd1^2*Sd2 - 3*Sd1^4            (= n^4 * m4)

    stay tiny (central moments are translation-invariant, and
    Sd1 = S1 mod n < n by construction; without anchoring, 3*S1^4
    alone overflows 38 digits at realistic cents).  Exact while
    n^3 * Sd4 < 1e38 — per-day deviations to ~$40k over a 2,400-day
    span; past that, fold d to a coarser fixed unit.  The finale is
    ONE double expression per tiny row — A3/(A2*sqrt(A2)) and
    A4/(A2*A2) - 3 use only *, / and IEEE-correctly-rounded sqrt, with
    identical text on both engines (the assortativity precedent; no
    libm pow anywhere), NULL on constant series via an exact zero
    guard.

    100 TB shape: one events scan to the (type, day) frame (map-side
    combinable), the anchor as a whole-partition window over the tiny
    per-type daily frame, one keyed aggregation, scalar math on a
    5-row result.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    tpl = """
        WITH daily AS (
          SELECT event_type, {dnum} AS dn,
                 CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                   AS BIGINT) AS v
          FROM {events}
          GROUP BY event_type, {dnum}
        ),
        anchored AS (
          SELECT event_type, v,
                 CAST(count(*) OVER wt AS BIGINT) AS n,
                 CAST(sum(v) OVER wt AS BIGINT) AS s1,
                 v - CAST(sum(v) OVER wt AS BIGINT)
                     {fd} count(*) OVER wt AS d
          FROM daily
          WINDOW wt AS (PARTITION BY event_type)
        ),
        sums AS (
          SELECT event_type, n, s1,
                 CAST(sum(CAST(d AS {big})) AS {big}) AS sd1,
                 CAST(sum(CAST(d AS {big}) * d) AS {big}) AS sd2,
                 CAST(sum(CAST(d AS {big}) * d * d) AS {big}) AS sd3,
                 CAST(sum(CAST(d AS {big}) * d * d * d) AS {big}) AS sd4
          FROM anchored
          GROUP BY event_type, n, s1
        ),
        nums AS (
          SELECT event_type, n, s1,
                 n * sd2 - sd1 * sd1 AS a2,
                 n * n * sd3 - 3 * n * sd1 * sd2
                   + 2 * sd1 * sd1 * sd1 AS a3,
                 n * n * n * sd4 - 4 * n * n * sd1 * sd3
                   + 6 * n * sd1 * sd1 * sd2
                   - 3 * sd1 * sd1 * sd1 * sd1 AS a4
          FROM sums
        )
        SELECT event_type, n AS n_days, s1 AS sum_cents,
               CAST(s1 {fd} n AS BIGINT) AS mean_cents,
               CAST(a2 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 AS variance_cents2,
               CAST(a3 AS DOUBLE)
                 / nullif(CAST(a2 AS DOUBLE)
                          * sqrt(CAST(a2 AS DOUBLE)), 0.0) AS skewness,
               CAST(a4 AS DOUBLE)
                 / nullif(CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE), 0.0)
                 - 3.0 AS kurtosis_excess
        FROM nums
        ORDER BY event_type
    """
    register_sql(
        "op_moments_profile",
        tpl.replace("{big}", "DECIMAL(38,0)")
        .replace("{fd}", "div")
        .replace("{dnum}",
                 "CAST(datediff(CAST(date_trunc('day', ts) AS DATE),"
                 " DATE '1992-01-01') AS BIGINT)")
        .format(**_SPARK_TABLES),
        tpl.replace("{big}", "HUGEINT")
        .replace("{fd}", "//")
        .replace("{dnum}",
                 "CAST(CAST(date_trunc('day', ts) AS DATE)"
                 " - DATE '1992-01-01' AS BIGINT)")
        .format(**_ORACLE_TABLES),
    )


_register_moments_profile()


# One-way ANOVA F test across event types on the value measure — "do
# the k groups share a mean?", the k-group generalization of a t test
# and the missing member of the op_chi2/op_ks/op_mann_whitney family.
# EXACTNESS (the quantize-then-sum discipline): per-group n / sum(x) /
# sum(x^2) are exact DECIMAL aggregates (order-free); each group's
# S^2/n and within-SS terms are doubles computed in one fixed textual
# expression and QUANTIZED to 1e-6 integer units BEFORE the cross-
# group reduction, so the final sums are exact BIGINT adds — no
# order-dependent float summation anywhere (a float sum over an
# unordered GROUP BY is partition-order dependent in Spark and would
# diverge from DuckDB in the last ulps).  The F statistic is then a
# fixed-order scalar expression over those integers.  One identical
# SQL text on both engines.
# 100 TB shape: one fact scan, one map-side-combinable keyed agg to
# |event_type| rows; everything after is metadata-scale.
_E6 = "1000000"


def _register_anova() -> None:
    s2n = "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n"
    tpl = f"""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS s,
             sum(CAST(value AS DECIMAL(18,6))
                 * CAST(value AS DECIMAL(18,6))) AS q
      FROM {{events}}
      GROUP BY event_type
    ),
    g2 AS (
      SELECT event_type, n, s,
             CAST(s AS DOUBLE) / n AS m,
             CAST(floor(({s2n}) * {_E6} + 0.5) AS BIGINT) AS s2n_e6,
             CAST(floor((CAST(q AS DOUBLE) - ({s2n})) * {_E6} + 0.5)
               AS BIGINT) AS within_e6
      FROM g
    ),
    tot AS (
      SELECT CAST(sum(s2n_e6) AS BIGINT) AS s2n_sum_e6,
             CAST(sum(within_e6) AS BIGINT) AS ssw_e6,
             CAST(sum(s) AS DOUBLE) AS sd,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS k
      FROM g2
    ),
    scal AS (
      SELECT nn, k, ssw_e6,
             s2n_sum_e6
               - CAST(floor((sd * sd / nn) * {_E6} + 0.5) AS BIGINT)
               AS ssb_e6
      FROM tot
    )
    SELECT g2.event_type, g2.n,
           CAST(floor(g2.m * 10000 + 0.5) AS BIGINT) AS mean_e4,
           g2.within_e6,
           scal.ssb_e6, scal.ssw_e6, scal.nn, scal.k,
           CAST(floor((CAST(scal.ssb_e6 AS DOUBLE) * (scal.nn - scal.k))
                / (CAST(scal.ssw_e6 AS DOUBLE) * (scal.k - 1))
                * {_E6} + 0.5) AS BIGINT) AS f_e6
    FROM g2, scal
    ORDER BY g2.event_type
    """
    register_template("op_anova", tpl)


_register_anova()
