"""Warehouse-maintenance operators: keyed upsert resolution, SCD2
history construction, and snapshot diffing.

The reference's loader rebuilds tables wholesale (data-loader/loader.py
CTAS, drop-then-create); a production lake needs the incremental forms.
All three are classic one-shuffle shapes:

- ``latest_by_key`` (SCD type-1 upsert resolution): one hash shuffle on
  the key, a per-key window, no global sort — the merge-on-read half of
  every upsert pipeline; at 100 TB the shuffle is the cost and it is
  exactly one.
- ``scd2_intervals`` (SCD type-2): per-key ``lead()`` over change
  events → [valid_from, valid_to) ranges; same single shuffle.
- ``snapshot_diff``: full outer join of two snapshots on the key with a
  content hash per side — added/removed/changed classification in one
  join, no collect; the content hash means wide rows compare as one
  column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dblab_ece_trino_spark.operators.registry import documents, register


def latest_by_key(
    df: DataFrame, key_cols: list[str], order_col: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """SCD-1 upsert resolution: keep each key's latest row by
    ``order_col`` (deterministic tiebreak columns resolve equal
    versions).  One shuffle on the key; map-side nothing to combine, but
    the window never leaves its hash partition."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_intervals(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """SCD-2 history: one validity interval [valid_from, valid_to) per
    state change, ``valid_to`` NULL for the current row.  Change events
    that repeat the previous attribute values are collapsed first (the
    standard de-noising), then ``lead()`` closes each interval.
    ``tiebreak`` columns make equal-timestamp orderings deterministic."""
    order = [ts_col, *(tiebreak or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = [
        F.lag(c).over(w).alias(f"__prev_{c}") for c in attr_cols
    ]
    changed = F.lit(False)
    d = df.select(*key_cols, ts_col, *attr_cols, *(tiebreak or []), *prev)
    for c in attr_cols:
        changed = changed | ~(F.col(c).eqNullSafe(F.col(f"__prev_{c}")))
    d = d.filter(changed).drop(*[f"__prev_{c}" for c in attr_cols])
    return d.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col)
        .over(Window.partitionBy(*key_cols).orderBy(*order))
        .alias("valid_to"),
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Classify rows across two snapshots: 'added' / 'removed' /
    'changed' (unchanged rows are omitted).  One full outer join on the
    key; row content is compared via a single md5 over the non-key
    columns rendered with a NULL sentinel, so arbitrary-width rows cost
    one string hash per side."""
    non_key = [c for c in old.columns if c not in key_cols]

    def hashed(df: DataFrame, side: str) -> DataFrame:
        h = F.md5(
            F.concat_ws(
                "\x1f",
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in non_key],
            )
        )
        return df.select(*key_cols, h.alias(f"__h_{side}"))

    o, n = hashed(old, "old"), hashed(new, "new")
    joined = o.join(n, key_cols, "full_outer")
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )


# ------------------------------------------------------------ query entries
def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.entrypoints import engine_for

    return engine_for(spark, sf_dir).catalogs.table("elastic.default.events")


def _q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events as an upsert stream keyed by user: resolve to each user's
    # latest state (event_id tiebreak makes equal timestamps
    # deterministic).
    out = latest_by_key(
        _events(spark, sf_dir), ["user_id"], "ts", tiebreak=["event_id"]
    )
    return out.select("user_id", "event_id", "ts", "event_type")


register(
    "op_upsert_latest",
    _q_upsert_latest,
    """
    SELECT user_id, event_id, ts, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)


def _q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_intervals(
        _events(spark, sf_dir), ["user_id"], "ts", ["event_type"],
        tiebreak=["event_id"],
    )


register(
    "op_scd2_intervals",
    _q_scd2,
    """
    WITH d AS (
      SELECT user_id, ts, event_type, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
      FROM events
    ),
    ch AS (
      SELECT user_id, ts, event_type, event_id FROM d
      WHERE prev_t IS NULL OR event_type IS DISTINCT FROM prev_t
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM ch
    """,
)


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthetic second snapshot, derived deterministically (same recipe
    # in the oracle): drop keys ≡ 0 (mod 7), bump value on keys ≡ 1
    # (mod 5) — exercises removed/changed/unchanged in one pass; rows
    # "added" come from the old side's dropped complement being viewed
    # in reverse (none here, asymmetry is intentional and tested).
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    new = (
        ev.filter(F.col("event_id") % 7 != 0)
        .withColumn(
            "value",
            F.when(
                F.col("event_id") % 5 == 1, F.round(F.col("value") + 1.5, 2)
            ).otherwise(F.col("value")),
        )
    )
    return snapshot_diff(ev, new, ["event_id"])


register(
    "op_snapshot_diff",
    _q_snapshot_diff,
    """
    WITH old AS (
      SELECT event_id,
             md5(concat_ws(chr(31),
                 coalesce(CAST(user_id AS VARCHAR), chr(0)),
                 coalesce(event_type, chr(0)),
                 coalesce(CAST(value AS VARCHAR), chr(0)))) AS h
      FROM events
    ),
    new AS (
      SELECT event_id,
             md5(concat_ws(chr(31),
                 coalesce(CAST(user_id AS VARCHAR), chr(0)),
                 coalesce(event_type, chr(0)),
                 coalesce(CAST(CASE WHEN event_id % 5 = 1
                                    THEN round(value + 1.5, 2)
                                    ELSE value END AS VARCHAR), chr(0)))) AS h
      FROM events WHERE event_id % 7 != 0
    )
    SELECT coalesce(o.event_id, n.event_id) AS event_id,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h != n.h THEN 'changed' END AS status
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    WHERE CASE WHEN o.h IS NULL THEN 'added'
               WHEN n.h IS NULL THEN 'removed'
               WHEN o.h != n.h THEN 'changed' END IS NOT NULL
    """,
)


# --------------------------------------------------------------- round 3b
def _register_audit_entries() -> None:
    """Warehouse data-quality audits: referential-integrity orphan
    counts and join-key skew diagnostics.

    ``audit_orphans`` — per-relationship NOT EXISTS counts across the
    fact→dim chain.  Catalyst plans each branch as a left-anti hash
    join (dim side broadcast when small); branches are independent so
    the whole audit is one scan per table at 100 TB, no cross-branch
    shuffle reuse needed.

    ``audit_skew`` — the pre-flight a 100 TB join wants: per-key
    cardinality profile of a join key (top heavy hitters + max/mean
    skew ratio).  One hash agg on the key, then a 10-row TopN; the
    global stats frame is one row, cross-joined back (broadcast).  The
    skew ratio is exactly the number that decides salting / AQE
    skew-split thresholds (SCALE.md).
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    def both(name: str, tpl: str) -> None:
        register_sql(
            name, tpl.format(**_SPARK_TABLES), tpl.format(**_ORACLE_TABLES)
        )

    both(
        "audit_orphans",
        """
        SELECT 'lineitem->orders' AS rel, CAST(count(*) AS BIGINT) AS orphans
        FROM {lineitem} l
        WHERE NOT EXISTS (SELECT 1 FROM {orders} o
                          WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'orders->customer', CAST(count(*) AS BIGINT)
        FROM {orders} o
        WHERE NOT EXISTS (SELECT 1 FROM {customer} c
                          WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'customer->nation', CAST(count(*) AS BIGINT)
        FROM {customer} c
        WHERE NOT EXISTS (SELECT 1 FROM {nation} n
                          WHERE n.n_nationkey = c.c_nationkey)
        UNION ALL
        SELECT 'supplier->nation', CAST(count(*) AS BIGINT)
        FROM {supplier} s
        WHERE NOT EXISTS (SELECT 1 FROM {nation} n
                          WHERE n.n_nationkey = s.s_nationkey)
        """,
    )

    # Doubles below are derived from exact integer counts with identical
    # expression text on both engines — deterministic without rounding.
    both(
        "audit_skew",
        """
        WITH k AS (
          SELECT o_custkey AS key, count(*) AS cnt
          FROM {orders} GROUP BY o_custkey
        ),
        s AS (
          SELECT CAST(max(cnt) AS BIGINT) AS max_cnt,
                 CAST(sum(cnt) AS DOUBLE) / count(*) AS mean_cnt,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(cnt) AS BIGINT) AS n_rows
          FROM k
        )
        SELECT k.key, CAST(k.cnt AS BIGINT) AS cnt,
               CAST(k.cnt AS DOUBLE) / s.n_rows AS share,
               s.max_cnt, s.mean_cnt,
               s.max_cnt / s.mean_cnt AS skew_ratio,
               s.n_keys
        FROM k, s
        ORDER BY k.cnt DESC, k.key
        LIMIT 10
        """,
    )


_register_audit_entries()


# ------------------------------------------------------- z-order layout
# Data-layout planning: assign rows to target files along a Morton
# (Z-order) curve over two pruning dimensions, and report the per-file
# min/max zone map each dimension would carry.  THE 100-TB table-layout
# lever: a lake clustered this way lets BOTH `WHERE o_custkey = k` and
# `WHERE day BETWEEN a AND b` scans prune most files from the zone maps
# alone, where a single-column sort only prunes one of them.  The
# computation itself is one projection (the z-value is pure per-row
# integer arithmetic over 8-bit-quantized dims) + one keyed agg on
# file_id — the planner output, not a rewrite; a writer would
# `repartitionByRange(z)` with the same expression.  All arithmetic is
# exact integer (floor division + literal powers of two), so the oracle
# replays it bit-for-bit; the only engine difference is the integer
# division operator (`div` vs `//`).
_ZORDER_BITS = 8
_ZORDER_FILES = 64


def _zorder_interleave_expr(idiv: str) -> str:
    """Unrolled 8-bit Morton interleave of quantized dims x (even bits)
    and y (odd bits) — literal constants, no pow()/shift builtins, so
    the identical formula parses on both engines."""
    terms = []
    for i in range(_ZORDER_BITS):
        terms.append(f"((x {idiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((y {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ZORDER_TPL = """
    WITH dims AS (
      SELECT o_custkey AS ck, {epoch_day} AS ed
      FROM {orders}
    ),
    bounds AS (
      SELECT min(ck) AS minc, max(ck) AS maxc,
             min(ed) AS mind, max(ed) AS maxd
      FROM dims
    ),
    scaled AS (
      SELECT ck, ed,
             CAST(((ck - minc) * 255) {idiv} greatest(maxc - minc, 1)
               AS BIGINT) AS x,
             CAST(((ed - mind) * 255) {idiv} greatest(maxd - mind, 1)
               AS BIGINT) AS y
      FROM dims, bounds
    ),
    zv AS (SELECT ck, ed, ({zexpr}) AS z FROM scaled)
    SELECT CAST(z {idiv} {per_file} AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(ck) AS min_custkey, max(ck) AS max_custkey,
           min(ed) AS min_day, max(ed) AS max_day
    FROM zv
    GROUP BY 1
    ORDER BY file_id
"""


def _register_zorder() -> None:
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    per_file = (4**_ZORDER_BITS) // _ZORDER_FILES

    def build(idiv: str, epoch_day: str, tables: dict) -> str:
        return (
            _ZORDER_TPL.replace("{idiv}", idiv)
            .replace("{zexpr}", _zorder_interleave_expr(idiv))
            .replace("{per_file}", str(per_file))
            .replace("{epoch_day}", epoch_day)
            .format(**tables)
        )

    register_sql(
        "wh_zorder_layout",
        build(
            "div",
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')",
            _SPARK_TABLES,
        ),
        build(
            "//",
            "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))",
            _ORACLE_TABLES,
        ),
    )


_register_zorder()


# --------------------------------------------------------------- CDC apply
def cdc_apply(
    changes: DataFrame, key_cols: list[str], seq_col: str, op_col: str
) -> DataFrame:
    """Apply an ordered change log (I/U/D rows) to produce the live
    snapshot: per key, the highest-sequence row wins; a winning delete
    removes the key.  This is ``MERGE`` expressed as one hash shuffle +
    per-key window (reusing latest_by_key — the same WindowGroupLimit
    plan, no global sort), the merge-on-read half of a CDC lakehouse
    pipeline.  Late/duplicate change events are absorbed for free: the
    sequence ordering, not arrival order, decides."""
    live = latest_by_key(changes, key_cols, seq_col)
    return live.filter(F.col(op_col) != F.lit("D"))


def _synthetic_cdc_log(o: DataFrame) -> DataFrame:
    """The deterministic synthetic change log both CDC entries grade
    against (insert for every key; +10% reprice for the md5-even half,
    seq 2; delete for the md5 1/8th, seq 3).  Shared so the
    wh_cdc_apply / wh_time_travel contrast is definitionally over the
    SAME log — an edit here changes both entries together.  Prices ride
    in DECIMAL end to end (exact under any partitioning); the md5 draw
    is the sampling.py discipline so both engines build the identical
    log."""
    from dblab_ece_trino_spark.operators.sampling import md5_bucket

    price = F.col("o_totalprice").cast("decimal(18,2)")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        price.cast("decimal(22,4)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    upd = o.filter(md5_bucket(F.col("o_orderkey"), "cdc-u") < 128).select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        (price * F.lit("1.1").cast("decimal(3,2)"))
        .cast("decimal(22,4)")
        .alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    dele = o.filter(md5_bucket(F.col("o_orderkey"), "cdc-d") < 32).select(
        F.col("o_orderkey").alias("k"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("decimal(22,4)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    return base.unionByName(upd).unionByName(dele)


def _status_rollup(live: DataFrame) -> DataFrame:
    """Per-status live-row rollup shared by both CDC entries.  The
    total rides as exact integer 1e-4 units: the decimal sum is exact,
    and an integer output has no double-rounding boundary (a half-cent
    value rounded differently by the two engines cost a round)."""
    return (
        live.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_live"),
            (F.sum("price") * 10000).cast("long").alias("total_price_e4"),
        )
        .orderBy("status")
    )


def _q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: the shared synthetic change log (see
    _synthetic_cdc_log), applied to head state and rolled up per order
    status."""
    from dblab_ece_trino_spark.entrypoints import engine_for

    o = engine_for(spark, sf_dir).catalogs.table("mongodb.tpch.orders")
    live = cdc_apply(_synthetic_cdc_log(o), ["k"], "seq", "op")
    return _status_rollup(live)


def _cdc_oracle() -> str:
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql

    bu = _md5_bucket_sql("o_orderkey", "cdc-u")
    bd = _md5_bucket_sql("o_orderkey", "cdc-d")
    return f"""
    WITH log AS (
      SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(22,4))
               AS price,
             o_orderstatus AS status
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, 'U',
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(1.1 AS DECIMAL(3,2)) AS DECIMAL(22,4)),
             o_orderstatus
      FROM orders WHERE {bu} < 128
      UNION ALL
      SELECT o_orderkey, 3, 'D', NULL, o_orderstatus
      FROM orders WHERE {bd} < 32
    ),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_live,
           CAST(sum(price) * 10000 AS BIGINT) AS total_price_e4
    FROM latest
    WHERE rn = 1 AND op <> 'D'
    GROUP BY status
    ORDER BY status
    """


register("wh_cdc_apply", _q_cdc_apply, oracle=_cdc_oracle())


# ------------------------------------------------------- compaction planner
def _register_compaction_plan() -> None:
    """Small-file compaction planner over a simulated file inventory
    (documents hash-bucketed into 8 'files' per source, byte size =
    sum of n_chars).

    The plan is metadata-scale work: the inventory has one row per FILE
    (at 100 TB that is the table manifest, not the data), so the
    per-source cumsum window runs over tiny partitions.  Small files
    (< SMALL bytes) are assigned merge groups by a running-prefix
    cumsum sliced at TARGET bytes — the same one-shuffle bounded-window
    shape as text.py's token bin packing, applied to table maintenance.
    Exact: byte sizes are integers, the prefix sum is BIGINT, and the
    group id is floor(prefix/TARGET) on values far below 2^53.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    small, target = 600, 2000
    bucket = _md5_bucket_sql("doc_id", "compact-")
    tpl = f"""
    WITH files AS (
      SELECT source, ({bucket}) % 8 AS file_id,
             CAST(sum(n_chars) AS BIGINT) AS bytes,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM {{documents}}
      GROUP BY 1, 2
    ),
    small_files AS (
      SELECT source, file_id, bytes FROM files WHERE bytes < {small}
    ),
    packed AS (
      SELECT source, file_id,
             CAST(floor(CAST(coalesce(sum(bytes) OVER (
                 PARTITION BY source ORDER BY bytes, file_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS DOUBLE) / {target}) AS BIGINT) AS grp
      FROM small_files
    ),
    per_source AS (
      SELECT f.source,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN f.bytes < {small} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_small,
             CAST(sum(f.bytes) AS BIGINT) AS bytes_total
      FROM files f GROUP BY f.source
    ),
    merged AS (
      SELECT source, CAST(count(DISTINCT grp) AS BIGINT) AS n_merged
      FROM packed GROUP BY source
    )
    SELECT p.source, p.n_files, p.n_small,
           CAST(coalesce(m.n_merged, 0) AS BIGINT) AS n_merged_files,
           CAST(p.n_files - p.n_small + coalesce(m.n_merged, 0) AS BIGINT)
             AS n_files_after,
           p.bytes_total
    FROM per_source p LEFT JOIN merged m ON m.source = p.source
    ORDER BY p.source
    """
    register_sql(
        "wh_compaction_plan",
        tpl.format(**_SPARK_TABLES),
        tpl.format(**_ORACLE_TABLES),
    )


_register_compaction_plan()


# ------------------------------------------------------ zone-map pruning
def _register_zone_map_pruning() -> None:
    """File-skipping estimator: how much of a scan do zone maps
    (per-file min/max, the Parquet row-group / Iceberg manifest
    statistic) eliminate for a date-range predicate — under two layouts
    of the SAME rows.

    - ``hash`` layout: files are md5 buckets of the key (ingest-order /
      random placement).  Every file spans nearly the full date range,
      so NO file is skippable — the honest baseline of an unmanaged
      lake.
    - ``date`` layout: files are calendar months (what partitioning /
      Z-ordering by ship date produces).  The one-month predicate
      keeps 1-2 files.

    This is the quantified WHY behind wh_zorder_layout: identical data,
    identical predicate, orders-of-magnitude fewer rows scanned.  The
    whole computation is metadata-scale after one pass to build the
    zone maps (a keyed min/max agg, map-side combinable); the pruning
    decision itself never touches rows.  Exact: dates and counts are
    integers; the predicate test is interval disjointness on epoch
    days.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    lo, hi = "DATE '1996-03-01'", "DATE '1996-03-31'"
    bucket = _md5_bucket_sql("l_orderkey", "zonemap-")
    tpl = f"""
    WITH tagged AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             ({bucket}) % 64 AS hash_file,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1
               AS date_file
      FROM {{lineitem}}
    ),
    layouts AS (
      SELECT 'hash' AS layout, hash_file AS file_id, d FROM tagged
      UNION ALL
      SELECT 'date' AS layout, date_file AS file_id, d FROM tagged
    ),
    zones AS (
      SELECT layout, file_id,
             min(d) AS zmin, max(d) AS zmax,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN d BETWEEN {lo} AND {hi} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_match
      FROM layouts
      GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN zmax < {lo} OR zmin > {hi} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pruned,
           CAST(sum(CASE WHEN zmax < {lo} OR zmin > {hi} THEN 0
                         ELSE n_rows END) AS BIGINT) AS rows_scanned,
           CAST(sum(n_match) AS BIGINT) AS rows_matching
    FROM zones
    GROUP BY layout
    ORDER BY layout
    """
    register_sql(
        "wh_zone_map_pruning",
        tpl.format(**_SPARK_TABLES),
        tpl.format(**_ORACLE_TABLES),
    )


_register_zone_map_pruning()


# -------------------------------------------------------- time travel
def as_of(
    changes: DataFrame,
    seq_col: str,
    op_col: str,
    key_cols: list[str],
    version: int,
) -> DataFrame:
    """Snapshot time travel over a CDC log: the table state AS OF
    ``version`` is cdc_apply over the log restricted to seq <= version —
    one filter pushed into the scan plus the same single-shuffle window.
    This is the read half of lakehouse versioning (Delta/Iceberg
    ``VERSION AS OF``): no stored snapshots needed, any historical state
    is derivable from the log, and the filter prunes log segments at
    the source when the log is seq-partitioned."""
    return cdc_apply(
        changes.filter(F.col(seq_col) <= F.lit(version)),
        key_cols,
        seq_col,
        op_col,
    )


def _q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: the SAME synthetic change log as wh_cdc_apply
    (shared builder), resolved AS OF version 2 — updates visible,
    deletes (seq 3) not yet applied.  The contrast with wh_cdc_apply's
    head-state totals is the graded evidence that versioned reads see a
    genuinely different (earlier) table."""
    from dblab_ece_trino_spark.entrypoints import engine_for

    o = engine_for(spark, sf_dir).catalogs.table("mongodb.tpch.orders")
    snap = as_of(_synthetic_cdc_log(o), "seq", "op", ["k"], version=2)
    return _status_rollup(snap)


def _time_travel_oracle() -> str:
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql

    bu = _md5_bucket_sql("o_orderkey", "cdc-u")
    return f"""
    WITH log AS (
      SELECT o_orderkey AS k, 1 AS seq,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(22,4))
               AS price,
             o_orderstatus AS status
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(1.1 AS DECIMAL(3,2)) AS DECIMAL(22,4)),
             o_orderstatus
      FROM orders WHERE {bu} < 128
    ),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_live,
           CAST(sum(price) * 10000 AS BIGINT) AS total_price_e4
    FROM latest
    WHERE rn = 1
    GROUP BY status
    ORDER BY status
    """


register("wh_time_travel", _q_time_travel, oracle=_time_travel_oracle())


# ----------------------------------------------------- ANALYZE statistics
def _register_analyze_stats() -> None:
    """ANALYZE TABLE analog: per-column statistics (row count, null
    count, exact distinct count, min/max) for the fact table's measure
    columns — the input every cost-based optimizer and every data
    contract check starts from.

    ONE scan: a single aggregate computes every column's stats (Spark
    plans the multi-DISTINCT via Expand — one pass over the fact), and
    the per-column rows come from cross-joining that 1-row frame with a
    VALUES list of column names + CASE projection.  A UNION-ALL-of-
    branches form reads nicer but Spark INLINES the CTE into each
    branch — the plan census measured 4 fact scans for it vs 1 for
    this shape.  All outputs exact (BIGINT counts, DOUBLE min/max of
    parquet-exact values), so the driver hash is stable.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    stats = ",\n             ".join(
        f"CAST(count({c}) AS BIGINT) AS nn_{c},"
        f" CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c},"
        f" CAST(min({c}) AS DOUBLE) AS mn_{c},"
        f" CAST(max({c}) AS DOUBLE) AS mx_{c}"
        for c in cols
    )
    names = ", ".join(f"('{c}')" for c in cols)

    def pick(field: str) -> str:
        arms = " ".join(f"WHEN '{c}' THEN {field.format(c=c)}" for c in cols)
        return f"CASE m.col {arms} END"

    tpl = f"""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {stats}
      FROM {{lineitem}}
    )
    SELECT m.col, s.n AS n_rows,
           {pick("s.n - s.nn_{c}")} AS n_nulls,
           {pick("s.nd_{c}")} AS n_distinct,
           {pick("s.mn_{c}")} AS min_val,
           {pick("s.mx_{c}")} AS max_val
    FROM s CROSS JOIN (VALUES {names}) m(col)
    ORDER BY m.col
    """
    register_sql(
        "wh_analyze_stats",
        tpl.format(**_SPARK_TABLES),
        tpl.format(**_ORACLE_TABLES),
    )


_register_analyze_stats()


def _register_gdpr_erasure() -> None:
    """Right-to-erasure cascade audit: given a deterministic cohort of
    customers to forget, report — per table — how many rows a cascading
    delete would remove and how much gross revenue the removed fact rows
    carry.

    The compliance macro every warehouse needs before running the actual
    DELETEs (the reference engine ships DELETE/MERGE; the audit itself
    is composed, SURVEY §2.1 DDL family).  The erase cohort here is the
    md5 fold over the customer key (≈10% of customers) so the entry is
    deterministic end-to-end; a production caller passes an explicit
    key list instead and the shape is unchanged.

    Scale: the cohort is a narrow key frame (broadcast at any realistic
    erasure-batch size), orders joins it on the customer key, and
    lineitem joins the resulting order-key frame — each fact table is
    touched by exactly one broadcast-probe pass, no shuffle of fact
    rows.  The per-table counts come out as a 3-row UNION of the three
    aggregates (the cohort/order frames are re-derived per branch —
    Spark inlines CTEs — but both are narrow key projections; the wide
    fact payload is scanned once per counting branch and never
    shuffled).  Revenue is summed in exact integer cents.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.operators.sketches import hexint_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    bucket = hexint_sql("c_custkey", "gdpr1", 4)
    tpl = f"""
    WITH victims AS (
      SELECT c_custkey FROM {{customer}} WHERE ({bucket}) < 6554
    ),
    vo AS (
      SELECT o_orderkey
      FROM {{orders}} JOIN victims ON o_custkey = c_custkey
    ),
    vl AS (
      SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS gross_e2
      FROM {{lineitem}} JOIN vo ON l_orderkey = o_orderkey
    )
    SELECT 'customer' AS table_name,
           CAST(count(*) AS BIGINT) AS rows_to_erase,
           CAST(0 AS BIGINT) AS revenue_e2
    FROM victims
    UNION ALL
    SELECT 'orders' AS table_name,
           CAST(count(*) AS BIGINT) AS rows_to_erase,
           CAST(0 AS BIGINT) AS revenue_e2
    FROM vo
    UNION ALL
    SELECT 'lineitem' AS table_name,
           CAST(count(*) AS BIGINT) AS rows_to_erase,
           CAST(coalesce(sum(gross_e2), 0) AS BIGINT) AS revenue_e2
    FROM vl
    ORDER BY table_name
    """
    register_sql(
        "wh_gdpr_erasure",
        tpl.format(**_SPARK_TABLES),
        tpl.format(**_ORACLE_TABLES),
    )


_register_gdpr_erasure()


# ----------------------------------------- incremental view maintenance
def _q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the per-status rollup under the shared
    CDC log: the materialized-view delta algebra (retract the old
    contribution of every changed key, add its new one, merge into the
    stored aggregate) — and the driver oracle is the FULL RECOMPUTE
    (wh_cdc_apply's rollup), so a green row proves the IVM identity
    maintained ≡ recomputed BY VALUE, not by construction.

    Work shape — the whole point of IVM at 100 TB: the base aggregate
    is metadata-scale (one row per group), the stored per-key snapshot
    is touched only via one keyed join against the CHANGED keys, and
    every other operation is proportional to |delta|, never |base|.
    The recompute the oracle performs (full log, per-key window) is
    exactly the cost this operator avoids.  All prices ride in DECIMAL
    (exact merge under any partitioning); counts are BIGINTs.
    """
    from dblab_ece_trino_spark.entrypoints import engine_for

    o = engine_for(spark, sf_dir).catalogs.table("mongodb.tpch.orders")
    log = _synthetic_cdc_log(o)
    base_live = log.filter(F.col("seq") == 1)  # stored snapshot (all keys I)
    base_agg = base_live.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("dn"),
        F.sum("price").alias("dprice"),
    )
    delta = log.filter(F.col("seq") >= 2)
    changed = latest_by_key(delta, ["k"], "seq")
    old = base_live.join(changed.select("k"), "k", "left_semi")
    retract = old.select(
        "status", F.lit(-1).cast("long").alias("dn"), (-F.col("price")).alias("dprice")
    )
    add = changed.filter(F.col("op") != F.lit("D")).select(
        "status", F.lit(1).cast("long").alias("dn"), F.col("price").alias("dprice")
    )
    merged = (
        base_agg.select("status", "dn", "dprice")
        .unionByName(retract)
        .unionByName(add)
        .groupBy("status")
        .agg(
            F.sum("dn").cast("long").alias("n_live"),
            (F.sum("dprice") * 10000).cast("long").alias("total_price_e4"),
        )
    )
    return merged.filter(F.col("n_live") > 0).orderBy("status")


# The oracle is wh_cdc_apply's full recompute, verbatim: maintained
# aggregate == recomputed aggregate is the invariant being graded.
register("wh_incremental_agg", _q_incremental_agg, oracle=_cdc_oracle())


# ------------------------------------------------------ clustering depth
def _register_clustering_depth() -> None:
    """Clustering-depth audit — the Delta/Iceberg OPTIMIZE metric that
    quantifies how badly file zone ranges overlap on the clustering
    key: depth(file) = number of same-source files whose [min, max]
    doc_id range overlaps it.  A point lookup must open ``depth`` files,
    so depth is the read-amplification number Z-ordering / range
    clustering exists to drive to 1.  Reported for the SAME rows under
    both layouts (the wh_zone_map_pruning contrast, applied to the
    overlap metric): md5-hash-bucketed files interleave the id space
    (every range spans everything -> depth = n_files), range-bucketed
    files are disjoint by construction (depth = 1) — the measured WHY
    of clustered writes.

    Metadata-scale: files are one row each (the manifest, not the
    data), so the overlap self-joins are bounded by files-per-source
    squared — at 100 TB that is manifest work.  The Spark side is
    DataFrame code with an explicit materialize() of the assignment
    frame: the pure-SQL form re-derived the document scan once per CTE
    consumer (Spark inlines CTEs — census measured 8 fact scans), while
    the checkpointed form scans documents exactly TWICE (the 4-row
    bounds aggregate, joined back broadcast — a max() OVER (PARTITION
    BY source) window would put a quarter-corpus in one task — and the
    single assignment pass).  The tiny zone frames are materialized too
    (each feeds both sides of its overlap self-join).  All depths and
    bounds are exact integers; the range-file assignment is integer
    division (Spark ``div`` / DuckDB ``//``).
    """
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.operators.registry import register
    from dblab_ece_trino_spark.operators.sampling import md5_bucket
    from dblab_ece_trino_spark.session import materialize

    def _depth(zone):
        a, b = zone.alias("a"), zone.alias("b")
        return (
            a.join(
                b,
                (F.col("a.source") == F.col("b.source"))
                & (F.col("a.mn") <= F.col("b.mx"))
                & (F.col("b.mn") <= F.col("a.mx")),
            )
            .groupBy(F.col("a.source").alias("source"), F.col("a.fid").alias("fid"))
            .agg(F.count(F.lit(1)).cast("long").alias("depth"))
        )

    def _summ(dz, suffix):
        return dz.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_files_{suffix}"),
            F.max("depth").cast("long").alias(f"max_depth_{suffix}"),
            F.sum("depth").cast("long").alias(f"sum_depth_{suffix}"),
        )

    def _q(spark, sf_dir):
        d = documents(spark, sf_dir)
        bounds = d.groupBy("source").agg(
            F.max("doc_id").cast("long").alias("mxid")
        )
        fm = materialize(
            d.join(F.broadcast(bounds), "source").select(
                "source",
                (md5_bucket(F.col("doc_id"), "compact-") % 8).alias("fid_h"),
                F.least(
                    F.expr("(doc_id * 8) div (mxid + 1)"), F.lit(7)
                ).alias("fid_r"),
                "doc_id",
            )
        )
        fh = materialize(
            fm.groupBy("source", F.col("fid_h").alias("fid")).agg(
                F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
            )
        )
        fr = materialize(
            fm.groupBy("source", F.col("fid_r").alias("fid")).agg(
                F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
            )
        )
        return (
            _summ(_depth(fh), "hash")
            .join(_summ(_depth(fr), "range"), "source")
            .orderBy("source")
        )

    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql

    bucket = _md5_bucket_sql("doc_id", "compact-")
    oracle = f"""
    WITH bounds AS (
      SELECT source, CAST(max(doc_id) AS BIGINT) AS mxid
      FROM documents GROUP BY source
    ),
    f AS (
      SELECT d.source, ({bucket}) % 8 AS fid_h,
             least((d.doc_id * 8) // (b.mxid + 1), 7) AS fid_r,
             d.doc_id
      FROM documents d JOIN bounds b ON b.source = d.source
    ),
    fh AS (
      SELECT source, fid_h AS fid, min(doc_id) AS mn, max(doc_id) AS mx
      FROM f GROUP BY source, fid_h
    ),
    fr AS (
      SELECT source, fid_r AS fid, min(doc_id) AS mn, max(doc_id) AS mx
      FROM f GROUP BY source, fid_r
    ),
    dh AS (
      SELECT a.source, a.fid, CAST(count(*) AS BIGINT) AS depth
      FROM fh a JOIN fh b
        ON a.source = b.source AND a.mn <= b.mx AND b.mn <= a.mx
      GROUP BY a.source, a.fid
    ),
    dr AS (
      SELECT a.source, a.fid, CAST(count(*) AS BIGINT) AS depth
      FROM fr a JOIN fr b
        ON a.source = b.source AND a.mn <= b.mx AND b.mn <= a.mx
      GROUP BY a.source, a.fid
    ),
    sh AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_files_hash,
             CAST(max(depth) AS BIGINT) AS max_depth_hash,
             CAST(sum(depth) AS BIGINT) AS sum_depth_hash
      FROM dh GROUP BY source
    ),
    sr AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_files_range,
             CAST(max(depth) AS BIGINT) AS max_depth_range,
             CAST(sum(depth) AS BIGINT) AS sum_depth_range
      FROM dr GROUP BY source
    )
    SELECT sh.source, sh.n_files_hash, sh.max_depth_hash, sh.sum_depth_hash,
           sr.n_files_range, sr.max_depth_range, sr.sum_depth_range
    FROM sh JOIN sr ON sr.source = sh.source
    ORDER BY sh.source
    """

    register("wh_clustering_depth", _q, oracle=oracle)


_register_clustering_depth()


# --------------------------------------------------------- VACUUM planner
VACUUM_HORIZON = 2


def _q_vacuum_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention / VACUUM reclaim planner (the Delta/Iceberg VACUUM +
    expire-snapshots decision) over the SAME synthetic change log as
    wh_cdc_apply / wh_time_travel: with a retention horizon of version
    ``VACUUM_HORIZON`` (every AS OF >= horizon must stay resolvable), a
    log row (k, seq) is RECLAIMABLE iff a newer version of k exists at
    or before the horizon — no retained read can ever resolve to it.
    Rows past the horizon, and each key's latest row at-or-before it,
    must be kept (they reconstruct the horizon snapshot and everything
    after).  The per-(seq, op) report counts retained vs reclaimable
    rows and the reclaimable price mass — the metadata-scale input a
    maintenance job turns into file deletes.

    Exactness: the keep floor is one per-key window MAX over the
    conditional seq; prices ride DECIMAL end to end and the reclaimable
    mass is an exact integer in 1e-4 units (the _status_rollup
    discipline).  100 TB shape: the log build's scans (shared with the
    other CDC entries), ONE keyed window, one tiny grouped report —
    work proportional to the log, never the table.
    """
    from dblab_ece_trino_spark.entrypoints import engine_for

    o = engine_for(spark, sf_dir).catalogs.table("mongodb.tpch.orders")
    log = _synthetic_cdc_log(o)
    w = Window.partitionBy("k")
    planned = log.withColumn(
        "keep_floor",
        F.max(
            F.when(F.col("seq") <= VACUUM_HORIZON, F.col("seq"))
        ).over(w),
    ).withColumn("reclaim", F.col("seq") < F.col("keep_floor"))
    return (
        planned.groupBy("seq", "op")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("reclaim").cast("long")).cast("long")
            .alias("n_reclaimable"),
            (F.sum(
                F.when(F.col("reclaim"), F.coalesce(F.col("price"),
                                                    F.lit(0)))
            ) * 10000).cast("long").alias("reclaim_price_e4"),
        )
        .selectExpr(
            "CAST(seq AS INT) AS seq", "op", "n_rows", "n_reclaimable",
            "coalesce(reclaim_price_e4, 0) AS reclaim_price_e4",
        )
        .orderBy("seq", "op")
    )


def _vacuum_oracle() -> str:
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql

    bu = _md5_bucket_sql("o_orderkey", "cdc-u")
    bd = _md5_bucket_sql("o_orderkey", "cdc-d")
    return f"""
    WITH log AS (
      SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(22,4))
               AS price
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, 'U',
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(1.1 AS DECIMAL(3,2)) AS DECIMAL(22,4))
      FROM orders WHERE {bu} < 128
      UNION ALL
      SELECT o_orderkey, 3, 'D', NULL
      FROM orders WHERE {bd} < 32
    ),
    planned AS (
      SELECT seq, op, price,
             seq < max(CASE WHEN seq <= {VACUUM_HORIZON} THEN seq END)
                     OVER (PARTITION BY k) AS reclaim
      FROM log
    )
    SELECT CAST(seq AS INT) AS seq, op,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN reclaim THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reclaimable,
           CAST(coalesce(
             sum(CASE WHEN reclaim THEN coalesce(price, 0) END) * 10000,
             0) AS BIGINT) AS reclaim_price_e4
    FROM planned
    GROUP BY seq, op
    ORDER BY seq, op
    """


register("wh_vacuum_planner", _q_vacuum_planner, oracle=_vacuum_oracle())


# ------------------------------------------------ deletion-vector scan
def apply_deletion_vectors(
    data: DataFrame, dv: DataFrame, file_col: str = "file_id",
    pos_col: str = "pos",
) -> DataFrame:
    """Merge-on-read position-delete application (the Iceberg v2 /
    Delta deletion-vector scan): drop every data row whose (file,
    position) appears in the delete-vector frame.  ONE left anti join
    on the composite key — at a real lake this is a per-file hash
    semijoin against a bitmap whose size is bounded by the file's row
    count, which is exactly the economics this frame-level form keeps
    (the join shuffles on file_id first, so a 1000-executor scan
    resolves each file's deletes locally)."""
    return data.join(dv, [file_col, pos_col], "left_anti")


def _q_wh_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: synthetic Iceberg-v2-style layout over orders —
    every order lands in one of 256 md5-bucketed "files" with its
    row position = rank within the file; a deterministic 1/8th of the
    rows carry a position delete.  The scan applies the deletion
    vectors (apply_deletion_vectors) and the output audits, per file:
    exact row / delete / live counts, the live DECIMAL revenue in
    integer cents (the anti-cancellation column: an anti-join bug that
    drops the wrong positions moves it), and the deletion vector's
    RUN-LENGTH profile (runs of consecutive deleted positions, island
    count + longest run) — the metric that decides roaring-bitmap vs
    position-list DV encoding in a real lake.

    100 TB shape: one rank window per file partition (bounded by file
    row count), one anti join pre-shuffled on file_id, and
    gaps-and-islands windows over the (much smaller) delete frame; no
    global sort, every column exact integer/decimal.
    """
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.operators.sampling import md5_bucket
    from dblab_ece_trino_spark.session import materialize

    o = engine_for(spark, sf_dir).catalogs.table("mongodb.tpch.orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        md5_bucket(F.col("o_orderkey"), "dv-file").alias("file_id"),
    )
    w = Window.partitionBy("file_id").orderBy("k")
    ranked = materialize(
        base.withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
    )
    dv = materialize(
        ranked.filter(md5_bucket(F.col("k"), "dv-del") < 32)
        .select("file_id", "pos")
    )
    live = apply_deletion_vectors(ranked, dv)

    totals = ranked.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    live_agg = live.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        (F.sum("price") * 100).cast("long").alias("live_cents"),
    )
    wv = Window.partitionBy("file_id").orderBy("pos")
    run = Window.partitionBy("file_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = (
        dv.withColumn("prev", F.lag("pos").over(wv))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > 1),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("brk").over(run))
    )
    runs = (
        isl.groupBy("file_id", "island")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dv_runs"),
            F.max("run_len").cast("long").alias("dv_max_run"),
            F.sum("run_len").cast("long").alias("n_deleted"),
        )
    )
    return (
        totals.join(runs, "file_id", "left")
        .join(live_agg, "file_id", "left")
        .select(
            "file_id",
            "n_rows",
            F.coalesce("n_deleted", F.lit(0)).cast("long").alias("n_deleted"),
            F.coalesce("n_live", F.lit(0)).cast("long").alias("n_live"),
            F.coalesce("live_cents", F.lit(0)).cast("long").alias(
                "live_cents"
            ),
            F.coalesce("dv_runs", F.lit(0)).cast("long").alias("dv_runs"),
            F.coalesce("dv_max_run", F.lit(0)).cast("long").alias(
                "dv_max_run"
            ),
        )
        .orderBy("file_id")
    )


def _deletion_vectors_oracle() -> str:
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql

    bf = _md5_bucket_sql("o_orderkey", "dv-file")
    bd = _md5_bucket_sql("k", "dv-del")
    return f"""
    WITH ranked AS (
      SELECT k, price, file_id,
             CAST(row_number() OVER (PARTITION BY file_id ORDER BY k) - 1
                  AS BIGINT) AS pos
      FROM (
        SELECT o_orderkey AS k,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               {bf} AS file_id
        FROM orders
      ) b
    ),
    dv AS (
      SELECT file_id, pos FROM ranked WHERE {bd} < 32
    ),
    live AS (
      SELECT r.* FROM ranked r LEFT JOIN dv
        ON dv.file_id = r.file_id AND dv.pos = r.pos
      WHERE dv.pos IS NULL
    ),
    totals AS (
      SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows
      FROM ranked GROUP BY file_id
    ),
    live_agg AS (
      SELECT file_id, CAST(count(*) AS BIGINT) AS n_live,
             CAST(sum(price) * 100 AS BIGINT) AS live_cents
      FROM live GROUP BY file_id
    ),
    marked AS (
      SELECT file_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 1 THEN 1 ELSE 0 END AS brk
      FROM dv WINDOW w AS (PARTITION BY file_id ORDER BY pos)
    ),
    isl AS (
      SELECT file_id, pos,
             sum(brk) OVER (PARTITION BY file_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ),
    per_run AS (
      SELECT file_id, island, CAST(count(*) AS BIGINT) AS run_len
      FROM isl GROUP BY file_id, island
    ),
    runs AS (
      SELECT file_id, CAST(count(*) AS BIGINT) AS dv_runs,
             CAST(max(run_len) AS BIGINT) AS dv_max_run,
             CAST(sum(run_len) AS BIGINT) AS n_deleted
      FROM per_run GROUP BY file_id
    )
    SELECT t.file_id, t.n_rows,
           CAST(coalesce(r.n_deleted, 0) AS BIGINT) AS n_deleted,
           CAST(coalesce(l.n_live, 0) AS BIGINT) AS n_live,
           CAST(coalesce(l.live_cents, 0) AS BIGINT) AS live_cents,
           CAST(coalesce(r.dv_runs, 0) AS BIGINT) AS dv_runs,
           CAST(coalesce(r.dv_max_run, 0) AS BIGINT) AS dv_max_run
    FROM totals t
    LEFT JOIN runs r ON r.file_id = t.file_id
    LEFT JOIN live_agg l ON l.file_id = t.file_id
    ORDER BY t.file_id
    """


register(
    "wh_deletion_vectors",
    _q_wh_deletion_vectors,
    oracle=_deletion_vectors_oracle(),
)


# --------------------------------------- partition-spec evolution (r12)
def _register_partition_evolution() -> None:
    """Partition-spec migration audit — the decision table behind an
    Iceberg-style partition evolution (spec change from hash buckets to
    calendar months here, the wh_zone_map_pruning pair of layouts):
    Iceberg leaves OLD files in the old spec, so queries pay the old
    layout's scan amplification until a rewrite; this op quantifies
    that rewrite.  Per OLD partition: row count, the FAN-OUT (how many
    new partitions its rows land in — the shuffle width of rewriting
    that file), the largest single destination's share in ppm (1e6 ==
    the old file maps 1:1 onto one new partition and can be renamed
    instead of rewritten), and the rows that must MOVE (everything
    outside the dominant destination).

    Metadata-scale after ONE fact scan into the (old, new) partition
    grid (keyed count, map-side combinable); the audit itself runs on
    the |old|x|new| grid.  Exact integers throughout.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    bucket = _md5_bucket_sql("l_orderkey", "zonemap-")
    tpl = f"""
    WITH grid AS (
      SELECT ({bucket}) % 64 AS old_part,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1
               AS new_part,
             CAST(count(*) AS BIGINT) AS n
      FROM {{lineitem}}
      GROUP BY 1, 2
    ),
    per_old AS (
      SELECT old_part,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS fan_out,
             CAST(max(n) AS BIGINT) AS dominant_rows
      FROM grid
      GROUP BY old_part
    )
    SELECT CAST(old_part AS BIGINT) AS old_part, n_rows, fan_out,
           CAST(1000000 * dominant_rows {{idiv}} n_rows AS BIGINT)
             AS dominant_ppm,
           CAST(n_rows - dominant_rows AS BIGINT) AS rows_moved
    FROM per_old
    ORDER BY old_part
    """
    register_sql(
        "wh_partition_evolution",
        tpl.replace("{idiv}", "div").format(**_SPARK_TABLES),
        tpl.replace("{idiv}", "//").format(**_ORACLE_TABLES),
    )


_register_partition_evolution()


def _register_retention_policy() -> None:
    """Snapshot-retention planning — the Iceberg/Delta
    expire-snapshots decision replayed relationally: the table's
    commit history (one snapshot per distinct order date, the
    snapshot_diff fixture convention) is classified under the standard
    tiered policy — keep the LAST 7 snapshots, the newest snapshot of
    each 7-day bucket inside a 28-day weekly horizon, and the newest
    snapshot of each month forever — and rolled up per month into
    kept/expired counts with per-reason attribution (a snapshot may
    qualify under several reasons; kept = any).

    Week buckets are exact integer day-offsets from a fixed anchor
    (div 7 over non-negative days — NOT calendar ISO weeks, whose
    year-boundary numbering differs between engines).  Everything is
    counts over the TINY snapshot frame: metadata-scale after one
    DISTINCT over the fact table's date column — exactly the
    expire-snapshots economics at 100 TB.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    spark_tpl = """
    WITH snaps AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM {orders}
    ),
    mx AS (SELECT max(d) AS mxd FROM snaps),
    feat AS (
      SELECT d,
             row_number() OVER (ORDER BY d DESC) AS rdesc,
             datediff(DATE '2098-01-01', d) div 7 AS wk,
             year(d) * 100 + month(d) AS mo,
             datediff((SELECT mxd FROM mx), d) AS age_days
      FROM snaps
    ),
    ranked AS (
      SELECT d, rdesc, mo, age_days,
             row_number() OVER (PARTITION BY wk ORDER BY d DESC) AS wkr,
             row_number() OVER (PARTITION BY mo ORDER BY d DESC) AS mor
      FROM feat
    ),
    cls AS (
      SELECT mo,
             CASE WHEN rdesc <= 7 THEN 1 ELSE 0 END AS k_last,
             CASE WHEN wkr = 1 AND age_days < 28 THEN 1 ELSE 0 END AS k_week,
             CASE WHEN mor = 1 THEN 1 ELSE 0 END AS k_month
      FROM ranked
    )
    SELECT CAST(mo AS INT) AS yr_month,
           CAST(count(*) AS BIGINT) AS n_snapshots,
           CAST(sum(CASE WHEN k_last + k_week + k_month > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(sum(CASE WHEN k_last + k_week + k_month = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS expired,
           CAST(sum(k_last) AS BIGINT) AS kept_last7,
           CAST(sum(k_week) AS BIGINT) AS kept_weekly,
           CAST(sum(k_month) AS BIGINT) AS kept_monthly
    FROM cls
    GROUP BY mo
    ORDER BY yr_month
    """
    oracle_tpl = (
        spark_tpl
        .replace("datediff(DATE '2098-01-01', d) div 7",
                 "date_diff('day', d, DATE '2098-01-01') // 7")
        .replace("datediff((SELECT mxd FROM mx), d)",
                 "date_diff('day', d, (SELECT mxd FROM mx))")
    )
    register_sql(
        "wh_retention_policy",
        spark_tpl.format(**_SPARK_TABLES),
        oracle_tpl.format(**_ORACLE_TABLES),
    )


_register_retention_policy()
