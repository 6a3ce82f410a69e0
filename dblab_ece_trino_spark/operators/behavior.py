"""User-behavior analytics over the events stream: ordered funnel
conversion, weekly cohort retention, and BM25 relevance scoring over the
document corpus — the product-analytics / IR surface a warehouse user
expects next to the relational operators (beyond-parity, SURVEY §2.8
family; the reference ships the function surface but no behavioral
macros, so these are the composed forms).

Scale notes (100 TB lens):

- ``op_funnel_conversion`` is a SINGLE scan with three stacked
  whole-partition windows on user_id and one keyed agg — 0 joins; the
  join formulation re-derived the events lineage once per stage (6
  scans in the plan census) and was discarded.
- ``op_cohort_retention`` reduces events to (user, week) pairs before
  any join (DISTINCT projection — the wide events payload never crosses
  a shuffle), then joins the tiny per-user cohort frame and aggregates.
  Output cardinality is cohorts x offsets — metadata-scale.
- ``op_event_transitions`` is one keyed lag window plus a
  |event types|²-row aggregate.
- ``op_rolling_dau`` expands each DISTINCT (day, user) pair to the 7
  target days it contributes to — a bounded explode instead of an
  O(days x pairs) range self-join — then clamps target days to the
  last observed activity day so no partial trailing window is
  reported as a future day.
- ``op_new_vs_returning`` joins the per-user first-day frame back on
  user_id over the same reduced (day, user) pairs.
- ``op_token_cooccurrence`` mines frequent token pairs with a-priori
  pruning and a materialized frequent-presence frame — see its block
  comment.
- ``text_bm25_score`` is SINGLE-PASS: one token explode feeds one
  groupBy(doc_id) producing document length and every per-term
  frequency together (map-side combinable — the shuffle carries
  n_docs rows, not tokens); corpus stats reduce that materialized
  ~40-byte/doc frame to one broadcast row.  Scores are a FIXED-ORDER
  sum over pivoted per-term columns: the textual addition order is
  identical on both engines, so the doubles are bit-equal before the
  final round (float sums over an unordered GROUP BY would be last-ulp
  order-sensitive).

Week arithmetic parity: ``date_trunc('week', ...)`` is Monday-start on
both engines but returns TIMESTAMP in Spark vs the same in DuckDB —
both sides CAST to DATE (memory: oracle-parity pitfall), and the week
offset is an exact integer (day difference of week-truncated dates is
always a multiple of 7; the CAST after /7 truncates an exact double).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dblab_ece_trino_spark.operators.registry import (
    documents,
    register,
    register_sql,
    register_template,
)
from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES


# Ordered funnel: first view, first click AFTER that view, first
# purchase AFTER that click — strictly ordered stages per user (the
# "did the user progress" question attribution models start from).
# SINGLE-SCAN form: three stacked whole-partition windows on user_id
# (each stage's conditional min can see the previous stage's timestamp
# on every row), then one keyed agg that reuses the window exchange's
# partitioning — 1 scan, 1 exchange, 3 window passes, 0 joins
# (plan-asserted).  The join formulation (first-view agg ⋈ clicks ⋈
# purchases) re-derives the events lineage once per stage — 6 scans in
# the plan census — which is the difference between reading a 100 TB
# event log once and reading it six times.  Identical SQL on both
# engines; the windows have no ORDER BY (whole-partition frame), so
# there is no per-partition sort either.
FUNNEL_TEMPLATE = """
    WITH w1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM {events}
    ),
    w2 AS (
      SELECT user_id, ts, event_type, t_view,
             min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
      FROM w1
    ),
    w3 AS (
      SELECT user_id, t_view, t_click,
             min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
      FROM w2
    )
    SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
           min(t_purchase) AS t_purchase,
           CAST(1 + CASE WHEN min(t_click) IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN min(t_purchase) IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS stage
    FROM w3
    WHERE t_view IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
"""

register_template("op_funnel_conversion", FUNNEL_TEMPLATE)

# Weekly cohort retention: cohort = week of a user's first event;
# n_active = distinct cohort members active k weeks later.  Counts only
# (exact integers) — rates are the caller's division.
_COHORT_TPL = """
    WITH f AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM {events} GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS activity_week
      FROM {events}
    ),
    j AS (
      SELECT f.cohort_week,
             CAST({datediff} / 7 AS BIGINT) AS week_offset,
             a.user_id
      FROM a JOIN f ON a.user_id = f.user_id
    ),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
      FROM f GROUP BY cohort_week
    )
    SELECT j.cohort_week, j.week_offset,
           CAST(count(DISTINCT j.user_id) AS BIGINT) AS n_active,
           s.n_cohort
    FROM j JOIN sizes s ON j.cohort_week = s.cohort_week
    GROUP BY j.cohort_week, j.week_offset, s.n_cohort
    ORDER BY j.cohort_week, j.week_offset
"""

register_template(
    "op_cohort_retention",
    _COHORT_TPL.replace(
        "{datediff}", "datediff(a.activity_week, f.cohort_week)"
    ),
    _COHORT_TPL.replace(
        "{datediff}", "datediff('day', f.cohort_week, a.activity_week)"
    ),
)

# Markov transition counts over each user's event sequence: one keyed
# lag window (hash shuffle on user_id, per-user sort), then a tiny
# (|event types|²)-row aggregate.  The standard "what follows what"
# path-mining first pass.  Identical SQL on both engines.
TRANSITIONS_TEMPLATE = """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM {events}
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, next_type
"""

register_template("op_event_transitions", TRANSITIONS_TEMPLATE)

# Rolling 7-day distinct active users.  The scalable form: reduce to
# DISTINCT (day, user) first (payload never shuffles again), then
# EXPAND each activity day to the 7 target days it contributes to (a
# bounded explode — 7 rows per pair) and count distinct users per
# target day.  This replaces the O(days x pairs) range self-join with a
# linear explode, the same trick as joins.py's bucketized range join.
_ROLLING_DAU_TPL = """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
      FROM {events}
    ),
    expanded AS (
      SELECT user_id, {expand} AS target_day FROM du
    )
    SELECT CAST(target_day AS DATE) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau_7d
    FROM expanded
    WHERE target_day <= (SELECT max(d) FROM du)
    GROUP BY target_day
    ORDER BY day
"""

register_template(
    "op_rolling_dau",
    _ROLLING_DAU_TPL.replace(
        "{expand}", "explode(sequence(d, date_add(d, 6)))"
    ),
    _ROLLING_DAU_TPL.replace(
        "{expand}", "unnest(generate_series(d, d + 6, INTERVAL 1 DAY))"
    ),
)


# BM25 (k1=1.2, b=0.75) for a fixed query term set.  idf is the
# "+1-inside-the-log" form (always positive); dl/avgdl is expressed as
# dl * n_docs / tot_dl so every double derives from exact integers with
# identical expression text on both engines.  Per-term scores live in
# pivoted columns and are summed in FIXED textual order — see module
# docstring.
#
# SINGLE-PASS shape: one token explode feeds ONE groupBy(doc_id) that
# produces document length and every per-term frequency together
# (map-side combinable — the shuffle carries n_docs rows, not tokens);
# corpus stats and per-term document frequencies reduce that narrow
# frame to one broadcast row.  The Spark side materializes the
# ~40-byte/doc aggregate so the stats branch cannot re-derive the
# explode (the first formulation's four-consumer lineage cost four
# corpus scans in the plan census); the oracle states the identical
# computation as straight SQL.
_BM25_TERMS = ("table", "fast", "row")


def _bm25_term_score(term: str) -> str:
    """Score expression for one term — IDENTICAL text on both engines
    (the oracle embeds the same string), so the doubles are bit-equal."""
    return (
        f"CASE WHEN tf_{term} > 0 THEN "
        f"ln(1 + (CAST(n_docs AS DOUBLE) - df_{term} + 0.5) "
        f"/ (df_{term} + 0.5)) "
        f"* (tf_{term} * 2.2) "
        f"/ (tf_{term} + 1.2 * (0.25 + 0.75 * dl "
        f"* CAST(n_docs AS DOUBLE) / tot_dl)) END"
    )


_BM25_FINAL = (
    "CAST(round("
    + " + ".join(f"coalesce(s_{t}, 0.0)" for t in _BM25_TERMS)
    + ", 6) AS DOUBLE)"
)

_BM25_N_TERMS = (
    "CAST("
    + " + ".join(f"CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END" for t in _BM25_TERMS)
    + " AS BIGINT)"
)


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.session import materialize

    docs = documents(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    agg = materialize(
        toks.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("dl"),
            *[
                F.count(F.when(F.col("tok") == t, 1))
                .cast("long")
                .alias(f"tf_{t}")
                for t in _BM25_TERMS
            ],
        )
    )
    stats = agg.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long"))
            .cast("long")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    ).withColumn("__k", F.lit(1))
    scored = (
        agg.withColumn("__k", F.lit(1))
        .join(F.broadcast(stats), "__k")
        .select(
            "doc_id",
            *[
                F.expr(_bm25_term_score(t)).alias(f"s_{t}")
                for t in _BM25_TERMS
            ],
            F.expr(_BM25_N_TERMS).alias("n_query_terms"),
        )
    )
    return scored.filter(F.col("n_query_terms") > 0).select(
        "doc_id", F.expr(_BM25_FINAL).alias("bm25"), "n_query_terms"
    )


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(count(CASE WHEN tok = '{t}' THEN 1 END) AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}"
        for t in _BM25_TERMS
    )
    s_cols = ",\n           ".join(
        f"{_bm25_term_score(t)} AS s_{t}" for t in _BM25_TERMS
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
             {tf_cols}
      FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS tot_dl,
             {df_cols}
      FROM agg
    ),
    scored AS (
      SELECT a.doc_id,
           {s_cols},
           {_BM25_N_TERMS} AS n_query_terms
      FROM agg a CROSS JOIN stats s
    )
    SELECT doc_id, {_BM25_FINAL} AS bm25, n_query_terms
    FROM scored WHERE n_query_terms > 0
    """


register("text_bm25_score", _q_bm25, oracle=_bm25_oracle())


# A-priori-pruned token co-occurrence (frequent-pair mining): candidate
# pairs are generated ONLY among tokens whose document frequency already
# clears the support floor (a pair cannot reach support s unless both
# members do — the apriori property), so the per-document pair explosion
# is f², f = frequent tokens per doc, never tokens².
#
# Derivation discipline (the curate-pipeline materialize() pattern):
# the DISTINCT (doc, token) presence frame feeds the frequent-token
# count and the frequent-presence projection — TWO corpus passes, not
# five (the all-CTE SQL form re-derived it for freq/ft/ft/stats: 5
# scans in the plan census).  The frequent-presence frame (docs x
# frequent-vocab only) is checkpointed before the self-join so the pair
# stage reads it twice from storage instead of re-tokenizing the
# corpus, and n_docs comes from a column-pruned count of the documents
# table (whitespace tokenization yields >= 1 token for every document,
# including empty ones, so the counts agree by construction).
_COOC_MINSUP = 150


def _q_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.session import materialize

    docs = documents(spark, sf_dir)
    dt = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).distinct()
    freq = dt.groupBy("tok").agg(F.count("*").cast("long").alias("df")).filter(
        F.col("df") >= _COOC_MINSUP
    )
    ft = materialize(dt.join(F.broadcast(freq), "tok"))
    a = ft.select("doc_id", F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    b = ft.select("doc_id", F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "df_a", "df_b")
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= _COOC_MINSUP)
    )
    n_docs = docs.select("doc_id").count()
    return (
        pairs.select(
            "tok_a",
            "tok_b",
            "support",
            F.round(
                F.col("support").cast("double")
                * F.lit(n_docs)
                / (F.col("df_a") * F.col("df_b")),
                6,
            )
            .cast("double")
            .alias("lift"),
        )
        .orderBy("tok_a", "tok_b")
    )


register(
    "op_token_cooccurrence",
    _q_token_cooccurrence,
    oracle=rf"""
    WITH dt AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df
      FROM dt GROUP BY tok HAVING count(*) >= {_COOC_MINSUP}
    ),
    ft AS (
      SELECT dt.doc_id, dt.tok, f.df FROM dt JOIN freq f ON dt.tok = f.tok
    ),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a, b.df AS df_b,
             CAST(count(*) AS BIGINT) AS support
      FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok, a.df, b.df
    ),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT tok_a, tok_b, support,
           CAST(round(CAST(support AS DOUBLE) * n_docs
                      / (df_a * df_b), 6) AS DOUBLE) AS lift
    FROM pairs CROSS JOIN stats
    WHERE support >= {_COOC_MINSUP}
    ORDER BY tok_a, tok_b
    """,
)


# Daily new-vs-returning split: an active user is "new" on their
# first-ever activity day, "returning" after.  DISTINCT (day, user)
# reduction first; the per-user first-day frame joins back on user_id
# and one keyed agg produces the daily split.  Identical SQL on both
# engines; counts only (exact integers).
register_template(
    "op_new_vs_returning",
    """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
      FROM {events}
    ),
    firsts AS (
      SELECT user_id, min(d) AS first_day FROM du GROUP BY user_id
    )
    SELECT du.d AS day,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN du.d = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN du.d > f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning
    FROM du JOIN firsts f ON du.user_id = f.user_id
    GROUP BY du.d
    ORDER BY day
    """,
)


# Sequential pattern mining: event-type trigrams per user session
# stream (the order-3 extension of op_event_transitions' bigrams --
# path analysis "view -> click -> purchase happened N times").  One
# keyed window pass (two lags share the same sort/exchange) + one hash
# agg whose output is |event types|^3 -- metadata-scale however large
# the log is.  (ts, event_id) is a unique ordering key so the lags are
# deterministic; the top-25 cut is tie-broken on the full trigram.
register_template(
    "op_event_trigrams",
    """
    WITH seq AS (
      SELECT lag(event_type, 2)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
             lag(event_type, 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             event_type AS e3
      FROM {events}
    )
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
    FROM seq
    WHERE e1 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3
    LIMIT 25
    """,
)


# Hourly trending: top-3 event types per tumbling hour.  The batch
# analog of streaming/events.py's trending_event_counts (the same
# pairing discipline as op_click_attribution for the interval join):
# the hourly count frame is the watermarked windowed-count state, and
# the rank is the per-window cut a downstream dashboard applies.  One
# hash agg (map-side combinable: |hours| x |event types| partial rows
# per task) + one bounded window over per-hour groups.
register_template(
    "op_trending_hours",
    """
    WITH hc AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
      FROM {events}
      GROUP BY 1, 2
    )
    SELECT CAST(hour AS TIMESTAMP) AS hour, event_type,
           CAST(n AS BIGINT) AS n, CAST(rk AS INT) AS rk
    FROM (
      SELECT hour, event_type, n,
             row_number() OVER (PARTITION BY hour
                                ORDER BY n DESC, event_type) AS rk
      FROM hc
    )
    WHERE rk <= 3
    ORDER BY hour, rk
    """,
)


# Per-key hourly rate limit: keep the first N events per (user, hour) in
# event order — the batch analog of streaming/events.py's
# throttle_stream (the op_click_attribution pairing discipline: the
# stateful streaming operator is pinned to this driver-graded batch
# form in tests).  One keyed window whose partition is (user, hour) —
# state per partition is a row counter, nothing accumulates beyond the
# frame, and the hour component keeps partitions bounded however long
# the log is.
register_template(
    "op_rate_limit",
    """
    WITH r AS (
      SELECT event_id, user_id, date_trunc('hour', ts) AS hour,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn
      FROM {events}
    )
    SELECT event_id, user_id, CAST(hour AS TIMESTAMP) AS hour,
           CAST(rn AS BIGINT) AS rn
    FROM r
    WHERE rn <= 5
    ORDER BY event_id
    """,
)


# ------------------------------------------------- sequence pattern match
def _register_sequence_match() -> None:
    """MATCH_RECOGNIZE analog: per-user journey pattern counting.

    Each user's view/click/purchase events collapse to a single-char
    code string in (ts, event_id) order; the pattern ``vc*p`` (a view,
    any run of clicks, then a purchase — no other event in between)
    is counted with non-overlapping regex semantics.  Trino ships
    row-pattern matching as the MATCH_RECOGNIZE clause (SURVEY §2.8's
    SQL-surface lane); Spark has no clause for it, but the
    collapse-to-string + regex form expresses the same FSM over each
    key's ordered row sequence — and is how sequential-pattern mining
    is idiomatically done on Spark at scale.

    Scale shape: one hash shuffle on user_id; the per-user code string
    is bounded by the user's event count (sessions in production — cap
    the collect with a window slice if a key can be pathological).
    Regex semantics note: 'vc*p' is anchored at each scan position and
    both RE2 (DuckDB) and Java regex (Spark) resolve it leftmost-first
    with identical results for this pattern class (no alternation whose
    branches overlap).

    Spark's ordered concat is transform(array_sort(collect_list(
    struct(ts, event_id, code)))) — array_sort on the struct gives the
    (ts, event_id) total order (event_id is unique, so the sort is
    deterministic); DuckDB has ordered aggregation natively
    (string_agg ... ORDER BY).
    """
    code = """
      CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                      WHEN 'purchase' THEN 'p' END
    """
    tpl = f"""
    WITH coded AS (
      SELECT user_id, ts, event_id, {code} AS code
      FROM {{events}}
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    journeys AS (
      SELECT user_id, {{seq_agg}} AS seq
      FROM coded
      GROUP BY user_id
    ),
    matched AS (
      SELECT user_id, CAST({{n_matches}} AS INT) AS n_matches,
             CAST(length(seq) AS BIGINT) AS path_len
      FROM journeys
    )
    SELECT n_matches,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(path_len) AS BIGINT) AS total_path_len
    FROM matched
    GROUP BY n_matches
    ORDER BY n_matches
    """
    spark_sql = (
        tpl.replace(
            "{seq_agg}",
            "concat_ws('', transform(array_sort(collect_list("
            "struct(ts, event_id, code))), x -> x.code))",
        )
        .replace("{n_matches}", "size(regexp_extract_all(seq, 'vc*p', 0))")
        .format(**_SPARK_TABLES)
    )
    oracle_sql = (
        tpl.replace("{seq_agg}", "string_agg(code, '' ORDER BY ts, event_id)")
        .replace("{n_matches}", "len(regexp_extract_all(seq, 'vc*p'))")
        .format(**_ORACLE_TABLES)
    )
    register_sql("op_sequence_match", spark_sql, oracle_sql)


_register_sequence_match()


# ---------------------------------------------- conversion latency
def _register_conversion_latency() -> None:
    """Time-to-convert distribution: hours between a user's FIRST view
    and their first purchase AFTER it, bucketed into a day-resolution
    histogram (plus never-converted).

    Product analytics' companion to the funnel count: not whether users
    convert but how long it takes.  "First purchase AFTER the first
    view" needs the first view BEFORE the purchase min can be taken, so
    first_view is a per-user window min and the conditional purchase
    min runs in the same keyed aggregation — one hash shuffle total,
    the window and the groupBy reuse the same partitioning, still no
    self-join of the event stream.  Buckets are exact integer
    hour-diffs, so the histogram is partition-order independent.
    """
    tpl = """
    WITH viewed AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS first_view
      FROM {events}
    ),
    firsts AS (
      SELECT user_id,
             min(first_view) AS first_view,
             min(CASE WHEN event_type = 'purchase' AND ts >= first_view
                      THEN ts END) AS first_purchase
      FROM viewed
      GROUP BY user_id
    ),
    latency AS (
      SELECT user_id,
             CASE
               WHEN first_purchase IS NULL THEN NULL
               ELSE CAST({hours_between} AS BIGINT)
             END AS hours_to_convert
      FROM firsts
      WHERE first_view IS NOT NULL
    )
    SELECT CASE WHEN hours_to_convert IS NULL THEN -1
                ELSE CAST(floor(hours_to_convert / 24) AS BIGINT) END
             AS days_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(coalesce(min(hours_to_convert), -1) AS BIGINT) AS min_hours,
           CAST(coalesce(max(hours_to_convert), -1) AS BIGINT) AS max_hours
    FROM latency
    GROUP BY 1
    ORDER BY 1
    """
    spark_sql = (
        tpl.replace(
            "{hours_between}",
            "timestampdiff(SECOND, first_view, first_purchase) div 3600",
        )
    ).format(**_SPARK_TABLES)
    oracle_sql = (
        tpl.replace(
            "{hours_between}",
            "floor(date_diff('second', first_view, first_purchase) / 3600)",
        )
    ).format(**_ORACLE_TABLES)
    register_sql("op_conversion_latency", spark_sql, oracle_sql)


_register_conversion_latency()


def _register_ab_test() -> None:
    """Deterministic A/B experiment readout: hash-bucketed assignment,
    binary conversion, and a pooled two-proportion z statistic.

    The product-analytics macro on top of the reference's function
    surface (Trino users build this from md5 + conditional aggregates;
    SURVEY §2.8 family).  Assignment is the engine-portable md5 fold
    (operators/sketches.hexint_sql) over the experiment salt and
    customer key, so the variant split is bit-identical on both engines
    and — the property a real experiment needs — stable under
    re-partitioning and re-runs.  Conversion is "placed an order in
    1995", resolved with one DISTINCT projection of orders joined back
    to customers (the converter frame is ~|converters| keys, broadcast
    at this shape; at 100 TB the join degrades to one key-partitioned
    shuffle of two narrow frames).

    Everything through the conditional aggregate is exact integer
    arithmetic; the rates and the z statistic are single per-row IEEE
    double expressions over those exact counts, written with identical
    text on both engines (per-row float math is bit-stable cross-engine;
    only *aggregated* float sums are order-sensitive).
    """
    from dblab_ece_trino_spark.operators.sketches import hexint_sql

    bucket = hexint_sql("c_custkey", "abexp1", 4)
    tpl = f"""
    WITH conv AS (
      SELECT DISTINCT o_custkey
      FROM {{orders}}
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1996-01-01'
    ),
    assigned AS (
      SELECT ({bucket}) % 2 AS variant,
             CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END AS converted
      FROM {{customer}}
      LEFT JOIN conv ON c_custkey = o_custkey
    ),
    counts AS (
      SELECT
        CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_a,
        CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_b
      FROM assigned
    ),
    rates AS (
      SELECT n_a, n_b, conv_a, conv_b,
             CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
             CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
             CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
               AS pooled_p
      FROM counts
    )
    SELECT n_a, n_b, conv_a, conv_b, rate_a, rate_b,
           (rate_a - rate_b)
             / sqrt(pooled_p * (1 - pooled_p)
                    * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE)))
             AS z_score
    FROM rates
    """
    register_sql(
        "op_ab_test",
        tpl.format(**_SPARK_TABLES),
        tpl.format(**_ORACLE_TABLES),
    )


_register_ab_test()


def _q_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the classic sweep-line over
    session intervals (+1 at each session start, -1 at its exclusive
    end, running sum, per-day max): the capacity-planning readout on
    top of the session_window operator.

    Sessions crossing midnight are CLAMPED to day boundaries via a
    bounded date explode (a session spans a handful of days at a
    30-minute idle gap), so the running-sum window partitions BY DAY —
    never a global sweep: per-day delta frames are two narrow rows per
    session, and days parallelize perfectly at any corpus size.  Tie
    policy: at an identical instant, ends sort before starts
    (delta ASC), so back-to-back sessions never count as concurrent;
    the per-day MAX of the running sum is invariant to the order
    within equal (instant, delta) rows, so the result is deterministic
    on both engines without a unique sort key.  All integer counts.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.streaming.events import session_window_counts

    cat = engine_for(spark, sf_dir).catalogs
    sess = session_window_counts(cat.table("elastic.default.events")).select(
        "user_id", "session_start", "session_end"
    )
    spans = sess.withColumn(
        "day",
        F.explode(
            F.sequence(
                F.to_date("session_start"),
                F.to_date(F.col("session_end") - F.expr("INTERVAL 1 MICROSECOND")),
            )
        ),
    )
    deltas = spans.select(
        "day",
        F.greatest(
            F.col("session_start"), F.col("day").cast("timestamp_ntz")
        ).alias("pt"),
        F.lit(1).alias("delta"),
    ).unionAll(
        spans.select(
            "day",
            F.least(
                F.col("session_end"),
                F.date_add(F.col("day"), 1).cast("timestamp_ntz"),
            ).alias("pt"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy("pt", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deltas.withColumn("cur", F.sum("delta").over(w))
        .groupBy("day")
        .agg(
            F.expr("count(*) div 2").cast("long").alias("n_sessions"),
            F.max("cur").cast("long").alias("peak_concurrency"),
        )
        .orderBy("day")
    )


register(
    "op_concurrency_sweep",
    _q_concurrency_sweep,
    oracle="""
    WITH m AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    g AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM m),
    sess AS (
      SELECT user_id, sess,
             min(ts) AS s, max(ts) + INTERVAL 30 MINUTE AS e
      FROM g GROUP BY user_id, sess),
    spans AS (
      SELECT s, e, CAST(t.dd AS DATE) AS day
      FROM sess,
           LATERAL (SELECT unnest(generate_series(
             CAST(s AS DATE),
             CAST(e - INTERVAL 1 MICROSECOND AS DATE),
             INTERVAL 1 DAY)) AS dd) t),
    deltas AS (
      SELECT day, greatest(s, CAST(day AS TIMESTAMP)) AS pt, 1 AS delta
      FROM spans
      UNION ALL
      SELECT day, least(e, CAST(day + INTERVAL 1 DAY AS TIMESTAMP)) AS pt,
             -1 AS delta
      FROM spans),
    run AS (
      SELECT day,
             sum(delta) OVER (PARTITION BY day ORDER BY pt, delta
                              ROWS UNBOUNDED PRECEDING) AS cur
      FROM deltas)
    SELECT day,
           CAST(count(*) // 2 AS BIGINT) AS n_sessions,
           CAST(max(cur) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY day ORDER BY day
    """,
)


# ----------------------------------------------------------- RFM segmentation
def rfm_segments(orders: DataFrame) -> DataFrame:
    """Classic RFM customer segmentation (recency / frequency /
    monetary quintiles — direct-marketing canon since Hughes 1994):
    each customer scores 1..5 per dimension by QUANTILE-BREAKPOINT
    bucketing (score = 1 + number of quintile thresholds the metric
    exceeds; ties share a score, the standard value-based RFM
    semantics), and the output is the segment-level rollup.

    Scale design: quintile thresholds come from
    ``analytics.grouped_disc_thresholds`` — the weighted-histogram +
    two-level sharded cumulative rank machinery that backs
    op_winsorize/op_mad_outliers — NOT from a global ntile window (a
    single-partition sort over every customer) and NOT from native
    percentile aggregates (per-group value sets pinned in one task,
    the measured 4x x30 cliff documented in analytics.py).  The
    customer frame is materialized once; a stack() unpivot turns it
    into ONE (metric, value) histogram so the threshold machinery runs
    a single time with metric as the group key, and the 3-row result
    is broadcast back into the scoring projection.  All
    scoring arithmetic is integer (cents, days, counts), bit-identical
    to DuckDB's percentile_disc.

    recency_days is measured against the corpus max order date (one
    1-row aggregate broadcast in), so the entry replays identically on
    any engine and any wall-clock date.
    """
    from dblab_ece_trino_spark.operators.analytics import (
        grouped_disc_thresholds,
    )
    from dblab_ece_trino_spark.session import materialize

    from pyspark.sql import functions as F

    cust = materialize(
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_dt"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(
                F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
            ).alias("mon_cents"),
        )
        .crossJoin(
            F.broadcast(orders.agg(F.max("o_orderdate").alias("max_dt")))
        )
        .select(
            "o_custkey",
            F.datediff("max_dt", "last_dt").cast("long").alias("rec_days"),
            "freq",
            "mon_cents",
        )
    )
    fracs = {
        "t20": (1, 5), "t40": (2, 5), "t60": (3, 5), "t80": (4, 5),
    }
    # ONE threshold derivation for all three metrics: stack() unpivots
    # the customer frame to (metric, value) so grouped_disc_thresholds
    # runs its sharded-histogram machinery ONCE with metric as the
    # group key (3 output rows), instead of three separate
    # materialize/rank chains — measured 3.33s -> 1.75s at sf0.1 and
    # plan census (13,20,3,4) -> (4,2,0,1); values are identical
    # because the thresholds are per-group by construction.
    vf = (
        cust.selectExpr(
            "stack(3, 'rec_days', rec_days, 'freq', freq,"
            " 'mon_cents', mon_cents) AS (metric, v)"
        )
        .groupBy("metric", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = materialize(grouped_disc_thresholds(vf, "metric", "v", fracs))

    def thresholds(col: str) -> DataFrame:
        return t.filter(F.col("metric") == col).select(
            *[F.col(n).alias(f"{col}_{n}") for n in fracs]
        )

    scored = (
        cust.crossJoin(F.broadcast(thresholds("rec_days")))
        .crossJoin(F.broadcast(thresholds("freq")))
        .crossJoin(F.broadcast(thresholds("mon_cents")))
    )

    def score(col: str):
        return (
            F.lit(1)
            + sum(
                F.when(F.col(col) > F.col(f"{col}_{n}"), 1).otherwise(0)
                for n in fracs
            )
        ).cast("int")

    return (
        scored.select(
            score("rec_days").alias("r_score"),
            score("freq").alias("f_score"),
            score("mon_cents").alias("m_score"),
            "mon_cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("mon_cents").cast("long").alias("monetary_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def _q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.entrypoints import engine_for

    return rfm_segments(
        engine_for(spark, sf_dir).catalogs.table("mongodb.tpch.orders")
    )


_RFM_ORACLE = """
    WITH cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(o_orderdate),
                  (SELECT max(o_orderdate) FROM orders)) AS BIGINT)
               AS rec_days,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS mon_cents
      FROM orders GROUP BY o_custkey
    ),
    t AS (
      SELECT
        percentile_disc(0.2) WITHIN GROUP (ORDER BY rec_days) AS r20,
        percentile_disc(0.4) WITHIN GROUP (ORDER BY rec_days) AS r40,
        percentile_disc(0.6) WITHIN GROUP (ORDER BY rec_days) AS r60,
        percentile_disc(0.8) WITHIN GROUP (ORDER BY rec_days) AS r80,
        percentile_disc(0.2) WITHIN GROUP (ORDER BY freq) AS f20,
        percentile_disc(0.4) WITHIN GROUP (ORDER BY freq) AS f40,
        percentile_disc(0.6) WITHIN GROUP (ORDER BY freq) AS f60,
        percentile_disc(0.8) WITHIN GROUP (ORDER BY freq) AS f80,
        percentile_disc(0.2) WITHIN GROUP (ORDER BY mon_cents) AS m20,
        percentile_disc(0.4) WITHIN GROUP (ORDER BY mon_cents) AS m40,
        percentile_disc(0.6) WITHIN GROUP (ORDER BY mon_cents) AS m60,
        percentile_disc(0.8) WITHIN GROUP (ORDER BY mon_cents) AS m80
      FROM cust
    )
    SELECT CAST(1 + (rec_days > r20)::int + (rec_days > r40)::int
                  + (rec_days > r60)::int + (rec_days > r80)::int AS INT)
             AS r_score,
           CAST(1 + (freq > f20)::int + (freq > f40)::int
                  + (freq > f60)::int + (freq > f80)::int AS INT)
             AS f_score,
           CAST(1 + (mon_cents > m20)::int + (mon_cents > m40)::int
                  + (mon_cents > m60)::int + (mon_cents > m80)::int AS INT)
             AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(mon_cents) AS BIGINT) AS monetary_cents
    FROM cust, t
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""

register("op_rfm_segments", _q_rfm, oracle=_RFM_ORACLE)


# -------------------------------------------------------- association rules
ASSOC_MIN_SUP = 3
ASSOC_TOP = 50


def assoc_rules(
    li: DataFrame, min_sup: int = ASSOC_MIN_SUP, top: int = ASSOC_TOP
) -> DataFrame:
    """Market-basket association rules (Agrawal/Srikant a-priori
    framing): for part pairs co-occurring in >= min_sup ORDERS, both
    directed rules a->b with exact order-level support, confidence and
    lift.  ALL metrics are integers — confidence and lift are reported
    in parts-per-million via integer floor division (conf_ppm =
    n_ab*1e6 div n_a; lift_ppm = N*n_ab*1e6 div (n_a*n_b)), so the
    driver value-hash replays exactly and no float summation order can
    flip a ranking tie.

    Shape: ONE lineitem scan into a per-order distinct-part collect
    (bounded by order size), map-side C(k,2) pair explode — the
    coorder_pairs economics from graph.py, but order-level distinct so
    supports are true basket counts — then the pair support aggregation
    and a broadcast join of the item-support frame onto both rule
    directions.  The basket frame is materialized once for the pair
    branch and the item-support branch; the min-sup-surviving pair
    frame is materialized once and PRUNES the |parts|-scale
    item-support frame via a broadcast semi-join before it is itself
    broadcast — so the forced broadcast is bounded by the survivors
    (tiny by construction at any |parts|), never the full part
    dimension.  Overflow-safe at any N: the lift numerator
    N * n_ab * 1e6 and denominator n_a * n_b are computed in
    DECIMAL(38,0) (Spark ``div`` divides decimals exactly and only
    casts the already-small quotient to BIGINT) / HUGEINT (DuckDB), so
    both engines stay exact where BIGINT would wrap (Spark, non-ANSI)
    or error (DuckDB) past ~3e6 orders.
    """
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.session import materialize

    baskets = materialize(
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
        ).distinct()
    )
    n_orders = baskets.select(F.countDistinct("ok").alias("n")).withColumn(
        "__j", F.lit(1)
    )
    items = baskets.groupBy("p").agg(F.count(F.lit(1)).alias("n_item"))
    per_order = baskets.groupBy("ok").agg(
        F.sort_array(F.collect_set("p")).alias("parts")
    )
    pairs = materialize(
        per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("pr")
        )
        .select(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_sup)
    )
    both_dirs = pairs.unionAll(
        pairs.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "n_ab"
        )
    )
    # parts surviving min-sup — tiny by construction; semi-join-prune
    # the |parts|-scale item-support frame against it (broadcasting the
    # survivors, not the dimension) so the forced broadcast below is
    # bounded at any part-dimension scale
    surviving = pairs.select(F.col("a").alias("p")).unionAll(
        pairs.select(F.col("b").alias("p"))
    ).distinct()
    items_p = materialize(items.join(F.broadcast(surviving), "p", "left_semi"))
    scored = (
        both_dirs.join(
            F.broadcast(items_p.select(F.col("p").alias("a"),
                                       F.col("n_item").alias("n_a"))), "a"
        )
        .join(
            F.broadcast(items_p.select(F.col("p").alias("b"),
                                       F.col("n_item").alias("n_b"))), "b"
        )
        .withColumn("__j", F.lit(1))
        .join(F.broadcast(n_orders), "__j")
        .select(
            F.col("a").cast("long").alias("antecedent"),
            F.col("b").cast("long").alias("consequent"),
            "n_ab",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n").cast("long").alias("n_orders"),
            F.expr("(n_ab * 1000000) div n_a").cast("long").alias("conf_ppm"),
            F.expr(
                "(CAST(n AS DECIMAL(38,0)) * n_ab * 1000000) div "
                "(CAST(n_a AS DECIMAL(38,0)) * n_b)"
            )
            .cast("long")
            .alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("n_ab"), F.desc("lift_ppm"), "antecedent", "consequent"
    ).limit(top)


def _q_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.entrypoints import engine_for

    return assoc_rules(
        engine_for(spark, sf_dir).catalogs.table("psql.tpch.lineitem")
    )


_ASSOC_ORACLE = f"""
    WITH baskets AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ),
    items AS (
      SELECT p, CAST(count(*) AS BIGINT) AS n_item FROM baskets GROUP BY p
    ),
    pairs AS (
      SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS n_ab
      FROM baskets x JOIN baskets y ON x.ok = y.ok AND x.p < y.p
      GROUP BY 1, 2
      HAVING count(*) >= {ASSOC_MIN_SUP}
    ),
    dirs AS (
      SELECT a, b, n_ab FROM pairs
      UNION ALL
      SELECT b, a, n_ab FROM pairs
    )
    SELECT CAST(d.a AS BIGINT) AS antecedent,
           CAST(d.b AS BIGINT) AS consequent,
           d.n_ab,
           ia.n_item AS n_a,
           ib.n_item AS n_b,
           CAST((SELECT count(DISTINCT ok) FROM baskets) AS BIGINT)
             AS n_orders,
           CAST((d.n_ab * 1000000) // ia.n_item AS BIGINT) AS conf_ppm,
           CAST((CAST((SELECT count(DISTINCT ok) FROM baskets) AS HUGEINT)
                 * d.n_ab * 1000000)
                // (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT)
             AS lift_ppm
    FROM dirs d
    JOIN items ia ON ia.p = d.a
    JOIN items ib ON ib.p = d.b
    ORDER BY d.n_ab DESC, lift_ppm DESC, antecedent, consequent
    LIMIT {ASSOC_TOP}
"""

register("op_assoc_rules", _q_assoc, oracle=_ASSOC_ORACLE)


def _register_survival_hazard() -> None:
    """Kaplan-Meier / Nelson-Aalen life table for time-to-second-
    purchase (Kaplan & Meier 1958; Aalen 1978) — the standard
    right-censored retention analysis: per customer, the duration from
    first to second order is an EVENT; customers who never reorder are
    CENSORED at the observation horizon (the corpus max order date).
    For every distinct duration t the table reports the risk set
    n_risk = |{durations >= t}|, events d_t, censorings c_t, the
    discrete hazard d_t/n_risk in exact ppm, and the Nelson-Aalen
    cumulative hazard as the running sum of those integer hazards.
    The K-M convention that events at t precede censorings at t is
    inherited exactly by the >= t risk-set definition.

    ALL-INTEGER: durations are whole days, the hazard is one
    nonnegative floor division, the cumulative hazard sums already-
    floored ppm terms (deterministic on both engines; the float
    survival product S(t) = prod(1 - d/n) is left to the pytest layer,
    the permutation-entropy/HLL precedent).

    100 TB shape: one orders scan; the per-customer rank window keys on
    o_custkey (perfectly parallel); everything after the GROUP BY t
    operates on the |distinct durations|-row life table (~2.4k rows at
    any corpus scale — durations are bounded by the date span), where
    the two unpartitioned cumulative windows are constant-cost by
    construction.
    """
    tpl = """
        WITH ranked AS (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM {orders}
        ),
        horizon AS (
          SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM {orders}
        ),
        firsts AS (
          SELECT o_custkey,
                 min(CASE WHEN rn = 1 THEN d END) AS d1,
                 min(CASE WHEN rn = 2 THEN d END) AS d2
          FROM ranked WHERE rn <= 2 GROUP BY o_custkey
        ),
        obs AS (
          SELECT f.o_custkey,
                 CAST(CASE WHEN f.d2 IS NOT NULL THEN {diff_sd}
                      ELSE {diff_hd} END AS BIGINT) AS t,
                 CASE WHEN f.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
          FROM firsts f
          CROSS JOIN horizon
        ),
        bytime AS (
          SELECT t, CAST(sum(ev) AS BIGINT) AS d_events,
                 CAST(sum(1 - ev) AS BIGINT) AS n_censored
          FROM obs GROUP BY t
        ),
        risk AS (
          SELECT t, d_events, n_censored,
                 CAST(sum(d_events + n_censored)
                      OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
          FROM bytime
        ),
        haz AS (
          SELECT t, n_risk, d_events, n_censored,
                 CAST((d_events * 1000000) {fd} n_risk AS BIGINT)
                   AS hazard_ppm
          FROM risk
        )
        SELECT t AS t_days, n_risk, d_events, n_censored, hazard_ppm,
               CAST(sum(hazard_ppm) OVER (ORDER BY t) AS BIGINT)
                 AS cumhaz_ppm
        FROM haz
        ORDER BY t_days
    """
    register_sql(
        "op_survival_hazard",
        tpl.replace("{fd}", "div")
        .replace("{diff_sd}", "datediff(f.d2, f.d1)")
        .replace("{diff_hd}", "datediff(dmax, f.d1)")
        .format(**_SPARK_TABLES),
        tpl.replace("{fd}", "//")
        .replace("{diff_sd}", "f.d2 - f.d1")
        .replace("{diff_hd}", "dmax - f.d1")
        .format(**_ORACLE_TABLES),
    )


_register_survival_hazard()


# DAU/MAU stickiness — the standard product-engagement ratio (what
# fraction of the monthly audience shows up on a given day).  Same
# scalable shape as op_rolling_dau: reduce to DISTINCT (day, user)
# FIRST (the wide event payload never crosses a shuffle again), then a
# bounded 28-row explode per pair replaces the O(days x pairs) range
# self-join the oracle is allowed to use (DuckDB materializes; at
# 100 TB the explode is the only shape that survives).  DAU rides the
# SAME reduced frame; both aggregates join on the observed day and the
# ratio is one nonnegative ppm floor division.  Days are reported only
# where activity exists (dau > 0), windows at the series head are
# partial by standard convention.
_STICKINESS_TPL = """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
      FROM {events}
    ),
    dau AS (
      SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM du GROUP BY d
    ),
    mau AS (
      SELECT CAST(target_day AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM (SELECT user_id, {expand} AS target_day FROM du)
      WHERE target_day <= (SELECT max(d) FROM du)
      GROUP BY target_day
    )
    SELECT a.day, a.dau, m.mau,
           CAST((a.dau * 1000000) {fd} m.mau AS BIGINT) AS stickiness_ppm
    FROM dau a JOIN mau m ON m.day = a.day
    ORDER BY a.day
"""

register_template(
    "op_user_stickiness",
    _STICKINESS_TPL.replace(
        "{expand}", "explode(sequence(d, date_add(d, 27)))"
    ).replace("{fd}", "div"),
    _STICKINESS_TPL.replace(
        "{expand}", "unnest(generate_series(d, d + 27, INTERVAL 1 DAY))"
    ).replace("{fd}", "//"),
)


# Top-k journey paths — the path-analysis (Sankey) fact table: each
# user's first PATH_LEN event types in (ts, event_id) order collapse to
# one path string, and the corpus reports the most common journeys.
# One keyed rank window over the event stream (hash shuffle on
# user_id), then a |distinct paths|-row aggregate; the path alphabet is
# |event types|^PATH_LEN at worst, so the report frame is bounded.
# Deterministic: the (ts, event_id) tiebreak is a total order.
PATH_LEN = 4
PATHS_TOP = 20

_TOP_PATHS_TPL = """
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM {events}
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, ' > ' ORDER BY rn) AS path,
             CAST(count(*) AS BIGINT) AS path_len
      FROM ranked WHERE rn <= {plen}
      GROUP BY user_id
    )
    SELECT path, path_len,
           CAST(count(*) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path, path_len
    ORDER BY n_users DESC, path
    LIMIT {top}
"""

register_template(
    "op_top_paths",
    _TOP_PATHS_TPL.replace("{plen}", str(PATH_LEN))
    .replace("{top}", str(PATHS_TOP))
    .replace("string_agg(event_type, ' > ' ORDER BY rn)",
             "array_join(transform(array_sort(collect_list("
             "struct(rn, event_type))), s -> s.event_type), ' > ')"),
    _TOP_PATHS_TPL.replace("{plen}", str(PATH_LEN))
    .replace("{top}", str(PATHS_TOP)),
)


# Stationary distribution of the event-type Markov chain — the
# steady-state behavior mix (where the user population spends its time
# if the observed transition structure persists; the PageRank-family
# fixed point on the |event types| x |event types| chain).
MARKOV_ITERS = 10
MARKOV_SCALE = 10**12


def _q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer power method over the lag-window
    transition counts: pi'(j) = sum_i (pi(i) * n_ij) div n_i, then an
    L1 renormalization to MARKOV_SCALE each round (the HITS
    discipline: every term is a nonnegative integer floor division, so
    the fixed point replays bit-identically on any partitioning and in
    DuckDB's unrolled-CTE oracle).  Uniform init; MARKOV_ITERS rounds
    (the chain is tiny and aperiodic in practice — pytest pins the
    fixed point to an independent float power iteration within 1e-6).

    100 TB shape: ONE event scan builds the transition counts (a keyed
    lag window); the fixed point then lives on the |types|^2 transition
    frame — metadata-scale BY CONSTRUCTION (the event-type alphabet is
    a fixed enum at any corpus size), so the iteration runs as a
    bounded driver kernel (the _cc_min_label_bounded / numpy-matmul
    precedent): ONE collect of the |types|^2 frame, ten rounds of exact
    integer arithmetic in Python (arbitrary-precision ints — the same
    floor divisions the distributed DECIMAL(38,0) form computed, so the
    fixed point is bit-identical; equivalence pinned in
    tests/test_round16_opt.py), one createDataFrame back.  The previous
    distributed loop spent ~2.5 s at sf0.1 on 10 localCheckpoint
    rounds + 20 metadata-scale shuffles AFTER the one real shuffle —
    pure fixed overhead at every scale factor (round-16 optimization,
    guide §2.4: remove shuffles outright).
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.session import materialize

    eng = engine_for(spark, sf_dir)
    ev = eng.catalogs.table("elastic.default.events")

    seq = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    trans = materialize(
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("i"), F.col("event_type").alias("j"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ij"))
    )
    outdeg = trans.groupBy("i").agg(F.sum("n_ij").cast("long").alias("n_i"))
    # |types|^2-bounded collect: the transition matrix of a fixed event
    # alphabet (~tens of rows), the documented bounded-block kernel.
    edges = [
        (r["i"], r["j"], r["n_ij"], r["n_i"])
        for r in trans.join(outdeg, "i").collect()
    ]
    # Uniform init derived from the actual state count (SCALE div
    # |states|) — the L1 renormalization makes the magnitude irrelevant
    # beyond floor rounding, but deriving it keeps the init synchronized
    # with the corpus schema by construction.
    states = sorted({i for i, _, _, _ in edges})
    n_states = len(states)
    pi = {s: MARKOV_SCALE // n_states for s in states}
    for _ in range(MARKOV_ITERS):
        raw: dict = {}
        for i, j, n_ij, n_i in edges:
            if i in pi:
                raw[j] = raw.get(j, 0) + (pi[i] * n_ij) // n_i
        tot = sum(raw.values())
        pi = {s: (v * MARKOV_SCALE) // tot for s, v in raw.items()}
    out = sorted(pi.items())
    return spark.createDataFrame(
        out, schema="event_type string, stationary_scaled long"
    ).orderBy("event_type")


def _markov_oracle(iters: int = MARKOV_ITERS, scale: int = MARKOV_SCALE) -> str:
    ctes = [
        """seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )""",
        """tm AS MATERIALIZED (
      SELECT t.i, t.j, t.n_ij,
             CAST(sum(t.n_ij) OVER (PARTITION BY t.i) AS BIGINT) AS n_i
      FROM (SELECT prev_type AS i, event_type AS j,
                   CAST(count(*) AS BIGINT) AS n_ij
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type) t
    )""",
        f"""pi0 AS (
      SELECT DISTINCT i AS state,
             CAST({scale} // (SELECT count(DISTINCT i) FROM tm)
                  AS BIGINT) AS pi
      FROM tm
    )""",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""raw{k} AS MATERIALIZED (
      SELECT tm.j AS state,
             CAST(sum((CAST(p.pi AS HUGEINT) * tm.n_ij) // tm.n_i)
               AS BIGINT) AS raw
      FROM pi{k - 1} p JOIN tm ON tm.i = p.state
      GROUP BY tm.j
    )"""
        )
        ctes.append(
            f"pi{k} AS (SELECT state,"
            f" CAST((CAST(raw AS HUGEINT) * {scale})"
            f" // (SELECT sum(raw) FROM raw{k}) AS BIGINT) AS pi"
            f" FROM raw{k})"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT state AS event_type, pi AS stationary_scaled
    FROM pi{iters}
    ORDER BY event_type
    """
    )


register("op_markov_stationary", _q_markov_stationary,
         oracle=_markov_oracle())


def _register_sequential_patterns() -> None:
    """Bounded-gap sequential pattern mining (the PrefixSpan head for
    order-3 patterns, Pei et al. 2004): per user, count event-type
    triples occurring IN ORDER with at most one intervening event
    between consecutive picks (gap <= 2) — the gap tolerance that
    separates real journey mining from op_event_trigrams' contiguous
    windows (a noise click between view and purchase must not break
    the pattern).

    With gaps dj, dk in {1, 2} the four offset combos ride FOUR leads
    off ONE window pass (one exchange + sort however large the log);
    Spark explodes the combo structs with ``inline`` so the plan keeps
    a single window, while the oracle uses the equivalent 4-way UNION
    ALL (DuckDB CTE re-reads are free; Spark lineage re-derivation is
    not).  Output is the top-15 by occurrence count over the
    |types|^3-bounded pattern frame — metadata-scale forever.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    leads = """
      SELECT user_id, event_type AS e0,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e1,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e2,
             lead(event_type, 3) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e3,
             lead(event_type, 4) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e4
      FROM {events}
    """
    finish = """
    counted AS (
      SELECT a, b, c, CAST(count(*) AS BIGINT) AS occurrences
      FROM tri GROUP BY a, b, c
    )
    SELECT CAST(row_number() OVER (ORDER BY occurrences DESC, a, b, c)
                AS INT) AS rank,
           a, b, c, occurrences
    FROM counted
    ORDER BY occurrences DESC, a, b, c
    LIMIT 15
    """
    spark_sql = (
        "WITH s AS (" + leads + """),
    x AS (
      SELECT inline(array(
        named_struct('a', e0, 'b', e1, 'c', e2),
        named_struct('a', e0, 'b', e1, 'c', e3),
        named_struct('a', e0, 'b', e2, 'c', e3),
        named_struct('a', e0, 'b', e2, 'c', e4))) FROM s
    ),
    tri AS (SELECT a, b, c FROM x WHERE c IS NOT NULL),
    """ + finish
    ).format(**_SPARK_TABLES)
    oracle_sql = (
        "WITH s AS (" + leads + """),
    tri AS (
      SELECT e0 AS a, e1 AS b, e2 AS c FROM s WHERE e2 IS NOT NULL
      UNION ALL
      SELECT e0, e1, e3 FROM s WHERE e3 IS NOT NULL
      UNION ALL
      SELECT e0, e2, e3 FROM s WHERE e3 IS NOT NULL
      UNION ALL
      SELECT e0, e2, e4 FROM s WHERE e4 IS NOT NULL
    ),
    """ + finish
    ).format(**_ORACLE_TABLES)
    register_sql("op_sequential_patterns", spark_sql, oracle_sql)


_register_sequential_patterns()


def _register_watermark_lateness() -> None:
    """Watermark-lateness audit — the tuning histogram for a streaming
    deployment's allowed-lateness setting (Structured Streaming
    ``withWatermark``): each event ARRIVES at ts + a deterministic
    md5-derived network delay (0..1785 s — the events table itself is
    ingest-ordered, so the delay models the out-of-order arrival a
    collector actually sees); at its arrival instant the per-user high
    watermark has advanced to the max event time among
    earlier-arriving events, and the event's lateness is how far that
    watermark already passed it.  The bucketed histogram (on-time /
    <=1s / <=1min / <=5min / <=1h / <=1d / later) with per-bucket
    exact min/max/total IS the table an engineer reads to pick the
    delay that bounds state size at an acceptable drop rate.

    Exactness: lateness rides MICROSECONDS (timestampdiff MICROSECOND
    / date_diff 'microsecond' — at the data's microsecond grain,
    boundary-crossing and complete-unit semantics coincide, unlike at
    'second' grain where the two engines count differently), arrival
    order is the exact integer arrival_us (epoch micros + delay), and
    the bucket cut is one nonnegative floor division to seconds.  One
    window pass (running max shares the per-user arrival sort), one
    bounded aggregate — the |buckets|-row output is constant at any
    log scale.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    delay = "(" + _md5_bucket_sql("event_id", "arrival") + ") * 7"
    tpl = """
    WITH arr AS (
      SELECT user_id, ts, event_id,
             max(ts) OVER (PARTITION BY user_id
                           ORDER BY {us_ts} + ({delay}) * 1000000, event_id
                           ROWS UNBOUNDED PRECEDING) AS hw
      FROM {events}
    ),
    lat AS (
      SELECT CAST({us_between} AS BIGINT) {idiv} 1000000 AS late_s
      FROM arr
    ),
    b AS (
      SELECT CASE WHEN late_s <= 0 THEN 0
                  WHEN late_s <= 1 THEN 1
                  WHEN late_s <= 60 THEN 2
                  WHEN late_s <= 300 THEN 3
                  WHEN late_s <= 3600 THEN 4
                  WHEN late_s <= 86400 THEN 5
                  ELSE 6 END AS bucket,
             late_s
      FROM lat
    )
    SELECT CAST(bucket AS INT) AS lateness_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(late_s) AS BIGINT) AS min_late_s,
           CAST(max(late_s) AS BIGINT) AS max_late_s,
           CAST(sum(late_s) AS BIGINT) AS total_late_s
    FROM b
    GROUP BY bucket
    ORDER BY lateness_bucket
    """
    spark_sql = (
        tpl.replace("{us_between}", "timestampdiff(MICROSECOND, ts, hw)")
        .replace("{us_ts}", "unix_micros(CAST(ts AS TIMESTAMP))")
        .replace("{delay}", delay)
        .replace("{idiv}", "div")
    ).format(**_SPARK_TABLES)
    oracle_sql = (
        tpl.replace("{us_between}", "date_diff('microsecond', ts, hw)")
        .replace("{us_ts}", "epoch_us(ts)")
        .replace("{delay}", delay)
        .replace("{idiv}", "//")
    ).format(**_ORACLE_TABLES)
    register_sql("op_watermark_lateness", spark_sql, oracle_sql)


_register_watermark_lateness()
