"""Deterministic sampling, train/val splitting, and benchmark
decontamination — the selection layer of a training-data pipeline.

Design rules shared by all three operators:

- **Deterministic, content-addressed randomness.**  Every sampling
  decision derives from ``md5(seed || id)`` — no RNG state, so re-runs,
  retries, and different cluster layouts select the SAME rows (the
  property that makes 100 TB pipelines reproducible).  md5 is computed
  identically by Spark and DuckDB, so every decision is oracle-checkable
  — unlike xxhash64, whose values are engine-specific.
- **Projection-shaped.**  Split assignment and stratified sampling are
  pure per-row projections (no shuffle); decontamination is one
  broadcast join against the (small) benchmark shingle set plus one
  aggregation — the shapes that survive 1000 executors unchanged.

The hex-bucket trick: the first two hex chars of the md5 give a uniform
bucket in [0, 256) via ``(instr(HEX, c1)-1)*16 + (instr(HEX, c2)-1)`` —
portable SQL on both engines (DuckDB parses no '0x' strings; instr
avoids hex parsing entirely).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dblab_ece_trino_spark.operators.registry import documents, register
from dblab_ece_trino_spark.operators.dedup import word_shingles

_HEX = "0123456789abcdef"


def md5_bucket(id_col: Column, seed: str = "split-v1") -> Column:
    """Deterministic uniform bucket in [0, 256) from md5(seed || id)."""
    h = F.md5(F.concat(F.lit(seed), id_col.cast("string")))
    c1 = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    c2 = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    return c1 * 16 + c2


def _md5_bucket_sql(id_expr: str, seed: str = "split-v1") -> str:
    """The same bucket as ANSI SQL DuckDB accepts (oracle side)."""
    h = f"md5(concat('{seed}', CAST({id_expr} AS STRING)))"
    return (
        f"(instr('{_HEX}', substr({h}, 1, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substr({h}, 2, 1)) - 1)"
    )


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
    seed: str = "split-v1",
) -> DataFrame:
    """Assign train/val/test splits by content hash (percent granularity
    ≈ 256ths).  A document's split never changes across runs, machines,
    or partitionings — the reproducibility contract of dataset curation."""
    b = md5_bucket(F.col(id_col), seed)
    train_hi = 256 * train_pct // 100
    val_hi = train_hi + 256 * val_pct // 100
    return df.withColumn(
        "split",
        F.when(b < train_hi, "train").when(b < val_hi, "val").otherwise("test"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    keep_buckets: int = 64,
    id_col: str = "doc_id",
    seed: str = "sample-v1",
) -> DataFrame:
    """Deterministic per-stratum sample: keep rows whose hash bucket
    falls under ``keep_buckets``/256, independently within each stratum
    (the per-language / per-source downsampling step of corpus mixing).
    Pure projection + filter — no shuffle, no skew sensitivity.

    The strata column is coalesced to '' before hashing: Spark's concat
    returns NULL when any argument is NULL (the row would silently drop),
    while DuckDB's concat skips NULL arguments — the sentinel makes both
    engines hash NULL strata identically."""
    strata = F.coalesce(F.col(strata_col).cast("string"), F.lit(""))
    b = md5_bucket(F.concat(strata, F.col(id_col).cast("string")), seed)
    return df.filter(b < keep_buckets)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark-contamination detection by word n-gram overlap.

    Flags training documents sharing ≥ ``min_overlap`` distinct word
    n-grams with any benchmark document — the standard eval-set
    decontamination pass.  The benchmark shingle set is DISTINCT'd and
    broadcast (eval sets are tiny next to the corpus); the corpus side
    explodes shingles and meets it in a broadcast hash join, then one
    aggregation counts overlaps per document.  O(corpus shingles) work,
    no shuffle of the corpus itself.
    """
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
        )
        .distinct()
    )
    doc_sh = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    overlaps = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        docs.select(id_col)
        .join(overlaps, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


# ------------------------------------------------------------ query entries
def _q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = split_assign(documents(spark, sf_dir))
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


register(
    "sample_split",
    _q_sample_split,
    oracle=f"""
    SELECT CASE WHEN b < 230 THEN 'train'
                WHEN b < 242 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM (SELECT doc_id, {_md5_bucket_sql('doc_id')} AS b FROM documents) t
    GROUP BY 1
    """,
)


def _q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_sample(documents(spark, sf_dir), "lang").select(
        "doc_id", "lang"
    )


register(
    "sample_stratified",
    _q_sample_stratified,
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             {_md5_bucket_sql("concat(coalesce(lang, ''), CAST(doc_id AS VARCHAR))", "sample-v1")} AS b
      FROM documents
    ) t WHERE b < 64
    """,
)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    # deterministic stand-in eval set: every 97th document
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, benchmark)


register(
    "decontaminate",
    _q_decontaminate,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i)
    ),
    bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    ),
    ov AS (
      SELECT s.doc_id, count(*) AS n_overlap
      FROM sh s JOIN bench USING (shingle)
      WHERE s.doc_id % 97 <> 0
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           coalesce(o.n_overlap, 0) AS n_overlap,
           coalesce(o.n_overlap, 0) >= 2 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN ov o USING (doc_id)
    """,
)


def importance_sample(
    docs: DataFrame,
    weight: Column,
    id_col: str = "doc_id",
    seed: str = "importance-v1",
) -> DataFrame:
    """Deterministic weighted (importance) sampling: keep each row with
    probability ``weight`` (a column in [0, 1]) using the md5 bucket as
    the uniform draw — upweight high-quality domains, downweight
    boilerplate, reproducibly (same seed + id → same decision on every
    engine, cluster, and rerun; no RNG state to coordinate at 100 TB).

    Decision: md5_bucket(id) < weight * 256, i.e. the integer bucket in
    [0, 256) is compared against an integer threshold — the comparison
    is exact, so engines can never disagree at the boundary.  Weight
    resolution is 1/256 ≈ 0.4%; for finer control widen to four hex
    chars (65536 buckets).
    """
    b = md5_bucket(F.col(id_col), seed)
    thresh = F.floor(weight * 256).cast("int")
    return docs.filter(b < thresh)


def _q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    # per-language weights: keep all 'en', half of 'de'/'fr', a quarter
    # of everything else — the canonical mixture-reweighting use
    w = (
        F.when(F.col("lang") == "en", F.lit(1.0))
        .when(F.col("lang").isin("de", "fr"), F.lit(0.5))
        .otherwise(F.lit(0.25))
    )
    out = importance_sample(docs, w)
    return out.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_kept"),
    )


register(
    "sample_importance",
    _q_importance_sample,
    oracle=f"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
    FROM documents
    WHERE {_md5_bucket_sql('doc_id', 'importance-v1')}
          < CAST(floor(CASE WHEN lang = 'en' THEN 1.0
                            WHEN lang IN ('de', 'fr') THEN 0.5
                            ELSE 0.25 END * 256) AS INT)
    GROUP BY lang
    """,
)


# ------------------------------------------- weighted reservoir top-k
def _md5_u16_sql(id_expr: str, seed: str) -> str:
    """Deterministic uniform integer in [0, 65536) from the first four
    hex chars of md5(seed || id) — instr arithmetic only, so the SAME
    text runs on Spark and DuckDB (md5_bucket's 2-char form is too
    coarse for exponential keys: 256 levels collide).  CAST AS STRING:
    the one spelling both parsers accept (Spark rejects bare VARCHAR,
    DuckDB aliases STRING to VARCHAR)."""
    h = f"md5(concat('{seed}', CAST({id_expr} AS STRING)))"
    terms = [
        f"(instr('{_HEX}', substr({h}, {i}, 1)) - 1) * {16 ** (4 - i)}"
        for i in range(1, 5)
    ]
    return "(" + " + ".join(terms) + ")"


_WEIGHTED_SEED = "wsample-v1"

_WEIGHTED_TPL = f"""
    WITH draws AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
             -ln(({_md5_u16_sql('doc_id', _WEIGHTED_SEED)} + 0.5) / 65536.0)
               / greatest(n_chars, 1) AS expkey
      FROM {{documents}}
    )
    SELECT doc_id, lang, n_chars,
           CAST(round(expkey, 9) AS DOUBLE) AS expkey
    FROM draws
    ORDER BY expkey, doc_id
    LIMIT 20
"""


def _register_weighted() -> None:
    """A-ES weighted reservoir sampling (Efraimidis–Spirtes): each row
    draws an exponential key -ln(u)/w from a DETERMINISTIC md5 uniform;
    the k smallest keys are a weighted-without-replacement sample (here
    w = greatest(n_chars, 1): longer documents proportionally likelier;
    the clamp guards the zero-weight edge, where double division by
    zero is NULL on Spark but inf on DuckDB).  No RNG
    state to coordinate — the same (seed, id) decides identically on
    every engine, cluster, and rerun, the split_assign discipline
    applied to weighted selection.

    Shape at 100 TB: a projection plus a global top-k — Spark plans
    TakeOrderedAndProject (bounded heap per partition + merge of k-row
    heads), never a global sort.  The ln/division doubles derive from
    exact integers with identical expression text on both engines, so
    the selection order is bit-identical; ties impossible (u16 + id
    tiebreak).
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    register_sql(
        "sample_weighted_topk",
        _WEIGHTED_TPL.format(**_SPARK_TABLES),
        _WEIGHTED_TPL.format(**_ORACLE_TABLES),
    )


_register_weighted()


# --------------------------------------------------- Poisson bootstrap
def _register_poisson_bootstrap() -> None:
    """Deterministic Poisson bootstrap of the mean order value — THE
    resampling scheme for data too large to resample globally: instead
    of drawing n rows with replacement (which needs global coordination),
    each row independently appears k ~ Poisson(1) times in each
    replicate, so the whole bootstrap is one stateless projection.

    Determinism: the per-(row, replicate) uniform is the md5 fold
    (sampling.py discipline); k comes from the fixed inverse-CDF
    thresholds of Poisson(1) (cumulative 0.36788, 0.73576, 0.91970,
    0.98101, 0.99634, 0.99941, capped at 6 — P(k>6) ~ 8e-5).  Each
    replicate emits EXACT INTEGER outputs only (draw count + cent sum;
    the mean and the CI spread are one division away for the consumer),
    so the statistic is partition-order independent and reproducible
    bit-for-bit — no rounded-double column to sit on a rendering
    boundary between engines.

    Shape: one scan, a 32-way explode projection, one keyed agg —
    linear in rows x replicates, no shuffle wider than the 32-row
    output.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.operators.sketches import hexint_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    n_reps = 32
    reps = ", ".join(f"({b})" for b in range(n_reps))
    u = (
        hexint_sql(
            "o_orderkey", "concat('boot-', CAST(b AS STRING), ':')", 8
        )
        + " / 4294967296.0"
    )
    tpl = f"""
    WITH drawn AS (
      SELECT r.b,
             CASE WHEN u < 0.36788 THEN 0
                  WHEN u < 0.73576 THEN 1
                  WHEN u < 0.91970 THEN 2
                  WHEN u < 0.98101 THEN 3
                  WHEN u < 0.99634 THEN 4
                  WHEN u < 0.99941 THEN 5
                  ELSE 6 END AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM (SELECT o_orderkey, o_totalprice, b, {u} AS u
            FROM {{orders}} CROSS JOIN (VALUES {reps}) r0(b)) r
    )
    SELECT CAST(b AS INT) AS replicate,
           CAST(sum(k) AS BIGINT) AS n_drawn,
           CAST(sum(k * cents) AS BIGINT) AS total_cents
    FROM drawn
    GROUP BY b
    ORDER BY replicate
    """
    register_sql(
        "sample_poisson_bootstrap",
        tpl.format(**_SPARK_TABLES),
        tpl.format(**_ORACLE_TABLES),
    )


_register_poisson_bootstrap()


def _register_group_holdout() -> None:
    """Leakage-safe grouped k-fold assignment — the ML-prep split
    row-level sample_split cannot give: when rows share an entity
    (a user's events, a domain's documents), row-level splits leak the
    entity across folds and inflate eval scores.  Here the fold is a
    pure function of the GROUP key (md5 bucket mod k), so every row of
    a user lands in one fold by construction, re-runs and repartitions
    included (no RNG state — the split of a 100 TB corpus is
    reproducible from the seed string alone).

    The readout reports per-fold user/event counts AND the leakage
    audit itself: max_folds_per_user, the invariant the operator
    exists to enforce, computed from data (not assumed) via a two-level
    aggregation — per-(user, fold) reduce first, so the audit shuffles
    |users| rows, never events.  A green driver row proves
    max_folds_per_user = 1 by value.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    k = 5
    bucket = _md5_bucket_sql("user_id", "gkf-v1")
    tpl = f"""
    WITH assigned AS (
      SELECT user_id, ({bucket}) % {k} AS fold FROM {{events}}
    ),
    per_user AS (
      SELECT user_id, fold, CAST(count(*) AS BIGINT) AS n_events
      FROM assigned GROUP BY user_id, fold
    ),
    audit AS (
      SELECT CAST(max(nf) AS BIGINT) AS max_folds_per_user
      FROM (SELECT user_id, count(DISTINCT fold) AS nf
            FROM per_user GROUP BY user_id) a
    )
    SELECT fold,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           (SELECT max_folds_per_user FROM audit) AS max_folds_per_user
    FROM per_user
    GROUP BY fold
    ORDER BY fold
    """
    register_sql(
        "sample_group_holdout",
        tpl.format(**_SPARK_TABLES),
        tpl.format(**_ORACLE_TABLES),
    )


_register_group_holdout()


def _q_contamination_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination RATE report — the measurement companion
    to ``decontaminate`` (which *removes*): what fraction of the eval
    split's distinct word 3-grams also occur in the training split.
    This is the number a curation run publishes before deciding whether
    decontamination is worth a pass, and the denominator definitions
    matter: both sides are DISTINCT shingle sets (per-occurrence counts
    would let one boilerplate-heavy doc dominate the rate).

    Same deterministic %97 split as the decontaminate entry.  Exact
    integers end to end (distinct counts, a distinct-on-join overlap
    count); the rate is one per-row IEEE division.  Shape (r7 re-plan):
    the DISTINCT eval shingle set is tiny at any real split ratio, so
    it broadcasts and the train side streams through a map-side
    broadcast semi-join — train shingles are never globally
    distinct'd.  The surviving matches are bounded by |eval shingles|,
    so the final distinct is metadata-scale.  Measured A/B vs the old
    distinct-then-join form at x30/x100 replicas: parity (the replica
    fixture's shingle diversity is low, so the old global dedup
    map-side-combined away) — the re-plan's win is STRUCTURAL: its
    only large shuffle volume is |eval shingles|, where the old form
    shuffled the full distinct train shingle set, which grows with
    corpus diversity at real scale.
    """
    from dblab_ece_trino_spark.session import materialize

    docs = documents(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)

    # Shingles are HASHED to bigints at generation (round-16, guide
    # §2.3 "narrower types"/"shuffle keys instead of payloads" + the
    # prefix_filter_pairs discipline): xxhash64 OF THE TOKEN-ARRAY
    # SLICE, so no shingle string is ever constructed and every
    # downstream frame (the broadcast build side, the train-side
    # explode, the surviving-match distinct) carries 8-byte longs
    # instead of 3-word strings.  Tokens contain no whitespace (split
    # on \s+), so the join-with-space string form is injective in the
    # token slice: DISTINCT counts over hashes equal the counts over
    # the strings up to xxhash64 collisions (~1e-19 per pair — the
    # minhash-verify envelope; the unchanged string-keyed oracle would
    # catch one).
    def hashed_shingles(text: Column) -> Column:
        toks = F.split(F.trim(text), r"\s+")
        idx = F.sequence(
            F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))
        )
        return F.array_distinct(
            F.transform(idx, lambda i: F.xxhash64(F.slice(toks, i, 3)))
        )

    # Materialized because it is consumed twice (broadcast semi-join
    # build + the n_eval_ngrams count) and Spark inlines shared frames —
    # without this the eval scan+explode+distinct runs once per
    # consumer.  It is the small side by construction (~1/97 of docs).
    ev_sh = materialize(
        ev.select(
            F.explode(hashed_shingles(F.col("text"))).alias("shingle")
        ).distinct()
    )
    stats = (
        tr.select(F.explode(hashed_shingles(F.col("text"))).alias("shingle"))
        .join(F.broadcast(ev_sh), "shingle", "left_semi")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    counts = (
        ev.agg(F.count(F.lit(1)).cast("long").alias("n_eval_docs"))
        .crossJoin(tr.agg(F.count(F.lit(1)).cast("long").alias("n_train_docs")))
        .crossJoin(ev_sh.agg(F.count(F.lit(1)).cast("long").alias("n_eval_ngrams")))
        .crossJoin(stats)
    )
    return counts.selectExpr(
        "n_eval_docs",
        "n_train_docs",
        "n_eval_ngrams",
        "n_contaminated",
        "CAST(n_contaminated AS DOUBLE) / CAST(n_eval_ngrams AS DOUBLE)"
        " AS contamination_rate",
    )


register(
    "sample_contamination_rate",
    _q_contamination_rate,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i)
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 <> 0),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n_contaminated
      FROM ev WHERE shingle IN (SELECT shingle FROM tr)
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 97 = 0)
        AS n_eval_docs,
      (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 97 <> 0)
        AS n_train_docs,
      (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n_eval_ngrams,
      c.n_contaminated,
      CAST(c.n_contaminated AS DOUBLE)
        / (SELECT CAST(count(*) AS DOUBLE) FROM ev) AS contamination_rate
    FROM c
    """,
)


# ---------------------------------------------- Neyman optimal allocation
NEYMAN_N = 10_000


def neyman_alloc(docs: DataFrame, n: int = NEYMAN_N) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934): the
    n-row sample budget is split across strata proportionally to
    N_h * S_h (stratum size times population std-dev of the target
    variable — here n_chars per `source`), which minimizes the variance
    of the stratified mean; integer seats are produced by
    LARGEST-REMAINDER (Hamilton) apportionment so they sum exactly
    to n.

    Cross-engine determinism: the only float arithmetic is ONE per-row
    expression (population variance from exact integer moments, one
    sqrt, one multiply, one floor) evaluated identically on both
    engines from identical DECIMAL inputs — IEEE basic ops and sqrt are
    correctly rounded, so the milli-scaled integer sd is bit-identical;
    everything after (weights, floor-division seats, remainder ranks)
    is pure BIGINT.  Sum-of-squares moments accumulate in DECIMAL(38,0)
    (exact, associative on any partitioning).  BIGINT bound: seat
    numerators are n * sd_milli * N_h — fine through ~1e14 weight; at
    larger scale move the two columns to DECIMAL(38,0), same plan.

    100 TB shape: ONE fact pass (a map-side-combinable 3-moment
    aggregation to |strata| rows); the apportionment runs in windows
    over the tiny strata frame, never touching fact rows again.
    """
    m = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("stratum_n"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars")
        ).alias("sxx"),
    )
    s = m.select(
        "source",
        "stratum_n",
        F.expr(
            "CAST(floor(sqrt((CAST(sxx AS DOUBLE) "
            "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) "
            "/ CAST(stratum_n AS DOUBLE)) / CAST(stratum_n AS DOUBLE)) "
            "* 1000.0) AS BIGINT)"
        ).alias("sd_milli"),
    ).withColumn("weight", F.col("sd_milli") * F.col("stratum_n"))
    w = Window.partitionBy()
    rk = Window.partitionBy().orderBy(F.desc("rem"), F.asc("source"))
    seats = (
        s.withColumn("tw", F.greatest(F.sum("weight").over(w), F.lit(1)))
        .withColumn("base", F.expr(f"({n} * weight) div tw"))
        .withColumn("rem", F.expr(f"({n} * weight) % tw"))
        .withColumn("leftover", F.lit(n) - F.sum("base").over(w))
        .withColumn("rk", F.row_number().over(rk))
    )
    return seats.select(
        "source",
        "stratum_n",
        "sd_milli",
        "weight",
        (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("alloc"),
    ).orderBy("source")


def _q_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neyman_alloc(documents(spark, sf_dir))


register(
    "sample_neyman_alloc",
    _q_neyman_alloc,
    oracle=f"""
    WITH m AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS stratum_n,
             sum(CAST(n_chars AS HUGEINT)) AS sx,
             sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
      FROM documents GROUP BY source
    ),
    s AS MATERIALIZED (
      SELECT source, stratum_n,
             CAST(floor(sqrt((CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
               / CAST(stratum_n AS DOUBLE)) / CAST(stratum_n AS DOUBLE))
               * 1000.0) AS BIGINT) AS sd_milli
      FROM m
    ),
    sw AS MATERIALIZED (
      SELECT source, stratum_n, sd_milli,
             CAST(sd_milli * stratum_n AS BIGINT) AS weight
      FROM s
    ),
    seats AS MATERIALIZED (
      SELECT source, stratum_n, sd_milli, weight,
             CAST(({NEYMAN_N} * weight)
               // greatest((SELECT sum(weight) FROM sw), 1) AS BIGINT)
               AS base,
             CAST(({NEYMAN_N} * weight)
               % greatest((SELECT sum(weight) FROM sw), 1) AS BIGINT)
               AS rem
      FROM sw
    )
    SELECT source, stratum_n, sd_milli, weight,
           CAST(base + CASE WHEN row_number() OVER
                  (ORDER BY rem DESC, source ASC)
                <= {NEYMAN_N} - (SELECT sum(base) FROM seats)
                THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM seats
    ORDER BY source
    """,
)


# ------------------------------------------------ systematic sampling
SYS_K = 16
SYS_START = 7
SYS_SEED = "sys-v1"


def systematic_sample(
    docs: DataFrame,
    k: int = SYS_K,
    start: int = SYS_START,
    seed: str = SYS_SEED,
    shards: int = 32,
) -> DataFrame:
    """Systematic (every k-th) sampling on a hashed frame (Madow &
    Madow 1944; the survey-sampling workhorse): rows are totally
    ordered by md5(seed || id) — a deterministic random permutation, so
    the systematic pass inherits simple-random-sampling properties
    without a stored random state — and every row whose 0-based global
    rank is congruent to ``start`` mod ``k`` is kept.  Exactly
    floor((N - start - 1)/k) + 1 rows survive, the textbook guarantee
    that per-stratum Bernoulli sampling cannot give.

    The global rank is the two-level sharded form (range-repartition ->
    per-shard row_number + broadcast shard offsets — the
    quantile_normalize / llm_sequence_pack machinery): no
    single-partition window at any corpus scale.
    """
    from dblab_ece_trino_spark.session import materialize

    base = docs.select("doc_id", "source", "n_chars").withColumn(
        "h", F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string")))
    )
    sharded = materialize(
        base.repartitionByRange(shards, F.col("h"), F.col("doc_id"))
        .withColumn("__shard", F.spark_partition_id())
    )
    counts = sharded.groupBy("__shard").agg(F.count("*").alias("__c"))
    offs = (
        counts.alias("a")
        .join(counts.alias("b"), F.col("b.__shard") < F.col("a.__shard"),
              "left")
        .groupBy(F.col("a.__shard").alias("__shard"))
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__off"))
    )
    w = Window.partitionBy("__shard").orderBy("h", "doc_id")
    return (
        sharded.withColumn("__lr", F.row_number().over(w))
        .join(F.broadcast(offs), "__shard")
        .withColumn("global_rank",
                    (F.col("__off") + F.col("__lr")).cast("long"))
        .filter((F.col("global_rank") - 1) % k == start)
        .select("doc_id", "source", "n_chars", "global_rank")
        .orderBy("global_rank")
    )


def _q_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return systematic_sample(documents(spark, sf_dir))


register(
    "sample_systematic",
    _q_systematic,
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             md5(concat('{SYS_SEED}', CAST(doc_id AS VARCHAR))) AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (ORDER BY h, doc_id) AS gr
      FROM h
    )
    SELECT doc_id, source, n_chars, CAST(gr AS BIGINT) AS global_rank
    FROM r
    WHERE (gr - 1) % {SYS_K} = {SYS_START}
    ORDER BY global_rank
    """,
)


# ------------------------------------------- two-stage cluster sampling
CLUSTER_KEEP = 128   # stage-1: keep sources with md5 bucket < 128/256
WITHIN_KEEP = 160    # stage-2: keep docs with md5 bucket < 160/256


def _q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage cluster sampling (Cochran ch. 10 — the survey design
    that maps directly onto a partitioned lake: stage 1 samples whole
    CLUSTERS so unselected partitions are never read, stage 2
    subsamples within): sources survive on md5(seed || source) <
    CLUSTER_KEEP/256, then docs within surviving sources on an
    independent per-doc draw < WITHIN_KEEP/256.  The per-source report
    carries both stages (selected flag, population count, sampled
    count) so the design's self-weighting inverse-probability factor
    (256/CLUSTER_KEEP) * (256/WITHIN_KEEP) is auditable from the row.

    Scale shape: the stage-1 predicate is a partition-pruning filter at
    a source-partitioned lake (reads CLUSTER_KEEP/256 of the files);
    everything else is one keyed count.  All md5 draws are the
    sampling.py discipline — both engines replay them exactly.
    """
    docs = documents(spark, sf_dir)
    cb = md5_bucket(F.col("source"), "cluster-v1")
    db = md5_bucket(F.col("doc_id"), "within-v1")
    return (
        docs.withColumn("sel_cluster", cb < CLUSTER_KEEP)
        .withColumn("sel_doc",
                    F.col("sel_cluster") & (db < WITHIN_KEEP))
        .groupBy("source")
        .agg(
            F.first("sel_cluster").alias("selected_cluster"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("sel_doc").cast("long")).cast("long")
            .alias("n_sampled"),
        )
        .orderBy("source")
    )


register(
    "sample_cluster",
    _q_cluster_sample,
    oracle=f"""
    SELECT source,
           {_md5_bucket_sql("source", "cluster-v1")} < {CLUSTER_KEEP}
             AS selected_cluster,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN
                 {_md5_bucket_sql("source", "cluster-v1")} < {CLUSTER_KEEP}
                 AND {_md5_bucket_sql("doc_id", "within-v1")} < {WITHIN_KEEP}
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)


# ------------------------------------------------ balanced class sampling
BAL_SEED = "bal-v1"
BAL_SHARDS = 32


def balanced_downsample(
    df: DataFrame,
    class_col: str,
    id_col: str,
    seed: str = BAL_SEED,
    shards: int = BAL_SHARDS,
) -> DataFrame:
    """Balanced downsampling to the minority class (the class-imbalance
    fix applied before training a classifier head): every class keeps
    exactly ``n_min`` rows — the first ``n_min`` in md5(seed || id)
    order, a deterministic random permutation per class, so the result
    is a class-balanced simple random sample that replays identically
    anywhere.

    The per-class rank is the two-level sharded form (range-
    repartition on (class, hash) -> per-(class, shard) row_number +
    broadcast offsets — the systematic_sample machinery with the class
    folded into the shard key): no single-partition window however
    skewed the majority class is, which is exactly where naive
    PARTITION BY class collapses at 100 TB.  ``n_min`` arrives by
    broadcast join, never a driver collect.  Returns the kept rows
    with their per-class rank.
    """
    from dblab_ece_trino_spark.session import materialize

    base = df.select(
        F.col(id_col).alias("k"), F.col(class_col).alias("cls")
    ).withColumn(
        "h", F.md5(F.concat(F.lit(seed), F.col("k").cast("string")))
    )
    sharded = materialize(
        base.repartitionByRange(shards, "cls", F.col("h"), F.col("k"))
        .withColumn("__shard", F.spark_partition_id())
    )
    counts = sharded.groupBy("cls", "__shard").agg(
        F.count("*").alias("__c")
    )
    offs = (
        counts.alias("a")
        .join(
            counts.alias("b"),
            (F.col("b.cls") == F.col("a.cls"))
            & (F.col("b.__shard") < F.col("a.__shard")),
            "left",
        )
        .groupBy(F.col("a.cls").alias("cls"),
                 F.col("a.__shard").alias("__shard"))
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__off"))
    )
    nmin = (
        counts.groupBy("cls").agg(F.sum("__c").alias("__n"))
        .agg(F.min("__n").cast("long").alias("n_min"))
        .withColumn("__j", F.lit(1))
    )
    w = Window.partitionBy("cls", "__shard").orderBy("h", "k")
    return (
        sharded.withColumn("__lr", F.row_number().over(w))
        .join(F.broadcast(offs), ["cls", "__shard"])
        .withColumn("cls_rank", (F.col("__off") + F.col("__lr")).cast("long"))
        .withColumn("__j", F.lit(1))
        .join(F.broadcast(nmin), "__j")
        .filter(F.col("cls_rank") <= F.col("n_min"))
        .select("k", "cls", "cls_rank", "n_min")
    )


def _q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: balance orders across o_orderstatus (three highly
    imbalanced classes); per-class audit of input size, kept size
    (== n_min for every class, the balance invariant) and the kept-key
    checksum (anti-cancellation: a rank-boundary bug swaps WHICH keys
    survive even when the count stays right)."""
    from dblab_ece_trino_spark.entrypoints import engine_for

    o = engine_for(spark, sf_dir).catalogs.table("mongodb.tpch.orders")
    kept = balanced_downsample(o, "o_orderstatus", "o_orderkey")
    n_in = (
        o.groupBy(F.col("o_orderstatus").alias("cls"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_in"))
    )
    return (
        kept.groupBy("cls")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("k").cast("long").alias("key_sum"),
        )
        .join(n_in, "cls")
        .select("cls", "n_in", "n_kept", "key_sum")
        .orderBy("cls")
    )


def _balanced_oracle() -> str:
    h = f"md5(concat('{BAL_SEED}', CAST(o_orderkey AS STRING)))"
    return f"""
    WITH ranked AS (
      SELECT o_orderkey AS k, o_orderstatus AS cls,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY {h}, o_orderkey) AS r
      FROM orders
    ),
    nmin AS (
      SELECT CAST(min(c) AS BIGINT) AS n_min
      FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderstatus)
    ),
    kept AS (
      SELECT ranked.* FROM ranked, nmin WHERE ranked.r <= nmin.n_min
    )
    SELECT g.cls,
           CAST(t.n_in AS BIGINT) AS n_in,
           CAST(g.n_kept AS BIGINT) AS n_kept,
           CAST(g.key_sum AS BIGINT) AS key_sum
    FROM (SELECT cls, count(*) AS n_kept, sum(k) AS key_sum
          FROM kept GROUP BY cls) g
    JOIN (SELECT o_orderstatus AS cls, count(*) AS n_in
          FROM orders GROUP BY o_orderstatus) t
      ON t.cls = g.cls
    ORDER BY g.cls
    """


register("sample_balanced", _q_sample_balanced, oracle=_balanced_oracle())


# ---------------------------------------------- temporal split + leakage
def _register_time_split() -> None:
    """Time-based train/test split with a leakage audit — the
    evaluation-hygiene primitive for anything trained on user events
    (forecasting, next-event prediction, churn): split the log at the
    80% point of the CALENDAR span (cutoff_day = min_day + floor(0.8 *
    span) — exact integers from one min/max aggregate, no global rank
    anywhere), then report, alongside the per-side event/user counts,
    the USER LEAKAGE: users active on both sides of the cutoff.  A
    random per-event split leaks every multi-event user's behavior
    into test; the time split is the fix, and users_both quantifies
    what a per-user holdout would additionally need to remove.

    One fact scan for the span scalars (2-row aggregate), one
    DISTINCT (user, side) reduction, one rollup — all map-side
    combinable, no windows, no joins of the event stream against
    itself.  Identical SQL both engines (date arithmetic in whole
    days via epoch-day integers).
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    tpl = """
    WITH span AS (
      SELECT min({epoch_day}) AS d0, max({epoch_day}) AS d1
      FROM {events}
    ),
    cut AS (
      SELECT d0, d1, d0 + (8 * (d1 - d0)) {idiv} 10 AS cutoff FROM span
    ),
    tagged AS (
      SELECT e.user_id,
             CASE WHEN {epoch_day_e} <= c.cutoff THEN 0 ELSE 1 END AS side
      FROM {events} e CROSS JOIN cut c
    ),
    ev AS (
      SELECT side, CAST(count(*) AS BIGINT) AS n_events
      FROM tagged GROUP BY side
    ),
    us AS (
      SELECT user_id,
             max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_train,
             max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_test
      FROM tagged GROUP BY user_id
    ),
    uroll AS (
      SELECT CAST(sum(in_train) AS BIGINT) AS users_train,
             CAST(sum(in_test) AS BIGINT) AS users_test,
             CAST(sum(in_train * in_test) AS BIGINT) AS users_both,
             CAST(count(*) AS BIGINT) AS users_total
      FROM us
    )
    SELECT c.cutoff AS cutoff_epoch_day,
           (SELECT n_events FROM ev WHERE side = 0) AS n_train,
           (SELECT n_events FROM ev WHERE side = 1) AS n_test,
           u.users_train, u.users_test, u.users_both, u.users_total,
           CAST(u.users_both * 1000000 {idiv} u.users_total AS BIGINT)
             AS leak_ppm
    FROM cut c CROSS JOIN uroll u
    """
    spark_day = "datediff(CAST({col} AS DATE), DATE '1970-01-01')"
    duck_day = "datediff('day', DATE '1970-01-01', CAST({col} AS DATE))"
    spark_sql = (
        tpl.replace("{epoch_day_e}", spark_day.format(col="e.ts"))
        .replace("{epoch_day}", spark_day.format(col="ts"))
        .replace("{idiv}", "div")
    ).format(**_SPARK_TABLES)
    oracle_sql = (
        tpl.replace("{epoch_day_e}", duck_day.format(col="e.ts"))
        .replace("{epoch_day}", duck_day.format(col="ts"))
        .replace("{idiv}", "//")
    ).format(**_ORACLE_TABLES)
    register_sql("sample_time_split", spark_sql, oracle_sql)


_register_time_split()


def _register_leakage_audit() -> None:
    """Train-serve leakage audit — the graded sibling completing the
    temporal-split family (round-11 verdict item 7): at the SAME 80%
    calendar cutoff as ``sample_time_split``, audit each (event_type,
    user) FEATURE KEY for cutoff crossing.  A feature table built
    "as of" the cutoff is contaminated wherever a key's events
    continue past the cutoff (its train-time aggregate quietly encodes
    post-cutoff behavior in any pipeline that recomputes features over
    the full log); a key appearing ONLY after the cutoff is the
    serve-time cold start — semantically the ANTI-JOIN of test keys
    against train keys.  Emits one row per event_type: train/test/
    crossing/cold-start key counts, events stranded after the cutoff
    on crossing keys (the volume a strict as-of recompute must
    exclude), and crossing ppm.

    Shape: the anti-join is ALGEBRAIC — one scan into a (type, user)
    keyed frame carrying per-side counts (map-side combinable), then a
    |types|-row rollup; crossing = in_train AND in_test, cold_start =
    in_test AND NOT in_train.  A literal left-anti join of two
    distinct-key frames would shuffle the key set twice; the
    conditional agg shuffles it once and the rollup frame never
    exceeds |types| rows at any corpus size.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    tpl = """
    WITH span AS (
      SELECT min({epoch_day}) AS d0, max({epoch_day}) AS d1
      FROM {events}
    ),
    cut AS (
      SELECT d0 + (8 * (d1 - d0)) {idiv} 10 AS cutoff FROM span
    ),
    keys AS (
      SELECT e.event_type, e.user_id,
             CAST(sum(CASE WHEN {epoch_day_e} <= c.cutoff
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
             CAST(sum(CASE WHEN {epoch_day_e} > c.cutoff
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_post
      FROM {events} e CROSS JOIN cut c
      GROUP BY e.event_type, e.user_id
    )
    SELECT event_type,
           CAST(sum(CASE WHEN n_pre > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS keys_train,
           CAST(sum(CASE WHEN n_post > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS keys_test,
           CAST(sum(CASE WHEN n_pre > 0 AND n_post > 0
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS keys_crossing,
           CAST(sum(CASE WHEN n_pre = 0 AND n_post > 0
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS keys_cold_start,
           CAST(sum(CASE WHEN n_pre > 0 THEN n_post ELSE 0 END)
                AS BIGINT) AS leaked_events,
           CAST(sum(CASE WHEN n_pre > 0 AND n_post > 0
                         THEN 1 ELSE 0 END) * 1000000
                {idiv} count(*) AS BIGINT) AS crossing_ppm
    FROM keys
    GROUP BY event_type
    ORDER BY event_type
    """
    spark_day = "datediff(CAST({col} AS DATE), DATE '1970-01-01')"
    duck_day = "datediff('day', DATE '1970-01-01', CAST({col} AS DATE))"
    spark_sql = (
        tpl.replace("{epoch_day_e}", spark_day.format(col="e.ts"))
        .replace("{epoch_day}", spark_day.format(col="ts"))
        .replace("{idiv}", "div")
    ).format(**_SPARK_TABLES)
    oracle_sql = (
        tpl.replace("{epoch_day_e}", duck_day.format(col="e.ts"))
        .replace("{epoch_day}", duck_day.format(col="ts"))
        .replace("{idiv}", "//")
    ).format(**_ORACLE_TABLES)
    register_sql("sample_leakage_audit", spark_sql, oracle_sql)


_register_leakage_audit()


def _register_kfold() -> None:
    """Deterministic k-fold cross-validation assignment + balance
    audit: fold = md5-derived uniform bucket mod k, content-addressed
    on doc_id (the split_assign discipline — a document's fold never
    changes across runs, machines, or partitionings, so CV results
    replay exactly).  The bucket widens split_assign's 1-byte bucket
    to TWO bytes ([0, 65536)) so the mod-5 assignment bias is 1/65536
    (a 1-byte bucket mod 5 would skew folds by up to 0.4%).  Emits the
    per-fold audit a CV harness checks before training: size, share
    ppm vs the uniform 1/k null, id span, and the train-size
    complement (leave-this-fold-out).

    Pure projection + one k-row groupBy — no shuffle of the corpus, no
    window over it.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    k = 5
    seed = "kfold-v1"
    hexd = "0123456789abcdef"
    tpl = """
    WITH coded AS (
      SELECT doc_id,
             ((instr('{hexd}', substr({h}, 1, 1)) - 1) * 4096
              + (instr('{hexd}', substr({h}, 2, 1)) - 1) * 256
              + (instr('{hexd}', substr({h}, 3, 1)) - 1) * 16
              + (instr('{hexd}', substr({h}, 4, 1)) - 1)) % {k} AS fold
      FROM {documents}
    ),
    byfold AS (
      SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM coded GROUP BY fold
    )
    SELECT CAST(fold AS BIGINT) AS fold, n_docs,
           CAST({k} * 1000000 * n_docs {idiv} sum(n_docs) OVER ()
                AS BIGINT) AS share_ppm_vs_uniform,
           CAST(sum(n_docs) OVER () - n_docs AS BIGINT) AS train_size,
           min_id, max_id
    FROM byfold
    ORDER BY fold
    """
    h = "md5(concat('{seed}', CAST(doc_id AS STRING)))"
    spark_sql = (
        tpl.replace("{h}", h)
        .replace("{seed}", seed)
        .replace("{hexd}", hexd)
        .replace("{k}", str(k))
        .replace("{idiv}", "div")
    ).format(**_SPARK_TABLES)
    oracle_sql = (
        tpl.replace("{h}", h)
        .replace("{seed}", seed)
        .replace("{hexd}", hexd)
        .replace("{k}", str(k))
        .replace("{idiv}", "//")
    ).format(**_ORACLE_TABLES)
    register_sql("sample_kfold", spark_sql, oracle_sql)


_register_kfold()


# ------------------------------- near-duplicate split-leakage audit (r12)
DEDUP_SPLIT_EVAL_LO = 230  # md5 bucket >= 230/256 -> eval (~10%)


def dedup_split_audit(labels: DataFrame, id_col: str = "sid") -> DataFrame:
    """Near-duplicate SPLIT-LEAKAGE audit — the third leg of the
    leakage family: ``sample_leakage_audit`` catches temporal
    train-serve crossings and ``sample_contamination_rate`` catches
    verbatim eval n-grams in train; this one catches the subtler
    failure where a hash split puts two NEAR-DUPLICATES of the same
    document on opposite sides, silently inflating eval scores.  Input
    is the fuzzy-dedup cluster-label table (``dedup_clusters``); each
    member is assigned its split by the standard md5 bucket (same
    discipline as ``split_assign`` — content-hash, order-free), and a
    cluster counting members on both sides is a LEAK.  One-row report:
    cluster totals, spanning-cluster count + ppm, the cross-split pair
    volume (n_train x n_eval summed — the number of leaky eval-train
    near-dup relations), and the leaked eval doc count (the docs whose
    scores are suspect).

    Scale shape (100 TB): rides the label table (clustered docs only —
    orders smaller than the corpus), one keyed agg on cluster, then a
    scalar map-side-combinable reduce.  Nothing corpus-scale past the
    LSH stage it reuses.
    """
    b = md5_bucket(F.col(id_col), "split-v1")
    percl = (
        labels.select(
            "cluster",
            (b < DEDUP_SPLIT_EVAL_LO).cast("long").alias("tr"),
            (b >= DEDUP_SPLIT_EVAL_LO).cast("long").alias("ev"),
        )
        .groupBy("cluster")
        .agg(F.sum("tr").alias("n_train"), F.sum("ev").alias("n_eval"))
    )
    span = (F.col("n_train") > 0) & (F.col("n_eval") > 0)
    return percl.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(span.cast("long")).cast("long").alias("n_spanning"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0))"
            " * sum(CASE WHEN n_train > 0 AND n_eval > 0 THEN 1 ELSE 0 END)"
            " div count(*) AS BIGINT)"
        ).alias("spanning_ppm"),
        F.sum(F.col("n_train") * F.col("n_eval")).cast("long")
        .alias("cross_pairs"),
        F.sum(F.when(span, F.col("n_eval")).otherwise(0)).cast("long")
        .alias("eval_docs_leaked"),
    )


def _q_dedup_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.operators.dedup import shared_minhash_clusters

    return dedup_split_audit(shared_minhash_clusters(spark, sf_dir)[1])


def _dedup_split_audit_oracle() -> str:
    from dblab_ece_trino_spark.operators.dedup import _MINHASH_ORACLE

    bucket = _md5_bucket_sql("sid")
    lo = DEDUP_SPLIT_EVAL_LO
    return (
        """
    WITH RECURSIVE pairs AS ("""
        + _MINHASH_ORACLE
        + f"""
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (
      SELECT a AS sid, least(a, min(b)) AS cluster
      FROM reach GROUP BY a
    ),
    percl AS (
      SELECT cluster,
             sum(CASE WHEN {bucket} < {lo} THEN 1 ELSE 0 END) AS n_train,
             sum(CASE WHEN {bucket} >= {lo} THEN 1 ELSE 0 END) AS n_eval
      FROM labels GROUP BY cluster
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN n_train > 0 AND n_eval > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_spanning,
           CAST(CAST(1000000 AS HUGEINT)
                * sum(CASE WHEN n_train > 0 AND n_eval > 0
                      THEN 1 ELSE 0 END) // count(*) AS BIGINT)
             AS spanning_ppm,
           CAST(sum(n_train * n_eval) AS BIGINT) AS cross_pairs,
           CAST(sum(CASE WHEN n_train > 0 AND n_eval > 0 THEN n_eval
                    ELSE 0 END) AS BIGINT) AS eval_docs_leaked
    FROM percl
    """
    )


register("sample_dedup_split_audit", _q_dedup_split_audit,
         oracle=_dedup_split_audit_oracle())


# -------------------------------------- recency-decayed sampling (r13)
# (days_back_upper_bound, keep_bucket_limit of 256): newest tier keeps
# everything, each older tier halves the deterministic md5 keep rate —
# the freshness-weighted downsampling shape behind replay buffers and
# continual-pretraining data refreshes.
DECAY_TIERS = ((7, 256), (14, 128), (21, 64), (100000, 32))


def time_decay_sample(events: DataFrame) -> DataFrame:
    """Recency-decayed deterministic sampling: events are tiered by
    age relative to the corpus max timestamp and kept when their
    md5 bucket (the split_assign machinery — stable under reruns and
    partitioning) falls under the tier's halving keep limit.  Reports
    per tier: population, kept count, the TARGET rate implied by the
    bucket limit and the ACHIEVED exact rate — the audit row a
    decayed-replay pipeline alerts on.

    Exactness: integer buckets, integer counts, floored ppm ratios.
    Shape (100 TB): the max-ts scalar is one bounded reduce; then ONE
    fact scan with a per-row tier CASE + bucket compare and a
    4-row aggregate.  No shuffle beyond the final tiny agg.
    """
    from pyspark.sql import functions as F

    mx = events.agg(F.max("ts").alias("mx")).collect()[0]["mx"]
    age_days = F.datediff(F.lit(mx).cast("timestamp"), F.col("ts"))
    tier = F.lit(len(DECAY_TIERS) - 1)
    limit = F.lit(DECAY_TIERS[-1][1])
    for i in range(len(DECAY_TIERS) - 2, -1, -1):
        ub, lim = DECAY_TIERS[i]
        tier = F.when(age_days < ub, F.lit(i)).otherwise(tier)
        limit = F.when(age_days < ub, F.lit(lim)).otherwise(limit)
    kept = (md5_bucket(F.col("event_id"), "decay-v1") < limit).cast("int")
    return (
        events.select(tier.alias("tier"), limit.alias("keep_limit"),
                      kept.alias("kept"))
        .groupBy("tier", "keep_limit")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
        .select(
            F.col("tier").cast("int").alias("tier"),
            (F.col("keep_limit").cast("long") * 1000000 / 256)
            .cast("long").alias("target_ppm"),
            "n_events", "n_kept",
            F.floor(
                F.lit(1000000.0) * F.col("n_kept") / F.col("n_events")
            ).cast("long").alias("kept_ppm"),
        )
        .orderBy("tier")
    )


def _q_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.entrypoints import engine_for

    ev = engine_for(spark, sf_dir).catalogs.table("elastic.default.events")
    return time_decay_sample(ev)


def _time_decay_oracle() -> str:
    bucket = _md5_bucket_sql("event_id", "decay-v1")
    tier_case = "CASE " + " ".join(
        f"WHEN date_diff('day', CAST(ts AS DATE), mx) < {ub} THEN {i}"
        for i, (ub, _l) in enumerate(DECAY_TIERS)
    ) + " END"
    lim_case = "CASE " + " ".join(
        f"WHEN date_diff('day', CAST(ts AS DATE), mx) < {ub} THEN {lim}"
        for ub, lim in DECAY_TIERS
    ) + " END"
    return f"""
    WITH mxx AS (SELECT CAST(max(ts) AS DATE) AS mx FROM events),
    tiered AS (
      SELECT {tier_case} AS tier,
             {lim_case} AS keep_limit,
             CASE WHEN {bucket} < {lim_case} THEN 1 ELSE 0 END AS kept
      FROM events CROSS JOIN mxx
    )
    SELECT CAST(tier AS INT) AS tier,
           CAST(keep_limit * 1000000 // 256 AS BIGINT) AS target_ppm,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(floor(1000000.0 * sum(kept) / count(*)) AS BIGINT)
             AS kept_ppm
    FROM tiered
    GROUP BY tier, keep_limit
    ORDER BY tier
    """


register("sample_time_decay", _q_time_decay, oracle=_time_decay_oracle())


# --------------------------- epoch shuffle decorrelation (round 14)
EPOCH_N = 3
EPOCH_SHARDS = 32


def epoch_shuffle_audit(
    docs: DataFrame, epochs: int = EPOCH_N, shards: int = EPOCH_SHARDS
) -> DataFrame:
    """Epoch-to-epoch shuffle decorrelation audit — the data-loader
    invariant every training run assumes and almost none verifies:
    re-shuffling the corpus with a new per-epoch seed must produce
    orders that are UNCORRELATED (a seed bug that reuses or offsets
    the permutation shows up as rank correlation ~1, and "shuffled
    once, then replayed" pipelines silently pin sample adjacency
    across epochs).  Each epoch's order is the md5('epoch-<e>:<id>')
    permutation (the hash-order idiom the sampling family shares);
    the audit reports, per epoch pair, the exact Spearman rank
    correlation in ppm (rho = 1 - 6*sum(d^2)/(n(n^2-1)), all integer
    cross-multiplication — no IEEE anywhere), the mean absolute rank
    displacement as a fraction of n in ppm (a random pair sits near
    333,333 = n/3 over n), and the max displacement.

    Exactness: d^2 and |d| are summed in DECIMAL(38,0) (Spark) /
    HUGEINT (oracle) — sum(d^2) ~ n^3/6 overflows BIGINT past n ~ 3e6
    — and the two ppm figures are nonnegative-dividend floor
    divisions, so `div` and `//` agree.

    Shape (100 TB): per-epoch global ranks use the two-level sharded
    form (range-repartition -> per-shard row_number + broadcast shard
    offsets — the systematic-sample machinery): no single-partition
    window at any corpus scale.  The pair join is id-keyed (epochs
    fan the corpus |epochs|x, a constant), and the answer frame is
    C(epochs, 2) rows.
    """
    from dblab_ece_trino_spark.session import materialize

    ep = (
        docs.select("doc_id")
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(epochs - 1))).alias("e"),
        )
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.lit("epoch-"),
                    F.col("e").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ),
        )
    )
    sharded = materialize(
        ep.repartitionByRange(
            shards * epochs, F.col("e"), F.col("h"), F.col("doc_id")
        ).withColumn("__shard", F.spark_partition_id())
    )
    counts = sharded.groupBy("e", "__shard").agg(F.count("*").alias("__c"))
    offs = (
        counts.alias("a")
        .join(
            counts.alias("b"),
            (F.col("b.e") == F.col("a.e"))
            & (F.col("b.__shard") < F.col("a.__shard")),
            "left",
        )
        .groupBy(F.col("a.e").alias("e"), F.col("a.__shard").alias("__shard"))
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__off"))
    )
    w = Window.partitionBy("e", "__shard").orderBy("h", "doc_id")
    ranked = materialize(
        sharded.withColumn("__lr", F.row_number().over(w))
        .join(offs, ["e", "__shard"])
        .select(
            "e",
            "doc_id",
            (F.col("__lr") + F.col("__off")).cast("long").alias("r"),
        )
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    d = (F.col("a.r") - F.col("b.r")).cast("decimal(19,0)")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("a.e") < F.col("b.e"))
        .select(
            F.col("a.e").alias("epoch_a"),
            F.col("b.e").alias("epoch_b"),
            (d * d).cast("decimal(38,0)").alias("d2"),
            F.abs(d).cast("decimal(38,0)").alias("ad"),
        )
        .groupBy("epoch_a", "epoch_b")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("d2").cast("decimal(38,0)").alias("sd2"),
            F.sum("ad").cast("decimal(38,0)").alias("sad"),
            F.max("ad").cast("long").alias("max_abs_d"),
        )
    )
    return pairs.selectExpr(
        "CAST(epoch_a AS INT) AS epoch_a",
        "CAST(epoch_b AS INT) AS epoch_b",
        "CAST(n AS BIGINT) AS n_docs",
        "CASE WHEN n > 1 THEN"
        " CAST(1000000 - (6000000 * sd2) div (n * (n * n - 1)) AS BIGINT)"
        " END AS rho_ppm",
        "CAST((1000000 * sad) div (n * n) AS BIGINT) AS mean_disp_ppm",
        "max_abs_d",
    ).orderBy("epoch_a", "epoch_b")


def _q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return epoch_shuffle_audit(documents(spark, sf_dir))


def _epoch_shuffle_oracle(epochs: int = EPOCH_N) -> str:
    return f"""
    WITH ep AS (
      SELECT doc_id, e
      FROM documents, unnest(generate_series(0, {epochs - 1})) AS t(e)
    ),
    h AS (
      SELECT doc_id, e,
             md5('epoch-' || e || ':' || doc_id) AS h
      FROM ep
    ),
    r AS (
      SELECT doc_id, e,
             CAST(row_number() OVER (PARTITION BY e ORDER BY h, doc_id)
                  AS BIGINT) AS r
      FROM h
    ),
    p AS (
      SELECT a.e AS epoch_a, b.e AS epoch_b,
             CAST(a.r - b.r AS HUGEINT) AS d
      FROM r a JOIN r b ON a.doc_id = b.doc_id AND a.e < b.e
    ),
    agg AS (
      SELECT epoch_a, epoch_b,
             CAST(count(*) AS HUGEINT) AS n,
             sum(d * d) AS sd2,
             sum(abs(d)) AS sad,
             max(abs(d)) AS mx
      FROM p GROUP BY epoch_a, epoch_b
    )
    SELECT CAST(epoch_a AS INT) AS epoch_a,
           CAST(epoch_b AS INT) AS epoch_b,
           CAST(n AS BIGINT) AS n_docs,
           CASE WHEN n > 1 THEN
             CAST(1000000 - (6000000 * sd2) // (n * (n * n - 1)) AS BIGINT)
           END AS rho_ppm,
           CAST((1000000 * sad) // (n * n) AS BIGINT) AS mean_disp_ppm,
           CAST(mx AS BIGINT) AS max_abs_d
    FROM agg
    ORDER BY epoch_a, epoch_b
    """


register("sample_epoch_shuffle", _q_epoch_shuffle,
         oracle=_epoch_shuffle_oracle())
