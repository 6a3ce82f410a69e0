"""Training-data preparation operators beyond dedup/sampling: chunking,
PII redaction, repetition detection, TF-cosine near-dup, cluster
resolution, and deterministic training-order shuffling.

These are the remaining stages of a 100 TB curation pipeline (reference
has no analog — its scope stops at federated OLAP; this layer is the
LLM-pipeline surface SURVEY §6 plans as first-class).  Design rules:

- everything is a projection, a keyed aggregation, or a bounded join —
  the shapes that keep working at 1000 executors;
- every decision is content-addressed (md5) or integer-exact, so both
  engines (and any two cluster runs) agree bit-for-bit — the same
  reproducibility discipline as operators/sampling.py;
- no Python in the hot path: all pure ``pyspark.sql.functions``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dblab_ece_trino_spark.operators.registry import documents, register
from dblab_ece_trino_spark.session import shared_build
from dblab_ece_trino_spark.operators.dedup import word_shingles


def _toks(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


# --------------------------------------------------------------- chunking
def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 16,
    stride: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks (the
    sequence-construction step before tokenization/packing).

    Pure projection + explode: chunk starts come from one ``sequence``
    per row, the chunk itself from ``slice`` — no shuffle, no UDF.  The
    overlap is ``chunk_tokens - stride`` tokens.  Chunk identity is the
    md5 of the joined tokens, so downstream exact-dedup of chunks is a
    plain groupBy.
    """
    overlap = chunk_tokens - stride
    toks = _toks(F.col(text_col))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - overlap, F.lit(1)),
        F.lit(stride),
    )
    out = docs.select(
        F.col(id_col), toks.alias("__t"), F.posexplode(starts).alias("chunk_idx", "__s")
    )
    chunk = F.slice("__t", F.col("__s"), chunk_tokens)
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# ----------------------------------------------------------- PII redaction
#: order matters: SSN-shaped runs before phone-shaped (a phone pattern
#: would otherwise eat the first half of an SSN).  RE2/Java-compatible —
#: no lookaround, so Spark and DuckDB agree.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\d{3}-\d{2}-\d{3,4}", "<SSN>"),
    ("phone", r"\d{3}-\d{4}", "<PHONE>"),
]


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex PII scrubbing with per-pattern hit counts.

    One codegen'd projection: ``regexp_count`` per pattern on the
    original text, then a replace chain.  At 100 TB this is the cheapest
    possible shape — a single pass, no shuffle, trivially partitionable.
    """
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = t
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return docs.select("*", *counts, red.alias("redacted_text"))


# ----------------------------------------------------- repetition detection
def repetition_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition metrics — the standard quality gate that
    catches boilerplate and degenerate generations:

    - ``distinct_token_ratio``: |vocab| / n_tokens (low = repetitive);
    - ``top_token_ratio``: most-frequent-token share (high = degenerate);
    - ``distinct_3gram_ratio``: distinct / total word 3-grams (the
      compression-ratio proxy used by C4/Gopher-style filters).

    Shape: one explode + two keyed aggregations on (doc, token) — the
    map-side-combinable form; no per-doc data ever leaves its partition
    except the final per-doc rows.
    """
    toks = docs.select(
        F.col(id_col).alias("sid"),
        F.explode(_toks(F.col(text_col))).alias("tok"),
    )
    per_tok = toks.groupBy("sid", "tok").agg(F.count("*").alias("c"))
    per_doc = per_tok.groupBy("sid").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_c"),
    )
    grams = docs.select(
        F.col(id_col).alias("sid"),
        F.size(word_shingles(F.col(text_col), 3)).alias("n_distinct_3gram"),
        F.greatest(
            F.size(_toks(F.col(text_col))) - 2, F.lit(1)
        ).alias("n_3gram"),
    )
    return (
        per_doc.join(grams, "sid")
        .select(
            F.col("sid").alias(id_col),
            F.col("n_tokens"),
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
                "distinct_token_ratio"
            ),
            F.round(F.col("top_c") / F.col("n_tokens"), 6).alias("top_token_ratio"),
            F.round(F.col("n_distinct_3gram") / F.col("n_3gram"), 6).alias(
                "distinct_3gram_ratio"
            ),
        )
        .withColumn(
            "repetitive",
            (F.col("top_token_ratio") > 0.2) | (F.col("distinct_3gram_ratio") < 0.5),
        )
    )


# ------------------------------------------------------- TF-cosine near-dup
def tf_cosine_pairs(
    docs: DataFrame,
    threshold_sq: float = 0.995,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs whose term-frequency cosine² clears a threshold.

    The sparse vector-space dual of n-gram Jaccard: docs meet in a
    self-join on the token, dot products and norms are exact int64 sums,
    and the SQUARED cosine (dot² / (|a|²·|b|²)) keeps every intermediate
    integer-exact — both engines then perform ONE identical double
    division, so the rounded value is bit-reproducible (a sqrt per side
    would not be).  Scale: join fan-out is bounded by token document
    frequency; production callers cap hot tokens exactly like
    ``max_shingle_df`` in the Jaccard path.
    """
    tc = (
        docs.select(
            F.col(id_col).alias("sid"), F.explode(_toks(F.col(text_col))).alias("tok")
        )
        .groupBy("sid", "tok")
        .agg(F.count("*").alias("c"))
    )
    norms = tc.groupBy("sid").agg(F.sum(F.col("c") * F.col("c")).alias("nrm2"))
    a, b = tc.alias("a"), tc.alias("b")
    dots = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("sid").alias("id_a"), F.col("nrm2").alias("na2")), "id_a")
        .join(norms.select(F.col("sid").alias("id_b"), F.col("nrm2").alias("nb2")), "id_b")
        .withColumn(
            "cos2",
            F.round((F.col("dot") * F.col("dot")) / (F.col("na2") * F.col("nb2")), 6),
        )
        .filter(F.col("cos2") >= threshold_sq)
        .select("id_a", "id_b", "cos2")
    )


# -------------------------------------------------------- dedup resolution
def resolve_duplicates(docs: DataFrame, labels: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus-level resolution summary after clustering: how many docs,
    how many sit in a dup cluster, how many survive keep-min-id.

    One left join + one aggregation — the bookkeeping pass a pipeline
    runs (and logs) after every dedup stage.
    """
    j = docs.select(F.col(id_col).alias("sid")).join(labels, "sid", "left")
    return j.agg(
        F.count("*").alias("n_docs"),
        F.count("cluster").alias("n_dup_members"),
        F.count_distinct("cluster").alias("n_clusters"),
        (F.count("*") - F.count("cluster") + F.count_distinct("cluster")).alias(
            "n_kept"
        ),
    )


# ------------------------------------------------ deterministic train order
def train_order(
    docs: DataFrame,
    seed: str = "shuffle-v1",
    batch_rows: int = 256,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle + batch assignment.

    Order = md5(seed || id): content-addressed, so every run and every
    cluster layout produces the SAME permutation (the reproducibility
    contract for data ordering in training).  The global position is
    computed WITHOUT a single-partition sort: rows get a per-bucket
    row_number (parallel windows over the md5's first byte), bucket
    offsets come from one 256-row running sum that is broadcast back —
    the scalable two-phase rank used in place of zipWithIndex.  Ordering
    by (bucket, hash) equals ordering by hash because the bucket IS the
    hash's first byte.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    based = docs.select(F.col(id_col), h.alias("__h")).withColumn(
        "__b", F.conv(F.substring("__h", 1, 2), 16, 10).cast("int")
    )
    wb = Window.partitionBy("__b").orderBy("__h")
    local = based.withColumn("__local", F.row_number().over(wb))
    counts = based.groupBy("__b").agg(F.count("*").alias("__n"))
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(wo), F.lit(0))
    ).select("__b", "__off")
    return (
        local.join(F.broadcast(offsets), "__b")
        .select(
            id_col,
            (F.col("__local") + F.col("__off")).cast("long").alias("pos"),
        )
        .withColumn(
            "batch_id", ((F.col("pos") - 1) / batch_rows).cast("long")
        )
    )


# ------------------------------------------------------------ query entries
def _q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(documents(spark, sf_dir))


register(
    "llm_chunk_documents",
    _q_chunking,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ),
    s AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 4, 1), 12)) AS start
      FROM toks
    )
    SELECT doc_id,
           (start - 1) // 12 AS chunk_idx,
           CAST(len(list_slice(t, start, start + 15)) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(t, start, start + 15), ' ')) AS chunk_md5
    FROM s
    """,
)


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic corpus contains no PII-shaped strings, so the entry
    # plants deterministic ones (derived from doc_id, identically in the
    # oracle) — the regex surface is exercised for real, with nonzero
    # counts, and the redacted text is value-checked via its md5.
    docs = documents(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-01"),
            (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit(" ssn 123-45-"),
            (F.col("doc_id") % 1000 + 6000).cast("string"),
        ).alias("text"),
    )
    out = redact_pii(planted)
    return out.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        F.md5("redacted_text").alias("redacted_md5"),
    )


register(
    "llm_pii_redact",
    _q_pii_redact,
    oracle=r"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-01' || CAST(doc_id % 90 + 10 AS VARCHAR)
                  || ' ssn 123-45-' || CAST(doc_id % 1000 + 6000 AS VARCHAR) AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '\d{3}-\d{2}-\d{3,4}')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(text, '\d{3}-\d{4}')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\d{3}-\d{2}-\d{3,4}', '<SSN>', 'g'),
               '\d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_md5
    FROM planted
    """,
)


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_profile(documents(spark, sf_dir))


register(
    "llm_repetition_profile",
    _q_repetition,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS sid, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    per_tok AS (
      SELECT sid, tok, count(*) AS c FROM toks GROUP BY sid, tok
    ),
    per_doc AS (
      SELECT sid, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct, max(c) AS top_c
      FROM per_tok GROUP BY sid
    ),
    grams AS (
      SELECT doc_id AS sid,
             count(DISTINCT array_to_string(list_slice(t, i, i + 2), ' ')) AS n_distinct_3gram,
             greatest(len(t) - 2, 1) AS n_3gram
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i)
      GROUP BY doc_id, greatest(len(t) - 2, 1)
    )
    SELECT p.sid AS doc_id, p.n_tokens,
           round(p.n_distinct * 1.0 / p.n_tokens, 6) AS distinct_token_ratio,
           round(p.top_c * 1.0 / p.n_tokens, 6) AS top_token_ratio,
           round(g.n_distinct_3gram * 1.0 / g.n_3gram, 6) AS distinct_3gram_ratio,
           (round(p.top_c * 1.0 / p.n_tokens, 6) > 0.2
            OR round(g.n_distinct_3gram * 1.0 / g.n_3gram, 6) < 0.5) AS repetitive
    FROM per_doc p JOIN grams g ON p.sid = g.sid
    """,
)


def gopher_repetition(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Gopher/MassiveText intra-document repetition filters (Rae et
    al. 2021, "Scaling Language Models: ... Gopher", Table A1): per
    document, the fraction of CHARACTERS covered by (a) the most
    frequent word n-gram for n in {2,3,4} and (b) duplicated word
    n-grams (count >= 2, characters counted with multiplicity) for n in
    {5,6} — the standard boilerplate/degenerate-text gate that
    complements llm_repetition_profile's count-based ratios with the
    paper's character-coverage form.  ``gopher_clean`` applies the
    paper's thresholds (0.20/0.18/0.16 top, 0.15/0.14 dup).

    Determinism: coverage is count x length(gram) in BIGINT, fractions
    are integer ppm floor divisions by length(text), and the top gram
    tie-break is a lexicographic struct max on (count, coverage) —
    identical semantics in both engines, no float anywhere.

    100 TB shape: ONE scan, one explode producing the n in {2..6} gram
    stream tagged by n (token-linear, x5), with grams keyed by
    ``xxhash64`` OF THE TOKEN-ARRAY SLICE — no gram string is ever
    constructed and the shuffle carries 8-byte keys (the
    dup_span_coverage discipline); gram character lengths come from
    chained O(1)-per-gram span arrays over the precomputed token-length
    array (r16 re-plan — the old per-gram slice-fold re-summed ~n lens
    per gram through an interpreted HOF lambda; see the inline
    comment).  Then
    one map-side-combinable (doc, n, hash) count, a (doc, n) fold, a
    5-way conditional pivot to one row per document.  (Two rejected
    forms, measured at sf0.1: STRING-keyed grams 12.7 s — the shuffle
    carries gram text; a zero-shuffle sort+run-length ``aggregate`` HOF
    18.7 s — struct-state lambdas evaluate interpreted.  This form:
    ~2 s.)  Same-engine xxhash64 collisions would merge two gram
    groups (~1e-10 corpus-wide — deterministic, and the unchanged
    string-keyed oracle would catch it).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def gram_structs(n: int) -> Column:
        # glen from the chained O(1) arrays (g{n}) for full windows;
        # a doc shorter than n tokens emits ONE truncated gram covering
        # the whole doc, whose char span is the precomputed ``tot``
        # (sum(lens) + sz - 1) — identical to the old slice-fold's
        # aggregate(slice(lens, 1, n)) + least(n, sz) - 1 there.
        idx = F.sequence(
            F.lit(1), F.greatest(F.size(F.col("arr")) - (n - 1), F.lit(1))
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                F.lit(n).cast("int").alias("n"),
                F.xxhash64(F.slice(F.col("arr"), i, n)).alias("gh"),
                F.when(
                    F.size(F.col("arr")) >= n,
                    F.element_at(F.col(f"g{n}"), i),
                )
                .otherwise(F.col("tot"))
                .alias("glen"),
            ),
        )

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).cast("long").alias("doc_chars"),
        toks.alias("arr"),
    ).withColumn("lens", F.transform("arr", lambda t: F.length(t).cast("long")))
    # r16 re-plan (guide §4.1/§1.2 — per-gram work from O(n) to O(1)):
    # the old form re-summed a lens slice PER GRAM via an interpreted
    # aggregate-HOF lambda (~20 inner lambda evaluations per token
    # across n in {2..6}).  The gram char spans obey the recurrence
    # glen_n[i] = glen_{n-1}[i] + lens[i+n-1] + 1, so five chained
    # transforms build all spans with one O(1) body each; ``tot`` (one
    # O(sz) fold per DOC, not per gram) covers the truncated short-doc
    # gram.  Measured 7.5 s -> 5.2 s noop at sf0.1, identical output
    # (pinned incl. 1..8-token short docs in tests/test_round16_opt.py).
    base = base.withColumn(
        "tot",
        F.aggregate(
            F.col("lens"), F.lit(0).cast("long"), lambda a, x: a + x
        )
        + F.size(F.col("arr"))
        - F.lit(1),
    )
    base = base.withColumn(
        "g2",
        F.when(
            F.size(F.col("arr")) >= 2,
            F.expr(
                "transform(sequence(1, size(arr) - 1),"
                " i -> lens[i - 1] + lens[i] + 1)"
            ),
        ).otherwise(F.expr("CAST(array() AS array<bigint>)")),
    )
    for n in range(3, 7):
        base = base.withColumn(
            f"g{n}",
            F.when(
                F.size(F.col("arr")) >= n,
                F.expr(
                    f"transform(sequence(1, size(arr) - {n - 1}),"
                    f" i -> g{n - 1}[i - 1] + lens[i + {n - 2}] + 1)"
                ),
            ).otherwise(F.expr("CAST(array() AS array<bigint>)")),
        )
    g = base.select(
        "doc_id",
        "doc_chars",
        F.explode(
            F.concat(*[gram_structs(n) for n in (2, 3, 4, 5, 6)])
        ).alias("x"),
    ).select(
        "doc_id", "doc_chars",
        F.col("x.n").alias("n"), F.col("x.gh").alias("gh"),
        F.col("x.glen").alias("glen"),
    )
    per_gram = g.groupBy("doc_id", "doc_chars", "n", "gh").agg(
        F.count("*").cast("long").alias("c"),
        F.max("glen").alias("glen"),
    )
    per_n = per_gram.groupBy("doc_id", "doc_chars", "n").agg(
        F.max(
            F.struct(
                F.col("c"),
                (F.col("c") * F.col("glen")).cast("long").alias("cov"),
            )
        ).alias("top"),
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * F.col("glen")).otherwise(0)
        ).cast("long").alias("dupcov"),
    )

    def ppm(col: str) -> Column:
        return F.expr(f"({col} * 1000000) div doc_chars").cast("long")

    pivoted = per_n.select(
        "doc_id",
        "doc_chars",
        "n",
        ppm("top.cov").alias("top_ppm"),
        ppm("dupcov").alias("dup_ppm"),
    )
    out = pivoted.groupBy("doc_id").agg(
        F.max("doc_chars").alias("n_chars"),
        F.max(F.when(F.col("n") == 2, F.col("top_ppm"))).alias("top2_ppm"),
        F.max(F.when(F.col("n") == 3, F.col("top_ppm"))).alias("top3_ppm"),
        F.max(F.when(F.col("n") == 4, F.col("top_ppm"))).alias("top4_ppm"),
        F.max(F.when(F.col("n") == 5, F.col("dup_ppm"))).alias("dup5_ppm"),
        F.max(F.when(F.col("n") == 6, F.col("dup_ppm"))).alias("dup6_ppm"),
    )
    return out.withColumn(
        "gopher_clean",
        (F.col("top2_ppm") <= 200000)
        & (F.col("top3_ppm") <= 180000)
        & (F.col("top4_ppm") <= 160000)
        & (F.col("dup5_ppm") <= 150000)
        & (F.col("dup6_ppm") <= 140000),
    )


def _q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_repetition(documents(spark, sf_dir))


register(
    "llm_gopher_repetition",
    _q_gopher_repetition,
    oracle=r"""
    WITH g AS (
      SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS doc_chars, nr.n,
             array_to_string(
               list_slice(regexp_split_to_array(trim(d.text), '\s+'),
                          u.i, u.i + nr.n - 1), ' ') AS gg
      FROM documents d,
           (VALUES (2),(3),(4),(5),(6)) nr(n),
           unnest(generate_series(
             1, greatest(len(regexp_split_to_array(trim(d.text), '\s+'))
                         - nr.n + 1, 1))) AS u(i)
    ),
    pg AS (
      SELECT doc_id, doc_chars, n, gg, CAST(count(*) AS BIGINT) AS c
      FROM g GROUP BY doc_id, doc_chars, n, gg
    ),
    pn AS (
      SELECT doc_id, doc_chars, n,
             (max({'c': c, 'cov': CAST(c * length(gg) AS BIGINT)})).cov
               AS topcov,
             CAST(sum(CASE WHEN c >= 2 THEN c * length(gg) ELSE 0 END)
               AS BIGINT) AS dupcov
      FROM pg GROUP BY doc_id, doc_chars, n
    ),
    piv AS (
      SELECT doc_id,
             max(doc_chars) AS n_chars,
             max(CASE WHEN n = 2 THEN (topcov * 1000000) // doc_chars END)
               AS top2_ppm,
             max(CASE WHEN n = 3 THEN (topcov * 1000000) // doc_chars END)
               AS top3_ppm,
             max(CASE WHEN n = 4 THEN (topcov * 1000000) // doc_chars END)
               AS top4_ppm,
             max(CASE WHEN n = 5 THEN (dupcov * 1000000) // doc_chars END)
               AS dup5_ppm,
             max(CASE WHEN n = 6 THEN (dupcov * 1000000) // doc_chars END)
               AS dup6_ppm
      FROM pn GROUP BY doc_id
    )
    SELECT doc_id, n_chars, top2_ppm, top3_ppm, top4_ppm, dup5_ppm,
           dup6_ppm,
           (top2_ppm <= 200000 AND top3_ppm <= 180000
            AND top4_ppm <= 160000 AND dup5_ppm <= 150000
            AND dup6_ppm <= 140000) AS gopher_clean
    FROM piv
    """,
)


def _q_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded id-slice (like dedup_embedding): constant-cost plan at any
    # corpus scale; the unbounded form is the production operator with a
    # hot-token cap.
    return tf_cosine_pairs(
        documents(spark, sf_dir).filter(F.col("doc_id") < 300), threshold_sq=0.9
    )


register(
    "llm_tf_cosine_dup",
    _q_tf_cosine,
    oracle=r"""
    WITH tc AS (
      SELECT sid, tok, count(*) AS c FROM (
        SELECT doc_id AS sid, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents WHERE doc_id < 300
      ) GROUP BY sid, tok
    ),
    norms AS (SELECT sid, sum(c * c) AS nrm2 FROM tc GROUP BY sid),
    dots AS (
      SELECT a.sid AS id_a, b.sid AS id_b, sum(a.c * b.c) AS dot
      FROM tc a JOIN tc b ON a.tok = b.tok AND a.sid < b.sid
      GROUP BY a.sid, b.sid
    )
    SELECT id_a, id_b,
           round((dot * dot) * 1.0 / (na.nrm2 * nb.nrm2), 6) AS cos2
    FROM dots
    JOIN norms na ON na.sid = id_a
    JOIN norms nb ON nb.sid = id_b
    WHERE round((dot * dot) * 1.0 / (na.nrm2 * nb.nrm2), 6) >= 0.9
    """,
)


def _q_dedup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.operators.dedup import (
        dedup_clusters,
        dedup_minhash_lsh,
    )

    docs = documents(spark, sf_dir)
    pairs = dedup_minhash_lsh(docs, threshold=0.7, max_bucket=None)
    return resolve_duplicates(docs, dedup_clusters(pairs))


def _resolution_oracle() -> str:
    from dblab_ece_trino_spark.operators.dedup import _CLUSTERS_ORACLE

    return (
        "WITH labels AS (" + _CLUSTERS_ORACLE + ")\n"
        "SELECT count(*) AS n_docs,\n"
        "       count(l.cluster) AS n_dup_members,\n"
        "       count(DISTINCT l.cluster) AS n_clusters,\n"
        "       count(*) - count(l.cluster) + count(DISTINCT l.cluster) AS n_kept\n"
        "FROM documents d LEFT JOIN labels l ON d.doc_id = l.sid"
    )


register("llm_dedup_resolution", _q_dedup_resolution, oracle=_resolution_oracle())


def _q_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return train_order(documents(spark, sf_dir))


register(
    "llm_train_order",
    _q_train_order,
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5('shuffle-v1' || CAST(doc_id AS VARCHAR))) AS BIGINT) AS pos,
           (CAST(row_number() OVER (
             ORDER BY md5('shuffle-v1' || CAST(doc_id AS VARCHAR))) AS BIGINT) - 1) // 256
             AS batch_id
    FROM documents
    """,
)


# ---------------------------------------------------- quality rule gates
GOPHER_STOPWORDS = ["the", "a", "row", "fast", "table"]


def quality_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style boolean quality gates (public rules from Rae et al.
    2021, "Scaling Language Models", appendix A1.1, re-expressed on the
    whitespace-token stats this corpus supports):

    - ``r_len``: token count within [10, 5000];
    - ``r_word_len``: mean word length within [2, 12];
    - ``r_stop``: at least one stopword hit (markers the synthetic
      corpus actually contains);
    - ``r_rep``: distinct-token ratio >= 0.2 (repetition gate);
    - ``passes``: conjunction of all four.

    Shape: a single codegen'd projection — no shuffle, no UDF; the
    cheapest possible 100 TB pre-filter, same cost class as
    text.quality_features.
    """
    t = F.col(text_col)
    toks = _toks(t)
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    char_len = F.length(F.regexp_replace(t, " ", "")).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*GOPHER_STOPWORDS))
    ).cast("long")
    mean_word_len = F.round(char_len * F.lit(1.0) / F.greatest(n_tokens, F.lit(1)), 6)
    distinct_ratio = F.round(
        n_distinct * F.lit(1.0) / F.greatest(n_tokens, F.lit(1)), 6
    )
    r_len = (n_tokens >= 10) & (n_tokens <= 5000)
    r_word_len = (mean_word_len >= 2.0) & (mean_word_len <= 12.0)
    r_stop = stop_hits >= 1
    r_rep = distinct_ratio >= 0.2
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        distinct_ratio.alias("distinct_ratio"),
        stop_hits.alias("stop_hits"),
        r_len.alias("r_len"),
        r_word_len.alias("r_word_len"),
        r_stop.alias("r_stop"),
        r_rep.alias("r_rep"),
        (r_len & r_word_len & r_stop & r_rep).alias("passes"),
    )


# ------------------------------------------------- domain mixture resampling
def domain_mix(
    docs: DataFrame,
    weights: dict[str, int],
    domain_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "mix-v1",
) -> DataFrame:
    """Deterministic resampling to an exact target domain mixture.

    Given integer target weights per domain, keeps the LARGEST corpus
    with exactly the target proportions: ``keep_n(l) = min over m of
    (w_l * count_m) DIV w_m`` — pure int64 arithmetic, so any two runs
    (and any two engines) pick identical documents.  Within a domain,
    survivors are the ``keep_n`` docs with the smallest
    ``md5(seed || id)`` — content-addressed, partition-order-independent.

    Shape at 100 TB: one keyed count (map-side combinable), a
    |domains|² constant-key broadcast join to compute keep_n, one
    rank-per-domain window (a narrow per-domain sort of (id, hash) —
    range-partitionable), and a broadcast join back.  No full-data
    global sort; document payloads never shuffle (join survivors back
    by id if the full rows are needed).
    """
    counts = (
        docs.select(F.col(domain_col).alias("dom"))
        .groupBy("dom")
        .agg(F.count("*").alias("cnt"))
        .withColumn("w", _weight_expr(weights, "dom"))
        .filter(F.col("w").isNotNull())
    )
    # keep_n(l) = min over m of (w_l * cnt_m) DIV w_m.  floor is monotone,
    # so this equals floor(w_l * min_m(cnt_m / w_m)) — but stays in int64.
    pairs = counts.select("dom", F.col("w").alias("w_l")).withColumn(
        "__k", F.lit(1)
    ).join(
        F.broadcast(
            counts.select(
                F.col("cnt").alias("cnt_m"), F.col("w").alias("w_m")
            ).withColumn("__k", F.lit(1))
        ),
        "__k",
    )
    keep = pairs.groupBy("dom").agg(
        F.min(F.expr("(w_l * cnt_m) DIV w_m")).alias("keep_n")
    )
    ranked = docs.filter(_weight_expr(weights, domain_col).isNotNull()).select(
        F.col(id_col),
        F.col(domain_col).alias("dom"),
        F.row_number()
        .over(
            Window.partitionBy(domain_col).orderBy(
                F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))),
                F.col(id_col),
            )
        )
        .alias("rk"),
    )
    return (
        ranked.join(F.broadcast(keep), "dom")
        .filter(F.col("rk") <= F.col("keep_n"))
        .select(id_col, F.col("dom").alias(domain_col), "rk", "keep_n")
    )


def _weight_expr(weights: dict[str, int], domain_col: str) -> Column:
    """CASE chain mapping the domain column to its integer weight."""
    expr = F.lit(None).cast("long")
    for lang, w in weights.items():
        expr = F.when(F.col(domain_col) == lang, F.lit(int(w))).otherwise(expr)
    return expr


# ------------------------------------------------ token-budget selection
def budget_select(
    docs: DataFrame,
    budget_frac_pct: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int = 32,
) -> DataFrame:
    """Quality-greedy corpus selection under a token budget.

    Ranks documents by the exact ``text.quality_score`` (desc, id-tiebreak)
    and keeps the prefix whose cumulative whitespace-token count stays
    within ``budget = total_tokens * budget_frac_pct DIV 100`` — the
    standard "best data that fits the compute budget" curation step.

    All arithmetic is integer or round-6 double, so selection is
    bit-reproducible.  Shape at 100 TB: the running total is a TWO-LEVEL
    cumsum over the narrow stats frame (id, tokens, quality), never a
    single-partition global window.  ``repartitionByRange`` on the full
    sort key (quality DESC, id) splits the frame into ``shards`` ordered
    ranges; each shard computes its local prefix sums in parallel
    (per-shard bounded sort), and the per-shard token totals — one row
    per shard — produce running offsets via a tiny triangular self-join
    that is broadcast back.  cum_tokens = shard offset + local prefix
    sum, exactly the global value: the sort key totally orders rows (id
    is unique), so shard-boundary placement cannot change any row's set
    of predecessors, and the result is independent of the sampled range
    boundaries.  Set ``shards`` to the cluster's parallelism for the
    100 TB run; every stage is O(rows/shards) except the O(shards²)
    offset join, which is metadata-scale.

    The sharded frame is materialized once: the window, the shard
    totals, and the grand total all consume it, and left lazy each
    branch would re-run the range exchange with an independently
    SAMPLED set of boundaries — the shard ids would disagree across
    branches (plan showed 4 rangepartitioning subtrees, 0 reused).
    Checkpointing the ~24-byte/doc frame pins one assignment and cuts
    the corpus scan + tokenization from 4× to 1×.
    """
    from dblab_ece_trino_spark.operators.text import quality_score
    from dblab_ece_trino_spark.session import materialize

    stats = docs.select(
        F.col(id_col),
        F.size(_toks(F.col(text_col))).cast("long").alias("n_tokens"),
        quality_score(F.col(text_col)).alias("quality"),
    )
    sharded = materialize(
        stats.repartitionByRange(
            shards, F.col("quality").desc(), F.col(id_col)
        ).withColumn("__shard", F.spark_partition_id())
    )
    w = Window.partitionBy("__shard").orderBy(
        F.col("quality").desc(), F.col(id_col)
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = sharded.withColumn("__local_cum", F.sum("n_tokens").over(w))
    totals = sharded.groupBy("__shard").agg(
        F.sum("n_tokens").alias("__shard_tot")
    )
    offs = (
        totals.alias("a")
        .join(
            totals.alias("b"),
            F.col("b.__shard") < F.col("a.__shard"),
            "left",
        )
        .groupBy(F.col("a.__shard").alias("__shard"))
        .agg(F.coalesce(F.sum("b.__shard_tot"), F.lit(0)).alias("__offset"))
    )
    grand = totals.agg(F.sum("__shard_tot").alias("total_tokens")).withColumn(
        "__k", F.lit(1)
    )
    return (
        local.join(F.broadcast(offs), "__shard")
        .withColumn("cum_tokens", F.col("__offset") + F.col("__local_cum"))
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(grand), "__k")
        .filter(
            F.col("cum_tokens")
            <= F.expr(f"(total_tokens * {int(budget_frac_pct)}) DIV 100")
        )
        .select(id_col, "n_tokens", "quality", "cum_tokens")
    )


# --------------------------------------------------- corpus vocabulary
def vocab_topk(
    docs: DataFrame, k: int = 20, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Top-k corpus vocabulary with term and document frequencies.

    One explode into a (token, doc) stream, a map-side-combinable keyed
    agg, then a row_number over the tiny per-token aggregate (vocab is
    orders of magnitude smaller than the corpus).  The standard first
    look at any new 100 TB text dump.
    """
    toks = docs.select(
        F.col(id_col).alias("sid"), F.explode(_toks(F.col(text_col))).alias("tok")
    )
    per_tok = toks.groupBy("tok").agg(
        F.count("*").alias("tf"),
        F.count_distinct("sid").alias("df"),
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("tok"))
    return (
        per_tok.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("rk", F.col("tok").alias("token"), "tf", "df")
    )


# ----------------------------------------------- query entries (round 3+)
MIX_WEIGHTS = {"en": 40, "es": 15, "de": 15, "fr": 15, "zh": 15}


def _q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_rules(documents(spark, sf_dir))


register(
    "llm_quality_rules",
    _q_quality_rules,
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS t,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS char_len
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
             char_len,
             CAST(len(list_filter(t,
               x -> list_contains(['the','a','row','fast','table'], x))) AS BIGINT)
               AS stop_hits
      FROM f
    ),
    r AS (
      SELECT doc_id, n_tokens,
             round(char_len * 1.0 / greatest(n_tokens, 1), 6) AS mean_word_len,
             round(n_distinct * 1.0 / greatest(n_tokens, 1), 6) AS distinct_ratio,
             stop_hits
      FROM s
    )
    SELECT doc_id, n_tokens, mean_word_len, distinct_ratio, stop_hits,
           (n_tokens BETWEEN 10 AND 5000) AS r_len,
           (mean_word_len BETWEEN 2.0 AND 12.0) AS r_word_len,
           (stop_hits >= 1) AS r_stop,
           (distinct_ratio >= 0.2) AS r_rep,
           ((n_tokens BETWEEN 10 AND 5000)
            AND (mean_word_len BETWEEN 2.0 AND 12.0)
            AND (stop_hits >= 1)
            AND (distinct_ratio >= 0.2)) AS passes
    FROM r
    """,
)


def _q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain_mix(documents(spark, sf_dir), MIX_WEIGHTS)


register(
    "llm_domain_mix",
    _q_domain_mix,
    oracle=r"""
    WITH wts(dom, w) AS (
      VALUES ('en', 40), ('es', 15), ('de', 15), ('fr', 15), ('zh', 15)
    ),
    counts AS (
      SELECT d.lang AS dom, CAST(count(*) AS BIGINT) AS cnt, CAST(w.w AS BIGINT) AS w
      FROM documents d JOIN wts w ON d.lang = w.dom
      GROUP BY d.lang, w.w
    ),
    keep AS (
      SELECT l.dom, min((l.w * m.cnt) // m.w) AS keep_n
      FROM counts l CROSS JOIN counts m
      GROUP BY l.dom
    ),
    ranked AS (
      SELECT d.doc_id, d.lang,
             CAST(row_number() OVER (
               PARTITION BY d.lang
               ORDER BY md5('mix-v1' || CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS BIGINT) AS rk
      FROM documents d JOIN wts w ON d.lang = w.dom
    )
    SELECT r.doc_id, r.lang, r.rk, k.keep_n
    FROM ranked r JOIN keep k ON r.lang = k.dom
    WHERE r.rk <= k.keep_n
    """,
)


def _q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return budget_select(documents(spark, sf_dir))


register(
    "llm_budget_select",
    _q_budget_select,
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> list_contains(['the','a','row','fast','table'], t))) AS stop
      FROM documents
    ),
    q AS (
      -- replicates text.quality_score exactly (same round-6 discipline
      -- as the green text_quality_score oracle)
      SELECT doc_id, n_tokens,
             round(round(alpha * 1.0 / greatest(n_chars, 1), 6)
                   + round(stop * 1.0 / greatest(n_tokens, 1), 6)
                   + CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END,
                   6) AS quality
      FROM f
    ),
    c AS (
      SELECT doc_id, n_tokens, quality,
             CAST(sum(n_tokens) OVER (
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens
      FROM q
    )
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM c
    WHERE cum_tokens <= (total_tokens * 50) // 100
    """,
)


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_topk(documents(spark, sf_dir))


register(
    "llm_vocab_topk",
    _q_vocab_topk,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS sid, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    per_tok AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tf,
             CAST(count(DISTINCT sid) AS BIGINT) AS df
      FROM toks GROUP BY tok
    )
    SELECT * FROM (
      SELECT CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rk,
             tok AS token, tf, df
      FROM per_tok
    ) WHERE rk <= 20
    """,
)


# ---------------------------------------------------- chunk-level dedup
def chunk_dedup(
    docs: DataFrame,
    chunk_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fine-grained (chunk-level) exact dedup — the RefinedWeb-style
    pass that removes repeated passages document-level dedup can't see.

    Non-overlapping ``chunk_tokens`` windows are content-addressed by
    md5; the FIRST occurrence (ordered by doc id, then position) of each
    chunk survives.  Output is the per-document retention profile —
    what a curation pipeline feeds its keep/rewrite decisions.

    Shape at 100 TB: the chunker is a shuffle-free explode; dedup is ONE
    hash shuffle on chunk_md5 (row_number, not distinct, so the winner
    is deterministic); the profile is one keyed agg back on the doc id.
    """
    chunks = chunk_documents(
        docs, chunk_tokens=chunk_tokens, stride=chunk_tokens,
        id_col=id_col, text_col=text_col,
    )
    w = Window.partitionBy("chunk_md5").orderBy(id_col, "chunk_idx")
    kept = chunks.withColumn("__rn", F.row_number().over(w))
    first = (F.col("__rn") == 1).cast("long")
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(first).alias("n_kept_chunks"),
            F.sum("n_chunk_tokens").alias("n_tokens"),
            F.sum(F.col("n_chunk_tokens") * first).alias("n_kept_tokens"),
        )
        .withColumn(
            "keep_ratio",
            F.round(
                F.col("n_kept_tokens") * F.lit(1.0)
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ),
        )
    )


def _q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_dedup(documents(spark, sf_dir))


register(
    "llm_chunk_dedup",
    _q_chunk_dedup,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ),
    s AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t), 1), 16)) AS start
      FROM toks
    ),
    c AS (
      SELECT doc_id,
             (start - 1) // 16 AS chunk_idx,
             CAST(len(list_slice(t, start, start + 15)) AS BIGINT) AS n_chunk_tokens,
             md5(array_to_string(list_slice(t, start, start + 15), ' ')) AS h
      FROM s
    ),
    r AS (
      SELECT doc_id, chunk_idx, n_chunk_tokens,
             CASE WHEN row_number() OVER (
               PARTITION BY h ORDER BY doc_id, chunk_idx) = 1
             THEN 1 ELSE 0 END AS first
      FROM c
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(first) AS BIGINT) AS n_kept_chunks,
           CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chunk_tokens * first) AS BIGINT) AS n_kept_tokens,
           round(sum(n_chunk_tokens * first) * 1.0
                 / greatest(sum(n_chunk_tokens), 1), 6) AS keep_ratio
    FROM r
    GROUP BY doc_id
    """,
)


# ------------------------------------------- end-to-end curation pipeline
def curate_corpus(docs: DataFrame) -> DataFrame:
    """The full curation decision pipeline, composed from the graded
    stages: Gopher-style rule gates → exact-proportion domain mixing of
    the survivors → token-budget greedy selection of the mixed corpus.

    Every stage is a tested operator.  The narrow stage outputs (the
    gate-survivor id set and the mixed (doc_id, lang) frame) are
    materialized between stages: left lazy, Catalyst inlines each
    reference and re-derives the full upstream lineage — a plan census
    showed 20 scans of the corpus for this composition (the gate
    lineage re-derived 3x, the mix lineage 2x).  Checkpointing the
    ~8-byte/doc id frames cuts that to one pass per stage, which is the
    only shape that survives 100 TB (and is the same materialize()
    discipline operators/dedup.py uses between minhash stages).
    """
    from dblab_ece_trino_spark.session import materialize

    gated = materialize(
        quality_rules(docs).filter(F.col("passes")).select("doc_id")
    )
    survivors = docs.join(gated, "doc_id")
    mixed = materialize(
        domain_mix(survivors, MIX_WEIGHTS).select("doc_id", "lang")
    )
    return (
        budget_select(docs.join(mixed.select("doc_id"), "doc_id"))
        .join(mixed, "doc_id")
        .select("doc_id", "lang", "n_tokens", "quality", "cum_tokens")
    )


def _q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curate_corpus(documents(spark, sf_dir))


register(
    "pipeline_curate_corpus",
    _q_curate,
    oracle=r"""
    WITH f AS (
      SELECT doc_id, lang, text,
             regexp_split_to_array(trim(text), '\s+') AS t,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS char_len
      FROM documents
    ),
    s AS (
      SELECT doc_id, lang, text,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
             char_len,
             CAST(len(list_filter(t,
               x -> list_contains(['the','a','row','fast','table'], x))) AS BIGINT)
               AS stop_hits
      FROM f
    ),
    gated AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text, n_tokens, stop_hits,
               round(char_len * 1.0 / greatest(n_tokens, 1), 6) AS mwl,
               round(n_distinct * 1.0 / greatest(n_tokens, 1), 6) AS dr
        FROM s
      ) WHERE (n_tokens BETWEEN 10 AND 5000)
          AND (mwl BETWEEN 2.0 AND 12.0) AND (stop_hits >= 1) AND (dr >= 0.2)
    ),
    wts(dom, w) AS (
      VALUES ('en', 40), ('es', 15), ('de', 15), ('fr', 15), ('zh', 15)
    ),
    counts AS (
      SELECT g.lang AS dom, CAST(count(*) AS BIGINT) AS cnt,
             CAST(w.w AS BIGINT) AS w
      FROM gated g JOIN wts w ON g.lang = w.dom
      GROUP BY g.lang, w.w
    ),
    keep AS (
      SELECT l.dom, min((l.w * m.cnt) // m.w) AS keep_n
      FROM counts l CROSS JOIN counts m GROUP BY l.dom
    ),
    mixed AS (
      SELECT doc_id, lang, text FROM (
        SELECT g.doc_id, g.lang, g.text,
               row_number() OVER (
                 PARTITION BY g.lang
                 ORDER BY md5('mix-v1' || CAST(g.doc_id AS VARCHAR)), g.doc_id
               ) AS rk, k.keep_n
        FROM gated g JOIN keep k ON g.lang = k.dom
      ) WHERE rk <= keep_n
    ),
    q AS (
      SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             round(round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                         / greatest(length(text), 1), 6)
                   + round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                       t -> list_contains(['the','a','row','fast','table'], t))) * 1.0
                         / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 6)
                   + CASE WHEN len(regexp_split_to_array(trim(text), '\s+'))
                            BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END,
                   6) AS quality
      FROM mixed
    ),
    c AS (
      SELECT doc_id, lang, n_tokens, quality,
             CAST(sum(n_tokens) OVER (
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens
      FROM q
    )
    SELECT doc_id, lang, n_tokens, quality, cum_tokens
    FROM c WHERE cum_tokens <= (total_tokens * 50) // 100
    """,
)


# --------------------------------------------------------------- round 3b
def bigram_lm_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    cheap perplexity proxy for quality filtering (CCNet-style: docs
    whose word transitions are atypical for the corpus score low).

    Per doc: n_bigrams and the mean log MLE transition probability
    avg(ln(c(w1 w2) / c(w1 ·))) over its bigrams, where counts are
    corpus-wide.  Self-trained, so every doc bigram has nonzero count —
    no smoothing term needed.

    Shape at 100 TB: bigrams are generated by a pure array projection
    (``transform(sequence(...))`` over the token array — no positional
    self-join, no extra shuffle); corpus counts are two hash
    aggregations; the score join shuffles on the bigram string, which
    hash-partitions evenly (natural-language bigram frequencies are
    Zipfian but the JOIN key space is wide; AQE skew-split covers the
    head).  Python never touches the data.
    """
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"),
        lambda t: t != F.lit(""),
    )
    d = docs.select(F.col(id_col), arr.alias("arr")).filter(F.size("arr") >= 2)
    bi = d.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(1, size(arr) - 1), "
                "i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))"
            )
        ).alias("bigram"),
    ).withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
    c_big = bi.groupBy("bigram").agg(F.count("*").alias("c_big"))
    c_uni = bi.groupBy("w1").agg(F.count("*").alias("c_uni"))
    return (
        bi.join(c_big, "bigram")
        .join(c_uni, "w1")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.avg(F.ln(F.col("c_big").cast("double") / F.col("c_uni"))), 4
            )
            .cast("double")
            .alias("avg_logp"),
        )
    )


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_score(documents(spark, sf_dir))


register(
    "llm_bigram_lm_score",
    _q_bigram_lm,
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         t -> t != '') AS arr
      FROM documents
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(arr) - 1),
                                   i -> arr[i] || ' ' || arr[i + 1])) AS bigram
      FROM d WHERE len(arr) >= 2
    ),
    bw AS (SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1 FROM bi),
    cb AS (SELECT bigram, count(*) AS c_big FROM bw GROUP BY bigram),
    cu AS (SELECT w1, count(*) AS c_uni FROM bw GROUP BY w1)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(round(avg(ln(CAST(cb.c_big AS DOUBLE) / cu.c_uni)), 4)
                AS DOUBLE) AS avg_logp
    FROM bw b
    JOIN cb ON b.bigram = cb.bigram
    JOIN cu ON b.w1 = cu.w1
    GROUP BY b.doc_id
    """,
)


def dataset_profile(docs: DataFrame) -> DataFrame:
    """Per-(source, lang) dataset card: volume, length distribution,
    exact-duplicate density — the summary table a data curator reads
    before deciding mixture weights.  One partial→final hash agg (the
    distinct-hash count rewrites to a two-level agg under AQE)."""
    return docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("tot_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.countDistinct(F.md5(F.col("text").cast("binary")))
        .cast("long")
        .alias("uniq_texts"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


def _q_dataset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dataset_profile(documents(spark, sf_dir))


register(
    "llm_dataset_profile",
    _q_dataset_profile,
    oracle="""
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS tot_chars,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
           quantile_cont(n_chars, 0.5) AS p50_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS uniq_texts,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY source, lang
    """,
)


def quality_floor(
    docs: DataFrame,
    group_col: str = "source",
    metric_col: str = "n_chars",
    floor_quantile: float = 0.25,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quantile floor: keep documents at or above their own
    group's ``floor_quantile`` on the metric — the "drop each source's
    shortest quartile" curation gate (per-domain floors beat one global
    threshold because length/quality distributions differ per source).

    percent_rank is (rank-1)/(n-1) from exact integers — deterministic
    across engines without rounding.  The window orders by the metric
    ALONE (no id tiebreak), so documents sharing the boundary value
    share a rank and land on the same side of the gate — a value
    threshold, not an arbitrary split of ties.  One hash shuffle on the
    group; per-group sort inside the window.  At 100 TB group counts are
    large but the window is per-group (not global), so this scales like
    any keyed window; for extreme single-group sizes switch to
    approx_percentile cut points (no sort).
    """
    w = Window.partitionBy(group_col).orderBy(F.col(metric_col))
    return (
        docs.select(
            id_col,
            group_col,
            F.col(metric_col).cast("long").alias(metric_col),
            F.percent_rank().over(w).alias("pr"),
        )
        .filter(F.col("pr") >= F.lit(floor_quantile))
    )


def _q_quality_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_floor(documents(spark, sf_dir))


register(
    "llm_quality_floor",
    _q_quality_floor,
    oracle="""
    WITH r AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             percent_rank() OVER (
               PARTITION BY source ORDER BY n_chars) AS pr
      FROM documents
    )
    SELECT doc_id, source, n_chars, pr
    FROM r WHERE pr >= 0.25
    """,
)


def ngram_novelty(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's word
    n-grams that occur in NO other document — high novelty flags
    original content, near-zero novelty flags boilerplate/templates
    (the complement of llm_repetition_profile's intra-doc signal and
    decontaminate's vs-eval-set signal).

    One shingle explode (shared formulation with the dedup family), one
    df aggregation on the shingle, one join back, one per-doc agg — the
    same sparse-shingle economics as ngram Jaccard minus the self-join,
    so no df cap is needed: cost is linear in total shingles.
    """
    from dblab_ece_trino_spark.operators.dedup import shingle_table

    sh = shingle_table(docs, id_col, text_col, n, "word")
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(df_counts, "shingle")
        .groupBy("sid")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.count_if(F.col("df") == 1).cast("long").alias("n_novel"),
        )
        .select(
            F.col("sid").alias(id_col),
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles")).alias(
                "novelty"
            ),
        )
    )


def _q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty(documents(spark, sf_dir))


register(
    "llm_ngram_novelty",
    _q_ngram_novelty,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS sid,
             array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1)))
                    AS i)
    ),
    dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT s.sid AS doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count_if(dfc.df = 1) AS BIGINT) AS n_novel,
           CAST(count_if(dfc.df = 1) AS DOUBLE) / count(*) AS novelty
    FROM sh s JOIN dfc ON s.shingle = dfc.shingle
    GROUP BY s.sid
    """,
)


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_corpus_df: int | None = None,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus (continual
    ingestion): for each batch doc whose word n-gram Jaccard with some
    corpus doc clears the threshold, emit its best corpus match
    (highest jaccard, lowest corpus id on ties).

    This is the incremental dual of ngram_jaccard_pairs' self-join: the
    shingle join is batch × corpus, so the cost is driven by the BATCH
    size — the shape that lets a 100 TB corpus absorb daily increments
    without re-deduping itself.  At scale the corpus shingle side is the
    standing index (bucketed by shingle on disk via
    sources/formats.write_bucketed, so the daily join needs no
    corpus-side shuffle).
    """
    from dblab_ece_trino_spark.operators.dedup import shingle_table

    shb = shingle_table(batch, id_col, text_col, n, "word")
    shc = shingle_table(corpus, id_col, text_col, n, "word")
    if max_corpus_df is not None:
        # stop-shingle cap by CORPUS document frequency: a shingle in
        # D_c corpus docs and D_b batch docs contributes D_b*D_c join
        # rows, so corpus-common shingles dominate as the corpus grows
        # (x10->x30 replica sets measure 3.5x time for 3x data with the
        # exact default).  Capping by corpus df restores batch-driven
        # cost; like the ngram cap it is a precision knob — jaccard is
        # then over the capped shingle universe on BOTH sides.
        hot = shc.groupBy("shingle").agg(F.count("*").alias("df"))
        keep = hot.filter(F.col("df") <= max_corpus_df).select("shingle")
        shb = shb.join(keep, "shingle")
        shc = shc.join(keep, "shingle")
    sb = shb.groupBy("sid").agg(F.count("*").alias("sz_b"))
    sc = shc.groupBy("sid").agg(F.count("*").alias("sz_c"))
    inter = (
        shb.alias("b")
        .join(shc.alias("c"), F.col("b.shingle") == F.col("c.shingle"))
        .groupBy(
            F.col("b.sid").alias("batch_id"), F.col("c.sid").alias("corpus_id")
        )
        .agg(F.count("*").alias("inter"))
    )
    scored = (
        inter.join(sb.withColumnRenamed("sid", "batch_id"), "batch_id")
        .join(sc.withColumnRenamed("sid", "corpus_id"), "corpus_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_b") + F.col("sz_c") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.col("jaccard").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("batch_id").cast("long"),
            F.col("corpus_id").cast("long").alias("best_corpus_id"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_dedup(batch, corpus)


register(
    "llm_incremental_dedup",
    _q_incremental_dedup,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS sid,
             array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1)))
                    AS i)
    ),
    shb AS (SELECT * FROM sh WHERE sid % 2 = 1),
    shc AS (SELECT * FROM sh WHERE sid % 2 = 0),
    sb AS (SELECT sid, count(*) AS sz_b FROM shb GROUP BY sid),
    sc AS (SELECT sid, count(*) AS sz_c FROM shc GROUP BY sid),
    inter AS (
      SELECT b.sid AS batch_id, c.sid AS corpus_id, count(*) AS inter
      FROM shb b JOIN shc c ON b.shingle = c.shingle
      GROUP BY b.sid, c.sid
    ),
    scored AS (
      SELECT i.batch_id, i.corpus_id,
             round(i.inter * 1.0 / (sb.sz_b + sc.sz_c - i.inter), 6)
               AS jaccard
      FROM inter i
      JOIN sb ON i.batch_id = sb.sid
      JOIN sc ON i.corpus_id = sc.sid
      WHERE round(i.inter * 1.0 / (sb.sz_b + sc.sz_c - i.inter), 6) >= 0.7
    )
    SELECT batch_id, corpus_id AS best_corpus_id, jaccard AS best_jaccard
    FROM (
      SELECT batch_id, corpus_id, jaccard,
             row_number() OVER (
               PARTITION BY batch_id
               ORDER BY jaccard DESC, corpus_id) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)


# ------------------------------------------------- curriculum ordering
def curriculum_order(
    docs: DataFrame,
    n_bins: int = 4,
    seed: str = "curriculum-v1",
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Curriculum training order: value-quantized difficulty bins
    (ascending score), deterministically shuffled WITHIN each bin —
    the standard easy-to-hard schedule with reproducible intra-bin
    order (md5(seed || id), the same content-addressed contract as
    ``train_order``).

    Global position without a global sort: the two-phase rank is
    ``train_order``'s, generalized to a composite (bin, hash-byte)
    bucket — per-bucket parallel row_numbers, then one broadcast
    running-sum over the n_bins x 256 bucket-count frame.  Ordering by
    (bin, bucket, hash) equals ordering by (bin, hash) because the
    bucket is the hash's first byte.  Bins are VALUE-quantized against
    the score max (one broadcast 1-row frame), not ntile — an
    equi-depth ntile would be a single-partition global window; value
    bins keep the whole plan shuffle-local and the curriculum semantics
    ("difficulty thresholds") are arguably the better contract anyway.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    # one bounded scalar action for the quantization ceiling (the
    # semantic_dedup count() precedent) — a broadcast 1-row join would
    # embed a second scan of docs in the based subtree and double it
    # again through both window consumers (4 scans in the plan census
    # vs train_order's 2; this form matches train_order)
    # None when docs is empty or the score column is all NULL — fall
    # back to 0 so the bin expression stays valid (every row then lands
    # in bin 0 / the frame is empty anyway)
    m = docs.agg(F.max(F.col(score_col).cast("long"))).collect()[0][0] or 0
    based = (
        docs.select(
            F.col(id_col),
            F.least(
                F.lit(n_bins - 1),
                F.expr(
                    f"(CAST({score_col} AS BIGINT) * {n_bins})"
                    f" div {m + 1}"
                ),
            ).cast("long").alias("bin"),
            h.alias("__h"),
        )
        .withColumn(
            "__b", F.conv(F.substring("__h", 1, 2), 16, 10).cast("int")
        )
    )
    wb = Window.partitionBy("bin", "__b").orderBy("__h")
    local = based.withColumn("__local", F.row_number().over(wb))
    counts = based.groupBy("bin", "__b").agg(F.count("*").alias("__n"))
    wo = Window.orderBy("bin", "__b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(wo), F.lit(0))
    ).select("bin", "__b", "__off")
    return local.join(F.broadcast(offsets), ["bin", "__b"]).select(
        id_col,
        "bin",
        (F.col("__local") + F.col("__off")).cast("long").alias("pos"),
    )


def _q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curriculum_order(documents(spark, sf_dir))


register(
    "llm_curriculum_order",
    _q_curriculum_order,
    oracle="""
    WITH mx AS (SELECT max(n_chars) AS m FROM documents),
    b AS (
      SELECT doc_id,
             least(3, (CAST(n_chars AS BIGINT) * 4) // (m + 1)) AS bin,
             md5('curriculum-v1' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents, mx
    )
    SELECT doc_id, bin,
           CAST(row_number() OVER (ORDER BY bin, h) AS BIGINT) AS pos
    FROM b
    """,
)


# --------------------------------------------------------- OOV / coverage
def oov_rate(
    docs: DataFrame,
    vocab_size: int = 500,
    text_col: str = "text",
    by_col: str = "source",
) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-``vocab_size`` word
    vocabulary (lowercased alpha tokens — the normalization is explicit
    because OOV is a statement about the tokenizer, not the corpus),
    then report each group's out-of-vocabulary token rate.

    The pre-training question this answers: which slices of a new 100 TB
    dump will shred into unknown tokens under the current tokenizer.
    Shape: one explode + keyed agg for the vocab candidates, a second
    for the per-group totals, and a BROADCAST anti-ish join of the token
    stream against the tiny vocab (the vocab is bounded by construction,
    so the join never shuffles the stream).  The vocab rank is
    PRE-PRUNED (the round-5 ADVICE item): the distinct-token frame
    grows with corpus vocabulary, so each partition first keeps its
    local top-``vocab_size`` under the same (tf DESC, w) order — every
    global top-V token is necessarily in its partition's local top-V,
    so the prune is exact — and only the ≤ V·partitions survivors
    enter the global ranking window.  Bounded state everywhere; ties
    at the cut break on the token text (deterministic).
    """
    toks = docs.select(
        F.col(by_col).alias("grp"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    per_tok = toks.groupBy("w").agg(F.count(F.lit(1)).alias("tf"))
    lw = Window.partitionBy("__p").orderBy(F.col("tf").desc(), F.col("w"))
    cand = (
        per_tok.withColumn("__p", F.spark_partition_id())
        .withColumn("__lrk", F.row_number().over(lw))
        .filter(F.col("__lrk") <= vocab_size)
        .drop("__p", "__lrk")
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("w"))
    vocab = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= vocab_size)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    tagged = toks.join(F.broadcast(vocab), "w", "left")
    return (
        tagged.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_pct",
            F.round(F.col("n_oov") / F.col("n_tokens") * 100, 4),
        )
        .orderBy("grp")
        .select(F.col("grp").alias("source"), "n_tokens", "n_oov", "oov_pct")
    )


def _q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return oov_rate(documents(spark, sf_dir))


register(
    "llm_oov_rate",
    _q_oov_rate,
    oracle=r"""
    WITH toks AS (
      SELECT d.source AS grp, t.w AS w
      FROM documents d,
           unnest(regexp_extract_all(lower(d.text), '[a-z]+')) AS t(w)
    ),
    per_tok AS (
      SELECT w, count(*) AS tf FROM toks GROUP BY w
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, row_number() OVER (ORDER BY tf DESC, w) AS rk FROM per_tok
      ) r WHERE rk <= 500
    )
    SELECT t.grp AS source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                 / count(*) * 100, 4) AS oov_pct
    FROM toks t LEFT JOIN vocab v ON v.w = t.w
    GROUP BY t.grp
    ORDER BY t.grp
    """,
)


# ------------------------------------------------ contrastive negatives
def negative_pairs(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive
    training: each document draws ``k`` pseudo-random partner documents
    via the md5 discipline (draw_i(d) = md5int8('neg-i:' || d) mod n,
    bumped by one when it lands on d's own rank).

    No RNG state: the pair set is a pure function of the corpus, so
    re-runs, retries, and different partitionings emit the same pairs —
    the property that makes a 100 TB contrastive dataset reproducible.
    Two round-5 ADVICE hardenings: the fold is EIGHT hex digits
    (~4.3e9 values, the sample_poisson_bootstrap discipline) before
    the mod, so uniformity holds far beyond 65536-document corpora;
    and draws index a RANK frame (two-level sharded row_number over
    doc_id — the llm_budget_select discipline, no single-partition
    window) instead of assuming ids dense in [0, n), so sparse or
    non-contiguous id spaces always resolve to an existing partner.
    Shape: one count (bounded driver scalar), one range shuffle + one
    per-shard window to build the id<->rank map, a k-way explode, and
    one equi-join on partner rank (both sides are the 2-long-column
    metadata-thin rank frame).  Collision policy: the +1 bump
    preserves uniformity up to one slot and never needs a retry loop.
    """
    from pyspark.sql import Window

    from dblab_ece_trino_spark.session import materialize

    n = docs.count()
    if n < 2:
        return docs.sparkSession.createDataFrame(
            [], "doc_id long, neg_rank int, partner_id long"
        )
    from dblab_ece_trino_spark.operators.sketches import hexint_col

    shards = min(32, n)
    sharded = materialize(
        docs.select(F.col(id_col).alias("doc_id"))
        .repartitionByRange(shards, "doc_id")
        .withColumn("__shard", F.spark_partition_id())
    )
    counts = sharded.groupBy("__shard").agg(F.count("*").alias("__c"))
    offs = (
        counts.alias("a")
        .join(counts.alias("b"), F.col("b.__shard") < F.col("a.__shard"), "left")
        .groupBy(F.col("a.__shard").alias("__shard"))
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__off"))
    )
    ranks = materialize(
        sharded.withColumn(
            "__lr",
            F.row_number().over(Window.partitionBy("__shard").orderBy("doc_id")),
        )
        .join(F.broadcast(offs), "__shard")
        .withColumn("rk", (F.col("__off") + F.col("__lr") - 1).cast("long"))
        .select("doc_id", "rk")
    )
    draws = ranks.select(
        "doc_id",
        "rk",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("neg_rank"),
    )
    draw = hexint_col(
        F.concat(
            F.lit("neg-"),
            F.col("neg_rank").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        ),
        digits=8,
    )
    raw = draw % F.lit(n)
    partner_rk = F.when(raw == F.col("rk"), (raw + 1) % F.lit(n)).otherwise(raw)
    sel = draws.select(
        "doc_id",
        F.col("neg_rank").cast("int").alias("neg_rank"),
        partner_rk.cast("long").alias("__prk"),
    )
    return (
        sel.join(
            ranks.select(
                F.col("rk").alias("__prk"), F.col("doc_id").alias("partner_id")
            ),
            "__prk",
        )
        .select("doc_id", "neg_rank", "partner_id")
        .orderBy("doc_id", "neg_rank")
    )


def _q_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded id-slice for a constant-size graded result; the rank frame
    # (partner map) is built over the FULL corpus before this slice is
    # applied, so each doc's drawn partner is identical to what the
    # unsliced op would emit — the slice is exactly the full op's first
    # rows
    return negative_pairs(documents(spark, sf_dir)).filter(F.col("doc_id") < 40)


def _negative_pairs_oracle() -> str:
    from dblab_ece_trino_spark.operators.sketches import hexint_digits_sql

    hexint = hexint_digits_sql("h", 8)
    return f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    ranks AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS rk
      FROM documents
    ),
    draws AS (
      SELECT d.doc_id, d.rk, r.i AS neg_rank,
             md5(concat('neg-', CAST(r.i AS STRING), ':',
                        CAST(d.doc_id AS STRING))) AS h
      FROM ranks d CROSS JOIN (VALUES (0), (1), (2)) r(i)
      WHERE d.doc_id < 40
    ),
    raws AS (
      SELECT doc_id, rk, neg_rank, {hexint} % (SELECT n FROM nn) AS raw
      FROM draws
    ),
    sel AS (
      SELECT doc_id, CAST(neg_rank AS INT) AS neg_rank,
             CASE WHEN raw = rk
                  THEN (raw + 1) % (SELECT n FROM nn)
                  ELSE raw END AS prk
      FROM raws
    )
    SELECT s.doc_id, s.neg_rank, CAST(m.doc_id AS BIGINT) AS partner_id
    FROM sel s JOIN ranks m ON m.rk = s.prk
    ORDER BY s.doc_id, s.neg_rank
    """


register("llm_negative_pairs", _q_negative_pairs, oracle=_negative_pairs_oracle())


# ------------------------------------------- temperature-damped mixing
def _register_temperature_mix() -> None:
    """Temperature-damped source rebalancing (the multilingual-corpus
    technique: sample probability ∝ w^(1/T) flattens the size
    distribution so small sources aren't drowned) with T = 2, i.e.
    sqrt damping — chosen deliberately because IEEE sqrt is CORRECTLY
    ROUNDED on every platform, so both engines compute bit-identical
    damped weights (pow(x, 1/T) for general T is only ~1-ulp accurate
    and could flip a threshold; the normalizer, a 20-value sum, is
    rounded to 6 before use for the same reason).

    Per-document keep decision is the md5 16-bit draw vs the source's
    integer threshold floor(rate * 65536) — reproducible under any
    partitioning, no RNG.  The realized rate deviates from the target
    only by the 2^-16 threshold granularity (documented, not silent).
    Shape: one tiny per-source agg (broadcast back), one projection —
    the same economics as llm_domain_mix's exact-proportion form; this
    op is the probabilistic temperature variant used when sources are
    too many or too skewed for integer quotas.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.operators.sketches import hexint_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    draw = hexint_sql("doc_id", "tmix-", 4)
    # target total = half the corpus; rate_s = min(1, q_s * N/2 / w_s)
    tpl = f"""
    WITH w AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM {{documents}} GROUP BY source
    ),
    norm AS (
      SELECT CAST(round(sum(sqrt(CAST(n_docs AS DOUBLE))), 6) AS DOUBLE)
               AS z,
             CAST(sum(n_docs) AS BIGINT) AS n_total
      FROM w
    ),
    rates AS (
      SELECT w.source, w.n_docs,
             CAST(floor(least(
               sqrt(CAST(w.n_docs AS DOUBLE)) / nm.z
                 * (CAST(nm.n_total AS DOUBLE) / 2) / w.n_docs,
               CAST(1.0 AS DOUBLE)) * 65536) AS BIGINT) AS keep_thresh
      FROM w CROSS JOIN norm nm
    ),
    kept AS (
      SELECT d.source, r.keep_thresh,
             CASE WHEN {draw} < r.keep_thresh THEN 1 ELSE 0 END AS keep
      FROM {{documents}} d JOIN rates r ON r.source = d.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           keep_thresh
    FROM kept
    GROUP BY source, keep_thresh
    ORDER BY source
    """
    register_sql(
        "llm_temperature_mix",
        tpl.format(**_SPARK_TABLES),
        tpl.format(**_ORACLE_TABLES),
    )


_register_temperature_mix()


# -------------------------------------------- span-corruption planning
def _register_span_corruption() -> None:
    """T5-style span-corruption mask planning: for each document pick
    ~15% of token positions as corruption spans of length 3, spans
    chosen by deterministic md5 ranking — the mask layout a denoising
    pretraining run needs, computed relationally (no per-doc Python).

    Mechanics: positions 0..n-1 explode from the token count; each
    position draws an md5 rank; the ceil(0.15·n/3) lowest-ranked
    positions become span STARTS; a position is masked when ANY start
    covers it (start <= pos < start+3) — realized as a 3-offset explode
    of the starts + DISTINCT, so overlapping spans are counted once
    (documented, matches the reference implementation's behavior of
    merging overlaps).  Everything is exact integers; the graded slice
    is doc_id < 30.

    Scale shape: the explode is the tokenization cost itself (linear in
    corpus tokens); span selection is a per-doc window over the
    position frame (bounded by doc length), one shuffle on doc_id.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    draw = (
        "md5(concat('span-', CAST(doc_id AS STRING), ':',"
        " CAST(pos AS STRING)))"
    )
    tpl = f"""
    WITH toks AS (
      SELECT doc_id, {{tokcount}} AS n_tokens
      FROM {{documents}} WHERE doc_id < 30
    ),
    pos AS (
      SELECT doc_id, n_tokens, {{posgen}} AS pos
      FROM toks
    ),
    ranked AS (
      SELECT doc_id, n_tokens, pos,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY {draw}, pos
             ) AS rk,
             CAST(ceil(0.15 * n_tokens / 3) AS BIGINT) AS n_spans
      FROM pos
    ),
    starts AS (
      SELECT doc_id, n_tokens, n_spans, pos AS start
      FROM ranked WHERE rk <= n_spans
    ),
    masked AS (
      SELECT DISTINCT s.doc_id, s.n_tokens, s.n_spans,
             s.start + o.off AS mpos
      FROM starts s CROSS JOIN (VALUES (0), (1), (2)) o(off)
      WHERE s.start + o.off < s.n_tokens
    )
    SELECT doc_id,
           CAST(max(n_tokens) AS BIGINT) AS n_tokens,
           CAST(max(n_spans) AS BIGINT) AS n_spans,
           CAST(count(*) AS BIGINT) AS n_masked,
           CAST(sum(mpos) AS BIGINT) AS masked_pos_sum
    FROM masked
    GROUP BY doc_id
    ORDER BY doc_id
    """
    spark_sql = (
        tpl.replace("{tokcount}", r"size(split(trim(text), '\\s+'))")
        .replace("{posgen}", "explode(sequence(0, n_tokens - 1))")
        .format(**_SPARK_TABLES)
    )
    oracle_sql = (
        tpl.replace("{tokcount}", r"len(regexp_split_to_array(trim(text), '\s+'))")
        .replace("{posgen}", "unnest(generate_series(0, n_tokens - 1))")
        .format(**_ORACLE_TABLES)
    )
    register_sql("llm_span_corruption", spark_sql, oracle_sql)


_register_span_corruption()


def _register_fim_transform() -> None:
    """Fill-in-the-middle (FIM) split planning: for every document, two
    md5-derived character cut points define (prefix, middle, suffix)
    spans, and an md5 parity bit picks the PSM / SPM reassembly mode —
    the standard code-model pretraining transform (Bavarian et al. 2022)
    expressed as one relational projection.

    Like llm_span_corruption this plans the transform relationally and
    emits span geometry plus the extracted middle snippet; the actual
    token-level reassembly happens in the training loader.  Every
    derived quantity is exact integer arithmetic on md5 hex folds
    (operators/sketches.hexint_sql), so both engines agree bit-for-bit:
    cut points are hash folds modulo (len+1), span lengths are integer
    differences, eligibility (>= 64 chars and a non-empty middle) is an
    integer predicate, and the snippet is substr() — identical 1-based
    semantics on Spark and DuckDB, degrading to '' at zero length on
    both.

    Scale: a single stateless scan-projection over documents — no
    shuffle, no join; Catalyst prunes to (doc_id, text).  At 100 TB this
    is the ideal map-only shape.
    """
    from dblab_ece_trino_spark.operators.registry import register_sql
    from dblab_ece_trino_spark.operators.sketches import hexint_sql
    from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

    c1 = hexint_sql("doc_id", "fimcut1", 5)
    c2 = hexint_sql("doc_id", "fimcut2", 5)
    cm = hexint_sql("doc_id", "fimmode", 4)
    tpl = f"""
    WITH spans AS (
      SELECT doc_id, text,
             CAST(length(text) AS BIGINT) AS n,
             ({c1}) % (CAST(length(text) AS BIGINT) + 1) AS cut1,
             ({c2}) % (CAST(length(text) AS BIGINT) + 1) AS cut2,
             ({cm}) % 2 AS mflip
      FROM {{documents}}
    ),
    o AS (
      SELECT doc_id, text, n,
             least(cut1, cut2) AS lo,
             greatest(cut1, cut2) AS hi,
             CASE WHEN mflip = 0 THEN 'psm' ELSE 'spm' END AS fim_mode
      FROM spans
    )
    SELECT doc_id, fim_mode,
           n AS n_chars,
           lo AS prefix_len,
           hi - lo AS middle_len,
           n - hi AS suffix_len,
           CASE WHEN n >= 64 AND hi - lo > 0 THEN 1 ELSE 0 END AS eligible,
           substr(text, CAST(lo + 1 AS INT),
                  CAST(least(hi - lo, 40) AS INT)) AS middle_preview
    FROM o
    ORDER BY doc_id
    """
    register_sql(
        "llm_fim_transform",
        tpl.format(**_SPARK_TABLES),
        tpl.format(**_ORACLE_TABLES),
    )


_register_fim_transform()


def quantile_normalize(
    docs,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    group_col: str = "source",
    shards: int = 32,
):
    """Cross-source quantile normalization: map each source's score
    distribution onto the GLOBAL score distribution (the microarray
    quantile-normalization recipe applied to corpus curation — put
    every source's quality heuristic on one comparable scale before
    mixing/thresholding, so a source whose scorer runs hot cannot crowd
    out the others).

    A doc at within-source rank r of m maps to the global value at rank
    ceil(r*N/m) — all integer arithmetic over unique (score, id) total
    orders, so both engines agree exactly.  The global rank is the
    two-level sharded form (range-repartition -> per-shard row_number +
    broadcast shard offsets — equidepth_histogram's machinery): no
    single-partition window anywhere, the llm_budget_select discipline.
    The per-source rank is an ordinary partitioned window (parallel by
    construction).  One range shuffle + one window pass + a self-join
    on the tiny rank key; the ranked frame is materialized because the
    target lookup re-reads it.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.session import materialize

    base = docs.select(id_col, group_col, score_col)
    sharded = materialize(
        base.repartitionByRange(shards, F.col(score_col), F.col(id_col))
        .withColumn("__shard", F.spark_partition_id())
    )
    counts = sharded.groupBy("__shard").agg(F.count("*").alias("__c"))
    offs = (
        counts.alias("a")
        .join(counts.alias("b"), F.col("b.__shard") < F.col("a.__shard"), "left")
        .groupBy(F.col("a.__shard").alias("__shard"))
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__off"))
    )
    total = counts.agg(F.sum("__c").alias("__n")).withColumn("__k", F.lit(1))
    w = Window.partitionBy("__shard").orderBy(score_col, id_col)
    g = materialize(
        sharded.withColumn("__lr", F.row_number().over(w))
        .join(F.broadcast(offs), "__shard")
        .withColumn("gr", (F.col("__off") + F.col("__lr")).cast("long"))
        .drop("__shard", "__lr", "__off")
    )
    sw = Window.partitionBy(group_col).orderBy(score_col, id_col)
    cw = Window.partitionBy(group_col)
    tgt = (
        g.withColumn("src_rank", F.row_number().over(sw).cast("long"))
        .withColumn("__m", F.count(F.lit(1)).over(cw))
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(total), "__k")
        .withColumn(
            "target_rank",
            F.expr("CAST((src_rank * __n + __m - 1) div __m AS BIGINT)"),
        )
    )
    lookup = g.select(
        F.col("gr").alias("target_rank"),
        F.col(score_col).alias("__norm"),
    )
    return (
        tgt.join(lookup, "target_rank")
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(score_col).cast("long").alias("raw_score"),
            "src_rank",
            "target_rank",
            F.col("__norm").cast("long").alias("norm_score"),
        )
        .orderBy(id_col)
    )


def _register_quantile_normalize() -> None:
    from pyspark.sql import DataFrame, SparkSession

    from dblab_ece_trino_spark.operators.registry import register

    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = documents(spark, sf_dir)
        return quantile_normalize(docs)

    register(
        "llm_quantile_normalize",
        _q,
        oracle="""
    WITH g AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS m,
             row_number() OVER (ORDER BY n_chars, doc_id) AS gr,
             count(*) OVER () AS n
      FROM documents
    )
    SELECT t.doc_id, t.source,
           CAST(t.n_chars AS BIGINT) AS raw_score,
           CAST(t.r AS BIGINT) AS src_rank,
           CAST((t.r * t.n + t.m - 1) // t.m AS BIGINT) AS target_rank,
           CAST(g2.n_chars AS BIGINT) AS norm_score
    FROM g t JOIN g g2 ON g2.gr = (t.r * t.n + t.m - 1) // t.m
    ORDER BY t.doc_id
    """,
    )


_register_quantile_normalize()


# ---------------------------------------------- sequence packing (round 9)
def sequence_pack(
    docs: DataFrame,
    ctx: int = 512,
    seed: str = "pack-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing: documents are laid
    end-to-end in a deterministic content-addressed order (md5(seed ||
    id), the same reproducibility contract as ``train_order``) and the
    token stream is cut into fixed ``ctx``-token context windows that
    CROSS document boundaries.  Returns one row per context window:
    how many documents overlap it, how many start in it, its filled
    token count (= ctx everywhere but the tail window), and the
    earliest document in it — the stats a packing QA step audits
    (boundary-crossing rate drives attention-mask design).

    Shape at 100 TB: the global token offset is the two-phase rank used
    everywhere in this module — per-bucket prefix sums over the md5's
    first byte (256 parallel windows), bucket offsets from one 256-row
    running sum broadcast back — never a single-partition window.  The
    doc->window explode emits ceil(tok/ctx)+1 rows per doc (total work
    ∝ corpus tokens / ctx) and the final groupBy shuffles one narrow
    row per (doc, window) overlap.  The narrow (id, hash, tokens) frame
    is materialized once because both the window branch and the bucket
    totals consume it.
    """
    from dblab_ece_trino_spark.session import materialize

    based = materialize(
        docs.select(
            F.col(id_col),
            F.md5(
                F.concat(F.lit(seed), F.col(id_col).cast("string"))
            ).alias("__h"),
            F.size(_toks(F.col(text_col))).cast("long").alias("__tok"),
        )
        .filter(F.col("__tok") > 0)
        .withColumn(
            "__b", F.conv(F.substring("__h", 1, 2), 16, 10).cast("int")
        )
    )
    wb = Window.partitionBy("__b").orderBy("__h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = based.withColumn(
        "__local_off", F.coalesce(F.sum("__tok").over(wb), F.lit(0))
    )
    counts = based.groupBy("__b").agg(F.sum("__tok").alias("__n"))
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(wo), F.lit(0))
    ).select("__b", "__off")
    placed = local.join(F.broadcast(offsets), "__b").withColumn(
        "__goff", F.col("__off") + F.col("__local_off")
    )
    exploded = placed.select(
        F.col(id_col),
        "__goff",
        "__tok",
        F.explode(
            F.sequence(
                F.expr(f"__goff DIV {ctx}"),
                F.expr(f"(__goff + __tok - 1) DIV {ctx}"),
            )
        ).alias("chunk_id"),
    )
    lo = F.greatest(F.col("chunk_id") * ctx, F.col("__goff"))
    hi = F.least(
        (F.col("chunk_id") + 1) * ctx, F.col("__goff") + F.col("__tok")
    )
    return (
        exploded.groupBy("chunk_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    F.expr(f"__goff DIV {ctx}") == F.col("chunk_id"), 1
                ).otherwise(0)
            ).cast("long").alias("n_starts"),
            F.sum(hi - lo).cast("long").alias("tok_filled"),
            F.min_by(F.col(id_col), F.col("__goff")).alias("first_doc"),
        )
    )


def _q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequence_pack(documents(spark, sf_dir))


register(
    "llm_sequence_pack",
    _q_sequence_pack,
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             md5('pack-v1' || CAST(doc_id AS VARCHAR)) AS h,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS tok
      FROM documents
      WHERE len(regexp_split_to_array(trim(text), '\s+')) > 0
    ),
    placed AS (
      SELECT doc_id, tok,
             CAST(COALESCE(SUM(tok) OVER (
               ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS goff
      FROM base
    ),
    ex AS (
      SELECT doc_id, tok, goff,
             unnest(generate_series(goff // 512, (goff + tok - 1) // 512))
               AS chunk_id
      FROM placed
    )
    SELECT chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN goff // 512 = chunk_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_starts,
           CAST(sum(least((chunk_id + 1) * 512, goff + tok)
                    - greatest(chunk_id * 512, goff)) AS BIGINT)
             AS tok_filled,
           arg_min(doc_id, goff) AS first_doc
    FROM ex
    GROUP BY chunk_id
    """,
)


# ------------------------------------------------- duplicated-span coverage
def _dupspan_islands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Merged duplicated-span islands at (doc, island) grain — the
    machinery shared VERBATIM by ``dup_span_coverage`` (measures) and
    ``dup_span_removal`` (cuts): position-anchored word n-grams
    md5-folded to 48-bit ints, document-frequency >= 2, per-document
    gaps-and-islands interval union.  Returns one row per island:
    (id_col, island, s = min anchor pos, m = max anchor pos,
    ng = anchor count) — everything either consumer derives its
    interval set or coverage sums from.  Islands are STRICTLY disjoint
    and non-adjacent by construction: a new island requires
    gap > n, so the next island's start exceeds the previous interval
    end (s_next > m_prev + n = e_prev) — the complement-slice cut and
    the disjoint-sum coverage both rely on exactly this.
    """
    from dblab_ece_trino_spark.operators.sketches import hexint_col
    from dblab_ece_trino_spark.session import materialize

    toks = docs.select(
        F.col(id_col), _toks(F.col(text_col)).alias("arr")
    ).select(
        id_col, "arr", F.size("arr").cast("long").alias("n_tokens")
    )
    grams = materialize(
        toks.filter(F.col("n_tokens") >= n)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(0), (F.col("n_tokens") - n).cast("int"))
            ).alias("pos"),
            F.col("arr"),
        )
        .select(
            id_col,
            "pos",
            hexint_col(
                F.concat(
                    F.lit("dsc:"),
                    F.concat_ws(" ", F.slice(F.col("arr"), F.col("pos") + 1, n)),
                ),
                12,
            ).alias("h"),
        )
    )
    dup = (
        grams.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    anchors = grams.join(dup, "h").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    run = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = (
        anchors.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > n),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("brk").over(run))
    )
    return isl.groupBy(id_col, "island").agg(
        F.min("pos").cast("long").alias("s"),
        F.max("pos").cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("ng"),
    )


@shared_build(consumers=("llm_dup_span_coverage", "llm_dup_span_removal"))
def shared_dupspan_islands(
    spark: SparkSession, sf_dir: str, n: int = 8
) -> DataFrame:
    """ONE duplicated-span island build cached per (session, sf_dir, n)
    — the shared_shingle_index / shared_price_cum precedent (round-17
    optimization, guide §2.4: remove shuffles outright).
    ``llm_dup_span_coverage`` and ``llm_dup_span_removal`` built
    IDENTICAL gram / df-count / anchor-join / island-window chains
    independently (the dominant stages of both entries: one md5 per
    corpus token into a countDistinct shuffle), for bit-identical
    island frames — the measurement half and the removal half of Lee
    et al. 2022 exact-substring dedup are DEFINED over the same island
    set.  At 100 TB the duplicated-span index is corpus metadata built
    once per corpus version and consumed by every
    coverage-report/removal pass — the same production shape as the
    shared minhash/shingle builds.  Deterministic construction
    (md5-folded grams, exact integer window arithmetic) makes reuse
    value-identical for every consumer; the returned island frame
    (bounded by anchor count, far below token count) is materialized
    so cached references stay valid for the life of the session.
    """
    from dblab_ece_trino_spark.session import materialize

    return materialize(_dupspan_islands(documents(spark, sf_dir), n=n))


def dup_span_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    islands: DataFrame | None = None,
) -> DataFrame:
    """Per-document coverage by cross-document duplicated n-gram spans —
    the measurement half of exact-substring training-data dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better": spans of >= n tokens occurring verbatim in more than one
    document are the removal unit).  For every position-anchored word
    n-gram that appears in >= 2 distinct documents, the covered token
    interval is [pos, pos + n); per document those intervals are merged
    (gaps-and-islands over the sorted anchor positions — an island
    breaks when the next anchor starts past the previous interval's
    end, i.e. gap > n) and the output reports exact duplicated-token
    coverage next to the document's token count.

    100 TB shape: one row per corpus token into a bigint-keyed
    aggregation (grams are md5-folded to 48-bit ints at extraction —
    the shuffle carries 8-byte keys, never gram strings), one shuffle
    join back to the anchor frame, then per-document windows whose
    partitions are bounded by document length.  No driver-side state;
    every column integer, so the driver value-hash replays exactly.

    Round-17: the gram/df-count/anchor/island machinery lives in
    ``_dupspan_islands`` and is SHARED with ``dup_span_removal`` via
    ``shared_dupspan_islands`` (the two ops consume the identical
    island frame); this function keeps only the coverage readout —
    per-island cov_len = m - s + n summed per document (islands are
    disjoint, so the sum is the exact merged-interval coverage, the
    same integers the per-island groupBy produced before).

    PROVENANCE CONTRACT: an injected ``islands`` frame MUST come from
    ``_dupspan_islands`` (directly or via ``shared_dupspan_islands``)
    over the same docs, ``id_col``, ``text_col`` and ``n`` — nothing
    validates that here, and a mismatched injection silently yields
    wrong dup_tokens.
    """
    toks = docs.select(
        F.col(id_col),
        F.size(_toks(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    if islands is None:
        islands = _dupspan_islands(docs, id_col, text_col, n)
    per_doc = islands.groupBy(id_col).agg(
        F.sum("ng").cast("long").alias("n_dup_grams"),
        F.sum(F.col("m") - F.col("s") + n).cast("long").alias("dup_tokens"),
    )
    return (
        toks.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias(
                "n_dup_grams"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
        )
        .orderBy(id_col)
    )


def _q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_span_coverage(
        documents(spark, sf_dir), islands=shared_dupspan_islands(spark, sf_dir)
    )


def _dup_span_oracle() -> str:
    from dblab_ece_trino_spark.operators.sketches import hexint_digits_sql

    fold = hexint_digits_sql("md5('dsc:' || gram)", 12)
    return rf"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents
    ),
    g AS MATERIALIZED (
      SELECT doc_id, i AS pos, {fold} AS h
      FROM (
        SELECT doc_id, i,
               array_to_string(list_slice(arr, i + 1, i + 8), ' ') AS gram
        FROM toks, unnest(generate_series(0, len(arr) - 8)) AS r(i)
        WHERE len(arr) >= 8
      ) t
    ),
    dup AS (
      SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    anchors AS (
      SELECT g.doc_id, g.pos FROM g JOIN dup ON dup.h = g.h
    ),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
      FROM anchors
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ),
    cov AS (
      SELECT doc_id, island,
             CAST(max(pos) - min(pos) + 8 AS BIGINT) AS cov_len,
             CAST(count(*) AS BIGINT) AS ng
      FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, CAST(sum(ng) AS BIGINT) AS n_dup_grams,
             CAST(sum(cov_len) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.arr) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens
    FROM toks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    ORDER BY t.doc_id
    """


register(
    "llm_dup_span_coverage",
    _q_dup_span_coverage,
    oracle=_dup_span_oracle(),
)


# --------------------------------------- duplicated-span REMOVAL (dedup)
def dup_span_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    islands: DataFrame | None = None,
) -> DataFrame:
    """The REMOVAL half of exact-substring training-data dedup (Lee et
    al. 2022): cut every cross-document duplicated span found by
    ``dup_span_coverage`` and emit the deduped text.  Reuses the exact
    coverage machinery — position-anchored word n-grams md5-folded to
    48-bit keys, document-frequency >= 2, gaps-and-islands interval
    union per document (``_dupspan_islands``, shared with the coverage
    op via ``shared_dupspan_islands``) — then drops the covered token
    positions and reassembles the survivors in order.
    ``removed_tokens`` reconciles with coverage's ``dup_tokens`` by
    construction (pinned in pytest).

    100 TB shape: identical economics to the coverage op (8-byte keys
    in the shuffle, per-document windows bounded by document length)
    plus ONE extra per-document step: the merged-interval array joins
    back to the token array and the cut is a JVM-side higher-order
    ``filter``/``transform`` over positions — no shuffle carries token
    strings except the final per-document reassembly, and no Python
    touches a row.  Islands are disjoint by construction, so the
    position test scans a bounded interval list per token.

    The cut expression was A/B'd in round 17 and deliberately KEPT
    (guide §1: measure first): on the shared islands the per-position
    HOF cut runs 0.54 s isolated at sf0.1 vs 1.21 s for an Arrow
    mapInPandas mask kernel (the boundary ships every token array to
    Python) and 3.01 s for a complement-slice zip_with/slice rewrite
    (interpreted lambda slices allocate per gap) — the
    O(tokens × islands) worry is theoretical here because merged
    islands per document are near 1, so the exists() scan is
    effectively O(tokens) integer compares.

    PROVENANCE CONTRACT: an injected ``islands`` frame MUST come from
    ``_dupspan_islands`` (directly or via ``shared_dupspan_islands``)
    over the same docs, ``id_col``, ``text_col`` and ``n`` — nothing
    validates that here, and a mismatched injection silently yields
    wrong dedup_text.
    """
    toks = docs.select(
        F.col(id_col), _toks(F.col(text_col)).alias("arr")
    ).select(
        id_col, "arr", F.size("arr").cast("long").alias("n_tokens")
    )
    if islands is None:
        islands = _dupspan_islands(docs, id_col, text_col, n)
    ivs = islands.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("s"), (F.col("m") + n).cast("long").alias("e"))
        ).alias("ivs")
    )
    cut = (
        toks.join(ivs, id_col, "left")
        .withColumn(
            "ivs",
            F.coalesce(
                "ivs",
                F.expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)"),
            ),
        )
        .withColumn(
            "kept_pos",
            F.expr(
                "filter(sequence(0, size(arr) - 1),"
                " i -> NOT exists(ivs, v -> i >= v.s AND i < v.e))"
            ),
        )
    )
    return cut.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.size("kept_pos").cast("long").alias("kept_tokens"),
        (F.col("n_tokens") - F.size("kept_pos")).cast("long").alias(
            "removed_tokens"
        ),
        F.expr(
            "concat_ws(' ', transform(kept_pos,"
            " i -> element_at(arr, CAST(i + 1 AS int))))"
        ).alias("dedup_text"),
    ).orderBy(id_col)


def _q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_span_removal(
        documents(spark, sf_dir), islands=shared_dupspan_islands(spark, sf_dir)
    )


def _dup_span_removal_oracle() -> str:
    from dblab_ece_trino_spark.operators.sketches import hexint_digits_sql

    fold = hexint_digits_sql("md5('dsc:' || gram)", 12)
    return rf"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents
    ),
    g AS MATERIALIZED (
      SELECT doc_id, i AS pos, {fold} AS h
      FROM (
        SELECT doc_id, i,
               array_to_string(list_slice(arr, i + 1, i + 8), ' ') AS gram
        FROM toks, unnest(generate_series(0, len(arr) - 8)) AS r(i)
        WHERE len(arr) >= 8
      ) t
    ),
    dup AS (
      SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    anchors AS (
      SELECT g.doc_id, g.pos FROM g JOIN dup ON dup.h = g.h
    ),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
      FROM anchors
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ),
    iv AS (
      SELECT doc_id, island, min(pos) AS s, max(pos) + 8 AS e
      FROM isl GROUP BY doc_id, island
    ),
    covered AS (
      SELECT doc_id, p AS pos
      FROM iv, unnest(generate_series(s, e - 1)) AS u(p)
    ),
    pos_all AS (
      SELECT doc_id, i AS pos, arr[i + 1] AS tok
      FROM toks, unnest(generate_series(0, len(arr) - 1)) AS r(i)
    ),
    kept AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM pos_all p LEFT JOIN covered c
        ON c.doc_id = p.doc_id AND c.pos = p.pos
      WHERE c.pos IS NULL
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS kept_tokens,
             coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS dedup_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.arr) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(len(t.arr) - coalesce(a.kept_tokens, 0) AS BIGINT)
               AS removed_tokens,
           coalesce(a.dedup_text, '') AS dedup_text
    FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
    ORDER BY t.doc_id
    """


register(
    "llm_dup_span_removal",
    _q_dup_span_removal,
    oracle=_dup_span_removal_oracle(),
)


# ------------------------------------------------- padding-waste audit
def pad_waste(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length-bucketed batching padding audit: assign every document to
    its power-of-two token-length bucket and report, per bucket, the
    exact padding overhead of three batching policies: pad to the
    bucket's power-of-two ceiling (static shapes, the XLA/TPU bucketing
    cost — may exceed the unbucketed cost in the top bucket, whose
    ceiling can pass the corpus max), pad to the bucket's own max
    length (dynamic batching within buckets — always the cheapest), and
    pad every sequence to the corpus max (unbucketed baseline) — the
    standard justification artifact for length-bucketed batch
    construction in LLM training/inference pipelines.

    100 TB shape: exactly ONE fact pass — the per-bucket aggregation
    (map-side combinable, ~log2(max_len) output rows) also carries each
    bucket's max token count, so the corpus max needed for the
    unbucketed column is an unpartitioned window over the ~17-row
    bucket frame, never a second scan.  The bucket ceiling is computed
    with integer bit arithmetic (length of the binary representation of
    tok-1), identical on both engines — no float log2 anywhere.
    """
    toks = docs.select(
        F.size(_toks(F.col(text_col))).cast("long").alias("tok")
    ).filter(F.col("tok") >= 1)
    cap = F.when(F.col("tok") == 1, F.lit(1).cast("long")).otherwise(
        F.expr("shiftleft(1L, length(bin(tok - 1)))").cast("long")
    )
    b = toks.groupBy(cap.alias("cap_tokens")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("sum_tokens"),
        F.max("tok").cast("long").alias("mx"),
    )
    w = Window.partitionBy()
    return (
        b.withColumn("gmax", F.max("mx").over(w))
        .select(
            "cap_tokens",
            "n_docs",
            "sum_tokens",
            (F.col("n_docs") * F.col("cap_tokens") - F.col("sum_tokens"))
            .cast("long")
            .alias("pad_ceiling"),
            (F.col("n_docs") * F.col("mx") - F.col("sum_tokens"))
            .cast("long")
            .alias("pad_bucket_max"),
            (F.col("n_docs") * F.col("gmax") - F.col("sum_tokens"))
            .cast("long")
            .alias("pad_unbucketed"),
        )
        .orderBy("cap_tokens")
    )


def _q_pad_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pad_waste(documents(spark, sf_dir))


register(
    "llm_pad_waste",
    _q_pad_waste,
    oracle=r"""
    WITH t AS (
      SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS tok
      FROM documents
      WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 1
    ),
    b AS MATERIALIZED (
      SELECT CASE WHEN tok = 1 THEN CAST(1 AS BIGINT)
                  ELSE CAST(CAST(1 AS BIGINT) << length(bin(tok - 1))
                            AS BIGINT) END AS cap_tokens,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS sum_tokens,
             CAST(max(tok) AS BIGINT) AS mx
      FROM t GROUP BY 1
    )
    SELECT cap_tokens, n_docs, sum_tokens,
           CAST(n_docs * cap_tokens - sum_tokens AS BIGINT) AS pad_ceiling,
           CAST(n_docs * mx - sum_tokens AS BIGINT) AS pad_bucket_max,
           CAST(n_docs * (SELECT max(mx) FROM b) - sum_tokens AS BIGINT)
             AS pad_unbucketed
    FROM b
    ORDER BY cap_tokens
    """,
)


# --------------------------------------------- SFT chat-template assembly (r12)
SFT_PROMPT_WORDS = 12
SFT_RESP_CAP = 120


def sft_format(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Instruction-tuning data assembly: render each document into a
    chat-template (prompt, completion) pair — the deterministic string
    transform every SFT pipeline runs between curation and
    tokenization — and audit the result per source.  The first
    ``SFT_PROMPT_WORDS`` words become the user turn, the remainder the
    assistant turn capped at ``SFT_RESP_CAP`` words (truncation is the
    stat SFT QA watches: over-truncated sources mean the cap is eating
    completions).  The rendered text itself is value-checked across
    engines via a per-row md5 fold SUMMED per source — a content
    checksum the oracle replays exactly, so any divergence in
    whitespace, slicing, or template placement shows up as a checksum
    mismatch, not a silent formatting drift.

    Scale shape (100 TB): template assembly is a pure projection
    (split / slice / concat — JVM codegen); the audit is one
    |sources|-row hash agg.  No shuffle beyond the final tiny groupBy.
    """
    from dblab_ece_trino_spark.operators.sketches import hexint_digits_sql

    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
    )
    d = docs.select(
        "source",
        words.alias("ws"),
    ).select(
        "source",
        F.size("ws").cast("long").alias("n_words"),
        F.array_join(F.slice("ws", 1, SFT_PROMPT_WORDS), " ").alias("prompt"),
        F.array_join(
            F.slice(
                "ws",
                SFT_PROMPT_WORDS + 1,
                SFT_RESP_CAP,
            ),
            " ",
        ).alias("resp"),
    )
    fmt = F.concat(
        F.lit("<|user|>\n"), F.col("prompt"),
        F.lit("\n<|assistant|>\n"), F.col("resp"), F.lit("<|end|>"),
    )
    per = d.select(
        "source",
        F.least(F.col("n_words"), F.lit(SFT_PROMPT_WORDS)).alias("p_tok"),
        F.least(
            F.greatest(F.col("n_words") - SFT_PROMPT_WORDS, F.lit(0)),
            F.lit(SFT_RESP_CAP),
        ).alias("r_tok"),
        (F.col("n_words") - SFT_PROMPT_WORDS > SFT_RESP_CAP)
        .cast("long").alias("trunc"),
        F.length(fmt).cast("long").alias("fmt_len"),
        F.expr(hexint_digits_sql("md5(concat('<|user|>\\n', prompt, "
                                 "'\\n<|assistant|>\\n', resp, '<|end|>'))",
                                 6)).alias("ck"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("trunc").cast("long").alias("n_truncated"),
            F.sum("p_tok").cast("long").alias("prompt_tokens"),
            F.sum("r_tok").cast("long").alias("response_tokens"),
            F.sum("fmt_len").cast("long").alias("fmt_chars"),
            F.sum("ck").cast("long").alias("fmt_checksum"),
        )
        .withColumn(
            "trunc_ppm",
            F.expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_truncated"
                   " div n_pairs AS BIGINT)"),
        )
        .orderBy("source")
    )


def _q_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sft_format(documents(spark, sf_dir))


def _sft_oracle() -> str:
    from dblab_ece_trino_spark.operators.sketches import hexint_digits_sql

    ck = hexint_digits_sql("md5(fmt)", 6)
    pw, cap = SFT_PROMPT_WORDS, SFT_RESP_CAP
    return f"""
    WITH toks AS (
      SELECT source,
             regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ),
    pairs AS (
      SELECT source,
             CAST(len(ws) AS BIGINT) AS n_words,
             -- array_to_string([]) is NULL in DuckDB (Spark's
             -- array_join gives '') — coalesce to keep || non-NULL
             coalesce(array_to_string(list_slice(ws, 1, {pw}), ' '), '')
               AS prompt,
             coalesce(
               array_to_string(list_slice(ws, {pw + 1}, {pw + cap}), ' '),
               '') AS resp
      FROM toks
    ),
    fmtd AS (
      SELECT source, n_words, prompt, resp,
             '<|user|>' || chr(10) || prompt || chr(10)
             || '<|assistant|>' || chr(10) || resp || '<|end|>' AS fmt
      FROM pairs
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN n_words - {pw} > {cap} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           CAST(sum(least(n_words, {pw})) AS BIGINT) AS prompt_tokens,
           CAST(sum(least(greatest(n_words - {pw}, 0), {cap})) AS BIGINT)
             AS response_tokens,
           CAST(sum(length(fmt)) AS BIGINT) AS fmt_chars,
           CAST(sum({ck}) AS BIGINT) AS fmt_checksum,
           CAST(CAST(1000000 AS HUGEINT)
                * sum(CASE WHEN n_words - {pw} > {cap} THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS trunc_ppm
    FROM fmtd
    GROUP BY source
    ORDER BY source
    """


register("llm_sft_format", _q_sft_format, oracle=_sft_oracle())


# ------------------------------------- SFT loss-mask accounting (r13)
SFT_CTRL_TOKENS = 3    # <|user|> / <|assistant|> / <|end|> markers
SFT_CTX = 160          # packing context (> 12 + 120 + 3, so pad >= 0)


def loss_mask_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Loss-mask TRAINING-ECONOMY audit of the rendered SFT examples —
    the compute-utilization companion to ``sft_format`` (which audits
    truncation + content checksums): under the standard
    completion-only loss mask, prompt words and the template control
    tokens are MASKED, the capped completion is TRAINED, and the
    context remainder is PAD.  Per source: the exact token ledger and
    the floored ppm of context that actually trains — the number that
    decides whether example packing is worth it (a source with 30%
    trained-context wastes 70% of its FLOPs).

    Same word split as sft_format (shared fixture contract), all
    integers, one |sources|-row agg; pure projection otherwise.
    """
    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
    )
    d = docs.select("source", F.size(words).cast("long").alias("n_words"))
    p_tok = F.least(F.col("n_words"), F.lit(SFT_PROMPT_WORDS))
    c_tok = F.least(
        F.greatest(F.col("n_words") - SFT_PROMPT_WORDS, F.lit(0)),
        F.lit(SFT_RESP_CAP),
    )
    per = d.select(
        "source",
        (p_tok + SFT_CTRL_TOKENS).cast("long").alias("masked"),
        c_tok.cast("long").alias("trained"),
        (F.lit(SFT_CTX) - p_tok - c_tok - SFT_CTRL_TOKENS)
        .cast("long").alias("pad"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_examples"),
            F.sum("masked").cast("long").alias("masked_tok"),
            F.sum("trained").cast("long").alias("trained_tok"),
            F.sum("pad").cast("long").alias("pad_tok"),
            F.floor(
                F.lit(1000000.0) * F.sum("trained")
                / (F.lit(float(SFT_CTX)) * F.count(F.lit(1)))
            ).cast("long").alias("trained_ctx_ppm"),
        )
        .orderBy("source")
    )


def _q_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    return loss_mask_stats(documents(spark, sf_dir))


register(
    "llm_loss_mask_stats",
    _q_loss_mask,
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                  AS BIGINT) AS n_words
      FROM documents
    ),
    per AS (
      SELECT source,
             least(n_words, {SFT_PROMPT_WORDS}) + {SFT_CTRL_TOKENS}
               AS masked,
             least(greatest(n_words - {SFT_PROMPT_WORDS}, 0),
                   {SFT_RESP_CAP}) AS trained
      FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_examples,
           CAST(sum(masked) AS BIGINT) AS masked_tok,
           CAST(sum(trained) AS BIGINT) AS trained_tok,
           CAST(sum({SFT_CTX} - masked - trained) AS BIGINT) AS pad_tok,
           CAST(floor(1000000.0 * sum(trained)
                      / ({SFT_CTX}.0 * count(*))) AS BIGINT)
             AS trained_ctx_ppm
    FROM per
    GROUP BY source
    ORDER BY source
    """,
)
