"""Text analysis over the documents table: language ID, quality scoring,
token counting, fingerprinting.

Everything is built-in `pyspark.sql.functions` — regex, split, array
lambdas — i.e. whole-stage-codegen'd JVM expressions; no Python UDFs.
At 100 TB each of these is a single projection over the scan (no shuffle),
which is the correct shape for per-document featurization.

Determinism notes: ratios divide integers into doubles and round to 6
decimals; language scores break ties by a fixed preference order, so
results are engine-reproducible (each entry carries a DuckDB oracle
expressing the same semantics in its own dialect).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dblab_ece_trino_spark.operators.registry import documents, register

# Marker vocabularies for the n-gram/stopword language heuristic.  The
# driver corpus is synthetic word-soup, so these are demonstration lists
# over its vocabulary; for real corpora, swap in per-language stopword
# lists — the operator shape (token filter counts + fixed-order argmax)
# is unchanged.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "row", "fast", "table"],
    "es": ["data", "query", "line", "sort"],
    "de": ["batch", "window", "merge", "group"],
    "fr": ["join", "order", "column", "small"],
    "zh": ["spark", "hash", "key", "stream"],
}
_LANG_ORDER = ["en", "es", "de", "fr", "zh"]  # tie-break preference

TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"  # BPE-ish coarse pieces


def ws_tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_counts(text: Column) -> tuple[Column, Column]:
    """(whitespace token count, regex-piece token count)."""
    return (
        F.size(ws_tokens(text)),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0)),
    )


def marker_score(text: Column, words: list[str]) -> Column:
    """Non-distinct count of tokens that appear in the marker list."""
    return F.size(F.filter(ws_tokens(text), lambda t: t.isin(*words)))


def language_id(text: Column) -> Column:
    """Predicted language by marker-count argmax, fixed-order tie-break."""
    scores = {lang: marker_score(text, LANG_MARKERS[lang]) for lang in _LANG_ORDER}
    expr = F.lit(_LANG_ORDER[-1])
    # build the CASE chain back-to-front so earlier langs win ties
    for lang in reversed(_LANG_ORDER[:-1]):
        cond = None
        for other in _LANG_ORDER:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_features(text: Column) -> dict[str, Column]:
    """Length / character-class / stopword-ratio features, all exact."""
    n_chars = F.length(text)
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    spaces = F.length(F.regexp_replace(text, "[^ ]", ""))
    toks = ws_tokens(text)
    n_toks = F.size(toks)
    stop = marker_score(text, LANG_MARKERS["en"])
    return {
        "n_chars": n_chars,
        "n_tokens": n_toks,
        "alpha_ratio": F.round(alpha * F.lit(1.0) / F.greatest(n_chars, F.lit(1)), 6),
        "space_ratio": F.round(spaces * F.lit(1.0) / F.greatest(n_chars, F.lit(1)), 6),
        "chars_per_token": F.round(
            n_chars * F.lit(1.0) / F.greatest(n_toks, F.lit(1)), 6
        ),
        "stopword_ratio": F.round(
            stop * F.lit(1.0) / F.greatest(n_toks, F.lit(1)), 6
        ),
    }


def quality_score(text: Column) -> Column:
    """Scalar quality score: favors mid-length, alphabetic, stopword-bearing
    text — the standard cheap pre-filter before expensive pipeline stages."""
    f = quality_features(text)
    return F.round(
        f["alpha_ratio"] + f["stopword_ratio"]
        + F.when((f["n_tokens"] >= 20) & (f["n_tokens"] <= 1000), 0.5).otherwise(0.0),
        6,
    )


def rolling_fingerprint(text: Column, base: int = 31, mod: int = (1 << 61) - 1) -> Column:
    """Polynomial rolling hash over characters (order-sensitive document
    fingerprint).  JVM-side via aggregate over the char array; constants
    sized so base*acc+c stays within int64 under ANSI arithmetic."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(
            acc * F.lit(base) + F.coalesce(F.ascii(ch), F.lit(0)),
            F.lit((1 << 57) - 13),
        ),
    )


# ------------------------------------------------------------ query entries
def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    ws, re_ = token_counts(F.col("text"))
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), re_.alias("re_tokens")
    )


register(
    "text_token_count",
    _q_token_count,
    oracle=r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS re_tokens
    FROM documents
    """,
)


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    feats = quality_features(F.col("text"))
    cols = [F.col("doc_id")] + [c.alias(n) for n, c in feats.items()]
    return docs.select(*cols, quality_score(F.col("text")).alias("quality"))


register(
    "text_quality_score",
    _q_quality,
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> list_contains(['the','a','row','fast','table'], t))) AS stop
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           round(alpha * 1.0 / greatest(n_chars, 1), 6) AS alpha_ratio,
           round(spaces * 1.0 / greatest(n_chars, 1), 6) AS space_ratio,
           round(n_chars * 1.0 / greatest(n_tokens, 1), 6) AS chars_per_token,
           round(stop * 1.0 / greatest(n_tokens, 1), 6) AS stopword_ratio,
           round(round(alpha * 1.0 / greatest(n_chars, 1), 6)
                 + round(stop * 1.0 / greatest(n_tokens, 1), 6)
                 + CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END,
                 6) AS quality
    FROM f
    """,
)


def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        language_id(F.col("text")).alias("predicted_lang"),
    )


def _lang_oracle() -> str:
    score = (
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        "t -> list_contains([{words}], t)))"
    )
    scores = {
        lang: score.format(words=",".join(f"'{w}'" for w in LANG_MARKERS[lang]))
        for lang in _LANG_ORDER
    }
    case = "CASE"
    for lang in _LANG_ORDER[:-1]:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in _LANG_ORDER if other != lang
        )
        case += f" WHEN {conds} THEN '{lang}'"
    case += f" ELSE '{_LANG_ORDER[-1]}' END"
    inner = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    return f"""
    SELECT doc_id, labeled_lang, {case} AS predicted_lang
    FROM (SELECT doc_id, lang AS labeled_lang, text, {inner} FROM documents) t
    """


register("text_language_id", _q_language_id, oracle=_lang_oracle())


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("md5_fingerprint"),
        F.length("text").alias("n_chars"),
    )


register(
    "text_fingerprint",
    _q_fingerprint,
    oracle="""
    SELECT doc_id, md5(text) AS md5_fingerprint, length(text) AS n_chars
    FROM documents
    """,
)


def _q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    return docs.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("rolling_fp")
    )


# The polynomial fold is plain int64 arithmetic over character codes, so
# DuckDB can compute the IDENTICAL value with list_reduce — a full value
# oracle, not an invariant (acc*31+c < 2^62 keeps both engines exact).
register(
    "text_rolling_fingerprint",
    _q_rolling_fingerprint,
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               [ascii(c)::BIGINT for c in regexp_split_to_array(text, '')]),
             (acc, c) -> (acc * 31 + c) % 144115188075855859
           ) AS rolling_fp
    FROM documents
    """,
)


def _q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end cleaning pipeline: exact dedup -> quality gate -> corpus
    stats per source.  The composition a training-data pipeline actually
    runs, with every stage oracle-checkable."""
    from dblab_ece_trino_spark.operators.dedup import dedup_exact

    docs = documents(spark, sf_dir)
    keep_ids = dedup_exact(docs).select(F.col("keep_id").alias("doc_id"))
    kept = docs.join(keep_ids, "doc_id")
    scored = kept.withColumn("quality", quality_score(F.col("text")))
    ws, _re = token_counts(F.col("text"))
    good = scored.filter(F.col("quality") >= 0.5).withColumn("toks", ws)
    # quality is already rounded to 6 decimals, so sum(quality * 1e6) is an
    # exact integer — averaging in floating point would be summation-order
    # dependent and is exactly what the driver's render gate punishes.
    return (
        good.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            F.sum(F.round(F.col("quality") * 1000000).cast("long")).alias(
                "sum_quality_e6"
            ),
        )
    )


register(
    "pipeline_clean_corpus",
    _q_pipeline_clean_corpus,
    oracle=r"""
    WITH keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    kept AS (
      SELECT d.* FROM documents d JOIN keep USING (doc_id)
    ),
    f AS (
      SELECT doc_id, source,
             length(text) AS n_chars,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> list_contains(['the','a','row','fast','table'], t))) AS stop
      FROM kept
    ),
    scored AS (
      SELECT doc_id, source, n_tokens,
             round(round(alpha * 1.0 / greatest(n_chars, 1), 6)
                   + round(stop * 1.0 / greatest(n_tokens, 1), 6)
                   + CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END,
                   6) AS quality
      FROM f
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CAST(round(quality * 1000000, 0) AS BIGINT)) AS BIGINT)
             AS sum_quality_e6
    FROM scored WHERE quality >= 0.5
    GROUP BY source
    """,
)


# ------------------------------------------------- sequence packing (LLM)
def pack_sequences(
    docs: DataFrame,
    capacity: int = 4096,
    by: str = "lang",
    length_col: str = "n_chars",
) -> DataFrame:
    """Pack documents into fixed-capacity training sequences.

    Contiguous packing: within each ``by`` shard, documents are laid out
    in a deterministic order (length DESC, doc_id tiebreak) and a running
    offset assigns each to sequence ``floor(offset / capacity)`` — the
    whole operator is ONE window cumsum, i.e. one shuffle on the shard
    key, no driver-side loop.  That's the scalable approximation of
    greedy bin packing: true first-fit is inherently sequential; the
    cumulative-offset form parallelizes per shard and wastes at most one
    document's tail per boundary.

    At 100 TB the shard key must bound per-partition size — ``by`` a
    composite (lang, pmod(doc_id, k)) if one language dominates; the
    window is per-shard so skew splits cleanly.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(by)
        .orderBy(F.col(length_col).desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.sum(length_col).over(w) - F.col(length_col)
    return (
        docs.select(
            F.col(by),
            F.col("doc_id"),
            F.col(length_col),
            F.floor(offset / capacity).alias("seq_id"),
        )
        .groupBy(by, "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(length_col).alias("total_chars"),
        )
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(documents(spark, sf_dir), capacity=4096, by="lang")


register(
    "pipeline_pack_sequences",
    _q_pack_sequences,
    oracle=r"""
    SELECT lang, seq_id, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT lang, doc_id, n_chars,
             CAST(floor((sum(n_chars) OVER (
                    PARTITION BY lang ORDER BY n_chars DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) - n_chars) / 4096.0) AS BIGINT)
               AS seq_id
      FROM documents
    )
    GROUP BY lang, seq_id
    """,
)


def _q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (200-char buckets) — the corpus-report
    shape a pipeline runs before/after each cleaning stage."""
    docs = documents(spark, sf_dir)
    return (
        docs.groupBy(F.floor(F.col("n_chars") / 200).alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


register(
    "text_length_histogram",
    _q_length_histogram,
    oracle="""
    SELECT CAST(floor(n_chars / 200.0) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY 1
    """,
)


# ------------------------------------------------ BPE merge candidates
def bpe_merge_candidates(
    docs: DataFrame, top_n: int = 50, text_col: str = "text"
) -> DataFrame:
    """First-round BPE merge statistics: adjacent character-pair
    frequencies within words, weighted by word frequency — the argmax
    pair is the first merge a byte-pair-encoding tokenizer would learn
    on this corpus.

    THE scale property of real BPE trainers, kept here: the corpus is
    collapsed to a (word, frequency) table FIRST, and the per-character
    pair explode runs over the VOCABULARY (|V| distinct words, Heaps'
    law ~sqrt of corpus size), not over the token stream.  At 100 TB the
    word-frequency agg is one map-side-combinable shuffle of tiny
    (word, count) pairs; everything after it is metadata-scale.
    Counting from the raw stream would explode len(w) rows per token
    occurrence.
    """
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    pairs = wf.select(
        F.expr(
            "explode(transform(sequence(1, length(w) - 1),"
            " i -> substring(w, i, 2)))"
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(top_n)
    )


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_merge_candidates(documents(spark, sf_dir))


register(
    "llm_bpe_merges",
    _q_bpe_merges,
    oracle=r"""
    WITH wf AS (
      SELECT w, count(*) AS f
      FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
              AS w
            FROM documents) t
      WHERE len(w) >= 2
      GROUP BY w
    ),
    pairs AS (
      SELECT substring(w, i, 2) AS pair, f
      FROM wf, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
    )
    SELECT pair, CAST(sum(f) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 50
    """,
)


# ------------------------------------------------------ TF-IDF top-k
def tfidf_topk(
    docs: DataFrame, k: int = 3, min_len: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF (tf · ln(N/df)).

    Complements text_bm25_score (query-centric relevance) with the
    doc-centric keyword extraction a curation pipeline uses for topic
    tagging.  One token explode feeds one (doc, token) agg; df is an
    agg over THAT frame (tokens never shuffle twice); the per-doc top-k
    window runs over (doc, distinct-token) rows — bounded by vocabulary
    per doc, not token count.  ln + round(.., 4) follows the
    llm_bigram_lm_score parity discipline.
    """
    from pyspark.sql import Window

    n = docs.count()
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "tok"
        ),
    ).filter(F.length("tok") >= min_len)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfc, "tok").withColumn(
        "score",
        F.round(F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 4).cast(
            "double"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "doc_id",
            "tok",
            F.col("tf").cast("long").alias("tf"),
            "score",
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("doc_id", "rk")
    )


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_topk(documents(spark, sf_dir))


register(
    "text_tfidf_topk",
    _q_tfidf_topk,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, t AS tok FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        FROM documents) x
      WHERE len(t) >= 3
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf,
             CAST(round(tf.tf * ln(
               CAST((SELECT count(*) FROM documents) AS DOUBLE) / dfc.df),
               4) AS DOUBLE) AS score
      FROM tf JOIN dfc ON tf.tok = dfc.tok
    )
    SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, score, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
      FROM scored
    )
    WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
)


# ------------------------------------------------------------ readability
def readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch-reading-ease-style scoring with a vowel-group syllable
    proxy, banded into deciles.

    All three counts are single-pass regexp extractions (JVM-side,
    whole-stage codegen — no Python): words = alpha runs, sentences =
    terminal-punctuation runs (clamped to >= 1), syllables = vowel
    runs.  The formula is per-row IEEE double arithmetic — identical
    on any engine given identical inputs — so the decile band is exact
    on both sides; only the band AVERAGES are order-sensitive and they
    are rounded.  One projection + one keyed agg: the 100 TB cost is
    the text scan itself.
    """
    words = F.size(F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z]+"), 0))
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)),
        F.lit(1),
    )
    syll = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit("[AEIOUYaeiouy]+"), 0)
    )
    scored = (
        docs.select(
            words.alias("n_words"), sents.alias("n_sents"), syll.alias("n_syll")
        )
        .filter(F.col("n_words") > 0)
        .withColumn(
            "flesch",
            F.lit(206.835)
            - F.lit(1.015) * F.col("n_words") / F.col("n_sents")
            - F.lit(84.6) * F.col("n_syll") / F.col("n_words"),
        )
    )
    return (
        scored.groupBy(
            F.floor(F.col("flesch") / 10).cast("long").alias("band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("flesch"), 2).alias("avg_flesch"),
            F.round(F.avg(F.col("n_words") / F.col("n_sents")), 2).alias(
                "avg_words_per_sent"
            ),
        )
        .orderBy("band")
    )


def _q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readability(documents(spark, sf_dir))


register(
    "text_readability",
    _q_readability,
    oracle=r"""
    WITH counts AS (
      SELECT len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
             len(regexp_extract_all(text, '[AEIOUYaeiouy]+')) AS n_syll
      FROM documents
    ),
    scored AS (
      SELECT n_words, n_sents,
             206.835 - 1.015 * n_words / n_sents
                     - 84.6 * n_syll / n_words AS flesch
      FROM counts WHERE n_words > 0
    )
    SELECT CAST(floor(flesch / 10) AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(flesch), 2) AS avg_flesch,
           round(avg(CAST(n_words AS DOUBLE) / n_sents), 2)
             AS avg_words_per_sent
    FROM scored
    GROUP BY 1
    ORDER BY 1
    """,
)


# --------------------------------------------- character-diversity filter
def char_diversity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Simpson diversity of the character distribution —
    the LOG-FREE repetition/garbage detector: a doc dominated by one
    repeated character (or a tiny alphabet) has collision probability
    Σp² near 1 and diversity 1 − Σp² near 0, which is the curation
    signal entropy filters chase, WITHOUT entropy's logarithms.  Chosen
    deliberately: log/log2 are not IEEE-correctly-rounded, so a
    Shannon form would ride on cross-engine libm agreement; here the
    collision numerator Σ cnt² and the totals are EXACT BIGINTs
    (associative under any partitioning) and the only float is one
    final per-row division — bit-stable everywhere (the Rényi-2 /
    collision-entropy trick).

    Shape at 100 TB: one character explode (the token-count economics,
    linear in corpus bytes), one (doc, char) hash agg with map-side
    combine (per-doc alphabet-bounded), one per-doc agg — no windows,
    no joins.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = toks.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_chars_counted"),
            F.count(F.lit(1)).cast("long").alias("distinct_chars"),
            F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("coll_num"),
        )
        .selectExpr(
            "doc_id",
            "n_chars_counted",
            "distinct_chars",
            "coll_num",
            "1.0 - CAST(coll_num AS DOUBLE)"
            " / (CAST(n_chars_counted AS DOUBLE) * n_chars_counted)"
            " AS simpson_diversity",
        )
        .orderBy("doc_id")
    )


def _q_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded id-slice for a constant-size graded result; the statistic
    # is per-doc, so the slice is exactly the full op's first rows
    return char_diversity(documents(spark, sf_dir).filter(F.col("doc_id") < 100))


register(
    "text_char_diversity",
    _q_char_diversity,
    oracle="""
    WITH toks AS (
      SELECT doc_id, substr(text, t.i, 1) AS ch
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) t
      WHERE doc_id < 100
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS cnt FROM toks GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_chars_counted,
           CAST(count(*) AS BIGINT) AS distinct_chars,
           CAST(sum(cnt * cnt) AS BIGINT) AS coll_num,
           1.0 - CAST(sum(cnt * cnt) AS DOUBLE)
             / (CAST(sum(cnt) AS DOUBLE) * sum(cnt)) AS simpson_diversity
    FROM counts
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)


# ------------------------------------------------------- BPE encoder
#: Fixed merge table: 10 rounds learned by deterministic greedy BPE
#: training on the sf0.01 documents corpus (pair-count argmax, ties
#: broken lexicographically — the trainer is tests/test_round8_ops.py's
#: reference implementation).  Application is corpus-independent, so the
#: same table runs at every sf.  WELL-FORMED by construction: every
#: multi-char operand ('er' in round 5, 'ar' in round 9) is produced by
#: an earlier round, which is the property that makes one greedy
#: left-to-right pass per merge IN TABLE ORDER equivalent to the
#: rank-priority fixpoint loop GPT-2-style encoders run (a new
#: occurrence of pair i can only appear when a later merge j>i creates
#: one of i's operands — impossible in a trained table).
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
]


def _bpe_fold_expr(inner: str, a: str, b: str) -> str:
    """One merge round as a Spark SQL fold over the symbol array:
    left-to-right greedy — merge the current symbol into the
    accumulator's tail iff (tail, current) == (a, b).  The fold retests
    the merged tail against the NEXT symbol, which is exactly the
    non-overlapping left-to-right scan of the BPE spec (for a == b a
    run of k symbols yields floor(k/2) merged pairs)."""
    ab = a + b
    return (
        f"aggregate({inner}, cast(array() as array<string>), (acc, s) -> "
        f"IF(size(acc) > 0 AND element_at(acc, -1) = '{a}' AND s = '{b}', "
        f"concat(slice(acc, 1, size(acc) - 1), array('{ab}')), "
        f"concat(acc, array(s))))"
    )


def bpe_token_expr(word_col: str = "w", merges=None) -> str:
    """Spark SQL expression: symbol array of word_col after applying the
    merge table in order (chars -> sequence of fold rounds).  Pure
    whole-stage-codegen expression — no UDF, no shuffle."""
    expr = f"transform(sequence(1, length({word_col})), i -> substring({word_col}, i, 1))"
    for a, b in merges or BPE_MERGES:
        assert (a + b).isalnum(), "merge symbols must be SQL-literal-safe"
        expr = _bpe_fold_expr(expr, a, b)
    return expr


def bpe_encode_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document EXACT token counts under the learned BPE vocabulary
    — the application companion to llm_bpe_merges (which only MINES
    merge candidates; until this entry nothing applied a vocabulary, so
    token counts elsewhere are whitespace proxies).

    THE scale property (the GPT-2 pre-tokenized idiom): merges are
    applied on the VOCABULARY-collapsed distinct-word frame — work is
    |V| x merge rounds (Heaps' law: |V| ~ sqrt of corpus size), never
    per-document, and the merge application itself is a chain of
    codegen'd array folds with ZERO shuffles.  The corpus-scale work is
    one map-side-combinable (doc_id, word) count and one (word)-keyed
    join of tiny per-word token counts back onto it.  At 100 TB: one
    fact scan, two key-partitioned shuffles, and a |V|-row side frame.
    """
    from dblab_ece_trino_spark.session import materialize

    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).filter(F.length("w") >= 1)
    # materialized: consumed by BOTH the vocab distinct and the final
    # join — Spark inlines shared frames, so without this the scan +
    # explode + groupBy would run once per consumer
    dw = materialize(
        words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    vt = dw.select("w").distinct().select(
        "w",
        F.expr(f"size({bpe_token_expr('w')})").cast("long").alias("n_tok"),
    )
    return (
        dw.join(vt, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.length("w")).cast("long").alias("n_chars"),
            F.sum(F.col("cnt") * F.col("n_tok")).cast("long").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_encode_counts(documents(spark, sf_dir))


def _bpe_oracle(merges=None) -> str:
    """DuckDB oracle: the SAME fixed merge table applied as an unrolled
    CTE chain over (word, pos, sym) rows.  Greedy non-overlapping
    left-to-right pass per merge via run-parity gaps-and-islands:
    candidate positions (sym=a AND next=b) group into consecutive runs;
    merge starts are the odd-ranked candidates within each run (for
    a != b runs are singletons; for a == b this yields floor(k/2) pairs
    per k-run, matching the fold); the symbol AFTER a start is consumed.
    Four window levels per round, each consumed once (chain), so plain
    CTEs inline linearly; the twice-consumed frames (dw, s0 source) are
    MATERIALIZED."""
    parts = [r"""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents) t
      WHERE len(w) >= 1
    ),
    dw AS MATERIALIZED (
      SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w
    ),
    s0 AS MATERIALIZED (
      SELECT w, CAST(i AS BIGINT) AS pos, w[i] AS sym
      FROM (SELECT DISTINCT w FROM dw) v,
           LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
    )"""]
    for r, (a, b) in enumerate(merges or BPE_MERGES):
        ab = a + b
        parts.append(f""",
    c{r} AS (
      SELECT w, pos, sym,
             coalesce(sym = '{a}' AND
               lead(sym) OVER (PARTITION BY w ORDER BY pos) = '{b}',
               FALSE) AS cand
      FROM s{r}
    ),
    g{r} AS (
      SELECT w, pos, sym, cand,
             CASE WHEN cand THEN pos -
               ROW_NUMBER() OVER (PARTITION BY w, cand ORDER BY pos)
             END AS run
      FROM c{r}
    ),
    h{r} AS (
      SELECT w, pos, sym,
             cand AND (ROW_NUMBER() OVER (PARTITION BY w, run ORDER BY pos)
                       % 2 = 1) AS is_start
      FROM g{r}
    ),
    i{r} AS (
      SELECT w, pos, sym, is_start,
             coalesce(lag(is_start) OVER (PARTITION BY w ORDER BY pos),
                      FALSE) AS consumed
      FROM h{r}
    ),
    s{r + 1} AS (
      SELECT w, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
             CASE WHEN is_start THEN '{ab}' ELSE sym END AS sym
      FROM i{r}
      WHERE NOT consumed
    )""")
    n = len(merges or BPE_MERGES)
    parts.append(f""",
    vt AS (SELECT w, count(*) AS n_tok FROM s{n} GROUP BY w)
    SELECT dw.doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * len(w)) AS BIGINT) AS n_chars,
           CAST(sum(cnt * n_tok) AS BIGINT) AS n_bpe_tokens
    FROM dw JOIN vt USING (w)
    GROUP BY dw.doc_id
    ORDER BY doc_id""")
    return "".join(parts)


register("llm_bpe_encode", _q_bpe_encode, oracle=_bpe_oracle())


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Tokenizer fertility audit per (lang, source) bucket — the
    standard multilingual vocabulary-fit diagnostic (XLM-R/mBART
    methodology: fertility = subword tokens per word; a bucket whose
    fertility is far above the corpus norm is under-served by the
    vocabulary and will train/infer at a token-cost penalty).  Rides
    the exact BPE encoder (bpe_encode_counts): per bucket, exact BPE
    tokens per word and characters per BPE token as integer ppm floor
    divisions — replay-exact, no float ratios.

    100 TB shape: the encoder's own economics (|V|-scale merge
    application, one fact scan, two keyed shuffles) plus ONE broadcast
    join of the tiny (doc -> lang, source) dimension and a
    |buckets|-row rollup.
    """
    per_doc = bpe_encode_counts(docs)
    dims = docs.select("doc_id", "lang", "source")
    return (
        per_doc.join(dims, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.expr("(sum(n_bpe_tokens) * 1000000) div sum(n_words)")
            .cast("long")
            .alias("fertility_ppm"),
            F.expr("(sum(n_chars) * 1000000) div sum(n_bpe_tokens)")
            .cast("long")
            .alias("chars_per_token_ppm"),
        )
        .orderBy("lang", "source")
    )


def _q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenizer_fertility(documents(spark, sf_dir))


def _fertility_oracle(merges=None) -> str:
    """Same unrolled merge chain as _bpe_oracle, rolled up per
    (lang, source) with integer ppm divisions."""
    base = _bpe_oracle(merges)
    n = len(merges or BPE_MERGES)
    head, _tail = base.split(f"vt AS (SELECT w, count(*) AS n_tok FROM s{n}")
    return head + f"""vt AS (SELECT w, count(*) AS n_tok FROM s{n} GROUP BY w),
    perdoc AS (
      SELECT dw.doc_id,
             CAST(sum(cnt) AS BIGINT) AS nw,
             CAST(sum(cnt * len(w)) AS BIGINT) AS nc,
             CAST(sum(cnt * n_tok) AS BIGINT) AS nt
      FROM dw JOIN vt USING (w)
      GROUP BY dw.doc_id
    )
    SELECT d.lang, d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nw) AS BIGINT) AS n_words,
           CAST(sum(nt) AS BIGINT) AS n_bpe_tokens,
           CAST((sum(nt) * 1000000) // sum(nw) AS BIGINT) AS fertility_ppm,
           CAST((sum(nc) * 1000000) // sum(nt) AS BIGINT)
             AS chars_per_token_ppm
    FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.lang, d.source
    ORDER BY d.lang, d.source"""


register(
    "llm_tokenizer_fertility",
    _q_tokenizer_fertility,
    oracle=_fertility_oracle(),
)


# --------------------------------------------------- winnowing fingerprints
WIN_K = 4          # word k-gram length
WIN_W = 4          # winnowing window (hashes per selection window)
WIN_DF_CAP = 100   # fingerprint document-frequency cap for the pair join
WIN_MIN_SHARED = 2
_WIN_POS = 1 << 20  # position packing radix (docs up to 2^20 grams)


def winnowing_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WIN_K,
    w: int = WIN_W,
    df_cap: int = WIN_DF_CAP,
    min_shared: int = WIN_MIN_SHARED,
) -> DataFrame:
    """Winnowing fingerprint candidate pairs (Schleimer, Wilkerson,
    Aiken 2003 — the MOSS local fingerprinting algorithm): per document,
    hash every word k-gram, slide a window of w consecutive hashes, and
    select each window's MINIMUM hash (rightmost position on ties, per
    the paper); the guarantee is that any verbatim match of at least
    w + k - 1 tokens shares a selected fingerprint, at an expected
    density of 2/(w+1) — robust dedup candidates WITHOUT hashing every
    gram into the join.  Documents sharing >= min_shared fingerprints
    (document frequency capped at df_cap, the same hot-bucket economics
    as the MinHash bands) are reported with their shared count.

    Determinism + single-window argmin: (hash, position) is packed into
    ONE BIGINT key = h * 2^20 + (2^20 - 1 - pos), so a plain window MIN
    is exactly "min hash, rightmost tie" — no nested window functions
    (neither engine allows them) and no engine-arbitrary min_by ties.
    The 40-bit gram hash keeps the packed key < 2^60; corpus-rare
    40-bit collisions merge two grams deterministically on BOTH engines
    (fidelity, not correctness — widen to 44 bits and 2^16 positions if
    a corpus needs it).

    100 TB shape: the gram stream is one row per corpus token carrying
    an 8-byte key; the per-document window is bounded by document
    length; the fingerprint frame (expected 2/(w+1) of the gram count)
    is materialized ONCE for its three consumers (df branch + both join
    sides); the pair join is df-capped so no hot fingerprint explodes.
    """
    from dblab_ece_trino_spark.operators.sketches import hexint_col
    from dblab_ece_trino_spark.session import materialize

    toks = docs.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("arr")
    ).select(id_col, "arr", F.size("arr").cast("long").alias("n_tokens"))
    g = (
        toks.filter(F.col("n_tokens") >= k)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(0), (F.col("n_tokens") - k).cast("int"))
            ).alias("pos"),
            "arr",
            (F.col("n_tokens") - k + 1).alias("n_grams"),
        )
        .select(
            id_col,
            "pos",
            "n_grams",
            (
                hexint_col(
                    F.concat(
                        F.lit("win:"),
                        F.concat_ws(
                            " ", F.slice(F.col("arr"), F.col("pos") + 1, k)
                        ),
                    ),
                    10,
                )
                * F.lit(_WIN_POS)
                + (F.lit(_WIN_POS - 1) - F.col("pos"))
            ).alias("key"),
        )
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = g.withColumn("selkey", F.min("key").over(win))
    fp = materialize(
        sel.filter(F.col("pos") <= F.col("n_grams") - w)
        .select(id_col, F.expr(f"selkey div {_WIN_POS}").alias("h"))
        .distinct()
    )
    good = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter((F.col("c") >= 2) & (F.col("c") <= df_cap))
        .select("h")
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(good, "h")
        .join(b, "h")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
        .orderBy(F.desc("shared_fps"), "doc_a", "doc_b")
    )


def _q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowing_pairs(documents(spark, sf_dir))


def _winnowing_oracle() -> str:
    from dblab_ece_trino_spark.operators.sketches import hexint_digits_sql

    fold = hexint_digits_sql("md5('win:' || gram)", 10)
    return rf"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents
    ),
    g AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             ({fold}) * {_WIN_POS} + ({_WIN_POS - 1} - i) AS key,
             len(arr) - {WIN_K - 1} AS n_grams
      FROM (
        SELECT doc_id, arr, i,
               array_to_string(list_slice(arr, i + 1, i + {WIN_K}), ' ')
                 AS gram
        FROM toks, unnest(generate_series(0, len(arr) - {WIN_K})) AS r(i)
        WHERE len(arr) >= {WIN_K}
      ) t
    ),
    sel AS (
      SELECT doc_id, pos, n_grams,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING)
               AS selkey
      FROM g
    ),
    fp AS MATERIALIZED (
      SELECT DISTINCT doc_id, CAST(selkey // {_WIN_POS} AS BIGINT) AS h
      FROM sel WHERE pos <= n_grams - {WIN_W}
    ),
    good AS (
      SELECT h FROM fp GROUP BY h
      HAVING count(*) BETWEEN 2 AND {WIN_DF_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM fp a JOIN good USING (h) JOIN fp b USING (h)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {WIN_MIN_SHARED}
    ORDER BY shared_fps DESC, doc_a, doc_b
    """


register("text_winnowing", _q_winnowing, oracle=_winnowing_oracle())


# --------------------------------------------------- RAKE keyphrases
RAKE_STOPWORDS = ("the", "a")
RAKE_MAX_WORDS = 4
RAKE_TOP = 25


def rake_keyphrases(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010,
    "Automatic Keyword Extraction from Individual Documents") over the
    whole corpus: candidate phrases are maximal stopword-free word
    runs (the synthetic corpus has no punctuation, so stopwords are
    the only delimiters — RAKE_STOPWORDS mirrors the corpus-tuned
    GOPHER_STOPWORDS discipline), capped at RAKE_MAX_WORDS words (the
    standard implementation limit, and what bounds the phrase frame).
    Word scores are degree/frequency — degree(w) = sum of the lengths
    of every candidate occurrence containing w, freq(w) = number of
    such occurrences — and a phrase scores the SUM of its member word
    scores; top RAKE_TOP distinct phrases win.

    ALL-INTEGER: word scores are one nonnegative floor division
    (degree * 1e6 div freq) and phrase scores sum those already-floored
    ppm terms, so both engines agree bit-exactly (the paper's float
    ratios differ only in the truncation).

    100 TB shape: the phrase-occurrence frame (narrow: phrase text +
    width) is materialized ONCE and feeds both the word-stats branch
    and the distinct-phrase branch — documents parses exactly once;
    word stats are a map-side-combinable keyed agg; the scoring join
    keys on bounded-length phrases.
    """
    from dblab_ece_trino_spark.session import materialize

    phrases = materialize(
        docs.selectExpr(
            "explode(filter(transform(split(regexp_replace({t},"
            " '\\\\b({sw})\\\\b', '|'), '\\\\|'),"
            " x -> trim(x)), x -> x != '')) AS phrase".format(
                t=text_col, sw="|".join(RAKE_STOPWORDS)
            )
        )
        .selectExpr(
            "phrase", "size(split(phrase, ' +')) AS n_words"
        )
        .filter(F.col("n_words") <= RAKE_MAX_WORDS)
    )
    wstats = (
        phrases.selectExpr("explode(split(phrase, ' +')) AS w", "n_words")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("n_words").cast("long").alias("deg"),
        )
        .selectExpr("w", "CAST((deg * 1000000) div freq AS BIGINT) AS wscore")
    )
    dp = phrases.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    scored = (
        dp.selectExpr(
            "phrase", "n_words", "n_occurrences",
            "explode(split(phrase, ' +')) AS w",
        )
        .join(wstats, "w")
        .groupBy("phrase", "n_words", "n_occurrences")
        .agg(F.sum("wscore").cast("long").alias("score_ppm"))
    )
    return (
        scored.orderBy(F.desc("score_ppm"), F.asc("phrase"))
        .limit(RAKE_TOP)
        .select(
            "phrase",
            F.col("n_words").cast("long").alias("n_words"),
            "n_occurrences",
            "score_ppm",
        )
    )


def _q_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rake_keyphrases(documents(spark, sf_dir))


def _rake_oracle() -> str:
    sw = "|".join(RAKE_STOPWORDS)
    return f"""
    WITH phr AS (
      SELECT trim(p) AS phrase,
             CAST(len(string_split_regex(trim(p), ' +')) AS BIGINT)
               AS n_words
      FROM documents,
           unnest(string_split_regex(
             regexp_replace(text, '\\b({sw})\\b', '|', 'g'), '\\|'))
             AS t(p)
      WHERE trim(p) <> ''
        AND len(string_split_regex(trim(p), ' +')) <= {RAKE_MAX_WORDS}
    ),
    wstats AS (
      SELECT w, CAST((sum(n_words) * 1000000) // count(*) AS BIGINT)
               AS wscore
      FROM (SELECT unnest(string_split_regex(phrase, ' +')) AS w, n_words
            FROM phr)
      GROUP BY w
    ),
    dp AS (
      SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM phr GROUP BY phrase, n_words
    ),
    scored AS (
      SELECT d.phrase, d.n_words, d.n_occurrences,
             CAST(sum(s.wscore) AS BIGINT) AS score_ppm
      FROM (SELECT phrase, n_words, n_occurrences,
                   unnest(string_split_regex(phrase, ' +')) AS w
            FROM dp) d
      JOIN wstats s ON s.w = d.w
      GROUP BY d.phrase, d.n_words, d.n_occurrences
    )
    SELECT phrase, n_words, n_occurrences, score_ppm
    FROM scored
    ORDER BY score_ppm DESC, phrase
    LIMIT {RAKE_TOP}
    """


register("text_rake_keyphrases", _q_rake, oracle=_rake_oracle())


# --------------------------------------------- BPE compression curve
BPE_CURVE_KS = (0, 2, 5, 10)


def bpe_compression_curve(docs: DataFrame, ks: tuple = BPE_CURVE_KS) -> DataFrame:
    """Tokenizer compression curve — corpus token counts under PREFIXES
    of the merge table (the Sennrich/GPT-2 merge-count tuning loop's
    measurement: each point answers "what does the corpus cost in
    tokens after the first k merges", and the curve's flattening is
    where additional vocabulary stops paying).  k = 0 is the
    character-level baseline (tokens == chars), k = |table| the full
    vocabulary, so tokens_per_word at the last point reconciles with
    llm_tokenizer_fertility's corpus total by construction.

    Cost shape: ALL curve points ride ONE |V|-row projection — the
    distinct-word frame computes every prefix chain side by side
    (codegen'd array folds, zero shuffles, work |V| x Σk), and the
    corpus-scale work stays one fact scan + one keyed join regardless
    of how many points the curve has.  Token counts are exact integers;
    ratios are ppm floor divisions (replay-exact).
    """
    from dblab_ece_trino_spark.session import materialize

    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.length("w") >= 1)
    dw = materialize(
        words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    # k = 0 must bypass bpe_token_expr: its `merges or BPE_MERGES`
    # default treats the empty prefix as "use the full table"
    vt = dw.select("w").distinct().select(
        "w",
        *[
            (
                F.length("w").cast("long")
                if k == 0
                else F.expr(
                    f"size({bpe_token_expr('w', BPE_MERGES[:k])})"
                ).cast("long")
            ).alias(f"t{k}")
            for k in ks
        ],
    )
    agg = dw.join(vt, "w").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.length("w")).cast("long").alias("n_chars"),
        *[
            F.sum(F.col("cnt") * F.col(f"t{k}")).cast("long").alias(f"s{k}")
            for k in ks
        ],
    )
    stack = ", ".join(f"{k}, s{k}" for k in ks)
    return (
        agg.selectExpr(
            "n_words", "n_chars",
            f"stack({len(ks)}, {stack}) AS (n_merges, n_tokens)",
        )
        .selectExpr(
            "CAST(n_merges AS INT) AS n_merges",
            "n_words", "n_chars", "n_tokens",
            "CAST((n_tokens * 1000000) div n_words AS BIGINT)"
            " AS tokens_per_word_ppm",
            "CAST((n_chars * 1000000) div n_tokens AS BIGINT)"
            " AS chars_per_token_ppm",
            "CAST((n_tokens * 1000000) div n_chars AS BIGINT)"
            " AS compression_vs_chars_ppm",
        )
        .orderBy("n_merges")
    )


def _q_bpe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_compression_curve(documents(spark, sf_dir))


def _bpe_curve_point_sql(k: int) -> str:
    """One curve point as a standalone SELECT (n_merges, totals) —
    the unrolled merge chain of the k-PREFIX, corpus-rolled."""
    if k == 0:
        return """
    SELECT 0 AS n_merges,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * len(w)) AS BIGINT) AS n_chars,
           CAST(sum(cnt * len(w)) AS BIGINT) AS n_tokens
    FROM (
      SELECT w, count(*) AS cnt
      FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
              AS w FROM documents)
      WHERE len(w) >= 1 GROUP BY w
    )"""
    base = _bpe_oracle(BPE_MERGES[:k])
    head, _tail = base.split(f"vt AS (SELECT w, count(*) AS n_tok FROM s{k}")
    return (
        head
        + f"""vt AS (SELECT w, count(*) AS n_tok FROM s{k} GROUP BY w)
    SELECT {k} AS n_merges,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * len(w)) AS BIGINT) AS n_chars,
           CAST(sum(cnt * n_tok) AS BIGINT) AS n_tokens
    FROM dw JOIN vt USING (w)"""
    )


def _bpe_curve_oracle(ks: tuple = BPE_CURVE_KS) -> str:
    points = "\n    UNION ALL\n".join(
        f"SELECT * FROM ({_bpe_curve_point_sql(k)})" for k in ks
    )
    return f"""
    SELECT CAST(n_merges AS INT) AS n_merges, n_words, n_chars, n_tokens,
           CAST((n_tokens * 1000000) // n_words AS BIGINT)
             AS tokens_per_word_ppm,
           CAST((n_chars * 1000000) // n_tokens AS BIGINT)
             AS chars_per_token_ppm,
           CAST((n_tokens * 1000000) // n_chars AS BIGINT)
             AS compression_vs_chars_ppm
    FROM ({points})
    ORDER BY n_merges
    """


register("llm_bpe_compression_curve", _q_bpe_curve,
         oracle=_bpe_curve_oracle())


# ------------------------------------------------------ hapax ratio
def hapax_ratio(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hapax-legomena profile per source — the word-level diversity
    diagnostic (Baayen, "Word Frequency Distributions": the hapax share
    estimates vocabulary growth rate; boilerplate-heavy or
    template-generated sources show collapsed hapax ratios long before
    an exact-dup pass fires): per source, vocabulary size, hapax count
    (frequency exactly 1 WITHIN the source), token count, and the
    ratios in exact ppm.

    One scan, one (source, word) keyed count (map-side combinable),
    one per-source rollup — no windows, no joins; the shuffle carries
    the (source, word) vocabulary, never raw tokens.
    """
    words = docs.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w"),
    ).filter(F.length("w") >= 1)
    wc = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        wc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum((F.col("n") == 1).cast("long")).cast("long")
            .alias("hapax"),
            F.sum("n").cast("long").alias("tokens"),
        )
        .selectExpr(
            "source", "vocab", "hapax", "tokens",
            "CAST((hapax * 1000000) div vocab AS BIGINT)"
            " AS hapax_vocab_ppm",
            "CAST((vocab * 1000000) div tokens AS BIGINT)"
            " AS type_token_ppm",
        )
        .orderBy("source")
    )


def _q_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hapax_ratio(documents(spark, sf_dir))


register(
    "text_hapax_ratio",
    _q_hapax,
    oracle="""
    WITH wc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT source,
                   unnest(string_split_regex(trim(lower(text)), '\\s+'))
                     AS w
            FROM documents)
      WHERE len(w) >= 1
      GROUP BY source, w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(sum(n) AS BIGINT) AS tokens,
           CAST((sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS hapax_vocab_ppm,
           CAST((count(*) * 1000000) // sum(n) AS BIGINT)
             AS type_token_ppm
    FROM wc
    GROUP BY source
    ORDER BY source
    """,
)


# ------------------------------------------- rank-frequency (Zipf) profile
def rank_frequency_profile(
    docs: DataFrame, text_col: str = "text", top_n: int = 10
) -> DataFrame:
    """Zipf rank-frequency profile per source: the top-n word
    frequency table with the rank-frequency product (constant under an
    ideal Zipf s=1 law — the drift of ``zipf_fr`` across ranks is the
    classic template/boilerplate signature) and the cumulative
    token-share of the top ranks in exact ppm (head concentration: a
    source where 10 words cover half the tokens is template noise, the
    same corpus-health axis as text_hapax_ratio from the head end).

    One scan, one (source, word) count (map-side combinable), one
    per-source rank window whose rank <= n filter compiles to
    WindowGroupLimit (per-partition top-k pushdown, never a full
    vocabulary sort materialization), then a cumulative window over
    the n-row-per-source survivor frame.  All-integer output.
    """
    from dblab_ece_trino_spark.session import materialize

    words = docs.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w"),
    ).filter(F.length("w") >= 1)
    # materialized: the vocabulary frame feeds both the token total and
    # the rank window — without the checkpoint the document scan (the
    # data-scale cost) runs twice
    wc = materialize(
        words.groupBy("source", "w").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    tot = wc.groupBy("source").agg(F.sum("n").cast("long").alias("toks"))
    rw = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("w"))
    top = (
        wc.withColumn("r", F.row_number().over(rw))
        .filter(F.col("r") <= top_n)
    )
    cw = Window.partitionBy("source").orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.withColumn("cn", F.sum("n").over(cw))
        .join(tot, "source")
        .selectExpr(
            "source",
            "CAST(r AS INT) AS rank",
            "w AS word",
            "n AS freq",
            "CAST(n * r AS BIGINT) AS zipf_fr",
            "CAST(cn * 1000000 div toks AS BIGINT) AS cum_ppm",
        )
        .orderBy("source", "rank")
    )


def _q_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rank_frequency_profile(documents(spark, sf_dir))


register(
    "text_rank_frequency",
    _q_rank_frequency,
    oracle="""
    WITH wc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT source,
                   unnest(string_split_regex(trim(lower(text)), '\\s+'))
                     AS w
            FROM documents)
      WHERE len(w) >= 1
      GROUP BY source, w
    ),
    tot AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS toks FROM wc GROUP BY source
    ),
    ranked AS (
      SELECT source, w, n,
             row_number() OVER (PARTITION BY source
                                ORDER BY n DESC, w ASC) AS r
      FROM wc
    ),
    top AS (SELECT * FROM ranked WHERE r <= 10),
    cum AS (
      SELECT source, w, n, r,
             sum(n) OVER (PARTITION BY source ORDER BY r
                          ROWS UNBOUNDED PRECEDING) AS cn
      FROM top
    )
    SELECT c.source, CAST(c.r AS INT) AS rank, c.w AS word, c.n AS freq,
           CAST(c.n * c.r AS BIGINT) AS zipf_fr,
           CAST(c.cn * 1000000 // t.toks AS BIGINT) AS cum_ppm
    FROM cum c JOIN tot t ON t.source = c.source
    ORDER BY c.source, rank
    """,
)


# ------------------------------------------------ vocabulary drift (chi2)
def vocab_drift(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Corpus drift monitor: split the corpus into two halves at the
    midpoint of the doc_id range (one min/max aggregate — the
    time_split trick; in production the split key is the ingest date)
    and rank words by the two-proportion chi-square statistic of their
    usage between halves — the standard drift detector a training-data
    pipeline runs between crawls before deciding to re-mix.

    Exactness: the full 2x2-contingency chi-square rides a single
    cross-multiplied integer expression — chi2_e3 = floor(1e3 * N *
    (O1*N2 - O2*N1)^2 / ((O1+O2) * (N-O1-O2) * N1 * N2)) — in
    DECIMAL(38,0) (Spark) / HUGEINT (oracle), no IEEE anywhere, so the
    ranking and the top-n cut replay bit-identically inside an
    EXPLICIT magnitude ceiling: the numerator is bounded by
    1e3 * N * (s * N^2 / 4)^2 for a head word holding share s of its
    half, so with s ~ 0.05 it crosses DECIMAL(38,0) (1e38) around
    N ~ 2e8 tokens per corpus and HUGEINT (1.7e38) just after.  At the
    100x Zipf corpus it peaks ~1e33 — comfortable; past the ceiling
    BOTH engines fail loud rather than diverge (this session runs
    Spark ANSI mode, so decimal overflow raises, as does DuckDB's
    HUGEINT overflow).  A >2e8-token deployment would shard the drift
    monitor by ingest window (the production split key) before the
    per-word frame ever sees a corpus that big.  Words below
    ``min_count`` total occurrences are pruned first (chi-square
    validity floor).

    Shape: ONE scan into a (word, half) count (map-side combinable),
    totals broadcast, per-word arithmetic, then a DISTRIBUTED top-n
    (orderBy + limit compiles to TakeOrderedAndProject — no
    single-partition window over the vocabulary) with the rank column
    added over the n-row survivor frame.
    """
    from dblab_ece_trino_spark.session import materialize

    span = docs.agg(
        F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1")
    ).withColumn("__j", F.lit(1))
    words = (
        docs.withColumn("__j", F.lit(1))
        .join(F.broadcast(span), "__j")
        .select(
            F.expr("CASE WHEN doc_id <= (d0 + d1) div 2 THEN 0 ELSE 1 END")
            .alias("half"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w"),
        )
        .filter(F.length("w") >= 1)
    )
    wc = materialize(
        words.groupBy("w").agg(
            F.sum(F.expr("CASE WHEN half = 0 THEN 1 ELSE 0 END"))
            .cast("long").alias("o1"),
            F.sum(F.expr("CASE WHEN half = 1 THEN 1 ELSE 0 END"))
            .cast("long").alias("o2"),
        )
    )
    tot = wc.agg(
        F.sum("o1").cast("long").alias("n1"),
        F.sum("o2").cast("long").alias("n2"),
    ).withColumn("__j", F.lit(1))
    scored = (
        wc.filter(F.col("o1") + F.col("o2") >= min_count)
        .withColumn("__j", F.lit(1))
        .join(F.broadcast(tot), "__j")
        .selectExpr(
            "w AS word", "o1", "o2",
            """CAST((1000 * CAST(n1 + n2 AS DECIMAL(38,0))
                     * (CAST(o1 AS DECIMAL(38,0)) * n2
                        - CAST(o2 AS DECIMAL(38,0)) * n1)
                     * (CAST(o1 AS DECIMAL(38,0)) * n2
                        - CAST(o2 AS DECIMAL(38,0)) * n1))
                div (CAST(o1 + o2 AS DECIMAL(38,0))
                     * (CAST(n1 + n2 AS DECIMAL(38,0)) - o1 - o2)
                     * CAST(n1 AS DECIMAL(38,0)) * n2)
               AS BIGINT) AS chi2_e3""",
        )
    )
    top = scored.orderBy(
        F.desc("chi2_e3"), F.asc("word")
    ).limit(top_n)
    w = Window.orderBy(F.desc("chi2_e3"), F.asc("word"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "word", "o1", "o2", "chi2_e3")
        .orderBy("rank")
    )


def _q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_drift(documents(spark, sf_dir))


register(
    "text_vocab_drift",
    _q_vocab_drift,
    oracle="""
    WITH span AS (SELECT min(doc_id) AS d0, max(doc_id) AS d1
                  FROM documents),
    words AS (
      SELECT CASE WHEN doc_id <= (s.d0 + s.d1) // 2 THEN 0 ELSE 1 END
               AS half,
             w
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+'))
                     AS w
            FROM documents) t CROSS JOIN span s
      WHERE len(w) >= 1
    ),
    wc AS (
      SELECT w,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS o1,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS o2
      FROM words GROUP BY w
    ),
    tot AS (
      SELECT CAST(sum(o1) AS BIGINT) AS n1, CAST(sum(o2) AS BIGINT) AS n2
      FROM wc
    ),
    scored AS (
      SELECT w AS word, o1, o2,
             CAST((1000 * CAST(n1 + n2 AS HUGEINT)
                    * (CAST(o1 AS HUGEINT) * n2 - CAST(o2 AS HUGEINT) * n1)
                    * (CAST(o1 AS HUGEINT) * n2 - CAST(o2 AS HUGEINT) * n1))
                  // (CAST(o1 + o2 AS HUGEINT)
                      * (CAST(n1 + n2 AS HUGEINT) - o1 - o2)
                      * CAST(n1 AS HUGEINT) * n2)
               AS BIGINT) AS chi2_e3
      FROM wc CROSS JOIN tot
      WHERE o1 + o2 >= 5
    )
    SELECT CAST(row_number() OVER (ORDER BY chi2_e3 DESC, word) AS INT)
             AS rank,
           word, o1, o2, chi2_e3
    FROM scored
    ORDER BY chi2_e3 DESC, word
    LIMIT 20
    """,
)


# ------------------------------------------- language confusion grid (r12)
def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit for the corpus's declared language tags:
    the (labeled, predicted) confusion grid of the n-gram-marker
    language identifier against the metadata `lang` column — the check
    a curation pipeline runs BEFORE trusting crawl-supplied language
    labels for mixture math (mislabeled shards silently skew the
    per-language token budget).  Emits per-cell counts plus the
    cell's share of its labeled row in exact ppm (1e6 * n div
    label_total).

    Shape: the identifier is a pure projection (the text_language_id
    machinery), then ONE grid groupBy (|langs|^2 cells max) and a
    broadcast join of per-label totals — corpus-linear, reduce frame
    bounded by the language-pair grid.
    """
    docs = documents(spark, sf_dir)
    tagged = docs.select(
        F.col("lang").alias("labeled_lang"),
        language_id(F.col("text")).alias("predicted_lang"),
    )
    grid = tagged.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    totals = tagged.groupBy("labeled_lang").agg(
        F.count(F.lit(1)).cast("long").alias("label_total")
    )
    return (
        grid.join(F.broadcast(totals), "labeled_lang")
        .selectExpr(
            "labeled_lang", "predicted_lang", "n_docs", "label_total",
            "CAST(1000000 * n_docs div label_total AS BIGINT) AS cell_ppm",
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


def _lang_confusion_oracle() -> str:
    return f"""
    WITH tagged AS ({_lang_oracle()}),
    grid AS (
      SELECT labeled_lang, predicted_lang,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM tagged GROUP BY labeled_lang, predicted_lang
    ),
    totals AS (
      SELECT labeled_lang, CAST(count(*) AS BIGINT) AS label_total
      FROM tagged GROUP BY labeled_lang
    )
    SELECT g.labeled_lang, g.predicted_lang, g.n_docs, t.label_total,
           CAST(1000000 * g.n_docs // t.label_total AS BIGINT) AS cell_ppm
    FROM grid g JOIN totals t ON t.labeled_lang = g.labeled_lang
    ORDER BY g.labeled_lang, g.predicted_lang
    """


register("text_lang_confusion", _q_lang_confusion,
         oracle=_lang_confusion_oracle())


# ------------------------------------- cross-source vocabulary overlap (r12)
def source_jaccard(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-COMPOSITION diagnostic: pairwise vocabulary Jaccard
    between sources — the redundancy readout a mixture designer reads
    before setting source weights (two sources with near-identical
    vocabularies contribute diversity once, not twice; the temporal
    sibling is text_vocab_drift, the per-source sibling
    text_hapax_ratio).  For each unordered source pair: shared
    vocabulary size, union size, and exact Jaccard ppm.

    Shape at 100 TB: the shuffle carries the (source, word) DISTINCT
    VOCABULARY — never raw tokens (the hapax discipline); the pair
    join is word-keyed (each word contributes its source list, pairs
    expand per word over |sources| at most), and per-source totals
    broadcast onto the |sources|^2/2-row result.  No N^2 in documents
    anywhere.  The vocab frame has THREE consumers (both join sides +
    sizes) — materialized once so Catalyst's CTE inlining cannot
    re-derive the corpus tokenization per consumer (the winnowing/RAKE
    precedent; plan census 4 scans -> 1 before/after).
    """
    from dblab_ece_trino_spark.session import materialize

    vocab = materialize(
        docs.select(
            F.col("source"),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
                )
            ).alias("w"),
        ).distinct()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    a = vocab.select(F.col("source").alias("src_a"), "w")
    b = vocab.select(F.col("source").alias("src_b"), "w")
    common = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")
                        .withColumnRenamed("v", "va")), "src_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_b")
                        .withColumnRenamed("v", "vb")), "src_b")
        .select(
            "src_a", "src_b", "n_common",
            (F.col("va") + F.col("vb") - F.col("n_common"))
            .cast("long").alias("n_union"),
            F.expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_common"
                   " div (va + vb - n_common) AS BIGINT)")
            .alias("jaccard_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


def _q_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_jaccard(documents(spark, sf_dir))


register(
    "text_source_jaccard",
    _q_source_jaccard,
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT d.source, t.w
      FROM documents d,
           unnest(regexp_extract_all(lower(d.text), '[a-z]+')) AS t(w)
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS v
      FROM vocab GROUP BY source
    ),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT c.src_a, c.src_b, c.n_common,
           CAST(sa.v + sb.v - c.n_common AS BIGINT) AS n_union,
           CAST(CAST(1000000 AS HUGEINT) * c.n_common
                // (sa.v + sb.v - c.n_common) AS BIGINT) AS jaccard_ppm
    FROM common c
    JOIN sizes sa ON sa.source = c.src_a
    JOIN sizes sb ON sb.source = c.src_b
    ORDER BY c.src_a, c.src_b
    """,
)


# ------------------------------------- Heaps-law vocabulary growth (r13)
HEAPS_CKPTS = 8


def heaps_growth(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heaps/Herdan vocabulary-growth curve per source — distinct
    vocabulary vs tokens seen at 8 doc-id checkpoints spanning each
    source's id range.  The growth exponent beta (V ~ K * N^beta,
    Heaps 1978) is read off consecutive rows; a source whose curve
    flattens early is template/boilerplate-heavy (the dedup families
    will find it), one that keeps climbing is genuinely diverse — the
    corpus-composition companion to text_hapax_ratio (point-in-time)
    and text_vocab_drift (temporal chi^2).

    Exactness: checkpoints are exact integer thresholds
    T_k = min_id + (max_id - min_id) * k div 8 (non-negative div —
    the Spark div / DuckDB // agreement domain); every reported value
    is an exact count/sum.  Shape (100 TB): NO window and NO rank —
    per-source (min, max) broadcasts onto one conditional-aggregate
    pass of the corpus (8 CASE sums) and one of the word-scale
    first-occurrence frame, each stacked to rows; the shuffle carries
    (source, word, min_doc_id) — the hapax discipline, never raw
    tokens.
    """
    from dblab_ece_trino_spark.session import materialize

    toks = docs.select(
        "source", "doc_id",
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
        ).alias("ws"),
    )
    # Two NARROW frames materialized once (the source_jaccard vocab
    # discipline): per-doc token counts (doc-scale, 3 columns) feed
    # both the stats and checkpoint aggs, the first-occurrence frame
    # is word-scale — left lazy, Catalyst re-tokenizes the corpus once
    # per consumer (census: 4 scans -> 2).
    per_doc = materialize(
        toks.select("source", "doc_id", F.size("ws").alias("ntok"))
    )
    stats = per_doc.groupBy("source").agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    firsts = materialize(
        toks.select(
            "source", "doc_id", F.explode(F.array_distinct("ws")).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.min("doc_id").alias("fd"))
    )

    def thr(k: int):
        return F.expr(f"mn + (mx - mn) * {k} div {HEAPS_CKPTS}")

    tok_aggs, voc_aggs = [], []
    for k in range(1, HEAPS_CKPTS + 1):
        tok_aggs += [
            F.sum(F.when(F.col("doc_id") <= thr(k), 1).otherwise(0))
            .cast("long").alias(f"d_{k}"),
            F.sum(
                F.when(F.col("doc_id") <= thr(k), F.col("ntok")).otherwise(0)
            ).cast("long").alias(f"t_{k}"),
        ]
        voc_aggs.append(
            F.sum(F.when(F.col("fd") <= thr(k), 1).otherwise(0))
            .cast("long").alias(f"v_{k}")
        )
    tk = (
        per_doc.join(F.broadcast(stats), "source")
        .groupBy("source").agg(*tok_aggs)
        .selectExpr(
            "source",
            "stack({}, {}) as (ckpt, n_docs_seen, n_tokens_seen)".format(
                HEAPS_CKPTS,
                ", ".join(f"{k}, d_{k}, t_{k}"
                          for k in range(1, HEAPS_CKPTS + 1)),
            ),
        )
    )
    vc = (
        firsts.join(F.broadcast(stats), "source")
        .groupBy("source").agg(*voc_aggs)
        .selectExpr(
            "source",
            "stack({}, {}) as (ckpt, vocab_size)".format(
                HEAPS_CKPTS,
                ", ".join(f"{k}, v_{k}"
                          for k in range(1, HEAPS_CKPTS + 1)),
            ),
        )
    )
    return (
        tk.join(vc, ["source", "ckpt"])
        .select(
            "source", F.col("ckpt").cast("int").alias("ckpt"),
            "n_docs_seen", "n_tokens_seen",
            F.col("vocab_size").cast("long").alias("vocab_size"),
        )
        .orderBy("source", "ckpt")
    )


def _q_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heaps_growth(documents(spark, sf_dir))


register(
    "text_heaps_law",
    _q_heaps,
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ),
    stats AS (
      SELECT source, min(doc_id) AS mn, max(doc_id) AS mx
      FROM toks GROUP BY source
    ),
    cks AS (
      SELECT unnest(generate_series(1, {HEAPS_CKPTS})) AS ckpt
    ),
    grid AS (
      SELECT source, ckpt,
             mn + (mx - mn) * ckpt // {HEAPS_CKPTS} AS thr
      FROM stats CROSS JOIN cks
    ),
    firsts AS (
      SELECT t.source, w, min(doc_id) AS fd
      FROM toks t, LATERAL (SELECT unnest(list_distinct(ws)) AS w) u
      GROUP BY t.source, w
    ),
    tk AS (
      SELECT g.source, g.ckpt,
             CAST(count(*) FILTER (WHERE t.doc_id <= g.thr) AS BIGINT)
               AS n_docs_seen,
             CAST(coalesce(sum(len(t.ws))
                           FILTER (WHERE t.doc_id <= g.thr), 0) AS BIGINT)
               AS n_tokens_seen
      FROM grid g JOIN toks t ON t.source = g.source
      GROUP BY g.source, g.ckpt
    ),
    vc AS (
      SELECT g.source, g.ckpt,
             CAST(count(*) FILTER (WHERE f.fd <= g.thr) AS BIGINT)
               AS vocab_size
      FROM grid g JOIN firsts f ON f.source = g.source
      GROUP BY g.source, g.ckpt
    )
    SELECT tk.source, CAST(tk.ckpt AS INT) AS ckpt,
           tk.n_docs_seen, tk.n_tokens_seen, vc.vocab_size
    FROM tk JOIN vc ON vc.source = tk.source AND vc.ckpt = tk.ckpt
    ORDER BY tk.source, tk.ckpt
    """,
)


# --------------------------------------- word burstiness (r13)
BURST_TOPK = 15


def word_burstiness(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Word burstiness (Church & Gale 1995): for the corpus's top-K
    words, the variance-to-mean ratio of the per-document count —
    WITH absent documents counted as zero, the convention that makes
    VMR = 1 the Poisson baseline.  Content words are bursty (VMR >> 1:
    they cluster in the few docs about their topic); function words
    are Poisson-ish — so a "stopword" whose VMR spikes marks template
    contamination, and a content word with VMR ~ 1 marks shredded/
    shuffled text.  The per-word companion to ts_dispersion_index
    (same Fano statistic, over time there, over documents here).

    Exactness: with N docs, T = Σc and S = Σc² exact integers,
    VMR = (N·S − T²)/(N·T) — reported as one floored ppm of exact
    integers (non-negative by Cauchy–Schwarz, so div/// agree).
    Shape (100 TB): one tokenize pass → (word, doc) counts (map-side
    combinable), word-keyed rollup, distributed top-K
    (TakeOrderedAndProject — no global single-partition window), the
    N scalar broadcast by the literal.
    """
    n_docs = docs.count()
    counts = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
                )
            ).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_word = counts.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_present"),
        F.sum("c").cast("long").alias("total_count"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq_count"),
    )
    return (
        per_word.orderBy(F.desc("total_count"), F.asc("w"))
        .limit(BURST_TOPK)
        .select(
            F.col("w").alias("word"),
            "n_docs_present", "total_count", "sum_sq_count",
            F.expr(
                f"CAST(CAST(1000000 AS DECIMAL(38,0))"
                f" * (CAST({n_docs} AS DECIMAL(38,0)) * sum_sq_count"
                f"    - CAST(total_count AS DECIMAL(38,0)) * total_count)"
                f" div (CAST({n_docs} AS DECIMAL(38,0)) * total_count)"
                " AS BIGINT)"
            ).alias("vmr_ppm"),
        )
        .orderBy(F.desc("total_count"), F.asc("word"))
    )


def _q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return word_burstiness(documents(spark, sf_dir))


register(
    "text_word_burstiness",
    _q_burstiness,
    oracle=f"""
    WITH n AS (SELECT count(*) AS nd FROM documents),
    counts AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents
      )
      GROUP BY doc_id, w
    ),
    per_word AS (
      SELECT w,
             CAST(count(*) AS BIGINT) AS n_docs_present,
             CAST(sum(c) AS BIGINT) AS total_count,
             CAST(sum(c * c) AS BIGINT) AS sum_sq_count
      FROM counts GROUP BY w
    ),
    topk AS (
      SELECT * FROM per_word
      ORDER BY total_count DESC, w
      LIMIT {BURST_TOPK}
    )
    SELECT w AS word, n_docs_present, total_count, sum_sq_count,
           CAST(CAST(1000000 AS HUGEINT)
                * (CAST(n.nd AS HUGEINT) * sum_sq_count
                   - CAST(total_count AS HUGEINT) * total_count)
                // (CAST(n.nd AS HUGEINT) * total_count) AS BIGINT)
             AS vmr_ppm
    FROM topk CROSS JOIN n
    ORDER BY total_count DESC, word
    """,
)
