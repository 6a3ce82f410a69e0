"""Round-16 optimization equivalence pins.

Every optimization this round restructures HOW an entry computes, never
WHAT it computes — these tests pin that claim per-value:

- the Holt / Holt-Winters driver kernels against their distributed
  WITH RECURSIVE twins (bit-identical IEEE sequences);
- the Markov stationary kernel against the DuckDB oracle;
- the shared char-9 shingle index consumers (prefix filter /
  containment) against their index-free forms;
- the hashed-shingle contamination rate against the string-keyed
  oracle.
"""

from __future__ import annotations

from tests.conftest import SF_SMALL, assert_matches_oracle, duck_for


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_holt_trend_kernel_equals_recursive_sql(spark):
    from dblab_ece_trino_spark.operators.registry import spark_queries

    fn = spark_queries()["ts_holt_trend"]
    got = _collect_sorted(fn(spark, SF_SMALL))
    want = _collect_sorted(fn.recursive_sql_twin(spark, SF_SMALL))
    assert got == want
    assert got, "empty result"


def test_holtwinters_kernel_equals_recursive_sql(spark):
    from dblab_ece_trino_spark.operators.registry import spark_queries

    fn = spark_queries()["ts_holtwinters"]
    got = _collect_sorted(fn(spark, SF_SMALL))
    want = _collect_sorted(fn.recursive_sql_twin(spark, SF_SMALL))
    assert got == want
    assert got, "empty result"


def test_markov_kernel_matches_oracle(spark, duck):
    from dblab_ece_trino_spark.operators.registry import (
        oracle_queries,
        spark_queries,
    )

    cur = duck_for(duck, SF_SMALL)
    assert_matches_oracle(
        spark_queries()["op_markov_stationary"](spark, SF_SMALL),
        cur,
        oracle_queries()["op_markov_stationary"],
    )


def test_prefix_filter_shared_index_equals_unshared(spark):
    from dblab_ece_trino_spark.operators.registry import documents
    from dblab_ece_trino_spark.operators.dedup import (
        prefix_filter_pairs,
        shared_shingle_index,
    )

    docs = documents(spark, SF_SMALL)
    idx = shared_shingle_index(spark, SF_SMALL)
    got = _collect_sorted(prefix_filter_pairs(docs, index=idx))
    want = _collect_sorted(prefix_filter_pairs(docs))
    assert got == want


def test_containment_shared_index_equals_unshared(spark):
    from dblab_ece_trino_spark.operators.registry import documents
    from dblab_ece_trino_spark.operators.dedup import (
        containment_pairs,
        shared_shingle_index,
    )

    docs = documents(spark, SF_SMALL)
    idx = shared_shingle_index(spark, SF_SMALL)
    got = _collect_sorted(containment_pairs(docs, index=idx))
    want = _collect_sorted(containment_pairs(docs))
    assert got == want


def test_contamination_rate_hashed_matches_oracle(spark, duck):
    from dblab_ece_trino_spark.operators.registry import (
        oracle_queries,
        spark_queries,
    )

    cur = duck_for(duck, SF_SMALL)
    assert_matches_oracle(
        spark_queries()["sample_contamination_rate"](spark, SF_SMALL),
        cur,
        oracle_queries()["sample_contamination_rate"],
    )


def test_price_percentile_family_matches_oracle(spark, duck):
    """The shared price histogram + cumulative rank (r16) feeds
    winsorize / MAD / boxplot — all three must still replay their
    oracles exactly."""
    from dblab_ece_trino_spark.operators.registry import (
        oracle_queries,
        spark_queries,
    )

    cur = duck_for(duck, SF_SMALL)
    qs, oq = spark_queries(), oracle_queries()
    for name in ("op_winsorize", "op_mad_outliers", "op_boxplot_stats"):
        assert_matches_oracle(qs[name](spark, SF_SMALL), cur, oq[name])


def test_shared_price_cum_thresholds_equal_direct(spark):
    """thresholds_from_cum over the shared rank == the direct
    grouped_disc_thresholds build on the same histogram."""
    from dblab_ece_trino_spark.operators.analytics import (
        grouped_disc_thresholds,
        shared_price_cum,
        thresholds_from_cum,
    )

    vf, cum = shared_price_cum(spark, SF_SMALL)
    fr = {"lo": (1, 20), "q1": (1, 4), "med": (1, 2), "hi": (19, 20)}
    got = _collect_sorted(thresholds_from_cum(cum, "l_returnflag", "c", fr))
    want = _collect_sorted(grouped_disc_thresholds(vf, "l_returnflag", "c", fr))
    assert got == want
    assert got


def test_gopher_chained_glen_short_docs(spark):
    """The r16 chained-glen re-plan of gopher_repetition must replicate
    the old slice-fold semantics on docs SHORTER than the gram sizes
    (the truncated single-gram branch): glen == sum(token lens) +
    n_gram_tokens - 1 for every gram, full or truncated."""
    from dblab_ece_trino_spark.operators.llmprep import gopher_repetition

    texts = [
        "a", "ab cd", "x yz w", "aa bb cc dd", "q w e r t",
        "a b c d e f", "aa b ccc d ee f g", "1 22 333 4444 5 66 77 8",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}

    for i, t in enumerate(texts):
        toks = t.split()
        sz = len(toks)
        chars = len(t)
        for n in (2, 3, 4, 5, 6):
            grams = (
                [toks[j:j + n] for j in range(sz - n + 1)]
                if sz >= n
                else [toks[:n]]
            )
            from collections import Counter

            cnt = Counter(tuple(g) for g in grams)
            glen = {
                tuple(g): sum(len(x) for x in g) + len(g) - 1 for g in grams
            }
            top = max(
                (c, c * glen[g]) for g, c in cnt.items()
            )
            dup = sum(c * glen[g] for g, c in cnt.items() if c >= 2)
            col = {2: "top2_ppm", 3: "top3_ppm", 4: "top4_ppm"}.get(n)
            if col:
                assert got[i][col] == top[1] * 1_000_000 // chars, (i, n)
            col = {5: "dup5_ppm", 6: "dup6_ppm"}.get(n)
            if col:
                assert got[i][col] == dup * 1_000_000 // chars, (i, n)


def test_lsh_funnel_reused_stages_match_oracle(spark, duck):
    from dblab_ece_trino_spark.operators.registry import (
        oracle_queries,
        spark_queries,
    )

    cur = duck_for(duck, SF_SMALL)
    assert_matches_oracle(
        spark_queries()["dedup_lsh_precision"](spark, SF_SMALL),
        cur,
        oracle_queries()["dedup_lsh_precision"],
    )
