"""Deduplication operators for large-scale training-data pipelines.

Five families, all designed shuffle-first for the 100 TB target:

- exact:     hash-groupBy on a canonical fingerprint (md5 of the text).
             One shuffle on the fingerprint; partial aggregation makes the
             map side emit one row per (partition, fingerprint).
- n-gram Jaccard: exact pairwise similarity via the *sparse* path —
             explode distinct shingles, self-join on shingle, count
             intersections.  Shuffles on the shingle value; a stop-shingle
             cap (``max_shingle_df``) bounds the worst-case join fan-out,
             which is the thing that actually kills this at scale.
- MinHash + LSH: per-doc signature of K min-hashes (pure JVM expressions:
             xxhash64 -> (a*x+b) mod p -> array_min), banded into B bands
             of R rows; candidate pairs meet in a groupBy on
             (band, band_hash) — O(n) shuffle instead of O(n^2) compare —
             then are verified with exact Jaccard.
- SimHash:   64-bit signature from signed per-bit token-hash sums;
             near-dup candidates share a 16-bit band (4 bands => any pair
             within Hamming distance 3 collides in >=1 band).
- embedding cosine: exact threshold self-join for correctness; the
             LSH-bucketed scale path lives in operators/similarity.py.

The reference stack has no dedup surface — these extend it (BASELINE.json
north star).  MinHash/SimHash signatures are engine-specific (xxhash64
seeds), so those entries register rows-only; exact/Jaccard/embedding
entries carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dblab_ece_trino_spark.operators.registry import documents, register
from dblab_ece_trino_spark.session import shared_build

# ------------------------------------------------------------------ shingles
def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams of ``text`` as an array<string>.

    Pure JVM expression (sequence/transform/substring) — no Python in the
    hot path; at scale this is one codegen'd projection per row.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(text, i, n)))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams — the standard unit for web-scale text dedup
    (char n-grams over a small vocabulary make *every* pair look similar;
    word shingles discriminate).  JVM-side: split + sliding concat."""
    toks = F.split(F.trim(text), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def shingles(text: Column, n: int, mode: str) -> Column:
    if mode == "char":
        return char_shingles(text, n)
    if mode == "word":
        return word_shingles(text, n)
    raise ValueError(f"unknown shingle mode: {mode!r}")


def shingle_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    mode: str = "char",
) -> DataFrame:
    """(id, shingle) exploded — the sparse representation all similarity
    paths share.  Distinct per doc, so join counts are set intersections."""
    return docs.select(
        F.col(id_col).alias("sid"),
        F.explode(shingles(F.col(text_col), n, mode)).alias("shingle"),
    )


# -------------------------------------------------------------- exact dedup
def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest id per exact-content group (md5 fingerprint).

    One hash-shuffle on the fingerprint; survives 100 TB because the
    map-side partial agg reduces each partition to its distinct
    fingerprints before the exchange.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


# ------------------------------------------------------- exact n-gram Jaccard
def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int | str | None = 1000,
    mode: str = "char",
) -> DataFrame:
    """All pairs (a < b) with n-gram Jaccard >= threshold, computed exactly.

    Sparse similarity join: |A ∩ B| from a self-join on shingle, sizes from
    a per-doc count, jaccard = inter / (|A| + |B| - inter).  The self-join
    shuffles on the shingle value; ``max_shingle_df`` drops shingles shared
    by more than that many docs (stop-shingles) — they contribute little
    discrimination but quadratic join blow-up, the classic scale fix.

    An ABSOLUTE cap has a corpus-size blind spot (measured in SCALE.md:
    shingles with df just under the cap dominate quadratically at the
    corpus size where their df peaks below it — 91s at sf0.1 for cap
    1000 vs 13s for cap 200).  Pass ``max_shingle_df="auto"`` for a
    corpus-relative cap, max(50, 1% of docs) — the per-shingle join
    fan-in then stays a constant fraction of the corpus at every scale.
    The cap is a documented precision knob, not just a speed knob:
    dropping common shingles shrinks unions, so the Jaccard of the
    remaining rare-shingle sets rises and more pairs clear the
    threshold.
    """
    sh = shingle_table(docs, id_col, text_col, n, mode)
    if max_shingle_df == "auto":
        max_shingle_df = max(50, docs.count() // 100)
    if max_shingle_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = (
            sh.join(df_counts.filter(F.col("df") <= max_shingle_df), "shingle")
            .drop("df")
        )
    # Deliberately NOT materialized (measured, not assumed): the plan
    # census counts 8 scans here because sizes + both self-join sides
    # re-derive the shingle lineage, but the scans are cheap column-
    # pruned parquet reads and Catalyst shares the expensive shingle
    # shuffle between the two self-join sides via ReusedExchange.
    # Checkpointing the exploded shingle table was tried and REGRESSED
    # ~6x at sf0.1: ExistingRDD loses the hash-partitioning contract, so
    # both join sides re-shuffle the 10M-row shingle frame that the lazy
    # plan shuffles once — the opposite economics of the curate
    # pipeline, whose re-derived lineage crossed shuffle boundaries.
    sizes = sh.groupBy("sid").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("sid", "id_a")
                   .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("sid", "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------ MinHash + LSH
def _minhash_fold_kernel(src: DataFrame, num_hashes: int) -> DataFrame:
    """Vectorized Arrow replacement for the K-salt minhash fold:
    (sid, hs: array<bigint> of JVM xxhash64 shingle hashes) ->
    (sid, sig: array<bigint>), bit-identical to the JVM
    ``aggregate(hs, [MAX..], zip_with(least))`` expression (round-17
    optimization, guide §4.2: hand whole batches to vectorized native
    code).

    The JVM fold evaluates the higher-order lambda INTERPRETED: per
    shingle it computes K salted hashes AND allocates a K-long boxed
    array for the zip_with accumulator — measured 5.4 s for the
    chunk-grain signature stage at sf0.1 (14.6k chunks x ~14 shingles
    x 64 salts).  This kernel computes the identical numbers with
    numpy: Spark's two-arg ``xxhash64(x, lit(k))`` is
    ``XXH64.hashInt(k, XXH64.hashLong(x, 42))`` (both finalization
    formulas verified bit-for-bit against the JVM on 4k random longs x
    4 seeds before adoption — see tests/test_round17_opt.py for the
    per-value pin), the inner hashLong is computed ONCE per shingle
    (the JVM form recomputes nothing either — salts only enter the
    outer hashInt), each of the K outer hashes is ~8 vector ops over
    the flat shingle-hash stream, and the per-document minima come
    from ``np.minimum.reduceat`` over the int64 VIEW — signed
    comparisons, exactly the JVM ``least`` semantics.  Only (sid, hs)
    crosses the Python boundary — 8-byte keys, never text.

    A null ``hs`` row (null text) gets a null ``sig``, as in the JVM
    fold.  ``sid`` keeps its input type, which must be integral.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegralType

    sid_type = src.schema["sid"].dataType
    if not isinstance(sid_type, IntegralType):
        raise TypeError(
            "minhash kernel needs an integral id column, got "
            + sid_type.simpleString()
        )

    mask = (1 << 64) - 1
    p1 = 0x9E3779B185EBCA87
    p2 = 0xC2B2AE3D27D4EB4F
    p3 = 0x165667B19E3779F9
    p4 = 0x85EBCA77C2B2AE63
    p5 = 0x27D4EB2F165667C5
    # hashInt's seed-independent term, precomputed in python ints (no
    # numpy scalar-overflow warnings): (k & 0xFFFFFFFF) * PRIME64_1
    salt_terms = [np.uint64((k * p1) & mask) for k in range(num_hashes)]
    long_max = (1 << 63) - 1

    def gen(batches):
        p1u, p2u, p3u, p4u, p5u = map(np.uint64, (p1, p2, p3, p4, p5))
        c4, c8, c23, c27, c29, c31, c32, c33, c64 = map(
            np.uint64, (4, 8, 23, 27, 29, 31, 32, 33, 64)
        )
        seed = np.uint64(42)

        def avalanche(h):
            h = (h ^ (h >> c33)) * p2u
            h = (h ^ (h >> c29)) * p3u
            return h ^ (h >> c32)

        for pdf in batches:
            nrow = len(pdf)
            if nrow == 0:
                continue
            arrs = pdf["hs"].to_numpy()
            valid = pdf["hs"].notna().to_numpy()
            lens = np.fromiter(
                (len(a) if ok else 0 for a, ok in zip(arrs, valid)),
                dtype=np.int64,
                count=nrow,
            )
            total = int(lens.sum())
            starts = np.zeros(nrow, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            nonempty = lens > 0
            idx = starts[nonempty]
            sig = np.full((num_hashes, nrow), long_max, dtype=np.int64)
            if total:
                flat = np.concatenate(
                    [np.asarray(a, dtype=np.int64) for a in arrs[nonempty]]
                ).view(np.uint64)
                # inner = XXH64.hashLong(x, 42), once per shingle
                k1 = flat * p2u
                k1 = ((k1 << c31) | (k1 >> (c64 - c31))) * p1u
                h = (seed + p5u + c8) ^ k1
                h = ((h << c27) | (h >> (c64 - c27))) * p1u + p4u
                inner = avalanche(h)
                for k in range(num_hashes):
                    # outer = XXH64.hashInt(k, inner)
                    h = (inner + p5u + c4) ^ salt_terms[k]
                    h = ((h << c23) | (h >> (c64 - c23))) * p2u + p3u
                    hv = avalanche(h).view(np.int64)
                    sig[k, nonempty] = np.minimum.reduceat(hv, idx)
            sig_t = np.ascontiguousarray(sig.T)
            yield pd.DataFrame(
                {
                    "sid": pdf["sid"],
                    "sig": [sig_t[i] if valid[i] else None for i in range(nrow)],
                }
            )

    return src.mapInPandas(
        gen, f"sid {sid_type.simpleString()}, sig array<bigint>"
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
    mode: str = "word",
    kernel: bool = False,
) -> DataFrame:
    """(id, sig: array<bigint>) — K min-hash values per document.

    Entirely codegen'd projection, no shuffle — which is why MinHash is
    the scalable front door to dedup at 100 TB.  Word shingles by
    default — the web-pipeline standard; char mode for CJK-like text.

    The K "permutations" are full-width salted hashes:
    ``xxhash64(shingle_hash, k)`` for k in [0, K).  An affine family
    ``(a*x+b) mod p`` with a, b, x < 2^31 — the classic construction
    sized down to dodge ANSI int64 overflow — is NOT usable here: a*x+b
    wraps the modulus at most once, so the map is piecewise-monotone in
    x with two pieces, every permutation's argmin collapses onto the
    extreme x values, and the K signature slots are strongly correlated
    instead of independent.  Observed live before the fix: a true
    j=0.93 pair whose signature agreement measured 0.16 (expected
    ≈0.93) — dropped by both banding and the estimate gate.  xxhash64
    re-mixes all 64 bits per salt, restoring per-permutation
    independence, with no overflow constraint and one codegen'd call
    per (shingle, k).
    """
    hashes = F.transform(
        shingles(F.col(text_col), n, mode), lambda s: F.xxhash64(s)
    )

    # kernel=True routes the K-salt fold through the Arrow numpy kernel
    # (bit-identical values — see _minhash_fold_kernel; adopted for the
    # chunk-grain consumer in round 17).  String shingling + the
    # per-shingle xxhash64 stay JVM/codegen either way, so only
    # (id, 8-byte hash array) ever crosses the Python boundary.
    if kernel:
        return _minhash_fold_kernel(
            docs.select(F.col(id_col).alias("sid"), hashes.alias("hs")),
            num_hashes,
        )

    # The K salts live in one literal array and the K salted hashes come
    # from ONE transform over it — not K separate expressions.  The
    # expression tree is ~K× smaller, which cuts whole-stage-codegen
    # compile time from seconds to tenths (the fixed cost that dominated
    # the LSH bench entry at small SF).
    salts = F.array(*[F.lit(k) for k in range(num_hashes)])

    def perms_of(x):
        # all K salted hashes of one shingle hash, as an array
        return F.transform(salts, lambda k: F.xxhash64(x, k))

    # Single pass over the shingle array: fold with an elementwise min of
    # the K salted hashes.  (The naive form — K array_min(transform(...))
    # — re-evaluates the shingle/xxhash64 array K times after Catalyst's
    # CollapseProject inlining: ~64x the work.  One fold keeps each
    # shingle hashed exactly once.)
    sig = F.aggregate(
        hashes,
        F.array_repeat(F.lit((1 << 63) - 1), num_hashes),
        lambda acc, x: F.zip_with(acc, perms_of(x), lambda m, v: F.least(m, v)),
    )
    return docs.select(F.col(id_col).alias("sid"), sig.alias("sig"))


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 16,
    rows: int = 4,
    max_bucket: int | None = 200,
) -> DataFrame:
    """Candidate pairs from banded LSH over minhash signatures.

    Explode each signature into (band_id, band_hash) keys and meet in a
    shuffle on that key — O(n·bands) rows instead of O(n²) comparisons.
    With 16 bands × 4 rows, a pair at Jaccard 0.7 collides with p ≈ 0.99.

    ``max_bucket`` drops buckets holding more than that many docs before
    the pair join: a hot bucket of size m contributes m²/2 pairs, so a
    single degenerate band-hash (boilerplate-heavy corpora produce them)
    can dominate the whole job.  Dropping it loses nothing in practice —
    any truly similar pair collides in several *other* bands — and bounds
    the worst case, which is what matters at 100 TB.
    """
    # One transform over sequence(0, bands-1) instead of `bands` separate
    # struct expressions — same ~K× expression-tree shrink as the
    # signature fold, halving the banding stage's codegen+eval cost.
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.struct(
            j.alias("band"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice("sig", j * rows + 1, rows),
                        lambda v: v.cast("string"),
                    ),
                    ",",
                )
            ).alias("bh"),
        ),
    )
    banded = sigs.select("sid", F.explode(band_keys).alias("bk")).select(
        "sid", "bk.band", "bk.bh"
    )
    from dblab_ece_trino_spark.session import materialize

    banded = materialize(banded)  # consumed 2-3x (sizes + both join sides)
    if max_bucket is not None:
        sizes = banded.groupBy("band", "bh").agg(F.count("*").alias("bn"))
        banded = (
            banded.join(
                sizes.filter(F.col("bn") <= max_bucket), ["band", "bh"]
            ).drop("bn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .distinct()
    )


def dedup_minhash_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    n: int = 3,
    mode: str = "word",
    max_bucket: int | None = 200,
    sigs: DataFrame | None = None,
    cands: DataFrame | None = None,
    est: DataFrame | None = None,
    sig_kernel: bool = False,
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified with exact n-gram Jaccard.

    The verify stage is two-phase: a cheap signature-agreement estimate
    (fraction of equal minhashes, an unbiased Jaccard estimator — one
    zip_with over two 64-long arrays) prunes the candidate set, and only
    survivors pay the exact array-intersection.  On corpora with a shared
    register (boilerplate, templates) LSH banding alone passes far too
    many borderline pairs; the estimate gate removes ~all of them for the
    cost of 64 comparisons each.

    ``sigs`` / ``cands`` / ``est`` accept the caller's already-built
    (materialized) stage frames so a consumer that needs the
    intermediate stages too (lsh_funnel_metrics counts all three funnel
    levels) doesn't rebuild the identical pipeline a second time
    (round-16 optimization; construction is deterministic, so reuse is
    value-identical).  PROVENANCE CONTRACT (r16 advice): an injected
    frame MUST have been built by the corresponding stage of THIS
    function with the same (num_hashes, bands, rows, n, mode,
    threshold, max_bucket) — nothing validates that here, and a
    mismatched injection silently yields wrong pairs.  Callers other
    than lsh_funnel_metrics should pass docs only.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    docs = ensure_parallelism(docs)
    # materialize between stages: each self-join side re-embeds the full
    # lineage, so without truncation the 64-permutation projection gets
    # re-codegen'd (seconds of compile) per consumer.  Signatures are K
    # longs per doc — tiny relative to the corpus.
    if sigs is None:
        sigs = materialize(
            minhash_signatures(
                docs, id_col, text_col, num_hashes, n, mode,
                kernel=sig_kernel,
            )
        )
    if cands is None:
        cands = materialize(lsh_candidate_pairs(sigs, bands, rows, max_bucket))
    est_margin = 0.15  # estimator std at K=64 is ~sqrt(s(1-s)/64) <= 0.063
    if est is None:
        est = (
            cands.join(
                sigs.select(
                    F.col("sid").alias("id_a"), F.col("sig").alias("sig_a")
                ),
                "id_a",
            )
            .join(
                sigs.select(
                    F.col("sid").alias("id_b"), F.col("sig").alias("sig_b")
                ),
                "id_b",
            )
            .withColumn(
                "est",
                F.aggregate(
                    F.zip_with(
                        "sig_a",
                        "sig_b",
                        lambda x, y: F.when(x == y, 1).otherwise(0),
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                )
                / F.lit(num_hashes),
            )
            .filter(F.col("est") >= threshold - est_margin)
            .select("id_a", "id_b")
        )
        est = materialize(est)  # consumed 2-3× below (adaptive gate + joins)
    # exact verify via array intersection on the estimate-surviving set.
    # Shingles are hashed to bigints: the arrays shipped through the two
    # pair-joins shrink ~3× (8-byte longs vs shingle strings) and
    # array_intersect compares longs instead of strings — at x30 scale the
    # verify join is the dominant stage, and it is shuffle- and
    # intersect-bound.  Jaccard over hashed distinct shingles equals
    # Jaccard over the shingles themselves up to xxhash64 collisions
    # (~1e-19 per pair — below any practical threshold granularity).
    #
    # ADAPTIVE VERIFY PRUNE: when the surviving candidates touch a
    # minority of the corpus (the real-corpus case — dup rates are
    # single-digit percent at web scale), a semi-join on the candidate id
    # set makes the re-shingle O(candidate docs) instead of O(corpus);
    # at 100 TB that second full-corpus shingle pass would rival the
    # signature stage itself.  When candidates span most of the corpus
    # (dup-storm workloads — the x10/x30 replica stress sets), the
    # semi-join prunes nothing and only adds a shuffle, so the gate
    # (cheap counts over two localCheckpointed frames) keeps the direct
    # full-corpus shingle path.
    # gate counts are near-free: sigs and cands are localCheckpointed.
    # cands (pre-estimate) over-counts the surviving pairs, which only
    # errs toward the safe side (skipping the prune).
    n_docs = sigs.count()
    n_pairs = cands.count()
    verify_src = docs
    if 2 * n_pairs < n_docs // 2:
        cand_ids = (
            est.select(F.col("id_a").alias("cid"))
            .union(est.select(F.col("id_b").alias("cid")))
            .distinct()
        )
        verify_src = docs.join(
            cand_ids, docs[id_col] == cand_ids.cid, "left_semi"
        )
    arrs = materialize(
        verify_src.select(
            F.col(id_col).alias("sid"),
            F.transform(
                shingles(F.col(text_col), n, mode), lambda s: F.xxhash64(s)
            ).alias("sh"),
        )
    )
    return (
        est.join(arrs.select(F.col("sid").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(arrs.select(F.col("sid").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------------- SimHash
def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """(id, simhash: bigint) — classic Charikar simhash over word tokens.

    Per-bit signed sums expressed as one aggregate-free projection:
    for each bit, sum over tokens of ±1 depending on the token hash bit,
    via array transform + aggregate — all JVM-side, no shuffle.
    """
    toks = F.split(F.col(text_col), r"\s+")
    th = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_sum(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    bit_cols = []
    for bit in range(bits):
        mask = (1 << bit) if bit < 63 else -(1 << 63)
        contrib = F.aggregate(th, F.lit(0).cast("long"), bit_sum(mask))
        bit_cols.append(
            F.when(contrib > 0, F.lit(mask)).otherwise(0).cast("long")
        )
    # OR the bit contributions together by summing (disjoint bits)
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig + c
    return docs.select(F.col(id_col).alias("sid"), sig.alias("simhash"))


def simhash_candidate_pairs(sigs: DataFrame, band_bits: int = 16) -> DataFrame:
    """Pairs sharing at least one 16-bit band of the simhash (any pair at
    Hamming distance <= 3 is guaranteed to collide in >= 1 of 4 bands)."""
    bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        "sid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftrightunsigned("simhash", j * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("sid", "bk.band", "bk.bh")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .distinct()
    )


def hamming64(x: Column, y: Column) -> Column:
    return F.bit_count(x.bitwiseXOR(y))


# ------------------------------------------------- embedding cosine near-dup
def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    return dot / (na * nb)


def dedup_embedding_cosine(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine-threshold pairs (a < b) — the correctness baseline.

    O(n²) compare: valid as the verification oracle and for modest n; the
    scale path is the LSH-bucketed variant in operators/similarity.py,
    which meets candidates in hyperplane-sign buckets first.
    """
    v = emb.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# ------------------------------------------------------------ query entries
def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The corpus has no byte-identical dups, so the entry doubles part of it
    # (UNION ALL with a shifted-id copy) to prove collapse actually happens.
    docs = documents(spark, sf_dir)
    doubled = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    return dedup_exact(doubled).select(
        "fingerprint", "keep_id", "dup_count"
    )


register(
    "dedup_exact",
    _q_dedup_exact,
    oracle="""
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS dup_count
    FROM doubled GROUP BY md5(text)
    """,
)


def _q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(documents(spark, sf_dir), threshold=0.5)


# DuckDB oracle: same semantics, independently expressed with unnest +
# substr (engine-neutral definition of char-5-gram Jaccard).
register(
    "dedup_ngram_jaccard",
    _q_dedup_ngram_jaccard,
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id AS sid, substr(text, i, 5) AS shingle
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-4, 1))) AS i)
    ),
    filtered AS (
      SELECT sid, shingle FROM sh
      WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000)
    ),
    sizes AS (SELECT sid, count(*) AS sz FROM filtered GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, count(*) AS inter
      FROM filtered a JOIN filtered b
        ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY a.sid, b.sid
    )
    SELECT id_a, id_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.sid = id_a
    JOIN sizes sb ON sb.sid = id_b
    WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.5
    """,
)


@shared_build(
    consumers=(
        "dedup_minhash_lsh",
        "dedup_clusters",
        "dedup_cluster_keep",
        "sample_dedup_split_audit",
        "pipeline_dedup_corpus",
    )
)
def shared_minhash_clusters(
    spark: SparkSession, sf_dir: str, threshold: float = 0.7
):
    """ONE fuzzy-dedup pipeline build (exact-verified LSH pairs + the
    connected-component label table), cached per (session, sf_dir,
    threshold) — the shared_ivf_build precedent applied to the dedup
    family: ``dedup_minhash_lsh``, ``dedup_clusters``,
    ``dedup_cluster_keep`` and ``sample_dedup_split_audit`` all measure
    the SAME pairs/labels, so building the shingle->minhash->band->
    verify pipeline up to four times per bench pass was pure waste
    (sf1: ~9 s per consumer).  Deterministic construction (xxhash64
    signatures, exact verify) means reuse is value-identical; both
    frames are materialized so cached references stay valid for the
    life of the session.
    """
    from dblab_ece_trino_spark.session import materialize

    pairs = materialize(
        dedup_minhash_lsh(
            documents(spark, sf_dir), threshold=threshold, max_bucket=None
        )
    )
    labels = materialize(dedup_clusters(pairs))
    return pairs, labels


def _q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=None: the registered entry claims EXACT equality with the
    # all-pairs Jaccard oracle, so the hot-bucket drop (a recall-trading
    # scale device for boilerplate-heavy corpora) is disabled here — a
    # degenerate band bucket may then cost candidate volume but can never
    # cost a true pair.  Production callers keep the default cap.
    return shared_minhash_clusters(spark, sf_dir)[0]


# The LSH signatures themselves are engine-specific (xxhash64), but the
# PIPELINE's output is exact-verified word-3-gram Jaccard pairs — so the
# full exact-Jaccard SQL is a true oracle, provided LSH banding recalls
# every true pair at gate scale.  It does, with margin: at sf0.01 every
# true pair has j ≥ 0.9, where the per-pair miss probability of 16
# bands × 4 rows is (1 − 0.9⁴)¹⁶ ≈ 4·10⁻⁸.  That precondition is now
# CHECKED, not assumed: tests/test_dedup.py::test_minhash_oracle_no_marginal_pairs
# asserts at gate SFs that no true pair falls in the marginal band
# [threshold, 0.85), outside which BOTH remaining probabilistic steps are
# safe — banding recall (miss ≤ 3·10⁻⁵ at j=0.85) and the estimate gate
# (P(est < θ−0.15) ≈ Φ(−(j−0.55)/0.045) ≈ 10⁻¹¹ at j=0.85) — and the
# registered entry disables hot-bucket dropping (max_bucket=None), which
# removes the only deterministic divergence source.  This upgrades the
# entry from the rows-only gate to full value checking: the driver pins
# the verify stage's exactness, banding recall, and the estimate gate.
_MINHASH_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS sid,
             array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i)
    ),
    sizes AS (SELECT sid, count(*) AS sz FROM sh GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY a.sid, b.sid
    )
    SELECT id_a, id_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.sid = id_a
    JOIN sizes sb ON sb.sid = id_b
    WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.7
"""

register("dedup_minhash_lsh", _q_dedup_minhash_lsh, oracle=_MINHASH_ORACLE)


def lsh_funnel_metrics(
    docs: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
) -> DataFrame:
    """LSH funnel quality scoreboard (the sim_recall_at_k counterpart
    for the dedup surface): stage counts of banding -> estimate gate ->
    exact verify, projected to oracle-checkable invariants —

    - ``n_verified``: the exact near-dup pair count (the oracle derives
      the same number from the all-pairs Jaccard SQL, so this pins the
      END of the funnel to ground truth — recall 100% is implied, the
      pair-set equality the dedup_minhash_lsh entry proves row-wise);
    - ``funnel_monotone_ok``: candidates >= estimate-survivors >=
      verified (an inversion means a stage ADDED pairs — broken);
    - ``precision_floor_ok``: verified/candidates clears a ppm floor (a
      collapse means banding degenerated to all-pairs);
    - ``theory_collide_ppm``: the closed-form banding S-curve
      1-(1-s^r)^b at s = threshold, computed by REPEATED SQUARING in
      double (x2=x*x, x4=x2*x2, ... — every step a single IEEE multiply,
      bit-identical cross-engine, unlike pow()), the textbook number the
      measured funnel is judged against.

    Funnel shape: one signature pass, one banding explode, stage counts
    as 1-row aggregates broadcast-joined — no driver collects.  The
    registered form runs on a bounded doc slice (constant plan cost at
    any corpus scale, the dedup_embedding discipline).
    """
    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    docs = ensure_parallelism(docs)
    sigs = materialize(
        minhash_signatures(docs, "doc_id", "text", num_hashes, 3, "word")
    )
    cands = materialize(lsh_candidate_pairs(sigs, bands, rows, None))
    est_margin = 0.15
    est = (
        cands.join(
            sigs.select(F.col("sid").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col("sid").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
        .withColumn(
            "est",
            F.aggregate(
                F.zip_with(
                    "sig_a", "sig_b",
                    lambda x, y: F.when(x == y, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            / F.lit(num_hashes),
        )
        .filter(F.col("est") >= threshold - est_margin)
        .select("id_a", "id_b")
    )
    est = materialize(est)
    # Reuse this funnel's own materialized sigs/cands/est for the verify
    # stage instead of letting dedup_minhash_lsh rebuild the identical
    # pipeline from the docs (round-16: the whole
    # signature->banding->estimate chain ran TWICE per call; the stage
    # constructions are deterministic so reuse is value-identical).
    verified = dedup_minhash_lsh(
        docs, threshold=threshold, num_hashes=num_hashes, bands=bands,
        rows=rows, max_bucket=None, sigs=sigs, cands=cands, est=est,
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(name)).withColumn(
            "__j", F.lit(1)
        )

    # banding S-curve by repeated squaring: s^rows then (1-p)^bands,
    # bands=16 = 4 squarings — exact IEEE doubles on both engines
    s = threshold
    p_band = 1.0
    for _ in range(rows):
        p_band = p_band * s  # still literal-side: fold in Python is fine
    theory = F.lit(1.0) - F.col("__miss16")
    base = F.lit(1.0 - p_band)
    out = (
        cnt(cands, "n_candidates")
        .join(F.broadcast(cnt(est, "n_est")), "__j")
        .join(F.broadcast(cnt(verified, "n_verified")), "__j")
        .withColumn("__x2", base * base)
        .withColumn("__x4", F.col("__x2") * F.col("__x2"))
        .withColumn("__x8", F.col("__x4") * F.col("__x4"))
        .withColumn("__miss16", F.col("__x8") * F.col("__x8"))
        .select(
            "n_verified",
            (
                (F.col("n_candidates") >= F.col("n_est"))
                & (F.col("n_est") >= F.col("n_verified"))
            ).alias("funnel_monotone_ok"),
            (
                F.col("n_verified") * F.lit(1_000_000)
                >= F.lit(2_000) * F.col("n_candidates")
            ).alias("precision_floor_ok"),
            F.floor(theory * F.lit(1_000_000)).cast("long").alias(
                "theory_collide_ppm"
            ),
        )
    )
    return out


def _q_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded slice: constant funnel cost at any corpus scale
    return lsh_funnel_metrics(documents(spark, sf_dir).filter(F.col("doc_id") < 2000))


# Oracle: n_verified from the same exact all-pairs word-3-gram Jaccard
# the dedup_minhash_lsh oracle uses (restricted to the slice), funnel
# booleans as constants, and the S-curve replayed with the identical
# repeated-squaring double arithmetic.
_LSH_FUNNEL_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents WHERE doc_id < 2000
    ),
    sh AS (
      SELECT DISTINCT doc_id AS sid,
             array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i)
    ),
    sizes AS (SELECT sid, count(*) AS sz FROM sh GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY a.sid, b.sid
    ),
    exact AS (
      SELECT count(*) AS n
      FROM inter
      JOIN sizes sa ON sa.sid = id_a
      JOIN sizes sb ON sb.sid = id_b
      WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.7
    ),
    curve AS (
      -- all-DOUBLE repeated squaring (left-assoc, the exact op order
      -- the Spark side uses) — DECIMAL literals would overflow scale
      SELECT x2 * x2 AS x4 FROM (
        SELECT (1.0 - CAST(0.7 AS DOUBLE) * 0.7 * 0.7 * 0.7)
               * (1.0 - CAST(0.7 AS DOUBLE) * 0.7 * 0.7 * 0.7) AS x2
      )
    )
    SELECT CAST(exact.n AS BIGINT) AS n_verified,
           true AS funnel_monotone_ok,
           true AS precision_floor_ok,
           CAST(floor((1.0 - (x4 * x4) * (x4 * x4)) * 1000000) AS BIGINT)
             AS theory_collide_ppm
    FROM exact, curve
"""

register("dedup_lsh_precision", _q_lsh_precision, oracle=_LSH_FUNNEL_ORACLE)


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PLANTED-PAIR INVARIANT ENTRY: simhash values are engine-specific
    # (xxhash64 token hashes), but end-to-end recovery of planted
    # duplicates is a deterministic, oracle-checkable fact.  Every 10th
    # document is copied under a shifted id; an identical text has an
    # identical simhash, lands in identical band buckets, and must
    # therefore surface as a candidate pair at Hamming distance 0 —
    # banding, the signature, and the Hamming verify are all on the hook.
    # Near-dup (perturbed-text) behavior stays covered by pytest
    # (test_simhash_similar_docs_close).
    docs = documents(spark, sf_dir)
    doubled = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    sigs = simhash_signatures(doubled)
    cands = simhash_candidate_pairs(sigs)
    s2 = sigs
    pairs = (
        cands.join(s2.withColumnRenamed("sid", "id_a").withColumnRenamed("simhash", "h_a"), "id_a")
        .join(s2.withColumnRenamed("sid", "id_b").withColumnRenamed("simhash", "h_b"), "id_b")
        .withColumn("hamming", hamming64(F.col("h_a"), F.col("h_b")))
        .filter(F.col("hamming") <= 8)
        .select("id_a", "id_b", "hamming")
    )
    return pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1000000) & (F.col("id_a") % 10 == 0)
    )


register(
    "dedup_simhash",
    _q_dedup_simhash,
    oracle="""
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(0 AS INT) AS hamming
    FROM documents WHERE doc_id % 10 = 0
    """,
)


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCALE-SAFE REGISTERED FORM: the exact all-pairs compare runs over a
    # bounded id-slice (vec_id < 2000 → ≤ ~2M candidate pairs at ANY
    # corpus scale), so the entry's plan cost is a constant, not O(n²) in
    # the table.  The unbounded exact form stays available as the pytest
    # ground truth for the LSH path's recall (tests/test_dedup.py); at
    # scale the production route is similarity.knn_lsh bucketing + exact
    # re-rank.  Threshold 0.4 because the synthetic corpus has no true
    # near-dups (max pairwise cosine ≈ 0.51) — the gate needs rows to bite.
    from dblab_ece_trino_spark.entrypoints import engine_for

    emb = engine_for(spark, sf_dir).catalogs.table("lake.llm.embeddings")
    return dedup_embedding_cosine(emb.filter(F.col("vec_id") < 2000), threshold=0.4)


register(
    "dedup_embedding",
    _q_dedup_embedding,
    # filter on the ROUNDED cosine on both sides so a last-bit float
    # difference between the two engines' fold orders cannot flip a row
    # across the threshold.
    oracle="""
    SELECT id_a, id_b, cos FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 2000 AND b.vec_id < 2000
    ) WHERE cos >= 0.4
    """,
)


def _q_dedup_ngram_jaccard_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    # word 3-gram Jaccard at the MinHash pipeline's threshold: this entry
    # is the oracle-checked ground truth that the LSH path's recall is
    # property-tested against (tests/test_dedup.py)
    return ngram_jaccard_pairs(
        documents(spark, sf_dir), threshold=0.7, n=3, mode="word", max_shingle_df=1000
    )


register(
    "dedup_ngram_jaccard_word",
    _q_dedup_ngram_jaccard_word,
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS sid,
             array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i)
    ),
    filtered AS (
      SELECT sid, shingle FROM sh
      WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000)
    ),
    sizes AS (SELECT sid, count(*) AS sz FROM filtered GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, count(*) AS inter
      FROM filtered a JOIN filtered b
        ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY a.sid, b.sid
    )
    SELECT id_a, id_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.sid = id_a
    JOIN sizes sb ON sb.sid = id_b
    WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.7
    """,
)


# ------------------------------------------------- duplicate clustering
def dedup_clusters(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """Resolve near-dup pairs into clusters: connected components by
    iterative min-label propagation.

    Input: (id_a, id_b) edges.  Output: (sid, cluster) where cluster is
    the minimum doc id reachable — the canonical representative a
    pipeline keeps.  Each iteration is one groupBy shuffle (label = min
    of neighbor labels) plus a POINTER-JUMPING shortcut (label :=
    label-of-label, the standard CC doubling step — a label is always
    the id of a node in the same component, so following it one hop
    stays in-component while halving the distance to the component
    min), cutting rounds from O(diameter) to O(log diameter).
    Convergence is detected WITHOUT a join: each round carries the old
    label through the checkpointed frame and counts changes with a
    plain filter scan over it — the per-round actions are one
    materialize() (truncating lineage; iterative algorithms otherwise
    stack exponential plans — a persist()-only variant was measured 3x
    SLOWER because each round references its parent ~6x and Catalyst
    re-analyzes the multiplied tree) + one cheap count.  On graphs
    whose label table is provably small (one exact count at init) all
    per-round joins run broadcast/map-side; above the bar they stay
    shuffle-based — the 100 TB path, the standard large-scale
    connected-components loop (hash-partitioned label table).
    """
    from dblab_ece_trino_spark.session import materialize

    edges = materialize(
        pairs.select("id_a", "id_b")
        .union(pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
        .distinct()
    )
    labels = materialize(
        edges.select(F.col("id_a").alias("sid"))
        .distinct()
        .withColumn("cluster", F.col("sid"))
    )
    # Size-gated broadcast: the label table's row count is known
    # exactly (one cheap count on the checkpointed frame).  Below the
    # broadcast bar every per-round join runs map-side — no shuffle of
    # the edge frame, ~2 stages per round instead of ~6 — which is the
    # whole cost on a small/slice-bounded graph where per-round job
    # overhead dominates.  Above the bar the joins stay shuffle-based
    # (the 100 TB path; AQE's own runtime conversion misjudges
    # localCheckpoint sizes, so the explicit count is the reliable
    # signal).  Labels monotonically shrink in byte terms never grow,
    # so the decision made once holds for every round.
    small = labels.count() <= 2_000_000
    hint = F.broadcast if small else (lambda df: df)
    for _round in range(max_iter):
        neighbor_min = (
            edges.join(hint(labels), edges.id_b == labels.sid)
            .groupBy(F.col("id_a").alias("sid"))
            .agg(F.min("cluster").alias("nbr_min"))
        )
        stepped = labels.join(hint(neighbor_min), "sid", "left").select(
            "sid",
            F.col("cluster").alias("old"),
            F.least(
                F.col("cluster"), F.coalesce(F.col("nbr_min"), F.col("cluster"))
            ).alias("mid"),
        )
        # pointer jumping against the IN-ROUND mapping: a label is
        # always the id of a node in the same component, so following
        # the round's own sid->label mapping from the current label is
        # safe (stays in-component, monotone non-increasing).  Composing
        # the step with itself twice (s -> s∘s -> (s∘s)∘(s∘s)) covers
        # ~4x the hop distance per round at zero extra ACTIONS — the
        # per-round cost here is driver/job overhead, not data — taking
        # O(diameter) rounds to O(log diameter).
        jumped = stepped.select("sid", "old", F.col("mid").alias("cur"))
        for _hop in range(2):
            jumped = jumped.join(
                hint(stepped.select(
                    F.col("sid").alias("cur"), F.col("mid").alias("nxt")
                )),
                "cur",
                "left",
            ).select(
                "sid",
                "old",
                F.least(
                    F.col("cur"), F.coalesce(F.col("nxt"), F.col("cur"))
                ).alias("cur"),
            )
        new_labels = materialize(
            jumped.select("sid", "old", F.col("cur").alias("cluster"))
        )
        # change detection on the already-checkpointed frame: a filter
        # scan, not a labels-vs-labels join action
        changed = new_labels.filter(F.col("cluster") != F.col("old")).count()
        labels = new_labels.select("sid", "cluster")
        if changed == 0:
            break
    else:
        # Exhausting max_iter with labels still moving means a component's
        # diameter exceeds the round budget — silently returning the
        # partial labels would hand the caller WRONG clusters.
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} iterations "
            f"({changed} labels still changing); raise max_iter (diameter "
            "bound) for this edge set"
        )
    return labels


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same exactness discipline as the dedup_minhash_lsh entry: no
    # hot-bucket dropping where the oracle claims exact pair equality.
    return shared_minhash_clusters(spark, sf_dir)[1]


# The input edge set is the exact-verified Jaccard pairs (deterministic —
# see _MINHASH_ORACLE), so connected components ARE oracle-expressible:
# a recursive-CTE transitive closure over the undirected edges, then
# cluster = min reachable node.  (Closure materialization is fine at
# oracle scale — the gate graph has ~50 nodes; the Spark side stays the
# scalable min-label-propagation loop.)  Union-find equivalence remains
# property-tested in pytest.
_CLUSTERS_ORACLE = (
    """
    WITH RECURSIVE pairs AS ("""
    + _MINHASH_ORACLE
    + """
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
    )
    SELECT a AS sid, least(a, min(b)) AS cluster
    FROM reach
    GROUP BY a
    """
)

register("dedup_clusters", _q_dedup_clusters, oracle=_CLUSTERS_ORACLE)


# ------------------------------------ cluster keeper selection (r12)
def cluster_keep(
    labels: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Canonical-representative selection — the REMOVAL half of the
    fuzzy-dedup path (the transform every Gopher/RefinedWeb-style
    pipeline runs after LSH clustering; the exact-substring sibling is
    ``llm_dup_span_removal``).  ``dedup_clusters`` labels each
    clustered doc with its component; this op picks ONE keeper per
    duplicate cluster by a deterministic rule — max ``quality_col``
    (the pre-computed quality proxy; here the corpus's n_chars
    column), doc_id ascending as the tiebreak — and emits the
    per-cluster keep/drop ledger: (cluster, n_members, keeper_id,
    keeper_chars, removed_docs).  The deduped corpus is then
    "unclustered docs + keeper ids", and kept-cluster count reconciles
    with the component count by construction (asserted in pytest and
    by the oracle).

    Shape: ONE keyed rank (row_number partitioned BY CLUSTER — never a
    global window) over the cluster-label table joined to the doc
    quality column, then one keyed agg.  The label table has one row
    per CLUSTERED doc (near-dup members only, a small fraction of the
    corpus), so at 100 TB this frame is orders smaller than the corpus
    and both the window and the agg shuffle on the same cluster key —
    AQE coalesces the two exchanges into one stage pair.
    """
    from pyspark.sql import Window

    members = labels.join(
        docs.select(
            F.col(id_col).alias("sid"), F.col(quality_col).alias("q")
        ),
        "sid",
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("q"), F.asc("sid"))
    ranked = members.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("sid")))
            .cast("long").alias("keeper_id"),
            F.max(F.when(F.col("rk") == 1, F.col("q")))
            .cast("long").alias("keeper_chars"),
            (F.count(F.lit(1)) - 1).cast("long").alias("removed_docs"),
        )
        .orderBy("cluster")
    )


def _q_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_keep(
        shared_minhash_clusters(spark, sf_dir)[1], documents(spark, sf_dir)
    )


# Same recursive-closure CTE chain as _CLUSTERS_ORACLE, then the keep
# rule replayed relationally: rank inside each component by
# (n_chars DESC, sid ASC), keeper = rank 1.
_CLUSTER_KEEP_ORACLE = (
    """
    WITH RECURSIVE pairs AS ("""
    + _MINHASH_ORACLE
    + """
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
    members AS (
      SELECT l.sid, l.cluster, d.n_chars AS q
      FROM labels l JOIN documents d ON d.doc_id = l.sid
    ),
    ranked AS (
      SELECT sid, cluster, q,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY q DESC, sid) AS rk
      FROM members
    )
    SELECT cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN rk = 1 THEN sid END) AS BIGINT)
             AS keeper_id,
           CAST(max(CASE WHEN rk = 1 THEN q END) AS BIGINT)
             AS keeper_chars,
           CAST(count(*) - 1 AS BIGINT) AS removed_docs
    FROM ranked
    GROUP BY cluster
    ORDER BY cluster
    """
)

register("dedup_cluster_keep", _q_cluster_keep, oracle=_CLUSTER_KEEP_ORACLE)


# -------------------------------------------------- prefix-filter all-pairs
def _verify_intersect_sorted(joined: DataFrame) -> DataFrame:
    """Exact per-pair set-intersection counts over a joined candidate
    frame (id_a, id_b, arr_a, arr_b) whose arrays are SORTED distinct
    bigints -> (id_a, id_b, inter, sz_a, sz_b).

    Arrow-batched numpy searchsorted kernel (round-16 optimization,
    guide §4.2: hand whole batches to vectorized native code).  The
    JVM ``size(array_intersect(a, b))`` expression builds a boxed
    hash set per row — measured 7.5 s for the prefix-filter entry's
    92k-pair / ~278-element verify at sf0.1, vs 3.4 s for this kernel
    on identical inputs (256 identical output rows; pinned in
    tests/test_round16_opt.py via the whole-entry equivalence tests).
    Binary-search membership on sorted arrays is exact integer
    arithmetic — no float, no hashing — so the counts are
    bit-identical to the hash-set form.  Scale shape is unchanged:
    the kernel rides the SAME pair join (no broadcast of corpus-scale
    state; O(cand) rows through the Python boundary, each doing
    O(sz log sz) work).

    SORTEDNESS CONTRACT (r16 advice): searchsorted silently returns
    wrong counts on unsorted input — every caller must build arr_a /
    arr_b with ``sort_array`` (the two in-repo call sites do: the
    shared signature arrays are sort_array'd at construction).
    """
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            inter = np.empty(n, dtype=np.int64)
            sza = np.empty(n, dtype=np.int64)
            szb = np.empty(n, dtype=np.int64)
            aa = pdf["arr_a"].to_numpy()
            bb = pdf["arr_b"].to_numpy()
            for i in range(n):
                a = np.asarray(aa[i], dtype=np.int64)
                b = np.asarray(bb[i], dtype=np.int64)
                sza[i] = a.size
                szb[i] = b.size
                if a.size > b.size:
                    a, b = b, a
                idx = np.searchsorted(b, a)
                idx[idx == b.size] = 0  # out-of-range probes can't match
                inter[i] = int(np.count_nonzero(b[idx] == a))
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"],
                    "id_b": pdf["id_b"],
                    "inter": inter,
                    "sz_a": sza,
                    "sz_b": szb,
                }
            )

    return joined.select("id_a", "id_b", "arr_a", "arr_b").mapInPandas(
        gen, "id_a long, id_b long, inter long, sz_a long, sz_b long"
    )


@shared_build(consumers=("dedup_prefix_filter", "dedup_containment"))
def shared_shingle_index(
    spark: SparkSession, sf_dir: str, n: int = 9
) -> tuple:
    """ONE char-n-gram prefix-filter index build — the hashed signature
    arrays plus the df-ascending ranked shingle frame — cached per
    (session, sf_dir, n): the shared_ivf_build / shared_minhash_clusters
    precedent applied to the AllPairs/PPJoin family (round-16
    optimization).  ``dedup_prefix_filter`` (Jaccard t=4/5) and
    ``dedup_containment`` (containment t=9/10) consumed IDENTICAL
    (sig, ranked) frames built independently: the per-doc rank is
    row_number over (df, shingle) within sid — independent of the
    threshold, which only selects each set's prefix LENGTH downstream —
    so the explode + df-count + rank window (the dominant stages of
    both entries, ~10M shingle rows at sf0.1) ran twice per suite pass
    for bit-identical results.  At 100 TB the df-ranked shingle index
    is corpus metadata built once per corpus version and probed by
    every similarity-join pass — the production shape (the r15
    sim-family argument).  Deterministic construction (xxhash64 keys,
    exact integer ranks) makes reuse value-identical for every
    consumer; both frames are materialized so cached references stay
    valid for the life of the session.

    Returns (sig, ranked): sig = (sid, arr: array<bigint>) hashed
    distinct-shingle signatures; ranked = (sid, shingle, rnk, sz).
    """
    from pyspark.sql import Window

    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    docs = documents(spark, sf_dir)
    sig = materialize(
        ensure_parallelism(
            docs.select(
                F.col("doc_id").alias("sid"),
                # sorted: the verify kernel binary-searches the
                # arrays; set semantics are order-invariant
                F.sort_array(
                    F.transform(
                        shingles(F.col("text"), n, "char"),
                        lambda s: F.xxhash64(s),
                    )
                ).alias("arr"),
            )
        )
    )
    sh = sig.select(
        "sid", F.size("arr").alias("sz"), F.explode("arr").alias("shingle")
    )
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = materialize(
        sh.join(dfc, "shingle")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("sid").orderBy("df", "shingle")
            ),
        )
        .select("sid", "shingle", "rnk", "sz")
    )
    return sig, ranked


def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 9,
    t_num: int = 4,
    t_den: int = 5,
    index: tuple | None = None,
) -> DataFrame:
    """Exact Jaccard-threshold similarity join via prefix filtering —
    the AllPairs / PPJoin candidate-generation strategy (Bayardo et al.,
    WWW 2007; Xiao et al., WWW 2008) over char n-gram shingle sets.

    Where the plain sparse join (ngram_jaccard_pairs) shuffles EVERY
    shingle occurrence into the self-join, prefix filtering joins only
    each document's rarest-(1-t) fraction: order the universe by global
    document frequency ascending (rarest first, ties on the shingle
    value so the order is total and engine-independent) and keep each
    set's first ``p = sz - ceil(t*sz) + 1`` shingles.  The prefix-filter
    lemma guarantees any pair with Jaccard >= t shares a prefix shingle
    under a common total order, so candidate generation has NO false
    negatives and the exact verify restores precision.  All thresholds
    are exact integer arithmetic (t = t_num/t_den, ceil via integer
    division, verify by cross-multiplication) — no float ever touches a
    pruning or keep decision, so both engines agree bit-for-bit.

    Scale: candidate volume is driven by rare-shingle collisions
    (measured at sf0.1 / 5000 docs: 12.5M possible pairs -> 1.29M
    prefix candidates -> 92k after the positional filter -> 256 true
    pairs, even on this adversarially tiny 31-word alphabet; Zipfian
    large-universe corpora prune far harder because their df-ascending
    prefixes are near-unique).  The shingle frame is materialized once
    and re-read by the df-count, ranking, and verify — multiple
    consumers across shuffle boundaries, the curate-pipeline economics,
    not the ReusedExchange case documented in ngram_jaccard_pairs.
    Verify is per-candidate exact set intersection over the compact
    sorted signature arrays — O(cand) rows moved, O(sz log sz) work per
    row, embarrassingly parallel (the Arrow searchsorted kernel, see
    _verify_intersect_sorted; r16 re-plan of the JVM array_intersect
    form, 2.2x on identical outputs).

    Measured honestly against the uncapped sparse join (same n, same
    threshold, Spark hash-agg counting every colliding pair): 28s vs
    27s at sf0.1 — break-even HERE, because a 31-character alphabet
    gives every document rare-ish shingles shared with ~2% of the
    corpus, and Spark's linear hash aggregation eats the 36M-row
    collision stream as fast as the verify intersects 92k candidate
    sets.  The crossover is corpus shape, not constant factors: the
    sparse join's intermediate grows with sum(df^2) (quadratic in
    corpus size at fixed duplication rate — it doubled 13s->27s from a
    2x corpus here), while candidates grow with the collision rate of
    PREFIX (rarest-decile) shingles only, which real vocabularies keep
    near-linear.  A 1.6x-faster variant that int-tokenizes shingles
    before intersecting was measured and REJECTED: it needs a global
    dense vocab id, i.e. a single-partition row_number over the
    vocabulary — the exact scale ceiling this repo refuses elsewhere
    (llm_budget_select's sharded cumsum).

    Shingles are HASHED to bigints at the signature build (xxhash64 —
    the minhash-verify precedent, NOT the rejected dense-id
    tokenization: hashing is a stateless per-row projection, no global
    window).  Every downstream frame then carries 8-byte longs instead
    of n-char strings, and the verify intersects longs: profiled at
    sf0.1 the string verify was 17.2s of a 26.3s total; hashed, the
    pipeline runs ~3x faster end-to-end with the identical 256 pairs.
    Set sizes, prefixes and intersection counts are preserved exactly
    up to xxhash64 collisions (~1e-19 per pair); the df order ranks on
    (df, hashed value), which is equally total and engine-independent
    WITHIN the run — the all-pairs oracle never sees the order.
    """
    from pyspark.sql import Window

    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    if index is not None:
        # Shared df-ranked shingle index (round-16): sig + ranked come
        # from shared_shingle_index — threshold-independent frames, so
        # the explode/df-count/rank stages are built once per session
        # and this entry pays only its own prefix filter + joins.
        sig, ranked = index
    else:
        sig = materialize(
            ensure_parallelism(
                docs.select(
                    F.col(id_col).alias("sid"),
                    F.sort_array(
                        F.transform(
                            shingles(F.col(text_col), n, "char"),
                            lambda s: F.xxhash64(s),
                        )
                    ).alias("arr"),
                )
            )
        )
        # sz rides along from the signature arrays (size(arr)) — the
        # groupBy(sid)+join form re-shuffled the shingle table just to
        # count rows the array length already knows (measured 4.0s -> 1.8s
        # for the rank+prefix stage at sf0.1)
        sh = sig.select(
            "sid", F.size("arr").alias("sz"), F.explode("arr").alias("shingle")
        )
        dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        ranked = (
            sh.join(dfc, "shingle")
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("sid").orderBy("df", "shingle")
                ),
            )
        )
    # Materialized: both candidate-join sides consume pref, and lazily
    # each side would re-run the df-join + per-doc ranking window (plan
    # census measured 2 windows / 10 scans lazy vs 1 window / 8 scans
    # checkpointed — the frame is ~the prefix fraction of the shingle
    # table, cheap to store, expensive to re-rank).  (With a shared
    # index the filter re-runs over a checkpoint scan — cheap — but the
    # materialize also keeps both join sides reading one stored frame.)
    pref = materialize(
        ranked.filter(
            F.expr(f"rnk <= sz - (({t_num} * sz + {t_den - 1}) div {t_den}) + 1")
        ).select("sid", "shingle", "rnk", "sz")
    )
    # PPJoin positional filter.  A qualifying pair's FIRST common
    # shingle (global df order) is inside both prefixes, and at that
    # match the true overlap is bounded by 1 + min(remaining positions);
    # requiring the bound to reach the overlap threshold
    # alpha = ceil(t/(1+t) * (sz_a+sz_b)) keeps every qualifying pair
    # (the bound is valid at the first common token) while discarding
    # prefix collisions that cannot reach alpha.  Exact integers:
    # X >= ceil(q) <=> (t_num+t_den)*X >= t_num*(sz_a+sz_b) for
    # integer X.  Measured at sf0.1 (5000 docs): 1.29M plain prefix
    # candidates -> 92k positional -> 256 verified pairs.
    pos_ok = (
        f"({t_num + t_den}) * (1 + least(a.sz - a.rnk, b.sz - b.rnk))"
        f" >= {t_num} * (a.sz + b.sz)"
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .filter(F.expr(pos_ok))
        .select(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .distinct()
    )
    # Verify by per-pair set intersection over the compact signature
    # frame — the record-level verify of the PPJoin literature.  The
    # exploded alternative (cand x shingles(a) matched against
    # shingles(b)) shuffles O(cand * avg_sz) rows (27M at sf0.1) and
    # measured 26s end-to-end; joining each candidate to its two ~sz
    # element shingle arrays moves only O(cand) rows.  The arrays are
    # the same distinct-shingle sets the prefix index was built from
    # (sig is the pre-explode projection), so the kernel's count == the
    # sparse join's intersection count.  r16: the intersection itself
    # moved from JVM array_intersect (boxed hash set per row — 7.5 s at
    # sf0.1) to the Arrow searchsorted kernel (3.4 s, identical rows).
    ver = _verify_intersect_sorted(
        cand.join(
            sig.select(F.col("sid").alias("id_a"), F.col("arr").alias("arr_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("sid").alias("id_b"), F.col("arr").alias("arr_b")),
            "id_b",
        )
    )
    return (
        ver.filter(F.expr(f"{t_den} * inter >= {t_num} * (sz_a + sz_b - inter)"))
        .select("id_a", "id_b", "inter", "sz_a", "sz_b")
        .orderBy("id_a", "id_b")
    )


def _q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_filter_pairs(
        documents(spark, sf_dir), index=shared_shingle_index(spark, sf_dir)
    )


# The oracle computes the SAME pair set with NO prefix filter — a plain
# all-pairs sparse join — so a driver-green row proves end-to-end that
# candidate pruning dropped nothing (the prefix-filter lemma, checked
# by value, not trusted).
register(
    "dedup_prefix_filter",
    _q_dedup_prefix_filter,
    oracle=r"""
    WITH sh AS (
      SELECT DISTINCT doc_id AS sid, substr(text, i, 9) AS shingle
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-8, 1))) AS i)
    ),
    sizes AS (SELECT sid, count(*) AS sz FROM sh GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, CAST(count(*) AS BIGINT) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY a.sid, b.sid
    )
    SELECT id_a, id_b, inter,
           CAST(sa.sz AS BIGINT) AS sz_a,
           CAST(sb.sz AS BIGINT) AS sz_b
    FROM inter
    JOIN sizes sa ON sa.sid = id_a
    JOIN sizes sb ON sb.sid = id_b
    WHERE 5 * inter >= 4 * (sa.sz + sb.sz - inter)
    ORDER BY id_a, id_b
    """,
)


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 9,
    t_num: int = 9,
    t_den: int = 10,
    max_shingle_df: int | str | None = None,
    index: tuple | None = None,
) -> DataFrame:
    """Asymmetric containment join: ordered pairs (a, b), a != b, with
    |shingles(a) ∩ shingles(b)| >= t * |shingles(a)| — "a is mostly
    contained in b".  The quote/boilerplate/superset detector: a short
    document embedded in a long one has high containment but LOW
    Jaccard (the union is dominated by the long side), so a
    Jaccard-threshold dedup pass never sees it (Broder's distinction
    between resemblance and containment, STOC 1997).

    Candidate generation is the ASYMMETRIC prefix filter (the
    containment variant of the AllPairs/PPJoin strategy backing
    prefix_filter_pairs): the overlap requirement ceil(t*|a|) depends
    only on the PROBE side, so only a's rarest
    ``|a| - ceil(t*|a|) + 1`` shingles (global df-ascending order, ties
    on value — a total, engine-independent order) join against the
    index side's FULL postings.  Dropping a's prefix leaves at most
    ceil(t*|a|) - 1 shingles, fewer than the required overlap, so any
    qualifying pair shares a prefix shingle of a with b — no false
    negatives, and the exact array-intersect verify restores precision.
    The intermediate is sum_s df_prefix(s) * df(s) instead of the plain
    sparse join's sum_s df(s)^2: prefixes are the globally RAREST
    ~(1-t) fraction of each set, so the product concentrates on low-df
    shingles and stays near-linear on real vocabularies (measured at
    sf0.1 / 5000 docs: 371.6M uncapped collision rows -> 1.48M prefix
    join rows -> 808k after the positional filter -> 541k distinct
    candidates -> 511 verified pairs; 127s -> 17s warm end-to-end, a
    251x intermediate reduction).  The PPJoin positional filter: at the
    pair's first common shingle the overlap is bounded by
    1 + min(remaining positions), checked per-side in exact integers.
    All thresholds are exact integer cross-multiplication
    (t = t_num/t_den, ceil via integer division) — no float in any keep
    decision, so both engines agree bit-for-bit, and the driver oracle
    (the UNFILTERED all-pairs join) proves the pruning lossless by
    value.

    ``max_shingle_df`` (int or "auto" = max(50, n_docs/100)) is the
    production stop-shingle cap, applied to the shingle universe BEFORE
    sizes/prefixes, with the documented precision semantics: dropping
    stop-shingles shrinks |shingles(a)| too, so containment of the
    remaining rare-shingle set rises.  The graded/default path is
    uncapped and exact.  Shingles are hashed to bigints at the
    signature build (prefix_filter_pairs' discipline — see its
    docstring: stateless xxhash64 projection, ~1e-19/pair collision
    envelope, every downstream frame and the verify intersect carry
    longs instead of strings).
    """
    from pyspark.sql import Window

    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    if index is not None and max_shingle_df is None:
        # Shared df-ranked shingle index (round-16): identical to the
        # frames built below — the rank is threshold-independent — so
        # this entry pays only the asymmetric prefix probe + verify.
        sig, ranked = index
    else:
        sig = materialize(
            ensure_parallelism(
                docs.select(
                    F.col(id_col).alias("sid"),
                    F.sort_array(
                        F.transform(
                            shingles(F.col(text_col), n, "char"),
                            lambda s: F.xxhash64(s),
                        )
                    ).alias("arr"),
                )
            )
        )
        sh = sig.select("sid", F.explode("arr").alias("shingle"))
        if max_shingle_df == "auto":
            max_shingle_df = max(50, docs.count() // 100)
        if max_shingle_df is not None:
            dfc0 = sh.groupBy("shingle").agg(F.count("*").alias("df"))
            sh = sh.join(
                dfc0.filter(F.col("df") <= max_shingle_df), "shingle"
            ).drop("df")
            # Rebuild the signature arrays on the capped universe so the
            # verify intersects the same sets the sizes were counted on.
            sig = materialize(
                sh.groupBy("sid").agg(
                    F.sort_array(F.collect_set("shingle")).alias("arr")
                )
            )
            sh = sig.select("sid", F.explode("arr").alias("shingle"))
        dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        # sz = size(arr) carried from the (possibly cap-rebuilt) signature
        # frame — no groupBy(sid) shuffle (prefix_filter_pairs' measured
        # win); after an "auto" cap the arrays were rebuilt on the capped
        # universe, so the length is still the capped set size.
        sh = sig.select(
            "sid", F.size("arr").alias("sz"), F.explode("arr").alias("shingle")
        )
        # Materialized: the probe (prefix) and index (full postings) sides
        # both consume the ranked frame; lazily each would re-run the
        # df-join + per-doc ranking window.
        ranked = materialize(
            sh.join(dfc, "shingle")
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("sid").orderBy("df", "shingle")
                ),
            )
            .select("sid", "shingle", "rnk", "sz")
        )
    pref = ranked.filter(
        F.expr(f"rnk <= sz - (({t_num} * sz + {t_den - 1}) div {t_den}) + 1")
    )
    # A postings-side PARTIAL index (semi-join the full postings on the
    # distinct prefix shingles before the candidate join — the r16
    # verdict's item-4 suggestion) was built and REJECTED on
    # measurement in round 17 (guide §1: measure first): the physical
    # before-plan already BROADCASTS the postings side keyed on shingle
    # (one BroadcastHashJoin, zero shuffles in candidate generation at
    # sf0.1), so the "smaller join side" the partial index buys is a
    # smaller broadcast that costs an extra distinct + an extra join
    # pass over the ranked frame per run — isolated A/B read
    # 4.81 s -> 10.35 s (min of 4, same host/session protocol).  At a
    # scale where the postings no longer broadcast, the semi-join
    # becomes the right call; that flip is a planner concern (AQE picks
    # SMJ and the runtime bloom-filter injection covers the prefilter),
    # not something to hard-code against the measured sf0.1 regression.
    #
    # Positional filter (valid at the pair's first common shingle under
    # the global order, which for a qualifying pair always survives):
    # overlap <= 1 + min(remaining positions on each side), and the
    # requirement is overlap >= ceil(t * sz_a):
    # X >= ceil(p/q) <=> q*X >= p for integers.
    pos_ok = (
        f"{t_den} * (1 + least(a.sz - a.rnk, b.sz - b.rnk))"
        f" >= {t_num} * a.sz"
    )
    cand = (
        pref.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.sid") != F.col("b.sid")),
        )
        .filter(F.expr(pos_ok))
        .select(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .distinct()
    )
    # Exact per-candidate verify over the compact sorted signature
    # arrays — O(cand) rows moved, O(sz log sz) work per row (the
    # shared Arrow searchsorted kernel, r16).
    ver = _verify_intersect_sorted(
        cand.join(
            sig.select(F.col("sid").alias("id_a"), F.col("arr").alias("arr_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("sid").alias("id_b"), F.col("arr").alias("arr_b")),
            "id_b",
        )
    )
    return (
        ver.filter(F.expr(f"{t_den} * inter >= {t_num} * sz_a"))
        .select("id_a", "id_b", "inter", "sz_a")
        .orderBy("id_a", "id_b")
    )


def _q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(
        documents(spark, sf_dir), index=shared_shingle_index(spark, sf_dir)
    )


register(
    "dedup_containment",
    _q_dedup_containment,
    oracle=r"""
    WITH sh AS (
      SELECT DISTINCT doc_id AS sid, substr(text, i, 9) AS shingle
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-8, 1))) AS i)
    ),
    sizes AS (SELECT sid, count(*) AS sz FROM sh GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, CAST(count(*) AS BIGINT) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.sid <> b.sid
      GROUP BY a.sid, b.sid
    )
    SELECT id_a, id_b, inter, CAST(sa.sz AS BIGINT) AS sz_a
    FROM inter
    JOIN sizes sa ON sa.sid = id_a
    WHERE 10 * inter >= 9 * sa.sz
    ORDER BY id_a, id_b
    """,
)


# ------------------------------------- end-to-end fuzzy-dedup pipeline
def dedup_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-in / deduped-corpus-out: the fused fuzzy-dedup pipeline
    (the removal decision every Gopher/RefinedWeb-style curation run
    executes), composed from the graded stages WITHOUT rebuilding any
    of them: ``shared_minhash_clusters`` supplies the one cached
    LSH+components build, ``cluster_keep`` picks the per-cluster
    keeper, and this op joins the two small decision frames back to
    the corpus to emit the per-source removal ledger:

      kept doc  :=  unclustered  OR  cluster keeper

    so n_kept + n_removed == n_docs and n_removed ==
    Σ cluster_keep.removed_docs by construction (both reconciliations
    asserted in pytest).

    Shape (100 TB): the corpus is scanned ONCE; the label and keeper
    frames have one row per CLUSTERED doc / per CLUSTER — orders
    smaller than the corpus — so both joins broadcast, and the only
    shuffle is the |sources|-row final aggregate.  The expensive LSH
    build is the SHARED one (built at most once per session/sf_dir),
    which is the property that makes the fused pipeline the same cost
    as its most expensive stage instead of the sum of all four.
    """
    docs = documents(spark, sf_dir)
    _pairs, labels = shared_minhash_clusters(spark, sf_dir)
    keep = cluster_keep(labels, docs)
    lab = labels.select(F.col("sid").alias("doc_id"),
                        F.lit(1).alias("clustered"))
    keepers = keep.select(F.col("keeper_id").alias("doc_id"),
                          F.lit(1).alias("is_keeper"))
    ann = (
        docs.select("doc_id", "source", "n_chars")
        .join(F.broadcast(lab), "doc_id", "left")
        .join(F.broadcast(keepers), "doc_id", "left")
        .withColumn(
            "kept",
            F.when(
                F.col("clustered").isNull() | F.col("is_keeper").isNotNull(),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
    )
    return (
        ann.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("clustered"), F.lit(0)))
            .cast("long").alias("n_clustered"),
            F.sum(1 - F.col("kept")).cast("long").alias("n_removed"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum(F.col("n_chars") * F.col("kept"))
            .cast("long").alias("kept_chars"),
        )
        .orderBy("source")
    )


def _q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_corpus_summary(spark, sf_dir)


# The cluster_keep closure chain, then the keep rule joined back to
# the corpus and rolled up per source.
_DEDUP_CORPUS_ORACLE = (
    """
    WITH RECURSIVE pairs AS ("""
    + _MINHASH_ORACLE
    + """
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
    ranked AS (
      SELECT l.sid, l.cluster,
             row_number() OVER (PARTITION BY l.cluster
                                ORDER BY d.n_chars DESC, l.sid) AS rk
      FROM labels l JOIN documents d ON d.doc_id = l.sid
    ),
    keepers AS (SELECT sid AS keeper FROM ranked WHERE rk = 1),
    ann AS (
      SELECT d.doc_id, d.source, d.n_chars,
             CASE WHEN l.sid IS NOT NULL THEN 1 ELSE 0 END AS clustered,
             CASE WHEN l.sid IS NULL OR k.keeper IS NOT NULL
                  THEN 1 ELSE 0 END AS kept
      FROM documents d
      LEFT JOIN labels l ON l.sid = d.doc_id
      LEFT JOIN keepers k ON k.keeper = d.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(clustered) AS BIGINT) AS n_clustered,
           CAST(sum(1 - kept) AS BIGINT) AS n_removed,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(n_chars * kept) AS BIGINT) AS kept_chars
    FROM ann
    GROUP BY source
    ORDER BY source
    """
)

register("pipeline_dedup_corpus", _q_dedup_corpus,
         oracle=_DEDUP_CORPUS_ORACLE)


# ------------------------------------- passage-grain near-dup (round 14)
CHUNK_ND_TOKENS = 16
CHUNK_ND_THRESHOLD = 0.8
CHUNK_ND_KEY_STRIDE = 1_000_000


def chunk_units(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_ND_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FULL non-overlapping ``chunk_tokens`` windows as dedup units:
    (id_col, ckey, chunk_text), ckey = doc_id * stride + chunk index.
    Shuffle-free explode, materialized (re-used by two LSH stages)."""
    from dblab_ece_trino_spark.session import materialize

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(chunk_tokens)
    )
    return materialize(
        docs.select(
            F.col(id_col),
            toks.alias("__t"),
            F.posexplode(starts).alias("__idx", "__s"),
        )
        .select(
            F.col(id_col),
            # GUARDED key packing: a document with >= stride full
            # chunks would alias into the next doc's key space, and a
            # doc_id >= 2^63/stride would overflow the multiply itself
            # (BIGINT wraps in non-ANSI mode) — either way the
            # shared-formula oracle would silently verify corrupted
            # profiles, so both bounds fail the job instead (inline
            # expression — no extra action; never fires under the
            # stride's 1e6-chunk = 16M-token per-doc bound and
            # ~9.22e12-doc id bound)
            F.when(
                (F.col("__idx") < F.lit(CHUNK_ND_KEY_STRIDE))
                & (F.col(id_col) >= 0)
                & (
                    F.col(id_col)
                    < F.lit((2**63 - CHUNK_ND_KEY_STRIDE) // CHUNK_ND_KEY_STRIDE)
                ),
                F.col(id_col) * CHUNK_ND_KEY_STRIDE + F.col("__idx"),
            )
            .otherwise(
                F.expr(
                    "CAST(raise_error('chunk_neardup: chunk index or"
                    " doc_id outside the packable key range; widen"
                    " CHUNK_ND_KEY_STRIDE or re-key documents')"
                    " AS LONG)"
                )
            )
            .cast("long")
            .alias("ckey"),
            F.slice("__t", F.col("__s"), chunk_tokens).alias("__c"),
        )
        .filter(F.size("__c") == chunk_tokens)
        .select(
            id_col, "ckey", F.array_join("__c", " ").alias("chunk_text")
        )
    )


def chunk_neardup(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_ND_TOKENS,
    threshold: float = CHUNK_ND_THRESHOLD,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Passage-grain NEAR-duplicate detection — the fuzzy sibling of
    ``llm_chunk_dedup`` (which removes byte-identical passages; this
    pass catches lightly-edited boilerplate the exact hash can't see,
    the RefinedWeb/Gopher passage-dedup gap the round-13 verdict
    named).  Non-overlapping ``chunk_tokens`` windows become the unit
    of dedup: each FULL chunk (tail fragments are the exact pass's
    job, and single-word tails would cluster spuriously on a small
    vocabulary) gets a synthetic bigint key, rides the SAME
    shingle -> minhash -> band -> verify machinery as the document
    pass (``dedup_minhash_lsh``) at word-3-gram grain, and clusters
    resolve by the same min-label components (``dedup_clusters``).
    First occurrence (minimum chunk key == cluster label) survives;
    the output is the per-document retention profile the curation
    pipeline feeds.

    Exactness: the LSH stage is exact-verified (every emitted pair
    passes the exact hashed-shingle Jaccard >= threshold), so the
    all-pairs SQL + recursive-closure oracle replays it, provided
    banding recalls every true pair at gate SF —
    tests/test_round14_ops.py pins that precondition the way
    test_minhash_oracle_no_marginal_pairs does for the doc pass.

    Shape (100 TB): the chunker is a shuffle-free explode (bounded
    fan-out: tokens/chunk_tokens rows per doc); the LSH build is the
    proven banded pipeline — pair volume is band-bounded, never
    all-pairs; components run on the near-dup subgraph only; the
    profile is one keyed agg back to doc grain.
    """
    chunks = chunk_units(docs, chunk_tokens, id_col, text_col)
    # sig_kernel: the chunk-grain signature stage was the entry's
    # dominant cost (5.4 s of 12.5 s isolated at sf0.1 — 14.6k chunks
    # through the interpreted K-salt fold); the Arrow fold kernel
    # computes bit-identical signatures (_minhash_fold_kernel).  The
    # doc-grain consumers deliberately stay on the JVM fold this round:
    # flipping shared_minhash_clusters would change the build path of
    # every LSH-family graded entry at once, which the 50-entry grade
    # window cannot re-seat alongside the r16 backlog (the r12
    # freshness rule).
    pairs = dedup_minhash_lsh(
        chunks,
        id_col="ckey",
        text_col="chunk_text",
        threshold=threshold,
        max_bucket=None,
        sig_kernel=True,
    )
    labels = dedup_clusters(pairs)
    removed = (
        F.col("cluster").isNotNull() & (F.col("ckey") != F.col("cluster"))
    ).cast("long")
    return (
        chunks.join(labels, chunks.ckey == labels.sid, "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.count("cluster").cast("long").alias("n_clustered"),
            F.sum(removed).cast("long").alias("n_removed"),
        )
        .withColumn(
            "n_kept", (F.col("n_chunks") - F.col("n_removed")).cast("long")
        )
        .orderBy(id_col)
    )


def _q_chunk_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_neardup(documents(spark, sf_dir))


_CHUNK_ND_ORACLE = rf"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    st AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t), 1),
                                    {CHUNK_ND_TOKENS})) AS start
      FROM toks
    ),
    c AS (
      SELECT doc_id,
             doc_id * {CHUNK_ND_KEY_STRIDE}
               + (start - 1) // {CHUNK_ND_TOKENS} AS ckey,
             list_slice(t, start, start + {CHUNK_ND_TOKENS - 1}) AS w
      FROM st
      WHERE len(list_slice(t, start, start + {CHUNK_ND_TOKENS - 1}))
            = {CHUNK_ND_TOKENS}
    ),
    sh AS (
      SELECT DISTINCT ckey,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM c,
           LATERAL (SELECT unnest(generate_series(
                    1, greatest(len(w) - 2, 1))) AS i)
    ),
    sizes AS (SELECT ckey, count(*) AS sz FROM sh GROUP BY ckey),
    nd AS (
      SELECT a.ckey AS id_a, b.ckey AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.ckey < b.ckey
      GROUP BY a.ckey, b.ckey
    ),
    prs AS (
      SELECT id_a, id_b
      FROM nd
      JOIN sizes sa ON sa.ckey = id_a
      JOIN sizes sb ON sb.ckey = id_b
      WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6)
            >= {CHUNK_ND_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM prs
      UNION
      SELECT id_b, id_a FROM prs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (
      SELECT a AS ckey, least(a, min(b)) AS cluster FROM reach GROUP BY a
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(l.cluster) AS BIGINT) AS n_clustered,
           CAST(coalesce(sum(CASE WHEN l.cluster IS NOT NULL
                                   AND c.ckey <> l.cluster
                             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed,
           CAST(count(*) - coalesce(sum(CASE WHEN l.cluster IS NOT NULL
                                              AND c.ckey <> l.cluster
                                        THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_kept
    FROM c
    LEFT JOIN labels l ON l.ckey = c.ckey
    GROUP BY c.doc_id
    ORDER BY c.doc_id
"""

register("dedup_chunk_neardup", _q_chunk_neardup, oracle=_CHUNK_ND_ORACLE)


# ------------------------------------------------ content-defined chunking
CDC_W = 3      # rolling window (tokens) the boundary hash covers
CDC_DIV = 8    # boundary divisor -> expected chunk length ~8 tokens


def cdc_chunks(
    docs: DataFrame,
    w: int = CDC_W,
    div: int = CDC_DIV,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the LBFS/Venti/gear-CDC family:
    Muthitacharoen, Chen & Mazieres SOSP'01 "A low-bandwidth network
    file system"; word-grain variant): a chunk boundary falls AFTER
    token i exactly when the rolling hash of the last ``w`` tokens is
    ``0 mod div`` — so boundaries are a function of LOCAL CONTENT, not
    position, and an insertion re-syncs at the next boundary instead
    of shifting every later chunk the way the fixed
    ``chunk_neardup``/``llm_chunk_dedup`` grids do (the classic
    storage-dedup argument, pinned by the planted prefix-insertion
    fixture in tests/test_round15_ops.py).

    Purely positional boundary predicate (hash covers tokens
    i-w+1..i only) -> every position is decided independently.
    Returns one row per chunk: (id, chunk_hash, chunk_len).

    100 TB shape, re-planned in round 15: the first form computed the
    boundary hash inside an array-HOF lambda (filter over sequence) —
    Spark evaluates higher-order-function lambdas INTERPRETED, outside
    whole-stage codegen, so the per-position md5 + hex fold ran at
    interpreter speed: 56 s warm at sf0.1 (measured by the x10
    protocol; the same work as a vectorized column expression is
    ~100x cheaper).  Now the position stream is EXPLODED and the
    identical boundary hash is a plain column expression (codegen'd,
    one md5 per position as before), boundary rows (~n/div) collapse
    to per-doc cut lists, and ONE doc-grain join brings the cuts back
    to the token arrays; the span cut stays a pure-arithmetic HOF
    (cheap interpreted) and the chunk hash stays a column op on the
    exploded spans.  Hash-in-lambda is the anti-pattern; the hash
    VALUES and therefore the oracle and every graded number are
    unchanged.  The md5 digit-fold is the corpus-wide hexint
    discipline.
    """
    from dblab_ece_trino_spark.operators.sketches import hexint_col

    toks = docs.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("arr"),
    ).select(
        id_col, "arr", F.size("arr").cast("int").alias("n")
    )

    # boundary hash as a VECTORIZED column op over the exploded
    # position stream (never inside a lambda — see docstring)
    bnd = (
        toks.where(F.col("n") >= w)
        .select(
            id_col,
            "arr",
            F.explode(F.sequence(F.lit(w), F.col("n"))).alias("i"),
        )
        .where(
            F.pmod(
                hexint_col(
                    F.concat(
                        F.lit("cdc:"),
                        F.concat_ws(
                            " ", F.slice(F.col("arr"), F.col("i") - w + 1, w)
                        ),
                    ),
                    10,
                ),
                F.lit(div),
            )
            == 0
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("i")).alias("bpos"))
    )
    toks = toks.join(bnd, id_col, "left")
    bpos = F.coalesce(F.col("bpos"), F.array().cast("array<int>"))
    # append the doc end as the final cut unless it already is one
    cuts = F.when(
        (F.size(bpos) > 0) & (F.element_at(bpos, -1) == F.col("n")), bpos
    ).otherwise(F.concat(bpos, F.array(F.col("n"))))
    spans = F.transform(
        F.sequence(F.lit(1), F.size(cuts)),
        lambda j: F.struct(
            F.when(j == 1, F.lit(1))
            .otherwise(F.element_at(cuts, j - 1) + 1)
            .alias("s"),
            F.element_at(cuts, j).alias("e"),
        ),
    )
    return (
        toks.select(id_col, "arr", F.explode(spans).alias("sp"))
        .select(
            id_col,
            hexint_col(
                F.concat(
                    F.lit("cdcchunk:"),
                    F.concat_ws(
                        " ",
                        F.slice(
                            F.col("arr"),
                            F.col("sp.s"),
                            F.col("sp.e") - F.col("sp.s") + 1,
                        ),
                    ),
                ),
                12,
            ).alias("chunk_hash"),
            (F.col("sp.e") - F.col("sp.s") + 1)
            .cast("bigint")
            .alias("chunk_len"),
        )
    )


def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CDC dedup profile: how much of each document is
    covered by chunks that also appear in at least one OTHER document
    (within-doc repeats are deliberately not dup — cross-document
    dedup is the storage/training question).

    ensure_parallelism on the corpus scan is LOAD-BEARING: the chunker
    is CPU-heavy per row (one md5 per token position) while the corpus
    parquet is a single file — without the repartition the whole hash
    pass runs on ONE task (caught by the round-15 x10 protocol: the
    sf0.1 stage sat single-threaded for minutes; 32-way it is
    seconds)."""
    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    ch = materialize(cdc_chunks(ensure_parallelism(documents(spark, sf_dir))))
    shared = (
        ch.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("chunk_hash")
    )
    flagged = ch.join(
        F.broadcast(shared.withColumn("dup", F.lit(1))),
        "chunk_hash",
        "left",
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("chunk_len").cast("bigint").alias("total_tokens"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0)))
            .cast("bigint")
            .alias("dup_chunks"),
            F.sum(
                F.when(F.col("dup").isNotNull(), F.col("chunk_len"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("dup_tokens"),
        )
        .orderBy("doc_id")
    )


def _cdc_oracle() -> str:
    from dblab_ece_trino_spark.operators.sketches import hexint_digits_sql

    bfold = hexint_digits_sql(
        "md5('cdc:' || array_to_string("
        f"list_slice(arr, i - {CDC_W - 1}, i), ' '))",
        10,
    )
    cfold = hexint_digits_sql(
        "md5('cdcchunk:' || array_to_string("
        "list_slice(arr, s, e), ' '))",
        12,
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n
      FROM documents
    ),
    b AS (
      SELECT doc_id, arr, n,
             CASE WHEN n >= {CDC_W} THEN
               list_filter(generate_series({CDC_W}, n),
                           i -> ({bfold}) % {CDC_DIV} = 0)
             ELSE [] END AS bpos
      FROM toks
    ),
    c AS (
      SELECT doc_id, arr,
             CASE WHEN len(bpos) > 0 AND bpos[len(bpos)] = n THEN bpos
                  ELSE list_append(bpos, n) END AS cuts
      FROM b
    ),
    spans AS (
      SELECT doc_id, arr,
             CASE WHEN j = 1 THEN 1 ELSE cuts[j - 1] + 1 END AS s,
             cuts[j] AS e
      FROM c, unnest(generate_series(1, len(cuts))) AS g(j)
    ),
    ch AS MATERIALIZED (
      SELECT doc_id, ({cfold}) AS chunk_hash,
             CAST(e - s + 1 AS BIGINT) AS chunk_len
      FROM spans
    ),
    shared AS (
      SELECT chunk_hash FROM ch
      GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT ch.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chunk_len) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN s.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS dup_chunks,
           CAST(sum(CASE WHEN s.chunk_hash IS NOT NULL THEN chunk_len
                    ELSE 0 END) AS BIGINT) AS dup_tokens
    FROM ch LEFT JOIN shared s USING (chunk_hash)
    GROUP BY ch.doc_id
    ORDER BY ch.doc_id
    """


register("dedup_cdc_chunks", _q_cdc_chunks, oracle=_cdc_oracle())
