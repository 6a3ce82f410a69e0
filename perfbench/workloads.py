"""Workload definitions and the output digest shared by run.py and make_digests.py.

Kept free of Spark imports so ``make_digests.py`` (DuckDB only) can use it.
"""

from __future__ import annotations

import hashlib
import json
import os

SF = "sf0.1"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REFERENCE = ["q001", "q002", "q003", "q004", "q005"]

TPCH = [
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q7",
    "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q12", "tpch_q13",
    "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19",
    "tpch_q20", "tpch_q21", "tpch_q21_agg", "tpch_q22",
]

# One consumer or more for each shared build the workload sets up, plus the
# regex/md5 text path and a text-scoring job that use no build.
CORPUS = [
    "dedup_minhash_lsh", "dedup_clusters", "pipeline_dedup_corpus",
    "llm_pii_redact", "text_quality_score", "graph_pagerank",
    "sim_search_ivf", "sim_quantized_mips",
]

WORKLOAD_JOBS = {
    "federated_sql": REFERENCE + TPCH,
    "corpus_pipeline": CORPUS,
    "load_export": REFERENCE,
}

# Nominal warm-pass seconds of each workload on a 4-core host; a run makes
# round(--seconds / this) warm passes (at least one), the same number on
# every run and on both sides of a comparison.
WARM_PASS_S = {
    "federated_sql": 26.0,
    "corpus_pipeline": 6.0,
    "load_export": 2.0,
}

ALL_JOBS = sorted(set(REFERENCE + TPCH + CORPUS))


def pd_str_rows(pdf) -> tuple[list[str], list[tuple]]:
    """Lower-cased sorted column names and sorted rows of ``str`` renderings.

    The same normalization as ``tests/conftest.py::_pd_str_rows``: each column
    is rendered with pandas ``astype(str)``, so DuckDB DECIMAL/HUGEINT and
    Spark DECIMAL both read as float64 text and row order does not matter.
    """
    cols = [c.lower() for c in pdf.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rendered = [pdf.iloc[:, i].astype(str).tolist() for i in range(len(cols))]
    rows = sorted(tuple(rendered[i][r] for i in order) for r in range(len(pdf)))
    return [cols[i] for i in order], rows


def digest(pdf) -> dict:
    cols, rows = pd_str_rows(pdf)
    blob = json.dumps([cols, rows], separators=(",", ":")).encode()
    return {"rows": len(rows), "cols": cols, "sha256": hashlib.sha256(blob).hexdigest()}


def sf_dir() -> str:
    """Directory of the sf0.1 tables: the sibling of the smoke-test scale
    factor that ``__spark_entry__.SF0001`` names."""
    import __spark_entry__

    return os.path.join(os.path.dirname(__spark_entry__.SF0001), SF)
