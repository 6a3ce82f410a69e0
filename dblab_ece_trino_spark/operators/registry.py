"""Registry of operator-level queries for the driver correctness gate.

Every operator in SURVEY.md §2 gets a focused query here: a Spark callable
(SQL through the engine, or a DataFrame-API build) plus, where the
semantics are ANSI-SQL-expressible, a DuckDB oracle string.  Operators
whose results are engine-specific (hash bucketing values, LSH bucket
assignments, streaming state) register without an oracle and get the
driver's rows-only check, backed by property tests in tests/.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from dblab_ece_trino_spark.queries import _ORACLE_TABLES, _SPARK_TABLES

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class OpQuery:
    name: str
    spark_fn: SparkQuery
    oracle: str | None = None


_REGISTRY: dict[str, OpQuery] = {}


def register(name: str, spark_fn: SparkQuery, oracle: str | None = None) -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate operator query name: {name}")
    _REGISTRY[name] = OpQuery(name, spark_fn, oracle)


def register_sql(name: str, spark_sql: str, oracle: str | None = None) -> None:
    """Register a query given as engine SQL text (3-part names allowed)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dblab_ece_trino_spark.entrypoints import engine_for

        return engine_for(spark, sf_dir).sql(spark_sql, name=name)

    run.__name__ = f"query_{name}"
    register(name, run, oracle)


def register_template(
    name: str, spark_tpl: str, oracle_tpl: str | None = None
) -> None:
    """Register a SQL template rendered with 3-part names for Spark and
    bare table names for DuckDB; the oracle template defaults to the Spark
    one."""
    oracle_tpl = oracle_tpl if oracle_tpl is not None else spark_tpl
    register_sql(
        name,
        spark_tpl.format(**_SPARK_TABLES),
        oracle_tpl.format(**_ORACLE_TABLES),
    )


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM corpus table (``lake.llm.documents``) for ``sf_dir``."""
    from dblab_ece_trino_spark.entrypoints import engine_for

    return engine_for(spark, sf_dir).catalogs.table("lake.llm.documents")


def _ensure_loaded() -> None:
    # Importing the operator modules performs their registrations.
    from dblab_ece_trino_spark.operators import (  # noqa: F401
        relational,
        joins,
        analytics,
        behavior,
        graph,
        dedup,
        similarity,
        text,
        multimodal,
        sqlsurface,
        sampling,
        sketches,
        llmprep,
        warehouse,
        timeseries,
    )
    from dblab_ece_trino_spark.sources import generator  # noqa: F401
    from dblab_ece_trino_spark.bench import reference_parity  # noqa: F401
    from dblab_ece_trino_spark import queries_tpch  # noqa: F401
    from dblab_ece_trino_spark import queries_tpch_ext  # noqa: F401
    from dblab_ece_trino_spark import queries_advanced  # noqa: F401
    from dblab_ece_trino_spark import queries_tpch_more  # noqa: F401


def spark_queries() -> dict[str, SparkQuery]:
    _ensure_loaded()
    return {n: o.spark_fn for n, o in _REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    _ensure_loaded()
    return {n: o.oracle for n, o in _REGISTRY.items() if o.oracle is not None}
