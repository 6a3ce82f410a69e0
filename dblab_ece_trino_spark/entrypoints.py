"""Driver-contract plumbing shared by __spark_entry__.py and tests.

Builds the ``queries()`` / ``oracle_sql()`` dicts from the engine's query
registry.  Each Spark callable routes through ``EngineSession.sql`` so the
3-part catalog names and the rewrite path are exercised on every run.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dblab_ece_trino_spark.queries import REFERENCE_QUERIES
from dblab_ece_trino_spark.session import EngineSession

# One EngineSession wrapper per (SparkSession, sf_dir): view registration is
# idempotent but repeated parquet-footer reads on every query call are not
# free at 10 tables/call.  Keyed on a weakref to the session — an id()
# key can alias a NEW session after the old one is stopped and collected
# (CPython reuses addresses), which would hand back a wrapper whose temp
# views belong to the dead session.
_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, EngineSession]]" = (
    weakref.WeakKeyDictionary()
)

# Temp views are GLOBAL per SparkSession while engines are cached per
# (session, sf_dir): registering a second sf_dir on the same session
# re-points the shared views, so a previously-cached engine would silently
# read the other scale factor's data.  Track which sf_dir most recently
# asserted the views and re-register when handing back an engine whose
# sf_dir is no longer the active one (parquet-footer reads only — cheap,
# and only on an actual switch).
_ACTIVE: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def engine_for(spark: SparkSession, sf_dir: str) -> EngineSession:
    per_session = _CACHE.get(spark)
    if per_session is None:
        per_session = {}
        _CACHE[spark] = per_session
    eng = per_session.get(sf_dir)
    if eng is None:
        eng = EngineSession.wrap(spark)
        eng.catalogs.register_sf_dir(sf_dir)
        per_session[sf_dir] = eng
    elif _ACTIVE.get(spark) != sf_dir:
        eng.catalogs.register_sf_dir(sf_dir)
    _ACTIVE[spark] = sf_dir
    return eng


def _sql_query(name: str, text: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return engine_for(spark, sf_dir).sql(text, name=name)

    run.__name__ = f"query_{name}"
    return run


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, q in REFERENCE_QUERIES.items():
        out[name] = _sql_query(name, q.spark_sql())
    # Operator-inventory and LLM-pipeline entries are appended by their
    # modules (imported lazily here to keep a single registration point).
    from dblab_ece_trino_spark.operators import registry as op_registry

    out.update(op_registry.spark_queries())
    return out


def build_oracles() -> dict[str, str]:
    out = {name: q.oracle_sql() for name, q in REFERENCE_QUERIES.items()}
    from dblab_ece_trino_spark.operators import registry as op_registry

    out.update(op_registry.oracle_queries())
    return out
