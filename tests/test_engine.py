"""Unit tests: catalog registry, 3-part-name SQL rewrite, bucketing."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_rewrite_three_part_names(spark):
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.sql import rewrite_three_part_names

    eng = engine_for(spark, SF_SMALL)
    out = rewrite_three_part_names(
        "SELECT psql.tpch.lineitem.l_orderkey FROM psql.tpch.lineitem "
        "WHERE x = 'psql.tpch.lineitem'",
        eng.catalogs,
    )
    # table ref and fully-qualified column ref rewritten; literal untouched
    assert "FROM __cat_psql_tpch_lineitem" in out
    assert "__cat_psql_tpch_lineitem.l_orderkey" in out
    assert "'psql.tpch.lineitem'" in out


def test_rewrite_case_insensitive_and_unregistered(spark):
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.sql import rewrite_three_part_names

    eng = engine_for(spark, SF_SMALL)
    out = rewrite_three_part_names(
        "SELECT * FROM PSQL.TPCH.LINEITEM JOIN other.cat.table t", eng.catalogs
    )
    assert "__cat_psql_tpch_lineitem" in out
    assert "other.cat.table" in out  # unregistered name falls through


def test_rewrite_masks_comments_and_quoted_identifiers(spark):
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.sql import rewrite_three_part_names

    eng = engine_for(spark, SF_SMALL)
    out = rewrite_three_part_names(
        "SELECT * FROM psql.tpch.lineitem -- psql.tpch.lineitem here\n"
        "/* block psql.tpch.lineitem\n comment */ "
        'WHERE "psql.tpch.lineitem" = `psql.tpch.lineitem`',
        eng.catalogs,
    )
    assert "FROM __cat_psql_tpch_lineitem" in out
    assert "-- psql.tpch.lineitem here" in out
    assert "/* block psql.tpch.lineitem\n comment */" in out
    assert '"psql.tpch.lineitem"' in out
    assert "`psql.tpch.lineitem`" in out


def test_catalog_cross_catalog_join(spark):
    """Federated join across two 'catalogs' in one Catalyst plan."""
    from dblab_ece_trino_spark.entrypoints import engine_for

    eng = engine_for(spark, SF_SMALL)
    df = eng.sql(
        """
        SELECT count(*) AS n
        FROM mongodb.tpch.orders o JOIN psql.tpch.customer c
          ON o.o_custkey = c.c_custkey
        """
    )
    assert df.collect()[0].n > 0


def test_catalog_unknown_table_errors(spark):
    from dblab_ece_trino_spark.entrypoints import engine_for

    eng = engine_for(spark, SF_SMALL)
    try:
        eng.catalogs.table("nope.nope.nope")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_hash_bucketing_properties(spark):
    """Reference loader.py:213-218 parity: buckets are deterministic,
    complete (sum == total), disjoint, and reasonably uniform."""
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.functions.hashing import (
        bucket_expr,
        bucket_expr_reference_literal,
    )

    eng = engine_for(spark, SF_SMALL)
    orders = eng.catalogs.table("mongodb.tpch.orders")
    n = 8
    b = orders.withColumn("bucket", bucket_expr(F.col("o_orderkey"), n))
    counts = {r.bucket: r.n for r in b.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    total = orders.count()
    assert sum(counts.values()) == total
    assert set(counts) <= set(range(n))
    assert len(counts) == n  # every bucket non-empty at 1500 rows
    assert max(counts.values()) < 3 * total / n  # rough uniformity
    # determinism: same expression twice → identical assignment
    b2 = orders.withColumn("bucket", bucket_expr(F.col("o_orderkey"), n))
    assert (
        b.select("o_orderkey", "bucket")
        .exceptAll(b2.select("o_orderkey", "bucket"))
        .count()
        == 0
    )
    # the literal mask-then-mod reference chain is also a complete bucketing
    b3 = orders.withColumn(
        "bucket", bucket_expr_reference_literal(F.col("o_orderkey"), n)
    )
    assert b3.filter((F.col("bucket") < 0) | (F.col("bucket") >= n)).count() == 0


def test_char_normalize_pad_insensitive_grouping(spark):
    """SURVEY §7.2: char(N) blank-padding must not split group/set-op keys."""
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.functions.charn import normalize_char_columns

    df = spark.createDataFrame(
        [(1, "TX"), (2, "TX  "), (3, "CA"), (4, None), (5, "  ")],
        "id int, state string",
    )
    norm = normalize_char_columns(df, ["state"])
    groups = {
        r.state: r.n
        for r in norm.groupBy("state").agg(F.count("*").alias("n")).collect()
    }
    assert groups["TX"] == 2  # 'TX' and 'TX  ' merge
    assert groups["CA"] == 1
    assert groups[None] == 1  # NULL preserved, not turned into ''
    assert groups[""] == 1  # all-blank normalizes to empty string


def test_char_columns_option_in_scan_path(spark, tmp_path, duck):
    """The catalog's opt-in char_columns option applies the rtrim
    discipline at scan time: grouping and EXCEPT over blank-padded
    char(2) keys (the reference's ca_state trap, SURVEY §7.2) match the
    DuckDB oracle's pad-insensitive semantics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dblab_ece_trino_spark.entrypoints import engine_for
    from tests.conftest import assert_matches_oracle

    path = str(tmp_path / "addr.parquet")
    pq.write_table(
        pa.table(
            {
                "id": list(range(6)),
                "ca_state": ["TX", "TX  ", "CA", "CA", "NY  ", None],
            }
        ),
        path,
    )
    eng = engine_for(spark, str(tmp_path))
    from dblab_ece_trino_spark.catalog import TableSpec

    eng.catalogs.register(
        TableSpec(
            "psql", "tpcds", "addr", "parquet", path,
            options={"char_columns": "ca_state"},
        )
    )
    grouped = eng.sql(
        "SELECT ca_state, count(*) AS n FROM psql.tpcds.addr GROUP BY ca_state"
    )
    cur = duck.cursor()
    cur.execute(f"CREATE OR REPLACE VIEW addr AS SELECT * FROM read_parquet('{path}')")
    assert_matches_oracle(
        grouped, cur,
        "SELECT rtrim(ca_state) AS ca_state, count(*) AS n FROM addr GROUP BY 1",
    )
    # EXCEPT over padded keys: 'NY  ' must cancel against 'NY'
    ex = eng.sql(
        "SELECT ca_state FROM psql.tpcds.addr WHERE id >= 3 "
        "EXCEPT SELECT 'NY' AS ca_state"
    )
    rows = {r.ca_state for r in ex.collect()}
    assert rows == {"CA", None}


def test_mongo_es_connector_seam(spark):
    """The mongo/es TableSpec seam plumbs options into the real Spark
    connector format and fails with deployment guidance when the package
    is absent (this container), rather than a bare gate."""
    import pytest

    from dblab_ece_trino_spark.catalog import CatalogRegistry, TableSpec

    reg = CatalogRegistry(spark)
    for fmt, pkg_frag in (("mongo", "mongo-spark-connector"),
                          ("es", "elasticsearch-spark")):
        spec = TableSpec(
            "x", "y", "z", fmt,
            options={"uri": "mongodb://example/db.z", "collection": "z"},
        )
        with pytest.raises(NotImplementedError, match=pkg_frag):
            reg.load(spec)


def test_dedup_clusters_raises_on_non_convergence(spark):
    from dblab_ece_trino_spark.operators.dedup import dedup_clusters

    # a path graph of diameter 6 cannot converge in 2 rounds of min-label
    # propagation — the loop must refuse to return partial labels
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a int, id_b int"
    )
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iter=2)
    # with budget it converges to a single cluster rooted at 0
    labels = dedup_clusters(pairs, max_iter=10)
    assert {r.cluster for r in labels.collect()} == {0}


def test_engine_for_sf_switch_reasserts_views(spark):
    """Temp views are global per session; switching sf_dir and back must
    re-point them — a cached engine must never read another scale factor's
    data (the engine_for _ACTIVE tracker)."""
    from dblab_ece_trino_spark.entrypoints import engine_for
    from tests.conftest import SF_MED, SF_SMALL

    n_small = engine_for(spark, SF_SMALL).catalogs.table("mongodb.tpch.orders").count()
    n_med = engine_for(spark, SF_MED).catalogs.table("mongodb.tpch.orders").count()
    assert n_med > n_small
    again = engine_for(spark, SF_SMALL).catalogs.table("mongodb.tpch.orders").count()
    assert again == n_small
    # leave the shared session pointed back at SF_SMALL for other tests
    engine_for(spark, SF_SMALL)


def test_connector_options_reach_reader(spark):
    """End-to-end proof that TableSpec options flow into
    spark.read.format(fmt): a Python DataSource registered under a fake
    connector name reads its own options back as rows (the same seam a
    real mongo/es/vendor connector jar would use — VERDICT r2 item 4)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class _EchoReader(DataSourceReader):
        def __init__(self, options):
            self._options = options

        def read(self, partition):
            yield (str(self._options.get("uri")), str(self._options.get("collection")))

    class _EchoSource(DataSource):
        @classmethod
        def name(cls):
            return "fakeconn"

        def schema(self):
            return "uri string, collection string"

        def reader(self, schema):
            return _EchoReader(self.options)

    spark.dataSource.register(_EchoSource)

    from dblab_ece_trino_spark.catalog import CatalogRegistry, TableSpec

    reg = CatalogRegistry(spark)
    spec = TableSpec(
        "vendor", "db", "tbl", "fakeconn",
        options={"uri": "mongodb://example/db", "collection": "tbl"},
    )
    rows = reg.load(spec).collect()
    assert rows[0].uri == "mongodb://example/db"
    assert rows[0].collection == "tbl"
    # unknown format with no registered DataSource still fails with guidance
    import pytest

    with pytest.raises(NotImplementedError, match="not a bundled format"):
        reg.load(TableSpec("v", "d", "t", "no_such_format"))


def test_script_imports_resolve():
    """Every ``from dblab_ece_trino_spark... import X`` in scripts/*.py and
    bench.py names an attribute or submodule that exists.  No test imports
    most scripts, so an import of a deleted object would otherwise go
    unnoticed until someone runs the script."""
    import ast
    import importlib
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    files = sorted(repo.glob("scripts/*.py")) + [repo / "bench.py"]
    broken: list[str] = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.split(".")[0] == "dblab_ece_trino_spark"
            ):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                name = alias.name
                # a submodule of a package resolves even before it is imported
                submodule = hasattr(mod, "__path__") and importlib.util.find_spec(
                    f"{node.module}.{name}"
                )
                if not hasattr(mod, name) and not submodule:
                    broken.append(
                        f"{path.relative_to(repo)}:{node.lineno}: "
                        f"{node.module}.{name}"
                    )
    assert not broken, "unresolved imports:\n" + "\n".join(broken)


def test_materialize_membership_short_circuit(spark):
    """materialize() is idempotent ONLY on frames it checkpointed itself
    (membership in _CHECKPOINTED_RDD_IDS), never on plan shape alone:
    a LogicalRDD backing a never-checkpointed frame (df.rdd round-trip)
    must still be eagerly checkpointed (round-14 advice)."""
    from dblab_ece_trino_spark.session import (
        _CHECKPOINTED_RDD_IDS,
        materialize,
    )

    df = spark.range(50).selectExpr("id", "id * 2 AS y")
    m1 = materialize(df)
    plan = m1._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert plan.rdd().id() in _CHECKPOINTED_RDD_IDS
    assert materialize(m1) is m1  # ours -> short-circuit
    # a LogicalRDD frame materialize() did NOT create must not
    # short-circuit (rdd round-trip yields a fresh LogicalRDD plan)
    alien = spark.createDataFrame(df.rdd, df.schema)
    alien_plan = alien._jdf.queryExecution().optimizedPlan()
    if alien_plan.getClass().getSimpleName() == "LogicalRDD":
        assert materialize(alien) is not alien
