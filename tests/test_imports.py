"""Import smoke test, no JVM: every module under ``lsh_qd_spark`` imports,
and the driver contract declares the same 31 queries on both sides (Spark
and its DuckDB twin). A dangling import left behind by a deleted module
fails here in seconds instead of deep inside the Spark-backed suite."""

import importlib
import pkgutil

import lsh_qd_spark

N_DECLARED_QUERIES = 31


def test_every_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            lsh_qd_spark.__path__, prefix="lsh_qd_spark."
        )
    ]
    assert "lsh_qd_spark.plans.pipeline" in names
    assert "lsh_qd_spark.streaming.incremental" in names
    for name in names:
        importlib.import_module(name)


def test_declared_queries_match_oracle_twins():
    import __spark_entry__ as entry

    spark_names = set(entry.queries())
    sql_names = set(entry.oracle_sql())
    assert spark_names == sql_names
    assert len(spark_names) == N_DECLARED_QUERIES
