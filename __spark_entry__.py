"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` expose the full declared operator registry
(the ``java_mapreduce_framework_spark/plans/registry/`` package, one
module per operator family; one entry per operator in SURVEY.md
section 2B) for the sf0.01 DuckDB correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from java_mapreduce_framework_spark.plans import registry as _registry

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (wordcount over documents, the reference's
    shipped job) on /root/testdata/sf0.001; driver checks rows>0."""
    return _registry.queries()["wordcount"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query; omitted keys are
    non-SQL-expressible ops (approximate / binary-valued) that take
    the rows-only check."""
    return _registry.oracle_sql()
