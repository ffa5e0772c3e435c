"""Entry points over the query registry.

``entry(spark)`` runs the flagship query as a smoke check.
``queries()`` maps every registry name to its builder and
``oracle_sql()`` maps every name that has one to its DuckDB-equivalent
SQL, both in sorted-name order, so a verifier can run each query at
sf=0.01 and compare it against its oracle (row count, schema and an
order-insensitive value hash). Names without an oracle get a rows-only
check.

All queries live in ``xorbits_sql_spark.queries`` (one module per
operator family); this file just adapts the registry to that contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from xorbits_sql_spark.queries import load_all


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001 parquet."""
    specs = load_all()
    return specs["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + extensions."""
    return {name: spec.fn for name, spec in sorted(load_all().items())}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL-expressible
    streaming ops — those get a rows-only check)."""
    return {
        name: spec.oracle
        for name, spec in sorted(load_all().items())
        if spec.oracle is not None
    }
