"""Query catalog — the engine's demonstrated SQL/operator surface.

Each family module defines ``QUERIES`` (name -> ``(spark, sf_dir) ->
DataFrame``) and, where the semantics are ANSI-SQL-expressible,
``ORACLES`` (name -> DuckDB SQL). The driver hash-compares the two at
sf0.01, so both sides alias computed columns identically, round or cast
order-sensitive floats identically, and break every ORDER BY under a LIMIT
with a unique key. This package merges the families in module order and
holds the shared ``load`` / ``sql_query`` helpers; the driver's gate order
is applied in ``__spark_entry__.queries()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datafusion_gpu_spark.aggregates import register_aggregates
from datafusion_gpu_spark.context import register_tables

QueryFn = Callable[[SparkSession, str], DataFrame]


def load(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Register the star schema + custom aggregates for a query run."""
    register_tables(spark, sf_dir)
    register_aggregates(spark)
    return spark


def sql_query(statement: str) -> QueryFn:
    """Wrap a Spark SQL string as a (spark, sf_dir) -> DataFrame callable."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        load(spark, sf_dir)
        return spark.sql(statement)

    return run


def all_queries() -> dict[str, QueryFn]:
    registry: dict[str, QueryFn] = {}
    for mod in _modules():
        registry.update(mod.QUERIES)
    return registry


def all_oracles() -> dict[str, str]:
    registry: dict[str, str] = {}
    for mod in _modules():
        registry.update(mod.ORACLES)
    return registry


def _modules():
    from datafusion_gpu_spark.queries import (
        aggregates_q,
        custom_agg,
        io_q,
        pipeline,
        reference_tables,
        relational,
        scalar_fns,
        tpch,
        tpch_extra,
        tpch_full,
        windows,
    )

    return (
        tpch,
        tpch_extra,
        tpch_full,
        relational,
        aggregates_q,
        windows,
        scalar_fns,
        custom_agg,
        pipeline,
        reference_tables,
        io_q,
    )
