"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``candyspark.plans`` (one module per family, oracle SQL
adjacent to each Spark implementation); this file only adapts that registry
to the driver's shape.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from candyspark.plans import collect_registry
from candyspark.plans.relational import q_daily_summary
from candyspark.session import ship_package

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7.1): per-day order count + revenue —
    the daily-summary shape at the heart of the reference pipeline
    (/root/reference/src/data_processor.py:517-572)."""
    ship_package(spark)
    return q_daily_summary(spark, SF0001)


def _shipped(fn: Callable[[SparkSession, str], DataFrame]):
    # The host owns the SparkSession and may run from any cwd; ship the
    # package to workers before any UDF-bearing plan executes.
    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        ship_package(spark)
        return fn(spark, sf_dir)

    return wrapper


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _shipped(spec.fn) for name, spec in collect_registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each SQL-expressible query; omitted keys
    (e.g. the sequential greedy allocator) get the driver's rows-only check."""
    return {
        name: spec.sql for name, spec in collect_registry().items() if spec.sql is not None
    }
