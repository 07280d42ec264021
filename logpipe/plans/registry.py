"""Query/oracle registry machinery shared by the gate modules.

The registry is ONE ordered dict: modules register gates in import
order (logpipe.plans.driver_queries imports the gate modules in the
canonical order, so the driver's 50-query correctness window sees the
same sequence the single-file layout had). ``register`` is the one
path in: every gate registers with its DuckDB oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str]] = {}


def register(name: str, sql: str):
    def deco(fn: QueryFn):
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items()}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")
