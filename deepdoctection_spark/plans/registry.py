"""Query registry shared by all plan modules.

Every implemented operator registers (name → DataFrame builder) together
with the DuckDB oracle SQL its result must match. __spark_entry__ surfaces
the registry to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco
