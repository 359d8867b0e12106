"""The declared query inventory — the engine's oracle-checked surface.

Each entry pairs a Spark DataFrame implementation with an equivalent SQL
string DuckDB can run over the same parquet tables (driver contract in
``__spark_entry__.py``). Column names are aliased identically on both
sides; double-typed aggregates are rounded to 2 decimals on both sides so
the order-insensitive value hash is stable across engines (floating-point
summation order differs between Spark partial-aggregation and DuckDB).

Queries marked ``oracle=None`` are genuinely non-SQL-expressible (custom
stateful streaming, iterative algorithms) and get a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    """Register a query in the inventory."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from typebus_spark.session import load_table

    return load_table(spark, sf_dir, name)


# Import modules that register queries (order defines inventory order).
from typebus_spark.queries import relational  # noqa: E402,F401
from typebus_spark.queries import relational2  # noqa: E402,F401
from typebus_spark.queries import relational3  # noqa: E402,F401
from typebus_spark.queries import relational4  # noqa: E402,F401
from typebus_spark.queries import skewq  # noqa: E402,F401
from typebus_spark.queries import analytics  # noqa: E402,F401
from typebus_spark.queries import dataflow  # noqa: E402,F401
from typebus_spark.queries import dedup  # noqa: E402,F401
from typebus_spark.queries import similarity  # noqa: E402,F401
from typebus_spark.queries import text  # noqa: E402,F401
from typebus_spark.queries import corpus  # noqa: E402,F401


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
