"""Operator registry: every harness-checkable operator lives in one of the
modules below and registers (spark_fn, oracle_sql | None) under a stable name.

The registry backs ``__spark_entry__.queries()`` / ``oracle_sql()`` — the
driver's correctness gate (DuckDB oracle at sf0.01).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, tuple[SparkFn, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: SparkFn) -> SparkFn:
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def all_registered() -> dict[str, tuple[SparkFn, str | None]]:
    # import side-effect modules once
    from search_replica_spark.operators import (  # noqa: F401
        doc_transform,
        fulltext,
        similarity,
        streaming_ops,
    )

    return dict(REGISTRY)
