"""Shared helpers for the plans/registry_* domain modules."""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

#: fixed execution timestamp — registry runs must be deterministic
TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

#: one declared query: (Spark query over an sf_dir, its DuckDB oracle SQL)
Case = tuple[Callable[[SparkSession, str], DataFrame], str]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
