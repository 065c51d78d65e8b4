"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Each query is registered in the CASES table at the end of the
cloud_data_quality_spark/plans/registry_* module that defines it, paired with
a DuckDB oracle generated from the same Python constants (stopword lists,
thresholds, scrub patterns) so the two sides cannot drift; plans/registry.py
merges the tables into QUERIES and ORACLES. Every registered query has a full
value oracle — including lsh_ann, whose DuckDB SQL replays the exact
hyperplane constants (LSH is approximate w.r.t. brute force — recall is
pytest-asserted — but fully deterministic given its planes, so its VALUES are
exactly checkable).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from cloud_data_quality_spark.plans.registry import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CloudDQ-contract validation run (4 rule bindings over
    customer/orders/events → 6 summary rows) on sf0.001."""
    from cloud_data_quality_spark.plans.registry import _run_dq
    return _run_dq(spark, "/root/testdata/sf0.001",
                   ["RB_CUSTOMER_ACCTBAL", "RB_CUSTOMER_NAME",
                    "RB_ORDERS_DUP", "RB_EVENTS_WINDOW"])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
