"""Query/oracle registry — the driver-contract surface.

Each entry pairs a Spark DataFrame query (built from this package's operators)
with an exact DuckDB oracle SQL string over the same parquet tables. The
driver runs both at sf0.01 and compares row count + schema + order-insensitive
value hash (see __spark_entry__.py). Column names/types are aliased
identically on both sides; floats are rounded to fixed decimals on both sides.

A query is registered where it is defined: each registry_* module ends with
one ``CASES`` table, name → (query, oracle SQL). This module only merges them
(tests/test_registry_tables.py checks that the names are disjoint).

Conventions:
* deterministic only — no current_timestamp, no rand, fixed execution_ts
  for engine runs;
* counts cast to BIGINT on both sides;
* approximate operators (LSH/IVF ANN) are approximate w.r.t. BRUTE FORCE
  (recall pytest-asserted) but deterministic given their constants, so they
  still carry an exact value oracle generated from the same constants.
"""

from __future__ import annotations

from cloud_data_quality_spark.plans import (
    registry_corpus,
    registry_dq,
    registry_similarity,
)
from cloud_data_quality_spark.plans.registry_dq import _run_dq  # noqa: F401

TABLES = (registry_dq.CASES, registry_similarity.CASES, registry_corpus.CASES)
QUERIES = {name: q for cases in TABLES for name, (q, _) in cases.items()}
ORACLES = {name: sql for cases in TABLES for name, (_, sql) in cases.items()}
