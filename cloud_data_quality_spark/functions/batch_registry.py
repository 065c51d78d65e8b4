"""Registry of vectorized pandas batch functions for CUSTOM_PANDAS_BATCH rules.

The reference has no UDF surface at all (SURVEY.md §2.10) — all its compute is
SQL pushed to BigQuery. This registry is the extension point the north star
requires: web-text rules (language-ID, perplexity, quality heuristics, PII
scrub) that can't be expressed as one SQL predicate register here and compile
into Arrow-batched stages (pandas_udf / mapInPandas — never row-at-a-time
Python).

Contract: a batch function takes (pd.Series of the bound column, params dict)
and returns a boolean pd.Series (True=valid, False=invalid, None/NaN=null) OR
a pd.Series of floats/strings when used as a feature stage. Registered
functions must be importable on executors (module-level, no closures over
SparkSession) and deterministic.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

_REGISTRY: dict[str, Callable[[pd.Series, dict], pd.Series]] = {}


def register_batch_function(name: str):
    def deco(fn):
        _REGISTRY[name.upper()] = fn
        return fn
    return deco


def get_batch_function(name: str) -> Callable[[pd.Series, dict], pd.Series]:
    fn = _REGISTRY.get(name.upper())
    if fn is None:
        # import modules that register built-ins, then retry once
        import cloud_data_quality_spark.functions.webtext_rules  # noqa: F401
        fn = _REGISTRY.get(name.upper())
    if fn is None:
        raise KeyError(
            f"Unknown batch function {name!r}; registered: {sorted(_REGISTRY)}"
        )
    return fn
