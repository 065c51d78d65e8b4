"""The declared-query registry is the union of the registry_* CASES tables.

A dict merge silently keeps the last of two entries with one name, so the
tables must be pairwise disjoint, and every query must carry an oracle."""

from __future__ import annotations

from itertools import combinations

from cloud_data_quality_spark.plans import (
    registry_corpus,
    registry_dq,
    registry_similarity,
)
from cloud_data_quality_spark.plans.registry import ORACLES, QUERIES

TABLES = {
    "registry_dq": registry_dq.CASES,
    "registry_similarity": registry_similarity.CASES,
    "registry_corpus": registry_corpus.CASES,
}


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


def test_case_tables_are_disjoint():
    for (a, ta), (b, tb) in combinations(TABLES.items(), 2):
        assert not set(ta) & set(tb), (a, b, sorted(set(ta) & set(tb)))


def test_case_tables_make_up_the_registry():
    union = set().union(*TABLES.values())
    assert union == set(QUERIES)
    assert sum(map(len, TABLES.values())) == len(QUERIES)


def test_cases_are_query_and_oracle_sql():
    for name, (query, sql) in (
            (n, case) for t in TABLES.values() for n, case in t.items()):
        assert callable(query), name
        assert QUERIES[name] is query and ORACLES[name] is sql, name
        assert isinstance(sql, str) and sql.strip(), name
