"""The entity pass: every binding that reads one entity is validated by one
compiled SQL text (compile_entity) in one job (DqEngine.run_entity).

* the compiled text for a fixed binding group is pinned (golden),
* a multi-binding run gives each binding exactly the summary rows and
  failed records it gets when run alone — incremental windows, zero-row
  bindings, NULL validity, Arrow batch rules and quoted ids included.
"""

from __future__ import annotations

import shutil
from collections import Counter
from datetime import datetime, timezone

from cloud_data_quality_spark.compiler.binding import (
    compile_binding,
    compile_entity,
    sql_ident,
    sql_str,
)
from cloud_data_quality_spark.config.loader import load_configs
from cloud_data_quality_spark.engine.runner import DqEngine

TS = datetime(2024, 1, 10, tzinfo=timezone.utc)
TS_MID = datetime(2024, 1, 5, tzinfo=timezone.utc)
# columns that legitimately differ between two runs of the same binding
RUN_COLUMNS = {"invocation_id", "dq_run_id", "execution_ts", "last_modified",
               "_dq_validation_invocation_id", "_dq_validation_execution_ts"}

GOLDEN_SQL = """\
SELECT *,
  CASE WHEN __in_0 THEN CASE WHEN (VALUE IS NOT NULL) THEN TRUE ELSE FALSE END END AS __v_0_0,
  CASE WHEN __in_0 THEN CASE WHEN `VALUE` IS NULL THEN NULL WHEN (LENGTH( VALUE ) <= 30) THEN TRUE ELSE FALSE END END AS __v_0_1,
  CASE WHEN __in_1 THEN CASE WHEN (VALUE IS NOT NULL) THEN TRUE ELSE FALSE END END AS __v_1_0
FROM (
  SELECT *,
    (contact_type = 'email') AS __in_0,
    (contact_type = 'email') AND CAST(`TS` AS TIMESTAMP) BETWEEN \
timestamp_micros(1704412800000000) AND timestamp_micros(1704844800000000) \
AS __in_1
  FROM `src`
)
WHERE __in_0 OR __in_1"""

GOLDEN_METRIC = (
    "named_struct('n0', count_if(__in_0), "
    "'s0_0', count_if(__v_0_0 = TRUE), 'f0_0', count_if(__v_0_0 = FALSE), "
    "'s0_1', count_if(__v_0_1 = TRUE), 'f0_1', count_if(__v_0_1 = FALSE), "
    "'n1', count_if(__in_1), "
    "'s1_0', count_if(__v_1_0 = TRUE), 'f1_0', count_if(__v_1_0 = FALSE))")


def _failing(v: str, rule: str, rbid: str, refs: str) -> str:
    return (f"  CASE WHEN {v} = FALSE THEN named_struct("
            f"'_dq_validation_rule_id', '{rule}', "
            f"'_dq_validation_rule_binding_id', '{rbid}', "
            f"'_dq_validation_column_id', 'VALUE', "
            f"'_dq_validation_column_value', CAST(`VALUE` AS STRING), "
            f"'_dq_validation_reference_columns_json', "
            f"to_json(struct({refs}))) END")


GOLDEN_FAILED = (
    "inline(array_compact(array(\n"
    + ",\n".join([
        _failing("__v_0_0", "NOT_NULL_SIMPLE", "PAIR_EMAIL",
                 "`ROW_ID`, `CONTACT_TYPE`"),
        _failing("__v_0_1", "CUSTOM_SQL_LENGTH_LE_30", "PAIR_EMAIL",
                 "`ROW_ID`, `CONTACT_TYPE`"),
        _failing("__v_1_0", "NOT_NULL_SIMPLE", "T9_INCREMENTAL", "`VALUE`"),
    ]) + ")))",
    "'inv-1' AS _dq_validation_invocation_id",
    "timestamp_micros(1704844800000000) AS _dq_validation_execution_ts",
)

PAIR_YAML = """
rule_bindings:
  PAIR_EMAIL:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: DATA_TYPE_EMAIL
    reference_columns_id: CONTACT_REFS
    rule_ids: [NOT_NULL_SIMPLE, CUSTOM_SQL_LENGTH_LE_30]
    metadata: {}
"""


def test_compile_entity_golden(tmp_path):
    """compile_entity is pure: the text for a fixed group is pinned."""
    from conftest import CONTACT_CONFIGS_YAML
    (tmp_path / "contact.yml").write_text(CONTACT_CONFIGS_YAML.format(
        contact_details_path="/data/contact_details.parquet"))
    (tmp_path / "pair.yml").write_text(PAIR_YAML)
    reg = load_configs(tmp_path)
    bindings = [compile_binding(reg, "PAIR_EMAIL"),
                compile_binding(reg, "T9_INCREMENTAL")]
    q = compile_entity(bindings, "src", windows=[None, (TS_MID, TS)],
                       invocation_id="inv-1", execution_ts=TS)
    assert q.sql == GOLDEN_SQL
    assert q.metric == GOLDEN_METRIC
    assert q.failed_records == GOLDEN_FAILED
    assert q.in_binding[0] == "(contact_type = 'email')"


def test_sql_literals_escape():
    assert sql_str("it's") == "'it\\'s'"
    assert sql_str("a\\b") == "'a\\\\b'"
    assert sql_ident("odd`name") == "`odd``name`"
    assert sql_ident("s.field") == "`s`.`field`"  # nested, as F.col reads it


PARITY_YAML = """
entities:
  CONTACT_DETAILS:
    table_name: "{path}"
    source_format: parquet
    columns:
      ROW_ID: {{data_type: STRING}}
      CONTACT_TYPE: {{data_type: STRING}}
      VALUE: {{data_type: STRING}}
      TS: {{data_type: DATETIME}}
row_filters:
  NONE: {{filter_sql_expr: "True"}}
  EMAIL: {{filter_sql_expr: "contact_type = 'email'"}}
  NOTHING: {{filter_sql_expr: "contact_type = 'fax'"}}
rules:
  NOT_NULL_SIMPLE: {{rule_type: NOT_NULL}}
  REGEX_VALID_EMAIL:
    rule_type: REGEX
    params: {{pattern: "^[a-z]+@[a-z]+\\\\.com$"}}
  LENGTH_LE_30:
    rule_type: CUSTOM_SQL_EXPR
    params: {{custom_sql_expr: "LENGTH($column) <= 30"}}
  NO_PII_IN_VALUE:
    rule_type: CUSTOM_PANDAS_BATCH
    params: {{function: NO_PII}}
  NO_DUP_VALUES:
    rule_type: CUSTOM_SQL_STATEMENT
    params:
      custom_sql_statement: |-
        select value from data where value is not null
        group by value having count(*) > 1
reference_columns:
  REFS:
    include_reference_columns: [row_id, contact_type]
rule_bindings:
  RB_ALL:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: NONE
    reference_columns_id: REFS
    rule_ids: [NOT_NULL_SIMPLE, REGEX_VALID_EMAIL, LENGTH_LE_30,
               NO_PII_IN_VALUE, NO_DUP_VALUES]
    metadata: {{}}
  RB_EMAIL:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: EMAIL
    rule_ids: [REGEX_VALID_EMAIL, NO_PII_IN_VALUE]
    metadata: {{}}
  RB_NOTHING:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: NOTHING
    rule_ids: [NOT_NULL_SIMPLE, REGEX_VALID_EMAIL, NO_DUP_VALUES]
    metadata: {{}}
  RB_INC_SEEDED:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: NONE
    incremental_time_filter_column_id: TS
    rule_ids: [NOT_NULL_SIMPLE, LENGTH_LE_30, NO_DUP_VALUES]
    metadata: {{}}
  RB_INC_FRESH:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: EMAIL
    incremental_time_filter_column_id: TS
    rule_ids: [NOT_NULL_SIMPLE, REGEX_VALID_EMAIL]
    metadata: {{}}
  "RB_IT'S":
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: NONE
    reference_columns_id: REFS
    rule_ids: [NOT_NULL_SIMPLE, LENGTH_LE_30]
    metadata: {{note: "quote's"}}
"""
PARITY_IDS = ["RB_ALL", "RB_EMAIL", "RB_NOTHING", "RB_INC_SEEDED",
              "RB_INC_FRESH", "RB_IT'S"]


def _strip(row: dict) -> tuple:
    return tuple(sorted((k, v) for k, v in row.items()
                        if k not in RUN_COLUMNS))


def _run(spark, reg, ids, out, seed=None, **kw):
    """One engine run into its own summary/failed-records paths, starting
    from a copy of the ``seed`` summary store when given."""
    summary = out / "summary"
    if seed is not None:
        shutil.copytree(seed, summary)
    eng = DqEngine(spark, reg, summary_path=str(summary),
                   failed_records_path=str(out / "failed"),
                   table_name_vars=kw.pop("table_name_vars", None))
    res = eng.run(ids, execution_ts=TS, invocation_id="inv",
                  write_failed_records=True, **kw)
    rows = [r.asDict() for r in res.summary.collect()]
    failed = (Counter(_strip(r.asDict()) for r in
                      spark.read.parquet(str(out / "failed")).collect())
              if (out / "failed").exists() else Counter())
    return rows, failed


def _assert_multi_equals_singles(spark, reg, ids, tmp_path, **kw):
    multi_rows, multi_failed = _run(spark, reg, ids, tmp_path / "multi",
                                    **dict(kw))
    single_rows, single_failed = [], Counter()
    for i, rbid in enumerate(ids):
        rows, failed = _run(spark, reg, [rbid], tmp_path / f"single{i}",
                            **dict(kw))
        single_rows += rows
        single_failed += failed
    key = lambda r: (r["rule_binding_id"], r["rule_id"])  # noqa: E731
    assert sorted(map(key, multi_rows)) == sorted(map(key, single_rows))
    singles = {key(r): _strip(r) for r in single_rows}
    for r in multi_rows:
        assert _strip(r) == singles[key(r)], key(r)
    assert multi_failed == single_failed
    return multi_rows, multi_failed


def test_multi_binding_run_matches_single_runs(spark, contact_details,
                                               tmp_path):
    (tmp_path / "cfg").mkdir()
    (tmp_path / "cfg" / "c.yml").write_text(
        PARITY_YAML.format(path=contact_details))
    reg = load_configs(tmp_path / "cfg")
    # prior state: RB_INC_SEEDED has a watermark mid-way through the data,
    # RB_INC_FRESH none (EPOCH) — two different incremental windows
    seed = tmp_path / "seed"
    DqEngine(spark, reg, summary_path=str(seed)).run(
        ["RB_INC_SEEDED"], execution_ts=TS_MID, incremental=True)
    rows, failed = _assert_multi_equals_singles(
        spark, reg, PARITY_IDS, tmp_path, seed=seed, incremental=True)

    by = {(r["rule_binding_id"], r["rule_id"]): r for r in rows}
    # the two windows really differ: rows at/after 2024-01-05 vs all emails
    assert by[("RB_INC_SEEDED", "NOT_NULL_SIMPLE")]["rows_validated"] == 5
    assert by[("RB_INC_FRESH", "NOT_NULL_SIMPLE")]["rows_validated"] == 7
    # a binding that selects no row: zero-row summary semantics
    for rule in ("NOT_NULL_SIMPLE", "REGEX_VALID_EMAIL"):
        r = by[("RB_NOTHING", rule)]
        assert r["rows_validated"] == 0
        assert r["success_count"] is None and r["failed_count"] is None
    assert by[("RB_NOTHING", "NO_DUP_VALUES")][
        "complex_rule_validation_errors_count"] == 0
    # NULL validity counts as null, never as a failure
    regex = by[("RB_ALL", "REGEX_VALID_EMAIL")]
    assert regex["null_count"] == 2
    assert regex["success_count"] + regex["failed_count"] + 2 == 9
    regex_failed = [dict(f) for f in failed.elements()
                    if dict(f)["_dq_validation_rule_id"] == "REGEX_VALID_EMAIL"
                    and dict(f)["_dq_validation_rule_binding_id"] == "RB_ALL"]
    assert len(regex_failed) == regex["failed_count"]
    assert all(f["_dq_validation_column_value"] is not None
               for f in regex_failed)
    # the Arrow batch rule counts and fails per row like any other rule
    pii = by[("RB_ALL", "NO_PII_IN_VALUE")]
    assert pii["failed_count"] > 0
    assert sum(1 for f in failed.elements()
               if dict(f)["_dq_validation_rule_id"] == "NO_PII_IN_VALUE") \
        == pii["failed_count"] + by[("RB_EMAIL", "NO_PII_IN_VALUE")][
            "failed_count"]
    # quoted ids survive as data, reference columns as JSON
    quoted = [dict(f) for f in failed.elements()
              if dict(f)["_dq_validation_rule_binding_id"] == "RB_IT'S"]
    assert by[("RB_IT'S", "NOT_NULL_SIMPLE")]["failed_count"] == 2
    assert len(quoted) == 2 + by[("RB_IT'S", "LENGTH_LE_30")]["failed_count"]
    some = next(dict(f) for f in failed.elements()
                if dict(f)["_dq_validation_rule_binding_id"] == "RB_ALL")
    assert some["_dq_validation_reference_columns_json"].startswith(
        '{"ROW_ID":')


def test_shipped_configs_multi_matches_single(spark, tmp_path):
    from test_shipped_rules import SF  # the shipped configs' test tables
    reg = load_configs("configs")
    _assert_multi_equals_singles(spark, reg, sorted(reg.rule_bindings),
                                 tmp_path, table_name_vars={"sf_dir": SF})
