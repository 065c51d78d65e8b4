"""Rule-binding → Spark SQL compiler.

The reference renders one BigQuery SQL script per rule binding with one
UNION-ALL branch per rule over the same scan
(clouddq/templates/dbt/macros/create_rule_binding_view.sql:56-95) and lets
BigQuery dedupe the scan. A literal translation would re-scan the table once
per rule in Spark, and even one pass per binding re-reads an entity once per
binding, so we compile every binding that shares an entity into ONE SQL text
(``compile_entity``):

* each binding gets a row-in-binding flag ``__in_{b}``: row filter ∧
  partition NULL-guards ∧ that binding's own incremental window; the scan
  keeps only rows some binding selects (``WHERE __in_0 OR __in_1 …``,
  pushed into the Parquet reader by Catalyst),
* every row-level rule becomes one tri-valued validity column
  ``__v_{b}_{r}`` (macros.sql:28-42 semantics: NULL column → NULL,
  predicate → TRUE, else FALSE; NOT_NULL has no NULL branch), NULL outside
  its binding; CUSTOM_PANDAS_BATCH rules call a session-registered Arrow
  UDF named by ``batch_udf_name``,
* one ``named_struct`` metric of ``count_if`` aggregates holds every
  binding's rows_validated and every rule's success/failed/null counts,
* one ``inline(array_compact(array(CASE … END, …)))`` select list emits the
  failed records: one row per (input row, failing rule),
* *set-level* rules (CUSTOM_SQL_STATEMENT) stay per binding: they run
  against the binding's rows registered as the ``data`` view
  (rule_type.py:111-127 contract: statement must read ``from data``; rows
  returned are errors).

Compilation is pure (no SparkSession), mirroring the reference's testable
seam lib.create_rule_binding_view_model (clouddq/lib.py:101-153).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Sequence

from pyspark.sql.types import TimestampType

from cloud_data_quality_spark.compiler.dialect import bq_to_spark_sql
from cloud_data_quality_spark.config.loader import ConfigRegistry
from cloud_data_quality_spark.config.model import (
    Rule,
    RuleBinding,
    RuleType,
    substitute_column,
)
from cloud_data_quality_spark.functions.batch_registry import get_batch_function


def sql_ident(name: str) -> str:
    """Backquoted Spark SQL column reference; dots separate nested fields,
    as in ``F.col(name)``."""
    return ".".join("`" + part.replace("`", "``") + "`"
                    for part in name.split("."))


def sql_str(value: str) -> str:
    """Spark SQL string literal (backslash escapes are on by default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ts(ts: datetime) -> str:
    """Timestamp literal with the exact microseconds ``F.lit(ts)`` would
    carry (tz-aware → UTC, naive → local time, as pyspark converts)."""
    return f"timestamp_micros({TimestampType().toInternal(ts)})"


@dataclass(frozen=True)
class CompiledRule:
    rule_id: str
    rule_type: RuleType
    dimension: str | None
    skip_null_count: bool
    # simple rules: Spark SQL boolean expression string over the scan columns
    predicate_sql: str | None = None
    # set-level rules: Spark SQL statement reading `from data`
    statement_sql: str | None = None
    # pandas-batch rules: name of registered batch fn + its params
    batch_function: str | None = None
    batch_params: dict = field(default_factory=dict)
    column_id: str | None = None

    def validity_sql(self) -> str:
        """Tri-valued validity (TRUE/FALSE/NULL) per macros.sql:28-42."""
        col = sql_ident(self.column_id) if self.column_id else None
        if self.rule_type == RuleType.CUSTOM_PANDAS_BATCH:
            return f"{batch_udf_name(self)}({col})"
        if self.rule_type == RuleType.NOT_NULL or col is None:
            # no NULL branch: NULL column simply fails the IS NOT NULL test
            return f"CASE WHEN ({self.predicate_sql}) THEN TRUE ELSE FALSE END"
        return (f"CASE WHEN {col} IS NULL THEN NULL "
                f"WHEN ({self.predicate_sql}) THEN TRUE ELSE FALSE END")


def batch_udf_name(rule: CompiledRule) -> str:
    """Session UDF name of a CUSTOM_PANDAS_BATCH rule: one per (function,
    params), so bindings sharing a rule share the registration."""
    key = json.dumps([rule.batch_function.upper(), rule.batch_params],
                     sort_keys=True, default=str)
    return "__dq_batch_" + hashlib.sha1(key.encode()).hexdigest()[:16]


@dataclass(frozen=True)
class CompiledBinding:
    rule_binding_id: str
    entity_id: str
    table_name: str
    source_format: str
    column_id: str
    filter_sql: str                      # row filter (Spark SQL, post-shim)
    partition_null_guards: tuple[str, ...]
    incremental_column: str | None
    reference_columns: tuple[str, ...]
    simple_rules: tuple[CompiledRule, ...]
    statement_rules: tuple[CompiledRule, ...]
    batch_rules: tuple[CompiledRule, ...]
    metadata: dict
    configs_hashsum: str

    @property
    def all_rules(self) -> tuple[CompiledRule, ...]:
        return self.simple_rules + self.batch_rules + self.statement_rules

    @property
    def row_rules(self) -> tuple[CompiledRule, ...]:
        return self.simple_rules + self.batch_rules

    def in_binding_sql(self, window: tuple[datetime, datetime] | None = None
                       ) -> str:
        """Row filter ∧ partition guards ∧ incremental BETWEEN window
        (create_rule_binding_view.sql:62-77 semantics)."""
        parts = [f"({self.filter_sql})"]
        parts += [f"{sql_ident(g)} IS NOT NULL"
                  for g in self.partition_null_guards]
        if self.incremental_column and window is not None:
            lo, hi = window
            parts.append(
                f"CAST({sql_ident(self.incremental_column)} AS TIMESTAMP) "
                f"BETWEEN {sql_ts(lo)} AND {sql_ts(hi)}")
        return " AND ".join(parts)


@dataclass(frozen=True)
class EntityQuery:
    """One pass over an entity for a group of bindings (``compile_entity``).

    ``sql`` yields the source columns plus ``__in_{b}`` and ``__v_{b}_{r}``;
    ``metric`` is an aggregate over those columns and ``failed_records`` a
    select list over them."""
    bindings: tuple[CompiledBinding, ...]
    in_binding: tuple[str, ...]
    sql: str
    metric: str
    failed_records: tuple[str, ...]

    def counts(self, m) -> list[tuple[int, list[tuple[int, int, int]]]]:
        """Decode a ``metric`` value: per binding, (rows_validated, per
        row-level rule (success, failed, null))."""
        out = []
        for b, bd in enumerate(self.bindings):
            n = int(m[f"n{b}"])
            rules = [(int(m[f"s{b}_{r}"]), int(m[f"f{b}_{r}"]))
                     for r in range(len(bd.row_rules))]
            out.append((n, [(s, f, n - s - f) for s, f in rules]))
        return out


def compile_entity(
    bindings: Sequence[CompiledBinding],
    source: str,
    *,
    windows: Sequence[tuple[datetime, datetime] | None] | None = None,
    invocation_id: str = "",
    execution_ts: datetime = datetime(1970, 1, 1, tzinfo=timezone.utc),
) -> EntityQuery:
    """Compile bindings that read the same entity into one SQL pass over
    the table or view ``source``. ``windows[b]`` is binding b's incremental
    (high watermark, execution_ts) window, None for a full scan."""
    windows = list(windows or [None] * len(bindings))
    in_binding = tuple(b.in_binding_sql(w) for b, w in zip(bindings, windows))
    flags = ",\n".join(f"    {cond} AS __in_{i}"
                       for i, cond in enumerate(in_binding))
    any_in = " OR ".join(f"__in_{i}" for i in range(len(bindings)))
    validity, metric, failed = [], [], []
    for b, bd in enumerate(bindings):
        metric.append(f"'n{b}', count_if(__in_{b})")
        refs = ", ".join(sql_ident(c) for c in
                         (bd.reference_columns or (bd.column_id,)))
        for r, rule in enumerate(bd.row_rules):
            v = f"__v_{b}_{r}"
            validity.append(
                f"  CASE WHEN __in_{b} THEN {rule.validity_sql()} END AS {v}")
            # validity is non-NULL only inside the binding, so the NULL
            # count is n - success - failed: two aggregates per rule, not
            # three (fewer aggregates measurably cut executor CPU)
            metric += [f"'s{b}_{r}', count_if({v} = TRUE)",
                       f"'f{b}_{r}', count_if({v} = FALSE)"]
            failed.append(
                f"  CASE WHEN {v} = FALSE THEN named_struct("
                f"'_dq_validation_rule_id', {sql_str(rule.rule_id)}, "
                f"'_dq_validation_rule_binding_id', "
                f"{sql_str(bd.rule_binding_id)}, "
                f"'_dq_validation_column_id', {sql_str(bd.column_id)}, "
                f"'_dq_validation_column_value', "
                f"CAST({sql_ident(bd.column_id)} AS STRING), "
                f"'_dq_validation_reference_columns_json', "
                f"to_json(struct({refs}))) END")
    sql = ("SELECT *" + "".join(",\n" + v for v in validity) + "\n"
           f"FROM (\n  SELECT *,\n{flags}\n  FROM {sql_ident(source)}\n)\n"
           f"WHERE {any_in}")
    failed_records = (
        ("inline(array_compact(array(\n" + ",\n".join(failed) + ")))",
         f"{sql_str(invocation_id)} AS _dq_validation_invocation_id",
         f"{sql_ts(execution_ts)} AS _dq_validation_execution_ts")
        if failed else ())
    return EntityQuery(
        bindings=tuple(bindings), in_binding=in_binding, sql=sql,
        metric="named_struct(" + ", ".join(metric) + ")",
        failed_records=failed_records)


def compile_rule(rule: Rule, column_id: str, binding_arguments: dict) -> CompiledRule:
    sql_template = rule.resolved_sql_template(binding_arguments)
    base = dict(
        rule_id=rule.rule_id,
        rule_type=rule.rule_type,
        dimension=rule.dimension,
        skip_null_count=rule.skip_null_count,
        column_id=column_id,
    )
    if rule.rule_type == RuleType.CUSTOM_SQL_STATEMENT:
        return CompiledRule(statement_sql=bq_to_spark_sql(
            substitute_column(sql_template, column_id)), **base)
    if rule.rule_type == RuleType.CUSTOM_PANDAS_BATCH:
        get_batch_function(rule.params["function"])  # validate it exists
        return CompiledRule(
            batch_function=rule.params["function"],
            batch_params={**{k: v for k, v in rule.params.items() if k != "function"},
                          **binding_arguments},
            **base,
        )
    return CompiledRule(predicate_sql=bq_to_spark_sql(
        substitute_column(sql_template, column_id)), **base)


def compile_binding(registry: ConfigRegistry, rule_binding_id: str,
                    environment_target: str | None = None) -> CompiledBinding:
    rb: RuleBinding = registry.get_rule_binding(rule_binding_id)
    if rb.entity_uri is not None:
        # late binding (dq_entity_uri.py semantics): schema comes from the
        # live table at read time, so no declared-column checks here
        from cloud_data_quality_spark.config.model import EntityUri
        entity = EntityUri.parse(
            rb.entity_uri,
            registry_defaults=getattr(registry, "registry_defaults", None),
        ).to_entity()
    else:
        entity = registry.get_entity(rb.entity_id).for_environment(
            environment_target)
    if entity.columns:
        entity.resolve_column(rb.column_id)  # unknown column id → hard error
    row_filter = registry.get_row_filter(rb.row_filter_id)
    if rb.incremental_time_filter_column_id and entity.columns:
        inc_col = entity.resolve_column(rb.incremental_time_filter_column_id)
        if inc_col.data_type not in ("timestamp", "timestamp_ntz", "date"):
            from cloud_data_quality_spark.config.model import ConfigError
            raise ConfigError(
                f"RuleBinding {rb.rule_binding_id}: incremental_time_filter_column_id "
                f"{inc_col.name} must be a TIMESTAMP/DATETIME column, got {inc_col.data_type}"
            )
    ref_cols: tuple[str, ...] = ()
    if rb.reference_columns_id:
        ref_cols = tuple(
            registry.get_reference_columns(rb.reference_columns_id).resolve(entity)
        )

    simple, stmt, batch = [], [], []
    for rule_id, args in rb.iter_rule_refs():
        cr = compile_rule(registry.get_rule(rule_id), rb.column_id, args)
        {RuleType.CUSTOM_SQL_STATEMENT: stmt,
         RuleType.CUSTOM_PANDAS_BATCH: batch}.get(cr.rule_type, simple).append(cr)

    return CompiledBinding(
        rule_binding_id=rb.rule_binding_id,
        entity_id=entity.entity_id,
        table_name=entity.qualified_table_name,
        source_format=entity.source_format,
        column_id=rb.column_id,
        filter_sql=bq_to_spark_sql(row_filter.filter_sql_expr),
        partition_null_guards=entity.partition_fields,
        incremental_column=rb.incremental_time_filter_column_id,
        reference_columns=ref_cols,
        simple_rules=tuple(simple),
        statement_rules=tuple(stmt),
        batch_rules=tuple(batch),
        metadata=rb.metadata,
        configs_hashsum=registry.configs_hashsum(rule_binding_id),
    )
