"""The dq_summary contract.

One row per (rule_binding, rule, invocation). Column semantics replicate the
reference's aggregate model
(clouddq/templates/dbt/macros/create_entity_aggregate_dq_summary.sql:37-79 and
OVERVIEW.md:200-202):

* rows_validated == 0            → success/failed/null counts+percentages NULL
* CUSTOM_SQL_STATEMENT rules     → all six record-level stats NULL;
  complex_rule_validation_errors_count = rows returned by the statement
  (0 when it returns none), success flag = errors_count == 0
* NOT_NULL rules (skip_null_count) → null_count/null_percentage NULL
* percentages are fractions count/rows_validated (BQ INT64/INT64 division →
  FLOAT64), NULL under the same conditions as their counts
* simple rules → complex_rule_validation_{errors_count,success_flag} NULL

The reference's zero-record LEFT-JOIN totem (macros.sql:53-58,88-101) exists
so SQL GROUP BY still yields a row on empty input; we build summary rows
driver-side from aggregated scalars, so a row always exists by construction.

dq_run_id (create_rule_binding_view.sql:129) is the idempotency key for the
MERGE-style publish; invocation_id groups all rows of one engine run.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cloud_data_quality_spark.sources.session import local_frame

SUMMARY_SCHEMA = T.StructType([
    T.StructField("execution_ts", T.TimestampType()),
    T.StructField("invocation_id", T.StringType()),
    T.StructField("dq_run_id", T.StringType()),
    T.StructField("rule_binding_id", T.StringType()),
    T.StructField("rule_id", T.StringType()),
    T.StructField("table_id", T.StringType()),
    T.StructField("column_id", T.StringType()),
    T.StructField("dimension", T.StringType()),
    T.StructField("metadata_json_string", T.StringType()),
    T.StructField("configs_hashsum", T.StringType()),
    T.StructField("progress_watermark", T.BooleanType()),
    T.StructField("rows_validated", T.LongType()),
    T.StructField("complex_rule_validation_errors_count", T.LongType()),
    T.StructField("complex_rule_validation_success_flag", T.BooleanType()),
    T.StructField("last_modified", T.TimestampType()),
    T.StructField("skip_null_count", T.BooleanType()),
    T.StructField("success_count", T.LongType()),
    T.StructField("success_percentage", T.DoubleType()),
    T.StructField("failed_count", T.LongType()),
    T.StructField("failed_percentage", T.DoubleType()),
    T.StructField("null_count", T.LongType()),
    T.StructField("null_percentage", T.DoubleType()),
    T.StructField("failed_records_query", T.StringType()),
])


@dataclass
class RuleCounts:
    """Raw per-rule tallies out of the single-pass aggregation."""
    rule_id: str
    dimension: str | None
    skip_null_count: bool
    is_statement: bool
    column_id: str | None
    success: int = 0
    failed: int = 0
    null: int = 0
    errors_count: int | None = None  # statement rules only
    failed_records_query: str | None = None


def build_summary_row(
    *,
    counts: RuleCounts,
    rows_validated: int,
    rule_binding_id: str,
    table_id: str,
    metadata_json: str,
    configs_hashsum: str,
    execution_ts: datetime,
    invocation_id: str,
    progress_watermark: bool,
    last_modified: datetime | None,
) -> dict[str, Any]:
    """Apply the exact NULLing rules and emit one summary dict."""
    nulled = rows_validated == 0 or counts.is_statement

    def stat(v: int) -> int | None:
        return None if nulled else v

    def pct(v: int) -> float | None:
        return None if nulled else (v / rows_validated)

    null_nulled = nulled or counts.skip_null_count
    dq_run_id = (
        f"{rule_binding_id}_{counts.rule_id}_"
        f"{execution_ts.isoformat()}_{progress_watermark}"
    )
    return {
        "execution_ts": execution_ts,
        "invocation_id": invocation_id,
        "dq_run_id": dq_run_id,
        "rule_binding_id": rule_binding_id,
        "rule_id": counts.rule_id,
        "table_id": table_id,
        "column_id": None if counts.is_statement else counts.column_id,
        "dimension": counts.dimension,
        "metadata_json_string": metadata_json,
        "configs_hashsum": configs_hashsum,
        "progress_watermark": progress_watermark,
        "rows_validated": rows_validated,
        "complex_rule_validation_errors_count":
            counts.errors_count if counts.is_statement else None,
        "complex_rule_validation_success_flag":
            (counts.errors_count == 0) if counts.is_statement else None,
        "last_modified": last_modified,
        "skip_null_count": counts.skip_null_count,
        "success_count": stat(counts.success),
        "success_percentage": pct(counts.success),
        "failed_count": stat(counts.failed),
        "failed_percentage": pct(counts.failed),
        "null_count": None if null_nulled else counts.null,
        "null_percentage": None if null_nulled else counts.null / rows_validated,
        "failed_records_query": counts.failed_records_query,
    }


def summary_frame(spark: SparkSession, rows: list[dict[str, Any]]) -> DataFrame:
    """Summary-row dicts → a one-partition SUMMARY_SCHEMA frame through
    ``local_frame``: one JSON literal the JVM parses, so neither building
    nor writing it starts a Python worker, and a summary write leaves one
    file per run."""
    return local_frame(
        spark, [tuple(r[f.name] for f in SUMMARY_SCHEMA.fields) for r in rows],
        SUMMARY_SCHEMA)
