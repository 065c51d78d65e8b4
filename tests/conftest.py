from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cloud_data_quality_spark.sources.session import get_spark

INJECTED_FAULT = "injected fault"
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def fail_on_part_key(transform, k: int):
    """``transform``, then a real task failure: computing any output row
    whose ``part_key`` is ``k`` raises through ``F.raise_error``, so the
    Spark job that writes the output aborts. The fault rewrites
    ``part_key`` in place, a projection the optimizer can neither prune
    nor turn into a partition filter."""
    def faulty(df):
        key = F.col("part_key")
        fault = F.raise_error(F.lit(f"{INJECTED_FAULT} at part_key {k}"))
        return transform(df).withColumn(
            "part_key", F.when(key == k, fault).otherwise(key))
    return faulty


def fail_on_bucket(transform, k: int, n_buckets: int, id_col: str = "url"):
    """``fail_on_part_key`` for a global stage, whose frame has no
    ``part_key``: computing any output row whose id hashes to bucket ``k``
    (``pmod(xxhash64(id), n_buckets)``, the bucket a partition unit
    assigns) raises. The fault rewrites the id column in place."""
    def faulty(df):
        bucket = F.pmod(F.xxhash64(id_col), F.lit(n_buckets))
        fault = F.raise_error(F.lit(f"{INJECTED_FAULT} at bucket {k}"))
        return transform(df).withColumn(
            id_col, F.when(bucket == k, fault).otherwise(F.col(id_col)))
    return faulty


def count_jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn started) — counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))

@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cdq_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def static_overwrite(spark):
    """The session in Spark's default STATIC partition-overwrite mode for
    one test; the previous mode is restored afterwards."""
    prev = spark.conf.get(OVERWRITE_MODE)
    spark.conf.set(OVERWRITE_MODE, "STATIC")
    yield spark
    spark.conf.set(OVERWRITE_MODE, prev)


@pytest.fixture(scope="session")
def contact_details(spark, tmp_path_factory):
    """9-row fixture per FIXTURES.md §1: NULL/blank/invalid-email/overlong
    values, duplicate (contact_type,value) pairs, duplicate row_id."""
    rows = [
        # row_id, contact_type, value, ts
        ("1", "email", "alice@example.com", dt.datetime(2024, 1, 1, 10)),
        ("2", "email", "bob@example.com", dt.datetime(2024, 1, 2, 10)),
        ("3", "email", "not-an-email", dt.datetime(2024, 1, 3, 10)),
        ("4", "email", None, dt.datetime(2024, 1, 4, 10)),
        ("5", "email", "", dt.datetime(2024, 1, 5, 10)),
        ("6", "email", "x" * 35 + "@example.com", dt.datetime(2024, 1, 6, 10)),
        ("6", "email", "alice@example.com", dt.datetime(2024, 1, 7, 10)),  # dup row_id + dup value
        ("7", "name", "Alice", dt.datetime(2024, 1, 8, 10)),
        ("8", "name", None, dt.datetime(2024, 1, 9, 10)),
    ]
    df = spark.createDataFrame(
        rows, schema="row_id string, contact_type string, value string, ts timestamp")
    path = str(tmp_path_factory.mktemp("data") / "contact_details.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


CONTACT_CONFIGS_YAML = """
entities:
  CONTACT_DETAILS:
    table_name: "{contact_details_path}"
    source_format: parquet
    columns:
      ROW_ID: {{data_type: STRING}}
      CONTACT_TYPE: {{data_type: STRING}}
      VALUE: {{data_type: STRING}}
      TS: {{data_type: DATETIME}}

row_filters:
  NONE:
    filter_sql_expr: "True"
  DATA_TYPE_EMAIL:
    filter_sql_expr: "contact_type = 'email'"

rule_dimensions:
  - consistency
  - correctness
  - duplication
  - completeness
  - conformance
  - integrity

rules:
  NOT_NULL_SIMPLE:
    rule_type: NOT_NULL
  NOT_BLANK_RULE:
    rule_type: NOT_BLANK
  REGEX_VALID_EMAIL:
    rule_type: REGEX
    dimension: conformance
    params:
      pattern: "^[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+\\\\.[a-zA-Z0-9-.]+$"
  CUSTOM_SQL_LENGTH_LE_30:
    rule_type: CUSTOM_SQL_EXPR
    params:
      custom_sql_expr: "LENGTH( $column ) <= 30"
  CUSTOM_SQL_LENGTH_LE_LIMIT:
    rule_type: CUSTOM_SQL_EXPR
    params:
      custom_sql_expr: "LENGTH( $column ) <= $upper_bound"
      custom_sql_arguments:
        - upper_bound
  NO_DUPLICATES_IN_COLUMN_GROUPS:
    rule_type: CUSTOM_SQL_STATEMENT
    dimension: duplication
    params:
      custom_sql_statement: |-
        select a.*
        from data a
        inner join (
          select $column_names
          from data
          group by $column_names
          having count(*) > 1
        ) duplicates
        using ($column_names)
      custom_sql_arguments:
        - column_names

reference_columns:
  CONTACT_REFS:
    include_reference_columns:
      - row_id
      - contact_type

rule_bindings:
  T1_VALUE_NOT_NULL:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: NONE
    rule_ids:
      - NOT_NULL_SIMPLE
    metadata: {{}}
  T2_EMAIL:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: DATA_TYPE_EMAIL
    reference_columns_id: CONTACT_REFS
    rule_ids:
      - NOT_NULL_SIMPLE
      - NOT_BLANK_RULE
      - REGEX_VALID_EMAIL
      - CUSTOM_SQL_LENGTH_LE_30
      - CUSTOM_SQL_LENGTH_LE_LIMIT:
          upper_bound: 40
    metadata:
      brand: one
  T4_DUPLICATES:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: NONE
    rule_ids:
      - NO_DUPLICATES_IN_COLUMN_GROUPS:
          column_names: "contact_type,value"
    metadata: {{}}
  T9_INCREMENTAL:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: DATA_TYPE_EMAIL
    incremental_time_filter_column_id: TS
    rule_ids:
      - NOT_NULL_SIMPLE
    metadata: {{}}
  T10_DUP_INCREMENTAL:
    entity_id: CONTACT_DETAILS
    column_id: VALUE
    row_filter_id: NONE
    incremental_time_filter_column_id: TS
    rule_ids:
      - NO_DUPLICATES_IN_COLUMN_GROUPS:
          column_names: "contact_type,value"
    metadata: {{}}
"""


@pytest.fixture(scope="session")
def contact_registry(contact_details, tmp_path_factory):
    from cloud_data_quality_spark.config.loader import load_configs
    d = tmp_path_factory.mktemp("configs")
    (d / "configs.yml").write_text(
        CONTACT_CONFIGS_YAML.format(contact_details_path=contact_details))
    return load_configs(d)


@pytest.fixture(scope="session")
def pages_parquet(spark, tmp_path_factory):
    from cloud_data_quality_spark.sources.pages import write_pages_parquet
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    return write_pages_parquet(spark, path, n_rows=2000, seed=42)
