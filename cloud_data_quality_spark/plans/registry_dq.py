"""DQ rule-engine queries/oracles (driver-contract surface).

CloudDQ-contract rule bindings, failed-records statements, events
aggregation/timeliness/accuracy rules, reference-integrity joins (incl. the
verbatim reference UNNEST rules through the dialect shim), and sessionize
window shapes. Paired DuckDB oracles follow each query, and the CASES table
at the end registers each pair; see plans/registry.py for the cross-cutting
conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloud_data_quality_spark.config.loader import ConfigRegistry
from cloud_data_quality_spark.config.model import (
    Entity,
    RowFilter,
    Rule,
    RuleBinding,
)
from cloud_data_quality_spark.engine.runner import DqEngine
from cloud_data_quality_spark.functions import text as TX
from cloud_data_quality_spark.plans import oracle_fragments as OF
from cloud_data_quality_spark.plans.base import TS, Case, _t
from cloud_data_quality_spark.sources.session import local_frame

# --------------------------------------------------------------------------
# CloudDQ rule-engine queries (compiled + executed through DqEngine)
# --------------------------------------------------------------------------

def _dq_registry() -> ConfigRegistry:
    """In-code config set over the testdata tables (table_name templated on
    {sf_dir}, resolved by DqEngine.table_name_vars)."""
    reg = ConfigRegistry()
    reg.entities["CUSTOMER"] = Entity.from_dict("CUSTOMER", {
        "table_name": "{sf_dir}/customer.parquet",
        "columns": {
            "C_CUSTKEY": {"data_type": "INT64"},
            "C_NAME": {"data_type": "STRING"},
            "C_NATIONKEY": {"data_type": "INT64"},
            "C_ACCTBAL": {"data_type": "FLOAT64"},
            "C_MKTSEGMENT": {"data_type": "STRING"},
        },
    })
    reg.entities["ORDERS"] = Entity.from_dict("ORDERS", {
        "table_name": "{sf_dir}/orders.parquet",
        "columns": {
            "O_ORDERKEY": {"data_type": "INT64"},
            "O_CUSTKEY": {"data_type": "INT64"},
            "O_ORDERSTATUS": {"data_type": "STRING"},
            "O_TOTALPRICE": {"data_type": "FLOAT64"},
            "O_ORDERDATE": {"data_type": "DATE"},
            "O_ORDERPRIORITY": {"data_type": "STRING"},
        },
    })
    reg.entities["EVENTS"] = Entity.from_dict("EVENTS", {
        "table_name": "{sf_dir}/events.parquet",
        "columns": {
            "EVENT_ID": {"data_type": "INT64"},
            "TS": {"data_type": "TIMESTAMP"},
            "USER_ID": {"data_type": "INT64"},
            "EVENT_TYPE": {"data_type": "STRING"},
            "VALUE": {"data_type": "FLOAT64"},
            "PROPS": {"data_type": "STRING"},
        },
    })
    reg.row_filters["NONE"] = RowFilter.from_dict("NONE", {"filter_sql_expr": "True"})
    reg.row_filters["BUILDING"] = RowFilter.from_dict(
        "BUILDING", {"filter_sql_expr": "c_mktsegment = 'BUILDING'"})
    reg.row_filters["JAN_WINDOW"] = RowFilter.from_dict(
        "JAN_WINDOW",
        {"filter_sql_expr":
         "ts >= timestamp_ntz'2024-01-01 00:00:00' and ts < timestamp_ntz'2024-01-08 00:00:00'"})
    reg.rules["ACCTBAL_NOT_NULL"] = Rule.from_dict(
        "ACCTBAL_NOT_NULL", {"rule_type": "NOT_NULL"})
    reg.rules["ACCTBAL_NON_NEGATIVE"] = Rule.from_dict(
        "ACCTBAL_NON_NEGATIVE",
        {"rule_type": "CUSTOM_SQL_EXPR",
         "params": {"custom_sql_expr": "$column >= 0"}})
    reg.rules["NAME_FORMAT"] = Rule.from_dict(
        "NAME_FORMAT",
        {"rule_type": "REGEX", "params": {"pattern": "^Customer.[0-9]+$"}})
    reg.rules["ACCTBAL_BELOW_LIMIT"] = Rule.from_dict(
        "ACCTBAL_BELOW_LIMIT",
        {"rule_type": "CUSTOM_SQL_EXPR",
         "params": {"custom_sql_expr": "$column <= $limit",
                    "custom_sql_arguments": ["limit"]}})
    reg.rules["NO_DUP_CUSTKEY"] = Rule.from_dict(
        "NO_DUP_CUSTKEY",
        {"rule_type": "CUSTOM_SQL_STATEMENT",
         "dimension": "duplication",
         "params": {"custom_sql_statement":
                    "select a.* from data a inner join (select o_custkey from data "
                    "group by o_custkey having count(*) > 1) d using (o_custkey)"}})
    reg.rules["VALUE_NOT_NULL"] = Rule.from_dict(
        "VALUE_NOT_NULL", {"rule_type": "NOT_NULL"})
    reg.rule_bindings["RB_CUSTOMER_ACCTBAL"] = RuleBinding.from_dict(
        "RB_CUSTOMER_ACCTBAL", {
            "entity_id": "CUSTOMER", "column_id": "C_ACCTBAL",
            "row_filter_id": "BUILDING",
            "rule_ids": ["ACCTBAL_NOT_NULL", "ACCTBAL_NON_NEGATIVE",
                         {"ACCTBAL_BELOW_LIMIT": {"limit": 5000}}],
        })
    reg.rule_bindings["RB_CUSTOMER_NAME"] = RuleBinding.from_dict(
        "RB_CUSTOMER_NAME", {
            "entity_id": "CUSTOMER", "column_id": "C_NAME",
            "row_filter_id": "NONE", "rule_ids": ["NAME_FORMAT"],
        })
    reg.rule_bindings["RB_ORDERS_DUP"] = RuleBinding.from_dict(
        "RB_ORDERS_DUP", {
            "entity_id": "ORDERS", "column_id": "O_CUSTKEY",
            "row_filter_id": "NONE", "rule_ids": ["NO_DUP_CUSTKEY"],
        })
    reg.rule_bindings["RB_EVENTS_WINDOW"] = RuleBinding.from_dict(
        "RB_EVENTS_WINDOW", {
            "entity_id": "EVENTS", "column_id": "VALUE",
            "row_filter_id": "JAN_WINDOW", "rule_ids": ["VALUE_NOT_NULL"],
        })
    return reg


def _run_dq(spark: SparkSession, sf_dir: str, binding_ids: list[str],
            registry: ConfigRegistry | None = None) -> DataFrame:
    eng = DqEngine(spark, registry or _dq_registry(),
                   table_name_vars={"sf_dir": sf_dir})
    # overlap entity groups on driver threads (guide: fill the scheduler
    # between scalar-sized jobs); summary rows are identical to the
    # sequential run — concurrent==sequential is pytest-pinned
    res = eng.run(binding_ids, execution_ts=TS, write_summary=False,
                  max_concurrency=4)
    return res.summary.select(
        "rule_binding_id", "rule_id",
        F.col("rows_validated").cast("bigint").alias("rows_validated"),
        F.col("success_count").cast("bigint").alias("success_count"),
        F.col("failed_count").cast("bigint").alias("failed_count"),
        F.col("null_count").cast("bigint").alias("null_count"),
        F.col("complex_rule_validation_errors_count").cast("bigint")
         .alias("errors_count"),
        F.col("complex_rule_validation_success_flag").alias("success_flag"),
    )


def q_rb_customer_rules(spark, sf_dir):
    return _run_dq(spark, sf_dir, ["RB_CUSTOMER_ACCTBAL", "RB_CUSTOMER_NAME"])


ORACLE_RB_CUSTOMER_RULES = """
with b as (select * from customer where c_mktsegment = 'BUILDING')
select 'RB_CUSTOMER_ACCTBAL' as rule_binding_id, 'ACCTBAL_NOT_NULL' as rule_id,
       count(*)::BIGINT as rows_validated,
       count_if(c_acctbal is not null)::BIGINT as success_count,
       count_if(c_acctbal is null)::BIGINT as failed_count,
       NULL::BIGINT as null_count, NULL::BIGINT as errors_count,
       NULL::BOOLEAN as success_flag
from b
union all
select 'RB_CUSTOMER_ACCTBAL', 'ACCTBAL_NON_NEGATIVE', count(*)::BIGINT,
       count_if(c_acctbal is not null and c_acctbal >= 0)::BIGINT,
       count_if(c_acctbal is not null and c_acctbal < 0)::BIGINT,
       count_if(c_acctbal is null)::BIGINT, NULL::BIGINT, NULL::BOOLEAN
from b
union all
select 'RB_CUSTOMER_ACCTBAL', 'ACCTBAL_BELOW_LIMIT', count(*)::BIGINT,
       count_if(c_acctbal is not null and c_acctbal <= 5000)::BIGINT,
       count_if(c_acctbal is not null and c_acctbal > 5000)::BIGINT,
       count_if(c_acctbal is null)::BIGINT, NULL::BIGINT, NULL::BOOLEAN
from b
union all
select 'RB_CUSTOMER_NAME', 'NAME_FORMAT', count(*)::BIGINT,
       count_if(c_name is not null and regexp_matches(c_name, '^Customer.[0-9]+$'))::BIGINT,
       count_if(c_name is not null and not regexp_matches(c_name, '^Customer.[0-9]+$'))::BIGINT,
       count_if(c_name is null)::BIGINT, NULL::BIGINT, NULL::BOOLEAN
from customer
"""


def q_rb_entity_uri_and_env(spark, sf_dir):
    """New config-model surfaces through the full engine, oracle-checked:
    * entity_uri late binding — the DOCS binding names `catalog://<view>`
      and the schema comes from the live view (no declared columns);
    * environment_override — the PARTS entity points at part.parquet but the
      run's environment_target=TEST remaps it to supplier.parquet, so the
      summary row proves which table was actually scanned."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cdq_docs_uri_view")
    reg = ConfigRegistry()
    reg.entities["PARTS"] = Entity.from_dict("PARTS", {
        "table_name": "{sf_dir}/part.parquet",
        "columns": {"S_NAME": {"data_type": "STRING"},
                    "S_ACCTBAL": {"data_type": "FLOAT64"}},
        "environment_override": {
            "TEST": {"environment": "test",
                     "override": {"table_name": "{sf_dir}/supplier.parquet"}}},
    })
    reg.row_filters["NONE"] = RowFilter.from_dict("NONE",
                                                  {"filter_sql_expr": "True"})
    reg.rules["LANG_NOT_NULL"] = Rule.from_dict(
        "LANG_NOT_NULL", {"rule_type": "NOT_NULL"})
    reg.rules["ACCTBAL_POSITIVE"] = Rule.from_dict(
        "ACCTBAL_POSITIVE",
        {"rule_type": "CUSTOM_SQL_EXPR",
         "params": {"custom_sql_expr": "$column > 0"}})
    reg.rule_bindings["RB_DOCS_URI"] = RuleBinding.from_dict("RB_DOCS_URI", {
        "entity_uri": "catalog://cdq_docs_uri_view",
        "column_id": "LANG", "row_filter_id": "NONE",
        "rule_ids": ["LANG_NOT_NULL"]})
    reg.rule_bindings["RB_ENV_OVERRIDE"] = RuleBinding.from_dict(
        "RB_ENV_OVERRIDE", {
            "entity_id": "PARTS", "column_id": "S_ACCTBAL",
            "row_filter_id": "NONE", "rule_ids": ["ACCTBAL_POSITIVE"]})
    eng = DqEngine(spark, reg, table_name_vars={"sf_dir": sf_dir},
                   environment_target="test")
    res = eng.run(["RB_DOCS_URI", "RB_ENV_OVERRIDE"], execution_ts=TS,
                  write_summary=False)
    return res.summary.select(
        "rule_binding_id", "rule_id",
        # normalize the resolved table path to its basename so the oracle
        # can assert WHICH table the override made the engine scan
        F.element_at(F.split("table_id", "/"), -1).alias("table_id"),
        F.col("rows_validated").cast("bigint").alias("rows_validated"),
        F.col("success_count").cast("bigint").alias("success_count"),
        F.col("failed_count").cast("bigint").alias("failed_count"))


ORACLE_RB_ENTITY_URI_AND_ENV = """
select 'RB_DOCS_URI' as rule_binding_id, 'LANG_NOT_NULL' as rule_id,
       'cdq_docs_uri_view' as table_id,
       count(*)::BIGINT as rows_validated,
       count_if(lang is not null)::BIGINT as success_count,
       count_if(lang is null)::BIGINT as failed_count
from documents
union all
-- environment_target=test remapped the PARTS entity to the supplier table;
-- the oracle reads supplier directly (table_id normalized to its basename)
select 'RB_ENV_OVERRIDE', 'ACCTBAL_POSITIVE', 'supplier.parquet',
       count(*)::BIGINT,
       count_if(s_acctbal is not null and s_acctbal > 0)::BIGINT,
       count_if(s_acctbal is not null and s_acctbal <= 0)::BIGINT
from supplier
"""


def q_rb_orders_dup_statement(spark, sf_dir):
    return _run_dq(spark, sf_dir, ["RB_ORDERS_DUP"])


ORACLE_RB_ORDERS_DUP = """
with errs as (
  select a.* from orders a
  inner join (select o_custkey from orders group by o_custkey having count(*) > 1) d
  using (o_custkey))
select 'RB_ORDERS_DUP' as rule_binding_id, 'NO_DUP_CUSTKEY' as rule_id,
       (select count(*) from orders)::BIGINT as rows_validated,
       NULL::BIGINT as success_count, NULL::BIGINT as failed_count,
       NULL::BIGINT as null_count,
       (select count(*) from errs)::BIGINT as errors_count,
       ((select count(*) from errs) = 0) as success_flag
"""


def q_rb_events_window(spark, sf_dir):
    return _run_dq(spark, sf_dir, ["RB_EVENTS_WINDOW"])


ORACLE_RB_EVENTS_WINDOW = """
with w as (select * from events
           where ts >= timestamp '2024-01-01 00:00:00'
             and ts < timestamp '2024-01-08 00:00:00')
select 'RB_EVENTS_WINDOW' as rule_binding_id, 'VALUE_NOT_NULL' as rule_id,
       count(*)::BIGINT as rows_validated,
       count_if(value is not null)::BIGINT as success_count,
       count_if(value is null)::BIGINT as failed_count,
       NULL::BIGINT as null_count, NULL::BIGINT as errors_count,
       NULL::BOOLEAN as success_flag
from w
"""


def q_failed_records_acctbal(spark, sf_dir):
    """Failing rows (valid IS FALSE) for the non-negative rule, with
    reference columns — the failed-records lineage query shape."""
    from cloud_data_quality_spark.compiler.binding import compile_binding
    reg = _dq_registry()
    binding = compile_binding(reg, "RB_CUSTOMER_ACCTBAL")
    eng = DqEngine(spark, reg, table_name_vars={"sf_dir": sf_dir})
    q, projected = eng.entity_frame([binding], df=eng.read_entity(binding),
                                    invocation_id="fixed", execution_ts=TS)
    fr = projected.selectExpr(*q.failed_records)
    return fr.select(
        F.col("_dq_validation_rule_id").alias("rule_id"),
        F.col("_dq_validation_column_value").cast("double").alias("column_value"),
    )


ORACLE_FAILED_RECORDS_ACCTBAL = """
with b as (select * from customer where c_mktsegment = 'BUILDING')
select 'ACCTBAL_NON_NEGATIVE' as rule_id, c_acctbal::DOUBLE as column_value
from b where c_acctbal is not null and c_acctbal < 0
union all
select 'ACCTBAL_BELOW_LIMIT', c_acctbal::DOUBLE
from b where c_acctbal is not null and c_acctbal > 5000
union all
select 'ACCTBAL_NOT_NULL', c_acctbal::DOUBLE from b where c_acctbal is null
"""


def q_failed_records_dup_statement(spark, sf_dir):
    """CUSTOM_SQL_STATEMENT failed-records parity: the engine run STORES a
    ready-to-run triage query per statement rule (the reference's
    failed_records_query.sql:36-116 rendering, with the `_dq_validation_*`
    column set); this query executes that stored SQL verbatim and returns
    its rows — the oracle replays the same statement + lineage columns in
    DuckDB. One deterministic payload field (o_orderkey, pulled from the
    JSON error echo) stands in for the whole error row."""
    eng = DqEngine(spark, _dq_registry(), table_name_vars={"sf_dir": sf_dir})
    res = eng.run(["RB_ORDERS_DUP"], execution_ts=TS,
                  invocation_id="fixed-inv", write_summary=False)
    stored = res.summary.collect()[0]["failed_records_query"]
    return spark.sql(stored).select(
        "_dq_validation_invocation_id",
        "_dq_validation_rule_binding_id",
        "_dq_validation_rule_id",
        "_dq_validation_dimension",
        F.col("_dq_validation_complex_rule_validation_errors_count")
         .cast("bigint").alias("errors_count"),
        F.col("_dq_validation_complex_rule_validation_success_flag")
         .alias("success_flag"),
        F.get_json_object("custom_sql_statement_validation_errors",
                          "$.o_orderkey").cast("bigint").alias("o_orderkey"))


ORACLE_FAILED_RECORDS_DUP_STATEMENT = """
with data as (select * from orders where (True)),
validation_errors as (
  select a.* from data a
  inner join (select o_custkey from data group by o_custkey having count(*) > 1) d
  using (o_custkey)),
errs as (select count(*) as n from validation_errors)
select 'fixed-inv' as _dq_validation_invocation_id,
       'RB_ORDERS_DUP' as _dq_validation_rule_binding_id,
       'NO_DUP_CUSTKEY' as _dq_validation_rule_id,
       'DUPLICATION' as _dq_validation_dimension,
       errs.n::BIGINT as errors_count,
       (errs.n = 0) as success_flag,
       o_orderkey::BIGINT as o_orderkey
from validation_errors cross join errs
"""



def q_events_volume_per_day(spark, sf_dir):
    return (_t(spark, sf_dir, "events")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value")))


ORACLE_EVENTS_VOLUME_PER_DAY = """
select ts::DATE as day, count(*)::BIGINT as n_events,
       round(sum(value), 4) as total_value
from events group by 1
"""


def q_accuracy_distribution_events(spark, sf_dir):
    """A8-style distribution check: per-type share of total (countif ratio).
    Total attached as a broadcast scalar cross-join (same pattern as
    q_accuracy_distribution_true) — no driver-side count() round trip."""
    ev = _t(spark, sf_dir, "events")
    total = ev.agg(F.count(F.lit(1)).cast("double").alias("__total"))
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .crossJoin(F.broadcast(total))
            .select("event_type", "n",
                    F.round(F.col("n") / F.col("__total"), 6).alias("share")))


ORACLE_ACCURACY_DISTRIBUTION_EVENTS = """
select event_type, count(*)::BIGINT as n,
       round(count(*)::DOUBLE / (select count(*) from events), 6) as share
from events group by event_type
"""


def q_integrity_lineitem_part(spark, sf_dir):
    """J4 referential integrity: semi/anti counts of lineitem vs part."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey")
    matched = li.join(F.broadcast(part), li.l_partkey == part.p_partkey,
                      "left_semi").count()
    orphans = li.join(F.broadcast(part), li.l_partkey == part.p_partkey,
                      "left_anti").count()
    return local_frame(spark, [(int(matched), int(orphans))], T.StructType([
        T.StructField("n_matched", T.LongType()),
        T.StructField("n_orphans", T.LongType())]))


ORACLE_INTEGRITY_LINEITEM_PART = """
select
  (select count(*) from lineitem where l_partkey in
     (select p_partkey from part))::BIGINT as n_matched,
  (select count(*) from lineitem where l_partkey not in
     (select p_partkey from part))::BIGINT as n_orphans
"""


# --------------------------------------------------------------------------
# UNNEST rules, verbatim from the reference rule library (dialect-shim path)
# --------------------------------------------------------------------------

# Copied byte-for-byte from the reference YAMLs; tests/test_dialect.py parses
# those files and asserts equality, so "runs unchanged" is pinned:
#   docs/examples/advanced_rules/integrity_subquery.yaml:99
REF_UNNEST_INTEGRITY_EXPR = (
    "exists (select 1 from unnest($column) t inner join "
    "`$ref_data_dataset.$ref_data_table_id` r on t.iq = r.id and "
    "t.type = r.type and t.qyty = r.data)")
#   docs/examples/advanced_rules/correctness_complex_rule.yaml:64-69
REF_UNNEST_SUM_EXPR = (
    "(select\n"
    "    sum(SaleLine.dItemTotalNetAmount) + sum(SaleLine.dVatAmount)\n"
    "  from\n"
    "    unnest(SaleLineList.SaleLine) as SaleLine\n"
    ") between $column - $error_margin and $column + $error_margin")


def _unnest_registry() -> ConfigRegistry:
    reg = ConfigRegistry()
    reg.entities["SALES_ORDERS"] = Entity.from_dict("SALES_ORDERS", {
        "table_name": "cdq_sales_unnest", "source_format": "table",
        "columns": {"O_ORDERKEY": {"data_type": "INT64"},
                    "SALE_LINE_LIST": {"data_type": "RECORD"}}})
    reg.entities["INVOICES"] = Entity.from_dict("INVOICES", {
        "table_name": "cdq_invoices_unnest", "source_format": "table",
        "columns": {"O_ORDERKEY": {"data_type": "INT64"},
                    "SALELINELIST": {"data_type": "RECORD"},
                    "INVOICE_GROSS_TOTAL_AMOUNT": {"data_type": "FLOAT64"}}})
    reg.row_filters["NONE"] = RowFilter.from_dict("NONE",
                                                  {"filter_sql_expr": "True"})
    reg.rules["NO_REFERENTIAL_INTEGRITY_VIOLATION_SUBQUERY2"] = Rule.from_dict(
        "NO_REFERENTIAL_INTEGRITY_VIOLATION_SUBQUERY2",
        {"rule_type": "CUSTOM_SQL_EXPR", "dimension": "integrity",
         "params": {
             "custom_sql_arguments": ["ref_data_dataset", "ref_data_table_id"],
             "custom_sql_expr": REF_UNNEST_INTEGRITY_EXPR}})
    reg.rules["NO_COMPLEX_RULES_MISMATCH"] = Rule.from_dict(
        "NO_COMPLEX_RULES_MISMATCH",
        {"rule_type": "CUSTOM_SQL_EXPR", "dimension": "correctness",
         "params": {"custom_sql_arguments": ["error_margin"],
                    "custom_sql_expr": REF_UNNEST_SUM_EXPR}})
    reg.rule_bindings["RB_UNNEST_INTEGRITY"] = RuleBinding.from_dict(
        "RB_UNNEST_INTEGRITY", {
            "entity_id": "SALES_ORDERS", "column_id": "SALE_LINE_LIST",
            "row_filter_id": "NONE",
            "rule_ids": [{"NO_REFERENTIAL_INTEGRITY_VIOLATION_SUBQUERY2": {
                "ref_data_dataset": "global_temp",
                "ref_data_table_id": "cdq_ref_items"}}]})
    reg.rule_bindings["RB_INVOICE_UNNEST_SUM"] = RuleBinding.from_dict(
        "RB_INVOICE_UNNEST_SUM", {
            "entity_id": "INVOICES", "column_id": "INVOICE_GROSS_TOTAL_AMOUNT",
            "row_filter_id": "NONE",
            "rule_ids": [{"NO_COMPLEX_RULES_MISMATCH": {
                "error_margin": "0.03"}}]})
    return reg


def _register_unnest_views(spark: SparkSession, sf_dir: str) -> None:
    """Synthesize the array-of-struct entities the reference rules expect
    from the flat TPC-H lineitem table (deterministic: per-order arrays
    sorted by linenumber-first struct order)."""
    li = _t(spark, sf_dir, "lineitem")
    sale_struct = F.struct(
        F.col("l_linenumber").alias("ln"), F.col("l_partkey").alias("iq"),
        F.col("l_returnflag").alias("type"), F.col("l_quantity").alias("qyty"))
    (li.groupBy("l_orderkey")
     .agg(F.array_sort(F.collect_list(sale_struct)).alias("raw"))
     .select(F.col("l_orderkey").alias("o_orderkey"),
             F.transform("raw", lambda x: F.struct(
                 x["iq"].alias("iq"), x["type"].alias("type"),
                 x["qyty"].alias("qyty"))).alias("sale_line_list"))
     .createOrReplaceTempView("cdq_sales_unnest"))
    (li.where(F.col("l_quantity") <= 25)
     .select(F.col("l_partkey").alias("id"),
             F.col("l_returnflag").alias("type"),
             F.col("l_quantity").alias("data")).distinct()
     .createOrReplaceGlobalTempView("cdq_ref_items"))
    inv_struct = F.struct(
        F.col("l_linenumber").alias("ln"),
        F.col("l_extendedprice").alias("dItemTotalNetAmount"),
        F.col("l_tax").alias("dVatAmount"))
    (li.groupBy("l_orderkey")
     .agg(F.array_sort(F.collect_list(inv_struct)).alias("raw"),
          F.sum("l_extendedprice").alias("s"), F.sum("l_tax").alias("v"))
     .select(F.col("l_orderkey").alias("o_orderkey"),
             F.struct(F.transform("raw", lambda x: F.struct(
                 x["dItemTotalNetAmount"].alias("dItemTotalNetAmount"),
                 x["dVatAmount"].alias("dVatAmount"))).alias("SaleLine"))
              .alias("salelinelist"),
             # 1/3 of invoices get +1.0 → fail the ±0.03 margin check
             (F.round(F.col("s") + F.col("v"), 2)
              + F.when(F.col("l_orderkey") % 3 == 0, F.lit(1.0))
                 .otherwise(F.lit(0.0)))
             .alias("invoice_gross_total_amount"))
     .createOrReplaceTempView("cdq_invoices_unnest"))


def q_integrity_unnest_join(spark, sf_dir):
    """The reference's UNNEST rule SQL, byte-identical, through the dialect
    shim: correlated `exists(select 1 from unnest($column) t join ref)` and
    the correlated scalar `(select sum(...) from unnest(...))` aggregate.
    The oracle derives the same verdicts from the FLAT lineitem table
    (independent derivation — no nested arrays needed in DuckDB)."""
    _register_unnest_views(spark, sf_dir)
    return _run_dq(spark, sf_dir,
                   ["RB_UNNEST_INTEGRITY", "RB_INVOICE_UNNEST_SUM"],
                   registry=_unnest_registry())


ORACLE_INTEGRITY_UNNEST_JOIN = """
with ok1 as (
  -- a line's (partkey, returnflag, quantity) triple appears in the qty<=25
  -- reference subset iff the line's own quantity is <=25 (the triple embeds
  -- the quantity), so the exists-join collapses to this per-line test
  select l_orderkey, max(case when l_quantity <= 25 then 1 else 0 end) ok
  from lineitem group by l_orderkey),
inv as (select l_orderkey, sum(l_extendedprice) s, sum(l_tax) v
        from lineitem group by l_orderkey),
ok2 as (select l_orderkey,
               case when (s + v) between total - 0.03 and total + 0.03
                    then 1 else 0 end ok
        from (select *, round(s + v, 2)
                        + case when l_orderkey % 3 = 0 then 1.0 else 0.0 end
                          as total
              from inv))
select 'RB_UNNEST_INTEGRITY' as rule_binding_id,
       'NO_REFERENTIAL_INTEGRITY_VIOLATION_SUBQUERY2' as rule_id,
       count(*)::BIGINT as rows_validated, sum(ok)::BIGINT as success_count,
       (count(*) - sum(ok))::BIGINT as failed_count, 0::BIGINT as null_count,
       NULL::BIGINT as errors_count, NULL::BOOLEAN as success_flag
from ok1
union all
select 'RB_INVOICE_UNNEST_SUM', 'NO_COMPLEX_RULES_MISMATCH',
       count(*)::BIGINT, sum(ok)::BIGINT, (count(*) - sum(ok))::BIGINT,
       0::BIGINT, NULL::BIGINT, NULL::BOOLEAN
from ok2
"""


def q_timeliness_recent_events(spark, sf_dir):
    """A9-style delayed-ingestion check anchored at max(ts) (deterministic
    stand-in for current_timestamp). The anchor stays inside the plan as a
    broadcast scalar — collecting it to a Python datetime and re-injecting
    via F.lit would convert NTZ through the session timezone."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("m"))
    recent = (ev.crossJoin(F.broadcast(anchor))
              .where(F.col("ts") >= F.col("m") - F.expr("INTERVAL 24 HOURS")))
    return recent.agg(
        F.count(F.lit(1)).alias("n_recent"),
        F.lit(True).alias("ingestion_ok"))


ORACLE_TIMELINESS_RECENT_EVENTS = """
with anchor as (select max(ts) m from events)
select count(*)::BIGINT as n_recent, true as ingestion_ok
from events where ts >= (select m - interval 24 hours from anchor)
"""


def q_accuracy_distribution_true(spark, sf_dir):
    """A8's exact shape (accuracy_distribution_based.yaml): per-bucket counts
    vs the distribution's mean/stddev → deviation flag. The reference writes
    it with global windows; here bucket counts groupBy-aggregate and the
    scalar stats attach via a broadcast cross join — no single-partition
    window (SURVEY.md §2.7 trap)."""
    ev = _t(spark, sf_dir, "events")
    buckets = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    stats = buckets.agg(F.avg("n").alias("mean_n"),
                        F.stddev_pop("n").alias("stddev_n"))
    joined = buckets.crossJoin(F.broadcast(stats))
    return joined.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("mean_n", 6).alias("mean_n"),
        F.round("stddev_n", 6).alias("stddev_n"),
        (F.abs(F.col("n") - F.col("mean_n"))
         > 2 * F.col("stddev_n")).alias("deviates"),
    )


ORACLE_ACCURACY_DISTRIBUTION_TRUE = """
with buckets as (select event_type, count(*)::BIGINT n from events group by 1),
stats as (select avg(n) mean_n, stddev_pop(n) stddev_n from buckets)
select event_type, n, round(mean_n, 6) as mean_n, round(stddev_n, 6) as stddev_n,
       (abs(n - mean_n) > 2 * stddev_n) as deviates
from buckets, stats
"""


def q_json_field_threshold(spark, sf_dir):
    """Scalar-function surface: extract a numeric field from the JSON props
    column (portable via regexp_extract) and aggregate a COUNTIF-style
    threshold check per event type."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'\{"k": ([0-9]+)\}', 1).cast("bigint")
    return (ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count_if(F.col("k") >= 50).alias("n_high"),
                 F.count(F.lit(1)).alias("n")))


ORACLE_JSON_FIELD_THRESHOLD = """
select event_type,
       count_if(CAST(regexp_extract(props, '\\{"k": ([0-9]+)\\}', 1) AS BIGINT)
                >= 50)::BIGINT as n_high,
       count(*)::BIGINT as n
from events group by event_type
"""


def q_array_aggregate_rule(spark, sf_dir):
    """A11's per-row aggregate-over-array shape
    (correctness_complex_rule.yaml: sum over UNNESTed array BETWEEN bounds)
    as a higher-order function — no explode, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    tok_char_sum = F.aggregate(toks, F.lit(0).cast("bigint"),
                               lambda acc, t: acc + F.length(t))
    valid = tok_char_sum.between(F.col("n_chars") * 0.5, F.col("n_chars"))
    return docs.select("doc_id",
                       tok_char_sum.alias("tok_char_sum"),
                       valid.alias("row_is_valid"))


ORACLE_ARRAY_AGGREGATE_RULE = f"""
select doc_id,
       list_sum(list_transform({OF.sql_tokens('text')}, t -> length(t)))::BIGINT
         as tok_char_sum,
       list_sum(list_transform({OF.sql_tokens('text')}, t -> length(t)))
         between n_chars * 0.5 and n_chars as row_is_valid
from documents
"""


def q_sessionize_events(spark, sf_dir):
    """Sessionization: per-user sessions split on >30-minute gaps (lag +
    cumulative-sum-of-gap-flags window pattern). Windows partition by
    user_id — bounded keys, no global window. Output: per-user session
    count + max session length."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ-subtraction yields an interval: TZ-independent (an epoch cast
    # would depend on the session timezone, which the driver's session may
    # not pin to UTC)
    gap = F.col("ts") - F.lag(F.col("ts")).over(w)
    sess = (ev
            .withColumn("new_sess",
                        F.when(gap.isNull()
                               | (gap > F.expr("INTERVAL 30 MINUTES")),
                               1).otherwise(0))
            .withColumn("sess_id", F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"))
    return (per_sess.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.max("n_events").cast("bigint").alias("max_session_events")))


ORACLE_SESSIONIZE_EVENTS = """
with ordered as (
  select user_id, event_id, ts,
         case when ts - lag(ts) over
                (partition by user_id order by ts, event_id)
                > interval 30 minutes
              or lag(ts) over (partition by user_id order by ts, event_id)
                is null
              then 1 else 0 end as new_sess
  from events),
sess as (
  select user_id,
         sum(new_sess) over (partition by user_id order by ts, event_id
                             rows between unbounded preceding and current row)
           as sess_id
  from ordered),
per_sess as (select user_id, sess_id, count(*)::BIGINT n_events
             from sess group by 1, 2)
select user_id, count(*)::BIGINT as n_sessions,
       max(n_events)::BIGINT as max_session_events
from per_sess group by user_id
"""


CASES: dict[str, Case] = {
    "rb_customer_rules": (q_rb_customer_rules, ORACLE_RB_CUSTOMER_RULES),
    "rb_orders_dup_statement":
        (q_rb_orders_dup_statement, ORACLE_RB_ORDERS_DUP),
    "rb_entity_uri_and_env":
        (q_rb_entity_uri_and_env, ORACLE_RB_ENTITY_URI_AND_ENV),
    "rb_events_window": (q_rb_events_window, ORACLE_RB_EVENTS_WINDOW),
    "failed_records_acctbal":
        (q_failed_records_acctbal, ORACLE_FAILED_RECORDS_ACCTBAL),
    "failed_records_dup_statement":
        (q_failed_records_dup_statement, ORACLE_FAILED_RECORDS_DUP_STATEMENT),
    "events_volume_per_day":
        (q_events_volume_per_day, ORACLE_EVENTS_VOLUME_PER_DAY),
    "accuracy_distribution_events":
        (q_accuracy_distribution_events, ORACLE_ACCURACY_DISTRIBUTION_EVENTS),
    "accuracy_distribution_true":
        (q_accuracy_distribution_true, ORACLE_ACCURACY_DISTRIBUTION_TRUE),
    "json_field_threshold":
        (q_json_field_threshold, ORACLE_JSON_FIELD_THRESHOLD),
    "array_aggregate_rule":
        (q_array_aggregate_rule, ORACLE_ARRAY_AGGREGATE_RULE),
    "sessionize_events": (q_sessionize_events, ORACLE_SESSIONIZE_EVENTS),
    "integrity_lineitem_part":
        (q_integrity_lineitem_part, ORACLE_INTEGRITY_LINEITEM_PART),
    "integrity_unnest_join":
        (q_integrity_unnest_join, ORACLE_INTEGRITY_UNNEST_JOIN),
    "timeliness_recent_events":
        (q_timeliness_recent_events, ORACLE_TIMELINESS_RECENT_EVENTS),
}
