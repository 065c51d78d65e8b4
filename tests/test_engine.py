"""End-to-end engine tests: summary contract on the contact_details fixture.

Expected values hand-computed per the reference's aggregation semantics
(create_entity_aggregate_dq_summary.sql:37-79, OVERVIEW.md:200-202) — the same
expectation style as the reference's dq_rules_expected_results.json."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from cloud_data_quality_spark.compiler.binding import compile_binding
from cloud_data_quality_spark.engine.runner import DqEngine

TS = datetime(2026, 1, 1, tzinfo=timezone.utc)


@pytest.fixture()
def engine(spark, contact_registry, tmp_path):
    return DqEngine(
        spark, contact_registry,
        summary_path=str(tmp_path / "dq_summary"),
        failed_records_path=str(tmp_path / "dq_failed_records"),
    )


def rows_by_rule(summary_rows):
    return {(r["rule_binding_id"], r["rule_id"]): r for r in summary_rows}


def run_bindings(engine, ids, **kw):
    result = engine.run(ids, execution_ts=TS, **kw)
    return rows_by_rule([r.asDict() for r in result.summary.collect()])


class TestSimpleRules:
    def test_not_null_full_table(self, engine):
        out = run_bindings(engine, ["T1_VALUE_NOT_NULL"], write_summary=False)
        r = out[("T1_VALUE_NOT_NULL", "NOT_NULL_SIMPLE")]
        assert r["rows_validated"] == 9
        assert r["success_count"] == 7
        assert r["failed_count"] == 2
        assert r["null_count"] is None            # skip_null_count for NOT_NULL
        assert r["null_percentage"] is None
        assert r["success_percentage"] == pytest.approx(7 / 9)
        assert r["complex_rule_validation_errors_count"] is None
        assert r["complex_rule_validation_success_flag"] is None

    def test_fused_multi_rule_binding(self, engine):
        out = run_bindings(engine, ["T2_EMAIL"], write_summary=False)
        expect = {
            "NOT_NULL_SIMPLE":          (7, 6, 1, None),
            "NOT_BLANK_RULE":           (7, 5, 1, 1),
            "REGEX_VALID_EMAIL":        (7, 4, 2, 1),
            "CUSTOM_SQL_LENGTH_LE_30":  (7, 5, 1, 1),
            "CUSTOM_SQL_LENGTH_LE_LIMIT": (7, 5, 1, 1),
        }
        for rule_id, (rv, s, f, n) in expect.items():
            r = out[("T2_EMAIL", rule_id)]
            assert (r["rows_validated"], r["success_count"],
                    r["failed_count"], r["null_count"]) == (rv, s, f, n), rule_id
        r = out[("T2_EMAIL", "REGEX_VALID_EMAIL")]
        assert r["dimension"] == "CONFORMANCE"
        assert r["metadata_json_string"] == '{"brand": "one"}'


class TestStatementRules:
    def test_duplicate_detection(self, engine):
        out = run_bindings(engine, ["T4_DUPLICATES"], write_summary=False)
        r = out[("T4_DUPLICATES", "NO_DUPLICATES_IN_COLUMN_GROUPS")]
        assert r["rows_validated"] == 9
        assert r["complex_rule_validation_errors_count"] == 2
        assert r["complex_rule_validation_success_flag"] is False
        # record-level stats all NULL for CUSTOM_SQL_STATEMENT
        for f in ("success_count", "failed_count", "null_count",
                  "success_percentage", "failed_percentage", "null_percentage"):
            assert r[f] is None, f
        assert r["column_id"] is None
        assert r["dimension"] == "DUPLICATION"


class TestIncremental:
    @pytest.mark.parametrize("sink_kind", ["path_default", "append", "compacting"])
    def test_watermark_progression_and_zero_row_semantics(
            self, spark, contact_registry, tmp_path, sink_kind):
        """Watermark lookups go through the SINK, not a raw parquet path —
        an engine configured with only summary_sink (no summary_path, the
        MERGE-table deployment shape) must still progress its watermark
        instead of silently re-scanning everything forever."""
        from cloud_data_quality_spark.engine.sinks import (
            CompactingParquetSink,
            ParquetAppendSink,
        )
        if sink_kind == "path_default":
            kw = {"summary_path": str(tmp_path / "dq_summary")}
        else:
            cls = {"append": ParquetAppendSink,
                   "compacting": CompactingParquetSink}[sink_kind]
            kw = {"summary_sink": cls(str(tmp_path / f"dq_summary_{sink_kind}"))}
        engine = DqEngine(spark, contact_registry,
                          failed_records_path=str(tmp_path / "fr"), **kw)
        # run 1: epoch watermark → all 7 email rows validated
        out1 = run_bindings(engine, ["T9_INCREMENTAL"], incremental=True)
        r1 = out1[("T9_INCREMENTAL", "NOT_NULL_SIMPLE")]
        assert r1["rows_validated"] == 7
        assert r1["success_count"] == 6

        # run 2: watermark == run-1 execution_ts (2026) → no 2024 rows remain
        ts2 = datetime(2026, 2, 1, tzinfo=timezone.utc)
        result2 = engine.run(["T9_INCREMENTAL"], execution_ts=ts2, incremental=True)
        r2 = rows_by_rule([r.asDict() for r in result2.summary.collect()])[
            ("T9_INCREMENTAL", "NOT_NULL_SIMPLE")]
        assert r2["rows_validated"] == 0
        # rows_validated == 0 → every count/percentage NULL
        for f in ("success_count", "failed_count", "null_count",
                  "success_percentage", "failed_percentage", "null_percentage"):
            assert r2[f] is None, f

    def test_batched_watermarks_match_individual(
            self, spark, contact_registry, tmp_path):
        """run() batches all bindings' watermark lookups into ONE groupBy
        job; the batched map must hold each run binding's execution_ts and
        default unknown/never-run bindings to EPOCH."""
        from cloud_data_quality_spark.engine.runner import EPOCH
        engine = DqEngine(spark, contact_registry,
                          summary_path=str(tmp_path / "dq_summary"),
                          failed_records_path=str(tmp_path / "fr"))
        b_inc = compile_binding(contact_registry, "T9_INCREMENTAL")
        b_dup = compile_binding(contact_registry, "T10_DUP_INCREMENTAL")
        # before any run: both at EPOCH
        pre = engine.high_watermarks([b_inc, b_dup])
        assert set(pre.values()) == {EPOCH}
        run_bindings(engine, ["T9_INCREMENTAL"], incremental=True)
        hwms = engine.high_watermarks([b_inc, b_dup])
        assert hwms[(b_inc.rule_binding_id, b_inc.table_name)] == TS
        assert hwms[(b_dup.rule_binding_id, b_dup.table_name)] == EPOCH


class TestFailedRecords:
    def test_failed_records_lineage(self, engine, spark):
        engine.run(["T2_EMAIL"], execution_ts=TS, write_failed_records=True,
                   write_summary=False)
        fr = spark.read.parquet(engine.failed_records_path)
        rows = [r.asDict() for r in fr.collect()]
        by_rule = {}
        for r in rows:
            by_rule.setdefault(r["_dq_validation_rule_id"], []).append(r)
        # NULL validity is NOT a failure (failed_records_query.sql:108-109)
        assert len(by_rule["NOT_NULL_SIMPLE"]) == 1      # the NULL row fails NOT_NULL
        assert len(by_rule["REGEX_VALID_EMAIL"]) == 2    # '' and 'not-an-email'
        assert len(by_rule["CUSTOM_SQL_LENGTH_LE_30"]) == 1
        sample = by_rule["REGEX_VALID_EMAIL"][0]
        assert sample["_dq_validation_rule_binding_id"] == "T2_EMAIL"
        # reference columns echoed as JSON for joinback
        assert '"ROW_ID"' in sample["_dq_validation_reference_columns_json"]

    def test_failed_records_sql_per_rule_type(self, engine, spark,
                                              contact_registry, contact_details):
        """The stored failed_records_query must actually return the failing
        rows when run. NOT_NULL fails on NULL rows — conjoining
        `col IS NOT NULL AND NOT (col IS NOT NULL)` would be a contradiction
        returning 0 rows (reference failed_records_query.sql filters
        row_is_valid IS FALSE, which includes the NULLs for NOT_NULL)."""
        b = compile_binding(contact_registry, "T2_EMAIL")
        rules = {r.rule_id: r for r in b.simple_rules}

        # stored queries are ready-to-run AS-IS (file-source table refs use
        # Spark's direct parquet.`path` syntax) — no rewriting before use
        nn_sql = engine._failed_records_sql(b, rules["NOT_NULL_SIMPLE"])
        rows = spark.sql(nn_sql).collect()
        assert len(rows) == 1 and rows[0]["column_value"] is None

        rx_sql = engine._failed_records_sql(b, rules["REGEX_VALID_EMAIL"])
        vals = {r["column_value"] for r in spark.sql(rx_sql).collect()}
        assert vals == {"", "not-an-email"}  # non-NULL failures only

    def test_statement_failed_records_query_parity_and_runs(
            self, engine, spark, contact_registry):
        """CUSTOM_SQL_STATEMENT rules store a READY-TO-RUN triage query with
        the reference's full `_dq_validation_*` column set
        (failed_records_query.sql:80-116) — not the raw statement SQL."""
        b = compile_binding(contact_registry, "T4_DUPLICATES")
        rule = b.statement_rules[0]
        sql = engine._statement_failed_records_sql(b, rule, "inv-123")
        # golden column set, exactly the reference template's
        for col in ["_dq_validation_invocation_id",
                    "_dq_validation_rule_binding_id",
                    "_dq_validation_rule_id",
                    "_dq_validation_column_id",
                    "_dq_validation_column_value",
                    "_dq_validation_dimension",
                    "_dq_validation_simple_rule_row_is_valid",
                    "_dq_validation_complex_rule_validation_errors_count",
                    "_dq_validation_complex_rule_validation_success_flag",
                    "custom_sql_statement_validation_errors"]:
            assert f"AS {col}" in sql, col
        assert "COUNT(*) OVER" not in sql  # no one-partition global window
        out = spark.sql(sql).collect()
        # fixture: 2 duplicate (contact_type, value) rows
        assert len(out) == 2
        assert all(r["_dq_validation_complex_rule_validation_errors_count"] == 2
                   for r in out)
        assert all(r["_dq_validation_complex_rule_validation_success_flag"]
                   is False for r in out)
        assert all(r["_dq_validation_invocation_id"] == "inv-123" for r in out)
        assert all(r["custom_sql_statement_validation_errors"] for r in out)
        # and the engine run stores exactly this rendering in the summary
        result = engine.run(["T4_DUPLICATES"], execution_ts=TS,
                            invocation_id="inv-123", write_summary=False)
        stored = result.summary.collect()[0]["failed_records_query"]
        assert stored == sql

    def test_statement_failed_records_incremental_window(
            self, engine, spark, contact_registry):
        """Incremental runs store a triage query whose `data` CTE reproduces
        the run's watermark window (the reference interpolates
        high_watermark_value / current_timestamp_value into the same CTE,
        failed_records_query.sql:48-58) — re-running the stored query later
        must triage the rows THAT RUN saw, not whatever is newest."""
        b = compile_binding(contact_registry, "T10_DUP_INCREMENTAL")
        rule = b.statement_rules[0]
        lo = datetime(2020, 1, 1, tzinfo=timezone.utc)

        # full window covers both copies of the duplicate pair → 2 error rows
        hi = datetime(2026, 2, 1, tzinfo=timezone.utc)
        sql = engine._statement_failed_records_sql(
            b, rule, "inv-9", high_watermark=lo, current_ts=hi)
        assert f"CAST({b.incremental_column} AS TIMESTAMP) BETWEEN" in sql
        assert "2020-01-01" in sql and "2026-02-01" in sql
        assert len(spark.sql(sql).collect()) == 2

        # window cut between the two copies (2024-01-01 / 2024-01-07) →
        # only one copy in scope → no duplicate → zero error rows
        mid = datetime(2024, 1, 5, tzinfo=timezone.utc)
        sql_cut = engine._statement_failed_records_sql(
            b, rule, "inv-9", high_watermark=lo, current_ts=mid)
        assert spark.sql(sql_cut).collect() == []

        # non-incremental bindings never get a window, even if asked
        b4 = compile_binding(contact_registry, "T4_DUPLICATES")
        sql4 = engine._statement_failed_records_sql(
            b4, b4.statement_rules[0], "inv-9", high_watermark=lo, current_ts=hi)
        assert "BETWEEN" not in sql4

        # and an incremental engine run stores exactly the windowed rendering
        res = engine.run(["T10_DUP_INCREMENTAL"], execution_ts=TS,
                         invocation_id="inv-9", incremental=True,
                         write_summary=False)
        stored = res.summary.collect()[0]["failed_records_query"]
        assert "BETWEEN" in stored and TS.isoformat() in stored


class TestSummarySink:
    def test_append_and_merge_dedupe(self, engine, spark):
        engine.run(["T1_VALUE_NOT_NULL"], execution_ts=TS)
        engine.run(["T1_VALUE_NOT_NULL"], execution_ts=TS)  # same dq_run_id
        raw = spark.read.parquet(engine.summary_path)
        assert raw.count() == 2
        deduped = engine.read_summary(deduped=True)
        assert deduped.count() == 1  # MERGE-on-dq_run_id emulation


class TestCompileOnly:
    def test_compiled_binding_shape(self, contact_registry):
        b = compile_binding(contact_registry, "T2_EMAIL")
        assert len(b.simple_rules) == 5
        assert b.filter_sql == "contact_type = 'email'"
        assert b.reference_columns == ("ROW_ID", "CONTACT_TYPE")
        sqls = {r.rule_id: r.predicate_sql for r in b.simple_rules}
        assert sqls["NOT_NULL_SIMPLE"] == "VALUE IS NOT NULL"
        assert sqls["CUSTOM_SQL_LENGTH_LE_LIMIT"] == "LENGTH( VALUE ) <= 40"
