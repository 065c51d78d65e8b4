"""Extended engine coverage: R6 reference-integrity subqueries, P3 partition
guards, CSV sources (S3), last_modified (S4), target publish (S6), skew
utilities, and the F1 gate vs reference-semantics labels."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from conftest import count_jobs
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from cloud_data_quality_spark.config.loader import ConfigRegistry
from cloud_data_quality_spark.config.model import Entity, RowFilter, Rule, RuleBinding
from cloud_data_quality_spark.engine.runner import DqEngine

TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
SF = "/root/testdata/sf0.001"


def mk_registry(**entities_rules):
    return ConfigRegistry()


class TestReferenceIntegrity:
    """R6: IN-subquery CUSTOM_SQL_EXPR against another configured entity."""

    @pytest.fixture(scope="class")
    def reg(self):
        reg = ConfigRegistry()
        reg.entities["LINEITEM"] = Entity.from_dict("LINEITEM", {
            "table_name": f"{SF}/lineitem.parquet",
            "columns": {"L_ORDERKEY": {"data_type": "INT64"},
                        "L_PARTKEY": {"data_type": "INT64"},
                        "L_QUANTITY": {"data_type": "FLOAT64"}}})
        reg.entities["PART"] = Entity.from_dict("PART", {
            "table_name": f"{SF}/part.parquet",
            "columns": {"P_PARTKEY": {"data_type": "INT64"}}})
        reg.row_filters["NONE"] = RowFilter.from_dict(
            "NONE", {"filter_sql_expr": "True"})
        reg.rules["PARTKEY_EXISTS"] = Rule.from_dict("PARTKEY_EXISTS", {
            "rule_type": "CUSTOM_SQL_EXPR", "dimension": "integrity",
            "params": {"custom_sql_expr":
                       "$column in (select p_partkey from PART)"}})
        reg.rules["PARTKEY_FAKE_REF"] = Rule.from_dict("PARTKEY_FAKE_REF", {
            "rule_type": "CUSTOM_SQL_EXPR", "dimension": "integrity",
            "params": {"custom_sql_expr":
                       "$column in (select p_partkey from PART where p_partkey < 10)"}})
        reg.rule_bindings["RB_REF"] = RuleBinding.from_dict("RB_REF", {
            "entity_id": "LINEITEM", "column_id": "L_PARTKEY",
            "row_filter_id": "NONE",
            "rule_ids": ["PARTKEY_EXISTS", "PARTKEY_FAKE_REF"]})
        return reg

    def test_in_subquery_rule(self, spark, reg):
        eng = DqEngine(spark, reg)
        res = eng.run(["RB_REF"], execution_ts=TS, write_summary=False)
        rows = {r["rule_id"]: r.asDict() for r in res.summary.collect()}
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        part = spark.read.parquet(f"{SF}/part.parquet")
        expected_ok = li.join(part, li.l_partkey == part.p_partkey,
                              "left_semi").count()
        assert rows["PARTKEY_EXISTS"]["success_count"] == expected_ok
        small = li.where(F.col("l_partkey") < 10).count()
        assert rows["PARTKEY_FAKE_REF"]["success_count"] == small
        assert rows["PARTKEY_FAKE_REF"]["failed_count"] == li.count() - small


class TestUnusedEntities:
    """A run reads its bindings' own entities and the entities their SQL
    names — never the rest of the registry, so a broken entity the run
    does not use cannot fail it."""

    @staticmethod
    def _registry(other_table: str) -> ConfigRegistry:
        reg = ConfigRegistry()
        reg.entities["PART"] = Entity.from_dict("PART", {
            "table_name": f"{SF}/part.parquet",
            "columns": {"P_PARTKEY": {"data_type": "INT64"}}})
        reg.entities["OTHER"] = Entity.from_dict("OTHER", {
            "table_name": other_table,
            "columns": {"ID": {"data_type": "INT64"}}})
        reg.row_filters["NONE"] = RowFilter.from_dict(
            "NONE", {"filter_sql_expr": "True"})
        reg.rules["NN"] = Rule.from_dict("NN", {"rule_type": "NOT_NULL"})
        for rbid, eid, col in (("RB_GOOD", "PART", "P_PARTKEY"),
                               ("RB_OTHER", "OTHER", "ID")):
            reg.rule_bindings[rbid] = RuleBinding.from_dict(rbid, {
                "entity_id": eid, "column_id": col,
                "row_filter_id": "NONE", "rule_ids": ["NN"]})
        return reg

    @pytest.mark.parametrize("other_table", [
        pytest.param("{other_dir}/other.parquet", id="unset-variable"),
        pytest.param(f"{SF}/no_such_table.parquet", id="missing-path"),
    ])
    def test_broken_unused_entity_does_not_fail_the_run(
            self, spark, other_table):
        eng = DqEngine(spark, self._registry(other_table))
        assert [r["rule_binding_id"] for r in eng.dry_run(["RB_GOOD"])] \
            == ["RB_GOOD"]
        res = eng.run(["RB_GOOD"], execution_ts=TS, write_summary=False)
        row = res.summary.collect()[0]
        assert row["rows_validated"] == \
            spark.read.parquet(f"{SF}/part.parquet").count()

    def test_missing_own_entity_still_fails(self, spark):
        eng = DqEngine(spark, self._registry(f"{SF}/no_such_table.parquet"))
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            eng.run(["RB_OTHER"], execution_ts=TS, write_summary=False)


class TestSourcesAndPublish:
    def test_csv_entity_source(self, spark, tmp_path):
        """S3: CSV source format with schema inference."""
        p = tmp_path / "data.csv"
        p.write_text("id,v\n1,a\n2,\n3,b\n")
        reg = ConfigRegistry()
        reg.entities["CSV_T"] = Entity.from_dict("CSV_T", {
            "table_name": str(p), "source_format": "csv",
            "columns": {"ID": {"data_type": "INT64"},
                        "V": {"data_type": "STRING"}}})
        reg.row_filters["NONE"] = RowFilter.from_dict(
            "NONE", {"filter_sql_expr": "True"})
        reg.rules["V_NOT_NULL"] = Rule.from_dict("V_NOT_NULL",
                                                 {"rule_type": "NOT_NULL"})
        reg.rule_bindings["RB_CSV"] = RuleBinding.from_dict("RB_CSV", {
            "entity_id": "CSV_T", "column_id": "V",
            "row_filter_id": "NONE", "rule_ids": ["V_NOT_NULL"]})
        res = DqEngine(spark, reg).run(["RB_CSV"], execution_ts=TS,
                                       write_summary=False)
        row = res.summary.collect()[0]
        assert row["rows_validated"] == 3
        assert row["success_count"] == 2 and row["failed_count"] == 1

    def test_partition_null_guard(self, spark, tmp_path):
        """P3: declared partition fields get IS NOT NULL guards."""
        df = spark.createDataFrame(
            [(1, "a", "p1"), (2, "b", None), (3, None, "p2")],
            "id bigint, v string, pt string")
        path = str(tmp_path / "t.parquet")
        df.write.parquet(path)
        reg = ConfigRegistry()
        reg.entities["T"] = Entity.from_dict("T", {
            "table_name": path,
            "partition_fields": ["pt"],
            "columns": {"ID": {"data_type": "INT64"},
                        "V": {"data_type": "STRING"},
                        "PT": {"data_type": "STRING"}}})
        reg.row_filters["NONE"] = RowFilter.from_dict(
            "NONE", {"filter_sql_expr": "True"})
        reg.rules["R"] = Rule.from_dict("R", {"rule_type": "NOT_NULL"})
        reg.rule_bindings["RB"] = RuleBinding.from_dict("RB", {
            "entity_id": "T", "column_id": "V", "row_filter_id": "NONE",
            "rule_ids": ["R"]})
        row = DqEngine(spark, reg).run(["RB"], execution_ts=TS,
                                       write_summary=False).summary.collect()[0]
        assert row["rows_validated"] == 2  # NULL-partition row excluded

    def test_last_modified_and_publish(self, spark, contact_registry,
                                       contact_details, tmp_path):
        """S4 + S6: last_modified populated from source files; publish copies
        exactly one invocation's rows to the target and returns their
        count without a second pass."""
        eng = DqEngine(spark, contact_registry,
                       summary_path=str(tmp_path / "summary"))
        r1 = eng.run(["T1_VALUE_NOT_NULL"], execution_ts=TS)
        ts2 = datetime(2026, 2, 1, tzinfo=timezone.utc)
        r2 = eng.run(["T1_VALUE_NOT_NULL"], execution_ts=ts2)
        row = r1.summary.collect()[0]
        assert row["last_modified"] is not None
        target = str(tmp_path / "target")
        n, jobs = count_jobs(
            spark, f"publish-{tmp_path}",
            lambda: eng.publish_to_target(target, r2.invocation_id))
        assert n == 1
        # the count comes from an Observation on the append: a count()
        # after it re-read the summary store in 3 more jobs (6 in all)
        assert jobs <= 3
        pub = spark.read.parquet(target)
        assert pub.count() == 1
        assert pub.collect()[0]["invocation_id"] == r2.invocation_id

    def test_last_modified_of_a_file_uri_entity(self, spark, tmp_path):
        """S4 for non-local paths: an entity given as a file:// URI (as
        hdfs:// or s3a:// ones are) gets the newest file mtime under it,
        listed through the Hadoop FS API."""
        path = tmp_path / "t.parquet"
        spark.createDataFrame([(1, "a"), (2, None)], "id bigint, v string") \
            .write.parquet(str(path))
        reg = ConfigRegistry()
        reg.entities["T"] = Entity.from_dict("T", {
            "table_name": path.as_uri(),
            "columns": {"ID": {"data_type": "INT64"},
                        "V": {"data_type": "STRING"}}})
        reg.row_filters["NONE"] = RowFilter.from_dict(
            "NONE", {"filter_sql_expr": "True"})
        reg.rules["R"] = Rule.from_dict("R", {"rule_type": "NOT_NULL"})
        reg.rule_bindings["RB"] = RuleBinding.from_dict("RB", {
            "entity_id": "T", "column_id": "V", "row_filter_id": "NONE",
            "rule_ids": ["R"]})
        row = DqEngine(spark, reg).run(["RB"], execution_ts=TS,
                                       write_summary=False).summary.collect()[0]
        assert row["failed_count"] == 1
        newest = max(f.stat().st_mtime for f in path.rglob("*")
                     if f.is_file())
        assert row["last_modified"] is not None
        assert abs(row["last_modified"].timestamp() - newest) < 1


class TestSkew:
    def test_hot_host_fixture_and_two_phase_agg(self, spark, pages_parquet):
        from cloud_data_quality_spark.functions.skew import (
            hot_keys,
            per_host_doc_counts,
            url_host,
        )
        pages = spark.read.parquet(pages_parquet)
        counts = per_host_doc_counts(pages)
        by_host = {r["host"]: r["n_docs"] for r in counts.collect()}
        assert by_host["hot.example.com"] == pages.where(
            F.col("url").contains("hot.example.com")).count()
        # the generator's deliberate skew: hot host ~20% of rows
        assert by_host["hot.example.com"] / pages.count() == pytest.approx(
            0.2, abs=0.02)
        hosts = pages.select(url_host(F.col("url")).alias("host"))
        hot = [r["host"] for r in hot_keys(hosts, "host", 0.1).collect()]
        assert hot == ["hot.example.com"]

    def test_salted_repartition_spreads_hot_key(self, spark, pages_parquet):
        from cloud_data_quality_spark.functions.skew import (
            salted_repartition,
            url_host,
        )
        pages = spark.read.parquet(pages_parquet).withColumn(
            "host", url_host(F.col("url")))
        salted = salted_repartition(pages, "host", n_salts=8,
                                    num_partitions=16)
        import pyspark.sql.functions as SF
        dist = (salted.where(F.col("host") == "hot.example.com")
                .withColumn("pid", SF.spark_partition_id())
                .groupBy("pid").count().collect())
        assert len(dist) >= 4  # hot host spread across several partitions

    def test_salted_repartition_without_url_column(self, spark):
        """No `url` column → salt falls back to a hash over ALL columns.
        (The old fallback hashed only the key, so every row of a hot key
        got the same salt — a silent no-op.)"""
        from cloud_data_quality_spark.functions.skew import salted_repartition
        import pyspark.sql.functions as SF
        df = spark.range(0, 2000).select(
            F.lit("hot").alias("k"), F.col("id"))
        salted = salted_repartition(df, "k", n_salts=8, num_partitions=16)
        dist = (salted.withColumn("pid", SF.spark_partition_id())
                .groupBy("pid").count().collect())
        assert len(dist) >= 4


class TestKeepDropF1:
    def test_f1_vs_reference_semantics_labels(self, spark, pages_parquet):
        """North-rule gate: keep/drop F1 >= 0.99 vs reference-semantics
        labels. The label oracle is an independent pure-pandas
        re-implementation of the gate spec (not the pipeline code path)."""
        import pandas as pd

        from cloud_data_quality_spark.operators.quality_filter import (
            annotate_quality_arrow,
        )
        got = (annotate_quality_arrow(spark.read.parquet(pages_parquet))
               .select("url", "keep").toPandas().set_index("url")["keep"])

        pdf = spark.read.parquet(pages_parquet).select("url", "text").toPandas()
        labels = pdf["text"].map(_reference_keep_label)
        labels.index = pdf["url"]

        tp = int(((got == True) & (labels == True)).sum())   # noqa: E712
        fp = int(((got == True) & (labels == False)).sum())  # noqa: E712
        fn = int(((got == False) & (labels == True)).sum())  # noqa: E712
        precision = tp / (tp + fp)
        recall = tp / (tp + fn)
        f1 = 2 * precision * recall / (precision + recall)
        assert f1 >= 0.99, f"F1 {f1} (tp={tp}, fp={fp}, fn={fn})"


def _reference_keep_label(text) -> bool:
    """Independent label oracle: plain-python restatement of the gate spec
    (QualityThresholds defaults + the documented gate order)."""
    import re
    if not isinstance(text, str):
        return False
    toks = text.split()
    n_words = len(toks)
    n_chars = len(text)
    cjk = sum(1 for c in text if "一" <= c <= "鿿") / n_chars if n_chars else 0.0
    is_zh = cjk > 0.30
    markers = {
        "en": {"the", "a", "an", "of", "and", "to", "in", "is", "that", "it", "for"},
        "es": {"el", "la", "de", "que", "y", "en", "los", "se", "del", "las", "es"},
        "fr": {"le", "la", "de", "et", "les", "des", "un", "une", "du", "est"},
        "de": {"der", "die", "und", "das", "den", "von", "mit", "ist", "des", "ein"},
    }
    scores = {lang: sum(1 for t in toks if t in ws) for lang, ws in markers.items()}
    if is_zh:
        lang = "zh"
    elif scores["en"] >= max(scores.values()) and scores["en"] >= 1:
        lang = "en"
    elif scores["es"] >= max(scores["fr"], scores["de"]) and scores["es"] >= 1:
        lang = "es"
    elif scores["fr"] >= scores["de"] and scores["fr"] >= 1:
        lang = "fr"
    elif scores["de"] >= 1:
        lang = "de"
    else:
        lang = "und"
    # gates, in order
    if lang == "zh":
        if not (20 <= n_chars <= 800000):
            return False
    elif not (10 <= n_words <= 100000):
        return False
    if lang != "zh":
        mwl = sum(len(t) for t in toks) / n_words if n_words else None
        if mwl is None or not (3.0 <= mwl <= 12.0):
            return False
        alpha = sum(1 for c in text if c.isascii() and c.isalpha()) / n_chars
        if alpha < 0.55:
            return False
    else:
        if cjk < 0.30:
            return False
    if n_words:
        if 1.0 - len(set(toks)) / n_words > 0.8:
            return False
    lines = text.split("\n")
    if 1.0 - len(set(lines)) / len(lines) > 0.3:
        return False
    if lang == "und":
        return False
    if re.search(r"\b(badword1|badword2|slur1)\b", text):
        return False
    if lang == "en":
        # perplexity gate: English-profile char-bigram model
        from cloud_data_quality_spark.functions.webtext_rules import (
            perplexity_batch,
        )
        import pandas as pd
        ppl = perplexity_batch(pd.Series([text]))[0]
        if not (ppl <= 30.0):
            return False
    return True


class TestConcurrentBindings:
    def test_concurrent_run_matches_sequential(self, spark, contact_registry,
                                               tmp_path):
        """max_concurrency > 1 must produce exactly the same summary rows
        (and failed records) as the sequential run — the locks around the
        `data` view and the failed-records append are what make it safe."""
        from datetime import datetime, timezone

        from cloud_data_quality_spark.engine.runner import DqEngine
        ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
        ids = ["T1_VALUE_NOT_NULL", "T2_EMAIL", "T4_DUPLICATES",
               "T9_INCREMENTAL"]
        cols = ["rule_binding_id", "rule_id", "rows_validated",
                "success_count", "failed_count", "null_count",
                "complex_rule_validation_errors_count"]

        def rows_of(res):
            return sorted(tuple(r[c] for c in cols)
                          for r in res.summary.collect())

        seq_eng = DqEngine(spark, contact_registry,
                           failed_records_path=str(tmp_path / "fr_seq"))
        par_eng = DqEngine(spark, contact_registry,
                           failed_records_path=str(tmp_path / "fr_par"))
        seq = seq_eng.run(ids, execution_ts=ts, write_summary=False,
                          write_failed_records=True)
        par = par_eng.run(ids, execution_ts=ts, write_summary=False,
                          write_failed_records=True, max_concurrency=4)
        assert rows_of(seq) == rows_of(par)
        fr_seq = spark.read.parquet(str(tmp_path / "fr_seq")).count()
        fr_par = spark.read.parquet(str(tmp_path / "fr_par")).count()
        assert fr_seq == fr_par
