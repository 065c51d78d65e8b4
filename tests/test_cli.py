"""CLI surface — in-process (reuses the test SparkSession via getOrCreate)."""

from __future__ import annotations

import json

import pytest
from conftest import count_jobs

from cloud_data_quality_spark.cli import main


class TestValidate:
    def test_validate_shipped_configs(self, spark, capsys):
        rc = main(["validate", "--configs", "configs",
                   "--table-var", "sf_dir=/root/testdata/sf0.001"])
        assert rc == 0
        out = capsys.readouterr().out.strip().splitlines()
        rows = [json.loads(line) for line in out]
        assert len(rows) == 6  # 3 + 2 + 1 rules across the demo bindings
        by_rule = {r["rule_id"]: r for r in rows}
        assert by_rule["NOT_NULL_SIMPLE"]["rows_validated"] == "500"

    def test_fail_on_error_exit_code(self, spark, tmp_path, capsys):
        (tmp_path / "c.yml").write_text("""
entities:
  DOCS:
    table_name: "/root/testdata/sf0.001/documents.parquet"
    columns:
      DOC_ID: {data_type: INT64}
      TEXT: {data_type: STRING}
      N_CHARS: {data_type: INT64}
rules:
  IMPOSSIBLY_LONG:
    rule_type: CUSTOM_SQL_EXPR
    params: {custom_sql_expr: "LENGTH($column) > 999999"}
row_filters:
  NONE: {filter_sql_expr: "True"}
rule_bindings:
  RB:
    entity_id: DOCS
    column_id: TEXT
    row_filter_id: NONE
    rule_ids: [IMPOSSIBLY_LONG]
""")
        rc = main(["validate", "--configs", str(tmp_path), "--fail-on-error"])
        capsys.readouterr()
        assert rc == 1

    def test_dry_run_executes_nothing(self, spark, tmp_path, capsys):
        """--dry-run compiles + analyzes every binding and writes NOTHING —
        the summary path must not exist afterwards (zero write jobs ran)."""
        summary = tmp_path / "dq_summary"
        failed = tmp_path / "dq_failed"
        rc = main(["validate", "--configs", "configs",
                   "--table-var", "sf_dir=/root/testdata/sf0.001",
                   "--summary-path", str(summary),
                   "--failed-records-path", str(failed),
                   "--dry-run"])
        assert rc == 0
        assert not summary.exists() and not failed.exists()
        out = capsys.readouterr().out.strip().splitlines()
        plans = [json.loads(line) for line in out]
        assert len(plans) == 3  # one dict per shipped demo binding
        assert all(p["row_rules"] or p["statement_rules"] for p in plans)
        assert all("physical_plan_head" in p for p in plans)

    def test_dry_run_bad_config_fails_at_compile(self, spark, tmp_path):
        """A rule referencing a column the entity doesn't have must fail the
        dry run with the analysis/compile error — that's its whole point."""
        (tmp_path / "c.yml").write_text("""
entities:
  DOCS:
    table_name: "/root/testdata/sf0.001/documents.parquet"
    columns:
      DOC_ID: {data_type: INT64}
      TEXT: {data_type: STRING}
rules:
  BROKEN:
    rule_type: CUSTOM_SQL_EXPR
    params: {custom_sql_expr: "no_such_column > 1"}
row_filters:
  NONE: {filter_sql_expr: "True"}
rule_bindings:
  RB:
    entity_id: DOCS
    column_id: TEXT
    row_filter_id: NONE
    rule_ids: [BROKEN]
""")
        with pytest.raises(Exception, match="no_such_column|UNRESOLVED"):
            main(["validate", "--configs", str(tmp_path), "--dry-run"])

    def test_unknown_binding_errors(self, spark, tmp_path):
        (tmp_path / "c.yml").write_text("rules:\n  R1: {rule_type: NOT_NULL}\n")
        from cloud_data_quality_spark.config.model import ConfigError
        with pytest.raises(ConfigError):
            main(["validate", "--configs", str(tmp_path),
                  "--rule-binding-ids", "NO_SUCH_BINDING"])


class TestQualityFilterCommand:
    def test_quality_filter_run(self, spark, pages_parquet, tmp_path, capsys):
        rc = main(["quality-filter", "--input", pages_parquet,
                   "--output", str(tmp_path / "out"),
                   "--lineage", str(tmp_path / "lin"),
                   "--run-id", "t1", "--buckets", "4"])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["processed_partitions"] == 4
        assert 0 < stats["rows_kept"] < stats["rows_in"]
        out = spark.read.parquet(str(tmp_path / "out"))
        assert out.count() == stats["rows_kept"]

    def test_quality_filter_from_html_matches_text_path(
            self, spark, pages_parquet, tmp_path, capsys):
        """--from-html derives text from the html bytes first; since
        extraction is byte-identical to the stored text column, the kept
        set must equal the plain-text run exactly (url-for-url)."""
        rc = main(["quality-filter", "--input", pages_parquet,
                   "--output", str(tmp_path / "out_html"),
                   "--lineage", str(tmp_path / "lin_html"),
                   "--run-id", "t2", "--buckets", "4", "--from-html"])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        kept_html = spark.read.parquet(str(tmp_path / "out_html"))
        assert kept_html.count() == stats["rows_kept"]
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.operators.quality_filter import (
            annotate_quality_arrow,
        )
        plain = (annotate_quality_arrow(spark.read.parquet(pages_parquet))
                 .where(F.col("keep")).select("url"))
        assert kept_html.select("url").exceptAll(plain).count() == 0
        assert plain.exceptAll(kept_html.select("url")).count() == 0

    def test_quality_filter_from_warc_matches_html_path(
            self, spark, pages_parquet, tmp_path, capsys):
        """--from-warc: pages' html bytes wrapped into multi-record WARC
        blobs (4 pages per archive + one request record) must yield the
        SAME kept url set as the plain-text path — the full Common-Crawl
        ingestion chain (record walk → extract_text → annotate) end to
        end, with per-archive wave lineage."""
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.warc import make_warc_record
        from cloud_data_quality_spark.operators.quality_filter import (
            annotate_quality_arrow,
        )
        pages = spark.read.parquet(pages_parquet).limit(200) \
            .select("url", "html").collect()
        blobs = []
        for i in range(0, len(pages), 4):
            chunk = pages[i:i + 4]
            blob = make_warc_record("https://crawler/req",
                                    "2026-01-01T00:00:00Z",
                                    b"GET /", warc_type="request")
            for r in chunk:
                blob += make_warc_record(r["url"],
                                         "2026-01-01T00:00:00Z",
                                         bytes(r["html"]))
            blobs.append((f"archive-{i // 4:04d}.warc", blob))
        inp = str(tmp_path / "warcs.parquet")
        spark.createDataFrame(blobs, "url string, warc binary") \
            .write.parquet(inp)
        rc = main(["quality-filter", "--input", inp,
                   "--output", str(tmp_path / "out_warc"),
                   "--lineage", str(tmp_path / "lin_warc"),
                   "--run-id", "t3", "--buckets", "4", "--from-warc"])
        assert rc == 0
        kept = spark.read.parquet(str(tmp_path / "out_warc"))
        assert "warc_source" in kept.columns
        from cloud_data_quality_spark.functions.html_extract import (
            extract_text,
        )
        src = (spark.createDataFrame(pages, "url string, html binary")
               .withColumn("text", extract_text(F.col("html"))))
        want = {r["url"] for r in annotate_quality_arrow(src)
                .where(F.col("keep")).select("url").collect()}
        got = {r["url"] for r in kept.select("url").collect()}
        assert got == want and len(got) > 0


class TestCorpus:
    def test_span_dedup_and_sample_ops(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, "a\nshared\nb", "en"), (2, "shared\nc", "en"),
             (3, "d", "de")],
            schema="doc_id bigint, text string, lang string") \
            .write.parquet(inp)

        out1 = str(tmp_path / "deduped")
        rc = main(["corpus", "--op", "span-dedup", "--input", inp,
                   "--output", out1, "--delimiter", "\n"])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip())
        assert stats["rows_in"] == 3 and stats["rows_out"] == 3
        got = {r["doc_id"]: r["text_deduped"]
               for r in spark.read.parquet(out1).collect()}
        assert got[2] == "c"  # 'shared' kept only in doc 1

        out2 = str(tmp_path / "sampled")
        rc = main(["corpus", "--op", "sample", "--input", inp,
                   "--output", out2, "--fractions", "en=1.0"])
        assert rc == 0
        assert {r["doc_id"] for r in spark.read.parquet(out2).collect()} \
            == {1, 2}  # de defaults to 0

    def test_decontaminate_drop(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "corp.parquet")
        ben = str(tmp_path / "bench.parquet")
        spark.createDataFrame(
            [(1, "p q r s"), (2, "x y z w")],
            schema="doc_id bigint, text string").write.parquet(inp)
        spark.createDataFrame(
            [(9, "p q r")], schema="doc_id bigint, text string") \
            .write.parquet(ben)
        out = str(tmp_path / "clean")
        rc = main(["corpus", "--op", "decontaminate", "--input", inp,
                   "--benchmark", ben, "--shingle-words", "3",
                   "--drop", "--output", out])
        assert rc == 0
        assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [2]

    def test_incremental_minhash_dedup_op(self, spark, tmp_path, capsys):
        """Two CLI waves against one near-dup store: wave 2's
        boilerplate-tweaked recrawl is dropped even though its bytes (and
        exact fingerprint) differ from the wave-1 original."""
        spark.sql("drop table if exists cli_mh_store")
        base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
        near = "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"
        try:
            w1 = str(tmp_path / "w1.parquet")
            spark.createDataFrame([(1, base), (2, "a b c d e f g h")],
                                  "doc_id bigint, text string") \
                .write.parquet(w1)
            out1 = str(tmp_path / "out1")
            rc = main(["corpus", "--op", "incremental-minhash-dedup",
                       "--input", w1, "--output", out1,
                       "--store", "cli_mh_store", "--buckets", "4",
                       "--wave-id", "w1"])
            assert rc == 0
            assert json.loads(capsys.readouterr().out.strip())["rows_out"] == 2

            w2 = str(tmp_path / "w2.parquet")
            spark.createDataFrame([(10, near), (11, "p q r s t u v x")],
                                  "doc_id bigint, text string") \
                .write.parquet(w2)
            out2 = str(tmp_path / "out2")
            rc = main(["corpus", "--op", "incremental-minhash-dedup",
                       "--input", w2, "--output", out2,
                       "--store", "cli_mh_store", "--buckets", "4",
                       "--wave-id", "w2"])
            assert rc == 0
            assert [r["doc_id"] for r in
                    spark.read.parquet(out2).collect()] == [11]
        finally:
            spark.sql("drop table if exists cli_mh_store")

    # Spark jobs of one CLI call on the 5-row input below. Counting rows_in
    # with df.count() and rows_out by re-reading the output cost five more
    # (sample 7 → 2, near-dedup 33 → 28, incremental-dedup 11 → 6).
    CORPUS_JOBS = {"sample": 2, "near-dedup": 28, "incremental-dedup": 6}

    @pytest.mark.parametrize("op, extra", [
        ("sample", ["--fractions", "en=1.0"]),
        ("near-dedup", ["--jaccard-threshold", "0.5"]),
        ("incremental-dedup", ["--store", "cli_count_store"]),
    ])
    def test_counts_come_from_the_ops_own_jobs(self, spark, tmp_path,
                                               capsys, op, extra):
        """rows_in and rows_out are the true row counts of the input and
        the output, taken from Observations on the op's own jobs: no job
        counts or re-reads anything."""
        base = "one two three four five six seven eight nine ten"
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, base, "en"), (2, base + " eleven", "en"),
             (3, "unrelated words only here", "de"), (4, base, "en"),
             (5, None, "en")],
            "doc_id bigint, text string, lang string").write.parquet(inp)
        out = str(tmp_path / "out")
        spark.sql("drop table if exists cli_count_store")
        try:
            rc, jobs = count_jobs(
                spark, f"corpus-{tmp_path}",
                lambda: main(["corpus", "--op", op, "--input", inp,
                              "--output", out] + extra))
        finally:
            spark.sql("drop table if exists cli_count_store")
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip())
        assert stats["rows_in"] == 5
        assert stats["rows_out"] == spark.read.parquet(out).count() < 5
        assert jobs <= self.CORPUS_JOBS[op]

    def test_bad_mode_combos_exit(self, spark, tmp_path):
        inp = str(tmp_path / "d.parquet")
        spark.createDataFrame([(1, "x")], "doc_id bigint, text string") \
            .write.parquet(inp)
        with pytest.raises(SystemExit):
            main(["corpus", "--op", "span-dedup", "--input", inp,
                  "--output", str(tmp_path / "o")])
        with pytest.raises(SystemExit):
            main(["corpus", "--op", "decontaminate", "--input", inp,
                  "--output", str(tmp_path / "o")])


class TestCurate:
    def test_curate_pipeline_and_resume(self, spark, pages_parquet,
                                        tmp_path, capsys):
        import json as _json
        work = str(tmp_path / "curate_work")
        argv = ["curate", "--input", pages_parquet, "--work-dir", work,
                "--run-id", "cli-1", "--buckets", "8",
                "--blocklist", "hot.example.com", "--max-per-host", "10"]
        rc = main(argv)
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert [s["name"] for s in out["stages"]] == \
            ["quality", "hosts", "dedup"]
        assert out["rows_out"] > 0
        assert not any(s["resumed"] for s in out["stages"])
        # blocklist enforced end-to-end
        final = spark.read.parquet(out["stages"][-1]["output"])
        assert final.where(
            "url like 'https://hot.example.com%'").count() == 0
        # rerun with the same run id: every stage resumes, same output
        rc2 = main(argv)
        assert rc2 == 0
        out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert all(s["resumed"] for s in out2["stages"])

    def test_unit_read_back_schema_matches_inference(
            self, spark, pages_parquet, tmp_path, capsys, monkeypatch):
        """Each unit hands the next one its output read with the schema it
        wrote; that must equal what parquet inference gives for the same
        output (names, order, types), for every unit of a full curate."""
        import json as _json

        from cloud_data_quality_spark.engine.pipeline import (
            ResumableCurationPipeline)
        handed = {}
        original = ResumableCurationPipeline._stage_output_frame

        def record(self, stage, input_df, output_path, written):
            frame = original(self, stage, input_df, output_path, written)
            handed[output_path] = frame.schema
            return frame

        monkeypatch.setattr(ResumableCurationPipeline,
                            "_stage_output_frame", record)
        rc = main(["curate", "--input", pages_parquet,
                   "--work-dir", str(tmp_path / "w"), "--run-id", "s",
                   "--buckets", "4", "--span-dedup", "--max-per-host", "100",
                   "--near-dedup", "0.5", "--keep-best",
                   "--top-fraction", "0.5", "--pack-budget", "2048"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert [s["name"] for s in out["stages"]] == \
            ["quality", "span_dedup", "hosts", "dedup", "near_dedup",
             "select_top", "pack"]
        assert sorted(handed) == sorted(s["output"] for s in out["stages"])
        for path, schema in handed.items():
            inferred = spark.read.parquet(path).schema
            assert [(f.name, f.dataType) for f in schema] == \
                [(f.name, f.dataType) for f in inferred], path


class TestCorpusNewOps:
    def test_c4_clean_paragraph_and_canonicalize(self, spark, tmp_path,
                                                 capsys):
        import json as _json
        inp = str(tmp_path / "in.parquet")
        spark.createDataFrame(
            [(1, "Good long line with many words here.\n"
                 "Another proper line with enough words!\n"
                 "And a third good line to keep it all?",
              "HTTPS://A.ORG:443/x?utm_source=t&id=1"),
             (2, "short.", "https://b.org/y")],
            "doc_id int, text string, url string").write.parquet(inp)
        out1 = str(tmp_path / "o1")
        rc = main(["corpus", "--op", "c4-clean", "--input", inp,
                   "--output", out1])
        assert rc == 0
        got = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert got["rows_out"] == 1  # doc 2 has < 3 surviving lines
        out2 = str(tmp_path / "o2")
        rc = main(["corpus", "--op", "paragraph-stats", "--input", inp,
                   "--output", out2])
        assert rc == 0
        assert spark.read.parquet(out2).columns == [
            "doc_id", "n_paras", "dup_para_frac", "dup_para_char_frac",
            "top_para_char_frac"]
        out3 = str(tmp_path / "o3")
        rc = main(["corpus", "--op", "canonicalize-urls", "--input", inp,
                   "--output", out3])  # default --url-col url
        assert rc == 0
        urls = {r["url"] for r in spark.read.parquet(out3).collect()}
        assert "https://a.org/x?id=1" in urls
        out4 = str(tmp_path / "o4")
        rc = main(["corpus", "--op", "repetition-stats", "--input", inp,
                   "--output", out4])
        assert rc == 0
        assert spark.read.parquet(out4).columns == [
            "doc_id", "n_grams", "top_gram_char_frac", "dup_gram_char_frac"]
        # missing url column errors loudly instead of silently rewriting ids
        import pytest as _pytest
        with _pytest.raises(SystemExit, match="no column"):
            main(["corpus", "--op", "canonicalize-urls", "--input", inp,
                  "--output", str(tmp_path / "o5"), "--url-col", "nope"])

    def test_compact_store_op(self, spark, tmp_path, capsys):
        import json as _json
        import shutil
        from cloud_data_quality_spark.functions.corpus import (
            SeenFingerprintStore)
        table = "cli_compact_t"
        spark.sql(f"drop table if exists {table}")
        shutil.rmtree(f"spark-warehouse/{table}", ignore_errors=True)
        shutil.rmtree(f"spark-warehouse/{table}__compacting",
                      ignore_errors=True)
        store = SeenFingerprintStore(spark, table, n_buckets=4)
        fps = spark.createDataFrame([("a",), ("b",)], "fp string")
        store.append(fps, wave_id="w")
        store.append(fps, wave_id="w")
        rc = main(["corpus", "--op", "compact-store", "--store", table,
                   "--buckets", "4"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows_removed"] == 2
        assert spark.table(table).count() == 2
        spark.sql(f"drop table {table}")


class TestCurateTopFraction:
    def test_select_top_stage(self, spark, pages_parquet, tmp_path, capsys):
        import json as _json
        work = str(tmp_path / "w")
        rc = main(["curate", "--input", pages_parquet, "--work-dir", work,
                   "--run-id", "tf", "--buckets", "8",
                   "--top-fraction", "0.5"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        names = [s["name"] for s in out["stages"]]
        assert names == ["quality", "dedup", "select_top"]
        dedup_out = out["stages"][1]["rows_out"]
        sel = out["stages"][2]
        # approx threshold keeps roughly half (ties can overshoot)
        assert 0.3 * dedup_out <= sel["rows_out"] <= dedup_out
        assert sel["rows_out"] < dedup_out or dedup_out == 0
        # schema unchanged (score column dropped)
        final = spark.read.parquet(sel["output"])
        assert "__q" not in final.columns

    def test_containment_op(self, spark, tmp_path, capsys):
        import json as _json
        inp = str(tmp_path / "cin.parquet")
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "gamma delta epsilon zeta"),
             (3, "unrelated words entirely different here")],
            "doc_id long, text string").write.parquet(inp)
        out = str(tmp_path / "cout")
        rc = main(["corpus", "--op", "containment", "--input", inp,
                   "--output", out, "--shingle-words", "3",
                   "--containment-threshold", "0.9"])
        assert rc == 0
        got = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert got["rows_out"] == 1
        r = spark.read.parquet(out).collect()[0]
        assert (r["inner_id"], r["outer_id"]) == (2, 1)


class TestClassifierCli:
    def test_classify_op_and_drop(self, spark, tmp_path, capsys):
        import json as _json
        inp = str(tmp_path / "clin.parquet")
        good = " ".join(
            ["the of and to in data quality engine table content"] * 6)
        spark.createDataFrame(
            [(1, good), (2, "#$%@!*^|\\~{}[]<>"), (3, None)],
            "doc_id long, text string",
        ).write.parquet(inp)
        outp = str(tmp_path / "clout")
        rc = main(["corpus", "--op", "classify", "--input", inp,
                   "--output", outp])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows_out"] == 3
        rows = {r["doc_id"]: r for r in spark.read.parquet(outp).collect()}
        assert rows[1]["ml_keep"] is True
        assert rows[2]["ml_keep"] is False
        assert "score_micro" in spark.read.parquet(outp).columns

        outp2 = str(tmp_path / "clout2")
        rc = main(["corpus", "--op", "classify", "--input", inp,
                   "--output", outp2, "--drop"])
        assert rc == 0
        kept = spark.read.parquet(outp2)
        assert [r["doc_id"] for r in kept.collect()] == [1]
        # --drop keeps the input schema untouched
        assert kept.columns == ["doc_id", "text"]

    def test_curate_token_budget_stage(self, spark, pages_parquet, tmp_path,
                                       capsys):
        import json as _json
        work = str(tmp_path / "wb")
        rc = main(["curate", "--input", pages_parquet, "--work-dir", work,
                   "--run-id", "tb", "--buckets", "8",
                   "--token-budget", "20000"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        names = [s["name"] for s in out["stages"]]
        assert names == ["quality", "dedup", "select_budget"]
        sel = out["stages"][2]
        assert 0 < sel["rows_out"] < sel["rows_in"]
        final = spark.read.parquet(sel["output"])
        # selection helper columns dropped; input schema preserved (the
        # pipeline's own part_key lineage column is expected)
        for c in ("__nt", "score_micro", "cum_tokens"):
            assert c not in final.columns
        for c in spark.read.parquet(pages_parquet).columns:
            assert c in final.columns
        # budget respected: total words of the kept set <= budget
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions import text as TX
        total = final.agg(
            F.sum(TX.word_count(F.col("text")))).collect()[0][0]
        assert total <= 20000

    def test_curate_budget_and_fraction_conflict(self, spark, pages_parquet,
                                                 tmp_path):
        with pytest.raises(SystemExit):
            main(["curate", "--input", pages_parquet,
                  "--work-dir", str(tmp_path / "wx"), "--run-id", "x",
                  "--top-fraction", "0.5", "--token-budget", "1000"])


class TestSplitCli:
    def test_split_op(self, spark, tmp_path, capsys):
        import json as _json
        inp = str(tmp_path / "spin.parquet")
        spark.range(0, 300).selectExpr("id as doc_id",
                                       "'t' as text").write.parquet(inp)
        outp = str(tmp_path / "spout")
        rc = main(["corpus", "--op", "split", "--input", inp,
                   "--output", outp,
                   "--fractions", "train=0.8,val=0.1,test=0.1"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows_out"] == 300
        got = spark.read.parquet(outp)
        assert got.where("split is null").count() == 0
        assert got.select("split").distinct().count() == 3

    def test_split_requires_fractions(self, spark, tmp_path):
        inp = str(tmp_path / "spin2.parquet")
        spark.range(0, 5).selectExpr("id as doc_id").write.parquet(inp)
        with pytest.raises(SystemExit, match="fractions"):
            main(["corpus", "--op", "split", "--input", inp,
                  "--output", str(tmp_path / "o")])


class TestDupNgramCli:
    def test_dup_ngram_stats_op(self, spark, tmp_path, capsys):
        import json as _json
        inp = str(tmp_path / "dgin.parquet")
        spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c x")], "doc_id long, text string") \
            .write.parquet(inp)
        outp = str(tmp_path / "dgout")
        rc = main(["corpus", "--op", "dup-ngram-stats", "--input", inp,
                   "--output", outp, "--shingle-words", "3"])
        assert rc == 0
        _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        got = {r["doc_id"]: r["n_dup_shingles"]
               for r in spark.read.parquet(outp).collect()}
        assert got == {1: 1, 2: 1}


class TestCliIdContract:
    def test_split_refuses_dup_ids_and_uses_distinct_salt(self, spark,
                                                          tmp_path, capsys):
        inp = str(tmp_path / "ct.parquet")
        spark.range(0, 100).selectExpr("id as doc_id").write.parquet(inp)
        outp = str(tmp_path / "cto")
        rc = main(["corpus", "--op", "split", "--input", inp,
                   "--output", outp, "--fractions", "a=0.5,b=0.5"])
        assert rc == 0
        capsys.readouterr()
        from cloud_data_quality_spark.functions.corpus import dataset_split
        want = {(r["doc_id"], r["split"]) for r in dataset_split(
            spark.read.parquet(inp), {"a": 0.5, "b": 0.5},
            salt="split").collect()}
        got = {(r["doc_id"], r["split"])
               for r in spark.read.parquet(outp).collect()}
        assert got == want  # CLI default salt is 'split', not ''

        dup = str(tmp_path / "dup.parquet")
        spark.createDataFrame([(1,), (1,)], "doc_id long") \
            .write.parquet(dup)
        with pytest.raises(SystemExit, match="unique"):
            main(["corpus", "--op", "split", "--input", dup,
                  "--output", str(tmp_path / "x"),
                  "--fractions", "a=0.5,b=0.5"])

    def test_dup_ngram_stats_refuses_dup_ids(self, spark, tmp_path):
        dup = str(tmp_path / "dg.parquet")
        spark.createDataFrame([(1, "a b c"), (1, "a b c")],
                              "doc_id long, text string").write.parquet(dup)
        with pytest.raises(SystemExit, match="unique"):
            main(["corpus", "--op", "dup-ngram-stats", "--input", dup,
                  "--output", str(tmp_path / "y"), "--shingle-words", "3"])


class TestCurateFullPipeline:
    def test_all_stages_compose(self, spark, pages_parquet, tmp_path,
                                capsys):
        """The complete one-command corpus build: c4 -> quality ->
        span-dedup -> decontaminate -> hosts -> dedup -> sample -> budget
        select -> pack, as ONE resumable run."""
        import json as _json

        # benchmark fixture: text copied from a real page so decontaminate
        # has something to drop
        some = spark.read.parquet(pages_parquet) \
            .where("text is not null and length(text) > 200").limit(1) \
            .collect()[0]["text"]
        bench = str(tmp_path / "bench.parquet")
        spark.createDataFrame([(1, some)], "doc_id long, text string") \
            .write.parquet(bench)

        # NOTE no --c4-clean here: the synthetic pages' word-soup lines
        # carry no terminal punctuation, so C4 line cleaning empties the
        # whole corpus on this fixture (the empty-cascade path has its own
        # regression below)
        work = str(tmp_path / "wfull")
        argv = ["curate", "--input", pages_parquet, "--work-dir", work,
                "--run-id", "full", "--buckets", "8",
                "--span-dedup",
                "--decontaminate", bench,
                "--max-per-host", "400",
                "--sample-fractions", "en=0.9,es=0.9,fr=0.9,de=0.9,zh=0.9",
                "--token-budget", "150000",
                "--pack-budget", "512"]
        rc = main(argv)
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        names = [s["name"] for s in out["stages"]]
        assert names == ["quality", "span_dedup",
                         "decontaminate", "hosts", "dedup", "sample",
                         "select_budget", "pack"]
        # every stage committed and monotonically filters (pack re-shapes)
        for s in out["stages"][:-1]:
            assert s["rows_out"] <= s["rows_in"]
        # decontaminate itself dropped rows (not vacuously true via later
        # stages): its stage report shows the contaminated page removed
        dc = next(s for s in out["stages"] if s["name"] == "decontaminate")
        assert dc.get("rows_out") < dc.get("rows_in")
        sel = out["stages"][-2]
        kept = spark.read.parquet(sel["output"])
        assert kept.where(kept["text"] == some).count() == 0
        # pack manifest covers exactly the selected docs
        packed = spark.read.parquet(out["stages"][-1]["output"])
        assert packed.count() == kept.count()
        assert packed.where("pack_id is null").count() == 0

        # resume: re-running the same run-id re-executes nothing
        rc = main(argv)
        assert rc == 0
        out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert all(s["resumed"] for s in out2["stages"])
        assert out2["rows_out"] == out["rows_out"]

    def test_empty_cascade_survives_all_stages(self, spark, pages_parquet,
                                               tmp_path, capsys):
        """--c4-clean empties this fixture's corpus at stage 0; every later
        stage (including selection's eager prefix-sum jobs and packing)
        must flow the empty frame through and commit, not die on a dropped
        Observation (AQE empty-relation propagation)."""
        import json as _json
        work = str(tmp_path / "wempty")
        rc = main(["curate", "--input", pages_parquet, "--work-dir", work,
                   "--run-id", "empty", "--buckets", "8",
                   "--c4-clean", "--span-dedup",
                   "--sample-fractions", "en=0.9",
                   "--token-budget", "1000", "--pack-budget", "128"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows_out"] == 0
        # the adjacent partition stages c4_clean+quality share one
        # lineage unit
        assert [s["name"] for s in out["stages"]] == [
            "c4_clean+quality", "span_dedup", "dedup", "sample",
            "select_budget", "pack"]
        assert out["stages"][0]["members"] == ["c4_clean", "quality"]
        assert out["stages"][0]["rows_out"] == 0  # C4 drops everything


class TestCurateArgValidation:
    def test_span_delimiter_metachar_rejected(self, spark, pages_parquet,
                                              tmp_path):
        with pytest.raises(SystemExit, match="metachar"):
            main(["curate", "--input", pages_parquet,
                  "--work-dir", str(tmp_path / "w"), "--run-id", "x",
                  "--span-dedup", "--span-delimiter", "|"])

    def test_sample_fraction_typo_fails_fast(self, spark, pages_parquet,
                                             tmp_path):
        with pytest.raises(Exception):
            main(["curate", "--input", pages_parquet,
                  "--work-dir", str(tmp_path / "w2"), "--run-id", "x",
                  "--sample-fractions", "en=0.5,de"])
        # nothing was staged: validation beat the pipeline
        assert not (tmp_path / "w2" / "x").exists()

    def test_curate_url_col_separate_from_id(self, spark, tmp_path, capsys):
        """A non-URL --id-col with --max-per-host used to parse every row's
        host to '' — one mega-host the cap silently truncated the corpus
        to. Now the host stage takes --url-col, and rows whose host doesn't
        parse pass through untouched instead of pooling under ''."""
        import json as _json
        inp = str(tmp_path / "idurl.parquet")
        rows = [(i,
                 f"https://h{i % 3}.example.com/p/{i}" if i < 30 else "n/a",
                 f"The quick brown fox numbered {i} jumped over the lazy "
                 f"dog and then ran away into the deep woods after that.")
                for i in range(40)]
        spark.createDataFrame(
            rows, "doc_id long, url string, text string").write.parquet(inp)
        rc = main(["curate", "--input", inp,
                   "--work-dir", str(tmp_path / "wurl"), "--run-id", "u1",
                   "--id-col", "doc_id", "--url-col", "url",
                   "--max-per-host", "5"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        final = spark.read.parquet(out["stages"][-1]["output"])
        kept = [r["doc_id"] for r in final.collect()]
        # 3 parseable hosts capped at 5 each + all 10 unparseable rows
        assert len([d for d in kept if d < 30]) == 15
        assert len([d for d in kept if d >= 30]) == 10
        # the old failure shape — a non-URL id as the host column — now
        # passes every row through the cap (hosts parse to '' → untouched)
        # instead of truncating the corpus to max_per_host rows
        rc2 = main(["curate", "--input", inp,
                    "--work-dir", str(tmp_path / "wurl2"), "--run-id", "u2",
                    "--id-col", "doc_id", "--max-per-host", "5"])
        assert rc2 == 0
        out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert spark.read.parquet(
            out2["stages"][-1]["output"]).count() == 40
        # an absent URL column fails fast instead of silently mass-dropping
        with pytest.raises(SystemExit, match="url-col"):
            main(["curate", "--input", inp,
                  "--work-dir", str(tmp_path / "wurl3"), "--run-id", "u3",
                  "--id-col", "doc_id", "--url-col", "nope",
                  "--max-per-host", "5"])

    def test_curate_normalize_and_boilerplate_stages(self, spark, tmp_path,
                                                     capsys):
        """--normalize and --boilerplate compose as the leading curate
        stages: invisible bytes are gone and the host-template line is
        stripped from every doc before quality/dedup run."""
        import json as _json
        inp = str(tmp_path / "bp.parquet")
        boiler = "Subscribe to our newsletter and accept all cookies today."
        rows = [(i, f"https://h0.example.com/p/{i}",
                 boiler + "\n" +
                 f"The quick brown fox numbered {i}​ jumped over the "
                 f"lazy dog and then ran away into the deep woods after.")
                for i in range(6)]
        spark.createDataFrame(
            rows, "doc_id long, url string, text string").write.parquet(inp)
        rc = main(["curate", "--input", inp,
                   "--work-dir", str(tmp_path / "wbp"), "--run-id", "n1",
                   "--id-col", "doc_id", "--url-col", "url",
                   "--normalize", "--boilerplate"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        names = [s["name"] for s in out["stages"]]
        assert names[:2] == ["normalize", "boilerplate"]
        final = spark.read.parquet(out["stages"][-1]["output"])
        texts = [r["text"] for r in final.collect()]
        assert len(texts) == 6
        for t in texts:
            assert boiler not in t          # site template stripped
            assert "​" not in t        # normalization ran first
            assert "quick brown fox" in t   # the real content survived

    def test_curate_refuses_dup_ids(self, spark, tmp_path):
        dup = str(tmp_path / "cdup.parquet")
        spark.createDataFrame(
            [("u", "text one here"), ("u", "other text")],
            "url string, text string").write.parquet(dup)
        with pytest.raises(SystemExit, match="unique"):
            main(["curate", "--input", dup,
                  "--work-dir", str(tmp_path / "w3"), "--run-id", "x"])

    def test_curate_refuses_a_null_id(self, spark, tmp_path):
        ids = str(tmp_path / "cnull.parquet")
        spark.createDataFrame(
            [("u1", "text one here"), (None, "other text"),
             ("u2", "third text")],
            "url string, text string").write.parquet(ids)
        with pytest.raises(SystemExit, match="unique"):
            main(["curate", "--input", ids,
                  "--work-dir", str(tmp_path / "w4"), "--run-id", "x"])


class TestRound5Ops:
    def test_normalize_and_profile(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, "a​  b’s", "en"), (2, "plain", "en"),
             (3, "x  y", "de")],
            schema="doc_id bigint, text string, lang string") \
            .write.parquet(inp)
        out = str(tmp_path / "norm")
        rc = main(["corpus", "--op", "normalize", "--input", inp,
                   "--output", out])
        assert rc == 0
        capsys.readouterr()
        got = {r["doc_id"]: r["text"]
               for r in spark.read.parquet(out).collect()}
        assert got[1] == "a b's" and got[3] == "x y"

        out2 = str(tmp_path / "prof")
        rc = main(["corpus", "--op", "profile", "--input", inp,
                   "--output", out2, "--group-col", "lang"])
        assert rc == 0
        capsys.readouterr()
        prof = {r["lang"]: r for r in spark.read.parquet(out2).collect()}
        assert prof["en"]["doc_count"] == 2
        assert prof["de"]["chars_p50"] == 4

    def test_url_dedup_keeps_full_rows(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "caps.parquet")
        spark.createDataFrame(
            [(1, "https://a.test/p?utm_source=x", 100, "old"),
             (2, "https://a.test/p", 200, "new"),
             (3, "https://b.test/q", 50, "only")],
            schema="doc_id bigint, url string, warc_ts bigint, text string") \
            .write.parquet(inp)
        out = str(tmp_path / "winners")
        rc = main(["corpus", "--op", "url-dedup", "--input", inp,
                   "--output", out])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip())
        assert stats["rows_out"] == 2
        got = {r["doc_id"]: r["text"]
               for r in spark.read.parquet(out).collect()}
        assert got == {2: "new", 3: "only"}

    def test_pagerank_and_tfidf(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "pages.parquet")
        spark.createDataFrame(
            [(1, "https://a.test/p", '<a href="https://b.test/x">l</a>',
              "apple apple banana"),
             (2, "https://b.test/q", '<a href="https://a.test/y">m</a>',
              "banana cherry")],
            schema="doc_id bigint, url string, html string, text string") \
            .write.parquet(inp)
        out = str(tmp_path / "pr")
        rc = main(["corpus", "--op", "pagerank", "--input", inp,
                   "--output", out, "--iterations", "2"])
        assert rc == 0
        capsys.readouterr()
        pr = {r["host"]: r for r in spark.read.parquet(out).collect()}
        assert set(pr) == {"a.test", "b.test"}
        assert all(r["out_deg"] == 1 and r["in_deg"] == 1
                   for r in pr.values())

        out2 = str(tmp_path / "tfidf")
        rc = main(["corpus", "--op", "tfidf", "--input", inp,
                   "--output", out2, "--top-k", "1"])
        assert rc == 0
        capsys.readouterr()
        rows = spark.read.parquet(out2).collect()
        assert {r["doc_id"]: r["term"] for r in rows} == {1: "apple",
                                                          2: "cherry"}
    def test_unknown_column_errors(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "noc.parquet")
        spark.createDataFrame([(1, "t")], "doc_id bigint, text string") \
            .write.parquet(inp)
        with pytest.raises(SystemExit):
            main(["corpus", "--op", "url-dedup", "--input", inp,
                  "--output", str(tmp_path / "o")])


class TestCurateUrlHygiene:
    def test_hygiene_stage_drops_trap_urls(self, spark, pages_parquet,
                                           tmp_path, capsys):
        import json as _json

        from pyspark.sql import functions as F
        # rewrite 1/3 of page urls into crawl traps
        inp = str(tmp_path / "trap_pages.parquet")
        (spark.read.parquet(pages_parquet)
         .withColumn("url", F.expr(
             "case when abs(hash(url)) % 3 = 0 "
             "then url || '/tag/x' else url end"))
         .write.parquet(inp))
        work = str(tmp_path / "curate_work")
        rc = main(["curate", "--input", inp, "--work-dir", work,
                   "--run-id", "hyg-1", "--buckets", "8", "--url-hygiene"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "hosts" in [s["name"] for s in out["stages"]]
        final = spark.read.parquet(out["stages"][-1]["output"])
        assert final.where("url like '%/tag/%'").count() == 0
        assert final.count() > 0


class TestRound5CorpusOps:
    def test_dedup_lines_op(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, "x\nnav\ny\nnav"), (2, "z")],
            schema="doc_id bigint, text string").write.parquet(inp)
        out = str(tmp_path / "lines")
        rc = main(["corpus", "--op", "dedup-lines", "--input", inp,
                   "--output", out])
        assert rc == 0
        got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert got[1]["clean_text"] == "x\nnav\ny"
        assert got[1]["n_removed"] == 1 and got[2]["n_removed"] == 0

    def test_temperature_mix_op(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "docs.parquet")
        rows = [(i, "t", "en") for i in range(100)] + \
               [(1000 + i, "t", "de") for i in range(25)]
        spark.createDataFrame(
            rows, schema="doc_id bigint, text string, lang string") \
            .write.parquet(inp)
        out = str(tmp_path / "mixed")
        rc = main(["corpus", "--op", "temperature-mix", "--input", inp,
                   "--output", out, "--stratum-col", "lang"])
        assert rc == 0
        got = spark.read.parquet(out)
        counts = {r["lang"]: r["n"] for r in
                  got.groupBy("lang").count()
                  .withColumnRenamed("count", "n").collect()}
        assert counts["de"] == 25  # smallest stratum kept in full
        assert 35 <= counts["en"] <= 65  # ~sqrt(25*100)=50

    def test_bm25_op_requires_query_and_ranks(self, spark, tmp_path,
                                              capsys):
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, "rare words here"), (2, "words here only"),
             (3, "plain filler")],
            schema="doc_id bigint, text string").write.parquet(inp)
        with pytest.raises(SystemExit):
            main(["corpus", "--op", "bm25", "--input", inp,
                  "--output", str(tmp_path / "x")])
        out = str(tmp_path / "ranked")
        rc = main(["corpus", "--op", "bm25", "--input", inp,
                   "--output", out, "--query", "rare words", "--top-k", "2"])
        assert rc == 0
        got = spark.read.parquet(out).orderBy("score",
                                             ascending=False).collect()
        assert [r["doc_id"] for r in got] == [1, 2]

    def test_encoding_stats_op(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, "plain"), (2, "bad​text")],
            schema="doc_id bigint, text string").write.parquet(inp)
        out = str(tmp_path / "enc")
        rc = main(["corpus", "--op", "encoding-stats", "--input", inp,
                   "--output", out])
        assert rc == 0
        got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert got[1]["is_normalized"] and got[2]["n_zero_width"] == 1

    def test_curate_dedup_lines_stage(self, spark, tmp_path, capsys):
        """--dedup-lines composes as a leading partition stage: repeated
        in-doc lines collapse before quality filtering, and the stage
        appears in the lineage report."""
        import json as _json
        good = ("this is a perfectly reasonable english sentence with "
                "plenty of common stopwords in the mix and good length.")
        inp = str(tmp_path / "docs.parquet")
        rows = [(f"u{i}", "\n".join([good, good, good + " extra", good]))
                for i in range(40)]
        spark.createDataFrame(rows, "url string, text string") \
            .write.parquet(inp)
        work = str(tmp_path / "wdl")
        rc = main(["curate", "--input", inp, "--work-dir", work,
                   "--run-id", "dl", "--buckets", "4",
                   "--id-col", "url", "--dedup-lines"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        names = [s["name"] for s in out["stages"]]
        # narrow fusion: dedup_lines + quality share one lineage unit
        assert names[0] == "dedup_lines+quality"
        dl = out["stages"][0]
        assert dl["members"] == ["dedup_lines", "quality"]
        got = spark.read.parquet(dl["output"])
        [r] = got.where("url = 'u0'").collect()
        assert r["text"] == "\n".join([good, good + " extra"])

    def test_curate_media_filter_stage(self, spark, tmp_path, capsys):
        """--media-filter curates the binary column of a (text, media)
        corpus: undecodable/tiny blobs drop, exact duplicate blobs
        collapse to the min-id row, NULL-blob rows pass through."""
        import json as _json

        from cloud_data_quality_spark.functions.multimodal import (
            make_gif, make_png)
        good = ("this is a perfectly reasonable english sentence with "
                "plenty of common stopwords in the mix and good length.")
        rows = [("u1", good + " one", make_png(128, 128)),
                ("u2", good + " two", make_png(128, 128)),  # dup blob
                ("u3", good + " three", make_gif(4, 4)),    # tiny
                ("u4", good + " four", b"junk"),            # undecodable
                ("u5", good + " five", None)]               # text only
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            rows, "url string, text string, media binary").write.parquet(inp)
        work = str(tmp_path / "wm")
        rc = main(["curate", "--input", inp, "--work-dir", work,
                   "--run-id", "m", "--buckets", "4", "--id-col", "url",
                   "--media-filter"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "media_filter" in [s["name"] for s in out["stages"]]
        kept = {r["url"] for r in
                spark.read.parquet(out["stages"][-1]["output"]).collect()}
        assert kept == {"u1", "u5"}  # u2 dup, u3 tiny, u4 junk

    def test_curate_drop_noindex_stage(self, spark, tmp_path, capsys):
        """--drop-noindex honors the robots meta before any content
        stage; NULL-html rows pass through."""
        import json as _json
        good = ("this is a perfectly reasonable english sentence with "
                "plenty of common stopwords in the mix and good length.")
        rows = [
            ("u1", good + " one",
             b'<head><meta name="robots" content="noindex"></head>'),
            ("u2", good + " two", b"<p>plain page</p>"),
            ("u3", good + " three", None),
        ]
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            rows, "url string, text string, html binary").write.parquet(inp)
        work = str(tmp_path / "wni")
        rc = main(["curate", "--input", inp, "--work-dir", work,
                   "--run-id", "ni", "--buckets", "4", "--id-col", "url",
                   "--drop-noindex"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # partition chain: drop_noindex shares quality's unit
        assert out["stages"][0]["members"] == ["drop_noindex", "quality"]
        kept = {r["url"] for r in
                spark.read.parquet(out["stages"][-1]["output"]).collect()}
        assert kept == {"u2", "u3"}

    def test_curate_media_filter_missing_col_fails_fast(
            self, spark, pages_parquet, tmp_path):
        with pytest.raises(SystemExit, match="media"):
            main(["curate", "--input", pages_parquet,
                  "--work-dir", str(tmp_path / "w"), "--run-id", "x",
                  "--media-filter", "--media-col", "nope"])

    def test_curate_shard_docs_terminal_stage(self, spark, tmp_path,
                                              capsys):
        """--shard-docs ships the curated corpus as order-preserving
        shards + manifest; the stage output IS the manifest, shard files
        live under the run dir, and a rerun resumes everything."""
        import glob
        import json as _json
        good = ("this is a perfectly reasonable english sentence with "
                "plenty of common stopwords in the mix and good length.")
        inp = str(tmp_path / "docs.parquet")
        rows = [(f"u{i:03d}", f"{good} tail {i}") for i in range(200)]
        spark.createDataFrame(rows, "url string, text string") \
            .write.parquet(inp)
        work = str(tmp_path / "ws")
        argv = ["curate", "--input", inp, "--work-dir", work,
                "--run-id", "sh", "--buckets", "4", "--id-col", "url",
                "--shard-docs", "64"]
        rc = main(argv)
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["stages"][-1]["name"] == "shards"
        manifest = spark.read.parquet(out["stages"][-1]["output"])
        m = {r["shard_id"]: r for r in manifest.collect()}
        assert sorted(m) == [0, 1, 2, 3]  # 200 docs / 64 per shard
        assert sum(r["n_rows"] for r in m.values()) == 200
        files = glob.glob(f"{work}/sh/shards_data/data/shard_id=*/"
                          "*.parquet")
        assert len(files) == 4
        # the unit reads exactly what the previous unit wrote, once
        assert out["stages"][-1]["rows_in"] == out["stages"][-2]["rows_out"]
        # the trainer's shards carry no pipeline bookkeeping
        assert "part_key" not in \
            spark.read.parquet(f"{work}/sh/shards_data/data").columns
        # rerun fully resumes (pipeline stage committed)
        rc = main(argv)
        out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert all(s["resumed"] for s in out2["stages"])

    def test_curate_pack_and_shards_exclusive(self, spark, pages_parquet,
                                              tmp_path):
        with pytest.raises(SystemExit, match="terminal"):
            main(["curate", "--input", pages_parquet,
                  "--work-dir", str(tmp_path / "w"), "--run-id", "x",
                  "--pack-budget", "128", "--shard-docs", "64"])

    def test_curate_near_dedup_keep_best(self, spark, tmp_path, capsys):
        """--near-dedup composes after exact dedup; --keep-best keeps the
        longest cluster member."""
        import json as _json
        base = ("plenty of common english stopwords flow through this "
                "sentence and it reads just fine for the filter")
        inp = str(tmp_path / "docs.parquet")
        rows = [("u1", base + " tail one"),
                ("u2", base + " tail one extra words here"),  # longest
                ("u3", "a completely different and also quite acceptable "
                       "english sentence with the usual stopwords in it "
                       "reading well")]
        spark.createDataFrame(rows, "url string, text string") \
            .write.parquet(inp)
        work = str(tmp_path / "wnd")
        rc = main(["curate", "--input", inp, "--work-dir", work,
                   "--run-id", "nd", "--buckets", "4", "--id-col", "url",
                   "--near-dedup", "0.5", "--keep-best"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        names = [s["name"] for s in out["stages"]]
        assert names == ["quality", "dedup", "near_dedup"]
        nd = next(s for s in out["stages"] if s["name"] == "near_dedup")
        kept = {r["url"] for r in
                spark.read.parquet(nd["output"]).collect()}
        assert kept == {"u2", "u3"}  # u1 lost to its longer near-dup u2

    def test_curate_units_write_only_the_input_columns(self, spark,
                                                       tmp_path, capsys):
        """No unit hands hidden state to a later one: with --near-dedup on,
        global units write exactly the input's columns and only the
        partition unit adds part_key (near_dedup computes its own MinHash
        signatures)."""
        import json as _json
        base = ("plenty of common english stopwords flow through this "
                "sentence and it reads just fine for the filter")
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [("u1", base + " tail one"),
             ("u2", base + " tail one extra words here")],
            "url string, text string").write.parquet(inp)
        rc = main(["curate", "--input", inp,
                   "--work-dir", str(tmp_path / "w"), "--run-id", "cols",
                   "--buckets", "4", "--id-col", "url",
                   "--near-dedup", "0.5", "--keep-best"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert [s["name"] for s in out["stages"]] == \
            ["quality", "dedup", "near_dedup"]
        for s in out["stages"]:
            extra = ["part_key"] if s["kind"] == "partition" else []
            assert sorted(spark.read.parquet(s["output"]).columns) == \
                sorted(["text", "url"] + extra), s["name"]

    def test_curate_input_part_key_column_loses_no_rows(self, spark,
                                                        tmp_path, capsys):
        """An input column named part_key — here a 4-bucket one, as a
        partition unit writes it — is the pipeline's to overwrite: a
        2-bucket run still reads every row, and its output equals curating
        the same input without that column."""
        import json as _json
        good = ("this is a perfectly reasonable english sentence with "
                "plenty of common stopwords in the mix and good length.")
        df = spark.createDataFrame(
            [(f"u{i:03d}", f"{good} tail {i}", i % 4) for i in range(200)],
            "url string, text string, part_key int")
        keyed, plain = str(tmp_path / "keyed"), str(tmp_path / "plain")
        df.write.parquet(keyed)
        df.drop("part_key").write.parquet(plain)

        def curate(inp, run_id):
            rc = main(["curate", "--input", inp,
                       "--work-dir", str(tmp_path / "w"), "--run-id", run_id,
                       "--buckets", "2", "--id-col", "url"])
            assert rc == 0
            out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
            final = spark.read.parquet(out["stages"][-1]["output"])
            return ([(s["rows_in"], s["rows_out"]) for s in out["stages"]],
                    sorted((r["url"], r["text"]) for r in final.collect()))

        rows, got = curate(keyed, "keyed")
        assert rows[0][0] == 200
        assert (rows, got) == curate(plain, "plain")

    def test_near_dedup_op(self, spark, tmp_path, capsys):
        inp = str(tmp_path / "docs.parquet")
        base = "one two three four five six seven eight nine ten"
        spark.createDataFrame(
            [(1, base), (2, base + " eleven"), (3, "unrelated words only")],
            schema="doc_id bigint, text string").write.parquet(inp)
        out = str(tmp_path / "nd")
        rc = main(["corpus", "--op", "near-dedup", "--input", inp,
                   "--output", out, "--jaccard-threshold", "0.5",
                   "--keep-best"])
        assert rc == 0
        kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert kept == {2, 3}  # longest near-dup member survives

    def test_curate_all_thirteen_stages(self, spark, tmp_path, capsys):
        """Kitchen sink: every optional stage enabled at once — order
        pinned, rows flow through non-empty, resume is a no-op."""
        import json as _json
        tmpl = "nav home about contact login menu footer links here."
        mk = lambda i: (  # noqa: E731
            f"the quick brown fox number {i} jumps over the lazy dog "
            f"near marker {i} and walks toward the quiet evening "
            f"street {i} with no worries at all tonight {i} honestly.")
        stut = lambda i: (  # noqa: E731
            f"scraper stutter line {i} with plenty of words in it today.")
        typo = lambda i: (  # noqa: E731
            f"\u201ctypographic\u201d quotes \u2014 and dashes number {i}.")
        rows = []
        for h in range(3):
            for i in range(8):
                doc = h * 10 + i
                # tmpl is host boilerplate (in EVERY host doc); stut is an
                # intra-doc duplicate unique to this doc; all content lines
                # are per-doc unique so only dedup-lines (not boilerplate /
                # span-dedup) touches them
                text = "\n".join([tmpl, mk(doc), stut(doc), stut(doc),
                                  typo(doc)])
                rows.append((f"https://h{h}.test/{doc}", "en", text))
        # a 3-line near-dup pair: each line differs only in its tail, so
        # exact Jaccard stays well above 0.5 while nothing is cross-doc
        # line-identical (span-dedup must not resolve it first)
        common = [
            "the data pipeline runs each night and reports the usual summary",
            "many shared words appear in this long sentence about the data",
            "the usual english stopwords hold the whole paragraph together",
        ]
        rows.append(("https://h0.test/90", "en",
                     "\n".join([tmpl] + [c + " alpha." for c in common])))
        rows.append(("https://h0.test/91", "en",
                     "\n".join([tmpl] + [c + " alpha beta." for c in common])))
        inp = str(tmp_path / "docs.parquet")
        spark.createDataFrame(rows, "url string, lang string, text string") \
            .write.parquet(inp)
        bench = str(tmp_path / "bench.parquet")
        spark.createDataFrame([(1, mk(5))], "bid bigint, text string") \
            .write.parquet(bench)

        work = str(tmp_path / "wall")
        argv = ["curate", "--input", inp, "--work-dir", work,
                "--run-id", "all", "--buckets", "4", "--id-col", "url",
                "--normalize", "--boilerplate", "--dedup-lines",
                "--c4-clean", "--span-dedup",
                "--decontaminate", bench,
                "--near-dedup", "0.5", "--keep-best",
                "--max-per-host", "100",
                "--sample-fractions", "en=1.0",
                "--token-budget", "100000",
                "--pack-budget", "128"]
        rc = main(argv)
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        names = [s["name"] for s in out["stages"]]
        # the dedup_lines→c4_clean→quality partition chain shares one
        # lineage unit; sample (partition-kind but not
        # adjacent to another partition stage) keeps its own
        assert names == ["normalize", "boilerplate",
                         "dedup_lines+c4_clean+quality", "span_dedup",
                         "decontaminate", "hosts", "dedup", "near_dedup",
                         "sample", "select_budget", "pack"]
        assert out["stages"][2]["members"] == ["dedup_lines", "c4_clean",
                                               "quality"]
        assert out["rows_out"] > 0
        for st in out["stages"][:-1]:
            assert st["rows_out"] <= st["rows_in"], st["name"]
        # the decontaminated doc (mk(5), doc 5 of host 0) is gone
        sel = out["stages"][-2]
        kept = spark.read.parquet(sel["output"])
        assert kept.where(kept["url"] == "https://h0.test/5").count() == 0
        # near-dup pair resolved to the LONGER member
        u = {r["url"] for r in kept.collect()}
        assert not {"https://h0.test/90", "https://h0.test/91"} <= u

        rc = main(argv)
        assert rc == 0
        out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert all(s["resumed"] for s in out2["stages"])
        assert out2["rows_out"] == out["rows_out"]
