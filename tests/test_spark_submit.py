"""End-to-end spark-submit deployment: the north rule's run shape is
`spark-submit --py-files cdq_spark.zip ... cli.py quality-filter ...` on a
cluster; this drives exactly that, with the package imported from the zip
artifact (not the repo), in a fresh JVM."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = shutil.which("spark-submit") or str(
    Path(sys.executable).parent / "spark-submit")


@pytest.mark.skipif(not (shutil.which("spark-submit")
                         or Path(SPARK_SUBMIT).exists()),
                    reason="spark-submit not on PATH")
def test_quality_filter_via_spark_submit(spark, tmp_path, pages_parquet):
    from cloud_data_quality_spark.package import build_zip

    zip_path = build_zip(str(tmp_path / "cdq_spark.zip"))
    out, lineage = str(tmp_path / "kept"), str(tmp_path / "lineage")
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    # cwd=tmp_path so the repo checkout is NOT importable — imports must
    # resolve through the shipped zip
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path,
         str(REPO / "cloud_data_quality_spark" / "cli.py"),
         "quality-filter", "--input", pages_parquet,
         "--output", out, "--lineage", lineage,
         "--run-id", "submit-e2e", "--buckets", "4"],
        capture_output=True, text=True, timeout=480, cwd=str(tmp_path),
        env=env)
    assert res.returncode == 0, res.stderr[-3000:]
    stats = json.loads([ln for ln in res.stdout.splitlines()
                        if ln.startswith("{")][-1])
    assert stats["run_id"] == "submit-e2e"
    assert stats["processed_partitions"] == 4
    assert stats["rows_kept"] > 0

    kept = spark.read.parquet(out)
    assert kept.count() == stats["rows_kept"]
    lin = spark.read.parquet(lineage)
    assert lin.count() == 4  # one lineage row per bucket, single-scan wave


RETRY_DRIVER = '''
import json
import sys
from pathlib import Path

import pandas as pd

from cloud_data_quality_spark.config.loader import load_configs
from cloud_data_quality_spark.engine.runner import DqEngine
from cloud_data_quality_spark.functions.batch_registry import (
    register_batch_function,
)
from cloud_data_quality_spark.sources.session import get_spark

work = Path(sys.argv[1])


@register_batch_function("SHORT_VALUE")
def short_value(s: pd.Series, params: dict) -> pd.Series:
    """Valid when at most 12 characters; with ``flaky`` every task's first
    attempt leaves a marker and raises, so the task is retried."""
    from pyspark import TaskContext
    ctx = TaskContext.get()
    if params.get("flaky") and ctx.attemptNumber() == 0:
        (Path(params["markers"]) / f"p{ctx.partitionId()}").touch()
        raise RuntimeError("injected first-attempt failure")
    return (s.str.len() <= 12).where(s.notna(), None)


spark = get_spark(master="local[2,2]", shuffle_partitions=2)
rows = [(i, None if i % 7 == 0 else "v" * (i % 20), "ab"[i % 2])
        for i in range(2000)]
spark.createDataFrame(rows, "id bigint, value string, kind string") \\
    .repartition(4).write.parquet(str(work / "t.parquet"))

CONFIG = """
entities:
  T:
    table_name: "{path}"
    columns:
      ID: {{data_type: INT64}}
      VALUE: {{data_type: STRING}}
      KIND: {{data_type: STRING}}
row_filters:
  NONE: {{filter_sql_expr: "True"}}
  KIND_A: {{filter_sql_expr: "kind = 'a'"}}
rules:
  NOT_NULL_SIMPLE: {{rule_type: NOT_NULL}}
  SHORT:
    rule_type: CUSTOM_PANDAS_BATCH
    params: {{function: SHORT_VALUE, flaky: {flaky}, markers: "{markers}"}}
  LENGTH_ABOVE_2:
    rule_type: CUSTOM_SQL_EXPR
    params: {{custom_sql_expr: "LENGTH($column) > 2"}}
reference_columns:
  REFS: {{include_reference_columns: [id]}}
rule_bindings:
  RB_ALL:
    entity_id: T
    column_id: VALUE
    row_filter_id: NONE
    reference_columns_id: REFS
    rule_ids: [NOT_NULL_SIMPLE, SHORT, LENGTH_ABOVE_2]
  RB_A:
    entity_id: T
    column_id: VALUE
    row_filter_id: KIND_A
    rule_ids: [SHORT, LENGTH_ABOVE_2]
"""

(work / "markers").mkdir()
result = {}
for mode, flaky in (("clean", "false"), ("flaky", "true")):
    cfg = work / f"cfg_{mode}"
    cfg.mkdir()
    (cfg / "c.yml").write_text(CONFIG.format(
        path=work / "t.parquet", flaky=flaky, markers=work / "markers"))
    eng = DqEngine(spark, load_configs(cfg),
                   failed_records_path=str(work / f"failed_{mode}"))
    res = eng.run(["RB_ALL", "RB_A"], write_failed_records=True,
                  write_summary=False)
    counts = sorted(
        [r["rule_binding_id"], r["rule_id"], r["rows_validated"],
         r["success_count"], r["failed_count"], r["null_count"]]
        for r in res.summary.collect())
    failed = sorted(
        [r["_dq_validation_rule_binding_id"], r["_dq_validation_rule_id"],
         r["_dq_validation_column_value"],
         r["_dq_validation_reference_columns_json"]]
        for r in spark.read.parquet(str(work / f"failed_{mode}")).collect())
    result[mode] = {"counts": counts, "failed": failed}
result["markers"] = len(list((work / "markers").iterdir()))
print(json.dumps(result))
'''


@pytest.mark.skipif(not (shutil.which("spark-submit")
                         or Path(SPARK_SUBMIT).exists()),
                    reason="spark-submit not on PATH")
def test_entity_pass_counts_survive_task_retries(tmp_path):
    """Counts come from an Observation on the failed-records write: a batch
    rule whose every task fails its first attempt (local[2,2] allows one
    retry) must give exactly the clean run's summary counts and failed
    records — failed attempts' partial metrics are never merged."""
    from cloud_data_quality_spark.package import build_zip

    zip_path = build_zip(str(tmp_path / "cdq_spark.zip"))
    driver = tmp_path / "retry_driver.py"
    driver.write_text(RETRY_DRIVER)
    work = tmp_path / "work"
    work.mkdir()
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2,2]", "--driver-memory", "1g",
         "--py-files", zip_path, str(driver), str(work)],
        capture_output=True, text=True, timeout=480, cwd=str(tmp_path),
        env=env)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads([ln for ln in res.stdout.splitlines()
                      if ln.startswith("{")][-1])
    assert out["markers"] > 0  # the flaky run really retried tasks
    assert out["flaky"]["counts"] == out["clean"]["counts"]
    assert out["flaky"]["failed"] == out["clean"]["failed"]
    failed_total = sum(c[4] or 0 for c in out["clean"]["counts"])
    assert failed_total > 0
    assert len(out["clean"]["failed"]) == failed_total
