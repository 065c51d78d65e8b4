"""Driver-held rows reach Spark without a Python worker or a Spark job.

`sources/session.local_frame` is the package's one way to turn rows held
by the driver into a DataFrame: one JSON literal the JVM parses. Lineage
marks (`engine/incremental.append_lineage`) are parquet files the driver
writes through the Hadoop FS API."""

from __future__ import annotations

import ast
import struct
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F
from pyspark.sql import types as T

import cloud_data_quality_spark
from cloud_data_quality_spark.engine.incremental import (
    LINEAGE_SCHEMA,
    append_lineage,
    read_lineage,
)
from cloud_data_quality_spark.engine.summary import (
    SUMMARY_SCHEMA,
    RuleCounts,
    build_summary_row,
    summary_frame,
)
from cloud_data_quality_spark.functions.classifier import classifier_weights
from cloud_data_quality_spark.functions.dsir import dsir_weights
from cloud_data_quality_spark.functions.hosts import drop_blocklisted
from cloud_data_quality_spark.sources.session import local_frame


def _schema(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


class TestLocalFrameRoundTrip:
    def test_timestamps_keep_microseconds(self, spark):
        """Aware and naive timestamps come back as createDataFrame (and
        F.lit) bring them: the same instant to the microsecond."""
        schema = _schema(("ts", T.TimestampType()))
        rows = [
            (datetime(2026, 1, 2, 3, 4, 5, 123456, tzinfo=timezone.utc),),
            (datetime(2026, 1, 2, 3, 4, 5, 123456,
                      tzinfo=timezone(timedelta(hours=-7, minutes=-30))),),
            (datetime(1969, 12, 31, 23, 59, 59, 999999),),
            (datetime(2026, 7, 1, 12, 0, 0, 1),),
            (None,),
        ]
        got = local_frame(spark, rows, schema)
        assert got.schema == schema
        want = [None if r[0] is None else T.TimestampType().toInternal(r[0])
                for r in rows]
        assert [r["us"] for r in got.select(
            F.unix_micros("ts").alias("us")).collect()] == want
        assert got.collect() == spark.createDataFrame(rows, schema).collect()

    def test_null_in_every_summary_column(self, spark):
        got = local_frame(spark, [(None,) * len(SUMMARY_SCHEMA.fields)],
                          SUMMARY_SCHEMA)
        assert got.schema == SUMMARY_SCHEMA
        assert [tuple(r) for r in got.collect()] == [
            (None,) * len(SUMMARY_SCHEMA.fields)]

    def test_doubles_bit_for_bit(self, spark):
        values = [0.1 + 0.2, -0.0, 0.0, 5e-324, 2.2250738585072014e-308,
                  1.7976931348623157e308, -1 / 3, 1e-7, 123456789.12345679,
                  float("inf"), float("-inf"), float("nan")]
        got = local_frame(spark, [(i, v) for i, v in enumerate(values)],
                          _schema(("i", T.IntegerType()),
                                  ("v", T.DoubleType()))).collect()

        def bits(x: float) -> bytes:
            return struct.pack("<d", x)

        assert [bits(r["v"]) for r in sorted(got, key=lambda r: r["i"])] \
            == [bits(v) for v in values]

    def test_strings_survive_any_text(self, spark):
        """Statement SQL in failed_records_query and user metadata may
        hold quotes, backslashes, newlines and any Unicode."""
        values = ["", "it's \"quoted\"", "back\\slash \\n not a newline",
                  "line1\nline2\r\n\ttab", "ünïcødé — 中文 😀",
                  "  \x00\x1f", "{\"json\": [1, 2]}",
                  "SELECT * FROM t WHERE c = 'x\\'y'"]
        got = local_frame(spark, [(v,) for v in values],
                          _schema(("s", T.StringType())))
        assert [r["s"] for r in got.collect()] == values

    def test_integers_and_booleans(self, spark):
        schema = _schema(("b", T.BooleanType()), ("i", T.IntegerType()),
                         ("n", T.LongType()))
        rows = [(True, -2**31, -2**63), (False, 2**31 - 1, 2**63 - 1),
                (None, None, None)]
        assert [tuple(r) for r in local_frame(spark, rows, schema)
                .collect()] == rows

    def test_row_of_another_length_raises(self, spark):
        with pytest.raises(ValueError):
            local_frame(spark, [(1, 2)], _schema(("i", T.LongType())))

    def test_value_out_of_range_raises(self, spark):
        with pytest.raises(Exception, match="MALFORMED_RECORD"):
            local_frame(spark, [(2**31,)],
                        _schema(("i", T.IntegerType()))).collect()

    def test_empty_list_with_a_nested_schema(self, spark):
        schema = _schema(
            ("s", T.StructType([T.StructField("a", T.LongType()),
                                T.StructField("b", T.BinaryType())])),
            ("xs", T.ArrayType(T.StringType())),
            ("m", T.MapType(T.StringType(), T.DoubleType())),
            ("ts", T.TimestampType()))
        got = local_frame(spark, [], schema)
        assert got.schema == schema
        assert got.collect() == []

    @pytest.mark.parametrize("dtype", [
        T.ArrayType(T.LongType()), T.BinaryType(), T.DateType(),
        T.DecimalType(10, 2), T.TimestampNTZType()])
    def test_rows_of_other_types_raise_type_error(self, spark, dtype):
        with pytest.raises(TypeError, match="JSON literal"):
            local_frame(spark, [(None,)], _schema(("x", dtype)))

    def test_one_partition(self, spark):
        got = local_frame(spark, [(i,) for i in range(100)],
                          _schema(("i", T.LongType())))
        assert got.rdd.getNumPartitions() == 1
        assert sorted(r["i"] for r in got.collect()) == list(range(100))


def _summary_rows():
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    return [build_summary_row(
        counts=RuleCounts(rule_id=f"R{i}", dimension="validity",
                          skip_null_count=i % 2 == 0, is_statement=False,
                          column_id="c", success=9, failed=1, null=0,
                          failed_records_query="select 1"),
        rows_validated=10, rule_binding_id="B", table_id="t",
        metadata_json="{}", configs_hashsum="h", execution_ts=ts,
        invocation_id="inv", progress_watermark=True, last_modified=ts)
        for i in range(3)]


#: a frame from driver-held rows, for each package function that builds one
_FRAMES = {
    "summary_frame": lambda spark: summary_frame(spark, _summary_rows()),
    "dsir_weights": dsir_weights,
    "classifier_weights": classifier_weights,
    "drop_blocklisted": lambda spark: drop_blocklisted(
        spark.range(3).select(F.concat(F.lit("https://h"), F.col("id"),
                                       F.lit(".com/")).alias("url")),
        ["h1.com", "sub.h2.com"]),
}


@pytest.mark.parametrize("name", sorted(_FRAMES))
def test_executed_plan_reads_no_python_rdd(spark, name):
    """No ExistingRDD scan and no Python node: the frame's jobs start no
    Python worker."""
    df = _FRAMES[name](spark)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("ExistingRDD", "Python", "ArrowEval"):
        assert node not in plan, f"{name} plan holds {node}:\n{plan}"


def test_package_makes_no_create_dataframe_call():
    root = Path(cloud_data_quality_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                offenders.append(
                    f"{path.relative_to(root).as_posix()}:{node.lineno}")
    assert not offenders, (
        "build frames from driver-held rows with sources.session."
        "local_frame: " + ", ".join(offenders))


class TestLineageMarks:
    @staticmethod
    def _rows(run_id, keys):
        return [{"run_id": run_id, "part_key": k, "status": "committed",
                 "n_in": 10 * k, "n_kept": k, "finished_ts": 1.5 + k}
                for k in keys]

    def test_append_starts_no_job_and_leaves_no_temp_file(
            self, spark, tmp_path):
        path = str(tmp_path / "lineage")
        _, jobs = count_jobs(
            spark, f"lineage-{tmp_path}",
            lambda: [append_lineage(spark, path, self._rows("r", ks))
                     for ks in ([0, 1, 2], [3])])
        assert jobs == 0
        names = sorted(p.name for p in (tmp_path / "lineage").iterdir())
        assert not [n for n in names if n.endswith(".tmp")]
        assert len([n for n in names if n.endswith(".parquet")]) == 2
        got = read_lineage(spark, path, F.col("run_id") == "r")
        assert sorted((r.asDict() for r in got),
                      key=lambda r: r["part_key"]) \
            == self._rows("r", [0, 1, 2, 3])
        # plain parquet in the lineage types
        assert spark.read.parquet(path).schema == LINEAGE_SCHEMA

    def test_stray_hidden_temp_file_is_ignored(self, spark, tmp_path):
        """A crash before the rename leaves only a hidden file: the mark
        is absent and the lineage still reads."""
        path = tmp_path / "lineage"
        append_lineage(spark, str(path), self._rows("r", [0]))
        (path / ".x.tmp").write_bytes(b"not parquet")
        got = read_lineage(spark, str(path), F.lit(True))
        assert [(r["run_id"], r["part_key"]) for r in got] == [("r", 0)]
