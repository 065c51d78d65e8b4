"""Sink contract: every SummarySink gives idempotent re-runs (one logical
row per dq_run_id), matching the reference's MERGE-on-dq_run_id semantics
(dq_summary.sql:15-26)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_data_quality_spark.engine.sinks import (
    CompactingParquetSink,
    MergeIntoSink,
    ParquetAppendSink,
)

SCHEMA = "dq_run_id string, rule_binding_id string, failed_count bigint, execution_ts timestamp"


def _rows(spark, run_id, failed, ts):
    return spark.createDataFrame(
        [(run_id, "RB_A", failed, ts)], schema=SCHEMA)


@pytest.mark.parametrize("sink_cls", [ParquetAppendSink, CompactingParquetSink])
class TestSinkContract:
    def test_rerun_same_run_id_is_one_logical_row(self, spark, tmp_path,
                                                  sink_cls):
        sink = sink_cls(str(tmp_path / "dq_summary"))
        import datetime as dt
        t1 = dt.datetime(2026, 1, 1)
        t2 = dt.datetime(2026, 1, 2)
        sink.write(_rows(spark, "run1", 5, t1))
        sink.write(_rows(spark, "run1", 7, t2))   # re-run, newer
        sink.write(_rows(spark, "run2", 1, t1))
        out = sink.read(spark, deduped=True)
        rows = {r["dq_run_id"]: r["failed_count"] for r in out.collect()}
        assert rows == {"run1": 7, "run2": 1}     # latest wins, run2 intact

    def test_exists_probe(self, spark, tmp_path, sink_cls):
        """exists() distinguishes 'no prior run' from 'corrupt store' without
        a read attempt — a failed read logs a ~70-line JVM stack even when
        Python catches it, and a broad except would silently turn corrupt
        state into a full re-scan."""
        sink = sink_cls(str(tmp_path / "dq_summary3"))
        assert sink.exists(spark) is False
        import datetime as dt
        sink.write(_rows(spark, "r", 1, dt.datetime(2026, 1, 1)))
        assert sink.exists(spark) is True

    def test_corrupt_store_read_propagates(self, spark, tmp_path, sink_cls):
        """A store that EXISTS but cannot be read raises — high_watermark
        must not swallow it into an EPOCH (silent full re-scan forever)."""
        import datetime as dt
        sink = sink_cls(str(tmp_path / "dq_corrupt"))
        sink.write(_rows(spark, "r", 1, dt.datetime(2026, 1, 1)))
        # corrupt every parquet data file in place
        import pathlib
        for f in pathlib.Path(tmp_path / "dq_corrupt").rglob("*.parquet"):
            f.write_bytes(b"not a parquet file")
        assert sink.exists(spark) is True
        with pytest.raises(Exception):
            sink.read(spark, deduped=False).collect()

    def test_raw_read_shape(self, spark, tmp_path, sink_cls):
        sink = sink_cls(str(tmp_path / "dq_summary2"))
        import datetime as dt
        sink.write(_rows(spark, "r", 1, dt.datetime(2026, 1, 1)))
        sink.write(_rows(spark, "r", 2, dt.datetime(2026, 1, 2)))
        raw = sink.read(spark, deduped=False).count()
        if sink_cls is ParquetAppendSink:
            assert raw == 2   # append log keeps history
        else:
            assert raw == 1   # compaction stores one physical row


class TestSinkBase:
    def test_exists_has_no_fallback(self):
        """exists() is abstract: a base fallback that turns any read error
        into 'no store' would reset every incremental watermark to EPOCH
        on a store that exists but cannot be read."""
        from cloud_data_quality_spark.engine.sinks import SummarySink

        class ReadWriteOnly(SummarySink):
            def write(self, summary):
                pass

            def read(self, spark, deduped=True):
                pass

        with pytest.raises(TypeError, match="exists"):
            ReadWriteOnly()


class TestCompactingSinkPhysical:
    def test_one_physical_row_per_run_id(self, spark, tmp_path):
        sink = CompactingParquetSink(str(tmp_path / "dq_summary3"))
        import datetime as dt
        for i in range(3):
            sink.write(_rows(spark, "same", i, dt.datetime(2026, 1, 1 + i)))
        live = sink.current_version_path()
        assert spark.read.parquet(live).count() == 1
        assert spark.read.parquet(live).collect()[0]["failed_count"] == 2

    def test_crash_before_pointer_flip_leaves_old_version_live(
            self, spark, tmp_path, monkeypatch):
        """A writer dying between staging the new version and flipping the
        pointer must leave readers on the old, complete version — the
        atomicity property the two-rename directory swap lacked."""
        import datetime as dt
        import os as _os
        sink = CompactingParquetSink(str(tmp_path / "dq_summary4"))
        sink.write(_rows(spark, "r", 1, dt.datetime(2026, 1, 1)))
        before = sink.current_version_path()

        def boom(src, dst):
            raise OSError("simulated crash at the flip")
        monkeypatch.setattr("cloud_data_quality_spark.engine.sinks.os.replace",
                            boom)
        with pytest.raises(OSError, match="simulated crash"):
            sink.write(_rows(spark, "r", 99, dt.datetime(2026, 1, 2)))
        monkeypatch.undo()
        assert sink.current_version_path() == before
        assert sink.read(spark).collect()[0]["failed_count"] == 1
        # and the next successful write self-heals (sweeps the orphan)
        sink.write(_rows(spark, "r", 2, dt.datetime(2026, 1, 3)))
        assert sink.read(spark).collect()[0]["failed_count"] == 2
        _ = _os  # silence unused-import lint

    def test_previous_version_survives_one_cycle(self, spark, tmp_path):
        """In-flight readers that resolved the pointer just before a flip
        still have their files: the immediately-previous version is kept."""
        import datetime as dt
        from pathlib import Path
        sink = CompactingParquetSink(str(tmp_path / "dq_summary5"))
        sink.write(_rows(spark, "r", 1, dt.datetime(2026, 1, 1)))
        v1 = sink.current_version_path()
        sink.write(_rows(spark, "r", 2, dt.datetime(2026, 1, 2)))
        v2 = sink.current_version_path()
        assert Path(v1).exists() and Path(v2).exists()
        sink.write(_rows(spark, "r", 3, dt.datetime(2026, 1, 3)))
        assert not Path(v1).exists()  # two flips later: swept
        assert Path(v2).exists()


class TestMergeIntoSink:
    def test_merge_sql_shape(self):
        s = MergeIntoSink("iceberg_cat.db.dq_summary")
        sql = s.merge_sql("updates_v")
        assert "MERGE INTO iceberg_cat.db.dq_summary t" in sql
        assert "ON t.dq_run_id = u.dq_run_id" in sql
        assert "WHEN MATCHED THEN UPDATE SET *" in sql
        assert "WHEN NOT MATCHED THEN INSERT *" in sql

    def test_unavailable_catalog_raises_cleanly(self, spark, tmp_path):
        """No Iceberg/Delta jars in this container: the sink must refuse with
        a clear message, not fail deep inside Spark."""
        sink = MergeIntoSink("nocat.db.dq_summary")
        assert not MergeIntoSink.available(spark, "nocat.db.dq_summary")
        import datetime as dt
        with pytest.raises(RuntimeError, match="no v2 catalog"):
            sink.write(_rows(spark, "r", 1, dt.datetime(2026, 1, 1)))


class TestEngineThroughSink:
    def test_engine_with_compacting_sink(self, spark, contact_registry,
                                         tmp_path):
        from cloud_data_quality_spark.engine.runner import DqEngine
        from datetime import datetime, timezone
        ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
        sink = CompactingParquetSink(str(tmp_path / "dq_summary_eng"))
        eng = DqEngine(spark, contact_registry, summary_path="unused",
                       summary_sink=sink)
        eng.run(["T1_VALUE_NOT_NULL"], execution_ts=ts)
        eng.run(["T1_VALUE_NOT_NULL"], execution_ts=ts)  # same dq_run_id
        assert spark.read.parquet(
            sink.current_version_path()).count() == 1    # physically merged
        assert eng.read_summary(deduped=True).count() == 1
