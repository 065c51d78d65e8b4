"""Pluggable dq_summary metrics sinks.

The reference's summary contract is an incremental MERGE keyed on dq_run_id
(clouddq/templates/dbt/models/data_quality_engine/dq_summary.sql:15-26 —
`when matched update, when not matched insert`), giving idempotent re-runs.
This module abstracts that behind a SummarySink so the storage strategy is a
deployment choice:

* ParquetAppendSink — sandbox default: append-only parquet + MERGE-emulation
  on read (keep latest row per dq_run_id). O(1) write, dedupe cost deferred
  to readers; at scale the append log is periodically compacted.
* MergeIntoSink — the real thing: `MERGE INTO <table> ON dq_run_id` against
  an Iceberg/Delta catalog table. Requires the corresponding runtime jars;
  `available()` probes the session so callers can fall back cleanly (this
  container ships neither, so the branch is exercised only for SQL-shape
  correctness + the availability gate).
* CompactingParquetSink — MERGE *semantics* on plain parquet: stage
  (existing ⟕ anti-join new) ∪ new, then atomically swap directories. One
  physical row per dq_run_id, readable with no dedupe — the right default
  for a summary table that is read far more often than written. The rewrite
  is O(table), fine for metrics tables (rows ≈ bindings × rules × runs, not
  data-sized).
"""

from __future__ import annotations

import os
import shutil
import uuid
from abc import ABC, abstractmethod
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _latest_per_run(df: DataFrame) -> DataFrame:
    """MERGE-on-dq_run_id emulation: keep the newest row per dq_run_id."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("dq_run_id").orderBy(F.col("execution_ts").desc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (file://, hdfs://, s3a://...). Probing
    instead of catching a read exception keeps 'first run, store not created
    yet' distinct from 'store exists but is corrupt' — and avoids the
    ~70-line JVM stack the JVM logs for a failed read even when Python
    catches it."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath)


class SummarySink(ABC):
    @abstractmethod
    def write(self, summary: DataFrame) -> None:
        """Upsert this run's summary rows (idempotent on dq_run_id)."""

    @abstractmethod
    def read(self, spark: SparkSession, deduped: bool = True) -> DataFrame:
        """Read the metrics table; deduped=True guarantees one logical row
        per dq_run_id regardless of the sink's physical strategy."""

    @abstractmethod
    def exists(self, spark: SparkSession) -> bool:
        """Whether the backing store has been created, by a cheap probe
        that never reads the data. Callers use this to tell 'no prior run'
        (EPOCH watermark) from a store that exists but cannot be read,
        which read() must surface loudly."""


class ParquetAppendSink(SummarySink):
    def __init__(self, path: str):
        self.path = path

    def write(self, summary: DataFrame) -> None:
        summary.write.mode("append").parquet(self.path)

    def read(self, spark: SparkSession, deduped: bool = True) -> DataFrame:
        df = spark.read.parquet(self.path)
        return _latest_per_run(df) if deduped else df

    def exists(self, spark: SparkSession) -> bool:
        return _hadoop_path_exists(spark, self.path)


class CompactingParquetSink(SummarySink):
    """Physical MERGE semantics on plain parquet via versioned directories +
    an atomically-replaced pointer file.

    write() stages a full rewrite into `<path>/v_<uuid>/`, then flips
    `<path>/_CURRENT` (a one-line pointer file) with os.replace — atomic on
    POSIX, so readers resolving the pointer ALWAYS see one complete version;
    there is no window where the table doesn't exist (a two-rename directory
    swap has one, and a crash inside it strands the table under a backup
    name). A crash before the flip leaves the old version live and only an
    orphan staging dir behind; orphans and superseded versions are swept on
    the next successful write, except the immediately-previous version,
    which is kept one cycle so in-flight readers that resolved the pointer
    just before a flip finish their scan.

    Single WRITER assumed (last flip wins); concurrent writers need the real
    MergeIntoSink's catalog transaction."""

    def __init__(self, path: str):
        self.path = path

    def _pointer(self) -> Path:
        return Path(self.path) / "_CURRENT"

    def current_version_path(self) -> str | None:
        """Absolute path of the live version dir, or None before first write."""
        ptr = self._pointer()
        if not ptr.exists():
            return None
        return str(Path(self.path) / ptr.read_text().strip())

    def write(self, summary: DataFrame) -> None:
        spark = summary.sparkSession
        previous = self.current_version_path()
        if previous is not None:
            existing = spark.read.parquet(previous)
            run_ids = summary.select("dq_run_id").distinct()
            kept = existing.join(F.broadcast(run_ids), "dq_run_id",
                                 "left_anti")
            merged = kept.unionByName(summary)
        else:
            merged = summary
        version = f"v_{uuid.uuid4().hex}"
        root = Path(self.path)
        root.mkdir(parents=True, exist_ok=True)
        merged.write.mode("overwrite").parquet(str(root / version))
        tmp = root / f"_CURRENT.tmp.{version}"
        tmp.write_text(version)
        os.replace(tmp, self._pointer())  # the atomic flip
        keep = {version, Path(previous).name if previous else None}
        for d in root.glob("v_*"):
            if d.name not in keep and d.is_dir():
                shutil.rmtree(d, ignore_errors=True)
        for leftover in root.glob("_CURRENT.tmp.*"):
            leftover.unlink(missing_ok=True)

    def read(self, spark: SparkSession, deduped: bool = True) -> DataFrame:
        current = self.current_version_path()
        if current is None:
            raise FileNotFoundError(
                f"CompactingParquetSink at {self.path!r}: no version written yet")
        return spark.read.parquet(current)  # already one row per dq_run_id

    def exists(self, spark: SparkSession) -> bool:
        return self.current_version_path() is not None


class MergeIntoSink(SummarySink):
    """`MERGE INTO <table> t USING <updates> u ON t.dq_run_id = u.dq_run_id`
    against a row-level-ops-capable catalog table (Iceberg, Delta). The SQL
    mirrors dq_summary.sql:15-26. On Iceberg the write is a single
    serializable transaction — this is the 100 TB production sink."""

    def __init__(self, table: str):
        self.table = table

    @staticmethod
    def available(spark: SparkSession, table: str) -> bool:
        """True iff `table`'s catalog supports MERGE INTO (probed, not
        assumed — the sandbox ships neither Iceberg nor Delta jars)."""
        try:
            cat = table.split(".")[0] if "." in table else "spark_catalog"
            impl = spark.conf.get(f"spark.sql.catalog.{cat}", None)
            return impl is not None
        except Exception:
            return False

    def merge_sql(self, updates_view: str) -> str:
        return (
            f"MERGE INTO {self.table} t USING {updates_view} u "
            f"ON t.dq_run_id = u.dq_run_id "
            f"WHEN MATCHED THEN UPDATE SET * "
            f"WHEN NOT MATCHED THEN INSERT *"
        )

    def write(self, summary: DataFrame) -> None:
        spark = summary.sparkSession
        if not self.available(spark, self.table):
            raise RuntimeError(
                f"MergeIntoSink: no v2 catalog configured for {self.table!r} "
                f"(Iceberg/Delta jars + spark.sql.catalog.* conf required); "
                f"use CompactingParquetSink or ParquetAppendSink instead")
        if not spark.catalog.tableExists(self.table):
            summary.writeTo(self.table).create()
            return
        view = f"__dq_summary_updates_{uuid.uuid4().hex}"
        summary.createOrReplaceTempView(view)
        try:
            spark.sql(self.merge_sql(view))
        finally:
            spark.catalog.dropTempView(view)

    def read(self, spark: SparkSession, deduped: bool = True) -> DataFrame:
        return spark.table(self.table)

    def exists(self, spark: SparkSession) -> bool:
        return (self.available(spark, self.table)
                and spark.catalog.tableExists(self.table))
