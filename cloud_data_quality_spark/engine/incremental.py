"""Partition-granular checkpoint/resume for long quality-filter runs.

North-star requirement: "checkpointed so a killed run resumes at partition
granularity" with "per-partition lineage rows". The reference's resumability
is coarser — a high-watermark timestamp + MERGE idempotency on dq_run_id
(clouddq/lib.py:274-306, dq_summary.sql:15-26); this module generalizes it to
data partitions.

Mechanism (works on plain parquet; maps 1:1 onto Iceberg):
* the input is split into logical partitions by a partition expression
  (default: pmod(xxhash64(url), n_buckets) — at 100 TB you'd use the table's
  physical partitions, e.g. days(warc_ts), instead);
* all not-yet-committed partitions are processed in ONE pass: a single
  ``partitionBy("part_key")`` dynamic-overwrite write covers every remaining
  bucket, so the input is scanned exactly once per wave regardless of bucket
  count (round-1 shape re-scanned the input once per bucket — 64 buckets =
  64 full scans of a 100 TB table);
* per-partition row counts come from ``Observation`` metrics (one
  ``count_if(part_key = k)`` per bucket on both the input and output side of
  the transform), collected during the same write job — zero extra scans;
* after the write commits, one lineage row per bucket
  (run_id, part_key, status, n_in, n_kept, finished_ts) is appended —
  one parquet file per append, encoded on the driver and written through
  the Hadoop FS API, so a commit mark starts no Spark job
  (``append_lineage``);
* on restart with the same run_id, committed part_keys are excluded at plan
  time (``~part_key.isin(done)``) — with a partition-aligned key the scan
  prunes them physically too.

``part_key`` is this writer's: an input column of that name is overwritten
with the bucket. Curate's global units (engine/pipeline.py) drop it.

Commit granularity vs scan count is an explicit dial:
``partitions_per_commit=None`` (default) commits everything in one wave —
one scan, lineage lands only when the whole wave finishes.
``partitions_per_commit=k`` trades extra scans (⌈remaining/k⌉) for
finer-grained restart points; only worth it when the partition expression is
aligned with the table's physical layout so each wave's ``.isin`` filter
prunes the scan instead of re-reading everything — with an aligned
``partition_expr`` (e.g. the table's own ``days(warc_ts)`` column) the wave
filter verifiably lands in the FileScan's PartitionFilters (plan-pinned in
test_quality_filter.TestResume::test_partition_aligned_waves_prune_the_scan).

Atomicity note: parquet gives write-then-commit ordering (output before
lineage append), so a crash mid-wave re-processes that wave's partitions —
idempotent because the wave write sets dynamic partition overwrite as a
WRITER option, so it replaces exactly the directories it rewrites whatever
the caller's session mode, and the session's ``partitionOverwriteMode`` is
never touched. An aborted wave write commits no files and appends no
lineage. On Iceberg both writes share one transaction.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("part_key", T.IntegerType()),
    T.StructField("status", T.StringType()),
    T.StructField("n_in", T.LongType()),
    T.StructField("n_kept", T.LongType()),
    T.StructField("finished_ts", T.DoubleType()),
])

_AQE_EMPTY_RULE = ("org.apache.spark.sql.execution.adaptive."
                   "AQEPropagateEmptyRelation")
_AQE_EXCLUDE_KEY = "spark.sql.adaptive.optimizer.excludedRules"


@contextmanager
def preserve_observations(spark: SparkSession):
    """AQE's empty-relation propagation replaces the plan downstream of an
    empty shuffle stage with a LocalRelation — which silently DROPS
    CollectMetrics nodes, so Observation.get dies in toPyRow ('assertion
    failed') whenever a wave's transform filters out every row (e.g. C4
    cleaning a corpus with no terminal-punctuation lines). Scoped-exclude
    that single AQE rule around observed writes; the rest of AQE (coalesce,
    skew join) stays on. Restores the previous exclusion list on exit."""
    conf = spark.conf
    prev = conf.get(_AQE_EXCLUDE_KEY, None)
    merged = f"{prev},{_AQE_EMPTY_RULE}" if prev else _AQE_EMPTY_RULE
    conf.set(_AQE_EXCLUDE_KEY, merged)
    try:
        yield
    finally:
        if prev is None:
            conf.unset(_AQE_EXCLUDE_KEY)
        else:
            conf.set(_AQE_EXCLUDE_KEY, prev)


def append_lineage(spark: SparkSession, path: str, rows: list[dict]) -> None:
    """Append lineage rows (dicts keyed by the LINEAGE_SCHEMA names) as ONE
    parquet file, written by the driver: pyarrow encodes the rows with the
    Arrow form of LINEAGE_SCHEMA, the Hadoop FS API (file://, hdfs://,
    s3a://...) creates the hidden file ``.{name}.tmp``, which Spark's file
    index ignores, and renames it to ``part-<uuid>.parquet``. No Spark job
    and no Python worker runs. A crash before the rename leaves only the
    hidden file, so the mark is absent, as an aborted write job commits
    nothing; a failed rename raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(
        rows, schema=to_arrow_schema(LINEAGE_SCHEMA)), buf)
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"part-{uuid.uuid4().hex}.parquet"
    final = hadoop_path(path, name)
    tmp = hadoop_path(path, f".{name}.tmp")
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"lineage commit failed: cannot rename {tmp} to {final}")


def read_lineage(spark: SparkSession, path: str, where: Column) -> list[Row]:
    """The lineage rows at ``path`` that match ``where``, in one job.
    Hadoop-FS existence probe (works for file://, hdfs://, s3a://...)
    instead of catching a read exception keeps two failure modes distinct:
    a missing lineage table means 'first run' (no rows), but a lineage
    table that EXISTS and fails to read is corrupt state — silently
    returning no rows there would re-run and double-write every partition,
    so that error propagates."""
    from .sinks import _hadoop_path_exists
    if not _hadoop_path_exists(spark, path):
        return []
    return (spark.read.schema(LINEAGE_SCHEMA).parquet(path)
            .where(where).collect())


@dataclass
class ResumableResult:
    run_id: str
    processed_partitions: list[int]
    skipped_partitions: list[int]
    rows_in: int
    rows_kept: int
    # schema of the frame the last wave wrote (None when no wave ran)
    output_schema: StructType | None = None


class ResumableQualityRun:
    def __init__(
        self,
        spark: SparkSession,
        output_path: str,
        lineage_path: str,
        n_buckets: int = 16,
        partition_expr: str | None = None,
        partitions_per_commit: int | None = None,
    ):
        self.spark = spark
        self.output_path = output_path
        self.lineage_path = lineage_path
        self.n_buckets = n_buckets
        self.partition_expr = partition_expr or f"pmod(xxhash64(url), {n_buckets})"
        self.partitions_per_commit = partitions_per_commit

    def committed_partitions(self, run_id: str) -> set[int]:
        rows = read_lineage(self.spark, self.lineage_path,
                            (F.col("run_id") == run_id)
                            & (F.col("status") == "committed"))
        return {r["part_key"] for r in rows}

    def _keyed(self, df: DataFrame) -> DataFrame:
        return df.withColumn("part_key", F.expr(self.partition_expr).cast("int"))

    def wave_plan(
        self,
        df: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        wave: Sequence[int],
    ) -> tuple[DataFrame, Observation, Observation]:
        """Build the single-scan plan for one wave of partitions.

        Input-side and output-side per-bucket counts are attached as
        Observations so lineage needs no extra jobs. Exposed (not just
        inlined in run) so plan tests can assert the one-scan shape.

        CONTRACT on `transform`: the observed input subtree must execute
        exactly once in the write job — Observation metrics accumulate per
        evaluation, so a transform that consumes its input through MULTIPLE
        subtrees of one plan (e.g. a self-join dedup reading `keyed` twice
        without a persist/checkpoint barrier) double-counts n_in, as does
        `repartitionByRange` on it (its bounds sampling re-runs the subtree
        in the same plan). Filters, projections, Arrow-UDF stages,
        aggregations, and joins AGAINST OTHER tables are all fine;
        self-referencing plans must persist the input first (the cached
        scan evaluates once).
        """
        keyed = self._keyed(df).where(F.col("part_key").isin(list(wave)))
        obs_in, obs_out = Observation(), Observation()
        keyed = keyed.observe(
            obs_in, *[F.count_if(F.col("part_key") == k).alias(f"n_{k}")
                      for k in wave])
        out = transform(keyed)
        out = out.observe(
            obs_out, *[F.count_if(F.col("part_key") == k).alias(f"n_{k}")
                       for k in wave])
        return out, obs_in, obs_out

    def _run_wave(
        self,
        df: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        run_id: str,
        wave: Sequence[int],
    ) -> tuple[int, int, StructType]:
        out, obs_in, obs_out = self.wave_plan(df, transform, wave)
        # rows are clustered by bucket first: else every write task opens a
        # file in every bucket dir (tasks × buckets small files, 512 at
        # 32×16: measured ~1.6× slower, and they tax every later read).
        # Dynamic overwrite, a writer option (never the session's), replaces
        # only the wave's buckets.
        with preserve_observations(self.spark):
            (out.repartition(self.n_buckets, "part_key").write
             .mode("overwrite").option("partitionOverwriteMode", "dynamic")
             .partitionBy("part_key").parquet(self.output_path))
            n_in, n_kept = obs_in.get, obs_out.get
        ts = time.time()
        append_lineage(self.spark, self.lineage_path, [
            {"run_id": run_id, "part_key": k, "status": "committed",
             "n_in": n_in[f"n_{k}"], "n_kept": n_kept[f"n_{k}"],
             "finished_ts": ts}
            for k in wave
        ])
        return sum(n_in.values()), sum(n_kept.values()), out.schema

    def run(
        self,
        df: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        run_id: str,
        committed: set[int] | None = None,
    ) -> ResumableResult:
        """Process every partition of ``run_id`` not yet committed.
        ``committed`` is the caller's already-read set of committed
        partitions (a pipeline reads its lineage once per run); None reads
        it from the lineage table here."""
        done = (self.committed_partitions(run_id) if committed is None
                else committed)
        remaining = [p for p in range(self.n_buckets) if p not in done]
        skipped = sorted(done & set(range(self.n_buckets)))
        rows_in = rows_kept = 0
        processed: list[int] = []
        schema = None
        chunk = self.partitions_per_commit or len(remaining) or 1
        for i in range(0, len(remaining), chunk):
            wave = remaining[i:i + chunk]
            n_in, n_kept, schema = self._run_wave(df, transform, run_id, wave)
            rows_in += n_in
            rows_kept += n_kept
            processed.extend(wave)
        return ResumableResult(run_id, processed, skipped, rows_in, rows_kept,
                               schema)
