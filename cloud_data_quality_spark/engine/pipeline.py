"""Composed resumable curation pipeline: extract → filter → curate → dedup
→ pack as ONE restartable run.

The north rule asks for a killed run to "resume from checkpoint with
per-partition lineage"; engine/incremental.py provides that for a single
transform. Real corpus builds are multi-STAGE — each stage a different
operator family with different resume semantics:

* ``partition`` stages (extract, quality filter, scrub, per-doc scoring,
  packing within buckets) are embarrassingly partition-parallel →
  partition-granular resume via ResumableQualityRun, one lineage row per
  bucket.
* ``global`` stages (cross-partition exact/near dedup, per-host caps) need
  the whole input in one plan → stage-granular resume (the stage either
  committed or reruns; its write is an idempotent overwrite).

Composition contract:
* every execution UNIT (a stage, or a fused group of stages — see
  ``_fuse_units``) MATERIALIZES its output as parquet under
  ``{work_dir}/{idx:02d}_{name}/out`` — the explicit unit boundary is what
  makes resume possible AND caps lineage recomputation: a 5-stage pipeline
  over 100 TB never re-runs a finished unit's compute, it re-reads its
  (column-pruned) output. Adjacent narrow zero-shuffle stages do NOT
  deserve a boundary each — a parquet write+read per trivial Column
  rewrite is pure I/O tax at any scale — so partition-stage chains always
  merge (keeping wave resume), and
  ``PipelineStage(fuse_with_previous=True)`` lets the author fold a stage
  whose recompute is provably cheaper than its materialization into the
  preceding unit. The unit plan, and with it every resume key, depends on
  the stage list alone;
* stage i>0 reads stage i-1's committed output. ``part_key`` belongs to
  the pipeline: a partition unit overwrites any input column of that name
  with the bucket ``pmod(xxhash64(id_col), n_buckets)`` and writes
  ``partitionBy("part_key")``; a global unit drops it before its transform
  runs and, committing all-or-nothing, writes one plain overwrite. So a
  partition unit after a global unit gets the first unit's buckets, but
  its waves (``partitions_per_commit``) cannot prune the global output;
* a stage's completion is recorded in the shared pipeline lineage
  (``{work_dir}/lineage``) as one row per partition (partition stages) or
  one row with ``part_key = -1`` (global stages). Lineage is read once per
  run into a ledger (the run's rows only — units × buckets, not data); the
  ledger is the only resume source — never output-directory existence,
  which a half-written stage also has;
* the next unit reads a unit's output with the schema the unit just wrote
  (for a partition unit: data columns, then ``part_key``, as partition
  discovery orders it), so only a fully resumed unit pays a
  schema-inference job.

Reference basis: CloudDQ's resumability is a high-watermark + MERGE
idempotency on dq_run_id (clouddq/lib.py:274-306, dq_summary.sql:15-26);
this module is the north-star generalization to multi-stage corpus builds.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Literal, Sequence

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cloud_data_quality_spark.engine.incremental import (
    ResumableQualityRun,
    append_lineage,
    preserve_observations,
    read_lineage,
)
from cloud_data_quality_spark.sources.session import local_frame

GLOBAL_PART_KEY = -1

# unit run id -> that unit's lineage rows, as read at the start of a run
Ledger = dict[str, list[Row]]


@dataclass
class PipelineStage:
    """One stage of the composed pipeline.

    kind='partition': transform is applied per bucket wave (it must be
    per-partition closed — no cross-partition joins on the corpus itself;
    joins against OTHER tables, Arrow stages, filters are all fine).
    kind='global': transform sees the full stage input in one plan, less
    the pipeline's ``part_key`` bucket column.

    fuse_with_previous=True folds this stage into the PREVIOUS execution
    unit whatever the two stages' kinds — the author's statement
    that this stage's recompute is cheaper than a parquet materialization
    boundary (e.g. two adjacent cheap hygiene shuffles, or packing right
    after selection). A fused stage loses its own resume point: a crash
    inside the unit reruns the whole unit.
    """
    name: str
    transform: Callable[[DataFrame], DataFrame]
    kind: Literal["partition", "global"] = "partition"
    fuse_with_previous: bool = False


@dataclass
class StageResult:
    name: str
    kind: str
    output_path: str
    rows_in: int
    rows_out: int
    resumed: bool  # True if the whole stage was already committed
    seconds: float = 0.0  # wall time of this stage in THIS run (~0 if resumed)
    members: list[str] = field(default_factory=list)  # fused stage names


@dataclass
class PipelineResult:
    run_id: str
    stages: list[StageResult] = field(default_factory=list)

    @property
    def rows_out(self) -> int:
        return self.stages[-1].rows_out if self.stages else 0


class ResumableCurationPipeline:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        n_buckets: int = 16,
        partitions_per_commit: int | None = None,
        id_col: str = "url",
    ):
        self.spark = spark
        self.work_dir = work_dir.rstrip("/")
        self.n_buckets = n_buckets
        self.partitions_per_commit = partitions_per_commit
        self.id_col = id_col
        self.lineage_path = f"{self.work_dir}/lineage"

    # ---------- lineage ----------

    def _read_ledger(self, run_id: str) -> Ledger:
        """Every lineage row of ``run_id``'s units, in one job. The filter
        keeps the trailing '/' so run 'r1' never sees run 'r10's units."""
        ledger: Ledger = {}
        for r in read_lineage(self.spark, self.lineage_path,
                              F.col("run_id").startswith(f"{run_id}/")):
            ledger.setdefault(r["run_id"], []).append(r)
        return ledger

    def _stage_run_id(self, run_id: str, idx: int, name: str) -> str:
        return f"{run_id}/{idx:02d}_{name}"

    def _mark_stage(self, stage_run_id: str, n_in: int, n_out: int) -> None:
        append_lineage(self.spark, self.lineage_path, [
            {"run_id": stage_run_id, "part_key": GLOBAL_PART_KEY,
             "status": "stage_committed", "n_in": n_in, "n_kept": n_out,
             "finished_ts": time.time()}])

    # ---------- stage execution ----------

    def _stage_paths(self, run_id: str, idx: int, name: str) -> str:
        # run_id in the path: stage outputs from DIFFERENT runs must never
        # share a directory — dynamic partition overwrite only replaces the
        # partitions the new run writes, so a shared dir would leak a
        # previous run's rows into any bucket the new run leaves empty
        return f"{self.work_dir}/{run_id}/{idx:02d}_{name}"

    def _run_partition_stage(
        self, df: DataFrame, stage: PipelineStage, idx: int, run_id: str,
        ledger: Ledger,
    ) -> tuple[StageResult, StructType | None]:
        base = self._stage_paths(run_id, idx, stage.name)
        runner = ResumableQualityRun(
            self.spark,
            output_path=f"{base}/out",
            lineage_path=self.lineage_path,
            n_buckets=self.n_buckets,
            partition_expr=f"pmod(xxhash64({self.id_col}), {self.n_buckets})",
            partitions_per_commit=self.partitions_per_commit,
        )
        stage_run_id = self._stage_run_id(run_id, idx, stage.name)
        prior = [r for r in ledger.get(stage_run_id, ())
                 if r["status"] == "committed"]
        already = {r["part_key"] for r in prior}
        res = runner.run(df, stage.transform, run_id=stage_run_id,
                         committed=already)
        # report whole-stage totals (earlier commits + this run's waves),
        # not this process's delta — a resumed stage would otherwise claim
        # rows_in/rows_out 0
        return StageResult(
            name=stage.name, kind="partition", output_path=f"{base}/out",
            rows_in=sum(r["n_in"] for r in prior) + res.rows_in,
            rows_out=sum(r["n_kept"] for r in prior) + res.rows_kept,
            resumed=len(already) == self.n_buckets), res.output_schema

    def _run_global_stage(
        self, df: DataFrame, stage: PipelineStage, idx: int, run_id: str,
        ledger: Ledger, n_in: int | None,
    ) -> tuple[StageResult, StructType | None]:
        base = self._stage_paths(run_id, idx, stage.name)
        out_path = f"{base}/out"
        stage_run_id = self._stage_run_id(run_id, idx, stage.name)
        prior = [r for r in ledger.get(stage_run_id, ())
                 if r["status"] == "stage_committed"]
        if prior:
            return StageResult(stage.name, "global", out_path,
                               rows_in=prior[0]["n_in"],
                               rows_out=prior[0]["n_kept"],
                               resumed=True), None
        obs_in, obs_out = Observation(), Observation()
        df = df.drop("part_key")
        # a later unit reads exactly the previous unit's rows_out; only a
        # first unit observes its input (when that count is true: wave_plan)
        if n_in is None:
            df = df.observe(obs_in, F.count(F.lit(1)).alias("n"))
        # the transform CALL must sit inside preserve_observations too: a
        # transform with eager internal jobs (selection's prefix-sum pass,
        # a checkpoint) executes the observed input subtree right there —
        # on an empty corpus AQE would drop the CollectMetrics during
        # those jobs, long before the guarded write
        with preserve_observations(self.spark):
            out = stage.transform(df).observe(
                obs_out, F.count(F.lit(1)).alias("n"))
            out.write.mode("overwrite").parquet(out_path)
        n_in = obs_in.get["n"] if n_in is None else n_in
        n_out = obs_out.get["n"]
        self._mark_stage(stage_run_id, n_in, n_out)
        return StageResult(stage.name, "global", out_path, n_in, n_out,
                           resumed=False), out.schema

    def _stage_output_frame(self, stage: PipelineStage, input_df: DataFrame,
                            output_path: str,
                            written: StructType | None) -> DataFrame:
        """Stage output for the next stage. A unit that ran in this process
        passes ``written``, the schema of the frame it wrote: reading with
        it needs no inference job (Spark still moves the part_key
        partition column last, as inference does), also when the unit
        dropped every row and left no parquet files. A fully resumed unit
        infers the schema, which a global unit's plain write keeps even for
        zero rows; an empty partitioned write keeps none, so the frame is
        rebuilt from the partition transform's ANALYZED schema."""
        if written is not None:
            return self.spark.read.schema(written).parquet(output_path)
        if stage.kind == "global":
            return self.spark.read.parquet(output_path)
        from pyspark.errors import AnalysisException
        try:
            return self.spark.read.parquet(output_path)
        except AnalysisException:
            probe = input_df.withColumn("part_key", F.lit(0).cast("int"))
            return local_frame(self.spark, [],
                               stage.transform(probe).schema)

    # ---------- fusion ----------

    @staticmethod
    def _fuse_units(
        stages: Sequence[PipelineStage],
    ) -> list[list[PipelineStage]]:
        """Group stages into execution units (each unit = one lineage
        entry + one materialization). A stage joins the preceding unit
        when it is marked fuse_with_previous, or when it and every member
        of that unit are PARTITION stages: adjacent narrow zero-shuffle
        rewrites share one codegen'd plan and one parquet write, and the
        merged unit KEEPS partition-granular wave resume. The first stage
        always opens a unit."""
        units: list[list[PipelineStage]] = []
        for s in stages:
            join = bool(units) and (
                s.fuse_with_previous
                or (s.kind == "partition"
                    and all(m.kind == "partition" for m in units[-1])))
            if join:
                units[-1].append(s)
            else:
                units.append([s])
        return units

    def _unit_stage(
        self, members: list[PipelineStage],
    ) -> tuple[PipelineStage, list[DataFrame]]:
        """One PipelineStage representing a fused unit. The composed
        transform inserts ONE persist(MEMORY_AND_DISK) barrier: between
        the narrow (partition-kind) prefix and the first global member.
        Global transforms routinely scan their input more than once
        (span-dedup's join-back, dedup's survivor semi-join), and a narrow
        prefix — often an Arrow UDF chain with no Exchange — would execute
        once per scan without the barrier. Between GLOBAL members no
        barrier is needed: a global member's output subtree contains an
        Exchange, and Catalyst's ReusedExchange dedups repeated scans of
        an identical shuffle within the unit's one write job. persist (not
        localCheckpoint) keeps the lineage: an executor loss recomputes
        the lost blocks instead of failing the unit. The pinned frames are
        returned for unpersist after the unit's write."""
        if len(members) == 1:
            return members[0], []
        from pyspark import StorageLevel
        pinned: list[DataFrame] = []

        def composed(d: DataFrame) -> DataFrame:
            out = d
            for i, m in enumerate(members):
                if (m.kind == "global" and i > 0 and not pinned
                        and all(p.kind == "partition" for p in members[:i])):
                    out = out.persist(StorageLevel.MEMORY_AND_DISK)
                    pinned.append(out)
                out = m.transform(out)
            return out

        kind = ("partition"
                if all(m.kind == "partition" for m in members) else "global")
        name = "+".join(m.name for m in members)
        return PipelineStage(name, composed, kind=kind), pinned

    # ---------- pipeline ----------

    def run(
        self,
        df: DataFrame,
        stages: Sequence[PipelineStage],
        run_id: str,
    ) -> PipelineResult:
        """Execute (or resume) the staged pipeline. Stages are grouped
        into units by _fuse_units; resume keys include the unit name, so
        they follow from the stage list alone. A run that fails inside a
        unit leaves that unit's committed waves (partition units) in the
        lineage; rerunning with the same ``run_id`` skips every committed
        unit and wave."""
        if not stages:
            raise ValueError("pipeline needs at least one stage")
        names = [s.name for s in stages]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate stage names: {names}")
        result = PipelineResult(run_id=run_id)
        ledger = self._read_ledger(run_id)
        current = df
        for idx, members in enumerate(self._fuse_units(stages)):
            stage, pinned = self._unit_stage(members)
            t0 = time.perf_counter()
            try:
                if stage.kind == "partition":
                    res, written = self._run_partition_stage(
                        current, stage, idx, run_id, ledger)
                elif stage.kind == "global":
                    res, written = self._run_global_stage(
                        current, stage, idx, run_id, ledger,
                        result.stages[-1].rows_out if result.stages else None)
                else:
                    raise ValueError(f"unknown stage kind {stage.kind!r}")
            finally:
                for f in pinned:
                    f.unpersist()
                pinned.clear()
            res.seconds = round(time.perf_counter() - t0, 3)
            res.members = [m.name for m in members]
            result.stages.append(res)
            current = self._stage_output_frame(stage, current,
                                               res.output_path, written)
        return result
