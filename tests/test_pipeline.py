"""Composed resumable curation pipeline: staging, crash/resume, parity."""

from __future__ import annotations

import dataclasses

import pytest
from conftest import (
    INJECTED_FAULT,
    OVERWRITE_MODE,
    count_jobs,
    fail_on_bucket,
    fail_on_part_key,
)
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from cloud_data_quality_spark.engine.pipeline import (
    PipelineStage,
    ResumableCurationPipeline,
)


def _quality(df):
    from cloud_data_quality_spark.operators.quality_filter import (
        annotate_quality_arrow)
    ann = annotate_quality_arrow(df, with_perplexity=False)
    return ann.where("keep").select(*df.columns)


def _cap_hosts(df):
    from cloud_data_quality_spark.functions.hosts import cap_per_host
    return cap_per_host(df, 50, order_col="url").drop("host")


def _exact_dedup(df):
    from cloud_data_quality_spark.functions.text import fingerprint
    from pyspark.sql.window import Window
    w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("url")
    return (df.withColumn("__r", F.row_number().over(w))
            .where("__r = 1").drop("__r"))


STAGES = [
    PipelineStage("quality", _quality, kind="partition"),
    PipelineStage("host_cap", _cap_hosts, kind="global"),
    PipelineStage("dedup", _exact_dedup, kind="global"),
]


@pytest.fixture(scope="module")
def pages(spark, pages_parquet):
    return spark.read.parquet(pages_parquet)


def _expected(pages):
    """Uninterrupted single-plan restatement of the staged pipeline."""
    return _exact_dedup(_cap_hosts(_quality(pages)))


def _faulty(stages, name, k, n_buckets=8):
    """``stages`` with stage ``name``'s transform failing on the rows of
    bucket k: on part_key k in a partition stage, on the same rows by
    their id hash in a global stage, which sees no part_key."""
    def fail(s):
        if s.kind == "global":
            return fail_on_bucket(s.transform, k, n_buckets)
        return fail_on_part_key(s.transform, k)
    return [dataclasses.replace(s, transform=fail(s))
            if s.name == name else s for s in stages]


def _committed(pipe, run_id, unit):
    """Buckets of ``unit`` that the lineage records as committed."""
    return {r["part_key"] for r in pipe._read_ledger(run_id)
            .get(f"{run_id}/{unit}", ()) if r["status"] == "committed"}


class TestComposedPipeline:
    def test_end_to_end_matches_unstaged(self, spark, pages, tmp_path):
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=8)
        res = pipe.run(pages, STAGES, run_id="r1")
        assert [s.name for s in res.stages] == ["quality", "host_cap", "dedup"]
        got = sorted(r["url"] for r in
                     spark.read.parquet(res.stages[-1].output_path)
                     .select("url").collect())
        want = sorted(r["url"] for r in
                      _expected(pages).select("url").collect())
        assert got == want
        assert res.rows_out == len(want)
        # monotone narrowing + bookkeeping consistency
        assert res.stages[0].rows_in == pages.count()
        assert res.stages[0].rows_out >= res.stages[1].rows_out \
            >= res.stages[2].rows_out

    def test_crash_in_partition_stage_resumes(self, spark, pages, tmp_path):
        work = str(tmp_path / "w2")
        pipe = ResumableCurationPipeline(spark, work, n_buckets=8,
                                         partitions_per_commit=2)
        # waves [0,1] and [2,3] commit; wave [4,5]'s write job aborts
        with pytest.raises(SparkRuntimeException, match=INJECTED_FAULT):
            pipe.run(pages, _faulty(STAGES, "quality", 5), run_id="r2")
        assert _committed(pipe, "r2", "00_quality") == {0, 1, 2, 3}
        res = pipe.run(pages, STAGES, run_id="r2")
        q = res.stages[0]
        assert not q.resumed  # partially done, finished now
        got = sorted(r["url"] for r in
                     spark.read.parquet(res.stages[-1].output_path)
                     .select("url").collect())
        want = sorted(r["url"] for r in
                      _expected(pages).select("url").collect())
        assert got == want

    def test_crash_in_global_stage_resumes(self, spark, pages, tmp_path):
        work = str(tmp_path / "w3")
        pipe = ResumableCurationPipeline(spark, work, n_buckets=8)
        with pytest.raises(SparkRuntimeException, match=INJECTED_FAULT):
            pipe.run(pages, _faulty(STAGES, "host_cap", 0), run_id="r3")
        res = pipe.run(pages, STAGES, run_id="r3")
        assert res.stages[0].resumed        # quality fully committed pre-crash
        assert not res.stages[1].resumed    # host_cap ran this time
        got = spark.read.parquet(res.stages[-1].output_path).count()
        assert got == _expected(pages).count()

    def test_rerun_is_fully_resumed_and_cheap(self, spark, pages, tmp_path):
        work = str(tmp_path / "w4")
        pipe = ResumableCurationPipeline(spark, work, n_buckets=8)
        first = pipe.run(pages, STAGES, run_id="r4")
        again = pipe.run(pages, STAGES, run_id="r4")
        assert all(s.resumed for s in again.stages)
        # resumed global stages report their original lineage counts
        assert again.stages[1].rows_out == first.stages[1].rows_out
        assert again.stages[2].rows_out == first.stages[2].rows_out

    def test_distinct_run_ids_isolated(self, spark, pages, tmp_path):
        work = str(tmp_path / "w5")
        pipe = ResumableCurationPipeline(spark, work, n_buckets=8)
        pipe.run(pages, STAGES, run_id="a")
        res_b = pipe.run(pages, STAGES, run_id="b")
        assert not any(s.resumed for s in res_b.stages)

    def test_duplicate_stage_names_rejected(self, spark, pages, tmp_path):
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w6"))
        with pytest.raises(ValueError, match="duplicate"):
            pipe.run(pages, [STAGES[0], STAGES[0]], run_id="x")

    def test_downstream_partition_stage_rebuckets_by_id(
            self, spark, pages, tmp_path):
        """A partition stage after a global unit, whose output carries no
        part_key, buckets by the same id hash as the first unit, so every
        row lands in the bucket it had there."""
        stages = [
            PipelineStage("quality", _quality, kind="partition"),
            PipelineStage("dedup", _exact_dedup, kind="global"),
            PipelineStage("mark", lambda d: d.withColumn(
                "n_words", F.size(F.split("text", " "))), kind="partition"),
        ]
        work = str(tmp_path / "w7")
        pipe = ResumableCurationPipeline(spark, work, n_buckets=8,
                                         partitions_per_commit=4)
        res = pipe.run(pages, stages, run_id="r7")
        assert [s.name for s in res.stages] == ["quality", "dedup", "mark"]
        assert res.stages[2].rows_in == res.stages[1].rows_out
        assert "part_key" not in \
            spark.read.parquet(res.stages[1].output_path).columns
        out = spark.read.parquet(res.stages[2].output_path)
        assert "n_words" in out.columns and "part_key" in out.columns
        # bucket assignment consistent across the stages: every url in
        # the last stage's bucket k came from the first stage's bucket k
        a = {r["url"]: r["part_key"] for r in
             spark.read.parquet(res.stages[0].output_path)
             .select("url", "part_key").collect()}
        b = {r["url"]: r["part_key"] for r in
             out.select("url", "part_key").collect()}
        # dedup drops rows, so the last stage holds a subset of the urls
        assert len(b) == res.stages[1].rows_out > 0
        assert b.items() <= a.items()


def _mark_words(df):
    return df.withColumn("n_words", F.size(F.split("text", " ")))


class TestPartKeyStaysInPartitionUnits:
    """part_key belongs to the pipeline: partition units bucket by the id
    hash and write it; global units neither see nor write it."""

    def test_no_global_transform_sees_part_key(self, spark, pages,
                                               tmp_path):
        seen = []

        def record(name, transform):
            def run(d):
                seen.append((name, "part_key" in d.columns))
                return transform(d)
            return run

        stages = [
            PipelineStage("quality", _quality, kind="partition"),
            PipelineStage("host_cap", record("host_cap", _cap_hosts),
                          kind="global"),
            PipelineStage("mark", record("mark", _mark_words),
                          kind="partition"),
            PipelineStage("dedup", record("dedup", _exact_dedup),
                          kind="global", fuse_with_previous=True),
        ]
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=4)
        res = pipe.run(pages, stages, run_id="g")
        assert [s.name for s in res.stages] == \
            ["quality", "host_cap", "mark+dedup"]
        assert seen == [("host_cap", False), ("mark", False),
                        ("dedup", False)]
        for s in res.stages:
            cols = spark.read.parquet(s.output_path).columns
            assert ("part_key" in cols) == (s.kind == "partition"), s.name

    def test_resumed_empty_global_unit_does_not_rerun_its_transform(
            self, spark, pages, tmp_path):
        calls = []

        def dedup(d):
            calls.append(d)
            return _exact_dedup(d)

        stages = [PipelineStage("drop_all",
                                lambda d: d.where(F.length("text") < 0),
                                kind="partition"),
                  PipelineStage("dedup", dedup, kind="global")]
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=4)
        first = pipe.run(pages, stages, run_id="e")
        again = pipe.run(pages, stages, run_id="e")
        assert all(s.resumed for s in again.stages)
        assert again.rows_out == first.rows_out == 0
        assert len(calls) == 1


def _kinds(spec):
    """Stages from a spec like 'P G* P': P/G = partition/global, a
    trailing * marks fuse_with_previous; named by position (s0, s1, ...)."""
    return [PipelineStage(f"s{i}", lambda d: d,
                          kind="partition" if k[0] == "P" else "global",
                          fuse_with_previous=k.endswith("*"))
            for i, k in enumerate(spec.split())]


class TestFuseUnits:
    """The one unit rule, without Spark: a stage joins the preceding unit
    when it is marked, or when it and every member of that unit are
    partition stages."""

    @pytest.mark.parametrize("spec, want", [
        ("P P G P", [["s0", "s1"], ["s2"], ["s3"]]),
        ("P* P", [["s0", "s1"]]),
        ("G* P", [["s0"], ["s1"]]),
        ("P G P*", [["s0"], ["s1", "s2"]]),
        ("G G*", [["s0", "s1"]]),
        ("G G", [["s0"], ["s1"]]),
    ])
    def test_unit_members(self, spec, want):
        units = ResumableCurationPipeline._fuse_units(_kinds(spec))
        assert [[m.name for m in u] for u in units] == want


class TestFusedPipeline:
    """Stage fusion: adjacent narrow stages share one lineage unit / one
    materialization; explicit fuse_with_previous folds a stage into the
    preceding unit. Results must be identical to the unfused statement of
    the pipeline — fusion is a physical choice, never a semantic one."""

    def test_narrow_fuses_partition_chain_keeps_wave_resume(
            self, spark, pages, tmp_path):
        stages = [
            PipelineStage("quality", _quality, kind="partition"),
            PipelineStage("mark", _mark_words, kind="partition"),
            PipelineStage("dedup", _exact_dedup, kind="global"),
        ]
        work = str(tmp_path / "w")
        pipe = ResumableCurationPipeline(spark, work, n_buckets=8,
                                         partitions_per_commit=2)
        # a member of the FUSED partition unit fails in wave [4,5]
        with pytest.raises(SparkRuntimeException, match=INJECTED_FAULT):
            pipe.run(pages, _faulty(stages, "mark", 5), run_id="r")
        assert _committed(pipe, "r", "00_quality+mark") == {0, 1, 2, 3}
        res = pipe.run(pages, stages, run_id="r")
        assert [s.name for s in res.stages] == ["quality+mark", "dedup"]
        assert res.stages[0].kind == "partition"
        assert res.stages[0].members == ["quality", "mark"]
        out = spark.read.parquet(res.stages[0].output_path)
        assert "part_key" in out.columns  # wave machinery intact
        got = sorted(r["url"] for r in
                     spark.read.parquet(res.stages[-1].output_path)
                     .select("url").collect())
        want = sorted(r["url"] for r in
                      _exact_dedup(_mark_words(_quality(pages)))
                      .select("url").collect())
        assert got == want

    def test_marked_global_fusion_matches_unfused(self, spark, pages,
                                                  tmp_path):
        fused = [
            PipelineStage("quality", _quality, kind="partition"),
            PipelineStage("host_cap", _cap_hosts, kind="global",
                          fuse_with_previous=True),
            PipelineStage("dedup", _exact_dedup, kind="global",
                          fuse_with_previous=True),
        ]
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=8)
        res = pipe.run(pages, fused, run_id="r")
        assert [s.name for s in res.stages] == ["quality+host_cap+dedup"]
        assert res.stages[0].kind == "global"
        got = sorted(r["url"] for r in
                     spark.read.parquet(res.stages[-1].output_path)
                     .select("url").collect())
        want = sorted(r["url"] for r in
                      _expected(pages).select("url").collect())
        assert got == want
        assert res.rows_out == len(want)

    def test_crash_in_fused_global_unit_reruns_unit_only(
            self, spark, pages, tmp_path):
        stages = [
            PipelineStage("quality", _quality, kind="partition"),
            PipelineStage("host_cap", _cap_hosts, kind="global"),
            PipelineStage("dedup", _exact_dedup, kind="global",
                          fuse_with_previous=True),
        ]
        work = str(tmp_path / "w")
        pipe = ResumableCurationPipeline(spark, work, n_buckets=8)
        # a failing member fails its whole fused unit
        with pytest.raises(SparkRuntimeException, match=INJECTED_FAULT):
            pipe.run(pages, _faulty(stages, "dedup", 0), run_id="r")
        res = pipe.run(pages, stages, run_id="r")
        assert res.stages[0].resumed          # quality committed pre-crash
        assert not res.stages[1].resumed      # fused unit ran now
        assert res.stages[1].name == "host_cap+dedup"
        assert (spark.read.parquet(res.stages[-1].output_path).count()
                == _expected(pages).count())

    def test_fused_unit_with_all_rows_dropped(self, spark, pages, tmp_path):
        """The empty-output schema fallback and the AQE observation guard
        both hold for a fused unit containing a persist barrier."""
        stages = [
            PipelineStage("drop_all",
                          lambda d: d.where(F.length("text") < 0),
                          kind="partition"),
            PipelineStage("dedup", _exact_dedup, kind="global",
                          fuse_with_previous=True),
        ]
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=4)
        res = pipe.run(pages, stages, run_id="e")
        assert res.stages[0].rows_in > 0 and res.stages[0].rows_out == 0


class TestEmptyOutputObservation:
    """Regression: AQE's empty-relation propagation used to drop the
    CollectMetrics node whenever a wave/stage filtered out EVERY row (an
    empty shuffle feeding the partitioned write), crashing Observation.get
    with 'assertion failed'. preserve_observations scopes that rule out."""

    def test_partition_stage_all_rows_dropped(self, spark, pages, tmp_path):
        from cloud_data_quality_spark.engine.incremental import (
            ResumableQualityRun)
        r = ResumableQualityRun(
            spark, output_path=str(tmp_path / "o"),
            lineage_path=str(tmp_path / "l"), n_buckets=4)
        res = r.run(pages, lambda d: d.where(F.length("text") < 0),
                    run_id="empty")
        assert res.rows_in > 0 and res.rows_kept == 0
        assert sorted(res.processed_partitions) == [0, 1, 2, 3]

    def test_pipeline_with_all_dropping_stage(self, spark, pages, tmp_path):
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=4)
        stages = [
            PipelineStage("drop_all",
                          lambda d: d.where(F.length("text") < 0),
                          kind="partition"),
            PipelineStage("dedup_empty", _exact_dedup, kind="global"),
        ]
        res = pipe.run(pages, stages, run_id="e1")
        assert res.stages[0].rows_out == 0
        assert res.stages[1].rows_in == 0 and res.stages[1].rows_out == 0

    def test_excluded_rule_is_restored(self, spark, pages, tmp_path):
        from cloud_data_quality_spark.engine.incremental import (
            _AQE_EXCLUDE_KEY, preserve_observations)
        assert spark.conf.get(_AQE_EXCLUDE_KEY, None) is None
        with preserve_observations(spark):
            assert "AQEPropagateEmptyRelation" in \
                spark.conf.get(_AQE_EXCLUDE_KEY)
        assert spark.conf.get(_AQE_EXCLUDE_KEY, None) is None
        spark.conf.set(_AQE_EXCLUDE_KEY, "x.y.SomeRule")
        with preserve_observations(spark):
            v = spark.conf.get(_AQE_EXCLUDE_KEY)
            assert "x.y.SomeRule" in v and "AQEPropagateEmptyRelation" in v
        assert spark.conf.get(_AQE_EXCLUDE_KEY) == "x.y.SomeRule"
        spark.conf.unset(_AQE_EXCLUDE_KEY)


class TestRunIsolationNoStaleRows:
    def test_new_run_never_reads_previous_runs_output(
            self, spark, pages, tmp_path):
        """Regression: stage outputs used to share one directory across
        run_ids; dynamic partition overwrite only replaces the partitions
        the new run writes, so a run whose stage dropped every row would
        silently hand the PREVIOUS run's output to its next stage."""
        work = str(tmp_path / "w")
        pipe = ResumableCurationPipeline(spark, work, n_buckets=4)
        full = [PipelineStage("s", lambda d: d, kind="partition"),
                PipelineStage("dedup", _exact_dedup, kind="global")]
        res_a = pipe.run(pages, full, run_id="a")
        assert res_a.rows_out > 0
        empty = [PipelineStage("s", lambda d: d.where(F.length("text") < 0),
                               kind="partition"),
                 PipelineStage("dedup", _exact_dedup, kind="global")]
        res_b = pipe.run(pages, empty, run_id="b")
        assert res_b.rows_out == 0
        assert res_b.stages[0].output_path != res_a.stages[0].output_path

    def test_resumed_partition_stage_reports_lineage_totals(
            self, spark, pages, tmp_path):
        """Regression: a fully-resumed partition stage used to report
        rows_in/rows_out 0 (no waves ran in this process)."""
        work = str(tmp_path / "w2")
        pipe = ResumableCurationPipeline(spark, work, n_buckets=4)
        stages = [PipelineStage("q", _quality, kind="partition")]
        first = pipe.run(pages, stages, run_id="r")
        again = pipe.run(pages, stages, run_id="r")
        assert again.stages[0].resumed
        assert again.stages[0].rows_in == first.stages[0].rows_in > 0
        assert again.stages[0].rows_out == first.stages[0].rows_out > 0
        assert again.rows_out == first.rows_out


class TestSessionOverwriteMode:
    def test_run_leaves_the_session_mode_alone(self, static_overwrite,
                                                pages, tmp_path):
        """Unit writes overwrite dynamically as a writer option: the
        session keeps its STATIC mode, and a multi-wave partition unit
        still keeps every wave's rows."""
        spark = static_overwrite
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=4, partitions_per_commit=2)
        stages = [PipelineStage("s", lambda d: d, kind="partition"),
                  PipelineStage("dedup", _exact_dedup, kind="global")]
        res = pipe.run(pages, stages, run_id="s")
        assert spark.conf.get(OVERWRITE_MODE) == "STATIC"
        assert (spark.read.parquet(res.stages[0].output_path).count()
                == res.stages[0].rows_out == pages.count())


class TestLedger:
    """Lineage is read once per run into an in-memory ledger that answers
    every resume question; appends and unit read-backs start no jobs of
    their own beyond the write."""

    # STAGES over the 2k-page fixture at 8 buckets. Before the ledger, the
    # per-append Python-list frames, the repeated lineage queries and the
    # schema inference per unit made it 20 jobs fresh and 13 fully resumed.
    # The ledger engine measured 11 fresh, one of them per lineage commit;
    # lineage marks written by the driver start none.
    LEDGER_FRESH_JOBS = 11

    def test_job_counts_and_one_lineage_file_per_commit(
            self, spark, pages, tmp_path):
        work = tmp_path / "w"
        pipe = ResumableCurationPipeline(spark, str(work), n_buckets=8)
        first, fresh = count_jobs(
            spark, f"fresh-{work}",
            lambda: pipe.run(pages, STAGES, run_id="j"))
        again, resumed = count_jobs(
            spark, f"resumed-{work}",
            lambda: pipe.run(pages, STAGES, run_id="j"))
        assert not any(s.resumed for s in first.stages)
        assert all(s.resumed for s in again.stages)
        # one wave of the partition unit + one mark per global unit
        commits = len(list((work / "lineage").glob("*.parquet")))
        assert commits == 3
        assert fresh <= self.LEDGER_FRESH_JOBS - commits
        # one lineage read, then one schema read per resumed unit
        assert resumed == 1 + len(STAGES)

    def test_fresh_object_resumes_a_crash(self, spark, pages, tmp_path):
        work = str(tmp_path / "w")
        with pytest.raises(SparkRuntimeException, match=INJECTED_FAULT):
            ResumableCurationPipeline(spark, work, n_buckets=8).run(
                pages, _faulty(STAGES, "host_cap", 0), run_id="k")
        res = ResumableCurationPipeline(spark, work, n_buckets=8).run(
            pages, STAGES, run_id="k")
        assert [s.resumed for s in res.stages] == [True, False, False]
        want = sorted(r["url"] for r in
                      _expected(pages).select("url").collect())
        got = sorted(r["url"] for r in
                     spark.read.parquet(res.stages[-1].output_path)
                     .select("url").collect())
        assert got == want
        # lineage totals chain through the resumed unit
        assert res.stages[0].rows_in == pages.count()
        for up, down in zip(res.stages, res.stages[1:]):
            assert down.rows_in == up.rows_out
        assert res.rows_out == len(want)

    def test_run_id_prefixes_do_not_leak(self, spark, pages, tmp_path):
        """'r1' is a prefix of 'r10': neither run may see the other's
        commits in a shared work dir."""
        stages = [STAGES[0], STAGES[2]]
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=8)
        r1 = pipe.run(pages, stages, run_id="r1")
        r10 = pipe.run(pages, stages, run_id="r10")
        assert not any(s.resumed for s in r10.stages)
        assert all(k.startswith("r1/") for k in pipe._read_ledger("r1"))
        assert all(k.startswith("r10/") for k in pipe._read_ledger("r10"))
        again = pipe.run(pages, stages, run_id="r1")
        assert all(s.resumed for s in again.stages)
        totals = [(s.rows_in, s.rows_out) for s in r1.stages]
        assert [(s.rows_in, s.rows_out) for s in r10.stages] == totals
        assert [(s.rows_in, s.rows_out) for s in again.stages] == totals

    def test_waved_unit_reports_whole_stage_totals_after_resume(
            self, spark, pages, tmp_path):
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=8, partitions_per_commit=2)
        stages = STAGES[:1]
        with pytest.raises(SparkRuntimeException, match=INJECTED_FAULT):
            pipe.run(pages, _faulty(stages, "quality", 5), run_id="p")
        assert _committed(pipe, "p", "00_quality") == {0, 1, 2, 3}
        q = pipe.run(pages, stages, run_id="p").stages[0]
        assert not q.resumed
        assert q.rows_in == pages.count()
        assert q.rows_out == _quality(pages).count() \
            == spark.read.parquet(q.output_path).count()


class TestUnitReadBack:
    def test_all_dropping_unit_hands_on_the_written_schema(
            self, spark, pages, tmp_path, monkeypatch):
        """A unit that dropped every row wrote no files; the next unit
        still gets an empty frame with the schema a non-empty output of
        the same unit reads back with."""
        handed = []
        original = ResumableCurationPipeline._stage_output_frame

        def record(self, stage, input_df, output_path, written):
            frame = original(self, stage, input_df, output_path, written)
            handed.append((output_path, frame))
            return frame

        monkeypatch.setattr(ResumableCurationPipeline,
                            "_stage_output_frame", record)

        def stages(keep):
            return [PipelineStage(
                        "s", lambda d: d.where(F.length("text") >= 0)
                        if keep else d.where(F.length("text") < 0),
                        kind="partition"),
                    PipelineStage("dedup", _exact_dedup, kind="global")]

        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=4)
        pipe.run(pages, stages(True), run_id="full")
        full, handed[:] = list(handed), []
        pipe.run(pages, stages(False), run_id="none")
        assert len(handed) == len(full) == 2
        for (full_path, _), (_, empty) in zip(full, handed):
            inferred = spark.read.parquet(full_path).schema
            assert [(f.name, f.dataType) for f in empty.schema] == \
                [(f.name, f.dataType) for f in inferred]
            assert empty.count() == 0
