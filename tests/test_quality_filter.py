"""Quality-filter pipeline on the generated pages fixture: verdicts, scrub
invariants, determinism across parallelism, resume."""

from __future__ import annotations

import pytest
from conftest import (
    INJECTED_FAULT,
    OVERWRITE_MODE,
    fail_on_bucket,
    fail_on_part_key,
)
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from cloud_data_quality_spark.engine.incremental import ResumableQualityRun
from cloud_data_quality_spark.operators.quality_filter import (
    annotate_quality,
    quality_summary,
)
from cloud_data_quality_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def annotated(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    return annotate_quality(df, with_perplexity=True).persist()


class TestVerdicts:
    def test_all_rows_have_verdict(self, annotated):
        assert annotated.where(F.col("keep").isNull()).count() == 0

    def test_null_and_blank_text_dropped(self, annotated):
        bad = annotated.where(F.col("text").isNull() | (F.col("text") == ""))
        assert bad.count() > 0
        assert bad.where(F.col("keep")).count() == 0
        assert bad.where(F.col("drop_reason") == "words").count() == bad.count()

    def test_symbol_spam_dropped(self, annotated):
        spam = annotated.where((F.col("alpha_ratio") < 0.3)
                               & (F.col("lang_pred") != "zh"))
        assert spam.where(F.col("keep")).count() == 0

    def test_toxic_dropped_with_reason(self, annotated):
        tox = annotated.where(F.col("has_toxicity"))
        assert tox.count() > 0
        assert tox.where(F.col("keep")).count() == 0

    def test_good_english_kept(self, annotated):
        good = annotated.where(
            (F.col("lang_pred") == "en") & (F.col("n_words") >= 30)
            & (F.col("dup_token_frac") < 0.5) & ~F.col("has_toxicity")
            & (F.col("alpha_ratio") > 0.7))
        kept_frac = good.where(F.col("keep")).count() / max(good.count(), 1)
        assert kept_frac > 0.9

    def test_zh_pages_use_cjk_gate(self, annotated):
        zh = annotated.where(F.col("lang_pred") == "zh")
        assert zh.count() > 0
        assert zh.where(F.col("keep")).count() > 0  # not all killed by alpha gate

    def test_keep_rate_sane(self, annotated):
        rate = annotated.where(F.col("keep")).count() / annotated.count()
        assert 0.3 < rate < 0.9, f"keep rate {rate}"


class TestScrubInvariants:
    def test_pii_pages_scrubbed(self, annotated):
        pii = annotated.where(F.col("text").rlike(
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"))
        assert pii.count() > 0
        leaked = pii.where(F.col("scrubbed_text").rlike(
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"))
        assert leaked.count() == 0

    def test_non_pii_text_byte_identical(self, annotated):
        clean = annotated.where(F.col("text").isNotNull()
                                & ~F.col("text").rlike("@|[0-9]{3}[-.)]|badword|slur"))
        diff = clean.where(F.col("scrubbed_text") != F.col("text"))
        assert diff.count() == 0


class TestDeterminism:
    def test_same_verdicts_at_different_parallelism(self, spark):
        """North-star invariant: verdict + scrubbed bytes independent of
        partitioning (proxy for N vs 4N executors)."""
        a = annotate_quality(generate_pages(spark, 500, seed=7, partitions=2))
        b = annotate_quality(generate_pages(spark, 500, seed=7, partitions=16))
        cols = ["url", "keep", "drop_reason", "scrubbed_text", "lang_pred"]
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0
        assert b.select(cols).exceptAll(a.select(cols)).count() == 0

    def test_generator_deterministic(self, spark):
        x = generate_pages(spark, 200, seed=42).orderBy("url").collect()
        y = generate_pages(spark, 200, seed=42).orderBy("url").collect()
        assert [(r["url"], r["text"]) for r in x] == \
               [(r["url"], r["text"]) for r in y]


class TestArrowColumnParity:
    def test_verdicts_identical_between_engines(self, spark, pages_parquet):
        """The Arrow pipeline path and the Column/SQL-oracle path must agree
        byte-for-byte on verdict + scrub output."""
        from cloud_data_quality_spark.operators.quality_filter import (
            annotate_quality_arrow,
        )
        df = spark.read.parquet(pages_parquet)
        cols = ["url", "keep", "drop_reason", "lang_pred", "scrubbed_text"]
        a = annotate_quality_arrow(df).select(cols)
        b = annotate_quality(df, with_perplexity=True).select(cols)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


class TestSummary:
    def test_quality_summary_rollup(self, annotated):
        s = quality_summary(annotated).collect()
        total = sum(r["n_docs"] for r in s)
        assert total == annotated.count()
        reasons = {r["drop_reason"] for r in s if not r["keep"]}
        assert "words" in reasons


def _urls(spark, n):
    return spark.range(n).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"))


class TestResume:
    def test_crash_and_resume_at_partition_granularity(self, spark, pages_parquet,
                                                       tmp_path):
        df = spark.read.parquet(pages_parquet)
        runner = ResumableQualityRun(
            spark,
            output_path=str(tmp_path / "out"),
            lineage_path=str(tmp_path / "lineage"),
            n_buckets=4,
            partitions_per_commit=1,
        )
        transform = lambda d: annotate_quality(d).where(F.col("keep"))  # noqa: E731

        # waves [0] and [1] commit; wave [2]'s write job aborts
        with pytest.raises(SparkRuntimeException, match=INJECTED_FAULT):
            runner.run(df, fail_on_part_key(transform, 2), run_id="r1")
        committed = runner.committed_partitions("r1")
        assert committed == {0, 1}

        res = runner.run(df, transform, run_id="r1")
        assert sorted(res.skipped_partitions) == [0, 1]
        assert sorted(res.processed_partitions) == [2, 3]

        # output complete & correct vs a single-shot run
        out = spark.read.parquet(str(tmp_path / "out"))
        expected = transform(df).count()
        assert out.count() == expected

    def test_multi_bucket_run_scans_input_once(self, spark, pages_parquet,
                                               tmp_path):
        """Scale posture: the resumable write covers ALL remaining buckets in
        one partitionBy pass — the input parquet appears exactly once in the
        plan, not once per bucket (round-1 shape = 64 scans at 64 buckets)."""
        df = spark.read.parquet(pages_parquet)
        runner = ResumableQualityRun(
            spark, output_path=str(tmp_path / "out_plan"),
            lineage_path=str(tmp_path / "lineage_plan"), n_buckets=8)
        t = lambda d: annotate_quality(d).where(F.col("keep"))  # noqa: E731
        out, _, _ = runner.wave_plan(df, t, list(range(8)))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1

        # and the counts the single pass reports match per-bucket reality
        res = runner.run(df, t, run_id="rplan")
        lineage = spark.read.parquet(str(tmp_path / "lineage_plan"))
        keyed = df.withColumn(
            "part_key", F.expr(runner.partition_expr).cast("int"))
        expect_in = {r["part_key"]: r["count"] for r in
                     keyed.groupBy("part_key").count().collect()}
        got_in = {r["part_key"]: r["n_in"] for r in lineage.collect()}
        assert got_in == expect_in
        assert res.rows_in == sum(expect_in.values())
        out_rows = spark.read.parquet(str(tmp_path / "out_plan")).count()
        assert res.rows_kept == out_rows == t(keyed).count()

    def test_partition_aligned_waves_prune_the_scan(self, spark, pages_parquet,
                                                    tmp_path):
        """With a partition_expr aligned to the table's physical layout,
        each wave's `part_key.isin(wave)` lands in the scan's
        PartitionFilters — multi-wave commits (partitions_per_commit) then
        physically prune committed partitions instead of re-reading the
        whole table, closing the re-scan caveat in the module docstring."""
        import re
        # physically partition the input by a derived day-bucket column
        src = str(tmp_path / "pages_by_day")
        (spark.read.parquet(pages_parquet)
         .withColumn("pday", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"))
         .write.partitionBy("pday").parquet(src))
        df = spark.read.parquet(src)
        runner = ResumableQualityRun(
            spark, output_path=str(tmp_path / "out_aligned"),
            lineage_path=str(tmp_path / "lineage_aligned"),
            n_buckets=4, partition_expr="pday", partitions_per_commit=2)
        t = lambda d: annotate_quality(d).where(F.col("keep"))  # noqa: E731

        out, _, _ = runner.wave_plan(df, t, [1, 2])
        plan = out._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "pday" in m.group(1) and "IN (1,2)" in m.group(1), plan[:2000]

        # and the two-wave run produces the complete, correct output
        res = runner.run(df, t, run_id="aligned")
        assert sorted(res.processed_partitions) == [0, 1, 2, 3]
        got = spark.read.parquet(str(tmp_path / "out_aligned")).count()
        assert got == t(df).count() == res.rows_kept

    def test_lineage_missing_vs_corrupt(self, spark, tmp_path):
        """Missing lineage = first run (empty set, no exception spam in the
        logs); EXISTING-but-unreadable lineage = corrupt state and must fail
        loudly — a silent empty set would re-run and double-write every
        partition."""
        runner = ResumableQualityRun(
            spark, output_path=str(tmp_path / "out3"),
            lineage_path=str(tmp_path / "lineage3"), n_buckets=2)
        assert runner.committed_partitions("rx") == set()  # missing → empty

        # corrupt: the path exists but holds a non-parquet file
        (tmp_path / "lineage3").mkdir()
        (tmp_path / "lineage3" / "part-0.parquet").write_text("not parquet")
        with pytest.raises(Exception):
            runner.committed_partitions("rx")

    def test_run_leaves_the_session_mode_alone(self, static_overwrite,
                                                tmp_path):
        spark = static_overwrite
        df = _urls(spark, 200)
        runner = ResumableQualityRun(
            spark, output_path=str(tmp_path / "out4"),
            lineage_path=str(tmp_path / "lineage4"), n_buckets=2)
        runner.run(df, lambda d: d, run_id="s")
        assert spark.conf.get(OVERWRITE_MODE) == "STATIC"

    def test_multi_wave_run_in_static_session_keeps_every_row(
            self, static_overwrite, tmp_path):
        """Each wave replaces only its own bucket directories, whatever
        the session's partition-overwrite mode when the runner is built
        or when it writes."""
        spark = static_overwrite
        df = _urls(spark, 400)
        runner = ResumableQualityRun(
            spark, output_path=str(tmp_path / "out5"),
            lineage_path=str(tmp_path / "lineage5"), n_buckets=4,
            partitions_per_commit=1)
        spark.conf.set(OVERWRITE_MODE, "STATIC")
        res = runner.run(df, lambda d: d, run_id="w")
        assert res.processed_partitions == [0, 1, 2, 3]
        assert spark.read.parquet(str(tmp_path / "out5")).count() \
            == res.rows_kept == 400

    def test_rerun_is_noop(self, spark, pages_parquet, tmp_path):
        df = spark.read.parquet(pages_parquet).limit(200)
        runner = ResumableQualityRun(
            spark, output_path=str(tmp_path / "out2"),
            lineage_path=str(tmp_path / "lineage2"), n_buckets=2)
        t = lambda d: annotate_quality(d).where(F.col("keep"))  # noqa: E731
        runner.run(df, t, run_id="r2")
        res2 = runner.run(df, t, run_id="r2")
        assert res2.processed_partitions == []
        assert sorted(res2.skipped_partitions) == [0, 1]


class TestMultimodal:
    def test_image_metadata_plumbing(self, spark, pages_parquet):
        from cloud_data_quality_spark.functions.multimodal import image_metadata
        df = spark.read.parquet(pages_parquet).limit(50)
        out = image_metadata(df, blob_col="html").collect()
        assert len(out) == 50
        assert all(r["content_sha256"] is not None for r in out)
        # html blobs aren't images → INVALID rows with NULL dims
        assert all(r["format"] == "INVALID" for r in out)
        assert all(r["width"] is None for r in out)

    def test_parse_image_header_roundtrip(self):
        """The header parser reads real bytes at the formats' documented
        offsets — round-trip through the fixture encoders, plus the edge
        shapes (16-bit extremes, every PNG color type, JPEG marker walk
        landing on SOF2, truncation, garbage)."""
        from cloud_data_quality_spark.functions.multimodal import (
            make_gif, make_jpeg, make_png, parse_image_header)
        assert parse_image_header(make_png(640, 480)) == (640, 480, 4, "PNG")
        for ct, ch in [(0, 1), (2, 3), (3, 1), (4, 2), (6, 4)]:
            assert parse_image_header(
                make_png(7, 9, color_type=ct)) == (7, 9, ch, "PNG")
        assert parse_image_header(make_gif(1, 65535)) == (1, 65535, 3, "GIF")
        assert parse_image_header(make_jpeg(65535, 1)) == (65535, 1, 3, "JPEG")
        # progressive JPEG: SOF2 instead of SOF0 must still parse
        prog = make_jpeg(320, 240).replace(b"\xff\xc0", b"\xff\xc2")
        assert parse_image_header(prog) == (320, 240, 3, "JPEG")
        # a DHT (C4) segment before the SOF must be walked over, not
        # mistaken for a frame header
        dht = b"\xff\xc4\x00\x04\x00\x00"
        j = make_jpeg(10, 20)
        assert parse_image_header(j[:2] + dht + j[2:]) == (10, 20, 3, "JPEG")
        assert parse_image_header(b"") is None
        assert parse_image_header(b"\xde\xad\xbe\xef") is None
        assert parse_image_header(b"\xff\xd8\xff\xd9") is None  # SOI+EOI only
        assert parse_image_header(make_png(640, 480)[:20]) is None  # truncated
        assert parse_image_header(b"GIF89a\x00\x00\x00\x00") is None  # 0-dim

    def test_image_metadata_strict_mode(self, spark):
        """Strict mode decodes real PNG/GIF/JPEG headers with no codec
        library; unparseable blobs become format='INVALID' NULL-dim rows
        (data to filter, not an exception), and content_sha256 is the
        genuine digest of the bytes."""
        import hashlib

        from cloud_data_quality_spark.functions.multimodal import (
            image_metadata, make_gif, make_jpeg, make_png)
        blobs = [(1, make_png(101, 55)), (2, make_gif(320, 200)),
                 (3, make_jpeg(64, 48)), (4, b"\x00not an image"), (5, None)]
        df = spark.createDataFrame(blobs, "id int, blob binary")
        out = {r["id"]: r for r in image_metadata(
            df, blob_col="blob").collect()}
        assert (out[1]["width"], out[1]["height"], out[1]["channels"],
                out[1]["format"]) == (101, 55, 4, "PNG")
        assert (out[2]["width"], out[2]["height"],
                out[2]["format"]) == (320, 200, "GIF")
        assert (out[3]["width"], out[3]["height"], out[3]["channels"],
                out[3]["format"]) == (64, 48, 3, "JPEG")
        assert out[4]["format"] == "INVALID" and out[4]["width"] is None
        assert out[5]["format"] is None and out[5]["content_sha256"] is None
        assert out[1]["content_sha256"] == hashlib.sha256(
            make_png(101, 55)).hexdigest()

    def test_frame_sample_stub(self, spark, pages_parquet):
        from cloud_data_quality_spark.functions.multimodal import frame_sample_stub
        df = spark.read.parquet(pages_parquet).limit(10)
        out = frame_sample_stub(df, blob_col="html", every_n_bytes=64)
        rows = out.collect()
        assert len(rows) >= 10  # ≥1 frame per non-null blob
        assert {"frame_no", "frame_sha256"} <= set(out.columns)


class TestMediaFilter:
    """media_filter: binary-column gates + exact blob dedup (r6)."""

    def _corpus(self, spark):
        from cloud_data_quality_spark.functions.multimodal import (
            make_gif, make_jpeg, make_png)
        rows = [
            (1, "keep me", make_png(100, 100)),
            (2, "dup of 1", make_png(100, 100)),        # exact dup blob
            (3, "tiny", make_gif(8, 8)),                # below min_dim
            (4, "huge", make_jpeg(5000, 100)),          # above max_dim
            (5, "garbage", b"\xde\xad\xbe\xef"),        # undecodable
            (6, "text only", None),                     # NULL blob
            (7, "fine gif", make_gif(64, 64)),
        ]
        return spark.createDataFrame(
            rows, "doc_id bigint, text string, media binary")

    def test_gates_dedup_and_null_passthrough(self, spark):
        from cloud_data_quality_spark.functions.multimodal import (
            media_filter)
        out = media_filter(self._corpus(spark), blob_col="media",
                           id_col="doc_id", min_dim=32, max_dim=4096)
        kept = {r["doc_id"] for r in out.collect()}
        assert kept == {1, 6, 7}  # min-id dup rep, text-only row, good gif
        assert out.columns == ["doc_id", "text", "media"]

    def test_keep_undecodable_mode(self, spark):
        from cloud_data_quality_spark.functions.multimodal import (
            media_filter)
        out = media_filter(self._corpus(spark), blob_col="media",
                           id_col="doc_id", min_dim=32, max_dim=4096,
                           drop_undecodable=False)
        kept = {r["doc_id"] for r in out.collect()}
        assert 5 in kept  # INVALID passes when the policy allows

    def test_format_allowlist(self, spark):
        from cloud_data_quality_spark.functions.multimodal import (
            media_filter)
        out = media_filter(self._corpus(spark), blob_col="media",
                           id_col="doc_id", min_dim=32, max_dim=4096,
                           formats=["PNG"])
        kept = {r["doc_id"] for r in out.collect()}
        assert kept == {1, 6}  # gif dropped by allowlist; NULL passes

    def test_crash_resume_as_pipeline_stage(self, spark, tmp_path):
        """media_filter as a curate global stage: crash before its commit,
        resume completes, survivors match the uninterrupted run."""
        import pytest as _pytest

        from cloud_data_quality_spark.engine.pipeline import (
            PipelineStage, ResumableCurationPipeline)
        from cloud_data_quality_spark.functions.multimodal import (
            media_filter)
        df = self._corpus(spark).withColumnRenamed("doc_id", "url")
        stages = [
            PipelineStage("ident", lambda d: d, kind="partition"),
            PipelineStage("media_filter",
                          lambda d: media_filter(
                              d, blob_col="media", id_col="url",
                              min_dim=32, max_dim=4096),
                          kind="global"),
        ]
        pipe = ResumableCurationPipeline(spark, str(tmp_path / "w"),
                                         n_buckets=2, id_col="url")
        faulty = [stages[0], PipelineStage(
            "media_filter", fail_on_bucket(stages[1].transform, 0, 2),
            kind="global")]
        with _pytest.raises(SparkRuntimeException, match=INJECTED_FAULT):
            pipe.run(df, faulty, run_id="m")
        res = pipe.run(df, stages, run_id="m")
        assert res.stages[0].resumed
        kept = {r["url"] for r in
                spark.read.parquet(res.stages[-1].output_path)
                .select("url").collect()}
        assert kept == {1, 6, 7}


class TestAudioMetadata:
    def test_parse_audio_header_roundtrip(self):
        """WAV parser reads real RIFF bytes: fixture round-trip (verified
        against the stdlib wave reader), chunk-walk past extra chunks,
        odd-size padding, integer-ms duration, truncation, garbage."""
        import io
        import struct
        import wave

        from cloud_data_quality_spark.functions.multimodal import (
            make_wav, parse_audio_header)
        b = make_wav(16000, 2, 16, 1234)
        assert parse_audio_header(b) == (16000, 2, 16, 1234, 77)
        # stdlib wave agrees with the fixture encoder
        w = wave.open(io.BytesIO(b + b"\x00" * (1234 * 4)))
        assert (w.getframerate(), w.getnchannels(), w.getsampwidth() * 8,
                w.getnframes()) == (16000, 2, 16, 1234)
        # sub-ms clip floors to 0; 24-bit mono
        assert parse_audio_header(make_wav(8000, 1, 8, 7)) == (8000, 1, 8, 7, 0)
        assert parse_audio_header(make_wav(44100, 1, 24, 44100))[4] == 1000
        # chunk walk skips a LIST chunk (odd size → even-padded) before fmt
        extra = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
                 + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
                 + make_wav(44100, 2, 24, 999)[12:])
        assert parse_audio_header(extra) == (44100, 2, 24, 999,
                                             999 * 1000 // 44100)
        assert parse_audio_header(b"garbage") is None
        assert parse_audio_header(b"RIFF\x00\x00\x00\x00WAVE") is None
        assert parse_audio_header(make_wav(16000, 2, 16, 10)[:20]) is None

    def test_audio_metadata_strict_and_fake_modes(self, spark, pages_parquet):
        from cloud_data_quality_spark.functions.multimodal import (
            audio_metadata)
        df = spark.read.parquet(pages_parquet).limit(20)
        strict = audio_metadata(df, blob_col="html").collect()
        assert all(r["audio_sha256"] is not None for r in strict)
        assert all(r["audio_format"] == "INVALID" for r in strict)
        assert all(r["sample_rate"] is None for r in strict)


class TestVideoMetadata:
    def test_parse_video_header_roundtrip(self):
        """MP4 parser reads real ISO-BMFF bytes: fixture round-trip,
        64-bit extended box size, mvhd v1, headers-only prefix of a
        'large' file, fixed-point dims, truncation, garbage."""
        import struct

        from cloud_data_quality_spark.functions.multimodal import (
            make_mp4, parse_video_header)
        b = make_mp4(600, 97001, 1920, 1080)
        assert parse_video_header(b) == (600, 97001, 97001 * 1000 // 600,
                                         1920, 1080)
        # headers-only prefix of a huge file: trailing size-0 mdat to EOF
        big = b + struct.pack(">I", 0) + b"mdat" + b"\x00" * 32
        assert parse_video_header(big) == parse_video_header(b)
        # 64-bit extended size on the ftyp box parses identically
        ext = (struct.pack(">I", 1) + b"ftyp" + struct.pack(">Q", 24)
               + b"isom" + struct.pack(">I", 0) + b[16:])
        assert parse_video_header(ext) == parse_video_header(b)
        # mvhd v1: u32 timescale at +20, u64 duration at +24
        mvhd1 = (struct.pack(">I", 120) + b"mvhd" + b"\x01" + bytes(3)
                 + bytes(16) + struct.pack(">I", 1000)
                 + struct.pack(">Q", 2**33) + bytes(80))
        moov1 = struct.pack(">I", 8 + 120) + b"moov" + mvhd1
        v1 = b[:16] + moov1
        assert parse_video_header(v1) == (1000, 2**33, 2**33 * 1000 // 1000,
                                          0, 0)
        assert parse_video_header(b"garbage") is None
        assert parse_video_header(b[:20]) is None       # moov truncated away
        assert parse_video_header(b[16:]) is None       # no ftyp
        assert parse_video_header(b"") is None

    def test_video_metadata_strict_and_fake_modes(self, spark, pages_parquet):
        from cloud_data_quality_spark.functions.multimodal import (
            video_metadata)
        df = spark.read.parquet(pages_parquet).limit(20)
        strict = video_metadata(df, blob_col="html").collect()
        assert all(r["video_sha256"] is not None for r in strict)
        assert all(r["video_format"] == "INVALID" for r in strict)
        assert all(r["v_width"] is None for r in strict)


class TestRuleAttribution:
    def test_counts_and_unique_semantics(self, spark):
        from cloud_data_quality_spark.operators.quality_filter import (
            rule_attribution)
        words = "the quick brown fox jumps over a lazy dog and runs home " * 5
        rows = [
            (1, words),                        # passes everything
            # 9 English words, healthy lengths: fails ONLY the words gate
            (2, "the quick brown fox jumps over that lazy dog"),
            (3, "#### " * 40),                 # junk: several gates fail
            (4, None),                         # NULL fails every gate
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["rule"]: r for r in
               rule_attribution(df, text_col="text").collect()}
        assert set(out) == {"words", "word_len", "alpha", "repetition",
                            "lang", "toxicity"}
        assert all(r["n_docs"] == 4 for r in out.values())
        w = out["words"]
        # docs 2 and 4 fail; drop_reason credits both (first gate in order);
        # only doc 2 fails NOTHING else — the marginal kill set
        assert (w["n_failing"], w["n_first_fail"], w["n_unique_fail"]) \
            == (2, 2, 1)
        # first-fail attribution sums to the number of dropped docs
        dropped = sum(r["n_first_fail"] for r in out.values())
        assert dropped == 3
        # uniqueness never exceeds raw failing
        assert all(r["n_unique_fail"] <= r["n_failing"]
                   for r in out.values())

    def test_single_agg_pass_plan(self, spark):
        from cloud_data_quality_spark.operators.quality_filter import (
            rule_attribution)
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = (rule_attribution(df)._jdf.queryExecution()
                .executedPlan().toString())
        # one scalar aggregate over the corpus, melted by a generator —
        # no per-rule scans
        assert plan.count("Scan ExistingRDD") <= 1
        assert "Generate stack" in plan or "stack" in plan
