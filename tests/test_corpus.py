"""Corpus curation operators: C4-style span dedup, benchmark
decontamination, deterministic stratified sampling.

Expectations are hand-computed or replayed with plain Python over the same
rows — the same independent-recompute style as the dedup family tests."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cloud_data_quality_spark.functions.corpus import (
    contamination,
    sample_threshold,
    span_dedup,
    stratified_sample,
    substring_dedup,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, schema="doc_id bigint, text string")


class TestSubstringDedup:
    def test_unaligned_duplicate_run_removed_byte_exact(self, spark):
        # doc 2 embeds doc 1's 8-word run at offset 2 — no span boundary
        # alignment; the run (>= k=5 words) must be cut exactly, keeping
        # the surrounding unique words.
        df = _docs(spark, [
            (1, "a b c d e f g h i j"),
            (2, "x y a b c d e f g h z"),
        ])
        out = {r["doc_id"]: r.asDict()
               for r in substring_dedup(df, k=5).collect()}
        assert out[1]["text_deduped"] == "a b c d e f g h i j"
        assert out[1]["n_words_kept"] == 10
        assert out[2]["text_deduped"] == "x y z"
        assert out[2]["n_words"] == 11 and out[2]["n_words_kept"] == 3

    def test_within_doc_repetition_removed(self, spark):
        df = _docs(spark, [(7, "p q r s t u p q r s t u")])
        out = substring_dedup(df, k=5).collect()[0].asDict()
        assert out["text_deduped"] == "p q r s t u"
        assert out["n_words"] == 12 and out["n_words_kept"] == 6

    def test_short_docs_and_case_insensitive_match(self, spark):
        df = _docs(spark, [
            (1, "one two three"),            # < k words: no shingles, kept
            (2, "Alpha Beta Gamma Delta Eps"),
            (3, "alpha beta gamma delta eps tail"),  # lowercase copy loses
        ])
        out = {r["doc_id"]: r.asDict()
               for r in substring_dedup(df, k=5).collect()}
        assert out[1]["text_deduped"] == "one two three"
        assert out[2]["text_deduped"] == "Alpha Beta Gamma Delta Eps"
        assert out[3]["text_deduped"] == "tail"

    def test_fully_duplicated_doc_reassembles_empty(self, spark):
        df = _docs(spark, [(1, "m n o p q"), (2, "m n o p q")])
        out = {r["doc_id"]: r.asDict()
               for r in substring_dedup(df, k=5).collect()}
        assert out[1]["text_deduped"] == "m n o p q"
        assert out[2]["text_deduped"] == "" and out[2]["n_words_kept"] == 0


class TestSpanDedup:
    def test_line_dedup_keeps_canonical_occurrence(self, spark):
        df = _docs(spark, [
            (1, "alpha\nshared line\nbeta"),
            (2, "shared line\ngamma\nshared line"),  # within-doc dup too
            (3, "delta"),
        ])
        out = {r["doc_id"]: r.asDict()
               for r in span_dedup(df, delimiter="\n").collect()}
        # 'shared line' survives only at its smallest (doc_id, pos) = (1, 1)
        assert out[1]["text_deduped"] == "alpha\nshared line\nbeta"
        assert out[2]["text_deduped"] == "gamma"
        assert out[2]["n_spans"] == 3 and out[2]["n_spans_kept"] == 1
        assert out[3]["text_deduped"] == "delta"

    def test_normalization_insensitive_key_preserves_original_text(self, spark):
        df = _docs(spark, [(1, "Hello World"), (2, "  hello world  ")])
        out = {r["doc_id"]: r for r in span_dedup(df, delimiter="\n").collect()}
        assert out[1]["text_deduped"] == "Hello World"  # original bytes kept
        assert out[2]["n_spans_kept"] == 0 and out[2]["text_deduped"] == ""

    def test_chunk_mode_matches_python_replay(self, spark):
        rows = [(i, " ".join(f"w{(i * 7 + j) % 5}" for j in range(11)))
                for i in range(20)]
        df = _docs(spark, rows)
        out = {r["doc_id"]: r.asDict()
               for r in span_dedup(df, chunk_words=3).collect()}

        # independent replay
        spans = []
        for i, text in rows:
            ws = text.split()
            for p, k in enumerate(range(0, len(ws), 3)):
                spans.append((i, p, " ".join(ws[k:k + 3])))
        winners = {}
        for i, p, s in sorted(spans):
            winners.setdefault(s.lower().strip(), (i, p))
        for i, text in rows:
            kept = [s for (d, p, s) in spans
                    if d == i and winners[s.lower().strip()] == (d, p)]
            assert out[i]["text_deduped"] == " ".join(kept), i
            assert out[i]["n_spans_kept"] == len(kept)

    def test_empty_and_null_text(self, spark):
        df = spark.createDataFrame([(1, ""), (2, None), (3, "x")],
                                   schema="doc_id bigint, text string")
        out = span_dedup(df, chunk_words=2)
        # docs with no non-empty spans produce no row (caller left-joins)
        assert {r["doc_id"] for r in out.collect()} == {3}

    def test_exactly_one_mode_required(self, spark):
        df = _docs(spark, [(1, "x")])
        with pytest.raises(ValueError):
            span_dedup(df)
        with pytest.raises(ValueError):
            span_dedup(df, delimiter="\n", chunk_words=3)

    def test_on_pages_fixture_real_lines(self, spark, pages_parquet):
        """Boilerplate lines repeated across pages are removed everywhere
        but their first occurrence; total kept spans == distinct keys."""
        pages = spark.read.parquet(pages_parquet).select(
            F.monotonically_increasing_id().alias("doc_id"), "text") \
            .where(F.col("text").isNotNull())
        out = span_dedup(pages, delimiter="\n")
        agg = out.agg(F.sum("n_spans").alias("n"),
                      F.sum("n_spans_kept").alias("k")).collect()[0]
        n_distinct = (
            pages.select(F.explode(F.split("text", "\n", -1)).alias("s"))
            .where(F.length(F.trim("s")) > 0)
            .select(F.lower(F.trim("s"))).distinct().count())
        assert agg["k"] == n_distinct
        assert agg["k"] < agg["n"]  # the fixture does repeat boilerplate


class TestContamination:
    def test_overlap_counts(self, spark):
        corpus = _docs(spark, [
            (1, "a b c d e"),       # shingles(3): 'a b c','b c d','c d e'
            (2, "x y z w"),
            (3, "c d e f g"),
        ])
        bench = _docs(spark, [(100, "b c d e")])  # 'b c d', 'c d e'
        out = {r["doc_id"]: r.asDict()
               for r in contamination(corpus, bench, shingle_words=3).collect()}
        assert out[1]["n_contaminated"] == 2 and out[1]["is_contaminated"]
        assert out[2]["n_contaminated"] == 0 and not out[2]["is_contaminated"]
        assert out[3]["n_contaminated"] == 1
        assert out[1]["contaminated_frac"] == pytest.approx(2 / 3)

    def test_short_docs_have_zero_shingles(self, spark):
        corpus = _docs(spark, [(1, "too short")])
        bench = _docs(spark, [(2, "anything at all here")])
        r = contamination(corpus, bench, shingle_words=8).collect()[0]
        assert r["n_shingles"] == 0 and r["contaminated_frac"] is None
        assert not r["is_contaminated"]

    def test_broadcast_flag_matches_shuffle_join(self, spark):
        corpus = _docs(spark, [(i, f"w{i} w{i+1} w{i+2} w{i+3}")
                               for i in range(40)])
        bench = _docs(spark, [(999, "w10 w11 w12 w13")])
        a = sorted(contamination(corpus, bench, shingle_words=3,
                                 broadcast_benchmark=True).collect())
        b = sorted(contamination(corpus, bench, shingle_words=3,
                                 broadcast_benchmark=False).collect())
        assert a == b


class TestStratifiedSample:
    def test_matches_md5_replay_and_is_deterministic(self, spark):
        df = spark.createDataFrame(
            [(i, "en" if i % 3 else "de") for i in range(500)],
            schema="doc_id bigint, lang string")
        fr = {"en": 0.5, "de": 0.1}
        out = stratified_sample(df, fr, stratum_col="lang", salt="s1")
        got = {r["doc_id"] for r in out.collect()}

        def keep(i, lang):
            h = int(hashlib.md5(f"{i}|s1".encode()).hexdigest()[:15], 16)
            return h < sample_threshold(fr[lang])
        expect = {i for i in range(500) if keep(i, "en" if i % 3 else "de")}
        assert got == expect
        # re-run identical (no rand())
        assert {r["doc_id"] for r in out.collect()} == expect

    def test_rates_roughly_honored(self, spark):
        df = spark.createDataFrame([(i, "en") for i in range(4000)],
                                   schema="doc_id bigint, lang string")
        n = stratified_sample(df, {"en": 0.25}, "lang").count()
        assert 800 < n < 1200  # 0.25 ± sampling noise

    def test_default_fraction_and_salt_decorrelation(self, spark):
        df = spark.createDataFrame([(i, "xx") for i in range(1000)],
                                   schema="doc_id bigint, lang string")
        assert stratified_sample(df, {"en": 0.9}, "lang").count() == 0
        s1 = {r["doc_id"] for r in stratified_sample(
            df, {"xx": 0.3}, "lang", salt="a").collect()}
        s2 = {r["doc_id"] for r in stratified_sample(
            df, {"xx": 0.3}, "lang", salt="b").collect()}
        assert s1 != s2
        # independent samples: overlap ≈ 0.09·1000, far below either size
        assert len(s1 & s2) < min(len(s1), len(s2))

    def test_bad_fraction_rejected(self, spark):
        df = spark.createDataFrame([(1, "en")],
                                   schema="doc_id bigint, lang string")
        with pytest.raises(ValueError):
            stratified_sample(df, {"en": 1.5}, "lang")

    def test_no_shuffle_in_plan(self, spark):
        """Sampling is a pure narrow filter — any Exchange in the plan means
        it stopped being free at 10^12 rows."""
        df = spark.range(100).select(
            F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
        plan = stratified_sample(df, {"en": 0.5}, "lang") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestIncrementalDedup:
    def test_wave_semantics(self, spark):
        from cloud_data_quality_spark.functions.corpus import incremental_dedup
        wave = _docs(spark, [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, None)])
        seen = spark.createDataFrame(
            [(hashlib.md5(b"b").hexdigest(),)], schema="fp string")
        out = incremental_dedup(wave, seen)
        ids = {r["doc_id"] for r in out.collect()}
        # within-wave: 2 loses to 1; cross-run: 3's 'b' already seen;
        # NULL text always survives
        assert ids == {1, 4, 5}
        assert "fp" in out.columns

    def test_no_store_first_run(self, spark):
        from cloud_data_quality_spark.functions.corpus import incremental_dedup
        wave = _docs(spark, [(1, "a"), (2, "a")])
        assert {r["doc_id"] for r in incremental_dedup(wave, None).collect()} \
            == {1}

    def test_store_across_waves_and_lazy_safety(self, spark, tmp_path):
        """dedup_wave must return the PRE-append survivors even though the
        anti-join plan reads the store table lazily (regression: without the
        materialization barrier the returned frame re-evaluates against the
        updated store and collapses to zero rows)."""
        from cloud_data_quality_spark.functions.corpus import (
            SeenFingerprintStore)
        spark.sql("drop table if exists seen_fps_test")
        store = SeenFingerprintStore(spark, "seen_fps_test", n_buckets=4)
        try:
            w1 = store.dedup_wave(_docs(spark, [(1, "a"), (2, "b")]))
            assert {r["doc_id"] for r in w1.collect()} == {1, 2}
            w2 = store.dedup_wave(
                _docs(spark, [(10, "a"), (11, "c"), (12, "c")]))
            # 'a' seen in wave 1; 'c' dedups within wave 2
            assert {r["doc_id"] for r in w2.collect()} == {11}
            # the collect above ran AFTER append — barrier proven
            assert store.read().count() == 3  # a, b, c
            w3 = store.dedup_wave(_docs(spark, [(20, "c")]))
            assert w3.count() == 0
        finally:
            spark.sql("drop table if exists seen_fps_test")

    def test_bucketed_store_join_has_no_store_side_exchange(self, spark):
        """The 100 TB story: the store dwarfs every nightly wave, so it's
        bucketed on fp and the anti join must read it WITHOUT an Exchange —
        only the wave shuffles (into the store's bucket layout). Verified
        two ways: the store scan reports Bucketed, and the identical plan
        over a NON-bucketed copy of the store needs one more Exchange
        (broadcast disabled to force the sort-merge path both times)."""
        import re

        from cloud_data_quality_spark.functions.corpus import (
            SeenFingerprintStore, incremental_dedup)

        def plan_for(seen):
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                wave = _docs(spark, [(i, f"t{i}") for i in range(30)])
                return incremental_dedup(wave, seen) \
                    ._jdf.queryExecution().executedPlan().toString()
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        spark.sql("drop table if exists seen_fps_plan")
        spark.sql("drop table if exists seen_fps_flat")
        store = SeenFingerprintStore(spark, "seen_fps_plan", n_buckets=4)
        try:
            fps = spark.createDataFrame(
                [(hashlib.md5(str(i).encode()).hexdigest(),)
                 for i in range(50)], schema="fp string")
            store.append(fps)
            fps.write.format("parquet").saveAsTable("seen_fps_flat")

            bucketed = plan_for(store.read())
            flat = plan_for(spark.table("seen_fps_flat").select("fp"))

            store_scan = [l for l in bucketed.splitlines()
                          if "seen_fps_plan" in l and "Scan" in l]
            assert store_scan and "Bucketed: true" in store_scan[0]
            assert "SortMergeJoin" in bucketed
            n = lambda p: len(re.findall(r"Exchange hashpartitioning", p))
            # the flat store needs exactly one extra Exchange: its own
            assert n(flat) == n(bucketed) + 1, (n(bucketed), n(flat))
        finally:
            spark.sql("drop table if exists seen_fps_plan")
            spark.sql("drop table if exists seen_fps_flat")


class TestImportanceResample:
    def _df(self, spark):
        rows = [(i, "en") for i in range(300)] + \
               [(i + 1000, "de") for i in range(80)] + \
               [(i + 2000, "fr") for i in range(40)] + \
               [(i + 3000, "zz") for i in range(25)]
        return spark.createDataFrame(rows, schema="doc_id bigint, lang string")

    def test_matches_python_replay_and_proportions(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            importance_resample, sample_hash)
        target = {"en": 0.4, "de": 0.4, "fr": 0.2}
        df = self._df(spark)
        out = importance_resample(df, target, "lang", salt="ir")
        got = {(r["doc_id"], r["lang"]) for r in out.collect()}

        # replay: C = min(n_s/t_s); thr_s = floor(C*t_s/n_s * 2^60)
        n = {"en": 300.0, "de": 80.0, "fr": 40.0}
        c = min(n[s] / target[s] for s in target)
        thr = {s: int((c * target[s] / n[s]) * float(1 << 60)) for s in target}

        def h(i):
            return int(hashlib.md5(f"{i}|ir".encode()).hexdigest()[:15], 16)
        expect = {(i, s) for (i, s) in
                  ((r["doc_id"], r["lang"]) for r in df.collect())
                  if s in thr and h(i) < thr[s]}
        assert got == expect
        # 'zz' absent from target → dropped entirely
        assert not any(s == "zz" for _, s in got)
        # fr is the binding stratum (40/0.2=200 < others) → kept in full
        assert sum(1 for _, s in got if s == "fr") == 40
        # proportions ≈ target (binomial noise on en/de)
        kept = {s: sum(1 for _, x in got if x == s) for s in target}
        assert abs(kept["en"] - 80) <= 25 and abs(kept["de"] - 80) <= 20

    def test_never_replicates_and_is_deterministic(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            importance_resample)
        df = self._df(spark)
        out = importance_resample(df, {"en": 0.9, "fr": 0.1}, "lang")
        assert out.count() == out.dropDuplicates(["doc_id"]).count()
        assert sorted(out.collect()) == sorted(
            importance_resample(df, {"en": 0.9, "fr": 0.1}, "lang").collect())
        # column order preserved
        assert out.columns == df.columns


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        from cloud_data_quality_spark.functions.corpus import repetition_stats
        #  doc 1: "a b a b a" → 2-grams: 'a b'×2, 'b a'×2 (4 grams, all dup)
        #    chars=9; top = 2*3/9; dup = (2*3 + 2*3)/9
        #  doc 2: "x y z" → 'x y', 'y z' each once → dup 0, top 3/5... chars=5
        #  doc 3: "solo" → <2 words → no grams
        df = _docs(spark, [(1, "a b a b a"), (2, "x y z"), (3, "solo")])
        out = {r["doc_id"]: r.asDict()
               for r in repetition_stats(df, n=2).collect()}
        assert out[1]["n_grams"] == 4
        assert out[1]["top_gram_char_frac"] == pytest.approx(6 / 9, abs=1e-6)
        assert out[1]["dup_gram_char_frac"] == pytest.approx(12 / 9, abs=1e-6)
        assert out[2]["n_grams"] == 2
        assert out[2]["dup_gram_char_frac"] == 0.0
        assert out[2]["top_gram_char_frac"] == pytest.approx(3 / 5, abs=1e-6)
        assert out[3]["n_grams"] == 0
        assert out[3]["top_gram_char_frac"] is None

    def test_repeated_boilerplate_scores_high(self, spark):
        from cloud_data_quality_spark.functions.corpus import repetition_stats
        clean = " ".join(f"w{i}" for i in range(50))
        spam = " ".join(["buy now"] * 25)
        df = _docs(spark, [(1, clean), (2, spam)])
        out = {r["doc_id"]: r.asDict()
               for r in repetition_stats(df, n=2).collect()}
        assert out[1]["dup_gram_char_frac"] == 0.0
        assert out[2]["dup_gram_char_frac"] > 1.0  # overlapping dup grams
        assert out[2]["top_gram_char_frac"] == pytest.approx(175 / 199, abs=1e-6)


class TestPartitioningInvariance:
    def test_results_identical_at_1_and_16_partitions(self, spark):
        """North-star invariant: outcomes depend on row content only, never
        on partitioning/parallelism."""
        from cloud_data_quality_spark.functions.corpus import (
            importance_resample, span_dedup)
        rows = [(i, " ".join(f"w{(i * 3 + j) % 7}" for j in range(9)),
                 "en" if i % 4 else "de") for i in range(200)]
        base = spark.createDataFrame(
            rows, schema="doc_id bigint, text string, lang string")
        for parts in (1, 16):
            d = base.repartition(parts)
            sd = sorted(map(tuple, span_dedup(d, chunk_words=3).collect()))
            ir = sorted(map(tuple, importance_resample(
                d, {"en": 0.5, "de": 0.5}, "lang").collect()))
            if parts == 1:
                sd1, ir1 = sd, ir
        assert sd == sd1 and ir == ir1


class TestChunkDocuments:
    def test_hand_computed_with_overlap(self, spark):
        from cloud_data_quality_spark.functions.corpus import chunk_documents
        df = _docs(spark, [(1, "a b c d e f g"), (2, "x y"), (3, None)])
        out = sorted((r["doc_id"], r["chunk_id"], r["chunk_text"],
                      r["n_tokens"])
                     for r in chunk_documents(df, budget_tokens=4,
                                              overlap_tokens=1).collect())
        # doc 1: stride 3 → starts 0,3 → 'a b c d', 'd e f g'; a third
        # window at 6 ('g') would be fully contained in chunk 1 and is
        # correctly not emitted (coverage is already complete)
        assert out == [
            (1, 0, "a b c d", 4), (1, 1, "d e f g", 4),
            (2, 0, "x y", 2),
        ]

    def test_no_overlap_covers_exactly_and_reassembles(self, spark):
        from cloud_data_quality_spark.functions.corpus import chunk_documents
        text = " ".join(f"w{i}" for i in range(103))
        df = _docs(spark, [(1, text)])
        rows = sorted((r["chunk_id"], r["chunk_text"]) for r in
                      chunk_documents(df, budget_tokens=10).collect())
        assert len(rows) == 11 and rows[-1][1].split()[-1] == "w102"
        assert " ".join(t for _, t in rows) == text  # exact reassembly
        assert sum(len(t.split()) for _, t in rows) == 103

    def test_short_doc_is_single_chunk(self, spark):
        from cloud_data_quality_spark.functions.corpus import chunk_documents
        df = _docs(spark, [(1, "tiny doc")])
        rows = chunk_documents(df, budget_tokens=100,
                               overlap_tokens=10).collect()
        assert len(rows) == 1 and rows[0]["chunk_text"] == "tiny doc"

    def test_bad_params_rejected(self, spark):
        from cloud_data_quality_spark.functions.corpus import chunk_documents
        df = _docs(spark, [(1, "x")])
        with pytest.raises(ValueError):
            chunk_documents(df, budget_tokens=0)
        with pytest.raises(ValueError):
            chunk_documents(df, budget_tokens=4, overlap_tokens=4)

    def test_no_shuffle_in_plan(self, spark):
        from cloud_data_quality_spark.functions.corpus import chunk_documents
        df = _docs(spark, [(1, "a b c")])
        plan = chunk_documents(df, budget_tokens=2) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestSeenMinhashStore:
    """Cross-run NEAR-dup dedup: the store remembers MinHash band rows of
    every surviving historical doc; nightly waves drop near-recrawls the
    exact-fingerprint store misses."""

    BASE = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"          # 8 trigram shingles
    NEAR = "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"           # 7/9 shared → est ≥ .5
    FAR = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"

    def test_waves_near_dedup_against_history(self, spark):
        from cloud_data_quality_spark.functions.corpus import SeenMinhashStore
        spark.sql("drop table if exists mh_store_test")
        store = SeenMinhashStore(spark, "mh_store_test", n_buckets=4)
        try:
            w1 = store.dedup_wave(_docs(spark, [
                (1, self.BASE), (2, self.NEAR),      # near-dups within wave
                (3, self.FAR)]))
            # within-wave: cluster {1,2} → canonical 1; 3 unrelated
            assert {r["doc_id"] for r in w1.collect()} == {1, 3}
            # wave 2: near-recrawl of BASE (dropped — NOT byte-identical,
            # an exact store would keep it), plus a genuinely new doc
            w2 = store.dedup_wave(_docs(spark, [
                (10, self.NEAR), (11, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10")]))
            assert {r["doc_id"] for r in w2.collect()} == {11}
            # short docs (no shingles) always survive
            w3 = store.dedup_wave(_docs(spark, [(20, "tiny"), (21, None)]))
            assert {r["doc_id"] for r in w3.collect()} == {20, 21}
        finally:
            spark.sql("drop table if exists mh_store_test")

    def test_replay_idempotent_with_wave_id(self, spark, tmp_path):
        from cloud_data_quality_spark.functions.corpus import SeenMinhashStore
        spark.sql("drop table if exists mh_store_replay")
        store = SeenMinhashStore(spark, "mh_store_replay", n_buckets=4)
        out = str(tmp_path / "batch_id=0")
        writer = lambda s: s.write.mode("overwrite").parquet(out)
        batch = _docs(spark, [(1, self.BASE), (2, self.NEAR), (3, self.FAR)])
        try:
            first = store.dedup_wave(batch, wave_id="stream_0",
                                     output_writer=writer)
            assert {r["doc_id"] for r in first.collect()} == {1, 3}
            replay = store.dedup_wave(batch, wave_id="stream_0",
                                      output_writer=writer)
            assert {r["doc_id"] for r in replay.collect()} == {1, 3}
            assert {r["doc_id"] for r in
                    spark.read.parquet(out).collect()} == {1, 3}
            later = store.dedup_wave(
                _docs(spark, [(10, self.NEAR)]), wave_id="stream_1",
                output_writer=lambda s: None)
            assert later.count() == 0
        finally:
            spark.sql("drop table if exists mh_store_replay")

    def test_band_join_has_no_store_side_exchange(self, spark):
        """Same 100 TB contract as the exact store: the band table is
        bucketed on h, so the nightly wave joins against 10^12-doc history
        with zero store-side Exchange — verified by plan-diff against a
        non-bucketed copy (broadcast disabled to force sort-merge)."""
        import re

        from cloud_data_quality_spark.functions.corpus import (
            SeenMinhashStore, incremental_minhash_dedup, minhash_band_rows)

        def plan_for(store_bands):
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                wave = _docs(spark, [(i, f"x{i} y{i} z{i} q{i} r{i}")
                                     for i in range(20)])
                return incremental_minhash_dedup(wave, store_bands) \
                    ._jdf.queryExecution().executedPlan().toString()
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        spark.sql("drop table if exists mh_store_plan")
        spark.sql("drop table if exists mh_store_flat")
        store = SeenMinhashStore(spark, "mh_store_plan", n_buckets=4)
        try:
            hist = _docs(spark, [(i, f"h{i} a b c d e f g") for i in range(30)])
            bands = minhash_band_rows(hist)
            store.append(bands)
            bands.write.format("parquet").saveAsTable("mh_store_flat")

            bucketed = plan_for(store.read())
            flat = plan_for(spark.table("mh_store_flat")
                            .select("h", "doc_id", "sig"))
            store_scan = [l for l in bucketed.splitlines()
                          if "mh_store_plan" in l and "Scan" in l]
            assert store_scan and "Bucketed: true" in store_scan[0]
            n = lambda p: len(re.findall(r"Exchange hashpartitioning", p))
            assert n(flat) == n(bucketed) + 1, (n(bucketed), n(flat))
        finally:
            spark.sql("drop table if exists mh_store_plan")
            spark.sql("drop table if exists mh_store_flat")


class TestStreamingIncrementalDedup:
    def test_cross_batch_dedup_through_store(self, spark, tmp_path):
        """Two file-stream batches: duplicates WITHIN a batch, ACROSS the
        two batches, and across a restarted second run are all removed;
        the store accumulates every distinct fingerprint."""
        from cloud_data_quality_spark.streaming.corpus_stream import (
            run_incremental_dedup_stream,
        )
        src = tmp_path / "src"
        src.mkdir()
        spark.sql("drop table if exists seen_fps_stream")

        def _write(name, rows):
            spark.createDataFrame(rows, "doc_id bigint, text string") \
                .coalesce(1).write.mode("overwrite") \
                .parquet(str(src / name))

        _write("b1", [(1, "alpha"), (2, "alpha"), (3, "beta")])
        try:
            stream = spark.readStream.schema("doc_id bigint, text string") \
                .option("maxFilesPerTrigger", "1").parquet(str(src / "*"))
            q = run_incremental_dedup_stream(
                spark, stream, str(tmp_path / "out"),
                str(tmp_path / "ckpt"), "seen_fps_stream", n_buckets=4)
            q.awaitTermination(300)
            out1 = spark.read.parquet(str(tmp_path / "out"))
            assert {r["doc_id"] for r in out1.collect()} == {1, 3}

            # second wave arrives: 'beta' already seen, 'gamma' is new
            _write("b2", [(10, "beta"), (11, "gamma"), (12, "gamma")])
            q = run_incremental_dedup_stream(
                spark, stream, str(tmp_path / "out"),
                str(tmp_path / "ckpt"), "seen_fps_stream", n_buckets=4)
            q.awaitTermination(300)
            out2 = spark.read.parquet(str(tmp_path / "out"))
            assert {r["doc_id"] for r in out2.collect()} == {1, 3, 11}
            from cloud_data_quality_spark.functions.corpus import (
                SeenFingerprintStore)
            # read THROUGH the store: appends came from foreachBatch's
            # cloned session, and a raw spark.table() would serve this
            # session's stale file-listing cache
            assert SeenFingerprintStore(
                spark, "seen_fps_stream").read().count() == 3
        finally:
            spark.sql("drop table if exists seen_fps_stream")

    def test_batch_replay_does_not_lose_documents(self, spark, tmp_path):
        """Crash-replay regression: foreachBatch may re-run a batch whose
        store append already committed (crash before the checkpoint
        commit). The replay must recompute the SAME survivors — excluding
        its own wave's fps from the store read — and rewrite the same
        output, not anti-join everything away and overwrite the batch dir
        with an empty frame. Simulated by invoking dedup_wave twice with
        the identical wave_id + input, exactly what a replay does."""
        from cloud_data_quality_spark.functions.corpus import (
            SeenFingerprintStore)
        spark.sql("drop table if exists seen_fps_replay")
        store = SeenFingerprintStore(spark, "seen_fps_replay", n_buckets=4)
        out = str(tmp_path / "batch_id=0")
        writer = lambda s: s.write.mode("overwrite").parquet(out)
        batch = _docs(spark, [(1, "alpha"), (2, "alpha"), (3, "beta")])
        try:
            first = store.dedup_wave(batch, wave_id="stream_0",
                                     output_writer=writer)
            assert {r["doc_id"] for r in first.collect()} == {1, 3}
            # replay: store already holds stream_0's fps
            replay = store.dedup_wave(batch, wave_id="stream_0",
                                      output_writer=writer)
            assert {r["doc_id"] for r in replay.collect()} == {1, 3}
            assert {r["doc_id"] for r in
                    spark.read.parquet(out).collect()} == {1, 3}
            # a LATER wave still dedups against stream_0's fingerprints
            later = store.dedup_wave(
                _docs(spark, [(10, "alpha"), (11, "gamma")]),
                wave_id="stream_1", output_writer=lambda s: None)
            assert {r["doc_id"] for r in later.collect()} == {11}
        finally:
            spark.sql("drop table if exists seen_fps_replay")


class TestSpanDedupHotKey:
    def test_viral_span_100k_occurrences(self, spark):
        """A boilerplate span repeated 10^5 times lands every occurrence on
        one fp-window reducer; the sort is external/spillable so this must
        complete and keep exactly one occurrence (the corpus-wide smallest
        (doc_id, pos))."""
        df = spark.range(100_000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("unique head "), F.col("id").cast("string"),
                     F.lit("\nSubscribe to our newsletter!")).alias("text"))
        out = span_dedup(df, delimiter="\n")
        agg = out.agg(F.sum("n_spans").alias("n"),
                      F.sum("n_spans_kept").alias("k")).collect()[0]
        assert agg["n"] == 200_000
        # 100k unique heads + exactly ONE surviving boilerplate span
        assert agg["k"] == 100_001
        keeper = out.where(
            F.col("text_deduped").contains("Subscribe")).collect()
        assert len(keeper) == 1 and keeper[0]["doc_id"] == 0


class TestCorpusProperties:
    """Seeded-random-corpus invariants (Spark evaluation is too slow for
    per-example hypothesis; five seeds of structured noise cover the same
    ground deterministically)."""

    def _corpus(self, spark, seed, n=40):
        import random
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        rows = []
        for i in range(n):
            lines = ["" if rng.random() < 0.1 else
                     " ".join(rng.choice(vocab)
                              for _ in range(rng.randint(0, 6)))
                     for _ in range(rng.randint(0, 5))]
            rows.append((i, "\n".join(lines) if lines else None))
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    @pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
    def test_span_dedup_idempotent(self, spark, seed):
        """After one dedup pass every surviving span key is unique, so a
        second pass must keep everything."""
        df = self._corpus(spark, seed)
        once = span_dedup(df, delimiter="\n").select(
            "doc_id", F.col("text_deduped").alias("text"))
        twice = span_dedup(once, delimiter="\n")
        assert twice.where(
            F.col("n_spans_kept") != F.col("n_spans")).count() == 0

    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_chunk_reassembly_exact(self, spark, seed):
        from cloud_data_quality_spark.functions.corpus import chunk_documents
        df = self._corpus(spark, seed).where(F.col("text").isNotNull())
        chunks = chunk_documents(df, budget_tokens=5, text_col="text")
        rebuilt = (chunks.groupBy("doc_id")
                   .agg(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct("chunk_id", "chunk_text"))),
                           lambda s: s.chunk_text), " ").alias("r")))
        joined = df.join(rebuilt, "doc_id", "left").select(
            "doc_id", "text", F.coalesce("r", F.lit("")).alias("r")).collect()
        for row in joined:
            assert row["r"] == " ".join((row["text"] or "").split()), row

    def test_stratified_sample_monotone_in_fraction(self, spark):
        df = spark.createDataFrame([(i, "en") for i in range(800)],
                                   "doc_id bigint, lang string")
        small = {r["doc_id"] for r in
                 stratified_sample(df, {"en": 0.3}, "lang").collect()}
        big = {r["doc_id"] for r in
               stratified_sample(df, {"en": 0.6}, "lang").collect()}
        assert small <= big  # thresholds grow with the fraction

    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_incremental_dedup_wave_split_invariant(self, spark, seed):
        """Processing the corpus as one wave or split into two waves must
        keep the same distinct TEXT set (which id survives can differ —
        canonical-min is per wave — but content coverage cannot)."""
        from cloud_data_quality_spark.functions.corpus import (
            incremental_dedup)
        df = self._corpus(spark, seed).where(F.col("text").isNotNull())
        one = incremental_dedup(df, None)
        texts_one = {r["text"] for r in one.select("text").collect()}
        w1 = df.where(F.col("doc_id") % 2 == 0)
        w2 = df.where(F.col("doc_id") % 2 == 1)
        s1 = incremental_dedup(w1, None)
        s2 = incremental_dedup(w2, s1.select("fp"))
        texts_two = {r["text"] for r in
                     s1.select("text").unionByName(s2.select("text"))
                     .collect()}
        # same content modulo normalization key: compare normalized keys
        norm = lambda ts: {t.strip().lower() for t in ts}
        assert norm(texts_one) == norm(texts_two)


class TestC4LineFilter:
    def test_line_and_doc_rules(self, spark):
        from cloud_data_quality_spark.functions.corpus import c4_line_filter
        rows = [
            (1, "A good long sentence with many words here.\n"
                "Another solid line of reasonable length too!\n"
                "And a third one that also ends properly?\n"
                "short line.\n"
                "this javascript line has enough words to pass."),
            (2, "Only one good line with enough words here."),   # < 3 lines
            (3, "Line with braces { in doc.\nGood line number two is here.\n"
                "Good line number three is here."),              # '{' → drop
            (4, "Lorem Ipsum dolor sit amet consectetur adipiscing elit.\n"
                "Second proper line with enough words here.\n"
                "Third proper line with enough words here."),    # lorem → drop
            (5, None),
        ]
        out = {r["doc_id"]: r for r in
               c4_line_filter(spark.createDataFrame(
                   rows, "doc_id int, text string")).collect()}
        assert out[1]["keep"] and out[1]["n_lines_kept"] == 3
        assert out[1]["clean_text"].count("\n") == 2
        assert "short line" not in out[1]["clean_text"]
        assert "javascript" not in out[1]["clean_text"]
        assert not out[2]["keep"] and out[2]["clean_text"] is None
        assert not out[3]["keep"]
        assert not out[4]["keep"]
        assert not out[5]["keep"] and out[5]["n_lines_kept"] == 0

    def test_pure_column_no_python(self, spark):
        from cloud_data_quality_spark.functions.corpus import c4_line_filter
        df = spark.createDataFrame([(1, "x.")], "doc_id int, text string")
        plan = c4_line_filter(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "EvalPython" not in plan

    def test_crlf_normalized_before_line_split(self, spark):
        """CRLF / lone-CR text must behave exactly like LF text. Without
        normalization a kept line carries a trailing '\\r' (Java regex '$'
        matches BEFORE a final line terminator, so the terminal-punct rule
        still passes) and the stray byte leaks into clean_text — and the
        RE2/DuckDB oracle, whose '$' matches only at end-of-string, drops
        the line instead."""
        from cloud_data_quality_spark.functions.corpus import c4_line_filter
        lf = ("A good long sentence with many words here.\n"
              "Another solid line of reasonable length too!\n"
              "And a third one that also ends properly?")
        out = {r["doc_id"]: r for r in c4_line_filter(spark.createDataFrame(
            [(1, lf), (2, lf.replace("\n", "\r\n")),
             (3, lf.replace("\n", "\r"))],
            "doc_id int, text string")).collect()}
        assert out[1]["keep"] and out[2]["keep"] and out[3]["keep"]
        assert out[2]["clean_text"] == out[1]["clean_text"]
        assert out[3]["clean_text"] == out[1]["clean_text"]
        assert "\r" not in out[2]["clean_text"]


class TestStoreSchemaBackCompat:
    def test_append_into_pre_wave_id_store(self, spark, tmp_path):
        """Regression: a store table created before wave tagging (fp column
        only) must still accept appends — the new column is matched to the
        EXISTING table shape, not forced."""
        from cloud_data_quality_spark.functions.corpus import (
            SeenFingerprintStore)
        table = "old_shape_store"
        spark.sql(f"drop table if exists {table}")
        (spark.createDataFrame([("aa",), ("bb",)], "fp string")
         .write.bucketBy(4, "fp").sortBy("fp")
         .format("parquet").saveAsTable(table))
        store = SeenFingerprintStore(spark, table, n_buckets=4)
        store.append(spark.createDataFrame([("cc",)], "fp string"),
                     wave_id="w1")
        got = sorted(r["fp"] for r in store.read().collect())
        assert got == ["aa", "bb", "cc"]
        assert spark.table(table).columns == ["fp"]
        spark.sql(f"drop table {table}")


class TestParagraphStats:
    def test_hand_computed(self, spark):
        from cloud_data_quality_spark.functions.corpus import paragraph_stats
        # doc 1: paras A(5 chars), B(5), A(5) → n=3, distinct=2,
        # dup_frac=1/3, EXCESS dup chars=(2-1)*5=5, top = 2*5 = 10
        t1 = "aaaaa\n\nbbbbb\n\naaaaa"
        rows = [(1, t1), (2, "solo5"), (3, None), (4, "\n\n  \n\n")]
        out = {r["doc_id"]: r for r in paragraph_stats(
            spark.createDataFrame(rows, "doc_id int, text string")).collect()}
        r1 = out[1]
        assert r1["n_paras"] == 3
        assert r1["dup_para_frac"] == round(1 - 2 / 3, 6)
        assert r1["dup_para_char_frac"] == round(5 / len(t1), 6)
        assert r1["top_para_char_frac"] == round(10 / len(t1), 6)
        r2 = out[2]
        assert (r2["n_paras"], r2["dup_para_frac"]) == (1, 0.0)
        assert r2["top_para_char_frac"] == 1.0
        assert out[3]["n_paras"] == 0 and out[3]["dup_para_frac"] is None
        assert out[4]["n_paras"] == 0  # whitespace-only paragraphs dropped

    def test_pure_column_no_python_no_shuffle(self, spark):
        from cloud_data_quality_spark.functions.corpus import paragraph_stats
        df = spark.createDataFrame([(1, "x\n\ny")], "doc_id int, text string")
        plan = paragraph_stats(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "EvalPython" not in plan and "Exchange" not in plan


class TestStoreCompaction:
    def test_compact_removes_replay_duplicates_keeps_semantics(
            self, spark, tmp_path):
        from cloud_data_quality_spark.functions.corpus import (
            SeenFingerprintStore)
        import shutil
        table = "compact_store_t"
        spark.sql(f"drop table if exists {table}")
        spark.sql(f"drop table if exists {table}__compacting")
        for d in (table, f"{table}__compacting"):
            shutil.rmtree(f"spark-warehouse/{d}", ignore_errors=True)
        store = SeenFingerprintStore(spark, table, n_buckets=4)
        fps = spark.createDataFrame([("a",), ("b",), ("c",)], "fp string")
        store.append(fps, wave_id="w1")
        store.append(fps, wave_id="w1")   # crash-replay re-append
        store.append(fps.limit(1), wave_id="w2")
        assert spark.table(table).count() == 7
        removed = store.compact()
        assert removed == 3               # the replayed w1 rows
        rows = sorted((r["fp"], r["wave_id"])
                      for r in spark.table(table).collect())
        # one row per (fp, wave_id): replay exclusion still sees w1 AND w2
        assert rows == [("a", "w1"), ("a", "w2"), ("b", "w1"), ("c", "w1")]
        # read() exclusion semantics unchanged after the swap
        assert sorted(r["fp"] for r in
                      store.read(exclude_wave="w2").collect()) == \
            ["a", "b", "c"]
        # append still works post-rename and bucket spec survived
        store.append(spark.createDataFrame([("d",)], "fp string"))
        assert spark.table(table).count() == 5
        desc = {r["col_name"]: r["data_type"] for r in
                spark.sql(f"describe extended {table}").collect()}
        assert desc.get("Num Buckets") == "4"
        assert "fp" in desc.get("Bucket Columns", "")
        spark.sql(f"drop table {table}")

    def test_minhash_store_compact(self, spark, tmp_path):
        from cloud_data_quality_spark.functions.corpus import SeenMinhashStore
        import shutil
        table = "compact_mh_t"
        spark.sql(f"drop table if exists {table}")
        spark.sql(f"drop table if exists {table}__compacting")
        for d in (table, f"{table}__compacting"):
            shutil.rmtree(f"spark-warehouse/{d}", ignore_errors=True)
        store = SeenMinhashStore(spark, table, n_buckets=4)
        rows = spark.createDataFrame(
            [(1, 10, [1, 2]), (2, 10, [1, 2])],
            "h long, doc_id long, sig array<long>")
        store.append(rows, wave_id="w")
        store.append(rows, wave_id="w")
        assert store.compact() == 2
        assert spark.table(table).count() == 2
        spark.sql(f"drop table {table}")


class TestTopFractionByScore:
    @pytest.fixture(scope="class")
    def scored(self, spark):
        # many ties so the tie-break matters: score = i % 10
        return spark.createDataFrame(
            [(i, float(i % 10)) for i in range(1000)],
            "doc_id bigint, score double")

    def test_exact_matches_python_replay(self, spark, scored):
        from cloud_data_quality_spark.functions.corpus import (
            top_fraction_by_score)
        got = sorted(r["doc_id"] for r in
                     top_fraction_by_score(scored, 0.25, "score").collect())
        rows = [(i, float(i % 10)) for i in range(1000)]
        want = sorted(i for i, _ in sorted(
            rows, key=lambda t: (-t[1],
                                 hashlib.md5(str(t[0]).encode()).hexdigest())
        )[:250])
        assert got == want

    def test_exact_plan_is_take_ordered_not_global_sort(self, spark, scored):
        from cloud_data_quality_spark.functions.corpus import (
            top_fraction_by_score)
        plan = top_fraction_by_score(scored, 0.1, "score")._jdf \
            .queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan  # no global sort

    def test_approx_mode_bounds(self, spark, scored):
        from cloud_data_quality_spark.functions.corpus import (
            top_fraction_by_score)
        kept = top_fraction_by_score(scored, 0.3, "score", exact=False)
        n = kept.count()
        # threshold filter: everything kept outranks-or-ties everything
        # dropped, and the kept count lands within a tie-block of target
        assert n >= 300
        min_kept = kept.agg(F.min("score")).collect()[0][0]
        dropped_max = scored.exceptAll(kept) \
            .agg(F.max("score")).collect()[0][0]
        assert dropped_max < min_kept + 1e-9

    def test_bad_fraction(self, spark, scored):
        from cloud_data_quality_spark.functions.corpus import (
            top_fraction_by_score)
        with pytest.raises(ValueError):
            top_fraction_by_score(scored, 0.0, "score")


class TestCompactionCrashSafety:
    @pytest.mark.parametrize("store_cls,rows,schema", [
        pytest.param("SeenFingerprintStore", [("a",), ("b",)], "fp string",
                     id="SeenFingerprintStore"),
        pytest.param("SeenMinhashStore", [(1, 10, [1, 2]), (2, 11, [2, 3])],
                     "h long, doc_id long, sig array<long>",
                     id="SeenMinhashStore"),
    ])
    def test_crash_between_renames_self_heals(self, spark, store_cls, rows,
                                              schema):
        """A compact() that died after rename-aside leaves only
        {table}__old; the stores' exists() renames it back, so the next
        wave dedups against full history instead of rebuilding empty."""
        import shutil
        import cloud_data_quality_spark.functions.corpus as C
        table = "crash_store_t"
        for t in (table, f"{table}__old", f"{table}__compacting"):
            spark.sql(f"drop table if exists {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        store = getattr(C, store_cls)(spark, table, n_buckets=4)
        store.append(spark.createDataFrame(rows, schema), wave_id="w")
        # simulate the crash point: store renamed aside, new table missing
        spark.sql(f"alter table {table} rename to {table}__old")
        assert store.exists()  # recovery ran
        assert sorted(tuple(r) for r in store.read().collect()) == \
            sorted(rows)
        spark.sql(f"drop table {table}")

    def test_concurrent_append_aborts_compaction(self, spark, monkeypatch):
        """An append that lands during the distinct rewrite must abort the
        swap with the store untouched."""
        import shutil
        import cloud_data_quality_spark.functions.corpus as C
        table = "race_store_t"
        for t in (table, f"{table}__old", f"{table}__compacting"):
            spark.sql(f"drop table if exists {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        store = C.SeenFingerprintStore(spark, table, n_buckets=4)
        store.append(spark.createDataFrame([("a",)], "fp string"), "w")
        store.append(spark.createDataFrame([("a",)], "fp string"), "w")
        real_spec = C._catalog_bucket_spec

        def racing_spec(sp, t, dc, dn):
            # sneak an append in mid-compaction (after the before-count)
            store.append(spark.createDataFrame([("z",)], "fp string"), "w2")
            return real_spec(sp, t, dc, dn)
        monkeypatch.setattr(C, "_catalog_bucket_spec", racing_spec)
        with pytest.raises(RuntimeError, match="appended to during"):
            store.compact()
        monkeypatch.undo()
        # store untouched (2 original + 1 raced rows), then compacts cleanly
        assert spark.table(table).count() == 3
        assert store.compact() == 1
        spark.sql(f"drop table {table}")

    def test_compact_respects_catalog_bucket_spec(self, spark):
        """compact() rewrites with the table's OWN bucket spec even when
        the operator passes mismatched --buckets."""
        import shutil
        from cloud_data_quality_spark.functions.corpus import (
            SeenFingerprintStore)
        table = "spec_store_t"
        for t in (table, f"{table}__old", f"{table}__compacting"):
            spark.sql(f"drop table if exists {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        SeenFingerprintStore(spark, table, n_buckets=8).append(
            spark.createDataFrame([("a",), ("a",)], "fp string"), "w")
        wrong = SeenFingerprintStore(spark, table, n_buckets=64)
        wrong.compact()
        desc = {r["col_name"]: r["data_type"] for r in
                spark.sql(f"describe extended {table}").collect()}
        assert desc.get("Num Buckets") == "8"
        # the original writer's append still works (spec unchanged)
        SeenFingerprintStore(spark, table, n_buckets=8).append(
            spark.createDataFrame([("b",)], "fp string"), "w2")
        spark.catalog.refreshTable(table)
        # 1 row survived compaction (the (a, w) pair deduped) + 1 appended
        assert spark.table(table).count() == 2
        spark.sql(f"drop table {table}")


class TestDatasetSplit:
    def _docs(self, spark, n=400, parts=4):
        return spark.range(0, n, numPartitions=parts) \
            .selectExpr("id as doc_id")

    def test_exhaustive_exclusive_and_proportions(self, spark):
        from cloud_data_quality_spark.functions.corpus import dataset_split
        df = dataset_split(self._docs(spark, 2000),
                           {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {r["split"]: r["n"] for r in
                  df.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert sum(counts.values()) == 2000          # exhaustive
        assert set(counts) == {"train", "val", "test"}
        assert 0.75 <= counts["train"] / 2000 <= 0.85
        assert 0.06 <= counts["val"] / 2000 <= 0.14

    def test_deterministic_across_partitioning_and_salt(self, spark):
        from cloud_data_quality_spark.functions.corpus import dataset_split
        w = {"train": 0.6, "test": 0.4}
        a = {(r["doc_id"], r["split"]) for r in dataset_split(
            self._docs(spark, 500, parts=2), w).collect()}
        b = {(r["doc_id"], r["split"]) for r in dataset_split(
            self._docs(spark, 500, parts=13), w).collect()}
        assert a == b
        c = {(r["doc_id"], r["split"]) for r in dataset_split(
            self._docs(spark, 500, parts=2), w, salt="other").collect()}
        assert a != c  # salt decorrelates

    def test_weight_validation(self, spark):
        from cloud_data_quality_spark.functions.corpus import dataset_split
        df = self._docs(spark, 10)
        with pytest.raises(ValueError, match="sum to 1"):
            dataset_split(df, {"a": 0.5, "b": 0.6})
        with pytest.raises(ValueError, match="at least two"):
            dataset_split(df, {"a": 1.0})
        with pytest.raises(ValueError, match="negative"):
            dataset_split(df, {"a": 1.2, "b": -0.2})

    def test_no_shuffle_plan(self, spark):
        from cloud_data_quality_spark.functions.corpus import dataset_split
        plan = dataset_split(self._docs(spark, 10),
                             {"train": 0.9, "val": 0.1}) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestDuplicatedNgramStats:
    def test_hand_computed(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            duplicated_ngram_stats)
        # n=3 shingles: doc1 {a b c, b c d}; doc2 {a b c, b c x};
        # doc3 {p q r}; doc4 too short; doc5 NULL
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c x"), (3, "p q r"),
             (4, "t u"), (5, None)],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               duplicated_ngram_stats(df, n=3).collect()}
        assert set(got) == {1, 2, 3, 4}  # NULL text excluded
        assert (got[1]["n_shingles"], got[1]["n_dup_shingles"]) == (2, 1)
        assert got[1]["dup_ngram_frac"] == 0.5
        assert (got[2]["n_shingles"], got[2]["n_dup_shingles"]) == (2, 1)
        assert (got[3]["n_shingles"], got[3]["n_dup_shingles"]) == (1, 0)
        assert got[3]["dup_ngram_frac"] == 0.0
        # too short: zero shingles, NULL fraction
        assert (got[4]["n_shingles"], got[4]["n_dup_shingles"]) == (0, 0)
        assert got[4]["dup_ngram_frac"] is None

    def test_within_doc_repeat_is_not_cross_doc(self, spark):
        """A shingle repeated inside ONE doc only (distinct sets) must not
        count as duplicated — this stat is cross-document by design."""
        from cloud_data_quality_spark.functions.corpus import (
            duplicated_ngram_stats)
        df = spark.createDataFrame(
            [(1, "a b c a b c"), (2, "z z z z")], "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               duplicated_ngram_stats(df, n=3).collect()}
        assert got[1]["n_dup_shingles"] == 0
        assert got[2]["n_dup_shingles"] == 0


class TestIdContractRegressions:
    def test_dataset_split_null_id_raises(self, spark):
        from cloud_data_quality_spark.functions.corpus import dataset_split
        df = spark.createDataFrame([(1,), (None,)], "doc_id long")
        with pytest.raises(Exception, match="non-null id"):
            dataset_split(df, {"a": 0.5, "b": 0.5}).collect()

    def test_sample_hash_null_id_is_null(self, spark):
        """NULL ids must hash NULL (oracle parity) — not md5(salt), which
        would keep/drop every NULL-id row en masse."""
        from cloud_data_quality_spark.functions.corpus import (
            stratified_sample)
        df = spark.createDataFrame(
            [(1, "en"), (None, "en")], "doc_id long, lang string")
        kept = stratified_sample(df, {"en": 1.0}, stratum_col="lang")
        assert [r["doc_id"] for r in kept.collect()] == [1]

    def test_dup_ngram_stats_null_id_excluded(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            duplicated_ngram_stats)
        df = spark.createDataFrame(
            [(1, "a b c"), (None, "a b c")], "doc_id long, text string")
        got = duplicated_ngram_stats(df, n=3).collect()
        assert [r["doc_id"] for r in got] == [1]
        # the NULL-id row is gone entirely, so no cross-doc dup is seen
        assert got[0]["n_dup_shingles"] == 0


class TestTfidfTopTerms:
    def test_scores_and_ranking(self, spark):
        from cloud_data_quality_spark.functions.corpus import tfidf_top_terms
        import math
        rows = [(1, "apple apple banana"),
                (2, "banana cherry"),
                (3, "cherry cherry cherry dates")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = tfidf_top_terms(df, k=2).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # every doc emits <= k rows, ranked 1..k
        assert all([r["rank"] for r in v] == list(range(1, len(v) + 1))
                   for v in by_doc.values())
        # doc 1: apple (tf=2, df=1) dominates banana (tf=1, df=2)
        top1 = by_doc[1][0]
        idf_apple = math.log((1 + 3) / (1 + 1)) + 1
        assert top1["term"] == "apple"
        assert top1["score"] == round(2 * idf_apple, 4)
        # dates (df=1) outranks cherry's idf but not cherry's tf=3 in doc 3
        assert by_doc[3][0]["term"] == "cherry"

    def test_stopwords_and_min_df(self, spark):
        from cloud_data_quality_spark.functions.corpus import tfidf_top_terms
        df = spark.createDataFrame(
            [(1, "the the unique"), (2, "the other")],
            "doc_id long, text string")
        out = tfidf_top_terms(df, k=5, stopwords=["the"]).collect()
        assert "the" not in {r["term"] for r in out}
        only_shared = tfidf_top_terms(df, k=5, min_df=2).collect()
        # "the" is the only term present in both docs
        assert {r["term"] for r in only_shared} == {"the"}

    def test_empty_and_null_text(self, spark):
        from cloud_data_quality_spark.functions.corpus import tfidf_top_terms
        df = spark.createDataFrame(
            [(1, ""), (2, None), (3, "word")], "doc_id long, text string")
        out = tfidf_top_terms(df, k=2).collect()
        assert {r["doc_id"] for r in out} == {3}


class TestHostBoilerplateRemoval:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, url string, text string")

    def test_template_stripped_structure_kept(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            host_boilerplate_removal)
        nav, foot = "NAV MENU", "copyright 2026"
        rows = [(i, f"https://big.test/p/{i}",
                 f"{nav}\nunique body {i}\n\n{foot}") for i in range(4)]
        # small host: template must SURVIVE (below min_docs)
        rows += [(10, "https://tiny.test/x", f"{nav}\nbody\n{foot}")]
        out = {r["doc_id"]: r for r in host_boilerplate_removal(
            self._df(spark, rows), min_docs=3).collect()}
        for i in range(4):
            assert out[i]["clean_text"] == f"unique body {i}\n"
            assert (out[i]["n_lines"], out[i]["n_removed"]) == (4, 2)
        assert out[10]["clean_text"] == f"{nav}\nbody\n{foot}"
        assert out[10]["n_removed"] == 0

    def test_threshold_and_two_doc_floor(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            host_boilerplate_removal)
        # line in 2/4 docs: at max_frac (1,2) → removed; 1/4 → kept
        rows = [(0, "https://h.test/0", "half\na0"),
                (1, "https://h.test/1", "half\na1"),
                (2, "https://h.test/2", "lonely\na2"),
                (3, "https://h.test/3", "a3")]
        out = {r["doc_id"]: r["clean_text"] for r in
               host_boilerplate_removal(self._df(spark, rows),
                                        min_docs=3).collect()}
        assert out[0] == "a0" and out[1] == "a1"
        assert out[2] == "lonely\na2"

    def test_all_boilerplate_doc_and_null(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            host_boilerplate_removal)
        rows = [(i, f"https://h.test/{i}", "same") for i in range(3)]
        rows += [(9, "https://h.test/9", None)]
        out = {r["doc_id"]: r for r in host_boilerplate_removal(
            self._df(spark, rows), min_docs=3).collect()}
        assert out[0]["clean_text"] == "" and out[0]["n_removed"] == 1
        assert out[9]["clean_text"] is None and out[9]["n_lines"] is None


class TestVocabAndOov:
    def test_vocab_rank_and_tiebreak(self, spark):
        from cloud_data_quality_spark.functions.corpus import build_vocabulary
        df = spark.createDataFrame(
            [(1, "b b b a a c c z"), (2, "a c")],
            "doc_id bigint, text string")
        v = {r["term"]: (r["freq"], r["rank"])
             for r in build_vocabulary(df, top_n=3).collect()}
        # a, b, c all tie at freq 3 → term-ascending breaks the tie;
        # z (freq 1) falls off the top-3 cut
        assert v == {"a": (3, 1), "b": (3, 2), "c": (3, 3)}

    def test_oov_edges(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            build_vocabulary,
            oov_stats,
        )
        df = spark.createDataFrame(
            [(1, "a a b weird"), (2, ""), (3, None), (4, "a")],
            "doc_id bigint, text string")
        vocab = build_vocabulary(df, top_n=2)  # {a, b}
        out = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_micro"])
               for r in oov_stats(df, vocab).collect()}
        assert out[1] == (4, 1, 250000)
        # empty / NULL text: zero tokens, NULL rate (no evidence != 0% OOV)
        assert out[2] == (0, 0, None)
        assert out[3] == (0, 0, None)
        assert out[4] == (1, 0, 0)

    def test_vocab_plan_shape(self, spark):
        """Top-N must plan as TakeOrderedAndProject (bounded driver merge),
        and the OOV join must broadcast the vocab — never shuffle the
        token stream against it."""
        from cloud_data_quality_spark.functions.corpus import (
            build_vocabulary,
            oov_stats,
        )
        df = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("w"), (F.col("id") % 7).cast("string"))
            .alias("text"))
        vocab = build_vocabulary(df, top_n=5)
        vplan = vocab._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in vplan
        oplan = (oov_stats(df, vocab)._jdf.queryExecution()
                 .executedPlan().toString())
        assert "BroadcastHashJoin" in oplan


class TestSnapshotDiff:
    def test_statuses(self, spark):
        from cloud_data_quality_spark.functions.hosts import snapshot_diff
        old = spark.createDataFrame(
            [("u1", "same"), ("u2", "before"), ("u3", "gone"),
             ("u5", None)],
            "url string, text string")
        new = spark.createDataFrame(
            [("u1", "same"), ("u2", "after"), ("u4", "fresh"),
             ("u5", None)],
            "url string, text string")
        out = {r["url"]: r["status"]
               for r in snapshot_diff(old, new).collect()}
        assert out == {"u1": "unchanged", "u2": "changed", "u3": "removed",
                       "u4": "added", "u5": "unchanged"}

    def test_null_text_vs_present_text_is_changed(self, spark):
        from cloud_data_quality_spark.functions.hosts import snapshot_diff
        old = spark.createDataFrame([("u", None)], "url string, text string")
        new = spark.createDataFrame([("u", "now")], "url string, text string")
        [r] = snapshot_diff(old, new).collect()
        assert r["status"] == "changed" and r["old_fp"] is None


class TestDedupLinesInDoc:
    def test_first_occurrence_kept_blanks_survive(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            dedup_lines_in_doc,
        )
        text = "lead\nnav\nbody\nnav\n\nlead\ntail"
        df = spark.createDataFrame(
            [("d1", text), ("d2", None), ("d3", "only")],
            "doc_id string, text string")
        out = {r["doc_id"]: r for r in dedup_lines_in_doc(df).collect()}
        assert out["d1"]["clean_text"] == "lead\nnav\nbody\n\ntail"
        assert out["d1"]["n_lines"] == 7
        assert out["d1"]["n_removed"] == 2
        assert out["d2"]["clean_text"] is None
        assert out["d2"]["n_lines"] is None
        assert out["d3"]["clean_text"] == "only"
        assert out["d3"]["n_removed"] == 0

    def test_repeated_blanks_all_kept(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            dedup_lines_in_doc,
        )
        df = spark.createDataFrame(
            [("d", "a\n\n\na")], "doc_id string, text string")
        [r] = dedup_lines_in_doc(df).collect()
        assert r["clean_text"] == "a\n\n"
        assert r["n_removed"] == 1

    def test_zero_shuffle_plan(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            dedup_lines_in_doc,
        )
        df = spark.range(10).selectExpr(
            "cast(id as string) as doc_id", "'x\\ny\\nx' as text")
        plan = (dedup_lines_in_doc(df)._jdf.queryExecution()
                .executedPlan().toString())
        assert "Exchange" not in plan


class TestTemperatureMix:
    def _df(self, spark):
        rows = [(f"a{i}", "big") for i in range(400)] + \
               [(f"b{i}", "mid") for i in range(100)] + \
               [(f"c{i}", "small") for i in range(25)]
        return spark.createDataFrame(rows, "doc_id string, lang string")

    def test_smallest_stratum_kept_in_full(self, spark):
        from cloud_data_quality_spark.functions.corpus import temperature_mix
        out = temperature_mix(self._df(spark), "lang", alpha=0.5)
        counts = {r["lang"]: r["n"] for r in
                  out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert counts["small"] == 25
        # expected kept ~ sqrt(n_min*n_s): big ~ 100, mid ~ 50
        assert 80 <= counts["big"] <= 120
        assert 38 <= counts["mid"] <= 62
        # post-mix ratio big/mid should be ~sqrt(400/100)=2, far below raw 4
        assert counts["big"] / counts["mid"] < 3

    def test_alpha_one_keeps_everything(self, spark):
        from cloud_data_quality_spark.functions.corpus import temperature_mix
        df = self._df(spark)
        assert temperature_mix(df, "lang", alpha=1.0).count() == df.count()

    def test_deterministic(self, spark):
        from cloud_data_quality_spark.functions.corpus import temperature_mix
        a = {r["doc_id"] for r in
             temperature_mix(self._df(spark), "lang").collect()}
        b = {r["doc_id"] for r in
             temperature_mix(self._df(spark), "lang").collect()}
        assert a == b


class TestBm25TopK:
    def _df(self, spark):
        rows = [("d1", "rare common common filler filler"),
                ("d2", "common filler filler filler filler"),
                ("d3", "rare rare common filler filler filler filler"),
                ("d4", "filler filler filler filler"),
                ("d5", None)]
        return spark.createDataFrame(rows, "doc_id string, text string")

    def test_rare_term_dominates_and_order(self, spark):
        from cloud_data_quality_spark.functions.corpus import bm25_topk
        out = bm25_topk(self._df(spark), ["rare", "common"], k=10).collect()
        ids = [r["doc_id"] for r in out]
        # d4 has no query terms (score 0) and d5 is NULL — both absent
        assert set(ids) == {"d1", "d2", "d3"}
        # docs containing the rare term outrank the common-only doc
        assert ids.index("d2") == len(ids) - 1
        scores = [r["score"] for r in out]
        assert scores == sorted(scores, reverse=True)

    def test_k_cut_and_plan_shape(self, spark):
        from cloud_data_quality_spark.functions.corpus import bm25_topk
        q = bm25_topk(self._df(spark), ["rare"], k=1)
        assert q.count() == 1
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Generate" not in plan  # no explode — pure-Column tf


class TestEncodingStats:
    def test_counts_and_flag(self, spark):
        from cloud_data_quality_spark.functions.corpus import encoding_stats
        df = spark.createDataFrame(
            [("d1", "ok text"),
             ("d2", "bad �� tail"),
             ("d3", "​zero‌width\x07ctrl"),
             ("d4", "“curly”"),
             ("d5", None)],
            "doc_id string, text string")
        out = {r["doc_id"]: r for r in encoding_stats(df).collect()}
        assert out["d1"]["is_normalized"] and out["d1"]["n_replacement"] == 0
        assert out["d2"]["n_replacement"] == 2
        # U+FFFD is not normalize-repairable: d2 stays "normalized"
        assert out["d2"]["is_normalized"]
        assert out["d3"]["n_zero_width"] == 2 and out["d3"]["n_ctrl"] == 1
        assert not out["d3"]["is_normalized"]
        assert not out["d4"]["is_normalized"]  # curly quotes map to ASCII
        assert out["d4"]["n_ctrl"] == 0
        assert out["d5"]["n_chars"] is None
        assert out["d5"]["is_normalized"] is None

    def test_zero_shuffle_plan(self, spark):
        from cloud_data_quality_spark.functions.corpus import encoding_stats
        df = spark.range(5).selectExpr("cast(id as string) doc_id",
                                       "'t' as text")
        plan = (encoding_stats(df)._jdf.queryExecution()
                .executedPlan().toString())
        assert "Exchange" not in plan


class TestInvertedIndex:
    def test_postings_and_truncation(self, spark):
        from cloud_data_quality_spark.functions.corpus import inverted_index
        df = spark.createDataFrame(
            [(3, "hot rare"), (1, "hot"), (2, "hot rare rare"), (4, None)],
            "doc_id bigint, text string")
        out = {r["term"]: r for r in
               inverted_index(df, max_df=2).collect()}
        assert out["rare"]["df"] == 2
        assert out["rare"]["postings"] == [2, 3]  # sorted, repeat collapsed
        assert not out["rare"]["truncated"]
        assert out["hot"]["df"] == 3
        assert out["hot"]["postings"] == [] and out["hot"]["truncated"]

    def test_string_ids(self, spark):
        from cloud_data_quality_spark.functions.corpus import inverted_index
        df = spark.createDataFrame([("b", "w"), ("a", "w")],
                                   "doc_id string, text string")
        [r] = inverted_index(df, max_df=10).collect()
        assert r["postings"] == ["a", "b"]


class TestReadabilityStats:
    def test_counts_and_score(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            FLESCH_BASE,
            FLESCH_SENT,
            FLESCH_SYLL,
            readability_stats,
        )
        df = spark.createDataFrame(
            [("d1", "The cat sat. The dog ran!"),
             ("d2", "xyz pqrst"),   # vowel-less words: 1 syllable each
             ("d3", ""), ("d4", None)],
            "doc_id string, text string")
        out = {r["doc_id"]: r for r in readability_stats(df).collect()}
        r = out["d1"]
        assert r["n_words"] == 6 and r["n_sentences"] == 2
        # the/cat/sat/the/dog/ran — one vowel group each
        assert r["n_syllables"] == 6
        expected = round(FLESCH_BASE - FLESCH_SENT * (6 / 2)
                         - FLESCH_SYLL * (6 / 6), 4)
        assert r["flesch"] == expected
        assert out["d2"]["n_syllables"] == 2  # vowel-less floor
        assert out["d2"]["n_sentences"] == 0  # floors to 1 only in score
        assert out["d3"]["n_words"] == 0 and out["d3"]["flesch"] is None
        assert out["d4"]["n_words"] is None and out["d4"]["flesch"] is None

    def test_zero_shuffle_plan(self, spark):
        from cloud_data_quality_spark.functions.corpus import (
            readability_stats)
        df = spark.range(4).selectExpr("cast(id as string) doc_id",
                                       "'a b.' as text")
        plan = (readability_stats(df)._jdf.queryExecution()
                .executedPlan().toString())
        assert "Exchange" not in plan


class TestScriptStats:
    def test_counts_dominant_and_ties(self, spark):
        from cloud_data_quality_spark.functions.corpus import script_stats
        df = spark.createDataFrame(
            [("d1", "hello мир"),          # latin 5 vs cyrillic 3
             ("d2", "你好世界 ok"),          # cjk 4 vs latin 2
             ("d3", "αβ ab"),              # tie 2-2 → latin (declared first)
             ("d4", "1234 !!"),            # no letters
             ("d5", None)],
            "doc_id string, text string")
        out = {r["doc_id"]: r for r in script_stats(df).collect()}
        assert out["d1"]["dominant"] == "latin"
        assert out["d1"]["n_cyrillic"] == 3 and out["d1"]["n_latin"] == 5
        assert out["d2"]["dominant"] == "cjk" and out["d2"]["n_cjk"] == 4
        assert out["d3"]["dominant"] == "latin"  # declaration-order tiebreak
        assert out["d4"]["dominant"] is None and out["d4"]["n_letters"] == 0
        assert out["d5"]["dominant"] is None
        assert out["d5"]["n_letters"] is None

    def test_zero_shuffle_plan(self, spark):
        from cloud_data_quality_spark.functions.corpus import script_stats
        df = spark.range(4).selectExpr("cast(id as string) doc_id",
                                       "'ab' as text")
        plan = (script_stats(df)._jdf.queryExecution()
                .executedPlan().toString())
        assert "Exchange" not in plan
