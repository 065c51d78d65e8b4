"""Learned quality classifier (functions/classifier, qc_artifact) and
token-budget selection (functions/selection)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cloud_data_quality_spark.functions import qc_artifact as qa
from cloud_data_quality_spark.functions.classifier import (
    classifier_scores,
    classifier_scores_batch,
)
from cloud_data_quality_spark.functions.selection import select_token_budget
from cloud_data_quality_spark.sources.pages import _row_lang_kind_text


def _sample(seed: int, base: int, n: int, skip_zh: bool = True):
    out = []
    i = base
    while len(out) < n:
        lang, kind, text = _row_lang_kind_text(seed, i)
        i += 1
        if skip_zh and lang == "zh":
            continue
        out.append((kind, text))
    return out


class TestClassifier:
    def test_three_paths_identical(self, spark):
        """JVM plan == Arrow batch twin == reference scorer, including
        NULL/empty/whitespace-only text."""
        texts = [t for _, t in _sample(991, 5_000_000, 60, skip_zh=False)]
        texts += [None, "", "   ", "one", "a b"]
        ref = qa.predict_micro(texts, qa.QC_WEIGHTS_MICRO, qa.QC_BIAS_MICRO)
        batch = classifier_scores_batch(pd.Series(texts))
        assert batch.tolist() == ref.tolist()
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        rows = {r["doc_id"]: r for r in classifier_scores(df).collect()}
        assert [rows[i]["score_micro"] for i in range(len(texts))] == \
            ref.tolist()
        assert all(rows[i]["ml_keep"] == (ref[i] >= 0)
                   for i in range(len(texts)))

    def test_held_out_f1(self):
        """Generalization on ids/seed never seen in training: keep-class F1
        >= 0.9 overall; the four lexical junk classes are near-perfect.
        `repetitive` is EXPECTED to leak through (a linear bag-of-ngrams
        model cannot represent within-doc concentration — the Gopher
        repetition gates own that class)."""
        sample = _sample(777, 2_000_000, 1500)
        scores = classifier_scores_batch(pd.Series([t for _, t in sample]))
        tp = fp = fn = 0
        per_kind: dict[str, list[int]] = {}
        for (kind, _), s in zip(sample, scores):
            pred, truth = s >= 0, kind == "good"
            k = per_kind.setdefault(kind, [0, 0])
            k[0] += int(pred == truth)
            k[1] += 1
            tp += pred and truth
            fp += pred and not truth
            fn += (not pred) and truth
        f1 = 2 * tp / (2 * tp + fp + fn)
        assert f1 >= 0.90, (f1, per_kind)
        for kind in ("pii", "short", "symbol_spam", "toxic"):
            ok, n = per_kind[kind]
            assert ok / n >= 0.95, (kind, ok, n)

    def test_training_deterministic(self):
        w1, b1 = qa.train(n_docs=150, n_iter=40)
        w2, b2 = qa.train(n_docs=150, n_iter=40)
        assert b1 == b2 and np.array_equal(w1, w2)

    def test_jvm_engine_plan_is_jvm_only(self, spark):
        """The declarative engine must stay whole-JVM: broadcast join for
        the weights, no Python evaluation anywhere."""
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = classifier_scores(df, engine="jvm")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "FlatMapsInPandas" not in plan and "InPandas" not in plan

    def test_arrow_engine_is_shuffle_free_and_matches_jvm(self, spark):
        """The default (arrow) engine: one narrow Arrow stage, NO Exchange
        at all, element-wise identical to the jvm engine."""
        rows = [(i, t) for i, t in enumerate(
            [t for _, t in _sample(313, 9_000_000, 40)] + [None, "", "a b"])]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        arrow = classifier_scores(df)  # default engine
        plan = arrow._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan
        assert "Exchange" not in plan
        got_a = {r["doc_id"]: (r["score_micro"], r["ml_keep"])
                 for r in arrow.collect()}
        got_j = {r["doc_id"]: (r["score_micro"], r["ml_keep"])
                 for r in classifier_scores(df, engine="jvm").collect()}
        assert got_a == got_j

    def test_classifier_keep_rule_null_semantics(self):
        from cloud_data_quality_spark.functions.batch_registry import (
            get_batch_function)
        fn = get_batch_function("CLASSIFIER_KEEP")
        good = " ".join(["the of and to in data quality engine table"] * 8)
        out = fn(pd.Series([good, None, "#$%@!*"]), {})
        assert bool(out[0]) is True
        assert pd.isna(out[1])
        assert bool(out[2]) is False


class TestTokenBudgetSelection:
    def _frame(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, score long, n_tokens long")

    def test_matches_window_semantics(self, spark):
        rows = [(i, (i * 37) % 101, (i * 13) % 50 + 1) for i in range(300)]
        got = select_token_budget(self._frame(spark, rows), 2_000,
                                  score_col="score", n_partitions=8)
        # reference: plain python replay of the total order
        order = sorted(rows, key=lambda r: (-r[1], r[0]))
        cum, want = 0, {}
        for did, _, nt in order:
            cum += nt
            if cum <= 2_000:
                want[did] = cum
        assert {r["doc_id"]: r["cum_tokens"] for r in got.collect()} == want

    def test_partitioning_invariance(self, spark):
        rows = [(i, (i * 7) % 23, (i * 11) % 40 + 1) for i in range(500)]
        df = self._frame(spark, rows)
        a = {(r["doc_id"], r["cum_tokens"])
             for r in select_token_budget(df, 3_000,
                                          n_partitions=2).collect()}
        b = {(r["doc_id"], r["cum_tokens"])
             for r in select_token_budget(df, 3_000,
                                          n_partitions=16).collect()}
        assert a == b and a

    def test_strict_prefix_blocks_later_small_docs(self, spark):
        # doc 2 overflows the budget; doc 3 would fit but must NOT be
        # admitted — selection is a prefix of the ranking, not bin packing
        df = self._frame(spark, [(1, 10, 5), (2, 9, 10), (3, 8, 2)])
        got = [r["doc_id"] for r in select_token_budget(df, 7).collect()]
        assert got == [1]

    def test_edges(self, spark):
        df = self._frame(spark, [(1, 5, 10), (2, 4, 10)])
        assert select_token_budget(df, 0).count() == 0
        assert select_token_budget(df, 10**9).count() == 2
        with pytest.raises(ValueError, match="budget_tokens"):
            select_token_budget(df, -1)
        with pytest.raises(ValueError, match="need columns"):
            select_token_budget(df.drop("score"), 10)

    def test_null_rows_dropped(self, spark):
        df = spark.createDataFrame(
            [(1, 5, 10), (2, None, 10), (3, 4, None)],
            "doc_id long, score long, n_tokens long")
        got = [r["doc_id"] for r in select_token_budget(df, 100).collect()]
        assert got == [1]

    def test_reliable_checkpoint_when_dir_configured(self, spark, tmp_path):
        """With a checkpoint dir set (the cluster posture) eager_checkpoint
        reliably checkpoints the ranked frame between the two mapInPandas
        passes — a partition lost to executor failure would otherwise
        recompute through repartitionByRange, re-SAMPLE its range
        boundaries, and silently shift rows between pass-1's offsets and
        pass-2's ids. Results must be identical to the local-checkpoint
        path."""
        rows = [(i, (i * 37) % 101, (i * 13) % 50 + 1) for i in range(300)]
        df = self._frame(spark, rows)
        want = {(r["doc_id"], r["cum_tokens"])
                for r in select_token_budget(df, 2_000,
                                             n_partitions=8).collect()}
        sc = spark.sparkContext
        try:
            sc.setCheckpointDir(str(tmp_path / "ckpt"))
            got = {(r["doc_id"], r["cum_tokens"])
                   for r in select_token_budget(df, 2_000,
                                                n_partitions=8).collect()}
            assert got == want and got
            ckpt_files = list((tmp_path / "ckpt").rglob("*"))
            assert ckpt_files, "checkpoint dir empty — reliable path unused"
        finally:
            sc._jsc.sc().setCheckpointDir(None)  # restore for other tests


class TestReviewRegressions:
    def test_batch_scorer_tolerates_float_nan(self):
        """Missing text as float NaN (plain pandas frames) must score
        bias-only like None, not crash py_tokens."""
        s = pd.Series(["a b", np.nan, None], dtype=object)
        got = classifier_scores_batch(s)
        assert got[1] == qa.QC_BIAS_MICRO and got[2] == qa.QC_BIAS_MICRO

    def test_negative_token_count_raises(self, spark):
        df = spark.createDataFrame(
            [(1, 5, 10), (2, 4, -3)], "doc_id long, score long, n_tokens long")
        with pytest.raises(Exception, match="negative"):
            select_token_budget(df, 100).collect()

    def test_train_and_score_share_feature_enumeration(self):
        toks = ["a", "b", "c"]
        assert list(qa.iter_features(toks)) == ["a", "b", "c", "a b", "b c"]
        # doc_features counts exactly the iter_features multiset
        x = qa.doc_features("a b c")
        assert int(x.sum()) == 5

    def test_ranked_plan_is_range_partitioned(self, spark):
        """The load-bearing plan shape: the global order is RANGE
        partitioned across tasks — never the single-partition exchange a
        naive Window.orderBy translation produces."""
        from cloud_data_quality_spark.functions.selection import _ranked
        df = spark.createDataFrame(
            [(i, i % 7, 3) for i in range(100)],
            "doc_id long, score long, n_tokens long")
        plan = _ranked(df, "score", "doc_id", 8) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" in plan.lower()
        assert "SinglePartition" not in plan
        assert "Window" not in plan


class TestQuantileBuckets:
    def test_hand_computed_terciles(self, spark):
        from cloud_data_quality_spark.functions.selection import (
            quantile_buckets)
        # 9 rows, scores 1..9: targets ceil(9/3)=3, ceil(18/3)=6
        # -> head {1,2,3}, middle {4,5,6}, tail {7,8,9}
        df = spark.createDataFrame([(i, float(i)) for i in range(1, 10)],
                                   "doc_id long, score double")
        got = {r["doc_id"]: r["bucket"]
               for r in quantile_buckets(df, "score").collect()}
        assert got == {1: "head", 2: "head", 3: "head",
                       4: "middle", 5: "middle", 6: "middle",
                       7: "tail", 8: "tail", 9: "tail"}

    def test_ties_cross_boundary(self, spark):
        from cloud_data_quality_spark.functions.selection import (
            quantile_buckets)
        # all rows share one score: the single value reaches every target,
        # so everything lands in the FIRST bucket (score <= boundary)
        df = spark.createDataFrame([(i, 5.0) for i in range(6)],
                                   "doc_id long, score double")
        got = {r["bucket"] for r in quantile_buckets(df, "score").collect()}
        assert got == {"head"}

    def test_validation_and_edges(self, spark):
        from cloud_data_quality_spark.functions.selection import (
            quantile_buckets)
        df = spark.createDataFrame([(1, 1.0)], "doc_id long, score double")
        with pytest.raises(ValueError, match="labels"):
            quantile_buckets(df, "score", cuts=[(1, 2)], labels=["a"])
        with pytest.raises(ValueError, match="proper fraction"):
            quantile_buckets(df, "score", cuts=[(3, 2)],
                             labels=["a", "b"])
        with pytest.raises(ValueError, match="increasing"):
            quantile_buckets(df, "score", cuts=[(2, 3), (1, 3)],
                             labels=["a", "b", "c"])
        with pytest.raises(ValueError, match="distinct"):
            quantile_buckets(
                spark.createDataFrame(
                    [(i, float(i)) for i in range(20)],
                    "doc_id long, score double"),
                "score", max_distinct=5)
        # empty corpus: no boundaries derivable; NULL bucket column
        empty = quantile_buckets(
            df.where("score < 0"), "score")
        assert empty.count() == 0
        assert "bucket" in empty.columns

    def test_deterministic_across_partitioning(self, spark):
        from cloud_data_quality_spark.functions.selection import (
            quantile_buckets)
        rows = [(i, float((i * 13) % 40)) for i in range(400)]
        a = {(r["doc_id"], r["bucket"]) for r in quantile_buckets(
            spark.createDataFrame(rows, "doc_id long, score double")
            .repartition(2), "score").collect()}
        b = {(r["doc_id"], r["bucket"]) for r in quantile_buckets(
            spark.createDataFrame(rows, "doc_id long, score double")
            .repartition(17), "score").collect()}
        assert a == b


class TestGroupedPercentilesDisc:
    def test_hand_computed(self, spark):
        from cloud_data_quality_spark.functions.selection import (
            grouped_percentiles_disc)
        rows = ([("a", v) for v in [10, 20, 30, 40]]          # even n
                + [("b", v) for v in [5, 5, 5, 7, 100]]       # ties + skew
                + [("c", 1)]                                  # singleton
                + [("d", None)])                              # all-NULL
        df = spark.createDataFrame(rows, "g string, v int")
        got = {r["g"]: (r["p50"], r["p90"]) for r in
               grouped_percentiles_disc(df, "v", ["g"]).collect()}
        # a: n=4 → p50 target ceil(2)=2 → 20; p90 target ceil(3.6)=4 → 40
        assert got["a"] == (20, 40)
        # b: n=5 → p50 target 3 → 5; p90 target ceil(4.5)=5 → 100
        assert got["b"] == (5, 100)
        assert got["c"] == (1, 1)
        assert "d" not in got  # all-NULL group vanishes

    def test_partitioning_invariance_and_validation(self, spark):
        import pytest as _pytest

        from cloud_data_quality_spark.functions.selection import (
            grouped_percentiles_disc)
        rows = [(f"g{i % 3}", (i * 7) % 50) for i in range(200)]
        df = spark.createDataFrame(rows, "g string, v int")
        a = sorted(map(tuple, grouped_percentiles_disc(df, "v", ["g"]).collect()))
        b = sorted(map(tuple, grouped_percentiles_disc(
            df.repartition(17), "v", ["g"]).collect()))
        assert a == b
        with _pytest.raises(ValueError):
            grouped_percentiles_disc(df, "v", ["g"], (("bad", 3, 2),))


class TestDsir:
    def test_artifact_fresh(self):
        """Embedded weights == retrained weights, bit-for-bit (the same
        freshness contract as the qc/bpe artifacts)."""
        import numpy as np

        from cloud_data_quality_spark.functions.dsir_artifact import (
            DSIR_WEIGHTS_MICRO, train)
        got = train()
        assert got.dtype == np.int64
        assert np.array_equal(got, DSIR_WEIGHTS_MICRO)

    def test_spark_matches_reference_and_separates(self, spark):
        from cloud_data_quality_spark.functions.dsir import dsir_scores
        from cloud_data_quality_spark.functions.dsir_artifact import (
            score_micro)
        from cloud_data_quality_spark.sources.pages import (
            _row_lang_kind_text)
        rows, kinds = [], {}
        i = 9_500_000
        while len(rows) < 60:
            lang, kind, text = _row_lang_kind_text(99, i)
            i += 1
            if lang == "zh":
                continue
            rows.append((len(rows), text))
            kinds[len(rows) - 1] = kind
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["dsir_micro"], r["n_feats"])
               for r in dsir_scores(df).collect()}
        ref = score_micro([t for _, t in rows])
        assert [got[i][0] for i in range(len(rows))] == ref
        good = [got[i][0] for i, k in kinds.items() if k == "good"]
        junk = [got[i][0] for i, k in kinds.items() if k != "good"]
        assert sum(good) / len(good) > sum(junk) / len(junk)

    def test_empty_and_null_text(self, spark):
        from cloud_data_quality_spark.functions.dsir import dsir_scores
        df = spark.createDataFrame([(1, ""), (2, None), (3, "word word")],
                                   "doc_id long, text string")
        got = {r["doc_id"]: (r["dsir_micro"], r["n_feats"])
               for r in dsir_scores(df).collect()}
        assert got[1] == (0, 0) and got[2] == (0, 0)
        assert got[3][1] == 3  # 2 unigrams + 1 bigram

    def test_arrow_engine_matches_jvm(self, spark):
        from cloud_data_quality_spark.functions.dsir import (
            dsir_scores, dsir_scores_arrow)
        from cloud_data_quality_spark.sources.pages import (
            _row_lang_kind_text)
        rows = [(i, _row_lang_kind_text(7, 10_000_000 + i)[2])
                for i in range(40)] + [(98, ""), (99, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        jvm = {r["doc_id"]: (r["dsir_micro"], r["n_feats"])
               for r in dsir_scores(df).collect()}
        arrow = {r["doc_id"]: (r["dsir_micro"], r["n_feats"])
                 for r in dsir_scores_arrow(df).collect()}
        assert jvm == arrow


class TestGlobalEnumerate:
    def test_positions_match_window_and_partitioning_invariant(self, spark):
        from cloud_data_quality_spark.functions.selection import (
            global_enumerate)
        rows = [(i, (i * 37) % 101) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id bigint, key bigint")
        expected = {i: ((i * 37) % 101) for i in range(300)}
        order = sorted(expected, key=lambda i: (expected[i], i))
        want = {doc: pos + 1 for pos, doc in enumerate(order)}
        for parts in (1, 7):
            got = {r["doc_id"]: r["position"] for r in
                   global_enumerate(df.repartition(parts),
                                    ["key", "doc_id"]).collect()}
            assert got == want, f"parts={parts}"

    def test_missing_order_column_raises(self, spark):
        from cloud_data_quality_spark.functions.selection import (
            global_enumerate)
        df = spark.range(3).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError, match="order column"):
            global_enumerate(df, ["nope"])
