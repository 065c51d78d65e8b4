"""Physical-plan assertions — the scale posture, checked mechanically.

These lock in the properties that make the engine viable at 100 TB: filters
reach the parquet scan, small sides broadcast, one scan per entity, no
global (empty-partition-by) windows, codegen'd projections.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPushdownAndPruning:
    def test_row_filter_pushes_to_scan(self, spark, contact_registry):
        from cloud_data_quality_spark.compiler.binding import compile_binding
        from cloud_data_quality_spark.engine.runner import DqEngine
        eng = DqEngine(spark, contact_registry)
        b = compile_binding(contact_registry, "T2_EMAIL")
        _, projected = eng.entity_frame([b], df=eng.read_entity(b))
        plan = plan_of(projected)
        assert "PushedFilters" in plan
        assert "contact_type" in plan.split("PushedFilters")[1][:200]

    def test_column_pruning_reaches_scan(self, spark):
        df = spark.read.parquet(f"{SF}/lineitem.parquet") \
            .select("l_orderkey", "l_quantity").where(F.col("l_quantity") > 30)
        plan = plan_of(df)
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_orderkey" in read_schema and "l_quantity" in read_schema
        assert "l_extendedprice" not in read_schema

    def test_quality_filter_prunes_unused_columns(self, spark, pages_parquet):
        """Counting kept docs must not read the html blobs."""
        from cloud_data_quality_spark.operators.quality_filter import (
            annotate_quality_arrow,
        )
        df = (annotate_quality_arrow(spark.read.parquet(pages_parquet))
              .where(F.col("keep")).select("url"))
        read_schema = plan_of(df).split("ReadSchema:")[1].splitlines()[0]
        assert "html" not in read_schema


class TestJoinStrategies:
    def test_integrity_join_broadcasts_small_side(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        part = spark.read.parquet(f"{SF}/part.parquet").select("p_partkey")
        plan = plan_of(li.join(F.broadcast(part),
                               li.l_partkey == part.p_partkey, "left_semi"))
        assert "BroadcastHashJoin" in plan

    def test_ann_probes_broadcast(self, spark):
        from cloud_data_quality_spark.functions.similarity import brute_force_topk
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        probes = (emb.where(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("probe_id"), "embedding"))
        plan = plan_of(brute_force_topk(emb, probes, k=5))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


class TestSinglePassExecution:
    def test_one_scan_per_binding(self, spark, contact_registry):
        """All bindings of an entity share ONE scan — the fused pass, the
        counts aggregate and the failed-records frame alike (the reference's
        UNION-ALL-per-rule shape would show one scan per rule, a per-binding
        pass one per binding). No Exchange sits between the scan and the
        failed-records output, so the observed metrics are computed in the
        write's own stage."""
        from cloud_data_quality_spark.compiler.binding import compile_binding
        from cloud_data_quality_spark.engine.runner import DqEngine
        eng = DqEngine(spark, contact_registry)
        bindings = [compile_binding(contact_registry, rbid) for rbid in
                    ("T1_VALUE_NOT_NULL", "T2_EMAIL", "T9_INCREMENTAL")]
        q, projected = eng.entity_frame(
            bindings, df=eng.read_entity(bindings[0]))
        counts = projected.selectExpr(f"{q.metric} AS m")
        assert plan_of(counts).count("Scan parquet") == 1
        failed = projected.observe(Observation(), F.expr(q.metric).alias("m")) \
            .selectExpr(*q.failed_records)
        plan = plan_of(failed)
        assert "CollectMetrics" in plan
        assert plan.count("Scan parquet") == 1
        assert "Exchange" not in plan

    def test_no_global_windows_in_summary_path(self, spark, contact_registry):
        """COUNT(*) OVER () transliterations would appear as a Window with an
        empty partition spec — the single-partition trap (SURVEY §2.7)."""
        from cloud_data_quality_spark.plans.registry import _run_dq
        df = _run_dq(spark, "/root/testdata/sf0.001",
                     ["RB_CUSTOMER_ACCTBAL", "RB_ORDERS_DUP"])
        assert "Window" not in plan_of(df)

    def test_partial_aggregation_before_shuffle(self, spark):
        """groupBy counts must show a partial HashAggregate below the
        exchange (map-side combine)."""
        ev = spark.read.parquet(f"{SF}/events.parquet")
        plan = plan_of(ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))
        before_exchange = plan.split("Exchange")[-1]
        assert "HashAggregate" in before_exchange  # partial agg below shuffle

    def test_unigram_vocab_not_hint_broadcast(self, spark):
        """The corpus vocabulary is 10^8+ distinct tokens at web scale — it
        must never be FORCED broadcast. Allowed hints: the single-row total
        scalar (both variants) and the bounded top-K model (topk variant);
        AQE remains free to broadcast the vocab when it actually fits."""
        from cloud_data_quality_spark.plans.registry_corpus import (
            q_unigram_logprob,
            q_unigram_logprob_topk,
        )
        sf = "/root/testdata/sf0.001"
        plain = q_unigram_logprob(spark, sf)._jdf.queryExecution() \
            .analyzed().toString()
        assert plain.count("ResolvedHint") == 1  # __total scalar only
        topk = q_unigram_logprob_topk(spark, sf)._jdf.queryExecution() \
            .analyzed().toString()
        assert topk.count("ResolvedHint") == 2  # top-K model + __total

    def test_whole_stage_codegen_active(self, spark):
        from cloud_data_quality_spark.functions import text as TX
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = docs.select(TX.word_count(F.col("text")).alias("n")).agg(F.sum("n"))
        df.collect()  # AQE finalizes the physical plan only on execution
        assert "*(" in plan_of(df)  # codegen stage markers


class TestRound5PlanShapes:
    def test_dsir_weights_broadcast_and_jvm_only(self, spark):
        """The DSIR JVM plan must broadcast the 2048-row weight table and
        keep the whole scoring path Python-free."""
        from cloud_data_quality_spark.functions.dsir import dsir_scores
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "text")
        plan = plan_of(dsir_scores(docs))
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_tfidf_window_is_per_doc_with_group_limit(self, spark):
        """Top-k ranking partitions by doc id (bounded keys) and Spark's
        WindowGroupLimit prunes to k rows per key BEFORE the shuffle. The
        only SinglePartition allowed is the 1-row corpus-count scalar that
        feeds idf via broadcast."""
        from cloud_data_quality_spark.functions.corpus import tfidf_top_terms
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "text")
        plan = plan_of(tfidf_top_terms(docs, k=3))
        assert "windowspecdefinition(doc_id" in plan
        assert "WindowGroupLimit" in plan
        assert plan.count("Exchange SinglePartition") <= 1

    def test_grouped_percentiles_no_collect_no_single_partition(self, spark):
        from cloud_data_quality_spark.functions.selection import (
            grouped_percentiles_disc)
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("lang", "n_chars")
        plan = plan_of(grouped_percentiles_disc(docs, "n_chars", ["lang"]))
        assert "SinglePartition" not in plan

    def test_extract_links_stays_jvm(self, spark):
        from cloud_data_quality_spark.functions.linkgraph import (
            extract_links)
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", F.col("text").alias("html"))
        plan = plan_of(extract_links(docs))
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


class TestRound5SessionThreePlanShapes:
    def test_bm25_single_scan_broadcast_stats(self, spark):
        """BM25: the corpus stats row reaches the scorer as a broadcast
        (never a shuffle of the corpus on a stats key), the ranked cut is
        TakeOrderedAndProject, and no explode/Generate appears — term
        frequencies are pure Column exprs."""
        from cloud_data_quality_spark.functions.corpus import bm25_topk
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "text")
        plan = plan_of(bm25_topk(docs, ["dup", "key"], k=5))
        assert "TakeOrderedAndProject" in plan
        assert "Generate" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_temperature_mix_corpus_never_shuffles(self, spark):
        """temperature_mix: the only Exchanges belong to the tiny counts
        aggregate; the corpus joins the rate table via broadcast, so no
        Exchange sits between the corpus scan and the output filter."""
        from cloud_data_quality_spark.functions.corpus import temperature_mix
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "lang")
        plan = plan_of(temperature_mix(docs, "lang"))
        assert "BroadcastHashJoin" in plan
        # the corpus-side scan feeds the broadcast join directly: no
        # SortMergeJoin anywhere in this plan
        assert "SortMergeJoin" not in plan

    def test_inverted_index_no_collect_before_cap(self, spark):
        """inverted_index: the df-cap filter must run BEFORE collect_list
        (hot-term postings never materialize); plan order check — the
        filter on df sits below the list aggregation."""
        from cloud_data_quality_spark.functions.corpus import inverted_index
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "text")
        plan = plan_of(inverted_index(docs, max_df=10))
        i_collect = plan.find("collect_list")
        i_cap = plan.find("<= 10")
        assert i_collect != -1 and i_cap != -1
        # physical plans print top-down (output first, inputs below): the
        # cap filter executing BEFORE the list aggregation means it prints
        # AFTER it
        assert i_cap > i_collect


class TestResumePlanShapes:
    def test_resumed_shard_write_anti_joins_the_manifest(
            self, spark, tmp_path, monkeypatch):
        """A resumed write_shards drops committed shards with a broadcast
        left-anti join against the manifest, below the shard shuffle; no
        driver-side IN-list of shard ids reaches the plan."""
        import re

        from pyspark.sql.readwriter import DataFrameWriter

        from cloud_data_quality_spark.functions.selection import (
            global_enumerate)
        from cloud_data_quality_spark.functions.shards import write_shards
        docs = spark.createDataFrame(
            [(f"u{i:04d}", f"doc {i}") for i in range(200)],
            "url string, text string")
        corpus = global_enumerate(docs, ["url"]).localCheckpoint()
        out = str(tmp_path / "s")
        write_shards(corpus, out, 32)
        written = []
        original = DataFrameWriter.parquet

        def record(self, path, *args, **kwargs):
            written.append((path, self._df))
            return original(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", record)
        write_shards(corpus, out, 32)
        plans = {path: plan_of(df) for path, df in written}
        plan = plans[f"{out}/data"]
        assert not re.search(r"shard_id#\d+L? (IN|INSET)", plan), plan
        i_shuffle = plan.find("Exchange hashpartitioning(shard_id")
        i_anti = plan.find("BroadcastHashJoin")
        assert i_shuffle != -1 and i_anti > i_shuffle, plan
        assert "LeftAnti" in plan[i_anti:].splitlines()[0]


class TestMinhashPlanShapes:
    def test_pairs_plan_reads_a_materialized_signature_base(self, spark):
        """minhash_lsh_pairs shingles each doc once, before it returns: the
        pairs plan reads the checkpointed (id, hs, sig) base, so it holds
        neither the Arrow shingle UDF nor a cached relation."""
        from cloud_data_quality_spark.functions.dedup import minhash_lsh_pairs
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "text")
        pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5,
                                  broadcast_verify=True)
        pairs.collect()
        plan = plan_of(pairs)
        assert "ArrowEvalPython" not in plan, plan
        assert "InMemoryRelation" not in plan, plan
