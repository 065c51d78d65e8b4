"""Dedup ladder + ANN: correctness on constructed cases, LSH vs brute force."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO_ROOT = Path(__file__).resolve().parents[1]

from cloud_data_quality_spark.functions.dedup import (
    dedup_exact,
    embedding_cosine_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_shingles,
)
from cloud_data_quality_spark.functions.similarity import (
    brute_force_topk,
    lsh_bucketed_neighbors,
)

BASE = ("the quick brown fox jumps over the lazy dog while the cat sleeps "
        "near the warm fire and the birds sing in the tall green trees")
NEAR = BASE.replace("green trees", "green tree")          # one-token edit
FAR = ("completely different content about data quality engines running "
       "on spark clusters with adaptive query execution enabled for scale")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE), (2, BASE),                  # exact dup pair
        (3, "  " + BASE.upper() + " "),        # normalized dup of 1 (lower+trim)
        (4, NEAR),                             # near dup of 1
        (5, FAR), (6, None), (7, ""),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestExact:
    def test_exact_duplicates_groups(self, docs):
        groups = {tuple(r["sample_ids"]): r["dup_count"]
                  for r in exact_duplicates(docs).collect()}
        assert ((1, 2, 3) in groups and groups[(1, 2, 3)] == 3)

    def test_exact_duplicates_sample_is_capped_and_exact(self, spark):
        """A hot fingerprint (10^5 copies of one text) yields dup_count exact
        and sample_ids = the sample_k smallest ids — while no aggregation
        buffer ever holds more than ~group/n_salts ids (the two-level salted
        merge; a naive collect_list would hold all 10^5 in ONE buffer row).
        Ids arrive shuffled so the min-of-mins merge is actually exercised."""
        n = 100_000
        hot = (spark.range(n)
               .select((F.xxhash64("id") % n).alias("doc_id"),
                       F.lit("same viral boilerplate text").alias("text")))
        uniq = spark.range(3).select(
            (F.col("id") + 2_000_000).alias("doc_id"),
            F.concat(F.lit("unique-"), F.col("id")).alias("text"))
        out = exact_duplicates(hot.unionByName(uniq), sample_k=5,
                               n_salts=16).collect()
        assert len(out) == 1
        row = out[0]
        assert row["dup_count"] == n
        expected = sorted(r["doc_id"]
                          for r in hot.select("doc_id").collect())[:5]
        assert list(row["sample_ids"]) == expected

    def test_exact_duplicates_hot_key_small_executor_memory(self, tmp_path):
        """The 10^5-copy fingerprint processed in a FRESH JVM capped at 512m
        (local mode: driver == executor memory) — the skew posture holds
        under an actually-small heap, not just on the roomy test session."""
        import json
        import subprocess
        import sys
        script = """
import json
from pyspark.sql import SparkSession, functions as F
from cloud_data_quality_spark.functions.dedup import exact_duplicates
spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.memory", "512m")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .appName("hotkey").getOrCreate())
hot = (spark.range(100_000)
       .select((F.xxhash64("id") % 100_000).alias("doc_id"),
               F.lit("same viral boilerplate text").alias("text")))
rows = exact_duplicates(hot, sample_k=5, n_salts=16).collect()
print(json.dumps({"n_groups": len(rows),
                  "dup_count": rows[0]["dup_count"],
                  "n_sample": len(rows[0]["sample_ids"])}))
"""
        res = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            timeout=300, cwd=str(tmp_path),
            env={**__import__("os").environ,
                 "PYTHONPATH": str(REPO_ROOT)})
        assert res.returncode == 0, res.stderr[-3000:]
        stats = json.loads([ln for ln in res.stdout.splitlines()
                            if ln.startswith("{")][-1])
        assert stats == {"n_groups": 1, "dup_count": 100_000, "n_sample": 5}

    def test_dedup_exact_keeps_min_id(self, docs):
        kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
        # 2,3 dropped as normalized dups of 1; NULL-text row 6 is its own group
        assert kept == [1, 4, 5, 6, 7]


class TestShingleDedup:
    def test_word_shingles(self, spark):
        df = spark.createDataFrame([("a b c d",)], "text string")
        sh = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()[0]["s"]
        assert sorted(sh) == ["a b c", "b c d"]

    def test_minhash_finds_near_dup(self, docs):
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
        assert (1, 4) in pairs and 0.5 < pairs[(1, 4)] < 1.0
        assert not any({a, b} == {1, 5} for a, b in pairs)

    def test_ngram_jaccard_exact(self, docs):
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(docs, jaccard_threshold=0.3).collect()}
        assert pairs[(1, 2)] == 1.0
        assert (1, 4) in pairs

    def test_simhash_near_dup(self, docs):
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in simhash_pairs(docs, max_hamming=10).collect()}
        assert pairs[(1, 2)] == 0
        assert (1, 4) in pairs and pairs[(1, 4)] <= 10
        assert (1, 5) not in pairs

    def test_simhash_bands_pigeonhole(self, docs):
        """n_bands must cover max_hamming (pigeonhole: hamming ≤ n_bands-1
        guarantees a shared band); too few bands is an error, and the
        derived layout always splits all 60 bits."""
        from cloud_data_quality_spark.functions.dedup import simhash_bands
        for nb in (4, 7, 11):
            bands = simhash_bands(nb)
            assert sum(w for _, w in bands) == 60
            assert [off for off, _ in bands] == sorted(off for off, _ in bands)
        with pytest.raises(ValueError, match="n_bands"):
            simhash_pairs(docs, max_hamming=6, n_bands=4)

    def test_ngram_jaccard_blocking_symmetric(self, spark):
        """A higher-id doc one length-bucket SHORTER than its near-dup must
        still be compared (the old one-directional explode only covered the
        higher-id doc being same-or-longer)."""
        words = [c * 5 for c in "abcdefghijkl"]
        long_text = " ".join(words)        # 71 chars → bucket 2
        short_text = " ".join(words[:10])  # 59 chars → bucket 1
        assert len(long_text) // 32 == len(short_text) // 32 + 1
        df = spark.createDataFrame(
            [(1, long_text), (2, short_text)], "doc_id bigint, text string")
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(df, jaccard_threshold=0.3).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] >= 0.3


class TestSharedSignatureBase:
    """minhash_pairs_from_columns: near-dedup over stored signature
    columns (from minhash_columns) — the same bucket join + verify body
    minhash_lsh_pairs runs over its materialized base."""

    def test_arrow_twin_equals_jvm_expressions(self, spark):
        """The Arrow-backed minhash_columns / minhash_sig_longs (r7) must
        be element-wise identical to their pure-expression JVM anchors on
        the corpus plus NULL / empty / sub-n-token texts."""
        from cloud_data_quality_spark.functions.dedup import (
            minhash_columns,
            minhash_columns_jvm,
            minhash_sig_longs,
            minhash_sig_longs_jvm,
        )
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet") \
            .select("doc_id", "text")
        edge = spark.createDataFrame(
            [(99999, None), (99998, ""), (99997, "one two"),
             (99996, "a　b  c\td")],
            "doc_id bigint, text string")
        src = docs.union(edge)
        a = {r["doc_id"]: (tuple(r["hs"]), tuple(r["sig"])) for r in
             src.select("doc_id", *minhash_columns(F.col("text"))).collect()}
        b = {r["doc_id"]: (tuple(r["hs"]), tuple(r["sig"])) for r in
             src.select("doc_id",
                        *minhash_columns_jvm(F.col("text"))).collect()}
        assert a == b
        c = {r["doc_id"]: tuple(r["s"]) for r in src.select(
            "doc_id", minhash_sig_longs(F.col("text")).alias("s")).collect()}
        d = {r["doc_id"]: tuple(r["s"]) for r in src.select(
            "doc_id",
            minhash_sig_longs_jvm(F.col("text")).alias("s")).collect()}
        assert c == d

    def test_equals_text_path(self, spark):
        from cloud_data_quality_spark.functions.dedup import (
            minhash_columns,
            minhash_lsh_pairs,
            minhash_pairs_from_columns,
        )
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet") \
            .select("doc_id", "text")
        hs, sig = minhash_columns(F.col("text"))
        with_sigs = docs.select("*", hs, sig)
        a = sorted(map(tuple, minhash_lsh_pairs(
            docs, jaccard_threshold=0.5).collect()))
        b = sorted(map(tuple, minhash_pairs_from_columns(
            with_sigs, jaccard_threshold=0.5)
            .select("id_a", "id_b", "jaccard").collect()))
        assert a == b and len(a) > 0

    def test_from_columns_plan_has_no_text_scan(self, spark, tmp_path):
        """The consuming stage must not re-shingle: its plan reads the
        stored arrays and contains zero md5 / shingle expressions."""
        from cloud_data_quality_spark.functions.dedup import (
            minhash_columns,
            minhash_pairs_from_columns,
        )
        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e g")],
            "doc_id bigint, text string")
        hs, sig = minhash_columns(F.col("text"))
        path = str(tmp_path / "sigs")
        docs.select("*", hs, sig).write.parquet(path)
        stored = spark.read.parquet(path)
        qe = minhash_pairs_from_columns(stored)._jdf.queryExecution()
        assert "md5" not in qe.optimizedPlan().toString()
        # text column pruned entirely: no scan reads it
        schemas = [line.split("ReadSchema:")[1] for line in
                   qe.executedPlan().toString().splitlines()
                   if "ReadSchema:" in line]
        assert schemas and not any("text" in r for r in schemas), schemas


class TestEmbeddings:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_cosine_pairs_symmetric_threshold(self, spark):
        rows = [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        pairs = {(r["id_a"], r["id_b"]) for r in
                 embedding_cosine_pairs(df, threshold=0.99).collect()}
        assert pairs == {(1, 2)}

    def test_brute_force_topk_shape(self, emb):
        probes = (emb.limit(5)
                  .select(F.col("vec_id").alias("probe_id"), "embedding"))
        out = brute_force_topk(emb, probes, k=3).collect()
        assert len(out) == 15
        by_probe = {}
        for r in out:
            by_probe.setdefault(r["probe_id"], []).append(r)
        for probe, rows in by_probe.items():
            ranks = sorted(r["rank"] for r in rows)
            assert ranks == [1, 2, 3]
            cs = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
            assert cs == sorted(cs, reverse=True)
            assert all(r["neighbor_id"] != probe for r in rows)

    def test_embedding_lsh_pairs_catch_high_cosine(self, spark):
        """Scale-path near-dup pairs: planted near-duplicates must be found
        by the bucketed variant; recall vs brute force on true near-dups."""
        import numpy as np

        from cloud_data_quality_spark.functions.similarity import (
            embedding_lsh_pairs,
        )
        from cloud_data_quality_spark.functions.dedup import (
            embedding_cosine_pairs,
        )
        rng = np.random.Generator(np.random.PCG64(5))
        base = rng.standard_normal((50, 16))
        rows = []
        for i, v in enumerate(base):
            rows.append((i, [float(x) for x in v]))
            if i < 10:  # planted near-dups: tiny perturbation
                rows.append((1000 + i, [float(x) for x in
                                        v + rng.standard_normal(16) * 0.01]))
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        exact = {(r["id_a"], r["id_b"]) for r in
                 embedding_cosine_pairs(df, threshold=0.95).collect()}
        approx = {(r["id_a"], r["id_b"]) for r in
                  embedding_lsh_pairs(df, threshold=0.95, n_planes=8,
                                      n_tables=6, dim=16).collect()}
        assert exact, "fixture must contain near-dup pairs"
        assert len(exact & approx) / len(exact) >= 0.9
        assert approx <= exact  # verification step: no false positives

    def test_lsh_recall_vs_brute_force(self, emb):
        probes = (emb.limit(10)
                  .select(F.col("vec_id").alias("probe_id"), "embedding"))
        exact = brute_force_topk(emb, probes, k=5).collect()
        approx = lsh_bucketed_neighbors(emb, probes, k=5, n_planes=4,
                                        n_tables=8, dim=64).collect()
        exact_set = {(r["probe_id"], r["neighbor_id"]) for r in exact}
        approx_set = {(r["probe_id"], r["neighbor_id"]) for r in approx}
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.5, f"LSH recall too low: {recall}"


class TestBruteForceNpParity:
    def test_np_path_identical_to_jvm(self, spark):
        """The BLAS mapInPandas top-k must match the JVM Column path
        element-wise (same ranks, same rounded cosines)."""
        from cloud_data_quality_spark.functions.similarity import (
            brute_force_topk,
            brute_force_topk_np,
        )
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        probes = (emb.where(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("probe_id"), "embedding"))
        a = brute_force_topk(emb, probes, k=5).orderBy("probe_id", "rank")
        b = brute_force_topk_np(emb, probes, k=5).orderBy("probe_id", "rank")
        assert [tuple(r) for r in a.collect()] == \
               [tuple(r) for r in b.collect()]


class TestDuplicateClusters:
    def test_chained_pairs_form_one_cluster(self, spark):
        """A~B and B~C must land in ONE cluster even though (A,C) was never
        emitted as a pair — pairwise dedup alone under-deletes."""
        from cloud_data_quality_spark.functions.dedup import (
            duplicate_clusters,
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9)], "id_a bigint, id_b bigint")
        got = {r["id"]: r["cluster_id"]
               for r in duplicate_clusters(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    def test_long_chain_converges(self, spark):
        from cloud_data_quality_spark.functions.dedup import (
            duplicate_clusters,
        )
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a bigint, id_b bigint")
        got = {r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
        assert got == {0}  # one 31-node chain → one cluster rooted at min id

    def test_reliable_checkpoint_path(self, spark, tmp_path):
        """With a checkpoint dir configured, each round writes labels to
        reliable storage (survives executor loss, nothing pinned in executor
        memory) — results identical to the localCheckpoint mode."""
        from cloud_data_quality_spark.functions.dedup import (
            duplicate_clusters,
        )
        sc = spark.sparkContext
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9)], "id_a bigint, id_b bigint")
        try:
            sc.setCheckpointDir(str(tmp_path / "ckpt"))
            # default (None) auto-selects reliable now that a dir exists
            got = {r["id"]: r["cluster_id"]
                   for r in duplicate_clusters(pairs).collect()}
            assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
            ckpt_files = list((tmp_path / "ckpt").rglob("*"))
            assert ckpt_files, "reliable checkpoint dir is empty — not used"
        finally:
            sc._jsc.sc().setCheckpointDir(None)  # restore for other tests

    def test_dedup_near_duplicates_keeps_canonical(self, spark, docs):
        from cloud_data_quality_spark.functions.dedup import (
            dedup_near_duplicates,
        )
        pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.3) \
            .select("id_a", "id_b")
        kept = sorted(r["doc_id"]
                      for r in dedup_near_duplicates(docs, pairs).collect())
        # cluster {1,2,4} (exact dup + near-dup chain) → keep 1; doc 3 is the
        # UPPERCASE variant — shingles are case-sensitive so it's unpaired —
        # and 5 (far), 6 (NULL), 7 (empty) are untouched
        assert kept == [1, 3, 5, 6, 7]

    def test_pair_pipeline_evaluates_exactly_once(self, spark):
        """100 TB regression: `pairs` is normally the un-materialized MinHash
        LSH pipeline. edges must be checkpointed at entry so candidate
        generation runs ONCE — not once per pointer-jumping round (the
        accumulator-instrumented pipeline counts its own evaluations; the
        31-node chain needs several rounds, so a re-derivation would tick
        the accumulator 2x-5x)."""
        from pyspark.sql.functions import udf

        from cloud_data_quality_spark.functions.dedup import (
            duplicate_clusters,
        )
        acc = spark.sparkContext.accumulator(0)

        def _tick(x):
            acc.add(1)
            return x

        tick = udf(_tick, "bigint")
        base = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a bigint, id_b bigint")
        pairs = base.select(tick("id_a").alias("id_a"), "id_b")
        got = {r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
        assert got == {0}
        # one evaluation of the pair pipeline: explode emits both edge
        # directions from a single scan, so 30 pairs -> exactly 30 ticks
        assert acc.value == 30, f"pair pipeline evaluated {acc.value / 30}x"

    def test_random_graphs_match_union_find(self, spark):
        """Randomized cross-check: Spark's iterative components vs a plain
        union-find on the driver, over a few seeded random graphs."""
        import numpy as np

        from cloud_data_quality_spark.functions.dedup import (
            duplicate_clusters,
        )

        def union_find(n_nodes, edge_list):
            parent = list(range(n_nodes))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edge_list:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            # canonical: min node id reachable
            return {x: find(x) for x in range(n_nodes)}

        for seed in (1, 2, 3):
            rng = np.random.Generator(np.random.PCG64(seed))
            n, m = 60, 45
            edge_list = [(int(rng.integers(0, n)), int(rng.integers(0, n)))
                         for _ in range(m)]
            edge_list = [(a, b) for a, b in edge_list if a != b]
            pairs = spark.createDataFrame(edge_list, "id_a bigint, id_b bigint")
            got = {r["id"]: r["cluster_id"]
                   for r in duplicate_clusters(pairs).collect()}
            uf = union_find(n, edge_list)
            touched = {a for e in edge_list for a in e}
            # union-find roots are min ids because we always parent the max
            expect = {x: uf[x] for x in touched}
            assert got == expect, f"seed {seed}"


class TestQuadraticGuards:
    def test_guard_raises_beyond_threshold(self, spark):
        from cloud_data_quality_spark.functions.dedup import (
            embedding_cosine_pairs,
            ngram_jaccard_pairs,
        )
        docs = spark.range(50).selectExpr(
            "id as doc_id", "concat('w', id, ' x y z') as text")
        with pytest.raises(ValueError, match="minhash_lsh_pairs"):
            ngram_jaccard_pairs(docs, max_exact_rows=10).count()
        emb = spark.range(50).selectExpr(
            "id as vec_id", "array(cast(id as float), 1.0f) as embedding")
        with pytest.raises(ValueError, match="embedding_lsh_pairs"):
            embedding_cosine_pairs(emb, max_exact_rows=10).count()
        # None disables; small inputs under default threshold just work
        assert embedding_cosine_pairs(emb, threshold=2.0,
                                      max_exact_rows=None).count() == 0

    def test_ann_probe_guard(self, spark):
        """A corpus-sized probe frame must raise naming the scale path, not
        OOM the driver via collect()/broadcast(). All four probe-collecting
        ANN entry points share the guard; the scale path itself
        (lsh_bucketed_neighbors) never collects and takes any size."""
        from cloud_data_quality_spark.functions.ivf_artifact import (
            IVF_CENTROIDS_64)
        from cloud_data_quality_spark.functions.similarity import (
            brute_force_topk, brute_force_topk_np, ivf_topk, ivf_topk_np)
        emb = spark.range(40).selectExpr(
            "id as vec_id", "array(cast(id as float), 1.0f) as embedding")
        big_probes = emb.selectExpr("vec_id as probe_id", "embedding")
        for fn in (brute_force_topk, brute_force_topk_np):
            with pytest.raises(ValueError, match="lsh_bucketed_neighbors"):
                fn(emb, big_probes, max_probes=10)
        for fn in (ivf_topk, ivf_topk_np):
            with pytest.raises(ValueError, match="lsh_bucketed_neighbors"):
                fn(emb, big_probes, IVF_CENTROIDS_64[:, :2], max_probes=10)
        # max_probes=None disables the guard
        assert brute_force_topk(emb, big_probes.limit(2), k=2,
                                max_probes=None).count() > 0


class TestIvfAnn:
    def test_kmeans_deterministic_and_sane(self):
        import numpy as np

        from cloud_data_quality_spark.functions.similarity import (
            kmeans_centroids)
        rng = np.random.RandomState(0)
        X = np.vstack([rng.randn(50, 8) + 5, rng.randn(50, 8) - 5])
        a = kmeans_centroids(X, 2, seed=7)
        b = kmeans_centroids(X, 2, seed=7)
        assert np.array_equal(a, b)
        # the two planted clusters are separated
        assert {tuple(np.sign(c).astype(int)[:1]) for c in a} == {(1,), (-1,)}

    def test_ivf_recall_vs_brute_force(self, spark):
        from cloud_data_quality_spark.functions.ivf_artifact import (
            IVF_CENTROIDS_64)
        from cloud_data_quality_spark.functions.similarity import (
            brute_force_topk, ivf_topk)
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        probes = (emb.where(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("probe_id"), "embedding"))
        exact = brute_force_topk(emb, probes, k=5).collect()
        approx = ivf_topk(emb, probes, IVF_CENTROIDS_64,
                          k=5, n_probe=4).collect()
        exact_set = {(r["probe_id"], r["neighbor_id"]) for r in exact}
        approx_set = {(r["probe_id"], r["neighbor_id"]) for r in approx}
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.5, f"IVF recall too low: {recall}"
        # every emitted cosine is exact (checked against the brute-force
        # cosine for the pairs both paths ranked)
        exact_cos = {(r["probe_id"], r["neighbor_id"]): r["cosine"]
                     for r in exact}
        for r in approx:
            key = (r["probe_id"], r["neighbor_id"])
            if key in exact_cos:
                assert r["cosine"] == exact_cos[key]

    def test_every_vector_assigned_to_one_cell(self, spark):
        from cloud_data_quality_spark.functions.ivf_artifact import (
            IVF_CENTROIDS_64)
        from cloud_data_quality_spark.functions.similarity import ivf_assign
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cells = emb.select(
            ivf_assign(F.col("embedding"), IVF_CENTROIDS_64).alias("cell"))
        stats = cells.groupBy("cell").count().collect()
        assert sum(r["count"] for r in stats) == emb.count()
        assert all(0 <= r["cell"] < 16 for r in stats)
        # the trained quantizer actually spreads the corpus (no mega-cell)
        assert max(r["count"] for r in stats) < emb.count() * 0.5
        assert len(stats) >= 8

    def test_ivf_np_path_identical_to_jvm(self, spark):
        """The BLAS IVF twin must match the JVM-fold path element-wise
        (same cells → same candidates → same ranks and rounded cosines)."""
        from cloud_data_quality_spark.functions.ivf_artifact import (
            IVF_CENTROIDS_64)
        from cloud_data_quality_spark.functions.similarity import (
            ivf_topk, ivf_topk_np)
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        probes = (emb.where(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("probe_id"), "embedding"))
        a = ivf_topk(emb, probes, IVF_CENTROIDS_64, k=5, n_probe=4) \
            .orderBy("probe_id", "rank")
        b = ivf_topk_np(emb, probes, IVF_CENTROIDS_64, k=5, n_probe=4) \
            .orderBy("probe_id", "rank")
        assert [tuple(r) for r in a.collect()] == \
            [tuple(r) for r in b.collect()]


class TestContainmentPairs:
    def test_quote_detected_directionally(self, spark):
        from cloud_data_quality_spark.functions.dedup import containment_pairs
        article = ("alpha beta gamma delta epsilon zeta eta theta iota "
                   "kappa lam mu nu xi omicron pi rho sigma tau")
        quote = "gamma delta epsilon zeta eta theta"
        other = "one two three four five six seven eight nine ten"
        df = spark.createDataFrame(
            [(1, article), (2, quote), (3, other)],
            "doc_id long, text string")
        out = {(r["inner_id"], r["outer_id"]): r for r in
               containment_pairs(df, n=3, containment_threshold=0.9)
               .collect()}
        assert (2, 1) in out                  # quote ⊂ article
        assert out[(2, 1)]["containment"] == 1.0
        assert (1, 2) not in out              # article ⊄ quote
        assert not any(3 in k for k in out)   # unrelated doc clean

    def test_ubiquitous_shingles_capped_not_exploded(self, spark):
        from cloud_data_quality_spark.functions.dedup import containment_pairs
        # every doc shares one boilerplate sentence; with max_shingle_df=2
        # those shingles drop and no pair is reported
        boiler = "subscribe to our newsletter today please"
        df = spark.createDataFrame(
            [(i, f"{boiler} unique{i} uniq{i}x uniq{i}y uniq{i}z")
             for i in range(6)], "doc_id long, text string")
        out = containment_pairs(df, n=3, containment_threshold=0.5,
                                max_shingle_df=2).collect()
        assert out == []

    def test_threshold_validation(self, spark):
        import pytest as _pytest
        from cloud_data_quality_spark.functions.dedup import containment_pairs
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            containment_pairs(df, containment_threshold=0.0)


class TestSemanticDedup:
    def test_copy_evicts_original_natural_corpus_survives(self, spark):
        from cloud_data_quality_spark.functions.ivf_artifact import (
            IVF_CENTROIDS_64)
        from cloud_data_quality_spark.functions.similarity import (
            semantic_dedup)
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet") \
            .select("vec_id", "embedding")
        copies = (emb.where(F.col("vec_id") % 7 == 0)
                  .select((-F.col("vec_id") - 1).alias("vec_id"),
                          "embedding"))
        out = semantic_dedup(emb.unionAll(copies), IVF_CENTROIDS_64,
                             threshold=0.92).collect()
        by_id = {r["vec_id"]: r for r in out}
        n_copies = len([i for i in by_id if i < 0])
        assert n_copies > 0
        # every copy (smaller id) survives; its identical original dropped
        for i in by_id:
            if i < 0:
                orig = -i - 1
                assert by_id[i]["keep"], i
                assert not by_id[orig]["keep"], orig
                assert by_id[i]["cell"] == by_id[orig]["cell"]
        # the natural corpus (max pairwise cosine ~0.48 << 0.92) is intact
        dropped = [i for i, r in by_id.items() if not r["keep"]]
        assert sorted(dropped) == sorted(-i - 1 for i in by_id if i < 0)
        # exactly one row per input id
        assert len(out) == len(by_id)

    def test_join_is_cell_keyed_not_cartesian(self, spark):
        from cloud_data_quality_spark.functions.ivf_artifact import (
            IVF_CENTROIDS_64)
        from cloud_data_quality_spark.functions.similarity import (
            semantic_dedup)
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet") \
            .select("vec_id", "embedding")
        plan = semantic_dedup(emb, IVF_CENTROIDS_64) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_np_twin_element_wise_equal(self, spark):
        """semantic_dedup_np (one dgemm per cell) == semantic_dedup (per-
        pair interpreted fold) on the natural corpus plus injected exact
        copies — every (id, cell, keep) triple identical."""
        from cloud_data_quality_spark.functions.ivf_artifact import (
            IVF_CENTROIDS_64)
        from cloud_data_quality_spark.functions.similarity import (
            semantic_dedup,
            semantic_dedup_np,
        )
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet") \
            .select("vec_id", "embedding")
        copies = (emb.where(F.col("vec_id") % 7 == 0)
                  .select((-F.col("vec_id") - 1).alias("vec_id"),
                          "embedding"))
        src = emb.unionAll(copies)
        jvm = sorted(map(tuple, semantic_dedup(
            src, IVF_CENTROIDS_64, threshold=0.92).collect()))
        gemm = sorted(map(tuple, semantic_dedup_np(
            src, IVF_CENTROIDS_64, threshold=0.92).collect()))
        assert jvm == gemm

    def test_np_twin_zero_norm_and_single_row_cells(self, spark):
        """Zero-norm vectors never drop anything and are never dropped
        (NULL-cosine semantics), in BOTH twins."""
        import numpy as np

        from cloud_data_quality_spark.functions.similarity import (
            semantic_dedup,
            semantic_dedup_np,
        )
        d = 4
        cents = np.array([[1.0, 0, 0, 0], [0, 1.0, 0, 0]])
        rows = [(1, [2.0, 0.1, 0.0, 0.0]),
                (2, [2.0, 0.1, 0.0, 0.0]),   # exact dup of 1, same cell
                (3, [0.0, 0.0, 0.0, 0.0]),   # zero norm
                (4, [0.0, 0.0, 0.0, 0.0]),   # zero norm
                (5, [0.1, 3.0, 0.0, 0.0])]   # alone in cell 1
        df = spark.createDataFrame(
            rows, f"vec_id bigint, embedding array<float>")
        jvm = sorted(map(tuple, semantic_dedup(df, cents, 0.92).collect()))
        gemm = sorted(map(tuple,
                          semantic_dedup_np(df, cents, 0.92).collect()))
        assert jvm == gemm
        keep = {r[0]: r[2] for r in gemm}
        assert keep == {1: True, 2: False, 3: True, 4: True, 5: True}

    def test_np_assign_bit_identical_to_jvm_fold(self, spark):
        """ivf_assign_np_exact (the vectorized sequential-fold twin the np
        dedup path now groups by) must agree with the ivf_assign JVM
        expression on the natural corpus, adversarial random vectors, a
        zero vector, and a NULL embedding (JVM: NULL scores tie-break to
        cell 0)."""
        import numpy as np

        from cloud_data_quality_spark.functions.ivf_artifact import (
            IVF_CENTROIDS_64)
        from cloud_data_quality_spark.functions.similarity import (
            ivf_assign,
            ivf_assign_np_exact,
        )
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet") \
            .select("vec_id", "embedding")
        rng = np.random.default_rng(11)
        Xa = rng.standard_normal((200, 64)).astype(np.float32)
        Xa[0] = 0.0
        extra = spark.createDataFrame(
            [(10_000 + i, [float(x) for x in Xa[i]])
             for i in range(len(Xa))] + [(99_999, None)],
            "vec_id bigint, embedding array<float>")
        src = emb.unionAll(extra)
        jvm = {r["vec_id"]: r["cell"] for r in src.select(
            "vec_id", ivf_assign(F.col("embedding"),
                                 IVF_CENTROIDS_64).alias("cell")).collect()}
        rows = src.collect()
        X = np.array([list(r["embedding"]) for r in rows
                      if r["embedding"] is not None], dtype=np.float64)
        got = ivf_assign_np_exact(X, IVF_CENTROIDS_64)
        k = 0
        for r in rows:
            if r["embedding"] is None:
                assert jvm[r["vec_id"]] == 0
            else:
                assert jvm[r["vec_id"]] == int(got[k])
                k += 1


class TestQuantizedAnn:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")

    def test_quantize_bounds_and_nulls(self, spark):
        from cloud_data_quality_spark.functions.similarity import (
            quantize_embeddings)
        df = spark.createDataFrame(
            [(1, [0.5, -2.0]), (2, [1.0, 0.0]), (3, None)],
            "vec_id bigint, embedding array<float>")
        out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
        assert 3 not in out                      # NULL embedding dropped
        assert out[1]["qvec"] == [32, -127]      # amax=2.0 → scale 63.5
        assert out[2]["qvec"] == [64, 0]
        assert out[1]["scale"] == out[2]["scale"] == 63.5

    def test_recall_vs_float_topk(self, emb):
        from cloud_data_quality_spark.functions.similarity import (
            brute_force_topk_np,
            quantized_topk,
        )
        probes = (emb.where(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("probe_id"), "embedding"))
        exact = brute_force_topk_np(emb, probes, k=5).collect()
        quant = quantized_topk(emb, probes, k=5).collect()
        by_probe_e, by_probe_q = {}, {}
        for r in exact:
            by_probe_e.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
        for r in quant:
            by_probe_q.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
        recalls = [len(by_probe_e[p] & by_probe_q[p]) / 5
                   for p in by_probe_e]
        assert sum(recalls) / len(recalls) >= 0.8  # int8 keeps the ranking

    def test_np_twin_element_wise_equal(self, emb):
        from cloud_data_quality_spark.functions.similarity import (
            quantized_topk,
            quantized_topk_np,
        )
        probes = (emb.where(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("probe_id"), "embedding"))
        jvm = sorted([(r["probe_id"], r["rank"], r["neighbor_id"],
                       r["cos_sim"]) for r in
                      quantized_topk(emb, probes, k=5).collect()])
        gemm = sorted([(r["probe_id"], r["rank"], r["neighbor_id"],
                        r["cos_sim"]) for r in
                       quantized_topk_np(emb, probes, k=5).collect()])
        assert jvm == gemm

    def test_np_twin_custom_probe_col_and_zero_norms(self, spark):
        """Two past twin divergences pinned: (a) a non-default
        probe_id_col used to break the final window (hardcoded
        "probe_id"); (b) zero-norm corpus vectors scored NaN, and with
        >= k zero-norm rows in a batch np.partition's NaN-sorts-largest
        made kth NaN and silently dropped every candidate."""
        from cloud_data_quality_spark.functions.similarity import (
            quantized_topk,
            quantized_topk_np,
        )
        rows = [(i, [float(i + 1), 1.0, 0.5]) for i in range(6)]
        rows += [(10 + i, [0.0, 0.0, 0.0]) for i in range(8)]  # > k zeros
        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>")
        probes = (emb.where(F.col("vec_id") < 2)
                  .select(F.col("vec_id").alias("qid"), "embedding"))
        kw = dict(k=5, probe_id_col="qid")
        jvm = sorted([(r["qid"], r["rank"], r["neighbor_id"], r["cos_sim"])
                      for r in quantized_topk(emb, probes, **kw).collect()])
        gemm = sorted([(r["qid"], r["rank"], r["neighbor_id"], r["cos_sim"])
                       for r in
                       quantized_topk_np(emb, probes, **kw).collect()])
        assert jvm == gemm
        assert len(jvm) == 10  # 2 probes x full top-5 despite zero-norms


class TestBestRepDedup:
    def test_score_representative_and_ties(self, spark):
        from cloud_data_quality_spark.functions.dedup import (
            dedup_near_duplicates)
        df = spark.createDataFrame(
            [(1, "short", 5), (2, "longer text", 11), (3, "longer tex!", 11),
             (4, "solo", 4)],
            "doc_id bigint, text string, score int")
        pairs = spark.createDataFrame([(1, 2), (2, 3)],
                                      "id_a bigint, id_b bigint")
        # min-id default keeps 1; score path keeps 2 (max score, tie → min id)
        kept_min = {r["doc_id"] for r in
                    dedup_near_duplicates(df, pairs).collect()}
        assert kept_min == {1, 4}
        kept_best = {r["doc_id"] for r in
                     dedup_near_duplicates(df, pairs,
                                           score_col="score").collect()}
        assert kept_best == {2, 4}

    def test_string_id_clustering(self, spark):
        from cloud_data_quality_spark.functions.dedup import (
            duplicate_clusters)
        pairs = spark.createDataFrame(
            [("b", "c"), ("a", "b"), ("x", "y")],
            "id_a string, id_b string")
        out = {r["id"]: r["cluster_id"]
               for r in duplicate_clusters(pairs).collect()}
        assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_empty_pairs_terminate_immediately(self, spark):
        """Regression: an empty pair list must converge on round one (an
        empty frame's observed sum is NULL, not 0 — the loop used to spin
        max_iterations rounds of empty checkpoints)."""
        import time
        from cloud_data_quality_spark.functions.dedup import (
            duplicate_clusters)
        pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
        t0 = time.time()
        assert duplicate_clusters(pairs).count() == 0
        assert time.time() - t0 < 60  # 25 empty rounds would take minutes
