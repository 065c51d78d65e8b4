"""Deduplication operators over a document table.

CloudDQ's only dedup surface is the group-by-having self-join rule
(configs/rules/complex-rules.yml:17-32). A web-scale training-data pipeline
needs the full ladder; each level here is a DataFrame composition (no UDFs in
the hot path):

* exact_duplicates       — md5(normalized text) groupBy; one shuffle on a
                           16-byte key, skew-safe (hash keys are uniform).
* minhash_lsh_pairs      — bottom-k MinHash via md5 shingle hashes: each of
                           the k minimum hashes is an LSH bucket key; docs
                           sharing any bucket become candidate pairs, then
                           exact shingle-Jaccard verifies. Scales as
                           O(candidates), not O(n²): the join is on bucket
                           hash (uniformly distributed → no skew), and
                           verification touches only candidates.
* simhash64              — 60-bit SimHash from md5(token) bit-vote; hamming
                           band join for near-dup candidates.
* ngram_jaccard_pairs    — exact word-n-gram Jaccard within a length bucket
                           (the small-n exact baseline the LSH variant
                           approximates).
* embedding_cosine_pairs — near-dup by cosine over an embedding column.

Portability note: hashing uses md5 (bit-identical in Spark, DuckDB, BigQuery)
rather than xxhash64 (Spark-only), so every operator has an exact SQL oracle.
At 100 TB scale md5 costs ~2× xxhash64 per shingle but both are negligible
next to the shuffle; a production fork can swap in xxhash64 behind the same
API.
"""

from __future__ import annotations

# module-level: pandas_udf resolves 'pd.Series'/'pd.DataFrame' type hints
# through the enclosing function's GLOBALS (same trap as cli.py:39-42)
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloud_data_quality_spark.functions.text import fingerprint, tokens


def guard_exact_baseline(df: DataFrame, operator: str, scale_path: str,
                         max_exact_rows: int | None) -> DataFrame:
    """Refuse to run a deliberately-quadratic exact baseline on an input
    that is clearly too big for it. The check is bounded (limit+count — it
    stops scanning at the threshold, never counts the full table) and
    disabled with max_exact_rows=None for callers who know what they're
    doing. Failing fast with the name of the bucketed scale path beats an
    executor-melting O(n²) join a user discovers hours in."""
    if max_exact_rows is None:
        return df
    probe = df.limit(max_exact_rows + 1).count()
    if probe > max_exact_rows:
        raise ValueError(
            f"{operator} is an exact quadratic baseline; input exceeds "
            f"max_exact_rows={max_exact_rows}. Use {scale_path} at scale, "
            f"or pass max_exact_rows=None to force.")
    return df


def ensure_min_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Small inputs often arrive as one parquet file → one partition, which
    serializes the expensive narrow stages (per-doc shingling + k·md5).
    Repartition up to the session's parallelism when under-partitioned; the
    round-robin shuffle of raw rows is far cheaper than single-threading the
    shingle stage."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and truncate its lineage: a reliable
    checkpoint into the session's checkpoint dir when one is configured
    (sparkContext.setCheckpointDir — survives executor loss and pins no
    executor memory, the right mode for long cluster runs), else
    localCheckpoint (fastest, single-box / short jobs — an executor loss
    restarts the whole computation).

    The package's one way to pin a frame that more than one job or plan
    branch reads: nothing registers with the session's CacheManager, so a
    long session accumulates no cache entries to release. The single
    exception is engine/pipeline.ResumableCurationPipeline._unit_stage's
    fused-unit barrier, a persist that run() releases after the unit's
    write (lost blocks recompute instead of failing the unit)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


# ---------------------------------------------------------------- exact

def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", sample_k: int = 10,
                     n_salts: int = 64) -> DataFrame:
    """Groups of byte-equal (normalized) text: (fingerprint, dup_count,
    sample_ids = the sample_k smallest member ids, sorted). Only groups with
    >1 member.

    Skew posture: a naive collect_list(id) per fingerprint materializes ONE
    aggregation-buffer row holding every member id — a viral boilerplate page
    with 10^7 copies OOMs the executor that owns that key (a single buffer
    row can't spill). Instead the sample is built in two salted levels:
      level 1 groups on (fp, hash(id) % n_salts) and keeps the sample_k
        smallest ids per salt — each buffer holds at most its salt's share
        of the group (~group/n_salts) transiently and emits <= sample_k ids;
      level 2 merges the <= n_salts partial samples per fp (buffer bound
        n_salts * sample_k ids) and re-takes the global sample_k smallest.
    min-of-mins is exact: the k smallest overall are each the smallest
    within their own salt, so the merged sample equals
    slice(sort(all_ids), 1, k). Counts sum exactly."""
    fp = fingerprint(F.col(text_col)).alias("fp")
    partial = (
        df.where(F.col(text_col).isNotNull())
        .select(fp, F.col(id_col),
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).alias("__salt"))
        .groupBy("fp", "__salt")
        .agg(F.count(F.lit(1)).alias("__cnt"),
             F.slice(F.array_sort(F.collect_list(id_col)), 1, sample_k)
              .alias("__ids"))
    )
    return (
        partial.groupBy("fp")
        .agg(F.sum("__cnt").alias("dup_count"),
             F.slice(F.array_sort(F.flatten(F.collect_list("__ids"))),
                     1, sample_k).alias("sample_ids"))
        .where(F.col("dup_count") > 1)
    )


def _canonical_min_id(df: DataFrame, text_col: str, id_col: str,
                      fp_col: str) -> DataFrame:
    """The min-id row per fingerprint group, fingerprint in ``fp_col``:
    groupBy-min + semi join (two narrow shuffles on uniform keys), not a
    global window (which would sort every partition)."""
    # NULL text is never a duplicate: give it a per-row sentinel key so the
    # equi semi-join (NULL != NULL) can't drop it
    with_fp = df.withColumn(
        fp_col,
        F.coalesce(fingerprint(F.col(text_col)),
                   F.concat(F.lit("__null__"), F.col(id_col).cast("string"))))
    keep = with_fp.groupBy(fp_col).agg(F.min(id_col).alias(id_col))
    return with_fp.join(keep, [fp_col, id_col], "left_semi")


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per fingerprint group."""
    return _canonical_min_id(df, text_col, id_col, "__fp").drop("__fp")


# ---------------------------------------------------------------- shingles

def word_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings (distinct)."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    # sequence(0, negative) would DESCEND — guard docs shorter than n tokens
    return F.when(F.size(toks) < n, F.array().cast("array<string>")) \
            .otherwise(F.array_distinct(grams))


def _shingle_hexes(text, n: int) -> list[str]:
    """Sorted md5 hex digests of a doc's distinct word n-gram shingles —
    the Python twin of array_sort(transform(word_shingles(col,n), md5)).
    py_tokens IS the tokenizer-parity function; set == array_distinct;
    Python's str sort == Spark's binary sort on lowercase-hex ASCII."""
    import hashlib
    from cloud_data_quality_spark.functions.text import py_tokens
    toks = py_tokens(text if isinstance(text, str) else None)
    if len(toks) < n:
        return []
    seen = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    md5 = hashlib.md5
    return sorted(md5(s.encode("utf-8")).hexdigest() for s in seen)


def minhash_sig_longs(col: Column, n: int = 3, k: int = 8) -> Column:
    """Bottom-k sketch as 60-bit longs: md5 hex digests of shingles, sorted,
    sliced to k, truncated to the 15-hex-char prefix (hex sort order ==
    numeric order of the truncation, and the oracle replays the identical
    ('0x'||substr(md5,1,15))::BIGINT). The compact sketch is what the
    incremental near-dup store persists per document: k longs = 64 bytes at
    k=8, vs the full shingle set (unbounded — 10 KB+ for long docs), which
    is what makes a 10^12-doc history store feasible.

    Arrow-backed since r7: the shingle+md5 chain as interpreted JVM
    higher-order functions measured 12× slower per core than the Python
    twin (hashlib md5 + a set per doc); minhash_sig_longs_jvm keeps the
    expression form as the parity anchor (pytest pins them equal)."""

    @F.pandas_udf("array<bigint>")
    def _sig(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [[int(h[:15], 16) for h in _shingle_hexes(t, n)[:k]]
             for t in texts], index=texts.index)
    return _sig(col)


def minhash_sig_longs_jvm(col: Column, n: int = 3, k: int = 8) -> Column:
    """Pure-expression form of minhash_sig_longs (the oracle-parity
    anchor the Arrow path is pytest-pinned against)."""
    hashes = F.array_sort(F.transform(word_shingles(col, n), F.md5))
    return F.transform(F.slice(hashes, 1, k),
                       lambda h: F.conv(F.substring(h, 1, 15), 16, 10)
                                  .cast("bigint"))


def sketch_jaccard(sig_a: Column, sig_b: Column, k: int = 8) -> Column:
    """Bottom-k Jaccard estimator from two bottom-k sketches:
    J ≈ |K_k(A∪B) ∩ A ∩ B| / |K_k(A∪B)| where K_k is the k smallest
    distinct hashes of the union. Every h ∈ K_k(union) that belongs to A is
    necessarily in bottom-k(A) (it is smaller than A's k-th smallest), so
    the estimator is computable from the sketches alone — the standard
    bottom-k resemblance estimate (unbiased; granularity 1/k). Exactly
    replayable in DuckDB via list_sort/list_distinct/list_intersect."""
    union_k = F.slice(F.array_sort(F.array_distinct(F.concat(sig_a, sig_b))),
                      1, k)
    inter = F.array_intersect(sig_a, sig_b)
    return (F.size(F.array_intersect(union_k, inter)).cast("double")
            / F.nullif(F.size(union_k), F.lit(0)))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 8,
    jaccard_threshold: float = 0.5,
    broadcast_verify: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) via bottom-k MinHash
    bucketing + exact Jaccard verification on candidates.

    Plan shape at scale: explode k hashes per doc → self-join on hash (bucket
    keys are md5 values: uniform, no skew) → distinct candidate pairs →
    re-join shingle sets → exact Jaccard filter. The only wide ops are the
    bucket join and the candidate dedupe; both shuffle uniformly-distributed
    keys.

    broadcast_verify: hint the shingle table broadcast into the verify joins.
    Small corpora benefit (two shuffle exchanges saved); leave False at
    scale — the decision is the caller's (a plan-time count() here would
    trigger an extra job per call)."""
    base = (
        ensure_min_partitions(df.where(F.col(text_col).isNotNull()))
        .select(F.col(id_col).alias("id"),
                *minhash_columns(F.col(text_col), n, k))
    )
    # shingling + md5 per doc is the expensive narrow stage and the plan
    # reads it from three subtrees (bucket explode + both verify sides):
    # materialize it once. The checkpoint also cuts the lineage, so the
    # pairs plan re-runs neither the Arrow shingle UDF nor pins a cached
    # relation that no caller would unpersist.
    return minhash_pairs_from_columns(
        eager_checkpoint(base), id_col="id",
        jaccard_threshold=jaccard_threshold,
        broadcast_verify=broadcast_verify)


def minhash_columns(text: Column, n: int = 3, k: int = 8) -> list[Column]:
    """The per-doc MinHash payload as two Columns — `hs` (every shingle's
    60-bit md5 prefix as a long: the exact-Jaccard verify payload at ~1/5
    the bytes of 32-hex strings) and `sig` (the bottom-k of the sorted
    hashes: the LSH bucket keys). minhash_lsh_pairs computes them from
    the text; exposed so a caller that stores them can run
    minhash_pairs_from_columns over the stored arrays.

    Arrow-backed since r7 (12× per core vs the interpreted HOF chain —
    see minhash_sig_longs); both fields come off ONE struct-returning
    pandas UDF expression, so the shingle pass still runs once per row.
    minhash_columns_jvm keeps the expression form as the parity anchor."""
    @F.pandas_udf("hs array<bigint>, sig array<string>")
    def _sig(texts: pd.Series) -> pd.DataFrame:
        hs_out, sig_out = [], []
        for t in texts:
            hexes = _shingle_hexes(t, n)
            hs_out.append([int(h[:15], 16) for h in hexes])
            sig_out.append(hexes[:k])
        return pd.DataFrame({"hs": hs_out, "sig": sig_out},
                            index=texts.index)
    s = _sig(text)
    return [s["hs"].alias("hs"), s["sig"].alias("sig")]


def minhash_columns_jvm(text: Column, n: int = 3, k: int = 8) -> list[Column]:
    """Pure-expression form of minhash_columns (oracle-parity anchor)."""
    hashes = F.array_sort(F.transform(word_shingles(text, n), F.md5))
    return [
        F.transform(hashes, lambda h: F.conv(
            F.substring(h, 1, 15), 16, 10).cast("bigint")).alias("hs"),
        F.slice(hashes, 1, k).alias("sig"),
    ]


def _verified_jaccard(joined: DataFrame,
                      jaccard_threshold: float) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs (id_a, id_b, sh_a, sh_b) →
    (id_a, id_b, jaccard) with jaccard = round(|A∩B| / |A∪B|, 6) ≥
    jaccard_threshold."""
    # cheap size-bound prefilter: jaccard <= min(|A|,|B|)/max(|A|,|B|), so
    # pairs failing the ratio can't reach the threshold — skip their
    # array_intersect entirely (identical result set, big constant win)
    size_ok = (F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
               / F.greatest(F.size("sh_a"), F.size("sh_b"))
               >= jaccard_threshold)
    joined = joined.where(size_ok)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / F.nullif(union, F.lit(0))
    return (
        joined.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def minhash_pairs_from_columns(
    df: DataFrame,
    id_col: str = "doc_id",
    hs_col: str = "hs",
    sig_col: str = "sig",
    jaccard_threshold: float = 0.5,
    broadcast_verify: bool = False,
) -> DataFrame:
    """minhash_lsh_pairs over signature columns already at hand (from
    minhash_columns): a stored table of them, or the materialized base
    minhash_lsh_pairs builds. Zero text scans, zero md5 — the bucket join
    and the exact-Jaccard verify run straight off the arrays. Identical
    results to minhash_lsh_pairs by construction (same expressions, same
    60-bit truncation, same threshold contract)."""
    base = df.select(F.col(id_col).alias("id"),
                     F.col(hs_col).alias("hs"), F.col(sig_col).alias("sig"))
    # empty-shingle filter sits ABOVE the materialized base: written below
    # minhash_lsh_pairs' projection, Catalyst pushes `size(hs) >= 1` into
    # the parquet scan, re-inlining the whole shingle tree into the
    # pre-repartition single-file stage (measured: 3.6 s single-threaded
    # at sf0.1). Here it is a cheap size() over stored arrays.
    base = base.where(F.size("hs") >= 1)
    buckets = base.select("id", F.explode("sig").alias("h"))
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), "h")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh = base.select(F.col("id"), F.col("hs"))
    if broadcast_verify:
        sh = F.broadcast(sh)
    joined = (
        cand
        .join(sh.withColumnRenamed("id", "id_a")
                .withColumnRenamed("hs", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b")
                .withColumnRenamed("hs", "sh_b"), "id_b")
    )
    return _verified_jaccard(joined, jaccard_threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    jaccard_threshold: float = 0.5,
    length_bucket: int = 32,
    max_exact_rows: int | None = 500_000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs, blocked by character-length bucket so the
    self-join is bucket-local (near-dups have near-equal length; docs whose
    lengths differ by more than one bucket can't clear a high threshold).
    O(bucket²) worst case — the SMALL-N EXACT BASELINE that
    minhash_lsh_pairs is recall-tested against; refuses inputs beyond
    max_exact_rows (bounded probe; None disables).
    Compares pairs within the same or adjacent bucket, SYMMETRICALLY: the
    exploded side covers lb-1/lb/lb+1, so a pair is compared whenever
    |lb_a - lb_b| <= 1 regardless of which doc has the lower id (the
    two-bucket explode only caught the higher-id doc being same-or-longer)."""
    df = guard_exact_baseline(df, "ngram_jaccard_pairs",
                              "minhash_lsh_pairs", max_exact_rows)
    base = (
        ensure_min_partitions(df.where(F.col(text_col).isNotNull()))
        .select(F.col(id_col).alias("id"),
                word_shingles(F.col(text_col), n).alias("sh"),
                (F.floor(F.length(text_col) / length_bucket)).alias("lb"))
    )
    # No `size(sh) >= 1` filter (it would be pushed into the scan,
    # re-inlining the shingle tree single-threaded — see minhash_lsh_pairs):
    # an empty-shingle doc can only yield jaccard NULL (vs another empty) or
    # 0.0, both below any positive threshold, so results are identical for
    # jaccard_threshold > 0 (the only meaningful regime).
    # candidate blocks: |Δbucket| ≤ 1 in either direction
    blocked = base.select(
        "id", "sh",
        F.explode(F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1))
         .alias("blk"))
    a, b = blocked.alias("a"), base.alias("b")
    joined = (
        a.join(b, F.col("a.blk") == F.col("b.lb"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verified_jaccard(joined, jaccard_threshold)


# ---------------------------------------------------------------- simhash

def simhash60(col: Column, band_bits: int = 15) -> Column:
    """60-bit SimHash over word tokens. Each token's hash = first 15 hex
    chars of md5 (60 bits, fits a signed bigint via conv). Bit-vote is
    expressed as a fold over tokens with a 60-slot vote array — all built-in
    higher-order functions, JVM-side."""
    toks = F.array_distinct(tokens(col))
    h = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15),
                                           16, 10).cast("bigint"))
    # votes[i] = count of tokens with bit i set, minus count without.
    # shiftright needs a literal bit index, so the 60 bit extracts are a
    # Python-level loop producing one array expression (still one JVM pass).
    votes = F.aggregate(
        h,
        F.array_repeat(F.lit(0), 60),
        lambda acc, v: F.zip_with(
            acc,
            F.array(*[F.shiftright(v, i).bitwiseAND(F.lit(1)) for i in range(60)]),
            lambda a, bit: a + F.when(bit == F.lit(1), 1).otherwise(-1),
        ),
    )
    out = F.lit(0).cast("bigint")
    for i in range(60):
        out = out + F.when(F.element_at(votes, i + 1) > 0,
                           F.lit(1 << i).cast("bigint")).otherwise(F.lit(0))
    return out


def simhash_bands(n_bands: int, bits: int = 60) -> list[tuple[int, int]]:
    """(bit_offset, width) per band, splitting `bits` as evenly as possible
    (first bits % n_bands bands get one extra bit). Shared between the Spark
    plan and the generated DuckDB oracle so the band layout can't drift."""
    w, r = divmod(bits, n_bands)
    out, off = [], 0
    for i in range(n_bands):
        width = w + (1 if i < r else 0)
        out.append((off, width))
        off += width
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 4,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60-bit hash; pairs sharing any
    band are candidates; verify with exact popcount.

    Pigeonhole completeness: a pair with hamming ≤ n_bands-1 must share at
    least one band, so n_bands defaults to max_hamming+1 — EVERY pair within
    max_hamming is emitted. An explicit n_bands < max_hamming+1 would
    silently miss pairs and is rejected.

    Scale limit (the completeness/selectivity trade-off is intrinsic to
    single-hash SimHash banding): band keyspace is 2^(60/n_bands), so
    max_hamming=6 → 7 bands of 8-9 bits → only 256-512 distinct values per
    band, and on a large corpus nearly every pair shares SOME band —
    candidate generation degrades toward the quadratic self-join. Keep
    max_hamming ≤ 3 at web scale (15-bit bands, 32k keys), or use
    minhash_lsh_pairs, whose bucket keyspace (md5 digests) never collapses.
    A production fork wanting deep-hamming SimHash needs a wider hash
    (128-bit) or multi-probe AND-composed bands; the 60-bit variant here is
    bounded by DuckDB-oracle portability (SURVEY §2.9 md5 trick)."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"n_bands={n_bands} only guarantees pairs up to hamming "
            f"{n_bands - 1}; need n_bands >= max_hamming+1 = {max_hamming + 1}")
    base = (
        ensure_min_partitions(df.where(F.col(text_col).isNotNull()))
        .select(F.col(id_col).alias("id"), simhash60(F.col(text_col)).alias("sh"))
    )
    bands = base.select(
        "id", "sh",
        F.explode(F.array(*[
            F.concat(F.lit(f"b{i}:"),
                     F.shiftright(F.col("sh"), off)
                      .bitwiseAND(F.lit((1 << width) - 1)).cast("string"))
            for i, (off, width) in enumerate(simhash_bands(n_bands))
        ])).alias("band"),
    )
    cand = (
        bands.alias("a").join(bands.alias("b"), "band")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.select("id_a", "id_b", ham.alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


# --------------------------------------------------------------- clusters

def duplicate_clusters(pairs: DataFrame, max_iterations: int = 25) -> DataFrame:
    """Connected components over a near-dup pair list (id_a, id_b) →
    (id, cluster_id) with cluster_id = min member id. This is the operator a
    training pipeline actually dedupes with: pairs chain (A~B, B~C ⇒ {A,B,C})
    and one canonical doc per CLUSTER must survive, not one per pair.

    Algorithm (the standard Spark substitute for GraphX/GraphFrames, which
    aren't on the classpath): per round, (1) neighborhood-min — every node
    takes the min label among itself and its neighbors, then (2) pointer
    jumping — every node re-reads its label's CURRENT label, which halves
    path lengths, giving O(log diameter) rounds overall. Each labels frame
    is checkpointed (eager_checkpoint: reliable iff a checkpoint dir is
    configured) so the plan stays ONE round deep (iterative lineage
    otherwise doubles per round and the optimizer melts down).

    Convergence check: a per-round count of CHANGED labels — zero changes
    is exactly the fixpoint (no monotonicity argument needed, and unlike a
    sum over labels it works for STRING ids — url-keyed corpora cluster
    without a numeric surrogate). The count rides the round's checkpoint
    job as an Observation, so each round is exactly ONE job (no separate
    scalar agg pass over the checkpointed frame)."""
    from pyspark.sql import Observation

    # Materialize edges ONCE. `pairs` is usually the un-materialized MinHash
    # LSH pipeline (q_minhash_clusters / dedup_near_duplicates pass it
    # straight in); without this barrier every one of the O(log d) rounds
    # would re-run shingling + the band join from scratch — at 100 TB that
    # is one candidate-generation pass vs ~10. explode(array(...)) emits
    # both directions in a SINGLE scan of the pair pipeline (a unionByName
    # of two selects would evaluate it twice even inside one checkpoint).
    both_dirs = F.explode(F.array(
        F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))))
    edges = pairs.select(both_dirs.alias("e")).select("e.src", "e.dst")
    edges = eager_checkpoint(edges)
    labels = eager_checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id")))
    for _ in range(max_iterations):
        neighbor_min = (edges.join(labels, edges.dst == labels.id)
                        .groupBy("src")
                        .agg(F.min("cluster_id").alias("nbr_min")))
        l1 = (labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
              .select(F.col("id"),
                      F.col("cluster_id").alias("__old"),
                      F.least(F.col("cluster_id"),
                              F.coalesce(F.col("nbr_min"), F.col("cluster_id")))
                       .alias("cluster_id")))
        parent = l1.select(F.col("id").alias("pid"),
                           F.col("cluster_id").alias("plabel"))
        l2 = (l1.join(parent, l1.cluster_id == parent.pid, "left")
              .select(l1.id, l1["__old"],
                      F.coalesce("plabel", "cluster_id").alias("cluster_id")))
        obs = Observation()
        mat = eager_checkpoint(l2.observe(
            obs, F.sum(F.when(F.col("cluster_id") != F.col("__old"),
                              F.lit(1)).otherwise(F.lit(0)))
            .alias("changed")))
        labels = mat.select("id", "cluster_id")
        # sum() over an EMPTY labels frame observes NULL, not 0 — without
        # the coalesce an empty pair set would spin all max_iterations
        # rounds of empty-frame checkpoints before returning
        if (obs.get["changed"] or 0) == 0:
            break
    return labels


def dedup_near_duplicates(df: DataFrame, pairs: DataFrame,
                          id_col: str = "doc_id",
                          score_col: str | None = None) -> DataFrame:
    """Keep one canonical doc per near-dup cluster; docs in no pair
    survive untouched. Anti-join on the non-canonical member set — one
    broadcast-able frame of (cluster members minus canonicals).

    Default representative: min id (order-free, replay-exact). Pass
    `score_col` to keep the HIGHEST-scoring member instead — what real
    pipelines do (keep the longest / highest-quality variant of a
    near-dup group); ties break on min id so the choice stays
    deterministic. The score join adds one shuffle keyed on the cluster
    members only (a tiny frame relative to the corpus — every member was
    in a candidate pair), then a bounded-key window per cluster (cluster
    sizes are near-dup group sizes, never corpus-scale)."""
    labels = duplicate_clusters(pairs)
    if score_col is None:
        losers = labels.where(F.col("id") != F.col("cluster_id")) \
                       .select(F.col("id").alias(id_col))
        return df.join(losers, id_col, "left_anti")
    from pyspark.sql.window import Window
    scored = labels.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("__s")),
        "id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__s").desc_nulls_last(), F.col("id").asc())
    losers = (scored.withColumn("__r", F.row_number().over(w))
              .where(F.col("__r") > 1)
              .select(F.col("id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


# ------------------------------------------------------------- embeddings

def cosine(a: Column, b: Column) -> Column:
    """Cosine over array<float>: cast to double first so accumulation is
    double-precision and order-stable (left-to-right fold)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    return dot / F.nullif(na * nb, F.lit(0.0))


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_exact_rows: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold. Brute-force O(n²/2) — correct
    baseline for modest n; the scale path is embedding_lsh_pairs in
    functions/similarity.py (random-hyperplane buckets first). Refuses
    inputs beyond max_exact_rows (bounded probe; None disables)."""
    df = guard_exact_baseline(df, "embedding_cosine_pairs",
                              "similarity.embedding_lsh_pairs",
                              max_exact_rows)
    # precompute per-vector double cast + norm ONCE (inlining cosine() per
    # pair evaluates three array folds per pair — measured 3× slower on an
    # O(n²) join)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col).alias("id"), vd.alias("v"),
        F.sqrt(F.aggregate(F.transform(vd, lambda x: x * x), F.lit(0.0),
                           lambda acc, x: acc + x)).alias("nrm"))
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    pairs = (a.join(b, F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     (dot / F.nullif(F.col("a.nrm") * F.col("b.nrm"),
                                     F.lit(0.0))).alias("cos")))
    return (pairs.select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
            .where(F.col("cosine") >= threshold))


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    containment_threshold: float = 0.8,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """DIRECTED near-containment pairs: (inner_id, outer_id) where at least
    containment_threshold of inner's distinct n-gram shingles also occur in
    outer — Jaccard misses these (a tweet quoted inside an article has tiny
    Jaccard but containment ≈ 1). The standard quote/boilerplate-inclusion
    detector (Broder 1997's containment coefficient, public).

    Shape (scale path, NOT a quadratic baseline): a shingle inverted index
    — explode distinct shingles, self-equi-join on the shingle, count
    matches per ordered pair, divide by |inner|. Ubiquitous shingles are
    the skew hazard (a boilerplate shingle in 10^6 docs would emit 10^12
    join rows); shingles with document frequency > max_shingle_df are
    dropped BEFORE the join — principled, not just defensive: a shingle
    present in everything carries no containment signal, and dropping it
    can only LOWER estimated containment (never create a false pair).
    Cost: one DF-count agg + one equi join on uniform shingle keys.

    Returns (inner_id, outer_id, n_common, containment). Self-pairs and
    docs with no shingles excluded; both directions reported when both
    clear the threshold."""
    if not 0 < containment_threshold <= 1:
        raise ValueError("containment_threshold must be in (0, 1]")
    base = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    word_shingles(F.col(text_col), n).alias("sh")))
    # pin the exploded shingles: they feed the DF-count agg AND both
    # self-join sides — without the pin the tokenize/shingle subtree
    # re-evaluates up to three times (same materialize-once argument as
    # duplicate_clusters' edges)
    shingles = eager_checkpoint(base.select("id", F.explode("sh").alias("s")))
    rare = (shingles.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .where(F.col("df_count") <= max_shingle_df)
            .select("s"))
    filtered = shingles.join(rare, "s")
    sizes = base.select("id", F.size("sh").alias("n_sh")) \
        .where(F.col("n_sh") > 0)
    a = filtered.select(F.col("id").alias("inner_id"), "s")
    b = filtered.select(F.col("id").alias("outer_id"), "s")
    common = (a.join(b, "s")
              .where(F.col("inner_id") != F.col("outer_id"))
              .groupBy("inner_id", "outer_id")
              .agg(F.count(F.lit(1)).alias("n_common")))
    return (common
            .join(sizes.select(F.col("id").alias("inner_id"),
                               F.col("n_sh").alias("inner_size")),
                  "inner_id")
            .withColumn("containment",
                        F.round(F.col("n_common")
                                / F.col("inner_size"), 6))
            .where(F.col("containment") >= containment_threshold)
            .select("inner_id", "outer_id", "n_common", "containment"))
