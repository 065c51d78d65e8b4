"""Corpus-level curation operators for LLM training-data pipelines.

* span_dedup            — C4-style cross-document span dedup: split each doc into
                          spans (lines, or fixed word-count chunks), keep each
                          distinct span only at its canonical occurrence
                          (smallest (doc_id, position) corpus-wide), reassemble
                          the surviving spans per document in original order.
                          C4 removed duplicated three-sentence spans this way;
                          the reference DQ engine has no corpus-rewrite
                          operator, so this is a pipeline extension, not a
                          parity item.
* substring_dedup       — exact duplicated-substring removal at arbitrary
                          offsets (word-granular ExactSubstr, Lee et al.
                          2022): overlapping k-word shingle fingerprints,
                          canonical-occurrence window, covered-word removal
                          with byte-exact reassembly of the survivors.
* contamination         — benchmark decontamination: per-document count of
                          word shingles that also occur in a (small) benchmark
                          /eval corpus, the standard train/test-leak gate.
* stratified_sample     — deterministic hash-threshold sampling with per-
                          stratum rates: keep iff the top-60-bits of
                          md5(id‖salt) fall below floor(rate·2^60). Exactly
                          replayable (no rand()), so sampling decisions are
                          stable across re-runs, resumable waves, and engines.
* importance_resample   — data mixing: thin the corpus to a target stratum
                          distribution (downsample-only, hash-threshold).
* chunk_documents       — context-window token chunks with overlap (the
                          long-doc sibling of sequence packing).
* repetition_stats      — Gopher within-doc n-gram repetition fractions
                          (one narrow Arrow stage; REPETITION_OK rule twin).
* incremental_dedup / incremental_minhash_dedup, and their stores
  SeenFingerprintStore / SeenMinhashStore
                        — cross-run exact / NEAR-dup dedup of each crawl
                          wave against all prior waves. Both stores share
                          one contract (_CatalogStore): a catalog table
                          bucketed on its join key (fp, or the MinHash band
                          hash h) so the wave joins it with zero store-side
                          Exchange, wave_id-tagged replay-safe appends, and
                          crash-safe compaction.

Scale posture (10^12 docs):
* span_dedup's only wide stages are (a) one shuffle on the md5 span
  fingerprint feeding a PARTITIONED window (uniform keys — never a global
  window) and (b) one shuffle on doc_id to reassemble; the per-doc
  collect_list is bounded by the document's own span count. The exploded
  corpus is scanned exactly once — a groupBy-min + re-join design would
  scan it twice and shuffle the same rows to the same reducers anyway.
  A viral boilerplate span occurring 10^7 times lands its occurrences on
  one reducer under ANY keyed plan; here that reducer does an external
  (disk-spilling) sort rather than holding state, so it degrades to I/O,
  not OOM.
* contamination broadcasts the benchmark shingle set (eval corpora are
  (thousands of docs — tiny next to the corpus); the corpus side is one
  explode + broadcast semi-join + groupBy(doc) count, all map-side until the
  final per-doc count shuffle. broadcast=False switches to a shuffle join
  for pathological benchmark sizes.
* stratified_sample is a pure narrow filter — no shuffle at all.

All three use md5-derived keys (not xxhash64) so every decision has an
exact DuckDB oracle — see plans/registry_corpus.py. A production fork can
swap xxhash64 behind the same shape.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloud_data_quality_spark.functions.dedup import (
    _canonical_min_id,
    dedup_near_duplicates,
    eager_checkpoint,
    ensure_min_partitions,
    minhash_sig_longs,
    sketch_jaccard,
    word_shingles,
)
from cloud_data_quality_spark.functions.text import tokens

_HASH_BITS = 60  # top 15 hex chars of md5 → fits a signed 64-bit integer


def _span_fp(span: Column) -> Column:
    """Normalization-insensitive span fingerprint (lower+trim, like
    exact_duplicates)."""
    return F.md5(F.lower(F.trim(span)))


def _chunk_spans(text: Column, chunk_words: int) -> Column:
    """Consecutive chunk_words-word spans (last span may be shorter).
    Empty/NULL text → empty array: sequence(0, -1) would DESCEND."""
    words = tokens(text)
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    return F.when(n_chunks <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(words, i * chunk_words + 1, chunk_words), " ")))


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str | None = None,
    chunk_words: int | None = None,
) -> DataFrame:
    """Cross-document span dedup (C4's duplicated-span removal, C4 §2.2:
    'we discard all but one of any three-sentence span occurring more than
    once').

    Exactly one of `delimiter` (split spans on a literal separator, e.g.
    "\\n" for lines) or `chunk_words` (fixed word-count spans, for corpora
    without line structure) must be given. A span survives only at its
    canonical occurrence — the corpus-wide smallest (doc_id, position) —
    so output is deterministic and order-insensitive to partitioning.

    Returns one row per input document that has at least one non-empty
    span: (id_col, text_deduped, n_spans, n_spans_kept). Documents whose
    every span lost its race reassemble to ''.
    """
    if (delimiter is None) == (chunk_words is None):
        raise ValueError("span_dedup: exactly one of delimiter/chunk_words")
    text = F.col(text_col)
    if delimiter is not None:
        # delimiter is a regex for splitting but a literal when rejoining —
        # fine for the plain separators this is meant for ("\n", "\n\n")
        spans_arr, joiner = F.split(text, delimiter, -1), delimiter
    else:
        spans_arr, joiner = _chunk_spans(text, chunk_words), " "

    from pyspark.sql.window import Window

    spans = (
        df.select(F.col(id_col), F.posexplode(spans_arr).alias("pos", "span"))
        .where(F.length(F.trim("span")) > 0)
        .withColumn("fp", _span_fp(F.col("span")))
    )
    # canonical occurrence = row_number 1 within the fingerprint partition.
    # A window here — NOT a groupBy(fp).min(struct) + re-join — because the
    # join design shuffles every occurrence of a fingerprint to one reducer
    # ANYWAY (same skew exposure) while also scanning the exploded corpus
    # twice; the window is one scan + one shuffle, and its per-key sort is
    # external/spillable. Keys are uniform md5, so this is a partitioned
    # window, never a global one.
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc(),
                                         F.col("pos").asc())
    flagged = spans.withColumn("kept", F.row_number().over(w) == 1)
    # one groupBy(doc): collect_list ignores the NULLs when() leaves for
    # lost spans, so kept spans are gathered without a second aggregation
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("kept"),
                               F.struct(F.col("pos"), F.col("span"))))),
                    lambda s: s.span),
                joiner).alias("text_deduped"),
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.count_if(F.col("kept")).cast("bigint").alias("n_spans_kept"),
        )
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact duplicated-substring removal at arbitrary offsets (the
    word-granular form of Lee et al. 2022's ExactSubstr suffix-array dedup,
    'Deduplicating Training Data Makes Language Models Better').

    span_dedup only catches duplicates aligned to span boundaries; this
    catches a duplicated >=k-word run starting ANYWHERE: every overlapping
    k-word shingle is fingerprinted, each fingerprint survives only at its
    canonical occurrence (corpus-wide smallest (doc_id, pos)), and every
    NON-canonical occurrence marks its k-word window as duplicated. A
    duplicated run of length L >= k yields L-k+1 overlapping non-canonical
    shingles whose windows union to exactly the run, so the whole run is
    removed from every copy but the first — the suffix-array semantics,
    computed with data-parallel joins instead of a suffix array.

    Returns one row per document with at least one token:
    (id_col, text_deduped, n_words, n_words_kept). Reassembly joins the
    surviving words with single spaces (word-granular, like chunk-mode
    span_dedup). Matching is case-insensitive (fingerprints lowercase),
    reassembly preserves original case.

    Scale posture (10^12 docs): three wide stages, all on uniform keys —
    (1) the md5-fingerprint window (partitioned, never global; a viral
    boilerplate shingle degrades one reducer to an external sort, not OOM),
    (2) distinct over (doc, position) covered pairs — only DUPLICATED
    positions are expanded k-fold, so this is small unless the corpus is
    mostly duplicate, and (3) the words⋈covered equi-join + per-doc
    reassembly, partitioned by doc id. The corpus is scanned twice (once
    for shingles, once for words) — both scans prune to (id, text); at
    100 TB that beats persisting the exploded word table, and an aligned
    partitioner carries the second scan's join for free.
    """
    base = (df.select(F.col(id_col), tokens(F.col(text_col))
                      .alias("words"))
            .where(F.size("words") > 0))

    from pyspark.sql.window import Window

    shingles = (
        base.where(F.size("words") >= k)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("words") - k),
                    lambda i: F.slice(F.col("words"), i + 1, k),
                )).alias("pos", "shingle"))
        .select(F.col(id_col), "pos",
                _span_fp(F.array_join("shingle", " ")).alias("fp")))
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc(),
                                         F.col("pos").asc())
    dups = (shingles.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") > 1).select(id_col, "pos"))
    covered = (dups.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"),
                             F.col("pos") + (k - 1))).alias("wpos"))
        .distinct())

    words = base.select(F.col(id_col),
                        F.posexplode("words").alias("wpos", "word"))
    joined = words.join(covered.withColumn("covered", F.lit(True)),
                        on=[id_col, "wpos"], how="left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("covered").isNull(),
                               F.struct(F.col("wpos"), F.col("word"))))),
                    lambda s: s.word),
                " ").alias("text_deduped"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.count_if(F.col("covered").isNull()).cast("bigint")
            .alias("n_words_kept"),
        )
    )


def contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 8,
    bench_text_col: str | None = None,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per-document overlap with an eval corpus.

    Counts how many of the document's DISTINCT word shingles (shingle_words
    each) also occur anywhere in `benchmark`. Emits
    (id_col, n_shingles, n_contaminated, contaminated_frac, is_contaminated)
    — the caller drops/keeps on is_contaminated (any overlap) or thresholds
    contaminated_frac. Shingle matching is on md5 of the lower+trimmed
    shingle text, identical to the dedup family.

    broadcast_benchmark=True (default) is the 10^12-doc plan: eval sets are
    tiny, the join is map-side. Set False only if the benchmark itself is
    data-sized."""
    bench_text = F.col(bench_text_col or text_col)
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(bench_text, shingle_words)).alias("s"))
        .select(_span_fp(F.col("s")).alias("h")).distinct()
        .withColumn("__hit", F.lit(True))
    )
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    # ONE corpus pass: a marked LEFT join (not semi + a second size() scan,
    # which would shingle the whole corpus twice) — bench_sh is distinct on
    # h, so the join never duplicates a shingle row, and n_shingles falls
    # out of the same aggregation as the hit count
    doc_sh = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_words)).alias("s"),
    ).select(id_col, _span_fp(F.col("s")).alias("h"))
    per_doc = (doc_sh.join(bench_sh, "h", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                    F.count_if(F.col("__hit")).cast("bigint")
                     .alias("n_contaminated")))
    return (
        df.select(F.col(id_col)).join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).cast("bigint")
             .alias("n_shingles"),
            F.coalesce("n_contaminated", F.lit(0)).cast("bigint")
             .alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0))
                / F.nullif(F.coalesce("n_shingles", F.lit(0)), F.lit(0)), 6)
             .alias("contaminated_frac"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0)
             .alias("is_contaminated"),
        )
    )


def sample_threshold(fraction: float) -> int:
    """floor(fraction · 2^60) — the integer keep-threshold shared verbatim
    by the Spark plan and the generated DuckDB oracle (no float compares)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction out of [0,1]: {fraction}")
    return int(fraction * (1 << _HASH_BITS))


def sample_hash(id_col: str, salt: str = "") -> Column:
    """Uniform 60-bit integer from md5(id‖salt) — the md5-prefix trick that
    DuckDB reproduces bit-identically (('0x'||substr(md5(x),1,15))::BIGINT).

    NULL ids hash to NULL (NOT to a shared constant — concat_ws would
    silently skip the NULL and give every NULL-id row the same md5(salt)
    hash, an en-masse keep/drop that also diverges from the SQL oracle,
    where NULL || salt is NULL). With a NULL hash, every threshold compare
    is NULL: sampling filters drop the row — exactly what the oracle's
    WHERE does."""
    key = F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
    return F.when(F.col(id_col).isNull(),
                  F.lit(None).cast("bigint")).otherwise(h)


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    stratum_col: str,
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its 60-bit id-hash
    falls below floor(rate·2^60) for its stratum. Unlike df.sample()/rand()
    this is reproducible across runs, partitionings, and engines — the
    property a resumable 10^12-doc pipeline needs so a re-run wave samples
    the SAME rows. Pure narrow filter: no shuffle, pushdown-friendly.

    `fractions` maps stratum value → keep rate; unmatched strata use
    default_fraction. `salt` decorrelates independent samples over the same
    ids."""
    thresholds = {k: sample_threshold(v) for k, v in fractions.items()}
    cond = F.lit(sample_threshold(default_fraction))
    for value, thr in sorted(thresholds.items()):
        cond = F.when(F.col(stratum_col) == value, F.lit(thr)).otherwise(cond)
    return df.where(sample_hash(id_col, salt) < cond)


def split_boundaries(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(name, upper-bound) pairs over the 60-bit hash space, cumulative in
    the dict's (insertion) order — shared verbatim by the Spark plan and
    the generated DuckDB oracle. The LAST split takes everything at or
    above its predecessor's bound, so assignment is exhaustive regardless
    of float rounding in the cumulative fractions."""
    if len(weights) < 2:
        raise ValueError("dataset_split needs at least two splits")
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"negative split weight in {weights}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    out: list[tuple[str, int]] = []
    cum = 0.0
    for name, w in weights.items():
        cum += w
        out.append((name, sample_threshold(min(cum, 1.0))))
    return out


def dataset_split(df: DataFrame, weights: dict[str, float],
                  id_col: str = "doc_id", salt: str = "",
                  split_col: str = "split") -> DataFrame:
    """Deterministic exclusive train/val/test assignment: each row's 60-bit
    id-hash lands in exactly one cumulative-threshold interval. Exhaustive
    and exclusive by construction; reproducible across runs, partitionings
    and engines (same property as stratified_sample — a re-run wave MUST
    place every document in the same split, or eval data leaks into
    training). `salt` decorrelates the split from any sampling decisions
    made over the same ids. Pure narrow projection: no shuffle.

    Note weights are consumed in dict order — reordering the dict moves
    the interval boundaries and reassigns rows, so pin the order (it is
    part of the split's identity, like the salt). A NULL id raises at
    evaluation time: silently parking every NULL-id row in one split
    would leak an unbounded slice of undifferentiated rows into whichever
    partition caught them."""
    bounds = split_boundaries(weights)
    h = sample_hash(id_col, salt)
    # chained whens: earlier (smaller) bounds win, so each row takes the
    # FIRST interval whose upper bound exceeds its hash
    first = bounds[0]
    cond = F.when(F.col(id_col).isNull(), F.raise_error(F.lit(
        f"dataset_split: NULL {id_col} — split assignment needs a "
        f"non-null id")).cast("string"))
    cond = cond.when(h < F.lit(first[1]), F.lit(first[0]))
    for name, bound in bounds[1:-1]:
        cond = cond.when(h < F.lit(bound), F.lit(name))
    cond = cond.otherwise(F.lit(bounds[-1][0]))
    return df.withColumn(split_col, cond)


def chunk_documents(
    df: DataFrame,
    budget_tokens: int,
    overlap_tokens: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into context-window-sized token chunks with optional
    overlap (the training-data sibling of sequence packing: packing fills a
    budget with many short docs, chunking cuts one long doc down to
    budget). Chunk starts advance by (budget − overlap) tokens; the final
    chunk may be short; a document shorter than the budget yields itself as
    chunk 0. Tokens are whitespace words (functions/text.tokens), chunk
    text is the space-rejoin — byte-stable for single-space corpora and
    deterministic everywhere.

    Pure narrow transform (per-doc expression + posexplode) — no shuffle;
    ordering metadata (chunk_id) makes downstream reassembly exact.
    Returns (id_col, chunk_id, chunk_text, n_tokens)."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    if not 0 <= overlap_tokens < budget_tokens:
        raise ValueError("need 0 <= overlap_tokens < budget_tokens")
    stride = budget_tokens - overlap_tokens
    toks = tokens(F.col(text_col))
    # number of stride-steps whose window is non-empty:
    # ceil(max(size - overlap, 0) / stride), min 1 when the doc has tokens
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - overlap_tokens) / F.lit(stride)).cast("int"),
        F.when(F.size(toks) > 0, F.lit(1)).otherwise(F.lit(0)))
    chunks = F.when(n_chunks <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, i * stride + 1, budget_tokens), " ")))
    out = df.select(F.col(id_col),
                    F.posexplode(chunks).alias("chunk_id", "chunk_text"))
    return out.select(
        id_col, "chunk_id", "chunk_text",
        F.size(F.split("chunk_text", r"\s+")).cast("bigint")
         .alias("n_tokens"))


def repetition_fractions_batch(texts: pd.Series, n: int = 2) -> pd.DataFrame:
    """Batch core shared by repetition_stats and the REPETITION_OK rule:
    per-doc n-gram counts and UNROUNDED character fractions (Python round()
    is banker's rounding and disagrees with SQL ROUND at exact .5 ulps —
    callers round Spark-side). Docs with fewer than n words: n_grams=0,
    NULL fractions."""
    from collections import Counter

    from cloud_data_quality_spark.functions.text import py_tokens
    n_grams, top_f, dup_f = [], [], []
    for t in texts:
        # py_tokens — NOT str.split(): str.split also breaks on Unicode
        # whitespace (NBSP etc.) that Java/DuckDB \s does not, so docs with
        # non-ASCII whitespace would disagree with tokens()/sql_tokens.
        toks = py_tokens(t) if isinstance(t, str) else []
        if len(toks) < n:
            n_grams.append(0)
            top_f.append(None)
            dup_f.append(None)
            continue
        counts = Counter(
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))
        chars = len(t)
        gchars = [(c * len(g), c) for g, c in counts.items()]
        n_grams.append(sum(c for _, c in gchars))
        top_f.append(max(gc for gc, _ in gchars) / chars)
        dup_f.append(sum(gc for gc, c in gchars if c > 1) / chars)
    return pd.DataFrame({"n_grams": pd.array(n_grams, dtype="Int64"),
                         "top_gram_char_frac": top_f,
                         "dup_gram_char_frac": dup_f})


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Gopher-style within-document n-gram repetition signals (Rae et al.
    2021 quality heuristics: 'fraction of characters in the most frequent
    n-gram' and 'fraction of characters in duplicate n-grams'), as exact,
    deterministic definitions:

      top_gram_char_frac = max over grams g of count(g)·chars(g) / chars(doc)
      dup_gram_char_frac = Σ over grams with count>1 of count(g)·chars(g)
                           / chars(doc)

    where chars(g) counts the gram's words plus its internal single spaces
    (grams are normalized whitespace joins) and chars(doc) = length(text).
    Taking the max of count·chars (not "the chars of the argmax gram")
    makes ties a non-issue — the statistic is deterministic without a
    tie-break rule. The annotate_quality gates keep their cheaper
    line/token-level signals; this operator is the full-strength n-gram
    variant for corpora where boilerplate repeats below line granularity.

    Shape: a within-document statistic must NOT round-trip the corpus
    through a shuffle (an explode + groupBy(doc, gram) design multiplies
    the shuffled bytes by ~n_words). This is one narrow Arrow stage — a
    per-doc gram Counter inside the batch, O(words) per document; the work
    is variable-length-string counting, where a Counter is the honest cost
    (there is no bincount-style vectorization win for string keys). Docs
    with fewer than n words emit n_grams=0 with NULL fractions. Complements
    the corpus-wide span_dedup (this one is WITHIN-doc)."""

    @F.pandas_udf("struct<n_grams:bigint,"
                  "top_gram_char_frac:double,dup_gram_char_frac:double>")
    def _rep(texts: pd.Series) -> pd.DataFrame:
        return repetition_fractions_batch(texts, n=n)

    # one struct-returning UDF evaluated once per row, fields projected in a
    # second select (the annotate_quality pattern — avoids re-inlining the
    # UDF per field)
    tmp = df.select(F.col(id_col), _rep(F.col(text_col)).alias("__s"))
    return tmp.select(
        id_col,
        F.col("__s.n_grams").alias("n_grams"),
        F.round(F.col("__s.top_gram_char_frac"), 6)
         .alias("top_gram_char_frac"),
        F.round(F.col("__s.dup_gram_char_frac"), 6)
         .alias("dup_gram_char_frac"))


def importance_resample(
    df: DataFrame,
    target: dict[str, float],
    stratum_col: str,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Rebalance the corpus toward a target stratum distribution by
    deterministic downsampling (the data-mixing step of an LLM pipeline —
    e.g. flatten an English-heavy crawl to a target language mix).

    Keep rate per stratum: r_s = C·t_s/n_s with C = min_s(n_s/t_s), i.e.
    the stratum whose observed share falls shortest of its target is kept
    in full and every other stratum is thinned so post-sample counts are
    exactly proportional to `target`. Downsampling only — never replicates.
    Strata absent from `target` are dropped.

    Fully distributed: the per-stratum counts are a tiny aggregate joined
    back via broadcast — no driver collect, no shuffle of the corpus
    itself; the keep decision is the same md5-threshold filter as
    stratified_sample, so it is deterministic and exactly replayable
    (thresholds are computed with the same double-precision expression
    shape the DuckDB oracle uses — IEEE ops in identical order)."""
    t_map = F.create_map(*[F.lit(x) for kv in sorted(target.items())
                           for x in kv])
    counts = (df.groupBy(stratum_col)
              .agg(F.count(F.lit(1)).cast("double").alias("__n"))
              .withColumn("__t", t_map[F.col(stratum_col)].cast("double"))
              .where(F.col("__t").isNotNull() & (F.col("__t") > 0)))
    c = counts.agg(F.min(F.col("__n") / F.col("__t")).alias("__c"))
    rates = (counts.crossJoin(F.broadcast(c))
             .select(stratum_col,
                     F.floor(F.col("__c") * F.col("__t") / F.col("__n")
                             * F.lit(float(1 << _HASH_BITS)))
                     .cast("bigint").alias("__thr")))
    return (df.join(F.broadcast(rates), stratum_col)
            .where(sample_hash(id_col, salt) < F.col("__thr"))
            .select(*df.columns))


# ------------------------------------------------------- incremental dedup

def incremental_dedup(
    new_df: DataFrame,
    seen_fps: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-run exact dedup: within the incoming wave keep the min-id
    representative per fingerprint, then drop every document whose
    fingerprint appears in `seen_fps` (the accumulated store of all prior
    runs — see SeenFingerprintStore). Returns the surviving rows WITH their
    `fp` column, so the caller can append exactly those fps to the store:
    survivor fps are new by construction, so the store needs no dedupe on
    append.

    The body of dedup_exact (groupBy-min + semi join — O(1) aggregation
    state per key, no window) plus one anti join on the uniform md5 key.
    NULL-text docs are never duplicates: they get a per-id sentinel key and
    always survive."""
    wave = _canonical_min_id(new_df, text_col, id_col, "fp")
    if seen_fps is not None:
        wave = wave.join(seen_fps.select("fp"), "fp", "left_anti")
    return wave


# ---------------------------------------------- incremental NEAR-dup dedup

def _band_rows(df: DataFrame, id_col: str) -> DataFrame:
    """(h, doc_id, sig) band rows of a frame carrying a bottom-k `sig`:
    each sketch hash a join/bucket key, the full sketch alongside for
    verification. An empty sketch gives no rows, so never a near-dup."""
    return df.select(F.explode("sig").alias("h"),
                     F.col(id_col).alias("doc_id"), F.col("sig"))


def _sketch_pairs(a: DataFrame, b: DataFrame, jaccard_threshold: float,
                  k: int = 8, ordered: bool = False) -> DataFrame:
    """Verified near-dup pairs (id_a, id_b) between two band-row frames:
    band join on h, one candidate per (id_a, id_b) — two docs sharing m
    band hashes would otherwise be estimator-scored m times — then the
    bottom-k sketch estimator. `ordered` keeps only id_a < id_b, for a
    frame joined with itself. Only projections sit between a bucketed
    store scan and the join, so the store side keeps its bucket layout."""
    a = a.select("h", F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = b.select("h", F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    cand = a.join(b, "h")
    if ordered:
        cand = cand.where(F.col("id_a") < F.col("id_b"))
    return (cand.select("id_a", "sig_a", "id_b", "sig_b")
            .dropDuplicates(["id_a", "id_b"])
            .where(sketch_jaccard(F.col("sig_a"), F.col("sig_b"), k)
                   >= jaccard_threshold)
            .select("id_a", "id_b"))


def minhash_band_rows(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      k: int = 8) -> DataFrame:
    """Per-document MinHash band rows (h, doc_id, sig) of the bottom-k
    60-bit sketch (dedup.minhash_sig_longs) — the store's persisted row
    format: k rows × (8-byte key + 64-byte sketch) per document, bounded,
    unlike full shingle sets."""
    base = (ensure_min_partitions(df.where(F.col(text_col).isNotNull()))
            .select(F.col(id_col),
                    minhash_sig_longs(F.col(text_col), n, k).alias("sig")))
    return _band_rows(base, id_col)


def incremental_minhash_dedup(
    new_df: DataFrame,
    store_bands: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 8,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Cross-run NEAR-dup filter: drop every wave document whose bottom-k
    Jaccard estimate against ANY historical document reaches the threshold.
    `store_bands` is the accumulated (h, doc_id, sig) band table of all
    prior waves (see SeenMinhashStore / minhash_band_rows); None = first
    run, nothing to compare.

    Returns the surviving wave rows WITH their `sig` sketch column, so the
    caller can explode exactly those sketches into the store.

    Plan shape at 10^12 docs: the wave's sketches are a narrow pass
    (shingle→md5→bottom-k per doc, no shuffle); the band join keys on
    uniform md5-space longs (no skew) and the store side is bucketed on h
    so only the wave shuffles; verification is the O(k) sketch estimator on
    candidate rows only — the corpus-sized shingle sets never leave their
    documents, never get stored, never get shuffled. Docs with empty
    sketches produce no band rows and always survive."""
    wave = ensure_min_partitions(new_df).withColumn(
        "sig", F.when(F.col(text_col).isNotNull(),
                      minhash_sig_longs(F.col(text_col), n, k))
                .otherwise(F.array().cast("array<bigint>")))
    if store_bands is None:
        return wave
    matched = (_sketch_pairs(_band_rows(wave, id_col), store_bands,
                             jaccard_threshold, k)
               .select(F.col("id_a").alias(id_col)).distinct())
    return wave.join(matched, id_col, "left_anti")


# ------------------------------------------------- cross-run dedup stores

class _CatalogStore:
    """The cross-run dedup store: a catalog table of rows remembered from
    every prior wave, BUCKETED on its join key, plus a `wave_id` tag.

    Why bucketed: at 10^12 documents the store dwarfs every nightly wave.
    A table bucketed on the join key is read with no Exchange on the store
    side — only the wave shuffles, into the store's bucket layout
    (test_corpus pins that plan shape for both stores). Appends use
    saveAsTable(mode=append), which keeps the bucket spec; survivors are
    new against the store by construction, so appends need no merge.

    Replay safety (CloudDQ's MERGE-on-dq_run_id contract, per wave): every
    appended row carries the caller's `wave_id` (NULL for untagged batch
    runs). A caller that may re-run a wave (streaming foreachBatch replay
    after a crash) passes its wave_id to dedup_wave; the store read then
    EXCLUDES that wave's own rows, so the replay recomputes the identical
    survivor set instead of deduping everything away against its own
    half-committed append. Re-appending under the same wave_id only
    duplicates rows, which changes no existence test; compact() removes
    them.

    A store class sets the key, the stored columns and the payload column
    its survivors carry, and supplies how it computes survivors
    (_survivors) and which rows it stores (_rows)."""

    KEY: str                   # bucket and join column
    COLUMNS: tuple[str, ...]   # stored columns, besides wave_id
    PAYLOAD: str               # survivors' store payload, not returned

    def __init__(self, spark, table: str, n_buckets: int = 64):
        self.spark = spark
        self.table = table
        self.n_buckets = n_buckets

    def exists(self) -> bool:
        _recover_compaction(self.spark, self.table)
        return self.spark.catalog.tableExists(self.table)

    def read(self, exclude_wave: str | None = None) -> DataFrame:
        # appends may come from another session over the same catalog (e.g.
        # foreachBatch's cloned micro-batch session): this session's
        # table-relation cache would keep serving the stale file listing,
        # silently missing recent rows — refresh before reading
        self.spark.catalog.refreshTable(self.table)
        df = self.spark.table(self.table)
        if exclude_wave is not None and "wave_id" in df.columns:
            # narrow filter — does not disturb the bucketed no-Exchange join
            df = df.where(~F.col("wave_id").eqNullSafe(F.lit(exclude_wave)))
        return df.select(*self.COLUMNS)

    def append(self, rows: DataFrame, wave_id: str | None = None) -> None:
        out = rows.select(*self.COLUMNS)
        # schema back-compat: a store created before wave tagging has no
        # wave_id column — appending one into it would fail at every wave.
        # Match the existing table's shape (read() guards the other
        # direction); such stores get no replay exclusion until recreated.
        if not self.exists() or \
                "wave_id" in self.spark.table(self.table).columns:
            out = out.withColumn("wave_id", F.lit(wave_id).cast("string"))
        (out.write
         .bucketBy(self.n_buckets, self.KEY).sortBy(self.KEY)
         .mode("append").format("parquet").saveAsTable(self.table))

    def compact(self) -> int:
        """Remove replay-duplicated rows (full-row distinct, bucket spec
        preserved). See _compact_catalog_table for the swap caveat."""
        return _compact_catalog_table(self.spark, self.table,
                                      self.KEY, self.n_buckets)

    def dedup_wave(self, new_df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", wave_id: str | None = None,
                   output_writer=None) -> DataFrame:
        """One crawl wave end-to-end: dedup against the store (if any),
        write the survivors out, record their rows, return them.

        The survivor frame is CHECKPOINTED (lineage truncated) before the
        store append. persist()+count() is NOT enough: saveAsTable(append)
        recaches every cached plan that reads the target table, so the
        'pinned' survivors would silently recompute against the updated
        store and collapse to zero rows. A checkpoint's plan no longer
        references the table at all (dedup.eager_checkpoint).

        Ordering: `output_writer(survivors)` runs BEFORE the store append.
        If the output write fails, the store is untouched and a rerun
        re-emits the wave; the opposite order would suppress the wave's
        documents from every future run without ever emitting them. The
        remaining window (output written, append crashed) re-emits
        duplicates on rerun — the safe direction — and is closed entirely
        when the caller also passes a stable `wave_id` (replayed waves
        exclude their own rows, recompute identically, and overwrite)."""
        seen = self.read(exclude_wave=wave_id) if self.exists() else None
        survivors = eager_checkpoint(
            self._survivors(new_df, seen, text_col, id_col))
        result = survivors.drop(self.PAYLOAD)
        if output_writer is not None:
            output_writer(result)
        self.append(self._rows(survivors, id_col), wave_id=wave_id)
        return result


class SeenFingerprintStore(_CatalogStore):
    """Cross-run EXACT dedup: the store remembers the fingerprint `fp` of
    every surviving document, bucketed on fp. A wave keeps its min-id doc
    per fingerprint and drops every fingerprint the store has seen
    (incremental_dedup)."""

    KEY, COLUMNS, PAYLOAD = "fp", ("fp",), "fp"

    def _survivors(self, new_df, seen, text_col, id_col):
        return incremental_dedup(new_df, seen, text_col=text_col,
                                 id_col=id_col)

    def _rows(self, survivors, id_col):
        return survivors


class SeenMinhashStore(_CatalogStore):
    """Cross-run NEAR-dup dedup: the store remembers the (h, doc_id, sig)
    band rows of every surviving document, bucketed on the band hash h.

    Why: recrawls are rarely byte-identical (timestamps, ads, boilerplate
    churn), so the exact store misses every one of them. Persisting the
    bottom-k sketch (64 bytes/doc at k=8) instead of shingle sets keeps
    the store linear in documents. A wave first drops docs near-duplicate
    to the store (incremental_minhash_dedup), then keeps one canonical
    (min id) doc per within-wave near-dup cluster. Replayed band rows are
    harmless: candidate generation collapses them."""

    KEY, COLUMNS, PAYLOAD = "h", ("h", "doc_id", "sig"), "sig"

    def __init__(self, spark, table: str, n_buckets: int = 64,
                 jaccard_threshold: float = 0.5):
        super().__init__(spark, table, n_buckets)
        self.jaccard_threshold = jaccard_threshold

    def _survivors(self, new_df, seen, text_col, id_col):
        wave = incremental_minhash_dedup(
            new_df, seen, text_col=text_col, id_col=id_col,
            jaccard_threshold=self.jaccard_threshold)
        bands = _band_rows(wave, id_col)
        pairs = _sketch_pairs(bands, bands, self.jaccard_threshold,
                              ordered=True)
        return dedup_near_duplicates(wave, pairs, id_col=id_col)

    def _rows(self, survivors, id_col):
        return _band_rows(survivors, id_col)


# ------------------------------------------------------ C4 line-level clean

#: C4 §2.2 (Raffel et al. 2020, public) line/document heuristics. The
#: constants are consumed by BOTH the Column implementation below and the
#: generated DuckDB oracle (registry_corpus._oracle_c4_line_filter) so they
#: can't drift. Reference DQ engine has no corpus-rewrite operator
#: (rule_type.py stops at REGEX) — pipeline extension, not parity.
C4_TERMINAL_PUNCT_RE = '[.!?"]$'
C4_MIN_LINE_WORDS = 5
C4_MIN_LINES_KEPT = 3
C4_LINE_BLOCK_SUBSTRING = "javascript"  # case-insensitive line drop
C4_DOC_BLOCK_SUBSTRINGS = ("{", "lorem ipsum")  # case-insensitive doc drop


def _c4_line_ok(line: Column) -> Column:
    """One line survives C4 cleaning: ends in terminal punctuation, has at
    least C4_MIN_LINE_WORDS whitespace words, doesn't mention javascript."""
    trimmed = F.trim(line)
    words = F.size(F.filter(F.split(trimmed, r"[\t\x0b\f\r ]+"),
                            lambda w: F.length(w) > 0))
    return (trimmed.rlike(C4_TERMINAL_PUNCT_RE)
            & (words >= C4_MIN_LINE_WORDS)
            & ~F.contains(F.lower(trimmed), F.lit(C4_LINE_BLOCK_SUBSTRING)))


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    annotate: bool = False,
) -> DataFrame:
    """C4 §2.2 line-level cleaning as a PURE Column plan (no UDF, narrow,
    codegen'd — scan-speed at 100 TB): keep only lines ending in terminal
    punctuation with ≥5 words and no 'javascript'; a document survives iff
    ≥3 lines remain and it contains neither '{' nor 'lorem ipsum'.

    Default: (id_col, clean_text, n_lines_kept, keep) — the cleaned text is
    the kept lines rejoined with '\\n' (NULL when keep=false — C4 drops the
    page outright), n_lines_kept the per-doc survivor count.
    annotate=True: ALL original columns + the three new ones (the
    pipeline-stage shape — see c4_clean_stage)."""
    # normalize CRLF / lone CR to LF before splitting: a line left with a
    # trailing '\r' diverges cross-engine (Java regex '$' matches BEFORE a
    # final line terminator, RE2/DuckDB '$' only at end-of-string) and
    # would leak '\r' bytes into clean_text
    normalized = F.regexp_replace(F.col(text_col), "\r\n?", "\n")
    lines = F.split(normalized, "\n")
    kept = F.filter(lines, _c4_line_ok)
    n_kept = F.coalesce(F.size(kept), F.lit(0)).cast("bigint")  # NULL text → 0
    lowered = F.lower(F.col(text_col))
    doc_ok = (n_kept >= C4_MIN_LINES_KEPT)
    for sub in C4_DOC_BLOCK_SUBSTRINGS:
        doc_ok = doc_ok & ~F.contains(lowered, F.lit(sub))
    doc_ok = F.coalesce(doc_ok, F.lit(False))
    new_cols = [
        F.when(doc_ok, F.array_join(kept, "\n")).alias("clean_text"),
        n_kept.alias("n_lines_kept"),
        doc_ok.alias("keep"),
    ]
    head = [F.col(c) for c in df.columns] if annotate else [F.col(id_col)]
    return df.select(*head, *new_cols)


def c4_clean_stage(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Pipeline-stage form of c4_line_filter: drop failing docs, replace
    text_col with the cleaned text, keep every other column — composable
    inside ResumableCurationPipeline (pure narrow transform)."""
    ann = c4_line_filter(df, text_col=text_col, id_col=id_col, annotate=True)
    return (ann.where("keep")
            .withColumn(text_col, F.col("clean_text"))
            .drop("clean_text", "n_lines_kept", "keep"))


# ------------------------------------------------- paragraph repetition

#: a paragraph "has content" iff it contains any non-whitespace char —
#: explicit class because Java \S and RE2 \S disagree on \x0b
_PARA_CONTENT_RE = "[^\\t\\n\\x0b\\f\\r ]"


def duplicated_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Cross-document exact-substring duplication signal (the
    RefinedWeb / Lee et al. 2021 "duplicated n-gram coverage" family):
    per document, the fraction of its DISTINCT word n-gram shingles that
    also occur in at least one other document. Complements the repo's
    other dedup views — repetition_stats is within-doc, containment_pairs
    is pairwise-directional; this is the per-doc scalar a curation gate
    thresholds ("drop docs that are mostly boilerplate seen elsewhere").

    Returns (id_col, n_shingles, n_dup_shingles, dup_ngram_frac) for every
    non-NULL-text row; docs too short to form a shingle get 0/0/NULL.

    Exactness: shingle sets are distinct per doc (dedup.word_shingles), so
    the per-fingerprint occurrence count IS the containing-doc count, and
    every output is an integer ratio — bit-replayable in DuckDB.

    Id contract: id_col must be unique (two rows sharing an id would count
    each other's shingles as cross-doc duplication — the CLI op enforces
    this loudly); NULL-id rows are excluded up front (their stats could
    never join back through an equi-join anyway).

    Scale posture (10^12 docs): three wide stages, all on uniform keys —
    the df-count agg and the count-join shuffle on md5 shingle
    fingerprints (no hot key can exist), then the per-doc rollup's partial
    agg collapses to one row per doc before its exchange. Shuffle volume
    ~ corpus token count, the inherent cost of any cross-doc frequency
    computation (same class as span_dedup); there is no driver-side state
    and nothing is broadcast."""
    base = (df.where(F.col(text_col).isNotNull()
                     & F.col(id_col).isNotNull())
            .select(id_col,
                    word_shingles(F.col(text_col), n=n).alias("__sh")))
    occ = base.select(id_col, F.explode("__sh").alias("__s")) \
        .select(id_col, F.md5("__s").alias("__fp"))
    counts = occ.groupBy("__fp").agg(F.count(F.lit(1)).alias("__docs"))
    per_doc = (occ.join(counts, "__fp")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.sum((F.col("__docs") > 1).cast("bigint"))
                    .alias("n_dup_shingles")))
    return (base.select(id_col)
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
                    F.coalesce("n_dup_shingles", F.lit(0))
                    .alias("n_dup_shingles"),
                    F.round(F.coalesce("n_dup_shingles", F.lit(0))
                            / F.nullif(F.coalesce("n_shingles", F.lit(0)),
                                       F.lit(0)).cast("double"), 6)
                    .alias("dup_ngram_frac")))


def paragraph_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher paragraph-level repetition signals (Rae et al. 2021 Table A1
    family: duplicate-paragraph fraction and duplicate-paragraph character
    fraction), PURE Column — no UDF, no shuffle:

      paragraphs          = blank-line-separated spans with content
      dup_para_frac       = 1 - distinct/total paragraphs
      dup_para_char_frac  = Σ over distinct repeated paragraphs of
                            (count-1)·chars(p) / chars(doc)
      top_para_char_frac  = max over paragraphs of count·chars / chars(doc)

    Both dup_* columns count EXCESS occurrences only (the first sighting of
    a paragraph is not a duplicate) — the same convention for rows and
    chars, matching dup_para_frac's 1 - distinct/total. max(count·chars),
    same tie-free definition as repetition_stats.

    Shape: within-doc occurrence counting over the DISTINCT paragraph list
    — O(distinct·P) interpreted higher-order comparisons per document (P =
    paragraph count, typically tens) in one narrow projection; an explode +
    groupBy design would shuffle the corpus by paragraph instead. Docs with
    no content paragraphs: n_paras=0, NULL fractions."""
    paras = F.filter(F.split(F.col(text_col), r"\n{2,}"),
                     lambda p: p.rlike(_PARA_CONTENT_RE))
    n = F.size(paras)
    chars = F.length(F.col(text_col))
    occ = lambda p: F.size(F.filter(paras, lambda x: x == p))  # noqa: E731
    distinct = F.array_distinct(paras)
    dup_chars = F.aggregate(
        distinct, F.lit(0).cast("bigint"),
        lambda acc, p: acc + (occ(p) - 1) * F.length(p))
    top = F.array_max(F.transform(distinct, lambda p: occ(p) * F.length(p)))
    nn = F.nullif(chars, F.lit(0))
    return df.select(
        F.col(id_col),
        F.coalesce(n, F.lit(0)).cast("bigint").alias("n_paras"),
        F.round(F.when(n > 0,
                       1.0 - F.size(distinct) / n.cast("double")), 6)
         .alias("dup_para_frac"),
        F.round(F.when(n > 0, dup_chars.cast("double") / nn), 6)
         .alias("dup_para_char_frac"),
        F.round(F.when(n > 0, top.cast("double") / nn), 6)
         .alias("top_para_char_frac"))


def _recover_compaction(spark, table: str) -> None:
    """If a compact() crashed between its renames, the store survives only
    as `{table}__old` — rename it back. Called from compact() AND from the
    stores' exists(), so a post-crash nightly wave self-heals instead of
    silently rebuilding an empty store (which would re-admit every
    historical duplicate)."""
    old = f"{table}__old"
    if not spark.catalog.tableExists(table) \
            and spark.catalog.tableExists(old):
        spark.sql(f"alter table {old} rename to {table}")


def _catalog_bucket_spec(spark, table: str,
                         default_col: str, default_n: int) -> tuple[str, int]:
    """The table's ACTUAL bucket spec from the catalog — compaction must
    rewrite with the spec the table was created with, not whatever the
    caller passed (a --buckets mismatch would otherwise make every later
    bucketBy append fail with a spec-mismatch AnalysisException)."""
    desc = {r["col_name"]: r["data_type"] for r in
            spark.sql(f"describe extended {table}").collect()}
    col = desc.get("Bucket Columns", "").strip("[]` ") or default_col
    try:
        n = int(desc.get("Num Buckets", ""))
    except ValueError:
        n = default_n
    return col, n


def _compact_catalog_table(spark, table: str, bucket_col: str,
                           n_buckets: int) -> int:
    """Rewrite a bucketed store table with DISTINCT rows, preserving the
    bucket spec (read from the CATALOG, not trusted from the caller).
    Replayed waves re-append their rows (harmless for anti-join existence
    semantics but unbounded growth over months of crash/replay cycles);
    full-row distinct removes exactly that duplication while keeping one
    row per (key, wave_id) — so replay exclusion still sees every wave tag
    it saw before and idempotency is unchanged.

    STOP WRITERS FIRST: an append committed after the distinct snapshot is
    read would be absent from the rewrite — a cheap recount guard aborts
    (tmp dropped, store untouched) if the row count moved during the
    rewrite, but the count→swap race window remains; run in a maintenance
    window. Swap is rename-aside → rename-tmp → drop-old, so a crash at
    any step leaves a recoverable copy: a missing store with a surviving
    `__old` is renamed back on the next compact() call. v1 catalog ops
    are NOT atomic (readers can catch the instant between the renames);
    on Iceberg this whole function becomes one atomic REPLACE TABLE AS
    SELECT. Returns rows removed."""
    tmp, old = f"{table}__compacting", f"{table}__old"
    _recover_compaction(spark, table)
    spark.catalog.refreshTable(table)
    src = spark.table(table)
    before = src.count()
    bucket_col, n_buckets = _catalog_bucket_spec(
        spark, table, bucket_col, n_buckets)
    spark.sql(f"drop table if exists {tmp}")
    (src.distinct().write
     .bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
     .format("parquet").saveAsTable(tmp))
    after = spark.table(tmp).count()
    spark.catalog.refreshTable(table)
    if spark.table(table).count() != before:
        spark.sql(f"drop table {tmp}")
        raise RuntimeError(
            f"{table} was appended to during compaction; aborted with the "
            f"store untouched — stop writers and rerun")
    spark.sql(f"drop table if exists {old}")
    spark.sql(f"alter table {table} rename to {old}")
    spark.sql(f"alter table {tmp} rename to {table}")
    spark.sql(f"drop table {old}")
    spark.catalog.refreshTable(table)
    return before - after


# ---------------------------------------------------- score-based selection

def top_fraction_by_score(
    df: DataFrame,
    fraction: float,
    score_col: str,
    id_col: str = "doc_id",
    *,
    exact: bool = True,
    n_rows: int | None = None,
) -> DataFrame:
    """Keep the best `fraction` of documents by score — the final selection
    step after quality scoring (keep the top X% by quality/perplexity).

    exact=True: top-k with a deterministic md5(id) tie-break, executed as
    orderBy+limit — Spark plans TakeOrderedAndProject (per-partition top-k
    + driver merge of k·partitions rows, NEVER a full global sort). Right
    whenever k rows fit through the driver merge (≤ ~10^7).

    exact=False (the 100 TB path): approx_percentile threshold (one
    partial-agg pass, GK sketch) + a narrow filter — no ordering anywhere,
    kept count approximates n·fraction within the sketch accuracy, and
    every kept score ≥ every dropped score except at the threshold value
    itself. Not exactly replayable (sketch depends on merge order), so the
    oracle covers the exact mode and pytest bounds this one against it.

    ``n_rows``: pass the (already known) row count to skip the counting
    pass — exact mode otherwise evaluates the input plan twice (count +
    TakeOrdered), which doubles upstream scoring cost; persist/checkpoint
    the input or supply n_rows when the scoring chain is expensive."""
    if not 0 < fraction <= 1:
        raise ValueError("fraction must be in (0, 1]")
    if exact:
        n = n_rows if n_rows is not None else df.count()
        # floor(n·fraction) in INTEGER arithmetic: int(n * fraction) on
        # floats truncates into float error (int(100*0.29) == 28), while
        # the SQL oracle floors exact decimals — match the decimal answer
        k = (n * round(fraction * 10**9)) // 10**9
        return (df.orderBy(F.col(score_col).desc(),
                           F.md5(F.col(id_col).cast("string")).asc())
                .limit(int(k)))
    thr = df.agg(F.percentile_approx(
        score_col, 1.0 - fraction, 10_000).alias("t")).collect()[0]["t"]
    return df.where(F.col(score_col) >= thr)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_df: int = 1,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (sklearn's convention: idf = ln((1+N)/(1+df)) + 1, score = tf*idf) —
    the standard keyword signal for corpus topic audits, domain tagging
    and mixture diagnostics.

    Output: (id, term, tf, score, rank) with rank 1..k ordered by
    (score desc, term asc) — the term tiebreak makes the cut deterministic
    cross-engine. Scores are rounded to 4 decimals BEFORE ranking so both
    engines rank the very values they emit.

    Scale shape: explode → two hash aggregations ((doc,term) then term),
    both with map-side combine, so ubiquitous terms never concentrate
    rows. N (total docs) rides along as a broadcast scalar from a 1-row
    count aggregate — no driver .count() round trip inside the plan. The
    tf↔idf join shuffles on term; the idf side is vocabulary-sized
    (≪ corpus — at web scale still maybe 10^8 rows, which is why it is
    NOT force-broadcast; AQE demotes/promotes per run). The final top-k
    window partitions by doc id — bounded keys (≤ distinct terms of one
    doc), never a global sort."""
    from pyspark.sql.window import Window

    terms = df.select(F.col(id_col),
                      F.explode(tokens(F.col(text_col))).alias("term"))
    if stopwords:
        terms = terms.where(~F.col("term").isin(stopwords))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    docfreq = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
               .where(F.col("df") >= F.lit(min_df))
               .crossJoin(F.broadcast(n_docs))
               .select("term",
                       (F.log((F.lit(1) + F.col("__n"))
                              / (F.lit(1) + F.col("df"))) + F.lit(1)
                        ).alias("idf")))
    scored = (tf.join(docfreq, "term")
              .select(id_col, "term", "tf",
                      F.round(F.col("tf") * F.col("idf"), 4).alias("score")))
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def host_boilerplate_removal(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    max_frac: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Site-template stripping (the CCNet/jusText family's per-SITE move):
    a line appearing in at least max_frac of a host's documents is
    navigation / footer / cookie-banner boilerplate and is removed from
    EVERY document of that host. Unlike span_dedup (corpus-wide canonical
    occurrence) the decision here is host-scoped and frequency-based: the
    line disappears everywhere, including its first occurrence.

    Exactness: the threshold is integer cross-multiplied
    (docs_with_line·den ≥ host_docs·num), hosts under min_docs documents
    are exempt (no evidence), a line must appear in ≥2 documents, and
    blank lines never qualify (they are structure, not boilerplate) — all
    replayed by the DuckDB oracle.

    Returns (id_col, clean_text, n_lines, n_removed) for documents with
    non-NULL text; NULL-text documents keep NULL clean_text.

    Scale shape: posexplode lines (narrow) → one distinct + two
    partial-aggregated shuffles on (host, line-fp) / host — uniform md5
    keys — → broadcast-or-shuffle anti join of lines against the (small:
    only lines that CLEARED the frequency bar) boilerplate set → one
    groupBy(doc) reassembly, per-key state bounded by a doc's line count.
    Per-host line frequency is exactly the skewed-host shape
    cap_per_host documents; counts partial-aggregate so a 10^7-page host
    costs its mappers, not one reducer."""
    from cloud_data_quality_spark.functions.hosts import url_host
    num, den = max_frac
    if not (0 < num <= den):
        raise ValueError(f"max_frac must be in (0, 1], got {max_frac}")
    host = url_host(F.col(url_col))
    base = df.where(F.col(text_col).isNotNull()) \
        .select(F.col(id_col), host.alias("__host"), F.col(text_col))
    lines = (base.select(
        id_col, "__host",
        F.posexplode(F.split(F.col(text_col), "\n", -1))
        .alias("pos", "line"))
        .withColumn("fp", _span_fp(F.col("line"))))
    per_host = base.groupBy("__host").agg(F.count(F.lit(1)).alias("__n"))
    per_line = (lines.where(F.length(F.trim("line")) > 0)
                .select("__host", "fp", id_col).distinct()
                .groupBy("__host", "fp")
                .agg(F.count(F.lit(1)).alias("__d")))
    bad = (per_line.join(per_host, "__host")
           .where((F.col("__n") >= min_docs) & (F.col("__d") >= 2)
                  & (F.col("__d") * den >= F.col("__n") * num))
           .select("__host", "fp"))
    kept = lines.join(bad, ["__host", "fp"], "left_anti")
    re = (kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("pos"), F.col("line")))),
                lambda s: s.line),
            "\n").alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("__kept")))
    n_lines = F.size(F.split(F.col(text_col), "\n", -1)).cast("bigint")
    return (base
            .join(re, id_col, "left")
            .select(
                F.col(id_col),
                # a doc whose every line was boilerplate reassembles to ''
                F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
                n_lines.alias("n_lines"),
                (n_lines - F.coalesce(F.col("__kept"), F.lit(0)))
                .cast("bigint").alias("n_removed"))
            .unionByName(
                df.where(F.col(text_col).isNull()).select(
                    F.col(id_col),
                    F.lit(None).cast("string").alias("clean_text"),
                    F.lit(None).cast("bigint").alias("n_lines"),
                    F.lit(None).cast("bigint").alias("n_removed"))))


def build_vocabulary(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Corpus vocabulary: the top_n most frequent whitespace tokens with
    their corpus frequency and 1-based rank — the tokenizer-training /
    embedding-table prep step of an LLM data pipeline (and the vocab side
    of OOV-rate quality scoring, see :func:`oov_stats`).

    Deterministic: ties broken by term ascending, so the rank (and the
    boundary cut at top_n) is a total order both engines replay.

    Scale shape: explode tokens (narrow) → one partial-aggregated count
    shuffle on term (stopword skew is absorbed map-side: counts combine
    before the exchange) → orderBy+limit plans as TakeOrderedAndProject
    (per-partition top-N, driver merge of N-row heaps — never a global
    sort) → rank via a window over the ALREADY top_n-bounded frame (≤top_n
    rows on one partition by construction, not a corpus-wide window).

    Reference analogue: CloudDQ profiles column value distributions via
    generated GROUP BY queries (clouddq/classes/dq_rule.py rule SQL); this
    is the corpus-scale equivalent over token space.
    """
    freq = (df.select(F.explode(tokens(F.col(text_col))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("freq")))
    top = freq.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(top_n)
    from pyspark.sql import Window
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    return top.select(
        "term", "freq",
        F.row_number().over(w).cast("int").alias("rank"))


def oov_stats(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a bounded vocabulary
    (usually :func:`build_vocabulary`'s output): high OOV fraction flags
    gibberish, boilerplate-mangled, or wrong-language documents — a
    standard learned-tokenizer-era quality gate.

    Returns (id_col, n_tokens, n_oov, oov_micro) for every input row:
    oov_micro = floor(n_oov * 1e6 / n_tokens) in integer micro-units
    (exact on any partitioning — no float division anywhere), NULL for
    token-less documents (0/0 is no evidence, not 0% OOV).

    Scale shape: explode tokens (narrow) → broadcast left join against the
    vocab (bounded by top_n — never a shuffle join) → one per-doc
    partial-aggregated count shuffle on the id → broadcast-safe left join
    back to the input's id spine so empty/NULL-text docs keep a row.
    """
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("term"))
    iv = F.broadcast(
        vocab.select("term").withColumn("__iv", F.lit(1)))
    per = (toks.join(iv, "term", "left")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                F.sum(F.when(F.col("__iv").isNull(), 1).otherwise(0))
                .cast("bigint").alias("n_oov")))
    return (df.select(id_col).join(per, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
                .alias("n_tokens"),
                F.coalesce(F.col("n_oov"), F.lit(0)).cast("bigint")
                .alias("n_oov"),
                # `div`, not `/`: float division + cast would round-trip
                # through a double; integer floor-div is exact and matches
                # DuckDB's `//` on non-negative operands
                F.when(F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
                       F.expr("(coalesce(n_oov, 0) * 1000000) "
                              "div n_tokens"))
                .cast("bigint").alias("oov_micro")))


def dedup_lines_col(text: Column) -> Column:
    """Column form of :func:`dedup_lines_in_doc`'s cleanup: the text with
    every repeated line reduced to its first in-document occurrence (blank
    lines always kept, NULL → NULL). Use this for in-place rewrites (the
    `curate --dedup-lines` stage); use dedup_lines_in_doc when you also
    want the removal counts."""
    arr = F.split(text, "\n", -1)
    kept = F.filter(
        arr, lambda x, i: (F.length(x) == 0)
        | (F.array_position(arr, x) == i + 1))
    return F.when(text.isNull(), F.lit(None).cast("string")) \
        .otherwise(F.array_join(kept, "\n"))


def dedup_lines_in_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-document repeated-line removal (the within-doc half of the
    Gopher/MassiveText repetition cleanup; :func:`span_dedup` is the
    CROSS-document half): each line keeps only its first occurrence inside
    its own document — scraper stutter, repeated nav strips, and copy-paste
    echoes collapse without any cross-document coordination.

    Blank lines are structure, not repetition, and are always kept.

    Returns (id_col, clean_text, n_lines, n_removed); NULL text stays NULL
    with NULL counts.

    Scale shape: a PURE per-row Column expression — split → higher-order
    filter(first-occurrence-index == own-index) → rejoin. Zero shuffle,
    zero Python, survives any partitioning; cost is O(lines²) per doc in
    array_position probes, bounded by per-doc line counts, not corpus
    size. (Contrast: a posexplode+window formulation would shuffle the
    whole corpus on doc id for a decision that never leaves the row.)
    """
    arr = F.split(F.col(text_col), "\n", -1)
    # keep line i iff it's blank or the FIRST index holding this exact
    # line is i itself (array_position is 1-based; the (x, i) lambda index
    # is 0-based)
    kept = F.filter(
        arr, lambda x, i: (F.length(x) == 0)
        | (F.array_position(arr, x) == i + 1))
    n_lines = F.size(arr).cast("bigint")
    n_kept = F.size(kept).cast("bigint")
    return df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.array_join(kept, "\n")).alias("clean_text"),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("bigint"))
        .otherwise(n_lines).alias("n_lines"),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("bigint"))
        .otherwise(n_lines - n_kept).alias("n_removed"))


def temperature_mix(
    df: DataFrame,
    stratum_col: str,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Temperature-based source rebalancing — the multilingual data-mixing
    rule of mT5/XLM-R (sample stratum s with probability ∝ n_s^alpha,
    alpha in (0,1] flattening the head). Deterministic downsample with
    keep-rate r_s = (n_min/n_s)^(1-alpha): the largest sample whose
    post-mix counts are ∝ n_s^alpha without ever replicating (the
    smallest stratum keeps rate 1). alpha=1 keeps everything; alpha→0
    approaches uniform-per-stratum. Unlike :func:`importance_resample`
    the target distribution is DERIVED from the observed counts inside
    the plan, not supplied by the caller.

    Scale shape: per-stratum counts are a tiny aggregate (map-side
    combined); the min rides along as a broadcast scalar; the keep
    decision is the same md5-threshold narrow filter as
    stratified_sample — the corpus itself never shuffles. For alpha=0.5
    the rate is sqrt(n_min/n_s): sqrt and division are IEEE
    correctly-rounded, so the floored 60-bit threshold is bit-identical
    in any engine (the replay contract); other alphas go through pow(),
    whose last ulp is implementation-defined — thresholds may differ by
    ~1 in 2^60 across engines (still deterministic per engine).
    """
    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("double").alias("__n"))
    mn = counts.agg(F.min("__n").alias("__mn"))
    ratio = F.col("__mn") / F.col("__n")
    rate = F.sqrt(ratio) if alpha == 0.5 else \
        F.pow(ratio, F.lit(1.0 - alpha))
    rates = (counts.crossJoin(F.broadcast(mn))
             .select(stratum_col,
                     F.floor(rate * F.lit(float(1 << _HASH_BITS)))
                     .cast("bigint").alias("__thr")))
    return (df.join(F.broadcast(rates), stratum_col)
            .where(sample_hash(id_col, salt) < F.col("__thr"))
            .select(*df.columns))


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval: top-k documents for a fixed bag of query
    terms (Robertson/Sparck-Jones, the Lucene `ln(1 + (N-df+0.5)/(df+0.5))`
    idf variant). Output (id, score) with score rounded to 4 dp BEFORE the
    top-k cut and ties broken by id, so the cut is deterministic and
    engine-replayable.

    Scale shape: the query is a handful of terms, so per-doc term
    frequencies are PURE Column expressions (size∘filter over the token
    array — no explode, no (doc,term) shuffle); corpus statistics (N,
    Σdl, per-term document frequencies) are ONE tiny aggregate row
    broadcast back; the ranked cut is orderBy+limit —
    TakeOrderedAndProject (per-partition heap + driver merge), never a
    global sort. Exactly one narrow scan over the corpus. Float op order
    mirrors the oracle SQL term by term: every input to ln/÷ is built
    from exact integers, so scores match bit-for-bit cross-engine before
    the 4-dp round.
    """
    toks = tokens(F.col(text_col))

    def _tf(term: str) -> Column:
        # a (x, t=term) default-arg lambda would have arity 2 and pyspark
        # would bind the ELEMENT INDEX to t — closure factory instead
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per_doc = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("__dl"),
        *[_tf(t).cast("bigint").alias(f"__tf{i}")
          for i, t in enumerate(query_terms)])
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("__nd"),
        F.sum("__dl").alias("__sdl"),
        *[F.sum((F.col(f"__tf{i}") > 0).cast("bigint")).alias(f"__df{i}")
          for i in range(len(query_terms))])
    avgdl = F.col("__sdl").cast("double") / F.col("__nd")
    scored = per_doc.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query_terms)):
        tf, dfq = F.col(f"__tf{i}"), F.col(f"__df{i}")
        idf = F.log(F.lit(1.0) + (F.col("__nd") - dfq + F.lit(0.5))
                    / (dfq + F.lit(0.5)))
        term = (idf * (tf * F.lit(k1 + 1.0))
                / (tf + F.lit(k1) * (F.lit(1.0 - b)
                                     + (F.lit(b) * F.col("__dl")) / avgdl)))
        score = term if score is None else score + term
    return (scored.select(id_col, F.round(score, 4).alias("score"))
            .where(F.col("score") > 0)
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))


def encoding_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encoding-hygiene signals for crawled text: per-doc counts of U+FFFD
    replacement characters (the scar tissue of a bad charset transcode —
    the classic "drop if > k" mojibake gate), C0/DEL control characters,
    and zero-width characters, plus `is_normalized` — whether
    :func:`text.normalize_text` would be a no-op. The ctrl/zero-width
    classes are the SAME constants normalize_text strips, so those counts
    explain exactly what normalization would change; U+FFFD is the one
    signal normalization can NOT repair (the original bytes are gone) —
    gate on it, don't normalize it.

    Returns (id, n_chars, n_replacement, n_ctrl, n_zero_width,
    is_normalized); NULL text propagates NULL everywhere.

    Scale shape: pure per-row Column expressions (length-difference
    counting over JVM regexp_replace) — zero shuffle, zero Python, fully
    codegen'd; survives any partitioning."""
    from cloud_data_quality_spark.functions.text import (
        NORM_CTRL_RE,
        NORM_ZERO_WIDTH_RE,
        normalize_text,
    )
    t = F.col(text_col)

    def n_of(pattern: str) -> Column:
        return (F.length(t)
                - F.length(F.regexp_replace(t, pattern, ""))).cast("bigint")

    return df.select(
        F.col(id_col),
        F.length(t).cast("bigint").alias("n_chars"),
        n_of("\\x{FFFD}").alias("n_replacement"),
        n_of(NORM_CTRL_RE).alias("n_ctrl"),
        n_of(NORM_ZERO_WIDTH_RE).alias("n_zero_width"),
        (normalize_text(t) == t).alias("is_normalized"))


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 1000,
) -> DataFrame:
    """Inverted index build: one row per term with its document frequency
    and the full sorted posting list (doc ids) — the backbone artifact for
    retrieval, containment checks, and cross-doc overlap tooling.

    Terms whose document frequency exceeds `max_df` keep their exact `df`
    but emit an EMPTY posting list with `truncated=true` — the same
    principled skew defense as :func:`dedup.containment_pairs`: ubiquitous
    terms (stopwords) are precisely the ones whose postings carry no
    discriminative signal, and they are also the ones whose collect would
    concentrate the corpus onto one reducer. The cap is applied BEFORE any
    per-term list materializes, so no executor ever holds a hot term's
    postings.

    Scale shape: explode → (term, doc) distinct-aggregate (map-side
    combined — a doc's repeated term collapses locally), df count agg on
    the term key, then collect_list only over the df-filtered remainder;
    posting lists are sorted with sort_array so output is deterministic
    under any partitioning. All shuffles key on term — uniform after the
    hot-term cap."""
    pairs = (df.select(F.col(id_col).alias("__doc"),
                       F.explode(tokens(F.col(text_col))).alias("term"))
             .groupBy("term", "__doc").agg(F.lit(1).alias("__one")))
    dfreq = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    kept = (pairs.join(dfreq.where(F.col("df") <= F.lit(max_df)), "term")
            .groupBy("term")
            .agg(F.sort_array(F.collect_list("__doc")).alias("postings")))
    id_type = dict(df.dtypes)[id_col]
    return (dfreq.join(kept, "term", "left")
            .select("term", "df",
                    F.coalesce(F.col("postings"),
                               F.array().cast(f"array<{id_type}>"))
                    .alias("postings"),
                    (F.col("df") > F.lit(max_df)).alias("truncated")))


#: Flesch reading-ease constants (Flesch 1948), embedded via repr() into
#: the generated oracle so both engines score with identical doubles.
FLESCH_BASE = 206.835
FLESCH_SENT = 1.015
FLESCH_SYLL = 84.6


def readability_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease scoring — the readability signal behind
    educational-quality corpus filters: per-doc word / sentence / syllable
    counts plus the Flesch score, using the classic vowel-group syllable
    heuristic with the every-word-has-≥1-syllable floor.

    Syllables are counted as [aeiouy]+ runs over the WHOLE lowercased text
    plus one per vowel-less word — arithmetically identical to per-word
    max(1, runs) (whitespace tokenization means a vowel run can never span
    two words) but without a per-word fold, which Catalyst would interpret
    rather than codegen. Sentences floor at 1 (word-soup corpora have no
    terminal punctuation; Flesch is undefined at S=0, not infinite).
    Score is rounded to 4 dp from IEEE-exact inputs (integer counts,
    correctly-rounded divisions, repr-shared constants) so it replays
    bit-for-bit cross-engine. Docs with zero words (or NULL text) emit
    NULL score.

    Scale shape: pure Column expressions — zero shuffle, zero Python; one
    higher-order filter for the vowel-less-word count, everything else
    plain regexp counting."""
    t = F.lower(F.col(text_col))
    toks = tokens(F.col(text_col))
    n_words = F.size(toks).cast("bigint")
    n_sent = F.size(F.regexp_extract_all(
        F.col(text_col), F.lit("[.!?]+"), F.lit(0))).cast("bigint")
    runs = F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), F.lit(0)))
    no_vowel = F.size(F.filter(
        toks, lambda w: ~F.lower(w).rlike("[aeiouy]")))
    n_syll = (runs + no_vowel).cast("bigint")
    w = n_words.cast("double")
    s = F.greatest(n_sent, F.lit(1)).cast("double")
    score = (F.lit(FLESCH_BASE) - F.lit(FLESCH_SENT) * (w / s)
             - F.lit(FLESCH_SYLL) * (n_syll.cast("double") / w))
    return df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("bigint"))
        .otherwise(n_words).alias("n_words"),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("bigint"))
        .otherwise(n_sent).alias("n_sentences"),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("bigint"))
        .otherwise(n_syll).alias("n_syllables"),
        F.when(n_words > 0, F.round(score, 4))
        .otherwise(F.lit(None).cast("double")).alias("flesch"))


#: script classes as EXPLICIT codepoint ranges — identical semantics in
#: Java regex and RE2 (the \p{script=...} spellings differ per engine, so
#: the shared-constant oracle pattern demands raw ranges). Ranges cover
#: the dominant blocks, not every historic supplement — a routing signal,
#: not a property database.
SCRIPT_RANGES = (
    ("latin", "[A-Za-z\\x{00C0}-\\x{024F}]"),
    ("cjk", "[\\x{3040}-\\x{30FF}\\x{3400}-\\x{4DBF}"
            "\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}]"),
    ("cyrillic", "[\\x{0400}-\\x{04FF}]"),
    ("arabic", "[\\x{0600}-\\x{06FF}\\x{0750}-\\x{077F}]"),
    ("greek", "[\\x{0370}-\\x{03FF}]"),
    ("devanagari", "[\\x{0900}-\\x{097F}]"),
)


def script_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode script profile per document: counts of Latin / CJK
    (Han+kana+hangul) / Cyrillic / Arabic / Greek / Devanagari characters
    plus the dominant script — the routing signal that decides which
    language-ID model, tokenizer, or per-script pipeline branch a crawled
    page feeds (and the cheap mixed-script spam tell: Cyrillic lookalikes
    inside Latin words).

    Returns (id, n_letters, n_<script>..., dominant) where n_letters sums
    the classified counts, `dominant` is the argmax with the declaration
    order above breaking ties, and docs with zero classified characters
    (or NULL text) get dominant NULL.

    Scale shape: pure Column length-difference counting over explicit
    codepoint ranges (the \\p{script=..} spellings differ between engines;
    raw ranges replay identically) — zero shuffle, zero Python, fully
    codegen'd."""
    t = F.col(text_col)
    counts = {
        name: (F.length(t) - F.length(F.regexp_replace(t, rng, "")))
        .cast("bigint")
        for name, rng in SCRIPT_RANGES
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    # ordered CASE: the first declared script holding the max wins ties —
    # the oracle replays the same greatest() + CASE chain
    max_all = F.greatest(*counts.values())
    best = None
    for name, _ in SCRIPT_RANGES:
        cond = (counts[name] == max_all) & (counts[name] > 0)
        best = F.when(cond, F.lit(name)) if best is None \
            else best.when(cond, F.lit(name))
    dominant = best.otherwise(F.lit(None).cast("string"))
    return df.select(
        F.col(id_col),
        total.alias("n_letters"),
        *[counts[n].alias(f"n_{n}") for n, _ in SCRIPT_RANGES],
        dominant.alias("dominant"))


