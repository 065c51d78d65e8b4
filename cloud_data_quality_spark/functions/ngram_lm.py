"""Word n-gram language-model scoring with stupid backoff (CCNet-faithful).

CCNet (Wenzek et al. 2020) buckets Common-Crawl documents by the perplexity
of a KenLM 5-gram model; the reference DQ engine has no LM at all, so this
is a pipeline extension. The repo's earlier scorers (unigram NLL, top-K
unigram, char-bigram — functions/webtext_rules.py) are 1-gram-context
models; this module adds real n-gram context: a word TRIGRAM model with
stupid backoff (Brants et al. 2007, 'Large Language Models in Machine
Translation' §4 — score-based backoff with a fixed penalty, no discounting
normalization), trained ON THE CORPUS ITSELF in the same Spark job:

    S(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)        if c(w1 w2 w3) > 0
                  = alpha * S(w3 | w2)            otherwise
    S(w3 | w2)    = c(w2 w3) / c(w2)              if c(w2 w3) > 0
                  = alpha * S(w3)                 otherwise
    S(w3)         = c(w3) / N

Out-of-vocabulary handling mirrors KenLM's <unk>: tokens outside the top-V
vocabulary (deterministic tie-break: count desc, token asc) are mapped to a
single '<unk>' symbol BEFORE counting, so every count table is over the
closed vocab and the model degrades gracefully on unseen text.

Every arithmetic step is exactly replayable in DuckDB (integer counts,
double divisions, ln, round-4) — see
plans/registry_corpus.ORACLE_TRIGRAM_LOGPROB.

Scale posture (10^12 docs):
* the only corpus-wide shuffle is ONE hash partition by doc id for the
  lead() windows that build adjacency (uniform keys, never global);
* the vocabulary is the ONLY forced broadcast (V rows, default 500 —
  executor memory stays O(V));
* n-gram count tables are NOT hint-broadcast: their cardinality is
  corpus-dependent (bounded above by the distinct mapped n-grams, which
  the <unk> mapping compresses hard), so AQE picks broadcast only when
  they actually fit — the same posture as unigram_logprob's freq join;
* count joins and the final per-doc aggregation hash-partition on
  uniform md5-ish keys (words / word pairs / doc ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_data_quality_spark.functions.dedup import eager_checkpoint
from cloud_data_quality_spark.functions.text import tokens

UNK = "<unk>"
DEFAULT_ALPHA = 0.4
DEFAULT_VOCAB = 500


DEFAULT_PRUNE = 2


def trigram_backoff_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = DEFAULT_VOCAB,
    alpha: float = DEFAULT_ALPHA,
    prune_below: int = DEFAULT_PRUNE,
) -> DataFrame:
    """Per-document mean negative log stupid-backoff trigram score.

    Returns (id_col, nll, n_trigrams): nll = round(avg(-ln S), 4) over the
    document's trigram positions. Documents with fewer than 3 tokens have
    no trigram events and produce no row (callers left-join, same
    convention as span_dedup).

    `prune_below` drops trigram/bigram entries with count < prune_below
    from the model (KenLM's singleton pruning): scoring the training
    corpus itself would otherwise never back off — every scored n-gram
    trivially has count >= 1 — so pruning is what makes rare continuations
    actually pay the backoff penalty. Denominators stay UNpruned (the
    context count c(w1 w2) and the unigram counts), exactly like KenLM:
    pruning changes which n-grams EXIST, not the mass they were counted
    over. prune_below=1 keeps everything (no backoff on in-corpus text).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w_raw"))

    freq_raw = toks.groupBy("w_raw").agg(F.count(F.lit(1)).alias("c"))
    vocab = (freq_raw.orderBy(F.col("c").desc(), F.col("w_raw"))
             .limit(vocab_size).select("w_raw", F.lit(True).alias("__in_v")))

    # pin: uni/bi/tri counts AND the scoring rows all consume `mapped` —
    # without it Catalyst re-inlines the scan+tokenize+vocab subtree into
    # every consumer (measured 28 scans of the corpus in the executed plan;
    # with the pin, ONE scan + checkpoint reads). The mapped stream is
    # (id, pos, word) — narrow rows, safe at scale.
    mapped = eager_checkpoint(
        toks.join(F.broadcast(vocab), "w_raw", "left")
        .select(id_col, "pos",
                F.when(F.col("__in_v"), F.col("w_raw"))
                .otherwise(F.lit(UNK)).alias("w")))

    w_doc = Window.partitionBy(id_col).orderBy("pos")
    tri = (mapped
           .select(F.col(id_col), "pos",
                   F.col("w").alias("w1"),
                   F.lead("w", 1).over(w_doc).alias("w2"),
                   F.lead("w", 2).over(w_doc).alias("w3"))
           .where(F.col("w3").isNotNull()))

    # Count tables from the SAME adjacency rows the scorer consumes: bigram
    # counts must cover every adjacent pair (w_i, w_{i+1}) including the
    # final pair of each doc, which the trigram rows exclude — so bigrams
    # get their own lead-window pass over `mapped` (same single shuffle,
    # Catalyst reuses the exchange).
    bi_rows = (mapped
               .select(F.col(id_col),
                       F.col("w").alias("b1"),
                       F.lead("w", 1).over(w_doc).alias("b2"))
               .where(F.col("b2").isNotNull()))
    c_uni = mapped.groupBy(F.col("w").alias("u")) \
        .agg(F.count(F.lit(1)).alias("cu"))
    n_total = c_uni.agg(F.sum("cu").cast("double").alias("__n"))
    c_bi = bi_rows.groupBy("b1", "b2").agg(F.count(F.lit(1)).alias("cb"))
    c_tri = tri.groupBy(F.col("w1").alias("t1"), F.col("w2").alias("t2"),
                        F.col("w3").alias("t3")) \
        .agg(F.count(F.lit(1)).alias("ct"))

    c_tri_kept = c_tri.where(F.col("ct") >= prune_below)
    c_bi_kept = c_bi.where(F.col("cb") >= prune_below)

    a = F.lit(float(alpha))
    scored = (
        tri
        .join(c_tri_kept, (F.col("w1") == F.col("t1"))
              & (F.col("w2") == F.col("t2"))
              & (F.col("w3") == F.col("t3")), "left")
        .join(c_bi.select(F.col("b1").alias("x1"), F.col("b2").alias("x2"),
                          F.col("cb").alias("cb_ctx")),
              (F.col("w1") == F.col("x1")) & (F.col("w2") == F.col("x2")),
              "left")
        .join(c_bi_kept.select(F.col("b1").alias("y1"),
                               F.col("b2").alias("y2"),
                               F.col("cb").alias("cb_pair")),
              (F.col("w2") == F.col("y1")) & (F.col("w3") == F.col("y2")),
              "left")
        .join(c_uni.select(F.col("u").alias("u2"), F.col("cu").alias("cu2")),
              F.col("w2") == F.col("u2"), "left")
        .join(c_uni.select(F.col("u").alias("u3"), F.col("cu").alias("cu3")),
              F.col("w3") == F.col("u3"), "left")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "s",
            F.when(F.col("ct").isNotNull(),
                   F.col("ct").cast("double") / F.col("cb_ctx"))
            .when(F.col("cb_pair").isNotNull(),
                  a * (F.col("cb_pair").cast("double") / F.col("cu2")))
            .otherwise(a * a * (F.col("cu3").cast("double") / F.col("__n"))))
    )
    return (scored.groupBy(id_col)
            .agg(F.round(F.avg(-F.log("s")), 4).alias("nll"),
                 F.count(F.lit(1)).cast("bigint").alias("n_trigrams")))
