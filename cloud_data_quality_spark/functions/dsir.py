"""DSIR importance scoring over a corpus (see dsir_artifact for the
weight-table derivation and the paper citation).

Reference parity note: the reference engine has no data-selection
operators at all — this is north-star territory (training-data curation on
Spark), same tier as the classifier/selection stack it composes with.
"""

from __future__ import annotations

# module-level: pandas_udf resolves 'pd.Series'/'pd.DataFrame' type hints
# through the enclosing function's GLOBALS (same trap as cli.py:39-42)
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_data_quality_spark.functions import text as TX
from cloud_data_quality_spark.functions.classifier import (
    feature_bucket_col,
    ngram_features,
    weight_table,
)
from cloud_data_quality_spark.functions.dsir_artifact import (
    DSIR_WEIGHTS_MICRO,
)


def dsir_weights(spark: SparkSession) -> DataFrame:
    """The embedded artifact as a 2048-row (bucket, wm) DataFrame."""
    return weight_table(spark, DSIR_WEIGHTS_MICRO)


def dsir_scores(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-document DSIR log-importance score: (id_col, dsir_micro,
    n_feats). dsir_micro is the int64 sum of per-occurrence bucket
    weights — exact on any partitioning; n_feats the occurrence count
    (callers wanting a length-normalized score divide downstream, where
    they control the rounding).

    Plan: the classifier's JVM skeleton — explode features → md5 bucket →
    broadcast 2048-row weight join → int64 partial agg — fully
    declarative, zero Python, and the 1:1 skeleton of the DuckDB oracle.
    Empty/NULL text scores 0 with n_feats 0 (no evidence ⇒ ratio 1).

    Selection composes with the existing stack: feed dsir_micro to
    top_fraction_by_score for a fixed-rate DSIR pass or to
    select_token_budget for a budgeted one."""
    spark = df.sparkSession
    base = df.select(id_col, TX.tokens(F.col(text_col)).alias("_toks"))
    feats = base.select(
        id_col, F.explode(ngram_features(F.col("_toks"))).alias("f"))
    summed = (
        feats
        .select(id_col, feature_bucket_col(F.col("f")).alias("bucket"))
        .join(F.broadcast(dsir_weights(spark)), "bucket")
        .groupBy(id_col)
        .agg(F.sum("wm").alias("_ws"), F.count(F.lit(1)).alias("_nf")))
    return (base.select(id_col)
            .join(summed, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("_ws"), F.lit(0)).cast("bigint")
                .alias("dsir_micro"),
                F.coalesce(F.col("_nf"), F.lit(0)).cast("bigint")
                .alias("n_feats")))


def dsir_scores_batch(texts) -> "tuple":
    """Arrow-batch twin of the JVM plan: (scores int64[], n_feats int64[]).
    Same vectorization as classifier_scores_batch — one tokenize pass,
    md5 only on bucket-cache misses (the cache is SHARED with the
    classifier: identical feature strings hash identically), float64
    bincount (score magnitudes < 2^53 ⇒ exact), int64 cast."""
    from cloud_data_quality_spark.functions.classifier import (
        batch_feature_sums,
    )
    return batch_feature_sums(texts, DSIR_WEIGHTS_MICRO)


def dsir_scores_arrow(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Narrow no-shuffle engine for dsir_scores: one pandas_udf stage,
    element-wise identical to the JVM plan (pytest-pinned). Prefer this
    in fused Arrow pipelines; prefer the JVM plan where Catalyst should
    see/push the score expression."""
    @F.pandas_udf("dsir_micro bigint, n_feats bigint")
    def _score(texts: pd.Series) -> pd.DataFrame:
        s, n = dsir_scores_batch(texts)
        return pd.DataFrame({"dsir_micro": s, "n_feats": n},
                            index=texts.index)

    return (df.select(F.col(id_col), _score(F.col(text_col)).alias("_s"))
            .select(id_col, "_s.dsir_micro", "_s.n_feats"))
