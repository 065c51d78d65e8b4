"""The web-text quality-filter pipeline (north-star payload).

Input: Common-Crawl-style pages (url, warc_ts, html, text, lang). Output: the
same rows annotated with language prediction, quality features, a keep/drop
verdict + first-failing-gate reason, and byte-stable scrubbed text.

Gate set (C4/Gopher-style heuristics, SURVEY.md §2.10 / BASELINE.json):
  words       — token count within [min_words, max_words]
  word_len    — mean word length within [3,12] (skipped for CJK)
  alpha       — alphabetic char ratio ≥ 0.55 (CJK pages gate on cjk_ratio)
  repetition  — duplicate-token fraction ≤ 0.6
  lang        — language identified (not 'und')
  toxicity    — no lexicon hit
Optional Arrow stage: char-bigram perplexity ≤ threshold (model-backed, via
functions/webtext_rules.py) — off in the oracle-checked profile because the
model isn't SQL-expressible, on in the full profile.

Everything except perplexity is built-in Column expressions → whole-stage
codegen, pushdown-friendly, and exactly reproducible in the DuckDB oracle.

Determinism guarantees (north-star invariant "byte-identical scrubbed text
per url"): verdict and scrub depend only on the text value — never on
partitioning, order, or cluster size; scrub order is pinned in
functions/scrub.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloud_data_quality_spark.functions import text as TX
from cloud_data_quality_spark.functions.scrub import scrub_text
from cloud_data_quality_spark.functions.webtext_rules import perplexity_batch


@dataclass(frozen=True)
class QualityThresholds:
    min_words: int = 10
    max_words: int = 100_000
    min_mean_word_len: float = 3.0
    max_mean_word_len: float = 12.0
    min_alpha_ratio: float = 0.55
    min_cjk_ratio: float = 0.30
    # Gopher-style repetition: duplicate LINE fraction is the primary signal
    # (natural prose reuses tokens heavily — stopwords alone push dup-token
    # fraction past 0.5 — so the token bound is a loose backstop only)
    max_dup_line_frac: float = 0.30
    max_dup_token_frac: float = 0.80
    max_perplexity: float = 30.0


TOX_PATTERN = r"\b(badword1|badword2|slur1)\b"


def _count_in_col(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda w: F.array_contains(arr, w))).cast("bigint")


def gates(feat: dict[str, Column], t: QualityThresholds) -> list[tuple[str, Column]]:
    """Ordered (name, passes) gate list — order defines drop_reason priority.
    A NULL feature fails its gate (coalesce False): NULL/empty text drops."""
    is_cjk = feat["lang_pred"] == "zh"
    g = [
        # CJK text has no whitespace word boundaries: gate on chars instead
        ("words", F.when(is_cjk,
                         feat["n_chars"].between(t.min_words * 2,
                                                 t.max_words * 8))
                   .otherwise(feat["n_words"].between(t.min_words, t.max_words))),
        ("word_len", is_cjk | feat["mean_word_len"].between(
            t.min_mean_word_len, t.max_mean_word_len)),
        ("alpha", F.when(is_cjk, feat["cjk_ratio"] >= t.min_cjk_ratio)
                   .otherwise(feat["alpha_ratio"] >= t.min_alpha_ratio)),
        ("repetition", (feat["dup_line_frac"] <= t.max_dup_line_frac)
                       & (feat["dup_token_frac"] <= t.max_dup_token_frac)),
        ("lang", feat["lang_pred"] != "und"),
        ("toxicity", ~feat["has_toxicity"]),
    ]
    return [(name, F.coalesce(cond, F.lit(False))) for name, cond in g]


ANNOT_STRUCT = ("lang_pred string, n_chars bigint, n_words bigint, "
                "mean_word_len double, alpha_ratio double, cjk_ratio double, "
                "dup_token_frac double, dup_line_frac double, "
                "has_toxicity boolean, perplexity double, "
                "drop_reason string, keep boolean, scrubbed_text string")


def annotate_quality_arrow(
    df: DataFrame,
    text_col: str = "text",
    thresholds: QualityThresholds | None = None,
    with_perplexity: bool = True,
) -> DataFrame:
    """Arrow-vectorized annotation — the pipeline hot path.

    One pandas UDF takes the text column and returns ALL features + verdict +
    scrubbed text as a single struct, expanded into columns afterwards. Plan
    properties: exactly one Arrow transfer of text per row, one Python pass,
    and a `.where("keep")` lands as a Filter directly above the UDF (the UDF
    output can't be substituted into the scan), so nothing is computed twice.
    This avoids the Catalyst behavior that bites the pure-Column path: filter
    pushdown re-inlines the split()-heavy feature tree into a scan-level
    Filter and recomputes features above it (measured 110 s vs ~6 s on 100k
    rows, local[32]).

    Gate semantics are identical to annotate_quality (pytest-enforced); NULL
    text yields NaN feature values here vs SQL NULLs there — verdict columns
    (keep/drop_reason/lang_pred/scrubbed_text) are exactly equal.
    """
    from cloud_data_quality_spark.functions.webtext_rules import (
        quality_annotations_batch,
    )
    t = thresholds or QualityThresholds()

    @F.pandas_udf(ANNOT_STRUCT)
    def _annot(s: pd.Series) -> pd.DataFrame:
        out = quality_annotations_batch(s, thresholds=t,
                                        with_perplexity=with_perplexity)
        if "perplexity" not in out:
            out["perplexity"] = float("nan")
        return out

    out = df.withColumn("__annot", _annot(F.col(text_col)))
    for field in [f.split()[0] for f in ANNOT_STRUCT.split(", ")]:
        out = out.withColumn(field, F.col(f"__annot.{field}"))
    return out.drop("__annot")


def annotate_quality(
    df: DataFrame,
    text_col: str = "text",
    thresholds: QualityThresholds | None = None,
    with_perplexity: bool = False,
    with_scrub: bool = True,
) -> DataFrame:
    """Feature + verdict annotation (pure-Column / whole-stage-codegen path —
    every expression has an exact SQL-oracle twin; use annotate_quality_arrow
    for the high-throughput pipeline).

    Plan-shape note (measured on 100k pages, local[32]): building each
    feature Column independently inlines its own `split()` tree, so the
    collapsed projection re-tokenized every row ~8× and the duplicated tree
    blew up whole-stage-codegen JIT (cold runs >100 s). Instead, tokenization
    and the per-language marker counts are materialized as named intermediate
    columns; Catalyst's CollapseProject declines to inline non-cheap
    expressions referenced more than once, so each is computed exactly once
    per row and codegen units stay small (cold run ~4 s, 25× faster).
    """
    t = thresholds or QualityThresholds()
    col = F.col(text_col)

    toks, lines = F.col("__toks"), F.col("__lines")
    # __barrier is non-deterministic, which stops PushDownPredicates from
    # substituting the feature expressions into a Filter below this projection
    # (measured: a `.where("keep")` after annotate otherwise gets rewritten
    # into a scan-level Filter that inlines every split()/regex ~50× AND
    # duplicates the perplexity Python UDF — 110 s vs 12 s on 100k rows).
    # The column is dropped before returning; row values never depend on it.
    out = (df
           .withColumn("__barrier", F.monotonically_increasing_id())
           .withColumn("__toks", TX.tokens(col))
           .withColumn("__lines", F.split(col, "\n"))
           .withColumn("__s_en", _count_in_col(toks, TX.EN_STOPWORDS))
           .withColumn("__s_es", _count_in_col(toks, TX.ES_MARKERS))
           .withColumn("__s_fr", _count_in_col(toks, TX.FR_MARKERS))
           .withColumn("__s_de", _count_in_col(toks, TX.DE_MARKERS))
           .withColumn("n_chars", TX.char_count(col))
           .withColumn("cjk_ratio", TX.cjk_ratio(col)))
    s_en, s_es = F.col("__s_en"), F.col("__s_es")
    s_fr, s_de = F.col("__s_fr"), F.col("__s_de")
    lang_pred = (
        F.when(F.col("cjk_ratio") > 0.30, F.lit("zh"))
        .when((s_en >= s_es) & (s_en >= s_fr) & (s_en >= s_de) & (s_en >= 1),
              F.lit("en"))
        .when((s_es >= s_fr) & (s_es >= s_de) & (s_es >= 1), F.lit("es"))
        .when((s_fr >= s_de) & (s_fr >= 1), F.lit("fr"))
        .when(s_de >= 1, F.lit("de"))
        .otherwise(F.lit("und")))
    word_len_sum = F.aggregate(toks, F.lit(0).cast("bigint"),
                               lambda acc, w: acc + F.length(w))
    feat = {
        "lang_pred": lang_pred,
        "n_words": F.size(toks).cast("bigint"),
        "mean_word_len": (word_len_sum.cast("double")
                          / F.nullif(F.size(toks), F.lit(0))).cast("double"),
        "alpha_ratio": TX.alpha_ratio(col),
        "dup_token_frac": (F.lit(1.0) - F.size(F.array_distinct(toks))
                           .cast("double") / F.nullif(F.size(toks), F.lit(0))
                           ).cast("double"),
        "dup_line_frac": (F.lit(1.0) - F.size(F.array_distinct(lines))
                          .cast("double") / F.nullif(F.size(lines), F.lit(0))
                          ).cast("double"),
        "has_toxicity": F.coalesce(col.rlike(TOX_PATTERN), F.lit(False)),
    }
    for name, c in feat.items():
        out = out.withColumn(name, c)
    feat["n_chars"] = F.col("n_chars")
    feat["cjk_ratio"] = F.col("cjk_ratio")
    if with_perplexity:
        @F.pandas_udf("double")
        def _ppl(s: pd.Series) -> pd.Series:
            return perplexity_batch(s)
        out = out.withColumn("perplexity", _ppl(col))

    feat_cols = {k: F.col(k) for k in feat}
    gate_list = gates(feat_cols, t)
    if with_perplexity:
        # the embedded bigram model is English-profile — gate en docs only
        gate_list.append(
            ("perplexity",
             F.when(F.col("lang_pred") == "en",
                    F.coalesce(F.col("perplexity") <= t.max_perplexity,
                               F.lit(False))).otherwise(F.lit(True))))

    # first failing gate, in order — deterministic drop reason; keep is
    # derived from it (reason IS NULL) so each gate expression appears in the
    # plan exactly once: Catalyst inlines every reference when collapsing
    # projects, and the gate trees are split()-heavy
    reason = F.lit(None).cast("string")
    for name, cond in reversed(gate_list):
        reason = F.when(~cond, F.lit(name)).otherwise(reason)
    # Fold the barrier in via a branch that can never fire (ids are >= 0):
    # the column would otherwise be pruned away before the pushdown rule runs,
    # and a deterministic drop_reason lets `.where(keep)` be rewritten into a
    # scan-level Filter that re-inlines the whole feature tree (see above).
    # Values are unaffected; the expression merely loses "deterministic".
    reason = F.when(F.col("__barrier") < 0, F.lit("__unreachable__")) \
              .otherwise(reason)

    out = out.withColumn("drop_reason", reason)
    out = out.withColumn("keep", F.col("drop_reason").isNull())
    if with_scrub:
        out = out.withColumn("scrubbed_text", scrub_text(col))
    return out.drop("__barrier", "__toks", "__lines",
                    "__s_en", "__s_es", "__s_fr", "__s_de")


def quality_summary(annotated: DataFrame) -> DataFrame:
    """Per-(lang_pred, drop_reason) roll-up — the quality-filter analogue of
    the dq_summary COUNTIF aggregation (one shuffle of tiny partial aggs)."""
    return (
        annotated.groupBy("lang_pred", "keep", "drop_reason")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.coalesce(F.col("n_words"), F.lit(0))).alias("n_words_total"))
        .orderBy("lang_pred", "keep", "drop_reason")
    )


def rule_attribution(df: DataFrame, text_col: str = "text",
                     thresholds: QualityThresholds | None = None) -> DataFrame:
    """Per-gate accountability for the quality filter — the operator a
    pipeline owner reads before loosening a rule:

    * n_failing      docs failing the gate at all (order-independent);
    * n_first_fail   docs whose drop_reason IS this gate (the priority-
                     ordered attribution the summary already reports);
    * n_unique_fail  docs failing ONLY this gate — removing the rule would
                     recover exactly these documents (marginal kill set);
    * n_docs         corpus size, for rates.

    Fully declarative: ONE aggregation pass over the annotated frame
    computes every per-gate count_if, and `stack` melts the single agg row
    into one row per gate — no driver-side loop, no second scan. Same
    tri-valued convention as the engine: NULL features fail gates."""
    t = thresholds or QualityThresholds()
    ann = annotate_quality(df, text_col=text_col,
                           with_perplexity=False, with_scrub=False)
    feat_cols = {k: F.col(k) for k in
                 ["lang_pred", "n_chars", "n_words", "mean_word_len",
                  "alpha_ratio", "cjk_ratio", "dup_token_frac",
                  "dup_line_frac", "has_toxicity"]}
    gs = gates(feat_cols, t)
    fails = None
    for _, cond in gs:
        c = (~cond).cast("int")
        fails = c if fails is None else fails + c
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for name, cond in gs:
        aggs += [
            F.count_if(~cond).alias(f"f_{name}"),
            F.count_if(F.col("drop_reason") == name).alias(f"ff_{name}"),
            F.count_if((~cond) & (fails == 1)).alias(f"u_{name}"),
        ]
    row = ann.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', f_{name}, ff_{name}, u_{name}" for name, _ in gs)
    return row.selectExpr(
        f"stack({len(gs)}, {stack_args}) as "
        f"(rule, n_failing, n_first_fail, n_unique_fail)",
        "n_docs")
