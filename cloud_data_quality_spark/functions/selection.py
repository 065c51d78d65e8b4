"""Token-budget corpus selection — "the best documents up to N tokens".

The final curation decision a pretraining pipeline makes is not a fraction
("keep the top 30%") but a BUDGET: rank everything by a quality score and
take documents until the token target for the training mix is met. That is
a global cumulative sum over a total order — the one primitive a naive
Spark translation gets catastrophically wrong: `Window.orderBy(score)`
with no partitioning collapses the whole corpus into a single task.

This module implements the distributed prefix-sum instead:

1. `repartitionByRange(score desc, id)` + `sortWithinPartitions` — Spark's
   own global-sort shape: disjoint, ordered ranges, partition i holding
   strictly better rows than partition i+1 (range boundaries come from
   sampling, but the RESULT depends only on the total order, never on
   where the cuts land — partitioning-invariance is pytest-pinned);
2. one `mapInPandas` pass summing tokens per physical partition
   (TaskContext.partitionId) → a #partitions-row collect (tiny by
   contract: one number per partition, not per row);
3. driver-side exclusive prefix over those totals → an offsets dict shipped
   back in the next stage's closure;
4. a second `mapInPandas` pass: within-partition int64 cumsum + the
   partition's offset, keep rows with cum ≤ budget.

The sorted frame is pinned between the two passes so both read the SAME
physical partitioning (pass 1's ids must mean the same thing in pass 2):
`dedup.eager_checkpoint` freezes it — a reliable checkpoint when a
checkpoint dir is configured (the cluster posture: survives executor loss,
where a recomputed partition would re-sample range boundaries), a local
checkpoint otherwise. `global_enumerate` shares passes 1–3
(`_partition_offsets`).

Token counts are integers, the cumsum is exact int64, and ties in the
score order are broken by the unique id — so the kept set is deterministic
across engines and parallelism levels, and the DuckDB oracle
(sum() over (order by score desc, id)) replays it bit-for-bit.

Scale posture (10^12 docs): two narrow passes over a range-shuffled frame
— the same cost as any global sort — plus an O(#partitions) driver merge.
No per-row driver traffic, no single-partition window, no skew hotspot
(range partitioning balances by sampled quantiles of the score).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from cloud_data_quality_spark.functions.dedup import eager_checkpoint


def _ranked(df: DataFrame, score_col: str, id_col: str,
            n_partitions: int | None) -> DataFrame:
    """The global order as a RANGE-partitioned frame — the load-bearing
    plan shape (disjoint ordered ranges across many tasks), pinned by a
    plan test against the single-partition `Window.orderBy` shape a naive
    translation would produce."""
    clean = df.where(F.col(score_col).isNotNull())
    n_parts = n_partitions or clean.sparkSession.sparkContext \
        .defaultParallelism
    return (clean
            .repartitionByRange(n_parts, F.col(score_col).desc(),
                                F.col(id_col).asc())
            .sortWithinPartitions(F.col(score_col).desc(),
                                  F.col(id_col).asc()))


def _partition_offsets(frozen: DataFrame,
                       weight: Callable[[pd.DataFrame], int]
                       ) -> dict[int, int]:
    """Exclusive prefix offsets of `weight` summed per physical partition
    of `frozen`, keyed by partition id: ONE mapInPandas pass emitting one
    (pid, total) row per partition, a #partitions-row collect, and a
    driver-side prefix in partition order. `frozen` must be pinned
    (eager_checkpoint) so a second pass over it sees the same ids."""
    def totals(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        total = 0
        for pdf in it:
            total += weight(pdf)
        yield pd.DataFrame({"pid": [pid], "total": [total]})

    rows = frozen.mapInPandas(totals, schema="pid int, total bigint") \
        .collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(rows, key=lambda r: r["pid"]):
        offsets[int(r["pid"])] = acc
        acc += int(r["total"])
    return offsets


def _with_long(df: DataFrame, name: str) -> StructType:
    """`df`'s schema plus a bigint column — a fresh StructType (add()
    mutates in place, and df.schema is cached on the DataFrame)."""
    return StructType(list(df.schema.fields) + [StructField(name, LongType())])


def select_token_budget(df: DataFrame, budget_tokens: int,
                        score_col: str = "score",
                        token_col: str = "n_tokens",
                        id_col: str = "doc_id",
                        n_partitions: int | None = None) -> DataFrame:
    """Greedy prefix selection: rank by (score desc, id asc), keep each doc
    whose cumulative token count (including itself) stays ≤ budget_tokens.

    Strict prefix semantics: the first document that would overflow the
    budget ends the selection — later, smaller documents are NOT admitted
    (the deterministic contract; best-fit packing is functions/packing's
    job, not selection's). Rows with NULL score or NULL token count are
    dropped before ranking; a NEGATIVE token count raises (it would make
    the cumsum non-monotone and the result partitioning-dependent).
    Returns the selected rows with all input columns plus `cum_tokens`."""
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    cols = df.columns
    if token_col not in cols or score_col not in cols or id_col not in cols:
        raise ValueError(
            f"need columns {score_col!r}, {token_col!r}, {id_col!r}; "
            f"frame has {cols}")
    # Both mapInPandas passes must observe the IDENTICAL physical
    # partitioning: pass-2's per-partition offsets are keyed by pass-1's
    # partition ids. A recomputed partition would run repartitionByRange
    # again, which re-SAMPLES its range boundaries and silently shifts rows
    # between partitions — so the ranked frame is frozen first.
    ranked = eager_checkpoint(_ranked(df.where(F.col(token_col).isNotNull()),
                                      score_col, id_col, n_partitions))

    def tokens(pdf: pd.DataFrame) -> int:
        t = pdf[token_col].astype("int64")
        # a negative token count is upstream corruption — and it would make
        # the cumsum non-monotone, breaking both the whole-partition skip
        # and the strict-prefix early return. Fail loudly here (free: this
        # pass reads every row anyway).
        if (t < 0).any():
            bad = pdf.loc[t < 0, id_col].iloc[0]
            raise ValueError(
                f"select_token_budget: negative {token_col!r} for "
                f"{id_col}={bad!r} — token counts must be >= 0")
        return int(t.sum())

    offsets = _partition_offsets(ranked, tokens)
    budget = int(budget_tokens)

    def keep_within(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        cum = offsets.get(pid, 0)
        if cum > budget:  # whole partition past the budget: emit nothing
            return
        for pdf in it:
            c = pdf[token_col].astype("int64").cumsum() + cum
            cum = int(c.iloc[-1]) if len(c) else cum
            kept = pdf[c <= budget].copy()
            kept["cum_tokens"] = c[c <= budget]
            if len(kept):
                yield kept
            if cum > budget:
                return

    # the selection itself is tiny relative to the sort; materialize it so
    # the caller's downstream plan doesn't re-run both passes
    return eager_checkpoint(ranked.mapInPandas(
        keep_within, schema=_with_long(ranked, "cum_tokens")))


def quantile_buckets(df: DataFrame, score_col: str,
                     cuts: tuple[tuple[int, int], ...] = ((1, 3), (2, 3)),
                     labels: tuple[str, ...] = ("head", "middle", "tail"),
                     bucket_col: str = "bucket",
                     max_distinct: int = 1_000_000) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020 §4.3: split the
    corpus into head/middle/tail by language-model perplexity): label every
    row by which exact corpus quantile its score falls in.

    Exactness contract: cut fractions are RATIONALS (num, den) and the
    rank targets are integer arithmetic — target_k = ceil(n·num/den) =
    (n·num + den - 1) // den — so the DuckDB oracle computes the same
    boundary scores from the same integers (no float quantile estimation;
    percentile_approx would diverge between engines AND between runs).
    Boundary k = the smallest score whose ascending cumulative count
    reaches target_k; bucket = first k whose boundary the row's score does
    not exceed. NULL scores are dropped.

    Scale posture (10^12 docs): ONE groupBy(score) aggregate; the driver
    sees only the VALUE-FREQUENCY table, whose cardinality is bounded by
    the score's precision (a 4-decimal-rounded perplexity in [0, 30] has
    ≤ 3·10^5 distinct values no matter the corpus size) and guarded by
    max_distinct — pass a rounded score, not a raw double. Labeling is a
    narrow CASE projection; no sort, no window, no second shuffle.

    The non-NULL input is frozen once (eager_checkpoint): boundaries and
    labels MUST derive from one materialization, and the returned frame
    reads that checkpoint — nothing is left cached for the caller to
    release."""
    if len(labels) != len(cuts) + 1:
        raise ValueError(
            f"need len(labels) == len(cuts)+1, got {len(labels)} labels "
            f"for {len(cuts)} cuts")
    if any(not (0 < n < d) for n, d in cuts):
        raise ValueError(f"cuts must be proper fractions, got {cuts}")
    fracs = [n / d for n, d in cuts]
    if sorted(fracs) != fracs or len(set(fracs)) != len(fracs):
        raise ValueError(f"cuts must be strictly increasing, got {cuts}")
    # pin: the input lineage feeds BOTH the driver-side frequency collect
    # and the returned labeled frame — without it an expensive upstream
    # (the unigram-NLL pipeline) runs twice, and a nondeterministic lineage
    # could label rows against boundaries from a DIFFERENT materialization
    # (same reason select_token_budget pins its ranked frame)
    clean = eager_checkpoint(df.where(F.col(score_col).isNotNull()))
    freq = (clean.groupBy(score_col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .orderBy(score_col))
    rows = freq.limit(max_distinct + 1).collect()
    if len(rows) > max_distinct:
        raise ValueError(
            f"quantile_buckets: more than {max_distinct} distinct "
            f"{score_col!r} values — round the score before bucketing "
            f"(the driver-side frequency table must stay small)")
    n_total = sum(r["__c"] for r in rows)
    if n_total == 0:
        return clean.withColumn(bucket_col,
                                F.lit(None).cast("string"))
    boundaries: list = []
    cum = 0
    it = iter(rows)
    for num, den in cuts:
        target = (n_total * num + den - 1) // den  # ceil, integer-exact
        while cum < target:
            r = next(it)
            cum += r["__c"]
            last_score = r[score_col]
        boundaries.append(last_score)
    cond = None
    for label, b in zip(labels, boundaries):
        branch = (F.col(score_col) <= F.lit(b), F.lit(label))
        cond = F.when(*branch) if cond is None else cond.when(*branch)
    cond = (F.lit(labels[-1]) if cond is None
            else cond.otherwise(F.lit(labels[-1])))
    return clean.withColumn(bucket_col, cond)


def grouped_percentiles_disc(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    percentiles: tuple[tuple[str, int, int], ...] = (
        ("p50", 1, 2), ("p90", 9, 10)),
) -> DataFrame:
    """Exact DISCRETE percentiles per group — one output row per group with
    one column per requested (name, num, den) fraction: the smallest value
    whose ascending cumulative count reaches ceil(n·num/den) (integer
    arithmetic, same convention as quantile_buckets, so the DuckDB oracle
    replays it bit-for-bit; no percentile_approx, no float interpolation).

    Fully distributed sibling of quantile_buckets: nothing is collected.
    The corpus reduces to a (group, value) frequency table (ONE
    partial-aggregated shuffle); the running sum's window partitions by
    group and is bounded by the group's distinct VALUE count — pass a
    rounded/integral value column, never a raw double, or the frequency
    table degenerates back to corpus size. NULL values are excluded from
    ranks; groups whose values are all NULL vanish."""
    if any(not (0 < n <= d) for _, n, d in percentiles):
        raise ValueError(f"fractions must be in (0, 1], got {percentiles}")
    from pyspark.sql.window import Window
    clean = df.where(F.col(value_col).isNotNull())
    freq = (clean.groupBy(*group_cols, value_col)
            .agg(F.count(F.lit(1)).alias("__c")))
    w = (Window.partitionBy(*group_cols).orderBy(value_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = freq.withColumn("__cum", F.sum("__c").over(w))
    totals = freq.groupBy(*group_cols).agg(F.sum("__c").alias("__n"))
    joined = cum.join(totals, group_cols)
    aggs = [
        F.min(F.when(
            F.col("__cum") >= F.expr(f"(__n * {num} + {den - 1}) div {den}"),
            F.col(value_col))).alias(name)
        for name, num, den in percentiles
    ]
    return joined.groupBy(*group_cols).agg(*aggs)


def global_enumerate(df: DataFrame, order_cols: list[str],
                     position_col: str = "position",
                     n_partitions: int | None = None) -> DataFrame:
    """Stable 1-based global row numbers under a total order — the
    training-order primitive (deterministic corpus shuffles, stable
    example ids, resumable epoch cursors) — WITHOUT the single-partition
    global window `row_number() over (order by ...)` plans into.

    `order_cols` must be a TOTAL order (include a unique tiebreak column,
    e.g. the doc id): ties would make positions partitioning-dependent.
    Returns all input columns plus `position_col`; the result depends only
    on the order, not on input partitioning (pytest-pinned).

    Scale shape: repartitionByRange on the order key (one shuffle) +
    in-partition sort, then the same two-pass distributed prefix count as
    select_token_budget — pass 1 collects ONE row per partition (bounded
    by partition count, never data), the driver prefix-sums offsets, pass
    2 adds offset + local index. `ordered` is frozen with eager_checkpoint
    between the passes (range boundaries are never re-sampled), and the
    numbered output is checkpointed too, so downstream reads never re-run
    pass 2."""
    for c in order_cols:
        if c not in df.columns:
            raise ValueError(f"order column {c!r} not in {df.columns}")
    nparts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = eager_checkpoint(
        df.repartitionByRange(nparts, *[F.col(c).asc() for c in order_cols])
        .sortWithinPartitions(*[F.col(c).asc() for c in order_cols]))
    offsets = _partition_offsets(ordered, len)

    def number(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        pos = offsets.get(pid, 0)
        for pdf in it:
            out = pdf.copy()
            out[position_col] = range(pos + 1, pos + 1 + len(pdf))
            pos += len(pdf)
            yield out

    return eager_checkpoint(ordered.mapInPandas(
        number, schema=_with_long(ordered, position_col)))
