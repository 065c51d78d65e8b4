"""Web link-graph operators: href extraction, host-graph degrees, PageRank.

A training-data pipeline uses the link graph in two ways: as a QUALITY
signal (PageRank-style host centrality separates organic sites from spam
farms — the CommonCrawl/C4 lineage of "domain authority" filters) and as a
CRAWL-HYGIENE signal (out-degree explosions mark link farms, in-degree
concentration marks boilerplate targets).

Everything here is integer-exact by construction: ranks are bigint
micro-units (RANK_SCALE per node) and every per-edge contribution is an
integral division, so sums are order-independent — the same result on any
partitioning, any engine, replayable in ANSI SQL by unrolling the
iteration (see plans/registry_corpus._oracle_host_pagerank). Floating-point
PageRank cannot make that guarantee: FP addition is non-associative, and a
shuffle reorder would change low bits and break the correctness gate.

Scale posture (10^12 docs → ~10^8 hosts): extraction is a pure-JVM
regexp over the corpus (narrow); the graph then lives at HOST granularity,
orders of magnitude smaller than the corpus, so the iterative joins
shuffle only host-keyed frames. Edges+degrees are materialized once before
the loop and each iteration's ranks frame is checkpointed (same
auto-select as dedup.duplicate_clusters) so lineage stays one round deep.
Dangling hosts (no outlinks) leak their rank mass — the standard
simplification; ranks remain a valid centrality ORDER, which is what the
quality filter consumes (top-fraction / threshold), not a probability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloud_data_quality_spark.functions.dedup import eager_checkpoint
from cloud_data_quality_spark.functions.hosts import url_host

#: bigint micro-units per node of initial rank; 10^6 keeps 6 digits of
#: rank precision through `div` truncation while 10^8 hosts × 10^6 stays
#: far inside int64
RANK_SCALE = 1_000_000

#: attribute-whitespace class spelled out: Java \s includes \x0B, RE2 (the
#: DuckDB oracle engine) does not — same convention as text.tokens
_HREF_PATTERN = '(?i)href[\\t\\n\\f\\r ]*=[\\t\\n\\f\\r ]*"([^"]+)"'


def extract_links(df: DataFrame, html_col: str = "html",
                  id_col: str = "doc_id",
                  keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """One row per href occurrence: (id_col, *keep_cols, link). Pure-JVM
    regexp_extract_all + explode — no Python in the hot path; duplicate
    hrefs within a page are KEPT (callers distinct() at the granularity
    they need: per-page for edges, raw for anchor spam stats). keep_cols
    carries columns like the page url through WITHOUT a join back to the
    corpus (at 10^12 docs that join would shuffle the whole corpus)."""
    return df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        F.explode(F.regexp_extract_all(F.col(html_col),
                                       F.lit(_HREF_PATTERN), 1)
                  ).alias("link"))


def host_edges(links: DataFrame, src_url_col: str = "url",
               link_col: str = "link") -> DataFrame:
    """Distinct host-level edges (src, dst) from per-doc links. Only
    absolute http(s) targets carry a host; relative links are same-host
    navigation, not graph signal, and are dropped with scheme-less junk.
    Self-loops are dropped (a host linking itself is navigation, and a
    self-edge would let a spam host recycle its own rank)."""
    src = url_host(F.col(src_url_col))
    dst = url_host(F.col(link_col))
    return (links.select(src.alias("src"), dst.alias("dst"))
            .where((F.length("src") > 0) & (F.length("dst") > 0)
                   & (F.col("src") != F.col("dst")))
            .distinct())


def host_degrees(edges: DataFrame) -> DataFrame:
    """(host, out_deg, in_deg) over distinct edges — the link-farm /
    boilerplate-target diagnostic. Two partial-aggregated shuffles plus an
    outer zip of two host-keyed frames."""
    out_d = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    return (out_d.join(in_d, "host", "full_outer")
            .select("host",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def host_pagerank(edges: DataFrame, iterations: int = 5,
                  damping_pct: int = 85) -> DataFrame:
    """Integer-exact PageRank over (src, dst) host edges → (host,
    rank_micro). Per iteration every host's rank becomes

        base + damping_pct% of Σ incoming (rank div out_deg)

    with base = (100-damping_pct)% of RANK_SCALE; all bigint, all
    truncating `div`, so the result is bit-identical on any partitioning
    and any engine (the oracle replays the loop as an unrolled CTE chain).

    Plan shape: edges⋈out_deg is materialized ONCE before the loop; each
    round is one host-keyed join + one partial-aggregated shuffle + one
    left join back to the node list, checkpointed so the optimizer never
    sees more than one round of lineage (dedup.eager_checkpoint: reliable
    checkpoint iff a checkpoint dir is configured, else local)."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    nodes = eager_checkpoint(edges.select(F.col("src").alias("host"))
                 .union(edges.select("dst")).distinct())
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    edges_deg = eager_checkpoint(edges.join(out_deg, "src"))
    base = (100 - damping_pct) * RANK_SCALE // 100
    ranks = nodes.withColumn("rank_micro", F.lit(RANK_SCALE).cast("long"))
    for _ in range(iterations):
        contrib = (edges_deg
                   .join(ranks, edges_deg.src == ranks.host)
                   .select(F.col("dst"),
                           F.expr("rank_micro div out_deg").alias("c"))
                   .groupBy("dst").agg(F.sum("c").alias("sc")))
        ranks = eager_checkpoint(
            nodes.join(contrib, nodes.host == contrib.dst, "left")
            .select(nodes.host,
                    (F.lit(base)
                     + F.expr(f"({damping_pct} * coalesce(sc, cast(0 as"
                              f" bigint))) div 100")
                     ).cast("long").alias("rank_micro")))
    return ranks


#: full <a ...>text</a> occurrences with a flat (tag-free) anchor body —
#: the common case; nested-markup anchors are a parser's job, not a
#: regexp's, and are deliberately skipped rather than mis-sliced
_ANCHOR_PATTERN = '(?i)<a[^>]*href[\\t\\n\\f\\r ]*=[\\t\\n\\f\\r ]*"[^"]+"[^>]*>[^<]*</a>'
_ANCHOR_HREF_RE = '(?i)href[\\t\\n\\f\\r ]*=[\\t\\n\\f\\r ]*"([^"]+)"'
_ANCHOR_TEXT_RE = '>([^<]*)<'


def extract_anchor_texts(df: DataFrame, html_col: str = "html",
                         id_col: str = "doc_id") -> DataFrame:
    """One row per anchor occurrence: (id_col, link, anchor). Pure-JVM:
    regexp_extract_all pulls whole <a href="...">text</a> matches, then a
    transform() re-extracts href and body per element — Spark's
    regexp_extract_all returns a single group, so two-capture extraction
    is spelled as extract-then-project, still zero Python."""
    matches = F.regexp_extract_all(F.col(html_col),
                                   F.lit(_ANCHOR_PATTERN), 0)
    pairs = F.transform(
        matches,
        lambda m: F.struct(
            F.regexp_extract(m, _ANCHOR_HREF_RE, 1).alias("link"),
            F.trim(F.regexp_extract(m, _ANCHOR_TEXT_RE, 1)).alias("anchor")))
    return (df.select(F.col(id_col), F.explode(pairs).alias("p"))
            .select(id_col, "p.link", "p.anchor"))


def top_anchors(anchors: DataFrame, k: int = 5,
                link_col: str = "link",
                anchor_col: str = "anchor") -> DataFrame:
    """Most common anchor texts per TARGET host — the classic anchor-spam
    / boilerplate-navigation diagnostic ('click here' vs keyword stuffing).
    (host, anchor, n, rank), rank 1..k by (count desc, anchor asc).
    Empty anchors (image links) are excluded. Bounded-key window: one
    host's distinct anchor texts, never a global sort."""
    from pyspark.sql.window import Window
    host = url_host(F.col(link_col))
    counted = (anchors
               .select(host.alias("host"),
                       F.lower(F.col(anchor_col)).alias("anchor"))
               .where((F.length("host") > 0) & (F.length("anchor") > 0))
               .groupBy("host", "anchor")
               .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("host").orderBy(F.col("n").desc(),
                                           F.col("anchor").asc())
    return (counted.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))
