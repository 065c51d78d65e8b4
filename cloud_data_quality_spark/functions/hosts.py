"""URL-host operators for web-corpus curation: host extraction, blocklist
filtering, and per-host document caps.

Common-Crawl-style pipelines (C4 §2.1, Gopher A.1.1, RefinedWeb §3.1 — all
public papers) drop documents from blocklisted domains and cap how many
documents any single host contributes, both to bound spam/SEO farms and to
keep the corpus domain-diverse. The north rule's input table carries
`url:string`; these operators are the missing link between raw captures and
the quality-filter/dedup ladder.

Scale posture (100 TB / 10^12 docs):
* `url_host` is a pure Column regexp — narrow, codegen'd, no UDF.
* Blocklists are small by nature (KBs-MBs of domains): `drop_blocklisted`
  broadcasts them; the corpus is never shuffled. Suffix semantics
  (blocking `example.com` also blocks `ads.example.com`) are implemented by
  exploding each host into its ≤`max_suffix_depth` domain suffixes and
  broadcast-anti-joining — cost is one narrow explode of a short array per
  row, not a quadratic match.
* `cap_per_host` ranks within each host partition (row_number over a
  host-keyed window). Keys are hosts — bounded fan-in per key in healthy
  corpora; a pathological mega-host degrades to one spillable sort
  partition, not an OOM (same posture as span_dedup's hot-span argument).
  Determinism: rank order is (order_col) ascending, so the kept set is a
  pure function of the data — replayable by the DuckDB oracle and stable
  across partitioning/parallelism.

No reference-repo analogue (CloudDQ validates tables, it does not curate
corpora — clouddq/classes/rule_type.py stops at REGEX/CUSTOM_SQL); the
operators follow the public C4/Gopher/RefinedWeb recipes re-expressed as
DataFrame plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloud_data_quality_spark.sources.session import local_frame

#: scheme://[userinfo@]HOST[:port][/...] — capture group 1 is the host.
#: RE2-compatible (no lookaround/backrefs) so the DuckDB oracle replays the
#: identical pattern; see sql_url_host below.
URL_HOST_PATTERN = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"

#: default probe depth when the blocklist's own label depth can't be
#: derived; drop_blocklisted normally probes exactly as deep as the
#: DEEPEST blocklist entry, so entries of any depth match.
MAX_SUFFIX_DEPTH = 6


def url_host(url: Column) -> Column:
    """Lowercased host of a URL (empty string if the URL doesn't parse —
    matching regexp_extract's no-match contract; callers that want to drop
    unparseable URLs filter on host != '')."""
    return F.lower(F.regexp_extract(url, URL_HOST_PATTERN, 1))


def sql_url_host(col: str) -> str:
    """DuckDB twin of url_host — generated from the same pattern constant."""
    return f"lower(coalesce(regexp_extract({col}, '{URL_HOST_PATTERN}', 1), ''))"


def host_suffix_at(host: Column, depth: int) -> Column:
    """The trailing `depth` labels of the host ('b.c' for 'a.b.c', depth=2);
    NULL when the host has fewer labels — NULL never equi-joins, so a short
    host simply can't match deeper suffix rows."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.when(
        n >= depth, F.array_join(F.slice(parts, n - depth + 1, depth), "."))


def drop_blocklisted(
    df: DataFrame,
    blocklist: list[str] | DataFrame,
    url_col: str = "url",
    *,
    suffix_match: bool = True,
    max_suffix_depth: int | None = None,
) -> DataFrame:
    """Drop rows whose URL host is on (or under, with suffix_match) a
    blocklisted domain. Accepts a Python list (driver-side, small) or a
    single-column DataFrame (first column = domain) for blocklists already
    living in a table.

    Plan shape: one broadcast hash ANTI join per suffix depth — each
    probe is narrow, the corpus is never shuffled, duplicate rows survive
    intact, and there is no corpus-derived broadcast (joining hit-urls back
    would broadcast data proportional to the BLOCKED corpus — unbounded).
    A LIKE-based OR join would degrade to BroadcastNestedLoop (rows × |bl|
    comparisons); the per-depth equality chain keeps every join hashed.

    The probe depth is derived from the DEEPEST blocklist entry (a fixed
    cap would silently never-match deeper entries); for a DataFrame
    blocklist that derivation is one tiny agg over the (broadcast-sized by
    contract) blocklist. Pass max_suffix_depth to override."""
    spark = df.sparkSession
    if isinstance(blocklist, DataFrame):
        bl = blocklist.select(
            F.lower(F.col(blocklist.columns[0])).alias("__bl_domain"))
        if suffix_match and max_suffix_depth is None:
            row = bl.agg(F.max(F.size(F.split(
                "__bl_domain", r"\."))).alias("d")).collect()[0]
            max_suffix_depth = int(row["d"] or 0) or MAX_SUFFIX_DEPTH
    else:
        bl = local_frame(spark, [(d.lower(),) for d in blocklist],
                         T.StructType([T.StructField("__bl_domain",
                                                     T.StringType())]))
        if suffix_match and max_suffix_depth is None:
            max_suffix_depth = max(
                (len(d.split(".")) for d in blocklist), default=0) \
                or MAX_SUFFIX_DEPTH
    out = df.withColumn("__bl_host", url_host(F.col(url_col)))
    depths = range(1, max_suffix_depth + 1) if suffix_match else (None,)
    for depth in depths:
        key = (F.col("__bl_host") if depth is None
               else host_suffix_at(F.col("__bl_host"), depth))
        out = out.join(F.broadcast(bl), key == bl["__bl_domain"], "left_anti")
    return out.drop("__bl_host")


def cap_per_host(
    df: DataFrame,
    max_per_host: int,
    url_col: str = "url",
    order_col: str | None = None,
    host_col: str | None = None,
) -> DataFrame:
    """Keep at most max_per_host rows per URL host (or per explicit
    host_col), deterministically: rows rank by order_col ascending (default:
    the url itself) inside their host. Adds a `host` column to the output.

    One hash-partition shuffle on host; rank is a bounded-key window (never
    a global Window.orderBy)."""
    if max_per_host <= 0:
        raise ValueError("max_per_host must be positive")
    from pyspark.sql.window import Window
    host = F.col(host_col) if host_col else url_host(F.col(url_col))
    order = F.col(order_col) if order_col else F.col(url_col)
    w = Window.partitionBy("host").orderBy(order.asc())
    return (df.withColumn("host", host)
            .withColumn("__host_rank", F.row_number().over(w))
            .where(F.col("__host_rank") <= max_per_host)
            .drop("__host_rank"))


def host_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(host, n_docs) — the skew-diagnosis companion: which hosts dominate
    the corpus (feeds blocklist/cap decisions). One partial-agg shuffle."""
    return (df.groupBy(url_host(F.col(url_col)).alias("host"))
            .agg(F.count(F.lit(1)).alias("n_docs")))


# ------------------------------------------------------ URL canonicalization

#: query parameters that never change page identity (tracking/session) —
#: dropped during canonicalization. Shared with the DuckDB oracle. Bare
#: names match EXACTLY: prefix-matching 'ref' would also strip refresh=,
#: refund_id=, referrer=, refinement= — distinct pages silently collapsing
#: to one canonical URL and getting wrongly deduped/capped downstream.
#: Prefixes are reserved for real families (utm_source, utm_medium, ...).
TRACKING_PARAMS_EXACT = ("gclid", "fbclid", "mc_eid", "ref",
                         "sessionid", "phpsessid")
TRACKING_PARAM_PREFIXES = ("utm_",)
URL_SPLIT_PATTERN = (
    r"^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]+)([^?#]*)"
    r"(?:\?([^#]*))?")


def _is_tracking_param(kv: Column) -> Column:
    key = F.lower(F.split(kv, "=", 2)[0])
    cond = key.isin(*TRACKING_PARAMS_EXACT)
    for p in TRACKING_PARAM_PREFIXES:
        cond = cond | key.startswith(p)
    return cond


def canonicalize_url(url: Column) -> Column:
    """Canonical form for dedup/caps: lowercase scheme+host, default ports
    stripped, tracking query params removed (remaining params kept in
    original order — full param sorting would conflate a=1&b=2 pages whose
    servers are order-sensitive), fragment dropped, empty path → '/'.
    Unparseable URLs pass through unchanged (never NULL a real capture's
    key). Pure Column expression — no UDF; exactly replayed by the DuckDB
    oracle from the same constants."""
    scheme = F.lower(F.regexp_extract(url, URL_SPLIT_PATTERN, 1))
    host = F.lower(F.regexp_extract(url, URL_SPLIT_PATTERN, 2))
    path = F.regexp_extract(url, URL_SPLIT_PATTERN, 3)
    query = F.regexp_extract(url, URL_SPLIT_PATTERN, 4)
    # default-port stripping is SCHEME-conditional: http://x:443 is a real,
    # distinct resource and must not collapse into https://x or plain x
    host = (F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
            .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
            .otherwise(host))
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    params = F.filter(F.split(query, "&"),
                      lambda kv: (F.length(kv) > 0) & ~_is_tracking_param(kv))
    qs = F.array_join(params, "&")
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(F.length(qs) > 0, F.concat(F.lit("?"), qs)).otherwise(F.lit("")))
    return F.when(F.length(scheme) > 0, canon).otherwise(url)


def latest_revision(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
    canonicalize: bool = True,
) -> DataFrame:
    """Keep the newest crawl revision per (canonical) URL — WARC revisit
    semantics: Common Crawl re-fetches pages across snapshots, and a
    training corpus wants exactly one revision per page, the freshest.

    Returns one row per canonical URL: the kept row's id, the latest
    timestamp, and how many revisions collapsed into it. The winner is
    min-by (-unix_micros(ts), id): freshest capture, smallest id on an
    exact timestamp tie — deterministic under any partitioning. The
    negation happens on the TIMESTAMP (always numeric via unix_micros),
    never on the id, so string ids — the repo's own "id IS the url"
    curate convention — order lexicographically without a cast.

    Scale shape: ONE hash shuffle on the canonical URL with full map-side
    partial aggregation (max / max_by / count all combine) — a hot URL
    with millions of revisions still reduces to one row per map task, so
    no salting is needed, unlike collect-the-group designs. No window, no
    join-back: callers that need the full surviving row semi-join on
    `id_col` against the source, which AQE plans against the (corpus-sized
    but much thinner) winner set."""
    curl = (canonicalize_url(F.col(url_col)) if canonicalize
            else F.col(url_col))
    return (
        df.withColumn("canon_url", curl)
        .groupBy("canon_url")
        .agg(
            F.min_by(id_col,
                     F.struct((-F.unix_micros(F.col(ts_col).cast(
                         "timestamp"))).alias("nts"), F.col(id_col))
                     ).alias(id_col),
            F.max(ts_col).alias(ts_col),
            F.count(F.lit(1)).alias("n_revisions"),
        )
    )


def host_quality_prior(
    df: DataFrame,
    host_col: str = "host",
    flag_col: str = "keep",
    min_docs: int = 5,
    min_frac: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Domain-level quality filtering (the FineWeb/RefinedWeb move): a host
    where most documents already failed doc-level quality is a bad
    NEIGHBORHOOD — drop ALL its documents, including the few that passed,
    because survivorship there is usually template noise. Hosts with fewer
    than min_docs documents lack evidence and pass through.

    The keep condition is integer cross-multiplied (k·den ≥ n·num) — no
    float ratio, so the survivor set is exact and oracle-replayable.

    Scale shape: one partial-aggregated shuffle to host granularity (hot
    hosts combine map-side), then a semi join of the corpus against the
    good-host set. The good-host frame is host-cardinality (~10^8 at
    crawl scale) — NOT force-broadcast; AQE promotes it when it fits,
    and a skewed hot host on the shuffle path is exactly the case
    spark.sql.adaptive.skewJoin handles."""
    num, den = min_frac
    if not (0 < num <= den):
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    stats = df.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col(flag_col), 1).otherwise(0)).alias("__k"))
    good = stats.where(
        (F.col("__n") < min_docs)
        | (F.col("__k") * den >= F.col("__n") * num)).select(host_col)
    return df.join(good, host_col, "left_semi")


#: crawl-hygiene path patterns: search/tag/feed/pagination/auth/comment
#: endpoints produce boilerplate or infinite URL spaces, not prose. Kept
#: RE2-compatible (no lookaround, no backrefs) so the DuckDB oracle runs
#: the IDENTICAL expressions.
URL_PATTERN_BLOCKLIST = [
    "/search\\?",
    "/tag/",
    "/category/",
    "/login",
    "/signup",
    "/wp-admin",
    "/feed/?$",
    "/page/[0-9]+/?$",
    "\\?replytocom=",
    "/cgi-bin/",
]


def drop_url_patterns(
    df: DataFrame,
    patterns: list[str] | None = None,
    url_col: str = "url",
) -> DataFrame:
    """Drop rows whose URL matches any blocklisted path pattern — the
    companion of drop_blocklisted (which keys on host): calendars,
    search result pages, tag/feed/pagination endpoints and auth pages are
    crawl traps and template noise regardless of host quality.

    One combined alternation regex, one narrow filter — zero shuffle,
    pushed into the scan where the source supports it. NULL URLs survive
    (no evidence is not a match), mirroring drop_blocklisted."""
    pats = URL_PATTERN_BLOCKLIST if patterns is None else patterns
    if not pats:
        return df
    combined = "(" + "|".join(pats) + ")"
    return df.where(~F.coalesce(F.col(url_col).rlike(combined), F.lit(False)))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Crawl snapshot diff: classify every URL across two crawl snapshots
    as added / removed / changed / unchanged by content fingerprint — the
    incremental-recrawl bookkeeping step (what must be re-extracted, what
    can reuse the previous wave's verdicts, what left the web).

    Contract: url_col must be unique within each snapshot (run
    latest_revision first for raw WARC inputs with multiple revisions);
    duplicate urls would fan the outer join out multiplicatively.

    Returns (url, status, old_fp, new_fp); fingerprints are md5 of the
    text, NULL for NULL text. A NULL fingerprint on a PRESENT row is
    compared null-safely, so two NULL-text revisions of a URL are
    'unchanged', not 'changed'.

    Scale shape: fingerprint each side (narrow) → ONE full outer
    shuffle join on url (uniform md5-distributed keys; at catalog scale
    both snapshots live in url-bucketed stores and the join is
    exchange-free on the store side, same layout as the incremental-dedup
    catalogs in corpus.py).
    """
    def side(d: DataFrame, fp_name: str, flag: str) -> DataFrame:
        return d.select(
            F.col(url_col).alias("url"),
            F.md5(F.col(text_col)).alias(fp_name),
            F.lit(True).alias(flag))

    j = side(old, "old_fp", "__in_old").join(
        side(new, "new_fp", "__in_new"), "url", "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.col("old_fp").eqNullSafe(F.col("new_fp")),
              F.lit("unchanged"))
        .otherwise(F.lit("changed")))
    return j.select("url", status.alias("status"), "old_fp", "new_fp")


def snapshot_line_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Line-level crawl revision diff: for every URL present in BOTH waves,
    how many DISTINCT lines were added, removed, and kept — the
    change-magnitude signal behind re-crawl scheduling and template-drift
    alarms (:func:`snapshot_diff` answers "did it change", this answers
    "how much").

    SET semantics over distinct lines (duplicate occurrences collapse;
    Spark's array_except and DuckDB's list semantics only agree on
    distinct elements, and "the nav line appeared twice" is churn noise,
    not content change). NULL text on either side counts as zero lines.

    Scale shape: ONE equi shuffle join on the url key (uniform — urls are
    unique per wave by contract); all line arithmetic is per-row Column
    expressions on the joined row. Both-wave inner join by design: added/
    removed PAGES are snapshot_diff's output, not line churn."""
    o = old.select(F.col(url_col).alias("url"),
                   F.col(text_col).alias("__ot"))
    n = new.select(F.col(url_col).alias("url"),
                   F.col(text_col).alias("__nt"))

    def dlines(c: Column) -> Column:
        return F.when(c.isNull(), F.array().cast("array<string>")) \
            .otherwise(F.array_distinct(F.split(c, "\n", -1)))

    ol, nl = dlines(F.col("__ot")), dlines(F.col("__nt"))
    added = F.size(F.array_except(nl, ol)).cast("bigint")
    removed = F.size(F.array_except(ol, nl)).cast("bigint")
    kept = F.size(F.array_intersect(nl, ol)).cast("bigint")
    joined = (o.join(n, "url")
              .select("url",
                      added.alias("n_added"),
                      removed.alias("n_removed"),
                      kept.alias("n_kept")))
    # churn fraction in integer micro-units — integer `div`, the same
    # exact cross-engine arithmetic as oov_stats (float division then
    # truncation can disagree with SQL floor at exact boundaries); NULL
    # when the new side has no lines at all
    return joined.withColumn(
        "churn_micro",
        F.when(F.col("n_added") + F.col("n_kept") > 0,
               F.expr("(n_added * 1000000) div (n_added + n_kept)"))
        .cast("bigint"))
