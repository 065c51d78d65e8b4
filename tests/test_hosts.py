"""Host curation: URL parsing, suffix blocklist, per-host caps, plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_data_quality_spark.functions.hosts import (
    cap_per_host,
    drop_blocklisted,
    host_stats,
    url_host,
)


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        ("https://news.example.com/a", 1),
        ("https://news.example.com/b", 2),
        ("https://news.example.com/c", 3),
        ("http://ads.example.com/x", 4),
        ("https://EXAMPLE.com/y", 5),             # case-folded host
        ("https://user:pw@blog.example.org:8080/p?q=1#f", 6),
        ("ftp://files.example.org/f", 7),
        ("not a url", 8),
        ("https://spam.tracker.net/1", 9),
        ("https://tracker.net/2", 10),
    ]
    return spark.createDataFrame(rows, "url string, doc_id int")


class TestUrlHost:
    def test_parses_scheme_userinfo_port_path(self, spark, pages):
        got = {r["doc_id"]: r["h"] for r in
               pages.select("doc_id", url_host(F.col("url")).alias("h"))
               .collect()}
        assert got[1] == "news.example.com"
        assert got[5] == "example.com"          # lowercased
        assert got[6] == "blog.example.org"     # userinfo + port stripped
        assert got[7] == "files.example.org"    # any scheme
        assert got[8] == ""                     # unparseable → ''

    def test_sql_twin_matches(self, pages):
        import duckdb
        from cloud_data_quality_spark.functions.hosts import sql_url_host
        rows = [(r["url"], r["doc_id"]) for r in pages.collect()]
        con = duckdb.connect()
        con.execute("create table p(url varchar, doc_id int)")
        con.executemany("insert into p values (?, ?)", rows)
        duck = dict(con.execute(
            f"select doc_id, {sql_url_host('url')} from p").fetchall())
        spark_side = {r["doc_id"]: r["h"] for r in
                      pages.select("doc_id",
                                   url_host(F.col("url")).alias("h"))
                      .collect()}
        assert duck == spark_side


class TestBlocklist:
    def test_suffix_semantics(self, spark, pages):
        kept = drop_blocklisted(pages, ["example.com"], suffix_match=True)
        ids = {r["doc_id"] for r in kept.collect()}
        # blocks example.com AND every subdomain, nothing else
        assert ids == {6, 7, 8, 9, 10}

    def test_exact_semantics(self, spark, pages):
        # a NULL url has no host, so no blocklist entry can match it
        with_null = pages.unionByName(
            spark.createDataFrame([(None, 11)], "url string, doc_id int"))
        kept = drop_blocklisted(with_null, ["example.com"], suffix_match=False)
        ids = {r["doc_id"] for r in kept.collect()}
        assert ids == {1, 2, 3, 4, 6, 7, 8, 9, 10, 11}

    def test_dataframe_blocklist_and_case(self, spark, pages):
        bl = spark.createDataFrame([("TRACKER.net",)], "domain string")
        kept = drop_blocklisted(pages, bl)
        ids = {r["doc_id"] for r in kept.collect()}
        assert 9 not in ids and 10 not in ids and 1 in ids

    def test_duplicate_rows_survive_intact(self, spark):
        df = spark.createDataFrame(
            [("https://ok.net/a",)] * 3 + [("https://bad.com/x",)] * 2,
            "url string")
        kept = drop_blocklisted(df, ["bad.com"])
        assert kept.count() == 3  # duplicates preserved, not distinct-ed

    def test_deep_blocklist_entry_matches(self, spark):
        # 7 labels — deeper than the old fixed probe depth of 6, which
        # could never match this entry; the depth now derives from the
        # deepest blocklist entry
        deep = "a.b.c.d.e.f.com"
        df = spark.createDataFrame(
            [(f"https://{deep}/x",), (f"https://sub.{deep}/y",),
             ("https://ok.net/z",)], "url string")
        kept = [r["url"] for r in drop_blocklisted(df, [deep]).collect()]
        assert kept == ["https://ok.net/z"]
        # DataFrame blocklists derive the same depth (one tiny agg)
        bl = spark.createDataFrame([(deep,)], "domain string")
        assert drop_blocklisted(df, bl).count() == 1

    def test_plan_broadcast_anti_no_corpus_shuffle(self, spark, pages):
        plan = drop_blocklisted(pages, ["example.com"])._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "BroadcastNestedLoop" not in plan
        # corpus side never exchanges: only BroadcastExchange nodes
        import re
        assert not [ln for ln in plan.splitlines()
                    if re.search(r"\bExchange (hash|range|Single)", ln)]


class TestCapPerHost:
    def test_cap_and_determinism(self, spark, pages):
        out = cap_per_host(pages, 2, order_col="doc_id")
        by_host = {}
        for r in out.collect():
            by_host.setdefault(r["host"], []).append(r["doc_id"])
        assert sorted(by_host["news.example.com"]) == [1, 2]  # lowest ids kept
        # stable across partitioning
        out2 = cap_per_host(pages.repartition(7), 2, order_col="doc_id")
        assert sorted(map(tuple, out.select("doc_id", "host").collect())) == \
            sorted(map(tuple, out2.select("doc_id", "host").collect()))

    def test_rejects_nonpositive_cap(self, pages):
        with pytest.raises(ValueError):
            cap_per_host(pages, 0)

    def test_no_global_window(self, spark, pages):
        plan = cap_per_host(pages, 2)._jdf \
            .queryExecution().executedPlan().toString()
        # host-partitioned window: exactly one hash exchange, never a
        # single-partition (global) exchange
        assert "SinglePartition" not in plan

    def test_host_stats(self, spark, pages):
        stats = {r["host"]: r["n_docs"] for r in host_stats(pages).collect()}
        assert stats["news.example.com"] == 3
        assert stats[""] == 1


class TestCanonicalizeUrl:
    CASES = [
        ("HTTPS://User@WWW.Example.COM:443/A/B?utm_source=x&id=9&fbclid=2#f",
         "https://www.example.com/A/B?id=9"),
        ("http://site.org:80", "http://site.org/"),
        ("http://site.org:8080/x", "http://site.org:8080/x"),  # non-default
        # default-port stripping is scheme-conditional: these are real,
        # distinct resources and must survive
        ("http://site.org:443/x", "http://site.org:443/x"),
        ("https://site.org:80/x", "https://site.org:80/x"),
        ("ftp://site.org:80/x", "ftp://site.org:80/x"),
        ("https://a.net/p?UTM_CAMPAIGN=1&q=term&ref=tw", "https://a.net/p?q=term"),
        ("https://a.net/p?utm_x=1", "https://a.net/p"),
        # bare tracking names match EXACTLY: refund_id/referrer are real
        # params and must survive while ref= drops (prefix-matching 'ref'
        # would collapse distinct pages into one canonical URL)
        ("https://a.net/p?refund_id=7&referrer=x&ref=y",
         "https://a.net/p?refund_id=7&referrer=x"),
        ("not a url", "not a url"),            # unparseable passes through
    ]

    def test_rules(self, spark):
        from cloud_data_quality_spark.functions.hosts import canonicalize_url
        df = spark.createDataFrame([(u,) for u, _ in self.CASES], "url string")
        got = [r["c"] for r in
               df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
        assert got == [want for _, want in self.CASES]

    def test_pure_column_no_python(self, spark):
        from cloud_data_quality_spark.functions.hosts import canonicalize_url
        df = spark.createDataFrame([("https://x.y/z",)], "url string")
        plan = df.select(canonicalize_url(F.col("url")))._jdf \
            .queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan

    def test_canonical_collision_for_dedup(self, spark):
        """The point of canonicalization: tracking-param/fragment variants
        of one page collapse to one key."""
        from cloud_data_quality_spark.functions.hosts import canonicalize_url
        variants = [
            "https://news.org/story?id=1&utm_source=a",
            "HTTPS://NEWS.ORG:443/story?id=1#top",
            "https://news.org/story?id=1&gclid=xyz",
        ]
        df = spark.createDataFrame([(u,) for u in variants], "url string")
        n = df.select(canonicalize_url(F.col("url")).alias("c")) \
            .distinct().count()
        assert n == 1


class TestLatestRevision:
    def test_keeps_newest_per_canonical_url(self, spark):
        from cloud_data_quality_spark.functions.hosts import latest_revision
        rows = [
            # three revisions of one page (tracking param varies, host case
            # varies) — newest ts wins
            ("https://News.example.com/a?utm_source=x", 100, 1),
            ("https://news.example.com/a?utm_source=y", 300, 2),
            ("https://news.example.com/a", 200, 3),
            # exact-ts tie: smallest id wins
            ("https://other.com/b", 500, 10),
            ("https://other.com/b", 500, 9),
            # singleton passes through
            ("https://solo.com/c", 7, 42),
        ]
        df = spark.createDataFrame(rows, "url string, warc_ts long, doc_id long")
        got = {r["canon_url"]: r for r in latest_revision(df).collect()}
        assert len(got) == 3
        a = got["https://news.example.com/a"]
        assert (a["doc_id"], a["warc_ts"], a["n_revisions"]) == (2, 300, 3)
        b = got["https://other.com/b"]
        assert (b["doc_id"], b["warc_ts"], b["n_revisions"]) == (9, 500, 2)
        c = got["https://solo.com/c"]
        assert (c["doc_id"], c["warc_ts"], c["n_revisions"]) == (42, 7, 1)

    def test_no_canonicalize_groups_raw(self, spark):
        from cloud_data_quality_spark.functions.hosts import latest_revision
        rows = [("https://x.com/a?utm_source=1", 1, 1),
                ("https://x.com/a?utm_source=2", 2, 2)]
        df = spark.createDataFrame(rows, "url string, warc_ts long, doc_id long")
        assert latest_revision(df, canonicalize=False).count() == 2
        assert latest_revision(df).count() == 1

    def test_string_ids(self, spark):
        """The curate convention is 'id IS the url' — string ids. The
        tie-break must not negate the id (ANSI mode rejects -string);
        it negates unix_micros(ts) and min-by's the (nts, id) struct."""
        from cloud_data_quality_spark.functions.hosts import latest_revision
        rows = [("https://x.com/a", 100, "u-b"),
                ("https://x.com/a", 300, "u-c"),
                ("https://x.com/b", 500, "u-z"),
                ("https://x.com/b", 500, "u-a")]
        df = spark.createDataFrame(
            rows, "url string, warc_ts long, doc_id string")
        got = {r["canon_url"]: r for r in latest_revision(df).collect()}
        assert got["https://x.com/a"]["doc_id"] == "u-c"   # newest ts
        assert got["https://x.com/b"]["doc_id"] == "u-a"   # ts tie → min id

    def test_single_shuffle_plan(self, spark):
        """The whole operator is one hash aggregate exchange — no window,
        no join: hot URLs partial-aggregate map-side."""
        from cloud_data_quality_spark.functions.hosts import latest_revision
        df = spark.createDataFrame(
            [("https://x.com/a", 1, 1)], "url string, warc_ts long, doc_id long")
        plan = latest_revision(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        assert "Window" not in plan and "Join" not in plan


class TestHostQualityPrior:
    def test_threshold_and_min_docs(self, spark):
        from cloud_data_quality_spark.functions.hosts import (
            host_quality_prior)
        rows = (
            # good.test: 3/4 pass (>= 1/2) — all 4 survive incl. the fail
            [("good.test", i, i != 0) for i in range(4)]
            # bad.test: 1/4 pass (< 1/2) — all dropped, incl. the pass
            + [("bad.test", 10 + i, i == 0) for i in range(4)]
            # tiny.test: 1 doc failing, but under min_docs — passes through
            + [("tiny.test", 99, False)])
        df = spark.createDataFrame(rows, "host string, doc_id long, keep boolean")
        out = host_quality_prior(df, min_docs=4, min_frac=(1, 2)).collect()
        hosts = {r["host"] for r in out}
        assert hosts == {"good.test", "tiny.test"}
        assert sum(1 for r in out if r["host"] == "good.test") == 4

    def test_exact_boundary_integer(self, spark):
        from cloud_data_quality_spark.functions.hosts import (
            host_quality_prior)
        import pytest as _pytest
        # exactly at the threshold: 3/5 with min_frac 3/5 → kept (>=)
        rows = [("edge.test", i, i < 3) for i in range(5)]
        df = spark.createDataFrame(rows, "host string, doc_id long, keep boolean")
        assert host_quality_prior(df, min_docs=1, min_frac=(3, 5)).count() == 5
        # one less pass → dropped
        rows2 = [("edge.test", i, i < 2) for i in range(5)]
        df2 = spark.createDataFrame(rows2, "host string, doc_id long, keep boolean")
        assert host_quality_prior(df2, min_docs=1, min_frac=(3, 5)).count() == 0
        with _pytest.raises(ValueError):
            host_quality_prior(df, min_frac=(2, 1))


class TestDropUrlPatterns:
    def test_patterns_and_nulls(self, spark):
        from cloud_data_quality_spark.functions.hosts import (
            drop_url_patterns)
        rows = [
            ("https://x.test/search?q=1", 1),
            ("https://x.test/tag/news", 2),
            ("https://x.test/page/7", 3),
            ("https://x.test/page/7/", 4),
            ("https://x.test/pages/7", 5),          # survives
            ("https://x.test/feed", 6),
            ("https://x.test/feedback", 7),         # survives
            ("https://x.test/article/1", 8),        # survives
            (None, 9),                              # survives (no evidence)
        ]
        df = spark.createDataFrame(rows, "url string, doc_id int")
        kept = {r["doc_id"] for r in drop_url_patterns(df).collect()}
        assert kept == {5, 7, 8, 9}

    def test_custom_and_empty_patterns(self, spark):
        from cloud_data_quality_spark.functions.hosts import (
            drop_url_patterns)
        df = spark.createDataFrame([("https://x.test/a", 1)],
                                   "url string, doc_id int")
        assert drop_url_patterns(df, patterns=["/a$"]).count() == 0
        assert drop_url_patterns(df, patterns=[]).count() == 1


class TestSnapshotLineDiff:
    def test_counts_and_churn(self, spark):
        from cloud_data_quality_spark.functions.hosts import (
            snapshot_line_diff)
        old = spark.createDataFrame(
            [("u1", "a\nb\nc"), ("u2", None), ("u3", "x\nx\ny")],
            "url string, text string")
        new = spark.createDataFrame(
            [("u1", "a\nB\nc\nd"), ("u2", "fresh"), ("u3", "x\ny")],
            "url string, text string")
        out = {r["url"]: r for r in snapshot_line_diff(old, new).collect()}
        r = out["u1"]  # kept a,c; removed b; added B,d
        assert (r["n_added"], r["n_removed"], r["n_kept"]) == (2, 1, 2)
        assert r["churn_micro"] == 2 * 1000000 // 4
        assert out["u2"]["n_added"] == 1 and out["u2"]["n_kept"] == 0
        assert out["u2"]["churn_micro"] == 1000000
        # duplicate lines collapse: u3 old {x,y} vs new {x,y} → no churn
        r3 = out["u3"]
        assert (r3["n_added"], r3["n_removed"], r3["n_kept"]) == (0, 0, 2)
        assert r3["churn_micro"] == 0

    def test_pages_only_in_one_wave_excluded(self, spark):
        from cloud_data_quality_spark.functions.hosts import (
            snapshot_line_diff)
        old = spark.createDataFrame([("u1", "a"), ("gone", "z")],
                                    "url string, text string")
        new = spark.createDataFrame([("u1", "a"), ("fresh", "q")],
                                    "url string, text string")
        assert {r["url"] for r in
                snapshot_line_diff(old, new).collect()} == {"u1"}
