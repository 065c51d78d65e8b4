"""Text heuristics, scrub, langid — Column path vs pandas batch path parity."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cloud_data_quality_spark.functions import text as TX
from cloud_data_quality_spark.functions.scrub import scrub_pii, scrub_text
from cloud_data_quality_spark.functions.webtext_rules import (
    gopher_stats_batch,
    langid_batch,
    perplexity_batch,
    scrub_batch,
)

SAMPLES = [
    ("d1", "the quick brown fox jumps over the lazy dog and it runs home to rest"),
    ("d2", "el perro corre en la casa y los gatos se van de la ciudad"),
    ("d3", "le chat est dans la maison et les enfants sont dans le jardin"),
    ("d4", "der hund ist in dem haus und die kinder sind mit der mutter"),
    ("d5", "这是一个中文网页的内容测试数据质量引擎"),
    ("d6", "spam spam spam spam spam spam spam spam spam spam spam spam"),
    ("d7", "#### $$$$ %%%% @@@@ !!!! ^^^^ &&&& **** (((( ))))"),
    ("d8", ""),
    ("d9", None),
    ("d10", "contact me at jane.doe@example.com or 555-123-4567 thanks"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(SAMPLES, "id string, text string")


def one_col(df, col, alias="v"):
    return {r["id"]: r[alias] for r in
            df.select("id", col.alias(alias)).collect()}


class TestColumnHeuristics:
    def test_word_count(self, docs):
        wc = one_col(docs, TX.word_count(F.col("text")))
        assert wc["d1"] == 15
        assert wc["d8"] == 0
        assert wc["d9"] is None or wc["d9"] == 0  # NULL text

    def test_mean_word_length_empty_null(self, docs):
        m = one_col(docs, TX.mean_word_length(F.col("text")))
        assert m["d8"] is None  # 0 tokens → NULL (nullif)
        assert m["d1"] == pytest.approx(54 / 15)

    def test_stopword_ratio(self, docs):
        r = one_col(docs, TX.stopword_ratio(F.col("text")))
        assert r["d1"] > 0.2
        assert r["d7"] == 0.0

    def test_alpha_and_cjk(self, docs):
        a = one_col(docs, TX.alpha_ratio(F.col("text")))
        assert a["d1"] > 0.75
        assert a["d7"] == 0.0
        c = one_col(docs, TX.cjk_ratio(F.col("text")))
        assert c["d5"] == 1.0
        assert c["d1"] == 0.0

    def test_duplicate_token_fraction(self, docs):
        d = one_col(docs, TX.duplicate_token_fraction(F.col("text")))
        assert d["d6"] == pytest.approx(1 - 1 / 12)
        assert d["d2"] < 0.4

    def test_langid(self, docs):
        lang = one_col(docs, TX.langid(F.col("text")))
        assert lang["d1"] == "en"
        assert lang["d2"] == "es"
        assert lang["d3"] == "fr"
        assert lang["d4"] == "de"
        assert lang["d5"] == "zh"
        assert lang["d7"] == "und"

    def test_fingerprint_is_md5(self, docs):
        import hashlib
        fp = one_col(docs, TX.fingerprint(F.col("text")))
        assert fp["d1"] == hashlib.md5(SAMPLES[0][1].encode()).hexdigest()


class TestBatchColumnParity:
    """The pandas batch path and the Column path must agree — they back the
    same rules at different scales."""

    def test_langid_parity(self, docs):
        col = one_col(docs, TX.langid(F.col("text")))
        pdf = pd.Series([t for _, t in SAMPLES], index=[i for i, _ in SAMPLES])
        batch = langid_batch(pdf)
        for doc_id in col:
            if doc_id == "d9":
                continue
            assert col[doc_id] == batch[doc_id], doc_id

    def test_scrub_byte_parity(self, docs):
        col = one_col(docs, scrub_text(F.col("text")))
        pdf = pd.Series([t for _, t in SAMPLES], index=[i for i, _ in SAMPLES])
        batch = scrub_batch(pdf)
        for doc_id in col:
            if col[doc_id] is None:
                assert pd.isna(batch[doc_id])
            else:
                assert col[doc_id] == batch[doc_id], doc_id

    def test_gopher_stats_match_column_exprs(self, docs):
        stats = gopher_stats_batch(pd.Series([SAMPLES[0][1]]))
        assert stats.n_words[0] == 15
        assert stats.mean_word_len[0] == pytest.approx(54 / 15)


class TestScrub:
    def test_email_and_phone_scrubbed(self, docs):
        s = one_col(docs, scrub_pii(F.col("text")))
        assert "<EMAIL>" in s["d10"]
        assert "jane.doe" not in s["d10"]
        assert "<PHONE>" in s["d10"]

    def test_deterministic_and_idempotent_tokens(self, spark):
        df = spark.createDataFrame(
            [("x", "mail a@b.co and a@b.co twice 10.0.0.1 ssn 123-45-6789")],
            "id string, text string")
        s1 = df.select(scrub_text(F.col("text")).alias("s")).collect()[0]["s"]
        s2 = df.select(scrub_text(F.col("text")).alias("s")).collect()[0]["s"]
        assert s1 == s2
        assert s1.count("<EMAIL>") == 2 and "<IP>" in s1 and "<SSN>" in s1


def _uncovered_by_scrub_guard(words: list[str]) -> list[str]:
    """Words whose whole-word occurrence the candidate guard would miss:
    a text containing the word then matches no guard alternative, so the
    guarded scrub chain would leave it unscrubbed."""
    import re

    from cloud_data_quality_spark.functions.scrub import SCRUB_DETECT_PATTERN
    return [w for w in words if not re.search(SCRUB_DETECT_PATTERN, w)]


class TestScrubGuardCoverage:
    def test_guard_covers_every_toxicity_word(self):
        from cloud_data_quality_spark.functions.scrub import TOXICITY_WORDS
        assert _uncovered_by_scrub_guard(TOXICITY_WORDS) == []

    def test_uncovered_word_is_reported(self):
        assert _uncovered_by_scrub_guard(["badword9", "jerk"]) == ["jerk"]

    def test_batch_guard_mirrors_column_guard(self):
        from cloud_data_quality_spark.functions.scrub import SCRUB_DETECT_PATTERN
        from cloud_data_quality_spark.functions.webtext_rules import (
            _SCRUB_DETECT,
        )
        assert _SCRUB_DETECT.pattern == SCRUB_DETECT_PATTERN


class TestPerplexity:
    def test_english_lower_than_spam(self):
        ppl = perplexity_batch(pd.Series([
            "the data quality engine validates each record in the table",
            "zzqx jkwv qqq xjz wvk zzz qqq xxx jjj zzz",
            None, "a",
        ]))
        assert ppl[0] < ppl[1]
        assert pd.isna(ppl[2]) and pd.isna(ppl[3])

    def test_deterministic(self):
        s = pd.Series(["the quick brown fox"])
        assert perplexity_batch(s)[0] == perplexity_batch(s)[0]


class TestHashedNgramLangid:
    """fastText-mechanism language ID: char 1-3-gram hash → bucket weights →
    argmax, deterministic embedded weights (BASELINE.json north-star item)."""

    def test_known_sentences(self):
        from cloud_data_quality_spark.functions.webtext_rules import (
            hashed_ngram_langid_batch,
        )
        s = pd.Series([
            "The cat is on the table and we have all of this for the world",
            "el mundo de los datos y la calidad para este mercado es grande",
            "les données sur le marché sont dans la science pour le monde",
            "die daten und die qualität sind für die welt nicht ohne wissenschaft",
            "的一是不了人我在有他这中大来上国个",
            None, "",
        ])
        got = list(hashed_ngram_langid_batch(s))
        assert got == ["en", "es", "fr", "de", "zh", None, "und"]

    def test_accuracy_gate_on_pages_fixture(self):
        """≥0.99 on rows with a reliable label (≥5 words, excluding the
        generator's cross-language duplicate-text injections, whose `lang`
        column describes the ORIGINAL row, not the copied text)."""
        import numpy as np

        from cloud_data_quality_spark.functions.webtext_rules import (
            hashed_ngram_langid_batch,
        )
        from cloud_data_quality_spark.sources.pages import generate_rows
        ids = np.arange(3000)
        pdf = generate_rows(ids, seed=42)
        dup = (ids % 25 == 7) & (ids > 25)
        mask = pdf.text.notna() & (pdf.text.str.split().str.len() >= 5) & ~dup
        pred = hashed_ngram_langid_batch(pdf.text)
        acc = (pred[mask] == pdf.lang[mask]).mean()
        assert acc >= 0.99, acc

    def test_batch_rule_registered(self):
        from cloud_data_quality_spark.functions.batch_registry import (
            get_batch_function,
        )
        fn = get_batch_function("LANGID_HASHED_IS")
        out = fn(pd.Series(["the cat is on the table and all of this", None]),
                 {"lang": "en"})
        assert bool(out[0]) is True and out[1] is pd.NA

    def test_deterministic_weights(self):
        from cloud_data_quality_spark.functions import webtext_rules as W
        assert float(W._LANGID_W.sum()) == float(
            W._train_langid_weights().sum())


class TestHtmlExtract:
    def test_roundtrip_on_pages_fixture(self, spark, pages_parquet):
        """North-rule invariant: extract_text(html) == text byte-identically
        for EVERY generated page (the generator entity-escapes the text and
        wraps it in head/script/style/comment structure — symbol-spam rows
        contain raw <, >, & so the escape path is genuinely exercised)."""
        from cloud_data_quality_spark.functions.html_extract import extract_text
        pages = spark.read.parquet(pages_parquet).where(F.col("text").isNotNull())
        bad = pages.where(extract_text(F.col("html")) != F.col("text"))
        assert bad.count() == 0
        assert pages.count() > 0

    def test_adversarial_cases(self, spark):
        from cloud_data_quality_spark.functions.html_extract import (
            escape_text,
            extract_text,
        )
        cases = [
            "a < b && c > d",              # raw specials
            "literal entity &lt; stays",   # pre-escaped content survives
            'quotes "x" and \'y\'',
            "multi\nline\ntext",
            "",
        ]
        df = spark.createDataFrame([(t,) for t in cases], "text string")
        html = F.encode(F.concat(
            F.lit("<html><head><script>var a=1;\nvar b=2;</script></head>"
                  "<body><!-- multi\nline comment --><p>"),
            escape_text(F.col("text")),
            F.lit("</p><style>.x{color:red}</style></body></html>")), "UTF-8")
        out = df.select("text", extract_text(html).alias("ex")).collect()
        for r in out:
            assert r["ex"] == r["text"], r

    def test_extraction_is_jvm_side(self, spark, pages_parquet):
        """The operator must stay a pure Column expression: no Python eval
        nodes in the plan (whole-stage codegen keeps it scan-speed)."""
        from cloud_data_quality_spark.functions.html_extract import extract_text
        pages = spark.read.parquet(pages_parquet)
        plan = pages.select(extract_text(F.col("html")))._jdf \
            .queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestUnicodeWhitespaceParity:
    """ADVICE r3: Python str.split()/re \\s split on Unicode whitespace
    (NBSP, \\u2028, \\x1c...) that Java/RE2 \\s does NOT — every Python-side
    tokenizer must match the Column path byte-for-byte on such text."""

    NASTY = [
        ("u1", "alpha\xa0beta gamma"),        # NBSP joins alpha+beta
        ("u2", "one\u2028two\tthree"),        # line sep joins, real tab splits
        ("u3", "\xa0"),                       # only NBSP -> 1 token
        ("u4", "a\x1cb c\x0bd"),              # \x1c joins, \x0b splits
        ("u5", "caf\xe9\u202fno\xebl et d\xe9j\xe0 vu"),  # narrow NBSP joins
    ]

    def test_py_tokens_matches_column_tokens(self, spark):
        df = spark.createDataFrame(self.NASTY, "id string, text string")
        col = {r["id"]: r["v"] for r in
               df.select("id", TX.tokens(F.col("text")).alias("v")).collect()}
        for doc_id, t in self.NASTY:
            assert TX.py_tokens(t) == col[doc_id], (doc_id, t)

    def test_py_tokens_matches_duckdb_sql_tokens(self):
        import duckdb
        from cloud_data_quality_spark.plans.oracle_fragments import sql_tokens
        con = duckdb.connect()
        con.execute("create table nasty(id varchar, text varchar)")
        con.executemany("insert into nasty values (?, ?)", self.NASTY)
        rows = con.execute(
            f"select id, {sql_tokens('text')} from nasty").fetchall()
        got = dict(rows)
        for doc_id, t in self.NASTY:
            assert TX.py_tokens(t) == got[doc_id], (doc_id, t)

    def test_batch_word_counts_match_column(self, spark):
        df = spark.createDataFrame(self.NASTY, "id string, text string")
        col = {r["id"]: r["v"] for r in
               df.select("id", TX.word_count(F.col("text")).alias("v"))
               .collect()}
        s = pd.Series([t for _, t in self.NASTY],
                      index=[i for i, _ in self.NASTY])
        batch = gopher_stats_batch(s)["n_words"]
        for doc_id, _ in self.NASTY:
            assert batch[doc_id] == col[doc_id], doc_id

    def test_repetition_batch_tokenizes_like_column(self):
        from cloud_data_quality_spark.functions.corpus import (
            repetition_fractions_batch)
        # str.split() would see 6 tokens / 5 bigrams; Java \\s sees the
        # NBSP-joined tokens ['x\xa0y','x\xa0y','x\xa0y'] -> 2 bigrams
        s = pd.Series(["x\xa0y x\xa0y x\xa0y"])
        out = repetition_fractions_batch(s, n=2)
        assert out["n_grams"][0] == 2

    def test_bpe_words_java_semantics(self):
        from cloud_data_quality_spark.functions.bpe_artifact import _words
        assert _words("a\xa0b c") == ["a\xa0b", "c"]
        assert _words("\xa0") == ["\xa0"]
        assert _words(" \t ") == []


class TestNormalizeText:
    def test_every_rule(self, spark):
        from cloud_data_quality_spark.functions.text import normalize_text
        from pyspark.sql import functions as F
        raw = ("​‌ Hello ‘world’ — "
               "“quoted”…\x01\x07 a\t\tb  \nline2  ")
        df = spark.createDataFrame([(raw,)], "t string")
        got = df.select(normalize_text(F.col("t")).alias("c")).collect()[0]["c"]
        assert got == 'Hello \'world\' - "quoted"... a b\nline2'

    def test_idempotent_and_nulls(self, spark):
        from cloud_data_quality_spark.functions.text import normalize_text
        from pyspark.sql import functions as F
        df = spark.createDataFrame([("plain text",), (None,), ("",)],
                                   "t string")
        rows = df.select(normalize_text(F.col("t")).alias("c")).collect()
        assert [r["c"] for r in rows] == ["plain text", None, ""]


class TestNormalizeTextCrossEngine:
    def test_nasty_corpus_parity_vs_duckdb(self, spark):
        """Spark normalize_text vs the generated DuckDB twin on a corpus of
        hostile strings — every rule boundary, plus combinations."""
        import duckdb

        from cloud_data_quality_spark.functions.text import normalize_text
        from cloud_data_quality_spark.plans.oracle_fragments import (
            sql_normalize_text)
        from pyspark.sql import functions as F
        base = [
            "", " ", "  ", "​", "​‌‍﻿",
            "a​b", "‘x’", "“q”", "‚y„",
            "a–b—c‒d", "e…", "……",
            "nb sp", "\x01ctrl\x1f", "\x7fdel", "tab\tta\t\tbs",
            "sp  aces   here", "line \n next", "line  \nnext",
            "\r keeps cr\r\n", "mixed \t ​…\x02 end ",
            "plain text stays", "unicode ok: äöü 中文 émoji 🙂",
            "' already \" ascii - ...", "trail  ", "  lead",
        ]
        combos = [a + b for a in base[:8] for b in base[8:16]]
        corpus = base + combos
        df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                                   "i int, t string")
        got = {r["i"]: r["c"] for r in
               df.select("i", normalize_text(F.col("t")).alias("c"))
               .collect()}
        con = duckdb.connect()
        con.execute("create table c(i int, t varchar)")
        con.executemany("insert into c values (?, ?)",
                        [(i, t) for i, t in enumerate(corpus)])
        want = dict(con.sql(
            f"select i, {sql_normalize_text('t')} from c").fetchall())
        assert got == want
