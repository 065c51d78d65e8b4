"""Deterministic synthetic Common-Crawl-style web-pages table.

BASELINE.json input_hint: columns (url:string, warc_ts:timestamp, html:binary,
text:string, lang:string). No external data — everything derives from a seeded
generator, so the same (seed, n) always yields byte-identical rows: that's
what makes the north-star per-row invariant ("byte-identical text per url")
testable across runs and parallelism levels.

Content mix (FIXTURES.md §2): multiple languages, boilerplate/low-quality docs
(symbol spam, short lines, repetition), PII-bearing docs, empty/NULL text,
duplicated text across urls, and heavy-hitter hosts for skew tests (host
`hot.example.com` carries ~20% of rows).

Generation is distributed: spark.range(n) → mapInPandas, each row derived
purely from its id + seed (no driver-side materialization), so the same
generator scales to billions of rows on a cluster.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cloud_data_quality_spark.functions.html_extract import HTML_ENTITIES

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

def _expand(base: list[str], suffixes: tuple[str, ...]) -> list[str]:
    """Grow a marker-word list with derived content words so generated docs
    have realistic type/token ratios (a 40-word vocab makes every doc look
    'repetitive' to quality heuristics)."""
    out = list(base)
    for w in base:
        if len(w) >= 4:
            out.extend(w + s for s in suffixes)
    return out


_EN_WORDS = _expand(
    ("the of and to in is that it for on with as was at by an be this "
     "have from or had not are but what all were when we there can "
     "engine data quality rule table filter spark page content news "
     "article report story world market science sport culture").split(),
    ("s", "ed", "ing"))
_ES_WORDS = _expand(
    ("el la de que y en los se del las un por con no una su para es "
     "al lo como más pero sus le ya o este sí porque esta entre "
     "noticias datos calidad tabla mundo mercado ciencia").split(),
    ("s", "es", "ado"))
_FR_WORDS = _expand(
    ("le la de et les des en un du une est que dans qui par pour au "
     "sur plus ne se pas ce sont avec son ses mais comme "
     "nouvelles données qualité monde marché science").split(),
    ("s", "es", "ment"))
_DE_WORDS = _expand(
    ("der die und das den von mit ist des ein dem nicht sie auf für "
     "es im eine auch als an werden aus er hat dass sich nach "
     "nachrichten daten qualität welt markt wissenschaft").split(),
    ("en", "er", "ung"))
_ZH_CHARS = "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得就那要下以生会自着去之过家学对可她里后"
_LANG_WORDS = {"en": _EN_WORDS, "es": _ES_WORDS, "fr": _FR_WORDS, "de": _DE_WORDS}

_HOSTS = [f"site{i}.example.org" for i in range(50)]
_HOT_HOST = "hot.example.com"
_EPOCH_2023 = int(datetime(2023, 1, 1, tzinfo=timezone.utc).timestamp())


def _rng_for(seed: int, i: int) -> np.random.Generator:
    # Stable per-row stream: row content depends only on (seed, i).
    return np.random.Generator(np.random.PCG64(seed * 1_000_003 + i))


def _make_text(rng: np.random.Generator, lang: str, kind: str) -> str:
    if lang == "zh":
        n = int(rng.integers(40, 400))
        body = "".join(rng.choice(list(_ZH_CHARS), size=n))
        return body
    words = _LANG_WORDS[lang]
    if kind == "good":
        n_lines = int(rng.integers(3, 10))
        lines = []
        for _ in range(n_lines):
            n = int(rng.integers(12, 40))
            lines.append(" ".join(rng.choice(words, size=n)))
        return "\n".join(lines)
    if kind == "symbol_spam":
        n = int(rng.integers(30, 120))
        syms = rng.choice(list("#$%*@!{}[]<>~^|\\/=+"), size=n)
        few = " ".join(rng.choice(words, size=int(rng.integers(2, 6))))
        return few + " " + "".join(syms)
    if kind == "repetitive":
        phrase = " ".join(rng.choice(words, size=3))
        return " ".join([phrase] * int(rng.integers(15, 40)))
    if kind == "short":
        return " ".join(rng.choice(words, size=int(rng.integers(1, 5))))
    if kind == "pii":
        base = " ".join(rng.choice(words, size=int(rng.integers(20, 60))))
        uid = int(rng.integers(0, 10_000))
        return (f"{base} contact john{uid}@mail-example.com or call "
                f"+1 (555) 01{uid % 10}-23{uid % 90:02d} ssn {uid % 900 + 100:03d}-"
                f"{uid % 90 + 10:02d}-{uid % 9000 + 1000:04d} {base[:40]}")
    if kind == "toxic":
        base = " ".join(rng.choice(words, size=int(rng.integers(15, 40))))
        return base + " badword1 " + base[:30] + " slur1"
    return ""


# kind/lang mixes — drawn independently from the per-row rng (NOT the same
# modulus: index-correlated mixes would confound language with defect class)
_KIND_CHOICES = ["good"] * 15 + ["symbol_spam", "repetitive", "short", "pii", "toxic"]
_LANG_CHOICES = ["en"] * 11 + ["es", "es", "fr", "fr", "de", "de", "zh", "zh", "en"]


def _row_lang_kind_text(seed: int, i: int) -> tuple[str, str, str]:
    """Full deterministic content draw for row i (lang → kind → text, in
    fixed rng order so any row can be replayed independently)."""
    rng = _rng_for(seed, i)
    lang = str(rng.choice(_LANG_CHOICES))
    kind = str(rng.choice(_KIND_CHOICES))
    return lang, kind, _make_text(rng, lang, kind)


def generate_rows(ids: np.ndarray, seed: int) -> pd.DataFrame:
    urls, tss, htmls, texts, langs = [], [], [], [], []
    for i in ids:
        i = int(i)
        lang, kind, text = _row_lang_kind_text(seed, i)
        # ~20% of urls land on the hot host → deliberate partition skew
        host = _HOT_HOST if i % 5 == 0 else _HOSTS[i % len(_HOSTS)]
        url = f"https://{host}/{lang}/page-{i}.html"
        # ~4% exact-duplicate text of an earlier row (near-dup fixture)
        if i % 25 == 7 and i > 25:
            src = i - (i % 23) - 2
            _, _, text = _row_lang_kind_text(seed, src)
        elif i % 97 == 13:
            text = None  # NULL text rows
        elif i % 97 == 31:
            text = ""    # blank text rows
        # realistic capture shape: head block (title/script/style), inline
        # script + comment in the body, and the text ENTITY-ESCAPED — so
        # functions.html_extract.extract_text must strip and decode to
        # recover `text` byte-identically (the north-rule invariant; the
        # escape table is single-sourced from html_extract.HTML_ENTITIES)
        esc = text or ""
        for ent, ch in reversed(HTML_ENTITIES):
            esc = esc.replace(ch, ent)
        html = (f"<html><head><title>page {i}</title>"
                f"<script>var row={i};</script>"
                f"<style>p{{margin:0}}</style></head>"
                f"<body><!-- row {i} --><p>{esc}</p>"
                f"<script>track({i});</script></body></html>").encode("utf-8")
        ts = datetime.fromtimestamp(
            _EPOCH_2023 + (i * 37) % (365 * 24 * 3600), tz=timezone.utc)
        urls.append(url); tss.append(ts); htmls.append(html)
        texts.append(text); langs.append(lang)
    return pd.DataFrame({
        "url": urls, "warc_ts": tss, "html": htmls, "text": texts, "lang": langs,
    })


def generate_pages(spark: SparkSession, n_rows: int, seed: int = 42,
                   partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation: content depends only on (seed,
    row id), never on partitioning — required for the byte-identical-per-url
    invariant at any parallelism."""
    base = spark.range(0, n_rows, numPartitions=partitions or max(
        8, spark.sparkContext.defaultParallelism))

    def gen(it):
        for pdf in it:
            yield generate_rows(pdf["id"].to_numpy(), seed)

    return base.mapInPandas(gen, schema=PAGES_SCHEMA)


def write_pages_parquet(spark: SparkSession, path: str, n_rows: int,
                        seed: int = 42) -> str:
    df = generate_pages(spark, n_rows, seed=seed)
    df.write.mode("overwrite").parquet(path)
    return path
