"""Web-text analysis as *pure Column expressions* (JVM-side, codegen'd).

These are the C4/Gopher-style quality heuristics and text-analysis primitives
the north star adds on top of CloudDQ's rule model (which has no text
functions beyond REGEX/TRIM — rule_type.py:29-31). Everything here is a
composition of built-in pyspark.sql.functions: no UDFs, whole-stage codegen,
fully pushdown/prune-friendly. Each builder returns a Column over a string
column.

Design constraint: every function has an exact ANSI-SQL equivalent (DuckDB)
used by the correctness oracle, so expressions stick to the portable subset
(split/filter/aggregate on arrays, regexp_replace, length, md5).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Top whitespace-delimited function words per language — used by both the
# stopword-ratio quality heuristic (C4 uses a curated English list) and the
# marker-word language-ID heuristic.
EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "that", "it", "for"]
ES_MARKERS = ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las", "es"]
FR_MARKERS = ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"]
DE_MARKERS = ["der", "die", "und", "das", "den", "von", "mit", "ist", "des", "ein"]


def tokens(col: Column) -> Column:
    """Whitespace tokens; empty/blank text → empty array (both engines would
    otherwise disagree on splitting ''). Empty tokens are filtered: Spark's
    trim() strips SPACES only, so a trailing newline ('w0\n') would
    otherwise split into a phantom '' token — off-by-one word counts and
    trailing separators in rejoined text. sql_tokens applies the matching
    list_filter."""
    trimmed = F.trim(col)
    # explicit ASCII class == Java \s exactly; spelled out because RE2
    # (the oracle engine) defines \s WITHOUT \x0B — the explicit class is
    # the one whitespace definition both engines execute identically
    raw = F.when(F.coalesce(F.length(trimmed), F.lit(0)) == 0,
                 F.array().cast("array<string>")
                 ).otherwise(F.split(trimmed, r"[\t\n\x0B\f\r ]+"))
    return F.filter(raw, lambda t: F.length(t) > 0)


def word_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("bigint")


# Java regex \s (what Spark's split uses) is ASCII: [ \t\n\x0B\f\r].
# Python's str.split() and re's \s are Unicode-aware (NBSP,  , the
# \x1c-\x1f separators, ...), so a naive Python twin diverges from the
# Column path on non-ASCII whitespace. Every Python/Arrow-side tokenizer
# must go through py_tokens (or correct str.split rows flagged by
# PY_ONLY_WS_RE) to stay byte-parity with tokens()/sql_tokens.
JAVA_WS_RE = re.compile(r"[\t\n\x0b\f\r ]+")
#: chars where Python str.split() splits but Java \s does not
PY_ONLY_WS_RE = re.compile(
    "[\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]")


def py_tokens(text: str | None) -> list[str]:
    """Exact Python twin of tokens()/sql_tokens: ASCII-whitespace split,
    empty-filtered. See JAVA_WS_RE for why str.split() is wrong."""
    if not text:
        return []
    return [w for w in JAVA_WS_RE.split(text) if w]


def char_count(col: Column) -> Column:
    return F.coalesce(F.length(col), F.lit(0)).cast("bigint")


def mean_word_length(col: Column) -> Column:
    """Sum of token lengths / token count (NULL for empty docs) — a Gopher
    repetition/quality signal (docs outside [3, 10] mean word length are
    suspect)."""
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0).cast("bigint"),
                        lambda acc, t: acc + F.length(t))
    return (total.cast("double") / F.nullif(F.size(toks), F.lit(0))).cast("double")


def _count_in(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("bigint")


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """C4 keeps docs whose stopword ratio is high enough; ratio over tokens."""
    toks = tokens(col)
    return (_count_in(toks, stopwords or EN_STOPWORDS).cast("double")
            / F.nullif(F.size(toks), F.lit(0))).cast("double")


def alpha_ratio(col: Column) -> Column:
    """Fraction of characters that are ASCII letters (symbol-spam detector)."""
    alpha = F.length(F.regexp_replace(col, "[^A-Za-z]", ""))
    return (alpha.cast("double") / F.nullif(F.length(col), F.lit(0))).cast("double")


def duplicate_token_fraction(col: Column) -> Column:
    """Repetition over whitespace tokens: 1 - distinct_tokens/tokens."""
    toks = tokens(col)
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return (F.lit(1.0) - nd.cast("double") / F.nullif(n, F.lit(0))).cast("double")


def cjk_ratio(col: Column) -> Column:
    """Fraction of characters in the CJK Unified Ideographs block."""
    cjk = F.length(F.regexp_replace(col, "[^一-鿿]", ""))
    return (cjk.cast("double") / F.nullif(F.length(col), F.lit(0))).cast("double")


def fingerprint(col: Column, *, normalized: bool = True) -> Column:
    """Deterministic document fingerprint: md5 of (optionally normalized)
    text. md5 is bit-identical across Spark and any SQL oracle, unlike
    xxhash64, so it doubles as the exact-dedup key."""
    c = F.lower(F.trim(col)) if normalized else col
    return F.md5(c.cast("string"))


def langid(col: Column) -> Column:
    """Heuristic language-ID over marker function-words + CJK char ratio.

    Deterministic tie-break priority en > es > fr > de; no marker hit → 'und'.
    This is the JVM-expression path; functions/webtext_rules.py carries the
    fastText-style hashed-n-gram batch variant for real corpora.
    """
    toks = tokens(col)
    s_en = _count_in(toks, EN_STOPWORDS)
    s_es = _count_in(toks, ES_MARKERS)
    s_fr = _count_in(toks, FR_MARKERS)
    s_de = _count_in(toks, DE_MARKERS)
    return (
        F.when(cjk_ratio(col) > 0.30, F.lit("zh"))
        .when((s_en >= s_es) & (s_en >= s_fr) & (s_en >= s_de) & (s_en >= 1), F.lit("en"))
        .when((s_es >= s_fr) & (s_es >= s_de) & (s_es >= 1), F.lit("es"))
        .when((s_fr >= s_de) & (s_fr >= 1), F.lit("fr"))
        .when(s_de >= 1, F.lit("de"))
        .otherwise(F.lit("und"))
    )


def quality_score(col: Column) -> Column:
    """Composite C4/Gopher-style quality score in [0,1]: mean of four binary
    gates (word count in range, mean word length in range, stopword presence,
    low repetition). Deterministic, portable, no floats until the final mean.
    """
    wc = word_count(col)
    mwl = mean_word_length(col)
    swr = stopword_ratio(col)
    rep = duplicate_token_fraction(col)
    gate = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    score = (
        gate((wc >= 10) & (wc <= 100000))
        + gate((mwl >= 3.0) & (mwl <= 12.0))
        + gate(swr >= 0.05)
        + gate(rep <= 0.6)
    )
    return (score.cast("double") / F.lit(4.0)).cast("double")


#: normalize_text constants — the DuckDB twin (oracle_fragments.
#: sql_normalize_text) is generated from THESE, so the two engines cannot
#: drift. \x{...} escapes are the one spelling Java regex and RE2 share.
NORM_ZERO_WIDTH_RE = "[\\x{200B}-\\x{200D}\\x{FEFF}]"
NORM_CTRL_RE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
#: 1:1 char maps (translate): curly quotes -> straight, dashes -> '-',
#: NBSP -> space
NORM_TRANSLATE_FROM = "‘’‚“”„–—‒ "
NORM_TRANSLATE_TO = "'''\"\"\"--- "


def normalize_text(col: Column) -> Column:
    """Mojibake-lite web text normalization: strip zero-width characters,
    map typographic quotes/dashes/NBSP to ASCII, expand ellipsis, remove
    control characters (keeping \\t \\n \\r through to the whitespace
    collapse), collapse space/tab runs, strip line-trailing spaces, trim.

    Running this BEFORE fingerprinting/dedup is what makes two visually
    identical pages with different invisible bytes actually deduplicate.
    Pure Column expression — JVM regexp/translate chain, no Python."""
    s = F.regexp_replace(col, NORM_ZERO_WIDTH_RE, "")
    s = F.translate(s, NORM_TRANSLATE_FROM, NORM_TRANSLATE_TO)
    s = F.regexp_replace(s, "…", "...")
    s = F.regexp_replace(s, NORM_CTRL_RE, "")
    s = F.regexp_replace(s, "[\\t ]+", " ")
    s = F.regexp_replace(s, " \\n", "\n")
    return F.trim(s)
