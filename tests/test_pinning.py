"""One way to pin a reused frame: `dedup.eager_checkpoint`.

Operators that read an intermediate more than once pin it through
eager_checkpoint, which registers nothing with the session's CacheManager
— so a long session that runs them accumulates no cache entries. A source
scan keeps every other pinning call out of the package."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import cloud_data_quality_spark
from cloud_data_quality_spark.functions.dedup import containment_pairs
from cloud_data_quality_spark.functions.ngram_lm import trigram_backoff_logprob
from cloud_data_quality_spark.functions.selection import (
    global_enumerate,
    quantile_buckets,
    select_token_budget,
)

_WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, " ".join(_WORDS[(i + j) % len(_WORDS)]
                         for j in range(6 + i % 5)))
            for i in range(40)]
    # doc 40 is fully contained in doc 0, so containment finds a pair
    rows.append((40, " ".join(rows[0][1].split()[:4])))
    return spark.createDataFrame(rows, "doc_id long, text string")


_OPERATORS = {
    "containment_pairs": lambda d: containment_pairs(
        d, containment_threshold=0.5),
    "trigram_backoff_logprob": lambda d: trigram_backoff_logprob(
        d, vocab_size=6),
    "quantile_buckets": lambda d: quantile_buckets(
        d.withColumn("score", F.length("text")), "score"),
    "select_token_budget": lambda d: select_token_budget(
        d.select("doc_id", (F.col("doc_id") % 7).alias("score"),
                 F.length("text").alias("n_tokens")), 400),
    "global_enumerate": lambda d: global_enumerate(d, ["doc_id"]),
}


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_operator_leaves_cache_manager_empty(spark, docs, name):
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert _OPERATORS[name](docs).collect()
    assert cache_manager.isEmpty(), f"{name} left a cached frame behind"


#: (module path under the package, enclosing qualified name) of the only
#: code allowed to pin a frame. plans/ is excluded: its registry queries
#: copy results out of temporary directories they delete next.
_ALLOWED = {
    ("functions/dedup.py", "eager_checkpoint"),
    ("engine/pipeline.py", "ResumableCurationPipeline._unit_stage"),
}
_PIN_METHODS = {"persist", "cache", "checkpoint", "localCheckpoint"}


def _pin_calls(tree: ast.AST):
    """(enclosing qualified name, line) of every `.persist(` / `.cache(` /
    `.checkpoint(` / `.localCheckpoint(` call in ``tree``."""
    found = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                visit(child, scope + [child.name])
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in _PIN_METHODS):
                found.append((".".join(scope), child.lineno))
            visit(child, scope)

    visit(tree, [])
    return found


def test_only_eager_checkpoint_and_unit_stage_pin_frames():
    root = Path(cloud_data_quality_spark.__file__).parent
    offenders = []
    allowed_seen = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith("plans/"):
            continue
        for scope, line in _pin_calls(ast.parse(path.read_text())):
            owner = next((a for a in _ALLOWED if a[0] == rel and (
                scope == a[1] or scope.startswith(a[1] + "."))), None)
            if owner is None:
                offenders.append(f"{rel}:{line} ({scope or '<module>'})")
            else:
                allowed_seen.add(owner)
    assert not offenders, (
        "pin reused frames with functions/dedup.eager_checkpoint: "
        + ", ".join(offenders))
    # the scan must still see the allowed pins, or it proves nothing
    assert allowed_seen == _ALLOWED
