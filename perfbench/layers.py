"""Per-layer metrics of a traced run.

Three sources, folded into one flat metric set per workload:

* wall-clock spans the benchmark records around the package's public calls
  that do work (``Spans``); the wrappers are installed only in the traced
  run and removed after it, and the package itself is not changed;
* the stage records the CLI prints (curate's pipeline units);
* the Spark event log, folded per job group (``perfbench.eventlog``).

Every workload reports every metric; a layer a workload does not use reads
0 there, which is the prediction for that pairing (README.md).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import statistics
import time
from collections import defaultdict
from pathlib import Path

from perfbench.eventlog import METRICS as SPARK_METRICS
from perfbench.workloads import dir_stats

# (span name, module, attribute path) of each wrapped public call. The
# runner imports compile_binding by name, so that binding is wrapped too.
WRAPPED = (
    ("config.load", "cloud_data_quality_spark.config.loader",
     "load_configs"),
    ("compiler.compile", "cloud_data_quality_spark.compiler.binding",
     "compile_binding"),
    ("compiler.compile", "cloud_data_quality_spark.engine.runner",
     "compile_binding"),
    ("engine.runner.binding", "cloud_data_quality_spark.engine.runner",
     "DqEngine.run_binding"),
    ("engine.sinks.write", "cloud_data_quality_spark.engine.sinks",
     "ParquetAppendSink.write"),
    ("engine.incremental.run", "cloud_data_quality_spark.engine.incremental",
     "ResumableQualityRun.run"),
)
# The standalone kernel timing: at least this many passes over the page
# texts, and at least this long.
KERNEL_MIN_PASSES = 3
KERNEL_MIN_S = 2.0
CURATE_UNITS = ("quality", "span_dedup", "hosts", "dedup", "near_dedup",
                "select_top", "pack")

UNITS = {
    "config.load_s": "s",
    "compiler.compile_s": "s",
    "engine.runner.binding_s": "s",
    "engine.runner.binding_s_p50": "s",
    "engine.runner.entity_scans": "ratio",
    "engine.runner.failed_rows": "count",
    "engine.sinks.write_s": "s",
    "engine.incremental.run_s": "s",
    "engine.incremental.files_written": "count",
    "engine.incremental.bytes_written": "bytes",
    **{f"engine.pipeline.unit_s.{u}": "s" for u in CURATE_UNITS},
    **{f"engine.pipeline.rows_out.{u}": "count" for u in CURATE_UNITS},
    "engine.pipeline.bytes_written": "bytes",
    "webtext_rules.docs_per_core_s": "docs/s",
    **{f"spark.{m}": ("count" if m in ("jobs", "tasks") else
                      "bytes" if "bytes" in m else
                      "ratio" if m == "task_skew" else "s")
       for m in SPARK_METRICS},
    "spark.driver_gap_s": "s",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
}


def _current_group() -> str | None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return sc.getLocalProperty("spark.jobGroup.id") if sc else None


class Spans:
    """Records (name, group, seconds, target) for each wrapped call."""

    def __init__(self):
        self.records: list[tuple[str, str | None, float, object]] = []

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            group = _current_group()
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.records.append((name, group, time.perf_counter() - t0,
                                     args[0] if args else None))
        return wrapper

    @contextlib.contextmanager
    def installed(self):
        saved = []
        try:
            for name, module, attr in WRAPPED:
                owner = importlib.import_module(module)
                *path, leaf = attr.split(".")
                for part in path:
                    owner = getattr(owner, part)
                original = owner.__dict__[leaf]
                saved.append((owner, leaf, original))
                setattr(owner, leaf, self._wrap(name, original))
            yield self
        finally:
            for owner, leaf, original in reversed(saved):
                setattr(owner, leaf, original)

    def for_group(self, group: str) -> list[tuple[str, float, object]]:
        return [(n, s, t) for n, g, s, t in self.records if g == group]


def docs_per_core_s(pages: Path, batch_rows: int) -> float:
    """Standalone ``quality_annotations_batch`` rate in this one process,
    over every page text in batches of the session's Arrow batch size:
    one untimed warm-up pass, then passes until KERNEL_MIN_S have passed
    (at least KERNEL_MIN_PASSES), docs ÷ seconds over all timed passes."""
    import pyarrow.parquet as pq

    from cloud_data_quality_spark.functions.webtext_rules import (
        quality_annotations_batch,
    )

    texts = pq.read_table(pages, columns=["text"]).column("text").to_pandas()
    batches = [texts.iloc[lo:lo + batch_rows].reset_index(drop=True)
               for lo in range(0, len(texts), batch_rows)]

    def one_pass():
        for batch in batches:
            quality_annotations_batch(batch)

    one_pass()
    passes, t0 = 0, time.perf_counter()
    while passes < KERNEL_MIN_PASSES or \
            time.perf_counter() - t0 < KERNEL_MIN_S:
        one_pass()
        passes += 1
    return passes * len(texts) / (time.perf_counter() - t0)


def per_layer(wl, run: dict, spans, spark: dict, *, traced_run_s: float,
              untraced_run_s: float, kernel_rate: float) -> dict[str, float]:
    """Flat per-layer metrics of one traced run."""
    m = dict.fromkeys(UNITS, 0.0)
    by_name = defaultdict(list)
    for name, seconds, _ in spans:
        by_name[name].append(seconds)
    m["config.load_s"] = sum(by_name["config.load"])
    m["compiler.compile_s"] = sum(by_name["compiler.compile"])
    m["engine.runner.binding_s"] = sum(by_name["engine.runner.binding"])
    if by_name["engine.runner.binding"]:
        m["engine.runner.binding_s_p50"] = statistics.median(
            by_name["engine.runner.binding"])
    m["engine.sinks.write_s"] = sum(by_name["engine.sinks.write"])
    m["engine.incremental.run_s"] = sum(by_name["engine.incremental.run"])
    incremental_dirs = {Path(p) for name, _, target in spans
                        if name == "engine.incremental.run"
                        for p in (target.output_path, target.lineage_path)}
    (m["engine.incremental.files_written"],
     m["engine.incremental.bytes_written"]) = dir_stats(*incremental_dirs)

    check = run.get("check") or {}
    if wl.name == "dq_validate":
        entity_bytes = dir_stats(wl.inputs.lineitem)[1]
        m["engine.runner.entity_scans"] = (spark.get("input_bytes", 0)
                                           / entity_bytes)
        m["engine.runner.failed_rows"] = check.get("failed_rows", 0)
    if wl.name == "curate":
        for unit in check.get("units", []):
            key = unit["name"].replace("+", "-")
            if f"engine.pipeline.unit_s.{key}" in m:
                m[f"engine.pipeline.unit_s.{key}"] = unit["seconds"]
                m[f"engine.pipeline.rows_out.{key}"] = unit["rows_out"]
        m["engine.pipeline.bytes_written"] = dir_stats(
            run["out"] / "work")[1]
    m["webtext_rules.docs_per_core_s"] = kernel_rate

    for k in SPARK_METRICS:
        m[f"spark.{k}"] = spark.get(k, 0.0)
    m["spark.driver_gap_s"] = traced_run_s - m["spark.job_s"]
    m["trace.run_s"] = traced_run_s
    m["trace.untraced_run_s"] = untraced_run_s
    m["trace.overhead_s"] = traced_run_s - untraced_run_s
    return m
