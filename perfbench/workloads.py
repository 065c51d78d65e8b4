"""The workloads: the CLI argument list each runs, and the check of each
run's output.

* ``dq_validate``: ``cli validate`` with a summary and failed-records path,
  16 bindings × 10 rules over the generated ``lineitem``. The paper's own
  use in its own perf-test shape: scan, codegen aggregation, the
  failed-records persist and write, and driver orchestration. No Python UDF
  and almost no shuffle.
* ``curate``: ``cli curate`` with span dedup, a per-host cap, MinHash near
  dedup, top-fraction selection and packing over the generated pages. The
  quality kernel is one stage of seven.

A check raises ``CheckFailed``; the run then counts as failed.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import oracle
from perfbench.inputs import Inputs, load_specs

# Buckets for curate's partitioned writes, sized for the 2k-page input (the
# CLI default of 64 is sized for large inputs).
BUCKETS = 4


class CheckFailed(Exception):
    pass


def _files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*") if p.is_file()] if path.exists() else []


def dir_stats(*paths: Path) -> tuple[int, int]:
    """(data files, bytes) under the given directories; Hadoop's checksum
    and marker files are not counted."""
    files = [f for p in paths for f in _files(p)
             if not f.name.startswith((".", "_"))]
    return len(files), sum(f.stat().st_size for f in files)


@dataclass
class Workload:
    name: str
    inputs: Inputs
    expected: dict = field(default_factory=dict)

    needs = ()  # inputs the workload reads: "pages" and/or "dq"

    def prepare(self) -> None:
        """Compute (or load cached) expected outputs; untimed."""

    def input_rows(self) -> int:
        raise NotImplementedError

    def argv(self, out: Path) -> list[str]:
        raise NotImplementedError

    def check(self, out: Path, stdout: str) -> dict:
        raise NotImplementedError


class DqValidate(Workload):
    needs = ("dq",)

    def prepare(self) -> None:
        path = self.inputs.dq_configs / "expected_counts.json"
        if not path.exists():
            counts = oracle.expected_dq_counts(
                self.inputs.lineitem, load_specs(self.inputs.dq_configs))
            tmp = path.with_suffix(".tmp")
            tmp.write_text(json.dumps(
                [[b, r, *v] for (b, r), v in sorted(counts.items())]))
            tmp.rename(path)
        self.expected = {(b, r): tuple(v) for b, r, *v in
                         json.loads(path.read_text())}

    def input_rows(self) -> int:
        return self.inputs.lineitem_rows * len(self.inputs.binding_ids)

    def argv(self, out: Path) -> list[str]:
        return ["validate", "--configs", str(self.inputs.dq_configs),
                "--table-var", f"lineitem_dir={self.inputs.lineitem}",
                "--summary-path", str(out / "summary"),
                "--failed-records-path", str(out / "failed")]

    def check(self, out: Path, stdout: str) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            got = {(b, r): (s, f, n) for b, r, s, f, n in con.execute(
                f"SELECT rule_binding_id, rule_id, success_count, "
                f"failed_count, null_count FROM read_parquet("
                f"'{out}/summary/*.parquet')").fetchall()}
            failed_rows = con.execute(
                f"SELECT count(*) FROM read_parquet("
                f"'{out}/failed/*.parquet')").fetchone()[0]
        finally:
            con.close()
        if got != self.expected:
            bad = sorted(k for k in set(got) | set(self.expected)
                         if got.get(k) != self.expected.get(k))
            raise CheckFailed(f"summary differs from DuckDB on {len(bad)} "
                              f"(binding, rule) pairs, e.g. {bad[:3]}")
        total_failed = sum(v[1] for v in got.values())
        if failed_rows != total_failed:
            raise CheckFailed(f"{failed_rows} failed-record rows, "
                              f"summary failed_count sums to {total_failed}")
        return {"failed_rows": failed_rows}


class Curate(Workload):
    needs = ("pages",)

    def prepare(self) -> None:
        ids = pq.read_table(self.inputs.pages, columns=["url"]).column("url")
        self.expected = {"ids": set(ids.to_pylist())}

    def input_rows(self) -> int:
        return self.inputs.pages_rows

    def max_per_host(self) -> int:
        # ordinary hosts carry ~1/62 of the pages, the hot host ~1/5: a cap
        # of 1/20 truncates only the hot host
        return self.inputs.pages_rows // 20

    def argv(self, out: Path) -> list[str]:
        return ["curate", "--input", str(self.inputs.pages),
                "--work-dir", str(out / "work"), "--run-id", "perfbench",
                "--buckets", str(BUCKETS),
                "--span-dedup", "--max-per-host", str(self.max_per_host()),
                "--near-dedup", "0.5", "--keep-best",
                "--top-fraction", "0.5", "--pack-budget", "2048"]

    def check(self, out: Path, stdout: str) -> dict:
        record = json.loads(stdout.strip().splitlines()[-1])
        units = record["stages"]
        packed = pq.read_table(units[-1]["output"], columns=["url"]).column(
            "url").to_pylist()
        if len(packed) != len(set(packed)):
            raise CheckFailed("curate output repeats an id")
        if not set(packed) <= self.expected["ids"]:
            raise CheckFailed("curate output holds ids not in its input")
        if len(packed) != units[-1]["rows_out"]:
            raise CheckFailed("curate output rows differ from its record")
        # the inputs hold near-duplicates that survive the earlier units;
        # MinHash near dedup must remove some of them
        near = next(u for u in units if u["name"] == "near_dedup")
        if near["rows_out"] >= near["rows_in"]:
            raise CheckFailed(f"near_dedup removed no rows of "
                              f"{near['rows_in']}")
        # the packed corpus: the selected unit's (url, text) rows that the
        # packing manifest lists
        selected = pq.read_table(units[-2]["output"],
                                 columns=["url", "text"]).to_pylist()
        keep = set(packed)
        h = hashlib.sha256()
        for row in sorted((r["url"], r["text"]) for r in selected
                          if r["url"] in keep):
            h.update(json.dumps(row).encode())
        digest = h.hexdigest()[:16]
        # the pipeline is deterministic: every run of one process must
        # produce the same corpus
        if self.expected.setdefault("digest", digest) != digest:
            raise CheckFailed(f"curate digest {digest} differs from the "
                              f"first run's {self.expected['digest']}")
        return {"rows_out": len(packed), "digest": digest,
                "units": [{"name": u["name"], "seconds": u["seconds"],
                           "rows_in": u["rows_in"],
                           "rows_out": u["rows_out"],
                           "output": u["output"]} for u in units]}


WORKLOADS = {"dq_validate": DqValidate, "curate": Curate}
