"""Seeded benchmark inputs, cached on disk by (kind, seed, rows).

Three inputs, each a pure function of the seed:

* ``pages``: the package's ``generate_pages`` table plus a stated share of
  near-duplicate pages (a copy of an earlier long page with a few words
  changed), so the curate workload's MinHash verification does real work.
* ``lineitem``: a TPC-H-shaped line-item table with injected defects
  (NULLs, negatives, outliers, zeros), every column an integer, string or
  date so that each rule evaluates identically in Spark and in DuckDB.
  Prices are integer cents and rates integer basis points for that reason.
* ``dq_configs``: a copy of the shipped rule library (``configs/rules``)
  plus one generated YAML file with the entity, four row filters, six
  rules of the library's CUSTOM_SQL_EXPR type and 16 bindings × 10 rules.
  Rule thresholds are read off each column's own quantiles, so every rule
  fails on 0-2 % of the rows it validates.

The program under test receives only these generated files.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent

# Share of generated pages that are near-duplicates of an earlier page.
NEAR_DUP_SHARE = 0.05
# Near-duplicates replace one word in every line: an edit in every line
# keeps the copy clear of span dedup (no line repeats exactly), and one
# word per line keeps it similar enough for curate's MinHash near dedup at
# 0.5, which must drop some rows on every run (workloads.Curate.check).
# Parquet files per generated table: several files give the scan one task
# per core instead of one task for a small single file.
N_FILES = 8

DQ_COLUMNS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
              "l_quantity", "l_extendedprice", "l_discount", "l_tax")
ROW_FILTERS = {
    "ALL_ROWS": "True",
    "RETURNED": "l_returnflag = 'R'",
    "SHIPPED_LATE_90S": "l_shipdate >= '1996-01-01'",
    "AIR_OR_SHIP": "l_shipmode IN ('AIR', 'SHIP')",
}
N_BINDINGS = 16
REFERENCE_COLUMNS = ("l_orderkey", "l_linenumber")

# Bench-defined rules: the library's CUSTOM_SQL_EXPR type with arguments.
BENCH_RULES = {
    "VALUE_AT_MOST": ("$column <= $max_value", ["max_value"]),
    "VALUE_AT_LEAST": ("$column >= $min_value", ["min_value"]),
    "VALUE_BETWEEN": ("$column BETWEEN $low AND $high", ["low", "high"]),
    "VALUE_NOT_SENTINEL": ("$column <> $sentinel", ["sentinel"]),
    "VALUE_NOT_ZERO": ("$column <> 0", []),
    "ABS_AT_MOST": ("ABS($column) <= $abs_max", ["abs_max"]),
}
# The ten rules of every binding: four from the shipped library, six above.
BINDING_RULES = ("NOT_NULL_SIMPLE", "NOT_BLANK_SIMPLE", "VALUE_NON_NEGATIVE",
                 "VALUE_LENGTH_BETWEEN") + tuple(BENCH_RULES)
SENTINEL = 999_999_999


@dataclass(frozen=True)
class Inputs:
    pages: Path
    pages_rows: int
    lineitem: Path
    lineitem_rows: int
    dq_configs: Path
    binding_ids: tuple[str, ...]


def _digest_dir(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(p for p in path.rglob("*") if p.is_file()):
        h.update(f.relative_to(path).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def input_digest(inputs: Inputs) -> str:
    """Content digest of every generated file: equal seeds give equal
    digests."""
    return hashlib.sha256("".join(
        _digest_dir(p) for p in (inputs.pages, inputs.lineitem,
                                 inputs.dq_configs)).encode()).hexdigest()[:16]


def input_bytes(inputs: Inputs) -> dict[str, int]:
    def size(p: Path) -> int:
        return sum(f.stat().st_size for f in p.rglob("*.parquet"))
    return {"pages": size(inputs.pages), "lineitem": size(inputs.lineitem)}


def _write_files(table: pa.Table, out: Path) -> None:
    """Write ``table`` as N_FILES parquet files into a fresh ``out``; the
    directory appears complete or not at all."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    n = table.num_rows
    for k in range(N_FILES):
        lo, hi = n * k // N_FILES, n * (k + 1) // N_FILES
        pq.write_table(table.slice(lo, hi - lo), tmp / f"part-{k:03d}.parquet")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


# ---------------------------------------------------------------- pages

def _near_duplicates(seed: int, n_base: int, n_near: int):
    """Rows that copy an earlier long English page with one word replaced
    in every line; their urls are unique and on ordinary hosts."""
    from cloud_data_quality_spark.sources.pages import generate_rows

    rng = np.random.default_rng([seed, 7])
    # oversample candidates, keep long English pages (they survive the
    # quality filter, so they reach the near-dedup stage)
    cand = np.sort(rng.choice(n_base, size=min(n_base, n_near * 8),
                              replace=False))
    src = generate_rows(cand, seed)
    words = src["text"].fillna("").str.split()
    ok = (src["lang"] == "en") & (words.str.len() >= 60) & \
        src["url"].str.contains("site", regex=False)
    src = src[ok].head(n_near).reset_index(drop=True)
    vocab = ("river", "copper", "lantern", "harbor", "meadow", "violet",
             "signal", "timber", "orbit", "canyon")
    texts, urls = [], []
    for j, text in enumerate(src["text"]):
        lines = [ln.split(" ") for ln in text.split("\n")]
        for ln in lines:
            ln[int(rng.integers(len(ln)))] = vocab[int(rng.integers(len(vocab)))]
        texts.append("\n".join(" ".join(ln) for ln in lines))
        urls.append(f"https://site{j % 50}.example.org/en/near-{j}.html")
    return src.assign(
        text=texts, url=urls,
        html=[f"<html><body><p>{t}</p></body></html>".encode()
              for t in texts])


def write_pages(out: Path, seed: int, rows: int) -> None:
    """The pages table: ``generate_pages`` rows plus near-duplicates. The
    rows come from ``generate_rows``, the per-row function ``generate_pages``
    maps over ``spark.range``, so the content is the same and no Spark job
    runs before the benchmark's set-up is timed."""
    import pandas as pd

    from cloud_data_quality_spark.sources.pages import generate_rows

    n_near = int(rows * NEAR_DUP_SHARE)
    n_base = rows - n_near
    base = generate_rows(np.arange(n_base), seed)
    near = _near_duplicates(seed, n_base, n_near)
    pdf = pd.concat([base, near[base.columns]], ignore_index=True)
    # shuffle deterministically so near-duplicates spread over the files
    order = np.random.default_rng([seed, 11]).permutation(len(pdf))
    pdf = pdf.iloc[order].reset_index(drop=True)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.as_unit("us")
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    _write_files(table.replace_schema_metadata(), out)


# ---------------------------------------------------------------- lineitem

def _with_defects(rng, values: np.ndarray, rates: dict[str, float]):
    """Return (int64 values, null mask) with defects injected at the given
    row shares: negative, outlier (×1000), zero, sentinel, null."""
    v = values.astype(np.int64).copy()
    n = len(v)
    for kind, rate in rates.items():
        hit = rng.random(n) < rate
        if kind == "negative":
            v[hit] = -np.abs(v[hit]) - 1
        elif kind == "outlier":
            v[hit] = np.abs(v[hit]) * 1000 + 1
        elif kind == "zero":
            v[hit] = 0
        elif kind == "sentinel":
            v[hit] = SENTINEL
    nulls = rng.random(n) < rates.get("null", 0.0)
    return v, nulls


def lineitem_table(seed: int, rows: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n = rows
    orderkey = np.sort(rng.integers(1, rows * 4, size=n))
    clean = {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, 200_000, size=n),
        "l_suppkey": rng.integers(1, 10_000, size=n),
        "l_linenumber": rng.integers(1, 8, size=n),
        "l_quantity": rng.integers(1, 51, size=n),
        "l_extendedprice": rng.integers(90_000, 10_500_000, size=n),
        # TPC-H's 0-10 % discount and 0-8 % tax, without the zero rate so
        # that VALUE_NOT_ZERO fails only on injected zeros
        "l_discount": rng.integers(1, 11, size=n) * 100,
        "l_tax": rng.integers(1, 9, size=n) * 100,
    }
    cols = {}
    for i, (name, vals) in enumerate(clean.items()):
        # each column gets its own defect mix, every share ≤ 1 %
        r = np.random.default_rng([seed, 5, i])
        rates = {"negative": 0.002 + 0.001 * (i % 4),
                 "outlier": 0.003 + 0.001 * (i % 3),
                 "zero": 0.001 * (1 + i % 5),
                 "sentinel": 0.0015,
                 "null": 0.001 * (2 + i % 4)}
        v, nulls = _with_defects(r, vals, rates)
        cols[name] = pa.array(v, type=pa.int64(), mask=nulls)
    cols["l_returnflag"] = pa.array(rng.choice(["A", "N", "R"], size=n,
                                               p=[0.25, 0.5, 0.25]))
    cols["l_linestatus"] = pa.array(rng.choice(["F", "O"], size=n))
    day0 = np.datetime64("1992-01-01")
    ship = day0 + rng.integers(0, 2500, size=n).astype("timedelta64[D]")
    cols["l_shipdate"] = pa.array(ship)
    cols["l_commitdate"] = pa.array(
        ship + rng.integers(-60, 60, size=n).astype("timedelta64[D]"))
    cols["l_receiptdate"] = pa.array(
        ship + rng.integers(1, 30, size=n).astype("timedelta64[D]"))
    cols["l_shipmode"] = pa.array(rng.choice(
        ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], size=n))
    cols["l_comment"] = pa.array(rng.choice(
        ["carefully final deposits", "quickly regular requests",
         "furiously even ideas", "slyly bold packages"], size=n))
    return pa.table(cols)


# ---------------------------------------------------------------- dq configs

def _thresholds(col: np.ndarray) -> dict[str, int]:
    """Rule arguments for one column, from its non-null values, so that
    each rule fails on a small share of rows."""
    q = np.quantile(col, [0.005, 0.01, 0.99, 0.995])
    return {
        "min_value": int(q[1]), "max_value": int(q[2]) + 1,
        "low": int(q[0]), "high": int(q[3]) + 1,
        "abs_max": int(max(abs(q[0]), abs(q[3]))) + 1,
        "max_len": len(str(int(q[3]))) + 1,
    }


def binding_specs(table: pa.Table) -> dict[str, dict]:
    """The 16 bindings: column, row filter and the ten rules' arguments."""
    specs = {}
    filters = list(ROW_FILTERS)
    for b in range(N_BINDINGS):
        col = DQ_COLUMNS[b % len(DQ_COLUMNS)]
        vals = table[col].drop_null().to_numpy()
        t = _thresholds(vals)
        specs[f"BENCH_RB_{b:02d}"] = {
            "column": col,
            "row_filter": filters[(b + b // len(DQ_COLUMNS)) % len(filters)],
            "args": {
                "VALUE_LENGTH_BETWEEN": {"min_len": 1,
                                         "max_len": t["max_len"]},
                "VALUE_AT_MOST": {"max_value": t["max_value"]},
                "VALUE_AT_LEAST": {"min_value": t["min_value"]},
                "VALUE_BETWEEN": {"low": t["low"], "high": t["high"]},
                "VALUE_NOT_SENTINEL": {"sentinel": SENTINEL},
                "ABS_AT_MOST": {"abs_max": t["abs_max"]},
            },
        }
    return specs


def dq_config(specs: dict[str, dict]) -> dict:
    rules = {
        rid: {"rule_type": "CUSTOM_SQL_EXPR", "dimension": "validity",
              "params": {"custom_sql_expr": sql,
                         **({"custom_sql_arguments": args} if args else {})}}
        for rid, (sql, args) in BENCH_RULES.items()
    }
    int_cols = {c.upper(): {"data_type": "INT64"} for c in DQ_COLUMNS}
    bindings = {}
    for rbid, s in specs.items():
        rule_ids = []
        for rid in BINDING_RULES:
            args = s["args"].get(rid)
            rule_ids.append({rid: args} if args else rid)
        bindings[rbid] = {
            "entity_id": "LINEITEM", "column_id": s["column"].upper(),
            "row_filter_id": s["row_filter"],
            "reference_columns_id": "LINE_REFS",
            "rule_ids": rule_ids, "metadata": {"suite": "perfbench"},
        }
    return {
        "entities": {"LINEITEM": {
            # the path is a table variable, so the configs hold no path of
            # the machine that generated them
            "table_name": "{lineitem_dir}", "source_format": "parquet",
            "columns": {**int_cols,
                        "L_RETURNFLAG": {"data_type": "STRING"},
                        "L_SHIPDATE": {"data_type": "DATE"},
                        "L_SHIPMODE": {"data_type": "STRING"}}}},
        "row_filters": {k: {"filter_sql_expr": v}
                        for k, v in ROW_FILTERS.items()},
        "reference_columns": {"LINE_REFS": {
            "include_reference_columns": list(REFERENCE_COLUMNS)}},
        "rules": rules,
        "rule_bindings": bindings,
    }


def write_dq_inputs(lineitem_out: Path, configs_out: Path, seed: int,
                    rows: int) -> None:
    import yaml

    table = lineitem_table(seed, rows)
    _write_files(table, lineitem_out)
    specs = binding_specs(table)
    tmp = configs_out.with_name(configs_out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(REPO / "configs" / "rules", tmp / "rules")
    with open(tmp / "perfbench_bindings.yml", "w") as fh:
        yaml.safe_dump(dq_config(specs), fh, sort_keys=True)
    with open(tmp / "specs.json", "w") as fh:
        json.dump(specs, fh, sort_keys=True, indent=1)
    shutil.rmtree(configs_out, ignore_errors=True)
    tmp.rename(configs_out)


def load_specs(configs: Path) -> dict[str, dict]:
    with open(configs / "specs.json") as fh:
        return json.load(fh)


# ---------------------------------------------------------------- cache

def ensure_inputs(cache: Path, seed: int, pages_rows: int,
                  lineitem_rows: int, need: set[str]) -> Inputs:
    """Build the inputs named in ``need`` ('pages', 'dq') unless already
    cached for this (seed, rows) and this version of the generator."""
    cache = cache / hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]
    pages = cache / f"pages-s{seed}-n{pages_rows}"
    li = cache / f"lineitem-s{seed}-n{lineitem_rows}"
    cfg = cache / f"dqconf-s{seed}-n{lineitem_rows}"
    if "pages" in need and not pages.exists():
        write_pages(pages, seed, pages_rows)
    if "dq" in need and not (li.exists() and cfg.exists()):
        write_dq_inputs(li, cfg, seed, lineitem_rows)
    ids = tuple(sorted(load_specs(cfg))) if cfg.exists() else ()
    return Inputs(pages, pages_rows, li, lineitem_rows, cfg, ids)
