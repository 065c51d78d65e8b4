"""Independent expected counts for the dq_validate check: every binding's
success/failed/null counts per rule, evaluated in DuckDB over the same
parquet files. Each rule is restated here in DuckDB SQL; none of the
engine's compiled SQL is reused.
"""

from __future__ import annotations

from pathlib import Path

from perfbench.inputs import BINDING_RULES, ROW_FILTERS

# rule id -> DuckDB predicate over column `c` (TRUE = valid); arguments are
# substituted from the binding spec. NULL handling follows the dq_summary
# contract: NOT_NULL counts a NULL as failed, every other rule as null.
_DUCKDB_PREDICATES = {
    "NOT_NULL_SIMPLE": "c IS NOT NULL",
    "NOT_BLANK_SIMPLE": "trim(CAST(c AS VARCHAR)) <> ''",
    "VALUE_NON_NEGATIVE": "c >= 0",
    "VALUE_LENGTH_BETWEEN":
        "length(CAST(c AS VARCHAR)) BETWEEN {min_len} AND {max_len}",
    "VALUE_AT_MOST": "c <= {max_value}",
    "VALUE_AT_LEAST": "c >= {min_value}",
    "VALUE_BETWEEN": "c BETWEEN {low} AND {high}",
    "VALUE_NOT_SENTINEL": "c <> {sentinel}",
    "VALUE_NOT_ZERO": "c <> 0",
    "ABS_AT_MOST": "abs(c) <= {abs_max}",
}


def expected_dq_counts(lineitem_dir: Path, specs: dict[str, dict]
                       ) -> dict[tuple[str, str], tuple[int, int, int | None]]:
    """{(binding, rule): (success, failed, null)}; null is None for
    NOT_NULL rules, whose summary reports it as NULL."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet("
                    f"'{lineitem_dir}/*.parquet')")
        out = {}
        for rbid, spec in sorted(specs.items()):
            aggs = []
            for rid in BINDING_RULES:
                pred = _DUCKDB_PREDICATES[rid].format(
                    **spec["args"].get(rid, {}))
                if rid == "NOT_NULL_SIMPLE":
                    aggs += [f"count_if({pred})", f"count_if(NOT ({pred}))",
                             "NULL"]
                else:
                    aggs += [f"count_if(c IS NOT NULL AND ({pred}))",
                             f"count_if(c IS NOT NULL AND NOT ({pred}))",
                             "count_if(c IS NULL)"]
            row = con.execute(
                f"SELECT {', '.join(aggs)} FROM "
                f"(SELECT {spec['column']} AS c FROM li "
                f"WHERE {ROW_FILTERS[spec['row_filter']]})").fetchone()
            for k, rid in enumerate(BINDING_RULES):
                s, f, n = row[3 * k: 3 * k + 3]
                out[(rbid, rid)] = (int(s), int(f),
                                    None if n is None else int(n))
        return out
    finally:
        con.close()
