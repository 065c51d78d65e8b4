"""The DuckDB expected-count generator agrees with one engine run."""

from perfbench.inputs import ensure_inputs, load_specs
from perfbench.oracle import expected_dq_counts


def test_duckdb_counts_match_engine(spark, tmp_path):
    from cloud_data_quality_spark.config.loader import load_configs
    from cloud_data_quality_spark.engine.runner import DqEngine

    inputs = ensure_inputs(tmp_path, 9, 100, 3000, {"dq"})
    expected = expected_dq_counts(inputs.lineitem,
                                  load_specs(inputs.dq_configs))
    engine = DqEngine(spark, load_configs(inputs.dq_configs),
                      table_name_vars={"lineitem_dir": str(inputs.lineitem)})
    result = engine.run(list(inputs.binding_ids), write_summary=False)
    got = {(r["rule_binding_id"], r["rule_id"]):
           (r["success_count"], r["failed_count"], r["null_count"])
           for r in result.summary.collect()}
    assert got == expected
    # every rule fails on some rows, and on at most 2 % of those validated
    for (success, failed, null) in expected.values():
        assert failed <= 0.02 * (success + failed + (null or 0))
    assert sum(f for _, f, _ in expected.values()) > 0
