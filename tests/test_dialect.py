from cloud_data_quality_spark.compiler.dialect import bq_to_spark_sql


def test_regexp_contains():
    assert bq_to_spark_sql(
        "REGEXP_CONTAINS( CAST( value AS STRING), '^[a-z]+$' )"
    ) == "(CAST( value AS STRING) RLIKE '^[a-z]+$')"


def test_countif_safe_divide_ifnull():
    out = bq_to_spark_sql(
        "ifnull(safe_divide(countif(x in ('M','F')), count(*)), cast('inf' as float64))")
    assert out == ("coalesce(try_divide(count_if(x in ('M','F')), count(*)), "
                   "CAST('Infinity' AS DOUBLE))")


def test_parse_date():
    assert bq_to_spark_sql("parse_date('%Y%m', month_id)") == \
        "to_date(month_id, 'yyyyMM')"


def test_timestamp_sub():
    assert bq_to_spark_sql(
        "ts >= timestamp_sub(current_timestamp(), interval 24 hour)") == \
        "ts >= (current_timestamp() - INTERVAL 24 hour)"


def test_date_sub_and_trunc():
    assert bq_to_spark_sql("date_sub(current_date(), interval 7 day)") == \
        "date_sub(current_date(), 7)"
    assert bq_to_spark_sql("timestamp_trunc(ts, DAY)") == "date_trunc('DAY', ts)"


def test_int64_cast():
    assert bq_to_spark_sql("cast(x as int64)") == "cast(x as BIGINT)"


def test_unnest_from_tvf():
    assert bq_to_spark_sql(
        "exists (select 1 from unnest(items) t inner join `ds.ref` r on t.a = r.b)"
    ) == ("exists (select 1 from explode(items) AS __unnest_t(t) "
          "inner join `ds`.`ref` r on t.a = r.b)")


def test_unnest_scalar_subquery_with_as():
    assert bq_to_spark_sql(
        "(select sum(sl.x) from unnest(rec.lines) as sl) between a and b"
    ) == ("(select sum(sl.x) from explode(rec.lines) AS __unnest_sl(sl)) "
          "between a and b")


def test_unnest_comma_join_becomes_lateral_view():
    assert bq_to_spark_sql(
        "select a.* from data a, unnest(a.items) it where it.x > 0"
    ) == ("select a.* from data a lateral view explode(a.items) "
          "__unnest_it as it where it.x > 0")


def test_unnest_nested_parens_and_keyword_not_alias():
    # paren-balanced expr; `inner` after unnest() is a keyword, not an alias
    out = bq_to_spark_sql("from unnest(split(x, ',')) inner join t on 1=1")
    assert out.startswith("from explode(split(x, ',')) AS __unnest_t0(col) inner join")


def test_two_anonymous_unnests_get_distinct_aliases():
    out = bq_to_spark_sql(
        "select * from unnest(a) cross join unnest(b)")
    assert "__unnest_t0(col)" in out and "__unnest_t1(col)" in out


def test_in_unnest_becomes_array_contains():
    assert bq_to_spark_sql("x IN UNNEST(arr)") == "array_contains(arr, x)"
    assert bq_to_spark_sql("d.tag NOT IN UNNEST(r.tags)") == \
        "not array_contains(r.tags, d.tag)"
    # inside a larger predicate, and case-insensitive
    assert bq_to_spark_sql("a = 1 and `c` in unnest(split(x, ','))") == \
        "a = 1 and array_contains(split(x, ','), `c`)"


def test_in_unnest_complex_lhs_raises():
    from cloud_data_quality_spark.config.model import ConfigError
    import pytest
    with pytest.raises(ConfigError, match="IN UNNEST"):
        bq_to_spark_sql("(a + b) in unnest(arr)")


def test_in_unnest_runs_on_spark(spark):
    out = bq_to_spark_sql("select id from data_iu where id in unnest(array(1, 3))")
    spark.range(5).createOrReplaceTempView("data_iu")
    got = sorted(r["id"] for r in spark.sql(out).collect())
    assert got == [1, 3]


def test_dotted_backtick_identifier_split():
    assert bq_to_spark_sql("select * from `proj.ds.tbl`") == \
        "select * from `proj`.`ds`.`tbl`"


def test_reference_unnest_rules_are_verbatim():
    """The registry's UNNEST rule SQL must be byte-identical to the reference
    YAML — this is what 'reference configs run unchanged' means."""
    import yaml

    from cloud_data_quality_spark.plans.registry_dq import (
        REF_UNNEST_INTEGRITY_EXPR,
        REF_UNNEST_SUM_EXPR,
    )
    base = "/root/reference/docs/examples/advanced_rules"
    integ = yaml.safe_load(open(f"{base}/integrity_subquery.yaml"))
    assert REF_UNNEST_INTEGRITY_EXPR == integ["rules"][
        "NO_REFERENTIAL_INTEGRITY_VIOLATION_SUBQUERY2"]["params"][
        "custom_sql_expr"]
    comp = yaml.safe_load(open(f"{base}/correctness_complex_rule.yaml"))
    assert REF_UNNEST_SUM_EXPR == comp["rules"][
        "NO_COMPLEX_RULES_MISMATCH"]["params"]["custom_sql_expr"]


def test_user_authored_bq_functions():
    assert bq_to_spark_sql("SAFE_CAST(x AS INT64)") == "try_cast(x AS BIGINT)"
    assert bq_to_spark_sql("ARRAY_LENGTH(arr) > 0") == "size(arr) > 0"
    assert bq_to_spark_sql("STARTS_WITH(url, 'https')") == \
        "startswith(url, 'https')"
    assert bq_to_spark_sql("ENDS_WITH(url, '.html')") == \
        "endswith(url, '.html')"
    assert bq_to_spark_sql("LOGICAL_AND(ok)") == "bool_and(ok)"
    assert bq_to_spark_sql("LOGICAL_OR(ok)") == "bool_or(ok)"


def test_diff_functions_swap_args():
    # BQ TIMESTAMP_DIFF(a, b, HOUR) = a - b; Spark timestampdiff = end-start
    assert bq_to_spark_sql("TIMESTAMP_DIFF(ts_a, ts_b, HOUR)") == \
        "timestampdiff(HOUR, ts_b, ts_a)"
    assert bq_to_spark_sql("DATE_DIFF(d1, d2, DAY)") == "datediff(d1, d2)"
    assert bq_to_spark_sql("FORMAT_DATE('%Y%m', d)") == \
        "date_format(d, 'yyyyMM')"


def test_user_authored_functions_execute(spark):
    """The translations aren't just string-shaped — Spark runs them and the
    values match BQ semantics (hand-computed)."""
    row = spark.sql(bq_to_spark_sql(
        "SELECT SAFE_CAST('x' AS INT64) AS a, ARRAY_LENGTH(array(1,2)) AS b, "
        "STARTS_WITH('https://e', 'https') AS c, "
        "TIMESTAMP_DIFF(TIMESTAMP '2026-01-02 00:00:00', "
        "TIMESTAMP '2026-01-01 00:00:00', HOUR) AS d, "
        "DATE_DIFF(DATE '2026-01-05', DATE '2026-01-02', DAY) AS e, "
        "FORMAT_DATE('%Y%m', DATE '2026-03-05') AS f")).collect()[0]
    assert row["a"] is None and row["b"] == 2 and row["c"] is True
    assert row["d"] == 24 and row["e"] == 3 and row["f"] == "202603"


def test_nested_call_arguments_balanced():
    """ADVICE r3: [^,]+? argument matching mangled nested calls. The
    balanced scanner must split on top-level commas only."""
    from cloud_data_quality_spark.compiler.dialect import bq_to_spark_sql
    assert bq_to_spark_sql(
        "TIMESTAMP_DIFF(a, COALESCE(b, c), DAY)") == \
        "timestampdiff(DAY, COALESCE(b, c), a)"
    assert bq_to_spark_sql(
        "DATE_DIFF(GREATEST(d1, d2), LEAST(d1, d2), DAY)") == \
        "datediff(GREATEST(d1, d2), LEAST(d1, d2))"
    assert bq_to_spark_sql("FORMAT_DATE('%Y%m', COALESCE(d, e))") == \
        "date_format(COALESCE(d, e), 'yyyyMM')"
    # literal containing a comma must not split the args
    assert bq_to_spark_sql("REGEXP_CONTAINS(x, '^[a,b]+$')") == \
        "(x RLIKE '^[a,b]+$')"
    # nested translatable call inside an argument is rewritten too
    assert bq_to_spark_sql(
        "TIMESTAMP_TRUNC(TIMESTAMP_SUB(ts, INTERVAL 1 DAY), DAY)") == \
        "date_trunc('DAY', (ts - INTERVAL 1 DAY))"


def test_unrecognized_shape_left_untranslated():
    """Wrong arity / non-literal format → keep the BQ name (Spark will fail
    loudly) but still rewrite the arguments."""
    from cloud_data_quality_spark.compiler.dialect import bq_to_spark_sql
    assert bq_to_spark_sql("TIMESTAMP_DIFF(a, b)") == "TIMESTAMP_DIFF(a, b)"
    assert bq_to_spark_sql("FORMAT_DATE(fmt_col, d)") == \
        "FORMAT_DATE(fmt_col, d)"
    assert bq_to_spark_sql("DATE_DIFF(a, b, MONTH)") == "DATE_DIFF(a, b, MONTH)"
    assert bq_to_spark_sql("FORMAT_DATE(fmt_col, IFNULL(a, b))") == \
        "FORMAT_DATE(fmt_col, coalesce(a, b))"


def test_function_names_inside_string_literals_untouched():
    """A regex/choice literal that MENTIONS a translatable function or BQ
    type is data, not SQL — both the balanced call scanner and the
    name-only rules must skip string spans."""
    from cloud_data_quality_spark.compiler.dialect import bq_to_spark_sql
    assert bq_to_spark_sql("REGEXP_CONTAINS(x, 'DATE_TRUNC(a, b)')") == \
        "(x RLIKE 'DATE_TRUNC(a, b)')"
    assert bq_to_spark_sql("y = 'COUNTIF(z)' AND COUNTIF(v) > 0") == \
        "y = 'COUNTIF(z)' AND count_if(v) > 0"
    assert bq_to_spark_sql("label = 'FLOAT64'") == "label = 'FLOAT64'"
    assert bq_to_spark_sql(
        "TIMESTAMP_DIFF(a, b, DAY) > 0 AND note = 'TIMESTAMP_DIFF(x,y,DAY)'"
    ) == "timestampdiff(DAY, b, a) > 0 AND note = 'TIMESTAMP_DIFF(x,y,DAY)'"
