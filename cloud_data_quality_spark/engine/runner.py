"""DqEngine — executes compiled rule bindings and materializes the
dq_summary + dq_failed_records outputs.

Execution strategy per ENTITY (contrast with the reference, which submits one
BigQuery script per binding with one UNION-ALL branch per rule —
create_rule_binding_view.sql:86-95 — and lets BigQuery dedupe the scan):
every binding of a run that reads the same table is compiled into one SQL
text (``compile_entity``) and validated in one pass, ``run_entity``:

1. ONE scan of the entity, keeping only rows some binding selects (the OR of
   the bindings' row filters, partition guards and incremental windows is
   pushed to the parquet/Iceberg reader by Catalyst).
2. ONE projection computing each binding's row-in-binding flag and every
   row-level rule's tri-valued validity column; CUSTOM_PANDAS_BATCH rules
   are session-registered Arrow pandas UDFs called from the same SQL.
3. Counts: per binding count_if(in), and per rule count_if(valid) and
   count_if(NOT valid), all in one ``named_struct`` aggregate; the NULL
   count is the rest of the binding's rows. With a failed-records path the
   aggregate is attached to the failed-records write as an ``Observation``,
   so the write is the only job and no second pass runs; without one it is
   one ``collect``. Summary rows are built driver-side, even for zero
   selected rows, so the reference's zero_record LEFT JOIN totem
   (macros.sql:53-58) is unnecessary.
4. Failed records: the same pass explodes an array with one struct per
   failing (row, rule) pair — valid IS FALSE only, NULL validity is not a
   failure (failed_records_query.sql:108-109) — and appends it. No Exchange
   sits between the scan and the write, so the observed metrics are merged
   once per successful task.
5. CUSTOM_SQL_STATEMENT rules run per binding: the binding's rows are
   registered as the `data` temp view; each statement runs via spark.sql;
   rows returned are errors (macros.sql:90-99). The errors_count uses
   .count(), never COUNT(*) OVER () — a global window would collapse to one
   partition.

At 100 TB the dominant cost is the scan; this design reads each entity once
per run regardless of binding and rule count (statement rules aside).
"""

from __future__ import annotations

import json
import re
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cloud_data_quality_spark.compiler.binding import (
    CompiledBinding,
    CompiledRule,
    EntityQuery,
    batch_udf_name,
    compile_binding,
    compile_entity,
    sql_str,
)
from cloud_data_quality_spark.config.loader import ConfigRegistry
from cloud_data_quality_spark.config.model import RuleType
from cloud_data_quality_spark.engine.incremental import preserve_observations
from cloud_data_quality_spark.engine.summary import (
    RuleCounts,
    build_summary_row,
    summary_frame,
)
from cloud_data_quality_spark.functions.batch_registry import get_batch_function

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _aware_utc(ts: datetime) -> datetime:
    """collect() hands back tz-naive timestamps (session tz is pinned UTC);
    normalize so watermark values compare/format consistently with EPOCH."""
    return ts if ts.tzinfo else ts.replace(tzinfo=timezone.utc)


def _batch_udf(rule: CompiledRule):
    """Arrow-vectorized validity UDF for a CUSTOM_PANDAS_BATCH rule."""
    fn = get_batch_function(rule.batch_function)
    params = dict(rule.batch_params)

    @F.pandas_udf("boolean")
    def _validity(s: pd.Series) -> pd.Series:
        return fn(s, params).astype("boolean")

    return _validity


@dataclass
class RunResult:
    invocation_id: str
    summary: DataFrame
    failed_records: DataFrame | None = None
    stats: dict = field(default_factory=dict)


class DqEngine:
    def __init__(
        self,
        spark: SparkSession,
        registry: ConfigRegistry,
        summary_path: str | None = None,
        failed_records_path: str | None = None,
        table_name_vars: dict[str, str] | None = None,
        summary_sink=None,
        environment_target: str | None = None,
    ):
        self.spark = spark
        self.registry = registry
        self.summary_path = summary_path
        self.failed_records_path = failed_records_path
        self.table_name_vars = table_name_vars or {}
        # reference: per-environment entity remapping selected at run time
        # (dq_entity.py:211-257); applied wherever an entity is resolved
        self.environment_target = environment_target
        if summary_sink is None and summary_path:
            from cloud_data_quality_spark.engine.sinks import ParquetAppendSink
            summary_sink = ParquetAppendSink(summary_path)
        self.summary_sink = summary_sink
        import threading
        self._statement_lock = threading.Lock()
        self._write_lock = threading.Lock()

    # ---------- sources ----------

    def read_entity(self, binding: CompiledBinding) -> DataFrame:
        return self._read_source(binding.entity_id, binding.table_name,
                                 binding.source_format)

    def _read_source(self, entity_id: str, table_name: str,
                     fmt: str) -> DataFrame:
        name = table_name.format(**self.table_name_vars)
        if fmt == "table":
            df = self.spark.table(name)
        elif fmt == "csv":
            df = self.spark.read.csv(name, header=True, inferSchema=True)
        elif fmt == "json":
            df = self.spark.read.json(name)
        elif fmt == "orc":
            df = self.spark.read.orc(name)
        else:
            df = self.spark.read.parquet(name)
        self._validate_entity_schema(entity_id, name, df)
        return df

    def _validate_entity_schema(self, entity_id: str, name: str,
                                df: DataFrame) -> None:
        """S8 parity: declared entity columns must exist in the actual table
        (the reference hard-errors on unknown column ids,
        dq_entity.py:116-133; we additionally check declaration vs reality
        at read time — the moment a catalog fetch would happen)."""
        entity = self.registry.entities.get(entity_id)
        if entity is None or not entity.columns:
            return
        actual = {c.upper() for c in df.columns}
        missing = sorted(set(entity.columns) - actual)
        if missing:
            from cloud_data_quality_spark.config.model import ConfigError
            raise ConfigError(
                f"Entity {entity_id}: declared columns {missing} not present "
                f"in {name} (actual: {sorted(actual)})")

    def register_entity_views(self, bindings: list[CompiledBinding]) -> None:
        """Expose each configured entity that the bindings' rule or filter
        SQL names as a temp view named by its entity_id, so CUSTOM_SQL_EXPR
        rules can use IN/EXISTS subqueries against reference tables (R6 —
        integrity_reference_data.yaml shape; Spark supports these subqueries
        in DataFrame expressions natively). Entities no SQL names are not
        read: an entity the run does not use cannot fail it, and a pass's
        own entity is not read a second time for a view nothing queries."""
        sql = " ".join(
            text for b in bindings
            for text in (b.filter_sql,
                         *(r.predicate_sql or r.statement_sql or ""
                           for r in b.all_rules)))
        for entity in self.registry.entities.values():
            if not re.search(rf"\b{re.escape(entity.entity_id)}\b", sql,
                             re.IGNORECASE):
                continue
            entity = entity.for_environment(self.environment_target)
            self._read_source(entity.entity_id, entity.qualified_table_name,
                              entity.source_format) \
                .createOrReplaceTempView(entity.entity_id)

    def entity_last_modified(self, binding: CompiledBinding) -> datetime | None:
        """S4: table last-modified — the reference reads __TABLES__
        (create_rule_binding_view.sql:78-83); for file sources use the newest
        file mtime under the path, listed recursively through the Hadoop FS
        API so file://, hdfs:// and s3a:// paths resolve as the read does
        (None for a missing path); for catalog tables this would be
        Iceberg's snapshot committed_at."""
        if binding.source_format == "table":
            return None
        path = self.spark._jvm.org.apache.hadoop.fs.Path(
            binding.table_name.format(**self.table_name_vars))
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return None
        # listStatus, not listFiles: the located statuses listFiles builds
        # read each file's owner and permissions, which the local FS
        # without native Hadoop gets by running a shell per file (~10 ms)
        newest, todo = None, [path]
        while todo:
            for status in fs.listStatus(todo.pop()):
                if status.isDirectory():
                    todo.append(status.getPath())
                else:
                    mtime = status.getModificationTime()
                    newest = mtime if newest is None else max(newest, mtime)
        if newest is None:
            return None
        return datetime.fromtimestamp(newest / 1000, tz=timezone.utc)

    def publish_to_target(self, target_path: str, invocation_id: str) -> int:
        """S6: copy this invocation's summary rows to the user-facing target
        table (reference: dq_target_table_utils.py:41-106 filters by
        invocation_id + partition date and WRITE_APPENDs). Returns the number
        of rows appended, observed on the write itself: no second pass over
        the summary store."""
        summary = self.read_summary(deduped=True)
        obs = Observation()
        rows = summary.where(F.col("invocation_id") == invocation_id) \
            .observe(obs, F.count(F.lit(1)).alias("n"))
        with preserve_observations(self.spark):
            rows.write.mode("append").parquet(target_path)
            return obs.get["n"]

    # ---------- watermark (reference: clouddq/lib.py:274-306) ----------

    def high_watermarks(
        self, bindings: list[CompiledBinding],
    ) -> dict[tuple[str, str], datetime]:
        """Newest watermarked execution_ts per incremental (binding, table),
        in ONE groupBy job over the summary store for every binding of the
        run (one scalar job per binding let job-submission latency dominate
        runs with hundreds of incremental bindings). Read through the
        configured SummarySink — NOT a raw parquet path, so incremental runs
        work with every sink (MERGE INTO tables have no summary_path at all).
        A binding with no prior watermarked run maps to EPOCH, and so does
        every binding when the sink's table/path doesn't exist yet — probed
        via sink.exists(), never by catching a read failure, so a store that
        EXISTS but can't be read (corrupt state that would silently re-scan
        everything forever) propagates loudly. deduped=False: max(execution_ts)
        needs no per-run dedupe."""
        keys = {(b.rule_binding_id, b.table_name)
                for b in bindings if b.incremental_column}
        out = {k: EPOCH for k in keys}
        if not keys or self.summary_sink is None \
                or not self.summary_sink.exists(self.spark):
            return out
        summary = self.summary_sink.read(self.spark, deduped=False)
        rows = (
            summary.where(F.col("progress_watermark") == True)  # noqa: E712
            .where(F.col("rule_binding_id").isin(
                sorted({k[0] for k in keys})))
            .groupBy("rule_binding_id", "table_id")
            .agg(F.max("execution_ts").alias("hwm"))
            .collect()
        )
        for r in rows:
            k = (r["rule_binding_id"], r["table_id"])
            if k in out and r["hwm"] is not None:
                out[k] = _aware_utc(r["hwm"])
        return out

    # ---------- per-entity pass ----------

    def entity_frame(
        self,
        bindings: list[CompiledBinding],
        *,
        df: DataFrame,
        windows: list[tuple[datetime, datetime] | None] | None = None,
        invocation_id: str = "",
        execution_ts: datetime = EPOCH,
    ) -> tuple[EntityQuery, DataFrame]:
        """Compile ``bindings`` over ``df`` and analyze the pass: the query
        and its frame (source columns + __in_{b} + __v_{b}_{r}). The source
        view only lives while the SQL is analyzed; the frame keeps its plan."""
        spark = df.sparkSession
        for rule in {batch_udf_name(r): r for b in bindings
                     for r in b.batch_rules}.values():
            spark.udf.register(batch_udf_name(rule), _batch_udf(rule))
        view = f"__dq_entity_{uuid.uuid4().hex}"
        q = compile_entity(bindings, view, windows=windows,
                           invocation_id=invocation_id,
                           execution_ts=execution_ts)
        df.createOrReplaceTempView(view)
        try:
            return q, spark.sql(q.sql)
        finally:
            spark.catalog.dropTempView(view)

    def run_entity(
        self,
        bindings: list[CompiledBinding],
        *,
        invocation_id: str,
        execution_ts: datetime,
        df: DataFrame | None = None,
        progress_watermark: bool = True,
        incremental: bool = False,
        write_failed_records: bool = False,
        hwms: dict[tuple[str, str], datetime] | None = None,
    ) -> list[dict]:
        """Validate bindings that read one entity in one pass → summary-row
        dicts in binding order. ``df`` stands in for the entity scan (a
        stream's micro-batch); ``hwms``: watermarks precomputed by
        high_watermarks(), looked up here in one job when not given."""
        last_modified = None
        if df is None:
            df = self.read_entity(bindings[0])
            last_modified = self.entity_last_modified(bindings[0])
        if incremental and hwms is None:
            hwms = self.high_watermarks(bindings)
        windows = [(hwms[(b.rule_binding_id, b.table_name)], execution_ts)
                   if incremental and b.incremental_column else None
                   for b in bindings]
        q, projected = self.entity_frame(
            bindings, df=df, windows=windows, invocation_id=invocation_id,
            execution_ts=execution_ts)

        if write_failed_records and q.failed_records \
                and self.failed_records_path:
            obs = Observation()
            failed = projected.observe(obs, F.expr(q.metric).alias("m")) \
                .selectExpr(*q.failed_records)
            # concurrent appends to one path share its _temporary staging
            # dir — serialize (one write per entity group)
            with self._write_lock:
                failed.write.mode("append").parquet(self.failed_records_path)
            metric = obs.get["m"]
        else:
            metric = projected.selectExpr(f"{q.metric} AS m").collect()[0]["m"]

        rows: list[dict] = []
        for bd, (rows_validated, rule_counts), in_binding, window in zip(
                bindings, q.counts(metric), q.in_binding, windows):
            counts = [
                RuleCounts(
                    rule_id=rule.rule_id,
                    dimension=rule.dimension,
                    skip_null_count=rule.skip_null_count,
                    is_statement=False,
                    column_id=rule.column_id,
                    success=s, failed=f, null=n,
                    failed_records_query=self._failed_records_sql(bd, rule),
                )
                for rule, (s, f, n) in zip(bd.row_rules, rule_counts)
            ]
            counts += self._statement_counts(
                bd, df, in_binding, invocation_id=invocation_id,
                window=window)
            metadata_json = json.dumps(bd.metadata, sort_keys=True)
            rows += [
                build_summary_row(
                    counts=c,
                    rows_validated=rows_validated,
                    rule_binding_id=bd.rule_binding_id,
                    table_id=bd.table_name,
                    metadata_json=metadata_json,
                    configs_hashsum=bd.configs_hashsum,
                    execution_ts=execution_ts,
                    invocation_id=invocation_id,
                    progress_watermark=progress_watermark,
                    last_modified=last_modified,
                )
                for c in counts
            ]
        return rows

    def run_binding(self, binding: CompiledBinding, **kwargs) -> list[dict]:
        """One binding as an entity group of one (see run_entity)."""
        return self.run_entity([binding], **kwargs)

    def _statement_counts(self, binding: CompiledBinding, df: DataFrame,
                          in_binding: str, *, invocation_id: str,
                          window: tuple[datetime, datetime] | None
                          ) -> list[RuleCounts]:
        """Set-level rules over the `data` view. The view name is fixed by
        the statement contract ("from data"), a session-global — serialize
        register+run when entity groups execute on concurrent driver
        threads (run(max_concurrency > 1))."""
        if not binding.statement_rules:
            return []
        hwm, current_ts = window or (None, None)
        out = []
        with self._statement_lock:
            df.where(in_binding).createOrReplaceTempView("data")
            for rule in binding.statement_rules:
                errors = df.sparkSession.sql(rule.statement_sql).count()
                out.append(RuleCounts(
                    rule_id=rule.rule_id,
                    dimension=rule.dimension,
                    skip_null_count=True,
                    is_statement=True,
                    column_id=None,
                    errors_count=int(errors),
                    failed_records_query=self._statement_failed_records_sql(
                        binding, rule, invocation_id,
                        high_watermark=hwm, current_ts=current_ts),
                ))
        return out

    def _failed_records_sql(self, binding: CompiledBinding, rule: CompiledRule) -> str:
        """Human-runnable Spark SQL selecting this rule's failing rows — the
        reference stores an equivalent BigQuery string per summary row
        (failed_records_query.sql:36-116, which filters row_is_valid IS
        FALSE). Per-rule-type failure predicate: a NOT_NULL rule fails on
        NULL rows, so conjoining `col IS NOT NULL AND NOT (col IS NOT NULL)`
        would be a contradiction returning 0 rows; every other simple rule's
        tri-valued validity is FALSE only on non-NULL rows."""
        ref = ", ".join(binding.reference_columns) or binding.column_id
        if rule.rule_type == RuleType.NOT_NULL:
            fail = f"{binding.column_id} IS NULL"
        elif rule.predicate_sql is None:
            # CUSTOM_PANDAS_BATCH validity is computed in an Arrow stage —
            # not SQL-expressible, so the stored query says so explicitly
            # and returns zero rows rather than pretending (the actual
            # failing rows are in the dq_failed_records output, keyed by
            # _dq_validation_rule_id)
            fail = (f"FALSE /* {rule.batch_function}: Arrow batch rule; "
                    f"query dq_failed_records for failing rows */")
        else:
            fail = (f"{binding.column_id} IS NOT NULL "
                    f"AND NOT ({rule.predicate_sql})")
        return (
            f"SELECT {ref}, {binding.column_id} AS column_value "
            f"FROM {self._table_ref(binding)} data "
            f"WHERE ({binding.filter_sql}) AND {fail}"
        )

    def _table_ref(self, binding: CompiledBinding) -> str:
        """SQL table reference that spark.sql can run AS-IS: catalog tables
        by name, file sources via Spark's direct-file syntax
        (`parquet.`/path``) — so stored failed_records queries are
        ready-to-run, not rewrite-before-use."""
        name = binding.table_name.format(**self.table_name_vars)
        if binding.source_format == "table":
            return name
        return f"{binding.source_format}.`{name}`"

    def _statement_failed_records_sql(self, binding: CompiledBinding,
                                      rule: CompiledRule,
                                      invocation_id: str,
                                      high_watermark: datetime | None = None,
                                      current_ts: datetime | None = None) -> str:
        """Ready-to-run triage query for a CUSTOM_SQL_STATEMENT rule,
        matching the reference's failed-records contract
        (failed_records_query.sql:36-116 and
        validate_complex_rule_failed_records_query, macros.sql:145-180):
        the `data` CTE is the binding's filtered scan, each of the
        statement's error rows comes back with the `_dq_validation_*`
        column set, the error payload is echoed as
        custom_sql_statement_validation_errors, and the query returns ZERO
        rows when the rule passes (the reference reaches the same end by
        filtering `_dq_validation_complex_rule_validation_success_flag IS
        FALSE`). errors_count is attached via a counted CTE cross join
        rather than the reference's `COUNT(*) OVER ()` — identical values
        without a one-partition global window."""
        dim = (sql_str(rule.dimension) if rule.dimension
               else "CAST(NULL AS STRING)")
        stmt = "\n".join("  " + line for line in
                         rule.statement_sql.strip().splitlines())
        # incremental runs reproduce the run's watermark window in the data
        # CTE (reference failed_records_query.sql:48-58 interpolates
        # high_watermark_value/current_timestamp_value the same way)
        where = f"({binding.filter_sql})"
        if high_watermark is not None and binding.incremental_column:
            hi = current_ts or datetime.now(timezone.utc)
            where += (
                f" AND CAST({binding.incremental_column} AS TIMESTAMP) "
                f"BETWEEN CAST('{high_watermark.isoformat()}' AS TIMESTAMP) "
                f"AND CAST('{hi.isoformat()}' AS TIMESTAMP)")
        # the `src` alias is load-bearing: without it Spark's parser reads
        # `...parquet.`path` WHERE (True)` as table alias WHERE with a
        # column-alias list (True) → ASSIGNMENT_ARITY_MISMATCH
        return (
            f"WITH data AS (\n"
            f"  SELECT * FROM {self._table_ref(binding)} src "
            f"WHERE {where}\n"
            f"),\n"
            f"validation_errors AS (\n{stmt}\n"
            f"),\n"
            f"errs AS (SELECT COUNT(*) AS n FROM validation_errors)\n"
            f"SELECT\n"
            f"  {sql_str(invocation_id)} AS _dq_validation_invocation_id,\n"
            f"  {sql_str(binding.rule_binding_id)} "
            f"AS _dq_validation_rule_binding_id,\n"
            f"  {sql_str(rule.rule_id)} AS _dq_validation_rule_id,\n"
            f"  CAST(NULL AS STRING) AS _dq_validation_column_id,\n"
            f"  CAST(NULL AS STRING) AS _dq_validation_column_value,\n"
            f"  CAST({dim} AS STRING) AS _dq_validation_dimension,\n"
            f"  CAST(NULL AS BOOLEAN) AS _dq_validation_simple_rule_row_is_valid,\n"
            f"  errs.n AS _dq_validation_complex_rule_validation_errors_count,\n"
            f"  (errs.n = 0) AS _dq_validation_complex_rule_validation_success_flag,\n"
            f"  to_json(struct(e.*)) AS custom_sql_statement_validation_errors\n"
            f"FROM validation_errors e CROSS JOIN errs\n"
            f"ORDER BY _dq_validation_rule_id"
        )

    # ---------- whole-run orchestration ----------

    def run(
        self,
        rule_binding_ids: list[str],
        *,
        incremental: bool = False,
        write_failed_records: bool = False,
        progress_watermark: bool = True,
        execution_ts: datetime | None = None,
        invocation_id: str | None = None,
        write_summary: bool = True,
        max_concurrency: int = 1,
    ) -> RunResult:
        """max_concurrency > 1 runs entity GROUPS on a thread pool — Spark
        schedules jobs from multiple driver threads natively, so a 50-binding
        run over small entities keeps the cluster busy instead of idling it
        between sequential scalar-sized jobs. The `data` temp view (shared
        session name) and failed-records appends (shared output directory,
        one _temporary staging dir per path) are serialized by locks; summary
        rows keep deterministic order (results collected in group order)."""
        execution_ts = execution_ts or datetime.now(timezone.utc)
        invocation_id = invocation_id or uuid.uuid4().hex
        groups = self._entity_groups(rule_binding_ids)
        all_bindings = [b for g in groups for b in g]
        self.register_entity_views(all_bindings)
        rows: list[dict] = []
        hwms = self.high_watermarks(all_bindings) if incremental else {}

        def run_group(bindings: list[CompiledBinding]) -> list[dict]:
            return self.run_entity(
                bindings,
                invocation_id=invocation_id,
                execution_ts=execution_ts,
                progress_watermark=progress_watermark,
                incremental=incremental,
                write_failed_records=write_failed_records,
                hwms=hwms,
            )

        if max_concurrency > 1 and len(groups) > 1:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
                for group_rows in pool.map(run_group, groups):
                    rows.extend(group_rows)
        else:
            for bindings in groups:
                rows.extend(run_group(bindings))
        summary = summary_frame(self.spark, rows)
        if write_summary and self.summary_sink is not None:
            self.summary_sink.write(summary)
        return RunResult(invocation_id=invocation_id, summary=summary,
                         stats={"bindings": len(rule_binding_ids),
                                "summary_rows": len(rows)})

    def dry_run(self, rule_binding_ids: list[str]) -> list[dict]:
        """Validate-only mode, the reference's default posture (main.py:
        146-151 dry-runs every generated script through BigQuery's dry-run
        API before executing anything): compile every binding, resolve its
        entity + declared-vs-actual schema, ANALYZE each entity's pass once
        — every rule expression — and each statement against the `data`
        view, but execute nothing. No jobs run, no summary/failed-records
        output is written. Returns one dict per binding (grouped by entity,
        as run() orders its summary rows) with what WOULD run; config or
        analysis errors raise exactly as a real run would."""
        groups = self._entity_groups(rule_binding_ids)
        self.register_entity_views([b for g in groups for b in g])
        out: list[dict] = []
        for bindings in groups:
            df = self.read_entity(bindings[0])  # declared-schema check here
            q, projected = self.entity_frame(bindings, df=df)
            plan_head = projected._jdf.queryExecution() \
                .simpleString().splitlines()[0]
            for binding, in_binding in zip(bindings, q.in_binding):
                statement_ok: list[str] = []
                if binding.statement_rules:
                    with self._statement_lock:
                        df.where(in_binding).createOrReplaceTempView("data")
                        for rule in binding.statement_rules:
                            _ = self.spark.sql(rule.statement_sql).schema
                            statement_ok.append(rule.rule_id)
                out.append({
                    "rule_binding_id": binding.rule_binding_id,
                    "table": binding.table_name.format(**self.table_name_vars),
                    "filter": binding.filter_sql,
                    "column_id": binding.column_id,
                    "row_rules": [r.rule_id for r in binding.row_rules],
                    "statement_rules": statement_ok,
                    "physical_plan_head": plan_head,
                })
        return out

    def _entity_groups(self, rule_binding_ids: list[str]
                       ) -> list[list[CompiledBinding]]:
        """Compiled bindings grouped by the table they read, in first-seen
        order: each group is validated in one pass."""
        by_entity: dict[tuple[str, str], list[CompiledBinding]] = {}
        for rbid in rule_binding_ids:
            b = compile_binding(self.registry, rbid,
                                environment_target=self.environment_target)
            by_entity.setdefault((b.table_name, b.source_format), []).append(b)
        return list(by_entity.values())

    def read_summary(self, deduped: bool = True) -> DataFrame:
        """Read the metrics table through the configured sink. With
        deduped=True the result has one logical row per dq_run_id — the
        reference's incremental-MERGE contract (dq_summary.sql:15-26) —
        whether the sink achieves that physically (MERGE INTO / compaction)
        or on read (append sink)."""
        return self.summary_sink.read(self.spark, deduped=deduped)
