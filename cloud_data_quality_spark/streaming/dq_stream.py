"""Streaming execution of the CloudDQ rule-binding contract.

The reference validates tables in scheduled batch runs; its "incremental"
is a high-watermark re-query (clouddq/lib.py:274-306). On Spark the same
rule bindings can run CONTINUOUSLY: each micro-batch of a stream is
validated with the identical compiled plan (one entity pass over the
micro-batch for all bindings — engine/runner.py semantics, byte-for-byte the
same summary contract) and the per-batch summary rows are upserted through the
engine's pluggable SummarySink, keyed by a per-batch dq_run_id
(invocation_id = "<run>-b<batch_id>"), so re-processed micro-batches
after a restart MERGE idempotently instead of double-counting — the
streaming analogue of the reference's MERGE-on-dq_run_id idempotency.

Mechanism: ``foreachBatch`` — the supported way to reuse arbitrary batch
plans (and batch-only sinks) on a stream; watermark/stateful semantics are
not needed because every rule binding's aggregation is per-batch by
design (the reference's summaries are per-run snapshots, not cross-run
windows; cross-batch state belongs to streaming/stateful.py).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame

from cloud_data_quality_spark.compiler.binding import compile_binding
from cloud_data_quality_spark.engine.runner import DqEngine
from cloud_data_quality_spark.engine.summary import summary_frame


def run_bindings_on_stream(
    engine: DqEngine,
    rule_binding_ids: list[str],
    stream_df: DataFrame,
    run_id: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """Validate every micro-batch of `stream_df` against the given rule
    bindings, writing per-batch summary rows through engine.summary_sink.

    The stream's rows stand in for each binding's entity scan (all bindings
    must target the streamed entity — heterogeneous-entity runs need one
    stream per entity). Returns the StreamingQuery; caller awaits/stops."""
    bindings = [
        compile_binding(engine.registry, rbid,
                        environment_target=engine.environment_target)
        for rbid in rule_binding_ids
    ]

    def validate_batch(batch_df: DataFrame, batch_id: int) -> None:
        execution_ts = datetime.now(timezone.utc)
        rows = engine.run_entity(
            bindings,
            invocation_id=f"{run_id}-b{batch_id}",
            execution_ts=execution_ts,
            df=batch_df,
            progress_watermark=False,  # batch boundaries ARE the progress
        )
        # batch-mode dq_run_id embeds execution_ts, which differs when a
        # restart re-processes a batch — rewrite it to the batch-stable
        # identity so re-processing MERGEs instead of double-counting,
        # while execution_ts keeps reporting the actual validation time
        for r in rows:
            r["dq_run_id"] = (f"{run_id}-b{batch_id}-"
                              f"{r['rule_binding_id']}-{r['rule_id']}")
        if rows and engine.summary_sink is not None:
            engine.summary_sink.write(
                summary_frame(batch_df.sparkSession, rows))

    writer = (stream_df.writeStream
              .foreachBatch(validate_batch)
              .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
