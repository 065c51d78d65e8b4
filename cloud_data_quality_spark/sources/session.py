"""SparkSession factory with the scale-oriented defaults this engine assumes.

Settings rationale (tested at local[N]; designed for a 1000-executor cluster):
* AQE on + coalescePartitions + skewJoin: runtime re-planning replaces
  hand-tuned shuffle-partition counts and absorbs url-host skew in joins.
* shuffle.partitions defaults to cores locally; on a real cluster set it
  ≈ 2-3× total executor cores (AQE coalesces down).
* Arrow enabled + bounded maxRecordsPerBatch: the web-text batch stages move
  large `text`/`html` values; unbounded batches OOM the Python workers.
* session timezone pinned UTC so timestamp semantics match the DuckDB oracle
  and are cluster-locale-independent.

``local_frame`` is the package's one way to turn driver-held rows into a
DataFrame: a plan the JVM builds alone, with no Python worker.
"""

from __future__ import annotations

import json
import os
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def get_spark(
    app_name: str = "cloud_data_quality_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    arrow_batch_rows = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH",
                                          arrow_batch_rows))
    b = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# field types a JSON literal carries exactly (TimestampType travels as
# epoch micros, see local_frame)
_JSON_TYPES = (T.StringType, T.BooleanType, T.ByteType, T.ShortType,
               T.IntegerType, T.LongType, T.FloatType, T.DoubleType)


def local_frame(spark: SparkSession, rows: Sequence[Sequence[Any]],
                schema: T.StructType) -> DataFrame:
    """Driver-held ``rows`` (tuples in ``schema`` field order; a tuple of
    another length raises ValueError) as a one-partition DataFrame built in
    the JVM. The rows travel as ONE JSON string literal, parsed by
    ``from_json`` (FAILFAST: a value that does not fit its field raises
    instead of turning NULL) and ``inline``d over a one-row, one-partition
    ``range``. ``createDataFrame`` over a Python list is backed by a Python
    RDD, so every job that reads it starts Python workers; this plan needs
    none, and one literal instead of one Column per value keeps plan
    construction flat in the number of rows.

    TimestampType fields travel as epoch micros (``TimestampType.toInternal``,
    the naive/aware rule ``F.lit`` and ``createDataFrame`` apply) and come
    back through ``timestamp_micros``, so microseconds stay exact. Non-empty
    rows need a flat schema of JSON-representable types; any other field
    type raises TypeError. An empty ``rows`` gives a zero-row frame of typed
    NULL literals over ``range(0)``, for any schema."""
    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema])
    stamps = [isinstance(f.dataType, T.TimestampType) for f in schema]
    wire = []
    for f, stamp in zip(schema, stamps):
        if not stamp and not isinstance(f.dataType, _JSON_TYPES):
            raise TypeError(f"local_frame: field {f.name!r} has type "
                            f"{f.dataType.simpleString()}, which a JSON "
                            "literal does not carry")
        wire.append(T.StructField(f.name, T.LongType() if stamp
                                  else f.dataType))
    to_micros = T.TimestampType().toInternal
    payload = json.dumps([
        {f.name: to_micros(v) if stamp else v
         for f, stamp, v in zip(schema, stamps, row, strict=True)}
        for row in rows])
    parsed = spark.range(0, 1, 1, 1).select(F.inline(F.from_json(
        F.lit(payload), T.ArrayType(T.StructType(wire)),
        {"mode": "FAILFAST"})))
    return parsed.select(*[
        F.timestamp_micros(parsed[i]).alias(f.name) if stamp else parsed[i]
        for i, (f, stamp) in enumerate(zip(schema, stamps))])
