"""Training-output shard writer: size-bounded, order-preserving parquet
shards + a manifest, resumable at shard granularity.

This is the step a 100-TB pipeline actually ships to the trainer: the
curated corpus in a deterministic global order (selection.global_enumerate
/ corpus_shuffle_positions), cut into fixed-document shards, one file per
shard, with a manifest row per shard (row span, count, bytes, content
checksum) so the training loader can seek, verify, and resume without
listing or reading data files.

Reference basis: CloudDQ materializes per-run summary outputs keyed by an
idempotent run id (clouddq/lib.py:274-306); this generalizes that contract
to the corpus itself — the shard id is the idempotency key, the manifest
is the commit log.

Scale shape: ONE hash shuffle on shard_id (docs_per_shard controls the
output granularity, not a driver loop), in-partition sort restores the
global order inside each shard, and `partitionBy("shard_id")` under
DYNAMIC partition overwrite makes a retried write replace exactly the
shards it re-writes — a half-written shard from a crashed run is healed,
committed shards are never touched (they are filtered out BEFORE the
shuffle, so resume prunes compute, not just I/O). The manifest append
happens strictly AFTER the data write: a crash between the two leaves
orphan shard files that the next run overwrites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cloud_data_quality_spark.engine.incremental import preserve_observations
from cloud_data_quality_spark.engine.sinks import _hadoop_path_exists

#: 60-bit md5 prefix — fits a BIGINT exactly, replayable in DuckDB as
#: ('0x' || substr(md5(x), 1, 15))::BIGINT (see oracle_fragments)
_MD5_BITS = 15

MANIFEST_SCHEMA = ("shard_id bigint, n_rows bigint, pos_min bigint, "
                   "pos_max bigint, checksum bigint, bytes bigint")


def _row_hash(position_col: str, id_col: str, text_col: str):
    """60-bit content hash of one (position, id, text) row. Explicit
    concat (NOT concat_ws, which silently skips NULL operands and would
    hash distinct rows identically); NULL text is distinguished from ''
    by a literal sentinel."""
    payload = F.concat(
        F.col(position_col).cast("string"), F.lit(":"),
        F.col(id_col).cast("string"), F.lit(":"),
        F.coalesce(F.col(text_col), F.lit("\u0000NULL")))
    return F.conv(F.substring(F.md5(payload), 1, _MD5_BITS), 16, 10) \
        .cast("bigint")


def shard_manifest_frame(
    df: DataFrame,
    docs_per_shard: int,
    position_col: str = "position",
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """The manifest's deterministic columns derived purely from the data
    (no filesystem state): shard id, row count, position span, and a
    bit_xor content checksum — XOR is order-insensitive and overflow-free,
    and each row's hash binds its POSITION, so a shard with the right row
    set in the wrong order still fails verification downstream. This is
    the oracle-replayable core of write_shards' manifest."""
    if docs_per_shard <= 0:
        raise ValueError(f"docs_per_shard must be > 0, got {docs_per_shard}")
    # `div` = exact integer division (no float round-trip)
    shard = F.expr(f"({position_col} - 1) div {docs_per_shard}") \
        .cast("bigint").alias("shard_id")
    return (df.select(shard, F.col(position_col),
                      _row_hash(position_col, id_col, text_col).alias("__h"))
            .groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min(position_col).alias("pos_min"),
                 F.max(position_col).alias("pos_max"),
                 F.bit_xor("__h").alias("checksum")))


def _shard_bytes(spark: SparkSession, data_dir: str) -> dict[int, int]:
    """Total parquet bytes per shard directory (Hadoop FS, so file://,
    hdfs://, s3a:// all work). One driver-side listing of shard dirs —
    bounded by shard count, never data."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(data_dir)
    fs = root.getFileSystem(conf)
    out: dict[int, int] = {}
    if not fs.exists(root):
        return out
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("shard_id="):
            continue
        sid = int(name.split("=", 1)[1])
        total = 0
        for f_st in fs.listStatus(st.getPath()):
            if f_st.getPath().getName().endswith(".parquet"):
                total += f_st.getLen()
        out[sid] = total
    return out


def write_shards(
    df: DataFrame,
    output_dir: str,
    docs_per_shard: int,
    position_col: str = "position",
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Write `df` (which must carry a 1-based, gap-free, unique
    `position_col` — the global_enumerate contract) as order-preserving
    parquet shards of `docs_per_shard` documents under
    `{output_dir}/data/shard_id=K/`, plus one manifest row per shard in
    `{output_dir}/manifest`. Returns the full manifest DataFrame.

    Resume: shards already present in the manifest are anti-joined out
    before the shuffle and their files are never rewritten — a killed run
    reissued with the same arguments completes only the missing shards.
    Re-running a complete set is a no-op that returns the manifest.
    """
    output_dir = output_dir.rstrip("/")
    data_dir = f"{output_dir}/data"
    manifest_dir = f"{output_dir}/manifest"
    spark = df.sparkSession

    # committed shards leave by a broadcast left-anti join against the
    # manifest — no driver-side id list, and still before the shuffle
    committed = None
    if _hadoop_path_exists(spark, manifest_dir):
        committed = F.broadcast(
            spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
            .select(F.col("shard_id").alias("__done")))

    def uncommitted(frame: DataFrame) -> DataFrame:
        if committed is None:
            return frame
        return frame.join(committed, F.col("shard_id") == F.col("__done"),
                          "left_anti")

    shard = F.expr(f"({position_col} - 1) div {docs_per_shard}") \
        .cast("bigint")
    pending = uncommitted(df.withColumn("shard_id", shard))
    # one task per shard hash bucket; partitionBy splits a task's rows by
    # shard value, so each shard lands in exactly one file, rows in
    # position order. Dynamic overwrite replaces exactly the re-written
    # shard directories (a crashed run's partial shard heals here).
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    # the write's own row count says whether any shard is new: pending and
    # the manifest rows below leave by the same anti join, so no rows
    # written means no manifest rows — and the manifest aggregate runs once
    written = Observation()
    with preserve_observations(spark):
        (pending.observe(written, F.count(F.lit(1)).alias("n"))
         .repartition(n_parts, "shard_id")
         .sortWithinPartitions("shard_id", position_col)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("shard_id")
         .parquet(data_dir))

    new_rows = uncommitted(shard_manifest_frame(
        df, docs_per_shard, position_col, id_col, text_col))
    sizes = _shard_bytes(spark, data_dir)
    size_map = F.create_map(
        *[F.lit(x) for kv in sizes.items() for x in kv]) \
        if sizes else F.create_map()
    manifest_update = new_rows.withColumn(
        "bytes", F.coalesce(size_map[F.col("shard_id")], F.lit(0))
        .cast("bigint"))
    if written.get["n"] > 0:
        manifest_update.write.mode("append").parquet(manifest_dir)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
