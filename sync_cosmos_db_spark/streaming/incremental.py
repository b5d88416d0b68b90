"""Incremental (resumable) migration: Structured Streaming + foreachBatch.

The reference resumes interrupted scans with Cosmos continuation tokens
(``/root/reference/src/migration.py:83-90, 152-154``) — client-side
cursor state, one page at a time. The Spark-native equivalent is a
streaming source + checkpoint: the checkpoint directory records which
source files (or, with the Cosmos connector, which change-feed
continuations) each committed micro-batch consumed, so a restarted job
continues exactly where it stopped, with exactly-once batch semantics.

Each micro-batch runs the SAME set-at-a-time classify kernel and merge
rule as the batch path (``migration.classify_actions`` and
``migration.merge_target_state``) inside ``foreachBatch``.

Merge without a full-target rewrite: the target is hive-partitioned by
a stable key bucket ``__kb = pmod(xxhash64(keys), n_buckets)``. A
micro-batch (1) computes the distinct buckets its keys touch, (2)
reads ONLY those partitions of the target (partition pruning on
``__kb``), (3) classifies and merges within them, and (4) writes back
with dynamic partition overwrite — Spark's committer replaces exactly
the partitions present in the batch output. Untouched partitions'
files are never read, rewritten, or renamed; per-batch work is
O(|batch| + |touched buckets|), not O(|target|).

100 TB posture: ``n_buckets`` sizes the unit of rewrite — pick it so a
bucket (~|target|/n_buckets) is a few GB. The same structure upgrades
transparently to a table format with row-level MERGE (Delta/Iceberg)
or to connector upsert (``spark.cosmos.write.strategy=ItemOverwrite``);
this module is the plain-parquet harness path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.migration import (
    classify_actions,
    merge_target_state,
)
from sync_cosmos_db_spark.sources import catalog
from sync_cosmos_db_spark.streaming.windows import run_foreach_batch

BUCKET_COL = "__kb"


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API, not
    ``os.path`` — the target may live on HDFS/S3/ABFS where driver-local
    filesystem probes are meaningless."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def key_bucket(keys: list[str], n_buckets: int) -> "F.Column":
    """Stable bucket id for a key tuple: pmod(xxhash64(keys), n)."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]),
                  F.lit(n_buckets)).cast("int")


def apply_batch_merge(spark: SparkSession, batch_df: DataFrame,
                      target_path: str, keys: list[str],
                      n_buckets: int = 64,
                      reliable_checkpoint_dir: str | None = None) -> None:
    """Classify one micro-batch against the touched target partitions
    and overwrite ONLY those partitions (dynamic partition overwrite).

    ``reliable_checkpoint_dir``: when set, the pre-overwrite state is
    materialized with a RELIABLE checkpoint to that directory
    (HDFS/S3/ABFS path on a cluster) instead of executor-local blocks,
    so an executor loss mid-overwrite cannot lose the materialized
    state.  Default stays ``localCheckpoint`` — right for the single-JVM
    harness, where the blocks' executor IS the driver."""
    bucketed = batch_df.withColumn(BUCKET_COL, key_bucket(keys, n_buckets))

    if not _path_exists(spark, target_path):
        # bootstrap: no target yet — every batch row is an insert
        bucketed.write.partitionBy(BUCKET_COL).parquet(target_path)
        return

    # ONE pass over the micro-batch source: the touched-bucket collect,
    # the classify join and the merge's anti-join each consume the
    # batch plan, and a change-feed batch source is a fresh file scan
    # every time.  The batch is micro-batch-sized by construction, so
    # caching it for the merge window is cheap at any target scale.
    # The TARGET side is deliberately NOT cached: the classify join
    # reduces it to (key, content hash) rows, so two partition-pruned
    # parquet scans of the touched buckets beat materializing
    # bucket-sized rows.
    bucketed = bucketed.persist()
    try:
        touched = sorted(r[0] for r in
                         bucketed.select(BUCKET_COL).distinct().collect())
        # partition-pruned read of only the touched bucket directories,
        # with the footer schema (no inference job; Spark still
        # discovers the __kb partition column from the paths)
        tgt = (catalog.read_parquet(spark, target_path)
               .filter(F.col(BUCKET_COL).isin(touched))
               .drop(BUCKET_COL))

        batch = bucketed.drop(BUCKET_COL)
        new_state = merge_target_state(classify_actions(batch, tgt, keys),
                                       batch, tgt, keys)
        _write_new_state(spark, new_state, keys, n_buckets, target_path,
                         reliable_checkpoint_dir)
    finally:
        bucketed.unpersist()


def _write_new_state(spark: SparkSession, new_state: DataFrame,
                     keys: list[str], n_buckets: int, target_path: str,
                     reliable_checkpoint_dir: str | None) -> None:
    """Checkpoint the merged state and dynamic-partition-overwrite the
    touched buckets (the write tail of :func:`apply_batch_merge`)."""
    # The new state still reads the old target files; a checkpoint
    # materializes it (breaking file lineage) so the overwrite below can
    # safely delete the partitions it replaces. Scope: touched buckets
    # only — a few GB each by n_buckets sizing, not the whole target.
    # localCheckpoint blocks live on executors, so an executor loss
    # mid-overwrite aborts the batch (retried by the stream from the
    # checkpoint); pass reliable_checkpoint_dir on clusters for
    # fault-tolerant materialization, or upgrade to the Delta/Iceberg
    # row-level MERGE path described in the module docstring.
    staged = new_state.withColumn(BUCKET_COL, key_bucket(keys, n_buckets))
    if reliable_checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(reliable_checkpoint_dir)
        out = staged.checkpoint(eager=True)
        (out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(target_path))
    else:
        # the checkpoint blocks are dead once the overwrite lands —
        # free them here instead of pinning executor storage for the
        # rest of the stream
        from sync_cosmos_db_spark.cache_scope import (
            local_checkpoint_released,
        )

        with local_checkpoint_released(staged) as out:
            (out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BUCKET_COL)
                .parquet(target_path))


def incremental_migrate(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    keys: list[str],
    schema: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    reliable_checkpoint_dir: str | None = None,
) -> None:
    """Run one availableNow pass over unprocessed source files and merge
    them into the target. Re-invoking with the same ``checkpoint_dir``
    processes ONLY files added since the last committed batch — the
    continuation-token semantics of the reference, held durably by the
    streaming checkpoint instead of in-process cursor state.
    ``reliable_checkpoint_dir`` is forwarded to every batch merge (see
    :func:`apply_batch_merge`)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_batch_merge(batch_df.sparkSession, batch_df, target_path,
                          keys, n_buckets=n_buckets,
                          reliable_checkpoint_dir=reliable_checkpoint_dir)

    run_foreach_batch(stream, process, checkpoint_dir)
