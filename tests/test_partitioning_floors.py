"""Round-13 partitioning-floor regressions (r12 verdict item 2 +
ADVICE r12): every blocked-pair operator that multiplies pairs out of
byte-small inputs must (a) materialize AND score those pairs at >=
cluster parallelism, never at AQE's input-byte-coalesced count, and
(b) never DOWN-partition an already-wide stream to core count.  These
pin the fixes in ``linkage.jaro_winkler_join``,
``dedup.embedding_dup_pairs`` (blocked branch) and ``partitioning.spread``
so a refactor that drops a repartition fails CI, not the cluster.

``.rdd.getNumPartitions()`` on the operator output finalizes the AQE
plan (executing upstream stages) and reports the FINAL stage's
partition count — exactly the stage that runs the Python scorer in
both pair operators (mapInPandas is the plan tail)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sync_cosmos_db_spark.session import load_table


def test_jw_scoring_stage_meets_parallelism_floor(spark, sf_dir):
    from sync_cosmos_db_spark.operators.linkage import jaro_winkler_join

    cust = load_table(spark, sf_dir, "customer")
    out = jaro_winkler_join(cust, "c_custkey", "c_name",
                            ["c_nationkey"], threshold=0.9)
    dp = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= dp


def test_blocked_embedding_scoring_stage_meets_floor(spark, sf_dir):
    from sync_cosmos_db_spark.operators.dedup import embedding_dup_pairs

    emb = (load_table(spark, sf_dir, "embeddings")
           .withColumn("blk", (F.col("vec_id") % 4).cast("int"))
           .withColumn("embedding",
                       F.transform("embedding",
                                   lambda x: x.cast("double"))))
    out = embedding_dup_pairs(emb, "vec_id", "embedding",
                              threshold=0.99, block_col="blk")
    dp = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= dp


def test_spread_floor_never_downpartitions(spark):
    from sync_cosmos_db_spark.operators.partitioning import spread

    dp = spark.sparkContext.defaultParallelism
    # a derived (non-file) frame wider than the target must pass
    # through untouched — inputFiles() returns [] for it, which used
    # to trigger an unconditional down-repartition
    wide = spark.range(0, 10000).repartition(dp * 4)
    assert spread(wide).rdd.getNumPartitions() == dp * 4
    # a narrow frame (file-backed or not) must widen to the floor
    narrow = spark.range(0, 1000).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() >= dp


# ---------------------------------------------------------------------------
# Opt-in sf0.5-notch variants (r13 verdict item 6): the same floors,
# asserted structurally at the 5x slice where the r13 traps actually
# appeared (AQE coalescing is size-dependent, so a small-SF green does
# not prove the large-slice plan).  Gated like the sf0.1 sweep —
# generate the slice with tools/sf05_upsample.py, then run with
# SPARK_GRAFT_SF05_NOTCH=1.
# ---------------------------------------------------------------------------

_NOTCH = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SF05_NOTCH") != "1"
    or not os.path.isdir("/tmp/sf0.5blocks"),
    reason="sf0.5 notch floors are opt-in: build /tmp/sf0.5* with "
           "tools/sf05_upsample.py and set SPARK_GRAFT_SF05_NOTCH=1")


@_NOTCH
def test_notch_jw_scoring_stage_meets_floor(spark):
    """The r13 trap: JW's pair-MATERIALIZING join was AQE-coalesced to
    ONE task at the 5x slice (byte-small inputs, 112M-pair output).
    The co-partitioning fix must keep the plan tail — the Python
    scoring stage, which inherits the materialization's partitioning —
    at >= cluster parallelism on the shifted-blocks slice."""
    from sync_cosmos_db_spark.operators.linkage import jaro_winkler_join

    cust = load_table(spark, "/tmp/sf0.5blocks", "customer")
    out = jaro_winkler_join(cust, "c_custkey", "c_name",
                            ["c_nationkey"], threshold=0.962)
    dp = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= dp


@_NOTCH
def test_notch_dhash_python_stages_meet_floor(spark):
    """The other r13 trap: the dhash pipeline's two mapInPandas stages
    inherited the compact documents scan's 1-2 partitions (13.1 s on
    1 of 32 tasks).  spread() must widen the scan to >= parallelism at
    the 5x slice; the Python stages are narrow, so pinning their input
    partitioning pins them."""
    from sync_cosmos_db_spark.operators.partitioning import spread

    docs = spread(
        load_table(spark, "/tmp/sf0.5", "documents").select(
            F.col("doc_id").alias("asset_id"),
            (F.col("doc_id") % 40).alias("seed")),
        ["asset_id"])
    dp = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() >= dp


def test_spread_few_large_files_not_downpartitioned(spark, tmp_path):
    """ADVICE r13: a FILE-BACKED frame with FEW files but MANY splits
    (the 100 TB shape — a handful of huge splittable parquet files)
    must not be down-partitioned.  The old few-files short-circuit
    repartitioned on file count < parallelism even when the scan
    already split wider than the target; the decision is now made
    solely on the measured split count."""
    from sync_cosmos_db_spark.operators.partitioning import spread

    dp = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_big_file")
    spark.range(0, 200_000).selectExpr(
        "id", "repeat(uuid(), 8) AS pad").coalesce(1).write.parquet(path)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        df = spark.read.parquet(path)
        assert len(df.inputFiles()) < dp          # few files...
        n = df.rdd.getNumPartitions()
        assert n > dp                              # ...but many splits
        assert spread(df).rdd.getNumPartitions() == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
