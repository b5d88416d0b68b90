"""Direct tests of the cache-lifetime scope: persist registration +
release, eager localCheckpoint tracking (blocks freed despite
``DataFrame.unpersist`` being unable to reach them), the in-function
checkpoint and cache context managers, and scoped temp directories."""

from __future__ import annotations

from pyspark.sql import functions as F

from sync_cosmos_db_spark import cache_scope as CS


def _census(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_scoped_persist_release_roundtrip(spark):
    before = _census(spark)
    df = CS.scoped_persist(spark.range(100).withColumn(
        "x", F.col("id") * 2), eager=True)
    assert _census(spark) == before + 1
    assert df.count() == 100
    CS.release_persisted()
    assert _census(spark) == before
    # persisted frames recompute from lineage after release
    assert df.count() == 100


def test_scoped_local_checkpoint_blocks_freed(spark):
    """localCheckpoint blocks bypass CacheManager, so plain
    ``DataFrame.unpersist`` cannot free them — the scope must track
    and release the JVM RDD handles directly."""
    before = _census(spark)
    out = CS.scoped_local_checkpoint(
        spark.range(100).withColumn("x", F.col("id") + 1))
    assert _census(spark) > before
    assert out.count() == 100
    CS.release_persisted()
    assert _census(spark) == before


def test_local_checkpoint_released_context(spark):
    before = _census(spark)
    with CS.local_checkpoint_released(
            spark.range(100).withColumn("x", F.col("id"))) as out:
        assert _census(spark) > before
        assert out.count() == 100
    assert _census(spark) == before


def test_release_is_idempotent_and_drains(spark):
    CS.scoped_persist(spark.range(10))
    n1 = CS.release_persisted()
    n2 = CS.release_persisted()
    assert n1 >= 1 and n2 == 0


def test_stream_query_dir_lives_until_release(spark, sf_dir):
    """A stream query's staging directory (replayed feed + merge state)
    is read by the returned frame, so it must outlive the call and go
    with the next release."""
    import glob
    import os
    import tempfile

    from sync_cosmos_db_spark.queries import get_queries

    pattern = os.path.join(tempfile.gettempdir(), "rl_stream_*")
    before = set(glob.glob(pattern))
    df = get_queries()["stream_rate_limit_hourly_batchmerge"](spark, sf_dir)
    (work,) = set(glob.glob(pattern)) - before
    assert df.count() > 0
    assert os.path.isdir(work)
    CS.release_persisted()
    assert not os.path.exists(work)


def test_cached_leaves_caller_cache_alone(spark):
    """``cached`` persists for its block and unpersists on exit, but a
    plan the caller already cached (under any handle) is left as it
    was."""
    df = spark.range(20).withColumn("x", F.col("id") * 3)
    with CS.cached(df) as held:
        assert held.is_cached
    assert not df.storageLevel.useMemory
    mine = spark.range(20).withColumn("x", F.col("id") * 3).persist()
    try:
        with CS.cached(df):
            pass
        assert mine.storageLevel.useMemory
    finally:
        mine.unpersist(blocking=True)
