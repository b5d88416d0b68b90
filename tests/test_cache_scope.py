"""Direct tests of the cache-lifetime scope (round-8 verdict item 2):
persist registration + release, already-persisted registration, eager
localCheckpoint tracking (blocks freed despite ``DataFrame.unpersist``
being unable to reach them), and the in-function checkpoint context
manager."""

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


def test_register_persisted_release(spark):
    before = _census(spark)
    df = spark.range(50).persist()
    df.count()
    CS.register_persisted(df)
    assert _census(spark) == before + 1
    CS.release_persisted()
    assert _census(spark) == before


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
