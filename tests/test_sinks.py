"""Sink utilities: partitioned layout enables partition pruning;
compaction reduces file counts without changing data."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from sync_cosmos_db_spark.session import load_table
from sync_cosmos_db_spark.sinks import compact_parquet, write_partitioned


def test_write_partitioned_prunes(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "by_lang")
    write_partitioned(docs, out, ["lang"])
    langs = {d.split("=")[1] for d in os.listdir(out) if d.startswith("lang=")}
    assert langs == {r.lang for r in docs.select("lang").distinct().collect()}
    # a lang-filtered read must scan only that partition's directory
    one = spark.read.parquet(out).filter(F.col("lang") == sorted(langs)[0])
    plan = spark._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_compact_parquet_preserves_data(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "frag.parquet")
    docs.repartition(16).write.parquet(out)  # deliberately fragmented
    before = len(glob.glob(os.path.join(out, "*.parquet")))
    checksum_before = docs.agg(
        F.expr("bit_xor(xxhash64(doc_id, text, lang, source, n_chars))")
    ).collect()[0][0]
    n = compact_parquet(spark, out, target_file_mb=256)
    after = len(glob.glob(os.path.join(out, "*.parquet")))
    got = spark.read.parquet(out)
    checksum_after = got.agg(
        F.expr("bit_xor(xxhash64(doc_id, text, lang, source, n_chars))")
    ).collect()[0][0]
    assert after == n < before
    assert checksum_before == checksum_after


def test_load_table_replans_after_fixture_rewrite(spark, tmp_path):
    """Rewriting a fixture at the same path with a different schema
    must be read with the new schema: every call plans from the
    footers on disk, never from a stale plan of the old files."""
    import time

    from sync_cosmos_db_spark.session import load_table

    d = str(tmp_path)
    path = os.path.join(d, "documents.parquet")
    spark.range(0, 5).selectExpr("id AS doc_id").write.parquet(path)
    assert load_table(spark, d, "documents").columns == ["doc_id"]

    time.sleep(0.05)  # ensure a distinct mtime_ns on coarse filesystems
    (spark.range(0, 5)
     .selectExpr("id AS doc_id", "CAST(id AS STRING) AS extra")
     .write.mode("overwrite").parquet(path))
    assert set(load_table(spark, d, "documents").columns) \
        == {"doc_id", "extra"}


def test_partitioned_read_prunes_partitions(spark, sf_dir, tmp_path):
    """X89: a lang predicate over the hive-partitioned layout must
    resolve in PartitionFilters (directory pruning), leaving no lang
    residual in the data filters."""
    from pyspark.sql import functions as F

    from sync_cosmos_db_spark.session import load_table
    from sync_cosmos_db_spark.sinks import write_partitioned

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "lang" in scan.split("PartitionFilters")[1].split("]")[0]
    n_en = back.count()
    assert n_en == docs.filter(F.col("lang") == "en").count()
