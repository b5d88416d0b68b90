"""Unit tests for the document-model layer (O7-O11) — the custom
schema-driven code SURVEY.md §4.3 calls out."""

from __future__ import annotations

from pyspark.sql import functions as F

from sync_cosmos_db_spark.document_model import (
    content_hash,
    extract_pk_columns,
    materialize_pk,
    pk_path_to_column,
    split_valid_invalid,
    strip_system_fields,
)

DOCS = [
    # id, tenantId, profile(firstName, address(city)), tags, history[{_etag, note}], _etag, _ts
    ("d1", "t1", ("Ann", ("Springfield",)), ["a"], [("e-old", "n1")], "E1", 111),
    ("d2", None, ("Bob", ("Shelbyville",)), [], [], "E2", 222),   # null pk
    (None, "t3", ("Cid", (None,)), None, None, "E3", 333),        # null id
    ("d4", "", ("Dee", ("Ogdenville",)), ["b", "c"], [("e2", "n2")], "E4", 444),  # empty pk
]

SCHEMA = (
    "id string, tenantId string, "
    "profile struct<firstName:string, address:struct<city:string>>, "
    "tags array<string>, "
    "history array<struct<_etag:string, note:string>>, "
    "_etag string, _ts long"
)


def _df(spark):
    return spark.createDataFrame(DOCS, SCHEMA)


def test_pk_path_nested_extraction(spark):
    df = _df(spark)
    out = df.select(pk_path_to_column("/profile/address/city").alias("city"))
    assert [r.city for r in out.collect()] == [
        "Springfield", "Shelbyville", None, "Ogdenville"]


def test_extract_pk_columns_multi_path(spark):
    # hierarchical pk preserved in full (reference truncates: SURVEY §1.4)
    # a path the schema lacks reads as NULL, like the reference's None
    df = extract_pk_columns(_df(spark), ["/tenantId", "/profile/firstName",
                                         "/tenant", "/profile/age"])
    row = df.filter(F.col("id") == "d1").collect()[0]
    assert (row["__pk_0"], row["__pk_1"], row["__pk_2"], row["__pk_3"]) \
        == ("t1", "Ann", None, None)


def test_validity_split(spark):
    valid, quarantine = split_valid_invalid(_df(spark), "id", ["tenantId"])
    assert sorted(r.id for r in valid.collect()) == ["d1"]
    assert quarantine.count() == 3  # null pk, null id, empty pk


def test_materialize_pk_backfills_nulls_only(spark):
    df = _df(spark).withColumn(
        "tenant_top", F.when(F.col("id") == "d1", "keep").otherwise(F.lit(None)))
    out = materialize_pk(df.withColumnRenamed("tenant_top", "tenantId2"),
                         "/tenantId")
    # existing non-null tenantId untouched, nulls backfilled from extraction
    vals = {r.id: r.tenantId for r in out.collect()}
    assert vals["d1"] == "t1"


def test_strip_system_fields_recurses_into_arrays(spark):
    stripped = strip_system_fields(_df(spark))
    assert "_etag" not in stripped.columns and "_ts" not in stripped.columns
    hist_type = stripped.schema["history"].dataType.elementType
    # the reference's gap (structs inside lists untouched) is fixed here
    assert [f.name for f in hist_type.fields] == ["note"]
    row = stripped.filter(F.col("id") == "d1").collect()[0]
    assert row.history == [("n1",)] or row.history[0].note == "n1"


def test_strip_idempotent(spark):
    once = strip_system_fields(_df(spark))
    twice = strip_system_fields(once)
    assert once.schema == twice.schema
    assert once.exceptAll(twice).isEmpty()


def test_content_hash_ignores_column_order_and_system_fields(spark):
    df = _df(spark)
    h1 = df.select(content_hash(["id", "tenantId"]).alias("h")).collect()
    h2 = df.select(content_hash(["tenantId", "id"]).alias("h")).collect()
    assert [r.h for r in h1] == [r.h for r in h2]

    def hashed(frame):
        stripped = strip_system_fields(frame)
        return [r.h for r in stripped.select(
            content_hash(stripped.columns).alias("h")).collect()]

    # same business content → same hash regardless of _etag/_ts values
    other = _df(spark).withColumn("_etag", F.lit("DIFFERENT")) \
                      .withColumn("_ts", F.lit(999))
    assert hashed(df) == hashed(other)
