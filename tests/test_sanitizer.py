"""Deterministic sanitizer tests (O19) — same field map as the
reference's SANITIZE_FIELDS, deterministic instead of fresh Faker
draws (documented divergence, SURVEY.md §7c)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sync_cosmos_db_spark.sanitizer import (
    SANITIZE_FIELDS,
    sanitize_dataframe,
)

ROWS = [
    (1, "Alice", "alice@real.com", 55.5, ("123 Real St", "Springfield"),
     [("Bob", "b@real.com")]),
    (2, None, None, None, (None, None), []),
]
SCHEMA = (
    "id long, firstName string, email string, payRate double, "
    "addr struct<line1:string, city:string>, "
    "contacts array<struct<name:string, email:string>>"
)


def test_field_map_covers_reference_31_fields():
    # reference map at src/sanitizer.py:6-38 has 31 entries
    assert len(SANITIZE_FIELDS) == 31
    for f in ("firstname", "ssn", "email", "payrate", "routingnumber",
              "line1", "ratingarea", "dateofbirth"):
        assert f in SANITIZE_FIELDS


def test_deterministic_and_changes_values(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    s1 = sanitize_dataframe(df).collect()
    s2 = sanitize_dataframe(df).collect()
    assert s1 == s2  # deterministic across runs
    r = [x for x in s1 if x.id == 1][0]
    assert r.firstName != "Alice" and r.firstName.startswith("FN_")
    assert r.email.endswith("@example.com") and "real.com" not in r.email
    assert 15.0 <= r.payRate <= 150.0 and r.payRate != 55.5


def test_schema_preserved_and_nulls_kept(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = sanitize_dataframe(df)
    assert out.schema == df.schema
    r2 = [x for x in out.collect() if x.id == 2][0]
    assert r2.firstName is None and r2.email is None and r2.payRate is None


def test_nested_struct_and_array_recursion(spark):
    # matches the reference's recursion into dicts AND lists
    # (src/sanitizer.py:41-63)
    df = spark.createDataFrame(ROWS, SCHEMA)
    r = [x for x in sanitize_dataframe(df).collect() if x.id == 1][0]
    assert r.addr.line1 != "123 Real St"        # 'line1' matched in struct
    assert r.addr.city != "Springfield"         # 'city' matched in struct
    assert r.contacts[0].name != "Bob"          # struct inside array
    assert r.contacts[0].email != "b@real.com"
    assert r.contacts[0].email.endswith("@example.com")


def test_unmatched_columns_untouched(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = sanitize_dataframe(df)
    assert [x.id for x in out.collect()] == [1, 2]
