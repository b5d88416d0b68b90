"""Deterministic PII sanitization (O19).

The reference (``/root/reference/src/sanitizer.py``) replaces the values
of 31 case-insensitively matched field names with fresh Faker draws —
non-deterministic across runs, row-at-a-time Python. This engine keeps
the same *semantics* (same field-name map, case-insensitive, recursive
into nested structs and arrays-of-structs) but:

* **Deterministic**: each fake value is derived from ``sha2`` of the
  original value (string-cast). Same input → same sanitized output, so
  oracle checks and idempotence tests work. (Documented divergence from
  the reference's fresh-draw behavior; SURVEY.md §7c.) The values are
  hash-derived tokens such as ``FN_a1b2c3d4``, not the reference's
  plausible-looking Faker names.
* **JVM-side**: every generator is a built-in-function Column expression
  (concat/substr/translate/lpad/pmod over the sha2 hex digest) — no
  Python in the hot path, fully whole-stage-codegen'd. The reference's
  list recursion (``src/sanitizer.py:59-61``) maps to ``F.transform``.
* **Type-preserving**: the fake value is cast back to the column's
  declared type, so the DataFrame schema is unchanged (the reference is
  schemaless so it could swap types freely; we can't and shouldn't).

NULLs are left NULL (nothing to protect; keeps the expressions simple).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_HEX = "abcdef"
_HEXDIG = "012345"


def _digits(h: Column, start: int, n: int) -> Column:
    """n decimal digits carved deterministically out of a sha2 hex string
    (hex letters folded onto digits via translate)."""
    return F.translate(F.substring(h, start, n), _HEX, _HEXDIG)


def _int(h: Column, start: int, n: int) -> Column:
    return _digits(h, start, n).cast("long")


def _seed_hash(seed: Column) -> Column:
    return F.sha2(seed.cast("string"), 256)


# One deterministic generator per reference field name
# (map mirrors ``/root/reference/src/sanitizer.py:6-38``).
def _generators() -> dict[str, "callable"]:
    def name_like(prefix: str):
        return lambda h: F.concat(F.lit(prefix + "_"), F.substring(h, 1, 8))

    def email_like(domain: str):
        return lambda h: F.concat(F.lit("user_"), F.substring(h, 1, 10),
                                  F.lit("@" + domain))

    def ssn(h):
        return F.concat(_digits(h, 1, 3), F.lit("-"), _digits(h, 4, 2),
                        F.lit("-"), _digits(h, 6, 4))

    def phone(h):
        return F.concat(F.lit("+1-"), _digits(h, 1, 3), F.lit("-"),
                        _digits(h, 4, 3), F.lit("-"), _digits(h, 7, 4))

    def street(h):
        return F.concat(_digits(h, 1, 3), F.lit(" Fake St "),
                        F.substring(h, 4, 6))

    def dob(h):
        year = (F.lit(1950) + F.pmod(_int(h, 1, 2), F.lit(50))).cast("string")
        month = F.lpad((F.lit(1) + F.pmod(_int(h, 3, 2), F.lit(12))).cast("string"), 2, "0")
        day = F.lpad((F.lit(1) + F.pmod(_int(h, 5, 2), F.lit(28))).cast("string"), 2, "0")
        return F.concat_ws("-", year, month, day)

    def uuid_like(h):
        return F.concat_ws("-", F.substring(h, 1, 8), F.substring(h, 9, 4),
                           F.substring(h, 13, 4), F.substring(h, 17, 4),
                           F.substring(h, 21, 12))

    def payrate(h):
        return F.round(F.lit(15.0) + F.pmod(_int(h, 1, 4), F.lit(13500)) / F.lit(100.0), 2)

    return {
        "firstname": name_like("FN"),
        "lastname": name_like("LN"),
        "fullname": lambda h: F.concat(F.lit("FN_"), F.substring(h, 1, 8),
                                       F.lit(" LN_"), F.substring(h, 9, 8)),
        "name": lambda h: F.concat(F.lit("FN_"), F.substring(h, 1, 8),
                                   F.lit(" LN_"), F.substring(h, 9, 8)),
        "ssn": ssn,
        "phonenumber": phone,
        "mobilenumber": phone,
        "email": email_like("example.com"),
        "workemail": email_like("company.example.com"),
        "personalemail": email_like("freemail.example.com"),
        "address": street,
        "street": street,
        "city": name_like("City"),
        "state": name_like("State"),
        "postalcode": lambda h: _digits(h, 1, 5),
        "zip": lambda h: _digits(h, 1, 5),
        "jobtitle": name_like("Job"),
        "department": name_like("Dept"),
        "dateofbirth": dob,
        "managerid": uuid_like,
        "insurance": lambda h: F.concat(F.lit("INS-"), _digits(h, 1, 4),
                                        F.lit("-"), _digits(h, 5, 4)),
        "taxid": ssn,
        "accountname": name_like("Acme"),
        "accountnumber": lambda h: F.concat(F.lit("AC"), _digits(h, 1, 12)),
        "routingnumber": lambda h: _int(h, 1, 9),
        "line1": street,
        "line2": lambda h: F.concat(F.lit("Unit "), _digits(h, 1, 3)),
        "countyname": name_like("County"),
        "countyfips": lambda h: _int(h, 1, 5),
        "ratingarea": lambda h: F.lit(1) + F.pmod(_int(h, 1, 4), F.lit(5)),
        "payrate": payrate,
    }


GENERATORS = _generators()
SANITIZE_FIELDS = frozenset(GENERATORS)


def fake_value(field_name: str, seed: Column) -> Column:
    """Deterministic fake value for a PII field, seeded by ``seed``."""
    return GENERATORS[field_name.lower()](_seed_hash(seed))


def sanitize_column(field_name: str, col: Column,
                    dtype: T.DataType) -> Column:
    """Replace a matched column's values, seeded by the value itself,
    preserving NULLs and the declared Spark type."""
    fake = fake_value(field_name, col).cast(dtype)
    return F.when(col.isNull(), col).otherwise(fake)


def _sanitize_type(col: Column, dtype: T.DataType) -> Column:
    """Recursive struct/array rebuild applying generators by field name —
    the Column-expression analog of the reference's dict/list recursion
    (``src/sanitizer.py:41-63``), including dicts inside lists."""
    if isinstance(dtype, T.StructType):
        rebuilt = F.struct(*[
            (sanitize_column(f.name, col.getField(f.name), f.dataType)
             if f.name.lower() in SANITIZE_FIELDS
             else _sanitize_type(col.getField(f.name), f.dataType)
             ).alias(f.name)
            for f in dtype.fields
        ])
        return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
    if isinstance(dtype, T.ArrayType):
        inner = dtype.elementType
        if isinstance(inner, (T.StructType, T.ArrayType, T.MapType)):
            return F.transform(col, lambda x: _sanitize_type(x, inner))
        return col
    if isinstance(dtype, T.MapType):
        # string-keyed maps: sanitize values whose KEY matches, like the
        # reference's dict branch
        if isinstance(dtype.keyType, T.StringType):
            return F.map_from_arrays(
                F.map_keys(col),
                F.zip_with(
                    F.map_keys(col), F.map_values(col),
                    lambda k, v: F.when(
                        F.lower(k).isin(*SANITIZE_FIELDS),
                        fake_value("name", v).cast(dtype.valueType)
                    ).otherwise(_sanitize_type(v, dtype.valueType))),
            )
        return col
    return col


def sanitize_dataframe(df: DataFrame,
                       only_when: Column | None = None) -> DataFrame:
    """Sanitize every column (at any nesting depth) whose name matches the
    PII field map, case-insensitively. Pure column expressions — the plan
    stays inside whole-stage codegen.

    ``only_when`` gates replacement per ROW with a boolean Column (e.g.
    ``F.col("action") != "skip"``) in the same single projection —
    preferable to filter/sanitize/union, which would evaluate the whole
    upstream plan once per branch."""
    out = df
    for f in df.schema.fields:
        if f.name.lower() in SANITIZE_FIELDS:
            repl = sanitize_column(f.name, F.col(f.name), f.dataType)
        elif isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            repl = _sanitize_type(F.col(f.name), f.dataType)
        else:
            continue
        if only_when is not None:
            repl = F.when(only_when, repl).otherwise(F.col(f.name))
        out = out.withColumn(f.name, repl)
    return out


# ---------------------------------------------------------------------------
# Free-text PII redaction (extension: the reference sanitizes only known
# FIELDS, /root/reference/src/sanitizer.py:6-38 — it has no treatment for
# PII embedded in text bodies, which is where training-corpus leakage
# actually lives).
# ---------------------------------------------------------------------------

#: Conservative regex syntax shared by Java (Spark) and RE2-ish engines
#: (DuckDB): character classes, bounded repetition, no lookaround.
REDACT_PATTERNS: dict[str, str] = {
    # local@domain.tld — lowercase corpus form; bounded TLD.
    "EMAIL": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,6}",
    # +CC nnn nnn... international-style groups as injected upstream.
    "PHONE": r"\+[0-9]{1,3} [0-9]{3} [0-9]{3}[0-9 ]*[0-9]",
    # 16-digit card-like runs, space/dash grouped.
    "CARD": r"[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}",
}


def redact_text(col: Column | str,
                patterns: dict[str, str] | None = None) -> Column:
    """Replace every PII pattern occurrence in a text column with a
    ``<LABEL>`` token.  Pure ``regexp_replace`` chain — codegen'd
    JVM-side, one pass per pattern, no UDF; order is sorted by label so
    the composition is deterministic.  At 100 TB this is a per-row map
    with zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    for label in sorted((patterns or REDACT_PATTERNS)):
        pat = (patterns or REDACT_PATTERNS)[label]
        c = F.regexp_replace(c, pat, f"<{label}>")
    return c
