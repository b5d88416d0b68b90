"""Document-model layer: partition-key paths, validity, system fields, hashing.

Re-expresses the reference's per-dict document handling
(``/root/reference/src/migration.py``) as schema-driven column
expressions. Everything here is pure Column construction — zero Python
in the executor hot path.

Operator map (SURVEY.md §2):

* O7  validity predicate        — reference ``src/migration.py:92-109``
* O8  nested pk-path extraction — reference ``src/migration.py:24-39``
* O9  pk materialization        — reference ``src/migration.py:111-114``
* O10 system-field strip        — reference ``src/migration.py:213-227``
* O11 content hash (dedup key)  — reference ``src/migration.py:124-131``

Intentional divergences from the reference (documented, SURVEY.md §7):

* O10: the reference never cleans dicts nested inside lists (its list
  branch hands elements to a function whose only action branch is the
  dict check). We implement the intended full recursion via
  ``F.transform`` over array<struct> columns.
* O6 companion: the reference's ``pk_value[0]`` bug (indexing the loop
  variable) is not reproduced; we implement the intended scalar pk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Cosmos system metadata fields, stripped before content comparison
#: (reference ``src/migration.py:218-221``).
SYSTEM_FIELDS = ("_etag", "_rid", "_self", "_ts")


# ---------------------------------------------------------------------------
# O8 — partition-key path extraction
# ---------------------------------------------------------------------------

def pk_path_to_column(path: str) -> Column:
    """Turn a Cosmos partition-key path (``"/a/b"``) into a typed column ref.

    Walks nested structs; a missing intermediate yields NULL, matching the
    reference's ``value.get(key)`` → ``None`` traversal stop
    (``src/migration.py:32-34``).
    """
    parts = [p for p in path.strip("/").split("/") if p]
    if not parts:
        raise ValueError(f"empty partition key path: {path!r}")
    col = F.col(parts[0])
    for part in parts[1:]:
        col = col.getField(part)
    return col


def infer_payload_schema(df: DataFrame, payload_col: str = "payload",
                         sample_n: int = 1000):
    """Infer a typed StructType from a JSON payload column by sampling
    (SURVEY.md §1.3: the bridge from schemaless documents to a static
    schema). Bounded driver-side work: only ``sample_n`` payload strings
    feed the JSON reader's inference; apply the result with
    :func:`parse_payload` to the full (arbitrarily large) frame."""
    spark = df.sparkSession
    sample = df.select(payload_col).limit(sample_n)
    return spark.read.json(sample.rdd.map(lambda r: r[0])).schema


def parse_payload(df: DataFrame, schema,
                  payload_col: str = "payload",
                  out_col: str = "doc") -> DataFrame:
    """Parse the payload column into a typed struct column with the
    given (usually inferred) schema — ``from_json`` stays JVM-side;
    unparseable payloads yield NULL structs (quarantine with O7)."""
    return df.withColumn(out_col, F.from_json(F.col(payload_col), schema))


def _in_schema(schema: T.StructType, path: str) -> bool:
    dt = schema
    for part in (p for p in path.strip("/").split("/") if p):
        if not isinstance(dt, T.StructType) or part not in dt.names:
            return False
        dt = dt[part].dataType
    return True


def extract_pk_columns(df: DataFrame, pk_paths: list[str]) -> DataFrame:
    """Add one ``__pk_{i}`` column per partition-key path (O8).

    Hierarchical (multi-path) keys are preserved in full — the reference
    truncates to the first path when recreating containers
    (``src/containers.py:16``); we keep the whole list (SURVEY.md §1.4).
    A path the schema does not hold yields NULL, as the reference's
    traversal reads a missing key as ``None``, so its documents fail the
    validity predicate (O7, ``src/migration.py:101-109``).
    """
    for i, path in enumerate(pk_paths):
        value = (pk_path_to_column(path) if _in_schema(df.schema, path)
                 else F.lit(None).cast("string"))
        df = df.withColumn(f"__pk_{i}", value)
    return df


# ---------------------------------------------------------------------------
# O7 — validity predicate
# ---------------------------------------------------------------------------

def validity_predicate(id_col: str = "id",
                       pk_cols: list[str] | None = None) -> Column:
    """Boolean Column: document is migratable.

    Mirrors the reference's per-item skips: missing ``id``
    (``src/migration.py:92-97``) and null/empty partition-key value
    (``src/migration.py:101-109``). Complex-typed (dict/list) pk values —
    rejected at ``src/migration.py:101`` — are a *static* schema error
    under typed schemas; callers on the dynamic path should add a
    ``typeof`` check on the variant/JSON column.
    """
    pred = F.col(id_col).isNotNull()
    for pk in pk_cols or []:
        c = F.col(pk)
        pred = pred & c.isNotNull() & (c.cast("string") != F.lit(""))
    return pred


def split_valid_invalid(df: DataFrame, id_col: str = "id",
                        pk_cols: list[str] | None = None
                        ) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine) split. The quarantine side feeds the ``errors``
    counter (reference ``src/migration.py:95, 107``) and an audit sink,
    instead of being silently dropped."""
    pred = validity_predicate(id_col, pk_cols)
    return df.filter(pred), df.filter(~pred | pred.isNull())


# ---------------------------------------------------------------------------
# O9 — pk materialization into the body
# ---------------------------------------------------------------------------

def materialize_pk(df: DataFrame, pk_path: str) -> DataFrame:
    """Ensure a top-level column holding the partition-key VALUE exists —
    reference ``src/migration.py:111-114`` writes ``item[pk_path] =
    pk_value`` when the key is absent from the document body.

    Single-segment path (``"/uid"``): the top-level column is the path
    itself; existing non-null values are kept, nulls are backfilled from
    the extraction (a no-op for a flat typed frame, the reference's
    common case). Nested path (``"/meta/uid"``): the pk VALUE is
    materialized under the LEAF segment name (``uid``) — added when the
    top-level column is absent, null-backfilled when present. The leaf
    (not the first segment) is the only name that can carry the scalar
    value without colliding with the struct column it came from."""
    parts = pk_path.strip("/").split("/")
    top = parts[0] if len(parts) == 1 else parts[-1]
    extracted = pk_path_to_column(pk_path)
    if top in df.columns:
        return df.withColumn(top, F.coalesce(F.col(top), extracted))
    return df.withColumn(top, extracted)


# ---------------------------------------------------------------------------
# O10 — recursive system-field strip
# ---------------------------------------------------------------------------

def _strip_type(col: Column, dtype: T.DataType) -> Column:
    """Rebuild ``col`` with SYSTEM_FIELDS removed at every struct level,
    including structs inside arrays (the case the reference misses)."""
    if isinstance(dtype, T.StructType):
        kept = [f for f in dtype.fields if f.name not in SYSTEM_FIELDS]
        rebuilt = F.struct(*[
            _strip_type(col.getField(f.name), f.dataType).alias(f.name)
            for f in kept
        ])
        # preserve NULL structs instead of materializing a struct of NULLs
        return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
    if isinstance(dtype, T.ArrayType):
        inner = dtype.elementType
        if _contains_struct(inner):
            return F.transform(col, lambda x: _strip_type(x, inner))
        return col
    if isinstance(dtype, T.MapType) and _contains_struct(dtype.valueType):
        return F.transform_values(
            col, lambda _, v: _strip_type(v, dtype.valueType))
    return col


def _contains_struct(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.StructType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _contains_struct(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _contains_struct(dtype.valueType)
    return False


def strip_system_fields(df: DataFrame) -> DataFrame:
    """Drop Cosmos system fields at the top level and inside every nested
    struct / array-of-struct / map-of-struct (O10, full-recursion variant).

    Schema-driven: the rewrite is computed once from ``df.schema`` and
    compiled to built-in column expressions (``struct``/``transform``),
    so it runs entirely inside whole-stage codegen.
    """
    out = df.drop(*[name for name in SYSTEM_FIELDS if name in df.columns])
    for field in out.schema.fields:
        if _contains_struct(field.dataType):
            out = out.withColumn(
                field.name, _strip_type(F.col(field.name), field.dataType))
    return out


# ---------------------------------------------------------------------------
# O11 — canonical content hash
# ---------------------------------------------------------------------------

def content_hash(cols: list[str]) -> Column:
    """Deterministic content hash over the business columns (O11).

    Canonicalization: columns sorted by name, packed into a struct,
    serialized with ``to_json`` (struct field order is the sort order, so
    the serialization is stable), then ``sha2``. Replaces the reference's
    whole-dict equality (``src/migration.py:124-131``) with an
    exchange-friendly 256-bit key — comparing hashes after the merge join
    avoids shipping both full documents through the comparison.
    """
    ordered = sorted(cols)
    return F.sha2(F.to_json(F.struct(*[F.col(c).alias(c) for c in ordered])), 256)
