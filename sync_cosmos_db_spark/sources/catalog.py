"""Catalog scans and DDL: the account → database → container hierarchy.

The reference walks Cosmos DB's resource tree over the network
(databases at ``/root/reference/src/clients.py:28-49``, containers at
``src/containers.py:8-89``). This engine maps the hierarchy onto a
filesystem layout the Spark harness can run anywhere:

    <account root>/<database>/<container>.parquet          -- data
    <account root>/<database>/<container>.properties.json  -- metadata

Operator map (SURVEY.md §2):

* O4  list databases             — reference ``src/clients.py:28-38``
* O5  list containers            — reference ``src/containers.py:78-89``
* O15 create database if absent  — reference ``src/clients.py:40-49``
* O16 create container if absent — reference ``src/containers.py:46-76``
* O17 container properties       — reference ``src/containers.py:8-44``

Divergence (documented, SURVEY.md §1.4): the reference keeps only the
FIRST partition-key path when recreating a container
(``src/containers.py:16``), silently truncating hierarchical keys; we
round-trip the full path list. Indexing policy and RU throughput are
carried opaquely in the properties sidecar — they configure the Cosmos
service, not the query engine (no core-Spark analog).

In production the same five operations are one-liners against the
Cosmos Spark connector's catalog API (see ``sources/cosmos.py``); this
module is the harness implementation with identical semantics.

Every parquet read of the package goes through :func:`read_parquet`
(harness tables through ``session.load_table``): the driver reads the
schema and the row counts that every file's footer already records
(:func:`footer_schema`, :func:`footer_row_count`), so neither a read
nor a verification launches a schema-inference or counting job. Spark's
inference runs only where the footer is not exact: unsigned integers,
half floats, times, durations, INT96 and nested nanosecond timestamps,
and paths pyarrow cannot list.

Timestamps follow one policy. A top-level TIMESTAMP(NANOS) column, which
Spark's reader rejects as a timestamp, is read as its int64 and rebuilt
as ``timestamp_micros(ns div 1000)``, in any table and with no session
conf changed. Untagged timestamps (``isAdjustedToUTC=false``) read as
the session's inference reads them, unless the caller pins TIMESTAMP
(``prefer_timestamp_ntz=False``): ``load_table`` does, so epoch
functions such as ``unix_micros`` apply and the values match DuckDB's
naive-timestamp handling under any caller's session.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

#: Default partition-key path when properties are missing or unreadable —
#: the reference's fallback at ``src/containers.py:16,37-44``.
DEFAULT_PK_PATHS = ["/id"]

_PROPS_SUFFIX = ".properties.json"
_DATA_SUFFIX = ".parquet"


def list_databases(account_root: str) -> list[str]:
    """O4 — enumerate database names (sorted for determinism; the
    reference emits server order, which is unspecified)."""
    if not os.path.isdir(account_root):
        return []
    return sorted(
        d for d in os.listdir(account_root)
        if os.path.isdir(os.path.join(account_root, d))
        and not d.startswith(".")
    )


def list_containers(account_root: str, database: str) -> list[str]:
    """O5 — enumerate container names of a database."""
    db_dir = os.path.join(account_root, database)
    if not os.path.isdir(db_dir):
        return []
    return sorted(
        f[: -len(_DATA_SUFFIX)] for f in os.listdir(db_dir)
        if f.endswith(_DATA_SUFFIX)
    )


def create_database_if_not_exists(account_root: str, database: str) -> str:
    """O15 — idempotent database creation; returns the database path."""
    path = os.path.join(account_root, database)
    os.makedirs(path, exist_ok=True)
    return path


def container_data_path(account_root: str, database: str,
                        container: str) -> str:
    return os.path.join(account_root, database, container + _DATA_SUFFIX)


def container_exists(account_root: str, database: str,
                     container: str) -> bool:
    return os.path.exists(container_data_path(account_root, database,
                                              container))


def get_container_properties(account_root: str, database: str,
                             container: str) -> dict:
    """O17 — read container metadata; on any failure fall back to the
    ``/id`` partition key exactly like the reference
    (``src/containers.py:37-44``), but keep the FULL pk path list."""
    props_path = container_data_path(
        account_root, database, container)[: -len(_DATA_SUFFIX)] + _PROPS_SUFFIX
    try:
        with open(props_path) as f:
            props = json.load(f)
        paths = props.get("partition_key_paths") or DEFAULT_PK_PATHS
        return {
            "partition_key_paths": list(paths),
            "indexing_policy": props.get("indexing_policy"),
            "throughput": props.get("throughput"),
        }
    except (OSError, ValueError):
        return {"partition_key_paths": list(DEFAULT_PK_PATHS),
                "indexing_policy": None, "throughput": None}


def create_container_if_not_exists(account_root: str, database: str,
                                   container: str,
                                   properties: dict | None = None) -> str:
    """O16 — idempotent container metadata creation carrying the FULL
    pk path list (unlike the reference's first-path truncation). Data
    lands when the first write happens; Cosmos provisions the container
    eagerly, parquet cannot represent an empty untyped table."""
    create_database_if_not_exists(account_root, database)
    props_path = container_data_path(
        account_root, database, container)[: -len(_DATA_SUFFIX)] + _PROPS_SUFFIX
    if not os.path.exists(props_path):
        props = {
            "partition_key_paths": list(
                (properties or {}).get("partition_key_paths",
                                       DEFAULT_PK_PATHS)),
            "indexing_policy": (properties or {}).get("indexing_policy"),
            "throughput": (properties or {}).get("throughput"),
        }
        with open(props_path, "w") as f:
            json.dump(props, f, indent=2)
    return container_data_path(account_root, database, container)


# ---------------------------------------------------------------------------
# Parquet footers: schema and row counts without a Spark job
# ---------------------------------------------------------------------------

#: Key under which Spark stores the writing DataFrame's schema (JSON) in
#: each file's footer; Spark's own reader prefers it to the Parquet types.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    """Spark's file-index rule: ``_``/``.`` names are not data, except
    ``_``-names holding ``=`` (hive partition directories like ``__kb=3``)."""
    return (name.startswith(".") or name.endswith("._COPYING_")
            or (name.startswith("_") and "=" not in name))


def data_files(path: str):
    """``(filesystem, sorted data-file paths)`` of the parquet path
    ``path``, as Spark's file index would list them: a file lists
    itself, a directory its non-hidden files at any depth."""
    import pyarrow.fs as pafs

    fs, root = pafs.FileSystem.from_uri(
        path if "://" in path else os.path.abspath(path))
    if fs.get_file_info(root).type == pafs.FileType.File:
        return fs, [root]
    infos = fs.get_file_info(pafs.FileSelector(root, recursive=True))
    files = sorted(
        i.path for i in infos
        if i.type == pafs.FileType.File
        and not any(_hidden(p)
                    for p in os.path.relpath(i.path, root).split(os.sep)))
    return fs, files


def _footer(fs, file: str):
    import pyarrow.parquet as pq

    with fs.open_input_file(file) as f:
        return pq.read_metadata(f)


def _spark_reads_as_arrow(t) -> bool:
    """True when Spark reads the Parquet form of Arrow type ``t`` as the
    type ``from_arrow_schema`` gives it. Not so for nanosecond
    timestamps (INT96 also reads as one; a top-level TIMESTAMP(NANOS)
    column is planned as its int64, see :func:`footer_schema`), unsigned
    integers, half floats, times and durations."""
    import pyarrow.types as pat

    if pat.is_struct(t):
        return all(_spark_reads_as_arrow(f.type) for f in t)
    if pat.is_list(t) or pat.is_large_list(t):
        return _spark_reads_as_arrow(t.value_type)
    if pat.is_map(t):
        return (_spark_reads_as_arrow(t.key_type)
                and _spark_reads_as_arrow(t.item_type))
    if pat.is_dictionary(t):
        return _spark_reads_as_arrow(t.value_type)
    if pat.is_timestamp(t):
        return t.unit != "ns"
    return any(check(t) for check in (
        pat.is_boolean, pat.is_signed_integer, pat.is_float32,
        pat.is_float64, pat.is_string, pat.is_large_string, pat.is_binary,
        pat.is_large_binary, pat.is_fixed_size_binary, pat.is_date32,
        pat.is_decimal128))


def footer_schema(path: str, prefer_timestamp_ntz: bool = False):
    """``(schema, nanosecond columns)`` to read the parquet path
    ``path`` with, read on the driver from the footer of its first data
    file — the file Spark's own inference reads, but without the job
    that inference launches.

    A file written by Spark carries the writing schema in its footer,
    which is what Spark's reader uses. Any other file's Arrow schema is
    converted; ``prefer_timestamp_ntz`` is the session's
    ``spark.sql.parquet.inferTimestampNTZ.enabled``. A top-level
    TIMESTAMP(NANOS) column is in the schema as ``bigint``, the int64
    Spark reads it as, and named in the nanosecond columns for
    :func:`read_parquet` to rebuild. Returns ``None`` when the path
    cannot be listed, there is no data file, or a column has a type
    Spark reads otherwise (:func:`_spark_reads_as_arrow`), so the caller
    can fall back to Spark's inference. Hive partition columns are not
    in the footer; Spark still discovers them from the paths, and it
    reads every field as nullable, as it does an inferred schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        fs, files = data_files(path)
    except (OSError, ValueError, NotImplementedError):
        return None  # missing, or on a filesystem pyarrow cannot open
    if not files:
        return None
    meta = _footer(fs, files[0])
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return T.StructType.fromJson(json.loads(spark_json)), []
    arrow = meta.schema.to_arrow_schema()
    nanos_leaves = {c.path for c in meta.schema
                    if c.physical_type == "INT64"
                    and c.logical_type.type == "TIMESTAMP"
                    and json.loads(c.logical_type.to_json())["timeUnit"]
                    == "nanoseconds"}
    nanos = [f.name for f in arrow if f.name in nanos_leaves]
    arrow = pa.schema([f.with_type(pa.int64()) if f.name in nanos else f
                       for f in arrow])
    if not all(_spark_reads_as_arrow(f.type) for f in arrow):
        return None
    return from_arrow_schema(
        arrow, prefer_timestamp_ntz=prefer_timestamp_ntz), nanos


def footer_row_count(path: str) -> int:
    """Rows in the parquet directory ``path``: the sum of its data
    files' footer row counts — a read-back of what landed, with no
    Spark job."""
    fs, files = data_files(path)
    return sum(_footer(fs, f).num_rows for f in files)


def read_parquet(spark, path: str, options: dict | None = None,
                 prefer_timestamp_ntz: bool | None = None):
    """``spark.read.parquet(path)`` with the schema taken from the
    footers (:func:`footer_schema`), so the read plans without a
    schema-inference job; falls back to inference only where the footer
    schema is not exact.

    ``prefer_timestamp_ntz=None`` reads timestamps as Spark's inference
    does under this session. ``False`` reads every top-level timestamp
    column as TIMESTAMP, one Spark wrote as TIMESTAMP_NTZ too. Either
    way a TIMESTAMP(NANOS) column is read as its int64 and rebuilt as
    a TIMESTAMP of the nanoseconds divided by 1000."""
    from pyspark.sql import functions as F

    pin = prefer_timestamp_ntz is False
    if prefer_timestamp_ntz is None:
        prefer_timestamp_ntz = spark.conf.get(
            "spark.sql.parquet.inferTimestampNTZ.enabled",
            "true").lower() == "true"
    reader = spark.read.options(**(options or {}))
    plan = footer_schema(path, prefer_timestamp_ntz)
    if plan is None:
        if not pin:
            return reader.parquet(path)
        plan = reader.parquet(path).schema, []
    schema, nanos = plan
    if pin:
        schema = T.StructType([
            T.StructField(f.name, T.TimestampType(), f.nullable)
            if isinstance(f.dataType, T.TimestampNTZType) else f
            for f in schema])
    df = reader.schema(schema).parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df
