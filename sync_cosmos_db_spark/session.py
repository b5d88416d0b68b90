"""SparkSession construction tuned for this engine.

In the test/bench harness we run ``local[N]`` (single JVM); in production
the same conf block is what we'd hand to a 1000-executor cluster, minus
the driver-memory override. The knobs that matter at 100 TB:

* ``spark.sql.adaptive.enabled`` — AQE re-plans joins at runtime
  (broadcast conversion, skew-join splitting, partition coalescing).
* ``spark.sql.shuffle.partitions`` — sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number much less critical.
* ``spark.sql.files.maxPartitionBytes`` — keeps scan partitions at a size
  that fits executor memory (default 128 MiB is right for 100 TB parquet).
* Arrow enabled — every Pandas-UDF crossing is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sync_cosmos_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Untagged parquet timestamps (isAdjustedToUTC=false) read as
        # plain TIMESTAMP, not TIMESTAMP_NTZ: keeps epoch functions
        # (unix_micros & co) applicable and matches how DuckDB treats
        # naive timestamps in the oracle twin. load_table additionally
        # pins this per-read so it holds under ANY caller's session.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def register_pickle_by_value(module_name: str) -> None:
    """Make cloudpickle ship the code of ``module_name`` inside every
    task closure that references it, so Python workers never import
    this package: a driver may run from a directory that is not on the
    workers' import path.  Call it at the bottom of a module whose
    functions run in workers.  With a cloudpickle that predates
    ``register_pickle_by_value`` the package must be deployed to the
    workers instead (``--py-files``)."""
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[module_name])
    except (ImportError, AttributeError):
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one harness table (`/root/testdata/sf*/NAME.parquet`).

    This is the harness stand-in for the production source (O1 in
    SURVEY.md §2 — the reference's full-container scan at
    ``src/migration.py:78-82``); in production the same call site uses
    the Cosmos Spark connector (see ``sources/cosmos.py``).

    Two timestamp-encoding quirks are normalized here, because harness
    regenerations have shipped both:

    * TIMESTAMP(NANOS) columns (an older ``events`` table) are illegal
      for Spark's vectorized reader; we read them as long nanos via the
      legacy conf and rebuild a proper TIMESTAMP column. The testdata
      has no sub-microsecond components, so the conversion is lossless.
    * Untagged micros (isAdjustedToUTC=false) infer as TIMESTAMP_NTZ
      on sessions with default confs — which breaks the strict epoch
      functions (``unix_micros``) and diverges from the DuckDB oracle's
      naive-timestamp handling. Since the correctness driver calls us
      with ITS OWN session, we can't rely on ``get_spark``'s conf pin;
      instead any NTZ column triggers a re-read with a user-pinned
      schema (TimestampType), which bypasses NTZ inference and keeps
      the stored micros as epoch micros, exactly like DuckDB.

    The sniff (schema-inferring read + possible pinned re-read) runs
    ONCE per path per process: the resolved read plan — pinned schema
    plus which bigint columns need the nanos→timestamp rebuild — is
    cached, so the common path is a single pinned-schema reader with no
    inference job (round-3 ADVICE, session.py:108).
    """
    from pyspark.sql import functions as F

    path = f"{sf_dir}/{name}.parquet"
    key = (path, _path_fingerprint(path))
    plan = _READ_PLANS.get(key)
    if plan is None:
        plan = _sniff_read_plan(spark, path, name)
        _READ_PLANS[key] = plan
    pinned, nanos_cols = plan
    df = spark.read.schema(pinned).parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


# (path, mtime fingerprint) -> (pinned read schema, columns stored as
# nanos-bigint that need the timestamp rebuild). StructTypes are
# session-independent, so the cache is safe across the driver's own
# sessions; keying on the fingerprint means a fixture REGENERATED at
# the same path mid-process (different schema / timestamp encoding)
# triggers a fresh sniff instead of reusing a stale pinned schema
# (round-4 ADVICE, session.py:97).
_READ_PLANS: dict[tuple, tuple] = {}


def _path_fingerprint(path: str) -> int:
    """Cheap local-path change detector: max mtime_ns over the parquet
    file/dir and its direct children (a rewrite replaces part files).
    Non-local or unstat-able paths (e.g. an object-store URI in
    production) fingerprint as 0 — one sniff per process, the old
    behavior, which is correct there because such paths are immutable
    snapshots from this engine's perspective."""
    import os

    try:
        st = os.stat(path)
        fp = st.st_mtime_ns
        if os.path.isdir(path):
            for entry in os.scandir(path):
                fp = max(fp, entry.stat().st_mtime_ns)
        return fp
    except OSError:
        return 0


def _sniff_read_plan(spark: SparkSession, path: str, name: str):
    """One-time schema sniff for ``load_table`` (see its docstring)."""
    from pyspark.sql import types as T

    nanos_cols: list[str] = []
    if name == "events":
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong",
                              "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            inferred = spark.read.parquet(path).schema
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        nanos_cols = [f.name for f in inferred.fields
                      if f.name == "ts"
                      and f.dataType.simpleString() == "bigint"]
    else:
        inferred = spark.read.parquet(path).schema

    pinned = T.StructType([
        T.StructField(
            f.name,
            T.TimestampType()
            if f.dataType.simpleString() == "timestamp_ntz" else f.dataType,
            f.nullable)
        for f in inferred.fields])
    return pinned, nanos_cols
