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

    The read plans from the file footers with no Spark job
    (``sources.catalog.read_parquet``) and pins every timestamp column
    to TIMESTAMP: a caller may pass a session with Spark's default
    confs, where untagged micros would infer as TIMESTAMP_NTZ, which
    breaks the strict epoch functions (``unix_micros``) and diverges
    from the DuckDB oracle. A TIMESTAMP(NANOS) column, which harness
    regenerations have shipped, is rebuilt from its int64; the testdata
    has no sub-microsecond components, so that is lossless.
    """
    from sync_cosmos_db_spark.sources import catalog

    return catalog.read_parquet(spark, f"{sf_dir}/{name}.parquet",
                                prefer_timestamp_ntz=False)
