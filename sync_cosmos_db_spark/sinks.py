"""Sinks: per-action writes, parquet merge, summary JSON (O13, O14, O24).

The reference writes one document per network call (``create_item`` at
``src/migration.py:141-146``, ``replace_item`` at ``:132-138``) and one
summary file per run (``src/main.py:154-160``). Here writes are bulk
DataFrame writes; in production the same action-tagged frame goes to the
Cosmos connector (``sources/cosmos.py``) with ``ItemAppend`` for inserts
and ``ItemOverwrite`` for updates.

The parquet "merge" writes the new target state that
``migration.merge_target_state`` builds — the tagged source rows plus the
target rows whose key the source lacks, found with one left anti join on
the merge key — then swaps it in for the old directory. At 100 TB the
production path is the connector upsert (or Delta ``MERGE INTO``), which
touches only the source's documents; full rewrite is the plain-parquet
fallback.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sync_cosmos_db_spark.migration import (
    ACTION_INSERT,
    ACTION_UPDATE,
    MigrationResult,
)
from sync_cosmos_db_spark.sources import catalog


def write_actions_parquet(tagged: DataFrame, path: str) -> None:
    """O13/O14 harness sink: persist insert/update rows partitioned by
    action (skips carry no work). Partitioning by the 2-value action
    column keeps each action's files contiguous for audit reads."""
    (tagged.filter(F.col("action").isin(ACTION_INSERT, ACTION_UPDATE))
     .write.partitionBy("action").mode("overwrite").parquet(path))


def recover_swap(path: str) -> None:
    """Repair what an interrupted :func:`merge_to_parquet` of ``path``
    left.

    A run that died between the two renames left only
    ``<path>.__old__``: it is the last complete version, so it is
    renamed back. A ``__old__`` beside an existing ``path`` is the
    already-replaced version and is deleted. A ``__new__`` is always
    partial or unswapped output and is deleted. Call this before
    reading ``path``."""
    old, tmp = path + ".__old__", path + ".__new__"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)


def merge_to_parquet(new_state: DataFrame, target_path: str) -> None:
    """Replace the parquet directory ``target_path`` with ``new_state``
    (for a migration, ``migration.merge_target_state``'s output).
    ``new_state`` is written beside the target first and swapped in
    with two renames, because its plan may still be reading the files
    it replaces."""
    old, tmp = target_path + ".__old__", target_path + ".__new__"
    recover_swap(target_path)
    new_state.write.mode("overwrite").parquet(tmp)
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    if os.path.exists(old):
        shutil.rmtree(old)


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    """Layout-aware write: hive-style directory partitioning on the
    given columns so downstream scans partition-prune (e.g., per-lang or
    per-day curation reads touch only their directories). Choose
    low-cardinality columns — 100 TB over a high-cardinality partition
    column makes millions of tiny files, the opposite failure."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def compact_parquet(spark, path: str, target_file_mb: int = 256) -> int:
    """Compact a parquet directory to ~target-sized files; returns the
    file count written. Small-file proliferation (per-action appends,
    streaming micro-batches) degrades scan planning at scale — periodic
    compaction is standard lake hygiene. Uses bytes-on-disk to pick the
    output file count, then one coalesce write (no shuffle), swapped in
    like a migration merge."""
    import glob

    recover_swap(path)
    n_bytes = sum(os.path.getsize(f)
                  for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                     recursive=True))
    n_files = max(1, round(n_bytes / (target_file_mb * 1024 * 1024)))
    merge_to_parquet(catalog.read_parquet(spark, path).coalesce(n_files),
                     path)
    return n_files


def write_summary(results: dict, path: str) -> None:
    """O24 — persist the nested per-db/per-container summary, mirroring
    ``migration_summary.json`` (``src/main.py:155-160``)."""
    def _clean(x):
        if isinstance(x, MigrationResult):
            return x.to_dict()
        if isinstance(x, dict):
            return {k: _clean(v) for k, v in x.items()}
        if isinstance(x, list):
            return [_clean(v) for v in x]
        return x

    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(_clean(results), f, indent=2)


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   num_files: int = 8, bits: int = 16) -> None:
    """X78 — Z-order-clustered parquet layout: rows sorted by the
    Morton interleave of two numeric columns' bit-scaled ranks, so
    parquet row-group/file min-max statistics stay NARROW on *both*
    dimensions and a predicate on either column prunes files (the
    standard lakehouse data-layout optimization — Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` — re-expressed with vanilla Spark).

    Mechanics: each column is affinely scaled to a ``bits``-bit integer
    rank using its global min/max (ONE aggregate; two scalars of driver
    state), the two ranks are bit-interleaved into a z-value with plain
    JVM bitwise expressions, and the frame is range-partitioned and
    sorted by that z-value — one shuffle, ``num_files`` output files.
    At 100 TB the same plan holds: the min/max pre-pass is a
    footer-only scan and the range partitioner samples boundaries
    without collecting data."""
    if len(cols) != 2:
        raise ValueError("write_zordered: exactly two z-order columns")
    a, b = cols
    lohi = df.agg(F.min(F.col(a).cast("double")).alias("alo"),
                  F.max(F.col(a).cast("double")).alias("ahi"),
                  F.min(F.col(b).cast("double")).alias("blo"),
                  F.max(F.col(b).cast("double")).alias("bhi")).first()
    top = (1 << bits) - 1

    def rank(c: str, lo: float, hi: float):
        if hi <= lo:
            return F.lit(0)
        return F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(lo))
                    / F.lit(hi - lo) * F.lit(top + 1)).cast("long"))

    ra, rb = rank(a, lohi.alo, lohi.ahi), rank(b, lohi.blo, lohi.bhi)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (z
             .bitwiseOR(F.shiftleft(F.shiftright(ra, i).bitwiseAND(F.lit(1)),
                                    2 * i))
             .bitwiseOR(F.shiftleft(F.shiftright(rb, i).bitwiseAND(F.lit(1)),
                                    2 * i + 1)))
    (df.withColumn("__z", z)
     .repartitionByRange(num_files, F.col("__z"))
     .sortWithinPartitions("__z")
     .drop("__z")
     .write.mode("overwrite").parquet(path))


def zone_map_skip_audit(df, sort_col: str, probe_col: str,
                        arrival_col: str,
                        predicates: list[tuple[float, float]],
                        rows_per_group: int = 1000,
                        round_digits: int = 4):
    """X229 — zone-map (min/max row-group statistics) skip-rate
    audit: lay the table out in ``sort_col`` order vs ARRIVAL order
    (``arrival_col``, a monotone ingestion key), cut it into
    ``rows_per_group``-row groups, record each group's min/max of
    ``probe_col``, and report what fraction of groups a range
    predicate could skip under each layout — the number that
    justifies (or refutes) a sort/Z-order job before anyone pays
    for the rewrite (X78 writes the layout; this prices it).

    Scale shape: the group id comes from the X11 two-phase rank
    (``curation.global_sort_index``) under each layout — no
    single-partition window — then one group-keyed min/max
    aggregate and a |groups|-row predicate evaluation per probe.
    Returns ``(layout, probe_lo, probe_hi, n_groups, n_skipped,
    skip_rate)``.
    """
    from sync_cosmos_db_spark.operators.curation import (
        global_sort_index,
    )

    outs = []
    p = 10 ** round_digits
    for layout, value_col, tb_col in (
            ("sorted", sort_col, arrival_col),
            ("arrival", arrival_col, sort_col)):
        idx = global_sort_index(df, value_col, tb_col,
                                out_col="__gi")
        groups = (idx.withColumn(
            "__grp", F.expr(f"(__gi - 1) div {int(rows_per_group)}"))
            .groupBy("__grp")
            .agg(F.min(probe_col).alias("__lo"),
                 F.max(probe_col).alias("__hi")))
        # ONE aggregate evaluates every predicate (r18, guide §2.4):
        # the previous per-predicate `groups.agg(...)` union branches
        # each re-derived the whole two-phase rank + group min/max
        # subtree, so the consumer job recomputed the heavy scan
        # len(predicates) times per layout.  The per-predicate sums
        # are the SAME exact integer aggregates over the same group
        # rows, built side by side in one pass; the explode re-shapes
        # the single aggregate row into the identical one-row-per-
        # (layout, predicate) output.
        aggs = [F.count("*").cast("long").alias("__n")]
        for j, (lo, hi) in enumerate(predicates):
            skip = (F.col("__hi") < lo) | (F.col("__lo") > hi)
            aggs.append(F.sum(skip.cast("long")).cast("long")
                        .alias(f"__s{j}"))
        rows = [
            F.struct(
                F.lit(layout).alias("layout"),
                F.lit(float(lo)).alias("probe_lo"),
                F.lit(float(hi)).alias("probe_hi"),
                F.col("__n").alias("n_groups"),
                F.col(f"__s{j}").alias("n_skipped"),
                (F.floor(F.col(f"__s{j}") / F.col("__n")
                         * p + F.lit(0.5)) / p).alias("skip_rate"))
            for j, (lo, hi) in enumerate(predicates)]
        outs.append(groups.agg(*aggs)
                    .select(F.explode(F.array(*rows)).alias("__r"))
                    .select("__r.*"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
