"""Partitioning primitives shared across the operator families.

* :func:`spread` / :func:`floor_width` — the floor-only width decision
  that keeps CPU-dense stages over compact inputs off one or two cores.
* :func:`range_cumsum` — the ONE two-phase range scan: global running
  sums (ranks, offsets, cumulative weights) in a total order WITHOUT a
  single-partition window.  Phase 1 range-partitions rows on quantile
  sketch boundaries of the leading order key (the quantile-sketch
  range-partitioning pattern of "Approximation Algorithms for Large
  Scale Data Analysis", PODS 2021); phase 2 runs a per-bucket window
  and adds the broadcast prefix of earlier buckets' totals.  Driver
  state is O(n_buckets); the only shuffle is the per-bucket window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def spread(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the scan
    produced fewer partitions — small compact inputs (one parquet file)
    otherwise run CPU-heavy per-row compute (shingling, 64× MinHash) on
    1-2 cores. The shuffle moves only the compact input rows, negligible
    next to the per-row hash compute it parallelizes. At 100 TB the scan
    already yields ≥ parallelism splits and this is a no-op.

    The decision is made ONLY on the measured split count,
    ``df.rdd.getNumPartitions()`` (a plan→RDD conversion; no job runs
    on a narrow plan).  File count is deliberately NOT consulted: it is
    wrong in both directions — Spark bin-packs many tiny files into 1-2
    FilePartitions (maxPartitionBytes / openCostInBytes), and it SPLITS
    few huge files into thousands (a handful of multi-TB parquet files
    is exactly the 100 TB scan shape), so a "few files ⇒ repartition"
    short-circuit would DOWN-partition the large-scale case to core
    count.  Floor semantics throughout: only a frame measured narrower
    than the target is repartitioned, file-backed or derived alike."""
    target, narrow = floor_width(df)
    if not narrow:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def floor_width(df: DataFrame) -> tuple[int, bool]:
    """The shared floor-semantics width decision:
    ``(max(defaultParallelism, measured splits), measured < default
    parallelism)``.  The first element is the partition count a
    CPU-dense stage over ``df`` (or a pair stream derived from it)
    should be pinned to — floor-only, wide frames keep their own width
    so nothing is ever down-partitioned; the second says whether the
    frame measured NARROW (``spread()`` no-ops when it didn't).  The
    measurement is ONE ``df.rdd.getNumPartitions()`` call — a plan→RDD
    conversion, no job on a narrow plan; see :func:`spread` for why
    file count is deliberately not consulted."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    parts = df.rdd.getNumPartitions()
    return max(dp, parts), parts < dp


def flat_bucket(value: Column, bnds: list) -> Column:
    """Number of ``bnds`` entries strictly below ``value``, as an
    array-literal ``filter()`` HOF.  ``bnds`` must be sorted ascending
    and duplicate-free.

    Why this form and not a CASE WHEN ladder (measured): a flat
    63-branch CaseWhen IS codegen-capable and linear to analyze, but
    it still costs ~0.3–0.4 s of serial driver-side analysis/codegen
    wall per invocation (pack_sequences_64 1.33→1.76 s, quantile
    normalize 1.51→1.80 s warm), while the HOF's interpreted per-row ×
    per-boundary cost lives on the EXECUTORS and parallelizes: the
    heaviest consumer (zone-map, 600k rows × 63 boundaries) profiles
    ~4 s CPU per tagging pass ≈ 0.13 s wall at 32-way parallelism.
    Nested when/otherwise chains cost ~1 s of driver analysis per
    invocation."""
    if not bnds:
        return F.lit(0)
    return F.size(F.filter(F.array(*[F.lit(b) for b in bnds]),
                           lambda b: value > b))


def range_cumsum(df: DataFrame, order: Sequence[str],
                 sums: dict[str, Column],
                 n_buckets: int = 64) -> tuple[DataFrame, dict]:
    """Inclusive running sums under the global ``orderBy(*order)``.

    For each ``name → expr`` in ``sums`` the result carries ``name`` =
    Σ ``expr`` over every row up to and including this one in
    ``order``; the second return value maps each name to its total over
    all rows (0 on an empty frame).  ``order[0]`` must be numeric (it
    feeds ``approxQuantile``); buckets compare ``order[0]`` alone, so
    ties on it share a bucket and bucket order respects the full
    ``order``.  Row rank is ``{name: F.lit(1)}``; an exclusive offset
    is the inclusive sum minus the row's own value; descending order
    is a negated key.  Two driver actions run before it returns: the
    quantile probe and ONE per-bucket totals collect.  Returns the
    input columns plus one column per ``sums`` name.
    """
    bounds = df.approxQuantile(
        order[0], [i / n_buckets for i in range(1, n_buckets)], 0.001)
    bnds = sorted(set(bounds))
    tagged = df.withColumn("__bucket", flat_bucket(F.col(order[0]), bnds))
    per_bucket = {r["__bucket"]: r for r in tagged.groupBy("__bucket")
                  .agg(*[F.sum(e).alias(n) for n, e in sums.items()])
                  .collect()}
    w = (W.partitionBy("__bucket").orderBy(*order)
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    totals, cols = {}, {}
    for name, expr in sums.items():
        # exclusive prefix over the FULL bucket range (an unobserved
        # bucket adds 0), looked up in-row via element_at
        pref, acc = [], 0
        for b in range(len(bnds) + 1):
            pref.append(acc)
            acc += per_bucket[b][name] if b in per_bucket else 0
        totals[name] = acc
        cols[name] = (F.element_at(F.array(*[F.lit(v) for v in pref]),
                                   F.col("__bucket") + 1)
                      + F.sum(expr).over(w))
    return tagged.withColumns(cols).drop("__bucket"), totals
