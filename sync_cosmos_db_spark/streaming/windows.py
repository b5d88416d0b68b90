"""Event-time windowing (X7): tumbling / sliding / session windows.

The reference has no streaming at all (SURVEY.md §2.2 A7 — its page
loop with continuation tokens, ``src/migration.py:83-90``, is resumable
batch, not streaming). This module supplies the Structured Streaming
surface the north star mandates, over the harness ``events`` table
(event_id, ts, user_id, event_type, value, props).

Every aggregation exists in TWO forms with identical expressions:

* **batch** — plain DataFrame ops, oracle-checkable against DuckDB
  (``time_bucket`` / generate_series / gaps-and-islands SQL);
* **streaming** — same expressions behind ``readStream`` +
  ``withWatermark``, tested with the availableNow trigger and a memory
  sink (batch parity asserted in tests/test_streaming.py).

Scale: windowed aggs shuffle on (window, keys); the watermark bounds
state. Session windows use Spark's native ``session_window`` (state
merges adjacent sessions); late data beyond the watermark is dropped —
the documented trade for bounded state at 100 TB/day ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import fround, fsum
from sync_cosmos_db_spark.sources import catalog

#: Watermark delay used by the streaming forms — how much event-time
#: lateness we absorb before dropping (state-size vs completeness trade).
DEFAULT_WATERMARK = "10 minutes"


def _win_agg(df: DataFrame, window_col, group_cols: list[str]) -> DataFrame:
    return (
        df.groupBy(window_col.alias("__w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"),
             fsum("value", 2).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("__w.start")).alias("window_start"),
            *group_cols, "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# Batch-mode forms (oracle-checkable)
# ---------------------------------------------------------------------------

def tumbling_counts(events: DataFrame, duration: str = "1 hour",
                    group_cols: list[str] | None = None) -> DataFrame:
    """Tumbling event-time windows: one row per (window, group)."""
    return _win_agg(events, F.window("ts", duration), group_cols or ["event_type"])


def sliding_counts(events: DataFrame, duration: str = "1 hour",
                   slide: str = "30 minutes",
                   group_cols: list[str] | None = None) -> DataFrame:
    """Sliding windows: each event lands in duration/slide windows.
    Spark aligns window origins to the epoch, so the oracle can
    reproduce boundaries with generate_series from any epoch-aligned
    start."""
    return _win_agg(events, F.window("ts", duration, slide),
                    group_cols or ["event_type"])


def session_counts(events: DataFrame, gap: str = "5 minutes",
                   key_col: str = "user_id") -> DataFrame:
    """Session windows per key with the given inactivity gap.

    Output (key, session_start epoch, n_events, sum_value rounded) —
    session *end* is excluded on purpose: Spark defines end as
    last_event + gap, which the plain-SQL oracle reproduces less
    portably than the gaps-and-islands start."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("__w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"),
             fsum("value", 2).alias("sum_value"))
        .select(F.unix_timestamp(F.col("__w.start")).alias("session_start"),
                key_col, "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# Streaming forms (same expressions + watermark)
# ---------------------------------------------------------------------------

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet files under ``sf_dir``.

    ``ts`` is read as its physical int64 (``bigint``) and rebuilt as an
    absolute TIMESTAMP from the unit its footers record: harness
    regenerations have shipped TIMESTAMP(NANOS), untagged
    TIMESTAMP(MICROS) and raw int64 nanos. Every data file
    (``sources.catalog.data_files``) with a readable ``ts`` must agree
    on the unit; mixed units, no readable ``ts``, a ``ts`` that is not a
    timestamp or int64, or a unit other than ns/us/ms raise
    ``ValueError`` rather than mis-decode timestamps by 1000x."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    fs, files = catalog.data_files(sf_dir)
    units: set[str] = set()
    for f in files:
        try:
            t = _pq.read_schema(f, filesystem=fs).field("ts").type
        except (KeyError, OSError, ValueError):  # no ts / not parquet
            continue
        if _pa.types.is_timestamp(t):
            units.add(t.unit)
        elif _pa.types.is_int64(t):
            # raw-int64 fixtures follow the original harness
            # convention (nanos)
            units.add("ns")
        else:
            raise ValueError(
                f"read_events_stream: {f} stores 'ts' as {t}, not a "
                "timestamp or int64")
    if not units:
        raise ValueError(
            f"read_events_stream: no parquet file under {sf_dir} has a "
            "readable 'ts' field")
    if len(units) > 1:
        raise ValueError(
            f"read_events_stream: mixed ts encodings {sorted(units)} "
            f"under {sf_dir} — refusing to guess")
    unit = units.pop()
    if unit not in ("ns", "us", "ms"):
        raise ValueError(
            f"read_events_stream: unsupported ts unit {unit!r}")
    div = {"ns": 1000, "us": 1, "ms": 0}[unit]
    if div == 0:  # millis: multiply instead
        rebuild = F.timestamp_millis(F.col("ts"))
    else:
        rebuild = F.timestamp_micros(F.expr(f"ts div {div}"))
    schema = ("event_id bigint, ts bigint, user_id bigint, "
              "event_type string, value double, props string")
    raw = spark.readStream.schema(schema).parquet(sf_dir)
    return raw.withColumn("ts", rebuild)


def tumbling_counts_stream(events: DataFrame, duration: str = "1 hour",
                           watermark: str = DEFAULT_WATERMARK,
                           group_cols: list[str] | None = None) -> DataFrame:
    """Streaming tumbling windows: watermark bounds state; late rows
    beyond it are dropped."""
    return _win_agg(events.withWatermark("ts", watermark),
                    F.window("ts", duration), group_cols or ["event_type"])


def session_counts_stream(events: DataFrame, gap: str = "5 minutes",
                          watermark: str = DEFAULT_WATERMARK,
                          key_col: str = "user_id") -> DataFrame:
    """Streaming session windows (state merges adjacent sessions as
    events arrive; watermark finalizes sessions)."""
    ev = events.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.session_window("ts", gap).alias("__w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"),
             fsum("value", 2).alias("sum_value"))
        .select(F.unix_timestamp(F.col("__w.start")).alias("session_start"),
                key_col, "n_events", "sum_value")
    )


def dedup_stream(events: DataFrame, keys: list[str] | None = None,
                 watermark: str = DEFAULT_WATERMARK,
                 ts_col: str = "ts") -> DataFrame:
    """Streaming exact deduplication with state BOUNDED by the
    watermark: ``dropDuplicatesWithinWatermark`` keeps one row per key
    and evicts key state once the watermark passes, so state size is
    O(keys per watermark horizon) instead of O(all keys ever) — the
    property plain ``dropDuplicates`` loses on an unbounded stream.
    This is the streaming twin of the batch exact-dedup operator (X1):
    an ingestion pipeline dedupes in-flight with this, then the batch
    pass handles horizon-crossing duplicates."""
    return (events.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(keys or ["event_id"]))


def write_event_time_slices(df: DataFrame, out_dir: str,
                            n_slices: int = 4) -> None:
    """Write ``df`` into ``out_dir`` as exactly ``n_slices`` parquet
    files, slice i holding the i-th ntile of rows under the global
    (ts, event_id) event-time order, with forced strictly-increasing
    mtimes so a ``maxFilesPerTrigger=1`` file stream replays the
    slices in event-time order — the shared setup of the three
    rate-limit stream wrappers.

    The global rank is the two-phase range scan
    (:func:`~sync_cosmos_db_spark.operators.partitioning.range_cumsum`
    — driver state O(buckets), no single-partition window), the slice
    id is the EXACT ntile formula applied to that rank (first
    ``n mod k`` tiles get ``⌈n/k⌉`` rows — bit-identical slice
    membership to ``ntile(k).over(Window.orderBy("ts", "event_id"))``),
    and all slices are written in ONE slice-partitioned job.  Three
    driver actions in total: the quantile probe, the bucket totals
    (which also yield the row count n the ntile formula needs) and the
    write.  No ``spread()``: the per-bucket window shuffle
    redistributes anyway and the input is persisted.

    The written files carry ``df``'s columns only (the slice id is a
    directory key, stripped on the move to the flat layout the file
    source replays), so the stream-side schema contract is unchanged.
    Raises ``RuntimeError`` if a slice directory holds more than one
    part file.
    """
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from sync_cosmos_db_spark.operators.partitioning import range_cumsum

    # ONE scan for the three passes (persist); bounded by the replay
    # window's input, which this wrapper materializes to disk anyway.
    df = df.persist()
    try:
        # Rank under (ts, event_id): epoch micros is order-isomorphic to
        # the timestamp and numeric (approxQuantile needs a numeric
        # key); 1.7e15 µs sits far inside double's 2^53 exact-integer
        # range, so the range-bucket boundaries are exact.
        idx, totals = range_cumsum(
            df.withColumn("__ord", F.unix_micros(F.col("ts"))),
            ["__ord", "event_id"], {"__gi": F.lit(1)})
        q, rem = divmod(totals["__gi"], n_slices)
        cut = rem * (q + 1)
        r = F.col("__gi")
        if q == 0:
            # fewer rows than slices: ntile gives the first n rows one
            # slice each
            slice_id = r
        else:
            # floor-div via double division + cast: operands are exact
            # integers ≤ 2^53 and quotient values are spaced ≥ 1/(q+1),
            # far above double rounding error, so no tile boundary can
            # flip
            slice_id = (F.when(r <= cut, (r - 1) / (q + 1))
                        .otherwise(rem + (r - cut - 1) / q)
                        .cast("long") + 1)
        (idx.withColumn("__slice", slice_id)
         .select(*df.columns, "__slice")
         # one partition per slice value → exactly one file per slice
         # dir; the write parallelizes across slices in ONE job
         .repartition(n_slices, "__slice")
         .write.partitionBy("__slice").mode("append").parquet(out_dir))
    finally:
        df.unpersist()
    # flatten slice=i/part-*.parquet → slice_i.parquet with forced
    # mtimes 1e9 + i·1000 (strictly increasing, far below any real
    # 2020s mtime)
    for i in range(1, n_slices + 1):
        part_dir = _os.path.join(out_dir, f"__slice={i}")
        files = sorted(_glob.glob(_os.path.join(part_dir, "*.parquet")))
        if not files:  # n < n_slices: trailing slices are empty
            if _os.path.isdir(part_dir):
                _shutil.rmtree(part_dir)
            continue
        if len(files) != 1:
            raise RuntimeError(
                f"write_event_time_slices: slice {i} produced "
                f"{len(files)} files, expected 1 (repartition by slice "
                f"guarantees one)")
        dst = _os.path.join(out_dir, f"slice_{i}.parquet")
        _os.rename(files[0], dst)
        _shutil.rmtree(part_dir)
        st = _os.stat(dst)
        _os.utime(dst, (st.st_atime, 1_000_000_000 + i * 1000))


def run_stream_to_memory(spark: SparkSession, streaming_df: DataFrame,
                         table_name: str, mode: str = "complete"):
    """Execute a streaming query with the availableNow trigger into a
    memory sink and block until done — the test harness for batch-parity
    assertions."""
    q = (streaming_df.writeStream.format("memory")
         .queryName(table_name)
         .outputMode(mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(table_name)


def run_foreach_batch(stream: DataFrame, batch_fn,
                      checkpoint_dir: str) -> None:
    """Run ``batch_fn(batch_df, batch_id)`` over every micro-batch the
    source holds now (availableNow trigger) and block until done.
    ``checkpoint_dir`` records the consumed input, so a rerun with it
    processes only what arrived since."""
    q = (stream.writeStream.foreachBatch(batch_fn)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def interval_join_stream(left: DataFrame, right: DataFrame,
                         key: str,
                         left_ts: str, right_ts: str,
                         lookback: str = "1 hour",
                         watermark: str = DEFAULT_WATERMARK,
                         how: str = "inner") -> DataFrame:
    """Stream-stream interval join: each left row matches right rows
    with the same ``key`` whose timestamp lies in
    ``[left_ts - lookback, left_ts]`` — the attribution shape (join a
    purchase to the clicks that preceded it).

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, which is exactly what lets Spark evict
    join state: a right row's state can be dropped once the left
    watermark passes ``right_ts + lookback``, so state is
    O(rows per lookback+watermark horizon), not O(stream). Without the
    time bound this would be a correct but unboundedly-stateful join —
    the difference between a pipeline that runs for a day and one that
    runs for a year. Column names must already be disjoint (rename
    before calling); the same expressions run in batch for the oracle
    twin.

    ``how='left_outer'`` additionally emits unmatched left rows (right
    columns NULL) — but only once the watermark proves no match can
    still arrive, so outer results near the stream's end may be
    withheld when the query stops.  Callers needing exact batch parity
    restrict assertions to rows older than the final watermark horizon
    (see ``stream_interval_left_outer`` in queries_r4.py)."""
    if how not in ("inner", "left_outer"):
        raise ValueError(
            f"interval_join_stream: how must be 'inner' or 'left_outer',"
            f" got {how!r}")
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    lk, rk = f"l_{key}", f"r_{key}"
    lw = lw.withColumnRenamed(key, lk)
    rw = rw.withColumnRenamed(key, rk)
    cond = (
        (F.col(lk) == F.col(rk))
        & (F.col(right_ts)
           >= F.col(left_ts) - F.expr(f"INTERVAL {lookback}"))
        & (F.col(right_ts) <= F.col(left_ts))
    )
    return (lw.join(rw, cond, how)
            .withColumnRenamed(lk, key).drop(rk))


def enrich_stream(events: DataFrame, dim: DataFrame,
                  key: str) -> DataFrame:
    """Stream-static dimension enrichment: LEFT-join a (small) static
    dimension onto a stream with an explicit broadcast.

    The static side is planned ONCE and shipped to every executor —
    per-microbatch it is a stateless map-side hash join, so the
    enrichment adds zero streaming state and no shuffle of the stream.
    This is the canonical "attach user/product attributes at ingest"
    shape; for dimensions too big to broadcast, pre-bucket both sides
    on the key instead (see SCALING.md).  Left join keeps stream rows
    whose key is missing from the dimension (attributes null) — an
    enrichment must never drop events."""
    return events.join(F.broadcast(dim), key, "left")


def ohlc_stream(events: DataFrame, duration: str = "1 hour",
                watermark: str = DEFAULT_WATERMARK,
                group_cols: list[str] | None = None,
                ts_col: str = "ts",
                value_col: str = "value") -> DataFrame:
    """Streaming OHLC bars (X106's streaming twin): per (window,
    group), open/high/low/close of ``value_col`` over event-time
    tumbling windows.  Open/close ride MIN/MAX over a (ts, value)
    struct — an ordinary mergeable aggregate, so the streaming state
    per bar is FOUR scalars + two structs regardless of event volume,
    and the watermark bounds how many bars stay open.  This is the
    live market-data shape: bars finalize as the watermark passes
    their window end."""
    tv = F.struct(F.col(ts_col).alias("t"), F.col(value_col).alias("v"))
    return (events.withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, duration),
                     *(group_cols or ["event_type"]))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min(tv).getField("v").alias("open"),
                 F.max(value_col).alias("high"),
                 F.min(value_col).alias("low"),
                 F.max(tv).getField("v").alias("close"))
            .select(F.unix_timestamp(F.col("window.start"))
                    .cast("long").alias("window_start"),
                    *(group_cols or ["event_type"]),
                    "n", "open", "high", "low", "close"))
